"""SQL-text helpers: the one place identifiers and literals are quoted.

The operator library builds expressions as Spark SQL text; every
user-supplied name or value enters that text through one of these, so a
column called ``body text`` or a sentinel like ``it's`` works as itself
or fails loudly, never changing the parsed expression.
"""

from __future__ import annotations

import re

# one part of an F.col-style name: `quoted` (`` escapes a backtick) or bare
_PART = r"`(?:[^`]|``)*`|[^.`]+"
_NAME = re.compile(rf"(?:{_PART})(?:\.(?:{_PART}))*")


def sql_ident(name: str, alias: bool = False) -> str:
    """``name`` as the column ``F.col(name)`` resolves to: each
    dot-separated part backticked, an already backticked part kept; a
    name ``F.col`` rejects raises ``ValueError``. ``alias=True`` quotes
    an output name whole, the way ``withColumn`` takes it."""
    if alias:
        return "`" + name.replace("`", "``") + "`"
    if not _NAME.fullmatch(name):
        raise ValueError(f"invalid column name {name!r}: backticks must quote "
                         "whole dot-separated parts (write a`b as `a``b`)")
    return ".".join(p if p[0] == "`" else f"`{p}`" for p in re.findall(_PART, name))


def sql_str(s: str) -> str:
    """A string literal that reads back as ``s``, whatever it holds."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_double(x: float) -> str:
    """A DOUBLE literal; ``repr`` keeps every bit, so the DuckDB oracles
    read the same value."""
    return f"{float(x)!r}D"
