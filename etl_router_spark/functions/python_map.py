"""Handing a frame to Python through ``mapInPandas`` under any column names.

PySpark's ``mapInPandas`` re-resolves every input column with ``F.col``,
which rejects a name holding a backtick (``INVALID_ATTRIBUTE_NAME_SYNTAX``)
and reads a dot as a nested path. ``toDF`` renames by attribute, so
``map_in_pandas`` gives the call positional names and restores the real
ones afterwards; the Python function still sees the real names.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType


def map_in_pandas(
    df: DataFrame,
    fn: Callable[[Iterator], Iterator],
    schema: StructType,
) -> DataFrame:
    """``df.mapInPandas(fn, schema)`` for any column names: ``fn`` reads
    and yields pandas frames under ``df``'s and ``schema``'s own names."""
    names_in, names_out = df.columns, schema.fieldNames()
    pos_in = [f"_{i}" for i in range(len(names_in))]
    pos_out = [f"_{i}" for i in range(len(names_out))]

    def positional(batches):
        for pdf in fn(b.set_axis(names_in, axis=1) for b in batches):
            yield pdf[names_out].set_axis(pos_out, axis=1)

    pos_schema = StructType([StructField(p, f.dataType, f.nullable, f.metadata)
                             for p, f in zip(pos_out, schema.fields)])
    return df.toDF(*pos_in).mapInPandas(positional, pos_schema).toDF(*names_out)
