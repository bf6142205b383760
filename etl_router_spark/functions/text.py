"""Text analysis operators for training-data pipelines.

Everything here is built-in expressions (JVM-side, codegen'd) — no
Python UDFs in the hot path. Each operator is deterministic and has an
exact ANSI-SQL oracle (see ``__spark_entry__.oracle_sql``).

The operator library builds the ``h60`` hash, whitespace tokens and
word shingles one way: SQL text from the ``*_sql`` builders below,
parsed by ``F.expr``/``selectExpr``, with names and strings quoted by
``functions.sqltext`` (``sql_ident``, ``sql_str``).
"""

from __future__ import annotations

from typing import Literal, get_args

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

from etl_router_spark.functions.python_map import map_in_pandas
from etl_router_spark.functions.sqltext import sql_double, sql_ident, sql_str

# keep only the passing rows, or tag every row
DropOrTag = Literal["drop", "tag"]


# The 60-bit deterministic hash shared with the DuckDB oracle:
# Spark: conv(substr(md5(s),1,15),16,10)::bigint
# DuckDB: CAST('0x' || substr(md5(s),1,15) AS BIGINT)
def h60_sql(expr: str) -> str:
    """Deterministic 60-bit hash of the string expression ``expr``
    (engine-portable)."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def tokens_sql(text_expr: str) -> str:
    """Whitespace tokens of the string expression ``text_expr``."""
    return f"split(trim({text_expr}), '\\\\s+')"


def shingles_sql(toks_expr: str, n: int, sep: str = " ") -> str:
    """Word ``n``-gram shingles (joined by ``sep``) over an
    already-tokenized array expression; empty when there are fewer than
    ``n`` tokens. Building the hot dedup pipelines from parsed SQL text
    costs ONE py4j round trip instead of dozens of Column-composition
    calls (~0.3-0.5 s of driver time per plan build, measured at
    sf0.1)."""
    return (
        f"CASE WHEN size({toks_expr}) >= {n} THEN "
        f"transform(sequence(0, size({toks_expr}) - {n}), "
        f"i -> concat_ws({sql_str(sep)}, slice({toks_expr}, i + 1, {n}))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def bound_shingles_sql(text_expr: str, n: int, sep: str = " ") -> str:
    """:func:`shingles_sql` over RAW TEXT with the token array
    lambda-BOUND (r15): composing ``shingles_sql(tokens_sql(text))``
    directly embeds the split expression inside the per-index lambda,
    and interpreted higher-order lambdas re-evaluate it once per GRAM
    position — O(len^2) re-tokenize per row. The single-element outer
    transform binds the tokens once per row; `[0]` cannot be folded
    through the transform, so the binding survives optimization."""
    return (
        f"transform(array({tokens_sql(text_expr)}), "
        f"__tk -> {shingles_sql('__tk', n, sep)})[0]"
    )


WORD_SPLIT_PATTERN = r"\s+"

# tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Real deployments would swap in fastText/CLD3 behind the same column
# contract; the heuristic keeps language-id fully SQL-expressible.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "y", "es"),
    "fr": ("le", "la", "et", "est", "les"),
}


def _isin_pred(markers: tuple[str, ...]):
    # single-arg closure: PySpark passes (element, index) to two-arg
    # lambdas, so a `m=markers` default would capture the index Column
    def pred(t: Column) -> Column:
        return t.isin(*markers)

    return pred


# BPE-ish pre-tokenization: letter runs, digit runs, or single
# non-alphanumeric symbols — the simplified (ASCII, lookahead-free)
# form of the GPT-2 split pattern, chosen to evaluate identically
# under Java regex and RE2 so token counts are engine-portable.
BPE_SPLIT_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokenize(df: DataFrame, text_col: str = "text", out_col: str = "tokens") -> DataFrame:
    """Whitespace tokenization + token counts.

    ``n_bpe_tokens`` counts BPE-style pre-tokens via
    ``BPE_SPLIT_PATTERN`` (a real subword proxy: merges only shrink it);
    ``n_subwords_est`` keeps the ceil(chars/4) LLM rule of thumb."""
    toks = F.expr(tokens_sql(sql_ident(text_col)))
    return (
        df.withColumn(out_col, toks)
        .withColumn("n_tokens", F.size(toks))
        .withColumn(
            "n_bpe_tokens",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_PATTERN), 0)).cast("bigint"),
        )
        .withColumn("n_subwords_est", F.ceil(F.length(F.col(text_col)) / F.lit(4)).cast("bigint"))
    )


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features: lengths, word stats, punct/stopword/
    uniqueness ratios. One projection, no shuffle."""
    text = F.col(text_col)
    toks = F.expr(tokens_sql(sql_ident(text_col)))
    n_words = F.size(toks)
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    stop_hits = F.size(F.filter(toks, _isin_pred(LANG_MARKERS["en"])))
    uniq = F.size(F.array_distinct(toks))
    return (
        df.withColumn("n_chars_calc", n_chars.cast("bigint"))
        .withColumn("n_words", n_words.cast("bigint"))
        .withColumn("avg_word_len", (n_chars - n_words + 1) / n_words)
        .withColumn("punct_ratio", n_punct / n_chars)
        .withColumn("stopword_ratio", stop_hits / n_words)
        .withColumn("uniq_word_ratio", uniq / n_words)
    )


def quality_score(df: DataFrame, text_col: str = "text", out_col: str = "quality") -> DataFrame:
    """Composite 0-1 quality heuristic over the text_stats features."""
    stats = text_stats(df, text_col)
    score = (
        F.least(F.col("n_words") / F.lit(50.0), F.lit(1.0)) * 0.4
        + F.col("uniq_word_ratio") * 0.4
        + F.greatest(F.lit(0.0), F.lit(1.0) - F.col("punct_ratio") * 5) * 0.2
    )
    return stats.withColumn(out_col, F.round(score, 6))


def language_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Marker-word language heuristic: score = count of language marker
    tokens; argmax with deterministic alphabetical tie-break."""
    toks = F.expr(tokens_sql(sql_ident(text_col)))
    scores = [
        F.size(F.filter(toks, _isin_pred(markers))).alias(f"score_{lang}")
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    scored = df.select("*", *scores)
    # argmax over a fixed language order (alphabetical => deterministic)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.coalesce(
        *[F.when(F.col(f"score_{l}") == best, F.lit(l)) for l in langs]
    )
    out = scored.withColumn(out_col, F.when(best > 0, pred).otherwise(F.lit("und")))
    return out.drop(*[f"score_{l}" for l in langs])


def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set — canonical form for exact-dup detection robust to token
    order."""
    toks = F.expr(tokens_sql(sql_ident(text_col)))
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))
    return df.withColumn(out_col, F.md5(canon))


ROLLING_FP_MOD = 1_000_000_007
ROLLING_FP_BASE = 131


def rolling_fingerprint(df: DataFrame, text_col: str = "text",
                        out_col: str = "rolling_fp") -> DataFrame:
    """Order-SENSITIVE document fingerprint: polynomial rolling hash
    (Rabin-Karp style) folded over the per-token h60 values, mod
    1e9+7. Complements ``fingerprint`` (order-insensitive set digest):
    two docs with the same words in different order collide there but
    not here. Pure column expression — the fold runs JVM-side; the
    modulus keeps every intermediate < 2^38 so ANSI-mode bigint
    arithmetic can't overflow."""
    expr = (
        f"aggregate(transform({tokens_sql(sql_ident(text_col))}, "
        f"t -> {h60_sql('t')} % {ROLLING_FP_MOD}L), "
        f"0L, (acc, x) -> (acc * {ROLLING_FP_BASE}L + x) % {ROLLING_FP_MOD}L)"
    )
    return df.withColumn(out_col, F.expr(expr))


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-document repetition signals (Gopher-style quality rules).

    - ``dup_2gram_frac`` / ``dup_3gram_frac``: fraction of word n-grams
      that are repeats of an earlier occurrence (1 - distinct/total).
    - ``top_token_frac``: share of the document taken by its single
      most frequent token.

    Documents with heavy boilerplate or looping generations score high
    and get filtered before training. Everything is per-row array math
    — no shuffle, no UDF; cost is O(tokens^2) per doc for the top-token
    scan, bounded by document length, embarrassingly parallel at any
    corpus size.
    """
    t = sql_ident(text_col)
    toks = F.expr(tokens_sql(t))

    def dup_frac(arr: Column) -> Column:
        n = F.size(arr)
        return F.when(
            n > 0, F.round(1.0 - F.size(F.array_distinct(arr)) / n, 6)
        ).otherwise(F.lit(0.0))

    # tokens bound once per row (r15, the bound_shingles_sql trap): with the
    # split EXPRESSION captured in the lambda, the interpreter re-ran
    # the tokenize once per DISTINCT TOKEN — measured ×4 on this
    # column at sf0.1 (values identical)
    top_cnt = F.transform(F.array(toks), lambda ts: F.array_max(
        F.transform(F.array_distinct(ts),
                    lambda d: F.size(F.filter(ts, lambda t: t == d)))
    ))[0]
    # blank text splits to [''] (size 1) — treat as zero tokens
    n_toks = F.when(F.trim(F.col(text_col)) != "", F.size(toks)).otherwise(F.lit(0))
    return (
        df.withColumn("dup_2gram_frac", dup_frac(F.expr(bound_shingles_sql(t, 2))))
        .withColumn("dup_3gram_frac", dup_frac(F.expr(bound_shingles_sql(t, 3))))
        .withColumn(
            "top_token_frac",
            F.when(n_toks > 0, F.round(top_cnt / n_toks, 6)).otherwise(F.lit(0.0)),
        )
    )


# PII patterns constrained to the syntax subset that evaluates
# identically under Java regex (Spark) and RE2 (DuckDB, Go): no
# backreferences, no lookaround. Replacement order matters: emails
# before IPs before phones, so an IP inside a hostname-free string is
# never half-eaten by the phone rule.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d \-]{7,}\d", "<PHONE>"),
)


def pii_redact(df: DataFrame, text_col: str = "text", out_col: str = "clean_text") -> DataFrame:
    """Mask emails / IPv4s / phone-shaped digit runs, with per-kind
    match counts (``n_email``, ``n_ip``, ``n_phone``) taken from the
    ORIGINAL text. Pure regexp_replace/extract_all column chain."""
    out = df
    for kind, pat, _ in PII_PATTERNS:
        out = out.withColumn(
            f"n_{kind}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0)).cast("bigint"),
        )
    clean = F.col(text_col)
    for _, pat, repl in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    return out.withColumn(out_col, clean)


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lm_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document average unigram log-probability — the classic
    cheap LM quality signal (documents scoring far below the corpus
    average are boilerplate/garbled; far above are repetitive).

    The unigram model is estimated from ``lm_df`` (defaults to ``df``
    itself): p(tok) = count(tok) / total tokens. Per doc we emit token
    count and mean over tokens of ln p(tok), rounded to 6 digits.

    Scale shape: term frequencies are one groupBy of 8-byte-hashable
    tokens with map-side partials; the total rides along as a broadcast
    scalar; the scoring join shuffles (doc_id, token) pairs against the
    frequency table — AQE broadcasts the vocab when it fits (natural
    vocabularies are ~1e6 rows), shuffle-joins when it doesn't. No
    driver-side vocab collection anywhere.
    """
    lm_src = lm_df if lm_df is not None else df
    toks = tokens_sql(sql_ident(text_col))
    lm_toks = lm_src.selectExpr(f"explode({toks}) AS tok")
    freqs = lm_toks.groupBy("tok").agg(F.count("*").alias("c"))
    # total tokens = Σc over the count table (r15): derived from freqs
    # — not a second tokenize+explode pass over the corpus — and the
    # aggregate below the exchange is byte-identical to freqs' own, so
    # runtime ReusedExchange shares ONE execution of the token
    # pipeline between the model and its normalizer. coalesce keeps
    # the empty-corpus total at 0 like the old count(*).
    total = freqs.select(
        F.coalesce(F.sum("c"), F.lit(0)).alias("__total"))
    lm = freqs.crossJoin(F.broadcast(total)).selectExpr(
        "tok", "ln(CAST(c AS DOUBLE) / CAST(__total AS DOUBLE)) AS logp"
    )
    doc_toks = df.selectExpr(sql_ident(id_col), f"explode({toks}) AS tok")
    scores = (
        doc_toks.join(lm, "tok", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("logp"), 6).alias("avg_logprob"),
        )
    )
    # pass the input columns through (id-keyed join, co-partitioned
    # with the score aggregation) so the stage composes in manifest
    # chains — downstream bucketing/filtering needs the domain columns
    return df.join(scores, id_col)


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lm_df: DataFrame | None = None,
    lam: float = 0.7,
    add_k: float = 0.5,
) -> DataFrame:
    """Per-document average INTERPOLATED-BIGRAM log-probability — the
    stronger LM quality signal behind CCNet-style perplexity filtering
    (CCNet, Wenzek et al. 2020 scores with a 5-gram KenLM; an
    interpolated bigram is the first rung of that ladder and already
    separates fluent prose from shuffled/garbled text, which unigram
    statistics cannot: unigrams are permutation-invariant).

    Per token position i >= 2 (under the model estimated from ``lm_df``,
    default ``df`` itself):

        p(w_i | w_{i-1}) = lam * c(w_{i-1} w_i) / c(w_{i-1})
                         + (1 - lam) * (c(w_i) + add_k) / (T + add_k*(V+1))

    — ML bigram interpolated with an add-k unigram (Jelinek-Mercer;
    the unigram floor keeps unseen pairs finite, add_k keeps unseen
    WORDS finite when scoring a different corpus than the LM's).
    Output adds ``n_bigrams``, ``avg_bigram_logprob`` (mean ln p,
    6 dp) and ``bigram_ppl`` (exp of the negative mean, 3 dp);
    single-token docs score NULL. Input columns pass through like
    :func:`unigram_logprob`.

    Scale shape — same posture as :func:`unigram_logprob`, one rung up:
    unigram counts are one token groupBy, bigram counts one pair
    groupBy (both map-side combinable; the pair table is the corpus's
    DISTINCT adjacent pairs, not its length); scoring explodes each
    doc's adjacent pairs once and left-joins the two count tables —
    AQE broadcasts them when they fit, shuffle-joins when they don't,
    and nothing ever collects to the driver. The final per-doc mean is
    one id-keyed groupBy with partial aggregation.
    """
    lm_src = lm_df if lm_df is not None else df
    toks, id_sql = tokens_sql(sql_ident(text_col)), sql_ident(id_col)
    # token array lambda-bound (r15): the unbound form evaluated the
    # split expression ~5x per row (zip_with args + the size() refs)
    pair_sql = (
        f"transform(array({toks}), __tk -> "
        "CASE WHEN size(__tk) >= 2 THEN "
        "zip_with(slice(__tk, 1, size(__tk) - 1), "
        "slice(__tk, 2, size(__tk) - 1), "
        "(a, b) -> named_struct('prev', a, 'cur', b)) "
        "ELSE array() END)[0]"
    )
    lm_toks = lm_src.selectExpr(f"explode({toks}) AS tok")
    uni = lm_toks.groupBy("tok").agg(F.count("*").alias("c"))
    # T = Σc, V = |vocab| — read off the unigram count table (r15)
    # instead of a third tokenize+explode+count_distinct corpus pass;
    # the aggregate under the exchange is byte-identical to uni's, so
    # runtime ReusedExchange shares one token pipeline execution
    stats = uni.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("__t"),
        F.count("*").alias("__v"),
    )
    bi = (
        lm_src.selectExpr(f"explode({pair_sql}) AS p")
        .selectExpr("p.prev AS prev", "p.cur AS cur")
        .groupBy("prev", "cur")
        .agg(F.count("*").alias("cb"))
    )
    doc_pairs = df.selectExpr(id_sql, f"explode({pair_sql}) AS p").selectExpr(
        id_sql, "p.prev AS prev", "p.cur AS cur"
    )
    k, l = sql_double(add_k), sql_double(lam)
    scored = (
        doc_pairs.join(bi, ["prev", "cur"], "left")
        .join(uni.selectExpr("tok AS prev", "c AS c_prev"), "prev", "left")
        .join(uni.selectExpr("tok AS cur", "c AS c_cur"), "cur", "left")
        .crossJoin(F.broadcast(stats))
        .selectExpr(
            id_sql,
            # ln(lam * p_bigram + (1-lam) * p_addk_unigram)
            f"ln({l} * (CAST(coalesce(cb, 0) AS DOUBLE) /"
            " CAST(coalesce(c_prev, 1) AS DOUBLE))"
            f" + (1.0 - {l}) * ((CAST(coalesce(c_cur, 0) AS DOUBLE) + {k}) /"
            f" (CAST(__t AS DOUBLE) + {k} * (CAST(__v AS DOUBLE) + 1.0)))) AS lp",
        )
    )
    scores = scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_bigram_logprob"),
        F.round(F.exp(-F.avg("lp")), 3).alias("bigram_ppl"),
    )
    return df.join(scores, id_col, "left")


def ngram_counts(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: int = 100,
) -> DataFrame:
    """Top-k corpus n-grams by occurrence count (LM-style counts: every
    occurrence counts, not document frequency) with a deterministic
    (count DESC, ngram ASC) order.

    One explode + one map-side-combinable groupBy; the top-k is a
    TakeOrdered heap (k rows to the driver, no global sort). The
    shuffle carries (ngram, partial count) — at web scale swap the
    ngram string for its h60 hash + a second tiny join to recover the
    text of the k survivors.
    """
    from etl_router_spark.io import spread_small_scan

    sh = (
        spread_small_scan(df)
        .selectExpr(f"{tokens_sql(sql_ident(text_col))} AS __toks")
        .selectExpr(f"explode({shingles_sql('__toks', n)}) AS ngram")
    )
    return (
        sh.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("ngram"))
        .limit(k)
    )


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "char_entropy",
) -> DataFrame:
    """Per-document Shannon entropy (bits) of the character
    distribution — a cheap quality signal (gibberish/binary spew has
    abnormally high or low entropy vs natural language's ~4 bits).

    Pure column expressions, zero shuffle, whole-stage codegen: the
    char array and its distinct set stay inside one projection;
    per-doc cost is O(distinct_chars * len), bounded by charset size.

    The inline repetition of ``chars`` inside the per-distinct-char
    lambda is DELIBERATE (measured, SCALE.md round-14): hoisting the
    char array into its own projected column re-tested SLOWER-or-equal
    (1.57 s inlined vs 2.62 s hoisted on 32-way 3 KB docs) — writing a
    thousands-element single-char string array into the unsafe row
    costs more than re-splitting; the Bloom-probe hoist won because an
    md5 is expensive and its result is 32 bytes, the opposite shape.
    """
    t = sql_ident(text_col)
    chars = f"filter(split({t}, ''), c -> c <> '')"
    expr = (
        f"CASE WHEN length({t}) = 0 THEN 0.0D ELSE "
        f"-aggregate(transform(array_distinct({chars}), "
        f"c -> (size(filter({chars}, x -> x = c)) / CAST(length({t}) AS DOUBLE))), "
        f"0.0D, (acc, p) -> acc + p * log2(p)) END"
    )
    return df.selectExpr("*", f"round({expr}, 6) AS {sql_ident(out_col, alias=True)}")


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_norm",
    lowercase: bool = True,
    strip_non_alnum: bool = False,
    collapse_whitespace: bool = True,
) -> DataFrame:
    """Canonical text normalization (the pass run before hashing /
    dedup / tokenization so near-identical bytes compare equal):
    lowercase -> optionally replace every non-[a-z0-9 ] rune with a
    space -> collapse whitespace runs and trim.

    Pure column expressions, no shuffle. The regexes stay inside the
    ASCII classes both Spark (Java regex) and DuckDB (RE2) interpret
    identically, so the oracle is engine-exact; real deployments can
    widen the classes per their regex engine.
    """
    c: Column = F.col(text_col)
    if lowercase:
        c = F.lower(c)
    if strip_non_alnum:
        c = F.regexp_replace(c, r"[^a-z0-9 \t\n\r]" if lowercase else r"[^A-Za-z0-9 \t\n\r]", " ")
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(out_col, c)


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
    mode: DropOrTag = "tag",
) -> DataFrame:
    """The published Gopher document-quality rules (Rae et al. 2021,
    "Scaling Language Models", Appendix A) as one shuffle-free
    projection — the standard pre-training quality gate:

    1. word count in [min_words, max_words]
    2. mean word length in [3, 10]
    3. hash or ellipsis symbol-to-word ratio <= 0.1
    4. < 90% of lines bullet-started AND < 30% ellipsis-ended
    5. >= 80% of words contain an alphabetic character
    6. >= 2 distinct members of the 8-word English stop list

    ``mode="tag"`` keeps every row and adds one boolean per rule plus
    the conjunction ``keep`` (audit shape); ``mode="drop"`` filters to
    the passing rows. Ratios are int/int double divisions guarded by
    n_words/n_lines > 0, so the booleans are engine-exact (no rounding
    anywhere). Pure whole-stage-codegen column math: at 100 TB this
    runs at scan speed next to any other map work.
    """
    text = F.col(text_col)
    toks = F.expr(tokens_sql(sql_ident(text_col)))
    n_words = F.size(toks)
    word_chars = F.aggregate(
        F.transform(toks, lambda w: F.length(w)), F.lit(0), lambda acc, x: acc + x
    )
    mean_wl = word_chars.cast("double") / n_words
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))) / F.lit(3)
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).startswith("-") | F.trim(l).startswith("•"))
    )
    ellipsis_lines = F.size(F.filter(lines, lambda l: F.trim(l).endswith("...")))
    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(toks, lambda w: F.lower(w))),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    has_words = n_words > 0
    rules = {
        "passes_word_count": (n_words >= min_words) & (n_words <= max_words),
        "passes_mean_word_len": has_words
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len),
        "passes_symbol_ratio": has_words
        & (n_hash / n_words <= max_symbol_ratio)
        & (n_ellipsis / n_words <= max_symbol_ratio),
        "passes_line_rules": (n_lines > 0)
        & (bullet_lines / n_lines <= max_bullet_line_frac)
        & (ellipsis_lines / n_lines <= max_ellipsis_line_frac),
        "passes_alpha_ratio": has_words
        & (alpha_words / n_words >= min_alpha_word_ratio),
        "passes_stopwords": stop_hits >= min_stopword_hits,
    }
    out = df.withColumn("n_words", n_words.cast("bigint"))
    keep = F.lit(True)
    for name, col in rules.items():
        out = out.withColumn(name, col)
        keep = keep & F.col(name)
    out = out.withColumn("keep", keep)
    if mode == "drop":
        return out.filter("keep").drop("keep", *rules)
    if mode != "tag":
        raise ValueError(f"mode must be {'|'.join(get_args(DropOrTag))}, got {mode!r}")
    return out


def c4_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words_per_line: int = 5,
    terminal_punct: str = ".!?\"",
    min_sentences: int = 3,
    banned_page_substrings: tuple = ("{", "lorem ipsum"),
    banned_line_words: tuple = ("javascript",),
    mode: DropOrTag = "tag",
    out_col: str = "text_clean",
) -> DataFrame:
    """The published C4 cleaning heuristics (Raffel et al. 2020 §2.2)
    as one shuffle-free projection with document reassembly:

    - keep only lines with >= ``min_words_per_line`` words AND ending
      in terminal punctuation AND not containing a banned line word
      (C4 used "javascript" — cookie/JS boilerplate);
    - drop the whole page if it has fewer than ``min_sentences``
      sentences after line filtering (sentence ~ terminal-punct char),
      or contains a banned page substring (C4: '{' for code,
      'lorem ipsum' for placeholder text).

    Output (tag mode): ``out_col`` (the reassembled kept lines),
    ``n_lines``, ``n_lines_kept``, ``n_sentences`` and ``keep``; drop
    mode returns passing rows with ``text_col`` REPLACED by the cleaned
    text. Same scaling story as :func:`gopher_rules`: pure codegen
    column math, runs at scan speed.
    """
    text = F.col(text_col)
    lines = F.split(text, "\n")
    punct_arr = F.array(*[F.lit(c) for c in terminal_punct])

    def line_ok(l):
        toks = F.split(F.trim(l), WORD_SPLIT_PATTERN)
        enough = F.size(toks) >= min_words_per_line
        ends = F.array_contains(punct_arr, F.substring(F.trim(l), -1, 1))
        banned = F.lit(False)
        for w in banned_line_words:
            banned = banned | F.array_contains(F.transform(toks, F.lower), w.lower())
        return enough & ends & ~banned

    kept_lines = F.filter(lines, line_ok)
    kept = F.concat_ws("\n", kept_lines)
    n_sent = F.length(kept) - F.length(F.translate(kept, terminal_punct, ""))
    page_banned = F.lit(False)
    for s in banned_page_substrings:
        page_banned = page_banned | F.contains(F.lower(text), F.lit(s.lower()))
    keep = (n_sent >= min_sentences) & ~page_banned
    out = (
        df.withColumn(out_col, kept)
        .withColumn("n_lines", F.size(lines).cast("bigint"))
        .withColumn("n_lines_kept", F.size(kept_lines).cast("bigint"))
        .withColumn("n_sentences", n_sent.cast("bigint"))
        .withColumn("keep", keep)
    )
    if mode == "drop":
        return (
            out.filter("keep")
            .withColumn(text_col, F.col(out_col))
            .drop(out_col, "n_lines", "n_lines_kept", "n_sentences", "keep")
        )
    if mode != "tag":
        raise ValueError(f"mode must be {'|'.join(get_args(DropOrTag))}, got {mode!r}")
    return out


def normalize_url(col: Column) -> Column:
    """Canonicalize a URL for web-corpus dedup (the standard CC-pipeline
    pre-filter: URL-level dedup runs before any content hashing).

    Rules (scheme-insensitive canonical form):
      - strip scheme and fragment; lowercase the host; drop a leading
        ``www.`` and default ports 80/443
      - strip trailing slashes from the path (root == empty path)
      - drop tracking params (``utm_*``, ``fbclid``, ``gclid``);
        sort surviving query params bytewise

    Pure regex/array column expressions (one projection, no shuffle,
    no Python); the oracle gate regenerates the identical pipeline in
    DuckDB SQL.
    """
    s = F.trim(col)
    s = F.regexp_replace(s, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    s = F.regexp_replace(s, r"#.*$", "")
    hostport = F.regexp_extract(s, r"^([^/?]+)", 1)
    host = F.regexp_replace(
        F.regexp_replace(F.lower(hostport), r"^www\.", ""), r":(80|443)$", ""
    )
    pathq = F.regexp_extract(s, r"^[^/?]*(.*)$", 1)
    path = F.regexp_replace(
        F.regexp_extract(pathq, r"^([^?]*)", 1), r"/+$", ""
    )
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(r"^(utm_[^=]*|fbclid|gclid)="),
        )
    )
    qs = F.array_join(params, "&")
    return F.concat(
        host, path, F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit(""))
    )


def url_host(col: Column) -> Column:
    """Host extraction from a URL (the grouping key for URL-based
    curation: per-domain caps, domain mixing, domain-level stats):
    strip scheme and fragment, lowercase the authority, drop a leading
    ``www.`` and any explicit port. Pure regex column expressions —
    one projection, no shuffle, no Python. DuckDB twin:
    :func:`url_host_oracle_sql` (same rule set, so both engines key
    rows identically)."""
    s = F.regexp_replace(
        F.regexp_replace(F.trim(col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://", ""),
        r"#.*$", "")
    hostport = F.regexp_extract(s, r"^([^/?]+)", 1)
    return F.regexp_replace(
        F.regexp_replace(F.lower(hostport), r"^www\.", ""), r":\d+$", "")


def url_host_oracle_sql(expr: str) -> str:
    """DuckDB twin of :func:`url_host`."""
    s = (f"regexp_replace(regexp_replace(trim({expr}), "
         f"'^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), '#.*$', '')")
    hostport = f"regexp_extract({s}, '^([^/?]+)', 1)"
    return (f"regexp_replace(regexp_replace(lower({hostport}), "
            f"'^www\\.', ''), ':[0-9]+$', '')")


def normalize_url_oracle_sql(expr: str) -> str:
    """DuckDB twin of ``normalize_url`` over the SQL expression
    ``expr`` — generated from the same rule set so both engines
    canonicalize identically."""
    s = f"regexp_replace(regexp_replace(trim({expr}), '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), '#.*$', '')"
    hostport = f"regexp_extract({s}, '^([^/?]+)', 1)"
    host = (
        f"regexp_replace(regexp_replace(lower({hostport}), '^www\\.', ''),"
        f" ':(80|443)$', '')"
    )
    pathq = f"regexp_extract({s}, '^[^/?]*(.*)$', 1)"
    path = f"regexp_replace(regexp_extract({pathq}, '^([^?]*)', 1), '/+$', '')"
    query = f"regexp_extract({pathq}, '\\?(.*)$', 1)"
    params = (
        f"list_sort(list_filter(string_split({query}, '&'), "
        f"p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)=')))"
    )
    qs = f"array_to_string({params}, '&')"
    return (
        f"({host} || {path} || "
        f"CASE WHEN {qs} <> '' THEN '?' || {qs} ELSE '' END)"
    )


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    id_col: str | None = None,
    end_of_word: str = "</w>",
    batch_size: int = 512,
) -> DataFrame:
    """Byte-pair-encoding tokenization given a trained merge table
    (Sennrich et al. 2016 — the standard greedy application: each word
    starts as characters + an end-of-word marker, and the
    lowest-rank adjacent pair merges repeatedly until none applies).

    Token-EXACT counting is what packing budgets and mixture weights
    actually need; the whitespace/regex ``tokenize`` is the cheap
    approximation. This is inherently iterative per word, so it runs
    as an Arrow-batched ``mapInPandas`` (the designated Python slow
    path) with the merge-rank dict shipped once per task in the
    function closure — no shuffle, no driver involvement, linear in
    corpus size. A per-batch word cache collapses Zipf-distributed
    repeats so hot words tokenize once per batch, not once per row.

    Output: input columns + ``out_col`` (array of token strings) +
    ``{out_col}_n`` (token count). Verified in pytest against
    hand-computed merge sequences and a randomized property suite, and
    value-checked by the gate's independent recursive-CTE BPE oracle in
    DuckDB (``queries_llm._bpe_oracle_sql``).
    """
    from collections.abc import Iterator

    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}
    # pandas knows the column by its name, not by its F.col reference
    # (`we``ird` names we`ird)
    text_name = df.select(text_col).columns[0]

    def encode_word(word: str, cache: dict) -> list[str]:
        hit = cache.get(word)
        if hit is not None:
            return hit
        if word.endswith(end_of_word):
            # the marker fuses with the final character (Sennrich
            # convention): "low" -> l, o, w</w>
            core = word[:-len(end_of_word)]
            parts = (list(core[:-1]) + [core[-1] + end_of_word]
                     if core else [end_of_word])
        else:
            parts = list(word)
        while len(parts) > 1:
            best = None
            best_rank = len(ranks)
            for j in range(len(parts) - 1):
                r = ranks.get((parts[j], parts[j + 1]))
                if r is not None and r < best_rank:
                    best, best_rank = j, r
            if best is None:
                break
            parts[best:best + 2] = [parts[best] + parts[best + 1]]
        cache[word] = parts
        return parts

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cache: dict = {}

            def enc(text) -> list[str]:
                out: list[str] = []
                for w in str(text or "").split():
                    out.extend(encode_word(w + end_of_word, cache))
                return out

            toks = pdf[text_name].map(enc)
            pdf = pdf.copy()
            pdf[out_col] = toks
            pdf[f"{out_col}_n"] = toks.map(len).astype("int64")
            yield pdf

    schema = StructType(
        [StructField(f.name, f.dataType) for f in df.schema.fields]
        + [StructField(out_col, ArrayType(StringType())),
           StructField(f"{out_col}_n", LongType())])
    return map_in_pandas(df, process, schema)


def bpe_train(
    df: DataFrame,
    num_merges: int,
    text_col: str = "text",
    end_of_word: str = "</w>",
    max_vocab: int = 100_000,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn a BPE merge table from a corpus (Sennrich et al. 2016),
    returning merges in rank order for ``bpe_tokenize``.

    Scale shape — the standard decomposition: BPE training operates on
    the WORD-FREQUENCY table, not the corpus, so the only corpus-scale
    work is ONE explode + groupBy pass; the table is then capped at
    ``max_vocab`` most-frequent words (Heaps' law keeps true vocab ~
    sqrt(corpus); capping is standard practice) and the iterative merge
    loop runs driver-side over that vocab-sized table — the same
    metadata-class driver work as ``pca_train``'s eigendecomposition
    and IVF centroid training. Deterministic: ties in pair count break
    to the lexicographically smallest pair, and the vocab cap orders by
    (count desc, word asc).

    Stops early when no pair reaches ``min_pair_count``.
    """
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    rows = (
        df.select(F.explode(F.expr(tokens_sql(sql_ident(text_col)))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(max_vocab)
        .collect()
    )
    freqs: dict[tuple[str, ...], int] = {}
    for r in rows:
        w = r["w"]
        syms = tuple(list(w[:-1]) + [w[-1] + end_of_word])
        freqs[syms] = freqs.get(syms, 0) + r["c"]
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in freqs.items():
            for pair in zip(syms, syms[1:]):
                pairs[pair] = pairs.get(pair, 0) + c
        if not pairs:
            break
        top = max(pairs.values())
        if top < min_pair_count:
            break
        best = min(p for p, c in pairs.items() if c == top)
        a, b = best
        ab = a + b
        new_freqs: dict[tuple[str, ...], int] = {}
        for syms, c in freqs.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_freqs[key] = new_freqs.get(key, 0) + c
        freqs = new_freqs
        merges.append(best)
    return merges


def strip_repeated_lines(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "clean_text",
) -> DataFrame:
    """Intra-document boilerplate cleanup: drop every line after its
    first occurrence WITHIN the document (navbars, cookie banners,
    repeated headers — the in-doc complement of the corpus-level
    ``line_dedup``, which dedups across documents and needs a shuffle;
    this is a pure map-side array expression, zero shuffle, no Python).

    Exact-match contract: lines compare byte-equal; compose with
    ``normalize_text`` upstream for case/whitespace-insensitive
    matching. Cost is O(L^2) per document in its LINE count (prefix
    scan per line) — bounded by document structure, not corpus size;
    for pathological documents (10^4+ lines) chunk first.

    Adds ``out_col`` plus ``n_lines`` / ``n_lines_removed`` (the
    drop-rate signal a curation report tracks next to
    ``repetition_stats``).
    """
    tc = sql_ident(text_col)
    lines = f"split({tc}, '\\n')"
    kept = (f"filter({lines}, (x, i) -> i = 0 OR "
            f"array_position(slice({lines}, 1, i), x) = 0)")
    return (
        df.withColumn("__lines", F.expr(f"size({lines})").cast("long"))
        .withColumn(out_col, F.expr(f"array_join({kept}, '\\n')"))
        .withColumn("__kept", F.expr(f"size({kept})").cast("long"))
        .withColumn("n_lines", F.col("__lines"))
        .withColumn("n_lines_removed", (F.col("__lines") - F.col("__kept")))
        .drop("__lines", "__kept")
    )
