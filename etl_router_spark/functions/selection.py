"""Data-selection operators: importance resampling and weighted
sampling for targeted corpus construction.

- ``dsir_*``: Data Selection via Importance Resampling (Xie et al.
  2023, arXiv:2302.03169) — pick raw-corpus documents whose hashed
  n-gram profile looks like a small high-quality TARGET corpus. The
  published recipe: hash unigrams+bigrams into B buckets, fit two
  bag-of-buckets models (target p, raw q), score each document with
  its log importance weight sum_grams [ln p(b) - ln q(b)], then sample
  without replacement with probability proportional to the importance
  weight via the Gumbel-top-k trick.
- ``weighted_sample``: seeded sampling without replacement with
  arbitrary per-row weights (Efraimidis-Spirakis exponential-clock
  keys), global or per-group.

Scale shape (the whole point at 100 TB): the two n-gram models are
B-row frames (B ~ 1e4) built by one map-side-combinable groupBy each;
the per-document scoring join broadcasts those B rows, so the raw
corpus is touched by exactly one (doc, bucket)-aggregate shuffle and
one doc-keyed sum — no driver-side vocabulary, no model object, and
selection itself is a distributed top-k (``TakeOrdered``-style partial
top-k per partition, never a single-partition window).

Determinism: every stochastic choice derives from the engine-portable
``h60`` content hash, and every real-valued quantity is rounded into
integer MICRO-NATS before any cross-row arithmetic — integer sums are
associative, so scores are bit-identical across engines, partitionings
and reruns (double summation order is not).

Reference parity: the reference engine has no data-selection stage;
this extends the corpus toolkit (SURVEY.md "beyond the reference"
scope) alongside functions/corpus.py mix_sample/decontaminate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_router_spark.functions.sqltext import sql_double, sql_ident, sql_str
from etl_router_spark.functions.text import h60_sql, shingles_sql, tokens_sql

__all__ = [
    "dsir_logratios",
    "dsir_scores",
    "dsir_sample",
    "weighted_sample",
]


def _grams_sql(text_col: str) -> str:
    """Unigrams + word bigrams of a text column as one array — the
    DSIR paper's hashed n-gram feature set.

    Token array lambda-BOUND (r15): inlining the split expression into
    shingles_sql's per-index lambda re-tokenized once per BIGRAM
    position (interpreted lambdas, no CSE) and once more for the
    concat — one split per row now, values identical."""
    return (
        f"transform(array({tokens_sql(sql_ident(text_col))}), "
        f"__tk -> concat(__tk, {shingles_sql('__tk', 2)}))[0]"
    )


def _gram_bucket_sql(buckets: int, hash_family: str) -> str:
    """``gram -> bucket`` for the DSIR feature hash — the ONE
    definition shared by the model's marginals and the per-doc scorer
    (both corpora MUST hash into the same bucket space). ``h60``
    (default): md5-derived, so the DuckDB oracles reproduce every
    bucket (and therefore every score) bit-exactly. ``xxhash64``: the
    JVM-native whole-stage-codegen hash — the 100 TB production
    setting (md5-per-gram is the scoring pass's dominant term; same
    boundary as the Bloom family, see corpus.py:_bloom_pos_sql's
    oracle-coverage note). Scores differ across families only through
    which bucket a gram lands in — the estimator is the same.
    SQL-text form (r16): the Column composition cost py4j round trips
    per plan build; the parsed plan is identical."""
    if hash_family == "h60":
        return f"pmod({h60_sql('gram')}, {buckets})"
    if hash_family == "xxhash64":
        return f"pmod(xxhash64(gram), {buckets})"
    raise ValueError(
        f"hash_family must be h60|xxhash64, got {hash_family!r}")


def _bucket_counts(df: DataFrame, text_col: str, buckets: int,
                   hash_family: str = "h60") -> DataFrame:
    """(bucket, c) hashed-gram counts — one explode + one groupBy with
    map-side partial aggregation; at most ``buckets`` output rows."""
    from etl_router_spark.io import spread_small_scan

    # tokenize+shingle+explode+md5 all run map-side BEFORE the groupBy's
    # partial aggregation, so an under-partitioned scan (single-row-group
    # parquet = ONE task) serializes the dominant per-gram cost onto one
    # core; spread first (no-op at real scale — guide §2.5 input skew)
    grams = spread_small_scan(df).selectExpr(
        f"explode({_grams_sql(text_col)}) AS gram")
    return (
        grams.selectExpr(f"{_gram_bucket_sql(buckets, hash_family)} AS bucket")
        .groupBy("bucket")
        .agg(F.expr("count(*) AS c"))
    )


def dsir_logratios(
    raw: DataFrame,
    target: DataFrame,
    *,
    text_col: str = "text",
    buckets: int = 4096,
    smooth: float = 0.5,
    hash_family: str = "h60",
) -> DataFrame:
    """The DSIR model itself: per hash bucket b, the rounded
    log-likelihood ratio

        lr(b) = ln((c_t(b) + s) / (T_t + s*B)) - ln((c_r(b) + s) / (T_r + s*B))

    between the add-``s``-smoothed target and raw bag-of-hashed-ngram
    unigram models, emitted as integer micro-nats
    (``lr_micro = round(lr * 1e6)``). Buckets unseen by BOTH corpora
    are absent (scorers substitute the same smoothed default).

    Returns (bucket int, lr_micro bigint, c_target bigint, c_raw
    bigint) — at most ``buckets`` rows, broadcastable by construction.
    """
    if buckets <= 0:
        raise ValueError("buckets must be positive")
    ct = (_bucket_counts(target, text_col, buckets, hash_family)
          .withColumnRenamed("c", "c_target"))
    cr = (_bucket_counts(raw, text_col, buckets, hash_family)
          .withColumnRenamed("c", "c_raw"))
    return _lr_table(ct, cr, buckets, smooth)


def _lr_table(ct: DataFrame, cr: DataFrame,
              buckets: int, smooth: float) -> DataFrame:
    """The smoothed log-ratio formula over already-computed bucket
    counts — ONE definition shared by :func:`dsir_logratios` (counts
    from independent passes) and :func:`dsir_scores` (raw counts
    DERIVED from the per-doc aggregate so the corpus explodes once).

    Corpus-total grams are the COLUMN SUMS of the joined count table
    (every gram lands in exactly one bucket), computed as global-window
    sums over its <=B rows — r15: this replaced two more full corpus
    text passes (sum(size(grams)) scans) and their broadcast crossJoins
    with one tiny single-partition window; integers identical by
    construction (a window SUM skips the full-outer join's nulls
    exactly like summing each side's own count table; ``coalesce(0)``
    keeps the zero-gram-corpus total at 0, so null/whitespace-text
    documents still contribute zero grams to either total — the r10
    null-text identity between the two entry points)."""
    s, b = sql_double(smooth), buckets
    return (
        ct.join(cr, "bucket", "full_outer")
        .selectExpr(
            "bucket",
            "c_target",
            "c_raw",
            "coalesce(sum(c_target) OVER (), CAST(0 AS BIGINT)) AS __tt",
            "coalesce(sum(c_raw) OVER (), CAST(0 AS BIGINT)) AS __tr",
        )
        .selectExpr(
            "bucket",
            # integer micro-nats: the ONLY place a transcendental is
            # evaluated; everything downstream is integer arithmetic
            f"CAST(round((ln((CAST(coalesce(c_target, 0) AS DOUBLE) + {s}) /"
            f" (CAST(__tt AS DOUBLE) + {s} * {b}.0))"
            f" - ln((CAST(coalesce(c_raw, 0) AS DOUBLE) + {s}) /"
            f" (CAST(__tr AS DOUBLE) + {s} * {b}.0))) * 1000000.0) AS BIGINT)"
            " AS lr_micro",
            "coalesce(c_target, CAST(0 AS BIGINT)) AS c_target",
            "coalesce(c_raw, CAST(0 AS BIGINT)) AS c_raw",
        )
    )


def dsir_scores(
    raw: DataFrame,
    target: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
    smooth: float = 0.5,
    score_col: str = "dsir_score_micro",
    cache: bool = False,
    hash_family: str = "h60",
) -> DataFrame:
    """Score every raw document with its DSIR log importance weight
    (integer micro-nats): sum over the document's hashed grams of
    ``lr(bucket(gram))`` under :func:`dsir_logratios`.

    Plan: doc grams -> (id, bucket) counts (one shuffle, map-side
    combinable) -> broadcast join against the B-row ratio table ->
    id-keyed integer sum -> id-keyed join back onto the input columns.
    The raw corpus never carries anything wider than (id, bucket, c)
    through a shuffle, and it EXPLODES ONCE: the model's raw bucket
    marginals are the column sums of the per-doc aggregate (identical
    integers by construction), so both consumers hang off the same
    (id, bucket) aggregate. The model's ratio table computes inside a
    BROADCAST subquery (its own query execution), which Spark's
    ReuseExchange cannot dedupe against the main plan — so
    ``cache=True`` persists the slim aggregate (MEMORY_AND_DISK) and
    both consumers read one execution, releasing the pin when the
    caller drops the result (the dedup budget-guard ``weakref``
    protocol, including its chained-caller limitation: hold the
    returned frame through your first action or the pin lapses).
    Opt-in here like the dedup pair caches (a scale-time win when the
    corpus text re-scan dominates, overhead on small inputs) — but ON
    BY DEFAULT in the chained :func:`dsir_sample` path, which can
    honor the weakref protocol itself by pinning to its own returned
    frame. Docs with zero grams score 0.
    """
    from etl_router_spark.functions.dedup import _release_on_gc

    out, _scores, pinned = _dsir_scores_pinned(
        raw, target, id_col=id_col, text_col=text_col, buckets=buckets,
        smooth=smooth, score_col=score_col, cache=cache,
        hash_family=hash_family)
    return _release_on_gc(out, pinned) if pinned else out


def _dsir_scores_pinned(
    raw: DataFrame,
    target: DataFrame,
    *,
    id_col: str,
    text_col: str,
    buckets: int,
    smooth: float,
    score_col: str,
    cache: bool,
    hash_family: str = "h60",
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """:func:`dsir_scores` body, returning (result, slim-scores,
    pinned-persists) UNWRAPPED so chained operators
    (:func:`dsir_sample`) can transfer the release-on-gc pin to THEIR
    final frame — the fix for the chained-caller limitation: a
    finalize tied to an intermediate would fire at function exit,
    unpersisting before the caller's first action. The slim scores
    frame ((id, score), gram-bearing docs only) lets the top-k path
    rank WITHOUT dragging the full input columns through a corpus-wide
    join first (r15)."""
    from etl_router_spark.io import spread_small_scan

    # same map-side-parallelism rationale as _bucket_counts: the per-gram
    # h60 hashing dominates this pass and runs before any exchange
    ident = sql_ident(id_col)
    doc_buckets = (
        spread_small_scan(raw)
        .selectExpr(ident, f"explode({_grams_sql(text_col)}) AS gram")
        .selectExpr(ident, f"{_gram_bucket_sql(buckets, hash_family)} AS bucket")
        .groupBy(id_col, "bucket")
        .agg(F.expr("count(*) AS __c"))
    )
    pinned: list[DataFrame] = []
    if cache:
        from pyspark import StorageLevel

        doc_buckets = doc_buckets.persist(StorageLevel.MEMORY_AND_DISK)
        pinned.append(doc_buckets)
    cr = doc_buckets.groupBy("bucket").agg(F.expr("sum(__c) AS c_raw"))
    ct = (_bucket_counts(target, text_col, buckets, hash_family)
          .withColumnRenamed("c", "c_target"))
    lr = F.broadcast(
        _lr_table(ct, cr, buckets, smooth)
        .select("bucket", "lr_micro"))
    scores = (
        doc_buckets.join(lr, "bucket")  # doc buckets are raw buckets: inner is lossless
        .groupBy(id_col)
        .agg(F.expr("sum(__c * lr_micro)").alias(score_col))
    )
    out = (
        raw.join(scores, id_col, "left")
        .withColumn(score_col, F.expr(
            f"coalesce({sql_ident(score_col, alias=True)}, CAST(0 AS BIGINT))"))
    )
    return out, scores, pinned


def _u_micro_sql(id_col: str, salt: str) -> str:
    """u = (h60(salt|id) % 1e6 + 0.5)/1e6 in (0, 1) as SQL text —
    the shared uniform draw of the Gumbel and exponential-clock keys
    (D-suffixed literals parse to the same doubles the former
    F.lit(python float) form produced). Any salt draws as itself."""
    h = h60_sql(f"concat({sql_str(f'{salt}|')}, CAST({sql_ident(id_col)} AS STRING))")
    return f"(CAST(pmod({h}, 1000000) AS DOUBLE) + 0.5D) / 1000000.0D"


def _gumbel_micro_sql(id_col: str, salt: str) -> str:
    """Deterministic standard-Gumbel noise in integer micro-nats,
    derived from the content hash: g = -ln(-ln(u))."""
    return (f"CAST(round(-ln(-ln({_u_micro_sql(id_col, salt)}))"
            " * 1000000.0D) AS BIGINT)")


def dsir_sample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
    smooth: float = 0.5,
    salt: str = "dsir",
    key_col: str = "dsir_key_micro",
    cache: bool = True,
    hash_family: str = "h60",
) -> DataFrame:
    """DSIR selection: the ``k`` raw documents sampled WITHOUT
    replacement with probability proportional to their importance
    weight exp(score), via the Gumbel-top-k identity
    (argtop-k of log w_i + Gumbel_i ~ successive draws w/o
    replacement). Gumbel noise is seeded from ``h60(salt|id)`` so the
    draw is a pure function of content — reruns, engines and
    partitionings agree.

    The top-k is ``orderBy(...).limit(k)`` — Spark's TakeOrdered
    computes per-partition partial top-k then merges k*partitions
    rows, never a global sort or single-partition window. Ties break
    by ascending id. Output: input columns + score + selection key,
    ordered by descending key.

    The ranking runs over a SLIM (id, score, key) frame — the id
    column of the corpus left-joined to the gram-bearing scores — and
    only the ``k`` winners are then broadcast-joined back onto the
    full input columns (r15): the corpus text/payload columns never
    cross a shuffle for the sake of the ranking, and the winner attach
    is a k-row broadcast build side by construction (guide §8: decide
    with small rows, move big rows once). Assumes ``id_col`` is unique
    (the documented contract of every id-keyed operator here).

    ``cache=True`` (default HERE, opt-in on :func:`dsir_scores`):
    persist the slim (id, bucket, c) aggregate so the model's raw
    marginals and the per-doc scoring read ONE corpus
    explode+aggregate instead of two — at 100 TB re-scanning corpus
    text always loses to persisting 3-int rows. The release pin is
    attached to THIS function's returned frame (not the intermediate
    scores), so the weakref protocol holds for ordinary callers: hold
    the result through your action, the persist releases when you
    drop it.
    """
    from etl_router_spark.functions.dedup import _release_on_gc

    _scored, scores, pinned = _dsir_scores_pinned(
        raw, target, id_col=id_col, text_col=text_col, buckets=buckets,
        smooth=smooth, score_col="dsir_score_micro", cache=cache,
        hash_family=hash_family)
    # rank on the slim frame: ids (for the zero-gram score-0 docs) left-
    # joined to scores, plus the content-hash Gumbel key — three narrow
    # columns through TakeOrdered instead of the whole corpus row
    score0 = "coalesce(dsir_score_micro, CAST(0 AS BIGINT))"
    keyed = (
        raw.select(id_col).join(scores, id_col, "left")
        .selectExpr(
            sql_ident(id_col),
            f"{score0} AS dsir_score_micro",
            f"{score0} + {_gumbel_micro_sql(id_col, salt)} AS {sql_ident(key_col, alias=True)}",
        )
    )
    winners = keyed.orderBy(
        F.col(key_col).desc(), F.col(id_col).asc()).limit(k)
    # attach the k winners back onto the full input columns: a k-row
    # broadcast build side, so the corpus payload moves zero times
    out = (
        raw.join(F.broadcast(winners), id_col, "inner")
        .orderBy(F.col(key_col).desc(), F.col(id_col).asc())
    )
    return _release_on_gc(out, pinned) if pinned else out


def weighted_sample(
    df: DataFrame,
    k: int,
    *,
    weight_col: str,
    id_col: str = "doc_id",
    group_col: str | None = None,
    salt: str = "ws",
    key_col: str = "__es_key_micro",
    keep_key: bool = False,
) -> DataFrame:
    """Seeded weighted sampling WITHOUT replacement: keep the ``k``
    rows (per group, if ``group_col`` given) with the smallest
    exponential-clock key ``-ln(u)/w`` (Efraimidis-Spirakis A-ES,
    equivalent to successive draws with probability proportional to
    ``weight_col``). ``u`` derives from ``h60(salt|id)`` so the sample
    is reproducible across engines and monotone under reruns; keys are
    rounded to integer micro-units with ascending-id tie-break.

    Rows with NULL, zero or negative weight are excluded (they have
    probability 0). Global sampling is a distributed TakeOrdered;
    grouped sampling is one group-keyed window — k rows of state per
    group, the same shape as ``corpus_group_topk``.
    """
    key = F.expr(
        f"CAST(round(-ln({_u_micro_sql(id_col, salt)})"
        f" / CAST({sql_ident(weight_col)} AS DOUBLE) * 1000000.0D) AS BIGINT)")
    keyed = df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)) \
              .withColumn(key_col, key)
    if group_col is None:
        out = keyed.orderBy(F.col(key_col).asc(), F.col(id_col).asc()).limit(k)
    else:
        w = Window.partitionBy(group_col).orderBy(
            F.col(key_col).asc(), F.col(id_col).asc())
        out = (
            keyed.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )
    return out if keep_key else out.drop(key_col)
