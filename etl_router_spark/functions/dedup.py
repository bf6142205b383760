"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash,
embedding-cosine.

Scale design notes (the point of each variant):

- ``exact_dedup``: one hash-groupBy shuffle; the canonical key is a
  digest so wide text never shuffles.
- ``ngram_jaccard_pairs``: exact Jaccard via a shingle-postings
  self-join. Quadratic in the worst case — the ``max_df`` document-
  frequency cap drops stop-shingles that only produce noise pairs,
  which is what keeps the join from exploding on skewed shingles.
- ``minhash_lsh_pairs``: the 100 TB path. Signatures in one shuffle,
  banding turns all-pairs into per-bucket joins; only candidate pairs
  (same band hash) are ever materialized.
- ``simhash``: 64-bit fingerprint; near-dups = small hamming distance.
  Bit arithmetic only, fully codegen'd.
- ``embedding_cosine_pairs``: brute-force exact baseline; bucket it
  with the LSH variant in ``similarity.py`` at scale.

All hashing uses the engine-portable ``h60`` (md5-derived 60-bit) so
results are reproducible across engines and test oracles are exact.
"""

from __future__ import annotations

import math
import weakref
from typing import Literal, get_args

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_router_spark.functions.iterate import materialize
from etl_router_spark.functions.sqltext import sql_ident
from etl_router_spark.functions.text import h60_sql, shingles_sql, tokens_sql
from etl_router_spark.io import spread_small_scan


def _shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, shingle) postings with h60-hashed distinct word n-grams.

    Built from SQL text end-to-end: the dedup pipelines are the widest
    plans in the engine and Column-by-Column composition dominated
    their *driver-side build* time (~0.4 s/plan, measured sf0.1).
    """
    return (
        spread_small_scan(df)
        .selectExpr(f"{sql_ident(id_col)} AS id", f"{tokens_sql(sql_ident(text_col))} AS __toks")
        .selectExpr(
            "id",
            f"explode(array_distinct({shingles_sql('__toks', n)})) AS __st",
        )
        .selectExpr("id", f"{h60_sql('__st')} AS shingle")
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Keep one representative (min id) per distinct text.

    The groupBy key is ``md5(normalized_text)`` — a fixed-width digest —
    so the shuffle moves 32-byte keys, not document bodies.
    """
    text = F.col(text_col)
    if normalize:
        text = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    key = F.md5(text)
    keep = (
        df.select(key.alias("__k"), F.col(id_col))
        .groupBy("__k")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    # semi join back: representatives keep their full row
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# exact n-gram Jaccard
# ---------------------------------------------------------------------------
def _release_on_gc(result: DataFrame, pinned: list[DataFrame]) -> DataFrame:
    """Tie budget-guard persists to the RESULT's lifetime.

    The ``max_candidates`` pre-flight persists an intermediate frame so
    the estimate job, the hot-bucket probe and the main plan share one
    execution of the upstream subtree — but Spark's CacheManager never
    auto-evicts, so without a release the cached partitions would
    accumulate across repeated budgeted calls in a long-lived session.
    Unpersisting eagerly would instead drop the cache before the
    caller's first action (losing the sharing the persist exists for),
    so the release is deferred to when the caller lets go of the result
    DataFrame — after their action, in any loop-shaped workload — via a
    ``weakref.finalize`` that issues non-blocking unpersists. Session
    teardown races are swallowed: unpersist on a stopped context is a
    no-op concern, not an error path.

    Known limitation — CHAINED callers: DERIVED frames do not extend
    the pin. ``res = op(df).select(...)`` drops the operator's return
    value immediately, so CPython refcounting fires the finalize before
    the caller's first action: the estimate/hot-detection jobs already
    ran (correctness and the budget check are unaffected), but the main
    plan re-executes the upstream subtree instead of reading the cache.
    Callers that want the sharing must hold the operator's return value
    until after their first action (``r = op(df); out = r.select(...);
    out.write...; del r``). The pinned list also rides on the result as
    ``_budget_pins`` so a holder of the RESULT object keeps the frames
    (and their finalizers) alive deterministically.
    """
    if pinned:
        frames = list(pinned)

        def _release() -> None:
            for f in frames:
                try:
                    f.unpersist(False)
                except Exception:
                    pass

        weakref.finalize(result, _release)
        result._budget_pins = frames
    return result


class CandidateBudgetExceeded(RuntimeError):
    """Raised by the pair-generation operators when the pre-flight
    Σ C(bucket, 2) candidate estimate exceeds ``max_candidates`` — the
    fail-fast alternative to launching a quadratic pair shuffle. At
    100 TB a wrong plan should fail in seconds, not run for days."""

    def __init__(self, estimate: int, budget: int,
                 op: str = "pair generation", advice: str = ""):
        super().__init__(
            f"{op} would generate ~{estimate:,} candidate pairs "
            f"(budget: {budget:,}). {advice}".rstrip()
        )
        self.estimate = estimate
        self.budget = budget


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    max_df_frac: float | None = 0.5,
    cache: bool = False,
    pair_chunk: int = 2048,
    max_candidates: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with n-gram-set Jaccard >= threshold.

    posting-list self-join: explode distinct shingles, join on shingle,
    count shared shingles per pair, Jaccard = |∩| / (|A|+|B|-|∩|).
    ``max_df`` drops shingles appearing in more than max_df docs
    (stop-shingle pruning) — at high corpus scale this is mandatory:
    a single shingle shared by f docs contributes f^2 join rows, so an
    uncapped stop-shingle turns the self-join quadratic. When ``max_df``
    is not given, it defaults to ``max_df_frac`` of the corpus size
    (one cheap count job); pass ``max_df_frac=None`` for the exact
    uncapped semantics. A shingle above the cap carries ~zero pair
    signal (it co-occurs with everything) but dominates join cost.

    ``pair_chunk``: posting lists longer than this generate their pairs
    through chunk-pair blocking — the sorted id list splits into
    ceil(f/C) consecutive chunks, one row per (i <= j) chunk pair is
    exploded and REDISTRIBUTED by hash, and each chunk-pair row then
    explodes its own pairs. Per-task pair work is bounded by C^2
    regardless of how hot the shingle is, and unlike the df-cap this is
    EXACT: the pair multiset is identical to the single-task explode
    (within-chunk pairs keep the y > x filter; cross-chunk pairs need
    none because consecutive sorted chunks are totally ordered).

    ``max_candidates``: opt-in pre-flight budget on the candidate-pair
    volume Σ C(df, 2) over surviving posting lists (one cheap aggregate
    over the grouped postings, which are persisted while the budget is
    on so the estimate job and the main plan share one execution of the
    shingle pipeline). Chunk blocking bounds PER-TASK work, but nothing bounds
    TOTAL candidate volume — on corpora whose shingle df grows with
    corpus size (vocabulary saturation; measured ~100x candidates for
    10x docs on the fixture corpus, SCALE.md round 7), the expansion is
    inherently quadratic. With a budget set, the operator raises
    ``CandidateBudgetExceeded`` BEFORE launching the quadratic shuffle,
    with the measured estimate and the two mitigations (absolute
    ``max_df``; the MinHash-LSH path) in the message — at 100 TB a
    wrong plan should fail in seconds, not run for days.
    """
    # postings carry h60(shingle), not the shingle text: the persisted
    # list, the df-cap aggregation and the self-join all move/compare
    # 8-byte longs instead of n-word strings. Oracle twins apply the
    # same hash, so the (negligible at 60 bits) collision behavior is
    # engine-identical and results stay exact.
    sh = _shingle_hashes(df, id_col, text_col, n)
    cap_col = F.lit(max_df)
    if max_df is None and max_df_frac is not None:
        # absolute floor of 100: below that a shingle cannot explode
        # the join anyway, and tiny corpora keep exact semantics. The
        # corpus count rides along as a broadcast scalar (cross-join of
        # a 1-row aggregate) instead of a separate .count() job.
        total = df.select(
            F.greatest(F.lit(100), F.floor(F.count("*") * F.lit(max_df_frac)).cast("bigint")).alias("__cap")
        )
        max_df = -1  # sentinel: cap comes from the scalar column
        cap_col = F.col("__cap")
    # group postings by shingle ONCE instead of self-joining the posting
    # list (which shuffles it twice): the grouped form (shingle -> sorted
    # id list) makes the df-cap a free length filter — no separate count
    # aggregation, no broadcast anti-join — and ordered pairs come from
    # two chained explodes over the id list, streamed (memory per task
    # is bounded by the largest surviving posting list, itself <= the
    # cap). One task still owns all pairs of one hot shingle — same
    # placement the self-join would produce for that key.
    grouped = sh.groupBy("shingle").agg(F.array_sort(F.collect_list("id")).alias("ids"))
    if max_df == -1:
        grouped = grouped.crossJoin(F.broadcast(total)).filter(F.size("ids") <= cap_col).drop("__cap")
    elif max_df is not None:
        grouped = grouped.filter(F.size("ids") <= cap_col)
    if cache:
        # normally unnecessary: the groupBy(shingle) exchange is an
        # identical subplan in the pair and size branches, so Spark's
        # ReusedExchange dedupes the recompute — measured FASTER than
        # paying persist materialization (0.97s vs 1.81s at sf0.1).
        # Keep the knob for callers that layer further consumers on top.
        grouped = grouped.persist()
    pinned: list[DataFrame] = []
    if max_candidates is not None:
        # one-row aggregate over the grouped postings (driver sees a
        # single long — metadata-class, same audit category as the
        # hot-list probe below). Exchange reuse does NOT span separate
        # actions, so persist the grouped postings while the budget is
        # on: the estimate job and the main plan then share one
        # execution of the shingle pipeline instead of running it twice.
        # Budget-induced (not caller-requested cache=True) persists are
        # released when the caller drops the result — _release_on_gc
        if not cache:
            grouped = grouped.persist()
            pinned.append(grouped)
        est_row = grouped.select(
            F.sum(
                (F.size("ids").cast("bigint")
                 * (F.size("ids").cast("bigint") - 1) / 2).cast("bigint")
            ).alias("est")
        ).first()
        estimate = int(est_row["est"] or 0)
        if estimate > max_candidates:
            grouped.unpersist()
            raise CandidateBudgetExceeded(
                estimate, max_candidates, op="ngram_jaccard_pairs",
                advice=(
                    "Shingle document frequencies scale with this corpus "
                    "(vocabulary saturation); either set an absolute "
                    "max_df to bound per-shingle fan-out, or use "
                    "minhash_lsh_pairs, whose bucket keys come from "
                    "whole-document signatures (see SCALE.md round-7 "
                    "measurements)."))
    sizes = (
        grouped.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("sz"))
    )
    C = int(pair_chunk)
    # lean plan when no posting list exceeds the chunk size — probed
    # once and memoized by plan semantic hash (negative results only;
    # the blocked plan is exact, so a stale positive merely costs the
    # empty extra stages, and a stale negative can't happen for a plan
    # that was ever observed hot because positives are never cached)
    hot_lists = grouped.filter(F.size("ids") > C)
    probe_key = _probe_key(hot_lists, C)
    if probe_key is not None and probe_key in _NO_HOT_BUCKET_CACHE:
        lists_over_chunk = False
    else:
        lists_over_chunk = bool(hot_lists.limit(1).count())
        if not lists_over_chunk:
            _memoize_negative(probe_key)
    small_filter = (
        (F.size("ids") > 1) & (F.size("ids") <= C)
        if lists_over_chunk
        else (F.size("ids") > 1)
    )
    small = (
        grouped.filter(small_filter)
        .selectExpr("explode(ids) AS id_a", "ids")
        .selectExpr("id_a", "explode(filter(ids, y -> y > id_a)) AS id_b")
    )
    if lists_over_chunk:
        # hot posting lists: chunk-pair blocking (see docstring). The
        # first explode emits ~ (f/C)^2 / 2 chunk-pair rows per hot
        # shingle, the hash repartition spreads them across the cluster
        # (an explode's output otherwise stays on its input row's
        # task), and only then do pairs materialize — bounded by C^2
        # per row.
        big_pairs = (
            hot_lists
            .selectExpr("shingle", "ids", f"CAST((size(ids) + {C} - 1) DIV {C} AS INT) AS nb")
            .selectExpr("shingle", "ids", "nb", "explode(sequence(0, nb - 1)) AS ci")
            .selectExpr("shingle", "ids", "explode(sequence(ci, nb - 1)) AS cj", "ci")
            .selectExpr(
                "shingle", "ci", "cj",
                f"slice(ids, ci * {C} + 1, {C}) AS ids_a",
                f"slice(ids, cj * {C} + 1, {C}) AS ids_b",
            )
            .repartition(F.col("shingle"), F.col("ci"), F.col("cj"))
            .selectExpr("ci = cj AS same", "ids_b", "explode(ids_a) AS id_a")
            .selectExpr(
                "id_a",
                "explode(CASE WHEN same THEN filter(ids_b, y -> y > id_a) ELSE ids_b END) AS id_b",
            )
        )
        small = small.unionByName(big_pairs)
    inter = small.groupBy("id_a", "id_b").agg(F.count("*").alias("inter"))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    # no broadcast hint on sizes: it is |docs| rows — tiny here, but at
    # corpus scale far past the broadcast threshold; AQE picks broadcast
    # when the runtime size allows and shuffle-join when it doesn't
    return _release_on_gc(
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    , pinned)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def minhash_affine_consts(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the universal-hash family
    ``h_i(x) = (a_i * x + b_i) mod P``. Derived from the golden-ratio /
    murmur finalizer constants so both the Spark operator and the DuckDB
    oracle inline the SAME literals."""
    consts = []
    for i in range(num_hashes):
        a = (0x9E3779B9 * (i + 1)) % MINHASH_P or 1
        b = (0x85EBCA6B * (i + 1)) % MINHASH_P
        consts.append((a, b))
    return consts


def _minhash_base_sql(hash_family: str) -> str:
    """The per-shingle base hash h(shingle) in [0, P) — the ONE seed of
    the whole MinHash stack (signatures -> band keys -> indexes), so
    mixing families across a build and its probes silently zeroes
    recall; :func:`minhash_index` persists the family and the probes
    fail fast on a mismatch. ``h60`` (default): md5-derived 32-bit
    window, DuckDB-oracle-exact (every signature, band key and
    est_jaccard reproducible in SQL). ``xxhash64``: the JVM-native
    whole-stage-codegen hash. Measured WALL-PARITY at sf0.1 (1.73 vs
    1.75 s signature build — the hash sits in a codegen'd post-explode
    projection and the explode + groupBy shuffle dominates, same
    finding as DSIR's family, SCALE.md round-14); the option exists
    for design consistency with the Bloom/DSIR boundary (oracle gates
    pin h60 only; xxhash64 is property-tested) and for hash-bound
    regimes (very short docs, very wide shingles)."""
    if hash_family == "h60":
        return (f"CAST(conv(substring(md5(shingle), 1, 8), 16, 10)"
                f" AS BIGINT) % {MINHASH_P}")
    if hash_family == "xxhash64":
        return f"pmod(xxhash64(shingle), {MINHASH_P})"
    raise ValueError(
        f"hash_family must be h60|xxhash64, got {hash_family!r}")


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    hash_family: str = "h60",
) -> DataFrame:
    """Per-doc MinHash signature over the universal-hash family
    sig[i] = min over shingles of ``(a_i * h(shingle) + b_i) mod P``,
    with ONE base hash per shingle (:func:`_minhash_base_sql` — h60
    md5-window default, xxhash64 native scale path).

    ONE base hash per shingle total — the k hash functions are affine
    rehashes of the shared base (classic a*x+b universal hashing), so
    hash cost is O(shingles), not O(k * shingles); measured ~2x off the
    signature aggregation at k=8 vs per-hash md5. All arithmetic stays
    inside signed-64 (h reduced mod P first, so a*h+b < 2^62) — safe
    under ANSI overflow checking, and (for h60) exactly reproducible by
    the DuckDB oracle. One explode + one groupBy shuffle; k mins
    computed map-side in the partial aggregation, so the shuffle
    carries k longs per doc, not the shingle stream.
    """
    sh = (
        spread_small_scan(df)
        .selectExpr(f"{sql_ident(id_col)} AS id", f"{tokens_sql(sql_ident(text_col))} AS __toks")
        .selectExpr(
            "id",
            f"explode(array_distinct({shingles_sql('__toks', shingle_n)})) AS shingle",
        )
        .selectExpr(
            "id",
            f"{_minhash_base_sql(hash_family)} AS __h",
        )
    )
    mins = [
        F.expr(f"min((__h * {a}L + {b}L) % {MINHASH_P})").alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_affine_consts(num_hashes))
    ]
    # build parameters travel WITH the signature frame as column
    # metadata (parquet persists it in the footer), exactly like
    # minhash_index's sig stamp: a precomputed signature table handed
    # to minhash_lsh_join under a different hash_family would build
    # band keys that never collide — silent zero recall, the failure
    # mode the index probes fail fast on (r14 ADVICE). bands is NOT
    # stamped — signatures are band-agnostic; banding happens at join
    # time.
    return sh.groupBy("id").agg(*mins).withMetadata(
        "mh_0", {"num_hashes": num_hashes, "shingle_n": shingle_n,
                 "hash_family": hash_family})


def minhash_signature_params(sig_df: DataFrame) -> dict | None:
    """The (num_hashes, shingle_n, hash_family) a
    :func:`minhash_signatures` frame was built with, read back from
    the ``mh_0`` column's metadata — driver-side schema inspection,
    no job. ``None`` for frames persisted before the stamp existed
    (callers then trust their own parameters, as before)."""
    try:
        md = sig_df.schema["mh_0"].metadata or {}
    except KeyError:
        return None
    if not all(k in md for k in ("num_hashes", "shingle_n")):
        return None
    return {"num_hashes": int(md["num_hashes"]),
            "shingle_n": int(md["shingle_n"]),
            "hash_family": str(md.get("hash_family", "h60"))}


def _banded_buckets(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, sig array, band_key) rows from a signature frame — ONE
    definition of the band-key layout (band b's key = md5 of
    ``'b,mh_i,...'`` over its signature slice) shared by
    :func:`minhash_lsh_pairs`, :func:`minhash_index` and
    :func:`dedup_against_minhash_index`, so an index written by one can
    always be probed by the others (and the DuckDB oracles reproduce
    all three)."""
    rows_per_band = num_hashes // bands
    sig_cols = [f"mh_{i}" for i in range(num_hashes)]
    band_keys = ", ".join(
        "md5(concat_ws(',', '%d', %s))"
        % (b, ", ".join(f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)))
        for b in range(bands)
    )
    return sig.selectExpr(
        "id",
        f"array({', '.join(sig_cols)}) AS sig",
        f"explode(array({band_keys})) AS band_key",
    )


def minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_family: str = "h60",
) -> DataFrame:
    """The PERSISTABLE LSH index of a corpus: (id, sig, band_key), one
    row per (doc, band). Write it once, then dedup every future batch
    against it with :func:`dedup_against_minhash_index` — the
    signatures and band keys of the existing corpus are never
    recomputed (at 100 TB, the shingle->minhash pipeline over the
    historical corpus is the dominant cost of fuzzy dedup; this makes
    it a one-time cost).

    Storage layout: partition by a SHORT prefix of ``band_key``
    (``substring(band_key, 1, 2)`` = 256 partitions at any corpus
    size) for coarse pruning, or bucket by ``band_key`` via
    ``write_bucketed`` for join co-location. Never partition by the
    raw md5 — a 16^32-cardinality partition column is the small-files
    anti-pattern.

    The index must be rebuilt only when (num_hashes, bands, shingle_n)
    change. The build parameters travel WITH the index as column
    metadata on ``sig`` — Spark persists column metadata in the
    parquet footer (and through any generic file sink), so a probe can
    read them back via :func:`minhash_index_params` with zero I/O and
    fail fast on a mismatch. This closes the silent-miss hole the
    in-task signature-width guard cannot: a mismatched ``bands`` /
    ``shingle_n`` produces band keys that simply never collide, zero
    rows join, the width guard never evaluates, and every near-dup
    sails through undetected.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    idx = _banded_buckets(
        minhash_signatures(df, id_col, text_col, num_hashes, shingle_n,
                           hash_family),
        num_hashes, bands)
    return idx.withMetadata("sig", {"num_hashes": num_hashes,
                                    "bands": bands,
                                    "shingle_n": shingle_n,
                                    "hash_family": hash_family})


def minhash_index_params(index_df: DataFrame) -> dict | None:
    """The (num_hashes, bands, shingle_n, hash_family) a
    :func:`minhash_index` frame was built with, read back from the
    ``sig`` column's metadata — driver-side schema inspection, no job.
    ``hash_family`` defaults to ``"h60"`` for indexes persisted before
    the family was recorded (the only family that existed). ``None``
    for pre-metadata indexes (or frames that never carried it), where
    callers fall back to trusting their own parameters plus the
    in-task width guard."""
    try:
        md = index_df.schema["sig"].metadata or {}
    except KeyError:
        return None
    keys = ("num_hashes", "bands", "shingle_n")
    if not all(k in md for k in keys):
        return None
    out: dict = {k: int(md[k]) for k in keys}
    out["hash_family"] = str(md.get("hash_family", "h60"))
    return out


def _check_index_params(index_df: DataFrame, num_hashes: int, bands: int,
                        shingle_n: int, caller: str,
                        hash_family: str = "h60") -> None:
    """Fail fast (driver-side, zero I/O) when a probe's parameters
    disagree with what the index frame says it was built with."""
    built = minhash_index_params(index_df)
    if built is None:
        return
    asked = {"num_hashes": num_hashes, "bands": bands,
             "shingle_n": shingle_n, "hash_family": hash_family}
    diff = {k: (asked[k], built[k]) for k in asked if asked[k] != built[k]}
    if diff:
        detail = ", ".join(f"{k}={a} but index was built with {b}"
                           for k, (a, b) in diff.items())
        raise ValueError(
            f"{caller}: probe parameters conflict with the index "
            f"({detail}). Mismatched bands/shingle_n/hash_family makes "
            "band keys that never collide — zero matches, silently — so "
            "this is an error, not a warning. Probe with the index's "
            "own parameters or rebuild the index.")


def dedup_against_minhash_index(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    hash_family: str = "h60",
) -> DataFrame:
    """Incremental fuzzy dedup: rows of ``new_df`` with NO near-duplicate
    (estimated Jaccard >= ``threshold``) in the corpus behind
    ``index_df`` (a :func:`minhash_index` frame, usually read back from
    its persisted table). The exact-dedup analog is
    ``dedup_incremental_batches``; this is the MinHash rung.

    Scale shape — the index NEVER shuffles and the historical corpus's
    text is never touched:

    - The new batch's (band_key, id, sig) table is built once
      (shingle->minhash over the BATCH only) and joined onto the
      index scan on band_key — the batch (a day's crawl) is usually
      the small side, and AQE broadcasts it AT RUNTIME from its
      measured size rather than a forced hint (a 10M-doc backfill
      batch at 4 bands is 40M band rows; a forced broadcast of that
      is the exact OOM class SCALE.md round-13 defect 1 fixed in the
      rerank fetch — pass ``broadcast_side="probes"`` through
      :func:`minhash_index_matches` only when the batch is bounded by
      contract). With the index stored bucketed by band_key (or
      partitioned by its short prefix — see :func:`minhash_index`),
      the scan co-locates or coarsely prunes to the batch's buckets.
    - Scoring is signature agreement (k position compares) per
      candidate row — no shingling of index docs, no text reads.
    - Matched batch ids come back through one DISTINCT on (batch id)
      and drop via left_anti on the batch — AQE broadcasts the
      matched-id side when small, same shape as SemDeDup's
      neighbor drop.

    Parameters must match the index build. An index carrying its
    build parameters (any :func:`minhash_index` frame, including ones
    read back from parquet — the metadata rides the footer) raises
    driver-side on ANY mismatch before a job launches; legacy
    metadata-free indexes still get the in-task signature-width guard,
    which catches ``num_hashes`` but not ``bands``/``shingle_n`` (those
    mis-key the bands so nothing collides — why the metadata check
    exists).
    """
    hits = minhash_index_matches(new_df, index_df, id_col, text_col,
                                 num_hashes, bands, shingle_n, threshold,
                                 hash_family=hash_family)
    return new_df.join(hits, id_col, "left_anti")


def minhash_index_matches(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    broadcast_side: str = "auto",
    hash_family: str = "h60",
) -> DataFrame:
    """The DISTINCT ``id_col`` values of ``new_df`` that have a
    near-duplicate (estimated Jaccard >= ``threshold``) in the corpus
    behind ``index_df`` — the matched-id core shared by
    :func:`dedup_against_minhash_index` (drop survivors into the
    corpus) and ``corpus.decontaminate_fuzzy`` (drop/tag leaks against
    a benchmark index).

    ``broadcast_side`` picks which side of the band_key equi-join
    ships whole. ``"auto"`` (default) leaves the strategy to
    Catalyst/AQE: the common small side (a day's batch, a benchmark
    index) broadcasts at runtime from its MEASURED size, and a batch
    that scale inflated past the broadcast threshold — a 10M-doc
    backfill is 40M band rows at 4 bands — degrades to a shuffle join
    instead of an OOM (a forced hint has no such fallback; SCALE.md
    round-13 defect 1 is this exact failure in the rerank fetch).
    The forced overrides remain for sides that are small BY CONTRACT
    and must ship whole even when stats are missing or stale:
    ``"probes"`` (incremental dedup — a bounded batch probing a huge
    corpus index) broadcasts the batch's (id, sig, band_key) rows onto
    the index scan; ``"index"`` (fuzzy decontamination — a huge corpus
    probing a tiny benchmark index) broadcasts the index so the
    corpus's band rows stay distributed and nothing corpus-sized ever
    ships or shuffles."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    if broadcast_side not in ("auto", "probes", "index"):
        raise ValueError(
            f"broadcast_side must be auto|probes|index, got {broadcast_side!r}")
    _check_index_params(index_df, num_hashes, bands, shingle_n,
                        "minhash_index_matches", hash_family)
    probes = _banded_buckets(
        minhash_signatures(new_df, id_col, text_col, num_hashes, shingle_n,
                           hash_family),
        num_hashes, bands,
    ).selectExpr("id AS __new_id", "sig AS __new_sig", "band_key")
    guard = (
        f"CASE WHEN size(sig) != {num_hashes} THEN "
        f"raise_error(concat('minhash_index_matches: index signature "
        f"width ', CAST(size(sig) AS STRING), ' != probe num_hashes "
        f"{num_hashes} — rebuild the index with matching parameters')) "
        "ELSE sig END"
    )
    agree = "size(filter(zip_with(__new_sig, sig, (p, q) -> p = q), t -> t))"
    guarded = index_df.withColumn("sig", F.expr(guard))
    if broadcast_side == "probes":
        joined = guarded.join(F.broadcast(probes), "band_key")
    elif broadcast_side == "index":
        joined = probes.join(F.broadcast(guarded), "band_key")
    else:
        joined = guarded.join(probes, "band_key")
    return (
        joined
        .filter(F.expr(f"{agree} / {float(num_hashes)}D") >= threshold)
        .select(F.col("__new_id").alias(id_col))
        .distinct()
    )


def _bucket_local_pairs(
    buckets: DataFrame, key_cols: list[str], salt_cap: int | None,
    max_candidates: int | None = None,
    op: str = "pair generation", advice: str = "",
    pinned: list[DataFrame] | None = None,
) -> DataFrame:
    """Ordered (x, y) member-struct pairs within each bucket.

    ``max_candidates``: opt-in pre-flight budget on the pair volume the
    plan will ACTUALLY materialize — Σ C(m, 2) per bucket, except that
    buckets over ``salt_cap`` are costed at their salted volume
    (ceil(m/cap) sub-buckets of ≤ cap members + the hub replica, an
    upper bound that is far below C(m, 2) for hot buckets), so the
    budget never aborts a plan whose salting already tamed it. One
    count-aggregate over the bucket keys, raising
    ``CandidateBudgetExceeded`` before any pair materializes; while
    the budget is on, ``buckets`` is persisted so the estimate job,
    the hot-bucket detection pass and the main plan share ONE
    execution of the (potentially expensive) upstream subtree instead
    of three. Salting bounds PER-TASK work; this bounds TOTAL volume.

    ``buckets``: one row per (member, bucket); every non-key column is
    carried in the member struct, which MUST lead with ``id``.

    Pair generation is bucket-local: one groupBy gathers each bucket's
    members, ordered pairs come from two chained explodes — never
    all-pairs, never a self-join.

    Hot-bucket salting (``salt_cap``): a bucket with m members puts
    C(m,2) pairs AND an m-element collect_list on ONE task — a
    degenerate corpus (think 10^6 identical boilerplate pages sharing
    every band key) would single-task the job or OOM the aggregation
    buffer. Buckets larger than ``salt_cap`` are split into
    ceil(m/salt_cap) sub-buckets by id hash, with a replica of the
    bucket's min-id member (the hub) in every sub-bucket: each
    sub-bucket generates its pairs locally, the (hub, x) links keep
    the pair graph connected, and for true-duplicate floods the
    transitive closure (what dedup consumes) is IDENTICAL while
    per-task work drops from C(m,2) to ~C(salt_cap,2). Recall note:
    cross-sub-bucket pairs other than hub links are not emitted, so
    the raw pair list (not the closure) under-reports hot-bucket
    pairs — the documented trade for bounded tasks. Detection is a
    count+min pre-pass over the bucket keys (map-side combined,
    broadcast back), so organic corpora pay one cheap broadcast-hash
    probe and keep the single-aggregation plan shape.
    """
    if max_candidates is not None:
        buckets = buckets.persist()
        if pinned is not None:
            # released when the caller drops the result DataFrame —
            # see _release_on_gc (the operator entry points attach it)
            pinned.append(buckets)
        m = F.col("count").cast("bigint")
        plain_pairs = m * (m - 1) / 2
        if salt_cap is None:
            per_bucket = plain_pairs
        else:
            # salted volume upper bound: ceil(m/cap) sub-buckets, each
            # ≤ cap members + the hub replica → C(cap+1, 2) pairs
            cap = F.lit(int(salt_cap))
            salted_pairs = (F.ceil(m / cap).cast("bigint")
                            * ((cap + 1) * cap / 2))
            per_bucket = F.when(m > cap, salted_pairs).otherwise(plain_pairs)
        est_row = (
            buckets.groupBy(*key_cols).count()
            .select(F.sum(per_bucket.cast("bigint")).alias("est"))
            .first()
        )
        estimate = int(est_row["est"] or 0)
        if estimate > max_candidates:
            buckets.unpersist()
            raise CandidateBudgetExceeded(estimate, max_candidates,
                                          op=op, advice=advice)

    member = F.struct(*[c for c in buckets.columns if c not in key_cols])

    def _plain() -> DataFrame:
        members = (
            buckets.groupBy(*key_cols)
            .agg(F.collect_list(member).alias("ms"))
            .filter(F.size("ms") > 1)
        )
        return members.selectExpr("explode(ms) AS x", "ms").selectExpr(
            "x", "explode(filter(ms, m -> m.id > x.id)) AS y"
        )

    if salt_cap is None:
        return _plain()
    if salt_cap < 2:
        raise ValueError("salt_cap must be >= 2")
    payload_cols = [c for c in buckets.columns if c not in key_cols]
    # Hot-bucket detection: count + min-id member (the hub) per bucket,
    # map-side combined, filtered to buckets over the cap — a
    # metadata-sized result (hot keys only, normally zero rows)
    # COLLECTED driver-side. Inlining the collected rows as a local
    # DataFrame keeps the salted plan to a SINGLE execution of the
    # expensive signature subtree (leaving `hot` as a lazy subplan
    # embeds that subtree three times — main, broadcast, hub — and
    # ReuseExchange does not dedupe the differently-pruned copies;
    # measured 1.8x on the sf0.1 bench).
    #
    # The no-hot-bucket outcome (the organic-corpus case) is memoized
    # by plan semantic hash, so repeated runs of the same pipeline pay
    # the detection pass once. Only the NEGATIVE result is cached: a
    # stale negative merely reproduces the plain (pre-salting) plan —
    # correct output, bounded risk — while a stale positive could
    # inject outdated hub members into the pair stream, so positives
    # re-detect every call.
    spark = buckets.sparkSession
    hot = (
        buckets.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__cnt"), F.min(member).alias("__hub"))
        .filter(F.col("__cnt") > salt_cap)
        .select(
            *key_cols,
            F.ceil(F.col("__cnt") / salt_cap).cast("int").alias("__nsalt"),
            "__hub",
        )
    )
    cache_key = _probe_key(hot, salt_cap)
    if cache_key is not None and cache_key in _NO_HOT_BUCKET_CACHE:
        return _plain()
    hot_rows = hot.collect()
    if not hot_rows:
        _memoize_negative(cache_key)
        return _plain()
    hot_local = spark.createDataFrame(hot_rows, hot.schema)
    salted = (
        buckets.join(
            F.broadcast(hot_local.select(*key_cols, "__nsalt")), key_cols, "left"
        )
        .withColumn(
            "__salt",
            F.when(
                F.col("__nsalt").isNotNull(),
                F.pmod(F.xxhash64("id"), F.col("__nsalt")),
            ).otherwise(F.lit(0)),
        )
        .select(*key_cols, "__salt", *payload_cols)
    )
    # a replica of the hub joins every sub-bucket except its own, so
    # each sub-bucket's intra pairs include the (hub, x) links that
    # keep the bucket's pair graph connected
    hub_rows = (
        hot_local.withColumn(
            "__s", F.explode(F.sequence(F.lit(0), F.col("__nsalt") - 1))
        )
        .withColumn("__salt", F.col("__s").cast("long"))
        .filter(F.col("__salt") != F.pmod(F.xxhash64("__hub.id"), F.col("__nsalt")))
        .select(*key_cols, "__salt", *[F.col(f"__hub.{c}").alias(c) for c in payload_cols])
    )
    members = (
        salted.unionByName(hub_rows)
        .groupBy(*key_cols, "__salt")
        .agg(F.collect_list(F.struct(*payload_cols)).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    return members.selectExpr("explode(ms) AS x", "ms").selectExpr(
        "x", "explode(filter(ms, m -> m.id > x.id)) AS y"
    )


# (application id, detection-plan semantic hash, threshold) -> True when
# detection found NO hot keys/lists. Advisory (see _bucket_local_pairs);
# LRU-bounded like io._SPREAD_PROBE_CACHE.
# Invalidation story (mirrors pq._OCCUPANCY_CACHE's memo contract):
# keys are (applicationId, plan semanticHash, salt_cap) — a new
# session, a changed input plan, or a changed cap each mint a new key,
# so the only stale-entry scenario is the SAME plan re-reading a
# mutated external table within one application. That scenario can
# only replay the plain (pre-salting) plan — output stays correct,
# worst case is a missed salting optimization for the session's life —
# because positives are never cached (they re-detect every call, see
# the memo comment at the call sites). LRU-bounded.
_NO_HOT_BUCKET_CACHE: dict = {}
_NO_HOT_BUCKET_CACHE_MAX = 256


def _probe_key(df: DataFrame, extra) -> tuple | None:
    try:
        return (df.sparkSession.sparkContext.applicationId, df.semanticHash(), extra)
    except Exception:
        return None


def _memoize_negative(key: tuple | None) -> None:
    if key is None:
        return
    _NO_HOT_BUCKET_CACHE[key] = True
    while len(_NO_HOT_BUCKET_CACHE) > _NO_HOT_BUCKET_CACHE_MAX:
        _NO_HOT_BUCKET_CACHE.pop(next(iter(_NO_HOT_BUCKET_CACHE)))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    cache: bool = False,
    salt_cap: int | None = 512,
    max_candidates: int | None = None,
    hash_family: str = "h60",
) -> DataFrame:
    """Candidate pairs via LSH banding, scored by signature agreement.

    bands x rows layout: band b's key = md5 of its signature slice.
    Docs sharing any band key become candidates. Estimated Jaccard =
    fraction of the num_hashes signature positions that agree; pairs
    >= threshold kept.

    Pair generation is bucket-local: one groupBy(band_key) gathers each
    bucket's (id, signature) members, ordered pairs come from two
    chained explodes over the member list — never all-pairs, never a
    self-join. vs the band-key self-join formulation this computes the
    signatures ONCE and shuffles them once (the join shuffles both
    sides and re-runs — or forces a persist of — the whole
    shingle->minhash pipeline for the second side). LSH banding keeps
    buckets small on organic corpora; ``salt_cap`` (default 512)
    splits degenerate hot buckets so no single task ever owns more
    than ~C(salt_cap,2) pair work — see ``_bucket_local_pairs`` for
    the recall note. Signatures are persisted while salting is on so
    the count-only hot-key pre-pass doesn't recompute the shingle
    pipeline.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n,
                             hash_family)
    if cache:
        # also worth enabling when salting is on at large scale: the
        # hot-bucket pre-agg is a second consumer of the signature
        # subtree, and persisting trades one in-memory materialization
        # for the recompute. At gate/bench scale the materialization
        # costs MORE than the recompute (measured ~+0.9s vs +0.2s at
        # sf0.1), so it stays opt-in.
        sig = sig.persist()
    buckets = _banded_buckets(sig, num_hashes, bands)
    pinned: list[DataFrame] = []
    pairs = _bucket_local_pairs(
        buckets, ["band_key"], salt_cap, max_candidates,
        op="minhash_lsh_pairs",
        advice=("Band buckets are saturated; raise rows-per-band "
                "selectivity (more num_hashes at fixed bands, or fewer "
                "bands) so bucket membership requires longer signature "
                "agreement. The estimate already accounts for salting."),
        pinned=pinned)
    agree = "size(filter(zip_with(x.sig, y.sig, (p, q) -> p = q), t -> t))"
    return _release_on_gc(
        pairs.selectExpr(
            "x.id AS id_a",
            "y.id AS id_b",
            # "D" suffix: a bare 8.0 literal parses as DECIMAL(2,1) in
            # Spark SQL and would flip the output dtype to decimal
            f"{agree} / {float(num_hashes)}D AS est_jaccard",
        )
        # threshold BEFORE distinct: est_jaccard is a pure function of
        # the pair, so the order is semantics-free, but sub-threshold
        # candidates (the majority at scale) never reach the dedup
        # shuffle this way
        .filter(F.col("est_jaccard") >= threshold)
        .distinct()  # a pair can collide in several bands
    , pinned)


def minhash_lsh_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    left_signatures: DataFrame | None = None,
    right_signatures: DataFrame | None = None,
    hash_family: str = "h60",
) -> DataFrame:
    """Cross-set LSH candidates: (left, right) pairs sharing a band key
    with estimated Jaccard >= threshold — incremental dedup of a new
    batch against an existing corpus (the text twin of
    :func:`embedding_cosine_join`).

    Both sides compute signatures independently; the join is
    per-band-bucket on the band hash, so cost ∝ matching buckets,
    never |left|×|right|. Output ids: ``id_left`` / ``id_right``
    (sides kept distinct — the same id may appear on both).

    ``left_signatures`` / ``right_signatures`` take a PRECOMPUTED
    :func:`minhash_signatures` output (schema ``id, mh_0..mh_{k-1}``,
    e.g. a parquet signature table maintained incrementally) for that
    side instead of recomputing from text — at 100 TB this is the
    production shape: the corpus side's signatures are written once
    per ingest batch and only the new batch ever re-shingles, so the
    nightly dedup never re-reads corpus text. The corresponding
    ``left``/``right`` frame is ignored for that side (pass the
    signature frame's own ids).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    sig_cols = [f"mh_{i}" for i in range(num_hashes)]

    def banded(df: DataFrame, precomputed: DataFrame | None) -> DataFrame:
        if precomputed is not None:
            missing = [c for c in ["id", *sig_cols] if c not in precomputed.columns]
            if missing:
                raise ValueError(
                    f"signature frame is missing columns {missing} — expected "
                    f"minhash_signatures output for num_hashes={num_hashes}"
                )
            # fail fast on a family/shingle mismatch recorded in the
            # frame's own stamp (r14 ADVICE): mixing an h60-built
            # signature table with hash_family='xxhash64' (or a
            # different shingle_n) yields band keys that never collide
            # — zero matches, silently. num_hashes is DELIBERATELY
            # exempt when the frame is WIDER than asked: the affine
            # consts are index-deterministic (minhash_affine_consts),
            # so mh_0..mh_{n-1} of a wider frame ARE the num_hashes=n
            # signatures and banding a prefix is statistically sound
            # (a narrower frame than asked already fails the column
            # check above). Unstamped legacy frames pass through on
            # the caller's word, as before.
            built = minhash_signature_params(precomputed)
            if built is not None:
                asked = {"shingle_n": shingle_n,
                         "hash_family": hash_family}
                diff = {k: (asked[k], built[k]) for k in asked
                        if asked[k] != built[k]}
                if built["num_hashes"] < num_hashes:
                    diff["num_hashes"] = (num_hashes,
                                          built["num_hashes"])
                if diff:
                    detail = ", ".join(
                        f"{k}={a} but the signature frame was built "
                        f"with {b}" for k, (a, b) in diff.items())
                    raise ValueError(
                        f"minhash_lsh_join: parameters conflict with a "
                        f"precomputed signature frame ({detail}). A "
                        "mismatched hash_family/shingle_n makes band "
                        "keys that never collide — zero candidates, "
                        "silently — so this is an error, not a "
                        "warning. Pass the frame's own parameters or "
                        "recompute the signatures.")
            sig = precomputed
        else:
            sig = minhash_signatures(df, id_col, text_col, num_hashes,
                                     shingle_n, hash_family)
        return _banded_buckets(sig, num_hashes, bands)

    lb = banded(left, left_signatures).selectExpr("id AS id_left", "sig AS sig_l", "band_key")
    rb = banded(right, right_signatures).selectExpr("id AS id_right", "sig AS sig_r", "band_key")
    agree = "size(filter(zip_with(sig_l, sig_r, (p, q) -> p = q), t -> t))"
    return (
        lb.join(rb, "band_key")
        .selectExpr(
            "id_left", "id_right",
            f"{agree} / {float(num_hashes)}D AS est_jaccard",
        )
        .filter(F.col("est_jaccard") >= threshold)
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
) -> DataFrame:
    """60-bit SimHash over token hashes.

    bit i of the fingerprint = 1 iff sum over tokens of
    (token_hash bit i ? +1 : -1) > 0. Computed as ``bits`` independent
    conditional sums in one groupBy — wide but fully codegen'd, no UDF.
    (h60 is 60 bits; bits must be <= 60.)
    """
    if bits > 60:
        raise ValueError("h60 provides 60 usable bits")
    # no spread_small_scan here: one h60 per TOKEN is light enough that
    # the extra exchange costs more than single-core map time saves
    # (unlike the per-shingle md5 streams in ngram/minhash above)
    toks = df.selectExpr(
        f"{sql_ident(id_col)} AS id", f"explode({tokens_sql(sql_ident(text_col))}) AS tok"
    ).selectExpr("id", f"{h60_sql('tok')} AS h")
    # the per-bit expressions are built as SQL text and parsed once:
    # composing them from nested Column ops costs ~2 py4j round trips
    # per operator (~1.3s of plan construction for 32 bits, measured) —
    # the parsed plan is identical
    bit_sums = [
        F.expr(f"sum(IF(((h >> {i}) & 1) = 1, 1, -1))").alias(f"b{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("id").agg(*bit_sums)
    fp = F.expr(
        "CAST(" + " + ".join(f"(IF(b{i} > 0, {2 ** i}L, 0L))" for i in range(bits)) + " AS BIGINT)"
    )
    return agg.select("id", fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 60,
    blocks: int = 4,
    cache: bool = False,
    salt_cap: int | None = 512,
    max_candidates: int | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    Pigeonhole blocking: split the fingerprint into ``blocks`` chunks;
    any pair within distance max_hamming < blocks agrees on at least one
    full chunk, so candidates only arise between docs sharing a chunk
    value — never an all-pairs scan (the standard SimHash sharding
    trick). Pair generation is bucket-local (groupBy chunk value +
    chained explodes, see ``minhash_lsh_pairs``): the fingerprints are
    computed once and shuffled once, no self-join. ``salt_cap``
    (default 512) splits degenerate hot chunks — e.g. a boilerplate
    flood sharing a fingerprint — so no task owns more than
    ~C(salt_cap,2) pair work (``_bucket_local_pairs`` recall note).
    """
    fps = simhash(df, id_col, text_col, bits)
    if cache:
        # see minhash_lsh_pairs: persisting for the salting pre-agg is
        # a scale-time win but a small-input loss; opt-in via cache
        fps = fps.persist()
    return hamming_pairs(fps, max_hamming=max_hamming, bits=bits,
                         blocks=blocks, id_col="id", code_col="simhash",
                         salt_cap=salt_cap, max_candidates=max_candidates)


def hamming_pairs(
    fps: DataFrame,
    max_hamming: int,
    bits: int,
    blocks: int = 4,
    id_col: str = "id",
    code_col: str = "simhash",
    salt_cap: int | None = 512,
    max_candidates: int | None = None,
) -> DataFrame:
    """Generic hamming-distance self-join over any precomputed bit
    code column (SimHash fingerprints, perceptual image hashes, locality
    codes): pigeonhole chunk blocking + bucket-local pair generation,
    never an all-pairs scan. Shared engine behind ``simhash_pairs`` and
    the multimodal aHash dedup."""
    if max_hamming >= blocks:
        raise ValueError("need max_hamming < blocks for pigeonhole blocking")
    if id_col != "id" or code_col != "simhash":
        fps = fps.select(F.col(id_col).alias("id"),
                         F.col(code_col).alias("simhash"))
    chunk_bits = bits // blocks
    mask = (1 << chunk_bits) - 1
    chunks = ", ".join(
        f"concat_ws(':', '{i}', CAST((shiftright(simhash, {i * chunk_bits}) & {mask}) AS STRING))"
        for i in range(blocks)
    )
    blocked = fps.selectExpr("id", "simhash", f"explode(array({chunks})) AS blk")
    pinned: list[DataFrame] = []
    pairs = _bucket_local_pairs(
        blocked, ["blk"], salt_cap, max_candidates,
        op="hamming_pairs",
        advice=("Fingerprint chunks are saturated (many codes share "
                "chunk values); widen the code (more bits) or raise "
                "blocks so chunks carry more distinguishing bits. The "
                "estimate already accounts for salting."),
        pinned=pinned)
    return _release_on_gc(
        pairs.selectExpr(
            "x.id AS id_a",
            "y.id AS id_b",
            "bit_count(x.simhash ^ y.simhash) AS hamming",
        )
        # hamming is pair-deterministic: filtering before the distinct
        # keeps far-apart candidates (the bulk at scale) out of the
        # dedup shuffle
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    , pinned)


# ---------------------------------------------------------------------------
# near-dup clustering (pairs -> connected components -> canonical docs)
# ---------------------------------------------------------------------------
def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    algorithm: str = "label",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, component) for every id in ``pairs``; component = min id
    reachable through the pair graph.

    ``algorithm="label"`` (default): min-label propagation — every node
    starts labeled with itself; each round every node takes the min
    label over itself and its neighbors; converged when no label
    changes. Rounds = graph diameter — near-dup graphs are unions of
    near-cliques (a cluster of copies pairs up densely), so 2-4 rounds
    in practice. Each round is one shuffle of the (small) label table
    against the edge list plus one convergence count.

    ``algorithm="star"``: alternating large-star/small-star (Kiveris
    et al., "Connected Components in MapReduce and Beyond") — converges
    in O(log^2 n) rounds regardless of diameter, the right choice for
    adversarial deep-chain graphs where label propagation would need
    diameter rounds. Slightly more shuffle per round (two star ops),
    so the near-clique default stays "label".

    Both raise RuntimeError if ``max_iterations`` is hit before the
    fixed point: silently truncating a dedup clustering would keep or
    drop the WRONG documents downstream with no signal.

    ``checkpoint_dir``: per-round materialization is an executor-local
    checkpoint by default (fastest, but lost on executor death); pass
    a shared-filesystem path to use reliable fault-tolerant
    ``checkpoint()`` instead — the right setting for long cluster jobs
    (``functions/iterate.py``).
    """
    edges = (
        pairs.selectExpr(f"{sql_ident(id_a)} AS u", f"{sql_ident(id_b)} AS v")
        .filter("u <> v")
    )
    if algorithm == "star":
        return _cc_alternating_star(edges, max_iterations, checkpoint_dir)
    if algorithm != "label":
        raise ValueError(f"unknown connected-components algorithm: {algorithm!r}")
    # materialize (not persist): iterative plans re-embed their full
    # upstream tree every round — persist short-circuits execution but
    # Catalyst still re-analyzes the ever-growing logical plan (driver
    # OOM by round ~5 when the pair generator is itself a big plan);
    # checkpointing truncates lineage to the materialized partitions
    # (reliable + recoverable when checkpoint_dir is set)
    sym = materialize(
        edges.union(edges.selectExpr("v AS u", "u AS v")), checkpoint_dir)
    nodes = sym.select(F.col("u").alias("id")).distinct()
    labels = materialize(
        nodes.select("id", F.col("id").alias("comp")), checkpoint_dir)
    changed = -1
    for _ in range(max_iterations):
        neigh = (
            sym.join(labels.selectExpr("id AS u", "comp AS ucomp"), "u")
            .groupBy(F.col("v").alias("id"))
            .agg(F.min("ucomp").alias("ncomp"))
        )
        new_labels = materialize(
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("ncomp", F.col("comp"))).alias("comp"),
            ),
            checkpoint_dir,
        )
        changed = new_labels.join(
            labels.selectExpr("id", "comp AS old_comp"), "id"
        ).filter("comp <> old_comp").count()
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components(algorithm='label') did not converge in "
            f"{max_iterations} rounds ({changed} labels still changing): the "
            f"pair graph has diameter > {max_iterations} (deep chains). "
            "Use algorithm='star' (alternating-star, O(log^2 n) rounds "
            "regardless of diameter) or raise max_iterations."
        )
    return labels.select("id", F.col("comp").alias("component"))


def _cc_alternating_star(
    edges: DataFrame, max_iterations: int, checkpoint_dir: str | None = None
) -> DataFrame:
    """Alternating large-star / small-star connected components.

    Kiveris et al. 2014: repeatedly rewrite the edge set so every node
    points at ever-smaller representatives; at the fixed point the
    edges form stars rooted at each component's min id.

    - large-star: for each node u with m = min(N(u) ∪ {u}), emit
      (v, m) for every neighbor v > u.
    - small-star: orient edges large→small, then for each node u with
      m = min(N(u)) emit (v, m) for every smaller neighbor v plus
      (u, m).

    Each op is one shuffle (groupBy-min + rejoin); the edge set only
    shrinks toward stars, and convergence is O(log^2 n) rounds
    independent of graph diameter — this is the deep-chain escalation
    path from the "label" default.
    """
    nodes = materialize(
        edges.select(F.col("u").alias("id"))
        .union(edges.select(F.col("v").alias("id")))
        .distinct(),
        checkpoint_dir,
    )
    cur = materialize(edges.select("u", "v").distinct(), checkpoint_dir)

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter("u <> v")
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        joined = oriented.join(mins, "u")
        return (
            joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
            .filter("u <> v")
            .distinct()
        )

    converged = False
    for _ in range(max_iterations):
        nxt = materialize(_small_star(_large_star(cur)), checkpoint_dir)
        # fixed point iff the edge sets are identical; both are distinct
        # sets so two anti-join counts decide it (metadata-sized work —
        # star edge sets shrink toward one edge per non-root node)
        if (
            nxt.join(cur, ["u", "v"], "left_anti").limit(1).count() == 0
            and cur.join(nxt, ["u", "v"], "left_anti").limit(1).count() == 0
        ):
            cur = nxt
            converged = True
            break
        cur = nxt
    if not converged:
        raise RuntimeError(
            f"connected_components(algorithm='star') did not converge in "
            f"{max_iterations} rounds — raise max_iterations (O(log^2 n) "
            "rounds expected; this graph is adversarial or max_iterations "
            "is set very low)."
        )
    # at the fixed point each non-root has exactly one edge u→root; the
    # groupBy-min is plan insurance that a join fan-out is impossible
    roots = cur.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("root"))
    return (
        nodes.join(roots, "id", "left")
        .select("id", F.coalesce("root", F.col("id")).alias("component"))
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    algorithm: str = "label",
) -> DataFrame:
    """(id, cluster_id) for EVERY row of ``df``: near-dup cluster
    representative (min id) for paired docs, self for singletons."""
    comp = connected_components(pairs, id_a, id_b, algorithm=algorithm)
    return (
        df.select(F.col(id_col))
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
    )


def dedup_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    algorithm: str = "label",
) -> DataFrame:
    """The deduplicated corpus: keep one representative row (the min id)
    per near-dup cluster, all original columns intact — the endpoint a
    pipeline actually writes after pair generation + clustering.

    Representatives are exactly the rows whose id equals their cluster
    label, so this is one semi-join of labels against the corpus — no
    row bodies move through the clustering itself.
    """
    labels = dedup_clusters(df, pairs, id_col, id_a, id_b, algorithm=algorithm)
    reps = labels.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
    return df.join(reps, id_col, "left_semi")


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------
def cosine_cols(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns, JVM-side."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def embedding_lsh_pairs(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    planes: int | str = 8,
    tables: int = 2,
    salt_cap: int | None = 512,
    max_candidates: int | None = None,
    target_occupancy: int = 8,
) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH buckets —
    the 100 TB path PAST block GEMM: :func:`embedding_cosine_pairs`
    compares every block pair (B(B+1)/2 tasks over the whole corpus);
    here only vectors sharing a sign-pattern bucket in >= 1 of
    ``tables`` hash tables are compared, so cost follows bucket
    occupancy, not corpus size squared. Recall is tunable with
    ``planes`` (coarser buckets) / ``tables`` (more chances to
    collide); exact cosine then filters candidates, so precision is
    exact. Hyperplanes are md5-derived literals (same constants the
    DuckDB oracle embeds — no RNG state to ship).

    **Scaling rule (measured, SCALE.md "Exact → LSH crossover"):**
    bucket count is ``2**planes`` per table, so with FIXED planes the
    candidate volume grows ~n²/2^planes — still quadratic (measured
    ×12.9 wall at 10× rows with planes=8). Scale
    ``planes ≈ log2(n / target_occupancy)`` (~8 at 2k vectors, 12 at
    20k, 22 at 20M) to hold occupancy constant; cost is then
    tables·n·occupancy candidate cosines — linear in n (measured back
    to ×5.2 at 10× rows). Below ~10⁵ vectors the exact block-GEMM path
    (:func:`embedding_cosine_pairs`) is outright faster (BLAS per-pair
    cost ≪ expression-evaluated cosine); above it, exact is infeasible
    and this path with ``max_candidates`` set is the 100 TB route.
    ``planes="auto"`` applies that rule in-plan: one count aggregate
    over the corpus (cheap next to the pair join it sizes; pass an
    explicit int to skip the extra scan) derives
    ``max(4, ceil(log2(n / target_occupancy)))``, so a pipeline that
    grows 1000× between runs re-tunes itself instead of silently going
    quadratic.

    Bucket pair generation reuses the salted collect_list machinery
    (:func:`_bucket_local_pairs`): a degenerate corpus of near-identical
    embeddings cannot single-task the job. Output: (id_a < id_b,
    cosine rounded 1e-6), threshold-filtered BEFORE the cross-table
    distinct.
    """
    from etl_router_spark.functions.pq import vec_col_sql
    from etl_router_spark.functions.similarity import lsh_bucket_keys_sql

    if planes == "auto":
        n = df.count()
        planes = max(4, math.ceil(math.log2(max(n, 1) / target_occupancy))
                     if n > target_occupancy else 0)
    elif not isinstance(planes, int):
        raise ValueError(f"planes must be an int or 'auto', got {planes!r}")

    vec = vec_col_sql(vec_col)
    keys = lsh_bucket_keys_sql(vec, dim, planes, tables)
    buckets = df.selectExpr(
        f"{sql_ident(id_col)} AS id",
        f"{vec} AS vec",
        f"explode({keys}) AS bucket",
    )
    pinned: list[DataFrame] = []
    pairs = _bucket_local_pairs(
        buckets, ["bucket"], salt_cap, max_candidates,
        op="embedding_lsh_pairs",
        advice=("Hyperplane buckets are saturated (near-identical "
                "embeddings); raise planes for finer buckets, or "
                "pre-dedup exact duplicates first. The estimate "
                "already accounts for salting."),
        pinned=pinned)
    cos = F.round(cosine_cols(F.col("x.vec"), F.col("y.vec")), 6)
    return _release_on_gc(
        pairs.select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()
    , pinned)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_cells: int | str = 8,
    centroids: list[tuple[int, list[float]]] | None = None,
    cell_col: str = "cell",
    salt_cap: int | None = None,
    max_candidates: int | None = None,
    target_occupancy: int = 256,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings into coarse cells, prune
    near-duplicates WITHIN each cell, keep one representative. Returns
    the input rows (plus ``cell_col``) minus every row that has a
    smaller-id same-cell neighbor at cosine >= ``threshold`` — the
    deterministic greedy the paper's ε-ball pruning reduces to under a
    fixed ordering, so the DuckDB oracle is value-exact.

    The 100 TB shape mirrors ``ivfpq_topk``'s candidate generation:
    cell assignment is map-side via
    :func:`~etl_router_spark.functions.pq.with_cells` (the shared
    :func:`~etl_router_spark.functions.pq.cell_assign_sql` contract —
    rounded squared L2, lowest-cid ties — as a literal expression at
    small cell counts, Arrow-vectorized numpy at data-sized ones; the
    corpus never shuffles to be assigned), and pair generation is
    bucket-local per
    cell via the budgeted ``_bucket_local_pairs`` machinery, so cost
    follows cell occupancy, never corpus². Quadratic within-cell work
    is the POINT of the coarse quantizer: cells bound the pair problem
    the way planes bound it for :func:`embedding_lsh_pairs`; size
    ``n_cells`` so n/n_cells vectors fit a task (and set
    ``max_candidates`` as the fail-fast backstop). Unlike the LSH
    path this prunes across the WHOLE cell at any threshold — the
    paper runs it at low thresholds where hyperplane recall collapses.

    ``salt_cap`` defaults to **None** (unlike the pair operators):
    hot-cell salting only emits sub-bucket-local + hub-link pairs,
    which is lossless for TRANSITIVE-CLOSURE consumers, but cosine
    similarity is not transitive — a row whose only smaller-id
    superthreshold neighbor hashes to a different sub-bucket would be
    silently kept, violating this operator's "drop every row with a
    smaller-id same-cell neighbor" contract (and diverging from the
    whole-cell oracle). The blow-up guards here are ``n_cells`` /
    ``target_occupancy`` (bound cell size by construction) and
    ``max_candidates`` (fail fast when a cell saturates anyway).
    Opting into ``salt_cap`` trades that recall for bounded per-task
    work on degenerate corpora — do so only when an approximate prune
    is acceptable.

    ``centroids``: (cid, vector) list; defaults to the ``n_cells``
    lowest-id corpus vectors (the ``ivf_topk`` deterministic stand-in;
    production trains them with ``train_ivf_centroids``).
    ``n_cells="auto"`` sizes cells from one count aggregate, through
    the SHARED sizing function
    (:func:`~etl_router_spark.functions.pq.suggest_n_centroids` with
    ``target_occupancy`` — ``ceil(n / target_occupancy)``), so
    within-cell pair volume stays cells·C(occupancy, 2) ∝ n as the
    corpus grows (measured ×9.1 at 10× rows with occupancy pinned;
    SCALE.md), the same self-tuning rule as ``planes="auto"`` on
    :func:`embedding_lsh_pairs`. The DIVISOR differs from
    ``pq_index``'s sqrt(n) default on purpose: dedup is
    pair-generation-bound (occupancy must be pinned), indexing is
    probe-bound (sqrt(n) balances scan vs probe) — the rationale
    lives on ``suggest_n_centroids``.
    """
    from etl_router_spark.functions.pq import (
        standin_centroids,
        suggest_n_centroids,
        vec_col_sql,
        with_cells,
    )

    if n_cells == "auto":
        n = df.count()
        # n == 0 falls through to standin_centroids' named empty-corpus
        # error rather than tripping suggest_n_centroids' n > 0 check
        n_cells = (suggest_n_centroids(n, target_occupancy=target_occupancy)
                   if n else 1)
    elif not isinstance(n_cells, int):
        raise ValueError(f"n_cells must be an int or 'auto', got {n_cells!r}")
    if centroids is None:
        # shared stand-in + assignment contract with ivfpq_topk — ONE
        # definition (pq.standin_centroids / pq.cell_assign_sql) so the
        # two operators and their DuckDB oracles cannot desynchronize
        centroids = standin_centroids(df, id_col, vec_col, n_cells)
    elif not centroids:
        raise ValueError(
            "centroids= is empty; an empty stand-in would put every "
            "row in one NULL cell and silently go corpus-quadratic")
    vec = vec_col_sql(vec_col)
    # with_cells = the shared assignment contract with pq_index's size
    # dispatch: expression below 64 cells (oracle-gate fixtures keep
    # their pure-JVM plan), Arrow-vectorized numpy above it — at
    # n_cells="auto" the cell count is ceil(n/occupancy), so at scale
    # the interpreted-lambda expression would cost O(n/occupancy x
    # dims) per row (see pq._ARROW_ASSIGN_MIN_CELLS)
    assigned = with_cells(df, vec_col, centroids, cell_col)
    buckets = assigned.selectExpr(
        f"{sql_ident(id_col)} AS id", f"{vec} AS vec", f"{sql_ident(cell_col)} AS __cell")
    pinned: list[DataFrame] = []
    pairs = _bucket_local_pairs(
        buckets, ["__cell"], salt_cap, max_candidates,
        op="semantic_dedup",
        advice=("A cell is saturated (boilerplate embeddings or too few "
                "cells). Raise n_cells / train real centroids, or exact-"
                "dedup identical vectors first. The estimate already "
                "accounts for salting."),
        pinned=pinned)
    cos = F.round(cosine_cols(F.col("x.vec"), F.col("y.vec")), 6)
    dropped = (
        pairs.filter(cos >= threshold)
        .select(F.col("y.id").alias(id_col))
        .distinct()
    )
    return _release_on_gc(
        assigned.join(dropped, id_col, "left_anti"), pinned)


CosineMethod = Literal["block", "blas", "sql"]


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    method: CosineMethod = "block",
    num_blocks: int = 16,
) -> DataFrame:
    """Exact near-dup pairs by cosine >= threshold (brute-force).

    ``method="block"`` (default, the scale path): distributed block
    GEMM. Vectors are hashed into ``num_blocks`` blocks; each of the
    B*(B+1)/2 unordered block pairs is an independent task that pulls
    exactly two blocks into memory and runs one BLAS GEMM. No driver
    collect anywhere in the plan — executor memory is bounded by
    2*(n/B) vectors per task regardless of corpus size, and the O(n^2)
    compute (inherent to *exact* all-pairs) spreads over B^2/2 tasks.
    LSH cannot replace this when the threshold is low (at 0.38 a
    3-plane/4-table scheme misses ~33% of true pairs); for
    high-threshold near-dup use the banded paths above.

    **Crossover rule (measured, SCALE.md "Exact → LSH crossover"):**
    exact all-pairs is O(n²) by contract but BLAS-dense — measured
    ×2.29 wall at 10× rows (= 100× pairs) on 20k×64-d, where it still
    beats the best-tuned :func:`embedding_lsh_pairs` (1.71 s vs
    4.89 s). The wall-clock crossover sits around 10⁵–10⁶ vectors for
    64-d; beyond that (or at any 100 TB corpus) flip to
    ``embedding_lsh_pairs`` with ``planes ≈ log2(n/occupancy)`` and a
    ``max_candidates`` budget. Keep this exact path for low thresholds
    (< ~0.6), re-rank stages, and per-block/per-bucket sub-problems.

    ``method="blas"``: single-broadcast GEMM — the whole corpus is
    collected, normalized and broadcast once; fastest when the corpus
    fits on the driver (benchmarks, re-rank stages), NOT a 100 TB path.

    ``method="sql"``: pure Column-expression path (zip_with/aggregate
    upper-triangle join) — engine-portable, used to cross-check.
    """
    if method == "sql":
        v = df.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
        a, b = v.alias("a"), v.alias("b")
        cos = cosine_cols(F.col("a.v"), F.col("b.v"))
        return (
            a.join(b, F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    F.round(cos, 6).alias("cosine"))
            .filter(F.col("cosine") >= threshold)
        )
    if method == "block":
        return _block_cosine_pairs(df, id_col, vec_col, threshold, num_blocks)
    if method != "blas":
        raise ValueError(f"method must be one of {get_args(CosineMethod)}")

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    rows = df.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    # broadcast side: ids + L2-normalized matrix. This is the corpus
    # block — same role as F.broadcast on a dimension table.
    collected = rows.collect()
    ids = np.array([r.id for r in collected], dtype=np.int64)
    mat = np.array([r.v for r in collected], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    matn = mat / np.where(norms == 0, 1.0, norms)
    sc = df.sparkSession.sparkContext
    b_ids = sc.broadcast(ids)
    b_mat = sc.broadcast(matn)

    out_schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ])

    def gemm_block(batches):
        corpus_ids = b_ids.value
        corpus = b_mat.value
        for pdf in batches:
            if pdf.empty:
                continue
            q_ids = pdf["id"].to_numpy(dtype=np.int64)
            q = np.array(list(pdf["v"]), dtype=np.float64)
            qn = np.linalg.norm(q, axis=1, keepdims=True)
            q = q / np.where(qn == 0, 1.0, qn)
            sims = np.round(q @ corpus.T, 6)  # one GEMM per batch
            # upper triangle only (id_a < id_b), threshold filter
            ai, bi = np.nonzero((sims >= threshold) & (q_ids[:, None] < corpus_ids[None, :]))
            yield pd.DataFrame({
                "id_a": q_ids[ai],
                "id_b": corpus_ids[bi],
                "cosine": sims[ai, bi],
            })

    return rows.mapInPandas(gemm_block, schema=out_schema)


def embedding_cosine_join(
    left: DataFrame,
    right: DataFrame,
    id_left: str = "vec_id",
    id_right: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    left_blocks: int = 4,
    right_blocks: int = 4,
) -> DataFrame:
    """Exact cross-set cosine join: every (left, right) pair with
    cosine >= threshold — the incremental-dedup / decontamination
    shape ("which new docs near-duplicate the existing corpus?").

    Same distributed block-GEMM design as the self-join variant
    (:func:`embedding_cosine_pairs` ``method="block"``): left rows hash
    into ``left_blocks``, right rows into ``right_blocks``; each of the
    Bl*Br block pairs is one task holding exactly one block per side
    (one GEMM). Row replication is Br per left row / Bl per right row,
    so executor memory stays bounded by |left|/Bl + |right|/Br vectors
    per task at any corpus size; no driver collect in the plan.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    lrows = left.select(
        F.col(id_left).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.lit("l").alias("side"),
        F.pmod(F.xxhash64(F.col(id_left)), F.lit(left_blocks)).cast("int").alias("bi"),
    ).withColumn("bj", F.explode(F.array(*[F.lit(j) for j in range(right_blocks)])))
    rrows = right.select(
        F.col(id_right).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.lit("r").alias("side"),
        F.pmod(F.xxhash64(F.col(id_right)), F.lit(right_blocks)).cast("int").alias("bj"),
    ).withColumn("bi", F.explode(F.array(*[F.lit(i) for i in range(left_blocks)])))
    both = lrows.unionByName(rrows)

    out_schema = T.StructType([
        T.StructField("id_left", T.LongType()),
        T.StructField("id_right", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ])

    def gemm_cross(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        is_l = (pdf["side"] == "l").to_numpy()
        li, ri = np.nonzero(is_l)[0], np.nonzero(~is_l)[0]
        empty = pd.DataFrame({"id_left": [], "id_right": [], "cosine": []}).astype(
            {"id_left": "int64", "id_right": "int64", "cosine": "float64"})
        if not len(li) or not len(ri):
            return empty
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["v"]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        matn = mat / np.where(norms == 0, 1.0, norms)
        sims = np.round(matn[li] @ matn[ri].T, 6)
        ai, bi_idx = np.nonzero(sims >= threshold)
        if not len(ai):
            return empty
        return pd.DataFrame({
            "id_left": ids[li][ai],
            "id_right": ids[ri][bi_idx],
            "cosine": sims[ai, bi_idx],
        })

    return both.groupBy("bi", "bj").applyInPandas(gemm_cross, schema=out_schema)


def _block_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    num_blocks: int,
) -> DataFrame:
    """Exact all-pairs cosine via distributed block GEMM.

    Every row lands in block ``pmod(xxhash64(id), B)`` and is replicated
    into each block pair it participates in — B copies per row, so the
    shuffle is B*n vectors feeding B*(B+1)/2 independent GEMM tasks.
    Each unordered row pair occurs in exactly one block-pair group, so
    no cross-group dedup is needed.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    rows = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks)).cast("int").alias("blk"),
    )
    # (bi, bj) with bi <= bj for every block this row's block pairs with
    pair_structs = F.array(*[
        F.struct(
            F.least(F.col("blk"), F.lit(o)).alias("bi"),
            F.greatest(F.col("blk"), F.lit(o)).alias("bj"),
        )
        for o in range(num_blocks)
    ])
    exploded = rows.withColumn("bp", F.explode(F.array_distinct(pair_structs)))
    exploded = exploded.select(
        "id", "v", "blk", F.col("bp.bi").alias("bi"), F.col("bp.bj").alias("bj")
    )

    out_schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ])

    def gemm_pair(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        bi, bj = key
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["v"]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        matn = mat / np.where(norms == 0, 1.0, norms)
        if bi == bj:
            sims = np.round(matn @ matn.T, 6)
            ai, bj_idx = np.nonzero((sims >= threshold) & (ids[:, None] < ids[None, :]))
            return pd.DataFrame({
                "id_a": ids[ai], "id_b": ids[bj_idx], "cosine": sims[ai, bj_idx],
            })
        left = pdf["blk"].to_numpy() == bi
        li, ri = np.nonzero(left)[0], np.nonzero(~left)[0]
        if not len(li) or not len(ri):
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"})
        sims = np.round(matn[li] @ matn[ri].T, 6)
        l_ids, r_ids = ids[li], ids[ri]
        ai, bi_idx = np.nonzero(sims >= threshold)
        id_a = np.minimum(l_ids[ai], r_ids[bi_idx])
        id_b = np.maximum(l_ids[ai], r_ids[bi_idx])
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cosine": sims[ai, bi_idx]})

    return exploded.groupBy("bi", "bj").applyInPandas(gemm_pair, schema=out_schema)


def duplicate_ngram_spans(
    df: DataFrame,
    n: int | list[int] = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Substring-level duplication detector (the Lee et al.
    "Deduplicating Training Data Makes Language Models Better" signal,
    scoped to word n-grams): for every document, the maximal token
    spans covered by ``n``-grams occurring >= ``min_count`` times in
    the whole corpus (any document, any position — within-doc repeats
    count, matching the paper's suffix-array treatment).

    Output: one row per (doc, span): ``doc_id, span_start, span_end``
    (1-based token indices, inclusive) and ``span_tokens``. Feed to a
    cutter (drop spans, keep first occurrence, ...) or use the span
    fraction as a quality-filter feature (:func:`duplicate_span_stats`).

    Plan shape (no quadratic anywhere): posting explode -> occurrence
    count as a window over md5(gram) (ONE digest-keyed shuffle — the
    posting subtree, i.e. the tokenize+shingle work over the whole
    corpus, is computed once; the groupBy+semi-join formulation
    re-derives it per consumer and measured 2x slower at sf0.1) ->
    filter count >= min_count -> per-doc interval merge (one keyed
    window: running-max end, gaps-and-islands). The shuffle carries
    32-byte digests + two longs, never gram text. A boilerplate gram's
    postings land in one window partition; its work is linear (count +
    filter), not pairwise, so hot grams cost bandwidth, not blowup.
    vs the paper's suffix-array build: fixed-n postings trade
    maximal-substring precision for a shuffle-native plan. ``n`` also
    takes a LIST of widths — the "several n in one pass" shape: the
    corpus is tokenized once, every width's postings come out of ONE
    flatten+explode, the occurrence count stays a single digest-keyed
    window (widths can't collide: a w-gram and a v-gram are different
    strings for w != v), and the interval merge unions coverage across
    widths. Cost ~ sum of the widths' posting streams, but one corpus
    scan instead of len(n).
    """
    # the scalar-n path routes through the list machinery (r15): the
    # scalar form's posexplode(<shingles of text>) inlined the tokenize
    # INSIDE the transform lambda, and ExtractGenerator's rebuild plus
    # the interpreted lambda re-ran split(text) once per GRAM position
    # — O(len^2) re-tokenize per doc. The list path materializes
    # __toks once per doc in its own select; gram text, positions and
    # digests are identical by construction.
    ns = sorted(set(n)) if isinstance(n, (list, tuple)) else [n]
    if not ns or any(k < 1 for k in ns) or min_count < 2:
        raise ValueError(
            "n widths must be >= 1 (non-empty list), min_count >= 2")
    empty = "CAST(array() AS ARRAY<STRUCT<s: BIGINT, e: BIGINT, gh: STRING>>)"
    arrs = [
        # sequence() with start > stop generates a DESCENDING range
        # in Spark, so the too-short case needs an explicit guard
        f"CASE WHEN size(__toks) >= {k} THEN "
        f"transform(sequence(1, size(__toks) - {k} + 1), "
        f"i -> struct(CAST(i AS BIGINT) AS s, CAST(i + {k} - 1 AS BIGINT) AS e, "
        f"md5(concat_ws(' ', slice(__toks, i, {k}))) AS gh)) "
        f"ELSE {empty} END"
        for k in ns
    ]
    posting = (
        spread_small_scan(df)
        .selectExpr(f"{sql_ident(id_col)} AS id", f"{tokens_sql(sql_ident(text_col))} AS __toks")
        .selectExpr("id", f"explode(flatten(array({', '.join(arrs)}))) AS p")
        .selectExpr("id", "p.s AS start", "p.e AS end", "p.gh AS gh")
    )
    return _merge_duplicate_spans(posting, id_col, min_count)


def _merge_duplicate_spans(posting: DataFrame, id_col: str,
                           min_count: int) -> DataFrame:
    """The shared tail of :func:`duplicate_ngram_spans`: occurrence
    count as ONE digest-keyed window -> filter >= min_count -> per-doc
    gaps-and-islands interval merge. Interval widths may vary (the
    multi-n path) — the running-max merge is width-agnostic, and
    equal-start ties are order-independent (a tie's predecessor always
    has end >= the tied start, so both land in the same island)."""
    gram_w = Window.partitionBy("gh")
    dup = (
        posting.withColumn("__c", F.count("*").over(gram_w))
        .filter(F.col("__c") >= min_count)
        .drop("__c", "gh")
    )
    w = Window.partitionBy("id").orderBy("start")
    prev_end = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        dup.withColumn(
            "__new", F.when(prev_end.isNull() | (F.col("start") > prev_end + 1), 1).otherwise(0)
        )
        .withColumn("__island", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        islands.groupBy(F.col("id").alias(id_col), "__island")
        .agg(
            F.min("start").cast("bigint").alias("span_start"),
            F.max("end").cast("bigint").alias("span_end"),
        )
        .withColumn("span_tokens", (F.col("span_end") - F.col("span_start") + 1).cast("bigint"))
        .drop("__island")
    )


def duplicate_span_stats(
    df: DataFrame,
    n: int | list[int] = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-token budget from
    :func:`duplicate_ngram_spans`: ``n_tokens, dup_tokens,
    dup_fraction`` — the standard corpus-health metric (fraction of the
    token stream inside cross-corpus duplicated spans). Docs with no
    duplicated span report 0. One extra broadcast-less join on id."""
    spans = duplicate_ngram_spans(df, n, id_col, text_col, min_count)
    per_doc = spans.groupBy(id_col).agg(F.sum("span_tokens").alias("dup_tokens"))
    base = df.select(
        F.col(id_col), F.expr(f"size({tokens_sql(sql_ident(text_col))})").cast("bigint")
        .alias("n_tokens")
    )
    return (
        base.join(per_doc, id_col, "left")
        .withColumn("dup_tokens", F.coalesce("dup_tokens", F.lit(0)).cast("bigint"))
        .withColumn(
            "dup_fraction",
            F.when(F.col("n_tokens") > 0, F.col("dup_tokens") / F.col("n_tokens")).otherwise(F.lit(0.0)),
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    max_distance: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """String-similarity self-join: all pairs with Levenshtein
    distance <= ``max_distance`` — the classic near-duplicate-key /
    entity-resolution primitive (record ids, titles, hostnames), via
    PassJoin-style pigeonhole segment blocking (Li et al., the
    partition scheme every edit-distance join paper builds on) so the
    plan never goes quadratic:

    - every string of length m splits into k+1 even segments; if
      ed(a, b) <= k then b contains one of a's segments EXACTLY, at a
      start position shifted by at most k (pigeonhole: k edits cannot
      touch all k+1 segments, and edits shift positions by <= k);
    - so the candidate join is EQUI on (anchor length, segment index,
      segment text): the anchor side emits its k+1 segments, the probe
      side emits, for each anchor length within +-k of its own and
      each segment slot, the (2k+1) substrings at the allowed shifts —
      O((2k+1)(k+1)^~) keys per string, constant in corpus size;
    - candidates dedupe, then the exact ``levenshtein`` filter (JVM
      codegen, banded by the length filter) confirms.

    Strings shorter than k+1 characters are excluded (their segments
    would be empty and match everywhere); pair them by brute force in
    the tail bucket if needed. Output: ``id_a, id_b, distance``.
    """
    k = int(max_distance)
    if k < 1:
        raise ValueError("max_distance must be >= 1")
    s = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("s"),
        F.length(text_col).alias("m"),
    ).filter(F.col("m") >= k + 1)

    # segment i of a length-m string (0-based, 1-based substr start):
    #   start(i) = i*floor(m/(k+1)) + min(i, m % (k+1)) + 1
    #   len(i)   = floor(m/(k+1)) + (i < m % (k+1))
    def seg_start(m, i):
        return i * F.floor(m / (k + 1)) + F.least(F.lit(i), m % (k + 1)) + 1

    def seg_len(m, i):
        return F.floor(m / (k + 1)) + (F.lit(i) < m % (k + 1)).cast("int")

    anchors = None
    for i in range(k + 1):
        part = s.select(
            "id", "s", "m", F.lit(i).alias("i"),
            F.substring("s", seg_start(F.col("m"), i).cast("int"),
                        seg_len(F.col("m"), i).cast("int")).alias("seg"),
        )
        anchors = part if anchors is None else anchors.unionAll(part)

    # probe side: for each anchor length m' in [m-k, m+k] and segment
    # slot i, the substrings at start(i, m') + d for d in [-k, k]
    probes = (
        s.select(
            "id", "s", F.col("m").alias("n"),
            F.explode(F.sequence(F.col("m") - k, F.col("m") + k)).alias("m"),
        )
        .filter(F.col("m") >= k + 1)
        .select(
            "id", "s", "n", "m",
            F.explode(F.array(*[F.lit(i) for i in range(k + 1)])).alias("i"),
        )
        .select(
            "id", "n", "m", "i",
            F.explode(F.array(*[F.lit(d) for d in range(-k, k + 1)])).alias("d"),
            "s",
        )
        .withColumn(
            "__p",
            (F.col("i") * F.floor(F.col("m") / (k + 1))
             + F.least(F.col("i"), F.col("m") % (k + 1)) + 1
             + F.col("d")).cast("int"),
        )
        .withColumn(
            "__l",
            (F.floor(F.col("m") / (k + 1))
             + (F.col("i") < F.col("m") % (k + 1)).cast("int")).cast("int"),
        )
        # substring() treats start<=0 as from-the-end/clamped — only
        # in-bounds probes are valid candidates
        .filter((F.col("__p") >= 1) & (F.col("__p") + F.col("__l") - 1 <= F.col("n")))
        .select(
            "id", "n", "m", "i",
            F.substring("s", F.col("__p"), F.col("__l")).alias("seg"),
        )
        .filter(F.length("seg") > 0)
    )
    cand = (
        anchors.alias("a")
        .join(
            probes.alias("b"),
            (F.col("a.m") == F.col("b.m"))
            & (F.col("a.i") == F.col("b.i"))
            & (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("a.s").alias("s_a"),
            F.col("b.id").alias("id_b"),
        )
        .distinct()
    )
    right = s.select(F.col("id").alias("id_b"), F.col("s").alias("s_b"))
    return (
        cand.join(right, "id_b")
        .withColumn("distance", F.levenshtein("s_a", "s_b"))
        .filter(F.col("distance") <= k)
        .select("id_a", "id_b", F.col("distance").cast("bigint").alias("distance"))
    )
