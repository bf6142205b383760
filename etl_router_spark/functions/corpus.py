"""Corpus-level training-data operators: benchmark decontamination,
deterministic sampling, and sequence packing.

The three stages every LLM pretraining pipeline runs after dedup:

- ``decontaminate``: drop (or tag) documents that share any long word
  n-gram with an evaluation/benchmark corpus, so test sets never leak
  into training data. The standard method is exact n-gram overlap with
  a large n (8-13 words).
- ``hash_sample``: reproducible sampling by content-independent hash of
  a key column — the same row set is selected on every engine, every
  run, any partitioning (unlike ``df.sample``, which is seed- AND
  partitioning-dependent). Optional per-stratum rates implement domain
  mixing ("keep 100% of books, 10% of web").
- ``pack_sequences``: concatenate the corpus token stream in a
  deterministic document order and cut it into fixed-size training
  windows — each document gets the index of the window its first token
  lands in plus its offset inside that window. Distributed as a
  two-phase prefix sum: partition-local cumulative sums plus a
  broadcast of per-partition totals (#partitions rows — metadata-sized,
  never corpus-sized).

All hashing is the engine-portable ``h60`` (md5-derived) so oracle
twins are exact across engines.
"""

from __future__ import annotations

from typing import Literal, get_args

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_router_spark.functions.sqltext import sql_double, sql_ident, sql_str
from etl_router_spark.functions.text import DropOrTag, bound_shingles_sql, h60_sql, tokens_sql

# domain_cap's ranking: exact per-host windows, a precomputed
# threshold, or both
CapMethod = Literal["exact", "threshold", "hybrid"]


def _salted_h60(salt: str, key_col: str) -> Column:
    """``h60(salt|key)``, the draw of the hash-bucketed samplers."""
    key = f"CAST({sql_ident(key_col)} AS STRING)"
    return F.expr(h60_sql(f"concat({sql_str(f'{salt}|')}, {key})"))


def _distinct_grams(text_col: str, n: int) -> Column:
    """The distinct word ``n``-grams of ``text_col`` as an array."""
    return F.expr(f"array_distinct({bound_shingles_sql(sql_ident(text_col), n)})")


def contaminated_ids(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Ids of documents sharing >= 1 word ``n``-gram with ``benchmark``.

    Plan shape: explode distinct n-grams on both sides, semi-join the
    corpus postings against the benchmark n-gram set. The benchmark
    side (eval sets — tiny next to a training corpus) broadcasts by
    default, so the corpus never shuffles; with
    ``broadcast_benchmark=False`` it degrades to a shuffled semi-join
    for benchmark sets that genuinely don't fit an executor.
    """
    doc_grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(_distinct_grams(text_col, n)).alias("gram"),
    )
    bench_grams = benchmark.select(
        F.explode(_distinct_grams(text_col, n)).alias("gram")
    ).distinct()
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    return doc_grams.join(bench_grams, "gram", "left_semi").select("id").distinct()


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    mode: DropOrTag = "drop",
    tag_field: str = "contaminated",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Remove (``mode="drop"``) or mark (``mode="tag"``) documents that
    leak benchmark n-grams."""
    bad = contaminated_ids(docs, benchmark, id_col, text_col, n, broadcast_benchmark)
    bad = bad.withColumnRenamed("id", id_col)
    if mode == "drop":
        return docs.join(bad, id_col, "left_anti")
    if mode == "tag":
        flagged = bad.withColumn(tag_field, F.lit(True))
        return docs.join(flagged, id_col, "left").fillna(False, [tag_field])
    raise ValueError(f"mode must be {'|'.join(get_args(DropOrTag))}, got {mode!r}")


def decontaminate_fuzzy(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    mode: DropOrTag = "drop",
    tag_field: str = "contaminated",
    benchmark_index: DataFrame | None = None,
    hash_family: str = "h60",
) -> DataFrame:
    """NEAR-DUPLICATE decontamination — the fuzzy rung of the
    decontamination ladder. :func:`decontaminate` /
    :func:`bloom_decontaminate` catch VERBATIM n-gram leaks; a
    benchmark that reached the crawl paraphrased, re-wrapped, or
    whitespace/punctuation-perturbed shares few exact 8-grams yet is
    still contamination. This drops (or tags) documents whose MinHash
    signature agrees with any benchmark document at estimated Jaccard
    >= ``threshold`` — the same detection the fuzzy DEDUP path trusts,
    pointed across corpora.

    Scale shape (``dedup.minhash_index_matches`` with
    ``broadcast_side="index"``): the BENCHMARK side is indexed (eval
    suites are tiny next to a training corpus — built in-call, or pass
    a persisted :func:`dedup.minhash_index` frame via
    ``benchmark_index``) and BROADCAST; the corpus is shingled/
    minhashed ONCE map-side and its (id, sig, band_key) rows meet the
    broadcast index in a map-side equi-join — corpus text never
    shuffles, nothing corpus-sized ever ships, and detection cost
    matches one fuzzy-dedup probe pass.
    Wider ``threshold``/``num_hashes`` trade recall vs precision
    exactly as in the dedup literature.

    COMPLEMENTARY to the n-gram paths, not a superset: MinHash scores
    WHOLE-document similarity, so it catches a paraphrased or
    perturbed COPY of a benchmark item that shares few exact 8-grams —
    while a long document QUOTING one benchmark item verbatim has low
    overall Jaccard and is exactly the n-gram paths' case
    (:func:`decontaminate` / :func:`bloom_decontaminate` /
    :func:`redact_contaminated_spans`). A production decontamination
    stack runs one of each.
    """
    from etl_router_spark.functions.dedup import (
        minhash_index,
        minhash_index_matches,
    )

    if benchmark_index is None:
        benchmark_index = minhash_index(
            benchmark, id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            hash_family=hash_family)
    bad = minhash_index_matches(
        docs, benchmark_index, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        threshold=threshold, broadcast_side="index",
        hash_family=hash_family)
    # No broadcast hint on `bad`: unlike the benchmark index (tiny by
    # contract), the matched-id set is the CONTAMINATED SUBSET OF THE
    # CORPUS — unbounded for a heavily contaminated corpus, so forcing
    # it driver-side risks broadcast-size/driver OOM. AQE picks
    # broadcast at runtime when the hit set is actually small — but
    # ONLY if the hit set is its own query stage: the match pipeline's
    # last exchange is the minhash groupBy(id), whose partitioning the
    # id-distinct reuses, so the anti-join's build side reached the
    # join stage unmaterialized and AQE kept the corpus-shuffling
    # SortMergeJoin no matter how few ids matched (r15 final-plan
    # audit). A round-robin repartition of the id-only hit set adds
    # the missing boundary (a BY-KEY repartition gets elided here —
    # the subtree is already hash-partitioned on id, so
    # REPARTITION_BY_COL satisfies-and-skips): when AQE then measures
    # a small hit set it converts the join to broadcast, the corpus
    # side's exchange downgrades to a local shuffle read (no fetch, no
    # sort); a genuinely huge hit set keeps SMJ and only this tiny
    # 8-byte-id exchange is extra.
    bad = bad.repartition(bad.sparkSession.sparkContext.defaultParallelism)
    if mode == "drop":
        return docs.join(bad, id_col, "left_anti")
    if mode == "tag":
        flagged = bad.withColumn(tag_field, F.lit(True))
        return docs.join(flagged, id_col, "left").fillna(False, [tag_field])
    raise ValueError(f"mode must be {'|'.join(get_args(DropOrTag))}, got {mode!r}")


def _bloom_pos_sql(gram_expr: str, m_bits: int, k: int,
                   hash_family: str) -> list[str]:
    """The k position expressions shared by filter build and probe —
    ONE definition so the two sides cannot desynchronize. (Both sides'
    h60 hot paths actually run the digest-HOISTED equivalent composed
    from the same :func:`_h60_digests_sql` / :func:`_h60_window_pos_sql`
    layout — see :func:`_bloom_pos_hoisted_sql`; this per-position form
    remains the validator and the xxhash64/oracle-documentation source.)

    ``h60``: ONE md5 digest yields THREE 40-bit positions (hex windows
    [1,10], [11,20], [21,30] of md5("bf" + (i//3) + "|" + gram)) — an
    md5 is 128 bits and the positions only need log2(m) each, so
    hashing k times would pay the dominant per-gram cost k times for
    entropy that is already on hand (measured: the windowed family cut
    the sf0.1 probe ~3x). Engine-portable, so SQL oracles reproduce
    the filter (and its false positives) bit-exactly. ``xxhash64``:
    position_i = xxhash64(gram, i) % m — the JVM-native
    whole-stage-codegen hash (the 100 TB default; measured A/B in
    SCALE.md). Same one-sided-error contract either way; only oracle
    mirrorability differs.

    ORACLE COVERAGE BOUNDARY (which family each correctness claim
    covers): the driver's DuckDB value-hash gates pin ``h60`` ONLY —
    DuckDB has md5 but cannot reproduce ``xxhash64(expr, seed)``, so
    the h60 gates verify the whole probe pipeline (shingling,
    position derivation, word packing, the exists/forall probe)
    bit-exactly INCLUDING which false positives fire. The production
    ``xxhash64`` family shares every line of that pipeline except
    this function's position expressions; its own guarantee is the
    PROPERTY-TESTED one-sided-error contract (every true leak
    flagged; flags a superset of the exact semi-join's — see
    tests/test_bloom.py), NOT a value-exact oracle match. Readers
    citing "oracle-verified" for a Bloom result should mean h60.
    """
    if hash_family == "h60":
        # each h60 window supplies only 40 bits of entropy (10 hex
        # chars): pmod(word, m) is unbiased only while m << 2^40, and
        # positions >= 2^40 are unreachable outright — a silent
        # false-positive-rate inflation at very large filters. Cap at
        # 2^32 (bias <= 2^-8); beyond that use xxhash64 (64-bit) or
        # shrink the filter.
        if m_bits > (1 << 32):
            raise ValueError(
                f"hash_family='h60' draws 40-bit positions; m_bits="
                f"{m_bits} exceeds the 2^32 safety bound (modulo bias /"
                " unreachable bits). Use hash_family='xxhash64' for"
                " filters this large.")
        digs = _h60_digests_sql(gram_expr, k)
        out = []
        for i in range(k):
            j, w = divmod(i, 3)
            out.append(_h60_window_pos_sql(digs[j], w, m_bits))
        return out
    if hash_family == "xxhash64":
        return [f"pmod(xxhash64({gram_expr}, {i}), {m_bits})"
                for i in range(k)]
    raise ValueError(
        f"hash_family must be h60|xxhash64, got {hash_family!r}")


def _h60_digests_sql(gram_expr: str, k: int) -> list[str]:
    """The ceil(k/3) md5 digests the h60 family draws its k positions
    from (digest j covers positions 3j..3j+2) — the ONE definition of
    the digest layout, composed by both the per-position expressions
    (:func:`_bloom_pos_sql`) and the digest-HOISTED forms below."""
    return [f"md5(concat('bf', '{j}', '|', {gram_expr}))"
            for j in range((k + 2) // 3)]


def _h60_window_pos_sql(digest_expr: str, w: int, m_bits: int) -> str:
    """Position = 40-bit hex window ``w`` of an h60 digest, mod m —
    the ONE definition of the window layout (hex chars [1,10],
    [11,20], [21,30])."""
    word = (f"CAST(conv(substring({digest_expr}, {1 + 10 * w}, 10), "
            f"16, 10) AS BIGINT)")
    return f"pmod({word}, {m_bits})"


def _bloom_pos_hoisted_sql(ds_expr: str, m_bits: int, k: int) -> list[str]:
    """The k h60 position expressions over a PRE-COMPUTED digest array
    ``ds_expr`` (element j+1 = digest j of :func:`_h60_digests_sql`).

    Why this exists: the probe evaluates its positions inside
    exists/forall lambdas, and Spark's higher-order functions are
    CodegenFallback — interpreted per element, no whole-stage codegen,
    so no subexpression elimination. The per-position form therefore
    recomputes the SAME md5 digest for each of its 3 windows (3x at
    k=3); hoisting the digests into one transform() pays each md5
    exactly once per gram. Measured on the sf0.1 probe: 4.62 -> 2.87 s
    (x1.61), flags bit-identical (SCALE.md round-14). The xxhash64
    family draws one independent hash per position — nothing to hoist."""
    out = []
    for i in range(k):
        j, w = divmod(i, 3)
        out.append(_h60_window_pos_sql(
            f"element_at({ds_expr}, {j + 1})", w, m_bits))
    return out


def bloom_bitmap(
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    n: int = 8,
    m_bits: int = 1 << 16,
    k: int = 3,
    hash_family: str = "h60",
) -> list[int]:
    """Build a Bloom filter over the benchmark's word ``n``-grams as a
    list of ``m_bits/64`` signed int64 words (bit p of the filter =
    bit ``p % 64`` of word ``p // 64``).

    Hash family: see :func:`_bloom_pos_sql` — ``h60`` (oracle-exact
    default) or ``xxhash64`` (native codegen, the scale path). The
    positions FOLD INTO 64-bit words distributedly (``bit_or`` of
    shifted bits, grouped by word index), so the driver collects only
    the NON-ZERO words (<= m/64 rows — 256 K at m=2^24) instead of up
    to ``k * |bench grams|`` individual positions; at production
    filter sizes that is the difference between shipping megabytes of
    metadata and tens of millions of py4j rows.
    """
    if m_bits <= 0 or m_bits % 64:
        raise ValueError("m_bits must be a positive multiple of 64")
    packed = _bloom_packed_words(benchmark, text_col, n, m_bits, k,
                                 hash_family)
    words = [0] * (m_bits // 64)
    for w, bits in packed.collect():
        # py4j delivers signed int64; keep two's complement as-is
        # (Spark ArrayType(LongType) wants signed words anyway)
        words[w] = bits
    return words


def _bloom_packed_words(benchmark: DataFrame, text_col: str, n: int,
                        m_bits: int, k: int, hash_family: str) -> DataFrame:
    """The shared build pipeline of :func:`bloom_bitmap` and
    :func:`bloom_filter_frame`: benchmark n-grams -> k positions ->
    NON-ZERO 64-bit words (w, bits), folded distributedly (bit_or of
    shifted bits grouped by word index) so at most m/64 rows exist."""
    from etl_router_spark.functions.text import bound_shingles_sql
    from etl_router_spark.io import spread_small_scan

    # shingling+explode happens map-side BEFORE the distinct's exchange,
    # so an under-partitioned benchmark scan runs it on one core; spread
    # first (no-op at real scale — see spread_small_scan)
    grams = spread_small_scan(benchmark).selectExpr(
        f"explode(array_distinct({bound_shingles_sql(sql_ident(text_col), n)})) AS gram"
    ).distinct()
    if hash_family == "h60":
        # hoist the digests into their own projection so each md5 is
        # computed once per gram (the explode's child array is built in
        # GenerateExec, outside codegen subexpression elimination —
        # same lesson as the probe, see _bloom_pos_hoisted_sql)
        _bloom_pos_sql("gram", m_bits, k, hash_family)  # validate size
        digs = _h60_digests_sql("gram", k)
        grams = grams.selectExpr(f"array({', '.join(digs)}) AS __ds")
        pos_exprs = _bloom_pos_hoisted_sql("__ds", m_bits, k)
    else:
        pos_exprs = _bloom_pos_sql("gram", m_bits, k, hash_family)
    return grams.selectExpr(
        f"explode(array({', '.join(pos_exprs)})) AS p"
    ).selectExpr(
        "p DIV 64 AS w",
        "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)) AS bit",
    ).groupBy("w").agg(F.expr("bit_or(bit)").alias("bits"))


def bloom_filter_frame(
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    n: int = 8,
    m_bits: int = 1 << 16,
    k: int = 3,
    hash_family: str = "h60",
) -> DataFrame:
    """The DECLARATIVE twin of :func:`bloom_bitmap` +
    :func:`save_bloom_filter`: a ONE-ROW frame in the persisted-filter
    schema (m_bits, n, k, hash_family, words), assembled entirely
    ENGINE-SIDE — the word array is folded with bit_or and densified
    via a map lookup in a single-row aggregate, so the driver never
    holds the bit array at all (at m=2^24 that is 2 MiB that never
    crosses py4j). Point a parquet sink at this stage
    (``transform_type: bloom_build``) and the output directory is
    exactly what :func:`load_bloom_filter` / the manifest ``filter:``
    key consumes — the nightly benchmark-refresh pipeline becomes one
    manifest, the per-batch probe another, with no Python in between.
    """
    if m_bits <= 0 or m_bits % 64:
        raise ValueError("m_bits must be a positive multiple of 64")
    _bloom_pos_sql("g", m_bits, k, hash_family)  # validate family+size
    packed = _bloom_packed_words(benchmark, text_col, n, m_bits, k,
                                 hash_family)
    n_words = m_bits // 64
    return packed.agg(
        F.expr("map_from_entries(collect_list(struct(w, bits)))")
        .alias("__m"),
    ).selectExpr(
        f"CAST({m_bits} AS BIGINT) AS m_bits",
        f"CAST({n} AS INT) AS n",
        f"CAST({k} AS INT) AS k",
        f"'{hash_family}' AS hash_family",
        f"transform(sequence(0L, {n_words - 1}L), "
        "i -> coalesce(element_at(__m, i), 0L)) AS words",
    )


def save_bloom_filter(
    spark,
    words: list[int],
    path: str,
    *,
    n: int = 8,
    k: int = 3,
    hash_family: str = "h60",
    mode: str = "overwrite",
) -> None:
    """Persist a :func:`bloom_bitmap` WITH its build parameters as a
    one-row parquet — the build-once artifact the nightly/streaming
    probe shape reads. A probe with mismatched (n, m_bits, k,
    hash_family) is silently wrong (different positions -> misses
    true leaks, voiding the one-sided-error contract), so the
    parameters travel WITH the bits and :func:`load_bloom_filter`
    hands both back; the manifest ``filter:`` key refuses conflicting
    overrides outright."""
    from pyspark.sql import types as T

    _bloom_pos_sql("g", 64 * len(words), k, hash_family)  # fail fast
    schema = T.StructType([
        T.StructField("m_bits", T.LongType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("k", T.IntegerType(), False),
        T.StructField("hash_family", T.StringType(), False),
        T.StructField("words", T.ArrayType(T.LongType(), False), False),
    ])
    spark.createDataFrame(
        [(64 * len(words), n, k, hash_family, words)], schema,
    ).coalesce(1).write.mode(mode).parquet(path)


def load_bloom_filter(spark, path: str) -> dict:
    """Read a :func:`save_bloom_filter` artifact back as
    ``{"words", "m_bits", "n", "k", "hash_family"}`` — everything
    :func:`bloom_decontaminate` needs to probe without a rebuild."""
    rows = spark.read.parquet(path).collect()
    if len(rows) != 1:
        raise ValueError(
            f"bloom filter at {path!r} must be exactly one row, "
            f"got {len(rows)}")
    r = rows[0]
    return {"words": list(r["words"]), "m_bits": int(r["m_bits"]),
            "n": int(r["n"]), "k": int(r["k"]),
            "hash_family": r["hash_family"]}


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    m_bits: int = 1 << 16,
    k: int = 3,
    mode: DropOrTag = "drop",
    tag_field: str = "contaminated",
    hash_family: str = "h60",
    broadcast: bool | str = "auto",
    broadcast_threshold_bits: int = 1 << 17,
    prebuilt_words: list[int] | None = None,
) -> DataFrame:
    """Benchmark decontamination via a literal Bloom filter — the
    ZERO-join scale path next to :func:`decontaminate`'s semi-join.

    A document is flagged when ANY of its word ``n``-grams has all
    ``k`` Bloom positions set (one-sided error: every true leak is
    caught; false positives drop extra docs at the classic Bloom rate
    (1-e^{-kn/m})^k — ~2% of grams at the defaults' 50% fill,
    tunable arbitrarily low with ``m_bits``). In exchange the probe is
    a pure whole-stage-codegen map over the corpus: the m/64-long
    filter rides in the plan as ONE literal array, so there is no
    broadcast-join build side, no gram explosion through a shuffle,
    and the corpus is scanned exactly once — at 100 TB this beats the
    exact semi-join whenever the benchmark gram set is large enough
    that per-row hash-probe cost (or the broadcast build) dominates
    (measured A/B in SCALE.md).

    ``hash_family``: ``"h60"`` (default) keeps the probe md5-based so
    the DuckDB oracle reproduces the filter INCLUDING its false
    positives bit-exactly; ``"xxhash64"`` swaps the per-gram hot path
    to the JVM-native hash — the production/scale setting, measured at
    marginal-cost PARITY with the exact semi-join's probe (0.57 vs
    0.54 ms/doc at local[32], SCALE.md) — i.e. the Bloom path costs
    the same CPU and deletes the shuffle. Property-tested against the
    exact semi-join for the one-sided-error contract.

    ``broadcast``: how the bit-array reaches the executors. ``False``
    embeds it as a plan LITERAL — zero exchanges of any kind, but the
    array is serialized into EVERY task binary, the one cost that does
    not parallelize (the IVF-PQ plan-size lesson, SCALE.md): at the
    docstring's ~10 bits/gram sizing a 100M-gram benchmark suite would
    put a ~125 MB literal in each task. ``True`` ships it ONCE per
    executor as a broadcast single-row frame (crossJoin(broadcast(...))
    — a BroadcastExchange of one row, still zero row-shuffles of the
    corpus and the probe expression unchanged / still codegen).
    ``"auto"`` (default) picks the literal below
    ``broadcast_threshold_bits`` and the broadcast above. Measured
    A/B (SCALE.md "Bloom transport"): the literal arm's wall EXPLODES
    with filter size (7.8 s at 32 KiB -> 33 s at 512 KiB -> 137 s at
    2 MiB on the sf0.1 probe) because every task re-serializes and
    re-compiles the array, while the broadcast arm stays flat
    (3.9-5.2 s) — so the default threshold is 2^17 bits (16 KiB),
    below the smallest size measured to favor broadcast by 2x. Flag
    results are identical in both modes (plan-pinned).

    ``prebuilt_words``: a bit array from a prior :func:`bloom_bitmap`
    call — build ONCE, probe forever (``benchmark`` is then ignored
    and may be None). The nightly-ingest / streaming shape: the
    benchmark suite changes rarely, so rebuilding the filter per batch
    pays the driver-side gram collection every time for an identical
    array; with a prebuilt filter each micro-batch costs exactly one
    map-side probe pass (``stream_bloom_probe`` gate).
    """
    from etl_router_spark.functions.text import bound_shingles_sql

    if prebuilt_words is not None:
        if m_bits != 64 * len(prebuilt_words):
            raise ValueError(
                f"prebuilt_words has {64 * len(prebuilt_words)} bits but "
                f"m_bits={m_bits}; pass the m_bits the filter was built "
                "with (positions must match bit-exactly)")
        words = prebuilt_words
        _bloom_pos_sql("g", m_bits, k, hash_family)  # validate family+size
    else:
        words = bloom_bitmap(benchmark, text_col=text_col, n=n,
                             m_bits=m_bits, k=k, hash_family=hash_family)
    if broadcast not in (True, False, "auto"):
        raise ValueError(
            f"broadcast must be True|False|'auto', got {broadcast!r}")
    use_bcast = (broadcast if isinstance(broadcast, bool)
                 else m_bits > broadcast_threshold_bits)
    # The probe is the engine's heaviest per-row map (md5-per-gram under
    # interpreted exists/forall), so an under-partitioned corpus scan
    # (single-row-group parquet = ONE task) serializes it onto one core.
    # spread_small_scan repartitions UP to session parallelism only in
    # that case — a no-op at real scale where splits >> cores (guide
    # §2.5 input skew; measured r15: 4.48 s -> see OPTIMIZATION_r15.md).
    from etl_router_spark.io import spread_small_scan

    spread = spread_small_scan(docs)
    spread_fired = spread is not docs
    docs = spread
    if use_bcast:
        from pyspark.sql import types as T

        spark = docs.sparkSession
        bf = spark.createDataFrame(
            [(words,)],
            T.StructType([T.StructField(
                "__bf", T.ArrayType(T.LongType(), False), False)]))
        probe = docs.crossJoin(F.broadcast(bf))
    else:
        # ONE parsed array literal (r16): ``F.lit(list)`` expands
        # Python-side into len(list) py4j ``lit()`` round trips plus a
        # len-ary ``array()`` — measured 3.3 s of pure DRIVER time at
        # the gate's m=2^18 (4096 words), which was the entire cost gap
        # between the literal and broadcast transports (the probe job
        # itself is ~0.5 s). A single SQL-text parse builds the same
        # ArrayType(LongType, false) literal in ~5 ms; values are
        # bit-identical (the L suffix pins LongType; LONG_MIN parses —
        # verified) and the per-task literal serialization the
        # transport A/B measured (docstring) is unchanged.
        probe = docs.withColumn("__bf", F.expr(
            "array(" + ",".join(f"{w}L" for w in words) + ")"))
    bit_test = ("p -> (shiftright(element_at(__bf, CAST(p DIV 64 AS INT)"
                " + 1), CAST(p % 64 AS INT)) & 1) = 1")
    if hash_family == "h60":
        # digest-hoisted probe: exists/forall are interpreted (no
        # codegen CSE), so compute each gram's md5 digests ONCE in a
        # transform() instead of once per window — x1.61 on the sf0.1
        # probe, flags bit-identical (see _bloom_pos_hoisted_sql).
        # Tradeoff, chosen deliberately: transform() is eager, so a
        # FLAGGED doc hashes all its grams where the un-hoisted exists
        # could exit at the first hit — decontamination corpora are
        # overwhelmingly clean (that's the point), so paying 1x-per-
        # gram on every doc beats paying 3x on the clean majority
        _bloom_pos_sql("g", m_bits, k, hash_family)  # validate size
        digs = _h60_digests_sql("g", k)
        pos = _bloom_pos_hoisted_sql("ds", m_bits, k)
        flag_sql = (
            f"exists(transform({bound_shingles_sql(sql_ident(text_col), n)}, "
            f"g -> array({', '.join(digs)})), ds -> "
            f"forall(array({', '.join(pos)}), {bit_test}))"
        )
    else:
        pos = _bloom_pos_sql("g", m_bits, k, hash_family)
        flag_sql = (
            f"exists({bound_shingles_sql(sql_ident(text_col), n)}, g -> "
            f"forall(array({', '.join(pos)}), {bit_test}))"
        )
    flagged = probe.withColumn(tag_field, F.expr(flag_sql)).drop("__bf")
    if mode == "drop":
        keep = ~F.col(tag_field)
        if spread_fired and not use_bcast:
            # The literal-transport probe collapses into ONE Filter whose
            # deterministic condition the optimizer pushes BELOW the
            # spread repartition (PushPredicateThroughNonJoin treats
            # Repartition as transparent), putting the md5-per-gram probe
            # back on the under-partitioned scan — measured r15: the
            # spread bought nothing while the bcast arm (whose condition
            # cannot cross its broadcast join) got 2.3x. A value-
            # preserving non-deterministic term (`spark_partition_id()`
            # is never < 0, so OR keeps the flag exact) pins the filter
            # above the exchange: OR-ed conditions are not split into
            # pushable conjuncts (an AND-ed guard gets split and the
            # deterministic half pushed anyway; rand()-based guards get
            # interval-folded by Spark 4's optimizer). Applied ONLY when
            # the spread actually fired, so at real scale (no
            # repartition) the condition stays deterministic and fully
            # pushable.
            keep = keep | F.expr("spark_partition_id() < 0")
        return flagged.filter(keep).drop(tag_field)
    if mode == "tag":
        return flagged
    raise ValueError(f"mode must be {'|'.join(get_args(DropOrTag))}, got {mode!r}")


def hash_sample(
    df: DataFrame,
    rate: float,
    key_col: str,
    salt: str = "",
    strata_col: str | None = None,
    strata_rates: dict[str, float] | None = None,
) -> DataFrame:
    """Deterministic content-hash sampling: keep rows where
    ``h60(salt|key) mod 1e6 < rate * 1e6``.

    Pure map-side filter — no shuffle, no RNG, reproducible across
    engines/partitionings, and monotone in ``rate`` (a 10% sample is a
    subset of the 20% sample with the same salt — the property that
    makes staged scale-ups consistent). ``strata_rates`` overrides the
    base rate per value of ``strata_col`` (domain mixing).
    """
    bucket = F.pmod(_salted_h60(salt, key_col), F.lit(1_000_000))
    if strata_col and strata_rates:
        thr: Column = F.lit(int(rate * 1_000_000))
        for value, r in sorted(strata_rates.items()):
            thr = F.when(F.col(strata_col) == value, F.lit(int(r * 1_000_000))).otherwise(thr)
        return df.filter(bucket < thr)
    return df.filter(bucket < F.lit(int(rate * 1_000_000)))


def chunk_documents(
    df: DataFrame,
    window: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cut each document into overlapping ``window``-token chunks every
    ``stride`` tokens (context-window preparation: the 1→N shape that
    feeds tokenizer/embedding stages).

    Chunk i covers tokens [i*stride, i*stride+window); the last chunk
    starts at the final stride step whose window still adds new tokens,
    so every token lands in >= 1 chunk. Pure sequence+explode+slice —
    per-row work, no shuffle, chunk count bounded by doc length.
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    toks = F.expr(tokens_sql(sql_ident(text_col)))
    n = F.size(toks)
    n_chunks = F.when(n <= window, F.lit(1)).otherwise(
        F.ceil((n - window) / F.lit(float(stride))).cast("int") + 1
    )
    out = df.withColumn("chunk_id", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
    start = F.col("chunk_id") * stride + 1  # slice() is 1-based
    piece = F.slice(toks, start, window)
    return (
        out.withColumn("chunk_text", F.concat_ws(" ", piece))
        .withColumn("n_chunk_tokens", F.size(piece).cast("bigint"))
    )


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    token_count_col: str = "n_tokens",
    num_shards: int | None = None,
) -> DataFrame:
    """Assign each document its training-window index and offset.

    Documents are laid out in ``id_col`` order as one concatenated
    token stream split into ``max_tokens`` windows (the standard
    pretraining packing: documents straddle window boundaries).
    Output adds ``seq_index`` (window containing the document's first
    token), ``seq_offset`` (position inside that window) and
    ``token_start`` (absolute stream position).

    Distributed prefix sum, not a global window: rows are
    range-partitioned by id, each partition computes a local running
    sum, and the per-partition totals (#partitions rows — a
    metadata-sized driver collect, same class as a parquet footer read)
    are broadcast back as additive offsets. No single-partition sort of
    the corpus anywhere.
    """
    # no explicit shard count unless the caller pins one (r16): an
    # explicit N parses as REPARTITION_BY_NUM, which AQE may not touch
    # — at 32 local cores that froze 32 near-empty range partitions of
    # the fixture (the 8-core bench inversion), and at 100 TB it would
    # freeze defaultParallelism-many oversized ones. The bare BY_COL
    # form lets AQE size the range partitions from measured bytes at
    # ANY scale. Values are partitioning-independent either way: the
    # prefix-sum decomposition only needs partition-id order == id
    # order, which range partitioning guarantees and AQE's
    # adjacent-partition coalescing preserves.
    if num_shards:
        ranged = df.repartitionByRange(num_shards, F.col(id_col))
    else:
        ranged = df.repartitionByRange(F.col(id_col))
    ranged = ranged.withColumn("__part", F.spark_partition_id())
    w_local = (
        Window.partitionBy("__part")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("__local_cum", F.sum(token_count_col).over(w_local))
    local = local.persist()  # feeds both the totals agg and the final join

    # per-partition totals -> absolute start offset of each partition.
    # Range partitioning makes partition id order == id order. Sorted
    # DRIVER-side: an .orderBy before the collect costs a range
    # exchange + sampling job for <= #partitions rows (r16).
    totals = sorted(
        local.groupBy("__part").agg(F.max("__local_cum").alias("__total"))
        .collect(),
        key=lambda r: r["__part"],
    )
    offsets: dict[int, int] = {}
    running = 0
    for row in totals:
        offsets[row["__part"]] = running
        running += row["__total"]
    offset_col = F.coalesce(
        *[F.when(F.col("__part") == p, F.lit(o)) for p, o in offsets.items()],
        F.lit(0),
    ) if offsets else F.lit(0)

    start = (F.col("__local_cum") - F.col(token_count_col) + offset_col).alias("token_start")
    out = local.withColumn("token_start", start)
    return (
        out.withColumn("seq_index", (F.col("token_start") / max_tokens).cast("bigint"))
        .withColumn("seq_offset", F.pmod(F.col("token_start"), F.lit(max_tokens)))
        .drop("__part", "__local_cum")
    )


def group_topk(
    df: DataFrame,
    group_col: str,
    order_col: str,
    k: int = 10,
    ascending: bool = False,
    tie_col: str = "doc_id",
) -> DataFrame:
    """Top-k rows per group by ``order_col`` (e.g. the k
    highest-quality documents per language/domain — the selection step
    of a curated training mix).

    Window partitioned BY GROUP: many small per-group sorts, each
    bounded by group size — never a global ordering. Deterministic via
    the ``tie_col`` tie-break. At 100 TB the cost is one hash shuffle
    on the group key; a pathologically hot group concentrates on one
    task (same placement any per-group operator gives it).
    """
    order = [
        F.asc(order_col) if ascending else F.desc(order_col),
        F.asc(tie_col),
    ]
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("int"))
    )


def global_shuffle(
    df: DataFrame,
    seed: int = 0,
    id_col: str = "doc_id",
    num_shards: int | None = None,
) -> DataFrame:
    """Deterministic seeded permutation of the corpus: every row gets a
    contiguous ``shuffle_pos`` in [0, N) ordered by
    ``md5(seed || '|' || id)`` — the standard "shuffle your training
    data reproducibly" primitive (same seed => same order on any
    cluster layout).

    Distributed two-pass rank, not a global window: rows are
    range-partitioned by the hash (Spark's sampled range partitioner),
    each partition ranks locally, and per-partition counts (a
    metadata-sized collect, #partitions rows) become broadcast additive
    offsets. No single-partition sort of the corpus anywhere.
    """
    h = F.md5(F.concat_ws("|", F.lit(str(seed)), F.col(id_col).cast("string")))
    hashed = df.withColumn("__h", h)
    # bare BY_COL range partition unless the caller pins a count —
    # same rationale and value argument as pack_sequences (r16): AQE
    # sizes the partitions from bytes; rank offsets only need
    # partition order == (__h, id) order, preserved by coalescing
    if num_shards:
        ranged = hashed.repartitionByRange(num_shards, F.col("__h"), F.col(id_col))
    else:
        ranged = hashed.repartitionByRange(F.col("__h"), F.col(id_col))
    ranged = ranged.withColumn("__part", F.spark_partition_id())
    w_local = Window.partitionBy("__part").orderBy("__h", id_col)
    local = ranged.withColumn("__local_rank", F.row_number().over(w_local))
    local = local.persist()  # feeds both the counts agg and the final rank
    counts = sorted(
        local.groupBy("__part").agg(F.count("*").alias("__n")).collect(),
        key=lambda r: r["__part"],
    )
    offsets: dict[int, int] = {}
    running = 0
    for row in counts:
        offsets[row["__part"]] = running
        running += row["__n"]
    offset_col = F.coalesce(
        *[F.when(F.col("__part") == p, F.lit(o)) for p, o in offsets.items()],
        F.lit(0),
    ) if offsets else F.lit(0)
    return (
        local.withColumn("shuffle_pos", (F.col("__local_rank") - 1 + offset_col).cast("bigint"))
        .drop("__h", "__part", "__local_rank")
    )


def assign_splits(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic dataset split assignment (train/val/test) by
    salted content hash — the split twin of :func:`hash_sample`.

    Buckets ``h60(salt|key) mod 1e6`` into cumulative fraction ranges
    (insertion order of ``fractions``). Pure map-side projection: no
    shuffle, no RNG state, reproducible across engines and reruns, and
    growth-stable — adding documents never reassigns existing ones,
    unlike randomSplit whose assignment depends on partitioning.
    ``fractions`` must sum to ~1; the last named split absorbs rounding.
    """
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    bucket = F.pmod(
        _salted_h60(salt, key_col),
        F.lit(1_000_000),
    )
    names = list(fractions)
    cum = 0.0
    expr = F.lit(names[-1])
    # build from the last boundary backwards so the first matching
    # range wins: WHEN b < c1 THEN s1 WHEN b < c2 THEN s2 ... ELSE last
    conds = []
    for name in names[:-1]:
        cum += fractions[name]
        conds.append((int(round(cum * 1_000_000)), name))
    for threshold, name in reversed(conds):
        expr = F.when(bucket < threshold, F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def leakage_safe_splits(
    df: DataFrame,
    pairs: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    salt: str = "",
    out_col: str = "split",
    group_col: str = "split_group",
    algorithm: str = "label",
) -> DataFrame:
    """Train/val/test assignment that near-duplicate clusters can never
    straddle — the leakage guard :func:`assign_splits` alone lacks.

    Hashing each document independently puts ~2·p·(1-p) of every
    near-dup pair across the train/eval boundary, so eval examples have
    near-copies in training and metrics inflate. This operator assigns
    by CLUSTER instead: ``pairs`` (from any pair generator — MinHash,
    SimHash, embedding cosine) are closed into connected components,
    every member inherits the component's min id as ``group_col``
    (unpaired docs are their own group), and :func:`assign_splits`
    hashes the GROUP id — one split per cluster, by construction.

    Scale: components are computed over the pair list only (pairs are
    bucket-local and budget-capped upstream — corpus-independent); the
    one corpus-sized operation is the id-keyed left join labeling each
    doc, and the split itself stays a map-side hash. Assignment is
    growth-stable for untouched clusters: a new document only moves an
    existing one if it newly BRIDGES clusters (merged components take a
    new min id) — exactly the rows whose leakage status changed.
    """
    from etl_router_spark.functions.dedup import dedup_clusters

    labeled = dedup_clusters(
        df, pairs, id_col=id_col, id_a=id_a, id_b=id_b,
        algorithm=algorithm,
    ).withColumnRenamed("cluster_id", group_col)
    assigned = assign_splits(labeled, key_col=group_col,
                             fractions=fractions, salt=salt,
                             out_col=out_col)
    return df.join(assigned, id_col)


def segment_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
    tokens_per_line: int | None = None,
) -> DataFrame:
    """Explode documents into ``(id, line_no, line)`` rows.

    Two segmenters: split on ``delimiter`` (the normal case — real
    corpora separate paragraphs with newlines), or fixed
    ``tokens_per_line`` windows for corpora without structural
    delimiters. Empty/whitespace-only segments are dropped. Pure
    per-row explode — no shuffle.
    """
    if tokens_per_line is not None:
        if tokens_per_line <= 0:
            raise ValueError("tokens_per_line must be positive")
        # tokens bound once per row (r15, the bound_shingles_sql trap): a
        # captured split EXPRESSION in the per-window lambda would
        # re-tokenize once per LINE segment — O(len^2/window) per doc
        toks = F.expr(tokens_sql(sql_ident(text_col)))

        def _windows(t: Column) -> Column:
            n_lines = F.ceil(F.size(t) / F.lit(float(tokens_per_line))).cast("int")
            return F.transform(
                F.sequence(F.lit(0), F.greatest(n_lines, F.lit(1)) - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(t, i * tokens_per_line + 1, tokens_per_line)),
            )

        segs = F.transform(F.array(toks), _windows)[0]
    else:
        segs = F.split(F.col(text_col), F.lit(delimiter).cast("string"), -1)
    return (
        df.select(F.col(id_col).alias("id"), F.posexplode(segs).alias("line_no", "line"))
        .filter(F.trim(F.col("line")) != "")
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
    tokens_per_line: int | None = None,
    join_sep: str = "\n",
    out_col: str = "text_deduped",
) -> DataFrame:
    """Cross-document line-level deduplication (the CCNet / RefinedWeb
    boilerplate-removal pass): every normalized line is kept only at
    its first global occurrence — ordered by ``(id, line_no)`` — and
    dropped everywhere else; surviving lines are reassembled in
    original order.

    Output: one row per input document with ``n_lines`` (after
    segmentation), ``n_lines_kept`` and ``out_col`` (the cleaned text;
    empty string when every line was a duplicate).

    Plan shape, sized for 100 TB: winners are found with
    ``groupBy(line_key).agg(min(struct(id, line_no)))`` — the shuffle
    carries 8-byte hashes + two ids (never line text) and map-side
    partial aggregation collapses hot boilerplate lines (cookie
    banners with df in the millions) before the exchange, so no task
    ever materializes a hot line's full posting list. Kept lines are
    then an equi-join on ``(line_key, id, line_no)`` and reassembly is
    one ``groupBy(id)`` — text crosses the wire twice, the unavoidable
    minimum for a keep-first-global policy.

    Reference scope note: the reference engine has no corpus operators
    (`conveyor-etl-dsl/src/types.rs:389-408` is the full transform
    set); this is part of the training-data surface built on top.
    """
    lines = segment_lines(df, id_col, text_col, delimiter, tokens_per_line)
    norm = "lower(regexp_replace(trim(line), '\\\\s+', ' '))"
    keyed = lines.withColumn("line_key", F.expr(h60_sql(norm)))

    winners = (
        keyed.groupBy("line_key")
        .agg(F.min(F.struct("id", "line_no")).alias("w"))
        .select(
            "line_key",
            F.col("w.id").alias("id"),
            F.col("w.line_no").alias("line_no"),
            F.lit(True).alias("__won"),
        )
    )
    # flag instead of filter: per-doc totals, kept counts and the
    # reassembled text all come from ONE groupBy(id) over the flagged
    # lines — a separate totals pass would shuffle the full line
    # stream by id a second time
    flagged = keyed.join(winners, ["line_key", "id", "line_no"], "left")
    per_doc = flagged.groupBy("id").agg(
        F.count("*").alias("n_lines"),
        F.count(F.when(F.col("__won"), 1)).alias("n_lines_kept"),
        F.concat_ws(
            join_sep,
            F.transform(
                # collect_list drops the nulls the when() leaves for
                # losing lines, so only winners reach the sort
                F.array_sort(
                    F.collect_list(F.when(F.col("__won"), F.struct("line_no", "line")))
                ),
                lambda s: s["line"],
            ),
        ).alias(out_col),
    )
    out = df.select(F.col(id_col)).join(
        per_doc.withColumnRenamed("id", id_col), id_col, "left"
    )
    return (
        out.withColumn("n_lines", F.coalesce("n_lines", F.lit(0)))
        .withColumn("n_lines_kept", F.coalesce("n_lines_kept", F.lit(0)))
        .withColumn(out_col, F.coalesce(out_col, F.lit("")))
    )


def mix_sample(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    domain_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "",
    size_col: str | None = None,
    domain_sizes: DataFrame | None = None,
    rate_col: str | None = None,
    temperature: float | None = None,
) -> DataFrame:
    """Sample the corpus down to a target domain mixture — the
    training-mix operator (DoReMi/Pile-style source weighting): given
    target proportions ``weights`` (domain -> share), keep the LARGEST
    sub-corpus whose domain shares match them exactly.

    Math: with observed sizes n_d (rows, or ``sum(size_col)`` — tokens
    is the production unit), the binding domain caps the total at
    S = min_d(n_d / w_d) units; every domain keeps rate_d =
    w_d * S / n_d of its content (rate 1.0 for the binding domain).
    Selection is the same deterministic ``h60(salt|key) % 1e6`` bucket
    as :func:`hash_sample` — reproducible across engines, runs and
    partitionings, monotone under weight rescaling, and a re-mix with
    the same salt reuses prior downloads (kept sets nest when rates
    only grow).

    Plan shape (scale-first): one domain-count aggregation (shuffles
    per-domain SUMS, never rows), a 1-row min-scale agg, and the tiny
    rates frame broadcast back onto the fact side — the corpus itself
    NEVER shuffles; the keep decision is a map-side filter. The counts
    pass re-scans the corpus; at 100 TB pass ``domain_sizes`` (schema
    ``<domain_col>, __n``) maintained incrementally at ingest and the
    operator is a single scan. Domains absent from ``weights`` are
    dropped (the mixture is fully specified); weighted domains absent
    from the data contribute no rows and do not bind the scale.

    ``rate_col`` attaches each row's keep-rate (diagnostic/lineage).

    ``temperature`` (exclusive with ``weights``) derives the target
    mixture from the data itself: w_d ∝ n_d^alpha — the multi-source
    temperature-sampling rule from the multilingual/multi-corpus
    pre-training literature (alpha=1 keeps the natural mix, alpha=0
    targets uniform, the usual alpha≈0.3-0.7 flattens head domains
    while keeping tail domains from dominating). Weights are computed
    IN the per-domain counts frame (rounded to 6 dp so the SQL oracle
    can mirror pow() across engines) — no driver collection, and every
    observed domain participates (the mixture is derived, not
    specified).
    """
    spark = df.sparkSession
    if (weights is None) == (temperature is None):
        raise ValueError(
            "mix_sample: exactly one of weights / temperature must be given")
    if weights is not None and (
            not weights or any(float(v) <= 0 for v in weights.values())):
        raise ValueError("mix_sample: weights must be non-empty and positive")
    if temperature is not None and float(temperature) < 0:
        raise ValueError("mix_sample: temperature must be >= 0")
    if domain_sizes is None:
        unit = F.col(size_col).cast("double") if size_col else F.lit(1.0)
        sizes = df.groupBy(domain_col).agg(F.sum(unit).alias("__n"))
    else:
        sizes = domain_sizes
    if temperature is not None:
        nw = sizes.withColumn(
            "__w", F.round(F.pow(F.col("__n"), F.lit(float(temperature))), 6))
    else:
        # weights are used as-given: rate_d = w_d*S/n_d is invariant
        # under rescaling ALGEBRAICALLY, and skipping normalization
        # keeps the arithmetic bitwise-mirrorable by the SQL oracle (a
        # float divide by sum(w) would perturb the thresholds
        # differently per engine)
        wdf = spark.createDataFrame(
            [(k, float(v)) for k, v in sorted(weights.items())],
            f"{sql_ident(domain_col, alias=True)} string, __w double",
        )
        nw = sizes.join(F.broadcast(wdf), domain_col)
    scale = nw.agg(F.min(F.col("__n") / F.col("__w")).alias("__scale"))
    rates = (
        nw.crossJoin(F.broadcast(scale))
        # exact op order mirrored by the SQL oracle: (w * scale) / n
        .withColumn("__rate", F.col("__w") * F.col("__scale") / F.col("__n"))
        .select(domain_col, "__rate")
    )
    bucket = F.pmod(
        _salted_h60(salt, key_col), F.lit(1_000_000)
    )
    out = (
        df.join(F.broadcast(rates), domain_col)
        .filter(bucket < F.col("__rate") * F.lit(1_000_000.0))
    )
    if rate_col:
        return out.withColumn(rate_col, F.col("__rate")).drop("__rate")
    return out.drop("__rate")


def epoch_upsample(
    df: DataFrame,
    weights: dict[str, float],
    token_budget: float,
    domain_col: str = "source",
    key_col: str = "doc_id",
    size_col: str | None = None,
    max_epochs: float = 4.0,
    salt: str = "",
    epoch_col: str = "epoch",
    domain_sizes: DataFrame | None = None,
) -> DataFrame:
    """Epoch-aware UPSAMPLING to a token budget — the complement of
    :func:`mix_sample` (which only downsamples): when a domain's target
    share exceeds its natural size, repeat its documents across
    training epochs, capped at ``max_epochs`` (the LLaMA/Dolma recipe —
    high-quality small sources run several epochs, web runs <1, and the
    cap keeps any source from degenerating into memorization).

    Math: target units t_d = w_d / sum(w) * ``token_budget`` (units =
    rows, or ``sum(size_col)``); epochs_d = min(max_epochs, t_d / n_d),
    rounded to 6 dp so the SQL oracle mirrors the thresholds exactly.
    Every document is emitted floor(epochs_d) times, plus one more for
    the deterministic ``h60(salt|key)`` fraction of the domain that
    covers the remainder — so a domain at epochs_d = 2.3 emits each doc
    2x and a fixed 30% of docs 3x. ``epoch_col`` numbers the copies
    1..r (downstream shuffles can spread epochs across the token
    stream). Domains absent from ``weights`` are dropped; epochs_d
    rounding to 0 drops the domain entirely (budget too small to cover
    it — by construction, not an error).

    Plan shape: one per-domain counts aggregation (sums, never rows),
    the tiny epochs frame broadcast back, then a map-side
    explode(sequence(1, r)) — the corpus never shuffles and the blow-up
    is bounded by max_epochs. At 100 TB pass ``domain_sizes``
    (``<domain_col>, __n`` maintained at ingest) and the counts scan
    disappears.
    """
    if not weights or any(float(v) <= 0 for v in weights.values()):
        raise ValueError(
            "epoch_upsample: weights must be non-empty and positive")
    if float(token_budget) <= 0 or float(max_epochs) <= 0:
        raise ValueError(
            "epoch_upsample: token_budget and max_epochs must be > 0")
    spark = df.sparkSession
    if domain_sizes is None:
        unit = F.col(size_col).cast("double") if size_col else F.lit(1.0)
        sizes = df.groupBy(domain_col).agg(F.sum(unit).alias("__n"))
    else:
        sizes = domain_sizes
    wsum = float(sum(float(v) for v in weights.values()))
    wdf = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(weights.items())],
        f"{sql_ident(domain_col, alias=True)} string, __w double",
    )
    epochs = (
        sizes.join(F.broadcast(wdf), domain_col)
        # exact op order mirrored by the SQL oracle:
        # (w / wsum * budget) / n, capped, then 6-dp round
        .withColumn(
            "__epochs",
            F.round(
                F.least(
                    F.lit(float(max_epochs)),
                    F.col("__w") / F.lit(wsum) * F.lit(float(token_budget))
                    / F.col("__n"),
                ),
                6,
            ),
        )
        .select(domain_col, "__epochs")
    )
    bucket = F.pmod(
        _salted_h60(salt, key_col),
        F.lit(1_000_000),
    )
    full = F.floor(F.col("__epochs")).cast("int")
    frac = F.col("__epochs") - F.floor(F.col("__epochs"))
    repeats = full + F.when(
        bucket < frac * F.lit(1_000_000.0), F.lit(1)).otherwise(F.lit(0))
    return (
        df.join(F.broadcast(epochs), domain_col)
        .withColumn("__r", repeats)
        .filter(F.col("__r") >= 1)
        .withColumn(epoch_col, F.explode(F.sequence(F.lit(1), F.col("__r"))))
        .drop("__epochs", "__r")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    compare_cols: list[str] | None = None,
    status_col: str = "status",
) -> DataFrame:
    """Corpus-version diff: (id, status, old_digest, new_digest) with
    status added | removed | changed | unchanged — the audit pass
    between two snapshots of the same table (nightly crawl refresh,
    reprocessed shard) that tells the pipeline what downstream work the
    new snapshot actually invalidates.

    Rows compare by an engine-portable content digest: ``h60`` over the
    ``compare_cols`` (default: all shared non-id columns, sorted) cast
    to string, null-coded with a sentinel and joined by a unit
    separator, so (NULL, 'a') never collides with ('a', NULL) and the
    SQL oracle reproduces the digest bit-for-bit.

    Plan shape: each side reduces to (id, digest) map-side BEFORE the
    full-outer join, so the shuffle carries two longs per row, never
    document bodies; at 100 TB the digests are the natural thing to
    persist at ingest, making the nightly diff a join of two slim
    digest tables.
    """
    if compare_cols is None:
        shared = set(old.columns) & set(new.columns)
        compare_cols = sorted(c for c in shared if c != id_col)
    if not compare_cols:
        raise ValueError("snapshot_diff: no columns to compare")

    digest = F.expr(h60_sql("concat({})".format(f", {sql_str(chr(0x1f))}, ".join(
        f"coalesce(CAST({sql_ident(c)} AS STRING), {sql_str(chr(0))})"
        for c in compare_cols))))
    o = old.select(F.col(id_col), digest.alias("old_digest"))
    n = new.select(F.col(id_col), digest.alias("new_digest"))
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") == F.col("new_digest"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        o.join(n, id_col, "full_outer")
        .select(id_col, status.alias(status_col), "old_digest", "new_digest")
    )


def adaptive_quality_filter(
    df: DataFrame,
    score_col: str,
    group_col: str,
    quantile: float = 0.25,
    threshold_round: int | None = None,
) -> DataFrame:
    """Per-group adaptive quality threshold: keep documents whose
    ``score_col`` is at or above their group's ``quantile`` of the
    score distribution — the published recipe for heterogeneous web
    corpora (per-dump/per-domain thresholds in FineWeb, Penedo et al.
    2024; CCNet's per-language perplexity buckets): one global cutoff
    over-prunes clean domains and under-prunes noisy ones, a relative
    cutoff adapts.

    Plan: one aggregation computes the exact interpolated percentile
    per group (percentile_cont semantics, so the DuckDB oracle matches
    bit-for-bit); the tiny (group, threshold) frame broadcasts back
    onto the corpus — the corpus itself never shuffles. At 100 TB with
    million-group cardinality swap ``F.percentile`` for
    ``percentile_approx`` (fixed-size GK sketch per group) and the
    broadcast for a shuffle join; the 0.05-quantile contract test
    pattern from the approx gates applies.

    ``threshold_round`` snaps the interpolated threshold to a decimal
    grid before comparing — interpolation may differ across engines in
    the last ulp, so an oracle-checked pipeline rounds both sides to
    make the boundary comparison deterministic.
    """
    thr_col = F.percentile(F.col(score_col), F.lit(quantile))
    if threshold_round is not None:
        thr_col = F.round(thr_col, threshold_round)
    thr = df.groupBy(group_col).agg(thr_col.alias("__thr"))
    # join strategy left to AQE (r13): thr is one row per group_col
    # VALUE — metadata-sized for language/source grouping, but
    # data-sized when callers group by domain/host, where a forced
    # broadcast hint OOMs. AQE still broadcasts the small case from
    # runtime stats.
    return (
        df.join(thr, group_col)
        .filter(F.col(score_col) >= F.col("__thr"))
        .drop("__thr")
    )


def chunk_by_sentences(
    df: DataFrame,
    max_chars: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sentence-boundary chunking (the retrieval/RAG-standard variant
    of fixed-window ``chunk_documents``): documents split into
    sentences on terminal punctuation, consecutive sentences grouped
    into chunks by cumulative length.

    Chunk rule (deterministic, oracle-matchable): sentence i joins
    chunk ``floor(chars_before_i / max_chars)`` — prefix-sum
    assignable in one pass, so a chunk may overrun ``max_chars`` by
    its final sentence (greedy fit-before-add would need a sequential
    fold). Sentence order inside a chunk is restored by position, so
    the reassembled chunk text is exact.

    Plan: split + posexplode (1->N, no shuffle), ONE doc-keyed window
    for the running length, one (doc, chunk) aggregation. No Python.
    """
    sent_delim = "\x1e"
    sents = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(
                F.split(
                    F.regexp_replace(F.col(text_col), r"([.!?])\s+", "$1" + sent_delim),
                    sent_delim,
                ),
                lambda s: F.trim(s) != "",
            )
        ).alias("pos", "sent"),
    ).select(id_col, "pos", F.trim("sent").alias("sent"))
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = sents.withColumn(
        "chunk_id",
        F.floor(
            F.coalesce(F.sum(F.length("sent")).over(w), F.lit(0)) / max_chars
        ).cast("bigint"),
    )
    return (
        chunked.groupBy(id_col, "chunk_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "sent"))),
                    lambda x: x["sent"],
                ),
                " ",
            ).alias("chunk_text"),
            F.count("*").alias("n_sentences"),
        )
    )


def quality_buckets(
    df: DataFrame,
    score_col: str,
    group_col: str,
    quantiles: tuple[float, ...] = (1 / 3, 2 / 3),
    labels: tuple[str, ...] = ("low", "middle", "high"),
    threshold_round: int | None = None,
) -> DataFrame:
    """Per-group quantile bucketing of a quality score — the CCNet
    recipe (Wenzek et al. 2020): each language's documents split into
    head/middle/tail perplexity tertiles, and downstream sampling
    draws preferentially from the better buckets instead of hard
    filtering.

    ``labels[i]`` is assigned where score <= the i-th group quantile
    (ascending); the last label catches the rest. One aggregation
    computes all group thresholds (array-typed percentile — a single
    pass regardless of bucket count); the tiny threshold frame
    broadcasts back, the corpus never shuffles. ``threshold_round``
    snaps thresholds to a decimal grid for cross-engine-deterministic
    boundary comparisons (same contract as adaptive_quality_filter).
    """
    if len(labels) != len(quantiles) + 1:
        raise ValueError("need exactly one more label than quantiles")
    thr_expr = F.percentile(
        F.col(score_col), F.array(*[F.lit(float(q)) for q in quantiles])
    )
    if threshold_round is not None:
        thr_expr = F.transform(thr_expr, lambda t: F.round(t, threshold_round))
    thr = df.groupBy(group_col).agg(thr_expr.alias("__thr"))
    bucket = None
    for i in range(len(quantiles)):
        cond = F.col(score_col) <= F.col("__thr")[i]
        bucket = F.when(cond, labels[i]) if bucket is None else bucket.when(cond, labels[i])
    bucket = bucket.otherwise(labels[-1])
    # strategy left to AQE — same rationale as quantile_filter: one
    # row per group value is only metadata-sized for coarse groupings
    return (
        df.join(thr, group_col)
        .withColumn("bucket", bucket)
        .drop("__thr")
    )


def pack_with_boundaries(
    df: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    token_count_col: str = "n_tokens",
    num_shards: int | None = None,
) -> DataFrame:
    """One row per training window: the ordered document composition a
    data loader needs to build block-diagonal attention masks for
    packed pretraining batches (documents straddle windows; attention
    must not cross document boundaries).

    Builds on ``pack_sequences``'s distributed prefix sum, then
    explodes each document over the windows its token span covers
    (``sequence(first_win, last_win)`` — per-doc fan-out is
    ceil(n_tokens / max_tokens), never corpus-sized) and re-groups by
    window. The only added shuffle is the window groupBy, keyed on
    seq_index — uniformly distributed by construction, skew-free.

    Output per ``seq_index``: ``doc_ids`` + ``boundaries`` (window
    offsets where each document begins; a carried-over document starts
    at 0), ``carried_in`` (window opens mid-document), ``n_docs``, and
    ``filled_tokens`` (== max_tokens except the final window).

    Zero-token documents are excluded — they occupy no positions, so
    every other document's placement is unchanged.
    """
    nonempty = df.filter(F.col(token_count_col) > 0)
    packed = pack_sequences(nonempty, max_tokens, id_col=id_col,
                            token_count_col=token_count_col,
                            num_shards=num_shards)
    last_tok = F.col("token_start") + F.col(token_count_col) - 1
    spans = packed.select(
        F.col(id_col), F.col(token_count_col), F.col("token_start"),
        F.explode(F.sequence(
            F.floor(F.col("token_start") / max_tokens),
            F.floor(last_tok / max_tokens),
        )).alias("seq_index"),
    )
    win_start = F.col("seq_index") * max_tokens
    entry = F.struct(
        F.greatest(F.col("token_start") - win_start, F.lit(0).cast("long"))
         .alias("offset"),
        F.col(id_col).alias("doc_id"),
        (F.col("token_start") < win_start).alias("carried"),
        (
            F.least(F.col("token_start") + F.col(token_count_col),
                    win_start + max_tokens)
            - F.greatest(F.col("token_start"), win_start)
        ).alias("tokens"),
    )
    grouped = (
        spans.select("seq_index", entry.alias("e"))
        .groupBy("seq_index")
        .agg(F.sort_array(F.collect_list("e")).alias("es"))
    )
    return grouped.select(
        "seq_index",
        F.transform("es", lambda e: e["doc_id"]).alias("doc_ids"),
        F.transform("es", lambda e: e["offset"]).alias("boundaries"),
        F.col("es")[0]["carried"].alias("carried_in"),
        F.size("es").cast("long").alias("n_docs"),
        F.aggregate("es", F.lit(0).cast("long"),
                    lambda acc, e: acc + e["tokens"]).alias("filled_tokens"),
    )


def domain_cap(
    df: DataFrame,
    url_col: str = "url",
    cap: int = 100,
    id_col: str = "doc_id",
    method: CapMethod = "exact",
    host_col: str | None = None,
    domain_counts: DataFrame | None = None,
    seed: int = 0,
) -> DataFrame:
    """Cap the documents kept per web host — URL-based curation, the
    crawl-side complement of ``mix_sample``: without a per-domain cap a
    handful of template-heavy mega-hosts dominate a web corpus (the
    FineWeb / RefinedWeb recipe caps or downweights URLs per
    registrable domain before any content filtering).

    Selection is deterministic and engine-portable: within a host,
    documents rank by ``h60(seed|id)`` (ties broken by id), and the cap
    keeps the lowest ranks — the same rows survive under any
    partitioning, and a DuckDB oracle reproduces them exactly.

    ``method="exact"`` keeps EXACTLY ``min(cap, n)`` rows per host: a
    ``row_number`` window partitioned by host — ONE hash shuffle on the
    host key. A mega-host concentrates its rows in one task (inherent
    to any exact per-group rank); at crawl scale (hosts with 10^7+
    pages) pre-thin with ``method="threshold"`` first, or pass
    ``domain_counts`` maintained incrementally at ingest.

    ``method="threshold"`` is the zero-row-shuffle scale path: per-host
    counts (an aggregation that shuffles per-host SUMS, never rows — or
    the persisted ``domain_counts`` table, schema ``(host, __n)``)
    identify over-cap hosts; each broadcasts back with keep-rate
    ``cap/n`` and rows pass a map-side test on the RANK KEY's unit
    fraction — the same ordering exact mode ranks by, so the threshold
    survivors are a prefix (in expectation) of the exact survivors.
    Kept count per host is binomial around ``cap`` (CV ≈ 1/sqrt(cap));
    rows themselves never shuffle.

    ``method="hybrid"`` composes the two into an EXACT cap without the
    mega-host straggler: a generous threshold pre-thin (keep-rate
    ``4*cap/n``, map-side) shrinks every over-cap host to ~4*cap rows,
    then the exact row_number runs over the survivors — the host
    shuffle carries O(hosts * cap) rows instead of the corpus, and the
    biggest task is ~4*cap rows no matter how hot the host. Because
    the threshold is monotone in the SAME rank key the window orders
    by, hybrid == exact whenever every host retains >= cap survivors —
    a >= 4x margin puts the failure probability below e^{-cap} by a
    Chernoff bound (already < 1e-4 at cap=20); hosts at or under the
    cap bypass the thinning entirely, so they are never at risk.

    Output: the input columns plus ``host``. Reference analog: the
    per-key rate limiter (``conveyor-etl-dsl`` ratelimit) applied to
    the curation domain axis.
    """
    from etl_router_spark.functions.text import url_host

    if method not in get_args(CapMethod):
        raise ValueError(f"domain_cap: unknown method {method!r}")
    if cap <= 0:
        raise ValueError("domain_cap: cap must be positive")
    host = F.col(host_col) if host_col else url_host(F.col(url_col))
    hdf = df.withColumn("host", host)
    rank_key = F.expr(h60_sql(
        f"concat_ws('|', {sql_str(str(seed))}, CAST({sql_ident(id_col)} AS STRING))"))

    def exact_cap(frame: DataFrame) -> DataFrame:
        w = Window.partitionBy("host").orderBy(
            rank_key.asc(), F.col(id_col).asc())
        return (
            frame.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= cap)
            .drop("__rk")
        )

    if method == "exact":
        return exact_cap(hdf)
    counts = domain_counts
    if counts is None:
        counts = hdf.groupBy("host").agg(F.count("*").alias("__n"))
    margin = 4.0 if method == "hybrid" else 1.0
    over = counts.filter(F.col("__n") > cap).select(
        "host",
        F.least(F.lit(1.0), F.lit(margin * cap) / F.col("__n"))
         .alias("__keep_rate"))
    # unit fraction of the 60-bit rank key: monotone in the exact
    # mode's ordering, so thresholding keeps (a binomial draw of) the
    # lowest-ranked rows rather than an unrelated subset
    frac = rank_key.cast("double") / float(1 << 60)
    # strategy left to AQE (r13): `over` is one row per OVER-CAP host —
    # usually a short heavy-tail list, but its size is data-dependent
    # (a low cap over a web crawl puts millions of hosts over it), so a
    # forced broadcast hint is an OOM hazard; AQE still broadcasts the
    # short-list case from runtime stats.
    thinned = (
        hdf.join(over, "host", "left")
        .filter(F.col("__keep_rate").isNull() | (frac < F.col("__keep_rate")))
        .drop("__keep_rate")
    )
    if method == "threshold":
        return thinned
    return exact_cap(thinned)


def filter_attribution(
    df: DataFrame,
    rules: dict[str, Column],
) -> DataFrame:
    """One-pass drop accounting for a quality-rule stack — the
    observability step of corpus curation: before committing to a
    filter configuration over 100 TB you need per-rule kill counts,
    and running R rules as R separate filter jobs scans the corpus R
    times; this computes every count in ONE aggregation pass (2R+3
    map-side partial sums, a single 1-row reduce — no shuffle of data
    rows at all).

    ``rules`` maps rule name -> keep-predicate (True = keep; NULL
    counts as a failure, matching ``filter()`` semantics which drop
    NULL rows). Output, one row per rule:

    - ``n_fail``: rows failing the rule,
    - ``n_only_fail``: rows failing ONLY this rule — lifting exactly
      this rule would rescue them (the marginal-cost signal rule-OR
      counts can't give),
    - ``n_rows``, ``fail_rate``

    plus a ``__dropped__`` summary row (``n_fail`` = rows failing at
    least one rule = what the stack removes; ``n_only_fail`` = rows
    failing exactly one rule = total rescue potential).
    """
    if not rules:
        raise ValueError("filter_attribution: need at least one rule")
    names = list(rules)
    fail = [F.when(rules[n], F.lit(0)).otherwise(F.lit(1)) for n in names]
    total = fail[0]
    for f in fail[1:]:
        total = total + f
    # columns are aliased by position and the names stacked as values,
    # so no rule name reaches SQL text
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for i, f in enumerate(fail):
        aggs.append(F.sum(f).alias(f"__f_{i}"))
        aggs.append(
            F.sum(F.when((f == 1) & (total == 1), 1).otherwise(0))
            .alias(f"__o_{i}"))
    aggs.append(F.sum(F.when(total >= 1, 1).otherwise(0)).alias("__any"))
    aggs.append(F.sum(F.when(total == 1, 1).otherwise(0)).alias("__one"))
    rows = [(F.lit(n), F.col(f"__f_{i}"), F.col(f"__o_{i}"))
            for i, n in enumerate(names)]
    rows.append((F.lit("__dropped__"), F.col("__any"), F.col("__one")))
    return df.agg(*aggs).select(
        F.stack(F.lit(len(rows)), *(c for row in rows for c in row))
        .alias("rule", "n_fail", "n_only_fail"),
        F.col("__n_rows").alias("n_rows"),
    ).select(
        "rule",
        F.coalesce(F.col("n_fail"), F.lit(0)).cast("long").alias("n_fail"),
        F.coalesce(F.col("n_only_fail"), F.lit(0)).cast("long")
         .alias("n_only_fail"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round(F.coalesce(F.col("n_fail"), F.lit(0)) / F.col("n_rows"), 6)
         .alias("fail_rate"),
    )


def filter_yield_curve(
    df: DataFrame,
    score_col: str,
    thresholds: list[float],
    size_col: str | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """Per-threshold retention curve for a quality score — the
    CALIBRATION step between training a classifier
    (``text.quality_classifier``) and committing to a cutoff: at
    100 TB you cannot re-run the filter once per candidate threshold,
    and a quantile sketch answers "what score is the p90" but not
    "how many TOKENS survive a 0.7 cutoff". One aggregation pass (2T
    conditional partial sums + 2 totals; no shuffle of data rows —
    the same shape as :func:`filter_attribution`) emits, per
    threshold t (keep = ``score_col >= t``; NULL scores never kept):

    - ``n_docs_kept`` / ``frac_docs``,
    - ``n_units_kept`` / ``frac_units`` (rows, or ``sum(size_col)``
      — tokens is the production unit),

    so the yield-vs-quality trade reads off one table. Grouped by
    ``group_col`` when given (per-domain curves; at most
    #groups x (T+1) output rows). Fractions round to 6 dp for exact
    cross-engine comparison.
    """
    if not thresholds:
        raise ValueError("filter_yield_curve: need at least one threshold")
    if sorted(thresholds) != list(thresholds) or \
            len(set(thresholds)) != len(thresholds):
        raise ValueError("filter_yield_curve: thresholds must be "
                         "strictly increasing")
    s = F.col(score_col).cast("double")
    unit = F.col(size_col).cast("double") if size_col else F.lit(1.0)
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.coalesce(F.sum(unit), F.lit(0.0)).alias("__u"),
    ]
    for i, t in enumerate(thresholds):
        keep = s >= float(t)
        aggs.append(F.sum(F.when(keep, 1).otherwise(0)).alias(f"__d{i}"))
        aggs.append(F.coalesce(
            F.sum(F.when(keep, unit).otherwise(F.lit(0.0))), F.lit(0.0)
        ).alias(f"__u{i}"))
    wide = df.groupBy(group_col).agg(*aggs) if group_col else df.agg(*aggs)
    stacked = ", ".join(
        f"{sql_double(t)}, __d{i}, __u{i}"
        for i, t in enumerate(thresholds))
    cols = ([sql_ident(group_col)] if group_col else []) + [
        f"stack({len(thresholds)}, {stacked}) AS "
        "(threshold, n_docs_kept, n_units_kept)",
        "__n", "__u",
    ]
    return wide.selectExpr(*cols).select(
        *([group_col] if group_col else []),
        "threshold",
        F.col("n_docs_kept").cast("long").alias("n_docs_kept"),
        F.col("n_units_kept").cast("double").alias("n_units_kept"),
        F.round(F.col("n_docs_kept") / F.col("__n"), 6).alias("frac_docs"),
        F.round(F.when(F.col("__u") > 0,
                       F.col("n_units_kept") / F.col("__u"))
                 .otherwise(F.lit(0.0)), 6).alias("frac_units"),
    )


def redact_contaminated_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    sentinel: str = "[REDACTED]",
    out_col: str = "clean_text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """SURGICAL decontamination: instead of dropping every document
    that shares an ``n``-gram with the benchmark (``decontaminate`` —
    which throws away the 99% of a long document that is clean),
    redact exactly the tokens covered by a leaked n-gram window and
    keep the rest, collapsing each contiguous contaminated run to one
    ``sentinel`` token.

    Token-level contract: the output text is the kept tokens rejoined
    by single spaces (original inter-token whitespace is not
    preserved) — the right trade for pretraining text; byte-exact
    consumers should use ``decontaminate`` instead. Documents without
    hits pass through with the same single-space normalization, so the
    clean and dirty paths agree on whitespace and the operator is
    idempotent.

    Plan shape: doc n-grams posexplode + broadcast semi-join against
    the benchmark gram set (same probe as ``contaminated_ids``; corpus
    rows never shuffle for it) -> per-doc hit-position list (ONE
    groupBy of (id, pos) ints — the only corpus-keyed shuffle, carrying
    positions, never text) -> map-side flag/collapse over the token
    array, O(tokens x hits) per document.

    Output: input columns plus ``out_col``, ``n_tokens_redacted``
    (tokens removed), ``n_spans`` (contiguous redacted runs).
    """
    sent = sql_str(sentinel)
    toks_sql = tokens_sql(sql_ident(text_col))
    grams = F.expr(bound_shingles_sql(sql_ident(text_col), n))
    doc_grams = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(grams).alias("__pos", "__gram"),
    )
    bench_grams = benchmark.select(
        F.explode(_distinct_grams(text_col, n)).alias("__gram")
    ).distinct()
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    hits = (
        doc_grams.join(bench_grams, "__gram", "left_semi")
        .groupBy("__id")
        .agg(F.array_sort(F.collect_list("__pos")).alias("__hits"))
    )
    flagged = docs.join(
        hits.withColumnRenamed("__id", id_col), id_col, "left"
    ).withColumn(
        "__hits",
        F.coalesce(F.col("__hits"), F.expr("CAST(array() AS ARRAY<INT>)")))
    # flag token i (0-based) iff some hit window p <= i < p + n
    flags_sql = (f"transform({toks_sql}, (t, i) -> "
                 f"exists(__hits, p -> i >= p AND i < p + {int(n)}))")
    kept_sql = (
        # keep clean tokens; emit the sentinel once per run start
        f"filter(transform({toks_sql}, (t, i) -> "
        f"CASE WHEN NOT element_at(__flags, i + 1) THEN t "
        f"WHEN i = 0 OR NOT element_at(__flags, i) THEN {sent} "
        f"ELSE NULL END), t -> t IS NOT NULL)"
    )
    redacted_sql = "size(filter(__flags, f -> f))"
    spans_sql = (
        "size(filter(transform(__flags, (f, i) -> "
        "f AND (i = 0 OR NOT element_at(__flags, i))), x -> x))"
    )
    return (
        flagged.withColumn("__flags", F.expr(flags_sql))
        .withColumn(out_col, F.expr(f"array_join({kept_sql}, ' ')"))
        .withColumn("n_tokens_redacted", F.expr(redacted_sql).cast("long"))
        .withColumn("n_spans", F.expr(spans_sql).cast("long"))
        .drop("__hits", "__flags")
    )


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-benchmark-document leak accounting — the report that decides
    between ``decontaminate`` (drop), ``redact_contaminated_spans``
    (surgical) and "retrain the eval": for every benchmark document,
    how many corpus documents share at least one word ``n``-gram with
    it and how many distinct grams leaked.

    Plan: distinct grams on both sides, benchmark side broadcasts
    (eval sets are tiny next to a training corpus), one corpus-gram
    scan joins against it, and the aggregation groups by BENCHMARK id
    — output is benchmark-sized, so the report costs one corpus scan
    regardless of corpus size. Benchmark documents with zero leaks are
    kept (left join) with zero counts: the all-clear rows are the
    point of a report.
    """
    bench_grams = benchmark.select(
        F.col(bench_id_col).alias("bench_id"),
        F.explode(_distinct_grams(text_col, n)).alias("gram"),
    ).distinct()
    doc_grams = docs.select(
        F.col(id_col).alias("corpus_id"),
        F.explode(_distinct_grams(text_col, n)).alias("gram"),
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("bench_id")
        .agg(
            F.countDistinct("corpus_id").alias("n_corpus_docs"),
            F.countDistinct("gram").alias("n_shared_grams"),
        )
    )
    return (
        benchmark.select(F.col(bench_id_col).alias("bench_id"))
        .distinct()
        .join(hits, "bench_id", "left")
        .select(
            "bench_id",
            F.coalesce("n_corpus_docs", F.lit(0)).cast("long")
             .alias("n_corpus_docs"),
            F.coalesce("n_shared_grams", F.lit(0)).cast("long")
             .alias("n_shared_grams"),
        )
    )
