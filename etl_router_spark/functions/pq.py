"""Product quantization (PQ) for embedding columns: train / encode /
asymmetric-distance (ADC) top-k search.

The 100 TB memory story: a ``d``-dim float32 embedding is ``4·d`` bytes;
its PQ code is ``m`` small integers (one codebook index per subspace) —
a 64-dim vector at m=4 compresses 256 B → 4 B. At scale that is the
difference between an ANN index that fits executor memory and one that
doesn't, which is why every production vector store (FAISS IVFPQ,
ScaNN, SPANN) quantizes before it searches.

Spark-first shapes (mirrors ``similarity.py``):

- ``pq_train``: one distributed k-means per subspace over vector
  SLICES (MLlib; optionally on a deterministic hash-sample). The
  fitted model is ``m·k`` sub-vectors — metadata-class, collected once.
- ``pq_encode``: codebooks embed as literal arrays into a pure column
  expression — assignment is map-side, whole-stage-codegen'd, the
  corpus never shuffles and no Python runs per row.
- ``pq_adc_topk``: each query precomputes its look-up table
  LUT[i][j] = ||q_i − c_ij||² once (m·k doubles, in-plan); scoring a
  corpus code is then m array lookups + adds — no vector arithmetic
  per (query, corpus) pair, and the corpus side of the join carries
  only (id, m-byte code). ``method="blas"`` streams Arrow batches
  through numpy fancy-indexing and emits batch-local top-k (the
  ``brute_force_topk`` reduction shape: the all-pairs score matrix
  never materializes).

Determinism discipline (same rules as the LSH/IVF operators): distances
round to 1e-6 before argmin/rank, ties break on the lowest centroid /
neighbor id, and ``deterministic_codebooks`` derives codebook literals
from md5 — so the DuckDB oracle regenerates bit-identical constants and
the whole encode→ADC pipeline is value-checkable cross-engine.

Reference parity: the reference ships no vector search; this extends
the engine's LLM-pipeline surface (SURVEY §2 addendum) alongside
IVF/LSH ANN.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_router_spark.functions.similarity import (
    TOPK_METHOD_ERROR,
    TopkMethod,
    batch_topk,
    rank_topk,
)
from etl_router_spark.functions.sqltext import sql_double, sql_ident

__all__ = [
    "deterministic_codebooks",
    "pq_train",
    "pq_encode",
    "pq_adc_topk",
    "ivfpq_topk",
]


def deterministic_codebooks(dim: int, m: int = 4, k: int = 16) -> list[list[list[float]]]:
    """md5-derived pinned codebooks (``m`` subspaces × ``k`` centroids
    × ``dim/m`` components in [-1, 1]) — the no-RNG-state stand-in for
    trained codebooks, so operator gates and SQL oracles embed the SAME
    literals (the ``_hyperplane`` recipe in ``similarity.py``)."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    sub = dim // m
    books = []
    for i in range(m):
        cents = []
        for j in range(k):
            vec = []
            for t in range(sub):
                h = hashlib.md5(f"pq|{i}|{j}|{t}".encode()).digest()
                v = int.from_bytes(h[:8], "big") / 2**64
                vec.append(2.0 * v - 1.0)
            cents.append(vec)
        books.append(cents)
    return books


def pq_train(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_fraction: float | None = None,
    seed: int = 42,
    max_iter: int = 20,
) -> list[list[list[float]]]:
    """Train PQ codebooks: independent distributed k-means per subspace
    over vector slices. Returns ``codebooks[m][k][dim/m]``.

    Scale: each of the ``m`` jobs reduces to a k-means over
    ``dim/m``-wide rows — MLlib's implementation aggregates
    per-partition partial sums, so the driver traffic is k sub-vectors
    per iteration per subspace, independent of corpus size.
    ``sample_fraction`` trains on a deterministic hash-sample (the
    ``train_ivf_centroids`` recipe: quantizer structure needs a sample,
    not the corpus). Centroids are rounded to 1e-6 so a codebook can be
    re-embedded as literals without drift across retrains on identical
    data.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    first = corpus.select(vec_col).first()
    if first is None:
        raise ValueError("pq_train: empty corpus")
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    sub = dim // m
    rows = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if sample_fraction is not None:
        # hash (id, seed) as two xxhash64 inputs — works for ANY id
        # type (string ids would fail the arithmetic id+seed variant
        # under ANSI) and stays deterministic across retrains
        bucket = F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(1_000_000))
        rows = rows.filter(bucket < F.lit(int(sample_fraction * 1_000_000)))
    # one cached pass feeds all m slice trainings
    rows = rows.persist()
    try:
        if sample_fraction is not None and rows.isEmpty():
            raise ValueError(
                f"pq_train: sample_fraction={sample_fraction} selected "
                "no rows — raise it (or drop it; quantizer training "
                "needs a sample, not the corpus)")
        books = []
        for i in range(m):
            feats = rows.select(
                array_to_vector(F.expr(f"slice(v, {i * sub + 1}, {sub})")).alias("features")
            )
            model = KMeans(k=k, seed=seed + i, maxIter=max_iter).fit(feats)
            books.append([
                [round(float(x), 6) for x in c] for c in model.clusterCenters()
            ])
        return books
    finally:
        rows.unpersist()


def vec_col_sql(vec_col: str) -> str:
    """The vector column ``vec_col`` as a SQL ``ARRAY<DOUBLE>``."""
    return f"CAST({sql_ident(vec_col)} AS ARRAY<DOUBLE>)"


def _slice_sql(vec_sql: str, i: int, sub: int) -> str:
    return f"slice({vec_sql}, {i * sub + 1}, {sub})"


def _book_dists_sql(vec_sql: str, book: list[list[float]]) -> str:
    """Rounded ||vec − c||² for EVERY centroid of a book, as one
    ``transform`` over a nested literal array — k× fewer expression
    nodes than k separate aggregates; rounded to 1e-6 so argmin/rank
    decisions are identical across engines despite fold-order FP
    drift. The node-count matters: a trained m=16/k=32 codebook expanded per
    centroid used to compile to a multi-MiB plan and dominate query
    wall time at any corpus size (the r8 bench's 'fixed cost')."""
    arr = "array(" + ", ".join(
        "array(" + ",".join(map(sql_double, c)) + ")" for c in book) + ")"
    return (f"transform({arr}, __c -> "
            f"round(aggregate(zip_with({vec_sql}, __c, "
            f"(a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x), 6))")


def pq_code_sql(vec_sql: str, codebooks: list[list[list[float]]]) -> str:
    """SQL for the m-element PQ code array of a vector column: per
    subspace, argmin (first-occurrence, i.e. lowest centroid id on
    ties) over the k rounded squared distances."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    codes = []
    for i in range(m):
        s = _slice_sql(vec_sql, i, sub)
        dists = _book_dists_sql(s, codebooks[i])
        # bind the distance array once (r16): writing it into both
        # array_position and array_min doubles the embedded codebook
        # TEXT — at a trained m=16/k=32 book that is the difference
        # between parsing the codebook 2m times and m times per plan.
        # Runtime is unchanged (codegen CSE already deduplicated the
        # twin subtrees — interleaved A/B was a wash, values
        # identical); unlike cell_assign_raw_sql this is safe to bind
        # because the code array is a payload, never a join key, so
        # the element_at nullability cannot resurrect a join filter.
        codes.append(
            f"transform(array({dists}), __d -> "
            "CAST(array_position(__d, array_min(__d)) - 1 AS INT))[0]")
    return "array(" + ", ".join(codes) + ")"


def pq_lut_sql(vec_sql: str, codebooks: list[list[list[float]]]) -> str:
    """SQL for a query's flat ADC look-up table (subspace-major:
    LUT[i*k + j] = ||q_i − c_ij||², rounded)."""
    sub = len(codebooks[0][0])
    per_sub = [
        _book_dists_sql(_slice_sql(vec_sql, i, sub), book)
        for i, book in enumerate(codebooks)
    ]
    return "flatten(array(" + ", ".join(per_sub) + "))"


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    keep_vec: bool = False,
) -> DataFrame:
    """(id, pq_code array<int>) per row — map-side column expression
    over literal codebooks: no keyed shuffle, no Python, the encoded
    corpus is ``m`` ints per vector (persist/write THIS at scale, not
    the raw vectors). The assignment argmin runs under interpreted
    higher-order lambdas (CodegenFallback), so an under-partitioned
    scan serializes the dominant per-row cost onto one core —
    ``spread_small_scan`` round-robins it UP to session parallelism
    first (a no-op at real scale where splits >= cores; r15, measured
    ×0.6 on the encode gate)."""
    from etl_router_spark.io import spread_small_scan

    cols = [sql_ident(id_col),
            f"{pq_code_sql(vec_col_sql(vec_col), codebooks)} AS {sql_ident(out_col, alias=True)}"]
    if keep_vec:
        cols.insert(1, sql_ident(vec_col))
    return spread_small_scan(df).selectExpr(*cols)


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: TopkMethod = "sql",
) -> DataFrame:
    """Approximate top-k by asymmetric PQ distance:
    (query_id, neighbor_id, rank, adc_dist), rank by distance ASC,
    neighbor id tie-break, self-matches excluded.

    ``method="sql"`` (engine-portable, oracle twin): queries build
    their LUT in-plan and broadcast; the corpus side encodes map-side
    and joins carrying only (id, code). Scoring is ``m`` array lookups
    per pair via a fold over ``sequence(0, m-1)``.

    ``method="blas"``: the numpy scale path — the collected query LUTs
    broadcast as one (q, m, k) tensor; each corpus partition encodes
    its Arrow batch with one argmin per subspace, scores every query
    against the batch by fancy-indexing ``lut[:, i, codes[:, i]]``,
    and emits only batch-local top-k (global re-rank sees
    ~q·k·batches rows — the ``brute_force_topk`` shape).
    """
    m = len(codebooks)
    kc = len(codebooks[0])
    if method == "sql":
        q = queries.selectExpr(
            f"{sql_ident(id_col)} AS query_id",
            f"{pq_lut_sql(vec_col_sql(vec_col), codebooks)} AS lut",
        )
        c = pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col,
                      out_col="code").withColumnRenamed(id_col, "neighbor_id")
        score = (f"round(aggregate(sequence(0, {m - 1}), 0D, (acc, i) -> "
                 f"acc + element_at(lut, i * {kc} + element_at(code, i + 1) + 1)), 6)")
        scored = (
            F.broadcast(q)
            .join(c, F.col("query_id") != F.col("neighbor_id"))
            .selectExpr("query_id", "neighbor_id", f"{score} AS adc_dist")
        )
        return rank_topk(scored, k, "adc_dist", ascending=True)
    if method != "blas":
        raise ValueError(TOPK_METHOD_ERROR)

    import numpy as np
    from pyspark.sql import types as T

    # the numpy fast path keeps ids in int64 arrays (fancy-indexed,
    # lexsorted, broadcast-compared) and emits bigint id columns; a
    # non-integral id would surface as an opaque numpy/Arrow cast
    # error deep in the job, so fail fast with the portable alternative
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    for side, frame in (("queries", queries), ("corpus", corpus)):
        dt = frame.schema[id_col].dataType
        if not isinstance(dt, integral):
            raise ValueError(
                f"pq_adc_topk(method='blas') requires an integral "
                f"{id_col} column; {side} has {dt.simpleString()} — "
                "use method='sql' (id-type-agnostic) instead")

    sub = len(codebooks[0][0])
    books = np.array(codebooks, dtype=np.float64)  # (m, k, sub)
    q_rows = queries.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).collect()
    if not q_rows:
        spark = corpus.sparkSession
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, adc_dist double")
    q_ids = np.array([r.id for r in q_rows], dtype=np.int64)
    q_mat = np.array([r.v for r in q_rows], dtype=np.float64)
    # (q, m, k): ||q_i - c_ij||^2, rounded like the SQL twin
    q_sl = q_mat.reshape(len(q_ids), len(books), sub)
    lut = np.round(
        ((q_sl[:, :, None, :] - books[None, :, :, :]) ** 2).sum(axis=3), 6)
    sc = corpus.sparkSession.sparkContext
    b_qids, b_lut, b_books = sc.broadcast(q_ids), sc.broadcast(lut), sc.broadcast(books)

    def topk_block(batches):
        qi, lt, bk = b_qids.value, b_lut.value, b_books.value
        mm, _, ss = bk.shape
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["id"].to_numpy(dtype=np.int64)
            c = np.array(list(pdf["v"]), dtype=np.float64).reshape(len(c_ids), mm, ss)
            # per-subspace rounded distances -> argmin = batch codes
            d = np.round(((c[:, :, None, :] - bk[None, :, :, :]) ** 2).sum(axis=3), 6)
            codes = d.argmin(axis=2)  # (n, m); ties -> lowest id, like SQL
            # scores[q, n] = sum_i lut[q, i, codes[n, i]]
            scores = np.round(
                lt[:, np.arange(mm)[None, :], codes].sum(axis=2), 6)
            scores[qi[:, None] == c_ids[None, :]] = np.inf  # self-exclude
            yield batch_topk(qi, c_ids, scores, scores, k, "adc_dist")

    c_rows = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    partial = c_rows.mapInPandas(topk_block, "query_id long, neighbor_id long, adc_dist double")
    return rank_topk(partial, k, "adc_dist", ascending=True)


def _centroid_dists_sql(vec_sql: str, cents: list[tuple[int, list[float]]]) -> str:
    """Array of rounded full-dim squared distances to each centroid,
    in the given centroid order (one transform over a nested literal —
    see :func:`_book_dists_sql` for why not per-centroid expansion)."""
    return _book_dists_sql(vec_sql, [cv for _, cv in cents])


def suggest_n_centroids(n_vectors: int,
                        target_occupancy: int | None = None) -> int:
    """How many IVF cells a corpus of ``n_vectors`` should use.

    Chain-level measurement (RETRIEVAL_CHAIN_r12.json / SCALE.md
    round-12): with n_centroids FIXED, p95 cell occupancy grows
    linearly with the corpus, and ``occupancy_guard="auto"`` — doing
    exactly its job — raises the rerank shortlist to match, so
    stage-2's exact fetch scales as |Q| x (n/cells) and quietly
    becomes the dominant chain stage. The fix is structural, not a
    guard setting: grow the cell count with the corpus.

    - default: FAISS's ``sqrt(n)`` training heuristic (cells ~
      occupancy ~ sqrt(n)) — balanced scan-vs-probe cost, floor 8.
    - ``target_occupancy``: size cells for a CHOSEN occupancy bound
      instead (``ceil(n / target)``, so occupancy never EXCEEDS the
      target — round could overshoot it by up to 2x for small n) —
      pick this when the shortlist budget is fixed by fetch-volume
      limits and the guard must never need to raise it.

    Why the repo carries TWO default rules (r13 verdict ask #5): an
    IVF-PQ index is PROBE-bound — each query scans nprobe cells plus
    pays per-cell probe overhead, so sqrt(n) balances cell size
    against cell count. ``semantic_dedup`` is PAIR-GENERATION-bound —
    within-cell work is C(occupancy, 2) per cell, so what must be
    pinned is the occupancy itself: its ``n_cells="auto"`` calls this
    function WITH ``target_occupancy`` (default 256), giving
    cells x C(occ, 2) ∝ n total pairs as the corpus grows. Same
    function, two entry points, one divergence — deliberate, not
    drift.

    r13 update (RETRIEVAL_CHAIN_r13.json / SCALE.md round-13): with
    large-cell assignment Arrow-vectorized, the sized index is cheaper
    than fixed-8 at EVERY chain stage from the first build at 20k+
    vectors (200k: build 69 vs 93 s, rerank 19.7 vs 99.5 s) — the r12
    "amortizes after ~3 query batches" caveat is retired.
    """
    import math

    if n_vectors <= 0:
        raise ValueError(f"n_vectors must be positive, got {n_vectors}")
    if target_occupancy is not None:
        if target_occupancy <= 0:
            raise ValueError(
                f"target_occupancy must be positive, got {target_occupancy}")
        return max(1, math.ceil(n_vectors / target_occupancy))
    return max(8, round(math.sqrt(n_vectors)))



# auto-nprobe probed-fraction anchors (suggest_nprobe): both ends are
# MEASURED against exact-L2 ground truth (IVFPQ_RECALL_r14/r15.json) —
# at <= ~2k vectors the sqrt(n) layout needs the old fixed-8 layout's
# ~25% probed fraction to match its recall (the SCALE.md round-14
# "under ~10k vectors, prune less" operating note, now a default);
# at >= ~200k the 5% FAISS-guidance band already holds recall (0.870
# at 200k, 0.865 at 2M) while probing 5x less corpus. Log-linear
# between the anchors — a hard threshold would make the rerank fetch
# volume jump across one added vector. The large anchor moved
# 20k -> 200k in the r15 second pass on the measured 20k
# fraction-vs-recall curve (IVFPQ_FRAC20K_r15.json): at 20k the 5%
# fraction read 0.852 while ~11%+ reads 0.96 at FLAT rerank cost
# (the recall saturates at 0.964 — the residual vs fixed-8's 0.978
# is the 50-row shortlist, not the probes), so mid-range corpora now
# keep a higher fraction and only slide to 5% where the sqrt(n)
# asymptote actually pays for it.
_PROBE_FRACTION_FLOOR = 0.05
_PROBE_FRACTION_SMALL = 0.25
_PROBE_SMALL_N = 2_000
_PROBE_LARGE_N = 200_000

# below this many PQ code bits (m * log2 k) the ADC ordering is too
# coarse to rank what extra probes return — see ivfpq_rerank_topk's
# auto-remediation and ivfpq_topk's clamp (IVFPQ_RECALL_r14/r15.json)
_SUB_RESOLUTION_BITS = 32


def suggest_nprobe(n_cells: int, target_fraction: float | None = None,
                   n_vectors: int | None = None) -> int:
    """How many cells a query should probe for a ``n_cells``-cell
    index — ``suggest_n_centroids``'s companion rule, and the DEFAULT
    wherever ``nprobe`` is not given explicitly.

    Why it must scale with the cell count (IVFPQ_RECALL_r14.json, the
    measurement that forced this rule): recall is governed by the
    PROBED FRACTION nprobe/n_cells, and a fixed nprobe silently
    shrinks it as the sizing rule grows cells with the corpus — the
    r13 default composition (sqrt(n) cells, nprobe pinned at 2)
    probed 2/8 = 25% of an 8-cell index but 2/447 = 0.45% at 200k
    vectors, and measured recall@10 against exact L2 fell 0.867 ->
    0.200. Holding the fraction keeps recall stable while still
    probing far less corpus than the old fixed-8 layout's 25%.

    The default fraction is SIZE-AWARE when ``n_vectors`` is supplied
    (r15, from the r14 measurement that a 2k-vector sized index at 5%
    trailed fixed-8 0.274 vs 0.442): 25% at <= 2k vectors, 5% at >=
    200k, log-linear between — small corpora must prune less because
    sqrt(n) cells are then so few that 5% of them is barely past the
    2-cell floor, and the measured 20k fraction-vs-recall curve
    (IVFPQ_FRAC20K_r15.json) shows mid-range corpora want ~11-15%
    (recall 0.852 at 5% vs 0.96+ at 11%+, flat rerank cost). With
    ``n_vectors`` unknown the fraction stays the
    flat 5% (exactly the r14 rule), so explicit-centroid callers see
    no change unless they pass the corpus size (the persisted-index
    path gets it free from the ``write_pq_index`` sidecar's
    ``n_vectors``). An explicit ``target_fraction`` overrides both.
    Floor 2 (the historical small-index default), capped at
    ``n_cells``."""
    import math

    if n_cells <= 0:
        raise ValueError(f"n_cells must be positive, got {n_cells}")
    if target_fraction is None:
        if n_vectors is None or n_vectors >= _PROBE_LARGE_N:
            target_fraction = _PROBE_FRACTION_FLOOR
        elif n_vectors <= _PROBE_SMALL_N:
            target_fraction = _PROBE_FRACTION_SMALL
        else:
            t = (math.log(n_vectors / _PROBE_SMALL_N)
                 / math.log(_PROBE_LARGE_N / _PROBE_SMALL_N))
            target_fraction = (_PROBE_FRACTION_SMALL
                               + (_PROBE_FRACTION_FLOOR
                                  - _PROBE_FRACTION_SMALL) * t)
    if not 0 < target_fraction <= 1:
        raise ValueError(
            f"target_fraction must be in (0, 1], got {target_fraction}")
    return min(n_cells, max(2, math.ceil(n_cells * target_fraction)))


def standin_centroids(
    df, id_col: str, vec_col: str, n: int,
) -> list[tuple[int, list[float]]]:
    """The deterministic coarse-quantizer stand-in shared by
    ``ivfpq_topk`` / ``semantic_dedup``: the ``n`` lowest-id vectors,
    sorted by id. Raises when the id range yields none — an empty
    centroid set would otherwise assign every row a NULL cell and
    silently degrade to one corpus-sized bucket."""
    rows = (
        df.filter(F.col(id_col) < n)
        .select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .collect()
    )
    cents = sorted((int(r[0]), [float(x) for x in r[1]]) for r in rows)
    if not cents:
        raise ValueError(
            f"no rows with {id_col} < {n} to use as stand-in centroids; "
            "pass centroids= explicitly (e.g. from train_ivf_centroids)")
    return cents


def vector_guard_sql(vec_sql: str, passthrough_sql: str,
                     what: str = "cell_assign",
                     side: str = "corpus",
                     action: str = "indexing",
                     hint: str = "an unassignable vector would "
                                 "otherwise become an unsearchable "
                                 "index row") -> str:
    """``passthrough_sql``, wrapped so a NULL vector or a NULL/NaN
    ELEMENT in ``vec_sql`` raises the unified bad-vector errors (the
    same "null vector" / "null/NaN element" phrasing
    :func:`_dense_vectors` raises on the Arrow side) — the r14
    fail-fast contract, applied to a CHEAP column. ``what``/``side``/
    ``hint`` tailor the message to the failing input (query-side
    probes name the query frame, not the corpus).

    The element check is ``array_contains(vec, NaN) IS [NOT] FALSE``
    rather than an ``exists`` lambda ON PURPOSE: Spark's NaN equality
    makes array_contains find NaN elements, its three-valued NULL
    propagation returns NULL (not false) when the array holds a NULL
    element, and — unlike a higher-order function, whose closure is
    invoked interpreted per ELEMENT — it is a flat primitive loop,
    so re-evaluation under predicate pushdown costs O(dim) primitive
    compares, not an interpreted lambda pass."""
    return (
        f"CASE WHEN ({vec_sql}) IS NULL THEN "
        f"raise_error('{what}: null vector in the {side} — filter "
        f"nulls before {action} ({hint})') "
        f"WHEN NOT (array_contains({vec_sql}, CAST('NaN' AS DOUBLE)) "
        "IS FALSE) THEN "
        f"raise_error('{what}: null/NaN element in a {side} vector "
        f"— clean or filter before {action}') "
        f"ELSE {passthrough_sql} END")


def cell_assign_raw_sql(vec_sql: str,
                        cents: list[tuple[int, list[float]]]) -> str:
    """The UNGUARDED argmin — for plans that put the cell id on a JOIN
    key and carry :func:`vector_guard_sql` on a cheap column instead
    (see :func:`cell_assign_sql` for why). Never use this without the
    guard riding elsewhere in the same projection: on its own it maps
    a NULL vector to a NULL cell (a silently unsearchable index row)
    and a NaN element to the FIRST cell (Spark's NaN-equality
    array_position).

    Kept free of CASE/raise_error wrappers so Catalyst can see through
    its nullability: with the fixture parquet's non-null vector
    column, the join-inferred ``isnotnull(cid)`` constraint folds away
    entirely and the corpus pays assignment ONCE — wrapping the guard
    around this expression instead re-materialized the O(cells x dims)
    distance arrays in a Filter node on both join sides (plan-measured;
    the 8-cell bench gates read +30-40%)."""
    d_arr = _centroid_dists_sql(vec_sql, cents)
    cid_arr = "array(" + ", ".join(str(cid) for cid, _ in cents) + ")"
    return (f"element_at({cid_arr}, "
            f"CAST(array_position({d_arr}, array_min({d_arr})) AS INT))")


def cell_assign_sql(vec_sql: str, cents: list[tuple[int, list[float]]]) -> str:
    """SQL for nearest-centroid cell id: rounded-L2 argmin with
    first-occurrence (= lowest cid, the list being cid-sorted) ties —
    the cross-engine determinism contract both the IVF-PQ and
    semantic-dedup DuckDB oracles replicate. ONE definition so the
    two operators cannot desynchronize.

    NULL/NaN guard (r14, unifying the two assignment paths): a NULL
    vector used to yield a NULL cell here — a silently unsearchable
    index row — while the Arrow path (>= ``_ARROW_ASSIGN_MIN_CELLS``)
    raised, so the outcome for the same bad input depended on the
    cell count. Both paths now raise the same descriptive errors
    (pinned either side of the threshold by tests/test_pq.py); the
    oracles are unaffected because fixtures carry no null vectors and
    the DuckDB twins are hand-written SQL, not this string.

    This guarded form is for PROJECT-only plans (with_cells, the
    occupancy histogram), where the guard costs nothing. Where the
    cell id becomes a JOIN key (ivfpq_topk, pq_index), use
    :func:`cell_assign_raw_sql` for the key and put
    :func:`vector_guard_sql` on the id column: a CASE with raise_error
    branches is nullable in Catalyst's eyes, so the join-inferred
    ``isnotnull(cid)`` filter survives and re-evaluates the full
    distance computation per row on both join sides — measured
    +30-40% on the 8-cell bench gates — while the raw argmin's
    nullability folds the filter away entirely."""
    return vector_guard_sql(vec_sql, cell_assign_raw_sql(vec_sql, cents))


# Cell counts at or above this dispatch to the Arrow-vectorized
# assignment path. The expression path evaluates transform/zip_with/
# aggregate lambdas — HIGHER-ORDER functions Spark interprets per
# element, outside whole-stage codegen — so assignment costs
# O(cells x dims) interpreted ops PER ROW: measured 890 s to index
# 200k 64-dim vectors at the sqrt(n)=447 cells the default sizing
# picks (RETRIEVAL_CHAIN_r13.json, pre-fix run). The numpy twin does
# the same math as one chunked (rows x cells x dims) batch per Arrow
# batch. Below the threshold the expression path stays: plans remain
# pure-JVM (no Python worker round-trip) and every oracle gate
# (8-cell fixtures) keeps its historical plan byte-for-byte.
_ARROW_ASSIGN_MIN_CELLS = 64


def _round6_half_up(a):
    """numpy twin of Spark's round(x, 6) for NON-NEGATIVE doubles
    (HALF_UP; np.round would band to even). Distances are sums of
    squares, so the non-negative restriction always holds here.

    Residual boundary risk (documented, not closed — r13 advisor
    finding): Spark rounds via BigDecimal.valueOf, i.e. HALF_UP on the
    double's SHORTEST decimal representation, while floor(x*1e6+0.5)
    operates on the binary value — doubles within a few ulps of a
    7th-decimal half boundary (~1e-13 relative) can round differently
    (e.g. 0.0020245 -> Spark 0.002025, this twin 0.002024). A distance
    landing in such an interval could flip the rounded argmin or a
    tie, so the cell_assign_sql parity contract is
    almost-always-exact, not bit-guaranteed; the parity tests pass
    because fixture distances sit far from half boundaries. Matching
    exactly would require per-element shortest-repr decimal rounding
    (repr round-trip) on the rare near-boundary values — not worth the
    vectorization loss: a flipped assignment routes one vector to a
    neighboring cell (a marginal recall effect at probe time), it
    cannot corrupt a result computed within either path."""
    import numpy as np

    return np.floor(a * 1e6 + 0.5) / 1e6


def _nearest_rows(V, C, chunk: int = 128, row_chunk: int = 2048):
    """Index of the nearest row of C for every row of V — argmin over
    6dp-ROUNDED squared L2 with first-occurrence ties, the exact
    cell_assign_sql/pq_code_sql contract. Chunked over BOTH axes so
    the 3-D difference intermediate peaks at row_chunk x chunk x dims
    (~134 MiB at the defaults for 64-dim float64), independent of the
    Arrow batch size and the cell count. Difference-form on purpose:
    the GEMM identity (|v|^2 - 2v.c + |c|^2) cancels catastrophically
    for near-identical vectors and would disagree with the SQL's
    per-element (a-b)^2 at the 6dp rounding boundary far more often."""
    import numpy as np

    n = V.shape[0]
    best_d = np.full(n, np.inf)
    best_i = np.zeros(n, dtype=np.int64)
    for r in range(0, n, row_chunk):
        Vr = V[r:r + row_chunk]
        nr = Vr.shape[0]
        bd = np.full(nr, np.inf)
        bi = np.zeros(nr, dtype=np.int64)
        for s in range(0, C.shape[0], chunk):
            d = _round6_half_up(
                ((Vr[:, None, :] - C[None, s:s + chunk, :]) ** 2).sum(-1))
            i = d.argmin(1)  # first occurrence within the chunk
            dm = d[np.arange(nr), i]
            upd = dm < bd  # strict: earlier chunks keep ties
            bd[upd] = dm[upd]
            bi[upd] = i[upd] + s
        best_d[r:r + row_chunk] = bd
        best_i[r:r + row_chunk] = bi
    return best_i


def _dense_vectors(col, what: str, dim: int):
    """(n, dim) float64 matrix from an Arrow-batch vector column, or a
    DESCRIPTIVE error. Both assignment paths now fail fast on a NULL
    vector (the expression path via :func:`cell_assign_sql`'s guard,
    this one here) so the outcome for bad input does not depend on
    the cell count — r13 the expression path silently assigned a NULL
    cell that probes never search. Element-level nulls arrive as NaN
    through Arrow's to_list -> np.asarray, and a NaN row would
    otherwise keep every distance NaN so the strict `<` argmin update
    never fires and the row silently lands in the FIRST centroid's
    cell — hence the isnan refusal (r13 advisor finding). ``dim`` is
    the centroid dimension, checked per batch so a wrong-width vector
    is caught even when batch boundaries hide the raggedness."""
    import numpy as np

    vals = col.to_list()
    if any(v is None for v in vals):
        raise ValueError(
            f"{what}: null vector in the corpus — filter nulls before "
            "indexing (an unassignable vector would otherwise become "
            "an unsearchable index row)")
    V = np.asarray(vals, dtype=np.float64)
    if V.ndim != 2 or V.shape[1] != dim:
        got = ("ragged" if V.ndim != 2
               else f"length {V.shape[1]}")
        raise ValueError(
            f"{what}: corpus vector {got} != centroid dimension {dim} "
            "— all vectors must share the quantizer's dimension")
    if np.isnan(V).any():
        raise ValueError(
            f"{what}: null/NaN element in a corpus vector — clean or "
            "filter before indexing (every distance of such a row is "
            "NaN, which would silently assign the first centroid)")
    return V


def _pq_index_arrow(
    corpus: DataFrame,
    codebooks: list[list[list[float]]] | None,
    centroids: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    with_code: bool = True,
) -> DataFrame:
    """Arrow-vectorized twin of :func:`pq_index`'s selectExpr — same
    (id, cid[, code]) output and the same rounded-argmin determinism
    contract, with the per-row lambda evaluation replaced by chunked
    numpy over each Arrow batch (pinned equal to the expression path
    by tests/test_pq.py's arrow-parity tests)."""
    import numpy as np

    id_type = corpus.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        # the expression path passes any id type through; here the
        # Arrow schema pins `id bigint`, and a silent cast would turn
        # non-numeric ids into NULLs at >= _ARROW_ASSIGN_MIN_CELLS
        # while the same corpus indexed fine below the threshold —
        # fail fast with the module's numeric-id convention named
        # instead (r13 advisor finding)
        raise ValueError(
            f"pq_index: id column {id_col!r} has type {id_type}; the "
            "index schema requires an integral id (the module's "
            "numeric-id convention) — cast or map ids to integers "
            "before indexing")
    cents_mat = np.asarray([v for _, v in centroids], dtype=np.float64)
    cids = np.asarray([cid for cid, _ in centroids], dtype=np.int32)
    books = ([np.asarray(b, dtype=np.float64) for b in codebooks]
             if with_code else None)
    sub = None
    if with_code:
        # the subvector width comes from the CODEBOOK, mirroring
        # pq_code_sql's len(codebooks[0][0]) (not dim // m, which
        # diverges for externally supplied codebooks whose width
        # doesn't tile the dimension exactly — the expression path
        # ignores trailing dims; r13 advisor finding)
        sub = books[0].shape[1]
        widths = {b.shape[1] for b in books}
        if len(widths) != 1:
            raise ValueError(
                f"pq_index: codebooks have mixed subvector widths "
                f"{sorted(widths)} — all m codebooks must share one "
                "width (pq_code_sql slices every subspace at the "
                "first book's width)")
        if len(books) * sub > cents_mat.shape[1]:
            raise ValueError(
                f"pq_index: m={len(books)} codebooks of width {sub} "
                f"need {len(books) * sub} dims but vectors have "
                f"{cents_mat.shape[1]} — codebooks do not fit the "
                "vector dimension")
    schema = "id bigint, cid int" + (", code array<int>" if with_code else "")

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = _dense_vectors(pdf["__v"], "pq_index", cents_mat.shape[1])
            out = {
                "id": pdf["id"].to_numpy(),
                "cid": cids[_nearest_rows(V, cents_mat)],
            }
            if with_code:
                codes = np.empty((len(V), len(books)), dtype=np.int32)
                for j, book in enumerate(books):
                    codes[:, j] = _nearest_rows(
                        V[:, j * sub:(j + 1) * sub], book)
                out["code"] = list(codes)
            yield pd.DataFrame(out)

    from etl_router_spark.io import spread_small_scan

    # the numpy assign/encode parallelism equals the INPUT partition
    # count (one mapInPandas worker per task) — spread an
    # under-partitioned scan first so the batch work uses the session's
    # cores; the projection stays BELOW the exchange so only (id, vec)
    # crosses it (no-op at real scale — guide §2.5/§4.1)
    return (
        spread_small_scan(corpus.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )).mapInPandas(gen, schema=schema)
    )


def with_cells(
    df: DataFrame,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    cell_col: str = "cid",
) -> DataFrame:
    """``df`` plus a nearest-centroid ``cell_col`` — the shared
    assignment contract (:func:`cell_assign_sql`'s rounded-L2 argmin,
    lowest-cid ties) with the same size dispatch as :func:`pq_index`:
    a pure-JVM expression below ``_ARROW_ASSIGN_MIN_CELLS`` cells, an
    Arrow-vectorized passthrough above it (all input columns ride the
    Arrow batch unchanged, so above the threshold every column must be
    Arrow-serializable). An existing ``cell_col`` is REPLACED on both
    sides of the threshold (withColumn semantics; the Arrow branch
    drops it first rather than appending a duplicate field — r13
    advisor finding). Used by semantic_dedup, whose
    ``n_cells="auto"`` = ceil(n/occupancy) is data-sized by design."""
    if cell_col == vec_col:
        raise ValueError(
            f"with_cells: cell_col {cell_col!r} is the vector column — "
            "assigning over it would destroy the input")
    if len(centroids) < _ARROW_ASSIGN_MIN_CELLS:
        vec = vec_col_sql(vec_col)
        return df.withColumn(cell_col, F.expr(cell_assign_sql(vec, centroids)))
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    if cell_col in df.columns:
        df = df.drop(cell_col)
    cents_mat = np.asarray([v for _, v in centroids], dtype=np.float64)
    cids = np.asarray([cid for cid, _ in centroids], dtype=np.int32)
    out_schema = StructType(
        list(df.schema.fields) + [StructField(cell_col, IntegerType())])

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = _dense_vectors(pdf[vec_col], "with_cells", cents_mat.shape[1])
            pdf = pdf.copy()
            pdf[cell_col] = cids[_nearest_rows(V, cents_mat)]
            yield pdf

    return df.mapInPandas(gen, schema=out_schema)


def pq_index(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The PERSISTABLE IVF-PQ index of a corpus: (id, cid, code) — the
    coarse-cell assignment plus the m-int PQ code, both map-side
    literal expressions (one pass over the vectors, zero shuffle).
    Write it once (partition by ``cid`` — cell counts are bounded by
    the occupancy rule, so the layout is well-sized by construction),
    then serve every future query with
    ``ivfpq_topk(corpus_index=...)`` — probing reads ``m`` ints + two
    ids per corpus row instead of the raw vectors, a 64x scan
    reduction at dim=64/float32, and never re-encodes. This is the
    MinHash-index pattern (``dedup.minhash_index``) applied to ANN,
    and the FAISS on-disk-index shape.

    Rebuild only when codebooks/centroids change; probes validate the
    code width at run time and fail fast on a mismatched index.

    Cell counts >= ``_ARROW_ASSIGN_MIN_CELLS`` dispatch to the
    Arrow-vectorized twin (same output, same rounded-argmin ties):
    the expression path's interpreted higher-order lambdas cost
    O(cells x dims) per row, which at the default sqrt(n) sizing
    turns the build super-linear in the corpus (measured 890 s at
    200k x 447 cells; the numpy path is one chunked GEMM-shaped batch
    per Arrow batch).
    """
    if len(centroids) >= _ARROW_ASSIGN_MIN_CELLS:
        return _pq_index_arrow(corpus, codebooks, centroids,
                               id_col, vec_col)
    vec = vec_col_sql(vec_col)
    # guard on the id, raw argmin on cid: the index's cid becomes a
    # JOIN key downstream (ivfpq corpus_index probes), and a guarded
    # CASE there would survive as a join-inferred isnotnull filter
    # re-evaluating the distance arrays per row (cell_assign_sql
    # docstring); the guard still fires for every corpus row because
    # the projection always materializes id
    return corpus.selectExpr(
        f"{vector_guard_sql(vec, sql_ident(id_col))} AS id",
        f"{cell_assign_raw_sql(vec, centroids)} AS cid",
        f"{pq_code_sql(vec, codebooks)} AS code",
    )


def write_pq_index(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[tuple[int, list[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist a SELF-DESCRIBING IVF-PQ index (the FAISS index-file
    shape): the (id, cid, code) rows partitioned by cell, plus a
    ``_pq_meta.json`` sidecar carrying the codebooks and centroids the
    rows were built with — so a probe needs only the path and cannot
    desync from the build parameters. Spark ignores underscore-prefixed
    files in a parquet directory, so the sidecar rides inside the index
    dir itself. (Local/NFS paths; for object stores write the sidecar
    through your store client — the parquet half is store-agnostic.)
    """
    import json
    import os

    pq_index(corpus, codebooks, centroids, id_col, vec_col) \
        .write.partitionBy("cid").parquet(path)
    # the cell histogram is a build-time by-product: one cid-only
    # count over the just-written index (column-pruned, code bytes
    # never read) buys every future rerank its occupancy guard for
    # free — the number that decides whether a shortlist is sized
    # above or below the recall collapse (IVFPQ_RECALL_r10.json)
    try:
        occ = (corpus.sparkSession.read.parquet(path)
               .groupBy("cid").count()
               .agg(F.expr("percentile_approx(count, 0.95)").alias("p95"),
                    F.max("count").alias("max"),
                    F.count("*").alias("n_cells"),
                    F.sum("count").alias("n_vectors")).collect()[0])
        occupancy = {"p95": int(occ["p95"] or 0),
                     "max": int(occ["max"] or 0),
                     "n_cells": int(occ["n_cells"]),
                     # the corpus size, free from the same histogram —
                     # feeds the size-aware auto-nprobe fraction via
                     # corpus_n= (absent from pre-r15 sidecars)
                     "n_vectors": int(occ["n_vectors"] or 0)}
    except Exception:
        # an EMPTY corpus writes a parquet dir with no schema files,
        # which Spark cannot re-read (and read_pq_index never could —
        # pre-existing) — but a TRANSIENT read failure lands here too,
        # so record null rather than a zeroed block: a 0 would satisfy
        # readers forever and silently disable the occupancy guard,
        # while null makes read_pq_index hand back no histogram and
        # the runtime path re-measures (or skips) as configured
        occupancy = None
    with open(os.path.join(path, "_pq_meta.json"), "w") as fh:
        json.dump({"codebooks": codebooks,
                   "centroids": [[cid, list(v)] for cid, v in centroids],
                   "cell_occupancy": occupancy}, fh)


def read_pq_index(spark, path: str):
    """(index frame, codebooks, centroids, meta) from
    :func:`write_pq_index`; ``meta["cell_occupancy"]["p95"]`` feeds
    :func:`ivfpq_rerank_topk`'s occupancy guard at zero cost (absent
    from pre-r11 sidecars — ``meta.get``)."""
    import json
    import os

    with open(os.path.join(path, "_pq_meta.json")) as fh:
        meta = json.load(fh)
    return (
        spark.read.parquet(path),
        meta["codebooks"],
        [(int(cid), list(v)) for cid, v in meta["centroids"]],
        meta,
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int | None = None,
    n_centroids: int | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_index: DataFrame | None = None,
    corpus_n: int | None = None,
) -> DataFrame:
    """IVF-PQ: the FAISS-style composition — an IVF coarse quantizer
    prunes the corpus to the query's ``nprobe`` nearest cells, PQ ADC
    ranks only those candidates. Output: (query_id, neighbor_id, rank,
    adc_dist), rank by ADC distance ASC / neighbor id, self excluded.

    Why this is THE 100 TB ANN shape: candidate generation costs an
    equi-join on centroid id (corpus assignment is a map-side literal
    expression — the corpus never shuffles for it, matching
    ``ivf_topk``), scoring costs m array lookups per candidate over
    m-byte codes (no vector arithmetic, no full-width vectors moving),
    and both model artifacts (centroids + codebooks) are literal
    metadata. Compute follows probed-cell occupancy, memory follows
    code bytes — neither follows corpus size × query count.

    ``centroids``: (cid, vector) list; defaults to the ``n_centroids``
    lowest-id corpus vectors (``ivf_topk``'s deterministic stand-in —
    production trains them with ``train_ivf_centroids`` /
    ``pq_train``-style sampled k-means). ``n_centroids=None`` (the
    default since r13) sizes the cell count with
    :func:`suggest_n_centroids` — sqrt(corpus) cells, costing ONE
    count() job at build time. The measured reason
    (RETRIEVAL_CHAIN_r12.json): a fixed cell count turns corpus growth
    into p95-occupancy growth, which ``occupancy_guard='auto'``
    dutifully converts into a linearly growing rerank shortlist — the
    no-config path must grow cells with the corpus. Pass an explicit
    ``n_centroids`` to pin the historical behavior (e.g. oracle
    twins). Assignment + probing use the SAME rounded-L2 +
    lowest-cid-tie rule on both sides, so the DuckDB oracle is
    value-exact.

    ``corpus_index``: a precomputed :func:`pq_index` frame (usually
    read back from its persisted table) replaces ``corpus`` — the scan
    then reads (id, cid, m-int code) instead of raw vectors and no
    re-encoding happens. ``codebooks``/``centroids`` must match the
    index build; a mismatched code width raises in-task with a
    descriptive error.

    **Operating rule (measured, SCALE.md "IVF-PQ recall-vs-nprobe"):**
    ``nprobe ≈ 10%`` of cells already recovers the full-ADC recall
    ceiling; more probes buy candidate volume, not recall. The ceiling
    itself is set by PQ bits (m·log2 k) and the corpus's cluster
    structure — to raise it, spend bits or exact-re-rank the IVF-PQ
    top-C with :func:`~etl_router_spark.functions.similarity.
    brute_force_topk` over the candidate set, never nprobe.
    """
    if centroids is None:
        if corpus_index is not None:
            raise ValueError(
                "ivfpq_topk(corpus_index=...) requires explicit centroids — "
                "the index was built against a fixed centroid set and the "
                "stand-in derivation would silently desync from it")
        if corpus.isStreaming:
            # same contract as ivfpq_rerank_topk: both the default
            # sqrt(n) sizing (count) and the stand-in derivation
            # (collect) need a batch corpus scan — fail fast with the
            # fix named instead of Spark's generic streaming-action
            # AnalysisException
            raise ValueError(
                "ivfpq_topk: a streaming corpus needs explicit "
                "centroids= — the stand-in centroid derivation and the "
                "default sqrt(n) cell sizing both require a batch "
                "corpus scan")
        if n_centroids is None:
            if corpus_n is None:
                corpus_n = corpus.count()
            n_centroids = suggest_n_centroids(corpus_n)
        centroids = standin_centroids(corpus, id_col, vec_col, n_centroids)
    if nprobe is None:
        # the companion default (r14): nprobe scales with the cell
        # count so the probed FRACTION stays ~5% as the sizing rule
        # grows cells with the corpus — a fixed nprobe=2 silently
        # probed 0.45% of a 447-cell index and recall@10 fell
        # 0.867 -> 0.200 (IVFPQ_RECALL_r14.json). Resolves to the
        # historical 2 for every index under ~41 cells, so explicit
        # small-cell callers and oracle gates see no change. The
        # fraction is size-aware when the corpus size is known
        # (suggest_nprobe docstring; corpus_n= supplies it on the
        # explicit-centroid path, e.g. from the write_pq_index
        # sidecar's n_vectors).
        import math
        import warnings

        nprobe = suggest_nprobe(len(centroids), n_vectors=corpus_n)
        bits = len(codebooks) * math.log2(len(codebooks[0]))
        if bits < _SUB_RESOLUTION_BITS and nprobe > 2:
            # below quantizer resolution the ADC ordering cannot rank
            # what extra probes return: plain top-k has NO exact
            # correction stage, so more candidates only crowd the cut
            # with indistinguishable rows (measured on the rerank
            # shape: recall@10 0.200 -> 0.165 when np=2 -> 23 at a
            # fixed shortlist, 16-bit codes, 200k vectors —
            # IVFPQ_RECALL_r14.json). Clamp auto back to the
            # historical np=2-equivalent; exact-rerank
            # (ivfpq_rerank_topk) is the path that can convert probe
            # volume into recall at this code width.
            warnings.warn(
                f"ivfpq_topk: nprobe='auto' with {bits:.0f}-bit PQ "
                f"codes (m={len(codebooks)} x "
                f"log2(k={len(codebooks[0])})) — below "
                f"{_SUB_RESOLUTION_BITS} bits the ADC ordering is too "
                "coarse for extra probed cells to help plain top-k, "
                f"so auto-nprobe is clamped {nprobe} -> 2. Spend bits "
                "(raise m or k), or use ivfpq_rerank_topk, whose "
                "exact refine converts probe volume into recall "
                "(its auto path scales the shortlist instead — "
                "IVFPQ_RECALL_r15.json).")
            nprobe = 2
    m = len(codebooks)
    kc = len(codebooks[0])
    vec = vec_col_sql(vec_col)
    if corpus_index is not None:
        guard = (
            f"CASE WHEN size(code) != {m} THEN "
            f"raise_error(concat('ivfpq_topk: index code width ', "
            f"CAST(size(code) AS STRING), ' != m={m} — rebuild the index "
            f"with matching codebooks')) ELSE code END"
        )
        c = corpus_index.selectExpr(
            "id AS neighbor_id", "cid", f"{guard} AS code")
    elif len(centroids) >= _ARROW_ASSIGN_MIN_CELLS:
        # large cell counts: the Arrow-vectorized assign/encode twin
        # (see pq_index) — identical (id, cid, code) contract
        c = _pq_index_arrow(
            corpus, codebooks, centroids, id_col, vec_col,
        ).selectExpr("id AS neighbor_id", "cid", "code")
    else:
        # corpus: nearest cell — the raw argmin on cid (the join key:
        # a guarded CASE would survive as a join-inferred isnotnull
        # filter re-evaluating the distance arrays per row, measured
        # +30-40% on the bench gates — cell_assign_sql docstring) with
        # the bad-vector guard on neighbor_id, which the projection
        # always materializes, so bad rows still raise, not vanish.
        # The assignment+encode lambdas are interpreted (CodegenFallback)
        # and run map-side before the broadcast probe — spread an
        # under-partitioned scan first (no-op at real scale; r15)
        from etl_router_spark.io import spread_small_scan

        c = spread_small_scan(corpus).selectExpr(
            f"{vector_guard_sql(vec, sql_ident(id_col))} AS neighbor_id",
            f"{cell_assign_raw_sql(vec, centroids)} AS cid",
            f"{pq_code_sql(vec, codebooks)} AS code",
        )
    # queries: nprobe nearest cells via a sorted (dist, cid) struct
    # array — array_sort orders by dist then cid, the same tie rule
    cid_arr = "array(" + ", ".join(str(cid) for cid, _ in centroids) + ")"
    probe_structs = (
        f"zip_with({_centroid_dists_sql(vec, centroids)}, {cid_arr}, "
        "(d, c) -> named_struct('dist', d, 'cid', c))")
    probes = (f"transform(slice(array_sort({probe_structs}), 1, {nprobe}), "
              f"x -> x.cid)")
    # query-side twin of the corpus guard (same defect class, r14): a
    # NULL/NaN query vector would otherwise probe arbitrary cells (NaN
    # distances sort LAST, so array_sort's head is whichever cells tie
    # at NaN) and return k garbage rows for that query — fail fast on
    # the id column instead, which the projection always materializes
    q_guard = vector_guard_sql(
        vec, sql_ident(id_col), what="ivfpq_topk", side="query frame",
        action="searching",
        hint="a NULL/NaN query vector would otherwise probe arbitrary "
             "cells and rank candidates by NaN distances")
    q = queries.selectExpr(
        f"{q_guard} AS query_id",
        f"explode({probes}) AS cid",
        f"{pq_lut_sql(vec, codebooks)} AS lut",
    )
    score = (f"round(aggregate(sequence(0, {m - 1}), 0D, (acc, i) -> "
             f"acc + element_at(lut, i * {kc} + element_at(code, i + 1) + 1)), 6)")
    scored = (
        F.broadcast(q)
        .join(c, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .selectExpr("query_id", "neighbor_id", f"{score} AS adc_dist")
    )
    # a corpus vector lives in exactly ONE cell, so probes cannot
    # produce duplicate (query, neighbor) candidates — no distinct
    return rank_topk(scored, k, "adc_dist", ascending=True)


# (application id, corpus/index plan semantic hash, centroid
# fingerprint) -> measured p95 cell occupancy. Advisory memo in the
# dedup._NO_HOT_BUCKET_CACHE spirit: repeated rerank calls over the
# same plan (a query service, a bench loop) pay the histogram job
# once per session; a stale entry can only mis-tune the guard's
# WARNING threshold, never the query results. LRU-bounded.
_OCCUPANCY_CACHE: dict = {}
_OCCUPANCY_CACHE_MAX = 256


def ivfpq_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    shortlist: int = 20,
    nprobe: int | None = None,
    n_centroids: int | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_index: DataFrame | None = None,
    cell_occupancy_p95: int | None = None,
    occupancy_guard: str = "warn",
    corpus_n: int | None = None,
    resolved_params: dict | None = None,
) -> DataFrame:
    """Two-stage ANN — IVF-PQ shortlist, exact-L2 refine: the standard
    production recipe (FAISS ``search`` + refine; also ScaNN's final
    reordering stage). Stage 1 is :func:`ivfpq_topk` widened to the top
    ``shortlist`` candidates per query by ADC distance; stage 2 fetches
    ONLY those candidates' full vectors and re-ranks them by exact
    squared L2. Output: (query_id, neighbor_id, rank, exact_dist).

    This is how the quantization recall ceiling is raised (SCALE.md
    "IVF-PQ recall-vs-nprobe": the ceiling is set by PQ bits, and
    nprobe cannot move it): exact distance corrects the m-byte codes'
    ranking errors inside the shortlist, at the cost of reading
    ``|Q| x shortlist`` full vectors instead of zero.

    Scale shape — no stage touches full-width corpus vectors beyond the
    scan:

    - Stage 1 is unchanged: map-side assignment/encode, broadcast
      probe join, m-byte codes on the wire.
    - The stage-2 fetch joins the candidate id set (|Q| x shortlist
      rows of two ids) onto a second corpus scan with the strategy
      LEFT TO AQE: the common small-shortlist case still broadcasts at
      runtime (candidates selected map-side, NO corpus shuffle), but
      when guard-auto has inflated the shortlist to a mis-sized
      index's p95 occupancy the id set is |Q| x occupancy — measured
      48M rows at 200k vectors / 8 fixed cells, where a forced
      broadcast hint OOM'd (r13) — and AQE falls back to a shuffle
      join instead of dying. Only the surviving |Q| x shortlist full
      vectors flow past the fetch either way.
    - Query vectors broadcast (|Q| is the small side by contract) and
      the exact distance is a zip_with/aggregate column expression —
      JVM codegen, no Python.

    The re-rank distance rounds to 6 dp like every PQ distance here, so
    the DuckDB oracle reproduces ranks exactly (same lowest-id tie
    rule).

    ``corpus_index``: a :func:`pq_index` frame serves stage 1 (codes
    instead of raw vectors, no re-encoding); stage 2 still fetches the
    shortlist's full vectors from ``corpus`` — by design, exact
    refinement is the one place raw vectors are read, and only
    |Q| x shortlist of them.

    **Operating rule for clustered embeddings (measured, SCALE.md
    "IVF-PQ recall on CLUSTERED fixtures"):** when the corpus is
    near-duplicate-dense — tight clusters whose internal spread sits
    below PQ quantizer resolution — every cluster member shares a
    code, ADC distances tie, and ONLY this exact re-rank recovers
    recall: size ``shortlist`` to at least the expected duplicate-
    cluster occupancy (0.81 recall at shortlist ≥ spread, degrading
    toward 10/occupancy as the shortlist falls below it). ``nprobe``
    can stay minimal there (trained cells align with clusters, so
    recall is flat in nprobe); if occupancy exceeds a practical
    shortlist, use the cosine-threshold SemDeDup path
    (``dedup.semantic_dedup``) instead of ranking inside clusters by
    quantized distance.

    That rule is SELF-ENFORCING via the occupancy guard
    (``occupancy_guard``: ``"warn"`` default / ``"auto"`` raises the
    shortlist to the p95 occupancy / ``"error"`` / ``"off"``): when
    ``shortlist`` < the p95 IVF cell occupancy, the guard fires with
    the measured collapse numbers. The guard's cost model:

    - ``cell_occupancy_p95`` supplies the histogram for free —
      :func:`write_pq_index` persists it in the sidecar and
      :func:`read_pq_index` hands it back.
    - ``"warn"`` (the default) NEVER launches a job: with no supplied
      p95 and no memo hit it emits a one-line hint and skips — a lazy
      plan construction stays lazy, and a streaming corpus compiles
      (an eager aggregation here used to be both a surprise full-scan
      driver job and an AnalysisException on streaming input).
    - ``"auto"`` / ``"error"`` are the explicit enforcement opt-ins:
      when p95 is unknown they spend ONE count-shaped aggregation
      (cid-only scan of the index codes, or one map-side assignment
      pass over the corpus vectors inline), memoized per
      (app, plan, centroids). On streaming input they skip with a
      loud warning instead of measuring.

    At 100 TB pass the sidecar value or ``"off"`` — never pay a
    corpus scan for a number the build already knew.

    ``n_centroids=None`` (default, r13): cells sized by
    :func:`suggest_n_centroids` — sqrt(corpus) — at the cost of ONE
    count() job; the no-config path then keeps p95 occupancy (and so
    guard-auto's shortlist) ~flat as the corpus grows instead of
    linear (RETRIEVAL_CHAIN_r12.json). Explicit ``n_centroids`` pins
    a fixed cell count (oracle twins, historical behavior).

    ``nprobe=None`` (default, r14): probes :func:`suggest_nprobe`'s
    fraction of the cells — the sizing rule's REQUIRED companion,
    because recall rides the probed fraction and a fixed nprobe
    shrinks it as cells grow with the corpus (measured recall@10
    0.867 -> 0.200 at 200k under the r13 composition, recovered by
    the fraction rule — IVFPQ_RECALL_r14.json). Explicit ``nprobe``
    pins the historical behavior; under ~41 cells the default
    resolves to the historical 2 anyway. Two r15 refinements, both
    measured in IVFPQ_RECALL_r15.json: the fraction is SIZE-AWARE
    when the corpus size is known (25% under ~2k vectors sliding to
    5% at 200k+ — small and mid-range sqrt(n) layouts must prune
    less), and below
    quantizer resolution (m*log2(k) < 32 bits) the auto path scales
    ``shortlist`` with the probed volume so the extra cells feed the
    exact refine instead of diluting a fixed ADC cut.

    ``corpus_n``: the corpus row count, if the caller already knows it
    (the :func:`write_pq_index` sidecar records it as ``n_vectors``) —
    consulted ONLY by the auto-nprobe fraction; never triggers a job.
    The no-config path counts once for cell sizing and reuses that.

    ``resolved_params``: pass a dict and the call fills in what it
    ACTUALLY ran after all defaults resolve (nprobe, shortlist,
    n_centroids, auto_nprobe, sub_resolution_scaled) — the single
    source for measurement harnesses to publish, instead of mirroring
    the default arithmetic and silently desyncing when it changes.
    """
    if occupancy_guard not in ("warn", "auto", "error", "off"):
        raise ValueError(
            f"occupancy_guard must be warn|auto|error|off, "
            f"got {occupancy_guard!r}")
    if centroids is None and corpus_index is None and n_centroids is None:
        # default sizing (r13): sqrt(n) cells via suggest_n_centroids —
        # one count() job at build time; fixed cell counts let p95
        # occupancy (and so guard-auto's shortlist) grow linearly with
        # the corpus (RETRIEVAL_CHAIN_r12.json). Streaming corpora
        # cannot be counted here — they need explicit centroids (the
        # stand-in derivation collects from the corpus anyway).
        if corpus.isStreaming:
            raise ValueError(
                "ivfpq_rerank_topk: a streaming corpus needs explicit "
                "centroids= (or a persisted corpus_index) — the "
                "stand-in centroid derivation and the default sqrt(n) "
                "cell sizing both require a batch corpus scan")
        if corpus_n is None:
            corpus_n = corpus.count()
        n_centroids = suggest_n_centroids(corpus_n)
    auto_nprobe = nprobe is None
    if auto_nprobe:
        # auto-nprobe (r14) + its r15 size-aware fraction, resolved
        # HERE (not in stage 1) so the sub-resolution remediation
        # below can see the resolved probe count: the fraction uses
        # the corpus size when known (suggest_nprobe; free on the
        # no-config path, which counts for cell sizing anyway, and on
        # the persisted-index path via corpus_n= from the sidecar's
        # n_vectors).
        n_cells_resolved = (len(centroids) if centroids is not None
                            else n_centroids)
        if n_cells_resolved is not None:
            # (None only for corpus_index without centroids, where
            # stage 1 raises its own descriptive error)
            nprobe = suggest_nprobe(n_cells_resolved, n_vectors=corpus_n)
    if occupancy_guard != "off":
        import warnings

        p95 = cell_occupancy_p95
        src = corpus_index if corpus_index is not None else corpus
        memo_key = None
        if p95 is None and not src.isStreaming:
            if (centroids is None and corpus_index is None
                    and not corpus.isStreaming):
                # reuse below so stage 1 sees the same stand-ins (this
                # collect is the one stage 1 pays anyway, not an extra)
                centroids = standin_centroids(
                    corpus, id_col, vec_col, n_centroids)
            try:
                cents_fp = (hash(tuple((cid, tuple(v))
                                       for cid, v in centroids))
                            if centroids is not None else n_centroids)
                memo_key = (src.sparkSession.sparkContext.applicationId,
                            src.semanticHash(), cents_fp)
            except Exception:
                memo_key = None
            if memo_key is not None and memo_key in _OCCUPANCY_CACHE:
                # touch-on-hit so eviction is genuinely LRU
                p95 = _OCCUPANCY_CACHE.pop(memo_key)
                _OCCUPANCY_CACHE[memo_key] = p95
        if p95 is None and occupancy_guard in ("auto", "error") \
                and not src.isStreaming:
            if corpus_index is not None:
                cells = corpus_index.groupBy("cid").count()
            elif len(centroids) >= _ARROW_ASSIGN_MIN_CELLS:
                cells = _pq_index_arrow(
                    corpus, None, centroids, id_col, vec_col,
                    with_code=False).groupBy("cid").count()
            else:
                assign = cell_assign_sql(vec_col_sql(vec_col), centroids)
                cells = corpus.selectExpr(f"{assign} AS cid") \
                    .groupBy("cid").count()
            row = cells.agg(
                F.expr("percentile_approx(count, 0.95)")).collect()[0]
            p95 = int(row[0] or 0)
            if memo_key is not None:
                _OCCUPANCY_CACHE[memo_key] = p95
                while len(_OCCUPANCY_CACHE) > _OCCUPANCY_CACHE_MAX:
                    _OCCUPANCY_CACHE.pop(next(iter(_OCCUPANCY_CACHE)))
        if p95 is None:
            if src.isStreaming and occupancy_guard in ("auto", "error"):
                warnings.warn(
                    f"ivfpq_rerank_topk: occupancy_guard="
                    f"{occupancy_guard!r} skipped — the corpus frame is "
                    "streaming, so the occupancy histogram cannot be "
                    "measured here; pass cell_occupancy_p95 from the "
                    "write_pq_index sidecar to enforce the guard")
            else:
                warnings.warn(
                    "ivfpq_rerank_topk: cell occupancy unknown — guard "
                    "skipped (pass cell_occupancy_p95 from the "
                    "write_pq_index sidecar for a free check, or set "
                    "occupancy_guard='auto'/'error' to measure it with "
                    "one aggregation)")
        elif shortlist < p95:
            msg = (
                f"ivfpq_rerank_topk: shortlist={shortlist} < p95 IVF cell "
                f"occupancy ({p95}). In near-duplicate-dense cells ADC "
                "distances tie and within-cluster quantized ranking is "
                "~random, so recall collapses toward k/occupancy (measured "
                "IVFPQ_RECALL_r10.json: recall 0.206 at shortlist=80 vs "
                "occupancy~625). Raise shortlist to >= the occupancy, or "
                "rank inside clusters with the exact-cosine SemDeDup path "
                "(dedup.semantic_dedup).")
            if occupancy_guard == "error":
                raise ValueError(msg)
            if occupancy_guard == "auto":
                warnings.warn(msg + f" [auto: shortlist raised to {p95}]")
                shortlist = p95
            else:
                warnings.warn(msg)
    _subres_scaled = False
    if auto_nprobe and nprobe is not None and nprobe > 2:
        import math
        import warnings

        bits = len(codebooks) * math.log2(len(codebooks[0]))
        if bits < _SUB_RESOLUTION_BITS:
            # sub-resolution remediation (r15, the r14 verdict ask #2):
            # below quantizer resolution the ADC cut is ~noise, so the
            # auto rule's extra probed cells DILUTE a fixed shortlist
            # (measured recall@10 0.200 -> 0.165 at np 2 -> 23, 16-bit
            # codes, 200k — IVFPQ_RECALL_r14.json). Scale the shortlist
            # with the probed volume so the COVERAGE of the probed
            # candidates stays at the np=2 level and the exact refine
            # converts the probe volume into recall (0.165 -> 0.935
            # at 200k/m=4 — beating BOTH the np=2 clamp candidate's
            # 0.200 and fixed-8's semi-brute-force 0.867 at 2.5x less
            # fetch — IVFPQ_RECALL_r15.json). Deliberately AFTER the
            # occupancy guard: the guard's p95 raise is the np=2
            # baseline the coverage ratio is defined against — scaling
            # the pre-guard shortlist gets swallowed whenever the
            # guard raises past it (the first r15 attempt measured
            # exactly that: 575 < p95=1377, recall stuck at 0.165).
            scaled = math.ceil(shortlist * nprobe / 2)
            warnings.warn(
                f"ivfpq_rerank_topk: nprobe='auto' with "
                f"{bits:.0f}-bit PQ codes (m={len(codebooks)} x "
                f"log2(k={len(codebooks[0])})) — below "
                f"{_SUB_RESOLUTION_BITS} bits extra probed cells "
                "dilute a fixed shortlist, so the shortlist is "
                f"scaled with the probed volume ({shortlist} -> "
                f"{scaled} for nprobe={nprobe}) and the exact refine "
                "repairs the ADC ordering over it "
                "(IVFPQ_RECALL_r15.json). Spend bits (raise m or k) "
                "to avoid the larger fetch, or pin nprobe/shortlist "
                "explicitly.")
            shortlist = scaled
            _subres_scaled = True
    if resolved_params is not None:
        # what this call ACTUALLY runs, engine-resolved — for
        # measurement harnesses (scripts/ivfpq_recall_arms.py) to
        # publish instead of mirroring the default arithmetic, which
        # silently desyncs when these defaults change
        resolved_params.update({
            "nprobe": nprobe,
            "shortlist": shortlist,
            "n_centroids": (len(centroids) if centroids is not None
                            else n_centroids),
            "auto_nprobe": auto_nprobe,
            "sub_resolution_scaled": _subres_scaled,
        })
    cand = ivfpq_topk(
        queries, corpus, codebooks, k=shortlist, nprobe=nprobe,
        n_centroids=n_centroids, centroids=centroids,
        id_col=id_col, vec_col=vec_col, corpus_index=corpus_index,
        corpus_n=corpus_n,
    ).select("query_id", "neighbor_id")
    vec = vec_col_sql(vec_col)
    qv = queries.selectExpr(f"{sql_ident(id_col)} AS query_id", f"{vec} AS qv")
    # candidate fetch: cand is |Q| x shortlist rows — NOT bounded small
    # (guard-auto raises shortlist to p95 occupancy, so a mis-sized
    # index inflates it with the corpus: measured 2k queries x ~24k
    # shortlist = 48M rows at 200k vectors / 8 cells, where a forced
    # broadcast hint OOM'd the build, r13). Let AQE pick: runtime stats
    # still broadcast the common small-shortlist case and fall back to
    # a shuffle join when guard-auto has blown the shortlist up — the
    # same hazard-removal as the r11 fuzzy-decontamination fix.
    fetched = corpus.selectExpr(
        f"{sql_ident(id_col)} AS neighbor_id", f"{vec} AS nv"
    ).join(cand, "neighbor_id")
    exact = ("round(aggregate(zip_with(qv, nv, (a, b) -> (a - b) * (a - b)), "
             "0D, (acc, x) -> acc + x), 6)")
    scored = fetched.join(F.broadcast(qv), "query_id").selectExpr(
        "query_id", "neighbor_id", f"{exact} AS exact_dist")
    return rank_topk(scored, k, "exact_dist", ascending=True)
