"""Similarity search over embedding columns.

- ``brute_force_topk``: exact top-k neighbors, the correctness baseline.
  Query side is broadcast (queries << corpus is the normal shape); the
  corpus never shuffles, ranking is a per-query window.
- ``lsh_bucketed_topk``: the scale path — deterministic random-
  hyperplane LSH buckets corpus + queries, candidates come only from
  the query's bucket (probing neighbors optional), then exact cosine
  re-ranking inside the candidate set. Recall < 1 by construction;
  measured against the brute-force baseline in tests.

Hyperplanes are generated from a fixed analytic formula
(sin-mix of (dim, plane) indexes) rather than an RNG, so both the Spark
implementation and the SQL oracle regenerate identical planes — no
state to ship, reproducible across engines.
"""

from __future__ import annotations

import hashlib
from typing import Literal, get_args

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_router_spark.functions.dedup import cosine_cols
from etl_router_spark.functions.sqltext import sql_double

# the scoring paths of the top-k operators
TopkMethod = Literal["blas", "sql"]
TOPK_METHOD_ERROR = f"method must be {' or '.join(map(repr, get_args(TopkMethod)))}"

cosine_expr = cosine_cols  # public alias


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane in [-1, 1]^dim.

    Components derive from md5(plane|i) — statistically independent
    across planes and dimensions (a sin/phase formula is NOT: its
    planes are shifted copies of one waveform and bucket correlated),
    yet reproducible everywhere with no RNG state to ship.
    """
    out = []
    for i in range(dim):
        h = hashlib.md5(f"{plane}|{i}".encode()).digest()
        v = int.from_bytes(h[:8], "big") / 2**64  # [0,1)
        out.append(2.0 * v - 1.0)
    return out


def _dot_sql(vec_sql: str, h: list[float]) -> str:
    """dot(vec, literal plane) as a SQL higher-order function.

    Generated as a string and parsed once — building the same
    expression through Python-lambda zip_with/aggregate costs thousands
    of py4j round trips (~2s of plan construction for 12 planes);
    the SQL text parses in milliseconds and executes identically."""
    arr = "array(" + ",".join(map(sql_double, h)) + ")"
    return (f"aggregate(zip_with({vec_sql}, {arr}, (a, b) -> a * b), "
            f"0D, (acc, x) -> acc + x)")


def lsh_bucket_keys_sql(vec_sql: str, dim: int, planes: int, tables: int) -> str:
    """SQL for the array of per-table bucket keys ('t:bucket')."""
    keys = []
    for t in range(tables):
        bits = []
        for p in range(planes):
            h = _hyperplane(dim, t * planes + p)
            bits.append(f"(CASE WHEN {_dot_sql(vec_sql, h)} > 0 THEN {2 ** p} ELSE 0 END)")
        keys.append(f"'{t}:' || CAST(({' + '.join(bits)}) AS STRING)")
    return "array(" + ", ".join(keys) + ")"


def rank_topk(scored: DataFrame, k: int, score: str, ascending: bool = False) -> DataFrame:
    """The ``k`` best neighbors per query of ``scored`` (query_id,
    neighbor_id, ``score``): ``score`` descending (ascending for a
    distance), neighbor id breaking ties."""
    from pyspark.sql import Window

    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", score)
    )


def batch_topk(q_ids, c_ids, keys, values, k: int, score: str):
    """One Arrow batch's top-``k`` per query under the global order —
    ``keys`` ascending, neighbor id breaking ties; an infinite key (an
    excluded pair) never ranks — as a pandas frame of (query_id,
    neighbor_id, ``score`` from ``values``). The union of batch-local
    winners is a superset of the global winners :func:`rank_topk`
    picks."""
    import numpy as np
    import pandas as pd

    out_q, out_n, out_s = [], [], []
    for row_i in range(len(q_ids)):
        order = np.lexsort((c_ids, keys[row_i]))[:k]
        keep = order[np.isfinite(keys[row_i][order])]
        out_q.append(np.full(len(keep), q_ids[row_i]))
        out_n.append(c_ids[keep])
        out_s.append(values[row_i][keep])
    return pd.DataFrame({"query_id": np.concatenate(out_q),
                         "neighbor_id": np.concatenate(out_n),
                         score: np.concatenate(out_s)})


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: TopkMethod = "blas",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cosine).

    Self-matches (same id) are excluded. Deterministic ordering:
    cosine rounded to 1e-6 desc, neighbor id asc as tie-break.

    ``method="blas"`` (default): the query set (the small side — same
    precondition as broadcasting it) is collected, L2-normalized and
    broadcast as one matrix; each corpus partition streams through a
    single GEMM per Arrow batch and emits only its per-batch top-k per
    query. The global window then re-ranks ~n_queries*k*n_batches rows
    instead of n_queries*|corpus| — the all-pairs score matrix never
    materializes. Same shape at 100 TB: corpus stays partitioned, the
    reduce side is tiny.

    ``method="sql"``: pure Column-expression scoring (zip_with /
    aggregate), engine-portable cross-check path.
    """
    if method == "sql":
        q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv"))
        c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv"))
        cos = F.round(cosine_cols(F.col("qv"), F.col("cv")), 6)
        scored = (
            F.broadcast(q)
            .join(c, F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", cos.alias("cosine"))
        )
        return rank_topk(scored, k, "cosine")
    if method != "blas":
        raise ValueError(TOPK_METHOD_ERROR)

    import numpy as np

    q_rows = queries.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).collect()
    if not q_rows:
        # np.array([]) is 1-D; axis-1 norms would raise on the
        # degenerate empty query set — the answer is simply no rows
        spark = corpus.sparkSession
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, cosine double"
        )
    q_ids = np.array([r.id for r in q_rows], dtype=np.int64)
    q_mat = np.array([r.v for r in q_rows], dtype=np.float64)
    q_norms = np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_mat = q_mat / np.where(q_norms == 0, 1.0, q_norms)
    sc = corpus.sparkSession.sparkContext
    b_qids = sc.broadcast(q_ids)
    b_qmat = sc.broadcast(q_mat)

    def topk_block(batches):
        qi_ids, qm = b_qids.value, b_qmat.value
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["id"].to_numpy(dtype=np.int64)
            c = np.array(list(pdf["v"]), dtype=np.float64)
            cn = np.linalg.norm(c, axis=1, keepdims=True)
            c = c / np.where(cn == 0, 1.0, cn)
            sims = np.round(qm @ c.T, 6)
            sims[qi_ids[:, None] == c_ids[None, :]] = -np.inf  # self-exclude
            yield batch_topk(qi_ids, c_ids, -sims, sims, k, "cosine")

    c_rows = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    partial = c_rows.mapInPandas(topk_block, "query_id long, neighbor_id long, cosine double")
    return rank_topk(partial, k, "cosine")


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: TopkMethod = "blas",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k.

    Coarse quantizer = the ``n_centroids`` lowest-id corpus vectors (a
    deterministic stand-in for k-means; at production scale the
    centroids come from an offline training job). The centroid set is
    the tiny "model": it is collected to the driver once and embedded
    as literal arrays, so cluster assignment is a pure map-side
    expression — the 100 TB corpus is never shuffled to be assigned.

    Query side probes its ``nprobe`` nearest centroids; candidates are
    corpus vectors assigned to any probed centroid (equi-join on
    centroid id with the probe side broadcast — again no corpus
    shuffle), then exact cosine re-ranks. Recall < 1 by construction;
    ties broken on (rounded score, centroid id) identically on both
    engines.

    ``method="blas"`` mirrors the LSH probe path: centroid assignment
    is one GEMM against the (tiny) centroid matrix per Arrow batch,
    the probe mask replaces the candidate join, scoring is vectorized,
    and each partition emits only batch-local top-k. ``method="sql"``
    keeps the Column-expression path (oracle twin).
    """
    if method == "blas":
        return _ivf_topk_blas(queries, corpus, k, nprobe, n_centroids, id_col, vec_col,
                              centroids=centroids)
    if method != "sql":
        raise ValueError(TOPK_METHOD_ERROR)

    if centroids is not None:
        cents = [(int(cid), list(cv)) for cid, cv in centroids]
    else:
        cent_rows = (
            corpus.filter(F.col(id_col) < n_centroids)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).cast("array<double>").alias("cv"))
            .collect()
        )
        cents = [(int(r["cid"]), list(r["cv"])) for r in cent_rows]

    def scored_structs(vec_sql: str) -> Column:
        # array< struct<s: rounded cosine, cid> > — lexicographic struct
        # ordering makes max/sort give (score DESC, cid DESC) ranking
        entries = []
        for cid, cv in cents:
            arr = "array(" + ",".join(map(sql_double, cv)) + ")"
            s = F.round(cosine_cols(F.expr(vec_sql), F.expr(arr)), 6)
            entries.append(F.struct(s.alias("s"), F.lit(cid).alias("cid")))
        return F.array(*entries)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cid", F.array_max(scored_structs("cv"))["cid"])

    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        )
        .withColumn("__probes", F.slice(F.reverse(F.array_sort(scored_structs("qv"))), 1, nprobe))
        .withColumn("cid", F.explode(F.transform("__probes", lambda e: e["cid"])))
        .drop("__probes")
    )

    cand = (
        F.broadcast(q)
        .join(c, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    cos = F.round(cosine_cols(F.col("qv"), F.col("cv")), 6)
    scored = cand.select("query_id", "neighbor_id", cos.alias("cosine"))
    return rank_topk(scored, k, "cosine")


def _hyperplane_matrix(dim: int, planes: int, tables: int):
    """dim x (planes*tables) matrix of the deterministic hyperplanes."""
    import numpy as np

    return np.array(
        [_hyperplane(dim, i) for i in range(planes * tables)], dtype=np.float64
    ).T


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    planes: int = 4,
    tables: int = 4,
    method: TopkMethod = "blas",
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket in ANY
    of ``tables`` independent hash tables, then exact cosine re-rank.

    ``method="blas"`` (default): query ids, normalized vectors and
    bucket sets are computed driver-side (queries ≪ corpus — the same
    precondition as broadcasting them) and shipped once; each corpus
    partition then computes its own buckets with ONE GEMM per Arrow
    batch, probes the bucket→queries index, scores only the probed
    pairs vectorized, and emits its batch-local top-k per query. No
    explode, no bucket join, no cross-table distinct — the only
    shuffle is the tiny final re-rank, and the corpus never moves.

    ``method="sql"``: pure Column-expression path (bucket explode +
    equi-join + distinct) — engine-portable, mirrors the DuckDB oracle.

    ``planes`` tunes bucket granularity (2^planes buckets/table);
    ``tables`` buys recall — a neighbor is missed only if it lands in
    a different bucket in *every* table.
    """
    if method == "blas":
        return _lsh_topk_blas(queries, corpus, k, id_col, vec_col, dim, planes, tables)
    if method != "sql":
        raise ValueError(TOPK_METHOD_ERROR)
    return _lsh_topk_sql(queries, corpus, k, id_col, vec_col, dim, planes, tables)


def _lsh_topk_sql(queries, corpus, k, id_col, vec_col, dim, planes, tables):
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("bucket", F.explode(F.expr(lsh_bucket_keys_sql("qv", dim, planes, tables))))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("bucket", F.explode(F.expr(lsh_bucket_keys_sql("cv", dim, planes, tables))))
    cos = F.round(cosine_cols(F.col("qv"), F.col("cv")), 6)
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # score BEFORE the cross-table dedup: a pair colliding in m
        # tables is scored m times (map-side, cheap), but the dedup
        # shuffle then carries one double per pair instead of two
        # dim-length vectors — at 100 TB the exchange, not the dot
        # product, is the bottleneck
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .dropDuplicates(["query_id", "neighbor_id"])  # union across tables
    )
    return rank_topk(scored, k, "cosine")


def _lsh_topk_blas(queries, corpus, k, id_col, vec_col, dim, planes, tables):
    import numpy as np

    H = _hyperplane_matrix(dim, planes, tables)  # dim x (planes*tables)
    pw = (2 ** np.arange(planes)).astype(np.int64)

    def buckets_of(mat):
        """n x tables int bucket ids from sign bits of mat @ H."""
        bits = (mat @ H) > 0  # n x planes*tables
        return np.stack(
            [bits[:, t * planes:(t + 1) * planes] @ pw for t in range(tables)],
            axis=1,
        )

    q_rows = queries.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).collect()
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, cosine double"
        )
    q_ids = np.array([r.id for r in q_rows], dtype=np.int64)
    q_mat = np.array([r.v for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_matn = q_mat / np.where(qn == 0, 1.0, qn)
    # buckets from the RAW vectors: normalization preserves projection
    # signs mathematically, but the un-normalized product is what the
    # SQL/oracle path computes — stay on the same floats
    q_buckets = buckets_of(q_mat)  # n_q x tables

    sc = corpus.sparkSession.sparkContext
    b = sc.broadcast((q_ids, q_matn, q_buckets))

    def probe_block(batches):
        qi, qm, qb = b.value
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["id"].to_numpy(dtype=np.int64)
            c = np.array(list(pdf["v"]), dtype=np.float64)
            cb = buckets_of(c)  # n_c x tables
            # candidate mask: share a bucket in ANY table (the
            # cross-table union that needed a distinct in the SQL path)
            match = np.zeros((len(qi), len(c_ids)), dtype=bool)
            for t in range(tables):
                match |= qb[:, t][:, None] == cb[:, t][None, :]
            match &= qi[:, None] != c_ids[None, :]  # self-exclude
            cn = np.linalg.norm(c, axis=1, keepdims=True)
            cm = c / np.where(cn == 0, 1.0, cn)
            sims = np.round(qm @ cm.T, 6)
            sims[~match] = -np.inf
            yield batch_topk(qi, c_ids, -sims, sims, k, "cosine")

    c_rows = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    partial = c_rows.mapInPandas(probe_block, "query_id long, neighbor_id long, cosine double")
    return rank_topk(partial, k, "cosine")


def _ivf_topk_blas(queries, corpus, k, nprobe, n_centroids, id_col, vec_col,
                   centroids=None):
    import numpy as np

    if centroids is not None:
        pairs = sorted((int(cid), list(cv)) for cid, cv in centroids)
    else:
        cent_rows = (
            corpus.filter(F.col(id_col) < n_centroids)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).cast("array<double>").alias("cv"))
            .collect()
        )
        pairs = sorted((int(r.cid), list(r.cv)) for r in cent_rows)
    # ascending cid order matters for the >=-wins tie-break below
    cent_ids = np.array([cid for cid, _ in pairs], dtype=np.int64)
    cent = np.array([cv for _, cv in pairs], dtype=np.float64)
    cn = np.linalg.norm(cent, axis=1, keepdims=True)
    cent_n = cent / np.where(cn == 0, 1.0, cn)

    def assign(mat_n):
        """Per row: centroid maximizing (rounded cosine, cid) — the
        same lexicographic-struct max as the SQL path."""
        sims = np.round(mat_n @ cent_n.T, 6)
        best_s = np.full(len(mat_n), -np.inf)
        out = np.full(len(mat_n), -1, dtype=np.int64)
        for j in range(len(cent_ids)):  # ascending cid: ties -> higher cid
            take = sims[:, j] >= best_s
            out[take] = cent_ids[j]
            best_s[take] = sims[take, j]
        return out, sims

    q_rows = queries.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).collect()
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, cosine double"
        )
    q_ids = np.array([r.id for r in q_rows], dtype=np.int64)
    q_mat = np.array([r.v for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_matn = q_mat / np.where(qn == 0, 1.0, qn)
    # query probes: top-nprobe centroids by (score desc, cid desc) —
    # identical to reverse(array_sort(struct(s, cid)))[:nprobe]
    _, q_sims = assign(q_matn)
    probe_sets = []
    for row in q_sims:
        order = np.lexsort((-cent_ids, -row))[:nprobe]
        probe_sets.append(cent_ids[order])
    q_probes = np.array(probe_sets, dtype=np.int64)  # n_q x nprobe

    sc = corpus.sparkSession.sparkContext
    b = sc.broadcast((q_ids, q_matn, q_probes))

    def probe_block(batches):
        qi, qm, qp = b.value
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["id"].to_numpy(dtype=np.int64)
            c = np.array(list(pdf["v"]), dtype=np.float64)
            nrm = np.linalg.norm(c, axis=1, keepdims=True)
            cm = c / np.where(nrm == 0, 1.0, nrm)
            assigned, _ = assign(cm)
            match = np.zeros((len(qi), len(c_ids)), dtype=bool)
            for p in range(qp.shape[1]):
                match |= qp[:, p][:, None] == assigned[None, :]
            match &= qi[:, None] != c_ids[None, :]
            sims = np.round(qm @ cm.T, 6)
            sims[~match] = -np.inf
            yield batch_topk(qi, c_ids, -sims, sims, k, "cosine")

    c_rows = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    partial = c_rows.mapInPandas(probe_block, "query_id long, neighbor_id long, cosine double")
    return rank_topk(partial, k, "cosine")


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    seed: int = 42,
    max_iter: int = 20,
) -> list[tuple[int, list[float]]]:
    """Train the IVF coarse quantizer with distributed k-means (MLlib)
    — the production replacement for the deterministic lowest-id
    stand-in centroids.

    Training runs on a deterministic hash-sample of the corpus
    (``sample_fraction``): k-means cost is O(n·k·iters), and at corpus
    scale a 0.1-1% sample estimates the same cell structure for 1000×
    less compute — the standard offline-quantizer recipe. The fitted
    model is only k dim-length vectors: the collected "model" is tiny
    regardless of corpus size, and downstream assignment stays a
    map-side expression (see :func:`ivf_topk`).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    rows = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    if sample_fraction is not None:
        # (id, seed) as two xxhash64 inputs: id-type-agnostic, unlike
        # arithmetic id+seed which fails string ids under ANSI
        bucket = F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(1_000_000))
        rows = rows.filter(bucket < F.lit(int(sample_fraction * 1_000_000)))
        if rows.isEmpty():
            raise ValueError(
                f"train_ivf_centroids: sample_fraction={sample_fraction} "
                "selected no rows — raise it")
    feats = rows.select(array_to_vector(F.col("v")).alias("features"))
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feats)
    return [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    label_col: str = "label",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: TopkMethod = "blas",
) -> DataFrame:
    """k-NN label assignment: each query takes the majority label of
    its k exact-cosine neighbors — the standard weak-supervision /
    label-propagation primitive over an embedded corpus (tag new
    documents from a labeled seed set).

    Composition: :func:`brute_force_topk` (corpus stays partitioned,
    queries broadcast) -> neighbor labels via an id-keyed join ->
    per-query majority with a TOTAL ordering (votes desc, label asc)
    so ties are deterministic. Output: ``query_id, predicted_label,
    votes``.
    """
    from pyspark.sql import Window

    nn = brute_force_topk(queries, corpus, k=k, id_col=id_col,
                          vec_col=vec_col, method=method)
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__lbl")
    )
    votes = (
        nn.join(labels, "neighbor_id")
        .groupBy("query_id", "__lbl")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("__lbl")
    )
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("query_id", F.col("__lbl").alias("predicted_label"), "votes")
    )
