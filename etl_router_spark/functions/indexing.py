"""Corpus indexing / term-statistics operators: TF-IDF, corpus-wide
heavy hitters (vocabulary building), and inverted-index construction.

These are the term-level counterparts of the document-level ops in
``functions/text.py`` — the stages a training-data pipeline runs to
build vocabularies, score term salience, and make a corpus searchable.
The reference engine has no term-statistics surface (its transforms
are record-shaped, ``conveyor-etl-dsl/src/types.rs``); these extend it
the way the dedup/similarity families do.

Scale design:

- Everything is explode -> groupBy over (doc, term) or (term) keys —
  classic map-side-combinable aggregations; the shuffle carries counts,
  never token streams.
- Document frequencies ride along as a broadcast join (|vocab| rows,
  bounded by ``max_df_frac`` pruning) — the corpus-size scalar is a
  1-row cross join, not a driver collect.
- Per-doc top-k uses a window partitioned BY DOCUMENT — thousands of
  small sorts, never a global one.
- Heavy hitters is a two-level aggregation ending in a TakeOrdered
  heap: k rows to the driver, no full sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_router_spark.functions.sqltext import sql_double, sql_ident
from etl_router_spark.functions.text import tokens_sql


def _doc_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term) rows, one per token OCCURRENCE (not distinct)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.expr(tokens_sql(sql_ident(text_col)))).alias("term"),
    ).filter(F.col("term") != "")


def tfidf_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-k salient terms per document by TF-IDF.

    tf = raw occurrence count in the document; idf = ln(N / df) with N
    the corpus size and df the term's document frequency; ties broken
    by term text for determinism. Two aggregations (doc-term counts,
    term df), one tf x df equi-join, one per-doc window sort.
    """
    terms = _doc_terms(df, id_col, text_col)
    tf = terms.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    n_docs = df.select(F.count("*").alias("__n"))
    # df-table join strategy LEFT TO AQE (r13): dfreq is one row per
    # DISTINCT CORPUS TERM — Heaps'-law-sized, not metadata-sized — so
    # a forced broadcast hint OOMs at web-corpus vocabularies (the same
    # hazard bm25_topk's qstats comment documents). AQE still
    # broadcasts the small-vocabulary case from runtime stats and falls
    # back to a shuffle join when the vocabulary is genuinely large.
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("__n") / F.col("df_t")), 6))
    )
    w = Window.partitionBy("id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "term", F.col("tf").cast("bigint").alias("tf"),
                F.col("df_t").cast("bigint").alias("df_t"), "tfidf",
                F.col("rank").cast("int").alias("rank"))
    )


def heavy_hitters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
) -> DataFrame:
    """Corpus-wide top-k terms by total occurrence count (the exact
    form of vocabulary building / stopword discovery).

    groupBy(term) with map-side partial counts, then a TakeOrdered
    heap for the top k — no global sort, k rows cross the last stage.
    Ties broken by term text.
    """
    counts = _doc_terms(df, id_col, text_col).groupBy("term").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("id").alias("n_docs"),
    )
    return (
        counts.orderBy(F.desc("n_occurrences"), F.asc("term"))
        .limit(k)
        .select("term", F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
                F.col("n_docs").cast("bigint").alias("n_docs"))
    )


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_df: int | None = None,
    max_postings: int | None = None,
) -> DataFrame:
    """term -> sorted posting list of containing doc ids.

    ``min_df``/``max_df`` prune singleton noise and stop-terms (an
    uncapped stop-term's posting list is the whole corpus — the same
    quadratic hazard as dedup shingles, so cap it at scale).
    ``max_postings`` truncates each list to its first N ids after
    sorting (deterministic), bounding row width for the sink.
    One distinct + one groupBy(term) shuffle of (term, id) longs.
    """
    postings = (
        _doc_terms(df, id_col, text_col)
        .distinct()
        .groupBy("term")
        .agg(F.array_sort(F.collect_list("id")).alias("doc_ids"))
        .withColumn("df_t", F.size("doc_ids").cast("bigint"))
    )
    if min_df > 1:
        postings = postings.filter(F.col("df_t") >= min_df)
    if max_df is not None:
        postings = postings.filter(F.col("df_t") <= max_df)
    if max_postings is not None:
        postings = postings.withColumn("doc_ids", F.slice("doc_ids", 1, max_postings))
    return postings.select("term", "df_t", "doc_ids")


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_df_frac: float = 0.5,
) -> DataFrame:
    """All document pairs (a < b) with TF-IDF cosine >= threshold —
    text-native similarity search (no embeddings needed): sparse-vector
    cosine over the posting lists.

    w(d,t) = tf(d,t) * ln(N / df(t)); cosine = Σ w_a·w_b / (‖a‖‖b‖).
    Same bucket-local pair generation as the n-gram Jaccard operator:
    postings group by term once, ordered pairs stream from chained
    explodes, and terms with df above ``max_df_frac``·N are pruned —
    they carry ~zero inner-product signal (idf → 0 anyway) but dominate
    join cost. Norms are per-doc aggregates computed from the same
    weighted postings (exchange reused), joined back post-pair.
    """
    terms = _doc_terms(df, id_col, text_col)
    tf = terms.groupBy("id", "term").agg(F.count("*").alias("tf"))
    n_docs = df.select(F.count("*").alias("__n"))
    # (term -> [(id, w)]) with df-cap as a free length filter
    grouped = (
        tf.groupBy("term")
        .agg(F.array_sort(F.collect_list(F.struct("id", "tf"))).alias("ps"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.size("ps") <= F.floor(F.col("__n") * F.lit(max_df_frac)))
        .selectExpr(
            "transform(ps, p -> struct(p.id AS id, "
            "CAST(p.tf AS DOUBLE) * ln(CAST(__n AS DOUBLE) / size(ps)) AS w)) AS ps"
        )
    )
    weighted = grouped.selectExpr("explode(ps) AS p").selectExpr("p.id AS id", "p.w AS w")
    norms = weighted.groupBy("id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    dots = (
        grouped.filter(F.size("ps") > 1)
        .selectExpr("explode(ps) AS x", "ps")
        .selectExpr("x", "explode(filter(ps, y -> y.id > x.id)) AS y")
        .selectExpr("x.id AS id_a", "y.id AS id_b", "x.w * y.w AS ww")
        .groupBy("id_a", "id_b")
        .agg(F.sum("ww").alias("dot"))
    )
    na = norms.selectExpr("id AS id_a", "nrm AS nrm_a")
    nb = norms.selectExpr("id AS id_b", "nrm AS nrm_b")
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("cosine", F.round(F.col("dot") / (F.col("nrm_a") * F.col("nrm_b")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """Per-query top-k documents by BM25 (Robertson et al.; the
    Lucene-standard positive idf variant ln(1 + (N - df + 0.5) /
    (df + 0.5))) — the lexical half of hybrid retrieval.

    Plan (r16: every corpus exchange hits-sized — r15 had collapsed
    three corpus aggregations into one but still shuffled the FULL
    (id, term) vocabulary through the tf aggregation): the doc
    length rides THROUGH the tf aggregation (it is just the doc's
    non-empty token count, computed map-side before the explode,
    constant within the group), so no dl subtree and no dl join exist;
    the query term set (distinct per query — tiny) BROADCASTS into the
    token stream BELOW the tf aggregation, so the one corpus exchange
    carries only query-term (id, term) pairs — hits-sized at any
    corpus size — and the per-term document frequency derives from the
    tf table itself (one row per containing doc, so ``count(*)`` per
    term equals the corpus df exactly). Never a
    vocabulary-wide table anywhere (broadcasting a full vocabulary df
    table would OOM at web-corpus sizes; shuffling one costs a
    corpus-wide exchange); avgdl/N ride as a broadcast 1-row scalar
    computed map-side from the docs scan (no explode, no shuffle).
    Rank orders by the ROUNDED score (6 digits) with id tie-break so
    top-k membership is FP-deterministic across engines.

    Returns ``query_id, rank, doc_id, score``.
    """
    # Column expressions are SQL TEXT end-to-end (r16): the Column-by-
    # Column form cost ~900 py4j round trips (~0.5 s of pure driver
    # time) PER PLAN BUILD — the dedup-pipeline lesson applied here
    # (see _shingle_hashes). The parsed plans are identical.
    toks_sql = tokens_sql(sql_ident(text_col))
    nonempty_sql = f"size(array_remove({toks_sql}, ''))"
    # __dl and __toks MUST materialize in their own select BELOW the
    # explode-select: putting size(array_remove(split(...))) in the
    # same select as the explode lets ExtractGenerator rebuild it
    # ABOVE the Generate from the passthrough text column — i.e.
    # re-tokenize once per TOKEN row, O(doc_len^2) per doc (measured
    # 4.3x on the tf aggregate at sf0.1). As attributes they ride the
    # Generate untouched; the branch that doesn't need __dl prunes it.
    # (No spread_small_scan here: regex tokenize is light map work —
    # measured, the round-robin exchange costs more than the
    # single-core scan it parallelizes, unlike the md5-heavy Bloom/
    # DSIR probes.)
    tokd = df.selectExpr(
        f"{sql_ident(id_col)} AS id",
        f"{nonempty_sql} AS __dl",
        f"{toks_sql} AS __toks",
    )
    terms = tokd.selectExpr(
        "id", "__dl", "explode(__toks) AS term"
    ).filter("term != ''")
    # avgdl over docs with >= 1 token (split(null) has size -1, the
    # when() excludes it too) — identical to the average of the old dl
    # table, which only held docs that produced tf rows; tokenizes
    # map-side, no explode, no shuffle, one-row result
    stats = df.selectExpr("CAST(count(*) AS DOUBLE) AS __n").crossJoin(
        df.selectExpr(
            f"avg(CASE WHEN {nonempty_sql} > 0 "
            f"THEN CAST({nonempty_sql} AS DOUBLE) END) AS __avgdl"
        )
    )
    qterms = queries.selectExpr(
        f"{sql_ident(query_id_col)} AS query_id",
        f"explode(array_distinct({tokens_sql(sql_ident(query_text_col))})) AS term",
    ).filter("term != ''")
    # The broadcast query-term filter lands map-side UNDER the tf
    # aggregation (r16): only query-term (id, term) token rows reach
    # the ONE corpus exchange, so its shuffle is hits-sized at any
    # corpus size (a doc with no query term contributes nothing and
    # could never have scored; a doc with query terms keeps its exact
    # per-term counts — dropping other terms cannot change a
    # (id, term) group). The per-term document frequency then derives
    # from the tf table itself — one row per containing doc, so
    # count(*) per term IS countDistinct(id) over the token stream —
    # which removes the r15 shape's vocabulary-wide distinct-doc
    # recount: the dft branch aggregates the hits-sized tf table
    # instead of the whole token stream (its own filtered map pass, no
    # persist — see below).
    terms = terms.join(F.broadcast(qterms.select("term").distinct()), "term")
    tf = terms.groupBy("id", "term").agg(
        F.expr("count(*) AS tf"),
        F.expr("CAST(first(__dl) AS DOUBLE) AS dl"),
    )
    # The df branch prunes tf to its `term` column, which makes its
    # physical aggregate differ from the probe side's — exchange reuse
    # never fires and the (filtered) tokenize+explode map pass runs
    # twice. That duplication is DELIBERATE: a persist() of the
    # hits-sized tf table would share the one corpus pass, but the
    # cache materialization barrier measured ~15% SLOWER on
    # search_retrieval_eval at sf0.1 (interleaved persist/no-persist
    # A/B, r16 — see OPTIMIZATION_r16.md) while the map pass is
    # embarrassingly parallel; the SHUFFLE is what must not repeat,
    # and both branches' exchanges are hits-sized.
    dft_tbl = tf.groupBy("term").agg(
        F.expr("CAST(count(*) AS DOUBLE) AS dft")
    )
    qstats = dft_tbl.join(F.broadcast(qterms), "term")
    # FP constants embedded via sql_double so the parsed literals are
    # bit-identical to the former F.lit(python float) form
    scored = (
        tf.join(F.broadcast(qstats), "term")
        .crossJoin(F.broadcast(stats))
        .selectExpr(
            "query_id", "id",
            f"ln(1 + (__n - dft + 0.5D) / (dft + 0.5D))"
            f" * tf * {sql_double(k1 + 1)}"
            f" / (tf + {sql_double(k1)} * ({sql_double(1 - b)} + {sql_double(b)}"
            " * dl / __avgdl))"
            " AS __s",
        )
        .groupBy("query_id", "id")
        .agg(F.expr("round(sum(__s), 6) AS score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .selectExpr("query_id", "CAST(rank AS INT) AS rank",
                    "id AS doc_id", "score")
    )


def retrieval_eval(
    runs: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    doc_id_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """Per-query retrieval-quality metrics at cutoff ``k`` — the
    evaluation stage that closes the retrieval loop (BM25 / ANN / RRF
    produce runs; this scores them against graded judgments the way
    trec_eval does).

    ``runs``: ranked results (query_id, doc_id, rank) — ranks 1-based,
    rows beyond ``k`` ignored. ``qrels``: graded judgments (query_id,
    doc_id, rel); rows with rel <= 0 are treated as unjudged/negative
    and dropped. Queries are DEFINED by qrels: a query with judgments
    but no run rows scores 0 across the board (silently dropping it
    would inflate every macro average).

    Metrics (all rounded to 6 digits for cross-engine determinism):

    - ``recall``    hits@k / n_rel
    - ``precision`` hits@k / k
    - ``mrr``       1 / rank of the first relevant hit (0 if none)
    - ``ap``        mean over relevant hit positions of precision@pos,
                    normalized by min(n_rel, k) (the trec_eval cutoff
                    convention: a perfect top-k scores 1 even when
                    n_rel > k)
    - ``ndcg``      DCG@k / IDCG@k with graded gains (2^rel - 1) and
                    log2(pos + 1) discounts (Jarvelin & Kekalainen)

    Scale: both sides hash-partition by query_id — the only shuffles
    are the two per-query aggregations and the rank/ideal-rank window
    sorts, each over <= k (runs) or n_rel (qrels) rows per query, so a
    million-query evaluation is a million tiny sorted groups with
    map-side partial aggregation; no broadcast of either side is
    required and nothing is corpus-sized (runs are already top-k).
    """
    # Column expressions are SQL TEXT (r16, same rationale as
    # bm25_topk: the Column-by-Column form cost ~0.4 s of py4j round
    # trips per plan build; parsed plans identical — FP literals carry
    # the D suffix so nothing re-types to DECIMAL)
    qid, did = "query_id", "doc_id"
    ids = f"{sql_ident(query_id_col)} AS {qid}", f"{sql_ident(doc_id_col)} AS {did}"
    runs_k = runs.selectExpr(
        *ids, f"CAST({sql_ident(rank_col)} AS INT) AS rank",
    ).filter(f"rank <= {k}")
    qr = qrels.selectExpr(
        *ids, f"CAST({sql_ident(rel_col)} AS DOUBLE) AS rel",
    ).filter("rel > 0")

    # ideal side: n_rel and IDCG@k from the judgments alone
    wq = Window.partitionBy(qid).orderBy(F.desc("rel"), F.asc(did))
    ideal = (
        qr.withColumn("irank", F.row_number().over(wq))
        .groupBy(qid)
        .agg(
            F.expr("count(*) AS n_rel"),
            F.expr(
                f"sum(CASE WHEN irank <= {k} THEN "
                "(pow(2.0D, rel) - 1) / log2(irank + 1) "
                "ELSE 0.0D END) AS idcg"
            ),
        )
    )

    wr = Window.partitionBy(qid).orderBy("rank")
    hit_sql = "CASE WHEN rel > 0 THEN 1 ELSE 0 END"
    scored = (
        runs_k.join(qr, [qid, did], "left")
        .withColumn("rel", F.expr("coalesce(rel, 0.0D)"))
        .withColumn("cum_hits", F.expr(f"sum({hit_sql})").over(wr))
        .groupBy(qid)
        .agg(
            F.expr(f"sum({hit_sql}) AS hits"),
            F.expr("min(CASE WHEN rel > 0 THEN rank END) AS first_rel"),
            F.expr("sum((pow(2.0D, rel) - 1) / log2(rank + 1)) AS dcg"),
            F.expr(
                "sum(CASE WHEN rel > 0 THEN "
                "CAST(cum_hits AS DOUBLE) / rank ELSE 0.0D END) AS ap_num"
            ),
        )
    )

    out = ideal.join(scored, qid, "left")
    return out.selectExpr(
        f"{qid} AS {sql_ident(query_id_col, alias=True)}",
        "CAST(coalesce(hits, 0) AS INT) AS hits",
        "CAST(n_rel AS INT) AS n_rel",
        "round(coalesce(hits / n_rel, 0.0D), 6) AS recall",
        f"round(coalesce(hits / {sql_double(k)}, 0.0D), 6) AS precision",
        "round(coalesce(1.0D / first_rel, 0.0D), 6) AS mrr",
        f"round(coalesce(ap_num, 0.0D) / least(n_rel, {k}), 6) AS ap",
        "round(coalesce(dcg / idcg, 0.0D), 6) AS ndcg",
    )


def mine_hard_negatives(
    runs: DataFrame,
    qrels: DataFrame,
    n_negatives: int = 4,
    query_id_col: str = "query_id",
    doc_id_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """Contrastive training-pair construction — the stage between
    retrieval and training that :func:`retrieval_eval` evaluates but
    cannot produce: per query, emit every judged-relevant document
    (``label`` 1) plus the ``n_negatives`` HIGHEST-RANKED run
    documents that are NOT judged relevant (``label`` 0) — the
    standard hard-negative recipe (DPR / sentence-transformers): a
    top-ranked non-relevant document is the most informative negative
    a contrastive loss can see, vs random negatives the model already
    separates.

    Conventions shared with :func:`retrieval_eval`: queries are
    DEFINED by qrels (a query with no positive cannot form a pair and
    emits nothing); ``rel <= 0`` rows are unjudged/negative, so such
    documents are eligible negatives. Output: (query_id, doc_id,
    rank, label) — ``rank`` is the run rank, NULL for positives the
    run never retrieved (the recall-gap rows a trainer may choose to
    upweight); ties inside the negative cutoff break by ascending
    doc_id for cross-engine determinism.

    Scale: every shuffle is keyed by (query_id[, doc_id]) — one
    anti-join against positives, one semi-join restricting to
    qrels-defined queries, one per-query window over <= |run| rows,
    one left join attaching positive ranks. Per-query groups are
    top-k-sized, so a million-query mining job is a million tiny
    groups; nothing corpus-sized moves (runs are already top-k).
    """
    if n_negatives < 0:
        raise ValueError("mine_hard_negatives: n_negatives must be >= 0")
    qid, did = "query_id", "doc_id"
    # distinct: duplicate (query_id, doc_id) qrel rows with rel > 0
    # (multiple judgment rounds, differing grades) must yield ONE
    # label-1 pair, not several — and duplicates would also multiply
    # through the rank-attaching left join below (r11 advisor fix)
    pos = qrels.select(
        F.col(query_id_col).alias(qid), F.col(doc_id_col).alias(did),
        F.col(rel_col).cast("double").alias("rel"),
    ).filter(F.col("rel") > 0).drop("rel").distinct()
    run_n = runs.select(
        F.col(query_id_col).alias(qid), F.col(doc_id_col).alias(did),
        F.col(rank_col).cast("int").alias("rank"),
    )
    neg_pool = (
        run_n.join(pos, [qid, did], "left_anti")
        .join(pos.select(qid).distinct(), qid, "left_semi")
    )
    wn = Window.partitionBy(qid).orderBy(F.asc("rank"), F.asc(did))
    negs = (
        neg_pool.withColumn("__rn", F.row_number().over(wn))
        .filter(F.col("__rn") <= n_negatives)
        .drop("__rn")
        .withColumn("label", F.lit(0))
    )
    pos_out = (
        pos.join(run_n, [qid, did], "left")
        .withColumn("label", F.lit(1))
    )
    return pos_out.unionByName(negs).select(
        qid, did, F.col("rank").cast("int").alias("rank"),
        F.col("label").cast("int").alias("label"))
