"""Correctness-gate queries for the large-scale data-pipeline operators
(dedup / similarity / text analysis / multimodal plumbing).

Oracle strategy: everything that can be expressed in ANSI SQL gets an
exact DuckDB twin — including MinHash/SimHash, whose oracle SQL is
*generated* here from the same parameters as the Spark implementation,
sharing the engine-portable ``h60`` hash
(Spark ``conv(substr(md5(x),1,15),16,10)`` ==
DuckDB ``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``).
The multi-table LSH ANN also gets an exact oracle: its hyperplanes are
deterministic md5-derived constants embedded as literals in both plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_router_spark.functions.dedup import (
    embedding_cosine_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from etl_router_spark.functions.multimodal import attach_fake_media, extract_media_features
from etl_router_spark.functions.similarity import (
    _hyperplane,
    brute_force_topk,
    ivf_topk,
    lsh_bucketed_topk,
)
from etl_router_spark.functions.text import (
    LANG_MARKERS,
    fingerprint,
    language_id,
    text_stats,
    tokenize,
)
from etl_router_spark.io import load_table
from etl_router_spark.queries import query

# ---------------------------------------------------------------------------
# shared oracle SQL fragments
# ---------------------------------------------------------------------------
# DuckDB twin of functions.text.h60_sql
def _h60_sql(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


# DuckDB twin of functions.text.tokens_sql (regex whitespace split on
# trimmed text)
_WORDS = "string_split_regex(trim(text), '\\s+')"

# DuckDB twin of functions.text.shingles_sql(n=3): 1-based inclusive slices
def _shingles_sql(n: int = 3) -> str:
    return (
        f"CASE WHEN len({_WORDS}) >= {n} THEN "
        f"list_transform(range(1, len({_WORDS}) - {n} + 2), "
        f"i -> array_to_string({_WORDS}[i:i+{n - 1}], ' ')) "
        f"ELSE [] END"
    )


# ===========================================================================
# deduplication
# ===========================================================================
@query(
    "dedup_exact",
    r"""
    SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
    JOIN (
      SELECT min(doc_id) AS doc_id
      FROM (SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS k
            FROM documents)
      GROUP BY k) keep
    ON d.doc_id = keep.doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text; representatives = min doc_id.
    Output omits the text body (digest-key shuffles only)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id", "lang", "source", "n_chars")


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH docs AS (SELECT * FROM documents WHERE doc_id < 1000),
    sh_txt AS (
      SELECT doc_id AS id, unnest(list_distinct({_shingles_sql(3)})) AS shingle_txt
      FROM docs),
    sh0 AS (SELECT id, {_h60_sql('shingle_txt')} AS shingle FROM sh_txt),
    cap AS (SELECT greatest(100, CAST(floor(count(*) * 0.5) AS BIGINT)) AS v FROM docs),
    sh AS (
      SELECT id, shingle FROM (
        SELECT id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh0)
      WHERE df <= (SELECT v FROM cap)),
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id)
    SELECT id_a, id_b,
           round(i / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE i / (sa.sz + sb.sz - i) >= 0.12
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard pairs >= 0.12 (posting-list join) with the
    default stop-shingle cap (df <= 50% of corpus) — the oracle applies
    the identical cap, so the gate pins the capped semantics."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return ngram_jaccard_pairs(docs, n=3, threshold=0.12)


@query("dedup_minhash_signatures", None)  # oracle attached below
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 hashes) for a doc subset — the signature
    itself is oracle-checked value-for-value."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return minhash_signatures(docs, num_hashes=8, shingle_n=3)


@query("dedup_minhash_lsh", None)  # oracle attached below
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding (8 hashes x 4 bands) candidate pairs with estimated
    Jaccard >= 0.5."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    return minhash_lsh_pairs(docs, num_hashes=8, bands=4, threshold=0.5)


@query("dedup_simhash", None)  # oracle attached below
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return simhash(docs, bits=32).select("id", "simhash")


@query("dedup_simhash_pairs", None)  # oracle attached below
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, hamming <= 3 over 32 bits (pigeonhole
    blocking == exact all-pairs because max_hamming < blocks)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return simhash_pairs(docs, max_hamming=3, bits=32, blocks=4)


@query(
    "dedup_embedding_cosine",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 1500 AND b.vec_id < 1500
      AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.38
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, cosine >= 0.38 — exact, via the
    distributed block-GEMM path (no driver-side corpus collect in the
    plan; executor memory bounded by two blocks per task)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1500)
    # 8 blocks -> 36 block-pair tasks: enough parallelism for local[32]
    # while halving the B-fold row replication of the pair-expansion
    # shuffle (at cluster scale, size B so two blocks fit one executor)
    return embedding_cosine_pairs(emb, threshold=0.38, method="block", num_blocks=8)


# ===========================================================================
# similarity search
# ===========================================================================
@query(
    "similarity_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.qv, c.embedding::DOUBLE[]), 6) AS cosine
      FROM q JOIN embeddings c ON q.query_id <> c.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 5
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 20 query vectors over the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb.filter(F.col("vec_id") < 20), emb, k=5)


def _lsh_oracle(planes: int, tables: int, dim: int, k: int, n_queries: int) -> str:
    """Generated oracle for the multi-table LSH ANN: hyperplanes are the
    same literals the Spark plan embeds."""
    key_parts = []
    for t in range(tables):
        bits = []
        for p in range(planes):
            h = _hyperplane(dim, t * planes + p)
            arr = "[" + ", ".join(f"{x!r}" for x in h) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product(v, {arr}::DOUBLE[]) > 0 THEN {2 ** p} ELSE 0 END)"
            )
        key_parts.append(f"'{t}:' || CAST(({' + '.join(bits)}) AS VARCHAR)")
    keys = "[" + ", ".join(key_parts) + "]"
    return f"""
    WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    keyed AS (SELECT vec_id, v, unnest({keys}) AS bucket FROM vecs),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM keyed WHERE vec_id < {n_queries}),
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
      FROM q JOIN keyed c ON q.bucket = c.bucket AND q.query_id <> c.vec_id),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             round(list_cosine_similarity(qq.v, cc.v), 6) AS cosine
      FROM cand
      JOIN vecs qq ON qq.vec_id = cand.query_id
      JOIN vecs cc ON cc.vec_id = cand.neighbor_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {k}
    """


@query("similarity_lsh_ann", None)  # oracle attached below
def similarity_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH ANN top-5 (3 planes x 4 tables), exact re-rank
    inside the candidate set."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_bucketed_topk(emb.filter(F.col("vec_id") < 20), emb, k=5,
                             dim=64, planes=3, tables=4)


@query(
    "similarity_ivf_ann",
    """
    WITH cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                  FROM embeddings WHERE vec_id < 8),
    corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign AS (
      SELECT vec_id AS neighbor_id, cid FROM (
        SELECT c.vec_id, ct.cid,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY round(list_cosine_similarity(c.v, ct.cv), 6) DESC,
                            ct.cid DESC) AS rn
        FROM corp c CROSS JOIN cent ct) t WHERE rn = 1),
    probe AS (
      SELECT vec_id AS query_id, cid FROM (
        SELECT q.vec_id, ct.cid,
               row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(q.v, ct.cv), 6) DESC,
                            ct.cid DESC) AS rn
        FROM corp q CROSS JOIN cent ct WHERE q.vec_id < 20) t WHERE rn <= 2),
    cand AS (
      SELECT p.query_id, a.neighbor_id FROM probe p JOIN assign a USING (cid)
      WHERE a.neighbor_id <> p.query_id),
    scored AS (
      SELECT cd.query_id, cd.neighbor_id,
             round(list_cosine_similarity(q.v, n.v), 6) AS cosine
      FROM cand cd
      JOIN corp q ON q.vec_id = cd.query_id
      JOIN corp n ON n.vec_id = cd.neighbor_id)
    SELECT query_id, neighbor_id, rank, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored) r WHERE rank <= 5
    """,
)
def similarity_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5: 8 deterministic centroids, nprobe=2, map-side
    cluster assignment (no corpus shuffle), exact cosine re-rank."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb.filter(F.col("vec_id") < 20), emb,
                    k=5, nprobe=2, n_centroids=8)


# ===========================================================================
# text analysis
# ===========================================================================
@query(
    "text_tokens",
    f"""
    SELECT doc_id,
           len({_WORDS})                              AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                AS BIGINT)                            AS n_bpe_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT)   AS n_subwords_est
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return tokenize(docs).select("doc_id", "n_tokens", "n_bpe_tokens", "n_subwords_est")


@query(
    "text_quality_stats",
    f"""
    SELECT doc_id,
           length(text)                                   AS n_chars_calc,
           len({_WORDS})                                  AS n_words,
           round((length(text) - len({_WORDS}) + 1) * 1.0 / len({_WORDS}), 6) AS avg_word_len,
           round(len(list_filter({_WORDS}, w -> list_contains(['the','a','of','and','is'], w)))
                 * 1.0 / len({_WORDS}), 6)                AS stopword_ratio,
           round(len(list_distinct({_WORDS})) * 1.0 / len({_WORDS}), 6) AS uniq_word_ratio
    FROM documents
    """,
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = text_stats(docs)
    return out.select(
        "doc_id", "n_chars_calc", "n_words",
        F.round("avg_word_len", 6).alias("avg_word_len"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("uniq_word_ratio", 6).alias("uniq_word_ratio"),
    )


def _langid_oracle() -> str:
    langs = sorted(LANG_MARKERS)
    score_defs = ",\n           ".join(
        f"len(list_filter({_WORDS}, w -> list_contains({list(LANG_MARKERS[l])!r}, w))) AS s_{l}"
        for l in langs
    )
    best = f"greatest({', '.join('s_' + l for l in langs)})"
    pick = " ".join(f"WHEN s_{l} = best THEN '{l}'" for l in langs)
    return f"""
    WITH scored AS (
      SELECT doc_id, lang,
           {score_defs}
      FROM documents),
    with_best AS (SELECT *, {best} AS best FROM scored)
    SELECT doc_id, lang,
           CASE WHEN best > 0 THEN (CASE {pick} END) ELSE 'und' END AS lang_pred
    FROM with_best
    """


@query("text_langid", None)  # oracle attached below
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return language_id(docs).select("doc_id", "lang", "lang_pred")


@query(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({_WORDS})), ' ')) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return fingerprint(docs).select("doc_id", "fingerprint")


@query(
    "text_ngram_counts",
    f"""
    SELECT ngram, cnt FROM (
      SELECT ngram, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({_shingles_sql(2).replace("ELSE []", "ELSE CAST([] AS VARCHAR[])")}) AS ngram
            FROM documents)
      GROUP BY ngram)
    ORDER BY cnt DESC, ngram ASC LIMIT 100
    """,
)
def text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts, top 100 (LM-style occurrence counts):
    map-side-combinable groupBy + TakeOrdered heap — no global sort,
    k rows to the driver. Deterministic (cnt DESC, ngram ASC) order."""
    from etl_router_spark.functions.text import ngram_counts

    docs = load_table(spark, sf_dir, "documents")
    return ngram_counts(docs, n=2, k=100)


@query(
    "text_char_entropy",
    f"""
    SELECT doc_id,
           round(CASE WHEN length(text) = 0 THEN 0.0 ELSE
             -list_sum(list_transform(
                list_distinct(list_filter(string_split(text, ''), c -> c <> '')),
                c -> (len(list_filter(string_split(text, ''), x -> x = c))
                      / CAST(length(text) AS DOUBLE))
                     * log2(len(list_filter(string_split(text, ''), x -> x = c))
                      / CAST(length(text) AS DOUBLE))))
           END, 6) AS char_entropy
    FROM documents
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character-distribution Shannon entropy (quality signal):
    pure whole-stage-codegen column expressions, zero shuffle."""
    from etl_router_spark.functions.text import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    return char_entropy(docs).select("doc_id", "char_entropy")


@query(
    "text_rolling_fingerprint",
    f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform({_WORDS},
                 t -> CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) % 1000000007)),
             (acc, x) -> (acc * 131 + x) % 1000000007) AS rolling_fp
    FROM documents
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive Rabin-Karp rolling fingerprint over token h60s
    (the prompt-level complement of the set-digest fingerprint)."""
    from etl_router_spark.functions.text import rolling_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return rolling_fingerprint(docs).select("doc_id", "rolling_fp")


# ===========================================================================
# multimodal plumbing
# ===========================================================================
@query(
    "multimodal_features",
    """
    SELECT doc_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           sha256(text)                                     AS content_digest
    FROM documents WHERE doc_id < 500
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column -> mapInPandas feature extraction (real
    Arrow/Python plumbing; fake decoder). Deterministic outputs
    (byte count + content digest) are oracle-checked; the pseudo-
    embedding column is exercised in tests."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    media = attach_fake_media(docs)
    return extract_media_features(media).select("doc_id", "n_bytes", "content_digest")


@query(
    "multimodal_resize",
    """
    WITH c1 AS (SELECT doc_id, sha256(text) AS h1
                FROM documents WHERE doc_id < 300),
    c2 AS (SELECT *, sha256(h1) AS h2 FROM c1),
    c3 AS (SELECT *, sha256(h2) AS h3 FROM c2),
    c4 AS (SELECT *, sha256(h3) AS h4 FROM c3),
    c5 AS (SELECT *, sha256(h4) AS h5 FROM c4),
    c6 AS (SELECT *, sha256(h5) AS h6 FROM c5)
    SELECT doc_id,
           CAST(192 AS BIGINT)                  AS n_bytes,
           h1 || h2 || h3 || h4 || h5 || h6     AS media_hex,
           16 AS width, 12 AS height
    FROM c6
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize plumbing (mapInPandas, fake decoder): output is the
    hex-chain stretch of the payload to width*height bytes — the oracle
    rebuilds the identical chain in SQL, so the whole Arrow round-trip
    (binary in, binary out) is value-checked byte-for-byte."""
    from etl_router_spark.functions.multimodal import resize_images

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = attach_fake_media(docs)
    out = resize_images(media, width=16, height=12)
    return out.select(
        "doc_id",
        F.length("media").cast("long").alias("n_bytes"),
        F.lower(F.hex("media")).alias("media_hex"),
        "width", "height",
    )


@query(
    "multimodal_frames",
    """
    WITH n AS (SELECT doc_id, sha256(text) AS digest,
                      least(8, 1 + (octet_length(CAST(text AS BLOB)) // 10) % 8) AS n_frames
               FROM documents WHERE doc_id < 300),
    idx AS (SELECT doc_id, digest, unnest(range(n_frames)) AS frame_index FROM n)
    SELECT doc_id,
           CAST(frame_index AS BIGINT) AS frame_index,
           CAST(32 AS BIGINT)          AS frame_len,
           sha256(digest || ':' || CAST(frame_index AS VARCHAR)) AS frame_hex
    FROM idx
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling plumbing (1 row -> N frame rows, the
    ProcessBatch 1->N shape): fake frames are sha256('digest:index'),
    so count, indices, sizes AND frame bytes are all oracle-checked."""
    from etl_router_spark.functions.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = attach_fake_media(docs)
    out = sample_frames(media, every_n=10, max_frames=8)
    return out.select(
        "doc_id",
        F.col("frame_index").cast("long").alias("frame_index"),
        F.length("frame").cast("long").alias("frame_len"),
        F.lower(F.hex("frame")).alias("frame_hex"),
    )


# ===========================================================================
# generated oracles (attached post-definition: they need helper output)
# ===========================================================================
from etl_router_spark.queries import ORACLES  # noqa: E402


def _minhash_sig_oracle(num_hashes: int, where: str) -> str:
    # mirrors functions.dedup.minhash_signatures exactly: one 32-bit
    # md5-derived base hash per shingle (hex chars 1-8), k affine
    # rehashes (a_i*h + b_i) mod P with the same inlined constants
    from etl_router_spark.functions.dedup import MINHASH_P, minhash_affine_consts

    mins = ",\n           ".join(
        f"min((h * {a} + {b}) % {MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_affine_consts(num_hashes))
    )
    return f"""
    WITH sh AS (
      SELECT doc_id AS id, unnest(list_distinct({_shingles_sql(3)})) AS shingle
      FROM documents WHERE {where}),
    hashed AS (
      SELECT id,
             CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) % {MINHASH_P} AS h
      FROM sh)
    SELECT id, {mins}
    FROM hashed GROUP BY id
    """


ORACLES["dedup_minhash_signatures"] = _minhash_sig_oracle(8, "doc_id < 500")


def _duck_band_keys(num_hashes: int, bands: int) -> str:
    """DuckDB twin of ``_banded_buckets``'s band-key layout."""
    rpb = num_hashes // bands
    return ", ".join(
        "md5('%d,' || %s)"
        % (b, " || ',' || ".join(
            f"CAST(mh_{b * rpb + r} AS VARCHAR)" for r in range(rpb)))
        for b in range(bands)
    )


def _minhash_incremental_oracle() -> str:
    agree = " + ".join(f"(sa.mh_{i} = sb.mh_{i})::INT" for i in range(8))
    keys = _duck_band_keys(8, 4)
    return f"""
    WITH isig AS ({_minhash_sig_oracle(8, "doc_id < 300")}),
    nsig AS ({_minhash_sig_oracle(8, "doc_id >= 300 AND doc_id < 500")}),
    ib AS (SELECT id, unnest([{keys}]) AS band_key FROM isig),
    nb AS (SELECT id, unnest([{keys}]) AS band_key FROM nsig),
    cand AS (SELECT DISTINCT n.id AS nid, i.id AS iid
             FROM nb n JOIN ib i USING (band_key)),
    est AS (SELECT c.nid, ({agree}) / 8.0 AS ej
            FROM cand c JOIN nsig sa ON sa.id = c.nid
                        JOIN isig sb ON sb.id = c.iid),
    hits AS (SELECT DISTINCT nid FROM est WHERE ej >= 0.5)
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id >= 300 AND doc_id < 500
      AND doc_id NOT IN (SELECT nid FROM hits)
    """


@query("dedup_minhash_incremental", None)  # oracle attached below (generated)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental FUZZY dedup against a persisted LSH index (the
    MinHash rung of ``dedup_incremental_batches``): docs < 300 are
    indexed once (``minhash_index`` -> parquet, band-key rows with
    signatures), the 300-499 batch probes it — batch band keys
    broadcast onto the index scan, signature-agreement scoring, no
    index shuffle, no re-shingling of indexed text
    (``functions/dedup.py:dedup_against_minhash_index``). Survivors =
    batch docs with no indexed near-duplicate at est_jaccard >= 0.5."""
    import tempfile

    from etl_router_spark.functions.dedup import (
        dedup_against_minhash_index,
        minhash_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx_path = tempfile.mkdtemp(prefix="etl_mh_index_") + "/index"
    # build + persist the index the way production would (one-time
    # cost). Partition by a SHORT band-key prefix, never the raw md5 —
    # a 16^32-cardinality partition column is the small-files
    # anti-pattern (measured: 1146 directories for 300 docs at gate
    # scale); 2 hex chars = 256 prunable partitions at any corpus size
    # (or bucket by band_key via the `table` sink for join co-location)
    idx = minhash_index(docs.filter(F.col("doc_id") < 300), num_hashes=8,
                        bands=4)
    (idx.withColumn("bk_prefix", F.substring("band_key", 1, 2))
        .write.partitionBy("bk_prefix").parquet(idx_path))
    batch = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 500))
    kept = dedup_against_minhash_index(
        batch, spark.read.parquet(idx_path), num_hashes=8, bands=4,
        threshold=0.5)
    return kept.select("doc_id", "lang", "source")


ORACLES["dedup_minhash_incremental"] = _minhash_incremental_oracle()

ORACLES["dedup_minhash_lsh"] = f"""
    WITH sig AS ({_minhash_sig_oracle(8, "doc_id < 2000")}),
    banded AS (
      SELECT id, unnest([
        md5('0,' || CAST(mh_0 AS VARCHAR) || ',' || CAST(mh_1 AS VARCHAR)),
        md5('1,' || CAST(mh_2 AS VARCHAR) || ',' || CAST(mh_3 AS VARCHAR)),
        md5('2,' || CAST(mh_4 AS VARCHAR) || ',' || CAST(mh_5 AS VARCHAR)),
        md5('3,' || CAST(mh_6 AS VARCHAR) || ',' || CAST(mh_7 AS VARCHAR))
      ]) AS band_key
      FROM sig),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.id < b.id),
    est AS (
      SELECT c.id_a, c.id_b,
             ((sa.mh_0 = sb.mh_0)::INT + (sa.mh_1 = sb.mh_1)::INT +
              (sa.mh_2 = sb.mh_2)::INT + (sa.mh_3 = sb.mh_3)::INT +
              (sa.mh_4 = sb.mh_4)::INT + (sa.mh_5 = sb.mh_5)::INT +
              (sa.mh_6 = sb.mh_6)::INT + (sa.mh_7 = sb.mh_7)::INT) / 8.0 AS est_jaccard
      FROM cand c JOIN sig sa ON sa.id = c.id_a JOIN sig sb ON sb.id = c.id_b)
    SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
    """


def _simhash_oracle(bits: int, where: str) -> str:
    tok_hash = _h60_sql("tok")
    bit_sums = ",\n           ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    recon = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({2 ** i} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, {tok_hash} AS h
      FROM (SELECT doc_id, unnest({_WORDS}) AS tok FROM documents WHERE {where})),
    sums AS (
      SELECT id,
           {bit_sums}
      FROM toks GROUP BY id)
    SELECT id, {recon} AS simhash FROM sums
    """


ORACLES["dedup_simhash"] = _simhash_oracle(32, "doc_id < 1000")

ORACLES["dedup_simhash_pairs"] = f"""
    WITH fp AS ({_simhash_oracle(32, "doc_id < 1000")})
    SELECT a.id AS id_a, b.id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM fp a JOIN fp b ON a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """

ORACLES["similarity_lsh_ann"] = _lsh_oracle(planes=3, tables=4, dim=64, k=5, n_queries=20)

ORACLES["text_langid"] = _langid_oracle()


def _corpus_clean_oracle() -> str:
    """Composite pipeline oracle: langid -> quality filter -> exact-dedup
    representatives, mirroring the Spark composition operator-for-
    operator (same tie-breaks, same normalization)."""
    langs = sorted(LANG_MARKERS)
    score_defs = ",\n           ".join(
        f"len(list_filter({_WORDS}, w -> list_contains({list(LANG_MARKERS[l])!r}, w))) AS s_{l}"
        for l in langs
    )
    best = f"greatest({', '.join('s_' + l for l in langs)})"
    pick = " ".join(f"WHEN s_{l} = best THEN '{l}'" for l in langs)
    stop = "len(list_filter({w}, x -> list_contains(['the','a','of','and','is'], x))) * 1.0 / len({w})".format(w=_WORDS)
    norm = "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"
    return f"""
    WITH scored AS (
      SELECT doc_id, text,
           {score_defs}
      FROM documents),
    with_best AS (SELECT *, {best} AS best FROM scored),
    pred AS (
      SELECT doc_id, text,
             CASE WHEN best > 0 THEN (CASE {pick} END) ELSE 'und' END AS lang_pred
      FROM with_best),
    kept AS (
      SELECT doc_id, text, lang_pred FROM pred
      WHERE lang_pred = 'en'
        AND len({_WORDS}) >= 30
        AND {stop} >= 0.02),
    reps AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY {norm})
    SELECT k.doc_id, k.lang_pred FROM kept k JOIN reps r ON k.doc_id = r.doc_id
    """


@query("corpus_clean", None)  # oracle attached below
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-corpus cleaning composition, end to end in
    one plan: language-ID (keep predicted en) -> quality thresholds
    (length + stopword ratio) -> exact dedup keeping the min-id
    representative. All three stages are narrow column expressions plus
    one digest-keyed groupBy — at 100 TB the only shuffle is the
    32-byte-key dedup exchange over the already-filtered survivors."""
    docs = load_table(spark, sf_dir, "documents")
    scored = text_stats(language_id(docs))
    kept = scored.filter(
        (F.col("lang_pred") == "en")
        & (F.col("n_words") >= 30)
        & (F.col("stopword_ratio") >= 0.02)
    )
    return exact_dedup(kept, text_col="text", id_col="doc_id").select("doc_id", "lang_pred")


ORACLES["corpus_clean"] = _corpus_clean_oracle()


# ===========================================================================
# corpus pipeline stages: decontamination, sampling, packing
# ===========================================================================
@query(
    "corpus_decontaminate",
    f"""
    WITH corpus AS (SELECT * FROM documents WHERE doc_id < 400),
    bench AS (SELECT * FROM documents WHERE doc_id >= 400),
    dg AS (
      SELECT doc_id, unnest(list_distinct({_shingles_sql(8)})) AS gram
      FROM corpus),
    bg AS (
      SELECT DISTINCT unnest(list_distinct({_shingles_sql(8)})) AS gram
      FROM bench),
    bad AS (SELECT DISTINCT doc_id FROM dg JOIN bg USING (gram))
    SELECT c.doc_id, c.lang, c.source
    FROM corpus c LEFT JOIN bad b ON c.doc_id = b.doc_id
    WHERE b.doc_id IS NULL
    """,
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: drop training documents sharing any
    8-word-gram with the benchmark slice. The benchmark n-gram set
    broadcasts (eval sets are tiny next to a training corpus), so the
    corpus-side postings never shuffle."""
    from etl_router_spark.functions.corpus import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    bench = docs.filter(F.col("doc_id") >= 400)
    return decontaminate(corpus, bench, n=8).select("doc_id", "lang", "source")


@query(
    "corpus_hash_sample",
    """
    SELECT doc_id, lang, source
    FROM documents
    WHERE CAST('0x' || substr(md5('mix1|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
          % 1000000
          < CASE WHEN lang = 'en' THEN 500000 ELSE 150000 END
    """,
)
def corpus_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixing sample: 50% of en, 15% of the rest,
    selected by content-independent hash — reproducible across engines,
    runs and partitionings, and monotone in the rate. Pure map-side
    filter, zero shuffle."""
    from etl_router_spark.functions.corpus import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    out = hash_sample(docs, rate=0.15, key_col="doc_id", salt="mix1",
                      strata_col="lang", strata_rates={"en": 0.5})
    return out.select("doc_id", "lang", "source")


@query(
    "corpus_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, len({_WORDS}) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS token_start
      FROM t)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, token_start,
           CAST(floor(token_start / 2048) AS BIGINT) AS seq_index,
           CAST(token_start % 2048 AS BIGINT)        AS seq_offset
    FROM c
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: documents concatenate in
    doc_id order into one token stream cut into 2048-token windows;
    each document gets its window index and offset. Distributed as a
    two-phase prefix sum (range partition -> local cumsum -> broadcast
    partition offsets), never a single-partition global window."""
    from etl_router_spark.functions.corpus import pack_sequences
    from etl_router_spark.functions.text import tokens_sql

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.expr(tokens_sql("text"))).cast("bigint").alias("n_tokens")
    )
    out = pack_sequences(docs, max_tokens=2048, id_col="doc_id",
                         token_count_col="n_tokens")
    return out.select("doc_id", "n_tokens", "token_start", "seq_index", "seq_offset")


# ===========================================================================
# text quality: repetition + PII
# ===========================================================================
@query(
    "text_repetition",
    f"""
    WITH t AS (SELECT doc_id, text, {_shingles_sql(2)} AS g2, {_shingles_sql(3)} AS g3,
                      {_WORDS} AS toks
               FROM documents)
    SELECT doc_id,
           round(CASE WHEN len(g2) > 0
                 THEN 1 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE)
                 ELSE 0 END, 6) AS dup_2gram_frac,
           round(CASE WHEN len(g3) > 0
                 THEN 1 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE)
                 ELSE 0 END, 6) AS dup_3gram_frac,
           round(CASE WHEN trim(text) <> '' AND len(toks) > 0
                 THEN list_max(list_transform(list_distinct(toks),
                      d -> len(list_filter(toks, t2 -> t2 = d)))) / CAST(len(toks) AS DOUBLE)
                 ELSE 0 END, 6) AS top_token_frac
    FROM t
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition stats (duplicate n-gram
    fractions, top-token share) — per-row array math, no shuffle."""
    from etl_router_spark.functions.text import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs).select(
        "doc_id", "dup_2gram_frac", "dup_3gram_frac", "top_token_frac"
    )


@query(
    "text_pii_redact",
    r"""
    WITH s AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com from 10.' || CAST(doc_id % 200 AS VARCHAR)
                  || '.0.1 call +1 555-000-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS synth
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(synth, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(synth, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(synth, '\+?\d[\d \-]{7,}\d')) AS BIGINT) AS n_phone,
           md5(regexp_replace(
                 regexp_replace(
                   regexp_replace(synth,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
                 '\+?\d[\d \-]{7,}\d', '<PHONE>', 'g')) AS clean_digest
    FROM s
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking over a deterministic synthetic contact line appended
    to each document (the fixtures carry no PII of their own): emails,
    IPv4s and phone-shaped digit runs are counted then replaced, all in
    one regexp column chain — patterns restricted to the Java-regex /
    RE2 common subset so both engines match identically."""
    from etl_router_spark.functions.text import pii_redact

    docs = load_table(spark, sf_dir, "documents")
    synth = docs.withColumn(
        "synth",
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com from 10."), (F.col("doc_id") % 200).cast("string"),
            F.lit(".0.1 call +1 555-000-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )
    out = pii_redact(synth, text_col="synth", out_col="clean_text")
    return out.select(
        "doc_id", "n_email", "n_ip", "n_phone",
        F.md5(F.col("clean_text")).alias("clean_digest"),
    )


@query(
    "corpus_chunk",
    f"""
    WITH t AS (SELECT doc_id, {_WORDS} AS toks FROM documents WHERE doc_id < 300),
    c AS (SELECT doc_id, toks,
                 CASE WHEN len(toks) <= 32 THEN 1
                      ELSE CAST(ceil((len(toks) - 32) / 24.0) AS INT) + 1 END AS nc
          FROM t),
    e AS (SELECT doc_id, toks,
                 unnest(generate_series(0, nc - 1)) AS chunk_id
          FROM c)
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           array_to_string(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk_text,
           CAST(len(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS BIGINT) AS n_chunk_tokens
    FROM e
    """,
)
def corpus_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (window=32, stride=24): the
    1->N explode that feeds tokenizer/embedding stages. Per-row
    sequence+slice, no shuffle."""
    from etl_router_spark.functions.corpus import chunk_documents

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return chunk_documents(docs, window=32, stride=24).select(
        "doc_id", "chunk_id", "chunk_text", "n_chunk_tokens"
    )


# ===========================================================================
# temporal joins (beyond the reference surface; exact DuckDB oracles)
# ===========================================================================
@query(
    "asof_join_events",
    """
    WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
               FROM events),
    p AS (SELECT event_id, user_id, ts, value FROM e WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, value FROM e WHERE event_type = 'click')
    SELECT p.user_id, p.event_id, p.ts, round(p.value, 6) AS value,
           c.ts AS ts_r, round(c.value, 6) AS value_r
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase gets the latest click of the
    same user at or before it (union-marker + keyed window — one
    shuffle, no range explosion). Oracle: DuckDB ASOF LEFT JOIN."""
    from etl_router_spark.functions.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 6).alias("value"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.round("value", 6).alias("value"))
    return asof_join(purchases, clicks, on="user_id", left_ts="ts").select(
        "user_id", "event_id", "ts", "value", "ts_r", "value_r"
    )


@query(
    "range_join_events",
    """
    WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
               FROM events),
    p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase' AND user_id < 50),
    x AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'error' AND user_id < 50)
    SELECT p.user_id, p.event_id, x.event_id AS event_id_r,
           epoch_us(x.ts) - epoch_us(p.ts) AS delta_us
    FROM p JOIN x ON p.user_id = x.user_id
                 AND x.ts >= p.ts AND x.ts <= p.ts + INTERVAL 86400 SECOND
    """,
)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join: errors within 24 hours after a purchase by
    the same user. Coarse-bucket equi-join + exact interval filter —
    hash-join machinery (shuffled, AQE-skew-splittable), never a
    nested-loop theta join."""
    from etl_router_spark.functions.joins import range_join

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") < 50)).select(
        "event_id", "user_id", "ts")
    x = ev.filter((F.col("event_type") == "error") & (F.col("user_id") < 50)).select(
        "event_id", "user_id", "ts")
    out = range_join(p, x, "ts", "ts", 0.0, 86400.0, on="user_id", bucket_sec=86400.0)
    return out.select(
        "user_id", "event_id",
        F.col("event_id_r"),
        (F.unix_micros("ts_r") - F.unix_micros("ts")).alias("delta_us"),
    )


# ===========================================================================
# term statistics / indexing / corpus ordering
# ===========================================================================
_TERMS_500 = (
    "SELECT doc_id AS id, unnest(string_split_regex(trim(text), '\\s+')) AS term "
    "FROM documents WHERE doc_id < 500"
)


@query(
    "text_tfidf",
    f"""
    WITH terms AS ({_TERMS_500}),
    t AS (SELECT id, term, COUNT(*) AS tf FROM terms WHERE term <> '' GROUP BY id, term),
    d AS (SELECT term, COUNT(*) AS df_t FROM t GROUP BY term),
    n AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id < 500),
    s AS (SELECT id, t.term, tf, df_t, round(tf * ln(n / df_t), 6) AS tfidf
          FROM t JOIN d USING (term) CROSS JOIN n),
    r AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY tfidf DESC, term ASC) AS rank
          FROM s)
    SELECT id, term, CAST(tf AS BIGINT) AS tf, CAST(df_t AS BIGINT) AS df_t,
           tfidf, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 salient terms per document by TF-IDF (ranked on the
    ROUNDED score on both engines, term tie-break, so ordering is
    deterministic). Two map-side-combinable aggregations + a broadcast
    df join + per-doc window sorts."""
    from etl_router_spark.functions.indexing import tfidf_topk

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return tfidf_topk(docs, k=5)


@query(
    "text_heavy_hitters",
    """
    WITH terms AS (SELECT doc_id AS id,
                          unnest(string_split_regex(trim(text), '\\s+')) AS term
                   FROM documents),
    c AS (SELECT term, COUNT(*) AS n_occurrences, COUNT(DISTINCT id) AS n_docs
          FROM terms WHERE term <> '' GROUP BY term)
    SELECT term, CAST(n_occurrences AS BIGINT) AS n_occurrences,
           CAST(n_docs AS BIGINT) AS n_docs
    FROM c ORDER BY n_occurrences DESC, term ASC LIMIT 50
    """,
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 terms (vocabulary / stopword discovery):
    partial-aggregated term counts ending in a TakeOrdered heap — k
    rows cross the final stage, no global sort."""
    from etl_router_spark.functions.indexing import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    return heavy_hitters(docs, k=50)


@query(
    "corpus_inverted_index",
    f"""
    WITH terms AS ({_TERMS_500}),
    p AS (SELECT term, list_sort(list(DISTINCT id)) AS ids
          FROM terms WHERE term <> '' GROUP BY term)
    SELECT term, CAST(len(ids) AS BIGINT) AS df_t,
           array_to_string(ids[1:50], ',') AS doc_ids
    FROM p WHERE len(ids) BETWEEN 2 AND 450
    """,
)
def corpus_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """term -> sorted posting list (df-capped both sides — the same cap
    discipline as dedup shingles — and truncated to the first 50 ids,
    pinning the width bound). Posting lists serialized as comma-joined
    strings for the value compare."""
    from etl_router_spark.functions.indexing import inverted_index

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    out = inverted_index(docs, min_df=2, max_df=450, max_postings=50)
    return out.select(
        "term", "df_t",
        F.array_join(F.col("doc_ids").cast("array<string>"), ",").alias("doc_ids"),
    )


@query(
    "corpus_group_topk",
    """
    SELECT doc_id, source, n_chars, CAST(rank AS INT) AS rank FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rank
      FROM documents)
    WHERE rank <= 5
    """,
)
def corpus_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 largest documents per source (curated-mix selection):
    per-group window sorts after one hash shuffle on the group key —
    never a global ordering."""
    from etl_router_spark.functions.corpus import group_topk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return group_topk(docs, "source", "n_chars", k=5).select(
        "doc_id", "source", "n_chars", "rank"
    )


@query(
    "corpus_global_shuffle",
    """
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY md5('7|' || CAST(doc_id AS VARCHAR)), doc_id) - 1
                AS BIGINT) AS shuffle_pos
    FROM documents
    """,
)
def corpus_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded corpus permutation: contiguous shuffle_pos
    by hash order, computed as a distributed two-pass rank (range
    partition -> local row_number -> broadcast offsets) — no
    single-partition window anywhere."""
    from etl_router_spark.functions.corpus import global_shuffle

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return global_shuffle(docs, seed=7).select("doc_id", "shuffle_pos")


# ===========================================================================
# near-dup clustering + CDC apply + unigram LM scoring
# ===========================================================================
@query("dedup_cluster", None)  # oracle attached below (needs simhash pairs SQL)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: SimHash pairs -> connected components ->
    (doc_id, cluster_id) for every doc (singletons label themselves).
    Min-label propagation, one shuffle per round, rounds = component
    diameter (near-dup graphs are unions of near-cliques)."""
    from etl_router_spark.functions.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    pairs = simhash_pairs(docs, max_hamming=3, bits=32, blocks=4)
    return dedup_clusters(docs, pairs)


@query(
    "text_unigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_WORDS}) AS tok
      FROM documents WHERE doc_id < 500),
    freqs AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    total AS (SELECT count(*) AS t FROM toks),
    lm AS (SELECT tok, ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) AS logp
           FROM freqs, total)
    SELECT t.doc_id,
           count(*)                 AS n_tokens,
           round(avg(lm.logp), 6)  AS avg_logprob
    FROM toks t JOIN lm ON t.tok = lm.tok
    GROUP BY t.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per document under the corpus's own
    unigram LM — the classic cheap quality signal. Vocab never touches
    the driver; AQE broadcasts it when small."""
    from etl_router_spark.functions.text import unigram_logprob

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return unigram_logprob(docs).select("doc_id", "n_tokens", "avg_logprob")


@query(
    "text_bigram_logprob",
    f"""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
    toks AS (SELECT doc_id, unnest({_WORDS}) AS tok FROM docs),
    uni AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    stats AS (SELECT count(*) AS t, count(DISTINCT tok) AS v FROM toks),
    dp AS (
      SELECT doc_id, W[i] AS prev, W[i + 1] AS cur
      FROM (SELECT doc_id, {_WORDS} AS W FROM docs),
           LATERAL (SELECT unnest(range(1, len(W))) AS i)),
    bi AS (SELECT prev, cur, count(*) AS cb FROM dp GROUP BY prev, cur),
    scored AS (
      SELECT d.doc_id,
             ln({0.7!r} * (CAST(coalesce(b.cb, 0) AS DOUBLE) /
                           CAST(coalesce(u1.c, 1) AS DOUBLE))
                + (1.0 - {0.7!r}) * ((CAST(coalesce(u2.c, 0) AS DOUBLE) + {0.5!r}) /
                  (CAST(s.t AS DOUBLE) + {0.5!r} * (CAST(s.v AS DOUBLE) + 1.0)))) AS lp
      FROM dp d
      LEFT JOIN bi b ON b.prev = d.prev AND b.cur = d.cur
      LEFT JOIN uni u1 ON u1.tok = d.prev
      LEFT JOIN uni u2 ON u2.tok = d.cur
      CROSS JOIN stats s)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(lp), 6) AS avg_bigram_logprob
    FROM scored GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram LM scoring (CCNet-recipe first rung —
    unigrams are permutation-invariant, bigrams see fluency): the LM is
    estimated from the scored corpus itself, both count tables stay
    DataFrames (AQE broadcasts them when small), one id-keyed groupBy
    (``functions/text.py:bigram_logprob``). ``bigram_ppl`` is excluded
    from the gate (exp magnifies last-ulp FP differences across
    engines); its arithmetic is exp(-avg) of the hashed column,
    pytest-pinned."""
    from etl_router_spark.functions.text import bigram_logprob

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return (bigram_logprob(docs)
            .filter(F.col("n_bigrams").isNotNull())
            .select("doc_id", "n_bigrams", "avg_bigram_logprob"))


ORACLES["dedup_cluster"] = f"""
    WITH RECURSIVE pairs AS (
      {ORACLES["dedup_simhash_pairs"]}
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    labels AS (SELECT u AS id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u)
    SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
    FROM (SELECT doc_id FROM documents WHERE doc_id < 1000) d
    LEFT JOIN labels l ON l.id = d.doc_id
    """


@query("corpus_leakage_splits", None)  # oracle attached below
def corpus_leakage_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: SimHash near-dup pairs
    -> connected components -> the whole cluster hashes ONE group id
    into a split, so no near-duplicate pair ever straddles the
    train/eval boundary (per-doc hashing leaks ~2·p·(1-p) of every
    pair). Unpaired docs group as themselves — identical to plain
    ``assign_splits`` for the non-duplicated bulk of the corpus."""
    from etl_router_spark.functions.corpus import leakage_safe_splits

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    pairs = simhash_pairs(docs, max_hamming=3, bits=32, blocks=4)
    return leakage_safe_splits(
        docs.select("doc_id"), pairs,
        {"train": 0.8, "val": 0.1, "test": 0.1}, salt="42",
    ).select("doc_id", "split_group", "split")


ORACLES["corpus_leakage_splits"] = f"""
    WITH RECURSIVE pairs AS (
      {{simhash}}
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    labels AS (SELECT u AS id, least(u, min(v)) AS cluster_id
               FROM reach GROUP BY u),
    grp AS (
      SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS split_group
      FROM (SELECT doc_id FROM documents WHERE doc_id < 1000) d
      LEFT JOIN labels l ON l.id = d.doc_id)
    SELECT doc_id, split_group,
           CASE WHEN b < 800000 THEN 'train'
                WHEN b < 900000 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, split_group,
                 CAST('0x' || substr(md5('42|' || CAST(split_group AS VARCHAR)), 1, 15) AS BIGINT)
                   % 1000000 AS b
          FROM grp)
    """.replace("{simhash}", ORACLES["dedup_simhash_pairs"])


@query(
    "similarity_cosine_join",
    """
    SELECT a.vec_id AS id_left, b.vec_id AS id_right,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.vec_id < 300 AND b.vec_id >= 300 AND b.vec_id < 1500
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.3
    """,
)
def similarity_cosine_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-set exact cosine join (new batch vs existing corpus) via
    the distributed block-GEMM path: Bl*Br block-pair tasks, executor
    memory bounded by one block per side, no driver collect."""
    from etl_router_spark.functions.dedup import embedding_cosine_join

    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") < 300)
    corpus = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 1500))
    return embedding_cosine_join(
        batch, corpus, threshold=0.3, left_blocks=2, right_blocks=4
    )


@query(
    "text_tfidf_cosine",
    f"""
    WITH docs AS (SELECT * FROM documents WHERE doc_id < 300),
    terms AS (
      SELECT doc_id AS id, unnest({_WORDS}) AS term FROM docs),
    tf AS (
      SELECT id, term, count(*) AS tf FROM terms
      WHERE term <> '' GROUP BY id, term),
    n AS (SELECT count(*) AS n FROM docs),
    dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
    w AS (
      SELECT id, term,
             CAST(tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / df_t) AS w
      FROM tf JOIN dfreq USING (term), n
      WHERE df_t <= floor(n.n * 0.5)),
    norms AS (SELECT id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY id),
    dots AS (
      SELECT a.id AS id_a, b.id AS id_b, sum(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.term = b.term AND a.id < b.id
      GROUP BY a.id, b.id)
    SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots
    JOIN norms na ON na.id = id_a
    JOIN norms nb ON nb.id = id_b
    WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.2
    """,
)
def text_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-native similarity pairs: sparse TF-IDF cosine via the
    bucket-local posting join (no embeddings required); stop terms
    pruned by document-frequency cap before any pair is generated."""
    from etl_router_spark.functions.indexing import tfidf_cosine_pairs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return tfidf_cosine_pairs(docs, threshold=0.2)


def _minhash_lsh_join_oracle() -> str:
    bands_sql = """
      SELECT id, unnest([
        md5('0,' || CAST(mh_0 AS VARCHAR) || ',' || CAST(mh_1 AS VARCHAR)),
        md5('1,' || CAST(mh_2 AS VARCHAR) || ',' || CAST(mh_3 AS VARCHAR)),
        md5('2,' || CAST(mh_4 AS VARCHAR) || ',' || CAST(mh_5 AS VARCHAR)),
        md5('3,' || CAST(mh_6 AS VARCHAR) || ',' || CAST(mh_7 AS VARCHAR))
      ]) AS band_key FROM {side}"""
    agree = " + ".join(f"(sl.mh_{i} = sr.mh_{i})::INT" for i in range(8))
    return f"""
    WITH sig_l AS ({_minhash_sig_oracle(8, "doc_id < 250")}),
    sig_r AS ({_minhash_sig_oracle(8, "doc_id >= 250 AND doc_id < 500")}),
    band_l AS ({bands_sql.format(side="sig_l")}),
    band_r AS ({bands_sql.format(side="sig_r")}),
    cand AS (
      SELECT DISTINCT l.id AS id_left, r.id AS id_right
      FROM band_l l JOIN band_r r ON l.band_key = r.band_key),
    est AS (
      SELECT c.id_left, c.id_right, ({agree}) / 8.0 AS est_jaccard
      FROM cand c
      JOIN sig_l sl ON sl.id = c.id_left
      JOIN sig_r sr ON sr.id = c.id_right)
    SELECT id_left, id_right, est_jaccard FROM est WHERE est_jaccard >= 0.5
    """


@query("dedup_minhash_join", None)
def dedup_minhash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental text dedup: new batch (doc_id < 250) LSH-joined
    against the existing corpus (250 <= doc_id < 500) — per-bucket
    candidates only, never a cross product."""
    from etl_router_spark.functions.dedup import minhash_lsh_join

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") < 250)
    seen = docs.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 500))
    return minhash_lsh_join(new, seen, num_hashes=8, bands=4, threshold=0.5)


ORACLES["dedup_minhash_join"] = _minhash_lsh_join_oracle()


@query("dedup_canonical", None)  # oracle below reuses the closure CTE
def dedup_canonical_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicated corpus: one representative doc per SimHash near-dup
    cluster, full rows preserved."""
    from etl_router_spark.functions.dedup import dedup_canonical

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    pairs = simhash_pairs(docs, max_hamming=3, bits=32, blocks=4)
    return dedup_canonical(docs, pairs).select("doc_id", "source", "n_chars")


ORACLES["dedup_canonical"] = f"""
    WITH RECURSIVE pairs AS (
      {ORACLES["dedup_simhash_pairs"]}
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    labels AS (SELECT u AS id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u)
    SELECT d.doc_id, d.source, d.n_chars
    FROM (SELECT * FROM documents WHERE doc_id < 1000) d
    LEFT JOIN labels l ON l.id = d.doc_id
    WHERE COALESCE(l.cluster_id, d.doc_id) = d.doc_id
    """


# ===========================================================================
# cross-document line-level dedup (CCNet / RefinedWeb boilerplate pass)
# ===========================================================================
@query(
    "corpus_line_dedup",
    r"""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 800),
    words AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM docs),
    lines0 AS (
      SELECT doc_id AS id,
             list_transform(range(1, greatest(CAST(ceil(len(w)/8.0) AS BIGINT),1)+1),
                            i -> array_to_string(w[(i-1)*8+1:(i-1)*8+8], ' ')) AS ls
      FROM words),
    lines AS (SELECT id, unnest(range(len(ls))) AS line_no, unnest(ls) AS line FROM lines0),
    keyed AS (
      SELECT id, line_no, line,
             CAST('0x' || substr(md5(lower(regexp_replace(trim(line), '\s+', ' ', 'g'))),1,15) AS BIGINT) AS k
      FROM lines WHERE trim(line) != ''),
    win AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY id, line_no) AS rn FROM keyed),
    kept AS (SELECT * FROM win WHERE rn = 1),
    reasm AS (SELECT id, count(*) AS n_lines_kept,
                     string_agg(line, chr(10) ORDER BY line_no) AS text_deduped
              FROM kept GROUP BY id),
    tot AS (SELECT id, count(*) AS n_lines FROM keyed GROUP BY id)
    SELECT d.doc_id, coalesce(t.n_lines, 0) AS n_lines,
           coalesce(r.n_lines_kept, 0) AS n_lines_kept,
           coalesce(r.text_deduped, '') AS text_deduped
    FROM docs d
    LEFT JOIN tot t ON t.id = d.doc_id
    LEFT JOIN reasm r ON r.id = d.doc_id
    """,
)
def corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line dedup: every normalized line survives only
    at its first global occurrence (ordered by doc_id, line_no) and is
    stripped everywhere else — the CCNet/RefinedWeb boilerplate-removal
    pass. The fixture corpus has no newlines, so the gate segments
    fixed 8-token lines (the operator's fallback segmenter); the
    delimiter segmenter is pytest-covered. Winner selection shuffles
    only (hash, id, line_no) with map-side combine — hot boilerplate
    lines never concentrate a task."""
    from etl_router_spark.functions.corpus import line_dedup

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 800)
    out = line_dedup(docs, tokens_per_line=8)
    return out.select("doc_id", "n_lines", "n_lines_kept", "text_deduped")


# ===========================================================================
# embedding preprocessing: L2 normalize + symmetric int8 quantization
# ===========================================================================
# Serialization: elements are fixed-pointed with floor(x * 10^k) — the
# engine-portable alternative to round(), whose halfway rule differs
# between Spark (half-up) and DuckDB. The doubles being floored are
# IEEE-identical on both sides (same cast + same sequential fold), so
# the comparison is exact, not tolerance-based.
@query(
    "embedding_normalize",
    """
    WITH t AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v,
                 sqrt(list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b)) AS nrm
          FROM t)
    SELECT vec_id, CAST(floor(nrm*1000000) AS BIGINT) AS norm_e6,
           array_to_string(list_transform(v,
             x -> CAST(CAST(floor(x/nrm*1000000) AS BIGINT) AS VARCHAR)), ',') AS unit_e6
    FROM n
    """,
)
def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization of the embedding column (cosine == dot product
    afterwards — the precondition for the GEMM similarity kernels).
    Pure per-row higher-order-function map, no shuffle, no Python."""
    from etl_router_spark.functions.embedding import l2_normalize

    emb = load_table(spark, sf_dir, "embeddings")
    return l2_normalize(emb).select(
        "vec_id",
        F.floor(F.col("l2_norm") * 1e6).cast("bigint").alias("norm_e6"),
        F.concat_ws(",", F.transform("embedding_norm",
            lambda v: F.floor(v * 1e6).cast("bigint").cast("string"))).alias("unit_e6"),
    )


@query(
    "embedding_quantize",
    """
    WITH t AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    m AS (SELECT vec_id, v,
                 list_reduce(list_transform(v, x -> abs(x)), (a,b) -> greatest(a,b)) / 127.0 AS s
          FROM t)
    SELECT vec_id, CAST(floor(s*1000000000) AS BIGINT) AS scale_e9,
           array_to_string(list_transform(v,
             x -> CAST(CAST(floor(x/s + 0.5) AS INTEGER) AS VARCHAR)), ',') AS q
    FROM m
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = max|x|/127,
    round-half-up) — 4x smaller vectors for storage/shuffle. The int
    codes are engine-exact; dequantization error <= scale/2 is
    pytest-pinned."""
    from etl_router_spark.functions.embedding import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_int8(emb).select(
        "vec_id",
        F.floor(F.col("q_scale") * 1e9).cast("bigint").alias("scale_e9"),
        F.concat_ws(",", F.transform("q_embedding", lambda v: v.cast("string"))).alias("q"),
    )


# ---------------------------------------------------------------------------
# product quantization (functions/pq.py): pinned md5-derived codebooks so
# the DuckDB twin regenerates bit-identical constants (the _hyperplane /
# pinned-PCA-components precedent); training itself is invariant-verified
# in tests/test_pq.py
# ---------------------------------------------------------------------------
_PQ_M, _PQ_K = 4, 8


def _pq_books():
    from etl_router_spark.functions.pq import deterministic_codebooks

    return deterministic_codebooks(64, m=_PQ_M, k=_PQ_K)


def _pq_sqdist_duck(vec_sql: str, a: int, b: int, centroid: list[float]) -> str:
    arr = "[" + ", ".join(f"{x!r}" for x in centroid) + "]::DOUBLE[]"
    return (f"round(list_sum(list_transform(list_zip({vec_sql}[{a}:{b}], {arr}), "
            f"u -> (u[1]-u[2])*(u[1]-u[2]))), 6)")


def _pq_code_duck(vec_sql: str, books) -> str:
    sub = len(books[0][0])
    codes = []
    for i, book in enumerate(books):
        a, b = i * sub + 1, (i + 1) * sub
        d = "[" + ", ".join(_pq_sqdist_duck(vec_sql, a, b, c) for c in book) + "]"
        codes.append(f"CAST(list_position({d}, list_min({d})) - 1 AS INTEGER)")
    return "[" + ", ".join(codes) + "]"


def _pq_lut_duck(vec_sql: str, books) -> str:
    sub = len(books[0][0])
    cells = []
    for i, book in enumerate(books):
        a, b = i * sub + 1, (i + 1) * sub
        cells.extend(_pq_sqdist_duck(vec_sql, a, b, c) for c in book)
    return "[" + ", ".join(cells) + "]"


def _pq_encode_oracle() -> str:
    books = _pq_books()
    return f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings)
    SELECT vec_id,
           array_to_string(list_transform({_pq_code_duck('v', books)},
             x -> CAST(x AS VARCHAR)), ',') AS pq_code
    FROM v
    """


def _pq_adc_oracle(n_queries: int, k: int) -> str:
    books = _pq_books()
    score = " + ".join(
        f"q.lut[{i * _PQ_K} + e.code[{i + 1}] + 1]" for i in range(_PQ_M))
    return f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    enc AS (SELECT vec_id, {_pq_code_duck('v', books)} AS code FROM v),
    q AS (SELECT vec_id AS query_id, {_pq_lut_duck('v', books)} AS lut
          FROM v WHERE vec_id < {n_queries}),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round({score}, 6) AS adc_dist
      FROM q JOIN enc e ON e.vec_id <> q.query_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY adc_dist, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, rank, adc_dist FROM ranked WHERE rank <= {k}
    """


@query("embedding_pq_encode", None)  # oracle attached below (generated)
def embedding_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-encode the embeddings table with pinned codebooks (m=4, k=8):
    64 floats (256 B) -> 4 codebook indexes. Assignment is a pure
    map-side column expression over literal centroids — no shuffle, no
    Python, whole-stage codegen (``functions/pq.py:pq_encode``)."""
    from etl_router_spark.functions.pq import pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    out = pq_encode(emb, _pq_books())
    return out.select(
        "vec_id",
        F.concat_ws(",", F.transform("pq_code",
            lambda x: x.cast("string"))).alias("pq_code"),
    )


@query("embedding_pq_adc_topk", None)  # oracle attached below (generated)
def embedding_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance PQ top-5 for 10 queries: each query builds
    its m*k look-up table in-plan and broadcasts; the corpus side joins
    carrying only (id, 4-int code) and scoring is 4 array lookups per
    pair (``functions/pq.py:pq_adc_topk``). The numpy twin
    (method="blas", batch-local top-k) is equality-tested against this
    path in tests/test_pq.py; recall vs exact L2 is measured there with
    TRAINED codebooks."""
    from etl_router_spark.functions.pq import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb.filter(F.col("vec_id") < 10), emb,
                       _pq_books(), k=5, method="sql")


def _ivfpq_oracle(n_centroids: int, nprobe: int, n_queries: int, k: int) -> str:
    books = _pq_books()
    full_dist = ("round(list_sum(list_transform(list_zip(x.v, ct.cv), "
                 "u -> (u[1]-u[2])*(u[1]-u[2]))), 6)")
    score = " + ".join(
        f"q.lut[{i * _PQ_K} + e.code[{i + 1}] + 1]" for i in range(_PQ_M))
    return f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < {n_centroids}),
    assign AS (SELECT vec_id AS neighbor_id, cid FROM (
        SELECT x.vec_id, ct.cid,
               row_number() OVER (PARTITION BY x.vec_id
                   ORDER BY {full_dist}, ct.cid) AS rn
        FROM v x CROSS JOIN cent ct) t WHERE rn = 1),
    enc AS (SELECT vec_id, {_pq_code_duck('v', books)} AS code FROM v),
    probe AS (SELECT vec_id AS query_id, cid FROM (
        SELECT x.vec_id, ct.cid,
               row_number() OVER (PARTITION BY x.vec_id
                   ORDER BY {full_dist}, ct.cid) AS rn
        FROM v x CROSS JOIN cent ct WHERE x.vec_id < {n_queries}) t
        WHERE rn <= {nprobe}),
    q AS (SELECT vec_id AS query_id, {_pq_lut_duck('v', books)} AS lut
          FROM v WHERE vec_id < {n_queries}),
    cand AS (SELECT p.query_id, a.neighbor_id
             FROM probe p JOIN assign a USING (cid)
             WHERE a.neighbor_id <> p.query_id),
    scored AS (SELECT c.query_id, c.neighbor_id, round({score}, 6) AS adc_dist
               FROM cand c JOIN q USING (query_id)
               JOIN enc e ON e.vec_id = c.neighbor_id),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_dist, neighbor_id) AS rank FROM scored)
    SELECT query_id, neighbor_id, rank, adc_dist FROM ranked WHERE rank <= {k}
    """


@query("embedding_ivfpq_topk", None)  # oracle attached below (generated)
def embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 for 10 queries (8 cells, nprobe=2, pinned m=4/k=8
    codebooks): coarse cells prune candidates via a map-side literal
    assignment + centroid-id equi-join, PQ ADC ranks only the probed
    cells' members (``functions/pq.py:ivfpq_topk``) — the FAISS IVFPQ
    composition with zero corpus shuffle for candidate generation and
    m-byte codes on the scoring join."""
    from etl_router_spark.functions.pq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(emb.filter(F.col("vec_id") < 10), emb, _pq_books(),
                      k=5, nprobe=2, n_centroids=8)


def _ivfpq_rerank_oracle(n_centroids: int, nprobe: int, n_queries: int,
                         k: int, shortlist: int) -> str:
    """Stage 1 is the ivfpq oracle widened to ``shortlist``; stage 2
    re-ranks those candidates by exact squared L2 — same 6-dp rounding
    and lowest-id tie rule as the Spark side."""
    inner = _ivfpq_oracle(n_centroids, nprobe, n_queries, shortlist)
    return f"""
    WITH v2 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
    short AS (SELECT query_id, neighbor_id FROM ({inner}) s),
    rer AS (SELECT s.query_id, s.neighbor_id,
                   round(list_sum(list_transform(list_zip(q.v, n.v),
                         u -> (u[1]-u[2])*(u[1]-u[2]))), 6) AS exact_dist
            FROM short s JOIN v2 q ON q.vec_id = s.query_id
                         JOIN v2 n ON n.vec_id = s.neighbor_id),
    rranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY exact_dist, neighbor_id) AS rank FROM rer)
    SELECT query_id, neighbor_id, rank, exact_dist FROM rranked WHERE rank <= {k}
    """


@query("embedding_ivfpq_rerank_topk", None)  # oracle attached below (generated)
def embedding_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN (IVF-PQ shortlist -> exact re-rank, the FAISS
    search+refine / ScaNN reordering recipe): stage 1 prunes to the top
    20 ADC candidates per query, stage 2 broadcast-fetches only those
    candidates' full vectors (no corpus shuffle) and re-ranks by exact
    L2 (``functions/pq.py:ivfpq_rerank_topk``). This is the documented
    way to raise the PQ recall ceiling that nprobe cannot move."""
    from etl_router_spark.functions.pq import ivfpq_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_rerank_topk(emb.filter(F.col("vec_id") < 10), emb,
                             _pq_books(), k=5, shortlist=20, nprobe=2,
                             n_centroids=8)


@query("embedding_ivfpq_index_topk", None)  # oracle attached below (generated)
def embedding_ivfpq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ over a PERSISTED index (``functions/pq.py:pq_index`` —
    the FAISS on-disk-index shape): (id, cid, code) written once
    partitioned by cell, every query served from the code table with
    no re-encoding and a 64x smaller scan than raw vectors. Must equal
    the direct ``embedding_ivfpq_topk`` bit-for-bit (same oracle) —
    the index is pure precomputation."""
    import tempfile

    from etl_router_spark.functions.pq import (
        ivfpq_topk,
        pq_index,
        standin_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = standin_centroids(emb, "vec_id", "embedding", 8)
    idx_path = tempfile.mkdtemp(prefix="etl_pq_index_") + "/index"
    pq_index(emb, _pq_books(), cents).write.partitionBy("cid").parquet(idx_path)
    return ivfpq_topk(emb.filter(F.col("vec_id") < 10), emb, _pq_books(),
                      k=5, nprobe=2, centroids=cents,
                      corpus_index=spark.read.parquet(idx_path))


def _quality_classifier_oracle() -> str:
    from etl_router_spark.functions.classifier import deterministic_weights

    ws, bias = deterministic_weights(64)
    w_list = "[" + ", ".join(f"{w!r}" for w in ws) + "]::DOUBLE[]"
    bucket = f"CAST({_h60_sql('tk')} % 64 AS INT)"
    return f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x != '') AS toks
      FROM documents),
    s AS (
      SELECT doc_id,
             round(1.0 / (1.0 + exp(-((CASE WHEN len(toks) > 0 THEN
               list_sum(list_transform(toks,
                 tk -> ({w_list})[{bucket} + 1])) / len(toks)
               ELSE 0.0 END) + {bias!r}))), 6) AS quality_score
      FROM t)
    SELECT doc_id, quality_score,
           CAST(quality_score >= 0.5 AS INT) AS quality_label
    FROM s
    """


@query("text_quality_classifier", None)  # oracle attached below (generated)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (fastText recipe) with pinned
    md5-derived weights over hashed-BOW features: one token pass per
    row, weights as a literal array, fully map-side
    (``functions/classifier.py``). Training is pytest-verified
    (tests/test_classifier.py: separates labeled corpora at >=95%
    accuracy); the gate value-checks the apply mechanics the way the
    PCA/PQ gates pin their trained artifacts."""
    from etl_router_spark.functions.classifier import (
        deterministic_weights,
        quality_classifier_apply,
    )

    ws, bias = deterministic_weights(64)
    docs = load_table(spark, sf_dir, "documents")
    return quality_classifier_apply(docs, ws, bias).select(
        "doc_id", "quality_score", "quality_label")


ORACLES["embedding_pq_encode"] = _pq_encode_oracle()
ORACLES["embedding_pq_adc_topk"] = _pq_adc_oracle(n_queries=10, k=5)
ORACLES["embedding_ivfpq_topk"] = _ivfpq_oracle(
    n_centroids=8, nprobe=2, n_queries=10, k=5)
ORACLES["embedding_ivfpq_rerank_topk"] = _ivfpq_rerank_oracle(
    n_centroids=8, nprobe=2, n_queries=10, k=5, shortlist=20)
# the persisted-index probe is pure precomputation: same oracle as direct
ORACLES["embedding_ivfpq_index_topk"] = _ivfpq_oracle(
    n_centroids=8, nprobe=2, n_queries=10, k=5)
ORACLES["text_quality_classifier"] = _quality_classifier_oracle()


@query(
    "asof_join_forward",
    """
    WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
               FROM events),
    p AS (SELECT event_id, user_id, ts, value FROM e WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, value FROM e WHERE event_type = 'click')
    SELECT p.user_id, p.event_id, p.ts, round(p.value, 6) AS value,
           c.ts AS ts_r, round(c.value, 6) AS value_r
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts
    """,
)
def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each purchase gets the EARLIEST click of the
    same user at or after it (mirrored union-marker window — still one
    keyed shuffle). Oracle: DuckDB ASOF LEFT JOIN with the inequality
    flipped."""
    from etl_router_spark.functions.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 6).alias("value"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.round("value", 6).alias("value"))
    return asof_join(purchases, clicks, on="user_id", left_ts="ts",
                     direction="forward").select(
        "user_id", "event_id", "ts", "value", "ts_r", "value_r"
    )


@query(
    "asof_join_nearest",
    """
    WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
               FROM events),
    p AS (SELECT event_id, user_id, ts, value FROM e WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, value FROM e WHERE event_type = 'click'),
    b AS (SELECT p.event_id, c.ts AS bts, c.value AS bval
          FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts),
    f AS (SELECT p.event_id, c.ts AS fts, c.value AS fval
          FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts)
    SELECT p.user_id, p.event_id, p.ts, round(p.value, 6) AS value,
           CASE WHEN bts IS NULL THEN fts WHEN fts IS NULL THEN bts
                WHEN epoch_us(p.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(p.ts)
                THEN bts ELSE fts END AS ts_r,
           round(CASE WHEN bts IS NULL THEN fval WHEN fts IS NULL THEN bval
                      WHEN epoch_us(p.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(p.ts)
                      THEN bval ELSE fval END, 6) AS value_r
    FROM p JOIN b ON b.event_id = p.event_id
           JOIN f ON f.event_id = p.event_id
    """,
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: the click closest in time to each purchase,
    ties resolved backward. Both directional matches come from the SAME
    single keyed shuffle (two window passes over one union)."""
    from etl_router_spark.functions.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 6).alias("value"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.round("value", 6).alias("value"))
    return asof_join(purchases, clicks, on="user_id", left_ts="ts",
                     direction="nearest").select(
        "user_id", "event_id", "ts", "value", "ts_r", "value_r"
    )


@query("dedup_incremental_batches", None)  # oracle attached below
def dedup_incremental_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four id-ordered ingest batches deduped INCREMENTALLY against a
    growing parquet signature table (the nightly-pipeline shape: only
    the new batch is ever re-shingled; prior batches contribute stored
    signatures via ``right_signatures``). A new document is dropped
    when it LSH-matches (est Jaccard >= 0.5) any smaller-id document —
    in an earlier batch (cross-set join against the table) or its own
    (within-batch pairs). Dropped documents still append their
    signatures, so they keep blocking later near-dups.

    The oracle is the GLOBAL one-shot formulation (every a<b pair over
    the whole corpus), so the gate pins the invariant that incremental
    processing over any id-ordered batching equals the global result.
    Every per-batch step is a bounded bucket join — the corpus text is
    read once per batch, never re-scanned."""
    import tempfile

    from etl_router_spark.functions.dedup import (
        minhash_lsh_join,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    wd = tempfile.mkdtemp(prefix="etl_incdedup_")
    sig_paths: list[str] = []
    dropped_dir = f"{wd}/dropped"
    first = True
    for i, (lo, hi) in enumerate([(0, 200), (200, 400), (400, 600), (600, 800)]):
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        sig_path = f"{wd}/sigs/batch_{i}"
        minhash_signatures(batch, num_hashes=8).write.parquet(sig_path)
        sig_b = spark.read.parquet(sig_path)

        within = (
            minhash_lsh_pairs(batch, num_hashes=8, bands=4, threshold=0.5)
            .select(F.col("id_b").alias("doc_id"))
        )
        if sig_paths:
            prior = spark.read.parquet(*sig_paths)
            cross = (
                minhash_lsh_join(batch, batch, num_hashes=8, bands=4, threshold=0.5,
                                 left_signatures=sig_b, right_signatures=prior)
                .select(F.col("id_left").alias("doc_id"))
            )
            dropped = within.unionByName(cross)
        else:
            dropped = within
        dropped.distinct().write.mode("overwrite" if first else "append").parquet(dropped_dir)
        first = False
        sig_paths.append(sig_path)

    dropped_all = spark.read.parquet(dropped_dir)
    return (
        docs.filter(F.col("doc_id") < 800)
        .join(dropped_all, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
    )


def _incremental_dedup_oracle() -> str:
    bands_sql = """
      SELECT id, unnest([
        md5('0,' || CAST(mh_0 AS VARCHAR) || ',' || CAST(mh_1 AS VARCHAR)),
        md5('1,' || CAST(mh_2 AS VARCHAR) || ',' || CAST(mh_3 AS VARCHAR)),
        md5('2,' || CAST(mh_4 AS VARCHAR) || ',' || CAST(mh_5 AS VARCHAR)),
        md5('3,' || CAST(mh_6 AS VARCHAR) || ',' || CAST(mh_7 AS VARCHAR))
      ]) AS band_key FROM sig"""
    agree = " + ".join(f"(sa.mh_{i} = sb.mh_{i})::INT" for i in range(8))
    return f"""
    WITH sig AS ({_minhash_sig_oracle(8, "doc_id < 800")}),
    banded AS ({bands_sql}),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.id < b.id),
    est AS (
      SELECT c.id_a, c.id_b, ({agree}) / 8.0 AS j
      FROM cand c JOIN sig sa ON sa.id = c.id_a JOIN sig sb ON sb.id = c.id_b),
    dropped AS (SELECT DISTINCT id_b FROM est WHERE j >= 0.5)
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id < 800
      AND d.doc_id NOT IN (SELECT id_b FROM dropped)
    """


ORACLES["dedup_incremental_batches"] = _incremental_dedup_oracle()


@query(
    "text_normalize",
    r"""
    SELECT doc_id,
           trim(regexp_replace(
                regexp_replace(lower(text), '[^a-z0-9 \t\n\r]', ' ', 'g'),
                '\s+', ' ', 'g')) AS text_norm
    FROM documents WHERE doc_id < 600
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical normalization (lower -> strip non-alphanumeric ->
    collapse whitespace) — the pass before any hash-based dedup. Pure
    per-row expressions, zero shuffle."""
    from etl_router_spark.functions.text import normalize_text

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 600)
    return normalize_text(docs, strip_non_alnum=True).select("doc_id", "text_norm")


def _embedding_lsh_pairs_oracle(planes: int, tables: int, dim: int, threshold: float) -> str:
    key_parts = []
    for t in range(tables):
        bits = []
        for p in range(planes):
            h = _hyperplane(dim, t * planes + p)
            arr = "[" + ", ".join(f"{x!r}" for x in h) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product(v, {arr}::DOUBLE[]) > 0 THEN {2 ** p} ELSE 0 END)"
            )
        key_parts.append(f"'{t}:' || CAST(({' + '.join(bits)}) AS VARCHAR)")
    keys = "[" + ", ".join(key_parts) + "]"
    return f"""
    WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    keyed AS (SELECT vec_id, v, unnest({keys}) AS bucket FROM vecs),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM keyed a JOIN keyed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
    scored AS (
      SELECT cand.id_a, cand.id_b,
             round(list_cosine_similarity(va.v, vb.v), 6) AS cosine
      FROM cand
      JOIN vecs va ON va.vec_id = cand.id_a
      JOIN vecs vb ON vb.vec_id = cand.id_b)
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {threshold}
    """


@query("dedup_embedding_lsh", None)  # oracle attached below
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs through hyperplane-LSH buckets (3
    planes x 4 tables) + exact cosine filter — the scale path past
    all-blocks GEMM: only bucket-sharing vectors are ever compared."""
    from etl_router_spark.functions.dedup import embedding_lsh_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_lsh_pairs(emb, dim=64, threshold=0.38, planes=3, tables=4)


ORACLES["dedup_embedding_lsh"] = _embedding_lsh_pairs_oracle(
    planes=3, tables=4, dim=64, threshold=0.38
)


@query(
    "corpus_mix_target",
    """
    WITH w(source, __w) AS (
      VALUES ('src13', CAST(0.4 AS DOUBLE)), ('src8', CAST(0.3 AS DOUBLE)),
             ('src7',  CAST(0.2 AS DOUBLE)), ('src18', CAST(0.1 AS DOUBLE))),
    n AS (SELECT source, CAST(sum(n_chars) AS DOUBLE) AS __n
          FROM documents GROUP BY source),
    s AS (SELECT min(__n / __w) AS __scale FROM n JOIN w USING (source)),
    r AS (SELECT w.source, w.__w * s.__scale / n.__n AS __rate
          FROM n JOIN w USING (source) CROSS JOIN s)
    SELECT d.doc_id, d.source,
           CAST(floor(r.__rate * CAST(1000000000 AS DOUBLE)) AS BIGINT) AS mix_rate_ppb
    FROM documents d JOIN r ON d.source = r.source
    WHERE CAST('0x' || substr(md5('mix2|' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
          % 1000000
          < r.__rate * CAST(1000000 AS DOUBLE)
    """,
)
def corpus_mix_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mixture sampling (`mix_sample`): keep the largest
    sub-corpus whose char-weighted domain shares hit 4:3:2:1 across
    four sources. rate_d = w_d * min_d(n_d/w_d) / n_d, selection by the
    engine-portable h60 bucket — the binding domain keeps 100%, every
    arithmetic step is bitwise-mirrored by the oracle (ppb floor, no
    rounding-mode dependence). Plan: per-domain sum shuffle + broadcast
    rates + map-side filter; the corpus never shuffles."""
    from etl_router_spark.functions.corpus import mix_sample

    docs = load_table(spark, sf_dir, "documents")
    out = mix_sample(
        docs,
        {"src13": 0.4, "src8": 0.3, "src7": 0.2, "src18": 0.1},
        domain_col="source", key_col="doc_id", salt="mix2",
        size_col="n_chars", rate_col="__r",
    )
    return out.select(
        "doc_id", "source",
        F.floor(F.col("__r") * F.lit(1_000_000_000.0)).cast("bigint").alias("mix_rate_ppb"),
    )


@query(
    "corpus_mix_temperature",
    """
    WITH n AS (SELECT source, CAST(sum(n_chars) AS DOUBLE) AS __n
               FROM documents GROUP BY source),
    w AS (SELECT source, __n, round(pow(__n, CAST(0.5 AS DOUBLE)), 6) AS __w
          FROM n),
    s AS (SELECT min(__n / __w) AS __scale FROM w),
    r AS (SELECT w.source, w.__w * s.__scale / w.__n AS __rate
          FROM w CROSS JOIN s)
    SELECT d.doc_id, d.source,
           CAST(floor(r.__rate * CAST(1000000000 AS DOUBLE)) AS BIGINT) AS mix_rate_ppb
    FROM documents d JOIN r ON d.source = r.source
    WHERE CAST('0x' || substr(md5('temp1|' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
          % 1000000
          < r.__rate * CAST(1000000 AS DOUBLE)
    """,
)
def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-derived mixture (`mix_sample(temperature=0.5)`):
    target weights w_d ∝ n_d^0.5 computed from the per-domain
    char counts themselves — the multilingual/multi-corpus
    temperature-sampling rule (flattens head domains, alpha=0 would be
    uniform). pow() is rounded to 6 dp in the tiny domain frame so the
    oracle mirrors it across engines; every other arithmetic step is
    the bitwise-mirrored mix_sample chain. Plan unchanged: per-domain
    sum shuffle + broadcast rates + map-side filter; the corpus never
    shuffles and the driver sees nothing."""
    from etl_router_spark.functions.corpus import mix_sample

    docs = load_table(spark, sf_dir, "documents")
    out = mix_sample(
        docs, temperature=0.5,
        domain_col="source", key_col="doc_id", salt="temp1",
        size_col="n_chars", rate_col="__r",
    )
    return out.select(
        "doc_id", "source",
        F.floor(F.col("__r") * F.lit(1_000_000_000.0)).cast("bigint").alias("mix_rate_ppb"),
    )


@query(
    "corpus_epoch_upsample",
    """
    WITH w(source, __w) AS (
      VALUES ('src3', CAST(5.0 AS DOUBLE)), ('src5', CAST(1.0 AS DOUBLE)),
             ('src11', CAST(2.0 AS DOUBLE))),
    n AS (SELECT source, CAST(sum(n_chars) AS DOUBLE) AS __n
          FROM documents GROUP BY source),
    e AS (SELECT w.source,
                 round(least(CAST(2.5 AS DOUBLE),
                             w.__w / 8.0 * CAST(40000 AS DOUBLE) / n.__n),
                       6) AS __epochs
          FROM n JOIN w USING (source)),
    r AS (SELECT d.doc_id, d.source,
                 CAST(floor(e.__epochs) AS INT)
                 + CASE WHEN CAST('0x' || substr(md5('ep9|' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                             % 1000000
                        < (e.__epochs - floor(e.__epochs)) * CAST(1000000 AS DOUBLE)
                        THEN 1 ELSE 0 END AS __r
          FROM documents d JOIN e ON d.source = e.source)
    SELECT doc_id, source, CAST(epoch AS INT) AS epoch
    FROM (SELECT doc_id, source,
                 unnest(generate_series(1, __r)) AS epoch
          FROM r WHERE __r >= 1)
    """,
)
def corpus_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-aware upsampling to a token budget (`epoch_upsample`) —
    mix_sample's complement: three weighted domains share a 40k-char
    budget (at sf0.01: src3 caps at 2.5 epochs, src11 lands at ~1.19,
    src5 at ~0.69 — all three regimes), epochs_d = min(2.5, share/size) per domain, every doc
    repeats floor(epochs) times plus one more for the deterministic
    h60 fraction covering the remainder. The value-hash pins the exact
    multiset of (doc, epoch) copies, i.e. both the cap and the
    fractional-epoch selection."""
    from etl_router_spark.functions.corpus import epoch_upsample

    docs = load_table(spark, sf_dir, "documents")
    return epoch_upsample(
        docs, {"src3": 5.0, "src5": 1.0, "src11": 2.0},
        token_budget=40_000, size_col="n_chars",
        max_epochs=2.5, salt="ep9",
    ).select("doc_id", "source", "epoch")


@query(
    "profile_sketch_distinct",
    f"""
    WITH toks AS (
      SELECT source, unnest({_WORDS}) AS tok FROM documents),
    agg AS (SELECT source, count(*) AS n_rows,
                   count(DISTINCT tok) AS exact_distinct
            FROM toks GROUP BY source)
    SELECT source, n_rows, exact_distinct, TRUE AS sketch_ok FROM agg
    """,
)
def profile_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL statistics (`sketch_profile`), oracled as a
    PROPERTY gate: the corpus splits into two halves, each half is
    sketch-profiled independently, the halves fold with
    `merge_sketch_profiles` (the nightly incremental shape), and
    ``sketch_ok`` asserts the merged estimate lands within 5% of the
    exact per-source distinct-token count. The oracle pins sketch_ok
    to TRUE for every source plus the exact counts — DuckDB cannot
    reproduce DataSketches binaries, but it CAN pin the accuracy
    contract those binaries must satisfy."""
    from etl_router_spark.functions.profile import (
        estimate_sketch_profile,
        merge_sketch_profiles,
        sketch_profile,
    )
    from etl_router_spark.functions.text import tokens_sql

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.selectExpr(
        "doc_id", "source", f"explode({tokens_sql('text')}) AS tok")
    halves = [toks.filter(f"doc_id % 2 = {i}") for i in (0, 1)]
    merged = merge_sketch_profiles(
        sketch_profile(halves[0], "source", ["tok"], lg_k=12),
        sketch_profile(halves[1], "source", ["tok"], lg_k=12),
        "source")
    est = estimate_sketch_profile(merged)
    exact = toks.groupBy("source").agg(
        F.count("*").alias("n_exact"),
        F.countDistinct("tok").alias("exact_distinct"))
    return (
        est.join(exact, "source")
        .select(
            "source",
            F.col("n_rows").alias("n_rows"),
            "exact_distinct",
            (F.abs(F.col("tok_distinct") - F.col("exact_distinct"))
             <= 0.05 * F.col("exact_distinct")).alias("sketch_ok"),
        )
    )


@query(
    "corpus_snapshot_diff",
    f"""
    WITH old AS (
      SELECT doc_id,
             {_h60_sql("coalesce(source, chr(0)) || chr(31) || coalesce(text, chr(0))")} AS old_digest
      FROM documents WHERE doc_id < 700),
    new AS (
      SELECT doc_id,
             {_h60_sql("coalesce(source, chr(0)) || chr(31) || coalesce(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END, chr(0))")} AS new_digest
      FROM documents WHERE doc_id >= 100 AND doc_id < 900)
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.old_digest = n.new_digest THEN 'unchanged'
                ELSE 'changed' END AS status,
           o.old_digest, n.new_digest
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version diff (`snapshot_diff`): old = docs < 700, new =
    docs 100-899 with every 7th text edited — exercising all four
    statuses (removed < 100, added >= 700, changed %7 in the overlap,
    unchanged otherwise). Sides reduce to (id, h60 digest) map-side
    before the full-outer join; the value-hash pins the digests
    themselves, so the null-coding and column order of the digest are
    cross-engine exact."""
    from etl_router_spark.functions.corpus import snapshot_diff

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source")
    old = docs.filter(F.col("doc_id") < 700)
    new = docs.filter(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 900)
    ).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" v2")))
         .otherwise(F.col("text")),
    )
    return snapshot_diff(old, new)


@query(
    "corpus_duplicate_spans",
    f"""
    WITH t AS (SELECT doc_id, {_WORDS} AS toks FROM documents),
    g AS (SELECT doc_id, CAST(i AS BIGINT) AS start_pos, CAST(i + 4 AS BIGINT) AS end_pos,
                 array_to_string(toks[i:i+4], ' ') AS gram
          FROM t, unnest(range(1, len(toks) - 3)) AS u(i)
          WHERE len(toks) >= 5),
    d AS (SELECT doc_id, start_pos, end_pos FROM
            (SELECT g.*, count(*) OVER (PARTITION BY gram) AS c FROM g)
          WHERE c >= 2),
    m AS (SELECT doc_id, start_pos, end_pos,
                 max(end_pos) OVER (PARTITION BY doc_id ORDER BY start_pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          FROM d),
    i AS (SELECT *, CASE WHEN prev_end IS NULL OR start_pos > prev_end + 1
                         THEN 1 ELSE 0 END AS is_new FROM m),
    s AS (SELECT *, sum(is_new) OVER (PARTITION BY doc_id ORDER BY start_pos
               ROWS UNBOUNDED PRECEDING) AS island FROM i)
    SELECT doc_id, min(start_pos) AS span_start, max(end_pos) AS span_end,
           CAST(max(end_pos) - min(start_pos) + 1 AS BIGINT) AS span_tokens
    FROM s GROUP BY doc_id, island
    """,
)
def corpus_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication (Lee et al. dedup signal, word
    5-grams): maximal per-doc token spans covered by n-grams occurring
    >= 2 times corpus-wide. Count-by-digest is map-side combinable so
    boilerplate grams can't skew; the interval merge is one keyed
    window. Oracle: same postings + gaps-and-islands in SQL."""
    from etl_router_spark.functions.dedup import duplicate_ngram_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_ngram_spans(docs, n=5).select(
        "doc_id", "span_start", "span_end", "span_tokens"
    )


@query("dedup_semantic_canonical", None)  # oracle attached below
def dedup_semantic_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup end-to-end: exact embedding
    near-dup pairs (cosine >= 0.38, block GEMM) -> connected components
    via the ALTERNATING-STAR algorithm (O(log^2 n) rounds regardless of
    component diameter — this gate is the driver-checked execution of
    algorithm='star'; the label-propagation twin is pinned by
    dedup_canonical) -> keep the min-id representative per cluster.
    At 100 TB the pair stage swaps to embedding_lsh_pairs/IVF blocking;
    the clustering + canonical stages are unchanged."""
    from etl_router_spark.functions.dedup import dedup_canonical, embedding_cosine_pairs

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1500)
    pairs = embedding_cosine_pairs(emb, threshold=0.38, method="block", num_blocks=8)
    return dedup_canonical(emb, pairs, id_col="vec_id", algorithm="star").select(
        "vec_id", "label"
    )


ORACLES["dedup_semantic_canonical"] = f"""
    WITH RECURSIVE pairs AS (
      {ORACLES["dedup_embedding_cosine"]}
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    labels AS (SELECT u AS id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u)
    SELECT e.vec_id, e.label
    FROM (SELECT vec_id, label FROM embeddings WHERE vec_id < 1500) e
    LEFT JOIN labels l ON l.id = e.vec_id
    WHERE COALESCE(l.cluster_id, e.vec_id) = e.vec_id
    """


@query(
    "text_gopher_filter",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_WORDS} AS w,
             string_split(text, chr(10)) AS lines
      FROM documents),
    m AS (
      SELECT doc_id,
             len(w) AS n_words,
             CASE WHEN len(w) > 0
                  THEN CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)
             END AS mean_wl,
             length(text) - length(replace(text, '#', '')) AS n_hash,
             (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
             len(lines) AS n_lines,
             len(list_filter(lines, l -> starts_with(trim(l), '-')
                                      OR starts_with(trim(l), '•'))) AS bullet_lines,
             len(list_filter(lines, l -> ends_with(trim(l), '...'))) AS ell_lines,
             len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_words,
             len(list_intersect(list_distinct(list_transform(w, x -> lower(x))),
                 ['the','be','to','of','and','that','have','with'])) AS stop_hits
      FROM t)
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           n_words >= 30 AND n_words <= 100000                    AS passes_word_count,
           n_words > 0 AND mean_wl >= 3.0 AND mean_wl <= 10.0     AS passes_mean_word_len,
           n_words > 0 AND n_hash * 1.0 / n_words <= 0.1
                       AND n_ell * 1.0 / n_words <= 0.1           AS passes_symbol_ratio,
           n_lines > 0 AND bullet_lines * 1.0 / n_lines <= 0.9
                       AND ell_lines * 1.0 / n_lines <= 0.3       AS passes_line_rules,
           n_words > 0 AND alpha_words * 1.0 / n_words >= 0.8     AS passes_alpha_ratio,
           stop_hits >= 1                                         AS passes_stopwords,
           (n_words >= 30 AND n_words <= 100000)
           AND (n_words > 0 AND mean_wl >= 3.0 AND mean_wl <= 10.0)
           AND (n_words > 0 AND n_hash * 1.0 / n_words <= 0.1
                            AND n_ell * 1.0 / n_words <= 0.1)
           AND (n_lines > 0 AND bullet_lines * 1.0 / n_lines <= 0.9
                            AND ell_lines * 1.0 / n_lines <= 0.3)
           AND (n_words > 0 AND alpha_words * 1.0 / n_words >= 0.8)
           AND (stop_hits >= 1)                                   AS keep
    FROM m
    """,
)
def text_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher quality rules (Rae et al. 2021 App. A) in
    tag mode: per-rule booleans + the keep conjunction, engine-exact
    (integer-ratio comparisons, no rounding). min_words lowered to 30
    and min_stopword_hits to 1 for the fixture's synthetic vocabulary
    (only 'the' from the 8-word list occurs) so both outcomes occur."""
    from etl_router_spark.functions.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    out = gopher_rules(docs, min_words=30, min_stopword_hits=1)
    return out.select(
        "doc_id", "n_words", "passes_word_count", "passes_mean_word_len",
        "passes_symbol_ratio", "passes_line_rules", "passes_alpha_ratio",
        "passes_stopwords", "keep",
    )


# shared Spark/DuckDB SQL snippet: the fixture text has no punctuation
# or newlines, so the gate synthesizes a multi-line corpus that
# exercises every C4 rule deterministically on both engines
_C4_INPUT = """
    text || ' ends here properly.'
    || CASE WHEN doc_id % 3 = 0
            THEN chr(10) || 'another good sentence with enough words!' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN chr(10) || 'short line' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN chr(10) || 'this line uses javascript for tracking.' ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' lorem ipsum' ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN ' {' ELSE '' END
"""

_C4_LINE_OK = (
    "l -> len(string_split_regex(trim(l), '\\s+')) >= 5 "
    "AND list_contains(['.', '!', '?', '\"'], right(trim(l), 1)) "
    "AND NOT list_contains(list_transform(string_split_regex(trim(l), '\\s+'), "
    "x -> lower(x)), 'javascript')"
)


@query(
    "text_c4_filter",
    f"""
    WITH t AS (SELECT doc_id, ({_C4_INPUT}) AS text FROM documents),
    l AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM t),
    k AS (SELECT doc_id, text, lines,
                 list_filter(lines, {_C4_LINE_OK}) AS kept
          FROM l),
    m AS (SELECT doc_id,
                 COALESCE(array_to_string(kept, chr(10)), '') AS text_clean,
                 len(lines) AS n_lines, len(kept) AS n_lines_kept,
                 length(COALESCE(array_to_string(kept, chr(10)), ''))
                   - length(translate(COALESCE(array_to_string(kept, chr(10)), ''), '.!?"', '')) AS n_sentences,
                 contains(lower(text), '{{') OR contains(lower(text), 'lorem ipsum') AS banned
          FROM k)
    SELECT doc_id, text_clean,
           CAST(n_lines AS BIGINT)      AS n_lines,
           CAST(n_lines_kept AS BIGINT) AS n_lines_kept,
           CAST(n_sentences AS BIGINT)  AS n_sentences,
           n_sentences >= 1 AND NOT banned AS keep
    FROM m
    """,
)
def text_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published C4 cleaning rules (Raffel et al. 2020 §2.2) over a
    synthesized multi-line corpus exercising every rule: short lines
    and javascript lines are cut, pages with '{{' or 'lorem ipsum' are
    banned, and the cleaned text is reassembled. min_sentences=1
    because each doc contributes 1-2 terminal-punct lines."""
    from etl_router_spark.functions.text import c4_rules

    docs = load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"({_C4_INPUT}) AS text"
    )
    out = c4_rules(docs, min_sentences=1)
    return out.select(
        "doc_id", "text_clean", "n_lines", "n_lines_kept", "n_sentences", "keep"
    )


# ===========================================================================
# link-graph analytics (functions/graph.py)
# ===========================================================================
# Web-corpus curation weights documents by link-graph centrality; these
# gates run the graph primitives over a deterministic fixture graph:
#   customer -c-> supplier   (who bought from whom: orders x lineitem)
#   supplier -s-> nation     (s_nationkey)
#   nation   -n-> region     (n_regionkey)
# Node ids are prefix-namespaced ('c15', 's3', ...) because the TPC-H
# key spaces overlap numerically.

_GRAPH_EDGES_SQL = """
    raw_edges AS (
      SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      UNION ALL
      SELECT 's' || s_suppkey, 'n' || s_nationkey FROM supplier
      UNION ALL
      SELECT 'n' || n_nationkey, 'r' || n_regionkey FROM nation
    ),
    edges AS (SELECT DISTINCT src, dst FROM raw_edges WHERE src <> dst)
"""


def _link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # NOT spread: the probe+partial-distinct here are codegen'd and cheap
    # per row — an r15 A/B measured the round-robin exchange costing more
    # than the single-task map it parallelizes (0.95 -> 1.26 s); the
    # spread only pays where interpreted per-row work dominates (Bloom
    # md5 probe, DSIR gram hashing)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # pre-distinct the (custkey, suppkey) LONG pairs before stringifying:
    # the operators' own edge dedup then shuffles ~50k short strings
    # instead of the raw 600k join output
    cs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
    )
    sn = load_table(spark, sf_dir, "supplier").select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("s_nationkey").cast("string")).alias("dst"),
    )
    nr = load_table(spark, sf_dir, "nation").select(
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("dst"),
    )
    return cs.unionAll(sn).unionAll(nr)


@query(
    "graph_degrees",
    f"""
    WITH {_GRAPH_EDGES_SQL},
    outd AS (SELECT src AS id, count(*) AS o FROM edges GROUP BY src),
    ind  AS (SELECT dst AS id, count(*) AS i FROM edges GROUP BY dst)
    SELECT coalesce(outd.id, ind.id) AS id,
           CAST(coalesce(o, 0) AS BIGINT)                   AS out_degree,
           CAST(coalesce(i, 0) AS BIGINT)                   AS in_degree,
           CAST(coalesce(o, 0) + coalesce(i, 0) AS BIGINT)  AS degree
    FROM outd FULL JOIN ind ON outd.id = ind.id
    """,
)
def graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node in/out degree over the distinct fixture link graph —
    two (id, count) shuffles full-outer merged, no adjacency lists."""
    from etl_router_spark.functions.graph import degree_stats

    return degree_stats(_link_graph(spark, sf_dir), "src", "dst",
                        assume_simple=True)


def _pagerank_oracle(
    iterations: int,
    damping: float,
    edges_cte: str | None = None,
    weighted: bool = False,
) -> str:
    """Unrolled power-iteration PageRank as chained CTEs (DuckDB has no
    aggregates-in-recursive-CTE, so fixed iterations unroll

    mechanically). FP constants are embedded via ``repr`` so both
    engines evaluate bit-identical literals (1.0-0.85 != 0.15 in
    binary), keeping round(6) hash-stable. Every CTE is ``AS
    MATERIALIZED``: pr_k is referenced twice per round (contributions
    + dangling mass), so inlining would re-expand pr_0 2^k times and
    blow the file-handle budget re-scanning the parquet per copy."""
    one_minus = repr(1.0 - damping)
    d = repr(damping)
    outd_expr = "sum(w)" if weighted else "CAST(count(*) AS DOUBLE)"
    contrib_expr = "sum(p.pr * e.w / o.outdeg)" if weighted else "sum(p.pr / o.outdeg)"
    parts = [
        (edges_cte or _GRAPH_EDGES_SQL).replace(
            "edges AS (", "edges AS MATERIALIZED ("
        ),
        f"""
    nodes AS MATERIALIZED (SELECT DISTINCT id FROM
              (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
    nn   AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outd AS MATERIALIZED (SELECT src AS id, {outd_expr} AS outdeg
             FROM edges GROUP BY src),
    pr0  AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM nn) AS pr FROM nodes)""",
    ]
    for k in range(1, iterations + 1):
        parts.append(f"""
    c{k} AS MATERIALIZED (SELECT e.dst AS id, {contrib_expr} AS c
             FROM edges e
             JOIN pr{k - 1} p ON e.src = p.id
             JOIN outd o ON e.src = o.id
             GROUP BY e.dst),
    d{k} AS MATERIALIZED (SELECT coalesce(sum(p.pr), 0.0) AS dm
             FROM pr{k - 1} p LEFT JOIN outd o ON p.id = o.id
             WHERE o.id IS NULL),
    pr{k} AS MATERIALIZED (SELECT nd.id,
                     {one_minus} / (SELECT n FROM nn)
                     + {d} * (coalesce(c.c, 0.0)
                              + (SELECT dm FROM d{k}) / (SELECT n FROM nn)) AS pr
              FROM nodes nd LEFT JOIN c{k} c ON nd.id = c.id)""")
    return (
        "WITH " + ",".join(parts)
        + f"\n    SELECT id, round(pr, 6) AS pagerank FROM pr{iterations}"
    )


@query("graph_pagerank", _pagerank_oracle(iterations=10, damping=0.85))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-iteration damped PageRank (dangling mass redistributed) over
    the fixture link graph; mass flows customers -> suppliers ->
    nations -> regions, so every tier lands on a distinct value band.
    The oracle unrolls the same power iteration as chained CTEs."""
    from etl_router_spark.functions.graph import pagerank

    pr = pagerank(_link_graph(spark, sf_dir), "src", "dst",
                  iterations=10, damping=0.85, assume_simple=True)
    return pr.select("id", F.round("pagerank", 6).alias("pagerank"))


@query(
    "graph_triangles",
    """
    WITH members AS (
      SELECT 'c' || c_custkey AS id, c_nationkey AS nk
      FROM customer WHERE c_custkey <= 500
      UNION ALL
      SELECT 's' || s_suppkey, s_nationkey FROM supplier
    ),
    edges AS (
      SELECT a.id AS src, b.id AS dst
      FROM members a JOIN members b ON a.nk = b.nk AND a.id < b.id
    ),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM edges e1
      JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
      JOIN edges e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    )
    SELECT id, CAST(count(*) AS BIGINT) AS triangles
    FROM (SELECT a AS id FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
    GROUP BY id
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over same-nation cliques (customers
    <= 500 plus suppliers). The operator orients edges by DEGREE order
    (hub-safe wedge bound); the oracle enumerates by ID order — two
    different one-pass algorithms that must agree exactly."""
    from etl_router_spark.functions.graph import triangle_count

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") <= 500
    ).select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("id"),
        F.col("c_nationkey").alias("nk"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("id"),
        F.col("s_nationkey").alias("nk"),
    )
    members = cust.unionAll(sup)
    a, b = members.alias("a"), members.alias("b")
    edges = a.join(
        b, (F.col("a.nk") == F.col("b.nk")) & (F.col("a.id") < F.col("b.id"))
    ).select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
    return triangle_count(edges, "src", "dst")


# DuckDB twin of functions.text.quality_score's composite (unrounded
# ratios feed the composite; only the final score rounds, mirroring
# the Column pipeline exactly)
_QUALITY_SQL = f"""round(
      least(len({_WORDS}) / 50.0, 1.0) * 0.4
      + len(list_distinct({_WORDS})) / len({_WORDS}) * 0.4
      + greatest(0.0, 1.0 - (length(text)
          - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
          / length(text) * 5) * 0.2, 6)"""


@query(
    "corpus_quality_filter",
    f"""
    WITH scored AS (
      SELECT doc_id, source, {_QUALITY_SQL} AS quality FROM documents),
    thr AS (
      SELECT source, round(quantile_cont(quality, 0.25), 6) AS t
      FROM scored GROUP BY source)
    SELECT s.doc_id, s.source, s.quality
    FROM scored s JOIN thr ON s.source = thr.source
    WHERE s.quality >= thr.t
    """,
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive per-domain quality filtering (FineWeb/CCNet shape):
    drop each source's bottom quartile by composite quality score.
    Exact interpolated percentile per group; the group-sized threshold
    table joins back with the strategy left to AQE (runtime broadcast
    at sane group cardinalities, shuffle when a caller groups by a
    data-sized key like host); both engines round score AND threshold
    to the same 6-decimal grid so the boundary comparison is
    deterministic."""
    from etl_router_spark.functions.corpus import adaptive_quality_filter
    from etl_router_spark.functions.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs).select("doc_id", "source", "quality")
    return adaptive_quality_filter(
        scored, "quality", "source", quantile=0.25, threshold_round=6
    )


# deterministic URL synthesis from doc_id: scheme/www/port/trailing-
# slash/param-order/tracking-param/fragment variants that all
# canonicalize together — shared by the Spark gate and its oracle
_URL_SQL = """
      (CASE doc_id % 4 WHEN 0 THEN 'http://' WHEN 1 THEN 'https://'
                       WHEN 2 THEN 'HTTP://www.' ELSE 'https://WWW.' END)
      || 'Example' || CAST(doc_id % 7 AS VARCHAR) || '.com'
      || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
      || '/Page/' || CAST(doc_id % 25 AS VARCHAR)
      || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
      || (CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1' ELSE '?a=1&b=2' END)
      || (CASE WHEN doc_id % 10 = 0 THEN '&utm_source=x&gclid=9' ELSE '' END)
      || (CASE WHEN doc_id % 8 = 0 THEN '#section-2' ELSE '' END)
"""


def _url_normalize_oracle() -> str:
    from etl_router_spark.functions.text import normalize_url_oracle_sql

    return f"""
    WITH urls AS (SELECT doc_id, ({_URL_SQL}) AS url FROM documents)
    SELECT doc_id, url, {normalize_url_oracle_sql("url")} AS url_norm
    FROM urls
    """


@query("text_url_normalize", _url_normalize_oracle())
def text_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (the CC-pipeline URL-dedup pre-filter):
    scheme/fragment stripped, host lowercased (www., default ports
    dropped), trailing slashes trimmed, tracking params removed and
    the survivors byte-sorted. The fixture synthesizes every variant
    class from doc_id; variants differing only in those dimensions
    collapse to one canonical form (verified: distinct url >>
    distinct url_norm). Pure regex/array codegen, no shuffle."""
    from etl_router_spark.functions.text import normalize_url

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    urls = docs.withColumn("url", F.expr(_URL_SQL.replace("VARCHAR", "STRING")))
    return urls.select(
        "doc_id", "url", normalize_url(F.col("url")).alias("url_norm")
    )


@query(
    "corpus_chunk_sentences",
    r"""
    WITH lists AS (
      SELECT doc_id,
             list_filter(
               string_split(
                 regexp_replace(text, '([.!?])\s+', '\1' || chr(30), 'g'),
                 chr(30)),
               s -> trim(s) <> '') AS raw
      FROM documents),
    sents AS (
      SELECT doc_id, u.pos, trim(lists.raw[u.pos + 1]) AS sent
      FROM lists, unnest(range(len(lists.raw))) AS u(pos)),
    chunked AS (
      SELECT doc_id, pos, sent,
             CAST(floor(coalesce(
               sum(length(sent)) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / 200) AS BIGINT) AS chunk_id
      FROM sents)
    SELECT doc_id, chunk_id,
           string_agg(sent, ' ' ORDER BY pos) AS chunk_text,
           CAST(count(*) AS BIGINT)           AS n_sentences
    FROM chunked GROUP BY doc_id, chunk_id
    """,
)
def corpus_chunk_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-boundary chunking (the retrieval/RAG variant of the
    fixed-window chunker): sentences split on terminal punctuation,
    grouped by cumulative-length prefix sum into ~200-char chunks,
    reassembled in position order. split+posexplode (no shuffle), one
    doc-keyed window, one aggregation — no Python."""
    from etl_router_spark.functions.corpus import chunk_by_sentences

    docs = load_table(spark, sf_dir, "documents")
    return chunk_by_sentences(docs, max_chars=200)


@query(
    "corpus_perplexity_buckets",
    f"""
    WITH toks AS (
      SELECT doc_id, source, unnest({_WORDS}) AS tok
      FROM documents WHERE doc_id < 500),
    freqs AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    total AS (SELECT count(*) AS t FROM toks),
    lm AS (SELECT tok, ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) AS logp
           FROM freqs, total),
    lp AS (
      SELECT t.doc_id, t.source, round(avg(lm.logp), 6) AS avg_logprob
      FROM toks t JOIN lm ON t.tok = lm.tok
      GROUP BY t.doc_id, t.source),
    thr AS (
      SELECT source,
             round(quantile_cont(avg_logprob, 1.0/3), 6) AS t1,
             round(quantile_cont(avg_logprob, 2.0/3), 6) AS t2
      FROM lp GROUP BY source)
    SELECT lp.doc_id, lp.source, lp.avg_logprob,
           CASE WHEN avg_logprob <= t1 THEN 'tail'
                WHEN avg_logprob <= t2 THEN 'middle'
                ELSE 'head' END AS bucket
    FROM lp JOIN thr ON lp.source = thr.source
    """,
)
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020): each
    source's documents tertiled by self-corpus unigram log-probability
    (higher = more typical = head). Thresholds are one array-percentile
    aggregation per group joined back, strategy left to AQE (runtime
    broadcast at sane group cardinalities)."""
    from etl_router_spark.functions.corpus import quality_buckets
    from etl_router_spark.functions.text import unigram_logprob

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    lp = unigram_logprob(docs).select("doc_id", "source", "avg_logprob")
    out = quality_buckets(
        lp, "avg_logprob", "source",
        quantiles=(1 / 3, 2 / 3), labels=("tail", "middle", "head"),
        threshold_round=6,
    )
    return out.select("doc_id", "source", "avg_logprob", "bucket")


# BM25 constants embedded via repr so both engines compute identical
# doubles (same contract as the PageRank oracle)
_BM25 = {"k1": repr(1.2), "k1p1": repr(1.2 + 1), "b": repr(0.75),
         "one_minus_b": repr(1 - 0.75)}

_BM25_CORE_SQL = f"""
    docs AS (SELECT * FROM documents WHERE doc_id < 500),
    terms AS (SELECT doc_id AS id, unnest({_WORDS}) AS term FROM docs),
    tf AS (SELECT id, term, count(*) AS tf FROM terms
           WHERE term <> '' GROUP BY id, term),
    dl AS (SELECT id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY id),
    dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS dft FROM tf GROUP BY term),
    stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM docs) AS n,
                     (SELECT avg(dl) FROM dl) AS avgdl),
    q AS (SELECT doc_id AS query_id,
                 unnest(list_distinct(({_WORDS})[1:5])) AS term
          FROM docs WHERE doc_id IN (10, 20, 30)),
    scored AS (
      SELECT q.query_id, tf.id,
             round(sum(
               ln(1 + (s.n - d.dft + 0.5) / (d.dft + 0.5))
               * tf.tf * {_BM25["k1p1"]}
               / (tf.tf + {_BM25["k1"]}
                  * ({_BM25["one_minus_b"]} + {_BM25["b"]} * dl.dl / s.avgdl))
             ), 6) AS score
      FROM q
      JOIN tf ON q.term = tf.term
      JOIN dfreq d ON d.term = q.term
      JOIN dl ON dl.id = tf.id
      CROSS JOIN stats s
      GROUP BY q.query_id, tf.id),
    bm25_ranked AS (
      SELECT query_id, id AS doc_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, id) AS INT) AS rank
      FROM scored)
"""


def _bm25_queries(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    from etl_router_spark.functions.text import tokens_sql

    queries = (docs.filter(F.col("doc_id").isin(10, 20, 30))
               .select(F.col("doc_id").alias("query_id"),
                       F.concat_ws(" ", F.slice(F.expr(tokens_sql("text")), 1, 5))
                        .alias("query_text")))
    return docs, queries


@query(
    "text_bm25_topk",
    f"""
    WITH {_BM25_CORE_SQL}
    SELECT query_id, rank, doc_id, score FROM bm25_ranked WHERE rank <= 10
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (Lucene-standard positive idf): three
    fixture queries (each the first 5 words of a chosen document) rank
    the corpus; query terms broadcast into the postings join, scores
    rank on the rounded value so top-k membership is FP-deterministic.
    The seed documents themselves must rank at/near the top — a
    semantic sanity check the value-hash enforces exactly."""
    from etl_router_spark.functions.indexing import bm25_topk

    docs, queries = _bm25_queries(spark, sf_dir)
    return bm25_topk(docs, queries, k=10)


@query(
    "search_rrf_fusion",
    f"""
    WITH {_BM25_CORE_SQL},
    lex AS (SELECT query_id, doc_id, rank FROM bm25_ranked WHERE rank <= 20),
    qv AS (
      SELECT e.vec_id AS query_id, e.embedding AS qe FROM embeddings e
      WHERE e.vec_id IN (10, 20, 30)),
    sim AS (
      SELECT q.query_id, c.vec_id AS doc_id,
             list_dot_product(q.qe, c.embedding)
               / (sqrt(list_dot_product(q.qe, q.qe))
                  * sqrt(list_dot_product(c.embedding, c.embedding))) AS cos
      FROM qv q JOIN embeddings c ON c.vec_id < 500),
    vec AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY round(cos, 6) DESC, doc_id) AS INT) AS rank
      FROM sim QUALIFY rank <= 20),
    fused AS (
      SELECT coalesce(l.query_id, v.query_id) AS query_id,
             coalesce(l.doc_id, v.doc_id)     AS doc_id,
             round(coalesce(1.0 / (60 + l.rank), 0)
                   + coalesce(1.0 / (60 + v.rank), 0), 6) AS rrf
      FROM lex l FULL JOIN vec v
        ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
    SELECT query_id, doc_id, rrf,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY rrf DESC, doc_id) AS INT) AS rank
    FROM fused QUALIFY rank <= 10
    """,
)
def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical ranking fused with brute-force
    cosine vector ranking by Reciprocal Rank Fusion (Cormack et al.
    2009: score = sum 1/(60 + rank)). Each leg produces a top-20 per
    query; the fusion is a full outer join on (query, doc) — absent
    legs contribute 0 — reranked to a top-10. Both legs and the
    fusion rank on rounded values for cross-engine determinism."""
    from pyspark.sql import Window

    from etl_router_spark.functions.indexing import bm25_topk

    docs, queries = _bm25_queries(spark, sf_dir)
    lex = bm25_topk(docs, queries, k=20).select("query_id", "doc_id", "rank")

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    qv = emb.filter(F.col("vec_id").isin(10, 20, 30)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qemb"), F.col("embedding"), lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    nq = F.sqrt(F.aggregate(
        F.zip_with(F.col("qemb"), F.col("qemb"), lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x))
    nc = F.sqrt(F.aggregate(
        F.zip_with(F.col("embedding"), F.col("embedding"), lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x))
    sim = (qv.crossJoin(emb.select(F.col("vec_id").alias("doc_id"), "embedding"))
           .withColumn("cos", dot / (nq * nc)))
    wv = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos", 6)), F.asc("doc_id"))
    vec = (sim.withColumn("rank", F.row_number().over(wv))
           .filter(F.col("rank") <= 20)
           .select("query_id", "doc_id", "rank"))

    l, v = lex.alias("l"), vec.alias("v")
    fused = (
        l.join(v, (F.col("l.query_id") == F.col("v.query_id"))
               & (F.col("l.doc_id") == F.col("v.doc_id")), "full")
        .select(
            F.coalesce("l.query_id", "v.query_id").alias("query_id"),
            F.coalesce("l.doc_id", "v.doc_id").alias("doc_id"),
            F.round(
                F.coalesce(1.0 / (60 + F.col("l.rank")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("v.rank")), F.lit(0.0)), 6
            ).alias("rrf"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (fused.withColumn("rank", F.row_number().over(wf))
            .filter(F.col("rank") <= 10)
            .select("query_id", "doc_id", "rrf",
                    F.col("rank").cast("int").alias("rank")))


@query(
    "search_retrieval_eval",
    f"""
    WITH {_BM25_CORE_SQL},
    runs AS (SELECT query_id, doc_id, rank FROM bm25_ranked WHERE rank <= 10),
    qd AS (SELECT doc_id AS query_id, source FROM docs
           WHERE doc_id IN (10, 20, 30)),
    qrels AS (SELECT q.query_id, d.doc_id,
                     CASE WHEN d.doc_id = q.query_id
                          THEN 2.0 ELSE 1.0 END AS rel
              FROM qd q JOIN docs d ON d.source = q.source),
    ideal AS (
      SELECT query_id, count(*) AS n_rel,
             sum(CASE WHEN irank <= 10
                      THEN (pow(2.0, rel) - 1) / log2(irank + 1)
                      ELSE 0 END) AS idcg
      FROM (SELECT query_id, rel,
                   row_number() OVER (PARTITION BY query_id
                        ORDER BY rel DESC, doc_id) AS irank
            FROM qrels)
      GROUP BY query_id),
    joined AS (
      SELECT r.query_id, r.rank, coalesce(q.rel, 0.0) AS rel
      FROM runs r LEFT JOIN qrels q
        ON q.query_id = r.query_id AND q.doc_id = r.doc_id),
    cum AS (
      SELECT *, sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
                OVER (PARTITION BY query_id ORDER BY rank) AS cum_hits
      FROM joined),
    mscored AS (
      SELECT query_id,
             sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS hits,
             min(CASE WHEN rel > 0 THEN rank END) AS first_rel,
             sum((pow(2.0, rel) - 1) / log2(rank + 1)) AS dcg,
             sum(CASE WHEN rel > 0
                      THEN CAST(cum_hits AS DOUBLE) / rank
                      ELSE 0 END) AS ap_num
      FROM cum GROUP BY query_id)
    SELECT i.query_id,
           CAST(coalesce(hits, 0) AS INT) AS hits,
           CAST(n_rel AS INT) AS n_rel,
           round(coalesce(hits / CAST(n_rel AS DOUBLE), 0), 6) AS recall,
           round(coalesce(hits / 10.0, 0), 6) AS precision,
           round(coalesce(1.0 / first_rel, 0), 6) AS mrr,
           round(coalesce(ap_num, 0) / least(n_rel, 10), 6) AS ap,
           round(coalesce(dcg / idcg, 0), 6) AS ndcg
    FROM ideal i LEFT JOIN mscored s ON s.query_id = i.query_id
    """,
)
def search_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trec_eval-style retrieval scoring: the BM25 fixture runs judged
    against same-source graded qrels (query's own document rel=2,
    same-source neighbors rel=1). Exercises every metric path —
    recall/precision/MRR/AP/nDCG with graded gains — on runs whose
    hits, misses, and rank positions the value-hash pins exactly."""
    from etl_router_spark.functions.indexing import bm25_topk, retrieval_eval

    docs, queries = _bm25_queries(spark, sf_dir)
    runs = bm25_topk(docs, queries, k=10)
    qd = docs.filter(F.col("doc_id").isin(10, 20, 30)).select(
        F.col("doc_id").alias("query_id"), "source")
    qrels = qd.join(
        docs.select("doc_id", F.col("source").alias("__s")),
        F.col("__s") == F.col("source"),
    ).select(
        "query_id", "doc_id",
        F.when(F.col("doc_id") == F.col("query_id"), 2.0)
         .otherwise(1.0).alias("rel"),
    )
    return retrieval_eval(runs, qrels, k=10)


@query(
    "search_hard_negatives",
    f"""
    WITH {_BM25_CORE_SQL},
    runs AS (SELECT query_id, doc_id, rank FROM bm25_ranked WHERE rank <= 10),
    qd AS (SELECT doc_id AS query_id, source FROM docs
           WHERE doc_id IN (10, 20, 30)),
    pos AS (SELECT q.query_id, d.doc_id
            FROM qd q JOIN docs d ON d.source = q.source),
    negpool AS (
      SELECT r.query_id, r.doc_id, r.rank,
             row_number() OVER (PARTITION BY r.query_id
                                ORDER BY r.rank, r.doc_id) AS rn
      FROM runs r
      WHERE NOT EXISTS (SELECT 1 FROM pos p
                        WHERE p.query_id = r.query_id
                          AND p.doc_id = r.doc_id)
        AND r.query_id IN (SELECT query_id FROM pos)),
    negs AS (SELECT query_id, doc_id, rank, 0 AS label
             FROM negpool WHERE rn <= 3),
    posr AS (SELECT p.query_id, p.doc_id, r.rank, 1 AS label
             FROM pos p LEFT JOIN runs r
               ON r.query_id = p.query_id AND r.doc_id = p.doc_id)
    SELECT query_id, doc_id, CAST(rank AS INT) AS rank,
           CAST(label AS INT) AS label
    FROM (SELECT * FROM posr UNION ALL SELECT * FROM negs)
    """,
)
def search_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining
    (``functions/indexing.py:mine_hard_negatives``): per query, every
    same-source positive (label 1, run rank attached when retrieved,
    NULL for recall gaps) plus the 3 highest-BM25-ranked docs NOT
    judged relevant (label 0) — the DPR-style hard negatives a
    contrastive retriever trains on. Same BM25 fixture as
    search_retrieval_eval, so the two gates together pin the full
    retrieve -> mine -> evaluate loop."""
    from etl_router_spark.functions.indexing import (
        bm25_topk,
        mine_hard_negatives,
    )

    docs, queries = _bm25_queries(spark, sf_dir)
    runs = bm25_topk(docs, queries, k=10)
    qd = docs.filter(F.col("doc_id").isin(10, 20, 30)).select(
        F.col("doc_id").alias("query_id"), "source")
    qrels = qd.join(
        docs.select("doc_id", F.col("source").alias("__s")),
        F.col("__s") == F.col("source"),
    ).select(
        "query_id", "doc_id",
        F.when(F.col("doc_id") == F.col("query_id"), 2.0)
         .otherwise(1.0).alias("rel"),
    )
    return mine_hard_negatives(runs, qrels, n_negatives=3)


@query(
    "corpus_decontaminate_semantic",
    """
    WITH bench AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
    corpus AS (SELECT vec_id, label FROM embeddings
               WHERE vec_id >= 50 AND vec_id < 500)
    SELECT c.vec_id, c.label FROM corpus c
    WHERE NOT EXISTS (
      SELECT 1 FROM bench b
      JOIN embeddings ce ON ce.vec_id = c.vec_id
      WHERE round(list_cosine_similarity(
              ce.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.3)
    """,
)
def corpus_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination (the embedding-space complement of the
    exact n-gram pass): corpus vectors whose cosine against ANY
    benchmark vector clears the threshold are dropped. The match list
    is the block-GEMM cross-set join (corpus never collects), the
    removal one left_anti on ids — the same composition a SemDeDup-
    style pipeline runs against eval-set embeddings before training."""
    from etl_router_spark.functions.dedup import embedding_cosine_join

    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") < 50)
    corpus = emb.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 500))
    hits = embedding_cosine_join(
        corpus, bench, threshold=0.3, left_blocks=2, right_blocks=1
    ).select(F.col("id_left").alias("vec_id")).distinct()
    return corpus.join(hits, "vec_id", "left_anti").select("vec_id", "label")


_WEIGHTED_EDGES_SQL = """
    edges AS (
      SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst,
             CAST(count(*) AS DOUBLE) AS w
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2
      UNION ALL
      SELECT 's' || s_suppkey, 'n' || s_nationkey, CAST(1 AS DOUBLE)
      FROM supplier
      UNION ALL
      SELECT 'n' || n_nationkey, 'r' || n_regionkey, CAST(1 AS DOUBLE)
      FROM nation
    )
"""


@query(
    "graph_pagerank_weighted",
    _pagerank_oracle(iterations=10, damping=0.85,
                     edges_cte=_WEIGHTED_EDGES_SQL, weighted=True),
)
def graph_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank: a neighbor receives pr(u) * w(u,v) / W(u)
    with W(u) = u's total outgoing weight. The fixture weights the
    customer->supplier edges by purchase volume (lineitem count), so
    suppliers with heavier order flow outrank the uniform variant;
    supplier->nation and nation->region stay weight 1. Same plan shape
    as the unweighted operator — the out-degree aggregate becomes a
    weight sum."""
    from etl_router_spark.functions.graph import pagerank

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    cs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count("*").cast("double").alias("w"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
            "w",
        )
    )
    sn = load_table(spark, sf_dir, "supplier").select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("s_nationkey").cast("string")).alias("dst"),
        F.lit(1.0).alias("w"),
    )
    nr = load_table(spark, sf_dir, "nation").select(
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("dst"),
        F.lit(1.0).alias("w"),
    )
    pr = pagerank(cs.unionAll(sn).unionAll(nr), "src", "dst",
                  iterations=10, damping=0.85,
                  assume_simple=True, weight_col="w")
    return pr.select("id", F.round("pagerank", 6).alias("pagerank"))


# deterministic near-duplicate string synthesis shared by the
# edit-distance gate and its oracle: variants of a base key within
# small edit distances, far strings excluded
_EDIT_STRINGS_SQL = """
      SELECT doc_id,
             'record-' || lpad(CAST(doc_id % 60 AS VARCHAR), 3, '0') || '-'
             || (CASE doc_id % 5
                 WHEN 0 THEN 'alpha'
                 WHEN 1 THEN 'alpfa'
                 WHEN 2 THEN 'aalpha'
                 WHEN 3 THEN 'alph'
                 ELSE 'omega' END) AS s
      FROM documents WHERE doc_id < 400
"""


@query(
    "dedup_edit_distance",
    f"""
    WITH strs AS ({_EDIT_STRINGS_SQL})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS distance
    FROM strs a JOIN strs b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.s, b.s) <= 2
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity self-join (entity-resolution keys,
    near-identical titles/hostnames): PassJoin-style pigeonhole
    segment blocking — k edits cannot touch all k+1 segments and shift
    positions by at most k, so candidates come from an EQUI join on
    (anchor length, segment slot, segment text) and only candidates
    pay the exact levenshtein. The oracle brute-forces the same
    predicate over every pair, so the gate proves the blocking loses
    NOTHING (identical pair set, identical distances)."""
    from etl_router_spark.functions.dedup import edit_distance_pairs

    strs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 400
    ).select(
        "doc_id",
        F.concat(
            F.lit("record-"),
            F.lpad((F.col("doc_id") % 60).cast("string"), 3, "0"),
            F.lit("-"),
            F.when(F.col("doc_id") % 5 == 0, "alpha")
             .when(F.col("doc_id") % 5 == 1, "alpfa")
             .when(F.col("doc_id") % 5 == 2, "aalpha")
             .when(F.col("doc_id") % 5 == 3, "alph")
             .otherwise("omega"),
        ).alias("s"),
    )
    return edit_distance_pairs(strs, max_distance=2, id_col="doc_id", text_col="s")


@query(
    "embedding_mean_pool",
    """
    WITH comp AS (
      SELECT label, u.i AS pos, e.embedding[u.i + 1] AS v
      FROM embeddings e, unnest(range(len(e.embedding))) AS u(i)),
    per_pos AS (
      SELECT label, pos,
             CAST(round(avg(v), 6) AS DECIMAL(12, 6)) AS m
      FROM comp GROUP BY label, pos)
    SELECT label,
           array_to_string(list(CAST(m AS VARCHAR) ORDER BY pos), ',')
             AS embedding_mean_csv
    FROM per_pos GROUP BY label
    """,
)
def embedding_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pooled embedding per label (the chunk->document / class-
    centroid aggregation): posexplode -> ONE (group, position) keyed
    aggregation with map-side partial sums -> position-ordered
    re-collect. No group's vectors ever gather on one task before
    averaging, so a million-chunk group cannot skew; components round
    to 6 on both engines before reassembly."""
    from etl_router_spark.functions.embedding import mean_pool

    emb = load_table(spark, sf_dir, "embeddings")
    pooled = mean_pool(emb, "label", component_round=6)
    # fixed-scale DECIMAL rendering: double->string would drift into
    # scientific notation for small components on one engine only
    return pooled.select(
        "label",
        F.concat_ws(
            ",",
            F.transform(
                F.col("embedding_mean"),
                lambda v: v.cast("decimal(12,6)").cast("string"),
            ),
        ).alias("embedding_mean_csv"),
    )


@query(
    "profile_histogram",
    """
    WITH s AS (
      SELECT min(CAST(o_totalprice AS DOUBLE)) AS mn,
             max(CAST(o_totalprice AS DOUBLE)) AS mx
      FROM orders),
    binned AS (
      SELECT CAST(least(floor((CAST(o_totalprice AS DOUBLE) - s.mn)
                              / ((s.mx - s.mn) / 20)), 19) AS BIGINT) AS bin
      FROM orders, s WHERE o_totalprice IS NOT NULL)
    SELECT b.bin,
           round(s.mn + b.bin * (s.mx - s.mn) / 20, 6)       AS lo,
           round(s.mn + (b.bin + 1) * (s.mx - s.mn) / 20, 6) AS hi,
           CAST(count(*) AS BIGINT)                           AS n
    FROM binned b, s
    GROUP BY b.bin, s.mn, s.mx
    """,
)
def profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of order totals (the data-profiling
    companion to profile_table): bounds from one broadcast 1-row
    aggregate, binning map-side, one <=20-key groupBy. Top bin closed
    so max lands inside."""
    from etl_router_spark.functions.profile import profile_histogram as ph

    orders = load_table(spark, sf_dir, "orders")
    return ph(orders, "o_totalprice", bins=20)


@query(
    "similarity_knn_classify",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
    c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 50 <> 0),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
             round(list_cosine_similarity(q.embedding::DOUBLE[],
                                          c.embedding::DOUBLE[]), 6) AS cos
      FROM q, c),
    nn AS (
      SELECT query_id, label,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored QUALIFY rank <= 5),
    votes AS (
      SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes
      FROM nn GROUP BY query_id, label)
    SELECT query_id, label AS predicted_label, votes
    FROM votes
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY votes DESC, label) = 1
    """,
)
def similarity_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label assignment (weak supervision from a labeled seed
    corpus): every 50th vector queries the rest; majority of the 5
    exact-cosine neighbors with a total-order tie-break. Corpus stays
    partitioned (GEMM batches), queries broadcast."""
    from etl_router_spark.functions.similarity import knn_classify

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    c = emb.filter(F.col("vec_id") % 50 != 0)
    return knn_classify(q, c, label_col="label", k=5)


@query("dedup_component_sizes", None)  # oracle attached below
def dedup_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster size distribution — the observability readout
    every dedup run reports (how much of the corpus is singleton vs
    boilerplate flood): connected components of the simhash near-dup
    graph -> per-cluster sizes -> (size, n_clusters) histogram. Two
    tiny aggregations over the label frame."""
    from etl_router_spark.functions.dedup import (
        dedup_clusters,
        simhash_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    pairs = simhash_pairs(docs, max_hamming=3, bits=32, blocks=4)
    labels = dedup_clusters(docs, pairs)
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("size"))
    return sizes.groupBy("size").agg(
        F.count("*").alias("n_clusters")
    ).select(F.col("size").cast("bigint").alias("size"), "n_clusters")


ORACLES["dedup_component_sizes"] = f"""
    WITH labels AS (
      {ORACLES["dedup_cluster"]}
    ),
    sizes AS (SELECT cluster_id, count(*) AS size FROM labels GROUP BY cluster_id)
    SELECT CAST(size AS BIGINT) AS size,
           CAST(count(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY size
"""


def _ahash_oracle(bits: int = 32, max_hamming: int = 4) -> str:
    pixel = lambda i: f"CAST(('0x' || substr(h, {2 * i + 1}, 2)) AS INT)"  # noqa: E731
    total = " + ".join(pixel(i) for i in range(bits))
    bit_terms = " | ".join(
        f"(CASE WHEN CAST({pixel(i)} AS DOUBLE) > mean THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
    WITH payload AS (
      SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id < 500),
    px AS (SELECT doc_id, h, ({total}) / {bits} AS mean FROM payload),
    codes AS (SELECT doc_id, CAST(({bit_terms}) AS BIGINT) AS ahash FROM px)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(CAST(xor(a.ahash, b.ahash) AS BIGINT)) AS BIGINT)
             AS hamming
    FROM codes a JOIN codes b ON a.doc_id < b.doc_id
    WHERE bit_count(CAST(xor(a.ahash, b.ahash) AS BIGINT)) <= {max_hamming}
    """


@query("multimodal_ahash_pairs", _ahash_oracle(max_hamming=6))
def multimodal_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup dedup plumbing (LAION-style perceptual-hash
    filter): fake-decoded media payloads -> 32-bit average-hash codes
    (pure JVM bit math; a real deployment swaps only the pixel
    source) -> generic pigeonhole ``hamming_pairs`` (shared with
    SimHash — chunk-blocked, never all-pairs). The oracle brute-forces
    the identical hash + hamming predicate over every pair, proving
    the blocking lossless on binary-column codes too."""
    from etl_router_spark.functions.dedup import hamming_pairs
    from etl_router_spark.functions.multimodal import attach_fake_media, average_hash

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    media = attach_fake_media(docs)
    codes = average_hash(media, media_col="media", id_col="doc_id", bits=32)
    return hamming_pairs(codes, max_hamming=6, bits=32, blocks=8,
                         id_col="doc_id", code_col="ahash").select(
        F.col("id_a"), F.col("id_b"), F.col("hamming").cast("bigint").alias("hamming")
    )


@query(
    "corpus_curation_report",
    f"""
    WITH scored AS (
      SELECT doc_id, lang, source, {_QUALITY_SQL} AS quality FROM documents),
    dup_keys AS (
      SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS k
      FROM documents),
    dups AS (
      SELECT CAST(sum(c - 1) AS BIGINT) AS n_exact_dups
      FROM (SELECT count(*) AS c FROM dup_keys GROUP BY k)),
    thr AS (
      SELECT source, round(quantile_cont(quality, 0.25), 6) AS t
      FROM scored GROUP BY source),
    kept AS (
      SELECT count(*) AS n_kept
      FROM scored s JOIN thr ON s.source = thr.source
      WHERE s.quality >= thr.t)
    SELECT CAST(count(*) AS BIGINT)                   AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT)       AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT)     AS n_sources,
           round(avg(quality), 6)                     AS mean_quality,
           (SELECT n_exact_dups FROM dups)            AS n_exact_dups,
           CAST((SELECT n_kept FROM kept) AS BIGINT)  AS n_quality_kept
    FROM scored
    """,
)
def corpus_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation REPORT (the one-row summary every corpus
    run emits for run-over-run drift monitoring): corpus size, lang/
    source cardinalities, mean composite quality, exact-dup surplus,
    and the per-source quartile-filter survivor count — each figure
    produced by the SAME operators the pipeline gates verify
    individually (quality_score, exact_dedup keys,
    adaptive_quality_filter), composed into one plan."""
    from etl_router_spark.functions.corpus import adaptive_quality_filter
    from etl_router_spark.functions.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs).select("doc_id", "lang", "source", "quality")
    kept = adaptive_quality_filter(
        scored, "quality", "source", quantile=0.25, threshold_round=6
    ).agg(F.count("*").alias("n_quality_kept"))
    # same digest key as exact_dedup (md5 of normalized text)
    dup_key = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    dups = (
        docs.select(dup_key.alias("k"))
        .groupBy("k").agg(F.count("*").alias("c"))
        .agg(F.sum(F.col("c") - 1).cast("bigint").alias("n_exact_dups"))
    )
    summary = scored.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg("quality"), 6).alias("mean_quality"),
    )
    return (
        summary.crossJoin(F.broadcast(dups))
        .crossJoin(F.broadcast(kept))
        .select("n_docs", "n_langs", "n_sources", "mean_quality",
                "n_exact_dups", F.col("n_quality_kept").cast("bigint")
                .alias("n_quality_kept"))
    )


# ---------------------------------------------------------------------------
# PCA projection (round 5) — pinned components so the pure-JVM fold is
# oracle-checkable; training itself is pytest-verified by invariants
# (tests/test_functions.py::test_pca_train_invariants), the
# train_ivf_centroids precedent.
# ---------------------------------------------------------------------------

_PCA_K, _PCA_D = 4, 64


def _pca_pinned_components() -> list[list[float]]:
    """Deterministic k x d matrix (no RNG; values in [-0.9, 0.9])."""
    return [
        [((53 * i + 97 * j) % 19 - 9) / 10.0 for j in range(_PCA_D)]
        for i in range(_PCA_K)
    ]


def _pca_oracle_sql() -> str:
    """Explicit left-associated sums mirror Spark's sequential
    ``aggregate`` fold bit-for-bit; constants embedded via repr."""
    dims = []
    for comp in _pca_pinned_components():
        terms = " + ".join(
            f"v[{j + 1}] * ({c!r})" for j, c in enumerate(comp))
        dims.append(f"CAST(CAST(floor(({terms}) * 1000000) AS BIGINT) AS VARCHAR)")
    joined = ", ".join(dims)
    return f"""
    WITH t AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings)
    SELECT vec_id, array_to_string([{joined}], ',') AS proj_e6
    FROM t
    """


@query("embedding_pca_project", _pca_oracle_sql())
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the embedding column onto a pinned 4 x 64
    component matrix (``functions/embedding.py:pca_project``): per
    output dim one ``zip_with`` product + sequential ``aggregate``
    fold — zero Python, no shuffle, identical IEEE fold order on both
    engines. The distributed trainer (``pca_train``: per-partition
    (n, sum, X^T X) partials reduced via posexplode-groupBy so the
    driver sees d^2 + d scalars) is invariant-tested in pytest."""
    from etl_router_spark.functions.embedding import pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    out = pca_project(emb, _pca_pinned_components())
    return out.select(
        "vec_id",
        F.concat_ws(",", *[
            F.floor(F.col("pca")[i] * 1e6).cast("bigint").cast("string")
            for i in range(_PCA_K)
        ]).alias("proj_e6"),
    )


@query(
    "corpus_pack_boundaries",
    f"""
    WITH t AS (
      SELECT doc_id, len({_WORDS}) AS n FROM documents),
    c AS (
      SELECT doc_id, n,
             CAST(sum(n) OVER (ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS token_start
      FROM t WHERE n > 0),
    spans AS (
      SELECT doc_id, n, token_start,
             unnest(generate_series(
               CAST(floor(token_start / 2048) AS BIGINT),
               CAST(floor((token_start + n - 1) / 2048) AS BIGINT)
             )) AS seq_index
      FROM c),
    e AS (
      SELECT seq_index, doc_id,
             greatest(token_start - seq_index * 2048, 0) AS off,
             token_start < seq_index * 2048 AS carried,
             least(token_start + n, (seq_index + 1) * 2048)
               - greatest(token_start, seq_index * 2048) AS tokens
      FROM spans)
    SELECT seq_index,
           array_to_string(list(CAST(doc_id AS VARCHAR)
                                ORDER BY off, doc_id), ',') AS doc_ids,
           array_to_string(list(CAST(off AS VARCHAR)
                                ORDER BY off, doc_id), ',') AS boundaries,
           bool_or(carried)                                  AS carried_in,
           CAST(count(*) AS BIGINT)                          AS n_docs,
           CAST(sum(tokens) AS BIGINT)                       AS filled_tokens
    FROM e GROUP BY seq_index
    """,
)
def corpus_pack_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-level packing readout for attention-mask construction
    (``functions/corpus.py:pack_with_boundaries``): every 2048-token
    training window with its ordered document ids, boundary offsets,
    carry-over flag, and fill count. Distributed prefix sum + span
    explode + one seq_index-keyed groupBy; the oracle rebuilds the
    same layout with window prefix sums and generate_series."""
    from etl_router_spark.functions.corpus import pack_with_boundaries
    from etl_router_spark.functions.text import tokens_sql

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.expr(tokens_sql("text"))).cast("bigint").alias("n_tokens")
    )
    out = pack_with_boundaries(docs, max_tokens=2048)
    return out.select(
        "seq_index",
        F.concat_ws(",", F.transform("doc_ids",
                                     lambda d: d.cast("string"))).alias("doc_ids"),
        F.concat_ws(",", F.transform("boundaries",
                                     lambda b: b.cast("string"))).alias("boundaries"),
        "carried_in", "n_docs", "filled_tokens",
    )


# pinned merge table for the text_bpe_tokenize gate (shared by the
# Spark gate and its independent recursive-CTE oracle below)
_BPE_MERGES = [
    ("t", "h"), ("th", "e</w>"), ("i", "n"), ("in", "g</w>"),
    ("a", "n"), ("an", "d</w>"), ("e", "r</w>"), ("o", "n</w>"),
    ("r", "e"), ("o", "f</w>"), ("t", "o</w>"), ("e", "n"),
]


def _bpe_oracle_sql(merges: list[tuple[str, str]]) -> str:
    """INDEPENDENT reference implementation of greedy BPE merge
    application (Sennrich et al. 2016) as a DuckDB recursive CTE —
    written against the published algorithm, not by importing the
    engine's tokenizer, so the value-hash comparison is a real
    cross-check rather than self-agreement.

    Shape: split text on whitespace; each DISTINCT word starts as its
    characters with ``</w>`` fused onto the last one; per recursion
    step the LOWEST-rank adjacent pair (leftmost on ties — matched by
    taking list_min of ranks then the first position) merges; a word
    stops producing rows when no pair is in the merge table, and
    ``max_by(parts, d)`` recovers its final state. Tokens never contain
    spaces (they come from whitespace-split words), so ``' '`` is a
    collision-free pair separator. ``nullif(list_position(..),0)``
    because DuckDB's list_position signals a miss as 0, not NULL."""
    ranks = "[" + ", ".join(f"'{l} {r}'" for l, r in merges) + "]"
    return f"""
    WITH RECURSIVE
    words_raw AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                         w -> w <> '') AS ws
      FROM documents
    ),
    doc_words AS (
      SELECT doc_id, u[1] AS word, u[2] AS word_idx
      FROM words_raw, UNNEST(list_zip(ws, range(1, len(ws)+1))) AS t(u)
    ),
    dw AS (SELECT DISTINCT word FROM doc_words),
    init AS (
      SELECT word,
             list_append(list_transform(range(1, length(word)), i -> word[i]),
                         word[length(word)] || '</w>') AS parts
      FROM dw
    ),
    step(word, parts, d) AS (
      SELECT word, parts, 0 FROM init
      UNION ALL
      SELECT word,
             parts[1:bj-1] || [parts[bj] || parts[bj+1]] || parts[bj+2:],
             d + 1
      FROM (
        SELECT word, parts, d,
               list_min(list_filter(rks, x -> x IS NOT NULL)) AS br,
               list_position(rks,
                 list_min(list_filter(rks, x -> x IS NOT NULL))) AS bj
        FROM (
          SELECT word, parts, d,
                 list_transform(range(1, len(parts)),
                   j -> nullif(list_position({ranks},
                          parts[j] || ' ' || parts[j+1]), 0)) AS rks
          FROM step WHERE len(parts) > 1
        )
      ) WHERE br IS NOT NULL
    ),
    tok AS (SELECT word, max_by(parts, d) AS parts FROM step GROUP BY word),
    flat AS (
      SELECT dwo.doc_id, flatten(list(t.parts ORDER BY dwo.word_idx)) AS toks
      FROM doc_words dwo JOIN tok t USING (word)
      GROUP BY dwo.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(len(f.toks), 0) AS BIGINT) AS bpe_tokens_n,
           coalesce(array_to_string(f.toks[1:12], ' '), '') AS head_tokens
    FROM documents d LEFT JOIN flat f USING (doc_id)
    """


@query("text_bpe_tokenize", _bpe_oracle_sql(_BPE_MERGES))
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-exact BPE tokenization over the documents table with a
    pinned merge table (``functions/text.py:bpe_tokenize``). Greedy
    merge application is iterative per word, so the engine side runs
    as Arrow ``mapInPandas``; the DuckDB twin is an independent
    recursive-CTE implementation of the same published algorithm
    (``_bpe_oracle_sql``), closing the last rows-only gate of the
    registry. The algorithm is additionally pinned by hand-computed
    merge sequences in tests/test_functions.py (test_bpe_tokenize_*)."""
    from etl_router_spark.functions.text import bpe_tokenize

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = bpe_tokenize(docs, _BPE_MERGES)
    return out.select(
        "doc_id", "bpe_tokens_n",
        F.concat_ws(" ", F.slice("bpe_tokens", 1, 12)).alias("head_tokens"),
    )


def _semantic_dedup_oracle(n_cells: int, threshold: float) -> str:
    full_dist = ("round(list_sum(list_transform(list_zip(x.v, ct.cv), "
                 "u -> (u[1]-u[2])*(u[1]-u[2]))), 6)")
    return f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < {n_cells}),
    assign AS (SELECT vec_id, cid AS cell FROM (
        SELECT x.vec_id, ct.cid,
               row_number() OVER (PARTITION BY x.vec_id
                   ORDER BY {full_dist}, ct.cid) AS rn
        FROM v x CROSS JOIN cent ct) t WHERE rn = 1),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM assign a JOIN assign b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN v va ON va.vec_id = a.vec_id
        JOIN v vb ON vb.vec_id = b.vec_id
        WHERE round(list_cosine_similarity(va.v, vb.v), 6) >= {threshold!r})
    SELECT a.vec_id, a.cell FROM assign a
    WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
    """


@query("dedup_semantic", None)  # oracle attached below (generated)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540) as a first-class operator: coarse
    cells from a literal-centroid map-side assignment (the ivf_topk
    deterministic stand-in), within-cell near-dup pruning via the
    salted/budgeted bucket-local pair machinery, keep-lowest-id
    representative (``functions/dedup.py:semantic_dedup``). The corpus
    never shuffles for assignment; pair cost follows cell occupancy.
    Mirrors the reference's dedupe-transform family at the embedding
    level (conveyor-etl-dsl transform catalog) composed with the LLM
    curation ops this engine adds."""
    from etl_router_spark.functions.dedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.3, n_cells=8).select("vec_id", "cell")


ORACLES["dedup_semantic"] = _semantic_dedup_oracle(n_cells=8, threshold=0.3)


# ===========================================================================
# data selection (DSIR importance resampling, weighted sampling)
# ===========================================================================
def _dsir_lr_sql(buckets: int, smooth: float) -> str:
    """DuckDB twin of functions.selection.dsir_logratios over
    raw = docs with doc_id % 10 <> 0, target = every 10th doc
    (CTE names rg/tg) — a proportional split so the raw:target ratio
    stays corpus-shaped (big raw pool, small clean target) at every
    scale factor."""
    s, b = repr(float(smooth)), buckets
    return f"""
    rbc AS (SELECT {_h60_sql('gram')} % {b} AS bucket, count(*) AS c_raw
            FROM rg GROUP BY 1),
    tbc AS (SELECT {_h60_sql('gram')} % {b} AS bucket, count(*) AS c_target
            FROM tg GROUP BY 1),
    tot AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM tg) AS tt,
                   (SELECT CAST(count(*) AS DOUBLE) FROM rg) AS tr),
    lr AS (
      SELECT bucket,
             CAST(round((ln((CAST(COALESCE(c_target, 0) AS DOUBLE) + {s}) /
                            (tt + {s} * {b}.0))
                       - ln((CAST(COALESCE(c_raw, 0) AS DOUBLE) + {s}) /
                            (tr + {s} * {b}.0))) * 1000000.0) AS BIGINT)
               AS lr_micro,
             COALESCE(c_target, 0) AS c_target,
             COALESCE(c_raw, 0) AS c_raw
      FROM tbc FULL OUTER JOIN rbc USING (bucket) CROSS JOIN tot)
    """


_DSIR_GRAMS = f"list_concat({_WORDS}, {_shingles_sql(2)})"

_DSIR_CORPORA = f"""
    raw AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
    tgt AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
    rg AS (SELECT doc_id, unnest({_DSIR_GRAMS}) AS gram FROM raw),
    tg AS (SELECT doc_id, unnest({_DSIR_GRAMS}) AS gram FROM tgt)
"""


@query(
    "select_dsir_model",
    f"""
    WITH {_DSIR_CORPORA},
    {_dsir_lr_sql(512, 0.5)}
    SELECT bucket, lr_micro, c_target, c_raw FROM lr
    """,
)
def select_dsir_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR bag-of-hashed-ngrams model (Xie et al. 2023,
    arXiv:2302.03169): per hash bucket, the smoothed target/raw
    log-likelihood ratio in integer micro-nats
    (``functions/selection.py:dsir_logratios``). Fixture: target =
    every 10th doc, raw = the other 90%, 512 buckets. The model is <= B rows
    by construction — THE property that makes DSIR 100 TB-safe (the
    corpus is scored against a broadcastable literal-sized model, not
    a vocabulary). Oracle: same counts/ln/round chain in SQL; integer
    micro-nats make every downstream comparison exact."""
    from etl_router_spark.functions.selection import dsir_logratios

    docs = load_table(spark, sf_dir, "documents")
    raw = docs.filter(F.col("doc_id") % 10 != 0)
    tgt = docs.filter(F.col("doc_id") % 10 == 0)
    return dsir_logratios(raw, tgt, buckets=512).select(
        "bucket", "lr_micro", "c_target", "c_raw"
    )


@query(
    "select_dsir_topk",
    f"""
    WITH {_DSIR_CORPORA},
    {_dsir_lr_sql(512, 0.5)},
    db AS (SELECT doc_id, {_h60_sql('gram')} % 512 AS bucket, count(*) AS c
           FROM rg GROUP BY 1, 2),
    sc AS (SELECT doc_id, CAST(sum(c * lr_micro) AS BIGINT) AS dsir_score_micro
           FROM db JOIN lr USING (bucket) GROUP BY 1),
    keyed AS (
      SELECT r.doc_id, r.source,
             COALESCE(sc.dsir_score_micro, 0) AS dsir_score_micro,
             COALESCE(sc.dsir_score_micro, 0)
             + CAST(round(-ln(-ln((
                   {_h60_sql("'dsir1|' || CAST(r.doc_id AS VARCHAR)")} % 1000000
                   + 0.5) / 1000000.0)) * 1000000.0) AS BIGINT)
               AS dsir_key_micro
      FROM raw r LEFT JOIN sc USING (doc_id))
    SELECT doc_id, source, dsir_score_micro, dsir_key_micro
    FROM keyed ORDER BY dsir_key_micro DESC, doc_id ASC LIMIT 50
    """,
)
def select_dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection end-to-end: score every raw doc with its log
    importance weight (sum of bucket log-ratios over its hashed
    unigrams+bigrams), add h60-seeded Gumbel noise, keep the top 50 —
    the Gumbel-top-k draw WITHOUT replacement with probability
    proportional to the importance weight, exactly the published
    recipe (``functions/selection.py:dsir_sample``). Plan: one
    (doc,bucket) aggregate + broadcast B-row model + TakeOrdered —
    the raw corpus is shuffled once, id-and-bucket wide. Integer
    micro-nat keys keep the two engines bit-identical."""
    from etl_router_spark.functions.selection import dsir_sample

    docs = load_table(spark, sf_dir, "documents")
    raw = docs.filter(F.col("doc_id") % 10 != 0)
    tgt = docs.filter(F.col("doc_id") % 10 == 0)
    picked = dsir_sample(raw, tgt, 50, buckets=512, salt="dsir1")
    out = picked.select(
        "doc_id", "source", "dsir_score_micro", "dsir_key_micro"
    )
    # hold the operator's budget-pin through the caller's action: a bare
    # .select() chain drops the returned frame and fires the release-on-gc
    # unpersist BEFORE the query runs, so the (id, bucket) aggregate the
    # cache exists to share re-executed its corpus explode 3x (measured
    # r15, see OPTIMIZATION_r15.md) — the documented chained-caller
    # protocol of dedup._release_on_gc
    out._dsir_pin = picked
    return out


@query(
    "select_weighted_group",
    f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             CAST(round(-ln(({_h60_sql("'wsel1|' || CAST(doc_id AS VARCHAR)")}
                             % 1000000 + 0.5) / 1000000.0)
                        / CAST(n_chars AS DOUBLE) * 1000000.0) AS BIGINT)
               AS __k
      FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
    rn AS (SELECT *, row_number() OVER (PARTITION BY source
                                        ORDER BY __k ASC, doc_id ASC) AS r
           FROM keyed)
    SELECT doc_id, source, n_chars FROM rn WHERE r <= 3
    """,
)
def select_weighted_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group weighted sampling without replacement
    (Efraimidis-Spirakis exponential-clock keys, h60-seeded): 3 docs
    per source drawn with probability proportional to ``n_chars``
    (``functions/selection.py:weighted_sample``). One group-keyed
    window, k rows of state per group; the global variant is a
    distributed TakeOrdered. Deterministic across engines via integer
    micro-unit keys + id tie-break."""
    from etl_router_spark.functions.selection import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(
        docs, 3, weight_col="n_chars", group_col="source", salt="wsel1"
    ).select("doc_id", "source", "n_chars")


_BLOOM_I = "(SELECT unnest([0, 1, 2]) AS i)"
_BLOOM_M = 1 << 18


@query(
    "corpus_bloom_decontaminate",
    f"""
    WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
    bench AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
    bg AS (SELECT DISTINCT unnest(list_distinct({_shingles_sql(8)})) AS gram
           FROM bench),
    pos AS (SELECT DISTINCT
              CAST('0x' || substr(md5('bf0|' || gram), 1 + 10 * i, 10) AS BIGINT) % {_BLOOM_M} AS p
            FROM bg CROSS JOIN {_BLOOM_I}),
    dg AS (SELECT doc_id, unnest(list_distinct({_shingles_sql(8)})) AS gram
           FROM corpus),
    dp AS (SELECT doc_id, gram,
              CAST('0x' || substr(md5('bf0|' || gram), 1 + 10 * i, 10) AS BIGINT) % {_BLOOM_M} AS p
           FROM dg CROSS JOIN {_BLOOM_I}),
    hits AS (SELECT doc_id, gram, count(*) AS nset
             FROM dp JOIN pos USING (p) GROUP BY doc_id, gram),
    bad AS (SELECT DISTINCT doc_id FROM hits WHERE nset = 3)
    SELECT c.doc_id, c.lang, c.source
    FROM corpus c LEFT JOIN bad b ON c.doc_id = b.doc_id
    WHERE b.doc_id IS NULL
    """,
)
def corpus_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through a LITERAL Bloom filter
    (``functions/corpus.py:bloom_decontaminate``): the benchmark's
    8-gram set is folded into an m/64-long bit array that rides in the
    plan as one literal, so the corpus-side probe is a pure
    whole-stage-codegen map — no broadcast-join build, no gram
    shuffle, one corpus scan. One-sided error (every true leak
    caught); the h60-derived hash family means the DuckDB oracle
    reproduces the filter INCLUDING false positives bit-exactly.
    Fixture: every 10th doc is the benchmark — a PROPORTIONAL split,
    so the corpus:benchmark ratio (and the bitmap-build vs probe cost
    balance the bench tracks) stays realistic at every scale factor; a
    fixed-id split inverts it at sf0.1 (benchmark 92% of the table)."""
    from etl_router_spark.functions.corpus import bloom_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    # broadcast=False PINNED: this gate oracle-covers the plan-literal
    # transport; the _bcast twin covers the broadcast one ('auto'
    # would pick broadcast at this m_bits and leave the literal path
    # value-unchecked)
    return bloom_decontaminate(
        corpus, bench, n=8, m_bits=_BLOOM_M, k=3, broadcast=False
    ).select("doc_id", "lang", "source")


@query("corpus_bloom_decontaminate_bcast", None)
def corpus_bloom_decontaminate_bcast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same Bloom decontamination with ``broadcast=True``: the bit
    array ships ONCE per executor as a broadcast single-row frame
    instead of riding in every task binary as a plan literal — the
    giant-benchmark fallback (a 100M-gram suite is a ~125 MB literal
    at ~10 bits/gram; plan size is the one cost that does not
    parallelize, the IVF-PQ lesson at SCALE.md). Flag semantics are
    identical by construction — same positions, same probe expression
    — so this gate shares the literal gate's oracle and must produce
    the SAME rows/hash. Zero row-shuffles of the corpus in either
    mode (plan-pinned in tests/test_plans.py)."""
    from etl_router_spark.functions.corpus import bloom_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    return bloom_decontaminate(
        corpus, bench, n=8, m_bits=_BLOOM_M, k=3, broadcast=True
    ).select("doc_id", "lang", "source")


# identical semantics by construction -> identical oracle: the two
# modes differ only in HOW the bit array reaches the executors
ORACLES["corpus_bloom_decontaminate_bcast"] = ORACLES["corpus_bloom_decontaminate"]


@query(
    "corpus_bloom_family_agreement",
    f"""
    WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
    bench AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
    bg AS (SELECT DISTINCT unnest(list_distinct({_shingles_sql(8)})) AS gram
           FROM bench),
    pos AS (SELECT DISTINCT
              CAST('0x' || substr(md5('bf0|' || gram), 1 + 10 * i, 10) AS BIGINT) % {_BLOOM_M} AS p
            FROM bg CROSS JOIN {_BLOOM_I}),
    dg AS (SELECT doc_id, unnest(list_distinct({_shingles_sql(8)})) AS gram
           FROM corpus),
    dp AS (SELECT doc_id, gram,
              CAST('0x' || substr(md5('bf0|' || gram), 1 + 10 * i, 10) AS BIGINT) % {_BLOOM_M} AS p
           FROM dg CROSS JOIN {_BLOOM_I}),
    hits AS (SELECT doc_id, gram, count(*) AS nset
             FROM dp JOIN pos USING (p) GROUP BY doc_id, gram),
    bad AS (SELECT DISTINCT doc_id FROM hits WHERE nset = 3)
    SELECT (SELECT count(*) FROM bad) AS h60_flagged,
           TRUE AS families_agree
    """,
)
def corpus_bloom_family_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-level DRIVER evidence for the xxhash64 (production)
    Bloom family (r14 verdict ask #5): DuckDB cannot reproduce
    ``xxhash64(expr, seed)``, so the xxhash64 arm's value gates are
    pytest property tests only — this gate closes the loop at the
    DECISION level. Both families tag the SAME corpus in ONE scan
    (two map-side probe expressions, zero joins, zero shuffles before
    the final 1-row aggregate); the oracle reproduces the h60 flag
    count bit-exactly and asserts the agreement verdict the Spark side
    COMPUTES: both families are one-sided-error supersets of the true
    leak set (the property pytest pins for each family in
    tests/test_bloom.py — families may differ only in Bloom false
    positives), so the number of docs the two families flag
    DIFFERENTLY is bounded by the tolerance below. A broken family (wrong seed plumbing, mis-sliced
    digest windows, desynced gram pipeline) flags a DIFFERENT doc set
    and flips families_agree to false -> oracle hash mismatch -> red
    driver row.

    Tolerance: measured disagreement on this fixture is 0 docs at
    sf0.01 (h60 6 = xx 6 flags) and 1 doc at sf0.001 (h60 8 vs xx 7 —
    one h60-only Bloom false positive, the expected ~(fill)^3-per-gram
    rate at m=2^18); the bound allows max(2, 2% of the h60 flag
    count) so genuine FP flips stay green while seed/window bugs
    (which re-key EVERY gram and so re-draw the whole flag set) stay
    red."""
    from etl_router_spark.functions.corpus import bloom_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    tagged = bloom_decontaminate(
        corpus, bench, n=8, m_bits=_BLOOM_M, k=3, mode="tag",
        tag_field="h60_hit", hash_family="h60", broadcast=False)
    tagged = bloom_decontaminate(
        tagged, bench, n=8, m_bits=_BLOOM_M, k=3, mode="tag",
        tag_field="xx_hit", hash_family="xxhash64", broadcast=False)
    agg = tagged.agg(
        F.sum(F.col("h60_hit").cast("long")).alias("h60"),
        F.sum((F.col("h60_hit") != F.col("xx_hit")).cast("long")
              ).alias("dis"))
    return agg.select(
        F.col("h60").alias("h60_flagged"),
        (F.col("dis") <= F.greatest(
            F.lit(2), F.ceil(F.col("h60") * 0.02))
         ).alias("families_agree"))


def _fuzzy_decon_oracle() -> str:
    agree = " + ".join(f"(sa.mh_{i} = sb.mh_{i})::INT" for i in range(8))
    keys = _duck_band_keys(8, 4)
    return f"""
    WITH isig AS ({_minhash_sig_oracle(8, "doc_id % 10 = 0")}),
    nsig AS ({_minhash_sig_oracle(8, "doc_id % 10 <> 0")}),
    ib AS (SELECT id, unnest([{keys}]) AS band_key FROM isig),
    nb AS (SELECT id, unnest([{keys}]) AS band_key FROM nsig),
    cand AS (SELECT DISTINCT n.id AS nid, i.id AS iid
             FROM nb n JOIN ib i USING (band_key)),
    est AS (SELECT c.nid, ({agree}) / 8.0 AS ej
            FROM cand c JOIN nsig sa ON sa.id = c.nid
                        JOIN isig sb ON sb.id = c.iid),
    hits AS (SELECT DISTINCT nid FROM est WHERE ej >= 0.5)
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id % 10 <> 0
      AND doc_id NOT IN (SELECT nid FROM hits)
    """


@query("corpus_decontaminate_fuzzy", _fuzzy_decon_oracle())
def corpus_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUPLICATE decontamination — the fuzzy rung between the
    exact n-gram paths and SemDeDup
    (``functions/corpus.py:decontaminate_fuzzy``): drop corpus
    documents whose MinHash signature agrees with any benchmark
    document at est. Jaccard >= 0.5, catching paraphrased/perturbed
    benchmark COPIES that share few exact 8-grams. The benchmark side
    is indexed once (``dedup.minhash_index``); the corpus probes it
    with its band keys — the same plan fuzzy dedup trusts, pointed
    across corpora. Proportional every-10th-doc split keeps the
    corpus:benchmark ratio realistic at all SFs."""
    from etl_router_spark.functions.corpus import decontaminate_fuzzy

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    return decontaminate_fuzzy(
        corpus, bench, num_hashes=8, bands=4, threshold=0.5
    ).select("doc_id", "lang", "source")


# ===========================================================================
# URL-based curation: per-domain caps + one-pass filter attribution
# ===========================================================================
# deterministic fixture URL (documents carry no url column): exercises
# scheme/www/port stripping and host lowering in BOTH engines
_URL_SPARK = ("concat('https://WWW.', source, '.example.com:443/p/', "
              "CAST(doc_id AS STRING), '?q=', lang)")
_URL_DUCK = ("('https://WWW.' || source || '.example.com:443/p/' || "
             "CAST(doc_id AS VARCHAR) || '?q=' || lang)")


def _curation_oracle(mode: str, cap: int) -> str:
    from etl_router_spark.functions.text import url_host_oracle_sql

    host = url_host_oracle_sql(_URL_DUCK)
    rk = "CAST('0x' || substr(md5('0|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"
    if mode == "exact":
        return f"""
        WITH u AS (SELECT doc_id, {host} AS host FROM documents),
        r AS (SELECT doc_id, host,
                     row_number() OVER (PARTITION BY host
                                        ORDER BY {rk}, doc_id) AS rk
              FROM u)
        SELECT doc_id, host FROM r WHERE rk <= {cap}
        """
    return f"""
    WITH u AS (SELECT doc_id, {host} AS host FROM documents),
    c AS (SELECT host, count(*) AS n FROM u GROUP BY host),
    o AS (SELECT host, {cap}.0 / n AS rate FROM c WHERE n > {cap})
    SELECT u.doc_id, u.host
    FROM u LEFT JOIN o USING (host)
    WHERE o.rate IS NULL
       OR CAST({rk} AS DOUBLE) / 1152921504606846976.0 < o.rate
    """


@query("curate_domain_cap", _curation_oracle("exact", 10))
def curate_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-host document cap (``corpus.domain_cap``,
    method="exact"): URL-based curation à la FineWeb/RefinedWeb —
    deterministic h60 rank within each extracted host, row_number cap.
    One hash shuffle on the host key; url_host's scheme/www/port
    stripping is value-checked against its DuckDB twin."""
    from etl_router_spark.functions.corpus import domain_cap

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "url", F.expr(_URL_SPARK))
    return domain_cap(docs, url_col="url", cap=10).select("doc_id", "host")


@query("curate_domain_cap_threshold", _curation_oracle("threshold", 15))
def curate_domain_cap_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-row-shuffle per-host cap (``corpus.domain_cap``,
    method="threshold"): per-host counts shuffle SUMS only, over-cap
    hosts broadcast back with keep-rate cap/n, and rows pass a
    map-side deterministic hash test — the mega-host path where an
    exact row_number would concentrate 10^7 pages in one task. Kept
    count is binomial around the cap; the oracle reproduces the hash
    test bit-exactly so the survivor SET is still value-checked."""
    from etl_router_spark.functions.corpus import domain_cap

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "url", F.expr(_URL_SPARK))
    return domain_cap(docs, url_col="url", cap=15,
                      method="threshold").select("doc_id", "host")


_ATTR_RULES_DUCK = {
    "min_words": "len(string_split_regex(trim(text), '\\s+')) >= 20",
    "max_words": "len(string_split_regex(trim(text), '\\s+')) <= 90",
    "lang_known": "lang IN ('en', 'de', 'es', 'fr')",
    "min_chars": "n_chars >= 100",
}


def _attribution_oracle() -> str:
    names = list(_ATTR_RULES_DUCK)
    flags = ", ".join(
        f"CASE WHEN {sql} THEN 0 ELSE 1 END AS f_{n}"
        for n, sql in _ATTR_RULES_DUCK.items())
    tot = " + ".join(f"f_{n}" for n in names)
    sums = ", ".join(
        f"sum(f_{n}) AS ff_{n}, "
        f"sum(CASE WHEN f_{n} = 1 AND tot = 1 THEN 1 ELSE 0 END) AS oo_{n}"
        for n in names)
    rows = "\n    UNION ALL ".join(
        f"SELECT '{n}' AS rule, ff_{n} AS n_fail, oo_{n} AS n_only_fail, "
        f"n_rows FROM a"
        for n in names)
    return f"""
    WITH f AS (SELECT {flags} FROM documents),
    t AS (SELECT *, {tot} AS tot FROM f),
    a AS (SELECT count(*) AS n_rows, {sums},
                 sum(CASE WHEN tot >= 1 THEN 1 ELSE 0 END) AS fany,
                 sum(CASE WHEN tot = 1 THEN 1 ELSE 0 END) AS oany
          FROM t)
    SELECT rule, CAST(n_fail AS BIGINT) AS n_fail,
           CAST(n_only_fail AS BIGINT) AS n_only_fail,
           CAST(n_rows AS BIGINT) AS n_rows,
           round(CAST(n_fail AS DOUBLE) / n_rows, 6) AS fail_rate
    FROM ({rows}
    UNION ALL SELECT '__dropped__', fany, oany, n_rows FROM a)
    """


@query("corpus_filter_attribution", _attribution_oracle())
def corpus_filter_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule drop accounting in ONE corpus pass
    (``corpus.filter_attribution``): for each quality rule, how many
    rows fail it and how many fail ONLY it (the rescue-potential
    signal), plus the whole-stack ``__dropped__`` row — the
    observability report that makes a filter configuration tunable
    without R separate filter jobs over 100 TB."""
    from etl_router_spark.functions.corpus import filter_attribution
    from etl_router_spark.functions.text import tokens_sql

    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.expr(tokens_sql("text")))
    return filter_attribution(docs, {
        "min_words": n_words >= 20,
        "max_words": n_words <= 90,
        "lang_known": F.col("lang").isin("en", "de", "es", "fr"),
        "min_chars": F.col("n_chars") >= 100,
    })


def _yield_curve_oracle(thresholds: list[float]) -> str:
    rows = []
    for t in thresholds:
        rows.append(f"""
        SELECT source, CAST({t!r} AS DOUBLE) AS threshold,
               CAST(sum(CASE WHEN sc >= {t!r} THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_docs_kept,
               CAST(sum(CASE WHEN sc >= {t!r} THEN u ELSE 0 END) AS DOUBLE)
                 AS n_units_kept,
               round(sum(CASE WHEN sc >= {t!r} THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS frac_docs,
               round(sum(CASE WHEN sc >= {t!r} THEN u ELSE 0 END)
                     / sum(u), 6) AS frac_units
        FROM s GROUP BY source""")
    return f"""
    WITH s AS (SELECT source,
                      CAST(n_chars AS DOUBLE) / 600.0 AS sc,
                      CAST(n_chars AS DOUBLE) AS u
               FROM documents)
    {' UNION ALL '.join(rows)}
    """


@query("corpus_yield_curve", _yield_curve_oracle([0.2, 0.4, 0.6, 0.8]))
def corpus_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-cutoff calibration in ONE corpus pass
    (``functions/corpus.py:filter_yield_curve``): per (source,
    threshold), how many documents AND how many units (chars here;
    tokens in production) survive a ``score >= t`` filter — the table
    you read before committing a classifier cutoff over 100 TB,
    instead of re-running the filter per candidate threshold. Plan:
    2T conditional partial sums per group, no row shuffle; fixture
    score = n_chars/600 so both engines derive it exactly."""
    from etl_router_spark.functions.corpus import filter_yield_curve

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "score", F.col("n_chars").cast("double") / 600.0)
    return filter_yield_curve(
        docs, "score", [0.2, 0.4, 0.6, 0.8],
        size_col="n_chars", group_col="source")


# ===========================================================================
# mergeable fixed-boundary histograms (quantile complement of the HLL table)
# ===========================================================================
_HIST_BINS = [100.0, 200.0, 300.0, 400.0, 500.0]


def _hist_quantile_oracle(bins: list[float], q: float) -> str:
    B = len(bins)
    flags = [f"sum(CASE WHEN v < {bins[0]} THEN 1 ELSE 0 END) AS bin_0"]
    for i in range(1, B):
        flags.append(
            f"sum(CASE WHEN v >= {bins[i - 1]} AND v < {bins[i]} "
            f"THEN 1 ELSE 0 END) AS bin_{i}")
    flags.append(f"sum(CASE WHEN v >= {bins[-1]} THEN 1 ELSE 0 END) AS bin_{B}")
    # the same cumulative CASE chain estimate_histogram_quantile builds
    branches = [f"WHEN CAST(bin_0 AS DOUBLE) >= t THEN {bins[0]}"]
    cum = "CAST(bin_0 AS DOUBLE)"
    for i in range(1, B):
        lo, width = bins[i - 1], bins[i] - bins[i - 1]
        c = f"CAST(bin_{i} AS DOUBLE)"
        branches.append(
            f"WHEN ({cum} + {c}) >= t THEN {lo} + {width} * (t - ({cum})) / "
            f"(CASE WHEN {c} > 0 THEN {c} ELSE 1.0 END)")
        cum = f"({cum} + {c})"
    return f"""
    WITH f AS (SELECT source, CAST(n_chars AS DOUBLE) AS v FROM documents),
    a AS (SELECT source, count(v) AS n_rows, {', '.join(flags)}
          FROM f GROUP BY source),
    t AS (SELECT *, {q} * CAST(n_rows AS DOUBLE) AS t FROM a)
    SELECT source, CAST(n_rows AS BIGINT) AS n_rows,
           round(CASE {' '.join(branches)} ELSE {bins[-1]} END, 6) AS q_est
    FROM t
    """


@query("profile_histogram_quantile", _hist_quantile_oracle(_HIST_BINS, 0.5))
def profile_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distribution monitoring end to end
    (``functions/profile.py:histogram_sketch``): the corpus profiles
    as TWO batches (even/odd doc ids), the per-source fixed-boundary
    histograms fold through merge_sketch_profiles (bin counts are
    plain bigint columns, so the HLL merge function serves unchanged),
    and the per-source median estimate reads off the MERGED table.
    The oracle computes the same binning + interpolation chain over
    the whole table at once — so the value hash pins batch profiling,
    mergeability, and the estimator in one gate."""
    from etl_router_spark.functions.profile import (
        estimate_histogram_quantile,
        histogram_sketch,
        merge_sketch_profiles,
    )

    docs = load_table(spark, sf_dir, "documents")
    b1 = histogram_sketch(
        docs.filter(F.expr("(doc_id DIV 20) % 2 = 0")),
        "source", "n_chars", _HIST_BINS)
    b2 = histogram_sketch(
        docs.filter(F.expr("(doc_id DIV 20) % 2 = 1")),
        "source", "n_chars", _HIST_BINS)
    merged = merge_sketch_profiles(b1, b2, "source")
    return estimate_histogram_quantile(merged, _HIST_BINS, 0.5).select(
        "source", "n_rows", "q_est")


@query(
    "profile_sample_sketch",
    """
    WITH r AS (SELECT source, doc_id, lang,
        CAST('0x' || substr(md5('s1|' || CAST(doc_id AS VARCHAR)), 1, 15)
             AS BIGINT) AS rank_key
      FROM documents),
    k AS (SELECT *, row_number() OVER (PARTITION BY source
                                       ORDER BY rank_key, doc_id) AS rn
          FROM r)
    SELECT source, doc_id, lang, rank_key FROM k WHERE rn <= 3
    """,
)
def profile_sample_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV) mergeable sample end to end
    (``functions/profile.py:sample_sketch``): the corpus samples as
    TWO batches, the per-source bottom-3 rows fold through
    fold_sample_sketches, and the result must equal the sample a
    whole-corpus pass picks — min-by-hash associativity, value-checked
    (ids, payload AND rank keys) against a whole-table row_number
    oracle. The third leg of the incremental-statistics trio: HLL
    counts distinct, histograms hold distributions, bottom-k keeps
    actual representative ROWS per group without ever re-scanning."""
    from etl_router_spark.functions.profile import (
        fold_sample_sketches,
        sample_sketch,
    )

    docs = load_table(spark, sf_dir, "documents")
    b1 = sample_sketch(docs.filter(F.expr("(doc_id DIV 20) % 2 = 0")),
                       "source", k=3, payload_cols=["lang"])
    b2 = sample_sketch(docs.filter(F.expr("(doc_id DIV 20) % 2 = 1")),
                       "source", k=3, payload_cols=["lang"])
    folded = fold_sample_sketches(b1.unionByName(b2), "source", k=3)
    return folded.select("source", "doc_id", "lang", "rank_key")


@query(
    "text_strip_repeated_lines",
    """
    WITH s AS (SELECT doc_id,
                      text || chr(10) || text || chr(10) ||
                      upper(substr(text, 1, 40)) || chr(10) || text AS t
               FROM documents),
    l AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM s),
    k AS (SELECT doc_id, ls,
                 list_filter(ls, (x, i) -> list_position(ls[1:i-1], x) = 0)
                   AS kept
          FROM l)
    SELECT doc_id,
           CAST(len(ls) AS BIGINT)              AS n_lines,
           CAST(len(ls) - len(kept) AS BIGINT)  AS n_lines_removed,
           array_to_string(kept, chr(10))       AS clean_text
    FROM k
    """,
)
def text_strip_repeated_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-line stripping
    (``functions/text.py:strip_repeated_lines``): the fixture folds
    each document into four lines with two exact repeats, and the gate
    value-checks the CLEANED TEXT byte-for-byte plus the line
    accounting — the zero-shuffle in-doc complement of the corpus-wide
    line_dedup. Both engines run the same order-preserving
    first-occurrence lambda, so survivors and their order pin exactly."""
    from etl_router_spark.functions.text import strip_repeated_lines

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("concat(text, chr(10), text, chr(10), "
               "upper(substring(text, 1, 40)), chr(10), text)").alias("text"),
    )
    return strip_repeated_lines(docs).select(
        "doc_id", "n_lines", "n_lines_removed", "clean_text")


@query(
    "corpus_redact_spans",
    f"""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
    bench AS (SELECT text FROM documents WHERE doc_id % 10 = 0),
    bg AS (SELECT DISTINCT unnest(list_distinct({_shingles_sql(8)})) AS gram
           FROM bench),
    dg AS (SELECT doc_id, unnest(s) AS gram, unnest(range(len(s))) AS pos
           FROM (SELECT doc_id, {_shingles_sql(8)} AS s FROM corpus)),
    hits AS (SELECT doc_id, list_sort(list(pos)) AS hs
             FROM dg JOIN bg USING (gram) GROUP BY doc_id),
    j AS (SELECT c.doc_id,
                 string_split_regex(trim(c.text), '\\s+') AS toks,
                 COALESCE(h.hs, CAST([] AS BIGINT[])) AS hs
          FROM corpus c LEFT JOIN hits h USING (doc_id)),
    f AS (SELECT doc_id, toks,
                 list_transform(toks, (t, i) ->
                   len(list_filter(hs, p -> i - 1 >= p AND i - 1 < p + 8)) > 0)
                   AS flags
          FROM j),
    k AS (SELECT doc_id,
                 list_filter(list_transform(toks, (t, i) ->
                   CASE WHEN NOT flags[i] THEN t
                        WHEN i = 1 OR NOT flags[i - 1] THEN '[REDACTED]'
                        ELSE NULL END), x -> x IS NOT NULL) AS kept,
                 len(list_filter(flags, x -> x)) AS nred,
                 len(list_filter(list_transform(flags, (x, i) ->
                   x AND (i = 1 OR NOT flags[i - 1])), y -> y)) AS nsp
          FROM f)
    SELECT doc_id, array_to_string(kept, ' ') AS clean_text,
           CAST(nred AS BIGINT) AS n_tokens_redacted,
           CAST(nsp AS BIGINT) AS n_spans
    FROM k
    """,
)
def corpus_redact_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical decontamination
    (``functions/corpus.py:redact_contaminated_spans``): leaked 8-gram
    windows are cut out of the document and each contiguous run
    collapses to one sentinel token, instead of dropping the whole
    document the way ``corpus_decontaminate`` does. Same proportional
    fixture as the Bloom gate (every 10th doc is the benchmark); the
    oracle rebuilds the flag/collapse lambdas in DuckDB so the cleaned
    text, redaction counts and span counts pin byte-exactly."""
    from etl_router_spark.functions.corpus import redact_contaminated_spans

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    return redact_contaminated_spans(corpus, bench, n=8).select(
        "doc_id", "clean_text", "n_tokens_redacted", "n_spans")


@query(
    "corpus_contamination_report",
    f"""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
    bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
    bg AS (SELECT DISTINCT doc_id AS bench_id, unnest(list_distinct({_shingles_sql(8)})) AS gram
           FROM bench),
    dg AS (SELECT DISTINCT doc_id AS corpus_id, unnest(list_distinct({_shingles_sql(8)})) AS gram
           FROM corpus),
    hits AS (SELECT bench_id,
                    count(DISTINCT corpus_id) AS n_corpus_docs,
                    count(DISTINCT gram) AS n_shared_grams
             FROM dg JOIN bg USING (gram) GROUP BY bench_id)
    SELECT b.doc_id AS bench_id,
           CAST(COALESCE(h.n_corpus_docs, 0) AS BIGINT) AS n_corpus_docs,
           CAST(COALESCE(h.n_shared_grams, 0) AS BIGINT) AS n_shared_grams
    FROM (SELECT DISTINCT doc_id FROM bench) b
    LEFT JOIN hits h ON b.doc_id = h.bench_id
    """,
)
def corpus_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark-document leak accounting
    (``functions/corpus.py:contamination_report``): for every eval
    document, how many corpus documents share an 8-gram with it and
    how many distinct grams leak — the decision input for drop vs
    surgical redaction vs eval replacement. Benchmark-sized output,
    one corpus scan; all-clear rows kept with zero counts."""
    from etl_router_spark.functions.corpus import contamination_report

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    return contamination_report(corpus, bench, n=8)


def _hist_drift_oracle(bins: list[float], smooth: float) -> str:
    B = len(bins)
    flags_a, flags_b = [], []
    for side, pred0, preds, predN in (
        ("a", f"v < {bins[0]}", None, f"v >= {bins[-1]}"),
        ("b", f"v < {bins[0]}", None, f"v >= {bins[-1]}"),
    ):
        cols = [f"sum(CASE WHEN v < {bins[0]} THEN 1 ELSE 0 END) AS {side}0"]
        for i in range(1, B):
            cols.append(f"sum(CASE WHEN v >= {bins[i - 1]} AND v < {bins[i]} "
                        f"THEN 1 ELSE 0 END) AS {side}{i}")
        cols.append(f"sum(CASE WHEN v >= {bins[-1]} THEN 1 ELSE 0 END) AS {side}{B}")
        (flags_a if side == "a" else flags_b).extend(cols)
    s = repr(float(smooth))
    B1 = B + 1
    psi_terms, l1_terms = [], []
    for i in range(B1):
        pa = (f"((CAST(a{i} AS DOUBLE) + {s}) / "
              f"(CAST(na AS DOUBLE) + {s} * {B1}))")
        pb = (f"((CAST(b{i} AS DOUBLE) + {s}) / "
              f"(CAST(nb AS DOUBLE) + {s} * {B1}))")
        psi_terms.append(f"({pa} - {pb}) * (ln({pa}) - ln({pb}))")
        l1_terms.append(f"abs({pa} - {pb})")
    return f"""
    WITH av AS (SELECT source, CAST(n_chars AS DOUBLE) AS v FROM documents
                WHERE (doc_id // 20) % 2 = 0),
    bv AS (SELECT source, CAST(n_chars AS DOUBLE) AS v FROM documents
           WHERE (doc_id // 20) % 2 = 1),
    a AS (SELECT source, count(v) AS na, {', '.join(flags_a)} FROM av GROUP BY source),
    b AS (SELECT source, count(v) AS nb, {', '.join(flags_b)} FROM bv GROUP BY source)
    SELECT a.source, CAST(na AS BIGINT) AS n_rows_a, CAST(nb AS BIGINT) AS n_rows_b,
           round({' + '.join(psi_terms)}, 6) AS psi,
           round({' + '.join(l1_terms)}, 6) AS l1
    FROM a JOIN b USING (source)
    """


@query("profile_histogram_drift", _hist_drift_oracle(_HIST_BINS, 0.5))
def profile_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two histogram-sketch tables
    (``functions/profile.py:histogram_drift``): two interleaved halves
    of every source profile separately (the split key is independent
    of the group key — source is doc_id % 20 on this fixture, so a
    parity split would put each source wholly on one side), and the PSI +
    L1 scores between the smoothed bin distributions compute from the
    #groups-row tables alone — the nightly drift check that never
    re-reads a corpus. Every arithmetic step mirrors in the oracle, so
    the scores pin to 6 decimals."""
    from etl_router_spark.functions.profile import (
        histogram_drift,
        histogram_sketch,
    )

    docs = load_table(spark, sf_dir, "documents")
    a = histogram_sketch(
        docs.filter(F.expr("(doc_id DIV 20) % 2 = 0")),
        "source", "n_chars", _HIST_BINS)
    b = histogram_sketch(
        docs.filter(F.expr("(doc_id DIV 20) % 2 = 1")),
        "source", "n_chars", _HIST_BINS)
    return histogram_drift(a, b, "source")
