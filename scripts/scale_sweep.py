"""Empirical scale-curve sweep: time the expensive operators at two
scale factors and report the wall-time ratio.

The correctness gates deliberately cap their document subsets (oracle
tractability), so the per-round bench can't see how the OPERATORS scale
— this sweep calls the operator functions over the FULL tables at each
SF. Generate the large SF first:

    python scripts/gen_scale_data.py --out /tmp/sf1 --scale 10
    python scripts/scale_sweep.py /root/testdata/sf0.1 /tmp/sf1

``SPARK_GRAFT_SWEEP_ONLY=op1,op2`` filters the op set (same convention
as bench.py's SPARK_GRAFT_BENCH_ONLY).

Interpretation at 10x rows: a shuffle-bound operator should land at
ratio <= ~10 once the fixed per-job overhead (measured by the
calibration row) is subtracted; super-linear growth beyond the
operator's documented complexity is a found scale bug. Pair-generation
operators are expected ~quadratic ON THIS CORPUS (fixed 31-word vocab
=> posting-list length grows linearly with corpus size; real corpora
grow vocab by Heaps' law) — the sweep prints candidate-volume context
for those instead of calling linear scaling a failure.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _ops():
    from etl_router_spark.calibration import calibration_query
    from etl_router_spark.functions.corpus import (
        global_shuffle,
        line_dedup,
        pack_sequences,
    )
    from etl_router_spark.functions.graph import pagerank
    from etl_router_spark.functions.indexing import tfidf_cosine_pairs
    from etl_router_spark.functions.similarity import brute_force_topk
    from etl_router_spark.queries_llm import _link_graph
    from etl_router_spark.functions.dedup import (
        duplicate_ngram_spans,
        embedding_cosine_pairs,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )
    from etl_router_spark.functions.graph import degree_stats
    from etl_router_spark.io import load_table
    from etl_router_spark.queries import all_queries

    QUERIES = all_queries()

    def docs(spark, sf):
        return load_table(spark, sf, "documents")

    def emb(spark, sf):
        return load_table(spark, sf, "embeddings")

    return {
        # pure-SQL anchors (full tables by nature; gate == operator)
        "q1_pricing_summary": QUERIES["q1_pricing_summary"],
        "q3_revenue_by_priority": QUERIES["q3_revenue_by_priority"],
        "q18_large_orders": QUERIES["q18_large_orders"],
        "q_top_parts_by_revenue": QUERIES["q_top_parts_by_revenue"],
        "graph_degrees_full": QUERIES["graph_degrees"],
        # operators over the FULL corpus (gates cap these)
        "ngram_jaccard_full": lambda s, sf: ngram_jaccard_pairs(
            docs(s, sf), n=3, threshold=0.12),
        "minhash_lsh_full": lambda s, sf: minhash_lsh_pairs(
            docs(s, sf), num_hashes=8, bands=4, threshold=0.5),
        "simhash_pairs_full": lambda s, sf: simhash_pairs(
            docs(s, sf), max_hamming=3, bits=32, blocks=4),
        "embedding_cosine_full": lambda s, sf: embedding_cosine_pairs(
            emb(s, sf), threshold=0.38, method="block", num_blocks=8),
        "line_dedup_full": lambda s, sf: line_dedup(
            docs(s, sf), tokens_per_line=8).select(
                "doc_id", "n_lines", "n_lines_kept"),
        "duplicate_spans_full": lambda s, sf: duplicate_ngram_spans(
            docs(s, sf), n=5),
        # second wave (round 7, extended): the remaining expensive
        # operator families over full tables
        "similarity_topk_full": lambda s, sf: brute_force_topk(
            emb(s, sf).filter("vec_id < 20"), emb(s, sf), k=5),
        "pagerank_5it_full": lambda s, sf: pagerank(
            _link_graph(s, sf), "src", "dst", iterations=5),
        "pack_sequences_full": lambda s, sf: pack_sequences(
            docs(s, sf).selectExpr(
                "doc_id", "size(split(text, ' ')) AS n_tokens"),
            max_tokens=512),
        "global_shuffle_full": lambda s, sf: global_shuffle(docs(s, sf)),
        "tfidf_cosine_full": lambda s, sf: tfidf_cosine_pairs(docs(s, sf)),
        # third wave (round 8): the families still unmeasured — temporal
        # joins, CDC replay, index builds, BPE tokenize, PQ, windowed
        # agg/sessionize (event-time state machinery in batch mode)
        "asof_join_full": lambda s, sf: _asof_full(s, sf),
        "range_join_full": lambda s, sf: _range_full(s, sf),
        "cdc_apply_full": lambda s, sf: _cdc_full(s, sf),
        "inverted_index_full": lambda s, sf: _inv_index_full(s, sf),
        "bpe_tokenize_full": lambda s, sf: _bpe_full(s, sf),
        "pq_encode_full": lambda s, sf: _pq_encode_full(s, sf),
        "pq_adc_topk_full": lambda s, sf: _pq_adc_full(s, sf),
        "window_agg_full": lambda s, sf: _window_agg_full(s, sf),
        "sessionize_full": lambda s, sf: _sessionize_full(s, sf),
        "connected_components_full": lambda s, sf: _cc_full(s, sf),
        # crossover pair (round 8): the SAME high-threshold near-dup
        # task on the SAME corpus, exact block GEMM vs hyperplane LSH —
        # the measured basis for the exact->LSH flip rule in SCALE.md
        "embedding_block_hi_full": lambda s, sf: embedding_cosine_pairs(
            emb(s, sf), threshold=0.9, method="block", num_blocks=8),
        "embedding_lsh_full": lambda s, sf: _emb_lsh_full(s, sf),
        "semantic_dedup_full": lambda s, sf: _semantic_dedup_full(s, sf),
        # fourth wave (round 9): decontamination A/B (exact semi-join
        # vs literal-Bloom probe, SAME corpus/bench split) + the DSIR
        # selection pipeline
        "decontaminate_exact_full": lambda s, sf: _decon_exact_full(s, sf),
        "decontaminate_bloom_full": lambda s, sf: _decon_bloom_full(s, sf),
        "decontaminate_bloomxx_full": lambda s, sf: _decon_bloomxx_full(s, sf),
        # round 10: the broadcast transport (the auto default at this
        # m_bits) next to the pinned literal rows above
        "decontaminate_bloombc_full": lambda s, sf: _decon_bloombc_full(s, sf),
        "decontaminate_bloomauto_full": lambda s, sf: _decon_bloomauto_full(s, sf),
        # round 10 third pass: the lexical-fuzzy decontamination rung
        "decontaminate_fuzzy_full": lambda s, sf: _decon_fuzzy_full(s, sf),
        # round 14: the incremental MinHash probe with a LARGE batch
        # (half the corpus probes an index of the other half) on the
        # new un-hinted default — the regime where the old forced
        # probes-side broadcast was the OOM hazard; AQE now picks the
        # strategy from the batch's measured size
        "minhash_probe_full": lambda s, sf: _minhash_probe_full(s, sf),
        "dsir_scores_full": lambda s, sf: _dsir_full(s, sf),
        # round 10: the chained scorer->sampler path with the
        # (id,bucket,c) persist now ON by default — its own curve so
        # the default users actually get is the one measured
        "dsir_sample_full": lambda s, sf: _dsir_sample_full(s, sf),
        "weighted_sample_full": lambda s, sf: _wsample_full(s, sf),
        # fourth wave (round 9, second pass): the corpus lifecycle ops
        "leakage_splits_full": lambda s, sf: _leakage_full(s, sf),
        "epoch_upsample_full": lambda s, sf: _epoch_full(s, sf),
        "snapshot_diff_full": lambda s, sf: _snapdiff_full(s, sf),
        # fifth wave (round 9, third pass): URL curation + one-pass
        # filter attribution
        "domain_cap_exact_full": lambda s, sf: _domain_cap_full(s, sf, "exact"),
        "domain_cap_threshold_full": lambda s, sf: _domain_cap_full(
            s, sf, "threshold"),
        "filter_attribution_full": lambda s, sf: _filter_attr_full(s, sf),
        "histogram_sketch_full": lambda s, sf: _hist_sketch_full(s, sf),
        "sample_sketch_full": lambda s, sf: _sample_sketch_full(s, sf),
        "strip_lines_full": lambda s, sf: _strip_lines_full(s, sf),
        # round 15: the new family-agreement plan (BOTH Bloom families
        # probe the same corpus in one scan, zero pre-agg joins) — the
        # gate already runs the full documents table, so gate == op
        "bloom_family_agreement_full":
            QUERIES["corpus_bloom_family_agreement"],
        # calibration: the SAME pinned scan+agg bench.py emits as its
        # "calibration" field — one shared definition by construction
        "calibration_scan_agg": calibration_query,
    }


def _domain_cap_full(s, sf, method):
    from pyspark.sql import functions as F

    from etl_router_spark.functions.corpus import domain_cap
    from etl_router_spark.io import load_table

    docs = load_table(s, sf, "documents").withColumn(
        "url", F.expr("concat('https://www.', source, '.example.com/p/', "
                      "CAST(doc_id AS STRING))"))
    # 20 hosts; sf0.1 = 250 docs/host, sf1 = 2500 -> over-cap at both
    return domain_cap(docs, url_col="url", cap=100,
                      method=method).select("doc_id", "host")


def _filter_attr_full(s, sf):
    from pyspark.sql import functions as F

    from etl_router_spark.functions.corpus import filter_attribution
    from etl_router_spark.functions.text import tokens_sql
    from etl_router_spark.io import load_table

    docs = load_table(s, sf, "documents")
    n_words = F.size(F.expr(tokens_sql("text")))
    return filter_attribution(docs, {
        "min_words": n_words >= 20,
        "max_words": n_words <= 90,
        "lang_known": F.col("lang").isin("en", "de", "es", "fr"),
        "min_chars": F.col("n_chars") >= 100,
    })


def _hist_sketch_full(s, sf):
    from etl_router_spark.functions.profile import histogram_sketch
    from etl_router_spark.io import load_table

    docs = load_table(s, sf, "documents")
    return histogram_sketch(docs, "source", "n_chars",
                            [100.0, 200.0, 300.0, 400.0, 500.0])


def _sample_sketch_full(s, sf):
    from etl_router_spark.functions.profile import sample_sketch
    from etl_router_spark.io import load_table

    docs = load_table(s, sf, "documents")
    return sample_sketch(docs, "source", k=10, payload_cols=["lang"])


def _strip_lines_full(s, sf):
    from pyspark.sql import functions as F

    from etl_router_spark.functions.text import strip_repeated_lines
    from etl_router_spark.io import load_table

    docs = load_table(s, sf, "documents").select(
        "doc_id",
        F.expr("concat(text, chr(10), text, chr(10), "
               "upper(substring(text, 1, 40)), chr(10), text)").alias("text"))
    return strip_repeated_lines(docs).select(
        "doc_id", "n_lines", "n_lines_removed")


def _decon_split(s, sf):
    from pyspark.sql import functions as F

    from etl_router_spark.io import load_table

    docs = load_table(s, sf, "documents")
    return (docs.filter(F.col("doc_id") >= 500),
            docs.filter(F.col("doc_id") < 500))


def _decon_exact_full(s, sf):
    from etl_router_spark.functions.corpus import decontaminate

    corpus, bench = _decon_split(s, sf)
    return decontaminate(corpus, bench, n=8).select("doc_id")


def _decon_bloom_full(s, sf):
    from etl_router_spark.functions.corpus import bloom_decontaminate

    corpus, bench = _decon_split(s, sf)
    # broadcast=False pinned: this op's r7-r9 rows measured the plan
    # literal; the broadcast transport has its own op below
    return bloom_decontaminate(corpus, bench, n=8, m_bits=1 << 20,
                               k=3, broadcast=False).select("doc_id")


def _decon_bloomxx_full(s, sf):
    from etl_router_spark.functions.corpus import bloom_decontaminate

    corpus, bench = _decon_split(s, sf)
    return bloom_decontaminate(corpus, bench, n=8, m_bits=1 << 20,
                               k=3, hash_family="xxhash64",
                               broadcast=False).select("doc_id")


def _decon_bloombc_full(s, sf):
    from etl_router_spark.functions.corpus import bloom_decontaminate

    corpus, bench = _decon_split(s, sf)
    return bloom_decontaminate(corpus, bench, n=8, m_bits=1 << 20,
                               k=3, hash_family="xxhash64",
                               broadcast=True).select("doc_id")


def _decon_bloomauto_full(s, sf):
    # the DEFAULT transport since r11 (auto: literal below 2^17 bits,
    # broadcast above) — swept so the default path has its own scale
    # row, not just the two forced arms (r11 verdict polish ask)
    from etl_router_spark.functions.corpus import bloom_decontaminate

    corpus, bench = _decon_split(s, sf)
    return bloom_decontaminate(corpus, bench, n=8, m_bits=1 << 20,
                               k=3, hash_family="xxhash64",
                               broadcast="auto").select("doc_id")


def _decon_fuzzy_full(s, sf):
    from etl_router_spark.functions.corpus import decontaminate_fuzzy

    corpus, bench = _decon_split(s, sf)
    return decontaminate_fuzzy(corpus, bench, num_hashes=8, bands=4,
                               threshold=0.5).select("doc_id")


def _minhash_probe_full(s, sf):
    """Incremental dedup where the probing batch is NOT small (half
    the corpus): broadcast_side stays at its "auto" default, so the
    measured curve is the one a user gets when a backfill batch
    exceeds the daily-crawl contract the "probes" override assumes."""
    from etl_router_spark.functions.dedup import (
        dedup_against_minhash_index,
        minhash_index,
    )
    from etl_router_spark.io import load_table

    docs = load_table(s, sf, "documents")
    idx = minhash_index(docs.filter("doc_id % 2 = 0"),
                        num_hashes=8, bands=4)
    batch = docs.filter("doc_id % 2 = 1")
    return dedup_against_minhash_index(
        batch, idx, num_hashes=8, bands=4, threshold=0.5).select("doc_id")


def _dsir_full(s, sf):
    from etl_router_spark.functions.selection import dsir_scores

    corpus, target = _decon_split(s, sf)
    return dsir_scores(corpus, target, buckets=4096).select(
        "doc_id", "dsir_score_micro")


def _dsir_sample_full(s, sf):
    from etl_router_spark.functions.selection import dsir_sample

    corpus, target = _decon_split(s, sf)
    return dsir_sample(corpus, target, 50, buckets=4096).select(
        "doc_id", "dsir_key_micro")


def _wsample_full(s, sf):
    from etl_router_spark.functions.selection import weighted_sample
    from etl_router_spark.io import load_table

    docs = load_table(s, sf, "documents")
    return weighted_sample(docs, 100, weight_col="n_chars",
                           group_col="source").select("doc_id", "source")


def _leakage_full(s, sf):
    from etl_router_spark.functions.corpus import leakage_safe_splits
    from etl_router_spark.functions.dedup import simhash_pairs
    from etl_router_spark.io import load_table

    docs = load_table(s, sf, "documents")
    pairs = simhash_pairs(docs, max_hamming=3, bits=32, blocks=4)
    return leakage_safe_splits(
        docs.select("doc_id"), pairs,
        {"train": 0.8, "val": 0.1, "test": 0.1}, salt="sw",
    ).select("doc_id", "split_group", "split")


def _epoch_full(s, sf):
    from pyspark.sql import functions as F

    from etl_router_spark.functions.corpus import epoch_upsample
    from etl_router_spark.io import load_table

    docs = load_table(s, sf, "documents")
    # every domain capped at 2 epochs: measures the explode blow-up
    # (output = 2x corpus rows) with the counts agg + broadcast ahead
    weights = {f"src{i}": 1.0 for i in range(20)}
    return epoch_upsample(docs, weights, token_budget=1e12,
                          size_col="n_chars", max_epochs=2.0,
                          salt="sw").select("doc_id", "source", "epoch")


def _snapdiff_full(s, sf):
    from pyspark.sql import functions as F

    from etl_router_spark.functions.corpus import snapshot_diff
    from etl_router_spark.io import load_table

    docs = load_table(s, sf, "documents").select("doc_id", "text", "source")
    new = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" v2")))
         .otherwise(F.col("text")))
    return snapshot_diff(docs, new)


def _semantic_dedup_full(s, sf):
    from etl_router_spark.functions.dedup import semantic_dedup
    from etl_router_spark.io import load_table

    # n_cells scaled with corpus (occupancy ~constant) — the same
    # discipline as planes="auto" for the LSH path
    emb = load_table(s, sf, "embeddings")
    n_cells = 8 if "sf0.1" in sf else 80
    return semantic_dedup(emb, threshold=0.3, n_cells=n_cells)


def _emb_lsh_full(s, sf):
    from etl_router_spark.functions.dedup import embedding_lsh_pairs
    from etl_router_spark.io import load_table

    emb = load_table(s, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return embedding_lsh_pairs(emb, dim=dim, threshold=0.9,
                               planes=8, tables=2)


def _events(s, sf):
    from etl_router_spark.io import load_table

    return load_table(s, sf, "events")


def _asof_full(s, sf):
    from pyspark.sql import functions as F

    from etl_router_spark.functions.joins import asof_join

    ev = _events(s, sf)
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value")
    return asof_join(purchases, clicks, on="user_id", left_ts="ts",
                     direction="backward")


def _range_full(s, sf):
    from pyspark.sql import functions as F

    from etl_router_spark.functions.joins import range_join

    ev = _events(s, sf)
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value")
    return range_join(purchases, clicks, "ts", "ts", -3600.0, 0.0,
                      on="user_id", bucket_sec=3600.0)


def _cdc_full(s, sf):
    from pyspark.sql import functions as F

    from etl_router_spark.functions.cdc import cdc_apply

    ev = _events(s, sf).withColumn(
        "op", F.when(F.col("event_type") == "error", "delete")
               .otherwise("upsert"))
    return cdc_apply(ev, key_cols=["user_id"],
                     order_cols=["ts", "event_id"], op_col="op")


def _inv_index_full(s, sf):
    from etl_router_spark.functions.indexing import inverted_index
    from etl_router_spark.io import load_table

    return inverted_index(load_table(s, sf, "documents"), max_postings=100)


def _bpe_full(s, sf):
    from etl_router_spark.functions.text import bpe_tokenize
    from etl_router_spark.io import load_table
    from etl_router_spark.queries_llm import _BPE_MERGES

    docs = load_table(s, sf, "documents").select("doc_id", "text")
    return bpe_tokenize(docs, _BPE_MERGES).select("doc_id", "bpe_tokens_n")


def _pq_encode_full(s, sf):
    from etl_router_spark.functions.pq import deterministic_codebooks, pq_encode
    from etl_router_spark.io import load_table

    emb = load_table(s, sf, "embeddings")
    return pq_encode(emb, deterministic_codebooks(64, m=4, k=16))


def _pq_adc_full(s, sf):
    from etl_router_spark.functions.pq import deterministic_codebooks, pq_adc_topk
    from etl_router_spark.io import load_table

    emb = load_table(s, sf, "embeddings")
    return pq_adc_topk(emb.filter("vec_id < 20"), emb,
                       deterministic_codebooks(64, m=4, k=16),
                       k=5, method="blas")


def _window_agg_full(s, sf):
    from etl_router_spark.compile.transforms import apply_aggregate

    return apply_aggregate(
        _events(s, sf), ["user_id"],
        [{"field": "value", "function": "sum", "output_field": "total"},
         {"field": "event_id", "function": "count", "output_field": "n"}],
        {"type": "tumbling", "size": "1h"}, "ts")


def _sessionize_full(s, sf):
    from etl_router_spark.compile.transforms import apply_sessionize

    return apply_sessionize(
        _events(s, sf), ["user_id"], "30m",
        [{"field": "value", "function": "sum", "output_field": "total"}],
        "ts")


def _cc_full(s, sf):
    from etl_router_spark.functions.dedup import dedup_clusters, minhash_lsh_pairs
    from etl_router_spark.io import load_table

    docs = load_table(s, sf, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=8, bands=4, threshold=0.5)
    return dedup_clusters(docs, pairs, algorithm="star")


def main() -> None:
    sf_small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    if sf_small in ("-h", "--help") or not Path(sf_small).is_dir():
        print(__doc__.strip())
        if sf_small not in ("-h", "--help"):
            print(f"\nerror: {sf_small!r} is not a directory",
                  file=sys.stderr)
            raise SystemExit(2)
        return
    sf_big = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
    runs = 3

    import os

    from etl_router_spark.session import get_spark

    spark = get_spark("scale_sweep")
    ops = _ops()
    only = os.environ.get("SPARK_GRAFT_SWEEP_ONLY")
    if only:
        wanted = [x.strip() for x in only.split(",") if x.strip()]
        unknown = [x for x in wanted if x not in ops]
        if unknown:
            raise SystemExit(
                f"SPARK_GRAFT_SWEEP_ONLY names unknown ops {unknown}; "
                f"known: {sorted(ops)}")
        ops = {k: ops[k] for k in wanted}
    out: dict[str, dict] = {}
    for name, fn in ops.items():
        row: dict = {}
        for label, sf in (("small", sf_small), ("big", sf_big)):
            best = float("inf")
            rows = None
            for _ in range(runs):
                t0 = time.perf_counter()
                df = fn(spark, sf)
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
                spark.catalog.clearCache()
            row[label] = round(best, 3)
        row["ratio"] = round(row["big"] / row["small"], 2)
        out[name] = row
        print(f"{name:28s} {row['small']:8.3f}s -> {row['big']:8.3f}s  "
              f"x{row['ratio']}", flush=True)
    print(json.dumps({"small": sf_small, "big": sf_big, "ops": out}))
    spark.stop()


if __name__ == "__main__":
    main()
