"""URL-based curation: domain_cap (exact + threshold) and the one-pass
filter_attribution report."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_router_spark.functions.corpus import domain_cap, filter_attribution
from etl_router_spark.functions.text import url_host


@pytest.fixture(scope="module")
def pages(spark):
    rows = [
        # host a.com: 6 pages, b.org: 3 pages, c.net: 1 page
        (i, f"https://WWW.a.com:443/p/{i}?x=1") for i in range(6)
    ] + [
        (10 + i, f"http://b.org/page/{i}#frag") for i in range(3)
    ] + [
        (20, "C.NET/solo"),
    ]
    return spark.createDataFrame(rows, "doc_id long, url string")


def test_url_host_strips_scheme_www_port_fragment(spark):
    df = spark.createDataFrame(
        [("https://WWW.Example.COM:8080/a/b#frag",),
         ("example.com/a",),
         ("http://sub.example.com:80/?q=1",)],
        "u string",
    )
    hosts = [r[0] for r in df.select(url_host(F.col("u"))).collect()]
    assert hosts == ["example.com", "example.com", "sub.example.com"]


def test_domain_cap_exact_counts(pages):
    out = domain_cap(pages, cap=2)
    counts = {r["host"]: r["n"] for r in
              out.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a.com": 2, "b.org": 2, "c.net": 1}


def test_domain_cap_exact_deterministic_under_repartition(pages):
    kept1 = {r["doc_id"] for r in domain_cap(pages, cap=3).collect()}
    kept2 = {r["doc_id"]
             for r in domain_cap(pages.repartition(7), cap=3).collect()}
    assert kept1 == kept2


def test_domain_cap_exact_seed_changes_selection(pages):
    base = {r["doc_id"] for r in domain_cap(pages, cap=2).collect()}
    other = {r["doc_id"] for r in domain_cap(pages, cap=2, seed=1).collect()}
    # same shape either way (the cap), but ranks reshuffle
    assert len(base) == len(other) == 5
    assert base != other


def test_domain_cap_threshold_under_cap_host_untouched(pages):
    # cap=3: only a.com (6 pages) is over cap; b.org and c.net pass whole
    out = domain_cap(pages, cap=3, method="threshold")
    kept = {r["doc_id"] for r in out.collect()}
    assert {10, 11, 12, 20} <= kept
    a_kept = [i for i in kept if i < 6]
    assert 0 < len(a_kept) < 6  # thinned, deterministically


def test_domain_cap_threshold_matches_external_counts(spark, pages):
    # a persisted (host, __n) table replaces the counting aggregation
    counts = pages.withColumn("host", url_host(F.col("url"))) \
        .groupBy("host").agg(F.count("*").alias("__n"))
    inline = {r["doc_id"]
              for r in domain_cap(pages, cap=3, method="threshold").collect()}
    external = {r["doc_id"]
                for r in domain_cap(pages, cap=3, method="threshold",
                                    domain_counts=counts).collect()}
    assert inline == external


def test_domain_cap_validation(pages):
    with pytest.raises(ValueError, match="method"):
        domain_cap(pages, method="nope")
    with pytest.raises(ValueError, match="cap"):
        domain_cap(pages, cap=0)


def test_filter_attribution_counts(spark):
    df = spark.createDataFrame(
        [(1, 10, "en"), (2, 3, "en"), (3, 10, "zh"),
         (4, 2, "zh"), (5, 50, "en")],
        "doc_id long, n_words long, lang string",
    )
    out = filter_attribution(df, {
        "min_words": F.col("n_words") >= 5,
        "lang_en": F.col("lang") == "en",
    })
    rows = {r["rule"]: r for r in out.collect()}
    assert rows["min_words"]["n_fail"] == 2          # docs 2, 4
    assert rows["min_words"]["n_only_fail"] == 1     # doc 2 (4 also fails lang)
    assert rows["lang_en"]["n_fail"] == 2            # docs 3, 4
    assert rows["lang_en"]["n_only_fail"] == 1       # doc 3
    assert rows["__dropped__"]["n_fail"] == 3        # docs 2, 3, 4
    assert rows["__dropped__"]["n_only_fail"] == 2   # docs 2, 3
    assert all(r["n_rows"] == 5 for r in rows.values())
    assert rows["min_words"]["fail_rate"] == pytest.approx(0.4)


@pytest.mark.parametrize("names", [("no code", "it's"), ("x, 'y'", "a-b")])
def test_filter_attribution_hostile_rule_names(spark, names):
    """Rule names that need quoting in SQL text count like plain names."""
    df = spark.createDataFrame(
        [(1, 10, "en"), (2, 3, "en"), (3, 10, "zh"), (4, 2, "zh")],
        "doc_id long, n_words long, lang string")

    def report(a, b):
        out = filter_attribution(df, {a: F.col("n_words") >= 5,
                                      b: F.col("lang") == "en"})
        return {r["rule"]: tuple(r)[1:] for r in out.collect()}

    plain = report("min_words", "lang_en")
    assert report(*names) == {names[0]: plain["min_words"],
                              names[1]: plain["lang_en"],
                              "__dropped__": plain["__dropped__"]}


def test_filter_attribution_null_is_fail(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "en")], "doc_id long, lang string")
    out = filter_attribution(df, {"lang_en": F.col("lang") == "en"})
    rows = {r["rule"]: r for r in out.collect()}
    assert rows["lang_en"]["n_fail"] == 1


def test_filter_attribution_empty_rules(spark):
    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="rule"):
        filter_attribution(df, {})


def test_filter_attribution_single_pass_plan(spark):
    """The report is ONE aggregation: no more than one shuffle
    exchange in the plan (the 1-row global reduce)."""
    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("x"))
    out = filter_attribution(df, {
        "a": F.col("x") > 1, "b": F.col("x") < 5, "c": F.col("x") != 3,
    })
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1


def test_domain_cap_hybrid_equals_exact(pages):
    for cap in (1, 2, 3):
        exact = {r["doc_id"] for r in domain_cap(pages, cap=cap).collect()}
        hybrid = {r["doc_id"]
                  for r in domain_cap(pages, cap=cap, method="hybrid").collect()}
        assert hybrid == exact, cap


def test_domain_cap_threshold_is_rank_prefix(pages):
    # threshold survivors of an over-cap host are always a subset of
    # what a LARGER exact cap keeps, because both order by the same
    # rank key (the property the hybrid mode rests on)
    thr = {r["doc_id"]
           for r in domain_cap(pages, cap=3, method="threshold").collect()
           if r["doc_id"] < 6}
    n_thr = len(thr)
    exact_same_size = {
        r["doc_id"]
        for r in domain_cap(pages, cap=max(n_thr, 1)).collect()
        if r["doc_id"] < 6}
    assert thr == exact_same_size or n_thr == 0


def test_strip_repeated_lines(spark):
    from etl_router_spark.functions.text import strip_repeated_lines

    df = spark.createDataFrame(
        [(1, "nav\nbody one\nnav\nbody two\nnav"),
         (2, "only\nlines\nonce"),
         (3, "same\nsame\nsame")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in strip_repeated_lines(df).collect()}
    assert rows[1]["clean_text"] == "nav\nbody one\nbody two"
    assert rows[1]["n_lines"] == 5 and rows[1]["n_lines_removed"] == 2
    assert rows[2]["clean_text"] == "only\nlines\nonce"
    assert rows[2]["n_lines_removed"] == 0
    assert rows[3]["clean_text"] == "same"
    assert rows[3]["n_lines_removed"] == 2


def test_strip_repeated_lines_exact_match_only(spark):
    from etl_router_spark.functions.text import strip_repeated_lines

    # case/whitespace variants are DIFFERENT lines under the exact
    # contract (compose normalize_text upstream for fuzzy matching)
    df = spark.createDataFrame(
        [(1, "Nav\nnav\nNav ")], "doc_id long, text string")
    row = strip_repeated_lines(df).collect()[0]
    assert row["n_lines_removed"] == 0


def test_strip_repeated_lines_zero_shuffle_plan(spark):
    from etl_router_spark.functions.text import strip_repeated_lines

    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("a\nb\na\n"), F.col("id").cast("string")).alias("text"))
    plan = (strip_repeated_lines(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan, plan


class TestRedactContaminatedSpans:
    def _frames(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c d e f g h i j k l m n"),
             (2, "clean words only here nothing shared at all present"),
             (3, "x c d e f g h i j y c d e f g h i j z")],
            "doc_id long, text string")
        bench = spark.createDataFrame(
            [(9, "c d e f g h i j padding tokens")],
            "doc_id long, text string")
        return docs, bench

    def test_redacts_span_keeps_rest(self, spark):
        from etl_router_spark.functions.corpus import redact_contaminated_spans

        docs, bench = self._frames(spark)
        rows = {r["doc_id"]: r
                for r in redact_contaminated_spans(docs, bench, n=8).collect()}
        # doc 1: tokens 2..9 covered by the hit at pos 2
        assert rows[1]["clean_text"] == "a b [REDACTED] k l m n"
        assert rows[1]["n_tokens_redacted"] == 8
        assert rows[1]["n_spans"] == 1
        # doc 2: untouched, whitespace-normalized passthrough
        assert rows[2]["clean_text"] == \
            "clean words only here nothing shared at all present"
        assert rows[2]["n_tokens_redacted"] == 0
        # doc 3: two separate leaks -> two sentinel runs
        assert rows[3]["clean_text"] == "x [REDACTED] y [REDACTED] z"
        assert rows[3]["n_spans"] == 2
        assert rows[3]["n_tokens_redacted"] == 16

    def test_superset_of_exact_decontaminate_flagging(self, spark):
        from etl_router_spark.functions.corpus import (
            contaminated_ids, redact_contaminated_spans)

        docs, bench = self._frames(spark)
        flagged_exact = {r["id"] for r in
                         contaminated_ids(docs, bench, n=8).collect()}
        red = redact_contaminated_spans(docs, bench, n=8)
        flagged_here = {r["doc_id"] for r in
                        red.filter("n_tokens_redacted > 0").collect()}
        assert flagged_here == flagged_exact  # same leak detector

    def test_idempotent_on_clean_output(self, spark):
        from etl_router_spark.functions.corpus import redact_contaminated_spans

        docs, bench = self._frames(spark)
        once = redact_contaminated_spans(docs, bench, n=8).select(
            "doc_id", F.col("clean_text").alias("text"))
        twice = redact_contaminated_spans(once, bench, n=8)
        assert twice.filter("n_tokens_redacted > 0").count() == 0


def test_contamination_report_counts(spark):
    from etl_router_spark.functions.corpus import contamination_report

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h tail one"),
         (2, "a b c d e f g h tail two"),
         (3, "totally different words with no overlap at all here")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "a b c d e f g h plus more"),
         (200, "nothing from this one appears anywhere in the corpus")],
        "doc_id long, text string")
    rows = {r["bench_id"]: r
            for r in contamination_report(docs, bench, n=8).collect()}
    assert rows[100]["n_corpus_docs"] == 2      # docs 1 and 2 leak
    assert rows[100]["n_shared_grams"] == 1     # the one shared 8-gram
    assert rows[200]["n_corpus_docs"] == 0      # all-clear row kept
    assert rows[200]["n_shared_grams"] == 0
