"""Model-based document quality classification — the fastText recipe
(hashed bag-of-words features + a linear model) that production
pretraining pipelines run as their learned quality filter (CCNet /
GPT-3 / LLaMA data work all describe this stage: score every document
against a classifier trained on known-good vs known-bad text, keep by
threshold or sampled by score).

Spark-first split, same architecture as PCA / IVF / PQ in this engine:

- ``quality_classifier_train``: distributed — featurization is a pure
  column expression (hashed token buckets → mean-pooled one-hot
  vector), the logistic regression is MLlib (per-partition gradient
  aggregation; driver traffic = one (F+1)-vector per iteration).
  Weights come back rounded to 1e-6 as a plain Python list, ready to
  re-embed as literals.
- ``quality_classifier_apply``: the 100 TB path — scoring is ONE pass
  over the token array per row (``aggregate`` over
  ``element_at(weights, bucket)``), weights embedded as a literal
  array: no shuffle, no Python, no model object shipped. The bucket
  hash is the engine-portable ``h60 % F`` (NOT MLlib's murmur), so a
  DuckDB oracle reproduces scores exactly.

Determinism: mean-pool + sigmoid computed identically cross-engine;
scores round to 1e-6; tokenless documents score ``sigmoid(bias)``.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_router_spark.functions.sqltext import sql_double, sql_ident
from etl_router_spark.functions.text import h60_sql, tokens_sql

__all__ = [
    "deterministic_weights",
    "quality_classifier_train",
    "quality_classifier_apply",
    "quality_score_sql",
]


def deterministic_weights(num_features: int = 256) -> tuple[list[float], float]:
    """md5-derived pinned (weights, bias) in [-1, 1] — the no-RNG
    stand-in for trained weights so gates/oracles embed identical
    literals (``deterministic_codebooks`` precedent). Statistically
    meaningless as a classifier; it value-checks the APPLY mechanics."""
    ws = []
    for i in range(num_features):
        h = hashlib.md5(f"qw|{i}".encode()).digest()
        ws.append(2.0 * (int.from_bytes(h[:8], "big") / 2**64) - 1.0)
    return ws, 0.1


def _bucket_sql(tok_sql: str, num_features: int) -> str:
    return f"CAST({h60_sql(tok_sql)} % {num_features} AS INT)"


def quality_score_sql(text_expr: str, weights: list[float], bias: float,
                      num_features: int, *, toks_expr: str | None = None) -> str:
    """Rounded sigmoid score of one text column as generated SQL:
    z = mean over tokens of weights[h60(token) % F] + bias.

    ``toks_expr``: an already-materialized token-array expression
    (e.g. a column name) to score instead of tokenizing ``text_expr``
    inline. The token array appears three times in the generated SQL
    (the aggregate's input and two size() guards); measured on 32-way
    3 KB docs the inline triple-tokenize is a WASH vs projecting the
    array first (0.65 vs 0.76 s, SCALE.md round-14) — token arrays are
    big enough that materializing them costs what recomputing saves —
    so the default stays inline and this hook exists for callers that
    already HAVE a token column. Scores are bit-identical either way."""
    w_arr = "array(" + ",".join(map(sql_double, weights)) + ")"
    toks = (toks_expr or
            f"filter({tokens_sql(f'lower({text_expr})')}, t -> t != '')")
    s = (f"aggregate({toks}, 0D, (acc, t) -> "
         f"acc + element_at({w_arr}, {_bucket_sql('t', num_features)} + 1))")
    z = (f"(CASE WHEN size({toks}) > 0 "
         f"THEN {s} / size({toks}) ELSE 0D END + {sql_double(bias)})")
    return f"round(1D / (1D + exp(-({z}))), 6)"


def quality_classifier_apply(
    df: DataFrame,
    weights: list[float],
    bias: float,
    text_col: str = "text",
    out_col: str = "quality_score",
    threshold: float = 0.5,
    label_col: str = "quality_label",
) -> DataFrame:
    """Score every document with literal weights: one token pass per
    row, fully map-side. Adds ``out_col`` (rounded sigmoid) and
    ``label_col`` (score >= threshold)."""
    score = quality_score_sql(sql_ident(text_col), weights, bias, len(weights))
    return df.selectExpr(
        "*",
        f"{score} AS {sql_ident(out_col, alias=True)}",
    ).withColumn(label_col, (F.col(out_col) >= F.lit(threshold)).cast("int"))


def quality_classifier_train(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    num_features: int = 256,
    max_iter: int = 50,
    reg_param: float = 0.0,
) -> tuple[list[float], float]:
    """Train the logistic quality model distributed; returns
    ``(weights[F], bias)`` rounded to 1e-6 for literal re-embedding.

    Featurization is in-plan (mean-pooled hashed one-hot via a dense
    ``sequence``/``filter`` expression — O(F·tokens) per row, which is
    the standard train-time trade: training runs on a labeled SAMPLE,
    apply-time scoring is the O(tokens) literal-weights path). MLlib's
    LBFGS aggregates gradients per partition, so driver traffic is one
    (F+1)-vector per iteration regardless of sample size.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    # materialize the hashed-bucket array ONCE per row: the dense
    # featurizer's per-bucket lambda is interpreted (no codegen CSE,
    # the Bloom-probe lesson), so inlining `bks` there re-tokenized
    # and re-md5'd every token once per feature bucket — O(F * hash *
    # tokens) instead of the documented O(F * tokens) scan. Measured
    # x17-50 at F=256 on 3 KB docs (SCALE.md round-14); unlike the
    # entropy/apply cases the hoisted array is small ints, so
    # materializing it is cheap and the saved work (md5) is expensive
    toks = f"filter({tokens_sql(f'lower({sql_ident(text_col)})')}, t -> t != '')"
    bks = f"transform({toks}, t -> {_bucket_sql('t', num_features)})"
    dense = (f"transform(sequence(0, {num_features - 1}), "
             f"b -> CAST(size(filter(__qc_bks, x -> x = b)) AS DOUBLE)"
             f" / greatest(size(__qc_bks), 1))")
    feats = df.withColumn("__qc_bks", F.expr(bks)).selectExpr(
        f"CAST({sql_ident(label_col)} AS DOUBLE) AS label", f"{dense} AS f"
    ).select("label", array_to_vector(F.col("f")).alias("features"))
    lr = LogisticRegression(maxIter=max_iter, regParam=reg_param)
    model = lr.fit(feats)
    ws = [round(float(x), 6) for x in model.coefficients.toArray()]
    return ws, round(float(model.intercept), 6)
