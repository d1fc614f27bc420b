"""Accuracy metrics: recall@k and mean average precision.

Reference: ``jvector-examples/.../util/AccuracyMetrics.java:29-146``
(kGT-recall@kRetrieved, averagePrecisionAtK, meanAveragePrecisionAtK).
Computed as DataFrame joins against exact ground truth (SURVEY.md §2.5 A9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def recall_at_k(
    results: DataFrame,
    ground_truth: DataFrame,
    k: int,
    query_col: str = "qid",
    id_col: str = "id",
) -> float:
    """Fraction of ground-truth top-k ids recovered in the retrieved top-k,
    averaged over queries (ref AccuracyMetrics.java:29-60).

    Both inputs: (qid, id, rank) with rank 1-based.
    """
    r = results.filter(F.col("rank") <= k).select(query_col, id_col)
    g = ground_truth.filter(F.col("rank") <= k).select(query_col, id_col)
    hits = r.join(g, [query_col, id_col]).groupBy(query_col).count()
    per_query = g.groupBy(query_col).count().withColumnRenamed("count", "gt_n")
    joined = per_query.join(hits, query_col, "left").fillna(0, subset=["count"])
    # per-query fractions as decimals, so the sum is exact and the result
    # does not depend on how the plan partitions the rows: a double sum of
    # 16 fractions c/10 totalling 128/160 read 0.8 or 0.7999999999999999
    # depending on the input's partitioning
    frac = F.col("count").cast("decimal(20,0)") / F.col("gt_n")
    row = joined.select(F.avg(frac).alias("recall")).collect()[0]
    return float(row["recall"])


def mean_average_precision_at_k(
    results: DataFrame,
    ground_truth: DataFrame,
    k: int,
    query_col: str = "qid",
    id_col: str = "id",
) -> float:
    """MAP@k (ref AccuracyMetrics.java:100-146): mean over queries of
    average precision over ranks 1..k. Averaged as decimals, as
    ``recall_at_k`` does, so the result does not depend on how the plan
    partitions the rows."""
    r = results.filter(F.col("rank") <= k).select(query_col, id_col, "rank")
    g = ground_truth.filter(F.col("rank") <= k).select(query_col, id_col)
    marked = r.join(
        g.withColumn("_hit", F.lit(1)), [query_col, id_col], "left"
    ).fillna(0, subset=["_hit"])
    w = Window.partitionBy(query_col).orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    prec = marked.withColumn("cum_hits", F.sum("_hit").over(w)).withColumn(
        "prec_at_i", F.col("cum_hits").cast("decimal(20,0)") / F.col("rank")
    )
    ap = prec.filter(F.col("_hit") == 1).groupBy(query_col).agg(
        (F.sum("prec_at_i") / F.lit(int(k))).alias("ap")
    )
    all_q = g.select(query_col).distinct()
    joined = all_q.join(ap, query_col, "left")
    return float(joined.select(F.avg(F.coalesce("ap", F.lit(0)))).collect()[0][0])
