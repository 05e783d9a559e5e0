"""Stage 6 — evaluation joins and metrics (SURVEY §2.4 J4).

Pairwise precision/recall/F1 of predicted clusters against labeled pairs,
computed with semi/anti joins (never collects pair sets to the driver).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def predicted_pairs(components: DataFrame) -> DataFrame:
    """(id, component) -> all predicted positive pairs (id_1 < id_2).

    Within-component self-join; components are near-duplicate clusters
    (small by construction), so this is bounded. A size cap guards the
    pathological all-in-one-cluster regime.
    """
    a = components.select(F.col("component").alias("c"), F.col("id").alias("id_1"))
    b = components.select(F.col("component").alias("c"), F.col("id").alias("id_2"))
    return (
        a.join(b, "c")
        .where(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
    )


def pairwise_prf(pred: DataFrame, truth: DataFrame) -> dict:
    """Precision/recall/F1 over pair sets keyed by (id_1, id_2) ~ (url_1, url_2)."""
    p = pred.select(
        F.col(pred.columns[0]).alias("u1"), F.col(pred.columns[1]).alias("u2")
    ).distinct()
    t = truth.select(
        F.col(truth.columns[0]).alias("u1"), F.col(truth.columns[1]).alias("u2")
    ).distinct()
    # Single pass: full-outer join of the two distinct pair sets + one agg.
    # Running separate count()/semi-count() actions would re-execute the
    # (potentially expensive) pred lineage once per action.
    m = p.withColumn("_p", F.lit(1)).join(
        t.withColumn("_t", F.lit(1)), ["u1", "u2"], "full_outer"
    )
    row = m.agg(
        F.count("_p").alias("n_pred"),
        F.count("_t").alias("n_truth"),
        F.count(
            F.when(F.col("_p").isNotNull() & F.col("_t").isNotNull(), 1)
        ).alias("tp"),
    ).first()
    n_pred, n_truth, tp = row["n_pred"], row["n_truth"], row["tp"]
    precision = tp / n_pred if n_pred else 1.0
    recall = tp / n_truth if n_truth else 1.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall
        else 0.0
    )
    return {
        "n_pred": n_pred,
        "n_truth": n_truth,
        "tp": tp,
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }


def blocking_quality(
    cand: DataFrame, truth: DataFrame, n_records: int
) -> DataFrame:
    """Standard blocker-evaluation metrics (pair completeness, pair quality,
    reduction ratio — Christen, *Data Matching* 2012, ch. 7) for a candidate
    generator measured against labeled duplicate pairs.

    ``cand`` and ``truth`` are canonically-oriented pair sets (id_1 < id_2,
    first two columns); ``n_records`` the corpus size the blocker ran over.
    Returns one row:

      pair_completeness  |cand ∩ truth| / |truth|  (blocker recall — an
                         upper bound on end-to-end ER recall)
      pair_quality       |cand ∩ truth| / |cand|   (candidate precision)
      reduction_ratio    1 - |cand| / C(n_records, 2)

    ONE action over the candidate lineage (full-outer join + single agg):
    candidate generation is the expensive stage under measurement, so it
    must not be re-executed once per metric (same discipline as
    :func:`pairwise_prf`).
    """
    c = cand.select(
        F.col(cand.columns[0]).alias("u1"), F.col(cand.columns[1]).alias("u2")
    ).distinct()
    t = truth.select(
        F.col(truth.columns[0]).alias("u1"), F.col(truth.columns[1]).alias("u2")
    ).distinct()
    m = c.withColumn("_c", F.lit(1)).join(
        t.withColumn("_t", F.lit(1)), ["u1", "u2"], "full_outer"
    )
    row = m.agg(
        F.count("_c").alias("n_cand"),
        F.count("_t").alias("n_truth"),
        F.count(
            F.when(F.col("_c").isNotNull() & F.col("_t").isNotNull(), 1)
        ).alias("covered"),
    ).first()
    base = cand.sparkSession.createDataFrame(
        [(int(n_records), row["n_cand"], row["n_truth"], row["covered"])],
        "n_records long, n_cand long, n_truth long, covered long",
    )
    # F.round (HALF_UP) matches DuckDB round, not Python banker's rounding.
    return base.select(
        "*",
        F.when(F.col("n_truth") == 0, F.lit(1.0))
        .otherwise(F.round(F.col("covered") / F.col("n_truth"), 6))
        .alias("pair_completeness"),
        F.when(F.col("n_cand") == 0, F.lit(1.0))
        .otherwise(F.round(F.col("covered") / F.col("n_cand"), 6))
        .alias("pair_quality"),
        F.round(
            F.lit(1.0)
            - F.col("n_cand")
            / (F.col("n_records") * (F.col("n_records") - F.lit(1)) / F.lit(2)),
            6,
        ).alias("reduction_ratio"),
    )


def cluster_purity(assign: DataFrame, truth) -> DataFrame:
    """Per-cluster purity table: predicted clusters vs true entity labels.

    ``assign`` is (id, component) as emitted by the clustering stage;
    ``truth`` is either a (id, tcluster) DataFrame (labels table) or a
    Column expression computing the true entity from ``assign``'s own
    columns — pass a Column when the label is a function of the id, so
    the expensive clustering lineage is not re-executed through a
    self-join. Output, one row per predicted component:

      n_members         cluster size
      majority_overlap  members sharing the cluster's dominant true entity
      n_truth_clusters  distinct true entities merged into this cluster
      purity            majority_overlap / n_members

    All columns are integer-exact except ``purity`` (one two-integer
    division per row) — deliberately no global float average, whose
    summation order would not be reproducible across engines. Global
    pairwise P/R/F1 lives in :func:`pairwise_prf`; this is the
    per-cluster debugging view (which clusters merged distinct entities,
    and how badly).
    """
    if isinstance(truth, Column):
        labeled = assign.select(
            F.col(assign.columns[1]).alias("component"),
            truth.alias("tcluster"),
        )
    else:
        a = assign.select(
            F.col(assign.columns[0]).alias("_id"),
            F.col(assign.columns[1]).alias("component"),
        )
        t = truth.select(
            F.col(truth.columns[0]).alias("_id"),
            F.col(truth.columns[1]).alias("tcluster"),
        )
        labeled = a.join(t, "_id").select("component", "tcluster")
    ov = labeled.groupBy("component", "tcluster").agg(
        F.count("*").alias("ov")
    )
    return ov.groupBy("component").agg(
        F.sum("ov").alias("n_members"),
        F.max("ov").alias("majority_overlap"),
        F.count("*").alias("n_truth_clusters"),
    ).select(
        "component",
        "n_members",
        "majority_overlap",
        "n_truth_clusters",
        F.round(F.col("majority_overlap") / F.col("n_members"), 6).alias(
            "purity"
        ),
    )
