"""Adaptive-banding evidence run (round-3 verdict item 3).

The measured decay: blocking pair completeness at FIXED 42x3 banding fell
0.9266 (400k pages) -> 0.9002 (1M pages). This tool runs the BLOCKING
stage only (normalize -> signatures -> LSH candidates; the expensive
alignment stage is irrelevant to completeness) at a chosen corpus size,
with both arms over the identical corpus:

  fixed arm:  num_perm=126, 42 bands x 3 rows (the round-3 production
              constant, the decaying configuration)
  auto arm:   choose_banding over a num_perm=252 signature-width budget,
              band plan derived from the corpus's measured truth-pair
              Jaccard histogram

and reports, per arm: the chosen plan, LSH-only pair completeness,
full-candidate (LSH + both sorted-neighborhood legs) completeness, and
the collision mass (bucket-join pairs pre-screen + screened candidates)
so "comparable collision mass" is a number, not a claim.

Usage: python tools/banding_evidence.py <n_entities> [out.json]
  (n_entities 210000 ~= the 400k-page corpus; 526000 ~= 1M pages)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from globalign_spark.ops import dedup  # noqa: E402
from globalign_spark.pipeline import blocking, metrics, normalize  # noqa: E402
from globalign_spark.session import get_spark  # noqa: E402
from globalign_spark.sources.fixtures import labeled_pairs_df, pages_df  # noqa: E402

FIXED_PERM, FIXED_BANDS = 126, 42
AUTO_PERM_BUDGET = 252
TARGET = 0.95


def run_arm(spark, norm, truth, n_docs, *, num_perm, num_bands=None,
            band_width=None, auto=False, workdir=None) -> dict:
    out: dict = {"num_perm": num_perm}
    t0 = time.time()
    sig = dedup.minhash_signatures(norm, "url", "norm_text", 5, num_perm)
    # materialize signatures once (both the plan probe and the banding
    # read them; mirrors the orchestrator's s1_signatures checkpoint)
    sig_path = f"{workdir}/sig_{num_perm}"
    sig.write.mode("overwrite").parquet(sig_path)
    sig = spark.read.parquet(sig_path)
    out["signature_sec"] = round(time.time() - t0, 1)

    if auto:
        t0 = time.time()
        plan = blocking.choose_banding(
            sig, num_perm, norm_df=norm, id_col="url",
            text_col="norm_text", target_completeness=TARGET,
            n_docs=n_docs,
        )
        out["plan"] = plan.as_dict()
        out["choose_banding_sec"] = round(time.time() - t0, 1)
        num_bands, band_width = plan.num_bands, plan.num_perm

    t0 = time.time()
    caches: list = []
    lsh_pairs, lsh_stats = blocking.lsh_candidates(
        norm, sig, id_col="url", text_col="norm_text",
        num_perm=num_perm, num_bands=num_bands, bucket_cap=200,
        over_cap_window=8, est_jaccard_floor=0.25,
        cache_registry=caches, n_docs=n_docs, band_width=band_width,
    )
    sn = blocking.sorted_neighborhood_candidates(
        norm, id_col="url", key_col="host", order_col="norm_text", window=6
    )
    norm_rev = norm.withColumn("_rev", F.reverse(F.col("norm_text")))
    sn_rev = blocking.sorted_neighborhood_candidates(
        norm_rev, id_col="url", key_col="host", order_col="_rev", window=6
    )

    out["num_bands"] = num_bands
    out["band_width"] = band_width or num_perm
    out["lsh_stats"] = lsh_stats.collect()[0].asDict()
    lsh_only = metrics.blocking_quality(lsh_pairs, truth, n_docs).collect()[0]
    out["lsh_only"] = {
        k: lsh_only[k]
        for k in ("n_cand", "n_truth", "covered", "pair_completeness",
                  "pair_quality", "reduction_ratio")
    }
    cand = lsh_pairs.union(sn.select("id_1", "id_2")).union(
        sn_rev.select("id_1", "id_2")
    ).distinct()
    full = metrics.blocking_quality(cand, truth, n_docs).collect()[0]
    out["with_sn_legs"] = {
        k: full[k]
        for k in ("n_cand", "covered", "pair_completeness")
    }
    # Calibration leg: completeness over the SCREEN-CATCHABLE truth region
    # (est_j >= the 0.25 screen floor) — the population choose_banding's
    # predicted_completeness is defined over; pairs under the floor are
    # screened out of the candidates regardless of banding, so only this
    # restriction makes predicted vs measured comparable.
    t_est_caches: list = []
    truth_pairs = truth.select(
        F.col(truth.columns[0]).alias("id_1"),
        F.col(truth.columns[1]).alias("id_2"),
    )
    t_est = blocking._pair_est_jaccard(
        truth_pairs, sig, num_perm, t_est_caches, n_docs=n_docs
    )
    catchable = t_est.where(F.col("_est_j") >= 0.25)
    lsh_hit = lsh_pairs.withColumn("_hit", F.lit(1))
    joined = catchable.join(lsh_hit, ["id_1", "id_2"], "left")
    row = joined.agg(
        F.count("*").alias("n_catchable"),
        F.count("_hit").alias("covered"),
    ).first()
    out["catchable_region"] = {
        "n_truth_catchable": row["n_catchable"],
        "lsh_covered": row["covered"],
        "lsh_completeness": round(row["covered"] / max(row["n_catchable"], 1), 4),
    }
    for frame in t_est_caches:
        frame.unpersist()
    out["blocking_sec"] = round(time.time() - t0, 1)
    for frame in caches:
        frame.unpersist()
    return out


def main() -> None:
    n_entities = int(sys.argv[1]) if len(sys.argv) > 1 else 210_000
    out_path = (
        Path(sys.argv[2]) if len(sys.argv) > 2
        else REPO / "BENCH" / "r4" / f"banding_evidence_{n_entities}.json"
    )
    workdir = f"/tmp/banding_evidence_{n_entities}"
    # partition count scales with the corpus so the 95M+-pair metric
    # aggregations at 1M pages fit execution memory per-task (the same
    # rule a cluster submit would apply); 64 was measured OOMing at 526k
    # entities under concurrent load.
    spark = get_spark(
        "banding-evidence",
        shuffle_partitions=max(64, n_entities // 2000),
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    pages = pages_df(spark, n_entities)
    norm_path = f"{workdir}/norm"
    truth_path = f"{workdir}/truth"
    if not Path(norm_path, "_SUCCESS").exists():
        normalize.normalize_pages(pages).select(
            "url", "host", "norm_text"
        ).write.mode("overwrite").parquet(norm_path)
        # truth pairs restricted to surviving urls (normalize dedups
        # recrawls; generator variants all survive here)
        labeled_pairs_df(pages).write.mode("overwrite").parquet(truth_path)
    norm = spark.read.parquet(norm_path)
    truth = spark.read.parquet(truth_path)
    n_docs = norm.count()
    result: dict = {
        "n_entities": n_entities,
        "n_pages": n_docs,
        "n_truth_pairs": truth.count(),
        "gen_sec": round(time.time() - t0, 1),
    }

    result["fixed_42x3"] = run_arm(
        spark, norm, truth, n_docs,
        num_perm=FIXED_PERM, num_bands=FIXED_BANDS, workdir=workdir,
    )
    result["auto"] = run_arm(
        spark, norm, truth, n_docs,
        num_perm=AUTO_PERM_BUDGET, auto=True, workdir=workdir,
    )
    out_path.parent.mkdir(parents=True, exist_ok=True)
    out_path.write_text(json.dumps(result, indent=2) + "\n")
    print(json.dumps(result, indent=2))


if __name__ == "__main__":
    main()
