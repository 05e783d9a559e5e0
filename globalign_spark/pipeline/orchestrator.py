"""Stage graph with checkpointed, resumable execution.

Each stage writes its output as a parquet "checkpoint table" under the run's
warehouse directory together with a ``_MANIFEST.json`` (stage name, row
count, input fingerprints, per-file row counts). A re-run skips every
stage whose manifest is present and consistent — a killed run resumes at the
last completed stage (north_rule). The table abstraction is format-agnostic:
with an Iceberg catalog configured these become ``writeTo(...)`` appends with
snapshot ids in the manifest; the parquet + manifest degradation documented
in SURVEY.md §7.3 is active here. Jar-availability record (round 2,
2026-08-17): no ``iceberg-spark-runtime`` jar exists anywhere on this image
(``find / -name '*iceberg*'`` -> none; pyspark jars dir has 0 matches) and
the sandbox has no network (repo1.maven.org unreachable), so
``spark.jars.packages`` cannot fetch it — the Iceberg path stays unexercised
by environment, not by design. Manifests now also carry the PipelineConfig
fingerprint, refusing cross-config reuse (the Iceberg analogue would be
snapshot properties).

Pipeline (SURVEY.md §3.4):
  0 normalize -> 1 blocking/candidates -> 3 scoring -> 4 edges ->
  5 clustering -> 6 metrics + lineage
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import AlignParams, unit_cost_params
from ..ops import dedup
from . import blocking, clustering, metrics, normalize, scoring


@dataclass
class PipelineConfig:
    warehouse: str
    shingle_k: int = 5
    num_perm: int = 126
    # 42 bands x 3 rows is the recall-bearing banding: measured on the
    # 50k-entity corpus, base-variant truth pairs bottom out at Jaccard
    # ~0.42 (p5), where 16x4 banding catches an edge with only p~0.41 —
    # that cost 4 points of pairwise recall (F1 0.977 vs the 0.99 gate).
    # 42x3 lifts the per-edge catch to ~0.96 (F1 0.9982). The collision
    # flood this admits on shingle-dense corpora (5.8x candidates) is cut
    # back by the signature screen below (44.5M -> 9.5M scored pairs,
    # F1 0.9981, scoring stage 3x faster); 2-row banding remains out of
    # reach (junk collisions at background Jaccard ~0.17 go p~0.62).
    num_bands: int = 42
    bucket_cap: int = 200
    # Over-cap LSH buckets are refined with a within-bucket
    # sorted-neighborhood pass (window below) instead of dropped: at the
    # 50k-entity scale-up run, drops cost 4 points of recall (F1 0.977)
    # because generic-shingle buckets grow with the corpus and carry true
    # pairs. 0 = hard drop (pre-round-3 semantics).
    over_cap_window: int = 8
    # Signature screen between LSH bucketing and alignment: pairs whose
    # MinHash-estimated Jaccard is under the floor never reach the DP
    # kernel (drops counted in stats, never silent). 0 = no screen.
    # 0.25 sits between the weakest rescued truth pairs (variant-variant
    # p25 = 0.34, base-variant p5 = 0.42) and the background (p95 = 0.23);
    # measured at 50k entities it keeps F1 at 0.9981 vs 0.9982 unscreened.
    est_jaccard_floor: float = 0.25
    sn_window: int = 6
    similarity_threshold: float = 0.8
    text_from_html: bool = False
    # Collapse byte-identical texts to one representative before blocking:
    # exact duplicates always pass the similarity threshold, so clusters
    # are provably unchanged, while blocking/scoring cost drops by the
    # square of the dup mass (a Common-Crawl-style corpus is ~half exact
    # duplicates). Components are expanded back to every member url.
    exact_dedup_first: bool = True
    # Singleton rescue pass (round 3): pairwise recall decays with corpus
    # size (1.0 at 5k -> 0.9962 at 50k -> 0.9876 at 200k entities) because
    # the 42x3 banding's per-edge catch probability meets an ever-longer
    # truth-pair tail — a variant whose ONLY edge is missed stays a
    # singleton. After connected components, records with no fuzzy edge
    # re-probe the corpus with the SAME signatures regrouped as 63 bands
    # x 2 rows (per-edge catch ~0.9995 at Jaccard 0.34), new pairs are
    # aligned with the same kernel+threshold, and components are
    # recomputed. Measured at 50k entities: recall 0.99623 -> 0.99985
    # (F1 0.99811 -> 0.99992). The probe set is every unclustered rep —
    # true loners included, ~30% of reps on this corpus — so the cost is
    # linear in corpus size with a cap-bounded constant (<= bands x
    # rescue_bucket_cap collisions per probe), roughly a third of what
    # corpus-wide 2-row banding would pay; the signature screen + top_k
    # keep the alignment stage's share of that negligible. See
    # blocking.rescue_candidates for the guard stack.
    #
    # rescue_top_k=50 (was 500): a singleton needs its BEST partners, not
    # every floor-passing bucket cohabitant, and true partners outrank the
    # screen-surviving background on estimated Jaccard (vv p25 = 0.34 vs
    # background p95 = 0.23). Measured at 50k entities, identical 232
    # rescue edges and F1 = 0.9998745 to full precision at 50 vs 500,
    # with the s4b stage 12x faster (216 s -> 18 s: collisions/screen
    # unchanged at 131M/110M, alignment volume cut from ~21M to <= 1.5M
    # pairs). BENCH/r3/pipeline_50k_topk50.json vs pipeline_50k_sigshare.
    rescue_singletons: bool = True
    rescue_rows_per_band: int = 2
    rescue_bucket_cap: int = 500
    rescue_top_k: int = 50
    # Adaptive banding (round 4): derive (rows_per_band, num_bands) from
    # the corpus's measured truth-pair Jaccard histogram instead of the
    # num_bands constant above — see blocking.choose_banding. num_perm
    # stays the signature-width BUDGET (banding may use a prefix); the
    # chosen plan lands in the s1_candidates manifest as lineage. The
    # fixed default is tuned at 50k entities; at 400k+ the truth tail
    # thickens near the Jaccard floor and fixed banding's completeness
    # decays (0.9266 at 400k -> 0.9002 at 1M) — auto mode re-provisions
    # per corpus. DEFAULT since round 5: the measured A/B (BENCH/r4/
    # SCALE_EVIDENCE.md) showed auto 0.9356 vs fixed 0.8984 completeness
    # at 1M for a bounded provisioning cost (~140 s at 1M pages), and the
    # chooser itself is probe-limited with histogram-sized collects. The
    # chosen plan is recorded in the s1_candidates manifest as lineage;
    # pass --no-auto-banding / auto_banding=False for the fixed 42x3 plan.
    auto_banding: bool = True
    auto_banding_target: float = 0.95
    params: AlignParams = field(default_factory=unit_cost_params)

    def fingerprint(self) -> str:
        """Stable hash of every field that changes stage OUTPUTS. A
        checkpoint written under one config must not be silently reused by
        a run with different stage semantics (e.g. sn_window or threshold
        changed): downstream stages would mix configs with no error."""
        import hashlib

        payload = {
            "shingle_k": self.shingle_k,
            "num_perm": self.num_perm,
            "num_bands": self.num_bands,
            "bucket_cap": self.bucket_cap,
            "over_cap_window": self.over_cap_window,
            "est_jaccard_floor": self.est_jaccard_floor,
            "sn_window": self.sn_window,
            "similarity_threshold": self.similarity_threshold,
            "text_from_html": self.text_from_html,
            "exact_dedup_first": self.exact_dedup_first,
            "rescue_singletons": self.rescue_singletons,
            "rescue_rows_per_band": self.rescue_rows_per_band,
            "rescue_bucket_cap": self.rescue_bucket_cap,
            "rescue_top_k": self.rescue_top_k,
            "auto_banding": self.auto_banding,
            "auto_banding_target": self.auto_banding_target,
            "params": repr(self.params),
            # Bump whenever STAGE CODE changes output semantics with no
            # config field to witness it (the config hash alone cannot see
            # code changes, so an old warehouse would otherwise resume with
            # mixed stage semantics and no error). v2: canonical-url
            # recrawl-dedup identity + canonical host in s0 (round 3).
            # v3: s1 signatures and band keys from the md5 / 2^31-1
            # MinHash family (ops.dedup.minhash_signatures).
            "stage_semantics_version": 3,
        }
        return hashlib.sha256(
            json.dumps(payload, sort_keys=True).encode()
        ).hexdigest()[:16]


class Checkpointer:
    def __init__(
        self, spark: SparkSession, warehouse: str, cfg_fingerprint: str = ""
    ):
        self.spark = spark
        self.root = Path(warehouse)
        self.root.mkdir(parents=True, exist_ok=True)
        self.cfg_fingerprint = cfg_fingerprint

    def _manifest_path(self, name: str) -> Path:
        return self.root / name / "_MANIFEST.json"

    def has(self, name: str) -> bool:
        """A stage checkpoint counts as present only if it was written under
        the SAME config fingerprint; a mismatch is a hard error, not a
        silent reuse (a warehouse from an older config would otherwise feed
        stale candidates into a pipeline with different stage semantics)."""
        if not self._manifest_path(name).is_file():
            return False
        if self.cfg_fingerprint:
            found = self.manifest(name).get("cfg_fingerprint")
            if found != self.cfg_fingerprint:
                raise RuntimeError(
                    f"checkpoint {name!r} in {self.root} was written under "
                    f"config fingerprint {found!r}, current config is "
                    f"{self.cfg_fingerprint!r}: refusing to mix stage "
                    "semantics. Point --warehouse at a fresh directory or "
                    "delete the stale stages."
                )
        return True

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(str(self.root / name / "data"))

    def write(self, name: str, df: DataFrame, meta: dict | None = None) -> DataFrame:
        """Materialize a stage once; returns the re-read frame (so downstream
        plans read a scan, not the whole upstream lineage)."""
        if self.has(name):
            return self.read(name)
        path = self.root / name
        t0 = time.time()
        df.write.mode("overwrite").parquet(str(path / "data"))
        # Re-read with the written schema (no schema-inference job) and
        # count rows from the parquet footers (no Spark action).
        out = self.spark.read.schema(df.schema).parquet(str(path / "data"))
        lineage = [
            {"file": f.name, "n_rows": pq.ParquetFile(f).metadata.num_rows}
            for f in sorted((path / "data").glob("*.parquet"))
        ]
        manifest = {
            "stage": name,
            "cfg_fingerprint": self.cfg_fingerprint,
            "rows": sum(r["n_rows"] for r in lineage),
            "partitions": len(lineage),
            "wall_sec": round(time.time() - t0, 3),
            "lineage": lineage,
            **(meta or {}),
        }
        self._manifest_path(name).write_text(json.dumps(manifest, indent=1))
        return out

    def manifest(self, name: str) -> dict:
        return json.loads(self._manifest_path(name).read_text())


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig,
    labeled_pairs: DataFrame | None = None,
) -> dict:
    """Full ER pipeline; returns summary dict incl. per-stage manifests."""
    ck = Checkpointer(spark, cfg.warehouse, cfg_fingerprint=cfg.fingerprint())

    norm = ck.write(
        "s0_normalized",
        normalize.normalize_pages(pages, text_from_html=cfg.text_from_html)
        .select(
            "url", "canonical_url", "host", "norm_text", "lang", "warc_ts"
        ),
    )

    rep_map = None
    if cfg.exact_dedup_first:
        hashed = norm.select("url", F.md5(F.col("norm_text")).alias("_md5"))
        reps = hashed.groupBy("_md5").agg(F.min("url").alias("rep_url"))
        rep_map = ck.write(
            "s0b_rep_map", hashed.join(reps, "_md5").select("url", "rep_url")
        )
        # Only representatives flow through blocking + scoring.
        norm = norm.join(
            rep_map.where(F.col("url") == F.col("rep_url")).select("url"),
            "url",
            "left_semi",
        )

    # One corpus-wide shingle+minhash pass, checkpointed: the main banding
    # pass (s1), its signature screen, and the singleton-rescue re-banding
    # (s4b) all derive from this parquet scan instead of each recomputing
    # P permutation minima over every document — at 10^12 rows that
    # recompute is a second full-corpus map pass spent on a probe set
    # that is a few percent of the corpus. Gated so a fully-resumed run
    # (both downstream checkpoints present) never materializes it.
    need_sig = not ck.has("s1_candidates") or (
        cfg.rescue_singletons and not ck.has("s4b_rescue_edges")
    )
    sig = (
        ck.write(
            "s1_signatures",
            dedup.minhash_signatures(
                norm, "url", "norm_text", cfg.shingle_k, cfg.num_perm
            ),
        )
        if need_sig
        else None
    )
    # Corpus row count for the screen's broadcast guard, read from the
    # manifest just written — zero extra Spark actions.
    n_docs = ck.manifest("s1_signatures")["rows"] if need_sig else None

    if not ck.has("s1_candidates"):
        num_bands, band_width, plan_meta = cfg.num_bands, None, {}
        if cfg.auto_banding:
            plan = blocking.choose_banding(
                sig, cfg.num_perm,
                norm_df=norm, id_col="url", text_col="norm_text",
                target_completeness=cfg.auto_banding_target,
                dup_threshold=max(cfg.est_jaccard_floor, 0.25),
                n_docs=n_docs,
                params=cfg.params,
                confirm_threshold=cfg.similarity_threshold,
                prod_bucket_cap=cfg.bucket_cap,
            )
            num_bands = plan.num_bands
            band_width = plan.num_perm
            plan_meta = {"banding_plan": plan.as_dict()}
        s1_caches: list = []
        lsh_pairs, lsh_stats = blocking.lsh_candidates(
            norm,
            sig,
            id_col="url",
            text_col="norm_text",
            num_perm=cfg.num_perm,
            num_bands=num_bands,
            bucket_cap=cfg.bucket_cap,
            over_cap_window=cfg.over_cap_window,
            est_jaccard_floor=cfg.est_jaccard_floor,
            cache_registry=s1_caches,
            n_docs=n_docs,
            band_width=band_width,
        )
        sn_pairs = blocking.sorted_neighborhood_candidates(
            norm, id_col="url", key_col="host", order_col="norm_text",
            window=cfg.sn_window,
        )
        # Second linear pass ordered by REVERSED text: a variant whose
        # leading characters mutated sorts far from its cluster in prefix
        # order but adjacent in suffix order. Together the two orders +
        # transitive closure cover the low-Jaccard tail that LSH can't
        # reach without candidate blow-up.
        norm_rev = norm.withColumn("_rev", F.reverse(F.col("norm_text")))
        sn_rev = blocking.sorted_neighborhood_candidates(
            norm_rev, id_col="url", key_col="host", order_col="_rev",
            window=cfg.sn_window,
        )
        cand = lsh_pairs.union(sn_pairs).union(sn_rev).distinct()
        stats_row = lsh_stats.collect()[0].asDict()
        cand = ck.write(
            "s1_candidates", cand,
            meta={"lsh_bucket_stats": stats_row, **plan_meta},
        )
        # Both readers of the screened-candidate cache (stats collect,
        # checkpoint write) have run; release it so repeated runs in one
        # session don't accumulate dead cached partitions.
        for frame in s1_caches:
            frame.unpersist()
    else:
        cand = ck.read("s1_candidates")

    pairs_with_text = blocking.attach_texts(cand, norm, "url", "norm_text")
    # Banded scoring: only costs at/under the edge threshold are needed
    # downstream; certified-over-threshold pairs carry over_band lineage.
    scored = ck.write(
        "s3_scores",
        scoring.with_similarity(
            scoring.score_pairs(
                pairs_with_text, cfg.params,
                sim_threshold=cfg.similarity_threshold,
            )
        ),
    )

    edges = ck.write(
        "s4_edges",
        scored.where(scoring.is_edge(cfg.similarity_threshold)).select(
            "id_1", "id_2", "similarity"
        ),
    )

    if cfg.rescue_singletons:
        if not ck.has("s4b_rescue_edges"):
            # Probe set: representatives with NO fuzzy edge after the main
            # pass — exactly the records the measured recall decay lives
            # in. (A rep whose exact-dup group has >= 2 members but no
            # fuzzy edge is still a probe: its group may belong to a
            # larger fuzzy cluster whose only linking edge was missed.)
            # Two anti-joins against the edge endpoints: the node set of
            # the pre-rescue components, without running them.
            linked = edges.where(F.col("id_1") != F.col("id_2"))
            probe = norm.select("url")
            for end in ("id_1", "id_2"):
                probe = probe.join(
                    linked.select(F.col(end).alias("url")), "url", "left_anti"
                )
            rescue_caches: list = []
            r_pairs, r_stats = blocking.rescue_candidates(
                sig,
                probe,
                num_perm=cfg.num_perm,
                rows_per_band=cfg.rescue_rows_per_band,
                bucket_cap=cfg.rescue_bucket_cap,
                est_jaccard_floor=cfg.est_jaccard_floor,
                top_k=cfg.rescue_top_k,
                cache_registry=rescue_caches,
                n_docs=n_docs,
            )
            # Pairs the main pass already scored must not be re-aligned.
            # Every rescue pair touches a probe, so narrowing s1 to rows
            # touching a probe keeps the anti-join O(|probe|-adjacent),
            # not O(|s1|): the semi-joins are scans of the checkpointed
            # narrow candidates table against a broadcastable probe set.
            seen = (
                cand.join(probe.select(F.col("url").alias("id_1")),
                          "id_1", "left_semi")
                .union(
                    cand.join(probe.select(F.col("url").alias("id_2")),
                              "id_2", "left_semi")
                )
                .distinct()
            )
            r_new = r_pairs.join(seen, ["id_1", "id_2"], "left_anti")
            r_scored = scoring.with_similarity(
                scoring.score_pairs(
                    blocking.attach_texts(r_new, norm, "url", "norm_text"),
                    cfg.params,
                    sim_threshold=cfg.similarity_threshold,
                )
            )
            stats_row = r_stats.collect()[0].asDict()
            rescue_edges = ck.write(
                "s4b_rescue_edges",
                r_scored.where(
                    scoring.is_edge(cfg.similarity_threshold)
                ).select("id_1", "id_2", "similarity"),
                meta={"rescue_bucket_stats": stats_row},
            )
            for frame in rescue_caches:
                frame.unpersist()
        else:
            rescue_edges = ck.read("s4b_rescue_edges")
        rep_comps = clustering.connected_components(
            edges.union(rescue_edges), src="id_1", dst="id_2"
        )
    else:
        rep_comps = clustering.connected_components(
            edges, src="id_1", dst="id_2"
        )

    if cfg.exact_dedup_first:
        # Expand representative components back to every member url.
        # Each rep is the min url of its exact group, so component labels
        # (min member url of the fuzzy component) are identical to the
        # no-prepass pipeline's. Groups whose rep has no fuzzy edge become
        # their own cluster via the coalesce.
        group_sizes = rep_map.groupBy("rep_url").agg(
            F.count("*").alias("_gsz")
        )
        comps = ck.write(
            "s5_components",
            rep_map.join(group_sizes, "rep_url")
            .join(
                rep_comps.withColumnRenamed("id", "rep_url"),
                "rep_url",
                "left",
            )
            # Equal-or-better recall vs the no-prepass output: every url in
            # a cluster of size >= 2 — fuzzy (rep has a component) or exact
            # (group of byte-identical texts with >= 2 members, whose pairs
            # the no-prepass pipeline would have scored at similarity 1).
            # Identical when no LSH bucket-cap drops occur; under cap
            # pressure the prepass output is a strict SUPERSET (large
            # exact-dup families shrink to one rep and no longer overflow
            # buckets, so the no-prepass run may drop pairs this one keeps).
            .where(F.col("component").isNotNull() | (F.col("_gsz") >= 2))
            .select(
                F.col("url").alias("id"),
                F.coalesce("component", "rep_url").alias("component"),
            ),
        )
    else:
        comps = ck.write("s5_components", rep_comps)

    stage_names = ["s0_normalized", "s1_candidates", "s3_scores",
                   "s4_edges", "s5_components"]
    if cfg.rescue_singletons:
        stage_names.insert(4, "s4b_rescue_edges")
    if cfg.exact_dedup_first:
        stage_names.insert(1, "s0b_rep_map")
    # Written on fresh runs; a fully-resumed run may legitimately lack it.
    if ck.has("s1_signatures"):
        stage_names.insert(1, "s1_signatures")
    summary = {
        "stages": {
            n: {k: v for k, v in ck.manifest(n).items() if k != "lineage"}
            for n in stage_names
        }
    }
    if labeled_pairs is not None:
        pred = metrics.predicted_pairs(
            comps.select(F.col("id").alias("id"), "component")
        )
        summary["eval"] = metrics.pairwise_prf(pred, labeled_pairs)
        # Blocker-stage metrics over the universe the blocker actually
        # saw. With the exact-dedup prepass, labeled urls project to their
        # representatives: exact-duplicate truth pairs collapse to
        # self-pairs and drop out (the prepass finds those, not the
        # blocker), so pair completeness measures the blocker alone.
        truth_b = labeled_pairs
        if rep_map is not None:
            l0 = labeled_pairs.select(
                F.col(labeled_pairs.columns[0]).alias("u1"),
                F.col(labeled_pairs.columns[1]).alias("u2"),
            )
            m1 = rep_map.select(
                F.col("url").alias("u1"), F.col("rep_url").alias("r1")
            )
            m2 = rep_map.select(
                F.col("url").alias("u2"), F.col("rep_url").alias("r2")
            )
            truth_b = (
                l0.join(m1, "u1")
                .join(m2, "u2")
                .where(F.col("r1") != F.col("r2"))
                .select(
                    F.least("r1", "r2").alias("u1"),
                    F.greatest("r1", "r2").alias("u2"),
                )
            )
        summary["blocking"] = (
            metrics.blocking_quality(cand, truth_b, norm.count())
            .first()
            .asDict()
        )
    return summary
