"""The workloads: inputs made from a seed, one timed operation, its checks,
and the per-layer numbers of a traced operation.

Each workload is a closed loop in one process: the next operation starts
when the previous one has returned. Inputs are generated with the
engine's fixture generator before anything is timed; the program sees
only the page columns ``(url, warc_ts, html, text, lang)``, and the
benchmark keeps the generator's labelled pairs as truth.
"""

from __future__ import annotations

import inspect
import time
from dataclasses import dataclass, field
from itertools import combinations
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import spans as spans_mod
from perfbench.stats import median

# The BASELINE quality gate of the batch pipeline.
BATCH_F1_GATE = 0.99
SIM_THRESHOLD = 0.8
# Pairs sampled from the scoring input for the kernel replay.
REPLAY_PAIRS = 1500


@dataclass
class Op:
    """One timed operation and what its checks found."""

    run_s: float
    attempted: int
    failed: int = 0
    fold_s: list[float] = field(default_factory=list)
    f1: float = 0.0
    checks: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)


def pairwise_f1(assign: dict, truth: set[tuple[str, str]]) -> float:
    """Pairwise F1 of an ``id -> component`` assignment against truth
    pairs ``(a, b)`` with ``a < b``. Ids absent from ``assign`` are
    singletons."""
    groups: dict = {}
    for i, c in assign.items():
        groups.setdefault(c, []).append(i)
    pred = {
        (a, b) if a < b else (b, a)
        for members in groups.values()
        for a, b in combinations(members, 2)
    }
    tp = len(pred & truth)
    if tp == 0:
        return 0.0
    p, r = tp / len(pred), tp / len(truth)
    return 2 * p * r / (p + r)


def read_parquet(path: Path):
    return pq.read_table(str(path)).to_pandas()


def dir_mb(path: Path) -> float:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file()) / 1e6


def _truth(pages) -> set[tuple[str, str]]:
    from globalign_spark.sources import fixtures

    lp = fixtures.labeled_pairs_df(pages).select("url_1", "url_2").toPandas()
    return set(zip(lp["url_1"], lp["url_2"]))


def replay_input(pairs, texts: dict, seed: int, path: Path, cost_ref=None) -> None:
    """Write a seeded sample of ``pairs`` (id_1, id_2) with their texts for
    :mod:`perfbench.kernel_replay`."""
    rng = np.random.default_rng(seed)
    n = min(REPLAY_PAIRS, len(pairs))
    idx = np.sort(rng.choice(len(pairs), size=n, replace=False))
    sample = pairs.iloc[idx]
    cols = {
        "text_1": [texts[i] for i in sample["id_1"]],
        "text_2": [texts[i] for i in sample["id_2"]],
    }
    if cost_ref is not None:
        cols["cost_ref"] = pa.array(
            [cost_ref.get((a, b)) for a, b in zip(sample["id_1"], sample["id_2"])],
            type=pa.int64(),
        )
    pq.write_table(pa.table(cols), str(path))


def transport_seconds(spark, pairs_df, texts_df, id_col: str, text_col: str) -> float:
    """Wall time of the scoring stage with the kernel skipped
    (``score_pairs(transport_probe=True)``) over the given pairs."""
    from globalign_spark.config import unit_cost_params
    from globalign_spark.pipeline import blocking, scoring

    probe = scoring.score_pairs(
        blocking.attach_texts(pairs_df, texts_df, id_col, text_col),
        unit_cost_params(), sim_threshold=SIM_THRESHOLD, transport_probe=True,
    )
    t0 = time.time()
    probe.write.format("noop").mode("overwrite").save()
    return time.time() - t0


class BatchShort:
    """``orchestrator.run_pipeline`` with the default ``PipelineConfig``
    over a fixture corpus at the fixture's default page shape."""

    name = "batch_short"
    n_entities = 150

    def make_inputs(self, spark, seed: int, work: Path) -> dict:
        from globalign_spark.sources import fixtures
        from globalign_spark.streaming import PAGES_STREAM_SCHEMA

        pages = fixtures.pages_df(spark, self.n_entities, seed=seed)
        pdf = pages.toPandas()
        program = spark.createDataFrame(
            pdf[PAGES_STREAM_SCHEMA.fieldNames()], schema=PAGES_STREAM_SCHEMA
        )
        return {"pages": program, "truth": _truth(pages)}

    def run_op(self, spark, inputs: dict, op_dir: Path, tracer=None) -> Op:
        from globalign_spark.pipeline.orchestrator import (
            PipelineConfig, run_pipeline,
        )

        cfg = PipelineConfig(warehouse=str(op_dir / "warehouse"))
        t0 = time.time()
        if tracer is None:
            summary = run_pipeline(spark, inputs["pages"], cfg)
        else:
            with tracer.span("run"):
                summary = run_pipeline(spark, inputs["pages"], cfg)
        run_s = time.time() - t0
        return Op(run_s, attempted=1, fold_s=[run_s],
                  detail={"summary": summary, "warehouse": Path(cfg.warehouse)})

    def check(self, spark, inputs: dict, op: Op) -> None:
        comps = read_parquet(op.detail["warehouse"] / "s5_components" / "data")
        op.f1 = pairwise_f1(dict(zip(comps["id"], comps["component"])),
                            inputs["truth"])
        if op.f1 < BATCH_F1_GATE:
            op.failed = 1
            op.checks.append(f"f1 {op.f1:.4f} below the gate {BATCH_F1_GATE}")

    def layers(self, spark, inputs: dict, op: Op, spans: list[dict],
               seed: int, work: Path) -> tuple[dict, Path]:
        """Per-layer numbers of a traced operation, and the kernel-replay
        input it wrote."""
        wh = op.detail["warehouse"]
        stages = op.detail["summary"]["stages"]

        def rows(stage):
            return stages[stage]["rows"]

        def dur(name):
            return spans_mod.total_by_name(spans, name)[0]

        run = next(s for s in spans if s["name"] == "run")
        unattributed = spans_mod.self_times(spans)[run["id"]]
        cc_s, cc_calls = spans_mod.total_by_name(spans, "cc")

        cand = read_parquet(wh / "s1_candidates" / "data")[["id_1", "id_2"]]
        rep = read_parquet(wh / "s0b_rep_map" / "data")
        rep_of = dict(zip(rep["url"], rep["rep_url"]))
        truth_b = set()
        for a, b in inputs["truth"]:
            ra, rb = rep_of.get(a), rep_of.get(b)
            if ra is not None and rb is not None and ra != rb:
                truth_b.add((min(ra, rb), max(ra, rb)))
        cand_set = {(min(a, b), max(a, b)) for a, b in zip(cand["id_1"], cand["id_2"])}
        completeness = len(truth_b & cand_set) / len(truth_b) if truth_b else 1.0

        s3_rows = rows("s3_scores")
        out = {
            "normalize.s0_s": dur("s0"),
            "blocking.signatures_s": dur("signatures"),
            "blocking.choose_banding_s": dur("choose_banding"),
            "blocking.candidates_s": dur("candidates"),
            "blocking.candidates_per_page": rows("s1_candidates") / rows("s0_normalized"),
            "blocking.screened_out": float(
                stages["s1_candidates"]["lsh_bucket_stats"]["n_screened_out"]
            ),
            "blocking.pair_completeness": completeness,
            "blocking.rescue_s": dur("rescue"),
            "blocking.rescue_edges": float(rows("s4b_rescue_edges")),
            "scoring.s3_s": dur("s3"),
            "scoring.pairs_per_s": s3_rows / dur("s3"),
            "scoring.edge_yield": rows("s4_edges") / s3_rows if s3_rows else 0.0,
            "clustering.cc_s": cc_s,
            "clustering.cc_calls": float(cc_calls),
            # Pre-rescue CC reads s4; the final CC reads s4 and s4b.
            "clustering.edges_in": float(2 * rows("s4_edges") + rows("s4b_rescue_edges")),
            "orchestrator.s0b_s": dur("s0b"),
            "orchestrator.s4_s": dur("s4"),
            "orchestrator.s5_s": dur("s5"),
            "orchestrator.checkpoint_mb": dir_mb(wh),
            "orchestrator.unattributed_s": unattributed,
            "trace.run_s": run["end"] - run["start"],
        }

        norm = spark.read.parquet(str(wh / "s0_normalized" / "data"))
        out["scoring.transport_s"] = transport_seconds(
            spark, spark.read.parquet(str(wh / "s1_candidates" / "data"))
            .select("id_1", "id_2"), norm, "url", "norm_text",
        )

        s0 = read_parquet(wh / "s0_normalized" / "data")
        s3 = read_parquet(wh / "s3_scores" / "data")
        s3 = s3[s3["cost"].notna()]
        cost_ref = dict(zip(zip(s3["id_1"], s3["id_2"]), s3["cost"].astype(int)))
        path = work / "replay.parquet"
        replay_input(cand, dict(zip(s0["url"], s0["norm_text"])), seed, path,
                     cost_ref=cost_ref)
        return out, path


def alignment_edges(corpus, cand):
    """The benchmark's ``edge_fn``: candidate pairs whose alignment
    similarity reaches :data:`SIM_THRESHOLD`."""
    from pyspark.sql import functions as F

    from globalign_spark.config import unit_cost_params
    from globalign_spark.pipeline import blocking, scoring

    scored = scoring.with_similarity(scoring.score_pairs(
        blocking.attach_texts(cand.select("id_1", "id_2"), corpus, "doc_id", "text"),
        unit_cost_params(), sim_threshold=SIM_THRESHOLD,
    ))
    return scored.where(
        (~F.col("oversize")) & (F.col("similarity") >= SIM_THRESHOLD)
    ).select("id_1", "id_2")


class StreamFold:
    """``streaming.stream_incremental_er`` over normalized fixture docs
    split into drop files, one file per micro-batch, with the alignment
    ``edge_fn`` above."""

    name = "stream_fold"
    n_entities = 700
    n_files = 3

    def make_inputs(self, spark, seed: int, work: Path) -> dict:
        from globalign_spark import streaming
        from globalign_spark.sources import fixtures

        pages = fixtures.pages_df(spark, self.n_entities, seed=seed)
        docs = (
            streaming.stream_normalize(pages)
            .selectExpr("url AS doc_id", "norm_text AS text")
            .toPandas()
        )
        # Variants of one entity land in different files, so later batches
        # link to clusters formed by earlier ones.
        docs = docs.iloc[np.random.default_rng(seed).permutation(len(docs))]
        drop = work / "drop"
        drop.mkdir(parents=True)
        for i, part in enumerate(np.array_split(np.arange(len(docs)), self.n_files)):
            pq.write_table(
                pa.Table.from_pandas(docs.iloc[part], preserve_index=False),
                str(drop / f"batch_{i:03d}.parquet"),
            )
        return {"drop": drop, "docs": docs, "truth": _truth(pages)}

    def run_op(self, spark, inputs: dict, op_dir: Path, tracer=None) -> Op:
        from pyspark.sql.types import StringType, StructField, StructType

        from globalign_spark import streaming

        schema = StructType([StructField("doc_id", StringType()),
                             StructField("text", StringType())])
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(inputs["drop"]))
        )
        edge_fn = alignment_edges
        if tracer is not None:
            def edge_fn(corpus, cand):
                with tracer.span("edge_fn"):
                    return alignment_edges(corpus, cand)
        state = op_dir / "state"
        t0 = time.time()
        q = streaming.stream_incremental_er(
            src, str(state), str(op_dir / "ckpt"), edge_fn=edge_fn
        )
        error = None
        try:
            q.awaitTermination()
        except Exception as exc:  # a failed micro-batch ends the query
            error = exc
        run_s = time.time() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        op = Op(run_s, attempted=len(progress),
                fold_s=[p["batchDuration"] / 1000.0 for p in progress],
                detail={"progress": progress, "state": state})
        if error is not None:
            op.attempted += 1
            op.failed = 1
            op.checks.append(f"stream failed: {error!r}"[:500])
        return op

    def check(self, spark, inputs: dict, op: Op) -> None:
        """The fold's final assignment must equal a one-shot closure over
        the union corpus with the same candidate generator and edge_fn."""
        from pyspark.sql import functions as F

        from globalign_spark import streaming
        from globalign_spark.ops import dedup
        from globalign_spark.pipeline.clustering import connected_components
        from globalign_spark.pipeline.incremental import (
            incremental_candidates_from_bands,
        )

        if op.failed:
            return
        defaults = {
            k: p.default
            for k, p in inspect.signature(
                streaming.stream_incremental_er).parameters.items()
        }
        docs = spark.read.parquet(str(inputs["drop"]))
        bands = dedup.lsh_band_rows(
            docs, "doc_id", "text", defaults["k"], defaults["num_perm"],
            defaults["num_bands"],
        )
        cand = incremental_candidates_from_bands(
            bands.limit(0), bands, bucket_cap=defaults["bucket_cap"]
        ).select("id_1", "id_2").localCheckpoint()
        edges = alignment_edges(
            docs.withColumn("is_new", F.lit(True)), cand
        ).localCheckpoint()
        closure = connected_components(edges, src="id_1", dst="id_2")
        want = {(r["id"], r["component"]) for r in closure.collect()}
        got = {
            (r["id"], r["component"])
            for r in streaming.latest_assignment(spark, str(op.detail["state"])).collect()
        }
        if got != want:
            op.failed = op.attempted
            op.checks.append(
                f"fold differs from one-shot closure: {len(got ^ want)} rows"
            )
        op.f1 = pairwise_f1(dict(got), inputs["truth"])
        op.detail["cand"] = cand.toPandas()
        op.detail["n_edges"] = edges.count()

    def layers(self, spark, inputs: dict, op: Op, spans: list[dict],
               seed: int, work: Path) -> tuple[dict, Path]:
        progress = op.detail["progress"]
        n = len(progress)

        def per_batch(name):
            return spans_mod.total_by_name(spans, name)[0] / n

        def progress_s(key):
            return median([p["durationMs"].get(key, 0) for p in progress]) / 1000.0

        cand = op.detail["cand"]
        n_cand, n_edges = len(cand), op.detail["n_edges"]
        cc_s, cc_calls = spans_mod.total_by_name(spans, "cc")
        yield_ = n_edges / n_cand if n_cand else 0.0
        out = {
            "fold.add_batch_s": progress_s("addBatch"),
            "fold.wal_commit_s": progress_s("walCommit"),
            "fold.signatures_s": per_batch("fold.signatures"),
            "fold.assign_write_s": per_batch("fold.assign_write"),
            "fold.state_write_s": per_batch("fold.state_write"),
            "fold.state_mb": dir_mb(op.detail["state"]),
            "fold.edge_yield": yield_,
            "scoring.edge_yield": yield_,
            "clustering.cc_s": cc_s,
            "clustering.cc_calls": float(cc_calls),
            # Edges the fold hands to CC over all batches; each candidate
            # pair is scored in the batch that delivers its later doc.
            "clustering.edges_in": float(n_edges),
            "trace.run_s": op.run_s,
        }
        docs = spark.createDataFrame(inputs["docs"])
        out["scoring.transport_s"] = transport_seconds(
            spark, spark.createDataFrame(cand), docs, "doc_id", "text"
        )
        path = work / "replay.parquet"
        d = inputs["docs"]
        replay_input(cand, dict(zip(d["doc_id"], d["text"])), seed, path)
        return out, path


WORKLOADS = {w.name: w for w in (BatchShort(), StreamFold())}
