"""One benchmark process: set up a session, make the inputs, run the
workload's operations for the measured window, check them, and write the
raw results as JSON.

Started by ``perfbench/run.py`` in a fresh process with the run
environment pinned; ``--t0`` is the epoch time at which the parent
spawned it, so ``setup_s`` covers interpreter start, imports, session
start and the warm-up action.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

from perfbench import eventlog
from perfbench import spans as spans_mod
from perfbench.procmon import TreeMonitor
from perfbench.spec import TRACED_SPANS
from perfbench.workloads import WORKLOADS, Op

# An operation still running after this long is cancelled and failed.
OP_TIMEOUT_S = 120.0


def event_log_conf(path: Path) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(path),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def run_ops(wl, spark, inputs, work: Path, seconds: float, tracer) -> list[dict]:
    """Operations back to back until ``seconds`` have passed (at least one;
    exactly one when traced). Checks run later, outside the measurement
    and the trace."""
    mon = TreeMonitor().start()
    ops: list[dict] = []
    begin = time.time()
    try:
        while True:
            op_dir = work / f"op{len(ops)}"
            mon.mark()
            timer = threading.Timer(OP_TIMEOUT_S, _cancel, args=(spark,))
            timer.start()
            t0 = time.time()
            try:
                op = wl.run_op(spark, inputs, op_dir, tracer)
            except Exception as exc:
                op = Op(time.time() - t0, attempted=1, failed=1,
                        checks=[f"operation raised: {exc!r}"[:500]])
                traceback.print_exc()
            finally:
                timer.cancel()
            rss_mb, write_mb = mon.read()
            ops.append({"op": op, "rss_mb": rss_mb, "write_mb": write_mb})
            if tracer is not None or time.time() - begin >= seconds:
                return ops
    finally:
        mon.close()


def _cancel(spark) -> None:
    for q in spark.streams.active:
        q.stop()
    spark.sparkContext.cancelAllJobs()


def kernel_replay(path: Path, out: Path) -> dict:
    subprocess.run(
        [sys.executable, "-m", "perfbench.kernel_replay", str(path), str(out)],
        check=True, timeout=120,
    )
    return json.loads(out.read_text())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # The untraced reference of a traced run only needs its timing.
    ap.add_argument("--check", type=int, choices=(0, 1), default=1)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--work", type=Path, required=True)
    ap.add_argument("--out", type=Path, required=True)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    work = args.work
    work.mkdir(parents=True, exist_ok=True)

    from globalign_spark.session import get_spark

    evdir = work / "eventlog"
    conf = {}
    if args.trace:
        evdir.mkdir()
        conf = event_log_conf(evdir)
    spark = get_spark(f"perfbench-{wl.name}", extra_conf=conf)
    session_up = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 1000, numPartitions=4).selectExpr("sum(id)").collect()
    setup_s = time.time() - args.t0

    inputs = wl.make_inputs(spark, args.seed, work)
    tracer = spans_mod.Tracer() if args.trace else None
    undo = spans_mod.install(tracer) if tracer is not None else None
    try:
        ops = run_ops(wl, spark, inputs, work, args.seconds, tracer)
    finally:
        if undo is not None:
            undo()
    for o in ops:
        op = o["op"]
        if args.check and not op.failed:
            try:
                wl.check(spark, inputs, op)
            except Exception as exc:
                op.failed = op.attempted
                op.checks.append(f"check raised: {exc!r}"[:500])
                traceback.print_exc()

    result = {
        "workload": wl.name,
        "seed": args.seed,
        "setup_s": setup_s,
        "session_start_s": session_up - args.t0,
        "ops": [
            {
                "run_s": o["op"].run_s,
                "attempted": o["op"].attempted,
                "failed": o["op"].failed,
                "fold_s": o["op"].fold_s,
                "f1": o["op"].f1,
                "checks": o["op"].checks,
                "rss_mb": o["rss_mb"],
                "write_mb": o["write_mb"],
            }
            for o in ops
        ],
    }

    if tracer is not None:
        op = ops[0]["op"]
        layers = {"session.start_s": result["session_start_s"]}
        replay_in = None
        spans = tracer.as_dicts()
        if not op.failed:
            more, replay_in = wl.layers(spark, inputs, op, spans, args.seed, work)
            layers.update(more)
        spark.stop()
        by_span = eventlog.tasks_by_span(eventlog.parse_dir(evdir), spans)
        for name in TRACED_SPANS:
            if name in by_span:
                for k, v in eventlog.span_metrics(by_span[name]).items():
                    layers[f"{name}.{k}"] = v
        s3 = by_span.get("s3")
        pairs = op.detail.get("summary", {}).get("stages", {}).get(
            "s3_scores", {}).get("rows", 0)
        if s3 and pairs:
            m = eventlog.span_metrics(s3)
            layers["scoring.shuffle_mb_per_kpair"] = (
                m["shuffle_read_mb"] + m["shuffle_write_mb"]) / (pairs / 1000.0)
        if replay_in is not None:
            rep = kernel_replay(replay_in, work / "replay.json")
            layers["kernel.pairs_per_s_core"] = rep["pairs"] / rep["seconds"]
            layers["kernel.mcells_per_s_core"] = rep["cells"] / rep["seconds"] / 1e6
            if rep["mismatches"]:
                result["ops"][0]["failed"] = result["ops"][0]["attempted"]
                result["ops"][0]["checks"].append(
                    f"kernel replay: {rep['mismatches']} costs differ from s3"
                )
        result["layers"] = layers
        result["spans"] = spans
    else:
        spark.stop()

    args.out.write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
