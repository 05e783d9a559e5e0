"""Entity-resolution benchmark for globalign_spark.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload batch_short --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 1 --trace 0

Each run starts the workload in a fresh process on ``local[nproc]`` with
the run environment pinned (see :func:`pinned_env`), prints every metric
with its unit and sample count, and ends with one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` makes one
untraced and one traced run, each in its own process, and reports the
per-layer metrics of the traced one plus the tracing overhead. Scratch
files live under ``.perfbench_work/`` in the checkout and are removed at
the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench.spec import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402
from perfbench.stats import median, summarize  # noqa: E402

WORK = ROOT / ".perfbench_work"
# Below the 15 GB of the 4-core box the benchmark was sized on; the
# engine's own default (24g) is a cluster-driver setting.
DRIVER_MEM = "4g"
# Workers of one workload still alive this long after the first started
# are killed, and the run fails: a run must end within 180 s.
WORKLOAD_TIMEOUT_S = 170.0


def pinned_env(run_dir: Path) -> dict[str, str]:
    """The environment every worker runs in; recorded in the output."""
    local, tmp = run_dir / "local", run_dir / "tmp"
    local.mkdir(parents=True)
    tmp.mkdir()
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")}
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(local),
        # Executors unpickle engine functions inside mapInPandas; a
        # driver-side sys.path entry does not reach them.
        "PYTHONPATH": str(ROOT),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    return env


def _group_alive(pgid: int) -> bool:
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                stat = (p / "stat").read_text()
            except OSError:
                continue
            state, _, pgrp = stat[stat.rindex(")") + 2:].split()[:3]
            if int(pgrp) == pgid and state != "Z":
                return True
    return False


def _reap_group(proc: subprocess.Popen) -> None:
    """Kill whatever the worker left in its process group and wait until
    every member has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 5
        while time.time() < deadline:
            if proc.poll() is None:
                time.sleep(0.05)
                continue
            if not _group_alive(proc.pid):
                return
            time.sleep(0.05)


def run_worker(workload: str, seed: int, seconds: float, trace: int,
               tag: str, deadline: float, check: bool = True) -> dict:
    run_dir = WORK / tag
    if run_dir.exists():
        shutil.rmtree(run_dir)
    run_dir.mkdir(parents=True)
    env = pinned_env(run_dir)
    out = run_dir / "result.json"
    log = run_dir / "worker.log"
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--check", str(int(check)),
           "--work", str(run_dir / "data"),
           "--out", str(out)]
    with open(log, "w") as fh:
        t0 = time.time()
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=run_dir,
                                env=env, stdout=fh, stderr=fh,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _reap_group(proc)
    if code != 0 or not out.is_file():
        tail = log.read_text(errors="replace")[-4000:]
        raise RuntimeError(
            f"{workload} worker {'timed out' if code is None else f'exited {code}'}"
            f"\n--- worker log tail ---\n{tail}"
        )
    result = json.loads(out.read_text())
    result["env"] = {k: env[k] for k in (
        "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS",
        "PYTHONPATH")}
    shutil.rmtree(run_dir)
    return result


def end_to_end(res: dict) -> dict[str, dict]:
    """End-to-end metrics of one untraced worker result, each with its
    sample count."""
    ops = res["ops"]
    attempted = sum(o["attempted"] for o in ops)
    failed = sum(o["failed"] for o in ops)
    return {
        "setup_s": summarize([res["setup_s"]]),
        "run_s": summarize([o["run_s"] for o in ops]),
        "fold_p50_s": summarize([s for o in ops for s in o["fold_s"]]
                                or [o["run_s"] for o in ops]),
        "f1": summarize([o["f1"] for o in ops]),
        "peak_rss_mb": {"value": max(o["rss_mb"] for o in ops), "n": len(ops)},
        "disk_write_mb": summarize([o["write_mb"] for o in ops]),
        "failed_frac": {"value": failed / attempted, "n": attempted},
    }


def per_layer(untraced: dict, traced: dict) -> dict[str, dict]:
    layers = dict(traced.get("layers", {}))
    layers["peak_rss_mb"] = max(o["rss_mb"] for o in untraced["ops"])
    if "trace.run_s" in layers:
        layers["trace.overhead_s"] = layers["trace.run_s"] - median(
            [o["run_s"] for o in untraced["ops"]])
    # A layer the workload never enters did no work on it.
    return {name: {"value": float(layers.get(name, 0.0)), "n": 1}
            for name in PER_LAYER}


def measure(workload: str, seed: int, seconds: float, trace: int):
    """(metrics, attempted, failed, checks) for one workload."""
    deadline = time.time() + WORKLOAD_TIMEOUT_S
    # The untraced run of a traced measurement is only the timing
    # reference for the tracing overhead; the traced run checks outputs.
    untraced = run_worker(workload, seed, seconds, 0, f"{workload}-{seed}",
                          deadline, check=not trace)
    results = [untraced]
    if trace:
        results.append(run_worker(workload, seed, seconds, 1,
                                  f"{workload}-{seed}-traced", deadline))
        metrics = per_layer(untraced, results[-1])
        units = {k: v[0] for k, v in PER_LAYER.items()}
    else:
        metrics = end_to_end(untraced)
        units = {k: v[0] for k, v in END_TO_END.items()}
        units.update(peak_rss_mb="MB", failed_frac="ratio")
    ops = [o for r in results for o in r["ops"]]
    checks = [c for o in ops for c in o["checks"]]
    attempted = sum(o["attempted"] for o in ops)
    failed = sum(o["failed"] for o in ops)
    print(f"# {workload} seed={seed} env={json.dumps(untraced['env'])}")
    for name, m in metrics.items():
        line = f"{workload:12s} {name:34s} {m['value']:14.6g} {units[name]:10s} n={m['n']}"
        if "tail" in m:
            line += f" p{m['tail'][0]:g}={m['tail'][1]:.6g}"
        print(line)
    for c in checks:
        print(f"{workload:12s} CHECK FAILED: {c}")
    out = {k: {"value": m["value"], "unit": units[k]} for k, m in metrics.items()
           if k in (PER_LAYER if trace else END_TO_END)}
    return out, attempted, failed, checks


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "globalign_spark" / "__init__.py").is_file():
        print(f"globalign_spark not found under {ROOT}", file=sys.stderr)
        return 2
    if WORK.exists():
        shutil.rmtree(WORK)
    names = sorted(WORKLOADS) if args.workload == "all" else [args.workload]
    metrics, attempted, failed, checks = {}, 0, 0, []
    try:
        for name in names:
            m, a, f, c = measure(name, args.seed, args.seconds, args.trace)
            prefix = f"{name}." if args.workload == "all" else ""
            metrics.update({prefix + k: v for k, v in m.items()})
            attempted, failed, checks = attempted + a, failed + f, checks + c
    except RuntimeError as exc:
        print(exc, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and not checks,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
