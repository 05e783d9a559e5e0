"""Process-tree measurement and the runner's refusal outside a checkout."""

import shutil
import subprocess
import sys
import time
from pathlib import Path

from perfbench import procmon

ROOT = Path(__file__).resolve().parents[2]


def test_tree_monitor_keeps_writes_of_reaped_workers(tmp_path):
    """Like pyspark.daemon and its workers: a child stays up while the
    grandchild that allocates and writes exits and is reaped by it."""
    target = tmp_path / "blob"
    worker = (
        "b = bytearray(64 << 20)\n"
        "for i in range(0, len(b), 4096): b[i] = 1\n"
        f"open({str(target)!r}, 'wb').write(bytes(8 << 20))\n"
        "import time; time.sleep(0.3)\n"
    )
    daemon = (
        "import subprocess, sys, time\n"
        f"subprocess.run([sys.executable, '-c', {worker!r}], check=True)\n"
        "print('done', flush=True)\n"
        "time.sleep(30)\n"
    )
    mon = procmon.TreeMonitor(interval=0.02).start()
    child = None
    try:
        mon.mark()
        child = subprocess.Popen([sys.executable, "-c", daemon],
                                 stdout=subprocess.PIPE, text=True)
        assert child.stdout.readline().strip() == "done"
        peak, written = mon.read()
    finally:
        mon.close()
        if child is not None:
            child.kill()
            child.wait(timeout=10)
    assert peak >= 60
    assert written >= 8


def test_descendants_excludes_root_and_finds_grandchildren():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import subprocess, sys; subprocess.run(['sleep', '2'])"])
    try:
        deadline = time.time() + 10
        while time.time() < deadline:
            kids = procmon.descendants(procmon.os.getpid())
            if len(kids) >= 2:
                break
            time.sleep(0.05)
        assert child.pid in kids and len(kids) >= 2
        assert procmon.os.getpid() not in kids
    finally:
        child.kill()
        child.wait(timeout=10)


def test_runner_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_short",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
