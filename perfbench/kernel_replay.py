"""Spark-free replay of sampled scoring input through the alignment kernel.

Run as ``python3 -m perfbench.kernel_replay <pairs.parquet> <out.json>``.
The parquet holds ``text_1``, ``text_2`` and an optional ``cost_ref`` (the
cost the pipeline stored for the pair, null when it was certified over the
similarity threshold). The process pins itself to one core, sorts pairs
into shape-homogeneous chunks the way the scoring stage does, and times
``kernel.align_cost_batch`` with the same Ukkonen band the stage uses. It
writes pairs/s, full-lattice cells/s, and how many replayed costs differ
from ``cost_ref``.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

SIM_THRESHOLD = 0.8
CHUNK = 512


def replay(t1: list[str], t2: list[str], ref: list, params) -> dict:
    from globalign_spark.kernel import CompiledParams, align_cost_batch

    cp = CompiledParams(params)
    l1 = np.array([len(s) for s in t1])
    l2 = np.array([len(s) for s in t2])
    order = np.lexsort((l2, l1 // 64))
    # Only pairs whose similarity can reach the threshold need an exact
    # cost; this is the band the scoring stage asks the kernel for.
    cap = np.ceil((1.0 - SIM_THRESHOLD) * np.maximum(l1, l2)).astype(int) + 1
    cost = np.empty(len(t1), dtype=np.int64)
    t0 = time.perf_counter()
    for s in range(0, len(order), CHUNK):
        sel = order[s:s + CHUNK]
        cost[sel] = align_cost_batch(
            [t1[i] for i in sel], [t2[i] for i in sel], cp,
            band=int(cap[sel].max()),
        )
    secs = time.perf_counter() - t0
    # A stored cost is exact, so the replay must reproduce it.
    mismatches = sum(
        1 for c, r in zip(cost, ref)
        if r is not None and not (isinstance(r, float) and math.isnan(r))
        and int(c) != int(r)
    )
    return {
        "pairs": len(t1),
        "seconds": secs,
        "cells": float((l1 * l2).sum()),
        "mismatches": mismatches,
    }


def main(argv: list[str]) -> int:
    src, out = argv
    cpu = max(os.sched_getaffinity(0))
    os.sched_setaffinity(0, {cpu})
    from globalign_spark.config import unit_cost_params

    tbl = pq.read_table(src).to_pydict()
    ref = tbl.get("cost_ref") or [None] * len(tbl["text_1"])
    res = replay(tbl["text_1"], tbl["text_2"], ref, unit_cost_params())
    res["cpu"] = cpu
    with open(out, "w") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
