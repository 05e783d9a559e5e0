"""Names, units and directions of every metric, and the workloads.

``BENCHMARK.json`` at the root of the repository repeats these; the tests
check that the two agree.
"""

from __future__ import annotations

from perfbench.eventlog import SPAN_METRICS

WORKLOADS = {
    "batch_short": (
        "run_pipeline on fixture pages of 50-800 chars: per-page layers "
        "(normalize, signatures, banding chooser, LSH, CC) dominate and "
        "alignment runs at the kernel's best shape"
    ),
    "stream_fold": (
        "stream_incremental_er folding drop files one per micro-batch with "
        "an alignment edge_fn: many small jobs, state reads and writes, "
        "incremental CC"
    ),
}

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "run_s": ("s", "lower", 0.25),
    "fold_p50_s": ("s", "lower", 0.25),
    "f1": ("ratio", "higher", 0.25),
    "disk_write_mb": ("MB", "lower", 0.25),
}

# Spans whose Spark jobs the traced run breaks down (see eventlog.py).
TRACED_SPANS = ("choose_banding", "candidates", "s3", "rescue", "cc")

# name -> (unit, better)
PER_LAYER = {
    # Peak summed RSS of the JVM and Python workers, from the untraced
    # run. Kept out of END_TO_END: it follows the JVM heap's growth, which
    # did not repeat within a tenth between two sets of ten seeds.
    "peak_rss_mb": ("MB", "lower"),
    "session.start_s": ("s", "lower"),
    "normalize.s0_s": ("s", "lower"),
    "blocking.signatures_s": ("s", "lower"),
    "blocking.choose_banding_s": ("s", "lower"),
    "blocking.candidates_s": ("s", "lower"),
    "blocking.candidates_per_page": ("pairs/page", "lower"),
    "blocking.screened_out": ("count", "higher"),
    "blocking.pair_completeness": ("ratio", "higher"),
    "blocking.rescue_s": ("s", "lower"),
    "blocking.rescue_edges": ("count", "lower"),
    "scoring.s3_s": ("s", "lower"),
    "scoring.pairs_per_s": ("1/s", "higher"),
    "scoring.transport_s": ("s", "lower"),
    "scoring.shuffle_mb_per_kpair": ("MB/kpair", "lower"),
    "scoring.edge_yield": ("ratio", "higher"),
    "kernel.pairs_per_s_core": ("1/s", "higher"),
    "kernel.mcells_per_s_core": ("Mcells/s", "higher"),
    "clustering.cc_s": ("s", "lower"),
    "clustering.cc_calls": ("count", "lower"),
    "clustering.edges_in": ("count", "lower"),
    "orchestrator.s0b_s": ("s", "lower"),
    "orchestrator.s4_s": ("s", "lower"),
    "orchestrator.s5_s": ("s", "lower"),
    "orchestrator.checkpoint_mb": ("MB", "lower"),
    "orchestrator.unattributed_s": ("s", "lower"),
    "fold.add_batch_s": ("s", "lower"),
    "fold.wal_commit_s": ("s", "lower"),
    "fold.signatures_s": ("s", "lower"),
    "fold.assign_write_s": ("s", "lower"),
    "fold.state_write_s": ("s", "lower"),
    "fold.state_mb": ("MB", "lower"),
    "fold.edge_yield": ("ratio", "higher"),
    **{
        f"{span}.{m}": (unit, "lower")
        for span in TRACED_SPANS
        for m, unit in SPAN_METRICS.items()
    },
    "trace.run_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}
