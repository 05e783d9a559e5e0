"""Stage 5 — transitive clustering: connected components on the edge set.

Alternating large-star / small-star (Kiveris et al., "Connected Components
in MapReduce and Beyond") expressed with groupBy-min + join — deliberately
NOT collect_list-based, so a celebrity node with 10^7 neighbors costs a
hash-aggregate, never a single-task array. Converges in O(log^2 n) rounds
(in practice < 10 for web-duplicate graphs, whose components are shallow).

Each round:
  large-star: for every node u with neighbor set N(u),
      m = min(N(u) ∪ {u}); emit (v, m) for v in N(u) with v > u.
  small-star: orient edges to (u, v) with v < u; m = min(N≤(u) ∪ {u});
      emit (v, m) for v in N≤(u) and (u, m).

Driver loop with per-iteration localCheckpoint (cuts lineage; reference has
no iterative operators at all — SURVEY.md §2.4 J5 is new design); the
convergence test rides on that checkpoint's own job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """edges(src, dst) undirected-as-given -> new edge list."""
    bidir = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = bidir.groupBy("src").agg(F.min("dst").alias("m"))
    mins = mins.withColumn("m", F.least("m", "src"))
    return (
        bidir.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    emit_nbrs = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    emit_self = mins.select("src", F.col("m").alias("dst"))
    return (
        emit_nbrs.union(emit_self)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """edges(src, dst) -> components(id, component) for every node that
    appears in an edge; component = min node id of its component. Node ids
    may be any orderable type (urls as strings work; hashing to int64 is an
    optimization left to the caller at the 10^12 scale).

    Actions: one localCheckpoint of the input, then one per round, whose
    job also yields the round's convergence fingerprint (``observe``).
    Raises ``RuntimeError`` if the fixpoint is not reached in
    ``max_iter`` rounds.
    """
    # Materialize the edge list ONCE up front: the iteration derives from
    # this checkpoint, never from the raw upstream plan (which may be an
    # expensive scoring pipeline that must not be recomputed).
    cur = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    prev_fp = None
    for _ in range(max_iter):
        obs = Observation()
        cur = (
            _small_star(_large_star(cur))
            .observe(
                obs,
                F.count("*").alias("n"),
                # order-insensitive set fingerprint, no ANSI overflow
                F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
            )
            .localCheckpoint()
        )
        fp = obs.get
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds; raise max_iter"
        )
    # At fixpoint edges form stars rooted at component minima, and star
    # contraction keeps every non-isolated node on some edge (Kiveris et
    # al.): a root appears only as dst and labels itself.
    return (
        cur.union(cur.select("dst", "dst"))
        .groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("component"))
    )
