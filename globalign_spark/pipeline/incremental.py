"""Incremental entity resolution: fold a new crawl batch into existing
clusters without re-running the pipeline over the whole corpus.

At 10^12 pages a daily crawl adds ~10^9 documents; recomputing blocking +
scoring + clustering over everything per batch is off by three orders of
magnitude. This module maintains the batch pipeline's output exactly:

  incremental_candidates_from_bands
                          LSH candidate pairs touching >=1 new doc. The
                          old corpus is read only through its
                          checkpointed banded-signature table
                          (ops.dedup.lsh_band_rows, bucketed by
                          (band_id, band_hash)); only buckets that
                          contain a new document are joined, through the
                          one capped band-bucket join
                          (ops.dedup.pairs_from_band_rows) with the new
                          ids as probes, so shuffle volume is
                          proportional to the new batch's bucket
                          activity, not the corpus.
  incremental_components  merge new above-threshold edges into an existing
                          (id, component) assignment, recomputing ONLY the
                          components an edge touches.

Exactness (proved by the `er_incremental` oracle row, which compares this
path against the full-batch SQL closure over the union corpus):

  * Candidate completeness — band keys are per-document functions of the
    text, so in a full-batch run over old ∪ new, every candidate pair
    involving a new doc shares a bucket that contains that new doc; all
    such buckets are probed here. Pairs between two OLD docs share the
    same bucket keys they had in the previous run and were already
    candidates then; their above-threshold edges are inside the existing
    components. (Under a finite bucket_cap both runs cap on the same full
    bucket sizes, because a probed bucket is counted whole.)
  * Connectivity — an existing assignment with component = min(member id)
    is a star: edges (root, member) reconstruct exactly the old
    connectivity. CC over (old stars ∪ new edges) therefore equals CC
    over (old edges ∪ new edges), and min-id labeling is identical.
    Components untouched by any new edge keep their rows verbatim —
    no recompute, no shuffle beyond the anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from globalign_spark.ops import dedup
from globalign_spark.pipeline.clustering import connected_components


def incremental_candidates_from_bands(
    old_bands: DataFrame,
    new_bands: DataFrame,
    bucket_cap: int = 500,
    screen_min_eq: int | None = None,
) -> DataFrame:
    """Capped LSH candidate pairs (id_1 < id_2) with >=1 new endpoint:
    exactly the pairs a batch run over old ∪ new finds that touch a new
    document.

    ``old_bands`` is the checkpointed banded-signature table of the existing
    corpus — ``(_id, band_id, band_hash)`` as written by
    :func:`ops.dedup.lsh_band_rows`, stored bucketed by
    ``(band_id, band_hash)`` (pipeline.bucketing) so the probe join below
    is shuffle-free on the big side. ``new_bands`` is the incoming batch's
    band rows, computed ONCE by the caller (``lsh_band_rows(new_batch)``),
    appended to the checkpoint table for the next batch and passed here for
    this batch's probe. Ids must be disjoint between the two sides (a crawl
    batch mints new doc ids). ``screen_min_eq`` applies the in-join
    signature screen of :func:`ops.dedup.pairs_from_band_rows`; both
    sides must then carry a ``sig`` column (``carry_sig=True``).

    Only signatures for the NEW batch are ever computed — the old corpus is
    touched exclusively through the checkpointed table, which is what makes
    a 10^9-docs/day batch against a 10^12-doc corpus linear in the batch,
    not the corpus. Crucially the old side is NOT unioned with the batch
    before the probe (a union would discard the table's bucketed layout and
    re-shuffle the whole corpus): every new row's bucket is hot by
    definition, so touched = (old_bands ⋈ hot) ∪ new_bands — the only join
    against the corpus-sized table is bucket-local against the batch-sized
    hot set. The touched rows are whole buckets, so
    :func:`ops.dedup.pairs_from_band_rows` caps on full bucket sizes; its
    probe mode, with the new ids as probes, never forms an old–old pair.
    """
    cols = ["_id", "band_id", "band_hash"]
    if screen_min_eq is not None:
        cols.append("sig")
    new = new_bands.select(*cols)
    hot = new.select("band_id", "band_hash").distinct()
    touched = (
        old_bands.select(*cols)
        .join(hot, ["band_id", "band_hash"])
        .unionByName(new)
    )
    return dedup.pairs_from_band_rows(
        touched, bucket_cap, screen_min_eq, probe_ids=new.select("_id")
    )


def incremental_components(
    old_assign: DataFrame,
    new_edges: DataFrame,
    id_col: str = "id",
    comp_col: str = "component",
) -> DataFrame:
    """Updated (id, component) after adding ``new_edges`` (id_1, id_2).

    Rows of ``old_assign`` whose component no new edge touches pass through
    untouched; the affected components are rebuilt as min-id stars unioned
    with the new edges and re-clustered. Endpoints absent from
    ``old_assign`` (fresh docs, or old docs that had no edge before) enter
    through the new edges themselves. Output covers exactly the docs with
    >=1 edge in the union graph — the same shape the batch pipeline emits.
    """
    # new_edges is typically the output of an expensive scoring pipeline
    # and is consumed by two separate actions below (the endpoint set here,
    # the CC edge union later) — materialize it once, batch-sized, exactly
    # as connected_components checkpoints its own edge input.
    new_edges = new_edges.select("id_1", "id_2").localCheckpoint()
    ends = (
        new_edges.select(F.col("id_1").alias(id_col))
        .union(new_edges.select(F.col("id_2").alias(id_col)))
        .distinct()
    )
    affected = (
        old_assign.join(ends, id_col, "left_semi")
        .select(comp_col)
        .distinct()
    )
    # NB: equi-joins put the join column first; re-select the contract
    # order explicitly so downstream unions can't transpose columns.
    touched_old = old_assign.join(affected, comp_col, "left_semi").select(
        id_col, comp_col
    )
    untouched = old_assign.join(affected, comp_col, "left_anti").select(
        id_col, comp_col
    )
    # component = min(member) => root < member for every non-root row, so
    # these stars are already canonically oriented edges.
    stars = touched_old.where(F.col(id_col) != F.col(comp_col)).select(
        F.col(comp_col).alias("id_1"), F.col(id_col).alias("id_2")
    )
    edges = new_edges.select("id_1", "id_2").union(stars)
    recomputed = connected_components(edges, src="id_1", dst="id_2")
    return untouched.unionByName(
        recomputed.select(
            F.col("id").alias(id_col), F.col("component").alias(comp_col)
        )
    )
