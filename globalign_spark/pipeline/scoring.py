"""Stage 3 — distributed pairwise alignment scoring.

Takes a candidate-pairs DataFrame ``(id_1, text_1, id_2, text_2, ...)`` and
appends integer ``cost`` / ``score`` columns (plus a normalized similarity)
by running the numpy Gotoh kernel (globalign_spark.kernel) inside
``mapInPandas`` — Arrow-batched, vectorized across the batch, never per-row
Python at the Spark level.

Scale design (this is what must hold at 100 TB / 1000 executors):
  - The scoring params are a tiny frozen dataclass closure-captured into the
    UDF (equivalent to a broadcast variable; reference keeps them as nested
    dicts, /root/reference/src/globalign/start.py:431-468).
  - Within each Arrow batch, pairs are sorted by DP size and re-chunked so
    the padded batch tensor (B * m_max * n_max cells) stays under a cell
    budget: mixed 50-char and 5000-char pairs never force quadratic padding
    waste, and per-task peak memory is bounded regardless of input order.
  - Oversize pairs (m*n > full-DP cap) are NOT silently dropped: they get
    cost/score NULL and ``oversize = true`` so the caller can route them to
    a cheaper path (shingle similarity) with explicit lineage — reference
    behavior is a hard error (/root/reference/src/globalign/start.py:361-376),
    which a 10^12-row pipeline cannot afford.
  - Upstream should repartition by a salted key so Arrow batches are
    balanced; see blocking.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StructField,
    StructType,
)

from ..config import ENGINE_FULL_DP_CELL_CAP, AlignParams
from .. import kernel as kernel_mod
from ..kernel import CompiledParams, align_cost_batch

# Max padded cells (B * m_max * n_max) per kernel invocation. Swept with 32
# concurrent kernel processes (Spark-free) at document shapes: 2^24
# (B ~ 186 at 300x300) maximizes aggregate throughput (51.5k pairs/s);
# smaller batches pay numpy-call overhead per DP row, larger ones spill the
# rolling int16 lattices out of the shared L3.
BATCH_CELL_BUDGET = 1 << 24


def _in_alpha_mask(
    texts: np.ndarray, idx: np.ndarray, mask: np.ndarray
) -> np.ndarray:
    """Per-pair alphabet eligibility for the Myers dispatch (bool over idx).

    Mirrors the kernel's own batch-level ``in_alpha`` gate
    (kernel.align_cost_batch) but per STRING, so one stray character
    demotes only its own pair to the dense budget/cap, not the whole
    chunk. Non-ASCII marks ineligible (the dense path then raises the
    same UnicodeEncodeError the kernel always has for non-ASCII input).
    """
    out = np.zeros(idx.size, dtype=bool)
    for k, p in enumerate(idx):
        try:
            bs = texts[p].encode("ascii")
        except UnicodeEncodeError:
            continue
        out[k] = bool(mask[np.frombuffer(bs, dtype=np.uint8)].all())
    return out


def _score_chunk(
    t1: np.ndarray,
    t2: np.ndarray,
    cp: CompiledParams,
    cell_cap: int,
    sim_threshold: float | None = None,
    dense_cell_cap: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Score one pandas chunk; returns (cost, score, oversize, over_band).

    ``cell_cap`` is the admission cap for pairs the Myers bit-parallel
    kernel will actually run (unit-cost config AND both texts
    in-alphabet); ``dense_cell_cap`` (default = cell_cap) caps pairs that
    will fall back to the dense Gotoh sweep. The split is decided PER
    PAIR here — the kernel's Myers dispatch requires the whole batch
    in-alphabet, so eligible and ineligible pairs are chunked into
    separate batches, each at its own cache budget (8x for Myers, whose
    working set is words + Peq tables, 1x for the int16 lattice slabs).
    Without the split, one out-of-alphabet character would demote a whole
    chunk to the dense sweep at 8x its tuned budget with pairs up to
    cell_cap (64x the dense cap) admitted — multi-minute stragglers.

    With ``sim_threshold`` set, scoring is Ukkonen-banded: each pair only
    needs its cost when similarity >= threshold, i.e. cost <= cap(p) =
    ceil((1-t)*max(len)) + 1. The kernel band is cap/min_gap_step (max over
    the sub-batch), which makes every in-cap cost EXACT and certifies
    over-cap pairs without computing the full lattice — ~(2*band+1)/n of
    the cells at document shapes. over_band pairs get cost = -1 here; the
    caller nulls them.
    """
    if dense_cell_cap is None:
        dense_cell_cap = cell_cap
    k = len(t1)
    lens1 = np.array([len(s) for s in t1], dtype=np.int64)
    lens2 = np.array([len(s) for s in t2], dtype=np.int64)
    cells = lens1 * lens2
    elig = np.zeros(k, dtype=bool)
    if cp.is_unit_cost and kernel_mod._MYERS_ON:
        # Only scan texts of pairs that could be admitted at all.
        cand = np.nonzero(
            (cells > 0) & (cells <= max(cell_cap, dense_cell_cap))
        )[0]
        if cand.size:
            elig[cand] = _in_alpha_mask(
                t1, cand, cp.alpha_pad_mask
            ) & _in_alpha_mask(t2, cand, cp.alpha_pad_mask)
    limit = np.where(elig, cell_cap, dense_cell_cap)
    ok = (cells > 0) & (cells <= limit)
    cost = np.full(k, -1, dtype=np.int64)
    score = np.full(k, 0, dtype=np.int64)
    over_band = np.zeros(k, dtype=bool)

    banded = sim_threshold is not None
    if banded:
        maxlen = np.maximum(lens1, lens2)
        cap = np.ceil((1.0 - sim_threshold) * maxlen).astype(np.int64) + 1
        min_step = max(1, min(cp.dele_alpha_min, cp.ins_alpha_min))
        band_req = (cap + min_step - 1) // min_step

    # Chunk sizing: the int16 Gotoh sweep holds ~8 (n, B) lattice slabs,
    # so chunks are bounded by padded DP cells. The Myers bit-parallel
    # path (unit-cost configs) holds ~14 (B,) uint64 words per 64 pattern
    # rows plus per-word Peq gather tables (B * alphabet * 8 bytes), so it
    # affords an 8x budget (~1.5k pairs per chunk at document shapes).
    # Measured on tools/kernel_bench.py at 32 pinned workers, 300x300:
    # chunks of ~1k-2k pairs run 163k pairs/s box-wide; ~6k-pair chunks
    # push the Peq tables out of per-core L2 and collapse to 65k.
    def run_group(idx: np.ndarray, cell_budget: int) -> None:
        if not idx.size:
            return
        # Shape-homogeneous chunking. Sort key is (m-tile, n): tiling m into
        # 64-wide bands then ordering by n keeps BOTH padded dimensions
        # tight inside a chunk — a plain (m, n) lexsort lets n ratchet to
        # its global max whenever a chunk crosses an m boundary, which at
        # Spark-partition granularity (~10k pairs) costs 1.9x padded cells
        # on the real corpus (measured; tile+cap = 1.2x). The pad-cap guard
        # additionally closes a chunk early when padded/true cells would
        # exceed 1.25 (only once the chunk has >= 32 pairs, so pathological
        # shape mixes still amortize numpy dispatch overhead).
        order = idx[np.lexsort((lens2[idx], lens1[idx] // 64))]
        pad_cap = 1.25
        min_b = 32
        start = 0
        while start < order.size:
            m_max = 0
            n_max = 0
            end = start
            true_cells = 0
            while end < order.size:
                p = order[end]
                mm = max(m_max, lens1[p])
                nn = max(n_max, lens2[p])
                bsz = end - start + 1
                if end > start and bsz * mm * nn > cell_budget:
                    break
                if (
                    bsz >= min_b
                    and bsz * mm * nn > pad_cap * (true_cells + cells[p])
                ):
                    break
                m_max, n_max = mm, nn
                true_cells += cells[p]
                end += 1
            sel = order[start:end]
            band = int(band_req[sel].max()) if banded else None
            c = align_cost_batch(
                [t1[p] for p in sel], [t2[p] for p in sel], cp, band=band
            )
            cost[sel] = c
            score[sel] = cp.final_score(c, lens1[sel], lens2[sel])
            start = end

    # Eligible pairs chunk at the Myers budget; ineligible ones (out-of-
    # alphabet text, or any non-unit-cost config) at the dense budget.
    run_group(np.nonzero(ok & elig)[0], BATCH_CELL_BUDGET * 8)
    run_group(np.nonzero(ok & ~elig)[0], BATCH_CELL_BUDGET)
    if banded:
        over_band = ok & (cost > cap)
        cost[over_band] = -1
        score[over_band] = 0
    return cost, score, ~ok, over_band


def _alpha_string(params: AlignParams) -> str:
    """The scoring alphabet as a literal string (for F.translate checks)."""
    mask = CompiledParams(params).alpha_pad_mask
    return "".join(chr(i) for i in np.nonzero(mask)[0] if i)


def effective_cell_cap(
    params: AlignParams, cell_cap: int, myers_cap_mult: int = 64
) -> int:
    """Admission cap adjusted for the kernel that will actually run.

    ``cell_cap`` bounds per-pair work AND lattice memory for the dense
    Gotoh sweep. Unit-cost configs (the ER pipeline default) dispatch to
    the Myers bit-parallel kernel instead (kernel.align_cost_batch),
    which does ~64 DP cells per word-op in O(n) rolling memory — the
    same time budget admits ~64x the cells, and there is no lattice to
    blow up. So the oversize predicate multiplies the cap by
    ``myers_cap_mult`` (default 64) when the Myers path will run:
    fewer pairs get routed to the approximate shingle fallback, which at
    web scale means exact scores for exactly the template-heavy long
    pages most likely to be near-duplicates. Pass ``myers_cap_mult=1``
    to pin routing at the literal cap (oracle-pinned queries do).

    The dispatch decision is made driver-side from the same GA_MYERS
    env default the executors read; on a real cluster ship GA_MYERS via
    spark.executorEnv so both sides agree (local mode shares the env).
    """
    if (
        myers_cap_mult > 1
        and kernel_mod._MYERS_ON
        and CompiledParams(params).is_unit_cost
    ):
        return cell_cap * myers_cap_mult
    return cell_cap


def score_pairs(
    pairs: DataFrame,
    params: AlignParams,
    text_1: str = "text_1",
    text_2: str = "text_2",
    cell_cap: int = ENGINE_FULL_DP_CELL_CAP,
    sort_by_length: bool = False,
    keep_texts: bool = False,
    sim_threshold: float | None = None,
    myers_cap_mult: int = 64,
    transport_probe: bool = False,
) -> DataFrame:
    """Score a candidate-pairs DataFrame with the batched Gotoh kernel.

    Output columns: every input column EXCEPT the two text columns (unless
    ``keep_texts``), plus ``len_1``/``len_2`` (so similarity normalization
    needs no re-join) and ``cost``/``score`` (long, null for oversize) and
    ``oversize`` (bool). Dropping the texts halves Arrow traffic: the wide
    strings cross into Python once and never come back.

    ``sort_by_length`` clusters each partition by (len-tile, len_2) before
    the UDF. Default OFF: the Python-side chunker already sorts within each
    Arrow batch (16k rows — same padding quality as a sorted partition),
    and a partition-wide JVM sort is a PIPELINE BREAKER — no Arrow batch is
    emitted until the whole partition is sorted, so upstream production
    (join + expansion + encode) serializes with the kernel instead of
    overlapping it (measured: ~2.6 s/task of pre-first-batch idle at
    local[8], ~20% of wall). Turn on only when Arrow batches are small
    (< ~4k rows) relative to partitions.

    Parity: cost/score match the reference's find_global_alignment exactly
    (tests/test_scoring_spark.py fuzzes this against the kernel, which is
    fuzzed against /root/reference itself).

    ``sim_threshold`` enables Ukkonen-banded scoring for thresholded
    pipelines (ER edges): costs stay exact for every pair that can reach
    the similarity threshold; pairs certified below it come back with
    cost/score NULL and ``over_band = true`` (explicit lineage, not a
    silent drop) at a fraction of the lattice cells.

    ``myers_cap_mult``: see :func:`effective_cell_cap` — unit-cost
    configs admit cap*mult cells because the Myers kernel has no lattice
    and ~64x the cell throughput. Set 1 to pin routing at the literal cap.
    The multiplied cap is enforced PER PAIR: a pair whose text falls
    outside the scoring alphabet can't take the Myers path, so it is
    admitted only up to the literal ``cell_cap`` (NULL + ``oversize``
    lineage above it, same as any oversize pair) instead of running the
    dense sweep at 64x its budget.

    ``transport_probe`` (diagnostic only): skip the kernel and emit
    zeros, so (normal wall) - (probe wall) isolates kernel time from
    scan/join/Arrow/pandas transport when tuning the scoring stage.
    An explicit parameter, not an env var: a leaked env var would
    silently turn every candidate pair into a similarity-1.0 edge.
    """
    dense_cell_cap = cell_cap
    cell_cap = effective_cell_cap(params, cell_cap, myers_cap_mult)
    if sort_by_length:
        # Same (m-tile, n) key as the Python-side chunker, so consecutive
        # Arrow batches hold shape-homogeneous runs.
        pairs = pairs.sortWithinPartitions(
            F.floor(F.length(F.col(text_1)) / 64), F.length(F.col(text_2))
        )
    keep_cols = [
        f.name
        for f in pairs.schema.fields
        if keep_texts or f.name not in (text_1, text_2)
    ]
    tail = [
        StructField("len_1", LongType(), False),
        StructField("len_2", LongType(), False),
        StructField("cost", LongType(), True),
        StructField("score", LongType(), True),
        StructField("oversize", BooleanType(), False),
    ]
    if sim_threshold is not None:
        tail.append(StructField("over_band", BooleanType(), False))
    schema = StructType(
        [f for f in pairs.schema.fields if f.name in keep_cols] + tail
    )
    # CompiledParams is rebuilt per task from the tiny frozen AlignParams —
    # cheap (128x128 LUT) and avoids shipping numpy arrays in the closure.

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cp = CompiledParams(params)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            t1 = pdf[text_1].to_numpy()
            t2 = pdf[text_2].to_numpy()
            if transport_probe:
                k = len(pdf)
                cost = np.zeros(k, dtype=np.int64)
                score = np.zeros(k, dtype=np.int64)
                oversize = np.zeros(k, dtype=bool)
                over_band = np.zeros(k, dtype=bool)
            else:
                cost, score, oversize, over_band = _score_chunk(
                    t1, t2, cp, cell_cap, sim_threshold, dense_cell_cap
                )
            out = pdf[keep_cols].copy()
            out["len_1"] = [len(s) for s in t1]
            out["len_2"] = [len(s) for s in t2]
            out["cost"] = cost
            out["score"] = score
            out["oversize"] = oversize
            null_rows = oversize | over_band
            if sim_threshold is not None:
                out["over_band"] = over_band
            out.loc[null_rows, "cost"] = None
            out.loc[null_rows, "score"] = None
            yield out

    return pairs.mapInPandas(run, schema=schema)


def score_pairs_with_fallback(
    pairs: DataFrame,
    params: AlignParams,
    id_1: str = "id_1",
    id_2: str = "id_2",
    text_1: str = "text_1",
    text_2: str = "text_2",
    cell_cap: int = ENGINE_FULL_DP_CELL_CAP,
    sim_threshold: float | None = None,
    shingle_k: int = 5,
    myers_cap_mult: int = 64,
) -> DataFrame:
    """Similarity for EVERY candidate pair — no silent drops, no NULL rows.

    Routes each pair by DP size, JVM-side, before any Python crossing
    (the routing cap is ``effective_cell_cap(params, cell_cap,
    myers_cap_mult)`` — 64x the literal cap for unit-cost configs, whose
    Myers kernel has no lattice memory and ~64 cells/word-op; pass
    ``myers_cap_mult=1`` to pin routing at the literal cap):
      - ``m*n <= cap``: exact Gotoh alignment similarity
        (1 - cost/max(len), the ER edge measure), ``method = 'gotoh'``.
      - ``m*n > cap``: k-char shingle Jaccard (linear in text length,
        reusing ops.dedup.pair_gram_overlap), ``method = 'shingle'``.

    Output: (id_1, id_2, method, similarity) for all input pairs. The two
    methods are different measures on different scales — ``method`` is the
    lineage column that keeps that honest; callers thresholding the result
    should threshold per method. This wires the fallback route promised by
    ``score_pairs``'s oversize lineage: a 10^12-row pipeline can't abort
    on huge pages (reference hard-errors at m*n >= 20M,
    start.py:361-376), and dropping them silently would lose exactly the
    template-heavy pages most likely to be duplicates.

    ``sim_threshold`` additionally lets the Gotoh branch run Ukkonen-banded
    (over-band pairs certified below the threshold come back with
    similarity = the banded bound's certificate as NULL is not allowed
    here — they are emitted with similarity 0.0 and method 'gotoh', which
    is correct for any caller thresholding at >= sim_threshold since their
    true similarity is certifiably < sim_threshold).
    """
    # A NULL text must not fail BOTH branch predicates (NULL <= cap and
    # NULL > cap are both NULL) and vanish — that would break the
    # all-pairs contract above. NULL-text pairs are routed explicitly:
    # an absent text matches nothing, so they are emitted with
    # similarity 0.0, method 'gotoh' (degenerate alignment), never
    # crossing into the scorer UDF (which requires str inputs).
    has_null = F.col(text_1).isNull() | F.col(text_2).isNull()
    nulls = pairs.where(has_null).select(
        F.col(id_1),
        F.col(id_2),
        F.lit("gotoh").alias("method"),
        F.lit(0.0).alias("similarity"),
    )
    cap = effective_cell_cap(params, cell_cap, myers_cap_mult)
    cells = (
        F.length(F.col(text_1)).cast("long") * F.length(F.col(text_2)).cast("long")
    )
    nn = pairs.where(~has_null)
    if cap != cell_cap:
        # The widened cap assumes the Myers kernel runs, which requires
        # BOTH texts inside the scoring alphabet — check that JVM-side
        # (translate scan, one pass per text) so an out-of-alphabet pair
        # between the literal and widened caps routes to the linear
        # shingle branch instead of a 64x-budget dense-DP straggler.
        alpha = _alpha_string(params)
        in_alpha = (
            F.length(F.translate(F.col(text_1), alpha, "")) == 0
        ) & (F.length(F.translate(F.col(text_2), alpha, "")) == 0)
        small_pred = (cells <= cell_cap) | (in_alpha & (cells <= cap))
    else:
        small_pred = cells <= cap
    small = nn.where(small_pred)
    big = nn.where(~small_pred)

    scored = score_pairs(
        small,
        params,
        text_1=text_1,
        text_2=text_2,
        cell_cap=cap,
        sim_threshold=sim_threshold,
        myers_cap_mult=1,  # cap already effective; don't multiply twice
    )
    sim = 1.0 - F.col("cost") / F.greatest(F.col("len_1"), F.col("len_2"))
    gotoh = scored.select(
        F.col(id_1),
        F.col(id_2),
        F.lit("gotoh").alias("method"),
        F.round(
            F.when(F.col("cost").isNull(), F.lit(0.0)).otherwise(sim), 6
        ).alias("similarity"),
    )

    from ..ops.dedup import pair_gram_overlap

    counted = pair_gram_overlap(
        big.select(
            F.col(id_1),
            F.col(id_2),
            F.col(text_1).alias("t1"),
            F.col(text_2).alias("t2"),
        ),
        k=shingle_k,
        id_1=id_1,
        id_2=id_2,
    )
    shingle = counted.select(
        F.col(id_1),
        F.col(id_2),
        F.lit("shingle").alias("method"),
        F.round(F.col("_i") / (F.col("_s") - F.col("_i")), 6).alias(
            "similarity"
        ),
    )
    return gotoh.unionByName(shingle).unionByName(nulls)


def with_similarity(scored: DataFrame) -> DataFrame:
    """Normalized similarity in [0, 1] from the unit-cost (Levenshtein)
    configuration: sim = 1 - cost / max(len_1, len_2).

    Column arithmetic over the scorer's len_1/len_2 outputs — stays
    JVM-side / whole-stage-codegen.
    """
    return scored.withColumn(
        "similarity",
        F.when(
            F.col("cost").isNull(), F.lit(None).cast("double")
        ).otherwise(
            1.0 - F.col("cost") / F.greatest(F.col("len_1"), F.col("len_2"))
        ),
    )


def is_edge(sim_threshold: float) -> Column:
    """The edge predicate of stages s4 and s4b over :func:`with_similarity`
    output: an in-cap pair whose similarity reaches ``sim_threshold``."""
    return (~F.col("oversize")) & (F.col("similarity") >= sim_threshold)
