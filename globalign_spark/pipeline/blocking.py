"""Stages 1-2 — blocking keys and candidate-pair generation.

Two complementary blocking strategies, both shuffle-disciplined for the
10^12-row regime (SURVEY.md §2.4 J1-J3):

1. **MinHash LSH bands** (primary, text-similarity driven). The corpus
   signature table comes from :func:`ops.dedup.minhash_signatures` —
   distinct k-char grams, md5 gram hashes mod 2^31-1 (JVM-side), P
   universal-hash minima in one map-only Arrow pass — the same family
   streaming, incremental ER and the DuckDB-twinned oracle queries use.
   The orchestrator checkpoints it as ``s1_signatures``; everything here
   starts from that table. :func:`band_rows` turns it into (band_id,
   band_hash) rows with the one band-key expression
   (:func:`band_keys_col`), followed by the capped self-join on the
   bucket key, :func:`ops.dedup.pairs_from_band_rows`. Bucket-size
   capping keeps any band bucket from going quadratic; dropped buckets
   are *counted*, not silently discarded.

2. **Sorted-neighborhood within host** (secondary, URL-structure driven).
   Instead of an all-pairs self-join per host — which explodes on hot hosts
   (Zipfian, top host ~20% of a crawl) — each row pairs with its W
   successors in a per-host sorted order (window + leads). Linear in block
   size: the skew-proof formulation of "block by host".

Plus an explicit salted equi-join utility (J2) for joining a skewed
fact side against a keyed dimension side.

The reference has no joins (single-pair kernel, SURVEY.md §2.4); all of
this layer is new, Spark-idiomatic design.
"""

from __future__ import annotations

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..ops.dedup import pairs_from_band_rows, sig_eq_count

# Corpus-size guard for broadcasting the 15-bit-truncated signature table
# in the pair screen (see _pair_est_jaccard): ~300 B/doc -> ~600 MB at the
# cap, comfortably inside executor memory; beyond it the screen joins stay
# shuffle-based.
_SIG_BROADCAST_MAX_DOCS = 2_000_000
# Rows per partition of the banding chooser's probe-pair distinct: its
# default-config bound, probe_cap * (num_perm / 2) * bucket_cap = 63M
# rows, maps to ~256 partitions; a small corpus gets one.
_DISTINCT_ROWS_PER_PART = 250_000


def band_keys_col(signature, num_bands: int, width: int):
    """array of per-band keys over the first ``width`` signature
    positions: band b = xxhash64(b, slice b of ``width // num_bands``
    rows), all JVM-side. NULL for a NULL signature, so a document without
    text has no band rows.

    Raises ValueError when a band would get no rows: an empty slice
    hashes alike for every document, so every document would share every
    such bucket."""
    if num_bands < 1 or width < num_bands:
        raise ValueError(
            f"cannot band {width} signature positions into "
            f"num_bands={num_bands} bands of at least one row each; "
            f"num_bands must be between 1 and {width}"
        )
    rows = width // num_bands
    return F.when(
        signature.isNotNull(),
        F.transform(
            F.sequence(F.lit(0), F.lit(num_bands - 1)),
            lambda bidx: F.xxhash64(bidx, F.slice(signature, bidx * rows + 1, rows)),
        ),
    )


def band_rows(
    sig_df: DataFrame, num_bands: int, width: int, carry_sig: bool = False
) -> DataFrame:
    """(_id, band_id, band_hash[, sig]) rows of an (_id, signature) table:
    the one banding projection every LSH pass shares (main pass, rescue,
    the banding chooser, :func:`ops.dedup.lsh_band_rows`). ``carry_sig``
    keeps the full signature as ``sig`` for the in-join screen of
    :func:`ops.dedup.pairs_from_band_rows`. Map-only: one posexplode."""
    sig = F.col("signature")
    extra = [sig.alias("sig")] if carry_sig else []
    return sig_df.select(
        "_id",
        F.posexplode(band_keys_col(sig, num_bands, width)).alias(
            "band_id", "band_hash"
        ),
        *extra,
    )


def lsh_candidates(
    df: DataFrame,
    sig_df: DataFrame,
    id_col: str = "url",
    text_col: str = "norm_text",
    num_perm: int = 64,
    num_bands: int = 16,
    bucket_cap: int = 200,
    over_cap_window: int = 8,
    est_jaccard_floor: float = 0.0,
    cache_registry: list | None = None,
    n_docs: int | None = None,
    band_width: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Candidate id pairs from banded MinHash LSH over ``sig_df``, the
    (_id, signature) table of ``df`` (usually the re-read
    ``s1_signatures`` checkpoint, :func:`ops.dedup.minhash_signatures`
    at width ``num_perm``). ``df`` supplies only the text prefixes the
    over-cap refinement sorts by.

    ``band_width`` (adaptive banding, :func:`choose_banding`): the number
    of leading signature positions banding consumes — ``num_bands`` bands
    of ``band_width // num_bands`` rows. Defaults to ``num_perm`` (the
    whole signature). The signature screen always estimates on the FULL
    ``num_perm`` width regardless, so a plan that bands on a prefix still
    screens at maximum precision.

    ``cache_registry``: with ``est_jaccard_floor`` > 0 the screened
    candidate frame is lazily persisted so the stats branch and the pairs
    branch share one execution; pass a list to receive that persisted
    frame and ``unpersist()`` it once both branches have run (the
    orchestrator does, right after the stage-1 checkpoint write) —
    otherwise the cache lives until the session ends.

    Returns (pairs, stats): pairs(id_1, id_2) distinct with id_1 < id_2;
    stats is a 1-row frame of bucket/candidate accounting (lineage — nothing
    is silently dropped). Buckets over ``bucket_cap`` contribute
    sorted-neighborhood pairs (window ``over_cap_window``) instead of the
    full quadratic expansion; ``over_cap_window=0`` restores hard drops.

    ``est_jaccard_floor`` > 0 adds a signature screen between bucketing and
    the output: each surviving pair's Jaccard is estimated from the two
    MinHash signatures (share of equal positions — pure JVM ``zip_with``,
    no text, no Python) and pairs under the floor are dropped, with the
    drop count reported in stats. Sensitive banding (rows-per-band 3)
    is what buys recall on ~0.4-Jaccard near-duplicates, but it also
    admits background collisions on shingle-dense corpora; the screen
    keeps the expensive alignment stage's input volume bounded at a cost
    of num_perm longs per comparison instead of a full DP.
    """
    with_sig = sig_df.select("_id", "signature")
    bands = band_rows(with_sig, num_bands, band_width or num_perm)
    # Under-cap buckets expand through the one capped band-bucket join;
    # the cap keeps degenerate (boilerplate) buckets from going quadratic.
    sizes, stats = _bucket_sizes(bands, bucket_cap)
    pairs = pairs_from_band_rows(bands, bucket_cap)
    # Over-cap buckets are REFINED, not dropped (50k-entity evidence run,
    # round 3): generic shingle collisions make bucket sizes grow with the
    # corpus — at ~100k pages, 111 buckets blew past the cap carrying half
    # the corpus and ~11k TRUE pairs, costing 4 points of recall when
    # dropped. A within-bucket sorted-neighborhood pass keeps those
    # buckets O(bsz * w) instead of O(bsz^2): members of one bucket share
    # real content, so true near-dups sort adjacent by text. The
    # over-cap accounting above still reports every such bucket.
    if over_cap_window > 0:
        over = bands.join(
            sizes.where(F.col("bsz") > bucket_cap).drop("bsz"),
            ["band_id", "band_hash"],
        ).join(
            # Sort key is a 64-char text prefix, not the full document:
            # every over-cap member's key is replicated once per over-cap
            # band membership (up to num_bands times) through the shuffle
            # and into the per-bucket window sort, so full texts turn a
            # degenerate bucket into a straggler task moving GBs. A 64-char
            # prefix (id tiebreak in the window's orderBy) preserves SN
            # adjacency — near-duplicates agree on prefixes far longer
            # than 64 — at a fraction of the shuffle volume.
            df.select(
                F.col(id_col).alias("_id"),
                F.substring(F.col(text_col), 1, 64).alias("_txt"),
            ),
            "_id",
        ).select(
            F.concat_ws(
                "#", F.col("band_id"), F.col("band_hash")
            ).alias("_bkt"),
            "_id",
            "_txt",
        )
        refined = sorted_neighborhood_candidates(
            over, id_col="_id", key_col="_bkt", order_col="_txt",
            window=over_cap_window,
        )
        pairs = pairs.union(refined).distinct()
    if est_jaccard_floor > 0:
        est = _pair_est_jaccard(pairs, with_sig, num_perm, cache_registry,
                                n_docs=n_docs)
        # Drop accounting rides on the stats frame (crossJoin of two 1-row
        # aggregates). coalesce: F.sum over an EMPTY frame is NULL, and
        # the lineage contract is a counted zero, not None.
        screen_stats = est.agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("_est_j") < est_jaccard_floor, 1)
                    .otherwise(0)
                ),
                F.lit(0),
            ).alias("n_screened_out"),
        )
        stats = stats.crossJoin(screen_stats)
        pairs = (
            est.where(F.col("_est_j") >= est_jaccard_floor)
            .select("id_1", "id_2")
        )
    else:
        stats = stats.withColumn("n_screened_out", F.lit(0))
    return pairs, stats


def _bucket_sizes(
    bands: DataFrame, bucket_cap: int
) -> tuple[DataFrame, DataFrame]:
    """(sizes, stats) of a band-rows table: sizes(band_id, band_hash, bsz)
    per bucket, and the 1-row bucket accounting an LSH pass reports
    (bucket count, buckets over ``bucket_cap``, rows in them, largest
    bucket) — what the cap drops is counted, never silent."""
    sizes = bands.groupBy("band_id", "band_hash").agg(F.count("*").alias("bsz"))
    over = F.col("bsz") > bucket_cap
    stats = sizes.agg(
        F.count("*").alias("n_buckets"),
        F.sum(F.when(over, 1).otherwise(0)).alias("n_buckets_over_cap"),
        F.sum(F.when(over, F.col("bsz")).otherwise(0)).alias(
            "n_rows_in_over_cap"
        ),
        F.max("bsz").alias("max_bucket"),
    )
    return sizes, stats


def _pair_est_jaccard(
    pairs: DataFrame,
    with_sig: DataFrame,
    num_perm: int,
    cache_registry: list | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """(id_1, id_2) -> (id_1, id_2, _est_j): MinHash-estimated Jaccard of
    each pair, from ``with_sig``'s (_id, signature) columns.

    Estimates on 15-bit truncations of the minhash values, not the full
    31-bit values: the estimator only compares positions for EQUALITY,
    and x==y implies trunc(x)==trunc(y), so recall through any downstream
    floor is exact; a false positional match needs a 2^-15 truncation
    collision (expected inflation ~num_perm/32768 of one position —
    invisible at a 0.25 floor). The payoff is shuffle bytes: the pair-sig
    joins ship every candidate pair's attached signature, and smallint
    arrays are ~4x leaner than the long arrays (the full-width version
    filled this box's disk with spill at 400k pages before the screen ever
    finished).

    The result is narrowed to 3 columns BEFORE a lazy MEMORY_AND_DISK
    persist (signature arrays would make cached rows ~100x fatter for no
    reader), so a stats action and a pairs action share one execution of
    the upstream bucket join; pass ``cache_registry`` to receive the
    persisted frame and release it once all readers have run.

    ``n_docs`` (when the caller knows the corpus row count — the
    orchestrator reads it from the s1_signatures manifest, zero extra
    actions): at or under ``_SIG_BROADCAST_MAX_DOCS`` the truncated sig
    table is broadcast, turning both pair-sig joins into map-side hash
    probes with NO pair-row shuffle. Without the hint Spark plans an SMJ
    that shuffles and sorts every candidate pair WITH its two attached
    signatures — measured fatal at 400k docs: the 63x2 rescue banding's
    ~520M collision rows times ~260 B of smallint arrays filled this
    box's 94 GB of usable disk with sort spill (run log
    BENCH/r3/pipeline_200k_rescue_oom.log). The truncated table is
    ~300 B/doc (~600 MB at the 2M-doc guard); past the guard the SMJ is
    the honest plan — at 10^12 rows no corpus-wide table broadcasts, and
    the bucket cap bounds the pair volume per probe instead.
    """
    sigs = with_sig.select(
        "_id",
        F.transform(
            "signature", lambda x: (x.bitwiseAND(F.lit(32767))).cast("smallint")
        ).alias("ssig"),
    )
    if n_docs is not None and n_docs <= _SIG_BROADCAST_MAX_DOCS:
        sigs = F.broadcast(sigs)
    est = (
        pairs
        .join(sigs.select(F.col("_id").alias("id_1"),
                          F.col("ssig").alias("_sig1")), "id_1")
        .join(sigs.select(F.col("_id").alias("id_2"),
                          F.col("ssig").alias("_sig2")), "id_2")
        .withColumn(
            "_est_j",
            sig_eq_count(F.col("_sig1"), F.col("_sig2"))
            / F.lit(float(num_perm)),
        )
        .select("id_1", "id_2", "_est_j")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if cache_registry is not None:
        cache_registry.append(est)
    return est


def rescue_candidates(
    sig_df: DataFrame,
    probe_ids: DataFrame,
    num_perm: int = 126,
    rows_per_band: int = 2,
    bucket_cap: int = 500,
    est_jaccard_floor: float = 0.0,
    top_k: int = 500,
    cache_registry: list | None = None,
    n_docs: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Aggressive-banding LSH candidates for a SMALL probe set against the
    whole corpus — the singleton rescue pass.

    Motivation (measured, BENCH/r3/SCALE_EVIDENCE.md §3): pairwise recall
    decays with corpus size — 1.0 (5k) → 0.9962 (50k) → 0.9876 (200k
    entities) — because the per-edge catch probability of the production
    42x3 banding (~0.96 at the base-variant Jaccard p5 of 0.42, ~0.81 at
    the variant-variant p25 of 0.34) meets an ever-longer truth-pair tail:
    a variant whose ONLY edge is missed stays a singleton forever. Fixing
    that corpus-wide by moving to 2-row banding costs ~4x colliding pairs
    on EVERY record — the wrong trade at 10^12 rows.

    This pass instead re-banded only after clustering: the same ``num_perm``
    signature positions as the main pass regrouped into
    ``num_perm // rows_per_band`` bands of ``rows_per_band`` rows. At r=2/63
    bands the per-edge catch is ~0.9995 at Jaccard 0.34 and
    ~1.0 at 0.42 — but only records in ``probe_ids`` (the post-clustering
    unclustered reps: misses plus true loners, ~30% of reps on the
    synthetic corpus) probe the buckets, so the candidate volume is
    O(|probe| * bucket_cap * bands) — linear in corpus size with a
    cap-bounded constant, vs corpus-wide 2-row banding where EVERY record
    pays the collision mass. The corpus-side cost is one map-only banding
    projection over ``sig_df`` — the checkpointed ``s1_signatures`` table
    the orchestrator passes in — so the signature pass itself is NOT
    re-paid here.

    Skew guards, in order:
    - buckets over ``bucket_cap`` are dropped AND counted (never silent);
      the main pass already SN-refined its own over-cap buckets, so a
      rescue probe landing only in mega-buckets gains nothing new there;
    - ``est_jaccard_floor`` screens pairs on signature-estimated Jaccard
      (shared 15-bit-truncation estimator, see ``_pair_est_jaccard``) —
      AFTER the pair distinct, deliberately: 2-row banding collides a
      near-dup in most of its 63 bands, so estimating on the raw join
      output multiplies the (interpreted, 126-position) comparison by the
      band multiplicity — measured 3x slower than distinct-first at a
      100k-page LSH-only run (507.7M distinct collisions). The distinct
      ships only narrow id pairs; the signature joins that follow are
      broadcasts (corpus sigs at 15-bit truncation are ~25 MB per 100k
      docs; at 10^12-row scale the probe-adjacent pair set, not the
      corpus, bounds that join because only ~bands x bucket_cap partners
      per probe survive the cap);
    - ``top_k`` keeps only the best-estimated ``top_k`` partners per probe,
      so one degenerate probe (boilerplate text colliding everywhere)
      cannot flood the alignment stage.

    Returns (pairs, stats): pairs(id_1, id_2) distinct with id_1 < id_2,
    every pair touching >= 1 probe id; stats is a 1-row accounting frame.
    """
    num_bands = num_perm // rows_per_band
    with_sig = sig_df.select("_id", "signature")
    bands = band_rows(with_sig, num_bands, num_perm)
    probes = probe_ids.select(F.col(probe_ids.columns[0]).alias("_id")).distinct()
    # One cheap action up front: |probe| decides the join strategy below
    # (broadcast only when the probe band rows verifiably fit — a
    # degenerate run where the main pass found nothing makes the probe
    # set the whole corpus, and an unconditional broadcast hint would
    # OOM the driver at scale), and lands in stats as lineage.
    n_probes = probes.count()
    probe_bands = bands.join(probes, "_id", "left_semi")
    sizes, stats = _bucket_sizes(bands, bucket_cap)
    ok = bands.join(
        sizes.where(F.col("bsz") <= bucket_cap).drop("bsz"),
        ["band_id", "band_hash"],
    )
    # Probe rows keep their identity on the LEFT (id_1 = probe) so the
    # per-probe top-k window below has a key; normalization to
    # (least, greatest) happens after the screen. That orientation and
    # the n_probes-sized broadcast guard are why this pass keeps its own
    # probe join instead of ops.dedup.pairs_from_band_rows(probe_ids=...),
    # which emits normalized pairs.
    probe_side = probe_bands.select(
        "band_id", "band_hash", F.col("_id").alias("id_1")
    )
    if n_probes * num_bands <= 2_000_000:
        probe_side = F.broadcast(probe_side)
    raw = (
        probe_side
        .join(ok.select("band_id", "band_hash", F.col("_id").alias("id_2")),
              ["band_id", "band_hash"])
        .where(F.col("id_1") != F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )
    caches: list = []
    est = _pair_est_jaccard(raw, with_sig, num_perm, caches, n_docs=n_docs)
    if cache_registry is not None:
        cache_registry.extend(caches)
    screened = est.where(F.col("_est_j") >= est_jaccard_floor)
    if top_k > 0:
        w = Window.partitionBy("id_1").orderBy(
            F.col("_est_j").desc(), F.col("id_2")
        )
        screened = (
            screened.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= top_k)
        )
    pairs = (
        screened.select(
            F.least("id_1", "id_2").alias("id_1"),
            F.greatest("id_1", "id_2").alias("id_2"),
        )
        .distinct()
    )
    screen_stats = est.agg(
        F.coalesce(F.count("*"), F.lit(0)).alias("n_probe_collisions"),
        F.coalesce(
            F.sum(F.when(F.col("_est_j") < est_jaccard_floor, 1).otherwise(0)),
            F.lit(0),
        ).alias("n_screened_out"),
    ).withColumn("n_probes", F.lit(n_probes))
    return pairs, stats.crossJoin(screen_stats)


# ------------------------------------------------- adaptive banding (r4)
# The measured decay this answers (BENCH/r3/SCALE_EVIDENCE.md §7): blocking
# pair completeness at FIXED 42x3 banding fell 0.9266 (400k pages) ->
# 0.9002 (1M) as the truth-pair tail thickened near the Jaccard floor. The
# fix is provisioning banding from the DATA — the measured truth-pair
# Jaccard histogram — the same way skew_salted_join derives its salt from
# the key histogram, instead of inheriting a constant tuned at 50k.


def banding_catch_prob(s: float, rows: int, bands: int) -> float:
    """P(>=1 band collides) for a pair of Jaccard ``s`` under
    ``bands`` x ``rows`` MinHash banding: 1 - (1 - s^rows)^bands."""
    s = min(max(s, 0.0), 1.0)
    return 1.0 - (1.0 - s**rows) ** bands


class BandingPlan:
    """Chosen banding + the evidence it was chosen from (lineage)."""

    def __init__(self, rows_per_band: int, num_bands: int, **evidence):
        self.rows_per_band = rows_per_band
        self.num_bands = num_bands
        self.num_perm = rows_per_band * num_bands
        self.evidence = evidence

    def as_dict(self) -> dict:
        return {
            "rows_per_band": self.rows_per_band,
            "num_bands": self.num_bands,
            "num_perm": self.num_perm,
            **self.evidence,
        }

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"BandingPlan({self.as_dict()})"


def _select_banding(
    truth_hist: dict[float, float],
    bg_hist: dict[float, float],
    target_completeness: float,
    max_perm: int,
    rows_options: tuple[int, ...] = (2, 3, 4),
    bg_cap: float = 0.4,
    min_truth_mass: float = 30.0,
    default: tuple[int, int] = (3, 42),
    cap_survival: dict[int, float] | None = None,
) -> BandingPlan:
    """Pure driver-side selection from two WEIGHTED estimated-Jaccard
    histograms {est_j_bin: mass} (unit-testable without Spark).

    For each (rows, bands <= max_perm // rows):
      completeness = mass-weighted mean catch prob over the TRUTH hist
      bg_rate      = mass-weighted mean catch prob over the BACKGROUND hist
    Pick the cheapest config that meets the completeness target with
    bg_rate <= bg_cap; if no config meets the target inside the width
    budget, maximize completeness among bg-affordable configs (and say
    so); with too little truth mass to estimate from, keep the default.

    ``cap_survival[r]``: measured P(a colliding band's bucket is under
    the production bucket cap), folded into the per-band catch as
    s^r * cap_survival[r]. Without it the iid positional model
    over-predicts delivered completeness at scale — measured at 400k
    pages: positional catch 0.9475 vs delivered 0.889 at 42x3, the gap
    being truth pairs whose only colliding bands land in over-cap
    (generic-shingle) buckets, a loss that GROWS with corpus size
    (29 over-cap buckets at 5k entities -> 8k at 400k).
    """
    if max_perm < 1:
        raise ValueError(
            f"signature budget max_perm={max_perm} cannot hold one band "
            "row; raise num_perm to at least 1"
        )
    t_mass = sum(truth_hist.values())

    def _fallback(reason: str) -> BandingPlan:
        # Clamp the default to the signature budget: with num_perm < 126
        # the unclamped (3, 42) default's band_width (126) exceeds the
        # signature length, and every out-of-range band slices to the SAME
        # empty array — corpus-wide degenerate buckets (ADVICE r4). The
        # plan must never promise more permutations than the signatures
        # carry.
        r, b = default
        r = min(r, max_perm)
        b = max(1, min(b, max_perm // r))
        return BandingPlan(
            r, b, chosen_by=reason,
            predicted_completeness=None, predicted_bg_rate=None, **base,
        )

    base = {
        "truth_mass": round(t_mass, 1),
        "bg_mass": round(sum(bg_hist.values()), 1),
        "est_floor": (
            round(min(truth_hist), 4) if truth_hist else None
        ),
        "target_completeness": target_completeness,
        "bg_cap": bg_cap,
        "max_perm": max_perm,
        "cap_survival": {
            r: round(v, 4) for r, v in (cap_survival or {}).items()
        },
    }
    if t_mass < min_truth_mass:
        return _fallback("fallback-insufficient-truth-mass")
    t = np.clip(np.array(list(truth_hist), dtype=np.float64), 0.0, 1.0)
    tw = np.array(list(truth_hist.values()), dtype=np.float64)
    tw = tw / tw.sum()
    g = np.clip(np.array(list(bg_hist), dtype=np.float64), 0.0, 1.0)
    gw = np.array(list(bg_hist.values()), dtype=np.float64)
    gw = gw / gw.sum() if gw.sum() > 0 else gw
    candidates = []  # (bg_rate, width, -rows, rows, bands, completeness)
    best_effort = None
    for r in rows_options:
        surv = (cap_survival or {}).get(r, 1.0)
        per_band_t = (t**r) * surv
        per_band_g = (g**r) * surv
        for b in range(1, max_perm // r + 1):
            comp = float(np.sum(tw * (1.0 - (1.0 - per_band_t) ** b)))
            bg = (
                float(np.sum(gw * (1.0 - (1.0 - per_band_g) ** b)))
                if len(g) else 0.0
            )
            if bg > bg_cap:
                break  # bg_rate is monotone in bands: wider only worse
            if comp >= target_completeness:
                candidates.append((bg, r * b, -r, r, b, comp))
                break  # completeness monotone in bands: first b is cheapest
            if best_effort is None or comp > best_effort[0]:
                best_effort = (comp, bg, r, b)
    if candidates:
        bg, _, _, r, b, comp = min(candidates)
        plan = BandingPlan(
            r, b, chosen_by="target-met-min-bg",
            predicted_completeness=round(comp, 4),
            predicted_bg_rate=round(bg, 4), **base,
        )
    elif best_effort is not None:
        comp, bg, r, b = best_effort
        plan = BandingPlan(
            r, b, chosen_by="best-effort-target-unreachable-in-width",
            predicted_completeness=round(comp, 4),
            predicted_bg_rate=round(bg, 4), **base,
        )
    else:
        plan = _fallback("fallback-no-affordable-config")
    if plan.num_perm > max_perm:
        raise ValueError(
            f"banding plan {plan.rows_per_band}x{plan.num_bands} exceeds "
            f"the signature budget max_perm={max_perm}; raise num_perm to "
            f"at least {plan.num_perm}"
        )
    return plan


def choose_banding(
    sig_df: DataFrame,
    num_perm: int,
    norm_df: DataFrame | None = None,
    id_col: str = "url",
    text_col: str = "norm_text",
    target_completeness: float = 0.95,
    dup_threshold: float = 0.25,
    probe_cap: int = 2000,
    bg_anchors: int = 64,
    bucket_cap: int = 500,
    rows_options: tuple[int, ...] = (2, 3, 4),
    bg_cap: float = 0.4,
    n_docs: int | None = None,
    params=None,
    confirm_threshold: float = 0.8,
    align_top_k: int = 5000,
    prod_bucket_cap: int = 200,
) -> BandingPlan:
    """Data-driven (rows_per_band, num_bands) from the corpus itself.

    Estimation (all distributed, all bounded):
      1. PROBE: the ``probe_cap`` docs with the smallest xxhash64(_id) —
         deterministic, order-insensitive, unbiased in content.
      2. COLLISION HISTOGRAM: probe docs are banded against the whole
         corpus at the most sensitive affordable grouping (2 rows/band
         over the full signature — the rescue pass's shape, with the same
         bucket-cap + distinct-first guards), each colliding pair's
         Jaccard is estimated by the shared 15-bit signature estimator,
         and the estimates are binned to 2 dp (the collect is <= 101
         bin counts, never rows).
      3. ALIGNMENT CONFIRMATION: probe collisions at or above
         ``dup_threshold`` (the pipeline's signature-screen floor —
         pairs under it are screened out even when banding catches
         them) are scored by the engine's OWN alignment kernel
         (``scoring.score_pairs``, Myers fast path, banded at
         ``confirm_threshold``); pairs whose normalized similarity
         clears the pipeline's edge threshold are truth, everything
         else is junk. The truth histogram is the est-Jaccard
         distribution of the CONFIRMED pairs. This label source is
         scale-stable: an earlier excess-over-background estimator
         (statistical subtraction) broke down at 1M pages because the
         expected-background term grows with n_docs while the probe's
         truth signal does not — the thickening low-Jaccard truth tail
         vanished into the subtraction and the chooser under-provisioned
         (measured: predicted 0.95, delivered 0.85). Alignment labels
         cost one bounded kernel batch (<= probe_cap * align_top_k
         pairs, per-probe top-k by estimate) and have ~unit precision at
         the 0.8 threshold, so no subtraction is needed.
      4. BACKGROUND HISTOGRAM: probe x ``bg_anchors`` fixed anchor docs
         (broadcast cross join, <= probe_cap * bg_anchors pairs)
         estimate the UNCONDITIONAL random-pair Jaccard distribution,
         which prices each config's collision mass.
      5. ``_select_banding`` picks the cheapest config meeting the
         completeness target within the ``num_perm`` width budget.

    The width budget IS ``num_perm``: signatures are computed once at the
    configured width and banding uses a prefix, so adaptivity costs
    nothing extra per-row — provision ``num_perm`` for the corpus you
    fear, and this function spends only what the data requires (it
    rediscovers 42x3 from the 50k-entity corpus rather than defaulting
    to the widest/most collision-heavy scheme).

    Cost at corpus scale: one bounded top-k collect of the probe ids
    (the anchors are its head), two corpus band explodes — one over every
    rows-per-band width at once, aggregated only over the keys a probe
    touches into the shared bucket-size table, and the 2-row collision
    join — and three small collects: the collision volume (which sizes
    the pair distinct), the truth and background histograms (<= 2 x 101
    bin counts) and one cap-survival row per rows option.
    """
    if norm_df is None:
        raise ValueError(
            "choose_banding needs norm_df (id, text) to alignment-confirm "
            "the probe pairs"
        )
    # A document without text has no bands and no estimate: never a probe.
    sigs = sig_df.select("_id", "signature").where(
        F.col("signature").isNotNull()
    )
    spark = sigs.sparkSession
    # Collected once; pandas in, so the probe frame is a local relation
    # that broadcasts without a job.
    probe_pd = (
        sigs.select("_id")
        .orderBy(F.xxhash64(F.col("_id")).asc(), F.col("_id"))
        .limit(probe_cap).toPandas()
    )
    id_schema = sigs.select("_id").schema
    probe = spark.createDataFrame(probe_pd, id_schema)
    probe_sigs = sigs.join(F.broadcast(probe), "_id", "left_semi")

    # Every width the chooser reads (the 2-row collision pass first, then
    # each rows option for cap survival) in one band-key array: a key's
    # array position identifies its (width, band), and the 2-row bands
    # keep their own band ids.
    widths = [2, *sorted(set(rows_options) - {2})]
    ends = np.cumsum([num_perm // r for r in widths]).tolist()
    bounds = dict(zip(widths, zip([0, *ends], ends)))

    def all_widths(sig):
        return F.concat(*[
            band_keys_col(sig, num_perm // r, num_perm // r * r)
            for r in widths
        ])

    # One bucket-size table for all of them, over the keys a probe
    # touches only, so it stays small enough to persist and broadcast.
    key = ["band_id", "band_hash"]
    exploded = F.posexplode(all_widths(F.col("signature"))).alias(*key)
    sizes = (
        sigs.select(exploded)
        .join(F.broadcast(probe_sigs.select(exploded)), key, "left_semi")
        .groupBy(*key)
        .agg(F.count("*").alias("bsz"))
        .persist()
    )
    est_bands = num_perm // 2
    probe_side = (
        band_rows(probe_sigs, est_bands, 2 * est_bands)
        .join(F.broadcast(sizes.where(
            (F.col("band_id") < est_bands) & (F.col("bsz") <= bucket_cap)
        )), key)
        .select("band_id", "band_hash", F.col("_id").alias("id_1"), "bsz")
    )
    # The distinct's hash maps carry two url strings per entry; at 1M docs
    # a too-narrow distinct left ~500 MB of aggregation state per task and
    # exhausted the unified pool (measured UNABLE_TO_ACQUIRE at 526k
    # entities). Its exact input row count (the probes' under-cap bucket
    # sizes) sets its partition count.
    n_rows = probe_side.agg(F.sum("bsz")).first()[0] or 0
    raw = (
        band_rows(sigs, est_bands, 2 * est_bands)
        .join(F.broadcast(probe_side.drop("bsz")), key)
        .where(F.col("_id") != F.col("id_1"))
        .select("id_1", F.col("_id").alias("id_2"))
        .repartition(
            max(1, -(-n_rows // _DISTINCT_ROWS_PER_PART)), "id_1", "id_2"
        )
        .distinct()
    )
    # A truth pair whose BOTH members are probes survives the distinct
    # twice — once per orientation (id_1 is always the probe side) — and
    # would be double-weighted in the truth histogram, a measurable bias
    # when probe_cap is a large corpus fraction (ADVICE r4). Keep only the
    # id_1 < id_2 orientation of probe-probe pairs.
    raw = (
        raw.join(
            F.broadcast(
                probe.select(
                    F.col("_id").alias("id_2"), F.lit(True).alias("_p2")
                )
            ),
            "id_2",
            "left",
        )
        .where(F.col("_p2").isNull() | (F.col("id_1") < F.col("id_2")))
        .drop("_p2")
    )
    caches: list = []
    est = _pair_est_jaccard(raw, sigs, num_perm, caches, n_docs=n_docs)
    cand = est.where(F.col("_est_j") >= dup_threshold)
    if align_top_k > 0:
        wtk = Window.partitionBy("id_1").orderBy(
            F.col("_est_j").desc(), F.col("id_2")
        )
        cand = (
            cand.withColumn("_rk", F.row_number().over(wtk))
            .where(F.col("_rk") <= align_top_k)
            .drop("_rk")
        )
    from ..config import unit_cost_params
    from .scoring import score_pairs, with_similarity

    t = norm_df.select(
        F.col(id_col).alias("_jid"), F.col(text_col).alias("_jtext")
    )
    pairs_with_text = (
        cand.join(t.withColumnRenamed("_jid", "id_1"), "id_1")
        .withColumnRenamed("_jtext", "text_1")
        .join(
            t.withColumnRenamed("_jid", "id_2")
            .withColumnRenamed("_jtext", "text_2"),
            "id_2",
        )
        .repartition(
            spark.sparkContext.defaultParallelism * 2,
            F.xxhash64("id_1", "id_2"),
        )
    )
    scored = with_similarity(
        score_pairs(
            pairs_with_text,
            params or unit_cost_params(),
            sim_threshold=confirm_threshold,
        )
    )
    # persist(), not localCheckpoint(): both frames below are released at
    # the end of this function — a localCheckpoint's blocks are not
    # reachable from DataFrame.unpersist(), so each auto-banding call in a
    # long session would permanently hold block-manager storage (ADVICE
    # r4). The frames are bounded (<= confirmed probe collisions), so
    # keeping lineage costs nothing.
    confirmed = scored.where(
        (~F.col("oversize"))
        & (F.col("similarity") >= confirm_threshold)
    ).select("id_1", "id_2", "_est_j").persist()
    anchors = probe_sigs.join(F.broadcast(
        spark.createDataFrame(probe_pd.head(bg_anchors), id_schema)
    ), "_id", "left_semi").select(
        F.col("_id").alias("_aid"), F.col("signature").alias("_asig")
    )
    bg_est = (
        probe_sigs.crossJoin(F.broadcast(anchors))
        .where(F.col("_id") != F.col("_aid"))
        .select(F.lit(False), sig_eq_count(F.col("signature"), F.col("_asig"))
                / F.lit(float(num_perm)))
    )
    # Truth and background histograms in one action.
    hists: dict = {True: {}, False: {}}
    for r in sorted(
        confirmed.select(F.lit(True).alias("truth"), "_est_j").union(bg_est)
        .groupBy("truth", F.round("_est_j", 2).alias("b")).count().collect()
    ):
        hists[r["truth"]][float(r["b"])] = float(r["count"])
    truth_hist, bg_hist = hists[True], hists[False]
    for frame in caches:
        frame.unpersist()

    # Cap-survival measurement: the iid positional model over-predicts
    # DELIVERED completeness because the production pass drops (SN-
    # refines) buckets over its cap, and truth pairs whose only
    # colliding bands land in such generic-shingle mega buckets are
    # lost — a loss that grows with corpus size. For each rows-per-band
    # option, find the confirmed pairs' ACTUAL matching bands (equal band
    # keys, no model) and measure P(bucket <= production cap | band
    # matches). A matching key is its probe's key, so the size table
    # holds it: one small join, no corpus pass.
    matched = (
        confirmed
        .join(sigs.select(F.col("_id").alias("id_1"),
                          F.col("signature").alias("_s1")), "id_1")
        .join(sigs.select(F.col("_id").alias("id_2"),
                          F.col("signature").alias("_s2")), "id_2")
        .select(F.posexplode(F.zip_with(
            all_widths(F.col("_s1")), all_widths(F.col("_s2")),
            lambda k1, k2: F.when(k1 == k2, k1),
        )).alias(*key))
        .where(F.col("band_hash").isNotNull())
        .join(F.broadcast(sizes), key)
        .groupBy("band_id")
        .agg(F.count("*").alias("n"),
             F.count(F.when(F.col("bsz") <= prod_bucket_cap, 1)).alias("ok"))
        .collect()
    )
    cap_survival = {}
    for r in rows_options:
        lo, hi = bounds[r]
        rows = [row for row in matched if lo <= row["band_id"] < hi]
        n = sum(row["n"] for row in rows)
        cap_survival[r] = sum(row["ok"] for row in rows) / n if n else 1.0

    confirmed.unpersist()
    sizes.unpersist()
    return _select_banding(
        truth_hist, bg_hist, target_completeness, num_perm,
        rows_options=rows_options, bg_cap=bg_cap,
        cap_survival=cap_survival,
    )


def sorted_neighborhood_candidates(
    df: DataFrame,
    id_col: str = "url",
    key_col: str = "host",
    order_col: str = "norm_text",
    window: int = 3,
) -> DataFrame:
    """Linear-cost within-block candidates: sort each block, pair each row
    with its next `window` neighbors. Hot blocks cost O(n·w), never O(n²) —
    this is the explicit skew handling for Zipfian host blocks.
    """
    w = Window.partitionBy(key_col).orderBy(order_col, id_col)
    leads = [F.lead(id_col, i).over(w).alias(f"_n{i}") for i in range(1, window + 1)]
    wide = df.select(F.col(id_col).alias("id_1"), *leads)
    nbrs = F.array_compact(F.array(*[F.col(f"_n{i}") for i in range(1, window + 1)]))
    return (
        wide.select("id_1", F.explode(nbrs).alias("id_2"))
        .select(
            F.least("id_1", "id_2").alias("id_1"),
            F.greatest("id_1", "id_2").alias("id_2"),
        )
        .distinct()
    )


def salted_join(
    big: DataFrame, small: DataFrame, key: str, n_salt: int = 8
) -> DataFrame:
    """Explicit salted equi-join (J2): append a random-ish salt on the big
    side, explode the small side across all salts, join on (key, salt).
    Deterministic salt (hash of the row) so retries are stable.
    """
    salted_big = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*big.columns), F.lit(n_salt)).cast("int")
    )
    salted_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)).cast("array<int>"))
    )
    return salted_big.join(salted_small, [key, "_salt"]).drop("_salt")


def skew_salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    target_rows_per_task: int = 100_000,
) -> DataFrame:
    """Data-driven salted equi-join (SURVEY §7.3): salt factors come from
    the big side's key histogram instead of a fixed constant.

    Only HOT keys (count > ``target_rows_per_task``) are salted, each with
    factor ceil(count / target) — so the broadcast factor map holds just
    the hot keys (small by the definition of skew: at 10^12 rows a Zipfian
    host distribution has a handful of keys above any sane target), and
    the small side is replicated only where needed, not n_salt× everywhere
    like the fixed-factor :func:`salted_join`. Cold keys join with salt 0
    on both sides — one extra broadcast-joined column, no row blowup.

    Result equals ``big.join(small, key)`` row-for-row
    (tests/test_ops.py::test_skew_salted_join_equals_plain_join); only the
    physical partitioning changes: no (key) partition exceeds
    ~``target_rows_per_task`` big-side rows.
    """
    hot = (
        big.groupBy(key)
        .agg(F.count("*").alias("_cnt"))
        .where(F.col("_cnt") > target_rows_per_task)
        .select(
            key,
            F.ceil(F.col("_cnt") / F.lit(target_rows_per_task))
            .cast("int")
            .alias("_nf"),
        )
    )
    big2 = (
        big.join(F.broadcast(hot), key, "left")
        .withColumn(
            "_salt",
            F.when(
                F.col("_nf").isNotNull(),
                F.pmod(F.xxhash64(*big.columns), F.col("_nf")).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("_nf")
    )
    small2 = (
        small.join(F.broadcast(hot), key, "left")
        .withColumn(
            "_salt",
            F.explode(
                F.sequence(
                    F.lit(0), F.coalesce(F.col("_nf"), F.lit(1)) - F.lit(1)
                ).cast("array<int>")
            ),
        )
        .drop("_nf")
    )
    return big2.join(small2, [key, "_salt"]).drop("_salt")


def attach_texts(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "norm_text",
    repartition_to: int | None = None,
) -> DataFrame:
    """(id_1, id_2) -> (id_1, text_1, id_2, text_2), repartitioned by pair
    hash so downstream Arrow scoring batches are balanced regardless of how
    skewed the blocking keys were.
    """
    t = df.select(F.col(id_col).alias("_jid"), F.col(text_col).alias("_jtext"))
    out = (
        pairs.join(t.withColumnRenamed("_jid", "id_1"), "id_1")
        .withColumnRenamed("_jtext", "text_1")
        .join(
            t.withColumnRenamed("_jid", "id_2").withColumnRenamed("_jtext", "text_2"),
            "id_2",
        )
        .select("id_1", "text_1", "id_2", "text_2")
    )
    n = repartition_to or out.sparkSession.conf.get("spark.sql.shuffle.partitions")
    return out.repartition(int(n), F.xxhash64("id_1", "id_2"))
