"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes every implemented operator family from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; `oracle_sql()` gives the DuckDB twin.
Shared constants (stopwords, lang markers, hyperplanes, regexes) are inlined
into BOTH the Spark plan and the SQL text so the two engines compute the
same function, not merely similar ones. All hash-dependent ops use md5
(present and bit-identical in both engines).

The alignment queries are the real correctness gate for the distributed
kernel: with unit costs (mismatch 1 / gap_open 0 / gap_extend 1) the
reference's cost-space Gotoh DP equals classic Levenshtein distance, so
DuckDB's `levenshtein()` is an exact oracle for the mapInPandas scorer.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from globalign_spark.config import unit_cost_params  # noqa: E402
from globalign_spark.ops import curation, dedup, embeddings, similarity, text as text_ops  # noqa: E402
from globalign_spark.ops import web as web_ops  # noqa: E402
from globalign_spark.pipeline import blocking, incremental, metrics, scoring  # noqa: E402
from globalign_spark.pipeline.clustering import connected_components  # noqa: E402
from globalign_spark.pipeline.scoring import score_pairs  # noqa: E402

# ---------------------------------------------------------------- constants
SIM_THRESHOLD = 0.8  # ER edge threshold on normalized alignment similarity
JACCARD_THRESHOLD = 0.2
ANN_K = 5
ANN_N_QUERIES = 20
LSH_PLANES = 6
EMB_DIM = 64
MINHASH_PERM = 16
MINHASH_BANDS = 4
# Wide-signature screen for the LSH candidate queries. Banding stays on the
# first MINHASH_PERM positions (minhash_coefs is prefix-stable, so band
# hashes are bit-identical to a 16-perm run); the screen then requires
# SCREEN_MIN_EQ of the full SIG_PERM positions to agree. Why it is safe for
# the ER queries: an edge needs alignment-sim >= SIM_THRESHOLD (0.8), and
# the variant construction (suffix truncation) means a qualifying pair's
# 5-gram Jaccard is >= ~0.79 ((n-24)/(n-4) at the sim=0.8 margin) — at
# j=0.79 the probability of fewer than 32/64 positions agreeing is < 1e-9.
# Background collisions (j ~ 0.2 on this shingle-dense corpus) survive with
# p ~ 5e-5. Measured at gen-sf10: 197.8M colliding pairs (78x for 10x docs
# — quadratic) screen down to near-dup scale before any shuffle.
SIG_PERM = 64
SCREEN_MIN_EQ = 32
FP_K = 8
FP_WINDOW = 4

_PLANES = similarity.hyperplanes(EMB_DIM, LSH_PLANES, seed=7)

# Oracle-parity override ONLY: the DuckDB SQL twins have no hot-bucket skew
# guard, so the Spark side disables its cap to compute the identical
# function. Library/pipeline defaults keep a FINITE cap
# (dedup.dedup_minhash_lsh bucket_cap=500, blocking.lsh_candidates 200,
# PipelineConfig.bucket_cap) — never copy this constant into production
# paths; tests/test_ops.py asserts the defaults stay finite.
ORACLE_UNCAPPED = 1_000_000_000


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Documents augmented with deterministic near-duplicate variants (prefix
# truncations — expressible identically in SQL), so dedup/ER queries have
# real duplicate structure to find. Variant ids live at +V1_OFF / +V2_OFF:
# the offsets must exceed the largest base doc_id at any benchable scale
# (gen-sf10 has 500k base docs; the old +100000/+200000 offsets ALIASED
# real doc ids beyond sf2, silently merging unrelated docs into one id).
V1_OFF = 10_000_000
V2_OFF = 20_000_000


def _docs_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    v1 = (
        d.where(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + V1_OFF).alias("doc_id"),
            F.expr("substring(text, 21)").alias("text"),
            "lang",
            "source",
        )
    )
    v2 = (
        d.where(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + V2_OFF).alias("doc_id"),
            F.expr("substring(text, 41)").alias("text"),
            "lang",
            "source",
        )
    )
    return d.unionByName(v1).unionByName(v2)


DOCS_AUG_SQL = f"""
  (select doc_id, text, lang, source from documents
   union all
   select doc_id + {V1_OFF}, substr(text, 21), lang, source
   from documents where doc_id % 5 = 0
   union all
   select doc_id + {V2_OFF}, substr(text, 41), lang, source
   from documents where doc_id % 10 = 0)
"""


def _sql_list(xs) -> str:
    return "[" + ", ".join(f"'{x}'" for x in xs) + "]"


def _sql_floats(xs) -> str:
    return "[" + ", ".join(repr(float(x)) for x in xs) + "]"


# ------------------------------------------------------------------ queries
def q_align_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked self-join (J1) + distributed Gotoh kernel (C1-C2) under unit
    costs; lev_dist/align_score vs DuckDB levenshtein."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # Broadcast self-join: the build side is the whole (small) dimension;
    # the probe side is round-robin repartitioned FIRST so the O(n^2/blocks)
    # pair expansion — and the kernel right after it — runs across all
    # cores with zero shuffle of expanded pair texts. (The alternative,
    # shuffle-join then repartition pairs, moves every pair's two texts
    # through a full exchange; per-cell scoring cost makes byte-based AQE
    # coalescing pick far too few tasks.)
    a = d.repartition(spark.sparkContext.defaultParallelism * 2).select(
        F.col("doc_id").alias("doc_id_1"), "source", F.col("text").alias("text_1")
    )
    b = d.select(
        F.col("doc_id").alias("doc_id_2"), "source", F.col("text").alias("text_2")
    )
    pairs = a.join(F.broadcast(b), "source").where(
        F.col("doc_id_1") < F.col("doc_id_2")
    )
    scored = score_pairs(pairs, unit_cost_params())
    return scored.select(
        "doc_id_1",
        "doc_id_2",
        F.col("cost").alias("lev_dist"),
        F.col("score").alias("align_score"),
    )


SQL_ALIGN_PAIRS = """
select a.doc_id as doc_id_1, b.doc_id as doc_id_2,
       levenshtein(a.text, b.text) as lev_dist,
       length(a.text) + length(b.text) - levenshtein(a.text, b.text)
         as align_score
from documents a join documents b
  on a.source = b.source and a.doc_id < b.doc_id
"""


def q_align_pairs_oversize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oversize-routing scorer (scoring.score_pairs_with_fallback): pairs
    over the DP cell cap are scored by linear shingle Jaccard instead of
    being NULLed/dropped — every candidate pair comes back with a
    similarity and a ``method`` lineage column. cell_cap=40k makes both
    routes carry real traffic on this corpus (~25% gotoh / 75% shingle).
    myers_cap_mult=1 pins routing at the literal cap so the SQL twin's
    ``cells <= 40000`` predicate stays exact (production default is 64x
    for unit-cost configs — scoring.effective_cell_cap)."""
    from globalign_spark.pipeline.scoring import score_pairs_with_fallback

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    a = d.repartition(spark.sparkContext.defaultParallelism * 2).select(
        F.col("doc_id").alias("id_1"), "source", F.col("text").alias("text_1")
    )
    b = d.select(
        F.col("doc_id").alias("id_2"), "source", F.col("text").alias("text_2")
    )
    pairs = a.join(F.broadcast(b), "source").where(F.col("id_1") < F.col("id_2"))
    return score_pairs_with_fallback(
        pairs, unit_cost_params(), cell_cap=40_000, shingle_k=5,
        myers_cap_mult=1,
    )


SQL_ALIGN_PAIRS_OVERSIZE = """
with d as (
  select doc_id, source, text,
         list_distinct([substr(text, i, 5)
                        for i in range(1, greatest(length(text)-4,1)+1)]) as grams
  from documents
)
select a.doc_id as id_1, b.doc_id as id_2,
       case when length(a.text)::BIGINT * length(b.text) <= 40000
            then 'gotoh' else 'shingle' end as method,
       round(case when length(a.text)::BIGINT * length(b.text) <= 40000
             then 1.0 - levenshtein(a.text, b.text)::DOUBLE
                      / greatest(length(a.text), length(b.text))
             else len(list_intersect(a.grams, b.grams))::DOUBLE
                  / (len(a.grams) + len(b.grams)
                     - len(list_intersect(a.grams, b.grams)))
             end, 6) as similarity
from d a join d b on a.source = b.source and a.doc_id < b.doc_id
"""


def q_er_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: blocking -> pairwise alignment scoring -> threshold ->
    large-star/small-star connected components (J1+C2+J5). Oracle is a
    recursive-CTE transitive closure over the same edge set."""
    d = _docs_aug(spark, sf_dir)
    # Same broadcast + pre-repartitioned-probe shape as q_align_pairs.
    a = d.repartition(spark.sparkContext.defaultParallelism * 2).select(
        F.col("doc_id").alias("id_1"), "source", F.col("text").alias("text_1")
    )
    b = d.select(
        F.col("doc_id").alias("id_2"), "source", F.col("text").alias("text_2")
    )
    pairs = a.join(F.broadcast(b), "source").where(F.col("id_1") < F.col("id_2"))
    # Banded scoring: edge membership only needs costs up to the threshold
    # budget; pairs certified over it come back NULL and fail the filter,
    # at ~2.5x fewer DP cells. Costs that pass are bit-exact (kernel fuzz
    # in tests/test_kernel_parity.py), so edges match the full-DP oracle.
    scored = scoring.with_similarity(
        score_pairs(pairs, unit_cost_params(), sim_threshold=SIM_THRESHOLD)
    )
    edges = scored.where(scoring.is_edge(SIM_THRESHOLD)).select("id_1", "id_2")
    comps = connected_components(edges, src="id_1", dst="id_2")
    return comps.select(F.col("id").alias("doc_id"), "component")


SQL_ER_END_TO_END = f"""
with recursive docs as {DOCS_AUG_SQL},
edges0 as (
  select a.doc_id as id_1, b.doc_id as id_2
  from docs a join docs b on a.source = b.source and a.doc_id < b.doc_id
  where 1.0 - levenshtein(a.text, b.text)::DOUBLE
            / greatest(length(a.text), length(b.text)) >= {SIM_THRESHOLD}
),
edges as (
  select id_1 as src, id_2 as dst from edges0
  union select id_2, id_1 from edges0
),
nodes as (select distinct src as id from edges),
reach as (
  select id as node, id as comp from nodes
  union
  select e.dst as node, r.comp
  from reach r join edges e on e.src = r.node
  where r.comp < e.dst
)
select node as doc_id, min(comp) as component
from reach group by node
"""


def q_er_lsh_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path flagship: MinHash-LSH blocking bounds the candidate set
    (instead of all within-block pairs), then alignment scoring, threshold,
    connected components — the SURVEY.md §3.4 architecture as one query.
    Candidate count is O(near-dup pairs), not O(n^2/blocks): at 10^12 docs
    this is the only viable shape. Oracle replicates the identical band
    scheme + levenshtein + recursive closure in SQL."""
    d = _docs_aug(spark, sf_dir)
    cand = dedup.dedup_minhash_lsh(
        d, k=5, num_perm=SIG_PERM, num_bands=MINHASH_BANDS,
        bucket_cap=ORACLE_UNCAPPED,
        band_perm=MINHASH_PERM, screen_min_eq=SCREEN_MIN_EQ,
    )
    edges = _cand_to_edges(d, cand)
    comps = connected_components(edges, src="id_1", dst="id_2")
    return comps.select(F.col("id").alias("doc_id"), "component")


def _cand_to_edges(d: DataFrame, cand: DataFrame) -> DataFrame:
    """Candidate pairs (id_1, id_2) -> above-threshold edges through the
    batch pipeline's own s3/s4 path: ``blocking.attach_texts`` (text
    attach + pair-hash repartition), banded ``score_pairs``,
    ``with_similarity`` and the s4 edge predicate ``is_edge``."""
    pairs = blocking.attach_texts(cand.select("id_1", "id_2"), d, "doc_id", "text")
    scored = scoring.with_similarity(
        score_pairs(pairs, unit_cost_params(), sim_threshold=SIM_THRESHOLD)
    )
    return scored.where(scoring.is_edge(SIM_THRESHOLD)).select("id_1", "id_2")


# Deterministic old/new split for the incremental-ER demonstration: ~25%
# of docs arrive as the "new crawl batch".
INCR_NEW_MOD = 4


def q_er_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ER: cluster the old 75% of the corpus with the batch
    pipeline, then fold the remaining 25% in via pipeline/incremental.py —
    LSH-probing only buckets the new docs touch and re-clustering only the
    components a new edge reaches. The oracle is the FULL-BATCH closure
    over the whole corpus (same SQL as er_lsh_pipeline): a hash match
    proves incremental maintenance is exactly equivalent to recomputing
    from scratch."""
    d = _docs_aug(spark, sf_dir).withColumn(
        "is_new", F.col("doc_id") % INCR_NEW_MOD == 0
    )
    old = d.where(~F.col("is_new"))
    new = d.where(F.col("is_new"))
    # Production shape: the banded-signature tables are materialized ONCE
    # per side (in deployment the old side is the checkpointed band-rows
    # table from the previous run; localCheckpoint stands in for that
    # scan here) — every downstream branch (bucket sizing, both sides of
    # the pair joins, the hot-bucket probe) reads the materialized rows
    # instead of re-running the full-corpus MinHash pipeline per branch.
    # Measured at sf0.1: 61s -> ~20s for this query.
    bands_old = dedup.lsh_band_rows(
        old, k=5, num_perm=SIG_PERM, num_bands=MINHASH_BANDS,
        band_perm=MINHASH_PERM, carry_sig=True,
    ).localCheckpoint()
    bands_new = dedup.lsh_band_rows(
        new, k=5, num_perm=SIG_PERM, num_bands=MINHASH_BANDS,
        band_perm=MINHASH_PERM, carry_sig=True,
    ).localCheckpoint()
    # Existing state, as a production deployment would read it from its
    # checkpointed assignment table: the batch pipeline's output on the
    # old corpus.
    old_cand = dedup.pairs_from_band_rows(
        bands_old, bucket_cap=ORACLE_UNCAPPED, screen_min_eq=SCREEN_MIN_EQ
    )
    old_assign = connected_components(
        _cand_to_edges(old, old_cand), src="id_1", dst="id_2"
    )
    # The incremental step: candidates touching >=1 new doc (probing only
    # buckets the batch touches), scored with the same banded kernel,
    # merged into the existing components.
    cand = incremental.incremental_candidates_from_bands(
        bands_old, bands_new, bucket_cap=ORACLE_UNCAPPED,
        screen_min_eq=SCREEN_MIN_EQ,
    )
    new_edges = _cand_to_edges(d, cand)
    comps = incremental.incremental_components(old_assign, new_edges)
    return comps.select(F.col("id").alias("doc_id"), "component")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact(_docs_aug(spark, sf_dir))


SQL_DEDUP_EXACT = f"""
select md5(text) as text_md5, min(doc_id) as survivor_id,
       count(*) as n_dupes
from {DOCS_AUG_SQL} docs
group by md5(text)
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    sig = F.col("signature")
    return dedup.minhash_signatures(
        d, "doc_id", "text", 5, MINHASH_PERM
    ).select(
        F.col("_id").alias("doc_id"),
        sig[0].alias("sig_0"),
        sig[1].alias("sig_1"),
        sig[MINHASH_PERM - 1].alias("sig_last"),
    )


_MH_P = dedup.MINHASH_P
_MH_COEFS = dedup.minhash_coefs(SIG_PERM)
_MH_HASH = f"('0x'||substr(md5(g),1,12))::BIGINT % {_MH_P} as h"


def _mh_min(j: int) -> str:
    a, b = _MH_COEFS[j]
    return f"min(({a}*h + {b}) % {_MH_P})"


SQL_MINHASH_SIGNATURES = f"""
with grams as (
  select doc_id,
         unnest(list_distinct([substr(text, i, 5)
                               for i in range(1, greatest(length(text)-4,1)+1)])) as g
  from documents
),
hashed as (select doc_id, {_MH_HASH} from grams)
select doc_id,
       {_mh_min(0)} as sig_0,
       {_mh_min(1)} as sig_1,
       {_mh_min(MINHASH_PERM - 1)} as sig_last
from hashed group by doc_id
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-MinHash near-dup candidates with the wide-signature screen:
    band collisions (first 16 positions, 4x4) propose, >=32/64 agreeing
    positions confirm. Screen-before-shuffle is what bounds this at scale —
    see ops.dedup.pairs_from_band_rows."""
    return dedup.dedup_minhash_lsh(
        _docs_aug(spark, sf_dir),
        k=5,
        num_perm=SIG_PERM,
        num_bands=MINHASH_BANDS,
        bucket_cap=ORACLE_UNCAPPED,
        band_perm=MINHASH_PERM,
        screen_min_eq=SCREEN_MIN_EQ,
    )


_ROWS_PER_BAND = MINHASH_PERM // MINHASH_BANDS
# Signature CTE is SIG_PERM wide (the screen needs the full width); the
# band CTE below slices only the first MINHASH_PERM positions, which are
# bit-identical to a 16-perm run (prefix-stable coefficients).
_MH_SIG_COLS = ", ".join(
    f"{_mh_min(j)} as s{j}" for j in range(SIG_PERM)
)
_MH_SCREEN_SUM = " + ".join(
    f"(sa.s{j} = sb.s{j})::int" for j in range(SIG_PERM)
)
_MH_BAND_ROWS = "\n  union all\n".join(
    "  select doc_id, {b} as band_id, md5('{b}' || '|' || {cat}) as band_hash"
    " from sigs".format(
        b=b,
        cat=" || ',' || ".join(
            f"s{j}::varchar"
            for j in range(b * _ROWS_PER_BAND, (b + 1) * _ROWS_PER_BAND)
        ),
    )
    for b in range(MINHASH_BANDS)
)
_MH_CAND_CTES = f"""grams as (
  select doc_id,
         unnest(list_distinct([substr(text, i, 5)
                               for i in range(1, greatest(length(text)-4,1)+1)])) as g
  from docs
),
hashed as (select doc_id, {_MH_HASH} from grams),
sigs as (select doc_id, {_MH_SIG_COLS} from hashed group by doc_id),
bands as (
{_MH_BAND_ROWS}
),
cand as (
  select distinct a.doc_id as id_1, b.doc_id as id_2
  from bands a join bands b
    on a.band_id = b.band_id and a.band_hash = b.band_hash
   and a.doc_id < b.doc_id
  join sigs sa on sa.doc_id = a.doc_id
  join sigs sb on sb.doc_id = b.doc_id
  where {_MH_SCREEN_SUM} >= {SCREEN_MIN_EQ}
)"""

SQL_DEDUP_MINHASH_LSH = f"""
with docs as {DOCS_AUG_SQL},
{_MH_CAND_CTES}
select id_1, id_2 from cand
"""


# --- Singleton-rescue blocking (pipeline stage s4b as an oracle query) ---
# The production pipeline re-probes post-clustering singletons with the
# SAME minhash signatures regrouped at 2 rows per band
# (pipeline/blocking.rescue_candidates; recall decay evidence in
# BENCH/r3/SCALE_EVIDENCE.md §3). The oracle needs a closed-form probe
# predicate, so a deterministic 1/17 slice of doc ids stands in for the
# singleton set; the distributed shape under test is identical: probe-side
# semi-join BEFORE pair expansion, so only probes pay the aggressive
# banding's collision mass.
_RESCUE_BANDS = 8  # same 16 leading sig positions as 4x4, regrouped 8x2
_RESCUE_ROWS = MINHASH_PERM // _RESCUE_BANDS
_RESCUE_PROBE_MOD, _RESCUE_PROBE_RES = 17, 3
# Production rescue bucket cap (pipeline/orchestrator.py s4b; ablated in
# BENCH/r3/pipeline_50k_lshonly_rescue_cap500.json). The aggressive 2-rows
# -per-band rescue scheme makes hot buckets quadratic — at sf0.1, 6 buckets
# over 500 members (max 1732) carried 68% of the 8.6M uncapped collision
# mass. The oracle twins encode the identical whole-bucket drop rule, so the
# capped query stays hash-checked.
_RESCUE_BUCKET_CAP = 500


def q_rescue_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-restricted 2-rows-per-band LSH candidates: the singleton
    rescue pass's blocking stage (ops.dedup.pairs_from_band_rows with
    probe_ids; production use in pipeline/orchestrator.py s4b), at the
    production bucket cap."""
    docs = _docs_aug(spark, sf_dir)
    # r=2 banding: distinct pairs first, THEN the signature screen with
    # the sig table broadcast (dedup.screen_pairs_by_sig — same per-pair
    # predicate as screen_min_eq, measured 2.4x faster at 2-row banding
    # where band multiplicity would re-run the screen per colliding band).
    sig = dedup.minhash_signatures(
        docs, "doc_id", "text", 5, SIG_PERM
    ).localCheckpoint(eager=False)
    band = blocking.band_rows(sig, _RESCUE_BANDS, MINHASH_PERM)
    probe = docs.where(
        (F.col("doc_id") % _RESCUE_PROBE_MOD) == _RESCUE_PROBE_RES
    ).select("doc_id")
    raw = dedup.pairs_from_band_rows(
        band, bucket_cap=_RESCUE_BUCKET_CAP, probe_ids=probe,
    )
    return dedup.screen_pairs_by_sig(raw, sig, SCREEN_MIN_EQ)


_RESCUE_BAND_ROWS = "\n  union all\n".join(
    "  select doc_id, {b} as band_id, md5('{b}' || '|' || {cat}) as band_hash"
    " from sigs".format(
        b=b,
        cat=" || ',' || ".join(
            f"s{j}::varchar"
            for j in range(b * _RESCUE_ROWS, (b + 1) * _RESCUE_ROWS)
        ),
    )
    for b in range(_RESCUE_BANDS)
)

def q_er_rescue_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ER closure INCLUDING the singleton rescue pass — the
    production s4b semantics as one oracle-twinned query: LSH blocking →
    alignment edges → components → unclustered docs re-probe at 2 rows
    per band → new pairs aligned with the SAME kernel + threshold →
    closure over the union. The SQL twin replicates every step
    (band schemes, signature screen, levenshtein edge test, recursive
    closure), so the rescue pass's end-to-end cluster output — not just
    its blocking stage — is hash-checked against DuckDB."""
    d = _docs_aug(spark, sf_dir)
    # ONE signature computation feeds both band schemes (the
    # orchestrator's s1_signatures pattern, pipeline/orchestrator.py).
    # Lazily localCheckpointed: the signature lineage (gram md5s + the
    # Arrow minima pass) otherwise re-executes once per plan
    # branch, and this query references it from the main-pass bucket
    # sizing, both pair-join sides, the edge attach, every CC iteration's
    # re-execution, AND the rescue banding — the >=8-branch regime where
    # materialization measured 2.6x faster (see dedup_minhash_lsh's
    # docstring for the paired-run evidence and the 3-branch counter-case).
    sig = dedup.minhash_signatures(
        d, "doc_id", "text", 5, SIG_PERM
    ).localCheckpoint(eager=False)
    band_main = blocking.band_rows(
        sig, MINHASH_BANDS, MINHASH_PERM, carry_sig=True
    )
    # cand is read by THREE executions (main-pass edges, and — because
    # connected_components checkpoints only its own input — again under
    # the final union's CC, plus the rescue anti-join); edges' alignment
    # lineage is read by TWO (comps0's checkpoint and the final union).
    # Lazy localCheckpoints collapse both to one execution each: the
    # rescue variant of the >=4-branch materialization rule (the paired
    # measurement lives in dedup_minhash_lsh's docstring).
    cand = dedup.pairs_from_band_rows(
        band_main, bucket_cap=ORACLE_UNCAPPED, screen_min_eq=SCREEN_MIN_EQ,
    ).localCheckpoint(eager=False)
    edges = _cand_to_edges(d, cand).localCheckpoint(eager=False)
    comps0 = connected_components(edges, src="id_1", dst="id_2")
    probe = d.select("doc_id").join(
        comps0.select(F.col("id").alias("doc_id")), "doc_id", "left_anti"
    )
    band = blocking.band_rows(sig, _RESCUE_BANDS, MINHASH_PERM)
    # Distinct-first screen for the r=2 rescue banding (same predicate,
    # same result set as screen_min_eq in-join — see screen_pairs_by_sig).
    r_cand = dedup.screen_pairs_by_sig(
        dedup.pairs_from_band_rows(
            band, bucket_cap=ORACLE_UNCAPPED, probe_ids=probe,
        ),
        sig, SCREEN_MIN_EQ,
    )
    r_new = r_cand.join(cand, ["id_1", "id_2"], "left_anti")
    r_edges = _cand_to_edges(d, r_new)
    comps = connected_components(
        edges.union(r_edges), src="id_1", dst="id_2"
    )
    return comps.select(F.col("id").alias("doc_id"), "component")


SQL_RESCUE_LSH = f"""
with docs as {DOCS_AUG_SQL},
grams as (
  select doc_id,
         unnest(list_distinct([substr(text, i, 5)
                               for i in range(1, greatest(length(text)-4,1)+1)])) as g
  from docs
),
hashed as (select doc_id, {_MH_HASH} from grams),
sigs as (select doc_id, {_MH_SIG_COLS} from hashed group by doc_id),
bands as (
{_RESCUE_BAND_ROWS}
),
-- Whole-bucket drop rule, identical to pairs_from_band_rows: bucket size
-- is counted over the FULL band table (before probe restriction), and an
-- over-cap bucket contributes no pairs at all.
band_sz as (
  select band_id, band_hash, count(*) as bsz
  from bands group by band_id, band_hash
),
okbands as (
  select b.doc_id, b.band_id, b.band_hash
  from bands b
  join band_sz s on s.band_id = b.band_id and s.band_hash = b.band_hash
  where s.bsz <= {_RESCUE_BUCKET_CAP}
),
probes as (
  select doc_id from docs
  where doc_id % {_RESCUE_PROBE_MOD} = {_RESCUE_PROBE_RES}
)
select distinct least(a.doc_id, b.doc_id) as id_1,
       greatest(a.doc_id, b.doc_id) as id_2
from okbands a
join probes p on p.doc_id = a.doc_id
join okbands b on a.band_id = b.band_id and a.band_hash = b.band_hash
            and a.doc_id <> b.doc_id
join sigs sa on sa.doc_id = a.doc_id
join sigs sb on sb.doc_id = b.doc_id
where {_MH_SCREEN_SUM} >= {SCREEN_MIN_EQ}
"""

_ER_CLOSURE_CTES = f"""docs as {DOCS_AUG_SQL},
{_MH_CAND_CTES},
edges0 as (
  select c.id_1, c.id_2
  from cand c
  join docs d1 on d1.doc_id = c.id_1
  join docs d2 on d2.doc_id = c.id_2
  where 1.0 - levenshtein(d1.text, d2.text)::DOUBLE
            / greatest(length(d1.text), length(d2.text)) >= {SIM_THRESHOLD}
),
edges as (
  select id_1 as src, id_2 as dst from edges0
  union select id_2, id_1 from edges0
),
nodes as (select distinct src as id from edges),
reach as (
  select id as node, id as comp from nodes
  union
  select e.dst as node, r.comp
  from reach r join edges e on e.src = r.node
  where r.comp < e.dst
)"""

SQL_ER_LSH_PIPELINE = f"""
with recursive {_ER_CLOSURE_CTES}
select node as doc_id, min(comp) as component
from reach group by node
"""

# The incremental path must reproduce the full-batch closure bit-for-bit.
SQL_ER_INCREMENTAL = SQL_ER_LSH_PIPELINE

# End-to-end rescue twin: main-pass cand/edges (4x4 banding + screen +
# levenshtein threshold), probes = docs in no edge, rescue cand at 8x2
# banding minus already-seen pairs, rescue edges by the same test,
# recursive closure over the union.
SQL_ER_RESCUE_PIPELINE = f"""
with recursive docs as {DOCS_AUG_SQL},
{_MH_CAND_CTES},
edges0 as (
  select c.id_1, c.id_2
  from cand c
  join docs d1 on d1.doc_id = c.id_1
  join docs d2 on d2.doc_id = c.id_2
  where 1.0 - levenshtein(d1.text, d2.text)::DOUBLE
            / greatest(length(d1.text), length(d2.text)) >= {SIM_THRESHOLD}
),
probes as (
  select doc_id from docs
  where doc_id not in (select id_1 from edges0
                       union select id_2 from edges0)
),
rbands as (
{_RESCUE_BAND_ROWS}
),
rcand as (
  select distinct least(a.doc_id, b.doc_id) as id_1,
         greatest(a.doc_id, b.doc_id) as id_2
  from rbands a
  join probes p on p.doc_id = a.doc_id
  join rbands b on a.band_id = b.band_id and a.band_hash = b.band_hash
               and a.doc_id <> b.doc_id
  join sigs sa on sa.doc_id = a.doc_id
  join sigs sb on sb.doc_id = b.doc_id
  where {_MH_SCREEN_SUM} >= {SCREEN_MIN_EQ}
),
rnew as (
  -- anti-join, not EXCEPT: DuckDB rejects EXCEPT anywhere inside a
  -- WITH RECURSIVE block ("only UNION or UNION ALL are supported")
  select r.id_1, r.id_2 from rcand r
  where not exists (select 1 from cand c
                    where c.id_1 = r.id_1 and c.id_2 = r.id_2)
),
redges0 as (
  select c.id_1, c.id_2
  from rnew c
  join docs d1 on d1.doc_id = c.id_1
  join docs d2 on d2.doc_id = c.id_2
  where 1.0 - levenshtein(d1.text, d2.text)::DOUBLE
            / greatest(length(d1.text), length(d2.text)) >= {SIM_THRESHOLD}
),
alledges0 as (
  select id_1, id_2 from edges0
  union
  select id_1, id_2 from redges0
),
edges as (
  select id_1 as src, id_2 as dst from alledges0
  union select id_2, id_1 from alledges0
),
nodes as (select distinct src as id from edges),
reach as (
  select id as node, id as comp from nodes
  union
  select e.dst as node, r.comp
  from reach r join edges e on e.src = r.node
  where r.comp < e.dst
)
select node as doc_id, min(comp) as component
from reach group by node
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.add_simhash(_t(spark, sf_dir, "documents")).select(
        "doc_id", "simhash"
    )


SQL_SIMHASH = """
with toks as (
  select doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x <> ''))
           as tok
  from documents
),
bits as (
  select doc_id, i,
         case when sum(case when substr(md5(tok), i+1, 1)
                            in ('8','9','a','b','c','d','e','f')
                       then 1 else -1 end) > 0
              then 1 else 0 end as bit
  from toks, range(32) t(i)
  group by doc_id, i
)
select doc_id,
       sum(bit * (1::BIGINT << i))::BIGINT as simhash
from bits group by doc_id
"""


SIMHASH_BLOCK_CAP = 10_000


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs with the library's default 16-bit-block skew cap
    (10k). The block key space is FIXED (65,536 values), so block sizes —
    and within-block pairs — grow quadratically with the corpus: measured
    6.13 BILLION uncapped within-block pairs at gen-sf10 (650k docs,
    max block 70,307) vs 61.6M at gen-sf1. The cap is the guard that makes
    the op corpus-size-safe; it never binds at sf <= 1 (max block 7,043),
    so small-scale results are unchanged, and the SQL twin encodes the
    identical whole-block drop rule."""
    docs = dedup.add_simhash(_docs_aug(spark, sf_dir))
    return dedup.simhash_near_pairs(
        docs, max_hamming=6, bucket_cap=SIMHASH_BLOCK_CAP
    )


SQL_SIMHASH_NEAR_PAIRS = f"""
with docs as {DOCS_AUG_SQL},
toks as (
  select doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) as tok
  from docs
),
bits as (
  select doc_id, i,
         case when sum(case when substr(md5(tok), i+1, 1)
                            in ('8','9','a','b','c','d','e','f')
                       then 1 else -1 end) > 0
              then 1 else 0 end as bit
  from toks, range(32) t(i)
  group by doc_id, i
),
sh as (
  select doc_id, sum(bit * (1::BIGINT << i))::BIGINT as simhash
  from bits group by doc_id
),
blk0 as (select doc_id, simhash, simhash >> 16 as blk from sh),
oksz as (
  select blk from blk0 group by blk
  having count(*) <= {SIMHASH_BLOCK_CAP}
),
blk as (select b.* from blk0 b join oksz o on o.blk = b.blk)
select a.doc_id as id_1, b.doc_id as id_2,
       bit_count(xor(a.simhash, b.simhash))::BIGINT as hamming
from blk a join blk b on a.blk = b.blk and a.doc_id < b.doc_id
where bit_count(xor(a.simhash, b.simhash)) <= 6
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _docs_aug(spark, sf_dir),
        block_col="source",
        k=3,
        threshold=JACCARD_THRESHOLD,
    )


SQL_NGRAM_JACCARD = f"""
with docs as {DOCS_AUG_SQL},
g as (
  select doc_id, source,
         list_distinct([substr(text, i, 3)
                        for i in range(1, greatest(length(text)-2,1)+1)]) as grams
  from docs
)
select a.doc_id as id_1, b.doc_id as id_2,
       round(len(list_intersect(a.grams, b.grams))::DOUBLE
             / (len(a.grams) + len(b.grams)
                - len(list_intersect(a.grams, b.grams))), 6) as jaccard
from g a join g b on a.source = b.source and a.doc_id < b.doc_id
where round(len(list_intersect(a.grams, b.grams))::DOUBLE
            / (len(a.grams) + len(b.grams)
               - len(list_intersect(a.grams, b.grams))), 6)
      >= {JACCARD_THRESHOLD}
"""


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.fingerprint_summary(
        _t(spark, sf_dir, "documents"), k=FP_K, window=FP_WINDOW
    ).select(
        F.col("id").alias("doc_id"), "n_fingerprints", "min_fingerprint"
    )


SQL_FINGERPRINTS = f"""
with hs as (
  select doc_id,
         [('0x'||substr(md5(substr(text, i, {FP_K})),1,12))::BIGINT
          for i in range(1, greatest(length(text)-{FP_K - 1},1)+1)] as h
  from documents
),
wins as (
  select doc_id,
         unnest([list_min(h[i:i+{FP_WINDOW - 1}])
                 for i in range(1, greatest(len(h)-{FP_WINDOW - 1},1)+1)]) as fp
  from hs
)
select doc_id, count(distinct fp) as n_fingerprints,
       min(fp) as min_fingerprint
from wins group by doc_id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.add_lang_id(_t(spark, sf_dir, "documents")).select(
        "doc_id", "pred_lang", F.col("lang_hits").cast("long").alias("lang_hits")
    )


_MARKER_SELECTS = "\n  union all\n".join(
    f"  select doc_id, '{lang}' as lang,"
    f" len(list_intersect(toks, {_sql_list(ws)})) as h from toks"
    for lang, ws in sorted(text_ops.LANG_MARKERS.items())
)
SQL_LANG_ID = f"""
with toks as (
  select doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') as toks
  from documents
),
hits as (
{_MARKER_SELECTS}
),
ranked as (
  select doc_id, lang, h,
         row_number() over (partition by doc_id order by h desc, lang asc) rn
  from hits
)
select doc_id,
       case when h > 0 then lang else 'und' end as pred_lang,
       h::BIGINT as lang_hits
from ranked where rn = 1
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.add_token_counts(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("bpe_tokens").cast("long").alias("bpe_tokens"),
    )


SQL_TOKEN_COUNTS = f"""
select doc_id,
       len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT
         as ws_tokens,
       len(regexp_extract_all(text, '{text_ops.BPE_TOKEN_RE}'))::BIGINT
         as bpe_tokens
from documents
"""


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.add_quality_score(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "stopword_ratio",
        "quality_score",
    )


SQL_QUALITY = f"""
with f as (
  select doc_id,
         length(text) as n_chars,
         len(list_filter(string_split(text, ' '), x -> x <> '')) as n_tokens,
         len(list_intersect(list_filter(string_split(text, ' '), x -> x <> ''),
                            {_sql_list(text_ops.STOPWORDS)})) as n_stop,
         len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) as n_punct
  from documents
),
r as (
  select doc_id, n_tokens,
         n_stop::DOUBLE / greatest(n_tokens, 1) as stop_ratio,
         n_punct::DOUBLE / greatest(n_chars, 1) as punct_ratio,
         (n_chars - (n_tokens - 1))::DOUBLE / greatest(n_tokens, 1) as mtl
  from f
)
select doc_id, n_tokens::BIGINT as n_tokens,
       floor(stop_ratio * 1e6 + 0.5) / 1e6 as stopword_ratio,
       floor(least(greatest(
           0.4 * least(n_tokens / 100.0, 1.0)
         + 0.3 * least(stop_ratio * 5.0, 1.0)
         + 0.3 * greatest(0.0, 1.0 - abs(mtl - 5.0) / 5.0)
         - punct_ratio, 0.0), 1.0) * 1e6 + 0.5) / 1e6 as quality_score
from r
"""


# ------------------------------------------------------- corpus curation
# The canonical LLM-training-data pass, composed from the library ops the
# standalone queries exercise one-by-one: lang-ID -> quality gate -> exact
# dedup (keep min doc_id per md5(text)) -> MinHash-LSH near-dup drop (keep
# the smaller id of every candidate pair). Thresholds compare the 6-dp
# rounded score (rounded inside add_quality_score), so the cut is
# bit-stable across engines.
CURATION_QUALITY_MIN = 0.3
CURATION_TOKENS_MIN = 10


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.curate_corpus(
        _t(spark, sf_dir, "documents"),
        quality_min=CURATION_QUALITY_MIN,
        tokens_min=CURATION_TOKENS_MIN,
        k=5,
        num_perm=SIG_PERM,
        num_bands=MINHASH_BANDS,
        bucket_cap=ORACLE_UNCAPPED,
        band_perm=MINHASH_PERM,
        screen_min_eq=SCREEN_MIN_EQ,
    )


SQL_CORPUS_CURATION = f"""
with toks as (
  select doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') as toks
  from documents
),
hits as (
{_MARKER_SELECTS}
),
ranked as (
  select doc_id, lang, h,
         row_number() over (partition by doc_id order by h desc, lang asc) rn
  from hits
),
langs as (
  select doc_id, case when h > 0 then lang else 'und' end as pred_lang
  from ranked where rn = 1
),
qf as (
  select doc_id,
         length(text) as n_chars,
         len(list_filter(string_split(text, ' '), x -> x <> '')) as n_tokens,
         len(list_intersect(list_filter(string_split(text, ' '), x -> x <> ''),
                            {_sql_list(text_ops.STOPWORDS)})) as n_stop,
         len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) as n_punct
  from documents
),
qr as (
  select doc_id, n_tokens,
         n_stop::DOUBLE / greatest(n_tokens, 1) as stop_ratio,
         n_punct::DOUBLE / greatest(n_chars, 1) as punct_ratio,
         (n_chars - (n_tokens - 1))::DOUBLE / greatest(n_tokens, 1) as mtl
  from qf
),
qual as (
  select doc_id, n_tokens,
         floor(least(greatest(
             0.4 * least(n_tokens / 100.0, 1.0)
           + 0.3 * least(stop_ratio * 5.0, 1.0)
           + 0.3 * greatest(0.0, 1.0 - abs(mtl - 5.0) / 5.0)
           - punct_ratio, 0.0), 1.0) * 1e6 + 0.5) / 1e6 as quality_score
  from qr
),
filt as (
  select d.doc_id, d.text, l.pred_lang, q.n_tokens, q.quality_score
  from documents d
  join langs l on l.doc_id = d.doc_id
  join qual q on q.doc_id = d.doc_id
  where q.quality_score >= {CURATION_QUALITY_MIN}
    and q.n_tokens >= {CURATION_TOKENS_MIN}
    and l.pred_lang <> 'und'
),
reps as (
  select md5(text) as h, min(doc_id) as doc_id from filt group by md5(text)
),
docs as (
  select f.* from filt f
  where exists (select 1 from reps r where r.doc_id = f.doc_id)
),
{_MH_CAND_CTES},
drops as (select distinct id_2 as doc_id from cand)
select d.doc_id, d.pred_lang, d.n_tokens::BIGINT as n_tokens, d.quality_score
from docs d
where not exists (select 1 from drops x where x.doc_id = d.doc_id)
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.brute_force_topk(
        emb, emb.where(F.col("vec_id") < ANN_N_QUERIES), k=ANN_K
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


SQL_ANN_TOPK = f"""
with q as (select vec_id as query_id, embedding::DOUBLE[] as qv
           from embeddings where vec_id < {ANN_N_QUERIES}),
c as (select vec_id as neighbor_id, embedding::DOUBLE[] as cv
      from embeddings),
s as (
  select query_id, neighbor_id,
         floor((list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(cv, cv)))) * 1e6 + 0.5) / 1e6::DOUBLE as cos_sim
  from q, c where neighbor_id <> query_id
),
r as (
  select *, row_number() over (partition by query_id
                               order by cos_sim desc, neighbor_id) as rank
  from s
)
select query_id, neighbor_id, cos_sim, rank::BIGINT as rank
from r where rank <= {ANN_K}
"""


# On this synthetic corpus the embeddings are near-isotropic noise
# (within-label avg cosine 0.0016 vs 0.0003 between), so ANN recall is
# ~proportional to the fraction of lists probed for ANY index — measured
# IVF recall 0.66 at 4/10 lists here. On clustered real-text embeddings
# the same operator concentrates neighbors into few lists.
IVF_STRIDE = 50
IVF_NPROBE = 4
# 40 lists: with stride 50 the centroid id range is capped at 2000, so
# the DEMO stride quantizer's list count FREEZES at 40 once the corpus
# passes 2000 vectors and assignment/probe cost turns linear in corpus
# size (measured exp 1.98 at gen-sf0.1 -> sf1 under the old 4096 cap,
# which let centroids grow with the corpus: n x n/stride = quadratic).
# Unchanged at the sf0.01 driver gate (10 centroids either way). At
# deploy, list count is a trained constant (ann_ivf_trained_assign,
# measured exp 0.48) — growing nlist ~ sqrt(n) FAISS-style is a quality
# knob that deliberately costs n^1.5 assignment; the engine-shape demo
# keeps it frozen.
IVF_MAX_CENTROIDS = 40


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(
        emb, emb.where(F.col("vec_id") < ANN_N_QUERIES), k=ANN_K,
        centroid_stride=IVF_STRIDE, nprobe=IVF_NPROBE,
        max_centroids=IVF_MAX_CENTROIDS,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_ann_ivf_trained_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat assignment/probe over a TRAINED-then-FROZEN coarse
    quantizer (VERDICT r2 item 3: train/assign split). Training (driver
    sample spherical k-means, ops.similarity.kmeans_centroids) is float-
    summation-order dependent and has no bit-exact SQL twin — it is gated
    by the recall pytest
    (tests/test_ops.py::test_ivf_trained_beats_stride_on_clustered_data)
    and its output is committed as 6-dp literals in ops/ivf_frozen.py,
    the FAISS deployment shape (quantizer = shipped constants). The
    assignment/probe stage here is therefore fully deterministic and
    carries a complete DuckDB twin over the same frozen literals."""
    from globalign_spark.ops.ivf_frozen import FROZEN_KMEANS_SF001

    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(
        emb, emb.where(F.col("vec_id") < ANN_N_QUERIES), k=ANN_K,
        nprobe=IVF_NPROBE, centroids=[list(c) for c in FROZEN_KMEANS_SF001],
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# floor(x*1e6+0.5)/1e6, not round(x,6): identical float procedure to the
# Spark side (ops/similarity.round6), immune to the engines' half-ulp
# rounding divergence (see quality_score incident, ops/text.py).
_SQL_COS = (
    "floor((list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b})))) * 1e6 + 0.5) / 1e6"
)
SQL_ANN_IVF = f"""
with cents as (
  select vec_id as cid, embedding::DOUBLE[] as centv
  from embeddings
  where vec_id % {IVF_STRIDE} = 0
    and vec_id < {IVF_STRIDE} * {IVF_MAX_CENTROIDS}
),
c as (select vec_id as neighbor_id, embedding::DOUBLE[] as cv from embeddings),
assign as (
  select neighbor_id, cv, cid from (
    select c.neighbor_id, c.cv, cents.cid,
           row_number() over (
             partition by c.neighbor_id
             order by {_SQL_COS.format(a='c.cv', b='cents.centv')} desc, cents.cid
           ) as rn
    from c cross join cents
  ) where rn = 1
),
q as (select vec_id as query_id, embedding::DOUBLE[] as qv
      from embeddings where vec_id < {ANN_N_QUERIES}),
probes as (
  select query_id, qv, cid from (
    select q.query_id, q.qv, cents.cid,
           row_number() over (
             partition by q.query_id
             order by {_SQL_COS.format(a='q.qv', b='cents.centv')} desc, cents.cid
           ) as rn
    from q cross join cents
  ) where rn <= {IVF_NPROBE}
),
s as (
  select p.query_id, a.neighbor_id,
         {_SQL_COS.format(a='p.qv', b='a.cv')} as cos_sim
  from assign a join probes p on a.cid = p.cid
  where a.neighbor_id <> p.query_id
),
r as (
  select *, row_number() over (partition by query_id
                               order by cos_sim desc, neighbor_id) as rank
  from s
)
select query_id, neighbor_id, cos_sim, rank::BIGINT as rank
from r where rank <= {ANN_K}
"""


def _frozen_cent_rows() -> str:
    """The frozen quantizer as a SQL VALUES list — the literals are the
    repr() of the exact Python floats the Spark side broadcasts, so both
    engines parse the same decimal string to the same double."""
    from globalign_spark.ops.ivf_frozen import FROZEN_KMEANS_SF001

    return ",\n    ".join(
        f"({i}, [{', '.join(repr(x) for x in v)}]::DOUBLE[])"
        for i, v in enumerate(FROZEN_KMEANS_SF001)
    )


SQL_ANN_IVF_TRAINED_ASSIGN = f"""
with cents as (
  select cid, centv from (values
    {_frozen_cent_rows()}
  ) as t(cid, centv)
),
c as (select vec_id as neighbor_id, embedding::DOUBLE[] as cv from embeddings),
assign as (
  select neighbor_id, cv, cid from (
    select c.neighbor_id, c.cv, cents.cid,
           row_number() over (
             partition by c.neighbor_id
             order by {_SQL_COS.format(a='c.cv', b='cents.centv')} desc, cents.cid
           ) as rn
    from c cross join cents
  ) where rn = 1
),
q as (select vec_id as query_id, embedding::DOUBLE[] as qv
      from embeddings where vec_id < {ANN_N_QUERIES}),
probes as (
  select query_id, qv, cid from (
    select q.query_id, q.qv, cents.cid,
           row_number() over (
             partition by q.query_id
             order by {_SQL_COS.format(a='q.qv', b='cents.centv')} desc, cents.cid
           ) as rn
    from q cross join cents
  ) where rn <= {IVF_NPROBE}
),
s as (
  select p.query_id, a.neighbor_id,
         {_SQL_COS.format(a='p.qv', b='a.cv')} as cos_sim
  from assign a join probes p on a.cid = p.cid
  where a.neighbor_id <> p.query_id
),
r as (
  select *, row_number() over (partition by query_id
                               order by cos_sim desc, neighbor_id) as rank
  from s
)
select query_id, neighbor_id, cos_sim, rank::BIGINT as rank
from r where rank <= {ANN_K}
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.lsh_bucket_topk(
        emb,
        emb.where(F.col("vec_id") < ANN_N_QUERIES),
        k=ANN_K,
        n_planes=LSH_PLANES,
        dim=EMB_DIM,
        seed=7,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def _bucket_sql(vec: str) -> str:
    parts = [
        f"(case when list_dot_product({vec}, {_sql_floats(p)}) >= 0"
        f" then {1 << i} else 0 end)"
        for i, p in enumerate(_PLANES)
    ]
    return "(" + " + ".join(parts) + ")"


SQL_ANN_LSH = f"""
with c as (
  select vec_id as neighbor_id, embedding::DOUBLE[] as cv,
         {_bucket_sql("embedding::DOUBLE[]")} as bucket
  from embeddings
),
q0 as (
  select vec_id as query_id, embedding::DOUBLE[] as qv,
         {_bucket_sql("embedding::DOUBLE[]")} as qbucket
  from embeddings where vec_id < {ANN_N_QUERIES}
),
probes as (
  select query_id, qv,
         unnest([qbucket] ||
                [xor(qbucket::BIGINT, (1::BIGINT << i))::INT
                 for i in range({LSH_PLANES})]) as bucket
  from q0
),
s as (
  select distinct query_id, neighbor_id,
         floor((list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(cv, cv)))) * 1e6 + 0.5) / 1e6::DOUBLE as cos_sim
  from c join probes using (bucket)
  where neighbor_id <> query_id
),
r as (
  select *, row_number() over (partition by query_id
                               order by cos_sim desc, neighbor_id) as rank
  from s
)
select query_id, neighbor_id, cos_sim, rank::BIGINT as rank
from r where rank <= {ANN_K}
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # block_cap=None: the SQL twin is uncapped all-pairs; fixture blocks
    # are bounded by construction (~corpus/labels). Production callers
    # keep the 10k default skew guard.
    return similarity.embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.25, block_cap=None
    )


SQL_EMBEDDING_NEAR_DUP = """
with g as (select label, vec_id, embedding::DOUBLE[] as v from embeddings)
select a.vec_id as id_1, b.vec_id as id_2,
       floor((list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v)))) * 1e6 + 0.5) / 1e6::DOUBLE as cos_sim
from g a join g b on a.label = b.label and a.vec_id < b.vec_id
where floor((list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v)))) * 1e6 + 0.5) / 1e6 >= 0.25
"""


# --------------------------------------------------- text -> embedding (r4)
# Round-3 verdict item 2: the similarity stack previously consumed only the
# fixture `embeddings` table; these queries derive the vectors from
# documents.text with ops/embeddings (feature hashing — integer entries, so
# the DuckDB twin is value-exact) and push them through the same
# near-dup / ANN operators end-to-end.

TEXT_EMB_DIM = 64
TEXT_NEAR_DUP_THRESHOLD = 0.8  # p99 of the within-source cosine mass


def q_embed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embeddings.embed_sparse(
        _t(spark, sf_dir, "documents"), dim=TEXT_EMB_DIM
    )


# Shared SQL: sparse (doc_id, dim, val) sums of the feature-hashed tokens.
_SQL_TEXT_SPARSE = f"""
  t as (select doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks
        from documents),
  e as (select doc_id, unnest(toks) as tok from t),
  h as (select doc_id, ('0x' || substr(md5(tok), 1, 12))::BIGINT as h from e),
  sp as (select doc_id, (h >> 1) % {TEXT_EMB_DIM} as dim,
                sum((h % 2) * 2 - 1) as val
         from h group by doc_id, dim)
"""

# Shared SQL: dense per-doc vector (zero-filled to TEXT_EMB_DIM, doubles) —
# the twin of embed_corpus's array column for the cosine queries.
_SQL_TEXT_VEC = f"""
  dm as (select range as dim from range({TEXT_EMB_DIM})),
  dn as (select d.doc_id, dm.dim, coalesce(sp.val, 0)::DOUBLE as val
         from (select distinct doc_id from documents) d
         cross join dm
         left join sp on sp.doc_id = d.doc_id and sp.dim = dm.dim),
  v as (select doc_id, list(val order by dim) as vec from dn group by doc_id)
"""

SQL_EMBED_CORPUS = f"""
with {_SQL_TEXT_SPARSE}
select doc_id, dim::BIGINT as dim, val::BIGINT as val
from sp where val <> 0
"""


def q_embed_near_dup_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = embeddings.embed_corpus(
        _t(spark, sf_dir, "documents"), dim=TEXT_EMB_DIM,
        keep_cols=("source",),
    )
    # block_cap=None: oracle twin is uncapped (see q_embedding_near_dup)
    return similarity.embedding_near_dup_pairs(
        emb, block_col="source", id_col="doc_id", vec_col="embedding",
        threshold=TEXT_NEAR_DUP_THRESHOLD, block_cap=None,
    )


SQL_EMBED_NEAR_DUP_TEXT = f"""
with {_SQL_TEXT_SPARSE},
{_SQL_TEXT_VEC},
g as (select d.doc_id, d.source, v.vec from documents d join v using (doc_id)),
s as (
  select a.doc_id as id_1, b.doc_id as id_2,
         floor((list_dot_product(a.vec, b.vec)
               / (sqrt(list_dot_product(a.vec, a.vec))
                  * sqrt(list_dot_product(b.vec, b.vec)))) * 1e6 + 0.5)
           / 1e6::DOUBLE as cos_sim
  from g a join g b on a.source = b.source and a.doc_id < b.doc_id
)
select id_1, id_2, cos_sim from s
where cos_sim >= {TEXT_NEAR_DUP_THRESHOLD}
"""


def q_ann_text_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = embeddings.embed_corpus(
        _t(spark, sf_dir, "documents"), dim=TEXT_EMB_DIM
    )
    out = similarity.brute_force_topk(
        emb, emb.where(F.col("doc_id") < ANN_N_QUERIES), k=ANN_K,
        id_col="doc_id", vec_col="embedding",
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


SQL_ANN_TEXT_TOPK = f"""
with {_SQL_TEXT_SPARSE},
{_SQL_TEXT_VEC},
q as (select doc_id as query_id, vec as qv from v where doc_id < {ANN_N_QUERIES}),
c as (select doc_id as neighbor_id, vec as cv from v),
s as (
  select query_id, neighbor_id,
         floor((list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(cv, cv)))) * 1e6 + 0.5)
           / 1e6::DOUBLE as cos_sim
  from q, c where neighbor_id <> query_id
),
r as (
  select *, row_number() over (partition by query_id
                               order by cos_sim desc, neighbor_id) as rank
  from s
)
select query_id, neighbor_id, cos_sim, rank::BIGINT as rank
from r where rank <= {ANN_K}
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globalign_spark.ops import semdedup
    from globalign_spark.ops.semdedup_frozen import SEMDEDUP_CENTROIDS

    return semdedup.semantic_dedup(
        _t(spark, sf_dir, "documents"), SEMDEDUP_CENTROIDS,
        threshold=SEMDEDUP_THRESHOLD,
    )


SEMDEDUP_THRESHOLD = 0.9


def _semdedup_sql() -> str:
    from globalign_spark.ops.semdedup_frozen import SEMDEDUP_CENTROIDS

    cents = ",\n    ".join(
        f"({i}, [{', '.join(str(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(SEMDEDUP_CENTROIDS)
    )

    def cos(a, b):
        return (
            f"floor((list_dot_product({a}, {b})"
            f" / nullif(sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})), 0)) * 1e6 + 0.5) / 1e6"
        )

    return f"""
with {_SQL_TEXT_SPARSE},
{_SQL_TEXT_VEC},
cent(cid, centv) as (values
    {cents}),
asg as (
  select doc_id, cid, vec from (
    select v.doc_id, c.cid, v.vec,
           row_number() over (
             partition by v.doc_id
             order by {cos('v.vec', 'c.centv')} desc, c.cid) as rn
    from v, cent c) where rn = 1
),
sims as (
  select a.doc_id, max({cos('a.vec', 'b.vec')}) as ms
  from asg a join asg b on a.cid = b.cid and b.doc_id < a.doc_id
  group by a.doc_id
)
select a.doc_id, a.cid,
       coalesce(s.ms, -1.0)::DOUBLE as max_sim_lower,
       (coalesce(s.ms, -1.0) < {SEMDEDUP_THRESHOLD}) as kept
from asg a left join sims s using (doc_id)
"""


SQL_SEMANTIC_DEDUP = _semdedup_sql()


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return blocking.sorted_neighborhood_candidates(
        d, id_col="doc_id", key_col="source", order_col="text", window=3
    )


SQL_SORTED_NEIGHBORHOOD = """
with leads as (
  select doc_id as id_1,
         lead(doc_id, 1) over w as n1,
         lead(doc_id, 2) over w as n2,
         lead(doc_id, 3) over w as n3
  from documents
  window w as (partition by source order by text, doc_id)
),
pairs as (
  select id_1, n1 as id_2 from leads where n1 is not null
  union all select id_1, n2 from leads where n2 is not null
  union all select id_1, n3 from leads where n3 is not null
)
select distinct least(id_1, id_2) as id_1, greatest(id_1, id_2) as id_2
from pairs
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs_in_source"))
    out = blocking.salted_join(d, counts, "source", n_salt=8)
    return out.select("doc_id", "source", "n_docs_in_source")


SQL_SALTED_JOIN = """
select d.doc_id, d.source, c.n_docs_in_source
from documents d
join (select source, count(*) as n_docs_in_source
      from documents group by source) c
  on d.source = c.source
"""


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven variant of q_salted_join: salt factors from the key
    histogram, hot keys only (blocking.skew_salted_join). Same logical
    result, so the same SQL oracle; a low target forces real splitting
    at sf0.01."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs_in_source"))
    out = blocking.skew_salted_join(d, counts, "source",
                                    target_rows_per_task=50)
    return out.select("doc_id", "source", "n_docs_in_source")


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


SQL_EVENTS_WINDOW = """
select date_trunc('hour', ts) as hour_start, event_type,
       count(*) as n_events, round(sum(value), 4)::DOUBLE as sum_value
from events
group by 1, 2
"""


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        F.count("*").alias("n"),
    )


SQL_EVENTS_JSON = """
select event_type,
       sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT as sum_k,
       count(*) as n
from events group by event_type
"""


def q_agg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — generic agg coverage (partial+final hash agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


SQL_AGG_LINEITEM = """
select l_returnflag, l_linestatus,
       sum(l_quantity)::DOUBLE as sum_qty,
       round(sum(l_extendedprice), 2)::DOUBLE as sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)::DOUBLE
         as sum_disc_price,
       round(avg(l_quantity), 4)::DOUBLE as avg_qty,
       count(*) as count_order
from lineitem
where l_shipdate <= '1998-09-02'
group by l_returnflag, l_linestatus
"""


def q_multi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — six-table join: the lineitem->orders fact chain
    with four broadcastable dimensions (customer, supplier, nation,
    region) and a dim-side filter. Exercises Catalyst join reordering,
    dimension broadcast, and filter/column pushdown into every scan
    (plan audited in BENCH/PLANS.md)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue")
        )
    )


SQL_MULTI_JOIN = """
select n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2)::DOUBLE as revenue
from lineitem
join orders   on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
join supplier on l_suppkey = s_suppkey and c_nationkey = s_nationkey
join nation   on s_nationkey = n_nationkey
join region   on n_regionkey = r_regionkey
where r_name = 'ASIA'
  and o_orderdate >= '1995-01-01' and o_orderdate < '1996-01-01'
group by n_name
"""


def q_part_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow groupBy-agg over the part dimension (with this, every
    driver-provided table is exercised by at least one oracle query)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.where(F.col("p_size") <= 30)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
            F.max("p_size").alias("max_size"),
        )
    )


SQL_PART_BRAND_STATS = """
select p_brand, count(*) as n_parts,
       round(avg(p_retailprice), 2)::DOUBLE as avg_price,
       max(p_size) as max_size
from part
where p_size <= 30
group by p_brand
"""


def q_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join + per-key top-k window (W4)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    top = (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .withColumn("rk", F.col("rk").cast("long"))
    )
    return top.join(
        F.broadcast(c.select("c_custkey", "c_name")),
        top.o_custkey == c.c_custkey,
    ).select("o_custkey", "c_name", "o_orderkey", "o_totalprice", "rk")


SQL_JOIN_TOPK = """
with t as (
  select o_custkey, o_orderkey, o_totalprice,
         row_number() over (partition by o_custkey
                            order by o_totalprice desc, o_orderkey) as rk
  from orders
)
select t.o_custkey, c.c_name, t.o_orderkey, t.o_totalprice, t.rk::BIGINT as rk
from t join customer c on t.o_custkey = c.c_custkey
where t.rk <= 3
"""


def q_fingerprint_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.fingerprint_overlap_pairs(
        _docs_aug(spark, sf_dir), k=FP_K, window=FP_WINDOW, min_common=5,
        max_df=64,
    )


SQL_FINGERPRINT_OVERLAP = f"""
with docs as {DOCS_AUG_SQL},
hs as (
  select doc_id,
         [('0x'||substr(md5(substr(text, i, {FP_K})),1,12))::BIGINT
          for i in range(1, greatest(length(text)-{FP_K - 1},1)+1)] as h
  from docs
),
wins as (
  select distinct doc_id,
         unnest([list_min(h[i:i+{FP_WINDOW - 1}])
                 for i in range(1, greatest(len(h)-{FP_WINDOW - 1},1)+1)]) as fp
  from hs
),
keep as (
  select fp from wins group by fp having count(*) <= 64
),
capped as (select wins.* from wins join keep using (fp))
select a.doc_id as id_1, b.doc_id as id_2, count(*) as n_common
from capped a join capped b on a.fp = b.fp and a.doc_id < b.doc_id
group by a.doc_id, b.doc_id
having count(*) >= 5
"""


def q_eval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled-pairs evaluation join (J4): predicted near-dup pairs (3-gram
    Jaccard >= 0.5 within source) vs constructed ground truth (the injected
    variant pairs), via left-semi / left-anti joins -> P/R/F1 row.

    100x-readiness note (applies to this query, q_blocking_quality and
    q_cluster_purity): the oracle harness requires each query to be
    SELF-CONTAINED, so these metric queries re-derive their predictions
    inside the query. That is a harness constraint, not the deployment
    shape — in production, metric evaluation reads the CHECKPOINTED
    pairs/components tables written by pipeline.orchestrator.run_pipeline
    (--evaluate does exactly this: metrics are computed from the stage-2/3
    checkpoint parquet, never by re-executing ER lineage)."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    t1 = d.where(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("u1"), (F.col("doc_id") + V1_OFF).alias("u2")
    )
    t2 = d.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("u1"), (F.col("doc_id") + V2_OFF).alias("u2")
    )
    t3 = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + V1_OFF).alias("u1"),
        (F.col("doc_id") + V2_OFF).alias("u2"),
    )
    truth = t1.unionByName(t2).unionByName(t3)
    pred = dedup.ngram_jaccard_pairs(
        _docs_aug(spark, sf_dir), block_col="source", k=3, threshold=0.5
    ).select(F.col("id_1").alias("u1"), F.col("id_2").alias("u2"))
    # ONE action over the expensive mapInPandas pipeline: full-outer join of
    # the two (distinct-by-construction) pair sets, then a single agg. The
    # previous shape ran pred 3x (semi-count, count, anti-count) — at 100x
    # corpus the recompute IS the query budget (VERDICT r1 item 3).
    m = pred.withColumn("_p", F.lit(1)).join(
        truth.withColumn("_t", F.lit(1)), ["u1", "u2"], "full_outer"
    )
    base = m.agg(
        F.count("_p").alias("n_pred"),
        F.count("_t").alias("n_truth"),
        F.count(F.when(F.col("_p").isNotNull() & F.col("_t").isNotNull(), 1)).alias(
            "tp"
        ),
    ).select(
        "n_pred",
        "n_truth",
        "tp",
        (F.col("n_pred") - F.col("tp")).alias("fp"),
        (F.col("n_truth") - F.col("tp")).alias("fn"),
    )
    # F.round (HALF_UP), matching DuckDB round — not Python's banker's round
    return base.select(
        "*",
        F.when(F.col("n_pred") == 0, F.lit(1.0))
        .otherwise(F.round(F.col("tp") / F.col("n_pred"), 6))
        .alias("precision"),
        F.when(F.col("n_truth") == 0, F.lit(1.0))
        .otherwise(F.round(F.col("tp") / F.col("n_truth"), 6))
        .alias("recall"),
    )


SQL_EVAL_JOIN = f"""
with truth as (
  select doc_id as u1, doc_id + 10000000 as u2 from documents where doc_id % 5 = 0
  union all
  select doc_id, doc_id + 20000000 from documents where doc_id % 10 = 0
  union all
  select doc_id + 10000000, doc_id + 20000000 from documents where doc_id % 10 = 0
),
docs as {DOCS_AUG_SQL},
g as (
  select doc_id, source,
         list_distinct([substr(text, i, 3)
                        for i in range(1, greatest(length(text)-2,1)+1)]) as grams
  from docs
),
pred as (
  select a.doc_id as u1, b.doc_id as u2
  from g a join g b on a.source = b.source and a.doc_id < b.doc_id
  where round(len(list_intersect(a.grams, b.grams))::DOUBLE
              / (len(a.grams) + len(b.grams)
                 - len(list_intersect(a.grams, b.grams))), 6) >= 0.5
),
counts as (
  select
    (select count(*) from pred) as n_pred,
    (select count(*) from truth) as n_truth,
    (select count(*) from pred p where exists
       (select 1 from truth t where t.u1 = p.u1 and t.u2 = p.u2)) as tp,
    (select count(*) from pred p where not exists
       (select 1 from truth t where t.u1 = p.u1 and t.u2 = p.u2)) as fp,
    (select count(*) from truth t where not exists
       (select 1 from pred p where p.u1 = t.u1 and p.u2 = t.u2)) as fn
)
select n_pred, n_truth, tp, fp, fn,
       case when n_pred = 0 then 1.0
            else round(tp::DOUBLE / n_pred, 6) end as precision,
       case when n_truth = 0 then 1.0
            else round(tp::DOUBLE / n_truth, 6) end as recall
from counts
"""


def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster purity table over the ER pipeline's output: each
    predicted component vs the injected-variant ground truth (a doc's true
    entity is doc_id % V1_OFF — variants carry +V1_OFF/+V2_OFF offsets).
    Integer-exact columns (counts + one two-integer division per row) so
    the oracle hash can't wobble on float-summation order, unlike a global
    B-cubed average. Complements eval_join (global pairwise P/R) and
    blocking_quality (candidate-stage recall) with the per-cluster view a
    user actually debugs with: which clusters merged distinct entities
    (n_truth_clusters > 1) and how badly (purity < 1)."""
    comp = q_er_lsh_pipeline(spark, sf_dir)
    # truth is a function of doc_id: pass a Column so the ER lineage runs
    # once (a truth FRAME derived from comp would self-join the pipeline
    # against itself and execute blocking+scoring+CC twice).
    return metrics.cluster_purity(comp, F.col("doc_id") % V1_OFF)


SQL_CLUSTER_PURITY = f"""
with recursive {_ER_CLOSURE_CTES},
comp as (
  select node as doc_id, min(comp) as component
  from reach group by node
),
ov as (
  select component, doc_id % 10000000 as tcluster, count(*) as ov
  from comp group by component, doc_id % 10000000
)
select component,
       sum(ov)::BIGINT as n_members,
       max(ov) as majority_overlap,
       count(*) as n_truth_clusters,
       round(max(ov)::DOUBLE / sum(ov), 6) as purity
from ov group by component
"""


def q_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocker evaluation (pipeline.metrics.blocking_quality): pair
    completeness / pair quality / reduction ratio of the MinHash-LSH
    candidate generator against the injected-variant ground truth — the
    metrics that decide band/row settings BEFORE paying for scoring. Uses
    the same truth construction as q_eval_join and the same uncapped-cand
    config as q_dedup_minhash_lsh (capless SQL twin)."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    t1 = d.where(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("u1"), (F.col("doc_id") + V1_OFF).alias("u2")
    )
    t2 = d.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("u1"), (F.col("doc_id") + V2_OFF).alias("u2")
    )
    t3 = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + V1_OFF).alias("u1"),
        (F.col("doc_id") + V2_OFF).alias("u2"),
    )
    truth = t1.unionByName(t2).unionByName(t3)
    docs = _docs_aug(spark, sf_dir)
    cand = dedup.dedup_minhash_lsh(
        docs,
        k=5,
        num_perm=SIG_PERM,
        num_bands=MINHASH_BANDS,
        bucket_cap=ORACLE_UNCAPPED,
        band_perm=MINHASH_PERM,
        screen_min_eq=SCREEN_MIN_EQ,
    )
    return metrics.blocking_quality(cand, truth, docs.count())


SQL_BLOCKING_QUALITY = f"""
with docs as {DOCS_AUG_SQL},
{_MH_CAND_CTES},
truth as (
  select doc_id as u1, doc_id + 10000000 as u2 from documents where doc_id % 5 = 0
  union all
  select doc_id, doc_id + 20000000 from documents where doc_id % 10 = 0
  union all
  select doc_id + 10000000, doc_id + 20000000 from documents where doc_id % 10 = 0
),
counts as (
  select
    (select count(*) from docs) as n_records,
    (select count(*) from cand) as n_cand,
    (select count(*) from truth) as n_truth,
    (select count(*) from cand c where exists
       (select 1 from truth t where t.u1 = c.id_1 and t.u2 = c.id_2)) as covered
)
select n_records, n_cand, n_truth, covered,
       case when n_truth = 0 then 1.0
            else round(covered::DOUBLE / n_truth, 6) end as pair_completeness,
       case when n_cand = 0 then 1.0
            else round(covered::DOUBLE / n_cand, 6) end as pair_quality,
       round(1.0 - n_cand::DOUBLE
                   / (n_records::DOUBLE * (n_records - 1) / 2), 6)
         as reduction_ratio
from counts
"""


# ------------------------------------------- web curation (round 3 adds)
# Gopher-style repetition signals, CCNet-style corpus line dedup, and URL
# canonicalization dedup — the three cheapest-per-byte curation passes a
# CC-scale training-data pipeline runs BEFORE any MinHash/alignment work.
# The synthetic corpus is single-line word soup, so lines are deterministic
# fixed-width token chunks (ops/text.chunk_lines) — identical in both
# engines; real pages use use_newlines=True with the same downstream plan.

REP_LINE_WIDTH = 5
LINE_DEDUP_WIDTH = 2
LINE_DEDUP_MAX_DF = 20


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.add_repetition_features(
        _t(spark, sf_dir, "documents"), line_width=REP_LINE_WIDTH
    )


SQL_REPETITION = f"""
with base as (
  select doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') as words
  from documents
),
lines as (
  select doc_id,
         unnest([array_to_string(
                   words[i*{REP_LINE_WIDTH}+1 : i*{REP_LINE_WIDTH}+{REP_LINE_WIDTH}], ' ')
                 for i in range(0, greatest(ceil(len(words)/{REP_LINE_WIDTH}.0)::INT, 1))])
           as line
  from base
),
line_stats as (
  select doc_id, sum(c) as n_lines, count(*) as n_distinct,
         sum(length(line)*c) as chars_total,
         sum(case when c > 1 then length(line)*c else 0 end) as chars_dup
  from (select doc_id, line, count(*) as c from lines group by doc_id, line)
  group by doc_id
),
bigrams as (
  select doc_id,
         unnest([words[i] || ' ' || words[i+1]
                 for i in range(1, len(words))]) as bg
  from base
),
bg_stats as (
  select doc_id, max(c) as top_c, sum(c) as n_bg
  from (select doc_id, bg, count(*) as c from bigrams group by doc_id, bg)
  group by doc_id
),
rounded as (
  select ls.doc_id,
         ls.n_lines::BIGINT as n_lines,
         floor((1.0 - ls.n_distinct::DOUBLE / ls.n_lines) * 1e6 + 0.5)/1e6
           as dup_line_frac,
         floor((ls.chars_dup::DOUBLE / greatest(ls.chars_total, 1)) * 1e6 + 0.5)/1e6
           as dup_line_char_frac,
         floor(coalesce(bs.top_c::DOUBLE / bs.n_bg, 0.0) * 1e6 + 0.5)/1e6
           as top_bigram_frac
  from line_stats ls
  left join bg_stats bs using (doc_id)
)
select doc_id, n_lines, dup_line_frac, dup_line_char_frac, top_bigram_frac,
       (dup_line_frac > 0.30 or top_bigram_frac > 0.18) as repetitive
from rounded
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.line_dedup(
        _t(spark, sf_dir, "documents"),
        line_width=LINE_DEDUP_WIDTH,
        max_df=LINE_DEDUP_MAX_DF,
    )


SQL_LINE_DEDUP = f"""
with base as (
  select doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') as words
  from documents
),
exploded as (
  select doc_id,
         unnest(range(0, greatest(ceil(len(words)/{LINE_DEDUP_WIDTH}.0)::INT, 1)))
           as pos,
         unnest([array_to_string(
                   words[i*{LINE_DEDUP_WIDTH}+1 : i*{LINE_DEDUP_WIDTH}+{LINE_DEDUP_WIDTH}], ' ')
                 for i in range(0, greatest(ceil(len(words)/{LINE_DEDUP_WIDTH}.0)::INT, 1))])
           as line
  from base
),
hashed as (
  select doc_id, pos, line,
         ('0x'||substr(md5(line),1,12))::BIGINT as lh
  from exploded
),
freq as (
  select lh from hashed group by lh
  having count(distinct doc_id) <= {LINE_DEDUP_MAX_DF}
),
rebuilt as (
  select doc_id, string_agg(line, ' ' order by pos) as clean_text,
         count(*) as n_kept
  from hashed join freq using (lh)
  group by doc_id
),
totals as (select doc_id, count(*) as n_total from hashed group by doc_id)
select t.doc_id,
       coalesce(r.clean_text, '') as clean_text,
       coalesce(r.n_kept, 0)::BIGINT as n_kept,
       (t.n_total - coalesce(r.n_kept, 0))::BIGINT as n_dropped
from totals t left join rebuilt r using (doc_id)
"""


def _synth_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic url spellings over doc_id: several mod-class
    decorations (case, www, default port, trailing slash, tracking params,
    fragment) that all collapse to the same canonical url — the CC
    duplicate classes the canonicalizer exists for. The same expression is
    inlined in SYNTH_URLS_SQL so both engines dedup the identical input."""
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    url = F.concat(
        F.lit("HTTPS://"),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Site"), s(d % 7), F.lit(".Example.com"),
        F.when(d % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/items/"), s(d % 50),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.concat(F.lit("?utm_source=feed&page="), s(d % 6)))
        .when(d % 5 == 1, F.concat(F.lit("?page="), s(d % 6)))
        .otherwise(F.lit("")),
        F.when(d % 8 == 0, F.lit("#top")).otherwise(F.lit("")),
    )
    return _t(spark, sf_dir, "documents").select("doc_id", url.alias("url"))


SYNTH_URLS_SQL = """
  (select doc_id,
     'HTTPS://'
     || case when doc_id % 3 = 0 then 'WWW.' else '' end
     || 'Site' || (doc_id % 7)::VARCHAR || '.Example.com'
     || case when doc_id % 4 = 0 then ':443' else '' end
     || '/items/' || (doc_id % 50)::VARCHAR
     || case when doc_id % 2 = 0 then '/' else '' end
     || case when doc_id % 5 = 0 then '?utm_source=feed&page=' || (doc_id % 6)::VARCHAR
             when doc_id % 5 = 1 then '?page=' || (doc_id % 6)::VARCHAR
             else '' end
     || case when doc_id % 8 = 0 then '#top' else '' end as url
   from documents)
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return web_ops.url_dedup(_synth_urls(spark, sf_dir))


# Mirror of ops/web.canonical_url, step for step; DuckDB RE2 needs \\1
# backrefs and an explicit 'g' flag where Spark replaces globally.
SQL_URL_DEDUP = rf"""
with u0 as (
  select doc_id, regexp_replace(url, '#.*$', '') as u from {SYNTH_URLS_SQL}
),
u1 as (
  select doc_id,
         lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1))
         || regexp_replace(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') as u
  from u0
),
u2 as (select doc_id,
         regexp_replace(u, '^([a-z][a-z0-9+.-]*://)[^/?#@]*@', '\1') as u from u1),
u3 as (select doc_id,
         regexp_replace(u, '^(http://[^/?#:]*):80([/?#]|$)', '\1\2') as u from u2),
u4 as (select doc_id,
         regexp_replace(u, '^(https://[^/?#:]*):443([/?#]|$)', '\1\2') as u from u3),
u5 as (select doc_id,
         regexp_replace(u, '^([a-z][a-z0-9+.-]*://)www\.([^/?#.]+\.)', '\1\2') as u from u4),
u6 as (select doc_id,
         regexp_extract(u, '^([^?]*)', 1) as b,
         regexp_replace(u, '^[^?]*', '') as q from u5),
u7 as (select doc_id, b,
         regexp_replace(q, '[?&](utm_[a-zA-Z0-9_]*|fbclid|gclid|ref)=[^&#]*', '', 'g') as q from u6),
u8 as (select doc_id, b, regexp_replace(q, '^&', '?') as q from u7),
u9 as (select doc_id, b, regexp_replace(q, '[?&]$', '') as q from u8),
canon as (select doc_id, regexp_replace(b, '/+$', '') || q as u from u9)
select u as canonical_url,
       min(doc_id) as keep_id,
       count(*) as n_urls,
       min(regexp_replace(
             regexp_extract(u, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
             ':[0-9]+$', '')) as canonical_host
from canon group by u
"""


DUP_SPAN_K = 20
DUP_SPAN_MAX_DF = 1


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # over the augmented corpus: the prefix-truncation variants share long
    # suffixes with their base docs, giving real duplicate-span structure
    return text_ops.duplicate_span_stats(
        _docs_aug(spark, sf_dir), k=DUP_SPAN_K, max_df=DUP_SPAN_MAX_DF
    )


SQL_DUP_SPANS = f"""
with docs as (select doc_id, text from {DOCS_AUG_SQL}),
grams as (
  select doc_id, length(text) as len,
         unnest(range(1, greatest(length(text)-{DUP_SPAN_K - 1},1)+1)) as i,
         unnest([('0x'||substr(md5(substr(text, j, {DUP_SPAN_K})),1,12))::BIGINT
                 for j in range(1, greatest(length(text)-{DUP_SPAN_K - 1},1)+1)])
           as h
  from docs
),
hot as (
  select h from grams group by h
  having count(distinct doc_id) > {DUP_SPAN_MAX_DF}
),
contrib as (
  select doc_id,
         greatest(least(i-1+{DUP_SPAN_K}, len)
                  - greatest(i-1,
                      coalesce(max(least(i-1+{DUP_SPAN_K}, len)) over (
                        partition by doc_id order by i
                        rows between unbounded preceding and 1 preceding), 0)),
                  0) as c
  from grams join hot using (h)
),
dup as (select doc_id, sum(c) as dup_chars from contrib group by doc_id),
totals as (select doc_id, length(text) as n_chars from docs)
select t.doc_id, t.n_chars::BIGINT as n_chars,
       coalesce(d.dup_chars, 0)::BIGINT as dup_chars,
       floor(coalesce(d.dup_chars, 0)::DOUBLE
             / greatest(t.n_chars, 1) * 1e6 + 0.5)/1e6 as dup_frac
from totals t left join dup d using (doc_id)
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.corpus_token_stats(_t(spark, sf_dir, "documents"))


SQL_CORPUS_STATS = """
with t as (
  select lang as grp,
         len(list_filter(string_split(text, ' '), x -> x <> '')) as n
  from documents
)
select grp,
       count(*)::BIGINT as n_docs,
       sum(n)::BIGINT as total_tokens,
       floor(avg(n) * 1e6 + 0.5)/1e6 as mean_tokens,
       floor(quantile_cont(n, 0.5) * 1e6 + 0.5)/1e6 as p50_tokens,
       floor(quantile_cont(n, 0.95) * 1e6 + 0.5)/1e6 as p95_tokens
from t group by grp
"""


def _docs_with_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents decorated with deterministic PII-shaped spans (the
    synthetic corpus has none) — same expression inlined in the SQL twin
    so both engines scrub identical input."""
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    text = F.concat(
        F.col("text"),
        F.when(
            d % 7 == 0,
            F.concat(F.lit(" contact user"), s(d), F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(
            d % 11 == 0,
            F.concat(
                F.lit(" server 10."), s(d % 256), F.lit(".0."), s(d % 250),
                F.lit(" up"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 13 == 0,
            F.concat(
                F.lit(" id 123-45-"), F.lpad(s(d % 10000), 4, "0")
            ),
        ).otherwise(F.lit("")),
    )
    return _t(spark, sf_dir, "documents").select("doc_id", text.alias("text"))


DOCS_WITH_PII_SQL = """
  (select doc_id,
     text
     || case when doc_id % 7 = 0
          then ' contact user' || doc_id::VARCHAR || '@example.com now'
          else '' end
     || case when doc_id % 11 = 0
          then ' server 10.' || (doc_id % 256)::VARCHAR || '.0.'
               || (doc_id % 250)::VARCHAR || ' up'
          else '' end
     || case when doc_id % 13 = 0
          then ' id 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
          else '' end as text
   from documents)
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.redact_pii(_docs_with_pii(spark, sf_dir))


def _sql_pii_chain() -> tuple[str, str]:
    # counts mirror ops/text.redact_pii: each pattern counted on the text
    # as redacted by the PRECEDING patterns, so sum(n_*) == spans replaced
    counts = []
    cur = "text"
    for name, pat, token in text_ops.PII_PATTERNS:
        counts.append(
            f"len(regexp_extract_all({cur}, '{pat}'))::BIGINT as n_{name}"
        )
        cur = f"regexp_replace({cur}, '{pat}', '{token}', 'g')"
    return ",\n       ".join(counts), cur


_PII_COUNTS_SQL, _PII_CLEAN_SQL = _sql_pii_chain()

SQL_PII_REDACT = f"""
select doc_id,
       {_PII_COUNTS_SQL},
       {_PII_CLEAN_SQL} as clean_text
from {DOCS_WITH_PII_SQL}
"""


# ------------------------------------------------------------- the contract
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full ER pipeline (block -> align-score -> cluster) on
    sf0.001; returns (doc_id, component) clusters."""
    return q_er_end_to_end(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "align_pairs": q_align_pairs,
        "er_end_to_end": q_er_end_to_end,
        "er_lsh_pipeline": q_er_lsh_pipeline,
        "er_incremental": q_er_incremental,
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "rescue_lsh": q_rescue_lsh,
        "er_rescue_pipeline": q_er_rescue_pipeline,
        "align_pairs_oversize": q_align_pairs_oversize,
        "simhash": q_simhash,
        "simhash_near_pairs": q_simhash_near_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "fingerprints": q_fingerprints,
        "fingerprint_overlap": q_fingerprint_overlap,
        "lang_id": q_lang_id,
        "token_counts": q_token_counts,
        "quality": q_quality,
        "repetition": q_repetition,
        "line_dedup": q_line_dedup,
        "url_dedup": q_url_dedup,
        "dup_spans": q_dup_spans,
        "corpus_stats": q_corpus_stats,
        "pii_redact": q_pii_redact,
        "corpus_curation": q_corpus_curation,
        "ann_topk": q_ann_topk,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "ann_ivf_trained_assign": q_ann_ivf_trained_assign,
        "embedding_near_dup": q_embedding_near_dup,
        "embed_corpus": q_embed_corpus,
        "embed_near_dup_text": q_embed_near_dup_text,
        "ann_text_topk": q_ann_text_topk,
        "semantic_dedup": q_semantic_dedup,
        "sorted_neighborhood": q_sorted_neighborhood,
        "salted_join": q_salted_join,
        "skew_salted_join": q_skew_salted_join,
        "eval_join": q_eval_join,
        "blocking_quality": q_blocking_quality,
        "cluster_purity": q_cluster_purity,
        "events_window": q_events_window,
        "events_json": q_events_json,
        "agg_lineitem": q_agg_lineitem,
        "join_topk": q_join_topk,
        "multi_join": q_multi_join,
        "part_brand_stats": q_part_brand_stats,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "align_pairs": SQL_ALIGN_PAIRS,
        "er_end_to_end": SQL_ER_END_TO_END,
        "er_lsh_pipeline": SQL_ER_LSH_PIPELINE,
        "er_incremental": SQL_ER_INCREMENTAL,
        "dedup_exact": SQL_DEDUP_EXACT,
        "minhash_signatures": SQL_MINHASH_SIGNATURES,
        "dedup_minhash_lsh": SQL_DEDUP_MINHASH_LSH,
        "rescue_lsh": SQL_RESCUE_LSH,
        "er_rescue_pipeline": SQL_ER_RESCUE_PIPELINE,
        "align_pairs_oversize": SQL_ALIGN_PAIRS_OVERSIZE,
        "simhash": SQL_SIMHASH,
        "simhash_near_pairs": SQL_SIMHASH_NEAR_PAIRS,
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "fingerprints": SQL_FINGERPRINTS,
        "fingerprint_overlap": SQL_FINGERPRINT_OVERLAP,
        "lang_id": SQL_LANG_ID,
        "token_counts": SQL_TOKEN_COUNTS,
        "quality": SQL_QUALITY,
        "repetition": SQL_REPETITION,
        "line_dedup": SQL_LINE_DEDUP,
        "url_dedup": SQL_URL_DEDUP,
        "dup_spans": SQL_DUP_SPANS,
        "corpus_stats": SQL_CORPUS_STATS,
        "pii_redact": SQL_PII_REDACT,
        "corpus_curation": SQL_CORPUS_CURATION,
        "ann_topk": SQL_ANN_TOPK,
        "ann_lsh": SQL_ANN_LSH,
        "ann_ivf": SQL_ANN_IVF,
        "ann_ivf_trained_assign": SQL_ANN_IVF_TRAINED_ASSIGN,
        "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
        "embed_corpus": SQL_EMBED_CORPUS,
        "embed_near_dup_text": SQL_EMBED_NEAR_DUP_TEXT,
        "ann_text_topk": SQL_ANN_TEXT_TOPK,
        "semantic_dedup": SQL_SEMANTIC_DEDUP,
        "sorted_neighborhood": SQL_SORTED_NEIGHBORHOOD,
        "salted_join": SQL_SALTED_JOIN,
        "skew_salted_join": SQL_SALTED_JOIN,
        "eval_join": SQL_EVAL_JOIN,
        "blocking_quality": SQL_BLOCKING_QUALITY,
        "cluster_purity": SQL_CLUSTER_PURITY,
        "events_window": SQL_EVENTS_WINDOW,
        "events_json": SQL_EVENTS_JSON,
        "agg_lineitem": SQL_AGG_LINEITEM,
        "join_topk": SQL_JOIN_TOPK,
        "multi_join": SQL_MULTI_JOIN,
        "part_brand_stats": SQL_PART_BRAND_STATS,
    }
