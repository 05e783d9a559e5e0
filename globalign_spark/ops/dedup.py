"""Deduplication operators for training-data pipelines over `documents`.

All four families from the standard web-corpus dedup toolbox, each with an
exact DuckDB-SQL twin (hash functions are md5-based specifically so both
engines compute identical values — xxhash64 exists only in Spark):

  - exact:        md5(text) groupBy, min-doc_id survivor
  - MinHash+LSH:  distinct k-char grams -> md5 gram hash mod 2^31-1 -> P
                  universal-hash minima (:func:`minhash_signatures`) ->
                  banded buckets -> candidate pairs
  - SimHash:      per-token md5-nibble bits, majority vote -> 32-bit
                  signature; near-dup = small Hamming distance
  - n-gram Jaccard: within-block pairwise |A∩B|/|A∪B| on distinct k-grams

:func:`minhash_signatures` is the only MinHash family in the engine: the
batch pipeline's ``s1_signatures`` stage, incremental ER, streaming,
curation and every MinHash/ER oracle query compute their signatures with
it, and all of them band with ``pipeline.blocking.band_keys_col``. Band
keys never reach a query output, so the SQL twins' md5 band keys prove
the same pair sets. Signatures are computed without exploding grams
(arrays stay packed per row until the band explode, which is exactly B
rows per doc). Band-bucket self-joins are capped the same way as
pipeline/blocking.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType


def kgrams(text: Column, k: int = 5) -> Column:
    """Distinct k-char grams (strings, not hashes — oracle-friendly)."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(text) - (k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substr(text, i, F.lit(k))))


def dedup_exact(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(hash, survivor_id, n_dupes): one row per distinct text; survivor is
    the minimum id. Plain hash-groupBy — partial aggregation map-side."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count("*").alias("n_dupes"),
        )
    )


# Minhash permutation arithmetic, portable across Spark and DuckDB SQL:
# one md5 per gram -> 48-bit int -> reduce mod p = 2^31 - 1 -> independent
# universal-hash permutations perm_j = (a_j*h + b_j) mod p. a_j*h stays
# under 2^62 (a_j < p, h < p), so plain BIGINT arithmetic is exact in both
# engines. Coefficients are fixed literals derived from md5 so both engines
# see identical values. (A Kirsch-Mitzenmacher h1 + j*h2 form was tried
# first, but its per-permutation argmins are correlated — one gram with
# small h1 AND h2 wins every permutation — which inflated LSH candidate
# sets ~80x.)
MINHASH_P = (1 << 31) - 1


def minhash_coefs(num_perm: int) -> list[tuple[int, int]]:
    import hashlib

    def h32(tag: str) -> int:
        return int(hashlib.md5(tag.encode()).hexdigest()[:8], 16)

    return [
        (h32(f"a{j}") % (MINHASH_P - 1) + 1, h32(f"b{j}") % MINHASH_P)
        for j in range(num_perm)
    ]


def gram_hash(g: Column) -> Column:
    """48-bit integer from the first 12 hex chars of md5, reduced mod p.
    Bit-identical in DuckDB via
    ``('0x' || substr(md5(g), 1, 12))::BIGINT % 2147483647``."""
    return (
        F.conv(F.substring(F.md5(g), 1, 12), 16, 10).cast("long") % MINHASH_P
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 16,
) -> DataFrame:
    """(_id, signature array<long>): the one MinHash signature function.

    sig_j = min over the distinct k-grams g of (a_j * gram_hash(g) + b_j)
    mod p, with (a_j, b_j) = :func:`minhash_coefs` — the same formula the
    DuckDB twins spell out in SQL. The grams are hashed JVM-side (md5 has
    no Python round trip) and the P minima are taken in one map-only
    Arrow pass, so no gram row is ever exploded or shuffled. NULL text
    gives a NULL signature (and :func:`pipeline.blocking.band_keys_col`
    then gives it no band rows); ``""`` hashes its single empty gram like
    the SQL twin does."""
    coefs = np.array(minhash_coefs(num_perm), dtype=np.int64)
    a, b = coefs[:, :1], coefs[:, 1:]

    @F.pandas_udf(ArrayType(LongType()))
    def minima(hashes: pd.Series) -> pd.Series:
        # a_j * h < 2^62 (both < p), so int64 arithmetic is exact.
        return pd.Series([
            None if h is None else ((a * h + b) % MINHASH_P).min(axis=1)
            for h in hashes
        ])

    text = F.col(text_col)
    hashes = F.when(
        text.isNotNull(), F.transform(kgrams(text, k), gram_hash)
    )
    return df.select(
        F.col(id_col).alias("_id"), minima(hashes).alias("signature")
    )


def lsh_band_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 16,
    num_bands: int = 4,
    band_perm: int | None = None,
    carry_sig: bool = False,
) -> DataFrame:
    """(_id, band_id, band_hash[, sig]): B banded-signature rows per
    document — :func:`minhash_signatures` banded by
    :func:`pipeline.blocking.band_rows`, the same key expression the
    batch pipeline bands its ``s1_signatures`` table with.

    This is the table a production deployment checkpoints (bucketed by
    (band_id, band_hash)) so that incremental batches probe it without
    recomputing signatures for the whole corpus (pipeline/incremental.py).

    ``band_perm`` bands over only the FIRST band_perm signature positions
    (default: all num_perm). minhash_coefs is prefix-stable, so widening
    num_perm while holding band_perm fixed leaves every band hash
    bit-identical and only adds screening resolution. ``carry_sig=True``
    appends the full signature as an array<bigint> ``sig`` column — the
    input to the pair-level signature screen in
    :func:`pairs_from_band_rows` (~8*num_perm bytes per band row of
    shuffle weight; the screen it feeds runs BEFORE the pair expansion
    ever hits an exchange).
    """
    from ..pipeline.blocking import band_rows

    return band_rows(
        minhash_signatures(df, id_col, text_col, k, num_perm),
        num_bands, band_perm or num_perm, carry_sig=carry_sig,
    )


def dedup_minhash_lsh(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 16,
    num_bands: int = 4,
    bucket_cap: int = 500,
    band_perm: int | None = None,
    screen_min_eq: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_1 < id_2) from banded MinHash.

    ``band_perm``/``screen_min_eq`` enable the wide-signature screen: band
    on the first ``band_perm`` positions (collision structure unchanged)
    and require >= ``screen_min_eq`` of the full ``num_perm`` positions to
    agree before a pair survives — see :func:`pairs_from_band_rows`.

    The band rows feed three plan branches (bucket sizing and both sides
    of the pair join), so the signature pipeline appears three times in
    the static plan. Deliberately NOT materialized — both reuse shapes
    measured SLOWER at sf0.1 in fresh-session paired runs:

    * lazy ``.persist()``: 1.6x slower here, up to 5x slower in
      downstream ER queries — the cache barrier kills pipelining and
      InMemoryRelation's unknown stats demote broadcast joins to SMJ.
    * eager ``localCheckpoint()``: ~1.8x slower here (16.0s vs 8.9s) and
      2.4x slower in er_lsh_pipeline, measured under HIGHER load on the
      no-checkpoint leg. (A warm-session micro-benchmark showed the
      opposite — order-biased by the page-cache-warm scan; trust paired
      fresh-session runs only.)

    Materializing band rows pays only when the branch count is large:
    the incremental query re-read them from 8+ branches plus two scoring
    passes and localCheckpoint measured 2.6x FASTER there
    (__spark_entry__.q_er_incremental). At corpus scale the reuse belongs
    in storage: write :func:`lsh_band_rows` to a table bucketed by
    (band_id, band_hash) (the orchestrator's blocking stage checkpoints
    the same way) and call :func:`pairs_from_band_rows` on the scan —
    which is also exactly the incremental path (pipeline/incremental.py).
    """
    exploded = lsh_band_rows(
        df, id_col, text_col, k, num_perm, num_bands,
        band_perm=band_perm, carry_sig=screen_min_eq is not None,
    )
    return pairs_from_band_rows(exploded, bucket_cap, screen_min_eq)


def sig_eq_count(sig_1: Column, sig_2: Column) -> Column:
    """Number of equal positions between two minhash signature arrays —
    num_perm * est_jaccard as an exact integer (no float thresholds, so
    a SQL oracle reproduces the screen bit-for-bit)."""
    return F.aggregate(
        F.zip_with(
            sig_1, sig_2, lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def screen_pairs_by_sig(
    pairs: DataFrame,
    sig: DataFrame,
    min_eq: int,
) -> DataFrame:
    """Distinct-first signature screen: keep (id_1, id_2) pairs whose
    signatures (``sig`` = (_id, signature), :func:`minhash_signatures`)
    agree on >= ``min_eq`` positions.

    The same per-pair predicate as ``pairs_from_band_rows(screen_min_eq=...)``
    — results are identical — but evaluated once per DISTINCT pair with the
    signature table broadcast, instead of once per colliding band row with
    both signatures carried through the band self-join. Placement is a
    banding-geometry call, both arms measured: at r >= 3 rows/band a
    near-dup pair collides in few bands and the collision mass is the
    scale risk, so the in-join screen wins (see ``pairs_from_band_rows``);
    at r = 2 (the rescue scheme) band multiplicity is high precisely for
    the near-dup pairs, and distinct-first measured ~3x faster in
    production (pipeline/blocking.rescue_candidates docstring) and 2.4x
    on the sf0.1 rescue oracle query. Mirrors blocking._pair_est_jaccard's
    broadcast-probe shape; the broadcast is safe because callers pass the
    corpus-bounded signature frame of an oracle-scale table — production
    code uses _pair_est_jaccard, which guards on corpus row count."""
    arr = sig.select("_id", "signature")
    return (
        pairs.join(
            F.broadcast(arr.select(F.col("_id").alias("id_1"),
                                   F.col("signature").alias("_s1"))), "id_1"
        )
        .join(
            F.broadcast(arr.select(F.col("_id").alias("id_2"),
                                   F.col("signature").alias("_s2"))), "id_2"
        )
        .where(sig_eq_count(F.col("_s1"), F.col("_s2")) >= F.lit(min_eq))
        .select("id_1", "id_2")
    )


def pairs_from_band_rows(
    band_rows: DataFrame,
    bucket_cap: int = 500,
    screen_min_eq: int | None = None,
    probe_ids: DataFrame | None = None,
) -> DataFrame:
    """Capped LSH candidate pairs (id_1 < id_2) from (_id, band_id,
    band_hash) rows: bucket sizes, over-``bucket_cap`` buckets dropped
    whole, self-join on the band key, distinct. The one capped
    band-bucket join; its callers are

    * :func:`dedup_minhash_lsh` (its tail) and the MinHash/ER oracle
      queries in ``__spark_entry__``;
    * ``pipeline.blocking.lsh_candidates``, the batch pipeline's main
      LSH pass (under-cap buckets);
    * ``pipeline.incremental.incremental_candidates_from_bands`` in
      probe mode, the per-batch path of incremental and streaming ER,
      against a checkpointed band-rows table.

    ``screen_min_eq`` (requires band rows built with ``carry_sig=True``)
    keeps only pairs whose signatures agree on >= that many positions —
    the pipeline's signature screen (pipeline/blocking.py
    est_jaccard_floor) as an exact-integer pair predicate. Placement is
    the scale-critical part: the filter runs on the STREAMING output of
    the band self-join, before the ``distinct()`` exchange, so the
    quadratic collision mass (measured 197.8M colliding pairs from 650k
    boilerplate docs at gen-sf10, 78x for 10x docs) flows through one
    in-stage predicate and only true near-dup survivors are ever
    shuffled. Without it, every colliding pair crosses the distinct — and
    whatever text-attach join follows — as shuffle bytes.

    ``probe_ids`` (one id column) restricts the LEFT side of the pair
    join to those ids before expansion — the singleton-rescue and
    incremental-batch shape: only the probe set pays the pair expansion,
    so an aggressive banding (2 rows per band) against a 10^12-row band
    table costs O(|probe| * bucket_cap * bands), not O(corpus^2), and
    two non-probe rows of one bucket are never paired. Bucket sizes are
    still counted over ALL of ``band_rows``. Output pairs still satisfy
    id_1 < id_2 and every pair touches >= 1 probe id."""
    sizes = band_rows.groupBy("band_id", "band_hash").agg(
        F.count("*").alias("bsz")
    )
    ok = band_rows.join(
        sizes.where(F.col("bsz") <= bucket_cap).drop("bsz"),
        ["band_id", "band_hash"],
    )
    extra_a = [F.col("sig").alias("sig_1")] if screen_min_eq is not None else []
    extra_b = [F.col("sig").alias("sig_2")] if screen_min_eq is not None else []
    a = ok.select("band_id", "band_hash", F.col("_id").alias("id_1"), *extra_a)
    b = ok.select("band_id", "band_hash", F.col("_id").alias("id_2"), *extra_b)
    if probe_ids is not None:
        # An inner join with the DISTINCT probe ids, not a left-semi join:
        # the optimizer pushes a semi-join on id_1 through the size join
        # and any union below it down to the band-table scan, which would
        # re-shuffle a corpus-sized (bucketed) band table by id.
        probes = probe_ids.select(
            F.col(probe_ids.columns[0]).alias("id_1")
        ).distinct()
        a = a.join(probes, "id_1")
        pairs = a.join(b, ["band_id", "band_hash"]).where(
            F.col("id_1") != F.col("id_2")
        )
    else:
        pairs = a.join(b, ["band_id", "band_hash"]).where(
            F.col("id_1") < F.col("id_2")
        )
    if screen_min_eq is not None:
        pairs = pairs.where(
            sig_eq_count(F.col("sig_1"), F.col("sig_2"))
            >= F.lit(screen_min_eq)
        )
    return pairs.select(
        F.least("id_1", "id_2").alias("id_1"),
        F.greatest("id_1", "id_2").alias("id_2"),
    ).distinct()


def simhash32(text: Column) -> Column:
    """32-bit SimHash from whitespace tokens; NULL for token-less text.

    Bit i of a token's hash = (i-th hex nibble of md5(token)) >= 8 — i.e.
    the high bit of each nibble, 32 bits total. Document bit i is set when
    the sum over tokens of (+1/-1) votes is positive. Pure string/bit
    built-ins; identical in DuckDB SQL.

    A document with NO tokens has no content to vote with: emitting the
    all-zero hash would park every empty page in block 0 and pair it with
    whatever legitimately hashes near zero (found for real at gen-sf1,
    where truncation variants of the shortest docs go empty and Spark
    emitted 136 phantom pairs the SQL twin — whose unnest drops empty
    docs — never produced). NULL instead; the near-pair join excludes it.
    """
    toks = F.filter(F.split(text, " "), lambda t: t != "")
    hashes = F.transform(toks, lambda t: F.md5(t))
    # Single pass over the token hashes: fold into a 32-element vote array.
    # (The previous shape was 32 separate F.aggregate walks, each of which
    # re-evaluated the md5 transform — 32x the hash work and 32x the array
    # traversals; VERDICT r1 item 4.) `h` below is the already-materialized
    # md5 hex string, so each token hashes exactly once.
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 32),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(31)),
                lambda i: F.when(
                    F.substr(h, i + 1, F.lit(1)).isin(
                        "8", "9", "a", "b", "c", "d", "e", "f"
                    ),
                    F.lit(1),
                ).otherwise(F.lit(-1)),
            ),
            lambda a, v: a + v,
        ),
    )
    sh = F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(31)),
            # 2^i via pow: exact in double for i <= 31 (shiftleft's numBits
            # argument only accepts a Python int, not a per-row column).
            lambda vote, i: F.when(vote > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
            * F.pow(F.lit(2.0), i.cast("double")).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.when(F.size(toks) > 0, sh).otherwise(F.lit(None).cast("long"))


def add_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("simhash", simhash32(F.col(text_col)))


def simhash_near_pairs(
    with_sim: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bucket_cap: int = 10_000,
    materialize: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on the high
    16 bits (docs differing only in low bits collide; standard multi-probe
    would rotate the block — one probe here).

    Boilerplate-heavy corpora collapse onto few simhashes, so a degenerate
    16-bit block goes quadratic; blocks over ``bucket_cap`` members are
    excluded from the self-join (same skew discipline as
    ``dedup_minhash_lsh``) and their loss is never silent — counted lineage
    is available via ``simhash_block_stats``. NOTE: ``bucket_cap`` defaults
    to 10_000 (was uncapped before round 2) — callers wanting uncapped
    all-pairs semantics on degenerate corpora must pass a larger cap
    explicitly; dropped blocks are countable via ``simhash_block_stats``.
    """
    # The upstream simhash column is an interpreted array aggregate (the
    # costliest expression feeding this op) and `blocked` is read by four
    # plan branches (block sizing + both join sides); per the measured
    # materialization rule (see dedup_minhash_lsh docstring) an expensive
    # subtree with a narrow output and >=4 readers is checkpointed once.
    # eager=False keeps frame CONSTRUCTION job-free (the checkpoint runs
    # at the first action, then is reused by every branch); pass
    # materialize=False to keep full lineage (e.g. under dynamic
    # allocation, where checkpointed blocks die with their executor).
    # Project FIRST, filter the NULL guard AFTER the checkpoint: a
    # `.where(simhash IS NOT NULL)` below the projection puts the vote-fold
    # in BOTH a Filter and a Project operator, and cross-operator
    # subexpression elimination does not cover interpreted higher-order
    # functions — the costliest expression in the query evaluated twice per
    # row (the round-4 2x regression). Post-checkpoint, `simhash` is a
    # materialized column and the filter is a cheap null check the
    # optimizer cannot push back through the checkpoint barrier.
    blocked = with_sim.select(F.col(id_col).alias("id"), F.col("simhash"))
    if materialize:
        blocked = blocked.localCheckpoint(eager=False)
    blocked = blocked.where(F.col("simhash").isNotNull()).withColumn(
        "blk", F.shiftright("simhash", 16)
    )
    sizes = blocked.groupBy("blk").agg(F.count("*").alias("bsz"))
    ok = blocked.join(sizes.where(F.col("bsz") <= bucket_cap).drop("bsz"), "blk")
    a = ok.select(F.col("id").alias("id_1"), F.col("simhash").alias("s1"), "blk")
    b = ok.select(F.col("id").alias("id_2"), F.col("simhash").alias("s2"), "blk")
    ham = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (
        a.join(b, "blk")
        .where(F.col("id_1") < F.col("id_2"))
        .withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_1", "id_2", "hamming")
    )


def simhash_block_stats(
    with_sim: DataFrame, bucket_cap: int = 10_000
) -> DataFrame:
    """Counted lineage for the simhash 16-bit block join: how many blocks /
    member docs the ``bucket_cap`` skew guard would exclude."""
    sizes = (
        with_sim.select(F.shiftright("simhash", 16).alias("blk"))
        .groupBy("blk")
        .agg(F.count("*").alias("bsz"))
    )
    return sizes.agg(
        F.count("*").alias("n_blocks"),
        F.sum(F.when(F.col("bsz") > bucket_cap, 1).otherwise(0)).alias(
            "n_blocks_dropped"
        ),
        F.sum(F.when(F.col("bsz") > bucket_cap, F.col("bsz")).otherwise(0)).alias(
            "n_docs_in_dropped"
        ),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Within-block pairwise k-gram Jaccard similarity >= threshold.
    jaccard = |A∩B| / |A∪B| on distinct k-grams; rounded to 6 dp."""
    spark = df.sparkSession
    g = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_t"),
    )
    a = g.select(
        F.col("_blk"), F.col("_id").alias("id_1"), F.col("_t").alias("t1")
    )
    b = g.select(
        F.col("_blk"), F.col("_id").alias("id_2"), F.col("_t").alias("t2")
    )
    pairs = (
        a.join(b, "_blk")
        .where(F.col("id_1") < F.col("id_2"))
        # compute-heavy per-pair set intersects: spread across cores
        # explicitly (AQE coalesces this shuffle by bytes, not by compute)
        .repartition(
            spark.sparkContext.defaultParallelism * 2,
            F.xxhash64("id_1", "id_2"),
        )
    )
    counted = pair_gram_overlap(pairs, k=k)
    return (
        counted.withColumn(
            "jaccard", F.round(F.col("_i") / (F.col("_s") - F.col("_i")), 6)
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", "jaccard")
    )


def pair_gram_overlap(
    pairs: DataFrame,
    k: int,
    id_1: str = "id_1",
    id_2: str = "id_2",
    t1: str = "t1",
    t2: str = "t2",
) -> DataFrame:
    """k-gram set overlap counts per pair: (id_1, id_2, _i = |A∩B|,
    _s = |A|+|B|), so jaccard = _i / (_s - _i).

    |A∩B| and |A|+|B| via an Arrow-batched pandas iterator UDF: Python
    set intersection is ~50x the interpreted (non-codegen) ArrayIntersect
    expression for 500-element gram sets. Integer outputs only — the
    division and HALF_UP rounding stay JVM-side so the DuckDB oracle
    matches bit-for-bit. Shared by ngram_jaccard_pairs and the oversize-
    pair fallback scorer (pipeline/scoring.score_pairs_with_fallback).
    """
    from collections.abc import Iterator as _It

    import pandas as _pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(
        [
            StructField(id_1, pairs.schema[id_1].dataType, True),
            StructField(id_2, pairs.schema[id_2].dataType, True),
            StructField("_i", IntegerType(), False),
            StructField("_s", IntegerType(), False),
        ]
    )

    def gram_set(t: str) -> set:
        return {t[i : i + k] for i in range(max(len(t) - k + 1, 1))}

    def run(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        # Each doc participates in O(block_size) pairs; memoize its gram set
        # per task instead of rebuilding it for every pair (~250x fewer set
        # constructions at typical block sizes). Bounded: a task whose
        # partition spans many distinct large docs must not accumulate
        # every gram set for its lifetime, so the cache resets at a size
        # cap (keeps within-batch and most cross-batch locality).
        cache: dict = {}
        cache_cap = 100_000

        def cached(doc_id, t: str) -> set:
            s = cache.get(doc_id)
            if s is None:
                if len(cache) >= cache_cap:
                    cache.clear()
                s = cache[doc_id] = gram_set(t)
            return s

        for pdf in batches:
            s1 = [cached(i, t) for i, t in zip(pdf[id_1], pdf[t1])]
            s2 = [cached(i, t) for i, t in zip(pdf[id_2], pdf[t2])]
            yield _pd.DataFrame(
                {
                    id_1: pdf[id_1],
                    id_2: pdf[id_2],
                    "_i": [len(x & y) for x, y in zip(s1, s2)],
                    "_s": [len(x) + len(y) for x, y in zip(s1, s2)],
                }
            )

    return pairs.mapInPandas(run, schema=out_schema)
