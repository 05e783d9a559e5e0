"""End-to-end ER pipeline tests on the deterministic fixture corpus."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from globalign_spark.pipeline.clustering import connected_components
from globalign_spark.pipeline.extract import extract_text, host_of
from globalign_spark.pipeline.metrics import pairwise_prf, predicted_pairs
from globalign_spark.pipeline.orchestrator import PipelineConfig, run_pipeline
from globalign_spark.sources.fixtures import labeled_pairs_df, pages_df


class UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def test_connected_components_vs_union_find(spark):
    rng = np.random.Generator(np.random.Philox(3))
    edges = [
        (int(rng.integers(0, 200)), int(rng.integers(0, 200))) for _ in range(300)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.component for r in connected_components(df).collect()}

    uf = UnionFind()
    for a, b in edges:
        uf.union(a, b)
    nodes = {x for e in edges for x in e}
    exp = {x: uf.find(x) for x in nodes}
    # canonical: min node per component on both sides
    assert set(got) == nodes
    for x in nodes:
        assert got[x] == exp[x], x


def test_cc_chain_and_strings(spark):
    # worst-case diameter: a pure chain, string node ids
    edges = [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(0, 99)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.id: r.component for r in connected_components(df).collect()}
    assert all(v == "n0000" for v in got.values())
    assert len(got) == 100
    # one round cannot reach the fixpoint of a 100-node chain: no labels
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(df, max_iter=1)


def test_extractor_byte_identity(spark):
    pages = pages_df(spark, n_entities=30, seed=11)
    mismatch = (
        pages.withColumn("ex", extract_text(F.col("html")))
        .where(F.col("ex") != F.col("text"))
        .count()
    )
    assert mismatch == 0


def test_host_extraction(spark):
    df = spark.createDataFrame(
        [
            ("https://Host0.Example.com/p1", "host0.example.com"),
            ("http://user:pw@a.b.c:8080/x?y#z", "a.b.c"),
            ("https://x.y/", "x.y"),
        ],
        "url string, want string",
    )
    bad = df.where(host_of(F.col("url")) != F.col("want")).count()
    assert bad == 0


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    wh = tmp_path_factory.mktemp("wh")
    pages = pages_df(spark, n_entities=300, seed=42).cache()
    truth = labeled_pairs_df(pages)
    cfg = PipelineConfig(warehouse=str(wh), text_from_html=True)
    summary = run_pipeline(spark, pages, cfg, labeled_pairs=truth)
    yield summary, wh, pages
    pages.unpersist()


def test_pipeline_f1_gate(pipeline_result):
    summary, _, _ = pipeline_result
    ev = summary["eval"]
    assert ev["f1"] >= 0.99, ev


def test_pipeline_resume_skips_stages(spark, pipeline_result):
    summary, wh, pages = pipeline_result
    import json
    import time
    from pathlib import Path

    before = {
        p.parent.name: p.stat().st_mtime
        for p in Path(wh).glob("*/_MANIFEST.json")
    }
    assert len(before) == 8  # incl. s0b_rep_map, s1_signatures, s4b_rescue_edges
    t0 = time.time()
    cfg = PipelineConfig(warehouse=str(wh), text_from_html=True)
    summary2 = run_pipeline(spark, pages, cfg)
    after = {
        p.parent.name: p.stat().st_mtime
        for p in Path(wh).glob("*/_MANIFEST.json")
    }
    assert before == after  # nothing recomputed
    assert summary2["stages"] == summary["stages"]
    # manifests carry per-file lineage read from the parquet footers,
    # and their row counts are the stages' row counts
    for stage in after:
        m = json.loads((Path(wh) / stage / "_MANIFEST.json").read_text())
        assert m["rows"] == sum(r["n_rows"] for r in m["lineage"])
        assert m["partitions"] == len(m["lineage"])
        assert m["rows"] == spark.read.parquet(
            str(Path(wh) / stage / "data")
        ).count(), stage


def _probes_expected(spark, wh):
    """(reps - distinct s4 endpoints, distinct s4 endpoints), both counted
    from a warehouse's checkpoints."""
    reps = spark.read.parquet(str(wh / "s0b_rep_map" / "data")).where(
        F.col("url") == F.col("rep_url")
    )
    s4 = spark.read.parquet(str(wh / "s4_edges" / "data")).where(
        F.col("id_1") != F.col("id_2")
    )
    n_ends = (
        s4.select(F.col("id_1").alias("u"))
        .union(s4.select(F.col("id_2").alias("u")))
        .distinct()
        .count()
    )
    return reps.count() - n_ends, n_ends


def test_rescue_probes_are_reps_without_edges(spark, pipeline_result):
    """The rescue pass probes exactly the reps that are not an endpoint of
    any main-pass edge."""
    from pathlib import Path

    summary, wh, _ = pipeline_result
    rstats = summary["stages"]["s4b_rescue_edges"]["rescue_bucket_stats"]
    want, n_ends = _probes_expected(spark, Path(wh))
    assert n_ends > 0
    assert rstats["n_probes"] == want, rstats


def test_pipeline_precision_recall_breakdown(pipeline_result):
    summary, _, _ = pipeline_result
    ev = summary["eval"]
    assert ev["precision"] >= 0.99
    assert ev["recall"] >= 0.98


def test_exact_dedup_prepass_preserves_clusters(spark, tmp_path):
    """exact_dedup_first collapses byte-identical texts before blocking;
    the expanded components must produce the same predicted pair set as
    the pipeline without the prepass, on a corpus WITH exact duplicates."""
    from pyspark.sql import functions as F

    from globalign_spark.pipeline.orchestrator import (
        PipelineConfig, run_pipeline,
    )
    from globalign_spark.sources.fixtures import pages_df
    from globalign_spark.pipeline.metrics import predicted_pairs

    base = pages_df(spark, 40, seed=13)
    # inject exact duplicates: clone 15 pages under new urls, same text
    clones = base.where(F.col("variant_id") == 0).limit(15).withColumn(
        "url", F.concat(F.col("url"), F.lit("?utm=copy"))
    )
    pages = base.unionByName(clones)

    outs = {}
    for flag in (True, False):
        cfg = PipelineConfig(
            warehouse=str(tmp_path / f"wh_{flag}"), exact_dedup_first=flag
        )
        run_pipeline(spark, pages, cfg)
        comps = spark.read.parquet(
            str(tmp_path / f"wh_{flag}" / "s5_components" / "data")
        )
        outs[flag] = {
            tuple(r) for r in predicted_pairs(comps).collect()
        }
    assert outs[True] == outs[False]
    # the clones really did cluster with their originals
    assert any("?utm=copy" in a or "?utm=copy" in b for a, b in outs[True])


def test_extractor_adversarial_html(spark):
    """Quoted '>' in attributes, numeric char refs (dec + hex), full named
    entities, comment/script subtrees, whitespace toggle."""
    cases = [
        # (html, entities_mode, normalize_ws, expected)
        (b'<a title="a>b">x</a>', "named", False, "x"),
        (b"<a title='a>b'>x</a>", "named", False, "x"),
        (b"<p>a &amp;lt; b</p>", "named", False, "a &lt; b"),  # no double-unescape
        (b"<p>caf&#233; &#x41;</p>", "full", False, "café A"),
        (b"<p>&eacute;&nbsp;x</p>", "full", False, "é x"),
        (b"<p>a &amp;#65; b</p>", "full", False, "a &#65; b"),  # html5 single pass
        (b"<script>x = '<p>not text</p>';</script>ok", "named", False, "ok"),
        (b"<!-- <p>gone</p> -->kept", "named", False, "kept"),
        (b"<div>  a\n\n b\t</div>", "named", True, "a b"),
        (b"<p>plain &lt;tag&gt;</p>", "full", False, "plain <tag>"),
        # named-only entities in full mode: resolved by the codegen fast
        # path; the post-named screen must not re-route them to Python
        (b"<p>x &amp; y</p>", "full", False, "x & y"),
        (b"<p>a &amp;lt; b</p>", "full", False, "a &lt; b"),
        # semicolon-less tokens html.unescape resolves: legacy named refs
        # and bare numeric refs must cross to the full resolver even when
        # no ';'-terminated entity co-occurs in the row
        (b"<p>x &amp; y &gt z</p>", "full", False, "x & y > z"),
        (b"<p>&#65 b</p>", "full", False, "A b"),
        (b"<p>5 &copy 2020</p>", "full", False, "5 \xa9 2020"),
        # '&' + letters that is NOT an entity stays literal in both modes
        (b"<p>AT&T R&D</p>", "full", False, "AT&T R&D"),
    ]
    df = spark.createDataFrame(
        [(i, h, m, w, e) for i, (h, m, w, e) in enumerate(cases)],
        "i long, html binary, mode string, ws boolean, want string",
    )
    for mode in ("named", "full"):
        for ws in (False, True):
            sub = df.where((F.col("mode") == mode) & (F.col("ws") == ws))
            if sub.count() == 0:
                continue
            bad = sub.withColumn(
                "got", extract_text(F.col("html"), entities=mode, normalize_ws=ws)
            ).where(F.col("got") != F.col("want"))
            rows = bad.collect()
            assert not rows, [(r.i, r.got, r.want) for r in rows]


def test_extractor_full_mode_keeps_byte_identity(spark):
    """The fixture-grammar invariant must hold in BOTH entity modes."""
    pages = pages_df(spark, n_entities=20, seed=13)
    for mode in ("named", "full"):
        mismatch = (
            pages.withColumn("ex", extract_text(F.col("html"), entities=mode))
            .where(F.col("ex") != F.col("text"))
            .count()
        )
        assert mismatch == 0, mode


def test_checkpoint_refuses_config_mismatch(spark, tmp_path):
    """A warehouse written under one config must not be silently reused by
    a run whose config changes stage semantics (ADVICE r1)."""
    wh = str(tmp_path / "wh")
    pages = pages_df(spark, n_entities=25, seed=7)
    cfg = PipelineConfig(warehouse=wh, sn_window=3)
    run_pipeline(spark, pages, cfg)
    cfg2 = PipelineConfig(warehouse=wh, sn_window=6)
    with pytest.raises(RuntimeError, match="fingerprint"):
        run_pipeline(spark, pages, cfg2)
    # same config resumes fine
    run_pipeline(spark, pages, PipelineConfig(warehouse=wh, sn_window=3))


def test_incremental_components_vs_recompute(spark):
    """incremental_components must equal full CC over (old ∪ new) edges:
    merges two existing components via a bridging edge, attaches brand-new
    nodes, and passes untouched components through verbatim."""
    from globalign_spark.pipeline.incremental import incremental_components

    old_edges = [(1, 2), (2, 3), (10, 11), (20, 21), (30, 31)]
    new_edges = [(3, 10), (40, 41), (21, 50)]
    old_df = spark.createDataFrame(old_edges, "src long, dst long")
    old_assign = connected_components(old_df)
    got = {
        r.id: r.component
        for r in incremental_components(
            old_assign,
            spark.createDataFrame(new_edges, "id_1 long, id_2 long"),
        ).collect()
    }
    both = spark.createDataFrame(
        old_edges + new_edges, "src long, dst long"
    )
    exp = {r.id: r.component for r in connected_components(both).collect()}
    assert got == exp
    # the untouched component (30, 31) is still labeled by its min member
    assert got[31] == 30


def test_incremental_candidates_completeness(spark):
    """Every batch LSH candidate pair with >=1 new endpoint is produced,
    and no old-old pair is (those are the previous run's responsibility)."""
    from globalign_spark.ops import dedup
    from globalign_spark.pipeline.incremental import (
        incremental_candidates_from_bands,
    )

    docs = _fox_docs(spark)
    batch = {
        (r.id_1, r.id_2)
        for r in dedup.dedup_minhash_lsh(docs, bucket_cap=10**9).collect()
    }
    cand = incremental_candidates_from_bands(
        dedup.lsh_band_rows(docs.where(F.col("doc_id") % 4 != 0)),
        dedup.lsh_band_rows(docs.where(F.col("doc_id") % 4 == 0)),
        bucket_cap=10**9,
    )
    assert cand.columns == ["id_1", "id_2"]
    incr = {(r.id_1, r.id_2) for r in cand.collect()}
    want = {p for p in batch if p[0] % 4 == 0 or p[1] % 4 == 0}
    assert incr == want and incr
    assert all(a % 4 == 0 or b % 4 == 0 for a, b in incr)


def test_incremental_from_bands_equivalence(spark, tmp_path):
    """The production per-batch path reads the old side from a checkpointed
    banded-signature table.  Round-tripping the old band rows through
    parquet must give exactly the pairs of the in-memory band rows, which
    equal the batch run's new-touching pairs."""
    from globalign_spark.ops import dedup
    from globalign_spark.pipeline.incremental import (
        incremental_candidates_from_bands,
    )

    docs = _fox_docs(spark)
    old_bands = dedup.lsh_band_rows(docs.where(F.col("doc_id") % 4 != 0))
    new_bands = dedup.lsh_band_rows(docs.where(F.col("doc_id") % 4 == 0))
    path = str(tmp_path / "band_rows")
    old_bands.write.parquet(path)

    def pairs(old):
        return {
            (r.id_1, r.id_2)
            for r in incremental_candidates_from_bands(
                old, new_bands, bucket_cap=10**9
            ).collect()
        }

    got = pairs(spark.read.parquet(path))
    batch = {
        (r.id_1, r.id_2)
        for r in dedup.dedup_minhash_lsh(docs, bucket_cap=10**9).collect()
    }
    assert got == pairs(old_bands) and len(got) > 0
    assert got == {p for p in batch if p[0] % 4 == 0 or p[1] % 4 == 0}


def _fox_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while the sun sets slowly behind the quiet hills tonight"
    )
    rows = [(i, base[:60 + (i % 7) * 9] + f" tail{i % 3}") for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_candidates_with_signature_screen(spark):
    """Probe mode with the in-join signature screen (64 perms, banding on
    the first 16, >= 32 equal positions) equals the batch run's screened
    pairs that touch a new document."""
    from globalign_spark.ops import dedup
    from globalign_spark.pipeline.incremental import (
        incremental_candidates_from_bands,
    )

    docs = pages_df(spark, 60, seed=13).select(
        F.col("url").alias("doc_id"), F.col("text")
    )
    is_new = F.xxhash64("doc_id") % 4 == 0
    lsh = dict(num_perm=64, num_bands=4, band_perm=16)

    def bands(d):
        return dedup.lsh_band_rows(d, **lsh, carry_sig=True)

    new_ids = {r.doc_id for r in docs.where(is_new).collect()}
    batch = {
        (r.id_1, r.id_2)
        for r in dedup.dedup_minhash_lsh(
            docs, bucket_cap=10**9, screen_min_eq=32, **lsh
        ).collect()
    }
    unscreened = dedup.dedup_minhash_lsh(docs, bucket_cap=10**9, **lsh)
    got = {
        (r.id_1, r.id_2)
        for r in incremental_candidates_from_bands(
            bands(docs.where(~is_new)), bands(docs.where(is_new)),
            bucket_cap=10**9, screen_min_eq=32,
        ).collect()
    }
    want = {p for p in batch if p[0] in new_ids or p[1] in new_ids}
    assert got == want and got
    assert len(batch) < unscreened.count()  # the screen drops pairs here


def test_incremental_components_random_graphs(spark):
    """Randomized: for random graphs and random old/new edge splits,
    folding the new edges into CC(old) must equal CC(old ∪ new) —
    including pathological splits (all-new, all-old)."""
    from globalign_spark.pipeline.incremental import incremental_components

    rng = np.random.Generator(np.random.Philox(7))
    for trial in range(4):
        n_nodes = int(rng.integers(20, 120))
        n_edges = int(rng.integers(10, 150))
        edges = [
            (int(rng.integers(0, n_nodes)), int(rng.integers(0, n_nodes)))
            for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        cut = {0: 0, 1: len(edges), 2: len(edges) // 2}.get(
            trial, int(rng.integers(0, len(edges)))
        )
        old, new = edges[:cut], edges[cut:]
        old_assign = connected_components(
            spark.createDataFrame(old or [(0, 0)], "src long, dst long")
            .where(F.col("src") != F.col("dst"))
        )
        got = {
            r.id: r.component
            for r in incremental_components(
                old_assign,
                spark.createDataFrame(
                    new or [(0, 0)], "id_1 long, id_2 long"
                ).where(F.col("id_1") != F.col("id_2")),
            ).collect()
        }
        exp = {
            r.id: r.component
            for r in connected_components(
                spark.createDataFrame(
                    edges, "src long, dst long"
                )
            ).collect()
        }
        assert got == exp, f"trial {trial} cut {cut}"


def test_blocking_quality_metrics(spark):
    """Hand-checkable metric values: 4 records, 3 candidates, 2 truth
    pairs, 1 covered -> PC=0.5, PQ~=0.333333, RR = 1 - 3/6 = 0.5."""
    from globalign_spark.pipeline.metrics import blocking_quality

    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4)], "id_1 long, id_2 long"
    )
    truth = spark.createDataFrame(
        [(1, 2), (3, 4)], "id_1 long, id_2 long"
    )
    row = blocking_quality(cand, truth, n_records=4).first()
    assert row["n_records"] == 4
    assert row["n_cand"] == 3
    assert row["n_truth"] == 2
    assert row["covered"] == 1
    assert row["pair_completeness"] == 0.5
    assert row["pair_quality"] == pytest.approx(0.333333)
    assert row["reduction_ratio"] == 0.5


def test_blocking_quality_empty_sides(spark):
    """Degenerate inputs take the defined limits (no div-by-zero)."""
    from globalign_spark.pipeline.metrics import blocking_quality

    empty = spark.createDataFrame([], "id_1 long, id_2 long")
    truth = spark.createDataFrame([(1, 2)], "id_1 long, id_2 long")
    row = blocking_quality(empty, truth, n_records=3).first()
    assert row["n_cand"] == 0
    assert row["pair_completeness"] == 0.0
    assert row["pair_quality"] == 1.0
    assert row["reduction_ratio"] == 1.0


def test_cluster_purity_hand_checked(spark):
    """Component 1 = {1,2,3} with truth labels {A,A,B} -> purity 2/3;
    component 9 = {9} pure. Exercises both the labels-frame and the
    label-Column forms."""
    from globalign_spark.pipeline.metrics import cluster_purity

    assign = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9)], "id long, component long"
    )
    truth = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "B"), (9, "C")], "id long, t string"
    )
    rows = {
        r["component"]: r
        for r in cluster_purity(assign, truth).collect()
    }
    assert rows[1]["n_members"] == 3
    assert rows[1]["majority_overlap"] == 2
    assert rows[1]["n_truth_clusters"] == 2
    assert rows[1]["purity"] == pytest.approx(0.666667)
    assert rows[9]["purity"] == 1.0

    # Column form: label = id % 2 -> component 1 members {1,2,3} have
    # labels {1,0,1} -> majority 2.
    rows2 = {
        r["component"]: r
        for r in cluster_purity(assign, F.col("id") % 2).collect()
    }
    assert rows2[1]["majority_overlap"] == 2
    assert rows2[1]["n_truth_clusters"] == 2


def test_metric_ops_vs_bruteforce_random(spark):
    """blocking_quality and cluster_purity agree with pure-Python
    brute-force recomputation on randomized inputs (5 seeded draws)."""
    from collections import Counter

    from globalign_spark.pipeline.metrics import (
        blocking_quality,
        cluster_purity,
    )

    rng = np.random.default_rng(42)
    for _ in range(5):
        n = int(rng.integers(6, 25))
        ids = list(range(n))
        # random candidate + truth pair sets (canonical orientation)
        def rand_pairs(k):
            out = set()
            for _ in range(k):
                a, b = rng.choice(n, size=2, replace=False)
                out.add((int(min(a, b)), int(max(a, b))))
            return sorted(out)

        cand = rand_pairs(int(rng.integers(1, 3 * n)))
        truth = rand_pairs(int(rng.integers(1, 2 * n)))
        cdf = spark.createDataFrame(cand, "id_1 long, id_2 long")
        tdf = spark.createDataFrame(truth, "id_1 long, id_2 long")
        row = blocking_quality(cdf, tdf, n_records=n).first()
        covered = len(set(cand) & set(truth))
        assert row["n_cand"] == len(cand)
        assert row["n_truth"] == len(truth)
        assert row["covered"] == covered
        assert row["pair_completeness"] == pytest.approx(
            round(covered / len(truth), 6)
        )
        assert row["reduction_ratio"] == pytest.approx(
            round(1 - len(cand) / (n * (n - 1) / 2), 6)
        )

        # random assignment + labels; brute-force purity per component
        comp = {i: int(rng.integers(0, 4)) for i in ids}
        lab = {i: int(rng.integers(0, 3)) for i in ids}
        adf = spark.createDataFrame(
            [(i, comp[i]) for i in ids], "id long, component long"
        )
        ldf = spark.createDataFrame(
            [(i, lab[i]) for i in ids], "id long, t long"
        )
        got = {
            r["component"]: r for r in cluster_purity(adf, ldf).collect()
        }
        for cid in set(comp.values()):
            members = [i for i in ids if comp[i] == cid]
            counts = Counter(lab[i] for i in members)
            assert got[cid]["n_members"] == len(members)
            assert got[cid]["majority_overlap"] == max(counts.values())
            assert got[cid]["n_truth_clusters"] == len(counts)


def test_pipeline_blocking_metrics(pipeline_result):
    """--evaluate also reports blocker-stage metrics. NB: end-to-end recall
    can EXCEED blocker pair completeness — connected components recovers a
    blocker-missed truth pair (a,c) transitively through (a,b),(b,c) —
    measured at 5k entities: recall 0.9921 vs blocker PC 0.9702. The gates
    here: the blocker finds nearly all truth AND stays far from all-pairs."""
    summary, _, _ = pipeline_result
    bq = summary["blocking"]
    assert bq["n_cand"] > 0
    assert bq["pair_completeness"] >= 0.98, bq
    assert bq["reduction_ratio"] >= 0.9, bq


def test_skew_guard_fire_drill(spark, tmp_path):
    """VERDICT r2 item 6: adversarial corpus built to break the quadratic
    guards — 50% of entities carry near-identical boilerplate text (byte-
    distinct across entities, so the exact-dedup prepass can NOT collapse
    them) and every page sits on one host. Asserts the bucket_cap skew
    guard actually fires (counted, never silent), the candidate set stays
    LINEAR in corpus size (no quadratic LSH bucket leaked through), and
    the boilerplate family is still recovered as one cluster through the
    sorted-neighborhood fallback + transitive closure."""
    n_entities = 800
    pages = pages_df(spark, n_entities=n_entities, seed=9, n_hosts=1)
    boiler = (
        "please accept our cookie banner and subscribe to the newsletter "
        "terms of service apply contact the webmaster for details " * 3
    )
    is_boiler = F.col("entity_id") % 2 == 0
    pages = pages.withColumn(
        "text",
        F.when(
            is_boiler,
            F.concat(F.lit(boiler), F.col("entity_id").cast("string")),
        ).otherwise(F.col("text")),
    ).withColumn(
        "html",
        F.encode(
            F.concat(
                F.lit("<html><body><p>"), F.col("text"),
                F.lit("</p></body></html>"),
            ),
            "UTF-8",
        ),
    )
    cfg = PipelineConfig(warehouse=str(tmp_path / "wh"))
    assert cfg.bucket_cap < 500  # the guard under test is the default one
    summary = run_pipeline(spark, pages, cfg, labeled_pairs_df(pages))

    stats = summary["stages"]["s1_candidates"]["lsh_bucket_stats"]
    # The boilerplate family (~400 exact-dedup reps sharing nearly all
    # minhash bands) MUST overflow the cap, and the overflow is counted.
    assert stats["n_buckets_over_cap"] > 0, stats
    assert stats["n_rows_in_over_cap"] > cfg.bucket_cap, stats
    assert stats["max_bucket"] > cfg.bucket_cap, stats

    n_docs = pages.count()
    cand_rows = summary["stages"]["s1_candidates"]["rows"]
    # Linear-in-corpus candidate bound: uncapped, the ~400-rep boilerplate
    # bucket alone would emit ~400*399/2 * n_bands ~ 1.3M pairs; the guard
    # plus dual-order SN must keep candidates O(n_docs * window).
    assert cand_rows < 60 * n_docs, (cand_rows, n_docs)

    # Recall survives the drop: boilerplate reps chain through the
    # sorted-neighborhood pass (identical prefix -> adjacent in text
    # order), so transitive closure still produces ONE boilerplate
    # cluster despite the LSH bucket being dropped.
    from globalign_spark.pipeline.orchestrator import Checkpointer

    comps = Checkpointer(
        spark, cfg.warehouse, cfg_fingerprint=cfg.fingerprint()
    ).read("s5_components")
    boiler_urls = pages.where(is_boiler).select(F.col("url").alias("id"))
    bc = comps.join(boiler_urls, "id").groupBy("component").count()
    top = bc.orderBy(F.desc("count")).first()
    n_boiler = boiler_urls.count()
    assert top["count"] >= 0.95 * n_boiler, (top, n_boiler)


def test_lsh_signature_screen_counts_drops(spark):
    """est_jaccard_floor screens LSH candidate pairs by signature-estimated
    Jaccard BEFORE the alignment stage, and the drops are counted in stats
    (never silent). A prohibitive floor must empty the non-identical pairs;
    floor=0 must keep them and report n_screened_out = 0."""
    from globalign_spark.ops import dedup
    from globalign_spark.pipeline import blocking

    base = "the quick brown fox jumps over the lazy dog and runs far away "
    rows = [
        ("u1", base * 6),
        ("u2", base * 6 + "tail"),          # near-identical to u1
        ("u3", base * 6 + "other ending"),  # near-identical to u1/u2
    ]
    df = spark.createDataFrame(rows, ["url", "norm_text"])
    sig = dedup.minhash_signatures(df, "url", "norm_text", 5, 64)

    open_pairs, open_stats = blocking.lsh_candidates(
        df, sig, bucket_cap=50, est_jaccard_floor=0.0
    )
    n_open = open_pairs.count()
    assert n_open >= 1
    srow = open_stats.collect()[0].asDict()
    assert srow["n_screened_out"] == 0, srow

    shut_pairs, shut_stats = blocking.lsh_candidates(
        df, sig, bucket_cap=50, est_jaccard_floor=1.1
    )
    assert shut_pairs.count() == 0
    srow = shut_stats.collect()[0].asDict()
    assert srow["n_screened_out"] == n_open, (srow, n_open)

    # a permissive floor keeps the near-identical pairs (est_j ~ 0.9+)
    keep_pairs, _ = blocking.lsh_candidates(
        df, sig, bucket_cap=50, est_jaccard_floor=0.5
    )
    assert keep_pairs.count() == n_open


def test_singleton_rescue_recovers_missed_edges(spark, tmp_path):
    """Round-3 recall-decay fix: a variant whose ONLY edge the main
    banding misses stays a singleton forever (measured 1.0 -> 0.9962 ->
    0.9876 recall at 5k/50k/200k entities). The rescue pass re-probes
    post-clustering singletons with the same signatures regrouped at 2
    rows per band. This test cripples the main pass (2 bands x 63 rows:
    per-edge catch ~ J^63 ~ 0, SN off) so EVERY fuzzy edge is missed,
    then asserts the rescue pass alone recovers the clusters."""
    pages = pages_df(spark, n_entities=120, seed=11)
    truth = labeled_pairs_df(pages)
    # auto_banding=False: this test NEEDS the deliberately-bad fixed plan;
    # the round-5 auto default would (correctly) re-provision it away.
    crippled = dict(
        num_perm=126, num_bands=2, sn_window=0, over_cap_window=0,
        auto_banding=False,
    )

    cfg_off = PipelineConfig(
        warehouse=str(tmp_path / "wh_off"), rescue_singletons=False,
        **crippled,
    )
    off = run_pipeline(spark, pages, cfg_off, labeled_pairs=truth)

    cfg_on = PipelineConfig(
        warehouse=str(tmp_path / "wh_on"), rescue_singletons=True,
        **crippled,
    )
    on = run_pipeline(spark, pages, cfg_on, labeled_pairs=truth)

    # Crippled main pass: fuzzy recall comes only from the exact-dedup
    # prepass (byte-identical variants), so a large share of truth pairs
    # is missed.
    assert off["eval"]["recall"] < 0.9, off["eval"]
    # Rescue recovers (precision still gated by the alignment threshold).
    assert on["eval"]["recall"] > off["eval"]["recall"] + 0.05, (
        off["eval"], on["eval"],
    )
    assert on["eval"]["precision"] == 1.0, on["eval"]
    assert on["eval"]["f1"] >= 0.99, on["eval"]

    # Stage bookkeeping: rescue stats are counted lineage, never silent.
    rstats = on["stages"]["s4b_rescue_edges"]["rescue_bucket_stats"]
    assert rstats["n_probe_collisions"] > 0, rstats
    assert rstats["n_screened_out"] >= 0, rstats
    assert on["stages"]["s4b_rescue_edges"]["rows"] > 0
    # The main pass found no fuzzy edge, so every rep probes.
    assert _probes_expected(spark, tmp_path / "wh_on") == (
        rstats["n_probes"], 0
    )

    # Resume: a second run against the same warehouse reuses the rescue
    # checkpoint (manifest fingerprint must match the new config hash).
    again = run_pipeline(spark, pages, cfg_on, labeled_pairs=truth)
    assert again["eval"] == on["eval"]


def test_shared_signature_table_parity(spark, tmp_path):
    """The checkpointed s1_signatures table feeds both banding schemes:
    lsh_candidates and rescue_candidates reading a parquet scan of the
    signature table must produce exactly the pairs they produce from its
    lineage, and a fresh pipeline run writes s1_signatures once and bands
    it exactly as lsh_band_rows (streaming, incremental, the oracle
    queries) bands the same docs at the chosen width."""
    from globalign_spark.ops import dedup
    from globalign_spark.pipeline import blocking
    from globalign_spark.pipeline.orchestrator import Checkpointer

    pages = pages_df(spark, n_entities=80, seed=7)
    docs = pages.select(
        "url", extract_text(F.col("html")).alias("norm_text")
    )
    sig = dedup.minhash_signatures(docs, "url", "norm_text", 5, 42)
    # Round-trip through parquet: production reads a scan, not lineage.
    p = str(tmp_path / "sigs")
    sig.write.parquet(p)
    scan = spark.read.parquet(p)

    from_lineage, _ = blocking.lsh_candidates(
        docs, sig, num_perm=42, num_bands=14, est_jaccard_floor=0.25
    )
    from_scan, _ = blocking.lsh_candidates(
        docs, scan, num_perm=42, num_bands=14, est_jaccard_floor=0.25
    )
    assert sorted(map(tuple, from_lineage.collect())) == sorted(
        map(tuple, from_scan.collect())
    )

    probe = docs.select("url").limit(15)
    r_lineage, _ = blocking.rescue_candidates(sig, probe, num_perm=42)
    r_scan, _ = blocking.rescue_candidates(scan, probe, num_perm=42)
    assert sorted(map(tuple, r_lineage.collect())) == sorted(
        map(tuple, r_scan.collect())
    )

    cfg = PipelineConfig(warehouse=str(tmp_path / "wh"))
    out = run_pipeline(spark, pages, cfg,
                       labeled_pairs=labeled_pairs_df(pages))
    assert out["eval"]["f1"] >= 0.99, out["eval"]
    assert "s1_signatures" in out["stages"]
    assert out["stages"]["s1_signatures"]["rows"] > 0

    ck = Checkpointer(spark, cfg.warehouse)
    plan = out["stages"]["s1_candidates"]["banding_plan"]
    reps = ck.read("s0_normalized").join(
        ck.read("s0b_rep_map").where(F.col("url") == F.col("rep_url")),
        "url", "left_semi",
    )
    pipeline_bands = blocking.band_rows(
        ck.read("s1_signatures"), plan["num_bands"], plan["num_perm"]
    )
    standalone = dedup.lsh_band_rows(
        reps, "url", "norm_text", cfg.shingle_k, cfg.num_perm,
        plan["num_bands"], band_perm=plan["num_perm"],
    )
    got = sorted(map(tuple, standalone.collect()))
    assert got and got == sorted(map(tuple, pipeline_bands.collect()))


def test_rescue_top_k_keeps_best_partners(spark):
    """top_k ranks a probe's partners by signature-estimated Jaccard and
    keeps only the best k — the knob that bounds the rescue pass's
    alignment volume (each singleton needs its best partner, not every
    bucket cohabitant). top_k=1 must keep, for every probe that has any
    partner, exactly its top-estimated pair, and that pair set must be a
    subset of the uncapped run's."""
    from globalign_spark.ops import dedup
    from globalign_spark.pipeline import blocking

    pages = pages_df(spark, n_entities=60, seed=11)
    docs = pages.select(
        "url", extract_text(F.col("html")).alias("norm_text")
    )
    probe = docs.select("url").limit(12)
    sig = dedup.minhash_signatures(docs, "url", "norm_text", 5, 42)
    uncapped, _ = blocking.rescue_candidates(sig, probe, num_perm=42, top_k=0)
    top1, _ = blocking.rescue_candidates(sig, probe, num_perm=42, top_k=1)
    un = set(map(tuple, uncapped.collect()))
    t1 = set(map(tuple, top1.collect()))
    assert t1 <= un
    # Each probe introduces at most one pair at top_k=1 (a probe may
    # additionally APPEAR in other probes' best pairs, so per-id counts
    # are unbounded — the bound is on the total).
    assert t1 and len(t1) <= probe.count()
