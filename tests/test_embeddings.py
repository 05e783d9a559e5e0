"""ops/embeddings: feature-hashed text -> vector (round-4 addition).

Known-value tests compute the expected vector independently in pure Python
(hashlib md5) — the Spark expression chain must reproduce it exactly.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from globalign_spark.ops import embeddings as E
from globalign_spark.ops import similarity


def py_embed(text: str, dim: int, n: int = 1) -> list[int]:
    toks = [t for t in text.split() if t]
    if n > 1:
        toks = (
            [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            if len(toks) >= n
            else []
        )
    vec = [0] * dim
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:12], 16)
        vec[(h >> 1) % dim] += (h % 2) * 2 - 1
    return vec


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox", "a"),
            (2, "the quick brown fox", "a"),  # exact dup -> cosine 1
            (3, "jumps over the lazy dog", "a"),
            (4, "", "b"),  # empty -> zero vector
            (5, "   spaced   out   tokens ", "b"),  # empty-token guard
            (6, "solo", "c"),
        ],
        "doc_id long, text string, source string",
    )


def test_embed_matches_pure_python(spark, docs):
    out = {
        r.doc_id: (list(r.embedding), r.n_tokens)
        for r in E.embed_corpus(docs, dim=16).collect()
    }
    rows = {r.doc_id: r.text for r in docs.collect()}
    for did, text in rows.items():
        vec, n_tok = out[did]
        assert vec == py_embed(text, 16), f"doc {did}"
        assert n_tok == len(text.split())
    assert out[4][0] == [0] * 16  # empty text -> zero vector
    assert out[1][0] == out[2][0]  # deterministic


def test_embed_ngram_bigrams(spark, docs):
    out = {
        r.doc_id: list(r.embedding)
        for r in E.embed_corpus(docs, dim=16, n=2).collect()
    }
    rows = {r.doc_id: r.text for r in docs.collect()}
    for did, text in rows.items():
        assert out[did] == py_embed(text, 16, n=2), f"doc {did}"
    # a 1-token doc has no bigrams -> zero vector (descending-sequence guard)
    assert out[6] == [0] * 16


def test_embed_sparse_is_dense_projection(spark, docs):
    dense = {
        r.doc_id: list(r.embedding)
        for r in E.embed_corpus(docs, dim=16).collect()
    }
    sparse = E.embed_sparse(docs, dim=16).collect()
    seen = {}
    for r in sparse:
        assert r.val != 0
        seen.setdefault(r.doc_id, {})[r.dim] = r.val
    for did, vec in dense.items():
        expect = {d: v for d, v in enumerate(vec) if v != 0}
        assert seen.get(did, {}) == expect


def test_embed_keep_cols_and_near_dup_composition(spark, docs):
    emb = E.embed_corpus(docs, dim=16, keep_cols=("source",))
    assert set(emb.columns) == {"doc_id", "embedding", "n_tokens", "source"}
    pairs = similarity.embedding_near_dup_pairs(
        emb, block_col="source", id_col="doc_id", vec_col="embedding",
        threshold=0.999,
    ).collect()
    # the exact-dup pair (1,2) is the only cosine-1 pair, and it is found
    # within its source block
    assert [(r.id_1, r.id_2) for r in pairs] == [(1, 2)]
    assert pairs[0].cos_sim == 1.0


def test_embed_plan_is_shuffle_free(spark, docs):
    plan = E.embed_corpus(docs, dim=16)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # zero-shuffle map-only op
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_semantic_dedup_drops_epsilon_ball_non_minimum(spark):
    from globalign_spark.ops import semdedup
    from globalign_spark.ops.semdedup_frozen import SEMDEDUP_CENTROIDS

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup
        (4, "completely different content about spark engines and rows"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in semdedup.semantic_dedup(
            df, SEMDEDUP_CENTROIDS, threshold=0.95
        ).collect()
    }
    # identical texts share a cluster; only the minimum id survives
    assert out[1].cid == out[2].cid == out[3].cid
    assert out[1].kept and out[1].max_sim_lower == -1.0
    assert not out[2].kept and out[2].max_sim_lower == 1.0
    assert not out[3].kept and out[3].max_sim_lower == 1.0
    assert out[4].kept  # nothing similar below its id


def test_semantic_dedup_shuffle_keyed_by_cluster(spark):
    from globalign_spark.ops import semdedup
    from globalign_spark.ops.semdedup_frozen import SEMDEDUP_CENTROIDS

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = semdedup.semantic_dedup(d, SEMDEDUP_CENTROIDS)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    n = out.count()
    assert n == d.count()  # one decision row per document


def test_arrow_impl_bit_identical_to_expr(spark, docs):
    """The production Arrow scatter-add path must produce the SAME integer
    vectors as the codegen-expression oracle twin — element for element,
    including n_tokens and carried keep_cols — at several dims and for
    word bigrams (VERDICT r4 item 4)."""
    for dim, n in [(16, 1), (64, 1), (64, 2), (256, 1)]:
        a = {
            r.doc_id: (list(r.embedding), r.n_tokens, r.source)
            for r in E.embed_corpus(
                docs, dim=dim, n=n, keep_cols=("source",), impl="expr"
            ).collect()
        }
        b = {
            r.doc_id: (list(r.embedding), r.n_tokens, r.source)
            for r in E.embed_corpus(
                docs, dim=dim, n=n, keep_cols=("source",), impl="arrow"
            ).collect()
        }
        assert a == b, f"dim={dim} n={n}"


def test_arrow_impl_java_whitespace_tokenization(spark):
    """\xa0 (Unicode NBSP) is whitespace to Python's \\s but NOT to
    Java's — the arrow tokenizer must match the JVM expression."""
    d = spark.createDataFrame(
        [(1, "a\xa0b c"), (2, "tab\tsep\nlines\r")],
        "doc_id long, text string",
    )
    a = {
        r.doc_id: (list(r.embedding), r.n_tokens)
        for r in E.embed_corpus(d, dim=16, impl="expr").collect()
    }
    b = {
        r.doc_id: (list(r.embedding), r.n_tokens)
        for r in E.embed_corpus(d, dim=16, impl="arrow").collect()
    }
    assert a == b
    assert a[1][1] == 2  # "a\xa0b" is ONE token under Java \s


def test_semdedup_train_assign_gate(spark):
    """Train/assign split gate (VERDICT r4 item 6): centroids trained by
    semdedup.train_centroids (bounded sample -> spherical k-means ->
    broadcast literals) must reproduce the brute-force epsilon-ball drop
    decisions on the fixture corpus with PERFECT precision (cluster
    confinement can only miss cross-cluster pairs, never invent one) and
    high recall (the paper's premise: near-dups land in the same coarse
    cluster)."""
    import numpy as np

    from globalign_spark.ops import semdedup

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    thr = 0.9

    # provisioning rule: k scales linearly, clamped
    n = d.count()
    k = semdedup.provision_cluster_count(n, target_cluster_size=50)
    assert 8 <= k <= 200_000 and k == max(8, round(n / 50))
    assert semdedup.provision_cluster_count(55_000_000) == 110_000  # paper
    assert semdedup.provision_cluster_count(10) == 8  # floor
    assert semdedup.provision_cluster_count(10**12) == 200_000  # ceiling

    cents = semdedup.train_centroids(
        d, dim=64, n_clusters=k, target_cluster_size=50
    )
    assert len(cents) == k and len(cents[0]) == 64

    out = semdedup.semantic_dedup(d, cents, threshold=thr).collect()
    dropped = {r.doc_id for r in out if not r.kept}

    # Brute-force truth on the collected embeddings (500 x 64 — trivial):
    # a doc should drop iff some LOWER-id doc is within its epsilon-ball.
    emb = (
        E.embed_corpus(d, dim=64)
        .select("doc_id", "embedding")
        .toPandas()
        .sort_values("doc_id")
    )
    ids = emb["doc_id"].to_numpy()
    X = np.array([list(v) for v in emb["embedding"]], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1)
    sims = (X @ X.T) / np.maximum(np.outer(norms, norms), 1e-300)
    should_drop = set()
    for i in range(len(ids)):
        for j in range(i):
            if np.floor(sims[i, j] * 1e6 + 0.5) / 1e6 >= thr:
                should_drop.add(int(ids[i]))
                break
    assert should_drop, "fixture must contain epsilon-ball near-dups"

    # precision 1.0 by construction; recall is the trained-quantizer gate
    assert dropped <= should_drop
    recall = len(dropped & should_drop) / len(should_drop)
    assert recall >= 0.9, (recall, len(should_drop), len(dropped))

    # the knob's measured tradeoff: doubling k (halving cluster size)
    # halves the quadratic per-cluster cost but sheds some cross-cluster
    # recall — it must stay bounded, and precision stays perfect
    cents2 = semdedup.train_centroids(d, dim=64, n_clusters=2 * k)
    out2 = semdedup.semantic_dedup(d, cents2, threshold=thr).collect()
    dropped2 = {r.doc_id for r in out2 if not r.kept}
    assert dropped2 <= should_drop
    assert len(dropped2 & should_drop) / len(should_drop) >= 0.75

    # the production arrow embed path yields the identical decision set
    out3 = semdedup.semantic_dedup(
        d, cents, threshold=thr, embed_impl="arrow"
    ).collect()
    assert {r.doc_id for r in out3 if not r.kept} == dropped


def test_embedding_near_dup_block_cap(spark):
    """VERDICT r4 item 8: a hot block must not go quadratic silently —
    over-cap blocks are excluded from the self-join and the loss is
    countable via embedding_block_stats."""
    rows = [(i, "hot", [1.0, 0.0]) for i in range(5)] + [
        (10, "cold", [0.0, 1.0]),
        (11, "cold", [0.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    capped = similarity.embedding_near_dup_pairs(
        df, block_col="label", threshold=0.9, block_cap=4
    ).collect()
    assert {(r.id_1, r.id_2) for r in capped} == {(10, 11)}
    uncapped = similarity.embedding_near_dup_pairs(
        df, block_col="label", threshold=0.9, block_cap=None
    )
    assert uncapped.count() == 10 + 1  # C(5,2) hot + 1 cold
    stats = similarity.embedding_block_stats(
        df, block_col="label", block_cap=4
    ).first()
    assert stats.n_blocks == 2
    assert stats.n_blocks_dropped == 1
    assert stats.n_vecs_in_dropped == 5


def test_n_tokens_null_text_independent_of_size_of_null(spark):
    """NULL text gives NULL n_tokens on both impls even under the legacy
    sizeOfNull setting (where F.size of a NULL array is -1; the legacy
    flag only takes effect with ANSI mode off)."""
    d = spark.createDataFrame(
        [(1, "two tokens"), (2, None)], "doc_id long, text string"
    )
    saved = {
        k: spark.conf.get(k)
        for k in ("spark.sql.legacy.sizeOfNull", "spark.sql.ansi.enabled")
    }
    spark.conf.set("spark.sql.legacy.sizeOfNull", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        for impl in ("expr", "arrow"):
            got = {
                r.doc_id: r.n_tokens
                for r in E.embed_corpus(d, dim=16, impl=impl).collect()
            }
            assert got == {1: 2, 2: None}, impl
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
