"""Unit tests for the training-data ops (dedup / similarity / text /
multimodal) on small in-memory frames."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from globalign_spark.ops import dedup, multimodal, similarity
from globalign_spark.ops import text as text_ops


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat", "src0"),
        (1, "the cat sat on the mat", "src0"),          # exact dup of 0
        (2, "the cat sat on the big mat", "src0"),      # near dup of 0
        (3, "completely different words here entirely", "src0"),
        (4, "der hund ist nicht da und das ist gut", "src1"),
        (5, "le chat est sur le tapis et il dort", "src1"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_dedup_exact(docs):
    out = {r.text_md5: r for r in dedup.dedup_exact(docs).collect()}
    assert len(out) == 5  # 6 docs, one exact-dup pair
    dup = [r for r in out.values() if r.n_dupes == 2]
    assert len(dup) == 1 and dup[0].survivor_id == 0


def test_minhash_lsh_finds_exact_and_near(docs):
    pairs = {
        (r.id_1, r.id_2)
        for r in dedup.dedup_minhash_lsh(docs, num_perm=16, num_bands=8).collect()
    }
    assert (0, 1) in pairs          # identical text always collides
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup likely in >=1 band
    assert (0, 3) not in pairs      # unrelated text must not collide


def _reference_signature(text, k, num_perm):
    """hashlib spelling of the minhash_signatures formula: distinct
    k-grams (one empty gram for text shorter than k), first 12 hex digits
    of md5 mod p, then min over grams of (a_j*h + b_j) mod p."""
    import hashlib

    if text is None:
        return None
    p = dedup.MINHASH_P
    grams = {text[i:i + k] for i in range(max(len(text) - k + 1, 1))}
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:12], 16) % p for g in grams]
    return [min((a * h + b) % p for h in hs) for a, b in dedup.minhash_coefs(num_perm)]


def test_minhash_signatures_match_hashlib_reference(spark):
    """The one signature function is pinned to the formula the DuckDB
    twins spell in SQL; NULL text gives a NULL signature and no band
    rows, "" hashes its single empty gram."""
    rows = [
        (1, "the cat sat on the mat"),
        (2, "naïve café — ünïcödé text"),
        (3, "abc"),
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["_id"]: r["signature"]
        for r in dedup.minhash_signatures(df, num_perm=16).collect()
    }
    assert got == {i: _reference_signature(t, 5, 16) for i, t in rows}
    assert got[5] is None
    bands = dedup.lsh_band_rows(df, num_perm=16, num_bands=4)
    assert sorted(bands.groupBy("_id").count().collect()) == [
        (i, 4) for i in (1, 2, 3, 4)
    ]


def test_simhash_properties(docs):
    sh = {r.doc_id: r.simhash for r in dedup.add_simhash(docs).collect()}
    assert sh[0] == sh[1]  # identical text -> identical simhash
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[3]).count("1")
    assert ham_near < ham_far
    assert all(0 <= v < (1 << 32) for v in sh.values())


def test_simhash_empty_text_is_null_and_excluded(spark):
    rows = [
        (1, "some real content here", "a"),
        (2, "", "a"),          # token-less: must not hash to block 0
        (3, "   ", "a"),       # whitespace-only likewise
        (4, "some real content here", "a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    sh = {r.doc_id: r.simhash for r in dedup.add_simhash(df).collect()}
    assert sh[2] is None and sh[3] is None
    assert sh[1] == sh[4] is not None
    pairs = {
        (r.id_1, r.id_2)
        for r in dedup.simhash_near_pairs(
            dedup.add_simhash(df), max_hamming=6
        ).collect()
    }
    assert pairs == {(1, 4)}  # empty docs pair with nothing


def test_ngram_jaccard(docs):
    out = {
        (r.id_1, r.id_2): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, block_col="source", k=3, threshold=0.5
        ).collect()
    }
    assert out[(0, 1)] == 1.0
    assert (0, 2) in out and out[(0, 2)] > 0.7
    assert (0, 3) not in out


def test_winnowing_fingerprints_edit_robust(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    edited = base.replace("lazy", "hazy")
    df = spark.createDataFrame(
        [(0, base), (1, edited), (2, "zzz unrelated content qqq xyz")],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_1, r.id_2): r.n_common
        for r in text_ops.fingerprint_overlap_pairs(
            df, k=8, window=4, min_common=2
        ).collect()
    }
    assert (0, 1) in pairs          # local edit keeps most fingerprints
    assert (0, 2) not in pairs


def test_lang_id(docs):
    out = {r.doc_id: r.pred_lang for r in text_ops.add_lang_id(docs).collect()}
    assert out[0] == "en"
    assert out[4] == "de"
    assert out[5] == "fr"


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(0, "hello world,  42 foo-bar")], "doc_id long, text string"
    )
    r = text_ops.add_token_counts(df).collect()[0]
    assert r.ws_tokens == 4
    # hello|world|,|42|foo|-|bar
    assert r.bpe_tokens == 7


def test_quality_score_ranges(docs):
    rows = text_ops.add_quality_score(docs).collect()
    for r in rows:
        assert 0.0 <= r.quality_score <= 1.0
    byid = {r.doc_id: r.quality_score for r in rows}
    assert byid[0] > byid[3]  # stopword-rich English beats stopword-free


def _emb_frame(spark, n=40, dim=16, seed=3):
    rng = np.random.Generator(np.random.Philox(seed))
    base = rng.standard_normal((4, dim))
    rows = []
    for i in range(n):
        v = base[i % 4] + 0.05 * rng.standard_normal(dim)
        rows.append((i, [float(x) for x in v], i % 4))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def test_brute_force_topk_exact(spark):
    emb = _emb_frame(spark)
    out = similarity.brute_force_topk(
        emb, emb.where(F.col("vec_id") < 3), k=4
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cos_sim))
    pdf = emb.toPandas().set_index("vec_id")
    for q in range(3):
        qv = np.array(pdf.loc[q, "embedding"])
        sims = {}
        for i in pdf.index:
            if i == q:
                continue
            cv = np.array(pdf.loc[i, "embedding"])
            sims[i] = round(
                float(qv @ cv / (np.linalg.norm(qv) * np.linalg.norm(cv))), 6
            )
        exp = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:4]
        got_q = sorted(got[q])
        for rank, (nid, sim) in enumerate(exp, 1):
            assert got_q[rank - 1][1] == nid
            assert abs(got_q[rank - 1][2] - sim) < 1e-6


def test_lsh_topk_recall(spark):
    """Cluster structure -> same-cluster vectors share buckets; LSH top-1
    must equal brute-force top-1 for most queries."""
    emb = _emb_frame(spark, n=60)
    q = emb.where(F.col("vec_id") < 10)
    bf = {
        r.query_id: r.neighbor_id
        for r in similarity.brute_force_topk(emb, q, k=1).collect()
    }
    lsh = {
        r.query_id: r.neighbor_id
        for r in similarity.lsh_bucket_topk(
            emb, q, k=1, n_planes=6, dim=16
        ).collect()
    }
    hits = sum(1 for k in bf if lsh.get(k) == bf[k])
    assert hits >= 8  # multiprobe recall >= 80% on clustered data


def test_multimodal_features(spark):
    rows = [
        (0, "image", b"\x00" * 64),
        (1, "image", bytes(range(256))),
        (2, "audio", b""),
    ]
    df = spark.createDataFrame(rows, "media_id long, kind string, blob binary")
    out = {r.media_id: r for r in multimodal.extract_media_features(df).collect()}
    assert out[0].n_bytes == 64 and out[0].byte_entropy == 0.0
    assert abs(out[1].byte_entropy - 4.0) < 1e-9  # uniform over 16 bins
    assert len(out[1].features) == 16
    assert abs(sum(out[1].features) - 1.0) < 1e-9
    assert out[2].n_bytes == 0


def test_multimodal_real_backend_raises():
    with pytest.raises(NotImplementedError):
        multimodal.DecodeBackend().decode("image", b"abc")


def test_multimodal_bad_rows_are_counted_not_fatal(spark):
    """One undecodable row (video seam, NULL kind, corrupt blob) must yield
    a decode_error row, not abort the whole mapInPandas job."""
    rows = [
        (0, "video", b"\x00\x01"),        # modality seam
        (1, None, b"\x00\x01"),           # NULL kind
        (2, "image", b"not a png at all"),  # corrupt blob
    ]
    df = spark.createDataFrame(rows, "media_id long, kind string, blob binary")
    out = {
        r.media_id: r
        for r in multimodal.extract_media_features(
            df, backend=multimodal.KindDispatchBackend()
        ).collect()
    }
    assert len(out) == 3
    for r in out.values():
        assert r.features is None and r.decode_error, r
    assert "NotImplementedError" in out[0].decode_error


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(0,), (1,)], "media_id long")
    out = multimodal.frame_sample_plan(df, every_n=4).collect()
    assert len(out) == 8
    assert {(r.media_id, r.frame_idx) for r in out} == {
        (m, f) for m in (0, 1) for f in range(4)
    }


def test_skew_cap_defaults_stay_finite():
    """ORACLE_UNCAPPED (__spark_entry__.py) disables the hot-bucket guard
    ONLY for DuckDB-oracle parity. The production defaults must stay finite
    or a single degenerate LSH/simhash bucket goes quadratic at scale."""
    import inspect

    from globalign_spark.ops import dedup as _dedup
    from globalign_spark.pipeline import blocking as _blocking
    from globalign_spark.pipeline.orchestrator import PipelineConfig

    assert PipelineConfig(warehouse="/tmp/unused").bucket_cap < 1_000_000
    assert (
        inspect.signature(_dedup.dedup_minhash_lsh)
        .parameters["bucket_cap"].default < 1_000_000
    )
    assert (
        inspect.signature(_blocking.lsh_candidates)
        .parameters["bucket_cap"].default < 1_000_000
    )
    assert (
        inspect.signature(_dedup.simhash_near_pairs)
        .parameters["bucket_cap"].default < 1_000_000
    )


def test_ivf_trained_beats_stride_on_clustered_data(spark):
    """On clustered embeddings a trained coarse quantizer must recover
    (near-)full recall@k vs exact brute force, and beat the stride
    quantizer (which has no reason to place centroids at cluster modes).
    Synthetic isotropic noise can't show this (recall ~ fraction probed for
    any index), so the fixture is 6 well-separated Gaussian clusters."""
    rng = np.random.default_rng(42)
    dim, n_clusters, per = 16, 6, 50
    modes = rng.standard_normal((n_clusters, dim)) * 5.0
    vecs = []
    for i in range(n_clusters * per):
        c = i % n_clusters
        vecs.append((i, [float(x) for x in modes[c] + rng.standard_normal(dim) * 0.3]))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = emb.where(F.col("vec_id") < 12)

    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }

    def recall(df):
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return len(got & exact) / len(exact)

    cents = similarity.kmeans_centroids(emb, n_centroids=n_clusters, iters=5)
    r_trained = recall(
        similarity.ivf_topk(emb, q, k=5, nprobe=1, centroids=cents)
    )
    r_stride = recall(
        similarity.ivf_topk(emb, q, k=5, nprobe=1, centroid_stride=50)
    )
    assert r_trained >= 0.95
    assert r_trained > r_stride


@pytest.mark.skipif(
    not multimodal.PIL_AVAILABLE, reason="Pillow not installed (optional)"
)
def test_multimodal_pillow_real_decode(spark):
    """Real image decode through the identical mapInPandas plumbing."""
    import io

    import PIL.Image as Image

    buf = io.BytesIO()
    Image.new("L", (4, 4), color=128).save(buf, format="PNG")
    df = spark.createDataFrame(
        [(0, "image", buf.getvalue())], "media_id long, kind string, blob binary"
    )
    out = multimodal.extract_media_features(
        df, backend=multimodal.PillowDecodeBackend()
    ).collect()[0]
    assert len(out.features) == 64
    assert abs(sum(out.features) - 1.0) < 1e-9


def test_multimodal_pillow_unavailable_is_clean():
    if multimodal.PIL_AVAILABLE:
        pytest.skip("Pillow installed; unavailability path not reachable")
    with pytest.raises(NotImplementedError):
        multimodal.PillowDecodeBackend()


def test_curate_corpus_policy(spark):
    """Intent test for ops.curation (the oracle row only proves the Spark
    and SQL twins agree): each gate drops exactly its target docs and the
    survivor choice is the deterministic min-id."""
    from globalign_spark.ops import curation

    good = (
        "the quick brown fox and the lazy dog are in the yard with some "
        "other animals that would like to be friends with them today"
    )
    near = good + " indeed"
    rows = [
        (1, good),                # unique good doc -> kept
        (2, "we think that this is a fine piece of text and it should "
            "be kept because it has many common words in it"),
        (3, "we think that this is a fine piece of text and it should "
            "be kept because it has many common words in it"),  # exact dup
        (4, near),                # near dup of 1, larger id -> dropped
        (5, "!!! ??? ### $$$ %%%"),                    # junk -> quality gate
        (6, "zzzq qqzk xkcdq vvbn mmnb ppoi uuyt rrte wwqa llkj hhgf "
            "ddsa"),                                   # no markers -> 'und'
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = curation.curate_corpus(df).collect()
    kept = {r.doc_id for r in out}
    assert kept == {1, 2}
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].pred_lang == "en"
    assert all(r.n_tokens >= 10 and r.quality_score >= 0.3 for r in out)


def test_duplicate_bomb_stays_bounded(spark):
    """Behavioral skew-bomb test: a 600-copy boilerplate family must not
    go quadratic through any pair-generating op. With bucket_cap=50 the
    bomb's buckets (size 600) are excluded, so candidate counts stay
    bounded while pairs among ordinary docs are unaffected."""
    base = (
        "breaking news from the town hall meeting where council members "
        "discussed the new public library funding proposal at length"
    )
    bomb = [(i, "subscribe to our newsletter for daily updates and offers")
            for i in range(600)]
    normal = [
        (1000 + i, base[: 70 + (i % 5) * 10] + f" tail{i % 2}")
        for i in range(60)
    ]
    docs = spark.createDataFrame(bomb + normal, "doc_id long, text string")

    capped = dedup.dedup_minhash_lsh(docs, bucket_cap=50)
    normal_only = spark.createDataFrame(normal, "doc_id long, text string")
    exp_normal = {
        (r.id_1, r.id_2)
        for r in dedup.dedup_minhash_lsh(
            normal_only, bucket_cap=50
        ).collect()
    }
    got = {(r.id_1, r.id_2) for r in capped.collect()}
    # C(600,2) = 179,700 bomb pairs never materialize...
    assert got == exp_normal
    # ...while the exact-dedup prepass keeps ONE representative, whose
    # pairs (none here - the bomb text is unlike the normal docs) flow on.
    reps = dedup.dedup_exact(docs)
    assert reps.where(F.col("n_dupes") == 600).count() == 1

    sim_capped = dedup.simhash_near_pairs(
        dedup.add_simhash(docs), bucket_cap=50
    )
    assert sim_capped.where(
        (F.col("id_1") < 600) & (F.col("id_2") < 600)
    ).count() == 0


def test_incremental_equals_batch_under_cap_pressure(spark):
    """The incremental candidate generator measures bucket_cap on FULL
    bucket size, so its drops match a batch run even when a hot bucket
    straddles the old/new split - the equivalence the oracle row proves
    uncapped must also hold capped."""
    from globalign_spark.pipeline.incremental import (
        incremental_candidates_from_bands,
    )

    bomb = [(i, "subscribe to our newsletter for daily updates and offers")
            for i in range(80)]
    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while the sun sets slowly behind the quiet hills tonight"
    )
    normal = [
        (1000 + i, base[: 60 + (i % 6) * 10] + f" tail{i % 3}")
        for i in range(40)
    ]
    docs = spark.createDataFrame(bomb + normal, "doc_id long, text string")
    is_new = F.col("doc_id") % 4 == 0

    cap = 30  # bomb bucket (80) over cap; normal buckets under
    batch = {
        (r.id_1, r.id_2)
        for r in dedup.dedup_minhash_lsh(docs, bucket_cap=cap).collect()
    }
    incr = {
        (r.id_1, r.id_2)
        for r in incremental_candidates_from_bands(
            dedup.lsh_band_rows(docs.where(~is_new)),
            dedup.lsh_band_rows(docs.where(is_new)),
            bucket_cap=cap,
        ).collect()
    }
    assert incr == {p for p in batch if p[0] % 4 == 0 or p[1] % 4 == 0}


def test_skew_salted_join_equals_plain_join(spark):
    """Adaptive salting is a pure physical rewrite: result multiset equals
    the plain equi-join on a Zipfian-skewed key (one key holds half the
    rows and gets factor > 1; cold keys pass through with salt 0)."""
    from globalign_spark.pipeline.blocking import skew_salted_join

    rng = np.random.default_rng(7)
    keys = ["hot"] * 500 + [f"k{i}" for i in rng.integers(0, 50, 500)]
    big = spark.createDataFrame(
        [(k, int(i)) for i, k in enumerate(keys)], "key string, v long"
    )
    small = spark.createDataFrame(
        [("hot", 1), ("k3", 2), ("k7", 3), ("missing", 4)],
        "key string, w long",
    )
    got = skew_salted_join(big, small, "key", target_rows_per_task=100)
    want = big.join(small, "key")
    assert got.count() == want.count()
    assert (
        sorted(map(tuple, got.select("key", "v", "w").collect()))
        == sorted(map(tuple, want.select("key", "v", "w").collect()))
    )
    # the hot key really was split: >1 distinct salt observed
    from pyspark.sql import functions as F2
    hot_salts = (
        big.where(F2.col("key") == "hot")
        .withColumn("_s", F2.pmod(F2.xxhash64(*big.columns), F2.lit(5)))
        .select("_s").distinct().count()
    )
    assert hot_salts > 1


def _png_encode(px: "np.ndarray", color: int) -> bytes:
    """Spec-compliant PNG encoder (test-only): 8-bit, filters cycle 0-4 per
    scanline so the decoder's whole unfilter matrix is exercised."""
    import struct
    import zlib

    h, w = px.shape[:2]
    ch = 1 if px.ndim == 2 else px.shape[2]
    flat = px.reshape(h, w * ch).astype(np.int64)
    bpp = ch
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int64)
    for y in range(h):
        line = flat[y]
        f = y % 5
        raw.append(f)
        for i in range(w * ch):
            a = line[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if f == 0:
                v = line[i]
            elif f == 1:
                v = line[i] - a
            elif f == 2:
                v = line[i] - b
            elif f == 3:
                v = line[i] - ((a + b) >> 1)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = line[i] - pred
            raw.append(v & 0xFF)
        prev = line

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_backend_decodes_real_bytes():
    """Golden-feature check: a real (spec-valid, zlib-compressed,
    all-5-filters) PNG decodes to exactly the block-mean pooling of the
    known pixel array — gray and RGB."""
    rng = np.random.Generator(np.random.Philox(21))
    be = multimodal.PngDecodeBackend()

    gray = rng.integers(0, 256, (16, 16)).astype(np.uint8)
    got = be.decode("image", _png_encode(gray, color=0))
    want = multimodal._pool_gray_8x8(gray.astype(np.float64))
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-12)
    assert abs(got.sum() - 1.0) < 1e-9 and got.size == 64

    rgb = rng.integers(0, 256, (11, 13, 3)).astype(np.uint8)
    got = be.decode("image", _png_encode(rgb, color=2))
    luma = rgb.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    np.testing.assert_allclose(
        got, multimodal._pool_gray_8x8(luma), rtol=0, atol=1e-12
    )


def test_wav_backend_decodes_real_bytes():
    """Real WAV PCM16 bytes (stdlib wave writer): a 440 Hz sine must land
    its energy in the spectral band containing 440 Hz, and the constant
    envelope must give ~equal windowed RMS."""
    import io
    import wave

    sr, secs, freq = 8000, 1.0, 440.0
    t = np.arange(int(sr * secs)) / sr
    x = (np.sin(2 * np.pi * freq * t) * 32000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sr)
        wf.writeframes(x.tobytes())
    feats = multimodal.WavDecodeBackend().decode("audio", buf.getvalue())
    assert feats.size == 16 and abs(feats.sum() - 1.0) < 1e-9
    rms, bands = feats[:8], feats[8:]
    assert rms.std() / rms.mean() < 0.01  # flat envelope
    # bin of 440 Hz = 440 * nfft / sr; geometric edges from 1..nyquist
    assert bands.argmax() == 7 or bands[bands.argmax()] > 0.9 * bands.sum()


def test_kind_dispatch_end_to_end(spark):
    """One image + one audio row through the SAME mapInPandas plumbing with
    the production dispatch backend; video stays the documented seam."""
    import io
    import wave

    gray = np.arange(64, dtype=np.uint8).reshape(8, 8)
    png = _png_encode(gray, color=0)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(
            (np.ones(1600) * 1000).astype("<i2").tobytes()
        )
    df = spark.createDataFrame(
        [(0, "image", png), (1, "audio", buf.getvalue())],
        "media_id long, kind string, blob binary",
    )
    be = multimodal.KindDispatchBackend()
    out = {
        r.media_id: r
        for r in multimodal.extract_media_features(df, backend=be).collect()
    }
    assert len(out[0].features) == 64
    np.testing.assert_allclose(
        out[0].features,
        multimodal._pool_gray_8x8(gray.astype(np.float64)),
        atol=1e-12,
    )
    assert len(out[1].features) == 16
    with pytest.raises(NotImplementedError):
        be.decode("video", b"\x00\x00\x00\x18ftypmp42")


def _y4m_encode(lumas: np.ndarray, cs: str = "420jpeg") -> bytes:
    """Real YUV4MPEG2 writer for tests: (n, h, w) uint8 luma planes ->
    spec-valid Y4M stream (chroma planes neutral 128)."""
    n, h, w = lumas.shape
    if cs.startswith("420"):
        chroma = (w // 2) * (h // 2)
    elif cs.startswith("422"):
        chroma = (w // 2) * h
    elif cs.startswith("444"):
        chroma = w * h
    else:  # mono
        chroma = 0
    out = bytearray(f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C{cs}\n".encode())
    for i in range(n):
        out += b"FRAME\n"
        out += lumas[i].tobytes()
        out += b"\x80" * (2 * chroma)
    return bytes(out)


def test_y4m_backend_decodes_real_bytes():
    """Golden-feature check on a real Y4M stream: a static video's pooled
    dims equal the image pooling of its (single) luma frame and its motion
    dims are exactly zero; a moving video has nonzero motion. 422 / mono
    colorspaces and frame sampling parse the same stream correctly."""
    rng = np.random.Generator(np.random.Philox(23))
    be = multimodal.Y4mDecodeBackend()

    gray = rng.integers(0, 256, (16, 16)).astype(np.uint8)
    static = np.repeat(gray[None], 5, axis=0)
    got = be.decode("video", _y4m_encode(static))
    want_pool = multimodal._pool_gray_8x8(gray.astype(np.float64))
    assert got.size == 72 and abs(got.sum() - 1.0) < 1e-9
    np.testing.assert_allclose(
        got[:64], want_pool / want_pool.sum(), rtol=0, atol=1e-12
    )
    np.testing.assert_array_equal(got[64:], 0.0)

    moving = np.stack([np.roll(gray, s, axis=1) for s in range(6)])
    got_m = be.decode("video", _y4m_encode(moving, cs="444"))
    assert got_m[64:].sum() > 0  # motion envelope sees the scroll

    # mono + 422 parse to the same luma content as 420
    for cs in ("mono", "422"):
        got_cs = be.decode("video", _y4m_encode(static, cs=cs))
        np.testing.assert_allclose(got_cs, got, rtol=0, atol=1e-12)

    # frame sampling: 100 frames, max_frames=4 -> same answer as the
    # 4-frame stream made of exactly those sampled frames
    long = np.stack([np.roll(gray, s, axis=0) for s in range(100)])
    small = multimodal.Y4mDecodeBackend(max_frames=4)
    got_long = small.decode("video", _y4m_encode(long))
    got_4 = small.decode("video", _y4m_encode(long[[0, 33, 66, 99]]))
    np.testing.assert_allclose(got_long, got_4, rtol=0, atol=1e-12)

    with pytest.raises(ValueError):
        be.decode("video", _y4m_encode(static)[:-10])  # truncated payload
    with pytest.raises(ValueError):
        be.decode("video", b"RIFFnotvideo")  # bad magic


def test_kind_dispatch_video_end_to_end(spark):
    """A real Y4M blob through the production dispatch backend inside the
    SAME mapInPandas plumbing; a compressed-container blob on the same
    DataFrame lands as counted decode_error lineage, not an abort."""
    gray = np.arange(256, dtype=np.uint8).reshape(16, 16)
    y4m = _y4m_encode(np.repeat(gray[None], 3, axis=0))
    df = spark.createDataFrame(
        [(0, "video", y4m), (1, "video", b"\x00\x00\x00\x18ftypmp42")],
        "media_id long, kind string, blob binary",
    )
    out = {
        r.media_id: r
        for r in multimodal.extract_media_features(
            df, backend=multimodal.KindDispatchBackend()
        ).collect()
    }
    assert len(out[0].features) == 72 and out[0].decode_error is None
    want = multimodal._pool_gray_8x8(gray.astype(np.float64))
    np.testing.assert_allclose(
        out[0].features[:64], want / want.sum(), rtol=0, atol=1e-12
    )
    assert out[1].features is None
    assert "NotImplementedError" in out[1].decode_error


def test_band_rows_reject_empty_bands(docs):
    """More bands than signature positions would give empty bands that
    every document shares; banding refuses, naming both values."""
    with pytest.raises(ValueError, match="16.*num_bands=32"):
        dedup.lsh_band_rows(docs, num_perm=16, num_bands=32)
    with pytest.raises(ValueError, match="num_bands=0"):
        dedup.lsh_band_rows(docs, num_perm=16, num_bands=0)
    assert dedup.lsh_band_rows(docs, num_perm=16, num_bands=16).count() == 96


def test_pairs_from_band_rows_probe_mode(docs, spark):
    """Probe-restricted rescue shape: output must equal the unrestricted
    pair set filtered to pairs touching a probe (same banding), every
    pair must touch >= 1 probe id, and id_1 < id_2 still holds."""
    band = dedup.lsh_band_rows(docs, num_perm=16, num_bands=8)
    full = {
        (r.id_1, r.id_2)
        for r in dedup.pairs_from_band_rows(band, bucket_cap=500).collect()
    }
    probe_set = {0, 2}
    probe = spark.createDataFrame([(i,) for i in probe_set], "doc_id long")
    got = {
        (r.id_1, r.id_2)
        for r in dedup.pairs_from_band_rows(
            band, bucket_cap=500, probe_ids=probe
        ).collect()
    }
    want = {p for p in full if p[0] in probe_set or p[1] in probe_set}
    assert got == want and got  # non-empty on this corpus
    assert all(a < b for a, b in got)


def _wrap_ima_wav(adpcm_per_ch: list[bytes], rate: int = 8000) -> bytes:
    """Build a WAV IMA ADPCM (fmt 0x11) file whose blocks start from
    state (predictor=0, index=0) and carry the given per-channel
    audioop-packed nibble streams. audioop packs HIGH nibble first;
    WAV IMA wants LOW nibble first, so repack."""
    import struct

    nch = len(adpcm_per_ch)
    repacked = [
        bytes(((b >> 4) | ((b & 0x0F) << 4)) for b in ch)
        for ch in adpcm_per_ch
    ]
    n = min(len(ch) for ch in repacked)
    n -= n % 4  # whole 4-byte words only
    words = b""
    for w0 in range(0, n, 4):
        for c in range(nch):
            words += repacked[c][w0 : w0 + 4]
    header = b"".join(
        struct.pack("<hBB", 0, 0, 0) for _ in range(nch)
    )  # predictor 0, index 0 per channel
    block = header + words
    block_align = len(block)
    samples_per_block = 1 + (block_align - 4 * nch) * 2 // nch
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, nch, rate, rate * block_align // samples_per_block,
        block_align, 4, 2, samples_per_block,
    )
    riff = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(block)) + block
    )
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def test_ima_adpcm_matches_audioop_reference():
    """From-scratch WAV IMA ADPCM decode vs stdlib audioop's independent
    IMA implementation: same nibbles, same initial state -> identical
    int16 samples (tables + predictor recursion cross-validated, not just
    round-tripped against ourselves)."""
    audioop = pytest.importorskip("audioop")
    import numpy as np

    rng = np.random.default_rng(3)
    pcm = (
        (np.sin(np.arange(4000) * 0.13) * 12000 + rng.integers(-500, 500, 4000))
        .astype("<i2")
        .tobytes()
    )
    adpcm, _state = audioop.lin2adpcm(pcm, 2, None)
    blob = _wrap_ima_wav([adpcm])
    x, rate = multimodal._ima_adpcm_pcm(blob)
    got = np.round(x * 32768.0).astype(np.int64)

    ref_pcm = audioop.adpcm2lin(adpcm, 2, (0, 0))[0]
    ref = np.frombuffer(ref_pcm, "<i2").astype(np.int64)
    n = min(len(got) - 1, len(ref))
    assert rate == 8000
    assert got[0] == 0  # block-header sample
    assert np.array_equal(got[1 : 1 + n], ref[:n])
    assert n >= 3990


def test_ima_adpcm_stereo_and_dispatch():
    """Stereo IMA blocks (interleaved 4-byte channel words) decode and
    downmix; KindDispatchBackend routes the 0x11 fmt tag through the
    real decoder (features, no decode_error)."""
    audioop = pytest.importorskip("audioop")
    import numpy as np

    t = np.arange(2048)
    left = (np.sin(t * 0.05) * 9000).astype("<i2").tobytes()
    right = (np.sin(t * 0.21) * 7000).astype("<i2").tobytes()
    a_l, _ = audioop.lin2adpcm(left, 2, None)
    a_r, _ = audioop.lin2adpcm(right, 2, None)
    blob = _wrap_ima_wav([a_l, a_r])
    x, _ = multimodal._ima_adpcm_pcm(blob)
    ref_l = np.frombuffer(audioop.adpcm2lin(a_l, 2, (0, 0))[0], "<i2")
    ref_r = np.frombuffer(audioop.adpcm2lin(a_r, 2, (0, 0))[0], "<i2")
    n = min(x.size - 1, ref_l.size, ref_r.size)
    expect = (ref_l[:n].astype(np.float64) + ref_r[:n]) / 2.0 / 32768.0
    assert np.allclose(x[1 : 1 + n], expect, atol=1e-12)

    feats = multimodal.KindDispatchBackend().decode("audio", blob)
    assert feats.shape == (16,) and feats.sum() == pytest.approx(1.0)
