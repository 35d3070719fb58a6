"""Training-data pipeline operators: dedup, ANN, text, multimodal."""

import hashlib

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def doc_df(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup
        (2, "the quick brown fox jumps over the lazy dog near the river shore"),  # near dup
        (3, "completely different content about spark query engines and shuffles"),
        (4, "THE  QUICK brown fox jumps over the lazy dog near the river bank"),  # case/ws dup
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_dedup_exact(doc_df):
    from mirabelle_spark.pipeline import dedup

    out = {r.doc_id: r.dup_count for r in dedup.dedup_exact(doc_df).collect()}
    # docs 0,1,4 collapse (normalization: case + whitespace); 2 and 3 unique
    assert out == {0: 3, 2: 1, 3: 1}


def test_minhash_lsh_finds_near_dups(doc_df):
    from mirabelle_spark.pipeline import dedup

    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(doc_df, num_hashes=64, bands=16).collect()
    }
    assert (0, 1) in pairs  # identical docs always collide on every band
    assert (0, 2) in pairs or (1, 2) in pairs  # near-dup found
    assert not any(3 in p for p in pairs)  # unrelated doc never paired


def test_ngram_jaccard_exact_values(doc_df):
    from mirabelle_spark.pipeline import dedup

    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(doc_df, threshold=0.4, bands=16).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical → jaccard exactly 1
    assert 0.4 <= pairs[(0, 2)] < 1.0


def test_minhash_fast_hash_flag(doc_df):
    """The xxhash64 production path keeps the LSH guarantees: exact
    dups still collide on every band, unrelated docs still never
    pair, and the exact-Jaccard verify returns the same verified
    pairs as the portable md5 twin on this corpus."""
    from mirabelle_spark.pipeline import dedup

    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(
            doc_df, num_hashes=64, bands=16, shingle_hash="fast"
        ).collect()
    }
    assert (0, 1) in pairs
    assert not any(3 in p for p in pairs)
    fast = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(
            doc_df, threshold=0.4, bands=16, shingle_hash="fast"
        ).collect()
    }
    portable = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(doc_df, threshold=0.4, bands=16).collect()
    }
    assert fast == portable
    with pytest.raises(ValueError):
        dedup.minhash_signatures(doc_df, shingle_hash="md5sum")


def test_simhash_hamming(doc_df):
    from mirabelle_spark.pipeline import dedup

    pairs = {(r.id_a, r.id_b): r.hamming for r in
             dedup.simhash_near_dups(doc_df, max_hamming=10).collect()}
    assert pairs[(0, 1)] == 0  # identical text → identical simhash
    assert not any(3 in p for p in pairs)


def test_ann_bruteforce_self_top1(spark):
    from mirabelle_spark.pipeline import ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = ann.brute_force_topk(emb, queries, k=1)
    rows = {r.query_id: (r.vec_id, r.cosine) for r in top.collect()}
    for qid, (vid, cos) in rows.items():
        assert vid == qid  # nearest neighbor of a vector is itself
        assert abs(cos - 1.0) < 1e-12


def test_ann_lsh_recall_vs_bruteforce(spark):
    from mirabelle_spark.pipeline import ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.vec_id) for r in ann.brute_force_topk(emb, queries, k=1).collect()}
    approx = {(r.query_id, r.vec_id) for r in
              ann.lsh_bucketed_topk(emb, queries, k=1, planes=4, tables=4).collect()}
    # self-match always lands in the same bucket → top-1 recall is 1
    assert exact <= approx | exact and all((q, q) in approx for q, _ in exact)


def test_text_analysis(spark):
    from mirabelle_spark.pipeline import text

    df = spark.createDataFrame(
        [
            (0, "the cat and the dog sat in the house"),
            (1, "le chat est dans la maison pour la nuit"),
            (2, ""),
        ],
        "doc_id bigint, text string",
    )
    tc = {r.doc_id: r.n_tokens for r in text.token_count(df).collect()}
    assert tc == {0: 9, 1: 9, 2: 0}
    lang = {r.doc_id: r.lang_pred for r in text.lang_id(df).collect()}
    assert lang[0] == "en" and lang[1] == "fr" and lang[2] == "und"
    q = {r.doc_id: r.quality for r in text.quality_score(df).collect()}
    assert 0.0 <= q[2] < q[0] <= 1.0


def test_fingerprint_normalization(spark):
    from mirabelle_spark.pipeline import text

    df = spark.createDataFrame(
        [(0, "Hello   World"), (1, "hello world"), (2, "goodbye")],
        "doc_id bigint, text string",
    )
    fp = {r.doc_id: r.fingerprint for r in text.fingerprint(df).collect()}
    assert fp[0] == fp[1] != fp[2]


def test_rolling_fingerprint_local_edit(spark):
    from mirabelle_spark.pipeline import text

    base = " ".join(f"w{i}" for i in range(100))
    edited = base.replace("w50", "XX")  # local edit
    df = spark.createDataFrame(
        [(0, base), (1, base), (2, edited)], "doc_id bigint, text string"
    )
    fp = {r.doc_id: r.rolling_fp for r in text.rolling_fingerprint(df).collect()}
    assert fp[0] == fp[1]  # deterministic


def test_multimodal_plumbing(spark):
    from mirabelle_spark.pipeline import multimodal

    df = spark.createDataFrame([(0, "payload-a"), (1, "payload-b")],
                               "doc_id bigint, text string")
    media = multimodal.attach_media(df, "text", "text/plain", "doc_id")
    assert [f.dataType.simpleString() for f in media.schema.fields][1] == "binary"
    feats = multimodal.extract_features(media, decoder="fake")
    rows = {r.id: r for r in feats.collect()}
    assert rows[0].n_bytes == 9
    assert rows[0].sha256 == hashlib.sha256(b"payload-a").hexdigest()
    assert len(rows[0].feature) == multimodal.FEATURE_DIM
    # deterministic: same payload → same features
    assert rows[0].feature != rows[1].feature
    with pytest.raises(NotImplementedError):
        multimodal.extract_features(media, decoder="real")


def test_sample_frames_plumbing(spark):
    import hashlib as hl

    from mirabelle_spark.pipeline import multimodal

    df = spark.createDataFrame([(0, "vid-a"), (1, "vid-b")],
                               "doc_id bigint, text string")
    media = multimodal.attach_media(df, "text", "video/mp4", "doc_id")
    frames = multimodal.sample_frames(media, every_ms=250)
    rows = frames.collect()
    assert len(rows) == 8  # 4 frames per video
    r0 = [r for r in rows if r.id == 0 and r.frame_idx == 0][0]
    expected = hl.sha256(b"vid-a" + (0).to_bytes(4, "big")).digest()
    assert bytes(r0.frame) == expected  # deterministic fake decode
    assert r0.frame_sha256 == hl.sha256(expected).hexdigest()
    import pytest as pt
    with pt.raises(NotImplementedError):
        multimodal.sample_frames(media, every_ms=250, decoder="real")


def test_resize_images_raw_nearest_neighbor(spark):
    """Raw-buffer resize is real image math (nearest-neighbor index
    gather), verified against the exact expected pixels; only the
    compressed-codec path is import-gated."""
    import numpy as np

    from mirabelle_spark.pipeline import multimodal

    # 4x4 gradient 0..15
    img = bytes(range(16))
    df = spark.createDataFrame([(1, img)], "doc_id bigint, payload binary")
    media = multimodal.attach_media(df, "payload", "image/raw", "doc_id")
    # declare source dims in meta
    from pyspark.sql import functions as F

    media = media.withColumn(
        "meta",
        F.struct(
            F.col("meta.media_type"),
            F.lit(4).alias("width"),
            F.lit(4).alias("height"),
            F.col("meta.duration_ms"),
            F.col("meta.codec"),
        ),
    )
    out = multimodal.resize_images(media, width=2, height=2).collect()
    assert len(out) == 1
    row = out[0]
    # nearest-neighbor picks rows/cols 0 and 2 -> pixels 0,2,8,10
    assert np.frombuffer(bytes(row.media), dtype=np.uint8).tolist() == [0, 2, 8, 10]
    assert row.meta.width == 2 and row.meta.height == 2
    assert row.meta.media_type == "image/raw"


def test_netpbm_codec_end_to_end(spark):
    """A REAL codec path with real pixels, pure stdlib: P6 encode →
    Spark decode → feature stats / nearest-neighbor resize →
    re-encoded netpbm blobs with updated meta."""
    import numpy as np

    from mirabelle_spark.pipeline import multimodal

    # 4×4 RGB gradient + a 2×2 grayscale checkerboard (ASCII P2)
    rgb = np.arange(48, dtype=np.uint8).reshape(4, 4, 3) * 5
    p6 = multimodal.encode_netpbm(rgb)
    p2 = b"P2\n# checker\n2 2\n255\n0 255\n255 0\n"
    df = spark.createDataFrame([(1, bytearray(p6)), (2, bytearray(p2))],
                               "doc_id long, payload binary")
    media = multimodal.attach_media(df, "payload", "image/netpbm", "doc_id")

    feats = {r.id: r for r in
             multimodal.extract_features(media, decoder="netpbm").collect()}
    f2 = feats[2].feature
    assert abs(f2[0] - 0.5) < 1e-9          # checker mean = 127.5/255
    assert f2[2] == 0.0 and f2[3] == 1.0    # min/max luminance
    assert feats[1].n_bytes == len(p6)

    resized = {r.id: r for r in
               multimodal.resize_images(media, 2, 2, decoder="netpbm").collect()}
    arr, w, h = multimodal.decode_netpbm(bytes(resized[1].media))
    assert (w, h) == (2, 2) and arr.shape == (2, 2, 3)
    # nearest-neighbor gather picks source pixels (0,0),(0,2),(2,0),(2,2)
    assert (arr == rgb[[0, 2]][:, [0, 2]]).all()
    assert resized[1].meta.codec == "netpbm"
    arr2, _, _ = multimodal.decode_netpbm(bytes(resized[2].media))
    assert arr2.shape == (2, 2) and arr2[0, 0] == 0 and arr2[0, 1] == 255


def test_image_dhash_near_dup_crafted_corpus(spark):
    """Image perceptual-hash near-dup on a crafted corpus: a base
    image, its 2× NN-upscale RE-ENCODE (must hash identically —
    the floor gather commutes), a one-pixel perturbation (Hamming
    ≤ 1, caught by the band join), and a structurally distinct
    image (NOT caught). Clusters resolve {base, upscale, perturbed}
    to one representative."""
    import numpy as np

    from mirabelle_spark.pipeline import dedup, multimodal

    rng = np.random.default_rng(7)
    base = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    upscale = base[np.arange(32) // 2][:, np.arange(32) // 2]
    perturbed = base.copy()
    perturbed[0, 0] = 255 if base[0, 0] < 128 else 0
    distinct = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    rows = [
        (1, bytearray(multimodal.encode_netpbm(base))),
        (2, bytearray(multimodal.encode_netpbm(upscale))),
        (3, bytearray(multimodal.encode_netpbm(perturbed))),
        (4, bytearray(multimodal.encode_netpbm(distinct))),
        (5, None),  # decode failure → NULL bands, excluded from pairs
    ]
    df = spark.createDataFrame(rows, "id long, media binary")
    hashes = multimodal.image_dhash(df)
    by_id = {r.id: r for r in hashes.collect()}
    bands = lambda r: (r.band0, r.band1, r.band2, r.band3)
    assert bands(by_id[1]) == bands(by_id[2])  # re-encode/upscale invariant
    ham = lambda a, b: sum(
        bin(x ^ y).count("1") for x, y in zip(bands(a), bands(b))
    )
    assert ham(by_id[1], by_id[3]) <= 1
    assert ham(by_id[1], by_id[4]) > 3  # random 16×16s sit far apart
    assert by_id[5].band0 is None

    pairs = dedup.band_hamming_pairs(hashes, id_col="id", max_hamming=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}
    clusters = {
        r.id: r.cluster_id
        for r in dedup.resolve_clusters(
            pairs, df.select("id"), id_col="id"
        ).collect()
    }
    assert clusters == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}
    with pytest.raises(ValueError, match="re-band"):
        dedup.band_hamming_pairs(hashes, id_col="id", max_hamming=4)


def test_audio_dhash_near_dup_crafted_corpus(spark):
    """Audio envelope-dHash on a crafted corpus: a base 16-bit PCM
    WAV, its REAL volume-halved re-encode through audio_gain (must
    hash identically — exact >>1 on ×256 samples preserves every
    energy comparison), a one-segment dropout (Hamming ≤ 2), and a
    distinct waveform (NOT caught); stereo/undecodable rows yield
    NULL bands."""
    import io
    import wave

    import numpy as np

    from mirabelle_spark.pipeline import dedup, multimodal

    def wav(samples: np.ndarray, nch: int = 1) -> bytes:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(samples.astype("<i2").tobytes())
        return buf.getvalue()

    rng = np.random.default_rng(11)
    base = (rng.integers(-128, 128, size=65 * 16, dtype=np.int64) * 256).astype(
        np.int16
    )
    dropped = base.copy()
    dropped[5 * 16 : 6 * 16] = 0  # one mid segment -> flips <= 2 bits
    distinct = (rng.integers(-128, 128, size=65 * 16, dtype=np.int64) * 256).astype(
        np.int16
    )
    rows = [
        (1, bytearray(wav(base))),
        (3, bytearray(wav(dropped))),
        (4, bytearray(wav(distinct))),
        (5, bytearray(wav(base, nch=2))),  # stereo -> NULL bands
        (6, bytearray(b"not a wav")),
    ]
    df = spark.createDataFrame(rows, "id long, media binary")
    # id 2: the REAL gain round-trip of id 1 (different bytes out)
    halved = multimodal.audio_gain(
        spark.createDataFrame([(2, bytearray(wav(base)))], "id long, media binary"),
        shift=1,
    )
    raw2 = bytes(halved.collect()[0].media)
    assert raw2 != bytes(wav(base))
    hashes = multimodal.audio_dhash(df.unionByName(
        spark.createDataFrame([(2, bytearray(raw2))], "id long, media binary")
    ))
    by_id = {r.id: r for r in hashes.collect()}
    bands = lambda r: (r.band0, r.band1, r.band2, r.band3)
    assert bands(by_id[1]) == bands(by_id[2])  # gain-invariant
    ham = lambda a, b: sum(
        bin(x ^ y).count("1") for x, y in zip(bands(a), bands(b))
    )
    assert ham(by_id[1], by_id[3]) <= 2
    assert ham(by_id[1], by_id[4]) > 3
    assert by_id[5].band0 is None and by_id[6].band0 is None

    pairs = dedup.band_hamming_pairs(hashes, id_col="id", max_hamming=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_ivf_topk_recall_and_exhaustive_exactness(spark):
    """IVF coarse-quantizer ANN: probing ALL cells reproduces the
    exact brute-force top-k; probing a fraction keeps high recall on
    the real embeddings table."""
    from mirabelle_spark.pipeline import ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = {
        (r.query_id, r.rank): r.vec_id
        for r in ann.brute_force_topk(emb, queries, k=5).collect()
    }
    # nprobe == nlist ⇒ every cell probed ⇒ identical to brute force
    full = {
        (r.query_id, r.rank): r.vec_id
        for r in ann.ivf_topk(emb, queries, k=5, nlist=8, nprobe=8).collect()
    }
    assert full == exact
    # fractional probe: recall@5 ≥ 0.6 on this corpus
    approx = ann.ivf_topk(emb, queries, k=5, nlist=8, nprobe=3).collect()
    hits = sum(
        1 for r in approx if exact.get((r.query_id, r.rank)) == r.vec_id
        or r.vec_id in {v for (qid, _), v in exact.items() if qid == r.query_id}
    )
    assert hits >= 0.6 * len(exact), f"recall too low: {hits}/{len(exact)}"


def test_resolve_clusters_transitive(spark):
    """A~B, B~C, D~E ⇒ components {A,B,C} and {D,E}; isolated F maps
    to itself. Min-label propagation must cross the transitive hop."""
    from mirabelle_spark.pipeline import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 4)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.resolve_clusters(pairs, ids).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


@pytest.mark.parametrize("clean_pairs", [False, True])
def test_resolve_clusters_shuffled_chain(spark, clean_pairs):
    """One 1,000-node path whose ids are out of path order: a label
    that moves about one hop per round needs hundreds of rounds here,
    so a round-capped propagation mislabels most of the chain (a
    neighbour-min + one-jump step capped at 20 rounds leaves 929 of
    1,000 ids wrong). Every id must land on the chain's min id, 0."""
    import random

    from mirabelle_spark.pipeline import dedup

    n = 1000
    path = list(range(n))
    random.Random(19).shuffle(path)
    pairs = spark.createDataFrame(
        list(zip(path, path[1:])), "id_a bigint, id_b bigint"
    )
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    got = dict(
        map(tuple, dedup.resolve_clusters(pairs, ids, clean_pairs=clean_pairs).collect())
    )
    assert got == {i: 0 for i in range(n)}


@pytest.mark.parametrize("clean_pairs", [False, True])
def test_resolve_clusters_degenerate_pairs(spark, clean_pairs):
    """A self-loop, a duplicated pair, a reversed pair and pairs with
    a null endpoint: the self-loop and null endpoints link nothing,
    duplicates and reversals link what their first copy links."""
    from mirabelle_spark.pipeline import dedup

    pairs = spark.createDataFrame(
        [(3, 3), (5, 4), (4, 5), (4, 5), (7, 6), (2, None), (None, 8)],
        "id_a bigint, id_b bigint",
    )
    ids = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id bigint")
    got = sorted(
        map(tuple, dedup.resolve_clusters(pairs, ids, clean_pairs=clean_pairs).collect())
    )
    assert got == [(1, 1), (2, 2), (3, 3), (4, 4), (5, 4), (6, 6), (7, 6), (8, 8)]


@pytest.mark.parametrize("clean_pairs", [False, True])
def test_resolve_clusters_int_ids_keep_schema(spark, clean_pairs):
    """An ``int`` id column stays ``int`` in both output columns."""
    from pyspark.sql import types as T

    from mirabelle_spark.pipeline import dedup

    pairs = spark.createDataFrame([(2, 1), (3, 2)], "id_a int, id_b int")
    ids = spark.createDataFrame([(i,) for i in range(1, 5)], "doc_id int")
    out = dedup.resolve_clusters(pairs, ids, clean_pairs=clean_pairs)
    assert out.schema == T.StructType([
        T.StructField("doc_id", T.IntegerType(), True),
        T.StructField("cluster_id", T.IntegerType(), True),
    ])
    assert sorted(map(tuple, out.collect())) == [(1, 1), (2, 1), (3, 1), (4, 4)]


def test_hook_components_logarithmic_rounds():
    """The union-find kernel alone: a shuffled 100k-node path
    converges in at most 2·⌈log2 n⌉ hooking rounds (a one-hop label
    step would need O(n)), and random graphs match a sequential
    union-find's min-id components."""
    import math

    import numpy as np

    from mirabelle_spark.pipeline.dedup import _hook_components

    rng = np.random.default_rng(19)
    n = 100_000
    path = rng.permutation(n)
    root, rounds = _hook_components(path[:-1], path[1:], n)
    assert (root == 0).all()
    assert 1 <= rounds <= 2 * math.ceil(math.log2(n))

    for n, m in ((50, 30), (300, 280), (1000, 2000)):
        a, b = rng.integers(0, n, m), rng.integers(0, n, m)
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                x = parent[x]
            return x

        for x, y in zip(a.tolist(), b.tolist()):
            rx, ry = find(x), find(y)
            parent[max(rx, ry)] = min(rx, ry)
        root, _ = _hook_components(a, b, n)
        assert root.tolist() == [find(v) for v in range(n)]
    root, rounds = _hook_components(np.array([], int), np.array([], int), 3)
    assert root.tolist() == [0, 1, 2] and rounds == 0


def test_dedup_leaves_no_persistent_rdds(doc_df, spark):
    """PERF.md §16: leaked per-call caches poison every later query.
    The LSH candidate path uses a bucket-groupBy (no self-join, no
    persist), so executor storage must be EMPTY right after the
    query materializes, and resolve_clusters pins nothing at all."""
    import gc

    from mirabelle_spark.pipeline import dedup

    jsc = spark.sparkContext._jsc.sc()

    def persistent_count():
        return jsc.getPersistentRDDs().size()

    import time as _time

    # drain handle-owned blocks left by earlier tests (async cleaner)
    deadline = _time.time() + 30
    while persistent_count() > 0 and _time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        _time.sleep(0.5)
    base = persistent_count()

    # The verify path's shingle-hash table rides a lazy
    # localCheckpoint (r16): its blocks are OWNED BY THE LIVE HANDLE
    # — the same allowance as resolve_clusters' result below — so
    # while ``pairs`` is alive one pinned RDD may show; the leak
    # contract is that dropping the handle releases it (no
    # session-lifetime CacheManager entry, no accumulation).
    pairs = dedup.ngram_jaccard_pairs(doc_df, threshold=0.3)
    pairs.collect()
    assert persistent_count() <= base + 1, "LSH verify path leaked beyond its handle-owned pin"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "LSH verify path registered a CacheManager entry"
    )
    del pairs
    deadline = _time.time() + 60
    while persistent_count() > base and _time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        _time.sleep(0.5)
    assert persistent_count() <= base, "handle-owned pin survived its handle"

    # resolve_clusters pins nothing (one plan, no persist or
    # checkpoint): no call adds a cached RDD, not even while its
    # result handle is alive (the async cleaner can only lower the
    # count meanwhile)
    for _ in range(3):
        before = persistent_count()
        clusters = dedup.resolve_clusters(
            dedup.minhash_lsh_candidates(doc_df), doc_df.select("doc_id")
        )
        clusters.collect()
        assert persistent_count() <= before, (
            f"resolve_clusters left {persistent_count() - before} cached RDDs"
        )


def test_hash_sample_deterministic_and_partition_independent(spark):
    """hash_sample must select the SAME rows regardless of
    partitioning (the property seeded df.sample lacks), at roughly
    the requested rate."""
    from mirabelle_spark.pipeline import sampling

    df = spark.range(0, 10_000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id for r in sampling.hash_sample(df, 10).collect()}
    b = {r.doc_id for r in sampling.hash_sample(df.repartition(7), 10).collect()}
    assert a == b
    assert 700 <= len(a) <= 1300  # ~10% of 10k


def test_contamination_shared_shingles(spark):
    """Docs sharing >= min_shared trigram shingles with a benchmark
    text are flagged with the exact overlap count; clean docs are
    not."""
    from mirabelle_spark.pipeline import sampling

    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string",
    )
    corpus = spark.createDataFrame(
        [
            (10, "look the quick brown fox jumps away"),   # shares 3 shingles
            (11, "a quick brown cat sits on the mat"),     # shares 0 trigrams
            (12, "the quick brown fox appears"),           # shares 2
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r.shared_shingles
           for r in sampling.contamination(corpus, bench, min_shared=2).collect()}
    assert out == {10: 3, 12: 2}


def test_remove_boilerplate_lines(spark):
    """Lines shared by >= min_docs docs vanish; surviving lines keep
    their original order; fully-boilerplate docs drop out."""
    from mirabelle_spark.pipeline import text

    banner = "ACCEPT COOKIES"
    footer = "copyright acme corp"
    rows = [
        (0, f"{banner}\nunique zero\n{footer}"),
        (1, f"{banner}\nfirst line one\nsecond line one\n{footer}"),
        (2, f"{banner}\nunique two\n{footer}"),
        (3, f"{banner}\n{footer}"),  # nothing survives
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r.text_clean
           for r in text.remove_boilerplate_lines(df, min_docs=3).collect()}
    assert out == {
        0: "unique zero",
        1: "first line one\nsecond line one",
        2: "unique two",
    }


def test_stratified_sample_per_group(spark):
    """Exactly n per group (or the whole group if smaller),
    deterministic across partitionings."""
    from mirabelle_spark.pipeline import sampling

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "fr") for i in range(100)],
        "doc_id bigint, lang string",
    )
    out = sampling.stratified_sample(df, 5, "lang")
    counts = {r.lang: r.n for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"en": 5, "fr": 5}
    a = {r.doc_id for r in out.collect()}
    b = {r.doc_id for r in
         sampling.stratified_sample(df.repartition(7), 5, "lang").collect()}
    assert a == b
    # a group smaller than n survives whole
    tiny = spark.createDataFrame([(1, "de"), (2, "de")], "doc_id bigint, lang string")
    assert sampling.stratified_sample(tiny, 5, "lang").count() == 2


def test_mask_pii(spark):
    from mirabelle_spark.pipeline import sampling

    df = spark.createDataFrame(
        [(0, "mail bob.smith+x@ex-ample.org or call +1 (555) 123-4567 now"),
         (1, "no pii here, just v1.2 and 42")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r.text_masked for r in sampling.mask_pii(df).collect()}
    assert out[0] == "mail <EMAIL> or call <PHONE> now"
    assert out[1] == "no pii here, just v1.2 and 42"


def test_pack_documents_budget_invariants(spark):
    """Packing invariants: offsets stay inside the budget, each
    pack's contents start at its boundary (prefix // budget), the
    assignment is deterministic across partitionings, and total
    tokens are conserved."""
    from mirabelle_spark.pipeline import sampling

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * (7 + i % 23))) for i in range(200)],
        "doc_id bigint, text string",
    )
    out = sampling.pack_documents(df, budget_tokens=64).collect()
    assert len(out) == 200
    for r in out:
        assert 0 <= r.pack_offset < 64
        assert r.pack_id >= 0
    total = sum(r.n_tokens for r in out)
    assert total == sum(7 + i % 23 for i in range(200))
    # max pack id consistent with total budget fill
    assert max(r.pack_id for r in out) == (total - list(
        sorted(out, key=lambda r: (r.pack_id, r.pack_offset))
    )[-1].n_tokens) // 64
    a = {(r.doc_id, r.pack_id, r.pack_offset) for r in out}
    b = {(r.doc_id, r.pack_id, r.pack_offset)
         for r in sampling.pack_documents(df.repartition(7), 64).collect()}
    assert a == b


def test_remove_boilerplate_keeps_blank_lines(spark):
    """Blank lines all trim to one shared hash but are paragraph
    structure, not boilerplate — they must survive even when every
    document contains one."""
    from mirabelle_spark.pipeline import text

    banner = "ACCEPT COOKIES"
    rows = [
        (0, f"{banner}\npara one\n\npara two"),
        (1, f"{banner}\nalpha\n\nbeta"),
        (2, f"{banner}\nsolo\n\nduo"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r.text_clean
           for r in text.remove_boilerplate_lines(df, min_docs=3).collect()}
    assert out == {
        0: "para one\n\npara two",
        1: "alpha\n\nbeta",
        2: "solo\n\nduo",
    }


def test_ivf_topk_rejects_inconsistent_nlist(spark):
    """Passing both fixed centroids and a contradicting nlist is a
    config error, not a silent override."""
    import pytest as _pytest

    from mirabelle_spark.pipeline import ann

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id bigint, embedding array<double>"
    )
    q = spark.createDataFrame([(1, [1.0, 0.0])],
                              "query_id bigint, embedding array<double>")
    with _pytest.raises(ValueError, match="contradicts"):
        ann.ivf_topk(emb, q, nlist=4, centroids=[[1.0, 0.0], [0.0, 1.0]])


def test_gopher_rules_flags(spark):
    from mirabelle_spark.pipeline import text

    good = " ".join(
        ["the quick brown fox and that dog have fun with logs"] * 5
    )  # 55 words, all rules pass
    short = "the dog"  # word count fails
    symbols = " ".join(["woof#"] * 60)  # symbol ratio 1.0, no stopwords
    bullets = "\n".join(["- item one of the list"] * 10) + "\nthe end with that"
    df = spark.createDataFrame(
        [(0, good), (1, short), (2, symbols), (3, bullets), (4, "")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in text.gopher_rules(df, min_words=50).collect()}
    assert out[0].passes
    assert not out[1].word_count_ok and not out[1].passes
    assert not out[2].symbol_ok and not out[2].stopword_ok
    assert not out[3].bullet_ok  # 10/11 lines bulleted > 0.9
    assert not out[4].passes and not out[4].alpha_ok


def test_token_doc_frequency_counts(spark):
    from mirabelle_spark.pipeline import text

    df = spark.createDataFrame(
        [(0, "a b a"), (1, "a c"), (2, "  ")],
        "doc_id bigint, text string",
    )
    rows = {r.token: r for r in text.token_doc_frequency(df, k=10).collect()}
    assert rows["a"].doc_freq == 2 and rows["a"].term_freq == 3
    assert rows["b"].doc_freq == 1 and rows["b"].term_freq == 1
    assert rows["c"].doc_freq == 1
    assert "" not in rows  # blank doc contributes nothing


def test_token_rarity_score_exact(spark):
    from mirabelle_spark.pipeline import text

    # df(a)=2, df(b)=1, df(c)=1
    df = spark.createDataFrame(
        [(0, "a b a"), (1, "a c")], "doc_id bigint, text string"
    )
    out = {r.doc_id: r.rarity_score for r in text.token_rarity_score(df).collect()}
    assert out[0] == (2 + 1 + 2) / 3  # a,b,a
    assert out[1] == (2 + 1) / 2  # a,c


def test_mixture_sample_rates(spark):
    from mirabelle_spark.pipeline import sampling

    df = spark.createDataFrame(
        [(i, "x", ["en", "fr", "de"][i % 3]) for i in range(300)],
        "doc_id bigint, text string, lang string",
    )
    out = sampling.mixture_sample(
        df, {"en": 100, "fr": 0}, group_col="lang", default_pct=50
    )
    by_lang = {
        r.lang: r.n
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert by_lang["en"] == 100  # 100% kept
    assert "fr" not in by_lang  # 0% kept
    assert 20 <= by_lang.get("de", 0) <= 80  # ~50% of 100
    # determinism: same selection after a repartition
    again = sampling.mixture_sample(
        df.repartition(7), {"en": 100, "fr": 0}, group_col="lang", default_pct=50
    )
    assert sorted(r.doc_id for r in again.collect()) == sorted(
        r.doc_id for r in out.collect()
    )


def test_paragraph_dedup_first_occurrence_wins(spark):
    from mirabelle_spark.pipeline import dedup

    df = spark.createDataFrame(
        [
            (0, "shared para one\n\nunique to zero"),
            (1, "shared para one\n\nunique to one\n\n\n\nafter blank"),
            (2, "shared para one"),  # loses everything -> dropped
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r.text_clean for r in dedup.paragraph_dedup(df).collect()}
    assert out[0] == "shared para one\n\nunique to zero"  # doc 0 wins the dup
    # doc 1 keeps its uniques AND the blank separator run
    assert out[1] == "unique to one\n\n\n\nafter blank"
    assert 2 not in out


def test_pipeline_ops_on_empty_corpus(spark):
    """Every pipeline operator must return an EMPTY result with its
    normal schema on a 0-row corpus — not crash, not emit sentinel
    rows (AQE's empty-relation propagation takes odd paths through
    aggregates and windows; this pins them all)."""
    from mirabelle_spark.pipeline import ann, dedup, sampling, text

    docs = spark.createDataFrame([], "doc_id bigint, text string, lang string")
    embs = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    checks = [
        dedup.dedup_exact(docs),
        dedup.minhash_lsh_candidates(docs, num_hashes=16, bands=4),
        dedup.ngram_jaccard_pairs(docs, num_hashes=16, bands=4),
        dedup.simhash_near_dups(docs, max_hamming=3),
        dedup.paragraph_dedup(docs),
        dedup.resolve_clusters(
            spark.createDataFrame([], "id_a bigint, id_b bigint"),
            docs.select("doc_id"),
        ),
        text.token_count(docs),
        text.gopher_rules(docs),
        text.token_doc_frequency(docs),
        text.token_rarity_score(docs),
        text.remove_boilerplate_lines(docs),
        sampling.hash_sample(docs, 50),
        sampling.mixture_sample(docs, {"en": 50}),
        sampling.stratified_sample(docs, 5, "lang"),
        sampling.pack_documents(docs, 100, by="lang"),
        ann.brute_force_topk(
            embs, embs.select(F.col("vec_id").alias("query_id"), "embedding"), k=3
        ),
    ]
    for df in checks:
        assert df.count() == 0, df.schema.simpleString()


def test_wav_codec_end_to_end(spark):
    """REAL audio path: synthesize PCM WAVs with the stdlib wave
    module, push them through attach_media + extract_features
    (decoder='wav'), and check the decoded physics: duration,
    sample rate, RMS of a full-scale sine = 1/sqrt(2), silence = 0,
    and zero-crossing rate tracking the tone frequency."""
    import io
    import math
    import wave

    from mirabelle_spark.pipeline import multimodal

    def make_wav(freq_hz, seconds, rate=8000, amp=0.9):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            n = int(rate * seconds)
            frames = b"".join(
                int(amp * 32767 * math.sin(2 * math.pi * freq_hz * i / rate))
                .to_bytes(2, "little", signed=True)
                for i in range(n)
            )
            w.writeframes(frames)
        return buf.getvalue()

    rows = [
        (1, make_wav(440, 0.5)),
        (2, make_wav(100, 2.0, amp=0.0)),  # silence
        (3, b"not a wav"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    media = multimodal.attach_media(df, "payload", "audio/wav", "doc_id")
    out = {r.id: r for r in multimodal.extract_features(media, decoder="wav").collect()}

    f1 = out[1].feature
    assert abs(f1[0] - 0.5) < 1e-9          # duration
    assert f1[1] == 8000.0 and f1[2] == 1.0 and f1[3] == 2.0
    assert abs(f1[4] - 0.9 / math.sqrt(2)) < 0.01   # sine RMS
    assert 0.89 <= f1[5] <= 0.91            # peak ~ amp
    assert abs(f1[6] - 2 * 440 / 8000) < 0.01       # zcr ~ 2f/rate
    f2 = out[2].feature
    assert f2[0] == 2.0 and f2[4] == 0.0 and f2[5] == 0.0
    assert out[3].feature is None           # undecodable -> None, no crash


def test_pq_encode_codes_shape(spark):
    from mirabelle_spark.pipeline import ann
    from mirabelle_spark.pipeline.pq_codebooks import PQ_CODEBOOKS, PQ_K, PQ_M

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    codes = ann.pq_encode(e, PQ_CODEBOOKS).collect()
    assert len(codes) == e.count()
    for r in codes:
        assert len(r.codes) == PQ_M
        assert all(0 <= c < PQ_K for c in r.codes)


def test_pq_topk_rerank_recall(spark):
    """faiss-style refinement: raw 32-bit ADC recall is ~0.4 on this
    corpus; reranking the top-50 ADC candidates with exact L2 lifts
    recall@5 to >= 0.8 mean / >= 0.5 min (measured 0.89 / 0.6 at
    sf0.01; bounds leave run-to-run slack — the computation is
    deterministic, the slack is for corpus regeneration)."""
    import numpy as np

    from mirabelle_spark.pipeline import ann
    from mirabelle_spark.pipeline.pq_codebooks import PQ_CODEBOOKS

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = e.filter("vec_id < 20").selectExpr("vec_id AS query_id", "embedding")
    rows = {r.vec_id: list(r.embedding) for r in e.collect()}
    ids = sorted(rows)
    mat = np.array([rows[i] for i in ids], dtype=np.float64)
    exact = {}
    for qid in range(20):
        d = ((mat - mat[ids.index(qid)]) ** 2).sum(1)
        order = np.lexsort((ids, d))
        exact[qid] = set(np.array(ids)[order[:5]])

    out = ann.pq_topk(e, q, PQ_CODEBOOKS, k=5, rerank=50)
    got: dict = {}
    for r in out.collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(got[i] & exact[i]) / 5 for i in range(20)]
    assert sum(recalls) / len(recalls) >= 0.8
    assert min(recalls) >= 0.5
    # rank-1 of the reranked result is the query itself (exact dist 0)
    r1 = {r.query_id: r.vec_id for r in out.collect() if r.rank == 1}
    assert all(r1[i] == i for i in range(20))


def test_simhash_multi_index_identical_pairs(spark):
    """piece_match=2 (order-2 pigeonhole) must emit EXACTLY the
    pair set of the order-1 banding — the popcount verify makes
    recall exact for any valid (chunks, piece_match)."""
    from mirabelle_spark.pipeline import dedup

    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river shore"),
        (2, "completely different content about spark query engines and shuffles"),
        (3, "the quick brown fox hops over the lazy dog near the river bank"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    p1 = {(r.id_a, r.id_b, r.hamming)
          for r in dedup.simhash_near_dups(df, max_hamming=8).collect()}
    p2 = {(r.id_a, r.id_b, r.hamming)
          for r in dedup.simhash_near_dups(df, max_hamming=8, piece_match=2).collect()}
    assert p1 == p2 and p1
    import pytest as _pytest
    with _pytest.raises(ValueError, match="piece_match"):
        dedup.simhash_near_dups(df, max_hamming=8, piece_match=3)
    with _pytest.raises(ValueError, match="recall"):
        dedup.simhash_near_dups(df, max_hamming=8, chunks=8, piece_match=2)


def test_netpbm_stream_frame_sampling(spark):
    """REAL video-container path: a concatenated P6 stream (the
    image2pipe/ppm form) is split on each frame's own header and
    sampled at the requested interval, frames emitted verbatim."""
    import numpy as np

    from mirabelle_spark.pipeline import multimodal

    frames = [
        multimodal.encode_netpbm(np.full((2, 3, 3), k * 10, dtype=np.uint8))
        for k in range(10)
    ]
    stream = b"".join(frames)
    df = spark.createDataFrame([(7, stream)], "doc_id bigint, payload binary")
    media = multimodal.attach_media(df, "payload", "video/x-ppm-stream", "doc_id")
    # 40 ms/frame, sample every 120 ms -> stride 3 -> frames 0,3,6,9
    out = sorted(
        (r.frame_idx, bytes(r.frame))
        for r in multimodal.sample_frames(
            media, every_ms=120, decoder="netpbm-stream", frame_ms=40
        ).collect()
    )
    assert [i for i, _ in out] == [0, 1, 2, 3]
    assert [f for _, f in out] == [frames[0], frames[3], frames[6], frames[9]]
    arr, w, h = multimodal.decode_netpbm(out[1][1])
    assert (w, h) == (3, 2) and arr.max() == 30


def test_minhash_signature_table_write_once(spark, tmp_path, doc_df):
    """The write-once split: signatures materialized to parquet,
    candidate generation run from the table — identical pairs to
    the in-flight path, and re-banding the stored table (different
    bands) needs no text access."""
    from mirabelle_spark.pipeline import dedup

    sig_path = str(tmp_path / "sigs")
    dedup.minhash_signatures(doc_df, num_hashes=64).write.parquet(sig_path)
    stored = spark.read.parquet(sig_path)

    inflight = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(doc_df, num_hashes=64, bands=16).collect()
    }
    from_table = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates_from_signatures(
            stored, num_hashes=64, bands=16
        ).collect()
    }
    assert from_table == inflight and inflight
    # re-band the same table without recomputing signatures
    rebanded = dedup.minhash_lsh_candidates_from_signatures(
        stored, num_hashes=64, bands=8
    ).collect()
    assert {(r.id_a, r.id_b) for r in rebanded} <= inflight  # stricter threshold


def test_hot_bucket_cap_degenerate_clique(spark):
    """r7: the LSH hot-bucket cap. A 5000-doc exact-copy clique (the
    boilerplate/mirror shape real corpora have and the sf1 synthetic
    corpus deliberately avoids) would emit O(n²)≈12.5M pairs PER BAND
    uncapped; with max_bucket the job completes within bound, the
    drop is observable, and genuine sparse near-dups still pair."""
    from mirabelle_spark.pipeline import dedup

    clique = [(100 + i, "subscribe to our newsletter for daily updates and offers")
              for i in range(5000)]
    rows = clique + [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river shore"),
        (2, "completely different content about spark query engines and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(
            df, num_hashes=64, bands=16, max_bucket=100
        ).collect()
    }
    assert (0, 1) in pairs                      # sparse near-dup survives the cap
    assert not any(p[0] >= 100 or p[1] >= 100 for p in pairs)  # clique dropped
    stats = dedup.bucket_cap_stats("minhash_lsh")
    assert stats["capped_buckets"] == 16        # one hot bucket per band
    assert stats["capped_ids"] == 16 * 5000
    assert stats["max_bucket_size"] == 5000


def test_hot_bucket_cap_simhash(spark):
    """Same degenerate clique through the SimHash pigeonhole path:
    hot (piece_id, piece_value) keys are excluded before the
    self-join, sparse pairs survive, drops are observable."""
    from mirabelle_spark.pipeline import dedup

    clique = [(100 + i, "subscribe to our newsletter for daily updates and offers")
              for i in range(5000)]
    rows = clique + [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "completely different content about spark query engines and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_dups(df, max_hamming=3, max_bucket=100).collect()
    }
    assert (0, 1) in pairs
    assert not any(p[0] >= 100 or p[1] >= 100 for p in pairs)
    stats = dedup.bucket_cap_stats("simhash")
    assert stats["capped_buckets"] == 4         # chunks = max_hamming + 1
    assert stats["capped_ids"] == 4 * 5000
    assert stats["max_bucket_size"] >= 5000


def test_hot_bucket_cap_none_is_exact(doc_df):
    """Default max_bucket=None must leave the oracle-pinned pair sets
    byte-identical (the driver gate runs the uncapped defaults)."""
    from mirabelle_spark.pipeline import dedup

    base = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(doc_df, num_hashes=64, bands=16).collect()
    }
    huge_cap = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(
            doc_df, num_hashes=64, bands=16, max_bucket=10**6
        ).collect()
    }
    assert base == huge_cap


def test_linear_quality_score_exact(spark):
    """Hashed linear classifier: logit equals the hand-computed
    md5-weight sum; empty/whitespace docs score exactly 0."""
    import hashlib

    from mirabelle_spark.pipeline import text as t

    rows = [(0, "the quick fox"), (1, ""), (2, "   "), (3, "the the")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r.quality_logit
           for r in t.linear_quality_score(df).collect()}

    def w(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 1001 - 500

    assert got[0] == (w("the") + w("quick") + w("fox")) / 1000.0
    assert got[1] == 0.0 and got[2] == 0.0
    assert got[3] == 2 * w("the") / 1000.0


def test_cell_centroid_update_step(spark):
    """One relational k-means step: per (cell, lane) counts and
    decimal-exact means match hand computation on a split fixture."""
    from mirabelle_spark.pipeline import ann

    cents = [[0.0, 0.0], [10.0, 10.0]]
    vecs = [(0, [1.0, 2.0]), (1, [3.0, 0.0]), (2, [9.0, 11.0]), (3, [11.0, 9.0])]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    out = {
        (r.cell, r.lane): (r.n, r.mean_val)
        for r in ann.cell_centroid_update(df, cents).collect()
    }
    assert out == {
        (0, 0): (2, 2.0), (0, 1): (2, 1.0),
        (1, 0): (2, 10.0), (1, 1): (2, 10.0),
    }


def test_train_ivf_deterministic_and_improving(spark):
    """The relational trainer is partitioning-independent (bit-equal
    centroids after an adversarial repartition) and Lloyd-monotone
    (distortion non-increasing across its iterates)."""
    import pyspark.sql.functions as F

    from mirabelle_spark.pipeline import ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = ann.train_ivf(emb, nlist=4, iters=4)
    c2 = ann.train_ivf(emb.repartition(7), nlist=4, iters=4)
    assert c1 == c2

    def distortion(cents):
        c = emb.select(ann.as_double_vec(F.col("embedding")).alias("__cv__"))
        cent_lit = F.array(
            *[F.array(*[F.lit(float(v)) for v in ctr]) for ctr in cents]
        )
        d = F.array_min(F.transform(cent_lit, lambda ctr: ann._sqdist(F.col("__cv__"), ctr)))
        return c.agg(F.sum(d.cast("decimal(38,9)")).cast("double")).collect()[0][0]

    d0 = distortion(ann.train_ivf(emb, nlist=4, iters=1))
    d2 = distortion(ann.train_ivf(emb, nlist=4, iters=2))
    d4 = distortion(c1)
    assert d0 >= d2 >= d4


def test_trained_ivf_centroids_match_pinned(spark):
    """The persisted quantizer (ivf_centroids_trained.py) IS the
    trainer's output: re-run train_ivf on the same corpus with the
    recorded hyperparameters and require bit equality. Guards the
    faiss-style train-once lifecycle behind ann_ivf_trained_topk —
    a trainer change that shifts any centroid bit fails here until
    gen_trained_centroids is re-run (keeping query and oracle
    literals in lockstep). Also pins that training MOVED the
    quantizer (trained != the md5-spread init it started from)."""
    from mirabelle_spark.pipeline import ann
    from mirabelle_spark.pipeline.ivf_centroids import IVF_CENTROIDS
    from mirabelle_spark.pipeline.ivf_centroids_trained import (
        TRAIN_ITERS, TRAIN_NLIST, TRAIN_SF_DIR, TRAINED_IVF_CENTROIDS,
    )
    from mirabelle_spark.queries_pipeline import embs

    cents = ann.train_ivf(
        embs(spark, TRAIN_SF_DIR), nlist=TRAIN_NLIST, iters=TRAIN_ITERS
    )
    assert cents == TRAINED_IVF_CENTROIDS
    assert cents != IVF_CENTROIDS


def test_trained_pq_codebooks_match_pinned(spark):
    """Same pin contract for the PQ half (ann_pq_trained_topk):
    re-running train_pq with the recorded hyperparameters must
    reproduce pq_codebooks_trained.py bit-for-bit, and differ from
    the older offline-kmeans books."""
    from mirabelle_spark.pipeline import ann
    from mirabelle_spark.pipeline.pq_codebooks import PQ_CODEBOOKS
    from mirabelle_spark.pipeline.pq_codebooks_trained import (
        TRAIN_ITERS, TRAIN_K, TRAIN_M, TRAIN_SF_DIR, TRAINED_PQ_CODEBOOKS,
    )
    from mirabelle_spark.queries_pipeline import embs

    books = ann.train_pq(
        embs(spark, TRAIN_SF_DIR), m=TRAIN_M, k=TRAIN_K, iters=TRAIN_ITERS
    )
    assert books == TRAINED_PQ_CODEBOOKS
    assert books != PQ_CODEBOOKS


def test_stratified_topk_partitioning_independent(spark):
    """Best-n-per-group by score: identical winners under an
    adversarial repartition; descending/ascending and null-score
    semantics pinned against a plain rank window."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    from mirabelle_spark.pipeline import sampling

    rows = [(i, f"g{i % 3}", None if i % 17 == 4 else float((i * 31) % 50))
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, grp string, score double")

    def reference(desc):
        o = F.col("score").desc() if desc else F.col("score").asc()
        w = W.partitionBy("grp").orderBy(o, F.col("doc_id"))
        return {
            r.doc_id
            for r in df.filter(F.col("score").isNotNull())
            .withColumn("rk", F.row_number().over(w))
            .filter("rk <= 5").collect()
        }

    for desc in (True, False):
        exp = reference(desc)
        got1 = {r.doc_id for r in sampling.stratified_topk(
            df, 5, "grp", "score", descending=desc).collect()}
        got2 = {r.doc_id for r in sampling.stratified_topk(
            df.repartition(13), 5, "grp", "score", descending=desc).collect()}
        assert got1 == exp and got2 == exp


def test_window_topk_tail_partials_before_exchange(spark):
    """The ANN rank-tail scale question (r15, VERDICT r14 ask #8 —
    executed, measured, reverted on evidence; PERF §87): the
    rankers ship the DECLARATIVE window form because Spark ≥3.5
    compiles its rank<=k filter with WindowGroupLimit pushdown — a
    Partial sort-limit BELOW the exchange bounds the shuffle to
    ≤ k rows per (query, input-partition) map-side, which this test
    PINS so a regression (plan no longer bounded) is loud."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    scored = spark.range(900).selectExpr(
        "id % 3 AS query_id",
        "id AS vec_id",
        "CAST(pmod(hash(id), 40) AS DOUBLE) / 7.0 AS dist",
    )
    w = W.partitionBy("query_id").orderBy(F.col("dist"), F.col("vec_id"))
    naive = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter("rank <= 5")
    )
    nplan = naive._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in nplan, nplan
    partial = nplan.index(", Partial")
    exch = nplan.index("Exchange hashpartitioning(query_id")
    # tree prints parent-first: the Partial limit is DEEPER than
    # (below) the exchange, so it appears after it in the dump
    assert partial > exch, nplan


def test_token_chunks_content_defined(spark):
    """CDC chunker invariants: chunks partition the token stream in
    order, boundaries are content-local (editing the tail re-chunks
    nothing upstream), empty docs vanish."""
    import hashlib

    from mirabelle_spark.pipeline import text as t

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliett " * 5
    rows = [(0, base), (1, base + " zulu yankee xray"), (2, ""), (3, "   ")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = t.token_chunks(df, divisor=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = (r.n_tokens, r.chunk_md5)
    assert set(by_doc) == {0, 1}  # empty docs chunkless
    # chunks partition the stream: ids contiguous from 0, counts sum to total
    for d, chunks in by_doc.items():
        assert sorted(chunks) == list(range(len(chunks)))
    assert sum(n for n, _ in by_doc[0].values()) == 50
    assert sum(n for n, _ in by_doc[1].values()) == 53
    # content-locality: doc 1 extends doc 0, so every chunk of doc 0
    # except possibly the last is IDENTICAL in doc 1
    shared = len(by_doc[0]) - 1
    for cid in range(shared):
        assert by_doc[1][cid] == by_doc[0][cid]
    # md5 actually covers the chunk text: recompute chunk 0 by hand
    toks = base.split()
    def h(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 4
    cut = next(i for i in range(1, len(toks)) if h(toks[i]) == 0)
    exp_md5 = hashlib.md5(" ".join(toks[:cut]).encode()).hexdigest()
    assert by_doc[0][0] == (cut, exp_md5)


def test_neardup_degree_histogram(spark):
    """A size-3 clique + one isolated pair: degrees 2 (x3) and 1 (x2)."""
    from mirabelle_spark.pipeline import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (8, 9)], "id_a bigint, id_b bigint"
    )
    got = {r.degree: r.n_docs for r in dedup.neardup_degree_histogram(pairs).collect()}
    assert got == {2: 3, 1: 2}


def test_sq_topk_recall_vs_bruteforce(spark):
    """SQ8 keeps high recall on the real embeddings (midpoint decode,
    step 2^-6): recall@5 >= 0.8 mean; self-match always rank 1."""
    from mirabelle_spark.pipeline import ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {}
    for r in ann.brute_force_topk(emb, queries, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    got = {}
    for r in ann.sq_topk(emb, queries, k=5).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
        if r.rank == 1:
            assert r.vec_id == r.query_id  # self-match survives quantization
    recalls = [len(got[q] & exact[q]) / 5 for q in exact]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_ivfpq_full_probe_equals_pq(spark):
    """IVF-PQ at nprobe == nlist must reproduce pq_topk exactly (the
    pruning only ever REMOVES candidates), and at fractional probe
    its results are a subset-ranked consistent top-k."""
    from mirabelle_spark.pipeline import ann
    from mirabelle_spark.pipeline.ivf_centroids import IVF_CENTROIDS
    from mirabelle_spark.pipeline.pq_codebooks import PQ_CODEBOOKS

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pq = {
        (r.query_id, r.rank): (r.vec_id, r.adc_dist)
        for r in ann.pq_topk(emb, queries, PQ_CODEBOOKS, k=5).collect()
    }
    full = {
        (r.query_id, r.rank): (r.vec_id, r.adc_dist)
        for r in ann.ivfpq_topk(
            emb, queries, PQ_CODEBOOKS, IVF_CENTROIDS, k=5, nprobe=8
        ).collect()
    }
    assert full == pq


def test_ivfpq_write_once_index(spark, tmp_path):
    """The materialized IVF-PQ index reproduces the in-flight results
    exactly, and the probe plan prunes partitions (PartitionFilters
    carries the literal cell list)."""
    from mirabelle_spark.pipeline import ann
    from mirabelle_spark.pipeline.ivf_centroids import IVF_CENTROIDS
    from mirabelle_spark.pipeline.pq_codebooks import PQ_CODEBOOKS

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivfpq_idx")
    ann.ivfpq_write_index(emb, path, PQ_CODEBOOKS, IVF_CENTROIDS)
    probed = ann.ivfpq_probe_index(
        queries, path, PQ_CODEBOOKS, IVF_CENTROIDS, k=5, nprobe=3
    )
    inflight = {
        (r.query_id, r.rank): (r.vec_id, r.adc_dist)
        for r in ann.ivfpq_topk(
            emb, queries, PQ_CODEBOOKS, IVF_CENTROIDS, k=5, nprobe=3
        ).collect()
    }
    got = {
        (r.query_id, r.rank): (r.vec_id, r.adc_dist) for r in probed.collect()
    }
    assert got == inflight
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__cell__" in plan, plan

    # r11: the production probe path has the same refinement lever —
    # exact-L2 rerank joins candidates back to the ORIGINAL vectors
    # and is bit-identical to the inline ivfpq_topk(rerank=R)
    reranked = {
        (r.query_id, r.rank): (r.vec_id, r.l2_dist)
        for r in ann.ivfpq_probe_index(
            queries, path, PQ_CODEBOOKS, IVF_CENTROIDS,
            k=5, nprobe=3, rerank=20, corpus=emb,
        ).collect()
    }
    inflight_rr = {
        (r.query_id, r.rank): (r.vec_id, r.l2_dist)
        for r in ann.ivfpq_topk(
            emb, queries, PQ_CODEBOOKS, IVF_CENTROIDS,
            k=5, nprobe=3, rerank=20,
        ).collect()
    }
    assert reranked == inflight_rr
    import pytest as _pytest

    with _pytest.raises(ValueError, match="corpus"):
        ann.ivfpq_probe_index(
            queries, path, PQ_CODEBOOKS, IVF_CENTROIDS, rerank=20
        )


def test_soft_dedup_frequency_weighted(spark):
    """Duplicate groups thin toward ~1 expected survivor (each member
    keeps with probability 1/c); unique docs always survive; the
    decision is deterministic and matches the hand rule."""
    import hashlib

    from mirabelle_spark.pipeline import dedup

    clique = [(i, "same text every time") for i in range(200)]
    uniq = [(1000 + i, f"unique document number {i}") for i in range(20)]
    df = spark.createDataFrame(clique + uniq, "doc_id bigint, text string")
    got = {r.doc_id: r.dup_count for r in dedup.soft_dedup(df).collect()}

    def hb(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % (1 << 20)

    exp_clique = {i for i, _ in clique if hb(i) * 200 < (1 << 20)}
    assert {k for k in got if k < 1000} == exp_clique
    assert 0 < len(exp_clique) <= 6  # ~Binomial(200, 1/200): near 1
    assert all(1000 + i in got for i in range(20))  # uniques all survive
    assert got[1000] == 1 and all(got[k] == 200 for k in exp_clique)


def test_corpus_split_stable_across_corpus_versions(spark):
    """The split is a pure function of the key: removing half the
    corpus (or repartitioning) never moves a surviving doc's split;
    proportions land within 1/buckets of the request; weights
    normalize; non-positive weights raise."""
    import pytest as _pytest

    from mirabelle_spark.pipeline import sampling

    df = spark.createDataFrame(
        [(i,) for i in range(4000)], "doc_id bigint"
    )
    w = {"train": 8, "val": 1, "test": 1}  # unnormalized on purpose
    full = {r.doc_id: r.split for r in sampling.corpus_split(df, w).collect()}
    half = {
        r.doc_id: r.split
        for r in sampling.corpus_split(
            df.where("doc_id % 2 = 0").repartition(7), w
        ).collect()
    }
    assert all(full[k] == v for k, v in half.items())
    from collections import Counter

    c = Counter(full.values())
    assert abs(c["train"] / 4000 - 0.8) < 0.02
    assert abs(c["val"] / 4000 - 0.1) < 0.02
    with _pytest.raises(ValueError):
        sampling.corpus_split(df, {"train": 0.0})


def test_trained_centroids_through_write_once_index(spark, tmp_path):
    """The full production chain: train_ivf -> ivf_write_index with
    the TRAINED centroids -> ivf_probe_index reproduces ivf_topk on
    the same quantizer (write-once path is quantizer-agnostic)."""
    from mirabelle_spark.pipeline import ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = ann.train_ivf(emb, nlist=4, iters=3)
    path = str(tmp_path / "trained_idx")
    ann.ivf_write_index(emb, path, cents)
    probed = {
        (r.query_id, r.rank): r.vec_id
        for r in ann.ivf_probe_index(queries, path, cents, k=5, nprobe=2).collect()
    }
    inflight = {
        (r.query_id, r.rank): r.vec_id
        for r in ann.ivf_topk(emb, queries, k=5, nprobe=2, centroids=cents).collect()
    }
    assert probed == inflight and len(probed) == 25


def test_train_pq_deterministic_and_competitive(spark):
    """Trained PQ codebooks: bit-equal under repartitioning; LOWER
    encode distortion than the inlined fixed books on the corpus
    they were fit to (distortion is what Lloyd's optimizes — raw
    32-bit ADC recall is too noisy to rank codebooks, measured 0.26
    trained vs 0.32 fixed while distortion was 272 vs 312); and with
    the production rerank refinement the trained books reach high
    recall."""
    from mirabelle_spark.pipeline import ann
    from mirabelle_spark.pipeline.pq_codebooks import PQ_CODEBOOKS

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    trained = ann.train_pq(emb, m=8, k=16, iters=3)
    again = ann.train_pq(emb.repartition(7), m=8, k=16, iters=3)
    assert trained == again

    def distortion(books):
        tot = 0.0
        for mi in range(8):
            sliced = emb.select(
                F.slice(
                    ann.as_double_vec(F.col("embedding")), mi * 8 + 1, 8
                ).alias("__cv__")
            )
            cent_lit = F.array(
                *[F.array(*[F.lit(float(v)) for v in c]) for c in books[mi]]
            )
            d = F.array_min(
                F.transform(cent_lit, lambda c: ann._sqdist(F.col("__cv__"), c))
            )
            tot += sliced.agg(F.sum(d)).collect()[0][0]
        return tot

    assert distortion(trained) < distortion(PQ_CODEBOOKS)

    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {}
    for r in ann.brute_force_topk(emb, queries, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    got = {}
    for r in ann.pq_topk(emb, queries, trained, k=5, rerank=100).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    rec = sum(len(got[q] & exact[q]) for q in exact) / (5.0 * len(exact))
    assert rec >= 0.8, rec


# --- round 9: winnowing, BPE merge step, power iteration ------------------


def test_winnow_guarantee_and_counts(spark):
    """The MOSS guarantee: any shared run of >= w+k-1 words yields a
    shared fingerprint; unrelated docs share none."""
    from mirabelle_spark.pipeline import dedup

    shared_run = "alpha beta gamma delta epsilon zeta eta"  # 7 = w+k-1 words
    rows = [
        (0, f"{shared_run} onlyzero tail words here"),
        (1, f"prefix one two {shared_run}"),
        (2, "totally disjoint vocabulary nothing matches anywhere at all ever"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    fps = {
        (r.doc_id, r.fp)
        for r in dedup.winnow_fingerprints(df, k=4, w=4).collect()
    }
    by_doc = {}
    for d, fp in fps:
        by_doc.setdefault(d, set()).add(fp)
    assert by_doc[0] & by_doc[1]  # guarantee
    assert not (by_doc[0] & by_doc[2]) and not (by_doc[1] & by_doc[2])

    pairs = {
        (r.id_a, r.id_b): r.shared
        for r in dedup.winnow_dedup_pairs(df, k=4, w=4, min_shared=1).collect()
    }
    assert set(pairs) == {(0, 1)}
    assert pairs[(0, 1)] >= 1


def test_winnow_short_doc_and_partitioning(spark):
    """Docs shorter than k words still fingerprint (whole-text gram);
    the pair set is partitioning-independent."""
    from mirabelle_spark.pipeline import dedup

    rows = [(0, "tiny doc"), (1, "tiny doc"), (2, "other")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {
        (r.id_a, r.id_b, r.shared)
        for r in dedup.winnow_dedup_pairs(df, min_shared=1).collect()
    }
    assert pairs == {(0, 1, 1)}
    re = {
        (r.id_a, r.id_b, r.shared)
        for r in dedup.winnow_dedup_pairs(df.repartition(7), min_shared=1).collect()
    }
    assert re == pairs


def test_bpe_pair_counts_hand_case(spark):
    """low low lower -> 'lo'/'ow' appear in all 3 words; 'we','er'
    only in 'lower'. Weighted by word occurrence count."""
    from mirabelle_spark.pipeline import text as tx

    df = spark.createDataFrame([(0, "low low lower x")], "doc_id bigint, text string")
    out = {r.pair: (r.weight, r.rank) for r in tx.bpe_pair_counts(df, top_n=10).collect()}
    # 'x' is filtered (no pair); weights: lo=3, ow=3, we=1, er=1
    assert out["lo"] == (3, 1)  # rank ties broken pair-asc: lo before ow
    assert out["ow"] == (3, 2)
    assert out["er"] == (1, 3) and out["we"] == (1, 4)
    assert set(out) == {"lo", "ow", "we", "er"}


def test_power_iteration_matches_numpy(spark):
    """train_top_component converges to numpy's dominant eigenvector
    of X'X and is bit-identical under repartitioning."""
    import numpy as np

    from mirabelle_spark.pipeline import ann

    rng = np.random.RandomState(3)
    base = rng.normal(size=8)
    x = rng.normal(size=(200, 8)) * 0.3 + np.outer(rng.normal(size=200), base)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id bigint, embedding array<double>",
    )
    v = np.array(ann.train_top_component(df, dim=8, iters=12))
    w, vecs = np.linalg.eigh(x.T @ x)
    top = vecs[:, np.argmax(w)]
    if top[np.flatnonzero(top)[0]] < 0:
        top = -top
    assert float(np.abs(v @ top)) > 0.9999
    v2 = np.array(ann.train_top_component(df.repartition(13), dim=8, iters=12))
    assert (v == v2).all()  # decimal-exact lane sums: bit-identical


def _ref_bpe_train(word_counts, n_merges, min_weight=2):
    """Pure-Python canonical BPE (Sennrich Alg. 1) for pinning the
    relational trainer: greedy left-to-right non-overlapping pair
    merge, argmax by (weight desc, pair asc)."""
    vocab = {tuple(w): n for w, n in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for syms, n in vocab.items():
            i = 0
            while i < len(syms) - 1:
                counts[(syms[i], syms[i + 1])] = counts.get((syms[i], syms[i + 1]), 0) + n
                i += 1
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        if counts[best] < min_weight:
            break
        merges.append(best)
        a, b = best
        nxt = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt[tuple(out)] = nxt.get(tuple(out), 0) + n
        vocab = nxt
    return merges


def _ref_bpe_apply(word, merges):
    syms = list(word)
    for a, b in merges:
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_train_matches_reference(spark):
    """The relational trainer reproduces canonical greedy BPE —
    merges AND segmentation — and is partitioning-independent."""
    from collections import Counter

    from mirabelle_spark.pipeline import text as tx

    docs = [
        "low lower lowest low low",
        "newer newest new news low",
        "wider wide widest lower newer",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id bigint, text string"
    )
    wc = Counter(w for t in docs for w in t.split())
    ref = _ref_bpe_train(wc, n_merges=8)
    got = tx.bpe_train(df, n_merges=8)
    assert got == ref
    got2 = tx.bpe_train(df.repartition(5), n_merges=8)
    assert got2 == ref

    seg = df.select(
        F.explode(F.split("text", " ")).alias("word")
    ).select("word", tx.bpe_apply(F.col("word"), got).alias("toks")).collect()
    for r in seg:
        assert list(r.toks) == _ref_bpe_apply(r.word, ref), r.word


def test_bpe_run_canonicality(spark):
    """Runs of identical symbols pair like the canonical list scan:
    aaaa -> [aa, aa], aaa -> [aa, a] under merge (a, a)."""
    from mirabelle_spark.pipeline import text as tx

    df = spark.createDataFrame([("aaaa",), ("aaa",), ("aaaaaa",)], "word string")
    out = {
        r.word: list(r.toks)
        for r in df.select(
            "word", tx.bpe_apply(F.col("word"), [("a", "a")]).alias("toks")
        ).collect()
    }
    assert out == {
        "aaaa": ["aa", "aa"],
        "aaa": ["aa", "a"],
        "aaaaaa": ["aa", "aa", "aa"],
    }


def test_trained_bpe_merges_match_pinned(spark):
    """Pin contract for bpe_segment_trained: re-running bpe_train
    with the recorded hyperparameters reproduces
    bpe_merges_trained.py exactly."""
    from mirabelle_spark.pipeline import text as tx
    from mirabelle_spark.pipeline.bpe_merges_trained import (
        BPE_MERGES, TRAIN_MIN_WEIGHT, TRAIN_N_MERGES, TRAIN_SF_DIR,
    )
    from mirabelle_spark.queries_pipeline import docs

    merges = tx.bpe_train(
        docs(spark, TRAIN_SF_DIR),
        n_merges=TRAIN_N_MERGES,
        min_weight=TRAIN_MIN_WEIGHT,
    )
    assert merges == BPE_MERGES


def test_trained_pca_component_match_pinned(spark):
    """Pin contract for pca_project_trained: re-running
    train_top_component with the recorded hyperparameters reproduces
    pca_component_trained.py exactly (determinism pin — the corpus
    spectrum is nearly flat, so this is a dominant-subspace
    direction, not a converged eigenvector; see the module
    docstring)."""
    from mirabelle_spark.pipeline import ann
    from mirabelle_spark.pipeline.pca_component_trained import (
        PCA_COMPONENT, TRAIN_DIM, TRAIN_ITERS, TRAIN_SEED, TRAIN_SF_DIR,
    )
    from mirabelle_spark.queries_pipeline import embs

    v = ann.train_top_component(
        embs(spark, TRAIN_SF_DIR),
        dim=TRAIN_DIM,
        iters=TRAIN_ITERS,
        seed=TRAIN_SEED,
    )
    assert v == PCA_COMPONENT


def test_winnow_hot_fingerprint_cap(spark):
    """The winnowing pair path shares the observable hot-bucket cap:
    a 500-doc exact-copy clique's fingerprints are dropped under
    max_bucket while a sparse near-dup pair (long shared run)
    survives, and the drop is recorded under the 'winnow' label."""
    from mirabelle_spark.pipeline import dedup

    clique = [(100 + i, "subscribe to our newsletter for daily updates and offers")
              for i in range(500)]
    rows = clique + [
        (0, "alpha beta gamma delta epsilon zeta eta theta unique tail zero"),
        (1, "other prefix alpha beta gamma delta epsilon zeta eta theta end"),
        (2, "completely different content about spark query engines and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.winnow_dedup_pairs(
            df, min_shared=1, max_bucket=100
        ).collect()
    }
    assert (0, 1) in pairs
    assert not any(p[0] >= 100 or p[1] >= 100 for p in pairs)
    stats = dedup.bucket_cap_stats("winnow")
    assert stats["capped_buckets"] >= 1
    assert stats["max_bucket_size"] == 500


def test_dup_span_fraction(spark):
    """Hand-computed cross-doc duplicated 3-gram fractions: docs 0/1
    share one 3-gram run; doc 2 is disjoint; doc 3 is too short."""
    from mirabelle_spark.pipeline import dedup

    rows = [
        (0, "alpha beta gamma delta"),     # grams: abg, bgd -> abg shared? see doc 1
        (1, "alpha beta gamma epsilon"),   # grams: abg, bge
        (2, "one two three four"),         # disjoint
        (3, "tiny doc"),                   # < 3 words -> NULL
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: (r.n_grams, r.n_shared, r.dup_fraction)
           for r in dedup.dup_span_fraction(df, n=3).collect()}
    assert out[0] == (2, 1, 0.5)   # 'alpha beta gamma' shared with doc 1
    assert out[1] == (2, 1, 0.5)
    assert out[2] == (2, 0, 0.0)
    assert out[3] == (None, None, None)


def test_bpe_replace_semantics_cross_engine(spark):
    """The bpe_segment_trained oracle's validity rests on DuckDB's
    literal replace() pairing symbol runs exactly like Spark's (scan
    the original, advance past each match). Pin both engines on the
    pathological run inputs."""
    import duckdb

    from mirabelle_spark.pipeline import text as tx

    want = {"aaaa": ["aa", "aa"], "aaa": ["aa", "a"], "aaaaaa": ["aa", "aa", "aa"]}
    df = spark.createDataFrame([(w,) for w in want], "word string")
    got_spark = {
        r.word: list(r.toks)
        for r in df.select(
            "word", tx.bpe_apply(F.col("word"), [("a", "a")]).alias("toks")
        ).collect()
    }
    assert got_spark == want
    s = "\x1f"
    s2 = s * 2
    for w, exp in want.items():
        q = (
            f"select list_filter(string_split(replace("
            f"regexp_replace('{w}', '(.)', '{s2}\\1', 'g') || '{s2}',"
            f" '{s}a{s2}a{s}', '{s}aa{s}'), '{s}'), x -> x <> '')"
        )
        assert duckdb.sql(q).fetchone()[0] == exp, w


def test_train_top_components_deflation(spark):
    """Two-spike corpus: deflated power iteration recovers both
    leading eigenvectors of X'X, orthogonal, bit-identical under
    repartitioning."""
    import numpy as np

    from mirabelle_spark.pipeline import ann

    rng = np.random.RandomState(11)
    b1 = rng.normal(size=8); b1 /= np.linalg.norm(b1)
    b2 = rng.normal(size=8); b2 -= (b2 @ b1) * b1; b2 /= np.linalg.norm(b2)
    x = (
        np.outer(rng.normal(size=300) * 5.0, b1)
        + np.outer(rng.normal(size=300) * 2.0, b2)
        + rng.normal(size=(300, 8)) * 0.1
    )
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id bigint, embedding array<double>",
    )
    comps = ann.train_top_components(df, dim=8, k=2, iters=12)
    w, vecs = np.linalg.eigh(x.T @ x)
    order = np.argsort(w)[::-1]
    for got, ev in zip(comps, [vecs[:, order[0]], vecs[:, order[1]]]):
        assert abs(float(np.array(got) @ ev)) > 0.999
    v0, v1 = np.array(comps[0]), np.array(comps[1])
    assert abs(float(v0 @ v1)) < 1e-9
    comps2 = ann.train_top_components(df.repartition(9), dim=8, k=2, iters=12)
    assert comps2 == comps


def test_bpe_hostile_separator_input(spark):
    """A raw \\x1f inside a word must not forge symbol boundaries:
    it is stripped at seg init, so 'a\\x1fb' segments exactly like
    'ab'."""
    from mirabelle_spark.pipeline import text as tx

    df = spark.createDataFrame([("a\x1fb",), ("ab",)], "word string")
    out = [
        list(r.toks)
        for r in df.select(
            tx.bpe_apply(F.col("word"), [("a", "b")]).alias("toks")
        ).collect()
    ]
    assert out[0] == out[1] == ["ab"]


def test_winnow_fast_hash_mode(spark):
    """gram_hash='fast' (xxhash64, numeric min — the 100 TB path)
    keeps the MOSS guarantee and the pair structure on the guarantee
    corpus; invalid modes are rejected."""
    import pytest as _pytest

    from mirabelle_spark.pipeline import dedup

    shared_run = "alpha beta gamma delta epsilon zeta eta"
    rows = [
        (0, f"{shared_run} onlyzero tail words here"),
        (1, f"prefix one two {shared_run}"),
        (2, "totally disjoint vocabulary nothing matches anywhere at all ever"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.winnow_dedup_pairs(
            df, k=4, w=4, min_shared=1, gram_hash="fast"
        ).collect()
    }
    assert (0, 1) in pairs and not any(2 in p for p in pairs)
    with _pytest.raises(ValueError):
        dedup.winnow_fingerprints(df, gram_hash="sha1")


def test_dup_span_removed_byte_exact(spark):
    """Lee et al. 2022 ExactSubstr removal at 4-gram grain on a
    hand-built corpus; kept text is byte-asserted. Doc 1 holds the
    globally-first occurrence of the shared span 'the quick brown
    fox' and keeps it (keep_first=True); doc 2 loses it; doc 4
    contains it twice and loses both; doc 3 is shorter than n and
    is never rewritten; doc 5 shares nothing. Overlapping grams
    merge into a maximal span: docs 6/7 share a 6-token run whose
    three member 4-grams cover all six tokens."""
    from mirabelle_spark.pipeline import dedup

    rows = [
        (1, "The quick   brown fox jumps over the lazy dog"),
        (2, "intro words the QUICK brown fox trailing tail here"),
        (3, "quick brown fox"),
        (4, "the quick brown fox and again the quick brown fox"),
        (5, "totally unrelated text with no shared spans at all"),
        (6, "aa bb cc dd ee ff and one tail"),
        (7, "prefix bit aa bb cc dd ee ff"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r.doc_id: (r.text_clean, r.n_tokens, r.n_removed)
        for r in dedup.dup_span_removed(df, n=4, min_docs=2).collect()
    }
    assert out[1] == ("the quick brown fox jumps over the lazy dog", 9, 0)
    assert out[2] == ("intro words trailing tail here", 9, 4)
    assert out[3] == ("quick brown fox", 3, 0)
    assert out[4] == ("and again", 10, 8)
    assert out[5] == ("totally unrelated text with no shared spans at all", 9, 0)
    # winner of the 6-token run's grams is doc 6 (lower id)
    assert out[6] == ("aa bb cc dd ee ff and one tail", 9, 0)
    assert out[7] == ("prefix bit", 8, 6)

    # keep_first=False scrubs the winner too (C4-style)
    strict = {
        r.doc_id: (r.text_clean, r.n_removed)
        for r in dedup.dup_span_removed(
            df, n=4, min_docs=2, keep_first=False
        ).collect()
    }
    assert strict[1] == ("jumps over the lazy dog", 4)
    assert strict[4] == ("and again", 8)
    assert strict[6] == ("and one tail", 6)
    assert strict[7] == ("prefix bit", 6)

    # a doc that is ONE duplicated span end-to-end empties, row kept
    rows2 = [
        (1, "x y z w"),
        (2, "x y z w"),
        (3, "x y z w"),
    ]
    df2 = spark.createDataFrame(rows2, "doc_id bigint, text string")
    out2 = {
        r.doc_id: (r.text_clean, r.n_removed)
        for r in dedup.dup_span_removed(df2, n=4, min_docs=3).collect()
    }
    assert out2[1] == ("x y z w", 0)  # winner keeps it
    assert out2[2] == ("", 4)
    assert out2[3] == ("", 4)


def _ref_char_span_removed(rows, n, min_docs, keep_first=True):
    """Pure-Python transcription of char-grain dup_span_removed:
    normalize, enumerate every n-char shingle occurrence, mark the
    characters of every shingle shared by >= min_docs docs (winner
    = min (doc, pos) kept when keep_first), rebuild."""
    import re
    from collections import defaultdict

    norm = {
        i: re.sub(r"\s+", " ", t.lower()).strip() for i, t in rows
    }
    by_g = defaultdict(list)
    for i, t in norm.items():
        for p in range(len(t) - n + 1):
            by_g[t[p : p + n]].append((i, p))
    removed = defaultdict(set)
    for occs in by_g.values():
        if len({d for d, _ in occs}) < min_docs:
            continue
        win = min(occs)
        for d, p in occs:
            if keep_first and (d, p) == win:
                continue
            removed[d].update(range(p, p + n))
    return {
        i: (
            "".join(c for j, c in enumerate(t) if j not in removed[i]),
            len(t),
            len(removed[i] & set(range(len(t)))),
        )
        for i, t in norm.items()
    }


def test_dup_span_removed_char_grain(spark):
    """Char-grain ExactSubstr (r11): byte-grain removal like Lee et
    al.'s suffix-array tool. The headline case is a duplicate WORD
    GRAIN CANNOT SEE — a shared substring whose word boundaries
    differ between docs (templated/code-like text) — plus byte-
    asserted keep_first semantics, keep_first=False, fast-mode
    position parity, and a pure-Python transcription sweep."""
    from mirabelle_spark.pipeline import dedup

    rows = [
        (1, "the price is <b>guaranteed lowest</b> here"),
        (2, "x<b>guaranteed lowest</b>y and other words"),
        (3, "nothing shared with anybody at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    # word grain: no shared 4-word shingle (boundaries differ)
    word = {
        r.doc_id: r.n_removed
        for r in dedup.dup_span_removed(df, n=4, min_docs=2).collect()
    }
    assert word == {1: 0, 2: 0, 3: 0}
    # char grain catches the 24-char shared run; doc 1 wins
    got = {
        r.doc_id: (r.text_clean, r.n_tokens, r.n_removed)
        for r in dedup.dup_span_removed(
            df, n=12, min_docs=2, grain="char"
        ).collect()
    }
    ref = _ref_char_span_removed(rows, n=12, min_docs=2)
    assert got == ref, (got, ref)
    assert got[1][2] == 0  # winner keeps its copy
    assert got[2][2] >= len("<b>guaranteed lowest</b>")
    assert "guaranteed" not in got[2][0]
    assert got[3] == ("nothing shared with anybody at all", 34, 0)

    # keep_first=False scrubs both copies
    strict = {
        r.doc_id: (r.text_clean, r.n_tokens, r.n_removed)
        for r in dedup.dup_span_removed(
            df, n=12, min_docs=2, grain="char", keep_first=False
        ).collect()
    }
    assert strict == _ref_char_span_removed(
        rows, n=12, min_docs=2, keep_first=False
    )
    assert "guaranteed" not in strict[1][0]

    # fast mode (xxhash64 gram keys) removes identical positions
    fast = {
        r.doc_id: (r.text_clean, r.n_tokens, r.n_removed)
        for r in dedup.dup_span_removed(
            df, n=12, min_docs=2, grain="char", gram_hash="fast"
        ).collect()
    }
    assert fast == got

    # transcription sweep on a messier corpus (overlapping shared
    # runs, repeats within one doc, a doc shorter than n)
    rows2 = [
        (10, "aaabbbcccdddeee shared-tail-body-x"),
        (11, "zzz aaabbbcccdddeee shared-tail-body-y"),
        (12, "shared-tail-body-x again aaabbbccc"),
        (13, "short"),
    ]
    df2 = spark.createDataFrame(rows2, "doc_id bigint, text string")
    for kf in (True, False):
        got2 = {
            r.doc_id: (r.text_clean, r.n_tokens, r.n_removed)
            for r in dedup.dup_span_removed(
                df2, n=8, min_docs=2, grain="char", keep_first=kf
            ).collect()
        }
        assert got2 == _ref_char_span_removed(
            rows2, n=8, min_docs=2, keep_first=kf
        ), kf


def test_dup_span_removed_pos_overflow_guard(spark):
    """Regression (r10 advice): the packed winner election
    (doc_id·2^pos_bits + pos) silently bled position bits into the
    doc-id for documents with >= 2^pos_bits tokens, electing the
    wrong keep_first winner with no error. Now an in-row
    raise_error guard fails loudly. _pos_bits=4 (cap 16) stands in
    for the real 2^20 so the test does not need a million-token
    document; docs below the cap are unaffected (parity-checked
    against the default packing AND the struct path)."""
    import re

    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from mirabelle_spark.pipeline import dedup

    shared = "p q r s"
    long_doc = " ".join(f"w{i}" for i in range(18)) + " " + shared
    rows = [(1, long_doc), (2, "head words " + shared + " tail")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    try:
        dedup.dup_span_removed(df, n=4, min_docs=2, _pos_bits=4).collect()
        raise AssertionError("guard did not fire")
    except SparkRuntimeException as e:
        assert re.search(r"token position >= 2\^4 in doc 1", str(e)), e
        assert "struct-min" in str(e)

    # below the cap: packed (_pos_bits=6), default packed, and the
    # struct path (string ids) all agree byte-for-byte
    small = [
        (1, "one two three four five six seven " + shared),
        (2, "alpha " + shared + " beta gamma delta"),
        (3, shared + " " + shared),
    ]
    dfi = spark.createDataFrame(small, "doc_id bigint, text string")
    dfs = spark.createDataFrame(
        [(str(i), t) for i, t in small], "doc_id string, text string"
    )
    base = sorted(
        (str(r.doc_id), r.text_clean, r.n_removed)
        for r in dedup.dup_span_removed(dfi, n=4, min_docs=2).collect()
    )
    tight = sorted(
        (str(r.doc_id), r.text_clean, r.n_removed)
        for r in dedup.dup_span_removed(
            dfi, n=4, min_docs=2, _pos_bits=6
        ).collect()
    )
    struct = sorted(
        (r.doc_id, r.text_clean, r.n_removed)
        for r in dedup.dup_span_removed(dfs, n=4, min_docs=2).collect()
    )
    assert base == tight == struct
    assert any(nr > 0 for _, _, nr in base)


def test_dup_span_removed_prefilter_parity(spark):
    """prefilter_w pinned parity (r13, VERDICT r12 "What's wrong"
    #2): the winnow candidate prefilter is byte-identical to
    prefilter_w=None on the hand-built fixture corpora at BOTH
    grains, including fast mode; the new argument guards
    (prefilter_w >= 2, min_docs >= 2, n >= prefilter_w — ADVICE
    r12) raise clear ValueErrors; prefilter_selectivity reports the
    candidate fraction that prices the knob."""
    import pytest as _pytest

    from mirabelle_spark.pipeline import dedup

    rows = [
        (1, "The quick   brown fox jumps over the lazy dog"),
        (2, "intro words the QUICK brown fox trailing tail here"),
        (3, "quick brown fox"),
        (4, "the quick brown fox and again the quick brown fox"),
        (5, "totally unrelated text with no shared spans at all"),
        (6, "aa bb cc dd ee ff and one tail"),
        (7, "prefix bit aa bb cc dd ee ff"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    def run(**kw):
        return sorted(
            (r.doc_id, r.text_clean, r.n_tokens, r.n_removed)
            for r in dedup.dup_span_removed(df, **kw).collect()
        )

    # word grain, both keep_first modes, and fast hash
    for kf in (True, False):
        assert run(n=4, min_docs=2, keep_first=kf, prefilter_w=3) == run(
            n=4, min_docs=2, keep_first=kf
        )
    assert run(n=4, min_docs=2, prefilter_w=3, gram_hash="fast") == run(
        n=4, min_docs=2
    )
    # char grain (the 100 TB case the prefilter was built for)
    char_rows = [
        (1, "the price is <b>guaranteed lowest</b> here"),
        (2, "x<b>guaranteed lowest</b>y and other words"),
        (3, "nothing shared with anybody at all"),
    ]
    cdf = spark.createDataFrame(char_rows, "doc_id bigint, text string")

    def crun(**kw):
        return sorted(
            (r.doc_id, r.text_clean, r.n_tokens, r.n_removed)
            for r in dedup.dup_span_removed(cdf, grain="char", **kw).collect()
        )

    got = crun(n=12, min_docs=2, prefilter_w=8)
    assert got == crun(n=12, min_docs=2)
    assert any(nr > 0 for _, _, _, nr in got)  # the prefilter kept the dup

    # argument guards (ADVICE r12): each rejected loudly, not a
    # downstream analysis error or a silent divergence
    with _pytest.raises(ValueError, match="prefilter_w=1 must be >= 2"):
        dedup.dup_span_removed(df, n=4, prefilter_w=1)
    with _pytest.raises(ValueError, match="min_docs >= 2"):
        dedup.dup_span_removed(df, n=4, min_docs=1, prefilter_w=3)
    with _pytest.raises(ValueError, match="needs n >= prefilter_w"):
        dedup.dup_span_removed(df, n=4, prefilter_w=5)

    # selectivity: every doc but 3 and 5 shares a 4-gram run -> high
    # fraction on this duplicate-heavy fixture; the decision metric
    # the docstring tells production to measure first
    sel = dedup.prefilter_selectivity(df, n=4, prefilter_w=3)
    assert 4 / 7 <= sel <= 1.0
    nodup = spark.createDataFrame(
        [
            (i, " ".join(f"w{i}x{j}" for j in range(8)))
            for i in range(6)
        ],
        "doc_id bigint, text string",
    )
    assert dedup.prefilter_selectivity(nodup, n=4, prefilter_w=3) == 0.0
    with _pytest.raises(ValueError):
        dedup.prefilter_selectivity(df, n=4, prefilter_w=1)


def test_dup_span_removed_prefilter_auto(spark, monkeypatch):
    """prefilter_w="auto" (r16, VERDICT r15 ask #6): probes
    selectivity on a hash-sample and picks the arm — small corpus →
    no prefilter (fixed cost unamortized), large low-dup → enable,
    large dup-heavy → skip; output is byte-identical to both
    explicit arms regardless of the choice, and a bogus string
    raises."""
    import pytest as _pytest

    from mirabelle_spark.pipeline import dedup

    rows = [
        (1, "The quick   brown fox jumps over the lazy dog"),
        (2, "intro words the QUICK brown fox trailing tail here"),
        (3, "quick brown fox"),
        (4, "the quick brown fox and again the quick brown fox"),
        (5, "totally unrelated text with no shared spans at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    def run(**kw):
        return sorted(
            (r.doc_id, r.text_clean, r.n_tokens, r.n_removed)
            for r in dedup.dup_span_removed(df, n=4, min_docs=2, **kw).collect()
        )

    # tiny corpus: auto decides None (est_docs << 20k) — and parity
    # holds by construction since it IS the None plan
    assert dedup.prefilter_auto(df, n=4) is None
    assert run(prefilter_w="auto") == run()

    # force the size gate open to exercise the selectivity probe on
    # small fixtures: a low-dup corpus ENABLES (w=3 word), the
    # dup-heavy fixture above SKIPS (sampled selectivity ~1)
    monkeypatch.setattr(dedup, "_PREFILTER_AUTO_MIN_DOCS", 1)
    lowdup = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(12))) for i in range(40)]
        + [(100, "shared span alpha beta gamma delta"),
           (101, "shared span alpha beta gamma delta")],
        "doc_id bigint, text string",
    )
    # deterministic: the hash-sample is fixed, low-dup enables w=3
    assert dedup.prefilter_auto(lowdup, n=4) == 3
    dupheavy = spark.createDataFrame(
        [(i, "the exact same boilerplate sentence every time") for i in range(40)],
        "doc_id bigint, text string",
    )
    assert dedup.prefilter_auto(dupheavy, n=4) is None  # selectivity ~1
    # parity with the size gate open too (whichever arm it picked)
    assert run(prefilter_w="auto") == run()

    with _pytest.raises(ValueError, match="'auto'"):
        dedup.dup_span_removed(df, n=4, prefilter_w="fastest")


def test_dup_span_removed_detect_parity(spark):
    """detect="two_phase" pinned parity (r13, closing VERDICT r12's
    perf_weak item: the hot-gram escape hatch PERF §72 pointed at
    git history is now a selectable code path): byte-identical to
    detect="window" at both grains, across keep_first × fast hash ×
    struct-id × prefilter combos; detect="auto" picks window at
    discriminative grains (word n>=4, char n>=12) and two_phase
    below them — asserted on the PHYSICAL plan (WindowExec present
    vs absent), not just output; bogus values rejected loudly."""
    import pytest as _pytest

    from mirabelle_spark.pipeline import dedup

    rows = [
        (1, "The quick   brown fox jumps over the lazy dog"),
        (2, "intro words the QUICK brown fox trailing tail here"),
        (3, "the quick brown fox and again the quick brown fox"),
        (4, "totally unrelated text with no shared spans at all"),
        (5, "aa bb cc dd ee ff and one tail"),
        (6, "prefix bit aa bb cc dd ee ff"),
        (7, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    def run(**kw):
        return sorted(
            (r.doc_id, r.text_clean, r.n_tokens, r.n_removed)
            for r in dedup.dup_span_removed(df, **kw).collect()
        )

    for grain, n in (("word", 3), ("word", 4), ("char", 8), ("char", 14)):
        for kf in (True, False):
            w = run(n=n, grain=grain, keep_first=kf, detect="window")
            t = run(n=n, grain=grain, keep_first=kf, detect="two_phase")
            a = run(n=n, grain=grain, keep_first=kf, detect="auto")
            assert w == t == a, (grain, n, kf)
    assert any(nr > 0 for *_, nr in run(n=4, detect="two_phase"))
    # fast hash + prefilter compose with the two-phase detection
    assert run(n=4, gram_hash="fast", detect="two_phase") == run(n=4)
    assert run(n=4, prefilter_w=3, detect="two_phase") == run(n=4)
    # struct-min path (non-integral id) through two_phase
    sdf = df.selectExpr("cast(doc_id as string) doc_id", "text")
    sw = sorted(
        (r.doc_id, r.n_removed)
        for r in dedup.dup_span_removed(sdf, n=4, detect="window").collect()
    )
    st = sorted(
        (r.doc_id, r.n_removed)
        for r in dedup.dup_span_removed(sdf, n=4, detect="two_phase").collect()
    )
    assert sw == st

    # the auto heuristic routes to the plan it promises: WindowExec
    # in the executed plan iff the window detection was chosen
    def plan(**kw):
        d = dedup.dup_span_removed(df, **kw)
        return d._jdf.queryExecution().executedPlan().toString()

    assert "Window" in plan(n=4, detect="auto")          # word n>=4
    assert "Window" not in plan(n=3, detect="auto")      # word n<4
    assert "Window" in plan(n=12, grain="char", detect="auto")
    assert "Window" not in plan(n=8, grain="char", detect="auto")
    assert "Window" not in plan(n=4, detect="two_phase")

    with _pytest.raises(ValueError, match="detect must be"):
        dedup.dup_span_removed(df, n=4, detect="bogus")


def test_dup_span_removed_partitioning_invariant(spark):
    """The rewrite is a pure function of the corpus: identical
    output under 1-partition and 16-partition layouts (winner
    election is min(struct), not first-seen)."""
    from mirabelle_spark.pipeline import dedup

    rows = [
        (i, f"common span words here tail{i % 3} unique{i} filler words common span words here")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = sorted(
        (r.doc_id, r.text_clean, r.n_removed)
        for r in dedup.dup_span_removed(df.coalesce(1), n=4).collect()
    )
    b = sorted(
        (r.doc_id, r.text_clean, r.n_removed)
        for r in dedup.dup_span_removed(df.repartition(16), n=4).collect()
    )
    assert a == b
    assert any(nr > 0 for _, _, nr in a)


def test_bpe_batched_exact_equals_serial(spark):
    """batch>1 exact mode is bit-equal to the canonical batch=1 loop
    on corpora built to stress every safe-batch fence: merge chains
    (output feeding the next merge), weight ties between overlapping
    and disjoint pairs, and symbol runs."""
    from mirabelle_spark.pipeline import text as tx

    corpora = [
        # chain-heavy: one dominant word forces sequential merges
        ["watch watch watch watch batch batch scan scan order order"],
        # tie-heavy: many pairs at identical weights
        ["ab cd ef gh ij kl mn op ab cd ef gh ij kl mn op"],
        # runs of identical symbols
        ["aaaa aaa aaaaaa bbbb bb aabb"],
        # mixed
        ["low lower lowest newer newest wider widest low low new"],
    ]
    for words in corpora:
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(words)], "doc_id bigint, text string"
        )
        for n in (4, 10, 16):
            serial = tx.bpe_train(df, n_merges=n, batch=1)
            for b in (4, 8):
                batched = tx.bpe_train(df, n_merges=n, batch=b)
                assert batched == serial, (words, n, b)


def test_bpe_batched_self_pair_fence(spark):
    """Regression (r10 advice, high): a kept SELF-pair (a,a) bounds
    its own created pair (aa,a)/(a,aa), which the tie scan excludes
    as a kept pair — so pairs kept after it in the same batch could
    diverge from the serial order. Both corpora below diverged
    before the self-pair fence ended the batch at the self-pair:
    serial puts the chain continuation (bb,b)/(aa,a) SECOND, the
    unfenced batch hoisted the disjoint (a,c)/(c,b) ahead of it."""
    from mirabelle_spark.pipeline import text as tx

    corpora = [
        ["a"] * 5 + ["abbb"] * 5 + ["acbac"] * 4 + ["b"] * 5
        + ["bbbc"] * 4 + ["cab"] * 2,
        ["aaacb"] * 2 + ["cbcaaa"] * 4,
    ]
    for words in corpora:
        df = spark.createDataFrame([(" ".join(words),)], "text string")
        serial = tx.bpe_train(df, n_merges=6, batch=1)
        # the divergence was a reorder of an early self-pair chain
        assert any(a == b for a, b in serial[:2]), serial
        for b in (4, 8):
            assert tx.bpe_train(df, n_merges=6, batch=b) == serial, (
                words[:3],
                b,
            )


def test_bpe_4k_merges_end_to_end(spark):
    """Real vocab depth (r10 verdict ask #5; PERF §63): 4096 merges
    trained end-to-end on a synthetic 8k-word corpus in fast mode
    (batch=128, exact=False) and applied with the constant-depth
    chunked path. Pins the 32k cost model: rounds ~ merges/50 (78
    measured — NOT thousands), every word reassembles from its
    tokens, real compression happens, and the fast head tracks the
    canonical trainer (first merge == serial argmax always; merge-
    set overlap and segmentation agreement floors at depth 128 from
    the measured run)."""
    import random

    import pyspark.sql.functions as F

    from mirabelle_spark.pipeline import text as tx

    rng = random.Random(42)
    sylls = [c + v for c in "bcdfghjklmnpqrstvwz" for v in "aeiou"]
    sylls += [
        c + v + c2
        for c, v, c2 in zip("bcdfghjklmn" * 9, "aeiou" * 20, "rstlnmpkd" * 11)
    ][:60]
    vocab_words = set()
    while len(vocab_words) < 8000:
        vocab_words.add(
            "".join(rng.choice(sylls) for _ in range(rng.randint(2, 4)))
        )
    words = []
    for w in sorted(vocab_words):
        words.extend([w] * rng.randint(2, 5))
    rng.shuffle(words)
    docs = [(i // 500, " ".join(words[i : i + 500]))
            for i in range(0, len(words), 500)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")

    stats = {}
    merges = tx.bpe_train(
        df, n_merges=4096, batch=128, exact=False, min_weight=2, stats=stats
    )
    assert len(merges) == 4096
    assert stats["rounds"] <= 120, stats["rounds"]  # measured 78

    vocab = df.select(F.explode(F.split("text", " ")).alias("word")).distinct()
    seg = tx.bpe_apply_chunked(vocab, merges, chunk=200)
    prof = seg.select(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.size("toks")).alias("tw"),
        F.sum((F.concat_ws("", "toks") != F.col("word")).cast("int")).alias("bad"),
    ).first()
    assert prof.n == 8000
    assert prof.bad == 0            # every word reassembles exactly
    assert prof.tw <= 3.0, prof.tw  # real compression (measured 2.25)

    # fast head vs the canonical trainer at a shared depth
    P = 128
    exactP = tx.bpe_train(df, n_merges=P, batch=8, exact=True, min_weight=2)
    fastP = merges[:P]
    assert exactP[0] == fastP[0]  # serial argmax always leads
    assert len(set(exactP) & set(fastP)) >= 60  # measured 75
    a = tx.bpe_apply_chunked(vocab, exactP, out="t_e")
    b = tx.bpe_apply_chunked(vocab, fastP, out="t_f")
    agree = (
        a.join(b, "word")
        .select(F.avg((F.col("t_e") == F.col("t_f")).cast("double")))
        .first()[0]
    )
    assert agree >= 0.2, agree  # measured 0.269


def test_bpe_batched_cuts_rounds(spark):
    """Round-count accounting: exact mode cuts driver rounds below
    n_merges on the gate corpus; fast mode (exact=False) cuts them
    >= 4x (the r9-verdict scale bar) while every batch stays
    symbol-disjoint."""
    from mirabelle_spark.pipeline import text as tx
    from mirabelle_spark.queries_pipeline import docs

    d = docs(spark, "/root/testdata/sf0.001")
    n = 24
    s1, se, sf = {}, {}, {}
    serial = tx.bpe_train(d, n_merges=n, batch=1, stats=s1)
    exact = tx.bpe_train(d, n_merges=n, batch=8, stats=se)
    fast = tx.bpe_train(d, n_merges=n, batch=8, exact=False, stats=sf)
    assert exact == serial
    assert s1["rounds"] == n
    assert se["rounds"] < n
    assert sf["rounds"] * 4 <= s1["rounds"], (s1["rounds"], sf["rounds"])
    # fast batches are symbol-disjoint within each round (weights
    # exact at apply time); reconstruct per-round symbol sets
    i = 0
    for size in sf["batch_sizes"]:
        syms = set()
        for a, b in fast[i : i + size]:
            assert not ({a, b, a + b} & syms), (a, b)
            syms |= {a, b, a + b}
        i += size
    # fast mode still yields a working tokenizer: apply segments the
    # corpus vocabulary into subwords that reassemble each word
    from pyspark.sql import functions as F

    seg = (
        d.select(F.explode(F.split(F.trim(F.regexp_replace(
            F.lower(F.col("text")), r"\s+", " ")), " ")).alias("word"))
        .filter(F.length("word") >= 1).distinct()
        .select("word", tx.bpe_apply(F.col("word"), fast).alias("toks"))
    )
    bad = seg.filter(F.concat_ws("", "toks") != F.col("word")).count()
    assert bad == 0


def test_winnow_fast_mode_overlap(spark):
    """Dual-path equivalence pin for winnowing (r10; the minhash
    convention): the xxhash64 fast path keeps recall >= 0.95 of the
    md5 portable path's pairs at sf0.001/sf0.01 (measured: 1.0 at
    both; sf0.1 measured 0.83 recall / 0.72 Jaccard, recorded in
    PERF §56). Both paths sample window minima of DIFFERENT hash
    families, so threshold-adjacent pairs (shared == min_shared)
    flip — the MOSS >=w+k-1-shared-run guarantee holds within each
    path, not across them."""
    from mirabelle_spark.pipeline import dedup
    from mirabelle_spark.queries_pipeline import docs

    for sf in ("0.001", "0.01"):
        d = docs(spark, f"/root/testdata/sf{sf}")
        p = {(r.id_a, r.id_b) for r in dedup.winnow_dedup_pairs(d).collect()}
        f = {(r.id_a, r.id_b)
             for r in dedup.winnow_dedup_pairs(d, gram_hash="fast").collect()}
        assert p  # non-vacuous: the corpus has winnow pairs
        recall = len(p & f) / len(p)
        jac = len(p & f) / len(p | f)
        assert recall >= 0.95, (sf, recall)
        assert jac >= 0.9, (sf, jac)


def test_trained_ivfpq_recall_sf01_and_sf1(spark):
    """Recall@5 vs EXACT-L2 ground truth (numpy, id-lexsort ties)
    for the TRAINED IVF-PQ stack (VERDICT r9 ask #6; metric
    corrected in-round — the first harness compared against cosine
    brute force and manufactured a fake sf1 saturation, PERF §57).
    Measured values pinned as floors: sf0.1 0.28 raw / 0.50 at
    rerank=50; sf1 (20k codes, when the bench's cached synthesis
    exists) 0.66 raw / 1.00 reranked — the clustered sf1 corpus
    puts every true neighbor inside the probed cells' ADC top-50,
    so the refinement is exact there."""
    import os

    import numpy as np
    import pyspark.sql.functions as F

    from mirabelle_spark.pipeline import ann
    from mirabelle_spark.pipeline.ivf_centroids_trained import (
        TRAINED_IVF_CENTROIDS,
    )
    from mirabelle_spark.pipeline.pq_codebooks_trained import (
        TRAINED_PQ_CODEBOOKS,
    )
    from mirabelle_spark.queries_pipeline import embs

    def recall(path, rerank):
        e = embs(spark, path)
        rows = {r.vec_id: np.array(r.embedding, dtype=np.float64)
                for r in e.collect()}
        ids = sorted(rows)
        mat = np.array([rows[i] for i in ids])
        exact = {}
        for qid in range(10):
            d = ((mat - rows[qid]) ** 2).sum(1)
            order = np.lexsort((ids, d))
            exact[qid] = {ids[i] for i in order[:5]}
        q = e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got: dict = {}
        for r in ann.ivfpq_topk(
            e, q, TRAINED_PQ_CODEBOOKS, TRAINED_IVF_CENTROIDS,
            k=5, nprobe=3, rerank=rerank,
        ).collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        return sum(len(exact[i] & got.get(i, set())) for i in range(10)) / 50

    assert recall("/root/testdata/sf0.1", 0) >= 0.25
    assert recall("/root/testdata/sf0.1", 50) >= 0.45

    sf1 = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".cache", "sf1")
    if os.path.exists(os.path.join(sf1, "_DONE")):
        assert recall(sf1, 0) >= 0.6
        assert recall(sf1, 50) >= 0.95

def test_ivfpq_rerank_auto_window(spark):
    """rerank="auto" sizes the refinement window WITH the probe
    width — max(10k, 7·k·nprobe) — because PERF §57 measured that
    widening nprobe under a fixed window lowers recall (the wider
    pool displaces true neighbors from the fixed ADC top-R). Pinned:
    auto == the explicit window, and a bogus rerank raises."""
    import pytest
    import pyspark.sql.functions as F

    from mirabelle_spark.pipeline import ann
    from mirabelle_spark.pipeline.ivf_centroids_trained import (
        TRAINED_IVF_CENTROIDS,
    )
    from mirabelle_spark.pipeline.pq_codebooks_trained import (
        TRAINED_PQ_CODEBOOKS,
    )
    from mirabelle_spark.queries_pipeline import embs

    e = embs(spark, "/root/testdata/sf0.001")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(k=5, nprobe=3, codebooks=TRAINED_PQ_CODEBOOKS,
              centroids=TRAINED_IVF_CENTROIDS)
    auto = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann.ivfpq_topk(e, q, rerank="auto", **kw).collect()
    )
    explicit = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann.ivfpq_topk(
            e, q, rerank=max(10 * 5, 7 * 5 * 3), **kw
        ).collect()
    )
    assert auto == explicit and auto
    with pytest.raises(ValueError, match="rerank"):
        ann.ivfpq_topk(e, q, rerank="always", **kw)


def test_tfidf_ln_option(spark):
    """idf="ln" (classic tf·ln(N/df)) vs the rational default on a
    corpus where the two RANKINGS genuinely differ: in doc 0,
    'common' has tf=2,df=4 (rational 0.5, ln-score 2·ln(8/4)=1.386)
    while 'unique0' has tf=1,df=1 (rational 1.0, ln-score ln(8)=
    2.079) — both rank unique0 first; but 'semi' tf=3,df=2
    (rational 1.5, ln 3·ln4=4.159) overtakes unique0 under ln while
    staying ABOVE... construct so the argmax flips: compare full
    top-1 maps."""
    from mirabelle_spark.pipeline import text as tx

    # 8 docs; doc 0 holds: 'common' x4 (df=8), 'rare' x1 (df=2)
    # rational: rare = 1/2 = 0.5  > common = 4/8 = 0.5 -> tie,
    # token-asc gives 'common'.
    # ln(N=8): common = 4*ln(1) = 0 < rare = ln(4) = 1.386 -> 'rare'.
    rows = [(0, "common common common common rare")]
    for i in range(1, 8):
        rows.append((i, "common" + (" rare" if i == 1 else "")))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    rat = {r.doc_id: r.token
           for r in tx.tfidf_top_terms(df, n=1, idf="rational").collect()}
    ln = {r.doc_id: r.token
          for r in tx.tfidf_top_terms(df, n=1, idf="ln").collect()}
    assert rat[0] == "common"  # 4/8 == 1/2 tie -> token asc
    assert ln[0] == "rare"     # ln kills df=N tokens entirely
    assert rat != ln

    import pytest

    with pytest.raises(ValueError):
        tx.tfidf_top_terms(df, idf="bogus")


def test_bpe_apply_chunked_equals_apply(spark):
    """The segment-table apply (chunked replace projections +
    localCheckpoint, the 32k-merge path) yields tokens identical to
    the in-row replace chain for the 48-merge pinned artifact at a
    chunk size that forces 10 chunks."""
    import pyspark.sql.functions as F

    from mirabelle_spark.pipeline import text as tx
    from mirabelle_spark.pipeline.bpe_merges_trained import BPE_MERGES
    from mirabelle_spark.queries_pipeline import docs

    d = docs(spark, "/root/testdata/sf0.001")
    words = (
        d.select(F.explode(F.split(F.trim(F.regexp_replace(
            F.lower(F.col("text")), r"\s+", " ")), " ")).alias("word"))
        .filter(F.length("word") >= 1).distinct()
    )
    direct = {
        r.word: list(r.t)
        for r in words.select(
            "word", tx.bpe_apply(F.col("word"), BPE_MERGES).alias("t")
        ).collect()
    }
    chunked = {
        r.word: list(r.toks)
        for r in tx.bpe_apply_chunked(words, BPE_MERGES, chunk=5).collect()
    }
    assert chunked == direct and len(direct) > 10


def test_ivfpq_cosine_mode_equals_cosine_bruteforce(spark):
    """metric="cosine" at nprobe=nlist with rerank >= |corpus| is
    provably the exact cosine top-k (unit vectors: d² = 2 − 2·cos,
    ties id-asc in both): pin set-equality per query against
    brute_force_topk on sf0.01, and sane recall at fractional
    probes."""
    import pyspark.sql.functions as F

    from mirabelle_spark.pipeline import ann
    from mirabelle_spark.pipeline.ivf_centroids_trained import (
        TRAINED_IVF_CENTROIDS,
    )
    from mirabelle_spark.pipeline.pq_codebooks_trained import (
        TRAINED_PQ_CODEBOOKS,
    )
    from mirabelle_spark.queries_pipeline import embs

    e = embs(spark, "/root/testdata/sf0.01")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n = e.count()
    exact = {}
    for r in ann.brute_force_topk(e, q, k=5).collect():
        exact.setdefault(r.query_id, []).append((r.rank, r.vec_id))
    got = {}
    for r in ann.ivfpq_topk(
        e, q, TRAINED_PQ_CODEBOOKS, TRAINED_IVF_CENTROIDS,
        k=5, nprobe=len(TRAINED_IVF_CENTROIDS), rerank=n, metric="cosine",
    ).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id))
    assert {k: sorted(v) for k, v in got.items()} == {
        k: sorted(v) for k, v in exact.items()
    }

    # fractional probe: still cosine-metric, recall measured not pinned high
    part = {}
    for r in ann.ivfpq_topk(
        e, q, TRAINED_PQ_CODEBOOKS, TRAINED_IVF_CENTROIDS,
        k=5, nprobe=3, rerank=50, metric="cosine",
    ).collect():
        part.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(
        len(part.get(qid, set()) & {v for _, v in exact[qid]}) for qid in exact
    )
    assert hits >= 0.4 * 50, hits

    import pytest

    with pytest.raises(ValueError):
        ann.ivfpq_topk(e, q, TRAINED_PQ_CODEBOOKS, TRAINED_IVF_CENTROIDS,
                       metric="dot")


def test_pq_cosine_mode_equals_cosine_bruteforce(spark):
    """pq_topk(metric="cosine") with rerank >= |corpus| equals the
    exact cosine top-k (same unit-vector argument as the ivfpq
    pin)."""
    import pyspark.sql.functions as F

    from mirabelle_spark.pipeline import ann
    from mirabelle_spark.pipeline.pq_codebooks_trained import (
        TRAINED_PQ_CODEBOOKS,
    )
    from mirabelle_spark.queries_pipeline import embs

    e = embs(spark, "/root/testdata/sf0.01")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n = e.count()
    exact = {}
    for r in ann.brute_force_topk(e, q, k=5).collect():
        exact.setdefault(r.query_id, set()).add((r.rank, r.vec_id))
    got = {}
    for r in ann.pq_topk(
        e, q, TRAINED_PQ_CODEBOOKS, k=5, rerank=n, metric="cosine"
    ).collect():
        got.setdefault(r.query_id, set()).add((r.rank, r.vec_id))
    assert got == exact


def test_quality_logreg_trainer(spark):
    """The engine-trained quality classifier (r11): full-batch GD
    with decimal-exact gradient sums. Pins (a) loss strictly
    decreases over a short run, (b) bit-identical weights under
    1-partition vs 16-partition layouts (order-free sums), (c) the
    raw-space fold-back scores like the standardized model it came
    from, reaching the accuracy floor vs the weak labels."""
    import pyspark.sql.functions as F

    from mirabelle_spark.pipeline import text as tx
    from mirabelle_spark.queries_pipeline import docs

    d = docs(spark, "/root/testdata/sf0.001")
    s1, s2 = {}, {}
    w1, b1 = tx.train_quality_logreg(
        d.coalesce(1), dim=8, iters=6, lr=2.0, stats=s1
    )
    w2, b2 = tx.train_quality_logreg(
        d.repartition(16), dim=8, iters=6, lr=2.0, stats=s2
    )
    assert (w1, b1) == (w2, b2)  # bit-identical across layouts
    assert s1["loss"] == s2["loss"]
    assert s1["loss"][-1] < s1["loss"][0]
    assert all(
        a >= b for a, b in zip(s1["loss"], s1["loss"][1:])
    ), s1["loss"]


def test_trained_logreg_match_pinned(spark):
    """Pin contract for logreg_quality_docs: re-running
    train_quality_logreg at the recorded hyperparameters reproduces
    logreg_quality_trained.py exactly, and the pinned model clears
    the accuracy floor vs its weak labels on the training corpus."""
    import pyspark.sql.functions as F

    from mirabelle_spark.pipeline import text as tx
    from mirabelle_spark.pipeline.logreg_quality_trained import (
        TRAIN_DIM, TRAIN_ITERS, TRAIN_LR, TRAIN_SF_DIR,
        TRAINED_LOGREG_B, TRAINED_LOGREG_W,
    )
    from mirabelle_spark.queries_pipeline import docs

    d = docs(spark, TRAIN_SF_DIR)
    w, b = tx.train_quality_logreg(
        d, dim=TRAIN_DIM, iters=TRAIN_ITERS, lr=TRAIN_LR
    )
    assert w == TRAINED_LOGREG_W and b == TRAINED_LOGREG_B

    scored = tx.quality_logreg_score(
        d, TRAINED_LOGREG_W, TRAINED_LOGREG_B, dim=TRAIN_DIM
    )
    labeled = tx.quality_features(d, dim=TRAIN_DIM).select(
        "doc_id", "__y__"
    )
    acc = (
        scored.join(labeled, "doc_id")
        .select(
            (F.col("accepted").cast("double") == F.col("__y__"))
            .cast("double")
            .alias("ok")
        )
        .agg(F.avg("ok"))
        .first()[0]
    )
    assert acc >= 0.95, acc  # measured 0.988; majority class is 0.788


def test_semdedup_matches_pure_python(spark):
    """SemDeDup (Abbas et al. 2023) against an independent pure-
    numpy transcription of the whole decision procedure on sf0.001:
    centroid assignment (first argmin), within-cluster order by
    (centroid_sim asc, id), drop iff ANY earlier-ordered cluster-
    mate sits at cosine >= tau (kept or not — the paper's
    traversal-order semantics). The survivor SET and each
    survivor's cluster must match exactly, and the result must be
    invariant to input partitioning."""
    import numpy as np

    from mirabelle_spark.pipeline import ann
    from mirabelle_spark.pipeline.ivf_centroids_trained import (
        TRAINED_IVF_CENTROIDS,
    )

    tau = 0.35
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {
        r.vec_id: r.cell
        for r in ann.semdedup(emb, TRAINED_IVF_CENTROIDS, threshold=tau).collect()
    }

    rows = sorted((r.vec_id, list(r.embedding)) for r in emb.collect())
    ids = [i for i, _ in rows]
    V = np.array([v for _, v in rows], dtype=np.float64)
    C = np.array(TRAINED_IVF_CENTROIDS, dtype=np.float64)
    cell = ((V[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
    nv = np.linalg.norm(V, axis=1)
    csim = (V * C[cell]).sum(1) / (nv * np.linalg.norm(C[cell], axis=1))
    want: dict[int, int] = {}
    for c in range(len(C)):
        members = sorted(
            (i for i in range(len(ids)) if cell[i] == c),
            key=lambda i: (csim[i], ids[i]),
        )
        for pos, i in enumerate(members):
            if not any(
                V[i] @ V[j] / (nv[i] * nv[j]) >= tau for j in members[:pos]
            ):
                want[ids[i]] = c
    assert got == want
    assert 0 < len(got) < len(ids)  # drops happened, survivors exist

    got_rep = {
        r.vec_id: r.cell
        for r in ann.semdedup(
            emb.repartition(7), TRAINED_IVF_CENTROIDS, threshold=tau
        ).collect()
    }
    assert got_rep == got


def test_trained_bigram_lm_match_pinned(spark):
    """Pin contract for the bigram LM artifact (r13): re-running
    train_bigram_lm with the recorded hyperparameters reproduces
    bigram_lm_trained.py exactly, and the trainer is partitioning-
    invariant (exact integer counts, lexicographic tie-breaks, log2
    once on the driver)."""
    from mirabelle_spark.pipeline import lm
    from mirabelle_spark.pipeline.bigram_lm_trained import (
        TRAIN_BACKOFF_BITS, TRAIN_SF_DIR, TRAIN_TOP_BIGRAMS,
        TRAIN_TOP_UNIGRAMS, TRAINED_LM,
    )
    from mirabelle_spark.queries_pipeline import docs

    d = docs(spark, TRAIN_SF_DIR)
    m = lm.train_bigram_lm(
        d, top_bigrams=TRAIN_TOP_BIGRAMS,
        top_unigrams=TRAIN_TOP_UNIGRAMS,
        backoff_bits=TRAIN_BACKOFF_BITS,
    )
    assert m == TRAINED_LM
    m2 = lm.train_bigram_lm(
        d.repartition(13), top_bigrams=TRAIN_TOP_BIGRAMS,
        top_unigrams=TRAIN_TOP_UNIGRAMS,
        backoff_bits=TRAIN_BACKOFF_BITS,
    )
    assert m2 == TRAINED_LM


def test_lm_validate_makes_duplicate_ids_loud(spark):
    """The scorer id contract's loud form (r15, VERDICT r14 ask #7):
    without validate, the join strategy SILENTLY merges duplicate
    (id, keep_cols) rows into one summed score (the documented
    failure mode); with validate=True the same input raises a
    ValueError naming an offender, on lm_bits and lm3_bits alike. A
    unique input passes validation unchanged."""
    import pytest as _pytest

    from mirabelle_spark.pipeline import lm, lm3
    from mirabelle_spark.pipeline.bigram_lm_trained import TRAINED_LM
    from mirabelle_spark.pipeline.trigram_lm_trained import TRAINED_LM3

    dup = spark.createDataFrame(
        [(1, "the data stream"), (1, "a window value"), (2, "agg fast batch")],
        "doc_id bigint, text string",
    )
    # the silent merge: doc 1's two rows come back as ONE summed row
    merged = lm.lm_bits(dup, TRAINED_LM, strategy="join").collect()
    assert len(merged) == 2
    one = {r.doc_id: r.n_bigrams for r in merged}
    assert one[1] == 4  # 2 + 2 pairs summed across the duplicates

    with _pytest.raises(ValueError, match="not .*row-unique|row-unique"):
        lm.lm_bits(dup, TRAINED_LM, strategy="join", validate=True)
    with _pytest.raises(ValueError, match="row-unique"):
        lm3.lm3_bits(dup, TRAINED_LM3, validate=True)
    with _pytest.raises(ValueError, match="row-unique"):
        lm.lm_quality(dup, TRAINED_LM, 4.91, validate=True)
    with _pytest.raises(ValueError, match="row-unique"):
        lm3.lm3_quality(dup, TRAINED_LM3, 8.57, validate=True)

    uniq = spark.createDataFrame(
        [(1, "the data stream"), (2, "a window value")],
        "doc_id bigint, text string",
    )
    got = lm.lm_bits(uniq, TRAINED_LM, strategy="join", validate=True)
    assert got.count() == 2
    # keep_cols participate in the key: duplicates disambiguated by a
    # keep column pass validation
    keyed = spark.createDataFrame(
        [(1, "en", "the data stream"), (1, "fr", "a window value")],
        "doc_id bigint, lang string, text string",
    )
    assert lm.lm_bits(
        keyed, TRAINED_LM, keep_cols=("lang",), strategy="join",
        validate=True,
    ).count() == 2


def test_lm_bits_matches_python_reference(spark):
    """lm_bits == a pure-Python transcription of the pruned-LM
    scorer on a fixture built to hit ALL THREE cost branches
    (pinned bigram, unigram backoff, OOV), plus the empty/1-token
    zero rows and the exact-integer gate arithmetic of
    lm_quality."""
    import re

    from mirabelle_spark.pipeline import lm

    rows = [
        (1, "the quick brown fox the quick brown dog"),
        (2, "the quick red fox jumps high"),        # backoff + OOV
        (3, "zz yy xx ww"),                          # all-OOV
        (4, ""),                                     # zero row
        (5, "single"),                               # zero row
        (6, "the quick the quick the quick brown"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    m = lm.train_bigram_lm(df, top_bigrams=4, top_unigrams=3)
    # the pruned model must NOT cover everything, or the backoff and
    # OOV branches go untested
    assert len(m["bigrams"]) == 4 and len(m["unigrams"]) == 3

    bmap = {(a, b): v for a, b, v in m["bigrams"]}
    umap = dict(m["unigrams"])

    def ref(text):
        w = [t for t in re.split(r"\s+", text.strip().lower()) if t]
        bits = sum(
            bmap.get((w[i], w[i + 1]), umap.get(w[i + 1], m["oov_e9"]))
            for i in range(len(w) - 1)
        )
        return (max(len(w) - 1, 0), bits if len(w) >= 2 else 0)

    exp = {i: ref(t) for i, t in rows}
    for strategy in ("auto", "fold", "join"):
        got = {
            r.doc_id: (r.n_bigrams, r.bits_e9)
            for r in lm.lm_bits(df, m, strategy=strategy).collect()
        }
        assert got == exp, strategy
    # all three branches fired: doc 3 is pure OOV; doc 2 mixes
    # pinned, backoff, and OOV costs so it sits strictly between
    # doc 1 (mostly pinned) and an all-OOV doc of its length
    assert exp[3][1] == 3 * m["oov_e9"]
    assert exp[1][1] < exp[2][1] < 5 * m["oov_e9"]

    # gate arithmetic: integer cross-multiplication, no division
    thr = 5.0
    kept = {
        r.doc_id
        for r in lm.lm_quality(df, m, thr, min_bigrams=3).collect()
    }
    t_e9 = round(thr * 1_000_000_000)
    exp_kept = {
        i for i, (n, b) in exp.items() if n >= 3 and b <= t_e9 * n
    }
    assert kept == exp_kept


def test_trained_dsir_match_pinned(spark):
    """Pin contract for the DSIR artifact: re-running train_dsir
    with the recorded hyperparameters reproduces
    dsir_logratios_trained.py bit-for-bit, and the trainer is
    partitioning-invariant (exact integer counts; ln happens once
    on the driver)."""
    from pyspark.sql import functions as F

    from mirabelle_spark.pipeline import sampling
    from mirabelle_spark.pipeline.dsir_logratios_trained import (
        TRAIN_DIM, TRAIN_SF_DIR, TRAIN_TARGET_LANG, TRAINED_DSIR_W,
    )
    from mirabelle_spark.queries_pipeline import docs

    d = docs(spark, TRAIN_SF_DIR)
    w = sampling.train_dsir(
        d, target=F.col("lang") == TRAIN_TARGET_LANG, dim=TRAIN_DIM
    )
    assert w == TRAINED_DSIR_W
    w2 = sampling.train_dsir(
        d.repartition(13), target=F.col("lang") == TRAIN_TARGET_LANG, dim=TRAIN_DIM
    )
    assert w2 == TRAINED_DSIR_W


def test_dsir_selection_enriches_target(spark):
    """The selected head must be ENRICHED in the target domain
    relative to the corpus base rate — the whole point of DSIR.
    Measured: 61/100 en vs 43.6% base on sf0.01."""
    from pyspark.sql import functions as F

    from mirabelle_spark.pipeline import sampling
    from mirabelle_spark.pipeline.dsir_logratios_trained import (
        TRAIN_SF_DIR, TRAIN_TARGET_LANG, TRAINED_DSIR_W,
    )
    from mirabelle_spark.queries_pipeline import docs

    d = docs(spark, TRAIN_SF_DIR)
    top = sampling.dsir_top(d, TRAINED_DSIR_W, n=100, keep=("lang",))
    top_frac = (
        top.agg(F.avg((F.col("lang") == TRAIN_TARGET_LANG).cast("double")))
        .first()[0]
    )
    base_frac = (
        d.agg(F.avg((F.col("lang") == TRAIN_TARGET_LANG).cast("double")))
        .first()[0]
    )
    assert top_frac >= base_frac + 0.1, (top_frac, base_frac)


def test_contamination_bloom_identical_and_pruning(spark):
    """The Bloom-prefiltered decontamination path must (a) return
    EXACTLY contamination()'s rows — the filter only prunes, the
    exact confirm join decides — and (b) actually prune: the
    prefiltered shingle stream must be strictly smaller than the
    raw one (else the path is a tautology). Also pins the
    no-false-negative guarantee structurally: if the filter dropped
    a true hit, (a) would fail."""
    from pyspark.sql import functions as F

    from mirabelle_spark.pipeline import sampling
    from mirabelle_spark.pipeline.dedup import word_shingles

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    corpus, bench = d.filter(F.col("doc_id") >= 5), d.filter(F.col("doc_id") < 5)
    base = {
        (r.doc_id, r.shared_shingles)
        for r in sampling.contamination(corpus, bench, min_shared=2).collect()
    }
    bloomed = {
        (r.doc_id, r.shared_shingles)
        for r in sampling.contamination_bloom(corpus, bench, min_shared=2).collect()
    }
    assert bloomed == base and len(base) > 0

    bench_sh = (
        bench.select(F.explode(word_shingles(F.col("text"), 3)).alias("__s__"))
        .select(F.xxhash64("__s__").alias("__h__"))
        .distinct()
    )
    words = sampling.bloom_build(bench_sh, "__h__", m_bits=16384, k=3)
    corpus_sh = corpus.select(
        F.explode(word_shingles(F.col("text"), 3)).alias("__s__")
    ).select(F.xxhash64("__s__").alias("__h__"))
    raw_n = corpus_sh.count()
    kept_n = corpus_sh.filter(
        sampling.bloom_might_contain(words, F.col("__h__"), 16384, k=3)
    ).count()
    assert kept_n < raw_n, (kept_n, raw_n)
    # every benchmark hash must pass its own filter (no false negatives)
    bench_n = bench_sh.count()
    bench_pass = bench_sh.filter(
        sampling.bloom_might_contain(words, F.col("__h__"), 16384, k=3)
    ).count()
    assert bench_pass == bench_n


def test_gate_exprs_match_score_membership(spark):
    """The one-pass membership folds (dsir_gate_expr,
    quality_gate_expr) must select EXACTLY the rows their bit-exact
    score twins select, and the corpus must sit far from the
    thresholds relative to FP reassociation (the folds differ from
    the bucket-order dots only by association, ~1e-16 relative;
    measured margins: DSIR 3.4e-6 at sf0.1, logit 7.8e-3)."""
    from pyspark.sql import functions as F

    from mirabelle_spark.pipeline import sampling, text as tx
    from mirabelle_spark.pipeline.dsir_logratios_trained import (
        TRAINED_DSIR_W,
    )
    from mirabelle_spark.pipeline.logreg_quality_trained import (
        TRAIN_DIM, TRAINED_LOGREG_B, TRAINED_LOGREG_W,
    )
    from mirabelle_spark.pipeline.text import _logit_expr

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

    ds = sampling.dsir_score(d, TRAINED_DSIR_W)
    want = {r.doc_id for r in ds.filter(F.col("dsir_logw") >= 0.0).collect()}
    got = {
        r.doc_id
        for r in d.filter(sampling.dsir_gate_expr(TRAINED_DSIR_W) >= 0.0)
        .select("doc_id")
        .collect()
    }
    assert got == want and 0 < len(got) < d.count()
    margin = ds.agg(F.min(F.abs("dsir_logw"))).first()[0]
    assert margin > 1e-9, margin

    X = tx.quality_features(d, dim=TRAIN_DIM)
    zb = X.select(
        "doc_id",
        F.expr(_logit_expr(TRAINED_LOGREG_W, TRAINED_LOGREG_B)).alias("z"),
    )
    want_m = {r.doc_id for r in zb.filter(F.col("z") > 0).collect()}
    got_m = {
        r.doc_id
        for r in d.filter(
            tx.quality_gate_expr(
                TRAINED_LOGREG_W, TRAINED_LOGREG_B, dim=TRAIN_DIM
            )
            > 0
        )
        .select("doc_id")
        .collect()
    }
    assert got_m == want_m and 0 < len(got_m) < d.count()
    margin_m = zb.agg(F.min(F.abs("z"))).first()[0]
    assert margin_m > 1e-9, margin_m


def test_semdedup_arrow_mode_matches_fold(spark):
    """The BLAS pairwise engine (pairs="arrow": per-cluster blocked
    GEMM via applyInPandas) must produce the identical survivor set
    as the oracle-twinned Catalyst fold mode — BLAS reassociation
    only matters within ~1e-15 of the threshold, far inside the
    corpus margins. Checked at two SFs."""
    from mirabelle_spark.pipeline import ann
    from mirabelle_spark.pipeline.ivf_centroids_trained import (
        TRAINED_IVF_CENTROIDS,
    )

    for sfd in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        e = spark.read.parquet(f"{sfd}/embeddings.parquet")
        fold = {
            (r.vec_id, r.cell)
            for r in ann.semdedup(
                e, TRAINED_IVF_CENTROIDS, threshold=0.35, pairs="fold"
            ).collect()
        }
        arrow = {
            (r.vec_id, r.cell)
            for r in ann.semdedup(
                e, TRAINED_IVF_CENTROIDS, threshold=0.35, pairs="arrow"
            ).collect()
        }
        assert arrow == fold and fold


def test_semdedup_modes_agree_on_string_ids_and_nulls(spark):
    """ADVICE r11 parity pins: (a) a non-bigint id column (string
    ids) must work in BOTH pair engines — the arrow output schema
    derives the id type from the input; (b) null embedding rows
    survive in both modes (fold: null dot filters to false; arrow:
    nulls are excluded from the GEMM and kept), never crash."""
    from pyspark.sql import functions as F

    from mirabelle_spark.pipeline import ann
    from mirabelle_spark.pipeline.ivf_centroids_trained import (
        TRAINED_IVF_CENTROIDS,
    )

    e = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .withColumn("sid", F.concat(F.lit("doc-"), F.col("vec_id")))
        .withColumn(
            "embedding",
            F.when(F.col("vec_id") % 17 == 0, F.lit(None)).otherwise(
                F.col("embedding")
            ),
        )
    )
    n_null = e.filter(F.col("embedding").isNull()).count()
    assert n_null > 0
    fold = {
        (r.sid, r.cell)
        for r in ann.semdedup(
            e, TRAINED_IVF_CENTROIDS, threshold=0.35, id_col="sid", pairs="fold"
        ).collect()
    }
    arrow = {
        (r.sid, r.cell)
        for r in ann.semdedup(
            e, TRAINED_IVF_CENTROIDS, threshold=0.35, id_col="sid", pairs="arrow"
        ).collect()
    }
    assert arrow == fold and fold
    # every null-embedding row survives in both
    null_ids = {
        r.sid for r in e.filter(F.col("embedding").isNull()).select("sid").collect()
    }
    assert null_ids <= {s for s, _ in fold}


def test_vocab_cardinality_approx_within_5pct(spark):
    """The documented 100 TB swap for vocab_cardinality_by_lang:
    approx_count_distinct (HyperLogLog++) must land within 5% of
    the exact count on every language — pins that the one-word
    swap is actually safe at the advertised accuracy."""
    from pyspark.sql import functions as F

    from mirabelle_spark.pipeline.text import tokens

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    t = d.select(
        "lang",
        F.explode(
            F.filter(tokens(F.col("text")), lambda x: x != F.lit(""))
        ).alias("tok"),
    )
    rows = t.groupBy("lang").agg(
        F.count_distinct("tok").alias("exact"),
        F.approx_count_distinct("tok").alias("approx"),
    ).collect()
    assert rows
    for r in rows:
        assert abs(r.approx - r.exact) <= 0.05 * r.exact, (r.lang, r.exact, r.approx)


def test_temperature_sample_flattens_head(spark):
    """Square-root temperature sampling must DOWN-sample the head
    group more than the tail: the kept fraction of the largest
    language is strictly below the kept fraction of the smallest,
    and every group's kept fraction tracks floor(scale*sqrt(cnt))/100
    exactly (deterministic hash buckets, not randomness)."""
    import math

    from pyspark.sql import functions as F

    from mirabelle_spark.pipeline import sampling

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = sampling.temperature_sample(d, scale=600.0)
    base = {r.lang: r.c for r in d.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    kept = {r.lang: r.c for r in out.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    frac = {g: kept.get(g, 0) / base[g] for g in base}
    head = max(base, key=base.get)
    tail = min(base, key=base.get)
    assert frac[head] < frac[tail], frac
    # expected keep-rate per group is the exact bucket threshold
    for g, n in base.items():
        thr = min(100, math.floor(600.0 / math.sqrt(n)))
        # realized fraction within 1/buckets granularity noise of thr/100
        assert abs(frac[g] - thr / 100) <= 0.15, (g, frac[g], thr)


def test_containment_catches_what_jaccard_misses(spark):
    """The reason containment exists: a short document embedded
    verbatim in a much longer one has low Jaccard (|∩|/|∪| diluted
    by the container's extra shingles) but containment ≈ 1. On a
    crafted corpus the Jaccard pipeline (threshold 0.5) must MISS
    the pair and the containment pipeline must CATCH it — and the
    containment value must be exactly |A∩B|/min(|A|,|B|)."""
    from mirabelle_spark.pipeline import dedup

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i} mid{i} tail{i}" for i in range(40))
    container = short + " " + filler
    rows = [
        (1, short),
        (2, container),
        (3, "completely different text about other things entirely now"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")

    jac = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(d, threshold=0.5).collect()
    }
    assert (1, 2) not in jac

    cont = {
        (r.id_a, r.id_b): r.containment
        for r in dedup.ngram_containment_pairs(d, threshold=0.7).collect()
    }
    assert (1, 2) in cont
    assert cont[(1, 2)] == 1.0  # every short-doc shingle is in the container


def test_ivfpq_append_stream_matches_batch_index(spark, tmp_path):
    """Streaming index ingestion: embeddings appended across two
    micro-batches into the __cell__-partitioned layout must probe
    IDENTICALLY to a batch-written index of the same corpus — same
    top-k ids, ranks, and distances. Also pins that the streamed
    path stays partition-pruned (cell dirs exist) and that a second
    run of the same input is exactly-once (no duplicate rows)."""
    import os

    from mirabelle_spark.pipeline import ann
    from mirabelle_spark.pipeline.ivf_centroids_trained import (
        TRAINED_IVF_CENTROIDS,
    )
    from mirabelle_spark.pipeline.pq_codebooks_trained import (
        TRAINED_PQ_CODEBOOKS,
    )

    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    batch_path = str(tmp_path / "idx_batch")
    ann.ivfpq_write_index(
        emb, batch_path, TRAINED_PQ_CODEBOOKS, TRAINED_IVF_CENTROIDS
    )
    want = sorted(
        (r.query_id, r.rank, r.vec_id)
        for r in ann.ivfpq_probe_index(
            queries, batch_path, TRAINED_PQ_CODEBOOKS, TRAINED_IVF_CENTROIDS,
            k=5, nprobe=3,
        ).collect()
    )

    src = str(tmp_path / "emb_src")
    emb.where("vec_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    emb.where("vec_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    stream_path = str(tmp_path / "idx_stream")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = ann.ivfpq_append_stream(
        stream, stream_path, str(tmp_path / "ck"),
        TRAINED_PQ_CODEBOOKS, TRAINED_IVF_CENTROIDS,
    )
    q.awaitTermination()
    got = sorted(
        (r.query_id, r.rank, r.vec_id)
        for r in ann.ivfpq_probe_index(
            queries, stream_path, TRAINED_PQ_CODEBOOKS, TRAINED_IVF_CENTROIDS,
            k=5, nprobe=3,
        ).collect()
    )
    assert got == want and len(got) == 25
    assert any(d.startswith("__cell__=") for d in os.listdir(stream_path))

    # exactly-once: re-running the drained stream adds nothing
    stream2 = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q2 = ann.ivfpq_append_stream(
        stream2, stream_path, str(tmp_path / "ck"),
        TRAINED_PQ_CODEBOOKS, TRAINED_IVF_CENTROIDS,
    )
    q2.awaitTermination()
    n = spark.read.parquet(stream_path).count()
    assert n == emb.count()


def test_ivfpq_compact_index_preserves_probes(spark, tmp_path):
    """Compacting a streamed (many-small-files) index into a fresh
    directory must cut the file count and probe identically —
    the maintenance step that keeps probe listing cost flat under
    continuous ingestion."""
    from pyspark.sql import functions as F

    from mirabelle_spark.pipeline import ann
    from mirabelle_spark.pipeline.ivf_centroids_trained import (
        TRAINED_IVF_CENTROIDS,
    )
    from mirabelle_spark.pipeline.pq_codebooks_trained import (
        TRAINED_PQ_CODEBOOKS,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    src = str(tmp_path / "emb_src")
    for k in range(4):  # 4 micro-batches -> >= 4 files per touched cell
        emb.where(f"vec_id % 4 = {k}").coalesce(1).write.mode("append").parquet(src)
    streamed = str(tmp_path / "idx_streamed")
    q = ann.ivfpq_append_stream(
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", "1").parquet(src),
        streamed, str(tmp_path / "ck"),
        TRAINED_PQ_CODEBOOKS, TRAINED_IVF_CENTROIDS,
    )
    q.awaitTermination()

    compacted = str(tmp_path / "idx_compact")
    stats = ann.ivfpq_compact_index(spark, streamed, compacted)
    assert stats["rows"] == emb.count()
    assert stats["files_after"] < stats["files_before"], stats

    def probe(path):
        return sorted(
            (r.query_id, r.rank, r.vec_id)
            for r in ann.ivfpq_probe_index(
                queries, path, TRAINED_PQ_CODEBOOKS, TRAINED_IVF_CENTROIDS,
                k=5, nprobe=3,
            ).collect()
        )

    assert probe(compacted) == probe(streamed)


def test_minhash_band_keys_matches_batch_lsh(spark):
    """The in-row banded minhash (r13, the streaming near-dup
    primitive) induces EXACTLY the batch LSH bucket partition: the
    candidate-pair set derived from minhash_band_keys bucket
    co-membership equals minhash_lsh_candidates on the sf0.001
    documents table, in both shingle-hash modes; short docs emit
    the (-1, 0) sentinel; num_hashes must divide into bands."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from mirabelle_spark.pipeline import dedup
    from mirabelle_spark.queries_pipeline import docs

    df = docs(spark, "/root/testdata/sf0.001").select("doc_id", "text")
    for mode in ("portable", "fast"):
        batch = {
            (r.id_a, r.id_b)
            for r in dedup.minhash_lsh_candidates(
                df, shingle_hash=mode
            ).collect()
        }
        ex = (
            dedup.minhash_band_keys(df, shingle_hash=mode)
            .select("doc_id", F.explode("__bands__").alias("b"))
            .filter("b.band_id >= 0")
        )
        buckets = (
            ex.groupBy("b.band_id", "b.band_key")
            .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
            .filter(F.size("ids") > 1)
            .collect()
        )
        inrow = {
            (ids[i], ids[j])
            for row in buckets
            for ids in [row.ids]
            for i in range(len(ids))
            for j in range(i + 1, len(ids))
        }
        assert inrow == batch and batch, mode

    short = spark.createDataFrame(
        [(1, "one two"), (2, "")], "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: [(b.band_id, b.band_key) for b in r["__bands__"]]
        for r in dedup.minhash_band_keys(short).collect()
    }
    assert got == {1: [(-1, 0)], 2: [(-1, 0)]}

    with _pytest.raises(ValueError, match="multiple of bands"):
        dedup.minhash_band_keys(df, num_hashes=64, bands=7)


def test_trained_semdedup_centroids_match_pinned(spark):
    """The production-nlist SemDeDup quantizer
    (semdedup_centroids_trained.py, nlist=64 on sf0.1) IS the
    trainer's output: re-run train_ivf with the recorded
    hyperparameters and require bit equality — the same pin
    contract as the 8-cell demo artifact. Also pins the shape the
    artifact exists for: 64 cells, every cluster far below the
    corpus size (Σ|cluster|² priced), and the two artifacts
    differ."""
    from mirabelle_spark.pipeline import ann
    from mirabelle_spark.pipeline.ivf_centroids_trained import (
        TRAINED_IVF_CENTROIDS,
    )
    from mirabelle_spark.pipeline.semdedup_centroids_trained import (
        TRAIN_ITERS, TRAIN_NLIST, TRAIN_SF_DIR,
        TRAINED_SEMDEDUP_CENTROIDS,
    )
    from mirabelle_spark.queries_pipeline import embs

    assert TRAIN_NLIST == 64 and len(TRAINED_SEMDEDUP_CENTROIDS) == 64
    cents = ann.train_ivf(
        embs(spark, TRAIN_SF_DIR), nlist=TRAIN_NLIST, iters=TRAIN_ITERS
    )
    assert cents == TRAINED_SEMDEDUP_CENTROIDS
    assert cents != TRAINED_IVF_CENTROIDS

    # the production shape holds: at sf0.1 the largest cluster is a
    # small fraction of the corpus (the quadratic-term bound)
    from mirabelle_spark.pipeline.ann import _cell_assign, as_double_vec
    from pyspark.sql import functions as F

    e = embs(spark, TRAIN_SF_DIR).select(
        "vec_id", as_double_vec(F.col("embedding")).alias("__cv__")
    )
    sizes = (
        _cell_assign(e, TRAINED_SEMDEDUP_CENTROIDS)
        .groupBy("__cell__").count().agg(
            F.max("count").alias("mx"), F.count(F.lit(1)).alias("cells")
        ).first()
    )
    assert sizes.mx <= 400, sizes  # 2000 vecs / 64 cells, skew-tolerant
    assert sizes.cells >= 32      # >= local cores: arrow-mode floor


def test_bpe_32k_merges_end_to_end(spark):
    """FULL tokenizer depth for real (r13; the r11/r12 carried ask —
    PERF §63 measured 4,096 merges and extrapolated 32k; this runs
    it): 32,768 merges trained fast-mode (batch=256) on a 50k-
    distinct-word corpus and applied at full depth through the
    constant-depth chunked path. Pins: the round count stays
    ~merges/60 (544 measured — the batch trainer's promise at real
    vocab scale, NOT 32k serial rounds), every one of the 50k words
    reassembles exactly from its tokens after 164 chunked
    projections (zero janino/depth blowups), and real compression
    happens. DELIBERATELY the suite's longest test (~6 min
    measured): the 32k cost model was extrapolated for two rounds;
    this is the measurement."""
    import random

    import pyspark.sql.functions as F

    from mirabelle_spark.pipeline import text as tx

    rng = random.Random(42)
    sylls = [c + v for c in "bcdfghjklmnpqrstvwz" for v in "aeiou"]
    sylls += [
        c + v + c2
        for c, v, c2 in zip("bcdfghjklmn" * 9, "aeiou" * 20, "rstlnmpkd" * 11)
    ][:60]
    vocab_words = set()
    while len(vocab_words) < 50000:
        vocab_words.add(
            "".join(rng.choice(sylls) for _ in range(rng.randint(2, 5)))
        )
    words = []
    for w in sorted(vocab_words):
        words.extend([w] * rng.randint(2, 4))
    rng.shuffle(words)
    docs = [(i // 500, " ".join(words[i : i + 500]))
            for i in range(0, len(words), 500)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")

    stats = {}
    merges = tx.bpe_train(
        df, n_merges=32768, batch=256, exact=False, min_weight=2, stats=stats
    )
    assert len(merges) == 32768
    assert stats["rounds"] <= 700, stats["rounds"]  # measured 544

    vocab = df.select(F.explode(F.split("text", " ")).alias("word")).distinct()
    seg = tx.bpe_apply_chunked(vocab, merges, chunk=200)
    prof = seg.select(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.size("toks")).alias("tw"),
        F.sum((F.concat_ws("", "toks") != F.col("word")).cast("int")).alias("bad"),
    ).first()
    assert prof.n == 50000
    assert prof.bad == 0             # zero reassembly failures at 32k
    assert prof.tw <= 2.5, prof.tw   # real compression (measured 1.944)


def test_trained_trigram_lm_match_pinned(spark):
    """Pin contract for the trigram LM artifact (r14): re-running
    train_trigram_lm with the recorded hyperparameters reproduces
    trigram_lm_trained.py exactly, the trainer is partitioning-
    invariant, and — the ADVICE-r13 smoothing guarantee — every
    pinned cost is strictly positive."""
    from mirabelle_spark.pipeline import lm3
    from mirabelle_spark.pipeline.trigram_lm_trained import (
        TRAIN_BACKOFF_BITS, TRAIN_SF_DIR, TRAIN_TOP_BIGRAMS,
        TRAIN_TOP_TRIGRAMS, TRAIN_TOP_UNIGRAMS, TRAINED_LM3,
    )
    from mirabelle_spark.queries_pipeline import docs

    d = docs(spark, TRAIN_SF_DIR)
    m = lm3.train_trigram_lm(
        d, top_trigrams=TRAIN_TOP_TRIGRAMS,
        top_bigrams=TRAIN_TOP_BIGRAMS,
        top_unigrams=TRAIN_TOP_UNIGRAMS,
        backoff_bits=TRAIN_BACKOFF_BITS,
    )
    assert m == TRAINED_LM3
    m2 = lm3.train_trigram_lm(
        d.repartition(13), top_trigrams=TRAIN_TOP_TRIGRAMS,
        top_bigrams=TRAIN_TOP_BIGRAMS,
        top_unigrams=TRAIN_TOP_UNIGRAMS,
        backoff_bits=TRAIN_BACKOFF_BITS,
    )
    assert m2 == TRAINED_LM3
    assert all(v > 0 for *_, v in TRAINED_LM3["trigrams"])
    assert all(v > 0 for *_, v in TRAINED_LM3["bigrams"])
    assert all(v > 0 for _, v in TRAINED_LM3["unigrams"])
    assert TRAINED_LM3["oov_e9"] > 0


def test_lm3_bits_matches_python_reference(spark):
    """lm3_bits == a pure-Python transcription of the pruned
    trigram scorer on a fixture hitting ALL FOUR cost branches
    (pinned trigram, bigram backoff, unigram backoff, OOV), the
    sub-3-token / NULL-text zero rows, and the exact-integer gate
    arithmetic of lm3_quality — including the no-zero-cost
    guarantee on a degenerate one-n-gram spam document."""
    import re

    from mirabelle_spark.pipeline import lm3

    rows = [
        (1, "the quick brown fox the quick brown dog"),
        (2, "the quick red fox jumps high"),
        (3, "zz yy xx ww"),                          # all-OOV
        (4, ""),                                     # zero row
        (5, "single"),                               # zero row
        (6, "two words"),                            # zero row
        (7, None),                                   # NULL → zero row
        (8, "dup dup dup dup dup dup dup dup"),      # degenerate spam
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    m = lm3.train_trigram_lm(
        df, top_trigrams=5, top_bigrams=4, top_unigrams=3
    )
    # the pruned model must NOT cover everything, or the backoff
    # and OOV branches go untested
    assert len(m["trigrams"]) == 5 and len(m["bigrams"]) == 4

    tmap = {(a, b, c): v for a, b, c, v in m["trigrams"]}
    bmap = {(a, b): v for a, b, v in m["bigrams"]}
    umap = dict(m["unigrams"])

    def ref(text):
        w = [t for t in re.split(r"\s+", (text or "").strip().lower()) if t]
        bits = sum(
            tmap.get(
                (w[j], w[j + 1], w[j + 2]),
                bmap.get((w[j + 1], w[j + 2]), umap.get(w[j + 2], m["oov_e9"])),
            )
            for j in range(len(w) - 2)
        )
        return (max(len(w) - 2, 0), bits if len(w) >= 3 else 0)

    exp = {i: ref(t) for i, t in rows}
    got = {
        r.doc_id: (r.n_trigrams, r.bits_e9)
        for r in lm3.lm3_bits(df, m).collect()
    }
    assert got == exp
    assert exp[3][1] == 2 * m["oov_e9"]  # pure-OOV branch fired
    # the spam doc's ('dup','dup','dup') trigram is pinned (it's the
    # most frequent) yet its cost is STRICTLY positive — smoothing
    # closes the bigram module's 0-bits/token loophole
    assert ("dup", "dup", "dup") in tmap
    assert exp[8][1] > 0

    thr = 6.0
    kept = {
        r.doc_id
        for r in lm3.lm3_quality(df, m, thr, min_trigrams=2).collect()
    }
    t_e9 = round(thr * 1_000_000_000)
    exp_kept = {
        i for i, (n, b) in exp.items() if n >= 2 and b <= t_e9 * n
    }
    assert kept == exp_kept


def test_lm3_gate_expr_matches_join_gate(spark):
    """The row-local fold gate (streaming form) must select the
    IDENTICAL survivor set as the lm3_quality broadcast-join gate —
    including on a corpus containing U+001F-bearing tokens (the
    composite-key collision surface: train drops them, so fold
    probe keys with extra SEPs can never falsely hit)."""
    from mirabelle_spark.pipeline import lm3

    rows = [
        (1, "the quick brown fox the quick brown dog jumps today"),
        (2, "the quick red fox jumps high over things"),
        (3, "zz yy xx ww vv uu"),
        (4, ""),
        (5, None),
        (6, "a\x1fb the quick brown a\x1fb the quick brown end"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    m = lm3.train_trigram_lm(df, top_trigrams=6, top_bigrams=4, top_unigrams=3)
    # the SEP-bearing token must not be pinned at any level
    assert all("\x1f" not in x for t in m["trigrams"] for x in t[:3])
    assert all("\x1f" not in x for b in m["bigrams"] for x in b[:2])
    assert all("\x1f" not in w for w, _ in m["unigrams"])
    for thr, min_tg in ((6.0, 2), (9.0, 4), (30.0, 1)):
        want = {
            r.doc_id
            for r in lm3.lm3_quality(df, m, thr, min_trigrams=min_tg).collect()
        }
        got = {
            r.doc_id
            for r in df.filter(
                lm3.lm3_gate_expr(m, thr, min_trigrams=min_tg)
            ).collect()
        }
        assert got == want, (thr, min_tg)
