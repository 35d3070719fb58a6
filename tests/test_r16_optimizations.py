"""Focused tests for the r16 optimization round's internal changes:
each optimization that rewrote an operator's internals gets a pin
here proving the rewrite preserved the old semantics on the edges
the fast path does not exercise."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from mirabelle_spark.pipeline import ann, dedup, multimodal


def test_pq_encode_kernel_ill_formed_rows(spark):
    """The Arrow kernel's per-row fallback must replicate the old
    unrolled-expression null semantics: null vector → all-null
    codes; short vector → null codes for out-of-range subspaces
    only; a null element poisons exactly its subspace's code."""
    from mirabelle_spark.pipeline.pq_codebooks import PQ_CODEBOOKS

    m = len(PQ_CODEBOOKS)
    sub = len(PQ_CODEBOOKS[0][0])
    good = [float(i % 7) / 7.0 for i in range(m * sub)]
    short = good[: sub + 2]  # subspace 0 complete, 1 partial, rest absent
    holed = list(good)
    holed[sub] = None  # poisons subspace 1 only
    df = spark.createDataFrame(
        [(0, good), (1, None), (2, short), (3, holed)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    rows = {
        r["vec_id"]: r["codes"]
        for r in ann.pq_encode(df, PQ_CODEBOOKS).collect()
    }
    assert all(c is not None for c in rows[0]), rows[0]
    assert rows[1] == [None] * m
    # short vector: subspace 0 complete → real code; all later
    # subspaces touch a null/absent element → null codes
    assert rows[2][0] is not None and rows[2][1:] == [None] * (m - 1)
    assert rows[3][1] is None
    assert all(
        c is not None for i, c in enumerate(rows[3]) if i != 1
    ), rows[3]


def test_pq_encode_probe_cell_filter_matches_join(spark):
    """pq_encode(centroids=…, probe_cells=…) must emit exactly the
    rows an unfiltered encode + inner equi-join on the probed cells
    would keep, with identical cells and codes."""
    from mirabelle_spark.pipeline.ivf_centroids import IVF_CENTROIDS
    from mirabelle_spark.pipeline.pq_codebooks import PQ_CODEBOOKS

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    c = e.select(
        F.col("vec_id"), ann.as_double_vec(F.col("embedding")).alias("__cv__")
    )
    full = {
        r["vec_id"]: (r["__cell__"], tuple(r["codes"]))
        for r in ann.pq_encode(
            c, PQ_CODEBOOKS, vec_col="__cv__", centroids=IVF_CENTROIDS
        ).collect()
    }
    cells = [0, 3, 5]
    pruned = {
        r["vec_id"]: (r["__cell__"], tuple(r["codes"]))
        for r in ann.pq_encode(
            c,
            PQ_CODEBOOKS,
            vec_col="__cv__",
            centroids=IVF_CENTROIDS,
            probe_cells=cells,
        ).collect()
    }
    expected = {k: v for k, v in full.items() if v[0] in cells}
    assert pruned == expected
    assert 0 < len(pruned) < len(full)


def test_resolve_clusters_foreign_pair_ids_still_dropped(spark):
    """The validated (clean_pairs=False) path must keep the old
    contract: a pair id absent from ``ids`` never injects an output
    row, and duplicate pairs are harmless."""
    pairs = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 99)],  # 99 is foreign, (1,2) duplicated
        "id_a BIGINT, id_b BIGINT",
    )
    ids = spark.createDataFrame([(1,), (2,), (3,)], "doc_id BIGINT")
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.resolve_clusters(pairs, ids).collect()
    }
    assert out == {1: 1, 2: 1, 3: 3}


def test_resolve_clusters_clean_pairs_equivalent_on_honest_input(spark):
    """clean_pairs=True must produce identical clusters when the
    caller's guarantee (distinct pairs within ids) holds, on a chain
    and a separate pair."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], "id_a BIGINT, id_b BIGINT"
    )
    ids = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 5, 7, 8)], "doc_id BIGINT"
    )
    ref = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in dedup.resolve_clusters(pairs, ids).collect()
    )
    fast = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in dedup.resolve_clusters(pairs, ids, clean_pairs=True).collect()
    )
    assert ref == fast
    assert dict(ref)[4] == 1 and dict(ref)[8] == 7 and dict(ref)[5] == 5


def test_dhash_batch_kernel_mixed_shapes_and_failures():
    """_dhash_bands_batch must equal the per-payload kernel across
    mixed raster shapes in ONE batch, and keep the None convention
    for undecodable/missing payloads."""
    import numpy as np

    rng = [
        multimodal.encode_netpbm(
            np.arange(h * w, dtype=np.uint8).reshape(h, w) * 3 % 251
        )
        for (h, w) in ((16, 16), (8, 9), (32, 32), (16, 16))
    ]
    payloads = [rng[0], None, b"not-an-image", rng[1], rng[2], rng[3]]
    got = multimodal._dhash_bands_batch(payloads)
    assert got[1] is None and got[2] is None
    for i in (0, 3, 4, 5):
        single = multimodal._dhash_bands_batch([payloads[i]])[0]
        assert got[i] == single and single is not None
    # identical rasters hash identically regardless of batch position
    assert got[0] == got[5]


def test_video_dhash_equals_sample_frames_pipeline(spark):
    """The fused parse+dHash pass must be row-identical to
    sample_frames → image_dhash (the composition it replaced)."""
    import numpy as np

    frames = [
        multimodal.encode_netpbm(
            (np.arange(64, dtype=np.uint8).reshape(8, 8) * (k + 2)) % 241
        )
        for k in range(5)
    ]
    df = spark.createDataFrame(
        [(1, b"".join(frames)), (2, b"".join(frames[:2])), (3, None)],
        "id BIGINT, media BINARY",
    )
    two_pass = sorted(
        tuple(r)
        for r in multimodal.image_dhash(
            multimodal.sample_frames(
                df, every_ms=40, decoder="netpbm-stream", frame_ms=40
            ).select("id", F.col("frame").alias("media"))
        ).collect()
    )
    fused = sorted(
        tuple(r)
        for r in multimodal.video_dhash(df, every_ms=40, frame_ms=40).collect()
    )
    assert fused == two_pass and len(fused) == 7


def test_make_sf1_layout_split_and_keys(spark):
    """The sf1 cache must be written as multiple hash-bucketed files
    (the r16 layout fix) with row counts exactly 10× the source."""
    from tools.make_sf1 import SPLITS, ensure_sf1

    # testdata parquet stores TIMESTAMP(NANOS); plain reads need the
    # legacy conf (the loaders set this; a bare test must too)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    sf1 = ensure_sf1(spark, "/root/testdata/sf0.1")
    files = glob.glob(os.path.join(sf1, "lineitem.parquet", "*.parquet"))
    assert len(files) > 4, files
    n = spark.read.parquet(os.path.join(sf1, "lineitem.parquet")).count()
    n0 = spark.read.parquet(
        "/root/testdata/sf0.1/lineitem.parquet"
    ).count()
    assert n == 10 * n0
    assert SPLITS >= 16


def test_media_corpora_match_hashlib_twin(spark):
    """The (source, variant) broadcast restructure of the media
    corpora (r16 post-close) must keep every doc's media bytes
    EXACTLY what the per-doc builders produced. Pin against an
    INDEPENDENT twin: pure hashlib/struct for every Catalyst-built
    byte (audio v0/v2, image v0/v2, video all three variants), and
    the real stdlib ``wave`` codec for the audio v=1 re-encode. The
    image v=1 rows (netpbm upscale re-encode) route the twin BASE
    raster through the same resize_images call the corpus uses,
    pinning the (s, v) join routing that the restructure made
    load-bearing."""
    import hashlib
    import io
    import struct
    import wave

    from mirabelle_spark import queries_pipeline as qp

    SF = "/root/testdata/sf0.001"
    SRC = qp._IMG_SOURCES

    def audio_twin(doc_id):
        s, v = doc_id % SRC, (doc_id // SRC) % 3
        n_data = qp._AUDIO_SEGS * 16 * 2
        hdr = (
            b"RIFF" + struct.pack("<I", 36 + n_data) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
            + b"data" + struct.pack("<I", n_data)
        )
        pcm = bytearray()
        for seg in range(qp._AUDIO_SEGS):
            hx = (
                "0" * 32
                if v == 2 and seg == 0
                else hashlib.md5(f"aud:{s}:{seg}".encode()).hexdigest()
            )
            for j in range(16):
                pcm += bytes([0, int(hx[j * 2 : j * 2 + 2], 16)])
        media = hdr + bytes(pcm)
        if v == 1:
            import numpy as np

            with wave.open(io.BytesIO(media), "rb") as w:
                rate = w.getframerate()
                raw = w.readframes(w.getnframes())
            x = np.frombuffer(raw, dtype="<i2") >> 1
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(rate)
                w.writeframes(x.astype("<i2").tobytes())
            media = buf.getvalue()
        return media

    def image_base_twin(doc_id):
        s, v = doc_id % SRC, (doc_id // SRC) % 3
        raster = b"".join(
            hashlib.md5(f"img:{s}:{d}".encode()).digest() for d in range(16)
        )
        if v == 2:
            raster = b"\x00" + raster[1:]
        return b"P5\n16 16\n255\n" + raster

    def video_twin(doc_id):
        s, v = doc_id % SRC, (doc_id // SRC) % 3
        out = bytearray()
        for k in range(12):
            out += b"P5\n8 8\n255\n"
            for c in range(4):
                if v == 2 and k == 0:
                    key = f"vidu:{doc_id}:{c}"
                else:
                    fk = (k + 1) % 12 if v == 1 else k
                    key = f"vid:{s}:{fk}:{c}"
                out += hashlib.md5(key.encode()).digest()
        return bytes(out)

    audio = {r["id"]: bytes(r["media"]) for r in qp._audio_corpus(spark, SF).collect()}
    video = {r["id"]: bytes(r["media"]) for r in qp._video_corpus(spark, SF).collect()}
    image = {r["id"]: bytes(r["media"]) for r in qp._image_corpus(spark, SF).collect()}
    n_docs = qp.docs(spark, SF).count()
    assert len(audio) == len(video) == len(image) == n_docs
    for did, blob in audio.items():
        assert blob == audio_twin(did), f"audio doc {did}"
    for did, blob in video.items():
        assert blob == video_twin(did), f"video doc {did}"
    # image v0/v2: straight twin; v=1: twin base routed through the
    # SAME resize re-encode the corpus uses, keyed per doc — pins
    # that the join delivered the right source's raster
    from mirabelle_spark.pipeline import multimodal

    v1_ids = [d for d in image if (d // SRC) % 3 == 1]
    meta = F.struct(
        F.lit("image/x-portable-graymap").alias("media_type"),
        F.lit(16).alias("width"),
        F.lit(16).alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
        F.lit("netpbm").alias("codec"),
    )
    bases = spark.createDataFrame(
        [(d, image_base_twin(d)) for d in v1_ids], "id BIGINT, media BINARY"
    ).select("id", "media", meta.alias("meta"))
    upscaled = {
        r["id"]: bytes(r["media"])
        for r in multimodal.resize_images(
            bases, width=32, height=32, decoder="netpbm"
        ).collect()
    }
    for did, blob in image.items():
        v = (did // SRC) % 3
        want = upscaled[did] if v == 1 else image_base_twin(did)
        assert blob == want, f"image doc {did} v={v}"


def test_dup_span_flag_pipeline_single_sort_plan(spark):
    """The r16 first-flag rewrite pins the sorted (gram, pos) array
    in its own projection (``AS __srt__``) and computes flags with
    one indexed transform whose prev access is ``__srt__[i-1]``.
    CollapseProject must NOT inline the sort into the transform —
    inlined, the get() reference would re-run the O(L log L)
    sort_array once per element. Pin the plan shape: exactly one
    ``AS __srt__`` alias, and the explode's Generate line reads the
    attribute, never a fresh sort_array."""
    df = spark.createDataFrame(
        [(1, "a b c d e f g a b c d e"), (2, "a b c d e x y z w v u t")],
        "doc_id BIGINT, text STRING",
    )
    for grain, n in (("word", 4), ("char", 12)):
        out = dedup.dup_span_removed(df, n=n, min_docs=2, grain=grain)
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        assert plan.count("AS __srt__") == 1, grain
        gen_lines = [
            ln for ln in plan.splitlines() if "explode(transform(__srt__" in ln
        ]
        assert gen_lines, f"{grain}: flag explode not found in plan"
        assert all("sort_array" not in ln for ln in gen_lines), (
            f"{grain}: sort_array inlined into the flag transform"
        )


def test_ngram_pair_shingle_table_pinned_once(spark):
    """The r16 lazy-localCheckpoint change: the shingle-hash table
    feeding the exact-verify joins must read from ONE pinned RDD on
    every reference (2 in jaccard, 3 in containment) instead of
    re-running the scan+shingle transform per side. The pin must be
    RDD-scoped, NOT a .persist(): a CacheManager registration would
    substitute the fragment into other queries' matching plans
    session-wide and leak without an explicit unpersist. Results are
    oracle-gated; this pins the compute-once shape and the empty
    cache registry."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, "one two three four five six"),
        ],
        "doc_id BIGINT, text STRING",
    )
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    for fn, n_refs in (
        (lambda d: dedup.ngram_jaccard_pairs(d, threshold=0.1), 2),
        (lambda d: dedup.ngram_containment_pairs(d, threshold=0.1), 3),
    ):
        out = fn(df)
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        assert plan.count("Scan ExistingRDD") >= n_refs, plan[:2000]
        assert cache_manager.isEmpty(), "pin leaked into the CacheManager"


def test_lm_bits_one_pass_keeps_null_and_short_docs(spark):
    """The explode_outer rewrite must keep returning one (0, 0) row
    for NULL-text and sub-n-token docs (the lm module's contract —
    previously supplied by a second-scan union, now by the
    null-tuple row), and the plan must scan the input ONCE (no
    union arm)."""
    from mirabelle_spark.pipeline import lm, lm3
    from mirabelle_spark.pipeline.bigram_lm_trained import TRAINED_LM
    from mirabelle_spark.pipeline.trigram_lm_trained import TRAINED_LM3

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "one"), (4, "one two"),
         (5, "one two three four five")],
        "doc_id BIGINT, text STRING",
    )
    got2 = {r.doc_id: (r.n_bigrams, r.bits_e9)
            for r in lm.lm_bits(df, TRAINED_LM, strategy="join").collect()}
    got3 = {r.doc_id: (r.n_trigrams, r.bits_e9)
            for r in lm3.lm3_bits(df, TRAINED_LM3).collect()}
    assert got2[1] == (0, 0) and got2[2] == (0, 0) and got2[3] == (0, 0)
    assert got3[1] == (0, 0) and got3[2] == (0, 0) and got3[4] == (0, 0)
    assert got2[4][0] == 1 and got2[5][0] == 4
    assert got3[5][0] == 3
    for out in (lm.lm_bits(df, TRAINED_LM, strategy="join"),
                lm3.lm3_bits(df, TRAINED_LM3)):
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        # single-scan shape: the zero-row union arm is gone (the
        # physical Generate prints plain "explode" with an
        # outer=true argument, so pin on the Union's absence)
        assert "Union" not in plan
        assert plan.count("Generate") >= 1


def test_collapse_exact_signatures_components_identical(spark):
    """The exact-signature collapse (reps + star edges) must yield
    the SAME clusters as enumerating every pairwise near-dup —
    including duplicate-signature groups, a near-pair of groups
    (Hamming 1), NULL-band rows (excluded from pairing, singleton
    clusters), and a far-apart signature."""
    rows = [
        # group A: three identical signatures (clique) — min id 1
        (1, 10, 20, 30, 40), (5, 10, 20, 30, 40), (9, 10, 20, 30, 40),
        # group B: two identical, one bit from A (band0 10^2=8) —
        # same component as A
        (3, 8, 20, 30, 40), (7, 8, 20, 30, 40),
        # C: far away (band values differ in >3 bits) — own cluster
        (4, 0xFFFF, 0xFFFF, 0xFFFF, 0xFFFF),
        # D: NULL band — never pairs, singleton
        (6, None, 20, 30, 40),
    ]
    sig = spark.createDataFrame(
        rows, "id BIGINT, band0 INT, band1 INT, band2 INT, band3 INT"
    )
    ids = sig.select("id")
    direct = dedup.resolve_clusters(
        dedup.band_hamming_pairs(sig, id_col="id", max_hamming=3),
        ids, id_col="id",
    )
    reps, star = dedup.collapse_exact_signatures(
        sig, key_cols=("band0", "band1", "band2", "band3"), id_col="id"
    )
    near = dedup.band_hamming_pairs(
        reps, id_col="id", max_hamming=3, pinned=True
    )
    collapsed = dedup.resolve_clusters(
        near.select("id_a", "id_b").unionByName(star), ids,
        id_col="id", clean_pairs=True,
    )
    got = sorted(map(tuple, collapsed.collect()))
    want = sorted(map(tuple, direct.collect()))
    assert got == want
    assert got == [(1, 1), (3, 1), (4, 4), (5, 1), (6, 6), (7, 1), (9, 1)]
    # the star edges and the rep-level pairs never overlap (id_b of a
    # star edge is by construction not a representative), so the
    # union stays distinct — the clean_pairs precondition
    star_rows = set(map(tuple, star.collect()))
    near_rows = set(map(tuple, near.select("id_a", "id_b").collect()))
    assert star_rows == {(1, 5), (1, 9), (3, 7)}
    assert not star_rows & near_rows
    # reps: one min-id row per distinct non-null signature
    assert sorted(r.id for r in reps.collect()) == [1, 3, 4]


def test_video_set_collapse_small_sets_stay_singletons(spark):
    """video_near_dups' set collapse is gated on |set| >= shared_min:
    two videos with IDENTICAL but tiny frame sets can never reach the
    shared-count threshold against any partner, so they must NOT be
    star-linked — they stay singletons exactly as the direct
    pairwise join leaves them. Mirrors the query's inline guard with
    the same shapes: big identical sets pair, small identical sets
    do not."""
    from pyspark.sql import functions as F

    shared_min = 8
    frames = []
    # videos 1 and 2: identical 8-frame sets -> pair (shared = 8)
    for vid in (1, 2):
        frames += [(vid, k, k + 1, k + 2, k + 3) for k in range(8)]
    # videos 3 and 4: identical 3-frame sets -> shared 3 < 8, no pair
    for vid in (3, 4):
        frames += [(vid, 100 + k, k, k, k) for k in range(3)]
    sig = spark.createDataFrame(
        frames, "id BIGINT, band0 INT, band1 INT, band2 INT, band3 INT"
    )
    grouped = sig.groupBy("id").agg(
        F.sort_array(
            F.collect_list(F.struct("band0", "band1", "band2", "band3"))
        ).alias("__sig__")
    ).filter(F.size("__sig__") >= shared_min)
    reps = grouped.groupBy("__sig__").agg(F.min("id").alias("id"))
    star = (
        grouped.join(reps.withColumnRenamed("id", "__rep__"), "__sig__")
        .filter(F.col("id") != F.col("__rep__"))
        .select(F.col("__rep__").alias("id_a"), F.col("id").alias("id_b"))
    )
    clusters = dedup.resolve_clusters(
        star, sig.select("id").distinct(), id_col="id", clean_pairs=True
    )
    got = sorted(map(tuple, clusters.collect()))
    # 1-2 collapse to min id 1; 3 and 4 remain singletons
    assert got == [(1, 1), (2, 1), (3, 3), (4, 4)]
