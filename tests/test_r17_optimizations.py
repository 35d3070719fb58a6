"""Round-17 optimization pins.

Each test guards an r17 performance rewrite by asserting exact
(bit-level) equivalence against the relational shape it replaced,
including the ill-formed-row semantics the Catalyst expressions had.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _relational_ivf_topk(corpus, queries, k, nprobe, centroids):
    """The pre-r17 ivf_topk probe join, reconstructed verbatim from
    the committed helpers: _cell_assign → driver probes → isin →
    broadcast join → relational cosine → rank window."""
    from mirabelle_spark.pipeline import ann

    c = corpus.select(
        F.col("vec_id"), ann.as_double_vec(F.col("embedding")).alias("__cv__")
    )
    assigned = ann._cell_assign(c, centroids)
    qrows = queries.select(
        F.col("query_id"),
        ann.as_double_vec(F.col("embedding")).alias("__qv__"),
    ).collect()
    probe_rows = []
    cells_set: set = set()
    for r in qrows:
        qv = [float(x) for x in r["__qv__"]]
        ds = sorted(
            (ann._sq_fold(qv, ctr), cell) for cell, ctr in enumerate(centroids)
        )
        for _, cell in ds[:nprobe]:
            cells_set.add(cell)
            probe_rows.append((r["query_id"], qv, cell))
    probes = corpus.sparkSession.createDataFrame(
        probe_rows, "query_id bigint, __qv__ array<double>, __cell__ int"
    )
    cand = assigned.filter(
        F.col("__cell__").isin(sorted(cells_set))
    ).join(F.broadcast(probes), "__cell__")
    scored = cand.withColumn(
        "cosine", ann.cosine(F.col("__qv__"), F.col("__cv__"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _rows_key(rows):
    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return "nan"
        return v

    return sorted(tuple(norm(v) for v in r) for r in rows)


def test_ivf_probe_scores_kernel_matches_relational(spark):
    """r17 ask #4: ivf_topk's fused Arrow probe kernel is
    bit-identical to the relational _cell_assign → isin → broadcast
    join → cosine subtree it replaced — including every ill-formed
    corpus row class (null vector, short vector, null element, NaN
    element, zero vector) and cosine tie-breaks."""
    from mirabelle_spark.pipeline import ann

    cents = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
    ]
    rows = [
        (0, [0.9, 0.1, 0.0, 0.05]),
        (1, [0.05, 1.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.8, 0.3]),
        (3, [0.7, 0.69, 0.0, 0.0]),      # near-tie between cells 0/1
        (4, None),                        # null vector
        (5, [0.5, 0.5]),                  # short vector
        (6, [0.4, None, 0.1, 0.0]),       # null element
        (7, [float("nan"), 0.2, 0.1, 0.0]),  # NaN element
        (8, [0.0, 0.0, 0.0, 0.0]),        # zero vector: cosine NULL
        (9, [0.31, 0.29, 0.3, 0.1]),
        (10, [0.9, 0.1, 0.0, 0.05]),      # exact duplicate of 0
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.05, 0.0, 0.0]), (1, [0.0, 0.9, 0.2, 0.0])],
        "query_id bigint, embedding array<double>",
    )
    for k, nprobe in ((20, 2), (20, 3), (3, 1)):
        got = _rows_key(
            ann.ivf_topk(
                corpus, queries, k=k, nprobe=nprobe, centroids=cents
            ).collect()
        )
        # the relational twin needs ANSI off for the zero-vector row:
        # Spark 4's ANSI Divide THROWS on the 0.0 denominator where
        # the legacy Divide (and _assign_csim's pinned kernel
        # semantics, which _ivf_probe_scores follows) yields NULL —
        # real fixtures contain no zero-norm vectors, so declared
        # query results are identical either way
        ansi = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "false")
        try:
            want = _rows_key(
                _relational_ivf_topk(
                    corpus, queries, k=k, nprobe=nprobe, centroids=cents
                ).collect()
            )
        finally:
            spark.conf.set("spark.sql.ansi.enabled", ansi)
        assert got == want
        assert len(got) > 0


def test_resolve_clusters_touched_subgraph_identical(spark):
    """r17 ask #3: with clean_pairs=True the rounds run over pair
    endpoints only and untouched ids ride a final anti-join union —
    output must be row-identical to the validated full-graph path
    (clean_pairs=False) on a graph with chains, cliques, and a
    majority of untouched nodes."""
    from mirabelle_spark.pipeline import dedup

    ids = spark.createDataFrame(
        [(i,) for i in range(30)], "doc_id bigint"
    )
    # chain 1-2-3-4, clique {10,11,12}, pair (20, 21); 0,5..9,13..19,
    # 22..29 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a bigint, id_b bigint",
    )
    got = sorted(
        tuple(r)
        for r in dedup.resolve_clusters(
            pairs, ids, clean_pairs=True
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in dedup.resolve_clusters(
            pairs, ids, clean_pairs=False
        ).collect()
    )
    assert got == want
    assert len(got) == 30
    as_map = dict(got)
    assert as_map[4] == 1 and as_map[12] == 10 and as_map[21] == 20
    assert as_map[7] == 7  # untouched self-label


def test_resolve_clusters_touched_subgraph_empty_pairs(spark):
    from mirabelle_spark.pipeline import dedup

    ids = spark.createDataFrame([(i,) for i in range(5)], "doc_id bigint")
    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    got = sorted(
        tuple(r)
        for r in dedup.resolve_clusters(
            pairs, ids, clean_pairs=True
        ).collect()
    )
    assert got == [(i, i) for i in range(5)]


def test_stream_ewma_sharded_vectorized_hot_key_parity(spark, tmp_path):
    """r17 ask #8: the vectorized shard fold must stay bit-identical
    to the batch operator across its own internal boundary — a hot
    key whose run exceeds _EWMA_VEC_CAP (scalar fallback) sharing a
    shard with short vectorized keys, NaN/null metrics on both
    sides, and carry across two micro-batches."""
    import pyspark.sql.functions as F

    from mirabelle_spark.operators import aggregations as agg
    from mirabelle_spark.streaming import core

    assert core._EWMA_VEC_CAP == 512
    rows = []
    eid = 0
    # hot key: 1200 events (crosses the cap in both batches)
    for j in range(1200):
        v = None if j % 97 == 13 else float((j * 31) % 223) / 9.0
        rows.append((eid, "hot", float(j), v))
        eid += 1
    # short keys: 40 keys x 7 events
    for i in range(40):
        for j in range(7):
            v = None if (i + j) % 11 == 3 else float(i) + j * 0.125
            rows.append((eid, f"k{i:02d}", float(j * 3), v))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, host string, t double, metric double"
    ).withColumn(
        "time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))
    ).drop("t")

    batch = {
        r.event_id: r.metric
        for r in agg.ewma_timeless(
            df, 0.3, by=["host"], time_col="time", metric_col="metric",
            order_cols=("event_id",),
        ).collect()
    }
    # time-PREFIX split per key (batch order must respect each key's
    # time order for the fold to be comparable): hot key's first 600
    # events in batch 1, short keys' first 3 — both batches give the
    # hot key a run over the cap and the short keys vectorized runs
    src_dir = str(tmp_path / "ewvec_in")
    first = (
        "(host = 'hot' AND unix_micros(time) < 600000000) "
        "OR (host <> 'hot' AND unix_micros(time) < 9000000)"
    )
    df.where(first).coalesce(1).write.mode("append").parquet(src_dir)
    df.where(f"NOT ({first})").coalesce(1).write.mode("append").parquet(src_dir)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    out = core.stream_ewma(
        stream, 0.3, by=["host"], time_col="time", metric_col="metric",
        shards=2,
    )
    q = (
        out.writeStream.format("memory").queryName("ewvec_parity")
        .option("checkpointLocation", str(tmp_path / "ewvec_ck"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        r.event_id: r.metric
        for r in spark.sql("SELECT * FROM ewvec_parity").collect()
    }
    assert set(got) == set(batch)
    diff = {k for k in batch if got[k] != batch[k]}
    assert not diff, sorted(diff)[:10]


def test_ivf_probe_scores_kernel_empty_query_batch(spark):
    from mirabelle_spark.pipeline import ann

    cents = [[1.0, 0.0], [0.0, 1.0]]
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.1]), (1, [0.1, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [], "query_id bigint, embedding array<double>"
    )
    out = ann.ivf_topk(corpus, queries, k=5, nprobe=1, centroids=cents)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "query_id", "vec_id", "cosine", "rank",
    ]
