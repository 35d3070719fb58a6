"""Similarity search over embedding columns (array<float>).

Two paths:

- :func:`brute_force_topk` — exact cosine top-k. The query set is
  broadcast (it is small by construction); the corpus is scanned
  once, dot products run JVM-side via zip_with/aggregate, and top-k
  is a per-query window rank. Cost: O(|corpus|·|queries|·d) FLOPs,
  one broadcast, zero shuffles of the corpus.
- :func:`lsh_bucketed_topk` — the scale path: random-hyperplane LSH
  signs bucket both sides; candidates come from an equi-join on the
  bucket key, so the scan per query touches ~|corpus| / 2^planes.
  Recall is tunable with multiple tables (hash repetitions).

All arithmetic is double precision with a fixed fold order so the
result is deterministic and oracle-checkable.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def as_double_vec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def as_unit_vec(col: Column) -> Column:
    """Unit-normalized double vector (zero vectors pass through
    unchanged — no NaN lanes). On unit vectors squared L2 is a
    strictly decreasing function of cosine (d² = 2 − 2·cos), so
    every L2-metric index in this module ranks EXACTLY like cosine
    after normalization — the faiss cosine recipe."""
    v = as_double_vec(col)
    n = l2norm(v)
    # n referenced inside the lambda re-evaluates per element —
    # O(dim²) per row. Fine at embedding dims (64² ops); hot paths
    # that care stage the norm in its own projection first (the
    # ivfpq cosine mode does).
    return F.when(n > 0, F.transform(v, lambda x: x / n)).otherwise(v)


def _unit_normalized(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, vec) projection with the vector unit-normalized via a
    STAGED norm column (one extra projection, O(dim) per row — not
    the O(dim²) lambda-capture form, see :func:`as_unit_vec`).
    The cosine-mode front door shared by the compressed family."""
    staged = df.select(
        F.col(id_col), as_double_vec(F.col(vec_col)).alias("__v__")
    ).withColumn("__n__", l2norm(F.col("__v__")))
    return staged.select(
        F.col(id_col),
        F.when(
            F.col("__n__") > 0,
            F.zip_with(
                F.col("__v__"),
                F.array_repeat(F.col("__n__"), F.size("__v__")),
                lambda x, nn: x / nn,
            ),
        ).otherwise(F.col("__v__")).alias(vec_col),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k for each query vector.

    ``queries`` needs (query_id_col, vec_col). Returns
    (query_id, vec_id, cosine, rank). Self-matches (same id) are
    kept — filter upstream if undesired. The rank tail needs no
    hand-rolled two-phase top-k: Spark compiles the window's
    ``rank <= k`` filter with WindowGroupLimit pushdown, a Partial
    sort-limit below the exchange that keeps ≤ k rows per (query,
    input partition) map-side (plan-pinned in pytest; PERF §87
    measured the explicit two-phase form slower).
    """
    q = queries.select(
        F.col(query_id_col), as_double_vec(F.col(vec_col)).alias("__qv__")
    )
    c = corpus.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias("__cv__"))
    joined = c.crossJoin(F.broadcast(q))
    scored = joined.withColumn("cosine", cosine(F.col("__qv__"), F.col("__cv__")))
    w = W.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def brute_force_l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact squared-L2 top-k — the ground-truth twin for the
    compressed stack (PQ/SQ8/IVF-PQ all rank by L2; the cosine
    :func:`brute_force_topk` ranks DIFFERENTLY on unnormalized
    vectors, which is exactly the harness trap PERF §57 documents —
    recall of an L2 index must be measured against an L2 baseline).
    Same shape: broadcast queries × corpus scan, per-query window.
    Returns (query_id, vec_id, l2_dist, rank), ties id-asc."""
    q = queries.select(
        F.col(query_id_col), as_double_vec(F.col(vec_col)).alias("__qv__")
    )
    c = corpus.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias("__cv__"))
    sq = F.aggregate(
        F.zip_with(F.col("__qv__"), F.col("__cv__"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = c.crossJoin(F.broadcast(q)).withColumn("l2_dist", sq)
    w = W.partitionBy(query_id_col).orderBy(F.col("l2_dist"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "l2_dist", "rank")
    )


def hyperplanes(dim: int, planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed)."""
    rng = np.random.RandomState(seed)
    return rng.randn(planes, dim).tolist()


def bucket_key(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit i = (vec · plane_i) >= 0."""
    key = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(dot(vec, plane) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        key = key + F.shiftleft(bit, i)
    return key


def _vec_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Embedding dimensionality without a driver-side action: from
    the caller's arg, or a fixed-size ArrayType if the schema carries
    one; only as a last resort probe one row (plan-build action —
    avoid on hot paths by passing ``dim``)."""
    if dim is not None:
        return dim
    field = df.schema[vec_col].metadata or {}
    if "dim" in field:
        return int(field["dim"])
    return len(df.select(vec_col).first()[0])


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 8,
    tables: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k: hyperplane-LSH buckets → equi-join →
    exact cosine within candidates → per-query rank.

    ``tables`` independent hash tables union their candidates to
    boost recall. The corpus-side bucket keys are computed in one
    projection; the join partitions by (table, bucket) — no
    broadcast needed when queries are large, no all-pairs ever.
    """
    dim = _vec_dim(corpus, vec_col, dim)
    # ``c``/``q`` are referenced once per hash table: a lazy
    # RDD-level localCheckpoint computes the scan+cast once and
    # later table stages read the pinned blocks instead of
    # re-scanning (with tables=3 and a query side derived from the
    # same scan, unpinned plans paid SIX scans). Fair interleaved
    # A/B (build+exec timed, fresh JVM): 3.37→3.09 s sf0.1,
    # 3.12→3.01 s sf1 — modest wall deltas locally because the
    # early table stages race the pin's materialization on an idle
    # box, but every stage after the first-completed one reads the
    # pin, and at 100 TB the (tables−1)+ avoided corpus scans are
    # the dominant saving. Eager measured within noise of lazy at
    # this scale (2.35 vs 2.39 s same-session); lazy keeps the
    # no-extra-job shape. NOT .persist(): that registers in the
    # session CacheManager, which substitutes the fragment into
    # other queries' matching plans and leaks without an explicit
    # unpersist (the r10 minhash lesson); the lazy pin is
    # plan-scoped and context-cleaned.
    c = corpus.select(
        F.col(id_col), as_double_vec(F.col(vec_col)).alias("__cv__")
    ).localCheckpoint(eager=False)
    q = queries.select(
        F.col(query_id_col), as_double_vec(F.col(vec_col)).alias("__qv__")
    ).localCheckpoint(eager=False)
    cand = None
    for t in range(tables):
        ps = hyperplanes(dim, planes, seed=seed + t)
        ck = c.withColumn("__b__", bucket_key(F.col("__cv__"), ps)).withColumn(
            "__t__", F.lit(t)
        )
        qk = q.withColumn("__b__", bucket_key(F.col("__qv__"), ps)).withColumn(
            "__t__", F.lit(t)
        )
        part = ck.join(qk, ["__t__", "__b__"]).select(
            query_id_col, id_col, "__qv__", "__cv__"
        )
        cand = part if cand is None else cand.unionByName(part)
    cand = cand.dropDuplicates([query_id_col, id_col])
    scored = cand.withColumn("cosine", cosine(F.col("__qv__"), F.col("__cv__")))
    w = W.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    planes: int = 10,
    tables: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ threshold)
    via self-LSH bucketing — the embedding flavor of MinHash dedup."""
    dim = _vec_dim(df, vec_col, dim)
    # referenced 2×tables times (both self-join sides per table): a
    # lazy RDD-level localCheckpoint computes the scan+cast once and
    # later table stages read the pin (fair interleaved A/B,
    # build+exec timed: 1.79→1.70 s sf0.1, 15.6→14.8 s sf1 — wall
    # deltas are modest locally where the duplicate scans overlap
    # idle cores; the pin's real effect is collapsing 2×tables
    # corpus scans to ~1, the dominant term at 100 TB. See
    # lsh_bucketed_topk for why NOT .persist()).
    base = df.select(
        F.col(id_col), as_double_vec(F.col(vec_col)).alias("__v__")
    ).localCheckpoint(eager=False)
    cand = None
    for t in range(tables):
        ps = hyperplanes(dim, planes, seed=seed + t)
        keyed = base.withColumn("__b__", bucket_key(F.col("__v__"), ps))
        a, b = keyed.alias("a"), keyed.alias("b")
        part = a.join(
            b,
            (F.col("a.__b__") == F.col("b.__b__"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.__v__").alias("__va__"),
            F.col("b.__v__").alias("__vb__"),
        )
        cand = part if cand is None else cand.unionByName(part)
    cand = cand.dropDuplicates(["id_a", "id_b"])
    scored = cand.withColumn("cosine", cosine(F.col("__va__"), F.col("__vb__")))
    return scored.filter(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")


def _assign_csim(
    c: DataFrame,
    centroids: list[list[float]],
    keep_cols: tuple = (),
    id_col: str = "vec_id",
) -> DataFrame:
    """One Arrow pass computing BOTH the coarse-cell assignment
    (:func:`_cell_assign` semantics) and the cosine similarity to
    the assigned centroid — the two per-row quantities
    :func:`semdedup` needs. Bit-identical to the relational form:
    squared-L2 and dot/norm folds accumulate in element order with
    a 0.0 initial value (exactly ``F.aggregate``'s fold), the
    argmin is first-minimum, ``cosine``'s zero denominator yields
    NULL (Spark's Divide), and ill-formed rows (null/short vector,
    null element, NaN) take a per-row Python path replicating the
    expression null semantics. Input needs ``__cv__``; all input
    columns pass through, ``__cell__``/``__csim__`` are appended."""
    import numpy as np

    cents = np.asarray(centroids, dtype=np.float64)
    cent_list = [[float(v) for v in ctr] for ctr in centroids]
    nlist, dim = cents.shape
    # per-centroid norms via the same fold the per-row expression
    # used (acc + x*x in element order, then sqrt)
    acc = np.zeros(nlist)
    for i in range(dim):
        acc = acc + cents[:, i] * cents[:, i]
    cent_norms = np.sqrt(acc)
    in_cols = [f.name for f in c.schema.fields]
    vec_idx = in_cols.index("__cv__")
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(c.schema.fields)
        + [
            T.StructField("__cell__", T.IntegerType()),
            T.StructField("__csim__", T.DoubleType()),
        ]
    )

    def _csim_fallback(vec, cell):
        import math

        if cell is None or vec is None:
            return None
        ctr = cent_list[cell]
        if len(vec) != dim:
            return None  # zip_with pads -> null fold
        d = 0.0
        s = 0.0
        for x, cv in zip(vec, ctr):
            if x is None:
                return None
            d = d + float(x) * cv
            s = s + float(x) * float(x)
        den = math.sqrt(s) * cent_norms[cell]
        return None if den == 0.0 else d / den

    def _run(batches):
        import pyarrow as pa
        from pyarrow import compute as pc

        for batch in batches:
            n = batch.num_rows
            arr = batch.column(vec_idx)
            valid = (
                arr.is_valid().to_numpy(zero_copy_only=False)
                if arr.null_count
                else np.ones(n, dtype=bool)
            )
            offs = arr.offsets.to_numpy()
            lens = offs[1:] - offs[:-1]
            vals = arr.values
            ok = valid & (lens == dim)
            if vals.null_count:
                nulls = pc.is_null(vals).to_numpy(zero_copy_only=False)
                cum = np.concatenate(([0], np.cumsum(nulls)))
                ok &= (cum[offs[1:]] - cum[offs[:-1]]) == 0
                vnp = vals.fill_null(float("nan")).to_numpy(
                    zero_copy_only=False
                ).astype(np.float64)
            else:
                vnp = vals.to_numpy(zero_copy_only=False).astype(np.float64)
            if np.isnan(vnp).any():
                nan = np.isnan(vnp)
                cum = np.concatenate(([0], np.cumsum(nan)))
                ok &= (cum[offs[1:]] - cum[offs[:-1]]) == 0
            cells_all: list = [None] * n
            csim_all: list = [None] * n
            idx = np.flatnonzero(ok)
            if idx.size:
                gather = offs[idx][:, None] + np.arange(dim)[None, :]
                M = vnp[gather]
                accd = np.zeros((idx.size, nlist))
                for i in range(dim):
                    d = M[:, i][:, None] - cents[None, :, i]
                    accd = accd + d * d
                cell_v = np.argmin(accd, axis=1)
                C = cents[cell_v]
                dots = np.zeros(idx.size)
                sq = np.zeros(idx.size)
                for i in range(dim):
                    dots = dots + M[:, i] * C[:, i]
                    sq = sq + M[:, i] * M[:, i]
                den = np.sqrt(sq) * cent_norms[cell_v]
                for r, i in enumerate(idx):
                    cells_all[i] = int(cell_v[r])
                    csim_all[i] = (
                        None if den[r] == 0.0 else float(dots[r] / den[r])
                    )
            for i in np.flatnonzero(~ok):
                vec = arr[int(i)].as_py()
                cell = _cell_fallback(vec, cent_list, dim)
                cells_all[i] = cell
                csim_all[i] = _csim_fallback(vec, cell)
            cols = [batch.column(j) for j in range(len(in_cols))]
            cols.append(pa.array(cells_all, type=pa.int32()))
            cols.append(pa.array(csim_all, type=pa.float64()))
            yield pa.RecordBatch.from_arrays(
                cols, names=in_cols + ["__cell__", "__csim__"]
            )

    return c.mapInArrow(_run, schema=out_schema)


def semdedup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep: tuple[str, ...] = (),
    pairs: str = "fold",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means clustering instead of LSH banding —
    the published LAION/C4 recipe. Every vector is coarse-assigned
    to its nearest trained centroid (argmin squared L2, first-min
    wins — the same deterministic quantization as the IVF family);
    WITHIN each cluster, points are ordered by cosine similarity to
    their centroid ascending (the paper keeps the LOW-similarity
    examples — the ones carrying information the centroid doesn't)
    and a point is dropped iff some earlier-ordered cluster-mate
    sits at cosine ≥ ``threshold``. That matches the reference
    implementation's semantics (max similarity against all earlier
    points in the traversal order, kept or not), which makes the
    drop decision embarrassingly parallel: no sequential scan, no
    transitive closure.

    Contrast with :func:`embedding_near_dups` +
    ``resolve_clusters`` (the engine's LSH + connected-components
    path, whose union-find sees the whole pair graph in one task):
    SemDeDup never builds global components, so two vectors
    at cosine 0.99 in DIFFERENT clusters both survive — by design
    (the paper accepts boundary loss for the cluster-local pair
    bound).

    Scale shape: vectors shuffle ONCE (hash by cluster id for the
    within-cluster self-join + rank window); pair work is
    Σ|cluster|², bounded by choosing nlist ~ N / target_cluster
    at train time (the paper runs 50k clusters for LAION-440M —
    cluster size, not corpus size, prices the quadratic term). The
    centroid array is a broadcast literal; no driver collect
    anywhere. Returns survivors: (id [, keep…], cell).

    The centroid-similarity ORDER is engine-portable (IEEE gaps
    between distinct vectors dwarf fold-order ulps; identical
    vectors tie bit-identically and break on id), but the similarity
    VALUE is not — DuckDB's list_reduce is not a strict sequential
    fold at the last ulp against full-precision double centroids —
    so the ordering stays internal and the output carries only the
    membership decision and the cluster id.

    ``pairs`` picks the quadratic-kernel engine:

    - ``"fold"`` (default, the gated path): pure-Catalyst self-join
      with staged unit vectors — one JVM dot per candidate pair,
      oracle-twinned SQL semantics.
    - ``"arrow"``: per-cluster BLOCKED GEMM via applyInPandas —
      each cluster ships through Arrow once, similarities come from
      BLAS in 1024-row blocks (peak memory |cluster|·1024 doubles,
      never |cluster|²), and the earlier-neighbor test is a
      vectorized any(). The published SemDeDup implementation is
      exactly this kernel; per-pair cost drops from a 64-step
      interpreted fold to a fused multiply inside dgemm (measured
      92 → 9 s at sf1/nlist=8). Decisions can differ from "fold"
      only where a pair's cosine sits within BLAS-reassociation
      distance (~1e-15) of the threshold — mode equality on the
      test corpora is pytest-pinned. Parallelism is one task per
      cluster, so size nlist ≥ cores (the same knob that bounds
      the quadratic term).
    """
    if pairs not in ("fold", "arrow"):
        raise ValueError(f"pairs must be 'fold' or 'arrow', got {pairs!r}")
    c = df.select(
        F.col(id_col),
        *[F.col(k) for k in keep],
        as_double_vec(F.col(vec_col)).alias("__cv__"),
    )
    # fused assign + centroid-cosine Arrow kernel (r16): the old
    # plan carried TWO nlist×dim centroid literal copies (the
    # transform-fold assignment and the element_at csim) — at the
    # production nlist=64 that is ~8k interpreted ops per row and a
    # six-figure plan string per run; the kernel computes both with
    # bit-identical left-associated folds in one vectorized pass.
    a = _assign_csim(c, centroids, keep_cols=tuple(keep), id_col=id_col)
    order = W.partitionBy("__cell__").orderBy(F.col("__csim__").asc(), F.col(id_col).asc())
    # pin the ranked table ONCE: both pair engines consume it twice
    # (pair generation + the survivor join back), and unpinned each
    # consumer re-ran the corpus scan + assignment (r16 measurement;
    # same fix as the near-dup trio). Vector rows pin locally —
    # at corpus scale this is the 'write the fingerprint table
    # once' move of the dedup playbook.
    # keyless repartition before the pin: AQE coalesces the rank
    # window's tiny shuffle output, and pinning ~1 partition would
    # serialize the quadratic pair engines downstream (same trap as
    # the video signature pin)
    ranked = (
        a.withColumn("__rn__", F.row_number().over(order))
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    if pairs == "arrow":
        import pandas as pd

        thr = float(threshold)

        def _cluster_survivors(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("__rn__").reset_index(drop=True)
            # Null-vector parity with the fold mode (ADVICE r11): in
            # the self-join path a null vector's dot is null, so it
            # never drops anyone and is never dropped. Mirror that by
            # keeping null rows as unconditional survivors and running
            # the GEMM over the non-null subset only (rank order among
            # non-null rows is preserved, and null earlier-neighbors
            # could not have caused a drop anyway).
            valid = pdf["__cv__"].notna().to_numpy()
            sub = pdf.loc[valid].reset_index(drop=True)
            if len(sub) == 0:
                return pdf[[id_col, "__cell__"]]
            V = np.stack(sub["__cv__"].to_numpy()).astype(np.float64)
            n = np.linalg.norm(V, axis=1)
            n[n == 0] = 1.0
            V = V / n[:, None]
            m = len(sub)
            drop = np.zeros(m, dtype=bool)
            b = 1024
            for s in range(0, m, b):
                e = min(s + b, m)
                # sims of rows s:e against ALL rows before e
                S = V[s:e] @ V[:e].T  # (e-s, e)
                hit = S >= thr
                # only earlier-ordered rows count (strict lower rank)
                for i in range(e - s):
                    drop[s + i] = bool(hit[i, : s + i].any())
            kept = pd.concat(
                [sub.loc[~drop, [id_col, "__cell__"]],
                 pdf.loc[~valid, [id_col, "__cell__"]]]
            )
            return kept

        # schema mirrors the input id column's type — string ids work
        # in both modes identically (ADVICE r11)
        id_type = df.schema[id_col].dataType.simpleString()
        survivors = (
            ranked.select(id_col, "__cell__", "__rn__", "__cv__")
            .groupBy("__cell__")
            .applyInPandas(
                _cluster_survivors,
                schema=f"{id_col} {id_type}, __cell__ int",
            )
        )
        return (
            ranked.join(survivors.select(id_col), id_col, "left_semi")
            .select(
                F.col(id_col),
                *[F.col(k) for k in keep],
                F.col("__cell__").alias("cell"),
            )
        )
    # stage unit vectors ONCE so the quadratic pair check is a single
    # dot, not dot + two norm recomputations (3 folds -> 1 per pair;
    # the per-pair term is what Σ|cluster|² multiplies). The staged
    # norm is one extra projection on the linear row count.
    staged = ranked.select(
        id_col, "__cell__", "__rn__", "__cv__"
    ).withColumn("__n__", l2norm(F.col("__cv__")))
    pairside = staged.select(
        id_col,
        "__cell__",
        "__rn__",
        F.when(
            F.col("__n__") > 0,
            F.zip_with(
                F.col("__cv__"),
                F.array_repeat(F.col("__n__"), F.size("__cv__")),
                lambda x, nn: x / nn,
            ),
        ).otherwise(F.col("__cv__")).alias("__uv__"),
    )
    lo, hi = pairside.alias("lo"), pairside.alias("hi")
    dropped = (
        lo.join(
            hi,
            (F.col("lo.__cell__") == F.col("hi.__cell__"))
            & (F.col("lo.__rn__") < F.col("hi.__rn__")),
        )
        .filter(dot(F.col("lo.__uv__"), F.col("hi.__uv__")) >= F.lit(threshold))
        .select(F.col(f"hi.{id_col}").alias(id_col))
        .distinct()
    )
    return (
        ranked.join(dropped, id_col, "left_anti")
        .select(
            F.col(id_col),
            *[F.col(k) for k in keep],
            F.col("__cell__").alias("cell"),
        )
    )


def _sqdist(vec: Column, ctr: Column) -> Column:
    return F.aggregate(
        F.zip_with(vec, ctr, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cell_assign(c: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Deterministic coarse quantization: argmin squared distance to
    the fixed centroids, first minimum wins (array_position) —
    bit-reproducible across engines. Input needs ``__cv__``."""
    cent_lit = F.array(
        *[F.array(*[F.lit(float(v)) for v in ctr]) for ctr in centroids]
    )
    dists = F.transform(cent_lit, lambda ctr: _sqdist(F.col("__cv__"), ctr))
    return c.withColumn(
        "__cell__",
        (F.array_position(dists, F.array_min(dists)) - 1).cast("int"),
    )


def _probe_cells(
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """(query_id, __qv__, __cell__) rows: each query's nprobe nearest
    cells. queries × nlist is tiny (both sides broadcast-scale);
    never touches the corpus."""
    spark = queries.sparkSession
    cent_df = spark.createDataFrame(
        [(i, ctr) for i, ctr in enumerate(centroids)],
        "cell INT, centroid ARRAY<DOUBLE>",
    )
    q = queries.select(
        F.col(query_id_col), as_double_vec(F.col(vec_col)).alias("__qv__")
    )
    qc = q.crossJoin(F.broadcast(cent_df)).withColumn(
        "__d__", _sqdist(F.col("__qv__"), F.col("centroid"))
    )
    wq = W.partitionBy(query_id_col).orderBy(F.col("__d__"), F.col("cell"))
    return (
        qc.withColumn("__pr__", F.row_number().over(wq))
        .filter(F.col("__pr__") <= nprobe)
        .select(query_id_col, "__qv__", F.col("cell").alias("__cell__"))
    )


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> None:
    """Materialize the write-once IVF shape: the corpus stored as a
    parquet table PARTITIONED BY its coarse-quantizer cell.

    This is the claim ``ivf_topk``'s docstring makes about 100 TB
    operation, made concrete: cell assignment happens exactly once at
    write time; afterwards every probe is partition pruning — the
    scan opens only the ``nprobe``/``nlist`` fraction of the files
    (see :func:`ivf_probe_index` and the plan-shape test pinning
    ``PartitionFilters``). Store once, probe forever; re-quantization
    only on centroid retrain. One writer per cell (see
    :func:`ivfpq_write_index` — same layout rationale).
    """
    c = corpus.withColumn("__cv__", as_double_vec(F.col(vec_col)))
    assigned = _cell_assign(c, centroids).drop("__cv__")
    assigned.repartition(F.col("__cell__")).write.mode("overwrite").partitionBy(
        "__cell__"
    ).parquet(path)


def ivf_probe_index(
    queries: DataFrame,
    path,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probe a :func:`ivf_write_index` table: identical results to
    :func:`ivf_topk` with the same fixed centroids, but the corpus
    side is a partition-pruned scan instead of a full scan + on-the-
    fly assignment.

    The probed cell set is collected first — bounded by ``nlist``
    ints (NOT corpus-scale; the queries × centroids argmin is
    broadcast-size work) — and pushed into the scan as a literal
    ``__cell__ IN (...)`` partition filter, so pruning is static and
    visible in the plan (``PartitionFilters``). Files in unprobed
    cells are never opened. ``path`` also accepts a pre-opened index
    DataFrame, and the top-k exchange is sized to the query batch —
    the same warm-probe amortizations as :func:`ivfpq_probe_index`
    (PERF §42).
    """
    spark = queries.sparkSession
    probes = _probe_cells(queries, centroids, nprobe, vec_col, query_id_col)
    # one bounded driver action yields both the pruning cells and the
    # query count — a single aggregate row (collect_set ≤ nlist ints +
    # one count), never the O(n_queries × nprobe) pair set
    stat = probes.agg(
        F.collect_set("__cell__").alias("cells"),
        F.countDistinct(query_id_col).alias("nq"),
    ).collect()[0]
    cells = sorted(stat["cells"])
    n_queries = int(stat["nq"])
    idx = spark.read.parquet(path) if isinstance(path, str) else path
    idx = idx.filter(F.col("__cell__").isin(cells))
    cand = idx.withColumn("__cv__", as_double_vec(F.col(vec_col))).join(
        F.broadcast(probes), "__cell__"
    )
    scored = cand.withColumn("cosine", cosine(F.col("__qv__"), F.col("__cv__")))
    # size the top-k exchange to the query batch (ivfpq_probe_index's
    # rule), not the session default — 32+ tasks over a few thousand
    # candidate rows is pure scheduling overhead (PERF §42)
    scored = scored.repartition(max(1, min(n_queries, 16)), F.col(query_id_col))
    w = W.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _ivf_probe_scores(
    c: DataFrame,
    centroids: list[list[float]],
    probes_by_cell: dict[int, list[tuple]],
    id_col: str,
    query_id_col: str,
    qid_type,
) -> DataFrame:
    """One Arrow pass over the corpus computing :func:`ivf_topk`'s
    probe join end to end: coarse-cell assignment (bit-identical to
    :func:`_cell_assign` — same 0.0-init element-order squared-L2
    folds, first-minimum argmin), the probed-cell FILTER (a corpus
    row whose cell no collected query probes is dropped before any
    cosine is evaluated — guide §2.3/§4: never score what you throw
    away), and the cosine of each surviving row against every query
    probing its cell (same left-associated dot/norm folds as the
    relational :func:`cosine`; zero denominator yields NULL,
    matching :func:`_assign_csim`'s pinned Divide semantics).

    Replaces the ``_cell_assign → isin → broadcast join → cosine``
    subtree whose per-row cost was nlist×dim + ~|probes/cell|×3×dim
    interpreted Catalyst HOF ops — the same §4.2 move measured on
    the PQ/IVFPQ family in r16 (the Python boundary pays for itself
    because the work per row is two orders of magnitude cheaper
    vectorized). Ill-formed corpus rows (null/short vector, null
    element, NaN) take a per-row Python path replicating the
    expression semantics exactly: null-element rows assign no cell
    (every distance null) and are dropped by the filter like the
    relational ``isin(null)``; NaN rows keep their NaN cosine.

    ``probes_by_cell``: cell → [(query_id, query_vec doubles)] from
    the collected query batch (broadcast-scale by contract).
    Returns (query_id, id, cosine) — cardinality changes, hence
    mapInArrow rather than a pandas UDF."""
    import numpy as np

    cents = np.asarray(centroids, dtype=np.float64)
    cent_list = [[float(v) for v in ctr] for ctr in centroids]
    nlist, dim = cents.shape
    in_cols = [f.name for f in c.schema.fields]
    vec_idx = in_cols.index("__cv__")
    id_idx = in_cols.index(id_col)
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(query_id_col, qid_type),
            c.schema[id_col],
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    # per-cell query matrices + their l2 norms, both folded in
    # element order exactly like the relational l2norm (0.0 init,
    # acc + x*x per element)
    cell_q: dict[int, tuple] = {}
    for cell, lst in probes_by_cell.items():
        Qm = np.asarray([qv for _, qv in lst], dtype=np.float64)
        accq = np.zeros(Qm.shape[0])
        for i in range(dim):
            accq = accq + Qm[:, i] * Qm[:, i]
        cell_q[int(cell)] = ([qid for qid, _ in lst], Qm, np.sqrt(accq))
    from pyspark.sql.pandas.types import to_arrow_type

    pa_qid = to_arrow_type(qid_type)

    def _cos_fallback(vec, qv):
        # exact emulation of cosine(__qv__, __cv__) for a row the
        # vectorized path rejected: the cell fallback already
        # guarantees len == dim and no null elements (either would
        # have poisoned every distance → no cell → filtered), so
        # only NaN lanes reach here
        d = 0.0
        s = 0.0
        for x, y in zip(vec, qv):
            fx = float(x)
            d = d + fx * y
            s = s + fx * fx
        qs = 0.0
        for y in qv:
            qs = qs + y * y
        import math

        den = math.sqrt(s) * math.sqrt(qs)
        return None if den == 0.0 else d / den

    def _run(batches):
        import pyarrow as pa
        from pyarrow import compute as pc

        for batch in batches:
            n = batch.num_rows
            arr = batch.column(vec_idx)
            ids = batch.column(id_idx)
            valid = (
                arr.is_valid().to_numpy(zero_copy_only=False)
                if arr.null_count
                else np.ones(n, dtype=bool)
            )
            offs = arr.offsets.to_numpy()
            lens = offs[1:] - offs[:-1]
            vals = arr.values
            ok = valid & (lens == dim)
            if vals.null_count:
                nulls = pc.is_null(vals).to_numpy(zero_copy_only=False)
                cum = np.concatenate(([0], np.cumsum(nulls)))
                ok &= (cum[offs[1:]] - cum[offs[:-1]]) == 0
                vnp = vals.fill_null(float("nan")).to_numpy(
                    zero_copy_only=False
                ).astype(np.float64)
            else:
                vnp = vals.to_numpy(zero_copy_only=False).astype(np.float64)
            if np.isnan(vnp).any():
                nan = np.isnan(vnp)
                cum = np.concatenate(([0], np.cumsum(nan)))
                ok &= (cum[offs[1:]] - cum[offs[:-1]]) == 0
            out_qids: list = []
            out_idx: list = []
            out_cos: list = []
            idx = np.flatnonzero(ok)
            if idx.size:
                gather = offs[idx][:, None] + np.arange(dim)[None, :]
                M = vnp[gather]
                accd = np.zeros((idx.size, nlist))
                for i in range(dim):
                    d = M[:, i][:, None] - cents[None, :, i]
                    accd = accd + d * d
                cell_v = np.argmin(accd, axis=1)
                for cell, (qids, Qm, qn) in cell_q.items():
                    sel = np.flatnonzero(cell_v == cell)
                    if not sel.size:
                        continue
                    Mc = M[sel]
                    dots = np.zeros((sel.size, len(qids)))
                    sq = np.zeros(sel.size)
                    for i in range(dim):
                        dots = dots + Mc[:, i][:, None] * Qm[None, :, i]
                        sq = sq + Mc[:, i] * Mc[:, i]
                    den = np.sqrt(sq)[:, None] * qn[None, :]
                    rows = idx[sel]
                    for qj, qid in enumerate(qids):
                        out_qids.extend([qid] * rows.size)
                        out_idx.extend(rows.tolist())
                        col = dots[:, qj]
                        dcol = den[:, qj]
                        out_cos.extend(
                            None if dcol[r] == 0.0 else float(col[r])
                            / float(dcol[r])
                            for r in range(rows.size)
                        )
            for i in np.flatnonzero(~ok):
                vec = arr[int(i)].as_py()
                cell = _cell_fallback(vec, cent_list, dim)
                if cell is None or cell not in cell_q:
                    continue
                qids, Qm, _ = cell_q[cell]
                for qj, qid in enumerate(qids):
                    out_qids.append(qid)
                    out_idx.append(int(i))
                    out_cos.append(_cos_fallback(vec, Qm[qj].tolist()))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_qids, type=pa_qid),
                    ids.take(pa.array(out_idx, type=pa.int64()))
                    if out_idx
                    else ids.slice(0, 0),
                    pa.array(out_cos, type=pa.float64()),
                ],
                names=[query_id_col, id_col, "cosine"],
            )

    return c.mapInArrow(_run, schema=out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int | None = None,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the second scale path
    next to :func:`lsh_bucketed_topk`.

    A k-means coarse quantizer (``nlist`` cells) partitions the
    corpus; every corpus vector is assigned to its cell ONCE, then
    each query probes only its ``nprobe`` nearest cells — exact
    cosine runs on ~``nprobe/nlist`` of the corpus instead of all of
    it. At 100 TB the cell assignment is a write-once partitioning
    (store cell_id as a partition column and the probe is partition
    pruning); the centroid table is tiny and broadcast.

    ``centroids`` (list of nlist × dim floats) skips training and
    quantizes against the given fixed cells — the production shape
    (train once offline, reuse everywhere) AND what makes the whole
    query SQL-expressible for the DuckDB oracle. When None, a
    k-means fit with the fixed ``seed`` supplies them. Either way
    assignment is the same deterministic argmin: per-cell squared
    distances via a left-to-right zip_with fold, first-minimum wins
    (array_position) — bit-reproducible across engines.

    Returns (query_id, vec_id, cosine, rank) like the exact
    baseline; recall grows with ``nprobe`` (== nlist ⇒ exhaustive).
    A zero-norm corpus or query vector gets a NULL cosine whatever
    the session's ANSI mode: the fused Arrow kernel tests the norm
    product for zero instead of dividing, so no divide-by-zero error
    can arise.
    """
    c = corpus.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias("__cv__"))
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        nlist = 16 if nlist is None else nlist
        feat = c.withColumn("__feat__", array_to_vector(F.col("__cv__")))
        km = KMeans(k=nlist, seed=seed, featuresCol="__feat__", predictionCol="__p__")
        model = km.fit(feat)
        centroids = [[float(x) for x in ctr] for ctr in model.clusterCenters()]
    else:
        if nlist is not None and nlist != len(centroids):
            raise ValueError(
                f"nlist={nlist} contradicts len(centroids)={len(centroids)}; "
                "pass one or the other"
            )
        nlist = len(centroids)

    # probes on the DRIVER from the collected query batch (broadcast-
    # scale by contract — the PERF §42 pattern, extended r16 to the
    # inline entry point): same (0.0-init left-assoc fold, cell)
    # order as _probe_cells' window, Python doubles are IEEE-exact.
    # r17 (VERDICT r16 ask #4): the whole assign → probed-cell
    # filter → cosine subtree is ONE fused Arrow pass
    # (_ivf_probe_scores) — the relational form evaluated
    # nlist×dim interpreted HOF ops per corpus row just to assign
    # the cell, then ~3×dim more per (row, probing query) pair for
    # the cosine; the kernel vectorizes both and never scores a row
    # outside the probed cells.
    qrows = queries.select(
        F.col(query_id_col), as_double_vec(F.col(vec_col)).alias("__qv__")
    ).collect()
    probes_by_cell: dict[int, list[tuple]] = {}
    for r in qrows:
        qv = [float(x) for x in r["__qv__"]]
        ds = sorted(
            (_sq_fold(qv, ctr), cell) for cell, ctr in enumerate(centroids)
        )
        for _, cell in ds[:nprobe]:
            probes_by_cell.setdefault(cell, []).append((r[query_id_col], qv))
    scored = _ivf_probe_scores(
        c,
        centroids,
        probes_by_cell,
        id_col,
        query_id_col,
        queries.schema[query_id_col].dataType,
    )
    if qrows:
        # size the top-k exchange to the query batch (PERF §42)
        scored = scored.repartition(
            min(len(qrows), 16), F.col(query_id_col)
        )
    w = W.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the faiss-style compressed-scan path.


def _pq_fallback_codes(vec, codebooks, m_count: int, sub: int) -> list:
    """Per-row exact emulation of the old unrolled-expression
    semantics for ILL-FORMED vectors (null vector, short vector,
    null element, NaN): left-associated squared-L2 per centroid,
    array_min skips nulls / treats NaN as largest, array_position
    takes the first equal entry, null min → null code. Reached only
    off the vectorized path; gated corpora never hit it."""
    import math

    if vec is None:
        return [None] * m_count
    codes: list = []
    for m in range(m_count):
        dists: list = []
        for ctr in codebooks[m]:
            acc = None
            bad = False
            for i, cv in enumerate(ctr):
                off = m * sub + i
                x = vec[off] if off < len(vec) else None  # OOB → null
                if x is None:
                    bad = True
                    break
                t = (float(x) - cv) * (float(x) - cv)
                acc = t if acc is None else acc + t
            dists.append(None if bad else acc)
        usable = [d for d in dists if d is not None]
        if not usable:
            codes.append(None)
            continue
        finite = [d for d in usable if not math.isnan(d)]
        mn = min(finite) if finite else float("nan")
        code = None
        for j, d in enumerate(dists):
            if d is not None and (
                d == mn or (math.isnan(d) and math.isnan(mn))
            ):
                code = j
                break
        codes.append(code)
    return codes


def _cell_fallback(vec, centroids, dim: int):
    """Per-row exact emulation of :func:`_cell_assign` for
    ill-formed vectors: zip_with pads unequal lengths with nulls
    (→ every distance null → null cell), a null element poisons
    every fold, array_min/array_position as in the PQ fallback."""
    import math

    if vec is None or len(vec) != dim:
        return None
    dists: list = []
    for ctr in centroids:
        acc = 0.0
        bad = False
        for x, cv in zip(vec, ctr):
            if x is None:
                bad = True
                break
            d = float(x) - cv
            acc = acc + d * d
        dists.append(None if bad else acc)
    usable = [d for d in dists if d is not None]
    if not usable:
        return None
    finite = [d for d in usable if not math.isnan(d)]
    mn = min(finite) if finite else float("nan")
    for j, d in enumerate(dists):
        if d is not None and (d == mn or (math.isnan(d) and math.isnan(mn))):
            return j
    return None


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple = (),
    centroids: list[list[float]] | None = None,
    probe_cells: "list[int] | set[int] | None" = None,
) -> DataFrame:
    """Product-quantization encode: split each vector into M
    subspaces, snap each sub-vector to its nearest codebook entry
    (first-minimum tie rule) → (id [, keep…][, __cell__], codes
    ARRAY<INT>). With K=16 codes a 64-dim float vector compresses
    64× (8 nibbles) — the representation a 100 TB ANN corpus
    actually stores.

    One Arrow pass with a vectorized numpy kernel (r16; guide §4.2).
    The previous form built M×K unrolled distance COLUMNS (~2048
    expression nodes): measured costs were ~0.6 s of py4j/parse per
    plan build, a 187 KB physical plan, 2–2.7 MB task binaries
    broadcast per stage, and per-stage runtime codegen — ~85 % of an
    ANN query run was that fixed, single-threaded overhead (PERF
    §29/§34, r15 phase split). The kernel does the identical
    arithmetic batch-vectorized: per subspace, squared L2 to each
    centroid accumulated in ELEMENT ORDER (left-associated IEEE
    adds, starting from the first term — bit-equal to the unrolled
    ``t0 + t1 + …`` column because ``0.0 + t0 == t0`` for squares),
    then ``np.argmin``'s first-minimum ≡ ``array_position(dists,
    array_min(dists))``. Ill-formed rows (null/short vector, null
    element, NaN) take a per-row Python path that replicates the
    old expression's null semantics exactly (:func:`_pq_fallback_codes`).

    ``centroids`` fuses the IVF coarse assignment
    (:func:`_cell_assign` semantics, same exactness argument) into
    the same pass, emitting ``__cell__`` before ``codes``; with
    ``probe_cells`` the kernel additionally drops rows whose cell is
    not probed BEFORE encoding them — the r16 pushdown that stops
    encoding corpus rows a later ``__cell__`` equi-join would
    discard (an inner join on a null/non-probed cell drops the row
    either way, so output is unchanged).
    """
    import numpy as np

    m_count = len(codebooks)
    sub = len(codebooks[0][0])
    need = m_count * sub
    books = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    cents = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else None
    )
    dim = cents.shape[1] if cents is not None else None
    cent_list = (
        [[float(v) for v in ctr] for ctr in centroids]
        if centroids is not None
        else None
    )
    cellset = set(int(c) for c in probe_cells) if probe_cells is not None else None
    keep = list(keep_cols)
    in_cols = [id_col, *keep, vec_col]
    src = corpus.select(*in_cols)
    from pyspark.sql import types as T

    out_fields = [src.schema[id_col], *[src.schema[k] for k in keep]]
    if cents is not None:
        out_fields.append(T.StructField("__cell__", T.IntegerType()))
    out_fields.append(T.StructField("codes", T.ArrayType(T.IntegerType())))
    out_schema = T.StructType(out_fields)
    vec_idx = len(in_cols) - 1

    def _run(batches):
        import pyarrow as pa
        from pyarrow import compute as pc

        for batch in batches:
            n = batch.num_rows
            arr = batch.column(vec_idx)
            valid = (
                arr.is_valid().to_numpy(zero_copy_only=False)
                if arr.null_count
                else np.ones(n, dtype=bool)
            )
            offs = arr.offsets.to_numpy()
            lens = offs[1:] - offs[:-1]
            vals = arr.values
            ok = valid & (lens >= need)
            if cents is not None:
                ok &= lens == dim
            if vals.null_count:
                # rows touching a null element leave the fast path
                nulls = pc.is_null(vals).to_numpy(zero_copy_only=False)
                cum = np.concatenate(([0], np.cumsum(nulls)))
                ok &= (cum[offs[1:]] - cum[offs[:-1]]) == 0
                vnp = vals.fill_null(float("nan")).to_numpy(
                    zero_copy_only=False
                ).astype(np.float64)
            else:
                vnp = vals.to_numpy(zero_copy_only=False).astype(np.float64)
            if np.isnan(vnp).any():
                nan = np.isnan(vnp)
                cum = np.concatenate(([0], np.cumsum(nan)))
                span = max(need, dim or 0)
                ends = np.minimum(offs[:-1] + span, offs[1:])
                ok &= (cum[ends] - cum[offs[:-1]]) == 0
            idx = np.flatnonzero(ok)
            cells_all: list = [None] * n
            codes_all: list = [None] * n
            if idx.size:
                gather = offs[idx][:, None] + np.arange(need)[None, :]
                M = vnp[gather]  # (k, need) float64
                if cents is not None:
                    acc = np.zeros((idx.size, cents.shape[0]))
                    for i in range(dim):
                        d = M[:, i][:, None] - cents[None, :, i]
                        acc = acc + d * d
                    cell_v = np.argmin(acc, axis=1)
                codes_v = np.empty((idx.size, m_count), dtype=np.int64)
                for m in range(m_count):
                    S = M[:, m * sub : (m + 1) * sub]
                    B = books[m]
                    acc = np.zeros((idx.size, B.shape[0]))
                    for i in range(sub):
                        d = S[:, i][:, None] - B[None, :, i]
                        acc = acc + d * d
                    codes_v[:, m] = np.argmin(acc, axis=1)
                for r, i in enumerate(idx):
                    codes_all[i] = [int(x) for x in codes_v[r]]
                if cents is not None:
                    for r, i in enumerate(idx):
                        cells_all[i] = int(cell_v[r])
            for i in np.flatnonzero(~ok):
                vec = arr[int(i)].as_py()  # preserves None elements
                codes_all[i] = _pq_fallback_codes(vec, codebooks, m_count, sub)
                if cents is not None:
                    cells_all[i] = _cell_fallback(vec, cent_list, dim)
            if cellset is not None:
                sel = [
                    i
                    for i in range(n)
                    if cells_all[i] is not None and cells_all[i] in cellset
                ]
            else:
                sel = list(range(n))
            take = pa.array(sel, type=pa.int64())
            cols = [batch.column(j).take(take) for j in range(vec_idx)]
            names = in_cols[:vec_idx]
            if cents is not None:
                cols.append(
                    pa.array([cells_all[i] for i in sel], type=pa.int32())
                )
                names = names + ["__cell__"]
            cols.append(
                pa.array(
                    [codes_all[i] for i in sel],
                    type=pa.list_(pa.int32()),
                )
            )
            names = names + ["codes"]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return src.mapInArrow(_run, schema=out_schema)


def _sq_fold(qv, ctr, off: int = 0) -> float:
    """Left-associated squared L2 in pure Python — the exact IEEE
    fold the relational ``_sqdist`` / LUT expressions computed
    (Python floats ARE doubles; ``0.0 + t0 == t0`` for squares)."""
    s = 0.0
    for i, c in enumerate(ctr):
        d = qv[off + i] - c
        s += d * d
    return s


def _driver_probe_luts(
    qrows,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]] | None,
    nprobe: int,
    query_id_col: str,
):
    """Driver-side ADC lookup tables (and probe cells when
    ``centroids`` is given) for a COLLECTED query batch — the PERF
    §42 amortization generalized to the inline top-k entry points
    (r16): a query batch is broadcast-scale by contract, so the M×K
    LUT arithmetic runs as plain Python doubles instead of a
    catalyst projection whose codebook literals cost ~0.2-1.4 s of
    parse/janino per plan run. Probe order is (distance, cell) —
    identical to :func:`_probe_cells`'s row_number window.

    Returns ``(rows, cells)``: one row per (query [, probed cell])
    with the M LUT arrays, and the sorted distinct probed cells
    (``None`` without centroids)."""
    m_count = len(codebooks)
    sub = len(codebooks[0][0])
    rows = []
    cells_set: set = set()
    for r in qrows:
        qv = [float(x) for x in r["__qv__"]]
        luts = tuple(
            [_sq_fold(qv, ctr, mi * sub) for ctr in codebooks[mi]]
            for mi in range(m_count)
        )
        if centroids is None:
            rows.append((r[query_id_col],) + luts)
            continue
        ds = sorted(
            (_sq_fold(qv, ctr), cell) for cell, ctr in enumerate(centroids)
        )
        for _, cell in ds[:nprobe]:
            cells_set.add(cell)
            rows.append((r[query_id_col], cell) + luts)
    return rows, (sorted(cells_set) if centroids is not None else None)


def _lut_schema(
    queries: DataFrame, query_id_col: str, m_count: int, with_cell: bool
) -> str:
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    cols = [f"{query_id_col} {qid_type}"]
    if with_cell:
        cols.append("__cell__ int")
    cols += [f"__lut{mi}__ array<double>" for mi in range(m_count)]
    return ", ".join(cols)


def _pq_score_sql(m_count: int) -> str:
    return " + ".join(
        f"element_at(__lut{m}__, element_at(codes, {m + 1}) + 1)"
        for m in range(m_count)
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    rerank: int = 0,
    metric: str = "l2",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query,
    precompute the M×K lookup table of exact sub-distances to every
    codebook entry, then score each corpus vector as the fixed-order
    sum of M table lookups — O(M) adds per (query, vector) instead
    of O(dim) multiplies, over a corpus that stores only nibble
    codes. Returns (query_id, vec_id, adc_dist, rank).

    Shape: codes are computed once (pq_encode), the query LUTs are
    tiny and broadcast; the corpus never shuffles. Composes with
    the IVF cell pruning for the full faiss-style IVF-PQ layout.

    ``rerank > 0`` is the faiss refinement pattern: take the top
    ``rerank`` candidates by ADC, then re-score ONLY those with the
    exact squared L2 against the full vectors (one broadcast-range
    join of |queries|·rerank rows against the corpus) and emit the
    exact top-k. Lifts recall from the ~0.4 of raw 32-bit codes to
    near-exact at rerank≈10k (pytest pins the measured floor) while
    still scanning only compressed codes corpus-wide.

    ``metric="cosine"``: unit-normalize both sides first and run
    the identical L2 machinery (d² = 2 − 2·cos on unit vectors —
    the faiss cosine recipe, same contract as :func:`ivfpq_topk`).
    """
    if metric not in ("l2", "cosine"):
        raise ValueError(f"metric must be 'l2' or 'cosine', got {metric!r}")
    if metric == "cosine":
        corpus = _unit_normalized(corpus, id_col, vec_col)
        queries = _unit_normalized(queries, query_id_col, vec_col)
    m_count = len(codebooks)
    codes = pq_encode(corpus, codebooks, vec_col, id_col)
    # LUTs computed ON THE DRIVER from the collected query batch
    # (broadcast-scale by contract — the PERF §42 pattern the probe
    # path already used; r16 extends it to the inline entry point):
    # pure-Python doubles reproduce the relational left-assoc sums
    # bit-exactly, and the codebook-literal projection plus its
    # parse/janino cost vanish from the plan.
    spark = queries.sparkSession
    qrows = queries.select(
        F.col(query_id_col), as_double_vec(F.col(vec_col)).alias("__qv__")
    ).collect()
    lut_rows, _ = _driver_probe_luts(
        qrows, codebooks, None, 0, query_id_col
    )
    luts = spark.createDataFrame(
        lut_rows, _lut_schema(queries, query_id_col, m_count, with_cell=False)
    )
    score = _pq_score_sql(m_count)
    scored = codes.crossJoin(F.broadcast(luts)).selectExpr(
        query_id_col, id_col, f"({score}) AS adc_dist"
    )
    if qrows:
        # size the top-k exchange to the query batch (PERF §42)
        scored = scored.repartition(
            min(len(qrows), 16), F.col(query_id_col)
        )
    w = W.partitionBy(query_id_col).orderBy(F.col("adc_dist"), F.col(id_col))
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id_col, id_col, "adc_dist", "rank")
        )
    cands = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select(query_id_col, id_col)
    )
    cvec = corpus.select(
        F.col(id_col), as_double_vec(F.col(vec_col)).alias("__cv__")
    )
    qvec = queries.select(
        F.col(query_id_col), as_double_vec(F.col(vec_col)).alias("__qv__")
    )
    sq = F.aggregate(
        F.zip_with(F.col("__qv__"), F.col("__cv__"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = (
        cands.join(cvec, id_col)
        .join(F.broadcast(qvec), query_id_col)
        .withColumn("l2_dist", sq)
    )
    w2 = W.partitionBy(query_id_col).orderBy(F.col("l2_dist"), F.col(id_col))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "l2_dist", "rank")
    )


def cell_centroid_update(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ONE k-means update step as a relational plan — the training
    half of the IVF quantizer, expressed so the trainer itself scales
    like a query: assign every vector to its nearest centroid
    (deterministic first-min argmin, same as :func:`_cell_assign`),
    then per (cell, lane) emit member count and the mean coordinate.

    Long form (cell, lane, n, mean_val) on purpose: the shuffle
    carries 16-byte rows with map-side partial aggregation (never a
    per-cell vector list), re-assembly to nlist×dim arrays is a
    trivial collect of nlist·dim rows on the driver, and the DuckDB
    oracle matches without array-ordering ambiguity. The lane sums
    are DECIMAL(38,9)-exact, so the means are bit-identical on any
    partitioning — iterate assign→update to a reproducible fixpoint
    (pyspark.ml KMeans trains fine too, but its double accumulation
    is partitioning-dependent; this step is the engine-portable
    twin).
    """
    c = corpus.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias("__cv__"))
    assigned = _cell_assign(c, centroids)
    lanes = assigned.select(
        "__cell__", F.posexplode(F.col("__cv__")).alias("lane", "v")
    )
    return (
        lanes.groupBy("__cell__", "lane")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(38,9)")).cast("double").alias("__s__"),
        )
        .select(
            F.col("__cell__").alias("cell"),
            F.col("lane").cast("int").alias("lane"),
            "n",
            (F.col("__s__") / F.col("n").cast("double")).alias("mean_val"),
        )
    )


def train_ivf(
    corpus: DataFrame,
    nlist: int = 8,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Deterministic Lloyd's k-means built from
    :func:`cell_centroid_update` — the trained-quantizer path with
    NONE of pyspark.ml KMeans' partitioning-dependence: init is a
    deterministic pseudo-random spread — the ``nlist`` vectors with
    the smallest md5(id) (id-adjacent rows are often near-identical
    neighbors, a poor seeding; the hash order decorrelates them at
    the cost of one orderBy+limit) — and every update is the
    decimal-exact relational step, so the same corpus yields
    bit-identical centroids under any repartitioning
    (pytest-pinned). k-means++ would still seed better; swap the
    init rows in if that trade is wanted — the loop is unchanged.

    Driver traffic per iteration is nlist·dim scalars (the long-form
    means) — the loop state is quantizer-sized, never data-sized.
    Empty cells keep their previous centroid.
    """
    init_rows = (
        corpus.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias("__v__"))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(nlist)
        .collect()
    )
    if len(init_rows) < nlist:
        raise ValueError(f"corpus has {len(init_rows)} vectors < nlist={nlist}")
    cents = [[float(x) for x in r["__v__"]] for r in init_rows]
    dim = len(cents[0])
    for _ in range(iters):
        upd = cell_centroid_update(corpus, cents, vec_col=vec_col, id_col=id_col)
        rows = upd.collect()
        nxt = [list(c) for c in cents]
        for r in rows:
            nxt[r.cell][r.lane] = float(r.mean_val)
        if nxt == cents:
            break
        cents = nxt
    return cents


def power_iteration_step(
    corpus: DataFrame,
    component: list[float],
    vec_col: str = "embedding",
) -> DataFrame:
    """One power-iteration step toward the corpus' dominant
    direction: per row the projection s = <x, v> (the deterministic
    sequential fold :func:`dot`), then per lane the DECIMAL(38,9)-
    exact sum of s·x[lane] — bit-identical under any partitioning,
    the same exactness contract as :func:`cell_centroid_update`.
    Uncentered on purpose: this is the top eigenvector of the raw
    second-moment matrix (the direction quantizers/projections care
    about); subtract the corpus mean upstream for classical PCA.

    Plan shape at 100 TB: v is a literal (no join), the projection
    and the posexplode pipeline into the scan, and the only shuffle
    is a dim-row hash aggregate with map-side partials. Returns
    (lane, n, s_sum); :func:`train_top_component` normalizes.
    """
    v = F.array(*[F.lit(float(x)) for x in component])
    staged = corpus.select(as_double_vec(F.col(vec_col)).alias("__cv__")).select(
        "__cv__", dot(F.col("__cv__"), v).alias("__s__")
    )
    lanes = staged.select(
        F.posexplode(F.col("__cv__")).alias("lane", "xv"), "__s__"
    )
    return lanes.groupBy(F.col("lane").cast("int").alias("lane")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("__s__") * F.col("xv")).cast("decimal(38,9)"))
        .cast("double")
        .alias("s_sum"),
    )


def train_top_component(
    corpus: DataFrame,
    dim: int,
    iters: int = 8,
    seed: int = 7,
    vec_col: str = "embedding",
) -> list[float]:
    """Deterministic top principal direction by power iteration —
    the engine training its own projection, same driver-loop budget
    as :func:`train_ivf` (one dim-vector of scalars per round, never
    data-sized state). Each round is one decimal-exact
    :func:`power_iteration_step`, so the result is bit-identical
    under repartitioning (pytest-pinned vs numpy's eigenvector).
    The sign is canonicalized (first nonzero coordinate positive) so
    the fixpoint is unique."""
    rng = np.random.RandomState(seed)
    v = rng.normal(size=dim)
    v = v / np.linalg.norm(v)
    for _ in range(iters):
        rows = power_iteration_step(
            corpus, [float(x) for x in v], vec_col=vec_col
        ).collect()
        u = np.zeros(dim)
        for r in rows:
            u[r["lane"]] = r["s_sum"]
        nrm = np.linalg.norm(u)
        if nrm == 0.0:  # degenerate corpus (all-zero vectors)
            break
        v = u / nrm
    nz = np.flatnonzero(v)
    if len(nz) and v[nz[0]] < 0:
        v = -v
    return [float(x) for x in v]


def train_top_components(
    corpus: DataFrame,
    dim: int,
    k: int = 2,
    iters: int = 8,
    seed: int = 7,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Top-k dominant directions by power iteration with modified
    Gram-Schmidt deflation: component j trains on the residual
    r = x − Σ_{l<j} <r, v_l>·v_l, each projection STAGED as a column
    before the zip_with (an expression referenced inside a lambda
    re-evaluates per element — the word_shingles trap — so the dot
    is computed once per row, not once per lane). Same exactness and
    driver budget as :func:`train_top_component` per component
    (decimal-exact lane sums; one dim-vector of scalars per round);
    k·iters relational passes total. Seeds differ per component so a
    degenerate seed⊥subspace start cannot repeat."""
    comps: list[list[float]] = []
    base = corpus.select(as_double_vec(F.col(vec_col)).alias("__r__"))
    for j in range(k):
        d = base
        for v in comps:
            vv = F.array(*[F.lit(float(x)) for x in v])
            d = d.select("__r__", dot(F.col("__r__"), vv).alias("__s__"))
            d = d.select(
                F.zip_with(
                    "__r__", vv, lambda a, b: a - F.col("__s__") * b
                ).alias("__r__")
            )
        comps.append(
            train_top_component(d, dim, iters=iters, seed=seed + j, vec_col="__r__")
        )
    return comps


# -- scalar quantization (SQ8): the third faiss-style compression ----------

SQ_LO, SQ_HI = -2.0, 2.0  # fixed range; step (hi-lo)/256 = 2^-6 exactly


def sq_encode(
    corpus: DataFrame,
    lo: float = SQ_LO,
    hi: float = SQ_HI,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SQ8 scalar quantization: every lane snaps to one of 256
    uniform codes in [lo, hi) — 4× smaller than float32, 8× than
    float64, decode is one fma. The default range's step is exactly
    2⁻⁶, so encode arithmetic ((v-lo)·2⁶) is EXACT in IEEE double
    and the DuckDB oracle reproduces every code bit-for-bit.
    Per-lane trained ranges drop in as literal arrays with the same
    plan shape (cf. the PQ codebooks / IVF centroids contract).
    One projection, no shuffle."""
    step = (hi - lo) / 256.0
    v = F.col(vec_col)
    codes = F.transform(
        as_double_vec(v),
        lambda x: F.least(
            F.greatest(F.floor((x - F.lit(lo)) / F.lit(step)), F.lit(0)),
            F.lit(255),
        ).cast("int"),
    )
    return corpus.select(F.col(id_col), codes.alias("codes"))


def sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    lo: float = SQ_LO,
    hi: float = SQ_HI,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k by squared L2 against SQ8-dequantized vectors (code
    midpoints): the corpus scans only int codes, queries broadcast,
    distances are a left-to-right zip_with fold (the engine-portable
    order). Returns (query_id, vec_id, sq_dist, rank)."""
    step = (hi - lo) / 256.0
    codes = sq_encode(corpus, lo, hi, vec_col, id_col)
    qv = queries.select(
        F.col(query_id_col), as_double_vec(F.col(vec_col)).alias("__qv__")
    )
    dq = F.transform(
        F.col("codes"),
        lambda c: F.lit(lo) + (c.cast("double") + F.lit(0.5)) * F.lit(step),
    )
    scored = codes.crossJoin(F.broadcast(qv)).withColumn(
        "sq_dist",
        F.aggregate(
            F.zip_with(F.col("__qv__"), dq, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    w = W.partitionBy(query_id_col).orderBy(F.col("sq_dist"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "sq_dist", "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    rerank: int | str = 0,
    metric: str = "l2",
) -> DataFrame:
    """The full faiss production layout — IVF coarse pruning × PQ
    compressed scan: corpus vectors are cell-assigned AND
    PQ-encoded in one pass (write-once at 100 TB: a parquet table
    partitioned by cell holding nibble codes), each query probes its
    ``nprobe`` nearest cells and ADC-scores ONLY those cells' codes
    with its broadcast lookup tables. Scan cost divides by
    nlist/nprobe on top of PQ's dim/M compression; both quantizers
    ship as plan literals (train once offline — :func:`train_ivf` /
    the PQ codebooks).

    Returns (query_id, vec_id, adc_dist, rank); identical ADC
    arithmetic to :func:`pq_topk`, so at nprobe == nlist the result
    IS pq_topk's (pytest-pinned equivalence). ``rerank > 0`` adds
    the same faiss refinement as :func:`pq_topk` — exact L2 on the
    top-``rerank`` ADC candidates only (|queries|·rerank rows join
    the corpus; returns l2_dist instead of adc_dist) — the first
    recall lever when nibble codes saturate (PERF §57, vs exact-L2
    ground truth: trained stack at rerank=50 lifts sf0.1 recall@5
    0.28→0.50 and sf1 0.66→1.00; widen nprobe next, then M).

    ``rerank`` and ``nprobe`` are COUPLED — widening nprobe under a
    FIXED rerank window can LOWER recall (PERF §57's measured
    non-monotonicity: sf0.1 recall@5 is 0.86 at nprobe=6/rerank=200
    but 0.84 at nprobe=8/rerank=200 — the wider candidate pool
    displaces true neighbors from the fixed-size ADC top-R).
    ``rerank="auto"`` sizes the window with the pool:
    max(10·k, 7·k·nprobe) — at k=5 that is 105/210/280 for
    nprobe=3/6/8, tracking §57's good points (50 at nprobe=3, 200
    at nprobe=6) with headroom at nprobe=8 where fixed-200
    regressed. Pass an explicit int to control the
    |queries|·rerank exact-scoring cost directly.

    ``metric="cosine"`` unit-normalizes corpus and queries up front
    (one staged-norm projection each) and then runs the identical
    L2 machinery — on unit vectors d² = 2 − 2·cos, so assignment,
    ADC order, and the rerank order all match cosine exactly (the
    faiss recipe); at nprobe=nlist with rerank ≥ |corpus| the
    result provably equals :func:`brute_force_topk`'s cosine top-k
    (pytest-pinned). Quantizers should be trained on normalized
    vectors for best cell balance; any quantizer stays CORRECT
    (pruning and codes just lose some recall)."""
    if metric not in ("l2", "cosine"):
        raise ValueError(f"metric must be 'l2' or 'cosine', got {metric!r}")
    if rerank == "auto":  # nprobe-coupled window (see docstring)
        rerank = max(10 * k, 7 * k * nprobe)
    elif not isinstance(rerank, int):
        raise ValueError(f"rerank must be an int or 'auto', got {rerank!r}")
    if metric == "cosine":
        corpus = _unit_normalized(corpus, id_col, vec_col)
        queries = _unit_normalized(queries, query_id_col, vec_col)
    m_count = len(codebooks)
    c = corpus.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias("__cv__"))
    # probes + ADC LUTs on the DRIVER from the collected query batch
    # (broadcast-scale by contract; the PERF §42 pattern, extended
    # r16 to the inline entry point — see pq_topk). The distinct
    # probed cells feed pq_encode's fused assign+encode pass, which
    # skips encoding any corpus row outside them (the old plan
    # PQ-encoded the WHOLE corpus and only then dropped unprobed
    # cells at the __cell__ join).
    spark = queries.sparkSession
    qrows = queries.select(
        F.col(query_id_col), as_double_vec(F.col(vec_col)).alias("__qv__")
    ).collect()
    lut_rows, cells = _driver_probe_luts(
        qrows, codebooks, centroids, nprobe, query_id_col
    )
    probe_luts = spark.createDataFrame(
        lut_rows, _lut_schema(queries, query_id_col, m_count, with_cell=True)
    )
    enc = pq_encode(
        c, codebooks, vec_col="__cv__", id_col=id_col,
        centroids=centroids, probe_cells=cells,
    )
    scored = enc.join(F.broadcast(probe_luts), "__cell__").selectExpr(
        query_id_col, id_col, f"({_pq_score_sql(m_count)}) AS adc_dist"
    )
    if qrows:
        # size the top-k exchange to the query batch (PERF §42)
        scored = scored.repartition(
            min(len(qrows), 16), F.col(query_id_col)
        )
    w = W.partitionBy(query_id_col).orderBy(F.col("adc_dist"), F.col(id_col))
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id_col, id_col, "adc_dist", "rank")
        )
    cands = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select(query_id_col, id_col)
    )
    qvec = queries.select(
        F.col(query_id_col), as_double_vec(F.col(vec_col)).alias("__qv__")
    )
    sq = F.aggregate(
        F.zip_with(F.col("__qv__"), F.col("__cv__"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = (
        cands.join(c, id_col)
        .join(F.broadcast(qvec), query_id_col)
        .withColumn("l2_dist", sq)
    )
    w2 = W.partitionBy(query_id_col).orderBy(F.col("l2_dist"), F.col(id_col))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "l2_dist", "rank")
    )


def ivfpq_write_index(
    corpus: DataFrame,
    path: str,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize the IVF-PQ index: (id, codes) partitioned by
    ``__cell__`` — cell-assign + PQ-encode run ONCE when the corpus
    lands; the table stores M bytes of codes per vector and is
    re-read by every query batch with partition pruning. This is the
    write-once contract :func:`ivfpq_topk`'s docstring names (cf.
    :func:`ivf_write_index`, :func:`minhash_lsh_candidates_from_signatures`).

    Rows shuffle onto their cell before the write so each cell gets
    ONE writer (one file per cell instead of one per upstream task —
    32× fewer files at local parallelism 32, bigger row groups,
    cheaper listing on every probe). At corpus scale a cell outgrows
    a single task's output; `spark.sql.files.maxRecordsPerFile`
    splits it without changing the layout contract."""
    c = corpus.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias("__cv__"))
    enc = pq_encode(
        c, codebooks, vec_col="__cv__", id_col=id_col, centroids=centroids
    )
    enc.repartition(F.col("__cell__")).write.mode("overwrite").partitionBy(
        "__cell__"
    ).parquet(path)


def ivfpq_append_stream(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """CONTINUOUS index ingestion: the exact assign+encode
    projection :func:`ivfpq_write_index` runs once-per-corpus,
    applied to a STREAMING DataFrame and appended into the same
    ``__cell__``-partitioned layout — the production shape where
    embeddings arrive forever and the index must stay searchable
    without rebuilds. Everything upstream of the sink is stateless
    (coarse assign + PQ encode are pure projections against
    broadcast literals), so there is no watermark and no state
    store; the parquet file sink's ``_spark_metadata`` transaction
    log gives exactly-once file visibility, and
    :func:`ivfpq_probe_index` reads the path unchanged (Spark's
    batch reader honors the sink log, partition pruning included —
    parity with a batch-written index is pytest-pinned).

    Returns the started StreamingQuery (availableNow trigger —
    drain-what's-there; swap the trigger for continuous ingest).
    The quantizers are train-once artifacts by contract, so codes
    written yesterday remain valid tomorrow — retraining means
    reindexing, exactly like faiss."""
    c = stream.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias("__cv__"))
    enc = pq_encode(
        c, codebooks, vec_col="__cv__", id_col=id_col, centroids=centroids
    )
    return (
        enc.repartition(F.col("__cell__"))
        .writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("__cell__")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def ivfpq_compact_index(
    spark,
    src_path: str,
    dst_path: str,
) -> dict:
    """Compact an IVF-PQ index directory — the maintenance step a
    long-lived :func:`ivfpq_append_stream` ingest eventually needs:
    every micro-batch appends one file per touched cell, and probe
    cost grows with file COUNT (listing + footer reads), not data.
    Reads the source (honoring its ``_spark_metadata`` sink log if
    present), re-clusters one writer per cell, and rewrites to a
    NEW directory — never in place, because rewriting under a sink
    log would desync the log from the files; cutover is the
    caller's atomic pointer/rename swap, the same write-once
    contract as the index itself. Returns {"files_before",
    "files_after", "rows"}."""
    import glob
    import os

    def _count(p: str) -> int:
        return len(
            [
                f
                for f in glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
                if "_spark_metadata" not in f
            ]
        )

    df = spark.read.parquet(src_path)
    # files_before from the COMMITTED set the sink-log-honoring read
    # actually saw — a raw glob would count orphaned parquet from
    # failed/uncommitted micro-batches that reads exclude, inflating
    # the reported compaction benefit (ADVICE r11)
    before = len(df.inputFiles())
    rows = df.count()
    df.repartition(F.col("__cell__")).write.mode("overwrite").partitionBy(
        "__cell__"
    ).parquet(dst_path)
    return {"files_before": before, "files_after": _count(dst_path), "rows": rows}


def ivfpq_probe_index(
    queries: DataFrame,
    path,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    rerank: int | str = 0,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Probe a :func:`ivfpq_write_index` table: identical results to
    :func:`ivfpq_topk` with the same quantizers, but the corpus side
    is a partition-pruned scan of nibble codes — files in unprobed
    cells never open, no vector arithmetic happens corpus-side at
    query time (the index already paid it). Probed cells collect as
    ≤ nlist ints and push into the scan as a literal partition
    filter (``PartitionFilters`` in the plan, pytest-pinned).

    The probe cells AND the ADC lookup tables are computed on the
    DRIVER (VERDICT r7 ask #5): a query batch is broadcast-scale by
    contract — it was already collected for the cell filter and
    broadcast for the join — and the per-query arithmetic is
    O(nlist·dim + M·K·subdim) float ops. Replicating the exact
    left-associated IEEE double sums of :func:`_sqdist` (fold from
    0.0; x + 0.0 == x exactly, squares are never -0.0) and
    :func:`_pq_lut_exprs` keeps the result BIT-IDENTICAL to
    :func:`ivfpq_topk` (pytest-pinned), while the warm per-run plan
    cost drops from ~1.4 s (analyze + janino-compile the M×K-literal
    LUT projection, plus a second probe-cell job) to one small
    scan-join-topk job whose score expression is M lookups.

    ``path`` also accepts a pre-opened index DataFrame
    (``spark.read.parquet(path)`` held across a query-batch loop) —
    the production handle pattern: parquet listing/footer work is
    paid once per index open instead of once per probe. The top-k
    exchange is sized to the query batch (``repartition(|q|,
    query_id)`` bounded at 16) — a 32-wide shuffle of a few thousand
    candidate rows is pure task-scheduling overhead. Measured at
    sf0.1 (20k codes, 10 queries, nprobe 3): 2.3 s → 0.52 s warm
    with a handle, 0.65 s re-opening per probe (PERF §42).

    ``rerank`` (r11) brings the production path the same recall
    lever the inline :func:`ivfpq_topk` has: the index stores only
    nibble codes, so exact-L2 refinement joins the ADC top-``rerank``
    candidates back to ``corpus`` (the ORIGINAL vector table — it
    must be passed; |queries|·rerank rows touch full vectors,
    returns l2_dist). ``"auto"`` = max(10·k, 7·k·nprobe), the same
    nprobe-coupled window (see ivfpq_topk's non-monotonicity note).
    Bit-identical to ``ivfpq_topk(rerank=R)`` — pytest-pinned."""
    if rerank == "auto":
        rerank = max(10 * k, 7 * k * nprobe)
    elif not isinstance(rerank, int):
        raise ValueError(f"rerank must be an int or 'auto', got {rerank!r}")
    if rerank and corpus is None:
        raise ValueError(
            "rerank needs corpus= (the original vector table); the index "
            "holds only PQ codes"
        )
    spark = queries.sparkSession
    m_count = len(codebooks)
    sub = len(codebooks[0][0])
    qrows = queries.select(
        F.col(query_id_col), as_double_vec(F.col(vec_col)).alias("__qv__")
    ).collect()

    lut_rows, cells = _driver_probe_luts(
        qrows, codebooks, centroids, nprobe, query_id_col
    )
    probe_luts = spark.createDataFrame(
        lut_rows, _lut_schema(queries, query_id_col, m_count, with_cell=True)
    )
    idx = spark.read.parquet(path) if isinstance(path, str) else path
    idx = idx.filter(F.col("__cell__").isin(cells))
    scored = idx.join(F.broadcast(probe_luts), "__cell__").selectExpr(
        query_id_col, id_col, f"({_pq_score_sql(m_count)}) AS adc_dist"
    )
    if qrows:
        scored = scored.repartition(
            min(len(qrows), 16), F.col(query_id_col)
        )
    w = W.partitionBy(query_id_col).orderBy(F.col("adc_dist"), F.col(id_col))
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id_col, id_col, "adc_dist", "rank")
        )
    cands = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select(query_id_col, id_col)
    )
    c = corpus.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias("__cv__"))
    qvec = queries.select(
        F.col(query_id_col), as_double_vec(F.col(vec_col)).alias("__qv__")
    )
    sq = F.aggregate(
        F.zip_with(F.col("__qv__"), F.col("__cv__"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = (
        cands.join(c, id_col)
        .join(F.broadcast(qvec), query_id_col)
        .withColumn("l2_dist", sq)
    )
    w2 = W.partitionBy(query_id_col).orderBy(F.col("l2_dist"), F.col(id_col))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "l2_dist", "rank")
    )


def train_pq(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Deterministic PQ codebook training: per subspace, the SAME
    relational Lloyd's loop as :func:`train_ivf` over the sliced
    sub-vectors — both quantizers of the faiss layout now train
    engine-portably (bit-equal codebooks under any repartitioning,
    inherited from the decimal-exact update step). m × iters
    aggregate jobs, each over (id, sub-vector) projections; driver
    state is codebook-sized."""
    dim = _vec_dim(corpus, vec_col, dim)
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sub = dim // m
    books = []
    for mi in range(m):
        sliced = corpus.select(
            F.col(id_col),
            F.slice(as_double_vec(F.col(vec_col)), mi * sub + 1, sub).alias(
                "__sv__"
            ),
        )
        books.append(
            train_ivf(sliced, nlist=k, iters=iters, vec_col="__sv__", id_col=id_col)
        )
    return books
