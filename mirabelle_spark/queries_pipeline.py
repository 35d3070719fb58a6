"""Pipeline-operator queries over documents/embeddings + oracles.

Same registry contract as :mod:`mirabelle_spark.queries`. Entries
without an oracle (LSH candidate generation, hyperplane bucketing)
are genuinely not SQL-expressible — the driver records a rows-only
check for them; the deterministic verification of those paths lives
in ``tests/``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mirabelle_spark.pipeline import ann, dedup, lm, multimodal, text

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# dedup


@q(
    "dedup_exact_docs",
    """
SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS dup_count
FROM documents
GROUP BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
""",
)
def dedup_exact_docs(spark, sf):
    return dedup.dedup_exact(docs(spark, sf))


def _minhash_lsh_oracle(num_hashes: int = 64, bands: int = 8, shingle_n: int = 3) -> str:
    """Full MinHash-LSH pipeline as DuckDB SQL: shingle → md5-derived
    32-bit hash → k universal-hash min-aggregates (same (a,b) family
    as the Spark side) → banded self-join on exact sub-signatures.

    Portable because the Spark side hashes shingles with
    conv(substr(md5,1,15),16,10) % 2^32 — DuckDB mirrors it as
    ('0x'||substr(md5,1,15))::BIGINT % 2^32. The oracle joins bands on
    the exact r-tuple (as a string key) where Spark joins on
    xxhash64(r-tuple); identical output barring a 2^-64 hash collision.
    """
    r = num_hashes // bands
    p = dedup._MINHASH_P
    params = dedup._minhash_params(num_hashes)
    sig_aggs = ",\n         ".join(
        f"min(({a} * h + {b}) % {p}) AS m{i}" for i, (a, b) in enumerate(params)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {b} AS band_id, concat_ws(',', {cols}) AS band_key FROM sig".format(
            b=b, cols=", ".join(f"m{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    return f"""
WITH words AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(w) - {shingle_n - 1}, 0) + 1),
           i -> array_to_string(list_slice(w, i, i + {shingle_n - 1}), ' ')))) AS s
  FROM words
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % 4294967296 AS h FROM sh
), sig AS (
  SELECT doc_id,
         {sig_aggs}
  FROM hashed GROUP BY doc_id
), bands AS (
  {band_selects}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


@q("minhash_lsh_pairs", _minhash_lsh_oracle(num_hashes=64, bands=8))
def minhash_lsh_pairs(spark, sf):
    return dedup.minhash_lsh_candidates(docs(spark, sf), num_hashes=64, bands=8)




_JACCARD_EXHAUSTIVE = """
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(len(string_split_regex(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' ')) - 2, 0) + 1),
    i -> array_to_string(list_slice(string_split_regex(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' '), i, i + 2), ' ')
  )) AS s
  FROM documents
)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
) WHERE jaccard >= 0.5
"""


@q("ngram_jaccard_pairs", _JACCARD_EXHAUSTIVE)
def ngram_jaccard_pairs_q(spark, sf):
    """LSH candidates + exact verify vs an EXHAUSTIVE all-pairs
    oracle: valid because at J >= 0.5 the banding's detection is
    deterministic for this corpus (every qualifying pair sits at
    J >= 0.9 where 16 bands x r=4 recall is effectively total —
    verified empirically; any miss would be a stable, visible
    mismatch, not a flake). Because the oracle is exhaustive — not a
    signature mirror — it is hash-family-independent, so this query
    runs the PRODUCTION xxhash64 shingle hash (shingle_hash="fast");
    minhash_lsh_pairs keeps the portable md5 twin for its banding
    oracle."""
    return dedup.ngram_jaccard_pairs(
        docs(spark, sf), threshold=0.5, num_hashes=64, bands=16,
        shingle_hash="fast",
    )


# SimHash, bit-for-bit in SQL: token bit j == bit (3 - j%4) of md5
# hex nibble j//4 — exactly np.unpackbits over the first 8 digest
# bytes, which is what the Spark-side pandas UDF computes. Per-doc
# signature = sum of (1 << j) over bits whose +/-1 vote is positive
# (bit 63 contributes INT64_MIN in two's complement). The 64×-token
# cross join is the oracle's cost, not the engine's.
_SIMHASH_PAIRS_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents WHERE trim(text) != ''
), bits AS (
  SELECT doc_id, j,
         sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(tok), (j // 4) + 1, 1)) - 1)
                        >> (3 - (j % 4))) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM toks, unnest(range(0, 64)) t(j)
  GROUP BY doc_id, j
), sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN acc > 0 THEN
                CASE WHEN j = 63 THEN -9223372036854775808 ELSE CAST(1 AS BIGINT) << j END
              ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
), allsig AS (
  SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash
  FROM documents d LEFT JOIN sig s USING (doc_id)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM allsig a JOIN allsig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
"""


@q("simhash_pairs", _SIMHASH_PAIRS_ORACLE)
def simhash_pairs(spark, sf):
    return (
        dedup.simhash_near_dups(docs(spark, sf), max_hamming=8)
        .withColumn("hamming", F.col("hamming").cast("bigint"))
    )


def _dedup_clusters_oracle(num_hashes: int = 64, bands: int = 8) -> str:
    """Connected components over the MinHash pair graph as a
    recursive CTE: min reachable doc_id per node. Reuses the exact
    minhash pair SQL as the edge set; components are near-dup
    clusters (tiny), so the closure stays small."""
    pair_sql = _minhash_lsh_oracle(num_hashes=num_hashes, bands=bands).strip()
    return f"""
WITH RECURSIVE pairs AS (
  {pair_sql}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.id
)
SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
"""


@q("dedup_clusters", _dedup_clusters_oracle())
def dedup_clusters(spark, sf):
    """Transitive near-dup resolution: MinHash-LSH pairs → connected
    components → canonical doc per cluster (min id). One survivor
    per CHAIN of near-dups, not per pair."""
    d = docs(spark, sf)
    pairs = dedup.minhash_lsh_candidates(d, num_hashes=64, bands=8)
    return dedup.resolve_clusters(pairs, d.select("doc_id"), clean_pairs=True)


def _dedup_survivors_oracle(num_hashes: int = 64, bands: int = 8) -> str:
    cluster_sql = _dedup_clusters_oracle(num_hashes=num_hashes, bands=bands).strip()
    return f"""
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN ({cluster_sql}) c USING (doc_id)
WHERE d.doc_id = c.cluster_id
"""


@q("dedup_survivors_docs", _dedup_survivors_oracle())
def dedup_survivors_docs(spark, sf):
    """End-to-end near-dup REMOVAL: the cluster resolution's output
    applied back to the corpus — keep exactly the canonical doc (min
    id) of every near-dup chain. This is the actual corpus-cleaning
    step a training pipeline ships; the cluster table is tiny
    relative to the corpus, so the survivor filter is one
    hash-semi-join that never moves document bodies."""
    d = docs(spark, sf)
    pairs = dedup.minhash_lsh_candidates(d, num_hashes=64, bands=8)
    clusters = dedup.resolve_clusters(pairs, d.select("doc_id"), clean_pairs=True)
    survivors = clusters.filter(
        F.col("doc_id") == F.col("cluster_id")
    ).select("doc_id")
    return d.join(survivors, "doc_id", "left_semi").select(
        "doc_id", "lang", "n_chars"
    )


# ---------------------------------------------------------------------------
# similarity search

_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]), "
    "(acc, v) -> acc + v)"
)
_NORM = "sqrt(list_reduce(list_transform({a}, x -> x * x), (acc, v) -> acc + v))"


@q(
    "ann_bruteforce_topk",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
), scored AS (
  SELECT query_id, vec_id,
         {_DOT.format(a='qv', b='cv')} / ({_NORM.format(a='qv')} * {_NORM.format(a='cv')})
           AS cosine
  FROM c, q
), ranked AS (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id)
              AS INT) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
""",
)
def ann_bruteforce_topk(spark, sf):
    e = embs(spark, sf)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann.brute_force_topk(e, queries, k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


_L2 = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "x -> (x[1] - x[2]) * (x[1] - x[2])), (acc, v) -> acc + v)"
)


@q(
    "ann_bruteforce_l2_topk",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
), scored AS (
  SELECT query_id, vec_id, {_L2.format(a='qv', b='cv')} AS l2_dist
  FROM c, q
), ranked AS (
  SELECT query_id, vec_id, l2_dist,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY l2_dist, vec_id)
              AS INT) AS rank
  FROM scored
)
SELECT query_id, vec_id, l2_dist, rank FROM ranked WHERE rank <= 5
""",
)
def ann_bruteforce_l2_topk(spark, sf):
    """Exact squared-L2 top-5 (r10) — the ground-truth baseline in
    the SAME metric as the whole compressed family (PQ/SQ8/IVF-PQ);
    the cosine brute force ranks differently on unnormalized
    vectors (the PERF §57 harness trap)."""
    e = embs(spark, sf)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann.brute_force_l2_topk(e, queries, k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))




def _planes_sql(dim: int, planes: int, seed: int) -> str:
    """Plane matrix as a SQL list-of-lists literal (same seeded numpy
    values as ann.hyperplanes — the whole LSH path is deterministic,
    which is what makes it oracle-checkable)."""
    ps = ann.hyperplanes(dim, planes, seed=seed)
    rows = ", ".join("[" + ", ".join(repr(float(x)) for x in p) + "]" for p in ps)
    return "[" + rows + "]"


def _lsh_bucket_sql(vec: str, planes_expr: str, n_planes: int) -> str:
    """bucket = sum over planes of (dot(vec, plane) >= 0) << i,
    mirroring ann.bucket_key's fold-exact dot product."""
    terms = []
    for i in range(n_planes):
        dot = (
            f"list_reduce(list_transform(list_zip({vec}, {planes_expr}[{i + 1}]), "
            "x -> x[1] * x[2]), (acc, v) -> acc + v)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _ann_lsh_oracle(k: int, planes: int, tables: int, seed: int = 42) -> str:
    dim = 64
    table_sqls = []
    for t in range(tables):
        pexpr = f"p{t}.pl"
        bucket_c = _lsh_bucket_sql("cv", pexpr, planes)
        bucket_q = _lsh_bucket_sql("qv", pexpr, planes)
        table_sqls.append(f"""
  SELECT query_id, vec_id, qv, cv FROM
    (SELECT vec_id, embedding::DOUBLE[] AS cv,
            {bucket_c} AS b
     FROM embeddings, (SELECT {_planes_sql(dim, planes, seed + t)} AS pl) p{t}) c
    JOIN
    (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
            {bucket_q} AS b
     FROM embeddings, (SELECT {_planes_sql(dim, planes, seed + t)} AS pl) p{t}
     WHERE vec_id < 10) q
    USING (b)""")
    union = " UNION ALL ".join(table_sqls)
    return f"""
WITH cand AS (
  SELECT DISTINCT ON (query_id, vec_id) query_id, vec_id, qv, cv FROM ({union})
), scored AS (
  SELECT query_id, vec_id,
         {_DOT.format(a='qv', b='cv')} / ({_NORM.format(a='qv')} * {_NORM.format(a='cv')})
           AS cosine
  FROM cand
), ranked AS (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id)
              AS INT) AS rank
  FROM ranked_src
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
""".replace("ranked_src", "scored")


@q("ann_lsh_topk")
def ann_lsh_topk(spark, sf):
    e = embs(spark, sf)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann.lsh_bucketed_topk(e, queries, k=5, planes=6, tables=3, dim=64)
    return out.withColumn("rank", F.col("rank").cast("int"))


ORACLES["ann_lsh_topk"] = _ann_lsh_oracle(k=5, planes=6, tables=3)


def _centroids_sql(centroids=None) -> str:
    """A quantizer as a SQL list-of-lists literal (full-repr doubles
    round-trip exactly); defaults to the fixed IVF_CENTROIDS."""
    if centroids is None:
        from mirabelle_spark.pipeline.ivf_centroids import IVF_CENTROIDS

        centroids = IVF_CENTROIDS
    rows = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in c) + "]" for c in centroids
    )
    return "[" + rows + "]"


def _ann_ivf_oracle(k: int, nprobe: int, nlist: int = 8, centroids=None) -> str:
    """IVF with the fixed quantizer, end to end in SQL: per-vector
    squared distances to every centroid (left-to-right fold, same
    order as the Spark zip_with), cell = first argmin
    (list_position), queries probe their nprobe nearest cells
    (row_number over (d, cell)), exact cosine + rank inside the
    probed cells only."""
    sqd = (
        "list_transform(cs, c -> list_reduce("
        "list_transform(list_zip({v}, c), x -> (x[1] - x[2]) * (x[1] - x[2])), "
        "(acc, v) -> acc + v))"
    )
    cells = ", ".join(f"({i})" for i in range(1, nlist + 1))
    return f"""
WITH cent AS (SELECT {_centroids_sql(centroids)} AS cs),
assigned AS (
  SELECT vec_id, embedding::DOUBLE[] AS cv,
         CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell
  FROM (SELECT vec_id, embedding, {sqd.format(v='embedding::DOUBLE[]')} AS ds
        FROM embeddings, cent)
),
qdist AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
         {sqd.format(v='embedding::DOUBLE[]')} AS ds
  FROM embeddings, cent WHERE vec_id < 10
),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT query_id, qv, i - 1 AS cell,
           row_number() OVER (PARTITION BY query_id ORDER BY ds[i], i) AS pr
    FROM qdist, (VALUES {cells}) t(i)
  ) WHERE pr <= {nprobe}
),
scored AS (
  SELECT p.query_id, a.vec_id,
         {_DOT.format(a='p.qv', b='a.cv')}
           / ({_NORM.format(a='p.qv')} * {_NORM.format(a='a.cv')}) AS cosine
  FROM assigned a JOIN probes p USING (cell)
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id)
              AS INT) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


@q("ann_ivf_topk", _ann_ivf_oracle(k=5, nprobe=3))
def ann_ivf_topk(spark, sf):
    from mirabelle_spark.pipeline.ivf_centroids import IVF_CENTROIDS

    e = embs(spark, sf)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann.ivf_topk(e, queries, k=5, nprobe=3, centroids=IVF_CENTROIDS)
    return out.withColumn("rank", F.col("rank").cast("int"))


def _trained_centroids():
    from mirabelle_spark.pipeline.ivf_centroids_trained import (
        TRAINED_IVF_CENTROIDS,
    )

    return TRAINED_IVF_CENTROIDS


@q("ann_ivf_trained_topk", _ann_ivf_oracle(k=5, nprobe=3, centroids=_trained_centroids()))
def ann_ivf_trained_topk(spark, sf):
    """IVF search with the TRAINED quantizer — the faiss
    train→add→search lifecycle on the gated path: centroids come from
    :func:`ann.train_ivf` (deterministic decimal-exact Lloyd's on the
    sf0.01 corpus, persisted in ivf_centroids_trained.py; the pin
    test re-runs the trainer and asserts byte equality), not the
    md5-placeholder spread. Same plan as ann_ivf_topk — only the
    quantizer literals differ, which is the point: training is an
    offline job, search cost is invariant to where the centroids
    came from."""
    from mirabelle_spark.pipeline.ivf_centroids_trained import (
        TRAINED_IVF_CENTROIDS,
    )

    e = embs(spark, sf)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann.ivf_topk(e, queries, k=5, nprobe=3, centroids=TRAINED_IVF_CENTROIDS)
    return out.withColumn("rank", F.col("rank").cast("int"))


def _pq_oracle_parts(codebooks=None) -> dict:
    """Shared SQL fragments for the PQ/IVF-PQ oracles. Every squared
    distance is the same UNROLLED left-associated sum of the same
    repr() double literals as the Spark side — DuckDB's list_reduce
    is NOT a plain left fold (measured: 1-ulp divergence on some
    subspaces), so the oracles never use it. Each distance is
    projected once in a wide CTE, then argmin / LUT / score only
    reference those columns. ``codebooks`` defaults to the fixed
    PQ_CODEBOOKS; pass the trained books for the trained query."""
    from mirabelle_spark.pipeline.pq_codebooks import (
        PQ_CODEBOOKS as _FIXED, PQ_M, PQ_SUBDIM,
    )

    PQ_CODEBOOKS = _FIXED if codebooks is None else codebooks

    def dlit(v: float) -> str:
        # exponent suffix forces DuckDB to parse the literal
        # DIRECTLY as DOUBLE (correctly-rounded strtod). A bare
        # decimal literal — even with ::DOUBLE — goes through
        # DECIMAL(18,17) first and double-rounds the last ulp
        # (measured: 0.11164513516884583::DOUBLE is 1 ulp off).
        r = repr(v)
        return r if "e" in r or "E" in r else r + "e0"

    def dist(vec: str, m: int, ctr: list[float]) -> str:
        off = m * PQ_SUBDIM
        return " + ".join(
            f"({vec}[{off + i + 1}] - {dlit(v)}) * "
            f"({vec}[{off + i + 1}] - {dlit(v)})"
            for i, v in enumerate(ctr)
        )

    ddefs = ", ".join(
        f"({dist('v', m, ctr)}) AS d{m}_{j}"
        for m in range(PQ_M)
        for j, ctr in enumerate(PQ_CODEBOOKS[m])
    )
    codes = ", ".join(
        "(list_position(list_value({ds}), least({ds})) - 1) AS c{m}".format(
            m=m, ds=", ".join(f"d{m}_{j}" for j in range(len(PQ_CODEBOOKS[m])))
        )
        for m in range(PQ_M)
    )
    qdefs = ", ".join(
        f"({dist('qv', m, ctr)}) AS qd{m}_{j}"
        for m in range(PQ_M)
        for j, ctr in enumerate(PQ_CODEBOOKS[m])
    )
    luts = ", ".join(
        "list_value({ds}) AS lut{m}".format(
            m=m, ds=", ".join(f"qd{m}_{j}" for j in range(len(PQ_CODEBOOKS[m])))
        )
        for m in range(PQ_M)
    )
    score = " + ".join(f"l.lut{m}[e.c{m} + 1]" for m in range(PQ_M))
    return dict(ddefs=ddefs, codes=codes, qdefs=qdefs, luts=luts, score=score)


def _ann_pq_oracle(k: int = 5, codebooks=None) -> str:
    parts = _pq_oracle_parts(codebooks)
    ddefs, codes = parts["ddefs"], parts["codes"]
    qdefs, luts, score = parts["qdefs"], parts["luts"], parts["score"]
    return f"""
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10),
cdist AS (SELECT vec_id, {ddefs} FROM c),
enc AS (SELECT vec_id, {codes} FROM cdist),
qdist AS (SELECT query_id, {qdefs} FROM q),
lut AS (SELECT query_id, {luts} FROM qdist),
scored AS (SELECT l.query_id, e.vec_id, {score} AS adc_dist FROM enc e, lut l),
ranked AS (
  SELECT query_id, vec_id, adc_dist,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id)
              AS INT) AS rank
  FROM scored
)
SELECT query_id, vec_id, adc_dist, rank FROM ranked WHERE rank <= {k}
"""


@q("ann_pq_topk", _ann_pq_oracle(k=5))
def ann_pq_topk(spark, sf):
    """Product-quantization ADC top-k: nibble codes + per-query
    lookup tables — the compressed-scan half of the faiss IVF-PQ
    layout (the IVF half is ann_ivf_topk's partition pruning)."""
    from mirabelle_spark.pipeline.pq_codebooks import PQ_CODEBOOKS

    e = embs(spark, sf)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann.pq_topk(e, queries, PQ_CODEBOOKS, k=5)


def _trained_pq_books():
    from mirabelle_spark.pipeline.pq_codebooks_trained import (
        TRAINED_PQ_CODEBOOKS,
    )

    return TRAINED_PQ_CODEBOOKS


@q("ann_pq_trained_topk", _ann_pq_oracle(k=5, codebooks=_trained_pq_books()))
def ann_pq_trained_topk(spark, sf):
    """PQ ADC top-k with codebooks trained by the ENGINE'S OWN
    relational trainer (:func:`ann.train_pq`, decimal-exact Lloyd's
    per subspace on the sf0.01 corpus, persisted in
    pq_codebooks_trained.py with a byte-equality pin test) — the
    second half of the faiss train→add→search lifecycle on the gated
    path, next to ann_ivf_trained_topk. Identical plan to
    ann_pq_topk; only the codebook literals differ."""
    from mirabelle_spark.pipeline.pq_codebooks_trained import (
        TRAINED_PQ_CODEBOOKS,
    )

    e = embs(spark, sf)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann.pq_topk(e, queries, TRAINED_PQ_CODEBOOKS, k=5)




def _near_dup_oracle(threshold: float, planes: int, tables: int, seed: int = 42) -> str:
    dim = 64
    table_sqls = []
    for t in range(tables):
        bucket = _lsh_bucket_sql("v", f"p{t}.pl", planes)
        table_sqls.append(f"""
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb FROM
    (SELECT vec_id, embedding::DOUBLE[] AS v, {bucket.replace("(v,", "(v,")} AS bk
     FROM embeddings, (SELECT {_planes_sql(dim, planes, seed + t)} AS pl) p{t}) a
    JOIN
    (SELECT vec_id, embedding::DOUBLE[] AS v, {bucket} AS bk
     FROM embeddings, (SELECT {_planes_sql(dim, planes, seed + t)} AS pl) p{t}) b
    ON a.bk = b.bk AND a.vec_id < b.vec_id""")
    union = " UNION ALL ".join(table_sqls)
    return f"""
WITH cand AS (
  SELECT DISTINCT ON (id_a, id_b) id_a, id_b, va, vb FROM ({union})
), scored AS (
  SELECT id_a, id_b,
         {_DOT.format(a='va', b='vb')} / ({_NORM.format(a='va')} * {_NORM.format(a='vb')})
           AS cosine
  FROM cand
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {threshold}
"""


@q("embedding_near_dups")
def embedding_near_dups_q(spark, sf):
    return ann.embedding_near_dups(embs(spark, sf), threshold=0.2, planes=6, tables=3, dim=64)


ORACLES["embedding_near_dups"] = _near_dup_oracle(threshold=0.2, planes=6, tables=3)


def _semantic_survivors_oracle(threshold: float, planes: int, tables: int) -> str:
    pair_sql = _near_dup_oracle(threshold, planes, tables).strip()
    return f"""
WITH RECURSIVE pairs AS (
  {pair_sql}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.id
), clusters AS (
  SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY id
)
SELECT em.vec_id, em.label
FROM embeddings em JOIN clusters c USING (vec_id)
WHERE em.vec_id = c.cluster_id
"""


@q("semantic_dedup_survivors", _semantic_survivors_oracle(0.3, 6, 3))
def semantic_dedup_survivors(spark, sf):
    """SemDeDup-style semantic dedup end to end: embedding-cosine
    near-dup pairs (self-LSH bucketing, never all-pairs) →
    transitive cluster resolution → keep the canonical vector of
    every semantic cluster. The same survivors shape as the text
    MinHash pipeline, over the embedding modality."""
    e = embs(spark, sf)
    pairs = ann.embedding_near_dups(
        e, threshold=0.3, planes=6, tables=3, dim=64
    )
    clusters = dedup.resolve_clusters(
        pairs, e.select("vec_id"), id_col="vec_id", clean_pairs=True
    )
    survivors = clusters.filter(
        F.col("vec_id") == F.col("cluster_id")
    ).select("vec_id")
    return e.join(F.broadcast(survivors), "vec_id", "left_semi").select(
        "vec_id", "label"
    )


def _semdedup_oracle(threshold: float, centroids) -> str:
    """SemDeDup end to end in SQL: the IVF assigned CTE (same
    left-to-right sqdist fold + first-argmin), cosine to the OWN
    centroid, per-cluster rank (centroid_sim ASC, id), and the
    earlier-neighbor drop rule as a rank-ordered self-join."""
    sqd = (
        "list_reduce(list_transform(list_zip(cv, c), "
        "x -> (x[1] - x[2]) * (x[1] - x[2])), (acc, v) -> acc + v)"
    )
    cos = f"{_DOT} / ({_NORM.format(a='{a}')} * {_NORM.format(a='{b}')})"
    return f"""
WITH cent AS (SELECT {_centroids_sql(centroids)} AS cs),
assigned AS (
  SELECT vec_id, label, cv,
         CAST(list_position(ds, list_min(ds)) AS INT) AS cellp
  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS cv,
               list_transform(cs, c -> {sqd}) AS ds
        FROM embeddings, cent)
),
sim AS (
  SELECT vec_id, label, cv, cellp - 1 AS cell,
         {cos.format(a='cv', b='(cs[cellp])::DOUBLE[]')} AS csim
  FROM assigned, cent
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY cell ORDER BY csim ASC, vec_id ASC) AS rn
  FROM sim
),
dropped AS (
  SELECT DISTINCT hi.vec_id
  FROM ranked lo JOIN ranked hi ON lo.cell = hi.cell AND lo.rn < hi.rn
  WHERE {cos.format(a='lo.cv', b='hi.cv')} >= CAST({threshold!r} AS DOUBLE)
)
SELECT vec_id, label, cell
FROM ranked
WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
"""


@q("semdedup_survivors")
def semdedup_survivors(spark, sf):
    """SemDeDup PROPER (Abbas et al. 2023): k-means-clustered
    semantic dedup with the engine-TRAINED quantizer — contrast
    with semantic_dedup_survivors (LSH banding + connected
    components, the MinHash-shaped pipeline). Clusters come from
    ivf_centroids_trained (the same persisted train→add→search
    artifact the IVF family reuses); within a cluster the kept
    representative is the LOWEST-centroid-similarity point (the
    paper's choice: keep what the centroid doesn't already encode).
    Pair work is cluster-local — Σ|cluster|², never corpus², and
    nlist is the knob that prices it at 100 TB."""
    from mirabelle_spark.pipeline.ivf_centroids_trained import (
        TRAINED_IVF_CENTROIDS,
    )

    return ann.semdedup(
        embs(spark, sf), TRAINED_IVF_CENTROIDS, threshold=0.35, keep=("label",)
    )


@q("semdedup_arrow_survivors")
def semdedup_arrow_survivors(spark, sf):
    """semdedup_survivors through the BLAS pairwise engine
    (pairs="arrow": per-cluster blocked GEMM via applyInPandas,
    92 → 4.7 s at sf1 — PERF §69). Registered against the SAME SQL
    oracle as the fold mode: identical output IS the contract (BLAS
    reassociation only matters within ~1e-15 of the threshold; the
    corpus margins are orders larger, and mode equality is
    pytest-pinned at two SFs)."""
    from mirabelle_spark.pipeline.ivf_centroids_trained import (
        TRAINED_IVF_CENTROIDS,
    )

    return ann.semdedup(
        embs(spark, sf), TRAINED_IVF_CENTROIDS, threshold=0.35,
        keep=("label",), pairs="arrow",
    )


@q("semdedup_prod_survivors")
def semdedup_prod_survivors(spark, sf):
    """SemDeDup at PRODUCTION nlist (r13; VERDICT r11/r12 carried
    ask): the 64-cell quantizer trained on sf0.1
    (semdedup_centroids_trained — nlist ≥ local cores, the arrow
    mode's parallelism floor; Σ|cluster|² priced at ~1/64 of the
    corpus quadratic, vs the 8-cell demo artifact that deliberately
    understates the knob). Fold mode — the oracle-twinned contract
    path."""
    from mirabelle_spark.pipeline.semdedup_centroids_trained import (
        TRAINED_SEMDEDUP_CENTROIDS,
    )

    return ann.semdedup(
        embs(spark, sf), TRAINED_SEMDEDUP_CENTROIDS, threshold=0.35,
        keep=("label",),
    )


@q("semdedup_prod_arrow_survivors")
def semdedup_prod_arrow_survivors(spark, sf):
    """semdedup_prod_survivors through the BLAS pairwise engine —
    the true 100 TB shape: production nlist × blocked-GEMM kernel.
    This is the sf1 BENCH entry that tracks nlist-prices-the-
    quadratic round-over-round (the 8-cell arrow entry was excluded
    from the bench for its by-design quadratic blowup). Same SQL
    oracle as the fold twin: identical output IS the contract."""
    from mirabelle_spark.pipeline.semdedup_centroids_trained import (
        TRAINED_SEMDEDUP_CENTROIDS,
    )

    return ann.semdedup(
        embs(spark, sf), TRAINED_SEMDEDUP_CENTROIDS, threshold=0.35,
        keep=("label",), pairs="arrow",
    )


def _register_semdedup_oracle() -> None:
    from mirabelle_spark.pipeline.ivf_centroids_trained import (
        TRAINED_IVF_CENTROIDS,
    )
    from mirabelle_spark.pipeline.semdedup_centroids_trained import (
        TRAINED_SEMDEDUP_CENTROIDS,
    )

    sql = _semdedup_oracle(0.35, TRAINED_IVF_CENTROIDS)
    ORACLES["semdedup_survivors"] = sql
    ORACLES["semdedup_arrow_survivors"] = sql
    prod_sql = _semdedup_oracle(0.35, TRAINED_SEMDEDUP_CENTROIDS)
    ORACLES["semdedup_prod_survivors"] = prod_sql
    ORACLES["semdedup_prod_arrow_survivors"] = prod_sql


_register_semdedup_oracle()


# ---------------------------------------------------------------------------
# sampling / decontamination


_SHINGLE_CTE = """
words AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 0) + 1),
           i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS s
  FROM words
)"""


@q(
    "hash_sample_docs",
    """
SELECT doc_id, lang, n_chars FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 10
""",
)
def hash_sample_docs(spark, sf):
    """Deterministic ~10% corpus sample by stable key hash —
    reproducible across engines, partitionings, and runs (unlike
    seeded df.sample, which changes with the split layout)."""
    from mirabelle_spark.pipeline import sampling

    return sampling.hash_sample(docs(spark, sf), 10).select(
        "doc_id", "lang", "n_chars"
    )


@q(
    "stratified_sample_docs",
    """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                    % 1152921504606846976, doc_id
         ) AS rk
  FROM documents
) WHERE rk <= 20
""",
)
def stratified_sample_docs(spark, sf):
    """Deterministic 20-per-language subset ranked by stable hash —
    source rebalancing that reproduces exactly on any engine."""
    from mirabelle_spark.pipeline import sampling

    return sampling.stratified_sample(docs(spark, sf), 20, "lang").select(
        "doc_id", "lang"
    )


@q(
    "mask_pii_docs",
    """
SELECT doc_id,
       regexp_replace(
         regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\\+?[0-9][0-9()\\-. ]{7,}[0-9]', '<PHONE>', 'g') AS text_masked
FROM documents
""",
)
def mask_pii_docs(spark, sf):
    """PII scrub: emails and phone-shaped spans replaced by typed
    tokens, same conservative Java-regex/RE2-compatible patterns on
    both engines."""
    from mirabelle_spark.pipeline import sampling

    return sampling.mask_pii(docs(spark, sf)).select("doc_id", "text_masked")


@q(
    "contamination_docs",
    f"""
WITH {_SHINGLE_CTE},
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 5),
hits AS (
  SELECT sh.doc_id, sh.s FROM sh JOIN bench USING (s) WHERE sh.doc_id >= 5
)
SELECT doc_id, CAST(count(DISTINCT s) AS BIGINT) AS shared_shingles
FROM hits GROUP BY doc_id HAVING count(DISTINCT s) >= 2
""",
)
def contamination_docs(spark, sf):
    """Benchmark decontamination: corpus docs (id >= 5) sharing >= 2
    word-trigram shingles with the benchmark set (docs 0-4). The
    benchmark shingle table broadcasts; the oracle joins on shingle
    strings where Spark joins on xxhash64 (identical result barring
    a 2^-64 collision)."""
    from mirabelle_spark.pipeline import sampling

    d = docs(spark, sf)
    return sampling.contamination(
        d.filter(F.col("doc_id") >= 5), d.filter(F.col("doc_id") < 5), min_shared=2
    )


@q(
    "ngram_containment_pairs",
    f"""
WITH {_SHINGLE_CTE},
f AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
rare AS (SELECT s FROM f WHERE df <= 10),
occ AS (SELECT doc_id, s FROM sh JOIN rare USING (s)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM occ a JOIN occ b ON a.s = b.s AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN sh x ON x.doc_id = c.id_a
  JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       CAST(i.i AS DOUBLE) / least(sa.n, sb.n) AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(i.i AS DOUBLE) / least(sa.n, sb.n) >= 0.7
""",
)
def ngram_containment_pairs_q(spark, sf):
    """Asymmetric near-dup pairs by Broder CONTAINMENT
    (|A∩B|/min(|A|,|B|) ≥ 0.7) — the subset-duplication case
    Jaccard and MinHash banding are structurally blind to (a short
    doc verbatim inside a long one). Candidates = pairs sharing a
    RARE shingle (df ≤ 10): a contained doc shares all its shingles
    including rare ones, while boilerplate shingles never fan out —
    the join is bounded by df² per shingle, never corpus²."""
    return dedup.ngram_containment_pairs(docs(spark, sf), threshold=0.7)


@q(
    "contamination_bloom_docs",
    f"""
WITH {_SHINGLE_CTE},
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 5),
hits AS (
  SELECT sh.doc_id, sh.s FROM sh JOIN bench USING (s) WHERE sh.doc_id >= 5
)
SELECT doc_id, CAST(count(DISTINCT s) AS BIGINT) AS shared_shingles
FROM hits GROUP BY doc_id HAVING count(DISTINCT s) >= 2
""",
)
def contamination_bloom_docs(spark, sf):
    """contamination_docs through the Bloom-prefiltered scale path:
    a 16384-bit filter built from the benchmark shingles kills
    definite-negative corpus shingles inside the scan, and the
    exact broadcast-join confirm decides the rest — so the oracle
    is contamination_docs' SQL verbatim (identical result is the
    contract, pytest-pinned along with the prefilter actually
    pruning). At 100 TB the join input shrinks by the
    true-negative rate; the filter itself is m/64 driver-held
    bigints, sized by choice, not by data."""
    from mirabelle_spark.pipeline import sampling

    d = docs(spark, sf)
    return sampling.contamination_bloom(
        d.filter(F.col("doc_id") >= 5), d.filter(F.col("doc_id") < 5), min_shared=2
    )


@q(
    "pack_docs",
    """
WITH toks AS (
  SELECT lang, doc_id,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END
              AS BIGINT) AS n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 1152921504606846976 AS h
  FROM documents
), pre AS (
  SELECT lang, doc_id, n_tokens,
         COALESCE(sum(n_tokens) OVER (
           PARTITION BY lang
           ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS p
  FROM toks
)
SELECT lang, doc_id, n_tokens,
       CAST(p // 2048 AS BIGINT) AS pack_id,
       CAST(p % 2048 AS BIGINT) AS pack_offset
FROM pre
""",
)
def pack_docs(spark, sf):
    """Sequence packing: per-language 2048-token packs via a window
    cumsum over a deterministic (stable-hash, id) order — the
    chunk-by-cumulative-size rule, no sequential state and no
    global single-partition sort (shard = lang)."""
    from mirabelle_spark.pipeline import sampling

    return sampling.pack_documents(docs(spark, sf), 2048, by="lang")


# ---------------------------------------------------------------------------
# text analysis


@q(
    "text_token_count",
    """
SELECT doc_id,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS INT)
         AS n_tokens
FROM documents
""",
)
def text_token_count(spark, sf):
    return text.token_count(docs(spark, sf)).select("doc_id", "n_tokens")


@q(
    "text_bpe_token_count",
    """
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) AS INT)
         AS n_bpe_tokens
FROM documents
""",
)
def text_bpe_token_count(spark, sf):
    return text.bpe_token_count(docs(spark, sf)).select("doc_id", "n_bpe_tokens")


_QUALITY_SQL = """
WITH feats AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS DOUBLE) AS n_tokens,
         CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
           AS punct,
         CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
              t -> list_contains(['the','and','of','to','in','is','that','for','with','as'], t)))
              AS DOUBLE) AS stop_hits
  FROM documents
), scored AS (
  SELECT doc_id,
         least(n_chars / 500.0, 1.0) AS len_score,
         1.0 - least(CASE WHEN n_chars > 0 THEN punct / n_chars * 5.0 ELSE 0.0 END, 1.0)
           AS punct_pen,
         least(CASE WHEN n_tokens > 0 THEN stop_hits / n_tokens * 5.0 ELSE 0.0 END, 1.0)
           AS stop_score,
         CASE WHEN n_tokens > 0 THEN (n_chars - (n_tokens - 1)) / n_tokens ELSE 0.0 END
           AS mean_wl
  FROM feats
)
SELECT doc_id,
       (len_score + punct_pen + stop_score
        + CASE WHEN mean_wl >= 3.0 AND mean_wl <= 12.0 THEN 1.0 ELSE 0.0 END) / 4.0
         AS quality
FROM scored
"""


_REP_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\\s+') AS w
  FROM documents
)
SELECT doc_id,
       CASE WHEN len(w) - 2 <= 0 THEN 0.0
            ELSE 1.0 - CAST(len(list_distinct(list_transform(
                   range(1, len(w) - 1),
                   i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS DOUBLE)
                 / (len(w) - 2)
       END AS rep_ratio
FROM toks
"""


@q("text_repetition", _REP_SQL)
def text_repetition(spark, sf):
    """Repeated 3-gram fraction (degenerate-text quality signal)."""
    from mirabelle_spark.scale import ensure_parallelism

    return text.ngram_repetition(ensure_parallelism(docs(spark, sf)), n=3).select(
        "doc_id", "rep_ratio"
    )


@q("text_quality", _QUALITY_SQL)
def text_quality(spark, sf):
    return text.quality_score(docs(spark, sf)).select("doc_id", "quality")


_LANG_SQL = """
SELECT doc_id,
       CASE WHEN best.s > 0 THEN best.l ELSE 'und' END AS lang_pred
FROM (
  SELECT doc_id, list_max([
    {{'s': CAST(len(list_intersect(['der','die','das','und','ist','von','mit','für','auf','nicht'], toks)) AS DOUBLE), 'r': 0, 'l': 'de'}},
    {{'s': CAST(len(list_intersect(['the','and','of','to','in','is','that','for','with','as'], toks)) AS DOUBLE), 'r': -1, 'l': 'en'}},
    {{'s': CAST(len(list_intersect(['el','la','los','de','que','y','es','para','con','por'], toks)) AS DOUBLE), 'r': -2, 'l': 'es'}},
    {{'s': CAST(len(list_intersect(['le','la','les','de','des','et','est','pour','dans','que'], toks)) AS DOUBLE), 'r': -3, 'l': 'fr'}}
  ]) AS best
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents)
)
""".replace("{{", "{").replace("}}", "}")


@q("text_lang_id", _LANG_SQL)
def text_lang_id(spark, sf):
    return text.lang_id(docs(spark, sf)).select("doc_id", "lang_pred")


@q(
    "text_fingerprint",
    """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
""",
)
def text_fingerprint(spark, sf):
    return text.fingerprint(docs(spark, sf)).select("doc_id", "fingerprint")


@q(
    "text_rolling_fp",
    """
SELECT doc_id,
       list_min(list_transform(
         range(1, greatest(len(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) - 7, 1) + 1),
         i -> md5(array_to_string(
                list_slice(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), i, i + 7), ' '))))
         AS rolling_fp
FROM documents
""",
)
def text_rolling_fp(spark, sf):
    return text.rolling_fingerprint(docs(spark, sf)).select("doc_id", "rolling_fp")


@q(
    "boilerplate_removed_docs",
    """
WITH lx AS (
  SELECT doc_id, string_split(text, chr(10)) AS l FROM documents
), flat AS (
  SELECT doc_id, u.pos AS pos, u.line AS line FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(l) + 1),
                  i -> {'pos': i, 'line': trim(l[i])})) AS u
    FROM lx
  )
), freq AS (
  SELECT line, count(DISTINCT doc_id) AS d FROM flat
  WHERE length(line) > 0 GROUP BY line
), kept AS (
  SELECT flat.doc_id, flat.pos, flat.line
  FROM flat LEFT JOIN freq USING (line)
  WHERE freq.d IS NULL OR freq.d < 3
)
SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean
FROM kept GROUP BY doc_id
""",
)
def boilerplate_removed_docs(spark, sf):
    """C4-style boilerplate rule over the corpus: drop non-blank
    lines shared by >= 3 docs (blank lines are paragraph structure,
    never boilerplate), rebuild the survivors in order. The oracle
    joins on line strings where Spark joins on xxhash64 (identical
    barring a 2^-64 collision)."""
    return text.remove_boilerplate_lines(docs(spark, sf), min_docs=3)


# ---------------------------------------------------------------------------
# corpus quality / mixture / paragraph grain (round 6)

_TOKENS_SQL = "string_split_regex(trim(lower(text)), '\\s+')"


@q(
    "gopher_quality_docs",
    f"""
WITH t AS (
  SELECT doc_id, text,
         {_TOKENS_SQL} AS w,
         string_split(text, chr(10)) AS lines
  FROM documents
), m AS (
  SELECT doc_id,
         len(w) AS n_words,
         CASE WHEN len(w) > 0
              THEN CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS DOUBLE) / len(w)
              ELSE 0.0 END AS mean_wl,
         CASE WHEN len(w) > 0
              THEN CAST((length(text) - length(replace(text, '#', '')))
                   + (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE) / len(w)
              ELSE 0.0 END AS symbol_ratio,
         CAST(len(list_filter(lines, ln -> regexp_matches(trim(ln), '^[-*•]'))) AS DOUBLE) AS bullet_lines,
         CAST(len(list_filter(lines, ln -> regexp_matches(rtrim(ln), '\\.\\.\\.$'))) AS DOUBLE) AS ellipsis_lines,
         CAST(len(lines) AS DOUBLE) AS n_lines,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) AS alpha_words,
         len(list_intersect(['the','be','to','of','and','that','have','with'], w)) AS stop_hits
  FROM t
)
SELECT doc_id, n_words,
       n_words >= 50 AND n_words <= 100000 AS word_count_ok,
       mean_wl >= 3.0 AND mean_wl <= 10.0 AS word_len_ok,
       symbol_ratio <= 0.1 AS symbol_ok,
       CASE WHEN n_lines > 0 THEN bullet_lines / n_lines <= 0.9 ELSE TRUE END AS bullet_ok,
       CASE WHEN n_lines > 0 THEN ellipsis_lines / n_lines <= 0.3 ELSE TRUE END AS ellipsis_ok,
       CASE WHEN n_words > 0 THEN alpha_words / n_words >= 0.8 ELSE FALSE END AS alpha_ok,
       stop_hits >= 2 AS stopword_ok,
       (n_words >= 50 AND n_words <= 100000) AND (mean_wl >= 3.0 AND mean_wl <= 10.0)
         AND symbol_ratio <= 0.1
         AND (CASE WHEN n_lines > 0 THEN bullet_lines / n_lines <= 0.9 ELSE TRUE END)
         AND (CASE WHEN n_lines > 0 THEN ellipsis_lines / n_lines <= 0.3 ELSE TRUE END)
         AND (CASE WHEN n_words > 0 THEN alpha_words / n_words >= 0.8 ELSE FALSE END)
         AND stop_hits >= 2 AS passes
FROM m
""",
)
def gopher_quality_docs(spark, sf):
    """Gopher/MassiveWeb document-quality rules (Rae et al. 2021
    §A1.1.2) — seven boolean rules + their conjunction per doc."""
    return text.gopher_rules(docs(spark, sf)).select(
        "doc_id", "n_words", "word_count_ok", "word_len_ok", "symbol_ok",
        "bullet_ok", "ellipsis_ok", "alpha_ok", "stopword_ok", "passes",
    )


@q(
    "vocab_top100",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
), tok2 AS (
  SELECT doc_id, token FROM tok WHERE length(token) > 0
), per_doc AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM tok2 GROUP BY doc_id, token
)
SELECT token, CAST(count(*) AS BIGINT) AS doc_freq,
       CAST(sum(tf) AS BIGINT) AS term_freq
FROM per_doc GROUP BY token
ORDER BY doc_freq DESC, token LIMIT 100
""",
)
def vocab_top100(spark, sf):
    """Corpus vocabulary profile: top-100 tokens by document
    frequency (ties broken by token) with total term frequency."""
    return text.token_doc_frequency(docs(spark, sf), k=100)


@q(
    "token_rarity_docs",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
), tok2 AS (
  SELECT doc_id, token FROM tok WHERE length(token) > 0
), freq AS (
  SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM tok2 GROUP BY token
)
SELECT t.doc_id,
       CAST(sum(f.df) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS rarity_score
FROM tok2 t JOIN freq f USING (token)
GROUP BY t.doc_id
""",
)
def token_rarity_docs(spark, sf):
    """Unigram-frequency perplexity proxy: mean corpus doc-frequency
    of each document's token occurrences (exact-integer mean — one
    IEEE division, engine-portable)."""
    return text.token_rarity_score(docs(spark, sf))


@q(
    "mixture_sample_docs",
    """
SELECT doc_id, lang, n_chars FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
      < CASE lang WHEN 'en' THEN 30 WHEN 'fr' THEN 100 WHEN 'de' THEN 0 ELSE 10 END
""",
)
def mixture_sample_docs(spark, sf):
    """Training-mixture reweighting: per-language sampling rates
    (en 30%, fr 100%, de 0%, others 10%) via the stable hash bucket
    — deterministic across engines and partitionings, no shuffle."""
    from mirabelle_spark.pipeline import sampling

    return sampling.mixture_sample(
        docs(spark, sf), {"en": 30, "fr": 100, "de": 0}, default_pct=10
    ).select("doc_id", "lang", "n_chars")


def _dsir_oracle(top_n: int | None = None) -> str:
    """DSIR scoring in SQL: the same token->md5-bucket array, the
    same exact integer bucket counts, and the same left-associated
    string-cast literal dot (1-based list indexing is DuckDB's only
    divergence from the Spark expression)."""
    from mirabelle_spark.pipeline.dsir_logratios_trained import (
        TRAIN_DIM, TRAINED_DSIR_W,
    )

    z = "CAST('0.0' AS DOUBLE)"
    for i, w in enumerate(TRAINED_DSIR_W):
        z = f"({z} + (CAST('{w!r}' AS DOUBLE) * cv[{i + 1}]))"
    tail = (
        f"ORDER BY dsir_logw DESC, doc_id LIMIT {top_n}" if top_n else ""
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang, list_filter({_TOKENS_SQL}, x -> x <> '') AS w
  FROM documents
),
b AS (
  SELECT doc_id, lang,
         list_transform(w, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {TRAIN_DIM}) AS bk
  FROM t
),
c AS (
  SELECT doc_id, lang,
         list_transform(range(0, {TRAIN_DIM}),
                        bb -> CAST(len(list_filter(bk, v -> v = bb)) AS DOUBLE)) AS cv
  FROM b
)
SELECT doc_id, lang, {z} AS dsir_logw FROM c
{tail}
"""


@q("dsir_logweight_docs", _dsir_oracle())
def dsir_logweight_docs(spark, sf):
    """DSIR importance log-weights (Xie et al. 2023) with the
    ENGINE-TRAINED log-ratio vector (dsir_logratios_trained: target
    domain = the English rows of the sf0.01 corpus): per doc,
    Σ_b count_b · (ln p_target(b) − ln p_raw(b)) over 32 hashed
    token buckets. Train once → pinned artifact → inference is one
    shuffle-free projection, the lifecycle every trained artifact
    in the engine follows."""
    from mirabelle_spark.pipeline import sampling
    from mirabelle_spark.pipeline.dsir_logratios_trained import (
        TRAINED_DSIR_W,
    )

    return sampling.dsir_score(docs(spark, sf), TRAINED_DSIR_W, keep=("lang",))


@q("dsir_top_docs", _dsir_oracle(top_n=100))
def dsir_top_docs(spark, sf):
    """DSIR selection: the 100 highest importance log-weights (ties
    broken by doc_id) — the deterministic variant of the paper's
    Gumbel resampling (a transcendental noise term is not bit-
    portable cross-engine, so the gated path ranks pure weights).
    Measured enrichment on sf0.01: 61 of the top 100 are target-
    domain docs vs a 44% base rate. orderBy+limit compiles to
    TakeOrderedAndProject: per-partition heaps, no global sort."""
    from mirabelle_spark.pipeline import sampling
    from mirabelle_spark.pipeline.dsir_logratios_trained import (
        TRAINED_DSIR_W,
    )

    return sampling.dsir_top(
        docs(spark, sf), TRAINED_DSIR_W, n=100, keep=("lang",)
    )


@q(
    "temperature_sample_docs",
    """
WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang)
SELECT doc_id, lang FROM documents JOIN c USING (lang)
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
      < least(100, CAST(floor(600.0 / sqrt(CAST(cnt AS DOUBLE))) AS INT))
""",
)
def temperature_sample_docs(spark, sf):
    """Square-root temperature sampling (α = 1/2, scale 600): keep
    fraction ∝ 1/√count_lang — the multilingual rebalancing recipe
    that flattens the head language without drowning the tail.
    α is pinned at 1/2 so the power is IEEE sqrt (exactly rounded
    in every engine) and the bucket threshold is the same integer
    cross-engine; a general pow() is not correctly rounded and can
    flip a whole bucket. One tiny counts aggregate broadcast back;
    the filter is the deterministic hash_sample shape."""
    from mirabelle_spark.pipeline import sampling

    return sampling.temperature_sample(
        docs(spark, sf), scale=600.0
    ).select("doc_id", "lang")


def _clean_corpus_oracle() -> str:
    cluster_sql = _dedup_clusters_oracle().strip()
    return f"""
WITH clusters AS ({cluster_sql}),
survivors AS (SELECT doc_id FROM clusters WHERE doc_id = cluster_id),
{_SHINGLE_CTE},
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 5),
contaminated AS (
  SELECT sh.doc_id FROM sh JOIN bench USING (s) WHERE sh.doc_id >= 5
  GROUP BY sh.doc_id HAVING count(DISTINCT s) >= 2
),
g AS (
  SELECT doc_id, len(w) AS n_words,
         CASE WHEN len(w) > 0
              THEN CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS DOUBLE) / len(w)
              ELSE 0.0 END AS mean_wl,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) AS alpha_words
  FROM (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents)
),
good AS (
  SELECT doc_id FROM g
  WHERE n_words >= 30 AND n_words <= 100000
    AND mean_wl >= 3.0 AND mean_wl <= 10.0
    AND (CASE WHEN n_words > 0 THEN alpha_words / n_words >= 0.8 ELSE FALSE END)
)
SELECT d.doc_id, d.lang,
       regexp_replace(regexp_replace(d.text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
         '\\+?[0-9][0-9()\\-. ]{{7,}}[0-9]', '<PHONE>', 'g') AS text_masked
FROM documents d
JOIN good USING (doc_id)
JOIN survivors USING (doc_id)
WHERE d.doc_id >= 5
  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


@q("clean_corpus_docs", _clean_corpus_oracle())
def clean_corpus_docs(spark, sf):
    """The end-to-end corpus-cleaning showcase, one declarative
    plan: quality-rule filter (Gopher word-count / word-length /
    alpha rules — the stopword rule is vacuous on this synthetic
    vocabulary) ∩ transitive near-dup SURVIVORS (canonical doc per
    MinHash cluster, deduped against benchmark docs too) ∖
    benchmark-contaminated docs (≥2 shared trigram shingles with
    docs 0-4), then PII-masked output. Every stage is an operator
    this module already gates individually; the composition is two
    semi-joins + one anti-join around the quality projection — the
    corpus text moves once."""
    from mirabelle_spark.pipeline import sampling

    d = docs(spark, sf)
    corpus = d.filter(F.col("doc_id") >= 5)
    bench = d.filter(F.col("doc_id") < 5)
    contaminated = sampling.contamination(corpus, bench, min_shared=2).select(
        "doc_id"
    )
    pairs = dedup.minhash_lsh_candidates(d, num_hashes=64, bands=8)
    survivors = (
        dedup.resolve_clusters(pairs, d.select("doc_id"), clean_pairs=True)
        .filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
    )
    good = (
        text.gopher_rules(d, min_words=30)
        .filter(
            F.col("word_count_ok") & F.col("word_len_ok") & F.col("alpha_ok")
        )
        .select("doc_id", "lang", "text")
    )
    cleaned = (
        good.join(F.broadcast(survivors), "doc_id", "left_semi")
        .join(F.broadcast(contaminated), "doc_id", "left_anti")
        .filter(F.col("doc_id") >= 5)
    )
    return sampling.mask_pii(cleaned).select("doc_id", "lang", "text_masked")


# 10-word re-chunking: the synthetic corpus is single-line prose, so
# the paragraph grain is derived — ONE regex pass splits every run of
# 10 words with a blank line, identically on both engines.
_CHUNK_RE = r"((\S+ ){9}\S+) "


@q(
    "paragraph_dedup_docs",
    """
WITH chunked AS (
  SELECT doc_id,
         regexp_replace(trim(text), '((\\S+ ){9}\\S+) ',
                        '\\1' || chr(10) || chr(10), 'g') AS t
  FROM documents
), p AS (
  SELECT doc_id, u.pos AS pos, u.para AS para FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(string_split(t, chr(10) || chr(10))) + 1),
                  i -> {'pos': i, 'para': string_split(t, chr(10) || chr(10))[i]})) AS u
    FROM chunked
  )
), winners AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
  FROM p WHERE length(trim(para)) > 0
), winner_docs AS (
  SELECT DISTINCT doc_id FROM winners WHERE rn = 1
), kept AS (
  SELECT doc_id, pos, para FROM winners WHERE rn = 1
  UNION ALL
  SELECT p.doc_id, p.pos, p.para FROM p
  JOIN winner_docs USING (doc_id)
  WHERE length(trim(p.para)) = 0
)
SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text_clean
FROM kept GROUP BY doc_id
""",
)
def paragraph_dedup_docs(spark, sf):
    """Corpus-wide paragraph-grain exact dedup (first occurrence by
    (doc_id, pos) wins) over the derived 10-word chunking; documents
    rebuilt from surviving paragraphs. The oracle groups on the
    paragraph string where Spark groups on xxhash64 of it."""
    chunked = docs(spark, sf).withColumn(
        "text", F.regexp_replace(F.trim(F.col("text")), _CHUNK_RE, "$1\n\n")
    )
    return dedup.paragraph_dedup(chunked)


# ---------------------------------------------------------------------------
# multimodal plumbing


@q(
    "multimodal_features",
    """
SELECT doc_id AS id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256
FROM documents
""",
)
def multimodal_features(spark, sf):
    media = multimodal.attach_media(
        docs(spark, sf), payload_col="text", media_type="text/plain", id_col="doc_id"
    )
    feats = multimodal.extract_features(media, decoder="fake")
    return feats.select("id", "n_bytes", "sha256")


@q(
    "video_frame_sample",
    """
WITH f AS (
  SELECT doc_id, CAST(s.g AS INTEGER) AS frame_idx, s.g * 3 AS k
  FROM documents, generate_series(0, 3) AS s(g)
)
SELECT doc_id AS id, frame_idx,
       hex(
         ('P5' || chr(10) || '8 8' || chr(10) || '255' || chr(10))::BLOB
         || unhex(md5(doc_id::VARCHAR || ':' || k::VARCHAR || ':0'))
         || unhex(md5(doc_id::VARCHAR || ':' || k::VARCHAR || ':1'))
         || unhex(md5(doc_id::VARCHAR || ':' || k::VARCHAR || ':2'))
         || unhex(md5(doc_id::VARCHAR || ':' || k::VARCHAR || ':3'))
       ) AS frame_hex
FROM f
""",
)
def video_frame_sample(spark, sf):
    """Frame sampling over the concatenated-netpbm video path with a
    full value oracle (r7: was pytest-only). Each document carries a
    deterministic 12-frame 8x8 P5 "video" — header + 64 raster bytes
    from four md5 chunks of (doc_id, frame_no), built entirely in
    Catalyst (concat/unhex/md5, no Python) — and
    :func:`multimodal.sample_frames` runs the REAL container parse:
    split on each frame's own header-declared raster extent, emit
    every ceil(120/40)=3rd frame verbatim. The
    oracle reconstructs the same sampled frames byte-for-byte in SQL
    (hex of the FULL frame bytes — DuckDB's sha256 is VARCHAR-only),
    so a parse that mis-walks a header or mis-strides fails the gate.
    Scale shape: blobs are built and consumed inside one Arrow pass,
    only (id, idx, hex) rows survive to the shuffle-free projection.
    """
    header = b"P5\n8 8\n255\n"
    parts = []
    for k in range(12):
        parts.append(F.lit(header))
        for c in range(4):
            parts.append(
                F.unhex(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"), F.lit(f":{k}:{c}")
                        )
                    )
                )
            )
    media = docs(spark, sf).select(
        F.col("doc_id").alias("id"), F.concat(*parts).alias("media")
    )
    frames = multimodal.sample_frames(
        media, every_ms=120, decoder="netpbm-stream", frame_ms=40
    )
    return frames.select(
        "id", "frame_idx", F.hex(F.col("frame")).alias("frame_hex")
    )


_IMG_SOURCES = 48  # near-dup group count: sf0.01's 500 docs → ~10 docs/source


def _image_corpus(spark, sf) -> DataFrame:
    """Deterministic per-doc 16×16 P5 image corpus with PLANTED image
    near-dups, built entirely in Catalyst (concat/unhex/md5 — no
    Python): source ``s = doc_id % 48`` picks one of 48 md5-derived
    base rasters (16 digests = 256 bytes), so each source group is a
    clique of image duplicates; variant ``v = (doc_id div 48) % 3``
    perturbs the copy the way real corpora do:

    - v=0 — the base image verbatim;
    - v=1 — a REAL 2× nearest-neighbor upscale RE-ENCODE through
      :func:`multimodal.resize_images` (decoder="netpbm"): different
      bytes, different dims, same dHash (the (i·src)//dst floor
      gather commutes with 2× upscaling);
    - v=2 — the base with raster byte 0 (pixel (0,0)) forced to
      0x00: a near-duplicate at Hamming ≤ 1.
    """
    header = b"P5\n16 16\n255\n"
    # media is a pure function of (s, v): build the 144 distinct
    # blobs once off a one-partition range (the v=1 rows still
    # round-trip the REAL resize_images re-encode, 48 times instead
    # of corpus/3 times) and broadcast-join them to the id scan
    # (r16 post-close — same dedupe-then-broadcast shape as
    # :func:`_audio_corpus`; per-doc this replaces 16 md5+unhex
    # calls with a join probe)
    rows = spark.range(_IMG_SOURCES * 3, numPartitions=1).select(
        (F.col("id") % _IMG_SOURCES).alias("__s__"),
        F.expr(f"id div {_IMG_SOURCES}").alias("__v__"),
    )
    s = F.col("__s__").cast("string")
    v = F.col("__v__")
    parts = [F.lit(header)]
    for d_idx in range(16):
        hx = F.md5(F.concat(F.lit("img:"), s, F.lit(f":{d_idx}")))
        if d_idx == 0:
            hx = F.when(
                v == 2, F.concat(F.lit("00"), F.substring(hx, 3, 30))
            ).otherwise(hx)
        parts.append(F.unhex(hx))
    imgs = rows.select(
        "__s__", "__v__", F.concat(*parts).alias("media")
    )
    base = imgs.filter(v != 1)
    meta = F.struct(
        F.lit("image/x-portable-graymap").alias("media_type"),
        F.lit(16).alias("width"),
        F.lit(16).alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
        F.lit("netpbm").alias("codec"),
    )
    upscaled = multimodal.resize_images(
        imgs.filter(v == 1).withColumn("id", F.col("__s__")).select(
            "id", "media", meta.alias("meta")
        ),
        width=32,
        height=32,
        decoder="netpbm",
    ).select(
        F.col("id").alias("__s__"), F.lit(1).cast("bigint").alias("__v__"),
        "media",
    )
    variants = base.unionByName(upscaled)
    # NOTE on parallelism (r16): unlike the video corpus (60k-frame
    # decode, genuinely parallel work) this corpus is 5k thumb-size
    # rasters whose vectorized dHash costs ~0.2 s single-core — an
    # up-front repartition to cores was MEASURED SLOWER end-to-end
    # (the 64 post-union micro-partitions taxed every downstream
    # stage of the pair join and cluster resolution more than the
    # decode saved), so the scan's natural split stands
    return (
        docs(spark, sf)
        .select(
            F.col("doc_id").alias("id"),
            (F.col("doc_id") % _IMG_SOURCES).alias("__s__"),
            F.expr(f"(doc_id div {_IMG_SOURCES}) % 3").alias("__v__"),
        )
        .join(F.broadcast(variants), ["__s__", "__v__"])
        .select("id", "media")
    )


def _image_dhash_cte() -> str:
    """DuckDB twin of decode→9×8 NN resize→dHash over the planted
    corpus: recomputes every sampled pixel straight from the md5 hex
    (sampled source pixel (2y, (16x)//9) = byte (16x)//9 of digest
    2y), so a codec that mis-walks a header, a resize that gathers
    the wrong index, or a band that packs bits in the wrong order
    all fail the gate. The v=1 upscale needs no special casing: its
    dHash provably equals the base's (floor(floor(2a)/2)=floor(a))."""
    return f"""
WITH px AS (
  SELECT doc_id, CAST(y.g AS INT) AS y, CAST(x.g AS INT) AS x,
         CASE WHEN y.g = 0 AND x.g = 0 AND (doc_id // {_IMG_SOURCES}) % 3 = 2
              THEN 0
              ELSE ('0x' || substr(
                      md5('img:' || (doc_id % {_IMG_SOURCES})::VARCHAR
                          || ':' || (y.g * 2)::VARCHAR),
                      ((x.g * 16) // 9) * 2 + 1, 2))::INT
         END AS pval
  FROM documents, generate_series(0, 7) AS y(g), generate_series(0, 8) AS x(g)
), bits AS (
  SELECT doc_id, y, x,
         CASE WHEN pval > lead(pval) OVER (PARTITION BY doc_id, y ORDER BY x)
              THEN 1 ELSE 0 END AS bit
  FROM px
), bandrows AS (
  SELECT doc_id, y // 2 AS band_idx,
         CAST(sum(bit << (15 - (8 * (y % 2) + x))) AS INT) AS band_val
  FROM bits WHERE x < 8 GROUP BY doc_id, y // 2
), dh AS (
  SELECT doc_id,
         CAST(max(CASE WHEN band_idx = 0 THEN band_val END) AS INT) AS band0,
         CAST(max(CASE WHEN band_idx = 1 THEN band_val END) AS INT) AS band1,
         CAST(max(CASE WHEN band_idx = 2 THEN band_val END) AS INT) AS band2,
         CAST(max(CASE WHEN band_idx = 3 THEN band_val END) AS INT) AS band3
  FROM bandrows GROUP BY doc_id
)"""


@q(
    "image_dhash_docs",
    _image_dhash_cte()
    + """
SELECT doc_id, band0, band1, band2, band3 FROM dh
""",
)
def image_dhash_docs(spark, sf):
    """Perceptual dHash over REAL decoded pixels (r16): Catalyst
    builds each doc's P5 bytes (v=1 docs additionally round-trip the
    real netpbm resize codec), :func:`multimodal.image_dhash` decodes
    → 9×8 NN-resizes → packs 64 difference bits into four 16-bit
    bands, and the oracle rebuilds every band with integer SQL. The
    v=1 rows are the teeth: a RE-ENCODED, UPSCALED copy must hash
    bit-identically to its base. Scale shape: blobs live and die
    inside one Arrow pass; 20-byte rows reach the output."""
    return multimodal.image_dhash(_image_corpus(spark, sf)).select(
        F.col("id").alias("doc_id"), "band0", "band1", "band2", "band3"
    )


@q(
    "image_near_dups",
    _image_dhash_cte()
    + """
, pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM dh a JOIN dh b
    ON a.doc_id < b.doc_id
   AND (a.band0 = b.band0 OR a.band1 = b.band1
        OR a.band2 = b.band2 OR a.band3 = b.band3)
  WHERE bit_count(CAST(xor(a.band0, b.band0) AS BIGINT))
      + bit_count(CAST(xor(a.band1, b.band1) AS BIGINT))
      + bit_count(CAST(xor(a.band2, b.band2) AS BIGINT))
      + bit_count(CAST(xor(a.band3, b.band3) AS BIGINT)) <= 3
), nbrs AS (
  SELECT id_a AS id, id_b AS nb FROM pairs
  UNION ALL
  SELECT id_b AS id, id_a AS nb FROM pairs
)
SELECT d.doc_id,
       CAST(least(d.doc_id, coalesce(min(n.nb), d.doc_id)) AS BIGINT) AS cluster_id
FROM documents d LEFT JOIN nbrs n ON n.id = d.doc_id
GROUP BY d.doc_id
""",
)
def image_near_dups(spark, sf):
    """LAION-style image near-dup resolution end-to-end (r16):
    dHash bands → :func:`dedup.band_hamming_pairs` (pigeonhole
    band equi-join, exact popcount ≤ 3 verify, never all-pairs) →
    :func:`dedup.resolve_clusters` (one union-find task over the pair
    graph) → one canonical image per cluster. The oracle recomputes
    bands in SQL, enumerates pairs, and resolves components with a
    single neighbor-min round — exact here because every planted source
    group is a Hamming-≤1 CLIQUE (diameter 1: v0≡v1, v2 one bit
    away from both), while cross-source md5 rasters sit ~32 bits
    apart; the Spark side still resolves general components of any
    diameter. Scale shape: only 20-byte signature rows shuffle;
    the candidate stream is band-bucketed."""
    corpus = _image_corpus(spark, sf)
    # pin the 20-byte signature table ONCE: the pair join and the
    # cluster resolution both consume it, and unpinned each re-ran
    # the whole corpus build + Arrow decode (r16 measurement: the
    # signature pipeline executed twice per run)
    hashes = multimodal.image_dhash(corpus).localCheckpoint(eager=True)
    # exact-signature collapse (r16): identical dHashes are Hamming-0
    # near-dups, so the band join runs on one row per DISTINCT
    # signature and every duplicate doc rides a star edge to its
    # group's min id — components (and the gated output) identical,
    # pair stream linear instead of clique-quadratic (258k pair rows
    # → ~5k at sf0.1; see dedup.collapse_exact_signatures)
    reps, star = dedup.collapse_exact_signatures(
        hashes, key_cols=("band0", "band1", "band2", "band3"), id_col="id"
    )
    near = dedup.band_hamming_pairs(
        reps, id_col="id", max_hamming=3, pinned=True
    )
    pairs = near.select("id_a", "id_b").unionByName(star)
    clusters = dedup.resolve_clusters(
        pairs, hashes.select("id"), id_col="id", clean_pairs=True
    )
    return clusters.select(F.col("id").alias("doc_id"), "cluster_id")


def _video_corpus(spark, sf) -> DataFrame:
    """Deterministic 12-frame 8×8 P5 "videos" with PLANTED video
    near-dups (r16): source ``s = doc_id % 48`` picks the frame set,
    variant ``v = (doc_id div 48) % 3`` perturbs the copy the way
    re-posted videos do — v=0 the base cut; v=1 the SAME frames
    rotated one position (re-cut: identical content set, different
    order/timestamps); v=2 frame 0 replaced by a doc-unique frame
    (intro card swap: 11/12 frames shared). Frame rasters are four
    md5 chunks of (s, frame-key) built in Catalyst — no Python."""
    header = b"P5\n8 8\n255\n"
    # All SHARED frame bytes are a pure function of (s, v) — only
    # the v=2 intro card is doc-unique — so the 12-frame blob is
    # assembled from a 144-row broadcast variant table: __f0__ is
    # frame 0 for v≠2 (content key 1 under the v=1 rotation, else
    # 0), __rest__ is frames 1..11 under the variant's key shift.
    # Per doc that leaves a join probe plus, for v=2 rows only, the
    # 4 md5s of the doc-unique intro frame (r16 post-close — the
    # per-doc construction re-ran 48 md5+unhex per row; same
    # dedupe-then-broadcast shape as :func:`_audio_corpus`).
    rows = spark.range(_IMG_SOURCES * 3, numPartitions=1).select(
        (F.col("id") % _IMG_SOURCES).alias("__s__"),
        F.expr(f"id div {_IMG_SOURCES}").alias("__v__"),
    )
    sv = F.col("__s__").cast("string")
    vv = F.col("__v__")

    def shared_frame(k):
        # content key: v=1 shifts the frame set by one position
        fk = F.when(vv == 1, F.lit((k + 1) % 12)).otherwise(F.lit(k))
        chunks = [F.lit(header)]
        for c in range(4):
            chunks.append(
                F.unhex(
                    F.md5(
                        F.concat(
                            F.lit("vid:"), sv, F.lit(":"),
                            fk.cast("string"), F.lit(f":{c}"),
                        )
                    )
                )
            )
        return F.concat(*chunks)

    variants = rows.select(
        "__s__",
        "__v__",
        F.when(vv != 2, shared_frame(0)).alias("__f0__"),
        F.concat(*[shared_frame(k) for k in range(1, 12)]).alias("__rest__"),
    )
    unique_f0 = F.concat(
        F.lit(header),
        *[
            F.unhex(
                F.md5(
                    F.concat(
                        F.lit("vidu:"), F.col("doc_id").cast("string"),
                        F.lit(f":{c}"),
                    )
                )
            )
            for c in range(4)
        ],
    )
    from mirabelle_spark.scale import ensure_parallelism

    # rebalance the bare id scan BEFORE the frame assembly and the
    # two Arrow passes it feeds — the one-row-group local file
    # otherwise serializes the whole container parse + dHash on one
    # core (scale.needs_rebalance; only 8-byte ids move)
    return (
        ensure_parallelism(docs(spark, sf).select("doc_id"))
        .select(
            "doc_id",
            (F.col("doc_id") % _IMG_SOURCES).alias("__s__"),
            F.expr(f"(doc_id div {_IMG_SOURCES}) % 3").alias("__v__"),
        )
        .join(F.broadcast(variants), ["__s__", "__v__"])
        .select(
            F.col("doc_id").alias("id"),
            F.concat(
                F.when(F.col("__v__") == 2, unique_f0).otherwise(
                    F.col("__f0__")
                ),
                F.col("__rest__"),
            ).alias("media"),
        )
    )


def _video_dhash_cte() -> str:
    """DuckDB twin of the per-frame dHash over the planted video
    corpus: frame k's content key is (k+1)%12 for v=1, a doc-unique
    raster for (v=2, k=0), else k; pixel (y, (8x)//9) of the 8×8
    raster is byte flat = y*8 + (8x)//9 → hex pair 2*(flat%16) of
    md5 chunk flat//16. Ends with per-video DISTINCT frame-hash
    rows (vid, band0..band3)."""
    return f"""
WITH fr AS (
  SELECT doc_id, CAST(k.g AS INT) AS k,
         CASE WHEN (doc_id // {_IMG_SOURCES}) % 3 = 2 AND k.g = 0
              THEN 'vidu:' || doc_id::VARCHAR
              ELSE 'vid:' || (doc_id % {_IMG_SOURCES})::VARCHAR || ':' ||
                   (CASE WHEN (doc_id // {_IMG_SOURCES}) % 3 = 1
                         THEN (k.g + 1) % 12 ELSE k.g END)::VARCHAR
         END AS fkey
  FROM documents, generate_series(0, 11) AS k(g)
), px AS (
  SELECT doc_id, k, CAST(y.g AS INT) AS y, CAST(x.g AS INT) AS x,
         ('0x' || substr(
             md5(fkey || ':' || ((y.g * 8 + (x.g * 8) // 9) // 16)::VARCHAR),
             ((y.g * 8 + (x.g * 8) // 9) % 16) * 2 + 1, 2))::INT AS pval
  FROM fr, generate_series(0, 7) AS y(g), generate_series(0, 8) AS x(g)
), bits AS (
  SELECT doc_id, k, y, x,
         CASE WHEN pval > lead(pval) OVER (PARTITION BY doc_id, k, y ORDER BY x)
              THEN 1 ELSE 0 END AS bit
  FROM px
), bandrows AS (
  SELECT doc_id, k, y // 2 AS band_idx,
         CAST(sum(bit << (15 - (8 * (y % 2) + x))) AS INT) AS band_val
  FROM bits WHERE x < 8 GROUP BY doc_id, k, y // 2
), vsig AS (
  SELECT DISTINCT doc_id,
         CAST(max(CASE WHEN band_idx = 0 THEN band_val END) AS INT) AS band0,
         CAST(max(CASE WHEN band_idx = 1 THEN band_val END) AS INT) AS band1,
         CAST(max(CASE WHEN band_idx = 2 THEN band_val END) AS INT) AS band2,
         CAST(max(CASE WHEN band_idx = 3 THEN band_val END) AS INT) AS band3
  FROM bandrows GROUP BY doc_id, k
)"""


@q(
    "video_near_dups",
    _video_dhash_cte()
    + """
, pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM vsig a JOIN vsig b
    ON a.band0 = b.band0 AND a.band1 = b.band1
   AND a.band2 = b.band2 AND a.band3 = b.band3
   AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= 8
), nbrs AS (
  SELECT id_a AS id, id_b AS nb FROM pairs
  UNION ALL
  SELECT id_b AS id, id_a AS nb FROM pairs
)
SELECT d.doc_id,
       CAST(least(d.doc_id, coalesce(min(n.nb), d.doc_id)) AS BIGINT) AS cluster_id
FROM documents d LEFT JOIN nbrs n ON n.id = d.doc_id
GROUP BY d.doc_id
""",
)
def video_near_dups(spark, sf):
    """Video near-dup resolution by frame-dHash SET signature (r16,
    the video grain of the LAION-style dedup family): the REAL
    container parse (:func:`multimodal.sample_frames`,
    netpbm-stream) explodes each video into frames, each frame runs
    the REAL decode→resize→dHash (:func:`multimodal.image_dhash` on
    multi-row-per-id input), and two videos pair when they share ≥ 8
    DISTINCT frame hashes — an order/timestamp-insensitive
    containment test (re-cut v=1 shares 12/12 out of order; intro
    swap v=2 shares 11/12), resolved to one canonical video per
    clique via :func:`dedup.resolve_clusters`. The oracle rebuilds
    every frame's dHash from md5 hex and mirrors the shared-count
    join; components are exact via one neighbor-min round (planted
    groups are diameter-1 cliques). Scale shape: blobs die inside
    the two Arrow passes; the pair join runs on 20-byte distinct
    (vid, hash) signature rows, grouped map-side-combinable —
    a shared-frame count, never a frame-content shuffle."""
    # fused parse+dHash (r16): one Arrow pass from blob to 20-byte
    # signature rows — result-identical to sample_frames →
    # image_dhash but without re-serializing every frame blob
    # through Arrow or computing the sha256 column this query never
    # reads (multimodal.video_dhash docstring).
    # Pin the distinct signature rows ONCE: the pair join reads it
    # twice (self-join) and the cluster resolution again — unpinned,
    # each consumer re-ran corpus build + container parse + 60k-
    # frame dHash (r16 measurement: ~4.5 s recomputed twice).
    # The repartition matters: AQE coalesces the tiny distinct to
    # ONE partition, and an eager checkpoint would pin that as the
    # physical layout of every downstream join (measured: the whole
    # pair+cluster phase serialized on one core)
    sig = (
        multimodal.video_dhash(_video_corpus(spark, sf), every_ms=40, frame_ms=40)
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    # exact-SET collapse (r16, the video grain of
    # dedup.collapse_exact_signatures): videos whose DISTINCT frame-
    # hash sets are identical pair with exactly the same partners
    # (the shared-count predicate reads nothing but the set), so the
    # shared-frame join runs once per distinct set and every other
    # copy rides a star edge to the set's min id — components, hence
    # the gated output, identical. Two exactness guards: NULL-band
    # frame rows never equi-join, so they are dropped before the set
    # is formed; and a set smaller than the shared-count threshold
    # can never reach it against ANY partner (shared ≤ |set|), so
    # such videos skip the pair join and stay the singletons they
    # already were. At sf0.1 this cuts the join's pair stream ~3×
    # (the re-cut v=1 copies share the v=0 set; only the intro-swap
    # v=2 sets stay doc-unique).
    shared_min = 8
    nn = sig
    for c in ("band0", "band1", "band2", "band3"):
        nn = nn.filter(F.col(c).isNotNull())
    grouped = nn.groupBy("id").agg(
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
    rep_rows = reps.select("id", F.explode("__sig__").alias("__f__")).select(
        "id", "__f__.*"
    )
    a, b = rep_rows.alias("a"), rep_rows.alias("b")
    near = (
        a.join(
            b,
            (F.col("a.band0") == F.col("b.band0"))
            & (F.col("a.band1") == F.col("b.band1"))
            & (F.col("a.band2") == F.col("b.band2"))
            & (F.col("a.band3") == F.col("b.band3"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= shared_min)
        .select("id_a", "id_b")
    )
    pairs = near.unionByName(star)
    clusters = dedup.resolve_clusters(
        pairs, sig.select("id").distinct(), id_col="id", clean_pairs=True
    )
    return clusters.select(F.col("id").alias("doc_id"), "cluster_id")


_AUDIO_SEGS = 65  # 64 adjacent-energy bits -> four 16-bit bands


def _audio_corpus(spark, sf) -> DataFrame:
    """Deterministic 16-bit mono PCM WAV corpus with PLANTED audio
    near-dups (r16): source ``s = doc_id % 48`` picks the waveform
    (65 segments × 16 samples; sample = signed(md5 byte) · 256, so
    every sample is an exact multiple of 256), variant
    ``v = (doc_id div 48) % 3`` perturbs the copy the way re-posted
    audio does — v=0 verbatim; v=1 a REAL volume-halving WAV
    re-encode through :func:`multimodal.audio_gain` (>>1 is exact on
    ×256 samples → fingerprint-identical); v=2 segment 0 zeroed (a
    leading dropout: flips at most dHash bit 0). Canonical 44-byte
    RIFF header + PCM built in Catalyst (md5/regexp/unhex).

    Media bytes are a pure function of (s, v), so the blobs are
    built ONCE per distinct (s, v) — a 144-row ``spark.range``
    variant table (the v=1 rows still round-trip the REAL
    :func:`multimodal.audio_gain` re-encode, just 48 times instead
    of corpus/3 times) — and broadcast-joined to the id scan
    (r16 post-close: the per-doc construction re-ran 65 md5s + a
    2080-char regex per row; measured ~1.4 s of each bench sample
    at sf0.1 for bytes the corpus repeats every ~48 docs). At 100 TB
    the same dedupe-then-broadcast shape holds: the variant table
    stays O(sources × variants) regardless of corpus size."""
    import struct

    n_data = _AUDIO_SEGS * 16 * 2
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + n_data) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", n_data)
    )
    # one partition: 144 rows across 32 range splits would run 32
    # scheduling waves (and 32 one-row Arrow tasks for the gain arm)
    # just to build a broadcast
    rows = spark.range(_IMG_SOURCES * 3, numPartitions=1).select(
        (F.col("id") % _IMG_SOURCES).alias("__s__"),
        F.expr(f"id div {_IMG_SOURCES}").alias("__v__"),
    )
    s = F.col("__s__").cast("string")
    v = F.col("__v__")
    hexes = []
    for seg in range(_AUDIO_SEGS):
        hx = F.md5(F.concat(F.lit("aud:"), s, F.lit(f":{seg}")))
        if seg == 0:
            hx = F.when(v == 2, F.lit("0" * 32)).otherwise(hx)
        hexes.append(hx)
    # 16 little-endian int16 samples per segment: low byte 0x00,
    # high byte = the md5 byte -> sample = signed(byte) * 256.
    # ONE regexp_replace over the concatenated 2080-char hex string
    # inserts every low byte (r16; was 65 per-segment regex calls
    # per row — the regex engine, not md5, dominated corpus build)
    pcm = F.unhex(
        F.regexp_replace(F.concat(*hexes), "(..)", "00$1")
    )
    wavs = rows.select(
        "__s__", "__v__", F.concat(F.lit(hdr), pcm).alias("media")
    )
    base = wavs.filter(v != 1)
    gained = multimodal.audio_gain(
        wavs.filter(v == 1).withColumn(
            "id", F.col("__s__")
        ).select("id", "media"), shift=1
    ).select(
        F.col("id").alias("__s__"), F.lit(1).cast("bigint").alias("__v__"),
        "media",
    )
    variants = base.unionByName(gained)
    # natural scan split on purpose — see the parallelism note in
    # :func:`_image_corpus` (the vectorized batch decode makes the
    # per-core win smaller than the micro-partition tax downstream)
    return (
        docs(spark, sf)
        .select(
            F.col("doc_id").alias("id"),
            (F.col("doc_id") % _IMG_SOURCES).alias("__s__"),
            F.expr(f"(doc_id div {_IMG_SOURCES}) % 3").alias("__v__"),
        )
        .join(F.broadcast(variants), ["__s__", "__v__"])
        .select("id", "media")
    )


def _audio_dhash_cte() -> str:
    """DuckDB twin of the WAV decode→segment-energy→dHash: sample j
    of segment g is signed(md5 hex pair j)·256; energies compare
    scale-free, so the oracle sums signed² directly (the ×256² and
    the v=1 ÷2² factors cancel inside each comparison)."""
    return f"""
WITH hv AS (
  SELECT doc_id, CAST(g.g AS INT) AS seg,
         ('0x' || substr(
             md5('aud:' || (doc_id % {_IMG_SOURCES})::VARCHAR
                 || ':' || g.g::VARCHAR),
             j.g * 2 + 1, 2))::INT AS v
  FROM documents, generate_series(0, {_AUDIO_SEGS - 1}) AS g(g),
       generate_series(0, 15) AS j(g)
), sv AS (
  SELECT doc_id, seg,
         CASE WHEN (doc_id // {_IMG_SOURCES}) % 3 = 2 AND seg = 0 THEN 0
              WHEN v < 128 THEN v ELSE v - 256 END AS s
  FROM hv
), e AS (
  SELECT doc_id, seg, sum(s * s) AS energy
  FROM sv GROUP BY doc_id, seg
), abits AS (
  SELECT doc_id, seg,
         CASE WHEN energy > lead(energy) OVER (PARTITION BY doc_id ORDER BY seg)
              THEN 1 ELSE 0 END AS bit
  FROM e
), abands AS (
  SELECT doc_id, seg // 16 AS band_idx,
         CAST(sum(bit << (15 - seg % 16)) AS INT) AS bv
  FROM abits WHERE seg < {_AUDIO_SEGS - 1} GROUP BY doc_id, seg // 16
), adh AS (
  SELECT doc_id,
         CAST(max(CASE WHEN band_idx = 0 THEN bv END) AS INT) AS band0,
         CAST(max(CASE WHEN band_idx = 1 THEN bv END) AS INT) AS band1,
         CAST(max(CASE WHEN band_idx = 2 THEN bv END) AS INT) AS band2,
         CAST(max(CASE WHEN band_idx = 3 THEN bv END) AS INT) AS band3
  FROM abands GROUP BY doc_id
)"""


@q(
    "audio_dhash_docs",
    _audio_dhash_cte()
    + """
SELECT doc_id, band0, band1, band2, band3 FROM adh
""",
)
def audio_dhash_docs(spark, sf):
    """Audio perceptual dHash over REAL decoded PCM (r16): Catalyst
    builds each doc's WAV bytes (v=1 docs additionally round-trip
    the real volume-halving re-encode), :func:`multimodal.
    audio_dhash` decodes with the stdlib wave codec, sums exact
    int64 segment energies, and packs 64 comparison bits into four
    16-bit bands; the oracle rebuilds every band with integer SQL.
    The v=1 rows are the teeth: a RE-ENCODED, volume-halved copy
    must hash bit-identically."""
    return multimodal.audio_dhash(_audio_corpus(spark, sf)).select(
        F.col("id").alias("doc_id"), "band0", "band1", "band2", "band3"
    )


@q(
    "audio_near_dups",
    _audio_dhash_cte()
    + """
, pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM adh a JOIN adh b
    ON a.doc_id < b.doc_id
   AND (a.band0 = b.band0 OR a.band1 = b.band1
        OR a.band2 = b.band2 OR a.band3 = b.band3)
  WHERE bit_count(CAST(xor(a.band0, b.band0) AS BIGINT))
      + bit_count(CAST(xor(a.band1, b.band1) AS BIGINT))
      + bit_count(CAST(xor(a.band2, b.band2) AS BIGINT))
      + bit_count(CAST(xor(a.band3, b.band3) AS BIGINT)) <= 3
), nbrs AS (
  SELECT id_a AS id, id_b AS nb FROM pairs
  UNION ALL
  SELECT id_b AS id, id_a AS nb FROM pairs
)
SELECT d.doc_id,
       CAST(least(d.doc_id, coalesce(min(n.nb), d.doc_id)) AS BIGINT) AS cluster_id
FROM documents d LEFT JOIN nbrs n ON n.id = d.doc_id
GROUP BY d.doc_id
""",
)
def audio_near_dups(spark, sf):
    """Audio near-dup resolution end-to-end (r16, completing the
    image/video/audio near-dup trio): envelope dHash bands →
    :func:`dedup.band_hamming_pairs` (the same pigeonhole band
    machinery as images — recall-exact at Hamming ≤ 3) →
    :func:`dedup.resolve_clusters`. Planted groups are diameter-1
    cliques (v1 hash-identical to v0 by the exact-gain invariance,
    v2 one bit away), so the oracle's single neighbor-min round is
    exact; the Spark side resolves general components of any
    diameter."""
    # one pin serves both consumers, and the exact-signature collapse
    # keeps the pair stream linear in the corpus (see image_near_dups)
    hashes = multimodal.audio_dhash(
        _audio_corpus(spark, sf)
    ).localCheckpoint(eager=True)
    reps, star = dedup.collapse_exact_signatures(
        hashes, key_cols=("band0", "band1", "band2", "band3"), id_col="id"
    )
    near = dedup.band_hamming_pairs(
        reps, id_col="id", max_hamming=3, pinned=True
    )
    pairs = near.select("id_a", "id_b").unionByName(star)
    clusters = dedup.resolve_clusters(
        pairs, hashes.select("id"), id_col="id", clean_pairs=True
    )
    return clusters.select(F.col("id").alias("doc_id"), "cluster_id")


@q(
    "linear_quality_docs",
    """
SELECT doc_id,
       CAST(COALESCE(list_sum(list_transform(
           list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                       t -> t != ''),
           t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 1001 - 500
       )), 0) AS DOUBLE) / 1000.0 AS quality_logit
FROM documents
""",
)
def linear_quality_docs(spark, sf):
    """fastText-style hashed linear quality-classifier inference
    (r7): deterministic md5-derived placeholder weights, exact
    integer logit sum per doc — one Catalyst projection, no shuffle.
    The oracle rebuilds every weight and sum in SQL."""
    return text.linear_quality_score(docs(spark, sf)).select(
        "doc_id", "quality_logit"
    )


def _ivf_centroid_update_oracle() -> str:
    sqd = (
        "list_transform(cs, c -> list_reduce("
        "list_transform(list_zip(cv, c), x -> (x[1] - x[2]) * (x[1] - x[2])), "
        "(acc, v) -> acc + v))"
    )
    return f"""
WITH cent AS (SELECT {_centroids_sql()} AS cs),
assigned AS (
  SELECT CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell, cv
  FROM (SELECT embedding::DOUBLE[] AS cv, {sqd} AS ds
        FROM embeddings, cent)
),
lanes AS (
  SELECT cell, CAST(g.i - 1 AS INT) AS lane, cv[g.i] AS v
  FROM assigned, generate_series(1, 64) AS g(i)  -- dim fixed by IVF_CENTROIDS
)
SELECT cell, lane, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(v AS DECIMAL(38,9))) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS mean_val
FROM lanes GROUP BY cell, lane
"""


@q("ivf_centroid_update", _ivf_centroid_update_oracle())
def ivf_centroid_update(spark, sf):
    """One relational k-means update step over the fixed quantizer's
    assignment (r7): per (cell, lane) member count + decimal-exact
    mean coordinate — the engine-portable trainer half of IVF (see
    :func:`mirabelle_spark.pipeline.ann.cell_centroid_update`)."""
    from mirabelle_spark.pipeline.ivf_centroids import IVF_CENTROIDS

    return ann.cell_centroid_update(embs(spark, sf), IVF_CENTROIDS)


@q(
    "best_docs_per_lang",
    """
WITH scored AS (
  SELECT doc_id, lang,
         CAST(COALESCE(list_sum(list_transform(
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         t -> t != ''),
             t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 1001 - 500
         )), 0) AS DOUBLE) / 1000.0 AS quality_logit
  FROM documents
)
SELECT doc_id, lang, quality_logit FROM (
  SELECT *, row_number() OVER (
      PARTITION BY lang ORDER BY quality_logit DESC, doc_id) AS rk
  FROM scored
) WHERE rk <= 20
""",
)
def best_docs_per_lang(spark, sf):
    """Quality-ranked mixture selection (r7): the top 20 documents
    per language by hashed-classifier logit, via the two-phase
    bounded top-n (:func:`sampling.stratified_topk`) — no language
    ever sorts in one reducer, the corpus never shuffles (left-semi
    on broadcast winners). Oracle = plain rank window at sf scale."""
    from mirabelle_spark.pipeline import sampling

    scored = text.linear_quality_score(docs(spark, sf))
    top = sampling.stratified_topk(
        scored, 20, group_col="lang", order_col="quality_logit"
    )
    return top.select("doc_id", "lang", "quality_logit")


@q(
    "token_chunks_docs",
    """
WITH toks AS (
  SELECT doc_id, unnest(list_transform(
           list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                       x -> x != ''),
           (x, i) -> {'pos': i - 1, 'tok': x}), recursive := true)
  FROM documents
),
flagged AS (
  SELECT doc_id, pos, tok,
         CASE WHEN pos > 0
               AND ('0x' || substr(md5(tok), 1, 15))::BIGINT % 16 = 0
              THEN 1 ELSE 0 END AS b
  FROM toks
),
chunked AS (
  SELECT doc_id, pos, tok,
         CAST(sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS INT) AS chunk_id
  FROM flagged
)
SELECT doc_id, chunk_id, CAST(count(*) AS BIGINT) AS n_tokens,
       md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
FROM chunked GROUP BY doc_id, chunk_id
""",
)
def token_chunks_docs(spark, sf):
    """Content-defined chunking at token granularity (r7): hash-
    derived boundaries (expected length 16 tokens), per-chunk token
    count + md5 of the reassembled chunk — the RAG/pretraining
    chunker with every chunk byte-verified by the oracle."""
    return text.token_chunks(docs(spark, sf), divisor=16)


ORACLES["neardup_degree_histogram"] = f"""
WITH pairs AS ({_minhash_lsh_oracle()}),
deg AS (
  SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT id_a AS id FROM pairs UNION ALL SELECT id_b AS id FROM pairs
  ) GROUP BY id
)
SELECT degree, CAST(count(*) AS BIGINT) AS n_docs FROM deg GROUP BY degree
"""


def neardup_degree_histogram(spark, sf):
    """Near-dup graph degree histogram over the MinHash-LSH pair set
    (r7): the clique-pressure diagnostic behind the hot-bucket cap —
    two aggregations over pairs, corpus untouched."""
    cands = dedup.minhash_lsh_candidates(docs(spark, sf))
    return dedup.neardup_degree_histogram(cands)


QUERIES["neardup_degree_histogram"] = neardup_degree_histogram


def _ann_sq_oracle(k: int = 5) -> str:
    """SQ8 top-k in SQL: the fixed [-2, 2) range's step is exactly
    2^-6, so encode arithmetic is IEEE-exact and every code (and the
    fold-ordered dequantized distance) matches Spark bit-for-bit."""
    return f"""
WITH codes AS (
  SELECT vec_id, list_transform(embedding::DOUBLE[], v ->
           CAST(least(greatest(floor((v - (-2.0)) / 0.015625), 0), 255)
                AS INT)) AS codes
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT q.query_id, c.vec_id,
         list_reduce(list_transform(list_zip(q.qv,
             list_transform(c.codes,
                            cc -> -2.0 + (CAST(cc AS DOUBLE) + 0.5) * 0.015625)),
           x -> (x[1] - x[2]) * (x[1] - x[2])), (acc, v) -> acc + v) AS sq_dist
  FROM codes c, q
),
ranked AS (
  SELECT query_id, vec_id, sq_dist,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sq_dist, vec_id)
              AS INT) AS rank
  FROM scored
)
SELECT query_id, vec_id, sq_dist, rank FROM ranked WHERE rank <= {k}
"""


@q("ann_sq_topk", _ann_sq_oracle(k=5))
def ann_sq_topk(spark, sf):
    """SQ8 scalar-quantized top-k (r7): the third faiss-style
    compression next to IVF and PQ — int8 codes corpus-wide,
    broadcast queries, exact fold-ordered L2 on dequantized
    midpoints."""
    e = embs(spark, sf)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann.sq_topk(e, queries, k=5)


def _ann_ivfpq_oracle(
    k: int = 5,
    nprobe: int = 3,
    nlist: int = 8,
    centroids=None,
    codebooks=None,
    rerank: int = 0,
    src: str = "embeddings",
    prelude: str = "",
) -> str:
    """IVF-PQ end to end in SQL: the IVF oracle's assignment/probe
    CTEs feeding the PQ oracle's encode/LUT/score fragments — scored
    pairs exist only where (cell matches a probe). ``centroids`` /
    ``codebooks`` default to the fixed quantizers; pass the trained
    literals for the trained composition. ``rerank > 0`` appends the
    faiss refinement: exact squared-L2 on the ADC top-``rerank``
    (left-assoc fold from 0.0 — bit-matches Spark's
    aggregate(zip_with) since 0.0 + x == x for the non-negative
    squares) and the final ranking is by l2_dist."""
    parts = _pq_oracle_parts(codebooks)
    sqd = (
        "list_transform(cs, c -> list_reduce("
        "list_transform(list_zip(v, c), x -> (x[1] - x[2]) * (x[1] - x[2])), "
        "(acc, vv) -> acc + vv))"
    )
    cells = ", ".join(f"({i})" for i in range(1, nlist + 1))
    return f"""
WITH {prelude}cent AS (SELECT {_centroids_sql(centroids)} AS cs),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {src}),
assigned AS (
  SELECT vec_id, v,
         CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell
  FROM (SELECT vec_id, v, {sqd} AS ds FROM c, cent)
),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM {src} WHERE vec_id < 10),
qcell AS (
  SELECT query_id, qv,
         {sqd.replace('list_zip(v, c)', 'list_zip(qv, c)')} AS ds
  FROM q, cent
),
probes AS (
  SELECT query_id, cell FROM (
    SELECT query_id, i - 1 AS cell,
           row_number() OVER (PARTITION BY query_id ORDER BY ds[i], i) AS pr
    FROM qcell, (VALUES {cells}) t(i)
  ) WHERE pr <= {nprobe}
),
cdist AS (SELECT vec_id, cell, {parts['ddefs']} FROM assigned),
enc AS (SELECT vec_id, cell, {parts['codes']} FROM cdist),
qdist AS (SELECT query_id, {parts['qdefs']} FROM q),
lut AS (SELECT query_id, {parts['luts']} FROM qdist),
scored AS (
  SELECT l.query_id, e.vec_id, {parts['score']} AS adc_dist
  FROM enc e
  JOIN probes p ON e.cell = p.cell
  JOIN lut l ON l.query_id = p.query_id
),
ranked AS (
  SELECT query_id, vec_id, adc_dist,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id)
              AS INT) AS rank
  FROM scored
)
{_ivfpq_rerank_sql(k, rerank) if rerank else
 f"SELECT query_id, vec_id, adc_dist, rank FROM ranked WHERE rank <= {k}"}
"""


def _ivfpq_rerank_sql(k: int, rerank: int) -> str:
    """Refinement tail appended to the IVF-PQ oracle: exact
    squared-L2 on the ADC top-``rerank`` only, final ranking by
    l2_dist (the Spark side's faiss refinement twin)."""
    l2 = (
        "list_reduce(list_transform(list_zip(qq.qv, cc.v), "
        "x -> (x[1] - x[2]) * (x[1] - x[2])), (acc, vv) -> acc + vv)"
    )
    return f""",
cand AS (SELECT query_id, vec_id FROM ranked WHERE rank <= {rerank}),
exact AS (
  SELECT cd.query_id, cd.vec_id, {l2} AS l2_dist
  FROM cand cd
  JOIN c cc ON cd.vec_id = cc.vec_id
  JOIN q qq ON cd.query_id = qq.query_id
),
rr AS (
  SELECT query_id, vec_id, l2_dist,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY l2_dist, vec_id)
              AS INT) AS rank
  FROM exact
)
SELECT query_id, vec_id, l2_dist, rank FROM rr WHERE rank <= {k}"""


@q("ann_ivfpq_topk", _ann_ivfpq_oracle(k=5, nprobe=3))
def ann_ivfpq_topk(spark, sf):
    """The full faiss layout (r7): IVF coarse pruning × PQ
    compressed ADC scan — cell-partitioned nibble codes, broadcast
    per-query LUTs joined through the probe list; at nprobe=nlist it
    degenerates to ann_pq_topk exactly."""
    from mirabelle_spark.pipeline.ivf_centroids import IVF_CENTROIDS
    from mirabelle_spark.pipeline.pq_codebooks import PQ_CODEBOOKS

    e = embs(spark, sf)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann.ivfpq_topk(
        e, queries, PQ_CODEBOOKS, IVF_CENTROIDS, k=5, nprobe=3
    )


@q(
    "ann_ivfpq_trained_topk",
    _ann_ivfpq_oracle(
        k=5,
        nprobe=3,
        centroids=_trained_centroids(),
        codebooks=_trained_pq_books(),
    ),
)
def ann_ivfpq_trained_topk(spark, sf):
    """The COMPLETE trained faiss lifecycle on the gated path
    (VERDICT r8 ask #5): IVF coarse pruning with the engine-trained
    centroids (:func:`ann.train_ivf`) × PQ ADC scan with the
    engine-trained codebooks (:func:`ann.train_pq`) — both persisted
    full-repr literals with byte-equality regeneration pins
    (gen_trained_centroids.py / gen_trained_pq.py). Identical plan to
    ann_ivfpq_topk; the oracle inlines BOTH trained literal sets."""
    from mirabelle_spark.pipeline.ivf_centroids_trained import (
        TRAINED_IVF_CENTROIDS,
    )
    from mirabelle_spark.pipeline.pq_codebooks_trained import (
        TRAINED_PQ_CODEBOOKS,
    )

    e = embs(spark, sf)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann.ivfpq_topk(
        e, queries, TRAINED_PQ_CODEBOOKS, TRAINED_IVF_CENTROIDS, k=5, nprobe=3
    )


@q(
    "ann_ivfpq_rerank_topk",
    _ann_ivfpq_oracle(
        k=5,
        nprobe=3,
        centroids=_trained_centroids(),
        codebooks=_trained_pq_books(),
        rerank=50,
    ),
)
def ann_ivfpq_rerank_topk(spark, sf):
    """Trained IVF-PQ with faiss refinement on the gated path (r10):
    exact squared-L2 re-scoring of the ADC top-50 only (|queries|·50
    rows touch full vectors; the corpus-wide scan stays nibble
    codes). Vs exact-L2 ground truth, rerank=50 lifts the trained
    stack's recall@5 0.28→0.50 at sf0.1 and 0.66→1.00 at sf1
    (PERF §57); the oracle appends the identical refinement CTEs,
    so the l2 ranking is exact-checked end to end."""
    from mirabelle_spark.pipeline.ivf_centroids_trained import (
        TRAINED_IVF_CENTROIDS,
    )
    from mirabelle_spark.pipeline.pq_codebooks_trained import (
        TRAINED_PQ_CODEBOOKS,
    )

    e = embs(spark, sf)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann.ivfpq_topk(
        e, queries, TRAINED_PQ_CODEBOOKS, TRAINED_IVF_CENTROIDS,
        k=5, nprobe=3, rerank=50,
    )


_NORM_PRELUDE = """nemb AS (
  SELECT vec_id,
         CASE WHEN nrm > 0 THEN list_transform(v, x -> x / nrm)
              ELSE v END AS embedding
  FROM (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                            (acc, s) -> acc + s)) AS nrm
    FROM embeddings
  )
), """


@q(
    "ann_ivfpq_cosine_topk",
    _ann_ivfpq_oracle(
        k=5,
        nprobe=3,
        centroids=_trained_centroids(),
        codebooks=_trained_pq_books(),
        rerank=50,
        src="nemb",
        prelude=_NORM_PRELUDE,
    ),
)
def ann_ivfpq_cosine_topk(spark, sf):
    """Cosine-metric trained IVF-PQ with refinement on the gated
    path (r10): unit-normalize both sides (staged-norm projection;
    sqrt and divide are correctly-rounded IEEE ops with the same
    left-assoc fold in both engines, so normalization is
    oracle-exact), then the identical L2 machinery — on unit
    vectors d² = 2 − 2·cos, the faiss cosine recipe. Full-probe +
    full-rerank equivalence with cosine brute force is pytest-
    pinned; this gated variant runs the production nprobe=3 /
    rerank=50 shape."""
    from mirabelle_spark.pipeline.ivf_centroids_trained import (
        TRAINED_IVF_CENTROIDS,
    )
    from mirabelle_spark.pipeline.pq_codebooks_trained import (
        TRAINED_PQ_CODEBOOKS,
    )

    e = embs(spark, sf)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann.ivfpq_topk(
        e, queries, TRAINED_PQ_CODEBOOKS, TRAINED_IVF_CENTROIDS,
        k=5, nprobe=3, rerank=50, metric="cosine",
    )


@q(
    "soft_dedup_docs",
    """
WITH k AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS k
  FROM documents
),
n AS (SELECT k, CAST(count(*) AS BIGINT) AS dup_count FROM k GROUP BY k)
SELECT k.doc_id, n.dup_count
FROM k JOIN n USING (k)
WHERE (('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 15))::BIGINT
       % 1048576) * n.dup_count < 1048576
""",
)
def soft_dedup_docs(spark, sf):
    """Frequency-weighted duplicate downsampling (r7): each member of
    a duplicate group survives with probability 1/group-size via the
    portable per-doc hash — local decision, no survivor election."""
    return dedup.soft_dedup(docs(spark, sf))


@q(
    "corpus_split_docs",
    """
SELECT doc_id, lang,
       CASE
         WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              % 10000 < 9000 THEN 'train'
         WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              % 10000 < 9500 THEN 'val'
         ELSE 'test'
       END AS split
FROM documents
""",
)
def corpus_split_docs(spark, sf):
    """Deterministic 90/5/5 train/val/test split by stable doc hash
    (r7): a document keeps its split across corpus versions and
    partitionings — pure projection, full-value oracle."""
    from mirabelle_spark.pipeline import sampling

    return sampling.corpus_split(
        docs(spark, sf), {"train": 0.9, "val": 0.05, "test": 0.05}
    ).select("doc_id", "lang", "split")


@q(
    "search_quality_docs",
    f"""
WITH ok AS (
  SELECT doc_id FROM documents
  WHERE CAST(COALESCE(list_sum(list_transform(
          list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                      t -> t != ''),
          t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 1001 - 500
        )), 0) AS DOUBLE) / 1000.0 > 0
),
c AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS cv
  FROM embeddings e JOIN ok ON e.vec_id = ok.doc_id
),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id,
         {{dot}} / ({{qn}} * {{cn}}) AS cosine
  FROM c, q
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id)
              AS INT) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
""".format(
        dot=_DOT.format(a="q.qv", b="c.cv"),
        qn=_NORM.format(a="q.qv"),
        cn=_NORM.format(a="c.cv"),
    ),
)
def search_quality_docs(spark, sf):
    """Quality-filtered semantic search (r7): restrict the search
    corpus to documents the hashed classifier scores positive (a
    left-semi join on ids — bodies and vectors never widen the
    shuffle), then exact cosine top-5. The cross-modal compose every
    curation+retrieval pipeline runs; full-value oracle."""
    d = text.linear_quality_score(docs(spark, sf))
    ok = d.filter(F.col("quality_logit") > 0).select(
        F.col("doc_id").alias("vec_id")
    )
    e = embs(spark, sf)
    corpus = e.join(ok, "vec_id", "left_semi")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann.brute_force_topk(corpus, queries, k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


@q(
    "doc_length_profile",
    """
WITH t AS (
  SELECT lang,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(lower(text)), '\\s+'))
              END AS BIGINT) AS n
  FROM documents
),
w AS (SELECT lang, list(n ORDER BY n) AS m FROM t GROUP BY lang),
qs AS (SELECT unnest([0.0, 0.5, 0.95, 1.0]) AS quantile)
SELECT lang, quantile,
       m[CAST(least(len(m) - 1, CAST(floor(len(m) * quantile) AS BIGINT))
              AS BIGINT) + 1] AS n_tokens
FROM w, qs
""",
)
def doc_length_profile(spark, sf):
    """Per-language token-length percentiles (r7): the corpus report
    every curation run starts from — exact nearest-rank quantiles
    (same index rule as the percentiles operator, stricter than a
    sketch), one hash aggregate per language."""
    d = text.token_count(docs(spark, sf))
    prof = d.groupBy("lang").agg(
        F.sort_array(F.collect_list(F.col("n_tokens").cast("bigint"))).alias("__m__")
    )
    qs = F.array(*[F.lit(q) for q in (0.0, 0.5, 0.95, 1.0)])
    n = F.size("__m__")
    idx = (
        F.least(n - 1, F.floor(n.cast("double") * F.col("quantile")).cast("int")) + 1
    )
    return (
        prof.select("lang", "__m__", F.explode(qs).alias("quantile"))
        .select(
            "lang", "quantile",
            F.element_at(F.col("__m__"), idx).alias("n_tokens"),
        )
    )


@q(
    "split_token_budget",
    """
WITH t AS (
  SELECT CASE
           WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                % 10000 < 9000 THEN 'train'
           WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                % 10000 < 9500 THEN 'val'
           ELSE 'test'
         END AS split,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(lower(text)), '\\s+'))
              END AS BIGINT) AS n
  FROM documents
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tokens
FROM t GROUP BY split
""",
)
def split_token_budget(spark, sf):
    """Token budget per train/val/test split (r7): the number every
    training plan starts from — corpus_split composed with
    token_count, one aggregate."""
    from mirabelle_spark.pipeline import sampling

    d = sampling.corpus_split(
        text.token_count(docs(spark, sf)),
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )
    return d.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tokens").cast("bigint")).alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# round 9: winnowing dedup, BPE merge statistics, power-iteration PCA


@q(
    "winnow_dedup_pairs",
    r"""
WITH wrds AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(ws) - 3, 1) + 1),
           i -> md5(array_to_string(list_slice(ws, i, i + 3), ' '))) AS gs
  FROM wrds
),
fps AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(
           list_transform(range(1, greatest(len(gs) - 3, 1) + 1),
             j -> list_min(list_slice(gs, j, j + 3))))) AS fp
  FROM grams
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
""",
)
def winnow_dedup_pairs(spark, sf):
    """Winnowing (MOSS) near-dup pairs (r9): ordered word 4-gram md5
    hashes, one fingerprint per 4-hash window (the local minimum),
    pairs sharing >= 2 fingerprints with the shared count. The
    oracle mirrors the fingerprint construction then counts shared
    fps by an explicit self-join — the engine never self-joins (one
    groupBy bucket pass, hot-fp cappable)."""
    return dedup.winnow_dedup_pairs(docs(spark, sf), k=4, w=4, min_shared=2)


@q(
    "bpe_top_pairs",
    r"""
WITH words AS (
  SELECT unnest(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS word
  FROM documents
),
wf AS (
  SELECT word, count(*) AS n FROM words WHERE length(word) >= 2 GROUP BY word
),
pairs AS (
  SELECT unnest(list_transform(range(1, length(word)), i -> substring(word, i, 2))) AS pair, n
  FROM wf
),
agg AS (SELECT pair, CAST(sum(n) AS BIGINT) AS weight FROM pairs GROUP BY pair)
SELECT pair, weight,
       CAST(row_number() OVER (ORDER BY weight DESC, pair ASC) AS INT) AS rank
FROM agg ORDER BY weight DESC, pair ASC LIMIT 20
""",
)
def bpe_top_pairs(spark, sf):
    """First BPE merge-step statistics (r9): corpus-wide adjacent
    character-pair frequencies weighted by word occurrence count;
    the rank-1 row is the first merge of a BPE tokenizer trained on
    this corpus. Pair explosion runs over the vocabulary table, not
    the corpus."""
    return text.bpe_pair_counts(docs(spark, sf), top_n=20)


def _pca_seed(dim: int = 64, seed: int = 7) -> list[float]:
    """The deterministic power-iteration seed (unit-normal direction,
    RandomState(seed)) — the same vector train_top_component starts
    from, inlined full-repr into the oracle like _centroids_sql."""
    import numpy as np

    rng = np.random.RandomState(seed)
    v = rng.normal(size=dim)
    v = v / np.linalg.norm(v)
    return [float(x) for x in v]


def _dlit(v: float) -> str:
    """Double literal DuckDB parses DIRECTLY as DOUBLE (exponent
    suffix skips the DECIMAL(18,17) path that double-rounds the last
    ulp — the _pq_oracle_fragments rule)."""
    r = repr(float(v))
    return r if "e" in r or "E" in r else r + "e0"


def _dot_unrolled_sql(vec_expr: str, component: list[float]) -> str:
    """<vec, component> as an explicit left-associated sum of
    correctly-rounded products — bit-identical to the Spark side's
    sequential fold (ann.dot). NEVER list_reduce: DuckDB's reduce is
    not a plain left fold (measured 1-ulp divergences, see
    _pq_oracle_fragments)."""
    return " + ".join(
        f"{vec_expr}[{i + 1}] * {_dlit(x)}" for i, x in enumerate(component)
    )


def _pca_power_iter_oracle(dim: int = 64) -> str:
    s = _dot_unrolled_sql("cv", _pca_seed(dim))
    return f"""
WITH prj AS (
  SELECT cv, {s} AS s
  FROM (SELECT embedding::DOUBLE[] AS cv FROM embeddings)
),
lanes AS (
  SELECT CAST(g.i - 1 AS INT) AS lane, cv[g.i] AS xv, s
  FROM prj, generate_series(1, {dim}) AS g(i)
)
SELECT lane, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(s * xv AS DECIMAL(38,9))) AS DOUBLE) AS s_sum
FROM lanes GROUP BY lane
"""


@q("pca_power_iter", _pca_power_iter_oracle())
def pca_power_iter(spark, sf):
    """One power-iteration step toward the embedding corpus' top
    principal direction (r9) from the deterministic seed — the
    engine training its own projection (train_top_component iterates
    exactly this step; pytest pins its convergence vs numpy's
    eigendecomposition). DECIMAL(38,9)-exact lane sums, the
    cell_centroid_update contract."""
    return ann.power_iteration_step(embs(spark, sf), _pca_seed())


def _bpe_seg_sql(merges) -> str:
    """Segmentation of column ``word`` as a chain of literal
    replaces over the doubled-delimiter form (see text._BPE_SEP) —
    the EXACT rule the trainer and bpe_apply use, with the merges
    inlined. RE2-safe: no lookarounds, plain replace()."""
    s = "\x1f"
    s2 = s * 2

    def _q(t: str) -> str:
        # SQL-escape single quotes so a merge containing an apostrophe
        # degrades to a correct literal instead of killing the registry
        return t.replace("'", "''")

    # replace(word, chr(31), '') mirrors the engine's \x1f strip at
    # seg init (delimiter invariant for hostile input)
    seg = f"regexp_replace(replace(word, '{s}', ''), '(.)', '{s2}\\1', 'g') || '{s2}'"
    for a, b in merges:
        a, b = _q(a), _q(b)
        seg = f"replace({seg}, '{s}{a}{s2}{b}{s}', '{s}{a}{b}{s}')"
    return seg


def _bpe_segment_oracle(top_n: int = 50) -> str:
    from mirabelle_spark.pipeline.bpe_merges_trained import BPE_MERGES

    s = "\x1f"
    seg = _bpe_seg_sql(BPE_MERGES)
    return f"""
WITH words AS (
  SELECT unnest(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
  FROM documents
),
wf AS (SELECT word, count(*) AS n FROM words WHERE length(word) >= 1 GROUP BY word),
toks AS (
  SELECT unnest(list_filter(string_split({seg}, '{s}'), x -> x <> '')) AS token, n
  FROM wf
),
agg AS (SELECT token, CAST(sum(n) AS BIGINT) AS weight FROM toks GROUP BY token)
SELECT token, weight,
       CAST(row_number() OVER (ORDER BY weight DESC, token ASC) AS INT) AS rank
FROM agg ORDER BY weight DESC, token ASC LIMIT {top_n}
"""


@q("bpe_segment_trained", _bpe_segment_oracle())
def bpe_segment_trained(spark, sf):
    """Corpus subword profile under the ENGINE-TRAINED BPE merges
    (r9): bpe_train's 24 pinned merges (bpe_merges_trained, byte-
    equality regeneration pin) applied as a JVM literal-replace chain
    over the vocabulary table — the trained-tokenizer lifecycle end
    to end, the bpe_top_pairs statistics pass iterated. Top-50
    subword tokens by weighted frequency."""
    from mirabelle_spark.pipeline.bpe_merges_trained import BPE_MERGES

    return text.bpe_segment_profile(docs(spark, sf), BPE_MERGES, top_n=50)


def _bpe_fertility_oracle() -> str:
    from mirabelle_spark.pipeline.bpe_merges_trained import BPE_MERGES

    s = "\x1f"
    seg = _bpe_seg_sql(BPE_MERGES)
    return f"""
WITH words AS (
  SELECT lang,
         unnest(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
  FROM documents
),
wf AS (
  SELECT lang, word, count(*) AS n FROM words
  WHERE length(word) >= 1 GROUP BY lang, word
),
vocab AS (
  SELECT word,
         len(list_filter(string_split({seg}, '{s}'), x -> x <> '')) AS k
  FROM (SELECT DISTINCT word FROM wf)
)
SELECT lang,
       CAST(sum(n) AS BIGINT) AS n_words,
       CAST(sum(n * k) AS BIGINT) AS n_subtokens,
       CAST(sum(n * k) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS fertility
FROM wf JOIN vocab USING (word)
GROUP BY lang
"""


@q("bpe_fertility_by_lang", _bpe_fertility_oracle())
def bpe_fertility_by_lang(spark, sf):
    """Tokenizer fertility (mean subword tokens per word) per
    language under the ENGINE-TRAINED BPE merges — the tokenizer-
    fit audit every multilingual pipeline runs before committing a
    vocabulary: a language whose fertility is high pays that factor
    in sequence length. Segmentation cost is vocabulary-sized, not
    corpus-sized (distinct-word table, the bpe_segment_profile
    shape)."""
    from mirabelle_spark.pipeline.bpe_merges_trained import BPE_MERGES

    return text.bpe_fertility(docs(spark, sf), BPE_MERGES, by="lang")


def _pca_project_oracle(k: int = 20) -> str:
    from mirabelle_spark.pipeline.pca_component_trained import PCA_COMPONENT

    d = _dot_unrolled_sql("cv", PCA_COMPONENT)
    return f"""
WITH prj AS (
  SELECT vec_id, {d} AS score
  FROM (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings)
)
SELECT vec_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, vec_id ASC) AS INT) AS rank
FROM prj ORDER BY score DESC, vec_id ASC LIMIT {k}
"""


@q("pca_project_trained", _pca_project_oracle())
def pca_project_trained(spark, sf):
    """Projection onto the ENGINE-TRAINED dominant direction (r9):
    pca_component_trained (power-iteration output, byte-equality
    regeneration pin) inlined as a literal; per-vector score is the
    deterministic sequential-fold dot, top-20 via orderBy+limit —
    the third trained artifact on the gated path (IVF centroids, PQ
    codebooks, now the projection)."""
    from pyspark.sql import Window as W

    from mirabelle_spark.pipeline.pca_component_trained import PCA_COMPONENT

    v = F.array(*[F.lit(float(x)) for x in PCA_COMPONENT])
    e = embs(spark, sf).select(
        "vec_id", ann.dot(ann.as_double_vec(F.col("embedding")), v).alias("score")
    )
    top = e.orderBy(F.col("score").desc(), F.col("vec_id").asc()).limit(20)
    wnd = W.orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return top.withColumn("rank", F.row_number().over(wnd))


@q(
    "tfidf_top_terms",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
), td AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE length(token) > 0 GROUP BY doc_id, token
), freq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df FROM td GROUP BY token
), j AS (
  SELECT td.doc_id, td.token, td.tf, freq.df,
         CAST(row_number() OVER (
           PARTITION BY td.doc_id
           ORDER BY CAST(td.tf AS DOUBLE) / CAST(freq.df AS DOUBLE) DESC,
                    td.token ASC) AS INT) AS rank
  FROM td JOIN freq USING (token)
)
SELECT doc_id, token, tf, df, rank FROM j WHERE rank <= 3
""",
)
def tfidf_top_terms(spark, sf):
    """Per-document top-3 tf-idf terms (r9), rational-idf variant
    (score = tf/df — engine-portable exact ranking, see
    text.tfidf_top_terms docstring); per-DOC window, never global."""
    return text.tfidf_top_terms(docs(spark, sf), n=3)


@q(
    "dup_span_fraction_docs",
    r"""
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(len(string_split_regex(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ')) - 2, 0) + 1),
    i -> array_to_string(list_slice(string_split_regex(trim(regexp_replace(lower(text),'\s+',' ','g')), ' '), i, i + 2), ' ')
  )) AS s
  FROM documents
),
per AS (SELECT doc_id, unnest(s) AS g FROM sh),
freq AS (SELECT g, CAST(count(*) AS BIGINT) AS nd FROM per GROUP BY g),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
  FROM per JOIN freq USING (g) GROUP BY doc_id
)
SELECT d.doc_id, a.n_grams, a.n_shared,
       CAST(a.n_shared AS DOUBLE) / CAST(a.n_grams AS DOUBLE) AS dup_fraction
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
""",
)
def dup_span_fraction_docs(spark, sf):
    """Cross-document duplicated-span fraction (r9): per doc, the
    fraction of its distinct word 3-grams occurring in >= 2 docs —
    the C4 / Lee et al. 2021 corpus-dup quality metric at n-gram
    grain. One exact integer division; short docs NULL."""
    return dedup.dup_span_fraction(docs(spark, sf), n=3)


@q("winnow_dedup_pairs_fast")
def winnow_dedup_pairs_fast(spark, sf):
    """Fast-mode winnowing (r10): xxhash64 gram fingerprints — one
    JVM hash, 8-byte fps — instead of the oracle-portable md5 path.
    No SQL oracle (DuckDB has no xxhash64): rows-only driver check;
    equivalence to the portable twin is pinned by
    tests/test_pipeline.py::test_winnow_fast_mode_overlap (identical
    pair set at sf0.01; recall >= 0.82 vs portable at sf0.1 — the
    MOSS run guarantee holds per-hash, threshold-adjacent pairs
    flip with the sampling hash)."""
    return dedup.winnow_dedup_pairs(docs(spark, sf), gram_hash="fast")


def _dup_span_removed_oracle(
    n: int = 4, min_docs: int = 2, table: str = "documents",
    text_col: str = "text", grain: str = "word",
) -> str:
    """Exact SQL twin of dedup.dup_span_removed (keep_first=True):
    same canonical tokenization, same min(struct(doc_id, pos))
    winner election, same covered-token rebuild. DuckDB lists are
    1-based, so positions are shifted to 0-based (i - 1) to match
    Spark's posexplode before the winner comparison and the start-
    offset arrays; array_to_string([]) is NULL in DuckDB where
    Spark's array_join([]) is '' — coalesced. ``table`` may be any
    CTE name (the scrubbed-corpus compose feeds the cleaned corpus
    through the same chain). ``grain="char"`` mirrors the char-
    shingle mode: DuckDB's string_split(s, '') splits into single
    characters exactly like Spark's split(s, '') (both engines
    verified code-point-identical on this corpus), so the same CTE
    chain runs at character grain with an empty join separator."""
    sep = " " if grain == "word" else ""
    norm = rf"trim(regexp_replace(lower({text_col}), '\s+', ' ', 'g'))"
    return f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN length({norm}) > 0
              THEN string_split({norm}, '{sep}')
              ELSE CAST([] AS VARCHAR[]) END AS w
  FROM {table}
),
pos AS (
  SELECT doc_id, w, unnest(range(1, greatest(len(w) - {n - 1}, 0) + 1)) AS i
  FROM toks
),
occ AS (
  SELECT doc_id, i - 1 AS pos0,
         array_to_string(list_slice(w, i, i + {n - 1}), '{sep}') AS g
  FROM pos
),
freq AS (
  SELECT g, count(DISTINCT doc_id) AS nd,
         min(struct_pack(d := doc_id, p := pos0)) AS win
  FROM occ GROUP BY g
),
rem AS (
  SELECT o.doc_id, o.pos0
  FROM occ o JOIN freq f USING (g)
  WHERE f.nd >= {min_docs} AND NOT (o.doc_id = f.win.d AND o.pos0 = f.win.p)
),
starts AS (
  SELECT doc_id, list_sort(list_distinct(list(pos0))) AS s
  FROM rem GROUP BY doc_id
),
built AS (
  SELECT t.doc_id, t.w,
         list_filter(list_transform(range(1, len(t.w) + 1),
           i -> CASE WHEN len(list_filter(coalesce(st.s, CAST([] AS INT[])),
                          p -> p <= i - 1 AND i - 1 < p + {n})) > 0
                     THEN NULL ELSE t.w[i] END),
           x -> x IS NOT NULL) AS kept
  FROM toks t LEFT JOIN starts st USING (doc_id)
)
SELECT doc_id, coalesce(array_to_string(kept, '{sep}'), '') AS text_clean,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(w) - len(kept) AS BIGINT) AS n_removed
FROM built
"""


def _scrubbed_corpus_oracle() -> str:
    """clean_corpus (quality ∩ survivors ∖ contaminated, masked)
    feeding the ExactSubstr span-removal chain — the full C4-style
    curation pipeline as ONE SQL statement."""
    clean = _clean_corpus_oracle().strip()
    span = _dup_span_removed_oracle(
        n=4, min_docs=2, table="cleaned", text_col="text_masked"
    ).strip()
    assert span.startswith("WITH ")
    return f"WITH cleaned AS ({clean}),\n{span[len('WITH '):]}"


@q("scrubbed_corpus_docs", _scrubbed_corpus_oracle())
def scrubbed_corpus_docs(spark, sf):
    """The complete C4-style curation pipeline in one declarative
    plan (r10): quality rules ∩ near-dup survivors ∖ contaminated,
    PII-masked (clean_corpus_docs), THEN cross-document exact-
    substring span removal (Lee et al. 2022) over the surviving
    corpus — boilerplate spans shared by >= 2 cleaned docs are
    rewritten away, first occurrence kept. Each stage is
    individually gated; the compose moves document bodies twice
    total (once into the mask projection, once into the in-row
    rebuild) and every pairwise structure is bucket- or
    vocabulary-bounded. Returns (doc_id, text_clean, n_tokens,
    n_removed) over the cleaned corpus.

    The cleaned intermediate is pinned with an EAGER RDD-level
    localCheckpoint (r16): dup_span_removed references its input
    TWICE (occurrence explode + rebuild join), so unpinned the
    ENTIRE clean_corpus pipeline — contamination, cluster
    resolution, quality rules, mask — executed twice per run. Eager,
    not lazy: the two referencing map stages launch CONCURRENTLY, so
    a lazy pin races its own materialization and shares little
    (three-arm interleaved A/B at sf0.1, build+exec timed: unpinned
    6.22 / lazy 5.83 / eager 5.59 s — wall deltas are modest on an
    idle 32-core box where the duplicate subtree overlaps, but the
    eager pin halves the pipeline's CPU, which is the resource that
    matters on a saturated cluster). Not .persist(): the
    CacheManager registration would substitute into other queries'
    plans and leak without an explicit unpersist. At corpus scale
    this is the guide's decide-small/move-once discipline: write the
    cleaned corpus once, then scrub it."""
    cleaned = (
        clean_corpus_docs(spark, sf)
        .select("doc_id", "text_masked")
        .localCheckpoint(eager=True)
    )
    return dedup.dup_span_removed(
        cleaned, n=4, min_docs=2, text_col="text_masked"
    )


def _logreg_lanes_sql() -> tuple[str, str]:
    """(lane_sql, z) for the pinned quality model — shared by the
    score oracle and the trained-gate curation oracle."""
    from mirabelle_spark.pipeline.logreg_quality_trained import (
        TRAIN_DIM, TRAINED_LOGREG_B, TRAINED_LOGREG_W,
    )

    lanes = []
    for b in range(TRAIN_DIM):
        lanes.append(
            f"CASE WHEN n > 0 THEN CAST(len(list_filter(w, x -> "
            f"('0x' || substr(md5(x), 1, 15))::BIGINT % {TRAIN_DIM} = {b}"
            f")) AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0.0 END AS x{b}"
        )
    lanes.append(
        "CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) + 100.0) AS "
        f"x{TRAIN_DIM}"
    )
    lanes.append(f"mwl AS x{TRAIN_DIM + 1}")
    lanes.append(f"mwl * mwl AS x{TRAIN_DIM + 2}")
    lanes.append(f"af AS x{TRAIN_DIM + 3}")
    # string-cast literals: bare 16-digit decimals route through
    # DuckDB's int64-scaled DECIMAL and drift a ULP above 2^53
    # (see text._logit_expr) — '…'::DOUBLE is correctly-rounded
    # strtod in both engines
    z = f"CAST('{TRAINED_LOGREG_B!r}' AS DOUBLE)"
    for i, wv in enumerate(TRAINED_LOGREG_W):
        z = f"({z} + (CAST('{wv!r}' AS DOUBLE) * x{i}))"
    return ",\n       ".join(lanes), z


_LOGREG_FEATURE_CTES = """t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x != '') AS w
  FROM documents
),
m AS (
  SELECT doc_id, w, len(w) AS n,
         CASE WHEN len(w) > 0
              THEN CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS DOUBLE) / CAST(len(w) AS DOUBLE)
              ELSE 0.0 END AS mwl,
         CASE WHEN len(w) > 0
              THEN CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / CAST(len(w) AS DOUBLE)
              ELSE 0.0 END AS af
  FROM t
)"""


def _logreg_quality_oracle() -> str:
    """Exact SQL twin of quality_logreg_score under the PINNED
    trained weights: every feature lane is exact integer counts +
    single IEEE divisions/multiplications (no transcendental in the
    inference path), and the logit is the SAME left-associated
    literal fold the Spark side builds — bit-equal doubles, so the
    gate compares hash-exact."""
    lane_sql, z = _logreg_lanes_sql()
    return f"""
WITH {_LOGREG_FEATURE_CTES},
f AS (
  SELECT doc_id,
       {lane_sql}
  FROM m
)
SELECT doc_id, {z} AS quality_logit, ({z}) > 0 AS accepted FROM f
"""


def _curate_head_logreg_oracle() -> str:
    """Trained-gate curation: accepted docs (logit > 0 under the
    pinned model) → min-id exact dedup on normalized text → PII
    mask — curate_head(model=...)'s SQL twin."""
    lane_sql, z = _logreg_lanes_sql()
    return f"""
WITH {_LOGREG_FEATURE_CTES},
f AS (
  SELECT doc_id,
       {lane_sql}
  FROM m
),
acc AS (SELECT doc_id FROM f WHERE ({z}) > 0),
h AS (
  SELECT d.doc_id, d.text,
         trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')) AS nt
  FROM documents d JOIN acc USING (doc_id)
),
win AS (SELECT nt, min(doc_id) AS doc_id FROM h GROUP BY nt)
SELECT h.doc_id,
       regexp_replace(regexp_replace(h.text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
         '\\+?[0-9][0-9()\\-. ]{{7,}}[0-9]', '<PHONE>', 'g') AS text_masked
FROM h JOIN win USING (nt, doc_id)
"""


@q("curate_head_logreg_docs", _curate_head_logreg_oracle())
def curate_head_logreg_docs(spark, sf):
    """The curation head gated by the ENGINE-TRAINED quality model
    (r11) — the distillation migration path end to end: the pinned
    logistic classifier replaces the hard rule conjunction (still a
    stateless projection), then the same min-id exact dedup and PII
    mask as curate_head_docs. DSL: {"action": "curate", "params":
    [{"quality": "trained"}]}."""
    from mirabelle_spark.pipeline import sampling as smp
    from mirabelle_spark.pipeline.logreg_quality_trained import (
        TRAIN_DIM, TRAINED_LOGREG_B, TRAINED_LOGREG_W,
    )

    return smp.curate_head(
        docs(spark, sf),
        model=(TRAINED_LOGREG_W, TRAINED_LOGREG_B),
        dim=TRAIN_DIM,
    )


def _curate_head_dsir_oracle(thr: float) -> str:
    """Rules-gate curation with the trained DSIR DOMAIN gate
    between quality and dedup: the curate_head_docs CTE chain plus
    the dsir_logweight CTE chain, joined as a semi-filter."""
    from mirabelle_spark.pipeline.dsir_logratios_trained import (
        TRAIN_DIM, TRAINED_DSIR_W,
    )

    z = "CAST('0.0' AS DOUBLE)"
    for i, w in enumerate(TRAINED_DSIR_W):
        z = f"({z} + (CAST('{w!r}' AS DOUBLE) * cv[{i + 1}]))"
    return f"""
WITH t AS (SELECT doc_id, text, {_TOKENS_SQL} AS w FROM documents),
m AS (
  SELECT doc_id, text, len(w) AS n_words,
         CASE WHEN len(w) > 0
              THEN CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS DOUBLE) / len(w)
              ELSE 0.0 END AS mean_wl,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) AS alpha_words
  FROM t
),
good AS (
  SELECT doc_id, text FROM m
  WHERE n_words >= 30 AND n_words <= 100000
    AND mean_wl >= 3.0 AND mean_wl <= 10.0
    AND (CASE WHEN n_words > 0 THEN alpha_words / n_words >= 0.8 ELSE FALSE END)
),
db AS (
  SELECT doc_id,
         list_transform(list_filter(w, x -> x <> ''),
                        x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {TRAIN_DIM}) AS bk
  FROM t
),
dc AS (
  SELECT doc_id,
         list_transform(range(0, {TRAIN_DIM}),
                        bb -> CAST(len(list_filter(bk, v -> v = bb)) AS DOUBLE)) AS cv
  FROM db
),
dgate AS (SELECT doc_id FROM dc WHERE {z} >= CAST({thr!r} AS DOUBLE)),
h AS (
  SELECT g.doc_id, g.text,
         trim(regexp_replace(lower(g.text), '\\s+', ' ', 'g')) AS nt
  FROM good g JOIN dgate USING (doc_id)
),
win AS (SELECT nt, min(doc_id) AS doc_id FROM h GROUP BY nt)
SELECT h.doc_id,
       regexp_replace(regexp_replace(h.text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
         '\\+?[0-9][0-9()\\-. ]{{7,}}[0-9]', '<PHONE>', 'g') AS text_masked
FROM h JOIN win USING (nt, doc_id)
"""


@q("curate_head_dsir_docs", _curate_head_dsir_oracle(0.0))
def curate_head_dsir_docs(spark, sf):
    """The curation head with the trained DSIR DOMAIN gate (r11):
    quality rules → importance log-weight ≥ 0 (likelier under the
    target-domain token model than the raw one — DSIR's streaming-
    safe thresholded form) → min-id exact dedup → PII mask. DSL:
    {"action": "curate", "params": [{"rules": [...],
    "domain": "dsir"}]}; streaming twin via stream_curate(dsir=...).
    Both gates are stateless projections, so the compose still
    moves bodies once."""
    from mirabelle_spark.pipeline import sampling as smp
    from mirabelle_spark.pipeline.dsir_logratios_trained import (
        TRAINED_DSIR_W,
    )

    return smp.curate_head(
        docs(spark, sf),
        min_words=30,
        rules=("word_count_ok", "word_len_ok", "alpha_ok"),
        dsir=(TRAINED_DSIR_W, 0.0),
    )


# the CCNet gate threshold for the synthetic corpus: sf0.01 bits-per-
# token spans 4.85-5.41 with median 4.911, so 4.91 bits (perplexity
# 2^4.91 ≈ 30) keeps roughly the better-scoring half — a REAL split,
# not a pass-through
_LM_GATE_BPT = 4.91
_LM_GATE_T_E9 = round(_LM_GATE_BPT * 1_000_000_000)


def _lm_values() -> tuple[str, str, int]:
    """The pinned LM as SQL VALUES bodies: (bigram rows, unigram
    rows, oov cost) — shared by every LM oracle so the inlined
    artifact can never drift between them."""
    from mirabelle_spark.pipeline.bigram_lm_trained import (
        LM_BIGRAMS, LM_OOV_E9, LM_UNIGRAMS,
    )

    def esc(s: str) -> str:
        return s.replace("'", "''")

    bg = ",\n  ".join(
        f"('{esc(a)}','{esc(b)}',{v})" for a, b, v in LM_BIGRAMS
    )
    ug = ",\n  ".join(f"('{esc(w)}',{v})" for w, v in LM_UNIGRAMS)
    return bg, ug, LM_OOV_E9


_LM3_GATE_BPT = 8.57
_LM3_GATE_T_E9 = round(_LM3_GATE_BPT * 1_000_000_000)


def _lm3_values() -> tuple[str, str, str, int]:
    """The pinned TRIGRAM LM as SQL VALUES bodies: (trigram rows,
    bigram rows, unigram rows, oov cost) — shared by every lm3
    oracle so the inlined artifact can never drift between them."""
    from mirabelle_spark.pipeline.trigram_lm_trained import (
        LM3_BIGRAMS, LM3_OOV_E9, LM3_TRIGRAMS, LM3_UNIGRAMS,
    )

    def esc(s: str) -> str:
        return s.replace("'", "''")

    tg = ",\n  ".join(
        f"('{esc(a)}','{esc(b)}','{esc(c)}',{v})"
        for a, b, c, v in LM3_TRIGRAMS
    )
    bg = ",\n  ".join(
        f"('{esc(a)}','{esc(b)}',{v})" for a, b, v in LM3_BIGRAMS
    )
    ug = ",\n  ".join(f"('{esc(w)}',{v})" for w, v in LM3_UNIGRAMS)
    return tg, bg, ug, LM3_OOV_E9


def _curate_head_lm_oracle(t_e9: int, min_bigrams: int) -> str:
    """Rules-gate curation with the trained bigram-LM perplexity
    gate between quality and dedup: the curate_head_docs CTE chain
    plus the LM scoring CTEs (shared VALUES via _lm_values), joined
    as a semi-filter. Docs absent from the pair table have 0 <
    min_bigrams pairs, so the inner semi-join IS the gate."""
    bg, ug, oov = _lm_values()
    return f"""
WITH t AS (SELECT doc_id, text, {_TOKENS_SQL} AS w FROM documents),
m AS (
  SELECT doc_id, text, len(w) AS n_words,
         CASE WHEN len(w) > 0
              THEN CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS DOUBLE) / len(w)
              ELSE 0.0 END AS mean_wl,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) AS alpha_words
  FROM t
),
good AS (
  SELECT doc_id, text FROM m
  WHERE n_words >= 30 AND n_words <= 100000
    AND mean_wl >= 3.0 AND mean_wl <= 10.0
    AND (CASE WHEN n_words > 0 THEN alpha_words / n_words >= 0.8 ELSE FALSE END)
),
lw AS (SELECT doc_id, list_filter(w, x -> x <> '') AS w FROM t),
pr AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)), i -> w[i])) AS wa,
         unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS wb
  FROM lw WHERE len(w) >= 2
),
bg(ba, bb, cb) AS (VALUES
  {bg}),
ug(uw, cu) AS (VALUES
  {ug}),
costed AS (
  SELECT pr.doc_id, coalesce(bg.cb, ug.cu, {oov}) AS c
  FROM pr LEFT JOIN bg ON bg.ba = pr.wa AND bg.bb = pr.wb
          LEFT JOIN ug ON ug.uw = pr.wb
),
lgate AS (
  SELECT doc_id FROM costed GROUP BY doc_id
  HAVING count(*) >= {min_bigrams} AND sum(c) <= {t_e9} * count(*)
),
h AS (
  SELECT g.doc_id, g.text,
         trim(regexp_replace(lower(g.text), '\\s+', ' ', 'g')) AS nt
  FROM good g JOIN lgate USING (doc_id)
),
win AS (SELECT nt, min(doc_id) AS doc_id FROM h GROUP BY nt)
SELECT h.doc_id,
       regexp_replace(regexp_replace(h.text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
         '\\+?[0-9][0-9()\\-. ]{{7,}}[0-9]', '<PHONE>', 'g') AS text_masked
FROM h JOIN win USING (nt, doc_id)
"""


@q(
    "curate_head_lm_docs",
    _curate_head_lm_oracle(_LM_GATE_T_E9, 16),
)
def curate_head_lm_docs(spark, sf):
    """The curation head with the trained bigram-LM PERPLEXITY gate
    (r13) — the CCNet pipeline shape (Wenzek et al. 2020: quality →
    LM perplexity filter → dedup): Gopher rules → LM cost ≤ 4.91
    bits/token over ≥16 pairs (exact integer cross-multiplication
    against the pinned micro-bit model) → min-id exact dedup → PII
    mask. DSL: {"action": "curate", "params": [{"rules": [...],
    "perplexity": "trained2"}]} (r15: "trained" now defaults to the
    smoothed trigram gate; the bigram model is the opt-in
    "trained2"); streaming twin via stream_curate(lm_gate=...). r14: the batch head routes this
    962-entry model through the BROADCAST-JOIN scorer + left-semi
    (2.3× the fold here, PERF §82); the streaming twin keeps the
    row-local fold expression — the two are output-identical
    (strategy-parity pytest), so batch/stream parity holds as
    survivor-set equality. Bodies still move once."""
    from mirabelle_spark.pipeline import sampling as smp
    from mirabelle_spark.pipeline.bigram_lm_trained import TRAINED_LM

    return smp.curate_head(
        docs(spark, sf),
        min_words=30,
        rules=("word_count_ok", "word_len_ok", "alpha_ok"),
        lm_gate=(TRAINED_LM, _LM_GATE_BPT, 16),
    )


def _curate_head_lm3_oracle(t_e9: int, min_trigrams: int) -> str:
    """Rules-gate curation with the trained TRIGRAM perplexity gate
    (r14): the curate_head_docs CTE chain plus the lm3 scoring CTEs
    (shared VALUES via _lm3_values), joined as a semi-filter. Docs
    absent from the triple table have 0 < min_trigrams triples, so
    the inner semi-join IS the gate."""
    tg, bg, ug, oov = _lm3_values()
    return f"""
WITH t AS (SELECT doc_id, text, {_TOKENS_SQL} AS w FROM documents),
m AS (
  SELECT doc_id, text, len(w) AS n_words,
         CASE WHEN len(w) > 0
              THEN CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS DOUBLE) / len(w)
              ELSE 0.0 END AS mean_wl,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) AS alpha_words
  FROM t
),
good AS (
  SELECT doc_id, text FROM m
  WHERE n_words >= 30 AND n_words <= 100000
    AND mean_wl >= 3.0 AND mean_wl <= 10.0
    AND (CASE WHEN n_words > 0 THEN alpha_words / n_words >= 0.8 ELSE FALSE END)
),
lw AS (SELECT doc_id, list_filter(w, x -> x <> '') AS w FROM t),
tr AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w) - 1), i -> w[i])) AS wa,
         unnest(list_transform(range(1, len(w) - 1), i -> w[i+1])) AS wb,
         unnest(list_transform(range(1, len(w) - 1), i -> w[i+2])) AS wc
  FROM lw WHERE len(w) >= 3
),
tg(ta, tb, tc, ct) AS (VALUES
  {tg}),
bg(ba, bb, cb) AS (VALUES
  {bg}),
ug(uw, cu) AS (VALUES
  {ug}),
costed AS (
  SELECT tr.doc_id, coalesce(tg.ct, bg.cb, ug.cu, {oov}) AS c
  FROM tr LEFT JOIN tg ON tg.ta = tr.wa AND tg.tb = tr.wb AND tg.tc = tr.wc
          LEFT JOIN bg ON bg.ba = tr.wb AND bg.bb = tr.wc
          LEFT JOIN ug ON ug.uw = tr.wc
),
lgate AS (
  SELECT doc_id FROM costed GROUP BY doc_id
  HAVING count(*) >= {min_trigrams} AND sum(c) <= {t_e9} * count(*)
),
h AS (
  SELECT g.doc_id, g.text,
         trim(regexp_replace(lower(g.text), '\\s+', ' ', 'g')) AS nt
  FROM good g JOIN lgate USING (doc_id)
),
win AS (SELECT nt, min(doc_id) AS doc_id FROM h GROUP BY nt)
SELECT h.doc_id,
       regexp_replace(regexp_replace(h.text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
         '\\+?[0-9][0-9()\\-. ]{{7,}}[0-9]', '<PHONE>', 'g') AS text_masked
FROM h JOIN win USING (nt, doc_id)
"""


@q(
    "curate_head_lm3_docs",
    _curate_head_lm3_oracle(_LM3_GATE_T_E9, 16),
)
def curate_head_lm3_docs(spark, sf):
    """The curation head with the trained TRIGRAM perplexity gate
    (r14) — the CCNet pipeline shape with the smoothed trigram
    artifact (no zero-cost spam loophole): Gopher rules → lm3 cost
    ≤ 8.57 bits/token over ≥16 triples (broadcast-join scorer +
    left-semi on ids — a trigram model is always past the fold
    crossover) → min-id exact dedup → PII mask. DSL: {"action":
    "curate", "params": [{"rules": [...], "perplexity":
    "trained3"}]} — also the {"perplexity": "trained"} DEFAULT
    since r15 (the unsmoothed bigram gate is the opt-in
    "trained2"); streaming twin via stream_curate(lm3_gate=...)
    — the row-local lm3_gate_expr fold, output-identical to this
    join path (parity pytest)."""
    from mirabelle_spark.pipeline import sampling as smp
    from mirabelle_spark.pipeline.trigram_lm_trained import TRAINED_LM3

    return smp.curate_head(
        docs(spark, sf),
        min_words=30,
        rules=("word_count_ok", "word_len_ok", "alpha_ok"),
        lm3_gate=(TRAINED_LM3, _LM3_GATE_BPT, 16),
    )


@q("logreg_quality_docs", _logreg_quality_oracle())
def logreg_quality_docs(spark, sf):
    """ENGINE-TRAINED quality classifier inference (r11) — the
    trained-weights story linear_quality_docs' placeholder promises,
    made real: logistic regression over 16 hashed-bucket token-
    frequency lanes + 4 dense lanes (rational length squash, mean
    word length and its square, alpha fraction), trained by the
    engine's own relational full-batch GD (train_quality_logreg:
    one aggregate job per step, decimal-exact gradient sums,
    bit-reproducible under repartitioning), weak-labeled by the
    clean-corpus Gopher subset — the fastText/CCNet distillation
    pattern. Weights pinned in logreg_quality_trained (regeneration
    byte-pin like the IVF/PQ/PCA/BPE artifacts). Inference is one
    shuffle-free projection; the logit is a left-associated literal
    dot with no transcendental, so the DuckDB oracle is bit-exact.
    Train accuracy vs the weak labels: 0.988 (pytest floor 0.95)."""
    from mirabelle_spark.pipeline.logreg_quality_trained import (
        TRAIN_DIM, TRAINED_LOGREG_B, TRAINED_LOGREG_W,
    )

    return text.quality_logreg_score(
        docs(spark, sf), TRAINED_LOGREG_W, TRAINED_LOGREG_B, dim=TRAIN_DIM
    )


@q(
    "curate_head_docs",
    f"""
WITH t AS (SELECT doc_id, text, {_TOKENS_SQL} AS w FROM documents),
m AS (
  SELECT doc_id, text, len(w) AS n_words,
         CASE WHEN len(w) > 0
              THEN CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS DOUBLE) / len(w)
              ELSE 0.0 END AS mean_wl,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) AS alpha_words
  FROM t
),
good AS (
  SELECT doc_id, text FROM m
  WHERE n_words >= 30 AND n_words <= 100000
    AND mean_wl >= 3.0 AND mean_wl <= 10.0
    AND (CASE WHEN n_words > 0 THEN alpha_words / n_words >= 0.8 ELSE FALSE END)
),
h AS (
  SELECT doc_id, text,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
  FROM good
),
win AS (SELECT nt, min(doc_id) AS doc_id FROM h GROUP BY nt)
SELECT h.doc_id,
       regexp_replace(regexp_replace(h.text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
         '\\+?[0-9][0-9()\\-. ]{{7,}}[0-9]', '<PHONE>', 'g') AS text_masked
FROM h JOIN win USING (nt, doc_id)
""",
)
def curate_head_docs(spark, sf):
    """The curation HEAD as one DSL-exposed compose (r11): Gopher
    quality rules (word-count/word-length/alpha — the stopword rule
    is vacuous on this synthetic vocabulary, same subset as
    clean_corpus_docs) → exact dedup, deterministic min-id winner
    per normalized text → PII masking. This is the batch twin of
    streaming.core.stream_curate (parity pytest-pinned) and the
    `curate` DSL action; the larger clean_corpus/scrubbed_corpus
    composes add the batch-only near-dup/contamination stages.
    Bodies shuffle once (the winner join); dedup keys are 24-byte
    hash pairs."""
    from mirabelle_spark.pipeline import sampling as smp

    return smp.curate_head(
        docs(spark, sf),
        min_words=30,
        rules=("word_count_ok", "word_len_ok", "alpha_ok"),
    )


@q("dup_span_removed_docs", _dup_span_removed_oracle(n=4, min_docs=2))
def dup_span_removed_docs(spark, sf):
    """Exact-substring span REMOVAL (r10) — the corpus-rewrite step
    of Lee et al. 2022 (ExactSubstr) at word 4-gram grain: every
    token covered by a 4-gram shared by >= 2 docs is deleted except
    the globally-first occurrence, and each doc is rebuilt from its
    surviving tokens in one in-row pass (bodies never shuffle).
    Completes the dedup family: fraction (measure) -> winnowing
    (detect) -> this (remove). Reference parity: the C4-pipeline
    scrub SURVEY §2's M4 north star names."""
    return dedup.dup_span_removed(docs(spark, sf), n=4, min_docs=2)


@q(
    "dup_span_removed_char_docs",
    _dup_span_removed_oracle(n=20, min_docs=2, grain="char"),
)
def dup_span_removed_char_docs(spark, sf):
    """ExactSubstr span removal at CHARACTER grain (r11) — the
    byte-grain mode Lee et al. 2022's suffix-array tool actually
    runs (theirs thresholds at 50 bytes; 20 chars here keeps
    removal mass visible at test SF): every character covered by a
    20-char shingle shared by >= 2 docs is deleted except the
    globally-first occurrence, catching cross-word and sub-word
    duplicates the word-grain mode is blind to (code, templated
    HTML). Same zero-body-shuffle plan as dup_span_removed_docs;
    the occurrence explode is per-character, so the 100 TB run
    pairs this with gram_hash='fast' (8-byte shuffle keys)."""
    return dedup.dup_span_removed(
        docs(spark, sf), n=20, min_docs=2, grain="char"
    )


@q("dup_span_removed_prefilter_docs", _dup_span_removed_oracle(n=4, min_docs=2))
def dup_span_removed_prefilter_docs(spark, sf):
    """ExactSubstr span removal THROUGH the winnowing prefilter
    (r13, closing VERDICT r12 "What's wrong" #2): identical
    semantics — and identical ORACLE — to dup_span_removed_docs,
    but the per-token occurrence explode is restricted to documents
    sharing at least one winnow fingerprint (window prefilter_w=3,
    gram size k_f = n - w + 1 = 2). The MOSS guarantee makes the
    restriction exact, so the driver gate hashing this against the
    UNPREFILTERED SQL twin is the byte-identity proof the r12
    docstring claimed without a test. Economics: on this
    duplicate-heavy corpus the prefilter is overhead (PERF §74) —
    this entry exists for the parity record, not speed."""
    return dedup.dup_span_removed(
        docs(spark, sf), n=4, min_docs=2, prefilter_w=3
    )


@q(
    "dup_span_removed_char_prefilter_docs",
    _dup_span_removed_oracle(n=20, min_docs=2, grain="char"),
)
def dup_span_removed_char_prefilter_docs(spark, sf):
    """Char-grain ExactSubstr through the winnowing prefilter (r13)
    — same oracle as dup_span_removed_char_docs; prefilter_w=8
    (k_f = 13-char fingerprint grams, MOSS window 8) is the shape
    the 100 TB char-grain path would run where candidate
    selectivity is low. Gate-level byte-identity proof for the
    char grain."""
    return dedup.dup_span_removed(
        docs(spark, sf), n=20, min_docs=2, grain="char", prefilter_w=8
    )


@q("dup_span_removed_twophase_docs", _dup_span_removed_oracle(n=4, min_docs=2))
def dup_span_removed_twophase_docs(spark, sf):
    """ExactSubstr span removal through the TWO-PHASE detection
    (r13, closing VERDICT r12's perf_weak item): identical
    semantics — and identical ORACLE — to dup_span_removed_docs,
    but the duplicated-gram detection runs as a map-side-combining
    groupBy(gram) hash aggregate + occ⋈dup join instead of the
    one-crossing gram window. This is the skew-bounded plan for
    hot-gram grains (stopword word n<=3, short char n<=6), where
    the window plan's unbounded frame would buffer a 1e8-occurrence
    gram in one task; detect="auto" routes to it below the
    discriminative-grain thresholds. The driver hashing this
    against the same SQL twin as the window entry is the
    gate-level proof the two plans agree."""
    return dedup.dup_span_removed(
        docs(spark, sf), n=4, min_docs=2, detect="two_phase"
    )


def _lm_oracle(min_bigrams: int | None = None, t_e9: int | None = None) -> str:
    """Bigram-LM scoring in SQL: the same token canon, the same
    pinned integer micro-bit costs (inlined as VALUES tables the
    oracle LEFT JOINs where Spark folds constant maps in-row or
    broadcast-joins), the same bigram→unigram-backoff→OOV coalesce.
    Integer sums are order-free, so the join+GROUP BY here equals
    the in-row aggregate exactly."""
    bg, ug, LM_OOV_E9 = _lm_values()
    gate = (
        f"WHERE n_bigrams >= {min_bigrams} AND bits_e9 <= {t_e9} * n_bigrams"
        if min_bigrams is not None
        else ""
    )
    return f"""
WITH t AS (
  SELECT doc_id, list_filter({_TOKENS_SQL}, x -> x <> '') AS w
  FROM documents
),
pr AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)), i -> w[i])) AS wa,
         unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS wb
  FROM t WHERE len(w) >= 2
),
bg(ba, bb, cb) AS (VALUES
  {bg}),
ug(uw, cu) AS (VALUES
  {ug}),
costed AS (
  SELECT pr.doc_id, coalesce(bg.cb, ug.cu, {LM_OOV_E9}) AS c
  FROM pr LEFT JOIN bg ON bg.ba = pr.wa AND bg.bb = pr.wb
          LEFT JOIN ug ON ug.uw = pr.wb
),
s AS (SELECT doc_id, count(*) AS np, sum(c) AS bits FROM costed GROUP BY doc_id),
scored AS (
  SELECT d.doc_id, d.lang,
         CAST(coalesce(s.np, 0) AS BIGINT) AS n_bigrams,
         CAST(coalesce(s.bits, 0) AS BIGINT) AS bits_e9
  FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
)
SELECT doc_id, lang, n_bigrams, bits_e9 FROM scored {gate}
"""


@q("lm_bits_docs", _lm_oracle())
def lm_bits_docs(spark, sf):
    """Pruned-bigram-LM cost per document (r13) — the CCNet-style
    perplexity statistic (Wenzek et al. 2020 score web text with a
    pruned KenLM; bits_e9 / n_bigrams / 1e9 = bits-per-token,
    perplexity = 2^bpt) under the ENGINE-TRAINED pinned model
    (bigram_lm_trained: MLE bigrams + penalized unigram backoff +
    OOV floor, costs pinned as INTEGER micro-bits so the per-doc
    sum is exact and order-free). The 962-entry pinned model is
    over the fold/join crossover (map-literal access is a linear
    scan per probe, PERF §79), so strategy='auto' prices each pair
    via BROADCAST hash joins — the corpus never shuffles for the
    probe; one narrow-row re-aggregate — the logreg_quality
    lifecycle applied to language modeling."""
    from mirabelle_spark.pipeline.bigram_lm_trained import TRAINED_LM

    return lm.lm_bits(docs(spark, sf), TRAINED_LM, keep_cols=("lang",))


@q("lm_quality_docs", _lm_oracle(min_bigrams=16, t_e9=_LM_GATE_T_E9))
def lm_quality_docs(spark, sf):
    """The CCNet perplexity GATE (r13): documents with ≥16 token
    pairs whose LM cost is ≤ 4.91 bits/token (perplexity ≲ 30 under
    the pinned corpus model — the median split on this corpus).
    The threshold compare is exact integer cross-multiplication
    (bits_e9 ≤ t·1e9 · n_bigrams): no division, no float, so the
    survivor set is bit-stable across engines. Plan: same
    broadcast-probe shape as lm_bits_docs plus one filter."""
    from mirabelle_spark.pipeline.bigram_lm_trained import TRAINED_LM

    return lm.lm_quality(
        docs(spark, sf), TRAINED_LM, _LM_GATE_BPT,
        min_bigrams=16, keep_cols=("lang",),
    )


def _lm3_oracle(
    min_trigrams: int | None = None, t_e9: int | None = None
) -> str:
    """Trigram-LM scoring in SQL: the same token canon, the same
    pinned integer micro-bit costs (VALUES tables the oracle LEFT
    JOINs three levels deep where Spark broadcast-joins), the same
    trigram→bigram-backoff→unigram-backoff→OOV coalesce. Integer
    sums are order-free, so the join+GROUP BY equals Spark's
    re-aggregate exactly."""
    tg, bg, ug, oov = _lm3_values()
    gate = (
        f"WHERE n_trigrams >= {min_trigrams}"
        f" AND bits_e9 <= {t_e9} * n_trigrams"
        if min_trigrams is not None
        else ""
    )
    return f"""
WITH t AS (
  SELECT doc_id, list_filter({_TOKENS_SQL}, x -> x <> '') AS w
  FROM documents
),
tr AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w) - 1), i -> w[i])) AS wa,
         unnest(list_transform(range(1, len(w) - 1), i -> w[i+1])) AS wb,
         unnest(list_transform(range(1, len(w) - 1), i -> w[i+2])) AS wc
  FROM t WHERE len(w) >= 3
),
tg(ta, tb, tc, ct) AS (VALUES
  {tg}),
bg(ba, bb, cb) AS (VALUES
  {bg}),
ug(uw, cu) AS (VALUES
  {ug}),
costed AS (
  SELECT tr.doc_id, coalesce(tg.ct, bg.cb, ug.cu, {oov}) AS c
  FROM tr LEFT JOIN tg ON tg.ta = tr.wa AND tg.tb = tr.wb AND tg.tc = tr.wc
          LEFT JOIN bg ON bg.ba = tr.wb AND bg.bb = tr.wc
          LEFT JOIN ug ON ug.uw = tr.wc
),
s AS (SELECT doc_id, count(*) AS np, sum(c) AS bits FROM costed GROUP BY doc_id),
scored AS (
  SELECT d.doc_id, d.lang,
         CAST(coalesce(s.np, 0) AS BIGINT) AS n_trigrams,
         CAST(coalesce(s.bits, 0) AS BIGINT) AS bits_e9
  FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
)
SELECT doc_id, lang, n_trigrams, bits_e9 FROM scored {gate}
"""


@q("lm3_bits_docs", _lm3_oracle())
def lm3_bits_docs(spark, sf):
    """Pruned-TRIGRAM-LM cost per document (r14) — one backoff
    level closer to CCNet's pruned KenLM (Wenzek et al. 2020) than
    lm_bits_docs: trigram hit → bigram backoff on (b, c) → unigram
    backoff on c → OOV, all costs pinned INTEGER micro-bits from
    the engine-trained sf0.1 artifact (trigram_lm_trained, smoothed
    conditionals — strictly positive costs, no zero-cost spam
    loophole). Join strategy only: a trigram model is past the
    fold/join crossover by construction, so every probe is a
    BROADCAST hash join — the corpus never shuffles for the probe;
    one map-side-combining re-aggregate on doc_id."""
    from mirabelle_spark.pipeline import lm3
    from mirabelle_spark.pipeline.trigram_lm_trained import TRAINED_LM3

    return lm3.lm3_bits(docs(spark, sf), TRAINED_LM3, keep_cols=("lang",))


@q(
    "lm3_quality_docs",
    _lm3_oracle(min_trigrams=16, t_e9=_LM3_GATE_T_E9),
)
def lm3_quality_docs(spark, sf):
    """The TRIGRAM perplexity GATE (r14): documents with ≥16 token
    triples whose LM cost is ≤ 8.57 bits/token (the median split on
    this corpus under the pinned trigram model). Exact integer
    cross-multiplication (bits_e9 ≤ t·1e9 · n_trigrams) — no
    division, no float, survivor set bit-stable across engines; and
    because every pinned cost is strictly positive (smoothed
    conditionals), no degenerate repetitive document can score 0
    and slip through (the bigram gate's documented caveat, closed).
    Same broadcast-probe plan as lm3_bits_docs plus one filter."""
    from mirabelle_spark.pipeline import lm3
    from mirabelle_spark.pipeline.trigram_lm_trained import TRAINED_LM3

    return lm3.lm3_quality(
        docs(spark, sf), TRAINED_LM3, _LM3_GATE_BPT,
        min_trigrams=16, keep_cols=("lang",),
    )


@q(
    "vocab_cardinality_by_lang",
    f"""
WITH t AS (
  SELECT lang, unnest(list_filter({_TOKENS_SQL}, x -> x <> '')) AS tok
  FROM documents
)
SELECT lang,
       CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM t GROUP BY lang
""",
)
def vocab_cardinality_by_lang(spark, sf):
    """Vocabulary cardinality + token mass per language — the
    corpus-composition audit run before sizing a tokenizer. Gated
    exact (count_distinct: shuffle of (lang, token) pairs, vocab-
    bounded). At 100 TB swap the exact count for
    approx_count_distinct (HyperLogLog++, one pass, no distinct
    shuffle, ~2% default error) — the swap is a one-word change and
    tests/test_pipeline.py::test_vocab_cardinality_approx_within_5pct
    pins the approximation against this exact query."""
    from mirabelle_spark.pipeline.text import tokens

    t = docs(spark, sf).select(
        "lang",
        F.explode(
            F.filter(tokens(F.col("text")), lambda x: x != F.lit(""))
        ).alias("tok"),
    )
    return t.groupBy("lang").agg(
        F.count_distinct("tok").alias("vocab_size"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


@q(
    "corpus_datasheet",
    f"""
WITH t AS (
  SELECT doc_id, lang, n_chars,
         len(list_filter({_TOKENS_SQL}, x -> x <> '')) AS n_toks,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars,
       CAST(count(*) - count(DISTINCT nt) AS BIGINT) AS n_exact_dups,
       CAST(count(*) - count(DISTINCT nt) AS DOUBLE) / count(*) AS dup_fraction
FROM t
""",
)
def corpus_datasheet(spark, sf):
    """One-row corpus DATASHEET — the summary block every dataset
    release ships (Gebru et al., Datasheets for Datasets): doc /
    language / token / char counts, mean length, and the exact-dup
    fraction (1 − distinct normalized texts / docs). One scan, one
    aggregate; every value is exact integers or one IEEE division,
    hash-exact cross-engine. At 100 TB the count_distinct pair is
    the only shuffle — swap to approx_count_distinct the way
    vocab_cardinality_by_lang documents if ±2% is acceptable."""
    from mirabelle_spark.pipeline.dedup import normalized
    from mirabelle_spark.pipeline.text import tokens

    t = docs(spark, sf).select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.filter(tokens(F.col("text")), lambda x: x != F.lit(""))).alias(
            "n_toks"
        ),
        normalized(F.col("text")).alias("nt"),
    )
    n = F.count(F.lit(1))
    dups = (n - F.count_distinct("nt")).cast("bigint")
    return t.agg(
        n.cast("bigint").alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        (F.sum("n_chars").cast("double") / n.cast("double")).alias("mean_chars"),
        dups.alias("n_exact_dups"),
        (dups.cast("double") / n.cast("double")).alias("dup_fraction"),
    )
