"""Structured Streaming shell (SURVEY §2.8, M3).

The reference is a push engine driven by event time; Structured
Streaming preserves its semantics because the clock is the event
column, not arrival: the per-operator ``:delay`` lateness tolerance
(action.clj:2420-2432) IS ``withWatermark``, tumbling
``fixed-time-window``/aggregations ARE ``groupBy(window(...))``, and
per-key operator state IS the keyed state store.

Batch/stream parity contract: every function here produces the same
rows as its batch twin over the same finite input when run with an
``availableNow`` trigger (asserted in tests/test_streaming.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mirabelle_spark.conditions import compile_condition
from mirabelle_spark.operators.aggregations import DEC


def file_source(
    spark: SparkSession, path: str, schema: str, fmt: str = "json"
) -> DataFrame:
    """File-drop ingest (the streaming analog of the reference's
    HTTP push endpoint, handler.clj:51-58): new files under ``path``
    become micro-batches."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def rate_source(spark: SparkSession, rows_per_sec: int = 100) -> DataFrame:
    """Synthetic load source for soak tests (transport/tcp.clj's
    role in dev)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_sec)
        .load()
        .select(
            F.col("timestamp").alias("time"),
            (F.col("value") % 100).cast("double").alias("metric"),
            F.concat(F.lit("host-"), (F.col("value") % 5)).alias("host"),
        )
    )


def stream_fixed_time_window(
    df: DataFrame,
    duration_s: float,
    delay_s: float = 0.0,
    by: Sequence[str] = (),
    time_col: str = "time",
) -> DataFrame:
    """Streaming ``fixed-time-window``: tumbling event-time window +
    watermark(:delay), emitting the event list per closed window."""
    src = df.withWatermark(time_col, f"{delay_s} seconds")
    w = F.window(F.col(time_col), f"{int(duration_s)} seconds")
    ev = F.struct(*[F.col(c) for c in df.columns])
    return (
        src.groupBy(*[F.col(c) for c in by], w.alias("__w__"))
        .agg(F.sort_array(F.collect_list(ev)).alias("events"))
        .withColumn("window_start", F.col("__w__.start").cast("double"))
        .drop("__w__")
    )


def stream_agg(
    df: DataFrame,
    kind: str,
    duration_s: float,
    delay_s: float = 0.0,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
) -> DataFrame:
    """Streaming twin of the aggregation* family (sum/mean/rate/
    count/max/min): watermarked tumbling-window aggregate. Uses the
    same DECIMAL accumulation as the batch twin so results match
    bit-for-bit."""
    src = df.withWatermark(time_col, f"{delay_s} seconds")
    w = F.window(F.col(time_col), f"{int(duration_s)} seconds")
    m = F.coalesce(F.col(metric_col), F.lit(0.0)).cast(DEC)
    exprs = {
        "sum": F.sum(m).cast("double"),
        "mean": F.sum(m).cast("double") / F.count(F.lit(1)),
        "rate": F.count(F.lit(1)) / F.lit(float(duration_s)),
        "count": F.count(F.lit(1)).cast("double"),
        "max": F.max(F.col(metric_col)),
        "min": F.min(F.col(metric_col)),
    }
    if kind not in exprs:
        raise ValueError(f"unsupported streaming aggregate {kind!r}")
    return (
        src.groupBy(*[F.col(c) for c in by], w.alias("__w__"))
        .agg(exprs[kind].alias("metric"))
        .withColumn("window_start", F.col("__w__.start").cast("double"))
        .drop("__w__")
    )


def _series_us(ts) -> "object":
    """pandas time Series → int64 numpy µs (exact integer time math,
    same rule as the batch twins)."""
    if str(ts.dtype).startswith("datetime64"):
        return ts.astype("int64").to_numpy() // 1_000
    return (ts.astype("float64") * 1_000_000).round().astype("int64").to_numpy()


def _native(v):
    """numpy scalar/array → python native for GroupState round-trips.

    Array-typed event columns (tags) arrive as ndarrays: ``.item()``
    only works on size-1 arrays, so sequences convert elementwise."""
    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and v != v):
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return [_native(x) for x in v]
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v.item() if hasattr(v, "item") else v


def stream_changed(
    df: DataFrame,
    fieldname: str,
    by: Sequence[str],
    time_col: str = "time",
    init=None,
    shards: int | None = None,
) -> DataFrame:
    """Streaming ``changed`` via keyed state: emits rows whose
    ``field`` differs (null-safe, matching the batch twin's
    eqNullSafe) from the previous row of the same key. ``init`` is
    the reference's :init — the value each key's first event is
    compared against (action.clj:334-360). The micro-batch compare
    is one vectorized shift — no per-row Python.

    Per key (``shards=None``) the state is the field's own Spark
    type, so every field dtype works (decimal, date, array,
    interval). With ``shards=N`` the last value rides the shard's
    JSON carry map: only the per-key SEGMENT STARTS read it and
    segment ends write it, so the Python work is O(distinct keys in
    batch). Timestamp fields encode as isoformat (revived to
    pd.Timestamp for the compare), binary as hex; JSON-native types
    pass through. Other field dtypes raise a named error up front —
    use ``shards=None`` for those.
    """
    import numpy as np
    import pandas as pd

    dtype = dict(df.dtypes)[fieldname]
    if not shards:
        def batch_fn(s, pdf):
            (last,) = s
            vals = pdf[fieldname]
            prev = vals.shift(1)
            prev.iloc[0] = last
            same = (vals == prev) | (vals.isna() & prev.isna())
            out = pdf[~same.to_numpy(dtype=bool)]
            return (_native(vals.iloc[-1]),), out

        return _keyed_batch_scan(
            df, by, time_col, f"last {dtype}", (init,), batch_fn
        )

    is_ts = dtype in ("timestamp", "timestamp_ntz")
    is_bin = dtype == "binary"
    # exact simpleString names, not prefixes: 'int' as a prefix would
    # also admit 'interval day to second', whose timedelta then fails
    # at runtime inside json.dumps instead of this up-front error
    if not (is_ts or is_bin) and dtype not in (
        "string", "boolean", "double", "float", "tinyint",
        "smallint", "int", "bigint", "long",
    ):
        raise NotImplementedError(
            f"stream_changed(shards=...) cannot JSON-carry field dtype "
            f"{dtype!r}; use shards=None (typed per-key state)"
        )

    def enc(v):
        v = _native(v.isoformat() if is_ts and v is not None and v == v else v)
        if is_bin and v is not None:
            return bytes(v).hex()
        return v

    def dec(v):
        if v is None:
            return None
        if is_ts:
            return pd.Timestamp(v)
        if is_bin:
            return bytes.fromhex(v)
        return v

    def fold(carry, ks, pdf):
        n = len(pdf)
        vals = pdf[fieldname]
        prev = vals.shift(1)
        ks_arr = np.array(ks, dtype=object)
        starts = np.flatnonzero(
            np.concatenate(([True], ks_arr[1:] != ks_arr[:-1]))
        )
        start_keys = ks_arr[starts].tolist()
        # ONE positional gather/scatter per batch — per-element .iloc
        # writes cost more than the whole fold at 1-row segments
        prev.iloc[starts] = [dec(carry.get(k, enc(init))) for k in start_keys]
        same = (vals == prev) | (vals.isna() & prev.isna())
        ends = np.concatenate((starts[1:] - 1, [n - 1]))
        for k, v in zip(start_keys, vals.iloc[ends].tolist()):
            carry[k] = enc(v)
        return pdf[~same.to_numpy(dtype=bool)]

    return _keyed_fold_scan(df, by, time_col, shards, fold)


def stream_changed_jvm_run(
    df: DataFrame,
    fieldname: str,
    by: Sequence[str],
    work_dir: str,
    time_col: str = "time",
    init=None,
    out_writer=None,
    query_name: str = "changed_jvm",
    trigger: dict | None = None,
    n_buckets: int = 64,
    compact_every: int = 16,
    prune_reads: bool = False,
):
    """Pure-JVM per-event ``changed`` (VERDICT r8 ask #6 experiment):
    zero Python on the data path, per-event emission grain.

    Why this is a ``foreachBatch`` TERMINAL op and not an in-pipeline
    transformation: per-event ``changed`` needs each row's
    predecessor within (key, time) order. On a streaming DataFrame
    Spark rejects analytic window functions (``lag``), and the
    in-pipeline stateful surfaces available to PySpark
    (applyInPandasWithState / transformWithStateInPandas) are
    Python-priced by construction. Inside ``foreachBatch`` the
    micro-batch is a plain DataFrame, so the whole recurrence stays
    JVM-side:

    - within-batch predecessor: ``lag(struct(field))`` over
      ``partitionBy(by).orderBy(time)``;
    - cross-batch predecessor: left join against a parquet
      last-value table keyed on ``by`` (one struct row per key),
      consulted only where ``lag`` returned null (first row of the
      key in this batch);
    - first event ever: compared against ``init`` (null-safe),
      action.clj:334-360;
    - state update: ``max_by(struct(field), time)`` per key in the
      batch, written as an LSM-STYLE DELTA — a version dir holding
      ONLY this batch's keys (O(batch) rows) — with a full
      compaction into a ``pmod(xxhash64(keys), n_buckets)``-
      partitioned base every ``compact_every`` batches. Per-batch
      state WRITE cost is O(batch keys) + O(total keys)/
      compact_every amortized, not O(total distinct keys) every
      batch (the r9-verdict scale finding: at 100M+ keys a
      full-table rewrite per batch dwarfs any batch). The state
      READ per batch resolves base ∪ deltas by newest version —
      a bounded union of <= compact_every+1 dirs. (A per-batch
      bucket-granular overwrite — the verdict's sketch — was
      measured first and REJECTED: 1k random keys touch ~all
      buckets, so each batch paid ~1000 file creates/reads; 16.6 s
      vs 1.8 s per batch at 100k keys. Deltas write one dir of
      O(batch) rows instead. ``compact_every=1`` reproduces the r9
      full-rewrite behavior for benchmarking.)

    Replay-idempotent and crash-atomic (r9 ADVICE): each batch
    writes its version dir (``state/b<batch_id>``) and then
    publishes a MANIFEST (``state/manifest_b<batch_id>.json``,
    tmp+rename, written LAST) listing the current base and delta
    dirs in order. A replayed micro-batch (batch_id <= the newest
    manifest: the crash-after-commit-log-gap case) re-emits from
    the PRE-batch manifest — so genuinely-changed first-of-key
    rows are not suppressed by already-advanced state — and skips
    the state write; a crash BEFORE the manifest rename leaves the
    previous manifest authoritative and the half-written version
    dir is simply overwritten on retry. State is exactly-once;
    emission through ``out_writer`` is at-least-once (standard
    foreachBatch sink semantics). The last two manifests and the
    version dirs they reference are retained; older ones are GC'd
    per batch.

    The trade vs :func:`stream_changed` / the sharded tier: a
    foreachBatch sink cannot feed further stream operators directly
    (compose via ``reinject!``/a topic dir if needed), ties on
    ``time_col`` within a key order arbitrarily (the apws twins keep
    arrival order), and each batch pays one keyed shuffle + a
    bucket-pruned state read/merge/write. ``out_writer(df,
    batch_id)`` receives each batch's emitted rows (default: noop
    write — bench shape). Returns the started StreamingQuery."""
    import json as _json
    import os as _os
    import shutil as _sh

    from pyspark.sql.window import Window as _W

    spark = df.sparkSession
    key_cols = list(by)
    ftype = dict(df.dtypes)[fieldname]
    state_root = _os.path.join(work_dir, "state")
    bkt = F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).cast("int")

    def _manifest_ids():
        try:
            names = _os.listdir(state_root)
        except FileNotFoundError:
            return []
        return sorted(
            int(m[len("manifest_b"):-len(".json")])
            for m in names
            if m.startswith("manifest_b") and m.endswith(".json")
        )

    def _manifest_path(mid):
        return _os.path.join(state_root, f"manifest_b{mid}.json")

    def _load_manifest(mid):
        with open(_manifest_path(mid)) as f:
            return _json.load(f)

    def _read_state(man, touched=None):
        """Resolve base ∪ deltas to one row per key (newest wins).
        Bounded: <= compact_every+1 dirs; deltas are O(their batch).
        ``touched`` (bucket ids) PRUNES the base read to those
        partitions — the emission join only needs state for the
        batch's own keys, so a key-local batch reads a key-local
        slice of the base (deltas are O(batch), always read whole);
        compaction passes None for the full table."""
        dirs = ([man["base"]] if man.get("base") else []) + man.get("deltas", [])
        if not dirs:
            return None
        parts = []
        for i, d in enumerate(dirs):
            p = spark.read.parquet(d)
            if touched is not None and d == man.get("base"):
                p = p.filter(F.col("__bkt__").isin(touched))
            parts.append(
                p.select(*key_cols, "__lv__").withColumn("__seq__", F.lit(i))
            )
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        if len(parts) == 1:
            return u.drop("__seq__")
        return u.groupBy(*key_cols).agg(
            F.max_by("__lv__", "__seq__").alias("__lv__")
        )

    def _emit_noop(out, _bid):
        out.write.format("noop").mode("overwrite").save()

    writer = out_writer or _emit_noop

    def handle(batch, batch_id):
        if batch.isEmpty():
            return
        ids = _manifest_ids()
        replay = bool(ids) and batch_id <= ids[-1]
        # pre-batch state: on replay, the newest manifest BELOW this
        # batch (its own manifest reflects post-batch state)
        pre_ids = [i for i in ids if i < batch_id] if replay else ids
        pre = _load_manifest(pre_ids[-1]) if pre_ids else {"base": None, "deltas": []}
        # prune_reads: one bounded driver action (<= n_buckets ints)
        # buys a bucket-pruned emission-side base read. Net WIN only
        # when the pruned slice out-saves the extra job — large
        # bases on remote storage with key-local batches; measured a
        # net LOSS at local scale (+0.5 s/batch collect vs ~0 read
        # savings at 1M keys, PERF §60), hence default off.
        touched = None
        if prune_reads:
            touched = [
                r["__tb__"]
                for r in batch.select(bkt.alias("__tb__")).distinct().collect()
            ]
        st = _read_state(pre, touched=touched)

        w = _W.partitionBy(*key_cols).orderBy(time_col)
        e = batch.withColumn(
            "__pv__", F.lag(F.struct(F.col(fieldname).alias("v"))).over(w)
        )
        if st is not None:
            e = e.join(st.withColumnRenamed("__lv__", "__sv__"), key_cols, "left")
        else:
            e = e.withColumn("__sv__", F.lit(None).cast(f"struct<v:{ftype}>"))
        prev = F.coalesce(F.col("__pv__"), F.col("__sv__"))
        prev_v = F.when(prev.isNull(), F.lit(init).cast(ftype)).otherwise(
            prev["v"]
        )
        out = e.filter(~prev_v.eqNullSafe(F.col(fieldname))).drop(
            "__pv__", "__sv__"
        )
        writer(out, batch_id)
        if replay:
            return  # state already reflects this batch

        last = batch.groupBy(*key_cols).agg(
            F.max_by(
                F.struct(F.col(fieldname).alias("v")), F.col(time_col)
            ).alias("__lv__")
        )
        vdir = _os.path.join(state_root, f"b{batch_id}")
        compact = st is None or len(pre["deltas"]) + 1 >= compact_every
        if compact:
            # compaction rewrites EVERY key: unpruned state read
            st = _read_state(pre)
            if st is not None:
                merged = st.alias("s").join(
                    last.alias("l"), key_cols, "full_outer"
                ).select(
                    *[
                        F.coalesce(F.col(f"l.{c}"), F.col(f"s.{c}")).alias(c)
                        for c in key_cols
                    ],
                    F.coalesce(F.col("l.__lv__"), F.col("s.__lv__")).alias(
                        "__lv__"
                    ),
                )
            else:
                merged = last
            merged.withColumn("__bkt__", bkt).write.mode(
                "overwrite"
            ).partitionBy("__bkt__").parquet(vdir)
            man = {"batch_id": batch_id, "base": vdir, "deltas": []}
        else:
            last.write.mode("overwrite").parquet(vdir)
            man = {
                "batch_id": batch_id,
                "base": pre["base"],
                "deltas": pre["deltas"] + [vdir],
            }
        tmp = _manifest_path(batch_id) + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(man, f)
        _os.rename(tmp, _manifest_path(batch_id))  # the commit point

        # GC: keep the last two manifests + every version dir they
        # reference (replay depth after a crash is one batch)
        ids2 = _manifest_ids()
        kept, dropped = ids2[-2:], ids2[:-2]
        referenced = set()
        for mid in kept:
            m = _load_manifest(mid)
            for p in ([m["base"]] if m.get("base") else []) + m.get("deltas", []):
                referenced.add(_os.path.basename(p))
        for mid in dropped:
            _os.remove(_manifest_path(mid))
        for d in _os.listdir(state_root):
            if d.startswith("b") and d[1:].isdigit() and d not in referenced:
                _sh.rmtree(_os.path.join(state_root, d), ignore_errors=True)

    wq = (
        df.writeStream.queryName(query_name)
        .foreachBatch(handle)
        .option("checkpointLocation", _os.path.join(work_dir, "ck"))
    )
    wq = wq.trigger(**(trigger or {"availableNow": True}))
    return wq.start()


def stream_dedup(
    df: DataFrame,
    keys: Sequence[str],
    time_col: str = "time",
    within_s: float | None = None,
) -> DataFrame:
    """Streaming exact dedup: state-backed dropDuplicates; bounded
    state with ``dropDuplicatesWithinWatermark`` when a horizon is
    given (the 100 TB-safe mode)."""
    if within_s is not None:
        return df.withWatermark(time_col, f"{int(within_s)} seconds")\
                 .dropDuplicatesWithinWatermark(list(keys))
    return df.dropDuplicates(list(keys))


def stream_curate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    time_col: str | None = None,
    dedup_within_s: float | None = None,
    min_words: int = 50,
    rules: tuple[str, ...] = ("passes",),
    model: tuple[list[float], float] | None = None,
    dim: int = 16,
    dsir: tuple[list[float], float] | None = None,
    lm_gate: tuple[dict, float, int] | None = None,
    lm3_gate: tuple[dict, float, int] | None = None,
    contamination: tuple[list[int], int, int, int, int] | None = None,
    neardup: bool = False,
    neardup_bands: int = 8,
    neardup_hashes: int = 64,
    neardup_shingle_n: int = 3,
    neardup_shards: int = 64,
) -> DataFrame:
    """Streaming twin of the LLM-curation head (r11; near-dup r13):
    Gopher quality rules → exact dedup on the normalized-text hash
    (→ optional NEAR-dup dedup) → PII masking, composed over a
    streaming (or batch — same code) DataFrame.

    Stage shapes:

    - quality: :func:`~mirabelle_spark.pipeline.text.gopher_rules`
      is a pure projection (no shuffle) — stateless in a stream; the
      SAME Column expressions as the batch gate query, so parity is
      structural, not re-implemented.
    - dedup: batch ``dedup_exact``'s groupBy+min(id) winner is not
      expressible incrementally; the stream keeps the FIRST ARRIVAL
      per (xxhash64, md5) of the normalized text via state-backed
      ``dropDuplicates`` — ``dropDuplicatesWithinWatermark`` bounds
      the state when ``time_col`` + ``dedup_within_s`` are given
      (the 100 TB mode: state holds the horizon's 24-byte hash
      pairs, never document bodies). The min(id)-vs-first-arrival
      divergence is arrival order only; an id-ordered replay is
      bit-equal to batch (pytest-pinned).
    - masking: :func:`~mirabelle_spark.pipeline.sampling.mask_pii`
      is two regexp_replace passes — stateless.

    ``neardup=True`` (r13) adds incremental NEAR-duplicate dedup via
    :func:`stream_neardup_dedup`: banded-MinHash first-arrival
    survivors, state = 64-bit band hashes on the ``dedup_within_s``
    horizon, never bodies. In this mode the near-dup pass ABSORBS
    exact dedup (an exact-slot band on the full text hash) because
    its flatMapGroupsWithState stage cannot legally follow the
    dropDuplicates stage — semantics are exact ∪ near dedup either
    way (parity pytest-pinned against the batch compose).
    ``rules`` selects which gopher_rules boolean columns must all
    hold; ``model=(weights, bias)`` swaps the rule gate for a
    TRAINED quality classifier — still a stateless projection (see
    :func:`~mirabelle_spark.pipeline.sampling.curate_head`, the
    deterministic batch twin); ``dsir=(weights, min_logw)`` adds
    the trained DOMAIN gate after quality (importance log-weight ≥
    threshold — DSIR's streaming-safe form, since top-k is not
    incremental), also stateless;
    ``lm_gate=(model, max_bits_per_token, min_bigrams)`` adds the
    CCNet perplexity gate (r13) — the row-local fold form of
    :func:`mirabelle_spark.pipeline.lm.lm_gate_expr`, integer-exact
    and stateless, the same expression the batch head applies.

    ``lm3_gate=(model, max_bits_per_token, min_trigrams)`` (r14)
    swaps in the TRIGRAM gate: :func:`mirabelle_spark.pipeline.lm3.
    lm3_gate_expr`, the row-local fold form — bit-equal to the
    batch head's lm3_quality join (parity pytest), priced
    measured-slower and used here only because a streaming
    projection cannot join. Mutually exclusive with ``lm_gate``.

    ``contamination=(bloom_words, m_bits, k, shingle_n,
    min_shared)`` (r14, closing VERDICT r13 "What's missing #1")
    adds streaming DECONTAMINATION ahead of the LM gates (cheapest
    row filter first; all gates are pure filters so order is
    output-neutral):
    :func:`~mirabelle_spark.pipeline.sampling.
    contamination_gate_expr` drops any document with ≥ min_shared
    distinct shingle hashes the benchmark Bloom filter cannot rule
    out. The words come from a one-off batch
    :func:`~mirabelle_spark.pipeline.sampling.benchmark_bloom`
    distillation and ride the plan as a foldable literal — a
    STATELESS projection over driver-held bigints, which is exactly
    what a streaming gate can evaluate (the reference's analog:
    pinned condition predicates applied at the websocket edge,
    transport/websocket.clj:47-60). Bloom ⇒ no false negatives:
    every document the batch head's exact-confirm join would drop
    is dropped here too (streaming survivors ⊆ batch survivors);
    the only divergence is over-dropping at the designed
    false-positive rate (≤ C(s, min_shared)·fpr^min_shared per
    clean doc — see contamination_gate_expr's bound; the batch
    head's exact-confirm join remains the lossless offline path).
    Returns (id_col, [time_col], text_masked)."""
    from functools import reduce
    from operator import and_

    from mirabelle_spark.pipeline.dedup import normalized
    from mirabelle_spark.pipeline.sampling import mask_pii
    from mirabelle_spark.pipeline.text import gopher_rules, quality_gate_expr

    # precondition, validated before any gate is built (ADVICE r14:
    # the check used to sit inside the lm3 branch, after the lm
    # branch had already shaped the plan)
    if lm_gate is not None and lm3_gate is not None:
        raise ValueError("pass lm_gate or lm3_gate, not both")
    if model is not None:
        w, b = model
        passed = df.filter(
            quality_gate_expr(w, b, dim=dim, text_col=text_col) > 0
        )
    else:
        passed = (
            gopher_rules(df, text_col=text_col, min_words=min_words)
            .filter(reduce(and_, [F.col(r) for r in rules]))
            .select(*df.columns)
        )
    if dsir is not None:
        from mirabelle_spark.pipeline.sampling import dsir_gate_expr

        dw, thr = dsir
        passed = passed.filter(
            dsir_gate_expr(dw, text_col=text_col) >= F.lit(float(thr))
        )
    if contamination is not None:
        # streaming decontamination (r14): the Bloom membership test
        # is a stateless expression over driver-held bigints — the
        # benchmark never joins the stream; see the docstring's
        # no-false-negative / bounded-over-drop contract. Applied
        # BEFORE the LM gates — cheapest row filter first; order is
        # output-neutral (all pure filters), the fold-scan LM work
        # saved is proportional to the drop rate (r14 review)
        from mirabelle_spark.pipeline.sampling import contamination_gate_expr

        bwords, m_bits, bk, sh_n, min_sh = contamination
        passed = passed.filter(
            contamination_gate_expr(
                bwords, m_bits, k=bk, shingle_n=sh_n,
                min_shared=min_sh, text_col=text_col,
            )
        )
    if lm_gate is not None:
        # the CCNet perplexity gate (r13): lm_gate_expr is the FOLD
        # cost expression — row-local, stateless, no join — so it
        # composes into the stream exactly like the quality/domain
        # gates; the batch head applies the IDENTICAL expression
        # (structural parity, not re-implementation)
        from mirabelle_spark.pipeline.lm import lm_gate_expr

        lmodel, max_bpt, min_bg = lm_gate
        passed = passed.filter(
            lm_gate_expr(lmodel, max_bpt, min_bg, text_col=text_col)
        )
    if lm3_gate is not None:
        # the TRIGRAM perplexity gate (r14): a streaming projection
        # cannot join, so this is lm3_gate_expr — the row-local fold
        # form, bit-equal to the batch head's lm3_quality join path
        # (parity pytest) and priced as measured-slower (its
        # docstring); batch pipelines use the join
        from mirabelle_spark.pipeline.lm3 import lm3_gate_expr

        l3model, max_bpt3, min_tg = lm3_gate
        passed = passed.filter(
            lm3_gate_expr(l3model, max_bpt3, min_tg, text_col=text_col)
        )
    norm = normalized(F.col(text_col))
    hashed = passed.select(
        "*", F.xxhash64(norm).alias("__h64__"), F.md5(norm).alias("__h128__")
    )
    if dedup_within_s is not None and time_col is not None:
        uniq = hashed.withWatermark(
            time_col, f"{int(dedup_within_s)} seconds"
        ).dropDuplicatesWithinWatermark(["__h64__", "__h128__"])
    else:
        uniq = hashed.dropDuplicates(["__h64__", "__h128__"])
    keep = [id_col] + ([time_col] if time_col else [])
    if neardup:
        if time_col is None:
            raise ValueError(
                "stream_curate(neardup=True) requires time_col (the "
                "band-hash state evicts on the event clock)"
            )
        # the near-dup scan ABSORBS exact dedup (an extra exact-slot
        # band keyed on the full normalized-text hash), so the
        # dropDuplicates stage above is replaced, not chained —
        # flatMapGroupsWithState cannot follow another stateful
        # operator, and one state store beats two anyway
        base = passed.select(*df.columns)
        base = stream_neardup_dedup(
            base,
            text_col=text_col,
            id_col=id_col,
            time_col=time_col,
            num_hashes=neardup_hashes,
            bands=neardup_bands,
            shingle_n=neardup_shingle_n,
            shards=neardup_shards,
            state_ttl_s=dedup_within_s,
            exact=True,
        )
        return mask_pii(base, text_col=text_col).select(*keep, "text_masked")
    return mask_pii(uniq, text_col=text_col).select(*keep, "text_masked")


def stream_neardup_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    time_col: str = "time",
    num_hashes: int = 64,
    bands: int = 8,
    shingle_n: int = 3,
    shingle_hash: str = "fast",
    shards: int = 64,
    state_ttl_s: float | None = None,
    exact: bool = False,
) -> DataFrame:
    """Streaming NEAR-duplicate dedup (r13, closing the r11/r12
    "streaming near-dup in the curation head" gap): first-arrival
    survivors under banded MinHash-LSH — a document is dropped iff
    ANY of its band buckets was seen earlier (by any earlier doc,
    kept or dropped — the transitive rule, which on an id-ordered
    replay equals the batch derivation "drop every id_b of
    :func:`~mirabelle_spark.pipeline.dedup.minhash_lsh_candidates`";
    parity pytest-pinned).

    Scale shape — state NEVER holds document bodies:

    1. :func:`~mirabelle_spark.pipeline.dedup.minhash_band_keys`
       computes the banded signature IN-ROW (stateless projection,
       zero shuffle, bucket-partition-identical to the batch LSH).
    2. posexplode to one narrow row per band; the ORIGINAL row rides
       as a struct on the pos-0 row only, so document bodies cross
       the two shuffles ~once, not ``bands`` times.
    3. ONE sharded keyed-state pass (the ewma-sharded shell:
       ``shards`` state groups, not one per band hash): state is a
       set of 64-bit band keys (+ last-seen event time for the
       ``state_ttl_s`` horizon eviction) — ~8 bytes per band key
       per horizon, never text. Emission is immediate (processing
       time), not watermark-gated: the verdict for a doc depends
       only on state already present when its batch runs.
    4. batch-local reassembly: repartition on the doc id (all of a
       doc's band rows sit in the same micro-batch), then a
       stateless mapInPandas keeps docs with zero duplicate bands
       and re-emits the carried original rows. Buffering = one
       partition of one micro-batch, not stream state.

    Within one micro-batch the winner of a new band bucket is the
    (event-time, arrival)-first row — deterministic under an
    ordered replay; across batches it is strict first arrival.
    DIVERGENCE vs batch: the batch near-dup family elects min(id)
    per cluster; this elects the first arrival (the exact-dedup
    stage's documented divergence, at band grain). On an id-ordered
    replay the two coincide.

    ``exact=True`` appends an exact-slot band (band_id = ``bands``,
    key = xxhash64 of the normalized text) so identical documents
    dedup even below ``shingle_n`` words — the
    :func:`stream_curate` mode, where this pass REPLACES the
    separate dropDuplicatesWithinWatermark stage (chaining a
    flatMapGroupsWithState after another stateful operator is
    unsupported, and one state store beats two). 64-bit keys accept
    a ~n²/2⁶⁵ false-drop collision risk, the ``gram_hash="fast"``
    convention. Docs shorter than ``shingle_n`` words with
    ``exact=False`` carry only the never-dup sentinel band and
    always survive (no signature ⇒ no LSH candidacy, the batch
    convention)."""
    from mirabelle_spark.pipeline.dedup import minhash_band_keys, normalized

    bk = minhash_band_keys(
        df, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        bands=bands, shingle_n=shingle_n, shingle_hash=shingle_hash,
    )
    arr = F.col("__bands__")
    if exact:
        exact_band = F.struct(
            F.lit(int(bands)).alias("band_id"),
            F.xxhash64(
                F.lit(int(bands)), normalized(F.col(text_col))
            ).alias("band_key"),
        )
        # the sentinel is redundant once every doc has the exact slot
        arr = F.concat(
            F.filter(arr, lambda b: b["band_id"] >= 0), F.array(exact_band)
        )
    return _stream_band_dedup(
        bk.withColumn("__bands__", arr), df, id_col, time_col, shards,
        state_ttl_s,
    )


def stream_image_neardup_dedup(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    time_col: str = "time",
    shards: int = 64,
    state_ttl_s: float | None = None,
) -> DataFrame:
    """Streaming IMAGE near-dup dedup (r16 — the perceptual-hash
    twin of :func:`stream_neardup_dedup`): first-arrival survivors
    at dHash band grain. A media row is dropped iff ANY of its four
    16-bit dHash bands (:func:`mirabelle_spark.pipeline.multimodal.
    image_dhash_band_col` — real netpbm decode, in-row, one Arrow
    pass) was seen earlier, by any earlier row, kept or dropped —
    the transitive any-band rule, which upper-bounds the batch
    pigeonhole candidacy (Hamming ≤ 3 implies a shared band, so
    every batch near-dup is caught; a lone-band collision with a
    far image can additionally drop — the same band-grain
    divergence the text twin documents). State = band keys + last
    event time, NEVER media bytes; undecodable media carries the
    never-dup sentinel and always survives. Same shell, same
    sharded state tier, same TTL semantics as the text twin; batch
    parity on an id-ordered replay is pytest-pinned."""
    from mirabelle_spark.pipeline.multimodal import image_dhash_band_col

    return _stream_band_dedup(
        image_dhash_band_col(df, media_col=media_col, id_col=id_col),
        df, id_col, time_col, shards, state_ttl_s,
    )


def _stream_band_dedup(
    bk: DataFrame,
    df: DataFrame,
    id_col: str,
    time_col: str,
    shards: int,
    state_ttl_s: float | None,
) -> DataFrame:
    """The shared keyed-state shell of the streaming near-dup twins
    (text MinHash bands, image dHash bands): posexplode the in-row
    ``__bands__`` struct array (original row rides the pos-0 row
    only), one sharded keyed-state pass marking band keys seen in
    any earlier batch (band_id < 0 = never-dup sentinel), then
    batch-local reassembly of zero-duplicate-band rows. ``bk`` must
    be ``df`` plus ``__bands__``; output schema == ``df``'s."""
    cols = list(df.columns)
    ex = (
        bk.select(
            F.col(id_col),
            F.col(time_col),
            F.struct(*[F.col(c) for c in cols]).alias("__row__"),
            F.posexplode(F.col("__bands__")).alias("__p__", "__b__"),
        ).select(
            F.col(id_col),
            F.col(time_col),
            F.col("__b__.band_id").alias("__band_id__"),
            F.col("__b__.band_key").alias("__band_key__"),
            F.when(F.col("__p__") == 0, F.col("__row__")).alias("__row__"),
        )
    )

    def shard_fold(carry, ks, pdf):
        band_ids = pdf["__band_id__"].tolist()
        dup = [False] * len(ks)
        prev = None
        for i, k in enumerate(ks):
            if band_ids[i] < 0:
                # sentinel: never duplicate, never seeds state; reset
                # the run tracker so a real key sharing the string is
                # re-checked against the carry (correct either way)
                prev = None
                continue
            if k != prev:
                dup[i] = k in carry
                carry[k] = 1
                prev = k
            else:
                dup[i] = True
        res = pdf.copy()
        res["__dup__"] = dup
        return res

    scanned = _keyed_fold_scan(
        ex, ["__band_key__"], time_col, shards, shard_fold,
        extra_out="__dup__ boolean", state_ttl_s=state_ttl_s,
    )
    # Row-format shim: FlatMapGroupsInPandasWithStateExec declares
    # row output but emits ColumnarBatchRow, and the repartition
    # exchange's UnsafeRowSerializer cast-fails on it (no
    # ColumnarToRow transition gets planned for a node that claims
    # rows). A column-REORDERING projection is kept by the optimizer
    # (output != child.output, so RemoveNoopOperators spares it) and
    # ProjectExec always materializes UnsafeRow.
    scanned = scanned.select(
        "__dup__", F.col(id_col), F.col(time_col),
        "__band_id__", "__band_key__", "__row__",
    )
    out_fields = [f.name for f in df.schema.fields]

    def reassemble(it):
        import pandas as pd

        chunks = list(it)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if not len(pdf):
            return
        bad = set(pdf.loc[pdf["__dup__"], id_col].tolist())
        rows = pdf[pdf["__row__"].notna() & ~pdf[id_col].isin(bad)]
        if not len(rows):
            return
        yield pd.DataFrame(list(rows["__row__"]), columns=out_fields)

    return scanned.repartition(F.col(id_col)).mapInPandas(
        reassemble, schema=df.schema
    )


# -- sinks ------------------------------------------------------------------


def to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    trigger_available_now: bool = True,
):
    """Memory sink (the test tap): returns the started query. Use
    output_mode="complete" for aggregations in parity tests — append
    only emits windows already sealed by the watermark, which by
    design excludes the final window of a finite input."""
    w = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def to_json_files(df: DataFrame, path: str, checkpoint: str, partition_by: Sequence[str] = ()):
    """JSON-lines file sink with optional field partitioning — the
    reference's file output (output/file.clj:10-50); path templating
    by event fields maps to partitionBy directories."""
    w = df.writeStream.format("json").option("path", path).option(
        "checkpointLocation", checkpoint
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    return w.trigger(availableNow=True).start()


def to_console(df: DataFrame):
    """debug/info logging sink (action.clj:177-230)."""
    return df.writeStream.format("console").trigger(availableNow=True).start()


def reinject_sink(
    df: DataFrame, topic_dir: str, checkpoint: str, trigger_available_now: bool = True
):
    """``reinject!`` streaming loopback, write half
    (action.clj:1643-1678): emit events onto a named loopback topic.
    Locally the topic is a JSON directory; on a cluster it is a Kafka
    topic (same one-line writeStream swap). A Spark query DAG is
    acyclic, so the reinjection cycle lives at the TOPIC level: the
    destination stream reads the topic via :func:`reinject_source` —
    including the emitting stream itself (union its input with the
    loopback source for a self-cycle; bound it with a condition or
    the loop never drains, exactly like the reference's runaway
    reinject)."""
    w = (
        df.writeStream.format("json")
        .option("path", topic_dir)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def reinject_source(spark: SparkSession, topic_dir: str, schema: str) -> DataFrame:
    """``reinject!`` read half: subscribe a (destination) stream to a
    loopback topic."""
    return file_source(spark, topic_dir, schema)


def _keyed_batch_scan(
    df: DataFrame,
    by,
    time_col,
    state_struct,
    init,
    batch_fn,
    state_ttl_s=None,
    out_schema=None,
    key_cols=(),
):
    """applyInPandasWithState shell for order-dependent keyed state:
    per group, run ``batch_fn(state, pdf) -> (state, out_pdf)`` ONCE
    over the group's whole micro-batch sorted by event time,
    persisting state across batches. ``key_cols`` makes each key's
    rows contiguous and time-sorted instead, for groups that hold
    several keys. This is
    the streaming analog of the reference's per-operator atoms
    (single-threaded per key, parallel across keys) — but each fold
    is vectorized over the whole micro-batch (numpy scans / pandas
    shifts), never a per-row ``iterrows``/``to_dict`` loop (r2 perf
    finding: a hot key melts on per-row Python).

    Arrow hands a group's rows over in chunks of at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch``. The chunks are
    concatenated (only when there are several) before the one sort,
    so a key whose rows span two chunks still folds in event-time
    order. ``batch_fn`` never sees an empty slice.

    ``state_ttl_s`` is the reference's `by` fork GC
    (action.clj:1559-1582 :fork-ttl) on the event clock: keys idle
    past the ttl have their state evicted — the next event starts
    fresh, and state size stays bounded by the active-key set.
    Requires a watermark on ``df`` (Spark then drops late rows before
    the operator).

    ``out_schema`` (StructType or DDL string) lets an operator emit
    rows shaped differently from its input (e.g. window rows with an
    events array); ``batch_fn`` must then return exactly those
    columns.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = df.schema
    out_struct = out_schema if out_schema is not None else schema
    cols = (
        [f.name for f in schema.fields] if out_schema is None else None
    )  # None → trust batch_fn's column set
    ttl_ms = int(state_ttl_s * 1000) if state_ttl_s else None

    def sort(pdf):
        if not key_cols:
            return pdf.sort_values(time_col, kind="mergesort")
        # keys need only be contiguous, not ordered: stable lexsort on
        # factorized key codes (nulls share code -1; -0.0 == 0.0) is
        # ~3x cheaper than comparing key strings
        codes = [pd.factorize(pdf[c])[0] for c in reversed(key_cols)]
        return pdf.take(np.lexsort([pdf[time_col].to_numpy(), *codes]))

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            return
        pdf = sort(
            chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        )
        s, out = batch_fn(state.get if state.exists else init, pdf)
        state.update(tuple(s))
        if ttl_ms:
            t = pdf[time_col].max()
            max_ms = (
                int(t.value // 1_000_000)
                if str(pdf[time_col].dtype).startswith("datetime64")
                else int(float(t) * 1000)
            )
            # clamp above the watermark: an out-of-order tail event can
            # put last-event + ttl BEHIND the watermark, which Spark
            # rejects; the key then just times out at the next bound
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(max_ms + ttl_ms, wm + 1))
        if out is not None and len(out):
            yield out[cols] if cols is not None else out

    return df.groupBy(*[F.col(c) for c in by]).applyInPandasWithState(
        fn,
        outputStructType=out_struct,
        stateStructType=state_struct,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if state_ttl_s
            else GroupStateTimeout.NoTimeout
        ),
    )


# -- keyed-state folds: one fold, two groupings ------------------------------
# Every keyed operator below is ONE fold ``fold(carry, ks, pdf) -> out``:
# ``pdf`` is a micro-batch slice holding each key's rows contiguous and
# in event-time order, ``ks`` the per-row key string, and ``carry`` the
# {key string: state} map the
# fold reads at segment starts and writes at segment ends. The key
# groups are only a routing choice (ICDE 2025, "Towards Fine-Grained
# Scalability for Stateful Stream Processing Systems"), picked by
# ``shards``:
#
# - ``shards=None`` groups on the ``by`` columns themselves (the
#   reference's per-key `by` fork): one Python call per key per
#   micro-batch, ``ks`` is constant and no key strings are built.
# - ``shards=N`` groups on pmod(xxhash64(by), N): applyInPandasWithState
#   calls the Python state fn once per GROUP per micro-batch, so at
#   10^6 keys this collapses 10^6 interpreter round-trips to N (PERF
#   §39: ewma 7.9k → 214k ev/s at 1M keys). The whole shard map
#   round-trips per batch — right when most keys are touched each
#   batch.
#
# Both groupings keep the same ``carry STRING`` state, so a fold's
# per-key operation sequence is identical either way (parity pytests
# against the batch twins).

_SHARD_COL = "__shard__"
_UNKEYED_COL = "__g__"  # the one constant group of an unkeyed fold
_NULL_KEY = "\x00null"
_KEY_SEP = "\x1f"
# key-mode carry slot: each call holds exactly one key
_ONE_KEY = ""

# stream_ewma: key runs longer than this take the scalar loop — the
# vectorized stepper costs O(max run) numpy dispatches per batch, so
# one hot key must not set the step count for the whole shard. At the
# shard tier's design point (high cardinality, short runs) every run
# is far below this.
_EWMA_VEC_CAP = 512


def _shard_key_strings(pdf, key_cols, key_dtypes):
    """Composite string key per row (JSON-map-safe); nulls fold
    under a sentinel distinct from any real value.

    ``key_dtypes`` (Spark simpleString per key col) makes the string
    TYPE-STABLE across micro-batches: Arrow hands an int64 slice
    that contains any NULL to pandas as float64, so a bare str(v)
    would serialize the same key as "7" in one batch and "7.0" in
    the next — silently resetting its state. Integral Spark types
    therefore format through int(v); everything else through str.

    Float and double keys render zero as ``0.0``: Spark hashes and
    groups ``-0.0`` with ``0.0`` as one key, so they must share one
    state slot (and form one key segment in the (key, time) sort).
    NaN and null both map to the null sentinel (``v != v``), while
    Spark keeps them as two groups: they alias one slot whenever
    they hash to the same shard (key mode keeps them apart).

    INJECTIVE under adversarial string values: a value containing
    the separator or the escape byte is escaped (\\x00 -> \\x00"0",
    \\x1f -> \\x00"1") before joining, so escaped values never
    contain a bare separator and can never spell the null sentinel
    (whose second byte 'n' follows \\x00 only in the sentinel) —
    two distinct key tuples can't alias one state slot. Non-string
    key types (numeric formatting) never produce either byte, so
    the common path pays one containment check per value."""

    def esc(s):
        if "\x00" in s or _KEY_SEP in s:
            return s.replace("\x00", "\x00" + "0").replace(_KEY_SEP, "\x00" + "1")
        return s

    def conv_for(dtype):
        if dtype in ("tinyint", "smallint", "int", "bigint", "long"):
            return lambda v: str(int(v))
        if dtype in ("float", "double"):
            return lambda v: str(v + 0.0)  # -0.0 + 0.0 == +0.0
        return lambda v: esc(str(v))

    convs = [conv_for(t) for t in key_dtypes]
    if len(key_cols) == 1:
        col, conv = pdf[key_cols[0]], convs[0]
        return [(_NULL_KEY if v is None or v != v else conv(v)) for v in col.tolist()]
    cols = [pdf[c].tolist() for c in key_cols]
    return [
        _KEY_SEP.join(
            _NULL_KEY if v is None or v != v else conv(v)
            for conv, v in zip(convs, row)
        )
        for row in zip(*cols)
    ]


def _load_carry(carry_json):
    """Decode a fold's ``carry STRING`` state: ``{"c": {key: state}}``
    plus ``"t": {key: last event µs}`` under a shard ttl.

    Before both groupings shared one fold, the per-key twins kept
    their own state. Spark rejects a restart over the typed ones
    (STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE) but accepts a single
    STRING column under another name, so a JSON blob that is not a
    carry map raises here instead of silently resetting every key."""
    import json as _json

    blob = _json.loads(carry_json) if carry_json else {"c": {}}
    if not (isinstance(blob, dict) and isinstance(blob.get("c"), dict)):
        raise ValueError(
            "keyed state is not a carry map: the checkpoint was written "
            "by an older per-key twin; restart from a new checkpoint"
        )
    return blob


def _keyed_fold_scan(
    df, by, time_col, shards, fold, extra_out=None, state_ttl_s=None,
    out_schema=None,
):
    """The one shell of the keyed folds (see the section comment):
    group per key (``shards=None``, or a constant group when ``by``
    is empty — the unkeyed coalesce) or per shard (``shards=N`` and
    ``by`` non-empty), state = one JSON carry map, and per batch call
    ``fold(carry, ks, pdf)`` with the slice's key runs contiguous and
    time-sorted and the routing column dropped. ``fold`` mutates ``carry`` and
    returns the output rows. ``extra_out`` appends DDL columns the
    fold adds (e.g. zscore); ``out_schema`` replaces the whole output
    DDL (window emission).

    ``state_ttl_s`` is the fork GC (the reference's :fork-ttl). Per
    key it is the GroupState event-time timeout (needs a watermark).
    Inside a shard map, which shard-level timeouts cannot express,
    the shell tracks each key's last event time next to the carry
    and, after the fold, drops keys idle longer than the ttl relative
    to the shard's event clock (its running max event time); a key
    whose gap since its last event exceeds the ttl folds from
    scratch. Either way an evicted key's next event starts fresh.
    """
    import json as _json

    key_cols = list(by)
    sharded = bool(shards) and bool(key_cols)
    if sharded:
        dtypes = dict(df.dtypes)
        key_dtypes = [dtypes[c] for c in key_cols]
        src = df.withColumn(
            _SHARD_COL,
            F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(shards)),
        )
        group = [_SHARD_COL]
    elif key_cols:
        src, group = df, key_cols
    else:
        src, group = df.withColumn(_UNKEYED_COL, F.lit(0)), [_UNKEYED_COL]
    if out_schema is None:
        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        if extra_out:
            out_schema += f", {extra_out}"
    ttl_us = int(round(state_ttl_s * 1_000_000)) if state_ttl_s and sharded else None

    def batch_fn(s, pdf):
        (carry_json,) = s
        blob = _load_carry(carry_json)
        carry = blob["c"]
        seen = blob.get("t", {})
        if group != key_cols:
            pdf = pdf.drop(columns=group)
        if not sharded:
            out = fold(carry, [_ONE_KEY] * len(pdf), pdf)
        elif ttl_us is None:
            out = fold(carry, _shard_key_strings(pdf, key_cols, key_dtypes), pdf)
        else:
            import numpy as np

            ks = _shard_key_strings(pdf, key_cols, key_dtypes)
            tv = _series_us(pdf[time_col])
            ks_arr = np.array(ks, dtype=object)
            starts = np.flatnonzero(
                np.concatenate(([True], ks_arr[1:] != ks_arr[:-1]))
            )
            ends = np.concatenate((starts[1:] - 1, [len(ks) - 1]))
            # restart rule BEFORE the fold: a key whose gap since its
            # last event exceeds the ttl folds from scratch
            for sidx in starts.tolist():
                k = ks_arr[sidx]
                prev = seen.get(k)
                if prev is not None and int(tv[sidx]) - prev > ttl_us:
                    seen.pop(k, None)
                    carry.pop(k, None)
            out = fold(carry, ks, pdf)
            # memory bound AFTER the fold: keys idle past the ttl on
            # the shard's event clock drop even if they never return
            for sidx, e in zip(starts.tolist(), ends.tolist()):
                k = ks_arr[sidx]
                t_last = int(tv[e])
                prev = seen.get(k)
                seen[k] = t_last if prev is None else max(prev, t_last)
            cutoff = max(seen.values()) - ttl_us
            for k in [k for k, t in seen.items() if t < cutoff]:
                seen.pop(k, None)
                carry.pop(k, None)
        return (_json.dumps({"c": carry, "t": seen} if ttl_us else {"c": carry}),), out

    return _keyed_batch_scan(
        src, group, time_col, "carry STRING", (None,), batch_fn,
        state_ttl_s=None if sharded else state_ttl_s,
        out_schema=out_schema, key_cols=key_cols if sharded else (),
    )


def stream_throttle(
    df: DataFrame,
    count: int,
    duration_s: float,
    by: Sequence[str],
    time_col: str = "time",
    shards: int | None = None,
) -> DataFrame:
    """Streaming anchored-window throttle (action.clj:1163-1217) —
    per-key state (anchor_us, n); exact integer-µs window math like
    the batch twin. The scan loops over a primitive int64 array (the
    anchored recurrence is inherently sequential) with carry reload at
    key boundaries only; it never builds per-row dicts/Series.
    ``shards`` picks the grouping (see ``_keyed_fold_scan``)."""
    import numpy as np

    dur_us = int(round(duration_s * 1_000_000))

    def fold(carry, ks, pdf):
        tv = _series_us(pdf[time_col])
        keep = np.empty(len(tv), dtype=bool)
        unset = object()
        prev = unset
        anchor, n = None, 0
        for i, (k, t) in enumerate(zip(ks, tv.tolist())):
            if k != prev:
                if prev is not unset:
                    carry[prev] = (anchor, n)
                anchor, n = carry.get(k, (None, 0))
                prev = k
            if anchor is None or t >= anchor + dur_us:
                anchor, n = t, 1
                keep[i] = True
            elif n < count:
                n += 1
                keep[i] = True
            else:
                keep[i] = False
        if prev is not unset:
            carry[prev] = (anchor, n)
        return pdf[keep]

    return _keyed_fold_scan(df, by, time_col, shards, fold)


def stream_ewma(
    df: DataFrame,
    r: float,
    by: Sequence[str],
    time_col: str = "time",
    metric_col: str = "metric",
    state_ttl_s: float | None = None,
    shards: int | None = None,
) -> DataFrame:
    """Streaming ewma-timeless (action.clj:1248-1276): keyed running
    average, identical double recurrence (same fold order) as the
    batch twin; null metrics pass through as null without touching
    the state. ``state_ttl_s`` evicts idle keys (fork GC) — pass a
    watermarked input when set per key. ``shards`` picks the grouping
    (see ``_keyed_fold_scan``); PERF §39: 214k ev/s at 1M keys
    sharded vs 7.9k per key.

    A slice holding one key segment (every per-key call) runs the
    scalar loop over a primitive float64 array. With several keys
    the fold is VECTORIZED across keys (r17, guide §4.2: the per-row
    loop was ~62 % of the shard tier's CPU): key runs are contiguous
    segments, and step j updates every key's j-th event at once with
    the SAME scalar expression ``r*v + (1.0-r)*m`` (numpy float64
    scalar ops are IEEE doubles — each key's value sequence sees the
    identical op order as the scalar loop, pinned by the batch-parity
    pytests). A NaN event emits NaN and leaves the key's state
    unchanged, exactly the scalar branch. Keys whose run exceeds
    ``_EWMA_VEC_CAP`` take the scalar loop over just their rows."""
    import numpy as np
    import pandas as pd

    cap = _EWMA_VEC_CAP

    def _scalar_run(carry, k, vals, out, lo, hi):
        m = carry.get(k)
        for i in range(lo, hi):
            v = vals[i]
            if v != v:
                out[i] = np.nan
            else:
                m = r * v + (1.0 - r) * (m if m is not None else 0.0)
                out[i] = m
        if m is not None:
            carry[k] = m

    def fold(carry, ks, pdf):
        n = len(pdf)
        vals = pdf[metric_col].to_numpy(dtype="float64", na_value=np.nan)
        out = np.empty(n)
        ks_arr = np.asarray(ks, dtype=object)
        starts = np.flatnonzero(
            np.concatenate(([True], ks_arr[1:] != ks_arr[:-1]))
        )
        if starts.size == 1:
            _scalar_run(carry, ks_arr[0], vals.tolist(), out, 0, n)
        else:
            lens = np.diff(np.concatenate((starts, [n])))
            short = lens <= cap
            s_starts = starts[short]
            s_lens = lens[short]
            if s_starts.size:
                keys_list = ks_arr[s_starts].tolist()
                m0 = [carry.get(k) for k in keys_list]
                seen = np.array([v is not None for v in m0], dtype=bool)
                m = np.array(
                    [v if v is not None else 0.0 for v in m0],
                    dtype=np.float64,
                )
                # length-descending order → the keys still active at
                # step j are a prefix; total work is Σ lens, no padding
                order = np.argsort(-s_lens, kind="stable")
                s_starts = s_starts[order]
                s_lens = s_lens[order]
                m = m[order]
                seen = seen[order]
                # active count per step: s_lens sorted desc, so keys
                # with len > j form the prefix
                for j in range(int(s_lens[0])):
                    a = int(np.searchsorted(-s_lens, -(j + 1), side="right"))
                    pos = s_starts[:a] + j
                    v = vals[pos]
                    real = v == v
                    stepped = r * v + (1.0 - r) * m[:a]
                    m[:a] = np.where(real, stepped, m[:a])
                    out[pos] = np.where(real, stepped, np.nan)
                    seen[:a] |= real
                for i in np.flatnonzero(seen).tolist():
                    carry[ks_arr[s_starts[i]]] = float(m[i])
            if not short.all():
                vl = vals.tolist()
                for si in np.flatnonzero(~short).tolist():
                    lo = int(starts[si])
                    _scalar_run(
                        carry, ks_arr[lo], vl, out, lo, lo + int(lens[si])
                    )
        res = pdf.copy()
        # NaN in a float64 column round-trips to SQL NULL via Arrow
        res[metric_col] = pd.array(out, dtype="float64")
        return res

    return _keyed_fold_scan(
        df, by, time_col, shards, fold, state_ttl_s=state_ttl_s
    )


def stream_smax(
    df: DataFrame,
    by: Sequence[str],
    time_col: str = "time",
    metric_col: str = "metric",
    shards: int | None = None,
) -> DataFrame:
    """Streaming smax (action.clj:2742-2772): per input event emit
    the best-so-far event of its key; strict > keeps the first
    winner on ties (:func:`stream_smax_jvm` is the per-batch-grain
    alternative). The stored-best row carries as one JSON dict per
    key, the fold walks the slice with carry reload at key boundaries
    only, and the output materializes as two positional gathers
    (batch-sourced winners + carry-sourced re-emits) merged back into
    event order — no per-event dict building. ``shards`` picks the
    grouping (see ``_keyed_fold_scan``)."""
    import numpy as np
    import pandas as pd

    def fold(carry, ks, pdf):
        n = len(pdf)
        cols = list(pdf.columns)
        raw = _RawCols(pdf)
        v = pdf[metric_col].to_numpy(dtype="float64", na_value=np.nan)
        ks_arr = np.asarray(ks, dtype=object)
        starts = np.flatnonzero(
            np.concatenate(([True], ks_arr[1:] != ks_arr[:-1]))
        )
        ends = np.concatenate((starts[1:], [n]))
        emit: list = []  # ("b", idx) batch winner | ("o", dict) carried best
        for s0, e0 in zip(starts.tolist(), ends.tolist()):
            k = ks_arr[s0]
            st = carry.get(k)
            if st is None:
                have = False
                best_v = -np.inf
                best_ref = None
            else:
                have = True
                best_v = -np.inf if st["m"] is None else float(st["m"])
                best_ref = ("o", st["b"])
            for i in range(s0, e0):
                x = v[i]
                if not have or (x == x and x > best_v):
                    best_ref = ("b", i)
                    have = True
                    if x == x:
                        best_v = x
                emit.append(best_ref)
            # save state: winner row serialized once per batch per key
            if best_ref is not None and best_ref[0] == "b":
                i = best_ref[1]
                carry[k] = {
                    "m": None if v[i] != v[i] else float(v[i]),
                    "b": raw.row(cols, i),
                }
        b_pos = [p for p, e in enumerate(emit) if e[0] == "b"]
        o_pos = [p for p, e in enumerate(emit) if e[0] == "o"]
        frames = []
        if b_pos:
            frames.append(pdf.iloc[[emit[p][1] for p in b_pos]])
        if o_pos:
            odf = pd.DataFrame(
                {c: [emit[p][1][c] for p in o_pos] for c in cols}, columns=cols
            )
            frames.append(_revive_datetime_cols(odf, pdf))
        if len(frames) == 1:
            return frames[0]
        out = pd.concat(frames, ignore_index=True)
        return out.iloc[np.argsort(np.asarray(b_pos + o_pos), kind="stable")]

    return _keyed_fold_scan(df, by, time_col, shards, fold)


def stream_smin(
    df: DataFrame,
    by: Sequence[str],
    time_col: str = "time",
    metric_col: str = "metric",
    shards: int | None = None,
) -> DataFrame:
    """Streaming smin (action.clj:2774-2804): smax over the negated
    metric, negated back — the stored-best state machinery is shared
    (the stored metric stays un-negated) and nulls pass through
    (-NULL = NULL)."""
    neg = df.withColumn(metric_col, -F.col(metric_col))
    out = stream_smax(neg, by, time_col, metric_col, shards=shards)
    return out.withColumn(metric_col, -F.col(metric_col))


def stream_cond_dt(
    df: DataFrame,
    cond,
    dt_s: float,
    by: Sequence[str],
    time_col: str = "time",
    shards: int | None = None,
) -> DataFrame:
    """Streaming cond-dt family (action.clj:476-508): per-key state
    (ok, flip_us); valid events pass once the condition has held
    continuously for more than dt seconds. PERF §39 (sharded): 552k
    ev/s at 1M keys; 1.73M ev/s at 10M events / 10k keys.

    ``cond`` accepts the SAME condition vectors as the batch twins
    (``[":>", "metric", 100]`` — compiled per micro-batch by
    :func:`mirabelle_spark.conditions.compile_condition_pandas`,
    fully vectorized over the whole slice) or a python row-predicate
    for custom logic (applied row-wise, the slow path). ``shards``
    picks the grouping (see ``_keyed_fold_scan``)."""
    import numpy as np

    dt_us = int(round(dt_s * 1_000_000))
    if callable(cond):
        def valid_series(pdf):
            return pdf.apply(cond, axis=1).to_numpy(dtype=bool)
    else:
        from mirabelle_spark.conditions import compile_condition_pandas

        _pred = compile_condition_pandas(cond)

        def valid_series(pdf):
            return _pred(pdf).to_numpy(dtype=bool)

    def fold(carry, ks, pdf):
        tv = _series_us(pdf[time_col])
        valid = valid_series(pdf)
        keep = np.empty(len(tv), dtype=bool)
        unset = object()
        prev = unset
        ok, flip = False, None
        for i, (k, t, va) in enumerate(zip(ks, tv.tolist(), valid.tolist())):
            if k != prev:
                if prev is not unset:
                    carry[prev] = (ok, flip)
                ok, flip = carry.get(k, (False, None))
                prev = k
            if va and not ok:
                ok, flip = True, t
            elif not va:
                ok, flip = False, None
            keep[i] = va and ok and t > flip + dt_us
        if prev is not unset:
            carry[prev] = (ok, flip)
        return pdf[keep]

    return _keyed_fold_scan(df, by, time_col, shards, fold)


def stream_ssort(
    df: DataFrame,
    duration_s: float,
    field: str,
    by: Sequence[str] = (),
    delay_s: float = 0.0,
    time_col: str = "time",
    payload_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Streaming ``ssort`` (action.clj:2641-2691): buffer ``duration``
    seconds, re-emit each sealed bucket sorted by ``field``.

    Pure windowed aggregation — watermark(:delay) + tumbling window +
    sort_array(collect_list) + posexplode; no Python state at all.
    Output matches the batch twin column-for-column
    (by…, window_start, seq, payload…)."""
    payload_cols = list(payload_cols or df.columns)
    src = df.withWatermark(time_col, f"{delay_s} seconds")
    w = F.window(F.col(time_col), f"{int(duration_s)} seconds")
    ev = F.struct(F.col(field).alias("__k__"), *[F.col(c) for c in payload_cols])
    agg = (
        src.groupBy(*[F.col(c) for c in by], w.alias("__w__"))
        .agg(F.sort_array(F.collect_list(ev)).alias("__evs__"))
        .withColumn("window_start", F.col("__w__.start").cast("double"))
        .drop("__w__")
    )
    exploded = agg.select(
        *[F.col(c) for c in by],
        "window_start",
        F.posexplode("__evs__").alias("seq", "__e__"),
    )
    return exploded.select(
        *[F.col(c) for c in by], "window_start", "seq", "__e__.*"
    ).drop("__k__")


def stream_stable(
    df: DataFrame,
    dt_s: float,
    field: str,
    by: Sequence[str],
    time_col: str = "time",
    shards: int | None = None,
) -> DataFrame:
    """Streaming ``stable`` (action.clj:2053-2138): per-key value-run
    state; events pass once their run's ``field`` value has stayed
    identical for more than ``dt`` seconds. The run's early events
    buffer in state and flush at confirmation; a value change drops
    an unconfirmed buffer (flap suppression). Out-of-order events
    (time < the key's running max) are dropped, like the reference.

    Each key's unconfirmed-run buffer carries as PARALLEL COLUMN
    ARRAYS ({col: [values]}) instead of dict-per-row (VERDICT r7 ask
    #1a). Python work per batch is O(value-runs), not O(rows): run
    boundaries come from one vectorized null-safe shift compare,
    confirmation points from searchsorted, confirmed-run emission
    from slice coalescing (one concat at the end), and only
    UNCONFIRMED rows (the flap buffer) pay per-value JSON conversion.
    ``shards`` picks the grouping (see ``_keyed_fold_scan``)."""
    import numpy as np
    import pandas as pd

    dt_us = int(round(dt_s * 1_000_000))

    def _eq(a, b):
        if a is None or b is None:
            return a is None and b is None
        if isinstance(a, float) and isinstance(b, float) and a != a and b != b:
            return True
        return a == b

    def _store(v):
        # keep NaN as NaN in the carry: Python json round-trips it
        # and _eq treats NaN==NaN. _native's NaN→None fold would make
        # _eq(nan, None) False and reset the run at every micro-batch
        # boundary (ADVICE r8 #1).
        if isinstance(v, float) and v != v:
            return float(v)
        return _native(v)

    def fold(carry, ks, pdf):
        n = len(pdf)
        t = _series_us(pdf[time_col])
        ks_arr = np.asarray(ks, dtype=object)
        kstart = np.concatenate(([True], ks_arr[1:] != ks_arr[:-1]))
        starts = np.flatnonzero(kstart)
        ends = np.concatenate((starts[1:], [n]))
        # out-of-order drop + running-max update per key, vectorized
        # per segment: the slice is (key, time)-sorted so only rows
        # below the key's STORED max can drop, and the new max is the
        # segment's last timestamp
        keep = np.ones(n, dtype=bool)
        for s0, e0 in zip(starts.tolist(), ends.tolist()):
            st = carry.get(ks_arr[s0])
            if st is not None and st["s"][0] is not None:
                keep[s0:e0] = t[s0:e0] >= st["s"][0]
                st["s"][0] = max(st["s"][0], int(t[e0 - 1]))
            elif st is not None:
                st["s"][0] = int(t[e0 - 1])
        if not keep.all():
            pdf = pdf[keep].reset_index(drop=True)
            ks_arr = ks_arr[keep]
            t = t[keep]
            n = len(pdf)
            if not n:
                return pdf
            kstart = np.concatenate(([True], ks_arr[1:] != ks_arr[:-1]))
            starts = np.flatnonzero(kstart)
            ends = np.concatenate((starts[1:], [n]))
        # run boundaries: key change OR null-safe field value change
        fs = pdf[field]
        same_val = (fs.eq(fs.shift()) | (fs.isna() & fs.isna().shift(fill_value=False))).to_numpy(dtype=bool)
        run_start = kstart | ~same_val
        rstarts = np.flatnonzero(run_start)
        rends = np.concatenate((rstarts[1:], [n]))
        vals = fs.tolist()
        cols = list(pdf.columns)
        raw = _RawCols(pdf)

        parts: list = []  # ordered mix of (i, j) slices and DataFrames

        def emit_slice(i, j):
            if parts and isinstance(parts[-1], list) and parts[-1][1] == i:
                parts[-1][1] = j  # coalesce adjacent confirmed slices
            else:
                parts.append([i, j])

        cur_key = None
        st = None
        for i, j in zip(rstarts.tolist(), rends.tolist()):
            k = ks_arr[i]
            if k != cur_key:
                if cur_key is not None:
                    carry[cur_key] = st
                st = carry.get(k)
                if st is None:
                    # s = [max_us, has, value, flip_us, confirmed]
                    st = {"s": [int(t[j - 1]), False, None, None, False],
                          "b": None}
                    # max over the FULL key segment was set above only
                    # for existing states; find this key's segment end
                    e0 = ends[np.searchsorted(starts, i, side="right") - 1]
                    st["s"][0] = int(t[e0 - 1])
                cur_key = k
            v = vals[i]
            if not (st["s"][1] and _eq(v, st["s"][2])):
                st["s"][1] = True
                st["s"][2] = _store(v)
                st["s"][3] = int(t[i])
                st["s"][4] = False
                st["b"] = None
            if not st["s"][4]:
                thresh = st["s"][3] + dt_us
                kk = i + int(np.searchsorted(t[i:j], thresh, side="right"))
                if kk == j:  # run not yet stable: buffer the segment
                    if st["b"] is None:
                        st["b"] = {c: [] for c in cols}
                    for c in cols:
                        st["b"][c].extend(raw.slice_native(c, i, j))
                else:  # confirmed at kk: flush buffer + whole segment
                    st["s"][4] = True
                    if st["b"] is not None and next(iter(st["b"].values())):
                        bdf = pd.DataFrame(
                            {c: st["b"][c] for c in cols}, columns=cols
                        )
                        parts.append(_revive_datetime_cols(bdf, pdf))
                    st["b"] = None
                    emit_slice(i, j)
            else:
                emit_slice(i, j)
        if cur_key is not None:
            carry[cur_key] = st
        if not parts:
            return pdf.iloc[0:0]
        frames = [
            pdf.iloc[p[0]:p[1]] if isinstance(p, list) else p for p in parts
        ]
        return frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)

    return _keyed_fold_scan(df, by, time_col, shards, fold)


def stream_fixed_event_window(
    df: DataFrame,
    n: int,
    by: Sequence[str],
    time_col: str = "time",
    fork_ttl_s: float | None = None,
    shards: int | None = None,
) -> DataFrame:
    """Streaming ``fixed-event-window`` (action.clj:233-262) with the
    reference's ``:fork-ttl`` semantics (stream_test.clj:331-408):
    per-key count buffer in state; every ``n`` buffered events flush
    as one window row ``(by…, window_start, events)``.

    **Gap eviction** uses the EVENT clock, exactly like the reference
    (action.clj:1575-1600 compares fork times against the incoming
    event's ``:time``): an event arriving more than ``fork_ttl_s``
    after the key's previous event drops the stale partial buffer —
    the window restarts from the newcomer. A silent key keeps its
    partial buffer (at most n-1 rows) in state.

    Events are processed in event-time order within a micro-batch
    (per-event batches degrade gracefully to the reference's arrival
    order, which its out-of-order deftest relies on). Each key's
    partial window carries COLUMNAR ({col: [...]}); batch rows are
    referenced by position and serialize at most once — when they
    emit into a window or remain buffered at batch end. ``shards``
    picks the grouping (see ``_keyed_fold_scan``).
    """
    import numpy as np
    import pandas as pd

    ttl_us = int(round(fork_ttl_s * 1_000_000)) if fork_ttl_s else None
    ts_cols = [c for c, t in df.dtypes if t.startswith("timestamp")]
    key_cols = list(by)
    ev_struct = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    by_struct = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        if f.name in by
    )
    out_schema = (
        f"{by_struct}, window_start double, events array<struct<{ev_struct}>>"
    )

    def fold(carry, ks, pdf):
        cols = list(pdf.columns)
        out_rows: list = []
        m = len(pdf)
        raw = _RawCols(pdf)
        t = _series_us(pdf[time_col])
        ks_arr = np.asarray(ks, dtype=object)
        starts = np.flatnonzero(
            np.concatenate(([True], ks_arr[1:] != ks_arr[:-1]))
        )
        ends = np.concatenate((starts[1:], [m]))

        def revive(e):
            return _revive_ts_fields(e, ts_cols)

        for s0, e0 in zip(starts.tolist(), ends.tolist()):
            k = ks_arr[s0]
            st = carry.get(k)
            if st is None:
                last_us = None
                buf: list = []
            else:
                last_us = st["l"]
                bc = st["b"]
                blen = len(next(iter(bc.values()))) if bc else 0
                buf = [
                    {c: bc[c][x] for c in cols} for x in range(blen)
                ]
            keyvals = {c: pdf.iloc[s0][c] for c in key_cols}
            for i in range(s0, e0):
                ti = int(t[i])
                if (
                    ttl_us is not None
                    and last_us is not None
                    and ti - last_us > ttl_us
                ):
                    buf = []  # stale fork: GC dropped it pre-event
                buf.append(i)
                last_us = ti
                if len(buf) == n:
                    evs = [
                        revive(e if isinstance(e, dict)
                               else raw.row(cols, e))
                        for e in buf
                    ]
                    first = evs[0][time_col]
                    start = (
                        first.timestamp()
                        if hasattr(first, "timestamp")
                        else float(first)
                    )
                    out_rows.append(
                        {**keyvals, "window_start": start, "events": evs}
                    )
                    buf = []
            rest = [
                e if isinstance(e, dict) else raw.row(cols, e)
                for e in buf
            ]
            carry[k] = {
                "l": last_us,
                "b": {c: [e[c] for e in rest] for c in cols} if rest else {},
            }
        if not out_rows:
            return pd.DataFrame(
                columns=key_cols + ["window_start", "events"]
            )
        return pd.DataFrame(out_rows)

    return _keyed_fold_scan(
        df, by, time_col, shards, fold, out_schema=out_schema
    )


def stream_moving_event_window(
    df: DataFrame,
    n: int,
    by: Sequence[str],
    time_col: str = "time",
    shards: int | None = None,
) -> DataFrame:
    """Streaming ``moving-event-window`` (action.clj:1219-1246): on
    every event, emit the trailing ``n`` events of its key as an
    ``events`` array — the keyed-state sliding buffer, emitted
    per-row like the batch twin's collect_list window. Emission cost
    is O(rows·n) dict lists (the output shape demands it). ``shards``
    picks the grouping (see ``_keyed_fold_scan``)."""
    import numpy as np

    ts_cols = [c for c, t in df.dtypes if t.startswith("timestamp")]
    ev_struct = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    extra_out = f"events array<struct<{ev_struct}>>"

    def fold(carry, ks, pdf):
        m = len(pdf)
        cols = list(pdf.columns)
        events_col: list = [None] * m
        raw = _RawCols(pdf)
        ks_arr = np.asarray(ks, dtype=object)
        starts = np.flatnonzero(
            np.concatenate(([True], ks_arr[1:] != ks_arr[:-1]))
        )
        ends = np.concatenate((starts[1:], [m]))

        def revive(e):
            return _revive_ts_fields(e, ts_cols)

        for s0, e0 in zip(starts.tolist(), ends.tolist()):
            k = ks_arr[s0]
            bc = carry.get(k)
            if bc:
                blen = len(next(iter(bc.values())))
                buf = [{c: bc[c][x] for c in cols} for x in range(blen)]
            else:
                buf = []
            for i in range(s0, e0):
                buf.append(raw.row(cols, i))
                buf = buf[-n:]
                events_col[i] = [revive(e) for e in buf]
            carry[k] = {c: [e[c] for e in buf] for c in cols} if buf else {}
        out = pdf.copy()
        out["events"] = events_col
        return out

    return _keyed_fold_scan(
        df, by, time_col, shards, fold, extra_out=extra_out
    )


def stream_ddt(
    df: DataFrame,
    by: Sequence[str],
    time_col: str = "time",
    metric_col: str = "metric",
    remove_neg: bool = False,
    shards: int | None = None,
) -> DataFrame:
    """Streaming ddt/ddt-pos (action.clj:1041-1083): per-key state
    (last_us, last_metric) carries the previous event across
    micro-batches; the derivative is one vectorized diff over the
    slice with the previous (t, metric) injected from the carry at
    segment starts only — O(distinct keys) Python, O(rows) numpy.
    Null-metric events are skipped entirely (they never become the
    new previous); zero time delta is skipped. ``shards`` picks the
    grouping (see ``_keyed_fold_scan``)."""
    import numpy as np

    def fold(carry, ks, pdf):
        keepna = pdf[metric_col].notna().to_numpy(dtype=bool)
        if not keepna.all():
            pdf = pdf[keepna].reset_index(drop=True)
            ks = [k for k, good in zip(ks, keepna.tolist()) if good]
        n = len(pdf)
        if not n:
            return pdf
        t = _series_us(pdf[time_col]).astype("float64")
        m = pdf[metric_col].to_numpy(dtype="float64")
        prev_t = np.concatenate(([np.nan], t[:-1]))
        prev_m = np.concatenate(([np.nan], m[:-1]))
        ks_arr = np.array(ks, dtype=object)
        starts = np.flatnonzero(
            np.concatenate(([True], ks_arr[1:] != ks_arr[:-1]))
        )
        for s in starts.tolist():
            last = carry.get(ks_arr[s])
            prev_t[s], prev_m[s] = (
                (np.nan, np.nan) if last is None else (float(last[0]), float(last[1]))
            )
        dt = (t - prev_t) / 1_000_000.0
        with np.errstate(divide="ignore", invalid="ignore"):
            diff = (m - prev_m) / dt
        ok = np.isfinite(diff)
        if remove_neg:
            ok &= diff >= 0
        ends = np.concatenate((starts[1:] - 1, [n - 1]))
        for s, e in zip(starts.tolist(), ends.tolist()):
            carry[ks_arr[s]] = (int(t[e]), float(m[e]))
        out = pdf[ok].copy()
        out[metric_col] = diff[ok]
        return out

    return _keyed_fold_scan(df, by, time_col, shards, fold)


def stream_coalesce(
    df: DataFrame,
    duration_s: float,
    fields: Sequence[str],
    by: Sequence[str] = (),
    time_col: str = "time",
    ttl_col: str = "ttl",
    state_col: str = "state",
    default_ttl_s: float = 120.0,
    shards: int | None = None,
) -> DataFrame:
    """Streaming ``coalesce`` (action.clj:721-791): keep the latest
    event per ``fields`` tuple; every ``duration`` seconds of EVENT
    time (the tick clock is the running max event time, not wall
    time), flush all kept non-expired events. Expiry follows
    event.clj:12-19: state == "expired" or age > ttl (default 120 s).

    Without ``by`` this is the reference's single global coalesce:
    one tick clock, one state group (``shards`` does not apply).
    Each key's buffer carries COLUMNAR, with batch rows referenced by
    POSITION until the end of the batch: the per-event loop touches
    only scalars/tuples (tick clock, dict upsert, expiry compare) —
    no dict-per-row serialization; JSON conversion happens once per
    batch for the rows still buffered at its end, and emission is
    two positional gathers (batch-sourced + carry-sourced) merged
    back into flush order. ``shards`` picks the grouping (see
    ``_keyed_fold_scan``).
    """
    import json as _json

    import numpy as np
    import pandas as pd

    dur_us = int(round(duration_s * 1_000_000))
    default_ttl_us = int(round(default_ttl_s * 1_000_000))
    has_ttl_col = ttl_col in df.columns
    has_state_col = state_col in df.columns

    def fold(carry, ks, pdf):
        n = len(pdf)
        t = _series_us(pdf[time_col])
        null_t = pdf[time_col].isna().to_numpy(dtype=bool)
        cols = list(pdf.columns)
        f_arrs = [pdf[f].tolist() for f in fields]
        st_arr = pdf[state_col].tolist() if has_state_col else None
        ttl_arr = (
            pdf[ttl_col].to_numpy(dtype="float64", na_value=np.nan)
            if has_ttl_col
            else None
        )

        def batch_expired(i, ti, ct):
            if st_arr is not None and st_arr[i] == "expired":
                return True
            ttl_us = default_ttl_us
            if ttl_arr is not None and ttl_arr[i] == ttl_arr[i]:
                ttl_us = int(round(float(ttl_arr[i]) * 1_000_000))
            return ct - ti > ttl_us

        def old_expired(store, idx, ti, ct):
            if has_state_col and store[state_col][idx] == "expired":
                return True
            ttl_us = default_ttl_us
            if has_ttl_col and store[ttl_col][idx] is not None:
                ttl_us = int(round(float(store[ttl_col][idx]) * 1_000_000))
            return ct - ti > ttl_us

        ks_arr = np.asarray(ks, dtype=object)
        raw = _RawCols(pdf)
        emit: list = []  # (src 0=batch/1=old_of_key, row idx, store ref)
        live: dict = {}  # key -> [ct, lt, buf{ftk: [src, idx, t_us]}, store]

        def _load(k):
            got = live.get(k)
            if got is not None:
                return got
            c = carry.get(k)
            if c is None:
                cur = [0, None, {}, None]
            else:
                store = c["bc"]
                buf = {
                    fk: [1, x, c["bt"][x]] for x, fk in enumerate(c["bf"])
                }
                cur = [c["ct"], c["lt"], buf, store]
            live[k] = cur
            return cur

        cur_key = None
        cur = None
        for i in range(n):
            if null_t[i]:
                continue
            k = ks_arr[i]
            if k != cur_key:
                cur = _load(k)
                cur_key = k
            ti = int(t[i])
            if ti > cur[0]:
                cur[0] = ti
            if batch_expired(i, ti, cur[0]):
                continue
            # _cell_native, not _native: a timestamp-typed fields
            # column must isoformat — raw pd.Timestamp is not
            # JSON-serializable (ADVICE r8 #2)
            ftk = _json.dumps([_cell_native(a[i]) for a in f_arrs])
            buf = cur[2]
            ent = buf.get(ftk)
            # e/most-recent?: the stored event wins ties
            if ent is None or ent[2] < ti:
                buf[ftk] = [0, i, ti]
            if cur[1] is None:
                cur[1] = ti
            elif cur[0] >= cur[1] + dur_us:
                alive = {}
                for fk, e in buf.items():
                    if e[0] == 0:
                        dead = batch_expired(e[1], e[2], cur[0])
                    else:
                        dead = old_expired(cur[3], e[1], e[2], cur[0])
                    if not dead:
                        alive[fk] = e
                        emit.append((e[0], e[1], cur[3]))
                cur[2] = alive
                cur[1] = cur[0]
        # rebuild each touched key's carry: surviving buffer rows go
        # columnar (batch-sourced rows pay JSON conversion HERE, once)
        for k, cur in live.items():
            buf = cur[2]
            if not buf:
                carry[k] = {"ct": cur[0], "lt": cur[1], "bf": [], "bt": [],
                            "bc": {c: [] for c in cols}}
                continue
            bf, bt = [], []
            bc: dict = {c: [] for c in cols}
            for fk, e in buf.items():
                bf.append(fk)
                bt.append(e[2])
                if e[0] == 0:
                    i = e[1]
                    for c in cols:
                        bc[c].append(raw.cell(c, i))
                else:
                    store = cur[3]
                    for c in cols:
                        bc[c].append(store[c][e[1]])
            carry[k] = {"ct": cur[0], "lt": cur[1], "bf": bf, "bt": bt, "bc": bc}
        if not emit:
            return pdf.iloc[0:0]
        b_pos = [p for p, e in enumerate(emit) if e[0] == 0]
        o_pos = [p for p, e in enumerate(emit) if e[0] == 1]
        frames = []
        if b_pos:
            frames.append(pdf.iloc[[emit[p][1] for p in b_pos]])
        if o_pos:
            odf = pd.DataFrame(
                {c: [emit[p][2][c][emit[p][1]] for p in o_pos] for c in cols},
                columns=cols,
            )
            frames.append(_revive_datetime_cols(odf, pdf))
        if len(frames) == 1:
            return frames[0]
        out = pd.concat(frames, ignore_index=True)
        # concat row q holds emit position (b_pos+o_pos)[q]; restore
        # flush order by sorting rows on that position
        return out.iloc[np.argsort(np.asarray(b_pos + o_pos), kind="stable")]

    return _keyed_fold_scan(df, by, time_col, shards, fold)


# -- windowed aggregation twins (watermark + tumbling window) ---------------
# Expression bodies mirror operators/aggregations.py (same max_by /
# sorted-collect_list + post-projection shapes — keep in sync); only
# the grouping differs: F.window() + watermark instead of the batch
# bucket column, so append mode seals windows.


def _wgroup(df, duration_s, delay_s, by, time_col):
    src = df.withWatermark(time_col, f"{delay_s} seconds")
    w = F.window(F.col(time_col), f"{int(duration_s)} seconds")
    return src.groupBy(*[F.col(c) for c in by], w.alias("__w__"))


def _wfinish(g):
    return g.withColumn(
        "window_start", F.col("__w__.start").cast("double")
    ).drop("__w__")


def stream_top(
    df, duration_s, delay_s=0.0, by=(), time_col="time", metric_col="metric"
):
    """Streaming ``top`` (action.clj:2492-2514): per sealed window,
    the max-metric EVENT (ties to the later event) — mirrors
    aggregations.agg_top."""
    ev = F.struct(*[F.col(c) for c in df.columns])
    key = F.struct(F.col(metric_col), F.col(time_col))
    g = _wfinish(_wgroup(df, duration_s, delay_s, by, time_col).agg(
        F.max_by(ev, key).alias("__e__")))
    return g.select(*by, "window_start", "__e__.*")


def stream_bottom(
    df, duration_s, delay_s=0.0, by=(), time_col="time", metric_col="metric"
):
    """Streaming ``bottom`` (action.clj:2516-2538) — mirrors
    aggregations.agg_bottom."""
    ev = F.struct(*[F.col(c) for c in df.columns])
    key = F.struct((-F.col(metric_col)).alias("m"), F.col(time_col))
    g = _wfinish(_wgroup(df, duration_s, delay_s, by, time_col).agg(
        F.max_by(ev, key).alias("__e__")))
    return g.select(*by, "window_start", "__e__.*")


def stream_percentiles(
    df, quantiles, duration_s, delay_s=0.0, by=(), time_col="time",
    metric_col="metric",
):
    """Streaming ``percentiles``/``coll-percentiles`` — exact
    nearest-rank over the sealed window (mirrors
    aggregations.agg_percentiles: idx = min(n-1, floor(n*q)))."""
    sorted_m = F.sort_array(F.collect_list(F.col(metric_col)))
    g = _wfinish(_wgroup(df, duration_s, delay_s, by, time_col).agg(
        sorted_m.alias("__m__")))
    qs = F.array(*[F.lit(float(q)) for q in quantiles])
    g = g.withColumn("quantile", F.explode(qs))
    n = F.size("__m__")
    idx = F.least(n - 1, F.floor(n.cast("double") * F.col("quantile")).cast("int"))
    return g.withColumn("metric", F.try_element_at("__m__", idx + 1)).drop("__m__")


def stream_coll_quotient(
    df, duration_s, delay_s=0.0, by=(), time_col="time", metric_col="metric"
):
    """Streaming ``coll-quotient`` — first metric ÷ each subsequent,
    event order (mirrors aggregations.coll_quotient's fold)."""
    ev = F.struct(F.col(time_col), F.col(metric_col).alias("m"))
    g = _wfinish(_wgroup(df, duration_s, delay_s, by, time_col).agg(
        F.sort_array(F.collect_list(ev)).alias("__evs__")))
    ms = F.transform(F.col("__evs__"), lambda x: x["m"])
    quot = F.aggregate(
        F.slice(ms, 2, F.greatest(F.size(ms) - 1, F.lit(0))),
        F.element_at(ms, 1).cast("double"),
        lambda acc, x: acc / x,
    )
    return g.withColumn("metric", quot).drop("__evs__")


def stream_coll_increase(
    df, duration_s, delay_s=0.0, by=(), time_col="time", metric_col="metric"
):
    """Streaming ``coll-increase`` — newest − oldest, ≥2 events,
    positive only (mirrors aggregations.coll_increase)."""
    t = F.unix_micros(F.col(time_col))
    g = _wfinish(_wgroup(df, duration_s, delay_s, by, time_col).agg(
        F.max_by(F.col(metric_col), t).alias("__new__"),
        F.max_by(F.col(metric_col), -t).alias("__old__"),
        F.count(F.lit(1)).alias("__n__"),
    ))
    out = g.withColumn("metric", F.col("__new__") - F.col("__old__")).drop(
        "__new__", "__old__"
    )
    return out.filter((F.col("__n__") >= 2) & (F.col("metric") > 0)).drop("__n__")


def stream_ratio(
    df, cond1, cond2, duration_s, delay_s=0.0, by=(), time_col="time",
    metric_col="metric", use_metric=False,
):
    """Streaming ``ratio`` (action.clj:2967-3009): conditional
    count/sum ratio per sealed window, zero denominator → 0 (mirrors
    aggregations.agg_ratio, same DECIMAL accumulation)."""
    from pyspark.sql import Column as _Col

    c1 = cond1 if isinstance(cond1, _Col) else compile_condition(cond1)
    c2 = cond2 if isinstance(cond2, _Col) else compile_condition(cond2)
    if use_metric:
        v = F.coalesce(F.col(metric_col), F.lit(0.0)).cast(DEC)
        num = F.sum(F.when(c1, v).otherwise(F.lit(0).cast(DEC))).cast("double")
        den = F.sum(F.when(c2, v).otherwise(F.lit(0).cast(DEC))).cast("double")
    else:
        num = F.count_if(c1).cast("double")
        den = F.count_if(c2).cast("double")
    ratio = F.when(den == 0, F.lit(0.0)).otherwise(num / den)
    return _wfinish(_wgroup(df, duration_s, delay_s, by, time_col).agg(
        ratio.alias("metric")))


def stream_coll_topk(
    df, k, duration_s, delay_s=0.0, by=(), time_col="time",
    metric_col="metric", biggest=True,
):
    """Streaming ``coll-top``/``coll-bottom``: the k best events per
    sealed window as rows. The batch twin ranks with a window
    function (not streamable); here the k-slice comes off a sorted
    collect_list — same tie rule (metric, then later event wins)
    encoded in the struct sort key."""
    sign = -1 if biggest else 1
    t = F.unix_micros(F.col(time_col))
    ev = F.struct(*[F.col(c) for c in df.columns])
    keyed = F.struct(
        (F.col(metric_col) * sign).alias("m"), (-t).alias("nt"), ev.alias("e")
    )
    g = _wfinish(_wgroup(df, duration_s, delay_s, by, time_col).agg(
        F.slice(F.sort_array(F.collect_list(keyed)), 1, k).alias("__top__")))
    ex = g.select(*by, "window_start", F.explode("__top__").alias("__x__"))
    return ex.select(*by, "window_start", "__x__.e.*")


def stream_project(
    df, conditions, duration_s, delay_s=0.0, time_col="time",
    metric_col="metric", by=(),
):
    """Streaming ``project`` (action.clj:1377-1463): latest event
    matching each of N conditions per sealed window — the same N
    conditional max_by aggregates as the batch twin (windows.project),
    watermarked tumbling window, no self-join."""
    from pyspark.sql import Column as _Col

    ord_key = F.struct(F.col(time_col))
    aggs = []
    for i, cond in enumerate(conditions, start=1):
        c = cond if isinstance(cond, _Col) else compile_condition(cond)
        aggs.append(
            F.max_by(F.when(c, F.col(metric_col)), F.when(c, ord_key)).alias(
                f"metric_{i}"
            )
        )
    return _wfinish(_wgroup(df, duration_s, delay_s, by, time_col).agg(*aggs))



def stream_moving_time_window(
    df: DataFrame,
    duration_s: float,
    by: Sequence[str],
    time_col: str = "time",
) -> DataFrame:
    """Streaming ``moving-time-window`` (action.clj:2596-2639): per
    event, all of its key's events within the trailing ``duration``
    seconds — a keyed-state buffer trimmed by exact µs bound (same
    (-(dur-1µs), 0] range as the batch twin's range frame)."""
    import json as _json

    import pandas as pd

    dur_us = int(round(duration_s * 1_000_000))
    ts_cols = [c for c, t in df.dtypes if t.startswith("timestamp")]

    ev_struct = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        + f", events array<struct<{ev_struct}>>"
    )

    def batch_fn(st, pdf):
        (buf_json,) = st
        buf = _json.loads(buf_json) if buf_json else []  # [(t_us, row)]
        t = _series_us(pdf[time_col])
        raw = _RawCols(pdf)
        cols = list(pdf.columns)
        events_col = []
        for i in range(len(pdf)):
            ti = int(t[i])
            buf.append((ti, raw.row(cols, i)))
            lo = ti - dur_us + 1
            buf = [(tb, e) for tb, e in buf if tb >= lo]
            events_col.append([_revive_ts_fields(e, ts_cols) for _, e in buf])
        out = pdf.copy()
        out["events"] = events_col
        return (_json.dumps(buf),), out

    return _keyed_batch_scan(
        df, by, time_col, "buf STRING", (None,), batch_fn, out_schema=out_schema
    )


def stream_expired(
    df: DataFrame,
    by: Sequence[str],
    time_col: str = "time",
    ttl_col: str | None = "ttl",
    state_col: str | None = "state",
    keep_expired: bool = True,
    shards: int | None = None,
) -> DataFrame:
    """Streaming ``expired``/``not-expired`` (action.clj:427-474):
    the stream clock is the running max event time PER KEY (the
    reference's clock is per-stream; a key's fork owns its clock
    downstream of `by`), carried in keyed state; expiry follows
    event.clj:12-19 (state == "expired" or age > coalesce(ttl, 120)).
    The whole slice evaluates in ONE vectorized pass — segment starts
    seed each key's accumulate from the carry, segment ends write it
    back; Python work is O(distinct keys in batch). ``shards`` picks
    the grouping (see ``_keyed_fold_scan``).
    """
    import numpy as np

    has_ttl = ttl_col is not None and ttl_col in df.columns
    has_state = state_col is not None and state_col in df.columns

    def fold(carry, ks, pdf):
        n = len(pdf)
        has_time = pdf[time_col].notna().to_numpy(dtype=bool)
        t = _series_us(pdf[time_col]).astype("float64")
        t = np.where(has_time, t, -np.inf)  # null time: no age, no clock
        ks_arr = np.asarray(ks, dtype=object)
        starts = np.flatnonzero(
            np.concatenate(([True], ks_arr[1:] != ks_arr[:-1]))
        )
        ends = np.concatenate((starts[1:], [n]))
        run = np.empty(n, dtype="float64")
        for s0, e0 in zip(starts.tolist(), ends.tolist()):
            k = ks_arr[s0]
            seg = np.maximum.accumulate(t[s0:e0])
            mx = carry.get(k)
            if mx is not None:
                seg = np.maximum(seg, float(mx))
            run[s0:e0] = seg
            fin = seg[np.isfinite(seg)]
            if len(fin):
                carry[k] = float(fin[-1])
        age_s = (run - t) / 1_000_000.0
        if has_ttl:
            ttl = pdf[ttl_col].astype("float64").fillna(120.0).to_numpy()
        else:
            ttl = np.full(n, 120.0)
        # null time ⇒ not expired-by-age (batch twin's null-safe rule)
        exp = (age_s > ttl) & has_time
        if has_state:
            exp |= (pdf[state_col] == "expired").to_numpy(dtype=bool)
        return pdf[exp if keep_expired else ~exp]

    return _keyed_fold_scan(df, by, time_col, shards, fold)


def stream_sessionize(
    df: DataFrame,
    gap_s: float,
    delay_s: float = 0.0,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str | None = "metric",
) -> DataFrame:
    """Streaming twin of
    :func:`mirabelle_spark.operators.windows.sessionize`: the same
    native session_window aggregate under a watermark — sessions
    close (and emit, in append mode) once the watermark passes their
    gap-extended end. Identical output columns and decimal-exact
    metric sum, so batch/stream parity is exact on availableNow."""
    src = df.withWatermark(time_col, f"{delay_s} seconds")
    w = F.session_window(F.col(time_col), f"{int(gap_s * 1_000_000)} microseconds")
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if metric_col is not None:
        aggs.append(
            F.sum(F.coalesce(F.col(metric_col), F.lit(0.0)).cast(DEC))
            .cast("double")
            .alias("metric")
        )
    return (
        src.groupBy(*[F.col(c) for c in by], w.alias("__s__"))
        .agg(*aggs)
        .withColumn("session_start", F.unix_micros(F.col("__s__.start")))
        .withColumn("session_end", F.unix_micros(F.col("__s__.end")))
        .drop("__s__")
    )


# The zscore twins fold Decimal moments under this precision (a
# DECIMAL(38,9) term has up to 38 significant digits; 60 keeps the
# running sums exact past ~1e21 such terms — the default context's
# 28 would silently round sums AND raise InvalidOperation quantizing
# m*m for |metric| >= ~3.2e9).
_ZSCORE_PREC = 60


def _zscore_q9(x: float):
    """Spark's non-ANSI double -> DECIMAL(38,9) cast: shortest-repr
    HALF_UP rounding at scale 9; values past 38 total digits
    (|q| >= 1e29) overflow to NULL (None) — the windowed SUM skips
    the term while COUNT still sees the row. (The batch twin runs
    under this session's ANSI mode and *raises* on such inputs, so
    bit-exact parity on every input the batch accepts is unaffected;
    the streaming twin degrades per the non-ANSI cast instead of
    crashing the query.) Call under a localcontext with
    prec >= _ZSCORE_PREC.

    The magnitude gate runs BEFORE the quantize: a double can reach
    ~1.8e308 (and m*m arrives here too), whose scale-9 quantize needs
    ~317 digits — InvalidOperation at any reasonable prec. |x| < 1e29
    (incl. every in-range double: ≤17 significant digits + 9 scale =
    ≤38 ≤ prec) is the only region that reaches Decimal; it also
    screens inf. Doubles near 1e29 are ~1.6e13 apart, so no in-range
    value can round UP across the bound at scale 9 — the belt-and-
    braces adjusted() check never fires, but keeps the invariant
    local."""
    from decimal import ROUND_HALF_UP, Decimal

    if not (-1e29 < x < 1e29):
        return None
    q = Decimal(repr(x)).quantize(Decimal("0.000000001"), rounding=ROUND_HALF_UP)
    return None if q.adjusted() >= 29 else q


def stream_zscore(
    df: DataFrame,
    window_s: float,
    by: Sequence[str],
    time_col: str = "time",
    metric_col: str = "metric",
    min_n: int = 2,
    out: str = "zscore",
    shards: int | None = None,
) -> DataFrame:
    """Streaming twin of :func:`mirabelle_spark.operators.stateful.zscore`:
    per event, the metric's deviation from the trailing ``window_s``
    seconds of its key, in standard deviations.

    Exactness: keyed state carries the trailing window as
    ``(t_us, q1, q2)`` triples plus running DECIMAL(38,9) sums, where
    ``q1``/``q2`` are the metric and its double-squared value rounded
    HALF_UP at scale 9 from the shortest decimal representation —
    the same rule Spark's double→decimal cast applies in the batch
    twin's range frame. Decimal add/subtract is exact, so the sums
    after any insert/evict sequence equal the batch window's sums,
    and the double-space mean/variance/z arithmetic replays the
    batch expression op-for-op: parity is bit-identical on in-order
    input (the window is the arrival-order prefix — a same-timestamp
    peer arriving later is not retroactively included, the standard
    trade of every streaming twin here, cf. stream_moving_time_window).

    Cost: O(1) amortized per event (append + evict, two decimal
    adds/subs); state is bounded by events-per-window per key.
    ``shards`` picks the grouping (see ``_keyed_fold_scan``)."""
    import math
    from decimal import Decimal, localcontext

    import numpy as np
    import pandas as pd

    win_us = int(round(window_s * 1_000_000))

    def fold(carry, ks, pdf):
        t = _series_us(pdf[time_col])
        vals = pdf[metric_col].to_numpy(dtype="float64", na_value=np.nan)
        zs = np.full(len(pdf), np.nan)
        unset = object()
        prev = unset
        cur = None
        live: dict = {}  # decoded states this batch (decimal objects)

        def _load(k):
            if k in live:
                return live[k]
            st = carry.get(k)
            if st is None:
                c = [[], Decimal(0), Decimal(0), 0, 0]
            else:
                c = [
                    [
                        (
                            tt,
                            None if a is None else Decimal(a),
                            None if b is None else Decimal(b),
                        )
                        for tt, a, b in st["b"]
                    ],
                    Decimal(st["s1"]),
                    Decimal(st["s2"]),
                    # pre-r8 carries had no counters (no NULL terms then)
                    st.get("c1", sum(1 for e in st["b"] if e[1] is not None)),
                    st.get("c2", sum(1 for e in st["b"] if e[2] is not None)),
                ]
            live[k] = c
            return c

        with localcontext() as ctx:
            ctx.prec = _ZSCORE_PREC
            for i in range(len(pdf)):
                k = ks[i]
                if k != prev:
                    cur = _load(k)
                    prev = k
                buf = cur[0]
                ti = int(t[i])
                v = vals[i]
                m = 0.0 if v != v else float(v)
                q1, q2 = _zscore_q9(m), _zscore_q9(m * m)
                buf.append((ti, q1, q2))
                if q1 is not None:
                    cur[1] += q1
                    cur[3] += 1
                if q2 is not None:
                    cur[2] += q2
                    cur[4] += 1
                lo = ti - win_us
                drop = 0
                for tt, a, b in buf:
                    if tt >= lo:
                        break
                    if a is not None:
                        cur[1] -= a
                        cur[3] -= 1
                    if b is not None:
                        cur[2] -= b
                        cur[4] -= 1
                    drop += 1
                if drop:
                    del buf[:drop]
                n = len(buf)
                if n >= min_n and v == v and cur[3] and cur[4]:
                    nd = float(n)
                    mean = float(cur[1]) / nd
                    var = max(float(cur[2]) / nd - mean * mean, 0.0)
                    if var > 0.0:
                        zs[i] = (float(v) - mean) / math.sqrt(var)
        for k, (b, a1, a2, k1, k2) in live.items():
            carry[k] = {
                "b": [
                    [tt, None if x is None else str(x), None if y is None else str(y)]
                    for tt, x, y in b
                ],
                "s1": str(a1),
                "s2": str(a2),
                "c1": k1,
                "c2": k2,
            }
        res = pdf.copy()
        res[out] = pd.array(zs, dtype="float64")
        return res

    return _keyed_fold_scan(
        df, by, time_col, shards, fold, extra_out=f"{out} double"
    )


def stream_smax_jvm(
    df: DataFrame,
    by: Sequence[str],
    time_col: str = "time",
    metric_col: str = "metric",
) -> DataFrame:
    """Pure-JVM smax tier (VERDICT r7 ask #1b): keyed streaming
    aggregation ``max(struct(metric, -t, row))`` — scalar-struct
    state in Spark's own state store, NO Python on the path at all.

    Emission grain is the trade vs :func:`stream_smax`, which
    forwards the best-so-far event for EVERY input event
    (action.clj:2742-2772's per-event Riemann semantics); this tier
    emits one best-so-far row per key per micro-batch that touched
    the key (update output mode) — at 1M+ hot keys that is the
    emission grain an alert consumer can absorb anyway, and the last
    update per key is bit-equal to the batch twin's final best
    (parity pytest). Tie-breaks deterministically: strictly greater
    metric wins, then the EARLIEST event (stream_smax's
    first-winner-on-ties rule under time-ordered arrival); a NULL
    metric never beats a non-null one (struct ordering sorts nulls
    lowest), diverging from stream_smax's "a null first event
    occupies the slot" edge.

    State per key is one struct row (bounded by key cardinality, no
    row buffers); use ``.outputMode("update")`` on the writer."""
    is_ts = dict(df.dtypes)[time_col].startswith("timestamp")
    tnum = (
        F.unix_micros(F.col(time_col))
        if is_ts
        else F.col(time_col).cast("double")
    )
    best = F.max(
        F.struct(
            F.col(metric_col).alias("__m__"),
            (-tnum).alias("__nt__"),
            F.struct(*[F.col(c) for c in df.columns]).alias("__row__"),
        )
    ).alias("__best__")
    return df.groupBy(*[F.col(c) for c in by]).agg(best).select("__best__.__row__.*")


def stream_smin_jvm(
    df: DataFrame,
    by: Sequence[str],
    time_col: str = "time",
    metric_col: str = "metric",
) -> DataFrame:
    """Pure-JVM smin tier: :func:`stream_smax_jvm` over the negated
    metric, negated back (the same composition as
    :func:`stream_smin`; -NULL = NULL so null metrics still lose)."""
    neg = df.withColumn(metric_col, -F.col(metric_col))
    out = stream_smax_jvm(neg, by, time_col, metric_col)
    return out.withColumn(metric_col, -F.col(metric_col))


def _cell_native(v):
    """One buffered cell → JSON-able (timestamps to isoformat)."""
    return _native(v.isoformat() if hasattr(v, "isoformat") else v)


class _RawCols:
    """Cell access for the row-buffer folds, adaptive to the
    touch density the batch size implies. ``pdf[c].iloc[i]`` per
    touch pays a Series lookup + slice object; two regimes fix it:

    - small/medium batches (≤ ``_DENSE_MAX`` rows — where a fold may
      touch MOST rows, e.g. every key buffering at 1M distinct
      keys): one lazy ``.tolist()`` per touched column, then plain
      list indexing (measured 2-2.7× on the §43 worst case);
    - huge batches (a 10M-row availableNow pass touching only a few
      thousand buffered cells): cached-Series ``.iat``/``.iloc`` —
      whole-column materialization there costs more than it saves.

    Both regimes yield the same values the old iloc path did
    (datetime64 → pd.Timestamp, numpy scalars native via _native)."""

    _DENSE_MAX = 2_000_000

    def __init__(self, pdf):
        self._pdf = pdf
        self._dense = len(pdf) <= self._DENSE_MAX
        self._cols: dict = {}

    def _series(self, c):
        got = self._cols.get(c)
        if got is None:
            got = self._cols[c] = (
                self._pdf[c].tolist() if self._dense else self._pdf[c]
            )
        return got

    def cell(self, c, i):
        col = self._series(c)
        return _cell_native(col[i] if self._dense else col.iat[i])

    def row(self, cols, i):
        return {c: self.cell(c, i) for c in cols}

    def slice_native(self, c, i, j):
        col = self._series(c)
        vals = col[i:j] if self._dense else col.iloc[i:j]
        return [_cell_native(v) for v in vals]


def _revive_datetime_cols(bdf, like_pdf):
    import pandas as pd

    for c in like_pdf.columns:
        if str(like_pdf[c].dtype).startswith("datetime64"):
            bdf[c] = pd.to_datetime(bdf[c])
    return bdf


def _revive_ts_fields(e, ts_cols):
    """One buffered JSON row dict → emission: isoformat strings back
    to pd.Timestamp for EVERY timestamp-typed column — a
    timestamp-typed payload field must round-trip the JSON buffer
    exactly like the time column (ADVICE r8 #2 and siblings)."""
    import pandas as pd

    rv = {c: pd.Timestamp(e[c]) for c in ts_cols if e.get(c) is not None}
    return {**e, **rv} if rv else e
