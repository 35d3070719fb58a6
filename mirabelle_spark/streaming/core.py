"""Structured Streaming shell (SURVEY §2.8, M3).

The reference is a push engine driven by event time; Structured
Streaming preserves its semantics because the clock is the event
column, not arrival: the per-operator ``:delay`` lateness tolerance
(action.clj:2420-2432) IS ``withWatermark``, tumbling
``fixed-time-window``/aggregations ARE ``groupBy(window(...))``, and
per-key operator state IS the keyed state store.

The windowed aggregates live only in ``operators/``: the DSL
watermarks the stream and calls the batch operator, whose
``aggregations.window_agg`` groups on ``window()``. This module holds
the streaming forms that differ from batch: sources and sinks, the
keyed-state folds, the dedup and curation heads, and
``stream_coll_topk`` (batch ``coll_top`` ranks with ``row_number``,
which streaming rejects). A keyed fold produces the same rows as its
batch operator over the same finite input when run with an
``availableNow`` trigger (asserted in tests/test_streaming.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mirabelle_spark.conditions import compile_condition
from mirabelle_spark.operators.aggregations import window_agg

# Every keyed-state operator routes its keys to pmod(xxhash64(by), N)
# state groups; N is this unless the caller passes ``shards``.
_DEFAULT_SHARDS = 64


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


def _series_us(ts) -> "object":
    """pandas time Series → int64 numpy µs (exact integer time math,
    same rule as the batch twins)."""
    if str(ts.dtype).startswith("datetime64"):
        return ts.astype("int64").to_numpy() // 1_000
    return (ts.astype("float64") * 1_000_000).round().astype("int64").to_numpy()


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
    compared against (action.clj:334-360).

    The micro-batch compare is one vectorized shift; only the key
    segment starts read the carry and segment ends write it, so the
    Python work is O(distinct keys in batch). Any field dtype works;
    array fields compare (and carry) as tuples.
    ``shards`` sets the shard count (see ``_keyed_fold_scan``).
    """
    import numpy as np
    import pandas as pd

    is_array = dict(df.dtypes)[fieldname].startswith("array")

    def as_key(v):
        return tuple(v) if is_array and v is not None else v

    start = as_key(init)

    def fold(carry, keys, starts, pdf):
        vals = pdf[fieldname]
        if is_array:
            vals = pd.Series([as_key(v) for v in vals.tolist()], dtype=object)
        prev = vals.shift(1)
        # ONE positional gather/scatter per batch — per-element .iloc
        # writes cost more than the whole fold at 1-row segments
        seed = [carry.get(k, start) for k in keys]
        prev.iloc[starts] = pd.Series(seed, dtype=prev.dtype).to_numpy()
        same = (vals == prev) | (vals.isna() & prev.isna())
        ends = np.append(starts[1:], len(pdf)) - 1
        for k, v in zip(keys, vals.iloc[ends].tolist()):
            carry[k] = v
        return pdf[~same.to_numpy(dtype=bool)]

    return _keyed_fold_scan(df, by, time_col, shards, fold)


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
    neardup_shards: int = _DEFAULT_SHARDS,
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
    shards: int = _DEFAULT_SHARDS,
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
    3. ONE keyed-state pass (the keyed-fold shell:
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
    shards: int = _DEFAULT_SHARDS,
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

    def shard_fold(carry, keys, starts, pdf):
        # a sentinel row (band_id < 0) is never a duplicate and never
        # seeds state; a real row is a duplicate unless it is its
        # key's first real row and the key is new to the carry
        import numpy as np

        dup = pdf["__band_id__"].to_numpy() >= 0
        real = np.flatnonzero(dup)
        seg = _segment_ids(starts, len(pdf))[real]
        first = np.concatenate(([True], seg[1:] != seg[:-1]))[: real.size]
        for i, j in zip(real[first].tolist(), seg[first].tolist()):
            dup[i] = keys[j] in carry
            carry[keys[j]] = 1
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


# -- keyed-state folds: one fold, two shells ---------------------------------
# Every keyed operator below is ONE fold
# ``fold(carry, keys, starts, pdf) -> out``: ``pdf`` is a slice
# holding each key's rows as one contiguous, event-time-ordered
# segment; ``starts`` (int array, strictly increasing from 0) is the
# first row of each segment and ``keys`` its key string, each key
# appearing once; ``carry`` is the {key string: state} map the fold
# reads at segment starts and writes at segment ends. A fold never
# works out key identity itself: the shells own it
# (``_key_segments``).
#
# The streaming shell (``_keyed_fold_scan``) routes keys to
# pmod(xxhash64(by), N) key groups, the shards (N = ``shards`` or
# ``_DEFAULT_SHARDS``): key groups, not one state group per key, as
# in ICDE 2025, "Towards Fine-Grained Scalability for Stateful Stream
# Processing Systems". applyInPandasWithState calls the Python state
# fn once per GROUP per micro-batch, so at 10^6 keys N groups replace
# 10^6 interpreter round-trips (PERF §39: ewma 7.9k → 214k ev/s at 1M
# keys; PERF §91 measures the few-key end). The whole shard map
# round-trips per batch — right when most keys are touched each
# batch. An unkeyed fold (coalesce without ``by``) keys on the
# constant ``_UNKEYED_COL``: one key in one shard.
#
# The shell owns the carry's format: one ``carry BINARY`` state per
# shard holding the pickled {"c": carry, "n": N, "v": layout[, "t":
# seen]} blob (protocol 5, the serializer PySpark itself moves every
# GroupState with). A fold stores cells exactly as pandas hands them
# (``Series.tolist()``: float, int, str, bytes, Decimal,
# pd.Timestamp, pd.Timedelta, date, ndarray, tuples) and encodes
# nothing, so a fold's per-key operation sequence is the same for
# every column dtype. The row-buffer folds (smax, stable, the event
# windows, coalesce) keep whole rows, and a buffered row has one
# form: the tuple of its cells in the fold's input column order
# (``_buffer_rows``); they build their output through
# ``_emit_rows``. ``"v"`` is ``_CARRY_LAYOUT``, the version of what
# the folds keep in ``"c"``: a blob with another version, or none,
# raises at restart instead of being misread (an older smax carry
# would unpack into the new one's shape). The batch twin
# (``_keyed_fold_batch``) is the same fold with an empty carry: a
# sorted table partition is one more key group. Key identity is
# Spark's groupBy identity in both shells: a null key is a key of its
# own, a NaN key another, -0.0 is 0.0.

_SHARD_COL = "__shard__"
_UNKEYED_COL = "__g__"  # the one constant key of an unkeyed fold
_NULL_KEY = "\x00null"
_NAN_KEY = "NaN"
_KEY_SEP = "\x1f"
# the carry layout version the blob records as "v": bump it whenever
# a fold changes what it keeps per key (2: row-buffer folds keep cell
# tuples; the unversioned layout before kept row dicts and columnar
# maps)
_CARRY_LAYOUT = 2

# stream_ewma: key runs longer than this take the scalar loop — the
# vectorized stepper costs O(max run) numpy dispatches per batch, so
# one hot key must not set the step count for the whole shard. At the
# shard tier's design point (high cardinality, short runs) every run
# is far below this.
_EWMA_VEC_CAP = 512


def _shard_key_strings(pdf, key_cols, key_dtypes, nan_flags=None):
    """Composite string key per row (the carry map key); nulls fold
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
    Spark groups NaN and null apart, but pandas hands both over as
    NaN: ``nan_flags`` maps a float key column to its Spark-side
    ``isnan`` flag column (``_key_columns``), and a flagged value
    renders as ``NaN``. Without a flag NaN folds under the null
    sentinel.

    INJECTIVE under adversarial string values: a value containing
    the separator or the escape byte is escaped (\\x00 -> \\x00"0",
    \\x1f -> \\x00"1") before joining, so escaped values never
    contain a bare separator and can never spell the null sentinel
    (whose second byte 'n' follows \\x00 only in the sentinel) —
    two distinct key tuples can't alias one state slot. Non-string
    key types (numeric formatting) never produce either byte, so
    the common path pays one containment check per value."""
    import numpy as np

    nan_flags = nan_flags or {}

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

    def render(c, dtype):
        conv = conv_for(dtype)
        out = [(_NULL_KEY if v is None or v != v else conv(v)) for v in pdf[c].tolist()]
        if c in nan_flags:
            for i in np.flatnonzero(pdf[nan_flags[c]].to_numpy(dtype=bool)).tolist():
                out[i] = _NAN_KEY
        return out

    cols = [render(c, t) for c, t in zip(key_cols, key_dtypes)]
    if len(cols) == 1:
        return cols[0]
    return [_KEY_SEP.join(row) for row in zip(*cols)]


def _key_columns(df, by):
    """The key identity both shells group by: ``(src, key_cols,
    key_dtypes, nan_flags)``. ``key_cols`` is ``by``, or the constant
    ``_UNKEYED_COL`` that ``src`` adds when ``by`` is empty;
    ``nan_flags`` maps each float/double key column to a flag column
    ``src`` adds, ``isnan(col)`` computed by Spark, so a NaN key stays
    apart from a null one after pandas has made both NaN. Other key
    types get no column."""
    key_cols = list(by)
    if not key_cols:
        df, key_cols = df.withColumn(_UNKEYED_COL, F.lit(0)), [_UNKEYED_COL]
    dtypes = dict(df.dtypes)
    key_dtypes = [dtypes[c] for c in key_cols]
    nan_flags = {
        c: f"__nan{i}__"
        for i, (c, t) in enumerate(zip(key_cols, key_dtypes))
        if t in ("float", "double")
    }
    if nan_flags:
        df = df.select(
            "*", *[F.isnan(F.col(c)).alias(f) for c, f in nan_flags.items()]
        )
    return df, key_cols, key_dtypes, nan_flags


def _key_codes(pdf, key_cols, nan_flags):
    """Factorized codes per key column — the identity the shells sort
    and segment by: nulls share code -1, ``-0.0 == 0.0``, and a NaN
    flagged in ``nan_flags`` gets code -2."""
    import numpy as np
    import pandas as pd

    codes = []
    for c in key_cols:
        k = pd.factorize(pdf[c])[0]
        if c in nan_flags:
            k = np.where(pdf[nan_flags[c]].to_numpy(dtype=bool), -2, k)
        codes.append(k)
    return codes


def _key_segments(pdf, codes, key_cols, key_dtypes, nan_flags):
    """The key segments of a slice whose key runs are contiguous:
    ``starts`` (int64 array) holds the first row of each run of equal
    ``codes`` (the slice's ``_key_codes``, in its row order) and
    ``keys`` the ``_shard_key_strings`` of those rows only, so carry
    keys are the same strings whatever the slicing."""
    import numpy as np

    change = np.zeros(len(pdf), dtype=bool)
    change[0] = True
    for k in codes:
        change[1:] |= k[1:] != k[:-1]
    starts = np.flatnonzero(change)
    cols = key_cols + list(nan_flags.values())
    keys = _shard_key_strings(
        pdf[cols].iloc[starts], key_cols, key_dtypes, nan_flags
    )
    return keys, starts


def _segment_ids(starts, n):
    """Per-row segment index of an ``n``-row slice."""
    import numpy as np

    return np.repeat(np.arange(len(starts)), np.diff(np.append(starts, n)))


def _keep_segments(keys, starts, keep):
    """``(keys, starts)`` of the slice ``pdf[keep]``: segments left
    with no row vanish."""
    import numpy as np

    seg = _segment_ids(starts, len(keep))[keep]
    if not seg.size:
        return [], seg
    first = np.flatnonzero(np.concatenate(([True], seg[1:] != seg[:-1])))
    return [keys[i] for i in seg[first].tolist()], first


def _buffer_rows(pdf, pos=None):
    """Buffered rows of a slice, all of them or those at positions
    ``pos``: per row the tuple of its cells in column order, the cells
    ``Series.tolist()`` hands out (what ``pdf.itertuples(index=False,
    name=None)`` yields)."""
    src = pdf if pos is None else pdf.take(pos)
    return list(zip(*[s.tolist() for _, s in src.items()]))


def _emit_rows(pdf, pos, carried):
    """A fold's output rows in order: ``pos[q] >= 0`` is row ``pos[q]``
    of the slice ``pdf``, ``-1`` the next buffered row of ``carried``
    (``_buffer_rows`` tuples from the carry). The slice rows are one
    positional gather; buffered rows become one frame whose columns
    pandas types from their cells."""
    import numpy as np
    import pandas as pd

    pos = np.asarray(pos, dtype=np.int64)
    if not carried:
        return pdf.take(pos)
    old = pd.DataFrame(carried, columns=pdf.columns)
    batch = pos >= 0
    nb = int(batch.sum())
    if not nb:
        return old
    # concat row r holds the r-th batch row, then the buffered ones:
    # map each output row to its concat row
    at = np.empty(len(pos), dtype=np.int64)
    at[batch] = np.arange(nb)
    at[~batch] = np.arange(nb, len(pos))
    return pd.concat([pdf.take(pos[batch]), old], ignore_index=True).take(at)


def _keyed_fold_scan(
    df, by, time_col, shards, fold, extra_out=None, state_ttl_s=None,
    out_schema=None,
):
    """The one streaming shell of the keyed folds (see the section
    comment): route the keys of ``by`` (or the constant
    ``_UNKEYED_COL``) to ``shards or _DEFAULT_SHARDS`` shards and run
    ONE ``applyInPandasWithState`` whose state is the pickled carry
    blob. Per shard and micro-batch the Arrow chunks are concatenated
    (only when there are several) and sorted once by (key, event
    time), so a key whose rows span chunks still folds in event-time
    order; ``_key_segments`` splits the slice and ``fold(carry, keys,
    starts, pdf)`` runs with the routing columns dropped. ``fold``
    mutates ``carry`` and returns the output rows; it never sees an
    empty slice. ``extra_out`` appends DDL columns the fold adds
    (e.g. zscore); ``out_schema`` replaces the whole output DDL (one
    row per fixed event window). Output rows show a NaN key as null:
    PySpark's pandas→Arrow conversion turns a float NaN into null.

    ``state_ttl_s`` is the fork GC (the reference's :fork-ttl) and
    needs no watermark: the shell tracks each key's last event time
    next to the carry and, after the fold, drops keys idle longer
    than the ttl relative to the shard's event clock (its running max
    event time); a key whose gap since its last event exceeds the ttl
    folds from scratch.

    The blob records the carry layout version ``"v"`` and the shard
    count ``"n"``, and a restart raises on either mismatch instead of
    folding on: a blob of another layout, or of none (written before
    the version was recorded), would be misread, and under another
    shard count most keys would route to shards that never saw them
    and silently restart their state. Only this shell writes the blob
    it unpickles: a checkpoint with another state layout fails at
    restart with Spark's state schema check —
    STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE for per-key state groups,
    STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE for another state value
    (the earlier JSON text map, typed per-key state).
    """
    import pickle

    import numpy as np
    import pandas as pd

    n_shards = shards or _DEFAULT_SHARDS
    if out_schema is None:
        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        if extra_out:
            out_schema += f", {extra_out}"
    src, key_cols, key_dtypes, nan_flags = _key_columns(df, by)
    src = src.withColumn(
        _SHARD_COL,
        F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_shards)),
    )
    routing = [c for c in src.columns if c not in df.columns]
    ttl_us = int(round(state_ttl_s * 1_000_000)) if state_ttl_s else None

    def fn(key, pdf_iter, state):
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        blob = (
            pickle.loads(state.get[0]) if state.exists
            else {"c": {}, "n": n_shards, "v": _CARRY_LAYOUT}
        )
        if blob.get("v") != _CARRY_LAYOUT:
            raise ValueError(
                f"keyed state was written in carry layout version "
                f"{blob.get('v')} but this code reads version "
                f"{_CARRY_LAYOUT}; a changed layout needs a new checkpoint"
            )
        if blob["n"] != n_shards:
            raise ValueError(
                f"keyed state was written with {blob['n']} shards but the "
                f"query now runs {n_shards} shards; a changed shard count "
                "needs a new checkpoint"
            )
        carry = blob["c"]
        # keys need only be contiguous, not ordered: a stable lexsort
        # on factorized key codes is ~3x cheaper than comparing key
        # strings
        codes = _key_codes(pdf, key_cols, nan_flags)
        order = np.lexsort([pdf[time_col].to_numpy(), *reversed(codes)])
        pdf = pdf.take(order)
        keys, starts = _key_segments(
            pdf, [k[order] for k in codes], key_cols, key_dtypes, nan_flags
        )
        pdf = pdf.drop(columns=routing)
        if ttl_us is None:
            out = fold(carry, keys, starts, pdf)
        else:
            seen = blob.setdefault("t", {})
            tv = _series_us(pdf[time_col])
            # restart rule BEFORE the fold: a key whose gap since its
            # last event exceeds the ttl folds from scratch
            for k, sidx in zip(keys, starts.tolist()):
                prev = seen.get(k)
                if prev is not None and int(tv[sidx]) - prev > ttl_us:
                    seen.pop(k, None)
                    carry.pop(k, None)
            out = fold(carry, keys, starts, pdf)
            # memory bound AFTER the fold: keys idle past the ttl on
            # the shard's event clock drop even if they never return
            for k, e in zip(keys, (np.append(starts[1:], len(pdf)) - 1).tolist()):
                t_last = int(tv[e])
                prev = seen.get(k)
                seen[k] = t_last if prev is None else max(prev, t_last)
            cutoff = max(seen.values()) - ttl_us
            for k in [k for k, t in seen.items() if t < cutoff]:
                seen.pop(k, None)
                carry.pop(k, None)
        state.update((pickle.dumps(blob, protocol=5),))
        if len(out):
            yield out

    return src.groupBy(F.col(_SHARD_COL)).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="carry BINARY",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def _keyed_fold_batch(df, by, sort_cols, fold):
    """The batch shell of the keyed folds: the streaming ``fold`` run
    over a whole table, each key starting from an empty carry.

    Repartition on the key columns of ``_key_columns`` (``by``, or the
    constant ``_UNKEYED_COL``), sort within partitions on (key,
    ``sort_cols``) and stream each partition's Arrow chunks through
    one ``mapInPandas`` — no per-group Arrow slicing, so many small
    keys cost about a plain scan. Each chunk is split by
    ``_key_segments`` and folded as ``fold(carry, keys, starts,
    pdf)``. Between chunks only the last key's carry is kept: a sorted
    partition never comes back to a key, and that carry is what lets
    a key span two chunks. Null and NaN keys fold as keys of their
    own, as in the streaming shell and Spark's groupBy."""
    src, key_cols, key_dtypes, nan_flags = _key_columns(df, by)
    routing = [c for c in src.columns if c not in df.columns]
    src = src.repartition(*[F.col(c) for c in key_cols]).sortWithinPartitions(
        *[F.col(c) for c in key_cols], *[F.col(c) for c in sort_cols]
    )

    def run(chunks):
        carry = {}
        for pdf in chunks:
            if not len(pdf):
                continue
            codes = _key_codes(pdf, key_cols, nan_flags)
            keys, starts = _key_segments(pdf, codes, key_cols, key_dtypes, nan_flags)
            if routing:
                pdf = pdf.drop(columns=routing)
            yield fold(carry, keys, starts, pdf)
            last = keys[-1]
            carry = {last: carry[last]} if last in carry else {}

    return src.mapInPandas(run, schema=df.schema)


def _throttle_fold(count, duration_s, time_col):
    """The anchored-window throttle fold (action.clj:1163-1217): per
    key state (anchor_us, n), exact integer-µs window math. It loops
    over a primitive int64 array (the anchored recurrence is
    inherently sequential) and reloads the carry once per key
    segment; it never builds per-row dicts/Series. Rows must have a
    time: ``throttle_batch`` and ``stream_throttle`` filter out
    null-time rows before their shells."""
    import numpy as np

    dur_us = int(round(duration_s * 1_000_000))

    def fold(carry, keys, starts, pdf):
        tv = _series_us(pdf[time_col]).tolist()
        keep = np.empty(len(tv), dtype=bool)
        ends = np.append(starts[1:], len(tv)).tolist()
        for k, s0, e0 in zip(keys, starts.tolist(), ends):
            anchor, n = carry.get(k, (None, 0))
            for i in range(s0, e0):
                t = tv[i]
                if anchor is None or t >= anchor + dur_us:
                    anchor, n = t, 1
                    keep[i] = True
                elif n < count:
                    n += 1
                    keep[i] = True
                else:
                    keep[i] = False
            carry[k] = (anchor, n)
        return pdf[keep]

    return fold


def _ewma_fold(r, metric_col):
    """The ewma-timeless fold (action.clj:1248-1276): m' = r·x +
    (1−r)·m from m₀ = 0 per key; a null metric emits null and leaves
    the state untouched.

    A slice holding one key segment (a shard or batch chunk touched by
    one key) runs the scalar loop over a primitive float64 array. With several
    keys the fold is VECTORIZED across keys (r17: the per-row loop
    was ~62 % of the shard tier's CPU): the shell hands each key over
    as exactly one segment, and step j updates every key's j-th event
    at once with the SAME ``step`` as the scalar loop (numpy float64 ops
    are IEEE doubles — each key's value sequence sees the identical
    op order as the scalar loop, and as the DuckDB oracle's recursive
    CTE). A NaN event emits NaN and leaves the
    key's state unchanged, exactly the scalar branch. Keys whose run
    exceeds ``_EWMA_VEC_CAP`` take the scalar loop over just their
    rows."""
    import numpy as np
    import pandas as pd

    cap = _EWMA_VEC_CAP

    def step(v, m):
        return r * v + (1.0 - r) * m

    def _scalar_run(carry, k, vals, out, lo, hi):
        m = carry.get(k)
        for i in range(lo, hi):
            v = vals[i]
            if v != v:
                out[i] = np.nan
            else:
                m = step(v, m if m is not None else 0.0)
                out[i] = m
        if m is not None:
            carry[k] = m

    def fold(carry, keys, starts, pdf):
        n = len(pdf)
        vals = pdf[metric_col].to_numpy(dtype="float64", na_value=np.nan)
        out = np.empty(n)
        if starts.size == 1:
            _scalar_run(carry, keys[0], vals.tolist(), out, 0, n)
        else:
            lens = np.diff(np.append(starts, n))
            short = lens <= cap
            s_starts = starts[short]
            s_lens = lens[short]
            if s_starts.size:
                s_keys = [keys[i] for i in np.flatnonzero(short).tolist()]
                m0 = [carry.get(k) for k in s_keys]
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
                    stepped = step(v, m[:a])
                    m[:a] = np.where(real, stepped, m[:a])
                    out[pos] = np.where(real, stepped, np.nan)
                    seen[:a] |= real
                for o, mv in zip(order[seen].tolist(), m[seen].tolist()):
                    carry[s_keys[o]] = mv
            if not short.all():
                vl = vals.tolist()
                for si in np.flatnonzero(~short).tolist():
                    lo = int(starts[si])
                    _scalar_run(
                        carry, keys[si], vl, out, lo, lo + int(lens[si])
                    )
        res = pdf.copy()
        # NaN in a float64 column round-trips to SQL NULL via Arrow
        res[metric_col] = pd.array(out, dtype="float64")
        return res

    return fold


def stream_throttle(
    df: DataFrame,
    count: int,
    duration_s: float,
    by: Sequence[str],
    time_col: str = "time",
    shards: int | None = None,
) -> DataFrame:
    """Streaming anchored-window throttle (action.clj:1163-1217): the
    ``_throttle_fold`` that ``throttle_batch`` also runs, on the rows
    that have a time (the batch twin's filter). ``shards`` sets the
    shard count (see ``_keyed_fold_scan``)."""
    return _keyed_fold_scan(
        df.filter(F.col(time_col).isNotNull()), by, time_col, shards,
        _throttle_fold(count, duration_s, time_col),
    )


def stream_ewma(
    df: DataFrame,
    r: float,
    by: Sequence[str],
    time_col: str = "time",
    metric_col: str = "metric",
    state_ttl_s: float | None = None,
    shards: int | None = None,
) -> DataFrame:
    """Streaming ewma-timeless (action.clj:1248-1276): the
    ``_ewma_fold`` that ``ewma_timeless`` also runs, so both emit the
    same doubles. ``state_ttl_s`` evicts idle keys (fork GC, on the
    shard's event clock). ``shards`` sets the shard count (see
    ``_keyed_fold_scan``); PERF §39: 214k ev/s at 1M keys on shards
    vs 7.9k with one state group per key."""
    return _keyed_fold_scan(
        df, by, time_col, shards, _ewma_fold(r, metric_col),
        state_ttl_s=state_ttl_s,
    )


def stream_smax(
    df: DataFrame,
    by: Sequence[str],
    time_col: str = "time",
    metric_col: str = "metric",
    shards: int | None = None,
) -> DataFrame:
    """Streaming smax (action.clj:2742-2772): per input event output
    the best-so-far event of its key; strict > keeps the first winner
    on ties. The carry holds (best metric, best row) per key; the fold
    walks the slice with one carry reload per key segment, noting per
    event the batch position of its best, or -1 while the carried best
    still holds, and ``_emit_rows`` builds the output from those.
    ``shards`` sets the shard count (see ``_keyed_fold_scan``)."""
    import numpy as np

    def fold(carry, keys, starts, pdf):
        v = pdf[metric_col].to_numpy(dtype="float64", na_value=np.nan).tolist()
        ends = np.append(starts[1:], len(pdf))
        pos: list = []
        carried: list = []
        won: dict = {}  # key -> batch position of its best at slice end
        for k, s0, e0 in zip(keys, starts.tolist(), ends.tolist()):
            st = carry.get(k)
            best = None if st is None else -1
            best_v = -np.inf if st is None or st[0] is None else st[0]
            for i in range(s0, e0):
                x = v[i]
                if best is None or (x == x and x > best_v):
                    best = i
                    if x == x:
                        best_v = x
                pos.append(best)
                if best < 0:
                    carried.append(st[1])
            if best >= 0:
                won[k] = best
        for (k, i), row in zip(won.items(), _buffer_rows(pdf, list(won.values()))):
            carry[k] = (None if v[i] != v[i] else v[i], row)
        return _emit_rows(pdf, pos, carried)

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

    ``cond`` is what batch ``cond_dt`` takes: a condition vector
    (``[":>", "metric", 100]``, compiled by
    :func:`mirabelle_spark.conditions.compile_condition`) or a
    ``Column``. Spark evaluates it once per row into a ``__valid__``
    column (null ⇒ invalid) that the fold reads and the output drops.
    Null-time events are filtered out before the shell, as in batch
    (reference ``when event-time``). ``shards`` sets the shard count
    (see ``_keyed_fold_scan``)."""
    import numpy as np

    dt_us = int(round(dt_s * 1_000_000))
    c = cond if isinstance(cond, Column) else compile_condition(cond)
    src = df.filter(F.col(time_col).isNotNull()).withColumn(
        "__valid__", F.coalesce(c, F.lit(False))
    )

    def fold(carry, keys, starts, pdf):
        tv = _series_us(pdf[time_col]).tolist()
        valid = pdf["__valid__"].tolist()
        keep = np.empty(len(tv), dtype=bool)
        ends = np.append(starts[1:], len(tv)).tolist()
        for k, s0, e0 in zip(keys, starts.tolist(), ends):
            ok, flip = carry.get(k, (False, None))
            for i in range(s0, e0):
                t, va = tv[i], valid[i]
                if va and not ok:
                    ok, flip = True, t
                elif not va:
                    ok, flip = False, None
                keep[i] = va and ok and t > flip + dt_us
            carry[k] = (ok, flip)
        return pdf[keep]

    return _keyed_fold_scan(src, by, time_col, shards, fold).drop("__valid__")


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

    The carry per key is ``[max_us, has, value, flip_us, confirmed,
    buffer]``, the buffer being the unconfirmed run's rows
    (``_buffer_rows`` tuples). Python work per batch is O(value-runs),
    not O(rows): run boundaries come from one vectorized null-safe
    shift compare, confirmation points from searchsorted, and
    confirmed runs go out as position ranges of the slice. Only a
    key's last run, if still unconfirmed, is copied into the carry:
    an earlier unconfirmed run of the slice is always followed by a
    value change that drops it. Null-time events are filtered out
    before the shell, as in batch. ``shards`` sets the shard count
    (see ``_keyed_fold_scan``)."""
    import numpy as np

    dt_us = int(round(dt_s * 1_000_000))

    def _eq(a, b):
        if a is None or b is None:
            return a is None and b is None
        if isinstance(a, float) and isinstance(b, float) and a != a and b != b:
            return True
        return a == b

    def fold(carry, keys, starts, pdf):
        n = len(pdf)
        t = _series_us(pdf[time_col])
        ends = np.append(starts[1:], n)
        # out-of-order drop + running-max update per key, vectorized
        # per segment: the slice is (key, time)-sorted so only rows
        # below the key's STORED max can drop, and the new max is the
        # segment's last timestamp
        keep = np.ones(n, dtype=bool)
        for k, s0, e0 in zip(keys, starts.tolist(), ends.tolist()):
            st = carry.get(k)
            if st is not None:
                keep[s0:e0] = t[s0:e0] >= st[0]
                st[0] = max(st[0], int(t[e0 - 1]))
        if not keep.all():
            pdf = pdf[keep].reset_index(drop=True)
            keys, starts = _keep_segments(keys, starts, keep)
            t = t[keep]
            n = len(pdf)
            if not n:
                return pdf
            ends = np.append(starts[1:], n)
        # run boundaries: key change OR null-safe field value change
        fs = pdf[field]
        same_val = (fs.eq(fs.shift()) | (fs.isna() & fs.isna().shift(fill_value=False))).to_numpy(dtype=bool)
        run_start = ~same_val
        run_start[starts] = True
        rstarts = np.flatnonzero(run_start)
        rends = np.append(rstarts[1:], n)
        rsegs = _segment_ids(starts, n)[rstarts]
        vals = fs.tolist()

        out = np.zeros(n, dtype=bool)  # confirmed slice rows
        carried: list = []  # flushed buffered rows, in output order
        flush_at: list = []  # per flushed row: the slice row it precedes
        tail: dict = {}  # segment -> (state, run) buffered at slice end
        cur = -1  # segment of the runs being walked
        st = None
        for i, j, g in zip(rstarts.tolist(), rends.tolist(), rsegs.tolist()):
            if g != cur:
                if cur >= 0:
                    carry[keys[cur]] = st
                # the max spans the FULL key segment (set above only
                # for existing states)
                st = carry.get(keys[g]) or [
                    int(t[ends[g] - 1]), False, None, None, False, []
                ]
                cur = g
            v = vals[i]
            if not (st[1] and _eq(v, st[2])):
                st[1:] = [True, v, int(t[i]), False, []]
                tail.pop(g, None)
            if not st[4]:
                thresh = st[3] + dt_us
                kk = i + int(np.searchsorted(t[i:j], thresh, side="right"))
                if kk == j:  # run not yet stable: buffer it
                    tail[g] = (st, i, j)
                    continue
                # confirmed at kk: flush buffer + whole run
                st[4] = True
                carried.extend(st[5])
                flush_at.extend([i] * len(st[5]))
                st[5] = []
            out[i:j] = True
        if cur >= 0:
            carry[keys[cur]] = st
        if tail:
            rows = _buffer_rows(pdf, np.concatenate(
                [np.arange(i, j) for _, i, j in tail.values()]))
            o = 0
            for buf_st, i, j in tail.values():
                buf_st[5].extend(rows[o:o + j - i])
                o += j - i
        pos = np.flatnonzero(out)
        if carried:
            pos = np.insert(pos, np.searchsorted(pos, flush_at), -1)
        return _emit_rows(pdf, pos, carried)

    return _keyed_fold_scan(
        df.filter(F.col(time_col).isNotNull()), by, time_col, shards, fold
    )


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
    order, which its out-of-order deftest relies on). The carry per
    key is (last event µs, partial window), the window's rows being
    ``_buffer_rows`` tuples; a full window's ``events`` array takes
    them as they are, as structs in input column order. ``shards``
    sets the shard count (see ``_keyed_fold_scan``).
    """
    import numpy as np
    import pandas as pd

    ttl_us = int(round(fork_ttl_s * 1_000_000)) if fork_ttl_s else None
    key_cols = list(by)
    by_struct = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        if f.name in by
    )
    out_schema = f"{by_struct}, window_start double, {_events_out(df)}"

    def fold(carry, keys, starts, pdf):
        cols = list(pdf.columns)
        t_at = cols.index(time_col)
        key_at = [cols.index(c) for c in key_cols]
        rows = _buffer_rows(pdf)
        t = _series_us(pdf[time_col]).tolist()
        ends = np.append(starts[1:], len(pdf))
        out_rows: list = []
        for k, s0, e0 in zip(keys, starts.tolist(), ends.tolist()):
            last_us, buf = carry.get(k, (None, []))
            keyvals = [rows[s0][c] for c in key_at]
            for i in range(s0, e0):
                if (
                    ttl_us is not None
                    and last_us is not None
                    and t[i] - last_us > ttl_us
                ):
                    buf = []  # stale fork: GC dropped it pre-event
                buf.append(rows[i])
                last_us = t[i]
                if len(buf) == n:
                    first = buf[0][t_at]
                    start = (
                        first.timestamp()
                        if hasattr(first, "timestamp")
                        else float(first)
                    )
                    out_rows.append((*keyvals, start, buf))
                    buf = []
            carry[k] = (last_us, buf)
        return pd.DataFrame(
            out_rows, columns=key_cols + ["window_start", "events"]
        )

    return _keyed_fold_scan(
        df, by, time_col, shards, fold, out_schema=out_schema
    )


def _trailing_fold(time_col, trim):
    """The trailing-buffer fold of moving-event-window and
    moving-time-window: per event, append its row to the key's buffer,
    cut the buffer with ``trim(buffer, t_us)`` (a list of (event µs,
    row) pairs, oldest first; the new event is last) and add the
    buffer's rows as the event's ``events`` array — structs in input
    column order. The carry per key is the buffer's rows
    (``_buffer_rows`` tuples); their times are read back from the time
    cells with the batch rows' conversion."""
    import numpy as np
    import pandas as pd

    def fold(carry, keys, starts, pdf):
        t_at = list(pdf.columns).index(time_col)
        rows = _buffer_rows(pdf)
        t = _series_us(pdf[time_col]).tolist()
        olds = [carry.get(k, []) for k in keys]
        old_t = iter(_series_us(pd.Series(
            [r[t_at] for rs in olds for r in rs], dtype=pdf[time_col].dtype
        )).tolist())
        events: list = [None] * len(rows)
        ends = np.append(starts[1:], len(rows))
        for k, old, s0, e0 in zip(keys, olds, starts.tolist(), ends.tolist()):
            buf = [(next(old_t), r) for r in old]
            for i in range(s0, e0):
                buf.append((t[i], rows[i]))
                buf = trim(buf, t[i])
                events[i] = [r for _, r in buf]
            carry[k] = events[e0 - 1]
        out = pdf.copy()
        out["events"] = events
        return out

    return fold


def _events_out(df):
    """DDL of an ``events`` array column holding ``df``'s rows as
    structs."""
    ev_struct = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    return f"events array<struct<{ev_struct}>>"


def stream_moving_event_window(
    df: DataFrame,
    n: int,
    by: Sequence[str],
    time_col: str = "time",
    shards: int | None = None,
) -> DataFrame:
    """Streaming ``moving-event-window`` (action.clj:1219-1246): on
    every event, add the trailing ``n`` events of its key as an
    ``events`` array, like the batch twin's collect_list window — the
    ``_trailing_fold`` keeping the last ``n`` rows. Output cost is
    O(rows·n) (the output shape demands it). ``shards`` sets the shard
    count (see ``_keyed_fold_scan``)."""
    return _keyed_fold_scan(
        df, by, time_col, shards,
        _trailing_fold(time_col, lambda buf, t_us: buf[-n:]),
        extra_out=_events_out(df),
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
    Null-metric and null-time events are skipped entirely (they never
    become the new previous): Spark filters them out before the shell,
    as batch ``ddt`` drops them, so a NaN the fold sees is a real NaN
    metric and folds like any number. An event emits when it has a
    previous event and a nonzero time delta, as batch ``try_divide`` +
    ``isNotNull`` does; ``remove_neg`` keeps NaN, which Spark orders
    above every number. ``shards`` sets the shard count (see
    ``_keyed_fold_scan``)."""
    import numpy as np
    import pandas as pd

    def fold(carry, keys, starts, pdf):
        t = _series_us(pdf[time_col]).astype("float64")
        m = pdf[metric_col].to_numpy(dtype="float64")
        prev_t = np.concatenate(([np.nan], t[:-1]))
        prev_m = np.concatenate(([np.nan], m[:-1]))
        for k, s in zip(keys, starts.tolist()):
            last = carry.get(k)
            prev_t[s], prev_m[s] = (
                (np.nan, np.nan) if last is None else (float(last[0]), float(last[1]))
            )
        dt = (t - prev_t) / 1_000_000.0
        with np.errstate(divide="ignore", invalid="ignore"):
            diff = (m - prev_m) / dt
        ok = ~np.isnan(prev_t) & (dt != 0)
        if remove_neg:
            ok &= (diff >= 0) | np.isnan(diff)
        ends = np.append(starts[1:], len(pdf)) - 1
        for k, e in zip(keys, ends.tolist()):
            carry[k] = (int(t[e]), float(m[e]))
        out = pdf[ok].copy()
        # a masked array, so Arrow keeps a NaN derivative NaN, not null
        kept = diff[ok]
        out[metric_col] = pd.arrays.FloatingArray(kept, np.zeros(kept.size, bool))
        return out

    src = df.filter(F.col(metric_col).isNotNull() & F.col(time_col).isNotNull())
    return _keyed_fold_scan(src, by, time_col, shards, fold)


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
    one tick clock, one key in one shard. The carry per key is
    ``(tick clock, last flush, {fields: (event µs, max age µs, row)})``,
    the rows being ``_buffer_rows`` tuples and the max age the one
    expiry needs (-1 for state == "expired"). Within a batch a kept
    entry refers to its batch row by POSITION, so the per-event loop
    touches only scalars and tuples; the batch rows still kept at the
    end of the batch are copied into the carry once. ``shards`` sets
    the shard count (see ``_keyed_fold_scan``).
    """
    import json as _json

    import numpy as np

    dur_us = int(round(duration_s * 1_000_000))
    default_ttl_us = int(round(default_ttl_s * 1_000_000))

    def fold(carry, keys, starts, pdf):
        n = len(pdf)
        t = _series_us(pdf[time_col])
        null_t = pdf[time_col].isna().to_numpy(dtype=bool)
        f_arrs = [pdf[f].tolist() for f in fields]
        # per row, the age past which it is expired: its ttl in µs, or
        # -1 for state == "expired" (the tick clock is never behind a
        # kept event, so such a row is always expired)
        age = np.full(n, default_ttl_us, dtype=np.int64)
        if ttl_col in pdf.columns:
            ttl = pdf[ttl_col].to_numpy(dtype="float64", na_value=np.nan)
            has = ttl == ttl
            age[has] = np.round(ttl[has] * 1_000_000)
        if state_col in pdf.columns:
            age[(pdf[state_col] == "expired").to_numpy(dtype=bool)] = -1
        age = age.tolist()

        pos: list = []  # per flushed entry: batch position, or -1
        carried: list = []  # the flushed buffered rows, in order
        live: dict = {}  # key -> [ct, lt, {ftk: (t_us, age, position | row)}]
        ends = np.append(starts[1:], n)
        for k, s0, e0 in zip(keys, starts.tolist(), ends.tolist()):
            cur = None  # loaded at the key's first timed row
            for i in range(s0, e0):
                if null_t[i]:
                    continue
                if cur is None:
                    cur = live[k] = list(carry.get(k, (0, None, {})))
                ti = int(t[i])
                if ti > cur[0]:
                    cur[0] = ti
                if cur[0] - ti > age[i]:
                    continue
                # the fields tuple's identity key: JSON text, not
                # pickle (pickle bytes of equal tuples can differ
                # through the memo); str() covers Timestamp, Decimal
                # and bytes fields
                ftk = _json.dumps([a[i] for a in f_arrs], default=str)
                buf = cur[2]
                ent = buf.get(ftk)
                # e/most-recent?: the stored event wins ties
                if ent is None or ent[0] < ti:
                    buf[ftk] = (ti, age[i], i)
                if cur[1] is None:
                    cur[1] = ti
                elif cur[0] >= cur[1] + dur_us:
                    alive = {}
                    for fk, e in buf.items():
                        if cur[0] - e[0] <= e[1]:
                            alive[fk] = e
                            if type(e[2]) is int:
                                pos.append(e[2])
                            else:
                                pos.append(-1)
                                carried.append(e[2])
                    cur[2] = alive
                    cur[1] = cur[0]
        # the batch rows still kept become buffered rows HERE, once
        at = [e[2] for cur in live.values() for e in cur[2].values()
              if type(e[2]) is int]
        rows = dict(zip(at, _buffer_rows(pdf, at)))
        for k, (ct, lt, buf) in live.items():
            carry[k] = (ct, lt, {
                fk: (tu, a, rows[r] if type(r) is int else r)
                for fk, (tu, a, r) in buf.items()
            })
        return _emit_rows(pdf, pos, carried)

    return _keyed_fold_scan(df, by, time_col, shards, fold)


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
    g = window_agg(
        df.withWatermark(time_col, f"{delay_s} seconds"), duration_s, by, time_col,
        F.slice(F.sort_array(F.collect_list(keyed)), 1, k).alias("__top__"),
    )
    ex = g.select(*by, "window_start", F.explode("__top__").alias("__x__"))
    return ex.select(*by, "window_start", "__x__.e.*")


def stream_moving_time_window(
    df: DataFrame,
    duration_s: float,
    by: Sequence[str],
    time_col: str = "time",
    shards: int | None = None,
) -> DataFrame:
    """Streaming ``moving-time-window`` (action.clj:2596-2639): per
    event, all of its key's events within the trailing ``duration``
    seconds — the ``_trailing_fold`` keeping the rows with t ≥ tᵢ −
    duration + 1 µs (the batch twin's (-(dur-1µs), 0] range frame, in
    exact µs). ``shards`` sets the shard count (see
    ``_keyed_fold_scan``)."""
    dur_us = int(round(duration_s * 1_000_000))

    def trim(buf, t_us):
        lo = t_us - dur_us + 1
        return [p for p in buf if p[0] >= lo]

    return _keyed_fold_scan(
        df, by, time_col, shards, _trailing_fold(time_col, trim),
        extra_out=_events_out(df),
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
    back; Python work is O(distinct keys in batch). ``shards`` sets
    the shard count (see ``_keyed_fold_scan``).
    """
    import numpy as np

    has_ttl = ttl_col is not None and ttl_col in df.columns
    has_state = state_col is not None and state_col in df.columns

    def fold(carry, keys, starts, pdf):
        n = len(pdf)
        has_time = pdf[time_col].notna().to_numpy(dtype=bool)
        t = _series_us(pdf[time_col]).astype("float64")
        t = np.where(has_time, t, -np.inf)  # null time: no age, no clock
        ends = np.append(starts[1:], n)
        run = np.empty(n, dtype="float64")
        for k, s0, e0 in zip(keys, starts.tolist(), ends.tolist()):
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
    ``(t_us, q1, q2)`` triples plus running DECIMAL(38,9) sums and
    their non-null term counts, as Decimal objects, where
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
    ``shards`` sets the shard count (see ``_keyed_fold_scan``)."""
    import math
    from decimal import Decimal, localcontext

    import numpy as np
    import pandas as pd

    win_us = int(round(window_s * 1_000_000))

    def fold(carry, keys, starts, pdf):
        t = _series_us(pdf[time_col])
        vals = pdf[metric_col].to_numpy(dtype="float64", na_value=np.nan)
        zs = np.full(len(pdf), np.nan)
        ends = np.append(starts[1:], len(pdf)).tolist()
        with localcontext() as ctx:
            ctx.prec = _ZSCORE_PREC
            for k, s0, e0 in zip(keys, starts.tolist(), ends):
                # [buf of (t_us, q1, q2), s1, s2, c1, c2]
                cur = carry.setdefault(k, [[], Decimal(0), Decimal(0), 0, 0])
                buf = cur[0]
                for i in range(s0, e0):
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
        res = pdf.copy()
        res[out] = pd.array(zs, dtype="float64")
        return res

    return _keyed_fold_scan(
        df, by, time_col, shards, fold, extra_out=f"{out} double"
    )

