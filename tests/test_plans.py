"""Plan-shape regression tests (SURVEY §4, PERF.md audits).

Correctness tests pin WHAT each operator computes; these pin HOW —
the physical plan properties that make the same code survive a 100×
scale-up. A regression here (a lost pushdown, an extra exchange, a
surprise single-partition sort) is a perf bug even though every
value stays right.
"""

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    """Execute, then return the AQE-FINAL physical plan — the only
    place runtime size-based broadcast decisions are visible."""
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in s:
        s = s.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    return s


def _broadcast_subtrees(plan: str) -> list[str]:
    """The operator subtree under each BroadcastExchange — what
    actually gets serialized to every executor. Depth = index of the
    tree-drawing marker ('+- ' / ':- ')."""

    def depth(ln: str) -> int:
        c = [i for i in (ln.find("+- "), ln.find(":- ")) if i >= 0]
        return min(c) if c else -1

    lines = plan.splitlines()
    subs = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        d = depth(ln)
        body = [ln]
        for nxt in lines[i + 1 :]:
            nd = depth(nxt)
            if 0 <= nd <= d:
                break
            body.append(nxt)
        subs.append("\n".join(body))
    return subs


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    import __spark_entry__ as entry

    return entry.queries()


def test_where_pushes_filters_to_scan(spark, qs):
    """Condition vectors compile to Catalyst columns, so predicate
    pushdown + column pruning must reach the parquet scan."""
    plan = _plan(qs["where_basic"](spark, SF_DIR))
    assert "PushedFilters: [" in plan
    # non-trivial pushdown, not an empty list
    assert "PushedFilters: []" not in plan


def test_agg_sum_single_exchange(spark, qs):
    """Windowed sum = partial aggregate → ONE shuffle → final
    aggregate. A second exchange would double the shuffle cost of
    every aggregation at scale."""
    plan = _plan(qs["agg_sum_hourly"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_revenue_join_broadcasts_small_dims(spark, qs):
    """The nation/region dimensions must broadcast; shuffling a
    25-row table's join side would shuffle the fact table twice."""
    plan = _plan(qs["revenue_by_nation"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_ann_bruteforce_broadcasts_queries(spark, qs):
    """The query side is broadcast by construction: the corpus is
    scanned once and never shuffled."""
    plan = _plan(qs["ann_bruteforce_topk"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan


def test_keyed_stateful_ops_have_no_single_partition(spark, qs):
    """Keyed scans (ewma, throttle, smax) and the expired clock must
    never plan an Exchange SinglePartition."""
    for name in ["ewma_smoothed", "throttle", "smax_running", "expired_events"]:
        plan = _plan(qs[name](spark, SF_DIR))
        assert "SinglePartition" not in plan, f"{name}:\n{plan}"


def test_projection_prunes_scan_columns(spark, qs):
    """A 2-column projection must not read all 6 event columns."""
    plan = _plan(qs["keep_keys_proj"](spark, SF_DIR))
    scan_line = next(line for line in plan.splitlines() if "FileScan" in line)
    assert "value" not in scan_line and "props" not in scan_line


def test_gate_priority_covers_first_fifty():
    """The driver gate samples the first 50 registry entries; the
    priority list must be exactly 50 unique, registered names and
    must lead the iteration order."""
    import __spark_entry__ as entry

    qs = entry.queries()
    assert len(entry.GATE_PRIORITY) >= 50
    assert len(set(entry.GATE_PRIORITY)) == len(entry.GATE_PRIORITY)
    assert list(qs)[:50] == entry.GATE_PRIORITY[:50]
    oracles = entry.oracle_sql()
    # every priority entry is oracle-backed (r4 gave the two former
    # rows-only LSH entries md5-derived exact-value oracles)
    missing = [n for n in entry.GATE_PRIORITY if n not in oracles]
    assert missing == []


def test_gate_priority_is_exactly_fifty_oracle_backed():
    """Backstop for the comment's invariant (r15 VERDICT ask #8):
    the list holds EXACTLY 50 names — the driver gates the first 50
    registry entries, so a 51st entry would silently never gate and
    a 49th would pull an unplanned query into the sample — and the
    rows-only-by-design winnow_dedup_pairs_fast must never appear
    (inside the head the driver would record an err for its missing
    oracle)."""
    import __spark_entry__ as E

    assert len(E.GATE_PRIORITY) == 50
    assert "winnow_dedup_pairs_fast" not in E.GATE_PRIORITY
    oracles = E.oracle_sql()
    assert all(n in oracles for n in E.GATE_PRIORITY)


def test_gate_priority_names_are_registered():
    """Every GATE_PRIORITY name must exist in the registry (a typo
    would silently rotate a nonexistent query into the driver gate's
    first 50 and shrink coverage), the first 50 must be unique, and
    every entry must carry an oracle."""
    import __spark_entry__ as E

    qs = E.queries()
    oracles = E.oracle_sql()
    missing = [n for n in E.GATE_PRIORITY if n not in qs]
    assert not missing, f"GATE_PRIORITY names not in registry: {missing}"
    assert len(set(E.GATE_PRIORITY)) == len(E.GATE_PRIORITY)
    assert len(E.GATE_PRIORITY) >= 50
    first50 = list(qs)[:50]
    assert first50 == E.GATE_PRIORITY[:50]
    # rows-only by design (documented in each query's docstring):
    # xxhash64 has no DuckDB twin; equivalence to the oracle-gated
    # portable path is pinned by a dedicated pytest instead
    rows_only = {"winnow_dedup_pairs_fast"}
    no_oracle = [n for n in qs if n not in oracles and n not in rows_only]
    assert not no_oracle, f"queries without oracles: {no_oracle}"
    assert not (rows_only - set(qs))


def test_top_suppliers_take_ordered(spark, qs):
    """Global top-k must be TakeOrderedAndProject (per-partition
    heaps + driver merge), never a full sort or an unpartitioned
    row_number window (PERF.md §11)."""
    plan = _plan(qs["top_suppliers"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    # the rank column's Window must sit ABOVE the limit (ranking the
    # 10 surviving rows), never below it over the full aggregate
    if "Window" in plan:
        assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_ivf_topk_broadcasts_and_stays_jvm(spark, qs):
    """r17 shape: the whole assign → probed-cell filter → cosine
    subtree is ONE fused Arrow kernel (_ivf_probe_scores) fed by a
    two-column projection of the corpus scan — no broadcast join, no
    unrolled centroid literals (the r16 relational plan was 69 KB),
    no row-at-a-time Python. Exactly one MapInArrow, a pruned scan
    under it, and no BatchEvalPython anywhere; the only exchanges
    left are the query-batch-sized top-k repartition and the rank
    window's."""
    plan = _plan(qs["ann_ivf_topk"](spark, SF_DIR))
    assert plan.count("MapInArrow") == 1
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange") <= 2
    assert len(plan) < 20_000


def test_hash_sample_pushes_to_scan(spark, qs):
    """The stable-hash sample predicate is a deterministic filter —
    it must run inside the scan stage (no exchange at all in the
    plan: a sample is map-side by construction)."""
    plan = _plan(qs["hash_sample_docs"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_pack_docs_shards_without_global_sort(spark, qs):
    """Sharded packing (PARTITION BY lang) must never plan a
    single-partition exchange — the global-ordering variant is
    opt-in for small corpora only."""
    assert "SinglePartition" not in _plan(qs["pack_docs"](spark, SF_DIR))


def test_stratified_sample_two_phase_no_group_reducer(spark, qs):
    """Stratified sampling must never sort a whole group in one
    task. The plan must show (a) the bounded per-(group, partition)
    candidate phase (partial collect_list before any group-keyed
    exchange), and (b) the corpus probing the selected keys through
    a broadcast semi-join with no shuffle on the probe side."""
    plan = _plan(qs["stratified_sample_docs"](spark, SF_DIR))
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    assert "partial_collect_list" in plan
    # probe side of the semi-join = text between the join node and
    # its BroadcastExchange child: a bare FileScan, no Exchange
    probe = plan[plan.index("BroadcastHashJoin"): plan.index("BroadcastExchange")]
    assert "FileScan" in probe and "Exchange" not in probe


def test_simhash_signature_is_pure_catalyst(spark, qs):
    """The SimHash signature pass must stay JVM-side end to end:
    exploded tokens → 64 conditional ±1 partial sums → bit-pack —
    no Python evaluation anywhere in the plan, and the signature
    aggregation must partial-aggregate map-side (one exchange at
    doc grain, like minhash_signatures)."""
    plan = _plan(qs["simhash_pairs"](spark, SF_DIR))
    assert "Python" not in plan and "pandas" not in plan.lower()


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The write-once IVF claim, demonstrated: corpus written
    partitioned by __cell__; probing pushes a literal cell-set filter
    into the scan as PartitionFilters, and the result matches the
    on-the-fly ivf_topk bit for bit."""
    from mirabelle_spark.pipeline import ann

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    centroids = [
        [1.0 if j == i % 4 else 0.0 for j in range(
            len(emb.select("embedding").first()[0]))]
        for i in range(8)
    ]
    queries = emb.limit(3).selectExpr(
        "vec_id as query_id", "embedding")

    path = str(tmp_path / "ivf_index")
    ann.ivf_write_index(emb, path, centroids)

    # one directory per cell on disk — the partitioned layout
    cell_dirs = [d for d in os.listdir(path) if d.startswith("__cell__=")]
    assert len(cell_dirs) >= 2

    probed = ann.ivf_probe_index(queries, path, centroids, k=3, nprobe=2)
    plan = _plan(probed)
    assert "PartitionFilters" in plan and "__cell__" in plan.split(
        "PartitionFilters", 1)[1][:200]

    # parity with the unindexed path on identical fixed centroids
    direct = ann.ivf_topk(emb, queries, k=3, nprobe=2, centroids=centroids)
    assert sorted(map(tuple, probed.collect())) == sorted(
        map(tuple, direct.collect()))


def test_mixture_and_gopher_have_no_shuffle(spark, qs):
    """mixture_sample and gopher_rules are single-projection ops:
    any Exchange in their plan is a regression."""
    for name in ["mixture_sample_docs", "gopher_quality_docs"]:
        plan = _plan(qs[name](spark, SF_DIR))
        assert "Exchange" not in plan, f"{name}:\n{plan}"


def test_vocab_topk_is_take_ordered(spark, qs):
    """Top-k by doc_freq must plan TakeOrderedAndProject, never a
    global sort of the vocabulary."""
    plan = _plan(qs["vocab_top100"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [doc_freq" not in plan


def test_paragraph_dedup_never_shuffles_text(spark, qs):
    """paragraph_dedup's shuffles carry (id, pos, hash) and the
    kept-position arrays — never a document body. Every Exchange's
    input schema must be text-free (the only text columns live in
    scan->project segments)."""
    df = qs["paragraph_dedup_docs"](spark, SF_DIR)
    plan = _plan(df)
    for chunk in plan.split("Exchange")[1:]:
        # the partitioning spec line that follows each Exchange node
        spec = chunk.splitlines()[0]
        assert "text" not in spec, spec
    # and the full exchange inputs: walk optimized plan joins
    opt = _optimized(df)
    # reassembly is an in-row filter of the row's own split — no
    # second explode of paragraphs with text through an aggregate
    assert plan.count("Generate explode") <= 1


def test_linear_quality_shuffle_free_and_pruned(spark, qs):
    """The hashed linear classifier must be a pure scan→project: no
    exchange anywhere (the logit folds inside the row), and the scan
    pruned to (doc_id, text)."""
    plan = _plan(qs["linear_quality_docs"](spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "doc_id" in plan and "text" in plan


def test_lm_bits_plans(spark, qs):
    """Bigram-LM scorer plans (r13). The pinned 962-entry model is
    over the fold/join crossover, so the gated queries must take
    the JOIN strategy: model lookups are BROADCAST hash joins (the
    corpus never shuffles for the probe — no SortMergeJoin). The
    fold strategy must stay JOIN-free: its only exchange is the
    input-rebalance insurance (scale.needs_rebalance — the pair
    explode is CPU-dense and a one-row-group file otherwise runs it
    on one core, PERF §80), which is a single round-robin
    repartition, not a keyed shuffle."""
    from mirabelle_spark.pipeline import lm
    from mirabelle_spark.pipeline.bigram_lm_trained import TRAINED_LM

    for name in ("lm_bits_docs", "lm_quality_docs"):
        plan = _plan(qs[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, f"{name}:\n{plan}"
        assert "SortMergeJoin" not in plan, f"{name}:\n{plan}"
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    fold = _plan(lm.lm_bits(d, TRAINED_LM, strategy="fold"))
    assert "Join" not in fold, fold
    assert fold.count("Exchange") == 1 and "roundrobin" in fold.lower(), fold


def test_lm3_plans_broadcast_only(spark, qs):
    """Trigram-LM scorer plans (r14): join strategy only — every
    model lookup is a BROADCAST hash join (no SortMergeJoin: the
    corpus never shuffles for a probe) and no literal-map linear
    scan exists anywhere (the fold tier is deliberately not built
    for trigram-scale models)."""
    for name in ("lm3_bits_docs", "lm3_quality_docs"):
        plan = _plan(qs[name](spark, SF_DIR))
        assert plan.count("BroadcastHashJoin") >= 3, f"{name}:\n{plan}"
        assert "SortMergeJoin" not in plan, f"{name}:\n{plan}"
        assert "map(keys:" not in plan, f"{name}:\n{plan}"


def test_curate_head_lm_gate_takes_join_strategy(spark, qs):
    """The batch curation head must price the LM gate by model size
    (r14; VERDICT r13 'What's wrong #1'): with the 962-entry pinned
    model — 3.75× over lm.FOLD_MAX_ENTRIES — the gate must be the
    broadcast-join scorer + left-semi on ids, never the fold's
    linear map-literal scan. A literal-map probe shows up in the
    physical plan as an element_at over a constant-folded
    ``map(keys: [...]`` literal; the join path instead shows
    BroadcastHashJoins and a LeftSemi."""
    from mirabelle_spark.pipeline import lm
    from mirabelle_spark.pipeline.bigram_lm_trained import TRAINED_LM

    n = len(TRAINED_LM["bigrams"]) + len(TRAINED_LM["unigrams"])
    assert n > lm.FOLD_MAX_ENTRIES  # the premise of the routing
    # r16: the head pins its gated survivors (localCheckpoint), so
    # the RETURNED plan is truncated at the pin — the gate-routing
    # subtree is read from the pre-pin lineage hook instead
    head = qs["curate_head_lm_docs"](spark, SF_DIR)
    plan = _plan(head._curate_gate_lineage)
    assert "map(keys:" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftSemi" in plan, plan

    # small models keep the fold: gate rides the projection, no
    # scoring join anywhere in the head's plan
    from mirabelle_spark.pipeline.sampling import curate_head

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    small = {
        "bigrams": TRAINED_LM["bigrams"][:8],
        "unigrams": TRAINED_LM["unigrams"][:8],
        "oov_e9": TRAINED_LM["oov_e9"],
        "n_tokens": TRAINED_LM["n_tokens"],
        "backoff_e9": TRAINED_LM["backoff_e9"],
    }
    plan_small = _plan(
        curate_head(
            d,
            rules=("word_count_ok", "word_len_ok", "alpha_ok"),
            lm_gate=(small, 8.0, 4),
        )._curate_gate_lineage
    )
    assert "map(keys:" in plan_small, plan_small


def test_ivf_centroid_update_single_exchange(spark, qs):
    """The k-means step = partial (cell, lane) aggregate → ONE
    shuffle → final aggregate; the scan reads only the embedding
    column."""
    df = qs["ivf_centroid_update"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SinglePartition" not in plan
    assert "ReadSchema: struct<embedding" in plan, plan


def test_video_frame_sample_scans_ids_only(spark, qs):
    """Frame sampling builds payloads in the plan: the parquet scan
    must read ONLY doc_id (no text/binary column ever leaves the
    scan), and no shuffle exists."""
    plan = _plan(qs["video_frame_sample"](spark, SF_DIR))
    assert "ReadSchema: struct<doc_id:bigint>" in plan, plan
    assert "Exchange" not in plan, plan


def test_by_coalesce_isolates_forks(spark):
    """A `by` upstream of coalesce gives every fork its own election
    (the reference forks the whole substream, stream.clj:38-44):
    two hosts sharing a service must BOTH keep their latest event —
    before r8 the batch dispatch grouped by fields only and elected
    one survivor across forks."""
    import pyspark.sql.functions as F

    from mirabelle_spark.plans.builder import Ctx, compile_stream

    rows = [
        (0, "h1", "api", 1.0, 0.0),
        (1, "h2", "api", 2.0, 1.0),   # same service, other fork
        (2, "h1", "api", 3.0, 5.0),   # h1's latest
    ]
    df = spark.createDataFrame(
        rows, "seq bigint, host string, service string, metric double, t double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")
    tree = {
        "action": "by", "params": [{"fields": ["host"]}],
        "children": [{
            "action": "coalesce",
            "params": [{"duration": 10, "fields": ["service"]}],
            "children": [{"action": "tap", "params": ["c"]}],
        }],
    }
    ctx = compile_stream(df, tree, Ctx(order_cols=("seq",), test_mode=True))
    got = sorted((r.host, r.metric) for r in ctx.taps["c"].collect())
    assert got == [("h1", 3.0), ("h2", 2.0)]


def test_by_project_isolates_forks(spark):
    """`by host -> project` correlates per fork: each host gets its
    own latest-matching election per window, mirroring the streaming
    twin's (window, by) grouping."""
    import pyspark.sql.functions as F

    from mirabelle_spark.plans.builder import Ctx, compile_stream

    rows = [
        (0, "h1", "error", 1.0, 0.0),
        (1, "h2", "error", 2.0, 1.0),
        (2, "h1", "ok", 7.0, 2.0),
    ]
    df = spark.createDataFrame(
        rows, "seq bigint, host string, state string, metric double, t double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")
    tree = {
        "action": "by", "params": [{"fields": ["host"]}],
        "children": [{
            "action": "project",
            "params": [[[":=", "state", "error"], [":=", "state", "ok"]],
                       {"duration": 60}],
            "children": [{"action": "tap", "params": ["p"]}],
        }],
    }
    ctx = compile_stream(df, tree, Ctx(order_cols=("seq",), test_mode=True))
    got = {(r.host, r.metric_1, r.metric_2) for r in ctx.taps["p"].collect()}
    assert got == {("h1", 1.0, 7.0), ("h2", 2.0, None)}


def test_returned_item_customers_plan(spark, qs):
    """Q10 shape: global top-20 via TakeOrderedAndProject (never a
    global window sort), the returned-flag filter pushed to the fact
    scan, and — r11 hint policy — only schema-bounded NATION carries
    an explicit broadcast hint: size stats/AQE still broadcast
    customer at this SF without one, and the raw fact table is
    NEVER a broadcast build side (at sf100 a forced customer hint
    bypasses AQE's size check and OOMs)."""
    df = qs["returned_item_customers"](spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "l_returnflag" in plan  # pushed predicate visible at scan
    subs = _broadcast_subtrees(_final_plan(df))
    assert any("customer" in s for s in subs), subs  # unhinted, still BHJ
    assert any("nation" in s for s in subs), subs
    assert not any("lineitem" in s for s in subs), subs


def test_large_order_customers_plan(spark, qs):
    """Q18 shape: the HAVING aggregate runs below the joins (one
    fact-table pass, survivors join back) — no window anywhere.
    r11 hint policy: NO explicit hints (survivor set and customer
    are both unbounded in SF); AQE still broadcasts both at this SF,
    and raw fact rows only ever enter a broadcast BELOW the
    order-grain aggregate that shrinks them."""
    df = qs["large_order_customers"](spark, SF_DIR)
    assert "Window" not in _plan(df)
    final = _final_plan(df)
    assert "BroadcastHashJoin" in final
    subs = _broadcast_subtrees(final)
    assert any("customer" in s for s in subs), subs
    for s in subs:  # a broadcast touching lineitem must be post-agg
        if "lineitem" in s:
            assert "HashAggregate" in s, s


@pytest.mark.parametrize(
    "name, budget",
    # measured at sf0.01: 8 and 12 jobs (29 and 34 while cluster
    # resolution ran one join + aggregate + checkpoint + collect per
    # round); ROADMAP item 5 budgets about 15 per query
    [("dedup_clusters", 10), ("image_near_dups", 14)],
)
def test_cluster_queries_job_budget(spark, qs, name, budget):
    """Each Spark job is a driver round-trip that costs more than the
    tiny stages it runs at this scale, so the cluster queries pin how
    many jobs one run starts. A regression to per-round driver
    actions in resolve_clusters adds several jobs per round."""
    sc = spark.sparkContext
    group = f"job-budget-{name}"
    sc.setJobGroup(group, group)
    try:
        qs[name](spark, "/root/testdata/sf0.01").write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= budget, f"{name} started {jobs} Spark jobs"
