"""DSL builder + golden harness (reference stream.clj compile path +
test.clj golden format)."""

import pytest
from pyspark.sql import functions as F


def test_linear_pipeline(make_events):
    from mirabelle_spark.plans import build_stream

    df = make_events(
        [
            {"time": 1, "metric": 5, "service": "api"},
            {"time": 2, "metric": 50, "service": "api"},
            {"time": 3, "metric": 50, "service": "other"},
        ]
    )
    tree = {
        "action": "where",
        "params": [[":=", "service", "api"]],
        "children": [
            {
                "action": "scale",
                "params": [2.0],
                "children": [{"action": "tap", "params": ["out"]}],
            }
        ],
    }
    taps = build_stream(df, tree, order_cols=("seq",))
    assert sorted(r.metric for r in taps["out"].collect()) == [10.0, 100.0]


def test_by_threads_grouping_keys(make_events):
    from mirabelle_spark.plans import build_stream

    df = make_events(
        [
            {"time": 1, "metric": 1, "host": "a"},
            {"time": 2, "metric": 2, "host": "a"},
            {"time": 3, "metric": 10, "host": "b"},
        ]
    )
    tree = {
        "action": "by",
        "params": [{"fields": ["host"]}],
        "children": [
            {
                "action": "sum",
                "params": [{"duration": 60.0}],
                "children": [{"action": "tap", "params": ["sums"]}],
            }
        ],
    }
    taps = build_stream(df, tree, order_cols=("seq",))
    got = {(r.host, r.metric) for r in taps["sums"].collect()}
    assert got == {("a", 3.0), ("b", 10.0)}


def test_split_fanout(make_events):
    from mirabelle_spark.plans import build_stream

    df = make_events([{"time": 1, "metric": 100}, {"time": 2, "metric": 1}])
    tree = {
        "action": "split",
        "params": [[[":>", "metric", 50]]],
        "children": [
            {"action": "tap", "params": ["hi"]},
            {"action": "tap", "params": ["rest"]},  # default branch
        ],
    }
    taps = build_stream(df, tree, order_cols=("seq",))
    assert [r.metric for r in taps["hi"].collect()] == [100.0]
    assert [r.metric for r in taps["rest"].collect()] == [1.0]


def test_fanout_shares_lineage(make_events):
    from mirabelle_spark.plans import build_stream

    df = make_events([{"time": 1, "metric": 5}])
    tree = {
        "action": "sdo",
        "params": [],
        "children": [
            {"action": "increment", "params": [],
             "children": [{"action": "tap", "params": ["plus"]}]},
            {"action": "decrement", "params": [],
             "children": [{"action": "tap", "params": ["minus"]}]},
        ],
    }
    taps = build_stream(df, tree)
    assert taps["plus"].collect()[0].metric == 6.0
    assert taps["minus"].collect()[0].metric == 4.0


def test_custom_action_registration(make_events):
    from mirabelle_spark.plans import build_stream
    from mirabelle_spark.plans.builder import register_action

    register_action("halve", lambda df, ctx: df.withColumn("metric", df.metric / 2))
    df = make_events([{"time": 1, "metric": 8}])
    tree = {"action": "halve", "params": [],
            "children": [{"action": "tap", "params": ["t"]}]}
    assert build_stream(df, tree)["t"].collect()[0].metric == 4.0


def test_golden_case(spark):
    from mirabelle_spark.golden import assert_case

    assert_case(
        spark,
        {
            "input": [
                {"time": 1, "metric": 120, "service": "http"},
                {"time": 2, "metric": 10, "service": "http"},
                {"time": 3, "metric": 200, "service": "other"},
            ],
            "tree": {
                "action": "where",
                "params": [[":=", "service", "http"]],
                "children": [
                    {
                        "action": "over",
                        "params": [100],
                        "children": [
                            {
                                "action": "with",
                                "params": [{"state": "critical"}],
                                "children": [{"action": "tap", "params": ["alerts"]}],
                            }
                        ],
                    }
                ],
            },
            "taps": {
                "alerts": [{"metric": 120.0, "service": "http", "state": "critical"}]
            },
        },
    )


def test_unkeyed_stateful_warns(make_events, caplog):
    """Compiling an order-dependent op without `by` keys logs a loud
    single-task warning; the keyed form stays silent."""
    import logging

    from mirabelle_spark.plans import build_stream

    df = make_events([{"time": 1, "metric": 1}, {"time": 2, "metric": 2}])
    tree = {
        "action": "throttle",
        "params": [{"count": 1, "duration": 10}],
        "children": [{"action": "tap", "params": ["out"]}],
    }
    with caplog.at_level(logging.WARNING, logger="mirabelle_spark.plans"):
        build_stream(df, tree)
    assert any("no `by` keys" in r.message for r in caplog.records)

    caplog.clear()
    keyed = {
        "action": "by",
        "params": [{"fields": ["service"]}],
        "children": [tree],
    }
    df2 = make_events([{"time": 1, "metric": 1, "service": "a"}])
    with caplog.at_level(logging.WARNING, logger="mirabelle_spark.plans"):
        build_stream(df2, keyed)
    assert not any("no `by` keys" in r.message for r in caplog.records)


def test_include_with_variables(make_events, tmp_path):
    import json

    from mirabelle_spark.plans import build_stream
    from mirabelle_spark.plans.builder import load_tree

    p = tmp_path / "stream.json"
    p.write_text(json.dumps({
        "tree": {
            "action": "where",
            "params": [[":>", "metric", {"var": "threshold"}]],
            "children": [{"action": "tap", "params": ["out"]}],
        },
        "profiles": {"prod": {"threshold": 100}},
    }))
    df = make_events([{"time": 1, "metric": 50}, {"time": 2, "metric": 150}])
    tree = load_tree(str(p), variables={"threshold": 10})
    assert build_stream(df, tree)["out"].count() == 2
    tree_prod = load_tree(str(p), profile="prod")
    assert build_stream(df, tree_prod)["out"].count() == 1


def test_full_action_registry_compilable(make_events):
    """Every name in the reference's action->fn registry
    (action.clj:3037-3114) compiles through the builder — no DSL tree
    a reference user writes can hit 'unknown action'."""
    from mirabelle_spark.plans import builder

    ref_registry = """above-dt sum async-queue! below-dt between-dt bottom
    changed coalesce coll-bottom coll-count coll-increase coll-max coll-mean
    coll-min coll-percentiles coll-quotient coll-rate coll-sort coll-sum
    coll-top coll-where cond-dt debug default decrement ddt ddt-pos info
    iterate-on error extract ewma-timeless exception-stream expired
    fixed-event-window fixed-time-window from-base64 increment io from-json
    keep-keys mean moving-event-window moving-time-window not-expired
    outside-dt over percentiles project publish! output! rate ratio reinject!
    rename-keys scale sdissoc sdo sflatten sformat smax smin split ssort
    stable tag tagged-all tap test-action throttle to-base64 to-string top
    under untag where with""".split()
    special = {"by", "split", "tap", "test-action", "debug", "info", "error",
               "output!", "exception-stream", "publish!", "reinject!"}
    missing = [a for a in ref_registry if a not in builder._ACTIONS and a not in special]
    assert missing == [], f"unregistered reference actions: {missing}"


def test_exception_stream_and_reinject_actions(make_events):
    from mirabelle_spark.plans import build_stream

    df = make_events([{"time": 1, "metric": 4}, {"time": 2, "metric": 0}])

    def risky(rec):
        return {"metric": 10.0 / rec["metric"]}

    taps = build_stream(
        df,
        {
            "action": "exception-stream",
            "params": [risky],
            "children": [
                {"action": "tap", "params": ["ok"]},
                {"action": "tap", "params": ["err"]},
            ],
        },
        test_mode=True,
    )
    assert [r.metric for r in taps["ok"].collect()] == [2.5]
    assert taps["err"].count() == 1

    taps2 = build_stream(
        df,
        {"action": "where", "params": [[":>", "metric", 1]],
         "children": [{"action": "reinject!", "params": ["foo"]}]},
        test_mode=True,
    )
    assert taps2["__reinject__:foo"].count() == 1


def test_cond_dt_and_coll_where_actions(make_events):
    from mirabelle_spark.plans import build_stream

    df = make_events(
        [{"time": 0, "metric": 200}, {"time": 5, "metric": 200},
         {"time": 11, "metric": 200}, {"time": 12, "metric": 1}]
    )
    taps = build_stream(
        df,
        {"action": "cond-dt",
         "params": [[":>", "metric", 100], {"duration": 10}],
         "children": [{"action": "tap", "params": ["alerts"]}]},
        test_mode=True,
    )
    assert [r.time.timestamp() for r in taps["alerts"].collect()] == [11.0]


# ---------------------------------------------------------------------------
# DSL parameter validation (spec.clj:17-24 valid-action? parity)


def _compile(spark, tree):
    from mirabelle_spark.plans.builder import compile_stream

    df = spark.createDataFrame(
        [("a", 1.0, "2024-01-01T00:00:00")], "host string, metric double, t string"
    ).withColumn("time", F.to_timestamp("t"))
    return compile_stream(df, tree)


def test_spec_rejects_wrong_arity(spark):
    from mirabelle_spark.plans.spec import InvalidActionParams

    with pytest.raises(InvalidActionParams, match="'where'.*parameter"):
        _compile(spark, {"action": "where", "params": [], "children": []})
    with pytest.raises(InvalidActionParams, match="'scale'"):
        _compile(spark, {"action": "scale",
                         "params": [2.0, "extra"], "children": []})


def test_spec_rejects_bad_types(spark):
    from mirabelle_spark.plans.spec import InvalidActionParams

    with pytest.raises(InvalidActionParams, match="'scale'.*number"):
        _compile(spark, {"action": "scale", "params": ["two"], "children": []})
    with pytest.raises(InvalidActionParams, match="'throttle'.*duration"):
        _compile(spark, {"action": "throttle",
                         "params": [{"count": 3, "duration": -5}],
                         "children": []})
    with pytest.raises(InvalidActionParams, match="'fixed-event-window'.*size"):
        _compile(spark, {"action": "fixed-event-window",
                         "params": [{"size": 0}], "children": []})
    with pytest.raises(InvalidActionParams, match="'by'.*shards.*positive"):
        _compile(spark, {"action": "by", "params": [{"fields": ["host"],
                                                     "shards": 0}],
                         "children": []})


def test_spec_rejects_missing_and_unknown_config_keys(spark):
    from mirabelle_spark.plans.spec import InvalidActionParams

    with pytest.raises(InvalidActionParams, match="missing required key"):
        _compile(spark, {"action": "above-dt",
                         "params": [{"threshold": 10}], "children": []})
    with pytest.raises(InvalidActionParams, match="unknown key"):
        _compile(spark, {"action": "coalesce",
                         "params": [{"duration": 60, "fields": ["host"],
                                     "durration": 60}],
                         "children": []})
    # `by` takes fields and shards only: the reference's fork GC keys
    # and typos are rejected by name instead of silently ignored
    for key in ("fork-ttl", "gc-interval", "shard"):
        with pytest.raises(InvalidActionParams, match=f"'by'.*unknown.*{key}'"):
            _compile(spark, {"action": "by",
                             "params": [{"fields": ["host"], key: 4}],
                             "children": []})


def _plan(df):
    return df._jdf.queryExecution().analyzed().toString()


def test_user_action_over_builtin_keyed_name_runs_in_both_modes(spark):
    """register_action over a built-in keyed name replaces it in the
    batch AND the streaming compile: one action table serves both
    modes, so the streaming compile never runs the built-in twin on
    the user's params."""
    from mirabelle_spark.plans import builder as b

    df = spark.createDataFrame(
        [("a", 1.0, "2024-01-01T00:00:00"), ("a", 3.0, "2024-01-01T00:00:01")],
        "host string, metric double, t string",
    ).withColumn("time", F.to_timestamp("t"))
    tree = {"action": "by", "params": [{"fields": ["host"]}], "children": [{
        "action": "throttle", "params": [{"count": 2, "duration": 5}],
        "children": [{"action": "tap", "params": ["x"]}]}]}
    builtin = b._ACTIONS["throttle"]
    b.register_action(
        "throttle",
        lambda d, ctx, cfg: d.where(F.col("metric") > cfg["count"])
        .withColumn("mine", F.lit(True)),
    )
    try:
        for streaming in (False, True):
            ctx = b.compile_stream(
                df, tree, b.Ctx(streaming=streaming, test_mode=True))
            out = ctx.taps["x"]
            assert "mine" in out.columns, streaming
            assert "__shard__" not in _plan(out), streaming
        assert [r.metric for r in out.collect()] == [3.0]
    finally:
        b._ACTIONS["throttle"] = builtin
        b._USER_ACTIONS.discard("throttle")


def test_custom_keyed_action_compiles_its_streaming_twin(spark):
    """["custom", "ewma-timeless", r] under `by` resolves through the
    same entry as a plain ewma-timeless node: the streaming compile
    plans the keyed-state twin's shard grouping, the batch compile
    plans none."""
    import re

    from mirabelle_spark.plans.builder import Ctx, compile_stream

    df = spark.createDataFrame(
        [("a", 1.0, "2024-01-01T00:00:00")], "host string, metric double, t string"
    ).withColumn("time", F.to_timestamp("t"))
    shard = re.compile(
        r"pmod\(xxhash64\(host#\d+, 42\), cast\(64 as bigint\)\) AS __shard__"
    )
    for node in ({"action": "custom", "params": ["ewma-timeless", 0.5]},
                 {"action": "ewma-timeless", "params": [0.5]}):
        tree = {"action": "by", "params": [{"fields": ["host"]}],
                "children": [dict(node, children=[
                    {"action": "tap", "params": ["x"]}])]}
        stream = compile_stream(df, tree, Ctx(streaming=True, test_mode=True))
        assert shard.search(_plan(stream.taps["x"])), node
        batch = compile_stream(df, tree, Ctx(test_mode=True))
        assert "__shard__" not in _plan(batch.taps["x"]), node


def test_spec_rejects_malformed_condition(spark):
    from mirabelle_spark.plans.spec import InvalidActionParams

    with pytest.raises(InvalidActionParams, match="unknown condition op"):
        _compile(spark, {"action": "where",
                         "params": [[":equals", "host", "a"]], "children": []})
    with pytest.raises(InvalidActionParams, match="comparison value"):
        _compile(spark, {"action": "where",
                         "params": [[":>", "metric"]], "children": []})


def test_spec_unknown_action_and_user_registered_passes(spark):
    from mirabelle_spark.plans import builder as b
    from mirabelle_spark.plans.spec import InvalidActionParams

    with pytest.raises(InvalidActionParams, match="unknown action"):
        _compile(spark, {"action": "wher", "params": [[":=", "host", "a"]],
                         "children": []})
    b.register_action("my-op", lambda df, ctx, anything: df)
    try:
        # arbitrary params: user actions are spec-free
        ctx = _compile(spark, {"action": "my-op", "params": [object()],
                               "children": [{"action": "tap",
                                             "params": ["out"],
                                             "children": []}]})
        assert "out" in ctx.taps
    finally:
        b._ACTIONS.pop("my-op", None)
        b._USER_ACTIONS.discard("my-op")


def test_spec_validates_nested_children_before_work(spark):
    """The malformed node sits deep in the tree; validation still
    fires before compile touches any DataFrame."""
    from mirabelle_spark.plans.spec import InvalidActionParams

    tree = {"action": "where", "params": [[":=", "host", "a"]],
            "children": [{"action": "by", "params": [{"fields": ["host"]}],
                          "children": [{"action": "sum",
                                        "params": [{"duration": "fast"}],
                                        "children": []}]}]}
    with pytest.raises(InvalidActionParams, match="'sum'.*duration"):
        _compile(spark, tree)


def test_sessionize_and_zscore_dsl_actions(spark, make_events):
    """The beyond-reference ops are first-class DSL actions: param
    specs validate at compile time, batch realization works, and both
    sessionize and zscore (twin added r7) dispatch on the streaming
    side as well as the batch side."""
    import pytest as _pytest

    from mirabelle_spark.plans import builder as b
    from mirabelle_spark.plans.spec import InvalidActionParams

    rows = [
        {"time": 0, "metric": 1.0, "host": "a"},
        {"time": 10, "metric": 3.0, "host": "a"},
        {"time": 500, "metric": 5.0, "host": "a"},
    ]
    df = make_events(rows)  # make_events already yields a TIMESTAMP time col
    tree = {
        "action": "by", "params": [{"fields": ["host"]}],
        "children": [{
            "action": "sessionize", "params": [{"gap": 60.0}],
            "children": [{"action": "tap", "params": ["sess"]}],
        }],
    }
    taps = b.build_stream(df, tree)
    sess = taps["sess"].collect()
    assert {(r.n_events, r.metric) for r in sess} == {(2, 4.0), (1, 5.0)}

    ztree = {
        "action": "zscore", "params": [{"window": 60.0, "min-n": 2}],
        "children": [{"action": "tap", "params": ["z"]}],
    }
    z = {r.metric: r.zscore for r in b.build_stream(df, ztree)["z"].collect()}
    assert z[1.0] is None and z[3.0] is not None and z[5.0] is None

    with _pytest.raises(InvalidActionParams, match="gap"):
        b.compile_stream(df, {"action": "sessionize", "params": [{}], "children": []})
    with _pytest.raises(InvalidActionParams, match="window"):
        b.compile_stream(df, {"action": "zscore", "params": [{"window": -1}],
                              "children": []})


def test_curate_dsl_action(spark, monkeypatch):
    """The curation head is a first-class DSL action (r11): batch
    compile realizes the deterministic min-id compose, the streaming
    compile calls stream_curate, and the param spec rejects a bad
    min-words."""
    import pytest as _pytest

    from mirabelle_spark.plans import builder as b
    from mirabelle_spark.plans.spec import InvalidActionParams

    good = (
        "the data to be of and that have with quality words enough "
        "for rules contact me at alice@example.com today"
    )
    rows = [(1, good), (2, good), (3, "#### ####")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    cfg = {"min-words": 5, "rules": ["word_count_ok", "alpha_ok",
                                     "stopword_ok"]}
    tree = {
        "action": "curate", "params": [cfg],
        "children": [{"action": "tap", "params": ["cur"]}],
    }
    taps = b.build_stream(df, tree)
    got = {(r.doc_id, r.text_masked) for r in taps["cur"].collect()}
    assert got == {(1, good.replace("alice@example.com", "<EMAIL>"))}

    # the streaming compile dispatches to the streaming head
    from mirabelle_spark.streaming import core as stx

    calls = []
    monkeypatch.setattr(
        stx, "stream_curate", lambda d, **kw: calls.append(kw) or d
    )
    b.compile_stream(df, tree, b.Ctx(streaming=True))
    assert [c["min_words"] for c in calls] == [5]
    with _pytest.raises(InvalidActionParams, match="min-words"):
        b.compile_stream(df, {"action": "curate",
                              "params": [{"min-words": 0}],
                              "children": []})


def test_curate_dsl_trained_quality(spark):
    """{"quality": "trained"} swaps the rule gate for the pinned
    engine-trained classifier in both batch and streaming dispatch;
    the batch realization matches curate_head(model=pinned)."""
    from mirabelle_spark.plans import builder as b
    from mirabelle_spark.pipeline import sampling as smp
    from mirabelle_spark.pipeline.logreg_quality_trained import (
        TRAIN_DIM, TRAINED_LOGREG_B, TRAINED_LOGREG_W,
    )
    from mirabelle_spark.queries_pipeline import docs

    d = docs(spark, "/root/testdata/sf0.001").limit(60)
    tree = {
        "action": "curate", "params": [{"quality": "trained"}],
        "children": [{"action": "tap", "params": ["cur"]}],
    }
    got = {
        (r.doc_id, r.text_masked)
        for r in b.build_stream(d, tree)["cur"].collect()
    }
    want = {
        (r.doc_id, r.text_masked)
        for r in smp.curate_head(
            d, model=(TRAINED_LOGREG_W, TRAINED_LOGREG_B), dim=TRAIN_DIM
        ).collect()
    }
    assert got == want and got  # non-empty and identical


def test_curate_dsl_dsir_domain(spark):
    """{"domain": "dsir"} adds the pinned DSIR domain gate between
    quality and dedup; the batch realization matches
    curate_head(dsir=(pinned, thr)), and a non-numeric threshold is
    rejected by the spec."""
    import pytest as _pytest

    from mirabelle_spark.pipeline import sampling as smp
    from mirabelle_spark.pipeline.dsir_logratios_trained import (
        TRAINED_DSIR_W,
    )
    from mirabelle_spark.plans import builder as b
    from mirabelle_spark.plans.spec import InvalidActionParams
    from mirabelle_spark.queries_pipeline import docs

    d = docs(spark, "/root/testdata/sf0.001").limit(80)
    cfg = {"min-words": 30,
           "rules": ["word_count_ok", "word_len_ok", "alpha_ok"],
           "domain": "dsir", "domain-min-logw": 0.0}
    tree = {
        "action": "curate", "params": [cfg],
        "children": [{"action": "tap", "params": ["cur"]}],
    }
    got = {
        (r.doc_id, r.text_masked)
        for r in b.build_stream(d, tree)["cur"].collect()
    }
    want = {
        (r.doc_id, r.text_masked)
        for r in smp.curate_head(
            d, min_words=30,
            rules=("word_count_ok", "word_len_ok", "alpha_ok"),
            dsir=(TRAINED_DSIR_W, 0.0),
        ).collect()
    }
    assert got == want and got  # non-empty and identical
    # the gate actually gates: without it, strictly more docs pass
    no_gate = smp.curate_head(
        d, min_words=30, rules=("word_count_ok", "word_len_ok", "alpha_ok")
    ).count()
    assert len(got) < no_gate

    with _pytest.raises(InvalidActionParams, match="domain-min-logw"):
        b.compile_stream(d, {"action": "curate",
                             "params": [{"domain": "dsir",
                                         "domain-min-logw": "high"}],
                             "children": []})


def test_curate_dsl_lm_perplexity(spark):
    """{"perplexity": "trained2"} (r13 as "trained"; renamed r15 when
    the default became the smoothed trigram) adds the pinned
    bigram-LM perplexity gate between quality and dedup; the batch
    realization matches curate_head(lm_gate=(pinned, bpt, n)), the
    gate actually drops documents at a tight threshold, and a
    non-positive threshold is rejected by the spec."""
    import pytest as _pytest

    from mirabelle_spark.pipeline import sampling as smp
    from mirabelle_spark.pipeline.bigram_lm_trained import TRAINED_LM
    from mirabelle_spark.plans import builder as b
    from mirabelle_spark.plans.spec import InvalidActionParams
    from mirabelle_spark.queries_pipeline import docs

    d = docs(spark, "/root/testdata/sf0.001").limit(80)
    cfg = {"min-words": 30,
           "rules": ["word_count_ok", "word_len_ok", "alpha_ok"],
           "perplexity": "trained2", "perplexity-max-bpt": 4.91,
           "perplexity-min-bigrams": 16}
    tree = {
        "action": "curate", "params": [cfg],
        "children": [{"action": "tap", "params": ["cur"]}],
    }
    got = {
        (r.doc_id, r.text_masked)
        for r in b.build_stream(d, tree)["cur"].collect()
    }
    want = {
        (r.doc_id, r.text_masked)
        for r in smp.curate_head(
            d, min_words=30,
            rules=("word_count_ok", "word_len_ok", "alpha_ok"),
            lm_gate=(TRAINED_LM, 4.91, 16),
        ).collect()
    }
    assert got == want and got  # non-empty and identical
    # the gate actually gates: without it, strictly more docs pass
    no_gate = smp.curate_head(
        d, min_words=30, rules=("word_count_ok", "word_len_ok", "alpha_ok")
    ).count()
    assert len(got) < no_gate

    with _pytest.raises(InvalidActionParams, match="perplexity-max-bpt"):
        b.compile_stream(d, {"action": "curate",
                             "params": [{"perplexity": "trained2",
                                         "perplexity-max-bpt": -1}],
                             "children": []})


def test_curate_dsl_perplexity_warnings(spark):
    """The trained2 caveat is surfaced where a DSL user sees it
    (r16, VERDICT r15 #5: KEEP the opt-in bigram gate, warn on use),
    and a bigram-scale max-bpt under the default trigram gate warns
    instead of silently over-filtering (ADVICE r15). The default
    'trained' path with its own default threshold stays silent."""
    import warnings as _warnings

    import pytest as _pytest

    from mirabelle_spark.plans import builder as b
    from mirabelle_spark.queries_pipeline import docs

    d = docs(spark, "/root/testdata/sf0.001").limit(5)

    def compile_cfg(cfg):
        return b.compile_stream(
            d, {"action": "curate", "params": [cfg], "children": []}
        )

    with _pytest.warns(UserWarning, match="UNSMOOTHED bigram"):
        compile_cfg({"perplexity": "trained2"})
    with _pytest.warns(UserWarning, match="over-filter"):
        compile_cfg({"perplexity": "trained", "perplexity-max-bpt": 4.91})
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        compile_cfg({"perplexity": "trained"})
        compile_cfg({"perplexity": "trained3", "perplexity-max-bpt": 7.5})


def test_curate_dsl_neardup(spark, tmp_path):
    """{"near-dup": true} (r13) wires the incremental banded-MinHash
    near-dup stage into the streaming curate dispatch: the DSL tree
    compiles onto a real stream and its output matches
    stream_curate(neardup=True) directly; near-dup without
    dedup-within is rejected (the band state needs a horizon), and
    the spec rejects a non-boolean near-dup before any plan work."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from mirabelle_spark.plans import builder as b
    from mirabelle_spark.plans.spec import InvalidActionParams
    from mirabelle_spark.streaming import core

    good = (
        "the data to be of and that have with quality words enough "
        "for rules contact me at alice@example.com today"
    )
    rows = [
        (1, 1704067200, good),
        (2, 1704067201, good + " postscript"),  # near-dup of 1
        (3, 1704067202, "#### ####"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, t bigint, text string"
    ).withColumn("time", F.timestamp_micros(F.col("t") * 1_000_000)).drop("t")
    src = str(tmp_path / "cnd_dsl_in")
    df.where("doc_id = 1").coalesce(1).write.mode("append").parquet(src)
    df.where("doc_id > 1").coalesce(1).write.mode("append").parquet(src)

    cfg = {"min-words": 5, "rules": ["word_count_ok", "alpha_ok",
                                     "stopword_ok"],
           "dedup-within": 3600, "near-dup": True, "near-dup-shards": 8}
    tree = {
        "action": "curate", "params": [cfg],
        "children": [{"action": "tap", "params": ["cur"]}],
    }

    def read(name):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return stream

    out = b.compile_stream(read("a"), tree, b.Ctx(streaming=True)).taps["cur"]
    q = (
        out.writeStream.format("memory").queryName("cur_nd_dsl")
        .option("checkpointLocation", str(tmp_path / "ck_dsl"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.doc_id, r.text_masked)
        for r in spark.sql("SELECT doc_id, text_masked FROM cur_nd_dsl").collect()
    }
    direct = core.stream_curate(
        read("b"), min_words=5,
        rules=("word_count_ok", "alpha_ok", "stopword_ok"),
        time_col="time", dedup_within_s=3600.0,
        neardup=True, neardup_shards=8,
    )
    q2 = (
        direct.writeStream.format("memory").queryName("cur_nd_direct")
        .option("checkpointLocation", str(tmp_path / "ck_direct"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q2.awaitTermination()
    want = {
        (r.doc_id, r.text_masked)
        for r in spark.sql(
            "SELECT doc_id, text_masked FROM cur_nd_direct"
        ).collect()
    }
    assert got == want and {d for d, _ in got} == {1}, (got, want)

    with _pytest.raises(ValueError, match="dedup-within"):
        b.compile_stream(df, {"action": "curate",
                              "params": [{"near-dup": True}],
                              "children": []}, b.Ctx(streaming=True))
    with _pytest.raises(InvalidActionParams, match="near-dup"):
        b.compile_stream(df, {"action": "curate",
                              "params": [{"near-dup": "yes",
                                          "dedup-within": 60}],
                              "children": []})


def test_curate_dsl_contamination_bloom(spark):
    """{"contamination-bloom": [...]} pins a benchmark Bloom as the
    stream-edge decontamination gate (r14): the batch realization
    matches curate_head(contamination=...), the streaming dispatch
    shares the same expression, and the spec rejects a non-integer
    word list."""
    import pytest as _pytest

    from mirabelle_spark.pipeline import sampling as smp
    from mirabelle_spark.plans import builder as b
    from mirabelle_spark.plans.spec import InvalidActionParams

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog daily")],
        "doc_id bigint, text string",
    )
    words = smp.benchmark_bloom(bench, m_bits=4096, k=3)
    good = (
        "the data to be of and that have with quality words enough "
        "for rules and plenty of unrelated material"
    )
    bad = (
        "the data to be of and that have with quality words and "
        "the quick brown fox jumps over the lazy dog as well"
    )
    df = spark.createDataFrame(
        [(1, good), (2, bad)], "doc_id bigint, text string"
    )
    cfg = {
        "min-words": 5,
        "rules": ["word_count_ok", "alpha_ok", "stopword_ok"],
        "contamination-bloom": words,
        "contamination-m-bits": 4096,
    }
    tree = {
        "action": "curate", "params": [cfg],
        "children": [{"action": "tap", "params": ["cur"]}],
    }
    got = {r.doc_id for r in b.build_stream(df, tree)["cur"].collect()}
    want = {
        r.doc_id
        for r in smp.curate_head(
            df,
            min_words=5,
            rules=("word_count_ok", "alpha_ok", "stopword_ok"),
            contamination=(words, 4096, 3, 3, 2),
        ).collect()
    }
    assert got == want == {1}

    with _pytest.raises(InvalidActionParams, match="contamination-bloom"):
        b.compile_stream(df, {
            "action": "curate",
            "params": [{"contamination-bloom": ["not-an-int"]}],
            "children": [],
        })


def test_curate_dsl_trained3_perplexity(spark):
    """{"perplexity": "trained3"} routes the curation head through
    the pinned TRIGRAM artifact (r14): batch realization matches
    curate_head(lm3_gate=(TRAINED_LM3, 8.57, 16)), and the spec
    rejects an unknown perplexity kind."""
    import pytest as _pytest

    from mirabelle_spark.pipeline import sampling as smp
    from mirabelle_spark.pipeline.trigram_lm_trained import TRAINED_LM3
    from mirabelle_spark.plans import builder as b
    from mirabelle_spark.plans.spec import InvalidActionParams
    from mirabelle_spark.queries_pipeline import docs

    d = docs(spark, "/root/testdata/sf0.001").limit(80)
    cfg = {
        "min-words": 30,
        "rules": ["word_count_ok", "word_len_ok", "alpha_ok"],
        "perplexity": "trained3",
    }
    tree = {
        "action": "curate", "params": [cfg],
        "children": [{"action": "tap", "params": ["cur"]}],
    }
    got = {
        (r.doc_id, r.text_masked)
        for r in b.build_stream(d, tree)["cur"].collect()
    }
    want = {
        (r.doc_id, r.text_masked)
        for r in smp.curate_head(
            d, min_words=30,
            rules=("word_count_ok", "word_len_ok", "alpha_ok"),
            lm3_gate=(TRAINED_LM3, 8.57, 16),
        ).collect()
    }
    assert got == want and got

    with _pytest.raises(InvalidActionParams, match="perplexity"):
        b.compile_stream(d, {
            "action": "curate",
            "params": [{"perplexity": "kenlm"}],
            "children": [],
        })


def test_curate_default_perplexity_rejects_bigram_spam(spark):
    """The zero-cost-spam loophole is CLOSED on the default DSL path
    (VERDICT r14 #3): a document spamming the one deterministic
    pinned bigram ('dup dup dup ...') cost exactly 0 bits under the
    r13 bigram artifact, so NO threshold could ever reject it. Since
    r15 {"perplexity": "trained"} resolves to the add-one-smoothed
    trigram artifact, under which every token costs real bits — the
    same spam doc FAILS the default gate at a strict threshold,
    while the opt-in "trained2" bigram path still passes it at the
    identical threshold (the documented residual caveat at
    lm.lm_quality)."""
    from mirabelle_spark.plans import builder as b

    # long enough to clear min-words=30 and the >=16-pairs floor;
    # mean word length 3.0 and all-alpha keep the quality rules green
    spam = " ".join(["dup"] * 64)
    d = spark.createDataFrame(
        [(1, spam, "en")], "doc_id bigint, text string, lang string"
    )
    base = {"min-words": 30,
            "rules": ["word_count_ok", "word_len_ok", "alpha_ok"],
            "perplexity-max-bpt": 2.0}

    def survivors(kind):
        tree = {"action": "curate",
                "params": [dict(base, perplexity=kind)],
                "children": [{"action": "tap", "params": ["cur"]}]}
        return b.build_stream(d, tree)["cur"].count()

    # sanity: the doc passes the quality rules — only the LM gate
    # can reject it
    no_lm = {"action": "curate",
             "params": [{"min-words": 30, "rules": base["rules"]}],
             "children": [{"action": "tap", "params": ["cur"]}]}
    assert b.build_stream(d, no_lm)["cur"].count() == 1
    assert survivors("trained") == 0      # default = smoothed trigram
    assert survivors("trained3") == 0     # explicit alias, same gate
    assert survivors("trained2") == 1     # opt-in bigram: ~0-cost spam
