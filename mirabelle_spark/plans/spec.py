"""DSL parameter validation — clojure.spec parity.

The reference validates every action's parameters at stream-compile
time (``mirabelle/spec.clj:17-24`` ``valid-action?``; per-action
``s/def``s throughout ``action.clj``, e.g. ``::fixed-event-window``
:245, ``::above-dt`` :510, ``::percentiles`` :2901-2906) so a config
typo surfaces as a named error naming the action, not a stack trace
from deep inside the engine. This module is the same contract for the
Python tree: :func:`validate_tree` walks the action tree BEFORE any
DataFrame work and raises :class:`InvalidActionParams` pinpointing the
action, the parameter, and what was expected.

Specs mirror what :mod:`mirabelle_spark.plans.builder` actually
passes to each operator (which in turn mirrors the reference's
parameter shapes). Unknown actions raise too — unless they were
user-registered via ``register_action``, which opts them out of
validation (the reference's ``custom`` actions are likewise
spec-free, action.clj custom arm).
"""

from __future__ import annotations

from typing import Any, Callable

Validator = Callable[[Any], "str | None"]  # None = ok, str = reason


class InvalidActionParams(ValueError):
    """A DSL node's params don't satisfy the action's spec."""

    def __init__(self, action: str, reason: str):
        self.action = action
        self.reason = reason
        super().__init__(f"invalid params for action {action!r}: {reason}")


# -- leaf validators -------------------------------------------------------


def _is_num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def number(v):
    return None if _is_num(v) else f"expected a number, got {v!r}"


def pos_number(v):
    if not _is_num(v):
        return f"expected a positive number, got {v!r}"
    return None if v > 0 else f"expected a positive number, got {v!r}"


def nat_number(v):
    if not _is_num(v):
        return f"expected a non-negative number, got {v!r}"
    return None if v >= 0 else f"expected a non-negative number, got {v!r}"


def pos_int(v):
    if not isinstance(v, int) or isinstance(v, bool) or v <= 0:
        return f"expected a positive integer, got {v!r}"
    return None


def boolean(v):
    return None if isinstance(v, bool) else f"expected a boolean, got {v!r}"


def integer(v):
    """Any int (sign-free): Bloom words are raw int64 bit patterns,
    so the top-bit-set ones arrive as negative Python ints."""
    if not isinstance(v, int) or isinstance(v, bool):
        return f"expected an integer, got {v!r}"
    return None


def ne_string(v):
    if not isinstance(v, str) or not v:
        return f"expected a non-empty string, got {v!r}"
    return None


def field(v):
    """A field ref: a column name or a nested path (list of names) —
    the reference's ``::field`` (action.clj:28-29, keyword or seq)."""
    if isinstance(v, str) and v:
        return None
    if (
        isinstance(v, (list, tuple))
        and v
        and all(isinstance(x, str) and x for x in v)
    ):
        return None
    return f"expected a field name or path, got {v!r}"


def fields_list(v):
    if not isinstance(v, (list, tuple)) or not v:
        return f"expected a non-empty list of fields, got {v!r}"
    for x in v:
        r = field(x)
        if r:
            return r
    return None


def str_or_strs(v):
    """``::tag`` shape: one string or a list of strings
    (action.clj:947-948)."""
    if isinstance(v, str) and v:
        return None
    if isinstance(v, (list, tuple)) and v and all(
        isinstance(x, str) and x for x in v
    ):
        return None
    return f"expected a string or list of strings, got {v!r}"


def mapping_of(kv: Validator, vv: Validator | None = None):
    def check(v):
        if not isinstance(v, dict):
            return f"expected a mapping, got {v!r}"
        for k, val in v.items():
            r = kv(k)
            if r:
                return f"bad key {k!r}: {r}"
            if vv is not None:
                r = vv(val)
                if r:
                    return f"bad value for key {k!r}: {r}"
        return None

    return check


def one_of(*allowed):
    def check(v):
        if v not in allowed:
            return f"expected one of {allowed!r}, got {v!r}"
        return None

    return check


def any_value(v):
    return None


def callable_(v):
    return None if callable(v) else f"expected a callable, got {v!r}"


def quantiles(v):
    if not isinstance(v, (list, tuple)) or not v:
        return f"expected a non-empty list of quantiles, got {v!r}"
    for q in v:
        if not _is_num(q) or not (0 <= q <= 1):
            return f"quantiles must be numbers in [0, 1], got {q!r}"
    return None


_CONDITION_OPS = frozenset({
    "and", "or", "not", "always-true", "true",
    "pos?", "neg?", "zero?", "nil?", "not-nil?",
    ">", ">=", "<", "<=", "=", "not=", "contains", "absent", "regex",
})


def condition(v):
    """Structural twin of ``cd/valid-condition?`` (spec ``::condition``
    action.clj:86) over :mod:`mirabelle_spark.conditions`' op table."""
    if not isinstance(v, (list, tuple)) or not v:
        return f"expected a condition vector, got {v!r}"
    op = v[0]
    op = op[1:] if isinstance(op, str) and op.startswith(":") else op
    if not isinstance(op, str) or op not in _CONDITION_OPS:
        return f"unknown condition op {v[0]!r} in {v!r}"
    if op in ("and", "or"):
        if len(v) < 2:
            return f"{op} needs at least one sub-condition in {v!r}"
        for sub in v[1:]:
            r = condition(sub)
            if r:
                return r
        return None
    if op == "not":
        if len(v) != 2:
            return f"not takes exactly one sub-condition in {v!r}"
        return condition(v[1])
    if op in ("always-true",) or (op == "true" and len(v) == 1):
        return None
    if len(v) < 2:
        return f"condition {v!r} is missing its field"
    r = field(v[1])
    if r:
        return f"in condition {v!r}: {r}"
    if op in (">", ">=", "<", "<=", "=", "not=", "contains", "absent",
              "regex") and len(v) < 3:
        return f"condition op {op!r} needs a comparison value in {v!r}"
    return None


def list_of(item: Validator, min_len: int = 1, max_len: int | None = None):
    def check(v):
        if not isinstance(v, (list, tuple)):
            return f"expected a list, got {v!r}"
        if len(v) < min_len or (max_len is not None and len(v) > max_len):
            want = (
                f"exactly {min_len}" if max_len == min_len
                else f"at least {min_len}"
            )
            return f"expected {want} element(s), got {len(v)}"
        for x in v:
            r = item(x)
            if r:
                return r
        return None

    return check


def config(req: dict[str, Validator], opt: dict[str, Validator] | None = None):
    """The reference's ``(s/keys :req-un [...])`` config-map shape."""
    opt = opt or {}

    def check(v):
        if not isinstance(v, dict):
            return f"expected a config mapping, got {v!r}"
        for k, val_fn in req.items():
            if k not in v:
                return f"missing required key {k!r}"
            r = val_fn(v[k])
            if r:
                return f"key {k!r}: {r}"
        for k, val_fn in opt.items():
            if k in v:
                r = val_fn(v[k])
                if r:
                    return f"key {k!r}: {r}"
        extra = set(v) - set(req) - set(opt)
        if extra:
            return f"unknown key(s) {sorted(extra)!r}"
        return None

    return check


# -- per-action signatures -------------------------------------------------

_DUR = {"duration": pos_number}

# `aggregation`'s aggr-fn names; each compile mode runs a subset
# (plans.builder raises naming the mode for the rest)
AGGR_FNS = ("sum", "mean", "max", "min", "count", "rate", "ssort",
            "fixed-time-window")


class Sig:
    """Positional params: ``required`` then ``optional`` validators;
    ``var=True`` allows unvalidated extra params beyond those."""

    def __init__(self, *required: tuple[str, Validator],
                 optional: tuple[tuple[str, Validator], ...] = (),
                 var: bool = False):
        self.required = required
        self.optional = optional
        self.var = var

    def check(self, action: str, params: list) -> None:
        lo = len(self.required)
        hi = None if self.var else lo + len(self.optional)
        if len(params) < lo or (hi is not None and len(params) > hi):
            want = str(lo) if hi == lo else (
                f"{lo}+" if hi is None else f"{lo}-{hi}")
            raise InvalidActionParams(
                action, f"takes {want} parameter(s), got {len(params)}"
            )
        slots = list(self.required) + list(self.optional)
        for (pname, vfn), value in zip(slots, params):
            reason = vfn(value)
            if reason:
                raise InvalidActionParams(action, f"param {pname!r}: {reason}")


SPECS: dict[str, Sig] = {
    # filters (action.clj ::where :87, ::over :1286, ::under :1311,
    # ::tagged-all :1014, ::throttle :1196)
    "where": Sig(("conditions", condition)),
    "over": Sig(("n", number)),
    "under": Sig(("n", number)),
    "tagged-all": Sig(("tags", str_or_strs)),
    "expired": Sig(),
    "not-expired": Sig(),
    "throttle": Sig(("config", config({"count": pos_int, **_DUR}))),
    # coll-where param is a JVM lambda body over x (documented
    # divergence from the reference's condition vector)
    "coll-where": Sig(("predicate", ne_string),
                      optional=(("list-col", ne_string),)),
    # transforms (::default :662, ::scale :1090, ::tag :947,
    # ::to-string :2931, ::sformat, ::from-json, ::extract,
    # ::iterate-on :3026)
    "with": Sig(("fields", mapping_of(ne_string))),
    "default": Sig(("fields", mapping_of(ne_string))),
    "sdissoc": Sig(("keys", str_or_strs)),
    "keep-keys": Sig(("keys", fields_list)),
    "rename-keys": Sig(("mapping", mapping_of(ne_string, ne_string))),
    "tag": Sig(("tags", str_or_strs)),
    "untag": Sig(("tags", str_or_strs)),
    "increment": Sig(),
    "decrement": Sig(),
    "scale": Sig(("factor", number)),
    "to-string": Sig(("keys", str_or_strs)),
    "sformat": Sig(("template", ne_string), ("target", ne_string),
                   ("fields", fields_list)),
    "to-base64": Sig(("keys", str_or_strs)),
    "from-base64": Sig(("keys", str_or_strs)),
    "from-json": Sig(("key", ne_string), ("schema", any_value), var=True),
    "extract": Sig(("key", ne_string)),
    "iterate-on": Sig(("key", ne_string)),
    "sflatten": Sig(optional=(("list-col", ne_string),)),
    "custom": Sig(("name", ne_string), var=True),
    "sdo": Sig(),
    "io": Sig(),
    "async-queue!": Sig(var=True),
    "exception-stream": Sig(("row-fn", callable_)),
    # windows (::fixed-event-window :245, ::moving-event-window :1228,
    # ::coalesce :790, ::project)
    "fixed-time-window": Sig(("config", config(_DUR))),
    "moving-time-window": Sig(("config", config(_DUR))),
    "fixed-event-window": Sig(("config", config({"size": pos_int}))),
    "moving-event-window": Sig(("config", config({"size": pos_int}))),
    "ssort": Sig(("config", config({**_DUR, "field": ne_string}))),
    "coalesce": Sig(("config", config({**_DUR, "fields": fields_list}))),
    "project": Sig(("conditions", list_of(condition)),
                   optional=(("config", config({}, opt=_DUR)),)),
    # aggregations (::rate :2833, ::percentiles :2901, ::ratio :2970)
    "sum": Sig(("config", config(_DUR, opt={"delay": nat_number}))),
    "mean": Sig(("config", config(_DUR, opt={"delay": nat_number}))),
    "top": Sig(("config", config(_DUR))),
    "bottom": Sig(("config", config(_DUR))),
    "rate": Sig(("config", config(_DUR, opt={"delay": nat_number}))),
    "aggregation": Sig(("config", config(_DUR, opt={
        "delay": nat_number, "aggr-fn": one_of(*AGGR_FNS)}))),
    "ratio": Sig(("conditions", list_of(condition, 2, 2)),
                 ("config", config(_DUR, opt={"metric": boolean}))),
    "percentiles": Sig(("config", config({**_DUR, "quantiles": quantiles}))),
    "coll-percentiles": Sig(
        ("config", config({**_DUR, "quantiles": quantiles}))),
    "coll-count": Sig(("config", config(_DUR, opt={"delay": nat_number}))),
    "coll-sum": Sig(("config", config(_DUR, opt={"delay": nat_number}))),
    "coll-mean": Sig(("config", config(_DUR, opt={"delay": nat_number}))),
    "coll-max": Sig(("config", config(_DUR, opt={"delay": nat_number}))),
    "coll-min": Sig(("config", config(_DUR, opt={"delay": nat_number}))),
    "coll-rate": Sig(("config", config(_DUR, opt={"delay": nat_number}))),
    "coll-quotient": Sig(("config", config(_DUR))),
    "coll-top": Sig(("config", config({**_DUR, "nb": pos_int}))),
    "coll-bottom": Sig(("config", config({**_DUR, "nb": pos_int}))),
    "coll-increase": Sig(optional=(("config", config({}, opt=_DUR)),)),
    "coll-sort": Sig(("field", ne_string)),
    "ewma-timeless": Sig(("r", number)),
    "sessionize": Sig(("config", config({"gap": pos_number}))),
    "zscore": Sig(("config", config({"window": pos_number},
                                    {"min-n": pos_int}))),
    "curate": Sig(optional=(("config", config({}, opt={
        "text-col": ne_string, "id-col": ne_string,
        "min-words": pos_int, "rules": str_or_strs,
        "dedup-within": pos_number, "quality": ne_string,
        "domain": ne_string, "domain-min-logw": number,
        "perplexity": one_of("trained", "trained2", "trained3"),
        "perplexity-max-bpt": pos_number,
        "perplexity-min-bigrams": pos_int,
        "near-dup": boolean, "near-dup-bands": pos_int,
        "near-dup-shards": pos_int,
        "contamination-bloom": list_of(integer),
        "contamination-m-bits": pos_int, "contamination-k": pos_int,
        "contamination-shingle-n": pos_int,
        "contamination-min-shared": pos_int,
    })),)),
    # stateful (::above-dt :510, ::below-dt :536, ::between-dt :562,
    # ::outside-dt :592, ::cond-dt :623, ::changed :1347, ::stable)
    "changed": Sig(("config", config({"field": ne_string},
                                     opt={"init": any_value}))),
    "ddt": Sig(),
    "ddt-pos": Sig(),
    "smax": Sig(),
    "smin": Sig(),
    "above-dt": Sig(("config", config({"threshold": number, **_DUR}))),
    "below-dt": Sig(("config", config({"threshold": number, **_DUR}))),
    "between-dt": Sig(("config", config({"low": number, "high": number,
                                         **_DUR}))),
    "outside-dt": Sig(("config", config({"low": number, "high": number,
                                         **_DUR}))),
    "critical-dt": Sig(("config", config(_DUR))),
    "cond-dt": Sig(("condition", condition), ("config", config(_DUR))),
    "stable": Sig(("dt", pos_number), ("field", ne_string)),
    # structural / sinks (handled in _walk but validated here)
    "by": Sig(("config", config({"fields": fields_list},
                                opt={"shards": pos_int}))),
    "split": Sig(("conditions", list_of(condition)), var=True),
    "tap": Sig(("name", ne_string)),
    "test-action": Sig(("name", ne_string)),
    "output!": Sig(("output-name", ne_string)),
    "publish!": Sig(("channel", ne_string)),
    "reinject!": Sig(optional=(("destination", ne_string),)),
    "debug": Sig(),
    "info": Sig(),
    "error": Sig(),
    "include": Sig(("path", ne_string), optional=(("variables",
                                                   mapping_of(ne_string)),)),
}


def validate_node(action: str, params: list, known: set[str],
                  user_registered: set[str]) -> None:
    """Validate one node. ``known`` = every dispatchable action name;
    ``user_registered`` = names added via register_action (spec-free,
    like the reference's custom actions)."""
    if action in user_registered:
        # user code may SHADOW a builtin (test.clj:52-54 wires e.g.
        # {:custom where*}); its params follow the user's contract,
        # not the builtin spec
        return
    sig = SPECS.get(action)
    if sig is None:
        if action in known:
            return  # spec-free builtin: trust it
        raise InvalidActionParams(action, "unknown action")
    sig.check(action, params)


def validate_tree(tree, known: set[str], user_registered: set[str]) -> None:
    """Pre-pass over the whole tree: every malformed node is reported
    before any DataFrame work starts (valid-action? runs at stream
    build time in the reference too, stream.clj compile path)."""
    if isinstance(tree, list):
        for node in tree:
            validate_tree(node, known, user_registered)
        return
    if not isinstance(tree, dict) or "action" not in tree:
        raise InvalidActionParams(
            str(tree)[:80], "node must be a mapping with an 'action' key"
        )
    name = tree["action"]
    params = tree.get("params", [])
    if not isinstance(params, list):
        raise InvalidActionParams(name, f"params must be a list, got {params!r}")
    validate_node(name, params, known, user_registered)
    children = tree.get("children", [])
    if not isinstance(children, list):
        raise InvalidActionParams(
            name, f"children must be a list, got {children!r}"
        )
    for child in children:
        validate_tree(child, known, user_registered)
