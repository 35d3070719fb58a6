"""Condition mini-language → Catalyst ``Column``.

The reference shares one condition vocabulary between ``where``,
``split``, ``ratio``, ``project`` and websocket queries: vectors of
``[op field-or-path & args]`` plus ``:and``/``:or`` combinators
(reference: ``action/condition.clj:4-22``, compiler at
``condition.clj:50-93``). The vocabulary has two forms here:

- :func:`compile_condition` compiles a vector straight to a Catalyst
  ``Column``. It is the one executable form: every engine consumer,
  batch and streaming (the keyed-state folds read its value as a
  column), evaluates it in Spark, with predicate pushdown and codegen
  instead of a per-event interpreted closure.
- :func:`condition_to_sql` renders the same vector as SQL text for
  the DuckDB oracles.

Field addressing: a plain string names a top-level column; a
list/tuple of strings is a nested path (struct fields or map keys),
mirroring the reference's key-path vectors (``condition.clj:58-60``).

Semantics pinned to the reference:
- ``:regex`` is a FULL match (clojure ``re-matches``,
  ``condition.clj:19``) → the pattern is anchored with ``^(?:…)$``.
- ``:contains`` / ``:absent`` test membership of a value in a
  collection-valued field (``condition.clj:10,16``).
- ``:=`` on null field is false (SQL null semantics match clojure
  ``=`` against missing key only for non-nil args; use ``:nil?``).
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

FieldRef = str | Sequence[str]


def field_col(field: FieldRef) -> Column:
    """Resolve a field name or nested key path to a Column.

    Dotted access covers both struct fields and map keys in Spark
    (``col("attributes.quantile")`` works for MapType too).
    """
    if isinstance(field, str):
        return F.col(field)
    path = list(field)
    c = F.col(path[0])
    for part in path[1:]:
        c = c[part]
    return c


def _norm_op(op: Any) -> str:
    if not isinstance(op, str):
        raise ValueError(
            f"condition op must be a keyword string, got {op!r} "
            "(is the vector nested one level too deep?)"
        )
    return op[1:] if op.startswith(":") else op


def compile_condition(cond: Sequence) -> Column:
    """Compile a condition vector to a boolean Column.

    >>> compile_condition([":and", [":=", "event_type", "click"],
    ...                            [":>", "value", 10]])
    """
    if not isinstance(cond, (list, tuple)) or not cond:
        raise ValueError(f"condition must be a non-empty sequence, got {cond!r}")
    op = _norm_op(cond[0])

    if op == "and":
        sub = [compile_condition(c) for c in cond[1:]]
        out = sub[0]
        for s in sub[1:]:
            out = out & s
        return out
    if op == "or":
        sub = [compile_condition(c) for c in cond[1:]]
        out = sub[0]
        for s in sub[1:]:
            out = out | s
        return out
    if op == "not":
        # Clojure (not pred) on a missing/nil field is true; SQL 3VL
        # would keep NULL (row dropped). Coalesce to false first so
        # negation semantics match the reference mini-language.
        return ~F.coalesce(compile_condition(cond[1]), F.lit(False))
    if op in ("always-true", "true") and len(cond) == 1:
        return F.lit(True)

    if len(cond) < 2:
        raise ValueError(f"condition {cond!r} is missing its field")
    field = cond[1]
    col = field_col(field)
    args = list(cond[2:])

    if op == "pos?":
        return col > 0
    if op == "neg?":
        return col < 0
    if op == "zero?":
        return col == 0
    if op == ">":
        return col > F.lit(args[0])
    if op == ">=":
        return col >= F.lit(args[0])
    if op == "<":
        return col < F.lit(args[0])
    if op == "<=":
        return col <= F.lit(args[0])
    if op == "=":
        return col == F.lit(args[0])
    if op == "not=":
        # clojure not= is true when values differ, incl. nil vs value
        return ~col.eqNullSafe(F.lit(args[0]))
    if op == "true":
        return col == F.lit(True)
    if op == "contains":
        return F.array_contains(col, F.lit(args[0]))
    if op == "absent":
        # absent on a null collection is true (nothing contained)
        return F.coalesce(~F.array_contains(col, F.lit(args[0])), F.lit(True))
    if op == "regex":
        return col.rlike(f"^(?:{args[0]})$")
    if op == "nil?":
        return col.isNull()
    if op == "not-nil?":
        return col.isNotNull()
    raise ValueError(f"unknown condition op {op!r} in {cond!r}")


def condition_to_sql(cond: Sequence) -> str:
    """Render a condition vector as an ANSI SQL predicate string.

    Used to build DuckDB oracle queries that share one source of
    truth with the Spark plan.
    """
    if not isinstance(cond, (list, tuple)) or not cond:
        raise ValueError(f"condition must be a non-empty sequence, got {cond!r}")
    op = _norm_op(cond[0])

    def lit(v: Any) -> str:
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        return repr(v)

    if op in ("and", "or"):
        return "(" + f" {op.upper()} ".join(condition_to_sql(c) for c in cond[1:]) + ")"
    if op == "not":
        return f"(NOT coalesce({condition_to_sql(cond[1])}, FALSE))"
    if op in ("always-true", "true") and len(cond) == 1:
        return "TRUE"

    field = cond[1]
    fld = field if isinstance(field, str) else ".".join(field)
    args = list(cond[2:])
    table = {
        "pos?": f"({fld} > 0)",
        "neg?": f"({fld} < 0)",
        "zero?": f"({fld} = 0)",
        "nil?": f"({fld} IS NULL)",
        "not-nil?": f"({fld} IS NOT NULL)",
    }
    if op in table:
        return table[op]
    if op in (">", ">=", "<", "<=", "="):
        return f"({fld} {op} {lit(args[0])})"
    if op == "not=":
        return f"({fld} IS DISTINCT FROM {lit(args[0])})"
    if op == "true":
        return f"({fld} = TRUE)"
    if op == "contains":
        return f"list_contains({fld}, {lit(args[0])})"
    if op == "absent":
        return f"coalesce(NOT list_contains({fld}, {lit(args[0])}), TRUE)"
    if op == "regex":
        return f"regexp_full_match({fld}, {lit(args[0])})"
    raise ValueError(f"unknown condition op {op!r} in {cond!r}")
