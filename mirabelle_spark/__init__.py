"""mirabelle_spark — a PySpark-native event analytics engine.

A from-scratch rebuild of the capabilities of appclacks/mirabelle
(an event stream processing engine in the Riemann lineage) on top of
Apache Spark: DataFrame/SQL for the operator library, Structured
Streaming for the push path, Catalyst/Tungsten as the optimizer and
execution engine.

Layout
------
- ``conditions``   — the condition mini-language → Catalyst ``Column``
- ``operators``    — one DataFrame transform per reference action
- ``plans``        — action-tree DSL → DataFrame pipeline builder
- ``streaming``    — Structured Streaming twins (watermark, state)
- ``pipeline``     — large-scale training-data ops (dedup, ANN, text)
- ``worker_daemon`` — the sessions' Python worker daemon

The package itself imports no pyspark: the worker daemon imports it
before it sets up the path pyspark is imported from.

Reference parity citations point into the read-only snapshot at
``/root/reference`` (mirabelle 0.14.0), e.g. ``action.clj:2387``.
"""

__version__ = "0.1.0"
