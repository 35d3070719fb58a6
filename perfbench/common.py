"""Shared plumbing for the benchmark: work dir, Spark session, tracing,
host-noise and RSS sampling, and the Spark-side layer readers.

Nothing here starts a thread or a process at import time.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile of a non-empty sequence (q in 0..100)."""
    import numpy as np

    arr = np.sort(np.asarray(values, dtype=np.float64))
    idx = int(np.ceil(q / 100.0 * len(arr))) - 1
    return float(arr[min(max(idx, 0), len(arr) - 1)])


def median(values) -> float:
    return percentile(values, 50.0)


class WorkDir:
    """Per-run scratch directory inside the checkout, removed on close."""

    def __init__(self, workload: str):
        base = os.path.join(ROOT, ".bench_work")
        self.path = os.path.join(base, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        self.runs = os.path.join(ROOT, ".bench_runs")
        os.makedirs(self.runs, exist_ok=True)

    def sub(self, name: str) -> str:
        d = os.path.join(self.path, name)
        os.makedirs(d, exist_ok=True)
        return d

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_spark(work: WorkDir, cpus: int):
    """The engine's own session factory, with every file it writes
    (shuffle, warehouse, JVM temp) kept under the work dir and the
    checkout on the Python workers' path."""
    tmp = work.sub("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # pandas deprecation chatter from inside PySpark's own serializers
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    from mirabelle_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": work.sub("warehouse"),
            # no hsperfdata file in /tmp: the run writes only under the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "2000",
            # the keyed-state twins fold each Arrow chunk of a group in
            # arrival order (streaming.core._keyed_batch_scan sorts per
            # chunk), so a host whose micro-batch rows span two chunks
            # is folded out of event-time order; one chunk per group
            # keeps the workloads inside what the engine gets right
            "spark.sql.execution.arrow.maxRecordsPerBatch": "2000000",
        },
    )


# -- tracing -----------------------------------------------------------------


class Tracer:
    """Spans around the benchmark's calls into each layer, kept in
    memory and written out when the run ends. Disabled, ``call`` is a
    plain call and ``count`` a dict update."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.counters: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()

    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(None)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans[sid] = (sid, parent, name, t0, t1, threading.get_ident())

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0) + n

    def total_s(self, name: str) -> float:
        return sum(s[4] - s[3] for s in self.spans if s and s[2] == name)

    def span_cost_s(self) -> float:
        """Measured cost of recording one span (for the overhead line)."""
        probe = Tracer(True)
        n = 20000
        t0 = time.perf_counter()
        for _ in range(n):
            probe.call("probe", int)
        with_span = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(n):
            int()
        bare = time.perf_counter() - t0
        return max(with_span - bare, 0.0) / n

    def dump(self, path: str, extra: dict) -> None:
        spans = [
            {"id": s[0], "parent": s[1], "name": s[2], "start": s[3], "end": s[4],
             "thread": s[5]}
            for s in self.spans
            if s
        ]
        with open(path, "w") as fh:
            json.dump({"spans": spans, "counters": self.counters, **extra}, fh)


# -- host noise and memory -------------------------------------------------------


def cpu_times() -> tuple[int, int, int, int]:
    """(steal, idle, iowait, total) jiffies from the first line of
    /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], vals[3], vals[4], sum(vals)


# hypervisor steal above this share of a measured window means a
# co-tenant burst slowed every layer at once; the window is measured again
STEAL_RETRY_PCT = 5.0


def quietest(measure, tries: int = 2):
    """Run ``measure() -> (metrics, noise, detail)``, again while the
    steal over its window exceeded STEAL_RETRY_PCT (``tries`` in all),
    and keep the attempt with the least steal. The noise record lists
    every attempt's steal."""
    attempts = []
    for _ in range(tries):
        attempts.append(measure())
        if attempts[-1][1]["steal_pct"] <= STEAL_RETRY_PCT:
            break
    metrics, noise, detail = min(attempts, key=lambda a: a[1]["steal_pct"])
    return metrics, dict(noise, attempts_steal_pct=[a[1]["steal_pct"] for a in attempts]), detail


def host_noise(before, after) -> dict:
    """Steal % and busy % of the whole host between two ``cpu_times()``."""
    s0, i0, w0, t0 = before
    s1, i1, w1, t1 = after
    dt = max(t1 - t0, 1)
    steal = s1 - s0
    busy = dt - (i1 - i0) - (w1 - w0) - steal
    return {"steal_pct": 100.0 * steal / dt, "busy_pct": 100.0 * busy / dt}


def _proc_tree_pss_kb(root: int, exclude: set[int]) -> int:
    """Summed proportional set size of ``root`` and its descendants:
    resident memory with pages shared between processes split among
    them, so a forked child (the JVM forks helpers for shell commands,
    PySpark forks its workers) does not count its parent twice."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        parent[int(entry)] = int(stat[stat.rfind(")") + 2 :].split()[1])
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree and pid not in exclude:
                tree.add(pid)
                grew = True
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Peak resident memory (summed PSS) of this process and its
    descendants (the JVM and its Python workers), sampled in a
    background thread; the load generator's pid is excluded."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self):
        with self._lock:
            self.peak_kb = max(self.peak_kb, _proc_tree_pss_kb(os.getpid(), self.exclude))

    def reset(self):
        """Start the peak afresh (at the start of the measured window)."""
        with self._lock:
            self.peak_kb = 0

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Peak in MB up to the first call; later calls return the same."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()
        return self.peak_kb / 1024.0


# -- Spark-side layer readers ----------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

# SQL metric name -> layer metric (sizes in bytes, timings in seconds)
_SQL_METRICS = {
    "shuffle bytes written": "spark.shuffle_bytes",
    "spill size": "spark.spill_bytes",
    "time to start Python workers": "spark.python_start_s",
    "time to run Python workers": "spark.python_run_s",
    "data sent to Python workers": "spark.python_bytes",
    "data returned from Python workers": "spark.python_bytes",
}


def _metric_total(text: str) -> float:
    """Parse a formatted SQL metric: a plain total (``1,000``,
    ``11 ms``) or ``total (min, med, max ...)\\n<total> (...)``."""
    line = text.split("\n")[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SqlStatus:
    """Jobs, stages and SQL metrics of every SQL execution that ran
    after ``mark()``, read from Spark's own status store."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen: set[int] = set()

    def _executions(self):
        ex = self._store.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    def mark(self) -> None:
        self._seen = {e.executionId() for e in self._executions()}

    def totals(self) -> dict[str, float]:
        out = {name: 0.0 for name in _SQL_METRICS.values()}
        out["spark.jobs"] = 0.0
        out["spark.stages"] = 0.0
        for e in self._executions():
            eid = e.executionId()
            if eid in self._seen:
                continue
            out["spark.jobs"] += e.jobs().size()
            out["spark.stages"] += e.stages().size()
            values = self._store.executionMetrics(eid)
            ms = e.metrics()
            done: set[int] = set()
            for j in range(ms.size()):
                m = ms.apply(j)
                key = _SQL_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in done:
                    continue
                done.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    out[key] += _metric_total(v.get())
        return out


def stream_progress(query, since_batch: int) -> list[dict]:
    """Progress records of micro-batches numbered ``since_batch`` or
    later that read input."""
    out = []
    for p in query.recentProgress:
        if p["batchId"] >= since_batch and p["numInputRows"] > 0:
            out.append(p)
    return out


STREAM_CORE_METRICS = (
    "streaming.core.batches", "streaming.core.rows_per_batch",
    "streaming.core.latest_offset_ms", "streaming.core.query_planning_ms",
    "streaming.core.add_batch_ms", "streaming.core.wal_commit_ms",
    "streaming.core.commit_offsets_ms", "streaming.core.trigger_ms",
    "streaming.core.idle_s", "streaming.core.state_rows",
    "streaming.core.state_bytes", "streaming.core.state_commit_ms",
)


def stream_core_layer(progress: list[dict], window_s: float) -> dict[str, float]:
    """Per-batch medians of the micro-batch phases, plus state size
    after the last batch and the part of the window spent idle."""
    out = {name: 0.0 for name in STREAM_CORE_METRICS}
    if not progress:
        out["streaming.core.idle_s"] = window_s
        return out

    def dur(key):
        return median([p["durationMs"].get(key, 0) for p in progress])

    trigger_total_s = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1e3
    last_state = progress[-1].get("stateOperators") or [{}]
    out.update({
        "streaming.core.batches": float(len(progress)),
        "streaming.core.rows_per_batch": median([p["numInputRows"] for p in progress]),
        "streaming.core.latest_offset_ms": dur("latestOffset"),
        "streaming.core.query_planning_ms": dur("queryPlanning"),
        "streaming.core.add_batch_ms": dur("addBatch"),
        "streaming.core.wal_commit_ms": dur("walCommit"),
        "streaming.core.commit_offsets_ms": dur("commitOffsets"),
        "streaming.core.trigger_ms": dur("triggerExecution"),
        "streaming.core.idle_s": max(window_s - trigger_total_s, 0.0),
        "streaming.core.state_rows": float(sum(s.get("numRowsTotal", 0) for s in last_state)),
        "streaming.core.state_bytes": float(sum(s.get("memoryUsedBytes", 0) for s in last_state)),
        "streaming.core.state_commit_ms": median([
            sum(s.get("commitTimeMs", 0) for s in (p.get("stateOperators") or [{}]))
            for p in progress
        ]),
    })
    return out
