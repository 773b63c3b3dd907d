"""Per-layer measurement from outside the program.

Three sources, all driven from the benchmark's own files:

* :class:`Spans` records wall-clock spans around the benchmark's calls
  into the program's public functions (and, while tracing, around the
  module functions it wraps with :func:`wrapped`).
* :func:`read_event_log` parses a plain-text Spark event log with the
  stdlib ``json`` module into per-SQL-execution operator metrics and
  task walls; the helpers below it sum them over the executions that
  started inside a span.
* :func:`kernel_probes` re-runs the extraction kernel and the
  ``docmodel``/``textproc`` functions single-process over the same
  inputs the executors see, wrapping each module function with a timer.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import statistics
import threading
import time
from collections import defaultdict


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Nearest-rank quantile; ``q`` in (0, 1]."""
    if not xs:
        return 0.0
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)]


class Spans:
    """In-memory span recorder: (name, start_s, end_s, parent)."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, str | None]] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append((name, t0, time.time(), parent))

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, _ in self.spans if n == name]

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s, e) for n, s, e, _ in self.spans if n == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))


class NullSpans(Spans):
    """Records nothing: used while the end-to-end figures are measured."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield


@contextlib.contextmanager
def wrapped(spans: Spans, module, names, prefix: str):
    """Replace ``module.<name>`` with a span-recording wrapper for the
    duration of the block. Names the module no longer has are skipped
    (their metric then reads 0), so a refactor of the program does not
    break the benchmark."""
    saved = {}
    for name in names:
        fn = getattr(module, name, None)
        if fn is None:
            continue
        saved[name] = fn

        def make(fn, label):
            def timed(*args, **kwargs):
                with spans.span(label):
                    return fn(*args, **kwargs)

            return timed

        setattr(module, name, make(fn, f"{prefix}.{name}"))
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(module, name, fn)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def _as_int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


class EventLog:
    """Parsed event log: SQL executions with their plan trees, summed
    accumulator values, and the walls of the tasks that ran for them."""

    def __init__(self):
        self.exec_start: dict[int, float] = {}   # execution id -> start (s)
        self.plans: dict[int, dict] = {}         # execution id -> latest plan
        self.acc_meta: dict[int, tuple[int, str, str]] = {}  # acc -> (exec, node, metric)
        self.acc_value: dict[int, int] = defaultdict(int)
        self.stage_exec: dict[int, int] = {}     # stage id -> execution id
        self.task_ms: dict[int, list[int]] = defaultdict(list)  # exec -> task walls
        self.shuffle_bytes: dict[int, int] = defaultdict(int)   # exec -> task shuffle write

    def executions_in(self, t0: float, t1: float) -> list[int]:
        return [x for x, s in self.exec_start.items() if t0 <= s <= t1]

    def metric(self, execs, node_pred, metric_name: str) -> int:
        """Sum of ``metric_name`` over plan nodes accepted by
        ``node_pred(node_name)`` in the given executions."""
        execs = set(execs)
        return sum(
            self.acc_value.get(acc, 0)
            for acc, (x, node, m) in self.acc_meta.items()
            if x in execs and m == metric_name and node_pred(node)
        )


def _walk_plan(node, visit, parents=()):
    visit(node, parents)
    for child in node.get("children", []):
        _walk_plan(child, visit, parents + (node,))


def read_event_log(log_dir: str) -> EventLog:
    """Parse every uncompressed event log file under ``log_dir``."""
    log = EventLog()

    def register(x: int, plan: dict) -> None:
        log.plans[x] = plan

        def visit(node, _parents):
            for m in node.get("metrics", []):
                log.acc_meta[m["accumulatorId"]] = (x, node["nodeName"], m["name"])

        _walk_plan(plan, visit)

    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"].rsplit(".", 1)[-1]
                if kind == "SparkListenerSQLExecutionStart":
                    x = ev["executionId"]
                    log.exec_start[x] = ev["time"] / 1000.0
                    register(x, ev["sparkPlanInfo"])
                elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
                    register(ev["executionId"], ev["sparkPlanInfo"])
                elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
                    for m in ev["sqlPlanMetrics"]:
                        log.acc_meta[m["accumulatorId"]] = (
                            ev["executionId"], "AdaptiveSparkPlan", m["name"],
                        )
                elif kind == "SparkListenerDriverAccumUpdates":
                    for acc, v in ev["accumUpdates"]:
                        log.acc_value[acc] += _as_int(v)
                elif kind == "SparkListenerJobStart":
                    x = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                    if x is not None:
                        for s in ev["Stage IDs"]:
                            log.stage_exec[s] = int(x)
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    for a in info.get("Accumulables", []):
                        if a.get("Metadata") == "sql":
                            log.acc_value[a["ID"]] += _as_int(a.get("Update"))
                    x = log.stage_exec.get(ev["Stage ID"])
                    if x is not None:
                        log.task_ms[x].append(info["Finish Time"] - info["Launch Time"])
                        sw = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                        log.shuffle_bytes[x] += _as_int(sw.get("Shuffle Bytes Written"))
    return log


PY_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas",
            "FlatMapGroupsInArrow", "BatchEvalPython")


def is_python_node(node: str) -> bool:
    return node.startswith(PY_NODES)


def python_metrics(log: EventLog, execs) -> dict[str, float]:
    """Python-worker time (ms) and bytes across every Python operator."""
    return {
        "py_boot_ms": log.metric(execs, is_python_node, "time to start Python workers"),
        "py_init_ms": log.metric(execs, is_python_node, "time to initialize Python workers"),
        "py_run_ms": log.metric(execs, is_python_node, "time to run Python workers"),
        "py_bytes_in": log.metric(execs, is_python_node, "data sent to Python workers"),
        "py_bytes_out": log.metric(execs, is_python_node, "data returned from Python workers"),
    }


def skew_routed_docs(log: EventLog, execs) -> int:
    """Documents routed to the skew path: rows out of the first Filter
    below an ``explode`` Generate that feeds a grouped Python operator
    (the mega-doc split of ``operators.extract``)."""
    accs: list[int] = []

    def rows_acc(node):
        for m in node.get("metrics", []):
            if m["name"] == "number of output rows":
                return m["accumulatorId"]
        return None

    def first_filter(node):
        if node["nodeName"] == "Filter":
            return node
        for child in node.get("children", []):
            hit = first_filter(child)
            if hit is not None:
                return hit
        return None

    for x in execs:
        plan = log.plans.get(x)
        if plan is None:
            continue

        def visit(node, parents):
            if (node["nodeName"] == "Generate" and "explode" in node.get("simpleString", "")
                    and any(p["nodeName"].startswith("FlatMapGroupsIn") for p in parents)):
                f = first_filter(node)
                acc = rows_acc(f) if f is not None else None
                if acc is not None:
                    accs.append(acc)

        _walk_plan(plan, visit)
    return sum(log.acc_value.get(a, 0) for a in accs)


def scan_rows(log: EventLog, execs) -> int:
    """Rows produced by parquet file scans in the given executions."""
    return log.metric(execs, lambda n: n.startswith("Scan parquet"), "number of output rows")


def files_read(log: EventLog, execs, fmt: str) -> int:
    return log.metric(execs, lambda n: n.startswith(f"Scan {fmt}"), "number of files read")


def task_walls(log: EventLog, execs) -> list[int]:
    return [ms for x in execs for ms in log.task_ms.get(x, [])]


def shuffle_write_bytes(log: EventLog, execs) -> int:
    return sum(log.shuffle_bytes.get(x, 0) for x in execs)


def execs_in_windows(log: EventLog, windows) -> list[int]:
    out: list[int] = []
    for t0, t1 in windows:
        out.extend(log.executions_in(t0, t1))
    return out


# ---------------------------------------------------------------------------
# Python worker memory
# ---------------------------------------------------------------------------


class WorkerRss:
    """Samples the peak resident set (VmHWM) of every Python worker the
    benchmark process's Spark JVM forked, from ``/proc``."""

    def __init__(self, every_s: float = 0.1):
        self.every_s = every_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def _run(self):
        while not self._stop.wait(self.every_s):
            self._sample()

    def _sample(self):
        me = os.getpid()
        parent: dict[int, int] = {}
        workers: list[int] = []
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{d}/cmdline", "rb") as f:
                    cmd = f.read()
            except OSError:
                continue
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
            if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                workers.append(int(d))
        for pid in workers:
            p, hops = pid, 0
            while p not in (0, 1, me) and hops < 16:
                p, hops = parent.get(p, 0), hops + 1
            if p != me:
                continue
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb, int(line.split()[1]))
            except OSError:
                continue


# ---------------------------------------------------------------------------
# single-process kernel probes
# ---------------------------------------------------------------------------


def kernel_probes(staged_parquet: str, batch_rows: int = 1024) -> dict[str, float]:
    """Time the extraction kernel and its callees in this process over
    the staged ``(doc_id, spans)`` parquet, in Arrow batches of the size
    the executors receive.

    ``extract.kernel_s`` runs the program's per-batch Arrow kernel
    (``operators.extract._flat_arrow_batches``; 0 if the program no
    longer has it). The ``docmodel``/``textproc`` figures run
    ``docmodel.extract_document_cols`` per document with each callee
    wrapped in a timer, so they include the wrappers' own small cost.
    """
    import pyarrow.parquet as pq

    from pdf_extractor_spark import docmodel
    from pdf_extractor_spark.operators import extract

    batches = pq.read_table(staged_parquet, columns=["doc_id", "spans"]).to_batches(
        max_chunksize=batch_rows
    )
    out: dict[str, float] = {"extract.kernel_s": 0.0}
    kernel = getattr(extract, "_flat_arrow_batches", None)
    if kernel is not None:
        t0 = time.perf_counter()
        for _ in kernel("default")(iter(batches)):
            pass
        out["extract.kernel_s"] = time.perf_counter() - t0

    docs = []
    for b in batches:
        for spans in b.column(1).to_pylist():
            spans = spans or []
            docs.append((
                [s["kind"] for s in spans], [s["text"] for s in spans],
                [s["media_ref"] for s in spans], [s["offset"] for s in spans],
            ))
    spans_rec = Spans()
    callees = ("parse_markdown_table", "token_count", "md5_hex", "html_to_text")
    with wrapped(spans_rec, docmodel, callees, "probe"):
        t0 = time.perf_counter()
        for cols in docs:
            docmodel.extract_document_cols(*cols)
        out["docmodel.extract_document_cols_s"] = time.perf_counter() - t0
    out["docmodel.parse_markdown_table_s"] = spans_rec.total("probe.parse_markdown_table")
    for name in ("token_count", "md5_hex", "html_to_text"):
        out[f"textproc.{name}_s"] = spans_rec.total(f"probe.{name}")
    return out
