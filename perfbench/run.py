#!/usr/bin/env python3
"""Benchmark of the extraction engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--smoke]

NAME is one of the workloads in ``workloads.py`` or ``all``. Run from
the repository root; it builds nothing, imports the program from the
checkout, and keeps every file it writes under ``.perfbench_work/``.

One run of a workload:

1. Set-up, repeated ``SETUP_REPS`` times: start the Spark session
   (``session.get_spark`` on ``local[nproc]``), stage the inputs, run
   one warm-up unit. ``setup_s`` is the median.
2. Measure: run units back to back for ``--seconds``; ``run_s`` is the
   median unit wall, ``docs_per_s`` the documents of one unit over it.
3. Observe: restart the session with the Spark event log on and run one
   unit; its exact counts feed the mechanism guards. With ``--trace 1``
   traced units follow for another ``--seconds``, then the isolated
   layer timings, and after the session stops the single-process
   kernel probes.
4. Check the program's outputs against independent references.

Stdout carries one record line (host and input facts, every reading),
then, as the last line, ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``). Any wrong output or failed guard
makes the exit code 1.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shlex
import shutil
import signal
import subprocess
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SETUP_REPS = 3
SETTLE_S = 4.0

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "run_s": "s",
    "docs_per_s": "1/s",
}

ANALYTICS_HEADLINERS = (
    "bm25_search", "cosine_topk_bruteforce", "events_sessionize", "exact_dedup_groups",
    "hybrid_search_rrf", "minhash_band_buckets", "quality_score",
    "top_revenue_orders", "tpch_q1_pricing_summary",
)

PER_LAYER = {  # name -> unit
    "session.get_spark_s": "s",
    "sources.read_text_docs_s": "s",
    "sources.files_read_per_file": "ratio",
    "sources.write_docs_json_s": "s",
    "sources.json_bytes": "bytes",
    "extract.flat_s": "s",
    "extract.nested_s": "s",
    "extract.skew_s": "s",
    "extract.kernel_s": "s",
    "extract.py_boot_ms": "ms",
    "extract.py_init_ms": "ms",
    "extract.py_run_ms": "ms",
    "extract.py_bytes_in": "bytes",
    "extract.py_bytes_out": "bytes",
    "extract.shuffle_write_bytes": "bytes",
    "extract.task_ms.max": "ms",
    "extract.task_ms.p50": "ms",
    "extract.py_worker_peak_rss_mb": "MB",
    "extract.docs_skew_routed": "count",
    "extract.spans_in": "count",
    "extract.elements_out.code": "count",
    "extract.elements_out.heading": "count",
    "extract.elements_out.image": "count",
    "extract.elements_out.table": "count",
    "extract.elements_out.text": "count",
    "docmodel.extract_document_cols_s": "s",
    "docmodel.parse_markdown_table_s": "s",
    "textproc.token_count_s": "s",
    "textproc.md5_hex_s": "s",
    "textproc.html_to_text_s": "s",
    "lineage.merge_elements_s": "s",
    "lineage.read_output_s": "s",
    "lineage.commits": "count",
    "lineage.write_amp": "ratio",
    "streaming.dedup_dropped": "count",
    "lineage.point_lookup_s": "s",
    "lineage.lookup_rows_scanned_per_row": "ratio",
    **{f"analytics.{q}_s": "s" for q in ANALYTICS_HEADLINERS},
    **{f"analytics.{q}.shuffle_bytes": "bytes" for q in ANALYTICS_HEADLINERS},
    "trace_overhead_s": "s",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``.
    Must run before pyspark starts its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java_opts),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


def adopt_orphans() -> None:
    """Make this process the Linux child subreaper, so a process whose
    parent dies before it (a Python worker outliving the JVM) is
    re-parented here and ``stop_processes`` still finds it."""
    try:
        import ctypes
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def child_pids() -> list[int]:
    me, pids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            pids.append(int(entry))
    return pids


def reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes() -> None:
    """Stop the JVM pyspark started, then every process still under this
    one, and wait until each has ended. Without this the JVM outlives
    the interpreter by a moment after every run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway exits on EOF on its stdin
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.time() + 15
        pids = child_pids()
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while pids and time.time() < deadline:
            reap()
            time.sleep(0.05)
            pids = child_pids()
        if not pids:
            break
    reap()


EVENT_LOG_PROPS = ("spark.eventLog.enabled", "spark.eventLog.dir",
                   "spark.eventLog.compress", "spark.eventLog.rolling.enabled")


def start_session(spark, event_log_dir: str | None = None):
    """(Re)start the session through ``session.get_spark``; with
    ``event_log_dir`` the new SparkContext writes a plain event log.
    Returns the session and the seconds ``get_spark`` took."""
    from pyspark import SparkContext

    from pdf_extractor_spark.session import get_spark

    if spark is not None:
        spark.stop()
    t0 = time.time()
    SparkContext._ensure_initialized()  # starts the JVM on first use
    system = SparkContext._jvm.java.lang.System
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        values = ("true", "file://" + event_log_dir, "false", "false")
        for key, value in zip(EVENT_LOG_PROPS, values):
            system.setProperty(key, value)
    else:
        for key in EVENT_LOG_PROPS:
            system.clearProperty(key)
    spark = get_spark("perfbench")
    took = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, took


def host_facts(seed: int) -> dict:
    import pandas
    import pyarrow
    import pyspark

    commit = None
    if os.path.exists(os.path.join(ROOT, ".git")):  # a plain checkout has no history
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                    text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "pdf_extractor_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "git_commit": commit,
        "program_sha256": h.hexdigest()[:16],
        "seed": seed,
    }


def run_workload(cls, args, work: str) -> dict:
    """One run of one workload; returns its record."""
    from layers import (
        NullSpans, Spans, WorkerRss, execs_in_windows, kernel_probes, median,
        python_metrics, read_event_log, shuffle_write_bytes,
        skew_routed_docs, task_walls,
    )

    wl = cls(work, args.seed, args.smoke)
    null = NullSpans()
    failures: list[str] = []
    spark = None
    setups, get_spark_s, walls, traced_walls = [], [], [], []
    docs_per_unit = 0
    obs, traced = Spans(), Spans()
    layer: dict[str, float] = {}
    phases: dict[str, float] = {}
    try:
        # set-up; the first repetition doubles as the observed unit: its
        # session writes an event log whose exact counts feed the guards
        observe_log = os.path.join(work, "eventlog-observe")
        for rep in range(SETUP_REPS):
            t0 = time.time()
            wl.phase = "observe" if rep == 0 else "setup"
            spark, took = start_session(spark, observe_log if rep == 0 else None)
            get_spark_s.append(took)
            t1 = time.time()
            wl.stage(spark, rep)
            t2 = time.time()
            wl.prepare(spark)
            with (obs if rep == 0 else null).span("unit"):
                wl.unit(spark, null)
            wl.after(spark)
            setups.append(time.time() - t0)
            log(f"[{wl.name}] setup {rep}: session {took:.2f}s stage {t2 - t1:.2f}s "
                f"warm-up {time.time() - t2:.2f}s")
        log(f"[{wl.name}] setup_s {[round(s, 2) for s in setups]}")

        # settle: the JIT and the worker pools keep speeding units up for
        # a while after the warm-up; these units are in no metric
        wl.phase = "settle"
        t_end = time.time() + SETTLE_S
        while time.time() < t_end:
            wl.prepare(spark)
            wl.unit(spark, null)
            wl.after(spark)

        wl.phase = "measure"
        t0 = t_end = time.time()
        t_end += args.seconds
        while not walls or time.time() < t_end:
            wl.prepare(spark)
            t1 = time.time()
            docs_per_unit = wl.unit(spark, null)
            walls.append(time.time() - t1)
            wl.after(spark)
        phases["measure"] = time.time() - t0
        log(f"[{wl.name}] run_s {[round(w, 3) for w in walls]}")

        t0 = time.time()
        failures += wl.check(spark)
        phases["check"] = time.time() - t0

        if args.trace:
            t0 = time.time()
            trace_log = os.path.join(work, "eventlog-trace")
            spark, _ = start_session(spark, trace_log)
            with WorkerRss() as rss:
                wl.prepare(spark)
                wl.unit(spark, null)  # warm the restarted session's workers
                wl.after(spark)
                wl.phase = "trace"
                t_end = time.time() + args.seconds
                with wl.tracing(traced):
                    while not traced_walls or time.time() < t_end:
                        wl.prepare(spark)
                        t1 = time.time()
                        with traced.span("unit"):
                            wl.unit(spark, traced)
                        traced_walls.append(time.time() - t1)
                        wl.after(spark)
                layer.update(wl.isolated_layers(spark, traced))
            spark.stop()
            spark = None
            tlog = read_event_log(trace_log)
            units = traced.windows("unit")
            execs = execs_in_windows(tlog, units)
            n = max(1, len(units))
            tasks = task_walls(tlog, execs)
            layer.update({f"extract.{k}": v / n for k, v in python_metrics(tlog, execs).items()})
            layer.update({
                "session.get_spark_s": median(get_spark_s),
                "extract.shuffle_write_bytes": shuffle_write_bytes(tlog, execs) / n,
                "extract.task_ms.max": max(tasks, default=0),
                "extract.task_ms.p50": median(tasks),
                "extract.py_worker_peak_rss_mb": rss.peak_mb,
                "trace_overhead_s": median(traced_walls) - median(walls),
            })
            layer.update(wl.log_layers(tlog, traced))
            if wl.kernel_input():
                layer.update(kernel_probes(wl.kernel_input()))
            phases["trace"] = time.time() - t0

        olog = read_event_log(observe_log)
        wl.counts["extract.docs_skew_routed"] = skew_routed_docs(
            olog, execs_in_windows(olog, obs.windows("unit")))
        failures += wl.guards()
    except Exception:  # noqa: BLE001 — a failed run is reported, not hidden
        failures.append("error: " + traceback.format_exc().strip().splitlines()[-1])
        log(traceback.format_exc())
    finally:
        if spark is not None:
            spark.stop()
    log(f"[{wl.name}] phases {({k: round(v, 1) for k, v in phases.items()})}")

    failures = wl.mismatches + failures
    attempted = max(1, wl.ops)
    run_s = median(walls)
    e2e = {
        "setup_s": median(setups),
        "run_s": run_s,
        "docs_per_s": docs_per_unit / run_s if run_s else 0.0,
    }
    record = {
        "workload": wl.name,
        "host": host_facts(args.seed),
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures,
        "end_to_end": {
            **{k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
            **wl.extras(),
            "fail_ratio": {"value": len(failures) / attempted, "unit": "ratio"},
        },
        "samples": {"setup_s": setups, "run_s": walls, "traced_run_s": traced_walls},
    }
    try:
        record["inputs"] = wl.facts()
    except Exception as e:  # noqa: BLE001 — facts are best effort after a failure
        record["inputs"] = {"error": repr(e)}
    if args.trace:
        values = {k: 0.0 for k in PER_LAYER}
        values.update(wl.counts)
        values.update(layer)
        unknown = set(values) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"per-layer readings not declared in PER_LAYER: {sorted(unknown)}")
        record["per_layer"] = {k: {"value": values[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    return record


def main(argv=None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs (tens of docs, one short wave, sf0.001)")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pdf_extractor_spark", "__init__.py")):
        log(f"no pdf_extractor_spark package beside {BENCH_DIR}: nothing to measure")
        return 2
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    prepare_environment(work)
    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # so the cleanup below runs
    records = []
    try:
        for name in names:
            wdir = os.path.join(work, name)
            os.makedirs(wdir)
            records.append(run_workload(WORKLOADS[name], args, wdir))
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)

    key = "per_layer" if args.trace else "end_to_end"
    declared = PER_LAYER if args.trace else END_TO_END
    for r in records:
        print(json.dumps(r))
        log(f"[{r['workload']}] " + "  ".join(
            f"{k}={m['value']:.4g}{m['unit']}" for k, m in r["end_to_end"].items()))
        for f in r["failures"]:
            log(f"[{r['workload']}] FAILED: {f}")
    metrics = {}
    for r in records:
        prefix = "" if len(records) == 1 else r["workload"] + "/"
        for k in declared:
            metrics[prefix + k] = r[key][k]
    failed = sum(r["failed"] for r in records)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": sum(r["attempted"] for r in records),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.path.insert(0, BENCH_DIR)
    raise SystemExit(main())
