"""Tests of the benchmark itself: the record's schema, and a smoke run.

    python -m pytest perfbench/ -q

The smoke test runs every workload plus the traced run once on tiny
inputs (tens of docs, one short wave, a few lookups, sf0.001); it
takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, ROOT)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_declared_metrics():
    bench = _benchmark_json()
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_workload_names_are_pinned():
    assert list(WORKLOADS) == [
        "extract_flat", "convert_skewed", "ingest_merge", "analytics_headline"]


def test_analytics_layer_names_track_the_registry():
    from pdf_extractor_spark.analytics import QUERIES

    headliners = {n for n, q in QUERIES.items() if q.headline} - {"extract_elements_flat"}
    assert headliners == set(run.ANALYTICS_HEADLINERS)


def _processes_of_run(pid: int) -> list[int]:
    """Processes whose command line or environment names the work
    directory of the run with process id ``pid`` (the JVM, Python
    workers)."""
    mark = f"{os.sep}.perfbench_work{os.sep}run-{pid}{os.sep}".encode()
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        for part in ("cmdline", "environ"):
            try:
                with open(f"/proc/{entry}/{part}", "rb") as fh:
                    if mark in fh.read():
                        found.append(int(entry))
                        break
            except OSError:
                pass
    return found


@pytest.fixture(scope="module")
def smoke(tmp_path_factory):
    # output to files, not pipes: a process that inherits a pipe would
    # hold it open, and waiting for its end would hide that process
    logs = tmp_path_factory.mktemp("smoke")
    with open(logs / "out", "w+") as out, open(logs / "err", "w+") as err:
        popen = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", "all",
             "--smoke", "--seed", "3", "--seconds", "1", "--trace", "1"],
            cwd=ROOT, stdout=out, stderr=err, text=True,
        )
        popen.wait(timeout=1500)
        left_running = _processes_of_run(popen.pid)  # looked at the moment it exits
        out.seek(0)
        err.seek(0)
        proc = subprocess.CompletedProcess(popen.args, popen.returncode, out.read(), err.read())
    proc.left_running = left_running
    lines = proc.stdout.strip().splitlines()
    return proc, [json.loads(ln) for ln in lines[:-1]], json.loads(lines[-1])


def test_smoke_leaves_no_process_running(smoke):
    proc, _, _ = smoke
    assert proc.left_running == []


def test_smoke_runs_every_workload_and_passes_its_checks(smoke):
    proc, records, result = smoke
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert [r["workload"] for r in records] == list(WORKLOADS)
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] == sum(r["attempted"] for r in records) > 0


def test_smoke_record_schema(smoke):
    _, records, result = smoke
    for r in records:
        e2e = {k: m["unit"] for k, m in r["end_to_end"].items()}
        assert {k: e2e[k] for k in run.END_TO_END} == run.END_TO_END
        assert e2e["fail_ratio"] == "ratio"
        assert {k: m["unit"] for k, m in r["per_layer"].items()} == run.PER_LAYER
        assert {"nproc", "SPARK_GRAFT_CPUS", "pyspark", "pyarrow", "pandas",
                "git_commit", "seed"} <= set(r["host"])
        assert {"docs", "files", "bytes"} <= set(r["inputs"])
    ingest = next(r for r in records if r["workload"] == "ingest_merge")
    assert {"wave_s.p50", "lookup_s.p50", "lookup_s.p90"} <= set(ingest["end_to_end"])
    assert set(result["metrics"]) == {
        f"{w}/{k}" for w in WORKLOADS for k in run.PER_LAYER}


def test_smoke_mechanisms_fire(smoke):
    _, records, _ = smoke
    layer = {r["workload"]: {k: m["value"] for k, m in r["per_layer"].items()} for r in records}
    assert layer["extract_flat"]["extract.docs_skew_routed"] == 0
    assert layer["convert_skewed"]["extract.docs_skew_routed"] > 0
    assert layer["convert_skewed"]["sources.files_read_per_file"] >= 1
    assert layer["ingest_merge"]["streaming.dedup_dropped"] > 0
    assert layer["ingest_merge"]["lineage.commits"] >= 1
    for w in ("extract_flat", "convert_skewed", "ingest_merge"):
        assert layer[w]["extract.kernel_s"] > 0
        assert layer[w]["extract.py_run_ms"] > 0
        assert sum(v for k, v in layer[w].items() if k.startswith("extract.elements_out.")) > 0
    assert all(layer["analytics_headline"][f"analytics.{q}_s"] > 0
               for q in run.ANALYTICS_HEADLINERS)
