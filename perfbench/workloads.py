"""The benchmark's four workloads.

Each workload is a closed loop with one client. ``stage`` stages its
inputs inside the benchmark's work directory (part of set-up),
``prepare`` delivers the next unit's input untimed, ``unit`` is the
timed operation, ``after`` observes its effect untimed, and ``check``
compares the program's outputs with an independent reference. Inputs
are a pure function of the seed; the program receives only the
generated inputs.

The orchestrator sets ``phase`` to ``setup``, ``measure``, ``observe``
or ``trace`` before each unit. The ``observe`` unit runs once per run
with the Spark event log on; its exact counts feed the mechanism
guards.
"""

from __future__ import annotations

import contextlib
import os
import random
import sys
import time

from layers import (
    Spans, execs_in_windows, files_read, median, quantile, scan_rows,
    shuffle_write_bytes, wrapped,
)

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ELEMENT_KINDS = ("code", "heading", "image", "table", "text")
CLI_MEGA_THRESHOLD = 5_000  # the convert CLI's default --mega-span-threshold


def noop(df) -> None:
    """Run a DataFrame to completion with no sink. Unlike count() this
    does not let Catalyst prune projections a real consumer needs."""
    df.write.format("noop").mode("overwrite").save()


def dir_files(path: str, suffix: str = "") -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out.extend(os.path.join(root, f) for f in files
                   if f.endswith(suffix) and not f.startswith((".", "_")))
    return sorted(out)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in dir_files(path))


def frames_differ(a, b) -> int:
    """Rows in either frame that the other lacks (multiset difference)."""
    return a.exceptAll(b).count() + b.exceptAll(a).count()


def kind_counts(rows) -> dict[str, int]:
    counts = {f"extract.elements_out.{k}": 0 for k in ELEMENT_KINDS}
    for kind, n in rows:
        key = f"extract.elements_out.{kind}"
        if key not in counts:
            raise ValueError(f"unknown element kind {kind!r}")
        counts[key] += n
    return counts


def write_docs_parquet(path: str, docs: list[tuple[str, list[dict]]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    pq.write_table(pa.table({
        "doc_id": pa.array([d for d, _ in docs], pa.string()),
        "spans": pa.array([s for _, s in docs], pa.list_(span_t)),
    }), path)


class Workload:
    """Shared bookkeeping; subclasses fill in the steps."""

    name = ""

    def __init__(self, work: str, seed: int, smoke: bool):
        self.work = work
        self.seed = seed
        self.phase = "setup"
        self.ops = 0                        # operations attempted
        self.mismatches: list[str] = []     # wrong outputs seen during units
        self.counts: dict[str, float] = {}  # exact counts of the observed unit

    def prepare(self, spark) -> None:
        """Untimed: deliver the next unit's input."""

    def after(self, spark) -> None:
        """Untimed: observe the unit's effect."""

    @contextlib.contextmanager
    def tracing(self, spans: Spans):
        """Wrap module functions with spans while traced units run."""
        yield

    def isolated_layers(self, spark, spans: Spans) -> dict:
        """Traced: time single layers in isolation (Spark still up)."""
        return {}

    def log_layers(self, log, spans: Spans) -> dict:
        """Traced: workload-specific readings from the event log."""
        return {}

    def kernel_input(self) -> str | None:
        """Parquet of (doc_id, spans) the extraction kernel sees, if any."""
        return None

    def extras(self) -> dict:
        """End-to-end readings only this workload has (for the record)."""
        return {}

    def guards(self) -> list[str]:
        return []


# ---------------------------------------------------------------------------
# extract_flat — the performance path: mapInArrow + the docmodel kernel
# ---------------------------------------------------------------------------


class ExtractFlat(Workload):
    """The bench corpus shape (every 50th doc has 20x the median span
    count) staged to parquet, then ``extract_elements`` at its default
    threshold with a noop sink. The seed offsets the doc_id range."""

    name = "extract_flat"
    MEGA_EVERY, MEGA_FACTOR = 50, 20
    CHECK_EVERY = 10

    def __init__(self, work, seed, smoke):
        super().__init__(work, seed, smoke)
        self.n_docs = 50 if smoke else 3_000
        self.first_id = seed * 1_000_000

    def stage(self, spark, rep: int) -> None:
        from pdf_extractor_spark.schema import DOCS_SCHEMA

        me, mf = self.MEGA_EVERY, self.MEGA_FACTOR

        def gen(batches):
            import pandas as pd

            from pdf_extractor_spark.corpus import make_doc_spans

            for pdf in batches:
                ids = pdf["id"].tolist()
                yield pd.DataFrame({
                    "doc_id": [f"doc-{i:07d}" for i in ids],
                    "spans": [make_doc_spans(i, me, mf) for i in ids],
                })

        self.path = os.path.join(self.work, f"corpus{rep}.parquet")
        (spark.range(self.first_id, self.first_id + self.n_docs,
                     numPartitions=spark.sparkContext.defaultParallelism)
         .mapInPandas(gen, schema=DOCS_SCHEMA)
         .write.parquet(self.path))

    def unit(self, spark, spans: Spans) -> int:
        from pdf_extractor_spark.operators.extract import extract_elements

        self.ops += 1
        noop(extract_elements(spark.read.parquet(self.path)))
        return self.n_docs

    def facts(self) -> dict:
        import pyarrow.parquet as pq

        from pdf_extractor_spark.corpus import corpus_fingerprint

        spans = pq.read_table(self.path, columns=["spans"]).column(0)
        return {
            "docs": len(spans),
            "spans": sum(len(s) for s in spans.to_pylist()),
            "files": len(dir_files(self.path, ".parquet")),
            "bytes": dir_bytes(self.path),
            "corpus_fingerprint": corpus_fingerprint(
                mega_every=self.MEGA_EVERY, mega_factor=self.MEGA_FACTOR),
        }

    def kernel_input(self):
        return self.path

    def check(self, spark) -> list[str]:
        """Output rows equal ``docmodel.extract_document`` on the same
        spans, in element order, for a seeded sample of one doc in
        ``CHECK_EVERY`` (running the reference on every doc would cost
        more than the measurement itself)."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from pdf_extractor_spark.docmodel import extract_document
        from pdf_extractor_spark.operators.extract import extract_elements
        from pdf_extractor_spark.schema import ELEMENT_COLUMNS

        rng = random.Random(self.seed)
        docs = [d for d in pq.read_table(self.path).to_pylist()
                if rng.randrange(self.CHECK_EVERY) == 0]
        sample = [d["doc_id"] for d in docs]
        got: dict[str, list] = {}
        out = extract_elements(spark.read.parquet(self.path)).where(F.col("doc_id").isin(sample))
        for r in out.toArrow().to_pylist():
            got.setdefault(r["doc_id"], []).append(r)
        bad = []
        for d in docs:
            want = [_row(e, ELEMENT_COLUMNS) for e in extract_document(d["spans"] or [])]
            have = [_row(r, ELEMENT_COLUMNS)
                    for r in sorted(got.pop(d["doc_id"], []), key=lambda r: r["offset"])]
            if want != have:
                bad.append(d["doc_id"])
        return [f"extract_flat: {len(bad)} of {len(docs)} sampled docs differ from "
                f"docmodel, e.g. {bad[:3]}"] if bad else []

    def guards(self) -> list[str]:
        n = self.counts.get("extract.docs_skew_routed", 0)
        return [f"extract_flat: {n} docs took the skew path, expected 0"] if n else []

    def isolated_layers(self, spark, spans):
        from pdf_extractor_spark.operators.extract import extract_elements

        docs = spark.read.parquet(self.path)
        with spans.span("layer.flat"):
            noop(extract_elements(docs))
        self.counts.update(kind_counts(
            (r["kind"], r["count"]) for r in extract_elements(docs).groupBy("kind").count().collect()))
        self.counts["extract.spans_in"] = self.facts()["spans"]
        return {"extract.flat_s": spans.total("layer.flat")}


def _row(row: dict, cols) -> tuple:
    def freeze(v):
        if isinstance(v, dict):
            return tuple(sorted((k, freeze(x)) for k, x in v.items()))
        if isinstance(v, (list, tuple)):
            return tuple(freeze(x) for x in v)
        return v

    return tuple(freeze(row[c]) for c in cols)


# ---------------------------------------------------------------------------
# convert_skewed — the CLI: sources, nested path, skew path, both sinks
# ---------------------------------------------------------------------------


def render_markdown(spans: list[dict]) -> str:
    """Corpus spans → markdown that ``sources.lines_to_spans`` reads
    back as spans of the same kinds (code spans become fences)."""
    lines = []
    for s in spans:
        if s["kind"] == "code":
            lines.extend(["```python", *s["text"].rstrip("\n").split("\n"), "```"])
        else:
            lines.append(s["text"])
    return "\n".join(lines) + "\n"


class ConvertSkewed(Workload):
    """A directory of markdown files, a few of them mega-docs above the
    CLI's default ``--mega-span-threshold``, converted with
    ``python -m pdf_extractor_spark convert --json-dir`` through
    ``__main__.main`` in this process."""

    name = "convert_skewed"
    MEGA_FACTOR = 260  # 4 or 5 sections x 260: about 8,600 or 10,800 spans

    def __init__(self, work, seed, smoke):
        super().__init__(work, seed, smoke)
        self.n_small = 20 if smoke else 60
        self.n_mega = 1 if smoke else 2
        # a doc's span count depends on its id mod 3, 5 and 50 only; ids
        # that start at a multiple of 150 give every seed the same counts
        self.first_id = seed * 1_500_000
        self.out = os.path.join(work, "convert_out")
        self.json_dir = os.path.join(work, "convert_json")

    def stage(self, spark, rep: int) -> None:
        from pdf_extractor_spark.corpus import make_doc_spans

        self.in_dir = os.path.join(self.work, f"convert_in{rep}")
        os.makedirs(self.in_dir)
        docs = [(f"small-{i:05d}", make_doc_spans(self.first_id + i, 50, 20))
                for i in range(self.n_small)]
        docs += [(f"mega-{i:03d}", make_doc_spans(self.first_id + 900_001 + i, 1, self.MEGA_FACTOR))
                 for i in range(self.n_mega)]
        for doc_id, spans in docs:
            with open(os.path.join(self.in_dir, doc_id + ".md"), "w") as f:
                f.write(render_markdown(spans))

    def unit(self, spark, spans: Spans) -> int:
        from pdf_extractor_spark.__main__ import main

        self.ops += 1
        argv = ["convert", "--input", self.in_dir, "--output", self.out,
                "--json-dir", self.json_dir]
        with contextlib.redirect_stdout(sys.stderr):
            rc = main(argv)
        if rc != 0:
            self.mismatches.append(f"convert_skewed: convert exited {rc}")
        return self.n_small + self.n_mega

    def _spans(self) -> list[tuple[str, list[dict]]]:
        from pdf_extractor_spark.sources import lines_to_spans

        out = []
        for path in dir_files(self.in_dir, ".md"):
            with open(path) as f:
                out.append((os.path.basename(path), lines_to_spans(f.read())))
        return out

    def facts(self) -> dict:
        from pdf_extractor_spark.corpus import corpus_fingerprint

        n_spans = [len(s) for _, s in self._spans()]
        return {
            "corpus_fingerprint": corpus_fingerprint(
                small_mega_every=50, small_mega_factor=20, mega_factor=self.MEGA_FACTOR),
            "docs": len(n_spans),
            "spans": sum(n_spans),
            "files": len(n_spans),
            "bytes": dir_bytes(self.in_dir),
            "mega_docs": sum(n >= CLI_MEGA_THRESHOLD for n in n_spans),
            "max_doc_spans": max(n_spans),
        }

    def kernel_input(self):
        path = os.path.join(self.work, "convert_spans.parquet")
        write_docs_parquet(path, self._spans())
        return path

    def check(self, spark) -> list[str]:
        """The CLI's parquet equals ``extract_elements`` on the same
        docs, and the JSON sink holds one line per document."""
        from pyspark.sql import functions as F

        from pdf_extractor_spark.operators.extract import extract_elements
        from pdf_extractor_spark.schema import ELEMENT_COLUMNS
        from pdf_extractor_spark.sources import read_text_docs

        cols = ["doc_id", *ELEMENT_COLUMNS]
        docs = read_text_docs(spark, self.in_dir)
        have = spark.read.parquet(self.out).select(cols)
        bad = []
        n_diff = frames_differ(extract_elements(docs).select(cols), have)
        if n_diff:
            bad.append(f"convert_skewed: {n_diff} parquet rows differ from extract_elements")
        lines = 0
        for f in dir_files(self.json_dir):
            with open(f) as fh:
                lines += sum(1 for ln in fh if ln.strip())
        n_docs = self.n_small + self.n_mega
        if lines != n_docs:
            bad.append(f"convert_skewed: JSON sink has {lines} lines for {n_docs} docs")
        self.counts.update(kind_counts(
            (r["kind"], r["count"]) for r in have.groupBy("kind").count().collect()))
        self.counts["extract.spans_in"] = docs.select(F.sum(F.size("spans"))).first()[0]
        return bad

    def guards(self) -> list[str]:
        n = self.counts.get("extract.docs_skew_routed", 0)
        return [] if n else ["convert_skewed: no doc took the skew path"]

    def isolated_layers(self, spark, spans):
        from pyspark.sql import functions as F

        from pdf_extractor_spark.operators.extract import extract_elements, extract_spans
        from pdf_extractor_spark.sources import read_text_docs, write_docs_json

        with spans.span("layer.read_text_docs"):
            noop(read_text_docs(spark, self.in_dir))
        docs = read_text_docs(spark, self.in_dir).persist()
        docs.count()
        size = F.size("spans")
        with spans.span("layer.nested"):
            noop(extract_spans(docs.filter(size < CLI_MEGA_THRESHOLD)))
        with spans.span("layer.skew"):
            noop(extract_spans(docs.filter(size >= CLI_MEGA_THRESHOLD)))
        with spans.span("layer.flat"):
            noop(extract_elements(docs))
        extracted = extract_spans(docs).persist()
        extracted.count()
        json_dir = os.path.join(self.work, "layer_json")
        with spans.span("layer.write_docs_json"):
            write_docs_json(extracted, json_dir)
        extracted.unpersist()
        docs.unpersist()
        return {
            "sources.read_text_docs_s": spans.total("layer.read_text_docs"),
            "extract.nested_s": spans.total("layer.nested"),
            "extract.skew_s": spans.total("layer.skew"),
            "extract.flat_s": spans.total("layer.flat"),
            "sources.write_docs_json_s": spans.total("layer.write_docs_json"),
            "sources.json_bytes": dir_bytes(json_dir),
        }

    def log_layers(self, log, spans):
        units = spans.windows("unit")
        read = files_read(log, execs_in_windows(log, units), "binaryFile")
        return {"sources.files_read_per_file":
                read / max(1, len(units)) / (self.n_small + self.n_mega)}


# ---------------------------------------------------------------------------
# ingest_merge — streaming waves into the keyed store, then point lookups
# ---------------------------------------------------------------------------


class IngestMerge(Workload):
    """A keyed store seeded with ``lineage.run_with_lineage``, then
    waves of new and re-delivered, edited docs drained by
    ``streaming.stream_extract_merge``, each followed by a sequential
    batch of ``lineage.point_lookup`` calls on touched and untouched
    ids. Some re-delivered docs shrink, so stale-tail deletes fire, and
    some arrive twice in one wave, so the in-wave dedup fires."""

    name = "ingest_merge"
    N_BUCKETS = 8

    def __init__(self, work, seed, smoke):
        super().__init__(work, seed, smoke)
        (self.n_base, self.n_new, self.n_edit, self.n_twice, self.n_lookups) = (
            (30, 4, 4, 1, 3) if smoke else (300, 12, 8, 2, 4))
        self.samples: list[tuple[str, str, float]] = []  # (phase, op, seconds)
        self.trace_rows = 0
        self.dedup_dropped = self.stale_deleted = 0

    def _spans(self, key: int) -> list[dict]:
        from pdf_extractor_spark.corpus import make_doc_spans

        return make_doc_spans(self.seed * 100_000_000 + key)

    def _deliver(self, doc_id: str, spans: list[dict]) -> None:
        from pdf_extractor_spark.docmodel import extract_document

        self.newest[doc_id] = spans
        self.expected[doc_id] = len(extract_document(spans))

    def _new_doc(self) -> tuple[str, list[dict]]:
        doc_id = f"doc-{self.seed}-{self.next_key:07d}"
        spans = self._spans(self.next_key)
        self.next_key += 1
        self._deliver(doc_id, spans)
        return doc_id, spans

    def stage(self, spark, rep: int) -> None:
        from pdf_extractor_spark.lineage import run_with_lineage

        root = os.path.join(self.work, f"ingest{rep}")
        self.in_dir = os.path.join(root, "inbox")
        self.store = os.path.join(root, "store")
        self.ckpt = os.path.join(root, "checkpoint")
        os.makedirs(self.in_dir)
        self.rng = random.Random(self.seed)
        self.next_key = self.wave = 0
        self.newest: dict[str, list[dict]] = {}
        self.expected: dict[str, int] = {}
        self.base_path = os.path.join(root, "base.parquet")
        write_docs_parquet(self.base_path, [self._new_doc() for _ in range(self.n_base)])
        self.input_bytes = os.path.getsize(self.base_path)
        run_with_lineage(spark, spark.read.parquet(self.base_path), self.store,
                         n_buckets=self.N_BUCKETS, commit_mode="batch")

    def prepare(self, spark) -> None:
        """Write the next wave as two inbox files, the second newer: a
        doc in both must land as its version in the second."""
        rng = self.rng
        existing = sorted(self.newest)
        picked = rng.sample(existing, self.n_edit + self.n_twice)
        edits, self.twice = picked[:self.n_edit], picked[self.n_edit:]
        files: tuple[list, list] = ([], [])
        self.shrunk = []
        for j, doc_id in enumerate(edits):
            if j % 2 == 0:  # shrink: the old version's tail goes stale
                spans = self.newest[doc_id][: max(1, len(self.newest[doc_id]) // 3)]
                self.shrunk.append(doc_id)
            else:           # edit: fresh content under the same id
                spans = self._spans(50_000_000 + self.wave * 1_000 + j)
            self._deliver(doc_id, spans)
            files[j % 2].append((doc_id, spans))
        for j, doc_id in enumerate(self.twice):
            longer = self._spans(60_000_000 + self.wave * 1_000 + j)
            shorter = longer[: max(1, len(longer) // 3)]
            files[0].append((doc_id, longer))
            files[1].append((doc_id, shorter))
            self._deliver(doc_id, shorter)
        for j in range(self.n_new):
            files[j % 2].append(self._new_doc())
        now = time.time()
        self.wave_bytes = 0
        for k, docs in enumerate(files):
            path = os.path.join(self.in_dir, f"wave{self.wave:05d}-{k}.parquet")
            write_docs_parquet(path, docs)
            os.utime(path, (now - 2 + k, now - 2 + k))
            self.wave_bytes += os.path.getsize(path)
        self.input_bytes += self.wave_bytes
        self.wave_docs = sorted({d for f in files for d, _ in f})
        untouched = sorted(set(existing) - set(self.wave_docs))
        half = self.n_lookups // 2
        self.lookups = rng.sample(self.wave_docs, half) + rng.sample(untouched, self.n_lookups - half)
        self.wave += 1
        if self.phase == "observe":
            self.before = self._store_counts(spark, self.shrunk + self.twice)
            self.listing = set(dir_files(self.store))
            self.version = self._manifest_version()

    def unit(self, spark, spans: Spans) -> int:
        from pdf_extractor_spark.lineage import point_lookup
        from pdf_extractor_spark.streaming import stream_extract_merge

        self.ops += 1 + len(self.lookups)
        t0 = time.time()
        with spans.span("wave"):
            stream_extract_merge(spark, self.in_dir, self.store, self.ckpt)
        self.samples.append((self.phase, "wave", time.time() - t0))
        for doc_id in self.lookups:
            t0 = time.time()
            with spans.span("lookup"):
                n = point_lookup(spark, self.store, [doc_id]).count()
            self.samples.append((self.phase, "lookup", time.time() - t0))
            if self.phase == "trace":
                self.trace_rows += n
            if n != self.expected[doc_id]:
                self.mismatches.append(f"ingest_merge: lookup of {doc_id} returned {n} "
                                       f"rows, expected {self.expected[doc_id]}")
        return len(self.wave_docs)

    def _store_counts(self, spark, doc_ids, by="doc_id") -> dict:
        from pyspark.sql import functions as F

        from pdf_extractor_spark.lineage import read_output

        rows = (read_output(spark, self.store).where(F.col("doc_id").isin(doc_ids))
                .groupBy(by).count().collect())
        return {r[by]: r["count"] for r in rows}

    def _manifest_version(self) -> int:
        from pdf_extractor_spark.lineage import META_KEY, read_lineage

        return read_lineage(self.store).get(META_KEY, {}).get("manifest_version", 0)

    def after(self, spark) -> None:
        if self.phase != "observe":
            return
        now = self._store_counts(spark, self.shrunk + self.twice)
        self.stale_deleted = sum(max(0, self.before.get(d, 0) - now.get(d, 0))
                                 for d in self.shrunk)
        self.dedup_dropped = sum(now.get(d) == self.expected[d] for d in self.twice)
        written = sum(os.path.getsize(p) for p in dir_files(self.store) if p not in self.listing)
        self.counts.update(kind_counts(self._store_counts(spark, self.wave_docs, "kind").items()))
        self.counts.update({
            "extract.spans_in": sum(len(self.newest[d]) for d in self.wave_docs),
            "streaming.dedup_dropped": self.dedup_dropped,
            "lineage.commits": self._manifest_version() - self.version,
            "lineage.write_amp": written / self.wave_bytes,
        })

    def facts(self) -> dict:
        from pdf_extractor_spark.corpus import corpus_fingerprint

        return {
            "corpus_fingerprint": corpus_fingerprint(mega_every=0),
            "docs": len(self.newest),
            "spans": sum(len(s) for s in self.newest.values()),
            "files": len(dir_files(self.in_dir, ".parquet")) + 1,
            "bytes": self.input_bytes,
            "base_docs": self.n_base,
            "waves": self.wave,
            "docs_per_wave": len(self.wave_docs),
            "lookups_per_wave": self.n_lookups,
        }

    def kernel_input(self):
        return self.base_path

    def extras(self) -> dict:
        waves = [s for p, op, s in self.samples if p == "measure" and op == "wave"]
        looks = [s for p, op, s in self.samples if p == "measure" and op == "lookup"]
        return {
            "wave_s.p50": {"value": median(waves), "unit": "s", "n": len(waves)},
            "lookup_s.p50": {"value": median(looks), "unit": "s", "n": len(looks)},
            "lookup_s.p90": {"value": quantile(looks, 0.9), "unit": "s", "n": len(looks)},
        }

    def check(self, spark) -> list[str]:
        """The store equals batch extraction of each doc's newest
        version, with no stale tails."""
        from pyspark.sql import functions as F

        from pdf_extractor_spark.lineage import read_output
        from pdf_extractor_spark.operators.extract import extract_elements
        from pdf_extractor_spark.schema import DOCS_SCHEMA, ELEMENT_COLUMNS

        cols = ["doc_id", *ELEMENT_COLUMNS]
        newest = spark.createDataFrame(sorted(self.newest.items()), DOCS_SCHEMA)
        have = read_output(spark, self.store).select(cols).persist()
        bad = []
        n_diff = frames_differ(extract_elements(newest).select(cols), have)
        if n_diff:
            bad.append(f"ingest_merge: {n_diff} store rows differ from batch extraction")
        tails = [r["doc_id"] for r in
                 have.groupBy("doc_id").agg(F.max("offset").alias("mx")).collect()
                 if r["mx"] >= self.expected.get(r["doc_id"], 0)]
        if tails:
            bad.append(f"ingest_merge: {len(tails)} docs keep stale tails, e.g. {tails[:3]}")
        have.unpersist()
        return bad

    def guards(self) -> list[str]:
        bad = []
        if not self.stale_deleted:
            bad.append("ingest_merge: no stale-tail delete fired")
        if not self.dedup_dropped:
            bad.append("ingest_merge: the in-wave dedup never fired")
        return bad

    @contextlib.contextmanager
    def tracing(self, spans):
        from pdf_extractor_spark import lineage

        with wrapped(spans, lineage, ("merge_elements", "read_output"), "lineage"):
            yield

    def log_layers(self, log, spans):
        waves = max(1, len(spans.windows("wave")))
        in_waves = [e - s for n, s, e, parent in spans.spans
                    if n == "lineage.read_output" and parent == "wave"]
        scanned = scan_rows(log, execs_in_windows(log, spans.windows("lookup")))
        return {
            "lineage.merge_elements_s": spans.total("lineage.merge_elements") / waves,
            "lineage.read_output_s": sum(in_waves) / waves,
            "lineage.point_lookup_s": median(spans.durations("lookup")),
            "lineage.lookup_rows_scanned_per_row": scanned / max(1, self.trace_rows),
        }


# ---------------------------------------------------------------------------
# analytics_headline — the nine headline queries besides extraction
# ---------------------------------------------------------------------------


class AnalyticsHeadline(Workload):
    """The nine ``headline=True`` queries of ``analytics.QUERIES``
    besides extraction, each to a noop sink, on the fixed seed-42 sf0.1
    tables kept under ``data/``. The seed only orders the queries."""

    name = "analytics_headline"

    def __init__(self, work, seed, smoke):
        super().__init__(work, seed, smoke)
        self.sf_dir = os.path.join(BENCH_DIR, "data", "sf0.001" if smoke else "sf0.1")

    def stage(self, spark, rep: int) -> None:
        import pyarrow.parquet as pq

        from pdf_extractor_spark.analytics import QUERIES

        names = [n for n, q in QUERIES.items() if q.headline and n != "extract_elements_flat"]
        random.Random(self.seed).shuffle(names)
        self.queries = names
        self.n_docs = pq.ParquetFile(os.path.join(self.sf_dir, "documents.parquet")).metadata.num_rows

    def unit(self, spark, spans: Spans) -> int:
        from pdf_extractor_spark.analytics import QUERIES

        for name in self.queries:
            self.ops += 1
            with spans.span(f"query.{name}"):
                noop(QUERIES[name].fn(spark, self.sf_dir))
        return self.n_docs

    def facts(self) -> dict:
        files = dir_files(self.sf_dir, ".parquet")
        return {
            "docs": self.n_docs,
            "files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
            "sf_dir": os.path.relpath(self.sf_dir, os.path.dirname(BENCH_DIR)),
            "queries": len(self.queries),
        }

    def check(self, spark) -> list[str]:
        """Each result's value hash matches its ``QuerySpec.sql`` DuckDB
        oracle, hashed by ``scripts/check_oracle.py``."""
        import duckdb

        from pdf_extractor_spark.analytics import QUERIES
        from pdf_extractor_spark.analytics.base import TABLES

        sys.path.insert(0, os.path.join(os.path.dirname(BENCH_DIR), "scripts"))
        from check_oracle import value_hash

        bad = []
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for name in self.queries:
                sdf = QUERIES[name].fn(spark, self.sf_dir)
                rel = con.sql(QUERIES[name].sql)
                srows = [tuple(r) for r in sdf.collect()]
                if (sorted(sdf.columns) != sorted(rel.columns)
                        or value_hash(sdf.columns, srows) != value_hash(rel.columns, rel.fetchall())):
                    bad.append(f"analytics_headline: {name} differs from its DuckDB oracle")
        finally:
            con.close()
        return bad

    def log_layers(self, log, spans):
        out = {}
        for name in self.queries:
            windows = spans.windows(f"query.{name}")
            out[f"analytics.{name}_s"] = median(spans.durations(f"query.{name}"))
            out[f"analytics.{name}.shuffle_bytes"] = (
                shuffle_write_bytes(log, execs_in_windows(log, windows)) / max(1, len(windows)))
        return out


WORKLOADS = {w.name: w for w in (ExtractFlat, ConvertSkewed, IngestMerge, AnalyticsHeadline)}
