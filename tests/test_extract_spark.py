"""Spark pipeline ↔ pure-Python oracle equality + plan-shape checks."""

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.corpus import corpus_rows
from pdf_extractor_spark.docmodel import extract_document
from pdf_extractor_spark.operators.extract import (
    _flat_arrow_batches,
    extract_elements,
    extract_spans,
    extracted_flat,
)
from pdf_extractor_spark.schema import DOCS_SCHEMA, FLAT_SCHEMA


def tuples(elements):
    return [(e["kind"], e["text"], e["media_ref"], e["offset"]) for e in elements]


@pytest.fixture(scope="module")
def small_corpus(spark):
    rows = corpus_rows(12, mega_every=6, mega_factor=8)
    return rows, spark.createDataFrame(rows, schema=DOCS_SCHEMA)


def test_span_sequence_equality(spark, small_corpus):
    """North rule: exact (kind, text, media_ref, order) equality per doc,
    across both the scalar path and the mega-doc skew path."""
    rows, df = small_corpus
    ext = extract_spans(df, mega_span_threshold=120)
    got = {r["doc_id"]: r for r in ext.collect()}
    assert len(got) == len(rows)
    for row in rows:
        expect = tuples(extract_document(row["spans"]))
        actual = tuples(
            [s.asDict(recursive=True) for s in got[row["doc_id"]]["out_spans"]]
        )
        assert actual == expect, f"span mismatch for {row['doc_id']}"


def test_flat_view_order_and_metadata(spark, small_corpus):
    rows, df = small_corpus
    flat = extracted_flat(extract_spans(df, mega_span_threshold=120))
    one = (
        flat.filter(F.col("doc_id") == rows[0]["doc_id"])
        .orderBy("offset")
        .collect()
    )
    expect = extract_document(rows[0]["spans"])
    assert [r["kind"] for r in one] == [e["kind"] for e in expect]
    assert [r["page"] for r in one] == [e["page"] for e in expect]
    assert [r["section_id"] for r in one] == [e["section_id"] for e in expect]


def test_plan_is_arrow_only(spark, small_corpus):
    """Zero per-row Python: the plan must use Arrow-batched operators
    (MapInArrow / FlatMapGroupsInArrow), never BatchEvalPython."""
    _, df = small_corpus
    plan = extract_spans(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan or "EvalPython" not in plan


def _union_branches(df):
    """The plan strings of the (small, mega) branches of the executed
    plan's Union, in ``unionByName`` order."""
    node = df._jdf.queryExecution().executedPlan()
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    stack = [node]
    while stack:
        node = stack.pop()
        kids = [node.children().apply(i) for i in range(node.children().size())]
        if node.nodeName() == "Union":
            return [k.toString() for k in kids]
        stack.extend(kids)
    raise AssertionError("plan has no Union")


PY_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
            "FlatMapGroupsInArrow", "FlatMapGroupsInPandas")


def _py_nodes(plan: str) -> list:
    return [
        line.split()[0] for line in
        (ln.lstrip(" :+-*(0123456789)") for ln in plan.splitlines())
        if line.startswith(PY_NODES)
    ]


def test_scalar_path_has_no_shuffle(spark, small_corpus):
    """extract_spans' small-doc branch is map-only: no Exchange, and
    the kernel runs as one MapInArrow."""
    _, df = small_corpus
    small, mega = _union_branches(extract_spans(df, mega_span_threshold=120))
    assert "Exchange" not in small
    assert _py_nodes(small) == ["MapInArrow"]
    assert "Exchange" in mega and _py_nodes(mega) == ["FlatMapGroupsInArrow"]


def test_convert_plan_evaluates_the_kernel_once(spark, small_corpus):
    """The convert CLI's plan, extracted_flat(extract_spans(...)), runs
    the kernel once per small doc: posexplode's inferred
    ``size(out_spans) > 0`` filter cannot be pushed below a map
    operator, so no second (ArrowEvalPython) evaluation appears."""
    _, df = small_corpus
    out = extracted_flat(extract_spans(df, mega_span_threshold=120))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    small, _ = _union_branches(out)
    assert _py_nodes(small) == ["MapInArrow"]


def test_flat_path_matches_oracle(spark, small_corpus):
    """The direct-to-flat performance path produces the identical
    (kind, text, media_ref, order) sequences as the pure-Python oracle,
    across both the map-only and the mega-doc skew path."""
    rows, df = small_corpus
    flat = extract_elements(df, mega_span_threshold=120)
    got: dict = {}
    for r in flat.collect():
        got.setdefault(r["doc_id"], []).append(r)
    assert len(got) == len(rows)
    for row in rows:
        expect = tuples(extract_document(row["spans"]))
        actual = [
            (r["kind"], r["text"], r["media_ref"], r["offset"])
            for r in sorted(got[row["doc_id"]], key=lambda r: r["offset"])
        ]
        assert actual == expect, f"flat-path mismatch for {row['doc_id']}"


def test_flat_path_matches_nested_path(spark, small_corpus):
    _, df = small_corpus
    a = extract_elements(df, mega_span_threshold=120)
    b = extracted_flat(extract_spans(df, mega_span_threshold=120))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_flat_plan_is_map_only_and_arrow(spark, small_corpus):
    """Scalar flat path: no Exchange (map-only), no BatchEvalPython."""
    _, df = small_corpus
    small_only = df.filter(F.size("spans") < 10_000_000)
    out = extract_elements(small_only, mega_span_threshold=10_000_000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    # the union includes the (empty) mega branch whose groupBy shuffles;
    # the small branch itself must stay exchange-free: check its side
    small_branch = small_only.select("doc_id", "spans").mapInArrow(
        _flat_arrow_batches("default"), schema=FLAT_SCHEMA
    )
    plan2 = small_branch._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan2
    small, _ = _union_branches(out)
    assert "Exchange" not in small and _py_nodes(small) == ["MapInArrow"]


def test_deterministic_across_runs(spark, small_corpus):
    rows, df = small_corpus
    a = extract_spans(df).orderBy("doc_id").collect()
    b = extract_spans(df).orderBy("doc_id").collect()
    assert a == b


def test_skew_path_keeps_array_order_for_tied_and_null_offsets(spark):
    """A mega-doc whose offsets repeat and are partly null: the skew
    path sorts each group by array position before the kernel, so
    ties and nulls (read as 0) keep array order exactly as
    ``docmodel.extract_document`` does, in both views."""
    pattern = [
        ("heading", "# Alpha", 2), ("text", "one", None), ("text", "two", 1),
        ("text", "", 1), ("table_row", "| a | b |", None),
        ("table_row", "|---|---|", None), ("table_row", "| 1 | 2 |", None),
        ("heading", "## Beta", 2), ("text", "three", 0), ("code", "x = 1", 1),
        ("image", "![fig](f.png)", None), ("text", "four", 2),
    ]
    spans = [
        {"kind": k, "text": f"{t} {rep}" if k in ("text", "heading") and t else t,
         "media_ref": None, "offset": o}
        for rep in range(6) for k, t, o in pattern
    ]
    small = [{"kind": "text", "text": "small", "media_ref": None, "offset": None}]
    rows = [{"doc_id": "mega", "spans": spans}, {"doc_id": "small", "spans": small}]
    df = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    expect = {r["doc_id"]: extract_document(r["spans"]) for r in rows}
    assert len({e["kind"] for e in expect["mega"]}) == 5

    nested = {
        r["doc_id"]: [e.asDict(recursive=True) for e in r["out_spans"]]
        for r in extract_spans(df, mega_span_threshold=10).collect()
    }
    assert nested == expect
    flat: dict = {}
    for r in extract_elements(df, mega_span_threshold=10).collect():
        d = r.asDict(recursive=True)
        flat.setdefault(d.pop("doc_id"), []).append(d)
    assert {k: sorted(v, key=lambda e: e["offset"]) for k, v in flat.items()} == expect
