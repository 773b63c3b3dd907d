"""The flagship extraction pipeline: interleaved spans → ordered elements.

Scale design (this is the 100 TB shape, not just the local[32] shape):

* Extraction is per-document and stateless across documents, so the
  main path is **map-only with zero shuffle**: a ``mapInArrow`` over the
  ``spans`` array column. One per-batch kernel (``_extract_batch``)
  reads the span columns straight from Arrow, runs the ``docmodel``
  state machine per document and returns the element columns plus the
  element offsets of each document. Both views wrap that one result:
  ``extract_elements`` emits flat element rows, ``extract_spans`` one
  ``list<struct>`` per document built from the same columns and
  offsets. 1000 executors scan their Iceberg/parquet splits and write
  — no exchange anywhere in the plan.
* Skewed **mega-documents** (span count ≥ ``mega_span_threshold``) are
  the one hazard: a handful of 1000×-median rows inside a batch blow up
  Python-worker memory and straggle a partition. They are split out by
  a cheap native ``size(spans)`` predicate (pushed into the scan),
  posexploded to one-row-per-span, shuffled by ``doc_id`` (this
  salt-like explode spreads the *bytes* of the skewed minority across
  the cluster), and re-assembled per doc by one
  ``groupBy("doc_id").applyInArrow`` function shared by both views. It
  sorts each group by array position, so equal and null offsets keep
  array order exactly as on the map path, then calls the same kernel.
  Only the skewed tail pays a shuffle (SURVEY.md §4 custom-work items
  1-3).
* All tokenize/classify work happens inside Arrow batches — the plan
  contains only ``MapInArrow``/``FlatMapGroupsInArrow`` Python nodes.
  There is no ``ArrowEvalPython`` expression UDF for the optimizer to
  duplicate (a filter inferred from ``extracted_flat``'s posexplode
  cannot be pushed below a map operator), and never row-at-a-time
  ``BatchEvalPython`` (north-rule "zero per-row Python" requirement).
* The ``convert`` CLI runs exactly this kernel and extracts each
  document once: it persists ``extract_spans``' result and writes the
  element parquet (``extracted_flat``) and the JSON sink from it.

Reference lifecycle being re-expressed: cli.py convert →
process_pdf → extract_from_markdown token walk
(markdown_extractor.py:312-625) → table merge
(improved_table_merger.py:187-254) → ordered JSON sink (SURVEY.md §3.1).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..docmodel import extract_document, extract_document_cols
from ..schema import ELEMENT_COLUMNS, EXTRACTED_SCHEMA, FLAT_SCHEMA, OUT_SPAN_STRUCT


# ---------------------------------------------------------------------------
# the kernel: one Arrow batch of (doc_id, spans) → element columns
# ---------------------------------------------------------------------------


def _arrow_element_type():
    from pyspark.sql.pandas.types import to_arrow_type

    return to_arrow_type(OUT_SPAN_STRUCT)


def _arrow_flat_schema():
    import pyarrow as pa

    return pa.schema([pa.field("doc_id", pa.string()), *_arrow_element_type()])


def _extract_batch(spans, merge_strategy: str):
    """Run the state machine over one batch's ``spans`` list column.

    Columnar span access — no per-span dicts, no pandas round trip.
    Returns the elements as one ``StructArray`` (``ELEMENT_COLUMNS``
    fields) and the element offsets of each doc: doc ``i``'s elements
    are rows ``doc_offsets[i]:doc_offsets[i + 1]``.
    """
    import pyarrow as pa

    if isinstance(spans, pa.ChunkedArray):
        spans = spans.combine_chunks()
    # .values + absolute .offsets stay consistent even if the
    # batch array is a slice (flatten() would re-base values)
    flat = spans.values
    kinds = flat.field("kind").to_pylist()
    texts = flat.field("text").to_pylist()
    refs = flat.field("media_ref").to_pylist()
    offs = flat.field("offset").to_pylist()
    lo = spans.offsets.to_pylist()
    cols: list = [[] for _ in ELEMENT_COLUMNS]
    el_cols = list(zip(ELEMENT_COLUMNS, cols))
    doc_offsets = [0]
    n = 0
    for i in range(len(spans)):
        s, e = lo[i], lo[i + 1]
        els = extract_document_cols(
            kinds[s:e], texts[s:e], refs[s:e], offs[s:e], merge_strategy
        )
        for c, col in el_cols:
            col.extend([el[c] for el in els])
        n += len(els)
        doc_offsets.append(n)
    el_type = _arrow_element_type()
    elements = pa.StructArray.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(cols, el_type)],
        fields=list(el_type),
    )
    return elements, doc_offsets


def _flat_view(doc_ids, spans, merge_strategy: str):
    """Kernel → one row per element: ``FLAT_SCHEMA``."""
    import numpy as np
    import pyarrow as pa

    elements, doc_offsets = _extract_batch(spans, merge_strategy)
    ids = doc_ids.take(np.repeat(np.arange(len(doc_ids)), np.diff(doc_offsets)))
    return pa.RecordBatch.from_arrays(
        [ids, *elements.flatten()], schema=_arrow_flat_schema()
    )


def _nested_view(doc_ids, spans, merge_strategy: str):
    """Kernel → one row per doc: ``EXTRACTED_SCHEMA``. A doc with zero
    elements gets ``out_spans = []``."""
    import pyarrow as pa

    elements, doc_offsets = _extract_batch(spans, merge_strategy)
    out_spans = pa.ListArray.from_arrays(pa.array(doc_offsets, pa.int32()), elements)
    return pa.RecordBatch.from_arrays(
        [doc_ids, out_spans], names=["doc_id", "out_spans"]
    )


def _arrow_batches(view, merge_strategy: str):
    """mapInArrow function: ``view`` over every (doc_id, spans) batch."""

    def gen(batches):
        for batch in batches:
            yield view(batch.column(0), batch.column(1), merge_strategy)

    return gen


def _flat_arrow_batches(merge_strategy: str):
    """``extract_elements``' map-side kernel (the bench path)."""
    return _arrow_batches(_flat_view, merge_strategy)


def _extract(
    docs: DataFrame, merge_strategy: str, mega_span_threshold: int, view, schema
) -> DataFrame:
    """Small docs map-only through ``view``; mega-docs take the skew
    path through the same ``view``."""
    n_spans = F.size("spans")
    small = docs.filter(n_spans < mega_span_threshold)
    small_out = small.select("doc_id", "spans").mapInArrow(
        _arrow_batches(view, merge_strategy), schema=schema
    )
    mega = docs.filter(n_spans >= mega_span_threshold)
    return small_out.unionByName(_extract_mega(mega, merge_strategy, view, schema))


def _extract_mega(mega: DataFrame, merge_strategy: str, view, schema) -> DataFrame:
    """Skew path: posexplode → shuffle by doc_id → reassemble per group.

    Exploding turns one multi-MB row into thousands of small rows, so
    the shuffle write of a mega-doc is spread over many map tasks and
    AQE's skew handling sees ordinary-sized blocks. ``applyInArrow``
    receives the whole document group; sorting it by array position
    restores the doc's span array exactly (the shuffle delivers rows
    in arrival order), so the kernel sees what the map path would.
    """

    def run_group(table):
        import pyarrow as pa

        table = table.sort_by("pos")
        span = table.column("span").combine_chunks()
        spans = pa.ListArray.from_arrays(pa.array([0, len(span)], pa.int32()), span)
        doc_id = table.column("doc_id").slice(0, 1).combine_chunks()
        return pa.Table.from_batches([view(doc_id, spans, merge_strategy)])

    exploded = mega.select("doc_id", F.posexplode("spans").alias("pos", "span"))
    return exploded.groupBy("doc_id").applyInArrow(run_group, schema=schema)


# ---------------------------------------------------------------------------
# the two views
# ---------------------------------------------------------------------------


def extract_elements(
    docs: DataFrame,
    merge_strategy: str = "default",
    mega_span_threshold: int = 5_000,
) -> DataFrame:
    """docs(doc_id, spans) → one row per extracted element (flat).

    The offset column is the within-document element order (the
    north-rule equality order). Map-only for ordinary docs; mega-docs
    take the explode/shuffle skew path.
    """
    return _extract(docs, merge_strategy, mega_span_threshold, _flat_view, FLAT_SCHEMA)


def extract_spans(
    docs: DataFrame,
    merge_strategy: str = "default",
    mega_span_threshold: int = 5_000,
) -> DataFrame:
    """docs(doc_id, spans) → (doc_id, out_spans), one row per document.

    Doc-level view for consumers that want the whole ordered sequence
    as one value (golden-fixture comparison, JSON-sink parity with the
    reference's per-doc output). Same kernel and plan shape as
    :func:`extract_elements`; only the emitted view differs.
    """
    return _extract(
        docs, merge_strategy, mega_span_threshold, _nested_view, EXTRACTED_SCHEMA
    )


def extracted_flat(extracted: DataFrame) -> DataFrame:
    """(doc_id, out_spans) → one row per element, inline columns."""
    return extracted.select(
        "doc_id", F.posexplode("out_spans").alias("pos", "el")
    ).select("doc_id", *[F.col(f"el.{c}").alias(c) for c in ELEMENT_COLUMNS])


# ---------------------------------------------------------------------------
# streaming's mapInPandas variant
# ---------------------------------------------------------------------------


def _flat_batches(merge_strategy: str):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict = {c: [] for c in ("doc_id", *ELEMENT_COLUMNS)}
            for did, spans in zip(pdf["doc_id"], pdf["spans"]):
                span_list = [] if spans is None else list(spans)
                for el in extract_document(span_list, merge_strategy):
                    out["doc_id"].append(did)
                    for c in ELEMENT_COLUMNS:
                        out[c].append(el[c])
            if not out["doc_id"]:
                # a batch whose docs all extract to nothing: pandas
                # types the empty list columns float64 and Arrow cannot
                # cast empty float64 → list<string> — yield nothing
                continue
            yield pd.DataFrame(out)

    return gen
