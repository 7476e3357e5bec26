"""Arrow-vectorized extraction UDF (the engine's single Python hot path).

Wraps the pure ``extract_one`` core in a ``mapInArrow`` batch function.
This is the Spark re-expression of the reference's per-document loop
body (/root/reference/extract_gcc_report_text_ou.py:40-144) with the
two structural fixes SURVEY.md §4 calls out:

- the reference re-instantiates its OCR model per document
  (extract_gcc_report_text_ou.py:69); here all parse tables / regex
  programs are module-level — compiled once per Python worker process
  and amortized over every batch that worker handles.
- the reference is sequential; here parallelism comes from Spark task
  scheduling over the scan splits, and the UDF itself stays
  order-independent (no state crosses batch or partition boundaries),
  so output bytes are invariant to partitioning (SURVEY.md §5.2(3)).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from oct_report_ocr_spark.extract import extract_one

SPAN_TYPE = pa.struct(
    [
        pa.field("label", pa.string()),
        pa.field("start", pa.int32()),
        pa.field("end", pa.int32()),
        pa.field("text", pa.string()),
        pa.field("line_idx", pa.int32()),
    ]
)

# typed head projection (S12: the reference's 14-attr DICOM metadata
# pull, utils.py:1602-1619, re-expressed for web pages)
META_FIELDS = ("title", "meta_description", "charset", "canonical_url", "og_type")
META_TYPE = pa.struct([pa.field(f, pa.string()) for f in META_FIELDS])

OUTPUT_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("extracted_text", pa.string()),
        pa.field("spans", pa.list_(SPAN_TYPE)),
        pa.field("template", pa.string()),
        pa.field("n_blocks", pa.int32()),
        pa.field("n_lines", pa.int32()),
        pa.field("n_spans", pa.int32()),
        pa.field("error", pa.string()),
        pa.field("meta", META_TYPE),
    ]
)

# Spark-side DDL mirror of OUTPUT_SCHEMA (keep in sync)
OUTPUT_DDL = (
    "url string, warc_ts timestamp, extracted_text string, "
    "spans array<struct<label:string,start:int,end:int,text:string,line_idx:int>>, "
    "template string, n_blocks int, n_lines int, n_spans int, error string, "
    "meta struct<title:string,meta_description:string,charset:string,"
    "canonical_url:string,og_type:string>"
)


def extract_record_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    urls = batch.column("url").to_pylist()
    htmls = batch.column("html").to_pylist()

    texts: list[str | None] = []
    templates: list[str] = []
    n_blocks: list[int] = []
    n_lines: list[int] = []
    n_spans: list[int] = []
    errors: list[str | None] = []
    # spans build as flat columns + offsets (ListArray.from_arrays) —
    # an order of magnitude cheaper than list-of-dict conversion
    sp_label: list[str] = []
    sp_start: list[int] = []
    sp_end: list[int] = []
    sp_text: list[str] = []
    sp_line_idx: list[int] = []
    sp_offsets: list[int] = [0]
    meta_cols: dict[str, list[str | None]] = {f: [] for f in META_FIELDS}
    meta_valid: list[bool] = []

    for url, html in zip(urls, htmls):
        r = extract_one(html, url)
        texts.append(r.extracted_text)
        templates.append(r.template)
        n_blocks.append(r.n_blocks)
        n_lines.append(r.n_lines)
        n_spans.append(len(r.spans))
        errors.append(r.error)
        meta_valid.append(r.meta is not None)
        for f in META_FIELDS:
            meta_cols[f].append(r.meta.get(f) if r.meta else None)
        for s in r.spans:
            sp_label.append(s.label)
            sp_start.append(s.start)
            sp_end.append(s.end)
            sp_text.append(s.text)
            sp_line_idx.append(s.line_idx)
        sp_offsets.append(len(sp_label))

    spans_arr = pa.ListArray.from_arrays(
        pa.array(sp_offsets, pa.int32()),
        pa.StructArray.from_arrays(
            [
                pa.array(sp_label, pa.string()),
                pa.array(sp_start, pa.int32()),
                pa.array(sp_end, pa.int32()),
                pa.array(sp_text, pa.string()),
                pa.array(sp_line_idx, pa.int32()),
            ],
            fields=list(SPAN_TYPE),
        ),
    )
    return pa.record_batch(
        [
            batch.column("url"),  # zero-copy passthrough
            batch.column("warc_ts").cast(pa.timestamp("us", tz="UTC")),
            pa.array(texts, pa.string()),
            spans_arr,
            pa.array(templates, pa.string()),
            pa.array(n_blocks, pa.int32()),
            pa.array(n_lines, pa.int32()),
            pa.array(n_spans, pa.int32()),
            pa.array(errors, pa.string()),
            pa.StructArray.from_arrays(
                [pa.array(meta_cols[f], pa.string()) for f in META_FIELDS],
                fields=list(META_TYPE),
                mask=pa.array([not v for v in meta_valid]),
            ),
        ],
        schema=OUTPUT_SCHEMA,
    )


def extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow entry point: (url, warc_ts, html) batches → extracted rows."""
    for batch in batches:
        yield extract_record_batch(batch)
