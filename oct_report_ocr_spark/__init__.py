"""oct_report_ocr_spark — a brand-new PySpark-native extraction engine.

Re-expresses the query and data-processing semantics of the reference
pipeline (eyelovedata/oct-report-ocr: per-document decode → layout
segmentation → ordered text lines → anchor/regex field pulling → one
row per document, resumable incremental sink) as an idiomatic Spark
DataFrame pipeline over a Common-Crawl-style web-page table
``(url, warc_ts, html, text, lang)``:

- ``extract/``   pure, deterministic, stdlib-only per-document
                 extraction core (the analog of the reference's
                 crop→OCR→rule loop, extract_gcc_report_text_ou.py:40-144)
- ``jobs/``      the Arrow-vectorized Spark shell around the core:
                 scan-aligned mapInArrow, quarantine, manifests
- ``operators/`` relational operator library (joins, windows, pivots,
                 dedup, similarity, text stats) mirroring SURVEY.md §2
- ``functions/`` scalar normalizer expressions (logMAR ladder,
                 laterality, token repairs) as native Column functions
- ``synth/``     deterministic synthetic corpus generator (fixtures +
                 bench input)

No code is copied from the reference; file:line citations in
docstrings identify the behavior being re-expressed.
"""

__version__ = "0.1.0"
