"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline end-to-end on
the deterministic sf0.001 synthetic corpus (generated on first use —
the binary-html analog of /root/testdata/sf0.001/documents.parquet per
FIXTURES.md §1). ``queries()``/``oracle_sql()`` expose the relational
operator library (SURVEY.md §2) for the DuckDB parity gate.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: scan-aligned mapInArrow extraction over the
    sf0.001 web-page corpus — extracted text + span counts for every
    English document (one row per url, quarantine rows included with
    ``error`` set)."""
    from oct_report_ocr_spark.jobs.extract_job import extract_df
    from oct_report_ocr_spark.synth.gen_corpus import ensure_corpus

    corpus = ensure_corpus(os.path.join(_REPO, ".cache"), 0.001)
    docs = spark.read.parquet(corpus)
    out = extract_df(docs, buckets=16, lang="en")
    return out.select(
        "url", "warc_ts", "extracted_text", "template", "n_lines", "n_spans", "error",
        "meta",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from oct_report_ocr_spark.operators import all_queries

    return {name: fn for name, (fn, _sql) in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    from oct_report_ocr_spark.operators import all_queries

    return {name: sql for name, (_fn, sql) in all_queries().items() if sql is not None}
