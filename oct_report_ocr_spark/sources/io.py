"""Source/sink helpers (SURVEY.md §2.1): CSV golden-fixture ingest,
header-first CSV sink, filtered binary export, binary-file corpus read.

The reference's storage surface was: templated BigQuery scans (S1/S2),
GCS blob down/uploads per document (S3/S4), create-or-append CSV with a
header row (S6/S7), table replace (S8), and a bulk filtered binary
export (S13, utils.py:1790-1817). Spark-side:

- table scans are plain ``spark.read.parquet`` / ``read.table``;
- the per-document blob fetch is ELIMINATED — payloads live in the
  ``html`` binary column (BASELINE.json input_hint);
- CSV keeps only two jobs here: golden-fixture ingest and human-audit
  exports (spans flattened — CSV has no nested types);
- binary export is a filtered projection written as parquet, replacing
  the reference's download→zip→re-upload loop with one distributed job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_csv(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """S7: CSV source with a header row (pd.read_csv of own output,
    extract_gcc_report_text_ou.py:193)."""
    r = spark.read.option("header", True)
    if schema:
        r = r.schema(schema)
    else:
        r = r.option("inferSchema", True)
    return r.csv(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S6: CSV sink with header. The reference's create-or-append
    resumability is handled by the manifest layer (jobs/extract_job),
    not by filesystem checks; this sink is for audit exports only."""
    df.write.option("header", True).mode(mode).csv(path)


def audit_rows(extracted: DataFrame) -> DataFrame:
    """D8: flatten spans into one audit row per extracted field — the
    human-evaluation artifact (the reference rendered annotated JPEGs,
    extract_gcc_report_text_ou.py:148-187; here: text offsets a human
    can jump to)."""
    ok = extracted.filter(F.col("error").isNull())
    return ok.select(
        "url", "template", F.explode("spans").alias("s")
    ).select(
        "url",
        "template",
        F.col("s.label").alias("label"),
        F.col("s.start").alias("start"),
        F.col("s.end").alias("end"),
        F.col("s.text").alias("value"),
    )


def audit_render(extracted: DataFrame) -> DataFrame:
    """D8 reviewable artifact (VERDICT r01 item 8): one audit row per
    extracted field, anchored to its source line with ±1 line of
    context — the text analog of the reference's annotated overlay
    JPEGs (extract_gcc_report_text_ou.py:148-187: value boxes drawn on
    the report raster for human review; here: the value, the exact
    line it came from, and the neighbouring lines a reviewer needs to
    judge it without opening the page).

    Pure JVM expressions (split + explode + element_at) — no Python,
    no window, no shuffle beyond the explode, so rendering an audit
    table for 10¹² docs is a map-only pass over the extracted table.
    Synthetic spans (line_idx = -1) render with NULL line/context."""
    ok = extracted.filter(F.col("error").isNull())
    lines = F.split(F.col("extracted_text"), "\n")
    li = F.col("s.line_idx")
    return ok.select(
        "url", "template", lines.alias("_lines"), F.explode("spans").alias("s")
    ).select(
        "url",
        "template",
        F.col("s.label").alias("label"),
        F.col("s.text").alias("value"),
        li.alias("line_idx"),
        # element_at is 1-based; out-of-range / -1 → NULL via try_element_at
        F.when(li >= 1, F.try_element_at("_lines", li)).alias("context_before"),
        F.when(li >= 0, F.try_element_at("_lines", li + 1)).alias("line"),
        F.when(li >= 0, F.try_element_at("_lines", li + 2)).alias("context_after"),
    )


def export_binary_subset(docs: DataFrame, predicate, out_path: str) -> None:
    """S13: bulk filtered binary export (utils.py:1790-1817) — a
    filter + binary projection written distributed, no driver loop."""
    docs.filter(predicate).select("url", "html").write.mode("overwrite").parquet(out_path)


def read_binary_files(spark: SparkSession, path: str, glob: str = "*.html") -> DataFrame:
    """S3 alternative for file corpora: ``binaryFile`` source mapped to
    the canonical (url, html) shape."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select(F.col("path").alias("url"), F.col("content").alias("html"))
    )


def list_corpus_files(spark: SparkSession, path: str) -> DataFrame:
    """S5: bucket/blob listing (utils.py:1569-1579) — a distributed
    per-file inventory via ``input_file_name()`` over the scan, with
    row counts per file (the reference listed GCS blobs serially)."""
    return (
        spark.read.parquet(path)
        .select(F.input_file_name().alias("file"))
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def read_concat(spark: SparkSession, paths: list[str]) -> DataFrame:
    """U4: concat of per-batch tables (pd.concat, utils.py:1590-1592) —
    a single multi-path scan; schema unioned by name so batches with
    column-order drift still line up."""
    first, *rest = [spark.read.parquet(p) for p in paths]
    out = first
    for df in rest:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def lowercase_columns(df: DataFrame) -> DataFrame:
    """P3: rename-to-lowercase normalization (utils.py:477
    ``df.columns = map(str.lower, ...)``) — pure metadata, no shuffle."""
    return df.toDF(*[c.lower() for c in df.columns])


def write_bucketed_table(
    df: DataFrame, table: str, key: str, n_buckets: int = 16
) -> None:
    """Bucketed + bucket-sorted managed table — the layout that makes
    REPEATED joins on ``key`` shuffle-free: both sides of a join
    between tables bucketed on the same key with the same bucket count
    are already hash-co-located, so Catalyst plans the join with ZERO
    Exchange nodes (pytest-gated). This is the 100 TB posture for the
    joins a pipeline repeats every cycle (fingerprint index ⋈ new
    batch, assignment ⋈ centroid stats): pay the partitioning once at
    write time instead of a full shuffle per join. In production the
    same call targets an Iceberg/Hive catalog; here it writes the
    local spark-warehouse."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


WET_RECORD_SEP = "\nWARC/1.0\n"


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """WET-style (Common-Crawl text-extract interchange) record source,
    parsed entirely with native expressions — no Python in the plan.
    A WET file is a stream of records, each ``WARC/1.0`` + header
    lines + blank line + plain-text body. The reader splits the file
    into records via the text source's custom ``lineSep`` (so record
    boundaries, not lines, are the scan unit — one record per row no
    matter how the cluster splits the file is parquet-grade
    parallelism on a plain-text format), then pulls the two headers a
    pipeline keys on (url, date) with anchored regexes and takes the
    body after the first blank line. Records without a Target-URI
    (the warcinfo preamble) are dropped.

    Returns (url, warc_ts, text). At 100 TB the same plan runs over
    gzip-member-per-record WET exactly as Common Crawl ships it —
    the lineSep split replaces the gzip-member framing."""
    recs = spark.read.option("lineSep", WET_RECORD_SEP).text(path)
    url = F.regexp_extract(F.col("value"), r"(?m)^WARC-Target-URI:\s*(\S+)", 1)
    ts = F.regexp_extract(F.col("value"), r"(?m)^WARC-Date:\s*(\S+)", 1)
    body_pos = F.instr(F.col("value"), "\n\n")
    body = F.when(
        body_pos > 0, F.substring(F.col("value"), body_pos + 2, 2**30)
    ).otherwise(F.lit(""))
    return (
        recs.select(
            url.alias("url"),
            F.to_timestamp(ts).alias("warc_ts"),
            body.alias("text"),
        )
        .filter(F.col("url") != "")
    )


def write_wet(df: DataFrame, path: str) -> None:
    """WET-style sink for (url, warc_ts, text) frames — round-trip
    partner of ``read_wet`` (the export format a downstream consumer
    outside the lakehouse reads). One text file per partition; the
    record header is assembled with native expressions."""
    rec = F.concat(
        F.lit("WARC/1.0\nWARC-Type: conversion\nWARC-Target-URI: "),
        F.col("url"),
        F.lit("\nWARC-Date: "),
        # render the instant's UTC wall time regardless of the session
        # timezone (ADVICE r03): date_format renders in the session tz,
        # so shift the instant by (session tz → UTC) first — under a
        # UTC session this is the identity, under any other session the
        # appended literal 'Z' stays truthful.
        F.date_format(
            F.to_utc_timestamp("warc_ts", F.current_timezone()),
            "yyyy-MM-dd'T'HH:mm:ss'Z'",
        ),
        F.lit("\n\n"),
        F.col("text"),
    )
    df.select(rec.alias("value")).write.mode("overwrite").option(
        "lineSep", "\n"
    ).text(path)


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSON-lines source with a MANDATORY explicit schema: at corpus
    scale ``inferSchema`` is a full extra pass over the data and a
    schema-drift hazard (a single outlier record retypes a column for
    the whole read), so this reader refuses to exist without one.
    Corrupt lines are preserved, not dropped: PERMISSIVE mode routes
    them to ``_corrupt_record`` so the quarantine contract matches the
    extraction job's per-doc fault isolation."""
    return (
        spark.read.schema(schema + ", _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
