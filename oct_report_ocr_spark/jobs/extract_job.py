"""The flagship extraction job: documents table → extracted table.

Spark re-expression of the reference's driver scripts
(/root/reference/extract_onh_rnfl_report_text_ou.py lifecycle traced in
SURVEY.md §3.1), designed for 10¹²-row tables:

1. **Scan** with the routing predicate pushed to the parquet reader
   (the ``DocumentTitle like`` analog is ``lang = 'en'``; S2/D1). The
   ``html`` binary column is never read by resume/manifest passes —
   Catalyst prunes it.
2. **Bucket key**: ``pmod(xxhash64(url), buckets)``, computed in
   codegen; a resume excludes the committed buckets here, before the
   Python stage. The extraction stage runs on the scan splits with no
   payload shuffle: ``spark.sql.files.maxPartitionBytes`` bounds the
   bytes per task, and Arrow batches are capped by bytes as well as
   rows (``session.get_spark``), so a run of huge pages degrades to
   small batches instead of concentrating in one. Measured on 4 cores
   at 25k documents, this plan beat a url-hash repartition of the full
   payload by about 2x on the benchmark layout and on files sorted by
   host or by page size (CHANGES.md).
3. **mapInArrow** extraction (jobs/extract_udf.py) — the only Python
   stage; everything around it is whole-stage-codegen JVM.
4. **Idempotent partitioned write** (D10): output is partitioned by
   bucket and committed through ``jobs/sink.py``, the commit protocol
   shared with the curation sinks: a bucket is *completed* only when
   its row appears in the manifest table, which is written strictly
   after the data; restart = drop the committed buckets on the scan
   side (step 2, before the UDF) and dynamic-partition-overwrite the
   rest. The extracted rows are hashed by bucket into ``min(buckets,
   defaultParallelism)`` tasks: each bucket still lands in exactly one
   task, so each bucket still gets one file, but the write runs as one
   wave. With fewer cores than buckets, one task per bucket would run
   in several waves, each task paying Spark's fixed per-task cost
   (scheduling, task deserialization, writer set-up) for a small file.
5. **Lineage/metrics + manifest commit** (D8/D11): the manifest row
   carries per-bucket doc counts, ok/failed, byte totals and an
   order-insensitive content checksum, computed by re-reading the
   *written* files (verifying readability, not just write success).
   The run's stats are totals of the committed manifest rows, one row
   per bucket.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oct_report_ocr_spark.jobs.extract_udf import OUTPUT_DDL, extract_batches
from oct_report_ocr_spark.jobs.sink import Sink, commit, committed, read

INPUT_COLS = ("url", "warc_ts", "html")
#: the sink under ``output``: bucket-partitioned rows, and the manifest
#: table committed strictly after them
DATA_DIR = "extracted"
MANIFEST_DIR = "_manifests"
#: the sink's rows: the kernel's output plus the partition column
SINK_DDL = f"{OUTPUT_DDL}, bucket int"


def extract_df(
    docs: DataFrame,
    buckets: int = 64,
    lang: str | None = "en",
    exclude_buckets: list[int] | None = None,
) -> DataFrame:
    """The logical extraction plan (no sink). Returns one row per input
    document with columns OUTPUT_DDL + ``bucket``.

    ``exclude_buckets`` (resume) is applied *before* the UDF, on the
    scan side, so completed buckets cost a hash+filter in codegen, not
    an extraction — and never cross into the Python worker.

    The plan has no exchange: extraction runs directly on the scan
    splits. The kernel is partitioning-invariant, so the output rows do
    not depend on the input layout (tested).
    """
    df = docs
    if lang is not None and "lang" in df.columns:
        df = df.filter(F.col("lang") == lang)
    bucket = F.pmod(F.xxhash64(F.col("url")), F.lit(buckets)).cast("int")
    df = df.select(*INPUT_COLS).withColumn("bucket", bucket)
    if exclude_buckets:
        df = df.filter(~F.col("bucket").isin(exclude_buckets))
    out = df.select(*INPUT_COLS).mapInArrow(extract_batches, schema=OUTPUT_DDL)
    # recompute the bucket for the sink partitioning (cheap codegen hash)
    return out.withColumn("bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(buckets)).cast("int"))


def _bucket_aggregates() -> list[F.Column]:
    """Per-bucket lineage/metrics: counts, bytes and an
    order-insensitive content checksum."""
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_failed"),
        F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).alias("n_ok"),
        F.sum(F.coalesce(F.octet_length("extracted_text"), F.lit(0))).alias("n_text_bytes"),
        # order-insensitive content checksum: sum of per-row 64-bit hashes,
        # accumulated in decimal(38,0) so ANSI mode can't overflow
        F.sum(F.xxhash64("url", "extracted_text", "error").cast("decimal(38,0)")).alias(
            "content_checksum"
        ),
        F.sum("n_spans").alias("n_spans"),
    ]


#: the extraction sink: bucket-partitioned rows under ``extracted``, and
#: one manifest row per bucket under ``_manifests``
EXTRACTED = Sink(DATA_DIR, MANIFEST_DIR, ("bucket",), SINK_DDL, _bucket_aggregates)


def _manifest_rows(extracted_files: DataFrame) -> DataFrame:
    """Per-bucket lineage/metrics aggregate over (re-read) output rows."""
    return EXTRACTED.manifest_rows(extracted_files)


def completed_buckets(spark: SparkSession, output: str) -> list[int]:
    return sorted(committed(spark, EXTRACTED, output))


def read_sink(spark: SparkSession, output: str, skip: list[int] | None = None) -> DataFrame:
    """The rows written to the sink at ``output`` (``SINK_DDL``), leaving
    out the buckets in ``skip`` (see :func:`jobs.sink.read`)."""
    return read(spark, EXTRACTED, output, skip=skip or ())


def run(
    spark: SparkSession,
    input_path: str,
    output: str,
    buckets: int = 64,
    lang: str | None = "en",
    fresh: bool = False,
) -> dict:
    """Run (or resume) the extraction job. Returns run metrics."""
    if fresh and os.path.isdir(output):
        import shutil

        shutil.rmtree(output)

    done = {} if fresh else committed(spark, EXTRACTED, output)

    docs = spark.read.parquet(input_path)
    plan = extract_df(docs, buckets=buckets, lang=lang, exclude_buckets=sorted(done))
    # The scan-aligned plan would write up to tasks x buckets tiny
    # files. Hash the EXTRACTED rows (main-content text, a fraction of
    # the raw html payload) by bucket into one wave of tasks: every
    # bucket still lands in exactly one task, so it gets exactly one file.
    plan = plan.repartition(min(buckets, spark.sparkContext.defaultParallelism), "bucket")

    manifest = commit(spark, EXTRACTED, output, plan, done).values()
    return {
        "rows": sum(r.n_rows for r in manifest),
        "ok": sum(r.n_ok for r in manifest),
        "failed": sum(r.n_failed for r in manifest),
        "buckets_done": len(manifest),
        "resumed_buckets_skipped": len(done),
        "output": os.path.join(output, DATA_DIR),
    }


def quarantine(spark: SparkSession, output: str) -> DataFrame:
    """The D9 quarantine view: rows that failed extraction."""
    return read_sink(spark, output).filter(F.col("error").isNotNull())


def main() -> None:
    import argparse

    from oct_report_ocr_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--lang", default="en")
    ap.add_argument("--fresh", action="store_true")
    args = ap.parse_args()

    spark = get_spark(app_name="extract_job", cores=args.cores)
    stats = run(
        spark,
        args.input,
        args.output,
        buckets=args.buckets,
        lang=args.lang or None,
        fresh=args.fresh,
    )
    print(stats)


if __name__ == "__main__":
    main()
