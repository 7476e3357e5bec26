"""Sink maintenance: fsck-style audit of the parquet + `_manifests`
snapshot sink (jobs/extract_job.py).

The sink's commit protocol (``jobs/sink.py``) is data-first,
manifest-second (per bucket).
Without a table format (Iceberg unavailable in this environment —
README probe), the failure windows are:

- a writer crashes AFTER writing a bucket's data but BEFORE its
  manifest row → an ORPHAN bucket (the next commit to the sink
  removes every orphan before it writes, but until then it lingers
  as unaccounted data);
- data files lost/corrupted after commit → a MISSING bucket or a
  CHECKSUM_MISMATCH against the manifest's order-insensitive
  content checksum.

``audit_sink`` recomputes every bucket's manifest row from the data
actually on disk and full-outer-joins it against the committed
manifest — the same integrity check a table format's snapshot
validation gives. There is no separate vacuum: re-running the job
removes the orphans (``sink.commit``), so the audit's ``orphan`` rows
are the dry run of that removal.

Scale posture: the audit is ONE scan of the sink + one per-bucket hash
aggregate (the identical shape as manifest creation) joined against
the tiny manifest table; no driver-side iteration over rows.

Reference anchor: the reference trusts `to_gbq(if_exists='replace')`
for table integrity (utils.py:633); this module provides the
equivalent auditability for the manifest-based stand-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oct_report_ocr_spark.jobs.extract_job import EXTRACTED, _manifest_rows, read_sink
from oct_report_ocr_spark.jobs.sink import committed


def audit_sink(spark: SparkSession, output: str) -> DataFrame:
    """Per-bucket consistency report of the sink at ``output``.

    Returns (bucket, status, data_rows, manifest_rows) with status in:
    ``ok`` — manifested and the recomputed row count + content checksum
    match; ``checksum_mismatch`` — data present and manifested but
    drifted; ``orphan`` — data on disk without a manifest row;
    ``missing`` — manifest row without data on disk."""
    recomputed = (
        _manifest_rows(read_sink(spark, output))
        .withColumnRenamed("n_rows", "data_rows")
        .withColumnRenamed("content_checksum", "data_checksum")
        .select("bucket", "data_rows", "data_checksum")
    )
    manifest = spark.createDataFrame(
        [(b, r.n_rows, r.content_checksum) for b, r in committed(spark, EXTRACTED, output).items()],
        "bucket int, manifest_rows bigint, manifest_checksum decimal(38,0)",
    )
    j = recomputed.join(manifest, "bucket", "full_outer")
    status = (
        F.when(F.col("manifest_rows").isNull(), F.lit("orphan"))
        .when(F.col("data_rows").isNull(), F.lit("missing"))
        .when(
            (F.col("data_rows") == F.col("manifest_rows"))
            & (F.col("data_checksum") == F.col("manifest_checksum")),
            F.lit("ok"),
        )
        .otherwise(F.lit("checksum_mismatch"))
    )
    return j.select(
        "bucket",
        status.alias("status"),
        "data_rows",
        "manifest_rows",
    )
