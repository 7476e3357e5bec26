"""The resumable partitioned sink: the one write–verify–commit
primitive behind the extraction sink (``jobs/extract_job.py``) and the
tiered-corpus and shard sinks (``jobs/curate_job.py``).

A sink under ``output`` is a hive-partitioned parquet table,
``<data_dir>/<u1>=<v1>[/<u2>=<v2>]``, plus an append-only manifest
table under ``<manifest_dir>`` that holds one row per committed *unit*
(one value of the unit columns: a bucket, a (tier, lang) cell, a
shard). The commit protocol (D10):

1. the caller drops the units :func:`committed` returns from its rows
   and lays the rest out for the write;
2. :func:`commit` removes every unit directory with no manifest row
   (a crash's partial write or a stray copy), then
   dynamic-partition-overwrites the pending units, so a unit a crash
   left partial is rewritten whole, never appended to;
3. it re-reads the written units (readability verified, not just write
   success) and aggregates them per unit in one ``collect``;
4. it appends those rows to the manifest, strictly after the data.

A unit is *completed* only once its manifest row exists, so duplicates
and gaps are impossible: the reference's CSV file-exists resume
(extract_onh_rnfl_report_text_ou.py:64,308-310) made atomic. Callers
compute their stats from the dict ``commit`` returns, one row per unit:
a unit whose manifest row was appended twice (two runs racing on one
output) still counts once, and no stat re-reads the manifest.

Reads never launch a listing or schema-inference job: :func:`read`
lists the unit directories on the driver and passes the sink's known
schema, and :func:`committed` reads the manifest with the schema its
aggregate produces.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Row, SparkSession

from oct_report_ocr_spark.session import conf_override, read_parquet_if_exists


@dataclass(frozen=True)
class Sink:
    """One sink's shape. ``ddl`` is the schema :func:`read` returns:
    data columns, then the unit (partition) columns. ``aggregates``
    returns the per-unit manifest columns; it is a function because a
    column needs a live session."""

    data_dir: str
    manifest_dir: str
    units: tuple[str, ...]
    ddl: str
    aggregates: Callable[[], list[Column]]

    def manifest_rows(self, rows: DataFrame) -> DataFrame:
        """The per-unit manifest aggregate over (re-read) sink rows."""
        return rows.groupBy(*self.units).agg(*self.aggregates())

    def key(self, row: Row):
        """A unit's key: its value, or a tuple of values for several
        unit columns."""
        values = tuple(row[u] for u in self.units)
        return values if len(values) > 1 else values[0]


def committed(spark: SparkSession, sink: Sink, output: str) -> dict:
    """The manifest rows of the sink at ``output``, by unit key; ``{}``
    when no manifest exists yet. Only a MISSING manifest means "first
    run": a transient or corrupt read propagates, because a damaged
    manifest misread as empty would re-commit every unit and
    double-count the stats."""
    schema = sink.manifest_rows(spark.createDataFrame([], sink.ddl)).schema
    m = read_parquet_if_exists(spark, os.path.join(output, sink.manifest_dir), schema)
    return {} if m is None else {sink.key(r): r for r in m.collect()}


def _unit_dirs(spark: SparkSession, sink: Sink, output: str, skip=()) -> list[str]:
    """The unit directories of the sink at ``output`` whose keys are not
    in ``skip``, listed on the driver through the Hadoop FileSystem of
    the path."""
    hadoop = spark._jvm.org.apache.hadoop.fs
    data_path = os.path.join(output, sink.data_dir)
    pattern = hadoop.Path(data_path, "/".join(f"{u}=*" for u in sink.units))
    fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
    skipped = {tuple(map(str, k if isinstance(k, tuple) else (k,))) for k in skip}
    dirs = []
    for path in hadoop.FileUtil.stat2Paths(fs.globStatus(pattern)) or []:
        # the last path components: <u1>=<v1>[/<u2>=<v2>]
        names = path.toUri().getPath().split("/")[-len(sink.units) :]
        if tuple(n.partition("=")[2] for n in names) not in skipped:
            dirs.append(os.path.join(data_path, *names))
    return dirs


def read(spark: SparkSession, sink: Sink, output: str, skip=()) -> DataFrame:
    """The rows of the sink at ``output`` (``sink.ddl``), leaving out
    the units whose keys are in ``skip``.

    Spark hands a directory listing to a distributed job once the
    directories outnumber ``parallelPartitionDiscovery.threshold`` (32),
    and infers a parquet schema with another job; at 64 buckets that is
    a 64-task job for a few ms of listing. Here the driver lists the
    unit directories through the Hadoop FileSystem of the path, Spark
    lists the files in each on the driver too, and the schema is the
    known one."""
    dirs = _unit_dirs(spark, sink, output, skip)
    if not dirs:
        return spark.createDataFrame([], sink.ddl)
    data_path = os.path.join(output, sink.data_dir)
    threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    with conf_override(spark, threshold, str(len(dirs))):
        return spark.read.schema(sink.ddl).option("basePath", data_path).parquet(*sorted(dirs))


def commit(
    spark: SparkSession, sink: Sink, output: str, pending: DataFrame, prior: dict
) -> dict:
    """Write ``pending`` (rows of the units not in ``prior``, laid out
    by the caller), verify it and commit its manifest rows. Returns the
    committed manifest rows by unit key: ``prior`` plus the new ones."""
    # a unit directory with no manifest row is not committed: a crashed
    # run's partial write or a stray copy. Removing every one of them
    # first (a driver-side listing, no Spark job) means the verification
    # re-read below sees exactly the units this call writes.
    hadoop = spark._jvm.org.apache.hadoop.fs
    for d in _unit_dirs(spark, sink, output, skip=prior):
        path = hadoop.Path(d)
        path.getFileSystem(spark._jsc.hadoopConfiguration()).delete(path, True)
    # dynamic overwrite: a retried pending unit replaces its partial
    # files instead of appending duplicates (idempotent re-run)
    with conf_override(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
        pending.write.partitionBy(*sink.units).mode("overwrite").parquet(
            os.path.join(output, sink.data_dir)
        )
    # the manifest rows come from what was actually written, in splits
    # sized by Spark's default maxPartitionBytes: the session's small
    # scan splits would give every small unit file a task of its own.
    # Cached, so the rows collected are the rows appended, and the append
    # runs in the JVM (a frame made from the collected Python rows would
    # start Python workers for a few rows).
    manifest = sink.manifest_rows(read(spark, sink, output, skip=prior)).cache()
    try:
        with conf_override(spark, "spark.sql.files.maxPartitionBytes", None):
            rows = manifest.collect()
        if rows:
            manifest.coalesce(1).write.mode("append").parquet(
                os.path.join(output, sink.manifest_dir)
            )
    finally:
        manifest.unpersist()
    return {**prior, **{sink.key(r): r for r in rows}}
