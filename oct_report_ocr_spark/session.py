"""SparkSession factory — one tuned config profile for the whole engine.

Local-mode testing stands in for the multi-executor cluster: the same
partitioning/shuffle discipline applies, only ``master`` changes. On a
real cluster, pass ``master=None`` and let spark-submit supply it.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: shuffle-block zstd level (see ``get_spark``)
ZSTD_LEVEL = 1


@contextlib.contextmanager
def conf_override(spark: SparkSession, key: str, value: str | None):
    """Set a session conf for the duration of a block, restoring the
    prior value (or unsetting) on exit — the sink commit's dynamic
    partition-overwrite mode (``jobs/sink.py``) must not leak into a
    shared session, where it would silently switch a later partitioned
    ``mode("overwrite")`` write from truncate-all to dynamic semantics
    (ADVICE r04). ``value=None`` unsets the key for the block, so
    Spark's own default applies there."""
    prior = spark.conf.get(key, None)
    if value is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def read_parquet_if_exists(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame | None:
    """``spark.read.parquet`` (with ``schema`` when given, so no
    schema-inference job runs) that returns None ONLY when the path does
    not exist (first run: no manifest yet). Any other failure —
    transient FS error, corrupt footer, permission — propagates: a
    resume job must fail loudly rather than treat a damaged manifest as
    "nothing completed" and double-commit every prior unit (ADVICE
    r04)."""
    from pyspark.errors import AnalysisException

    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException as e:
        klass = ""
        for attr in ("getCondition", "getErrorClass"):  # 4.x name, then legacy
            get_klass = getattr(e, attr, None)
            if callable(get_klass):
                klass = get_klass() or ""
                break
        if "PATH_NOT_FOUND" in klass or "Path does not exist" in str(e):
            return None
        raise


def get_spark(
    app_name: str = "oct_report_ocr_spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # match parallelism, not the 200 default — at cluster scale this is
        # sized to target ~128-256 MB shuffle partitions instead
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batches are bounded BOTH ways (SURVEY.md §7.3 risk 3):
        # 1024 rows amortizes per-batch Python/Arrow overhead (+21%
        # throughput vs 128 on the extraction hot path after the kernel
        # speedups), while 16 MB caps batch BYTES so a run of multi-MB
        # pages degrades to small/singleton batches instead of OOMing a
        # worker — row-count-only batching cannot give that guarantee
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "16m")
        # shuffle-block codec: zstd beat the lz4 default by a median +11%
        # docs/sec on a shuffle of the full html payload, which compresses
        # ~2x better under zstd (BENCH/BASELINE.md, 32 cores). Not
        # re-measured against lz4 on the shuffles the engine runs: the
        # extraction sink's bucket repartition of the extracted text and
        # the curation and relational exchanges.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.io.compression.zstd.level", str(ZSTD_LEVEL))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # throughput GC measured ~15% faster than G1 on the Arrow-heavy
        # extraction stage (large short-lived buffers, no latency SLO)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        # small splits let a local file with several row groups scan in
        # parallel; a split never divides a row group, so a file written
        # as one row group (the curation input) still scans in one task.
        # On a real cluster with many large files, raise via env
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4194304"),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
