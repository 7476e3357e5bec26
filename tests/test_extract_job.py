"""End-to-end Spark extraction-job tests (SURVEY.md §5.2 items 1-5).

Exercises the real pipeline — scan → mapInArrow → bucket repartition of
the extracted rows → partitioned write + manifest — on the
deterministic sf0.001 corpus.
"""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from oct_report_ocr_spark.extract import extract_one
from oct_report_ocr_spark.jobs import extract_job
from oct_report_ocr_spark.synth.gen_corpus import ensure_corpus

from .conftest import CACHE


@pytest.fixture(scope="module")
def corpus():
    return ensure_corpus(CACHE, 0.001)


@pytest.fixture(scope="module")
def job_out(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job") / "out")
    stats = extract_job.run(spark, corpus, out, buckets=16, fresh=True)
    return out, stats


def test_job_counts(job_out):
    _, stats = job_out
    assert stats["rows"] > 300  # ~500 docs minus non-en
    assert stats["ok"] > 0 and stats["failed"] > 0  # dirty rows quarantined
    assert stats["buckets_done"] == 16


def test_byte_identity_per_url_vs_core(spark, corpus, job_out):
    """The Spark path must produce byte-identical extracted_text per url
    to the pure core run on the driver (the north-rule invariant)."""
    out, _ = job_out
    spark_rows = {
        r.url: (r.extracted_text, r.error)
        for r in spark.read.parquet(os.path.join(out, "extracted")).collect()
    }
    docs = spark.read.parquet(corpus).filter(F.col("lang") == "en").collect()
    assert len(docs) == len(spark_rows)
    for d in docs:
        want = extract_one(d.html, d.url)
        got_text, got_err = spark_rows[d.url]
        assert got_text == want.extracted_text, d.url
        assert got_err == want.error, d.url


def test_no_duplicate_urls(spark, job_out):
    out, _ = job_out
    df = spark.read.parquet(os.path.join(out, "extracted"))
    assert df.count() == df.select("url").distinct().count()


def test_quarantine_view(spark, job_out):
    out, _ = job_out
    q = extract_job.quarantine(spark, out)
    kinds = {r.error for r in q.select("error").distinct().collect()}
    assert kinds  # dirty rows present
    assert kinds <= {"empty", "decode-error", "no-content", "oversize"}
    assert q.filter(F.col("extracted_text").isNotNull()).count() == 0


def test_resume_after_simulated_crash(spark, corpus, tmp_path):
    """Kill-after-K-buckets semantics: wipe 5 buckets' data and manifest
    rows, rerun, and require the exact same final row set — no dupes, no
    gaps (D10)."""
    out = str(tmp_path / "out")
    extract_job.run(spark, corpus, out, buckets=8, fresh=True)
    full = {
        (r.url, r.extracted_text, r.error)
        for r in spark.read.parquet(os.path.join(out, "extracted")).collect()
    }

    # simulate a crash that lost buckets 0,1,2 (data + manifest) and
    # bucket 3 (data written but manifest commit lost → must be redone)
    lost = [0, 1, 2]
    for b in lost:
        for d in glob.glob(os.path.join(out, "extracted", f"bucket={b}")):
            shutil.rmtree(d)
    m = spark.read.parquet(os.path.join(out, "_manifests"))
    kept = m.filter(~F.col("bucket").isin(lost + [3])).collect()
    shutil.rmtree(os.path.join(out, "_manifests"))
    if kept:
        spark.createDataFrame(kept, m.schema).write.parquet(os.path.join(out, "_manifests"))

    stats = extract_job.run(spark, corpus, out, buckets=8)
    assert stats["resumed_buckets_skipped"] == 4  # 8 - (3 lost + 1 uncommitted)
    after = {
        (r.url, r.extracted_text, r.error)
        for r in spark.read.parquet(os.path.join(out, "extracted")).collect()
    }
    assert after == full


def test_partitioning_permutation_invariance(spark, corpus, tmp_path):
    """Same input under different bucket counts ⇒ identical output set
    (guards against order/batch-dependent extraction state)."""
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    extract_job.run(spark, corpus, a, buckets=4, fresh=True)
    extract_job.run(spark, corpus, b, buckets=32, fresh=True)
    sa = {
        (r.url, r.extracted_text, r.error)
        for r in spark.read.parquet(os.path.join(a, "extracted")).collect()
    }
    sb = {
        (r.url, r.extracted_text, r.error)
        for r in spark.read.parquet(os.path.join(b, "extracted")).collect()
    }
    assert sa == sb


def test_sink_commit_runs_in_one_wave(spark, corpus, tmp_path):
    """With more buckets than cores, no stage of the job runs more than
    defaultParallelism tasks: the write hashes the buckets into one wave
    of tasks, and the verification read neither lists the bucket
    directories in a job of their own nor gives each small file its own
    task. Each bucket still gets exactly one file, and the committed
    manifest equals one computed independently over the written files."""
    sc = spark.sparkContext
    parallelism = sc.defaultParallelism
    buckets = 64
    assert buckets > parallelism
    # the kernel stage's width is the input's scan splits; this corpus
    # fits in one wave, so every stage of the job is under the bound
    assert spark.read.parquet(corpus).rdd.getNumPartitions() <= parallelism
    out = str(tmp_path / "out")
    sc.setJobGroup("one-wave-sink", "extract_job.run, buckets > parallelism")
    try:
        stats = extract_job.run(spark, corpus, out, buckets=buckets, fresh=True)
    finally:
        sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    widths = {
        sid: tracker.getStageInfo(sid).numTasks
        for jid in tracker.getJobIdsForGroup("one-wave-sink")
        for sid in tracker.getJobInfo(jid).stageIds
    }
    assert widths and max(widths.values()) <= parallelism, widths

    bucket_dirs = glob.glob(os.path.join(out, "extracted", "bucket=*"))
    assert len(bucket_dirs) == stats["buckets_done"]
    for bdir in bucket_dirs:
        assert len(glob.glob(os.path.join(bdir, "*.parquet"))) == 1, bdir

    def by_bucket(df):
        return {r.bucket: r.asDict() for r in df.collect()}

    committed = by_bucket(spark.read.parquet(os.path.join(out, "_manifests")))
    recomputed = by_bucket(
        extract_job._manifest_rows(spark.read.parquet(os.path.join(out, "extracted")))
    )
    assert len(committed) == stats["buckets_done"]
    assert committed == recomputed


def test_rerun_of_a_committed_sink_commits_nothing(spark, corpus, tmp_path):
    """A rerun after every bucket committed extracts nothing, re-reads
    no bucket and appends no manifest row."""
    out = str(tmp_path / "out")
    first = extract_job.run(spark, corpus, out, buckets=4, fresh=True)
    again = extract_job.run(spark, corpus, out, buckets=4)
    assert again["resumed_buckets_skipped"] == 4
    assert {k: again[k] for k in ("rows", "ok", "failed", "buckets_done")} == {
        k: first[k] for k in ("rows", "ok", "failed", "buckets_done")
    }
    assert spark.read.parquet(os.path.join(out, "_manifests")).count() == 4
    assert extract_job.read_sink(spark, out, skip=[0, 1, 2, 3]).count() == 0


def test_duplicate_manifest_row_counts_once(spark, corpus, tmp_path):
    """A bucket whose manifest row appears twice (two runs committing
    one output) still counts once: the stats equal a recount of the
    sink."""
    out = str(tmp_path / "out")
    extract_job.run(spark, corpus, out, buckets=4, fresh=True)
    manifests = os.path.join(out, "_manifests")
    m = spark.read.parquet(manifests)
    m.filter(F.col("bucket") == 0).write.mode("append").parquet(manifests)
    assert spark.read.parquet(manifests).count() == 5

    stats = extract_job.run(spark, corpus, out, buckets=4)
    rows = spark.read.parquet(os.path.join(out, "extracted"))
    failed = rows.filter(F.col("error").isNotNull()).count()
    assert stats["buckets_done"] == 4
    assert stats["rows"] == rows.count()
    assert stats["failed"] == failed
    assert stats["ok"] == rows.count() - failed


def test_resume_ignores_orphan_unit_dir(spark, corpus, tmp_path):
    """A unit directory with no manifest row (here a stray copy of
    bucket 0 as bucket 99) is not committed by a resume call: only the
    units the call writes are verified, counted and added to the
    manifest."""
    out = str(tmp_path / "out")
    fresh = extract_job.run(spark, corpus, out, buckets=8, fresh=True)
    data = os.path.join(out, "extracted")
    shutil.copytree(os.path.join(data, "bucket=0"), os.path.join(data, "bucket=99"))
    manifests = os.path.join(out, "_manifests")
    m = spark.read.parquet(manifests)
    kept = m.filter(F.col("bucket") != 1).collect()
    shutil.rmtree(manifests)
    spark.createDataFrame(kept, m.schema).write.parquet(manifests)

    stats = extract_job.run(spark, corpus, out, buckets=8)
    assert stats["resumed_buckets_skipped"] == 7
    assert stats["buckets_done"] == 8
    assert stats["rows"] == fresh["rows"]
    assert spark.read.parquet(manifests).filter(F.col("bucket") == 99).count() == 0
    assert spark.read.parquet(data).count() == fresh["rows"]


def test_lang_filter_pushed_to_scan(spark, corpus):
    """The routing predicate must reach the parquet reader (S2 analog:
    BigQuery executed the LIKE server-side; Catalyst must push ours)."""
    docs = spark.read.parquet(corpus)
    plan = extract_job.extract_df(docs, buckets=4)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "EqualTo(lang,en)" in plan.replace(" ", "")
