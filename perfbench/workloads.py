"""The benchmark workloads: each drives one of the program's jobs.

A workload is made once per run on a live session. ``prepare`` does the
untimed set-up; ``call`` is one job call; ``check`` returns the output problems of
one call, comparing it with the first checked call; ``final_check``
audits the sink the last call left. ``ledger`` runs, in the traced run
only, the separate plans that split the job's wall time into layers.
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from oct_report_ocr_spark.jobs import curate_job, extract_job
from oct_report_ocr_spark.jobs.maintain import audit_sink
from perfbench import NPROC, checks, kernel
from perfbench.arrowfns import identity_batches
from perfbench.eventlog import EventLog

BUCKETS = 64
#: buckets an interrupted run left uncommitted, before the traced resume call
PENDING_BUCKETS = 8
#: share of the scale factor's documents the curation input takes, so
#: that one curate job lasts about as long as one extract_full job
#: (4 cores, sf0.05: 4,000 rows -> 7.3 s, about 2.6 s + 1.2 ms a row;
#: one extract_full job -> 6.2 s)
CURATE_SHARE = 0.12


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def tree_size(path: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class ExtractFull:
    """A fresh ``extract_job.run`` into the partitioned parquet sink."""

    name = "extract_full"

    @staticmethod
    def corpus_docs(n_docs: int) -> int:
        """How many of the scale factor's documents the workload needs."""
        return n_docs

    def __init__(self, spark, work: str, corpus: str, facts, seed: int):
        self.spark, self.work, self.corpus, self.facts, self.seed = spark, work, corpus, facts, seed
        self.output = os.path.join(work, "sink")
        self.input_bytes = os.path.getsize(corpus)
        self.reference: dict[int, tuple] | None = None

    @property
    def docs(self) -> int:
        return self.facts.n_en

    def prepare(self) -> None:
        pass

    def call(self) -> dict:
        return extract_job.run(self.spark, self.corpus, self.output, buckets=BUCKETS, fresh=True)

    def check(self, stats: dict) -> list[str]:
        problems = checks.extract_stats(stats, self.facts.n_en, self.facts.n_en_dirty, BUCKETS)
        manifest = checks.read_manifest(self.output)
        if self.reference is None:
            self.reference = manifest
        else:
            problems += checks.same_manifest(manifest, self.reference, "repeat run")
        return problems

    def final_check(self) -> list[str]:
        audit = audit_sink(self.spark, self.output).select("bucket", "status").collect()
        return checks.audit_all_ok({r.bucket: r.status for r in audit}, BUCKETS)

    def sink_size(self) -> tuple[int, int]:
        return tree_size(self.output)

    # -- traced run only ---------------------------------------------------
    def ledger(self, tracer, calls) -> dict[str, float]:
        """Scan, identity hand-off and kernel as separate ``noop`` plans,
        the no-Spark kernel control and split, then one resume call
        (``Resume``) and its scan with the completed buckets filtered
        out. The resume call is checked and counted in ``calls``."""
        docs = self.spark.read.parquet(self.corpus)
        bucket = F.pmod(F.xxhash64(F.col("url")), F.lit(BUCKETS)).cast("int")
        scan = docs.filter(F.col("lang") == "en").select(*extract_job.INPUT_COLS).withColumn("bucket", bucket)
        with tracer.span("extract_job.scan"):
            noop(scan)
        identity = scan.select(*extract_job.INPUT_COLS).mapInArrow(
            identity_batches, "url string, warc_ts timestamp, html binary"
        )
        with tracer.span("extract_job.identity"):
            noop(identity)
        with tracer.span("extract_job.extract_df"):
            noop(extract_job.extract_df(docs, buckets=BUCKETS))
        with tracer.span("extract_job.completed_buckets"):
            extract_job.completed_buckets(self.spark, self.output)
        scan_s = tracer.duration("extract_job.scan")
        identity_s = tracer.duration("extract_job.identity")
        m = {
            "extract_job.scan_s": scan_s,
            "extract_job.arrow_handoff_s": identity_s - scan_s,
            "extract_job.kernel_s": tracer.duration("extract_job.extract_df") - identity_s,
            "extract_job.completed_buckets_s": tracer.duration("extract_job.completed_buckets"),
        }
        with tracer.span("kernel"):
            m.update(kernel.measure(self.corpus, NPROC, tracer))

        resume = Resume(self)
        with tracer.span("resume.scan"):
            noop(scan.filter(~F.col("bucket").isin(resume.done)))
        resume.interrupt()
        times: list[float] = []
        with tracer.span("resume.job"):
            calls.run(resume, times)
        m.update(
            {"resume.scan_s": tracer.duration("resume.scan"), "resume.job_s": times[0], "resume.docs": resume.docs}
        )
        return m

    def split(self, m: dict[str, float], log: EventLog) -> dict[str, float]:
        """Split the traced job's wall time: scan, hand-off and kernel
        from the ledger plans, the kernel further into the no-Spark
        control and the overhead on top of it, and sink plus commit from
        the event log, as the job's Spark time outside its kernel stage
        (the stage with the most executor time). What is left is the
        time the call spends outside Spark jobs (planning, listing,
        commits) plus whatever the ``noop`` plans do differently inside
        the job."""
        jobs, stages = log.for_span("job")
        kernel_stage = max(stages, key=lambda s: s.run_ms)
        sink_commit = sum(j.wall_s for j in jobs) - kernel_stage.wall_s
        parts = m["extract_job.scan_s"] + m["extract_job.arrow_handoff_s"] + m["extract_job.kernel_s"]
        return {
            "extract_job.sink_commit_s": sink_commit,
            "extract_job.kernel_overhead_s": m["extract_job.kernel_s"] - m["control.np_s"],
            "extract_job.remainder_s": m["trace.job_s"] - parts - sink_commit,
        }


class Resume:
    """``extract_job.run`` resuming the sink of a checked ``ExtractFull``
    call after an interrupted run: before the call, the sink's manifest
    lists 56 of the 64 buckets and the 8 pending buckets' data is gone,
    the state ``completed_buckets`` sees. The resumed sink must equal the
    fresh one. Here the scan, the bucket filter, the manifest read, the
    dynamic overwrite and the commit dominate, and the kernel sees only
    the pending eighth of the documents."""

    def __init__(self, fresh: ExtractFull):
        self.fresh = fresh
        self.pending = sorted(random.Random(fresh.seed).sample(range(BUCKETS), PENDING_BUCKETS))
        self.done = [b for b in range(BUCKETS) if b not in self.pending]
        self.docs = sum(fresh.reference[b][0] for b in self.pending)

    def interrupt(self) -> None:
        """Take the pending buckets' data and manifest rows out of the sink."""
        for b in self.pending:
            shutil.rmtree(os.path.join(self.fresh.output, "extracted", f"bucket={b}"))
        manifests = os.path.join(self.fresh.output, "_manifests")
        table = pq.read_table(manifests)
        keep = [b not in self.pending for b in table["bucket"].to_pylist()]
        shutil.rmtree(manifests)
        os.makedirs(manifests)
        pq.write_table(table.filter(keep), os.path.join(manifests, "part-00000-restored.parquet"))

    def call(self) -> dict:
        f = self.fresh
        return extract_job.run(f.spark, f.corpus, f.output, buckets=BUCKETS)

    def check(self, stats: dict) -> list[str]:
        f = self.fresh
        problems = checks.extract_stats(stats, f.facts.n_en, f.facts.n_en_dirty, BUCKETS)
        problems += checks.resume_stats(stats, len(self.done))
        return problems + checks.same_manifest(checks.read_manifest(f.output), f.reference, "resumed vs fresh")


class Curate:
    """``curate_job.run(fresh=True)`` over a table derived from the corpus."""

    name = "curate"

    @staticmethod
    def corpus_docs(n_docs: int) -> int:
        # documents are seeded one by one, so these are the first
        # documents of the full corpus
        return max(1, round(n_docs * CURATE_SHARE))

    def __init__(self, spark, work: str, corpus: str, facts, seed: int):
        self.spark, self.corpus = spark, corpus
        self.input = os.path.join(work, "curate_input")
        self.output = os.path.join(work, "curated")
        self.rows = facts.n_docs
        self.reference: dict | None = None
        self.input_bytes = 0

    @property
    def docs(self) -> int:
        return self.rows

    def prepare(self) -> None:
        """Derive the input, keyed as curate's WET path keys documents."""
        (
            self.spark.read.parquet(self.corpus)
            .select(
                F.xxhash64("url").alias("doc_id"),
                "text",
                "lang",
                F.expr("parse_url(url, 'HOST')").alias("source"),
                F.length("text").cast("bigint").alias("n_chars"),
            )
            .write.mode("overwrite")
            .parquet(self.input)
        )
        self.input_bytes = tree_size(self.input)[1]

    def call(self) -> dict:
        return curate_job.run(self.spark, self.input, self.output, fresh=True)

    def check(self, stats: dict) -> list[str]:
        problems = checks.curate_stats(stats, self.rows, self.reference)
        if self.reference is None:
            self.reference = stats
        return problems

    def final_check(self) -> list[str]:
        return []

    def sink_size(self) -> tuple[int, int]:
        return tree_size(self.output)

    def ledger(self, tracer, calls) -> dict[str, float]:
        from oct_report_ocr_spark.operators.curation import tier_label

        with tracer.span("curate.tier_label"):
            noop(tier_label(self.spark.read.parquet(self.input)))
        with tracer.span("curate.completed_units"):
            curate_job.completed_cells(self.spark, self.output)
            curate_job.completed_shards(self.spark, self.output)
        return {
            "curate.tier_label_s": tracer.duration("curate.tier_label"),
            "curate.completed_units_s": tracer.duration("curate.completed_units"),
        }

    def split(self, m: dict[str, float], log: EventLog) -> dict[str, float]:
        """Both sinks recompute the labeled plan, so the job reads its
        input more than once: input rows read across the job's stages over
        the input's rows. Rows, not bytes: this Spark build's parquet
        reader fetches column data off the task thread, so its tasks'
        "Bytes Read" miss most of the bytes."""
        read = sum(s.input_records for s in log.for_span("job")[1])
        return {
            "curate.scan_amplification": read / self.rows,
            "curate.shuffle_bytes": m["stage.shuffle_write_bytes"],
        }


WORKLOADS = {w.name: w for w in (ExtractFull, Curate)}
