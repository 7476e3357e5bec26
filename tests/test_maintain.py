"""Sink audit (jobs/maintain.py): the fsck for the parquet +
`_manifests` snapshot sink."""

import os
import shutil

from tests.conftest import CACHE

from oct_report_ocr_spark.jobs.extract_job import run
from oct_report_ocr_spark.jobs.maintain import audit_sink
from oct_report_ocr_spark.synth.gen_corpus import ensure_corpus


def test_audit_clean_then_faults_then_resume_drops_orphan(spark, tmp_path):
    corpus = ensure_corpus(CACHE, 0.001)
    out = str(tmp_path / "sink")
    run(spark, corpus, out, buckets=8, lang="en")
    data = os.path.join(out, "extracted")

    # clean sink: every bucket ok
    rep = {r.bucket: r.status for r in audit_sink(spark, out).collect()}
    assert rep and set(rep.values()) == {"ok"}

    buckets = sorted(rep)
    b_keep, b_drift, b_gone = buckets[0], buckets[1], buckets[2]

    # orphan: a bucket directory with no manifest row (the
    # crashed-between-data-and-manifest window)
    shutil.copytree(
        os.path.join(data, f"bucket={b_keep}"), os.path.join(data, "bucket=99")
    )
    # drift: extra file duplicates rows inside a committed bucket
    bdir = os.path.join(data, f"bucket={b_drift}")
    src = next(f for f in os.listdir(bdir) if f.endswith(".parquet"))
    shutil.copy(os.path.join(bdir, src), os.path.join(bdir, "part-dup.parquet"))
    # missing: committed bucket's data lost
    shutil.rmtree(os.path.join(data, f"bucket={b_gone}"))

    rep = {r.bucket: r.status for r in audit_sink(spark, out).collect()}
    assert rep[99] == "orphan"
    assert rep[b_drift] == "checksum_mismatch"
    assert rep[b_gone] == "missing"
    assert rep[b_keep] == "ok"

    # a resume run removes exactly the orphan (sink.commit) and leaves
    # every committed bucket, damaged or not, as it was
    run(spark, corpus, out, buckets=8, lang="en")
    assert not os.path.isdir(os.path.join(data, "bucket=99"))
    rep = {r.bucket: r.status for r in audit_sink(spark, out).collect()}
    assert 99 not in rep and rep[b_keep] == "ok"
    assert rep[b_drift] == "checksum_mismatch" and rep[b_gone] == "missing"
