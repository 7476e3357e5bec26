"""End-to-end curation job: ingest → normalized dedup → tier label →
tiered + sharded layouts, metrics consistent across all three."""

import os

import pytest
from pyspark.sql import functions as F

from oct_report_ocr_spark.jobs.curate_job import run

from .conftest import SF_SMOKE

DOCS = os.path.join(SF_SMOKE, "documents.parquet")


@pytest.fixture(scope="module")
def curated(spark, tmp_path_factory):
    """One 4-shard run over the test corpus: (output, stats)."""
    out = str(tmp_path_factory.mktemp("curated") / "out")
    return out, run(spark, DOCS, out, n_shards=4)


def test_curate_job_parquet_end_to_end(spark, tmp_path):
    out = str(tmp_path / "curated")
    stats = run(spark, "/root/testdata/sf0.001/documents.parquet", out)
    assert stats["rows_in"] > 0
    assert 0 < stats["rows_out"] <= stats["rows_in"]
    assert stats["removed"] == stats["rows_in"] - stats["rows_out"]
    # the three outputs agree with each other
    assert sum(stats["shards"].values()) == stats["rows_out"]
    assert sum(stats["tiers"].values()) == stats["rows_out"]
    back = spark.read.parquet(out + "/tiered")
    assert back.count() == stats["rows_out"]
    # survivors are unique per normalized fingerprint: no doc_id dups
    assert back.select("doc_id").distinct().count() == stats["rows_out"]
    for cell in stats["tiers"]:
        tier, lang = cell.split("/")
        assert os.path.isdir(os.path.join(out, "tiered", f"tier={tier}", f"lang={lang}"))


def test_curate_job_mix_target_stage(spark, tmp_path):
    """--mix-target draws the temperature-weighted sample between dedup
    and labeling: output shrinks to ~target, stays internally
    consistent, and is a subset of the unmixed run's survivors."""
    out_full = str(tmp_path / "full")
    full = run(spark, "/root/testdata/sf0.001/documents.parquet", out_full)
    out_mix = str(tmp_path / "mixed")
    mixed = run(
        spark,
        "/root/testdata/sf0.001/documents.parquet",
        out_mix,
        mix_target=100,
    )
    assert 0 < mixed["rows_out"] < full["rows_out"]
    assert 0.3 * 100 < mixed["rows_out"] < 1.7 * 100
    assert sum(mixed["tiers"].values()) == mixed["rows_out"]
    assert sum(mixed["shards"].values()) == mixed["rows_out"]
    kept = {
        r.doc_id for r in spark.read.parquet(out_mix + "/tiered").collect()
    }
    survivors = {
        r.doc_id for r in spark.read.parquet(out_full + "/tiered").collect()
    }
    assert kept <= survivors


def test_curate_job_wet_ingest(spark, tmp_path):
    wet = (
        "WARC/1.0\n"
        "WARC-Type: conversion\n"
        "WARC-Target-URI: https://example.com/a\n"
        "WARC-Date: 2024-03-01T12:00:00Z\n"
        "\n" + ("the quick brown fox jumps over the lazy dog " * 20) +
        "\nWARC/1.0\n"
        "WARC-Type: conversion\n"
        "WARC-Target-URI: https://example.com/b\n"
        "WARC-Date: 2024-03-02T00:30:00Z\n"
        "\n" + ("the quick brown fox jumps over the lazy dog " * 20) +
        "\nWARC/1.0\n"
        "WARC-Type: conversion\n"
        "WARC-Target-URI: https://example.com/c\n"
        "WARC-Date: 2024-03-03T00:30:00Z\n"
        "\nshort text\n"
    )
    src = tmp_path / "crawl.wet"
    src.write_text(wet)
    out = str(tmp_path / "curated_wet")
    stats = run(spark, str(src), out, n_shards=2, input_format="wet")
    assert stats["rows_in"] == 3
    # a and b are near-identical bodies -> normalized dedup collapses them
    assert stats["rows_out"] == 2
    assert stats["removed"] == 1
    # 60+ stopword-bearing words -> high tier; "short text" -> low
    assert any(k.startswith("high/") for k in stats["tiers"])
    assert any(k.startswith("low/") for k in stats["tiers"])


def _final_rows(spark, out):
    tiered = {
        (r.doc_id, r.tier, r.lang, r.n_words)
        for r in spark.read.parquet(out + "/tiered").collect()
    }
    shards = {
        (r.doc_id, r.shard)
        for r in spark.read.parquet(out + "/shards").select("doc_id", "shard").collect()
    }
    return tiered, shards


def test_curate_resume_after_simulated_crash(spark, tmp_path):
    """Kill-after-K-cells semantics (D10, VERDICT r03 item 3): wipe 3
    tier/lang cells' data + manifest rows plus 1 cell whose data was
    written but whose manifest commit was lost, and 2 shards' data +
    manifest rows plus 1 manifest-lost shard; rerun and require the
    exact same final row sets — no dupes, no gaps — mirroring
    test_extract_job.py::test_resume_after_simulated_crash."""
    import shutil

    from pyspark.sql import functions as F

    inp = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "curated")
    stats = run(spark, inp, out, fresh=True)
    full_t, full_s = _final_rows(spark, out)

    cells = sorted(stats["tiers"])
    assert len(cells) >= 5
    lost, uncommitted = cells[:3], cells[3]
    for key in lost:
        tier, lang = key.split("/")
        shutil.rmtree(os.path.join(out, "tiered", f"tier={tier}", f"lang={lang}"))
    cpath = os.path.join(out, "_manifests", "cells")
    m = spark.read.parquet(cpath)
    kept = m.filter(
        ~F.concat_ws("/", "tier", "lang").isin(lost + [uncommitted])
    ).collect()
    shutil.rmtree(cpath)
    spark.createDataFrame(kept, m.schema).write.parquet(cpath)

    for s in (0, 1):
        shutil.rmtree(os.path.join(out, "shards", f"shard={s}"))
    spath = os.path.join(out, "_manifests", "shards")
    sm = spark.read.parquet(spath)
    skept = sm.filter(~F.col("shard").isin([0, 1, 2])).collect()
    shutil.rmtree(spath)
    spark.createDataFrame(skept, sm.schema).write.parquet(spath)

    stats2 = run(spark, inp, out)
    assert stats2["resumed_cells_skipped"] == len(cells) - 4
    assert stats2["resumed_shards_skipped"] == 8 - 3
    after_t, after_s = _final_rows(spark, out)
    assert after_t == full_t
    assert after_s == full_s
    # metrics rebuilt from the append-only manifests agree exactly
    assert stats2["tiers"] == stats["tiers"]
    assert stats2["shards"] == stats["shards"]
    assert stats2["rows_out"] == stats["rows_out"]


def test_curate_resume_with_mix_target_is_restart_invariant(spark, tmp_path):
    """The mixing thresholds derive from FULL-corpus source counts, so a
    resumed mixed run keeps exactly the rows the uninterrupted run
    kept."""
    import shutil

    inp = "/root/testdata/sf0.001/documents.parquet"
    ref = str(tmp_path / "ref")
    full = run(spark, inp, ref, mix_target=100, fresh=True)
    out = str(tmp_path / "resumed")
    stats = run(spark, inp, out, mix_target=100, fresh=True)
    # lose one committed cell entirely (data + manifest row)
    victim = sorted(stats["tiers"])[0]
    tier, lang = victim.split("/")
    shutil.rmtree(os.path.join(out, "tiered", f"tier={tier}", f"lang={lang}"))
    from pyspark.sql import functions as F

    cpath = os.path.join(out, "_manifests", "cells")
    m = spark.read.parquet(cpath)
    kept = m.filter(F.concat_ws("/", "tier", "lang") != victim).collect()
    shutil.rmtree(cpath)
    spark.createDataFrame(kept, m.schema).write.parquet(cpath)

    stats2 = run(spark, inp, out, mix_target=100)
    assert stats2["tiers"] == full["tiers"]
    assert _final_rows(spark, out) == _final_rows(spark, ref)


def test_shard_sink_deterministic(spark, tmp_path, curated):
    """The shard layout: membership follows pmod(xxhash64(doc_id), n),
    is the same when the input arrives in another partitioning (the
    retry-stability contract), stays balanced, and the shard manifest
    equals the data."""
    out_a, stats_a = curated
    inp_b = str(tmp_path / "docs_13")
    spark.read.parquet(DOCS).repartition(13).write.parquet(inp_b)
    out_b = str(tmp_path / "b")
    stats_b = run(spark, inp_b, out_b, n_shards=4)
    assert stats_a["shards"] == stats_b["shards"]
    total = stats_a["rows_out"]
    assert sum(stats_a["shards"].values()) == total
    assert set(stats_a["shards"]) <= set(range(4))
    # xxhash64 sharding keeps shards balanced (no shard > 2x the mean)
    assert max(stats_a["shards"].values()) <= 2 * total / 4
    back_a = spark.read.parquet(os.path.join(out_a, "shards"))
    back_b = spark.read.parquet(os.path.join(out_b, "shards"))
    rows_a = {(r.shard, r.doc_id) for r in back_a.select("shard", "doc_id").collect()}
    rows_b = {(r.shard, r.doc_id) for r in back_b.select("shard", "doc_id").collect()}
    assert rows_a == rows_b
    # membership matches the documented rule: pmod(xxhash64(key), n)
    mismatch = (
        back_a.withColumn("want", F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int"))
        .filter(F.col("shard") != F.col("want"))
        .count()
    )
    assert mismatch == 0
    # the manifest on disk equals the data and the returned stats
    man = spark.read.parquet(os.path.join(out_a, "_manifests", "shards")).collect()
    data = back_a.groupBy("shard").count().collect()
    assert sorted((r.shard, r.n_rows) for r in man) == sorted(tuple(r) for r in data)
    assert {r.shard: r.n_rows for r in man} == stats_a["shards"]


def test_tiered_sink_layout(spark, curated):
    """The tiered layout: hive (tier, lang) dirs, one per manifest cell;
    a tier/lang read prunes to its cell; the cell manifest equals the
    data."""
    out, stats = curated
    tiered = os.path.join(out, "tiered")
    man = spark.read.parquet(os.path.join(out, "_manifests", "cells")).collect()
    assert sum(r.n_docs for r in man) == spark.read.parquet(tiered).count()
    assert {r.tier for r in man} <= {"high", "mid", "low"}
    # hive partition dirs exist per manifest cell
    for r in man:
        assert os.path.isdir(os.path.join(tiered, f"tier={r.tier}", f"lang={r.lang}"))
    # a tier/lang read prunes to that cell and matches the manifest
    hi = man[0]
    back = spark.read.parquet(tiered).filter(
        (F.col("tier") == hi.tier) & (F.col("lang") == hi.lang)
    )
    assert back.count() == hi.n_docs
    # partition pruning visible in the plan: scan carries partition filters
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the manifest on disk equals the data and the returned stats
    data = (
        spark.read.parquet(tiered)
        .groupBy("tier", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_words").alias("total_words"))
        .collect()
    )
    assert sorted(map(tuple, man)) == sorted(map(tuple, data))
    assert {f"{r.tier}/{r.lang}": r.n_docs for r in man} == stats["tiers"]


def test_null_text_never_survives_nor_removes_a_survivor(spark, tmp_path):
    """Dedup keys only non-null text: a null-text row (here the lowest
    doc_id) never survives and never takes a survivor's place, yet
    rows_in still counts it. "!!!" normalizes to the empty string, so
    it shares md5("") with the empty-text row and, as the lower doc_id,
    survives it; the case/punct twins collapse to the lower doc_id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        (1, None, 10),
        (2, "!!!", 3),
        (3, "", 0),
        (4, "Hello, World: the END", 21),
        (5, "hello   world the end!!", 23),
        (6, "a different page of words", 25),
    ]
    src = str(tmp_path / "docs.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array(["web"] * len(rows), pa.string()),
                "n_chars": pa.array([r[2] for r in rows], pa.int64()),
            }
        ),
        src,
    )
    out = str(tmp_path / "curated")
    stats = run(spark, src, out, n_shards=2)
    assert (stats["rows_in"], stats["rows_out"], stats["removed"]) == (6, 3, 3)
    kept = {r.doc_id for r in spark.read.parquet(out + "/tiered").collect()}
    assert kept == {2, 4, 6}
