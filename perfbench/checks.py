"""Output checks. Each returns a list of problems; empty means it passed.

Expected values come from the generator (``corpus.CorpusFacts``) or
from an earlier run of the same workload in the same process, never
from the run being checked.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

MANIFEST_COLS = ("n_rows", "n_ok", "n_failed", "n_text_bytes", "content_checksum", "n_spans")


def read_manifest(output: str) -> dict[int, tuple]:
    """The extraction sink's ``_manifests`` as bucket -> row (pyarrow,
    no Spark). A bucket committed twice keeps a list of its rows so
    ``same_manifest`` reports it."""
    t = pq.read_table(os.path.join(output, "_manifests"))
    rows: dict[int, tuple] = {}
    cols = [t[c].to_pylist() for c in ("bucket", *MANIFEST_COLS)]
    for bucket, *vals in zip(*cols):
        row = tuple(vals)
        rows[bucket] = row if bucket not in rows else ("committed twice", rows[bucket], row)
    return rows


def same_manifest(got: dict[int, tuple], want: dict[int, tuple], what: str) -> list[str]:
    problems = []
    for b in sorted(set(got) | set(want)):
        if got.get(b) != want.get(b):
            problems.append(f"{what}: bucket {b} manifest {got.get(b)} != {want.get(b)}")
    return problems


def extract_stats(stats: dict, n_en: int, n_en_dirty: int, buckets: int) -> list[str]:
    problems = []
    if stats["rows"] != n_en:
        problems.append(f"rows {stats['rows']} != generator en docs {n_en}")
    if stats["failed"] != n_en_dirty:
        problems.append(f"failed {stats['failed']} != generator dirty en docs {n_en_dirty}")
    if stats["ok"] + stats["failed"] != stats["rows"]:
        problems.append(f"ok {stats['ok']} + failed {stats['failed']} != rows {stats['rows']}")
    if stats["buckets_done"] != buckets:
        problems.append(f"buckets_done {stats['buckets_done']} != {buckets}")
    return problems


def audit_all_ok(statuses: dict[int, str], buckets: int) -> list[str]:
    """``jobs.maintain.audit_sink``'s verdict: every bucket present and ``ok``."""
    bad = {b: s for b, s in statuses.items() if s != "ok"}
    problems = [f"audit: bucket {b} is {s}" for b, s in sorted(bad.items())]
    if len(statuses) != buckets:
        problems.append(f"audit saw {len(statuses)} buckets, expected {buckets}")
    return problems


def resume_stats(stats: dict, skipped: int) -> list[str]:
    if stats["resumed_buckets_skipped"] != skipped:
        return [f"resumed_buckets_skipped {stats['resumed_buckets_skipped']} != {skipped}"]
    return []


def curate_stats(stats: dict, rows_in: int, reference: dict | None) -> list[str]:
    problems = []
    if stats["rows_in"] != rows_in:
        problems.append(f"rows_in {stats['rows_in']} != input rows {rows_in}")
    tiers, shards = sum(stats["tiers"].values()), sum(stats["shards"].values())
    if not tiers == shards == stats["rows_out"]:
        problems.append(f"tier sum {tiers}, shard sum {shards}, rows_out {stats['rows_out']} differ")
    if reference is not None:
        for k in ("rows_out", "tiers", "shards"):
            if stats[k] != reference[k]:
                problems.append(f"{k} {stats[k]} differs from the first run's {reference[k]}")
    return problems
