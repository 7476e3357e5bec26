import decimal

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks

# the extraction sink's manifest schema, as extract_job._manifest_rows writes it
SCHEMA = pa.schema(
    [
        ("bucket", pa.int32()),
        ("n_rows", pa.int64()),
        ("n_failed", pa.int64()),
        ("n_ok", pa.int64()),
        ("n_text_bytes", pa.int64()),
        ("content_checksum", pa.decimal128(38, 0)),
        ("n_spans", pa.int64()),
    ]
)


def write_manifest(output, rows, part="part-00000.parquet"):
    d = output / "_manifests"
    d.mkdir(parents=True, exist_ok=True)
    cols = list(zip(*rows))
    pq.write_table(pa.table([pa.array(c, t.type) for c, t in zip(cols, SCHEMA)], schema=SCHEMA), d / part)
    (d / "_SUCCESS").write_text("")


def rows(n=4):
    return [(b, 100 + b, 2, 98 + b, 5000 + b, decimal.Decimal(10**20 + b), 30 * b) for b in range(n)]


def test_identical_manifests_pass(tmp_path):
    write_manifest(tmp_path / "a", rows())
    write_manifest(tmp_path / "b", rows())
    assert checks.same_manifest(checks.read_manifest(str(tmp_path / "a")), checks.read_manifest(str(tmp_path / "b")), "x") == []


def test_one_altered_bucket_row_fails(tmp_path):
    altered = rows()
    b, n_rows, n_failed, n_ok, n_bytes, checksum, n_spans = altered[2]
    altered[2] = (b, n_rows, n_failed, n_ok, n_bytes, checksum + 1, n_spans)
    write_manifest(tmp_path / "a", rows())
    write_manifest(tmp_path / "b", altered)
    problems = checks.same_manifest(
        checks.read_manifest(str(tmp_path / "b")), checks.read_manifest(str(tmp_path / "a")), "repeat run"
    )
    assert len(problems) == 1 and "bucket 2" in problems[0]


def test_missing_and_twice_committed_buckets_fail(tmp_path):
    write_manifest(tmp_path / "ref", rows())
    write_manifest(tmp_path / "short", rows()[:3])
    write_manifest(tmp_path / "twice", rows())
    write_manifest(tmp_path / "twice", rows()[1:2], part="part-00001.parquet")
    ref = checks.read_manifest(str(tmp_path / "ref"))
    short = checks.same_manifest(checks.read_manifest(str(tmp_path / "short")), ref, "x")
    twice = checks.same_manifest(checks.read_manifest(str(tmp_path / "twice")), ref, "x")
    assert len(short) == 1 and "bucket 3" in short[0]
    assert len(twice) == 1 and "bucket 1" in twice[0]


def test_extract_stats_against_generator_counts():
    good = {"rows": 39424, "ok": 38829, "failed": 595, "buckets_done": 64}
    assert checks.extract_stats(good, 39424, 595, 64) == []
    assert len(checks.extract_stats({**good, "ok": 38828}, 39424, 595, 64)) == 1
    assert len(checks.extract_stats({**good, "failed": 594, "ok": 38830}, 39424, 595, 64)) == 1


def test_audit_requires_every_bucket_ok():
    assert checks.audit_all_ok({b: "ok" for b in range(64)}, 64) == []
    assert len(checks.audit_all_ok({**{b: "ok" for b in range(64)}, 7: "checksum_mismatch"}, 64)) == 1
    assert len(checks.audit_all_ok({b: "ok" for b in range(63)}, 64)) == 1


def test_curate_stats_sums_and_repeat():
    first = {"rows_in": 10, "rows_out": 9, "tiers": {"high/en": 5, "low/de": 4}, "shards": {0: 4, 1: 5}}
    assert checks.curate_stats(first, 10, None) == []
    assert checks.curate_stats(first, 10, first) == []
    assert len(checks.curate_stats({**first, "shards": {0: 4, 1: 4}}, 10, None)) == 1
    assert len(checks.curate_stats({**first, "tiers": {"high/en": 4, "low/de": 5}}, 10, first)) == 1
    assert len(checks.curate_stats(first, 11, None)) == 1
