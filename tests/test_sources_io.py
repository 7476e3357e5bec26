"""Source/sink round-trip tests (SURVEY.md §2.1 S3/S6/S7/S13/D8)."""

import os

from pyspark.sql import functions as F

from oct_report_ocr_spark.jobs.extract_job import extract_df
from oct_report_ocr_spark.sources import io as src_io
from oct_report_ocr_spark.synth.gen_corpus import ensure_corpus, make_doc

from .conftest import CACHE


def test_csv_roundtrip(spark, tmp_path):
    corpus = ensure_corpus(CACHE, 0.001)
    extracted = extract_df(spark.read.parquet(corpus), buckets=8)
    flat = extracted.select("url", "template", "n_lines", "n_spans").limit(50)
    p = str(tmp_path / "csv")
    src_io.write_csv(flat, p)
    back = src_io.read_csv(spark, p, schema="url string, template string, n_lines int, n_spans int")
    a = {tuple(r) for r in flat.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_audit_rows_shape(spark):
    corpus = ensure_corpus(CACHE, 0.001)
    extracted = extract_df(spark.read.parquet(corpus), buckets=8)
    audit = src_io.audit_rows(extracted)
    rows = audit.filter(F.col("template") == "rnfl").limit(100).collect()
    assert rows
    assert {"url", "template", "label", "start", "end", "value"} == set(audit.columns)
    assert all(r.start <= r.end or r.start == -1 for r in rows)


def test_export_binary_subset(spark, tmp_path):
    corpus = ensure_corpus(CACHE, 0.001)
    docs = spark.read.parquet(corpus)
    out = str(tmp_path / "export")
    src_io.export_binary_subset(docs, F.col("url").like("%/gcc/%"), out)
    back = spark.read.parquet(out)
    assert back.columns == ["url", "html"]
    n = docs.filter(F.col("url").like("%/gcc/%")).count()
    assert back.count() == n


def test_list_corpus_files(spark, tmp_path):
    corpus = ensure_corpus(CACHE, 0.001)
    inv = src_io.list_corpus_files(spark, corpus).collect()
    assert inv
    total = sum(r.n_rows for r in inv)
    assert total == spark.read.parquet(corpus).count()
    assert all(r.file.endswith(".parquet") for r in inv)


def test_read_concat_union_by_name(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    spark.createDataFrame([(1, "x")], "id int, v string").write.parquet(a)
    # column-order drift + a missing column: unionByName must line up
    spark.createDataFrame([("y", 2, 9.5)], "v string, id int, extra double").write.parquet(b)
    out = src_io.read_concat(spark, [a, b]).orderBy("id").collect()
    assert [r.id for r in out] == [1, 2]
    assert [r.v for r in out] == ["x", "y"]
    assert out[0].extra is None and out[1].extra == 9.5


def test_lowercase_columns(spark):
    df = spark.createDataFrame([(1, "a")], "Doc_ID int, TEXT string")
    assert src_io.lowercase_columns(df).columns == ["doc_id", "text"]


def test_binary_file_source(spark, tmp_path):
    d = tmp_path / "pages"
    d.mkdir()
    docs = [make_doc(42, i) for i in range(6)]
    for i, doc in enumerate(docs):
        with open(d / f"p{i}.html", "wb") as f:
            f.write(doc["html"])
    df = src_io.read_binary_files(spark, str(d))
    got = {os.path.basename(r.url): bytes(r.html) for r in df.collect()}
    assert len(got) == 6
    for i, doc in enumerate(docs):
        assert got[f"p{i}.html"] == doc["html"]


def test_audit_render_anchor_fidelity_on_goldens(spark):
    """D8 (VERDICT r01 item 8): every audit row's `line` must be the
    exact source line its span points at, the value must satisfy the
    span contract against that line, and the ±1 context lines must be
    the true neighbours in extracted_text — verified against the
    committed golden fixtures, not against the engine itself."""
    import json

    from oct_report_ocr_spark.extract import extract_one

    from .conftest import FIXTURES

    golden_dir = os.path.join(FIXTURES, "golden")
    pages_dir = os.path.join(FIXTURES, "pages")
    with open(os.path.join(golden_dir, "INDEX.json")) as f:
        cases = json.load(f)

    rows_in = []
    for case in cases:
        with open(os.path.join(pages_dir, f"{case}.html"), "rb") as f:
            html = f.read()
        with open(os.path.join(golden_dir, f"{case}.meta.json")) as f:
            meta = json.load(f)
        rows_in.append({"url": meta["url"], "html": html})

    docs = spark.createDataFrame(rows_in, "url string, html binary").withColumn(
        "warc_ts", F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    audit = src_io.audit_render(extract_df(docs, buckets=4, lang=None)).collect()
    assert audit

    # golden truth: url -> extracted line list + spans (from the pure core)
    lines_by_url = {}
    spans_by_key = {}
    for r_in in rows_in:
        res = extract_one(r_in["html"], r_in["url"])
        if res.extracted_text is not None:
            lines_by_url[r_in["url"]] = res.extracted_text.split("\n")
            for s in res.spans or []:
                spans_by_key[(r_in["url"], s.label)] = s

    checked = 0
    for row in audit:
        lines = lines_by_url[row.url]
        if row.line_idx < 0:
            assert row.line is None and row.context_before is None
            continue
        assert row.line == lines[row.line_idx]
        # span contract (core._spans_for_fields): value verbatim in the
        # line, OR a normalizer-produced value whose fallback span covers
        # the WHOLE source line it was derived from. (The previous form
        # `(value in line) or line` was vacuously true — ADVICE r02.)
        if row.value not in row.line:
            s = spans_by_key[(row.url, row.label)]
            assert s.end - s.start == len(row.line), row
        want_before = lines[row.line_idx - 1] if row.line_idx > 0 else None
        want_after = (
            lines[row.line_idx + 1] if row.line_idx + 1 < len(lines) else None
        )
        assert row.context_before == want_before
        assert row.context_after == want_after
        checked += 1
    assert checked > 100


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """The co-located-join contract: joining two tables bucketed on the
    same key/count must plan with ZERO Exchange nodes (and no
    broadcast) — the shuffle was paid once at write time."""
    from oct_report_ocr_spark.plans.report import plan_checks

    corpus = ensure_corpus(CACHE, 0.001)
    docs = spark.read.parquet(corpus).select(
        F.xxhash64("url").alias("doc_id"), "lang"
    )
    stats = docs.select("doc_id", F.length("lang").alias("n"))
    # disable broadcast so the test proves co-location, not broadcast
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        src_io.write_bucketed_table(docs, "t_docs_b", "doc_id", 8)
        src_io.write_bucketed_table(stats, "t_stats_b", "doc_id", 8)
        joined = spark.table("t_docs_b").join(spark.table("t_stats_b"), "doc_id")
        c = plan_checks(joined)
        assert c["n_exchanges"] == 0, c
        assert c["n_broadcast_joins"] == 0, c
        assert joined.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_docs_b")
        spark.sql("DROP TABLE IF EXISTS t_stats_b")


def test_wet_roundtrip_and_parse(spark, tmp_path):
    """read_wet must parse a hand-written WET stream (warcinfo preamble
    dropped, multi-line bodies intact) and invert write_wet exactly."""
    wet = (
        "WARC/1.0\n"
        "WARC-Type: warcinfo\n"
        "\n"
        "software: test\n"
        "\nWARC/1.0\n"
        "WARC-Type: conversion\n"
        "WARC-Target-URI: https://example.com/a\n"
        "WARC-Date: 2024-03-01T12:00:00Z\n"
        "\n"
        "first doc line one\nline two\n"
        "\nWARC/1.0\n"
        "WARC-Type: conversion\n"
        "WARC-Target-URI: https://example.com/b\n"
        "WARC-Date: 2024-03-02T00:30:00Z\n"
        "\n"
        "second doc body\n"
    )
    src = tmp_path / "in.wet"
    src.write_text(wet)
    df = src_io.read_wet(spark, str(src))
    rows = {r.url: r for r in df.collect()}
    assert set(rows) == {"https://example.com/a", "https://example.com/b"}
    assert rows["https://example.com/a"].text.startswith("first doc line one\nline two")
    assert str(rows["https://example.com/a"].warc_ts).startswith("2024-03-01 12:00:00")
    # round-trip through the sink
    out = tmp_path / "out_wet"
    src_io.write_wet(df, str(out))
    back = {r.url: r for r in src_io.read_wet(spark, str(out)).collect()}
    assert set(back) == set(rows)
    for u in rows:
        assert back[u].text.rstrip("\n") == rows[u].text.rstrip("\n")
        assert back[u].warc_ts == rows[u].warc_ts


def test_read_jsonl_schema_and_quarantine(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello", "lang": "en"}\n'
        '{"doc_id": 2, "text": "welt", "lang": "de"}\n'
        "not json at all\n"
    )
    df = src_io.read_jsonl(spark, str(p), "doc_id bigint, text string, lang string")
    rows = df.collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {r.doc_id for r in good} == {1, 2}
    assert len(bad) == 1 and bad[0]._corrupt_record == "not json at all"


def test_read_wet_gzip(spark, tmp_path):
    """Spark's text source decompresses .gz transparently, so read_wet
    handles gzipped WET unchanged. (A single-member .gz is not
    splittable — one task per file; Common Crawl ships member-per-record
    gzip precisely so this isn't a ceiling, and the parse itself is
    format-identical.)"""
    import gzip

    wet = (
        "WARC/1.0\n"
        "WARC-Type: conversion\n"
        "WARC-Target-URI: https://example.com/z\n"
        "WARC-Date: 2024-05-05T05:05:05Z\n"
        "\n"
        "gzipped body\n"
    )
    p = tmp_path / "in.wet.gz"
    with gzip.open(p, "wt") as f:
        f.write(wet)
    rows = src_io.read_wet(spark, str(p)).collect()
    assert len(rows) == 1
    assert rows[0].url == "https://example.com/z"
    assert rows[0].text.rstrip("\n") == "gzipped body"


def test_write_wet_utc_under_non_utc_session(spark, tmp_path):
    """WARC-Date carries a literal 'Z', so the rendered wall time must
    be UTC regardless of spark.sql.session.timeZone (ADVICE r03)."""
    df = spark.createDataFrame(
        [("https://example.com/tz", "2024-06-01 07:08:09", "tz body")],
        "url string, ts string, text string",
    ).select("url", F.to_timestamp("ts").alias("warc_ts"), "text")
    # warc_ts above is the instant 2024-06-01T07:08:09 UTC (session tz
    # is pinned UTC at parse time); now render under a shifted session
    prev = spark.conf.get("spark.sql.session.timeZone")
    out = tmp_path / "wet_tz"
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        src_io.write_wet(df, str(out))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    raw = "".join(
        open(os.path.join(str(out), f)).read()
        for f in sorted(os.listdir(str(out)))
        if f.startswith("part-")
    )
    assert "WARC-Date: 2024-06-01T07:08:09Z" in raw, raw
    # and the round-trip read recovers the same instant
    back = src_io.read_wet(spark, str(out)).collect()[0]
    assert str(back.warc_ts) == "2024-06-01 07:08:09"
