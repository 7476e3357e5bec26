"""Corpus-curation operators a 100 TB training-data pipeline needs
beyond the reference's own inventory (round 3 widening): benchmark
decontamination, normalized-text dedup, PII scrubbing, and corpus-wide
n-gram frequency. Same rules as relational.py: every query is pure
native expressions (no Python in the plan), deterministic, and paired
with a DuckDB oracle.

Reference anchors: these generalize the reference's text-normalization
+ rule-pulling layer (utils.py:1140-1212 normalizers, utils.py:509-625
code classification) from clinical strings to corpus hygiene — the same
lower/strip/regex vocabulary applied at table scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extra import _TOKS_SQL, _toks
from .relational import load

# --------------------------------------------------------------------------
# Shared trigram shingling (token 3-grams over the cleaned token list).
# Spark's sequence(start, stop) DESCENDS when stop < start, so short
# docs (< 3 tokens) must produce an explicitly empty index list.
# DuckDB's range(a, b) is end-exclusive and already empty when b <= a.
# --------------------------------------------------------------------------


def _trigrams(toks=None):
    """Trigram array over a token array. Pass a materialized ``toks``
    column whenever the caller uses the trigrams more than once per
    row (or explodes them): the split/regexp token expression is not
    common-subexpression-eliminated inside the transform lambda, so an
    inline ``_toks()`` is re-evaluated for every element_at — O(n)
    regex passes per document instead of one."""
    if toks is None:
        toks = _toks()
    n = F.size(toks)
    idx = F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )


_TRIGRAMS_SQL = (
    f"list_transform(range(1, greatest(len({_TOKS_SQL}) - 1, 1)), "
    f"i -> {_TOKS_SQL}[i] || ' ' || {_TOKS_SQL}[i+1] || ' ' || {_TOKS_SQL}[i+2])"
)


# --------------------------------------------------------------------------
# Corpus-wide n-gram frequency (contamination / repetition analysis).
# Scale posture: shingling is map-only; the count is one hash aggregate
# with map-side partial combine; the top-20 is TakeOrderedAndProject
# (per-partition heaps + driver merge of 20 rows), never a global sort
# of the full n-gram table.
# --------------------------------------------------------------------------


def q_ngram_topk(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    toked = d.select(_toks().alias("toks"))
    tri = toked.select(F.explode(_trigrams(F.col("toks"))).alias("trigram"))
    return (
        tri.groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("trigram"))
        .limit(20)
    )


SQL_NGRAM_TOPK = f"""
SELECT trigram, COUNT(*) AS n
FROM (SELECT unnest({_TRIGRAMS_SQL}) AS trigram FROM documents WHERE n_chars > 0)
GROUP BY trigram
ORDER BY n DESC, trigram
LIMIT 20
"""


# --------------------------------------------------------------------------
# Benchmark decontamination: flag training documents sharing token
# 3-grams with a (small) held-out benchmark set — the standard
# eval-leakage sweep before training. Benchmark stand-in: doc_id % 97
# == 0 (deterministic, ~1%).
# Scale posture: the benchmark n-gram set is tiny relative to the
# corpus (an eval suite, not the crawl) → distinct once, BROADCAST to
# the shingled corpus side, then one shuffle on doc_id for the overlap
# count. No corpus-vs-corpus join ever happens.
# --------------------------------------------------------------------------


def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    # Per-doc dedup happens MAP-SIDE via array_distinct before the
    # explode — semantically identical to DISTINCT (doc_id, trigram)
    # but with zero shuffle, so the train side never shuffles at all
    # before the (broadcast) contamination join. The bench branch
    # re-shingles only its ~1% filtered slice (the doc_id filter
    # pushes to the scan) instead of sharing — and forcing a
    # materialized exchange of — the full-corpus shingle table.
    def shingle(docs):
        # Widening repartition before the explode (same rationale as
        # the minhash signature stages): shingling multiplies row count
        # ~50×, and a coarse upstream layout (one parquet file here; a
        # handful of giant scan splits at 100 TB) would otherwise
        # serialize it.
        toked = docs.select("doc_id", _toks().alias("toks")).repartition(
            spark.sparkContext.defaultParallelism
        )
        return toked.select(
            "doc_id",
            F.explode(F.array_distinct(_trigrams(F.col("toks")))).alias("trigram"),
        )

    bench = (
        shingle(d.filter(F.col("doc_id") % 97 == 0)).select("trigram").distinct()
    )
    train = shingle(d.filter(F.col("doc_id") % 97 != 0))
    return (
        train.join(F.broadcast(bench), "trigram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


SQL_DECONTAMINATE = f"""
WITH shingled AS (
  SELECT DISTINCT doc_id, unnest({_TRIGRAMS_SQL}) AS trigram
  FROM documents WHERE n_chars > 0
),
bench AS (SELECT DISTINCT trigram FROM shingled WHERE doc_id % 97 = 0)
SELECT s.doc_id, COUNT(*) AS n_overlap
FROM shingled s JOIN bench b USING (trigram)
WHERE s.doc_id % 97 <> 0
GROUP BY s.doc_id
"""


# --------------------------------------------------------------------------
# Normalized-text dedup (CCNet/Gopher-style "near-exact"): lowercase,
# strip non-alphanumerics, collapse whitespace, then hash — catches
# dups that differ only in case/punctuation/spacing, which exact
# content-hash dedup (dedup_exact) misses.
# Scale posture: normalization + md5 are map-only codegen; one hash
# aggregate on the 16-byte key. Same single-shuffle shape as
# dedup_exact at any corpus size.
# --------------------------------------------------------------------------

_NORM = lambda c: F.trim(  # noqa: E731 — mirrored literally in SQL below
    F.regexp_replace(F.regexp_replace(F.lower(c), "[^a-z0-9 ]", ""), " +", " ")
)
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)


def fingerprint(df: DataFrame, name: str = "content_key") -> DataFrame:
    """``df``'s rows with non-null ``text``, plus ``name`` =
    md5(_NORM(text)) as a NON-nullable column — for the side of a join
    on the fingerprint where null keys are dropped anyway (an inner
    join, the right side of a left or left-anti join).

    A nullable computed join key makes Catalyst infer
    ``isnotnull(md5(_NORM(text)))`` and push it below the projection,
    so the regex chain runs twice per row. Every function in the chain
    is null-intolerant, so the key is null exactly when ``text`` is:
    after the text filter the coalesce never fires, and only tells the
    optimizer there is nothing left to filter."""
    key = F.coalesce(F.md5(_NORM(F.col("text"))), F.lit(""))
    return df.filter(F.col("text").isNotNull()).withColumn(name, key)


def q_dedup_normalized(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus has no natural case/punct variants (word-soup text is
    unique), so every doc_id % 20 == 3 gets a deterministic mangled twin
    (uppercased, doubled spacing, punctuation noise, id + 10⁶) — the
    same construction in the oracle — and the operator must collapse
    each (original, twin) pair to one cluster."""
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    twins = d.filter(F.col("doc_id") % 20 == 3).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.upper(F.regexp_replace(F.col("text"), " ", "  ")), F.lit(" !!")
        ).alias("text"),
    )
    allrows = d.select("doc_id", "text").unionByName(twins)
    keyed = allrows.select(
        "doc_id", F.md5(_NORM(F.col("text")).cast("binary")).alias("norm_key")
    )
    return (
        keyed.groupBy("norm_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("survivor_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


SQL_DEDUP_NORMALIZED = f"""
WITH allrows AS (
  SELECT doc_id, text FROM documents WHERE n_chars > 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         upper(replace(text, ' ', '  ')) || ' !!' AS text
  FROM documents WHERE n_chars > 0 AND doc_id % 20 = 3
)
SELECT md5({_NORM_SQL}) AS norm_key,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS survivor_id
FROM allrows
GROUP BY 1 HAVING COUNT(*) >= 2
"""


# --------------------------------------------------------------------------
# PII scrubbing: count + redact planted emails/phones. The corpus text
# is synthetic word soup, so PII is planted deterministically from
# doc_id (the same construction in both engines — the doc_metadata
# pattern), then counted and redacted with identical regexes.
# Scale posture: pure map-only regexp codegen — zero shuffles; at
# 10¹² docs this is scan-bound, exactly as a redaction pass should be.
# --------------------------------------------------------------------------

_EMAIL_RE = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"


def _planted_note():
    sid = F.col("doc_id").cast("string")
    return F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(" contact user"), sid, F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(F.lit(" call 555-"), F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )


_PLANTED_NOTE_SQL = """text
  || CASE WHEN doc_id % 4 = 0
          THEN ' contact user' || doc_id::VARCHAR || '@example.com now'
          ELSE '' END
  || CASE WHEN doc_id % 6 = 0
          THEN ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
          ELSE '' END"""


def q_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    note = _planted_note()
    scrubbed = F.regexp_replace(
        F.regexp_replace(note, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return d.select(
        "doc_id",
        F.regexp_count(note, F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(note, F.lit(_PHONE_RE)).alias("n_phones"),
        F.md5(scrubbed.cast("binary")).alias("scrubbed_md5"),
    )


SQL_PII_SCRUB = f"""
WITH n AS (SELECT doc_id, {_PLANTED_NOTE_SQL} AS note FROM documents WHERE n_chars > 0)
SELECT doc_id,
       CAST(len(regexp_extract_all(note, '{_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(note, '{_PHONE_RE}')) AS INT) AS n_phones,
       md5(regexp_replace(regexp_replace(note, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_PHONE_RE}', '[PHONE]', 'g')) AS scrubbed_md5
FROM n
"""


# --------------------------------------------------------------------------
# Gopher-style composite quality filter: word-count bounds, mean-word-
# length band, stopword presence — the standard pre-training document
# quality gate, with a first-match-wins reject reason per document.
# Scale posture: every rule is a native expression over the token array
# (higher-order functions, whole-stage codegen) — map-only, zero
# shuffles; at 10¹² docs this is scan-bound like pii_scrub.
# mean_word_len is a ratio of two exact integers, so the IEEE double is
# bit-identical in Spark and DuckDB.
# --------------------------------------------------------------------------

_STOPWORDS = ["the", "a", "and", "of", "to"]


def q_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    # materialize the token array once per row — the rules below read it
    # four times, and the split/regexp is not CSE'd across expressions
    d = d.select("doc_id", _toks().alias("toks"))
    toks = F.col("toks")
    n_words = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    mean_wl = sum_len.cast("double") / n_words.cast("double")
    has_stop = F.arrays_overlap(toks, F.array(*[F.lit(s) for s in _STOPWORDS]))
    reason = (
        F.when(n_words < 30, F.lit("too_short"))
        .when(n_words > 400, F.lit("too_long"))
        .when((mean_wl < 3.0) | (mean_wl > 10.0), F.lit("word_len"))
        .when(~has_stop, F.lit("no_stopwords"))
        .otherwise(F.lit("keep"))
    )
    return d.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        reason.alias("verdict"),
    )


SQL_QUALITY_FILTER = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE n_chars > 0
),
m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         list_sum(list_transform(toks, x -> length(x)))::DOUBLE
           / len(toks)::DOUBLE AS mean_word_len,
         len(list_intersect(toks, ['the','a','and','of','to'])) > 0 AS has_stop
  FROM t
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       mean_word_len,
       CASE WHEN n_words < 30 THEN 'too_short'
            WHEN n_words > 400 THEN 'too_long'
            WHEN mean_word_len < 3.0 OR mean_word_len > 10.0 THEN 'word_len'
            WHEN NOT has_stop THEN 'no_stopwords'
            ELSE 'keep' END AS verdict
FROM m
"""


# --------------------------------------------------------------------------
# Paragraph-level cross-document dedup (CCNet shape): split documents
# into paragraphs, hash each, and report paragraphs shared by >= 2
# distinct documents. The word-soup corpus has no natural newlines, so
# boilerplate paragraphs are planted deterministically from doc_id (two
# templates), same construction in both engines — every doc_id % 25 in
# {7, 13} carries one; the operator must find exactly the planted
# templates with their true document counts.
# Scale posture: split+explode is map-only; DISTINCT (doc_id, hash) is
# one shuffle; the per-paragraph doc count is a second hash aggregate
# on the 16-byte key. No joins, no global sort — the CCNet paragraph
# pass at any corpus size.
# --------------------------------------------------------------------------

_BOILER_A = "please subscribe to our free newsletter for daily updates"
_BOILER_B = "all rights reserved click here to read the full terms"


def q_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    planted = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 25 == 7, F.lit("\n" + _BOILER_A)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 25 == 13, F.lit("\n" + _BOILER_B)).otherwise(F.lit("")),
    )
    # Per-doc distinct happens MAP-SIDE (array_distinct over the hashed
    # paragraph list) — semantically identical to DISTINCT (doc_id,
    # para_md5) but the plan keeps exactly ONE shuffle (the groupBy on
    # the 16-byte key) instead of two, at any corpus size.
    para_hashes = F.array_distinct(
        F.transform(
            F.filter(F.split(planted, "\n"), lambda p: F.length(p) > 0),
            lambda p: F.md5(p.cast("binary")),
        )
    )
    keyed = d.select("doc_id", F.explode(para_hashes).alias("para_md5"))
    return (
        keyed.groupBy("para_md5")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("survivor_id"))
        .filter(F.col("n_docs") >= 2)
    )


SQL_PARAGRAPH_DEDUP = f"""
WITH planted AS (
  SELECT doc_id,
         text
           || CASE WHEN doc_id % 25 = 7  THEN chr(10) || '{_BOILER_A}' ELSE '' END
           || CASE WHEN doc_id % 25 = 13 THEN chr(10) || '{_BOILER_B}' ELSE '' END
           AS text
  FROM documents WHERE n_chars > 0
),
paras AS (
  SELECT DISTINCT doc_id, md5(para) AS para_md5
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS para FROM planted)
  WHERE length(para) > 0
)
SELECT para_md5, COUNT(*) AS n_docs, MIN(doc_id) AS survivor_id
FROM paras
GROUP BY para_md5 HAVING COUNT(*) >= 2
"""


# --------------------------------------------------------------------------
# Quality-tier extraction (FineWeb/DCLM shape): assign every document to
# a training tier from composite quality signals, then report per-tier
# corpus statistics — the pass that decides which slice of a 100 TB
# crawl a training run actually reads.
# Scale posture: the per-doc metrics are native higher-order-function
# expressions (map-only, codegen); the per-tier rollup is ONE hash
# aggregate over a 3-value key with map-side partial combine — the
# cheapest possible shuffle. mean_word_len is computed AFTER the
# aggregate as a ratio of two exactly-representable BIGINT sums, so the
# IEEE double is bit-identical in Spark and DuckDB (never an engine-
# order-dependent average of doubles).
# --------------------------------------------------------------------------


def _has_stopword(toks):
    return F.arrays_overlap(toks, F.array(*[F.lit(s) for s in _STOPWORDS]))


def tier_label(docs: DataFrame) -> DataFrame:
    """Apply the tier rule to ANY documents frame (batch or
    ``readStream`` — the expressions are stateless map-only, so the
    identical labeling runs unchanged over micro-batches; pytest proves
    batch/stream label equality). The single source of the tier rule
    for ``tier_extract`` and ``quality_tiers``, so they cannot drift."""
    d = docs.filter(F.col("n_chars") > 0)
    d = d.select("doc_id", "lang", _toks().alias("toks"))
    toks = F.col("toks")
    n_words = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    has_stop = _has_stopword(toks)
    tier = (
        F.when((n_words >= 60) & has_stop, F.lit("high"))
        .when(n_words >= 30, F.lit("mid"))
        .otherwise(F.lit("low"))
    )
    return d.select(
        "doc_id",
        "lang",
        tier.alias("tier"),
        n_words.cast("bigint").alias("n_words"),
        sum_len.cast("bigint").alias("sum_len"),
        has_stop.alias("has_stop"),
    )


def _tier_per_doc(spark: SparkSession, sf: str) -> DataFrame:
    return tier_label(load(spark, sf, "documents"))


def q_tier_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc tier EXTRACTION — the labeled corpus itself (FineWeb /
    DCLM-style: every document carries its quality tier downstream for
    tier-partitioned layout and mixing), where ``quality_tiers`` is the
    per-tier rollup of the same rule. Map-only native expressions, zero
    shuffles — scan-bound at any corpus size, the plan a full-corpus
    labeling pass must have."""
    return _tier_per_doc(spark, sf).select(
        "doc_id", "lang", "tier", "n_words", "has_stop"
    )


_TIER_CASE_SQL = """CASE WHEN n_words >= 60 AND has_stop THEN 'high'
            WHEN n_words >= 30 THEN 'mid'
            ELSE 'low' END"""

SQL_TIER_EXTRACT = f"""
WITH t AS (
  SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents WHERE n_chars > 0
),
m AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS BIGINT) AS n_words,
         len(list_intersect(toks, ['the','a','and','of','to'])) > 0 AS has_stop
  FROM t
)
SELECT doc_id, lang, {_TIER_CASE_SQL} AS tier, n_words, has_stop
FROM m
"""


def q_quality_tiers(spark: SparkSession, sf: str) -> DataFrame:
    per_doc = _tier_per_doc(spark, sf)
    return per_doc.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        (
            F.sum("sum_len").cast("double") / F.sum("n_words").cast("double")
        ).alias("mean_word_len"),
    )


SQL_QUALITY_TIERS = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE n_chars > 0
),
m AS (
  SELECT CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len,
         len(list_intersect(toks, ['the','a','and','of','to'])) > 0 AS has_stop
  FROM t
)
SELECT CASE WHEN n_words >= 60 AND has_stop THEN 'high'
            WHEN n_words >= 30 THEN 'mid'
            ELSE 'low' END AS tier,
       COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(sum_len) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE) AS mean_word_len
FROM m
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Multi-dimensional corpus rollup (GROUPING SETS family — an OLAP
# operator class not otherwise exercised by the registry): per
# (lang, source) cell counts plus lang subtotals plus the grand total in
# ONE pass, with GROUPING() flags disambiguating real NULLs from
# rolled-up levels.
# Scale posture: Spark expands ROLLUP into grouping sets inside a single
# hash aggregate with map-side partial combine — one shuffle for all
# three aggregation levels, vs three separate groupBys (three shuffles +
# a union) if written naively. Sums are exact BIGINTs.
# --------------------------------------------------------------------------


def q_lang_rollup(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    # grouping() is only resolvable inside the rollup's own Aggregate,
    # so the flags are emitted by agg() itself, then ordered by select.
    return (
        d.rollup("lang", "source")
        .agg(
            F.grouping("lang").cast("int").alias("g_lang"),
            F.grouping("source").cast("int").alias("g_source"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select("lang", "source", "g_lang", "g_source", "n_docs", "total_chars")
    )


SQL_LANG_ROLLUP = """
SELECT lang, source,
       CAST(GROUPING(lang) AS INT) AS g_lang,
       CAST(GROUPING(source) AS INT) AS g_source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE n_chars > 0
GROUP BY ROLLUP (lang, source)
"""


# --------------------------------------------------------------------------
# Latest-capture dedup (Common-Crawl recrawl shape): a crawl sees the
# same url across snapshots; training wants exactly the newest capture
# per url. Recaptures are planted deterministically from doc_id (every
# doc_id % 7 == 2 gets a second, later capture with changed text), same
# construction in both engines; the operator must pick the newer
# capture's content for exactly those urls. Timestamps are carried as
# BIGINT epoch seconds end-to-end — no engine timestamp representation
# in the hashed output.
# Scale posture: argmax-per-key via max_by/arg_max — ONE hash aggregate
# on the url key with map-side partial combine (each mapper keeps one
# candidate per key), vs the naive window row_number() which must
# shuffle + sort every capture. This is the shape that survives 10^12
# captures.
# --------------------------------------------------------------------------

_EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z


def q_latest_capture(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    base = d.select(
        "doc_id",
        (F.lit(_EPOCH_2024) + F.col("doc_id") * 60).cast("bigint").alias("ts"),
        F.col("text"),
    )
    recap = d.filter(F.col("doc_id") % 7 == 2).select(
        "doc_id",
        (F.lit(_EPOCH_2024) + F.col("doc_id") * 60 + 2592000)
        .cast("bigint")
        .alias("ts"),
        F.concat(F.col("text"), F.lit(" updated v2")).alias("text"),
    )
    captures = base.unionByName(recap).select(
        "doc_id", "ts", F.md5(F.col("text").cast("binary")).alias("text_md5")
    )
    return captures.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_captures"),
        F.max("ts").alias("latest_ts"),
        F.max_by("text_md5", "ts").alias("latest_md5"),
    )


SQL_LATEST_CAPTURE = f"""
WITH captures AS (
  SELECT doc_id,
         CAST({_EPOCH_2024} + doc_id * 60 AS BIGINT) AS ts,
         md5(text) AS text_md5
  FROM documents WHERE n_chars > 0
  UNION ALL
  SELECT doc_id,
         CAST({_EPOCH_2024} + doc_id * 60 + 2592000 AS BIGINT) AS ts,
         md5(text || ' updated v2') AS text_md5
  FROM documents WHERE n_chars > 0 AND doc_id % 7 = 2
)
SELECT doc_id,
       COUNT(*) AS n_captures,
       MAX(ts) AS latest_ts,
       arg_max(text_md5, ts) AS latest_md5
FROM captures
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Quantile-sketch contract (the GK/KLL companion to the HLL contract in
# approx_distinct_check): each engine runs its own approx-percentile
# sketch over document lengths; the comparable output is the EXACT
# interpolated quantile (deterministic — a linear interpolation between
# two exact BIGINTs, bit-identical across engines) plus flags that the
# sketch landed within 5% of it. At 10¹² rows the pipeline runs ONLY
# the sketch (fixed-size state, map-side mergeable); the exact quantile
# is the small-sf truth the contract is checked against.
# --------------------------------------------------------------------------


def q_quantile_sketch_check(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    p50 = F.percentile("n_chars", F.lit(0.5))
    p90 = F.percentile("n_chars", F.lit(0.9))
    a50 = F.percentile_approx("n_chars", F.lit(0.5), F.lit(1000))
    a90 = F.percentile_approx("n_chars", F.lit(0.9), F.lit(1000))
    return d.groupBy("lang").agg(
        p50.alias("exact_p50"),
        p90.alias("exact_p90"),
        (F.abs(a50.cast("double") - p50) / p50 < 0.05).alias("p50_within_5pct"),
        (F.abs(a90.cast("double") - p90) / p90 < 0.05).alias("p90_within_5pct"),
    )


SQL_QUANTILE_SKETCH_CHECK = """
SELECT lang,
       quantile_cont(n_chars, 0.5) AS exact_p50,
       quantile_cont(n_chars, 0.9) AS exact_p90,
       (ABS(CAST(approx_quantile(n_chars, 0.5) AS DOUBLE)
            - quantile_cont(n_chars, 0.5)) / quantile_cont(n_chars, 0.5)
        < 0.05) AS p50_within_5pct,
       (ABS(CAST(approx_quantile(n_chars, 0.9) AS DOUBLE)
            - quantile_cont(n_chars, 0.9)) / quantile_cont(n_chars, 0.9)
        < 0.05) AS p90_within_5pct
FROM documents WHERE n_chars > 0 GROUP BY lang
"""


# --------------------------------------------------------------------------
# Data mixing + sequence packing: the two steps between "cleaned corpus"
# and "training batches".
# --------------------------------------------------------------------------

MIX_ALPHA = 0.7  # sampling temperature: p_i ∝ n_i^α (multilingual-LM rule)


def q_mix_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled source sampling weights — the data-mixing
    rule p_i ∝ n_i^α (α < 1 upsamples small sources, the standard
    multilingual/multi-corpus recipe). One tiny hash aggregate on
    ``source`` (map-side combined), then the normalization is a window
    over the HANDFUL of aggregated rows — never over documents, so at
    10¹² docs this is one shuffle of per-source partials plus a
    single-partition pass over ~dozens of rows."""
    from pyspark.sql import Window

    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars_total"),
    )
    w = F.pow(F.col("n_docs").cast("double"), F.lit(MIX_ALPHA))
    total = F.sum(w).over(Window.partitionBy())
    return counts.select(
        "source",
        "n_docs",
        "n_chars_total",
        F.round(w / total, 6).alias("mix_weight"),
    )


SQL_MIX_WEIGHTS = f"""
WITH counts AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
  FROM documents WHERE n_chars > 0 GROUP BY source
)
SELECT source, n_docs, n_chars_total,
       ROUND(POWER(n_docs, {MIX_ALPHA}) / SUM(POWER(n_docs, {MIX_ALPHA})) OVER (), 6) AS mix_weight
FROM counts
"""


# --------------------------------------------------------------------------
# Temperature-weighted corpus sampling — the MATERIALIZATION of
# mix_weights: actually draw the mixed training sample (expected size
# MIX_SAMPLE_TARGET, per-source mass ∝ n_i^α) with a deterministic
# hash-threshold draw instead of a PRNG, so the sample is identical
# under retries, repartitioning, and engine (the stratified_sample
# discipline applied to source mixing).
# Float discipline: the only float op is the SAME round(·,6)-stabilized
# weight mix_weights publishes (re-rounded to an exact integer w6);
# thresholds are FLOOR of one exact-integer division — bit-identical
# engines, and a 1-ulp pow divergence cannot flip a row's keep verdict
# because every comparison happens on integers.
# Scale posture: ONE tiny hash aggregate on source (map-side combined)
# → ~|sources| threshold rows BROADCAST back onto the corpus → the keep
# filter is map-only codegen. No corpus shuffle at any size.
# --------------------------------------------------------------------------

# Expected mixed-sample size. 100 (not a production-ish 10⁶+) so the
# draw is NON-VACUOUS at oracle scale: the n_chars>0 corpus slice holds
# 500 docs, and a larger target pushes every per-source threshold past
# the hash modulus — keeping everything and testing nothing (the
# BAND_CAP=2 reasoning). Semantics are target-value-independent.
MIX_SAMPLE_TARGET = 100
_MIX_HASH_M = 1_000_000


def _hex8_fold_sql(expr: str) -> str:
    """DuckDB twin of Spark's conv(substring(md5(expr),1,8),16,10):
    positional hex fold, exact in DOUBLE below 2^53 (same construction
    as shard_plan's _HEX8_SQL, parameterized on the hashed string)."""
    return (
        "CAST(list_sum(list_transform(range(1, 9), i -> "
        f"(instr('0123456789abcdef', substr(md5({expr}), i, 1)) - 1)"
        " * (16.0 ** (8 - i)))) AS BIGINT)"
    )


def mix_sample_df(docs: DataFrame, target: int = MIX_SAMPLE_TARGET) -> DataFrame:
    """Library form over ANY frame carrying (doc_id, source, n_chars):
    returns the kept rows with all original columns — the stage
    ``jobs/curate_job.py --mix-target`` runs between dedup and tier
    labeling. Same plan as the registered query (one tiny source
    aggregate → broadcast thresholds → map-only integer keep filter)."""
    from pyspark.sql import Window

    d = docs.filter(F.col("n_chars") > 0)
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = F.pow(F.col("n_docs").cast("double"), F.lit(MIX_ALPHA))
    total = F.sum(w).over(Window.partitionBy())
    w6 = F.round(F.round(w / total, 6) * 1e6, 0).cast("bigint")
    thr = counts.select(
        "source",
        F.least(
            F.floor(F.lit(target) * w6 / F.col("n_docs")).cast("bigint"),
            F.lit(_MIX_HASH_M).cast("bigint"),
        ).alias("threshold"),
    )
    h = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long"),
        F.lit(_MIX_HASH_M),
    )
    return (
        d.join(F.broadcast(thr), "source")
        .filter(h < F.col("threshold"))
        .drop("threshold")
    )


def q_mix_sample(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    return mix_sample_df(d, MIX_SAMPLE_TARGET).select("doc_id", "source")


_MIX_HASH_SQL = _hex8_fold_sql("CAST(doc_id AS VARCHAR)") + f" % {_MIX_HASH_M}"

SQL_MIX_SAMPLE = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs
  FROM documents WHERE n_chars > 0 GROUP BY source
), thr AS (
  SELECT source,
         LEAST(CAST(FLOOR({MIX_SAMPLE_TARGET} * CAST(ROUND(ROUND(
             POWER(n_docs, {MIX_ALPHA})
               / SUM(POWER(n_docs, {MIX_ALPHA})) OVER (), 6) * 1000000, 0)
           AS BIGINT) / n_docs) AS BIGINT),
           CAST({_MIX_HASH_M} AS BIGINT)) AS threshold
  FROM counts
)
SELECT d.doc_id, d.source
FROM documents d JOIN thr ON d.source = thr.source
WHERE d.n_chars > 0 AND {_MIX_HASH_SQL} < thr.threshold
"""


# Tokens per packed training sequence. Production budgets are 2k–8k;
# 256 keeps the oracle non-vacuous at test scale (the largest
# (lang, bucket) group holds ~1.2k tokens at sf0.01, so a 2k budget
# would never open a second sequence — the BAND_CAP=2 reasoning).
PACK_TOKEN_BUDGET = 256


def q_context_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic sequence packing: assign each document to a fixed
    token-budget training sequence via a running token count in
    content-hash order — ``seq_id = (exclusive cumsum) div budget``,
    the 'chunked' packing a corpus-scale pipeline uses because it is
    ONE window cumsum, not a bin-packing solver. PRNG-free and
    retry/partition-stable (same hash-order trick as
    ``stratified_sample``). Packing runs per (lang, bucket) where
    bucket is the first md5 hex digit: the sort behind the cumsum
    stays bounded per bucket instead of one global per-lang sort — at
    10¹² docs widen the bucket prefix, same plan shape. Integer
    arithmetic end-to-end (bit-identical across engines)."""
    from pyspark.sql import Window

    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    h = F.md5(F.col("text"))
    base = d.select(
        "doc_id",
        "lang",
        h.alias("h"),
        F.substring(h, 1, 1).alias("bucket"),
        F.size(F.split(F.trim(F.col("text")), " +")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return base.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).select(
        "doc_id",
        "lang",
        "bucket",
        "n_tokens",
        F.expr(f"cum_before div {PACK_TOKEN_BUDGET}").alias("seq_id"),
    )


SQL_CONTEXT_PACK = f"""
WITH base AS (
  SELECT doc_id, lang, md5(text) AS h, substr(md5(text), 1, 1) AS bucket,
         CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_tokens
  FROM documents WHERE n_chars > 0
), packed AS (
  SELECT doc_id, lang, bucket, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang, bucket ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM base
)
SELECT doc_id, lang, bucket, n_tokens, cum_before // {PACK_TOKEN_BUDGET} AS seq_id
FROM packed
"""


# --------------------------------------------------------------------------
# Training-shard layout planning + inverse-document-frequency ranking:
# the last curation steps before the dataloader.
# --------------------------------------------------------------------------

N_SHARDS = 8


def q_shard_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Shard-layout plan for the training-data sink: the oracle-paired
    twin of the curation job's shard sink (``jobs/curate_job.SHARDS``).
    The sink uses ``pmod(xxhash64(key), n)`` (JVM-only); this query
    proves the SAME layout contract — hash-uniform,
    input-partitioning-independent shard membership — with an
    engine-portable hash: the first 8 hex
    digits of md5(doc_id) as an integer, mod N_SHARDS. Emits the
    dataloader's planning table (per-shard row count, byte mass, and
    the id range a range-scan reader would seek).

    Scale posture: md5 + the hex fold are map-only codegen; the plan is
    ONE hash aggregate on an 8-value key with map-side combine — the
    shuffle carries N_SHARDS partials per task, never rows. At 10¹²
    docs this is the cheapest possible full-corpus pass."""
    d = load(spark, sf, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    hv = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    return (
        d.select(
            F.pmod(hv, F.lit(N_SHARDS)).cast("int").alias("shard"),
            "doc_id",
            "n_chars",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# DuckDB has no hex→int cast; fold the 8 hex digits positionally. Each
# term is an exact small-int product in a DOUBLE (< 2^53), so the BIGINT
# cast is exact and matches Spark's conv(.., 16, 10) bit-for-bit.
_HEX8_SQL = (
    "CAST(list_sum(list_transform(range(1, 9), i -> "
    "(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)"
    " * (16.0 ** (8 - i)))) AS BIGINT)"
)

SQL_SHARD_PLAN = f"""
SELECT CAST({_HEX8_SQL} % {N_SHARDS} AS INT) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM documents GROUP BY 1
"""

TFIDF_MIN_TOKEN_LEN = 4  # drop short function words without a stopword list
TFIDF_TOP_K = 3


def q_tfidf_topterms(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document top-K characteristic terms by tf·idf — the corpus
    keyword/topic profile a curation pipeline uses for domain mixing
    and near-topic cluster labeling. Scored in the RATIONAL idf form
    ``tf · N / df`` (exact integer products → one IEEE division, which
    is correctly rounded in both engines — bit-identical, unlike
    ``ln(N/df)`` where libm rounding may differ in the last ulp); for a
    fixed tf the ranking equals raw-idf ranking, ties broken by term.

    Scale posture: tokenize/explode is map-only; tf is ONE hash
    aggregate on (doc_id, term); df is a second aggregate over the
    already-reduced tf frame (never re-touches documents); the corpus
    doc count joins in as a ONE-row broadcast (Catalyst folds the
    lit-key equi-condition to a 1-row broadcast nested loop — a
    map-only scan, exempted as bounded in test_plans alongside the
    query-vector broadcasts); tf⋈df shuffles on term; the top-K is a
    bounded per-doc window. No stage carries more than the distinct
    (doc, term) table."""
    from pyspark.sql import Window

    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    toks = d.select(
        "doc_id", F.explode(_toks()).alias("term")
    ).filter(F.length("term") >= TFIDF_MIN_TOKEN_LEN)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tab = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = d.agg(F.count(F.lit(1)).alias("n_docs")).withColumn("k", F.lit(1))
    scored = (
        tf.join(df_tab, "term")
        .withColumn("k", F.lit(1))
        .join(F.broadcast(nd), "k")
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "term", "tf", "df", "score")
    )


SQL_TFIDF_TOPTERMS = f"""
WITH toks AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, unnest({_TOKS_SQL}) AS t FROM documents WHERE n_chars > 0
  ) WHERE len(t) >= {TFIDF_MIN_TOKEN_LEN}
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
), dft AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents WHERE n_chars > 0
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dft.df,
         CAST(tf.tf * n.n_docs AS DOUBLE) / dft.df AS score
  FROM tf JOIN dft USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tf, df, score,
         CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, term) AS INT) AS rank
  FROM scored
)
SELECT doc_id, rank, term, tf, df, score FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


# --------------------------------------------------------------------------
# Incremental (cross-snapshot) dedup: the infinite-crawl shape — each
# new crawl batch dedups against the ACCUMULATED fingerprint index of
# everything already kept, not against itself alone.
# --------------------------------------------------------------------------


def q_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """New-batch survivors after dedup against the prior snapshot.
    Prior snapshot = doc_id % 10 < 8 (the 80% already ingested); new
    batch = the rest. A new doc survives iff its normalized-content
    fingerprint (same ``_NORM`` as ``dedup_normalized``) is absent
    from the snapshot index; within the batch, lowest doc_id wins.
    Emits (content_key, survivor_id, n_new).

    Scale posture: the fingerprint index is what a production pipeline
    PERSISTS between crawls — here both sides derive from the one
    documents table, the pmod split evaluated in each scan's filter
    stage (pmod is not a parquet-pushable predicate). LEFT ANTI
    hash join on the 16-byte key, then the within-batch groupBy runs on
    the SAME key, so Catalyst reuses the anti-join's hash partitioning:
    exactly one exchange per side, none after. At 10¹² docs you bucket
    the stored index by content_key and the new batch's shuffle is the
    only data movement per crawl."""
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    # a left-anti join keeps null-key rows, so only the index side may
    # drop them (and so carry the non-nullable key)
    fresh = d.filter(F.col("doc_id") % 10 >= 8).select(
        "doc_id", F.md5(_NORM(F.col("text"))).alias("content_key")
    )
    index = fingerprint(d.filter(F.col("doc_id") % 10 < 8)).select("content_key")
    return (
        fresh.join(index, "content_key", "left_anti")
        .groupBy("content_key")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count(F.lit(1)).alias("n_new"),
        )
    )


SQL_INCREMENTAL_DEDUP = f"""
WITH keyed AS (
  SELECT doc_id, md5({_NORM_SQL}) AS content_key
  FROM documents WHERE n_chars > 0
)
SELECT content_key, MIN(doc_id) AS survivor_id, COUNT(*) AS n_new
FROM keyed
WHERE doc_id % 10 >= 8
  AND content_key NOT IN (SELECT content_key FROM keyed WHERE doc_id % 10 < 8)
GROUP BY content_key
"""


# --------------------------------------------------------------------------
# Count-min-sketch frequency contract — the fourth mergeable-sketch
# contract (HLL: approx_distinct_check, quantiles:
# quantile_sketch_check, MinHash: minhash_estimate_check). A CMS is the
# sketch a 100 TB pipeline actually uses for heavy-hitter token
# tracking: D×W bounded integer cells, mergeable across partitions and
# crawls by plain addition — here expressed as ONE hash aggregate on
# (seed, bucket), so Spark's map-side combine IS the sketch merge.
# --------------------------------------------------------------------------

CMS_D = 4  # hash rows (seeds)
CMS_W = 8  # buckets per row — sized to the corpus vocab (~31 distinct
#   word-soup tokens), so cells genuinely collide at oracle scale and the
#   overcount column is non-vacuous; a production corpus sizes W in the
#   tens of thousands, same plan
CMS_PROBE_MIN = 100  # probe set: tokens at/above token_frequency's bar


def q_cms_frequency_check(spark: SparkSession, sf: str) -> DataFrame:
    """CMS estimate vs exact count for every heavy token (exact count
    ≥ CMS_PROBE_MIN): est = min over the D rows of the probed cell.
    The contract is the CMS guarantee — est_n ≥ exact_n always, with
    the overcount exposed so collision pressure (W=8 against a
    ~31-token vocab forces real collisions at oracle scale) is measurable, not hidden. All-integer
    arithmetic — bit-identical engines.

    Scale posture: the token stream explodes ×D map-side and collapses
    into ONE hash aggregate whose key space is exactly D×W = 32 cells
    — partial state per task is CONSTANT regardless of corpus size, the
    defining property that makes a sketch worth shipping. The exact
    side (one agg on token) exists only as the small-sf truth; at 10¹²
    docs only the sketch runs. The probe join broadcasts the D×W-row
    sketch; min-over-seeds groups |probes| rows."""
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    tok = d.select(F.explode(_toks()).alias("token"))

    def bucket(seed_col, token_col):
        h = F.md5(F.concat(seed_col.cast("string"), F.lit(":"), token_col))
        return F.pmod(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(CMS_W)
        )

    seeded = tok.select(
        "token",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("seed"),
    )
    sketch = (
        seeded.select("seed", bucket(F.col("seed"), F.col("token")).alias("bucket"))
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("cell_n"))
    )
    exact = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .filter(F.col("exact_n") >= CMS_PROBE_MIN)
    )
    probes = exact.select(
        "token",
        "exact_n",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("seed"),
    ).select(
        "token", "exact_n", "seed",
        bucket(F.col("seed"), F.col("token")).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(sketch), ["seed", "bucket"])
        .groupBy("token", "exact_n")
        .agg(F.min("cell_n").alias("est_n"))
    )
    return est.select(
        "token",
        "exact_n",
        "est_n",
        (F.col("est_n") - F.col("exact_n")).alias("overcount"),
        (F.col("est_n") >= F.col("exact_n")).alias("never_underestimates"),
    )


_CMS_BUCKET_SQL = _hex8_fold_sql("CAST(seed AS VARCHAR) || ':' || token") + f" % {CMS_W}"

SQL_CMS_FREQUENCY_CHECK = f"""
WITH tok AS (
  SELECT unnest({_TOKS_SQL}) AS token FROM documents WHERE n_chars > 0
), seeded AS (
  SELECT token, unnest(range(0, {CMS_D})) AS seed FROM tok
), sketch AS (
  SELECT seed, {_CMS_BUCKET_SQL} AS bucket, COUNT(*) AS cell_n
  FROM seeded GROUP BY 1, 2
), exact AS (
  SELECT token, COUNT(*) AS exact_n FROM tok
  GROUP BY token HAVING COUNT(*) >= {CMS_PROBE_MIN}
), probes AS (
  SELECT token, exact_n, unnest(range(0, {CMS_D})) AS seed FROM exact
), pb AS (
  SELECT token, exact_n, seed, {_CMS_BUCKET_SQL} AS bucket FROM probes
)
SELECT pb.token, pb.exact_n, CAST(MIN(s.cell_n) AS BIGINT) AS est_n,
       CAST(MIN(s.cell_n) - pb.exact_n AS BIGINT) AS overcount,
       MIN(s.cell_n) >= pb.exact_n AS never_underestimates
FROM pb JOIN sketch s ON pb.seed = s.seed AND pb.bucket = s.bucket
GROUP BY pb.token, pb.exact_n
"""


# --------------------------------------------------------------------------
# Host-level hygiene (the FineWeb/CCNet domain-stats pass): crawl
# pipelines filter and re-weight by HOST before they ever look at
# individual documents — a per-host stats table is the first artifact a
# 100 TB curation run materializes. Hosts are planted deterministically
# from (source, doc_id) so the rollup has real multi-doc cells at
# oracle scale.
# --------------------------------------------------------------------------

def _host():
    # a Column factory, not a module constant: building Columns needs an
    # active session, and operator modules must import session-free
    return F.concat_ws(
        "", F.col("source"), F.lit("-"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com"),
    )


_HOST_SQL = "source || '-' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'"


def _path():
    return F.concat_ws(
        "", F.lit("/docs/"), F.col("lang"), F.lit("/"), F.col("doc_id").cast("string")
    )


_PATH_SQL = "'/docs/' || lang || '/' || CAST(doc_id AS VARCHAR)"


def q_host_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host corpus stats + crawl-policy flag: doc count, distinct
    langs, exact char mass, mean length (one correctly-rounded IEEE
    division of exact BIGINT sums — bit-identical engines), and the
    short-doc fraction that drives host-level blocking (the
    domain-quality filter FineWeb applies before any per-doc rule).

    Scale posture: host derivation is map-only codegen; the rollup is
    ONE hash aggregate on host with map-side partial combine. The
    single count(DISTINCT lang) keeps two-phase aggregation (no Expand
    — Spark expands only for multiple distinct columns) and its state
    is bounded by lang arity (5). At 10¹² docs this is the same plan:
    one shuffle carrying per-host partials, output rows = |hosts|."""
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    hosted = d.select(
        _host().alias("host"), "lang", "n_chars",
        (F.col("n_chars") < 200).cast("long").alias("is_short"),
    )
    agg = hosted.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("is_short").alias("n_short"),
    )
    mean = agg["total_chars"].cast("double") / agg["n_docs"].cast("double")
    short_frac = agg["n_short"].cast("double") / agg["n_docs"].cast("double")
    return agg.select(
        "host", "n_docs", "n_langs", "total_chars",
        mean.alias("mean_chars"),
        short_frac.alias("short_frac"),
        (short_frac > 0.5).alias("host_blocked"),
    )


SQL_HOST_ROLLUP = f"""
WITH hosted AS (
  SELECT {_HOST_SQL} AS host, lang, n_chars,
         CAST(n_chars < 200 AS BIGINT) AS is_short
  FROM documents WHERE n_chars > 0
), agg AS (
  SELECT host, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(is_short) AS BIGINT) AS n_short
  FROM hosted GROUP BY host
)
SELECT host, n_docs, n_langs, total_chars,
       CAST(total_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_chars,
       CAST(n_short AS DOUBLE) / CAST(n_docs AS DOUBLE) AS short_frac,
       (CAST(n_short AS DOUBLE) / CAST(n_docs AS DOUBLE)) > 0.5 AS host_blocked
FROM agg
"""


# --------------------------------------------------------------------------
# URL canonicalization dedup — the recrawl-hygiene companion to
# latest_capture: the same page reached via tracking-parameter /
# fragment / case-variant URLs collapses to one canonical key
# (lowercased scheme+host, query+fragment stripped, trailing slash
# trimmed). CCNet/Common-Crawl dedup by canonical url BEFORE any
# content hash — it is the cheapest dedup key the pipeline has.
# --------------------------------------------------------------------------


def _canon_url(c):
    """Canonical form of a raw url Column: strip from the first ?/#,
    lowercase ONLY the scheme+host group (paths are case-significant
    per RFC 3986), trim trailing slashes. Twin of ``_canon_url_sql``;
    cross-engine edge agreement pinned in tests/test_round3_tail.py."""
    nofrag = F.regexp_replace(c, r"[?#].*$", "")
    host = F.lower(F.regexp_extract(nofrag, r"^([A-Za-z]+://[^/]+)", 1))
    path = F.regexp_replace(
        F.regexp_extract(nofrag, r"^[A-Za-z]+://[^/]+(/.*)?$", 1), r"/+$", ""
    )
    return F.concat_ws("", host, path)


def _canon_url_sql(expr: str) -> str:
    return (
        f"lower(regexp_extract(regexp_replace({expr}, '[?#].*$', ''),"
        " '^([A-Za-z]+://[^/]+)', 1))"
        " || regexp_replace("
        f"regexp_extract(regexp_replace({expr}, '[?#].*$', ''),"
        " '^[A-Za-z]+://[^/]+(/.*)?$', 1), '/+$', '')"
    )


def q_url_canonical_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Plant a tracking-variant capture for every doc_id % 5 == 1
    (uppercased scheme+host + ?utm_... + #fragment + trailing slash),
    canonicalize, and dedup by the canonical url: n_captures and the
    lexicographically-lowest raw url as survivor. Canonicalization
    lowers ONLY the scheme+host group (paths are case-significant per
    RFC 3986), strips everything from the first ``?``/``#``, and trims
    trailing slashes — all single-pass native regexps with identical
    Java/RE2 semantics.

    Scale posture: the variant branch is a map-only union (no second
    scan at production — recaptures arrive as rows); canonicalize is
    map-only codegen; the dedup is ONE hash aggregate on the canonical
    key, the same single-shuffle shape as dedup_exact."""
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    base = d.select(
        "doc_id",
        F.concat_ws(
            "", F.lit("https://"), _host(), _path()
        ).alias("raw_url"),
    )
    variant = d.filter(F.col("doc_id") % 5 == 1).select(
        "doc_id",
        F.concat_ws(
            "", F.lit("HTTPS://"), F.upper(_host()), _path(),
            F.lit("/?utm_source=feed&utm_medium=rss#top"),
        ).alias("raw_url"),
    )
    raw = base.unionByName(variant)
    canon = _canon_url(F.col("raw_url"))
    return (
        raw.select(canon.alias("canon_url"), "raw_url", "doc_id")
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_captures"),
            F.min("raw_url").alias("survivor_url"),
            F.min("doc_id").alias("doc_id"),
        )
    )


SQL_URL_CANONICAL_DEDUP = f"""
WITH raw AS (
  SELECT doc_id, 'https://' || {_HOST_SQL} || {_PATH_SQL} AS raw_url
  FROM documents WHERE n_chars > 0
  UNION ALL
  SELECT doc_id,
         'HTTPS://' || upper({_HOST_SQL}) || {_PATH_SQL}
           || '/?utm_source=feed&utm_medium=rss#top' AS raw_url
  FROM documents WHERE n_chars > 0 AND doc_id % 5 = 1
), canon AS (
  SELECT doc_id, raw_url, {_canon_url_sql("raw_url")} AS canon_url
  FROM raw
)
SELECT canon_url, COUNT(*) AS n_captures,
       MIN(raw_url) AS survivor_url, MIN(doc_id) AS doc_id
FROM canon GROUP BY canon_url
"""


# --------------------------------------------------------------------------
# Host+path-prefix blocklist (the robots/deny-list shape): a tiny
# constant rule table filters an unbounded crawl. Equality on host is
# the join key (broadcast hash join), the path-prefix match rides as
# the residual predicate — never a nested-loop scan of the corpus.
# --------------------------------------------------------------------------

_BLOCK_RULES = [
    ("src0-0.example.com", "/docs/"),
    ("src1-1.example.com", "/docs/en"),
    ("src2-2.example.com", "/docs/"),
    ("src3-3.example.com", "/docs/zh"),
    ("src4-4.example.com", "/docs/"),
]


def q_host_blocklist_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Docs blocked per deny rule: the rule list (host, path_prefix)
    broadcast-hash-joins the corpus on host equality with
    startswith(path, prefix) as the residual; emits per-rule block
    counts + lowest blocked doc_id. Rules with zero matching rows at a
    given sf drop out identically in both engines.

    Scale posture: the rule table is O(KB) and broadcast; the corpus
    side stays map-local (no shuffle for the join), and the per-rule
    rollup aggregates |rules| groups — partial state per task is
    bounded by the rule count. This is the robots.txt/deny-list plan
    at 10¹² docs: one broadcast, zero corpus exchanges before the
    final tiny aggregate."""
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    pages = d.select("doc_id", _host().alias("host"), _path().alias("path"))
    rules = spark.createDataFrame(_BLOCK_RULES, "rule_host string, path_prefix string")
    hit = pages.join(
        F.broadcast(rules),
        (F.col("host") == F.col("rule_host"))
        & F.col("path").startswith(F.col("path_prefix")),
    )
    return hit.groupBy("rule_host", "path_prefix").agg(
        F.count(F.lit(1)).alias("n_blocked"),
        F.min("doc_id").alias("first_blocked_id"),
    )


def _blocklist_sql() -> str:
    values = ", ".join(f"('{h}', '{p}')" for h, p in _BLOCK_RULES)
    return f"""
WITH pages AS (
  SELECT doc_id, {_HOST_SQL} AS host, {_PATH_SQL} AS path
  FROM documents WHERE n_chars > 0
), rules(rule_host, path_prefix) AS (VALUES {values})
SELECT rule_host, path_prefix, COUNT(*) AS n_blocked,
       MIN(doc_id) AS first_blocked_id
FROM pages JOIN rules
  ON pages.host = rules.rule_host AND starts_with(pages.path, rules.path_prefix)
GROUP BY rule_host, path_prefix
"""


SQL_HOST_BLOCKLIST_FILTER = _blocklist_sql()


# --------------------------------------------------------------------------
# Bloom-filter prefilter contract — the membership sketch that makes
# incremental_dedup affordable at 10¹² docs: before anti-joining a new
# crawl batch against the accumulated fingerprint index, probe a Bloom
# filter of the index (a broadcast bitmap, here in its relational
# encoding as a distinct bit-position table). Only bloom-positive rows
# pay the real join; the Bloom guarantee (no false negatives) means no
# true duplicate is ever missed.
# --------------------------------------------------------------------------

BLOOM_M = 2048  # bits — sized to the oracle index (~400 keys) so the
#   false-positive rate (~9%) is visibly non-zero at test scale; a
#   production filter sizes m per stored key, same plan
BLOOM_K = 3  # hash functions


def _bloom_bits(key_col):
    """Array of the K bit positions for a key — the engine-portable
    md5 hex-fold family, one seed per hash function."""
    return F.array(
        *[
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{i}:"), key_col)), 1, 8
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(BLOOM_M),
            )
            for i in range(BLOOM_K)
        ]
    )


def q_bloom_prefilter_check(spark: SparkSession, sf: str) -> DataFrame:
    """Per new-batch doc: exact membership in the snapshot index
    (is_true_dup) next to the Bloom verdict (bloom_positive) and the
    filter guarantee (no_false_negative — must be true for every row).
    New batch = the doc_id % 10 >= 8 slice plus a planted twin (same
    normalized key, id + 10⁶) for every doc_id % 20 == 3 index doc, so
    true duplicates exist by construction; false positives arise
    naturally from bit collisions (~9% of clean rows at oracle scale).

    Scale posture: the Bloom table is bounded by M bits regardless of
    index size — built with one distinct shuffle whose key domain is
    ≤ M, then BROADCAST to the probe side (at 10¹² docs it ships as a
    bitmap in a closure; relationally it is the same broadcast). The
    probe side is map-only (explode ×K) plus a groupBy on doc_id. The
    exact-membership join exists only as the small-sf truth — at scale
    it runs on the bloom-positive survivors alone, which is the entire
    point of the prefilter."""
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    keyed = d.select("doc_id", F.md5(_NORM(F.col("text"))).alias("k"))
    twins = keyed.filter(F.col("doc_id") % 20 == 3).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "k"
    )
    newb = keyed.filter(F.col("doc_id") % 10 >= 8).unionByName(twins)
    # the index is the left join's right side, where null keys never
    # match (and a null key's Bloom bits are null, which never match)
    index = fingerprint(d.filter(F.col("doc_id") % 10 < 8), "k").select("k")

    bloom = (
        index.select(F.explode(_bloom_bits(F.col("k"))).alias("bit"))
        .distinct()
        .withColumn("present", F.lit(1))
    )
    probes = newb.select(
        "doc_id", "k", F.explode(_bloom_bits(F.col("k"))).alias("bit")
    )
    hits = (
        probes.join(F.broadcast(bloom), "bit", "left")
        .groupBy("doc_id", "k")
        .agg((F.count("present") == BLOOM_K).alias("bloom_positive"))
    )
    idx_marked = index.distinct().withColumn("in_idx", F.lit(1))
    truth = newb.join(idx_marked, "k", "left").select(
        "doc_id", F.col("in_idx").isNotNull().alias("is_true_dup")
    )
    return hits.join(truth, "doc_id").select(
        "doc_id",
        "is_true_dup",
        "bloom_positive",
        (~(F.col("is_true_dup") & ~F.col("bloom_positive"))).alias(
            "no_false_negative"
        ),
    )


_BLOOM_BIT_SQL = _hex8_fold_sql("CAST(j AS VARCHAR) || ':' || k") + f" % {BLOOM_M}"

SQL_BLOOM_PREFILTER_CHECK = f"""
WITH keyed AS (
  SELECT doc_id, md5({_NORM_SQL}) AS k FROM documents WHERE n_chars > 0
), newb AS (
  SELECT doc_id, k FROM keyed WHERE doc_id % 10 >= 8
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, k FROM keyed WHERE doc_id % 20 = 3
), idx AS (
  SELECT DISTINCT k FROM keyed WHERE doc_id % 10 < 8
), bloom AS (
  SELECT DISTINCT {_BLOOM_BIT_SQL} AS bit
  FROM idx, (SELECT unnest(range(0, {BLOOM_K})) AS j)
), probes AS (
  SELECT doc_id, k,
         unnest(list_transform(range(0, {BLOOM_K}),
                               j -> {_BLOOM_BIT_SQL})) AS bit
  FROM newb
), hits AS (
  SELECT p.doc_id, p.k, COUNT(b.bit) = {BLOOM_K} AS bloom_positive
  FROM probes p LEFT JOIN bloom b ON p.bit = b.bit
  GROUP BY p.doc_id, p.k
), truth AS (
  SELECT n.doc_id, i.k IS NOT NULL AS is_true_dup
  FROM newb n LEFT JOIN idx i ON n.k = i.k
)
SELECT h.doc_id, t.is_true_dup, h.bloom_positive,
       NOT (t.is_true_dup AND NOT h.bloom_positive) AS no_false_negative
FROM hits h JOIN truth t ON h.doc_id = t.doc_id
"""


# --------------------------------------------------------------------------
# Cross-snapshot crawl diff — the recrawl-delta report every Common-
# Crawl-style pipeline publishes per snapshot: which urls appeared,
# vanished, or changed content between two crawls. Snapshots are
# synthesized deterministically from doc_id (A drops the %10==9 slice,
# B drops %10==0 and rewrites %7==0 content) so all four classes are
# non-vacuous at oracle scale.
# Scale posture: a FULL OUTER equi-join on the doc key — one exchange
# per side (sort-merge; AQE splits skew). With real snapshots stored as
# separate tables bucketed on doc_id (sources/io.write_bucketed_table)
# the join is exchange-free; here both sides branch from one scan, so
# each branch pushes its own %-filter to parquet. Content comparison is
# on md5 fingerprints, not raw text, so the shuffle carries 32-byte
# keys+hashes instead of page bodies — the only form that survives
# 100 TB pages.
# --------------------------------------------------------------------------


def q_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    snap_a = d.filter(F.col("doc_id") % 10 != 9).select(
        "doc_id", F.md5(F.col("text")).alias("fp_a")
    )
    text_b = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
    ).otherwise(F.col("text"))
    snap_b = d.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", F.md5(text_b).alias("fp_b")
    )
    j = snap_a.join(snap_b, "doc_id", "full_outer")
    status = (
        F.when(F.col("fp_a").isNull(), F.lit("added"))
        .when(F.col("fp_b").isNull(), F.lit("removed"))
        .when(F.col("fp_a") != F.col("fp_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select("doc_id", status.alias("status"))


SQL_SNAPSHOT_DIFF = """
WITH base AS (
  SELECT doc_id, text FROM documents WHERE n_chars > 0
), snap_a AS (
  SELECT doc_id, md5(text) AS fp_a FROM base WHERE doc_id % 10 <> 9
), snap_b AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS fp_b
  FROM base WHERE doc_id % 10 <> 0
)
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN a.fp_a IS NULL THEN 'added'
            WHEN b.fp_b IS NULL THEN 'removed'
            WHEN a.fp_a <> b.fp_b THEN 'changed'
            ELSE 'unchanged' END AS status
FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id
"""


# --------------------------------------------------------------------------
# Bigram association (lift) — collocation mining over the corpus, the
# phrase-detection pass (word2vec-style phrase joining, tokenizer-merge
# candidates) a training pipeline runs before vocabulary decisions.
# lift(x,y) = P(xy)/(P(x)P(y)) in the RATIONAL form n_xy·N/(n_x·n_y):
# exact BIGINT products, ONE correctly-rounded IEEE division — the same
# ln-free discipline as tfidf_topterms, bit-identical across engines.
# Scale posture: bigram counts are one hash aggregate with map-side
# combine; the unigram table collapses to the vocabulary (tiny) →
# BROADCAST onto the bigram side twice; the corpus token count joins as
# a ONE-row broadcast (bounded-BNLJ class, plan-gated alongside
# tfidf_topterms); top-20 is TakeOrderedAndProject, never a global sort.
# --------------------------------------------------------------------------

BIGRAM_MIN_COUNT = 5


def q_bigram_assoc(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    toked = d.select(_toks().alias("ws")).filter(F.size("ws") >= 2)
    pairs = toked.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("ws"), i).alias("w1"),
                    F.element_at(F.col("ws"), i + 1).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_xy"))
    uni = (
        d.select(F.explode(_toks()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    total = uni.agg(F.sum("n_w").alias("n_total"))
    scored = (
        big.filter(F.col("n_xy") >= BIGRAM_MIN_COUNT)
        .join(F.broadcast(uni.withColumnRenamed("n_w", "n_x")), F.col("w1") == F.col("w"))
        .drop("w")
        .join(
            F.broadcast(uni.withColumnRenamed("n_w", "n_y")), F.col("w2") == F.col("w")
        )
        .drop("w")
        .crossJoin(F.broadcast(total))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "n_xy",
            "n_x",
            "n_y",
            (
                (F.col("n_xy") * F.col("n_total")).cast("double")
                / (F.col("n_x") * F.col("n_y")).cast("double")
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.col("lift").desc(), F.col("bigram")).limit(20)


SQL_BIGRAM_ASSOC = f"""
WITH toked AS (
  SELECT {_TOKS_SQL} AS ws FROM documents WHERE n_chars > 0
), pairs AS (
  SELECT unnest(list_transform(range(1, len(ws)),
                               i -> {{'w1': ws[i], 'w2': ws[i+1]}})) AS p
  FROM toked WHERE len(ws) >= 2
), big AS (
  SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS n_xy FROM pairs GROUP BY 1, 2
), uni AS (
  SELECT w, COUNT(*) AS n_w
  FROM (SELECT unnest({_TOKS_SQL}) AS w FROM documents WHERE n_chars > 0)
  GROUP BY w
), total AS (
  SELECT SUM(n_w) AS n_total FROM uni
)
SELECT b.w1 || ' ' || b.w2 AS bigram, b.n_xy, x.n_w AS n_x, y.n_w AS n_y,
       CAST(b.n_xy * t.n_total AS DOUBLE)
         / CAST(x.n_w * y.n_w AS DOUBLE) AS lift
FROM big b
JOIN uni x ON b.w1 = x.w
JOIN uni y ON b.w2 = y.w
CROSS JOIN total t
WHERE b.n_xy >= {BIGRAM_MIN_COUNT}
ORDER BY lift DESC, bigram
LIMIT 20
"""


# --------------------------------------------------------------------------
# Set operations beyond union (SURVEY §2.6 notes the reference has no
# INTERSECT/EXCEPT; a corpus pipeline does):
# - shared_ngrams_intersect: the content vocabulary two crawl sources
#   have in common (INTERSECT, distinct semantics) — the cross-source
#   contamination / template-overlap probe.
# - removed_content_except: the multiset of content units (trigram
#   occurrences) the new crawl snapshot lost vs the old one
#   (EXCEPT ALL, multiplicity-preserving) — the content-level
#   companion of snapshot_diff's url-level report.
# Scale posture: Spark plans INTERSECT as map-side-distinct + one
# hash-partitioned semi-join on the value, and EXCEPT ALL as a UNION of
# signed per-side counts collapsed by ONE exchange + hash aggregate,
# then a replicate-by-count Generate (PLANS.md: n_exchanges=1 total) —
# no row-level pair join in either, so they survive any corpus size.
# Both engines' ALL variants share min/difference multiset semantics
# (verified in the oracle).
# --------------------------------------------------------------------------


def q_shared_ngrams_intersect(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)

    def tri_of(src: str) -> DataFrame:
        return (
            d.filter(F.col("source") == src)
            .select(_toks().alias("toks"))
            .select(F.explode(_trigrams(F.col("toks"))).alias("trigram"))
        )

    return tri_of("src0").intersect(tri_of("src1"))


SQL_SHARED_NGRAMS_INTERSECT = f"""
SELECT unnest({_TRIGRAMS_SQL}) AS trigram
FROM documents WHERE n_chars > 0 AND source = 'src0'
INTERSECT
SELECT unnest({_TRIGRAMS_SQL}) AS trigram
FROM documents WHERE n_chars > 0 AND source = 'src1'
"""


def q_removed_content_except(spark: SparkSession, sf: str) -> DataFrame:
    """Same deterministic snapshot split as q_snapshot_diff: A drops
    %10==9, B drops %10==0 and rewrites %7==0 content — so the EXCEPT
    ALL output carries whole removed documents plus the rewritten
    tails of changed ones, with true multiplicities."""
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)

    def tri(df: DataFrame) -> DataFrame:
        return df.select(_toks().alias("toks")).select(
            F.explode(_trigrams(F.col("toks"))).alias("trigram")
        )

    snap_a = d.filter(F.col("doc_id") % 10 != 9)
    text_b = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
    ).otherwise(F.col("text"))
    snap_b = d.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", text_b.alias("text")
    )
    return tri(snap_a).exceptAll(tri(snap_b))


SQL_REMOVED_CONTENT_EXCEPT = f"""
SELECT unnest({_TRIGRAMS_SQL}) AS trigram
FROM documents WHERE n_chars > 0 AND doc_id % 10 <> 9
EXCEPT ALL
SELECT unnest({_TRIGRAMS_SQL}) AS trigram
FROM (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE n_chars > 0 AND doc_id % 10 <> 0
)
"""


QUERIES: dict = {
    "ngram_topk": (q_ngram_topk, SQL_NGRAM_TOPK),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "dedup_normalized": (q_dedup_normalized, SQL_DEDUP_NORMALIZED),
    "pii_scrub": (q_pii_scrub, SQL_PII_SCRUB),
    "quality_filter": (q_quality_filter, SQL_QUALITY_FILTER),
    "paragraph_dedup": (q_paragraph_dedup, SQL_PARAGRAPH_DEDUP),
    "quality_tiers": (q_quality_tiers, SQL_QUALITY_TIERS),
    "lang_rollup": (q_lang_rollup, SQL_LANG_ROLLUP),
    "latest_capture": (q_latest_capture, SQL_LATEST_CAPTURE),
    "quantile_sketch_check": (q_quantile_sketch_check, SQL_QUANTILE_SKETCH_CHECK),
    "mix_weights": (q_mix_weights, SQL_MIX_WEIGHTS),
    "context_pack": (q_context_pack, SQL_CONTEXT_PACK),
    "shard_plan": (q_shard_plan, SQL_SHARD_PLAN),
    "tfidf_topterms": (q_tfidf_topterms, SQL_TFIDF_TOPTERMS),
    "tier_extract": (q_tier_extract, SQL_TIER_EXTRACT),
    "incremental_dedup": (q_incremental_dedup, SQL_INCREMENTAL_DEDUP),
    "cms_frequency_check": (q_cms_frequency_check, SQL_CMS_FREQUENCY_CHECK),
    "bloom_prefilter_check": (q_bloom_prefilter_check, SQL_BLOOM_PREFILTER_CHECK),
    "host_rollup": (q_host_rollup, SQL_HOST_ROLLUP),
    "url_canonical_dedup": (q_url_canonical_dedup, SQL_URL_CANONICAL_DEDUP),
    "host_blocklist_filter": (q_host_blocklist_filter, SQL_HOST_BLOCKLIST_FILTER),
    "snapshot_diff": (q_snapshot_diff, SQL_SNAPSHOT_DIFF),
    "bigram_assoc": (q_bigram_assoc, SQL_BIGRAM_ASSOC),
    "shared_ngrams_intersect": (q_shared_ngrams_intersect, SQL_SHARED_NGRAMS_INTERSECT),
    "removed_content_except": (q_removed_content_except, SQL_REMOVED_CONTENT_EXCEPT),
    "mix_sample": (q_mix_sample, SQL_MIX_SAMPLE),
}
