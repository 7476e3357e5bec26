"""Deduplication operators for a webtext training-data pipeline.

Exact dedup, MinHash+LSH candidate pairs, n-gram Jaccard, and SimHash —
all expressed as native DataFrame/array expressions (no Python UDFs),
each with a DuckDB oracle built from the same Python constants so the
two engines cannot drift.

Scale notes (10¹²-doc posture):
- exact dedup is one hash-shuffle on the fingerprint key;
- MinHash/LSH shuffles once on (band_id, band_val) — the self-join is
  an equi-join on the band key, so skewed bands (boilerplate-identical
  pages) are the hot spot; at scale add a band-frequency cap before the
  join (drop bands with > K members into a separate heavy-hitter pass);
- SimHash is embarrassingly parallel (map-only signature, then a
  shuffle on the signature for bucketing);
- signature compute is CPU-bound per doc (thousands of hashes), so when
  the scan yields fewer splits than cores (few big files / one row
  group) we repartition by doc_id first — a tiny shuffle that unlocks
  full-width parallelism for the dominant stage. All 8 minhash
  functions come from TWO md5 evaluations per shingle (four 32-bit
  slices of each 128-bit digest), not eight.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .relational import load

N_HASHES = 8  # minhash functions (4 slices × 2 salted digests)
N_BANDS = 4  # bands of 2 hashes each
SHINGLE = 3  # words per shingle


def _tokens(col):
    return F.split(F.trim(F.regexp_replace(F.lower(col), "[^a-z ]", "")), " +")


def _wide(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Spread a CPU-heavy per-doc stage across all cores even when the
    scan produced fewer splits than cores (single-row-group files).
    Deterministic key partitioning — no round-robin."""
    return df.repartition(spark.sparkContext.defaultParallelism, "doc_id")


_TOKENS_SQL = "string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', '', 'g')), ' +')"


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact near-head dedup: md5 of the first-5-token prefix groups
    boilerplate-identical heads; keep the min doc_id as representative
    (one hash aggregation — the canonical exact-dedup shape)."""
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    key = F.md5(F.concat_ws(" ", F.slice(_tokens(F.col("text")), 1, 5)))
    return (
        d.select(key.alias("content_key"), "doc_id")
        .groupBy("content_key")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


SQL_DEDUP_EXACT = f"""
WITH t AS (
  SELECT doc_id,
         md5(array_to_string(list_slice({_TOKENS_SQL}, 1, 5), ' ')) AS content_key
  FROM documents WHERE n_chars > 0
)
SELECT content_key, MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_members
FROM t GROUP BY content_key
"""


def _minhash_cols():
    """h_j = lexicographic min over shingles of a 8-hex-digit (32-bit)
    slice of md5. Hashes 0-3 slice md5(shingle); hashes 4-7 slice
    md5('x:' || shingle) — 8 independent-enough functions from 2 digest
    evaluations per shingle (string-min is portable; numeric conversion
    of hex is not). Operates on pre-materialized digest arrays m1/m2 so
    the expensive md5 runs once per shingle, not once per hash."""

    def one(j: int):
        src = F.col("m1") if j < 4 else F.col("m2")
        off = (j % 4) * 8 + 1
        return F.array_min(
            F.transform(src, lambda m: F.substring(m, off, 8))
        ).alias(f"h{j}")

    return [one(j) for j in range(N_HASHES)]


def q_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash signatures over 3-word shingles (the signature half of
    MinHash+LSH near-dup detection)."""
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    toks = _tokens(F.col("text"))
    d = _wide(spark, d.select("doc_id", toks.alias("ws")).filter(F.size("ws") >= SHINGLE))
    shingles = F.transform(
        F.sequence(F.lit(0), F.size("ws") - SHINGLE),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("ws"), i + 1),
            F.element_at(F.col("ws"), i + 2),
            F.element_at(F.col("ws"), i + 3),
        ),
    )
    d = d.select("doc_id", shingles.alias("sh")).select(
        "doc_id",
        F.transform(F.col("sh"), F.md5).alias("m1"),
        F.transform(F.col("sh"), lambda s: F.md5(F.concat(F.lit("x:"), s))).alias("m2"),
    )
    return d.select("doc_id", *_minhash_cols())


def _minhash_sql_core() -> str:
    h_exprs = ",\n         ".join(
        f"list_min(list_transform({'m1' if j < 4 else 'm2'}, m -> substr(m, {(j % 4) * 8 + 1}, 8))) AS h{j}"
        for j in range(N_HASHES)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS ws
  FROM documents WHERE n_chars > 0
), sh AS (
  SELECT doc_id,
         list_transform(range(0, len(ws) - {SHINGLE - 1}),
                        i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]) AS shingles
  FROM toks WHERE len(ws) >= {SHINGLE}
), dg AS (
  SELECT doc_id,
         list_transform(shingles, s -> md5(s)) AS m1,
         list_transform(shingles, s -> md5('x:' || s)) AS m2
  FROM sh
), mh AS (
  SELECT doc_id,
         {h_exprs}
  FROM dg
)
"""


SQL_MINHASH_SIGNATURES = _minhash_sql_core() + "SELECT * FROM mh"


def q_minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """LSH banding: 4 bands × 2 hashes; docs sharing any band value are
    candidate near-duplicate pairs (shingle→minhash→band→bucket-join).
    One shuffle on the band key; output distinct (doc_a < doc_b)."""
    sig = q_minhash_signatures(spark, sf)
    bands = F.array(
        *[F.md5(F.concat(F.col(f"h{2*i}"), F.col(f"h{2*i+1}"))) for i in range(N_BANDS)]
    )
    exploded = sig.select("doc_id", F.posexplode(bands).alias("band_id", "band_val"))
    a = exploded.alias("a")
    # SHUFFLE_HASH, not broadcast: both sides are the same exploded band
    # table, so the two band-key exchanges canonicalize identically and
    # the signature computation runs ONCE (ReusedExchange); a broadcast
    # build would recompute it and collect the whole band table to the
    # driver — impossible at web scale (measured 16x slower at sf0.1)
    b = exploded.alias("b").hint("shuffle_hash")
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


SQL_MINHASH_LSH_PAIRS = _minhash_sql_core() + f"""
, bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {i} AS band_id, md5(h{2*i} || h{2*i+1}) AS band_val FROM mh" for i in range(N_BANDS))}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b USING (band_id, band_val)
WHERE a.doc_id < b.doc_id
"""

# Max members per band bucket in the capped variant. 2 (not the
# production-ish 16+) so the heavy-bucket machinery — the cap drop,
# the lsh_heavy_buckets side output, and the sorted-neighborhood
# recovery pass — is EXERCISED at oracle scale: sf0.01's largest band
# bucket has 3 members, so a higher cap would make all three paths
# vacuously green. The semantics are cap-value-independent; both
# engines share this constant.
BAND_CAP = 2


def q_minhash_lsh_pairs_capped(spark: SparkSession, sf: str) -> DataFrame:
    """The web-scale form of the LSH join: band buckets larger than
    BAND_CAP are heavy hitters (boilerplate-identical pages — a single
    viral template can put 10⁷ docs in one bucket, and the self-join is
    quadratic per bucket), so they are excluded from the pair join.

    RECALL GAP (explicit): the cap is NOT lossless. q_dedup_exact
    recovers only byte-identical members of a dropped bucket;
    near-identical-but-not-exact docs that collide in a heavy bucket
    are never pairwise compared, and q_dedup_pipeline inherits that
    loss. The dedicated recovery exists: q_dedup_heavy_pass runs a
    bounded sorted-neighborhood comparison over exactly these buckets,
    and q_dedup_pipeline_full composes both so no candidate class is
    dropped. The excluded bucket keys are observable via
    q_lsh_heavy_buckets so the loss is measurable, not silent. The membership count comes from a
    window over the same (band_id, band_val) key the join shuffles on,
    so the cap adds no extra exchange on the probe side."""
    from pyspark.sql import Window

    sig = q_minhash_signatures(spark, sf)
    bands = F.array(
        *[F.md5(F.concat(F.col(f"h{2*i}"), F.col(f"h{2*i+1}"))) for i in range(N_BANDS)]
    )
    exploded = sig.select("doc_id", F.posexplode(bands).alias("band_id", "band_val"))
    w = Window.partitionBy("band_id", "band_val")
    eligible = exploded.withColumn("n", F.count(F.lit(1)).over(w)).filter(
        F.col("n") <= BAND_CAP
    ).drop("n")
    a = eligible.alias("a")
    b = eligible.alias("b").hint("shuffle_hash")
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


SQL_MINHASH_LSH_PAIRS_CAPPED = _minhash_sql_core() + f"""
, bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {i} AS band_id, md5(h{2*i} || h{2*i+1}) AS band_val FROM mh" for i in range(N_BANDS))}
), eligible AS (
  SELECT doc_id, band_id, band_val FROM bands
  QUALIFY COUNT(*) OVER (PARTITION BY band_id, band_val) <= {BAND_CAP}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM eligible a JOIN eligible b USING (band_id, band_val)
WHERE a.doc_id < b.doc_id
"""


def q_lsh_heavy_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Side output for the BAND_CAP recall gap (ADVICE r01): the band
    buckets q_minhash_lsh_pairs_capped drops, with member counts — the
    work-list a dedicated heavy-bucket near-dup pass would consume.
    Same signature→band plan as the capped join (one shuffle on the
    band key), aggregating instead of self-joining, so at 10¹² docs
    this costs one pass over the band table regardless of skew."""
    sig = q_minhash_signatures(spark, sf)
    bands = F.array(
        *[F.md5(F.concat(F.col(f"h{2*i}"), F.col(f"h{2*i+1}"))) for i in range(N_BANDS)]
    )
    exploded = sig.select("doc_id", F.posexplode(bands).alias("band_id", "band_val"))
    return (
        exploded.groupBy("band_id", "band_val")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > BAND_CAP)
    )


SQL_LSH_HEAVY_BUCKETS = _minhash_sql_core() + f"""
, bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {i} AS band_id, md5(h{2*i} || h{2*i+1}) AS band_val FROM mh" for i in range(N_BANDS))}
)
SELECT CAST(band_id AS INT) AS band_id, band_val, COUNT(*) AS n_members
FROM bands GROUP BY band_id, band_val HAVING COUNT(*) > {BAND_CAP}
"""


NEIGHBORHOOD = 2  # sorted-neighborhood width inside a heavy bucket


def q_dedup_heavy_pass(spark: SparkSession, sf: str) -> DataFrame:
    """The dedicated heavy-bucket near-dup pass that closes the
    BAND_CAP recall gap (ADVICE r01 / capped-join docstring): members
    of dropped band buckets are compared by the SORTED-NEIGHBORHOOD
    method — order each bucket by a secondary signature (simhash, so
    near-identical docs sort adjacently), pair each member with its
    next NEIGHBORHOOD neighbours, then exact-verify with n-gram
    Jaccard. Cost per heavy bucket is O(members × NEIGHBORHOOD) pairs
    instead of the O(members²) self-join the cap exists to avoid — a
    10⁷-member viral-template bucket yields 2×10⁷ candidate pairs, not
    10¹⁴. One extra shuffle (the window over the band key the plan
    already shuffles on), map-side everything else.

    Emits verified (doc_a, doc_b, jaccard ≥ threshold) pairs — the
    exact complement q_minhash_lsh_pairs_capped drops; union the two
    and the verify stage of q_dedup_pipeline is recall-complete up to
    neighbourhood width."""
    from pyspark.sql import Window

    sig = q_minhash_signatures(spark, sf)
    bands = F.array(
        *[F.md5(F.concat(F.col(f"h{2*i}"), F.col(f"h{2*i+1}"))) for i in range(N_BANDS)]
    )
    exploded = sig.select("doc_id", F.posexplode(bands).alias("band_id", "band_val"))
    wcount = Window.partitionBy("band_id", "band_val")
    heavy = exploded.withColumn("n", F.count(F.lit(1)).over(wcount)).filter(
        F.col("n") > BAND_CAP
    ).drop("n")
    # secondary order: simhash clusters near-identical docs adjacently
    heavy = heavy.join(q_simhash(spark, sf), ["doc_id"])
    worder = Window.partitionBy("band_id", "band_val").orderBy("simhash", "doc_id")
    nbr = heavy.select(
        "band_id",
        "band_val",
        "doc_id",
        "simhash",
        *[
            F.lead("doc_id", k).over(worder).alias(f"nbr{k}")
            for k in range(1, NEIGHBORHOOD + 1)
        ],
    )
    pairs = None
    for k in range(1, NEIGHBORHOOD + 1):
        p = nbr.filter(F.col(f"nbr{k}").isNotNull()).select(
            F.least("doc_id", F.col(f"nbr{k}")).alias("doc_a"),
            F.greatest("doc_id", F.col(f"nbr{k}")).alias("doc_b"),
        )
        pairs = p if pairs is None else pairs.unionAll(p)
    cand = pairs.distinct()
    # exact verify: same gram construction as q_dedup_pipeline
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    g = (
        _wide(
            spark,
            d.select("doc_id", _tokens(F.col("text")).alias("ws")).filter(
                F.size("ws") >= SHINGLE
            ),
        )
        .select("doc_id", _grams_expr().alias("grams"))
    )
    ga = g.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    gb = g.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    scored = cand.join(ga, ["doc_a"]).join(gb, ["doc_b"])
    inter = F.size(F.array_intersect("ga", "gb")).cast("double")
    union = F.size(F.array_union("ga", "gb")).cast("double")
    return scored.select(
        "doc_a", "doc_b", F.round(inter / union, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= JACCARD_DUP_THRESHOLD)


def _grams_expr():
    ws = F.col("ws")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - SHINGLE),
            lambda i: F.concat_ws(
                " ",
                F.element_at(ws, i + 1),
                F.element_at(ws, i + 2),
                F.element_at(ws, i + 3),
            ),
        )
    )


def _dedup_heavy_pass_sql() -> str:
    simhash_bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(md5s, m -> CASE WHEN instr('89abcdef', substr(m, {b + 1}, 1)) > 0 THEN 1 ELSE -1 END)) >= 0 THEN {2**b} ELSE 0 END)"
        for b in range(16)
    )
    nbr_cols = ", ".join(
        f"LEAD(doc_id, {k}) OVER (PARTITION BY band_id, band_val ORDER BY simhash, doc_id) AS nbr{k}"
        for k in range(1, NEIGHBORHOOD + 1)
    )
    pair_selects = " UNION ALL ".join(
        f"SELECT LEAST(doc_id, nbr{k}) AS doc_a, GREATEST(doc_id, nbr{k}) AS doc_b FROM nbr WHERE nbr{k} IS NOT NULL"
        for k in range(1, NEIGHBORHOOD + 1)
    )
    return (
        _minhash_sql_core()
        + f"""
, bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {i} AS band_id, md5(h{2*i} || h{2*i+1}) AS band_val FROM mh" for i in range(N_BANDS))}
), heavy AS (
  SELECT doc_id, band_id, band_val FROM bands
  QUALIFY COUNT(*) OVER (PARTITION BY band_id, band_val) > {BAND_CAP}
), simh AS (
  SELECT doc_id, CAST({simhash_bits} AS BIGINT) AS simhash
  FROM (SELECT doc_id, list_transform({_TOKENS_SQL}, t -> md5(t)) AS md5s
        FROM documents WHERE n_chars > 0)
), hs AS (
  SELECT h.doc_id, h.band_id, h.band_val, simh.simhash FROM heavy h JOIN simh ON h.doc_id = simh.doc_id
), nbr AS (
  SELECT doc_id, band_id, band_val, simhash, {nbr_cols} FROM hs
), cand AS (
  SELECT DISTINCT doc_a, doc_b FROM ({pair_selects})
), toksh AS (
  SELECT doc_id, {_TOKENS_SQL} AS ws FROM documents WHERE n_chars > 0
), gr AS (
  SELECT doc_id,
         list_distinct(list_transform(range(0, len(ws) - {SHINGLE} + 1),
           i -> ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3])) AS grams
  FROM toksh WHERE len(ws) >= {SHINGLE}
)
SELECT c.doc_a, c.doc_b,
       ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
FROM cand c JOIN gr a ON c.doc_a = a.doc_id JOIN gr b ON c.doc_b = b.doc_id
WHERE ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / len(list_distinct(list_concat(a.grams, b.grams))), 6) >= {JACCARD_DUP_THRESHOLD}
"""
    )


def q_ngram_jaccard_adjacent(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram Jaccard between consecutive doc_ids (the verify step
    that follows LSH candidate generation; adjacent pairing keeps the
    oracle O(n))."""
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    # filter on token COUNT (cheap, == size(grams) > 0 since tokens are
    # non-empty) BEFORE the widening shuffle: a size(grams)>0 filter
    # would be pushed below the exchange and re-evaluate the whole gram
    # expression single-threaded in the scan stage
    d = _wide(
        spark,
        d.select("doc_id", _tokens(F.col("text")).alias("ws")).filter(
            F.size("ws") >= SHINGLE
        ),
    )
    toks = F.col("ws")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - SHINGLE),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
            ),
        )
    )
    g = d.select("doc_id", grams.alias("grams"))
    a, b = g.alias("a"), g.alias("b")
    # SHUFFLE_MERGE: the build side would be the full gram corpus —
    # never driver-broadcastable at web scale
    joined = a.join(b.hint("merge"), F.col("a.doc_id") + 1 == F.col("b.doc_id"))
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams"))).cast("double")
    union = F.size(F.array_union(F.col("a.grams"), F.col("b.grams"))).cast("double")
    return joined.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.round(inter / union, 6).alias("jaccard"),
    )


SQL_NGRAM_JACCARD = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS ws
  FROM documents WHERE n_chars > 0
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(0, len(ws) - {SHINGLE - 1}),
                        i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS grams
  FROM toks WHERE len(ws) >= {SHINGLE}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 6) AS jaccard
FROM g a JOIN g b ON a.doc_id + 1 = b.doc_id
"""


def q_minhash_estimate_check(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash sketch-accuracy contract — the third of the sketch
    contracts (HLL: ``approx_distinct_check``, quantiles:
    ``quantile_sketch_check``): per adjacent doc pair, the Jaccard
    ESTIMATE from the 8-function signature (fraction of matching
    minima — E[est] = J by the MinHash property) next to the EXACT
    trigram Jaccard, plus the absolute error. On the word-soup corpus
    exact Jaccard is near 0, so the contract pins the estimator's
    behavior where LSH banding operates. est = n_match/8 and the IEEE
    subtraction are exact/correctly-rounded — bit-identical engines.

    Scale posture: signatures are map-side; both the pair join and the
    exact-verify join are merge joins on doc_id (never broadcast — the
    gram corpus is unbounded); at 10¹² docs the contract runs on a
    deterministic doc_id-slice sample instead of every pair, same
    plan."""
    sig = q_minhash_signatures(spark, sf)
    a, b = sig.alias("a"), sig.alias("b")
    pairs = a.join(b.hint("merge"), F.col("a.doc_id") + 1 == F.col("b.doc_id"))
    n_match = None
    for j in range(N_HASHES):
        term = F.when(F.col(f"a.h{j}") == F.col(f"b.h{j}"), 1).otherwise(0)
        n_match = term if n_match is None else n_match + term
    est = (n_match.cast("double") / F.lit(float(N_HASHES))).alias("est_jaccard")
    estdf = pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        est,
    )
    exact = q_ngram_jaccard_adjacent(spark, sf)
    return estdf.join(exact.hint("merge"), ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        F.col("jaccard").alias("exact_jaccard"),
        F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 6).alias("abs_err"),
    )


def _minhash_estimate_sql() -> str:
    match_sum = " + ".join(
        f"(CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END)" for j in range(N_HASHES)
    )
    return (
        _minhash_sql_core()
        + f""",
est AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST({match_sum} AS DOUBLE) / {N_HASHES} AS est_jaccard
  FROM mh a JOIN mh b ON a.doc_id + 1 = b.doc_id
), toksx AS (
  SELECT doc_id, {_TOKENS_SQL} AS ws
  FROM documents WHERE n_chars > 0
), gx AS (
  SELECT doc_id,
         list_distinct(list_transform(range(0, len(ws) - {SHINGLE - 1}),
                        i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS grams
  FROM toksx WHERE len(ws) >= {SHINGLE}
), exact AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 6) AS jaccard
  FROM gx a JOIN gx b ON a.doc_id + 1 = b.doc_id
)
SELECT e.doc_a, e.doc_b, e.est_jaccard, x.jaccard AS exact_jaccard,
       ROUND(ABS(e.est_jaccard - x.jaccard), 6) AS abs_err
FROM est e JOIN exact x ON e.doc_a = x.doc_a AND e.doc_b = x.doc_b
"""
    )


SQL_MINHASH_ESTIMATE_CHECK = _minhash_estimate_sql()


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """16-bit SimHash over word tokens: bit b is the sign of the sum of
    ±1 votes, where token t votes +1 on bit b iff hex digit b of md5(t)
    has its high bit set. Fully portable integer arithmetic. The digest
    array is materialized once per doc (one md5 per token) — the 16
    per-bit sums then read cheap substrings of it."""
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    d = _wide(spark, d.select("doc_id", _tokens(F.col("text")).alias("ws")))
    d = d.select("doc_id", F.transform(F.col("ws"), F.md5).alias("md5s"))
    # One F.expr over a Python-assembled SQL string instead of 16
    # py4j-built lambda trees: identical expression semantics, but ~25×
    # cheaper to CONSTRUCT (measured 5.2 s → 0.2 s at bench time — every
    # F.transform/F.aggregate lambda is a py4j round-trip; the JVM SQL
    # parser builds the same tree in one call).
    bits = " + ".join(
        f"(CASE WHEN aggregate(transform(md5s, m -> "
        f"CASE WHEN instr('89abcdef', substr(m, {b + 1}, 1)) > 0 THEN 1 ELSE -1 END"
        f"), 0, (acc, x) -> acc + x) >= 0 THEN {2**b}L ELSE 0L END)"
        for b in range(16)
    )
    return d.select("doc_id", F.expr(f"CAST({bits} AS BIGINT)").alias("simhash"))


def _simhash_sql() -> str:
    bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(md5s, m -> CASE WHEN instr('89abcdef', substr(m, {b + 1}, 1)) > 0 THEN 1 ELSE -1 END)) >= 0 THEN {2**b} ELSE 0 END)"
        for b in range(16)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS ws
  FROM documents WHERE n_chars > 0
), dg AS (
  SELECT doc_id, list_transform(ws, t -> md5(t)) AS md5s FROM toks
)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM dg
"""


SQL_SIMHASH = _simhash_sql()


JACCARD_DUP_THRESHOLD = 0.35


def q_dedup_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The full near-dup pipeline as ONE composed plan: capped-LSH
    candidate pairs → exact n-gram Jaccard verify (computed ONLY for
    candidates — the point of LSH) → per-doc duplicate verdict keeping
    the lowest doc_id of each verified pair as the survivor. This is
    the production dataflow at corpus scale: signatures and banding are
    map-side, the candidate join touches O(collisions) pairs instead of
    O(n²), and the expensive exact verify runs on that small set."""
    cand = q_minhash_lsh_pairs_capped(spark, sf)
    verified = _verify_pairs(spark, sf, cand)
    return _survivor_verdict(verified)


def _verify_pairs(spark: SparkSession, sf: str, cand: DataFrame) -> DataFrame:
    """Exact n-gram Jaccard verify over candidate (doc_a, doc_b) pairs."""
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    g = (
        _wide(
            spark,
            d.select("doc_id", _tokens(F.col("text")).alias("ws")).filter(
                F.size("ws") >= SHINGLE
            ),
        )
        .select("doc_id", _grams_expr().alias("grams"))
    )
    ga = g.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    gb = g.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    scored = cand.join(ga, ["doc_a"]).join(gb, ["doc_b"])
    inter = F.size(F.array_intersect("ga", "gb")).cast("double")
    union = F.size(F.array_union("ga", "gb")).cast("double")
    return scored.select(
        "doc_a", "doc_b", F.round(inter / union, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= JACCARD_DUP_THRESHOLD)


def _survivor_verdict(verified: DataFrame) -> DataFrame:
    # verdict: a doc is a duplicate if it appears as the HIGHER id of
    # any verified pair; its survivor is the smallest lower-side id
    return verified.groupBy(F.col("doc_b").alias("doc_id")).agg(
        F.min("doc_a").alias("survivor_doc_id"),
        F.count(F.lit(1)).alias("n_dup_links"),
    )


def q_dedup_pipeline_full(spark: SparkSession, sf: str) -> DataFrame:
    """Recall-complete composition: verified pairs from the capped LSH
    join UNION the heavy-bucket sorted-neighborhood pass, then one
    survivor verdict. At corpus scale this is the production shape —
    the cheap equi-join covers normal buckets, the bounded O(members ×
    NEIGHBORHOOD) pass covers viral-template buckets, and no candidate
    class is silently dropped (the r01-documented recall gap, closed)."""
    capped_verified = _verify_pairs(spark, sf, q_minhash_lsh_pairs_capped(spark, sf))
    heavy_verified = q_dedup_heavy_pass(spark, sf)
    all_pairs = capped_verified.unionAll(heavy_verified).dropDuplicates(
        ["doc_a", "doc_b"]
    )
    return _survivor_verdict(all_pairs)


CC_MAX_ROUNDS = 32  # rounds = dup-graph diameter; template families are shallow


def q_dedup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive-closure duplicate CLUSTERS over the recall-complete
    verified-pair graph (capped-LSH ∪ heavy-bucket pairs) — the step the
    per-pair survivor verdict cannot express: with A~B and B~C but A≁C,
    ``_survivor_verdict`` gives B and C different survivors and one
    template family dedups into two clusters. Components collapses it.

    Algorithm: alternating large-star/small-star edge rewriting
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — each iteration hangs every larger neighbor under its
    local min (large-star: one hash aggregate + one equi-join on the
    node key), then re-hangs the smaller neighbors (small-star: same
    two ops on the canonical orientation), until the edge set reaches
    its fixpoint: one star per component. Provably O(log² n)
    iterations, measured ~log₂ n (a 100k-node chain: 18). Round 4
    replaced the earlier min-label + pointer-jumping loop, whose
    worst case — node ids descending along the propagation direction,
    which the heavy-pass sorted neighborhood actually emits — is
    O(diameter) rounds (see ``components_from_pairs``). Fixpoint test
    is the exact (count, Σ xxhash64 as DECIMAL) edge-set signature —
    no float slack. The verified pair list is eagerly checkpointed
    ONCE before canonicalization — without it each iteration's lineage
    would replay the whole LSH verify cascade;
    ``localCheckpoint(eager=True)`` likewise truncates per-iteration
    lineage. The convergence probe is a one-row aggregate — the
    standard (and only) driver action for iterative BSP on Spark.

    Output: (doc_id, component_id, n_members) for every doc in the dup
    graph; component_id is the component's min doc_id.
    """
    return components_from_pairs(spark, dup_pairs(spark, sf))


def dup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """The recall-complete verified duplicate-pair graph (capped-LSH ∪
    heavy-bucket pairs) q_dedup_components closes over — exposed so pair
    construction and the BSP loop (``components_from_pairs``) can be
    timed separately."""
    capped = _verify_pairs(spark, sf, q_minhash_lsh_pairs_capped(spark, sf))
    heavy = q_dedup_heavy_pass(spark, sf)
    return (
        capped.select("doc_a", "doc_b")
        .unionAll(heavy.select("doc_a", "doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def components_from_pairs(
    spark: SparkSession, pairs: DataFrame, stats: list | None = None
) -> DataFrame:
    """The BSP kernel behind ``q_dedup_components``, reusable for any
    undirected (doc_a, doc_b) pair set. Alternating large-star /
    small-star (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014) — replaced the earlier min-label-propagation +
    pointer-jumping loop in round 4 after the 16×-scale run exposed its
    worst case: on a path whose node ids DESCEND along the propagation
    direction (exactly what the heavy-pass sorted neighborhood emits
    when a template family's secondary sort order anti-correlates with
    doc_id), pointer jumping contributes nothing — every intermediate
    label already points at a far-end node whose own label is no
    smaller — and the loop degenerates to O(diameter) rounds: a
    212-node ring in the sf1.6 corpus crawled 2 nodes/round and blew
    CC_MAX_ROUNDS. The star algorithm rewrites the EDGE SET instead of
    node labels (large-star hangs every larger neighbor under the
    local min; small-star re-hangs the smaller ones), provably
    converging in O(log² n) rounds and measured ~log₂ n: the same ring
    converges in 5 iterations, a 100k descending chain in 19."""
    from pyspark.sql import Window

    pairs = pairs.localCheckpoint(eager=True)  # materialize upstream once
    canon = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("a"),
            F.least("doc_a", "doc_b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
        .persist()
    )
    # Size the loop's shuffles to the GRAPH, not the corpus: the dup
    # graph is orders of magnitude smaller than the documents table the
    # session's spark.sql.shuffle.partitions was chosen for, and AQE
    # coalesces only within one query — it cannot see across the loop's
    # eager localCheckpoint boundaries. ~500k edges per partition keeps
    # every round's shuffle memory-bounded at any corpus size (count is
    # cheap: the checkpointed pair list is already in memory). Measured
    # 1.9× on the loop at sf0.1 (2.45 s → 1.29 s).
    n_edges = canon.count()
    parts = int(max(1, min(n_edges // 500_000 + 1, 4096)))
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    if stats is not None:
        stats.append({"n_edges": int(n_edges), "shuffle_partitions": parts})
    try:
        stars = _cc_star_loop(canon, stats=stats)
    finally:
        # unpersist inside the finally (ADVICE r03): a CC_MAX_ROUNDS
        # non-convergence raise must not leak the persisted edge list
        # into executor storage for the session's lifetime
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        canon.unpersist()
    # At convergence the edge set is one star per component: every
    # non-root node appears exactly once as `a`, pointing at the
    # component min. Roots (and self-loop-only singletons) fall through
    # the left join and label themselves.
    nodes = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    starmap = stars.select(F.col("a").alias("doc_id"), F.col("b").alias("label"))
    labels = nodes.join(starmap, "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("label")
    )
    w = Window.partitionBy("component_id")
    return labels.select("doc_id", F.col("label").alias("component_id")).withColumn(
        "n_members", F.count(F.lit(1)).over(w)
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: for every node u, hang each STRICTLY LARGER
    neighbor under u's local min (min over Γ(u) ∪ {u}). One hash
    aggregate + one join on the same key; output edges stay canonical
    (a > b) by construction (v > u ≥ m)."""
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least("u", "mv").alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .dropDuplicates(["a", "b"])
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: orient every edge from the larger endpoint (the
    canonical ``a``) and re-hang its smaller neighbors — and ``a``
    itself — under the smallest of them. Output stays canonical
    (every emitted source exceeds the group min)."""
    mins = e.groupBy("a").agg(F.min("b").alias("m"))
    rehang = (
        e.join(mins, "a")
        .filter(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    self_edge = mins.select("a", F.col("m").alias("b"))
    return rehang.unionAll(self_edge).dropDuplicates(["a", "b"])


def _cc_star_loop(edges: DataFrame, stats: list | None = None) -> DataFrame:
    """Alternating large-star/small-star iterations to the edge-set
    fixpoint (see ``components_from_pairs``); each iteration is
    materialized via localCheckpoint so the caller's scoped
    shuffle-partition setting governs all of its jobs and per-iteration
    lineage stays flat. Fixpoint test: the canonical edge set's exact
    (count, Σ xxhash64(a,b) as decimal) signature stops changing —
    both operators are deterministic, so signature equality means the
    composite map reached its fixpoint, which is one star per
    component (Kiveris et al. 2014, Thm 4: O(log² n) iterations; the
    measured constant is ~log₂ n — see tests/test_dedup_components.py).
    ``stats`` (optional) collects one entry per iteration (its round
    number, edge signature and whether it converged), so callers can
    bound the round count."""
    e = edges.localCheckpoint(eager=True)
    prev = object()
    for _round in range(CC_MAX_ROUNDS):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        metric = (sig["n"], sig["s"])
        if stats is not None:
            stats.append(
                {
                    "round": _round + 1,
                    "edge_signature": str(metric),
                    "converged": metric == prev,
                }
            )
        if metric == prev:
            break
        prev = metric
    else:
        raise RuntimeError(
            f"components did not converge in {CC_MAX_ROUNDS} rounds"
        )
    return e


def _components_core_sql() -> str:
    # same pair CTEs as _dedup_pipeline_full_sql, then reachability via a
    # recursive CTE: min over reachable labels == component min (graph is
    # symmetrized, so reachable set == component)
    capped = SQL_MINHASH_LSH_PAIRS_CAPPED.rstrip()
    heavy = SQL_DEDUP_HEAVY_PASS.rstrip()
    return f"""
WITH RECURSIVE capped_cand AS (
{capped}
), heavy_verified AS (
{heavy}
), toksc AS (
  SELECT doc_id, {_TOKENS_SQL} AS ws
  FROM documents WHERE n_chars > 0
), gc AS (
  SELECT doc_id,
         list_distinct(list_transform(range(0, len(ws) - {SHINGLE - 1}),
                        i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS grams
  FROM toksc WHERE len(ws) >= {SHINGLE}
), capped_verified AS (
  SELECT c.doc_a, c.doc_b
  FROM capped_cand c
  JOIN gc a ON a.doc_id = c.doc_a
  JOIN gc b ON b.doc_id = c.doc_b
  WHERE ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 6) >= {JACCARD_DUP_THRESHOLD}
), all_pairs AS (
  SELECT DISTINCT doc_a, doc_b
  FROM (SELECT doc_a, doc_b FROM capped_verified UNION ALL SELECT doc_a, doc_b FROM heavy_verified)
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM all_pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM all_pairs
), reach(doc_id, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id
), comp AS (
  SELECT doc_id, MIN(label) AS component_id FROM reach GROUP BY doc_id
)"""


def _dedup_components_sql() -> str:
    return (
        _components_core_sql()
        + """
SELECT doc_id, component_id,
       COUNT(*) OVER (PARTITION BY component_id) AS n_members
FROM comp
"""
    )


def q_dedup_survivors(spark: SparkSession, sf: str) -> DataFrame:
    """The cleaned corpus after transitive near-dup clustering — what a
    training pipeline actually feeds the tokenizer: every document NOT
    in the dup graph, plus exactly one representative (the min doc_id)
    per duplicate cluster. ``is_cluster_rep`` distinguishes the two, so
    downstream mixing can re-weight survivors by their cluster mass.

    Scale shape: the component table is small relative to the corpus
    (only docs in the dup graph); the anti-join and the rep-flag join
    both hash-shuffle on doc_id — at 10¹² docs AQE turns them into
    broadcast joins whenever the dup set fits, and the corpus side
    stays a single pruned scan either way."""
    comp = q_dedup_components(spark, sf)
    losers = comp.filter(F.col("doc_id") != F.col("component_id")).select("doc_id")
    reps = (
        comp.filter(F.col("doc_id") == F.col("component_id"))
        .select("doc_id")
        .withColumn("rep", F.lit(True))
    )
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    return (
        d.join(losers, "doc_id", "left_anti")
        .join(reps, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.coalesce("rep", F.lit(False)).alias("is_cluster_rep"),
        )
    )


def _dedup_survivors_sql() -> str:
    return (
        _components_core_sql()
        + """
SELECT d.doc_id, d.lang, d.source, d.n_chars,
       (d.doc_id IN (SELECT doc_id FROM comp WHERE doc_id = component_id)) AS is_cluster_rep
FROM documents d
WHERE d.n_chars > 0
  AND d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component_id)
"""
    )


def _dedup_pipeline_sql() -> str:
    # candidate CTEs from the capped-LSH query, wrapped and joined to
    # exact gram sets for the verify + verdict stages
    cand = SQL_MINHASH_LSH_PAIRS_CAPPED.rstrip()
    return f"""
WITH cand AS (
{cand}
), toks2 AS (
  SELECT doc_id, {_TOKENS_SQL} AS ws
  FROM documents WHERE n_chars > 0
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(0, len(ws) - {SHINGLE - 1}),
                        i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS grams
  FROM toks2 WHERE len(ws) >= {SHINGLE}
), verified AS (
  SELECT c.doc_a, c.doc_b,
         ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 6) AS jaccard
  FROM cand c
  JOIN g a ON a.doc_id = c.doc_a
  JOIN g b ON b.doc_id = c.doc_b
)
SELECT doc_b AS doc_id, MIN(doc_a) AS survivor_doc_id, COUNT(*) AS n_dup_links
FROM verified WHERE jaccard >= {JACCARD_DUP_THRESHOLD}
GROUP BY doc_b
"""


SQL_DEDUP_HEAVY_PASS = _dedup_heavy_pass_sql()


def _dedup_pipeline_full_sql() -> str:
    capped = SQL_MINHASH_LSH_PAIRS_CAPPED.rstrip()
    heavy = SQL_DEDUP_HEAVY_PASS.rstrip()
    return f"""
WITH capped_cand AS (
{capped}
), heavy_verified AS (
{heavy}
), toks3 AS (
  SELECT doc_id, {_TOKENS_SQL} AS ws
  FROM documents WHERE n_chars > 0
), g3 AS (
  SELECT doc_id,
         list_distinct(list_transform(range(0, len(ws) - {SHINGLE - 1}),
                        i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS grams
  FROM toks3 WHERE len(ws) >= {SHINGLE}
), capped_verified AS (
  SELECT c.doc_a, c.doc_b,
         ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 6) AS jaccard
  FROM capped_cand c
  JOIN g3 a ON a.doc_id = c.doc_a
  JOIN g3 b ON b.doc_id = c.doc_b
  WHERE ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 6) >= {JACCARD_DUP_THRESHOLD}
), all_pairs AS (
  SELECT DISTINCT doc_a, doc_b
  FROM (SELECT doc_a, doc_b FROM capped_verified UNION ALL SELECT doc_a, doc_b FROM heavy_verified)
)
SELECT doc_b AS doc_id, MIN(doc_a) AS survivor_doc_id, COUNT(*) AS n_dup_links
FROM all_pairs GROUP BY doc_b
"""


# --------------------------------------------------------------------------
# Incremental NEAR-dup: the LSH companion of curation.incremental_dedup
# (which is exact-hash). Each new crawl batch's band values probe the
# accumulated signature index; a batch doc sharing any band with an
# index doc is a near-dup candidate, reported with its lowest-id index
# collision and collision count. Batch = doc_id % 10 == 0 (same split
# family as the other incremental/bloom contracts); index = the rest.
# Scale posture: at 10¹² docs the index band table is a STORED table
# bucketed on (band_id, band_val) (sources/io.write_bucketed_table) so
# every nightly batch join is exchange-free on the index side; here
# both sides branch from one scan and the join is shuffle-hash on the
# band key — never broadcast (the index is the big side), never a
# corpus self-join (the batch side is the only probe). The per-doc
# verdict is one aggregate on the batch's own doc_id.
# --------------------------------------------------------------------------


def q_minhash_incremental(spark: SparkSession, sf: str) -> DataFrame:
    sig = q_minhash_signatures(spark, sf)
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(F.concat(F.col(f"h{2*i}"), F.col(f"h{2*i+1}")))
                    for i in range(N_BANDS)
                ]
            )
        ).alias("band_id", "band_val"),
    )
    newb = bands.filter(F.col("doc_id") % 10 == 0)
    idx = (
        bands.filter(F.col("doc_id") % 10 != 0)
        .withColumnRenamed("doc_id", "idx_doc_id")
        .hint("shuffle_hash")
    )
    return (
        newb.join(idx, ["band_id", "band_val"], "left")
        .groupBy("doc_id")
        .agg(
            F.min("idx_doc_id").alias("matched_rep"),
            F.count_distinct("idx_doc_id").alias("n_index_collisions"),
        )
        .select(
            "doc_id",
            F.col("matched_rep").isNotNull().alias("is_near_dup"),
            "matched_rep",
            "n_index_collisions",
        )
    )


SQL_MINHASH_INCREMENTAL = _minhash_sql_core() + f"""
, bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {i} AS band_id, md5(h{2*i} || h{2*i+1}) AS band_val FROM mh" for i in range(N_BANDS))}
), newb AS (
  SELECT * FROM bands WHERE doc_id % 10 = 0
), idx AS (
  SELECT doc_id AS idx_doc_id, band_id, band_val FROM bands WHERE doc_id % 10 <> 0
)
SELECT n.doc_id,
       MIN(i.idx_doc_id) IS NOT NULL AS is_near_dup,
       MIN(i.idx_doc_id) AS matched_rep,
       COUNT(DISTINCT i.idx_doc_id) AS n_index_collisions
FROM newb n LEFT JOIN idx i ON n.band_id = i.band_id AND n.band_val = i.band_val
GROUP BY n.doc_id
"""


QUERIES: dict = {
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_pipeline": (q_dedup_pipeline, _dedup_pipeline_sql()),
    "minhash_signatures": (q_minhash_signatures, SQL_MINHASH_SIGNATURES),
    "minhash_estimate_check": (q_minhash_estimate_check, SQL_MINHASH_ESTIMATE_CHECK),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, SQL_MINHASH_LSH_PAIRS),
    "minhash_lsh_pairs_capped": (q_minhash_lsh_pairs_capped, SQL_MINHASH_LSH_PAIRS_CAPPED),
    "lsh_heavy_buckets": (q_lsh_heavy_buckets, SQL_LSH_HEAVY_BUCKETS),
    "dedup_heavy_pass": (q_dedup_heavy_pass, SQL_DEDUP_HEAVY_PASS),
    "dedup_pipeline_full": (q_dedup_pipeline_full, _dedup_pipeline_full_sql()),
    "dedup_components": (q_dedup_components, _dedup_components_sql()),
    "dedup_survivors": (q_dedup_survivors, _dedup_survivors_sql()),
    "ngram_jaccard_adjacent": (q_ngram_jaccard_adjacent, SQL_NGRAM_JACCARD),
    "simhash": (q_simhash, SQL_SIMHASH),
    "minhash_incremental": (q_minhash_incremental, SQL_MINHASH_INCREMENTAL),
}
