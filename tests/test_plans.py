"""Plan-quality gates (SURVEY.md §4): the properties that matter at
100 TB are asserted mechanically, not eyeballed."""

import os
import re

from pyspark.sql import functions as F

from oct_report_ocr_spark.jobs.extract_job import extract_df
from oct_report_ocr_spark.operators import relational
from oct_report_ocr_spark.plans.report import formatted, optimized, plan_checks
from oct_report_ocr_spark.synth.gen_corpus import ensure_corpus

from .conftest import CACHE, SF_SMOKE


def test_extraction_plan_single_exchange_and_pushdown(spark):
    """The extraction plan runs on the scan splits with no shuffle and
    the lang filter at the scan — re-reading or shuffling the html
    payload is the 100 TB killer."""
    corpus = ensure_corpus(CACHE, 0.001)
    plan = extract_df(spark.read.parquet(corpus), buckets=16)
    c = plan_checks(plan)
    assert c["n_exchanges"] == 0, c
    assert any("lang" in pf for pf in c["pushed_filters"]), c


def test_relational_scan_prunes_columns(spark):
    """A 2-column projection must not read the whole documents table."""
    df = relational.q_filtered_scan(spark, SF_SMOKE)
    schemas = plan_checks(df)["read_schemas"]
    assert schemas and all("text" in s for s in schemas)  # filter col read
    # the wide 'source'/'n_chars' are selected; 'lang' is pushed+read;
    # nothing else exists in this table, so just assert pushdown happened
    assert any("lang" in pf for pf in plan_checks(df)["pushed_filters"])


def test_dim_join_uses_broadcast(spark):
    """Small dims must broadcast — a sort-merge join on region/nation
    at 100 TB shuffles the fact table for nothing."""
    c = plan_checks(relational.q_dim_join_agg(spark, SF_SMOKE))
    assert c["n_broadcast_joins"] >= 3, c
    assert c["n_sortmerge_joins"] == 0, c


def test_embedding_dedup_pipeline_no_nested_loop(spark):
    """VERDICT r01 item 4: the candidate-pair stage must be an
    equi-join on the LSH bucket key (hash join) — a nested-loop /
    cartesian pair generator is O(n²) and dead at 10⁹ vectors. The
    only tolerated cross product is none."""
    from oct_report_ocr_spark.operators import similarity

    c = plan_checks(similarity.q_embedding_dedup_pipeline(spark, SF_SMOKE))
    assert c["n_nested_loop_joins"] == 0, c


def test_codegen_covers_relational_plan(spark):
    """Whole-stage codegen spans exist (JVM-side execution, no Python
    in the relational path). AQE reveals them only post-execution."""
    from oct_report_ocr_spark.plans.report import codegen_spans_executed

    assert codegen_spans_executed(relational.q_conditional_agg(spark, SF_SMOKE)) >= 1


def test_no_python_udfs_in_registered_queries(spark):
    """input_hint mandate: no per-row Python in any registered query —
    plans must be free of BatchEvalPython/PythonUDF nodes."""
    import __spark_entry__ as entry

    for name, fn in entry.queries().items():
        p = formatted(fn(spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, name
        assert "PythonUDF" not in p, name


def test_scan_aligned_mode_no_exchange_and_identical_bytes(spark):
    """Extraction on the scan splits must add NO shuffle, and its output
    must be byte-identical to extraction over a url-hash repartition of
    the input (the kernel is partitioning-invariant)."""
    corpus = ensure_corpus(CACHE, 0.001)
    docs = spark.read.parquet(corpus)
    aligned = extract_df(docs, buckets=16)
    assert plan_checks(aligned)["n_exchanges"] == 0
    shuffled = extract_df(docs.repartition(7, "url"), buckets=16)
    cols = ["url", "extracted_text", "error", "bucket"]
    a = {tuple(r) for r in aligned.select(cols).collect()}
    b = {tuple(r) for r in shuffled.select(cols).collect()}
    assert a == b


def test_lsh_self_join_not_broadcast(spark):
    """The LSH band self-join must be a shuffled hash join: both sides
    are the same exploded band table, so shuffling lets the signature
    subtree compute once (ReusedExchange); broadcasting would collect an
    unbounded table to the driver at corpus scale."""
    from oct_report_ocr_spark.operators import dedup

    p = formatted(dedup.q_minhash_lsh_pairs(spark, SF_SMOKE))
    assert "ShuffledHashJoin" in p, p[:1500]
    assert "BroadcastHashJoin" not in p, p[:1500]


def test_signature_stages_repartition_wide(spark):
    """CPU-heavy signature stages must not inherit a single-split scan:
    the widening repartition has to appear in the plan."""
    from oct_report_ocr_spark.operators import dedup

    for q in (dedup.q_minhash_signatures, dedup.q_simhash):
        p = formatted(q(spark, SF_SMOKE))
        assert "REPARTITION_BY_NUM" in p, p[:1500]


def test_extraction_resume_filter_reaches_scan(spark):
    """Resume (exclude_buckets) must prune before the Python stage."""
    corpus = ensure_corpus(CACHE, 0.001)
    plan = extract_df(spark.read.parquet(corpus), buckets=16, exclude_buckets=[0, 1])
    p = formatted(plan)
    # the bucket-exclusion predicate must sit in a scan-side Filter,
    # not after MapInArrow
    m = __import__("re").search(r"NOT cast\(pmod\(xxhash64\(url[^\n]*IN \(0,1\)", p)
    assert m, p[:2000]
    # the details section lists nodes bottom-up in execution order: the
    # Filter detail carrying the predicate must precede the MapInArrow
    # detail block (i.e. the filter runs below the Python stage)
    assert m.start() < p.rindex("MapInArrow"), p[:2000]


import pytest


@pytest.fixture(scope="module")
def registry_frames(spark):
    """EVERY registered query's DataFrame at SF_SMOKE, built once per
    module run and shared by the registry-wide gates below."""
    import __spark_entry__ as entry

    return {name: fn(spark, SF_SMOKE) for name, fn in entry.queries().items()}


@pytest.fixture(scope="module")
def registry_plan_checks(registry_frames):
    return {name: plan_checks(df) for name, df in registry_frames.items()}


def test_registry_holds_every_query():
    """A module of the registry that fails to import must fail here,
    not shrink every registry-built test."""
    from oct_report_ocr_spark.operators import all_queries

    assert len(all_queries()) == 108


#: an isnotnull the optimizer inferred over a computed key: it runs the
#: key's whole expression a second time, below the projection
_COMPUTED_KEY_NULL_FILTER = re.compile(r"isnotnull\((?:md5|regexp_replace|lower)\(")


def test_no_null_filter_recomputes_a_join_key(spark, registry_frames):
    """A join on a nullable computed key (md5 of the _NORM regex chain)
    makes Catalyst infer isnotnull(md5(...)) and evaluate the chain
    twice per row. No registered query, and not the curation job's
    tiered plan, may carry one; the curation plan evaluates _NORM once
    per join branch."""
    from oct_report_ocr_spark.jobs.curate_job import curated

    plans = {name: optimized(df) for name, df in registry_frames.items()}
    docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    plans["curate_job"] = optimized(curated(docs).repartition("tier", "lang"))
    bad = {n: m for n, p in plans.items() if (m := _COMPUTED_KEY_NULL_FILTER.findall(p))}
    assert not bad
    assert plans["curate_job"].count("regexp_replace(regexp_replace") <= 2, plans["curate_job"]


def test_exchange_budget_no_regression(registry_plan_checks):
    """Per-query shuffle-count budget: every registered query's executed
    plan must stay within its recorded exchange count
    (tests/fixtures/plan_budget.json). An edit that sneaks an extra
    Exchange into any of the 100+ plans — the classic silent 100 TB
    regression — fails here instead of shipping. New queries must
    record a budget (a conscious scale-posture decision, reviewed like
    the PLANS.md snapshot)."""
    import json

    with open(os.path.join(os.path.dirname(__file__), "fixtures", "plan_budget.json")) as f:
        budget = json.load(f)
    for name, c in registry_plan_checks.items():
        assert name in budget, (
            f"new query {name!r}: record its exchange budget in "
            "tests/fixtures/plan_budget.json (a deliberate scale-posture decision)"
        )
        assert c["n_exchanges"] <= budget[name], (name, c["n_exchanges"], budget[name])


def test_ivf_argmin_is_aggregate_not_window(spark):
    """VERDICT r03 item 2: the per-vector argmin over the K broadcast
    centroids must be a map-side-combinable aggregate (max_by), never a
    Window.partitionBy(vec_id) row_number — the Window form shuffles
    AND sorts all N×K scored rows, while the aggregate's partial
    combine ships N best-so-far rows. At 10⁹ vectors that is the
    difference between a scan-shaped pass and a corpus×K sort."""
    from oct_report_ocr_spark.operators.similarity import q_ann_ivf_assign

    p = formatted(q_ann_ivf_assign(spark, SF_SMOKE))
    assert "Window" not in p, p[:2000]
    assert "partial_max_by" in p, p[:2000]


def test_no_nested_loop_join_in_any_registered_query(spark, registry_plan_checks):
    """VERDICT r02 item 6: no registered query may contain a nested-loop
    (cartesian) join — the one O(n²) plan class that cannot survive
    corpus scale. The single exemption is the documented all-pairs
    exactness baseline `embedding_near_dup`, which additionally carries
    a BASELINE_MAX_VECTORS row-count guard (asserted below)."""
    from oct_report_ocr_spark.operators import similarity

    BASELINE_EXEMPT = {"embedding_near_dup"}
    # BroadcastNestedLoopJoin over a provably-bounded broadcast side (the
    # single query vector / the K IVF centroids) is a map-only scan — the
    # correct plan at any corpus size. Only these may carry one.
    # tfidf_topterms broadcasts the ONE-row corpus doc count (Catalyst
    # constant-folds the lit-key equi-condition away, leaving a 1-row
    # BNLJ — a map-only scan, same bounded class as the query vector).
    # ann_recall_check composes ann_topk + both IVF paths, so it carries
    # their bounded query-vector BNLJs (and nothing else — its own joins
    # are 10-row broadcasts). bigram_assoc broadcasts the ONE-row corpus
    # token total, same bounded class as tfidf_topterms' doc count.
    # kmeans_converge carries the same bounded broadcast-K assignment
    # BNLJs as the IVF family (two Lloyd iterations = two assigns).
    BOUNDED_BROADCAST_OK = {"ann_cosine_bruteforce", "ann_topk", "ann_ivf_assign", "ann_ivf_probe", "ann_ivf_multiprobe", "kmeans_step", "kmeans_converge", "tfidf_topterms", "ann_recall_check", "bigram_assoc"}
    for name, c in registry_plan_checks.items():
        if name in BASELINE_EXEMPT:
            continue
        assert c["n_cartesian_products"] == 0, (name, c)
        if name not in BOUNDED_BROADCAST_OK:
            assert c["n_broadcast_nl_joins"] == 0, (name, c)
    # the exempted baseline must refuse production-scale input
    orig = similarity.BASELINE_MAX_VECTORS
    try:
        similarity.BASELINE_MAX_VECTORS = 1
        with pytest.raises(ValueError, match="O\\(n²\\) oracle baseline"):
            similarity.q_embedding_near_dup(spark, SF_SMOKE)
        # and still serve the oracle when explicitly allowed
        df = similarity.q_embedding_near_dup(spark, SF_SMOKE, allow_large=True)
        assert df.columns == ["vec_a", "vec_b", "cos_sim"]
    finally:
        similarity.BASELINE_MAX_VECTORS = orig
