"""Skew and co-location mechanics (SURVEY.md §7.1 M4).

- ``salted_join``: explicit salting for joins whose key distribution is
  skewed beyond what AQE's skew-join splitting handles (AQE only splits
  post-shuffle partitions of sort-merge joins; a single pathological
  key inside one partition still serializes). The fact side gets a
  deterministic content-derived salt; the dim side is replicated
  ``n_salts`` ways; the join key becomes (key, salt).
- co-located joins (``sources.io.write_bucketed_table``): pre-bucketing
  both sides of a recurring join key eliminates the per-query shuffle
  entirely — the plan shows zero Exchange (asserted in
  tests/test_scale_mechanics.py).
  At 100 TB this converts the biggest repeated cost of the cohort DAG's
  user-key joins into a one-time layout decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: fact rows scatter across ``n_salts``
    sub-keys (content-derived, so deterministic under retries and
    repartitioning); the dim side replicates n_salts ways. Result is
    row-identical to ``fact.join(dim, key, how)`` (tested)."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(n_salts)).cast("int")
    fact_s = fact.withColumn("_salt", salt)
    dim_s = dim.withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
    out = fact_s.join(dim_s, [key, "_salt"], how)
    return out.drop("_salt")
