"""Scale-mechanics tests: two tables bucketed on the same key join with
no shuffle, and the same join without bucketing shuffles."""

import os

from oct_report_ocr_spark.plans.report import plan_checks
from oct_report_ocr_spark.sources.io import write_bucketed_table

from .conftest import SF_SMOKE


def test_bucketed_join_no_shuffle(spark):
    """Two tables bucketed on the same key join with ZERO exchanges."""
    li = spark.read.parquet(os.path.join(SF_SMOKE, "lineitem.parquet"))
    od = spark.read.parquet(os.path.join(SF_SMOKE, "orders.parquet"))
    write_bucketed_table(li.select("l_orderkey", "l_quantity"), "t_li_b", "l_orderkey", 8)
    write_bucketed_table(od.select("o_orderkey", "o_totalprice"), "t_od_b", "o_orderkey", 8)
    try:
        a = spark.table("t_li_b")
        b = spark.table("t_od_b")
        joined = a.join(b, a.l_orderkey == b.o_orderkey)
        # disable auto-broadcast so the test exercises the bucketed path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            c = plan_checks(joined)
            assert c["n_exchanges"] == 0, c
            assert joined.count() == li.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_b")
        spark.sql("DROP TABLE IF EXISTS t_od_b")


def test_unbucketed_same_join_shuffles(spark):
    """Control: the identical join without bucketing needs exchanges —
    proving the bucketed layout is what removed them."""
    li = spark.read.parquet(os.path.join(SF_SMOKE, "lineitem.parquet")).select(
        "l_orderkey", "l_quantity"
    )
    od = spark.read.parquet(os.path.join(SF_SMOKE, "orders.parquet")).select(
        "o_orderkey", "o_totalprice"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        c = plan_checks(li.join(od, li.l_orderkey == od.o_orderkey))
        assert c["n_exchanges"] >= 2, c
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
