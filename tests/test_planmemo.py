"""Pins for the r6 plan-construction memo: identical inputs yield the
SAME unevaluated DataFrame (plan/codegen reuse across waves), distinct
inputs yield distinct plans, no results are cached, and the kill
switch restores fresh construction."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from swspark.scheduler import Throttle, salted_repartition, schedule_wave
from swspark.seen import with_url_identity


def _frontier(spark, n=100, tag=0):
    return spark.range(n).select(
        F.concat(F.lit(f"https://h{tag}.test/p/"),
                 F.col("id").cast("string")).alias("url"),
        F.lit(f"h{tag}.test").alias("host"),
        F.lit(0).alias("priority"),
        F.lit(None).cast("timestamp").alias("last_fetch_ts"),
    )


def test_same_inputs_same_dataframe(spark):
    f = _frontier(spark)
    a = with_url_identity(f)
    b = with_url_identity(f)
    assert a is b
    budgets = f.select("host").distinct().select(
        "host", F.lit(1.0).alias("crawl_delay")
    )
    s1 = schedule_wave(a, budgets, 10.0, Throttle("CONCURRENT", 100.0))
    s2 = schedule_wave(a, budgets, 10.0, Throttle("CONCURRENT", 100.0))
    assert s1 is s2  # Throttle is compared by value, not identity
    r1 = salted_repartition(s1, 4, 8)
    assert salted_repartition(s1, 4, 8) is r1


def test_different_inputs_fresh_dataframe(spark):
    f1, f2 = _frontier(spark, tag=1), _frontier(spark, tag=2)
    assert with_url_identity(f1) is not with_url_identity(f2)
    a = with_url_identity(f1)
    budgets = f1.select("host").distinct().select(
        "host", F.lit(1.0).alias("crawl_delay")
    )
    s1 = schedule_wave(a, budgets, 10.0, Throttle("CONCURRENT", 100.0))
    s2 = schedule_wave(a, budgets, 20.0, Throttle("CONCURRENT", 100.0))
    assert s1 is not s2


def test_memo_returns_fresh_results_each_action(spark):
    # plan memo must not cache DATA: actions recompute every time
    f = _frontier(spark, n=50)
    df = with_url_identity(f)
    assert df.count() == 50
    assert df.count() == 50
    rows = {r.url_hash for r in df.select("url_hash").collect()}
    assert len(rows) == 50


def test_kill_switch(spark):
    f = _frontier(spark, tag=3)
    os.environ["SPARK_GRAFT_PLAN_MEMO"] = "0"
    try:
        assert with_url_identity(f) is not with_url_identity(f)
    finally:
        os.environ.pop("SPARK_GRAFT_PLAN_MEMO", None)


def test_unhashable_argument_falls_back_to_plain_call():
    from swspark.planmemo import memoize_plan

    calls = []

    @memoize_plan
    def build(arg):
        calls.append(arg)
        return object()

    # a tuple is keyed by value, but one holding a list cannot hash
    assert build((1, [2])) is not build((1, [2]))
    assert len(calls) == 2
