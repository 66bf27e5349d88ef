"""operators/ivm.py: delta-merge equals full recompute, group
drop-to-zero, negative-delta groups, strict op validation, and a
strict call that reuses its generated code."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from k_means_using_mapreduce_spark.operators.ivm import (
    delta_aggregate,
    maintain_aggregate,
    merge_aggregate,
)
from k_means_using_mapreduce_spark.session import CODEGEN_CACHE_ENTRIES


def _rows(spark, rows):
    return spark.createDataFrame(rows, "g string, v double")


def _agg(df):
    return df.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v")
    )


def _changes(spark, rows):
    return spark.createDataFrame(rows, "g string, v double, op string")


def test_maintenance_equals_recompute(spark):
    base = _rows(spark, [("a", 1.0), ("a", 2.0), ("b", 5.0)])
    changes = _changes(
        spark,
        [("a", 4.0, "i"), ("b", 5.0, "d"), ("c", 7.0, "i"), ("c", 1.0, "i")],
    )
    out = {
        r["g"]: r
        for r in maintain_aggregate(_agg(base), changes, ["g"], "v").collect()
    }
    # new state: a={1,2,4}, b={}, c={7,1}
    assert set(out) == {"a", "c"}  # b dropped at count zero
    assert out["a"]["n"] == 3 and out["a"]["sum_v"] == pytest.approx(7.0)
    assert out["c"]["n"] == 2 and out["c"]["sum_v"] == pytest.approx(8.0)


def test_delta_aggregate_signs(spark):
    d = {
        r["g"]: r
        for r in delta_aggregate(
            _changes(spark, [("a", 3.0, "i"), ("a", 1.0, "d"), ("b", 2.0, "d")]),
            ["g"],
            "v",
        ).collect()
    }
    assert d["a"]["n"] == 0 and d["a"]["sum_v"] == pytest.approx(2.0)
    assert d["b"]["n"] == -1 and d["b"]["sum_v"] == pytest.approx(-2.0)


def test_strict_rejects_unknown_ops(spark):
    bad = _changes(spark, [("a", 1.0, "upsert")])
    with pytest.raises(ValueError):
        delta_aggregate(bad, ["g"], "v")
    # non-strict mode treats unknown ops as deletes by the otherwise()
    # branch -- callers opting out own that semantics.
    out = delta_aggregate(bad, ["g"], "v", strict=False).first()
    assert out["n"] == -1


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_strict_repeat_compiles_nothing(spark):
    # a limit names its generated counter by a global id, so a
    # limit(1) probe would compile fresh classes on every call
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    changes = _changes(spark, [("a", 1.0, "i"), ("b", 2.0, "d")])
    first = delta_aggregate(changes, ["g"], "v").collect()
    before = _compiles(spark)
    again = delta_aggregate(changes, ["g"], "v").collect()
    assert _compiles(spark) == before
    assert sorted(again) == sorted(first)


def test_merge_drops_inconsistent_negative_groups(spark):
    base = _agg(_rows(spark, [("a", 1.0)]))
    delta = spark.createDataFrame(
        [("a", -5, -9.0)], "g string, n long, sum_v double"
    )
    assert merge_aggregate(base, delta, ["g"]).count() == 0


def test_idempotent_on_empty_changes(spark):
    base = _agg(_rows(spark, [("a", 1.0), ("b", 2.0)]))
    empty = _changes(spark, []).where(F.lit(False))
    out = maintain_aggregate(base, empty, ["g"], "v")
    assert sorted((r["g"], r["n"]) for r in out.collect()) == [
        ("a", 1),
        ("b", 1),
    ]
