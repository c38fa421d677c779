"""Mergeable partial aggregates (operators/incremental)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_only_importer_prototype_spark.operators import incremental as inc


def _specs():
    return {
        "s": ("sum", F.col("v").cast("decimal(12,2)")),
        "lo": ("min", F.col("v")),
        "hi": ("max", F.col("v")),
    }


def test_merge_of_slices_equals_single_pass(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("g"), (F.col("id") * 1.5).alias("v")
    )
    slices = [
        df.where(F.col("id") % 3 == i) for i in range(3)
    ]
    g = ["g"]
    merged = inc.merge_partials(
        [inc.partial_aggs(s, g, _specs()) for s in slices], g, _specs()
    )
    direct = inc.partial_aggs(df, g, _specs())
    m = {r.g: (r.n_rows, r.s, r.lo, r.hi) for r in merged.collect()}
    d = {r.g: (r.n_rows, r.s, r.lo, r.hi) for r in direct.collect()}
    assert m == d


def test_merge_handles_groups_missing_from_a_slice(spark):
    a = spark.createDataFrame([(1, 10.0), (2, 20.0)], "g long, v double")
    b = spark.createDataFrame([(2, 5.0), (3, 30.0)], "g long, v double")
    g = ["g"]
    out = {
        r.g: (r.n_rows, r.lo, r.hi)
        for r in inc.merge_partials(
            [inc.partial_aggs(x, g, _specs()) for x in (a, b)], g, _specs()
        ).collect()
    }
    assert out[1] == (1, 10.0, 10.0)
    assert out[2] == (2, 5.0, 20.0)
    assert out[3] == (1, 30.0, 30.0)


def test_partial_aggs_rejects_unknown_fn(spark):
    df = spark.createDataFrame([(1, 1.0)], "g long, v double")
    with pytest.raises(ValueError, match="unsupported partial agg"):
        inc.partial_aggs(df, ["g"], {"x": ("avg", F.col("v"))})


def test_partial_aggs_rejects_reserved_output_names(spark):
    df = spark.createDataFrame([(1, 1.0)], "g long, v double")
    with pytest.raises(ValueError, match="collide"):
        inc.partial_aggs(df, ["g"], {"n_rows": ("sum", F.col("v"))})
    with pytest.raises(ValueError, match="collide"):
        inc.partial_aggs(df, ["g"], {"g": ("max", F.col("v"))})


def test_merge_requires_input(spark):
    with pytest.raises(ValueError, match="no partial frames"):
        inc.merge_partials([], ["g"], _specs())


def test_merge_is_one_reaggregation_no_join(spark):
    df = spark.range(0, 100).select(
        (F.col("id") % 3).alias("g"), F.col("id").cast("double").alias("v")
    )
    g = ["g"]
    p1 = inc.partial_aggs(df.where(F.col("id") < 50), g, _specs())
    p2 = inc.partial_aggs(df.where(F.col("id") >= 50), g, _specs())
    plan = (
        inc.merge_partials([p1, p2], g, _specs())
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan  # fold is union + agg, never a join


def test_negate_partials_retracts_exactly(spark):
    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark.operators import (
        incremental as inc,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0)], "g string, v double"
    )
    specs = {"s": ("sum", F.col("v").cast("decimal(12,2)"))}
    p = inc.partial_aggs(df, ["g"], specs)
    # p ⊕ (-p) folds every group to zero rows
    merged = inc.merge_partials(
        [p, inc.negate_partials(p, specs)], ["g"], specs
    )
    assert merged.where("n_rows != 0").count() == 0
    # retract only one slice: remaining state equals the other slice
    a_only = df.where("g = 'a'")
    rem = inc.merge_partials(
        [p, inc.negate_partials(inc.partial_aggs(a_only, ["g"], specs), specs)],
        ["g"],
        specs,
    ).where("n_rows > 0")
    rows = {r.g: (r.n_rows, float(r.s)) for r in rem.collect()}
    assert rows == {"b": (1, 5.0)}


def test_negate_partials_refuses_min_max(spark):
    import pytest
    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark.operators import (
        incremental as inc,
    )

    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    specs = {"m": ("min", F.col("v"))}
    p = inc.partial_aggs(df, ["g"], specs)
    with pytest.raises(ValueError, match="not retractable"):
        inc.negate_partials(p, specs)


def test_join_delta_decomposition_is_exact_and_disjoint(spark):
    from clickhouse_only_importer_prototype_spark.operators.incremental import (
        join_delta,
    )

    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, lv string"
    )
    dleft = spark.createDataFrame([(2, "B2"), (4, "d")], "k long, lv string")
    right = spark.createDataFrame(
        [(1, 10), (2, 20), (4, 40)], "k long, rv long"
    )
    dright = spark.createDataFrame([(2, 21), (3, 30)], "k long, rv long")

    full = (
        left.unionByName(dleft)
        .join(right.unionByName(dright), "k")
        .collect()
    )
    old = left.join(right, "k").collect()
    delta = join_delta(left, dleft, right, dright, "k").collect()
    key = lambda r: (r.k, r.lv, r.rv)
    # old ∪ delta == full, with no overlap (append-only disjointness)
    assert sorted(map(key, old + delta)) == sorted(map(key, full))
