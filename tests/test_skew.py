"""Sketch aggregates for skewed groups: mergeable map-side partials
instead of per-group value lists, so a hot key never gathers its values
in one task. Each estimate must land within its bound of the exact
aggregate on real data."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_approx_count_distinct_within_error_bound(spark):
    """HLL estimate per group must land within ~5 relative standard
    deviations of the exact distinct count (rsd=0.05 -> generous 25%
    tolerance; typical error is far smaller)."""
    from pyspark.sql import functions as F

    from tantalus_spark.catalog.loader import read_parquet

    li = read_parquet(spark, f"{SF}/lineitem.parquet")
    rows = (
        li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n_distinct"),
             F.approx_count_distinct("l_partkey", rsd=0.05)
             .alias("n_distinct_approx"))
        .collect()
    )
    assert rows
    for r in rows:
        n, approx = r["n_distinct"], r["n_distinct_approx"]
        assert abs(approx - n) <= max(5, 0.25 * n), (r["l_returnflag"],
                                                     approx, n)


def test_approx_percentile_within_error_of_exact(spark):
    """The q34 scale path: approx_percentile (mergeable sketch, map-side
    partials, no per-group value lists) must land within its accuracy
    bound of the exact percentile verifier on real data."""
    from pyspark.sql import functions as F

    from tantalus_spark.catalog.loader import read_parquet

    li = read_parquet(spark, f"{SF}/lineitem.parquet")
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
            F.expr("approx_percentile(l_extendedprice, 0.5, 1000)")
            .alias("approx_p50"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("exact_p90"),
            F.expr("approx_percentile(l_extendedprice, 0.9, 1000)")
            .alias("approx_p90"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        # accuracy=1000 -> rank error <= n/1000; on this value range a
        # 5% relative tolerance is a comfortable envelope
        for q in ("p50", "p90"):
            exact, approx = r[f"exact_{q}"], r[f"approx_{q}"]
            assert abs(approx - exact) <= 0.05 * exact, (r["l_returnflag"], q)
