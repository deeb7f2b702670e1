"""Dashboard slices served from the cached pivot cube
(``superstore_pipeline._pivot_cube``): every slice equals the rollup of
the filtered staged table, and each pivot is one shuffle-free job over
the cached cube."""

import random
from datetime import date, timedelta

import pytest
from pyspark.sql import functions as F

from superstore_data_pipeline_analytics_dashboard__spark.plans import (
    superstore_pipeline as P,
)

#: the last region checks the slicer predicate's quoting
REGIONS = ["Central", "East", "South", "West", "Isle d'Ouest \\ Nord"]
SEGMENTS = ["Consumer", "Corporate", "Home Office"]
CATEGORIES = ["Furniture", "Office Supplies", "Technology"]


def _maybe(rng, values, p_null=0.1):
    return None if rng.random() < p_null else rng.choice(values)


@pytest.fixture(scope="module")
def staged(spark):
    """A compat-mode-shaped staged table: text Sales/Profit (COUNT-only,
    some blank), NULL Region, Segment, Category and OrderDate rows."""
    rng = random.Random(20261017)
    rows = []
    for _ in range(400):
        day = date(2014, 1, 1) + timedelta(days=rng.randrange(4 * 365))
        rows.append((
            _maybe(rng, REGIONS),
            _maybe(rng, SEGMENTS),
            _maybe(rng, CATEGORIES),
            None if rng.random() < 0.05 else day,
            None if rng.random() < 0.1 else f"{rng.uniform(1, 900):.4f}",
            None if rng.random() < 0.1 else f"{rng.uniform(-90, 90):.4f};",
            None if rng.random() < 0.05 else rng.randint(1, 14),
        ))
    df = spark.createDataFrame(
        rows,
        "Region STRING, Segment STRING, Category STRING, OrderDate DATE, "
        "Sales STRING, Profit STRING, Quantity INT",
    )
    return df.cache()


# ------------------------------------------------ reference: the rollups

def _ref_by_category(t):
    return (
        t.rollup("Category")
        .agg(
            F.count("Sales").alias("CountOfSales"),
            F.count("Profit").alias("CountOfProfit"),
            F.sum("Quantity").alias("SumOfQuantity"),
            F.grouping("Category").alias("__g"),
        )
        .select(
            F.when(F.col("__g") == 1, F.lit("Grand Total"))
            .otherwise(F.coalesce("Category", F.lit("(null)")))
            .alias("Category"),
            "CountOfSales",
            "CountOfProfit",
            "SumOfQuantity",
        )
    )


def _ref_by_year_month(t):
    df = t.withColumn("OrderYear", F.year("OrderDate")).withColumn(
        "OrderMonth", F.month("OrderDate")
    )
    return (
        df.rollup("OrderYear", "OrderMonth")
        .agg(
            F.count("Sales").alias("CountOfSales"),
            F.count("Profit").alias("CountOfProfit"),
            F.sum("Quantity").alias("SumOfQuantity"),
            F.grouping("OrderYear").alias("__gy"),
            F.grouping("OrderMonth").alias("__gm"),
        )
        .select(
            F.when(F.col("__gy") == 1, F.lit(-1))
            .otherwise(F.coalesce("OrderYear", F.lit(-2)))
            .alias("OrderYear"),
            F.when(F.col("__gm") == 1, F.lit(-1))
            .otherwise(F.coalesce("OrderMonth", F.lit(-2)))
            .alias("OrderMonth"),
            "CountOfSales",
            "CountOfProfit",
            "SumOfQuantity",
        )
    )


def _reference(t, regions, segments):
    if regions:
        t = t.filter(F.col("Region").isin(regions))
    if segments:
        t = t.filter(F.col("Segment").isin(segments))
    return {"by_category": _ref_by_category(t),
            "by_year_month": _ref_by_year_month(t)}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _types(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def _selection(rng, values):
    pick = rng.random()
    if pick < 0.15:
        return None
    if pick < 0.25:
        return []
    chosen = rng.sample(values, rng.randint(1, len(values)))
    if rng.random() < 0.2:
        chosen.append("Nowhere")  # a value no row carries
    return chosen


def test_slices_equal_the_rollup_of_the_filtered_table(staged):
    rng = random.Random(7)
    selections = [(None, None), ([], []), (["Nowhere"], None),
                  ([REGIONS[-1], None], ["Consumer"])] + [
        (_selection(rng, REGIONS), _selection(rng, SEGMENTS)) for _ in range(9)
    ]
    layers = {"stg": staged}
    for regions, segments in selections:
        got = P.dashboard_superstore(layers, regions, segments)
        want = _reference(staged, regions, segments)
        for name in ("by_category", "by_year_month"):
            assert _types(got[name]) == _types(want[name]), name
            assert _rows(got[name]) == _rows(want[name]), (name, regions, segments)


def test_unsliced_pivots_equal_the_rollups(staged):
    for got, want in ((P.pivot_by_category(staged), _ref_by_category(staged)),
                      (P.pivot_by_year_month(staged), _ref_by_year_month(staged))):
        assert _types(got) == _types(want)
        assert _rows(got) == _rows(want)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_slice_plan_shape_and_cube_memo(spark, staged):
    spark.catalog.clearCache()
    layers = {"stg": staged}

    def collect_slice():
        out = P.dashboard_superstore(layers, ["East", "West"], ["Consumer"])
        for df in out.values():
            df.collect()
        return out

    out = collect_slice()  # builds and caches the cube
    for df in out.values():
        plan = _plan(df)
        # the slice's own operators print above the scan; the cached
        # plan's build (with its shuffle) prints below it
        above_scan, scan, _ = plan.partition("InMemoryTableScan")
        assert scan and "Exchange" not in above_scan, plan
    assert _jobs(spark, "pivot-cube-slice", collect_slice) == 2

    cube = P._CUBES[staged]
    spark.catalog.clearCache()
    out = collect_slice()  # the memo notices the dropped entry
    rebuilt = P._CUBES[staged]
    assert rebuilt is not cube and rebuilt.storageLevel.useMemory
    assert all("InMemoryTableScan" in _plan(df) for df in out.values())

    other = staged.filter(F.col("Region") == "East")
    got = P.dashboard_superstore({"stg": other})["by_category"]
    assert P._CUBES[other] is not P._CUBES[staged]
    assert _rows(got) == _rows(_ref_by_category(other))
    assert "InMemoryTableScan" in _plan(got)


def test_racing_slicers_build_one_cube(spark, staged):
    """Dashboard threads hitting a cold cube at once share one build."""
    import sys
    import threading

    stg = staged.filter(F.col("Segment") == "Corporate")
    got, errors = [], []

    def worker():
        try:
            got.append(P._cached_cube(stg))
        except Exception as e:  # reported through the assertion below
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors and len(got) == 8
    assert all(c is got[0] for c in got) and P._CUBES[stg] is got[0]
