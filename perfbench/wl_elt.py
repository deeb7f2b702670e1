"""``elt_full_load``: repeated full loads of one seeded messy CSV through
``plans.superstore_pipeline`` to ``write_star``.

One operation is one load: ``superstore_pipeline.run`` (messy-CSV recovery,
staging, dedup, the seven dimensions, the fact), then the QA frame and the
four views materialised, then ``write_star``. The cache is cleared before
every load. The written star is read back and checked against the
generator's ground truth: census, dedup count and exact decimal sums.

A traced load replays ``run`` step by step with the same public
functions, persisting each layer's output at its boundary so every span
times its own layer.

``load`` is shared with ``dashboard_serving``, whose set-up builds its
star with it.
"""

from __future__ import annotations

import time
from decimal import Decimal
from pathlib import Path

import gen_csv
from harness import Op, Workload, median, span_p50, spans_named

from superstore_data_pipeline_analytics_dashboard__spark.plans import (
    superstore_pipeline as P,
)
from superstore_data_pipeline_analytics_dashboard__spark.sources.messy_csv import (
    read_superstore_csv,
)

N_RECORDS = 20_000
N_DUPLICATES = 20
VIEWS = ("v_rolling30", "v_customer_cohort", "v_top_products_by_subcat",
         "v_suspicious_discounts")
STAR = ("dim_date", "dim_shipmode", "dim_category", "dim_subcategory",
        "dim_geography", "dim_customer", "dim_product", "fact_sales")


def write_input(work: Path, seed: int, n_records: int = N_RECORDS,
                n_dups: int = N_DUPLICATES) -> tuple[Path, dict]:
    work.mkdir(parents=True, exist_ok=True)
    data, truth, _ = gen_csv.generate(seed, n_records, n_dups)
    path = work / "superstore.csv"
    path.write_bytes(data)
    return path, truth


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def load(ctx, csv_path: Path, out_dir: Path, views: bool = True) -> dict:
    """One load; returns the layers of ``superstore_pipeline.run``. The QA
    frame and the four views are materialised (unless ``views`` is false),
    then ``write_star`` writes the star to ``out_dir``."""
    spark, tr = ctx.spark, ctx.tracer
    spark.catalog.clearCache()
    layers = _traced_run(ctx, csv_path) if tr.enabled else P.run(spark, str(csv_path))
    if views:
        with tr.span("pipeline.views"):
            _noop(layers["qa_issues"])
            for v in VIEWS:
                _noop(layers[v])
    with tr.span("pipeline.write_star"):
        P.write_star(layers, str(out_dir))
    return layers


def _traced_run(ctx, csv_path: Path) -> dict:
    """``superstore_pipeline.run`` replayed step by step, each layer
    persisted at its boundary so its span times its own work."""
    spark, tr = ctx.spark, ctx.tracer
    with tr.span("messy_csv.read"):
        raw = tr.boundary(read_superstore_csv(spark, str(csv_path)))
    with tr.span("pipeline.stage_dedup"):
        stg_all = tr.boundary(P.stage_typed(raw))
        stg = tr.boundary(P.dedup_staged(stg_all).cache())
    dims = {}
    with tr.span("pipeline.dims"):
        dims["date"] = tr.boundary(P.build_date_dim(spark, stg))
        dims["shipmode"] = tr.boundary(P.build_shipmode_dim(stg))
        dims["category"] = tr.boundary(P.build_category_dim(stg))
        dims["subcategory"] = tr.boundary(P.build_subcategory_dim(stg, dims["category"]))
        dims["geography"] = tr.boundary(P.build_geography_dim(stg))
        dims["customer"] = tr.boundary(P.build_customer_dim(stg))
        dims["product"] = tr.boundary(
            P.build_product_dim(stg, dims["subcategory"], dims["category"]))
    with tr.span("pipeline.fact"):
        fact = tr.boundary(P.build_fact(stg, dims).cache())
    return {
        "raw": raw, "stg_all": stg_all, "stg": stg,
        "qa_issues": P.qa_issues(stg),
        **{f"dim_{k}": v for k, v in dims.items()},
        "fact": fact,
        "v_rolling30": P.v_rolling30(fact, dims),
        "v_customer_cohort": P.v_customer_cohort(fact, dims),
        "v_top_products_by_subcat": P.v_top_products_by_subcat(fact, dims),
        "v_suspicious_discounts": P.v_suspicious_discounts(fact),
        "pivot_by_category": P.pivot_by_category(stg),
    }


CUBE_SQL = """
SELECT g.Region AS region, c.Segment AS segment, k.Category AS category,
       d.Year AS year, COUNT(*) AS lines, SUM(f.Quantity) AS quantity,
       SUM(f.Sales) AS sales, SUM(f.Profit) AS profit
FROM fact_sales f
JOIN dim_geography g ON f.GeographyKey = g.GeographyKey
JOIN dim_customer c ON f.CustomerKey = c.CustomerKey
JOIN dim_product p ON f.ProductKey = p.ProductKey
JOIN dim_subcategory s ON p.SubCategoryKey = s.SubCategoryKey
JOIN dim_category k ON s.CategoryKey = k.CategoryKey
JOIN dim_date d ON f.OrderDateKey = d.DateKey
GROUP BY g.Region, c.Segment, k.Category, d.Year
"""

COUNTS_SQL = """
SELECT 'stg_all' AS t, COUNT(*) AS n FROM stg_all
UNION ALL SELECT 'unparsed', COUNT(*) FROM stg_all
  WHERE OrderID IS NULL OR ProductID IS NULL OR OrderDate IS NULL
     OR Sales IS NULL OR Quantity IS NULL OR Profit IS NULL
UNION ALL SELECT 'stg', COUNT(*) FROM stg
UNION ALL SELECT 'customers', COUNT(*) FROM dim_customer
UNION ALL SELECT 'products', COUNT(*) FROM dim_product
UNION ALL SELECT 'geographies', COUNT(*) FROM dim_geography
"""


def written_star(spark, out_dir: Path) -> dict:
    return {name: spark.read.parquet(str(out_dir / name)) for name in STAR}


def star_census(spark, star: dict, layers: dict) -> dict:
    """Census and cube sums of a star (table name → frame)."""
    for name, df in star.items():
        df.createOrReplaceTempView(name)
    layers["stg_all"].createOrReplaceTempView("stg_all")
    layers["stg"].createOrReplaceTempView("stg")
    counts = {r["t"]: r["n"] for r in spark.sql(COUNTS_SQL).collect()}
    cube = {
        (r["region"], r["segment"], r["category"], r["year"]):
            (r["lines"], r["quantity"], Decimal(r["sales"]), Decimal(r["profit"]))
        for r in spark.sql(CUBE_SQL).collect()
    }
    return {"counts": counts, "cube": cube}


def census_matches(census: dict, truth: dict) -> bool:
    c = census["counts"]
    want_cube = {
        (x["region"], x["segment"], x["category"], x["year"]):
            (x["lines"], x["quantity"], Decimal(x["sales"]), Decimal(x["profit"]))
        for x in truth["cube"]
    }
    return (
        c["stg_all"] == truth["records"]
        and c["unparsed"] == 0
        and c["stg_all"] - c["stg"] == len(truth["planted_duplicates"])
        and c["customers"] == truth["customers"]
        and c["products"] == truth["products"]
        and c["geographies"] == truth["geographies"]
        and census["cube"] == want_cube
    )


def dir_stats(path: Path) -> tuple[int, float]:
    """Parquet data files and their MB under ``path``."""
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files) / 1024.0 / 1024.0


def elt_layers(spans: list[dict], dec: dict, within: str | None) -> dict:
    fact = spans_named(spans, "pipeline.fact", within)
    return {
        "messy_csv.read_s": span_p50(spans, "messy_csv.read", within),
        "pipeline.stage_dedup_s": span_p50(spans, "pipeline.stage_dedup", within),
        "pipeline.dims_s": span_p50(spans, "pipeline.dims", within),
        "pipeline.fact_s": span_p50(spans, "pipeline.fact", within),
        "pipeline.fact_shuffle_write_mb": (
            sum(dec[s["id"]]["incl_shuffle_write_mb"] for s in fact) / len(fact)
            if fact else 0.0),
        "pipeline.views_s": span_p50(spans, "pipeline.views", within),
        "pipeline.write_star_s": span_p50(spans, "pipeline.write_star", within),
    }


class EltFullLoad(Workload):
    # a pass is a whole load; three would triple the run's set-up time
    setup_passes = 1
    kinds = ("load",)

    def __init__(self, ctx):
        super().__init__(ctx)
        self.last_census: dict | None = None

    def prepare(self) -> None:
        self.csv, self.truth = write_input(self.ctx.work, self.ctx.seed)

    def setup(self) -> None:
        # warm-up load: JIT and codegen caches fill here, untimed
        load(self.ctx, self.csv, self.ctx.work / "star")

    def op(self, i: int) -> Op:
        out = self.ctx.work / "star"
        t = time.time()
        with self.ctx.tracer.span("op.load"):
            layers = load(self.ctx, self.csv, out)
        dt = time.time() - t
        census = star_census(self.ctx.spark, written_star(self.ctx.spark, out), layers)
        self.last_census = census
        self.star_files, self.star_mb = dir_stats(out)
        return Op("load", dt, census_matches(census, self.truth))

    def layer_metrics(self, spans, dec, plain, traced) -> dict:
        c = self.last_census["counts"]
        return {
            **elt_layers(spans, dec, "timed"),
            "elt.rows_per_s": self.truth["records"] / median([o.seconds for o in plain]),
            "messy_csv.unparsed_rows": c["unparsed"],
            "pipeline.dedup_rows_removed": c["stg_all"] - c["stg"],
            "pipeline.write_star_files": self.star_files,
            "pipeline.write_star_mb": self.star_mb,
        }
