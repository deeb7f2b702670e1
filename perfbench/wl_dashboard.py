"""``dashboard_serving``: one dashboard user in a closed loop over a cached
star.

The build runs one ELT load (``wl_elt.load``: messy-CSV recovery,
staging, dedup, the seven dimensions, the fact, ``write_star``) of a
seeded messy CSV and writes the staged table beside the star; the written
star's census, dedup count and cube sums are then checked against the
ground truth, untimed. A set-up pass reads them back, caches and
materialises them, builds the four ``v_*`` views over the cached fact and
registers everything with ``register_star_views``; the warm-up serves one
operation of each kind. The loop serves:

* ``slice`` (half): ``dashboard_superstore`` with seeded region and
  segment slicers; both pivots are checked against the ground-truth cube;
* ``view`` (a quarter): each of the four views in turn, checked against
  the rows it served in the warm-up (and, for ``v_suspicious_discounts``,
  against the generator's count); each view is its own operation kind;
* ``sql`` (a quarter): a star join through ``spark.sql`` with seeded year
  and region predicates, checked against the cube.

The kinds follow a fixed 16-operation cycle, so every run measures the
same mix; the seed draws the slicers and predicates.
"""

from __future__ import annotations

import hashlib
import random
import time
from decimal import Decimal

import gen_csv
import wl_elt
from harness import Op, Workload, median, mix_p50, percentile, spans_named

from superstore_data_pipeline_analytics_dashboard__spark.plans import (
    superstore_pipeline as P,
)

N_RECORDS = 5_000
N_DUPLICATES = 5
YEARS = (2014, 2015, 2016, 2017)
#: the operation cycle: every view once, slices and queries between them
KINDS = tuple(k for v in wl_elt.VIEWS for k in ("slice", "sql", "slice", v))

SQL = """
SELECT k.Category AS category, COUNT(*) AS lines, SUM(f.Quantity) AS quantity,
       SUM(f.Sales) AS sales, SUM(f.Profit) AS profit
FROM fact f
JOIN dim_date d ON f.OrderDateKey = d.DateKey
JOIN dim_geography g ON f.GeographyKey = g.GeographyKey
JOIN dim_product p ON f.ProductKey = p.ProductKey
JOIN dim_subcategory s ON p.SubCategoryKey = s.SubCategoryKey
JOIN dim_category k ON s.CategoryKey = k.CategoryKey
WHERE d.Year = {year} AND g.Region = '{region}'
GROUP BY k.Category
"""


def _digest(rows) -> str:
    return hashlib.sha1("\n".join(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class DashboardServing(Workload):
    kinds = KINDS

    def __init__(self, ctx):
        super().__init__(ctx)
        self.rng = random.Random(ctx.seed * 7919 + 1)

    def prepare(self) -> None:
        self.csv, self.truth = wl_elt.write_input(
            self.ctx.work, self.ctx.seed, N_RECORDS, N_DUPLICATES)
        self.star = self.ctx.work / "star"

    def build(self) -> None:
        """The star the dashboard serves, from one ELT load, and the staged
        table the slicers filter. The views are served from the cached
        star; only a traced load materialises them here, for their layer."""
        t = time.time()
        self.built = wl_elt.load(self.ctx, self.csv, self.star,
                                 views=self.ctx.tracer.enabled)
        self.load_s = time.time() - t
        self.built["stg"].write.parquet(str(self.ctx.work / "stg"))

    def check_build(self) -> None:
        """The written star against the generator's ground truth: census,
        dedup count and cube sums."""
        spark = self.ctx.spark
        self.census = wl_elt.star_census(
            spark, wl_elt.written_star(spark, self.star), self.built)
        if not wl_elt.census_matches(self.census, self.truth):
            raise RuntimeError("dashboard_serving: the built star does not match "
                               "the ground truth")
        self.star_files, self.star_mb = wl_elt.dir_stats(self.star)

    def setup(self) -> None:
        """Read the star back, cache it and build the views over it."""
        spark = self.ctx.spark
        spark.catalog.clearCache()
        tables = wl_elt.written_star(spark, self.star)
        tables["stg"] = spark.read.parquet(str(self.ctx.work / "stg"))
        for df in tables.values():
            df.cache().count()
        dims = {n[4:]: df for n, df in tables.items() if n.startswith("dim_")}
        fact = tables["fact_sales"]
        self.layers = {
            "stg": tables["stg"], "fact": fact,
            **{f"dim_{k}": v for k, v in dims.items()},
            "v_rolling30": P.v_rolling30(fact, dims),
            "v_customer_cohort": P.v_customer_cohort(fact, dims),
            "v_top_products_by_subcat": P.v_top_products_by_subcat(fact, dims),
            "v_suspicious_discounts": P.v_suspicious_discounts(fact),
        }
        P.register_star_views(spark, self.layers)

    def warm_up(self) -> None:
        """One operation of each kind: a slice, a query and every view,
        whose rows here become the reference the loop's view results are
        checked against."""
        self.view_digest: dict[str, str] = {}
        first = [KINDS.index(k) for k in dict.fromkeys(KINDS)]
        if not all(self.op(i).ok for i in first):
            raise RuntimeError("dashboard_serving: a warm-up operation failed its check")

    # ---------------------------------------------------------------- ops

    def _slice(self, regions, segments):
        res = P.dashboard_superstore(self.layers, regions, segments)
        return res, (res["by_category"].collect(), res["by_year_month"].collect())

    def _sql(self, year, region):
        df = self.ctx.spark.sql(SQL.format(year=year, region=region))
        return df, df.collect()

    def op(self, i: int) -> Op:
        kind = KINDS[i % len(KINDS)]
        tr = self.ctx.tracer
        if kind == "slice":
            regions = sorted(self.rng.sample(gen_csv.REGIONS, self.rng.randint(1, 4)))
            segments = sorted(self.rng.sample(gen_csv.SEGMENTS, self.rng.randint(1, 3)))
            t = time.time()
            with tr.span("op.slice"):
                res, (by_cat, by_ym) = self._slice(regions, segments)
            dt = time.time() - t
            ok = self._check_slice(regions, segments, by_cat, by_ym)
            frames = list(res.values())
        elif kind != "sql":
            name = kind
            df = self.layers[name]
            t = time.time()
            with tr.span("op.view"):
                rows = df.collect()
            dt = time.time() - t
            digest = _digest(rows)
            ok = digest == self.view_digest.setdefault(name, digest)
            if name == "v_suspicious_discounts":
                ok = ok and len(rows) == self.truth["suspicious_discount_lines"]
            frames = [df]
        else:
            year, region = self.rng.choice(YEARS), self.rng.choice(gen_csv.REGIONS)
            t = time.time()
            with tr.span("op.sql"):
                df, rows = self._sql(year, region)
            dt = time.time() - t
            ok = self._check_sql(year, region, rows)
            frames, kind = [df], "sql"
        info = ({"cache_served": all("InMemoryTableScan" in _plan(f) for f in frames)}
                if tr.enabled else None)
        return Op(kind, dt, ok, info)

    def _check_slice(self, regions, segments, by_cat, by_ym) -> bool:
        cube = gen_csv.cube_totals(self.truth, ("category",),
                                   region=regions, segment=segments)
        lines = sum(v[0] for v in cube.values())
        qty = sum(v[1] for v in cube.values())
        want = {k[0]: (v[0], v[0], v[1]) for k, v in cube.items()}
        want["Grand Total"] = (lines, lines, qty)
        got = {r["Category"]: (r["CountOfSales"], r["CountOfProfit"],
                               r["SumOfQuantity"]) for r in by_cat}
        years = gen_csv.cube_totals(self.truth, ("year",),
                                    region=regions, segment=segments)
        want_ym = {(k[0], -1): (v[0], v[1]) for k, v in years.items()}
        want_ym[(-1, -1)] = (lines, qty)
        got_ym = {(r["OrderYear"], r["OrderMonth"]): (r["CountOfSales"], r["SumOfQuantity"])
                  for r in by_ym if r["OrderMonth"] == -1}
        months = sum(r["CountOfSales"] for r in by_ym if r["OrderMonth"] > 0)
        return got == want and got_ym == want_ym and months == lines

    def _check_sql(self, year, region, rows) -> bool:
        cube = gen_csv.cube_totals(self.truth, ("category",),
                                   year=[year], region=[region])
        want = {k[0]: v for k, v in cube.items()}
        got = {r["category"]: [r["lines"], r["quantity"], Decimal(r["sales"]),
                               Decimal(r["profit"])] for r in rows}
        return got == want

    # ---------------------------------------------------------- per-layer

    def layer_metrics(self, spans, dec, plain, traced) -> dict:
        lat = [o.seconds * 1000.0 for o in plain]
        by_kind = {k: [o.seconds * 1000.0 for o in plain if o.kind == k]
                   for k in ("slice", "sql")}
        by_kind["view"] = [o.seconds * 1000.0 for o in plain if o.kind in wl_elt.VIEWS]
        op_spans = [s for k in by_kind for s in spans_named(spans, f"op.{k}")]
        n = max(1, len(op_spans))
        return {
            **wl_elt.elt_layers(spans, dec, "build"),
            "elt.rows_per_s": self.truth["records"] / self.load_s,
            "messy_csv.unparsed_rows": self.census["counts"]["unparsed"],
            "pipeline.dedup_rows_removed": (self.census["counts"]["stg_all"]
                                            - self.census["counts"]["stg"]),
            "pipeline.write_star_files": self.star_files,
            "pipeline.write_star_mb": self.star_mb,
            "dash.p50_ms": mix_p50(plain) * 1000.0,
            "dash.p90_ms": percentile(lat, 90),
            **{f"dash.{k}_p50_ms": median(v) if v else 0.0
               for k, v in by_kind.items()},
            "dash.jobs_per_op": sum(dec[s["id"]]["incl_jobs"] for s in op_spans) / n,
            "dash.driver_gap_ms_per_op": 1000.0 * sum(
                dec[s["id"]]["incl_driver_gap_s"] for s in op_spans) / n,
            "dash.cache_served_ratio": (
                sum(o.info["cache_served"] for o in traced) / len(traced)),
        }
