"""``store_maintenance``: small writes beside reads on the batch-partitioned
manifest sink. The closed loop repeats one cycle: an append, four reads,
an erase, four reads.

* ``append``: a seeded daily delta (a messy CSV whose lines partly repeat
  rows already stored) is staged and deduplicated, reduced to new rows by
  ``operators.append.idempotent_append``, folded into the customer
  dimension by SCD2 ``apply_customer_delta``, written as a new batch, and
  followed by ``collect_file_stats``, ``collect_batch_blooms`` and
  ``commit_snapshot``. Checked: the batch holds exactly the delta's new
  rows.
* ``erase``: a compliance erasure of three stored customers through
  ``sources.retention.erase_rows`` with the current blooms. The seeded
  draw takes three customers whose rows lie in exactly eight batches, so
  every erase has the same rewrite work whatever the seed. Checked: no
  doomed key remains, every batch reports ``rows_after = rows_before -
  rows_erased``, and the rows erased are the doomed customers' rows.
* ``read``: a 30-day ``read_pruned`` aggregate over the order date. The
  read right after a write covers the newest stored days, so it reads the
  appended batches through their manifest statistics; the others fall
  anywhere in the stored range, appended days included. Checked: count,
  quantity and sales equal the running ground truth.

A set-up pass builds the store from a year of seeded orders in twelve
monthly batches, with its manifest, blooms, customer dimension and first
snapshot; the warm-up serves an append, an erase and two reads.

In a traced run the build also curates a small seeded corpus and answers
an ANN batch (``wl_corpus``, checked the same way), so the corpus layers
of ``operators.dedup``, ``operators.similarity`` and ``functions.text``
are measured on a listed workload. Untraced runs skip it: it adds about
20 s to a run, more than the run budget of the listed workloads allows.
"""

from __future__ import annotations

import random
import shutil
import time
from datetime import date, timedelta
from decimal import Decimal

import gen_csv
import wl_corpus
from harness import Op, Workload, median, span_p50
from pyspark.sql import functions as F

from superstore_data_pipeline_analytics_dashboard__spark.operators.append import (
    idempotent_append,
)
from superstore_data_pipeline_analytics_dashboard__spark.plans import (
    superstore_pipeline as P,
)
from superstore_data_pipeline_analytics_dashboard__spark.sources import (
    bloom,
    manifest,
    retention,
    snapshots,
)
from superstore_data_pipeline_analytics_dashboard__spark.sources.messy_csv import (
    read_superstore_csv,
)

N_INITIAL = 6_000
N_DELTA = 200
RESENT_SHARE = 0.1
N_DOOMED = 3
#: batches the doomed customers' rows lie in
ERASE_BATCHES = 8
BLOOM_BITS = 1 << 14
YEAR = 2017
KEYS = ["OrderID", "ProductID"]
SINK_COLS = ["OrderID", "OrderDate", "CustomerID", "Segment", "Region",
             "ProductID", "Category", "Sales", "Quantity", "Profit"]
STAT_COLS = ["OrderDate", "CustomerID"]
#: the operation cycle: one append and one erase, each followed by reads
KINDS = ("append", *["read"] * 4, "erase", *["read"] * 4)
#: the corpus a traced run's build curates
CORPUS_DOCS = 500
CORPUS_VECTORS = 500
CORPUS_QUERIES = wl_corpus.QUERY_BATCH


def _staged(spark, csv_path):
    return P.dedup_staged(P.stage_typed(read_superstore_csv(spark, str(csv_path))))


def _model_rows(records, batch: int | None = None) -> dict:
    """(OrderID, ProductID) → (order date, customer, sales, quantity,
    sink batch) of the first line per key, the line ``dedup_staged`` keeps.
    The batch is ``batch``, or the order month when none is given."""
    out = {}
    for r in records:
        key = (r[1], r[13])
        if key not in out:
            m, d, y = (int(x) for x in r[2].split("/"))
            out[key] = (date(y, m, d), r[5], Decimal(r[17]), int(r[18]), batch or m)
    return out


class StoreMaintenance(Workload):
    kinds = KINDS

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n_pass = 0
        self.corpus = (wl_corpus.CorpusCuration(
            ctx, CORPUS_DOCS, CORPUS_VECTORS, CORPUS_QUERIES)
            if ctx.tracer.enabled else None)

    # ------------------------------------------------------------ inputs

    def prepare(self) -> None:
        work = self.ctx.work
        work.mkdir(parents=True, exist_ok=True)
        if self.corpus:
            self.corpus.prepare()
        data, _, self.initial = gen_csv.generate(
            self.ctx.seed, N_INITIAL, N_INITIAL // 1000,
            first_day=date(YEAR, 1, 1), last_day=date(YEAR, 12, 31))
        self.initial_csv = work / "initial.csv"
        self.initial_csv.write_bytes(data)

    def _delta(self, j: int):
        """Delta ``j``: one new day of orders plus re-sent stored lines."""
        day = date(YEAR + 1, 1, 1) + timedelta(days=j)
        _, _, records = gen_csv.generate(
            self.ctx.seed * 100_003 + j, N_DELTA, 0, first_day=day,
            last_day=day, order_prefix=f"D{j:04d}", pool_seed=self.ctx.seed)
        rng = random.Random(self.ctx.seed * 7 + j)
        records += rng.sample(self.initial, int(N_DELTA * RESENT_SHARE))
        for i, r in enumerate(records, start=1):
            r[0] = str(i)
        path = self.ctx.work / f"delta-{j}.csv"
        path.write_bytes(gen_csv.to_csv_bytes(records))
        return path, day, _model_rows(records, 1000 + j)

    # ------------------------------------------------------------- set-up

    def build(self) -> None:
        """Traced runs: one checked curation and ANN batch over the small
        corpus."""
        if not self.corpus:
            return
        self.corpus.setup()
        self.corpus.ground_truth()
        self.corpus_op = self.corpus.op(0)
        if not self.corpus_op.ok:
            raise RuntimeError("store_maintenance: the corpus curation failed its check")

    def setup(self) -> None:
        spark = self.ctx.spark
        spark.catalog.clearCache()
        self.n_pass += 1
        root = self.ctx.work / "store"
        shutil.rmtree(root, ignore_errors=True)
        self.sink, self.man = str(root / "sink"), str(root / "manifest")
        self.log, self.dims = str(root / "snapshots"), root / "dim_customer"
        self.rng = random.Random(self.ctx.seed * 31 + self.n_pass)
        self.model = _model_rows(self.initial)
        self.next_delta, self.dim_version = 0, 0
        self.wrote = False
        stg = _staged(spark, self.initial_csv).cache()
        (stg.select(*SINK_COLS, F.month("OrderDate").cast("long").alias("batch"))
         .repartition("batch").write.partitionBy("batch").parquet(self.sink))
        stats = manifest.collect_file_stats(spark, self.sink, STAT_COLS).withColumn(
            "batch", F.regexp_extract("file", r"batch=(\d+)", 1).cast("long"))
        stats.write.partitionBy("batch").parquet(self.man)
        P.build_customer_dim(stg).write.parquet(str(self.dims / "v0"))
        stg.unpersist()
        self.blooms = self._blooms()
        snapshots.commit_snapshot(spark, self.man, self.log)

    def warm_up(self) -> None:
        warm = (self._append, self._read, self._erase, self._read)
        if not all(op().ok for op in warm):
            raise RuntimeError("store_maintenance: a warm-up operation failed its check")

    def _blooms(self):
        b = bloom.collect_batch_blooms(
            self.ctx.spark, self.sink, "CustomerID", n_bits=BLOOM_BITS).cache()
        b.count()
        return b

    # ---------------------------------------------------------------- ops

    def op(self, i: int) -> Op:
        return getattr(self, f"_{KINDS[i % len(KINDS)]}")()

    def _last_day(self) -> date:
        return date(YEAR + 1, 1, 1) + timedelta(days=self.next_delta - 1)

    def _append(self) -> Op:
        spark, tr = self.ctx.spark, self.ctx.tracer
        j = self.next_delta
        self.next_delta += 1
        path, day, delta = self._delta(j)
        expect = sum(1 for k in delta if k not in self.model)
        batch = 1000 + j
        old_blooms = self.blooms
        t = time.time()
        with tr.span("op.append"):
            stg = _staged(spark, path)
            with tr.span("append.idempotent_append"):
                fresh = tr.boundary(idempotent_append(
                    stg, spark.read.parquet(self.sink), KEYS))
            with tr.span("scd2.apply_customer_delta"):
                dim = P.apply_customer_delta(
                    spark.read.parquet(str(self.dims / f"v{self.dim_version}")), stg, day)
                dim.write.parquet(str(self.dims / f"v{self.dim_version + 1}"))
            (fresh.select(*SINK_COLS).coalesce(1)
             .write.parquet(f"{self.sink}/batch={batch}"))
            with tr.span("manifest.collect_file_stats"):
                stats = manifest.collect_file_stats(
                    spark, f"{self.sink}/batch={batch}", STAT_COLS
                ).withColumn("batch", F.lit(batch).cast("long"))
                (stats.write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("batch").parquet(self.man))
            with tr.span("bloom.collect_batch_blooms"):
                self.blooms = self._blooms()
            with tr.span("snapshots.commit_snapshot"):
                snapshots.commit_snapshot(spark, self.man, self.log)
        dt = time.time() - t
        old_blooms.unpersist()
        self.dim_version += 1
        got = (spark.read.parquet(self.man).filter(F.col("batch") == batch)
               .agg(F.sum("n_rows")).collect()[0][0])
        for k, v in delta.items():
            self.model.setdefault(k, v)
        self.wrote = True
        return Op("append", dt, got == expect)

    def _erase(self) -> Op:
        spark, tr = self.ctx.spark, self.ctx.tracer
        batches: dict[str, set] = {}
        for v in self.model.values():
            batches.setdefault(v[1], set()).add(v[4])
        customers = sorted(batches)
        for _ in range(100_000):
            doomed = self.rng.sample(customers, N_DOOMED)
            holding = set().union(*(batches[c] for c in doomed))
            if len(holding) == ERASE_BATCHES:
                break
        else:
            raise RuntimeError("store_maintenance: no customers to erase span "
                               f"{ERASE_BATCHES} batches")
        doomed_rows = sum(1 for v in self.model.values() if v[1] in doomed)
        keys = spark.createDataFrame([(c,) for c in doomed], "CustomerID STRING")
        t = time.time()
        with tr.span("op.erase"):
            with tr.span("retention.erase_rows"):
                report = retention.erase_rows(
                    spark, self.sink, self.man, "CustomerID", keys,
                    blooms={"CustomerID": self.blooms},
                    bloom_n_bits=BLOOM_BITS).collect()
        dt = time.time() - t
        left = (spark.read.parquet(self.sink)
                .filter(F.col("CustomerID").isin(doomed)).count())
        ok = (left == 0
              and all(r["rows_after"] == r["rows_before"] - r["rows_erased"]
                      for r in report)
              and sum(r["rows_erased"] for r in report) == doomed_rows)
        self.model = {k: v for k, v in self.model.items() if v[1] not in doomed}
        self.wrote = True
        info = None
        if tr.enabled:
            rewritten = [r["batch"] for r in report if r["rewritten"]]
            info = {
                "batches": len(rewritten),
                "precision": (sum(b in holding for b in rewritten) / len(rewritten)
                              if rewritten else 1.0),
                "mb": sum(p.stat().st_size for b in rewritten
                          for p in (self.ctx.work / "store" / "sink" / f"batch={b}")
                          .glob("*.parquet")) / 1024.0 / 1024.0,
            }
        return Op("erase", dt, ok, info)

    def _read(self) -> Op:
        spark, tr = self.ctx.spark, self.ctx.tracer
        last = self._last_day()
        if self.wrote:
            hi = last
        else:
            first_hi = date(YEAR, 1, 30)
            hi = first_hi + timedelta(days=self.rng.randint(0, (last - first_hi).days))
        self.wrote = False
        lo = hi - timedelta(days=29)
        t = time.time()
        with tr.span("op.read"):
            stats = spark.read.parquet(self.man)
            with tr.span("manifest.read_pruned"):
                df = manifest.read_pruned(spark, stats, "OrderDate", lo, hi)
                row = df.agg(F.count(F.lit(1)).alias("n"),
                             F.sum("Quantity").alias("q"),
                             F.sum("Sales").alias("s")).collect()[0]
        dt = time.time() - t
        want = [v for v in self.model.values() if lo <= v[0] <= hi]
        ok = (row["n"] == len(want)
              and (row["q"] or 0) == sum(v[3] for v in want)
              and (row["s"] or Decimal(0)) == sum((v[2] for v in want), Decimal(0)))
        info = ({"files_read_ratio": len(df.inputFiles()) / stats.count()}
                if tr.enabled else None)
        return Op("read", dt, ok, info)

    # ---------------------------------------------------------- per-layer

    def layer_metrics(self, spans, dec, plain, traced) -> dict:
        def p50(kind):
            return median([o.seconds for o in plain if o.kind == kind])

        erases = [o.info for o in traced if o.kind == "erase"]
        reads = [o.info["files_read_ratio"] for o in traced if o.kind == "read"]
        corpus = [self.corpus_op]
        return {
            **self.corpus.corpus_layers(spans, corpus, corpus, "build"),
            "store.append_p50_s": p50("append"),
            "store.erase_p50_s": p50("erase"),
            "store.read_p50_ms": p50("read") * 1000.0,
            **{f"{name}_s": span_p50(spans, name) for name in (
                "append.idempotent_append", "scd2.apply_customer_delta",
                "manifest.collect_file_stats", "bloom.collect_batch_blooms",
                "snapshots.commit_snapshot", "retention.erase_rows",
                "manifest.read_pruned")},
            "retention.batches_rewritten": median([e["batches"] for e in erases]),
            "retention.rewrite_precision": median([e["precision"] for e in erases]),
            "retention.rewritten_mb": median([e["mb"] for e in erases]),
            "manifest.files_read_ratio": median(reads),
        }
