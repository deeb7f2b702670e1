"""Benchmark of the superstore engine: seeded workloads driven through the
engine's public functions from outside, one client thread, one process,
``local[<cores>]``.

    python3 perfbench/run.py --workload dashboard_serving --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` (untimed), sets the workload up three times and warms it up
once (``setup_s`` is the median set-up pass plus the warm-up), then drives the workload's operations in a closed loop for
``--seconds`` and checks every result; a wrong result counts as a failed
operation. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the occurrences of
each operation kind alternate untraced and traced, and the metrics are
the per-layer ones, taken from in-memory spans and the Spark event log.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

import harness
from metrics import END_TO_END, LAYERS

PACKAGE = "superstore_data_pipeline_analytics_dashboard__spark"
WORKLOADS = {
    "elt_full_load": ("wl_elt", "EltFullLoad"),
    "dashboard_serving": ("wl_dashboard", "DashboardServing"),
    "corpus_curation": ("wl_corpus", "CorpusCuration"),
    "store_maintenance": ("wl_store", "StoreMaintenance"),
}


class Ctx:
    """What a workload gets: the session, the tracer, its seed and a
    private scratch directory inside the checkout."""

    def __init__(self, spark, tracer, seed: int, work: Path):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _loop(wl, seconds: float, tracer=None) -> list:
    """Closed loop: the next operation starts when the previous one ends.
    Runs for ``seconds`` and then to the end of the workload's cycle of
    operation kinds, so every run measures whole cycles of its mix. Given
    a tracer, the occurrences of each kind alternate untraced and traced,
    so both halves see the same JIT and cache state; at least two cycles
    run, so every kind has both."""
    cycle = len(wl.kinds)
    seen: dict[str, int] = {}
    ops, end = [], time.time() + seconds
    min_ops = 2 * cycle if tracer else 1
    while len(ops) < min_ops or time.time() < end or len(ops) % cycle:
        i = len(ops)
        if tracer:
            kind = wl.kinds[i % cycle]
            seen[kind] = seen.get(kind, 0) + 1
            tracer.enabled = seen[kind] % 2 == 0
        t = time.time()
        try:
            op = wl.op(i)
        except Exception:
            # an operation that raises is a failed operation, not a crash
            traceback.print_exc()
            op = harness.Op("error", time.time() - t, False)
        op.traced = bool(tracer and tracer.enabled)
        _log(f"op {i} {op.kind} {op.seconds * 1000.0:.1f} ms"
             f"{' traced' if op.traced else ''}{'' if op.ok else ' FAILED CHECK'}")
        ops.append(op)
    return ops


def run(args, root: Path) -> dict:
    work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    log_dir = harness.prepare_environment(work, bool(args.trace))
    sys.path.insert(1, str(root))
    from superstore_data_pipeline_analytics_dashboard__spark.session import get_spark

    module, cls = WORKLOADS[args.workload]
    wl_class = getattr(__import__(module), cls)
    spark = None
    try:
        t0 = time.time()
        n = harness.cores()
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          master=f"local[{n}]", shuffle_partitions=n)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.time() - t0
        tracer = harness.Tracer(spark, enabled=bool(args.trace))
        wl = wl_class(Ctx(spark, tracer, args.seed, work / "data"))
        t = time.time()
        with tracer.span("prepare"):
            wl.prepare()
        _log(f"session {session_s:.2f} s, prepare {time.time() - t:.2f} s")
        t = time.time()
        with tracer.span("build"):
            wl.build()
        build_s = time.time() - t
        _log(f"build {build_s:.2f} s")
        wl.check_build()
        setups = []
        for _ in range(wl.setup_passes):
            t = time.time()
            with tracer.span("setup"):
                wl.setup()
            setups.append(time.time() - t)
            _log(f"set-up pass {len(setups)} {setups[-1]:.2f} s")
        t = time.time()
        with tracer.span("warm_up"):
            wl.warm_up()
        warm_up_s = time.time() - t
        _log(f"warm-up {warm_up_s:.2f} s")
        if not args.trace:
            ops = _loop(wl, args.seconds)
        else:
            with tracer.span("timed"):
                ops = _loop(wl, args.seconds, tracer)
        rss = harness.peak_rss_mb()
        failed = sum(not o.ok for o in ops)
        if not args.trace:
            values = {"setup_s": build_s + harness.median(setups) + warm_up_s,
                      "op_p50_ms": harness.mix_p50(ops) * 1000.0}
        else:
            harness.stop_spark(spark)
            spark = None
            from eventlog import decompose, read_jobs

            spans = tracer.spans
            dec = decompose(spans, read_jobs(log_dir))
            trace_file = root / ".perfbench_work" / "traces" / f"{args.workload}-{args.seed}.json"
            tracer.dump(trace_file, dec)
            _log(f"spans written to {trace_file}")
            plain = [o for o in ops if not o.traced]
            traced = [o for o in ops if o.traced]
            values = wl.layer_metrics(spans, dec, plain, traced)
            values.update(_common_layers(spans, dec, plain, traced))
            values.update({
                "session.get_spark_s": session_s,
                "setup.build_s": build_s,
                "setup.first_pass_s": setups[0],
                "setup.warm_up_s": warm_up_s,
                "peak_rss_mb": rss,
                "failed_op_ratio": failed / len(ops),
            })
        names = END_TO_END if not args.trace else LAYERS
        metrics = {
            name: {"value": float(values.get(name, 0.0)), "unit": spec[0]}
            for name, spec in names.items()
        }
        return {"correct": failed == 0, "attempted": len(ops),
                "failed": failed, "metrics": metrics}
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def _common_layers(spans, dec, plain, traced) -> dict:
    """Tracing overhead, span accounting and Spark-wide totals per traced
    operation, from the spans of the traced loop. An operation's time is
    accounted when it falls in a named layer span or in a Spark job; the
    rest is its own driver gap, which no span names."""
    timed = next(s for s in spans if s["name"] == "timed")
    op_spans = [s for s in spans
                if s["parent"] == timed["id"] and s["name"].startswith("op.")]
    n = max(1, len(op_spans))

    def per_op(key):
        return sum(dec[s["id"]][f"incl_{key}"] for s in op_spans) / n

    accounted = [1.0 - dec[s["id"]]["driver_gap_s"] / (s["t1"] - s["t0"])
                 for s in op_spans]
    return {
        "trace.overhead_ratio": harness.mix_p50(traced) / harness.mix_p50(plain) - 1.0,
        "trace.accounted_ratio": harness.median(accounted),
        "spark.jobs": per_op("jobs"),
        "spark.tasks": per_op("tasks"),
        "spark.executor_cpu_s": per_op("cpu_s"),
        "spark.driver_gap_s": per_op("driver_gap_s"),
        "spark.gc_s": per_op("gc_s"),
        "spark.shuffle_write_mb": per_op("shuffle_write_mb"),
        "spark.spill_mb": per_op("spill_mb"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = Path.cwd()
    if not (root / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {PACKAGE}/ not found under {root}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    print(json.dumps(run(args, root)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
