"""Run-time support for the benchmark: the Spark session it drives, the
in-memory span tracer, and the small statistics it reports.

The session is the engine's own ``session.get_spark`` with
``local[<cores>]`` and shuffle partitions equal to the core count. Only
process-level settings are added: scratch directories inside the run's
work directory, a bounded driver heap, and, for a traced run, the Spark
event log.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import time
from contextlib import contextmanager
from pathlib import Path

DRIVER_MEMORY = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sample."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    return statistics.median(values)


def mix_p50(ops: list) -> float:
    """Median latency of each operation kind, weighted by the kind's share
    of the operations. Equal to the median for a single-kind workload; for
    a mix it never lands in the gap between two kinds' latencies, where a
    plain median jumps with one operation more or less on either side."""
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o.kind, []).append(o.seconds)
    return sum(len(v) * median(v) for v in by_kind.values()) / len(ops)


def prepare_environment(work: Path, trace: bool) -> Path | None:
    """Point every scratch path of Python, the JVM and Spark into ``work``
    and, when tracing, enable the event log. Must run before pyspark
    launches the JVM. Returns the event-log directory, if any."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    args = [
        f'--driver-java-options "-XX:-UsePerfData -Djava.io.tmpdir={tmp}"',
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    log_dir = None
    if trace:
        log_dir = work / "eventlog"
        log_dir.mkdir()
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir={log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"
    return log_dir


class Tracer:
    """In-memory spans (name, start, end, parent) recorded at the
    benchmark's own call sites. Each span also tags the Spark jobs it
    submits with a job group named after the span id, which is how the
    event log attributes jobs to spans. A disabled tracer records nothing
    and leaves Spark untouched."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "t0": time.time(), "t1": None}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"pb-{sid}", name)
        try:
            yield
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                sc.setJobGroup(f"pb-{top['id']}", top["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def boundary(self, df):
        """Persist and materialise ``df`` when tracing, so the enclosing
        span times its own layer's work instead of leaving it to whichever
        later action pulls it. Untraced runs keep Spark's laziness."""
        if self.enabled:
            df = df.persist()
            df.count()
        return df

    def dump(self, path: Path, decomposition: dict[int, dict]) -> None:
        """Write every span with its event-log decomposition."""
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(
            [{**s, **decomposition.get(s["id"], {})} for s in self.spans], indent=1))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length([(c["t0"], c["t1"]) for c in kids.get(s["id"], [])])
        out[s["id"]] = (s["t1"] - s["t0"]) - covered
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def peak_rss_mb() -> float:
    """Peak resident set of the driver JVM plus this Python process, from
    each one's ``VmHWM`` in ``/proc``."""
    proc = jvm_process()
    jvm = _vm_hwm_mb(proc.pid) if proc is not None else 0.0
    return jvm + _vm_hwm_mb("self")


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            kids.append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        for k in _children(todo.pop()):
            out.append(k)
            todo.append(k)
    return out


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and every process it started, and
    wait until each has exited."""
    proc = jvm_process()
    tree = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    if proc is not None:
        from pyspark import SparkContext

        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline and any(_alive(p) for p in tree):
        time.sleep(0.1)
    for p in tree:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    deadline = time.time() + 10
    while time.time() < deadline and any(_alive(p) for p in tree):
        for p in tree:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.05)


class Workload:
    """A benchmark workload. ``prepare`` makes the inputs (untimed);
    ``build`` runs once and ``setup`` ``setup_passes`` times before the
    ``warm_up``, all three charged to ``setup_s``; ``check_build`` checks
    the build's output between them, untimed; ``op`` runs one timed,
    checked operation; ``kinds`` is the cycle of operation kinds the loop
    repeats;
    ``layer_metrics`` turns a traced run's spans into per-layer metrics."""

    setup_passes = 3
    kinds: tuple[str, ...] = ("op",)

    def __init__(self, ctx):
        self.ctx = ctx

    def prepare(self) -> None:
        pass

    def build(self) -> None:
        pass

    def setup(self) -> None:
        pass

    def warm_up(self) -> None:
        pass

    def check_build(self) -> None:
        """Check what ``build`` made, untimed; raise when it is wrong."""


class Op:
    """One timed operation: its kind, latency, whether its output passed
    the check, and what its workload noted for per-layer metrics. The loop
    marks the operations it traced."""

    __slots__ = ("kind", "seconds", "ok", "info", "traced")

    def __init__(self, kind: str, seconds: float, ok: bool,
                 info: dict | None = None):
        self.kind = kind
        self.seconds = seconds
        self.ok = ok
        self.info = info or {}
        self.traced = False


def spans_named(spans: list[dict], name: str, within: str | None = "timed") -> list[dict]:
    """Spans called ``name``, restricted to the subtree of the span called
    ``within`` when one exists."""
    roots = {s["id"] for s in spans if s["name"] == within}
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        p = s["parent"]
        while roots and p is not None and p not in roots:
            p = spans[p]["parent"]
        if not roots or p is not None:
            out.append(s)
    return out


def span_p50(spans: list[dict], name: str, within: str | None = "timed") -> float:
    """Median inclusive duration (s) of the spans called ``name``; 0 when
    there are none."""
    got = [s["t1"] - s["t0"] for s in spans_named(spans, name, within)]
    return median(got) if got else 0.0
