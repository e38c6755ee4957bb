"""Harness pieces the workloads share: process environment, the Spark
session's life cycle, operation records, statistics and result checks."""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "mini_project_204721_data_engineering_spark"

#: local[CORES] and at most CORES client threads
CORES = 4
#: set-ups per run after the first, which also launches the JVM;
#: set-up time is their median
SETUP_CYCLES = 3
#: The Spark driver's JVM compiles with C1 only.  Under the default tiered
#: compiler, C2 keeps compiling for about 100 s of serve traffic on 4
#: cores (request latency falls 2.1 s -> 0.95 s over that time), far
#: longer than a run can warm up; with C1 only the latency is flat after
#: about 10 s, so the measured window sees a steady JIT.  C1 alone gets
#: the small non-tiered code cache (48 MB), which Spark fills within a
#: minute, disabling the compiler; the tiered default size is restored.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m -XX:-UsePerfData"


def configure_env(work: str) -> None:
    """Point every scratch path of Spark, the JVM and Python at ``work``
    (inside the checkout), fix the Spark driver JVM's compiler (``JVM_OPTS``)
    and make the package importable on Spark's Python workers whatever
    the working directory.  Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(paths),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_GRAFT_DRIVER_MEM": "1g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": (
                f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
                f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} {JVM_OPTS}' "
                "--conf spark.ui.showConsoleProgress=false "
                "pyspark-shell"
            ),
        }
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    import tempfile

    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def report(workload: str, metrics: dict[str, tuple[float, str]]) -> None:
    """The workload's own metric names, one per line, before the result."""
    for name, (value, unit) in metrics.items():
        print(f"# {workload} {name} = {value:.6g} {unit}", flush=True)


class Session:
    """The tuned SparkSession, restartable inside one JVM."""

    def __init__(self, app: str) -> None:
        self.app = app
        self.spark = None

    def start(self):
        from pyspark.sql import SparkSession

        from mini_project_204721_data_engineering_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
            SparkSession._instantiatedSession = None
        self.spark = get_spark(self.app)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        return self.spark

    def _proc(self):
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return getattr(gw, "proc", None) if gw is not None else None

    def _heap_pools(self) -> list:
        from pyspark import SparkContext

        jvm = SparkContext._jvm
        if jvm is None:
            return []
        pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        return [p for p in pools if p.getType().name() == "HEAP"]

    def reset_peaks(self) -> None:
        """Start a peak-memory window: this Python process's peak resident
        set (VmHWM) and the JVM heap pools' peak usage restart from their
        current values."""
        try:
            with open("/proc/self/clear_refs", "w") as f:
                f.write("5")
        except OSError as e:
            log(f"cannot reset the peak RSS, it covers the whole run: {e}")
        for pool in self._heap_pools():
            pool.resetPeakUsage()

    def peak_mem_mb(self) -> tuple[float, float]:
        """Since :meth:`reset_peaks`: peak resident memory of this Python
        process and peak used heap of the JVM (the sum of its heap pools'
        peaks), in MB."""
        py_kb = 0
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    py_kb = int(line.split()[1])
        peaks = {p.getName(): p.getPeakUsage().getUsed() / 2**20 for p in self._heap_pools()}
        log(
            f"peak memory: python rss {py_kb / 1024:.0f} MB, jvm heap {sum(peaks.values()):.0f} MB ("
            + ", ".join(f"{k} {v:.0f}" for k, v in peaks.items())
            + ")"
        )
        return py_kb / 1024.0, sum(peaks.values())

    def cpu_s(self) -> tuple[float, float]:
        """CPU seconds used so far by this Python process and the JVM."""
        t = os.times()
        jvm = 0.0
        proc = self._proc()
        if proc is not None:
            try:
                with open(f"/proc/{proc.pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
            except OSError:
                pass
        return t.user + t.system, jvm

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        from pyspark import SparkContext

        proc = self._proc()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if proc is None:
            return
        gateway = SparkContext._gateway
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:
            pass
        try:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits on EOF
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


@dataclass
class Op:
    kind: str
    cls: str
    ms: float
    ok: bool
    traced: bool
    work: dict | None = None
    info: dict = field(default_factory=dict)


class Recorder:
    """Times operations and counts failures.  With an enabled tracer every
    other operation of each kind is traced — a request span plus a Spark
    job group — and the rest run untraced, so one run measures the
    tracing overhead on the same work."""

    def __init__(self, tracer, work=None) -> None:
        self.tracer = tracer
        self.work = work
        self.ops: list[Op] = []
        self._lock = threading.Lock()
        self._errors = 0
        self._seen: dict[str, int] = {}

    def run(self, kind: str, cls: str, fn):
        with self._lock:
            n = self._seen[kind] = self._seen.get(kind, -1) + 1
        traced = self.tracer.enabled and n % 2 == 0
        group = self.work.begin(kind) if traced and self.work is not None else None
        t0 = time.perf_counter()
        value, ok = None, True
        try:
            with self.tracer.request(kind, traced):
                value = fn()
        except Exception as e:  # a failed operation is counted, not fatal
            ok = False
            with self._lock:
                self._errors += 1
                if self._errors <= 5:
                    log(f"{kind} failed: {type(e).__name__}: {str(e).splitlines()[0][:300]}")
        ms = (time.perf_counter() - t0) * 1000.0
        counts = self.work.end(group) if group is not None else None
        op = Op(kind, cls, ms, ok, traced, counts)
        with self._lock:
            self.ops.append(op)
        return op, value


def median(values) -> float:
    return float(statistics.median(values)) if values else float("nan")


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if values else float("nan")


def mean(values) -> float:
    return float(np.mean(values)) if len(values) else 0.0


def canon_rows(rows, cols, ordered: bool) -> list[str]:
    """Comparable form of a result: columns in name order, values
    stringified (doubles to 9 places, NaN as NULL); rows sorted unless
    the result's order is part of the answer."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append("None" if v != v else repr(round(v, 9)))
            else:
                vals.append(str(v))
        out.append("\x1f".join(vals))
    return out if ordered else sorted(out)


def frame_canon(pdf, ordered: bool) -> list[str]:
    return canon_rows(list(pdf.itertuples(index=False, name=None)), list(pdf.columns), ordered)


def result(correct: bool, attempted: int, failed: int, metrics: dict) -> dict:
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(value), "unit": unit} for name, (value, unit) in metrics.items()
        },
    }
