"""Run plumbing shared by the workloads: environment hygiene, the Spark
session, spans, timing statistics and the result line.

Every run is one fresh process (``run.py``). The environment is fixed
before the JVM starts: the package root goes on ``PYTHONPATH`` so pandas
UDF workers can import the package, and every scratch path (Spark local
dirs, JVM and Python temp files, the event log) points inside the run's
own work directory under the checkout.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "twilio_event_streams_reporting_example_spark"
WORK_ROOT = ROOT / ".perfbench_work"
CORES = 4  # the system runs as local[4]
DRIVER_MEM = "3g"


def prepare_env(work: Path, trace: bool) -> None:
    """Must run before the first SparkSession is created."""
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local", work / "eventlog"):
        d.mkdir(parents=True, exist_ok=True)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + pp if pp else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning,ignore::UserWarning"
    args = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if trace:
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{work / 'eventlog'}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def jvm_peak_rss_mb() -> float:
    """VmHWM of the JVM process that pyspark launched."""
    proc = jvm_proc()
    if proc is None:
        raise RuntimeError("no JVM process")
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def shutdown_jvm(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin pipe
    closes) and wait for it; Python workers are the JVM's children."""
    from pyspark import SparkContext

    proc = jvm_proc()
    with contextlib.suppress(Exception):
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class CpuMeter:
    """CPU seconds spent by this process and every process below it when
    the meter was made (the JVM and its Python workers), from /proc; the
    counters of reaped children are included, so a worker that exits
    still counts."""

    TICKS = os.sysconf("SC_CLK_TCK")

    def __init__(self):
        self.pids, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            self.pids.append(pid)
            with contextlib.suppress(OSError):
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as f:
                        todo += [int(c) for c in f.read().split()]

    def seconds(self) -> float:
        ticks = 0
        for pid in self.pids:
            with contextlib.suppress(OSError):
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        return ticks / self.TICKS


class StealMeter:
    """Share of the machine's CPU time the hypervisor gave to other guests
    since construction (the ``steal`` column of /proc/stat). A diagnostic
    for noisy runs: short Spark queries slow down far more than the share
    stolen, because each stage waits for its slowest core."""

    def __init__(self):
        self.start = self._read()

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
        return fields[7], sum(fields)

    def share(self) -> float:
        steal, total = self._read()
        return (steal - self.start[0]) / max(1, total - self.start[1])


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("empty sample")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Run:
    """State of one benchmark run: counters, spans and metrics."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = WORK_ROOT / f"{workload}-{seed}-{os.getpid()}"
        shutil.rmtree(self.work, ignore_errors=True)
        self.work.mkdir(parents=True)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.check_failures: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.notes: dict[str, object] = {}
        self.spans: list[dict] = []
        self._local = threading.local()  # per-thread span stack
        self._lock = threading.Lock()
        self.spark = None

    # ------------------------------------------------------------ spans

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a layer call. In a traced run the call's Spark jobs carry
        the span name as their job group, so the event log folds into
        per-span shuffle, spill, GC and skew."""
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sc = self.spark.sparkContext if self.spark is not None else None
        if self.trace and sc is not None:
            sc.setJobGroup(name, name)
        stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append({"name": name, "parent": parent, "start": t0, "end": t1})
            if self.trace and sc is not None:
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(parent, parent)

    def span_s(self, name: str) -> float:
        """Total self time of every span with this name."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            child = sum(
                c["end"] - c["start"]
                for c in self.spans
                if c["parent"] == name and s["start"] <= c["start"] and c["end"] <= s["end"]
            )
            total += (s["end"] - s["start"]) - child
        return total

    # ---------------------------------------------------------- outcome

    def attempt(self, fn, *args, **kwargs):
        """Run one operation; an exception counts as failed, not fatal.
        Safe to call from several threads."""
        with self._lock:
            self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # the run must report, not hang or die
            with self._lock:
                self.failed += 1
                self.errors.append(f"{getattr(fn, '__name__', fn)}: {type(exc).__name__}: {exc}")
            return None

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.check_failures.append(what)

    def metric(self, name: str, value: float, unit: str) -> None:
        self.e2e[name] = (float(value), unit)

    def layer_metric(self, name: str, value: float, unit: str) -> None:
        self.layer[name] = (float(value), unit)

    def result(self, e2e_names, layer_names) -> dict:
        chosen = self.layer if self.trace else self.e2e
        names = layer_names if self.trace else e2e_names
        metrics = {}
        for n in names:
            if n in chosen:
                v, u = chosen[n]
                metrics[n] = {"value": v, "unit": u}
            else:
                self.check_failures.append(f"metric {n} not measured")
        correct = not self.check_failures and self.failed == 0
        return {
            "correct": correct,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": metrics,
        }

    def write_trace(self, e2e_names) -> Path:
        out = WORK_ROOT / "traces" / f"{self.workload}-seed{self.seed}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        doc = {
            "workload": self.workload,
            "seed": self.seed,
            "spans": [
                {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
            ],
            "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in self.layer.items()},
            "traced_end_to_end": {
                k: {"value": self.e2e[k][0], "unit": self.e2e[k][1]}
                for k in e2e_names
                if k in self.e2e
            },
            "notes": self.notes,
        }
        out.write_text(json.dumps(doc, indent=1, default=str))
        return out


def median(xs) -> float:
    return statistics.median(xs)
