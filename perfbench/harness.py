"""Run-private environment, Spark session lifecycle, memory and statistics
helpers shared by every workload.

Everything a run writes lives under ``<checkout>/.perfbench_run/<id>/`` and is
removed when the run ends: the scratch root the operators cache staged inputs
under, streaming checkpoints and state, WAL segments, Spark's local dirs and
the JVM/Python temp dirs. No run inherits another run's caches.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time

RUN_ROOT = ".perfbench_run"
DRIVER_MEMORY = "2g"  # sized for a ~15 GB host; the session default is 48g
# Spark task slots. Fewer than the host's CPUs, so the driver JVM's own
# threads, the Python driver and its workers are not queued behind busy task
# threads: on a shared host a stage waits for its slowest task, and with every
# CPU taken one descheduled thread stalls the whole stage.
MAX_SLOTS = 2
# JVM garbage-collector threads, capped for the same reason
JVM_OPTS = "-XX:-UsePerfData -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"


def process_start_epoch() -> float:
    """Wall-clock time this process was created (from /proc), so set-up time
    includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
        return btime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def slots() -> int:
    return max(1, min(MAX_SLOTS, cpu_count()))


class RunDir:
    """A fresh run-private directory tree; environment pointed into it."""

    def __init__(self, root: str, tag: str):
        self.path = os.path.abspath(os.path.join(root, RUN_ROOT, tag))
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("scratch", "tmp", "spark-local", "warehouse", "data"):
            os.makedirs(os.path.join(self.path, sub), exist_ok=True)
        os.environ["SPARK_GRAFT_SCRATCH_DIR"] = self.sub("scratch")
        os.environ["SPARK_GRAFT_CPUS"] = str(slots())
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("spark-local")
        os.environ["TMPDIR"] = self.sub("tmp")
        # no hsperfdata files in the system temp dir, from the launcher JVM
        # or the driver JVM (see start_spark)
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)  # only when no other run is using it
        except OSError:
            pass


def start_spark(run: RunDir):
    """The set-up being timed: ``session.get_spark`` plus one trivial job."""
    from librarian_spark.session import get_spark

    tmp = run.sub("tmp")
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": run.sub("spark-local"),
            "spark.sql.warehouse.dir": run.sub("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_OPTS}",
        },
    )
    spark.range(16).count()
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    try:
        spark.stop()
    except Exception:  # noqa: BLE001 — teardown continues regardless
        pass
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
    if proc is not None:
        try:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)


def peak_rss_mb(pids: list[int | None]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes, in MB."""
    total_kb = 0
    for pid in pids:
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def median(values) -> float:
    return float(statistics.median(values))


TAIL_PCT = 90


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        for num in (m * (b - m) * x / ((a + m2 - 1.0) * (a + m2)),
                    -(a + m) * (a + b + m) * x / ((a + m2) * (a + m2 + 1.0))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return h


def _betainc(a: float, b: float, x: float) -> float:
    """Regularised incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(values, q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile (0 < q < 1).

    A weighted mean of every order statistic, with Beta(q(n+1), (1-q)(n+1))
    weights. Unlike the sample quantile, which is a single order statistic,
    it moves smoothly when the samples do, so it does not jump across the gap
    between two groups of samples (queries of different cost, transactions
    that did or did not wait for a batch).
    """
    xs = sorted(values)
    n = len(xs)
    if n == 1:
        return float(xs[0])
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    cdf = [_betainc(a, b, i / n) for i in range(n + 1)]
    return float(sum(x * (hi - lo) for x, lo, hi in zip(xs, cdf, cdf[1:])))


def p50(values) -> float:
    return quantile(values, 0.5)


def tail(values) -> tuple[float, float, int]:
    """The p90 of ``values`` (Harrell-Davis); returns (value, percentile, n).

    With the tens of samples a run affords, the highest percentile that
    leaves ten samples beyond it would fall near the median, and the maximum
    jumps with a single sample.
    """
    xs = list(values)
    return quantile(xs, TAIL_PCT / 100.0), float(TAIL_PCT), len(xs)


def percentile(values, q: float) -> float:
    xs = sorted(values)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, math.ceil(q / 100.0 * len(xs)) - 1))
    return float(xs[k])


def report(line: str) -> None:
    """Human-readable output; every line but the last JSON one."""
    print(line, flush=True)


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)
