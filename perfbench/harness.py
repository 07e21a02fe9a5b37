"""Machine sizing, the Spark session the workloads drive, and call timing.

Every timed engine call goes through :meth:`Calls.call`, which records its
wall time under a call class (``bulk``, ``small`` or ``read``).  With tracing
on, the call also runs under its own Spark job group, so the event log can
attribute every job, stage and task to exactly one call (see eventlog.py).
"""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from dataclasses import dataclass, field

CLASSES = ("bulk", "small", "read")
# The reference job: fixed Spark work that runs no engine code, so its wall
# follows only how fast this machine runs Spark at that moment.  Like the
# engine's calls it mixes per-job cost (REF_TINY jobs over 1,000 rows) with
# computation on every core (a hash over REF_ROWS rows).  Runs are scaled to
# the speed at which it takes REF_S seconds, a fixed constant near its wall
# in the fastest stretch seen on a 4-vCPU host (README.md, "Reference speed").
REF_TINY = 3
REF_ROWS = 5_000_000
REF_S = 0.3


@dataclass(frozen=True)
class Machine:
    cores: int
    heap_mb: int
    offheap_mb: int

    @classmethod
    def detect(cls) -> "Machine":
        """Cores from the affinity mask; driver heap and off-heap from MemTotal.

        The engine's own defaults (16 g heap, and 16 g off-heap in the old
        scaling bench) exceed a 15 GB machine; here the heap is a sixth and
        off-heap an eighth of physical memory, each clamped to [512 MB, 8 GB].
        """
        with open("/proc/meminfo") as f:
            mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        mem_mb = mem_kb // 1024
        clamp = lambda v: max(512, min(8192, v))  # noqa: E731
        return cls(len(os.sched_getaffinity(0)), clamp(mem_mb // 6), clamp(mem_mb // 8))


def start_spark(work: str, machine: Machine, *, trace: bool, app: str):
    """A local session at all cores with the engine's defaults, sized to the
    machine, every scratch path inside ``work``, GC threads capped at the
    core count (as the engine's scaling bench does), and with tracing an
    uncompressed, non-rolling event log (Spark 4.1's default is rolling
    zstd).

    The heap is committed up front (``-Xms`` = ``-Xmx``) so no run resizes
    it mid-measurement.  The JIT stops at C1 with its compile thresholds at a
    tenth and a 256 MB code cache, so a method is compiled after a fixed,
    small number of calls and each run's timed calls meet the same compiled
    code.  With the default tiered JIT, per-call JVM CPU time was still
    halving after 28 call cycles (~100 s, more than a run): C2 compiled in
    the background throughout the timed calls, and fell further behind when
    the host was busy, so contention moved whole runs.  C1's default 48 MB
    code cache filled in three of five runs and disabled the compiler
    part-way.
    """
    from uncharted_ta1_spark.session import get_spark

    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    java_opts = (
        f"-Xms{machine.heap_mb}m "
        "-XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.1 -XX:ReservedCodeCacheSize=256m "
        f"-XX:+UseParallelGC -XX:ParallelGCThreads={machine.cores} "
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    conf = {
        "spark.driver.memory": f"{machine.heap_mb}m",
        "spark.memory.offHeap.enabled": "true",
        "spark.memory.offHeap.size": f"{machine.offheap_mb}m",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.dir": f"{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(master=f"local[{machine.cores}]", app_name=app, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@dataclass
class Span:
    """One engine call: its class, the job group it ran under, its wall."""

    span_id: str
    cls: str
    name: str
    start: float
    end: float
    timed: bool
    rows: int
    jvm_cpu: float  # CPU seconds the Spark JVM spent during the call
    steal: float  # CPU seconds the hypervisor took from this machine meanwhile

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Calls:
    """Runs and times engine calls; keeps every span in memory."""

    sc: object
    trace: bool
    spans: list[Span] = field(default_factory=list)

    def call(self, cls: str, name: str, fn, *, timed: bool, rows: int):
        """Run ``fn()`` as one call of class ``cls`` processing ``rows`` rows.

        No call of these workloads is expected to fail, so an exception is
        not caught: the run stops without a result rather than report a
        median over the calls that happened to work.
        """
        span_id = f"pb{len(self.spans)}"
        if self.trace:
            self.sc.setJobGroup(span_id, f"{cls}:{name}")
        c0, s0 = self._jvm_cpu(), _steal()
        t0 = time.time()
        out = fn()
        t1 = time.time()
        c1, s1 = self._jvm_cpu(), _steal()
        if self.trace:
            self.sc.setJobGroup("pb-idle", "outside any call")
        self.spans.append(Span(span_id, cls, name, t0, t1, timed, rows, c1 - c0, s1 - s0))
        return out

    def reference(self, spark, *, timed: bool) -> None:
        """Run the reference job once, as a call of class ``ref``."""
        n = self.sc.defaultParallelism

        def job():
            for _ in range(REF_TINY):
                spark.range(0, 1000, 1, n).selectExpr("sum(id)").collect()
            spark.range(0, REF_ROWS, 1, n).selectExpr("sum(hash(id, id * 7))").collect()

        self.call("ref", "reference", job, timed=timed, rows=REF_ROWS)

    def scale(self) -> float:
        """REF_S over the median wall of the timed reference jobs: the factor
        that turns this run's walls into seconds at reference speed."""
        return REF_S / statistics.median(s.wall for s in self.timed("ref"))

    def _jvm_cpu(self) -> float:
        """CPU seconds (user + system) of the Spark JVM so far."""
        from pyspark import SparkContext

        with open(f"/proc/{SparkContext._gateway.proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def timed(self, cls: str) -> list[Span]:
        return [s for s in self.spans if s.timed and s.cls == cls]

    def walls(self, cls: str, *, timed_only: bool = True) -> list[float]:
        return [s.wall for s in self.spans if s.cls == cls and (s.timed or not timed_only)]


def _steal() -> float:
    """CPU seconds stolen from this machine by the hypervisor so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """(percentile, value) of the highest order statistic with at least
    ``beyond`` samples above it; (0, 0) when the sample is too small."""
    xs = sorted(values)
    k = len(xs) - beyond
    if k < 1:
        return 0.0, 0.0
    return 100.0 * k / len(xs), xs[k - 1]


def read_parquet_files(files: list[str]):
    """One arrow table from Spark-written parquet files: Spark's parquet lz4
    codec is Hadoop-framed LZ4, which DuckDB cannot read and pyarrow can."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    return pa.concat_tables([pq.read_table(f) for f in sorted(files)])
