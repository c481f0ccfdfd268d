"""RuntimeMetrics: the StatusMonitor / io_ops surface re-expressed.

The reference polls per-output AtomicLong counters once per second and
prints: "issued %d total io operations, %d in the last %.2f seconds with
an overall average of %.2f/sec" (Task.java:211-245, CLI.java:29-34).

Spark gives the same signal through StreamingQueryListener progress
events (inputRowsPerSecond, batchDuration, stateOperators) plus
df.observe() metrics flowing through QueryProgress.observedMetrics.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQueryListener

STATUS_FORMAT = ("issued %d total io operations, %d in the last %.2f "
                 "seconds with an overall average of %.2f/sec")


def observed(df: DataFrame) -> DataFrame:
    """Attach RuntimeMetrics-style counters to any stage: row count and
    token volume flow into each micro-batch's observedMetrics, under
    the name ``movement_metrics``."""
    cols = df.columns
    metrics = [F.count(F.lit(1)).alias("io_ops")]
    if "n_tok" in cols:
        metrics.append(F.sum("n_tok").alias("tokens"))
    return df.observe("movement_metrics", *metrics)


def with_lineage(df: DataFrame) -> DataFrame:
    """Per-partition lineage columns (north rule): physical partition id
    and source file. The WorkChunk-UUID analog is the (file, partition)
    pair — stable, queryable, no driver-side state."""
    cols = [F.spark_partition_id().alias("_partition_id")]
    try:
        df2 = df.withColumn("_source_file", F.col("_metadata.file_path"))
    except Exception:  # not a file-backed scan
        df2 = df.withColumn("_source_file", F.input_file_name())
    return df2.withColumn("_partition_id", cols[0])


def _jvm_pid() -> int | None:
    """Pid of the Spark JVM when this process launched it as a child
    (classic local PySpark); None for a JVM it did not start."""
    from pyspark import SparkContext

    pid = getattr(getattr(SparkContext._gateway, "proc", None), "pid", None)
    if pid is None:
        return None
    try:
        with open(f"/proc/{pid}/stat") as f:
            ppid = int(f.read().rsplit(")", 1)[1].split()[1])
    except OSError:
        return None
    return pid if ppid == os.getpid() else None


def _stat_fields(pid: int) -> list[str] | None:
    """The fields of /proc/<pid>/stat after the command name."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _jvm_counters(pid: int | None) -> tuple[int, int, int] | None:
    """(own CPU ticks of ``pid``, its reaped-child CPU ticks, host clone
    count) now, or None.

    The first is ``utime + stime`` from /proc/<pid>/stat: every thread
    of the JVM, live or ended, so task threads, GC and the JIT compiler
    threads all count. The second is ``cutime + cstime``: CPU of the
    children the JVM has waited for, the commands it forks (Hadoop's
    stock local file system shells out ``chmod``/``readlink``). PySpark's
    Python daemon outlives the query, so its workers are not in it. The
    third is the ``processes`` line of /proc/stat: every clone since
    boot, threads as well as processes, counted host-wide (every process
    on the machine, not only ours)."""
    if pid is None:
        return None
    fields = _stat_fields(pid)
    if fields is None:
        return None
    try:
        with open("/proc/stat") as f:
            forks = next(int(line.split()[1]) for line in f
                         if line.startswith("processes "))
    except (OSError, StopIteration):
        return None
    return (int(fields[11]) + int(fields[12]),
            int(fields[13]) + int(fields[14]), forks)


def _python_counters(jvm: int | None) -> dict[int, int] | None:
    """Python CPU ticks now of each live ``pyspark.daemon`` child of the
    JVM, by daemon pid, or None when the JVM is not this process's child.

    The JVM runs one daemon per worker environment (SQL and RDD stages
    get separate ones). A daemon's ticks are its ``utime + stime +
    cutime + cstime`` (the workers it has forked and reaped count) plus
    ``utime + stime`` of its live workers, which stay up across tasks and
    queries."""
    if jvm is None:
        return None
    stats = {}
    for name in os.listdir("/proc"):
        fields = _stat_fields(int(name)) if name.isdigit() else None
        if fields is not None:
            stats[int(name)] = fields
    ticks = {}
    for pid, fields in stats.items():
        if int(fields[1]) != jvm:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
        except OSError:
            continue
        ticks[pid] = sum(int(x) for x in fields[11:15]) + sum(
            int(w[11]) + int(w[12]) for w in stats.values()
            if int(w[1]) == pid)
    return ticks


_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class ProgressRecord:
    batch_id: int
    num_input_rows: int
    input_rows_per_sec: float
    duration_ms: int
    observed: dict = field(default_factory=dict)
    state_rows: int = 0
    rows_dropped_late: int = 0
    state_operators: list = field(default_factory=list)
    ts_iso: str = ""  # batch-start wall clock (progress "timestamp")


class RuntimeMetricsListener(StreamingQueryListener):
    """Collects per-batch throughput — the StatusMonitor analog (the
    status line itself is printed by ``cli.py``)."""

    def __init__(self):
        self.records: list[ProgressRecord] = []
        self.total_rows = 0
        self._mark_start()

    def _mark_start(self):
        self.started_at = time.time()
        self._jvm_pid = _jvm_pid()
        self._jvm_at_start = _jvm_counters(self._jvm_pid)
        self._python_at_start = _python_counters(self._jvm_pid)

    # StreamingQueryListener interface ---------------------------------
    def onQueryStarted(self, event):
        self._mark_start()

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        state_ops = p.get("stateOperators", [])
        state_rows = sum(s.get("numRowsTotal", 0) for s in state_ops)
        dropped = sum(s.get("numRowsDroppedByWatermark", 0)
                      for s in state_ops)
        rec = ProgressRecord(
            batch_id=p.get("batchId", -1),
            num_input_rows=p.get("numInputRows", 0),
            input_rows_per_sec=p.get("inputRowsPerSecond", 0.0) or 0.0,
            duration_ms=p.get("durationMs", {}).get("triggerExecution", 0),
            observed=p.get("observedMetrics", {}),
            state_rows=state_rows,
            rows_dropped_late=dropped,
            state_operators=[s.get("operatorName", "") for s in state_ops],
            ts_iso=p.get("timestamp", ""),
        )
        self.records.append(rec)
        self.total_rows += rec.num_input_rows

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    # StatusMonitor-style summary ---------------------------------------
    def summary(self) -> dict:
        """Totals since query start. ``jvm_cpu_s`` is the Spark JVM's own
        CPU, every thread (task threads, GC and JIT compilation
        included); ``forked_cpu_s`` is the CPU of the commands it forked
        and reaped; ``forks`` counts clones HOST-WIDE, threads as well
        as processes (other work on the machine adds to it);
        ``python_cpu_s`` is the CPU of PySpark's Python daemon and its
        workers. All four are None when the JVM is not a local child
        process."""
        elapsed = max(time.time() - self.started_at, 1e-9)
        start, now = self._jvm_at_start, _jvm_counters(self._jvm_pid)
        if start is None or now is None:
            jvm_cpu_s = forked_cpu_s = forks = python_cpu_s = None
        else:
            jvm_cpu_s = (now[0] - start[0]) / _CLK_TCK
            forked_cpu_s = (now[1] - start[1]) / _CLK_TCK
            forks = now[2] - start[2]
            py0 = self._python_at_start
            # a daemon started since query start counts from zero
            python_cpu_s = sum(
                t - py0.get(pid, 0)
                for pid, t in _python_counters(self._jvm_pid).items()
            ) / _CLK_TCK
        return {
            "io_ops": self.total_rows,
            "batches": len(self.records),
            "elapsed_sec": elapsed,
            "avg_rows_per_sec": self.total_rows / elapsed,
            "max_state_rows": max((r.state_rows for r in self.records),
                                  default=0),
            "rows_dropped_late": sum(r.rows_dropped_late
                                     for r in self.records),
            "jvm_cpu_s": jvm_cpu_s,
            "forked_cpu_s": forked_cpu_s,
            "forks": forks,
            "python_cpu_s": python_cpu_s,
        }


@contextmanager
def listening(spark):
    """Attach a fresh RuntimeMetricsListener to every streaming query
    ``spark`` runs inside the block, and yield it. THE one place a
    listener meets a session: it is detached in a finally, so a failing
    query cannot leave it on the shared session, where it would receive
    every later query's events."""
    listener = RuntimeMetricsListener()
    spark.streams.addListener(listener)
    try:
        yield listener
    finally:
        spark.streams.removeListener(listener)
