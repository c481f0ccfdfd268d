"""One measurement process of the streaming benchmark.

Starts Spark through ``session.get_spark`` with the program's own
configuration, warms up, measures for ``--seconds`` and prints one JSON
line with the raw measurements. ``run.py`` generates the inputs before
and checks the results written to ``--results`` against the DuckDB
reference after, so when this process reads its peak memory it has done
nothing but the program's work.

Bulk workloads are closed drains: each pass drains the whole staged
input through a runner into a fresh sink and checkpoint. ``live_cep`` is
an open loop: a thread lands one file every ``period_s`` while the main
thread resumes the query whenever new files are present. The measured
loop continues on the warm-up's stage, sink and checkpoint, so every
measured runner call is a checkpoint resume.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen

# runners are always handed a populated stage_dir; a runner that tried to
# stage from the derived table instead would fail on this missing path
NO_SF_DIR = "/nonexistent-perfbench-sf"
WARMUP_PASSES = 2   # bulk drains before timing
WARMUP_FILES = 3    # open-loop landings (one resume each) before timing


@dataclass(frozen=True)
class Bulk:
    runner: str                 # name in movement_spark.streaming.pipeline
    oracle: str                 # registry query whose oracle SQL checks it
    keys: tuple[str, ...]       # result key columns
    shape: gen.Shape


@dataclass(frozen=True)
class Live:
    shape: gen.LiveShape
    period_s: float             # one file lands every period_s seconds
    oracle: str = "streaming_ordered_merge"
    keys: tuple[str, ...] = ("doc_id",)

    def measured_files(self, seconds: float) -> int:
        return max(3, math.ceil(seconds / self.period_s))


WORKLOADS: dict[str, Bulk | Live] = {
    "dedup_join": Bulk(
        "run_streaming_dedup_join_window", "streaming_dedup_join_window",
        ("ws",),
        gen.Shape(docs=2500, files=12, hot_docs=25, shard_span_s=120,
                  disorder=0.1, duplicate=True, tok_max=16)),
    "live_cep": Live(gen.LiveShape(docs_per_file=100), period_s=6.5),
}


def saturated(backlog: list[int]) -> bool:
    """An open loop is saturated when its backlog (landed files not yet
    emitted, sampled at each runner call) grows over the run: the later
    half of the calls waits on at least one file more, on average, than
    the earlier half. The first call is left out: it starts on the first
    landing alone, while each later call also takes the files that landed
    during the call before it, which a loop that keeps up does too."""
    steady = backlog[1:]
    if len(steady) < 2:
        return False
    half = len(steady) // 2
    return (statistics.mean(steady[half:])
            - statistics.mean(steady[:half])) >= 1.0


# -- Spark ------------------------------------------------------------------

def start_spark(work: str, cores: int, event_dir: str | None):
    """The program's session (``get_spark`` and its ENGINE_CONF) with the
    benchmark's scratch files kept under ``work`` and, when tracing, the
    event log on."""
    from movement_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ.get('TMPDIR', work)}",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{event_dir}",
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


def _jvm_process():
    from pyspark import SparkContext
    return SparkContext._gateway.proc


def peak_rss_mb() -> float:
    """Peak resident memory of the Spark JVM plus this driver process."""
    return (_vm_hwm_kb(_jvm_process().pid) + _vm_hwm_kb("self")) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin closes)."""
    from pyspark import SparkContext

    proc = _jvm_process()
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=10)


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of this machine so far, in clock ticks."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


CLK_TCK = os.sysconf("SC_CLK_TCK")
# the JVM's JIT compiler threads, as their names read in /proc (cut to
# 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def proc_stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    cut = raw.rindex(")")
    return raw[raw.index("(") + 1:cut], raw[cut + 1:].split()


def _tree_ticks() -> int:
    """CPU ticks (user + system, own and reaped children) used so far by
    this process and every process it started, directly or not: the
    driver, the Spark JVM, the commands the JVM runs and PySpark's Python
    workers, whose daemon puts them in a process group of their own."""
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        st = proc_stat(f"/proc/{pid}/stat") if pid.isdigit() else None
        if st is not None:
            parent[int(pid)] = int(st[1][1])
            ticks[int(pid)] = sum(int(x) for x in st[1][11:15])
    me, total = os.getpid(), 0
    for pid, t in ticks.items():
        while pid > 1 and pid != me:
            pid = parent.get(pid, 0)
        total += t if pid == me else 0
    return total


def _jit_ticks() -> dict[str, int]:
    """CPU ticks used so far by each JIT compiler thread of the JVM."""
    task = f"/proc/{_jvm_process().pid}/task"
    out = {}
    for tid in os.listdir(task):
        st = proc_stat(f"{task}/{tid}/stat")
        if st is not None and st[0].startswith(JIT_THREADS):
            out[tid] = int(st[1][11]) + int(st[1][12])
    return out


class CpuClock:
    """CPU time of the program's processes from when it is made until
    ``seconds()``, less the JVM's JIT compilation. It leaves out the time
    the program waits while other work on the host holds the CPUs, which
    wall time counts; the JIT compiler's share falls from call to call
    and varies between JVMs, so it is left out as warm-up work."""

    def __init__(self):
        self.jit, self.ticks = _jit_ticks(), _tree_ticks()

    def seconds(self) -> float:
        ticks, jit = _tree_ticks(), _jit_ticks()
        # a compiler thread that ended in between takes its last
        # ticks with it; they are few, as the JVM ends idle ones
        jit_used = sum(t - self.jit.get(tid, 0) for tid, t in jit.items())
        return (ticks - self.ticks - jit_used) / CLK_TCK


def parquet_files(d: str) -> list[str]:
    return sorted(os.path.join(d, f) for f in os.listdir(d)
                  if f.endswith(".parquet"))


# -- closed drain -------------------------------------------------------------

class BulkRun:
    """Timed drains of a ready stage."""

    def __init__(self, spark, w: Bulk, stage: str, work: str,
                 warmup_passes: int):
        from movement_spark.streaming import pipeline

        self.spark, self.w, self.stage, self.work = spark, w, stage, work
        self.warmup_passes = warmup_passes
        self.runner = getattr(pipeline, w.runner)
        self.passes = 0

    def _pass(self, tracer):
        k = self.passes
        self.passes += 1
        sink = os.path.join(self.work, f"sink{k}")
        ck = os.path.join(self.work, f"ck{k}")
        ctx = tracer.call(self.w.runner, ck) if tracer else nullcontext()
        with ctx:
            clock = CpuClock()
            t0 = time.perf_counter()
            pdf = self.runner(self.spark, NO_SF_DIR, stage_dir=self.stage,
                              sink_dir=sink, checkpoint_dir=ck).toPandas()
            wall = time.perf_counter() - t0
            cpu = clock.seconds()
        shutil.rmtree(sink, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
        return wall, cpu, pdf

    def warm_up(self) -> list[float]:
        return [self._pass(None)[0] for _ in range(self.warmup_passes)]

    def measure(self, seconds: float, min_passes: int, tracer=None) -> dict:
        walls, cpus, pdfs = [], [], []
        t0 = time.perf_counter()
        while len(walls) < min_passes or time.perf_counter() - t0 < seconds:
            wall, cpu, pdf = self._pass(tracer)
            walls.append(wall)
            cpus.append(cpu)
            pdfs.append(pdf)
        return {
            "walls": walls, "cpus": cpus, "pdfs": pdfs,
            # a drain emits every result when its pass ends, and all of
            # the pass's input had landed when it began
            "lags": walls,
        }


# -- open loop ----------------------------------------------------------------

class LiveRun:
    """Ready files in ``pending`` landed on a schedule into one live
    stage; the warm-up and the measured loop share its sink and
    checkpoint."""

    def __init__(self, spark, w: Live, pending: str, work: str,
                 warmup: int):
        self.spark, self.w, self.warmup = spark, w, warmup
        self.files = parquet_files(pending)
        self.dirs = {k: os.path.join(work, k) for k in ("stage", "sink", "ck")}
        os.makedirs(self.dirs["stage"])

    def _land(self, k: int) -> float:
        """Move file ``k`` into the stage; returns when it landed."""
        now = time.time()
        os.utime(self.files[k], (now, now))
        os.rename(self.files[k], os.path.join(
            self.dirs["stage"], os.path.basename(self.files[k])))
        return time.perf_counter()

    def _resume(self):
        from movement_spark.streaming.pipeline import (
            run_streaming_ordered_merge)
        d = self.dirs
        return run_streaming_ordered_merge(
            self.spark, NO_SF_DIR, stage_dir=d["stage"], sink_dir=d["sink"],
            checkpoint_dir=d["ck"], mode="python").toPandas()

    def warm_up(self) -> list[float]:
        walls = []
        for k in range(self.warmup):
            self._land(k)
            t0 = time.perf_counter()
            self._resume()
            walls.append(time.perf_counter() - t0)
        return walls

    def measure(self, tracer=None) -> dict:
        measured = list(range(self.warmup, len(self.files)))
        dpf, period = self.w.shape.docs_per_file, self.w.period_s
        due: dict[int, float] = {}
        late: list[float] = []
        landed: list[int] = []
        ready = threading.Event()
        file_rows = {k: pq.read_metadata(self.files[k]).num_rows
                     for k in measured}
        t_start = time.perf_counter() + 0.05

        def generator():
            for i, k in enumerate(measured):
                due[k] = t_start + i * period
                time.sleep(max(0.0, due[k] - time.perf_counter()))
                late.append(self._land(k) - due[k])
                landed.append(k)
                ready.set()

        thread = threading.Thread(target=generator, daemon=True)
        thread.start()
        seen: set[str] = set()
        emitted = {k: 0 for k in measured}
        lags, walls, cpus, call_rows, backlog, pdf = [], [], [], [], [], None
        deadline = time.perf_counter() + len(measured) * period + 60
        while True:
            ready.wait(timeout=1.0)
            ready.clear()
            n_landed = len(landed)
            complete = sum(1 for k in landed[:n_landed] if emitted[k] == dpf)
            if n_landed > complete:
                backlog.append(n_landed - complete)
                ctx = (tracer.call("run_streaming_ordered_merge",
                                   self.dirs["ck"])
                       if tracer else nullcontext())
                with ctx:
                    clock = CpuClock()
                    t0 = time.perf_counter()
                    pdf = self._resume()
                    t1 = time.perf_counter()
                    cpus.append(clock.seconds())
                walls.append(t1 - t0)
                new = set(pdf["doc_id"]) - seen
                rows = 0
                for doc in new:
                    k = int(doc[1:]) // dpf
                    if k in emitted:
                        emitted[k] += 1
                        # from when the file was due, so a late landing
                        # counts too
                        lags.append(t1 - due[k])
                        if emitted[k] == dpf:
                            rows += file_rows[k]
                call_rows.append(rows)
                seen |= new
            elif not thread.is_alive() and n_landed == len(measured):
                break
            if time.perf_counter() > deadline:
                raise TimeoutError(f"open loop emitted {len(seen)} docs; "
                                   f"backlog {backlog}")
        thread.join()
        return {
            "walls": walls, "cpus": cpus, "call_rows": call_rows,
            "pdfs": [pdf], "lags": lags,
            "backlog": backlog, "saturated": saturated(backlog),
            "late_max_s": max(late),
        }


# -- main ---------------------------------------------------------------------

def _summarise(m: dict, results: str) -> dict:
    """Lag quantiles in place of the samples; result frames to parquet."""
    lags = m.pop("lags")
    m["lag_p50_s"] = float(np.quantile(lags, 0.5))
    m["lag_p90_s"] = float(np.quantile(lags, 0.9))
    m["lag_samples"] = len(lags)
    os.makedirs(results, exist_ok=True)
    m["results"] = []
    for k, pdf in enumerate(m.pop("pdfs")):
        path = os.path.join(results, f"result-{k}.parquet")
        pdf.to_parquet(path, index=False)
        m["results"].append(path)
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--input", required=True,
                    help="bulk: the stage; live_cep: the files to land")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--results", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--min-passes", type=int, required=True,
                    help="least number of measured bulk passes")
    ap.add_argument("--warmup-passes", type=int, required=True,
                    help="untimed bulk drains or open-loop landings "
                         "before the measured ones")
    ap.add_argument("--trace-dir")
    args = ap.parse_args(argv)

    w = WORKLOADS[args.workload]
    os.makedirs(args.work, exist_ok=True)
    event_dir = (os.path.join(args.trace_dir, "eventlog")
                 if args.trace_dir else None)
    t, ticks = time.perf_counter(), _tree_ticks()
    spark = start_spark(args.work, args.cores, event_dir)
    out = {"workload": args.workload, "cores": args.cores,
           "session_s": time.perf_counter() - t}
    tracer = None
    try:
        if isinstance(w, Bulk):
            run = BulkRun(spark, w, args.input, args.work,
                          args.warmup_passes)
            measure = (lambda tr: run.measure(args.seconds, args.min_passes,
                                              tr))
        else:
            run = LiveRun(spark, w, args.input, args.work,
                          args.warmup_passes)
            out["stage"] = run.dirs["stage"]
            measure = run.measure
        t = time.perf_counter()
        out["warm_walls"] = run.warm_up()
        out["warm_s"] = time.perf_counter() - t
        out["setup_cpu_s"] = (_tree_ticks() - ticks) / CLK_TCK
        if args.trace_dir:
            from perfbench.trace import Tracer
            tracer = Tracer(spark, args.cores)
            tracer.install()
        stolen, total = cpu_jiffies()
        m = measure(tracer)
        stolen_end, total_end = cpu_jiffies()
        out["peak_rss_mb"] = peak_rss_mb()
        out["run"] = _summarise(m, args.results)
        out["run"]["steal_share"] = ((stolen_end - stolen)
                                     / max(total_end - total, 1))
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)
    if tracer is not None:
        from perfbench.trace import read_event_log
        events = read_event_log(event_dir)
        with open(os.path.join(args.trace_dir, "spans.json"), "w") as f:
            json.dump(tracer.spans(events), f)
        out["per_layer"] = tracer.per_layer(events)
        out["state_operators"] = sorted({
            op.get("operatorName", "") for p in tracer.listener.progress
            for op in p.get("stateOperators", [])})
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
