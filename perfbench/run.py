#!/usr/bin/env python3
"""Streaming benchmark of the movement_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One command generates the workload's
input from the seed, drives the streaming engine through its public
runners in ``movement_spark/streaming/pipeline.py``, checks every result
against the DuckDB reference and prints each end-to-end metric by name
with its unit; the last line of standard output is the JSON result.
Its metrics are those BENCHMARK.json lists: ``seq_per_cpu_s`` (shard
rows per CPU-second of the program's processes, less JIT compilation)
and ``setup_s`` (CPU time of input generation, session start and
warm-up, JIT included). On a shared host wall time follows the load of
the other tenants far more than CPU time does, so the wall-time figures
(``seq_per_s``, the lags) are printed beside them but left out of the
result.

``--trace 1`` runs the same workload and seed in two processes, one
plain and one with tracing (Spark event log, the benchmark's
StreamingQueryListener, timing wrappers around the sink's public
methods), each for one measured drain or an open loop of half the time,
and prints the per-layer metrics and the tracing overhead instead. It
writes the span file and the per-layer summary to
``perfbench/_out/<workload>-seed<N>/``. For a bulk workload it also
times a first drain at ``local[1]`` for ``exec.parallel_eff``.

Every measurement runs in a child process (``worker.py``) in its own
process group with its temporary files under ``perfbench/_out``; the
group is killed and reaped when the child ends or overruns. Input
generation and the reference check run in this process, so the child's
peak memory is the program's alone.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "_out")
DEADLINE_S = 170.0
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.layers import LAYERS  # noqa: E402
from perfbench.worker import (WARMUP_FILES, WARMUP_PASSES,  # noqa: E402
                              WORKLOADS, Bulk, parquet_files, proc_stat)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
# Every metric a plain run prints; those BENCHMARK.json does not list
# are printed but left out of the result line.
UNITS = {"seq_per_cpu_s": "1/s", "seq_per_s": "1/s", "lag_p50_s": "s",
         "lag_p90_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}

# Per-layer metrics this Spark build does not publish under any name.
NOT_EXPOSED = {
    "cep.python_rows_out": "Spark publishes no Python-specific row count "
                           "for applyInPandasWithState (only the shared "
                           "'number of output rows')",
}


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        st = proc_stat(f"/proc/{pid}/stat") if pid.isdigit() else None
        if st is not None and int(st[1][2]) == pgid and st[1][0] != "Z":
            return True
    return False


def _kill_group(pgid: int) -> None:
    """Kill every process left in the group and wait until none runs."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    t_end = time.monotonic() + 10
    while _group_alive(pgid) and time.monotonic() < t_end:
        time.sleep(0.05)


def run_worker(argv: list[str], work: str, deadline: float) -> dict:
    """Run worker.py with ``argv`` and return its JSON record."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
               PYTHONPATH=ROOT, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *argv,
             "--work", os.path.join(work, "spark"),
             "--results", os.path.join(work, "results")],
            cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(
                timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            _kill_group(proc.pid)
            proc.wait()
            raise RuntimeError(f"worker overran the deadline: {argv}")
        finally:
            _kill_group(proc.pid)
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"worker exited {proc.returncode}: {argv}")
    return json.loads(out.strip().splitlines()[-1])


def prepare(w, seed: int, seconds: float, work: str, warmup: int) -> dict:
    """Generate the worker's input under ``work``: the stage of a bulk
    workload, or every file the open loop will land, ``warmup`` landings
    first."""
    t, cpu = time.perf_counter(), time.process_time()
    if isinstance(w, Bulk):
        path = os.path.join(work, "stage")
        traffic = gen.generate_bulk(path, w.shape, seed)
    else:
        path = os.path.join(work, "pending")
        os.makedirs(path)
        tables = gen.live_tables(w.shape, seed,
                                 warmup + w.measured_files(seconds))
        for k, table in enumerate(tables):
            gen.write_file(table, os.path.join(path, f"part-{k:04d}.parquet"),
                           time.time())
        traffic = gen.live_traffic(tables[warmup:])
        traffic["period_s"] = w.period_s
    return {"path": path, "gen_s": time.perf_counter() - t,
            "gen_cpu_s": time.process_time() - cpu, "traffic": traffic}


def check(w, rec: dict, stage: str) -> list[dict]:
    """Compare every result the worker wrote with the reference over the
    files the runner read."""
    import pandas as pd
    from perfbench.reference import compare, reference

    expected = reference(w.oracle, parquet_files(stage))
    return [compare(pd.read_parquet(p), expected, list(w.keys))
            for p in rec["run"]["results"]]


def measure(name: str, seed: int, seconds: float, cores: int, work: str,
            deadline: float, trace_dir: str | None = None,
            min_passes: int = 2,
            warmup_passes: int | None = None) -> dict:
    """Generate, run one worker, check its results; the worker's record
    with setup_s, the throughputs and the checks added."""
    w = WORKLOADS[name]
    if warmup_passes is None:
        warmup_passes = WARMUP_PASSES if isinstance(w, Bulk) else WARMUP_FILES
    inp = prepare(w, seed, seconds, work, warmup_passes)
    argv = ["--workload", name, "--input", inp["path"],
            "--seconds", str(seconds), "--cores", str(cores),
            "--min-passes", str(min_passes),
            "--warmup-passes", str(warmup_passes)]
    if trace_dir is not None:
        argv += ["--trace-dir", trace_dir]
    rec = run_worker(argv, work, deadline)
    r, traffic = rec["run"], inp["traffic"]
    rec.update(seed=seed, gen_s=inp["gen_s"], traffic=traffic,
               setup_s=inp["gen_cpu_s"] + rec["setup_cpu_s"])
    if isinstance(w, Bulk):
        r["seq_per_s"] = statistics.median(traffic["rows"] / x
                                           for x in r["walls"])
        r["seq_per_cpu_s"] = statistics.median(traffic["rows"] / x
                                               for x in r["cpus"])
        rec["checks"] = check(w, rec, inp["path"])
    else:
        r["seq_per_s"] = traffic["rows"] / sum(r["walls"])
        # each call emits the files it read whole: their rows per the
        # call's CPU time
        r["seq_per_cpu_s"] = statistics.median(
            n / x for n, x in zip(r["call_rows"], r["cpus"]))
        traffic.update(late_max_s=r["late_max_s"],
                       backlog_max_files=max(r["backlog"]))
        rec["checks"] = check(w, rec, rec["stage"])
    return rec


def checks(recs: list[dict]) -> tuple[int, int, bool]:
    """(attempted, failed, saturated) over every measured result: each
    expected result row is one operation; a missing, extra or differing
    row is a failed one, and a saturated open loop fails as a whole."""
    attempted = sum(c["expected"] for r in recs for c in r["checks"])
    failed = sum(c["missing"] + c["extra"] + c["differing"]
                 for r in recs for c in r["checks"])
    sat = any(r["run"].get("saturated", False) for r in recs)
    return attempted, failed + int(sat), sat


def end_to_end(rec: dict) -> dict:
    r = rec["run"]
    m = {k: r[k] for k in ("seq_per_cpu_s", "seq_per_s", "lag_p50_s",
                           "lag_p90_s")}
    return dict(m, peak_rss_mb=rec["peak_rss_mb"], setup_s=rec["setup_s"])


def per_layer(rec: dict, plain: dict, baseline: dict | None) -> dict:
    """Per-layer metrics of a traced record; ``exec.parallel_eff`` from
    the untraced record and the local[1] baseline."""
    m = dict(rec["per_layer"])
    m["session.start_s"] = rec["session_s"]
    for k, v in rec["traffic"].items():
        if k not in ("files", "period_s"):
            m[f"generator.{k}"] = v
    if baseline is not None:
        # both are the first drain of a fresh JVM: a warm local[1] pass
        # does not fit in the run's deadline
        m["exec.parallel_eff"] = baseline["run"]["walls"][0] / (
            rec["cores"] * plain["warm_walls"][0])
    return m


def _wall(rec: dict) -> float:
    return statistics.median(rec["run"]["walls"])


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def report_end_to_end(rec: dict, metrics: dict, attempted: int,
                      failed: int, sat: bool) -> None:
    r, t = rec["run"], rec["traffic"]
    live = "backlog" in r
    loop = (f"open loop, one file every {t['period_s']} s" if live
            else "closed drain")
    # timings on a shared host track the CPU time the hypervisor steals
    backlog = (f" (backlog at each call, files: {r['backlog']})" if live
               else "")
    print(f"# {rec['workload']} seed {rec['seed']}: {loop}; "
          f"{len(r['walls'])} runner calls{backlog} over {t['rows']} shard "
          f"rows; local[{rec['cores']}]; host CPU steal "
          f"{r['steal_share']:.1%} while timed")
    samples = (f"{r['lag_samples']} docs from {len(r['walls'])} runner "
               "calls" if live else f"{r['lag_samples']} drains")
    cpu = ("CPU time of the driver, the Spark JVM and the processes it "
           "starts, less JIT compilation")
    calls = ", ".join(_fmt(x) for x in r["cpus"])
    notes = {
        "seq_per_cpu_s": (f"shard rows of the files a call completes / {cpu}, "
                          f"during the call (median over calls: {calls} s)"
                          if live else
                          f"shard rows delivered / {cpu}, during the "
                          f"runner call (median over calls: {calls} s)"),
        "seq_per_s": "shard rows / summed runner-call wall" if live else
                     "shard rows delivered / wall of runner call until "
                     "its result is materialized (median over calls)",
        "lag_p50_s": samples,
        "lag_p90_s": samples,
        "peak_rss_mb": "VmHWM of the Spark JVM + driver process",
        "setup_s": f"CPU time of the generator, the driver, the Spark JVM "
                   f"and the processes it starts, JIT included, for "
                   f"generation, session start and warm-up; wall: "
                   f"generation {_fmt(rec['gen_s'])} s + session "
                   f"{_fmt(rec['session_s'])} s + warm-up "
                   f"{_fmt(rec['warm_s'])} s (calls: "
                   + ", ".join(_fmt(x) for x in rec["warm_walls"]) + " s)",
    }
    for k, v in metrics.items():
        gate = "" if k in END_TO_END else " (printed only)"
        print(f"{k:13s} {_fmt(v):>12s} {UNITS[k]:5s} {notes[k]}{gate}")
    rate = failed / max(attempted, 1)
    print(f"{'error_rate':13s} {_fmt(rate):>12s} {'ratio':5s} "
          f"{failed} of {attempted} result rows missing, extra or "
          f"differing vs the DuckDB reference"
          + ("; SATURATED: backlog grew, lag is not a latency" if sat
             else ""))


def report_per_layer(rec: dict, m: dict, trace_dir: str) -> dict:
    """Print the per-layer table; return it with its notes."""
    ops = ", ".join(rec.get("state_operators", [])) or "none"
    print(f"# {rec['workload']} seed {rec['seed']}: per-layer metrics, "
          f"median over {len(rec['run']['walls'])} traced runner calls; "
          f"state operators: {ops}")
    table = {}
    for layer, rows in LAYERS.items():
        for name, unit, moves, on, same in rows:
            if name in m:
                value, note = m[name], f"moves {moves} on {on}"
            elif name in NOT_EXPOSED:
                value, note = None, f"not exposed: {NOT_EXPOSED[name]}"
            else:
                value, note = None, "n/a: not in this workload's plan"
            table[name] = {"layer": layer, "value": value, "unit": unit,
                           "note": note}
            shown = "-" if value is None else _fmt(value)
            print(f"{name:30s} {shown:>12s} {unit:5s} {note}")
    print(f"# spans: {os.path.join(trace_dir, 'spans.json')}")
    return table


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S
    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    run = (lambda sub, seconds, n, **kw: measure(
        args.workload, args.seed, seconds, n, os.path.join(work, sub),
        deadline, **kw))
    try:
        if args.trace == 0:
            rec = run("main", args.seconds, cores)
            recs = [rec]
            attempted, failed, sat = checks(recs)
            report_end_to_end(rec, end_to_end(rec), attempted, failed, sat)
            metrics = {k: end_to_end(rec)[k] for k in END_TO_END}
            units = END_TO_END
        else:
            trace_dir = os.path.join(OUT, tag)
            shutil.rmtree(trace_dir, ignore_errors=True)
            # a plain and a traced process, one warm-up drain or landing
            # and one measured drain (or a loop of half the time) each,
            # and for a bulk workload one cold local[1] drain: all three
            # fit in the deadline
            bulk = isinstance(WORKLOADS[args.workload], Bulk)
            seconds = 0 if bulk else args.seconds / 2
            plain = run("plain", seconds, cores, min_passes=1,
                        warmup_passes=1)
            rec = run("traced", seconds, cores, trace_dir=trace_dir,
                      min_passes=1, warmup_passes=1)
            recs = [plain, rec]
            baseline = None
            if bulk:
                baseline = run("local1", 0, 1, min_passes=1,
                               warmup_passes=0)
                recs.append(baseline)
            m = per_layer(rec, plain, baseline)
            table = report_per_layer(rec, m, trace_dir)
            overhead = _wall(rec) - _wall(plain)
            print(f"{'trace.overhead_s':30s} {_fmt(overhead):>12s} "
                  f"{'s':5s} median traced call wall - median call wall "
                  "of an untraced process (event log off), same seed")
            with open(os.path.join(trace_dir, "per_layer.json"), "w") as f:
                json.dump({"per_layer": table,
                           "trace_overhead_s": overhead,
                           "traced_wall_s": _wall(rec),
                           "untraced_wall_s": _wall(plain)},
                          f, indent=1)
            shutil.rmtree(os.path.join(trace_dir, "eventlog"),
                          ignore_errors=True)
            metrics = {k: m[k] for k in PER_LAYER}
            attempted, failed, sat = checks(recs)
            units = PER_LAYER
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0 and not sat,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
