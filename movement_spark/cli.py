"""CLI entrypoint: ``python -m movement_spark.cli task <Name> [-c conf] [-s k=v]``.

Mirrors the reference CLI surface (cli/.../CLI.java:91-108): a task name,
a properties file, and ``-s key=value`` overrides layered on top
(ConfigUtil.withOverrides analog). Designed for
``spark-submit --py-files movement_spark.zip movement_spark/cli.py ...``
on a real cluster; locally it builds its own session.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_props(path: str) -> dict[str, str]:
    conf: dict[str, str] = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            k, v = line.split("=", 1)
            conf[k.strip()] = v.strip()
    return conf


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="movement_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    t = sub.add_parser("task", help="run a named job")
    t.add_argument("name")
    t.add_argument("-c", "--config", help="properties file")
    t.add_argument("-s", "--set", action="append", default=[],
                   metavar="K=V", help="config override (repeatable)")
    t.add_argument("-q", "--quiet", action="store_true",
                   help="suppress the 1 Hz live status line")

    sub.add_parser("list-tasks", help="list known jobs")
    sub.add_parser("list-queries", help="list registered queries")

    args = ap.parse_args(argv)

    from movement_spark.jobs import JOBS

    if args.cmd == "list-tasks":
        for name in sorted(JOBS):
            print(name)
        return 0
    if args.cmd == "list-queries":
        from movement_spark import queries as Q
        for name in sorted(Q.queries()):
            print(name)
        return 0

    conf = parse_props(args.config) if args.config else {}
    for kv in args.set:
        if "=" not in kv:
            ap.error(f"-s expects K=V, got {kv!r}")
        k, v = kv.split("=", 1)
        conf[k] = v
    result = _run_with_status(args.name, conf, quiet=args.quiet)
    print(json.dumps({
        "task": result.name,
        "status": result.status,
        "elapsed_sec": round(result.elapsed_sec, 3),
        "metrics": result.metrics,
    }))
    return 0 if result.status == "SUCCEEDED" else 1


def _run_with_status(name: str, conf: dict, quiet: bool = False):
    """Run a task async and poll it at 1 Hz, printing the reference's
    StatusMonitor line (CLI.java:29-34: a scheduled 1 Hz printout of the
    per-output io counters while the task runs). The counters come from a
    RuntimeMetricsListener on the shared session — the same signal the
    reference reads off its outputs' AtomicLongs — so the line is live
    during streaming stages, not a post-hoc summary."""
    import time

    from movement_spark.jobs import run_job_async, task_status, wait_task
    from movement_spark.session import get_spark
    from movement_spark.streaming.metrics import STATUS_FORMAT, listening

    spark = get_spark(app_name=f"movement_spark_{name}")
    with listening(spark) as listener:
        # conf= (dict channel), never **conf: user-controlled keys like
        # 'name' or 'spark' in a properties file would collide with the
        # positional parameters and TypeError instead of running the job
        task_id = run_job_async(name, spark=spark, conf=conf)
        last, t0 = 0, time.time()
        while task_status(task_id)["status"] == "RUNNING":
            time.sleep(1.0)
            if quiet:
                continue
            total = listener.total_rows
            elapsed = max(time.time() - t0, 1e-9)
            print(STATUS_FORMAT % (total, total - last, 1.0, total / elapsed),
                  file=sys.stderr)
            last = total
    return wait_task(task_id)


if __name__ == "__main__":
    sys.exit(main())
