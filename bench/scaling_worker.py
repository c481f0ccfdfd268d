#!/usr/bin/env python3
"""One scaling-bench run: the windowed stateful streaming pipeline at a
given parallelism level, in a fresh JVM. Prints one JSON line.

Usage: scaling_worker.py --cores N --stage DIR --rows N [--reps 2]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from movement_spark.benchmarks import streaming_throughput  # noqa: E402
from movement_spark.session import get_spark                # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--files-per-trigger", type=int, default=256)
    args = ap.parse_args()

    # Identical JVM config at every parallelism level: throughput GC,
    # off-heap column vectors (parquet decode without GC pressure), and a
    # fixed stateful-shuffle layout (state partitioning is a deployment
    # constant, like Kafka partitions).
    spark = get_spark(
        app_name=f"ms_scaling_{args.cores}",
        master=f"local[{args.cores}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(2 * args.cores),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
            "spark.sql.columnVector.offheap.enabled": "true",
            "spark.memory.offHeap.enabled": "true",
            "spark.memory.offHeap.size": "4g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    best = None
    for _ in range(args.reps):
        work = tempfile.mkdtemp(prefix=f"ms_scale_{args.cores}_")
        r = streaming_throughput(
            spark, args.stage, args.rows,
            sink_dir=os.path.join(work, "sink"),
            checkpoint_dir=os.path.join(work, "ck"),
            files_per_trigger=args.files_per_trigger,
        )
        shutil.rmtree(work, ignore_errors=True)
        if best is None or r["elapsed_sec"] < best["elapsed_sec"]:
            best = r
    best["cores"] = args.cores
    spark.stop()
    print(json.dumps(best))


if __name__ == "__main__":
    main()
