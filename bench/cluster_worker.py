#!/usr/bin/env python3
"""One executor-boundary scaling run: the windowed stateful streaming
pipeline under spark-submit (master set by the caller — local-cluster),
printing one JSON line. Launched by bench/scaling_cluster.py with
--py-files movement_spark.zip from a foreign cwd, so the engine must be
importable purely from the shipped artifact (same contract as
tests/test_deploy.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stage", required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--files-per-trigger", type=int, default=256)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from movement_spark.benchmarks import streaming_throughput
    from movement_spark.session import tune_session

    spark = SparkSession.builder.getOrCreate()
    tune_session(spark)
    spark.sparkContext.setLogLevel("ERROR")
    best = None
    for _ in range(args.reps):
        work = tempfile.mkdtemp(prefix="ms_cluster_scale_")
        r = streaming_throughput(
            spark, args.stage, args.rows,
            sink_dir=os.path.join(work, "sink"),
            checkpoint_dir=os.path.join(work, "ck"),
            files_per_trigger=args.files_per_trigger,
        )
        shutil.rmtree(work, ignore_errors=True)
        if best is None or r["elapsed_sec"] < best["elapsed_sec"]:
            best = r
    spark.stop()
    sys.stdout.write("RESULT=" + json.dumps(best) + "\n")


if __name__ == "__main__":
    main()
