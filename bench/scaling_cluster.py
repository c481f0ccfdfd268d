#!/usr/bin/env python3
"""Executor-BOUNDARY scaling evidence (VERDICT r02 action #7).

The in-JVM protocol (bench/scaling.py, local[2] vs local[8]) shares one
heap across worker threads — a real cluster pays serialization at every
executor boundary. This script measures the identical windowed stateful
streaming job at the SAME N=2 → 4N=8 core window, but through
``local-cluster[1,2,M]`` vs ``local-cluster[4,2,M]``: 1 vs 4 SEPARATE
executor JVMs (2 cores each) with real task serialization, shuffle
writes across process boundaries, and the driver on its own JVM — the
closest this single-host sandbox gets to executor granularity. Each
level launches through spark-submit --py-files movement_spark.zip from
a foreign cwd (the deployment launch shape, tests/test_deploy.py).

Shared methodology with bench/scaling.py: identical staged input at
both levels, state partitions pinned at 8, throughput GC, best-of-reps.
Writes BENCH/scaling_cluster.json and appends/replaces a marked section
in BENCH/BASELINE.md (the in-JVM generator owns the rest of that file).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from movement_spark.session import get_spark                 # noqa: E402
from movement_spark.sources.synth import stage_synth_stream  # noqa: E402

SECTION_START = "<!-- scaling_cluster:start -->"
SECTION_END = "<!-- scaling_cluster:end -->"


def build_zip(tmp: str) -> str:
    pkg_dir = os.path.join(REPO, "movement_spark")
    zip_path = os.path.join(tmp, "movement_spark.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, REPO))
    return zip_path


def run_level(n_executors: int, zip_path: str, stage: str, rows: int,
              reps: int, tmp: str) -> dict:
    spark_submit = os.path.join(
        os.path.dirname(os.path.abspath(sys.executable)), "spark-submit")
    if not os.path.exists(spark_submit):
        spark_submit = "spark-submit"
    cores = 2 * n_executors
    out = subprocess.run(
        [spark_submit,
         "--master", f"local-cluster[{n_executors},2,4096]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.session.timeZone=UTC",
         "--conf", f"spark.sql.shuffle.partitions={2 * cores}",
         "--conf", "spark.executor.extraJavaOptions=-XX:+UseParallelGC",
         "--conf", "spark.driver.extraJavaOptions=-XX:+UseParallelGC",
         "--py-files", zip_path,
         os.path.join(REPO, "bench", "cluster_worker.py"),
         "--stage", stage, "--rows", str(rows), "--reps", str(reps)],
        capture_output=True, text=True, timeout=3600, cwd=tmp)
    if out.returncode != 0:
        raise RuntimeError(f"level {n_executors} failed:\n"
                           + out.stderr[-3000:])
    line = [ln for ln in out.stdout.splitlines()
            if ln.startswith("RESULT=")][-1]
    r = json.loads(line[len("RESULT="):])
    r["executors"] = n_executors
    r["cores"] = cores
    return r


def main() -> None:
    n_docs = int(os.environ.get("MS_SCALE_DOCS", "4000000"))
    len_mod = int(os.environ.get("MS_SCALE_LEN", "512"))
    reps = int(os.environ.get("MS_SCALE_REPS", "2"))

    stage = os.path.join(tempfile.gettempdir(),
                         f"ms_scaling_stage_{n_docs}_{len_mod}")
    # the manifest is written AFTER staging completes, so its
    # presence certifies a complete stage AND carries the true row
    # count (the closed-form n_docs//4 shortcut undercounted when
    # MS_SCALE_DOCS % 4 != 0, and a crash-interrupted stage dir
    # with stray part files used to pass the reuse check)
    manifest = os.path.join(stage, "_rows.json")
    if not os.path.isfile(manifest):
        # the stager adds files to its dir: clear an interrupted one
        shutil.rmtree(stage, ignore_errors=True)
        spark = get_spark(app_name="ms_scaling_stage", master="local[32]",
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        rows = stage_synth_stream(spark, n_docs, stage, n_files=128,
                                  len_mod=len_mod)
        spark.stop()
        with open(manifest, "w") as f:
            json.dump({"rows": rows, "n_docs": n_docs,
                       "len_mod": len_mod}, f)
    else:
        rows = json.load(open(manifest))["rows"]

    tmp = tempfile.mkdtemp(prefix="ms_cluster_bench_")
    zip_path = build_zip(tmp)
    r_low = run_level(1, zip_path, stage, rows, reps, tmp)
    r_high = run_level(4, zip_path, stage, rows, reps, tmp)
    speedup = r_low["elapsed_sec"] / r_high["elapsed_sec"]
    efficiency = speedup / 4.0

    result = {
        "generated_at": datetime.now(timezone.utc).isoformat(),
        "n_docs": n_docs,
        "rows": rows,
        "low": r_low,
        "high": r_high,
        "speedup": round(speedup, 3),
        "efficiency": round(efficiency, 3),
        "pass": efficiency >= 0.8,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "scaling_cluster.json"), "w") as f:
        json.dump(result, f, indent=2)

    section = f"""{SECTION_START}
## Executor-boundary scaling (local-cluster, separate JVMs)

Same job + staged input as the in-JVM table above, but each level runs
SEPARATE executor JVMs (2 cores each) under spark-submit
--py-files — real task serialization, cross-process shuffle, driver on
its own JVM. N=2 cores (1 executor) → 4N=8 cores (4 executors), best of
{reps} runs each ({result['generated_at']}):

| parallelism | elapsed (s) | sequences/sec | tokens/sec |
|---|---|---|---|
| local-cluster[1,2] (N) | {r_low['elapsed_sec']} | {r_low['seq_per_sec']:,.0f} | {r_low['tok_per_sec']:,.0f} |
| local-cluster[4,2] (4N) | {r_high['elapsed_sec']} | {r_high['seq_per_sec']:,.0f} | {r_high['tok_per_sec']:,.0f} |

**Speedup N→4N at executor granularity: {result['speedup']}× →
efficiency {result['efficiency']}
({'PASS' if result['pass'] else 'FAIL'} ≥ 0.8).**
{SECTION_END}"""

    md_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    md = open(md_path).read() if os.path.exists(md_path) else ""
    if SECTION_START in md and SECTION_END in md:
        pre = md.split(SECTION_START)[0]
        post = md.split(SECTION_END)[1]
        md = pre + section + post
    else:
        md = md.rstrip() + "\n\n" + section + "\n"
    with open(md_path, "w") as f:
        f.write(md)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
