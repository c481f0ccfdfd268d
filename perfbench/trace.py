"""Tracing for the benchmark's traced run, entirely from outside the program.

Three sources, all public:

- ``ProgressListener``: the benchmark's own StreamingQueryListener. It
  keeps every progress event (``durationMs`` breakdown, ``sources``,
  ``stateOperators``) and the query start and end events.
- ``Tracer.install``: thin timing wrappers around the public
  ``IdempotentKeyedSink.foreach_batch`` and ``.read`` methods. A
  foreachBatch write is the action that runs the micro-batch's plan, so
  a sink write span contains that batch's Spark jobs.
- The Spark event log (``spark.eventLog.enabled``), read after the
  session stops, for jobs, stages and task metrics.

``Tracer.spans`` joins them into one tree per runner call: runner call ->
micro-batch -> Spark job -> stage, plus sink write/read calls. The
per-layer metrics are derived from those spans and counts.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from datetime import datetime, timezone
from urllib.parse import unquote, urlparse

from pyspark.sql.streaming import StreamingQueryListener

from movement_spark.sinks.idempotent import IdempotentKeyedSink

# stateOperators[].operatorName -> the program module that owns the state
STATE_LAYERS = {
    "stateStoreSave": "windows",
    "sessionWindowStateStoreSaveExec": "ordering",
    "applyInPandasWithState": "ordering",
    "symmetricHashJoin": "joins",
    "dedupeWithinWatermark": "dedup",
}

# event-log SQL metric names of the Python boundary (PythonSQLMetrics)
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


def _iso_s(stamp: str) -> float:
    """Seconds since the epoch from Spark's ISO-8601 UTC timestamp."""
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


class ProgressListener(StreamingQueryListener):
    """Keeps query start, progress and end events in memory."""

    def __init__(self):
        self.started: list[dict] = []
        self.progress: list[dict] = []
        self.terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        with self._cv:
            self.started.append({"id": str(event.id),
                                 "ts": _iso_s(event.timestamp)})

    def onQueryProgress(self, event):
        with self._cv:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def wait_quiet(self, timeout: float = 10.0) -> None:
        """Block until every started query's end event has arrived: the
        listener bus is asynchronous and FIFO, so after that no progress
        event of those queries is still in flight."""
        with self._cv:
            self._cv.wait_for(lambda: self.terminated >= len(self.started),
                              timeout)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Tracer:
    """Spans and counts of the traced run. ``call`` marks one measured
    runner call; events outside every call window (warm-up) are ignored."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        self.listener = ProgressListener()
        self.calls: list[dict] = []
        self.sink_spans: list[dict] = []
        self._orig = None

    # -- installation ----------------------------------------------------
    def install(self) -> None:
        self.spark.streams.addListener(self.listener)
        orig_fb = IdempotentKeyedSink.foreach_batch
        orig_read = IdempotentKeyedSink.read
        self._orig = (orig_fb, orig_read)
        spans = self.sink_spans

        def foreach_batch(sink, batch_df, epoch_id):
            t0, rows0 = time.time(), sink.io_ops
            try:
                return orig_fb(sink, batch_df, epoch_id)
            finally:
                epoch_dir = os.path.join(sink.path, f"epoch={epoch_id}")
                spans.append({
                    "name": "sink.write", "start": t0, "end": time.time(),
                    "epoch": epoch_id, "rows": sink.io_ops - rows0,
                    "bytes": _dir_bytes(epoch_dir)})

        def read(sink, spark, *args, **kwargs):
            t0 = time.time()
            try:
                return orig_read(sink, spark, *args, **kwargs)
            finally:
                spans.append({
                    "name": "sink.read", "start": t0, "end": time.time(),
                    "live_epochs": len(sink.epochs())})

        IdempotentKeyedSink.foreach_batch = foreach_batch
        IdempotentKeyedSink.read = read

    def uninstall(self) -> None:
        if self._orig is not None:
            IdempotentKeyedSink.foreach_batch, IdempotentKeyedSink.read = \
                self._orig
            self._orig = None
        self.spark.streams.removeListener(self.listener)

    @contextmanager
    def call(self, name: str, checkpoint: str):
        """One measured runner call on the query checkpointed at
        ``checkpoint``."""
        rec = {"name": name, "start": time.time()}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.listener.wait_quiet()
            prog = [p for p in self.listener.progress
                    if rec["start"] <= _iso_s(p["timestamp"]) <= rec["end"]]
            rec["files"], rec["bytes"] = _files_read(checkpoint, prog)
            self.calls.append(rec)

    # -- span tree ---------------------------------------------------------
    def spans(self, events: list[dict]) -> list[dict]:
        """Every span with name, start, end (seconds) and parent index."""
        out: list[dict] = []

        def add(name, start, end, parent, **extra):
            out.append({"id": len(out), "name": name, "start": start,
                        "end": end, "parent": parent, **extra})
            return len(out) - 1

        call_ids = [add(f"runner:{c['name']}", c["start"], c["end"], None)
                    for c in self.calls]

        def enclosing(t: float):
            for i, c in enumerate(self.calls):
                if c["start"] <= t <= c["end"]:
                    return call_ids[i]
            return None

        batch_ids: dict[tuple[str, int], int] = {}
        for p in self.listener.progress:
            start = _iso_s(p["timestamp"])
            parent = enclosing(start)
            if parent is None:
                continue
            dur = p.get("durationMs", {}).get("triggerExecution", 0) / 1e3
            batch_ids[(p["id"], p["batchId"])] = add(
                "micro-batch", start, start + dur, parent,
                batch=p["batchId"])

        def innermost(t: float, name: str):
            hits = [s for s in out if s["name"] == name
                    and s["start"] <= t <= s["end"]]
            return hits[-1]["id"] if hits else None

        for s in self.sink_spans:
            parent = innermost(s["start"], "micro-batch") \
                or enclosing(s["start"])
            if parent is not None:
                extra = {k: v for k, v in s.items()
                         if k not in ("name", "start", "end")}
                add(s["name"], s["start"], s["end"], parent, **extra)
        jobs, stages = _jobs_and_stages(events)
        for job in jobs.values():
            if "end" not in job:
                continue
            query = job["props"].get("sql.streaming.queryId")
            batch = job["props"].get("streaming.sql.batchId")
            parent = (innermost(job["start"], "sink.write")
                      or batch_ids.get((query, int(batch or -1)))
                      or enclosing(job["start"]))
            if parent is None:
                continue
            jid = add("job", job["start"], job["end"], parent,
                      job=job["id"])
            for sid in job["stages"]:
                st = stages.get(sid)
                if st and "submit" in st and "complete" in st:
                    add("stage", st["submit"], st["complete"], jid,
                        stage=sid, tasks=len(st["run_ms"]))
        return out

    # -- per-layer metrics -----------------------------------------------
    def per_layer(self, events: list[dict]) -> dict:
        """Per-layer metrics, each the median over measured runner calls
        of that call's total (counts, times) or maximum (state sizes)."""
        jobs, stages = _jobs_and_stages(events)
        per_call = [self._call_metrics(c, jobs, stages) for c in self.calls]
        names = sorted({k for m in per_call for k in m})
        return {k: statistics.median(m[k] for m in per_call if k in m)
                for k in names}

    def _call_metrics(self, call: dict, jobs: dict, stages: dict) -> dict:
        t0, t1 = call["start"], call["end"]
        inside = (lambda t: t0 <= t <= t1)
        prog = [p for p in self.listener.progress
                if inside(_iso_s(p["timestamp"]))]
        starts = [s["ts"] for s in self.listener.started if inside(s["ts"])]
        m: dict[str, float] = {}
        dur = lambda k: sum(p.get("durationMs", {}).get(k, 0) for p in prog)
        m["sources.input_rows"] = sum(p.get("numInputRows", 0) for p in prog)
        m["sources.list_ms"] = dur("latestOffset")
        m["sources.get_batch_ms"] = dur("getBatch")
        m["streaming.batches"] = len(prog)
        if starts:
            m["streaming.start_ms"] = (min(starts) - t0) * 1e3
        m["streaming.plan_ms"] = dur("queryPlanning")
        m["streaming.add_batch_ms"] = dur("addBatch")
        m["streaming.wal_commit_ms"] = dur("walCommit")
        m["streaming.offsets_commit_ms"] = dur("commitOffsets")
        m["streaming.trigger_ms"] = dur("triggerExecution")

        ops: dict[str, list[dict]] = {}
        for p in prog:
            for op in p.get("stateOperators", []):
                layer = STATE_LAYERS.get(op.get("operatorName", ""), "state")
                ops.setdefault(layer, []).append(op)
        all_ops = [op for v in ops.values() for op in v]
        for layer, lst in [("state", all_ops), *ops.items()]:
            state = (lambda x: f"state.{x}") if layer == "state" \
                else (lambda x, layer=layer: f"{layer}.state_{x}")
            m[state("rows_max")] = max(
                (op.get("numRowsTotal", 0) for op in lst), default=0)
            m[state("bytes_max")] = max(
                (op.get("memoryUsedBytes", 0) for op in lst), default=0)
            m[state("commit_ms")] = sum(op.get("commitTimeMs", 0) for op in lst)
            m[state("update_ms")] = sum(
                op.get("allUpdatesTimeMs", 0) for op in lst)
            m[state("removal_ms")] = sum(
                op.get("allRemovalsTimeMs", 0) for op in lst)
            m[f"{layer}.rows_dropped_late"] = sum(
                op.get("numRowsDroppedByWatermark", 0) for op in lst)
            m[f"{layer}.rows_updated"] = sum(
                op.get("numRowsUpdated", 0) for op in lst)
            dropped_dup = [op.get("customMetrics", {}).get(
                "numDroppedDuplicateRows") for op in lst]
            if any(d is not None for d in dropped_dup):
                m[f"{layer}.rows_dropped_dup"] = sum(
                    d for d in dropped_dup if d is not None)
        m["sources.files"] = call["files"]
        m["sources.input_bytes"] = call["bytes"]

        call_jobs = [j for j in jobs.values()
                     if "start" in j and inside(j["start"])]
        call_stages = [stages[s] for j in call_jobs for s in j["stages"]
                       if s in stages and "acc" in stages[s]]
        acc = lambda name: sum(st["acc"].get(name, 0) for st in call_stages)
        m["shuffle.write_bytes"] = acc(
            "internal.metrics.shuffle.write.bytesWritten")
        m["shuffle.read_bytes"] = (
            acc("internal.metrics.shuffle.read.remoteBytesRead")
            + acc("internal.metrics.shuffle.read.localBytesRead"))
        m["shuffle.spill_bytes"] = (
            acc("internal.metrics.memoryBytesSpilled")
            + acc("internal.metrics.diskBytesSpilled"))
        skews = [max(st["run_ms"]) / max(statistics.median(st["run_ms"]), 1)
                 for st in call_stages
                 if st["stateful"] and len(st["run_ms"]) >= 2]
        if skews:
            m["shuffle.task_skew"] = statistics.median(skews)
        cpu_s = acc("internal.metrics.executorCpuTime") / 1e9
        wall = t1 - t0
        m["exec.cpu_s"] = cpu_s
        m["exec.busy_frac"] = cpu_s / (wall * self.cores)
        m["exec.gc_s"] = acc("internal.metrics.jvmGCTime") / 1e3
        if any(PY_SENT in st["acc"] for st in call_stages):
            m["cep.python_bytes_sent"] = acc(PY_SENT)
            m["cep.python_bytes_received"] = acc(PY_RECEIVED)
            m["cep.groups_updated"] = m.get("ordering.rows_updated", 0)

        writes = [s for s in self.sink_spans
                  if s["name"] == "sink.write" and inside(s["start"])]
        reads = [s for s in self.sink_spans
                 if s["name"] == "sink.read" and inside(s["start"])]
        m["sinks.write_ms"] = sum(s["end"] - s["start"] for s in writes) * 1e3
        m["sinks.epochs"] = len(writes)
        m["sinks.rows_written"] = sum(s["rows"] for s in writes)
        m["sinks.bytes_written"] = sum(s["bytes"] for s in writes)
        m["sinks.read_ms"] = sum(s["end"] - s["start"] for s in reads) * 1e3
        if reads:
            m["sinks.live_epochs"] = reads[-1]["live_epochs"]
        return m


def _log_offset(offset) -> int:
    """The file source's own log offset (-1 before its first batch)."""
    if isinstance(offset, str):
        offset = json.loads(offset)
    return -1 if offset is None else int(offset["logOffset"])


def _files_read(checkpoint: str, progress: list[dict]) -> tuple[int, int]:
    """(files, bytes) the file sources handed to the micro-batches of
    ``progress``. A batch reads the entries of source ``i``'s metadata log
    (``sources/<i>`` in the checkpoint) whose ``batchId`` -- the source's
    own log offset, not the query's batch id -- lies in the batch's
    (startOffset, endOffset]. Every tenth log file is a ``.compact`` that
    repeats all earlier entries, hence the de-duplication by path."""
    paths = set()
    for i in range(max((len(p.get("sources", [])) for p in progress),
                       default=0)):
        ranges = [(_log_offset(p["sources"][i].get("startOffset")),
                   _log_offset(p["sources"][i].get("endOffset")))
                  for p in progress if len(p.get("sources", [])) > i]
        log_dir = os.path.join(checkpoint, "sources", str(i))
        for name in os.listdir(log_dir) if os.path.isdir(log_dir) else []:
            if not name.split(".")[0].isdigit():
                continue
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    if not line.startswith("{"):
                        continue
                    entry = json.loads(line)
                    if any(lo < entry["batchId"] <= hi for lo, hi in ranges):
                        paths.add(entry["path"])
    n_bytes = sum(os.path.getsize(unquote(urlparse(p).path)) for p in paths)
    return len(paths), n_bytes


def _jobs_and_stages(events: list[dict]) -> tuple[dict, dict]:
    """Jobs (times, stage ids, properties) and stages (times, summed
    accumulables, task run times) from event-log records."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = {
                "id": e["Job ID"], "start": e["Submission Time"] / 1e3,
                "stages": e.get("Stage IDs", []),
                "props": e.get("Properties") or {}}
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = stages.setdefault(info["Stage ID"],
                                   {"run_ms": [], "stateful": False})
            if "Submission Time" in info:
                st["submit"] = info["Submission Time"] / 1e3
            if "Completion Time" in info:
                st["complete"] = info["Completion Time"] / 1e3
            acc = st.setdefault("acc", {})
            for a in info.get("Accumulables", []):
                name, val = a.get("Name"), a.get("Value")
                try:
                    acc[name] = acc.get(name, 0) + float(val)
                except (TypeError, ValueError):
                    continue
                if "state rows" in (name or ""):
                    st["stateful"] = True
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(e["Stage ID"],
                                   {"run_ms": [], "stateful": False})
            tm = e.get("Task Metrics") or {}
            st["run_ms"].append(tm.get("Executor Run Time", 0))
    return jobs, stages


def read_event_log(log_dir: str) -> list[dict]:
    """Every record of the (uncompressed, possibly rolled) event logs
    under ``log_dir``."""
    events = []
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith((".", "appstatus")):
                continue
            with open(os.path.join(root, name)) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events
