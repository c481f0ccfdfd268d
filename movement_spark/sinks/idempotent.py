"""Exactly-once idempotent sink (Output/OutputWriter analog).

The reference's Output contract is per-(type,label) writers with metrics
and dropStorage (core/.../output/core/Output.java:29-37). The north rule
upgrades that to an exactly-once sink keyed (doc_id, window).

foreachBatch is at-least-once on retry, so exactly-once is achieved the
same way an Iceberg MERGE would: make replays IDEMPOTENT.

  - every micro-batch writes to a deterministic path ``epoch=<id>/`` in
    overwrite mode — a replayed batch overwrites its own previous
    attempt, never duplicating rows;
  - readers dedup by the logical key keeping the highest epoch — the
    MERGE-on-read equivalent (no Iceberg runtime jar is available in
    this sandbox; the sink API is the same, so an Iceberg
    ``MERGE INTO ... ON t.doc_id = s.doc_id AND t.ws = s.ws`` backend
    slots in without touching callers);
  - ``compact()`` materializes the dedup — MERGE-on-write.

At cluster scale the epoch subdirectories are the transaction log; the
key-based dedup bounds reader work to keys written more than once
(i.e. only replayed epochs).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window


def _union_schema(recorded: StructType | None,
                  batch: StructType) -> StructType:
    """The recorded fields in their order (a field the batch carries
    takes the batch's definition), then the batch's new ones — so a
    narrower later batch never hides an earlier column."""
    if recorded is None:
        return batch
    new = {f.name: f for f in batch.fields}
    seen = set(recorded.fieldNames())
    return StructType([new.get(f.name, f) for f in recorded.fields]
                      + [f for f in batch.fields if f.name not in seen])


class IdempotentKeyedSink:
    """Parquet-backed exactly-once sink keyed by ``keys``."""

    def __init__(self, path: str, keys: list[str]):
        self.path = path
        self.keys = keys
        self.io_ops = 0          # OutputWriter io_ops counter analog
        self.batches = 0

    # schema + compaction watermark live BESIDE the epoch log. The
    # schema file is the union of every batch schema written: reads use
    # it instead of inferring one from the epoch footers, and a fresh
    # process resuming an existing sink (whose epochs may all have been
    # empty/reclaimed) still reads a typed empty table; time travel
    # can refuse instead of silently answering from a collapsed history
    def _schema_file(self) -> str:
        return os.path.join(self.path, "_schema.json")

    def _watermark_file(self) -> str:
        return os.path.join(self.path, "_compacted_through.json")

    def _hwm_file(self) -> str:
        return os.path.join(self.path, "_epoch_hwm.json")

    def _write_json_atomic(self, path: str, payload: dict) -> None:
        """tmp + os.replace — the ONE metadata-write discipline (a torn
        in-place write would poison the next process's read of the
        sidecar; the watermark and tombstone files always did this, the
        schema file was the outlier)."""
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, path)

    def _load_schema(self) -> StructType | None:
        """The recorded schema, read from disk on every call: another
        sink object or process may have widened it, and drop_storage()
        removes it."""
        try:
            with open(self._schema_file()) as f:
                return StructType.fromJson(json.load(f))
        except (OSError, ValueError, KeyError):
            return None

    def _watermark_state(self) -> dict | None:
        try:
            with open(self._watermark_file()) as f:
                return json.load(f)
        except (OSError, ValueError, KeyError):
            return None

    def compaction_watermark(self) -> int | None:
        """Highest epoch collapsed by a compact() — snapshots at or below
        it no longer exist as distinct history."""
        state = self._watermark_state()
        return state.get("compacted_through") if state else None

    def _snapshot_dirname(self) -> str:
        """The snapshot directory the CURRENT watermark points at.
        Versioned per compaction so the new snapshot is fully written
        before the atomic watermark flip makes it visible (legacy
        unversioned name for sinks compacted by older code)."""
        state = self._watermark_state()
        if state and "snapshot" in state:
            return state["snapshot"]
        return "_snapshot"

    # -- write path (foreachBatch target) --------------------------------
    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        recorded = self._load_schema()
        schema = _union_schema(recorded, batch_df.schema)
        if schema != recorded:
            # (re)write on first batch AND on schema evolution, BEFORE
            # the data: read() scans every epoch with this schema
            os.makedirs(self.path, exist_ok=True)
            self._write_json_atomic(self._schema_file(), schema.jsonValue())
        # Raise the epoch high-water mark BEFORE the data write: empty
        # epochs are reclaimed below without trace, but their ids were
        # still CONSUMED by the stream's checkpoint — next_patch_epoch
        # must never hand one out for a batch patch (a resumed stream
        # replaying that id would overwrite, or empty-reclaim, the
        # patch dir). Recording pre-write keeps crashed attempts
        # counted too — their ids get replayed.
        prev = self._epoch_hwm()
        if prev is None or epoch_id > prev:
            self._write_json_atomic(self._hwm_file(), {"hwm": epoch_id})
        out = os.path.join(self.path, f"epoch={epoch_id}")
        # Deterministic per-epoch path + overwrite == idempotent replay.
        # The batch plan executes exactly ONCE (write only); row counting
        # for metrics reads the written parquet footers, which is free
        # compared to recomputing the micro-batch.
        batch_df.write.mode("overwrite").parquet(out)
        try:
            import pyarrow.parquet as pq
            n = pq.ParquetDataset(out).read(columns=[]).num_rows
        except Exception:
            # counting is metrics-only — NEVER fail open: a count error
            # must not be treated as "empty" or the reclaim below would
            # delete a committed batch's rows
            n = None
        if n == 0:
            # genuinely empty epoch (count SUCCEEDED): reclaim the dir so
            # all-gap streams leave no epoch log behind
            import shutil
            shutil.rmtree(out, ignore_errors=True)
            return
        self.io_ops += n or 0
        self.batches += 1

    # -- read path (MERGE-on-read) ----------------------------------------
    def _is_committed(self, epoch_dirname: str) -> bool:
        """An epoch directory is COMMITTED only once Spark's job-commit
        protocol placed the ``_SUCCESS`` marker (the default
        FileOutputCommitter contract). A kill mid-epoch-write leaves a
        torn directory — part files present, no marker — which must be
        invisible to every reader: the streaming checkpoint never
        committed that batch, so on resume foreachBatch REPLAYS it and
        the deterministic-path overwrite atomically supersedes the torn
        attempt. Surfacing the torn dir before then would leak a
        partial (or duplicate-partial) batch."""
        return os.path.exists(
            os.path.join(self.path, epoch_dirname, "_SUCCESS"))

    def _live_epoch_ids(self, wm: int | None) -> list[int]:
        """COMMITTED epoch ids above the given watermark — THE one
        definition of the visibility rule: 'eid > wm' (epochs at/below
        it are replay residue already folded into the snapshot) AND
        _SUCCESS present (torn mid-write directories are not data)."""
        out = []
        if os.path.isdir(self.path):
            for d in os.listdir(self.path):
                if d.startswith("epoch=") and self._is_committed(d):
                    eid = int(d.split("=", 1)[1])
                    if wm is None or eid > wm:
                        out.append(eid)
        return sorted(out)

    def epochs(self) -> list[int]:
        """Live epoch ids above the compaction watermark — the visible
        commit log (Iceberg snapshot-list analog)."""
        return self._live_epoch_ids(self.compaction_watermark())

    def _stone_lock(self):
        """Exclusive advisory lock serializing every tombstone
        read-modify-write (erase_keys vs erase_keys, erase_keys vs
        compact()'s applied-stone clear): without it, a stone appended
        between another writer's load and os.replace is wiped unapplied
        — an erased key silently resurrecting, the exact failure the
        fail-closed right-to-be-forgotten contract forbids. Local-FS
        flock matches this sink's local epoch-log scope; the Iceberg
        backend swaps in the catalog's atomic commit here."""
        import fcntl
        from contextlib import contextmanager

        @contextmanager
        def _lock():
            os.makedirs(self.path, exist_ok=True)
            with open(os.path.join(self.path, "_tombstones.lock"),
                      "w") as lf:
                fcntl.flock(lf, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(lf, fcntl.LOCK_UN)
        return _lock()

    def _epoch_hwm(self) -> int | None:
        """Highest epoch id EVER pushed through foreach_batch — includes
        empty epochs that were reclaimed without leaving a directory,
        which the live-epoch listing cannot see."""
        try:
            with open(self._hwm_file()) as f:
                return json.load(f).get("hwm")
        except (OSError, ValueError, KeyError):
            return None

    def next_patch_epoch(self) -> int:
        """Epoch id for a batch REPAIR patch: strictly above every live
        epoch, the compaction watermark, AND the epoch high-water mark.
        `max(epochs())+1` alone is wrong twice over: on a compacted
        sink epochs() is empty, so a patch at 0 sits at/below the
        watermark (invisible to read(), reclaimed unfolded by the next
        compact()); and on a sink whose newest stream epochs were empty
        (reclaimed without trace) it would hand out an id the stream's
        checkpoint already owns — a resumed stream replaying that id
        overwrites, or empty-reclaims, the patch dir. Patches run after
        the stream is done (CLAUDE.md epoch-id conventions)."""
        wm = self.compaction_watermark()
        hwm = self._epoch_hwm()
        return max(self.epochs()
                   + [wm if wm is not None else -1]
                   + [hwm if hwm is not None else -1]) + 1

    def read(self, spark: SparkSession,
             as_of_epoch: int | None = None) -> DataFrame:
        """Snapshot view of the sink. ``as_of_epoch`` gives time travel —
        the table as it stood after that epoch committed (Iceberg's
        snapshot-id read re-expressed over the epoch log): later epochs
        are pruned BEFORE the key dedup, and epoch= is a partition
        column so the prune is directory-level, no data read.

        Live epochs are read with the recorded schema (the union of
        all batch schemas) and the snapshot with the schema compact()
        recorded beside its watermark, so the read infers nothing from
        parquet footers and starts no Spark job; older rows read NULL in
        columns they predate. A sink without a recorded schema raises.

        A sink whose every batch was empty has no epoch directories
        (empty epochs are reclaimed); that is a VALID state — a stream
        of gaps, PotentialSequence-style — and reads as a typed empty
        table, not an error."""
        state = self._watermark_state()  # ONE load per read()
        wm = state.get("compacted_through") if state else None
        if as_of_epoch is not None and wm is not None and as_of_epoch < wm:
            raise ValueError(
                f"time travel to epoch {as_of_epoch} predates the "
                f"compaction watermark {wm}: that snapshot was collapsed "
                f"by compact() and no longer exists")
        snap_name = (state["snapshot"] if state and "snapshot" in state
                     else "_snapshot")
        snap_dir = os.path.join(self.path, snap_name)
        has_snapshot = wm is not None and os.path.isdir(snap_dir)
        live_epochs = [f"epoch={e}" for e in self._live_epoch_ids(wm)]
        schema = self._load_schema()
        if schema is None:
            raise ValueError(f"sink at {self.path} has no recorded schema "
                             f"({self._schema_file()})")
        if not (has_snapshot or live_epochs):
            return spark.createDataFrame([], schema)
        frames = []
        if has_snapshot:
            # the fold's own schema (an additive merge widens its sums);
            # a snapshot compacted before it was recorded is inferred
            snap = (spark.read.schema(StructType.fromJson(state["schema"]))
                    if "schema" in state else spark.read)
            frames.append(snap.parquet(snap_dir)
                          .withColumn("epoch", F.lit(wm).cast("int")))
        if live_epochs:
            # epoch= is inferred from the paths as a partition column
            frames.append(spark.read.schema(schema)
                          .option("basePath", self.path).parquet(
                *[os.path.join(self.path, d) for d in live_epochs]))
        df = frames[0]
        for extra in frames[1:]:
            # a snapshot predates columns later epochs added
            df = df.unionByName(extra, allowMissingColumns=True)
        if as_of_epoch is not None:
            df = df.where(F.col("epoch") <= as_of_epoch)
        df = self._apply_tombstones(spark, df)
        return self._merge(df)

    def _merge(self, df: DataFrame) -> DataFrame:
        """Fold the epoch log into the logical table. Base semantic:
        UPSERT — the highest epoch wins per key. Subclasses override
        for other MERGE semantics (see AdditiveKeyedSink)."""
        w = Window.partitionBy(*self.keys).orderBy(F.desc("epoch"))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "epoch")
        )

    def changes(self, spark: SparkSession, from_epoch: int,
                to_epoch: int) -> DataFrame:
        """Change-data-feed between two committed epochs (Iceberg CDF /
        Delta CDC analog): one row per logical key whose visible value
        differs between the ``from_epoch`` and ``to_epoch`` snapshots,
        tagged ``_change_type`` = insert | update. An upsert sink never
        deletes through the stream (erasure is out-of-band and applies
        to BOTH snapshots), so deletes cannot appear here by
        construction. Both sides are time-travel reads, so asking below
        the compaction watermark refuses exactly like read().

        Scale shape: one full-outer join on the logical key — the same
        single shuffle a MERGE would pay; at warehouse scale Iceberg's
        changelog scan replaces the two snapshot reads.
        """
        before = self.read(spark, as_of_epoch=from_epoch)
        after = self.read(spark, as_of_epoch=to_epoch)
        val_cols = [c for c in after.columns if c not in self.keys]
        b = before.select(
            *self.keys, F.struct(*val_cols).alias("_before"))
        a = after.select(
            *self.keys, F.struct(*val_cols).alias("_after"))
        joined = b.join(a, self.keys, "full_outer")
        return (
            joined.withColumn(
                "_change_type",
                F.when(F.col("_before").isNull(), "insert")
                .when(F.col("_after").isNull(), "delete")  # unreachable
                .when(F.col("_before") != F.col("_after"), "update"))
            .where(F.col("_change_type").isNotNull())
            .select(*self.keys, "_change_type",
                    F.col("_after.*"))
        )

    def _tombstone_file(self) -> str:
        return os.path.join(self.path, "_tombstones.json")

    def _load_tombstones(self) -> list[dict]:
        """FAIL CLOSED: a present-but-unreadable tombstone file raises —
        silently resurrecting erased keys (and letting the next
        compact() clear the unreadable erasure record) would break the
        right-to-be-forgotten contract. Only a genuinely absent file
        means "no erasures"."""
        try:
            with open(self._tombstone_file()) as f:
                raw = f.read()
        except FileNotFoundError:
            return []
        try:
            return json.loads(raw)["keys"]
        except (ValueError, KeyError, TypeError) as e:
            raise RuntimeError(
                f"tombstone file {self._tombstone_file()} exists but is "
                f"unreadable ({e}); refusing to read the sink as if no "
                f"erasures were recorded") from e

    def erase_keys(self, key_values: list[tuple]) -> int:
        """Logical DELETE (right-to-be-forgotten): record the key tuples
        as durable tombstones; every read() — including time travel —
        anti-joins them out from that moment on, so the erasure applies
        to history, not just the latest snapshot (the GDPR semantic).

        Each tombstone is BOUNDED by the max epoch visible at erase
        time: it hides only rows with epoch <= that bound, so a
        legitimate NEW write of the key in a later epoch is visible
        (and survives compaction) regardless of compaction timing.
        compact() makes bounded deletes PHYSICAL — the folded snapshot
        is written through read() — then clears the list; replayed
        pre-compaction epochs are ignored by the watermark and cannot
        resurrect erased rows. Returns the total tombstone count."""
        os.makedirs(self.path, exist_ok=True)
        wm = self.compaction_watermark()
        live = self.epochs()
        bound = max(live) if live else (wm if wm is not None else -1)
        with self._stone_lock():
            current = self._load_tombstones()
            seen = {tuple(s["key"]) for s in current}
            for kv in key_values:
                t = tuple(kv)
                if t not in seen:
                    current.append({"key": list(t), "max_epoch": bound})
                    seen.add(t)
            self._write_json_atomic(self._tombstone_file(),
                                    {"keys": current})
        return len(current)

    def _apply_tombstones(self, spark: SparkSession,
                          df: DataFrame) -> DataFrame:
        """Anti-join the (still epoch-carrying) row set against the
        bounded tombstones: a row dies only if its key matches AND its
        epoch is at or below that tombstone's erase-time bound."""
        stones = self._load_tombstones()
        if not stones:
            return df
        dead = spark.createDataFrame(
            [tuple(s["key"]) + (s["max_epoch"],) for s in stones],
            df.select(*self.keys).schema.add("_ts_bound", "integer"))
        cond = F.lit(True)
        for k in self.keys:
            cond = cond & (df[k] == dead[k])
        cond = cond & (df["epoch"] <= dead["_ts_bound"])
        return df.join(F.broadcast(dead), cond, "left_anti")

    def compact(self, spark: SparkSession) -> None:
        """MERGE-on-write: collapse epochs into one deduped snapshot and
        reclaim the replaced epoch directories (the transaction-log
        truncation step — without it MERGE-on-read cost grows with
        replay history).

        The snapshot lives OUT-OF-BAND in a VERSIONED ``_snapshot_v<N>/``
        directory (never in an ``epoch=`` directory): epoch ids are
        owned by the streaming checkpoint, and a crash-replayed
        micro-batch may legally rewrite its own epoch path — if the
        snapshot sat there, the replay would overwrite it and silently
        drop every other key's history. The watermark records the
        highest folded epoch AND the snapshot version; read() treats the
        snapshot as that epoch and IGNORES epoch dirs at or below it,
        so replayed stale epochs land harmlessly.

        Crash safety ordering: (1) the new snapshot is fully written to
        its own versioned dir, (2) the watermark json flips to it with
        an atomic os.replace, and ONLY THEN (3) superseded snapshot
        versions and folded epoch dirs are reclaimed. A crash before
        (2) leaves the old watermark pointing at the still-intact old
        state (epochs + old snapshot untouched); a crash after (2)
        leaves extra directories that the next compact() reclaims —
        at no point can the only copy of a key's history be gone while
        the watermark claims it is folded.
        """
        import shutil
        if not os.path.isdir(self.path):
            return  # never-written (or dropped) sink: nothing to fold
        # Committed epochs only: folding a TORN (uncommitted) epoch into
        # the watermark would make its post-resume replay land at/below
        # the watermark — permanently invisible. Torn dirs stay put for
        # the replay to overwrite.
        old = [d for d in os.listdir(self.path)
               if d.startswith("epoch=") and self._is_committed(d)]
        if not old:
            return  # nothing to fold (all-empty sink is a valid state)
        prev_wm = self.compaction_watermark()
        prev_snap = self._snapshot_dirname()
        max_epoch = max(int(d.split("=", 1)[1]) for d in old)
        if prev_wm is not None:
            max_epoch = max(max_epoch, prev_wm)
        # The tombstones the snapshot read will apply physically — loaded
        # BEFORE the read so a concurrent erase landing mid-compaction is
        # never cleared below without having been applied. (If the read
        # itself sees newer stones they ARE applied too; keeping them in
        # the file is harmless — they filter already-absent rows.)
        applied = self._load_tombstones()
        # Bound the snapshot at max_epoch: an epoch landing AFTER the
        # listing above must stay live-only — folding it while leaving it
        # above the watermark would double-count it under additive merge
        snap = self.read(spark, as_of_epoch=max_epoch)
        new_dirname = f"_snapshot_v{max_epoch}"
        if new_dirname == prev_snap:
            new_dirname = f"_snapshot_v{max_epoch}b"
        snap.write.mode("overwrite").parquet(
            os.path.join(self.path, new_dirname))
        # atomic flip: temp file + os.replace; readers see either the
        # old complete state or the new complete state, never between
        self._write_json_atomic(self._watermark_file(),
                                {"compacted_through": max_epoch,
                                 "snapshot": new_dirname,
                                 "schema": snap.schema.jsonValue()})
        # reclamation is safe now — everything below is replay residue.
        # Only epochs <= the new watermark are folded; an epoch that
        # landed after the listing stays live.
        for d in os.listdir(self.path):
            superseded_snap = (
                (d.startswith("_snapshot") or d == "_compacting")
                and d != new_dirname)
            # uncommitted (torn) dirs are never reclaimed here — the
            # resumed stream's replay overwrites them in place
            folded_epoch = (d.startswith("epoch=")
                            and self._is_committed(d)
                            and int(d.split("=", 1)[1]) <= max_epoch)
            if folded_epoch or superseded_snap:
                shutil.rmtree(os.path.join(self.path, d),
                              ignore_errors=True)
        # tombstoned rows were excluded from the snapshot (read() applied
        # them) — those deletes are physical now; clear ONLY the stones
        # that were loaded before the snapshot read. A stone recorded by
        # a concurrent erase_keys mid-compaction stays in the file (its
        # rows may sit unfolded in the snapshot) — never wiped unapplied.
        # A crash before this line leaves applied tombstones filtering
        # already-absent rows, which is harmless.
        if applied:
            applied_set = {(tuple(s["key"]), s["max_epoch"])
                           for s in applied}
            with self._stone_lock():
                remaining = [s for s in self._load_tombstones()
                             if (tuple(s["key"]), s["max_epoch"])
                             not in applied_set]
                self._write_json_atomic(self._tombstone_file(),
                                        {"keys": remaining})

    def drop_storage(self) -> None:
        """Output.dropStorage analog (Output.java:37). The recorded schema
        goes with it: the next batch writes a fresh one."""
        import shutil
        shutil.rmtree(self.path, ignore_errors=True)

    def metrics(self) -> dict[str, int]:
        """Output.getMetrics analog (DirectoryOutput.java:181-193)."""
        return {"io_ops": self.io_ops, "batches": self.batches}


class AdditiveKeyedSink(IdempotentKeyedSink):
    """Counter sink: ADDITIVE merge semantics over the same epoch log.

    Each epoch carries the per-key PARTIAL aggregates of exactly one
    micro-batch (the stream itself holds ZERO state — no update-mode
    global aggregate, no per-key store), and the logical table is the
    SUM across epochs: the Iceberg/Delta
    ``MERGE ... WHEN MATCHED THEN UPDATE SET v = t.v + s.v`` contract.
    Exactly-once comes from the inherited epoch-overwrite discipline —
    a replayed batch replaces its OWN partials, so every batch
    contributes exactly once to the fold.

    This is the counter-upsert pattern that replaces a stateful
    update-mode aggregate when the key space is too large to hold in
    stream state: state cost moves from the stream (RAM, per key) to
    the log (cheap storage, per batch×key), and maintenance —
    ``compact()``, inherited, writes through ``read()`` — folds history
    into a single summed snapshot that later epochs keep adding onto.
    """

    def __init__(self, path: str, keys: list[str], value_cols: list[str]):
        super().__init__(path, keys)
        self.value_cols = value_cols

    def _merge(self, df: DataFrame) -> DataFrame:
        return (
            df.groupBy(*self.keys)
            .agg(*[F.sum(c).cast("bigint").alias(c)
                   for c in self.value_cols])
        )
