"""Checkpoint I/O path: which file manager and file system write the
checkpoint, what they cost in forked processes, and exactly-once across
real SIGKILLs; and the zip directories a Python worker re-reads and
the heap it collects per task.

Every streaming checkpoint file (offset and commit logs, source logs,
state-store deltas, operator metadata) goes through the checkpoint file
manager ENGINE_CONF pins, over the checksummed local file system
``get_spark`` installs for ``file://`` (``chmod`` done in the JVM).
These tests pin both choices, bound their process spawns, kill a
stateful pipeline's whole process group inside foreachBatch and resume
it, and resume a checkpoint written under Spark's default manager.
PySpark's worker calls ``importlib.invalidate_caches()`` per task; two
tests pin that a zip importer re-reads its archive only when the
archive changed (``movement_spark.zipimport_stat``), in this process
and in a worker. PySpark's daemon calls ``gc.collect()`` after every
task in a reused worker; two tests pin that only such a worker freezes
its imported heap (``movement_spark.worker_gc``), so that collection
walks what the task allocated.
"""

import importlib
import os
import shutil
import signal
import stat
import subprocess
import sys
import tempfile
import zipfile
import zipimport

import pyarrow.parquet as pq
import pytest

from movement_spark.session import _in_process_chmod_jar
from movement_spark.streaming.metrics import (_jvm_counters, _jvm_pid,
                                              listening)
from movement_spark.streaming.pipeline import (
    run_streaming_dedup_join_window, stage_token_stream)

CHILD = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "sigkill_child.py")
MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."
# spelled out, not imported from session.py: the tripwire must trip when
# the engine's setting changes
FILE_SYSTEM_MANAGER = _PKG + "FileSystemBasedCheckpointFileManager"
FILE_CONTEXT_MANAGER = _PKG + "FileContextBasedCheckpointFileManager"
LOCAL_FS = "movement_spark.jvm.InProcessChmodLocalFileSystem"
# Clones (/proc/stat `processes`: threads as well as processes) per
# checkpoint file written, on one dedup_join drain over Hadoop's stock
# local file system, which costs a `chmod` process and a stderr-reader
# thread per created file or directory: ~10.6 under the FileContext
# manager (plus a `readlink` per status call), ~2.7 under the FileSystem
# one. With the chmod done in the JVM: ~0.4-0.7 (threads only). The
# bound sits between the managers; the count is host-wide, so other work
# on the machine can only push a drain toward failing, not passing.
MAX_SPAWNS_PER_CHECKPOINT_FILE = 6.0


def _mkdir():
    return tempfile.mkdtemp(prefix="ms_ckio_")


def _manager(spark, path: str):
    """The manager Spark builds for a checkpoint at ``path`` from this
    session's Hadoop conf — the call every checkpoint writer makes."""
    jvm = spark._jvm
    return (jvm.org.apache.spark.sql.execution.streaming.checkpointing
            .CheckpointFileManager.create(
                jvm.org.apache.hadoop.fs.Path(path),
                spark._jsparkSession.sessionState().newHadoopConf()))


def _manager_class(spark, path: str) -> str:
    return _manager(spark, path).getClass().getName()


def _local_fs(spark):
    """The file system every writer gets for ``file://`` paths from this
    session's Hadoop conf."""
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"),
        spark._jsparkSession.sessionState().newHadoopConf())


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _committed_rows(sink_dir: str) -> int:
    """Physical rows across the sink's committed epochs: a replayed
    batch that landed twice would count twice here even where the
    keyed merge-on-read hides it."""
    return sum(
        pq.ParquetDataset(os.path.join(sink_dir, d)).read(columns=[]).num_rows
        for d in os.listdir(sink_dir)
        if d.startswith("epoch=")
        and os.path.exists(os.path.join(sink_dir, d, "_SUCCESS")))


def _n_files(d: str) -> int:
    return sum(len(files) for _, _, files in os.walk(d))


@pytest.fixture(scope="module")
def dup_stage(spark, sf_dir):
    """The benchmark's shape at fixture scale: every chunk staged
    twice (at-least-once delivery) for the dedup → join → window
    chain."""
    stage = _mkdir()
    stage_token_stream(spark, sf_dir, stage, duplicate_factor=2)
    return stage


@pytest.fixture(scope="module")
def clean(spark, sf_dir, dup_stage):
    """The uninterrupted run's sink contents."""
    return _rows(run_streaming_dedup_join_window(
        spark, sf_dir, stage_dir=dup_stage, sink_dir=_mkdir(),
        checkpoint_dir=_mkdir()))


def test_session_uses_filesystem_checkpoint_manager(spark):
    """Tripwire: the manager every checkpoint writer gets from this
    session is the FileSystem-based one, and the files it writes are
    checksummed (a .crc sidecar — RawLocalFileSystem would drop it)."""
    d = _mkdir()
    assert _manager_class(spark, d) == FILE_SYSTEM_MANAGER
    out = _manager(spark, d).createAtomic(
        spark._jvm.org.apache.hadoop.fs.Path(os.path.join(d, "0")), False)
    out.write(7)
    out.close()
    assert sorted(os.listdir(d)) == [".0.crc", "0"]


def test_session_local_fs_is_checksummed_in_process_chmod(spark):
    """Tripwire: ``file://`` resolves to the engine's file system, which
    is still a checksummed one (it writes and verifies .crc sidecars)."""
    fs = _local_fs(spark)
    assert fs.getClass().getName() == LOCAL_FS
    assert spark._jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.ChecksumFileSystem").isInstance(fs)


def test_set_permission_sets_exact_mode_without_forking(spark):
    """setPermission sets exactly the mode asked for, special bits
    included, and 200 calls fork nothing: the JVM's reaped-child CPU
    does not move (Hadoop's stock chmod costs a process per call)."""
    jvm, d = spark._jvm, _mkdir()
    f = os.path.join(d, "part")
    open(f, "w").close()
    fs, path = _local_fs(spark), jvm.org.apache.hadoop.fs.Path
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission.valueOf
    fs.setPermission(path(f), perm("-rw-r-----"))
    fs.setPermission(path(d), perm("drwxrwxrwt"))
    assert stat.S_IMODE(os.stat(f).st_mode) == 0o640
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o1777
    reaped = _jvm_counters(_jvm_pid())[1]
    for _ in range(200):
        fs.setPermission(path(f), perm("-rw-r-----"))
    assert _jvm_counters(_jvm_pid())[1] == reaped


def test_file_system_jar_compiles_once(monkeypatch):
    """The jar is compiled into the temp directory on the first call and
    reused, not rebuilt, on the next; it holds the file system class and
    its raw file system."""
    monkeypatch.setattr(tempfile, "tempdir", _mkdir())
    jar = _in_process_chmod_jar()
    assert os.path.dirname(jar) == tempfile.tempdir
    mtime = os.stat(jar).st_mtime_ns
    assert _in_process_chmod_jar() == jar
    assert os.stat(jar).st_mtime_ns == mtime
    cls = LOCAL_FS.replace(".", "/")
    with zipfile.ZipFile(jar) as zf:
        assert {cls + ".class", cls + "$Raw.class"} <= set(zf.namelist())


def test_checkpoint_writes_spawn_few_processes(spark, sf_dir, dup_stage):
    """Tripwire: a stateful drain's clones per checkpoint file written
    stay below the bound that separates the FileSystem manager from the
    FileContext one, and the JVM forks no command worth measuring (each
    created file or directory cost a `chmod` process over Hadoop's stock
    local file system), as the listener's engine-side counters report
    them."""
    ck = _mkdir()
    with listening(spark) as lst:
        run_streaming_dedup_join_window(spark, sf_dir, stage_dir=dup_stage,
                                        sink_dir=_mkdir(), checkpoint_dir=ck)
    s = lst.summary()
    assert s["forked_cpu_s"] is not None and s["forked_cpu_s"] < 0.05, s
    n_files = _n_files(ck)
    assert n_files > 100, n_files  # three state stores x 8 partitions
    assert s["forks"] / n_files < MAX_SPAWNS_PER_CHECKPOINT_FILE, \
        (s["forks"], n_files)


def test_zip_importer_rereads_only_a_changed_archive(monkeypatch):
    """An unchanged archive's directory is not re-read on invalidation,
    a replaced one is (its new content imports), a deleted one raises
    nothing."""
    import movement_spark  # noqa: F401  (installs the wrap)

    d, mod = _mkdir(), "ms_zipimport_probe"
    archive = os.path.join(d, "probe.zip")

    def write(version: int) -> None:
        tmp = archive + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            zf.writestr(f"{mod}.py", f"VERSION = {version}\n")
        os.replace(tmp, archive)

    write(1)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, mod, raising=False)
    try:
        m = importlib.import_module(mod)
        assert m.VERSION == 1
        importlib.invalidate_caches()  # learns the key
        reads, stdlib_read = [], zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda a: reads.append(a) or stdlib_read(a))
        importlib.invalidate_caches()
        assert reads == []
        write(2)
        importlib.invalidate_caches()
        assert reads.count(archive) == 1, reads
        assert importlib.reload(m).VERSION == 2
        os.remove(archive)
        importlib.invalidate_caches()
    finally:
        sys.modules.pop(mod, None)
        sys.path_importer_cache.pop(archive, None)


def test_python_worker_rereads_no_zip_directory(spark):
    """Tripwire: once a worker has imported the engine, as unpickling an
    engine UDF does, a second ``importlib.invalidate_caches()`` re-reads
    no zip directory (without the wrap it re-reads one per zip importer,
    17 to 21 in a worker, ~0.2 CPU-s per task)."""
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import movement_spark.operators.ordering  # noqa: F401

        importlib.invalidate_caches()
        reads, stdlib_read = [], zipimport._read_directory
        zipimport._read_directory = \
            lambda a: reads.append(a) or stdlib_read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stdlib_read
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"n_zip": [n_zip], "rereads": [len(reads)]})

    (row,) = spark.range(1, numPartitions=1).mapInPandas(
        probe, "n_zip long, rereads long").collect()
    assert row.n_zip > 0, row  # the worker has zip importers to re-read
    assert row.rereads == 0, row


def test_python_worker_collects_only_task_objects(spark):
    """Tripwire: a reused worker that has imported the engine keeps its
    imported heap in the permanent generation, so the daemon's
    ``gc.collect()`` after each task walks a tenth or less of it
    (without the freeze it walks ~73k objects, 30-40 ms per task). The
    engine module the task imported is frozen too: the second freeze,
    after the worker's first full collection, took it in. The probe
    collects once itself, as the daemon does after every task, so what
    it counts is what every later collection walks."""
    def probe(batches):
        import gc

        import pandas as pd

        import movement_spark.operators.ordering as ordering

        for _ in batches:
            pass
        gc.collect()
        walked = gc.get_objects()
        yield pd.DataFrame({
            "frozen": [gc.get_freeze_count()],
            "tracked": [len(walked)],
            "engine_walked": [any(o is ordering.__dict__ for o in walked)],
        })

    def run():
        (row,) = spark.range(1, numPartitions=1).mapInPandas(
            probe, "frozen long, tracked long, engine_walked boolean"
        ).collect()
        return row

    run()
    row = run()
    assert row.frozen > 0, row
    assert row.tracked < 0.1 * row.frozen, row
    assert not row.engine_walked, row


@pytest.mark.parametrize("reuse", [False, True])
def test_only_a_reused_worker_freezes_its_heap(reuse):
    """Importing the package freezes the collector's heap only where
    ``SPARK_REUSE_WORKER`` is set (a reused PySpark worker); a driver
    or any other process keeps its garbage collection untouched."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_REUSE_WORKER"}
    if reuse:
        env["SPARK_REUSE_WORKER"] = "1"
    out = subprocess.run(
        [sys.executable, "-c",
         "import gc, movement_spark; print(gc.get_freeze_count())"],
        env=env, cwd=os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))),
        capture_output=True, text=True, check=True).stdout
    assert (int(out) > 0) == reuse, out


def _reap_group(pgid: int) -> None:
    """SIGKILL whatever is left in the process group (nothing, when the
    child's own kill landed)."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass


@pytest.mark.parametrize("point", ["before_write", "after_write"])
def test_sigkill_in_foreach_batch_resumes_exactly_once(spark, sf_dir,
                                                       dup_stage, clean,
                                                       point):
    """A real crash: the pipeline runs in a child process that SIGKILLs
    its whole process group (Python process and Spark JVM) inside
    foreachBatch of the flush batch — before the sink's epoch write, or
    after it but before the commit log. Resuming here on the same stage,
    sink and checkpoint must give the clean run's result, with every
    window written once. Both the killed run and the resume write over
    the engine's in-process-chmod file system."""
    sink_dir, ck = _mkdir(), _mkdir()
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    with tempfile.TemporaryFile() as err:
        proc = subprocess.Popen(
            [sys.executable, CHILD, dup_stage, sink_dir, ck, point, "1"],
            start_new_session=True, env=env, stdout=subprocess.DEVNULL,
            stderr=err)
        try:
            rc = proc.wait(timeout=600)
        finally:
            _reap_group(proc.pid)
        err.seek(0)
        assert rc == -signal.SIGKILL, err.read()[-4000:].decode(
            errors="replace")
    # the kill landed where it was aimed: batch 1 planned, not committed,
    # and its epoch written only when killed after the write
    assert os.path.exists(os.path.join(ck, "offsets", "1"))
    assert not os.path.exists(os.path.join(ck, "commits", "1"))
    assert os.path.exists(os.path.join(sink_dir, "epoch=1", "_SUCCESS")) \
        == (point == "after_write")
    got = _rows(run_streaming_dedup_join_window(
        spark, sf_dir, stage_dir=dup_stage, sink_dir=sink_dir,
        checkpoint_dir=ck))
    assert got == clean
    assert _committed_rows(sink_dir) == len(clean)


def test_filecontext_checkpoint_resumes_under_filesystem_manager(
        spark, sf_dir, dup_stage, clean):
    """The on-disk layout is the same under both managers: a checkpoint
    (offset/commit logs, state-store deltas and their checksum files)
    written by Spark's default FileContext manager over the first half
    of the stage resumes under the FileSystem manager over the rest and
    gives the clean run's result. FileContext goes through Hadoop's own
    ``LocalFs``, not ``fs.file.impl``, so the first half is written with
    the stock forked chmod and the resume over the engine's
    in-process-chmod file system."""
    files = sorted(os.listdir(dup_stage))
    stage, sink_dir, ck = _mkdir(), _mkdir(), _mkdir()
    for f in files[: len(files) // 2]:
        shutil.copy2(os.path.join(dup_stage, f), os.path.join(stage, f))
    engine_manager = spark.conf.get(MANAGER_CONF)
    spark.conf.set(MANAGER_CONF, FILE_CONTEXT_MANAGER)
    try:
        assert _manager_class(spark, ck) == FILE_CONTEXT_MANAGER
        run_streaming_dedup_join_window(spark, sf_dir, stage_dir=stage,
                                        sink_dir=sink_dir, checkpoint_dir=ck)
    finally:
        spark.conf.set(MANAGER_CONF, engine_manager)
    assert _manager_class(spark, ck) == FILE_SYSTEM_MANAGER
    for f in files[len(files) // 2:]:
        shutil.copy2(os.path.join(dup_stage, f), os.path.join(stage, f))
    got = _rows(run_streaming_dedup_join_window(
        spark, sf_dir, stage_dir=stage, sink_dir=sink_dir,
        checkpoint_dir=ck))
    assert got == clean
    assert _committed_rows(sink_dir) == len(clean)
