"""SparkSession construction with engine defaults.

The reference sizes its runtime from ``runtime.threads`` (default = #cores,
LocalParallelStreamRuntime.java:85-90). We size shuffle parallelism the same
way and lean on AQE for runtime re-planning. Everything here is plain public
Spark configuration.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile
from contextlib import contextmanager

import pyspark
from pyspark.sql import SparkSession

# Defaults chosen for the sandbox (local[N], single JVM). On a real cluster
# the same code runs unchanged; shuffle partitions should be ~2-3x total
# cores and maxPartitionBytes left at 128m.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.streaming.stateStore.stateSchemaCheck": "true",
    # All checkpoint I/O (offset/commit/source logs, state stores,
    # operator metadata) goes through the Hadoop FileSystem API. The
    # default FileContext manager renames via getFileLinkStatus, which
    # on file:// shells out `readlink` per call (~4x the process spawns
    # per checkpoint file). Same on-disk layout, so old checkpoints
    # resume; on file:// both managers check-then-rename. Keep a
    # checksummed LocalFileSystem (RawLocalFileSystem drops .crc
    # verification; see _in_process_chmod_jar). Chosen for file://
    # checkpoints only: HDFS or object-store deployments must
    # re-evaluate it (SCALE.md §3).
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(app_name: str = "movement_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    b = SparkSession.builder.appName(app_name).master(master)
    conf = dict(ENGINE_CONF)
    # The file:// file system class must be on the JVM's classpath at
    # launch, so a host without javac, and a session built outside this
    # function (tune_session, spark-submit), keep Hadoop's default.
    jar = _in_process_chmod_jar()
    if jar is not None:
        conf["spark.driver.extraClassPath"] = jar
        conf["spark.hadoop.fs.file.impl"] = IN_PROCESS_CHMOD_FS
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ensure_shipped(spark)
    return spark


IN_PROCESS_CHMOD_FS = "movement_spark.jvm.InProcessChmodLocalFileSystem"


def _in_process_chmod_jar() -> str | None:
    """The jar holding ``IN_PROCESS_CHMOD_FS``, or None without ``javac``.

    Hadoop's local file system, without native IO, forks a ``chmod`` per
    created file or directory: about 820 per ``dedup_join`` drain, each a
    process plus a stderr-reader thread in the JVM. The class keeps the
    checksummed file system and does the chmod(2) in the JVM. It is
    compiled once by the ``javac`` of the JDK that runs Spark, against
    that Spark's Hadoop jar, into a jar in the temp directory named by a
    hash of the source and that jar's name; the jar is renamed into
    place, so concurrent processes never see a partial one.
    """
    java_home = os.environ.get("JAVA_HOME")
    javac = (os.path.join(java_home, "bin", "javac") if java_home
             else shutil.which("javac"))
    # the Spark home PySpark launches the JVM from
    spark_home = (os.environ.get("SPARK_HOME")
                  or os.path.dirname(pyspark.__file__))
    hadoop = glob.glob(os.path.join(spark_home, "jars",
                                    "hadoop-client-api-*.jar"))
    if not javac or not os.path.exists(javac) or not hadoop:
        return None
    source = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm",
                          "InProcessChmodLocalFileSystem.java")
    with open(source, "rb") as f:
        key = hashlib.sha256(
            f.read() + os.path.basename(hadoop[0]).encode()).hexdigest()
    jar = os.path.join(tempfile.gettempdir(),
                       f"movement_spark_fs_{key[:16]}.jar")
    if os.path.exists(jar):
        return jar
    with tempfile.TemporaryDirectory() as build:
        classes = os.path.join(build, "classes")
        # a one-off compile: C1 only and the serial GC halve its CPU
        subprocess.run([javac, "-J-XX:TieredStopAtLevel=1",
                        "-J-XX:+UseSerialGC", "-nowarn", "-cp", hadoop[0],
                        "-d", classes, source], check=True)
        tmp = os.path.join(build, "fs.jar")
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(classes):
                for fn in files:
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, classes))
        os.replace(tmp, jar)
    return jar


def ensure_shipped(spark: SparkSession) -> None:
    """Ship the movement_spark package to executor Python workers.

    Python UDF stages (mapInPandas / applyInPandasWithState) are pickled
    by reference to this module; workers spawned outside the repo cwd
    would fail to import it. This is the programmatic equivalent of
    ``spark-submit --py-files movement_spark.zip`` (north rule) and makes
    the engine work no matter where the driving process started.
    """
    sc = spark.sparkContext
    if getattr(sc, "_movement_spark_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # per-process zip name: a fixed shared path races across processes
    # (a second session truncating the file while the first JVM's file
    # server is still serving it -> workers fetch a torn zip)
    zip_path = os.path.join(tempfile.gettempdir(),
                            f"movement_spark_pkg_{os.getpid()}.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._movement_spark_shipped = True


_STATE_PROVIDERS = {
    "rocksdb": ("org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"),
    "hdfs": ("org.apache.spark.sql.execution.streaming.state."
             "HDFSBackedStateStoreProvider"),
}


@contextmanager
def state_backend(spark: SparkSession, backend: str = "rocksdb"):
    """Pin the state-store backend for streaming queries STARTED inside
    the block (the provider is captured at query start and pinned into
    the checkpoint; it cannot change across a resume).

    ``rocksdb`` is the deployment backend for the 100 TB target: state
    lives off-heap/on-disk per executor instead of in the JVM heap, so
    per-key state (open docs in the CEP assembler, join buffers) scales
    with local disk, not memory — with changelog checkpointing enabled
    so per-batch checkpoint cost is the delta, not a full SST upload.
    The sandbox default stays HDFSBacked (in-memory) because at oracle
    scale the RocksDB JNI round trip is pure overhead; this context
    manager is how benches/tests opt pipelines into the scale backend
    and prove result parity between the two.
    """
    if backend not in _STATE_PROVIDERS:
        raise ValueError(
            f"unknown state backend {backend!r} — valid: "
            f"{sorted(_STATE_PROVIDERS)}")
    keys = {
        "spark.sql.streaming.stateStore.providerClass":
            _STATE_PROVIDERS[backend],
    }
    if backend == "rocksdb":
        # changelog checkpointing is a RocksDB-only knob; setting it
        # under the HDFS backend is inert but misleading in conf dumps
        keys["spark.sql.streaming.stateStore.rocksdb."
             "changelogCheckpointing.enabled"] = "true"
    prior: dict[str, str | None] = {}
    for k, v in keys.items():
        try:
            prior[k] = spark.conf.get(k)
        except Exception:
            prior[k] = None
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, old in prior.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally provided session.

    The correctness driver hands us its own SparkSession; timezone must be
    UTC so timestamp-derived values match the DuckDB oracle exactly.
    """
    for k in ("spark.sql.session.timeZone",
              "spark.sql.adaptive.enabled",
              "spark.sql.execution.arrow.pyspark.enabled",
              "spark.sql.streaming.checkpointFileManagerClass"):
        try:
            spark.conf.set(k, ENGINE_CONF[k])
        except Exception:
            pass  # immutable in some contexts; UTC is the only hard need
    ensure_shipped(spark)
    return spark
