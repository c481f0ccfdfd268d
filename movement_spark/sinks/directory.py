"""CSV directory sink + reverse reader — the reference's file extension.

Mirrors DirectoryOutput (extensions/files/.../DirectoryOutput.java:35:
layout ``<dir>/{vertices,edges}/<label>/<label>_N.csv``, per-label writer
cache, per-label counters) and its reverse reader ``Output.reader``
(DirectoryOutput.java:144-154), plus DirectoryEmitter's recursive scan
(extensions/files/.../DirectoryEmitter.java:32).

Spark-first translation:
- per-label routing (`Output.writer(type, label)`, Output.java:29) →
  ``partitionBy(label)``: the sink writes ``<dir>/<phase>/label=<x>/part-*.csv``
  — same one-directory-per-label layout, discovered by partition pruning
  on read instead of a filename convention.
- SplitFileLineOutput's 10k-entries-per-file rotation
  (SplitFileLineOutput.java:69-74) → ``maxRecordsPerFile``.
- headers per file (GraphCSVEncoder.java:97-112) → csv ``header=true``.
- the round-trip contract proven by the reference's Export test
  ("lines - files == V + E", TestTinkerPopCallStepPlugin.java:268-276)
  becomes read-back row/content parity, oracle-gated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

ENTRIES_PER_FILE = 10_000  # SplitFileLineOutput.java:69-74 default

# NULL must survive the round trip DISTINCT from the empty string: under
# Spark CSV defaults both serialize to an empty field and every ''
# reads back as NULL, breaking the module's read-back content-parity
# contract. The classic \N sentinel keeps NULL apart ('' keeps its
# default quoted-""-on-write / ""-on-read representation); write and
# read MUST use the same sentinel.
CSV_NULL = r"\N"


def write_directory_csv(df: DataFrame, base_dir: str, phase: str,
                        label_col: str = "label") -> str:
    """Write ``df`` as the per-label CSV directory layout; returns path.

    The shuffle-free path: partitionBy(label) splits files by the label
    column inside each task — no repartition needed unless the caller
    wants one file per label. At 100 TB, rotation via maxRecordsPerFile
    (ENTRIES_PER_FILE) bounds file sizes exactly like the reference's
    10k-line splits.
    """
    out = f"{base_dir}/{phase}"
    (df.write.mode("overwrite")
       .option("header", True)
       .option("nullValue", CSV_NULL)
       .option("maxRecordsPerFile", ENTRIES_PER_FILE)
       .partitionBy(label_col)
       .csv(out))
    return out


def read_directory_csv(spark: SparkSession, base_dir: str, phase: str,
                       schema: StructType | str) -> DataFrame:
    """Output.reader analog: open a batch source over the sink's storage.

    An explicit schema keeps the read single-pass (no inference job) and
    types stable; the label partition column is recovered from the
    directory names.
    """
    return (spark.read.option("header", True)
            .option("nullValue", CSV_NULL)
            .schema(schema)
            .csv(f"{base_dir}/{phase}"))


def directory_metrics(spark: SparkSession, base_dir: str, phase: str,
                      schema: StructType | str) -> DataFrame:
    """Per-label row counters — DirectoryOutput.getMetrics analog
    (DirectoryOutput.java:181-193 keeps an AtomicLong per label)."""
    df = read_directory_csv(spark, base_dir, phase, schema)
    return df.groupBy("label").agg(F.count("*").alias("io_ops"))
