"""movement_spark — a PySpark-native streaming dataflow / CEP engine.

A from-scratch re-expression of the capabilities of aerospike/movement
(reference at /root/reference, studied in SURVEY.md) as an idiomatic
PySpark engine:

- Movement's Emitter -> Emitable -> Encoder -> Output pipeline becomes a
  declarative DataFrame DAG (``movement_spark.streaming.pipeline``).
- WorkChunkDriver / partitioned work queues become explicit repartitioning
  with salted-key skew mitigation (``movement_spark.operators.chunking``).
- The vertex-before-edge PHASE ONE/TWO barrier becomes a stateful
  per-doc_id ordering stage (``movement_spark.operators.ordering``).
- Outputs become idempotent exactly-once sinks keyed (doc_id, window)
  (``movement_spark.sinks.idempotent``).
- Task.StatusMonitor / io_ops counters become StreamingQueryListener +
  observe() metrics (``movement_spark.streaming.metrics``).

On top of the reference's dataflow surface, the engine carries the
relational/streaming operators the north rule requires (windows,
watermarks, stateful joins) and a training-data toolbox (dedup,
similarity search, text analysis, multimodal plumbing).

Importing the package makes ``importlib.invalidate_caches()`` re-read a
zip/jar directory only when the archive changed on disk
(``movement_spark.zipimport_stat``); PySpark's Python workers call it
on every task. In a reused PySpark worker (``SPARK_REUSE_WORKER`` set)
it also moves the imported heap into the collector's permanent
generation (``movement_spark.worker_gc``), so the daemon's
``gc.collect()`` after every task walks only what the task allocated.
Workers import the package when they unpickle the first engine UDF, so
both imports stay here.
"""

from movement_spark import worker_gc  # noqa: F401  (freezes a reused worker)
from movement_spark import zipimport_stat  # noqa: F401  (installs the wrap)

__version__ = "0.1.0"
