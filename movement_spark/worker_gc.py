"""Freeze the imported heap of a reused PySpark worker.

PySpark's daemon calls ``gc.collect()`` after every task in a reused
worker (``pyspark/daemon.py``). A full collection walks every object
the collector tracks; a worker that has imported pandas, pyarrow,
numpy, ``pyspark.sql.pandas`` and the engine holds about 73k of them,
so each call costs 30-40 ms of CPU whether or not the task left any
garbage. A steady ``live_cep`` resume runs 32 Python tasks, and these
collections were about 0.9 of its ~1.4 Python-worker CPU-s.

Importing this module (``movement_spark/__init__.py`` does) in a
process whose environment sets ``SPARK_REUSE_WORKER`` (Spark's
``BasePythonRunner`` sets it exactly for reused workers, the ones the
daemon collects after each task) moves that heap into the collector's
permanent generation, which no collection walks:

- ``gc.freeze()`` at import, for everything imported so far;
- one more ``gc.freeze()`` right after the process's first full
  (generation-2) collection, by then normally the daemon's collect at
  the end of the first task. The first task's lazy imports are loaded
  and its cyclic garbage is gone, so what is frozen is what the worker
  keeps.

Every later collection walks only what later tasks allocated, so it
still reclaims each task's cyclic garbage. Frozen objects are still
freed by reference counting; a frozen object that later becomes part
of a garbage cycle is never reclaimed, so the leak is bounded by the
heap at the second freeze. The driver, and any process without
``SPARK_REUSE_WORKER``, is left alone.

A Python worker imports the package when it unpickles the first engine
UDF (``operators.ordering._assemble`` and the rest are pickled by
reference), the same path ``zipimport_stat`` relies on.
"""

from __future__ import annotations

import gc
import os

_armed = False


def _freeze_after_first_full_collection(phase: str, info: dict) -> None:
    # A one-shot that keeps a flag rather than removing itself: the
    # collector iterates ``gc.callbacks`` by index while it calls this,
    # so a removal would skip the callback after it.
    global _armed
    if _armed and phase == "stop" and info["generation"] == 2:
        _armed = False
        gc.freeze()


if os.environ.get("SPARK_REUSE_WORKER"):
    gc.freeze()
    _armed = True
    gc.callbacks.append(_freeze_after_first_full_collection)
