"""Child process of the SIGKILL kill/resume tests (test_checkpoint_io.py).

    python tests/sigkill_child.py STAGE SINK CHECKPOINT POINT BATCH

Drains ``run_streaming_dedup_join_window`` over a ready stage into SINK
with CHECKPOINT. Inside foreachBatch of micro-batch BATCH it SIGKILLs
its whole process group: this Python process and the Spark JVM it
launched. POINT ``before_write`` kills before the sink's epoch write;
``after_write`` kills after that write, before Spark writes the
batch's commit log.
Start it in a session of its own (``start_new_session=True``) so the
kill takes nothing else with it. Exits 3 if batch BATCH never ran.
"""

import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from movement_spark.session import get_spark  # noqa: E402
from movement_spark.sinks.idempotent import IdempotentKeyedSink  # noqa: E402
from movement_spark.streaming.pipeline import (  # noqa: E402
    run_streaming_dedup_join_window)


def main(stage: str, sink: str, checkpoint: str, point: str,
         batch: str) -> int:
    kill_batch = int(batch)
    write_epoch = IdempotentKeyedSink.foreach_batch

    def crashing(self, batch_df, epoch_id):
        if epoch_id == kill_batch and point == "before_write":
            os.killpg(0, signal.SIGKILL)
        write_epoch(self, batch_df, epoch_id)
        if epoch_id == kill_batch and point == "after_write":
            os.killpg(0, signal.SIGKILL)

    IdempotentKeyedSink.foreach_batch = crashing
    spark = get_spark(app_name="sigkill_child", master="local[2]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    # the stage is populated, so the runner never stages from sf_dir
    run_streaming_dedup_join_window(spark, "/nonexistent-sf", stage_dir=stage,
                                    sink_dir=sink, checkpoint_dir=checkpoint)
    return 3


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
