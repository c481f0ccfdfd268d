"""Per-layer metrics of the traced run: name, unit, which end-to-end
metric the layer should move and on which workload, and where the
prediction is no change. Names are keyed by the program module that does
the work. ``BENCHMARK.json`` lists the subset every workload reports;
the traced run's summary prints all of them, marking the ones a
workload's plan does not contain and the ones this Spark build does not
expose. ``dedup_join`` is the one workload with window, join and dedup
state and a skewed shuffle; ``live_cep`` the one with the Python
assembler's state and many small sink epochs. A layer that moves
``seq_per_s`` or a lag moves the gated ``seq_per_cpu_s`` too, unless the
change only waits less rather than working less.
"""

from __future__ import annotations

# (metric, unit, should move, on, predicted ~no change on)
LAYERS: dict[str, list[tuple[str, str, str, str, str]]] = {
    "sources": [
        ("sources.files", "count", "seq_per_s", "dedup_join", "live_cep lag"),
        ("sources.input_rows", "count", "seq_per_s", "dedup_join",
         "live_cep lag"),
        ("sources.input_bytes", "B", "seq_per_s", "dedup_join",
         "live_cep lag"),
        ("sources.list_ms", "ms", "seq_per_s", "dedup_join", "live_cep lag"),
        ("sources.get_batch_ms", "ms", "seq_per_s", "dedup_join",
         "live_cep lag"),
    ],
    "streaming": [
        (f"streaming.{m}", u, "lag_p50_s, lag_p90_s", "live_cep",
         "bulk seq_per_s")
        for m, u in [("batches", "count"), ("start_ms", "ms"),
                     ("plan_ms", "ms"), ("add_batch_ms", "ms"),
                     ("wal_commit_ms", "ms"), ("offsets_commit_ms", "ms"),
                     ("trigger_ms", "ms")]
    ],
    "state (all stateful operators)": [
        (f"state.{m}", u, "seq_per_s, peak_rss_mb", "every workload", "-")
        for m, u in [("rows_max", "count"), ("bytes_max", "B"),
                     ("commit_ms", "ms"), ("update_ms", "ms")]
    ],
    "windows": [
        (f"windows.{m}", u, "seq_per_s", "dedup_join", "live_cep")
        for m, u in [("state_rows_max", "count"), ("state_commit_ms", "ms"),
                     ("state_update_ms", "ms"),
                     ("rows_dropped_late", "count")]
    ],
    "ordering": [
        (f"ordering.{m}", u, "lag_p50_s, lag_p90_s, peak_rss_mb",
         "live_cep", "dedup_join")
        for m, u in [("state_rows_max", "count"), ("state_bytes_max", "B"),
                     ("state_commit_ms", "ms"), ("state_update_ms", "ms"),
                     ("state_removal_ms", "ms")]
    ],
    "cep": [
        (f"cep.{m}", u, "lag_p50_s", "live_cep", "every bulk workload")
        for m, u in [("python_bytes_sent", "B"),
                     ("python_bytes_received", "B"),
                     ("python_rows_out", "count"),
                     ("groups_updated", "count")]
    ],
    "joins / dedup": [
        (m, u, "seq_per_s, peak_rss_mb", "dedup_join", "the other workloads")
        for m, u in [("joins.state_rows_max", "count"),
                     ("joins.state_bytes_max", "B"),
                     ("joins.state_commit_ms", "ms"),
                     ("dedup.state_rows_max", "count"),
                     ("dedup.rows_dropped_dup", "count")]
    ],
    "shuffle": [
        (f"shuffle.{m}", u, "seq_per_s", "dedup_join (hot-doc skew)",
         "live_cep")
        for m, u in [("write_bytes", "B"), ("read_bytes", "B"),
                     ("spill_bytes", "B"), ("task_skew", "ratio")]
    ],
    "sinks": [
        (f"sinks.{m}", u, "lag_p50_s, lag_p90_s (many small epochs, "
         "growing MERGE-on-read)", "live_cep",
         "dedup_join (a few hundred window rows)")
        for m, u in [("write_ms", "ms"), ("epochs", "count"),
                     ("rows_written", "count"), ("bytes_written", "B"),
                     ("read_ms", "ms"), ("live_epochs", "count")]
    ],
    "executor JVM": [
        (f"exec.{m}", u, "seq_per_s", "dedup_join", "-")
        for m, u in [("cpu_s", "s"), ("busy_frac", "ratio"), ("gc_s", "s"),
                     ("parallel_eff", "ratio")]
    ],
    "session + generator": [
        (f"{m}", u, "setup_s; validity of live_cep", "every workload", "-")
        for m, u in [("session.start_s", "s"), ("generator.rows", "count"),
                     ("generator.late_max_s", "s"),
                     ("generator.backlog_max_files", "count"),
                     ("generator.hot_doc_row_share", "ratio"),
                     ("generator.dup_share", "ratio"),
                     ("generator.disorder_share", "ratio")]
    ],
}
