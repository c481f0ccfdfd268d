"""Physical-plan audits: the 100 TB-shape assertions (SURVEY.md §4.2).

Correctness says the operator works; these tests pin the plan SHAPE so a
refactor can't silently regress scale behavior — a filter that stops
reaching the parquet scan, a broadcast that becomes a sort-merge join,
or Python creeping into a JVM-only pipeline would all pass the oracle
gate while being 10× slower at scale.
"""

import pytest

from pyspark.sql import functions as F

from movement_spark.plans.audit import explain_text, plan_audit
from movement_spark.sources.tables import load_table
from movement_spark.sources.tokens import token_sequences
from movement_spark.operators import relational, windows
from movement_spark.operators.chunking import two_phase_agg


def test_pricing_filter_reaches_scan(spark, sf_dir):
    df = relational.pricing_summary(load_table(spark, sf_dir, "lineitem"))
    audit = plan_audit(df)
    assert audit["pushed_filters"], "l_shipdate filter must reach parquet"
    assert audit["python_stages"] == 0


def test_pricing_prunes_columns(spark, sf_dir):
    df = relational.pricing_summary(load_table(spark, sf_dir, "lineitem"))
    (schema,) = plan_audit(df)["scan_schemas"]
    assert "l_shipdate" in schema and "l_quantity" in schema
    assert "l_partkey" not in schema, "unused columns must be pruned"


def test_dim_joins_broadcast(spark, sf_dir):
    df = relational.supplier_part_join(
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"))
    audit = plan_audit(df)
    # formatted explain lists each node in tree + details → count is 2×
    assert audit["broadcast_joins"] >= 2, "both dims must broadcast"
    assert audit["sort_merge_joins"] == 0


def test_token_pipeline_stays_jvm_side(spark, sf_dir):
    df = windows.tumbling_token_throughput(token_sequences(spark, sf_dir))
    audit = plan_audit(df)
    assert audit["python_stages"] == 0, "token derivation must be codegen'd"


def test_two_phase_agg_has_partial_then_final(spark, sf_dir):
    t = token_sequences(spark, sf_dir)
    df = two_phase_agg(t, "source", {"n": F.count("*")})
    txt = explain_text(df)
    # two aggregation levels around the salted exchange
    assert txt.count("HashAggregate") >= 4
    assert "source" in txt


def test_semijoin_plans_as_semi(spark, sf_dir):
    df = relational.order_priority_semijoin(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"))
    txt = explain_text(df)
    assert "LeftSemi" in txt, "EXISTS must plan as a semi join, not fanout"
    assert plan_audit(df)["pushed_filters"], "date range must reach the scan"


def test_no_cartesian_products_in_registry_samples(spark, sf_dir):
    """The broadcast-scalar crossJoin in idle_rich_customers is the only
    sanctioned cross join shape — it must plan as a broadcast nested loop
    over a 1-row side, never CartesianProduct."""
    df = relational.idle_rich_customers(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"))
    txt = explain_text(df)
    assert "CartesianProduct" not in txt


def test_registry_wide_plan_guardrails(spark, sf_dir):
    """Sweep EVERY batch query's physical plan: no CartesianProduct
    anywhere, Python stages only where the semantics demand them
    (multimodal binary extraction). Streaming queries are excluded —
    calling them runs real pipelines; their plan discipline is enforced
    by the pipeline code itself."""
    from movement_spark import queries as Q
    from movement_spark.plans.audit import explain_text

    PYTHON_ALLOWED = {"multimodal_feature_stats", "multimodal_frame_sample",
                      "multimodal_resize"}
    # these execute work eagerly when CALLED (writes, iterative loops) —
    # plan text of the returned frame is still checked
    skip = {n for n in Q.queries() if n.startswith("streaming_")}
    offenders = []
    for name, fn in Q.queries().items():
        if name in skip:
            continue
        txt = explain_text(fn(spark, sf_dir))
        if "CartesianProduct" in txt:
            offenders.append((name, "CartesianProduct"))
        has_python = any(m in txt for m in (
            "BatchEvalPython", "ArrowEvalPython", "MapInPandas",
            "FlatMapGroupsInPandas"))
        if has_python and name not in PYTHON_ALLOWED:
            offenders.append((name, "unexpected Python stage"))
        if not has_python and name in PYTHON_ALLOWED:
            offenders.append((name, "expected Python stage missing"))
    assert not offenders, offenders


def test_aqe_splits_skewed_join_partitions(spark):
    """Batch-side skew is AQE's job (session.py enables skewJoin): a join
    with one hot key must show skew=true splits in the FINAL adaptive
    plan. Caveat this engine designs around: the rule skips joins whose
    output feeds another shuffle requirement (e.g. groupBy on a
    different key) — for those paths the manual salted two-phase
    aggregate (operators/chunking.py) is the mitigation, which is why
    both exist."""
    from pyspark.sql import functions as F
    from movement_spark.plans.audit import explain_text

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "128k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        # the split thresholds above are calibrated for 8-partition
        # shuffles; another test touching the shared session via
        # get_spark() may have raised this to the engine default
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        fact = spark.range(1_000_000).select(
            F.when(F.col("id") % 10 != 0, 0)
            .otherwise(F.col("id") % 1000).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string"))
            .alias("payload"))
        dim = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        j = fact.join(dim, "k").select("k", "v")
        assert len(j.collect()) == 1_000_000
        txt = explain_text(j)
        assert "isFinalPlan=true" in txt
        assert txt.count("skew=true") >= 1, \
            "hot-key partition must be split by AQE skew handling"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_partitioned_read_prunes(spark, sf_dir):
    """The hive-partitioned round trip must prune non-matching
    event_type directories at planning time — the scan's partition
    filter list carries the isin predicate, and the data filters
    (anything pushed to row groups) must not have to re-derive it."""
    from movement_spark.queries import q_partitioned_prune
    df = q_partitioned_prune(spark, sf_dir)
    txt = explain_text(df)
    assert "PartitionFilters" in txt
    # the isin predicate appears inside the PartitionFilters clause
    pf = txt[txt.index("PartitionFilters"):]
    pf = pf[:pf.index("]") + 1]
    assert "event_type" in pf, f"partition filter missing: {pf}"


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """The co-bucketed orders/lineitem pair must join AND aggregate
    per-order with zero Exchange: the bucketed scans already provide
    the hash partitioning the SortMergeJoin and groupBy need. Broadcast
    is disabled so the test exercises the layout, not the small-side
    shortcut that sf0.001 would otherwise take."""
    from movement_spark.operators.layout import colocated_order_lines
    from movement_spark.queries import _bucketed_tables

    o_tbl, li_tbl = _bucketed_tables(spark, sf_dir)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = colocated_order_lines(spark, o_tbl, li_tbl)
        txt = explain_text(df)
        assert "SortMergeJoin" in txt, txt
        assert "Exchange" not in txt, txt
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_source_drift_plan_shape(spark, sf_dir):
    """The drift audit's shuffle budget: token-keyed exchanges only, the
    per-source / corpus totals travel as broadcasts, and nothing plans
    as a cartesian product (the 1-row corpus-total crossJoin must be a
    broadcast nested loop)."""
    from movement_spark.operators.dataset import source_drift_tvd
    df = source_drift_tvd(token_sequences(spark, sf_dir))
    txt = explain_text(df)
    assert "CartesianProduct" not in txt
    assert txt.count("BroadcastExchange") >= 2, \
        "totals must broadcast, not shuffle"
    # data exchanges: (source,t) count, token re-agg, final rollup —
    # the token-keyed join must NOT add a fourth full-width exchange
    n_shuffles = txt.count("Exchange hashpartitioning")
    assert n_shuffles <= 4, f"drift plan shuffles {n_shuffles}x"


def test_bpe_encode_joins_broadcast(spark, sf_dir):
    """The encode pass joins the corpus against the final vocabulary
    symbolization exactly once, broadcast-shaped."""
    from movement_spark.operators.text import bpe_encode_stats
    df = bpe_encode_stats(load_table(spark, sf_dir, "documents"), 2)
    txt = explain_text(df)
    assert "BroadcastHashJoin" in txt
    assert "CartesianProduct" not in txt


def test_window_drift_fold_plan_shape(spark, sf_dir):
    """The drift monitor's read-side fold runs over the histogram frame
    (windows × sources × buckets) — its joins must stay (source, ws,
    bucket)-keyed with no cartesian product, and the full-outer bucket
    join must not balloon the exchange count."""
    from movement_spark.operators.dataset import window_drift_tvd
    hist = (token_sequences(spark, sf_dir)
            .select("ts", "source", F.explode("tokens").alias("t"))
            .groupBy(F.window("ts", "5 minutes").alias("w"), "source",
                     (F.col("t") % 64).alias("bucket"))
            .agg(F.count("*").alias("cnt"))
            .select(F.unix_timestamp("w.start").alias("ws"), "source",
                    "bucket", "cnt"))
    df = window_drift_tvd(hist)
    txt = explain_text(df)
    assert "CartesianProduct" not in txt
    n_shuffles = txt.count("Exchange hashpartitioning")
    assert n_shuffles <= 8, f"drift fold shuffles {n_shuffles}x"


def test_shard_shuffle_plan_single_hash_exchange(spark, sf_dir):
    """shard_shuffle_manifest's whole claim is ONE hash-partition
    shuffle and no global sort: shard = h % n_shards keys both the
    row_number window and the final agg, so the window's exchange is
    reused and nothing above it re-partitions. A global row_number
    (the tempting implementation) would plan a single-partition
    Exchange — the 100 TB killer this pins against."""
    from movement_spark.operators.dataset import shard_shuffle_manifest
    df = shard_shuffle_manifest(load_table(spark, sf_dir, "documents"))
    txt = explain_text(df)
    audit = plan_audit(df)
    assert "SinglePartition" not in txt, "global-order exchange crept in"
    # ONE Exchange node (formatted explain lists each node in tree +
    # details → raw count is 2×): the window's shard-keyed exchange,
    # reused by the groupBy on the same key
    assert audit["shuffles"] == 2, txt[:600]
    assert "Window" in txt and "hashpartitioning" in txt
    assert audit["python_stages"] == 0


def test_quality_mix_plan_is_one_agg_shuffle(spark, sf_dir):
    """Bucket + coin flip must stay codegen'd expressions over the
    scan: one (source, bucket)-keyed aggregate exchange, no joins, no
    Python."""
    from movement_spark.operators.dataset import quality_weighted_mix
    df = quality_weighted_mix(load_table(spark, sf_dir, "documents"))
    audit = plan_audit(df)
    # one Exchange node (2× in formatted text): the final agg shuffle
    assert audit["shuffles"] == 2
    assert audit["python_stages"] == 0
    assert audit["broadcast_joins"] == 0 and audit["sort_merge_joins"] == 0


def test_ivf_incremental_broadcasts_frozen_codebook(spark, sf_dir):
    """The incremental assign must join the delta batch against a
    BROADCAST of the frozen codebook (O(delta x centroids), corpus
    untouched) — never a shuffled join of delta against index, and
    never a CartesianProduct."""
    from movement_spark.operators.similarity import (
        ivf_assign, ivf_assign_incremental)
    emb = load_table(spark, sf_dir, "embeddings")
    index = ivf_assign(emb.where(F.col("vec_id") < 256))
    full = ivf_assign_incremental(index, emb.where(F.col("vec_id") >= 256))
    txt = explain_text(full)
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" in txt or "BroadcastHashJoin" in txt
    assert plan_audit(full)["sort_merge_joins"] == 0


def test_forecast_filters_reach_scan(spark, sf_dir):
    """Q6's point is the zero-shuffle plan: date/qty predicates pushed
    to parquet, one scalar aggregate, no join anywhere."""
    df = relational.forecast_revenue_change(
        load_table(spark, sf_dir, "lineitem"))
    audit = plan_audit(df)
    assert audit["pushed_filters"], "shipdate/quantity must reach the scan"
    assert audit["python_stages"] == 0
    assert audit["broadcast_joins"] == 0 and audit["sort_merge_joins"] == 0
    (schema,) = audit["scan_schemas"]
    assert "l_orderkey" not in schema, "unused columns must be pruned"


def test_shipping_priority_topk_is_take_ordered(spark, sf_dir):
    """Q3's top-k must plan as TakeOrderedAndProject (each partition
    ships only its local k rows) — a global Sort before the limit
    would materialize the whole per-order aggregate."""
    df = relational.shipping_priority_topk(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"))
    txt = explain_text(df)
    assert "TakeOrderedAndProject" in txt
    assert plan_audit(df)["python_stages"] == 0


def test_novelty_plan_has_no_sort_window(spark, sf_dir):
    """doc_novelty_scores must keep the hash-aggregate attribution
    form: no Window node (the sort-window draft measured 2.3x slower
    at 1M docs — BENCH/novelty_scale.json) and no join-back of the
    gram-sized frame (the only join is of two doc-sized frames)."""
    from movement_spark.operators.dedup import doc_novelty_scores
    df = doc_novelty_scores(load_table(spark, sf_dir, "documents"))
    txt = explain_text(df)
    assert "Window" not in txt, "sort-window draft crept back in"
    assert plan_audit(df)["python_stages"] == 0


# Operator keywords that only tests set — each test passes a second
# value there (salt fan-out, a recall sweep, a BPE merge count, …).
# Every OTHER keyword default on an operator needs a non-test caller.
_TEST_SET_KEYWORDS = {
    ("chunking", "salted_repartition", "salt_buckets"),
    ("chunking", "two_phase_agg", "salt_buckets"),
    ("chunking", "range_layout_plan", "n_shards"),
    ("dataset", "sequence_packing_stats", "context_len"),
    ("dataset", "dsir_importance_weights", "target_lang"),
    ("dedup", "shard_signature_expr", "shingle_mod"),
    ("dedup", "exact_substring_scrub", "k"),
    ("graph", "connected_components", "max_rounds"),
    ("mechanics", "pinion_zip", "rotations"),
    ("mechanics", "pinion_odometers", "rotations"),
    ("similarity", "pq_topk", "n_queries"),
    ("similarity", "pq_topk", "k"),
    ("similarity", "pq_rerank_topk", "n_queries"),
    ("similarity", "pq_rerank_topk", "k"),
    ("similarity", "ivfpq_rerank_topk", "n_queries"),
    ("similarity", "ivfpq_rerank_topk", "k"),
    ("similarity", "ivfpq_rerank_topk", "nprobe"),
    ("similarity", "truncated_rerank_topk", "pool"),
    ("similarity", "mmr_diversified_topk", "mode"),
    ("similarity", "ivf_recall_audit", "nprobe"),
    ("text", "top_ngram_fraction", "flag_x1000"),
    ("text", "bpe_train", "n_merges"),
    ("text", "bpe_encode_stats", "n_merges"),
}


def test_operator_keywords_have_non_test_callers():
    """Operator tuning values are module constants. A keyword default on
    a module-level function in movement_spark/operators/*.py must be
    passed (by name or position) at some non-test call site —
    movement_spark/, bench/, bench.py, __spark_entry__.py. A keyword no
    caller sets only ever takes its default, and the registry's oracle
    SQL hard-codes that same value, so an override could only
    desynchronize the operator from its oracle. Keywords only tests set
    are listed in _TEST_SET_KEYWORDS; a listed keyword that gains a
    non-test caller (or goes away) must leave the list."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    params = {}    # function name -> (module, positional names)
    defaults = set()
    for path in sorted((root / "movement_spark" / "operators").glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, ast.FunctionDef):
                continue
            a = node.args
            pos = [x.arg for x in a.posonlyargs + a.args]
            assert node.name not in params, f"{node.name} defined twice"
            params[node.name] = (path.stem, pos)
            defaults |= {(path.stem, node.name, n)
                         for n in pos[len(pos) - len(a.defaults):]}
            defaults |= {(path.stem, node.name, x.arg)
                         for x, d in zip(a.kwonlyargs, a.kw_defaults)
                         if d is not None}

    callers = [*(root / "movement_spark").rglob("*.py"),
               *(root / "bench").glob("*.py"),
               root / "bench.py", root / "__spark_entry__.py"]
    passed = set()
    for path in callers:
        for call in ast.walk(ast.parse(path.read_text())):
            if not isinstance(call, ast.Call):
                continue
            func, args = call.func, list(call.args)
            if getattr(func, "id", getattr(func, "attr", None)) == "partial" \
                    and args:      # functools.partial(op, ...)
                func, args = args[0], args[1:]
            name = getattr(func, "id", getattr(func, "attr", None))
            if name not in params:
                continue
            mod, pos = params[name]
            passed |= {(mod, name, n) for n in pos[:len(args)]}
            passed |= {(mod, name, k.arg) for k in call.keywords}

    unpassed = defaults - passed
    assert not unpassed - _TEST_SET_KEYWORDS, (
        "keyword defaults no non-test caller passes — make them module "
        f"constants: {sorted(unpassed - _TEST_SET_KEYWORDS)}")
    assert _TEST_SET_KEYWORDS <= unpassed, (
        "stale test-set entries (now passed by a non-test caller, or "
        f"gone): {sorted(_TEST_SET_KEYWORDS - unpassed)}")
    assert len(defaults) <= 140, len(defaults)
