"""Relational operators over the star schema (SURVEY.md §2.8 gap-fill).

The reference has no joins/aggregations/window functions; the north rule
and a complete engine require them. These are thin, idiomatic DataFrame
compositions — Catalyst supplies pushdown, broadcast selection, AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


# Query parameters are module constants: each registered query's oracle
# SQL hard-codes the same values, so a per-call override could only
# desynchronize an operator from its oracle.
PRICING_CUTOFF = "1998-09-01"


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1 shape: scan + filter (pushed to parquet) + hash agg."""
    return (
        lineitem.where(F.col("l_shipdate")
                       < F.lit(PRICING_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


ORDER_RANK_K = 3


def order_rank_per_customer(orders: DataFrame) -> DataFrame:
    """Window function: top-ORDER_RANK_K orders per customer by totalprice.

    Partition key = custkey (high cardinality → even shuffle); ties broken
    by orderkey for determinism.
    """
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= ORDER_RANK_K)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_top"),
             F.round(F.sum("o_totalprice"), 2).alias("top_revenue"),
             F.max("o_orderkey").alias("max_orderkey"))
    )


def event_type_daily_matrix(events: DataFrame) -> DataFrame:
    """Pivot-shaped conditional aggregation: events per day × type.

    Written as sum(case when ...) (not DataFrame.pivot) so the plan is a
    single hash aggregate — same shape both engines.
    """
    day = F.date_trunc("day", F.col("ts"))
    base = events.select(F.unix_timestamp(day).alias("day_epoch"), "event_type")
    types = ["click", "view", "purchase", "signup", "error"]
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
        .cast("bigint").alias(f"n_{t}")
        for t in types
    ]
    return base.groupBy("day_epoch").agg(*aggs)


def supplier_part_join(part: DataFrame, supplier: DataFrame,
                       lineitem: DataFrame) -> DataFrame:
    """3-way join: fact × two dims (both broadcast), agg by brand/supplier."""
    return (
        lineitem
        .join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .groupBy("p_brand", "s_name")
        .agg(F.count("*").alias("n_items"),
             F.round(F.sum("l_extendedprice"), 2).alias("volume"))
    )


DANGLING_DROP_MOD = 3


def dangling_edge_audit(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Referential-integrity check, the reference's edge-encode semantic
    (TinkerPopGraphEncoder.java:87-117: an edge whose endpoint vertex is
    missing is fatal unless dropDanglingEdges; TestDirectoryLoader.java:
    137,158-159 expects 5/5 when one vertex is absent and the flag is on).

    Vertices = customers whose key survives ``% DANGLING_DROP_MOD != 0`` (the
    missing-vertex fixture analog); edges = orders referencing them. A
    LEFT join + null test classifies each edge as kept vs dangling —
    at scale this is one shuffle on the key (or a broadcast when the
    vertex set is dimension-sized); never a driver-side lookup.
    """
    vertices = (
        customer.where(
            F.pmod(F.col("c_custkey"), F.lit(DANGLING_DROP_MOD)) != 0)
        .select("c_custkey")
    )
    return (
        orders.join(vertices, orders.o_custkey == vertices.c_custkey, "left")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_edges"),
             F.sum(F.col("c_custkey").isNull().cast("int"))
             .cast("bigint").alias("n_dangling"),
             F.sum(F.col("c_custkey").isNotNull().cast("int"))
             .cast("bigint").alias("n_kept"))
    )


SEMIJOIN_START, SEMIJOIN_END = "1995-01-01", "1995-10-01"


def order_priority_semijoin(orders: DataFrame,
                            lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: EXISTS as a left-semi join — orders that have at
    least one returned lineitem, counted per priority. The semi join
    keeps the probe side's row count bounded by orders (no fanout), and
    the returnflag predicate is pushed to the parquet scan."""
    late = (
        lineitem.where(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders
        .where((F.col("o_orderdate")
                >= F.lit(SEMIJOIN_START).cast("timestamp"))
               & (F.col("o_orderdate")
                  < F.lit(SEMIJOIN_END).cast("timestamp")))
        .join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def idle_rich_customers(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """TPC-H Q22 shape: scalar aggregate subquery + anti join — customers
    with above-average balance and NO orders, per market segment.

    The above-average test is kept EXACT (oracle-hashable) by avoiding
    the division: ``bal * n > sum`` over decimals instead of
    ``bal > avg``, so no float rounding can flip a boundary row. The
    global aggregate is one row, crossJoin-broadcast to every partition;
    the NOT EXISTS is a left-anti shuffle join on the customer key.
    """
    bal = F.col("c_acctbal").cast("decimal(18,4)")
    positive = customer.where(bal > 0)
    totals = positive.agg(F.sum(bal).alias("tot_bal"),
                          F.count("*").alias("n_pos"))
    rich = (
        positive.crossJoin(F.broadcast(totals))
        .where(bal * F.col("n_pos") > F.col("tot_bal"))
    )
    return (
        rich.join(orders.select("o_custkey"),
                  rich.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_idle"),
             F.round(F.sum(bal), 2).cast("double").alias("idle_bal"))
    )


def revenue_deciles(orders: DataFrame) -> DataFrame:
    """Customer-revenue decile profile: ntile(10) over per-customer
    revenue, then per-decile count / revenue share — the concentration
    report behind "top decile drives X% of revenue".

    The ntile window is global over the PER-CUSTOMER aggregate (already
    reduced by the one fact-table shuffle), with a deterministic total
    order (revenue desc, custkey asc) so the decile cut is reproducible.
    At 10^9 customers the exact global sort becomes the bottleneck; the
    scale path swaps ntile for approx-quantile boundaries broadcast as a
    range lookup — same output contract, documented trade (exact ties vs
    one pass). Decile sums stay in DECIMAL so the profile is oracle-exact.
    """
    from pyspark.sql.window import Window

    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"))
    tiled = rev.withColumn(
        "decile",
        F.ntile(10).over(
            Window.orderBy(F.desc("revenue"), F.asc("o_custkey"))).cast("int"))
    return (
        tiled.groupBy("decile")
        .agg(F.count("*").alias("n_cust"),
             F.sum("revenue").cast("decimal(18,2)").cast("double")
             .alias("decile_revenue"),
             F.min("revenue").cast("double").alias("min_revenue"),
             F.max("revenue").cast("double").alias("max_revenue"))
    )


SCD_OPEN_END = 9_999_999  # day number standing in for "no end date"


def order_status_intervals(orders: DataFrame) -> DataFrame:
    """SCD Type-2 interval builder: each order sets the customer's
    "current status"; consecutive orders close the previous validity
    interval — the slowly-changing-dimension history a warehouse MERGE
    maintains, built in one pass with lead() over (customer, date, key).

    The window is partitioned by customer (never global), so the sort
    is per-key within one shuffle — the same shape at any scale. Days
    are emitted as ints; the open interval of each customer's latest
    order ends at SCD_OPEN_END with is_current = 1.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.to_date("o_orderdate").asc(), F.col("o_orderkey").asc())
    day = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
    nxt = F.lead(day).over(w)
    return orders.select(
        "o_custkey", "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        day.cast("int").alias("valid_from"),
        F.coalesce(nxt, F.lit(SCD_OPEN_END)).cast("int").alias("valid_to"),
        F.lead("o_orderkey").over(w).isNull().cast("int").alias("is_current"),
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort-retention matrix: users grouped by first-activity
    week; cell (cohort, offset) counts distinct users from that cohort
    active ``offset`` weeks later — the standard growth-analytics
    rollup.

    Weeks are integer day-number divisions (floor), so cohort
    boundaries are engine-exact. Two map-side-combined aggregates plus
    one join co-partitioned on user_id; the output matrix is
    cohorts × offsets — tiny at any input scale.
    """
    day_no = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    weeks = events.select(
        "user_id", F.floor(day_no / 7).cast("bigint").alias("week"))
    activity = weeks.distinct()
    first = activity.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (
        activity.join(first, "user_id")
        .groupBy("cohort",
                 (F.col("week") - F.col("cohort")).alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def segment_priority_mode(orders: DataFrame,
                          customer: DataFrame) -> DataFrame:
    """Per-market-segment modal order priority (mode = argmax count,
    ties to the lexicographically smallest priority — deterministic).
    One broadcast dim join + one (segment, priority) aggregate; the
    argmax is a window over the tiny aggregate, never the fact table.
    """
    counts = (
        orders.join(F.broadcast(customer.select("c_custkey",
                                                "c_mktsegment")),
                    orders.o_custkey == F.col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("n"), F.asc("o_orderpriority"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("c_mktsegment").alias("segment"),
                F.col("o_orderpriority").alias("modal_priority"),
                F.col("n").alias("n_orders"))
    )


SESSION_GAP_SEC = 1800


def gap_session_ids(events: DataFrame) -> DataFrame:
    """Per-user gaps-and-islands session assignment — THE shared
    boundary semantics for every fixed-gap session query (a gap of
    >= SESSION_GAP_SEC seconds starts a new session; ties inside a session
    break on (ts, event_id) so derived firsts/lasts are deterministic
    under equal timestamps). Adds ``ets`` (epoch seconds) and ``sid``
    (1-based per-user session ordinal). Partition key is user_id —
    bounded frames, never a global window. Both daily_bounce_rate and
    session_touch_attribution build on this one definition so a change
    to the cut rule (>= vs >) lands everywhere — their DuckDB oracles
    must be updated in lockstep."""
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ets = F.unix_timestamp("ts")
    prev = F.lag(ets).over(w_user)
    marked = events.withColumn("ets", ets).withColumn(
        "new_s",
        (prev.isNull() | ((ets - prev) >= SESSION_GAP_SEC)).cast("int"))
    sid = F.sum("new_s").over(
        w_user.rowsBetween(Window.unboundedPreceding, 0))
    return marked.withColumn("sid", sid).drop("new_s")


def session_touch_attribution(events: DataFrame) -> DataFrame:
    """First-touch / last-touch attribution over gap-based sessions:
    each user session (events separated by < gap) is labeled with its
    first and last event types, and session value rolls up per
    (first_touch, last_touch) pair — the marketing-attribution rollup.

    Session boundaries come from ``gap_session_ids``; the attribution
    rollup runs over one row per session.
    """
    w_sess = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    w_full = w_sess.rowsBetween(Window.unboundedPreceding,
                                Window.unboundedFollowing)
    per_event = (
        gap_session_ids(events)
        .withColumn("first_touch", F.first("event_type").over(w_sess))
        .withColumn("last_touch", F.last("event_type").over(w_full))
    )
    per_session = (
        per_event.groupBy("user_id", "sid", "first_touch", "last_touch")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"))
    )
    return (
        per_session.groupBy("first_touch", "last_touch")
        .agg(F.count("*").alias("n_sessions"),
             F.sum("n_events").cast("bigint").alias("n_events"),
             F.sum("sv").cast("decimal(18,2)").cast("double")
             .alias("sum_value"))
    )


def event_transition_matrix(events: DataFrame) -> DataFrame:
    """Markov next-event transition matrix: per user, events ordered by
    (ts, event_id) — event_id breaks timestamp ties deterministically —
    pair each event with its successor and report per-(from, to) counts
    plus the integer-permille transition probability out of each source
    state. The lead() window is partitioned by user (bounded frames);
    the share window runs over the ALREADY aggregated |types|² matrix,
    never raw rows."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
    )
    counts = (pairs.groupBy("event_type", "next_type")
              .agg(F.count("*").alias("n_trans")))
    total = F.sum("n_trans").over(Window.partitionBy("event_type"))
    return (counts.withColumn("_total", total)
            .withColumn("share_pmil",
                        F.expr("(n_trans * 1000L) div _total")
                        .cast("bigint"))
            .drop("_total"))


def event_path_trigrams(events: DataFrame) -> DataFrame:
    """Sequential path mining: per user, the 3-step event-type paths
    (trigrams over the (ts, event_id)-ordered stream) with corpus-wide
    counts — the CEP-adjacent "what do users do next" rollup. Output is
    bounded by |types|³ regardless of input size; the only shuffle over
    raw rows is the per-user window sort."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("e2", F.lead("event_type", 1).over(w))
        .withColumn("e3", F.lead("event_type", 2).over(w))
        .where(F.col("e3").isNotNull())
    )
    return (t.select(F.concat_ws(">", "event_type", "e2", "e3").alias("path"))
            .groupBy("path").agg(F.count("*").alias("n_paths")))


def event_copresence_lift(events: DataFrame) -> DataFrame:
    """Market-basket co-presence lift: basket = (user, UTC day); for
    every unordered pair of event types sharing a basket, lift =
    P(a,b) / (P(a)·P(b)) reported as exact integer ppm
    (n_ab · n_baskets · 10⁶ div (n_a · n_b)) — the association-rule
    statistic behind "users who X also Y".

    The pair join is keyed by basket, and pairs per basket are bounded
    by C(|types|, 2), so the shuffle is O(rows), never O(rows²); the
    per-type totals and the scalar basket count broadcast."""
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day")
    baskets = events.select("user_id", day, "event_type").distinct()
    totals = baskets.groupBy("event_type").agg(F.count("*").alias("n_type"))
    n_baskets = (baskets.select("user_id", "day").distinct()
                 .agg(F.count("*").alias("n_baskets")))
    b = baskets.select("user_id", "day", F.col("event_type").alias("type_b"))
    pairs = (
        baskets.join(b, ["user_id", "day"])
        .where(F.col("event_type") < F.col("type_b"))
        .groupBy(F.col("event_type").alias("type_a"), "type_b")
        .agg(F.count("*").alias("n_ab"))
    )
    ta = totals.select(F.col("event_type").alias("type_a"),
                       F.col("n_type").alias("n_a"))
    tb = totals.select(F.col("event_type").alias("type_b"),
                       F.col("n_type").alias("n_b"))
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(n_baskets))
        .select("type_a", "type_b", "n_ab", "n_a", "n_b",
                F.expr("(n_ab * n_baskets * 1000000L) div (n_a * n_b)")
                .alias("lift_ppm"))
    )


def part_best_supplier(lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """TPC-H Q2 shape (argmin-per-group): for every part, the supplier
    with the lowest total supply cost, ties broken by suppkey. The
    per-(part, supplier) aggregate shuffles once on the natural compound
    key; the argmin is a row_number over that aggregate (partitioned by
    part — high cardinality, even shuffle); the supplier dim broadcasts."""
    cost = (
        lineitem.groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
             .alias("cost_d"),
             F.count("*").alias("n_lines"))
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.asc("cost_d"), F.asc("l_suppkey"))
    best = cost.withColumn("rk", F.row_number().over(w)).where(F.col("rk") == 1)
    return (
        best.join(F.broadcast(supplier),
                  best.l_suppkey == supplier.s_suppkey)
        .select(F.col("l_partkey").alias("p_partkey"),
                F.col("l_suppkey").alias("best_suppkey"),
                F.col("s_name").alias("supplier_name"),
                F.round("cost_d", 2).cast("double").alias("best_cost"),
                "n_lines")
    )


BRAND_SHARE_MIN_PPM = 20000


def brand_value_concentration(lineitem: DataFrame,
                              part: DataFrame) -> DataFrame:
    """TPC-H Q11 shape (HAVING against a global scalar): per-brand
    discounted revenue, kept only where the brand's share exceeds
    BRAND_SHARE_MIN_PPM of the corpus total. Money goes DECIMAL → exact cents
    (bigint) before the share arithmetic, so the global comparison is
    integer-exact; the share window runs over the tiny per-brand
    aggregate, never raw rows."""
    rev = (
        lineitem.join(F.broadcast(part),
                      lineitem.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")
                   * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
             .alias("rev_d"))
        .select("p_brand",
                F.round(F.col("rev_d") * 100, 0).cast("bigint")
                .alias("value_cents"))
    )
    total = F.sum("value_cents").over(
        Window.partitionBy())  # global window over the ~25-brand aggregate
    return (
        rev.withColumn(
            "share_ppm",
            F.expr("value_cents * 1000000").cast("bigint") / total)
        .withColumn("share_ppm", F.floor(F.col("share_ppm")).cast("bigint"))
        .where(F.col("share_ppm") >= BRAND_SHARE_MIN_PPM)
    )


def top_supplier_quarter(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q15 shape (max view with ties kept): per calendar quarter,
    the supplier(s) whose discounted revenue equals the quarter maximum.
    Revenue stays DECIMAL end-to-end so the tie test is exact; the max
    window is partitioned by quarter over the per-(quarter, supplier)
    aggregate."""
    quarter = F.concat(
        F.year("l_shipdate").cast("string"), F.lit("Q"),
        F.quarter("l_shipdate").cast("string")).alias("quarter")
    rev = (
        lineitem.groupBy(quarter, "l_suppkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")
                   * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
             .alias("rev_d"))
    )
    mx = F.max("rev_d").over(Window.partitionBy("quarter"))
    return (
        rev.withColumn("mx", mx)
        .where(F.col("rev_d") == F.col("mx"))
        .select("quarter", F.col("l_suppkey").alias("top_suppkey"),
                F.round("rev_d", 2).cast("double").alias("top_revenue"))
    )


def merge_upsert(target: DataFrame, source: DataFrame,
                 keys: list[str]) -> DataFrame:
    """ANSI MERGE as a relational composition: source rows win by key
    (WHEN MATCHED UPDATE = replace, WHEN NOT MATCHED INSERT = append),
    target rows survive only where no source key matches.

    The reference's idempotent-output contract (TinkerPopGraphOutput's
    element-exists-then-update path, SURVEY.md §2.5) re-expressed as a
    batch plan; the streaming twin is sinks/idempotent.py's epoch MERGE.

    Scale shape: one anti-join keyed on the merge key — both sides
    shuffle once on ``keys``; with the target bucketed by key (the
    deployment layout for any table that takes CDC batches) only the
    small source side moves, and AQE turns the anti-join into a
    broadcast when the batch is tiny.
    """
    return (
        target.join(source.select(*keys).distinct(), keys, "left_anti")
        .unionByName(source)
    )


# Row pattern over event-type initials: one-or-more views, a click, a
# purchase. Shared by the stateful form (patterns.user_pattern_stats).
CEP_PATTERN = "v+cp"


def pattern_match_stats(events: DataFrame) -> DataFrame:
    """MATCH_RECOGNIZE-lite: declarative row-pattern matching over each
    user's event history. The per-user ordered event stream is encoded
    as a character sequence (one char per event type) and CEP_PATTERN —
    ``v+cp``: one-or-more views, then a click, then a purchase —
    is scanned with leftmost non-overlapping regex semantics, exactly
    SQL:2016 MATCH_RECOGNIZE's ONE ROW PER MATCH / AFTER MATCH SKIP
    PAST LAST ROW mode for a concatenation-of-symbols pattern.

    The encoding trick makes CEP pattern matching a pure column
    expression: collect_list → array_sort by (ts, event_id) →
    char-join → regexp_extract_all, all JVM-side, one shuffle on
    user_id. Scale note: per-user history must fit a row (true for
    session-bounded scans; at unbounded history, pre-segment by
    session exactly like session_touch_attribution and match within
    sessions). The pattern alphabet is the event-type initial — any
    richer predicate-per-symbol compiles to the same shape with a CASE
    producing the symbol.
    """
    ch = F.expr("substring(event_type, 1, 1)")
    per_user = (
        # CEP-valid events only: a NULL user/ts/type row cannot be
        # placed in (or symbolized for) an episode — excluded in BOTH
        # matcher forms and the oracle, so the stateful and columnar
        # implementations keep cross-validating on dirty streams.
        events.where(F.col("user_id").isNotNull()
                     & F.col("ts").isNotNull()
                     & F.col("event_type").isNotNull())
        .select("user_id", "ts", "event_id", ch.alias("ch"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"),
             F.expr("array_join(transform(array_sort(collect_list("
                    "struct(ts, event_id, ch))), x -> x.ch), '')")
             .alias("seq"))
    )
    m = F.expr(f"regexp_extract_all(seq, '{CEP_PATTERN}', 0)")
    return per_user.select(
        "user_id", "n_events",
        F.size(m).alias("n_matches"),
        F.coalesce(
            F.expr(f"aggregate(transform(regexp_extract_all(seq, "
                   f"'{CEP_PATTERN}', 0), x -> length(x)), 0, "
                   f"(a, b) -> a + b)"),
            F.lit(0)).cast("int").alias("sum_match_len"),
        F.coalesce(
            F.expr(f"array_max(transform(regexp_extract_all(seq, "
                   f"'{CEP_PATTERN}', 0), x -> length(x)))"),
            F.lit(0)).cast("int").alias("max_match_len"))


def ushape_attribution(events: DataFrame) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution in exact
    integer basis points: every session carries 10,000 bps of credit —
    40% to the first touch, 40% to the last, 20% split evenly across
    the middles (integer division; the remainder goes to the FIRST
    middle so the split is deterministic and always sums to 10,000).
    1-event sessions give the whole 10,000 to their only touch;
    2-event sessions split 5,000/5,000. Credit then rolls up per
    event_type — the multi-touch complement of the first/last rollup
    in session_touch_attribution.

    Session boundaries come from gap_session_ids (ties break on
    (ts, event_id), so position is deterministic); per-session windows
    are user-partitioned and bounded. All arithmetic is integer bps —
    engine-exact by construction.
    """
    w_sess = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    per_event = (
        gap_session_ids(events)
        .withColumn("rn", F.row_number().over(w_sess))
        .withColumn("n", F.count("*").over(
            w_sess.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)))
    )
    n, rn = F.col("n"), F.col("rn")
    mid_each = F.expr("2000 div (n - 2)")
    mid_rem = F.lit(2000) - (n - 2) * mid_each
    credit = (
        F.when(n == 1, 10000)
        .when(n == 2, 5000)
        .when(rn == 1, 4000)
        .when(rn == n, 4000)
        .otherwise(mid_each + F.when(rn == 2, mid_rem).otherwise(0))
    )
    return (
        per_event.withColumn("bps", credit.cast("bigint"))
        .groupBy("event_type")
        .agg(F.count("*").alias("touches"),
             F.sum("bps").cast("bigint").alias("credit_bps"))
    )


def sole_fault_suppliers(lineitem: DataFrame, orders: DataFrame,
                         supplier: DataFrame,
                         nation: DataFrame) -> DataFrame:
    """TPC-H Q21 shape (EXISTS + NOT EXISTS correlated self-joins): per
    supplier, how many finished multi-supplier orders had THIS supplier
    as the ONLY one with a returned line. ``l_returnflag = 'R'`` stands
    in for Q21's receipt-after-commit lateness test (this corpus carries
    no commit/receipt dates); the join algebra is the query's point.

    Scale shape: every correlated subquery becomes a semi/anti
    join keyed on l_orderkey — ONE high-cardinality shuffle key shared
    by all three legs (AQE co-plans them), never a per-row subquery;
    supplier and nation dims broadcast. The distinct() frames bound the
    self-join inputs to (order, supplier) pairs, not raw lines.
    """
    finished = orders.where(F.col("o_orderstatus") == "F") \
        .select(F.col("o_orderkey").alias("l_orderkey"))
    faults = (
        lineitem.where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey").distinct()
        .join(finished, "l_orderkey", "left_semi")
    )
    all_su = lineitem.select("l_orderkey", "l_suppkey").distinct()
    f = faults.alias("f")
    multi = f.join(
        all_su.alias("o"),
        (F.col("f.l_orderkey") == F.col("o.l_orderkey"))
        & (F.col("f.l_suppkey") != F.col("o.l_suppkey")),
        "left_semi")
    sole = multi.alias("m").join(
        faults.alias("f2"),
        (F.col("m.l_orderkey") == F.col("f2.l_orderkey"))
        & (F.col("m.l_suppkey") != F.col("f2.l_suppkey")),
        "left_anti")
    dim = (
        supplier.join(F.broadcast(nation),
                      supplier.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    return (
        sole.groupBy("l_suppkey").agg(F.count("*").alias("numwait"))
        .join(F.broadcast(dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.col("s_suppkey").alias("suppkey"), "s_name", "n_name",
                "numwait")
    )


FUNNEL_WINDOW_SEC = 3 * 86400


def funnel_conversion(events: DataFrame) -> DataFrame:
    """Ordered, time-bounded funnel (view → click → purchase): a user
    converts stage k only with an event STRICTLY after their stage-k-1
    time and within FUNNEL_WINDOW_SEC of it — the sessionized-conversion
    analysis every product pipeline runs.

    Scale shape: three conditional min-aggregates chained by joins, ALL
    keyed on user_id — one shuffle key end to end, co-partitioned, no
    window over raw events and no self-join fanout (each stage k input
    is the stage-k event slice, pre-filtered before its shuffle).
    Output is per-deepest-stage counts plus exact integer seconds-to-
    convert for full conversions: bounded rows.
    """
    ep = lambda c: F.unix_timestamp(F.col(c)).cast("bigint")  # noqa: E731
    v = (events.where(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min(ep("ts")).alias("v_ts")))
    c = (events.where(F.col("event_type") == "click")
         .join(v, "user_id")
         .where((ep("ts") > F.col("v_ts"))
                & (ep("ts") <= F.col("v_ts") + FUNNEL_WINDOW_SEC))
         .groupBy("user_id").agg(F.min(ep("ts")).alias("c_ts")))
    p = (events.where(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .where((ep("ts") > F.col("c_ts"))
                & (ep("ts") <= F.col("c_ts") + FUNNEL_WINDOW_SEC))
         .groupBy("user_id").agg(F.min(ep("ts")).alias("p_ts")))
    staged = (
        v.join(c, "user_id", "left").join(p, "user_id", "left")
        .select("user_id",
                (F.lit(1)
                 + F.col("c_ts").isNotNull().cast("int")
                 + F.col("p_ts").isNotNull().cast("int")).alias("stage"),
                (F.col("p_ts") - F.col("v_ts")).alias("convert_sec"))
    )
    return (
        staged.groupBy("stage")
        .agg(F.count("*").alias("n_users"),
             F.sum("convert_sec").cast("bigint").alias("sum_convert_sec"))
        .select(F.col("stage").cast("int").alias("stage"),
                "n_users", "sum_convert_sec")
    )


def small_quantity_part_revenue(lineitem: DataFrame,
                                part: DataFrame) -> DataFrame:
    """TPC-H Q17 shape: revenue locked in small-quantity lines — those
    whose quantity is under 0.2× their part's average quantity, rolled
    up per brand.

    The correlated per-part AVG subquery is the textbook shape that
    must NOT run per-row: it becomes ONE per-part aggregate joined back
    to the fact on the aggregation key (partkey-keyed equi-join — at
    TPC-H scale the per-part frame is fact-derived and big, so it
    shuffles on the same key the aggregate just used; AQE handles the
    residual skew). Exactness: qty < sum/(5·n) is evaluated as
    qty·5·n < sum in bigint — no float average anywhere (quantities
    are whole; verified at every test SF) — and money flows through
    DECIMAL(18,4) before the final round."""
    pa = lineitem.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.count("*").alias("n_li"))
    small = (
        lineitem.select(
            "l_partkey",
            F.col("l_quantity").cast("bigint").alias("qty"),
            F.col("l_extendedprice").cast("decimal(18,4)").alias("price"))
        .join(pa, "l_partkey")
        .where(F.expr("qty * 5 * n_li < sum_qty"))
        .join(F.broadcast(part.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
    )
    return (
        small.groupBy("p_brand")
        .agg(F.count("*").cast("bigint").alias("n_small_lines"),
             F.expr("cast(round(sum(price), 2) as double)")
             .alias("small_qty_revenue"))
    )


# ---------------------------------------------------------------------
# Round-4 continuation: the remaining distinctive TPC-H join/predicate
# shapes (Q18/Q19/Q14/Q12/Q5 analogs over this corpus's columns). All
# money arithmetic is float-free: line revenue is carried as
# cents × (100 − discount_pct) — an exact BIGINT because prices are
# 2-decimal and discounts whole hundredths (verified at every test SF).
# At a 100-TB SF the x10000 sums approach 2^63 only past ~10^9 lines
# per group; the oracle already sums in HUGEINT, and the Spark side
# would move to DECIMAL(38,0) sums at that width.
# ---------------------------------------------------------------------

def _rev_x10000() -> F.Column:
    """Exact line revenue with discount, in 10^-4-cent fixed point."""
    return (
        F.expr("cast(round(l_extendedprice * 100, 0) as bigint)")
        * (F.lit(100) - F.expr("cast(round(l_discount * 100, 0) as bigint)"))
    )


LARGE_VOLUME_MIN_QTY = 280


def large_volume_customers(lineitem: DataFrame, orders: DataFrame,
                           customer: DataFrame) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    line quantity exceeds LARGE_VOLUME_MIN_QTY, with their customer.

    Scale shape: the HAVING subquery is ONE per-order aggregate (the
    only full-fact shuffle); the survivors are a ~top-percentile sliver,
    so they BROADCAST into the orders scan, and the enriched sliver
    broadcasts again into the customer probe — the fact table is never
    shuffled a second time and customer is never shuffled at all.
    """
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"))
        .where(F.col("sum_qty") > LARGE_VOLUME_MIN_QTY)
    )
    hits = (
        orders.join(F.broadcast(big),
                    orders.o_orderkey == big.l_orderkey)
        .drop("l_orderkey")
    )
    return (
        customer.join(F.broadcast(hits),
                      F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.unix_timestamp("o_orderdate").cast("bigint")
            .alias("order_epoch"),
            F.expr("cast(round(cast(o_totalprice as decimal(18,4)), 2)"
                   " as double)").alias("total_price"),
            "sum_qty")
    )


BRACKETS = (
    ("Brand#12", 1, 15, 1, 20),
    ("Brand#23", 10, 30, 10, 30),
    ("Brand#34", 20, 50, 20, 50),
)


def disjunctive_bracket_revenue(lineitem: DataFrame,
                                part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape (disjunctive bracket predicate): discounted
    revenue from lines matching any (brand, size-range, qty-range)
    bracket, per brand.

    Scale shape: ONE broadcast hash join part→lineitem with the whole
    OR-of-ANDs evaluated as a single post-join filter — Catalyst folds
    the common ``p_partkey`` equi-key out of the disjunction, so this
    stays a hash join (never a nested-loop), and the brand IN-list
    prunes the broadcast side before it ships.
    """
    qty = F.col("l_quantity").cast("bigint")
    cond = None
    for brand, s_lo, s_hi, q_lo, q_hi in BRACKETS:
        leg = ((F.col("p_brand") == brand)
               & F.col("p_size").between(s_lo, s_hi)
               & qty.between(q_lo, q_hi))
        cond = leg if cond is None else (cond | leg)
    dim = part.where(
        F.col("p_brand").isin([b for b, *_ in BRACKETS]))
    return (
        lineitem.join(F.broadcast(dim),
                      F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_lines"),
             F.sum(_rev_x10000()).cast("bigint").alias("disc_rev_x10000"))
    )


def promo_revenue_share(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14 shape (promotion revenue share): per ship month, the
    share of discounted revenue carried by PROMO-type parts, in exact
    integer basis points.

    Scale shape: broadcast the part type map into the fact scan, one
    month-keyed aggregate; the share is (promo·10000) div total on the
    exact fixed-point sums — no float ratio anywhere.
    """
    month = (F.year("l_shipdate") * 100 + F.month("l_shipdate")) \
        .cast("int").alias("ship_month")
    promo = F.when(F.col("p_type") == "PROMO", F.lit(1)).otherwise(F.lit(0))
    j = (
        lineitem.join(F.broadcast(part.select("p_partkey", "p_type")),
                      F.col("l_partkey") == F.col("p_partkey"))
        .select(month, _rev_x10000().alias("rev"),
                promo.alias("is_promo"))
    )
    return (
        j.groupBy("ship_month")
        .agg(F.sum(F.when(F.col("is_promo") == 1, F.col("rev"))
                   .otherwise(F.lit(0))).cast("bigint")
             .alias("promo_rev_x10000"),
             F.sum("rev").cast("bigint").alias("total_rev_x10000"))
        .withColumn("promo_bps",
                    F.expr("(promo_rev_x10000 * 10000) div total_rev_x10000"))
    )


def priority_ship_delay_matrix(lineitem: DataFrame,
                               orders: DataFrame) -> DataFrame:
    """TPC-H Q12 shape (shipping-delay × priority matrix): lines
    bucketed by order-to-ship delay, with high- vs low-priority counts
    as conditional aggregates. This corpus carries no commit/receipt
    dates, so the delay bands stand in for Q12's lateness test; the
    join-then-conditional-count algebra is the query's point.

    Scale shape: one orderkey-keyed shuffle join (both sides carry the
    key from their scans), then a 4-row hash aggregate — the priority
    split is a CASE inside the agg, never a second pass.
    """
    dd = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (F.when(dd < 0, "early")
              .when(dd < 90, "fast")
              .when(dd < 365, "slow")
              .otherwise("late"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.select("l_orderkey", "l_shipdate")
        .join(orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(bucket.alias("delay_bucket"), high.alias("is_high"))
        .groupBy("delay_bucket")
        .agg(F.sum(F.col("is_high").cast("int")).cast("bigint")
             .alias("n_high"),
             F.sum((~F.col("is_high")).cast("int")).cast("bigint")
             .alias("n_low"))
    )


def local_supplier_volume(lineitem: DataFrame, orders: DataFrame,
                          customer: DataFrame, supplier: DataFrame,
                          nation: DataFrame) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): discounted revenue per
    nation × order year from lines where the customer and supplier
    share a nation.

    Scale shape: the two fact-sized joins shuffle on their natural keys
    (lineitem⋈orders on orderkey, then ⋈customer on custkey — at 100 TB
    customer does NOT broadcast and AQE plans both exchanges); supplier
    and nation broadcast, and the same-nation test rides inside the
    supplier broadcast join, pruning before the aggregate.
    """
    j = (
        lineitem.select("l_orderkey", "l_suppkey", _rev_x10000().alias("rev"))
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy("n_name",
                  F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(F.count("*").alias("n_lines"),
             F.sum("rev").cast("bigint").alias("rev_x10000"))
    )

SHIP_PRIORITY_SEGMENT = "BUILDING"
SHIP_PRIORITY_CUTOFF = "1998-06-01"
SHIP_PRIORITY_K = 10


def shipping_priority_topk(customer: DataFrame, orders: DataFrame,
                           lineitem: DataFrame) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): the SHIP_PRIORITY_K
    highest-revenue orders placed before SHIP_PRIORITY_CUTOFF by
    customers in SHIP_PRIORITY_SEGMENT with lines still shipping after
    it.

    Scale shape: the segment filter prunes customer at its scan but
    still leaves ~1/5 of a 100-TB customer table — so customer⋈orders
    shuffles on custkey and the result ⋈lineitem shuffles on orderkey
    (AQE may still broadcast at small SF; the plan must not REQUIRE
    it). The top-k is a TakeOrderedAndProject over the per-order
    aggregate — each partition ships only its local k rows, never the
    full aggregate. Ties are impossible: orderkey is in the sort key.
    """
    cust = (customer.where(F.col("c_mktsegment") == SHIP_PRIORITY_SEGMENT)
            .select("c_custkey"))
    o = (orders.where(F.col("o_orderdate") < SHIP_PRIORITY_CUTOFF)
         .join(cust, F.col("o_custkey") == F.col("c_custkey"))
         .select("o_orderkey", "o_orderdate"))
    li = (lineitem.where(F.col("l_shipdate") > SHIP_PRIORITY_CUTOFF)
          .select("l_orderkey", _rev_x10000().alias("rev")))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey",
                 F.unix_timestamp("o_orderdate").cast("bigint")
                 .alias("order_epoch"))
        .agg(F.count("*").alias("n_lines"),
             F.sum("rev").cast("bigint").alias("rev_x10000"))
        .orderBy(F.col("rev_x10000").desc(), F.col("o_orderkey"))
        .limit(SHIP_PRIORITY_K)
    )


# The years the TPC-H shapes below filter on: single-year queries use
# YEAR_LO, two-year windows [YEAR_LO, YEAR_HI].
YEAR_LO, YEAR_HI = 1997, 1998
FORECAST_DISC_LO, FORECAST_DISC_HI = 5, 7
FORECAST_MAX_QTY = 24


def forecast_revenue_change(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): revenue that would
    have been kept had discounts in [FORECAST_DISC_LO, FORECAST_DISC_HI]
    cents-percent on small-quantity lines of YEAR_LO been dropped.

    Scale shape: the whole query is scan + filter + one scalar
    aggregate; the date/quantity predicates reach the parquet scan as
    PushedFilters (plan-asserted) so row groups outside the year never
    leave storage, and the discount band (a rounded expression, not
    pushable) runs inside whole-stage codegen. No shuffle at all —
    partial sums combine map-side into one row.
    """
    disc = F.expr("cast(round(l_discount * 100, 0) as bigint)")
    kept = F.expr("cast(round(l_extendedprice * 100, 0) as bigint)") * disc
    return (
        lineitem
        .where((F.col("l_shipdate") >= f"{YEAR_LO}-01-01")
               & (F.col("l_shipdate") < f"{YEAR_LO + 1}-01-01")
               & (F.col("l_quantity") < FORECAST_MAX_QTY)
               & disc.between(FORECAST_DISC_LO, FORECAST_DISC_HI))
        .agg(F.count("*").alias("n_lines"),
             F.sum(kept).cast("bigint").alias("forecast_rev_x10000"))
    )


VOLUME_PAIR = ("NATION_3", "NATION_14")


def volume_shipping(lineitem: DataFrame, orders: DataFrame,
                    customer: DataFrame, supplier: DataFrame,
                    nation: DataFrame) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): discounted revenue shipped
    between the two nations of VOLUME_PAIR (both directions), per
    (supplier nation, customer nation, ship year).

    Scale shape: the pair filter lands INSIDE both dimension scans —
    supplier and customer each broadcast-join the 2-row nation sliver,
    pruning to ~2/25 of their rows before any fact contact. The two
    fact-sized joins shuffle on their natural keys (orderkey, then
    custkey); the cross-pair disjunction collapses to one inequality
    (supp_nation <> cust_nation) because both sides are already
    pair-limited.
    """
    ns = nation.where(F.col("n_name").isin(list(VOLUME_PAIR)))
    supp = (supplier.join(F.broadcast(ns),
                          F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust = (customer.join(F.broadcast(ns),
                          F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", F.col("n_name").alias("cust_nation")))
    j = (
        lineitem
        .where((F.col("l_shipdate") >= f"{YEAR_LO}-01-01")
               & (F.col("l_shipdate") < f"{YEAR_HI + 1}-01-01"))
        .select("l_orderkey", "l_suppkey", "l_shipdate",
                _rev_x10000().alias("rev"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy("supp_nation", "cust_nation",
                  F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(F.count("*").alias("n_lines"),
             F.sum("rev").cast("bigint").alias("rev_x10000"))
    )


MARKET_NATION, MARKET_REGION, MARKET_PTYPE = "NATION_3", "ASIA", "ECONOMY"


def nation_market_share(lineitem: DataFrame, orders: DataFrame,
                        customer: DataFrame, supplier: DataFrame,
                        nation: DataFrame, region: DataFrame,
                        part: DataFrame) -> DataFrame:
    """TPC-H Q8 shape (national market share): of the revenue from
    MARKET_PTYPE parts sold to MARKET_REGION customers in [YEAR_LO,
    YEAR_HI], the share carried by suppliers of MARKET_NATION, per order
    year, in exact integer basis points.

    Scale shape: part (type-pruned), supplier (carrying an is_target
    flag so the share needs no second pass), and the region→nation
    sliver all broadcast; the fact shuffles only on its two natural
    keys (orderkey, custkey). The share divides the two exact
    fixed-point sums — CASE inside the aggregate, never a self-join.
    """
    pt = part.where(F.col("p_type") == MARKET_PTYPE).select("p_partkey")
    rn = (nation.join(F.broadcast(
            region.where(F.col("r_name") == MARKET_REGION)),
            F.col("n_regionkey") == F.col("r_regionkey"))
          .select("n_nationkey"))
    supp = (supplier.join(F.broadcast(nation.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sn_key"))
            .select("s_suppkey",
                    (F.col("supp_nation") == MARKET_NATION)
                    .alias("is_target")))
    j = (
        lineitem.join(F.broadcast(pt),
                      F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", "l_suppkey", _rev_x10000().alias("rev"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders
              .where((F.col("o_orderdate") >= f"{YEAR_LO}-01-01")
                     & (F.col("o_orderdate") < f"{YEAR_HI + 1}-01-01"))
              .select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(rn), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(F.sum(F.when(F.col("is_target"), F.col("rev"))
                   .otherwise(F.lit(0))).cast("bigint")
             .alias("target_rev_x10000"),
             F.sum("rev").cast("bigint").alias("total_rev_x10000"))
        .withColumn("share_bps",
                    F.expr("(target_rev_x10000 * 10000)"
                           " div total_rev_x10000"))
    )


PROFIT_WORD = "widget"


def product_type_profit(lineitem: DataFrame, orders: DataFrame,
                        part: DataFrame, supplier: DataFrame,
                        nation: DataFrame) -> DataFrame:
    """TPC-H Q9 shape (product type profit): per (supplier nation,
    order year), profit from parts whose name ends in PROFIT_WORD —
    discounted revenue minus quantity-scaled cost. This corpus has no
    partsupp, so p_retailprice stands in for ps_supplycost; the
    name-LIKE dimension prune + nation/year profit rollup is the
    query's point.

    Scale shape: the name-pruned part (carrying its cost cents) and
    supplier→nation broadcast; orders joins on the fact's orderkey
    key. Profit is exact fixed point: cents×(100−disc) minus
    cost-cents×qty×100, summed as bigint (may be negative — retail
    overstates cost).
    """
    pw = (part.where(F.col("p_name").like(f"% {PROFIT_WORD}"))
          .select("p_partkey",
                  F.expr("cast(round(p_retailprice * 100, 0) as bigint)")
                  .alias("cost_cents")))
    supp = (supplier.join(F.broadcast(nation.select(
                "n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "n_name"))
    profit = (_rev_x10000()
              - F.col("cost_cents")
              * F.col("l_quantity").cast("bigint") * F.lit(100))
    j = (
        lineitem.join(F.broadcast(pw),
                      F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        j.groupBy(F.col("n_name").alias("supp_nation"),
                  F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(F.count("*").alias("n_lines"),
             F.sum(profit).cast("bigint").alias("profit_x10000"))
    )


RETURNS_Q_START, RETURNS_Q_END = "1997-07-01", "1997-10-01"
RETURNS_K = 20


def returned_item_reporting(lineitem: DataFrame, orders: DataFrame,
                            customer: DataFrame,
                            nation: DataFrame) -> DataFrame:
    """TPC-H Q10 shape (returned item reporting): the RETURNS_K
    customers who lost the most revenue to returns in one quarter.

    Scale shape: the returnflag and quarter predicates reach their
    scans; lineitem⋈orders shuffles on orderkey, the per-customer
    rollup keys the custkey shuffle that the customer probe then
    reuses; nation broadcasts. Top-k is TakeOrderedAndProject with
    custkey in the sort key (deterministic under revenue ties).
    """
    li = (lineitem.where(F.col("l_returnflag") == "R")
          .select("l_orderkey", _rev_x10000().alias("rev")))
    o = (orders.where((F.col("o_orderdate") >= RETURNS_Q_START)
                      & (F.col("o_orderdate") < RETURNS_Q_END))
         .select("o_orderkey", "o_custkey"))
    per_cust = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_return_lines"),
             F.sum("rev").cast("bigint").alias("lost_rev_x10000"))
    )
    return (
        per_cust.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name",
                F.expr("cast(round(cast(c_acctbal as decimal(18,4)), 2)"
                       " as double)").alias("acctbal"),
                F.col("n_name").alias("cust_nation"),
                "n_return_lines", "lost_rev_x10000")
        .orderBy(F.col("lost_rev_x10000").desc(), F.col("c_custkey"))
        .limit(RETURNS_K)
    )


SUPPLIER_CNT_SIZES = (9, 14, 19, 23, 36, 45, 49)
SUPPLIER_CNT_BRAND_EXCL, SUPPLIER_CNT_TYPE_EXCL = "Brand#5", "ECONOMY"
SUPPLIER_CNT_MIN_BAL = 1000.0


def supplier_relation_counts(lineitem: DataFrame, part: DataFrame,
                             supplier: DataFrame) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct
    suppliers able to ship each (brand, type, size) bucket, excluding
    one brand, one type, sizes outside the list, and a complaint set
    of suppliers (acctbal below SUPPLIER_CNT_MIN_BAL stands in for the comment
    match — this corpus has no comments).

    Scale shape: this corpus has no partsupp, so the part↔supplier
    relation is DISTINCT (l_partkey, l_suppkey) — the query's one
    fact-sized shuffle, key-pruned first by the broadcast part sliver.
    The complaint set broadcasts as a left-anti join; the final
    count-distinct re-shuffles only the deduped relation.
    """
    pr = part.where((F.col("p_brand") != SUPPLIER_CNT_BRAND_EXCL)
                    & (F.col("p_type") != SUPPLIER_CNT_TYPE_EXCL)
                    & F.col("p_size").isin(list(SUPPLIER_CNT_SIZES)))
    bad = supplier.where(
        F.col("s_acctbal") < SUPPLIER_CNT_MIN_BAL).select("s_suppkey")
    rel = (
        lineitem.select("l_partkey", "l_suppkey")
        .join(F.broadcast(pr), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"),
              "left_anti")
    )
    return (
        # rel is already distinct at (brand, type, size, suppkey) grain,
        # so a plain COUNT is the distinct-supplier count — no second
        # dedup pass.
        rel.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count("*").alias("supplier_cnt"))
    )


DOMINANT_PREFIX = "cold"


def dominant_part_suppliers(lineitem: DataFrame, part: DataFrame,
                            supplier: DataFrame,
                            nation: DataFrame) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers who, for
    some part named ``DOMINANT_PREFIX …``, shipped MORE than half that
    part's total YEAR_LO volume — Q20's correlated availability threshold
    (availqty > 0.5·sum) re-expressed over the shipped relation, with
    the supplier's nation reported instead of filtered (a 10-supplier
    fixture can leave any single nation empty).

    Scale shape: one (part, supplier)-keyed aggregate over the
    name-pruned fact is the only fact shuffle; the per-part total
    re-aggregates THAT result (tiny), joins back on partkey, and the
    half test is integer-exact (2·q > total). The surviving sliver
    broadcasts into the supplier probe (never the reverse — supplier
    is 10 rows here but ~1B at 100 TB); nation broadcasts.
    """
    pr = part.where(
        F.col("p_name").like(f"{DOMINANT_PREFIX} %")).select("p_partkey")
    ps = (
        lineitem
        .where((F.col("l_shipdate") >= f"{YEAR_LO}-01-01")
               & (F.col("l_shipdate") < f"{YEAR_LO + 1}-01-01"))
        .join(F.broadcast(pr), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("pair_qty"))
    )
    tot = (ps.groupBy(F.col("l_partkey").alias("t_partkey"))
           .agg(F.sum("pair_qty").alias("total_qty")))
    dom = (ps.join(tot, F.col("l_partkey") == F.col("t_partkey"))
           .where(F.lit(2) * F.col("pair_qty") > F.col("total_qty"))
           .groupBy("l_suppkey")
           .agg(F.count("*").alias("n_dominant_parts")))
    return (
        supplier.join(F.broadcast(dom),
                      F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name",
                F.col("n_name").alias("supp_nation"), "n_dominant_parts")
    )


# Mergeable per-source aggregate STATE: every field re-aggregates with
# itself (sum/sum, min/min, max/max, bit_or/bit_or), which is what
# makes incremental view maintenance possible at all. The lang bitmap
# is a 61-bucket hashed-domain distinct set — exact while the observed
# lang domain is collision-free in 61 buckets (the 5 fixture langs
# are), a lower bound otherwise, and engine-identical either way.
LANG_BUCKETS = 61
_LANG_BUCKET = ("(ascii(substring(lang, 1, 1)) * 7 "
                f"+ ascii(substring(lang, 2, 1))) % {LANG_BUCKETS}")


def _doc_agg_state(docs: DataFrame) -> DataFrame:
    return docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.bit_or(F.expr(f"shiftleft(cast(1 as bigint), {_LANG_BUCKET})"))
        .alias("lang_bitmap"))


DELTA_MOD, DELTA_FROM = 10, 8


def incremental_state_merge(documents: DataFrame) -> DataFrame:
    """Materialized-view maintenance contract: per-source aggregate
    state computed on the BASE corpus and on a DELTA batch separately,
    then merged state-with-state — the oracle recomputes the view from
    the full corpus in one pass, so hash parity IS the proof that
    merge(state(base), state(delta)) == state(base ∪ delta).

    The split is deterministic (doc_id % DELTA_MOD >= DELTA_FROM plays
    the newly-ingested batch), so both engines and every re-run see the
    same base/delta.

    Scale shape: this is the refresh that never re-scans the base — at
    100 TB the base state is a materialized <=n_sources-row table; a
    daily delta costs one delta-sized scan plus a state-sized merge.
    Every state field is chosen mergeable: additive counts/sums,
    idempotent min/max, and the distinct-lang set carried as a bit_or
    bitmap (a fixed-width mergeable sketch) rather than a
    COUNT(DISTINCT) that would need the raw rows back.
    """
    # coalesce: the split must be TOTAL — pmod(NULL) is NULL, which
    # both where() branches drop, so a NULL-doc_id row would silently
    # vanish from the merged view while the one-pass oracle counts it.
    # NULL rides with the base (bucket 0).
    bucket = F.coalesce(
        F.pmod(F.col("doc_id"), F.lit(DELTA_MOD)), F.lit(0))
    is_delta = bucket >= DELTA_FROM
    base_state = _doc_agg_state(documents.where(~is_delta))
    delta_state = _doc_agg_state(documents.where(is_delta))
    merged = (
        base_state.unionByName(delta_state)
        .groupBy("source")
        .agg(F.sum("n_docs").cast("bigint").alias("n_docs"),
             F.sum("sum_chars").cast("bigint").alias("sum_chars"),
             F.min("min_chars").cast("bigint").alias("min_chars"),
             F.max("max_chars").cast("bigint").alias("max_chars"),
             F.bit_or("lang_bitmap").alias("lang_bitmap"))
    )
    return merged.select(
        "source", "n_docs", "sum_chars", "min_chars", "max_chars",
        "lang_bitmap",
        F.bit_count("lang_bitmap").cast("int").alias("n_langs"))
