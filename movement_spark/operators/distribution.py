"""Discrete-distribution number line: build, sample, increase-likelihood.

Re-expresses the reference's synthetic-data math utility
(core/.../util/core/math/Distribution.java:59-107 — ``from(samples)``
builds a number line whose stretch per value is proportional to its
observed count; ``sample()`` draws a uniform position and returns the
value owning that stretch; ``likelihoodToIncreaseCount`` is the fraction
of the line strictly right of a value's stretch — plus
ProbUtil.java:11-17's ``coinFlip``).

Two deliberate deviations, both required for a distributed, testable
analog:

1. DETERMINISTIC ORDER — the reference iterates a ``HashMap`` (arbitrary
   stretch order) and the result distribution is order-independent only
   in aggregate. Here the number line is laid out in ascending VALUE
   order, making every (range_start, range_end) reproducible across
   engines and runs.
2. DETERMINISTIC DRAWS — ``Math.random()`` becomes the engine's
   hash-parity arithmetic (a*x + b mod p, the only randomness primitive
   the oracle contract allows — see queries.py module docstring): draw i
   lands at position ((A*i + B) mod P) mod L. Spark, DuckDB, and numpy
   all compute the identical sample, so the SAMPLER ITSELF is
   oracle-checkable, not just its moments.

Scale shape: the histogram input is already collapsed (one row per
DISTINCT value — the upstream groupBy reduced the corpus), so the
cumulative-sum window below runs over a value-domain-sized frame, not
the data; draws come from ``spark.range`` (distributed, no driver
materialization) and resolve value ownership through a broadcast range
join against the tiny line frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

# Hash-parity draw constants (same LCG family as sketches.KMV_*: the
# multiplier wraps P many times across consecutive draw indices).
SAMPLE_A = 1_103_515_245
SAMPLE_B = 12_345
SAMPLE_P = (1 << 31) - 1
# coin_flip's key offset: independent flips on one key would each need
# their own salt so they don't correlate; the registry has one flip.
COIN_SALT = 0


def build_distribution(hist: DataFrame) -> DataFrame:
    """Number-line layout from a (value, cnt) histogram.

    Returns one row per value: (value, cnt, range_start, range_end),
    1-based inclusive, ranges laid out in ascending value order —
    Distribution.from(samples)'s startEndRanges/startIdToValue maps as
    columns. The unpartitioned cumulative window is bounded by the
    count of DISTINCT values (the frame is a histogram), never by the
    corpus size.
    """
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (
        hist.select(F.col("value").cast("bigint").alias("value"),
                    F.col("cnt").cast("bigint").alias("cnt"))
        .withColumn("range_end", F.sum("cnt").over(w))
        .withColumn("range_start",
                    (F.col("range_end") - F.col("cnt") + 1))
    )


def with_line_length(dist: DataFrame) -> DataFrame:
    """Attach the total line length L (max range_end) to every row —
    one 1-row broadcast cross join, no driver collect."""
    total = dist.agg(F.max("range_end").alias("line_len"))
    return dist.crossJoin(F.broadcast(total))


def likelihood_to_increase_bps(dist: DataFrame) -> DataFrame:
    """Distribution.likelihoodToIncreaseCount for every value at once,
    in exact integer BASIS POINTS ((L - range_end) * 10000 div L) —
    the fraction of the number line strictly right of the value's
    stretch. Integer `div` keeps the checked value float-free (oracle
    hash-parity rule): a double round-trip would agree only while the
    product stays under 2^53."""
    return with_line_length(dist).select(
        "value", "cnt", "range_start", "range_end",
        F.expr("(line_len - range_end) * 10000L div line_len")
        .cast("bigint").alias("increase_likelihood_bps"))


def sample_distribution(spark: SparkSession, dist: DataFrame,
                        n_draws: int) -> DataFrame:
    """n deterministic draws from the distribution: draw i lands at
    1-based position ((A*i + B) mod P) mod L + 1 (SAMPLE_A/B/P); the
    emitted value is
    the one whose [range_start, range_end] stretch owns the position
    (Distribution.sample + findRangeStartIdFromNumberLinePosition).

    Returns (draw, pos, value). Draws are a distributed ``spark.range``;
    ownership resolves via a broadcast range join against the
    histogram-sized line frame — no per-row Python, no driver state.
    """
    line = F.broadcast(with_line_length(dist))
    draws = (
        spark.range(n_draws).toDF("draw")
        .crossJoin(F.broadcast(dist.agg(F.max("range_end").alias("ll"))))
        .select("draw",
                (((F.lit(SAMPLE_A) * F.col("draw") + F.lit(SAMPLE_B))
                  % F.lit(SAMPLE_P))
                 % F.col("ll") + 1).alias("pos"))
    )
    return (
        draws.join(line, (draws.pos >= line.range_start)
                   & (draws.pos <= line.range_end))
        .select("draw", "pos", "value")
    )


def coin_flip(col, weight_bps: int):
    """ProbUtil.coinFlip as a deterministic column predicate: true for
    the ``weight_bps``/10000 fraction of keys, decided by the same
    a*x+b mod p arithmetic (offset by COIN_SALT)."""
    c = F.col(col) if isinstance(col, str) else col
    return ((F.lit(SAMPLE_A) * (c + F.lit(COIN_SALT)) + F.lit(SAMPLE_B))
            % F.lit(SAMPLE_P)) % 10000 < F.lit(weight_bps)
