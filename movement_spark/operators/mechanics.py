"""Stream mechanics: the reference's zip algebra, keyed Spark-first.

The reference's only join-like primitives are positional zips of pull
streams (SURVEY.md §2.4): zipMatched (inner), zipUneven (outer),
PinionSystem (two cyclic gears, smaller restarts), SlipWheel (1→k),
GearBox (flatMap of pinions). Positional iteration is inherently
sequential; the Spark-first re-expression assigns explicit positions
(row_number over a defined order — or better, a natural ordinal carried
by the data) and joins on position, which distributes.

Golden semantics preserved (PinionSystemTest.java:78-145):
  equal gears zip positionally; unequal gears RESTART the smaller one
  (position modulo the smaller size); partial rotations allowed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def with_pos(df: DataFrame, order_col: str) -> DataFrame:
    """Assign 0-based positions (column ``pos``) by an explicit order
    (the distributed stand-in for pull-stream arrival order — which the
    reference never guarantees across threads either; its tests fix
    order by using a single gear thread)."""
    w = Window.orderBy(order_col)
    return df.withColumn("pos", F.row_number().over(w) - 1)


def zip_matched(a: DataFrame, b: DataFrame, order_a: str, order_b: str) -> DataFrame:
    """Inner positional zip (SequenceUtil.zipMatched:41-45)."""
    pa = with_pos(a, order_a)
    pb = with_pos(b, order_b).withColumnRenamed("pos", "pos_b")
    return pa.join(pb, pa.pos == pb.pos_b, "inner").drop("pos_b")


def zip_uneven(a: DataFrame, b: DataFrame, order_a: str, order_b: str) -> DataFrame:
    """Outer positional zip — both sides run to exhaustion, absent
    positions are NULL (SequenceUtil.zipUneven:34-39)."""
    pa = with_pos(a, order_a)
    pb = with_pos(b, order_b).withColumnRenamed("pos", "pos_b")
    return pa.join(pb, pa.pos == pb.pos_b, "full").withColumn(
        "pos", F.coalesce("pos", "pos_b")).drop("pos_b")


def pinion_zip(a: DataFrame, b: DataFrame, order_a: str, order_b: str,
               rotations: int = 1) -> DataFrame:
    """PinionSystem: gear A runs ``rotations`` full turns; gear B
    restarts whenever it is exhausted (PinionSystem.java:104-113).

    Implemented as: repeat A per rotation (explode over rotation ids),
    then join B on (global A position) % |B| — the modular restart is
    algebra, not iteration, so it distributes with no cyclic state.
    """
    size_b = b.count()
    pa = with_pos(a, order_a)
    pa = (
        pa.withColumn("rot", F.explode(F.expr(f"sequence(0, {rotations - 1})")))
        .withColumn("gpos", F.col("rot") * F.lit(a.count()) + F.col("pos"))
    )
    pb = with_pos(b, order_b).withColumnRenamed("pos", "pos_b")
    return (
        pa.withColumn("pos_mod", F.col("gpos") % size_b)
        .join(pb, F.col("pos_mod") == pb.pos_b, "inner")
        .drop("pos_b", "pos_mod")
    )


def slip_wheel(a: DataFrame, b: DataFrame, order_a: str, order_b: str,
               notches: int) -> DataFrame:
    """SlipWheel: one A element meets ``notches`` consecutive B elements
    (SlipWheel.java:35-44) — a 1→k positional band join."""
    pa = with_pos(a, order_a)
    pb = with_pos(b, order_b).withColumnRenamed("pos", "pos_b")
    cond = (pb.pos_b >= pa.pos * notches) & (pb.pos_b < (pa.pos + 1) * notches)
    return pa.join(pb, cond, "inner")


class CyclicReplay:
    """CyclicStream as a first-class operator (CyclicStream.java:15:
    endlessly repeat a finite stream until an external halt; restart
    increments ``startCounter``, and ``completedRotations`` = starts - 1,
    CyclicStream.java:28,46-58).

    The pull-stream iteration becomes algebra over a global tick: tick i
    of the endless repetition maps to (rot = i // size, pos = i % size),
    so ``take(n)`` distributes over ``spark.range(n)`` with a broadcast
    join against the positioned finite stream — no cyclic state, any
    parallelism. The odometers (PinionSystem.java:46-47 count per-element
    consumption the same way) are pure functions of consumed-count and
    size, observable without executing the stream.
    """

    def __init__(self, df: DataFrame, order_col: str):
        self.df = df
        self.order_col = order_col
        # the wheel is dim-sized by construction (the reference replays an
        # in-memory stream); its size is a driver scalar like any dim count
        self.size = df.count()
        if self.size == 0:
            # contract error now, instead of div-0 in starts() or silent
            # null-rot rows out of take()
            raise ValueError("CyclicReplay needs a non-empty wheel: an "
                             "endless repetition of nothing is undefined")

    def take(self, n: int) -> DataFrame:
        """First ``n`` elements of the endless repetition, with rotation
        (``rot``) and in-rotation position (``pos``) columns."""
        ticks = self.df.sparkSession.range(n).select(
            F.col("id").alias("tick"),
            F.expr(f"cast(id div {self.size} as int)").alias("rot"),
            F.pmod(F.col("id"), F.lit(self.size)).cast("int").alias("pos"))
        wheel = with_pos(self.df, self.order_col)
        return ticks.join(F.broadcast(wheel), "pos", "inner")

    def starts(self, consumed: int) -> int:
        """startCounter after ``consumed`` elements were pulled."""
        return 0 if consumed <= 0 else (consumed + self.size - 1) // self.size

    def completed_rotations(self, consumed: int) -> int:
        """CyclicStream.completedRotations (= startCounter - 1;
        CyclicStreamTest.java:22-50: 5 pulls of a 3-stream → 1,
        2 pulls → 0)."""
        return max(0, self.starts(consumed) - 1)


def pinion_odometers(size_a: int, size_b: int, rotations: int = 1) -> dict:
    """PinionSystem's observable counters (PinionSystem.java:46-47,
    incremented once per element consumed per gear): for gear A running
    ``rotations`` full turns through the 1-notch slip wheel, both gears
    consume exactly size_a × rotations elements; B's rotation odometer
    follows the CyclicStream law over that consumption."""
    consumed = size_a * rotations
    b_starts = 0 if consumed <= 0 else (consumed + size_b - 1) // size_b
    return {
        "odometer_a": consumed,
        "odometer_b": consumed,
        "a_completed_rotations": max(0, rotations - 1),
        "b_completed_rotations": max(0, b_starts - 1),
    }


def gear_box(pinions: list[DataFrame]) -> DataFrame:
    """GearBox: flatMap N pinion outputs onto one stream
    (GearBox.java:49-56) — unionByName, done when all complete."""
    out = pinions[0]
    for p in pinions[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out
