"""Deterministic synthetic transcript generator (FIXTURES.md §1).

Produces the engine's primary input shape
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` entirely inside Spark — ``spark.range`` + closed-form
column expressions, so generation itself distributes across executors
(no driver-side loops, no ``rand()``: all pseudo-randomness is
``xxhash64``-derived and therefore stable under any partitioning).

Conversation lengths are Zipf-skewed (a few hot conversations get
``hot_mult``× the base turn count) to exercise the hot-key paths
(``plans.partitioning``).  Timestamp gaps are irregular (5 s … ~35 min,
with occasional multi-hour gaps) so 1-minute buckets have genuine holes
for the gap-fill operator (LOCF + linear interp, ``limit=1`` — cf.
reference ``modules/preprocessing.py:185-208``).

Scale note: at 10^12 turns one would generate per ``(conv_bucket,
ts_bucket)`` range in parallel writers; the closed-form column recipe here
is already shuffle-free except the single cumulative-sum window that makes
``ts`` non-decreasing within a conversation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["search", "python", "browser", "calculator", "editor"]
_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango"
).split()


def generate_transcripts(
    spark: SparkSession,
    n_convs: int = 50,
    base_turns: int = 40,
    hot_convs: int = 2,
    hot_mult: int = 50,
    start_ts: str = "2024-01-01 00:00:00",
    seed: int = 42,
    gap_max_s: int = 2100,
    long_gaps: bool = True,
) -> DataFrame:
    """Seeded transcript table; same args → bit-identical rows.
    ``gap_max_s``/``long_gaps`` control inter-turn gap spread (long_gaps
    plants multi-hour holes to exercise gap-fill limit semantics)."""
    convs = (
        spark.range(n_convs)
        .withColumn("conv_id", F.format_string("conv_%05d", F.col("id")))
        # Zipf-ish skew: first `hot_convs` conversations are hot.
        .withColumn(
            "n_turns",
            F.when(F.col("id") < hot_convs, F.lit(base_turns * hot_mult)).otherwise(
                # deterministic spread base_turns/2 .. base_turns*2
                (F.lit(base_turns) / 2
                 + F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(base_turns) * 3 / 2)
                 ).cast("int")
            ),
        )
    )
    turns = convs.select(
        "conv_id",
        "id",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    h = F.xxhash64("conv_id", "turn_idx", F.lit(seed))
    # irregular gap seconds in [5, gap_max_s); with long_gaps, every ~29th
    # turn adds a 2-7 h gap (guaranteed missing 1m buckets).
    gap_s = F.pmod(h, F.lit(max(gap_max_s - 5, 1))) + 5
    if long_gaps:
        gap_s = F.when(
            F.pmod(h, F.lit(29)) == 0, gap_s + 7200 + F.pmod(h, F.lit(18000))
        ).otherwise(gap_s)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    role = F.element_at(
        F.array(*[F.lit(r) for r in ROLES]),
        # mostly alternate user/assistant, ~1/6 tool, ~1/12 system
        F.when(F.pmod(h, F.lit(12)) == 0, F.lit(3))
        .when(F.pmod(h, F.lit(6)) == 0, F.lit(4))
        .otherwise(F.pmod(F.col("turn_idx"), F.lit(2)) + 1)
        .cast("int"),
    )
    text = F.concat_ws(
        " ",
        *[
            F.element_at(
                F.array(*[F.lit(wd) for wd in _WORDS]),
                (F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed + i)), F.lit(len(_WORDS))) + 1).cast("int"),
            )
            for i in range(8)
        ],
    )
    return (
        turns.withColumn("gap_s", gap_s)
        .withColumn("off_s", F.sum("gap_s").over(w))
        .select(
            "conv_id",
            F.col("turn_idx").cast("int").alias("turn_idx"),
            role.alias("role"),
            text.alias("text"),
            F.when(role == "tool",
                   F.element_at(F.array(*[F.lit(t) for t in TOOLS]),
                                (F.pmod(h, F.lit(len(TOOLS))) + 1).cast("int"))
                   ).alias("tool"),
            (F.lit(start_ts).cast("timestamp") + F.make_interval(secs=F.col("off_s").cast("double"))).alias("ts"),
        )
    )


def events_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver's ``events`` table to the transcript shape
    (TESTDATA.md / FIXTURES.md §6): ``user_id``→conv key, ``event_type``→
    role, ``value``→per-turn latency surrogate, ``props``→text."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.concat(F.lit("conv_"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.when(F.col("event_type") == "click", F.lit("browser")).alias("tool"),
        "ts",
        F.col("value").alias("latency"),
    )
