"""Seeded, partition-independent input generators for the benchmark.

Every random draw is ``xxhash64(seed, salt, key...)``: a pure function of
the seed and the row's key, never of partitioning, task order or a global
RNG state. The same seed therefore gives the same rows at any
parallelism. Generators return lazy DataFrames; the caller stores them as
parquet so the engine only ever sees a stored table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: 2024-01-01T00:00:00Z — day 0 of every generated calendar
T0 = 1704067200
DAY = 86400

_TOOLS = ["search", "code", "browse", "none"]
_WORDS = "plan step tool result check run query data merge scan sort".split()


def _h(seed: int, salt: int, *keys) -> Column:
    return F.xxhash64(F.lit(seed).cast("long"), F.lit(salt), *keys)


def _draw(seed: int, salt: int, n: int, *keys) -> Column:
    """Uniform integer in [0, n) keyed by (seed, salt, keys)."""
    return F.pmod(_h(seed, salt, *keys), F.lit(n))


def _turns(convs: DataFrame, seed: int) -> DataFrame:
    """(conv_id, _cid, _start, n_turns) -> one row per turn with a
    cumulative keyed inter-turn gap of 1..120 s."""
    turns = convs.select(
        "conv_id", "_cid", "_start",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    gap = (_draw(seed, 3, 120, "_cid", "turn_idx") + 1).cast("long")
    w = (
        Window.partitionBy("_cid")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return turns.withColumn("_gap", gap).withColumn(
        "ts", F.timestamp_seconds(F.col("_start") + F.sum("_gap").over(w))
    )


def transcripts(
    spark: SparkSession,
    seed: int,
    n_convs: int,
    mean_turns: int,
    skew_turns: int,
) -> DataFrame:
    """Transcript table (conv_id, turn_idx, role, text, tool, ts).

    Conversation lengths are uniform in [mean/2, 3*mean/2); one extra
    conversation ``c_skew`` has ``skew_turns`` turns, so the derive shuffle
    on conv_id has one heavy key.
    """
    convs = spark.range(n_convs).select(
        F.concat(F.lit("c"), F.lpad(F.col("id").cast("string"), 9, "0"))
        .alias("conv_id"),
        F.col("id").alias("_cid"),
        (F.lit(T0) + _draw(seed, 5, 7 * DAY, "id")).alias("_start"),
        (F.lit(mean_turns // 2) + _draw(seed, 1, mean_turns, "id"))
        .cast("int").alias("n_turns"),
    )
    skew = spark.range(1).select(
        F.lit("c_skew").alias("conv_id"),
        F.lit(-1).cast("long").alias("_cid"),
        F.lit(T0).cast("long").alias("_start"),
        F.lit(skew_turns).cast("int").alias("n_turns"),
    )
    t = _turns(convs.unionByName(skew), seed)
    is_tool = _draw(seed, 2, 11, "_cid", "turn_idx") == 0
    role = (
        F.when(is_tool, F.lit("tool"))
        .when(F.col("turn_idx") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
    )
    words = F.array(*[F.lit(w) for w in _WORDS])
    tools = F.array(*[F.lit(x) for x in _TOOLS])
    text = F.concat_ws(
        " ",
        *[F.element_at(
            words, (_draw(seed, 10 + i, len(_WORDS), "_cid", "turn_idx") + 1)
            .cast("int"))
          for i in range(3)],
    )
    tool = F.when(
        is_tool,
        F.element_at(
            tools, (_draw(seed, 4, len(_TOOLS), "_cid", "turn_idx") + 1)
            .cast("int")),
    ).otherwise(F.lit(""))
    return t.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        "ts",
    )


def agent_turns(
    spark: SparkSession,
    seed: int,
    n_convs: int,
    mean_turns: int,
    first_day: int,
    n_days: int,
    id_offset: int = 0,
) -> DataFrame:
    """Agent telemetry (conv_id, turn_idx, ts, value): long conversations
    whose starts are spread over ``n_days`` days from ``first_day``.

    A conversation starts in the first 18 h of its day and lasts at most
    (3/2 * mean_turns) * 120 s, which stays under 6 h for mean_turns <= 96,
    so every conversation lies inside one UTC day. An appended day
    therefore only adds new day partitions, never touches a stored one.
    ``value`` is a per-turn tool latency in seconds with millisecond
    resolution.
    """
    convs = spark.range(id_offset, id_offset + n_convs).select(
        F.concat(F.lit("a"), F.lpad(F.col("id").cast("string"), 9, "0"))
        .alias("conv_id"),
        F.col("id").alias("_cid"),
        (
            F.lit(T0 + first_day * DAY)
            + _draw(seed, 6, n_days, "id") * DAY
            + _draw(seed, 7, 18 * 3600, "id")
        ).alias("_start"),
        (F.lit(mean_turns // 2) + _draw(seed, 8, mean_turns, "id"))
        .cast("int").alias("n_turns"),
    )
    value = (
        (_draw(seed, 9, 20000, "_cid", "turn_idx") + 50).cast("double") / 1000.0
    )
    return _turns(convs, seed).select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "ts",
        value.alias("value"),
    )

