"""Gap-based sessionization of event streams.

The classic behavioral-analytics operator: consecutive events of the
same user belong to one session until a silence longer than ``gap``
splits them.  Pure window expressions (lag → boundary flag → running
sum), no state, no UDFs — the batch twin of the streaming session
windows in ``streaming.py``'s watermarked aggregations.

Cross-engine determinism: timestamps convert to INTEGER microseconds
(``unix_micros`` in Spark, ``epoch_us`` in DuckDB — the oracle twin in
``queries.py``), so boundary comparisons are exact integer arithmetic;
the window order carries an ``event_id`` tiebreak so equal timestamps
cannot reorder across engines or runs.

Scale: both windows partition by the user key — with millions of users
the rank shuffle is uniform and per-partition state is one lag value.
Known limitation shared by every sessionizer: a single pathological key
(a bot with 10^9 events) serializes through one partition; the standard
mitigation is pre-splitting such keys by coarse time bucket and merging
boundary sessions in a second pass, worth building only when bot-scale
keys are actually present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .packing import _running_sums

__all__ = [
    "sessionize",
    "session_stats",
    "funnel_steps",
    "funnel_counts",
    "concurrency_profile",
]


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """``df`` plus ``sess_idx`` (1-based per-user session number) and
    ``_us`` (event time in integer microseconds)."""
    if gap_minutes <= 0:
        raise ValueError(f"gap_minutes must be > 0, got {gap_minutes}")
    gap_us = int(gap_minutes * 60 * 1_000_000)
    # parquet timestamps load as TIMESTAMP_NTZ; the engine session pins
    # spark.sql.session.timeZone to UTC (session.py), so the cast is an
    # exact identity onto DuckDB's naive epoch_us
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(user_col).orderBy("_us", tiebreak_col)
    prev = F.lag("_us").over(w)
    new_sess = F.when(
        prev.isNull() | ((F.col("_us") - prev) > gap_us), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        df.withColumn("_us", us)
        .withColumn(
            "sess_idx",
            F.sum(new_sess).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )


def session_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
    value_col: str | None = None,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """One row per session: event count, start (µs), duration (µs), and
    (optionally) the value total in exact integer cents — float sums
    depend on addition order across engines/partitionings; fixed-point
    does not."""
    s = sessionize(df, user_col, ts_col, gap_minutes, tiebreak_col)
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.min("_us").alias("start_us"),
        (F.max("_us") - F.min("_us")).alias("duration_us"),
    ]
    if value_col is not None:
        aggs.append(
            F.sum(F.round(F.col(value_col) * 100).cast("long")).alias(
                "value_cents"
            )
        )
    return s.groupBy(user_col, "sess_idx").agg(*aggs)


def funnel_steps(
    df: DataFrame,
    steps: list,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel completion times: one row per user with
    ``step1_us .. stepN_us``, where ``step1_us`` is the user's earliest
    ``steps[0]`` event and ``stepK_us`` the earliest ``steps[K-1]``
    event STRICTLY after ``step(K-1)_us`` (ties on the exact
    microsecond do not advance the funnel — the documented contract;
    integer-µs comparisons make it bit-identical cross-engine).

    Plan shape: each step is an unbounded per-user window min over the
    SAME partitioning — Catalyst plans consecutive Window operators on
    one exchange of the narrow ``(user, µs, type)`` projection, so the
    whole funnel costs ONE user-keyed shuffle regardless of depth, never
    a self-join per step (a K-step funnel as K joins would be K
    exchanges of the full event table).  At 100 TB the single exchange
    is uniform in the user key; pathological bot keys serialize one
    partition, same mitigation note as :func:`sessionize`.
    """
    if len(steps) < 2:
        raise ValueError(f"funnel needs >= 2 steps, got {len(steps)}")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    out = df.select(
        F.col(user_col).alias("user_id"),
        us.alias("_us"),
        F.col(type_col).alias("_type"),
    )
    w = Window.partitionBy("user_id")
    prev = None
    for i, step in enumerate(steps, start=1):
        qual = F.col("_type") == F.lit(step)
        if prev is not None:
            qual = qual & F.col(prev).isNotNull() & (F.col("_us") > F.col(prev))
        col = f"step{i}_us"
        out = out.withColumn(col, F.min(F.when(qual, F.col("_us"))).over(w))
        prev = col
    return out.select(
        "user_id", *[f"step{i}_us" for i in range(1, len(steps) + 1)]
    ).distinct()


def funnel_counts(
    df: DataFrame,
    steps: list,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Funnel rollup: ``(step, step_type, users_reached)`` — the number
    of users whose ordered funnel reached each step."""
    per_user = funnel_steps(df, steps, user_col, ts_col, type_col)
    counts = per_user.agg(
        *[
            F.count(F.col(f"step{i}_us")).alias(f"_c{i}")
            for i in range(1, len(steps) + 1)
        ]
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("step"),
                F.lit(s).alias("step_type"),
                F.col(f"_c{i}").cast("long").alias("users_reached"),
            )
            for i, s in enumerate(steps, start=1)
        ]
    )
    return counts.select(F.explode(pairs).alias("_f")).select("_f.*")


def concurrency_profile(
    df: DataFrame,
    start_col: str,
    end_col: str,
    bucket_us: int = 3_600_000_000,
    scan_bucket_us: int = 86_400_000_000,
) -> DataFrame:
    """Sweep-line concurrency over closed intervals ``[start, end]``
    (integer µs): per report bucket (hour by default), the PEAK number
    of simultaneously-open intervals and the level still open as the
    bucket's last boundary instant passes — the "peak concurrent
    sessions per hour" readout.

    Semantics: concurrency changes only at interval boundaries, so the
    sweep collapses deltas PER DISTINCT INSTANT first (n_start, n_end
    at each µs) — closed intervals mean starts at an instant count
    before ends, and the per-instant collapse makes tie order a
    non-question cross-engine.  Buckets with no boundary are not
    emitted (the level there is the previous bucket's ``level_after``).

    Scale (100 TB): the level is the two-level running sum of
    ``packing._running_sums`` over coarse (day-sized) scan buckets —
    never one ``Window.orderBy(ts)`` over every boundary.  Malformed
    intervals (end < start) raise IN PLAN rather than silently skewing
    the level.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (capacity/behavioral analytics).
    """
    for c in (start_col, end_col):
        if c not in df.columns:
            raise ValueError(f"concurrency_profile: unknown column {c!r}")
    iv = df.where(
        F.col(start_col).isNotNull() & F.col(end_col).isNotNull()
    ).select(
        F.col(start_col).alias("_s"),
        F.when(
            F.col(end_col) < F.col(start_col),
            F.raise_error("concurrency_profile: end < start"),
        ).otherwise(F.col(end_col)).alias("_e"),
    )
    deltas = (
        iv.select(F.col("_s").alias("_t"), F.lit(1).alias("_d"))
        .unionAll(iv.select(F.col("_e").alias("_t"), F.lit(-1).alias("_d")))
        .groupBy("_t")
        .agg(
            F.sum(F.when(F.col("_d") == 1, 1).otherwise(0)).alias("_ns"),
            F.sum(F.when(F.col("_d") == -1, 1).otherwise(0)).alias("_ne"),
        )
        .withColumn("_net", F.col("_ns") - F.col("_ne"))
    )
    swept = _running_sums(
        deltas,
        ["_t"],
        [F.expr(f"_t div {int(scan_bucket_us)}")],
        {"_level": F.col("_net")},
    ).select(
        F.expr(f"_t div {int(bucket_us)}").alias("bucket"),
        (F.col("_level") - F.col("_net") + F.col("_ns")).alias("_peak_at"),
        "_level",
        "_t",
    )
    return swept.groupBy("bucket").agg(
        F.max("_peak_at").cast("long").alias("peak_concurrency"),
        F.max_by("_level", "_t").cast("long").alias("level_after"),
        F.count(F.lit(1)).cast("long").alias("n_boundary_instants"),
    )
