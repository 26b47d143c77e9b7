"""Frozen-model incremental scoring (the reference ``stream()`` contract).

The reference scores one point at a time against a frozen fit
(loop.py:993-1046): brute-force kNN to the fitted points, then
ssd -> sigma -> pdist, PLOF against the fit's MEAN expected pdist, LoOP
against the fit's MAX nPLOF; the model is never updated between refits
(docs/user-guide.md:173-176).

The engine keeps those semantics but vectorizes per micro-batch:

* :class:`ModelSnapshot` — the frozen state (fitted points + two scalars
  + k/extent), saved/loaded as parquet + JSON; small enough to broadcast.
* :func:`score_batch` — ``mapInPandas`` scorer: whole Arrow batches
  against the broadcast snapshot (kernel.score_new_points).
* :func:`score_stream` — the same scorer attached to a Structured
  Streaming source; no watermark or state store needed because the model
  is frozen — late rows simply score against the current snapshot, and
  "refit periodically" = swap the snapshot path between micro-batches.

Accuracy contracts carried over from the reference suite: stream-vs-batch
RMSE < 0.35 (tests/test_loop.py:741).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import kernel

__all__ = [
    "ModelSnapshot",
    "fit_snapshot",
    "score_batch",
    "score_stream",
    "running_violation_rate",
    "streaming_exact_dedup",
    "streaming_psi_drift",
    "streaming_lm_scores",
    "streaming_sessions",
    "streaming_interval_join",
    "streaming_latest_state",
    "streaming_cms",
    "streaming_ols_moments",
    "streaming_hll",
    "streaming_qhist",
    "streaming_bitmap",
    "streaming_w1_drift",
]


@dataclass
class ModelSnapshot:
    points: np.ndarray  # fitted feature matrix (n, d)
    n_neighbors: int
    extent: int
    mean_prob_distance_ev: float
    nplof_max: float

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        np.save(os.path.join(path, "points.npy"), self.points)
        with open(os.path.join(path, "model.json"), "w") as fh:
            json.dump(
                {
                    "n_neighbors": self.n_neighbors,
                    "extent": self.extent,
                    "mean_prob_distance_ev": self.mean_prob_distance_ev,
                    "nplof_max": self.nplof_max,
                },
                fh,
            )

    @staticmethod
    def load(path: str) -> "ModelSnapshot":
        pts = np.load(os.path.join(path, "points.npy"))
        with open(os.path.join(path, "model.json")) as fh:
            meta = json.load(fh)
        return ModelSnapshot(points=pts, **meta)


def fit_snapshot(
    points: np.ndarray, n_neighbors: int = 10, extent: int = 3
) -> ModelSnapshot:
    """Batch-fit the model state the scorer needs (single group)."""
    res = kernel.loop_scores(points, n_neighbors=n_neighbors, extent=extent)
    return ModelSnapshot(
        points=np.asarray(points, dtype=np.float64),
        n_neighbors=n_neighbors,
        extent=extent,
        mean_prob_distance_ev=res.mean_prob_distance_ev,
        nplof_max=res.nplof_max,
    )


_SCORE_SCHEMA = StructType(
    [
        StructField("row_id", LongType(), False),
        StructField("loop_score", DoubleType(), True),
    ]
)


def _scorer(snapshot_bc, id_col: str, features_col: str):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        snap: ModelSnapshot = snapshot_bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pts = np.stack(pdf[features_col].to_numpy())
            scores = kernel.score_new_points(
                pts,
                snap.points,
                n_neighbors=snap.n_neighbors,
                extent=snap.extent,
                mean_prob_distance_ev=snap.mean_prob_distance_ev,
                nplof_max=snap.nplof_max,
            )
            yield pd.DataFrame(
                {"row_id": pdf[id_col].to_numpy(), "loop_score": scores}
            )

    return fn


def score_batch(
    df: DataFrame,
    snapshot: ModelSnapshot,
    id_col: str = "row_id",
    features_col: str = "features",
) -> DataFrame:
    """Score a (static or streaming) DataFrame against a frozen snapshot.

    Whole-batch Arrow transfer; the snapshot is broadcast once per
    executor, not per row.
    """
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(snapshot)
    slim = df.select(F.col(id_col).alias(id_col), F.col(features_col))
    return slim.mapInPandas(_scorer(bc, id_col, features_col), _SCORE_SCHEMA)


def _windows(
    df: DataFrame, ts_col: str, window_duration: str, watermark: str, *keys
):
    """``df`` grouped by its watermarked tumbling window ``w`` and ``keys``."""
    # watermarks require TIMESTAMP (tz-aware); parquet often carries NTZ
    return (
        df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"), *keys)
    )


def windowed_event_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream.

    The reference has no late-data story (SURVEY.md §2.7); the engine's
    general streaming surface handles it the Spark way: a watermark
    bounds state, late rows beyond it are dropped, rows within it update
    their window.  Returns an aggregating streaming DataFrame suitable
    for ``outputMode("update"|"append")``.
    """
    return (
        _windows(stream_df, ts_col, window_duration, watermark, key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.avg("value").alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
            "avg_value",
        )
    )


_RATE_SCHEMA = StructType(
    [
        StructField("partition_id", StringType(), False),
        StructField("rows_in_batch", LongType(), False),
        StructField("rows_total", LongType(), False),
        StructField("violations_total", LongType(), False),
        StructField("violation_rate", DoubleType(), False),
    ]
)

_RATE_STATE_SCHEMA = StructType(
    [
        StructField("rows", LongType(), False),
        StructField("violations", LongType(), False),
    ]
)


def running_violation_rate(
    scored_stream: DataFrame,
    score_threshold: float = 0.95,
    partition_col: str = "partition_id",
    score_col: str = "loop_score",
) -> DataFrame:
    """Custom STATEFUL operator: cumulative per-partition violation rate.

    The reference has no cross-batch state at all (its ``stream()`` is
    stateless against a frozen fit); a production drift monitor needs
    "how is this partition trending across micro-batches", which is
    exactly Structured Streaming's arbitrary-state surface:
    ``applyInPandasWithState`` keeps ``(rows, violations)`` per
    partition in the state store (fault-tolerant via the stream
    checkpoint — restarts resume the counts), and each micro-batch
    emits the updated cumulative rate per touched partition.

    Input: a scored stream ``(partition_col, score_col, ...)``.
    Output (update mode): one row per touched partition per batch.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    thr = float(score_threshold)

    def update(key, pdfs: Iterator[pd.DataFrame], state):
        rows = 0
        viol = 0
        for pdf in pdfs:
            rows += len(pdf)
            scores = pdf[score_col].astype(float)
            viol += int((scores > thr).sum())
        prev_rows, prev_viol = state.get if state.exists else (0, 0)
        total_rows = prev_rows + rows
        total_viol = prev_viol + viol
        state.update((total_rows, total_viol))
        yield pd.DataFrame(
            {
                "partition_id": [str(key[0])],
                "rows_in_batch": [rows],
                "rows_total": [total_rows],
                "violations_total": [total_viol],
                "violation_rate": [total_viol / max(total_rows, 1)],
            }
        )

    return (
        scored_stream.groupBy(partition_col)
        .applyInPandasWithState(
            update,
            outputStructType=_RATE_SCHEMA,
            stateStructType=_RATE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_exact_dedup(
    stream_df: DataFrame,
    text_col: str = "content",
    id_col: str = "row_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose content digest was already
    seen within the watermark horizon.

    The streaming analog of :func:`pynomaly_spark.dedup.exact_dedup`:
    ``dropDuplicatesWithinWatermark`` keeps per-digest state ONLY while
    the watermark can still admit a duplicate, so state stays bounded on
    an unbounded stream — the documented trade is that a duplicate
    arriving later than the horizon is not caught (re-run the batch
    dedup over the landed table for exactness).  Null texts never
    collapse: their dedup key falls back to the row id, mirroring the
    batch operator's keep-all-nulls rule.
    """
    src = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    key = F.coalesce(
        F.sha2(F.col(text_col), 256),
        F.concat(F.lit("null:"), F.col(id_col).cast("string")),
    )
    return (
        src.withColumn("_digest", key)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_digest"])
        .drop("_digest")
    )


def streaming_psi_drift(
    stream_df: DataFrame,
    baseline_counts: list,
    value_col: str = "value",
    ts_col: str = "ts",
    key_col: str | None = None,
    n_bins: int = 16,
    bin_width: float = 40.0,
    eps: float = 0.5,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window PSI of the live stream against a FROZEN baseline
    histogram — the unbounded twin of :func:`pynomaly_spark.psi.
    histogram_psi`, deployed the way drift monitors actually run: the
    baseline is pinned at fit time (:func:`pynomaly_spark.psi.
    baseline_histogram` on the training corpus), and each closed event
    window is scored against it (same smoothing, same fold).  Mirrors
    the reference's fit-then-stream contract (loop.py ``stream()``
    scores against frozen fit state; SURVEY.md §3.3).

    State is one ``n_bins``-counter histogram per open (window, key) —
    bounded by the watermark, independent of stream length.  The PSI
    fold runs on the aggregate's output row: all JVM expressions, the
    baseline counts folded in as literals (no join, no broadcast —
    they travel inside the plan).  NULL and NaN values are dropped
    before binning, as in the batch operators, so a window scored
    against a baseline of its own rows reads psi 0.

    Returns ``(window_start, window_end[, key_col], n_rows, psi)``;
    works identically on a batch frame (window agg in batch mode) —
    the batch-parity test relies on that.
    """
    from .psi import _bin_counts, _binned, _psi, _total

    if len(baseline_counts) != n_bins:
        raise ValueError(
            f"baseline_counts has {len(baseline_counts)} bins, expected {n_bins}"
        )
    if eps <= 0:
        raise ValueError("eps must be > 0")
    keys = [key_col] if key_col else []
    agg = _windows(
        _binned(stream_df, value_col, n_bins, bin_width),
        ts_col, window_duration, watermark, *keys,
    ).agg(_bin_counts(n_bins).alias("_p"))
    q = F.array(*[F.lit(float(g)) for g in baseline_counts])
    n = _total(F.col("_p"))
    total = F.lit(float(sum(baseline_counts)))
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *keys,
        n.cast("long").alias("n_rows"),
        _psi(F.col("_p"), n, q, total, eps, n_bins).alias("psi"),
    )


def streaming_sessions(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    value_col: str = "value",
) -> DataFrame:
    """Streaming gap sessionization via Spark's native ``session_window``
    — the unbounded-stream twin of :func:`pynomaly_spark.sessions.
    session_stats`.  The state store merges events into open sessions
    and the watermark closes (and emits) a session once no event can
    extend it, so state is bounded by the number of OPEN sessions, not
    by history.

    Boundary semantics differ from the batch operator at measure-zero:
    ``session_window`` ends a session at ``last_event + gap`` exclusive
    (an event exactly ``gap`` later starts a new session), while the
    batch lag sessionizer splits only when the silence STRICTLY exceeds
    the gap.  Continuous timestamps never hit the boundary; the batch
    operator remains the exactness oracle over landed data.
    """
    src = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        src.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), key_col
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col(value_col) * 100).cast("long")).alias(
                "value_cents"
            ),
        )
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_cents",
        )
    )


def streaming_interval_join(
    stream_df: DataFrame,
    intervals: DataFrame,
    on,
    ts_col: str = "ts",
    **kwargs,
) -> DataFrame:
    """STREAM-STATIC interval attribution — live events tagged with the
    campaign/deploy/maintenance windows containing them, the streaming
    twin of :func:`pynomaly_spark.asof.interval_join` (same bucketed
    equi-join; identical semantics batch vs stream, parity-tested).

    Entirely STATELESS: the static interval table explodes into its
    time buckets once at plan build, each micro-batch maps events to
    their single bucket and hash-joins — no state store, no watermark
    (this is enrichment, not aggregation; a downstream windowed
    aggregate adds its own watermark).  That is the scale story too:
    state never grows with stream history, and a refreshed interval
    table is a plan swap, not a state migration.  ``intervals`` must be
    a bounded (non-streaming) frame — a stream-stream containment join
    needs event-time range watermarks instead, a different operator.
    """
    if intervals.isStreaming:
        raise ValueError(
            "streaming_interval_join: intervals must be a static frame"
        )
    from .asof import interval_join

    return interval_join(stream_df, intervals, on, ts_col=ts_col, **kwargs)


def score_stream(
    stream_df: DataFrame,
    snapshot_path: str,
    out_path: str,
    checkpoint_path: str,
    id_col: str = "row_id",
    features_col: str = "features",
    trigger_once: bool = True,
):
    """Attach the frozen-model scorer to a streaming source.

    ``foreachBatch`` reloads the snapshot path at each micro-batch, so a
    periodic batch refit can atomically swap the model without restarting
    the stream.  Returns the started StreamingQuery.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        snap = ModelSnapshot.load(snapshot_path)
        scored = score_batch(batch_df, snap, id_col, features_col)
        scored.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_path)

    writer = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_lm_scores(
    stream_df: DataFrame,
    model_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    alpha: float = 0.5,
    window_duration: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Frozen-model unigram-LM likelihood scoring of a DOCUMENT STREAM —
    the streaming twin of :func:`pynomaly_spark.lm.score_unigram_logprob`
    (same smoothing, same OOV floor), deployed fit-then-stream like the
    reference's ``stream()`` (loop.py:993-1046: frozen fit state scores
    arrivals, never updated by them).

    Plan shape: tokens explode STATELESSLY, then a STREAM-STATIC left
    join against the frozen vocabulary relation (Structured Streaming
    joins a static DataFrame without state — the static side is simply
    available to every micro-batch), then one watermarked aggregate
    keyed on ``(window(ts), doc_id)`` — per-doc state is two numbers,
    bounded by the watermark.  The model's ``(N, V)`` scalars are a
    one-row control-plane aggregate collected at plan-build time (the
    :func:`pynomaly_spark.psi.baseline_histogram` precedent), so they
    travel as literals.

    Returns ``(window_start, id_col, n_tokens, logprob)``; runs
    identically on a batch frame (batch-parity tested).  Documents are
    assumed to arrive within one window (a doc split across windows
    scores per fragment).
    """
    from .textops import _TOKEN_SPLIT

    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    row = model_df.agg(
        F.coalesce(F.sum(F.col("c").cast("double")), F.lit(0.0)).alias("n"),
        F.count(F.lit(1)).cast("double").alias("v"),
    ).first()
    denom = float(row["n"]) + alpha * (float(row["v"]) + 1.0)

    toks = (
        stream_df.where(
            F.col(text_col).isNotNull() & F.col(id_col).isNotNull()
        )
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .select(
            id_col,
            ts_col,
            F.explode(
                F.split(F.lower(F.col(text_col)), _TOKEN_SPLIT)
            ).alias("_t"),
        )
        .where(F.col("_t") != "")
    )
    vocab = model_df.select(
        F.col("token").alias("_vt"), F.col("c").cast("double").alias("_vc")
    )
    lp = F.log(
        (F.coalesce(F.col("_vc"), F.lit(0.0)) + F.lit(alpha)) / F.lit(denom)
    )
    return (
        toks.withWatermark(ts_col, watermark)
        .join(vocab, F.col("_t") == F.col("_vt"), "left")
        .groupBy(
            F.window(F.col(ts_col), window_duration).alias("_w"), id_col
        )
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(lp), 6).alias("logprob"),
        )
        .select(
            F.col("_w.start").alias("window_start"),
            id_col,
            "n_tokens",
            "logprob",
        )
    )


def streaming_latest_state(
    stream_df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    attr_cols=("event_type", "value", "props"),
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Streaming CDC compaction: the continuously-maintained
    latest-state table (the streaming analog of
    :func:`pynomaly_spark.cdc.latest_state`, identical output columns —
    the batch operator over the landed history is the parity oracle).

    One streaming aggregate per key: ``max_by`` of the attribute
    payload ordered by (µs, tiebreak), plus first-seen and update
    count.  State per key is a single (payload, order) tuple — bounded
    by ENTITY cardinality, not stream length, which is why latest-state
    needs no watermark: it is a total-history aggregate by definition
    (there is no "too late" update; an old event simply loses the
    max_by).  Run in update/complete mode into an idempotent upsert
    sink (``foreachBatch`` MERGE in production; the memory/complete
    sink in tests).  NULL-keyed updates are dropped, as in batch.
    """
    from .cdc import latest_state

    return latest_state(stream_df, key_col, ts_col, attr_cols, tiebreak_col)


def streaming_cms(
    stream_df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Continuously-maintained count-min sketch of a stream key's
    frequencies — the streaming analog of
    :func:`pynomaly_spark.profiling.cms_build` (identical output
    columns; the batch operator over the landed history is the parity
    oracle).

    The CMS is a pure additive aggregate, which is exactly what makes
    it streamable: each micro-batch's increments merge into the state
    by cell addition, the state is bounded at ``depth × width`` rows
    REGARDLESS of stream length or key cardinality, and no watermark is
    needed — a frequency sketch is a total-history aggregate by
    definition (there is no "too late" increment).  Run in
    update/complete mode; serve estimates by broadcast-joining probe
    keys against the latest sink snapshot (``profiling.cms_estimate``).

    This is the profiling answer for unbounded streams where even a
    per-key streaming count would hold state per DISTINCT key: the
    sketch holds ≤ depth·width cells, full stop.
    """
    from .profiling import cms_build

    return cms_build(stream_df, key_col, depth, width)


def streaming_ols_moments(
    stream_df: DataFrame,
    x_cols,
    y_col: str,
) -> DataFrame:
    """Continuously-maintained OLS sufficient statistics — linear-model
    TRAINING as a streaming aggregate: the normal-equation moments
    (``features.ols_moments``) are pure sums, so each micro-batch's
    partial moments merge into the state by addition and the state is
    ONE row regardless of stream length.  No watermark — a model fit
    is a total-history aggregate (there is no "too late" training
    row).  Run in complete mode; serve coefficients by applying
    ``features.ols_solve`` to the latest sink snapshot (the batch
    ``ols_fit`` over the landed history is the parity oracle — exact
    when the regression inputs are integer-valued, the ``ols_fit``
    contract).

    This is the streaming counterpart of the IVM discipline in
    ``cdc.merge_aggs``: merge(agg(base), agg(delta)) == agg(base+delta)
    because every statistic is a sum.
    """
    from .features import ols_moments

    return ols_moments(stream_df, x_cols, y_col)


def streaming_hll(
    stream_df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    p: int = 10,
    salt: str = "hll",
) -> DataFrame:
    """Continuously-maintained HyperLogLog registers for a stream
    column's distinct cardinality — the streaming analog of
    :func:`pynomaly_spark.profiling.hll_build` (identical output
    columns; the batch operator over the landed history is the parity
    oracle; estimate with ``profiling.hll_estimate`` on any sink
    snapshot).

    MAX is what makes HLL the canonical streaming distinct-counter:
    each micro-batch's registers merge into the state by per-cell MAX,
    re-seeing a value is a no-op (idempotent — exactly-once NOT
    required for correctness of the sketch), and the state is bounded
    at ``groups × 2^p`` rows regardless of stream length or value
    cardinality.  No watermark — a cardinality is a total-history
    aggregate (there is no "too late" distinct).  Run in
    update/complete mode.

    A per-key streaming ``approx_count_distinct`` would hold opaque
    engine-private state; these registers are md5-deterministic
    integers any engine (or the batch twin) reproduces bit-for-bit.
    """
    from .profiling import hll_build

    return hll_build(stream_df, group_cols, value_col, p, salt)


def streaming_qhist(
    stream_df: DataFrame,
    group_cols,
    value_col: str,
) -> DataFrame:
    """Continuously-maintained quantile-histogram sketch — the
    streaming analog of :func:`pynomaly_spark.profiling.qhist_build`
    (identical output columns; the batch operator over the landed
    history is the parity oracle).

    Like the CMS/HLL registers, the power-of-two histogram is a pure
    additive aggregate: each micro-batch's bin increments merge into
    the state by addition, the state is bounded at ``groups × 63``
    rows regardless of stream length, and no watermark is needed — a
    histogram is a total-history aggregate (no "too late" increment).
    Run in update/complete mode; serve percentiles by applying
    ``profiling.qhist_estimate`` to the latest sink snapshot — the
    p99-latency dashboard shape with O(bins) state.

    Negative values raise in plan (the batch builder's contract).
    """
    from .profiling import qhist_build

    return qhist_build(stream_df, group_cols, value_col)


def streaming_bitmap(
    stream_df: DataFrame,
    key_cols,
    slot_col: str,
    n_slots: int,
) -> DataFrame:
    """Continuously-maintained presence bitmap per key — the streaming
    analog of :func:`pynomaly_spark.profiling.presence_bitmap`
    (identical output columns; the batch operator over the landed
    history is the parity oracle).

    ``bit_or`` is what makes the bitmap the canonical streaming
    coverage monitor: each micro-batch's masks merge into the state by
    OR, re-seeing a slot is a no-op (idempotent — exactly-once NOT
    required for mask correctness), and the state is ONE BIGINT per
    key regardless of stream length.  No watermark — coverage is a
    total-history aggregate (there is no "too late" presence).  Run in
    update/complete mode; diff two snapshots with XOR to see coverage
    gained between checkpoints.

    (``n_rows`` in the shared output is an exact add-merged count and
    does need effectively-once delivery — the masks do not.)
    """
    from .profiling import presence_bitmap

    return presence_bitmap(stream_df, list(key_cols), slot_col, n_slots)


def streaming_w1_drift(
    stream_df: DataFrame,
    baseline_cum: list,
    value_col: str = "value",
    ts_col: str = "ts",
    key_col: str | None = None,
    n_bins: int = 32,
    bin_width: float = 20.0,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window grid Wasserstein-1 distance of the live stream
    against a FROZEN cumulative baseline — the INTEGER-EXACT sibling
    of :func:`streaming_psi_drift` (same fit-then-stream contract,
    same bounded per-window state), built on
    :func:`pynomaly_spark.psi.histogram_w1`'s cross-multiplied form:
    with window cumulative counts ``c_i`` (state: ``n_bins`` counters)
    and baseline cumulative literals ``g_i`` (total ``G``),

        w1_num = Σ_i |c_i·G − g_i·n|,
        w1_bins_6dp = (w1_num·10⁶) div (n·G)

    — every quantity an exact integer, so the monitor's verdict is
    bit-identical in streaming and batch mode on any engine (PSI's
    float fold can't say that).  The baseline travels as plan
    literals — no join, no broadcast.  NULL and NaN values are
    dropped before binning, as in :func:`pynomaly_spark.psi.
    baseline_cumulative`.

    Returns ``(window_start, window_end[, key_col], n_rows, w1_num,
    w1_bins_6dp)``; works identically on a batch frame — the
    batch-parity test relies on that.
    """
    from .psi import _binned, _cum_counts, _w1

    if len(baseline_cum) != n_bins:
        raise ValueError(
            f"baseline_cum has {len(baseline_cum)} bins, expected {n_bins}"
        )
    g = [int(v) for v in baseline_cum]
    if any(b < a for a, b in zip(g, g[1:])):
        raise ValueError("baseline_cum must be non-decreasing")
    if g[-1] <= 0:
        raise ValueError("baseline_cum is empty (total 0)")
    keys = [key_col] if key_col else []
    agg = _windows(
        _binned(stream_df, value_col, n_bins, bin_width),
        ts_col, window_duration, watermark, *keys,
    ).agg(_cum_counts(n_bins, "long").alias("_p"))
    p = F.col("_p")
    win = [
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
    ]
    return _w1(
        agg,
        win + keys,
        p,
        F.element_at(p, n_bins),
        F.array(*[F.lit(v).cast("long") for v in g]),
        F.lit(g[-1]).cast("long"),
    )
