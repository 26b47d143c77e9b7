"""Event-stream feature engineering: trailing time-range aggregates.

The per-entity "state of the last N hours" features every behavioral
model trains on: for EACH event row, the count / sum / max of the
entity's activity in a trailing time window ending at (and including)
that event.  Pure window expressions over a RANGE frame — no UDFs, no
self-join (the naive formulation is an interval self-join that
re-bills every event once per neighbor; the RANGE frame computes all
rows in one sorted pass with a sliding accumulator in both engines).

Cross-engine determinism: the frame is ordered by integer microseconds
(``unix_micros`` / ``epoch_us``) and RANGE frames include ALL peer
rows at the boundary timestamp by SQL definition, so the frame
membership — and therefore every aggregate — is set-identical across
engines regardless of how ties are physically ordered.  Money is
carried as exact integer cents (``CAST(round(value*100) AS BIGINT)``
on both sides, the engine's established fixed-point device): integer
sums are order-independent, float sums are not.

Scale (100 TB): one shuffle keyed by the entity, one in-partition sort;
per-row cost is amortized O(1) (two frame pointers advance
monotonically).  Hot-key caveat and mitigation as in
``sessions.sessionize``.  At 1000 executors the key shuffle is the
whole cost — there is nothing to broadcast and no second pass.

Reference parity: no counterpart in /root/reference/PyNomaly/loop.py —
engine addition for the pipeline brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .packing import _running_sums

__all__ = [
    "target_encode_loo",
    "rolling_range_aggs",
    "rolling_distinct",
    "quantile_bins",
    "gapfill_ffill",
    "decayed_sum",
    "pivot_agg",
    "ols_fit",
    "ols_moments",
    "ols_solve",
    "ols_loco",
]


def rolling_distinct(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    id_col: str,
    window_buckets: int = 7,
    bucket_minutes: float = 24 * 60.0,
) -> DataFrame:
    """Trailing-window distinct count — e.g. 7-day rolling unique users
    per event type — the retention/reach metric every dashboard wants
    and Spark cannot express directly (``COUNT(DISTINCT) OVER RANGE``
    is unsupported).

    Returns one row per OBSERVED (group, bucket): ``group, bucket,
    u_bucket`` (distinct ids in that bucket) and ``u_window`` (distinct
    ids across the trailing ``window_buckets`` buckets ending at and
    including it).  Buckets are exact integer division of integer
    microseconds.  NULL group/ts/id rows are dropped.

    Spark-first rewrite: distinct triples ``(group, id, bucket)``, then
    each triple COVERS the ``window_buckets`` bucket-ends it is visible
    to (a bounded ``explode(sequence(b, b+W-1))`` — a ×W map-side
    expansion of the already-collapsed triple frame, never of the raw
    events), distinct again, semi-join to observed buckets, count.
    This is the standard expansion rewrite: no self-join, no range
    join, no per-window rescan.

    Scale (100 TB): the raw-event distinct is the only full-data
    shuffle; everything after runs on the collapsed triple frame
    (|groups|·|ids|·|buckets| upper bound, typically orders of
    magnitude smaller).  The observed-bucket frame is |groups|·|buckets|
    rows — broadcast for the semi-join.  W is a literal, so the
    expansion is bounded at plan time.
    """
    if window_buckets < 1:
        raise ValueError(f"window_buckets must be >= 1, got {window_buckets}")
    bucket_us = int(bucket_minutes * 60 * 1_000_000)
    tu = (
        df.where(
            F.col(group_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(id_col).isNotNull()
        )
        .select(
            F.col(group_col).alias("grp"),
            F.col(id_col).alias("id"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        )
        # integer `div`, NOT float division + floor (a boundary µs can
        # round UP across the integer in a double) — the engine's
        # established bucket device (see gapfill_ffill).
        .select("grp", "id", F.expr(f"_us div {bucket_us}").alias("bucket"))
        .distinct()
    )
    per_bucket = tu.groupBy("grp", "bucket").agg(
        F.count(F.lit(1)).alias("u_bucket")
    )
    observed = per_bucket.select("grp", "bucket")
    covered = (
        tu.select(
            "grp",
            "id",
            F.explode(
                F.sequence(
                    F.col("bucket"),
                    F.col("bucket") + F.lit(window_buckets - 1),
                )
            ).alias("bucket"),
        )
        .distinct()
        .join(F.broadcast(observed), ["grp", "bucket"], "left_semi")
        .groupBy("grp", "bucket")
        .agg(F.count(F.lit(1)).alias("u_window"))
    )
    return per_bucket.join(covered, ["grp", "bucket"]).select(
        F.col("grp").alias("group"),
        "bucket",
        "u_bucket",
        "u_window",
    )


def pivot_agg(
    df: DataFrame,
    key_cols: list,
    pivot_col: str,
    values: list,
    num_col: str,
) -> DataFrame:
    """Long-to-wide feature matrix: per key, for each EXPLICIT pivot
    value ``v``, the row count ``{v}_n`` and the sum ``{v}_sum`` of
    ``num_col`` — the one-hot/engagement-profile shape behavioral
    models train on, produced in ONE aggregate pass.

    ``values`` must be the explicit category list: Spark's
    ``pivot(col)`` WITHOUT values runs a driver-side distinct scan
    first (an extra job over the fact table) and makes the output
    schema data-dependent — both are wrong at 100 TB and wrong for a
    validation engine whose downstream schema must be static.  Rows
    whose pivot value is NULL or unlisted still anchor the key's
    output row but contribute to no column.

    Missing (key, value) cells come back as NULL from the pivot and
    are coalesced to 0; counts and sums are BIGINT (``num_col`` is
    expected integer — cents, counts — per the engine's fixed-point
    money convention; integer sums are order-independent, float sums
    are not).

    Scale (100 TB): built as EXPLICIT conditional aggregates
    (``count(CASE..)`` / ``sum(CASE..)`` per value), NOT
    ``DataFrame.pivot`` — measured on Spark 4, a multi-aggregate
    pivot plans as TWO hash-aggregate levels with TWO exchanges
    (groupBy ``(key, pivot)`` then a ``pivotfirst`` re-shuffle by
    key), while the conditional form is ONE hash aggregate with
    map-side partials and ONE shuffle of one row per key.  No join,
    no explode.  A 0 sum means "key never showed this value" —
    ``num_col`` NULLs count toward ``_n`` but add 0 (sum ignores
    NULL) by SQL semantics on both engines.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition for the pipeline brief.
    """
    if not values:
        raise ValueError("pivot_agg: values must be non-empty")
    if len(set(values)) != len(values):
        raise ValueError("pivot_agg: duplicate pivot values")
    missing = [
        c for c in (*key_cols, pivot_col, num_col) if c not in df.columns
    ]
    if missing:
        raise ValueError(f"pivot_agg: unknown columns {missing}")
    aggs = []
    for v in values:
        hit = F.col(pivot_col) == F.lit(v)
        aggs.append(
            F.count(F.when(hit, F.lit(1))).cast("long").alias(f"{v}_n")
        )
        aggs.append(
            F.coalesce(F.sum(F.when(hit, F.col(num_col))), F.lit(0))
            .cast("long")
            .alias(f"{v}_sum")
        )
    return df.groupBy(*key_cols).agg(*aggs)


def rolling_range_aggs(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window_minutes: float,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per input row: trailing-window activity aggregates for its key.

    Returns ``key, tiebreak, us, value_cents, trail_cnt,
    trail_sum_cents, trail_max_cents`` where the ``trail_*`` columns
    aggregate all of the key's rows with timestamp in
    ``[us - window, us]`` (inclusive both ends — RANGE semantics).

    NULL values contribute NULL cents: ``trail_cnt`` still counts the
    row (it is activity), ``sum``/``max`` skip it (SQL aggregate
    semantics, identical cross-engine).  NULL keys form their own
    group, consistent on both engines.
    """
    if window_minutes <= 0:
        raise ValueError(f"window_minutes must be > 0, got {window_minutes}")
    window_us = int(window_minutes * 60 * 1_000_000)
    cents = F.round(F.col(value_col) * 100).cast("long")
    w = (
        Window.partitionBy(key_col)
        .orderBy("_us")
        .rangeBetween(-window_us, 0)
    )
    return (
        df.withColumn("_us", F.unix_micros(F.col(ts_col).cast("timestamp")))
        .withColumn("value_cents", cents)
        .select(
            key_col,
            tiebreak_col,
            F.col("_us").alias("us"),
            "value_cents",
            F.count(F.lit(1)).over(w).alias("trail_cnt"),
            F.sum("value_cents").over(w).alias("trail_sum_cents"),
            F.max("value_cents").over(w).alias("trail_max_cents"),
        )
    )


def gapfill_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_minutes: float = 60.0,
    tiebreak_col: str = "event_id",
    max_buckets: int = 100_000,
) -> DataFrame:
    """Regularize an irregular per-key series onto a fixed time grid and
    forward-fill the gaps — the resample step every time-series feature
    pipeline starts with.

    Returns one row per ``(key, bucket)`` over each key's observed
    span: ``key, bucket, n_obs`` (observations landing in the bucket),
    ``is_gap`` (1 when none did), ``obs_cents`` (the bucket's LATEST
    observation by ``(timestamp, tiebreak)``, NULL on gaps) and
    ``ffill_cents`` (the last observed value carried forward — never
    NULL, since each key's span starts at an observed bucket).

    A NULL observation is NO observation (``value`` NULL rows are
    dropped up front): "latest value" semantics must not distinguish
    "gap" from "observed a NULL", or the forward-fill becomes
    engine-dependent around NULL ordering inside ``max_by``.

    Determinism: bucket ids are exact integer division of integer
    microseconds (``div`` — NOT float division + floor, which can land
    on the wrong side of a boundary at epoch-microsecond magnitudes);
    the in-bucket pick is the total order ``(us, tiebreak)``; money is
    integer cents.  Every emitted value is integer or flag — nothing
    floats.

    Scale (100 TB): the raw table is touched exactly once, by the
    per-bucket aggregate (map-side partial ``max_by``) — everything
    after runs on the bucket-level frame, which is smaller by the
    per-bucket event density.  The spine explode is bounded per key by
    ``max_buckets`` with an in-plan ``raise_error`` guard (a key whose
    sparse activity spans years at minute granularity would otherwise
    explode quietly); the guard rides the tiny span frame, not the
    fact table.  One keyed sort pass performs the fill.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition for the pipeline brief.
    """
    if bucket_minutes <= 0:
        raise ValueError(f"bucket_minutes must be > 0, got {bucket_minutes}")
    if max_buckets < 1:
        raise ValueError(f"max_buckets must be >= 1, got {max_buckets}")
    bucket_us = int(bucket_minutes * 60 * 1_000_000)
    src = df.where(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).alias("key"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        F.col(tiebreak_col).alias("_tb"),
        F.round(F.col(value_col) * 100).cast("long").alias("_cents"),
    )
    obs = (
        src.withColumn("bucket", F.expr(f"_us div {bucket_us}"))
        .groupBy("key", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.max_by("_cents", F.struct("_us", "_tb")).alias("obs_cents"),
        )
    )
    span = obs.groupBy("key").agg(
        F.min("bucket").alias("_b0"), F.max("bucket").alias("_b1")
    )
    guard = F.when(
        F.col("_b1") - F.col("_b0") >= F.lit(max_buckets),
        F.expr(
            "raise_error(concat('gapfill_ffill: key spans more than "
            f"{max_buckets} buckets: ', cast(key as string)))"
        ).cast("long"),
    ).otherwise(F.col("_b1"))
    spine = span.select(
        "key", F.explode(F.sequence(F.col("_b0"), guard)).alias("bucket")
    )
    filled = spine.join(obs, ["key", "bucket"], "left")
    w = (
        Window.partitionBy("key")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return filled.select(
        "key",
        "bucket",
        F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
        F.col("n_obs").isNull().cast("long").alias("is_gap"),
        "obs_cents",
        F.last("obs_cents", ignorenulls=True).over(w).alias("ffill_cents"),
    )


def decayed_sum(
    df: DataFrame,
    group_cols: list,
    ts_col: str,
    value_col: str,
    half_life_days: float = 1.0,
    max_age: int = 20,
) -> DataFrame:
    """Exponentially time-decayed engagement per group — recency-aware
    "how active is this entity" features (sum of value halving per
    ``half_life_days`` of age, with age bucketed to whole half-lives).

    Returns ``*group_cols, n_events, sum_cents, decay_e`` where
    ``decay_e = round(sum(cents * 2^-age) * 2^max_age)`` — the decayed
    sum pre-scaled to an exact BIGINT so nothing float-rendered crosses
    the engine boundary.  Age is ``(ref - ts) div half_life`` in whole
    units, clamped to ``[0, max_age]``; ``ref`` is the table's max
    timestamp (a deterministic, data-derived "now").

    EXACT float arithmetic by construction, not by rounding: each term
    ``cents * 2^-age`` is a dyadic rational with at most ``max_age``
    fractional bits, so every partial sum is exactly representable
    while the group total stays under ``2^(53-max_age)`` (~8.6e9 cents
    at the default 20 — four orders of magnitude above the data) —
    the sum is order-independent and bit-identical on any engine, the
    same device as the suite's dyadic MAD gates.

    Scale (100 TB): one map-side expression per row plus one keyed
    aggregate; the reference timestamp is a 1-row aggregate broadcast
    into the plan (no ``collect``, no driver round-trip).

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition for the pipeline brief.
    """
    if half_life_days <= 0:
        raise ValueError(
            f"half_life_days must be > 0, got {half_life_days}"
        )
    if not 0 < max_age <= 30:
        raise ValueError(f"max_age must be in (0, 30], got {max_age}")
    unit_us = int(half_life_days * 86_400 * 1_000_000)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    src = df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *group_cols,
        us.alias("_us"),
        F.round(F.col(value_col) * 100).cast("long").alias("_cents"),
    )
    ref = src.agg(F.max("_us").alias("_ref_us"))
    age = F.least(
        F.lit(max_age).cast("long"),
        F.expr(f"(_ref_us - _us) div {unit_us}"),
    )
    weight = F.lit(1.0) / F.pow(F.lit(2.0), age.cast("double"))
    return (
        src.crossJoin(F.broadcast(ref))
        .withColumn("_term", F.col("_cents") * weight)
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_cents").alias("sum_cents"),
            F.round(F.sum("_term") * F.lit(float(2 ** max_age)))
            .cast("long")
            .alias("decay_e"),
        )
    )


def quantile_bins(
    df: DataFrame,
    value_col: str,
    id_col: str,
    k: int = 10,
    coarse_width: float = 64.0,
) -> DataFrame:
    """Exact equal-frequency discretization: assign each row to one of
    ``k`` rank-based bins, ``bin = ((rank - 1) * k) div n`` over the
    total order (value, id).

    Returns ``id, value, rank`` (1-based global), ``bin`` (0..k-1).
    Bin sizes differ by at most one, with the larger bins spread evenly
    — deliberately NOT ``ntile``, which front-loads the remainder and
    differs between engines' implementations; the explicit integer
    formula is engine-independent.  Ties at a bin boundary split by
    ``id`` — deterministic cross-engine.

    Scale (100 TB): ``rank`` is the two-level running count of
    ``packing._running_sums``, bucketed by the MONOTONE coarse key
    ``floor(value / coarse_width)`` — never one global window.  Pick
    ``coarse_width`` so bucket count is thousands, each bucket
    executor-sized.

    NULL values / ids are excluded (a NULL has no rank; rank-bin a
    filled or flagged copy instead).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if coarse_width <= 0:
        raise ValueError(f"coarse_width must be > 0, got {coarse_width}")
    x = F.col(value_col)
    src = df.where(x.isNotNull() & F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("id"), x.alias("value")
    )
    ranked = _running_sums(
        src,
        ["value", "id"],
        [F.floor(F.col("value") / F.lit(coarse_width)).cast("long")],
        {"rank": F.lit(1)},
        totals=True,
    )
    bin_ = F.expr(f"((rank - 1) * {int(k)}) div rank_total").cast("long")
    return ranked.select("id", "value", "rank", bin_.alias("bin"))


def ols_moments(
    df: DataFrame,
    x_cols,
    y_col: str,
    by=(),
) -> DataFrame:
    """The OLS sufficient-statistic row: n and every first/second
    moment of (x_1[, x_2], y) as ONE map-side-combined aggregate —
    the mergeable training state behind :func:`ols_fit` (sums merge by
    addition, so moment rows from shards / micro-batches combine
    exactly; see ``streaming.streaming_ols_moments``).  Complete-case:
    rows with a NULL in any used column are dropped.  Columns:
    ``n, s1, s11, sy, syy, s1y`` (+ ``s2, s12, s22, s2y`` for two
    features); ``by`` keys the aggregate for per-group fitting (one
    moment row per group, still a single map-side-combined pass)."""
    x_cols = list(x_cols)
    if len(x_cols) not in (1, 2):
        raise ValueError(
            f"ols: 1 or 2 features supported, got {len(x_cols)}"
        )
    by = list(by)
    missing = [c for c in (*x_cols, y_col, *by) if c not in df.columns]
    if missing:
        raise ValueError(f"ols: unknown columns {missing}")
    cond = F.col(y_col).isNotNull()
    for c in x_cols:
        cond = cond & F.col(c).isNotNull()
    src = df.where(cond)
    y = F.col(y_col).cast("double")
    x1 = F.col(x_cols[0]).cast("double")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(x1).alias("s1"),
        F.sum(x1 * x1).alias("s11"),
        F.sum(y).alias("sy"),
        F.sum(y * y).alias("syy"),
        F.sum(x1 * y).alias("s1y"),
    ]
    if len(x_cols) == 2:
        x2 = F.col(x_cols[1]).cast("double")
        aggs += [
            F.sum(x2).alias("s2"),
            F.sum(x1 * x2).alias("s12"),
            F.sum(x2 * x2).alias("s22"),
            F.sum(x2 * y).alias("s2y"),
        ]
    if by:
        return src.groupBy(*by).agg(*aggs)
    return src.agg(*aggs)


def ols_solve(
    m: DataFrame,
    x_cols,
    r: int = 6,
    by=(),
) -> DataFrame:
    """Closed-form normal-equation solve on a single
    :func:`ols_moments` row (Cramer's rule on the 2x2 / 3x3 normal
    matrix as explicit expressions — the SAME arithmetic on any
    engine).  Returns ``n, intercept, beta_<x> per feature, r2``
    rounded to ``r`` dp; singular designs yield NULL coefficients.
    ``by`` carries group-key columns through (per-group solve on a
    grouped moment frame)."""
    x_cols = list(x_cols)
    by = list(by)
    if len(x_cols) == 1:
        det = F.col("n") * F.col("s11") - F.col("s1") * F.col("s1")
        beta = (
            F.col("n") * F.col("s1y") - F.col("s1") * F.col("sy")
        ) / det
        alpha = (F.col("sy") - beta * F.col("s1")) / F.col("n")
        sse = (
            F.col("syy")
            - alpha * F.col("sy")
            - beta * F.col("s1y")
        )
        sst = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
        safe = det != 0
        return m.select(
            *by,
            F.col("n").cast("long").alias("n"),
            F.round(F.when(safe, alpha), r).alias("intercept"),
            F.round(F.when(safe, beta), r).alias(f"beta_{x_cols[0]}"),
            F.round(
                F.when(safe & (sst != 0), 1 - sse / sst), r
            ).alias("r2"),
        )
    # 3x3 normal matrix [[n s1 s2][s1 s11 s12][s2 s12 s22]] solved by
    # Cramer; the expression tree is written ONCE and mirrored verbatim
    # in the SQL twin so both engines evaluate the identical float ops
    n = F.col("n").cast("double")
    s1, s2 = F.col("s1"), F.col("s2")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    sy, s1y, s2y = F.col("sy"), F.col("s1y"), F.col("s2y")
    syy = F.col("syy")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    d0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    d1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    d2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    alpha, b1, b2 = d0 / det, d1 / det, d2 / det
    sse = syy - alpha * sy - b1 * s1y - b2 * s2y
    sst = syy - sy * sy / n
    safe = det != 0
    return m.select(
        *by,
        F.col("n").cast("long").alias("n"),
        F.round(F.when(safe, alpha), r).alias("intercept"),
        F.round(F.when(safe, b1), r).alias(f"beta_{x_cols[0]}"),
        F.round(F.when(safe, b2), r).alias(f"beta_{x_cols[1]}"),
        F.round(F.when(safe & (sst != 0), 1 - sse / sst), r).alias("r2"),
    )


def ols_fit(
    df: DataFrame,
    x_cols,
    y_col: str,
    r: int = 6,
    by=(),
) -> DataFrame:
    """Distributed ordinary-least-squares fit via SUFFICIENT STATISTICS
    — the aggregation-only form of linear-model training: one pass
    computes the normal-equation moments (n, Σx_i, Σx_i·x_j, Σx_i·y,
    Σy, Σy²) as plain aggregates (:func:`ols_moments`), and the
    closed-form solve (:func:`ols_solve`) runs on that single row.  No
    gradient loop, no driver-side matrix library, no second scan — the
    100-TB shape for any model with a closed-form or moment-based
    estimator.

    Supports 1 or 2 features (Cramer's rule on the 2×2 / 3×3 normal
    matrix written as explicit expressions — the determinant form is
    the SAME arithmetic on any engine).  Returns one row:
    ``n, intercept, beta_<x> per feature, r2`` — coefficients and R²
    rounded to ``r`` dp (the float boundary; the moments themselves
    are engine-ordered sums, so the twin must aggregate the SAME
    rounded inputs — callers pin exactness by passing integer-valued
    columns, e.g. cents or counts, where float sums are exact until
    2^53).

    Rows with any NULL among the used columns are dropped (complete-
    case fitting).  Degenerate designs (singular normal matrix, e.g. a
    constant feature) return NULL coefficients rather than raising —
    detectable downstream, mergeable with a coalesce gate.

    Scale (100 TB): ONE map-side-combined aggregate over the input —
    the whole fit shuffles a single row of moments.  To fit per group,
    add the group key to the aggregate; to fit incrementally, merge
    moment rows by addition and re-solve (``ols_moments`` /
    ``streaming.streaming_ols_moments``).

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (ML-pipeline family).
    """
    x_cols = list(x_cols)
    by = list(by)
    return ols_solve(ols_moments(df, x_cols, y_col, by=by), x_cols, r, by=by)


def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    y_col: str,
    out_col: str = "loo_mean",
    smoothing: float = 0.0,
) -> DataFrame:
    """Leave-one-out target encoding (Micci-Barreca 2001): replace a
    categorical column with the mean of the target over the OTHER rows
    of the same category — ``(Σy − y_row) / (n − 1)`` — the encoding
    that never leaks the row's own label into its feature.  With
    ``smoothing`` m > 0 the estimate shrinks toward the global prior:
    ``(Σy − y + m·ȳ) / (n − 1 + m)`` — singleton categories then
    gracefully yield the prior; at m = 0 they yield NULL.

    Adds ``out_col`` (double) and ``n_peers`` (category size − 1) to
    the input relation.

    Exactness: pass an INTEGER target (cents) — the per-category sums
    and the global prior are then exact, and the final division is one
    IEEE op on identical operands cross-engine.

    Scale (100 TB): one map-side-combined aggregate per category + a
    join back.  No window over the category — a hot category (the
    Zipfian head) would route every row through one task; the
    aggregate collapses it to one row instead, and the join-back is
    broadcast when the category count is bounded, AQE-planned
    otherwise.  The global prior is a 1-row broadcast cross join.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (ML feature engineering for training pipelines).
    """
    if cat_col not in df.columns or y_col not in df.columns:
        raise ValueError(
            f"target_encode_loo: unknown column {cat_col!r} or {y_col!r}"
        )
    base = df.where(F.col(cat_col).isNotNull() & F.col(y_col).isNotNull())
    stats = base.groupBy(cat_col).agg(
        F.sum(y_col).alias("_te_sum"), F.count(F.lit(1)).alias("_te_n")
    )
    glob = base.agg(
        (F.sum(y_col).cast("double") / F.count(F.lit(1))).alias("_te_prior")
    )
    stats = stats.withColumnRenamed(cat_col, "_te_cat")
    joined = base.join(
        stats, F.col(cat_col) == F.col("_te_cat")
    ).crossJoin(F.broadcast(glob))
    m = float(smoothing)
    denom = F.col("_te_n") - 1 + F.lit(m)
    num = (
        (F.col("_te_sum") - F.col(y_col)).cast("double")
        + F.lit(m) * F.col("_te_prior")
    )
    enc = F.when(denom > 0, num / denom)
    return joined.select(
        *[F.col(c) for c in df.columns],
        (F.col("_te_n") - 1).cast("long").alias("n_peers"),
        enc.alias(out_col),
    )


_M1_COLS = ("n", "s1", "s11", "sy", "syy", "s1y")
_M2_COLS = _M1_COLS + ("s2", "s12", "s22", "s2y")


def ols_loco(
    df: DataFrame,
    x_cols,
    y_col: str,
    by_col: str,
    r: int = 6,
) -> DataFrame:
    """Leave-one-category-out OLS: per group, the model fit on ALL
    OTHER groups — the ablation/cross-validation primitive.  Because
    the normal-equation moments are MERGEABLE sums, each held-out fit
    is ``total_moments − group_moments``: one grouped moment pass +
    one 1-row broadcast, never a re-scan per group (k-fold CV at
    100 TB costs ONE scan, not k).

    Returns per group: the group key, ``n`` (the TRAINING row count,
    i.e. everything outside the group) and the usual
    :func:`ols_solve` outputs.  Integer-valued inputs keep the
    subtracted moments exact (double sums of integers are exact to
    2^53, and the difference of exact sums is exact).

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (ML-evaluation family with ols_fit).
    """
    x_cols = list(x_cols)
    mcols = list(_M1_COLS if len(x_cols) == 1 else _M2_COLS)
    m = ols_moments(df, x_cols, y_col, by=[by_col])
    tot = m.agg(*[F.sum(c).alias(f"_t_{c}") for c in mcols])
    loo = m.crossJoin(F.broadcast(tot)).select(
        by_col,
        *[(F.col(f"_t_{c}") - F.col(c)).alias(c) for c in mcols],
    )
    return ols_solve(loo, x_cols, r, by=[by_col])
