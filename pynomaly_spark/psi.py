"""Population Stability Index — the lightweight distribution-drift check.

Complements the LoOP kernel (drift.py): where LoOP scores individual
rows, PSI scores whole partitions — "has this partition's value
distribution shifted against the corpus baseline?"  The standard gate
in feature/data-quality monitoring (PSI < 0.1 stable, 0.1-0.25 drifting,
> 0.25 shifted).

Plan shape (the 100-TB story): the per-partition histogram is ONE
``groupBy(partition)`` pass of ``n_bins`` conditional sums packed into an
array column — map-side partial aggregation, no bin spine, no join that
could trip on null partition keys.  The global baseline histogram is the
same aggregate without keys (one row, broadcast by the cross join), and
the PSI fold is a ``zip_with`` + ``aggregate`` over two 16-slot arrays —
all JVM expressions, zero Python.

Every grid operator here and the two streaming drift monitors
(``streaming.streaming_psi_drift`` / ``streaming_w1_drift``) read their
input through :func:`_binned` — the one place that validates the grid,
drops NULL and NaN values and bins — and count through
:func:`_bin_counts` / :func:`_cum_counts`.

Definition: with additive smoothing ``eps`` per bin (so empty bins never
divide by zero and both engines share the exact formula),

    p_i = (c_i + eps) / (n + eps * B)        (partition)
    q_i = (g_i + eps) / (N + eps * B)        (baseline)
    PSI = sum_i (p_i - q_i) * ln(p_i / q_i)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F

__all__ = [
    "histogram_psi",
    "histogram_ks",
    "baseline_histogram",
    "histogram_w1",
    "baseline_cumulative",
]

_DEC = "decimal(38,0)"


def _bin(x: Column, n_bins: int, bin_width: float) -> Column:
    """``floor(x / bin_width)`` clamped to ``[0, n_bins - 1]``.  The clamp
    runs in double before the INT cast, so a value past ``2^31`` bins
    lands in the top bin instead of overflowing the cast."""
    scaled = F.greatest(F.lit(0.0), x / F.lit(bin_width))
    return F.floor(F.least(F.lit(float(n_bins - 1)), scaled)).cast("int")


def _binned(
    df: DataFrame, value_col: str, n_bins: int, bin_width: float
) -> DataFrame:
    """``df`` with a clamped ``_bin`` column, NULL and NaN values dropped.

    NaN is dropped, not binned: Spark casts ``floor(NaN)`` to int 0, which
    would silently count NaN in bin 0 while DuckDB errors on the same
    cast.  Values outside ``[0, n_bins * bin_width)`` clamp into the edge
    bins.
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    if bin_width <= 0:
        raise ValueError("bin_width must be > 0")
    x = F.col(value_col).cast("double")
    return df.filter(x.isNotNull() & ~F.isnan(x)).withColumn(
        "_bin", _bin(x, n_bins, bin_width)
    )


def _bin_counts(n_bins: int) -> Column:
    """Aggregate: the array of per-bin counts, as doubles."""
    return F.array(
        *[
            F.sum(F.when(F.col("_bin") == i, 1).otherwise(0)).cast("double")
            for i in range(n_bins)
        ]
    )


def _cum_counts(n_bins: int, cast: str) -> Column:
    """Aggregate: the array of cumulative counts ``#(bin <= i)``; the last
    slot is every row (bins are clamped)."""
    return F.array(
        *[
            F.sum(F.when(F.col("_bin") <= i, 1).otherwise(0)).cast(cast)
            for i in range(n_bins)
        ]
    )


def _part_vs_pooled(
    obs: DataFrame, partition_col: str, counts: Column
) -> DataFrame:
    """Per-partition ``counts`` as ``_p`` beside the keyless pooled twin
    ``_q``, broadcast through a cross join (one row)."""
    part = obs.groupBy(partition_col).agg(counts.alias("_p"))
    glob = obs.agg(counts.alias("_q"))
    return part.crossJoin(F.broadcast(glob))


def _total(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda a, c: a + c)


def _psi(
    p: Column, n: Column, q: Column, gn: Column, eps: float, n_bins: int
) -> Column:
    """PSI of per-bin counts ``p`` (total ``n``) against ``q`` (total
    ``gn``) under ``eps`` smoothing, rounded to 6 dp."""
    b = float(n_bins)

    def frac(c, tot):
        return (c + F.lit(eps)) / (tot + F.lit(eps) * F.lit(b))

    terms = F.zip_with(
        p,
        q,
        lambda c, g: (frac(c, n) - frac(g, gn))
        * F.log(frac(c, n) / frac(g, gn)),
    )
    return F.round(F.aggregate(terms, F.lit(0.0), lambda a, t: a + t), 6)


def _w1(
    frame: DataFrame, keys: list, p: Column, pt: Column, q: Column, qt: Column
) -> DataFrame:
    """``(*keys, n_rows, w1_num, w1_bins_6dp)`` from cumulative counts
    ``p`` (total ``pt``) against ``q`` (total ``qt``): the integer
    numerator ``Σ_i |p_i·qt − q_i·pt|`` in decimal(38,0) and one
    truncating 6-dp ``div``.  The last slot is zero by construction
    (both CDFs hit their totals) — harmless to include."""
    diffs = F.zip_with(
        p,
        q,
        lambda c, g: F.abs(
            c.cast(_DEC) * qt.cast(_DEC) - g.cast(_DEC) * pt.cast(_DEC)
        ),
    )
    num = F.aggregate(diffs, F.lit(0).cast(_DEC), lambda acc, v: acc + v)
    out = frame.select(
        *keys,
        pt.cast("long").alias("n_rows"),
        num.cast(_DEC).alias("_num"),
        (pt.cast(_DEC) * qt.cast(_DEC)).alias("_den"),
    )
    return out.select(
        *out.columns[: len(keys)],
        "n_rows",
        F.col("_num").cast("long").alias("w1_num"),
        F.expr("(_num * 1000000) div _den")
        .cast("long")
        .alias("w1_bins_6dp"),
    )


def histogram_psi(
    df: DataFrame,
    value_col: str,
    partition_col: str,
    n_bins: int = 16,
    bin_width: float = 40.0,
    eps: float = 0.5,
) -> DataFrame:
    """Per-partition PSI of ``value_col``'s histogram vs the global
    (all-partitions) baseline.  Nulls and NaNs in ``value_col`` are
    excluded (:func:`_binned`); values outside
    ``[0, n_bins * bin_width)`` clamp into the edge bins.

    Returns ``(partition_col, n_rows, psi)`` — psi rounded to 6 dp.
    """
    if eps <= 0:
        raise ValueError("eps must be > 0")
    obs = _binned(df, value_col, n_bins, bin_width)
    joined = _part_vs_pooled(obs, partition_col, _bin_counts(n_bins))
    n, gn = _total(F.col("_p")), _total(F.col("_q"))
    return joined.select(
        partition_col,
        n.cast("long").alias("n_rows"),
        _psi(F.col("_p"), n, F.col("_q"), gn, eps, n_bins).alias("psi"),
    )


def baseline_histogram(
    df: DataFrame,
    value_col: str,
    n_bins: int = 16,
    bin_width: float = 40.0,
) -> list:
    """Pooled histogram counts as driver-side floats — the FROZEN
    baseline a streaming drift monitor scores incoming windows against
    (mirrors the reference's fit-then-stream split: the model is pinned
    at fit time, never updated by the stream it judges).  One aggregate
    row of ``n_bins`` counters — control-plane sized, not row data.
    """
    obs = _binned(df, value_col, n_bins, bin_width)
    row = obs.agg(_bin_counts(n_bins)).first()
    return [float(v or 0.0) for v in row[0]]


def histogram_ks(
    df: DataFrame,
    value_col: str,
    partition_col: str,
    n_bins: int = 32,
    bin_width: float = 20.0,
) -> DataFrame:
    """Grid two-sample Kolmogorov-Smirnov statistic per partition vs the
    pooled baseline: ``D = max_i |F_part(edge_i) - F_pool(edge_i)|`` with
    both empirical CDFs evaluated at the ``n_bins`` grid edges.  The
    rank-free sibling of :func:`histogram_psi` — PSI weighs *density*
    ratios bin by bin (log-sensitive to tail bins), KS reads the largest
    *cumulative* gap, the classic location/shape-shift test.

    Plan shape: the CDF comes straight out of ONE ``groupBy(partition)``
    pass — each of the ``n_bins`` slots is a conditional *cumulative*
    count ``sum(bin <= i)``, so no second pass, no spine join, no
    per-partition sort (the exact-rank KS would need a full sort per
    partition; the grid variant is the 100-TB-sane form, and at B bins
    its error vs exact KS is bounded by the mass of one bin).  Baseline
    is the keyless twin broadcast via cross join; the sup-norm is a
    ``zip_with`` + ``array_max`` over two B-slot arrays — all JVM.

    Unlike PSI no smoothing is needed (a partition only appears with
    >= 1 non-null row, and cumulative counts divide by that total), so
    both engines compute bit-identical IEEE divisions — no sum-order
    reassociation anywhere.

    Returns ``(partition_col, n_rows, ks)`` — ks rounded to 6 dp.
    """
    obs = _binned(df, value_col, n_bins, bin_width)
    joined = _part_vs_pooled(
        obs, partition_col, _cum_counts(n_bins, "double")
    )
    pt, qt = F.element_at("_p", n_bins), F.element_at("_q", n_bins)
    diffs = F.zip_with(
        F.col("_p"), F.col("_q"), lambda c, g: F.abs(c / pt - g / qt)
    )
    return joined.select(
        partition_col,
        pt.cast("long").alias("n_rows"),
        F.round(F.array_max(diffs), 6).alias("ks"),
    )


def histogram_w1(
    df: DataFrame,
    value_col: str,
    partition_col: str,
    n_bins: int = 32,
    bin_width: float = 20.0,
) -> DataFrame:
    """Grid Wasserstein-1 (earth-mover) distance per partition vs the
    pooled baseline — the third drift lens beside :func:`histogram_psi`
    (density ratios) and :func:`histogram_ks` (largest CDF gap): W1
    integrates EVERY CDF gap, so it sees a small shift spread across
    the whole distribution that KS's single sup-norm point understates
    and PSI's log-ratios miss when no bin empties.

    Unlike PSI/KS this one is fully INTEGER-DECIDED: on the grid,
    ``W1 = Σ_i |F_p(i) − F_q(i)|`` (in bin-width units) cross-multiplies
    to ``Σ_i |c_i·N − g_i·n|`` over exact cumulative counts — no
    division until one final truncating 6-dp fixed-point ``div`` in
    decimal(38,0), so the metric is bit-identical on any engine and
    partitioning at any scale that fits 38 digits (Σ ≤ B·n·N — fine
    past 10¹⁵ rows).

    Returns ``(partition_col, n_rows, w1_num, w1_bins_6dp)`` —
    ``w1_num`` the exact integer numerator, ``w1_bins_6dp`` the
    distance in bin-width units ``(w1_num·10⁶) div (n·N)``.

    Plan shape: identical to :func:`histogram_ks` — ONE
    ``groupBy(partition)`` pass of conditional cumulative counts, the
    keyless pooled twin broadcast via cross join, a ``zip_with`` +
    ``aggregate`` over two B-slot arrays, all JVM.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (drift family).
    """
    obs = _binned(df, value_col, n_bins, bin_width)
    joined = _part_vs_pooled(obs, partition_col, _cum_counts(n_bins, "long"))
    p, q = F.col("_p"), F.col("_q")
    pt, qt = F.element_at(p, n_bins), F.element_at(q, n_bins)
    return _w1(joined, [partition_col], p, pt, q, qt)


def baseline_cumulative(
    df: DataFrame,
    value_col: str,
    n_bins: int = 32,
    bin_width: float = 20.0,
) -> list:
    """Pooled CUMULATIVE histogram counts as driver-side ints — the
    FROZEN baseline for :func:`pynomaly_spark.streaming.
    streaming_w1_drift` (the integer-exact sibling of
    :func:`baseline_histogram`; same fit-then-stream contract).  One
    aggregate row of ``n_bins`` cumulative counters — control-plane
    sized, not row data.
    """
    obs = _binned(df, value_col, n_bins, bin_width)
    row = obs.agg(_cum_counts(n_bins, "long")).first()
    return [int(v or 0) for v in row[0]]
