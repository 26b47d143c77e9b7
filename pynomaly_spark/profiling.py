"""Pre-shuffle data profiling: key-skew histograms and join key profiles.

The two questions every 100-TB job should answer BEFORE shuffling:

* ``key_frequency_histogram`` — how skewed is this key?  Per-key counts
  bucketed into power-of-two frequency bands (bucket ``b`` holds keys
  with ``2^b <= count < 2^(b+1)``), plus a grand-total row.  The shape
  of this histogram decides salting: a fat top bucket means the
  straight ``groupBy``/``join`` serializes through a handful of
  reducers.  One keyed shuffle (map-side partial counts) + one tiny
  rollup — the histogram itself is at most 64 rows per key.
* ``join_key_profile`` — before joining two big relations, measure the
  exact key overlap, per-side orphans, and the exact output cardinality
  ``sum(cnt_l * cnt_r)``.  Each side aggregates to distinct keys first
  (map-side combine), so the full-outer join runs on the REDUCED
  frames; no row-level join is ever executed.

Cross-engine determinism: every output is integer arithmetic except
``row_share``, an exact integer ratio rendered at 6 dp on both engines.
The frequency bucket is ``length(bin(cnt)) - 1`` — a binary-string
length, not a float ``log2`` — so bucket edges cannot ulp-drift
(``F.bin`` in Spark, ``bin()`` in DuckDB produce the same digits).

Scale notes (100 TB):

* The per-key count aggregate is the ONLY pass over the base data in
  both operators; everything downstream is per-key or per-bucket.
* ``key_frequency_histogram`` derives the grand total with a ROLLUP
  grouping set — the total row shares the same aggregate, not a second
  scan — and attaches ``row_share`` via a 1-row broadcast of the total
  (the per-key count exchange is reused across the two branches; the
  plan carries one ReusedExchange, asserted in tests).
* ``join_key_profile``'s sums are BIGINT; at true petabyte row counts
  promote ``est_join_rows`` to ``decimal(38,0)`` the way the suite's
  checksum phase does (checks.py) — kept BIGINT here because the
  DuckDB oracle renders HUGEINT as float (the events_sessions lesson,
  tests/test_oracle_types.py).

Reference parity: profiling has no counterpart in
/root/reference/PyNomaly/loop.py — it is engine-level tooling required
by the north rule's skew handling (salted repartitioning decisions need
a measured skew profile, not a guess).
"""

from __future__ import annotations

import functools
from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .packing import _running_sums

__all__ = [
    "key_frequency_histogram",
    "join_key_profile",
    "robust_group_outliers",
    "column_profile",
    "corr_matrix",
    "kmv_distinct",
    "cms_build",
    "cms_estimate",
    "benford_profile",
    "cms_join_cardinality",
    "bloom_build",
    "bloom_probe",
    "ab_proportions",
    "hll_build",
    "hll_merge",
    "hll_estimate",
    "chisq_uniformity",
    "weighted_quantiles",
    "seasonal_outliers",
    "winsorized_stats",
    "qhist_build",
    "qhist_merge",
    "qhist_estimate",
    "fd_check",
    "ks_exact",
    "rank_sum_u",
    "presence_bitmap",
    "spearman_rho",
    "p_chart",
    "fd_repair",
]

_KMV_BITS = 48  # md5-prefix hash width: 12 hex chars = 48 bits, exact in
# BIGINT on both engines and parseable by DuckDB as CAST('0x'||s AS BIGINT).

_DEC = "decimal(38,0)"


def kmv_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per group — the
    mergeable cardinality estimator for when ``count(DISTINCT ...)``'s
    Expand-multiplied shuffle is too expensive but HLL's
    engine-private binary sketch can't be cross-checked.

    Per group, hash each value with an md5 48-bit prefix, keep the k
    SMALLEST distinct hashes, and estimate the cardinality from the
    k-th order statistic: ``(k-1) * 2^48 div h_k`` (the classic KMV
    estimator, Bar-Yossef et al. 2002, with integer division so the
    estimate is a BIGINT both engines compute bit-identically).  A
    group with fewer than k distinct hashes is EXACT — the estimate
    falls back to the observed distinct count.

    Returns ``*group_cols, kmv_k, kmv_estimate`` where ``kmv_k`` is
    ``min(k, observed distinct)`` — ``kmv_k < k`` marks the exact
    branch.

    Determinism: md5 is identical across engines; the hash prefix is
    an exact 48-bit integer; selection order is the hash itself (a
    total order after the distinct); division is integer.  Nothing
    floats.

    Scale (100 TB): one distinct aggregate over ``(group, hash)``
    (map-side partial), then the k-smallest selection runs through
    ``two_phase_topk`` — salted phase 1 bounds every reducer to ~1/64
    of a group's distinct hashes, so a billion-distinct group never
    serializes through one task the way a plain per-group window
    would.  The sketch output is k rows per group, mergeable across
    partitions/days by unioning kept hashes and re-selecting.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (cardinality profiling for validation config).
    """
    if k < 2:
        raise ValueError(f"kmv_distinct: k must be >= 2, got {k}")
    missing = [c for c in (*group_cols, value_col) if c not in df.columns]
    if missing:
        raise ValueError(f"kmv_distinct: unknown columns {missing}")
    from .similarity import two_phase_topk

    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 12), 16, 10
    ).cast("long")
    hashed = (
        df.where(F.col(value_col).isNotNull())
        .select(*group_cols, h.alias("_h"))
        .distinct()
    )
    kept = two_phase_topk(
        hashed, list(group_cols), [F.col("_h").asc()], k, rank_col="_rn"
    )
    scale = (k - 1) * (1 << _KMV_BITS)
    return (
        kept.groupBy(*group_cols)
        .agg(F.max("_rn").alias("_nk"), F.max("_h").alias("_hk"))
        .select(
            *group_cols,
            F.col("_nk").cast("long").alias("kmv_k"),
            F.when(F.col("_nk") < k, F.col("_nk").cast("long"))
            .otherwise(F.expr(f"{scale}L div greatest(_hk, 1L)"))
            .alias("kmv_estimate"),
        )
    )


def column_profile(
    df: DataFrame,
    cols: Sequence[str],
    exact_distinct: bool = True,
) -> DataFrame:
    """One-pass multi-column profile: per column, the row count, null
    count, distinct cardinality and min/max — the schema-discovery scan
    run once per ingested source before writing validation config.

    Returns ``column, n_rows, n_nulls, n_distinct, min_val, max_val``
    with min/max rendered as strings via ``CAST(min(col) AS STRING)``
    — cast AFTER aggregating, never before (a lexicographic string min
    says ``"10" < "9"``).

    The whole profile is ONE aggregate job: a single wide aggregation
    row (5 aggregates per column), unpivoted with ``stack`` on the
    1-row result — the unpivot touches one row, never the fact table.
    The naive per-column loop scans the source once per column.

    Scale (100 TB): with ``exact_distinct`` Spark plans the multiple
    ``count(DISTINCT ...)`` via a single Expand — one scan, but the
    shuffled row volume is multiplied by ``len(cols)+1``.  That is the
    exact-answer price; for wide profiles at petabyte scale pass
    ``exact_distinct=False`` to use HLL ``approx_count_distinct``
    (one plain aggregate, no Expand — not oracle-hashable, so the
    registry twin pins the exact mode).

    Reference parity: generalizes the reference's per-matrix input
    validation (loop.py `_check_missing_values`) into an engine-level
    profile; no direct counterpart.
    """
    if not cols:
        raise ValueError("column_profile: cols must be non-empty")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"column_profile: unknown columns {missing}")
    nd = (
        (lambda c: F.countDistinct(F.col(c)))
        if exact_distinct
        else (lambda c: F.approx_count_distinct(c))
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nn"),
            nd(c).alias(f"{c}__nd"),
            F.min(F.col(c)).cast("string").alias(f"{c}__mn"),
            F.max(F.col(c)).cast("string").alias(f"{c}__mx"),
        ]
    one = df.agg(*aggs)
    parts = ", ".join(
        f"'{c}', `{c}__nn`, `{c}__nd`, `{c}__mn`, `{c}__mx`" for c in cols
    )
    stacked = one.select(
        "n_rows",
        F.expr(
            f"stack({len(cols)}, {parts}) as "
            "(column, _nn, n_distinct, min_val, max_val)"
        ),
    )
    return stacked.select(
        "column",
        F.col("n_rows").cast("long").alias("n_rows"),
        (F.col("n_rows") - F.col("_nn")).cast("long").alias("n_nulls"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_val",
        "max_val",
    )


def key_frequency_histogram(
    df: DataFrame,
    key_cols: Union[str, Sequence[str]],
    key_name: Optional[str] = None,
) -> DataFrame:
    """Power-of-two histogram of per-key row counts.

    Returns one row per occupied frequency bucket plus a grand-total
    row with ``bucket = -1``:

    ``key_name`` (string tag), ``bucket`` (long; keys appearing
    ``2^bucket .. 2^(bucket+1)-1`` times; -1 = total), ``n_keys``,
    ``n_rows``, ``max_cnt`` (longs), ``row_share`` (fraction of all
    rows that live in this bucket's keys, 6 dp).

    A NULL key groups as one key, matching SQL GROUP BY semantics on
    both engines.
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    tag = key_name or "+".join(key_cols)

    cnts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    bucketed = cnts.withColumn(
        "bucket", (F.length(F.bin(F.col("cnt"))) - F.lit(1)).cast("long")
    )
    # ROLLUP: per-bucket rows + ONE grand-total row from the same
    # aggregate — no second pass over the per-key counts
    hist = bucketed.rollup("bucket").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    # 1-row broadcast of the total; the per-key count exchange is
    # identical in both branches and plans as a ReusedExchange
    total = hist.where(F.col("bucket").isNull()).select(
        F.col("n_rows").alias("_total_rows")
    )
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            F.lit(tag).alias("key_name"),
            F.coalesce(F.col("bucket"), F.lit(-1)).alias("bucket"),
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("max_cnt").cast("long").alias("max_cnt"),
            F.round(
                F.col("n_rows") / F.col("_total_rows").cast("double"), 6
            ).alias("row_share"),
        )
    )


def join_key_profile(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """One-row exact profile of a prospective equi-join.

    Columns (all BIGINT): ``rows_left``, ``rows_right``, ``keys_left``,
    ``keys_right``, ``keys_both``, ``keys_left_only``,
    ``keys_right_only``, ``est_join_rows`` (exact inner-join output
    cardinality ``sum(cnt_l * cnt_r)`` over matched keys),
    ``max_fanout`` (largest single-key contribution; 0 if no overlap).

    NULL join keys never match in an equi-join, so NULL-keyed rows are
    excluded from both sides up front (they can only produce orphans).
    """
    lc = (
        left.where(F.col(left_key).isNotNull())
        .groupBy(F.col(left_key).alias("k"))
        .agg(F.count(F.lit(1)).alias("cl"))
    )
    rc = (
        right.where(F.col(right_key).isNotNull())
        .groupBy(F.col(right_key).alias("k"))
        .agg(F.count(F.lit(1)).alias("cr"))
    )
    j = lc.join(rc, "k", "full_outer")
    both = F.col("cl").isNotNull() & F.col("cr").isNotNull()
    return j.agg(
        F.coalesce(F.sum("cl"), F.lit(0)).cast("long").alias("rows_left"),
        F.coalesce(F.sum("cr"), F.lit(0)).cast("long").alias("rows_right"),
        F.count("cl").cast("long").alias("keys_left"),
        F.count("cr").cast("long").alias("keys_right"),
        F.sum(both.cast("long")).cast("long").alias("keys_both"),
        F.sum(F.col("cr").isNull().cast("long"))
        .cast("long")
        .alias("keys_left_only"),
        F.sum(F.col("cl").isNull().cast("long"))
        .cast("long")
        .alias("keys_right_only"),
        F.coalesce(F.sum(F.col("cl") * F.col("cr")), F.lit(0))
        .cast("long")
        .alias("est_join_rows"),
        F.coalesce(F.max(F.col("cl") * F.col("cr")), F.lit(0))
        .cast("long")
        .alias("max_fanout"),
    )


def robust_group_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Per-group robust outlier profile: median / MAD and the share of
    rows beyond ``k`` MADs (the quality-filtering gate that mean/std
    cannot provide on heavy-tailed web data — a single 1 GB document
    drags a mean, not a median).

    Returns per group: ``n``, ``med``, ``mad`` (4 dp, the engine's
    percentile render), ``n_outliers`` (rows with
    ``|x - med| > k * mad``), ``outlier_share`` (6 dp).  Groups with
    ``mad = 0`` (at least half the values identical to the median)
    report zero outliers: the scale estimate is degenerate, so the gate
    abstains rather than flagging every nonidentical row.  NULL values
    are excluded (they are a missingness question — ``NullRate`` —
    not a dispersion question); NULL group keys form their own group.

    Cross-engine determinism: Spark ``percentile`` and DuckDB
    ``quantile_cont`` both linearly interpolate, and on integer inputs
    every median is ``x.0`` or ``x.5`` — exact in binary doubles, so
    deviations and the ``k * mad`` threshold compare exactly (``k``
    defaults to a dyadic 3.0).

    Scale (100 TB): two grouped EXACT-percentile aggregates (median,
    then MAD) and one re-scan with the per-group thresholds joined
    back — the group frame is group-cardinality-sized and broadcasts.
    Exact per-group percentiles materialize each group's values on one
    reducer; with millions of rows per group, swap ``percentile`` for
    ``approx_percentile`` at an accuracy budget — kept exact here
    because the oracle must hash-match.
    """
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    vals = df.where(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("_g"), F.col(value_col).alias("_x")
    )
    # every derived frame renames its group key: these are self-joins
    # on vals' lineage, and a shared `_g` is ambiguous to the analyzer
    med = vals.groupBy(F.col("_g").alias("_gm")).agg(
        F.expr("percentile(_x, 0.5)").alias("_med"),
        F.count(F.lit(1)).alias("_n"),
    )
    dev = vals.join(F.broadcast(med), F.col("_g").eqNullSafe(F.col("_gm"))).select(
        F.col("_g").alias("_gd"),
        F.abs(F.col("_x") - F.col("_med")).alias("_dev"),
    )
    mad = dev.groupBy(F.col("_gd").alias("_ga")).agg(
        F.expr("percentile(_dev, 0.5)").alias("_mad")
    )
    prof = med.join(
        F.broadcast(mad), F.col("_gm").eqNullSafe(F.col("_ga"))
    ).select("_gm", "_n", "_med", "_mad")
    flagged = vals.join(
        F.broadcast(prof), F.col("_g").eqNullSafe(F.col("_gm")), "inner"
    ).select(
        F.col("_g").alias("g"),
        F.col("_n"),
        F.col("_med"),
        F.col("_mad"),
        (
            (F.col("_mad") > 0)
            & (F.abs(F.col("_x") - F.col("_med")) > F.lit(k) * F.col("_mad"))
        ).cast("long").alias("_is_out"),
    )
    return flagged.groupBy("g", "_n", "_med", "_mad").agg(
        F.sum("_is_out").alias("n_outliers")
    ).select(
        F.col("g").alias(group_col),
        F.col("_n").cast("long").alias("n"),
        F.round("_med", 4).alias("med"),
        F.round("_mad", 4).alias("mad"),
        F.col("n_outliers").cast("long").alias("n_outliers"),
        F.round(F.col("n_outliers") / F.col("_n").cast("double"), 6).alias(
            "outlier_share"
        ),
    )


# --------------------------------------------------------------------------
# count-min sketch
# --------------------------------------------------------------------------

def _cms_bucket(key_col, row_col, width: int):
    """Bucket of ``key`` in sketch row ``row``: md5-prefix integer mod
    width — the engine's established cross-engine hash device (md5 is
    bit-identical in Spark and DuckDB; 12 hex chars fit a BIGINT)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(row_col.cast("string"), F.lit(":"), key_col)),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(width))


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-min sketch of ``key_col`` frequencies: ``row, bucket,
    cell_n`` with at most ``depth × width`` rows.

    The CMS is the canonical MERGEABLE frequency sketch: each input row
    increments one cell per sketch row, a point estimate is the MIN of
    a key's ``depth`` cells, and two sketches merge by adding cells —
    so per-partition / per-day sketches union and re-aggregate without
    touching the raw data again.  Estimates NEVER undercount
    (cell ≥ true count by construction); overcount is bounded by
    collisions (E[over] ≤ N/width per row, min over depth rows).

    Scale (100 TB): the ×depth explode happens map-side and the
    aggregate combines map-side down to ≤ depth·width cells per
    partition — the shuffle carries a few thousand rows regardless of
    input size.  This is the profiling answer when even a per-key
    groupBy is too expensive (trillions of distinct keys): sketch
    first, probe the keys you care about.

    Hashing is deterministic md5 (no seed state), so the sketch —
    unlike Spark's own ``count_min_sketch`` aggregate, whose murmur
    hashing is JVM-internal — is reproducible by ANY engine, which is
    how the oracle twin rebuilds it bit-for-bit in SQL.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (frequency profiling for skew/salting decisions).
    """
    if depth < 1 or width < 2:
        raise ValueError(f"cms_build: bad shape depth={depth} width={width}")
    if key_col not in df.columns:
        raise ValueError(f"cms_build: unknown column {key_col}")
    rows = df.where(F.col(key_col).isNotNull()).select(
        F.col(key_col).cast("string").alias("_k"),
        F.explode(
            F.array(*[F.lit(j) for j in range(depth)])
        ).alias("row"),
    )
    return (
        rows.groupBy("row", _cms_bucket(F.col("_k"), F.col("row"), width)
                     .alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cell_n"))
    )


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-estimate the frequency of each probe key from a
    ``cms_build`` sketch: ``<key>, cms_n`` where ``cms_n`` is the MIN
    over the key's ``depth`` cells.

    The sketch is at most ``depth × width`` rows — broadcast by
    construction — so probing any number of keys is a map-side
    broadcast join plus a per-key MIN: no shuffle of the probe side
    beyond its own aggregate.  A probe key absent from the data still
    returns its cells' counts (≥ 0) — CMS semantics, not a join miss
    (cells are coalesced to 0 only when the whole cell never filled).
    """
    shape = depth * width
    probed = probes.select(
        F.col(key_col),
        F.col(key_col).cast("string").alias("_k"),
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("row"),
    ).withColumn("bucket", _cms_bucket(F.col("_k"), F.col("row"), width))
    joined = probed.join(
        F.broadcast(sketch.limit(shape)), ["row", "bucket"], "left"
    )
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("cell_n"), F.lit(0).cast("long"))).alias(
            "cms_n"
        )
    )


def benford_profile(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """First-significant-digit (Benford's law) profile per group — the
    classic fabricated-/degenerate-data screen for financial and
    metric columns: naturally occurring multiplicative quantities put
    ~30.1% of first digits at 1, while synthetic or constant-injected
    data shows up as a flat or spiked digit histogram.

    Per ``(group, digit)``: ``n`` (count), ``share6`` (observed digit
    share), ``benford6`` (the Benford expectation ``log10(1 + 1/d)``),
    and ``dev6 = round(share6 - benford6, 6)``.  Values are fixed to
    exact integer cents first; the first digit is the leading
    character of the BIGINT's decimal rendering — pure integer/string
    ops, identical cross-engine (no float log extracts the digit).
    Non-positive and NULL values are dropped (Benford is defined on
    positive magnitudes).

    Scale (100 TB): one keyed aggregate with map-side combine down to
    ≤9 rows per group; the per-group total is a window over that
    collapsed frame.  Nothing else touches the base data.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (validation-suite profiling family).
    """
    missing = [c for c in (*group_cols, value_col) if c not in df.columns]
    if missing:
        raise ValueError(f"benford_profile: unknown columns {missing}")
    cents = F.round(F.col(value_col) * 100).cast("long")
    base = (
        df.where(F.col(value_col).isNotNull())
        .withColumn("_c", cents)
        .where(F.col("_c") > 0)
        .withColumn(
            "digit",
            F.substring(F.col("_c").cast("string"), 1, 1).cast("long"),
        )
    )
    counts = base.groupBy(*group_cols, "digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy(*group_cols)
    return counts.select(
        *group_cols,
        "digit",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w).cast("double"), 6
        ).alias("share6"),
        F.round(
            F.log10((F.col("digit") + 1).cast("double") / F.col("digit")),
            6,
        ).alias("benford6"),
        F.round(
            F.round(
                F.col("n").cast("double") / F.sum("n").over(w).cast("double"),
                6,
            )
            - F.round(
                F.log10(
                    (F.col("digit") + 1).cast("double") / F.col("digit")
                ),
                6,
            ),
            6,
        ).alias("dev6"),
    )


def cms_join_cardinality(
    sketch_l: DataFrame,
    sketch_r: DataFrame,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Estimate an equi-join's OUTPUT cardinality from two
    ``cms_build`` sketches via their inner product — the classic
    sketch-composition answer (AGMS / Alon-Matias-Szegedy lineage) to
    "how big is this join?" WITHOUT shuffling either table: the true
    join size ``Σ_k f_l(k)·f_r(k)`` is over-estimated by
    ``Σ_b cells_l[r][b]·cells_r[r][b]`` for every sketch row r (each
    key pair lands together in some bucket; collisions only ADD), so
    the MIN over rows is an upper bound that tightens with width.

    Returns one row: ``est_join_rows`` (the min-over-rows inner
    product) and ``n_rows_l`` / ``n_rows_r`` (each side's row mass,
    recovered exactly as any sketch row's cell sum).

    This is the planner-style pre-shuffle gate: both sketches are
    ≤ depth·width cells built map-side (see ``cms_build``), the inner
    product joins two ≤4096-row frames — the decision "salt this join /
    broadcast that side / refuse" costs O(sketch) instead of a full
    dry-run shuffle.  The exact counterpart (when a real pass is
    affordable) is ``join_key_profile``.

    Sums are pre-cast to BIGINT per cell-product; at petabyte row
    counts promote to decimal(38,0) as in the suite checksum (the
    module-docstring HUGEINT caveat).
    """
    prod = (
        sketch_l.select(
            "row", "bucket", F.col("cell_n").alias("_cl")
        ).join(
            sketch_r.select(
                "row", "bucket", F.col("cell_n").alias("_cr")
            ),
            ["row", "bucket"],
        )
        .groupBy("row")
        .agg(F.sum(F.col("_cl") * F.col("_cr")).alias("_ip"))
    )
    mass_l = sketch_l.where(F.col("row") == 0).agg(
        F.sum("cell_n").alias("n_rows_l")
    )
    mass_r = sketch_r.where(F.col("row") == 0).agg(
        F.sum("cell_n").alias("n_rows_r")
    )
    # a sketch row with NO overlapping buckets contributes an inner
    # product of 0 but produces no row in `prod` — if ANY of the depth
    # rows is absent the true min is 0, not the min of the surviving
    # rows (disjoint key sets would otherwise estimate NULL/positive)
    return (
        prod.agg(
            F.min("_ip").alias("_m"), F.count(F.lit(1)).alias("_c")
        )
        .crossJoin(F.broadcast(mass_l))
        .crossJoin(F.broadcast(mass_r))
        .select(
            F.when(F.col("_c") < depth, F.lit(0))
            .otherwise(F.col("_m"))
            .cast("long")
            .alias("est_join_rows"),
            F.col("n_rows_l").cast("long").alias("n_rows_l"),
            F.col("n_rows_r").cast("long").alias("n_rows_r"),
        )
    )


def corr_matrix(
    df: DataFrame,
    cols,
    r: int = 6,
) -> DataFrame:
    """Pairwise Pearson correlation matrix in ONE pass — the numeric
    dependence profile (feature redundancy screen, drift fingerprint)
    over k columns via flat moment aggregates: n, each Σx_i, Σx_i²,
    and every Σx_i·x_j computed in a single map-side-combined
    aggregate; the k(k-1)/2 correlations are closed-form expressions
    on that one moment row, exploded to one row per unordered pair.

        corr = (n·s_xy − s_x·s_y)
               / sqrt((n·s_xx − s_x·s_x) · (n·s_yy − s_y·s_y))

    with NULL when either variance term is zero (constant column).
    IEEE sqrt is correctly rounded on every engine, so when the
    moments are exact the whole expression is bit-identical
    cross-engine; moments are double sums, so callers pin exactness by
    passing integer-valued columns whose squared sums stay below 2^53
    (the ``ols_fit`` contract — use cents/counts, not raw floats).

    Returns ``(col_a, col_b, n, corr)`` for each pair with
    ``col_a < col_b`` lexicographically; ``corr`` rounded to ``r`` dp.

    Scale (100 TB): one aggregate over the input, k(k+3)/2 + 1 partial
    sums per partition — the shuffle is a single row regardless of
    input size.  Rows with a NULL in ANY profiled column are dropped
    (complete-case, so every pair sees the same n and the matrix is
    positive semi-definite).

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (profiling family).
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("corr_matrix: need at least 2 columns")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"corr_matrix: unknown columns {missing}")
    cond = F.lit(True)
    for c in cols:
        cond = cond & F.col(c).isNotNull()
    src = df.where(cond)
    x = {c: F.col(c).cast("double") for c in cols}
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, a in enumerate(cols):
        aggs.append(F.sum(x[a]).alias(f"s_{i}"))
        for j, b in enumerate(cols):
            if j >= i:
                aggs.append(F.sum(x[a] * x[b]).alias(f"s_{i}_{j}"))
    m = src.agg(*aggs)
    n = F.col("n").cast("double")
    pairs = []
    for i, a in enumerate(cols):
        for j, b in enumerate(cols):
            if j <= i:
                continue
            num = n * F.col(f"s_{i}_{j}") - F.col(f"s_{i}") * F.col(f"s_{j}")
            va = n * F.col(f"s_{i}_{i}") - F.col(f"s_{i}") * F.col(f"s_{i}")
            vb = n * F.col(f"s_{j}_{j}") - F.col(f"s_{j}") * F.col(f"s_{j}")
            lo, hi = sorted((a, b))
            pairs.append(
                F.struct(
                    F.lit(lo).alias("col_a"),
                    F.lit(hi).alias("col_b"),
                    F.round(
                        F.when(
                            (va > 0) & (vb > 0), num / F.sqrt(va * vb)
                        ),
                        r,
                    ).alias("corr"),
                )
            )
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.explode(F.array(*pairs)).alias("_p"),
    ).select(
        F.col("_p.col_a").alias("col_a"),
        F.col("_p.col_b").alias("col_b"),
        "n",
        F.col("_p.corr").alias("corr"),
    )


def _bloom_pos(key_col, j: int, m_bits: int):
    """Bit position of hash ``j`` for a key: md5 48-bit prefix mod m —
    the same seedless cross-engine hash device as the CMS (md5 is
    bit-identical in Spark and DuckDB)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{j}:"), key_col.cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(m_bits))


def _bloom_positions(key_col, m_bits: int, k_hashes: int):
    """``explode`` of a key's ``k_hashes`` bit positions."""
    return F.explode(
        F.array(*[_bloom_pos(key_col, j, m_bits) for j in range(k_hashes)])
    )


def _bloom_mask():
    """The 32-bit-word mask of bit position ``pos``."""
    return F.expr("shiftleft(1L, cast(pos % 32 as int))")


def _bloom_words(
    name: str, df: DataFrame, key_col: str, m_bits: int, k_hashes: int, by=()
) -> DataFrame:
    """``(*by, word, bits)``: the Bloom filter words of ``key_col`` per
    ``by`` group, shared by :func:`bloom_build` (no group) and
    ``io.zone_bloom`` (per zone).  Rows with a NULL key or group are
    dropped; ``bit_or`` merges map-side."""
    if m_bits < 32 or m_bits % 32 != 0:
        raise ValueError(f"{name}: m_bits must be a multiple of 32")
    if k_hashes < 1:
        raise ValueError(f"{name}: k_hashes must be >= 1")
    if key_col not in df.columns:
        raise ValueError(f"{name}: unknown column {key_col}")
    pos = _non_null(df, [key_col, *by]).select(
        *by, _bloom_positions(F.col(key_col), m_bits, k_hashes).alias("pos")
    )
    return (
        pos.select(
            *by, F.expr("pos div 32").alias("word"), _bloom_mask().alias("_m")
        )
        .groupBy(*by, "word")
        .agg(F.bit_or("_m").alias("bits"))
    )


def bloom_build(
    df: DataFrame,
    key_col: str,
    m_bits: int = 1024,
    k_hashes: int = 3,
) -> DataFrame:
    """Bloom filter of ``key_col`` membership: ``word, bits`` with at
    most ``m_bits / 32`` rows — the runtime-filter side of a join.

    This is Spark's own InjectRuntimeFilter / DPP trick made explicit
    and ENGINE-PORTABLE: build the filter over the small (already
    filtered) side, broadcast it, and drop non-matching rows of the
    100-TB side map-side BEFORE the shuffle.  A Bloom miss is definite
    (the key is NOT in the set — zero false negatives); a hit means
    "maybe" with false-positive rate ≈ (1 - e^(-kn/m))^k, so the probe
    is a PRE-FILTER that never changes results, only shuffle volume.

    Layout: 32-bit words stored in BIGINTs (bit 31 max ⇒ masks stay
    positive — BIGINT shift-overflow semantics differ across engines,
    so no bit ever nears the sign position).  Bit positions come from
    ``k_hashes`` independent md5 hashes (seedless, reproducible by any
    engine — unlike Spark's builtin ``bloom_filter_agg`` whose binary
    layout is JVM-private).  ``bit_or`` aggregation is
    order-independent, hence bit-identical on any partitioning.

    Scale (100 TB): the ×k explode happens map-side and ``bit_or``
    combines map-side down to ≤ m/32 rows per partition — the shuffle
    carries the filter, not the data.  NULL keys are dropped (NULL
    joins nothing).

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (join pruning / profiling family).
    """
    return _bloom_words("bloom_build", df, key_col, m_bits, k_hashes)


def bloom_probe(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str,
    m_bits: int = 1024,
    k_hashes: int = 3,
) -> DataFrame:
    """Probe a ``bloom_build`` sketch: ``<key>, bloom_maybe`` where
    ``bloom_maybe = 1`` iff ALL ``k_hashes`` bits are set (0 is a
    DEFINITE non-member; 1 is "maybe", false positives possible).

    The sketch is ≤ m/32 rows — broadcast by construction — so probing
    is a map-side broadcast join plus a per-key MIN: the big probe side
    is never shuffled beyond its own aggregate.  A word no key ever
    touched is absent from the sketch; its bits coalesce to 0 (miss).
    """
    if key_col not in probes.columns:
        raise ValueError(f"bloom_probe: unknown column {key_col}")
    probed = probes.select(
        F.col(key_col),
        _bloom_positions(F.col(key_col), m_bits, k_hashes).alias("pos"),
    ).select(
        key_col, F.expr("pos div 32").alias("word"), _bloom_mask().alias("_m")
    )
    joined = probed.join(
        F.broadcast(sketch.limit(m_bits // 32)), ["word"], "left"
    )
    hit = (
        F.coalesce(F.col("bits"), F.lit(0).cast("long")).bitwiseAND(
            F.col("_m")
        )
        == F.col("_m")
    ).cast("long")
    return joined.groupBy(key_col).agg(F.min(hit).alias("bloom_maybe"))


def ab_proportions(
    df: DataFrame,
    group_cols: Sequence[str],
    unit_col: str,
    salt: str = "ab",
) -> DataFrame:
    """Two-proportion A/B z-test per group — the experiment readout:
    units (users) are split 50/50 by a deterministic md5 coin on
    ``unit_col``, a unit "converts" in a group when it appears there at
    least once, and the group's treatment effect is the classic pooled
    two-proportion z statistic

        z = (p1 - p0) / sqrt(p·(1-p)·(1/n0 + 1/n1)),  p = (c0+c1)/(n0+n1)

    Returns per group: ``n0, n1`` (exposed units per arm), ``c0, c1``
    (converted units), ``p0_6, p1_6`` (arm rates, 6 dp) and ``z6`` (z,
    6 dp; NULL when the pooled variance is 0 — all or none converted).

    Determinism: the arm assignment is a seedless md5 parity — any
    engine reproduces the exact split (the registry twin does); counts
    are integers and the z expression is ONE fixed tree of IEEE
    divisions/multiplications and a correctly-rounded sqrt, so the
    6-dp rounding is bit-stable cross-engine.

    Scale (100 TB): one distinct over ``(group, unit)`` (map-side
    combine) feeding per-group conditional counts — the arm is a
    map-side hash, never a join; one distinct over units for the
    exposure row, broadcast at 1 row.  No shuffle carries the arm.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (experiment-analysis / profiling family).
    """
    group_cols = list(group_cols)
    missing = [c for c in (*group_cols, unit_col) if c not in df.columns]
    if missing:
        raise ValueError(f"ab_proportions: unknown columns {missing}")
    if not group_cols:
        raise ValueError("ab_proportions: group_cols must be non-empty")
    arm = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{salt}:"), F.col(unit_col).cast("string")
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(2),
    )
    cond = F.col(unit_col).isNotNull()
    for c in group_cols:
        cond = cond & F.col(c).isNotNull()
    pairs = (
        df.where(cond).select(*group_cols, unit_col).distinct()
        .withColumn("_v", arm)
    )
    conv = pairs.groupBy(*group_cols).agg(
        F.sum((F.col("_v") == 0).cast("long")).alias("c0"),
        F.sum((F.col("_v") == 1).cast("long")).alias("c1"),
    )
    tot = (
        df.where(F.col(unit_col).isNotNull())
        .select(unit_col)
        .distinct()
        .withColumn("_v", arm)
        .agg(
            F.sum((F.col("_v") == 0).cast("long")).alias("n0"),
            F.sum((F.col("_v") == 1).cast("long")).alias("n1"),
        )
    )
    stats = conv.crossJoin(F.broadcast(tot))
    z_expr = (
        "round((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0) / "
        "sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1)) * "
        "(1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1)) * "
        "(1.0 / n0 + 1.0 / n1)), 6)"
    )
    guard = (
        (F.col("c0") + F.col("c1") > 0)
        & (F.col("c0") + F.col("c1") < F.col("n0") + F.col("n1"))
        & (F.col("n0") > 0)
        & (F.col("n1") > 0)
    )
    return stats.select(
        *group_cols,
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.col("c0").cast("long").alias("c0"),
        F.col("c1").cast("long").alias("c1"),
        F.when(
            F.col("n0") > 0,
            F.expr("round(CAST(c0 AS DOUBLE) / n0, 6)"),
        ).alias("p0_6"),
        F.when(
            F.col("n1") > 0,
            F.expr("round(CAST(c1 AS DOUBLE) / n1, 6)"),
        ).alias("p1_6"),
        F.when(guard, F.expr(z_expr)).alias("z6"),
    )


_HLL_RHO_BITS = 48  # md5 hex chars 5..16 -> 48-bit rho window; register
# values span 1..49 (49 = all-zero window), so 2^(49-reg) fits BIGINT and
# the scaled harmonic sum S = sum(2^(49-reg)) <= m * 2^49 stays exact for
# every p <= 12.


def _hll_alpha_c(m: int) -> float:
    """The folded HLL constant ``alpha_m * m^2 * 2^49`` as ONE python
    double — embedded verbatim into both engines' expressions so the
    estimate is a single literal-over-BIGINT division, bit-identical."""
    if m >= 128:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    elif m == 64:
        alpha = 0.709
    elif m == 32:
        alpha = 0.697
    else:  # m == 16 (p=4 is the documented minimum)
        alpha = 0.673
    return alpha * float(m) * float(m) * float(1 << (_HLL_RHO_BITS + 1))


def _hll_hash_cols(value, salt: str, p: int):
    """(bucket, rho) columns from a seedless md5 — the engine-portable
    HLL hash: hex chars 1..4 (16 bits, uniform) pick the register via
    ``% 2^p``; chars 5..16 (48 bits) yield rho = leading zeros + 1 via
    the binary-string-length device (``49 - length(bin(bits))``, never
    a float log2)."""
    h = F.md5(F.concat(F.lit(f"{salt}:"), value.cast("string")))
    bucket = F.pmod(
        F.conv(F.substring(h, 1, 4), 16, 10).cast("long"), F.lit(1 << p)
    )
    bits = F.conv(F.substring(h, 5, 12), 16, 10).cast("long")
    rho = F.when(
        bits > 0, F.lit(_HLL_RHO_BITS + 1) - F.length(F.bin(bits))
    ).otherwise(F.lit(_HLL_RHO_BITS + 1))
    return bucket, rho


def hll_build(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    p: int = 10,
    salt: str = "hll",
) -> DataFrame:
    """Dense-register HyperLogLog sketch per group — the third leg of
    the cardinality family: ``count(DISTINCT)`` is exact but shuffles
    every distinct value, :func:`kmv_distinct` keeps k order statistics,
    HLL keeps ``m = 2^p`` 6-bit registers and merges with ``MAX`` —
    the only one whose merge is a plain aggregate, so day-over-day /
    partition-over-partition rollups never touch the raw data again.

    Returns ``*group_cols, bucket, register`` — at most ``m`` rows per
    group (absent buckets mean register 0).  Feed to
    :func:`hll_estimate` (optionally through :func:`hll_merge`).

    Determinism: the hash is a seedless md5 both engines share; bucket
    is a 16-bit hex prefix mod ``2^p`` (exactly uniform for p <= 12);
    rho is ``49 - length(bin(bits))`` on a 48-bit window — a binary
    string length, never a float log2, so registers are bit-identical
    across engines and partitionings.

    Scale (100 TB): ONE aggregate over ``(group, bucket)`` with
    map-side partial MAX — the shuffle carries at most ``groups * m``
    rows no matter the input size (vs ``count(DISTINCT)``'s shuffle of
    every distinct value).  The sketch is idempotent (re-adding rows is
    a no-op) and unionable, the streaming-friendly property
    ``streaming_cms`` exploits for CMS.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (cardinality profiling; complements profiling.py's
    KMV/CMS/AGMS/Bloom sketch family).
    """
    if not 4 <= p <= 12:
        raise ValueError(f"hll_build: p must be in [4, 12], got {p}")
    group_cols = list(group_cols)
    missing = [c for c in (*group_cols, value_col) if c not in df.columns]
    if missing:
        raise ValueError(f"hll_build: unknown columns {missing}")
    bucket, rho = _hll_hash_cols(F.col(value_col), salt, p)
    return (
        df.where(F.col(value_col).isNotNull())
        .select(*group_cols, bucket.alias("bucket"), rho.alias("_rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("_rho").cast("long").alias("register"))
    )


def hll_merge(sketches: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Merge unioned HLL sketches: ``MAX(register)`` per (group,
    bucket).  Losslessly equivalent to building one sketch over the
    concatenated inputs — the property that makes HLL the rollup
    sketch (tested)."""
    return (
        sketches.groupBy(*group_cols, "bucket")
        .agg(F.max("register").cast("long").alias("register"))
    )


def hll_estimate(
    sketch: DataFrame, group_cols: Sequence[str], p: int = 10
) -> DataFrame:
    """Cardinality estimate from a :func:`hll_build` sketch.

    Per group: ``hll_v`` (empty registers), ``hll_s`` (the EXACT
    BIGINT-scaled harmonic sum ``sum(2^(49-register))`` including the
    ``V * 2^49`` contribution of absent buckets — the deterministic
    heart of the estimator), and ``est6``, the Flajolet et al. 2007
    estimate rounded at 6 dp:

        E  = alpha_m * m^2 / Z,   Z = S / 2^49
        E* = m * ln(m / V)        when E <= 2.5m and V > 0  (linear
                                   counting, small-range correction)

    Cross-engine: S and V are integers; ``alpha_m * m^2 * 2^49`` is
    folded into ONE python-double literal shared by both engines, so
    the raw branch is a single literal/BIGINT division; the linear-
    counting branch's ``ln`` is the only libm call (1-ulp engine skew
    vanishes at 6 dp).  The 48-bit rho window needs no large-range
    correction at any practical cardinality.
    """
    if not 4 <= p <= 12:
        raise ValueError(f"hll_estimate: p must be in [4, 12], got {p}")
    m = 1 << p
    c = _hll_alpha_c(m)
    pow_col = F.expr(
        f"CAST(power(2, {_HLL_RHO_BITS + 1} - register) AS BIGINT)"
    )
    agg = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_nb"),
        F.sum(pow_col).alias("_sp"),
    )
    v = (F.lit(m) - F.col("_nb")).cast("long")
    s = (
        F.col("_sp")
        + v * F.lit(1 << (_HLL_RHO_BITS + 1)).cast("long")
    ).cast("long")
    raw = F.lit(c) / F.col("hll_s").cast("double")
    lin = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("hll_v"))
    small = (raw <= F.lit(2.5 * m)) & (F.col("hll_v") > 0)
    return (
        agg.select(*group_cols, v.alias("hll_v"), s.alias("hll_s"))
        .select(
            *group_cols,
            "hll_v",
            "hll_s",
            F.round(F.when(small, lin).otherwise(raw), 6).alias("est6"),
        )
    )


def chisq_uniformity(
    df: DataFrame,
    group_cols: Sequence[str],
    bucket_col: str,
    k: int,
) -> DataFrame:
    """Chi-square uniformity screen per group: is the distribution of
    rows over a k-bucket domain (hour-of-day, weekday, shard id, hash
    prefix) consistent with uniform?  The seasonality / partition-skew
    companion to ``key_frequency_histogram``: a large statistic on a
    shard-id bucket means the write path is hot-spotting; on an
    hour-of-day bucket it means load is seasonal and drift baselines
    must be time-of-day-conditioned.

    Uses the algebraic form that is exact under absent buckets:

        chi2 = sum_i (o_i - N/k)^2 / (N/k) = k * sum(o_i^2) / N - N

    (buckets with zero observations contribute 0 to ``sum(o^2)`` and
    are thereby correctly penalized — no dense spine join needed).

    Returns ``*group_cols, n, k_obs, chi2_6`` — ``n`` total rows,
    ``k_obs`` buckets actually observed (``k_obs < k`` flags empty
    buckets), ``chi2_6`` the statistic at 6 dp (compare against the
    chi-square(k-1) critical value; with k fixed that is one literal).

    Determinism: counts are integers; the statistic is ONE fixed
    double expression ``k * S2 / N - N`` evaluated identically by both
    engines.  ``sum(o^2)`` is BIGINT — exact to ~3e9 rows per bucket;
    at true petabyte group sizes promote to decimal(38,0) (the
    checks.py checksum note).

    Scale (100 TB): one (group, bucket) count with map-side combine —
    the shuffle carries at most ``groups * k`` rows — then a k-row
    per-group rollup.  Nothing else touches the base data.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (distribution screening for validation config).
    """
    if k < 2:
        raise ValueError(f"chisq_uniformity: k must be >= 2, got {k}")
    group_cols = list(group_cols)
    missing = [c for c in (*group_cols, bucket_col) if c not in df.columns]
    if missing:
        raise ValueError(f"chisq_uniformity: unknown columns {missing}")
    counts = (
        df.where(F.col(bucket_col).isNotNull())
        .groupBy(*group_cols, bucket_col)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        counts.groupBy(*group_cols)
        .agg(
            F.sum("_c").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("k_obs"),
            F.sum(F.col("_c") * F.col("_c")).cast("long").alias("_s2"),
        )
        .select(
            *group_cols,
            "n",
            "k_obs",
            F.round(
                F.lit(float(k)) * F.col("_s2") / F.col("n") - F.col("n"), 6
            ).alias("chi2_6"),
        )
    )


def weighted_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    weight_col: str,
    ps: Sequence[int] = (50,),
) -> DataFrame:
    """Exact weighted quantiles per group — the robust-stats answer
    when each row carries a mass (median price weighted by quantity,
    median latency weighted by request count): the p-quantile is the
    smallest value whose cumulative weight reaches p% of the group's
    total, the LOWER-quantile convention, decided by the integer-exact
    inequality ``100 · cum_weight >= p · total_weight`` (never a float
    fraction compare, whose boundary can flip cross-engine).

    Returns ``*group_cols, total_w`` and one ``wq{p}`` column per
    requested percentile.  Rows with NULL or non-positive weight carry
    no mass and are dropped (documented; the twin mirrors).

    Determinism: equal values are mass-interchangeable — whatever
    order ties accumulate in (ROWS vs RANGE frames, any partitioning),
    the threshold-crossing VALUE is the same, so the output is
    frame-convention-proof.  All comparisons are integer for integer
    weights.

    Scale (100 TB): ONE value-ordered window pass per group computes
    the running and total weights on the same exchange (Catalyst
    chains both Window operators on one sort); the quantile pick is a
    map-side-combinable MIN aggregate.  All requested percentiles ride
    the same pass — k quantiles cost one shuffle, not k.  Hot-key
    caveat as any per-group sort (``sessions.sessionize`` note).

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (robust profiling; complements
    ``robust_group_outliers``'s unweighted median/MAD).
    """
    ps = list(ps)
    if not ps or any(not 0 < p < 100 for p in ps):
        raise ValueError(
            f"weighted_quantiles: ps must be integers in (0, 100), got {ps}"
        )
    group_cols = list(group_cols)
    missing = [
        c for c in (*group_cols, value_col, weight_col) if c not in df.columns
    ]
    if missing:
        raise ValueError(f"weighted_quantiles: unknown columns {missing}")
    base = df.where(
        F.col(value_col).isNotNull() & (F.col(weight_col) > 0)
    ).select(
        *group_cols,
        F.col(value_col).alias("_v"),
        F.col(weight_col).cast("long").alias("_w"),
    )
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy(*group_cols)
    cum = base.withColumn("_cum", F.sum("_w").over(w_cum)).withColumn(
        "_tot", F.sum("_w").over(w_tot)
    )
    return cum.groupBy(*group_cols).agg(
        F.max("_tot").cast("long").alias("total_w"),
        *[
            F.min(
                F.when(
                    F.lit(100) * F.col("_cum") >= F.lit(p) * F.col("_tot"),
                    F.col("_v"),
                )
            ).alias(f"wq{p}")
            for p in ps
        ],
    )


def seasonal_outliers(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    k_num: int = 3,
    k_den: int = 1,
) -> DataFrame:
    """Seasonal-profile anomaly screen: group rows by a seasonal key
    (e.g. event type × hour-of-week), fit the cell's own mean/variance,
    and count the rows beyond ``k`` sigma — the seasonal-naive residual
    gate, z-scored against the cell the row belongs to.

    INTEGER-EXACT boundary: with an integer ``value_col`` the flag
    ``|x − μ| > k·σ`` is evaluated in cross-multiplied form —
    ``den²·(n·x − Σ)² > num²·(n·Σx² − Σ²)`` — entirely in DECIMAL(38,0)
    (the moments are exact; int64 would overflow at ``n²·x²`` scale
    long before 100 TB), so the cut can never flip cross-engine; k is
    the rational ``k_num/k_den``.  Zero-variance cells flag nothing.

    One map-side-combined aggregate for the moments + one join back
    per cell; the flag count is a second aggregate on the same key, so
    AQE reuses the partitioning.  Output per cell: n, sum, the outlier
    count, and the 6-dp mean.

    Reference parity: generalizes the z-score discipline of
    /root/reference/PyNomaly/loop.py (erf over normalized scores) to
    grouped seasonal cells — engine addition.
    """
    keys = list(key_cols)
    for c in keys + [value_col]:
        if c not in df.columns:
            raise ValueError(f"seasonal_outliers: unknown column {c!r}")
    if k_den <= 0 or k_num < 0:
        raise ValueError("seasonal_outliers: k must be a ratio >= 0")
    base = df.where(F.col(value_col).isNotNull())
    for c in keys:
        base = base.where(F.col(c).isNotNull())
    dec = "decimal(38,0)"
    moments = base.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(value_col).cast("long").alias("_s"),
        F.sum(F.col(value_col).cast(dec) * F.col(value_col).cast(dec))
        .cast(dec)
        .alias("_ss"),
    )
    renamed = moments.select(
        *[F.col(c).alias(f"_k_{c}") for c in keys], "_n", "_s", "_ss"
    )
    cond = functools.reduce(
        lambda a, b: a & b,
        [F.col(c) == F.col(f"_k_{c}") for c in keys],
    )
    j = base.join(renamed, cond)
    nx_s = (
        F.col("_n").cast(dec) * F.col(value_col).cast(dec)
        - F.col("_s").cast(dec)
    )
    var_n2 = F.col("_n").cast(dec) * F.col("_ss") - F.col("_s").cast(
        dec
    ) * F.col("_s").cast(dec)
    is_out = (
        F.lit(k_den * k_den).cast(dec) * nx_s * nx_s
        > F.lit(k_num * k_num).cast(dec) * var_n2
    ) & (var_n2 > 0)
    return j.groupBy(*keys).agg(
        F.max("_n").alias("n"),
        F.max("_s").alias("sum_value"),
        F.sum(is_out.cast("long")).cast("long").alias("n_outliers"),
        F.round(
            F.max(F.col("_s").cast("double") / F.col("_n")), 6
        ).alias("mean_value"),
    )


def winsorized_stats(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lo: int = 5,
    hi: int = 95,
) -> DataFrame:
    """Winsorized group means: clamp each group's values at its own
    exact p_lo/p_hi order statistics (lower-quantile convention,
    integer-exact — :func:`weighted_quantiles` with unit weights),
    then aggregate — the outlier-robust mean that keeps row count,
    unlike trimming.

    Returns per group: ``n``, the clamp thresholds ``t_lo``/``t_hi``,
    ``n_clipped_lo``/``n_clipped_hi``, the exact winsorized integer
    sum and its 6-dp mean.

    Scale (100 TB): thresholds come from the one value-ordered window
    pass of ``weighted_quantiles`` (hot-key caveat documented there);
    the clamp-and-aggregate pass is a broadcast threshold join + one
    map-side-combined aggregate — the base data is scanned twice,
    never shuffled row-wise on value again.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (robust profiling family).
    """
    if not 0 < lo < hi < 100:
        raise ValueError(
            f"winsorized_stats: need 0 < lo < hi < 100, got {lo}, {hi}"
        )
    group_cols = list(group_cols)
    missing = [c for c in (*group_cols, value_col) if c not in df.columns]
    if missing:
        raise ValueError(f"winsorized_stats: unknown columns {missing}")
    base = df.where(F.col(value_col).isNotNull()).select(
        *group_cols, F.col(value_col).alias("_v"), F.lit(1).alias("_w1")
    )
    qs = weighted_quantiles(base, group_cols, "_v", "_w1", ps=(lo, hi))
    thr = F.broadcast(
        qs.select(
            *[F.col(c).alias(f"_q_{c}") for c in group_cols],
            F.col(f"wq{lo}").alias("_tlo"),
            F.col(f"wq{hi}").alias("_thi"),
        )
    )
    cond = functools.reduce(
        lambda a, b: a & b,
        [F.col(c) == F.col(f"_q_{c}") for c in group_cols],
    )
    j = base.join(thr, cond)
    clamped = F.greatest(F.col("_tlo"), F.least(F.col("_thi"), F.col("_v")))
    return j.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("_tlo").cast("long").alias("t_lo"),
        F.max("_thi").cast("long").alias("t_hi"),
        F.sum((F.col("_v") < F.col("_tlo")).cast("long"))
        .cast("long")
        .alias("n_clipped_lo"),
        F.sum((F.col("_v") > F.col("_thi")).cast("long"))
        .cast("long")
        .alias("n_clipped_hi"),
        F.sum(clamped).cast("long").alias("winsor_sum"),
        F.round(
            F.sum(clamped).cast("double") / F.count(F.lit(1)), 6
        ).alias("winsor_mean"),
    )


def qhist_build(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Mergeable quantile-histogram sketch, build stage: bin a
    NON-NEGATIVE integer column into power-of-two bins (bin ``b``
    holds ``2^b ≤ v < 2^(b+1)``; bin 0 holds {0, 1}) — at most 63 bins
    per group, mergeable by addition, the missing member of the
    hll/cms/kmv/bloom mergeable-sketch family for QUANTILES.  The bin
    is ``length(bin(v)) − 1`` — a binary-string length, never a float
    ``log2`` (the key_frequency_histogram device), so edges cannot
    ulp-drift cross-engine.  Negative values raise IN PLAN.

    One map-side-combined aggregate; output ``*group_cols, qbin,
    cnt``.  Daily sketches union + :func:`qhist_merge` into weekly /
    monthly rollups without rescanning history — the IVM shape for
    percentile dashboards (log-scale bins give ≤2× relative value
    error, the standard trade for mergeability at 100 TB).
    """
    group_cols = list(group_cols)
    missing = [c for c in (*group_cols, value_col) if c not in df.columns]
    if missing:
        raise ValueError(f"qhist_build: unknown columns {missing}")
    v = F.when(
        F.col(value_col) < 0,
        F.raise_error("qhist_build: negative value"),
    ).otherwise(F.col(value_col))
    return (
        df.where(F.col(value_col).isNotNull())
        .select(
            *group_cols,
            (F.length(F.bin(v)) - 1).cast("long").alias("qbin"),
        )
        .groupBy(*group_cols, "qbin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def qhist_merge(sketches: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Merge quantile-histogram sketches (a union of
    :func:`qhist_build` outputs) by per-bin addition — associative and
    commutative, so any rollup tree gives the identical histogram."""
    group_cols = list(group_cols)
    return sketches.groupBy(*group_cols, "qbin").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def qhist_estimate(
    sketch: DataFrame,
    group_cols: Sequence[str],
    ps: Sequence[int] = (50, 95),
) -> DataFrame:
    """Quantile estimates from a quantile-histogram sketch: per group,
    the LOWER BOUND of the first bin whose cumulative count reaches
    p% (integer-exact crossing ``100·cum ≥ p·total``, the
    weighted_quantiles convention) — the true p-quantile lies in
    [q{p}_lo, 2·q{p}_lo + 1].  The cumulative window runs over ≤63
    bin rows per group — control-plane size, not data."""
    ps = list(ps)
    if not ps or any(not 0 < p < 100 for p in ps):
        raise ValueError(f"qhist_estimate: ps must be in (0, 100), got {ps}")
    group_cols = list(group_cols)
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("qbin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy(*group_cols)
    cum = sketch.withColumn("_cum", F.sum("cnt").over(w_cum)).withColumn(
        "_tot", F.sum("cnt").over(w_tot)
    )
    lb = F.when(F.col("qbin") == 0, F.lit(0).cast("long")).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(qbin AS INT))")
    )
    return cum.groupBy(*group_cols).agg(
        F.max("_tot").cast("long").alias("n"),
        *[
            F.min(
                F.when(
                    F.lit(100) * F.col("_cum") >= F.lit(p) * F.col("_tot"),
                    lb,
                )
            ).cast("long").alias(f"q{p}_lo")
            for p in ps
        ],
    )


def _non_null(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """The rows of ``df`` whose ``cols`` are all non-null: the rows a key
    constraint over ``cols`` holds on (embedded uniqueness, ICDE 2019)."""
    for c in cols:
        df = df.where(F.col(c).isNotNull())
    return df


def _fd_sides(name: str, df: DataFrame, lhs_cols, rhs_cols) -> tuple:
    """``(lhs, rhs)`` as lists; raises unless both are non-empty and
    name columns of ``df``."""
    lhs, rhs = list(lhs_cols), list(rhs_cols)
    missing = [c for c in lhs + rhs if c not in df.columns]
    if missing:
        raise ValueError(f"{name}: unknown columns {missing}")
    if not lhs or not rhs:
        raise ValueError(f"{name}: lhs and rhs must be non-empty")
    return lhs, rhs


def _fd_violating_keys(
    df: DataFrame, lhs: list, rhs: list, by: Sequence[str] = (), aggs=()
) -> DataFrame:
    """The one functional-dependency core: a row per (``by``, lhs) key
    that maps to more than one distinct rhs tuple, with
    ``n_distinct_rhs`` and the ``aggs`` over the key's (lhs, rhs)
    pairs (columns ``_pair_n``, the pair's row count, and ``_rhs_s``,
    the rendered rhs tuple).

    Rows with a NULL lhs component are dropped first (a NULL lhs is not
    a key); a NULL rhs is a value like any other.  The (lhs, rhs)
    collapse is map-side combined, so agreeing duplicates never
    shuffle."""
    pairs = (
        _non_null(df, lhs)
        .groupBy(*by, *lhs, *rhs)
        .agg(F.count(F.lit(1)).alias("_pair_n"))
        .withColumn(
            "_rhs_s", F.concat_ws("\x1f", *[F.col(c).cast("string") for c in rhs])
        )
    )
    return (
        pairs.groupBy(*by, *lhs)
        .agg(F.count(F.lit(1)).cast("long").alias("n_distinct_rhs"), *aggs)
        .where(F.col("n_distinct_rhs") > 1)
    )


def fd_check(
    df: DataFrame,
    lhs_cols: Sequence[str],
    rhs_cols: Sequence[str],
    max_violators: int = 1000,
) -> DataFrame:
    """Functional-dependency audit (the deequ-style DQ check): does
    ``lhs → rhs`` hold?  Returns one row per VIOLATING lhs key — a key
    mapping to more than one distinct rhs combination — with the
    distinct-rhs count, the key's row count, and two example rhs
    values (the LEXICOGRAPHIC min/max of the rendered rhs tuple —
    stable example picks, not numeric extremes), so a violation report
    shows WHAT disagreed, not just how many.

    Scale (100 TB): one (lhs, rhs)-collapsed aggregate (map-side
    combine eats duplicate pairs — the dominant mass when the FD
    nearly holds) + one lhs aggregate on the collapsed frame.  The
    output is capped at ``max_violators`` via the salted two-phase
    top-k (worst offenders first) — an FD that is 90% broken would
    otherwise emit |keys| rows.

    Reference parity: extends the reference's input-validation stance
    (loop.py's matrix conformance checks) to relational dependencies —
    engine addition (constraint family with checks.Uniqueness /
    ReferentialIntegrity).
    """
    lhs, rhs = _fd_sides("fd_check", df, lhs_cols, rhs_cols)
    per_key = _fd_violating_keys(
        df,
        lhs,
        rhs,
        aggs=(
            F.sum("_pair_n").cast("long").alias("n_rows"),
            F.min("_rhs_s").alias("rhs_min"),
            F.max("_rhs_s").alias("rhs_max"),
        ),
    )
    from .similarity import two_phase_topk

    return two_phase_topk(
        per_key,
        [],
        [
            F.col("n_distinct_rhs").desc(),
            *[F.col(c).asc() for c in lhs],
        ],
        max_violators,
        rank_col="_fd_rn",
    ).drop("_fd_rn")


def _two_sample_cum(
    name: str,
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    coarse_width: int,
) -> DataFrame:
    """The exact two-sample scan shared by :func:`ks_exact` and
    :func:`rank_sum_u`: one row per distinct non-NULL value ``_v`` with
    its per-side counts ``_c1``/``_c2``, the INCLUSIVE cumulative counts
    ``_cum1``/``_cum2`` (#values <= v per side) and the side totals
    ``_cum1_total``/``_cum2_total``.

    Both samples collapse to per-distinct-value counts first (map-side
    combine); the cumulative counts and totals are the two-level
    running sums of ``packing._running_sums`` over monotone value
    buckets (``value div coarse_width``).
    """
    if coarse_width < 1:
        raise ValueError(f"{name}: coarse_width must be >= 1")
    for side, frame in (("a", df_a), ("b", df_b)):
        if value_col not in frame.columns:
            raise ValueError(
                f"{name}: column {value_col!r} missing from df_{side}"
            )

    def tag(frame, c1, c2):
        return frame.where(F.col(value_col).isNotNull()).select(
            F.col(value_col).alias("_v"),
            F.lit(c1).alias("_c1"),
            F.lit(c2).alias("_c2"),
        )

    per_v = (
        tag(df_a, 1, 0)
        .unionAll(tag(df_b, 0, 1))
        .groupBy("_v")
        .agg(F.sum("_c1").alias("_c1"), F.sum("_c2").alias("_c2"))
    )
    return _running_sums(
        per_v,
        ["_v"],
        [F.expr(f"_v div {int(coarse_width)}")],
        {"_cum1": F.col("_c1"), "_cum2": F.col("_c2")},
        totals=True,
    )


def _ratio_6dp(num: Column, den: Column) -> Column:
    """``round(num / den, 6)``, NULL when ``den`` is 0 — one empty side
    has no defined two-sample statistic."""
    return F.when(den != 0, F.round(num.cast("double") / den, 6))


def ks_exact(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    coarse_width: int = 4096,
) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic over integer
    values — the exact complement to ``psi.histogram_ks``'s grid
    approximation: ``D = sup |F_a − F_b|`` evaluated at every distinct
    value (the sup of two step functions is attained at a jump), as
    the INTEGER ``d_num = max |n_b·cum_a(v) − n_a·cum_b(v)|`` with
    ``D = d_num / (n_a·n_b)`` — the statistic is decided by integer
    comparisons, so it cannot ulp-flip cross-engine; only the final
    reported ratio rounds (6 dp).

    Returns one row: ``n_a, n_b, d_num, d`` (``d`` is NULL when a side
    has no non-NULL value).

    Scale (100 TB): per-distinct-value counts and the two-level
    cumulative scan of ``_two_sample_cum`` — never a global
    single-reducer window over the value order.  ``d_num`` is BIGINT —
    promote the cross-products to decimal(38,0) beyond ~3·10⁹ rows per
    side.

    Reference parity: extends the reference's distribution-drift stance
    (LoOP scores; psi.histogram_ks) with an exact test — engine
    addition.
    """
    cum = _two_sample_cum("ks_exact", df_a, df_b, value_col, coarse_width)
    n1, n2 = F.col("_cum1_total"), F.col("_cum2_total")
    gap = F.abs(n2 * F.col("_cum1") - n1 * F.col("_cum2"))
    return (
        cum.agg(
            F.max(n1).alias("n_a"),
            F.max(n2).alias("n_b"),
            F.max(gap).cast("long").alias("d_num"),
        )
        .select(
            "n_a",
            "n_b",
            "d_num",
            _ratio_6dp(F.col("d_num"), F.col("n_a") * F.col("n_b")).alias("d"),
        )
    )


def rank_sum_u(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    coarse_width: int = 4096,
) -> DataFrame:
    """EXACT Mann–Whitney U (rank-sum) statistic over integer values —
    the nonparametric location test beside :func:`ks_exact`'s shape
    test.  Ties are handled by the midrank convention, kept integer by
    doubling: ``u2 = Σ_v cA(v)·(2·cumB(v⁻) + cB(v)) = 2U``, so the
    statistic and the common-language effect size ``U/(nA·nB)`` are
    decided without a single float (the ratio rounds at 6 dp for
    display only).

    Returns one row: ``n_a, n_b, u2, effect`` (effect = U/(nA·nB);
    0.5 = stochastically equal, 1.0 = A always above B; NULL when a
    side has no non-NULL value).

    Scale: identical shape to ``ks_exact`` — the ``_two_sample_cum``
    scan, one final aggregate.  ``u2 ≤ 2·nA·nB``: promote to decimal(38,0)
    beyond ~2·10⁹ rows per side.
    """
    cum = _two_sample_cum("rank_sum_u", df_a, df_b, value_col, coarse_width)
    # 2·cumB(v⁻) + cB(v) = 2·cumB(v) − cB(v): exact in integers
    term = F.col("_c1") * (F.lit(2) * F.col("_cum2") - F.col("_c2"))
    return (
        cum.agg(
            F.max("_cum1_total").alias("n_a"),
            F.max("_cum2_total").alias("n_b"),
            F.sum(term).cast("long").alias("u2"),
        )
        .select(
            "n_a",
            "n_b",
            "u2",
            _ratio_6dp(
                F.col("u2"), F.lit(2) * F.col("n_a") * F.col("n_b")
            ).alias("effect"),
        )
    )


def presence_bitmap(
    df: DataFrame,
    key_cols: list,
    slot_col: str,
    n_slots: int,
) -> DataFrame:
    """Per-key presence bitmap: one BIGINT whose bit ``s`` is set iff
    the key had at least one row in slot ``s`` — the roaring-bitmap-
    style coverage fingerprint (hours-of-day seen, weekdays active,
    shard coverage) that joins, diffs (XOR), and rolls up (OR) as a
    single integer instead of a distinct-set shuffle.  ``bit_or`` is
    associative and commutative, so the aggregate map-side combines
    and the mask is bit-identical on any engine and partitioning.

    ``n_slots`` ≤ 63: bit 63 is the sign bit and DuckDB raises on
    ``1 << 63``, so masks stay non-negative cross-engine.  A null or
    out-of-range slot routes to an in-plan ``raise_error`` (a silently
    wrong mask is worse than a loud failure — the engine's guard
    discipline).

    Returns ``key_cols…, mask, slots_active, n_rows``.

    Scale (100 TB): ONE keyed aggregate, three map-side-combinable
    terms; nothing else.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (profiling/sketch family).
    """
    if not key_cols:
        raise ValueError("presence_bitmap: key_cols must be non-empty")
    for c in list(key_cols) + [slot_col]:
        if c not in df.columns:
            raise ValueError(f"presence_bitmap: unknown column {c!r}")
    if not 1 <= int(n_slots) <= 63:
        raise ValueError("presence_bitmap: n_slots must be in [1, 63]")
    s = F.col(slot_col).cast("long")
    ok = s.isNotNull() & (s >= 0) & (s < int(n_slots))
    bit = F.when(ok, F.expr(f"shiftleft(1L, cast({slot_col} as int))")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"presence_bitmap: slot outside [0, {int(n_slots)}): "
                ),
                F.coalesce(s.cast("string"), F.lit("NULL")),
            )
        ).cast("long")
    )
    return (
        df.select(*key_cols, bit.alias("_bit"))
        .groupBy(*key_cols)
        .agg(
            F.expr("bit_or(_bit)").cast("long").alias("mask"),
            F.expr("bit_count(bit_or(_bit))").cast("long").alias(
                "slots_active"
            ),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )


def spearman_rho(
    df: DataFrame,
    x_col: str,
    y_col: str,
    coarse_width: int = 4096,
) -> DataFrame:
    """Spearman rank correlation over two INTEGER-valued columns — the
    monotone-dependence probe that completes the nonparametric family
    (:func:`ks_exact` shape, :func:`rank_sum_u` location, Pearson in
    ``corr_matrix`` linear).  Ties use the midrank convention kept
    integer by DOUBLING (``dr(v) = 2·|{<v}| + c(v) + 1``), so every
    moment is an exact integer in decimal(38,0); the single closed-form
    division happens once, on an IEEE expression tree mirrored verbatim
    by the SQL twin (decimal→double is round-to-nearest on both
    engines), then truncates to 6-dp fixed point via ``floor``.

    Returns one row: ``n, n_distinct_x, n_distinct_y, rho_6dp``
    (``rho_6dp`` is NULL when either column is constant).

    Scale (100 TB): per column, a per-distinct-value count (map-side
    combined) and the two-level running count of
    ``packing._running_sums`` (never a global single-reducer window),
    one value-keyed join back per column, ONE final moment aggregate.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (profiling/statistics family).
    """
    if coarse_width < 1:
        raise ValueError("spearman_rho: coarse_width must be >= 1")
    for c in (x_col, y_col):
        if c not in df.columns:
            raise ValueError(f"spearman_rho: unknown column {c!r}")
    base = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    )

    def doubled_midranks(col: str) -> DataFrame:
        per_v = base.groupBy(F.col(col).alias("_v")).agg(
            F.count(F.lit(1)).alias("_c")
        )
        # |{<v}| is the running count through v minus c(v)
        return _running_sums(
            per_v,
            ["_v"],
            [F.expr(f"_v div {int(coarse_width)}")],
            {"_cum": F.col("_c")},
        ).select(
            "_v",
            (
                F.lit(2) * (F.col("_cum") - F.col("_c"))
                + F.col("_c")
                + F.lit(1)
            ).alias("_dr"),
        )

    rx = doubled_midranks("_x").select(
        F.col("_v").alias("_vx"), F.col("_dr").alias("_drx")
    )
    ry = doubled_midranks("_y").select(
        F.col("_v").alias("_vy"), F.col("_dr").alias("_dry")
    )
    j = base.join(rx, F.col("_x") == F.col("_vx")).join(
        ry, F.col("_y") == F.col("_vy")
    )
    ndx = rx.agg(F.count(F.lit(1)).cast("long").alias("n_distinct_x"))
    ndy = ry.agg(F.count(F.lit(1)).cast("long").alias("n_distinct_y"))
    return (
        _pearson_6dp(j, "_drx", "_dry")
        .crossJoin(F.broadcast(ndx))
        .crossJoin(F.broadcast(ndy))
        .select(
            F.col("_n").cast("long").alias("n"),
            "n_distinct_x",
            "n_distinct_y",
            F.col("_r6").alias("rho_6dp"),
        )
    )


def _pearson_6dp(frame: DataFrame, x: str, y: str) -> DataFrame:
    """One row ``_n, _r6``: the row count of ``frame`` (decimal(38,0))
    and the Pearson correlation of its integer columns ``x`` and ``y``
    truncated to 6-dp fixed point (BIGINT), NULL under zero variance.

    Every moment is an exact integer sum in decimal(38,0); the single
    closed-form division is an IEEE expression tree the SQL twins mirror
    verbatim (decimal→double is round-to-nearest on both engines), then
    ``floor`` truncates it — the statistic cannot ulp-flip cross-engine.
    """
    dec = "decimal(38,0)"
    a, b = F.col(x).cast(dec), F.col(y).cast(dec)
    m = frame.agg(
        F.count(F.lit(1)).cast(dec).alias("_n"),
        F.sum(a).cast(dec).alias("_sx"),
        F.sum(b).cast(dec).alias("_sy"),
        F.sum(a * a).cast(dec).alias("_sxx"),
        F.sum(b * b).cast(dec).alias("_syy"),
        F.sum(a * b).cast(dec).alias("_sxy"),
    )
    num = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    vx = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vy = F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    r = F.when(
        (vx > 0) & (vy > 0),
        F.floor(
            num.cast("double")
            * F.lit(1000000.0)
            / F.sqrt(vx.cast("double") * vy.cast("double"))
        ),
    ).cast("long")
    return m.select("_n", r.alias("_r6"))


def p_chart(
    df: DataFrame,
    bucket_col: str,
    hit_col: str,
    k_num: int = 3,
    k_den: int = 1,
) -> DataFrame:
    """Shewhart p-chart over per-bucket proportions — statistical
    process control for a monitored defect/violation rate (weekly
    return rate, daily null rate, per-batch dedup rate).  A bucket is
    OUT OF CONTROL when its proportion sits more than ``k = k_num/
    k_den`` binomial sigmas from the pooled rate.

    The flag is INTEGER-DECIDED: with bucket hits ``r`` of ``n`` and
    pooled ``R`` of ``N``, ``|r/n − R/N| > k·√(p̄(1−p̄)/n)`` is squared
    and cross-multiplied to

        k_den² · (r·N − R·n)² > k_num² · R·(N−R) · n

    — all decimal(38,0) integer arithmetic, no sqrt, no float, so the
    verdict is bit-identical on any engine and partitioning (the
    ``seasonal_outliers`` discipline).  Exact to ~3·10⁹ total rows;
    beyond that the squared term approaches decimal(38) capacity.

    Returns per bucket: ``bucket, n, hits, rate_6dp, flag`` plus the
    pooled ``pooled_rate_6dp`` (both rates in truncating 6-dp fixed
    point).

    Scale (100 TB): ONE keyed aggregate collapses the data to
    |buckets| rows map-side; the pooled totals are a 1-row aggregate
    of THAT frame, broadcast back.  Nothing row-grain ever shuffles
    twice.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (profiling/SPC family).
    """
    for c in (bucket_col, hit_col):
        if c not in df.columns:
            raise ValueError(f"p_chart: unknown column {c!r}")
    _check_k("p_chart", k_num, k_den)
    per = (
        df.where(F.col(bucket_col).isNotNull() & F.col(hit_col).isNotNull())
        .groupBy(F.col(bucket_col).alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col(hit_col).cast("long")).cast("long").alias("hits"),
        )
    )
    return _pooled_flag(per, k_num, k_den).select(
        "bucket",
        "n",
        "hits",
        F.expr("(hits * 1000000L) div n").cast("long").alias("rate_6dp"),
        F.col("_out").cast("long").alias("flag"),
        F.expr("(_tr * 1000000L) div _tn")
        .cast("long")
        .alias("pooled_rate_6dp"),
    )


def _check_k(name: str, k_num: int, k_den: int) -> None:
    """Raise unless ``k = k_num/k_den`` is a ratio >= 0."""
    if k_den <= 0 or k_num < 0:
        raise ValueError(f"{name}: k must be a ratio >= 0")


def _k_sigma_sides(diff: Column, spread: Column, n: Column, k_num: int, k_den: int):
    """The two sides of the integer-decided k-sigma test: ``|diff| >
    k·√(spread·n)`` with ``k = k_num/k_den``, squared and
    cross-multiplied, is ``lhs > rhs`` for ``lhs = k_den²·diff²`` and
    ``rhs = k_num²·spread·n``.  ``diff`` and ``spread`` are
    decimal(38,0) columns; both sides are decimal(38,0) — no sqrt, no
    float, so the verdict is bit-identical on any engine and
    partitioning."""
    lhs = F.lit(int(k_den) * int(k_den)).cast(_DEC) * diff * diff
    rhs = F.lit(int(k_num) * int(k_num)).cast(_DEC) * spread * n.cast(_DEC)
    return lhs, rhs


def _pooled_flag(per: DataFrame, k_num: int, k_den: int) -> DataFrame:
    """``per`` — one row per bucket with counts ``n`` and ``hits`` —
    with the pooled totals ``_tn``/``_tr`` (a 1-row aggregate of
    ``per``, broadcast back) and the p-chart flag ``_out``:
    ``k_den²·(hits·_tn − _tr·n)² > k_num²·_tr·(_tn − _tr)·n``."""
    tot = per.agg(
        F.sum("n").cast("long").alias("_tn"),
        F.sum("hits").cast("long").alias("_tr"),
    )
    n, hits = F.col("n").cast(_DEC), F.col("hits").cast(_DEC)
    tn, tr = F.col("_tn").cast(_DEC), F.col("_tr").cast(_DEC)
    lhs, rhs = _k_sigma_sides(hits * tn - tr * n, tr * (tn - tr), n, k_num, k_den)
    return per.crossJoin(F.broadcast(tot)).withColumn("_out", lhs > rhs)


def fd_repair(
    df: DataFrame,
    lhs_cols: Sequence[str],
    rhs_cols: Sequence[str],
    max_suggestions: int = 1000,
) -> DataFrame:
    """Repair suggestions for :func:`fd_check` violations: for every
    lhs key mapping to >1 distinct rhs, the MAJORITY rhs (most rows;
    ties break on the lexicographically smallest rendered rhs) plus
    its vote share — the deterministic survivorship rule a cleaning
    pipeline applies (or routes to review when confidence is low).

    Returns per violating key: ``lhs…, suggested_rhs, votes, n_rows,
    n_distinct_rhs, confidence_6dp`` (``votes·10⁶ div n_rows``,
    truncating — integer-decided).  Capped at ``max_suggestions`` by
    ``(n_distinct_rhs DESC, votes ASC, lhs ASC)`` via the salted
    two-phase top-k — the most ambiguous keys first, exactly the ones
    a human reviews.

    The majority pick is ``min_by`` over the struct ``(−count,
    rendered_rhs)`` — the ``dedup.golden_records`` survivorship
    device: one aggregate, NO window over the key (a hot key's
    variants would funnel through one task).

    Scale (100 TB): identical shape to ``fd_check`` — one (lhs, rhs)
    collapsed aggregate (map-side combine eats agreeing duplicates) +
    one lhs aggregate on the collapsed frame + the capped top-k.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (constraint-repair family).
    """
    lhs, rhs = _fd_sides("fd_repair", df, lhs_cols, rhs_cols)
    sel = F.struct((-F.col("_pair_n")).alias("_neg"), F.col("_rhs_s").alias("_s"))
    per_key = _fd_violating_keys(
        df,
        lhs,
        rhs,
        aggs=(
            F.min_by(F.col("_rhs_s"), sel).alias("suggested_rhs"),
            F.min_by(F.col("_pair_n"), sel).cast("long").alias("votes"),
            F.sum("_pair_n").cast("long").alias("n_rows"),
        ),
    ).select(
        *lhs,
        "suggested_rhs",
        "votes",
        "n_rows",
        "n_distinct_rhs",
        F.expr("(votes * 1000000L) div n_rows").cast("long").alias("confidence_6dp"),
    )
    from .similarity import two_phase_topk

    return two_phase_topk(
        per_key,
        [],
        [
            F.col("n_distinct_rhs").desc(),
            F.col("votes").asc(),
            *[F.col(c).asc() for c in lhs],
        ],
        max_suggestions,
        rank_col="_fr_rn",
    ).drop("_fr_rn")
