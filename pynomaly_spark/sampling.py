"""Deterministic corpus sampling: reproducible hash sampling and
per-domain caps.

Training-data pipelines never use ``rand()`` sampling: a rerun must keep
exactly the same rows (resume, audit, A/B on a fixed subset).  The
standard device is ordering/filtering by a cryptographic hash of the row
id — reproducible on any engine, any partitioning, any run.  The
reference library has no analog (scoring kernel only); these operators
extend the engine's training-data surface.

Cross-engine determinism: the sort/sample key is the lowercase md5 hex
of the id rendered as a string.  Fixed-length lowercase hex compares
identically as a string in Spark and DuckDB, so the oracle twins in
``queries.py`` reproduce results bit-for-bit without any float math.

Scale design (100 TB reasoning):

* ``deterministic_sample`` is a pure map-side filter on an md5 prefix —
  pushes through scans, no shuffle, no state.
* ``group_cap`` bounds each group (domain/source/host) to its ``k``
  hash-smallest rows.  Spark's ``WindowGroupLimit (Partial)`` already
  bounds the rank shuffle to ≤k rows per group per mapper, but each
  mapper still SORTS its full slice of a viral domain (one host = 10^9
  rows) first.  The two-phase path prunes before that sort: join
  per-group counts (tiny relation, broadcast), keep rows whose hash
  fraction ≤ ``oversample·k/n`` — a map-side join condition, expected
  survivors ~``oversample·k`` per group regardless of group size — then
  rank only the survivors.  Exactness: survivors form a PREFIX of the
  hash order, so whenever a group retains ≥ min(k, n) survivors the k
  smallest keys are all present with unchanged ranks; groups that
  undershoot (md5 is uniform, so probability ~e^{-k} at the default
  oversample) are re-ranked exactly by a retry pass, mirroring the kNN
  brute-force retry pattern.  The retry branch is empty in the common
  case; its cost is one extra scan of the two key columns (column
  pruning keeps that ~1% of table bytes — verified in the physical
  plan: ``ReadSchema: struct<doc_id,source>``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .packing import _running_sums
from .profiling import _check_k, _k_sigma_sides

__all__ = [
    "sample_key",
    "deterministic_sample",
    "group_cap",
    "temperature_rates",
    "temperature_resample",
    "split_thresholds",
    "split_assign",
    "shuffle_order",
    "weighted_sample",
    "sample_bias_audit",
]

_HASH_SPACE = float(1 << 32)


def sample_key(id_col: str) -> Column:
    """Lowercase md5 hex of the id as a string — the deterministic
    sample/sort key (identical rendering in Spark and DuckDB)."""
    return F.md5(F.col(id_col).cast("string"))


def _key_frac(key: Column) -> Column:
    """Uniform [0, 1) fraction from the first 8 hex chars of the key.

    Engine-internal only (DuckDB has no ``conv``); every cross-engine
    comparison uses the hex STRING, of which this is a monotone image.
    """
    return F.conv(F.substring(key, 1, 8), 16, 10).cast("double") / _HASH_SPACE


def deterministic_sample(
    df: DataFrame, rate: float, id_col: str = "doc_id"
) -> Column:
    """Boolean keep-column for a reproducible ``rate`` sample.

    Compares the first 8 hex chars of ``md5(id)`` against the literal
    hex threshold ``floor(rate · 2^32)`` — a pure string comparison any
    engine reproduces.  Returns the predicate (not a filtered frame) so
    callers can also audit the complement.  Rows with a NULL id yield a
    NULL predicate (excluded by WHERE on both the sample and its
    complement) — ids are expected non-null.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    if rate >= 1.0:
        # the threshold would render as 9 hex chars ('100000000') and
        # the 8-char lexicographic compare would EXCLUDE almost all
        # rows; a full sample keeps every non-null id explicitly
        return F.col(id_col).isNotNull()
    thresh = format(int(rate * _HASH_SPACE), "08x")
    return F.substring(sample_key(id_col), 1, 8) < F.lit(thresh)


def group_cap(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
    two_phase: bool = True,
    oversample: float = 4.0,
) -> DataFrame:
    """Keep the ``k`` hash-smallest rows of each group, with their rank.

    Returns ``df``'s columns plus ``rnk`` (1-based within the group,
    ordered by ``(md5(id), id)``).  Deterministic across runs and
    engines; ``two_phase=False`` uses the plain window (fine when no
    group is viral).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    key = sample_key(id_col).alias("_sk")
    w = Window.partitionBy(group_col).orderBy("_sk", id_col)
    ranked = lambda frame: (  # noqa: E731 — tiny local plan builder
        frame.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(*df.columns, "rnk")
    )
    keyed = df.withColumn("_sk", key)
    if not two_phase:
        return ranked(keyed)

    # every phase-2 join is NULL-SAFE on the group key (renamed right
    # sides + eqNullSafe): a NULL domain is a legitimate group, and the
    # name-based inner join would silently drop it from the two-phase
    # path while the naive window keeps it
    counts = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_gn"))
        .withColumnRenamed(group_col, "_gc")
    )
    thresh = F.least(F.lit(1.0), F.lit(oversample * k) / F.col("_gn"))
    survivors = (
        keyed.join(counts, F.col(group_col).eqNullSafe(F.col("_gc")))
        .drop("_gc")
        .where(_key_frac(F.col("_sk")) <= thresh)
    )
    # groups whose survivor prefix is too short to certify the top-k
    # (uniform-hash tail event) re-rank exactly over all their rows
    lacking = (
        survivors.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_sn"), F.first("_gn").alias("_gn"))
        .where(F.col("_sn") < F.least(F.lit(k), F.col("_gn")))
        .select(F.col(group_col).alias("_gl"))
    )
    null_safe_lk = F.col(group_col).eqNullSafe(F.col("_gl"))
    good = survivors.join(F.broadcast(lacking), null_safe_lk, "left_anti")
    retry = keyed.join(F.broadcast(lacking), null_safe_lk, "left_semi")
    return ranked(good).unionByName(ranked(retry))


def split_thresholds(fractions: dict) -> list:
    """Cumulative 8-hex split boundaries ``[(label, hex_or_None),...]``
    for :func:`split_assign` — the SINGLE source both the Spark
    expression and the DuckDB oracle twin render from (the last label
    gets ``None``: it is the catch-all, so floor rounding can never
    leave an id unassigned).  Fractions must be positive and sum to 1.
    """
    if not fractions:
        raise ValueError("fractions must be non-empty")
    vals = list(fractions.values())
    if any(f <= 0 for f in vals):
        raise ValueError(f"fractions must be > 0, got {fractions}")
    if abs(sum(vals) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {sum(vals)}")
    out, cum = [], 0.0
    labels = list(fractions)
    for lbl in labels[:-1]:
        cum += fractions[lbl]
        out.append((lbl, format(int(cum * _HASH_SPACE), "08x")))
    out.append((labels[-1], None))
    return out


def split_assign(
    id_col: str = "doc_id",
    fractions: dict | None = None,
    salt: str = "split",
) -> Column:
    """Deterministic train/val/test assignment: the id's salted md5
    prefix against the cumulative :func:`split_thresholds` boundaries.

    The salt opens a FRESH hash family, so the split is statistically
    independent of :func:`deterministic_sample` / ``group_cap`` keys
    (the same row can be in the 10% sample AND the test split without
    correlation), and stratification is automatic: the hash is
    independent of every stratum column, so each stratum receives the
    fractions in expectation.  Pure map-side string compares — no
    shuffle, no state, reproducible on any engine / partitioning.
    Rows with a NULL id yield NULL (ids are expected non-null).
    """
    if fractions is None:
        fractions = {"train": 0.9, "val": 0.05, "test": 0.05}
    prefix = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))),
        1,
        8,
    )
    expr = None
    last = None
    for lbl, thresh in split_thresholds(fractions):
        if thresh is None:
            last = lbl
            continue
        cond = prefix < F.lit(thresh)
        expr = F.when(cond, lbl) if expr is None else expr.when(cond, lbl)
    fallback = F.when(F.col(id_col).isNotNull(), F.lit(last))
    return fallback if expr is None else expr.otherwise(fallback)


def temperature_rates(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.3,
    target_total: int | None = None,
) -> DataFrame:
    """Per-group keep-rates for temperature resampling: sample groups in
    proportion to ``p_g^alpha`` (renormalized), the standard multilingual
    corpus-rebalancing scheme (alpha=1 keeps the natural distribution,
    alpha->0 approaches uniform over groups).  With ``n_g`` rows in group
    ``g`` out of ``N`` total and a target corpus size ``K`` (default
    ``N``),

        q_g  = (n_g/N)^alpha / sum_m (n_m/N)^alpha
        rate = min(1, q_g * K / n_g)            (rounded to 6 dp)

    so head groups are downsampled while tail groups keep everything
    (clamp at 1 — hash sampling cannot upsample).

    Plan shape: one ``groupBy`` count over the corpus; everything after
    runs on the tiny per-group relation (two scalar aggregates folded in
    via broadcast cross joins).  Returns ``(group_col, n_rows, rate)``.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    if target_total is not None and target_total < 0:
        raise ValueError(f"target_total must be >= 0, got {target_total}")

    # materialize the per-group counts ONCE (tiny, group-cardinality
    # rows): four consumers hang off this frame (total, powers, Z, the
    # final select) and without the lineage cut each one re-embeds —
    # and re-scans — the corpus groupBy in the physical plan (measured:
    # three duplicate count subtrees in doc_temp_resample's plan)
    counts = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_rows")
    ).localCheckpoint()
    tot = counts.agg(F.sum("n_rows").cast("double").alias("_tn"))
    powed = counts.crossJoin(F.broadcast(tot)).withColumn(
        "_pa", F.pow(F.col("n_rows") / F.col("_tn"), F.lit(float(alpha)))
    )
    z = powed.agg(F.sum("_pa").alias("_z"))
    k = F.lit(float(target_total)) if target_total is not None else F.col("_tn")
    return (
        powed.crossJoin(F.broadcast(z))
        .select(
            group_col,
            "n_rows",
            F.round(
                F.least(
                    F.lit(1.0),
                    (F.col("_pa") / F.col("_z")) * k / F.col("n_rows"),
                ),
                6,
            ).alias("rate"),
        )
    )


def temperature_resample(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.3,
    target_total: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Filter ``df`` to a reproducible temperature-rebalanced sample:
    each group keeps its rows whose md5 prefix falls under that group's
    :func:`temperature_rates` threshold — the same hash-prefix device as
    :func:`deterministic_sample`, with a per-group rate.  Rows with a
    NULL id are dropped (ids are expected non-null); a NULL group value
    is a legitimate group and is rate-joined null-safely.

    Scale: the rate relation is one row per group (broadcast); the
    filter itself is a map-side string comparison — no shuffle of the
    corpus beyond the one counting aggregate.
    """
    rates = temperature_rates(df, group_col, alpha, target_total).select(
        F.col(group_col).alias("_rg"), F.col("rate").alias("_rate")
    )
    # floor(rate * 2^32) rendered as the 8-hex threshold; rate >= 1
    # (after 6-dp rounding) keeps the whole group — the 9-hex-char
    # threshold would lexicographically exclude almost everything
    thresh = F.lower(
        F.lpad(F.hex(F.floor(F.col("_rate") * F.lit(_HASH_SPACE))), 8, "0")
    )
    keep = F.when(
        F.col("_rate") >= 1.0, F.col(id_col).isNotNull()
    ).otherwise(F.substring(sample_key(id_col), 1, 8) < thresh)
    return (
        df.join(
            F.broadcast(rates), F.col(group_col).eqNullSafe(F.col("_rg")), "left"
        )
        .where(keep)
        .select(*df.columns)
    )


def shuffle_order(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = "shuffle",
    n_shards: int = 0,
    n_buckets: int = 256,
) -> DataFrame:
    """Deterministic global training order: every row gets its exact
    0-based ``position`` in the corpus ordered by the salted md5 of its
    id — the reproducible equivalent of "shuffle the dataset once
    before training" — plus, when ``n_shards`` > 0, its round-robin
    data-parallel ``shard`` (``position % n_shards``; shard sizes
    differ by at most one).

    Resume/audit contract: a rerun on any partitioning, any engine,
    reproduces the identical order, so "continue from position P" is
    well-defined and the oracle twin is a plain ``row_number() OVER
    (ORDER BY md5(...), id)``.

    Scale (100 TB reasoning): ``position`` is the two-level running
    count of ``packing._running_sums``, never one global ``row_number``.
    The md5 key is uniform, so the buckets need no quantile sketch
    (unlike :func:`~pynomaly_spark.packing.pack_chunks`, whose order
    ids are arbitrary): ``bucket = floor(key16 * n_buckets / 65536)``
    on the first four hex chars is MONOTONE in the key string.

    Rows with a NULL id carry no identity and are dropped (documented,
    mirrored by the twin).  Ids are expected unique; duplicate ids tie
    on the full sort key and receive an arbitrary but set-identical
    block of positions.
    """
    if n_buckets < 1 or n_buckets > 65536:
        raise ValueError(f"n_buckets must be in [1, 65536], got {n_buckets}")
    if n_shards < 0:
        raise ValueError(f"n_shards must be >= 0, got {n_shards}")
    key = F.md5(
        F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    )
    # key16 <= 65535, * n_buckets <= 2^32 — exact in double, floor exact
    bkt = F.floor(
        F.conv(F.substring(F.col("_key"), 1, 4), 16, 10).cast("long")
        * n_buckets
        / F.lit(65536)
    ).cast("int")
    ranked = _running_sums(
        df.where(F.col(id_col).isNotNull()).withColumn("_key", key),
        ["_key", id_col],
        [bkt],
        {"_row_number": F.lit(1)},
    )
    pos = F.col("_row_number") - 1
    cols = [*df.columns, pos.alias("position")]
    if n_shards:
        cols.append(F.pmod(pos, F.lit(n_shards)).cast("long").alias("shard"))
    return ranked.select(*cols)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsample",
    prio_round: int = 6,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via exponential keys
    (Efraimidis–Spirakis A-ES): each row draws the deterministic
    uniform ``u = (h + 1) / 2^48`` from an md5 48-bit prefix of
    ``salt:id`` and gets priority ``u^(1/w)``; the k LARGEST
    priorities are the sample — distributed, single-pass, reproducible,
    and correct without replacement (the classic reservoir trick, but
    order-free so it parallelizes as a plain top-k).

    Returns ``id, weight, prio6, rank`` (rank 1..k).  The priority is
    ONE ``pow`` call on exact rational inputs; selection orders by
    ``(round(prio, prio_round) DESC, id ASC)`` — the engine's
    established float-boundary device (ANN rank_round): the round makes
    the one float comparable cross-engine and the id tiebreak makes the
    k-boundary a total order.  The salt is a fresh hash family,
    independent of ``sample_key``'s — reusing one family across
    sampling stages correlates the stages (the doc_split lesson).

    Rows with NULL id/weight or weight <= 0 are dropped (zero-weight
    rows have priority 0 by definition and can never be sampled;
    negative weights are undefined).

    Scale (100 TB): priorities are map-side expressions; selection is
    ``two_phase_topk`` — salted phase 1 bounds every reducer, no
    global-window single-reducer funnel.
    """
    if k < 1:
        raise ValueError(f"weighted_sample: k must be >= 1, got {k}")
    missing = [c for c in (id_col, weight_col) if c not in df.columns]
    if missing:
        raise ValueError(f"weighted_sample: unknown columns {missing}")
    from .similarity import two_phase_topk

    h = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 48))
    scored = (
        df.where(
            F.col(id_col).isNotNull()
            & F.col(weight_col).isNotNull()
            & (F.col(weight_col) > 0)
        )
        .select(
            F.col(id_col).alias("id"),
            F.col(weight_col).cast("long").alias("weight"),
            F.round(
                F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")),
                prio_round,
            ).alias("prio6"),
        )
    )
    return two_phase_topk(
        scored,
        [],
        [F.col("prio6").desc(), F.col("id").asc()],
        k,
        rank_col="rank",
    )


def sample_bias_audit(
    df: DataFrame,
    group_col: str,
    value_col: str,
    rate: float,
    id_col: str = "doc_id",
    k_num: int = 2,
    k_den: int = 1,
) -> DataFrame:
    """Bias audit of :func:`deterministic_sample`: per group, does the
    SAMPLE's mean of ``value_col`` sit within ``k = k_num/k_den``
    binomial-ish sigmas of the full-population mean?  The check every
    pipeline owes its downstream consumers before shipping a hash
    sample as "representative" — a hash accidentally correlated with
    the value (e.g. sampling on an id that encodes length) fails HERE,
    not in production.

    The verdict is INTEGER-DECIDED (the ``p_chart`` discipline): with
    sample sum/count ``s, n`` and full ``S, N, SS``,

        |s/n − S/N| > k·√(var/n),  var = (N·SS − S²)/N²

    cross-multiplies to

        k_den²·(s·N − S·n)² > k_num²·(N·SS − S²)·n

    — all decimal(38,0), no float.  ``ratio_6dp`` reports
    ``lhs·10⁶ div rhs`` (how close each group sits to the boundary;
    > 10⁶ ⟺ flagged — ``flag`` uses the strict ``lhs > rhs``, so at
    exact boundary equality ``ratio_6dp`` = 10⁶ with ``flag`` = 0) so
    the PASS state still carries a full-surface margin, not just
    zeros.  Requires integer-valued ``value_col``.

    Returns per group: ``group, n_full, n_sample, mean_full_6dp,
    mean_sample_6dp, ratio_6dp, flag``.

    Scale (100 TB): ONE keyed aggregate with five map-side-combined
    conditional sums; the sample is a predicate, never a second scan.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (sampling/DQ family).
    """
    for c in (group_col, value_col, id_col):
        if c not in df.columns:
            raise ValueError(f"sample_bias_audit: unknown column {c!r}")
    _check_k("sample_bias_audit", k_num, k_den)
    keep = deterministic_sample(df, rate, id_col)
    dec = "decimal(38,0)"
    v = F.col(value_col).cast("long")
    agg = (
        df.where(
            F.col(group_col).isNotNull()
            & F.col(value_col).isNotNull()
            & F.col(id_col).isNotNull()
        )
        .select(F.col(group_col).alias("group"), v.alias("_v"), keep.alias("_k"))
        .groupBy("group")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_full"),
            F.sum("_v").cast("long").alias("_sum_full"),
            F.sum(F.col("_v").cast(dec) * F.col("_v").cast(dec))
            .cast(dec)
            .alias("_SS"),
            F.sum(F.col("_k").cast("long")).cast("long").alias("n_sample"),
            F.sum(F.when(F.col("_k"), F.col("_v")).otherwise(F.lit(0)))
            .cast("long")
            .alias("_sum_samp"),
        )
        .where(F.col("n_sample") > 0)
    )
    diff = (
        F.col("_sum_samp").cast(dec) * F.col("n_full").cast(dec)
        - F.col("_sum_full").cast(dec) * F.col("n_sample").cast(dec)
    )
    spread = (
        F.col("n_full").cast(dec) * F.col("_SS")
        - F.col("_sum_full").cast(dec) * F.col("_sum_full").cast(dec)
    )
    lhs, rhs = _k_sigma_sides(diff, spread, F.col("n_sample"), k_num, k_den)
    return agg.select(
        "group",
        "n_full",
        "n_sample",
        F.expr("(_sum_full * 1000000L) div n_full").cast("long").alias(
            "mean_full_6dp"
        ),
        F.expr("(_sum_samp * 1000000L) div n_sample").cast("long").alias(
            "mean_sample_6dp"
        ),
        F.when(rhs > 0, (lhs * F.lit(1000000).cast(dec)).cast(dec))
        .otherwise(None)
        .alias("_lhs6"),
        rhs.alias("_rhs"),
        (lhs > rhs).cast("long").alias("flag"),
    ).select(
        "group",
        "n_full",
        "n_sample",
        "mean_full_6dp",
        "mean_sample_6dp",
        F.expr("_lhs6 div _rhs").cast("long").alias("ratio_6dp"),
        "flag",
    )
