"""Sources and sinks for the code table (SURVEY.md §2.1).

The reference coerces arbitrary ndarray/DataFrame/list input with warnings
(``_convert_to_array``, loop.py:176-200).  The engine's equivalent is a
schema-ENFORCED scan with explicit bad-row policy:

* ``PERMISSIVE`` (default): malformed rows land with nulls + the raw
  record in ``_corrupt_record`` — the null-rate check then surfaces them
  as verdicts (the warning analog, but as data);
* ``DROPMALFORMED`` / ``FAILFAST`` passthroughs for stricter pipelines.

Parquet is the sandbox stand-in for Iceberg; ``read_code_table`` keeps the
same contract over either (format param), and the writer partitions by
lang — the Iceberg-style identity partition the checks group by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import StringType, StructField, StructType

from .schema import CODE_TABLE_SCHEMA


def _permissive_schema() -> StructType:
    """CODE_TABLE_SCHEMA + ``_corrupt_record`` as a FRESH StructType.

    ``StructType.add`` MUTATES the receiver, so calling it on the shared
    module constant appends ``_corrupt_record`` permanently — the second
    text-format read in a session then collides with
    ``COLUMN_ALREADY_EXISTS``.  Build a copy, and filter defensively in
    case the constant was already polluted by older code paths.
    """
    fields = [
        f for f in CODE_TABLE_SCHEMA.fields if f.name != "_corrupt_record"
    ]
    return StructType(fields + [StructField("_corrupt_record", StringType(), True)])

__all__ = [
    "read_code_table",
    "read_code_table_catalog",
    "read_code_table_json",
    "read_code_table_csv",
    "read_code_table_orc",
    "write_orc",
    "write_partitioned",
    "write_bucketed_table",
    "zorder_key",
    "zone_map",
    "zone_prune",
    "compaction_plan",
    "compaction_summary",
    "write_range_sorted",
    "zone_bloom",
    "zone_bloom_probe",
]


def read_code_table(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """Schema-enforced scan of the code table.

    Parquet carries its own schema; we still project through the canonical
    ``StructType`` so downstream plans bind to stable names/types and the
    scan prunes to exactly the declared columns.
    """
    df = spark.read.format(fmt).load(path)
    cols = []
    for f in CODE_TABLE_SCHEMA.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def read_code_table_catalog(
    spark: SparkSession, table: str, snapshot_id: str | None = None
) -> DataFrame:
    """Catalog-table scan — the production (Iceberg) entry point.

    On a real cluster the code table is an Iceberg catalog table:
    ``spark.read.table`` resolves it through the configured catalog, and
    Iceberg supplies identity-partition pruning, hidden partitioning,
    and snapshot isolation.  ``snapshot_id`` pins a time-travel read
    (Iceberg's ``snapshot-id`` read option — ignored by non-Iceberg
    tables, where the current state is read).  This sandbox has no
    Iceberg runtime jars, so tests register plain views/tables — the
    call path, schema projection, and downstream plans are identical
    either way.
    """
    reader = spark.read
    if snapshot_id is not None:
        reader = reader.option("snapshot-id", snapshot_id)
    df = reader.table(table)
    cols = []
    for f in CODE_TABLE_SCHEMA.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def read_code_table_json(
    spark: SparkSession,
    path: str,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Text-format ingest with explicit malformed-row policy.

    PERMISSIVE keeps bad rows (schema-null + ``_corrupt_record``) so the
    constraint suite can count and quarantine them instead of crashing —
    the engine's version of the reference's coerce-and-warn behavior.
    """
    return (
        spark.read.schema(_permissive_schema())
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_code_table_csv(
    spark: SparkSession,
    path: str,
    mode: str = "PERMISSIVE",
    header: bool = True,
) -> DataFrame:
    """CSV ingest under the same explicit malformed-row contract as
    :func:`read_code_table_json` (PERMISSIVE keeps bad rows schema-null
    with the raw line in ``_corrupt_record``); multiline quoted fields
    and escaped quotes are on, since code content embeds newlines and
    quotes routinely."""
    return (
        spark.read.schema(_permissive_schema())
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("header", str(header).lower())
        .option("multiLine", "true")
        .option("escape", '"')
        .csv(path)
    )


def read_code_table_orc(
    spark: SparkSession,
    path: str,
) -> DataFrame:
    """ORC ingest with the engine's enforced schema.

    ORC is the other columnar lake format a migrating user arrives
    with (Hive-era warehouses); like the parquet reader this enforces
    the code-table schema at scan time — column pruning and predicate
    pushdown work identically (Spark's OrcScan supports PushedFilters),
    so every downstream plan in the engine is format-agnostic.  Binary
    columnar formats have no malformed-row mode; corruption surfaces as
    a read error, not a quarantine row (that contract is the text
    formats' job).  Delegates to :func:`read_code_table` with
    ``fmt="orc"`` — the schema projection is format-agnostic.
    """
    return read_code_table(spark, path, fmt="orc")


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (snappy, the lake default) — the roundtrip partner of
    :func:`read_code_table_orc` for pipelines whose downstream is a
    Hive-era warehouse."""
    df.write.mode("overwrite").option("compression", "snappy").orc(path)


def write_partitioned(
    df: DataFrame, path: str, partition_col: str = "lang"
) -> None:
    """Identity-partitioned sink (Iceberg-style layout on plain parquet)."""
    (
        df.withColumn(
            "_part", F.coalesce(F.col(partition_col), F.lit("__null__"))
        )
        .write.mode("overwrite")
        .partitionBy("_part")
        .parquet(path)
    )


def write_bucketed_table(
    df,
    table_name: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
) -> None:
    """Persist ``df`` as a BUCKETED catalog table — the co-located-join
    device: two tables bucketed on the same key with the same bucket
    count join WITHOUT a shuffle exchange on either side (Spark matches
    their output partitioning at plan time; the per-bucket ``sortBy``
    additionally removes the join's sort).

    At 100 TB this is how repeated equi-joins against a shared key
    (orders ⋈ lineitem every day) stop paying the dominant cost: the
    shuffle happens ONCE at write time and is amortized over every
    subsequent join/aggregation on that key.  The bucket count is a
    physical layout decision — pick it near the cluster's target task
    count and keep it IDENTICAL across the tables that join.

    ``saveAsTable`` is required (bucket metadata lives in the catalog,
    not in the parquet files); the sandbox's in-memory catalog scopes
    tables to the session, a real deployment uses a shared metastore /
    Iceberg catalog.  The co-located-join plan shape is pinned by
    ``tests/test_io_and_plans.py::test_bucketed_join_plans_no_exchange``.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name)


def zorder_key(cols, bits: int = 16):
    """Z-order (Morton) interleaved key for multi-dimensional data
    layout — the ``OPTIMIZE ZORDER BY`` device: sort/range-partition by
    this key before writing and rows close in EVERY listed dimension
    land in the same files, so min/max row-group statistics prune scans
    filtered on ANY of the dimensions (a plain sort only prunes its
    leading column).

    ``cols`` are non-negative integer column names/Columns (pre-bucket
    continuous values upstream, e.g. ``unix_micros(ts) div 3600e6``);
    each contributes its low ``bits`` bits, interleaved
    round-robin starting at dimension 0's bit 0.  The result is a
    BIGINT (``len(cols) * bits`` must be <= 63).

    Built as a flat sum of ``bits × len(cols)`` shift-mask-shift JVM
    expressions — whole-stage-codegen, map-side, no UDF; the identical
    arithmetic runs in any SQL engine, which is how the oracle twin
    reproduces it bit-for-bit.  Values are masked to ``bits`` (caller
    guarantees the range; masking keeps out-of-range inputs from
    corrupting NEIGHBORING dimensions rather than silently raising).

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (lakehouse layout family, beside
    ``write_partitioned`` / ``write_bucketed_table``).
    """
    cols = list(cols)
    if not cols:
        raise ValueError("zorder_key: cols must be non-empty")
    if bits < 1 or bits * len(cols) > 63:
        raise ValueError(
            f"zorder_key: {len(cols)} dims x {bits} bits exceeds a BIGINT"
        )
    n = len(cols)
    terms = []
    for d, c in enumerate(cols):
        col = F.col(c) if isinstance(c, str) else c
        v = col.cast("long")
        for b in range(bits):
            # bit b of dim d -> output bit b*n + d
            terms.append(
                F.shiftleft(
                    F.shiftright(v, b).bitwiseAND(F.lit(1)), b * n + d
                )
            )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def zone_map(df, zone, minmax_cols, sum_cols=()):
    """Per-zone min/max statistics — the data-skipping index (parquet
    row-group stats / Iceberg manifest ranges / Delta file stats made
    explicit as a relation): ``zone, n_rows`` plus ``<c>_min, <c>_max,
    <c>_nnull`` for every stats column and ``<s>_sum`` for optional
    pre-computed indicator columns (match-count audits).

    ``zone`` is the file/row-group surrogate — any integer expression
    of the LAYOUT order (``ingest_seq div rows_per_file``, a date
    bucket, a ``zorder_key`` prefix).  Data skipping only works when
    the predicate column correlates with that layout; building the
    map over both a clustered and an unclustered column turns that
    design rule into measurable output (see the lineitem_zonemap
    registry query).

    Scale (100 TB): ONE keyed aggregate with map-side combine; the
    output is O(n_zones) — at a million files this is the planner-side
    frame that decides which files a scan opens, exactly how Iceberg
    evaluates manifests.  min/max/count/sum are order-independent, so
    the map is bit-identical on any partitioning.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (lakehouse layout family: zorder_key builds the
    clustered layout, zone_map measures what it buys).
    """
    minmax_cols = list(minmax_cols)
    sum_cols = list(sum_cols)
    if not minmax_cols:
        raise ValueError("zone_map: minmax_cols must be non-empty")
    missing = [
        c for c in (*minmax_cols, *sum_cols) if c not in df.columns
    ]
    if missing:
        raise ValueError(f"zone_map: unknown columns {missing}")
    z = F.col(zone) if isinstance(zone, str) else zone
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in minmax_cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nnull")
        )
    for s in sum_cols:
        aggs.append(F.sum(s).cast("long").alias(f"{s}_sum"))
    return df.groupBy(z.alias("zone")).agg(*aggs)


def zone_prune(zmap, col, lo, hi):
    """Evaluate a range predicate ``col BETWEEN lo AND hi`` against a
    :func:`zone_map`: adds ``pruned`` (1 = the zone provably contains
    NO matching row and its file never needs opening).

    A zone is pruned when ``<col>_max < lo`` or ``<col>_min > hi`` —
    or when its min is NULL (every value in the zone is NULL, and a
    range predicate never matches NULL).  Soundness is the whole
    contract: false positives (opening a file with no matches) cost
    I/O, a false negative would corrupt results — the registry query
    emits ``matched_in_pruned`` from real data as a perpetual audit.
    """
    mn, mx = f"{col}_min", f"{col}_max"
    for c in (mn, mx):
        if c not in zmap.columns:
            raise ValueError(f"zone_prune: zone_map lacks {c}")
    pruned = (
        F.col(mn).isNull()
        | (F.col(mx) < F.lit(lo))
        | (F.col(mn) > F.lit(hi))
    )
    return zmap.withColumn("pruned", pruned.cast("long"))


def compaction_plan(
    files: DataFrame,
    size_col: str,
    order_col: str,
    target_bytes: int,
    group_col: str | None = None,
    n_buckets: int = 32,
) -> DataFrame:
    """Small-file compaction planner — the lakehouse maintenance pass
    that turns a million 2 MB parquet files into target-sized rewrite
    groups.  Each input file is assigned WHOLE to exactly one ``bin``:
    files are laid out in ``(group, order_col)`` order and binned by
    ``floor(exclusive_cumsum(size) / target_bytes)`` — the
    Iceberg-style bin-pack: every bin closes within one file of the
    target (bins hold ``target ± max_file_size`` bytes; an oversized
    file gets bins to itself).  Deterministic: the plan depends only on
    the ordering column, never on scan order.

    Returns the input columns plus ``bin`` (long).  Aggregate with
    :func:`compaction_summary` for the per-bin work list.

    Scale (100 TB of file metadata): the exclusive prefix sum is the
    TWO-LEVEL scan from ``packing.pack_chunks`` (range-bucket local
    cumsums + a broadcast bucket-offset relation) — never a global
    single-reducer window; a billion-file listing plans in one keyed
    shuffle.  This plans; the rewrite itself is
    ``df.where(bin = k).repartition(1).write`` per group, or one job
    partitioned by ``bin``.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (storage-layout maintenance for the 100-TB brief).
    """
    if target_bytes < 1:
        raise ValueError(
            f"compaction_plan: target_bytes must be >= 1, got {target_bytes}"
        )
    from .packing import pack_chunks

    packed = pack_chunks(
        files,
        size_col,
        order_col,
        cap=target_bytes,
        group_col=group_col,
        n_buckets=n_buckets,
    )
    return packed.select(*files.columns, F.col("first_chunk").alias("bin"))


def compaction_summary(
    plan: DataFrame,
    size_col: str,
    order_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Per-bin rollup of a :func:`compaction_plan`: ``n_files``,
    ``total_bytes``, ``first_file`` / ``last_file`` (min/max of the
    ordering column) — the work list a rewrite job executes."""
    grp = [group_col] if group_col else []
    return (
        plan.groupBy(*grp, "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(F.col(size_col).cast("long")).cast("long").alias(
                "total_bytes"
            ),
            F.min(order_col).alias("first_file"),
            F.max(order_col).alias("last_file"),
        )
    )


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    n_files: int | None = None,
) -> None:
    """Range-partitioned, fully-sorted parquet export: rows are range-
    partitioned on ``sort_cols`` (each output file owns a DISJOINT key
    interval) and sorted within every file — the layout that makes
    downstream zone maps (:func:`zone_map`) maximally selective (one
    zone per predicate boundary instead of every zone overlapping) and
    lets merge-join readers consume pre-sorted runs without a shuffle.

    ``repartitionByRange`` plans a sampled RangePartitioner — the
    boundary estimation is a reservoir over the keys, so file SIZES
    are approximate but the disjointness contract is exact.  Contrast
    with :func:`write_bucketed_table` (hash-bucketed: co-located joins,
    no range pruning) and :func:`zorder_key` (multi-column locality,
    no total order): one axis, total order → range-sorted is the
    right layout for time-series / id-scan workloads.
    """
    if not sort_cols:
        raise ValueError("write_range_sorted: sort_cols must be non-empty")
    cols = [F.col(c) for c in sort_cols]
    out = (
        df.repartitionByRange(n_files, *cols)
        if n_files
        else df.repartitionByRange(*cols)
    )
    out.sortWithinPartitions(*cols).write.mode("overwrite").parquet(path)


def zone_bloom(
    df: DataFrame,
    zone,
    key_col: str,
    m_bits: int = 16384,
    k_hashes: int = 3,
) -> DataFrame:
    """Per-zone Bloom index: the point-lookup companion of
    :func:`zone_map`.  Min/max zone stats prune RANGE predicates on
    CLUSTERED columns but are useless for ``key = ?`` on an
    unclustered key (every zone's [min,max] straddles it — the
    lineitem_zonemap orderkey probe measures exactly that).  A per-zone
    Bloom filter answers "can zone z contain key k?" with zero false
    negatives, so equality lookups skip zones safely no matter how the
    data is clustered.

    Returns ``(zone, word, bits)`` — at most ``zones × m_bits/32``
    rows; same 32-bit-word BIGINT layout and seedless md5 positions as
    ``profiling.bloom_build`` (bit-identical on any engine /
    partitioning; ``bit_or`` merges map-side).

    Scale (100 TB): ONE pass — the ×k position explode is map-side and
    collapses to index rows before the shuffle; the index, not the
    data, moves.  Size m for the PER-ZONE key count (fp ≈
    (1-e^(-kn/m))^k); an undersized filter saturates and prunes
    nothing, which the probe's audit columns expose.
    """
    from .profiling import _bloom_words

    zone = F.col(zone) if isinstance(zone, str) else zone
    return _bloom_words(
        "zone_bloom",
        df.withColumn("zone", zone),
        key_col,
        m_bits,
        k_hashes,
        by=("zone",),
    )


def zone_bloom_probe(
    zbloom: DataFrame,
    probes: DataFrame,
    key_col: str,
    m_bits: int = 16384,
    k_hashes: int = 3,
) -> DataFrame:
    """Probe a :func:`zone_bloom` index with a small key list: returns
    ``(zone, <key>, maybe)`` for every (zone, probe key) pair —
    ``maybe = 0`` is a DEFINITE skip (the key cannot be in the zone),
    ``maybe = 1`` schedules the zone for scanning.  The probe list
    broadcasts; the join runs on the index rows, never the data."""
    from .profiling import _bloom_mask, _bloom_positions

    if key_col not in probes.columns:
        raise ValueError(f"zone_bloom_probe: unknown column {key_col}")
    zones = zbloom.select("zone").distinct()
    keys = probes.where(F.col(key_col).isNotNull()).select(key_col).distinct()
    expanded = zones.crossJoin(F.broadcast(keys)).select(
        "zone",
        key_col,
        _bloom_positions(F.col(key_col), m_bits, k_hashes).alias("pos"),
    )
    j = expanded.join(
        zbloom.select(
            F.col("zone").alias("_z"),
            F.col("word").alias("_w"),
            "bits",
        ),
        (F.col("zone") == F.col("_z"))
        & (F.expr("pos div 32") == F.col("_w")),
        "left",
    )
    mask = _bloom_mask()
    hit = (
        F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(mask) == mask
    ).cast("long")
    return (
        j.select("zone", key_col, hit.alias("_h"))
        .groupBy("zone", key_col)
        .agg(F.min("_h").cast("long").alias("maybe"))
    )
