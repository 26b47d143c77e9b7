"""LoOP distribution-drift scoring as Spark operators.

One logical op (score every row's local outlier probability within its
partition group) with one exact grouped plan, one distributed plan and
one precomputed-kNN entry point:

* :func:`loop_grouped` — EXACT. One hash ``repartition`` on the group
  keys, then ``mapInPandas`` running a pandas groupby per task; each
  group is one :mod:`pynomaly_spark.kernel` fit (kNN -> ... -> erf).
  This is the reference semantics bit-for-bit (reference ``fit()``,
  loop.py:957-991, one fit per group) and the golden-parity path.  One
  shuffle total, and one Arrow stream per task rather than one frame
  per group.  Right choice while a group fits one worker (<= ~1e6 rows).

* :func:`loop_distributed` — SCALABLE. Pure DataFrame composition:
  grid-bucketed kNN self-join (:mod:`pynomaly_spark.knn`), array math for
  ssd/sigma/pdist (``aggregate``/``zip_with``, JVM codegen), an
  explode+join for the neighborhood expected value, window aggregates for
  the per-group moments, and a vectorized Arrow UDF only for ``erf``.
  Exact given an exact kNN input; with the bucketed join it is the
  documented at-scale approximation.  Use when single groups exceed
  worker memory (the reference could not process these at all).

* :func:`loop_from_knn_table` — the precomputed-kNN entry point (custom
  distance metrics), mirroring the reference's distance-matrix mode
  (loop.py:974-975 skips ``_distances``).  Same grouped plan as
  :func:`loop_grouped`, with the kernel's post-kNN stages per group.

Groups smaller than ``n_neighbors + 1`` are GATED, not crashed: their rows
come back with ``gated = true`` and null scores, and the constraint layer
turns that into a per-partition fail verdict (the reference raises
ClusterSizeError, loop.py:257-273 — a non-option for a 10^12-row job).
"""

from __future__ import annotations

import math
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import kernel
from .knn import _ns_join, knn_self_join

__all__ = [
    "loop_grouped",
    "loop_distributed",
    "loop_from_knn_table",
    "LOOP_OUTPUT_SCHEMA",
]

LOOP_OUTPUT_SCHEMA = StructType(
    [
        StructField("partition_id", StringType(), True),
        StructField("row_id", LongType(), False),
        StructField("loop_score", DoubleType(), True),
        StructField("prob_distance", DoubleType(), True),
        StructField("prob_distance_ev", DoubleType(), True),
        StructField("plof", DoubleType(), True),
        StructField("nplof", DoubleType(), True),
        StructField("gated", BooleanType(), False),
    ]
)


def _pid_str(value) -> Optional[str]:
    """A group key as its output ``partition_id``: the string, or None
    for a NULL key (which surfaces as NaN through Arrow), so a NULL
    partition stays NULL and still matches itself null-safely."""
    try:
        if value is None or pd.isna(value):
            return None
    except (TypeError, ValueError):
        pass
    return str(value)


def _result_frame(pid, row_ids, res: "kernel.LoopResult") -> pd.DataFrame:
    return pd.DataFrame(
        {
            "partition_id": pid,
            "row_id": row_ids,
            "loop_score": res.scores,
            "prob_distance": res.prob_distance,
            "prob_distance_ev": res.prob_distance_ev,
            "plof": res.plof,
            "nplof": res.nplof,
            "gated": False,
        }
    )


def _gated_frame(pid, row_ids) -> pd.DataFrame:
    n = len(row_ids)
    return pd.DataFrame(
        {
            "partition_id": pid,
            "row_id": row_ids,
            "loop_score": [None] * n,
            "prob_distance": [None] * n,
            "prob_distance_ev": [None] * n,
            "plof": [None] * n,
            "nplof": [None] * n,
            "gated": True,
        }
    )


def _slim(df, id_col, partition_col, features_col, fcols, carry, salt_col):
    """The columns a per-group fit reads: id, the partition as a string,
    the features (flat ``fcols`` or the array ``features_col``), then
    the carry and salt columns."""
    feat_sel = (
        [F.col(c) for c in fcols]
        if fcols
        else [F.col(features_col).alias(features_col)]
    )
    return df.select(
        F.col(id_col),
        F.col(partition_col).cast("string").alias(partition_col),
        *feat_sel,
        *[F.col(c) for c in carry],
        *([F.col(salt_col)] if salt_col else []),
    )


def _score_group(
    g: pd.DataFrame,
    pid: str,
    k: int,
    ext: int,
    id_col: str,
    features_col: str,
    fcols: list,
    carry: list,
    exact_tiebreak: bool = False,
) -> pd.DataFrame:
    """One group's output frame: gated when it has at most ``k`` rows,
    else one LoOP fit; ``carry`` columns pass through."""
    if exact_tiebreak:
        # position order == id order, so the kernel's stable-sort
        # tie-break equals the oracle's ORDER BY (dist, id)
        g = g.sort_values(id_col, kind="stable")
    row_ids = g[id_col].to_numpy()
    if len(g) <= k:
        out = _gated_frame(pid, row_ids)
    else:
        if fcols:
            pts = g[fcols].to_numpy(dtype=np.float64)
        else:
            pts = np.stack(g[features_col].to_numpy())
        if exact_tiebreak:
            # duplicate-collapsing (dist, id) path: O(distinct^2)
            # instead of O(rows^2) on tie-heavy features, same
            # outputs (kernel.loop_scores_tied docstring)
            res = kernel.loop_scores_tied(pts, n_neighbors=k, extent=ext)
        else:
            res = kernel.loop_scores(pts, n_neighbors=k, extent=ext)
        out = _result_frame(pid, row_ids, res)
    for c in carry:
        out[c] = g[c].to_numpy()
    return out


def _map_groups(slim: DataFrame, keys: list, out_schema: StructType, body):
    """ONE hash repartition on ``keys``, then ``mapInPandas`` running a
    pandas groupby per task: one Arrow stream per TASK, not one frame
    per GROUP (the per-invocation framing cost that dominates thousands
    of small salted sub-fits).  Groups never span tasks (hash
    co-location).  ``body(g, pid)`` returns one group's output frame.
    """
    out_cols = [f.name for f in out_schema.fields]

    def run(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if not len(pdf):
            return
        # dropna=False: null group keys must be scored (as a NULL
        # pid) — pandas' default silently drops them
        outs = [
            body(g, _pid_str(key[0] if isinstance(key, tuple) else key))
            for key, g in pdf.groupby(keys, sort=False, dropna=False)
        ]
        yield pd.concat(outs, ignore_index=True)[out_cols]

    return slim.repartition(*keys).mapInPandas(run, out_schema)


def loop_grouped(
    df: DataFrame,
    n_neighbors: int = 10,
    extent: int = 3,
    partition_col: str = "partition_id",
    features_col: str = "features",
    id_col: str = "row_id",
    carry_cols: Optional[list] = None,
    salt_col: Optional[str] = None,
    feature_cols: Optional[list] = None,
    exact_tiebreak: bool = False,
) -> DataFrame:
    """Exact per-group LoOP: one kernel fit per group, all groups of a
    task in one Arrow stream (:func:`_map_groups`).

    ``exact_tiebreak``: sort each group by ``id_col`` and select kNN
    neighbors by ``(distance, id)`` lexicographic order
    (:func:`pynomaly_spark.kernel.knn`) — required for cross-engine
    oracle parity on tie-heavy features (identical feature rows make
    the default argpartition subset arbitrary).  Ids must be orderable
    consistently with the oracle's ``ORDER BY`` (integers, or strings
    whose lexicographic order is the intended one).

    Input: ``(id_col, partition_col, features_col: array<double>)`` — or,
    with ``feature_cols``, one scalar double column per dimension, which
    ships through Arrow as flat columns and loads into the kernel as one
    vectorized copy instead of a million per-row array objects (the same
    transport trick as the cell-cogrouped kNN; measurably faster at 1M+
    rows).
    Output: :data:`LOOP_OUTPUT_SCHEMA` (+ ``carry_cols`` passed through,
    saving a re-join against the source for violation reporting — prefer
    joining carry columns back onto the FILTERED output when only
    violations need them).

    ``salt_col``: when set, grouping is by ``(partition_col, salt_col)``
    and each sub-group is scored independently — the documented at-scale
    approximation for skewed hot partitions (see
    :func:`pynomaly_spark.skew.with_salt`).  The emitted ``partition_id``
    stays the ORIGINAL partition value.  Per-task memory is
    total_rows/shuffle_partitions plus group skew, so keep salting on
    for hot partitions.
    """
    k, ext = int(n_neighbors), int(extent)
    carry = list(carry_cols or [])
    fcols = list(feature_cols or [])
    out_schema = StructType(
        LOOP_OUTPUT_SCHEMA.fields + [df.schema[c] for c in carry]
    )

    def body(g: pd.DataFrame, pid: str) -> pd.DataFrame:
        return _score_group(
            g, pid, k, ext, id_col, features_col, fcols, carry, exact_tiebreak
        )

    slim = _slim(df, id_col, partition_col, features_col, fcols, carry, salt_col)
    keys = [partition_col] + ([salt_col] if salt_col else [])
    return _map_groups(slim, keys, out_schema, body)


def loop_from_knn_table(
    df: DataFrame,
    n_neighbors: int,
    extent: int = 3,
    partition_col: str = "partition_id",
    id_col: str = "row_id",
    dists_col: str = "knn_dists",
    ids_col: str = "knn_ids",
) -> DataFrame:
    """Precomputed-kNN entry point (grouped exact math, no kNN stage).

    ``ids_col`` holds neighbor ``row_id`` values (global, like the
    reference's global row indexes); they are remapped to group-local
    positions before the gather.
    """
    k, ext = int(n_neighbors), int(extent)

    def body(g: pd.DataFrame, pid: str) -> pd.DataFrame:
        row_ids = g[id_col].to_numpy()
        d = np.stack(g[dists_col].to_numpy()).astype(np.float64)
        nbr = np.stack(g[ids_col].to_numpy()).astype(np.int64)
        pos = {rid: i for i, rid in enumerate(row_ids.tolist())}
        local = np.vectorize(pos.__getitem__, otypes=[np.int64])(nbr)
        res = kernel.loop_from_knn(d, local, k, extent=ext)
        return _result_frame(pid, row_ids, res)

    slim = df.select(
        F.col(id_col),
        F.col(partition_col).cast("string").alias(partition_col),
        F.col(dists_col),
        F.col(ids_col),
    )
    return _map_groups(slim, [partition_col], LOOP_OUTPUT_SCHEMA, body)


def _erf_udf():
    """Arrow UDF over the kernel's erf (scipy when importable, else a
    vectorized ``math.erf``; resolved once in :mod:`kernel`)."""

    def _apply(s: pd.Series) -> pd.Series:
        return pd.Series(kernel._erf_vec(s.to_numpy(dtype=np.float64)))

    return F.pandas_udf(_apply, DoubleType())


def loop_distributed(
    df: DataFrame,
    n_neighbors: int = 10,
    extent: int = 3,
    partition_col: str = "partition_id",
    features_col: str = "features",
    id_col: str = "row_id",
    knn_table: Optional[DataFrame] = None,
    cell_size: Optional[float] = None,
    caches_out: Optional[list] = None,
) -> DataFrame:
    """Distributed LoOP: every stage a DataFrame op; Python only for erf.

    Plan shape (shuffles annotated)::

        scan -> [exchange: cell]   bucketed kNN self-join
             -> [exchange: row_id] top-k window + array assembly
             -> aggregate/zip_with ssd/sigma/pdist          (no shuffle)
             -> explode knn_ids -> [exchange: nbr id] join  EV of pdist
             -> window over partition_col                    group moments
             -> erf (vectorized Arrow UDF)                   scores

    Returns the same schema as :func:`loop_grouped` (small per-group
    metadata differences: ``gated`` rows are those whose group count <= k,
    decided with a window count, no extra job).
    """
    k, ext = int(n_neighbors), int(extent)

    base = df.select(
        F.col(id_col),
        F.col(partition_col).cast("string").alias(partition_col),
        F.col(features_col),
    )

    # Gate small groups up-front (reference raises ClusterSizeError here;
    # the engine emits fail-verdict rows instead).  The per-group count is
    # tiny (one row per partition) -> broadcast it.  Every join on the
    # partition is null-safe: a NULL partition is a partition.
    counts = base.groupBy(partition_col).agg(F.count(F.lit(1)).alias("_n"))
    sized = _ns_join(base, F.broadcast(counts), [partition_col])
    gated_rows = sized.where(F.col("_n") <= k).select(
        partition_col,
        id_col,
        F.lit(None).cast("double").alias("loop_score"),
        F.lit(None).cast("double").alias("prob_distance"),
        F.lit(None).cast("double").alias("prob_distance_ev"),
        F.lit(None).cast("double").alias("plof"),
        F.lit(None).cast("double").alias("nplof"),
        F.lit(True).alias("gated"),
    )
    base = sized.where(F.col("_n") > k).drop("_n")

    if knn_table is None:
        knn_table = knn_self_join(
            base,
            k,
            features_col=features_col,
            id_col=id_col,
            partition_col=partition_col,
            cell_size=cell_size,
            caches_out=caches_out,
        )

    # A1-A3: per-row array math, all JVM-side
    ssd = F.aggregate("knn_dists", F.lit(0.0), lambda acc, x: acc + x * x)
    t = knn_table.withColumn("_ssd", ssd).withColumn(
        "pdist", F.lit(float(ext)) * F.sqrt(F.col("_ssd") / F.lit(float(k)))
    )

    # A4: neighborhood EV — explode neighbor ids, join back pdist, mean.
    # The lookup joins on (neighbor id, partition): neighbors never cross
    # partitions, and an id-only join would merge same-id rows of
    # different partitions (round-2 ADVICE).
    nbr = t.select(id_col, partition_col, F.explode("knn_ids").alias("_nid"))
    pd_lookup = t.select(
        F.col(id_col).alias("_nid"),
        F.col(partition_col),
        F.col("pdist").alias("_nbr_pdist"),
    )
    ev = (
        _ns_join(nbr, pd_lookup, ["_nid", partition_col], how="left")
        .groupBy(id_col, partition_col)
        .agg(F.avg("_nbr_pdist").alias("ev_pdist"))
    )
    t = _ns_join(t, ev, [id_col, partition_col])

    # A5 with the reference's guards, partition-scoped:
    wp = Window.partitionBy(partition_col)
    all_equal = F.max(F.abs(F.col("pdist") - F.col("ev_pdist"))).over(wp) == 0.0
    ev_safe = F.when(F.col("ev_pdist") == 0.0, F.lit(1.0e-8)).otherwise(
        F.col("ev_pdist")
    )
    t = t.withColumn(
        "plof",
        F.when(all_equal, F.lit(0.0)).otherwise(
            F.col("pdist") / ev_safe - F.lit(1.0)
        ),
    )

    # A6-A7: per-group second moment and normalizer (window aggregates;
    # Catalyst executes these as partial+final aggregation)
    t = t.withColumn(
        "nplof",
        F.lit(float(ext)) * F.sqrt(F.avg(F.pow("plof", 2)).over(wp)),
    )

    # A8: clamped erf; the only Python (vectorized Arrow batches)
    erf = _erf_udf()
    score = F.greatest(
        F.lit(0.0), erf(F.col("plof") / (F.col("nplof") * F.lit(math.sqrt(2.0))))
    )
    all_plof_eq_nplof = F.max(F.abs(F.col("plof") - F.col("nplof"))).over(wp) == 0.0
    t = t.withColumn(
        "loop_score", F.when(all_plof_eq_nplof, F.lit(0.0)).otherwise(score)
    )

    out = t.select(
        partition_col,
        id_col,
        F.col("loop_score"),
        F.col("pdist").alias("prob_distance"),
        F.col("ev_pdist").alias("prob_distance_ev"),
        F.col("plof"),
        F.col("nplof"),
        F.lit(False).alias("gated"),
    )

    # Row-conservation guard (round-2 ADVICE): rows the bucketed kNN join
    # never matched even after retries would otherwise vanish from the
    # output — neither scored nor gated.  Left-join the scored rows back
    # onto the gate-passing universe and emit unmatched rows as gated
    # (null scores), so the constraint layer always sees every row.
    universe = base.select(partition_col, id_col)
    out = _ns_join(universe, out, [partition_col, id_col], how="left").withColumn(
        "gated", F.coalesce(F.col("gated"), F.lit(True))
    )
    return out.unionByName(gated_rows)
