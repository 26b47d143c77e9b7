"""Skew handling: the engine's two skew devices.

The reference computes each cluster serially in RAM and has no skew story
(SURVEY.md §4).  At scale, one hot key turns a stage into a single
straggler task.  AQE (enabled in :mod:`pynomaly_spark.session`) splits
oversized shuffle partitions of a join at runtime, but it cannot help a
grouped UDF, and a lookup join on a Zipfian key is better never
shuffled on its head at all.  Two devices cover those cases:

* SALTING (:func:`with_salt`) — the grouped LoOP UDF is NOT a join, so
  groups whose row count exceeds ``max_group_rows`` are split into
  ``ceil(n / max_group_rows)`` deterministic sub-groups scored
  independently.  LoOP's per-group aggregates are not salt-decomposable,
  so this is a documented approximation: each sub-group is an independent
  LoOP fit (a uniform random sample of the partition), which preserves
  the score distribution; only partitions under the threshold get the
  golden-exact single-fit semantics.  Salt assignment is deterministic
  (xxhash64 of the row id), so reruns and checkpoint resumes see
  identical sub-groups.
* THE SPLIT LOOKUP (:func:`_skew_split_lookup`) — a count lookup on a
  Zipfian key (LM tokens and bigrams, dedup n-grams and lines): a plain
  shuffle join sends every ``(doc, "the")`` row to one reducer.  The
  lookup table is split by its own count: the HOT head (``count >=
  hot_min`` — a few thousand keys carrying most of the probe mass) is
  broadcast and matched map-side, so the hot keys never shuffle; only
  the probe rows the head missed shuffle against the tail, whose keys
  are rare BY CONSTRUCTION, so that exchange is skew-free.  This is the
  standard two-pass skew join with the split chosen by frequency
  instead of sampling.  Results never depend on ``hot_min``.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .knn import _ns_join

__all__ = ["group_sizes", "with_salt"]


def group_sizes(df: DataFrame, partition_col: str = "partition_id") -> DataFrame:
    """One tiny row per group: (partition value, row count)."""
    return df.groupBy(partition_col).agg(F.count(F.lit(1)).alias("n_rows"))


def with_salt(
    df: DataFrame,
    max_group_rows: int,
    partition_col: str = "partition_id",
    id_col: str = "row_id",
    salt_col: str = "salt",
) -> DataFrame:
    """Attach a deterministic salt that subdivides oversized groups.

    Groups with ``n <= max_group_rows`` get salt 0 (exact single-fit path);
    larger groups get ``salt in [0, ceil(n/max_group_rows))`` via
    ``xxhash64(id) pmod buckets``.  The per-group size table is tiny and
    broadcast.
    """
    sizes = group_sizes(df, partition_col).withColumn(
        "_buckets",
        F.ceil(F.col("n_rows") / F.lit(int(max_group_rows))).cast("int"),
    )
    out = _ns_join(df, F.broadcast(sizes), [partition_col])
    return out.withColumn(
        salt_col,
        F.when(F.col("_buckets") <= 1, F.lit(0)).otherwise(
            F.pmod(F.xxhash64(F.col(id_col)), F.col("_buckets")).cast("int")
        ),
    ).drop("n_rows", "_buckets")


def _skew_split_lookup(
    probe: DataFrame,
    table: DataFrame,
    on: list,
    count: str,
    hot_min: int,
    out: str,
) -> DataFrame:
    """``probe`` plus column ``out``: the ``count`` of the ``table`` row
    whose keys equal the probe row's keys, NULL when none does (a NULL
    probe key matches nothing; so does a table row with a NULL count).

    ``on`` lists ``(probe_col, table_col)`` key pairs.  ``table`` must
    hold one row per key (every caller's table is a ``groupBy`` on its
    keys).  Table rows with ``count >= hot_min`` join through one
    broadcast left join; the probe rows it missed go through one
    shuffled left join against the rest, and one ``unionByName`` puts
    the two parts back together (the split of the module docstring).
    """
    keys = [f"_ssl_k{i}" for i in range(len(on))]

    def lut(keep):
        # one select per side: head and tail must not share attribute
        # ids, or the tail join's self-join rewrite changes the head's
        # plan in one union branch and AQE no longer reuses its broadcast
        return table.where(keep).select(
            *[F.col(t).alias(k) for k, (_, t) in zip(keys, on)],
            F.col(count).alias("_ssl_c"),
        )

    cond = reduce(and_, [F.col(p) == F.col(k) for k, (p, _) in zip(keys, on)])
    head = probe.join(
        F.broadcast(lut(F.col(count) >= hot_min)), cond, "left"
    )
    rest = (
        head.where(F.col("_ssl_c").isNull())
        .drop(*keys, "_ssl_c")
        .join(lut(F.col(count) < hot_min), cond, "left")
    )
    return (
        head.where(F.col("_ssl_c").isNotNull())
        .unionByName(rest)
        .drop(*keys)
        .withColumnRenamed("_ssl_c", out)
    )
