"""Sequence packing: concat-and-chunk assignment of documents into
fixed-size training context windows.

LLM training consumes fixed-length token windows, not documents.  The
standard prep step ("concat and chunk") concatenates a shard's documents
into one token stream and slices it every ``cap`` tokens; a document
therefore lands at stream offset ``cum_before`` (the tokens of every
earlier document) and spans chunks ``floor(cum_before/cap) ..
floor((cum_before+n-1)/cap)``.  The reference library has no analog
(scoring kernel only, /root/reference/PyNomaly/loop.py); this extends the
engine's training-data surface per the task brief.

The whole operator reduces to an EXCLUSIVE PREFIX SUM of token counts in
stream order — the one primitive that is sequential by definition.  A
naive ``Window.orderBy`` with no partition key funnels the corpus through
a single reducer; at 100 TB that is the job.  Instead the scan is
two-level, the classic distributed prefix sum (:func:`_running_sums`):

1. bucket the rows by a key that is monotone in the order, and run a
   local running sum per ``(group, bucket)`` window — each bucket sorts
   its own slice, in parallel;
2. per-bucket totals (one tiny ``groupBy`` relation, groups × buckets
   rows), exclusive-prefix them over the bucket index, broadcast the
   offsets back.

``running = bucket_offset + local_running`` is exact for any bucket
placement.  Every global running sum or rank of the library runs
through this one scan (``features.quantile_bins``, ``lm.build_vocab``,
``sampling.shuffle_order``, the ``profiling`` two-sample tests and
Spearman ranks, ``sessions.concurrency_profile``, ``queries.q_part_abc``).

``pack_chunks`` range-buckets a numeric or timestamp stream order with
boundary literals from ``approxQuantile`` — a bounded control-plane
sketch whose boundary placement affects only parallelism, never results
(any other order type packs in one bucket per group).  Chunk ids stay
under 2^53 (a 100 TB corpus is ~2×10^13 tokens), so the
double-precision ``floor`` division is exact.

Preconditions (documented, mirrored by the oracle twin): ``order_col``
must be unique within its group — a total stream order is what "the
stream" means; ties would make ``cum_before`` partition-order dependent.
Rows with NULL order ids or non-positive token counts carry no stream
content and are dropped.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["pack_chunks", "chunk_stats", "sliding_chunks"]


def _running_sums(
    df: DataFrame,
    order: list,
    bucket: list,
    sums: dict,
    by=(),
    totals: bool = False,
) -> DataFrame:
    """``df`` plus, for each ``name -> column`` of ``sums``, the INCLUSIVE
    running sum ``name`` of ``column`` over ``order`` within each ``by``
    group, computed as the two-level scan of the module docstring.

    The frame is ROWS, so the running sum of ``F.lit(1)`` is
    ``row_number()``; subtract a row's own value for the exclusive sum
    (exact: every caller sums integers).  NULL values add nothing.

    ``bucket`` is a list of non-NULL columns, each non-decreasing along
    ``order`` within a ``by`` group (negate a key for a descending
    order).  Only the per-bucket totals — groups × buckets rows — pass
    through the offsets window, which is what keeps the scan parallel.
    ``by`` columns join back null-safely: a NULL group is a group.
    ``totals=True`` also adds ``<name>_total``, the sum over the whole
    ``by`` group, read off the same per-bucket totals.
    """
    by = list(by)
    bk = [f"_rs_bucket{i}" for i in range(len(bucket))]
    keyed = df.select("*", *[c.alias(b) for b, c in zip(bk, bucket)])
    w_local = (
        Window.partitionBy(*by, *bk)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = keyed.select(
        "*",
        *[F.sum(c).over(w_local).alias(f"_rs_l_{n}") for n, c in sums.items()],
    )
    per_bucket = keyed.groupBy(*by, *bk).agg(
        *[F.sum(c).alias(f"_rs_t_{n}") for n, c in sums.items()]
    )
    w_bkt = Window.partitionBy(*by).orderBy(*bk)
    w_off = w_bkt.rowsBetween(Window.unboundedPreceding, -1)
    offsets = [
        F.coalesce(F.sum(f"_rs_t_{n}").over(w_off), F.lit(0))
        .alias(f"_rs_o_{n}")
        for n in sums
    ]
    if totals:
        w_all = w_bkt.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        offsets += [
            F.sum(f"_rs_t_{n}").over(w_all).alias(f"{n}_total") for n in sums
        ]
    offsets_df = per_bucket.select(
        *[F.col(c).alias(f"_rs_k{i}") for i, c in enumerate(by)],
        *[F.col(b).alias(f"_rs_r{i}") for i, b in enumerate(bk)],
        *offsets,
    )
    cond = [F.col(b) == F.col(f"_rs_r{i}") for i, b in enumerate(bk)] + [
        F.col(c).eqNullSafe(F.col(f"_rs_k{i}")) for i, c in enumerate(by)
    ]
    return local.join(F.broadcast(offsets_df), reduce(and_, cond)).select(
        *df.columns,
        *[
            (
                F.col(f"_rs_o_{n}") + F.coalesce(F.col(f"_rs_l_{n}"), F.lit(0))
            ).alias(n)
            for n in sums
        ],
        *[f"{n}_total" for n in sums if totals],
    )


def pack_chunks(
    df: DataFrame,
    token_col: str,
    order_col: str,
    cap: int,
    group_col: str | None = None,
    n_buckets: int = 32,
) -> DataFrame:
    """Per-document chunk assignment for concat-and-chunk packing.

    Returns ``df``'s columns plus ``n_tokens`` (long), ``cum_before``
    (exclusive prefix sum in ``(group_col, order_col)`` stream order),
    ``first_chunk``, ``last_chunk``, ``n_chunks``, ``offset_in_chunk``.
    All outputs are integers — the cross-engine comparison is float-free.

    ``group_col=None`` packs one global stream (still bucket-parallel);
    with a group, every group is its own independent stream, exactly how
    sharded training data is prepared.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")

    grp = [group_col] if group_col else []
    src = df.where(
        F.col(order_col).isNotNull() & (F.col(token_col) > 0)
    ).withColumn("n_tokens", F.col(token_col).cast("long"))

    # control-plane: ~n_buckets-1 boundary literals; placement affects
    # parallelism only (cum_before is exact for ANY bucketing), so the
    # sketch's approximation error is irrelevant to correctness.  Only a
    # numeric or timestamp order casts to a double monotone in it; any
    # other order (string ids, even ones that parse as numbers) takes
    # one bucket, with no sketch job
    bounds = []
    if n_buckets > 1 and isinstance(
        src.select(order_col).schema[0].dataType,
        (T.NumericType, T.TimestampType),
    ):
        probs = [i / n_buckets for i in range(1, n_buckets)]
        bounds = sorted(
            set(
                src.select(F.col(order_col).cast("double").alias("_o"))
                .stat.approxQuantile("_o", probs, 0.01)
            )
        )
    bkt = F.lit(0)
    for b in bounds:  # flat comparison sum — <=63 terms, whole-stage codegen
        bkt = bkt + (F.col(order_col).cast("double") >= F.lit(b)).cast("int")
    # the coalesce never fires (the order is non-NULL here); it keeps the
    # bucket non-nullable, so the offsets join infers no isnotnull filter
    # on it, which would make the two reads of ``src`` differ and lose
    # their exchange reuse
    joined = _running_sums(
        src,
        [order_col],
        [F.coalesce(bkt, F.lit(0))],
        {"_cum": F.col("n_tokens")},
        by=grp,
    ).withColumn(
        # n_tokens is never NULL here: the coalesce only keeps the
        # column's schema non-nullable
        "cum_before", F.coalesce(F.col("_cum") - F.col("n_tokens"), F.lit(0))
    )

    capL = F.lit(int(cap)).cast("long")
    first = F.floor(F.col("cum_before") / capL).cast("long")
    last = F.floor((F.col("cum_before") + F.col("n_tokens") - 1) / capL).cast(
        "long"
    )
    return joined.select(
        *df.columns,
        "n_tokens",
        "cum_before",
        first.alias("first_chunk"),
        last.alias("last_chunk"),
        (last - first + 1).alias("n_chunks"),
        F.pmod(F.col("cum_before"), capL).alias("offset_in_chunk"),
    )


def chunk_stats(
    packed: DataFrame,
    cap: int,
    order_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Per-chunk summary of a :func:`pack_chunks` result.

    Explodes each document onto the chunks it touches (``sequence`` is
    bounded by ``ceil(n_tokens/cap)+1`` — never corpus-sized) and
    aggregates ``(group?, chunk_id) -> n_docs, chunk_tokens, first_doc``.
    ``chunk_tokens`` is the exact token fill: every chunk except each
    stream's last must hold exactly ``cap`` (asserted in tests).
    """
    grp = [group_col] if group_col else []
    capL = F.lit(int(cap)).cast("long")
    e = packed.select(
        *grp,
        order_col,
        "cum_before",
        "n_tokens",
        F.explode(F.sequence("first_chunk", "last_chunk")).alias("chunk_id"),
    )
    fill = F.least(
        (F.col("chunk_id") + 1) * capL, F.col("cum_before") + F.col("n_tokens")
    ) - F.greatest(F.col("chunk_id") * capL, F.col("cum_before"))
    return (
        e.groupBy(*grp, "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(fill).alias("chunk_tokens"),
            F.min(order_col).alias("first_doc"),
        )
    )


def sliding_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window chunking with overlap — the retrieval-indexing
    sibling of :func:`pack_chunks` (RAG corpora chunk documents into
    ``width``-token windows every ``stride`` tokens so no passage is
    split across a hard boundary; ``stride < width`` = overlap).

    One map-side pass, no shuffle at all: the token array is a
    MATERIALIZED column (the higher-order-function re-evaluation trap),
    window starts are a bounded per-row ``sequence(0, n-1, stride)``
    explode, and each chunk emits its exact token span plus the sha256
    of its re-joined text — the content key downstream dedup/indexing
    joins on, and the invariant the oracle twin pins byte-for-byte.
    Rows with null id/text or zero tokens produce no chunks.  Output:
    ``(id_col, chunk_idx, start_tok, n_chunk_tokens, chunk_sha)``.
    """
    if width < 1 or stride < 1:
        raise ValueError(
            f"width and stride must be >= 1, got {width}/{stride}"
        )
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda x: x != ""
    )
    d = (
        df.where(F.col(text_col).isNotNull() & F.col(id_col).isNotNull())
        .withColumn("_toks", toks)
        .withColumn("_n", F.size("_toks"))
        .where(F.col("_n") > 0)
    )
    starts = F.sequence(F.lit(0), F.col("_n") - 1, F.lit(stride))
    d = d.select(
        id_col,
        "_toks",
        "_n",
        F.posexplode(starts).alias("chunk_idx", "start_tok"),
    )
    chunk = F.slice("_toks", F.col("start_tok") + 1, width)
    return d.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.least(F.lit(width), F.col("_n") - F.col("start_tok"))
        .cast("long")
        .alias("n_chunk_tokens"),
        F.sha2(F.concat_ws(" ", chunk), 256).alias("chunk_sha"),
    )
