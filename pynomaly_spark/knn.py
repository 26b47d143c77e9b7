"""Distributed kNN self-join (grid-bucketed).

For drift groups too large for one worker's memory, the engine quantizes
the first ``_GRID_DIMS`` feature dimensions onto a grid of ``cell_size``
and resolves neighbors cell-locally in ONE shuffle: every row is
replicated to its 3^D neighboring cells (a slim ``(id, features)``
projection, so the exchange moves ~3^D x the projected input, NOT the
pair blow-up), then each cell group computes its probes' kNN with
vectorized numpy inside ``applyInPandas`` (Arrow batches; chunked/blocked
matmuls, no per-row Python math).  This is 20-50x faster than per-pair
JVM expression evaluation on dense data: the pair count is occupancy-
quadratic, and numpy does those FLOPs at matmul speed.

Candidates are pruned to ``dist <= cell_size``; a row that still has
>= k neighbors after the prune is EXACT (its true k nearest all lie
within ``cell_size`` and therefore inside the probed +/-1 cells), and
under-filled rows are re-probed with a wider cell by
:func:`knn_self_join`'s retry loop.  This mirrors the reference's only
join — the per-cluster kNN self-join (reference ``loop.py:648-694``) —
re-expressed as a Spark shuffle + batched kernel instead of an in-RAM
O(n^2) scan.

Scale notes: co-location is by spatial cell, not by row; per-cell work
is bounded by cell occupancy (chosen from a sampled radius estimate),
and the cell count grows with the data, so 1000 executors stay busy.
The only all-to-all movement is the one cell-keyed exchange.
"""

from __future__ import annotations

import math
from itertools import product

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

__all__ = ["knn_self_join", "estimate_cell_size"]

_GRID_DIMS = 2  # leading feature dimensions quantized onto the grid


def _part_key(v) -> str:
    """Collision-free driver/worker grouping key for a partition VALUE.

    ``str(None)`` is 'None', so a NULL partition used to merge with a
    partition whose literal string value is 'None' (round-3 ADVICE).
    NULL (None driver-side, None/NaN through Arrow) gets a key that no
    real value can produce ('\\x00' never appears in str() output of
    user data routed through a typed column), every other value is
    prefixed.
    """
    if v is None:
        return "\x00null"
    if isinstance(v, float) and math.isnan(v):
        return "\x00null"
    return "v:" + str(v)


def _ns_eq(left: DataFrame, right: DataFrame, pairs: list):
    """AND-folded null-safe equality over (left_col, right_col) names.

    ``on=[cols]`` joins are null-UNSAFE: a NULL partition value never
    matches itself, so retry bookkeeping silently dropped or re-probed
    NULL-partition rows (round-3 ADVICE).  EqualNullSafe remains a valid
    hash-join key, so the physical plan is unchanged for non-null data.
    """
    cond = None
    for lc, rc in pairs:
        e = left[lc].eqNullSafe(right[rc])
        cond = e if cond is None else cond & e
    return cond


def _ns_join(left: DataFrame, right: DataFrame, keys: list, how: str = "inner"):
    """``left.join(right, on=keys, how=how)`` with NULL equal to NULL
    (:func:`_ns_eq`): ``right``'s keys are renamed for the join and
    dropped after it, so only ``left``'s key columns remain."""
    r = right.select(
        *[F.col(c).alias(f"_r_{c}") if c in keys else F.col(c) for c in right.columns]
    )
    cond = _ns_eq(left, r, [(k, f"_r_{k}") for k in keys])
    return left.join(r, cond, how).drop(*[f"_r_{k}" for k in keys])


def _cell_expr(features_col: str, dim: int, cell_size: float):
    return F.floor(F.col(features_col).getItem(dim) / F.lit(float(cell_size)))


def estimate_cell_size(
    df: DataFrame,
    features_col: str,
    k: int,
    sample_rows: int = 4000,
    total_rows: int | None = None,
    target_short_rows: int = 8192,
) -> float:
    """Estimate a cell size ~ the true kNN radius from a measured sample.

    Measures the k-th-neighbor distance distribution on a driver-side
    sample with the exact kernel, then scales it to the full table by
    the density law r_k(n) ~ r_k(m) * (m/n)^alpha with alpha CALIBRATED
    from two sample sizes (see inline note).  The radius quantile is
    chosen so the expected short tail stays ~``target_short_rows``
    (p90 at 100k rows, ~p99.9 at 10M+), with a 1.2x noise margin;
    :func:`knn_self_join` resolves the tail with a brute-force or
    wider-cell retry, so tail rows cost a small second pass, not
    correctness.

    (The naive span*(k/n)^(1/d) heuristic overestimates by ~100x on
    dense clustered data and blows the bucket join fan-in — measured.)
    """
    import numpy as np

    from . import kernel

    if total_rows is None:
        total_rows = df.count()
    frac = min(1.0, (sample_rows * 2.0) / max(total_rows, 1))
    sample = (
        df.select(features_col)
        .sample(fraction=frac, seed=7)
        .limit(sample_rows)
        .collect()
    )
    pts = np.asarray([r[0] for r in sample], dtype=float)
    if pts.ndim == 1:
        pts = pts.reshape(-1, 1)
    m, d = pts.shape
    if m <= k + 1:
        return 1.0
    # Radius quantile scaled to what the retry machinery can absorb:
    # rows whose true kNN radius exceeds the cell size come back short
    # and go to the brute-force/grid retry — cheap while their count is
    # bounded.  Aim the expected short count at ``target_short_rows``
    # (p90 at 100k rows; ~p99.9 at 10^7+), clipped to what a
    # ``sample_rows``-point sample can resolve.
    qlevel = 1.0 - float(target_short_rows) / max(total_rows, 1)
    qlevel = min(max(qlevel, 0.90), 1.0 - 8.0 / m)
    dists, _ = kernel.knn(pts, min(k, m - 1))
    rk = float(np.quantile(dists.max(axis=1), qlevel))
    if rk == 0.0:
        rk = float(dists.max()) or 1e-6
    # Density scaling from sample size to full size: r_k(n) ~ r_k(m) *
    # (m/n)^alpha where alpha = 1/intrinsic_dim.  The intrinsic dim is
    # NOT the gridded dim count (assuming so underestimated the radius
    # 2.2x on 4-d data and sent 17% of rows to the retry pass) and not
    # reliably the ambient dim either (64-d embeddings concentrate on a
    # lower-dim manifold) — so CALIBRATE alpha by measuring r_k at two
    # sample sizes and fitting the power law to the data itself.
    m_half = m // 2
    alpha = 1.0 / max(d, 1)
    if m_half > k + 1:
        dists_h, _ = kernel.knn(pts[:m_half], min(k, m_half - 1))
        rk_h = float(np.quantile(dists_h.max(axis=1), min(qlevel, 1.0 - 8.0 / m_half)))
        if rk_h > rk > 0.0:
            alpha = math.log(rk_h / rk) / math.log(m / m_half)
    alpha = min(max(alpha, 0.05), 1.0)
    scale = (float(m) / max(total_rows, m)) ** alpha
    # Modest 1.2x noise margin only: tight cells keep occupancy (and the
    # quadratic per-cell pair count) low, and the bounded short tail is
    # cheaper to brute-force than bigger cells are to scan — measured
    # 18.7s (p90 cell + brute cleanup) vs 36.2s (1.5x p90) on dense 100k.
    return max(rk * scale * 1.2, 1e-9)


def knn_self_join(
    df: DataFrame,
    k: int,
    features_col: str = "features",
    id_col: str = "row_id",
    partition_col: str | None = None,
    cell_size: float | None = None,
    max_retries: int = 2,
    brute_threshold: int = 16384,
    caches_out: list | None = None,
) -> DataFrame:
    """Return ``(id_col [, partition_col], knn_dists, knn_ids)`` arrays per row.

    ``partition_col`` scopes the join (never compares across groups, like
    the reference's per-cluster blocks).  Output arrays are ordered by
    distance ascending; downstream LoOP math only consumes the multiset.

    Adaptive exactness: the cell size targets a high radius quantile
    (scale-aware, see :func:`estimate_cell_size`), so rows in the radius
    tail can come back with fewer than k neighbors; small residual sets
    (<= ``brute_threshold``) are finished EXACTLY by a broadcast
    brute-force map pass, larger ones re-probe with a 4x wider cell (up
    to ``max_retries`` passes).  Each retry touches only the
    under-filled rows — the fan-in stays bounded by the dense majority's
    cell size.  NOTE: retries trigger actions (this builder materializes
    intermediate results); pass ``caches_out`` to own the persisted
    frames the returned plan reads.
    """
    if cell_size is None:
        cell_size = estimate_cell_size(df, features_col, k)

    result = _knn_pass_cells(
        df, k, features_col, id_col, partition_col, cell_size
    )
    if max_retries <= 0:
        return result

    base_keep = [id_col, features_col] + (
        [partition_col] if partition_col else []
    )
    # Retry bookkeeping keys include the partition column: row ids only
    # need to be unique WITHIN a partition (round-2 ADVICE — an id-only
    # join would merge same-id rows across partitions).
    row_keys = [id_col] + ([partition_col] if partition_col else [])
    caches: list = []  # persisted frames superseded by the next pass

    def _materialize(res):
        # materialize BEFORE fanning out into downstream branches: two
        # branches racing an unpopulated cache each recompute the full
        # lineage (measured 15s pass -> 75s loop on dense 100k); only
        # after the new cache is populated are the previous iteration's
        # caches safe to drop
        res = res.persist()
        res.count()
        for c in caches:
            c.unpersist()
        caches.clear()
        caches.append(res)
        return res

    # All bookkeeping joins below run through renamed right-side columns
    # with NULL-SAFE equality: ``on=row_keys`` never matches a NULL
    # partition value against itself, so NULL-partition rows were always
    # re-flagged missing / dropped from redo probes (round-3 ADVICE).
    # The rename also sidesteps self-join attribute ambiguity (redo_ids
    # carries df lineage through the `missing` branch).
    key_pairs = [(kcol, f"_r_{kcol}") for kcol in row_keys]

    def _renamed_keys(frame):
        return frame.select(
            *[F.col(kcol).alias(rc) for kcol, rc in key_pairs]
        )

    for attempt in range(max_retries):
        result = _materialize(result)
        short_ids = result.where(F.size("knn_dists") < k).select(*row_keys)
        # rows the bucket join missed entirely also count as short
        res_keys = _renamed_keys(result)
        left = df.select(*row_keys)
        missing = left.join(
            res_keys, _ns_eq(left, res_keys, key_pairs), how="left_anti"
        )
        redo_ids = short_ids.unionByName(missing).distinct().persist()
        n_redo = redo_ids.count()
        if n_redo == 0:
            redo_ids.unpersist()
            break
        caches.append(redo_ids)
        redo_r = _renamed_keys(redo_ids)
        probe_base = df.select(*base_keep)
        redo_probe = probe_base.join(
            redo_r, _ns_eq(probe_base, redo_r, key_pairs), how="left_semi"
        )
        if n_redo <= brute_threshold:
            # few residual probes: one exact map-side pass beats
            # re-shuffling the whole build table through the grid
            redo = _brute_force_small_probe(
                redo_probe,
                df.select(*base_keep),
                k,
                features_col,
                id_col,
                partition_col,
            )
            kept = result.join(
                redo_r, _ns_eq(result, redo_r, key_pairs), how="left_anti"
            )
            result = _materialize(kept.unionByName(redo))
            break
        cell_size *= 4.0
        redo = _knn_pass_cells(
            redo_probe,
            k,
            features_col,
            id_col,
            partition_col,
            cell_size,
            build_df=df.select(*base_keep),
        )
        kept = result.join(
            redo_r, _ns_eq(result, redo_r, key_pairs), how="left_anti"
        )
        result = kept.unionByName(redo)
    else:
        # loop exhausted right after building a retry union: materialize
        # it once, or every caller action re-runs the retry pass
        result = _materialize(result)
    # the returned plan reads the last persisted pass; at most one
    # (result, redo_ids) pair stays cached — no growth across retries.
    # Callers that outlive the result should pass ``caches_out`` and
    # unpersist its frames when done (run_suite does, via SuiteResult).
    if caches_out is not None:
        caches_out.extend(caches)
    return result


def _brute_force_small_probe(
    probe_df: DataFrame,
    build_src: DataFrame,
    k: int,
    features_col: str,
    id_col: str,
    partition_col: str | None,
) -> DataFrame:
    """Exact kNN for a SMALL probe set against the full build table.

    The grid retry re-shuffles the whole build side no matter how few
    probes remain (measured: 10-15s for THREE residual rows on dense
    100k).  Here the probe matrix is collected driver-side (caller gates
    the count) and closed over a ``mapInPandas`` scan of the build: one
    map pass, numpy distances, a running per-input-partition top-k, and
    a final tiny merge — no build shuffle at all.  Exact, radius-free,
    so it also terminates the retry loop.

    Round-2 ADVICE fixes: the partition column keeps the INPUT schema's
    type (it used to come back StringType and fail the unionByName with
    the grid pass for non-string partitions), and probes with zero
    candidate pairs (e.g. a singleton partition) come back as explicit
    empty-array rows instead of silently dropping out.
    """
    pcols = [id_col, features_col] + ([partition_col] if partition_col else [])
    rows = probe_df.select(*pcols).collect()  # bounded by caller threshold
    by_part: dict = {}
    orig_vals: dict = {}  # part key -> original-typed partition value
    for r in rows:
        # _part_key keeps a NULL partition distinct from a literal 'None'
        # string value (round-3 ADVICE: str(None) merged them)
        key = _part_key(r[partition_col]) if partition_col else ""
        by_part.setdefault(key, ([], []))
        by_part[key][0].append(int(r[id_col]))
        by_part[key][1].append(np.asarray(r[features_col], dtype=np.float64))
        orig_vals[key] = r[partition_col] if partition_col else None
    probes = {
        key: (np.asarray(ids, dtype=np.int64), np.stack(feats))
        for key, (ids, feats) in by_part.items()
    }

    part_fields = (
        [StructField("_qp", probe_df.schema[partition_col].dataType, True)]
        if partition_col
        else []
    )
    pair_schema = StructType(
        [StructField("_qid", LongType(), False)]
        + part_fields
        + [
            StructField("_nid", LongType(), False),
            StructField("_dist", DoubleType(), False),
        ]
    )

    def scan(batches):
        # running (Q x k) top-k matrices per partition key — the merge is
        # one vectorized argpartition per batch, never per-probe Python
        best: dict = {}  # part key -> (sq: Q x k, ids: Q x k)
        for pdf in batches:
            parts = (
                pdf[partition_col].map(_part_key)
                if partition_col
                else pd.Series([""] * len(pdf))
            )
            for key in parts.unique():
                if key not in probes:
                    continue
                qids, qp = probes[key]
                sel = (parts == key).to_numpy()
                cp = np.stack(pdf.loc[sel, features_col].to_numpy()).astype(
                    np.float64
                )
                cid = pdf.loc[sel, id_col].to_numpy(dtype=np.int64)
                sq, ids = _cross_topk_matrix(qp, qids, cp, cid, k)
                if key in best:
                    best[key] = _merge_topk(best[key][0], best[key][1], sq, ids, k)
                else:
                    best[key] = (sq, ids)
        frames = []
        for key, (sq, ids) in best.items():
            qids, _ = probes[key]
            width = sq.shape[1]
            mask = (ids >= 0).ravel()
            frame = {
                "_qid": np.repeat(qids, width)[mask],
                "_nid": ids.ravel()[mask],
                "_dist": np.sqrt(np.maximum(sq, 0.0)).ravel()[mask],
            }
            if partition_col:
                frame["_qp"] = np.full(
                    int(mask.sum()), orig_vals[key], dtype=object
                )
            frames.append(pd.DataFrame(frame))
        if frames:
            out = pd.concat(frames, ignore_index=True)
        else:
            out = pd.DataFrame(
                {
                    "_qid": pd.Series(dtype="int64"),
                    "_nid": pd.Series(dtype="int64"),
                    "_dist": pd.Series(dtype="float64"),
                    **(
                        {"_qp": pd.Series(dtype=object)}
                        if partition_col
                        else {}
                    ),
                }
            )
        yield out[[f.name for f in pair_schema.fields]]

    bcols = [id_col, features_col] + ([partition_col] if partition_col else [])
    pairs = build_src.select(*bcols).mapInPandas(scan, schema=pair_schema)

    agg_keys = ["_qid"] + (["_qp"] if partition_col else [])
    topk = pairs.groupBy(*agg_keys).agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct("_dist", "_nid"))), 1, k
        ).alias("_pairs")
    )
    # left-join onto the full probe list (already collected above): a
    # probe with no candidate pairs anywhere must surface as an explicit
    # empty-array row, like the cells pass emits
    universe = probe_df.sparkSession.createDataFrame(
        [
            (int(r[id_col]),)
            + ((r[partition_col],) if partition_col else ())
            for r in rows
        ],
        StructType([StructField("_qid", LongType(), False)] + part_fields),
    )
    if partition_col:
        # NULL-SAFE left join: a probe in a NULL partition must still
        # pick up its computed top-k row (round-3 ADVICE — the plain
        # `on=` join returned empty neighbor arrays for NULL partitions)
        cond = (universe["_qid"] == topk["_qid"]) & universe[
            "_qp"
        ].eqNullSafe(topk["_qp"])
        filled = universe.join(topk, cond, "left").select(
            universe["_qid"], universe["_qp"], topk["_pairs"]
        )
    else:
        filled = universe.join(topk, on=agg_keys, how="left")
    return filled.select(
        F.col("_qid").alias(id_col),
        *([F.col("_qp").alias(partition_col)] if partition_col else []),
        F.coalesce(
            F.transform("_pairs", lambda s: s["_dist"]),
            F.array().cast("array<double>"),
        ).alias("knn_dists"),
        F.coalesce(
            F.transform("_pairs", lambda s: s["_nid"]),
            F.array().cast("array<bigint>"),
        ).alias("knn_ids"),
    )


def _merge_topk(
    best_sq: np.ndarray,
    best_id: np.ndarray,
    new_sq: np.ndarray,
    new_id: np.ndarray,
    k: int,
):
    """Vectorized running min-k merge of two (n x *) candidate sets."""
    m_sq = np.concatenate([best_sq, new_sq], axis=1)
    m_id = np.concatenate([best_id, new_id], axis=1)
    if m_sq.shape[1] > k:
        pick = np.argpartition(m_sq, k - 1, axis=1)[:, :k]
        return (
            np.take_along_axis(m_sq, pick, axis=1),
            np.take_along_axis(m_id, pick, axis=1),
        )
    return m_sq, m_id


def _cross_topk_matrix(
    qp: np.ndarray,
    qid: np.ndarray,
    cp: np.ndarray,
    cid: np.ndarray,
    k: int,
    chunk: int = 256,
    col_block: int = 16384,
):
    """Exact top-k squared distances of each probe among the candidates.

    Blocked like :func:`pynomaly_spark.kernel.knn` (probe chunks x
    candidate blocks with a running min-k merge) so peak memory is a
    (chunk x col_block) slab regardless of cell occupancy.  Candidates
    sharing a probe's id are masked (self).  Returns ``(sq, ids)`` of
    shape (n, min(k, n_cand)) — unsorted; pad slots carry inf / -1.
    """
    nq, nc = qp.shape[0], cp.shape[0]
    kk = min(k, nc)
    cnorm = np.einsum("ij,ij->i", cp, cp)
    out_sq = np.empty((nq, kk))
    out_id = np.empty((nq, kk), dtype=np.int64)
    for s in range(0, nq, chunk):
        e = min(s + chunk, nq)
        q = qp[s:e]
        qn = np.einsum("ij,ij->i", q, q)
        best_sq = np.full((e - s, kk), np.inf)
        best_id = np.full((e - s, kk), -1, dtype=np.int64)
        for b0 in range(0, nc, col_block):
            b1 = min(b0 + col_block, nc)
            w = b1 - b0
            sq = qn[:, None] - 2.0 * q @ cp[b0:b1].T + cnorm[None, b0:b1]
            sq[qid[s:e, None] == cid[None, b0:b1]] = np.inf  # mask self
            if w > kk:
                sel = np.argpartition(sq, kk - 1, axis=1)[:, :kk]
                ssq = np.take_along_axis(sq, sel, axis=1)
            else:
                sel = np.broadcast_to(np.arange(w), (e - s, w))
                ssq = sq
            best_sq, best_id = _merge_topk(
                best_sq, best_id, ssq, cid[b0:b1][sel], kk
            )
        out_sq[s:e] = best_sq
        out_id[s:e] = best_id
    return out_sq, out_id


def _cross_topk(
    qp: np.ndarray,
    qid: np.ndarray,
    cp: np.ndarray,
    cid: np.ndarray,
    k: int,
    radius: float,
    chunk: int = 256,
    col_block: int = 16384,
):
    """Radius-pruned, ascending ``(dists_list, ids_list)`` per probe."""
    best_sq, best_id = _cross_topk_matrix(
        qp, qid, cp, cid, k, chunk=chunk, col_block=col_block
    )
    np.maximum(best_sq, 0.0, out=best_sq)
    d = np.sqrt(best_sq)
    # ascending (dist, id) order; vectorized radius prefix counts
    order = np.lexsort((best_id, d), axis=1)
    d = np.take_along_axis(d, order, axis=1)
    ids = np.take_along_axis(best_id, order, axis=1)
    keep = ((d <= radius) & (ids >= 0)).sum(axis=1)
    out_d = [row[:m] for row, m in zip(d, keep)]
    out_i = [row[:m] for row, m in zip(ids, keep)]
    return out_d, out_i


def _empty_knn_result(
    df: DataFrame, id_col: str, partition_col: str | None
) -> DataFrame:
    """Typed empty result for an empty input (head() returns None)."""
    schema = StructType(
        [df.schema[id_col]]
        + ([df.schema[partition_col]] if partition_col else [])
        + [
            StructField("knn_dists", ArrayType(DoubleType()), False),
            StructField("knn_ids", ArrayType(LongType()), False),
        ]
    )
    return df.sparkSession.createDataFrame([], schema)


def _knn_pass_cells(
    df: DataFrame,
    k: int,
    features_col: str,
    id_col: str,
    partition_col: str | None,
    cell_size: float,
    build_df: DataFrame | None = None,
) -> DataFrame:
    """One cell-cogrouped probe/build pass: one shuffle, numpy per cell.

    Probes land in their home cell once; build rows are replicated to
    all 3^D neighboring cells, so every probe meets exactly the
    candidates within +/-1 cell, without materializing pair rows.

    ``id_col`` must be an integral type (engine row ids are xxhash64
    longs): ids travel through the numpy kernel as int64.
    """
    build_src = build_df if build_df is not None else df
    dim_count_row = df.select(F.size(features_col).alias("d")).head()
    if dim_count_row is None:  # empty probe side (e.g. routing split)
        return _empty_knn_result(df, id_col, partition_col)
    d_full = int(dim_count_row["d"])
    dims = min(d_full, _GRID_DIMS)
    radius = float(cell_size)

    # The cell string is built from GRID COORDINATES ONLY; the partition
    # column is a separate group key below.  Round-2 ADVICE: folding the
    # partition value into the concat_ws(":") key let a value containing
    # ':' (arbitrary user data) collide with another partition's
    # (partition, cell) pair and silently merge their neighbor scopes.
    def cell_at(offset):
        return F.concat_ws(
            ":",
            *[
                (_cell_expr(features_col, i, cell_size) + F.lit(offset[i]))
                .cast("long")
                .cast("string")
                for i in range(dims)
            ],
        )

    # Transport features as SCALAR double columns when narrow enough:
    # Arrow moves flat columns and ``pdf[fcols].to_numpy()`` is one
    # vectorized copy, vs np.stack over a million per-row array objects
    # (measured: the object path dominated the pass, not the FLOPs).
    flat = d_full <= 64
    if flat:
        fcols = [f"_f{i}" for i in range(d_full)]
        feat_sel = [
            F.col(features_col).getItem(i).alias(fcols[i]) for i in range(d_full)
        ]
    else:
        fcols = [features_col]
        feat_sel = [F.col(features_col)]
    keep = [F.col(id_col)] + (
        [F.col(partition_col)] if partition_col else []
    )
    probe = df.select(
        *keep,
        *feat_sel,
        cell_at((0,) * dims).alias("_cell"),
        F.lit(True).alias("_probe"),
    )
    offsets = list(product((-1, 0, 1), repeat=dims))
    cand = build_src.select(
        *keep,
        *feat_sel,
        F.explode(
            F.array(*[cell_at(o) for o in offsets])
        ).alias("_cell"),
        F.lit(False).alias("_probe"),
    )
    group_keys = ([partition_col] if partition_col else []) + ["_cell"]
    if build_df is not None:
        # retry pass: probes are a small subset — keep only candidate
        # replicas landing in (partition, cell) groups that actually
        # contain a probe, instead of re-shuffling the whole build table.
        # NULL-SAFE semi join: a NULL partition group must keep its build
        # candidates (round-3 ADVICE — `on=` dropped them all).
        probe_cells = probe.select(
            *[F.col(c).alias(f"_r_{c}") for c in group_keys]
        ).distinct()
        cand = cand.join(
            F.broadcast(probe_cells),
            _ns_eq(cand, probe_cells, [(c, f"_r_{c}") for c in group_keys]),
            how="leftsemi",
        )
    both = probe.unionByName(cand)

    id_field = df.schema[id_col]
    part_fields = [df.schema[partition_col]] if partition_col else []
    out_schema = StructType(
        [id_field]
        + part_fields
        + [
            StructField("knn_dists", ArrayType(DoubleType()), False),
            StructField("knn_ids", ArrayType(LongType()), False),
        ]
    )

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        probes = pdf[pdf["_probe"]]
        if len(probes) == 0:
            empty = {
                id_col: pd.Series(dtype="int64"),
                "knn_dists": pd.Series(dtype=object),
                "knn_ids": pd.Series(dtype=object),
            }
            if partition_col:
                empty[partition_col] = pd.Series(dtype=object)
            return pd.DataFrame(empty)[[f.name for f in out_schema.fields]]
        cands = pdf[~pdf["_probe"]]
        if flat:
            qp = probes[fcols].to_numpy(dtype=np.float64)
        else:
            qp = np.stack(probes[features_col].to_numpy()).astype(np.float64)
        qid = probes[id_col].to_numpy(dtype=np.int64)
        if len(cands) == 0:
            dlists, ilists = [np.empty(0)] * len(probes), [
                np.empty(0, dtype=np.int64)
            ] * len(probes)
        else:
            if flat:
                cp = cands[fcols].to_numpy(dtype=np.float64)
            else:
                cp = np.stack(cands[features_col].to_numpy()).astype(np.float64)
            cid = cands[id_col].to_numpy(dtype=np.int64)
            dlists, ilists = _cross_topk(qp, qid, cp, cid, k, radius)
        out = {
            id_col: qid,
            "knn_dists": [list(map(float, d)) for d in dlists],
            "knn_ids": [list(map(int, i)) for i in ilists],
        }
        if partition_col:
            out[partition_col] = probes[partition_col].to_numpy()
        return pd.DataFrame(out)[[f.name for f in out_schema.fields]]

    return both.groupBy(*group_keys).applyInPandas(score_cell, schema=out_schema)
