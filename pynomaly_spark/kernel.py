"""Pure-numpy LoOP (Local Outlier Probabilities) kernel.

A from-scratch implementation of the LoOP dataflow (Kriegel, Kroeger,
Schubert, Zimek, CIKM 2009): per-group kNN -> sum of squared neighbor
distances -> standard distance -> probabilistic distance -> neighborhood
expected value -> PLOF -> per-group E[PLOF^2] -> nPLOF -> erf map to [0,1].

This module has NO Spark dependency; it is the math that both the
library-compatible API (``pynomaly_spark.api``) and the Spark drift
operator (``pynomaly_spark.drift``) share.  Inside Spark it runs on whole
Arrow record batches (vectorized; no per-row Python in the engine paths).

Semantics match the reference implementation (PyNomaly 0.4.0,
``/root/reference/PyNomaly/loop.py``) to float tolerance, including its
numeric guards:

* kNN is chunked, self-distance masked to inf, k-smallest by
  ``np.argpartition`` (unordered k-subset) — reference ``loop.py:648-694``.
* standard distance divides by ``n_neighbors`` (not cluster size) —
  reference ``loop.py:802``.
* the neighborhood expected value is a NaN-dropping mean over the pdist
  values of each row's k neighbors — reference ``loop.py:817-842``.
* PLOF guard: if all pdist == E[pdist] the result is all zeros; zeros in
  E[pdist] are replaced by 1e-8 — reference ``loop.py:508-511``.
* E[PLOF^2] is a per-group mean over non-NaN members — reference
  ``loop.py:869-904``.
* LoOP = max(0, erf(PLOF / (nPLOF * sqrt(2)))) with an all-equal
  short-circuit to zeros — reference ``loop.py:530-549``.

The erf source follows the same fallback ladder as the reference
(``loop.py:14-17, 546-549``): scipy.special.erf when importable, else a
vectorized ``math.erf``.
"""

from __future__ import annotations

import math
from typing import Optional, Tuple

import numpy as np

try:  # pragma: no cover - environment dependent
    from scipy.special import erf as _erf_vec
except ImportError:  # pragma: no cover
    _erf_vec = np.vectorize(math.erf, otypes=[np.float64])

__all__ = [
    "knn",
    "loop_from_knn",
    "loop_scores",
    "loop_scores_tied",
    "LoopResult",
]

_SENTINEL = 9e10  # unfilled-slot sentinel, reference loop.py:728-733


def _as_matrix(points: np.ndarray) -> np.ndarray:
    pts = np.asarray(points, dtype=np.float64)
    if pts.ndim == 1:
        pts = pts.reshape(-1, 1)  # 1-D auto-column, reference loop.py:659-660
    return pts


def knn(
    points: np.ndarray,
    n_neighbors: int,
    labels: Optional[np.ndarray] = None,
    chunk_size: int = 256,
    col_block: Optional[int] = None,
    progress_cb=None,
    exact_tiebreak: bool = False,
) -> Tuple[np.ndarray, np.ndarray]:
    """Exact kNN per group (Euclidean), never across groups.

    Returns ``(distances, neighbor_ids)`` of shape ``(n, k)``; neighbor ids
    are **global row indexes** into ``points``.  The k columns are an
    unordered k-smallest subset (argpartition semantics), matching the
    reference; downstream math only consumes the multiset.

    ``exact_tiebreak=True`` switches to the DETERMINISM path: the k
    neighbors are selected by ``(squared distance, row position)``
    lexicographic order — on tie-heavy features (identical rows →
    exactly equal distances) the argpartition default picks an
    arbitrary tied subset, which a cross-engine oracle cannot
    reproduce.  Callers must order rows by their external id so that
    position order == id order (the oracle twin's ``ORDER BY dist,
    id``).  This path computes full float64 pairwise distances
    (chunked rows, O(m) memory per row, no float32 candidate stage —
    tied candidates beyond the 2k margin would otherwise be dropped
    arbitrarily), so it costs more bandwidth than the default; it is
    the validation/oracle path, not the 100-TB hot path (at scale,
    dedup identical feature rows first — ties collapse).

    ``progress_cb(completed_rows, total_rows)`` is invoked after each
    chunk — the hook the library API uses for the reference's chunked
    progress bar (loop.py:692-694); the Spark engine leaves it None.
    """
    pts = _as_matrix(points)
    n = pts.shape[0]
    k = int(n_neighbors)
    dists = np.full((n, k), _SENTINEL, dtype=np.float64)
    idxs = np.full((n, k), -1, dtype=np.int64)

    if labels is None:
        groups = [np.arange(n)]
    else:
        lab = np.asarray(labels)
        groups = [np.where(lab == g)[0] for g in sorted(set(lab.tolist()))]

    completed = 0
    for gidx in groups:
        gp = pts[gidx]
        m = gp.shape[0]
        if m <= k:
            raise ValueError(
                "group size %d requires n_neighbors < group size" % m
            )
        if exact_tiebreak:
            # determinism path: raw (uncentered) float64 diffs are
            # translation-exact; stable argsort on squared distance
            # breaks exact ties by COLUMN POSITION, i.e. ascending row
            # order — the cross-engine (dist, id) contract
            step = min(chunk_size, m)
            for start in range(0, m, step):
                end = min(start + step, m)
                c = end - start
                diff = gp[start:end, None, :] - gp[None, :, :]
                sq = np.einsum("cnd,cnd->cn", diff, diff)
                rows = np.arange(c)
                sq[rows, rows + start] = np.inf  # mask self
                knn_local = np.argsort(sq, axis=1, kind="stable")[:, :k]
                knn_sq = np.take_along_axis(sq, knn_local, axis=1)
                np.maximum(knn_sq, 0.0, out=knn_sq)
                gsel = gidx[start:end]
                dists[gsel] = np.sqrt(knn_sq)
                idxs[gsel] = gidx[knn_local]
                completed += c
                if progress_cb is not None:
                    progress_cb(completed, n)
            continue
        # Two-stage selection, engineered for memory bandwidth (the kernel
        # saturates the bus long before the cores under Spark concurrency):
        #   1. CANDIDATES in float32 — squared-distance blocks at half the
        #      bytes, selecting a 2k-candidate margin per block
        #      (argpartition on squared values: monotone, ties identical);
        #   2. REFINE in float64 — exact squared distances recomputed for
        #      only the winning candidates per row, then the true k chosen.
        # Column blocking bounds peak memory to (chunk x col_block) slabs,
        # so arbitrarily large groups never allocate O(chunk x m); the
        # running candidate merge keeps exact min-k semantics (min-k of a
        # union == min-k of per-block min-k's).  Final distances are full
        # float64; a wrong candidate set would need ~k ties within float32
        # eps, which the parity suite shows never bites.
        # Center the group first: Euclidean distances are translation-
        # invariant, and float32 squared norms lose ~all precision when
        # the data sits far from the origin (norms ~offset^2 swamp the
        # inter-point structure).  Found by the hypothesis translation-
        # invariance property; centering makes selection accuracy depend
        # on the data SPREAD only.
        gp = gp - gp.mean(axis=0)
        gp32 = gp.astype(np.float32)
        sq_norms32 = np.einsum("ij,ij->i", gp32, gp32)
        n_cand = min(2 * k, m - 1)
        blk = col_block if col_block else max(n_cand + 1, 65536)
        blk = max(blk, 1)
        step = min(chunk_size, m)
        for start in range(0, m, step):
            end = min(start + step, m)
            c = end - start
            chunk32 = gp32[start:end]
            rows = np.arange(c)

            if m <= blk:
                # one-shot fast path (the overwhelmingly common case).
                # In-place sequence: bit-identical elementwise values to
                # `a - 2c + b` (same op order per element) without the
                # two (c, m) broadcast temps — the kernel is bandwidth-
                # bound under Spark concurrency, so the saved writes are
                # the point (round-6 profile: the temps cost more than
                # the matmul at m=1000).
                sq32 = chunk32 @ gp32.T
                sq32 *= 2.0
                np.subtract(sq_norms32[start:end, None], sq32, out=sq32)
                sq32 += sq_norms32[None, :]
                sq32[rows, rows + start] = np.inf  # mask self
                if n_cand < m:
                    cand = np.argpartition(sq32, n_cand - 1, axis=1)[
                        :, :n_cand
                    ]
                else:
                    cand = np.broadcast_to(np.arange(m), (c, m))
            else:
                best_sq = np.full((c, n_cand), np.inf, dtype=np.float32)
                best_id = np.full((c, n_cand), -1, dtype=np.int64)
                for b0 in range(0, m, blk):
                    b1 = min(b0 + blk, m)
                    w = b1 - b0
                    # same in-place fusion as the one-shot path above
                    sq32 = chunk32 @ gp32[b0:b1].T
                    sq32 *= 2.0
                    np.subtract(
                        sq_norms32[start:end, None], sq32, out=sq32
                    )
                    sq32 += sq_norms32[None, b0:b1]
                    # mask self where the diagonal crosses this block
                    lo = max(start, b0)
                    hi = min(end, b1)
                    if lo < hi:
                        r = np.arange(lo, hi)
                        sq32[r - start, r - b0] = np.inf
                    if w > n_cand:
                        # block wider than the candidate margin: select
                        bidx = np.argpartition(sq32, n_cand - 1, axis=1)[
                            :, :n_cand
                        ]
                        bsq = np.take_along_axis(sq32, bidx, axis=1)
                    else:
                        # narrow tail block (w <= n_cand): every column is
                        # a candidate; argpartition(kth=n_cand-1) would be
                        # out of bounds here.  The running min-k merge
                        # below handles variable-width candidate sets.
                        bidx = np.broadcast_to(
                            np.arange(w, dtype=np.int64), (c, w)
                        )
                        bsq = sq32
                    # running exact min-k merge (min-k of a union equals
                    # min-k over per-block min-k's)
                    merged_sq = np.concatenate([best_sq, bsq], axis=1)
                    merged_id = np.concatenate([best_id, bidx + b0], axis=1)
                    sel = np.argpartition(merged_sq, n_cand - 1, axis=1)[
                        :, :n_cand
                    ]
                    best_sq = np.take_along_axis(merged_sq, sel, axis=1)
                    best_id = np.take_along_axis(merged_id, sel, axis=1)
                cand = best_id

            # exact f64 squared distances for the candidate set only
            diff = gp[start:end, None, :] - gp[cand]
            sq = np.einsum("cnd,cnd->cn", diff, diff)
            sq[cand == (rows + start)[:, None]] = np.inf  # self, if present
            knn_local = np.argpartition(sq, k - 1, axis=1)[:, :k]
            knn_sq = np.take_along_axis(sq, knn_local, axis=1)
            np.maximum(knn_sq, 0.0, out=knn_sq)
            gsel = gidx[start:end]
            dists[gsel] = np.sqrt(knn_sq)
            idxs[gsel] = gidx[np.take_along_axis(cand, knn_local, axis=1)]
            completed += c
            if progress_cb is not None:
                progress_cb(completed, n)
    return dists, idxs


class LoopResult:
    """All per-row stage outputs of one LoOP fit (the 'store' columns)."""

    __slots__ = (
        "ssd",
        "standard_distance",
        "prob_distance",
        "prob_distance_ev",
        "plof",
        "eplof2",
        "nplof",
        "scores",
        "nplof_max",
        "mean_prob_distance_ev",
    )

    def __init__(self, **kw):
        for s in self.__slots__:
            setattr(self, s, kw[s])


def _prob_outlier_factor(pdist: np.ndarray, ev: np.ndarray) -> np.ndarray:
    """PLOF with the reference's exact guards (loop.py:497-513)."""
    if np.all(pdist == ev):
        return np.zeros(np.shape(pdist))
    ev = np.array(ev, dtype=np.float64, copy=True)
    ev[ev == 0.0] = 1.0e-8
    return np.divide(pdist, ev) - 1.0


def _local_outlier_probability(plof, nplof) -> np.ndarray:
    """Clamped erf normalization with all-equal guard (loop.py:530-549)."""
    if np.all(plof == nplof):
        return np.zeros(np.shape(plof))
    plof_f = np.asarray(plof, dtype=np.float64)
    nplof_f = np.asarray(nplof, dtype=np.float64)
    return np.maximum(0.0, _erf_vec(plof_f / (nplof_f * np.sqrt(2.0))))


def loop_from_knn(
    knn_dists: np.ndarray,
    knn_ids: np.ndarray,
    n_neighbors: int,
    extent: int = 3,
    labels: Optional[np.ndarray] = None,
) -> LoopResult:
    """Run the LoOP pipeline given a precomputed kNN (distances + global ids).

    This is the shared backend for both entry points: raw features (after
    :func:`knn`) and user-precomputed distance/neighbor matrices.
    """
    d = np.asarray(knn_dists, dtype=np.float64)
    ids = np.asarray(knn_ids)
    n = d.shape[0]
    k = float(n_neighbors)
    if labels is None:
        lab = np.zeros(n, dtype=np.int64)
    else:
        lab = np.asarray(labels)

    ssd = np.einsum("ij,ij->i", d, d)  # A1: sum of squared neighbor dists
    sigma = np.sqrt(ssd / k)  # A2: divisor is k, not group size
    pdist = float(extent) * sigma  # A3

    # A4: expected pdist over each row's neighborhood (NaN-dropping mean).
    nbr = pdist[ids.astype(np.int64)]  # (n, k) gather by global row id
    with np.errstate(invalid="ignore"):
        ev = np.nanmean(nbr, axis=1)

    plof = _prob_outlier_factor(pdist, ev)  # A5 (global guards)

    # A6: per-group E[PLOF^2] over non-NaN members, broadcast to rows.
    eplof2 = np.empty(n, dtype=np.float64)
    for g in sorted(set(lab.tolist())):
        sel = lab == g
        vals = plof[sel]
        vals = vals[~np.isnan(vals)]
        eplof2[sel] = np.power(vals, 2).sum() / float(vals.size)

    nplof = float(extent) * np.sqrt(eplof2)  # A7
    scores = _local_outlier_probability(plof, nplof)  # A8

    return LoopResult(
        ssd=ssd,
        standard_distance=sigma,
        prob_distance=pdist,
        prob_distance_ev=ev,
        plof=plof,
        eplof2=eplof2,
        nplof=nplof,
        scores=scores,
        nplof_max=float(np.max(nplof)),  # A9 (stream normalizer)
        mean_prob_distance_ev=float(np.mean(ev)),
    )


def loop_scores(
    points: np.ndarray,
    n_neighbors: int = 10,
    extent: int = 3,
    labels: Optional[np.ndarray] = None,
    exact_tiebreak: bool = False,
) -> LoopResult:
    """Raw-feature entry point: exact kNN then the LoOP pipeline.

    ``exact_tiebreak``: deterministic ``(dist, position)`` neighbor
    selection for tie-heavy features — see :func:`knn`."""
    d, ids = knn(points, n_neighbors, labels=labels, exact_tiebreak=exact_tiebreak)
    return loop_from_knn(d, ids, n_neighbors, extent=extent, labels=labels)


def _tied_select_row(sq_row, avail_row, j, positions_by_vec, k):
    """Full-width (dist, id) selection for one distinct query vector.

    Reference path for rows whose boundary tie class escapes the
    vectorized candidate window; also the ground truth the vectorized
    path is tested against.  Returns the k selected squared distances
    (ascending) and the distinct index each slot is drawn from.
    """
    full = np.argsort(sq_row, kind="stable")
    fsq = sq_row[full]
    fav = avail_row[full]
    fcum = np.cumsum(fav)
    ft = int(np.argmax(fcum >= k))
    fb = fsq[ft]
    fcs = int(np.searchsorted(fsq, fb, side="left"))
    fend = int(np.searchsorted(fsq, fb, side="right"))
    used = np.where(np.arange(len(full)) < fcs, fav, 0)
    r = k - (int(fcum[fcs - 1]) if fcs > 0 else 0)
    if fend - fcs == 1:
        used[fcs] = r
    else:
        vecs = full[fcs:fend]
        if (vecs == j).any():
            # a foreign vector at EXACTLY the query's own distance 0
            # would make the split member-dependent; unreachable for
            # distinct float vectors (sq > 0), guarded anyway
            raise ValueError("tied-kNN: foreign vector at zero distance")
        merged = np.sort(
            np.concatenate([positions_by_vec[v] for v in vecs])
        )
        cut = merged[r - 1]
        for slot, v in enumerate(vecs):
            used[fcs + slot] = int(
                np.searchsorted(positions_by_vec[v], cut, side="right")
            )
    esq = np.repeat(fsq, used)
    eidx = np.repeat(full, used)
    return esq, eidx


def _tied_knn_distinct(
    uniq: np.ndarray,
    counts: np.ndarray,
    positions_by_vec,
    n_neighbors: int,
    chunk_size: int = 256,
) -> Tuple[np.ndarray, np.ndarray]:
    """(dist, id)-contract kNN at DISTINCT-VECTOR granularity.

    For every distinct vector j, returns the k selected neighbor
    distances (``ddist``, ascending) and the distinct index each slot
    was drawn from (``didx``) — the selection any member row of j gets
    under the exact_tiebreak ``(squared distance, row position)``
    order.  Identical rows tie at exactly equal distances, so the
    (dist, id) order fills whole tie classes before ids matter;
    per-member id detail only decides the SPLIT inside the class that
    straddles the k-th slot, and then only when that class spans
    several distinct vectors (exact float ties between different
    vectors), resolved by merging the member-position lists.  The
    split never differs between members of the same query vector
    (their own class sits at distance 0, strictly below any other
    class), so one row per distinct vector is exact.
    """
    D = uniq.shape[0]
    k = int(n_neighbors)
    ddist = np.empty((D, k), dtype=np.float64)
    didx = np.empty((D, k), dtype=np.int64)
    L = min(D, 4 * k + 8)
    step = min(chunk_size, D)
    for start in range(0, D, step):
        end = min(start + step, D)
        c = end - start
        rows = np.arange(c)
        # per-dimension outer diffs accumulated in dimension order —
        # bit-identical to the row-level path's diff/einsum (einsum
        # reduces the d axis sequentially) at a third of the memory
        # traffic (no (c, D, d) slab)
        sq = None
        for dim in range(uniq.shape[1]):
            t = np.subtract.outer(uniq[start:end, dim], uniq[:, dim])
            t *= t
            sq = t if sq is None else np.add(sq, t, out=sq)
        avail = np.broadcast_to(counts, (c, D)).copy()
        avail[rows, rows + start] -= 1  # self-exclusion (own class)
        if L < D:
            part = np.argpartition(sq, L - 1, axis=1)[:, :L]
            psq = np.take_along_axis(sq, part, axis=1)
            order = np.argsort(psq, axis=1, kind="stable")
            cand = np.take_along_axis(part, order, axis=1)
            csq = np.take_along_axis(psq, order, axis=1)
        else:
            cand = np.argsort(sq, axis=1, kind="stable")
            csq = np.take_along_axis(sq, cand, axis=1)
        width = cand.shape[1]
        cavail = np.take_along_axis(avail, cand, axis=1)
        cum = np.cumsum(cavail, axis=1)
        # boundary slot: first candidate position where cum >= k
        reached = cum >= k
        ok = reached[:, -1]
        t = np.where(ok, np.argmax(reached, axis=1), width - 1)
        bsq = csq[rows, t]
        # the candidate window must CONTAIN the whole boundary class;
        # rows where ties (or zero-avail own slots) push it past the
        # margin fall back to the full-width per-row reference path
        complete = ok & ((L == D) | (csq[:, -1] > bsq))
        fallback = {}
        for i in np.where(~complete)[0]:
            esq, eidx = _tied_select_row(
                sq[i], avail[i], start + i, positions_by_vec, k
            )
            fallback[int(i)] = (esq, eidx)
            # neutralize row i in the vectorized expansion: one fake
            # "before the boundary" slot carrying exactly k picks
            csq[i, 0] = 0.0
            csq[i, 1:] = 2.0
            cavail[i] = 0
            cavail[i, 0] = k
            cum[i] = np.cumsum(cavail[i])
            cand[i] = 0
            bsq[i] = 1.0
        class_start = (csq < bsq[:, None]).sum(axis=1)
        class_end = (csq <= bsq[:, None]).sum(axis=1)
        cum_before = np.where(
            class_start > 0, cum[rows, np.maximum(class_start - 1, 0)], 0
        )
        r = k - cum_before  # slots left for the boundary class
        used = np.where(
            np.arange(width)[None, :] < class_start[:, None],
            cavail,
            0,
        )
        multi = class_end - class_start > 1
        single = ~multi
        used[single, np.minimum(class_start[single], width - 1)] = r[single]
        for i in np.where(multi)[0]:
            # exact float distance tie between DIFFERENT distinct
            # vectors straddling the k-th slot: the (dist, id) order
            # interleaves their member ids — merge the id lists and
            # count how many of the r smallest land on each vector
            j = start + i
            cs, ce = int(class_start[i]), int(class_end[i])
            vecs = cand[i, cs:ce]
            if (vecs == j).any():
                raise ValueError(
                    "tied-kNN: foreign vector at zero distance"
                )
            pos_lists = [positions_by_vec[v] for v in vecs]
            merged = np.sort(np.concatenate(pos_lists))
            cut = merged[int(r[i]) - 1]
            for slot, v in enumerate(vecs):
                used[i, cs + slot] = int(
                    np.searchsorted(positions_by_vec[v], cut, side="right")
                )
        flat_used = used.ravel()
        exp_sq = np.repeat(csq.ravel(), flat_used).reshape(c, k)
        exp_idx = np.repeat(cand.ravel(), flat_used).reshape(c, k)
        np.maximum(exp_sq, 0.0, out=exp_sq)
        ddist[start:end] = np.sqrt(exp_sq)
        didx[start:end] = exp_idx
        for i, (esq, eidx) in fallback.items():
            esq = np.maximum(esq, 0.0)
            ddist[start + i] = np.sqrt(esq)
            didx[start + i] = eidx
    return ddist, didx


def loop_scores_tied(
    points: np.ndarray,
    n_neighbors: int = 10,
    extent: int = 3,
) -> LoopResult:
    """``loop_scores(..., exact_tiebreak=True)`` at distinct-vector cost.

    The exact_tiebreak contract makes identical feature rows fully
    interchangeable: every member of a distinct vector receives the
    same neighbor-distance multiset and the same neighborhood of
    distinct vectors, so the O(m^2) row-level pairwise pass collapses
    to O(D^2) over the D distinct vectors with multiplicities (the
    kernel docstring's at-scale remedy for tie-heavy features).  The
    stages after the kNN are :func:`loop_from_knn` on the kNN expanded
    back to rows, so ssd/sigma/pdist/plof/eplof2/nplof/scores are
    bit-identical to the row-level path; the only possible deviation
    is the float summation order of the neighborhood EV when an exact
    distance tie spans several distinct vectors (equal-value
    reordering there is absorbed by callers' 6-dp rounding).  Requires
    position order == external id order (the ``exact_tiebreak`` id sort
    in :func:`pynomaly_spark.drift.loop_grouped`) and NaN-free features
    (falls back to the row-level path otherwise).
    """
    pts = _as_matrix(points)
    n = pts.shape[0]
    k = int(n_neighbors)
    if n <= k:
        raise ValueError(
            "group size %d requires n_neighbors < group size" % n
        )
    if np.isnan(pts).any():
        return loop_scores(
            pts, n_neighbors, extent=extent, exact_tiebreak=True
        )
    uniq, inv, counts = np.unique(
        pts, axis=0, return_inverse=True, return_counts=True
    )
    inv = np.asarray(inv).reshape(-1)
    if len(uniq) == n:
        # no duplicates: the distinct pass IS the row pass, but the
        # row-level kernel keeps its chunked memory profile
        return loop_scores(
            pts, n_neighbors, extent=extent, exact_tiebreak=True
        )
    order = np.argsort(inv, kind="stable")
    bounds = np.concatenate([[0], np.cumsum(counts)])
    positions_by_vec = [
        order[bounds[i]:bounds[i + 1]] for i in range(len(uniq))
    ]
    ddist, didx = _tied_knn_distinct(
        uniq, counts, positions_by_vec, k
    )
    # expand the kNN back to rows, naming each neighbor by the first row
    # of its distinct vector (every member row has the same pdist), and
    # run the exact loop_from_knn math on the per-row arrays
    rep = order[bounds[:-1]]
    return loop_from_knn(ddist[inv], rep[didx][inv], k, extent=extent)


def score_new_points(
    new_points: np.ndarray,
    fitted_points: np.ndarray,
    n_neighbors: int,
    extent: int,
    mean_prob_distance_ev: float,
    nplof_max: float,
) -> np.ndarray:
    """Vectorized incremental scorer (the reference ``stream()`` contract,
    loop.py:993-1046) for a whole batch of new points at once.

    Each new point is scored against the frozen fit: k nearest fitted
    points -> ssd -> sigma -> pdist; PLOF against the fit's mean expected
    pdist; LoOP against the fit's max nPLOF.  The model is not updated.
    """
    q = _as_matrix(new_points)
    f = _as_matrix(fitted_points)
    k = int(n_neighbors)
    # (b, n) distances, vectorized
    sq = (
        np.einsum("ij,ij->i", q, q)[:, None]
        - 2.0 * q @ f.T
        + np.einsum("ij,ij->i", f, f)[None, :]
    )
    np.maximum(sq, 0.0, out=sq)
    dist = np.sqrt(sq)
    n = f.shape[0]
    if n >= k:
        part = np.partition(dist, k - 1, axis=1)[:, :k]
    else:
        # fewer fitted points than k: unfilled slots keep the sentinel,
        # matching the reference's replace-max loop on a 9e10-initialized
        # buffer (loop.py:1015, 1029-1031).
        pad = np.full((dist.shape[0], k - n), _SENTINEL)
        part = np.concatenate([dist, pad], axis=1)
    ssd = np.einsum("ij,ij->i", part, part)
    sigma = np.sqrt(ssd / float(k))
    pdist = float(extent) * sigma
    # The reference scores one point per stream() call, so its guards are
    # scalar per point (loop.py:508-511, 542-543); applied row-wise here.
    ev = float(mean_prob_distance_ev)
    ev_safe = ev if ev != 0.0 else 1.0e-8
    plof = np.where(pdist == ev, 0.0, pdist / ev_safe - 1.0)
    scores = np.maximum(0.0, _erf_vec(plof / (float(nplof_max) * np.sqrt(2.0))))
    return np.where(plof == nplof_max, 0.0, scores)
