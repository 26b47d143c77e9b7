"""Spark drift-operator parity tests.

The grouped path (one ``mapInPandas`` stream per task) must reproduce
the pure-numpy kernel (and therefore the reference golden scores)
exactly; the distributed Catalyst path must match the grouped path; the
precomputed-kNN table entry point must match the raw-feature path.
"""

import numpy as np
import pandas as pd
import pytest

from pynomaly_spark import kernel
from pynomaly_spark.drift import (
    loop_distributed,
    loop_from_knn_table,
    loop_grouped,
)

GOLDEN_IN = np.array(
    [
        0.02059752, 0.32629926, 0.63036653, 0.94409321, 0.63251097,
        0.47598494, 0.80204026, 0.34845067, 0.81556468, 0.89183,
        0.25210317, 0.11460502, 0.19953434, 0.36955067, 0.06038041,
        0.34527368, 0.56621582, 0.90533649, 0.33773613, 0.71573306,
    ]
)
GOLDEN_SCORES = np.array(
    [
        0.6356276742921594, 0.0, 0.0, 0.48490790006974044, 0.0,
        0.0, 0.0, 0.0, 0.021728288376168012, 0.28285086151683225,
        0.0, 0.18881886507113213, 0.0, 0.0, 0.45350246469681843,
        0.0, 0.07886635748113013, 0.3349068501560546, 0.0, 0.0,
    ]
)


def _feature_df(spark, groups):
    """groups: dict name -> (n, d) ndarray. Returns Spark df with row_id."""
    rows = []
    rid = 0
    for name, pts in groups.items():
        for p in np.atleast_2d(pts):
            rows.append((rid, name, [float(v) for v in np.atleast_1d(p)]))
            rid += 1
    pdf = pd.DataFrame(rows, columns=["row_id", "partition_id", "features"])
    return spark.createDataFrame(pdf)


def _collect_scores(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["partition_id"], []).append(
            (r["row_id"], r["loop_score"], r["gated"])
        )
    for v in out.values():
        v.sort()
    return out


def test_grouped_matches_golden(spark):
    rng = np.random.RandomState(5)
    groups = {
        "golden": GOLDEN_IN.reshape(-1, 1),
        "noise": rng.rand(40, 3),
    }
    res = _collect_scores(loop_grouped(_feature_df(spark, groups), 10, 3))
    got = np.array([s for _, s, _ in res["golden"]])
    np.testing.assert_array_almost_equal(got, GOLDEN_SCORES, 6)
    # noise group scored independently, matches direct kernel
    direct = kernel.loop_scores(np.random.RandomState(5).rand(40, 3), 10, 3)
    got_noise = np.array([s for _, s, _ in res["noise"]])
    np.testing.assert_array_almost_equal(got_noise, direct.scores, 10)


def test_grouped_gates_small_groups(spark):
    groups = {
        "big": np.random.RandomState(1).rand(30, 2),
        "tiny": np.random.RandomState(2).rand(5, 2),
    }
    res = _collect_scores(loop_grouped(_feature_df(spark, groups), 10, 3))
    assert all(g for _, _, g in res["tiny"])
    assert all(s is None for _, s, _ in res["tiny"])
    assert not any(g for _, _, g in res["big"])


def test_knn_table_entry_point_matches(spark):
    pts = np.random.RandomState(3).rand(60, 2)
    d, ids = kernel.knn(pts, 10)
    base_rid = 1000  # row_ids offset: prove global-id remapping works
    pdf = pd.DataFrame(
        {
            "row_id": np.arange(60) + base_rid,
            "partition_id": "p0",
            "knn_dists": [list(map(float, r)) for r in d],
            "knn_ids": [[int(i) + base_rid for i in r] for r in ids],
        }
    )
    got = _collect_scores(
        loop_from_knn_table(spark.createDataFrame(pdf), 10, 3)
    )["p0"]
    direct = kernel.loop_scores(pts, 10, 3)
    np.testing.assert_array_almost_equal(
        np.array([s for _, s, _ in got]), direct.scores, 10
    )


def test_distributed_matches_grouped_with_exact_knn(spark):
    """Catalyst pipeline == grouped kernel when fed the same exact kNN."""
    pts = np.random.RandomState(7).rand(80, 2)
    d, ids = kernel.knn(pts, 10)
    knn_pdf = pd.DataFrame(
        {
            "row_id": np.arange(80),
            "partition_id": "p0",
            "knn_dists": [list(map(float, r)) for r in d],
            "knn_ids": [list(map(int, r)) for r in ids],
        }
    )
    feats = _feature_df(spark, {"p0": pts})
    dist = _collect_scores(
        loop_distributed(
            feats, 10, 3, knn_table=spark.createDataFrame(knn_pdf)
        )
    )["p0"]
    grouped = _collect_scores(loop_grouped(feats, 10, 3))["p0"]
    np.testing.assert_array_almost_equal(
        np.array([s for _, s, _ in dist]),
        np.array([s for _, s, _ in grouped]),
        9,
    )


def test_distributed_bucketed_knn_end_to_end(spark):
    """Full distributed path with the grid-bucketed self-join; a generous
    cell size makes the approximate kNN exact, so scores must match."""
    rng = np.random.RandomState(11)
    pts = np.vstack([rng.rand(70, 2), rng.rand(10, 2) + 3.0])
    feats = _feature_df(spark, {"p0": pts})
    dist = _collect_scores(
        loop_distributed(feats, 5, 3, cell_size=50.0)
    )["p0"]
    grouped = _collect_scores(loop_grouped(feats, 5, 3))["p0"]
    np.testing.assert_array_almost_equal(
        np.array([s for _, s, _ in dist]),
        np.array([s for _, s, _ in grouped]),
        9,
    )


def test_distributed_gates_small_groups(spark):
    groups = {
        "big": np.random.RandomState(1).rand(30, 2),
        "tiny": np.random.RandomState(2).rand(4, 2),
    }
    res = _collect_scores(
        loop_distributed(_feature_df(spark, groups), 10, 3, cell_size=50.0)
    )
    assert all(g for _, _, g in res["tiny"]) and len(res["tiny"]) == 4
    assert not any(g for _, _, g in res["big"])


def test_salted_grouped_path(spark):
    """Salting splits a hot group into independent sub-fits: all rows come
    back exactly once, outliers still rank above inliers in each sub-fit."""
    import pandas as pd
    from pynomaly_spark.skew import with_salt

    rng = np.random.RandomState(13)
    pts = np.vstack([0.3 * rng.randn(300, 2), rng.uniform(-5, 5, (12, 2))])
    feats = _feature_df(spark, {"hot": pts})
    salted = with_salt(feats, max_group_rows=80)
    out = loop_grouped(salted, 10, 3, salt_col="salt").toPandas()
    assert len(out) == 312
    assert out.row_id.is_unique
    assert not out.gated.any()
    assert (out.partition_id == "hot").all()
    inlier = out[out.row_id < 300].loop_score
    outlier = out[out.row_id >= 300].loop_score
    assert outlier.mean() > inlier.mean() + 0.3


def _kernel_by_group(pdf, group_cols, k, fcols=None):
    """Expected scores: one ``kernel.loop_scores`` fit per group of the
    input frame (rows in id order), or gated (None) when n <= k.  The
    features are the ``features`` arrays, or the flat ``fcols``."""
    exp = {}
    for _, g in pdf.sort_values("row_id").groupby(group_cols, sort=False):
        if len(g) <= k:
            exp.update(dict.fromkeys(g.row_id, None))
            continue
        if fcols:
            pts = g[fcols].to_numpy(dtype=np.float64)
        else:
            pts = np.stack(g.features.to_numpy())
        exp.update(zip(g.row_id, kernel.loop_scores(pts, k, 3).scores))
    return exp


def _assert_scores(out, exp):
    assert len(out) == len(exp) and out.row_id.is_unique
    for rid, score, gated in zip(out.row_id, out.loop_score, out.gated):
        if exp[rid] is None:
            assert gated and (score is None or np.isnan(score))
        else:
            assert not gated
            np.testing.assert_allclose(score, exp[rid], rtol=0, atol=1e-12)


def test_grouped_matches_kernel_per_group(spark):
    """loop_grouped == one kernel fit per group to 1e-12 — including
    gated groups, carry columns, flat feature transport and salting."""
    from pyspark.sql import functions as F
    from pynomaly_spark.skew import with_salt

    rng = np.random.RandomState(11)
    groups = {
        "a": rng.randn(60, 3),
        "b": rng.randn(300, 3) + 4.0,
        "tiny": rng.randn(5, 3),  # gated (n <= k)
    }
    df = _feature_df(spark, groups).withColumn(
        "tag", F.concat(F.lit("t"), F.col("row_id"))
    )
    exp = _kernel_by_group(df.toPandas(), ["partition_id"], 10)

    out = loop_grouped(df, n_neighbors=10).toPandas()
    _assert_scores(out, exp)
    assert set(out.partition_id[out.gated]) == {"tiny"}

    out = loop_grouped(df, n_neighbors=10, carry_cols=["tag"]).toPandas()
    _assert_scores(out, exp)
    assert list(out.columns)[-1] == "tag"
    assert (out.tag == "t" + out.row_id.astype(str)).all()

    # flat feature columns + salt: each (partition, salt) sub-group is
    # its own fit, and the emitted partition_id stays the original
    fcols = ["_f0", "_f1", "_f2"]
    flat = df.select(
        "row_id",
        "partition_id",
        *[F.col("features")[i].alias(c) for i, c in enumerate(fcols)],
    )
    salted = with_salt(flat, 100)
    spdf = salted.toPandas()
    assert spdf.groupby("partition_id").salt.nunique()["b"] > 1
    out = loop_grouped(
        salted, n_neighbors=10, feature_cols=fcols, salt_col="salt"
    ).toPandas()
    _assert_scores(
        out, _kernel_by_group(spdf, ["partition_id", "salt"], 10, fcols)
    )
    assert set(out.partition_id) == set(groups)


def test_grouped_scores_null_partition_keys(spark):
    """Null group keys must be scored as a NULL partition, not silently
    dropped by pandas groupby's dropna default."""
    from pyspark.sql import functions as F

    rng = np.random.RandomState(3)
    groups = {"a": rng.randn(40, 2)}
    df = _feature_df(spark, groups)

    # half the rows get a NULL partition id
    df = df.withColumn(
        "partition_id",
        F.when(F.col("row_id") % 2 == 0, F.col("partition_id")),
    )
    out = loop_grouped(df, n_neighbors=5).toPandas()
    assert len(out) == 40
    assert set(out.partition_id) == {"a", None}
    assert out.loop_score.notna().all()


def test_grouped_exact_tiebreak_matches_sorted_kernel(spark):
    """exact_tiebreak: a tie-heavy group whose ids arrive shuffled over
    several input partitions scores exactly like the kernel's
    ``(distance, id)`` tie-break over the rows sorted by id."""
    from pyspark.sql import functions as F

    rng = np.random.RandomState(17)
    n, k = 120, 10
    pts = rng.randint(0, 4, size=(n, 2)).astype(np.float64)  # 16 distinct
    ids = rng.permutation(10 * n)[:n].astype(np.int64)
    pdf = pd.DataFrame(
        {
            "row_id": ids,
            "partition_id": "p0",
            "features": [list(map(float, p)) for p in pts],
        }
    )
    df = spark.createDataFrame(pdf).repartition(5)
    spread = df.groupBy(F.spark_partition_id()).count().count()
    assert spread > 1
    out = loop_grouped(df, n_neighbors=k, exact_tiebreak=True).toPandas()
    order = np.argsort(ids, kind="stable")
    exp = kernel.loop_scores(pts[order], k, 3, exact_tiebreak=True)
    got = out.set_index("row_id").loc[ids[order]]
    assert not got.gated.any()
    np.testing.assert_allclose(
        got.loop_score.to_numpy(dtype=float), exp.scores, rtol=0, atol=1e-12
    )
    np.testing.assert_allclose(
        got.prob_distance_ev.to_numpy(dtype=float),
        exp.prob_distance_ev,
        rtol=0,
        atol=1e-12,
    )


def test_grouped_plan_is_one_map_stream(spark):
    """loop_grouped plans one MapInPandas over a hash exchange, never a
    per-group FlatMapGroupsInPandas (one Arrow frame per group)."""
    df = _feature_df(spark, {"a": np.random.RandomState(1).rand(30, 2)})
    for scored in (
        loop_grouped(df, 10),
        loop_from_knn_table(
            df.selectExpr(
                "row_id",
                "partition_id",
                "features AS knn_dists",
                "array(row_id, row_id) AS knn_ids",
            ),
            2,
        ),
    ):
        plan = scored._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan
        assert "FlatMapGroupsInPandas" not in plan
        assert "hashpartitioning(partition_id" in plan
