"""Population Stability Index + grid Kolmogorov-Smirnov drift checks."""

import math

import numpy as np
import pytest

from pynomaly_spark.psi import histogram_ks, histogram_psi


def _psi_numpy(vals, all_vals, n_bins, width, eps):
    def hist(v):
        b = np.clip(np.floor(np.asarray(v, float) / width).astype(int), 0, n_bins - 1)
        return np.bincount(b, minlength=n_bins).astype(float)

    c, g = hist(vals), hist(all_vals)
    p = (c + eps) / (c.sum() + eps * n_bins)
    q = (g + eps) / (g.sum() + eps * n_bins)
    return float(np.sum((p - q) * np.log(p / q)))


@pytest.fixture()
def df(spark):
    rows = [("a", float(v)) for v in [5, 15, 25, 95, 105]] + [
        ("b", float(v)) for v in [5, 5, 5, 15]
    ] + [("b", None), (None, 35.0)]
    return spark.createDataFrame(rows, "part string, x double")


class TestHistogramPsi:
    def test_matches_numpy_reference(self, df):
        out = {
            r["part"]: r
            for r in histogram_psi(
                df, "x", "part", n_bins=8, bin_width=20.0, eps=0.5
            ).collect()
        }
        a = [5, 15, 25, 95, 105]
        b = [5, 5, 5, 15]
        n = [35.0]
        every = a + b + n
        for key, vals, count in [("a", a, 5), ("b", b, 4), (None, n, 1)]:
            assert out[key]["n_rows"] == count
            expect = _psi_numpy(vals, every, 8, 20.0, 0.5)
            assert out[key]["psi"] == pytest.approx(round(expect, 6), abs=2e-6)

    def test_identical_distribution_near_zero(self, spark):
        rows = [(p, float(v)) for p in ("a", "b") for v in range(0, 200, 10)]
        d = spark.createDataFrame(rows, "part string, x double")
        # not exactly 0: eps-smoothing divides by n + eps*B per partition
        # but N + eps*B for the pooled baseline; well under the 0.1
        # "stable" bar is the meaningful claim
        for r in histogram_psi(d, "x", "part", n_bins=8, bin_width=30.0).collect():
            assert abs(r["psi"]) < 0.01

    def test_shifted_distribution_flags(self, spark):
        rows = [("ref", float(v)) for v in range(0, 100)] + [
            ("shifted", float(v) + 300.0) for v in range(0, 100)
        ]
        d = spark.createDataFrame(rows, "part string, x double")
        out = {r["part"]: r["psi"] for r in
               histogram_psi(d, "x", "part", n_bins=16, bin_width=40.0).collect()}
        assert out["shifted"] > 0.25  # the standard "has shifted" bar

    def test_out_of_range_clamps_to_edge_bins(self, spark):
        d = spark.createDataFrame(
            [("a", -50.0), ("a", 1e9)], "part string, x double"
        )
        row = histogram_psi(d, "x", "part", n_bins=4, bin_width=10.0).first()
        assert row["n_rows"] == 2 and math.isfinite(row["psi"])

    def test_value_past_int_range_lands_in_top_bin(self, spark):
        # floor(1e12 / 10) does not fit an INT: the clamp must come first
        d = spark.createDataFrame(
            [("p", 5.0), ("p", 1e12), ("q", 7.0)], "part string, x double"
        )
        out = {
            r["part"]: r
            for r in histogram_psi(d, "x", "part", n_bins=4, bin_width=10.0).collect()
        }
        every = [5.0, 1e12, 7.0]
        for key, vals in [("p", [5.0, 1e12]), ("q", [7.0])]:
            assert out[key]["n_rows"] == len(vals)
            expect = _psi_numpy(vals, every, 4, 10.0, 0.5)
            assert out[key]["psi"] == pytest.approx(round(expect, 6), abs=2e-6)

    def test_partition_invariance(self, df):
        key = lambda r: (r[0] is None, r[0])  # noqa: E731
        a = sorted(map(tuple, histogram_psi(df, "x", "part").collect()), key=key)
        b = sorted(
            map(tuple, histogram_psi(df.repartition(7), "x", "part").collect()),
            key=key,
        )
        assert a == b

    def test_bad_args_raise(self, df):
        with pytest.raises(ValueError):
            histogram_psi(df, "x", "part", n_bins=1)
        with pytest.raises(ValueError):
            histogram_psi(df, "x", "part", bin_width=0)
        with pytest.raises(ValueError):
            histogram_psi(df, "x", "part", eps=0)


def _ks_numpy(vals, all_vals, n_bins, width):
    def cdf(v):
        b = np.clip(np.floor(np.asarray(v, float) / width).astype(int), 0, n_bins - 1)
        h = np.bincount(b, minlength=n_bins).astype(float)
        return np.cumsum(h) / len(v)

    return float(np.max(np.abs(cdf(vals) - cdf(all_vals))))


class TestHistogramKs:
    def test_matches_numpy_reference(self, df):
        out = {
            r["part"]: r
            for r in histogram_ks(df, "x", "part", n_bins=8, bin_width=20.0).collect()
        }
        a = [5, 15, 25, 95, 105]
        b = [5, 5, 5, 15]
        n = [35.0]
        every = a + b + n
        for key, vals, count in [("a", a, 5), ("b", b, 4), (None, n, 1)]:
            assert out[key]["n_rows"] == count
            expect = _ks_numpy(vals, every, 8, 20.0)
            assert out[key]["ks"] == pytest.approx(round(expect, 6), abs=1e-9)

    def test_identical_distribution_exactly_zero(self, spark):
        # two partitions with IDENTICAL value multisets: each partition CDF
        # equals the pooled CDF bin for bin, so grid-KS is exactly 0 (no
        # eps smoothing — the divisions cancel exactly)
        rows = [(p, float(v)) for p in ("a", "b") for v in range(0, 200, 10)]
        d = spark.createDataFrame(rows, "part string, x double")
        for r in histogram_ks(d, "x", "part", n_bins=8, bin_width=30.0).collect():
            assert r["ks"] == 0.0

    def test_disjoint_distributions_near_one(self, spark):
        # 'shifted' mass lives entirely above 'ref' mass: the cumulative
        # gap at the boundary is |1 - pooled_half| = 0.5 against the
        # pooled baseline (which contains both halves)
        rows = [("ref", float(v)) for v in range(0, 100)] + [
            ("shifted", float(v) + 300.0) for v in range(0, 100)
        ]
        d = spark.createDataFrame(rows, "part string, x double")
        out = {r["part"]: r["ks"] for r in
               histogram_ks(d, "x", "part", n_bins=16, bin_width=40.0).collect()}
        assert out["shifted"] == pytest.approx(0.5, abs=1e-9)
        assert out["ref"] == pytest.approx(0.5, abs=1e-9)

    def test_out_of_range_clamps_to_edge_bins(self, spark):
        d = spark.createDataFrame(
            [("a", -50.0), ("a", 1e9)], "part string, x double"
        )
        row = histogram_ks(d, "x", "part", n_bins=4, bin_width=10.0).first()
        assert row["n_rows"] == 2 and 0.0 <= row["ks"] <= 1.0

    def test_partition_invariance(self, df):
        key = lambda r: (r[0] is None, r[0])  # noqa: E731
        a = sorted(map(tuple, histogram_ks(df, "x", "part").collect()), key=key)
        b = sorted(
            map(tuple, histogram_ks(df.repartition(7), "x", "part").collect()),
            key=key,
        )
        assert a == b

    def test_bad_args_raise(self, df):
        with pytest.raises(ValueError):
            histogram_ks(df, "x", "part", n_bins=1)
        with pytest.raises(ValueError):
            histogram_ks(df, "x", "part", bin_width=0)


def test_histogram_w1_integer_exact(spark):
    """Hand value: partition a = [5, 25] (bins 0,1), b = [45, 45]
    (bin 2, twice), pooled = all four.  With n_bins=4, width=20:
    cum_a = [1,2,2,2], cum_b = [0,0,2,2], pooled = [1,2,4,4].
    a: |1*4-1*2| + |2*4-2*2| + |2*4-4*2| + 0 = 2+4+0+0 = 6
    b: |0*4-1*2| + |0*4-2*2| + |2*4-4*2| + 0 = 2+4+0+0 = 6
    w1_bins_6dp = (6*1e6) div (2*4) = 750000 (0.75 bin widths)."""
    from pynomaly_spark.psi import histogram_w1
    import pytest as _pytest

    df = spark.createDataFrame(
        [("a", 5.0), ("a", 25.0), ("b", 45.0), ("b", 45.0)],
        "part string, v double",
    )
    out = {
        r["part"]: r.asDict()
        for r in histogram_w1(df, "v", "part", n_bins=4, bin_width=20.0).collect()
    }
    assert out["a"]["w1_num"] == 6 and out["b"]["w1_num"] == 6
    assert out["a"]["w1_bins_6dp"] == 750000
    assert out["a"]["n_rows"] == 2
    # identical distribution -> exactly zero (integer, not epsilon)
    same = spark.createDataFrame(
        [("a", 5.0), ("b", 5.0)], "part string, v double"
    )
    outs = histogram_w1(same, "v", "part", n_bins=4, bin_width=20.0).collect()
    assert all(r["w1_num"] == 0 and r["w1_bins_6dp"] == 0 for r in outs)
    with _pytest.raises(ValueError, match="n_bins"):
        histogram_w1(df, "v", "part", n_bins=1)
