"""Pre-shuffle profiling ops (profiling.py) + blocked fuzzy ER
(dedup.fuzzy_blocked_pairs).

Cross-engine value parity for the three registry queries lives in the
oracle gate (tests/oracle_compare.py); these tests pin the operator
semantics on hand-built frames where the right answers are computable
by eye: bucket edges, total rows, orphan/fanout accounting, null-key
handling, the hot-block guard, and the single-scan plan shape.
"""

import pytest
from pyspark.sql import functions as F

from pynomaly_spark.dedup import fuzzy_blocked_pairs
from pynomaly_spark.profiling import join_key_profile, key_frequency_histogram


def _rows(df):
    return {tuple(r) for r in df.collect()}


# --------------------------------------------------------------------------
# key_frequency_histogram
# --------------------------------------------------------------------------

def test_key_hist_buckets_and_total(spark):
    # key a: 1 row (bucket 0), b: 3 rows (bucket 1), c: 4 rows
    # (bucket 2), d: 8 rows (bucket 3) -> 16 rows total
    data = (
        [("a",)] + [("b",)] * 3 + [("c",)] * 4 + [("d",)] * 8
    )
    df = spark.createDataFrame(data, ["k"])
    out = key_frequency_histogram(df, "k").collect()
    by_bucket = {r["bucket"]: r for r in out}
    assert set(by_bucket) == {-1, 0, 1, 2, 3}
    tot = by_bucket[-1]
    assert (tot["n_keys"], tot["n_rows"], tot["max_cnt"]) == (4, 16, 8)
    assert tot["row_share"] == 1.0
    assert (by_bucket[0]["n_keys"], by_bucket[0]["n_rows"]) == (1, 1)
    assert (by_bucket[1]["n_keys"], by_bucket[1]["n_rows"]) == (1, 3)
    assert (by_bucket[3]["max_cnt"]) == 8
    assert by_bucket[3]["row_share"] == 0.5
    assert all(r["key_name"] == "k" for r in out)


def test_key_hist_bucket_edges_exact(spark):
    # counts 1,2,3,4,7,8 -> buckets 0,1,1,2,2,3: edges are binary
    # length, immune to float log2 ulp drift
    data = []
    for key, n in [("p", 1), ("q", 2), ("r", 3), ("s", 4), ("t", 7), ("u", 8)]:
        data += [(key,)] * n
    df = spark.createDataFrame(data, ["k"])
    out = {
        r["bucket"]: r["n_keys"]
        for r in key_frequency_histogram(df, "k").collect()
        if r["bucket"] >= 0
    }
    assert out == {0: 1, 1: 2, 2: 2, 3: 1}


def test_key_hist_null_key_is_one_key(spark):
    df = spark.createDataFrame(
        [(None,), (None,), ("x",)], schema="k string"
    )
    out = {r["bucket"]: r for r in key_frequency_histogram(df, "k").collect()}
    # null key groups once (count 2, bucket 1); x -> bucket 0
    assert out[-1]["n_keys"] == 2 and out[-1]["n_rows"] == 3
    assert out[1]["n_keys"] == 1 and out[1]["n_rows"] == 2


def test_key_hist_composite_key_and_name(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2)], ["x", "y"]
    )
    out = key_frequency_histogram(df, ["x", "y"], key_name="xy").collect()
    tot = [r for r in out if r["bucket"] == -1][0]
    assert tot["n_keys"] == 2 and tot["n_rows"] == 3
    assert all(r["key_name"] == "xy" for r in out)


def test_key_hist_reuses_count_exchange(spark):
    # the total-row broadcast branch must reuse the per-key count
    # exchange, not recompute the base scan (ReusedExchange in the
    # physical plan).  AQE only stitches the reuse into the FINAL plan,
    # so execute first, then read isFinalPlan=true
    df = spark.range(1000).select((F.col("id") % 37).alias("k"))
    out = key_frequency_histogram(df, "k")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan


# --------------------------------------------------------------------------
# join_key_profile
# --------------------------------------------------------------------------

def test_join_profile_overlap_orphans_fanout(spark):
    left = spark.createDataFrame(
        [(1,), (1,), (2,), (3,), (None,)], schema="k long"
    )
    right = spark.createDataFrame(
        [(1,), (1,), (1,), (3,), (4,), (None,)], schema="k long"
    )
    r = join_key_profile(left, right, "k", "k").first()
    # null keys never equi-match: excluded from both sides
    assert r["rows_left"] == 4 and r["rows_right"] == 5
    assert r["keys_left"] == 3 and r["keys_right"] == 3
    assert r["keys_both"] == 2
    assert r["keys_left_only"] == 1 and r["keys_right_only"] == 1
    # key 1: 2*3=6; key 3: 1*1=1
    assert r["est_join_rows"] == 7 and r["max_fanout"] == 6
    # est_join_rows equals the real inner-join cardinality
    real = left.join(right, "k").count()
    assert real == r["est_join_rows"]


def test_join_profile_disjoint_sides(spark):
    left = spark.createDataFrame([(1,)], schema="k long")
    right = spark.createDataFrame([(2,)], schema="k long")
    r = join_key_profile(left, right, "k", "k").first()
    assert r["keys_both"] == 0
    assert r["est_join_rows"] == 0 and r["max_fanout"] == 0


def test_join_profile_single_aggregate_plan(spark):
    # both sides pre-aggregate to distinct keys before the full-outer
    # join: the plan must NOT contain a row-level join of the bases
    # (two HashAggregates feed the SortMergeJoin)
    left = spark.range(100).select((F.col("id") % 10).alias("k"))
    right = spark.range(100).select((F.col("id") % 7).alias("k"))
    plan = join_key_profile(left, right, "k", "k")._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" in plan or "full_outer" in plan.lower()


# --------------------------------------------------------------------------
# fuzzy_blocked_pairs
# --------------------------------------------------------------------------

def _names_df(spark):
    rows = [
        (1, "cold anvil"), (2, "cold anvil"), (3, "old anvil"),
        (4, "red anvil"), (5, "blue anvil"),
        (6, "cold bolt"), (7, "gold bolt"),
        (8, None),
    ]
    return spark.createDataFrame(rows, ["pid", "name"])


def test_fuzzy_pairs_within_block_only(spark):
    df = _names_df(spark)
    out = fuzzy_blocked_pairs(
        df, "name", "pid",
        F.element_at(F.split(F.col("name"), " "), -1),
        max_dist=2,
    )
    pairs = {(r["name_a"], r["name_b"], r["dist"]) for r in out.collect()}
    # cold/old anvil dist 1; old/red anvil dist 2; cold/gold bolt 1;
    # blue anvil is >2 from everything; cross-block pairs never form
    assert ("cold anvil", "old anvil", 1) in pairs
    assert ("old anvil", "red anvil", 2) in pairs
    assert ("cold bolt", "gold bolt", 1) in pairs
    assert not any("bolt" in a and "anvil" in b for a, b, _ in pairs)
    assert all(a < b for a, b, _ in pairs)


def test_fuzzy_pairs_canonical_id_and_counts(spark):
    df = _names_df(spark)
    out = fuzzy_blocked_pairs(
        df, "name", "pid",
        F.element_at(F.split(F.col("name"), " "), -1),
        max_dist=1,
    )
    row = [r for r in out.collect() if r["name_a"] == "cold anvil"][0]
    # duplicate "cold anvil" rows collapse: canon_id = min(pid) = 1,
    # n_rows_a = 2
    assert row["id_a"] == 1 and row["n_rows_a"] == 2
    assert row["n_rows_b"] == 1


def test_fuzzy_pairs_hot_block_guard(spark):
    df = spark.range(50).select(
        F.col("id").alias("pid"),
        F.concat(F.lit("name"), F.col("id")).alias("name"),
    )
    with pytest.raises(ValueError, match="max_block_keys"):
        fuzzy_blocked_pairs(
            df, "name", "pid", F.lit("one-block"),
            max_dist=1, max_block_keys=10,
        )


def test_fuzzy_pairs_max_dist_zero_empty(spark):
    # distinct names at dist 0 cannot pair (a < b excludes equality)
    df = _names_df(spark)
    out = fuzzy_blocked_pairs(
        df, "name", "pid",
        F.element_at(F.split(F.col("name"), " "), -1),
        max_dist=0,
    )
    assert out.count() == 0
    with pytest.raises(ValueError):
        fuzzy_blocked_pairs(df, "name", "pid", F.lit("b"), max_dist=-1)


# --------------------------------------------------------------------------
# robust_group_outliers
# --------------------------------------------------------------------------

def test_robust_outliers_median_mad_and_gate(spark):
    from pynomaly_spark.profiling import robust_group_outliers

    # group a: values 1..7 plus a 100 spike -> med 4.5, deviations
    # {3.5,2.5,1.5,0.5,0.5,1.5,2.5,95.5} -> mad 2.0; only the spike
    # exceeds 3*mad
    rows = [("a", v) for v in [1, 2, 3, 4, 5, 6, 7, 100]]
    df = spark.createDataFrame(rows, "g string, x long")
    r = robust_group_outliers(df, "g", "x", k=3.0).first()
    assert (r["n"], r["med"], r["mad"]) == (8, 4.5, 2.0)
    assert (r["n_outliers"], r["outlier_share"]) == (1, 0.125)


def test_robust_outliers_mad_zero_abstains_and_nulls(spark):
    from pynomaly_spark.profiling import robust_group_outliers

    # group b: >= half the values at the median -> mad 0 -> no flags
    # even for the far point; NULL values excluded from n
    rows = [("b", 5), ("b", 5), ("b", 5), ("b", 999), ("b", None)]
    df = spark.createDataFrame(rows, "g string, x long")
    r = robust_group_outliers(df, "g", "x", k=3.0).first()
    assert (r["n"], r["mad"], r["n_outliers"]) == (4, 0.0, 0)
    import pytest

    with pytest.raises(ValueError):
        robust_group_outliers(df, "g", "x", k=0)


# --------------------------------------------------------------------------
# kmv_distinct
# --------------------------------------------------------------------------

def test_kmv_exact_branch_collapses_duplicates(spark):
    from pynomaly_spark.profiling import kmv_distinct

    # 10 distinct values duplicated 3x + a NULL: exact branch (k=64),
    # duplicates and NULLs must not inflate the count
    rows = [("a", f"v{i}") for i in range(10)] * 3 + [("a", None)]
    df = spark.createDataFrame(rows, "g string, v string")
    r = kmv_distinct(df, ["g"], "v", k=64).first()
    assert (r["kmv_k"], r["kmv_estimate"]) == (10, 10)


def test_kmv_sketch_matches_python_replica(spark):
    import hashlib

    from pynomaly_spark.profiling import kmv_distinct

    # 500 distinct values, k=32: the estimate is a deterministic
    # function of the md5 order statistics — replicate it exactly
    vals = [f"item-{i}" for i in range(500)]
    k = 32
    hs = sorted(
        int(hashlib.md5(v.encode()).hexdigest()[:12], 16) for v in vals
    )
    expected = (k - 1) * (1 << 48) // max(hs[k - 1], 1)
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v string")
    r = kmv_distinct(df, ["g"], "v", k=k).first()
    assert r["kmv_k"] == k
    assert r["kmv_estimate"] == expected
    # and the estimator is actually in the right ballpark
    assert abs(r["kmv_estimate"] - 500) / 500 < 0.5


def test_kmv_per_group_and_validation(spark):
    import pytest

    from pynomaly_spark.profiling import kmv_distinct

    rows = [("a", f"x{i}") for i in range(5)] + [("b", "only")]
    df = spark.createDataFrame(rows, "g string, v string")
    out = {r["g"]: r for r in kmv_distinct(df, ["g"], "v", k=4).collect()}
    assert out["a"]["kmv_k"] == 4  # capped at k
    assert (out["b"]["kmv_k"], out["b"]["kmv_estimate"]) == (1, 1)
    with pytest.raises(ValueError):
        kmv_distinct(df, ["g"], "v", k=1)
    with pytest.raises(ValueError):
        kmv_distinct(df, ["g"], "nope")


# --------------------------------------------------------------------------
# bloom_build / bloom_probe
# --------------------------------------------------------------------------

def test_bloom_zero_false_negatives_and_layout(spark):
    from pynomaly_spark.profiling import bloom_build, bloom_probe

    members = spark.createDataFrame(
        [(i,) for i in range(200)], "key long"
    )
    sk = bloom_build(members, "key", m_bits=256, k_hashes=3)
    words = sk.collect()
    # layout: word ids within [0, m/32), bits fit 32-bit unsigned
    assert all(0 <= r["word"] < 8 for r in words)
    assert all(0 < r["bits"] < (1 << 32) for r in words)
    got = {
        r["key"]: r["bloom_maybe"]
        for r in bloom_probe(
            sk, members, "key", m_bits=256, k_hashes=3
        ).collect()
    }
    # THE bloom guarantee: every member answers maybe=1
    assert all(v == 1 for v in got.values()) and len(got) == 200


def test_bloom_misses_are_definite_and_fp_rate_sane(spark):
    from pynomaly_spark.profiling import bloom_build, bloom_probe

    members = spark.createDataFrame([(i,) for i in range(50)], "key long")
    sk = bloom_build(members, "key", m_bits=1024, k_hashes=3)
    outside = spark.createDataFrame(
        [(i,) for i in range(1000, 1400)], "key long"
    )
    got = bloom_probe(sk, outside, "key", m_bits=1024, k_hashes=3)
    fp = sum(r["bloom_maybe"] for r in got.collect())
    # n=50, m=1024, k=3 -> theoretical fp ~ 0.3%; allow wide slack
    assert fp <= 20


def test_bloom_null_keys_dropped_and_validation(spark):
    from pynomaly_spark.profiling import bloom_build, bloom_probe

    df = spark.createDataFrame([(1,), (None,)], "key long")
    sk = bloom_build(df, "key", m_bits=64, k_hashes=2)
    assert sk.count() <= 2  # only key 1 contributed
    with pytest.raises(ValueError, match="m_bits"):
        bloom_build(df, "key", m_bits=100)
    with pytest.raises(ValueError, match="k_hashes"):
        bloom_build(df, "key", k_hashes=0)
    with pytest.raises(ValueError, match="unknown column"):
        bloom_probe(sk, df, "nope")


def test_bloom_probe_is_broadcast_no_probe_shuffle(spark):
    from pynomaly_spark.profiling import bloom_build, bloom_probe

    members = spark.createDataFrame([(i,) for i in range(10)], "key long")
    probes = spark.createDataFrame([(i,) for i in range(30)], "key long")
    sk = bloom_build(members, "key")
    plan = (
        bloom_probe(sk, probes, "key")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# ab_proportions — deterministic two-proportion A/B readout
# ---------------------------------------------------------------------------

def test_ab_proportions_counts_and_z(spark):
    from pynomaly_spark.profiling import ab_proportions

    # 40 users, two metrics: "all" converts every user, "half" converts
    # users 0..19 only.  Arms come from the md5 coin — recompute the
    # expected split in python with the same hash.
    import hashlib

    def arm(u):
        return int(hashlib.md5(f"ab:{u}".encode()).hexdigest()[:12], 16) % 2

    rows = [("all", u) for u in range(40)] + [
        ("half", u) for u in range(20)
    ]
    df = spark.createDataFrame(rows, "metric string, user_id long")
    got = {
        r["metric"]: r
        for r in ab_proportions(df, ["metric"], "user_id").collect()
    }
    n0 = sum(1 for u in range(40) if arm(u) == 0)
    n1 = 40 - n0
    assert (got["all"]["n0"], got["all"]["n1"]) == (n0, n1)
    # degenerate all-converted metric -> z NULL, rates exactly 1
    assert got["all"]["c0"] == n0 and got["all"]["c1"] == n1
    assert got["all"]["z6"] is None
    assert got["all"]["p0_6"] == 1.0 and got["all"]["p1_6"] == 1.0
    # "half" converts users 0..19: recompute c0/c1 and the z by hand
    c0 = sum(1 for u in range(20) if arm(u) == 0)
    c1 = 20 - c0
    assert (got["half"]["c0"], got["half"]["c1"]) == (c0, c1)
    import math

    p = (c0 + c1) / 40
    z = (c1 / n1 - c0 / n0) / math.sqrt(p * (1 - p) * (1 / n0 + 1 / n1))
    assert got["half"]["z6"] == round(z, 6)


def test_ab_proportions_null_units_and_validation(spark):
    from pynomaly_spark.profiling import ab_proportions
    import pytest as _pytest

    df = spark.createDataFrame(
        [("m", 1), ("m", None), (None, 2)],
        "metric string, user_id long",
    )
    rows = ab_proportions(df, ["metric"], "user_id").collect()
    # null metric row dropped from groups; null unit dropped everywhere;
    # user 2 still counts as EXPOSED (denominator) though unconverted.
    assert len(rows) == 1
    r = rows[0]
    assert r["n0"] + r["n1"] == 2 and r["c0"] + r["c1"] == 1
    with _pytest.raises(ValueError, match="unknown columns"):
        ab_proportions(df, ["nope"], "user_id")
    with _pytest.raises(ValueError, match="non-empty"):
        ab_proportions(df, [], "user_id")


# ---------------------------------------------------------------------------
# hll_build / hll_merge / hll_estimate — dense-register HyperLogLog
# ---------------------------------------------------------------------------

def test_hll_accuracy_and_register_bound(spark):
    from pynomaly_spark.profiling import hll_build, hll_estimate
    import pyspark.sql.functions as F

    df = spark.range(20000).select(
        F.lit("g").alias("g"), F.col("id").alias("v")
    )
    sk = hll_build(df, ["g"], "v", p=10)
    regs = sk.collect()
    assert len(regs) <= 1024
    assert all(1 <= r["register"] <= 49 for r in regs)
    est = hll_estimate(sk, ["g"], p=10).collect()[0]
    # sigma ~ 1.04/sqrt(1024) = 3.25%; allow 4 sigma
    assert abs(est["est6"] - 20000) / 20000 < 0.13
    assert est["hll_v"] == 1024 - len(regs)


def test_hll_merge_equals_whole_and_idempotent(spark):
    from pynomaly_spark.profiling import hll_build, hll_merge
    import pyspark.sql.functions as F

    df = spark.range(5000).select(F.lit("g").alias("g"), F.col("id").alias("v"))
    whole = {
        (r["g"], r["bucket"]): r["register"]
        for r in hll_build(df, ["g"], "v", p=8).collect()
    }
    a = hll_build(df.where("v < 3000"), ["g"], "v", p=8)
    b = hll_build(df.where("v >= 2000"), ["g"], "v", p=8)  # overlap 2-3k
    merged = {
        (r["g"], r["bucket"]): r["register"]
        for r in hll_merge(a.unionByName(b), ["g"]).collect()
    }
    assert merged == whole
    # idempotence: merging the whole sketch with itself is a no-op
    sk = hll_build(df, ["g"], "v", p=8)
    twice = {
        (r["g"], r["bucket"]): r["register"]
        for r in hll_merge(sk.unionByName(sk), ["g"]).collect()
    }
    assert twice == whole


def test_hll_linear_counting_branch_and_validation(spark):
    from pynomaly_spark.profiling import hll_build, hll_estimate
    import pyspark.sql.functions as F
    import math

    df = spark.range(10).select(F.lit("g").alias("g"), F.col("id").alias("v"))
    sk = hll_build(df, ["g"], "v", p=10)
    est = hll_estimate(sk, ["g"], p=10).collect()[0]
    v = est["hll_v"]
    assert est["est6"] == round(1024.0 * math.log(1024.0 / v), 6)
    with pytest.raises(ValueError, match="p must be"):
        hll_build(df, ["g"], "v", p=3)
    with pytest.raises(ValueError, match="unknown columns"):
        hll_build(df, ["g"], "nope")
    # null values contribute nothing
    dfn = spark.createDataFrame([("g", None), ("g", 1)], "g string, v int")
    assert hll_build(dfn, ["g"], "v", p=4).count() == 1


# ---------------------------------------------------------------------------
# chisq_uniformity — k-bucket uniformity screen
# ---------------------------------------------------------------------------

def test_chisq_uniformity_exact_values_and_zero_buckets(spark):
    from pynomaly_spark.profiling import chisq_uniformity

    # group "u": perfectly uniform over k=4 -> chi2 = 0
    # group "s": all 8 rows in one of 4 buckets -> chi2 = 4*64/8-8 = 24
    #            (zero buckets penalized by the closed form, k_obs=1)
    rows = [("u", b) for b in range(4) for _ in range(2)] + [
        ("s", 0) for _ in range(8)
    ] + [("n", None)] * 3 + [("n", 1)]
    df = spark.createDataFrame(rows, "g string, b int")
    got = {
        r["g"]: r
        for r in chisq_uniformity(df, ["g"], "b", 4).collect()
    }
    assert got["u"]["chi2_6"] == 0.0 and got["u"]["k_obs"] == 4
    assert got["s"]["chi2_6"] == 24.0 and got["s"]["k_obs"] == 1
    # nulls dropped: group n has 1 row in 1 bucket -> chi2 = 4*1/1-1 = 3
    assert got["n"]["n"] == 1 and got["n"]["chi2_6"] == 3.0
    with pytest.raises(ValueError, match="k must be"):
        chisq_uniformity(df, ["g"], "b", 1)
    with pytest.raises(ValueError, match="unknown columns"):
        chisq_uniformity(df, ["g"], "nope", 4)


# ---------------------------------------------------------------------------
# weighted_quantiles — exact weighted quantiles per group
# ---------------------------------------------------------------------------

def test_weighted_quantiles_hand_computed(spark):
    from pynomaly_spark.profiling import weighted_quantiles

    # group g: values 1..4 with weights 1,1,6,2 (total 10)
    # cum: 1->1, 2->2, 3->8, 4->10
    # p25: first v with 100cum>=250 -> v=3; p50: 100cum>=500 -> 3
    # p75: 100cum>=750 -> 3; p90: >=900 -> 4
    rows = [("g", 1, 1), ("g", 2, 1), ("g", 3, 6), ("g", 4, 2),
            ("g", 0, 0), ("g", None, 5)]  # zero-weight + null value drop
    df = spark.createDataFrame(rows, "g string, v int, w int")
    r = weighted_quantiles(df, ["g"], "v", "w", ps=(25, 50, 75, 90)).collect()[0]
    assert r["total_w"] == 10
    assert (r["wq25"], r["wq50"], r["wq75"], r["wq90"]) == (3, 3, 3, 4)
    # exact boundary: weights 1,1 values 1,2 -> p50 threshold 100*1>=50*2
    # -> lower median 1 (lower-quantile convention)
    df2 = spark.createDataFrame([("h", 1, 1), ("h", 2, 1)], "g string, v int, w int")
    r2 = weighted_quantiles(df2, ["g"], "v", "w", ps=(50,)).collect()[0]
    assert r2["wq50"] == 1
    with pytest.raises(ValueError, match="ps must be"):
        weighted_quantiles(df, ["g"], "v", "w", ps=(0,))
    with pytest.raises(ValueError, match="unknown columns"):
        weighted_quantiles(df, ["g"], "nope", "w")


def test_seasonal_outliers_integer_exact_boundary(spark):
    """Hand-built cell: values [0,0,0,0,100] — mean 20, sigma from
    population moments; only the 100 crosses 1.5 sigma.  Zero-variance
    cells flag nothing; boundary equality does NOT flag (strict >)."""
    from pynomaly_spark.profiling import seasonal_outliers
    import pytest as _pytest

    rows = [("a", 0), ("a", 0), ("a", 0), ("a", 0), ("a", 100),
            ("b", 7), ("b", 7), ("b", 7),
            (None, 5), ("c", None)]
    df = spark.createDataFrame(rows, "k string, y long")
    got = {r["k"]: (r["n"], r["sum_value"], r["n_outliers"], r["mean_value"])
           for r in seasonal_outliers(df, ["k"], "y", 3, 2).collect()}
    # cell a: n=5, s=100, var*n^2 = 5*10000-10000 = 40000
    # x=100: (5*100-100)^2*4 = 640000 > 9*40000 -> out; x=0: 40000*... ->
    # (0*5-100)^2*4 = 40000 < 360000 -> in
    assert got["a"] == (5, 100, 1, 20.0)
    assert got["b"] == (3, 21, 0, 7.0)          # zero variance
    assert set(got) == {"a", "b"}
    # exact boundary: values [0, 2] with k=1 -> (n*x-s)^2 == k^2*(n*ss-s^2)
    eq = spark.createDataFrame([("e", 0), ("e", 2)], "k string, y long")
    r = seasonal_outliers(eq, ["k"], "y", 1, 1).collect()[0]
    assert r["n_outliers"] == 0                  # strict inequality
    with _pytest.raises(ValueError, match="unknown column"):
        seasonal_outliers(df, ["nope"], "y")
    with _pytest.raises(ValueError, match="ratio"):
        seasonal_outliers(df, ["k"], "y", 1, 0)


def test_winsorized_stats_exact_thresholds_and_clipping(spark):
    """10 values 1..9 + one 1000: p5 clamps the 1 up?  lower-quantile
    convention hand-check: thresholds are order statistics, clip
    counts and the winsorized sum are exact."""
    from pynomaly_spark.profiling import winsorized_stats
    import pytest as _pytest

    vals = [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]
    df = spark.createDataFrame([("g", v) for v in vals], "k string, v long")
    r = winsorized_stats(df, ["k"], "v", lo=10, hi=90).collect()[0]
    # n=10: t_lo = first v with cum>=1 -> 1; t_hi = first v with cum>=9 -> 9
    assert (r["t_lo"], r["t_hi"]) == (1, 9)
    assert (r["n_clipped_lo"], r["n_clipped_hi"]) == (0, 1)
    assert r["winsor_sum"] == sum(vals[:-1]) + 9
    assert r["n"] == 10
    with _pytest.raises(ValueError, match="lo < hi"):
        winsorized_stats(df, ["k"], "v", lo=90, hi=10)
    with _pytest.raises(ValueError, match="unknown columns"):
        winsorized_stats(df, ["k"], "nope")


def test_qhist_merge_equals_direct_build_and_bounds(spark):
    """Merging split sketches is frame-identical to building on the
    whole input; the estimate brackets the true quantile within the
    bin's 2x bound; negatives raise in plan."""
    from pynomaly_spark.profiling import (
        qhist_build, qhist_estimate, qhist_merge,
    )
    import pytest as _pytest

    vals = [0, 1, 2, 3, 5, 8, 13, 100, 1000, 1001]
    df = spark.createDataFrame([("g", v) for v in vals], "k string, v long")
    whole = qhist_build(df, ["k"], "v")
    halves = qhist_build(df.where("v < 6"), ["k"], "v").unionByName(
        qhist_build(df.where("v >= 6"), ["k"], "v"))
    direct = {(r["k"], r["qbin"]): r["cnt"] for r in whole.collect()}
    merged = {(r["k"], r["qbin"]): r["cnt"]
              for r in qhist_merge(halves, ["k"]).collect()}
    assert direct == merged
    est = qhist_estimate(whole, ["k"], ps=(50, 90)).collect()[0]
    assert est["n"] == 10
    # true p50 (lower convention) = 5 -> bin 2 ([4,8)) -> lo 4
    assert est["q50_lo"] == 4
    # true p90 = 1000 -> bin 9 ([512,1024)) -> lo 512
    assert est["q90_lo"] == 512
    neg = spark.createDataFrame([("g", -1)], "k string, v long")
    with _pytest.raises(Exception, match="negative value"):
        qhist_build(neg, ["k"], "v").collect()
    with _pytest.raises(ValueError, match="ps must be"):
        qhist_estimate(whole, ["k"], ps=(0,))


def test_fd_check_reports_violators_only(spark):
    """k1 maps to one rhs (holds), k2 to two (violates); report rows,
    counts and example values are exact; cap keeps the worst keys."""
    from pynomaly_spark.profiling import fd_check
    import pytest as _pytest

    df = spark.createDataFrame(
        [("k1", "x", 1), ("k1", "x", 2),
         ("k2", "x", 1), ("k2", "y", 1), ("k2", "y", 2),
         ("k3", "a", 1), ("k3", "b", 1), ("k3", "c", 1),
         (None, "z", 1)],
        "lhs string, rhs string, extra long",
    )
    got = {r["lhs"]: (r["n_distinct_rhs"], r["n_rows"],
                      r["rhs_min"], r["rhs_max"])
           for r in fd_check(df, ["lhs"], ["rhs"]).collect()}
    assert got == {"k2": (2, 3, "x", "y"), "k3": (3, 3, "a", "c")}
    capped = fd_check(df, ["lhs"], ["rhs"], max_violators=1).collect()
    assert [r["lhs"] for r in capped] == ["k3"]   # worst first
    with _pytest.raises(ValueError, match="unknown columns"):
        fd_check(df, ["nope"], ["rhs"])
    with _pytest.raises(ValueError, match="non-empty"):
        fd_check(df, [], ["rhs"])


def test_ks_exact_matches_literal_python(spark):
    """The integer KS statistic equals a literal python computation of
    sup|F_a - F_b| on hand data, including the tie-heavy case; the
    two-level scan equals the naive definition."""
    from fractions import Fraction

    from pynomaly_spark.profiling import ks_exact
    import pytest as _pytest

    a_vals = [1, 2, 2, 3, 10, 10, 11]
    b_vals = [2, 3, 3, 4, 4, 10, 20, 21]
    a = spark.createDataFrame([(v,) for v in a_vals], "v long")
    b = spark.createDataFrame([(v,) for v in b_vals], "v long")
    r = ks_exact(a, b, "v", coarse_width=4).collect()[0]

    def cdf(vals, x):
        return sum(1 for t in vals if t <= x)

    pooled = sorted(set(a_vals + b_vals))
    d_num = max(
        abs(len(b_vals) * cdf(a_vals, x) - len(a_vals) * cdf(b_vals, x))
        for x in pooled
    )
    assert (r["n_a"], r["n_b"], r["d_num"]) == (7, 8, d_num)
    assert r["d"] == round(
        float(Fraction(d_num, len(a_vals) * len(b_vals))), 6
    )
    # identical samples -> D = 0
    z = ks_exact(a, a, "v").collect()[0]
    assert z["d_num"] == 0 and z["d"] == 0.0
    with _pytest.raises(ValueError, match="missing from df_b"):
        ks_exact(a, b.withColumnRenamed("v", "w"), "v")


def test_rank_sum_u_matches_literal_python_with_ties(spark):
    """u2 equals twice the literal Mann-Whitney U with midrank ties;
    disjoint higher sample gives effect 1.0; identical samples 0.5."""
    from pynomaly_spark.profiling import rank_sum_u

    a_vals = [3, 5, 5, 9]
    b_vals = [1, 5, 7]
    a = spark.createDataFrame([(v,) for v in a_vals], "v long")
    b = spark.createDataFrame([(v,) for v in b_vals], "v long")
    r = rank_sum_u(a, b, "v", coarse_width=4).collect()[0]
    u2 = 0
    for x in a_vals:
        for y in b_vals:
            u2 += 2 if x > y else (1 if x == y else 0)
    assert (r["n_a"], r["n_b"], r["u2"]) == (4, 3, u2)
    assert r["effect"] == round(u2 / (2 * 4 * 3), 6)
    hi = spark.createDataFrame([(100,), (101,)], "v long")
    assert rank_sum_u(hi, b, "v").collect()[0]["effect"] == 1.0
    assert rank_sum_u(a, a, "v").collect()[0]["effect"] == 0.5


@pytest.mark.parametrize("empty_side", ["a", "b"])
def test_two_sample_tests_with_one_empty_side(spark, empty_side):
    """One side with no non-NULL value: the counts and the integer
    statistic come back, the undefined ratio is NULL (no DIVIDE_BY_ZERO)."""
    from pynomaly_spark.profiling import ks_exact, rank_sum_u

    full = spark.createDataFrame([(v,) for v in [3, 5, 5, 9]], "v long")
    empty = spark.createDataFrame([(None,)], "v long")
    a, b = (empty, full) if empty_side == "a" else (full, empty)
    n_a, n_b = (0, 4) if empty_side == "a" else (4, 0)
    ks = ks_exact(a, b, "v").collect()
    assert [tuple(r) for r in ks] == [(n_a, n_b, 0, None)]
    u = rank_sum_u(a, b, "v").collect()
    assert [tuple(r) for r in u] == [(n_a, n_b, 0, None)]


def test_fd_repair_majority_and_tiebreak(spark):
    """Majority rhs wins; equal counts break on the smaller rendered
    rhs; clean keys emit nothing; confidence is truncating 6-dp."""
    from pynomaly_spark.profiling import fd_repair
    import pytest as _pytest

    rows = (
        # key 1: supplier 9 x2, supplier 5 x1 -> suggest 9, conf 2/3
        [(1, 9)] * 2 + [(1, 5)]
        # key 2: tie 1-1 -> smaller rendered rhs ("3") wins
        + [(2, 3), (2, 7)]
        # key 3: clean (single rhs) -> absent
        + [(3, 4)] * 3
    )
    df = spark.createDataFrame(rows, "k long, s long")
    out = {
        r["k"]: r.asDict()
        for r in fd_repair(df, ["k"], ["s"]).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["suggested_rhs"] == "9" and out[1]["votes"] == 2
    assert out[1]["n_rows"] == 3 and out[1]["confidence_6dp"] == 666666
    assert out[2]["suggested_rhs"] == "3" and out[2]["votes"] == 1
    with _pytest.raises(ValueError, match="unknown columns"):
        fd_repair(df, ["k"], ["nope"])
    with _pytest.raises(ValueError, match="non-empty"):
        fd_repair(df, [], ["s"])


def test_readability_exact_rational_score(spark):
    """'The cat sat. The dog ran!' -> w=6, s=2, vowel groups:
    e,a,a,e,o,a = 6.  score = (206835*2*6 - 1015*36 - 84600*6*2)
    / (1000*2*6) = (2482020 - 36540 - 1015200)/12000 = 119.190
    -> 119190000 at 6dp.  Empty/unscorable rows yield NULL."""
    from pynomaly_spark.textops import readability
    import pytest as _pytest

    df = spark.createDataFrame(
        [("The cat sat. The dog ran!",), ("",), (None,)], "text string"
    )
    rows = readability(df).collect()
    scored = [r for r in rows if r["flesch_6dp"] is not None]
    assert len(scored) == 1
    r = scored[0]
    assert (r["n_words"], r["n_sentences"], r["n_syllable_groups"]) == (6, 2, 6)
    assert r["flesch_6dp"] == 119190000
    with _pytest.raises(ValueError, match="unknown column"):
        readability(df, "nope")


def _flesch_6dp(text):
    """Reference Flesch score of ``text`` in Python integers: the
    ``readability`` counts, then the rational score truncated toward
    zero at 6 dp."""
    import re

    w = sum(1 for x in re.split(r" +", text) if x != "")
    s = sum(1 for x in re.split(r"[.!?]+", text) if x.strip(" ") != "")
    y = len(re.findall(r"[aeiouy]+", text.lower()))
    num = (206835 * s * w - 1015 * w * w - 84600 * y * s) * 1000000
    den = 1000 * s * w
    q = abs(num) // den
    return w, s, (q if num >= 0 else -q)


def test_readability_long_documents_do_not_overflow(spark):
    """Property: ``flesch_6dp`` equals the exact integer score on
    documents whose s·w exceeds 4.5e7, where a BIGINT numerator
    (206835·s·w·10^6 > 2^63) overflows and raises under ANSI mode, and
    on short documents beside them in the same frame."""
    import random

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pynomaly_spark.textops import readability

    words = ["a", "The", "cat", "rhythm", "nth", "queue", "strength", "Eye"]
    ends = [".", "!", "?", "...", "?!"]

    @given(
        seed=st.integers(min_value=0, max_value=2**32 - 1),
        n_sent=st.integers(min_value=6800, max_value=9000),
        per_sent=st.integers(min_value=1, max_value=3),
    )
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def prop(seed, n_sent, per_sent):
        rng = random.Random(seed)

        def doc(n, k):
            return " ".join(
                " ".join(rng.choice(words) for _ in range(k)) + rng.choice(ends)
                for _ in range(n)
            )

        texts = [doc(n_sent, per_sent), doc(n_sent, 1), doc(3, 4), doc(1, 1)]
        w, s, _ = _flesch_6dp(texts[1])
        assert s * w > 45_000_000
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
        got = {
            r["i"]: (r["n_words"], r["n_sentences"], r["flesch_6dp"])
            for r in readability(df).collect()
        }
        assert got == {i: _flesch_6dp(t) for i, t in enumerate(texts)}

    prop()


def test_part_abc_two_level_cumulative(spark, tmp_path):
    """Hand-built revenues 50/30/15/5 (parts 1..4): cumulative shares
    50/80/95/100 -> classes A, A, B, C under the <=80 / <=95
    boundaries.  The two-level scan must agree with the plain
    cumulative regardless of bucket splits."""
    from pynomaly_spark.queries import QUERIES

    rows = [
        (1, 1, 0.50), (1, 1, 0.00),      # part 1: 50 cents
        (2, 2, 0.30),                    # part 2: 30
        (3, 3, 0.15),                    # part 3: 15
        (4, 4, 0.05),                    # part 4: 5
    ]
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_extendedprice double"
    )
    sf_dir = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(f"{sf_dir}/lineitem.parquet")
    out = {
        r["abc_class"]: r.asDict()
        for r in QUERIES["part_abc"](spark, sf_dir).collect()
    }
    assert out["A"]["n_parts"] == 2 and out["A"]["rev_cents"] == 80
    assert out["B"]["n_parts"] == 1 and out["B"]["rev_cents"] == 15
    assert out["C"]["n_parts"] == 1 and out["C"]["rev_cents"] == 5
    assert out["A"]["share_6dp"] == 800000
    assert out["B"]["share_6dp"] == 150000


def test_lineitem_moments_match_numpy(spark, tmp_path):
    """Skew/kurt from the exact n-scaled central moments agree with a
    direct numpy computation; a constant column yields NULLs."""
    import numpy as np

    from pynomaly_spark.queries import QUERIES

    rng = np.random.RandomState(3)
    xs = rng.randint(1, 50, size=300)
    rows = [("R", int(x)) for x in xs] + [("K", 7)] * 5
    df = spark.createDataFrame(rows, "l_returnflag string, l_quantity long")
    sf_dir = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(f"{sf_dir}/lineitem.parquet")
    out = {
        r["g"]: r.asDict()
        for r in QUERIES["lineitem_moments"](spark, sf_dir).collect()
    }
    d = xs - xs.mean()
    m2, m3, m4 = (d**2).mean(), (d**3).mean(), (d**4).mean()
    want_skew = int(np.floor(m3 / m2**1.5 * 1e6))
    want_kurt = int(m4 / m2**2 * 1e6)
    assert abs(out["R"]["skew_6dp"] - want_skew) <= 1
    assert abs(out["R"]["kurt_6dp"] - want_kurt) <= 1
    assert out["K"]["skew_6dp"] is None and out["K"]["kurt_6dp"] is None


def test_events_fano_hand_values(spark, tmp_path):
    """Constant daily counts -> Fano 0; counts [1, 3] -> var 1,
    mean 2 -> 500000 at 6 dp (population variance, truncating)."""
    import datetime as dt

    from pynomaly_spark.queries import QUERIES

    base = dt.datetime(2020, 1, 1)
    rows = []
    ev = 0
    for d in range(4):          # 'flat': 2 events every day
        for _ in range(2):
            rows.append((ev, base + dt.timedelta(days=d), 1, "flat", None)); ev += 1
    for d, k in ((0, 1), (1, 3)):  # 'burst': 1 then 3
        for _ in range(k):
            rows.append((ev, base + dt.timedelta(days=d), 1, "burst", None)); ev += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    sf_dir = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(f"{sf_dir}/events.parquet")
    out = {
        r["event_type"]: r.asDict()
        for r in QUERIES["events_fano"](spark, sf_dir).collect()
    }
    assert out["flat"]["fano_6dp"] == 0 and out["flat"]["n_days"] == 4
    assert out["burst"]["fano_6dp"] == 500000
    assert out["burst"]["n_events"] == 4
