"""Concat-and-chunk sequence packing (packing.py): numpy reference
parity, bucketing invariance, chunk-fill exactness, plan shape."""

import numpy as np
import pytest

from pynomaly_spark.packing import chunk_stats, pack_chunks


def _np_pack(tokens, cap):
    """Reference assignment over one ordered stream."""
    out = []
    cum = 0
    for n in tokens:
        first = cum // cap
        last = (cum + n - 1) // cap
        out.append((cum, first, last, last - first + 1, cum % cap))
        cum += n
    return out


def _mkdf(spark, rows, parts=1):
    return spark.createDataFrame(
        rows, "grp string, doc_id long, n long"
    ).repartition(parts)


def test_pack_chunks_matches_numpy_reference(spark):
    rng = np.random.default_rng(11)
    rows = []
    for g in ["a", "b"]:
        for i in range(200):
            # mix of tiny docs and multi-chunk giants (up to 5x cap)
            n = int(rng.integers(1, 60)) if i % 7 else int(rng.integers(200, 640))
            rows.append((g, i, n))
    df = _mkdf(spark, rows, parts=8)
    got = {
        (r.grp, r.doc_id): r
        for r in pack_chunks(
            df, "n", "doc_id", cap=128, group_col="grp", n_buckets=5
        ).collect()
    }
    assert len(got) == len(rows)
    for g in ["a", "b"]:
        toks = [n for gg, _, n in rows if gg == g]
        ref = _np_pack(toks, 128)
        for i, (cum, first, last, nch, off) in enumerate(ref):
            r = got[(g, i)]
            assert (
                r.cum_before,
                r.first_chunk,
                r.last_chunk,
                r.n_chunks,
                r.offset_in_chunk,
            ) == (cum, first, last, nch, off), (g, i)


def test_pack_chunks_bucketing_invariance(spark):
    """cum_before is exact for ANY bucket count / input partitioning."""
    rng = np.random.default_rng(3)
    rows = [
        (None if i % 3 == 0 else "g", i, int(rng.integers(1, 300)))
        for i in range(150)
    ]
    frames = [
        pack_chunks(
            _mkdf(spark, rows, parts=p), "n", "doc_id",
            cap=64, group_col="grp", n_buckets=b,
        )
        for p, b in [(1, 1), (6, 3), (12, 32)]
    ]
    base = sorted(
        (t for t in map(tuple, frames[0].collect()) if t[0] is not None)
    ) + sorted(t for t in map(tuple, frames[0].collect()) if t[0] is None)
    for f in frames[1:]:
        rows = list(map(tuple, f.collect()))
        cmp = sorted(t for t in rows if t[0] is not None) + sorted(
            t for t in rows if t[0] is None
        )
        assert cmp == base
    # the NULL group is its own stream, not dropped
    assert any(t[0] is None for t in base)


def test_pack_chunks_global_stream_and_filters(spark):
    rows = [("x", 1, 100), ("x", 2, 0), ("x", None, 50), ("x", 4, 29)]
    out = pack_chunks(
        _mkdf(spark, rows), "n", "doc_id", cap=64, n_buckets=2
    ).collect()
    got = {r.doc_id: r for r in out}
    # zero-token and null-order rows carry no stream content
    assert set(got) == {1, 4}
    assert (got[1].first_chunk, got[1].last_chunk) == (0, 1)
    assert (got[4].cum_before, got[4].first_chunk) == (100, 1)
    assert got[4].offset_in_chunk == 36


def test_chunk_stats_fill_exact(spark):
    rng = np.random.default_rng(7)
    rows = [("g", i, int(rng.integers(1, 500))) for i in range(300)]
    packed = pack_chunks(
        _mkdf(spark, rows, parts=4), "n", "doc_id",
        cap=256, group_col="grp", n_buckets=4,
    )
    stats = chunk_stats(packed, 256, "doc_id", group_col="grp").collect()
    total = sum(n for _, _, n in rows)
    last_chunk = (total - 1) // 256
    by_chunk = {r.chunk_id: r for r in stats}
    assert set(by_chunk) == set(range(last_chunk + 1))
    for cid, r in by_chunk.items():
        if cid < last_chunk:
            assert r.chunk_tokens == 256, cid
        else:
            assert r.chunk_tokens == total - 256 * last_chunk
    assert sum(r.chunk_tokens for r in stats) == total
    # first_doc is the smallest doc touching the chunk -> nondecreasing
    fds = [by_chunk[c].first_doc for c in range(last_chunk + 1)]
    assert fds == sorted(fds)


def test_pack_chunks_plan_is_bucket_parallel(spark):
    """The big-frame window must shuffle on the bucket key, never
    funnel the corpus through one reducer."""
    rows = [("g", i, 10) for i in range(100)]
    import re

    plan = pack_chunks(
        _mkdf(spark, rows, parts=4), "n", "doc_id",
        cap=64, group_col="grp", n_buckets=8,
    )._jdf.queryExecution().optimizedPlan().toString()
    # a Window line reads "Window [exprs], [partition spec], [order spec]";
    # only the tiny offsets relation may be unkeyed by the bucket: every
    # window over the row-level token counts must partition on it
    wins = [
        re.search(r"Window \[(.*)\], \[([^\[\]]*)\], \[[^\[\]]*\]\s*$", ln)
        for ln in plan.splitlines()
        if "Window [" in ln
    ]
    row_level = [m for m in wins if m and "sum(n_tokens" in m.group(1)]
    assert row_level and all("_bucket" in m.group(2) for m in row_level)


def test_pack_chunks_validates_args(spark):
    df = _mkdf(spark, [("g", 1, 5)])
    with pytest.raises(ValueError):
        pack_chunks(df, "n", "doc_id", cap=0)
    with pytest.raises(ValueError):
        pack_chunks(df, "n", "doc_id", cap=8, n_buckets=0)


def test_pack_chunks_properties_hypothesis(spark):
    """Property check over random token streams: exact coverage — every
    doc's span starts where the previous one ended, chunk ids tile the
    stream, and offsets stay under cap."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        toks=st.lists(st.integers(min_value=1, max_value=700),
                      min_size=1, max_size=40),
        cap=st.integers(min_value=1, max_value=300),
        buckets=st.integers(min_value=1, max_value=6),
    )
    def check(toks, cap, buckets):
        rows = [("g", i, n) for i, n in enumerate(toks)]
        df = spark.createDataFrame(
            rows, "grp string, doc_id long, n long"
        ).repartition(3)
        got = sorted(
            pack_chunks(
                df, "n", "doc_id", cap=cap,
                group_col="grp", n_buckets=buckets,
            ).collect(),
            key=lambda r: r.doc_id,
        )
        cum = 0
        for r in got:
            assert r.cum_before == cum                      # contiguity
            assert r.first_chunk == cum // cap
            assert r.last_chunk == (cum + r.n_tokens - 1) // cap
            assert r.offset_in_chunk == cum % cap < cap
            cum += r.n_tokens
        assert cum == sum(toks)                             # coverage

    check()


def test_pack_chunks_string_order_ids_survive(spark):
    """String order ids can't range-bucket; they must fall into one
    bucket and still pack correctly, not silently drop."""
    rows = [("g", f"doc-{i:03d}", 10 + i) for i in range(20)]
    df = spark.createDataFrame(rows, "grp string, doc_id string, n long")
    got = sorted(
        pack_chunks(
            df, "n", "doc_id", cap=64, group_col="grp", n_buckets=8
        ).collect(),
        key=lambda r: r.doc_id,
    )
    assert len(got) == 20
    cum = 0
    for r in got:
        assert r.cum_before == cum
        cum += r.n_tokens


def test_pack_chunks_string_ids_pack_in_string_order(spark):
    """String ids that parse as numbers order as strings ("10" < "2"),
    so their numeric value must not pick the bucket: every bucket count
    gives the exclusive token sum in lexicographic id order.  A string
    order also plans without a Spark job (a numeric one runs the
    boundary sketch), so ids like "k000" run no failing cast job."""
    rows = [(str(i), 10 + i) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, n long")
    want, cum = {}, 0
    for doc, n in sorted(rows):
        want[doc] = cum
        cum += n
    for b in (1, 4):
        got = pack_chunks(df, "n", "doc_id", cap=64, n_buckets=b).collect()
        assert {r.doc_id: r.cum_before for r in got} == want, b
    assert want["10"] == 21

    sc = spark.sparkContext
    ids = {
        "numeric": spark.createDataFrame(
            [(i, 5) for i in range(40)], "doc_id long, n long"
        ),
        "string": spark.createDataFrame(
            [(f"k{i:03d}", 5) for i in range(40)], "doc_id string, n long"
        ),
    }
    jobs = {}
    try:
        for kind, frame in ids.items():
            group = f"pack-plan-{kind}"
            sc.setJobGroup(group, group)
            pack_chunks(frame, "n", "doc_id", cap=64, n_buckets=4)
            jobs[kind] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs["numeric"] > 0 and jobs["string"] == 0, jobs


def _running_sums_frame(spark, seed):
    """Random integer rows ``(id, g, k, v)``: ``k`` is tie-heavy, ``g``
    holds NULL groups, ``v`` mixes signs."""
    rng = np.random.default_rng(seed)
    rows = [
        (
            i,
            [None, "a", "b"][int(rng.integers(0, 3))],
            int(rng.integers(-20, 40)),
            int(rng.integers(-5, 30)),
        )
        for i in range(300)
    ]
    return spark.createDataFrame(rows, "id long, g string, k long, v long").repartition(4)


@pytest.mark.parametrize(
    "by, bucket, desc",
    [
        ((), "one", False),
        ((), "many", False),
        (("g",), "one", False),
        (("g",), "many", False),
        (("g",), "two", False),
        ((), "many", True),
        (("g",), "many", True),
    ],
)
def test_running_sums_matches_global_window(spark, by, bucket, desc):
    """The two-level scan equals one plain window over the whole frame:
    inclusive and exclusive sums, the running count (row_number) and
    the group totals, with NULL groups, one or many buckets, and a
    descending order through a negated bucket."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pynomaly_spark.packing import _running_sums

    df = _running_sums_frame(spark, 3)
    k = F.col("k")
    order = [k.desc() if desc else k.asc(), F.col("id").asc()]
    sign = -1 if desc else 1
    buckets = {
        "one": [F.lit(0)],
        "many": [sign * F.expr("floor(k / 7)")],
        "two": [F.expr("floor(k / 25)"), F.expr("floor(k / 7)")],
    }[bucket]
    got = _running_sums(
        df, order, buckets, {"s": F.col("v"), "rn": F.lit(1)}, by=by, totals=True
    ).withColumn("excl", F.col("s") - F.col("v"))
    w = Window.partitionBy(*by).orderBy(*order)
    want = df.select(
        "*",
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("s"),
        F.row_number().over(w).alias("rn"),
        F.sum("v").over(Window.partitionBy(*by)).alias("s_total"),
        F.count(F.lit(1)).over(Window.partitionBy(*by)).alias("rn_total"),
        F.coalesce(
            F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("excl"),
    )
    cols = ["id", "g", "k", "v", "s", "rn", "s_total", "rn_total", "excl"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )


def test_running_sums_ties_in_order(spark):
    """With ties in the order the ROWS frame numbers a tie class in an
    arbitrary order, but each class gets the same block of running
    counts as a global window, and the running sum at the class's last
    row is the sum of every row up to and including the class."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pynomaly_spark.packing import _running_sums

    df = _running_sums_frame(spark, 5)
    sums = {"s": F.col("v"), "rn": F.lit(1)}
    got = _running_sums(df, ["k"], [F.expr("floor(k / 7)")], sums, by=["g"])
    w = Window.partitionBy("g").orderBy("k")
    want = df.select(
        "*",
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("s"),
        F.row_number().over(w).alias("rn"),
    )

    def classes(frame):
        out = {}
        for r in frame.collect():
            out.setdefault((r.g, r.k), []).append((r.rn, r.s))
        return {
            key: (sorted(rn for rn, _ in v), max(v)[1]) for key, v in out.items()
        }

    assert classes(got) == classes(want)


class TestSlidingChunks:
    def test_spans_overlap_and_shas(self, spark):
        import hashlib

        from pynomaly_spark.packing import sliding_chunks

        text = " ".join(f"t{i}" for i in range(10))
        df = spark.createDataFrame(
            [(1, text), (2, "one"), (3, None), (None, "x"), (4, "  ")],
            "doc_id bigint, text string",
        )
        rows = sorted(
            (r.doc_id, r.chunk_idx, r.start_tok, r.n_chunk_tokens, r.chunk_sha)
            for r in sliding_chunks(df, width=4, stride=3).collect()
        )
        toks = text.split()
        exp = []
        for ci, s in enumerate(range(0, 10, 3)):
            chunk = " ".join(toks[s : s + 4])
            exp.append(
                (1, ci, s, min(4, 10 - s),
                 hashlib.sha256(chunk.encode()).hexdigest())
            )
        exp.append(
            (2, 0, 0, 1, hashlib.sha256(b"one").hexdigest())
        )
        assert rows == sorted(exp)

    def test_map_side_no_shuffle(self, spark):
        from pynomaly_spark.packing import sliding_chunks

        df = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
        plan = (
            sliding_chunks(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan and "Python" not in plan

    def test_validates_args(self, spark):
        from pynomaly_spark.packing import sliding_chunks

        df = spark.createDataFrame([(1, "a")], "doc_id bigint, text string")
        with pytest.raises(ValueError):
            sliding_chunks(df, width=0)
        with pytest.raises(ValueError):
            sliding_chunks(df, stride=0)
