"""Plan-shape assertions for the session-6 operators.

Each test pins the property that makes the operator 100-TB-safe — a
regression that silently reintroduces a row-grain window or an
all-pairs join flips these, not just a benchmark.
"""

import os
import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_presence_bitmap_plans_no_window(spark):
    """The bitmap is ONE associative aggregate — a Window here would
    mean someone rewrote it as a per-key scan."""
    from pynomaly_spark.profiling import presence_bitmap

    df = spark.createDataFrame([("a", 1)], "k string, s long")
    plan = _plan(presence_bitmap(df, ["k"], "s", n_slots=24))
    assert "Window" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_attribution_rank_window_is_conversion_keyed(spark):
    """The share-rank window partitions by the conversion id (fan-in
    bounded by the lookback window) — NEVER by the raw user key
    (a chatty user would funnel through one task)."""
    from pynomaly_spark.sequences import linear_attribution

    df = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00", 7, "click", None)],
        "event_id long, ts string, user_id long, event_type string,"
        " value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    plan = _plan(
        linear_attribution(
            df, "user_id", "ts", "event_id", "event_type", "value",
            "purchase", ["click"],
        )
    )
    assert "windowspecdefinition(pid" in plan
    assert "windowspecdefinition(_u" not in plan


def test_km_table_windows_only_entity_and_collapsed_frames(spark):
    """Two windows total: the per-entity lead and the suffix sum over
    the per-t collapsed frame.  A third window would mean the suffix
    sum moved to row grain."""
    from pynomaly_spark.survival import km_table

    df = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00")], "e long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    plan = _plan(km_table(df, "e", "ts"))
    assert plan.count("Window") == 2


def test_p_chart_single_keyed_aggregate_no_window(spark):
    from pynomaly_spark.profiling import p_chart

    df = spark.createDataFrame([("a", 1)], "bk string, hit long")
    plan = _plan(p_chart(df, "bk", "hit"))
    assert "Window" not in plan
    # pooled totals enter via a broadcast join of a 1-row aggregate
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_histogram_w1_no_window_one_broadcast(spark):
    from pynomaly_spark.psi import histogram_w1

    df = spark.createDataFrame([("a", 5.0)], "part string, v double")
    plan = _plan(histogram_w1(df, "v", "part", n_bins=4, bin_width=20.0))
    assert "Window" not in plan
    assert "Broadcast" in plan


def test_link_prediction_guard_survives_column_pruning(spark):
    """The max_degree raise_error must appear in the FINAL plan — it is
    the wedge join key, so Catalyst cannot prune it away."""
    from pynomaly_spark.graph import link_prediction

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    plan = _plan(link_prediction(df, k=3, max_degree=100))
    assert "raise_error" in plan


def _user_repartitions(plan: str) -> set:
    """(keys, partition count) of every user-specified hash repartition
    in ``plan``, attribute ids stripped."""
    return {
        (re.sub(r"#\d+L?", "", keys), int(n))
        for keys, n in re.findall(
            r"Exchange hashpartitioning\(([^()]*), (\d+)\), REPARTITION_BY_NUM", plan
        )
    }


def test_ssjoin_prefix_window_pin_is_a_user_repartition(spark):
    """The per-set prefix window of ``prefix_jaccard_join`` reads a user
    repartition on ``_id`` at the session's parallelism, which AQE never
    coalesces (the pin against byte-based coalescing of its small
    exchange)."""
    from pynomaly_spark.dedup import prefix_jaccard_join

    toks = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b")], "doc_id long, tok string"
    )
    plan = _plan(prefix_jaccard_join(toks))
    dp = spark.sparkContext.defaultParallelism
    assert _user_repartitions(plan) == {("_id", dp)}, plan


def test_corpus_overlap_distinct_pin_is_a_user_repartition(spark):
    """The (group, shingle) distinct of ``corpus_overlap`` reads a user
    repartition on its own keys at the session's parallelism, so the
    md5 signature stage runs on every core."""
    from pynomaly_spark.dedup import corpus_overlap

    df = spark.createDataFrame(
        [("s1", "the quick brown fox"), ("s2", "the quick brown dog")],
        "source string, text string",
    )
    plan = _plan(corpus_overlap(df, "source", "text", num_perm=4))
    dp = spark.sparkContext.defaultParallelism
    assert _user_repartitions(plan) == {("_g, _sh", dp)}, plan


_PERFBENCH_SF = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "perfbench", "data", "sf0.1"
)
_TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")


def _round_robin_inputs(df) -> list:
    """The subtree under each round-robin repartition of the optimized
    plan, attribute ids and tree glyphs stripped."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    subtrees = re.split(r"\n[ :+-]*Repartition \d+, true\n", re.sub(r"#\d+L?", "", plan))
    return [
        "\n".join(line.strip(" :+-") for line in sub.split("\n")[:2])
        for sub in subtrees[1:]
    ]


def test_tbl_is_a_plain_read(spark):
    """``queries._tbl`` plans no repartition for any table: the few-file
    spread is a consumer's device, never a reader default."""
    from pynomaly_spark.queries import _tbl

    for name in _TABLES:
        plan = _plan(_tbl(spark, _PERFBENCH_SF, name))
        assert "Exchange" not in plan and "Repartition" not in plan, name


def test_spread_stays_at_its_measured_consumers(spark):
    """``emb_knn_classifier`` (CPU-dense pair dots, measured slower
    without the spread) reads its few-file table through exactly one
    round-robin repartition, shared by both sides of its self-join;
    ``doc_null_rate`` (a columnar aggregate, measured faster without)
    plans none."""
    from pynomaly_spark.queries import QUERIES

    knn = _round_robin_inputs(QUERIES["emb_knn_classifier"](spark, _PERFBENCH_SF))
    assert len(knn) == 2 and len(set(knn)) == 1, knn  # one per self-join side
    assert knn[0].endswith("Relation [vec_id,embedding,label] parquet"), knn
    assert _round_robin_inputs(QUERIES["doc_null_rate"](spark, _PERFBENCH_SF)) == []
