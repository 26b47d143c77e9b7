"""Frozen-model scorer tests: batch parity + a real Structured Streaming
micro-batch run (file source -> foreachBatch -> parquet sink)."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pynomaly_spark.api import LocalOutlierProbability
from pynomaly_spark.streaming import (
    ModelSnapshot,
    fit_snapshot,
    score_batch,
    score_stream,
)


@pytest.fixture(scope="module")
def train_test():
    rng2 = np.random.RandomState(2)
    X_n120 = 0.3 * rng2.randn(120, 2)
    rng = np.random.RandomState(0)
    rng.permutation(150)
    X = np.r_[X_n120, rng.uniform(low=-4, high=4, size=(20, 2))]
    return X[0:100], X[100:140]


def _feature_df(spark, pts, start_id=0):
    pdf = pd.DataFrame(
        {
            "row_id": np.arange(len(pts)) + start_id,
            "features": [list(map(float, p)) for p in pts],
        }
    )
    return spark.createDataFrame(pdf)


def test_score_batch_matches_reference_stream(spark, train_test):
    X_train, X_test = train_test
    m = LocalOutlierProbability(X_train).fit()
    expected = np.array([float(m.stream(X_test[i])) for i in range(40)])

    snap = fit_snapshot(X_train, n_neighbors=10, extent=3)
    got = (
        score_batch(_feature_df(spark, X_test), snap)
        .orderBy("row_id")
        .toPandas()
    )
    np.testing.assert_array_almost_equal(got.loop_score.to_numpy(), expected, 10)


def test_snapshot_roundtrip(tmp_path, train_test):
    X_train, _ = train_test
    snap = fit_snapshot(X_train, 10, 3)
    snap.save(str(tmp_path / "model"))
    back = ModelSnapshot.load(str(tmp_path / "model"))
    assert back.n_neighbors == 10 and back.extent == 3
    assert back.nplof_max == snap.nplof_max
    np.testing.assert_array_equal(back.points, snap.points)


def test_structured_stream_end_to_end(spark, tmp_path, train_test):
    """Real readStream over a file source; scorer applied per micro-batch."""
    X_train, X_test = train_test
    snap_dir = str(tmp_path / "model")
    fit_snapshot(X_train, 10, 3).save(snap_dir)

    # write part files at the stream dir root (the file source does not
    # recurse into nested dataset directories)
    in_dir = str(tmp_path / "incoming")
    _feature_df(spark, X_test).coalesce(1).write.mode("overwrite").parquet(in_dir)

    schema = "row_id long, features array<double>"
    stream_df = spark.readStream.schema(schema).parquet(in_dir)
    out_dir = str(tmp_path / "scores")
    q = score_stream(
        stream_df,
        snapshot_path=snap_dir,
        out_path=out_dir,
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    scored = spark.read.parquet(out_dir).orderBy("row_id").toPandas()
    assert len(scored) == 40
    m = LocalOutlierProbability(X_train).fit()
    expected = np.array([float(m.stream(X_test[i])) for i in range(40)])
    np.testing.assert_array_almost_equal(
        scored.loop_score.to_numpy(), expected, 10
    )
    assert (scored.batch_id == 0).all()


def test_windowed_event_counts_with_watermark(spark, tmp_path):
    """Structured Streaming windowed agg over the events table replayed as
    a file stream; results must match the batch groupBy."""
    from pynomaly_spark.streaming import windowed_event_counts

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "stream_in")
    ev.coalesce(1).write.mode("overwrite").parquet(in_dir)

    stream = spark.readStream.schema(ev.schema).parquet(in_dir)
    agg = windowed_event_counts(stream, window_duration="1 hour")
    out_dir = str(tmp_path / "agg_out")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only windows closed by the watermark; replaying a
    # finite file stream closes everything except the trailing watermark
    # span, so compare against the batch result restricted to emitted keys
    got = spark.read.parquet(out_dir).toPandas()
    assert len(got) > 0
    batch = (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
        .toPandas()
    )
    merged = got.merge(
        batch, on=["window_start", "event_type"], suffixes=("_s", "_b")
    )
    assert len(merged) == len(got)
    assert (merged.n_events_s == merged.n_events_b).all()


def test_running_violation_rate_stateful(spark, tmp_path):
    """applyInPandasWithState keeps cumulative per-partition counts in
    the state store: a restarted stream (same checkpoint) must resume
    the counts from batch 1 when scoring batch 2."""
    import pandas as pd

    from pynomaly_spark.streaming import running_violation_rate

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir, exist_ok=True)

    def write_batch(name, rows):
        pdf = pd.DataFrame(rows, columns=["partition_id", "loop_score"])
        spark.createDataFrame(pdf).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(in_dir, name))

    def run_stream():
        schema = "partition_id string, loop_score double"
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(in_dir)
        rates = running_violation_rate(stream, score_threshold=0.9)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            rates.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: a = 10 rows / 2 violations, b = 5 rows / 0 violations
    write_batch(
        "b1",
        [("a", 0.95)] * 2 + [("a", 0.1)] * 8 + [("b", 0.2)] * 5,
    )
    run_stream()
    out1 = spark.read.parquet(out_dir).toPandas().set_index("partition_id")
    assert out1.loc["a", "rows_total"] == 10
    assert out1.loc["a", "violations_total"] == 2
    assert abs(out1.loc["a", "violation_rate"] - 0.2) < 1e-12
    assert out1.loc["b", "violations_total"] == 0

    # batch 2 (restart, same checkpoint): a += 10 rows / 3 violations
    write_batch("b2", [("a", 0.99)] * 3 + [("a", 0.3)] * 7)
    run_stream()
    out2 = spark.read.parquet(out_dir).toPandas()
    a2 = out2[(out2.partition_id == "a") & (out2.rows_total == 20)]
    assert len(a2) == 1, out2.to_string()
    assert a2.iloc[0].violations_total == 5
    assert abs(a2.iloc[0].violation_rate - 0.25) < 1e-12


def test_streaming_exact_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one row per digest within the
    horizon and never collapses null texts (batch-operator parity)."""
    import datetime as _dt

    import pandas as pd

    from pynomaly_spark.streaming import streaming_exact_dedup

    t0 = _dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = []
    # 3 copies of one text, 2 of another, 1 unique, 2 nulls — all within
    # a minute (inside the watermark horizon)
    for i, (text, off) in enumerate(
        [
            ("the same viral text", 0),
            ("the same viral text", 5),
            ("the same viral text", 10),
            ("another text", 2),
            ("another text", 8),
            ("unique text", 4),
            (None, 6),
            (None, 9),
        ]
    ):
        rows.append((i, text, t0 + _dt.timedelta(seconds=off)))
    pdf = pd.DataFrame(rows, columns=["row_id", "content", "ts"])
    src = spark.createDataFrame(pdf)
    in_dir = str(tmp_path / "dedup_in")
    src.coalesce(1).write.mode("overwrite").parquet(in_dir)

    stream = spark.readStream.schema(src.schema).parquet(in_dir)
    deduped = streaming_exact_dedup(stream, watermark="10 minutes")
    out_dir = str(tmp_path / "dedup_out")
    q = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).toPandas()
    texts = got.content.dropna().tolist()
    assert sorted(texts) == ["another text", "the same viral text", "unique text"]
    assert got.content.isna().sum() == 2  # nulls all kept
    assert len(got) == 5


def test_streaming_sessions_match_batch(spark, tmp_path):
    """session_window sessionization over the replayed events stream:
    every session the watermark closes must agree exactly (count, start,
    cents total) with the batch lag-based sessionizer."""
    from pynomaly_spark.sessions import session_stats
    from pynomaly_spark.streaming import streaming_sessions

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "stream_in")
    ev.coalesce(1).write.mode("overwrite").parquet(in_dir)

    stream = spark.readStream.schema(ev.schema).parquet(in_dir)
    agg = streaming_sessions(stream, gap="24 hours", watermark="1 hour")
    out_dir = str(tmp_path / "sess_out")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = (
        spark.read.parquet(out_dir)
        .select(
            "user_id",
            F.unix_micros("session_start").alias("start_us"),
            "n_events",
            "value_cents",
        )
        .toPandas()
    )
    assert len(got) > 0
    batch = (
        session_stats(ev, gap_minutes=24 * 60, value_col="value")
        .select("user_id", "start_us", "n_events", "value_cents")
        .toPandas()
    )
    merged = got.merge(
        batch, on=["user_id", "start_us"], suffixes=("_s", "_b")
    )
    # append mode only withholds sessions still open at the trailing
    # watermark; everything emitted must match the batch oracle exactly
    assert len(merged) == len(got)
    assert (merged.n_events_s == merged.n_events_b).all()
    assert (merged.value_cents_s == merged.value_cents_b).all()


def test_streaming_psi_drift_frozen_baseline(spark, tmp_path):
    """Windowed PSI against a FROZEN training baseline: the stable hour
    scores under the 0.1 'stable' bar, the shifted hour over the 0.25
    'shifted' bar; streaming output matches the same operator run in
    batch mode, and batch matches a numpy PSI reference."""
    import datetime as dt

    import numpy as np

    from pynomaly_spark.psi import baseline_histogram
    from pynomaly_spark.streaming import streaming_psi_drift

    rng = np.random.default_rng(5)
    base_vals = rng.uniform(0, 300, 500)
    train = spark.createDataFrame(
        [(float(v),) for v in base_vals], "value double"
    )
    counts = baseline_histogram(train, "value", n_bins=8, bin_width=40.0)
    assert sum(counts) == 500.0

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    stable = rng.uniform(0, 300, 400)
    shifted = stable + 900.0  # clamps into the top bin: hard drift
    rows = [
        (t0 + dt.timedelta(seconds=8 * i), float(v))
        for i, v in enumerate(stable)
    ] + [
        (t0 + dt.timedelta(hours=1, seconds=8 * i), float(v))
        for i, v in enumerate(shifted)
    ] + [(t0 + dt.timedelta(hours=6), 1.0)]  # sentinel closes both windows
    ev = spark.createDataFrame(rows, "ts timestamp, value double")

    in_dir = str(tmp_path / "psi_stream_in")
    ev.coalesce(1).write.mode("overwrite").parquet(in_dir)
    stream = spark.readStream.schema(ev.schema).parquet(in_dir)
    agg = streaming_psi_drift(
        stream, counts, n_bins=8, bin_width=40.0,
        window_duration="1 hour", watermark="1 hour",
    )
    out_dir = str(tmp_path / "psi_out")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "psi_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["window_start"]: r
        for r in spark.read.parquet(out_dir).collect()
    }
    assert t0 in got and t0 + dt.timedelta(hours=1) in got
    assert got[t0]["n_rows"] == 400
    assert abs(got[t0]["psi"]) < 0.1          # same distribution: stable
    assert got[t0 + dt.timedelta(hours=1)]["psi"] > 0.25  # hard shift

    # batch parity: the identical operator over the landed frame
    batch = {
        r["window_start"]: r
        for r in streaming_psi_drift(
            ev, counts, n_bins=8, bin_width=40.0,
            window_duration="1 hour", watermark="1 hour",
        ).collect()
    }
    for w, r in got.items():
        assert batch[w]["psi"] == r["psi"] and batch[w]["n_rows"] == r["n_rows"]

    # numpy reference for the stable window
    def np_psi(vals, eps=0.5, b=8, w=40.0):
        bins = np.clip(np.floor(np.asarray(vals) / w).astype(int), 0, b - 1)
        c = np.bincount(bins, minlength=b).astype(float)
        g = np.asarray(counts)
        p = (c + eps) / (c.sum() + eps * b)
        qq = (g + eps) / (g.sum() + eps * b)
        return float(np.sum((p - qq) * np.log(p / qq)))

    assert got[t0]["psi"] == pytest.approx(round(np_psi(stable), 6), abs=2e-6)

    # a bad baseline length must be rejected
    with pytest.raises(ValueError):
        streaming_psi_drift(ev, counts, n_bins=16)


def test_streaming_psi_drift_keyed(spark):
    """key_col path: each key's windows score independently against the
    same frozen baseline (batch mode — the operator is identical)."""
    import datetime as dt

    import numpy as np

    from pynomaly_spark.psi import baseline_histogram
    from pynomaly_spark.streaming import streaming_psi_drift

    rng = np.random.default_rng(9)
    train = spark.createDataFrame(
        [(float(v),) for v in rng.uniform(0, 300, 400)], "value double"
    )
    counts = baseline_histogram(train, "value", n_bins=8, bin_width=40.0)

    t0 = dt.datetime(2026, 2, 1)
    rows = [
        (t0 + dt.timedelta(seconds=10 * i), "stable", float(v))
        for i, v in enumerate(rng.uniform(0, 300, 200))
    ] + [
        (t0 + dt.timedelta(seconds=10 * i), "shifted", float(v) + 900.0)
        for i, v in enumerate(rng.uniform(0, 300, 200))
    ]
    ev = spark.createDataFrame(rows, "ts timestamp, src string, value double")
    got = {
        (r.src, r.window_start): r
        for r in streaming_psi_drift(
            ev, counts, key_col="src", n_bins=8, bin_width=40.0,
            window_duration="1 hour",
        ).collect()
    }
    assert {k[0] for k in got} == {"stable", "shifted"}
    for (src, _), r in got.items():
        if src == "stable":
            assert abs(r.psi) < 0.12, r
        else:
            assert r.psi > 0.25, r


def test_streaming_lm_scores_frozen_model(spark, tmp_path):
    """Stream-static LM scoring: a frozen vocabulary relation joins a
    live document stream; per-window per-doc logprobs match the batch
    operator AND the batch lm scorer; OOV docs take the alpha floor."""
    import datetime as dt

    import pytest as _pt

    from pynomaly_spark.lm import score_unigram_logprob, unigram_model
    from pynomaly_spark.streaming import streaming_lm_scores

    train = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog ate the cat food")],
        "doc_id long, text string",
    )
    model = unigram_model(train, "text")

    t0 = dt.datetime(2026, 3, 1)
    docs = [
        (10, t0, "the cat food"),
        (11, t0 + dt.timedelta(minutes=5), "zxqv glorp"),  # all OOV
        (12, t0 + dt.timedelta(hours=3), "the the dog"),
        (13, t0 + dt.timedelta(hours=3, minutes=1), None),  # dropped
    ]
    ev = spark.createDataFrame(docs, "doc_id long, ts timestamp, text string")

    in_dir = str(tmp_path / "lm_in")
    ev.coalesce(1).write.mode("overwrite").parquet(in_dir)
    stream = spark.readStream.schema(ev.schema).parquet(in_dir)
    q = (
        streaming_lm_scores(stream, model, window_duration="1 hour")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "lm_out"))
        .option("checkpointLocation", str(tmp_path / "lm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: r
        for r in spark.read.parquet(str(tmp_path / "lm_out")).collect()
    }
    # the last window is still open at end-of-stream (watermark), so
    # only closed-window docs land in append mode
    assert 10 in got and 11 in got and 13 not in got
    assert got[10].n_tokens == 3
    # batch parity: same operator over the landed frame (batch mode
    # emits every window, including the one append held back)
    batch = {
        r.doc_id: r
        for r in streaming_lm_scores(ev, model, window_duration="1 hour")
        .collect()
    }
    assert set(batch) == {10, 11, 12}
    for d, r in got.items():
        assert batch[d].logprob == _pt.approx(r.logprob, abs=2e-6)
        assert batch[d].n_tokens == r.n_tokens
    # parity with the batch lm scorer (tf-weighted form, same math)
    ref = {
        r.doc_id: r.logprob
        for r in score_unigram_logprob(
            ev.where("text is not null"), model, "text", "doc_id"
        ).collect()
    }
    for d in (10, 11, 12):
        assert batch[d].logprob == _pt.approx(ref[d], abs=2e-6)
    # OOV floor: doc 11 scores strictly lowest
    assert batch[11].logprob < batch[10].logprob
    assert batch[11].logprob < batch[12].logprob


def test_streaming_lm_scores_empty_model_floor(spark):
    """An all-pruned (empty) vocabulary scores every token at the
    ln(alpha/alpha)=0 floor instead of dividing by zero."""
    import datetime as dt

    from pynomaly_spark.streaming import streaming_lm_scores

    model = spark.createDataFrame([], "token string, c long")
    ev = spark.createDataFrame(
        [(1, dt.datetime(2026, 4, 1), "some words here")],
        "doc_id long, ts timestamp, text string",
    )
    rows = streaming_lm_scores(ev, model).collect()
    assert len(rows) == 1 and rows[0].logprob == 0.0


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """Stream-static interval attribution over the replayed events
    stream: every emitted (event, interval) match must agree exactly
    with the batch interval_join; the plan must carry no state store."""
    from pynomaly_spark.asof import interval_join
    from pynomaly_spark.streaming import streaming_interval_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    h = 3_600_000_000
    base = ev.groupBy("event_type").agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("_b")
    )
    start = F.col("_b") + F.col("interval_idx") * F.lit(6 * h)
    iv = base.select(
        "event_type",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("interval_idx"),
        "_b",
    ).select(
        "event_type",
        F.col("interval_idx").cast("long").alias("interval_idx"),
        start.alias("start_us"),
        (start + F.lit(8 * h)).alias("end_us"),
    )
    iv.persist().count()

    in_dir = str(tmp_path / "iv_stream_in")
    ev.coalesce(1).write.mode("overwrite").parquet(in_dir)
    stream = spark.readStream.schema(ev.schema).parquet(in_dir)

    joined = streaming_interval_join(
        stream, iv, ["event_type"], bucket_us=h
    ).select("event_id", "event_type", "interval_idx", "value")
    out_dir = str(tmp_path / "iv_out")
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt_iv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert "stateOperators" not in str(q.lastProgress) or not (
        q.lastProgress or {}
    ).get("stateOperators")

    got = sorted(
        (r.event_id, r.interval_idx)
        for r in spark.read.parquet(out_dir).collect()
    )
    assert len(got) > 0
    batch = sorted(
        (r.event_id, r.interval_idx)
        for r in interval_join(ev, iv, ["event_type"], bucket_us=h)
        .select("event_id", "interval_idx")
        .collect()
    )
    assert got == batch
    iv.unpersist()


def test_streaming_interval_join_rejects_streaming_intervals(spark, tmp_path):
    from pynomaly_spark.streaming import streaming_interval_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "iv_bad_in")
    ev.coalesce(1).write.mode("overwrite").parquet(in_dir)
    stream = spark.readStream.schema(ev.schema).parquet(in_dir)
    with pytest.raises(ValueError, match="static"):
        streaming_interval_join(stream, stream, ["event_type"])


def test_streaming_latest_state_matches_batch(spark, tmp_path):
    """Streaming CDC compaction: the complete-mode latest-state table
    over the replayed event stream must equal cdc.latest_state over the
    landed history, row for row."""
    from pynomaly_spark.cdc import latest_state
    from pynomaly_spark.streaming import streaming_latest_state

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "cdc_in")
    # two files -> at least two tasks feed the stateful aggregate
    ev.repartition(2).write.mode("overwrite").parquet(in_dir)

    stream = spark.readStream.schema(ev.schema).parquet(in_dir)
    cur = streaming_latest_state(
        stream, attr_cols=("event_type", "value")
    )
    q = (
        cur.writeStream.outputMode("complete")
        .format("memory")
        .queryName("cdc_current")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = (
        spark.sql("SELECT * FROM cdc_current")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    want = (
        latest_state(ev, "user_id", "ts", ["event_type", "value"])
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert len(got) > 0 and list(got.columns) == list(want.columns)
    import pandas as pd

    pd.testing.assert_frame_equal(got, want)


def test_streaming_cms_matches_batch(spark, tmp_path):
    """Streaming count-min sketch: the complete-mode cell table over
    the replayed event stream must equal profiling.cms_build over the
    landed history, cell for cell — the additive-merge law under real
    micro-batching."""
    from pynomaly_spark.profiling import cms_build
    from pynomaly_spark.streaming import streaming_cms

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "cms_in")
    ev.repartition(3).write.mode("overwrite").parquet(in_dir)

    stream = spark.readStream.schema(ev.schema).parquet(in_dir)
    q = (
        streaming_cms(stream, "user_id", depth=4, width=32)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("cms_cells")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        map(tuple, spark.sql("SELECT * FROM cms_cells").collect())
    )
    want = sorted(
        map(tuple, cms_build(ev, "user_id", depth=4, width=32).collect())
    )
    assert len(got) > 0 and got == want


def test_streaming_cms_validates(spark, tmp_path):
    from pynomaly_spark.streaming import streaming_cms

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    with pytest.raises(ValueError, match="bad shape"):
        streaming_cms(ev, "user_id", depth=0)


def test_streaming_ols_matches_batch(spark, tmp_path):
    """Streaming OLS moments: the complete-mode one-row state over the
    replayed document stream must equal the batch moment row EXACTLY
    (integer-valued regression inputs -> exact sums -> additive merge
    is lossless), and solving the snapshot must reproduce ols_fit."""
    import pandas as pd

    from pynomaly_spark.features import ols_fit, ols_moments, ols_solve
    from pynomaly_spark.streaming import streaming_ols_moments

    doc = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .where(F.col("text").isNotNull())
        .select(
            F.col("n_chars").alias("chars"),
            F.size(F.split(F.col("text"), r"\s+")).alias("tokens"),
        )
    )
    in_dir = str(tmp_path / "ols_in")
    doc.repartition(4).write.mode("overwrite").parquet(in_dir)
    landed = spark.read.parquet(in_dir)

    stream = (
        spark.readStream.schema(landed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        streaming_ols_moments(stream, ["chars"], "tokens")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("ols_moments")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    snap = spark.sql("SELECT * FROM ols_moments")
    got_m = snap.collect()[0].asDict()
    want_m = ols_moments(landed, ["chars"], "tokens").collect()[0].asDict()
    assert got_m == want_m  # exact: integer-valued inputs

    got_fit = ols_solve(snap, ["chars"]).toPandas()
    want_fit = ols_fit(landed, ["chars"], "tokens").toPandas()
    pd.testing.assert_frame_equal(got_fit, want_fit)
    assert want_fit["r2"][0] is not None


def test_streaming_hll_matches_batch(spark, tmp_path):
    """Streaming HLL registers: the complete-mode register table over
    the replayed event stream must equal profiling.hll_build over the
    landed history, register for register — the MAX-merge law under
    real micro-batching (and the idempotence that makes exactly-once
    unnecessary for sketch correctness)."""
    from pynomaly_spark.profiling import hll_build, hll_estimate
    from pynomaly_spark.streaming import streaming_hll

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "hll_in")
    ev.repartition(3).write.mode("overwrite").parquet(in_dir)

    stream = spark.readStream.schema(ev.schema).parquet(in_dir)
    q = (
        streaming_hll(stream, "user_id", ["event_type"], p=8)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("hll_regs")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        map(tuple, spark.sql("SELECT * FROM hll_regs").collect())
    )
    want = sorted(
        map(
            tuple,
            hll_build(ev, ["event_type"], "user_id", p=8).collect(),
        )
    )
    assert len(got) > 0 and got == want
    # the landed snapshot estimates like any batch sketch
    est = hll_estimate(
        spark.sql("SELECT * FROM hll_regs"), ["event_type"], p=8
    ).collect()
    assert all(r["est6"] > 0 for r in est)
    with pytest.raises(ValueError, match="p must be"):
        streaming_hll(ev, "user_id", p=13)


def test_streaming_qhist_matches_batch(spark, tmp_path):
    """Streaming quantile-histogram sketch: the complete-mode bin table
    over the replayed stream equals profiling.qhist_build over the
    landed history, bin for bin — and qhist_estimate over the sink
    snapshot equals the batch estimate."""
    from pynomaly_spark.profiling import qhist_build, qhist_estimate
    from pynomaly_spark.streaming import streaming_qhist
    from pyspark.sql import functions as SF

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .where("value IS NOT NULL")
        .select(
            "event_type",
            SF.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
    )
    in_dir = str(tmp_path / "qh_in")
    ev.repartition(3).write.mode("overwrite").parquet(in_dir)

    stream = spark.readStream.schema(ev.schema).parquet(in_dir)
    q = (
        streaming_qhist(stream, ["event_type"], "cents")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("qh_bins")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    snap = spark.sql("SELECT * FROM qh_bins")
    got = sorted(map(tuple, snap.collect()))
    want = sorted(
        map(tuple, qhist_build(ev, ["event_type"], "cents").collect())
    )
    assert len(got) > 0 and got == want
    est_s = sorted(map(tuple, qhist_estimate(
        snap, ["event_type"], ps=(50, 95)).collect()))
    est_b = sorted(map(tuple, qhist_estimate(
        qhist_build(ev, ["event_type"], "cents"),
        ["event_type"], ps=(50, 95)).collect()))
    assert est_s == est_b

    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown columns"):
        streaming_qhist(ev, ["nope"], "cents")


def test_streaming_bitmap_matches_batch(spark, tmp_path):
    """Streaming presence bitmap: the complete-mode mask table over the
    replayed stream equals profiling.presence_bitmap over the landed
    history, mask for mask (bit_or merges across micro-batches)."""
    from pynomaly_spark.profiling import presence_bitmap
    from pynomaly_spark.streaming import streaming_bitmap
    from pyspark.sql import functions as SF

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .where("ts IS NOT NULL AND event_type IS NOT NULL")
        .select(
            "event_type",
            SF.expr(
                "(unix_micros(cast(ts as timestamp)) % 86400000000)"
                " div 3600000000"
            ).alias("hr"),
        )
    )
    in_dir = str(tmp_path / "bm_in")
    ev.repartition(3).write.mode("overwrite").parquet(in_dir)

    stream = spark.readStream.schema(ev.schema).parquet(in_dir)
    q = (
        streaming_bitmap(stream, ["event_type"], "hr", n_slots=24)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("bm_masks")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.sql("SELECT * FROM bm_masks").collect()))
    want = sorted(
        map(
            tuple,
            presence_bitmap(ev, ["event_type"], "hr", n_slots=24).collect(),
        )
    )
    assert len(got) > 0 and got == want


def test_streaming_w1_drift_matches_batch(spark, tmp_path):
    """streaming_w1_drift over a replayed stream == the same operator
    in batch mode, row for row — the integer W1 makes the parity
    EXACT, not approximate.  Bad baselines raise."""
    import pytest as _pytest

    from pynomaly_spark.psi import baseline_cumulative
    from pynomaly_spark.streaming import streaming_w1_drift

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .where("ts IS NOT NULL AND value IS NOT NULL")
        .select("ts", "value")
    )
    base = baseline_cumulative(ev, "value", n_bins=16, bin_width=40.0)
    in_dir = str(tmp_path / "w1_in")
    ev.repartition(3).write.mode("overwrite").parquet(in_dir)

    stream = spark.readStream.schema(ev.schema).parquet(in_dir)
    q = (
        streaming_w1_drift(stream, base, n_bins=16, bin_width=40.0)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("w1_windows")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.sql("SELECT * FROM w1_windows").collect()))
    want = sorted(
        map(
            tuple,
            streaming_w1_drift(ev, base, n_bins=16, bin_width=40.0).collect(),
        )
    )
    assert len(got) > 0 and got == want

    with _pytest.raises(ValueError, match="expected"):
        streaming_w1_drift(ev, [1, 2], n_bins=16)
    with _pytest.raises(ValueError, match="non-decreasing"):
        streaming_w1_drift(ev, [5] * 15 + [4], n_bins=16)
    with _pytest.raises(ValueError, match="total 0"):
        streaming_w1_drift(ev, [0] * 16, n_bins=16)


def _nan_window(spark):
    """One hour-window of 9 rows: 5 finite values, 3 NaN, 1 NULL."""
    import datetime as dt

    t0 = dt.datetime(2026, 3, 1)
    nan = float("nan")
    vals = [10.0, 50.0, nan, 90.0, nan, 130.0, None, nan, 170.0]
    return spark.createDataFrame(
        [(t0 + dt.timedelta(minutes=i), v) for i, v in enumerate(vals)],
        "ts timestamp, value double",
    )


def test_streaming_psi_drift_drops_nan_like_its_baseline(spark):
    """A window scored against ``baseline_histogram`` of its own rows:
    NaN and NULL values are dropped on both sides, so ``n_rows`` counts
    the finite values and the window reads no drift."""
    from pynomaly_spark.psi import baseline_histogram
    from pynomaly_spark.streaming import streaming_psi_drift

    ev = _nan_window(spark)
    (r,) = streaming_psi_drift(ev, baseline_histogram(ev, "value")).collect()
    assert r.n_rows == 5
    assert r.psi == 0.0


def test_streaming_w1_drift_drops_nan_like_its_baseline(spark):
    """The integer sibling: against ``baseline_cumulative`` of the same
    rows the W1 numerator is exactly 0 over the 5 finite values."""
    from pynomaly_spark.psi import baseline_cumulative
    from pynomaly_spark.streaming import streaming_w1_drift

    ev = _nan_window(spark)
    (r,) = streaming_w1_drift(ev, baseline_cumulative(ev, "value")).collect()
    assert (r.n_rows, r.w1_num, r.w1_bins_6dp) == (5, 0, 0)
