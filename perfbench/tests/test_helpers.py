"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))  # bench.HEADLINE

import measure  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _spec():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


# -- metric names ---------------------------------------------------------

@pytest.mark.parametrize("name", ["pass_s", "q.doc_minhash.s", "kernel.knn_ms",
                                  "a-b_c.9", "9lives", "x" * 64])
def test_valid_names(name):
    assert measure.valid_name(name)


@pytest.mark.parametrize("name", ["", "_lead", ".lead", "has space", "q/x",
                                  "tab\t", "é", "x" * 65])
def test_invalid_names(name):
    assert not measure.valid_name(name)


def test_benchmark_json_matches_reported_metrics():
    spec = _spec()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.per_layer_spec()
    names = list(e2e) + list(layer) + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(measure.valid_name(n) for n in names)
    assert all(measure.valid_unit(u) for u in list(e2e.values()) + list(layer.values()))
    assert e2e["setup_s"] == "s"
    assert set(run.COUNTER_UNITS) == set(tracing.COUNTERS)
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_check_metrics_rejects_bad_records():
    measure.check_metrics({"pass_s": measure.metric(1.5, "s")})
    with pytest.raises(ValueError):
        measure.check_metrics({"bad name": measure.metric(1.0, "s")})
    with pytest.raises(ValueError):
        measure.check_metrics({"pass_s": measure.metric(float("nan"), "s")})
    with pytest.raises(ValueError):
        measure.check_metrics({"pass_s": measure.metric(1.0, "no units!")})


# -- order statistics -----------------------------------------------------

def test_median():
    assert measure.median([3, 1, 2]) == 2
    assert measure.median([2.0, 1.0]) == 1.5
    assert measure.median([4, 1, 3, 2]) == 2.5
    assert measure.median([7]) == 7
    with pytest.raises(ValueError):
        measure.median([])


def test_percentile_interpolates_like_numpy():
    xs = [10, 20, 30, 40, 50]
    assert measure.percentile(xs, 0) == 10
    assert measure.percentile(xs, 100) == 50
    assert measure.percentile(xs, 50) == measure.median(xs)
    assert measure.percentile(xs, 25) == 20
    assert measure.percentile(xs, 90) == pytest.approx(46.0)
    assert measure.percentile([1, 2], 50) == 1.5
    with pytest.raises(ValueError):
        measure.percentile(xs, 101)


def test_geomean():
    assert measure.geomean([1, 100]) == pytest.approx(10.0)
    assert measure.geomean([2, 2, 2]) == pytest.approx(2.0)
    assert measure.geomean([0.5, 2.0]) == pytest.approx(1.0)
    # one long operation does not dominate: a 100x slower op moves the
    # geomean of four by 100**(1/4), not by ~25x as a mean would
    assert measure.geomean([1, 1, 1, 100]) == pytest.approx(100 ** 0.25)
    with pytest.raises(ValueError):
        measure.geomean([1, 0])


def test_steal_share():
    before = [100, 0, 50, 800, 0, 0, 0, 50, 0, 0]
    after = [150, 0, 60, 900, 0, 0, 0, 90, 0, 0]
    assert measure.steal_share(before, after) == pytest.approx(40 / 200)
    assert measure.steal_share(before, before) == 0
    assert len(measure.cpu_times()) >= 8


# -- output checks --------------------------------------------------------

def test_digest_is_order_independent_and_column_sorted():
    a = measure.canonical_rows([(1, "x", 0.5), (2, "y", 1.25)], ["id", "s", "v"])
    b = measure.canonical_rows([("y", 1.25, 2), ("x", 0.5, 1)], ["s", "v", "id"])
    assert measure.digest(a) == measure.digest(b)
    c = measure.canonical_rows([(1, "x", 0.5), (2, "y", 1.26)], ["id", "s", "v"])
    assert measure.digest(a)[0] == measure.digest(c)[0]
    assert measure.digest(a) != measure.digest(c)


def test_canonical_rows_normalizes_types():
    np = pytest.importorskip("numpy")
    rows = measure.canonical_rows(
        [(np.int64(5), 5.0, float("nan"), True, None)], ["a", "b", "c", "d", "e"])
    assert rows == [(5, 5, None, 1, None)]


def test_rows_match_tolerates_last_digit_rounding_only():
    a = [("click", 12.345678), ("view", 1.0)]
    b = [("view", 1.0), ("click", 12.345679)]
    assert measure.digest(a) != measure.digest(b)
    assert measure.rows_match(a, b)
    assert not measure.rows_match(a, [("view", 1.0), ("click", 12.3457)])
    assert not measure.rows_match(a, a[:1])
    assert not measure.rows_match([("k", None)], [("k", 1.0)])


# -- tracing --------------------------------------------------------------

def _events():
    with open(os.path.join(HERE, "eventlog_small.jsonl")) as f:
        return f.readlines()


def test_event_log_counters_per_group():
    out = tracing.parse_event_log(_events(), cores=4,
                                  windows=[("checks.run_suite", 2000, 3000)])
    qa = out["q.a"]
    assert qa["stages"] == 2 and qa["tasks"] == 5
    assert qa["task_cpu_s"] == pytest.approx(1.2)
    assert qa["shuffle_mb"] == pytest.approx(4.0)
    assert qa["failed_tasks"] == 0
    # stage 1: one task on a 4-core session burning 0.8 s of CPU
    assert qa["starved_stages"] == 1
    # a job with no group id falls in the grouped window open at submit
    rs = out["checks.run_suite"]
    assert rs["stages"] == 1 and rs["tasks"] == 2 and rs["failed_tasks"] == 1
    assert rs["starved_stages"] == 0
    # outside every window: no group
    assert out[None]["stages"] == 1 and out[None]["tasks"] == 1


def test_event_log_starved_depends_on_cores():
    out = tracing.parse_event_log(_events(), cores=1)
    assert out["q.a"]["starved_stages"] == 0
    assert out[None]["stages"] == 2  # both ungrouped jobs


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps 1
        {"id": 3, "parent": 2, "start": 3.5, "end": 4.5},
        {"id": 4, "parent": 0, "start": 8.0, "end": 12.0},  # clipped at 10
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


def test_self_time_table_sums_per_pass_then_takes_median():
    spans = [
        {"id": 0, "name": "pass", "trace": 0, "parent": None, "start": 0.0, "end": 4.0},
        {"id": 1, "name": "plan", "trace": 0, "parent": 0, "start": 0.0, "end": 1.0},
        {"id": 2, "name": "plan", "trace": 0, "parent": 0, "start": 2.0, "end": 3.0},
        {"id": 3, "name": "pass", "trace": 1, "parent": None, "start": 5.0, "end": 7.0},
        {"id": 4, "name": "plan", "trace": 1, "parent": 3, "start": 5.0, "end": 5.5},
        {"id": 5, "name": "pass", "trace": 2, "parent": None, "start": 8.0, "end": 9.0},
    ]
    table = tracing.self_time_table(spans)
    assert table["plan"] == pytest.approx(1.25)  # median of 2.0 and 0.5
    assert table["pass"] == pytest.approx(1.5)  # median of 2.0, 1.5, 1.0


def test_tracer_records_nesting_when_enabled():
    class FakeSC:
        def __init__(self):
            self.calls = []

        def setJobGroup(self, group, desc):
            self.calls.append(group)

        def setLocalProperty(self, key, value):
            self.calls.append(value)

    sc = FakeSC()
    tr = tracing.Tracer(sc, enabled=True)
    with tr.span("pass"):
        with tr.span("q.a", group="q.a"):
            with tr.span("plan"):
                pass
    names = [(s["name"], s["parent"]) for s in tr.spans]
    assert names == [("pass", None), ("q.a", 0), ("plan", 1)]
    assert sc.calls == ["q.a", None]
    assert [w[0] for w in tr.windows()] == ["q.a"]
    off = tracing.Tracer()
    with off.span("pass", group="g"):
        pass
    assert off.spans == []


# -- closed loop ----------------------------------------------------------

class _FakeWorkload:
    name = "fake"

    def __init__(self, fail_at=()):
        self.seen, self.fail_at = [], set(fail_at)

    def run_pass(self, spark, tracer):
        self.seen.append(tracer)
        if len(self.seen) - 1 in self.fail_at:
            raise RuntimeError("boom")
        return [("op", 0.001, True)], {"phase": 0.001}


def test_measure_runs_min_passes_then_stops():
    wl, off = _FakeWorkload(fail_at={1}), tracing.Tracer()
    (r,) = run._measure(wl, None, [off], 0.0, 3)
    assert len(r["passes"]) == 3 and len(wl.seen) == 3
    assert (r["attempted"], r["failed"]) == (3, 1)


def test_measure_alternates_abba_in_whole_cycles():
    wl = _FakeWorkload()
    a, b = tracing.Tracer(), tracing.Tracer()
    ra, rb = run._measure(wl, None, [a, b, b, a], 0.05, 4)
    assert len(wl.seen) % 4 == 0 and len(wl.seen) >= 4
    assert wl.seen[:4] == [a, b, b, a]
    assert len(ra["passes"]) == len(rb["passes"]) == len(wl.seen) // 2
    assert set(ra["phases"]) == {"phase"} and set(ra["op_medians"]) == {"op"}


# -- inputs ---------------------------------------------------------------

def test_registry_order_is_seeded_and_tables_are_present(tmp_path):
    import workloads
    from bench import HEADLINE

    def order(seed):
        wl = workloads.RegistryLight()
        wl.make_inputs(None, str(tmp_path), seed)
        return wl.order

    assert order(1) == order(1) and sorted(order(1)) == sorted(HEADLINE)
    assert order(1) != order(2)
    for t in workloads.RegistryLight.tables:
        assert os.path.isfile(os.path.join(workloads.RegistryLight.dir, f"{t}.parquet"))
