"""Benchmark entry point.

    python3 perfbench/run.py --workload suite_code --seed 1 --seconds 15 --trace 0

Run from the repository root.  Sets up the workload several times
(session start, seeded inputs, warm-up) and reports the median as
``setup_s``, checks the engine's outputs once outside timing (the first,
untimed pass), then runs closed-loop passes for ``--seconds`` (at least
``MIN_PASSES``), reports the fastest, and prints one line per metric
followed by a JSON summary as the last line of standard output.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs with
the Spark event log on: untraced and traced passes (spans + job groups)
alternate in ABBA order, then the drift and kernel layers are probed,
and the per-layer metrics are reported.  Everything the
run writes stays under ``.perfbench/`` in the repository root; the spans
and per-group counters of a traced run are kept in ``.perfbench/trace/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# measured passes of an untraced run, at least
MIN_PASSES = 3
T = time.perf_counter

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "geomean_s": "s",
    "files_per_s": "1/s",
}

SUITE_SPANS = ("checks.run_suite", "checks.final_pass", "checks.unpersist")
COUNTER_UNITS = {"stages": "count", "tasks": "count", "task_cpu_s": "s",
                 "shuffle_mb": "MB", "failed_tasks": "count",
                 "starved_stages": "count"}
# per span, failed tasks are left to the workload total
_SPAN_COUNTERS = {k: u for k, u in COUNTER_UNITS.items() if k != "failed_tasks"}


def per_layer_spec() -> dict:
    """Name -> unit of every per-layer metric, in report order (the
    registry queries are ``bench.HEADLINE``)."""
    from bench import HEADLINE

    spec = {
        "session.get_spark_s": "s",
        "datagen.write_code_table_s": "s",
        "setup.warmup_s": "s",
        "checks.run_suite_s": "s",
        "checks.final_pass_s": "s",
        "checks.unpersist_s": "s",
        "drift.drift_scores_s": "s",
        "drift.rows_per_s": "1/s",
        "drift.groups": "count",
        "drift.transport_base_s": "s",
        "drift.transport_share": "share",
        "kernel.knn_ms": "ms",
        "kernel.loop_from_knn_ms": "ms",
        "kernel.loop_scores_tied_ms": "ms",
    }
    for span in ("checks.run_suite", "checks.final_pass", "drift.drift_scores"):
        for c, unit in _SPAN_COUNTERS.items():
            spec[f"{span}.{c}"] = unit
    for q in HEADLINE:
        spec[f"q.{q}.s"] = "s"
        for c, unit in _SPAN_COUNTERS.items():
            spec[f"q.{q}.{c}"] = unit
    spec.update({f"spark.{c}": u for c, u in COUNTER_UNITS.items()})
    spec.update({
        "peak_rss_mb": "MB",
        "self.pass_s": "s",
        "self.plan_s": "s",
        "self.execute_s": "s",
        "trace.untraced_pass_s": "s",
        "trace.pass_s": "s",
        "trace.overhead_share": "share",
    })
    return spec


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``,
    and let the Python workers import the package from the root."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts (the launcher too): temp files here,
    # no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _start_session(work: str, cores: int, event_log: str | None = None):
    from pynomaly_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cpus=cores, extra_conf=conf)


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every child process has
    exited."""
    from pyspark import SparkContext

    from measure import process_children

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    me = os.getpid()
    deadline = time.time() + 30
    while True:
        kids = process_children()
        left, stack = [], list(kids.get(me, ()))
        while stack:
            pid = stack.pop()
            left.append(pid)
            stack.extend(kids.get(pid, ()))
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)


def _measure(wl, spark, cycle, seconds: float, min_passes: int) -> list:
    """Closed loop: passes back to back, the i-th with tracer
    ``cycle[i % len(cycle)]``.  At least ``min_passes`` passes and whole
    cycles; another cycle only while it fits in ``seconds`` at the median
    pass so far.  Returns one result per tracer of ``cycle``, in order of
    first use."""
    from measure import median

    res = {}
    for tracer in cycle:
        res.setdefault(id(tracer), {"passes": [], "ops": {}, "phases": {},
                                    "attempted": 0, "failed": 0})
    walls = []
    t_start = T()
    while (len(walls) < min_passes or len(walls) % len(cycle)
           or T() - t_start + median(walls) * len(cycle) <= seconds):
        tracer = cycle[len(walls) % len(cycle)]
        r = res[id(tracer)]
        tracer.trace_id = len(walls)
        t0 = T()
        with tracer.span("pass"):
            try:
                op_list, ph = wl.run_pass(spark, tracer)
            except Exception as ex:  # a failed pass is counted, not fatal
                print(f"[perfbench] pass failed: {type(ex).__name__}: {ex}",
                      file=sys.stderr, flush=True)
                op_list, ph = [(wl.name, T() - t0, False)], {}
        walls.append(T() - t0)
        r["passes"].append(walls[-1])
        for name, secs, ok in op_list:
            r["ops"].setdefault(name, []).append(secs)
            r["attempted"] += 1
            r["failed"] += 0 if ok else 1
        for name, secs in ph.items():
            r["phases"].setdefault(name, []).append(secs)
    out = []
    for r in res.values():
        r["pass_s"] = median(r["passes"])
        r["best_s"] = min(r["passes"])
        r["op_best"] = {k: min(v) for k, v in r["ops"].items()}
        r["op_medians"] = {k: median(v) for k, v in r.pop("ops").items()}
        r["phases"] = {k: median(v) for k, v in r["phases"].items()}
        out.append(r)
    return out


def _event_log_lines(d: str) -> list:
    """Lines of the newest event log in ``d`` (one per set-up session;
    the last one holds the measured passes)."""
    newest = max((os.path.join(d, f) for f in os.listdir(d)),
                 key=os.path.getmtime)
    with open(newest) as f:
        return f.readlines()


def _per_layer(wl, setup, untraced, traced, tracer, counters, drift, kern,
               cores, rss_mb) -> dict:
    from measure import median, metric
    from tracing import self_time_table

    spec = per_layer_spec()
    vals = dict.fromkeys(spec, 0.0)
    vals["session.get_spark_s"] = median(r["session"] for r in setup)
    vals["setup.warmup_s"] = median(r["warmup"] for r in setup)
    if "datagen.write_code_table_s" in setup[0]:
        vals["datagen.write_code_table_s"] = median(
            r["datagen.write_code_table_s"] for r in setup)
    n_pass = len(traced["passes"])

    def span_counters(prefix, group, per):
        for c in _SPAN_COUNTERS:
            vals[f"{prefix}.{c}"] = counters.get(group, {}).get(c, 0) / per

    if wl.name == "suite_code":
        for s in SUITE_SPANS:
            vals[f"{s}_s"] = traced["phases"].get(s, 0.0)
        for s in ("checks.run_suite", "checks.final_pass"):
            span_counters(s, s, n_pass)
    else:
        for q in wl.order:
            vals[f"q.{q}.s"] = traced["op_medians"][q]
            span_counters(f"q.{q}", f"q.{q}", n_pass)
    pass_groups = {g for g in counters
                   if g in SUITE_SPANS or (g or "").startswith("q.")}
    for c in COUNTER_UNITS:
        vals[f"spark.{c}"] = sum(counters[g][c] for g in pass_groups) / n_pass

    kn = {k: median(v) for k, v in kern.items()}
    for k, v in kn.items():
        vals[f"kernel.{k}"] = v
    if drift:
        d_s = median(drift["times"])
        base = drift["groups"] * (kn["knn_ms"] + kn["loop_from_knn_ms"]) / 1e3 / cores
        vals.update({
            "drift.drift_scores_s": d_s,
            "drift.rows_per_s": drift["rows"] / d_s,
            "drift.groups": drift["groups"],
            "drift.transport_base_s": base,
            "drift.transport_share": 1.0 - base / d_s,
        })
        span_counters("drift.drift_scores", "drift.drift_scores",
                      len(drift["times"]))

    table = self_time_table([s for s in tracer.spans if "end" in s])
    for name in ("pass", "plan", "execute"):
        vals[f"self.{name}_s"] = table.get(name, 0.0)
    vals["peak_rss_mb"] = rss_mb
    vals["trace.untraced_pass_s"] = untraced["pass_s"]
    vals["trace.pass_s"] = traced["pass_s"]
    vals["trace.overhead_share"] = traced["pass_s"] / untraced["pass_s"] - 1.0
    return {k: metric(vals[k], spec[k]) for k in spec}, table


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_run = T()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)

    # the engine and the frozen bench harness live at the repository
    # root; without them there is nothing to measure
    from bench import _box_probe

    from measure import (RssSampler, check_metrics, cpu_times, geomean, median,
                         metric, steal_share)
    from tracing import Tracer, parse_event_log
    from workloads import WORKLOADS, drift_probe, kernel_probe

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    box = _box_probe()
    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload]()
    event_log = os.path.join(work, "eventlog")
    spark = None
    try:
        setup = []
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
                shutil.rmtree(os.path.join(work, f"setup{rep - 1}"), ignore_errors=True)
            t0 = T()
            spark = _start_session(work, cores, event_log if args.trace else None)
            t1 = T()
            layer = wl.make_inputs(spark, os.path.join(work, f"setup{rep}"), args.seed)
            t2 = T()
            wl.warm_up(spark)
            t3 = T()
            setup.append({"total": t3 - t0, "session": t1 - t0,
                          "inputs": t2 - t1, "warmup": t3 - t2, **layer})
        off = Tracer()
        cpu0 = cpu_times()
        t0 = T()
        v_attempted, v_failed = wl.verify(spark)
        verify_s = T() - t0
        if not args.trace:
            # best of the measured passes: load from other guests on the
            # shared host only ever adds time, and the fastest pass is
            # the figure it moves least
            (run,) = _measure(wl, spark, [off], args.seconds, MIN_PASSES)
            metrics = {
                "setup_s": metric(median(r["total"] for r in setup), "s"),
                "pass_s": metric(run["best_s"], "s"),
                "geomean_s": metric(geomean(run["op_best"].values()), "s"),
                "files_per_s": metric(wl.input_rows / run["best_s"], "1/s"),
            }
            report = {"passes": run["passes"], "op_best": run["op_best"]}
            runs = [run]
        else:
            # untraced and traced passes in ABBA order, so a steady
            # warm-up trend over the passes cancels out of the overhead
            tracer = Tracer(spark.sparkContext, enabled=True)
            with RssSampler() as rss:
                untraced, run = _measure(wl, spark, [off, tracer, tracer, off],
                                         args.seconds, 4)
            runs = [untraced, run]
            tracer.trace_id = -1
            drift = (drift_probe(spark, wl, work, tracer)
                     if wl.name == "suite_code" else None)
            kern = kernel_probe(wl.kernel_features(spark))
            spark.stop()
            counters = parse_event_log(_event_log_lines(event_log), cores,
                                       tracer.windows())
            metrics, self_s = _per_layer(wl, setup, untraced, run, tracer,
                                         counters, drift, kern, cores,
                                         rss.peak_mb)
            report = {"untraced_passes": untraced["passes"],
                      "traced_passes": run["passes"], "self_s": self_s,
                      "counters": {str(k): v for k, v in counters.items()}}
            os.makedirs(os.path.join(base, "trace"), exist_ok=True)
            tracer.dump(os.path.join(base, "trace",
                                     f"{wl.name}-seed{args.seed}.json"),
                        {"setup": setup, "drift": drift, "kernel": kern,
                         **report})
        box["steal_share"] = round(steal_share(cpu0, cpu_times()), 4)
    finally:
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    check_metrics(metrics)
    attempted = v_attempted + sum(r["attempted"] for r in runs)
    failed = v_failed + sum(r["failed"] for r in runs)
    report["verify_s"] = verify_s
    report["run_s"] = T() - t_run
    _print_report(args, box, setup, report, metrics, attempted, failed)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


def _print_report(args, box, setup, report, metrics, attempted, failed) -> None:
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} box={json.dumps(box)}")
    for r in setup:
        print("setup rep (s): " + " ".join(f"{k}={v:.3f}" for k, v in r.items()))
    print(f"verify (s): {report['verify_s']:.3f}  run (s): {report['run_s']:.3f}")
    for k in ("passes", "untraced_passes", "traced_passes"):
        if k in report:
            print(f"{k} (s): " + ", ".join(f"{x:.3f}" for x in report[k]))
    for name, secs in sorted(report.get("op_best", {}).items()):
        print(f"  op {name}: {secs:.4f} s")
    for name, secs in sorted(report.get("self_s", {}).items(),
                             key=lambda kv: -kv[1]):
        print(f"  self {name}: {secs:.4f} s")
    for group, c in sorted(report.get("counters", {}).items()):
        print(f"  group {group}: " + " ".join(
            f"{k}={v:.3f}" if isinstance(v, float) else f"{k}={v}"
            for k, v in c.items()))
    for name, rec in metrics.items():
        print(f"{name} {rec['value']:.6g} {rec['unit']}")
    print(f"error_rate {failed / attempted:.6g} ({failed}/{attempted})")


if __name__ == "__main__":
    sys.exit(main())
