"""The benchmark's workloads.

Each workload has one client that starts a pass only after the previous
pass completes (closed loop).  A workload:

* ``make_inputs(spark, work_dir, seed)`` makes its inputs from the seed
  (timed as part of set-up);
* ``warm_up(spark)`` runs a small JVM-only job on the inputs (timed as
  part of set-up; every set-up restarts the context, which ends the
  Python workers, so the verify pass starts them);
* ``verify(spark)`` checks the engine's outputs once, outside timing,
  and returns ``(attempted, failed)``;
* ``run_pass(spark, tracer)`` runs one pass and returns
  ``[(op_name, seconds, ok), ...]`` plus named phase timings;
* ``kernel_features(spark)`` returns the drift features the kernel
  probe fits on.
"""

from __future__ import annotations

import os
import random
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import functions as F

from pynomaly_spark.checks import CheckSuite, Drift, RowInvariant, run_suite
from pynomaly_spark.queries import ORACLES, QUERIES

from measure import canonical_rows, digest, rows_match

T = time.perf_counter
HERE = os.path.dirname(os.path.abspath(__file__))

# the drift features run_suite computes on the staged heavy-column pass
_DRIFT_COLS = ["_df0", "_df1", "_df2"]
# a planted extreme row of the drifted partition has >= 20000 words;
# ordinary and shifted rows stay far below this many characters
_EXTREME_CHARS = 50_000
# timed repetitions of the drift probe (median reported)
PROBE_REPS = 3


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class SuiteCode:
    """``checks.run_suite(CheckSuite.default() + RowInvariant())`` over the
    synthetic code table; a pass sinks ``unified()`` to noop and
    unpersists."""

    name = "suite_code"
    rows = 50_000

    def make_inputs(self, spark, work_dir: str, seed: int) -> dict:
        from pynomaly_spark.datagen_spark import write_code_table_spark

        self.dir = os.path.join(work_dir, "code_table")
        self.stage = os.path.join(work_dir, "stage")
        t0 = T()
        self.expected = write_code_table_spark(spark, self.dir, self.rows, seed=seed)
        gen_s = T() - t0
        self.suite = CheckSuite.default()
        self.suite.checks.append(RowInvariant())
        self.input_rows = self.expected["total_rows"]
        self.files = spark.read.parquet(f"{self.dir}/files.parquet")
        self.commits = spark.read.parquet(f"{self.dir}/commits.parquet")
        self.oracle = spark.read.parquet(f"{self.dir}/sha_oracle.parquet")
        return {"datagen.write_code_table_s": gen_s}

    def warm_up(self, spark) -> None:
        _noop(self.files.limit(1000).select(F.sha2("content", 256)))

    def _run_suite(self):
        return run_suite(self.files, self.suite, commits=self.commits,
                         sha_oracle=self.oracle, stage_dir=self.stage)

    def verify(self, spark) -> tuple:
        """Check the verdicts of one untimed pass against the defects
        the generator planted."""
        res = self._run_suite()
        try:
            out = res.unified().select(
                "kind", "partition_id", "check_name", "metric", "value", "path"
            ).toPandas()
        finally:
            res.unpersist()
        part = F.concat(F.lit("lang="), F.coalesce("lang", F.lit("__null__")))
        extreme = (F.col("lang") == "c") & (F.length("content") > _EXTREME_CHARS)
        sizes, extreme_paths = {}, set()
        for r in self.files.groupBy(part.alias("p")).agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_list(F.when(extreme, F.col("path"))).alias("x"),
        ).collect():
            sizes[r["p"]] = r["n"]
            extreme_paths.update(r["x"])
        m = out[out.kind == "metric"]
        v = out[out.kind == "violation"]

        def summed(metric, check=None, weigh=False):
            sel = m[m.metric == metric]
            if check:
                sel = sel[sel.check_name == check]
            if weigh:  # a rate times its partition's row count
                return round(sum(r.value * sizes.get(r.partition_id, 0)
                                 for r in sel.itertuples()))
            return int(sel.value.sum())

        exp = self.expected
        drift_v = v[v.check_name.str.startswith("loop_drift")]
        flagged = set(drift_v[drift_v.partition_id == exp["drift_partition"]].path)
        checks = {
            "duplicate_rows": summed("duplicate_rows") == exp["dup_extra_rows"],
            "orphan_rows": summed("orphan_rows") == exp["orphan_rows"],
            "null_lang_rows": summed("null_rate", "null_rate(lang)", True)
            == exp["null_lang_rows"],
            "null_content_rows": summed("null_rate", "null_rate(content)", True)
            == exp["null_content_rows"],
            # lang=c fails drift: its planted extreme rows are violators.
            # A salted sub-fit that draws several of them scores them as
            # a small cluster (0.65-0.9 on some seeds), so the bound is
            # a quarter, not all.
            "drift_partition": 4 * len(extreme_paths & flagged) >= len(extreme_paths) > 0,
        }
        bad = [k for k, ok in checks.items() if not ok]
        if bad:
            _log(f"suite_code verification failed: {bad}")
        return 1, int(bool(bad))

    def run_pass(self, spark, tracer) -> tuple:
        t0 = T()
        with tracer.span("checks.run_suite", group="checks.run_suite"):
            res = self._run_suite()
        t1 = T()
        with tracer.span("checks.final_pass", group="checks.final_pass"):
            _noop(res.unified())
        t2 = T()
        with tracer.span("checks.unpersist", group="checks.unpersist"):
            res.unpersist()
        t3 = T()
        phases = {"checks.run_suite": t1 - t0, "checks.final_pass": t2 - t1,
                  "checks.unpersist": t3 - t2}
        return [("suite", t3 - t0, True)], phases

    def drift_features(self, spark):
        """The suite's drift features (``row_id, partition_id, _df*``),
        built from the staged heavy-column pass as ``run_suite`` does."""
        staged = [d for d in os.listdir(self.stage) if d.startswith("enriched_")]
        enriched = spark.read.parquet(os.path.join(self.stage, staged[0]))
        n_chars = F.col("_len_content").cast("double")
        n_tok = F.col("_ntok_content").cast("double")
        return enriched.where(~F.col("_null_content")).select(
            "row_id", "partition_id",
            F.log1p(n_chars).alias("_df0"), F.log1p(n_tok).alias("_df1"),
            F.log1p(n_chars / F.greatest(n_tok, F.lit(1.0))).alias("_df2"),
        )

    def kernel_features(self, spark) -> np.ndarray:
        pdf = (self.drift_features(spark).where(F.col("partition_id") == "lang=python")
               .orderBy("row_id").limit(5000).toPandas())
        return pdf[_DRIFT_COLS].to_numpy(dtype=np.float64)


class RegistryLight:
    """The 12 ``bench.HEADLINE`` registry queries on the sf0.1 tables,
    each built fresh and sunk to noop, in an order set by the seed."""

    name = "registry_light"
    # the sf0.1 test tables these queries read, copied byte for byte
    dir = os.path.join(HERE, "data", "sf0.1")
    tables = ("customer", "orders", "lineitem", "events", "documents", "embeddings")

    def make_inputs(self, spark, work_dir: str, seed: int) -> dict:
        from bench import HEADLINE

        self.work_dir = work_dir
        self.order = list(HEADLINE)
        random.Random(seed).shuffle(self.order)
        self.input_rows = len(self.order)
        return {}

    def warm_up(self, spark) -> None:
        _noop(QUERIES["lineitem_pricing"](spark, self.dir))

    def _oracle_rows(self) -> dict:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 1")  # leave the cores to Spark
            con.execute(f"SET temp_directory = '{self.work_dir}/duckdb_tmp'")
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.dir}/{t}.parquet')")
            out = {}
            for q in self.order:
                want = con.sql(ORACLES[q]).df()
                out[q] = canonical_rows(want.itertuples(index=False, name=None),
                                        list(want.columns))
            return out
        finally:
            con.close()

    def verify(self, spark) -> tuple:
        """Each query's result against its DuckDB oracle twin on the same
        inputs; the oracle runs on a thread while Spark collects."""
        with ThreadPoolExecutor(max_workers=1) as pool:
            oracle = pool.submit(self._oracle_rows)
            got = {}
            for q in self.order:
                pdf = QUERIES[q](spark, self.dir).toPandas()
                got[q] = canonical_rows(pdf.itertuples(index=False, name=None),
                                        list(pdf.columns))
            want = oracle.result()
        failed = 0
        for q in self.order:
            d_got, d_want = digest(got[q]), digest(want[q])
            if d_got != d_want and not rows_match(got[q], want[q]):
                failed += 1
                _log(f"{q}: rows/checksum {d_got} != oracle {d_want}")
        return len(self.order), failed

    def run_pass(self, spark, tracer) -> tuple:
        ops = []
        phases = {"plan": 0.0}
        for q in self.order:
            ok = True
            t0 = T()
            with tracer.span(f"q.{q}", group=f"q.{q}"):
                try:
                    with tracer.span("plan"):
                        df = QUERIES[q](spark, self.dir)
                    phases["plan"] += T() - t0
                    with tracer.span("execute"):
                        _noop(df)
                except Exception as ex:  # one failed query must not end the run
                    ok = False
                    _log(f"{q} failed: {type(ex).__name__}: {ex}")
            ops.append((q, T() - t0, ok))
        return ops, phases

    def kernel_features(self, spark) -> np.ndarray:
        from pynomaly_spark.checks import drift_features

        doc = spark.read.parquet(f"{self.dir}/documents.parquet")
        pdf = (doc.where(F.col("text").isNotNull())
               .select("doc_id", drift_features("text").alias("f"))
               .orderBy("doc_id").toPandas())
        return np.array(pdf["f"].tolist(), dtype=np.float64)


WORKLOADS = {w.name: w for w in (SuiteCode, RegistryLight)}


def drift_probe(spark, workload, work_dir: str, tracer) -> dict:
    """Time ``checks.drift_scores`` alone on the suite's features, staged
    once, and count the kernel fits it makes."""
    from pynomaly_spark.checks import drift_scores
    from pynomaly_spark.skew import with_salt

    path = os.path.join(work_dir, "drift_feats")
    workload.drift_features(spark).write.mode("overwrite").parquet(path)
    feats = spark.read.parquet(path)
    chk = Drift()
    rows = feats.count()
    groups = (with_salt(feats, chk.max_group_rows)
              .select("partition_id", "salt").distinct().count())
    times = []
    for _ in range(PROBE_REPS):
        t0 = T()
        with tracer.span("drift.drift_scores", group="drift.drift_scores"):
            _noop(drift_scores(feats, chk, carry=(), feature_cols=_DRIFT_COLS))
        times.append(T() - t0)
    return {"rows": rows, "groups": groups, "times": times}


def kernel_probe(x: np.ndarray) -> dict:
    """Milliseconds of each kernel step for every consecutive
    ``Drift.max_group_rows``-row block of ``x``, with the ``Drift``
    check's k and extent: the fits the salted drift path makes."""
    from pynomaly_spark import kernel

    chk = Drift()
    n, k, extent = chk.max_group_rows, chk.n_neighbors, chk.extent
    blocks = [x[i:i + n] for i in range(0, len(x) - n + 1, n)]
    if not blocks:
        raise ValueError(f"kernel probe needs {n} rows, got {len(x)}")
    knn_ms, loop_ms, tied_ms = [], [], []
    for b in blocks:
        t0 = T()
        d, ids = kernel.knn(b, k)
        t1 = T()
        kernel.loop_from_knn(d, ids, k, extent=extent)
        t2 = T()
        kernel.loop_scores_tied(b, k, extent=extent)
        t3 = T()
        knn_ms.append((t1 - t0) * 1e3)
        loop_ms.append((t2 - t1) * 1e3)
        tied_ms.append((t3 - t2) * 1e3)
    return {"knn_ms": knn_ms, "loop_from_knn_ms": loop_ms,
            "loop_scores_tied_ms": tied_ms}
