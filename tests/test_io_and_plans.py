"""IO contract + physical-plan hygiene (the .explain checks).

The plan tests pin the optimizations the engine depends on at scale:
filter/column pushdown into the parquet scan, broadcast for the RI dim,
and whole-stage codegen around the JVM-side expression work.
"""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pynomaly_spark.io import read_code_table, read_code_table_json, write_partitioned
from pynomaly_spark.datagen import CodeTableSpec, generate_code_table


@pytest.fixture(scope="module")
def code_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("io") / "files.parquet")
    files_pd, _, _ = generate_code_table(CodeTableSpec(n_rows=500))
    spark.createDataFrame(files_pd.drop(columns=["content_sha"])).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def test_read_code_table_schema(spark, code_dir):
    df = read_code_table(spark, code_dir)
    assert [f.name for f in df.schema.fields] == [
        "repo", "path", "commit", "lang", "content",
    ]
    assert df.count() == 500 + 25 + 40  # rows + dups + orphans


def test_permissive_json_ingest(spark, tmp_path):
    p = str(tmp_path / "rows.json")
    with open(p, "w") as fh:
        fh.write('{"repo":"a/b","path":"x.py","commit":"c1","lang":"python","content":"ok"}\n')
        fh.write("this is not json at all\n")
        fh.write('{"repo":"a/b","path":"y.py","commit":"c2","lang":null,"content":null}\n')
    df = read_code_table_json(spark, p)
    rows = df.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(bad) == 1 and bad[0]["repo"] is None


def test_partitioned_write_layout(spark, code_dir, tmp_path):
    df = read_code_table(spark, code_dir)
    out = str(tmp_path / "out")
    write_partitioned(df, out)
    parts = {d for d in os.listdir(out) if d.startswith("_part=")}
    assert "_part=python" in parts and "_part=__null__" in parts
    back = spark.read.parquet(out)
    assert back.count() == df.count()


def test_filter_pushdown_reaches_scan(spark, code_dir):
    df = read_code_table(spark, code_dir).where(F.col("lang") == "python").select(
        "repo", "path"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "lang" in plan
    # column pruning: content must NOT be read for a repo/path projection
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "content" not in read_schema


def test_ri_join_is_broadcast(spark, code_dir):
    from pynomaly_spark.checks import CheckSuite, ReferentialIntegrity, run_suite

    files = read_code_table(spark, code_dir)
    commits = files.select("repo", "commit").distinct().limit(50)
    res = run_suite(
        files, CheckSuite(checks=[ReferentialIntegrity()]), commits=commits
    )
    plan = res.violations._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_suite_plan_has_codegen(spark, code_dir):
    from pynomaly_spark.checks import CheckSuite, run_suite

    files = read_code_table(spark, code_dir)
    res = run_suite(files, CheckSuite.default())
    res.metrics.collect()  # AQE only materializes final plans on execution
    plan = res.metrics._jdf.queryExecution().executedPlan().toString()
    # "*(n) " prefixes mark whole-stage-codegen spans in the tree string
    assert "*(" in plan
    res.unpersist()


def test_read_code_table_catalog_view(spark, code_dir):
    """The catalog entry point (Iceberg in production) binds the canonical
    schema over any resolvable table name — here a registered view."""
    from pynomaly_spark.io import read_code_table, read_code_table_catalog
    from pynomaly_spark.schema import CODE_TABLE_SCHEMA

    spark.read.parquet(code_dir).createOrReplaceTempView(
        "code_files_view"
    )
    df = read_code_table_catalog(spark, "code_files_view")
    assert [f.name for f in df.schema.fields] == [
        f.name for f in CODE_TABLE_SCHEMA.fields
    ]
    direct = read_code_table(spark, code_dir)
    assert df.count() == direct.count() > 0


def test_permissive_csv_ingest(spark, tmp_path):
    """CSV ingest: header, multiline quoted content with embedded
    newlines/quotes (code!), and PERMISSIVE corrupt-row capture."""
    from pynomaly_spark.io import read_code_table_csv

    p = str(tmp_path / "rows.csv")
    with open(p, "w") as fh:
        fh.write("repo,path,commit,lang,content\n")
        fh.write('a/b,x.py,c1,python,"def f():\n    return ""ok"""\n')
        fh.write('a/b,y.py,c2,,\n')
    df = read_code_table_csv(spark, p)
    rows = {r["path"]: r for r in df.collect()}
    assert set(rows) == {"x.py", "y.py"}
    assert rows["x.py"]["content"] == 'def f():\n    return "ok"'
    assert rows["y.py"]["lang"] is None
    assert all(r["_corrupt_record"] is None for r in rows.values())


def test_text_readers_do_not_mutate_shared_schema(spark, tmp_path):
    """StructType.add mutates its receiver: two text-format reads in one
    session once collided with COLUMN_ALREADY_EXISTS.  Both readers must
    build fresh schemas and leave the module constant untouched."""
    from pynomaly_spark.io import read_code_table_csv, read_code_table_json
    from pynomaly_spark.schema import CODE_TABLE_SCHEMA

    j = str(tmp_path / "r.json")
    c = str(tmp_path / "r.csv")
    with open(j, "w") as fh:
        fh.write('{"repo":"a","path":"p","commit":"c","lang":"l","content":"x"}\n')
    with open(c, "w") as fh:
        fh.write("repo,path,commit,lang,content\na,p,c,l,x\n")
    for _ in range(2):  # twice each: the mutation bug fired on call 2
        assert read_code_table_json(spark, j).count() == 1
        assert read_code_table_csv(spark, c).count() == 1
    assert "_corrupt_record" not in [f.name for f in CODE_TABLE_SCHEMA.fields]


def test_nation_revenue_plan_pushdown_and_broadcast(spark):
    """The multi-join rollup must push the 1997 date filter into the
    orders parquet scan and broadcast the 25-row nation dim — the two
    plan properties that keep it viable at 100 TB."""
    from pynomaly_spark.queries import q_nation_revenue

    df = q_nation_revenue(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    pushed = [
        ln for ln in plan.splitlines()
        if "PushedFilters" in ln and "o_orderdate" in ln
    ]
    assert pushed, "date filter not pushed to the orders scan"
    # exact integer revenue: 25 nations, deterministic sum
    rows = df.collect()
    assert len(rows) == 25 and all(r.revenue_c4 > 0 for r in rows)


def test_bucketed_join_plans_no_exchange(spark, tmp_path):
    """The co-located-join contract: two tables bucketed on the same
    key with the same bucket count join with NO shuffle exchange on
    either side (bucketing pre-pays the shuffle at write time), and the
    per-bucket sortBy removes the join-side sorts too."""
    from pyspark.sql import functions as F

    from pynomaly_spark.io import write_bucketed_table

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # small frames would broadcast and hide the exchange question
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(10_000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("a")
        )
        right = spark.range(3_000).select(
            F.col("id").alias("k"), (F.col("id") % 13).alias("b")
        )
        write_bucketed_table(left, "bkt_left", "k", 8, sort_col="k")
        write_bucketed_table(right, "bkt_right", "k", 8, sort_col="k")
        j = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        assert j.count() == 3_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")

    import pytest

    with pytest.raises(ValueError):
        write_bucketed_table(left, "bkt_bad", "k", 0)


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC sink/reader roundtrip preserves the code table exactly, and
    the ORC scan pushes filters (format-agnostic downstream plans)."""
    from pyspark.sql import functions as F

    from pynomaly_spark.io import read_code_table_orc, write_orc

    src = spark.createDataFrame(
        [
            ("r1", "a.py", "c1", "py", "print(1)"),
            ("r2", "b.rs", "c2", "rs", "fn main() {}"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    p = str(tmp_path / "code_orc")
    write_orc(src, p)
    back = read_code_table_orc(spark, p)
    assert sorted(map(tuple, back.select(*src.columns).collect())) == sorted(
        map(tuple, src.collect())
    )
    plan = (
        back.where(F.col("lang") == "py")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:120], plan


# --------------------------------------------------------------------------
# zorder_key
# --------------------------------------------------------------------------

def _py_morton(coords, bits):
    z = 0
    n = len(coords)
    for d, v in enumerate(coords):
        for b in range(bits):
            z |= ((v >> b) & 1) << (b * n + d)
    return z


def test_zorder_matches_literal_interleave(spark):
    import random

    from pynomaly_spark.io import zorder_key

    rng = random.Random(31)
    rows = [(rng.randrange(4096), rng.randrange(4096)) for _ in range(200)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = df.select(
        "x", "y", zorder_key(["x", "y"], bits=12).alias("z")
    ).collect()
    for r in got:
        assert r["z"] == _py_morton((r["x"], r["y"]), 12)


def test_zorder_locality_beats_linear_sort(spark):
    # the point of z-order: sort by z, then a filter on the SECOND
    # dimension touches far fewer contiguous runs than a lexicographic
    # (x, y) sort would (where y-filtering touches every x block)
    from pynomaly_spark.io import zorder_key

    rows = [(x, y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(rows, "x long, y long")
    z_sorted = [
        (r["x"], r["y"])
        for r in df.select(
            "x", "y", zorder_key(["x", "y"], bits=5).alias("z")
        ).orderBy("z").collect()
    ]
    # chunk into 32 'files' of 32 rows; count files containing y < 4
    files = [z_sorted[i * 32:(i + 1) * 32] for i in range(32)]
    z_hit = sum(1 for f in files if any(y < 4 for _, y in f))
    # lexicographic (x, y) sort: every x-block contains y<4 -> all 32
    assert z_hit <= 16


def test_zorder_three_dims_and_validation(spark):
    import pytest as _pytest

    from pynomaly_spark.io import zorder_key

    df = spark.createDataFrame([(1, 2, 3)], "a long, b long, c long")
    got = df.select(zorder_key(["a", "b", "c"], bits=4).alias("z")).first()
    assert got["z"] == _py_morton((1, 2, 3), 4)
    with _pytest.raises(ValueError, match="non-empty"):
        zorder_key([], bits=4)
    with _pytest.raises(ValueError, match="exceeds a BIGINT"):
        zorder_key(["a", "b"], bits=32)


# --------------------------------------------------------------------------
# zone_map / zone_prune (data-skipping index)
# --------------------------------------------------------------------------

def test_zone_map_stats_and_prune(spark):
    from pyspark.sql import functions as F

    from pynomaly_spark.io import zone_map, zone_prune

    rows = [(z, v) for z in range(3) for v in (z * 10, z * 10 + 5)]
    rows.append((3, None))  # all-null zone
    df = spark.createDataFrame(rows, "zone long, v long").withColumn(
        "m", F.col("v").between(10, 15).cast("long")
    )
    zm = zone_map(df, F.col("zone"), ["v"], ["m"])
    got = {r["zone"]: r for r in zm.collect()}
    assert got[1]["v_min"] == 10 and got[1]["v_max"] == 15
    assert got[3]["v_min"] is None and got[3]["v_nnull"] == 1
    assert got[1]["m_sum"] == 2 and got[0]["m_sum"] == 0
    pr = {r["zone"]: r["pruned"] for r in zone_prune(zm, "v", 10, 15).collect()}
    # zone 1 overlaps, zones 0/2 out of range, all-null zone 3 pruned
    assert pr == {0: 1, 1: 0, 2: 1, 3: 1}


def test_zone_map_validation_and_single_shuffle(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pynomaly_spark.io import zone_map, zone_prune

    df = spark.createDataFrame([(1, 2)], "zone long, v long")
    with _pytest.raises(ValueError, match="unknown columns"):
        zone_map(df, "zone", ["nope"])
    with _pytest.raises(ValueError, match="minmax_cols"):
        zone_map(df, "zone", [])
    with _pytest.raises(ValueError, match="lacks"):
        zone_prune(zone_map(df, "zone", ["v"]), "w", 0, 1)
    plan = (
        zone_map(df, F.col("zone"), ["v"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1  # one keyed aggregate, map-side combined


def test_events_cube_is_one_expand_one_shuffle(spark):
    """The CUBE profile must be ONE Expand feeding ONE exchange — four
    separate GROUP BYs (one per marginal) would scan the source four
    times and shuffle four times."""
    from pynomaly_spark.queries import q_events_cube

    df = q_events_cube(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("Expand") == 1
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 2


def test_compaction_plan_bins_whole_files_near_target(spark):
    from pynomaly_spark.io import compaction_plan, compaction_summary

    # sizes: 900,900,900 -> bin0 holds 900+900 (cum 0,900), third file
    # cum=1800 -> bin1; a 5000-byte monster gets a bin of its own
    rows = [(1, 900), (2, 900), (3, 900), (4, 5000), (5, 100)]
    df = spark.createDataFrame(rows, "fid long, bytes long")
    plan = compaction_plan(df, "bytes", "fid", target_bytes=1000)
    bins = {r["fid"]: r["bin"] for r in plan.collect()}
    assert bins == {1: 0, 2: 0, 3: 1, 4: 2, 5: 7}
    # every file appears in exactly one bin and no bytes are lost
    summ = compaction_summary(plan, "bytes", "fid").collect()
    assert sum(r["n_files"] for r in summ) == 5
    assert sum(r["total_bytes"] for r in summ) == 7800
    # bins close within one file of target: every bin except each
    # stream's last starts before the target boundary
    with pytest.raises(ValueError, match="target_bytes"):
        compaction_plan(df, "bytes", "fid", 0)


def test_write_range_sorted_disjoint_files_and_inner_order(spark, tmp_path):
    """The range-sorted layout contract: every output file owns a
    DISJOINT key interval (file min > previous file max) and rows
    inside each file are sorted — the zone-map-perfect layout."""
    from pynomaly_spark.io import write_range_sorted

    df = spark.range(0, 10_000).select(
        (F.col("id") * 7919 % 10_000).alias("k"), F.col("id").alias("v")
    )
    out = str(tmp_path / "rs")
    write_range_sorted(df, out, ["k"], n_files=8)
    back = spark.read.parquet(out).select(
        "k", F.input_file_name().alias("f")
    )
    rows = back.collect()
    per_file = {}
    for r in rows:
        per_file.setdefault(r["f"], []).append(r["k"])
    assert len(rows) == 10_000 and 2 <= len(per_file) <= 8
    spans = []
    for f, ks in per_file.items():
        # parquet preserves row order within a file
        assert ks == sorted(ks)
        spans.append((min(ks), max(ks)))
    spans.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi < b_lo  # strict disjointness between files
    with pytest.raises(ValueError, match="sort_cols"):
        write_range_sorted(df, out, [])


def test_zone_bloom_no_false_negatives_and_saturation(spark):
    from pynomaly_spark.io import zone_bloom, zone_bloom_probe

    rows = [(z, k) for z in range(4) for k in range(z * 10, z * 10 + 10)]
    df = spark.createDataFrame(rows, "zone int, k long")
    zb = zone_bloom(df, "zone", "k", m_bits=1024, k_hashes=3)
    probes = spark.createDataFrame([(5,), (25,), (999,)], "k long")
    got = {
        (r["zone"], r["k"]): r["maybe"]
        for r in zone_bloom_probe(
            zb, probes, "k", m_bits=1024, k_hashes=3
        ).collect()
    }
    # zero false negatives: every true member zone says maybe
    assert got[(0, 5)] == 1 and got[(2, 25)] == 1
    # key 999 is nowhere; with m=1024 for n=10/zone, fp ~ 0
    assert all(got[(z, 999)] == 0 for z in range(4))
    # an undersized filter (m=32 for 10 keys x3 hashes) loses precision
    # but NEVER soundness: true members still say maybe
    zb_sat = zone_bloom(df, "zone", "k", m_bits=32, k_hashes=3)
    sat = {
        (r["zone"], r["k"]): r["maybe"]
        for r in zone_bloom_probe(
            zb_sat, probes, "k", m_bits=32, k_hashes=3
        ).collect()
    }
    assert sat[(0, 5)] == 1 and sat[(2, 25)] == 1
    with pytest.raises(ValueError, match="m_bits"):
        zone_bloom(df, "zone", "k", m_bits=33)


def test_aqe_splits_planted_skew_join(spark):
    """Scale evidence for the skew story: a join keyed on a planted
    hot key must come out of AQE with the skewed partition SPLIT
    (``skew=true`` in the final SortMergeJoin) once broadcast is off
    and the skew thresholds are in reach — the runtime mitigation the
    module docs point to (profiling.key_frequency_histogram decides
    WHEN, AQE executes HOW)."""
    from pyspark.sql import functions as SF

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        left = spark.range(200_000).select(
            SF.when(SF.col("id") % 10 < 9, SF.lit("hot"))
            .otherwise(SF.col("id").cast("string"))
            .alias("k"),
            SF.lpad(SF.col("id").cast("string"), 64, "x").alias("pad"),
        )
        right = spark.range(2_000).select(
            SF.when(SF.col("id") == 0, SF.lit("hot"))
            .otherwise(SF.col("id").cast("string"))
            .alias("k"),
            SF.col("id").alias("v"),
        )
        j = left.join(right, "k")
        # execute THIS dataframe's own query execution: count() plans a
        # separate aggregate QE whose adaptive plan never finalizes here
        rows = j.collect()
        assert len(rows) > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan[:500]
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


# the registry_light benchmark tables, committed with the checkout
_BENCH_SF = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench", "data", "sf0.1",
)


def test_registry_builds_launch_no_spark_job(spark):
    """Once each table's schema is known, building a headline query (or
    events_funnel) plans without a single Spark job: a schema-less
    parquet read would run a one-task footer job per call."""
    from bench import HEADLINE
    from pynomaly_spark.queries import QUERIES

    names = HEADLINE + ["events_funnel"]
    for name in names:  # warm build: infers each table's schema once
        QUERIES[name](spark, _BENCH_SF)
    sc = spark.sparkContext
    jobs = {}
    try:
        for name in names:
            group = f"build-{name}"
            sc.setJobGroup(group, group)
            QUERIES[name](spark, _BENCH_SF)
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == {name: 0 for name in names}


def test_read_parquet_reinfers_rewritten_file(spark, tmp_path):
    """The schema memo is keyed on the file's identity: overwriting a
    path with a different column set is read with the new columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pynomaly_spark.queries import _tbl

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    first = _tbl(spark, str(tmp_path), "t")
    assert first.columns == ["a", "b"]
    assert sorted(r.a for r in first.collect()) == [1, 2]

    pq.write_table(pa.table({"c": [3.5, 4.5, 5.5]}), path)
    second = _tbl(spark, str(tmp_path), "t")
    assert second.columns == ["c"]
    assert sorted(r.c for r in second.collect()) == [3.5, 4.5, 5.5]


def test_doc_self_join_has_fresh_attributes(spark):
    """Only schemas are memoized, never relations: two _doc() reads in
    one query carry disjoint attribute ids and self-join on doc_id."""
    from pynomaly_spark.queries import _doc

    def expr_ids(df):
        out = df._jdf.queryExecution().analyzed().output()
        return {out.apply(i).exprId().id() for i in range(out.size())}

    a = _doc(spark, _BENCH_SF)
    b = _doc(spark, _BENCH_SF)
    assert not expr_ids(a) & expr_ids(b)
    n = a.count()
    assert n > 0
    assert a.join(b, a["doc_id"] == b["doc_id"]).count() == n


def test_staged_readback_schema_equals_inferred(spark, tmp_path):
    """run_suite's staged read-back passes the writer's schema; a file
    source makes it nullable, so it equals the inferred schema even
    when the writer's columns are non-nullable."""
    from pynomaly_spark.checks import _stage

    frame = spark.range(50).select(
        F.col("id").alias("row_id"),
        F.lit(3).alias("partition_id"),
        F.unhex(F.sha2(F.col("id").cast("string"), 256)).alias("_sha"),
        F.when(F.col("id") % 7 == 0, None).otherwise(F.lit("x")).alias("s"),
    )
    assert not frame.schema["row_id"].nullable
    path = str(tmp_path / "enriched.parquet")
    staged = _stage(frame, path)
    assert staged.schema == spark.read.parquet(path).schema
    assert staged.count() == 50
