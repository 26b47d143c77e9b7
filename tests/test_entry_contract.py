"""Driver-contract replica: entry() smoke + oracle parity at sf0.001.

(The driver itself runs the oracle gate at sf0.01; sf0.001 keeps the
suite fast.  ``python tests/oracle_compare.py /root/testdata/sf0.01``
runs the full-scale version.)
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    cols = set(df.columns)
    assert {"partition_id", "check_name", "metric", "value", "passed"} <= cols


def test_queries_and_oracles_line_up():
    import __spark_entry__ as mod

    q = mod.queries()
    o = mod.oracle_sql()
    assert set(o) <= set(q)
    # EVERY registry query is oracle-checked as of round 5: the last
    # rows-only holdouts (binary media codecs) flipped by recomputing
    # the DECODED values in SQL from the md5 generation inputs — QOI
    # pixels equal the PPM raster, Y4M luma/motion and thumbnails are
    # positional ascii lookups, and the WAV rfft power spectrum is a
    # direct 48x25 DFT cross join.
    rows_only = set(q) - set(o)
    assert rows_only == set()


def test_registry_has_no_duplicate_keys():
    """A duplicate key in the QUERIES/ORACLES dict literal silently
    drops the earlier entry (Python keeps the last) — exactly how the
    per-user pivot query shipped shadowed in round 5.  Parse the source
    and assert every literal key is unique."""
    import ast

    import pynomaly_spark.queries as qmod

    tree = ast.parse(open(qmod.__file__).read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict) and len(node.keys) > 20:
            keys = [k.value for k in node.keys if isinstance(k, ast.Constant)]
            dupes = {k for k in keys if keys.count(k) > 1}
            assert not dupes, f"duplicate registry keys: {dupes}"


# sha256 over every (name, oracle) pair of ORACLES in registry order;
# the oracle strings are frozen, so only a change to the registry's
# declared set of twins may move it
_ORACLES_SHA256 = (
    "6b56029227ec9cdb5e300d7edc7e4fe9342baa04924b5a93dd31f9439d212638"
)


def test_oracle_text_is_frozen():
    """The twin generators in ``queries.py`` share helpers; a change to
    one helper must not change any generated oracle string."""
    import hashlib

    from pynomaly_spark.queries import ORACLES

    h = hashlib.sha256()
    for name, sql in ORACLES.items():
        h.update(name.encode() + b"\0" + sql.encode() + b"\0")
    assert h.hexdigest() == _ORACLES_SHA256


def test_oracle_parity_all(spark):
    from tests.oracle_compare import compare_all

    res = compare_all(spark, SF)
    failures = {k: v for k, v in res.items() if not v["ok"]}
    assert not failures, failures


def test_doc_funnel_is_a_monotone_funnel(spark):
    """Stage survivor counts must be non-increasing, start at the total,
    and the train split must keep a strict subset."""
    from pynomaly_spark.queries import q_doc_funnel

    rows = {
        r.stage: r.n_docs
        for r in q_doc_funnel(spark, "/root/testdata/sf0.001").collect()
    }
    assert sorted(rows) == [0, 1, 2, 3, 4]
    assert rows[0] == 500
    for s in range(1, 5):
        assert rows[s] <= rows[s - 1], s
    assert 0 < rows[4] < rows[0]
