"""The split lookup join (skew._skew_split_lookup): equal to a plain left
join on random data for every hot/tail split, planned as one broadcast
head join plus one shuffled tail join, and broadcasting the head once."""

import re
from functools import reduce
from operator import and_

import numpy as np
import pytest
from pyspark.sql import functions as F

from pynomaly_spark.skew import _skew_split_lookup


def _norm(rows):
    return sorted((tuple(r) for r in rows), key=repr)


def _plain_lookup(probe, table, on, count, out):
    """The reference: one ordinary left join."""
    t = table.select(
        *[F.col(tc).alias(f"_ref{i}") for i, (_, tc) in enumerate(on)],
        F.col(count).alias(out),
    )
    cond = [F.col(pc) == F.col(f"_ref{i}") for i, (pc, _) in enumerate(on)]
    joined = probe.join(t, reduce(and_, cond), "left")
    return joined.select(*probe.columns, out)


def _random_case(seed, two_keys):
    """A table with one row per key (some NULL counts, possibly a NULL
    key) and a probe with NULL keys, keys absent from the table and
    repeated rows."""
    rng = np.random.default_rng(seed)
    k2s = [0, 1, 2, None] if two_keys else [None]
    pool = [(k1, k2) for k1 in ["a", "b", "c", "d", "e", None] for k2 in k2s]
    picked = rng.choice(len(pool), size=2 * len(pool) // 3, replace=False)
    table = [
        (*pool[i], None if rng.random() < 0.15 else int(rng.integers(1, 10)))
        for i in picked
    ]
    probe = [
        (int(rng.integers(0, 4)), *pool[int(rng.integers(0, len(pool)))])
        for _ in range(40)
    ]
    return table, probe + probe[:10]


@pytest.mark.parametrize("two_keys", [False, True])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_split_lookup_equals_plain_left_join(spark, seed, two_keys):
    """On random data the split lookup returns exactly what one plain
    left join returns, with ``hot_min`` making every key hot, none hot,
    and a split at a count the table holds (a key on the boundary)."""
    table, probe = _random_case(seed, two_keys)
    on = [("p1", "t1"), ("p2", "t2")] if two_keys else [("p1", "t1")]
    in_table = {(k1, k2) for k1, k2, _ in table}
    assert any(k1 is None for _, k1, _ in probe)
    assert any((k1, k2) not in in_table for _, k1, k2 in probe)
    t = spark.createDataFrame(table, "t1 string, t2 int, c long")
    p = spark.createDataFrame(probe, "id int, p1 string, p2 int")
    want = _norm(_plain_lookup(p, t, on, "c", "hit").collect())
    counts = sorted(c for *_, c in table if c is not None)
    for hot_min in (0, counts[len(counts) // 2], 10**9):
        got = _skew_split_lookup(p, t, on, "c", hot_min, "hit")
        assert got.columns == ["id", "p1", "p2", "hit"]
        assert _norm(got.collect()) == want, hot_min


def _depth(line: str) -> int:
    """Column at which a plan tree line's node name starts."""
    return len(line) - len(re.sub(r"^[\s:+\-]*", "", line))


def _subtrees(plan: str, pattern: str) -> list:
    """The lines of every plan subtree whose root line matches
    ``pattern`` (its children are the following, deeper lines)."""
    lines = plan.splitlines()
    out = []
    for i, ln in enumerate(lines):
        if re.search(pattern, ln):
            j = i + 1
            while j < len(lines) and _depth(lines[j]) > _depth(ln):
                j += 1
            out.append(lines[i:j])
    return out


def test_unigram_lookup_plans_broadcast_head_and_shuffled_tail(spark):
    """With auto-broadcast off, the hot head still joins as a broadcast
    hash join over the ``c >= hot_min`` rows, and the tail joins as a
    sort-merge join against the ``c < hot_min`` rows: neither half of
    the split may be optimized away."""
    from pynomaly_spark.lm import score_unigram_logprob, unigram_model

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog ate the cat food")],
        "doc_id long, text string",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            score_unigram_logprob(df, unigram_model(df), hot_min=2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    heads = _subtrees(plan, r"BroadcastHashJoin .*LeftOuter, BuildRight")
    assert heads, plan
    for h in heads:
        bcast = _subtrees("\n".join(h), r"BroadcastExchange HashedRelation")
        assert len(bcast) == 1
        assert any(re.search(r"Filter .*>= 2\)", ln) for ln in bcast[0]), plan
    tails = _subtrees(plan, r"SortMergeJoin .*LeftOuter")
    assert len(tails) == 1, plan
    # the join's right child is its last direct child
    tail = tails[0]
    kids = [i for i, ln in enumerate(tail) if _depth(ln) == _depth(tail[1])]
    right = tail[kids[-1]:]
    assert any(re.search(r"Filter .*< 2\)", ln) for ln in right), plan
    assert not any("BroadcastExchange" in ln for ln in right), plan


def test_self_trained_unigram_builds_hot_broadcast_once(spark):
    """Both union branches of the split read the same hot head, so after
    execution AQE holds one broadcast of it and the other branch reuses
    that stage.  Were head and tail cut from one shared relation, the
    tail join's self-join rewrite would change the head's plan in one
    branch, and the hot head would be broadcast twice."""
    from pynomaly_spark.lm import score_unigram_logprob

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog ate the cat food")],
        "doc_id long, text string",
    )
    out = score_unigram_logprob(df, None, hot_min=2)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    assert "isFinalPlan=true" in final
    hot = [
        t for t in _subtrees(final, r"BroadcastExchange HashedRelation")
        if any(re.search(r"Filter .*>= 2\)", ln) for ln in t)
    ]
    assert len(hot) == 1, final
