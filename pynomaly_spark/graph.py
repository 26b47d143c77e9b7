"""Iterative graph analytics: fixed-point integer PageRank.

PageRank over a directed edge list — the importance/authority score a
data pipeline computes over derived relation graphs (entity-resolution
co-occurrence, supplier/part bipartite structure, citation links).  The
engine's second iterative graph operator after
``dedup.dup_clusters`` (connected components).

**Fixed-point, not float.**  The textbook recursion

    pr(v) = (1-d)/n + d * Σ_{u→v} pr(u)/outdeg(u)

is float arithmetic whose partial-sum ORDER is engine- and
partitioning-dependent — un-hashable across engines and even across
reruns at different parallelism.  This implementation defines the
operator in scaled integers: scores carry ``2^scale_bits`` fixed-point
precision, every division is integer floor division (``div`` in Spark,
``//`` in DuckDB — identical on non-negatives), and the damping factor
is an exact rational ``d_num/d_den``.  Integer sums are
order-independent, so the result is BIT-IDENTICAL on any engine, any
partitioning, any core count — the same discipline as the engine's
cents convention for money.  Floor-division truncation leaks ≤1 unit
per edge per round into nowhere; with ``scale_bits=30`` that is a
relative error ≤ |E|·2^-30 per round — profiling noise, while
determinism is what the validation gate needs.

Dangling nodes (outdeg 0) leak their mass (the standard simplification;
redistribute upstream by adding explicit sink edges if required).

Scale (100 TB): per round, ONE shuffle joining the edge list to the
score frame on ``src`` (scores are |V| rows — broadcast when the node
set is small, shuffle-join keyed by src otherwise; Spark's AQE picks
the side) and ONE aggregate keyed by ``dst`` with map-side partial
sums.  Each round eagerly ``localCheckpoint``s the new score frame —
the repo's iterative-algorithm invariant (an un-cut lineage doubles the
logical plan per round and re-runs the whole upstream pipeline every
iteration; see dedup.dup_clusters and CLAUDE.md).  ``n`` enters the
plan as a 1-row aggregate frame cross-joined (broadcast) — no
driver-side collect.

Reference parity: no counterpart in /root/reference/PyNomaly — engine
addition for the pipeline brief (graph analytics family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from .profiling import _pearson_6dp

__all__ = [
    "pagerank_fixed_point",
    "triangle_count",
    "kcore_peel",
    "link_prediction",
    "degree_assortativity",
]


def pagerank_fixed_point(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 3,
    scale_bits: int = 30,
    d_num: int = 85,
    d_den: int = 100,
) -> DataFrame:
    """Run ``n_iter`` synchronous PageRank rounds in scaled-integer
    arithmetic; returns ``node, pr`` with ``pr ≈ rank · 2^scale_bits``.

    Initial score is ``2^scale_bits div n`` for every node; each round
    computes ``pr'(v) = (d_den-d_num)·2^scale_bits div (d_den·n)
    + d_num · Σ (pr(u) div outdeg(u)) div d_den`` — all BIGINT.

    Null src/dst edges are dropped (an edge to nowhere is data noise,
    and NULL would silently merge as a join key).  Duplicate edges are
    NOT collapsed — a repeated edge is a heavier link by definition
    here; pre-``distinct()`` the input for simple-graph semantics.
    """
    if n_iter < 1:
        raise ValueError(f"pagerank: n_iter must be >= 1, got {n_iter}")
    if not (0 < d_num < d_den):
        raise ValueError(f"pagerank: bad damping {d_num}/{d_den}")
    scale = 1 << scale_bits
    e = (
        edges.where(
            F.col(src_col).isNotNull() & F.col(dst_col).isNotNull()
        )
        .select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    outdeg = (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    pr = (
        nodes.crossJoin(F.broadcast(nn))
        .select("node", F.expr(f"{scale}L div n").alias("pr"))
        .localCheckpoint(eager=True)
    )
    for _ in range(n_iter):
        contrib = (
            e.join(pr.withColumnRenamed("node", "src"), "src")
            .join(outdeg.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"), F.expr("pr div deg").alias("c")
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        pr = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                (
                    F.expr(
                        f"({d_den - d_num}L * {scale}L) div ({d_den}L * n)"
                    )
                    + F.expr(
                        f"({d_num}L * coalesce(s, 0L)) div {d_den}L"
                    )
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    return pr


def _pair_pack(id_t, guard: bool, op_name: str):
    """Injective 64-bit (x, y) pair pack shared by the graph operators
    (round 6): high word x, low word y's unsigned 32-bit image.  For
    ``int`` ids it is total (negatives included; shiftleft never
    overflows for |x| < 2^31).  With ``guard`` (bigint opt-in) each
    side is range-checked IN PLAN — the pack is the join/aggregate key
    itself, so Catalyst cannot prune the check and an out-of-range id
    fails loudly instead of corrupting.  Returns ``(pack, unpack_x,
    unpack_y)`` where the unpackers take the packed column and yield
    exact ``id_t`` values — ordering never rides on the packed form.
    """

    def _side(c):
        if not guard:
            return c.cast("long")
        return F.when(
            (c >= 0) & (c < F.lit(2147483648)), c.cast("long")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"{op_name}: pack_ids=True requires ids in "
                        "[0, 2^31); got "
                    ),
                    c.cast("string"),
                )
            ).cast("long")
        )

    def pack(xc, yc):
        return F.shiftleft(_side(xc), 32) + (
            _side(yc).bitwiseAND(F.lit(4294967295))
        )

    def unpack_x(pc):
        return F.shiftright(pc, 32).cast(id_t)

    def unpack_y(pc):
        lo = pc.bitwiseAND(F.lit(4294967295))
        return (
            F.when(lo >= F.lit(2147483648), lo - F.lit(4294967296))
            .otherwise(lo)
            .cast(id_t)
        )

    return pack, unpack_x, unpack_y


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    pack_ids: bool | None = None,
) -> DataFrame:
    """Per-node triangle counts over an undirected graph — the local
    clustering / community-density signal (spam-farm detection in link
    graphs, cohesion scoring in entity-resolution clusters), and the
    third classic graph operator beside connected components and
    PageRank.

    Input is an edge list in ANY form (duplicates, both directions,
    self-loops); it is canonicalized to distinct undirected pairs
    first.  The count uses **degree orientation**: every edge is
    directed from its lower to its higher endpoint under the total
    order ``(degree, node)``, each triangle then has exactly ONE
    "apex" node with two out-edges, so the wedge self-join emits every
    triangle exactly once and — the scale property — a node's
    out-degree is O(sqrt(|E|)) no matter how skewed the raw degree
    distribution (a celebrity node's millions of neighbours almost all
    outrank it, so its wedge fan-out collapses; the classic
    Schank/Wagner-style bound).

    Returns ``(node, n_triangles)`` for nodes in at least one
    triangle.  All arithmetic is integer counting — bit-identical on
    any engine.  ``pack_ids`` packs the closing-join pair key into one
    8-byte long (auto for ``int`` ids; bigint ids opt in under an
    in-plan ``[0, 2^31)`` guard) — see :func:`link_prediction`.

    Scale (100 TB): canonicalize (one distinct), degree (one keyed
    count), orient (two node-keyed joins against the |V|-row degree
    frame), wedges (one src-keyed self-join bounded by orientation),
    close (one (v, w)-keyed join against the edge set), attribute (one
    explode + keyed count).  Every shuffle is keyed; nothing is
    all-pairs.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (graph analytics family).
    """
    for c in (src, dst):
        if c not in edges.columns:
            raise ValueError(f"triangle_count: unknown column {c!r}")
    a, b = F.col(src), F.col(dst)
    und = (
        edges.where(a.isNotNull() & b.isNotNull() & (a != b))
        .select(
            F.least(a, b).alias("u"), F.greatest(a, b).alias("v")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    keyed = und.join(du, "u").join(dv, "v")
    lo_first = F.struct(F.col("du"), F.col("u")) < F.struct(
        F.col("dv"), F.col("v")
    )
    o = keyed.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("d"),
        F.when(lo_first, F.col("dv")).otherwise(F.col("du")).alias("dd"),
    )
    e1 = o.select(
        F.col("s").alias("apex"), F.col("d").alias("w1"), F.col("dd").alias("k1")
    )
    e2 = o.select(
        F.col("s").alias("apex"), F.col("d").alias("w2"), F.col("dd").alias("k2")
    )
    wedges = e1.join(e2, "apex").where(
        F.struct(F.col("k1"), F.col("w1")) < F.struct(F.col("k2"), F.col("w2"))
    )
    id_t = und.schema["u"].dataType
    use_pack = pack_ids if pack_ids is not None else isinstance(
        id_t, IntegerType
    )
    if use_pack:
        # Packed closing-join key (round 6, same device + guard as
        # link_prediction's pack_ids): the wedge relation — the one
        # quadratic-ish term — shuffles one 8-byte long instead of the
        # (w1, w2) pair; the pair unpacks exactly after the join.
        pack, ux, uy = _pair_pack(id_t, pack_ids is True and not
                                  isinstance(id_t, IntegerType),
                                  "triangle_count")
        wkey = wedges.select(
            "apex", pack(F.col("w1"), F.col("w2")).alias("_wxy")
        )
        closer = o.select(pack(F.col("s"), F.col("d")).alias("_wxy"))
        tri = wkey.join(closer, ["_wxy"]).select(
            "apex",
            ux(F.col("_wxy")).alias("w1"),
            uy(F.col("_wxy")).alias("w2"),
        )
    else:
        closer = o.select(F.col("s").alias("w1"), F.col("d").alias("w2"))
        tri = wedges.join(closer, ["w1", "w2"]).select("apex", "w1", "w2")
    return (
        tri.select(
            F.explode(
                F.array(F.col("apex"), F.col("w1"), F.col("w2"))
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 20,
    max_degree: int | None = None,
    pack_ids: bool | None = None,
) -> DataFrame:
    """Common-neighbor link prediction: the top-``k`` NON-adjacent node
    pairs ranked by how many neighbours they share — the classic
    "you may also like" / missing-edge candidate generator over
    co-occurrence graphs, and the graph-ML counterpart to
    :func:`triangle_count` (a predicted link is exactly a wedge that
    never closed).

    All counting is integer; the global top-``k`` is the salted
    two-phase device with a total order ``(common DESC, x ASC,
    y ASC)`` — deterministic on any engine and partitioning.

    **The hub caveat is structural, not an implementation detail**: a
    node of degree ``d`` contributes ``C(d,2)`` candidate pairs, so a
    celebrity hub genuinely creates quadratically many wedges — no
    algorithm avoids enumerating them if its neighbours' pairs are all
    candidates.  ``max_degree`` is therefore an IN-PLAN guard (the
    checked node id is the wedge join key itself, so Catalyst cannot
    prune it): a graph with a hotter node fails loudly instead of
    silently blowing up the shuffle — the engine's hot-block /
    viral-basket discipline.

    Scale (100 TB): canonicalize (one distinct), degree (one keyed
    count), wedge enumeration (one apex-keyed self-join, bounded by
    ``max_degree``), candidate counting (one (x, y)-keyed aggregate
    with map-side combine), existing-edge removal (one anti-join on
    the edge key), then the two-phase top-k.  Every shuffle is keyed.

    ``pack_ids`` (round 6): the candidate aggregate and the anti-join
    can carry ONE 8-byte packed long instead of the two-column pair key
    — half the key bytes hashed/compared across the wedge shuffle, the
    operator's dominant cost.  ``None`` (default) packs automatically
    for ``int`` ids, where the pack is injective over the FULL range
    (negatives included: high word x, low word y's unsigned 32-bit
    image).  ``True`` opts bigint ids in under a caller promise that
    ids lie in ``[0, 2^31)`` — enforced by an IN-PLAN guard on the
    aggregate key itself (the ``max_degree`` discipline: an
    out-of-range id fails loudly, never corrupts).  Ordering never
    rides on the packed value — pairs unpack exactly before the
    ``(common, x, y)`` top-k — so the result is identical either way.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (graph analytics family).
    """
    from pynomaly_spark.similarity import two_phase_topk

    for c in (src, dst):
        if c not in edges.columns:
            raise ValueError(f"link_prediction: unknown column {c!r}")
    if k < 1:
        raise ValueError("link_prediction: k must be >= 1")
    a, b = F.col(src), F.col(dst)
    und = (
        edges.where(a.isNotNull() & b.isNotNull() & (a != b))
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    if max_degree is not None:
        checked = F.when(F.col("deg") <= int(max_degree), F.col("node")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"link_prediction: node degree > {int(max_degree)} "
                        "(hub would enumerate C(d,2) wedges; raise "
                        "max_degree or pre-filter): node="
                    ),
                    F.col("node").cast("string"),
                    F.lit(" deg="),
                    F.col("deg").cast("string"),
                )
            ).cast(und.schema["u"].dataType)
        )
    else:
        checked = F.col("node")
    apexes = deg.select(checked.alias("z"))
    sym = (
        und.select(F.col("u").alias("z"), F.col("v").alias("n"))
        .unionAll(und.select(F.col("v").alias("z"), F.col("u").alias("n")))
        .join(apexes, "z")
    )
    right = sym.select(F.col("z").alias("_z2"), F.col("n").alias("y"))
    wedges = sym.join(
        right,
        (F.col("z") == F.col("_z2")) & (F.col("n") < F.col("y")),
    )
    id_t = und.schema["u"].dataType
    use_pack = pack_ids if pack_ids is not None else isinstance(
        id_t, IntegerType
    )
    if use_pack:
        # See the docstring and _pair_pack: one 8-byte injective pair
        # key through the wedge aggregate + anti-join, unpacked exactly
        # before the top-k; pack_ids=True on wider ids range-guards the
        # key in plan.
        pack, ux, uy = _pair_pack(
            id_t,
            pack_ids is True and not isinstance(id_t, IntegerType),
            "link_prediction",
        )
        cn = wedges.groupBy(
            pack(F.col("n"), F.col("y")).alias("_xy")
        ).agg(F.count(F.lit(1)).cast("long").alias("common"))
        existing = und.select(pack(F.col("u"), F.col("v")).alias("_xy"))
        cand = cn.join(existing, ["_xy"], "left_anti").select(
            ux(F.col("_xy")).alias("x"), uy(F.col("_xy")).alias("y"), "common"
        )
    else:
        cn = wedges.groupBy(F.col("n").alias("x"), "y").agg(
            F.count(F.lit(1)).cast("long").alias("common")
        )
        existing = und.select(F.col("u").alias("x"), F.col("v").alias("y"))
        cand = cn.join(existing, ["x", "y"], "left_anti")
    top = two_phase_topk(
        cand,
        [],
        [F.col("common").desc(), F.col("x").asc(), F.col("y").asc()],
        int(k),
        rank_col="rnk",
        phase1=False,
    )
    return top.select(
        F.col("rnk").cast("long").alias("rnk"), "x", "y", "common"
    )


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    max_rounds: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
):
    """k-core decomposition by synchronous peeling — the third
    iterative graph operator (after connected components and
    PageRank): repeatedly remove nodes whose CURRENT degree is below
    ``k`` until stable (or ``max_rounds``).  The k-core is the standard
    density filter before community/influence analysis; the PEEL
    PROFILE (how much dissolves per round) is itself the graph-health
    readout.

    Returns ``(survivors, peel_log)``:

    * ``survivors`` — DataFrame ``(node, core_degree)``: nodes of the
      remaining k-core with their degree inside it (empty when the
      whole graph dissolves);
    * ``peel_log`` — list of ``(round, n_peeled, n_remaining)`` ints,
      one entry per round that removed nodes.  ``n_remaining`` counts
      nodes still meeting the degree bar; a node whose last neighbor
      was peeled vanishes from the next round's degree relation (for
      k ≥ 1 a zero-degree node is below the bar by definition).

    Determinism: peeling is a synchronous fixpoint over integer degree
    counts — no tie-breaking, no floats; the trajectory is identical
    on any engine or partitioning, so the oracle twin unrolls the SAME
    rounds as MATERIALIZED CTEs.

    Scale (100 TB): each round is one degree aggregate (map-side
    combined) + two semi-joins, all keyed on node ids; the adjacency
    frame is eagerly ``localCheckpoint``ed per round (the iterative
    lineage rule — see dup_clusters) and the driver reads only two
    COUNTS per round, never graph data.  Rounds needed in practice is
    tiny (each round peels a whole degeneracy layer).

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (graph family).
    """
    if k < 1:
        raise ValueError(f"kcore_peel: k must be >= 1, got {k}")
    if max_rounds < 1:
        raise ValueError(f"kcore_peel: max_rounds must be >= 1")
    e = edges.where(
        F.col(src_col).isNotNull() & F.col(dst_col).isNotNull()
    )
    adj = (
        e.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .union(
            e.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    peel_log = []
    for r in range(1, max_rounds + 1):
        deg = adj.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.where(F.col("d") >= k).select("a")
        n_nodes = deg.count()
        n_keep = keep.count()
        peeled = n_nodes - n_keep
        if peeled == 0:
            break
        peel_log.append((r, peeled, n_keep))
        adj = (
            adj.join(keep, "a", "left_semi")
            .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
    survivors = (
        adj.groupBy("a")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .where(F.col("core_degree") >= k)
        .select(F.col("a").alias("node"), "core_degree")
    )
    return survivors, peel_log


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree assortativity of an undirected graph — the Pearson
    correlation of endpoint degrees across edges (both directions, the
    standard symmetrization), answering "do hubs link to hubs?".
    Positive on social graphs, negative on dependency/star topologies,
    ≈0 on random co-occurrence — a one-row structural fingerprint a
    pipeline tracks across snapshots to catch topology drift that
    per-node metrics miss.

    The correlation is ``profiling._pearson_6dp``'s exact-moment 6-dp
    fixed point (the ``spearman_rho`` discipline).  NULL when every
    node has the same degree (zero variance).

    Returns one row: ``n_edges, n_nodes, r_6dp``.

    Scale (100 TB): canonicalize (one distinct), degree (one keyed
    count), two node-keyed joins of the edge list against the |V|-row
    degree frame, ONE map-side-combined moment aggregate.  No windows,
    no all-pairs.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (graph analytics family).
    """
    for c in (src, dst):
        if c not in edges.columns:
            raise ValueError(f"degree_assortativity: unknown column {c!r}")
    a, b = F.col(src), F.col(dst)
    und = (
        edges.where(a.isNotNull() & b.isNotNull() & (a != b))
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("_du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("_dv"))
    keyed = und.join(du, "u").join(dv, "v")
    de = keyed.select(
        F.col("_du").alias("x"), F.col("_dv").alias("y")
    ).unionAll(keyed.select(F.col("_dv").alias("x"), F.col("_du").alias("y")))
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return (
        _pearson_6dp(de, "x", "y")
        .crossJoin(F.broadcast(nn))
        .select(
            (F.col("_n") / 2).cast("long").alias("n_edges"),
            "n_nodes",
            F.col("_r6").alias("r_6dp"),
        )
    )
