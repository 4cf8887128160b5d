"""Graph analytics over a distributed edge set — the second tier of
consumers of the reference's epsilon-graph output (CSR graphs,
/root/reference/include/dist_graph.h:20-26; the first tier is
operators/components.py).

Two operators, both integer-exact end-to-end:

* ``triangle_counts`` — per-vertex triangle participation (the
  numerator of the local clustering coefficient). Algorithm: the
  degree-ordered edge orientation of Suri & Vassilvitskii ("Counting
  Triangles and the Curse of the Last Reducer", WWW'11): orient every
  undirected edge from the (degree, id)-smaller endpoint to the
  larger, enumerate wedges only from each vertex's OUT-neighborhood,
  and close them against the oriented edge set. The orientation is
  the whole point at scale: a hot vertex with degree h contributes
  O(h^2) wedges naively, but its out-degree under the ordering is
  O(sqrt(m)), so no single key explodes — the shuffle-join analog of
  the reference's hub-splitting load balance
  (src/dist_point_vector.cpp:656-696).

* ``bfs_hops`` — exact hop distance from a source vertex by
  synchronous frontier expansion: one key-partitioned join + one
  anti-join per level, per-round ``localCheckpoint`` lineage
  truncation (the components.py discipline). Rounds = graph
  eccentricity of the source — bounded for an epsilon-graph by
  O(extent/eps), the geometric diameter, not by n. Unreachable
  vertices report hop = -1.

Scale notes (100 TB): every stage in both operators is a
hash-partitioned join/aggregate on bigint keys — no broadcast of
anything data-sized, no driver collect (``bfs_hops`` collects ONE
scalar: the convergence probe / source id), no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.session import mark_releasable


def _canonical(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    return (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("t"))
        .where(F.col("s") != F.col("t"))
        .select(F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b"))
        .distinct()
    )


def triangle_counts(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-vertex triangle counts of the undirected graph ``edges``.

    Returns (id, triangles). ``nodes`` (any frame with an ``id``
    column) adds triangle-free vertices with count 0; without it only
    edge endpoints appear.
    """
    c = mark_releasable(_canonical(edges, src_col, dst_col).persist())

    # degree over the undirected graph, then the (deg, id) total order
    sym = c.select(F.col("a").alias("u")).unionAll(
        c.select(F.col("b").alias("u"))
    )
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))

    j = c.join(
        deg.select(F.col("u").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("u").alias("b"), F.col("deg").alias("db")), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # oriented edge u -> v with u strictly before v in the total order;
    # carry v's order key for the wedge-ordering predicate below
    d = mark_releasable(
        j.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("vdeg"),
        ).persist()
    )

    # wedges from each out-neighborhood: (x; y, z) with y before z —
    # every triangle x<y<z (order-wise) is generated exactly once
    p = d.select("u", F.col("v").alias("y"), F.col("vdeg").alias("ydeg"))
    q = d.select("u", F.col("v").alias("z"), F.col("vdeg").alias("zdeg"))
    wedge_ord = (F.col("ydeg") < F.col("zdeg")) | (
        (F.col("ydeg") == F.col("zdeg")) & (F.col("y") < F.col("z"))
    )
    w = p.join(q, "u").where(wedge_ord).select("u", "y", "z")
    tri = w.join(
        d.select(F.col("u").alias("y"), F.col("v").alias("z")), ["y", "z"]
    )

    verts = (
        tri.select(F.col("u").alias("id"))
        .unionAll(tri.select(F.col("y").alias("id")))
        .unionAll(tri.select(F.col("z").alias("id")))
    )
    cnt = verts.groupBy("id").agg(F.count("*").alias("_t"))
    base = nodes.select("id") if nodes is not None else deg.select(
        F.col("u").alias("id")
    )
    return base.join(cnt, "id", "left").select(
        "id", F.coalesce("_t", F.lit(0)).cast("bigint").alias("triangles")
    )


def bfs_hops(
    edges: DataFrame,
    source: int | None = None,
    nodes: DataFrame | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 256,
) -> DataFrame:
    """Exact BFS hop distance from ``source`` over the undirected
    graph ``edges``. Returns (id, hop) with hop = -1 for vertices the
    source cannot reach (``nodes`` supplies the id universe; without
    it, edge endpoints only). ``source`` = None picks the minimum
    node id — deterministic.

    Raises after ``max_rounds`` levels: an epsilon-graph's hop
    diameter is geometrically bounded (O(extent/eps)); blowing the cap
    means the input is not the graph the caller thinks it is.
    """
    c = _canonical(edges, src_col, dst_col)
    sym = (
        c.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(c.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .localCheckpoint(eager=True)
    )
    base = nodes.select("id") if nodes is not None else sym.select(
        F.col("u").alias("id")
    ).distinct()
    if source is None:
        source = base.agg(F.min("id")).collect()[0][0]

    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(int(source), 0)], "id bigint, hop int"
    ).localCheckpoint(eager=True)
    frontier = dist
    for _ in range(max_rounds):
        nxt = (
            frontier.join(sym, frontier["id"] == sym["u"])
            .select(F.col("v").alias("id"), (F.col("hop") + 1).alias("hop"))
            .distinct()
            .join(dist.select("id"), "id", "anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    else:
        raise RuntimeError(f"bfs_hops: frontier alive after {max_rounds} levels")

    return base.join(dist, "id", "left").select(
        "id", F.coalesce("hop", F.lit(-1)).cast("bigint").alias("hop")
    )


def walk_mass(
    edges: DataFrame,
    nodes: DataFrame,
    rounds: int = 3,
    init: int = 1000,
    id_col: str = "id",
) -> DataFrame:
    """INTEGER random-walk mass diffusion — the PageRank power
    iteration with floor division instead of float splitting, so every
    round is integer-exact and an ANSI-SQL oracle can replay it
    bit-for-bit (float PageRank cannot cross engines exactly; this
    carries the same structural signal: after ``rounds`` steps a
    vertex's mass is the degree-weighted count of length-``rounds``
    walks reaching it, the centrality a link-graph pipeline uses to
    rank crawl frontiers).

    Semantics: symmetrize the edge set (self-loops dropped), then
    m_0(u) = init for every node; m_t(v) = sum over in-neighbors u of
    (m_{t-1}(u) DIV deg(u)). Isolated vertices and leaked remainders
    simply vanish — mass is NOT conserved (that's the documented,
    exactly-reproducible rule).

    Plan: ``rounds`` is a FIXED small constant (the oracle unrolls the
    same rounds), each round one key-partitioned join + aggregate on
    bigint ids; degrees computed once. No driver state, no iteration-
    to-convergence (bounded plan depth by construction)."""
    e = edges.select(
        F.col("src").alias("s"), F.col("dst").alias("t")
    ).where(F.col("s") != F.col("t"))
    sym = mark_releasable(
        e.union(e.select(F.col("t").alias("s"), F.col("s").alias("t")))
        .distinct()
        .persist()
    )
    deg = sym.groupBy("s").agg(F.count("*").alias("deg"))
    # (s, t, deg(s)) computed ONCE; each round is then a single
    # id-keyed join + aggregate against it
    share_edges = mark_releasable(sym.join(deg, "s").persist())
    ids = nodes.select(F.col(id_col).alias("id"))
    mass = ids.select("id", F.lit(int(init)).cast("bigint").alias("mass"))
    for _ in range(int(rounds)):
        mass = (
            share_edges.join(mass, share_edges["s"] == mass["id"])
            .select(
                F.col("t").alias("nid"),
                F.expr("mass div deg").alias("share"),
            )
            .groupBy("nid")
            .agg(F.sum("share").alias("mass"))
            .select(F.col("nid").alias("id"), "mass")
        )
    out = ids.join(mass, "id", "left").select(
        "id", F.coalesce(F.col("mass"), F.lit(0)).cast("bigint").alias("mass")
    )
    return out
