"""Epsilon-ball self-join — the reference's headline query.

Semantics: ``points p JOIN points q ON dist(p.vec, q.vec) <= r AND
p.id != q.id`` (both directions emitted, matching the reference's
symmetric edge set, /root/reference/src/dist_graph.cpp:12-21).

Physical plan (the reference's cvor pipeline re-expressed,
/root/reference/src/dist_point_vector.cpp:962-996):

  points(id, vec, cell)
    -> cell_stats (2 JVM aggs)        [broadcast]
    -> replicate_ghosts (mapInPandas) [ghost rows for foreign cells]
    -> cogroup(ghosts, homes) on cell [ghost-only shuffle; the home
                                       side reads the aligned layout]
         per cell: build cover tree over home points,
                   batched radius query for home+ghost rows
    -> edges(src, dst, dist)

Every qualifying ordered pair is found exactly once — in the cell
where its dst is home — so no dedup stage is needed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core import covertree as ct
from ..plans.metrics import counted_fn, counted_stream
from ..plans.session import mark_releasable
from ..sources.tables import vec_matrix
from .partition import CellStats, cell_stats, replicate_ghosts

EDGE_SCHEMA = "src bigint, dst bigint, dist double"


def ball_self_join(
    points: DataFrame,
    radius: float,
    d: int,
    cover: float = ct.DEFAULT_COVER,
    leaf_size: int = ct.DEFAULT_LEAF_SIZE,
    cell_col: str = "cell",
    fine_col: str | None = None,
    brute_cutoff: int = 1024,
    stats: CellStats | None = None,
) -> DataFrame:
    """points must carry (id, vec, cell). Returns (src, dst, dist),
    src != dst, both directions.

    Only ghost rows move through the shuffle; homes are read in place
    from the persisted hash(cell)-partitioned layout (Exchange elided,
    see knn_self_join). Ghost volume is boundary-sized (O(surface),
    not O(volume)), so the per-query shuffle is the replication halo,
    never the table.

    Caching contract: with ``stats=None`` the input is persisted and
    registered releasable (see knn_self_join docstring); passing
    precomputed stats skips both."""
    spark = points.sparkSession
    if stats is None:
        # scanned by stats (2x), ghosts, homes
        points = mark_releasable(points.persist())
        stats = cell_stats(points, d, cell_col, fine_col)
    stats_bc = spark.sparkContext.broadcast(stats)

    def _edges_kernel(H, hid, Q, qid) -> pd.DataFrame:
        if len(H) <= brute_cutoff:
            # small build side: a BLAS matrix pass beats tree descent
            # (and in high-d with r near the distance concentration the
            # tree cannot prune anyway — same edge set either way)
            d2 = ct.pairwise_sq_dists(Q, H)
            qi, pi = np.nonzero(d2 <= radius * radius)
            di = np.sqrt(d2[qi, pi])
        else:
            tree = ct.build(H, cover=cover, leaf_size=leaf_size)
            qi, pi, di = ct.radius_query(tree, H, Q, radius)
        src = qid[qi]
        dst = hid[pi]
        keep = src != dst
        return pd.DataFrame({"src": src[keep], "dst": dst[keep], "dist": di[keep]})

    ghosts = replicate_ghosts(points, stats_bc, radius, cell_col)
    home_g = points.select(F.col(cell_col).alias("cell"), "id", "vec")

    def per_cell_cg(ghost_pdf: pd.DataFrame, home_pdf: pd.DataFrame) -> pd.DataFrame:
        if home_pdf.empty:
            return pd.DataFrame({"src": [], "dst": [], "dist": []}).astype(
                {"src": "int64", "dst": "int64", "dist": "float64"}
            )
        H = vec_matrix(home_pdf)
        hid = home_pdf["id"].to_numpy()
        if ghost_pdf.empty:
            Q, qid = H, hid
        else:
            G = vec_matrix(ghost_pdf)
            Q = np.concatenate([H, G])
            qid = np.concatenate([hid, ghost_pdf["id"].to_numpy()])
        return _edges_kernel(H, hid, Q, qid)

    return (
        ghosts.groupby("cell")
        .cogroup(home_g.groupby("cell"))
        .applyInPandas(counted_fn(per_cell_cg), schema=EDGE_SCHEMA)
    )


def ball_self_join_bin_counts(
    points: DataFrame,
    radii,
    d: int,
    stats: CellStats | None = None,
    cell_col: str = "cell",
    src_mod2: int | None = None,
    dst_mod2: int | None = None,
    lt_only: bool = False,
    chunk_rows: int = 8192,
) -> DataFrame:
    """Second-order-statistics reduction of the epsilon ball self-join
    at ``radii[-1]``: per-bin COUNTS of qualifying ordered pairs
    (dist <= radii[i], src != dst, plus the optional filters), computed
    INSIDE the cogroup kernel instead of materializing the pair stream
    (guide §2.3 "aggregate before you shuffle": ripley_k / cross_k need
    4 integers, not 10^7..10^8 Arrow pair rows — measured at sf0.1 the
    cross layout emits 100M+ hit rows through Arrow + a JVM agg, all of
    which collapse to len(radii) longs per cell here).

    Same pair semantics as ``ball_self_join`` + the caller's filter:
    every qualifying ordered pair is counted exactly once, in the cell
    where its dst is home. Distances are evaluated with the BLAS/GEMM
    form for every cell (the old pair stream used the cover-tree
    explicit-diff path for cells > brute_cutoff; both engines' bin
    edges are clearance-pinned orders of magnitude above the
    GEMM-vs-explicit evaluation skew — test_ripley_edge_clearance /
    test_cross_k_edge_clearance — so bin membership, hence every
    count, is identical), chunked so no dense matrix exceeds
    ``chunk_rows`` x |H|.

    Filters:
      src_mod2 / dst_mod2: keep pairs with src % 2 == src_mod2 (resp.
        dst % 2 == dst_mod2) — the parity-tagged cross-type selection
        (q_cross_k). These prune the kernel INPUTS (query rows to src
        parity — including the ghost stream, which halves the
        candidate shuffle — and home rows to dst parity), which is the
        bench-scale win: the per-cell GEMM shrinks by the parity-split
        product while the counted pair set is unchanged by
        construction (parities differ => src != dst holds for free).
      lt_only: keep src < dst (unordered pairs once — q_ripley_k).

    Returns a 1-row DataFrame (c0..c{m-1} bigint) of global counts
    (0 when a bin is empty)."""
    spark = points.sparkSession
    if stats is None:
        points = mark_releasable(points.persist())
        stats = cell_stats(points, d, cell_col, None)
    stats_bc = spark.sparkContext.broadcast(stats)
    radii = [float(r) for r in radii]
    rmax = radii[-1]
    m = len(radii)
    gsrc = points
    if src_mod2 is not None:
        gsrc = points.where(F.pmod(F.col("id"), F.lit(2)) == int(src_mod2))
    ghosts = replicate_ghosts(gsrc, stats_bc, rmax, cell_col)
    home_g = points.select(F.col(cell_col).alias("cell"), "id", "vec")
    schema = ", ".join(f"c{i} bigint" for i in range(m))

    def zeros_row() -> pd.DataFrame:
        return pd.DataFrame(
            {f"c{i}": pd.Series([0], dtype="int64") for i in range(m)}
        )

    def per_cell_counts(
        ghost_pdf: pd.DataFrame, home_pdf: pd.DataFrame
    ) -> pd.DataFrame:
        if home_pdf.empty:
            return zeros_row()
        H = vec_matrix(home_pdf)
        hid = home_pdf["id"].to_numpy()
        if ghost_pdf.empty:
            Q, qid = H, hid
        else:
            G = vec_matrix(ghost_pdf)
            Q = np.concatenate([H, G])
            qid = np.concatenate([hid, ghost_pdf["id"].to_numpy()])
        if src_mod2 is not None:
            kq = (qid % 2) == src_mod2
            Q, qid = Q[kq], qid[kq]
        if dst_mod2 is not None:
            kh = (hid % 2) == dst_mod2
            H, hid = H[kh], hid[kh]
        if not len(H) or not len(Q):
            return zeros_row()
        counts = np.zeros(m, np.int64)
        r2max = rmax * rmax
        for s in range(0, len(Q), chunk_rows):
            Qc = Q[s : s + chunk_rows]
            qc = qid[s : s + chunk_rows]
            d2 = ct.pairwise_sq_dists(Qc, H)
            qi, pi = np.nonzero(d2 <= r2max)
            if not len(qi):
                continue
            src = qc[qi]
            dst = hid[pi]
            keep = src != dst
            if lt_only:
                keep &= src < dst
            if not keep.any():
                continue
            di = np.sqrt(d2[qi[keep], pi[keep]])
            for i, r in enumerate(radii):
                counts[i] += int(np.count_nonzero(di <= r))
        return pd.DataFrame(
            {f"c{i}": pd.Series([counts[i]], dtype="int64") for i in range(m)}
        )

    per_cell_rows = (
        ghosts.groupby("cell")
        .cogroup(home_g.groupby("cell"))
        .applyInPandas(counted_fn(per_cell_counts), schema=schema)
    )
    return per_cell_rows.agg(
        *[F.sum(f"c{i}").cast("bigint").alias(f"c{i}") for i in range(m)]
    )


def brute_ball_join(points: DataFrame, radius: float) -> DataFrame:
    """Distributed brute-force oracle (reference 'bf' method,
    dist_point_vector.cpp:194-222): block-nested-loop via a broadcast
    of the full point set against streamed batches. Only for
    small-scale ground-truth checks."""
    spark = points.sparkSession
    pdf = points.select("id", "vec").toPandas()
    allX = vec_matrix(pdf)
    all_ids = pdf["id"].to_numpy()
    bc = spark.sparkContext.broadcast((allX, all_ids))

    def scan(batches):
        X, ids = bc.value
        for b in batches:
            if b.empty:
                continue
            Q = vec_matrix(b)
            qids = b["id"].to_numpy()
            d2 = ct.pairwise_sq_dists(Q, X)
            hit = d2 <= radius * radius
            qi, pi = np.nonzero(hit)
            src, dst = qids[qi], ids[pi]
            keep = src != dst
            yield pd.DataFrame(
                {"src": src[keep], "dst": dst[keep], "dist": np.sqrt(d2[hit][keep])}
            )

    return points.mapInPandas(counted_stream(scan), schema=EDGE_SCHEMA)
