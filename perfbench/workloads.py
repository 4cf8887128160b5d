"""The benchmark's workloads: generated table sizes, the prepared
layouts set up before timing, and the catalog queries run in a closed
loop (one query at a time, one caller)."""

from __future__ import annotations

from dataclasses import dataclass

from covertree_spark import queries as Q


# Generated table rows, the sf0.1 shape: at this size and above the
# queries are dispatch-bound on a 4-core host, so larger tables would buy
# run time, not coverage.
N_DOCS, N_EMB, N_EVENTS = 5000, 2000, 100_000


@dataclass(frozen=True)
class Workload:
    why: str
    layouts: tuple[str, ...]
    queries: tuple[str, ...]


# layout name -> (per-layer metric, catalog function that prepares and
# commits it)
LAYOUTS = {
    "geo": ("partition.layout_s.geo", Q._geo_points),
    "emb": ("partition.layout_s.emb", Q._emb_points),
}
# The warehouse cover-tree index over the geo layout. No workload query
# needs it, so only the traced run builds it, after the timed window.
INDEX = ("index.build_s.geo", Q._geo_index)

WORKLOADS = {
    "neighbors": Workload(
        why="cell layouts, ghosts and per-cell cover trees: 3-d and 64-d kNN "
            "self-joins at sf0.1 shape",
        layouts=("geo", "emb"),
        queries=("geo_knn", "emb_knn"),
    ),
    "analytics": Workload(
        why="dialed single-task kernels with no kNN work: n-gram Jaccard, "
            "minhash near-dup and user trips, at sf0.1 shape",
        layouts=(),
        queries=("ngram_jaccard", "minhash_neardup", "user_trips"),
    ),
}
