"""Lloyd k-means over an embedding column + SemDeDup-style semantic
deduplication — the embedding-space curation pass of a training-data
pipeline (cluster the corpus, then drop near-duplicate semantics
WITHIN each cluster; Abbas et al., "SemDeDup", arXiv:2303.09540).

Both are genuinely iterative / per-group-quadratic — the catalog's
no-oracle tier (pytest parity vs driver-side numpy references pins
exactness; the driver records rows-only).

Determinism contract (so reruns and tests are bit-stable):
  * init centers  = vectors of the k smallest ids (no RNG);
  * assignment    = argmin of FLOAT64 squared distance, ties to the
                    smallest center index (numpy argmin order);
  * empty cluster = keeps its previous center;
  * semdedup keep = a doc is dropped iff some SMALLER-id doc in the
                    same cluster has cosine >= tau with it (order-free
                    rule — no scan-order dependence).

Physical plan (Spark-first): centers are k x d floats — broadcast
every iteration, never shuffled. Assignment is one Arrow-batched
mapInPandas GEMM per iteration; the center update is a per-batch
partial (sum, count) reduce collected to the driver (k x d doubles
per batch — an aggregate, not data). Total per iteration: one scan of
the persisted points, ZERO shuffles. SemDeDup shuffles the corpus
once, keyed on the final cluster id, and runs the quadratic kernel
per cluster via applyInPandas — per-task memory is bounded by the
largest cluster, the documented contract (pathological clusters are
what ``hot_cap`` splitting upstream is for).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.session import mark_releasable
from ..sources.tables import vec_matrix


def _init_centers(points: DataFrame, k: int) -> np.ndarray:
    rows = (
        points.select("id", "vec")
        .orderBy("id")
        .limit(k)
        .collect()
    )
    return np.array([r["vec"] for r in rows], dtype=np.float64)


def lloyd_kmeans(
    points: DataFrame, k: int, iters: int = 8
) -> tuple[DataFrame, np.ndarray]:
    """``iters`` Lloyd iterations over ``points`` (id, vec).

    Returns (assignment DataFrame (id, cluster), final centers
    [k x d float64]). cluster = center index 0..k-1 under the
    deterministic init order.
    """
    pts = mark_releasable(points.select("id", "vec").persist())
    centers = _init_centers(pts, k)

    def partials_fn(C: np.ndarray):
        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            s = np.zeros_like(C)
            n = np.zeros(len(C), dtype=np.int64)
            for pdf in batches:
                if pdf.empty:
                    continue
                X = vec_matrix(pdf).astype(np.float64)
                # argmin over ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2;
                # ||x||^2 is constant per row -> drop it
                a = np.argmin(
                    (C * C).sum(1)[None, :] - 2.0 * (X @ C.T), axis=1
                )
                np.add.at(s, a, X)
                np.add.at(n, a, 1)
            yield pd.DataFrame(
                {
                    "cluster": np.arange(len(C), dtype=np.int64),
                    "s": list(s),
                    "n": n,
                }
            )

        return partials

    d = centers.shape[1]
    for _ in range(iters):
        part = pts.mapInPandas(
            partials_fn(centers),
            schema="cluster bigint, s array<double>, n bigint",
        ).collect()
        s = np.zeros((k, d), dtype=np.float64)
        n = np.zeros(k, dtype=np.int64)
        for r in part:
            s[r["cluster"]] += np.asarray(r["s"])
            n[r["cluster"]] += r["n"]
        nz = n > 0
        centers = centers.copy()
        centers[nz] = s[nz] / n[nz, None]

    C = centers

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = vec_matrix(pdf).astype(np.float64)
            a = np.argmin((C * C).sum(1)[None, :] - 2.0 * (X @ C.T), axis=1)
            yield pd.DataFrame({"id": pdf["id"], "cluster": a})

    out = pts.mapInPandas(assign, schema="id bigint, cluster bigint")
    return out, centers


def semdedup_keep(
    points: DataFrame, k: int, tau: float, iters: int = 8
) -> DataFrame:
    """SemDeDup keep-set over UNIT vectors (id, vec): k-means into k
    clusters, then within each cluster drop every doc having a
    SMALLER-id member with cosine >= tau. Returns (id) — the kept
    representatives. One cluster-keyed shuffle; the quadratic check
    runs per cluster (GEMM over the cluster block)."""
    assign, _ = lloyd_kmeans(points, k, iters=iters)
    clustered = points.select("id", "vec").join(assign, "id")

    def keep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        X = vec_matrix(pdf).astype(np.float64)
        G = X @ X.T
        # drop i iff exists j < i with cos >= tau
        m = np.triu(G >= tau, 1).any(axis=0)
        return pdf.loc[~m, ["id"]]

    return clustered.groupBy("cluster").applyInPandas(
        keep, schema="id bigint"
    )
