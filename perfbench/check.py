"""Correctness checks, run after the timed window.

Three kinds of ground truth:

* DuckDB running the catalog's own ``oracle_sql()`` over the same
  generated parquet (the repository's correctness gate);
* a blocked numpy brute force for the kNN family (the reference's
  ``bf``), where the DuckDB cross join is too slow at benchmark scale;
* exact shingle Jaccard for the rows-only minhash query.

Each check returns ``None`` when the result is right and a one-line
reason when it is not.
"""

from __future__ import annotations

import numpy as np

from covertree_spark import queries as Q

KNN_BLOCK = 512  # query rows per brute-force block


def _sorted_rows(tab) -> tuple[list[str], list[tuple]]:
    """An Arrow result as sorted tuples of Python values, columns in
    name order (the repository's oracle comparison)."""
    cols = sorted(tab.column_names)
    return cols, sorted(zip(*(tab.column(c).to_pylist() for c in cols)))


def _compare(cols: list[str], got: list[tuple], want: list[tuple]) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if got != want:
        bad = next(i for i, (g, w) in enumerate(zip(got, want)) if g != w)
        return f"row {bad} of {cols}: {got[bad]} != {want[bad]}"
    return None


class Checker:
    def __init__(self, con, data_dir: str):
        self.con = con
        for t in ("documents", "embeddings", "events"):
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')"
            )

    def check(self, name: str, tab) -> str | None:
        """Check one query's result, an Arrow table."""
        cols, got = _sorted_rows(tab)
        if name in BRUTE_FORCE:
            return BRUTE_FORCE[name](self, cols, got)
        if name in STRUCTURAL:
            return STRUCTURAL[name](self, cols, got)
        sql = Q.catalog()[name][1]
        if sql is None:
            raise KeyError(f"{name} has no oracle and no structural check")
        return self._oracle(cols, got, sql)

    def _oracle(self, cols: list[str], got: list[tuple], sql: str) -> str | None:
        res = self.con.sql(sql)
        names = [d[0] for d in res.description]
        if sorted(names) != cols:
            return f"columns {cols}, oracle has {sorted(names)}"
        order = [names.index(c) for c in cols]
        want = sorted(tuple(row[i] for i in order) for row in res.fetchall())
        return _compare(cols, got, want)

    # ---- brute-force kNN ----------------------------------------------------

    def _points(self, kind: str) -> tuple[np.ndarray, np.ndarray]:
        if kind == "geo":
            sql = f"{Q._PTS_CTE} SELECT id, x, y, z FROM xyz ORDER BY id"
            arr = self.con.sql(sql).fetchnumpy()
            return arr["id"], np.stack([arr["x"], arr["y"], arr["z"]], axis=1)
        tab = self.con.sql(
            "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
        ).fetchnumpy()
        vecs = np.stack(tab["embedding"]).astype(np.float64)
        return tab["vec_id"], vecs

    def knn(self, kind: str) -> set[tuple[int, int, int]]:
        """Exact (src, dst, rank) of the k nearest other points, ordered by
        (distance, id) — the oracle's ranking. Squared differences are
        summed dimension by dimension, the order the SQL oracle uses, so
        distances match it bit for bit."""
        k = Q.KNN_K
        ids, pts = self._points(kind)
        out = set()
        for lo in range(0, len(pts), KNN_BLOCK):
            blk = pts[lo:lo + KNN_BLOCK]
            d2 = np.zeros((len(blk), len(pts)))
            for j in range(pts.shape[1]):
                diff = blk[:, j:j + 1] - pts[None, :, j]
                d2 += diff * diff
            dist = np.sqrt(d2)
            dist[np.arange(len(blk)), lo + np.arange(len(blk))] = np.inf
            kth = np.partition(dist, k - 1, axis=1)[:, k - 1:k]
            r, c = np.nonzero(dist <= kth)  # ties at the k-th distance kept
            order = np.lexsort((c, dist[r, c], r))
            r, c = r[order], c[order]
            rank = np.arange(len(r)) - np.searchsorted(r, r, side="left") + 1
            keep = rank <= k
            out.update(zip(ids[lo + r[keep]].tolist(), ids[c[keep]].tolist(),
                           rank[keep].tolist()))
        return out

    def _knn_rows(self, kind: str, cols: list[str], got: list[tuple]) -> str | None:
        if cols != ["dst", "rank", "src"]:
            return f"columns {cols}"
        want = sorted((d, r, s) for s, d, r in self.knn(kind))
        return _compare(cols, got, want)

    # ---- rows-only minhash: every pair verified exactly ---------------------

    def _shingles(self) -> dict[int, set[str]]:
        docs = self.con.sql("SELECT doc_id, text FROM documents").fetchall()
        out = {}
        for doc_id, text in docs:
            toks = text.split()
            out[doc_id] = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        return out

    def _minhash(self, cols: list[str], got: list[tuple]) -> str | None:
        if cols != ["a", "b", "inter", "uni"]:
            return f"columns {cols}"
        if not got:
            return "no near-duplicate pairs"
        sh = self._shingles()
        seen = set()
        for a, b, inter, uni in got:
            if a >= b or (a, b) in seen:
                return f"pair ({a}, {b}) repeated or not ordered"
            seen.add((a, b))
            i = len(sh[a] & sh[b])
            u = len(sh[a] | sh[b])
            if (i, u) != (inter, uni):
                return f"pair ({a}, {b}): inter/uni {inter}/{uni}, exact {i}/{u}"
            if 100 * i < Q.JACCARD_PCT * u:
                return f"pair ({a}, {b}) below {Q.JACCARD_PCT}% Jaccard"
        return None


BRUTE_FORCE = {
    "geo_knn": lambda c, cols, got: c._knn_rows("geo", cols, got),
    "emb_knn": lambda c, cols, got: c._knn_rows("emb", cols, got),
}
STRUCTURAL = {"minhash_neardup": Checker._minhash}
