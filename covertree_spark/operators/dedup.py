"""Deduplication operators over the ``documents`` table — exact,
n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale notes (the 100 TB story):
  * exact_dedup        — single hash-shuffle groupBy on the text (at
                         real scale: groupBy on a 128-bit content hash
                         so the shuffle carries 16 bytes, not the text;
                         both shapes are implemented).
  * ngram_jaccard      — shingle -> explode -> self-equi-join on
                         shingle -> pair-count aggregation. All
                         built-in shuffle joins; prefiltered by
                         requiring a shared shingle, so complexity
                         tracks true-near-dup density, not n^2.
  * minhash_lsh        — signature per doc (numpy, engine-neutral
                         hashes) -> band buckets -> candidate pairs via
                         equi-join on (band, bucket) -> exact-Jaccard
                         verification of candidates only. The standard
                         web-dedup plan.
  * simhash            — 64-bit signature, Hamming-ball candidates via
                         4x16-bit chunk banding (exact for distance<=3
                         by pigeonhole... chunk count > max distance).
  * embedding near-dup — cosine >= tau pairs; JVM-side zip_with dot
                         products over a broadcast-sized self-join at
                         test scale (LSH-bucketed variant in
                         similarity.py for the scale path).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    hash_tokens,
    mod_mersenne31,
    mod_mersenne61,
    shingle_hashes_flat,
)
from .ball_join import ball_self_join


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Duplicate-text groups: (keeper_id, dup_count) per distinct text.
    keeper = min doc_id. One hash-aggregate with map-side partials;
    the group key is the 256-bit content hash, so the shuffle carries
    32 bytes per distinct text instead of the text itself (collision
    probability ~ n^2 / 2^257 — zero at any realistic scale; the
    pytest oracle groups by the raw text and must agree)."""
    return docs.groupBy(F.sha2(F.col("text"), 256).alias("_h")).agg(
        F.min("doc_id").alias("keeper_id"),
        F.count("*").alias("dup_count"),
    ).select("keeper_id", "dup_count")


def exact_dedup_keep(docs: DataFrame) -> DataFrame:
    """The deduplicated id set (doc_id of one representative per text)."""
    return (
        docs.groupBy(F.sha2(F.col("text"), 256).alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


def normalized_dedup_groups(docs: DataFrame) -> DataFrame:
    """Normalization-invariant exact dedup: case-fold + collapse runs
    of whitespace + trim BEFORE hashing, so near-identical crawls of
    the same page (casing / formatting deltas only) collapse into one
    group — the standard first pass of a web-dedup pipeline (cheaper
    than any similarity join, catches the bulk of crawl dups).
    Same plan shape and keeper rule as ``exact_dedup_groups``: one
    hash-aggregate on the 256-bit hash of the normalized text, 32-byte
    shuffle keys, map-side partials."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        docs.groupBy(F.sha2(norm, 256).alias("_h"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("dup_count"),
        )
        .select("keeper_id", "dup_count")
    )


def tokens_df(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.split(F.trim(F.col("text")), "[ ]+").alias("toks")
    )


def _shingle_arr(n: int):
    """The distinct word-n-gram array expression over ``toks`` —
    shared by the exploded stream and the per-doc size projection so
    both are ONE definition."""
    return F.when(
        F.size("toks") >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(F.col("toks"), i + j + 1) for j in range(n)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))  # short docs: no shingles,
    # matching the SQL oracle's empty generate_series


def shingles_df(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).
    Built-in transform over the token array — JVM-side."""
    return tokens_df(docs).select(
        "doc_id", F.explode(_shingle_arr(n)).alias("shingle")
    )


def shingle_counts_df(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sz): per-doc DISTINCT shingle count as a pure scan
    projection — size(array_distinct(...)) over the same shared array
    expression, so it equals counting shingles_df's exploded rows
    without the explode + per-doc aggregation shuffle (guide §2.3)."""
    return tokens_df(docs).select(
        "doc_id", F.size(_shingle_arr(n)).alias("sz")
    )


# Data-adaptive dial for the posting-list Jaccard (the components.py
# discipline): both quantities are MEASURED on the cached posting
# lists before choosing, so the small task's footprint is a proved
# bound, not a guess. At the cutoffs the one bounded task holds
# <= 32M (a, b) int64 pairs + a two-key lexsort (~1.2 GB transient)
# and <= 8M membership rows — trivial against the 128 GiB host class,
# and any 100 TB corpus blows past both probes onto the distributed
# expansion.
_JACCARD_SMALL_PAIRS = 32_000_000
_JACCARD_SMALL_ROWS = 8_000_000


def _jaccard_emit(members: np.ndarray, run_lens: np.ndarray, pct: int):
    """Shared small-path tail: ``members`` is the concatenation of the
    SURVIVING posting lists (each list's doc ids sorted ascending and
    unique within the list), ``run_lens`` the list lengths. Expands
    every list's i<j pairs grouped by list length (one matrix reshape
    per distinct length — max_df bounds the group count), counts
    identical pairs, derives per-doc rare sizes as membership counts
    over the same lists, and returns the filtered (a, b, inter, uni)
    frame (or None). Pure integer set arithmetic — identical output
    to the distributed expansion."""
    import pandas as pd

    if not len(members):
        return None
    uniq_docs, sz = np.unique(members, return_counts=True)
    run_starts = np.r_[0, np.cumsum(run_lens)[:-1]]
    pair_a: list[np.ndarray] = []
    pair_b: list[np.ndarray] = []
    for m in np.unique(run_lens):
        if m < 2:
            continue
        sel = run_starts[run_lens == m]
        mat = members[sel[:, None] + np.arange(int(m))]
        iu, ju = np.triu_indices(int(m), 1)
        pair_a.append(mat[:, iu].ravel())
        pair_b.append(mat[:, ju].ravel())
    if not pair_a:
        return None
    a = np.concatenate(pair_a)
    b = np.concatenate(pair_b)
    order = np.lexsort((b, a))
    a, b = a[order], b[order]
    new = np.r_[True, (a[1:] != a[:-1]) | (b[1:] != b[:-1])]
    starts = np.flatnonzero(new)
    ua, ub = a[starts], b[starts]
    inter = np.diff(np.r_[starts, len(a)])
    sza = sz[np.searchsorted(uniq_docs, ua)]
    szb = sz[np.searchsorted(uniq_docs, ub)]
    uni = sza + szb - inter
    hit = 100 * inter >= pct * uni
    if not hit.any():
        return None
    return pd.DataFrame(
        {
            "a": ua[hit],
            "b": ub[hit],
            "inter": inter[hit].astype(np.int64),
            "uni": uni[hit].astype(np.int64),
        }
    )


_JACCARD_SCHEMA = "a bigint, b bigint, inter bigint, uni bigint"


def _jaccard_pairs_small(lists: DataFrame, min_jaccard_pct: int) -> DataFrame:
    """Bounded single-task Jaccard over surviving posting lists
    (``ds`` sorted doc-id arrays) — see ``_jaccard_emit``."""
    import pandas as pd

    pct = int(min_jaccard_pct)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        blocks = [pdf for pdf in batches if not pdf.empty]
        if not blocks:
            return
        ds = [
            np.asarray(v, dtype=np.int64)
            for pdf in blocks
            for v in pdf["ds"]
        ]
        ds = [v for v in ds if len(v)]
        if not ds:
            return
        members = np.concatenate(ds)
        lens = np.fromiter((len(v) for v in ds), np.int64, len(ds))
        out = _jaccard_emit(members, lens, pct)
        if out is not None:
            yield out

    return lists.coalesce(1).mapInPandas(run, schema=_JACCARD_SCHEMA)


def _jaccard_docs_gate(docs: DataFrame, n: int, max_df: int | None):
    """Direct-from-docs small-path gate: with a df cut, surviving pair
    volume is bounded by n_rows * (max_df - 1) / 2 WITHOUT building
    the posting lists, so a doc-count gate (``docs.count()``, one full
    count job) plus one scan-projection probe (sum of per-doc distinct
    shingle counts — no shuffle) can justify skipping the
    groupBy(shingle) exchange entirely. Any 100 TB corpus fails the
    doc-count gate before the probe scan is even submitted. Returns
    the (doc_id, sharr) frame when the bounds hold, else None."""
    if max_df is None:
        return None
    n_docs = docs.count()
    if n_docs > _JACCARD_SMALL_ROWS:
        return None
    # token-count bound, NOT the distinct-shingle count: per doc,
    # distinct shingles <= max(tokens - n + 1, 0), so this probe needs
    # no n-gram construction or dedup — a third of the scan cost of
    # sizing the real shingle arrays, and still a proved upper bound.
    n_rows = int(
        tokens_df(docs)
        .agg(
            F.coalesce(
                F.sum(F.greatest(F.size("toks") - (n - 1), F.lit(0))),
                F.lit(0),
            )
        )
        .collect()[0][0]
    )
    if (
        n_rows > _JACCARD_SMALL_ROWS
        or n_rows * (max_df - 1) // 2 > _JACCARD_SMALL_PAIRS
    ):
        return None
    return tokens_df(docs).select("doc_id", _shingle_arr(n).alias("sharr"))


def _docs_kernel_pairs(blocks, cut: int, pct: int):
    """Shared direct-from-docs kernel core: factorize the shingle
    strings of the collected (doc_id, sharr) blocks, rebuild the
    per-shingle posting lists via one (code, doc) lexsort, apply the
    df cut per run, and return (all_doc_ids, jaccard_pairs_df_or_None)
    — the pair set is exactly ``_jaccard_emit`` over the surviving
    lists."""
    doc_ids: list[np.ndarray] = []
    arrs: list[np.ndarray] = []
    for pdf in blocks:
        doc_ids.append(pdf["doc_id"].to_numpy(np.int64))
        arrs.extend(pdf["sharr"])
    all_ids = np.concatenate(doc_ids)
    lens = np.fromiter((len(v) for v in arrs), np.int64, len(arrs))
    if int(lens.sum()) == 0:
        return all_ids, None
    docs_flat = np.repeat(all_ids, lens)
    flat = np.concatenate([np.asarray(v, dtype=object) for v in arrs if len(v)])
    codes, _ = pd.factorize(flat)
    order = np.lexsort((docs_flat, codes))
    c, d = codes[order], docs_flat[order]
    run_starts = np.flatnonzero(np.r_[True, c[1:] != c[:-1]])
    run_lens = np.diff(np.r_[run_starts, len(c)])
    kept = run_lens <= cut
    members = d[np.repeat(kept, run_lens)]
    return all_ids, _jaccard_emit(members, run_lens[kept], pct)


def _jaccard_pairs_small_docs(
    doc_sh: DataFrame, max_df: int, min_jaccard_pct: int
) -> DataFrame:
    """Bounded single-task Jaccard DIRECTLY from per-doc distinct
    shingle arrays (doc_id, sharr) — skips the groupBy(shingle)
    posting-list shuffle entirely when the probed shingle-row bound
    fits one task. The posting lists are rebuilt in-kernel: factorize
    the shingle strings, lexsort (code, doc) — runs are the per-
    shingle doc lists, sorted and unique exactly as array_sort +
    collect_list produced them — apply the df cut per run, then the
    shared ``_jaccard_emit`` tail. String identity (pandas factorize)
    matches the JVM groupBy's string equality — no hashing anywhere,
    so the output is bit-identical to the distributed path."""
    import pandas as pd

    pct = int(min_jaccard_pct)
    cut = int(max_df)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        blocks = [pdf for pdf in batches if not pdf.empty]
        if not blocks:
            return
        _ids, out = _docs_kernel_pairs(blocks, cut, pct)
        if out is not None:
            yield out

    return doc_sh.coalesce(1).mapInPandas(run, schema=_JACCARD_SCHEMA)


def _neardup_groups_small(
    doc_sh: DataFrame, max_df: int, min_jaccard_pct: int
) -> DataFrame:
    """Fused bounded single-task near-dup clustering: the direct
    Jaccard kernel's pair output feeds the components union-find
    (the identical ``_uf_min_labels`` the distributed small path
    runs) inside the SAME task, and every input doc labels itself as
    a singleton unless an edge relabels it — eliminating the separate
    canonical-edge distinct, localCheckpoint, convergence-signature
    and node-join jobs. Output (doc_id, group_id, is_keeper), exactly
    connected-components min-id labels."""
    from .components import _uf_min_labels

    pct = int(min_jaccard_pct)
    cut = int(max_df)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        blocks = [pdf for pdf in batches if not pdf.empty]
        if not blocks:
            return
        all_ids, out = _docs_kernel_pairs(blocks, cut, pct)
        label = all_ids.copy()
        if out is not None and len(out):
            ids, lab = _uf_min_labels(
                out["a"].to_numpy(np.int64), out["b"].to_numpy(np.int64)
            )
            pos = np.searchsorted(np.sort(all_ids), ids)
            order = np.argsort(all_ids, kind="stable")
            label[order[pos]] = lab
        yield pd.DataFrame(
            {
                "doc_id": all_ids,
                "group_id": label,
                "is_keeper": (all_ids == label).astype(np.int64),
            }
        )

    return doc_sh.coalesce(1).mapInPandas(
        run, schema="doc_id bigint, group_id bigint, is_keeper bigint"
    )


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, min_jaccard_pct: int = 50,
    max_df: int | None = None,
) -> DataFrame:
    """Pairs (a, b, inter, uni) with a < b and
    ``100*inter >= min_jaccard_pct * uni`` over distinct word n-gram
    shingles. Integer-only outputs -> exact oracle comparison.

    ``max_df``: drop shingles whose document frequency exceeds it
    BEFORE pair expansion — standard web-dedup practice (a boilerplate
    shingle shared by 10^6 docs otherwise makes 10^12 pair rows; the
    reference's load-balance analog is LPT + hub splitting,
    dist_point_vector.cpp:656-696). The Jaccard is then DEFINED over
    the rare-shingle sets (sizes and intersections both filtered), so
    the SQL oracle expresses the identical rule. None = exact
    unfiltered semantics (the minhash verification oracle).

    Physical plan (r6, guide §2.4 remove-shuffles): ONE groupBy(shingle)
    builds the per-shingle SORTED doc-id posting list alongside the df
    count, persisted and materialized once. A free probe on the cached
    frame (sum df / sum C(df,2) over surviving lists) then picks the
    regime — the components.py data-adaptive dial:

      * small (probed pair volume under ``_JACCARD_SMALL_PAIRS`` and
        membership under ``_JACCARD_SMALL_ROWS`` — a bounded-task
        guarantee, not a guess): ONE numpy task expands every
        surviving list's i<j pairs (grouped by list length — max_df
        bounds it — so the expansion is a handful of matrix reshapes),
        computes per-doc rare sizes as membership counts over the same
        lists, and emits the filtered Jaccard rows directly. The JVM
        Generate this replaces was the measured bottleneck (~1M
        struct rows/s through flatten/transform/slice; the kernel does
        the same expansion in <0.1s). sz(doc) = number of surviving
        lists containing doc == the distributed path's "total distinct
        minus dropped membership" arithmetic, integer-exact.
      * distributed (any 100 TB corpus): the a<b pair stream is a JVM
        higher-order expansion of each surviving list (i<j over an
        id-sorted array == the old x.doc_id < y.doc_id
        equi-self-join, pair for pair), aggregated by pair; per-doc
        rare-shingle sizes come from the scan-projection total minus
        membership in the few dropped lists. Unchanged from the shape
        that replaced r5's dictionary-encode + sid self-join pipeline.

    Both regimes produce identical row sets (pinned by
    tests/test_dedup_r6.py parity on forced paths + the sf0.01
    oracle). Skew contract unchanged: transient posting-list size is
    O(max df) longs per group, and the pair explosion stays bounded by
    max_df^2 per shingle because the cut applies before expansion."""
    from ..plans.session import mark_releasable

    doc_sh = _jaccard_docs_gate(docs, n, max_df)
    if doc_sh is not None:
        return _jaccard_pairs_small_docs(doc_sh, max_df, min_jaccard_pct)

    sh = shingles_df(docs, n)
    grp_all = sh.groupBy("shingle").agg(
        F.count("*").alias("df"),
        F.array_sort(F.collect_list("doc_id")).alias("ds"),
    )
    grp_all = mark_releasable(grp_all.persist())
    kept_pred = (
        F.col("df") <= max_df if max_df is not None else F.lit(True)
    )
    probe = grp_all.agg(
        F.coalesce(F.sum(F.when(kept_pred, F.col("df"))), F.lit(0)).alias("s"),
        F.coalesce(
            F.sum(
                F.when(kept_pred, F.col("df") * (F.col("df") - 1) / 2)
            ).cast("bigint"),
            F.lit(0),
        ).alias("p"),
    ).collect()[0]
    n_rows, n_pairs = int(probe["s"]), int(probe["p"])
    keep = grp_all.filter(kept_pred) if max_df is not None else grp_all

    if n_pairs <= _JACCARD_SMALL_PAIRS and n_rows <= _JACCARD_SMALL_ROWS:
        return _jaccard_pairs_small(keep.select("ds"), min_jaccard_pct)

    # per-doc RARE-shingle sizes: the total distinct count is a pure
    # scan projection (shingle_counts_df — no O(shingle rows) explode
    # + re-aggregation shuffle, guide §2.3); with a df cut, subtract
    # each doc's membership in the DROPPED lists (usually none — the
    # cut exists for boilerplate outliers), which re-explodes only
    # those few lists.
    sizes = shingle_counts_df(docs, n)
    if max_df is not None:
        dropped_n = (
            grp_all.filter(F.col("df") > max_df)
            .select(F.explode("ds").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("_dn"))
        )
        sizes = sizes.join(dropped_n, "doc_id", "left").select(
            "doc_id",
            (F.col("sz") - F.coalesce("_dn", F.lit(0))).alias("sz"),
        )
    pair_arr = F.expr(
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS a, y AS b))))"
    )
    pairs = (
        keep.select(F.explode(pair_arr).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
        .withColumn("uni", F.col("sza") + F.col("szb") - F.col("inter"))
        .filter(F.lit(100) * F.col("inter") >= F.lit(min_jaccard_pct) * F.col("uni"))
        .select("a", "b", "inter", "uni")
    )


def sql_ngram_jaccard_pairs(
    n: int = 3, min_jaccard_pct: int = 50, table="documents",
    max_df: int | None = None,
) -> str:
    df_filter = (
        f""", dfq AS (
  SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= {max_df}
), sh AS (
  SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN dfq USING (shingle)
)"""
        if max_df is not None
        else ", sh AS (SELECT * FROM sh0)"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '[ ]+') AS t FROM {table}
), sh0 AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - {n - 1}),
                               i -> array_to_string(t[i:i+{n - 1}], ' '))) AS shingle
  FROM toks
){df_filter}, sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b, inter, sa.sz + sb.sz - inter AS uni
FROM pairs JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
WHERE 100 * inter >= {min_jaccard_pct} * (sa.sz + sb.sz - inter)
"""


def neardup_groups(
    docs: DataFrame,
    n: int = 3,
    min_jaccard_pct: int = 50,
    max_df: int | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate CLUSTERS + canonical-document selection — the
    step a training-data pipeline actually runs on the pair output:
    connected components of the exact-Jaccard near-dup graph
    (``ngram_jaccard_pairs``), one row per document:

      (doc_id, group_id, is_keeper)

    group_id = MIN doc_id in the near-dup cluster (singletons are
    their own group), is_keeper = 1 iff this doc is the cluster
    minimum — the deterministic "keep one representative per cluster"
    rule (same keeper convention as ``exact_dedup_groups``). Integer
    columns only.

    ``pairs``: pass a precomputed (a, b, ...) pair frame (e.g. the
    verified output of the MinHash path) to cluster it instead of
    recomputing the exact pairs.

    Scale: the pair graph is near-dup-sparse by construction (the
    max_df cut bounds per-shingle fan-out); components run in
    O(log^2 n) key-partitioned rounds (operators/components.py) — no
    driver state, no broadcast of anything data-sized.
    """
    from .components import connected_components

    if pairs is None:
        # fused small path (r6): when the direct-from-docs Jaccard
        # gate holds, pairs + union-find + singleton labels run in ONE
        # bounded task (see _neardup_groups_small) instead of the pair
        # kernel followed by the components job chain.
        doc_sh = _jaccard_docs_gate(docs, n, max_df)
        if doc_sh is not None:
            return _neardup_groups_small(doc_sh, max_df, min_jaccard_pct)
        pairs = ngram_jaccard_pairs(
            docs, n=n, min_jaccard_pct=min_jaccard_pct, max_df=max_df
        )
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    nodes = docs.select(F.col("doc_id").alias("id"))
    comp = connected_components(edges, nodes=nodes)
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("group_id"),
        (F.col("id") == F.col("component")).cast("bigint").alias("is_keeper"),
    )


def sql_neardup_groups(
    n: int = 3, min_jaccard_pct: int = 50, table: str = "documents",
    max_df: int | None = None,
) -> str:
    """DuckDB oracle: the exact pair query as a subselect, symmetrized,
    then transitive closure by recursive CTE seeded with EVERY doc
    (singletons label themselves)."""
    inner = sql_ngram_jaccard_pairs(
        n=n, min_jaccard_pct=min_jaccard_pct, table=table, max_df=max_df
    )
    return (
        f"WITH RECURSIVE pr AS (SELECT a, b FROM ({inner}) _p), "
        "e AS (SELECT a AS src, b AS dst FROM pr "
        "UNION ALL SELECT b AS src, a AS dst FROM pr), "
        f"reach AS (SELECT doc_id AS node, doc_id AS label FROM {table} "
        "UNION SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.node) "
        "SELECT node AS doc_id, MIN(label) AS group_id, "
        "CAST(CASE WHEN node = MIN(label) THEN 1 ELSE 0 END AS BIGINT) AS is_keeper "
        "FROM reach GROUP BY node"
    )


def char_ngram_pairs(
    docs: DataFrame,
    length: int = 40,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """ExactSubstr-style duplication candidates (Lee et al., "
    Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499, §ExactSubstr): pairs (a, b, shared) with a < b
    and ``shared`` = number of DISTINCT character ``length``-grams the
    two documents have in common, kept when shared >= min_shared. A
    shared char-L-gram IS a shared substring of length L, so this is
    the equi-join rendering of suffix-array substring dedup —
    candidates track true copied-text density, never n^2.

    ``max_df`` drops grams whose document frequency exceeds it before
    the self-join (boilerplate guard — same role and same definition
    change as ngram_jaccard_pairs' cut; the oracle applies the
    identical rule). Integer-only output.

    Scale: gram explode -> distinct -> df cut -> self-equi-join on the
    gram -> pair-count aggregate; all built-in shuffle joins keyed on
    the gram. At 10^12 docs the join key would be xxhash64(gram)
    (8-byte shuffle keys, collisions ~n^2/2^64 only affect candidate
    RECALL padding, never the verify stage); the catalog entry joins
    on the raw gram so the oracle comparison is exact by construction.
    """
    from ..plans.session import mark_releasable

    grams_arr = F.when(
        F.length("text") >= length,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - length + 1),
                lambda i: F.col("text").substr(i, F.lit(length)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = mark_releasable(
        docs.select("doc_id", F.explode(grams_arr).alias("g")).persist()
    )
    if max_df is not None:
        keep = (
            grams.groupBy("g")
            .agg(F.count("*").alias("_d"))
            .where(F.col("_d") <= int(max_df))
            .select("g")
        )
        grams = grams.join(keep, "g")
    a = grams.select(F.col("doc_id").alias("a"), "g")
    b = grams.select(F.col("doc_id").alias("b"), "g")
    return (
        a.join(b, "g")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= int(min_shared))
    )


def sql_char_ngram_pairs(
    length: int = 40,
    min_shared: int = 2,
    max_df: int | None = None,
    table: str = "documents",
) -> str:
    """DuckDB oracle: identical gram rule (1-based substr over
    range(1, len-L+2), DISTINCT per doc), identical df cut, pair
    count by equi-join."""
    df_cut = (
        f", dfq AS (SELECT g, count(*) AS d FROM grams GROUP BY g), "
        f"keep AS (SELECT g FROM dfq WHERE d <= {max_df})"
        if max_df is not None
        else ""
    )
    join_keep = " JOIN keep k ON k.g = a.g" if max_df is not None else ""
    return (
        "WITH grams AS (SELECT DISTINCT doc_id, "
        f"unnest(list_transform(range(1, greatest(len(text) - {length} + 2, 1)), "
        f"i -> substr(text, i, {length}))) AS g FROM {table})"
        f"{df_cut} "
        "SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared "
        f"FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id{join_keep} "
        f"GROUP BY 1, 2 HAVING count(*) >= {min_shared}"
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    overlap_pct: int = 50,
) -> DataFrame:
    """Benchmark DECONTAMINATION: the training-corpus ids that survive
    both leakage gates against an eval set (the GPT-3 appendix-C /
    PaLM n-gram contamination rule, public):

      exact    — drop docs whose text equals any eval doc's
                 (anti-join on the 256-bit content hash, 32-byte keys);
      n-gram   — drop docs where >= ``overlap_pct``% of their distinct
                 word n-gram shingles appear in ANY eval doc.

    The eval side is BROADCAST twice (hash set, then shingle set) —
    eval sets are small by nature (10^3-10^5 docs), so at 100 TB the
    corpus is touched in two scan-local passes with zero corpus
    shuffle beyond the per-doc hit aggregate (map-side combined on
    doc_id, which lives in the scan partitioning). A corpus-scale
    contamination source would swap the broadcast for a bloom-filter
    prefilter + equi-join; the rule is unchanged.

    Docs with fewer than ``n`` tokens carry no shingles and pass the
    n-gram gate (no evidence — same convention as shingles_df).
    Integer cross-multiplied threshold; outputs are ids only."""
    eval_h = eval_docs.select(F.sha2(F.col("text"), 256).alias("_h")).distinct()
    corp = docs.join(
        F.broadcast(eval_h),
        F.sha2(F.col("text"), 256) == F.col("_h"),
        "left_anti",
    )
    eval_sh = shingles_df(eval_docs, n).select("shingle").distinct()
    # ONE corpus-shingle pass (r6): a left join against the broadcast
    # DISTINCT eval shingles marks hits without multiplying rows, so
    # per-doc size and hit count come from the same aggregate — the
    # previous shape scanned (tokenize + shingle) the corpus twice,
    # once per branch.
    marked = shingles_df(corp, n).join(
        F.broadcast(eval_sh.withColumn("_hit", F.lit(1))), "shingle", "left"
    )
    agg = marked.groupBy("doc_id").agg(
        F.count("*").alias("sz"),
        F.coalesce(F.sum("_hit"), F.lit(0)).alias("hits"),
    )
    contaminated = agg.filter(
        (F.col("hits") > 0)  # the old inner hit-join's implicit >= 1
        & (F.lit(100) * F.col("hits") >= F.lit(overlap_pct) * F.col("sz"))
    ).select("doc_id")
    return corp.select("doc_id").join(contaminated, "doc_id", "left_anti")


def sql_decontaminate(
    eval_pred: str, n: int = 3, overlap_pct: int = 50, table: str = "documents"
) -> str:
    """Oracle: same rule, structure-free — raw-text equality for the
    exact gate (hash equality <=> text equality; the engine's 256-bit
    hash keying is pinned separately by the exact-dedup pytest oracle)
    and a plain shingle join for the n-gram gate. ``eval_pred`` is a
    SQL predicate over ``documents`` selecting the eval set."""
    return f"""
WITH ev AS (
  SELECT * FROM {table} WHERE {eval_pred}
), corp AS (
  SELECT d.* FROM {table} d
  WHERE NOT ({eval_pred.replace('doc_id', 'd.doc_id')})
    AND NOT EXISTS (SELECT 1 FROM ev e WHERE e.text = d.text)
), csh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - {n - 1}),
                               i -> array_to_string(t[i:i+{n - 1}], ' '))) AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '[ ]+') AS t FROM corp)
), esh AS (
  SELECT DISTINCT
         unnest(list_transform(generate_series(1, len(t) - {n - 1}),
                               i -> array_to_string(t[i:i+{n - 1}], ' '))) AS shingle
  FROM (SELECT regexp_split_to_array(trim(text), '[ ]+') AS t FROM ev)
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM csh GROUP BY doc_id
), hits AS (
  SELECT c.doc_id, count(*) AS hits FROM csh c JOIN esh USING (shingle)
  GROUP BY c.doc_id
), flagged AS (
  SELECT s.doc_id FROM sizes s JOIN hits h USING (doc_id)
  WHERE 100 * h.hits >= {overlap_pct} * s.sz
)
SELECT doc_id FROM corp
WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
"""


# ---- MinHash + LSH ----------------------------------------------------------

_MH_PRIME = (1 << 61) - 1


def _mh_params(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """Honest universal family: shingle hashes are first reduced mod
    p31 = 2^31-1, then permuted with (a*h' + b) mod (2^61-1) where
    a < 2^31 — every product is < 2^62, so uint64 arithmetic computes
    the mod-p value EXACTLY (round-1 ADVICE: the old 61-bit inputs
    silently wrapped mod 2^64 before the reduction)."""
    from ..functions.text import _MH_PRIME31

    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MH_PRIME31, size=num_perm, dtype=np.uint64)
    b = rng.integers(0, _MH_PRIME, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_signatures(
    docs: DataFrame, n: int = 3, num_perm: int = 64, seed: int = 42
) -> DataFrame:
    """(doc_id, sig ARRAY<BIGINT>) — minhash over word-n-gram shingle
    hashes. Fully vectorized per Arrow batch: one flat token-hash
    array, sliding-window shingle combine, per-doc segment minima via
    ``np.minimum.reduceat`` — no per-document Python loop.

    Documents with fewer than ``n`` tokens yield no shingles and are
    OMITTED (same convention as the JVM shingles_df path, so LSH and
    exact verification agree on participation)."""
    a, b = _mh_params(num_perm, seed)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            offs, sh = shingle_hashes_flat(pdf["text"].tolist(), n)
            counts = np.diff(offs)
            live = np.flatnonzero(counts > 0)
            if not len(live):
                continue
            # per-doc unique shingle hashes (matches array_distinct in
            # shingles_df): sort (doc, hash) pairs, drop repeats
            doc_of = np.repeat(np.arange(len(counts)), counts)
            order = np.lexsort((sh, doc_of))
            ds, hs = doc_of[order], sh[order]
            keep = np.r_[True, (ds[1:] != ds[:-1]) | (hs[1:] != hs[:-1])]
            ds, hs = ds[keep], hs[keep]
            # 31-bit domain -> a*h+b < 2^63, exact; Mersenne folds
            # instead of uint64 % (scalar-slow in numpy), and ONE
            # PERMUTATION AT A TIME: an (S, 64) value matrix means
            # ~130MB temporaries per elementwise op — catastrophically
            # memory-bound on this host class — while per-perm (S,)
            # vectors stay ~2MB (cache-resident)
            hp = mod_mersenne31(hs)
            starts = np.r_[0, np.flatnonzero(ds[1:] != ds[:-1]) + 1]
            sig = np.empty((len(starts), len(a)), dtype=np.int64)
            for j in range(len(a)):
                v = mod_mersenne61(a[j] * hp + b[j])
                sig[:, j] = np.minimum.reduceat(v, starts)
            uniq_docs = ds[starts]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy()[uniq_docs], "sig": list(sig)}
            )

    return docs.select("doc_id", "text").mapInPandas(
        gen, schema="doc_id bigint, sig array<bigint>"
    )


def minhash_lsh_candidates(sigs: DataFrame, bands: int = 16) -> DataFrame:
    """Band the signature and equi-join on (band, bucket-hash):
    candidate pairs (a, b), a < b, deduplicated."""
    num_perm_col = F.size("sig")
    rows_per_band = (num_perm_col / bands).cast("int")
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bidx: F.slice(
                    "sig", bidx * rows_per_band + 1, rows_per_band
                ),
            )
        ).alias("band", "bucket"),
    )
    return (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )


# Data-adaptive gate for the in-kernel LSH banding: at the cutoff the
# one bounded task holds the signature matrix (<= 1M x num_perm
# int64, ~512 MB at 64 perms) plus per-band bucket groupings; the
# band explode + bucket self-join + distinct pipeline stays the
# default above it. Candidates are identical by construction (same
# band slices, same integer equality).
_MINHASH_SMALL_DOCS = 1_000_000


def _minhash_cand_small(sigs: DataFrame, bands: int) -> DataFrame:
    """Bounded single-task LSH candidate generation over (doc_id,
    sig): for each band, group identical band slices (byte-view
    unique), expand each bucket's i<j doc pairs (ids sorted), then
    dedupe pairs across bands. The input goes through an explicit
    repartition(1) so the signature kernel stays parallel (the
    simhash discipline)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        blocks = [p for p in batches if not p.empty]
        if not blocks:
            return
        ids = np.concatenate([p["doc_id"].to_numpy(np.int64) for p in blocks])
        mat = np.vstack(
            [np.stack(p["sig"].to_numpy()) for p in blocks]
        ).astype(np.int64, copy=False)
        n, num_perm = mat.shape
        rpb = num_perm // bands
        order0 = np.argsort(ids, kind="stable")
        ids, mat = ids[order0], mat[order0]
        pair_a: list[np.ndarray] = []
        pair_b: list[np.ndarray] = []
        for b in range(bands):
            sl = np.ascontiguousarray(mat[:, b * rpb : (b + 1) * rpb])
            keys = sl.view([("", sl.dtype)] * rpb).ravel()
            korder = np.argsort(keys, kind="stable")  # stable: id order kept
            ks = keys[korder]
            starts = np.flatnonzero(
                np.r_[True, ks[1:] != ks[:-1]]
            )
            lens = np.diff(np.r_[starts, n])
            d = korder  # doc INDICES sorted by (bucket, id)
            for m in np.unique(lens):
                if m < 2:
                    continue
                sel = starts[lens == m]
                g = d[sel[:, None] + np.arange(int(m))]
                iu, ju = np.triu_indices(int(m), 1)
                pair_a.append(g[:, iu].ravel())
                pair_b.append(g[:, ju].ravel())
        if not pair_a:
            return
        a = np.concatenate(pair_a)
        b_ = np.concatenate(pair_b)
        key = a * np.int64(n + 1) + b_  # doc indices < n: exact
        uniq = np.unique(key)
        ai = (uniq // np.int64(n + 1)).astype(np.int64)
        bi = (uniq % np.int64(n + 1)).astype(np.int64)
        yield pd.DataFrame({"a": ids[ai], "b": ids[bi]})

    return sigs.repartition(1).mapInPandas(run, schema="a bigint, b bigint")


def minhash_dedup_pairs(
    docs: DataFrame, n: int = 3, num_perm: int = 64, bands: int = 16,
    min_jaccard_pct: int = 50,
) -> DataFrame:
    """Full MinHash-LSH plan: signatures -> band buckets -> candidates
    -> exact shingle-Jaccard verification of candidates only.

    Verification (r6): the candidate pairs attach each side's DISTINCT
    shingle ARRAY (one id-keyed join per side, one row per doc) and
    decide with ``array_intersect`` — the same string-equality
    intersection the old exploded-shingle joins computed, without the
    persisted explode job, the per-doc size aggregate, or the
    (doc, shingle)-keyed string shuffle (measured ~2.0s -> ~1.8s at
    sf0.1; the join now moves one array row per doc instead of one row
    per shingle). (An earlier candidate-doc semi-join pre-cut of the
    shingle table was tried and reverted — the extra materialization
    job cost more than it saved at bench scale.)"""
    sigs = minhash_signatures(docs, n, num_perm)
    if docs.count() <= _MINHASH_SMALL_DOCS:
        cand = _minhash_cand_small(sigs, bands)
    else:
        cand = minhash_lsh_candidates(sigs, bands)
    arr = tokens_df(docs).select("doc_id", _shingle_arr(n).alias("sharr"))
    return (
        cand.join(
            arr.select(F.col("doc_id").alias("a"), F.col("sharr").alias("sa")), "a"
        )
        .join(
            arr.select(F.col("doc_id").alias("b"), F.col("sharr").alias("sb")), "b"
        )
        .withColumn(
            "inter", F.size(F.array_intersect("sa", "sb")).cast("bigint")
        )
        .withColumn(
            "uni",
            (F.size("sa") + F.size("sb")).cast("bigint") - F.col("inter"),
        )
        .filter(F.lit(100) * F.col("inter") >= F.lit(min_jaccard_pct) * F.col("uni"))
        .select("a", "b", "inter", "uni")
    )


# ---- SimHash ----------------------------------------------------------------

def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sim BIGINT) — 64-bit simhash of token hashes (stored
    as signed int64 bit pattern). Vectorized per Arrow batch: one flat
    token-hash array, then ONE BIT PLANE AT A TIME — a (tokens,)
    shift/AND plus a 1-D ``np.add.reduceat`` per bit. The majority
    vote ``sum(2b-1) > 0`` is computed as ``2*ones > n_tokens``
    (algebraically identical). The former (tokens, 64) bit matrix +
    ``2*bits-1`` temporary was both ~512B/token of working set (the
    round-2 ADVICE memory bomb at web-document lengths) and hit
    numpy's slow 2-D reduceat path — measured 22.7s vs 0.03s per-
    plane on the same 270k-token batch, bit-identical output."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        one = np.uint64(1)
        for pdf in batches:
            if pdf.empty:
                continue
            toks = [t.strip().split() for t in pdf["text"]]
            lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
            sig = np.zeros(len(pdf), dtype=np.uint64)
            live = np.flatnonzero(lens > 0)
            if len(live):
                flat = np.concatenate([np.asarray(t, dtype=object) for t in toks if t])
                th = hash_tokens(flat)
                seg = lens[live]
                starts = np.r_[0, np.cumsum(seg)[:-1]]
                s = np.zeros(len(live), dtype=np.uint64)
                for j in range(64):
                    ones = np.add.reduceat((th >> np.uint64(j)) & one, starts)
                    s |= (2 * ones > seg).astype(np.uint64) << np.uint64(j)
                sig[live] = s
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sim": sig.astype(np.int64)})

    return docs.select("doc_id", "text").mapInPandas(gen, schema="doc_id bigint, sim bigint")


# 64 bits -> 6 blocks (11,11,11,11,10,10). With max_hamming=3, at most
# 3 blocks are corrupted, so >= 3 blocks are intact and at least one
# of the C(6,3)=20 3-block combinations is FULLY intact (pigeonhole) —
# the Manku/Jain/Sarma multi-index construction. Bucket keys are
# 32-33 bits wide (vs 16 bits for single-chunk banding), so bucket
# occupancy at 10^9+ docs stays ~n/2^32 per key instead of n/65536 —
# no intra-bucket quadratic blowup; the cost is a bounded 20x
# candidate-row fanout, all JVM-side.
_SIM_BLOCK_OFFS = (0, 11, 22, 33, 44, 54)
_SIM_BLOCK_BITS = (11, 11, 11, 11, 10, 10)


def _sim_band_keys(sim_col):
    """20 band keys: one per 3-block combination, each key packing the
    three intact block values plus the combo index (JVM expressions)."""
    from itertools import combinations

    blocks = [
        F.shiftrightunsigned(sim_col, off).bitwiseAND(F.lit((1 << w) - 1))
        for off, w in zip(_SIM_BLOCK_OFFS, _SIM_BLOCK_BITS)
    ]
    keys = []
    for combo_id, (i, j, k) in enumerate(combinations(range(6), 3)):
        key = (
            (blocks[i] * F.lit(1 << 22))
            + (blocks[j] * F.lit(1 << 11))
            + blocks[k]
            + F.lit(combo_id * (1 << 34))
        )
        keys.append(key)
    return keys


# Data-adaptive dial for the simhash signature-pair search: below
# this many DISTINCT signatures (a measured count, not a guess) the
# qualifying pairs come from ONE bounded task doing a blocked
# XOR-popcount over all n^2/2 signature pairs (~134M uint64 ops at
# the cutoff, a few hundred ms; peak block transient ~128 MB) —
# replacing the 20-key band explode + self-join + distinct pipeline
# whose fixed shuffle stages dwarf the actual work at this size.
# Exactness is unconditional both ways: brute force enumerates every
# pair, and the banding is exact for max_hamming <= 3 by pigeonhole,
# so the two paths produce the identical pair set.
_SIMHASH_SMALL_SIGS = 16_384


# 16-bit popcount table, built ONCE at import in pure numpy. Building
# it per task as a 65k-iteration Python comprehension was measured
# 1-2s on long-lived reused workers (the interpreter GC walks the
# worker's accumulated heap every ~700 net allocations); the
# vectorized module-level build is ~1 ms and runs once per worker
# process at import.
_POP16 = (
    np.unpackbits(np.arange(1 << 16, dtype=">u2").view(np.uint8))
    .reshape(-1, 16)
    .sum(axis=1)
    .astype(np.uint8)
)


def _ham_pair_blocks(s_sorted: np.ndarray, max_hamming: int):
    """Blocked brute-force Hamming search over SORTED distinct signed
    int64 signatures: yields (ii, jj, ham) index blocks with ii < jj
    (strict upper triangle — sa < sb in the JVM's signed order).
    ~128 MB xor transient per block regardless of n."""
    tbl = _POP16
    u = s_sorted.view(np.uint64)
    n = len(s_sorted)
    m16 = np.uint64(0xFFFF)
    # small blocks + in-place accumulation + direct uint64 indexing:
    # ~11 bytes/element transient instead of ~40 — long-lived reused
    # workers with fragmented heaps pay first-touch faults on every
    # fresh large allocation, so the xor block is kept arena-sized
    step = max(1, (1 << 22) // max(n, 1))
    for i0 in range(0, n, step):
        i1 = min(i0 + step, n)
        x = u[i0:i1, None] ^ u[None, :]
        ham = tbl[x & m16].astype(np.int16)
        ham += tbl[(x >> np.uint64(16)) & m16]
        ham += tbl[(x >> np.uint64(32)) & m16]
        ham += tbl[x >> np.uint64(48)]
        ii, jj = np.nonzero(ham <= int(max_hamming))
        keep = ii + i0 < jj
        ii, jj = ii[keep], jj[keep]
        if len(ii):
            yield ii + i0, jj, ham[ii, jj].astype(np.int32)


def _simhash_pairs_small(usims: DataFrame, max_hamming: int) -> DataFrame:
    """Bounded single-task (sa, sb, ham) over distinct signatures —
    see ``_ham_pair_blocks``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        blocks = [pdf for pdf in batches if not pdf.empty]
        if not blocks:
            return
        s = np.sort(
            np.concatenate([pdf["sim"].to_numpy(np.int64) for pdf in blocks])
        )
        for ii, jj, ham in _ham_pair_blocks(s, max_hamming):
            yield pd.DataFrame({"sa": s[ii], "sb": s[jj], "ham": ham})

    return usims.coalesce(1).mapInPandas(
        run, schema="sa bigint, sb bigint, ham int"
    )


def _simhash_groups_small(sigs: DataFrame, max_hamming: int) -> DataFrame:
    """Bounded single-task GROUPS representation over (doc_id, sim):
    one kernel computes the identical-signature stars (keeper = min
    doc_id per signature, ham = 0) AND the cross rows between group
    keepers of qualifying signature pairs — the same integer
    arithmetic as the reps-aggregate + star/cross join pipeline it
    replaces, in one task instead of five shuffle stages. The input
    goes through an explicit repartition(1) (NOT coalesce: coalesce
    would collapse the upstream signature kernel's parallelism into
    the one task)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        blocks = [pdf for pdf in batches if not pdf.empty]
        if not blocks:
            return
        doc = np.concatenate([pdf["doc_id"].to_numpy(np.int64) for pdf in blocks])
        sim = np.concatenate([pdf["sim"].to_numpy(np.int64) for pdf in blocks])
        order = np.lexsort((doc, sim))
        sim, doc = sim[order], doc[order]
        new = np.r_[True, sim[1:] != sim[:-1]]
        starts = np.flatnonzero(new)
        lens = np.diff(np.r_[starts, len(sim)])
        usim = sim[starts]  # ascending (lexsort major key)
        keeper = doc[starts]  # min doc_id per group (doc minor key)
        # stars: every non-keeper member of each group
        member_mask = ~new
        out_a = [np.repeat(keeper, lens - 1)]
        out_b = [doc[member_mask]]
        out_h = [np.zeros(int((lens - 1).sum()), np.int32)]
        for ii, jj, ham in _ham_pair_blocks(usim, max_hamming):
            ka, kb = keeper[ii], keeper[jj]
            out_a.append(np.minimum(ka, kb))
            out_b.append(np.maximum(ka, kb))
            out_h.append(ham)
        yield pd.DataFrame(
            {
                "a": np.concatenate(out_a),
                "b": np.concatenate(out_b),
                "ham": np.concatenate(out_h),
            }
        )

    return sigs.repartition(1).mapInPandas(
        run, schema="a bigint, b bigint, ham int"
    )


def _simhash_sig_pairs(sigs: DataFrame, max_hamming: int) -> DataFrame:
    """(sa, sb, ham): qualifying DISTINCT-SIGNATURE pairs via the
    20-way 3-block multi-index banding, verified with bit_count — all
    JVM-side. Banding over distinct signatures, not documents:
    web-scale corpora are duplicate-heavy, so identical-signature
    groups would otherwise meet themselves in every one of the 20
    bands (a quadratic intra-bucket blowup the banding cannot prune).
    Below ``_SIMHASH_SMALL_SIGS`` distinct signatures (probed), the
    pairs come from the bounded brute-force task instead — identical
    output, see the dial note above."""
    usims = sigs.select("sim").distinct()
    if usims.count() <= _SIMHASH_SMALL_SIGS:
        return _simhash_pairs_small(usims, max_hamming)
    banded = usims.select(
        "sim", F.explode(F.array(*_sim_band_keys(F.col("sim")))).alias("bkey")
    )
    return (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.sim") < F.col("y.sim")),
        )
        .select(F.col("x.sim").alias("sa"), F.col("y.sim").alias("sb"))
        .distinct()
        .withColumn("ham", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("ham") <= max_hamming)
    )


def simhash_neardup_pairs(
    docs: DataFrame, max_hamming: int = 3, representation: str = "groups"
) -> DataFrame:
    """Near-duplicates with Hamming(sim_a, sim_b) <= max_hamming,
    EXACT for max_hamming <= 3 (pigeonhole; see _SIM_BLOCK_* notes).
    Output (a, b, ham).

    ``representation="groups"`` (default — the scale-safe shape):
      * ham = 0 rows are STARS, not cliques: (keeper, member) with
        keeper = min doc_id of each identical-signature group — linear
        in documents. The full clique is recoverable (any two members
        of one star are duplicates by transitivity of equality).
      * ham >= 1 rows are emitted between group KEEPERS only — one row
        per qualifying signature pair, linear in signature pairs. All
        member-level cross pairs are recoverable through the stars
        (Hamming depends only on the signature).
      At web scale a single viral boilerplate group has 10^6+ members;
      the clique/all-pairs expansion is quadratic in that group size
      while carrying zero extra information (round-2 VERDICT #4).

    ``representation="pairs"``: the fully-expanded document pair set
    (quadratic in group sizes) — test oracles and small corpora."""
    if max_hamming > 3:
        raise ValueError("banding guarantees exactness only for max_hamming <= 3")
    from ..plans.session import mark_releasable

    if representation == "groups" and docs.count() <= _SIMHASH_SMALL_SIGS:
        # distinct signatures <= documents, so a doc count (one full
        # count job) gates the bounded one-task groups kernel. The kernel
        # input is the signature stream behind an EXPLICIT
        # single-partition exchange — NOT persist + coalesce(1): a
        # coalesce over the cached frame collapses the 32-way
        # signature kernel into the single task whenever the cache
        # lookup misses (observed in long bench sessions as a
        # constant ~+1.5s), while repartition(1) keeps the signature
        # stage parallel and moves 16 bytes/doc through one exchange,
        # all in ONE job with no cache dependency.
        return _simhash_groups_small(simhash_signatures(docs), max_hamming)
    sigs = mark_releasable(simhash_signatures(docs).persist())
    sigs.count()  # several consumers; one signature-kernel run
    simpairs = _simhash_sig_pairs(sigs, max_hamming)
    reps = sigs.groupBy("sim").agg(F.min("doc_id").alias("keeper"))

    if representation == "groups":
        star = (
            sigs.join(reps, "sim")
            .filter(F.col("doc_id") != F.col("keeper"))
            .select(
                F.col("keeper").alias("a"),
                F.col("doc_id").alias("b"),
                F.lit(0).cast("int").alias("ham"),
            )
        )
        cross = (
            simpairs.join(
                reps.select(F.col("sim").alias("sa"), F.col("keeper").alias("ka")), "sa"
            )
            .join(
                reps.select(F.col("sim").alias("sb"), F.col("keeper").alias("kb")), "sb"
            )
            .select(
                F.least("ka", "kb").alias("a"),
                F.greatest("ka", "kb").alias("b"),
                "ham",
            )
        )
        return cross.unionByName(star)

    if representation != "pairs":
        raise ValueError(f"unknown representation {representation!r}")
    # cross-group document pairs (ham >= 1): expand each qualifying
    # signature pair through its member documents — output-sized,
    # quadratic in group sizes
    cross = (
        simpairs.join(sigs.select(F.col("sim").alias("sa"), F.col("doc_id").alias("da")), "sa")
        .join(sigs.select(F.col("sim").alias("sb"), F.col("doc_id").alias("db")), "sb")
        .select(
            F.least("da", "db").alias("a"),
            F.greatest("da", "db").alias("b"),
            "ham",
        )
    )
    # within-group pairs (identical signatures, ham = 0)
    same = (
        sigs.alias("x")
        .join(
            sigs.alias("y"),
            (F.col("x.sim") == F.col("y.sim"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a"),
            F.col("y.doc_id").alias("b"),
            F.lit(0).cast("int").alias("ham"),
        )
    )
    return cross.unionByName(same)


# ---- embedding cosine near-dup ----------------------------------------------

def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def embedding_neardup_pairs(
    unit_points: DataFrame,
    min_cos: float,
    d: int,
    stats=None,
    fine_col: str | None = "cell_fine",
) -> DataFrame:
    """Pairs (a, b), a < b, with cosine similarity >= min_cos.

    On the unit sphere ``cos(a,b) >= tau  <=>  ||a-b|| <= sqrt(2-2tau)``,
    so this IS the engine's headline epsilon-ball self-join after
    normalization — cell-partitioned with ghost replication, ONE
    repartitionByRange shuffle, NO cartesian/nested-loop join (the
    round-1 catalog entry was O(n^2) rows through a.id < b.id).

    ``unit_points``: (id, vec, cell[, cell_fine]) with L2-normalized
    vecs (see similarity.unit_embedding_points)."""
    radius = float(np.sqrt(max(0.0, 2.0 - 2.0 * min_cos)))
    edges = ball_self_join(
        unit_points, radius, d=d, fine_col=fine_col, stats=stats
    )
    return edges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )


def embedding_neardup_brute(embs: DataFrame, min_cos: float) -> DataFrame:
    """Quadratic JVM-side oracle (zip_with/aggregate dot products over
    an a<b self-join) — test ground truth only, never the catalog."""
    v = embs.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    norm = v.withColumn("n", F.sqrt(_dot("v", "v")))
    x = norm.select(F.col("id").alias("a"), F.col("v").alias("va"), F.col("n").alias("na"))
    y = norm.select(F.col("id").alias("b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    return (
        x.join(y, F.col("a") < F.col("b"))
        .withColumn("cos", _dot("va", "vb") / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= min_cos)
        .select("a", "b")
    )


# ---- fingerprints ------------------------------------------------------------

def doc_fingerprints(docs: DataFrame, window: int = 4) -> DataFrame:
    """(doc_id, fp BIGINT) exploded winnowing fingerprints —
    vectorized per Arrow batch: flat token-hash array, sliding-window
    minima masked at document boundaries, per-doc dedupe via one
    lexsort (no per-document Python loop)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            toks = [t.strip().split() for t in pdf["text"]]
            lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
            if int(lens.sum()) == 0:
                continue
            flat = np.concatenate([np.asarray(t, dtype=object) for t in toks if t])
            th = hash_tokens(flat)
            T = len(th)
            # short docs (< window tokens): every token hash is a
            # fingerprint (rolling_fingerprints convention)
            doc_of_tok = np.repeat(np.arange(len(lens)), lens)
            tok_starts = np.concatenate([[0], np.cumsum(lens)])
            out_doc: list[np.ndarray] = []
            out_fp: list[np.ndarray] = []
            short = np.flatnonzero((lens > 0) & (lens < window))
            if len(short):
                smask = np.isin(doc_of_tok, short)
                out_doc.append(doc_of_tok[smask])
                out_fp.append(th[smask])
            if T >= window:
                sw = np.lib.stride_tricks.sliding_window_view(th, window)
                wmin = sw.min(axis=1)
                wdoc = doc_of_tok[: T - window + 1]
                # window valid iff it ends in the same doc it starts in
                valid = doc_of_tok[window - 1 :] == wdoc
                # and the doc is long enough (implied by same-doc check)
                out_doc.append(wdoc[valid])
                out_fp.append(wmin[valid])
            if not out_doc:
                continue
            dd = np.concatenate(out_doc)
            ff = np.concatenate(out_fp)
            # dedupe (doc, fp)
            order = np.lexsort((ff, dd))
            dd, ff = dd[order], ff[order]
            keep = np.r_[True, (dd[1:] != dd[:-1]) | (ff[1:] != ff[:-1])]
            dd, ff = dd[keep], ff[keep]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy()[dd], "fp": ff.astype(np.int64)}
            )

    return docs.select("doc_id", "text").mapInPandas(gen, schema="doc_id bigint, fp bigint")
