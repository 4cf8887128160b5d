"""Round-6 optimization tests: the data-adaptive small paths of the
posting-list Jaccard (operators/dedup.py ngram_jaccard_pairs) must be
result-identical to the distributed expansion on every regime —
direct-from-docs kernel, posting-list kernel, and the JVM pair
explosion — including boilerplate shingles over the df cut."""

import pytest
from pyspark.sql import functions as F

from covertree_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    """Synthetic corpus with exact dup pairs, near-dups and a
    boilerplate prefix whose shingles exceed the df cut."""
    boiler = "terms of service apply to all"
    rows = []
    for i in range(40):
        body = f"alpha beta gamma delta {i} epsilon zeta eta theta {i % 7}"
        rows.append((i, f"{boiler} {body}"))
        if i % 4 == 0:  # near-dup: one token changed
            rows.append((1000 + i, f"{boiler} {body} extra"))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("max_df", [None, 6])
def test_jaccard_small_paths_match_distributed(spark, docs, monkeypatch, max_df):
    want = None
    # force each regime in turn by gating the dial constants
    for rows_cut, pairs_cut in [
        (10**9, 10**9),  # direct-from-docs kernel (or lists kernel for None)
        (0, 0),  # distributed JVM expansion
    ]:
        monkeypatch.setattr(dedup, "_JACCARD_SMALL_ROWS", rows_cut)
        monkeypatch.setattr(dedup, "_JACCARD_SMALL_PAIRS", pairs_cut)
        got = _rows(
            dedup.ngram_jaccard_pairs(docs, n=3, min_jaccard_pct=50, max_df=max_df)
        )
        assert got, "regimes must produce non-trivial output to compare"
        if want is None:
            want = got
        else:
            assert got == want


def test_jaccard_lists_kernel_matches_distributed(spark, docs, monkeypatch):
    """The posting-list kernel regime specifically (direct gate fails,
    exact pair probe passes): pin PAIRS between the direct path's
    bound and the true pair count."""
    n_rows = int(
        dedup.shingle_counts_df(docs, 3).agg(F.sum("sz")).collect()[0][0]
    )
    max_df = 6
    bound = n_rows * (max_df - 1) // 2
    grp = (
        dedup.shingles_df(docs, 3)
        .groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_df)
    )
    exact_pairs = int(
        grp.agg(F.sum(F.col("df") * (F.col("df") - 1) / 2)).collect()[0][0]
    )
    assert exact_pairs < bound  # the regimes are genuinely distinct here
    monkeypatch.setattr(dedup, "_JACCARD_SMALL_ROWS", 10**9)
    monkeypatch.setattr(dedup, "_JACCARD_SMALL_PAIRS", exact_pairs)
    via_lists = _rows(
        dedup.ngram_jaccard_pairs(docs, n=3, min_jaccard_pct=50, max_df=max_df)
    )
    monkeypatch.setattr(dedup, "_JACCARD_SMALL_PAIRS", 0)
    distributed = _rows(
        dedup.ngram_jaccard_pairs(docs, n=3, min_jaccard_pct=50, max_df=max_df)
    )
    assert via_lists == distributed


def test_simhash_small_pairs_match_banding(spark, monkeypatch):
    """r6 dial parity: brute-force popcount small path == the 20-way
    banding join on the same signature set (banding is exact for
    ham <= 3, so both are the complete pair set)."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.integers(-(2**62), 2**62, size=300, dtype=np.int64)
    sigs = [int(v) for v in base]
    for v in base[:80]:  # perturb by 1-3 bit flips => guaranteed pairs
        w = int(v)
        for bit in rng.choice(64, size=int(rng.integers(1, 4)), replace=False):
            w ^= 1 << int(bit)
        sigs.append(np.int64(np.uint64(w % (1 << 64))).item())
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sigs)], "doc_id bigint, sim bigint"
    )
    small = sorted(
        tuple(r) for r in dedup._simhash_sig_pairs(df, 3).collect()
    )
    monkeypatch.setattr(dedup, "_SIMHASH_SMALL_SIGS", -1)
    banded = sorted(
        tuple(r) for r in dedup._simhash_sig_pairs(df, 3).collect()
    )
    assert len(small) > 0
    assert small == banded


def test_simhash_groups_small_matches_pipeline(spark, monkeypatch):
    """r6 dial parity on the full GROUPS representation: one-task
    kernel == reps/star/cross join pipeline, including duplicate
    signature groups (stars) and near signatures (cross rows)."""
    import numpy as np

    rng = np.random.default_rng(13)
    base = rng.integers(-(2**62), 2**62, size=200, dtype=np.int64)
    rows = []
    i = 0
    for v in base:
        for _ in range(int(rng.integers(1, 4))):  # duplicate groups
            rows.append((i, int(v)))
            i += 1
        if i % 5 == 0:  # near signature
            w = int(v) ^ (1 << int(rng.integers(0, 64)))
            rows.append((i, np.int64(np.uint64(w % (1 << 64))).item()))
            i += 1
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    # bypass the text kernel: call the pair layer on a sig frame
    sig_df = spark.createDataFrame(rows, "doc_id bigint, sim bigint")
    from covertree_spark.plans.session import mark_releasable

    cached = mark_releasable(sig_df.persist())
    cached.count()
    small = sorted(
        tuple(r) for r in dedup._simhash_groups_small(cached, 3).collect()
    )
    monkeypatch.setattr(dedup, "_SIMHASH_SMALL_SIGS", -1)
    simpairs = dedup._simhash_sig_pairs(cached, 3)
    reps = cached.groupBy("sim").agg(F.min("doc_id").alias("keeper"))
    star = (
        cached.join(reps, "sim")
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
        .join(reps.select(F.col("sim").alias("sb"), F.col("keeper").alias("kb")), "sb")
        .select(F.least("ka", "kb").alias("a"), F.greatest("ka", "kb").alias("b"), "ham")
    )
    pipeline = sorted(tuple(r) for r in cross.unionByName(star).collect())
    assert len(small) > 0
    assert small == pipeline


def test_neardup_groups_fused_matches_distributed(spark, docs, monkeypatch):
    """r6 fused small path: one-task pairs+union-find+singletons ==
    the pair kernel followed by connected_components."""
    fused = _rows(dedup.neardup_groups(docs, n=3, min_jaccard_pct=50, max_df=6))
    monkeypatch.setattr(dedup, "_JACCARD_SMALL_ROWS", 0)
    monkeypatch.setattr(dedup, "_JACCARD_SMALL_PAIRS", 0)
    dist = _rows(dedup.neardup_groups(docs, n=3, min_jaccard_pct=50, max_df=6))
    assert fused == dist
    assert any(r[2] == 0 for r in fused)  # non-trivial clusters exist


def test_fuzzy_join_small_matches_distributed(spark, monkeypatch, tmp_path):
    """r6 dial parity: the bounded one-task FastSS join == the
    posting-list expansion + JVM levenshtein verify — on the sf0.01
    corpus, and on that corpus plus NULL and empty texts (NULL keys
    pair with nothing; empty keys pair with each other at d=0)."""
    from covertree_spark import queries as Q

    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    extra = spark.createDataFrame(
        [
            (10_000 + i, t, "en", "web", 0)
            for i, t in enumerate([None, None, "", "", "!!", "a", "ab"])
        ],
        docs.schema,
    )
    nulls = str(tmp_path / "nulls")
    docs.unionByName(extra).write.parquet(f"{nulls}/documents.parquet")

    fn = Q.catalog()["fuzzy_join"][0]
    cutoff = Q._FUZZY_SMALL_DOCS
    for sf_dir in (sf, nulls):
        monkeypatch.setattr(Q, "_FUZZY_SMALL_DOCS", cutoff)
        small = sorted(map(tuple, fn(spark, sf_dir).collect()))
        monkeypatch.setattr(Q, "_FUZZY_SMALL_DOCS", -1)
        dist = sorted(map(tuple, fn(spark, sf_dir).collect()))
        assert len(small) > 0
        assert small == dist
    assert (10_002, 10_003, 0) in small
    assert not any({10_000, 10_001} & {a, b} for a, b, _d in small)


def test_minhash_cand_kernel_matches_banding_join(spark):
    """r6 dial parity: in-kernel LSH banding == the band explode +
    bucket self-join + distinct, candidate set for candidate set."""
    from covertree_spark.sources import tables as src

    docs = src.load_table(spark, "/root/testdata/sf0.01", "documents")
    sigs = dedup.minhash_signatures(docs, 3, 64)
    join_cand = sorted(
        map(tuple, dedup.minhash_lsh_candidates(sigs, 16).collect())
    )
    kern_cand = sorted(
        map(tuple, dedup._minhash_cand_small(sigs, 16).collect())
    )
    assert len(kern_cand) > 0
    assert kern_cand == join_cand
