"""Plan contracts for the round-5 operators: the physical shapes the
100 TB story depends on, pinned so a regression in Catalyst output
(or a careless refactor) fails loudly rather than silently shuffling
the points table."""

from tests.conftest import SF_TINY


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_tile_interp_broadcasts_ring_map(spark):
    """The ring map is O(occupied x 9) and MUST broadcast: a
    SortMergeJoin here would shuffle the points table per call."""
    from covertree_spark.queries import q_tile_interp

    plan = _plan(q_tile_interp(spark, SF_TINY))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_emb_quantize_is_pure_projection(spark):
    """Quantization is a scan-side projection: zero exchanges, no
    Python workers anywhere."""
    from covertree_spark.queries import q_emb_quantize

    plan = _plan(q_emb_quantize(spark, SF_TINY))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_fuzzy_join_no_cartesian(spark):
    """FastSS blocking must render as an equi-join on the deletion
    variant, never a cartesian/broadcast-nested-loop over docs."""
    from covertree_spark.queries import q_fuzzy_join

    plan = _plan(q_fuzzy_join(spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skyline_windows_jvm_only(spark):
    """Both skyline phases are JVM window aggregates — no Python in
    the dominance path."""
    from covertree_spark.queries import q_geo_skyline

    plan = _plan(q_geo_skyline(spark, SF_TINY))
    assert "Window" in plan
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_tile_median_windows_over_value_collapse(spark):
    """The median window must consume the (tile, value, count)
    collapse — an exchange keyed on the collapse, then Window; no
    Python, no cartesian."""
    from covertree_spark.queries import q_tile_median

    plan = _plan(q_tile_median(spark, SF_TINY))
    assert "Window" in plan
    assert "Python" not in plan


def test_events_cube_single_expand(spark):
    """rollup() is ONE Expand + hash aggregate, not a union of
    scans."""
    from covertree_spark.queries import q_events_cube

    plan = _plan(q_events_cube(spark, SF_TINY))
    assert plan.count("Expand") == 1
    assert "Python" not in plan


def test_cell_cover_union_equals_base_and_disjoint(spark):
    """The normalized cover's expansion back to res-6 cells must equal
    the base window cover exactly (no gaps, no overlaps)."""
    from covertree_spark.queries import (
        COVER_RES,
        _cover_ranges,
        q_cell_cover,
    )

    rows = q_cell_cover(spark, None).collect()
    expanded = set()
    for r in rows:
        res, cell = r.res, r.cell
        n = 1 << int(res)
        ix, iy = cell // n, cell % n
        shift = COVER_RES - int(res)
        side = 1 << shift
        for dx in range(side):
            for dy in range(side):
                leaf = ((ix << shift) + dx) * (1 << COVER_RES) + (
                    (iy << shift) + dy
                )
                assert leaf not in expanded, "overlapping cover cells"
                expanded.add(leaf)
    ix0, ix1, iy0, iy1 = _cover_ranges()
    base = {
        ix * (1 << COVER_RES) + iy
        for ix in range(ix0, ix1 + 1)
        for iy in range(iy0, iy1 + 1)
    }
    assert expanded == base
    assert len(rows) < len(base)  # it actually coarsened


def _children(node):
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _physical(df):
    """The physical plan after EnsureRequirements (AQE's current plan,
    before any runtime re-optimization)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan


def _find(node, name):
    if node.nodeName() == name:
        return node
    for child in _children(node):
        hit = _find(child, name)
        if hit is not None:
            return hit
    return None


def _node_names(node):
    """Node names of the subtree. InMemoryTableScan is a leaf here, so
    a persisted layout's own ingest Exchange is not counted."""
    names = [node.nodeName()]
    for child in _children(node):
        names += _node_names(child)
    return names


def test_cogroup_home_side_reads_aligned_layout_in_place(spark):
    """kNN and ball join cogroup the candidate/ghost stream with the
    home table. Over the aligned hash(cell) layout the home side is the
    cached scan with no Exchange; only the candidate side shuffles."""
    from covertree_spark.operators.ball_join import ball_self_join
    from covertree_spark.operators.knn import knn_self_join
    from covertree_spark.queries import _geo_points

    pts, stats = _geo_points(spark, SF_TINY)
    for out in (
        knn_self_join(pts, k=5, d=3, stats=stats),
        ball_self_join(pts, 0.28, d=3, stats=stats),
    ):
        cg = _find(_physical(out), "FlatMapCoGroupsInPandas")
        assert cg is not None
        cand, home = (_node_names(c) for c in _children(cg))
        assert "InMemoryTableScan" in home
        assert not any("Exchange" in n for n in home), home
        assert any("Exchange" in n for n in cand), cand


def test_build_trees_over_aligned_layout_has_no_exchange(spark):
    """The index build is one grouped apply; over the aligned layout
    (hash(cell) partitioned, sorted by cell) it needs neither an
    Exchange nor a Sort, so warehouse index builds stay shuffle-free."""
    from covertree_spark.operators.index import build_trees
    from covertree_spark.queries import _geo_points

    pts, _stats = _geo_points(spark, SF_TINY)
    names = _node_names(_physical(build_trees(pts, d=3)))
    assert "FlatMapGroupsInPandas" in names
    assert "InMemoryTableScan" in names
    assert not any("Exchange" in n for n in names), names
    assert "Sort" not in names, names


def test_build_trees_same_cells_for_unaligned_input(spark):
    """Unaligned input pays one hash Exchange and is still grouped
    whole: one row per cell, holding the same points as the aligned
    build (row order within a cell follows the input, so compare the
    point blocks by id)."""
    import numpy as np

    from covertree_spark.operators.index import build_trees, tree_from_row
    from covertree_spark.queries import _geo_points

    pts, _stats = _geo_points(spark, SF_TINY)
    shuffled = pts.repartition(3)
    assert any(
        "Exchange" in n for n in _node_names(_physical(build_trees(shuffled, d=3)))
    )

    def by_cell(df):
        rows = df.collect()
        cells = [r["cell"] for r in rows]
        assert len(cells) == len(set(cells)), "a cell was split"
        out = {}
        for r in rows:
            _tree, X, ids = tree_from_row(r)
            order = np.argsort(ids)
            out[r["cell"]] = (r["n"], ids[order], X[order], r["ptype"])
        return out

    aligned = by_cell(build_trees(pts, d=3))
    unaligned = by_cell(build_trees(shuffled, d=3))
    assert aligned.keys() == unaligned.keys()
    for cell, (n, ids, X, ptype) in aligned.items():
        n2, ids2, X2, ptype2 = unaligned[cell]
        assert (n, ptype) == (n2, ptype2)
        assert np.array_equal(ids, ids2)
        assert np.array_equal(X, X2)


def test_build_trees_feeds_metrics(spark, monkeypatch):
    """The index build meters its distance work and kernel wall time
    into plans.metrics, like every other cell operator."""
    from covertree_spark.operators.index import build_trees
    from covertree_spark.plans import metrics
    from covertree_spark.queries import _geo_points

    pts, _stats = _geo_points(spark, SF_TINY)
    monkeypatch.setattr(metrics, "_CURRENT", metrics._CURRENT)  # restored after
    meters = metrics.install(spark)
    build_trees(pts, d=3).count()
    assert meters.value > 0
    assert meters.udf_wall > 0
