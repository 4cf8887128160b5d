"""The session family's data-adaptive one-window small path must be
row-identical to the hot-key-bounded two-phase shape."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from covertree_spark.operators import sessions


@pytest.fixture(scope="module")
def events(spark):
    rng = np.random.default_rng(17)
    n = 5000
    rows = [
        (
            int(i),
            int(rng.integers(0, 40)),
            # second-resolution ts with deliberate duplicates (ties
            # break on event_id) spanning many buckets
            f"2031-03-0{1 + int(rng.integers(0, 7))} "
            f"{rng.integers(0, 24):02d}:{rng.integers(0, 60):02d}:"
            f"{rng.integers(0, 60):02d}",
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string"
    ).persist()
    df.count()
    yield df
    df.unpersist()


BUCKET = 3_600_000_000  # 1h buckets: plenty of cross-bucket stitches


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_consecutive_pairs_paths_match(events):
    cols = ["user_id", "event_id", "prev_id", "us", "prev_us"]
    small = _rows(sessions.consecutive_pairs(events, BUCKET), cols)
    two_phase = _rows(
        sessions.consecutive_pairs(events, BUCKET, small_cutoff=0), cols
    )
    assert small == two_phase
    assert len(small) > 4000  # sanity: nearly every event has a pred


def test_sessionize_paths_match(events):
    gap = 2 * 3_600_000_000
    cols = ["event_id", "user_id", "sess"]
    small = _rows(sessions.sessionize(events, gap), cols)
    two_phase = _rows(
        sessions.sessionize(events, gap, small_cutoff=0), cols
    )
    assert small == two_phase


def _runs_rows(df, **kw):
    """runs with a predicate that reads a non-time prev_ column (a
    cell change, as in stay_points), so the bounded plan's stitch
    evaluates it across bucket boundaries."""
    ev = df.withColumn("cell", F.col("event_id") % 2)
    brk = (F.col("cell") != F.col("prev_cell")) | (
        (F.col("us") - F.col("prev_us")) > F.lit(6 * 3_600_000_000)
    )
    out = sessions.runs(ev, ["us", "cell"], brk, BUCKET, **kw)
    cols = ["user_id", "event_id", "us", "cell", "prev_us", "prev_cell",
            "st", "run"]
    assert out.columns == ["event_id", "user_id", "ts", "cell", "us",
                           "prev_us", "prev_cell", "st", "run"]
    return _rows(out, cols)


def test_runs_paths_match(spark, events):
    one_event = spark.createDataFrame(
        [(1, 9, "2031-03-01 00:00:00")],
        "event_id long, user_id long, ts string",
    )
    results = []
    for df in (events, events.limit(0), one_event):
        small = _runs_rows(df)
        assert small == _runs_rows(df, small_cutoff=0)
        results.append(small)
    full, empty, (row,) = results
    assert len(full) == 5000 and empty == []
    assert {r[6] for r in full} == {0, 1}  # continuations and breaks
    assert row[:2] + row[4:] == (9, 1, None, None, 1, 1)


def test_fused_trip_and_stay_queries_match_composed(spark, monkeypatch):
    """q_user_trips, q_stay_points and q_session_overlap give the same
    rows with the session family's one-window plans (sf0.01 is under
    SMALL_CUTOFF) as with the bounded two-phase plans of runs and
    sessionize, forced by zeroing the dial (session_overlap also
    swaps its interval sweep for the bucketed join)."""
    from covertree_spark import queries as Q

    sf = "/root/testdata/sf0.01"
    for qname in ("user_trips", "stay_points", "session_overlap"):
        fn = Q.catalog()[qname][0]
        small = sorted(map(tuple, fn(spark, sf).collect()))
        monkeypatch.setattr(sessions, "SMALL_CUTOFF", 0)
        bounded = sorted(map(tuple, fn(spark, sf).collect()))
        monkeypatch.undo()
        assert len(small) > 0
        assert small == bounded, qname
