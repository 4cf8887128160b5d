"""Structured-streaming ingest parity with the batch catalog."""

import numpy as np
from pyspark.sql import functions as F

from covertree_spark.sources.pages import generate_pages
from covertree_spark.streaming.ingest import run_ingest, stream_points


def test_stream_ingest_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    pages = generate_pages(spark, 300, partitions=4)
    pages.write.parquet(src)

    run_ingest(spark, src, dst, ckpt, res=4)
    streamed = spark.read.parquet(dst)
    assert streamed.count() == 300

    # batch path over the same files must agree exactly (one code path)
    batch = stream_points(spark.read.parquet(src), res=4)
    s = sorted(map(tuple, streamed.select("id", "lon", "lat", "cell", "text").collect()))
    b = sorted(map(tuple, batch.select("id", "lon", "lat", "cell", "text").collect()))
    assert s == b

    # incremental append: new files arrive, a second availableNow pass
    # picks up ONLY the new rows (checkpointed offsets)
    generate_pages(spark, 100, partitions=2).withColumn(
        "id", F.col("id") + 1_000_000
    ).write.mode("append").parquet(src)
    run_ingest(spark, src, dst, ckpt, res=4)
    assert spark.read.parquet(dst).count() == 400


def test_stream_dedup_matches_batch(spark, tmp_path):
    """Streaming exact dedup (state-store keyed on the content hash)
    keeps exactly one row per distinct text across micro-batches —
    equal to the batch keep-set."""
    from covertree_spark.streaming.ingest import read_pages_stream, stream_dedup_pages

    src = str(tmp_path / "src")
    # two files -> two micro-batches (maxFilesPerTrigger=8 but write
    # duplicates ACROSS files so cross-batch state matters)
    p1 = generate_pages(spark, 120, partitions=1)
    p1.write.parquet(src)
    p1.withColumn("id", F.col("id") + 10_000).write.mode("append").parquet(src)

    out = stream_dedup_pages(read_pages_stream(spark, src))
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_sink")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT text FROM dedup_sink").collect()
    batch_distinct = spark.read.parquet(src).select("text").distinct().count()
    assert len(got) == batch_distinct
    assert len({r["text"] for r in got}) == len(got)


def test_stateful_cell_profile_matches_batch(spark, tmp_path):
    """applyInPandasWithState running per-cell profile: after draining
    all micro-batches, the LAST update per cell equals the batch
    count + centroid (state carried across batches)."""
    from covertree_spark.streaming.ingest import (
        read_pages_stream,
        stateful_cell_profile,
        stream_points,
    )

    src = str(tmp_path / "src")
    generate_pages(spark, 200, partitions=1).write.parquet(src)
    generate_pages(spark, 150, partitions=1).withColumn(
        "id", F.col("id") + 50_000
    ).write.mode("append").parquet(src)

    pts = stream_points(read_pages_stream(spark, src), res=3)
    prof = stateful_cell_profile(pts.select("cell", "lon", "lat"))
    q = (
        prof.writeStream.format("memory")
        .queryName("prof_sink")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    upd = spark.sql("SELECT * FROM prof_sink").toPandas()
    # last update per cell (updates arrive in batch order; take max cnt)
    last = upd.sort_values("cnt").groupby("cell").last()

    batch = (
        stream_points(spark.read.parquet(src), res=3)
        .groupBy("cell")
        .agg(
            F.count("*").alias("cnt"),
            F.avg("lon").alias("lon_c"),
            F.avg("lat").alias("lat_c"),
        )
        .toPandas()
        .set_index("cell")
        .sort_index()
    )
    assert last["cnt"].sort_index().equals(batch["cnt"])
    assert np.allclose(last["lon_c"].sort_index(), batch["lon_c"], atol=1e-9)
    assert np.allclose(last["lat_c"].sort_index(), batch["lat_c"], atol=1e-9)


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """Streaming sessionization (applyInPandasWithState, two ints of
    state per user) drained over time-ordered micro-batches equals the
    batch sessionizer row-for-row — the in-order-logs contract the
    operator documents."""
    import os

    from covertree_spark.operators.sessions import sessionize_single_window
    from covertree_spark.streaming.ingest import stream_sessionize
    from tests.conftest import SF_SMALL

    GAP = 1800 * 1_000_000
    src = str(tmp_path / "evsrc")
    os.makedirs(src)
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    pdf = ev.orderBy("ts", "event_id").toPandas()
    # pyarrow defaults to TIMESTAMP(NANOS), which Spark's parquet
    # reader rejects; the engine's precision is microseconds anyway
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    # 4 time-ordered chunks with increasing mtimes -> 4 in-order
    # micro-batches (FileStreamSource orders by mtime, then path)
    step = (len(pdf) + 3) // 4
    now = 1_700_000_000
    for i in range(4):
        p = os.path.join(src, f"chunk{i:03d}.parquet")
        pdf.iloc[i * step : (i + 1) * step].to_parquet(p, index=False)
        os.utime(p, (now + i, now + i))

    batch_ev = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(batch_ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_sessionize(stream, GAP)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_sink")
        .option("checkpointLocation", str(tmp_path / "ck_sess"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["event_id"], r["user_id"], r["sess"])
        for r in spark.sql("SELECT * FROM sess_sink").collect()
    }
    want = {
        (r["event_id"], r["user_id"], r["sess"])
        for r in sessionize_single_window(batch_ev, GAP).collect()
    }
    assert len(got) == batch_ev.count()  # every event emitted once
    assert got == want


def test_stream_knn_matches_batch_and_bruteforce(spark, tmp_path):
    """Streaming kNN (streaming/query.py): a 3-file query stream
    drained with foreachBatch against a persisted index must equal
    BOTH the one-shot batch answer over the same queries and the
    brute-force float64 oracle — per-query independence makes the
    union over epochs exactly the batch result."""
    from covertree_spark.operators import partition as pt
    from covertree_spark.operators.index import build_trees, stats_from_trees
    from covertree_spark.sources import tables as src
    from covertree_spark.streaming.query import (
        answer_batch,
        read_stream_knn_results,
        run_stream_knn,
    )
    from tests.conftest import SF_TINY, brute_knn

    k = 5
    ll = pt.assign_cells(src.doc_points_lonlat(spark, SF_TINY), res=3)
    corpus = (
        src.doc_points_xyz(spark, SF_TINY)
        .join(ll.select("id", "cell"), "id")
        .persist()
    )
    ipath = str(tmp_path / "trees")
    build_trees(corpus, d=3).write.parquet(ipath)
    trees = spark.read.parquet(ipath)
    stats = stats_from_trees(trees)

    # disjoint queries: seeded points on the unit sphere, f32 like the
    # corpus, split into 3 parquet files -> 3 micro-batches
    rng = np.random.default_rng(7)
    Q = rng.normal(size=(120, 3))
    Q = (Q / np.linalg.norm(Q, axis=1, keepdims=True)).astype(np.float32)
    qsrc = str(tmp_path / "qsrc")
    qrows = [
        (int(10_000_000 + i), [float(x) for x in Q[i]]) for i in range(len(Q))
    ]
    for j in range(3):
        spark.createDataFrame(
            qrows[j * 40 : (j + 1) * 40], "id bigint, vec array<float>"
        ).coalesce(1).write.mode("append").parquet(qsrc)

    qstream = (
        spark.readStream.schema("id bigint, vec array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(qsrc)
    )
    dst = str(tmp_path / "answers")
    run_stream_knn(
        spark, qstream, trees, stats, dst, str(tmp_path / "ck_knn"), k=k, d=3
    )

    got = read_stream_knn_results(spark, dst)
    tup = lambda df: sorted(  # noqa: E731
        (r["src"], r["rank"], r["dst"])
        for r in df.select("src", "rank", "dst").collect()
    )
    qdf = spark.createDataFrame(qrows, "id bigint, vec array<float>")
    assert tup(got) == tup(answer_batch(trees, qdf, k=k, d=3, stats=stats))

    # brute-force float64 oracle over the same f32 inputs
    pdf = corpus.orderBy("id").toPandas()
    X = np.stack(pdf["vec"].to_numpy())
    ids = pdf["id"].to_numpy()
    eq, ep, _ = brute_knn(X, Q.astype(np.float64), k)
    expected, rank = [], {}
    for q, p in zip(eq, ep):
        rank[q] = rank.get(q, 0) + 1
        expected.append((10_000_000 + int(q), rank[q], int(ids[p])))
    assert tup(got) == sorted(expected)

    # idempotent epochs: a restart with the same checkpoint is a no-op
    run_stream_knn(
        spark, qstream, trees, stats, dst, str(tmp_path / "ck_knn"), k=k, d=3
    )
    assert tup(read_stream_knn_results(spark, dst)) == sorted(expected)


def test_stream_geofence_matches_batch(spark, tmp_path):
    """Streaming geofence transitions (applyInPandasWithState, two
    ints of state per user) drained over time-ordered micro-batches
    equals the batch operator row-for-row on the real events fixture."""
    import os

    from covertree_spark.queries import PIP_ALL_POLYS, q_geofence_transitions
    from covertree_spark.streaming.ingest import stream_geofence
    from tests.conftest import SF_TINY

    src = str(tmp_path / "evsrc")
    os.makedirs(src)
    ev = spark.read.parquet(f"{SF_TINY}/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    pdf = ev.orderBy("ts", "event_id").toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    step = (len(pdf) + 3) // 4
    now = 1_700_000_000
    for i in range(4):
        p = os.path.join(src, f"chunk{i:03d}.parquet")
        pdf.iloc[i * step : (i + 1) * step].to_parquet(p, index=False)
        os.utime(p, (now + i, now + i))

    batch_ev = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(batch_ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_geofence(stream, PIP_ALL_POLYS)
    q = (
        out.writeStream.format("memory")
        .queryName("fence_sink")
        .option("checkpointLocation", str(tmp_path / "ck_fence"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT user_id, event_id, poly_id, entered FROM fence_sink"
        ).collect()
    }
    want = {
        tuple(r) for r in q_geofence_transitions(spark, SF_TINY).collect()
    }
    assert got == want
    assert len(want) > 0


def test_stream_od_flows_matches_batch(spark, tmp_path):
    """Streaming OD transitions (applyInPandasWithState, two ints of
    state per user) drained over time-ordered micro-batches, then
    folded by a plain aggregate, equals the batch od_matrix on the
    real events fixture."""
    import os

    from covertree_spark.queries import OD_RES, q_od_matrix
    from covertree_spark.streaming.ingest import stream_od_flows
    from tests.conftest import SF_TINY

    src = str(tmp_path / "evsrc")
    os.makedirs(src)
    ev = spark.read.parquet(f"{SF_TINY}/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    pdf = ev.orderBy("ts", "event_id").toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    step = (len(pdf) + 3) // 4
    now = 1_700_000_000
    for i in range(4):
        p = os.path.join(src, f"chunk{i:03d}.parquet")
        pdf.iloc[i * step : (i + 1) * step].to_parquet(p, index=False)
        os.utime(p, (now + i, now + i))

    batch_ev = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(batch_ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_od_flows(stream, OD_RES)
    q = (
        out.writeStream.format("memory")
        .queryName("od_sink")
        .option("checkpointLocation", str(tmp_path / "ck_od"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT src_cell, dst_cell, count(*) AS n_trips, "
            "count(DISTINCT user_id) AS n_users FROM od_sink "
            "GROUP BY 1, 2"
        ).collect()
    }
    want = {tuple(r) for r in q_od_matrix(spark, SF_TINY).collect()}
    assert got == want
    assert len(want) > 0


def test_stream_cell_bursts_matches_batch(spark, tmp_path):
    """Streaming burst detection (applyInPandasWithState, O(cells x W)
    integer state) drained over time-ordered micro-batches: the LAST
    emission per (cell, day) equals the batch q_cell_bursts row set
    (monotone running-count test with the trailing window complete
    before a day's first event)."""
    import os

    from covertree_spark.queries import (
        BURST_K,
        BURST_RES,
        BURST_W_DAYS,
        q_cell_bursts,
    )
    from covertree_spark.streaming.ingest import stream_cell_bursts
    from tests.conftest import SF_TINY

    src = str(tmp_path / "evsrc_b")
    os.makedirs(src)
    ev = spark.read.parquet(f"{SF_TINY}/events.parquet").select(
        "event_id", "ts"
    )
    pdf = ev.orderBy("ts", "event_id").toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    step = (len(pdf) + 3) // 4
    now = 1_700_000_000
    for i in range(4):
        p = os.path.join(src, f"chunk{i:03d}.parquet")
        pdf.iloc[i * step : (i + 1) * step].to_parquet(p, index=False)
        os.utime(p, (now + i, now + i))

    batch_ev = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(batch_ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_cell_bursts(
        stream, BURST_RES, w_days=BURST_W_DAYS, k=BURST_K
    )
    q = (
        out.writeStream.format("memory")
        .queryName("burst_sink")
        .option("checkpointLocation", str(tmp_path / "ck_burst"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT cell, day, max_by(n_events, n_events) AS n_events, "
            "max_by(prior, n_events) AS prior FROM burst_sink GROUP BY 1, 2"
        ).collect()
    }
    want = {tuple(r) for r in q_cell_bursts(spark, SF_TINY).collect()}
    assert got == want
    assert len(want) > 0


def test_stream_asof_matches_batch(spark, tmp_path):
    """Streaming as-of attribution (two ints of state per user)
    drained over time-ordered micro-batches equals the batch
    q_events_asof row set, including the view-at-click-timestamp
    boundary (views sort before clicks at equal ts)."""
    import os

    from covertree_spark.queries import q_events_asof
    from covertree_spark.streaming.ingest import stream_asof
    from tests.conftest import SF_TINY

    src = str(tmp_path / "evsrc_a")
    os.makedirs(src)
    ev = spark.read.parquet(f"{SF_TINY}/events.parquet").select(
        "event_id", "user_id", "ts", "event_type"
    )
    pdf = ev.orderBy("ts", "event_id").toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    step = (len(pdf) + 3) // 4
    now = 1_700_000_000
    for i in range(4):
        p = os.path.join(src, f"chunk{i:03d}.parquet")
        pdf.iloc[i * step : (i + 1) * step].to_parquet(p, index=False)
        os.utime(p, (now + i, now + i))

    batch_ev = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(batch_ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_asof(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("asof_sink")
        .option("checkpointLocation", str(tmp_path / "ck_asof"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT event_id, user_id, matched_id, lag_us FROM asof_sink"
        ).collect()
    }
    want = {tuple(r) for r in q_events_asof(spark, SF_TINY).collect()}
    assert got == want
    assert len(want) > 0
    assert any(r[2] >= 0 for r in want)  # real matches exercised


def test_stream_travel_matches_batch(spark, tmp_path):
    """Running per-user travel distance (three ints of state per
    user): the LAST emission per user equals the batch q_user_travel
    aggregate (integer-metre sums are order-free)."""
    import os

    from covertree_spark.queries import q_user_travel
    from covertree_spark.streaming.ingest import stream_travel
    from tests.conftest import SF_TINY

    src = str(tmp_path / "evsrc_t")
    os.makedirs(src)
    ev = spark.read.parquet(f"{SF_TINY}/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    pdf = ev.orderBy("ts", "event_id").toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    step = (len(pdf) + 3) // 4
    now = 1_700_000_000
    for i in range(4):
        p = os.path.join(src, f"chunk{i:03d}.parquet")
        pdf.iloc[i * step : (i + 1) * step].to_parquet(p, index=False)
        os.utime(p, (now + i, now + i))

    batch_ev = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(batch_ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_travel(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("travel_sink")
        .option("checkpointLocation", str(tmp_path / "ck_travel"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.n_segs, r.total_m)
        for r in spark.sql(
            "SELECT user_id, max_by(n_segs, n_segs) AS n_segs, "
            "max_by(total_m, n_segs) AS total_m FROM travel_sink GROUP BY 1"
        ).collect()
    }
    want = {
        (r.user_id, r.n_segments, r.total_m)
        for r in q_user_travel(spark, SF_TINY).collect()
    }
    assert got == want
    assert len(want) > 0
