"""consecutive_pairs (hot-key-bounded lag) + user_travel exactness."""

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from covertree_spark.core import geometry  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


@pytest.mark.usefixtures("spark")
def test_consecutive_pairs_matches_single_window(spark):
    """The two-phase bucket-stitched lag must equal the classic
    one-window lag on the real fixture, at a bucket size small enough
    that MOST predecessors cross bucket boundaries (stitch path
    exercised, not just the local path)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from covertree_spark.operators.sessions import consecutive_pairs
    from covertree_spark.sources import tables as src

    ev = src.load_table(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    want = sorted(
        map(
            tuple,
            ev.select(
                "user_id",
                "event_id",
                F.lag("event_id").over(w).alias("prev_id"),
                us.alias("us"),
                F.lag(us).over(w).alias("prev_us"),
            )
            .filter(F.col("prev_id").isNotNull())
            .collect(),
        )
    )
    for bucket_us in (3_600_000_000, 21_600_000_000, 86_400_000_000):
        got = sorted(
            map(
                tuple,
                consecutive_pairs(
                    ev, bucket_us=bucket_us, small_cutoff=0
                ).collect(),
            )
        )
        assert got == want, f"bucket_us={bucket_us}"


@pytest.mark.usefixtures("spark")
def test_travel_segment_quantization_clearance(spark):
    """Every segment's metre quantization must sit clear of its floor
    boundary: the two engines' libm/SIMD trig differ by ~1 ulp, so a
    raw km value within ~1e-9 of a half-metre boundary could floor
    differently. Assert the fixture clears by >= 1e-6 m so a future
    data change fails loudly instead of flipping one integer."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from covertree_spark.sources import tables as src

    ev = src.load_table(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = (
        ev.select(
            "event_id", F.lag("event_id").over(w).alias("prev_id")
        )
        .filter(F.col("prev_id").isNotNull())
        .toPandas()
    )
    lon1, lat1 = geometry.lonlat_from_id(pairs["prev_id"].to_numpy())
    lon2, lat2 = geometry.lonlat_from_id(pairs["event_id"].to_numpy())
    km_q = geometry.haversine_km(lon1, lat1, lon2, lat2)
    v = km_q * 1000.0 + 0.5
    frac = v - np.floor(v)
    clearance = float(np.minimum(frac, 1.0 - frac).min())
    assert clearance > 1e-6, clearance
    # and the recovered integers are consistent with the quantized km
    m = geometry.haversine_m_int(lon1, lat1, lon2, lat2)
    assert np.abs(m / 1000.0 - km_q).max() < 1e-9


@pytest.mark.usefixtures("spark")
def test_runs_hot_user_bounded(spark):
    """runs' bounded two-phase plan (forced: 10^6 events is under
    SMALL_CUTOFF) matches the classic one-window lag + cumulative sum
    on a pathological 10^6-event single user, with a break predicate
    over a non-time column, while phase-1 tasks stay bounded by the
    (user, bucket) group."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from covertree_spark.operators.sessions import runs

    n = 1_000_000
    bucket_us = 7_200_000_000
    # one event per minute, every 37th event after an extra 3 h silence;
    # the cell changes every 53 events
    us = F.col("id") * F.lit(60 * 1_000_000) + F.floor(
        F.col("id") / 37
    ) * F.lit(3 * 3_600_000_000)
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.lit(7).cast("bigint").alias("user_id"),
        F.timestamp_micros(us).alias("ts"),
        F.floor(F.col("id") / 53).alias("cell"),
    )
    brk = (F.col("cell") != F.col("prev_cell")) | (
        (F.col("us") - F.col("prev_us")) > F.lit(3_600_000_000)
    )
    got = runs(ev, ["us", "cell"], brk, bucket_us, small_cutoff=0)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    lagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.lag("cell").over(w).alias("prev_cell"),
        (
            F.lag("event_id").over(w).isNull()
            | (F.lag("cell").over(w) != F.col("cell"))
            | ((us - F.lag(us).over(w)) > F.lit(3_600_000_000))
        ).cast("int").alias("st"),
    )
    want = lagged.select(
        "event_id", "prev_cell", "st",
        F.sum("st").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("bigint").alias("run"),
    )
    merged = got.select("event_id", "prev_cell", "st", "run").alias(
        "a"
    ).join(want.alias("b"), "event_id", "full")
    assert merged.count() == n
    assert (
        merged.filter(
            ~F.col("a.prev_cell").eqNullSafe(F.col("b.prev_cell"))
            | (F.col("a.st") != F.col("b.st"))
            | F.col("a.run").isNull()
            | (F.col("a.run") != F.col("b.run"))
        ).count()
        == 0
    )
    # cell changes add runs: gap breaks alone give n / 37
    assert want.agg(F.max("run")).first()[0] > n // 37
    # task-size contract: minute cadence -> <= 120 events per 2h bucket
    assert got.groupBy(
        F.floor(F.col("us") / bucket_us)
    ).count().agg(F.max("count")).first()[0] <= 120


@pytest.mark.usefixtures("spark")
def test_chunk_dedup_byte_identity(spark):
    """The split->chunk->rejoin pipeline must be byte-identical where
    nothing is dropped: every document whose chunks are all corpus-
    first occurrences comes back EXACTLY (the input_hint invariant —
    byte-identical text through all stages); and the kept-chunk count
    is the doc's chunk count minus later-occurrence drops."""
    import math

    from covertree_spark.queries import CHUNK_W, q_chunk_dedup
    from covertree_spark.sources import tables as src

    docs = {
        r["doc_id"]: r["text"]
        for r in src.load_table(spark, SF_DIR, "documents").collect()
    }
    out = {
        r["doc_id"]: (r["n_kept"], r["dedup_text"])
        for r in q_chunk_dedup(spark, SF_DIR).collect()
    }
    # first-occurrence semantics recomputed independently in python
    seen: set[str] = set()
    intact = dropped_docs = 0
    for doc_id in sorted(docs):
        words = docs[doc_id].split(" ")
        chunks = [
            " ".join(words[i * CHUNK_W:(i + 1) * CHUNK_W])
            for i in range(math.ceil(len(words) / CHUNK_W))
        ]
        kept = []
        for c in chunks:
            if c not in seen:
                seen.add(c)
                kept.append(c)
        if not kept:
            assert doc_id not in out
            continue
        n_kept, text = out[doc_id]
        assert n_kept == len(kept), doc_id
        assert text == " ".join(kept), doc_id
        if len(kept) == len(chunks):
            assert text == docs[doc_id], doc_id  # byte-identical
            intact += 1
        else:
            dropped_docs += 1
    assert intact > 0 and dropped_docs > 0  # both paths exercised


@pytest.mark.usefixtures("spark")
def test_travel_speed_threshold_discriminates(spark):
    """The plausibility ceiling must split the fixture (some segments
    flagged, some not) — a threshold outside the data range would make
    the oracle row vacuous."""
    from covertree_spark.queries import q_travel_speed

    from pyspark.sql import functions as F

    agg = q_travel_speed(spark, SF_DIR).agg(
        F.sum("n_segments"), F.sum("n_implausible")
    ).first()
    n_seg, n_bad = int(agg[0]), int(agg[1])
    assert 0 < n_bad < n_seg
