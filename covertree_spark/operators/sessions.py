"""Per-user runs with a HOT-KEY-BOUNDED two-phase plan.

One operator, ``runs``, serves the session family: it orders each
user's events by (us, event_id), lags chosen columns, flags every
event whose break predicate holds against its predecessor, and
prefix-sums the flags into a 1-based run index. Sessionization (a
time gap), trip segmentation (a gap or a great-circle jump) and stay
points (a gap or a cell change) are each one ``runs`` call plus an
aggregate. ``consecutive_pairs`` is the same bucket-and-stitch shape
for the lag alone, for queries that consume predecessor pairs.

The classic formulation — one window partitioned by user — is correct
but puts a user's ENTIRE history in one task: a bot account with 10^8
events is a straggler no cell-splitting machinery reaches. Above
``SMALL_CUTOFF`` rows the operator runs a two-phase shape instead
(per-bucket runs + boundary stitch):

  phase 1: events salt into (user, time-bucket) groups; the one-window
    plan runs inside each bucket — lags, break flags and the local
    cumulative flag count. The bucket's first event has no local
    predecessor and counts as a start — provisionally. Task size is
    bounded by the largest single (user, bucket) — the engine's
    documented contract: the bound is max per-user events per
    ``bucket_us`` window, not per-user total.

  phase 2 (the stitch): ONE ROW PER (user, bucket) — the first and
    last event (us, event_id and the lagged columns) + local start
    count — flows through a per-user window over BUCKET SUMMARIES
    (cardinality = time-range / bucket_us, independent of event
    count). Buckets partition time, so the previous event globally IS
    the last event of the previous non-empty bucket: lag over the
    summaries gives each bucket's first event its true predecessor,
    the break predicate evaluated on that pair gives the correction
    delta (0: really a start, -1: a run continuing across the
    boundary), and a prefix sum of corrected start counts gives each
    bucket's run offset.

  final: ONE join back on (user, bucket); an event's run index =
    bucket offset + its local cumulative count, and each bucket's
    first event takes the stitched predecessor values and true flag.
    Microsecond-exact integer arithmetic throughout — identical
    answers to the one-window plan (parity-tested; the catalog
    oracles are unchanged).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# DATA-ADAPTIVE dial (the components.py / graph_iter.py small-path
# discipline applied to the session family): the two-phase plan exists
# to BOUND the largest task by the largest (user, time-bucket) group.
# When the WHOLE input is at most this many rows, the classic
# one-window plan's largest task is bounded by the same number — the
# hot-key contract holds trivially — and its single exchange replaces
# the two-phase's exchanges + stitch join (measured: the bucket
# machinery is ~2x the wall of the one-window plan at bench scale,
# pure fixed-latency stages). Above the cutoff (any 100 TB event
# stream) the two-phase shape runs unchanged. Both shapes are
# parity-tested identical (test_sessions_r6). Operators read it at
# call time, so setting the module constant moves every caller.
SMALL_CUTOFF = 2_000_000


def _is_small(
    events: DataFrame, n_hint: int | None, small_cutoff: int | None
) -> bool:
    """The adaptive dial: the caller's row-count hint, else one count
    job (cheap for scan-only frames — parquet row-group metadata;
    callers with derived inputs pass ``n_hint`` so the probe never
    executes a subplan twice), against ``small_cutoff`` (default: the
    module's ``SMALL_CUTOFF``)."""
    cutoff = SMALL_CUTOFF if small_cutoff is None else small_cutoff
    n = events.count() if n_hint is None else int(n_hint)
    return n <= cutoff


def _local_runs(
    ev: DataFrame, cols: list[str], brk: Column, keys: list[str]
) -> DataFrame:
    """The one-window plan over ``keys`` partitions: adds ``_head``
    (the partition's first event), ``prev_<col>``, ``st`` and the
    running flag count ``run``."""
    w = Window.partitionBy(*keys).orderBy(
        F.col("us").asc(), F.col("event_id").asc()
    )
    lagged = ev.select(
        "*",
        (F.row_number().over(w) == 1).alias("_head"),
        *[F.lag(c).over(w).alias(f"prev_{c}") for c in cols],
    )
    return lagged.withColumn("st", _flag(F.col("_head"), brk)).withColumn(
        "run",
        F.sum("st")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"),
    )


def _flag(head: Column, brk: Column) -> Column:
    """1 if the event starts a run: it has no predecessor, or ``brk``
    holds (a NULL predicate counts as a break)."""
    return F.when(head | F.coalesce(brk, F.lit(True)), F.lit(1)).otherwise(
        F.lit(0)
    )


def runs(
    events: DataFrame,
    cols: list[str],
    brk: Column,
    bucket_us: int,
    n_hint: int | None = None,
    small_cutoff: int | None = None,
) -> DataFrame:
    """Every event of ``events`` (which carries ``user_id``,
    ``event_id`` and ``ts``; all columns pass through) plus ``us`` (the
    microsecond timestamp), ``prev_<col>`` for each name in ``cols``
    (the same-user predecessor's value under the (us, event_id) order;
    NULL for a user's first event), the break flag ``st`` (0/1) and
    the 1-based run index ``run``.

    ``brk`` is one Column expression over column NAMES — ``user_id``,
    ``us``, ``event_id``, each of ``cols`` and its ``prev_<col>`` —
    that is true where an event starts a new run, e.g.
    ``(F.col("us") - F.col("prev_us") > gap) |
    (F.col("cell") != F.col("prev_cell"))``. A user's first event
    always starts a run. Ordering ties break on ``event_id`` (ties
    never span buckets: the bucket is a pure function of ``us``).

    ``n_hint``: callers whose ``events`` is a DERIVED frame (joins,
    UDF stages) should pass the known row count — the adaptive probe
    would otherwise execute the subplan an extra time."""
    ev = events.select(
        "*", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    if _is_small(events, n_hint, small_cutoff):
        return _local_runs(ev, cols, brk, ["user_id"]).drop("_head")

    # a non-nullable bucket (NULL timestamps sort first, as in the
    # one-window plan): the join below then infers no not-null filter
    # on the event side alone, and the summary side reuses its exchange
    bkt = F.coalesce(
        F.floor(F.col("us") / F.lit(int(bucket_us))), F.lit(-(1 << 63))
    )
    loc = _local_runs(
        ev.withColumn("_bkt", bkt), cols, brk, ["user_id", "_bkt"]
    )
    # struct order = the (us, event_id) event order, so min/max pick the
    # bucket's first and last event
    fields = list(dict.fromkeys(["us", "event_id", *cols]))
    row = F.struct(*fields)
    summ = loc.groupBy("user_id", "_bkt").agg(
        F.min(row).alias("_first"),
        F.max(row).alias("_last"),
        F.sum("st").alias("_starts"),
    )
    w_user = Window.partitionBy("user_id").orderBy(F.col("_bkt").asc())
    # each bucket's first event against its true predecessor (the
    # previous non-empty bucket's last event), under the caller's names
    pair = summ.select(
        "user_id", "_bkt", "_starts",
        F.lag("_last").over(w_user).alias("_prev"),
        *[F.col(f"_first.{c}").alias(c) for c in fields],
    ).select(
        "user_id", "_bkt", "_starts", "_prev",
        *fields,
        *[F.col(f"_prev.{c}").alias(f"prev_{c}") for c in cols],
    )
    # phase 1 counted the first event as a start; the correction is
    # 0 (really a start) or -1 (a run continuing across the boundary)
    stitched = pair.withColumn(
        "_delta", _flag(F.col("_prev").isNull(), brk) - F.lit(1)
    )
    offsets = stitched.select(
        "user_id", "_bkt", "_prev",
        (F.col("_delta") + F.lit(1)).alias("_first_st"),
        (
            F.coalesce(
                F.sum(F.col("_starts") + F.col("_delta")).over(
                    w_user.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
            + F.col("_delta")
        ).alias("_off"),
    )
    head = F.col("_head")
    return loc.join(offsets, ["user_id", "_bkt"]).select(
        *ev.columns,
        *[
            F.when(head, F.col(f"_prev.{c}"))
            .otherwise(F.col(f"prev_{c}"))
            .alias(f"prev_{c}")
            for c in cols
        ],
        F.when(head, F.col("_first_st")).otherwise(F.col("st")).alias("st"),
        (F.col("_off") + F.col("run")).cast("bigint").alias("run"),
    )


def sessionize(
    events: DataFrame,
    gap_us: int,
    bucket_us: int | None = None,
    n_hint: int | None = None,
    small_cutoff: int | None = None,
) -> DataFrame:
    """(event_id, user_id, sess) with sess = 1-based session index per
    user; a gap > ``gap_us`` microseconds starts a new session — the
    gap-rule call of ``runs``. ``bucket_us`` defaults to 4x the gap —
    coarse enough that human-scale users occupy few buckets, fine
    enough to salt a bot's firehose."""
    if bucket_us is None:
        bucket_us = 4 * gap_us
    r = runs(
        events.select("event_id", "user_id", "ts"),
        ["us"],
        (F.col("us") - F.col("prev_us")) > F.lit(int(gap_us)),
        bucket_us,
        n_hint=n_hint,
        small_cutoff=small_cutoff,
    )
    return r.select("event_id", "user_id", F.col("run").alias("sess"))


def sessionize_single_window(events: DataFrame, gap_us: int) -> DataFrame:
    """The classic one-window formulation — correct at human-scale
    per-user cardinality, unbounded task size on a hot key. Kept as
    the independent parity reference for ``runs``."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = us - F.lag(us).over(w)
    new_sess = F.when(
        gap.isNull() | (gap > F.lit(int(gap_us))), F.lit(1)
    ).otherwise(F.lit(0))
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.select(
        "event_id",
        "user_id",
        F.sum(new_sess).over(wcum).cast("bigint").alias("sess"),
    )


def consecutive_pairs(
    events: DataFrame,
    bucket_us: int,
    n_hint: int | None = None,
    small_cutoff: int | None = None,
) -> DataFrame:
    """(user_id, event_id, prev_id, us, prev_us) for every event that
    HAS a same-user predecessor under the (ts, event_id) order — the
    lag(1) / trajectory-segment primitive (``us`` = the event's
    microsecond timestamp, ``prev_us`` = the predecessor's, so
    consumers get the segment's time gap for free), with the SAME
    hot-key-bounded two-phase shape as ``runs``:

      phase 1: a local lag inside each (user, time-bucket) window
        resolves every event except each bucket's first; task size is
        bounded by the largest single (user, bucket).
      phase 2: ONE ROW PER (user, bucket) — the bucket's last
        (us, id) — flows through a per-user window over bucket
        summaries; lag over THAT gives the previous non-empty bucket's
        last event, which globally precedes this bucket's first
        (buckets partition time; ts ties share a bucket by
        construction, so cross-bucket ties cannot occur).

    Each user's globally-first event appears in no output row (it has
    no predecessor) — same convention as SQL lag + IS NOT NULL."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    if _is_small(events, n_hint, small_cutoff):
        # one-window small path (see SMALL_CUTOFF): same (us, id)
        # per-user order, same lag semantics, one exchange
        w = Window.partitionBy("user_id").orderBy(
            F.col("us").asc(), F.col("event_id").asc()
        )
        return (
            events.select("user_id", "event_id", us.alias("us"))
            .select(
                "user_id", "event_id", "us",
                F.lag("event_id").over(w).alias("prev_id"),
                F.lag("us").over(w).alias("prev_us"),
            )
            .filter(F.col("prev_id").isNotNull())
            .select("user_id", "event_id", "prev_id", "us", "prev_us")
        )
    ev = events.select(
        F.col("event_id").alias("_eid"),
        F.col("user_id").alias("_uid"),
        us.alias("_us"),
    ).withColumn("_bkt", F.floor(F.col("_us") / F.lit(int(bucket_us))))
    w = Window.partitionBy("_uid", "_bkt").orderBy(
        F.col("_us").asc(), F.col("_eid").asc()
    )
    loc = ev.select(
        "*",
        F.lag("_eid").over(w).alias("_peid"),
        F.lag("_us").over(w).alias("_pus"),
        F.row_number().over(w).alias("_rn"),
    )
    resolved = loc.filter(F.col("_peid").isNotNull()).select(
        F.col("_uid").alias("user_id"),
        F.col("_eid").alias("event_id"),
        F.col("_peid").alias("prev_id"),
        F.col("_us").alias("us"),
        F.col("_pus").alias("prev_us"),
    )
    summ = ev.groupBy("_uid", "_bkt").agg(
        F.max(F.struct(F.col("_us"), F.col("_eid"))).alias("_last")
    )
    ws = Window.partitionBy("_uid").orderBy(F.col("_bkt").asc())
    carry = summ.select(
        "_uid", "_bkt", F.lag("_last").over(ws).alias("_plast")
    )
    stitched = (
        loc.filter(F.col("_rn") == 1)
        .join(carry, ["_uid", "_bkt"])
        .filter(F.col("_plast").isNotNull())
        .select(
            F.col("_uid").alias("user_id"),
            F.col("_eid").alias("event_id"),
            F.col("_plast._eid").alias("prev_id"),
            F.col("_us").alias("us"),
            F.col("_plast._us").alias("prev_us"),
        )
    )
    return resolved.unionByName(stitched)
