"""Join extensions: as-of (temporal) join and range-join helpers.

The reference never joins across time explicitly — its "as-of" semantics
are by construction (features and labels pre-partitioned by week, joined
on equal partition keys; SURVEY.md §2.E4, utils/dag_functions.py:554-578).
The engine generalizes this to a true as-of join.

Implementation choice: the union + ordered-window trick, NOT a range
cross-join. One shuffle on the equality keys, one in-partition sort —
this survives 100 TB because cost is O(n log n) per key-partition with no
row multiplication. (A range-condition join would degrade to
BroadcastNestedLoopJoin or explode row counts.)

Skew note: a hot equality key concentrates one window partition; AQE does
not split window skew — pre-salt the key and as-of within salt buckets if
a single key exceeds an executor's partition budget.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
    allow_exact_matches: bool = True,
    tolerance_s: int | None = None,
) -> DataFrame:
    """For each left row, attach the payload of the closest right row at
    or before (``backward``) / at or after (``forward``) its timestamp,
    per equality-key group.

    ``right``'s non-key, non-ts columns become the payload and must not
    collide with left column names (rename before calling). Ties among
    right rows with identical timestamps resolve by their sort order —
    add a tiebreak column to ``right_ts`` ordering via a composite column
    if full determinism across equal timestamps is required.

    NULL semantics: the payload is carried as ONE struct, so the whole
    closest right row is taken atomically — a matched right row whose
    payload column is NULL yields NULL for that column (merge_asof
    semantics), never a value inherited from an older/newer right row.
    """
    if direction == "nearest":
        return _asof_nearest(
            left, right, on, left_ts, right_ts, allow_exact_matches, tolerance_s
        )
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction}"
        )

    payload = [c for c in right.columns if c not in on and c != right_ts]
    # Tag order controls exact-match inclusion: for backward, right rows
    # sort before left at equal ts iff exact matches are allowed.
    right_first = allow_exact_matches if direction == "backward" else not allow_exact_matches
    rt = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(0 if right_first else 2).alias("__tag"),
        F.struct(
            F.col(right_ts).alias("__rts"), *[F.col(c) for c in payload]
        ).alias("__payload"),
    )
    lt = left.withColumn("__ts", F.col(left_ts)).withColumn("__tag", F.lit(1))
    unioned = lt.unionByName(rt, allowMissingColumns=True)

    base = Window.partitionBy(*on).orderBy("__ts", "__tag")
    if direction == "backward":
        w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        picked = F.last(F.col("__payload"), ignorenulls=True).over(w)
    else:
        w = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        picked = F.first(F.col("__payload"), ignorenulls=True).over(w)

    out = unioned.withColumn("__payload", picked).filter(F.col("__tag") == 1)
    if tolerance_s is not None:
        diff = _gap_fn(left, left_ts)
        gap = (
            diff("__ts", "__payload.__rts")
            if direction == "backward"
            else diff("__payload.__rts", "__ts")
        )
        out = out.withColumn(
            "__payload",
            F.when(gap <= F.lit(tolerance_s), F.col("__payload")),
        )
    return (
        out.withColumns({c: F.col(f"__payload.{c}") for c in payload})
        .drop("__ts", "__tag", "__payload")
    )


def _gap_fn(left: DataFrame, left_ts: str):
    """Gap expression builder matched to the ts dtype: timestamp
    columns go through the NTZ-safe seconds_between; plain numeric
    event-time columns subtract directly (same units as tolerance_s)."""
    if dict(left.dtypes)[left_ts].startswith("timestamp"):
        from mle_proj_datapipeline_spark.functions.core import seconds_between

        return seconds_between
    return lambda end, start: F.col(end) - F.col(start)


def _asof_nearest(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    allow_exact_matches: bool,
    tolerance_s: int | None,
) -> DataFrame:
    """merge_asof(direction="nearest"): closest right row on EITHER
    side, distance ties resolving backward (pandas semantics). Right
    rows enter the union TWICE (a backward-visible and a forward-
    visible copy whose sort tags encode the exact-match rule), so one
    Exchange + one sort serves both direction picks; cost is one extra
    right-side shuffle copy, never a range join."""
    diff = _gap_fn(left, left_ts)
    payload = [c for c in right.columns if c not in on and c != right_ts]
    pstruct = F.struct(F.col(right_ts).alias("__rts"), *[F.col(c) for c in payload])
    # Visibility tags vs the left tag 1 at equal ts: backward window
    # ends at currentRow (sees tags < 1), forward starts there.
    tag_b = 0 if allow_exact_matches else 2
    tag_f = 2 if allow_exact_matches else 0
    rb = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(tag_b).alias("__tag"),
        pstruct.alias("__pb"),
    )
    rf = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(tag_f).alias("__tag"),
        pstruct.alias("__pf"),
    )
    lt = left.withColumn("__ts", F.col(left_ts)).withColumn("__tag", F.lit(1))
    unioned = lt.unionByName(rb, allowMissingColumns=True).unionByName(
        rf, allowMissingColumns=True
    )

    base = Window.partitionBy(*on).orderBy("__ts", "__tag")
    bwin = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fwin = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    out = (
        unioned.withColumn("__b", F.last("__pb", ignorenulls=True).over(bwin))
        .withColumn("__f", F.first("__pf", ignorenulls=True).over(fwin))
        .filter(F.col("__tag") == 1)
    )
    db = diff("__ts", "__b.__rts")
    df = diff("__f.__rts", "__ts")
    b_ok = F.col("__b").isNotNull() & (
        F.lit(True) if tolerance_s is None else db <= F.lit(tolerance_s)
    )
    f_ok = F.col("__f").isNotNull() & (
        F.lit(True) if tolerance_s is None else df <= F.lit(tolerance_s)
    )
    pick = (
        F.when(b_ok & f_ok, F.when(df < db, F.col("__f")).otherwise(F.col("__b")))
        .when(b_ok, F.col("__b"))
        .when(f_ok, F.col("__f"))
    )
    return (
        out.withColumn("__pick", pick)
        .withColumns({c: F.col(f"__pick.{c}") for c in payload})
        .drop("__ts", "__tag", "__pb", "__pf", "__b", "__f", "__pick")
    )


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_lo: str,
    right_hi: str,
    bucket_width: float,
    on: list[str] | None = None,
    max_span_buckets: int = 4096,
) -> DataFrame:
    """Point-in-interval join via bucketing: both sides emit integer
    buckets of width ``bucket_width``; intervals explode to the buckets
    they span; the join becomes an equi-join on (keys…, bucket) followed
    by the exact range filter.

    Turns an O(n·m) nested-loop range join into a shuffled hash join —
    the standard trick when Spark lacks a native band join. Choose
    ``bucket_width`` near the typical interval length so each interval
    spans O(1) buckets.

    Bounded fan-out (round-9 NaN/Inf fuzz find): ``sequence(lo_bucket,
    hi_bucket)`` is sized by DATA — one interval with a non-finite
    endpoint (or a span wider than ``max_span_buckets`` buckets) used to
    materialize an unbounded bucket array and kill the whole job
    (COLLECTION_SIZE_LIMIT_EXCEEDED). Such intervals now route to a
    FALLBACK ARM: a plain equi-join on the keys with the same exact
    range predicate — identical semantics (non-finite endpoints compare
    the same way in the predicate either arm), cost bounded by
    |degenerate intervals| × |same-key points| instead of unbounded
    array memory. Non-finite left points can only ever match
    non-finite-endpoint intervals (NaN/±Inf fail every finite-bound
    comparison in both Spark and DuckDB), so the bucketed arm keeps
    finite points only and the fallback arm scans the full left side.
    NULL endpoints/points match nothing in either arm — the exact
    predicate is never true on NULL — preserving the original drop
    semantics. Clean data takes the bucketed arm exclusively; the
    fallback arm is empty and prunes to a zero-row hash join.
    """
    on = on or []
    inf = float("inf")

    def _finite(c: Column) -> Column:
        d = c.cast("double")
        return ~F.isnan(d) & (d != F.lit(inf)) & (d != F.lit(-inf))

    lo, hi = F.col(right_lo), F.col(right_hi)
    # Span test in DOUBLE space, never floor/BIGINT: floor(double) on a
    # huge-but-finite endpoint (~1e300) saturates to Long.MIN/MAX, and
    # the BIGINT subtraction then overflows — ARITHMETIC_OVERFLOW under
    # ANSI (a whole-job kill from one poisoned row), silent wraparound
    # (guard bypassed, unbounded sequence() back) without. Double
    # arithmetic cannot overflow: an oversized span goes to +Inf (or
    # Inf−Inf = NaN), both of which fail `< max_span_buckets` and route
    # to the fallback arm. floors below then only ever evaluate on rows
    # already proven narrow. The `- 1` absorbs the worst-case bucket
    # misalignment (floor-difference ≤ double-span + 1).
    span_ok = (
        _finite(lo)
        & _finite(hi)
        & (
            hi / F.lit(bucket_width) - lo / F.lit(bucket_width)
            < F.lit(float(max_span_buckets - 1))
        )
    )
    exact = (F.col(left_point) >= lo) & (F.col(left_point) <= hi)

    lb = left.filter(_finite(F.col(left_point))).withColumn(
        "__bucket", F.floor(F.col(left_point) / F.lit(bucket_width))
    )
    rb = right.filter(span_ok).withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(lo / F.lit(bucket_width)),
                F.floor(hi / F.lit(bucket_width)),
            )
        ),
    )
    bucketed = lb.join(rb, on + ["__bucket"]).drop("__bucket")
    # ~span_ok is NULL for NULL endpoints -> those rows join nothing in
    # either arm, matching the exact predicate's NULL semantics.
    # Degenerate intervals are rare data-quality rows by contract, so
    # the fallback side broadcasts (keyless form must anyway: the
    # engine policy bans non-broadcast cross joins).
    degenerate = right.filter(~span_ok)
    fallback = (
        left.join(F.broadcast(degenerate), on)
        if on
        else left.crossJoin(F.broadcast(degenerate))
    )
    return bucketed.unionByName(fallback).filter(exact)


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
) -> DataFrame:
    """MERGE INTO emulation without Delta (v1 image has no lake-format
    jars): updates win on key collision, unmatched target rows survive —
    updates ∪ (target ⟕anti updates).

    Scale: one broadcast-able anti join (updates are normally ≪ target).
    The target never shuffles when updates broadcast. Rewriting only
    affected partitions is the sink's job (dynamic partition overwrite)."""
    survivors = target.join(F.broadcast(updates.select(*keys)), keys, "left_anti")
    return survivors.unionByName(updates)


def temporal_proximity_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    max_gap: str = "1 hour",
) -> DataFrame:
    """Inner interval join: every (left, right) pair sharing the equality
    keys with ``right_ts`` in (``left_ts`` − max_gap, ``left_ts``] — the
    ALL-matches sibling of ``asof_join`` (which keeps only the closest).

    The same expression works on batch AND streaming inputs: on streams,
    put a watermark on both sides and Spark's stream-stream join uses
    the range bound to evict state (each side retains at most
    watermark + max_gap of history — bounded state, unlike an
    unconstrained stream join which buffers forever).

    Scale: equi-join shuffle on the equality keys; the range predicate
    is evaluated post-match, so cost is Σ per-key (left × right-in-gap),
    not a cross join. Hot keys: salt the equality key or tighten max_gap.
    """
    lft, rgt = left.alias("l"), right.alias("r")
    cond = F.lit(True)
    for k in on:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    cond = (
        cond
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {max_gap}"))
    )
    keep = [F.col(f"l.{c}") for c in left.columns] + [
        F.col(f"r.{c}") for c in right.columns if c not in on
    ]
    return lft.join(rgt, cond, "inner").select(*keep)
