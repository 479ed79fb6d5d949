"""Join-operator edge paths: as-of direction/exact-match variants
(validated against pandas merge_asof — the semantics the operator
claims) and range-join boundary inclusion."""

from __future__ import annotations

import pandas as pd
import pytest

from mle_proj_datapipeline_spark.operators.joins import (
    asof_join,
    range_join_bucketed,
)

LEFT = [
    # (key, ts, lval)
    ("a", 10, "l1"),
    ("a", 20, "l2"),
    ("a", 30, "l3"),
    ("b", 15, "l4"),
    ("b", 16, "l5"),
]
RIGHT = [
    # (key, ts, payload)
    ("a", 10, "r10"),
    ("a", 25, "r25"),
    ("b", 16, "r16"),
    ("b", 40, "r40"),
]


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(LEFT, ["k", "ts", "lval"])
    right = spark.createDataFrame(RIGHT, ["k", "ts", "payload"])
    return left, right


def _pandas_asof(direction, allow_exact, tolerance=None):
    lp = pd.DataFrame(LEFT, columns=["k", "ts", "lval"]).sort_values("ts")
    rp = pd.DataFrame(RIGHT, columns=["k", "ts", "payload"]).sort_values("ts")
    out = pd.merge_asof(
        lp,
        rp,
        on="ts",
        by="k",
        direction=direction,
        allow_exact_matches=allow_exact,
        tolerance=tolerance,
    )
    return {(r.k, r.ts): (None if pd.isna(r.payload) else r.payload) for r in out.itertuples()}


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("allow_exact", [True, False])
@pytest.mark.parametrize("tolerance", [None, 5, 9, 10])
def test_asof_matches_pandas(spark, frames, direction, allow_exact, tolerance):
    left, right = frames
    got = {
        (r["k"], r["ts"]): r["payload"]
        for r in asof_join(
            left,
            right,
            on=["k"],
            left_ts="ts",
            right_ts="ts",
            direction=direction,
            allow_exact_matches=allow_exact,
            tolerance_s=tolerance,
        ).collect()
    }
    assert got == _pandas_asof(direction, allow_exact, tolerance)


def test_asof_null_payload_atomic(spark):
    """A matched right row whose payload column is NULL must yield NULL —
    the whole closest right row is taken atomically, never a per-column
    mix of different right rows (pandas merge_asof semantics)."""
    left = spark.createDataFrame([("a", 30, "l")], ["k", "ts", "lval"])
    right = spark.createDataFrame(
        [("a", 10, "r10", 1.0), ("a", 25, None, 2.0)],
        "k string, ts long, payload string, aux double",
    )
    [row] = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts", direction="backward"
    ).collect()
    # Closest right row is ts=25: payload NULL, aux 2.0 — atomically.
    assert row["payload"] is None and row["aux"] == 2.0

    lp = pd.DataFrame([("a", 30, "l")], columns=["k", "ts", "lval"])
    rp = pd.DataFrame(
        [("a", 10, "r10", 1.0), ("a", 25, None, 2.0)],
        columns=["k", "ts", "payload", "aux"],
    )
    ref = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward").iloc[0]
    assert pd.isna(ref["payload"]) and ref["aux"] == 2.0


def test_range_join_boundaries(spark):
    """Interval endpoints are inclusive; bucket width smaller than the
    interval must not drop spanning matches."""
    pts = spark.createDataFrame([(1, 0.0), (2, 5.0), (3, 10.0), (4, 10.01)], ["pid", "x"])
    ivs = spark.createDataFrame([(100, 0.0, 10.0)], ["iid", "lo", "hi"])
    got = sorted(
        r["pid"]
        for r in range_join_bucketed(
            pts, ivs, left_point="x", right_lo="lo", right_hi="hi", bucket_width=3.0
        ).collect()
    )
    assert got == [1, 2, 3]


def test_range_join_degenerate_intervals(spark):
    """Intervals with non-finite endpoints or spans past
    max_span_buckets route to the exact-predicate fallback arm instead
    of materializing an unbounded bucket array (one [-inf, inf] band
    used to be a COLLECTION_SIZE_LIMIT_EXCEEDED job killer). Semantics
    must be identical to the plain predicate join: inclusive bounds,
    NaN/±Inf compare per engine ordering (NaN greatest), NULL matches
    nothing."""
    inf = float("inf")
    nan = float("nan")
    pts = spark.createDataFrame(
        [(1, 0.0), (2, 5.0), (3, 1e12), (4, -inf), (5, nan), (6, None)],
        "pid long, x double",
    )
    ivs = spark.createDataFrame(
        [
            (100, 0.0, 10.0),       # normal band: pids 1, 2
            (200, -inf, inf),        # infinite band: finite pids 1,2,3 and -inf pid 4
            (300, 0.0, 1e12),        # huge finite span: fallback arm, pids 1,2,3
            (400, None, 10.0),       # NULL endpoint: matches nothing
            (500, 0.0, nan),         # NaN hi: hi is greatest -> finite+NaN pids
        ],
        "iid long, lo double, hi double",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join_bucketed(
            pts, ivs, left_point="x", right_lo="lo", right_hi="hi",
            bucket_width=3.0, max_span_buckets=64,
        ).collect()
    )
    # reference: plain exact-predicate join (Spark ordering: NaN greatest,
    # -inf smallest; NULL never compares true)
    ref = sorted(
        (r["pid"], r["iid"])
        for r in pts.crossJoin(ivs.withColumnRenamed("lo", "blo").withColumnRenamed("hi", "bhi"))
        .filter("x >= blo AND x <= bhi")
        .collect()
    )
    assert got == ref
    assert (1, 100) in got and (3, 300) in got and (4, 200) in got


def test_range_join_huge_finite_endpoints(spark):
    """Huge-but-FINITE endpoints (~1e300, DBL_MAX — the same
    poisoned-featurizer class the non-finite guard targets): floor(double)
    saturates to Long.MIN/MAX, so the old BIGINT span subtraction
    overflowed — ARITHMETIC_OVERFLOW under ANSI killed the whole job;
    without ANSI it wrapped negative and re-opened the unbounded
    sequence() explosion. The span test now runs in double space
    (oversized spans go to +Inf / Inf−Inf=NaN and fail the bound), so
    these rows route to the fallback arm and the job completes with
    exact-predicate semantics (ADVICE r9)."""
    dbl_max = 1.7976931348623157e308
    pts = spark.createDataFrame(
        [(1, 5.0), (2, 1e300), (3, -1e300)],
        "pid long, x double",
    )
    ivs = spark.createDataFrame(
        [
            (100, 0.0, 10.0),            # normal band: pid 1
            (200, 1e299, 1e300),         # huge finite band: pid 2
            (300, -dbl_max, dbl_max),    # full finite range: all pids
            (400, 9e299, 1.1e300),       # narrow-in-double at huge magnitude: pid 2
        ],
        "iid long, lo double, hi double",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join_bucketed(
            pts, ivs, left_point="x", right_lo="lo", right_hi="hi",
            bucket_width=3.0, max_span_buckets=64,
        ).collect()
    )
    ref = sorted(
        (r["pid"], r["iid"])
        for r in pts.crossJoin(
            ivs.withColumnRenamed("lo", "blo").withColumnRenamed("hi", "bhi")
        )
        .filter("x >= blo AND x <= bhi")
        .collect()
    )
    assert got == ref
    assert (2, 200) in got and (1, 300) in got and (2, 300) in got and (3, 300) in got


def _asof_join_salted(left, right, on, left_ts, right_ts, salt_from, n_salts, **kw):
    """Hot-key salting on top of asof_join: the left side adds a
    deterministic salt from ``salt_from`` and the right side replicates
    into every salt bucket, so each (key, salt) window holds the full
    right history for the key but only ~1/n_salts of the left rows."""
    import pyspark.sql.functions as F

    lt = left.withColumn("__salt", F.pmod(F.xxhash64(F.col(salt_from)), F.lit(n_salts)))
    rt = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<long>"))
    )
    return asof_join(
        lt, rt, on=on + ["__salt"], left_ts=left_ts, right_ts=right_ts, **kw
    ).drop("__salt")


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_salted_identical(spark, frames, direction):
    """Salting must not change a single output row — same pandas
    merge_asof semantics, windows just split by (key, salt)."""
    left, right = frames
    plain = {
        (r["k"], r["ts"], r["payload"])
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts", direction=direction
        ).collect()
    }
    salted = {
        (r["k"], r["ts"], r["payload"])
        for r in _asof_join_salted(
            left,
            right,
            on=["k"],
            left_ts="ts",
            right_ts="ts",
            salt_from="lval",
            n_salts=4,
            direction=direction,
        ).collect()
    }
    assert salted == plain and plain


def test_asof_salted_plan_splits_hot_key(spark):
    """A salted composite key must actually split a hot key's window
    across salt partitions — the Exchange feeding asof_join's window sort
    partitions on (k, __salt), and every salt bucket is non-empty on a
    synthetic 100%-hot-key fixture (so the window sort sees ~1/n_salts of
    the rows per partition instead of all of them)."""
    import pyspark.sql.functions as F

    n_salts = 4
    left = spark.createDataFrame(
        [("hot", i, (i * 7) % 50) for i in range(200)], ["k", "lval", "ts"]
    )
    right = spark.createDataFrame(
        [("hot", t, f"p{t}") for t in range(0, 50, 5)], ["k", "ts", "payload"]
    )
    out = _asof_join_salted(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        salt_from="lval", n_salts=n_salts,
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    shuffle_lines = [
        ln for ln in plan.splitlines() if "hashpartitioning" in ln and "__salt" in ln
    ]
    assert shuffle_lines, f"window shuffle does not partition on __salt:\n{plan}"

    # Runtime: the hot key's left rows land in every salt bucket.
    buckets = (
        left.withColumn("__salt", F.pmod(F.xxhash64(F.col("lval")), F.lit(n_salts)))
        .select("__salt").distinct().count()
    )
    assert buckets == n_salts


def test_asof_fuzz_matches_pandas(spark):
    """Randomized as-of parity: generated left/right tables across every
    (direction, exact, tolerance) combination must match pandas
    merge_asof. Deterministic seed-derived cases (no hypothesis Spark
    fixture interplay): 8 table shapes x 12 parameter combos."""
    import random

    for seed in range(8):
        rng = random.Random(1000 + seed)
        keys = ["a", "b", "c"][: rng.randint(1, 3)]
        left = [
            (rng.choice(keys), rng.randint(0, 40), f"l{i}")
            for i in range(rng.randint(1, 15))
        ]
        right = [
            (rng.choice(keys), rng.randint(0, 40), f"r{i}")
            for i in range(rng.randint(0, 15))
        ]
        # pandas merge_asof requires unique ordering within by-group on
        # the right for deterministic payloads; dedupe (k, ts)
        seen = set()
        right = [
            r for r in right if (r[0], r[1]) not in seen and not seen.add((r[0], r[1]))
        ]
        ldf = spark.createDataFrame(left, "k STRING, ts BIGINT, lval STRING")
        rdf = spark.createDataFrame(right, "k STRING, ts BIGINT, payload STRING")
        lp = pd.DataFrame(left, columns=["k", "ts", "lval"]).astype(
            {"ts": "int64"}
        ).sort_values("ts")
        rp = pd.DataFrame(right, columns=["k", "ts", "payload"]).astype(
            {"ts": "int64"}
        ).sort_values("ts")
        for direction in ["backward", "forward", "nearest"]:
            for exact in [True, False]:
                for tol in [None, 7]:
                    got = {
                        (r["k"], r["ts"], r["lval"]): r["payload"]
                        for r in asof_join(
                            ldf,
                            rdf,
                            on=["k"],
                            left_ts="ts",
                            right_ts="ts",
                            direction=direction,
                            allow_exact_matches=exact,
                            tolerance_s=tol,
                        ).collect()
                    }
                    out = pd.merge_asof(
                        lp,
                        rp,
                        on="ts",
                        by="k",
                        direction=direction,
                        allow_exact_matches=exact,
                        tolerance=tol,
                    )
                    want = {
                        (r.k, r.ts, r.lval): (
                            None if pd.isna(r.payload) else r.payload
                        )
                        for r in out.itertuples()
                    }
                    assert got == want, (seed, direction, exact, tol)
