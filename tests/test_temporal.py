"""As-of join + sessionization (operators/temporal.py): exact semantics
on hand data, and the one-exchange plan shape pinned."""

import datetime as dt

from pyspark.sql import functions as F

from dbimport_spark.operators.temporal import asof_join, sessionize
from dbimport_spark.session import local_frame


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _quotes(spark):
    # right side: per-key quote history
    return local_frame(
        spark,
        [
            ("a", _ts("2024-01-01 10:00:00"), 100),
            ("a", _ts("2024-01-01 10:00:05"), 105),
            ("a", _ts("2024-01-01 10:01:00"), 110),
            ("b", _ts("2024-01-01 10:00:02"), 200),
        ],
        "k string, ts timestamp, px int",
    )


def _trades(spark):
    # left side: events to enrich
    return local_frame(
        spark,
        [
            (1, "a", _ts("2024-01-01 10:00:03")),   # latest quote <= : 10:00:00
            (2, "a", _ts("2024-01-01 10:00:05")),   # equal ts is INCLUSIVE: 105
            (3, "a", _ts("2024-01-01 09:59:59")),   # before any quote: NULL
            (4, "b", _ts("2024-01-01 11:00:00")),   # only quote, 1h earlier
            (5, "c", _ts("2024-01-01 10:00:00")),   # key with no quotes: NULL
        ],
        "id int, k string, ts timestamp",
    )


def _rows(df):
    return {
        r["id"]: (r.asDict().get("px"), r.asDict().get("ts_r"))
        for r in df.collect()
    }


def test_asof_backward_inclusive(spark):
    out = asof_join(
        _trades(spark), _quotes(spark), on="k", left_ts="ts",
        right_cols=["ts", "px"],
    )
    # collided right 'ts' got the suffix; non-colliding 'px' kept its name
    assert set(out.columns) == {"id", "k", "ts", "ts_r", "px"}
    got = _rows(out)
    assert got[1] == (100, _ts("2024-01-01 10:00:00"))
    assert got[2] == (105, _ts("2024-01-01 10:00:05"))  # inclusive at equal ts
    assert got[3] == (None, None)
    assert got[4] == (200, _ts("2024-01-01 10:00:02"))
    assert got[5] == (None, None)


def test_asof_forward(spark):
    out = asof_join(
        _trades(spark), _quotes(spark), on="k", left_ts="ts",
        direction="forward", right_cols=["ts", "px"],
    )
    got = _rows(out)
    assert got[1] == (105, _ts("2024-01-01 10:00:05"))  # earliest quote >=
    assert got[2] == (105, _ts("2024-01-01 10:00:05"))  # inclusive
    assert got[3] == (100, _ts("2024-01-01 10:00:00"))
    assert got[4] == (None, None)                        # nothing after 11:00
    assert got[5] == (None, None)


def test_asof_tolerance(spark):
    out = asof_join(
        _trades(spark), _quotes(spark), on="k", left_ts="ts",
        tolerance=10.0, right_cols=["ts", "px"],
    )
    got = _rows(out)
    assert got[1] == (100, _ts("2024-01-01 10:00:00"))  # 3s away: kept
    assert got[4] == (None, None)                        # 1h away: cut off


def test_asof_single_exchange(spark):
    from tests.test_plans import explain_str

    plan = explain_str(
        asof_join(
            _trades(spark), _quotes(spark), on="k", left_ts="ts",
            right_cols=["px"],
        ),
        mode="simple",
    )
    # union -> ONE hash exchange on the key -> sort -> window; no join node
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_sessionize_exact(spark):
    ev = local_frame(
        spark,
        [
            ("u1", _ts("2024-01-01 10:00:00"), 1),
            ("u1", _ts("2024-01-01 10:10:00"), 2),   # 600s gap: same session
            ("u1", _ts("2024-01-01 10:40:00"), 3),   # exactly 1800s: SAME (strict >)
            ("u1", _ts("2024-01-01 11:40:01"), 4),   # 3601s: new session
            ("u2", _ts("2024-01-01 10:00:00"), 5),   # other key: own ordinal
        ],
        "user string, ts timestamp, id int",
    )
    out = sessionize(ev, "user", "ts", gap=1800, order_cols=["id"])
    got = {r["id"]: r["session_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 1}


def test_sessionize_numeric_ts_and_single_exchange(spark):
    from tests.test_plans import explain_str

    ev = local_frame(
        spark,
        [("a", 0, 1), ("a", 50, 2), ("a", 151, 3)], "k string, t long, id int"
    )
    out = sessionize(ev, "k", "t", gap=100, order_cols=["id"])
    # explain BEFORE executing: post-run AQE explain prints final+initial
    # plans, double-counting the one exchange
    plan = explain_str(out, mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    got = {r["id"]: r["session_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 2}  # 101 > 100 starts a session


def test_asof_matches_duckdb_on_events(spark):
    """The gate's semantics pinned locally against DuckDB's native ASOF
    LEFT JOIN over the same parquet."""
    import os

    import duckdb
    import pytest

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.01")
    if not os.path.exists(f"{sf_dir}/events.parquet"):
        pytest.skip("no testdata")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    l = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    r = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = asof_join(
        l, r, on="user_id", left_ts="ts", right_cols=["ts", "value"]
    ).select(
        "event_id",
        F.unix_micros(F.col("ts_r").cast("timestamp")).alias("click_us"),
        F.floor(F.col("value") * 100).alias("click_cents"),
    )
    got = {
        r["event_id"]: (r["click_us"], r["click_cents"]) for r in out.collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    want = {
        row[0]: (row[1], row[2])
        for row in con.execute(
            """
            SELECT l.event_id, epoch_us(r.ts),
                   CAST(FLOOR(r.value * 100) AS BIGINT)
            FROM (SELECT * FROM events WHERE event_type='purchase') l
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='click') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
            """
        ).fetchall()
    }
    assert got == want


# -- range_join ---------------------------------------------------------------


def _intervals(spark):
    return local_frame(
        spark,
        [
            ("w1", 10, 20),
            ("w2", 20, 30),          # adjacent: p=20 belongs here under [)
            ("w3", 15, 25),          # overlaps w1 and w2
            ("w4", 40, 40),          # empty under [), single point under []
            ("w5", 50, 45),          # degenerate lo>hi: matches nothing
        ],
        "name string, lo long, hi long",
    )


def _points(spark):
    return local_frame(
        spark,
        [(1, 10), (2, 20), (3, 24), (4, 40), (5, 99)], "id int, p long"
    )


def _pairs(df):
    return {(r["id"], r["name"]) for r in df.collect()}


def test_range_join_bounds(spark):
    from dbimport_spark.operators.temporal import range_join

    got = _pairs(range_join(_points(spark), _intervals(spark), "p", "lo", "hi",
                            bin_width=7))
    assert got == {
        (1, "w1"),            # 10 in [10,20)
        (2, "w2"), (2, "w3"), # 20 in [20,30) and [15,25), NOT [10,20)
        (3, "w2"), (3, "w3"), # 24 in [20,30) and [15,25)
    }
    got_closed = _pairs(
        range_join(_points(spark), _intervals(spark), "p", "lo", "hi",
                   bin_width=7, bounds="[]")
    )
    assert got_closed == {
        (1, "w1"), (2, "w1"), (2, "w2"), (2, "w3"), (3, "w2"), (3, "w3"),
        (4, "w4"),
    }
    got_open = _pairs(
        range_join(_points(spark), _intervals(spark), "p", "lo", "hi",
                   bin_width=7, bounds="()")
    )
    assert got_open == {(2, "w3"), (3, "w2"), (3, "w3")}


def test_range_join_bin_width_invariance(spark):
    from dbimport_spark.operators.temporal import range_join

    base = _pairs(range_join(_points(spark), _intervals(spark), "p", "lo", "hi",
                             bin_width=7))
    for w in (1, 3, 100):
        assert _pairs(
            range_join(_points(spark), _intervals(spark), "p", "lo", "hi",
                       bin_width=w)
        ) == base, f"bin_width={w} changed the result"


def test_range_join_no_nested_loop(spark):
    from tests.test_plans import explain_str

    from dbimport_spark.operators.temporal import range_join

    out = range_join(_points(spark), _intervals(spark), "p", "lo", "hi",
                     bin_width=7)
    plan = explain_str(out, mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_join_with_keys_matches_duckdb(spark):
    """Equi+range compose: purchases attributed to the same user's click
    windows [ts, ts+30min), pinned against a DuckDB inequality join."""
    import os

    import duckdb
    import pytest

    from dbimport_spark.operators.temporal import range_join

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.01")
    if not os.path.exists(f"{sf_dir}/events.parquet"):
        pytest.skip("no testdata")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("win_lo"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("win_hi"),
    )
    out = range_join(
        purchases, clicks, "ts", "win_lo", "win_hi",
        bin_width=1800, on="user_id",
    )
    got = {(r["purchase_id"], r["click_id"]) for r in out.collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    want = set(
        con.execute(
            """
            SELECT p.event_id, c.event_id
            FROM (SELECT * FROM events WHERE event_type='purchase') p
            JOIN (SELECT * FROM events WHERE event_type='click') c
              ON p.user_id = c.user_id
             AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
            """
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_asof_null_left_ts_matches_nothing(spark):
    import pytest
    from dbimport_spark.operators.temporal import range_join

    trades = local_frame(
        spark,
        [(1, "a", None), (2, "a", _ts("2024-01-01 10:00:03"))],
        "id int, k string, ts timestamp",
    )
    for direction in ("backward", "forward"):
        out = asof_join(
            trades, _quotes(spark), on="k", left_ts="ts",
            right_cols=["px"], direction=direction,
        )
        got = {r["id"]: r["px"] for r in out.collect()}
        # the NULL-ts row never matches; forward desc ordering puts NULLs
        # last, which without the isNotNull guard inherited the earliest
        # right carry
        assert got[1] is None, direction
        assert got[2] == (100 if direction == "backward" else 105), direction

    with pytest.raises(ValueError, match="bin_width"):
        range_join(trades, _quotes(spark), "ts", "ts", "ts", bin_width=0)


def test_asof_fuzz_vs_bruteforce(spark):
    """Randomized pin of asof_join's exact semantics against an O(n^2)
    brute-force reference: NULL timestamps, equal-ts ties between sides,
    tolerance, both directions. Deterministic seeds."""
    import random

    for seed in (101, 202, 303):
        rng = random.Random(seed)
        keys = ["a", "b", "c"]
        lrows = [
            (i, rng.choice(keys),
             None if rng.random() < 0.1 else rng.randrange(0, 50))
            for i in range(60)
        ]
        rrows = [
            (rng.choice(keys),
             None if rng.random() < 0.1 else rng.randrange(0, 50),
             100 + j)
            for j in range(40)
        ]
        # unique (k, ts) on the right: ties there have an unspecified
        # winner by contract, so dedupe to keep the oracle exact
        seen, rdedup = set(), []
        for k, ts, v in rrows:
            if (k, ts) not in seen:
                seen.add((k, ts))
                rdedup.append((k, ts, v))
        left = local_frame(spark, lrows, "id int, k string, ts int")
        right = local_frame(spark, rdedup, "k string, ts int, v int")

        for direction in ("backward", "forward"):
            for tol in (None, 5):
                got = {
                    r["id"]: r["v"]
                    for r in asof_join(
                        left, right, on="k", left_ts="ts",
                        direction=direction, tolerance=tol,
                        right_cols=["v"],
                    ).collect()
                }
                for i, k, ts in lrows:
                    want = None
                    if ts is not None:
                        if direction == "backward":
                            cand = [(rts, v) for rk, rts, v in rdedup
                                    if rk == k and rts is not None
                                    and rts <= ts]
                            pick = max(cand) if cand else None
                            if pick and tol is not None and ts - pick[0] > tol:
                                pick = None
                        else:
                            cand = [(rts, v) for rk, rts, v in rdedup
                                    if rk == k and rts is not None
                                    and rts >= ts]
                            pick = min(cand) if cand else None
                            if pick and tol is not None and pick[0] - ts > tol:
                                pick = None
                        want = pick[1] if pick else None
                    assert got[i] == want, (seed, direction, tol, i, k, ts)


def test_asof_null_right_ts_never_matches(spark):
    """A NULL right timestamp matches nothing: under backward/asc window
    ordering it sorted FIRST and its carry leaked into every left row
    preceding all real right rows."""
    left = local_frame(spark, [(1, "k", 50)], "id int, k string, ts int")
    right = local_frame(
        spark,
        [("k", None, 42), ("k", 100, 7)], "k string, ts int, v int"
    )
    for direction, want in (("backward", None), ("forward", 7)):
        got = asof_join(
            left, right, on="k", left_ts="ts",
            direction=direction, right_cols=["v"],
        ).collect()[0]["v"]
        assert got == want, direction
