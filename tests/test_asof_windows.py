"""As-of join edge semantics (things the 10k-row oracle can't pin
down individually) and window-frame edges."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F

from mapreducego_spark.operators.asof import asof_join

SF_TINY = "/root/testdata/sf0.001"


def _mk(spark):
    orders = spark.createDataFrame(
        [
            (1, dt.datetime(2020, 1, 10), 100, 10.0),
            (1, dt.datetime(2020, 1, 20), 101, 20.0),
            (1, dt.datetime(2020, 1, 20), 102, 22.0),  # same-date tie
            (2, dt.datetime(2020, 3, 1), 200, 30.0),
        ],
        ["k", "t", "oid", "price"],
    )
    events = spark.createDataFrame(
        [
            (1, dt.datetime(2020, 1, 5), "before-any"),
            (1, dt.datetime(2020, 1, 10), "exactly-at"),
            (1, dt.datetime(2020, 1, 25), "after-tie"),
            (2, dt.datetime(2020, 2, 1), "no-match-yet"),
            (3, dt.datetime(2020, 6, 1), "no-key"),
        ],
        ["k", "t", "tag"],
    )
    return events, orders


def test_asof_semantics(spark):
    events, orders = _mk(spark)
    out = {
        r.tag: r.oid
        for r in asof_join(
            events,
            orders,
            left_on="k",
            right_on="k",
            left_time="t",
            right_time="t",
            right_values=["oid", "price"],
            tie_break="oid",
        ).collect()
    }
    assert out["before-any"] is None  # nothing at or before
    assert out["exactly-at"] == 100  # <= includes equal timestamps
    assert out["after-tie"] == 102  # same-date tie -> max tie_break
    assert out["no-match-yet"] is None  # key exists, all later
    assert out["no-key"] is None  # key absent from right side


def test_asof_preserves_left_rowcount(spark):
    events, orders = _mk(spark)
    out = asof_join(
        events,
        orders,
        "k",
        "k",
        "t",
        "t",
        ["oid"],
    )
    assert out.count() == events.count()
    assert set(out.columns) == set(events.columns) | {"oid"}


def test_running_window_first_row_frames(spark):
    """rowsBetween(-2, 0) over fewer than 3 rows must average only
    what exists (no nulls, no phantom rows)."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0), (1, 3, 30.0)], ["k", "seq", "v"]
    )
    w = Window.partitionBy("k").orderBy("seq").rowsBetween(-2, 0)
    rows = (
        df.select("seq", (F.sum("v").over(w) / F.count("v").over(w)).alias("m"))
        .orderBy("seq")
        .collect()
    )
    assert [r.m for r in rows] == [10.0, 15.0, 20.0]


def test_gapfill_locf_invariants(spark):
    """Per series: hour spine is contiguous at 3600s steps from min
    to max, n_events=0 exactly on gap hours, and the filled sum
    equals the most recent real hourly sum at or before each hour."""
    from mapreducego_spark.operators.timewin import gapfill_locf

    rows = gapfill_locf(spark, "/root/testdata/sf0.001").collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    assert by_type
    for t, rs in by_type.items():
        hours = [r["hour"] for r in rs]
        assert hours == list(range(min(hours), max(hours) + 1, 3600)), t
        last_seen = None
        for r in rs:
            if r["n_events"] > 0:
                last_seen = r["sum_value_filled"]
                assert r["sum_value_filled"] is not None
            else:
                # carried forward unchanged through the gap
                assert r["sum_value_filled"] == last_seen, (t, r["hour"])


def test_event_transitions_conservation(spark):
    """Total transition count must equal sum over users of
    (events_for_user - 1) — every adjacent pair counted once."""
    from pyspark.sql import functions as F

    from mapreducego_spark.operators.timewin import event_transitions
    from mapreducego_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    total = (
        event_transitions(spark, sf)
        .agg(F.sum("n_transitions").alias("s"))
        .collect()[0]["s"]
    )
    per_user = (
        load_table(spark, sf, "events")
        .groupBy("user_id")
        .count()
        .agg(F.sum(F.col("count") - 1).alias("s"))
        .collect()[0]["s"]
    )
    assert total == per_user


def test_cohort_retention_week0_covers_all_users(spark):
    """Every user is active in their own cohort week, so the week_n=0
    diagonal must sum to the total distinct user count."""
    from pyspark.sql import functions as F

    from mapreducego_spark.operators.timewin import cohort_retention
    from mapreducego_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    grid = cohort_retention(spark, sf)
    week0 = (
        grid.filter(F.col("week_n") == 0)
        .agg(F.sum("active_users").alias("s"))
        .collect()[0]["s"]
    )
    n_users = (
        load_table(spark, sf, "events").select("user_id").distinct().count()
    )
    assert week0 == n_users
    # week_n is never negative (cohort week is the min by construction)
    assert grid.filter(F.col("week_n") < 0).count() == 0


def test_sessionize_gap_invariants(spark):
    """Per user: session ordinals are 1..k consecutive, sessions are
    time-ordered, and consecutive sessions are separated by MORE
    than the 30-minute gap (otherwise they'd be one session)."""
    from mapreducego_spark.operators.timewin import sessionize

    rows = sessionize(spark, "/root/testdata/sf0.001").collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    gap_us = 30 * 60 * 1_000_000
    assert by_user
    for u, rs in by_user.items():
        rs.sort(key=lambda r: r["session_n"])
        assert [r["session_n"] for r in rs] == list(range(1, len(rs) + 1)), u
        for a, b in zip(rs, rs[1:]):
            assert a["sess_end_us"] <= b["sess_start_us"], u
            assert b["sess_start_us"] - a["sess_end_us"] > gap_us, u
        for r in rs:
            assert r["sess_start_us"] <= r["sess_end_us"]


def test_trend_fit_recovers_planted_slope(spark, tmp_path):
    """A synthetic table with an exact linear daily count (y = 5t +
    40) must fit slope 5, intercept 40, forecast the next day
    exactly; a flat series fits slope 0."""
    import pandas as pd

    rows = []
    eid = 0
    for t in range(10):
        for _ in range(5 * t + 40):           # linear group
            rows.append(("lin", t)); eid += 1
        for _ in range(7):                    # flat group
            rows.append(("flat", t)); eid += 1
    pdf = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [
                pd.Timestamp("2024-01-01") + pd.Timedelta(days=t)
                for _, t in rows
            ],
            "user_id": 1,
            "event_type": [g for g, _ in rows],
            "value": 1.0,
            "props": "{}",
        }
    )
    pdf.to_parquet(f"{tmp_path}/events.parquet")
    from mapreducego_spark.operators.timewin import trend_fit

    got = {r.event_type: r for r in trend_fit(spark, str(tmp_path)).collect()}
    assert got["lin"].slope == 5.0
    assert got["lin"].intercept == 40.0
    assert got["lin"].forecast_next == 5.0 * 10 + 40.0
    assert got["flat"].slope == 0.0 and got["flat"].forecast_next == 7.0


def test_session_paths_orders_within_session(spark, tmp_path):
    """Paths must follow event-time order within each session and cut
    at >30-min gaps."""
    import pandas as pd

    base = pd.Timestamp("2024-01-01")
    rows = [
        # user 1, session 1: view > click > purchase
        (1, base, "view"), (1, base + pd.Timedelta("5min"), "click"),
        (1, base + pd.Timedelta("10min"), "purchase"),
        # user 1, session 2 (after 2h): view
        (1, base + pd.Timedelta("3h"), "view"),
        # user 2: same 3-step path
        (2, base, "view"), (2, base + pd.Timedelta("1min"), "click"),
        (2, base + pd.Timedelta("2min"), "purchase"),
    ]
    pdf = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [t for _, t, _ in rows],
            "user_id": [u for u, _, _ in rows],
            "event_type": [e for _, _, e in rows],
            "value": 1.0,
            "props": "{}",
        }
    )
    pdf.to_parquet(f"{tmp_path}/events.parquet")
    from mapreducego_spark.operators.timewin import session_paths

    got = {r.path: r.n_sessions for r in session_paths(spark, str(tmp_path)).collect()}
    assert got == {"view>click>purchase": 2, "view": 1}


def test_rolling_actives_window_semantics(spark, tmp_path):
    """WAU(d) = distinct users active in [d-6, d]: a user active on
    day 0 only counts toward days 0..6; two users on disjoint days
    inside one window both count."""
    import pandas as pd

    rows = [(1, 0), (2, 3), (3, 10)]
    pdf = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [
                pd.Timestamp("2024-01-01") + pd.Timedelta(days=d)
                for _, d in rows
            ],
            "user_id": [u for u, _ in rows],
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        }
    )
    pdf.to_parquet(f"{tmp_path}/events.parquet")
    from mapreducego_spark.operators.timewin import active_users_rolling

    got = {r.day: (r.dau, r.wau7) for r in active_users_rolling(spark, str(tmp_path)).collect()}
    assert got[0] == (1, 1)
    assert got[3] == (1, 2)      # users 1 and 2 both in [−3..3]
    assert got[6] == (0, 2)      # no activity day 6, window still holds both
    assert got[7] == (0, 1)      # user 1 aged out
    assert got[10] == (1, 1)
    assert max(got) == 10        # trimmed at max day


def test_join_asof_nearest_picks_the_smaller_gap(spark):
    """nearest = argmin(|gap|) over the backward and forward matches:
    cross-check against the two directional entries row by row."""
    from mapreducego_spark.operators.asof import (
        join_asof,
        join_asof_forward,
        join_asof_nearest,
    )
    from mapreducego_spark.sources.catalog import load_table

    near = {
        r["event_id"]: (r["nearest_orderkey"], r["nearest_gap_us"])
        for r in join_asof_nearest(spark, SF_TINY).collect()
    }
    back = {
        r["event_id"]: r["matched_orderkey"]
        for r in join_asof(spark, SF_TINY).collect()
    }
    fwd = {
        r["event_id"]: r["next_orderkey"]
        for r in join_asof_forward(spark, SF_TINY).collect()
    }
    ev = {
        r["event_id"]: r["ts"]
        for r in load_table(spark, SF_TINY, "events")
        .select("event_id", "ts")
        .collect()
    }
    orders = {
        r["o_orderkey"]: r["o_orderdate"]
        for r in load_table(spark, SF_TINY, "orders")
        .select("o_orderkey", "o_orderdate")
        .collect()
    }

    def gap_us(eid, okey):
        if okey is None:
            return None
        import datetime as dt

        od = orders[okey]
        ots = (
            dt.datetime.combine(od, dt.time())
            if not isinstance(od, dt.datetime)
            else od
        )
        return abs(int((ev[eid] - ots).total_seconds() * 1_000_000))

    checked = 0
    for eid, (okey, g) in near.items():
        gb, gf = gap_us(eid, back.get(eid)), gap_us(eid, fwd.get(eid))
        want = [x for x in (gb, gf) if x is not None]
        if not want:
            assert okey is None and g is None
            continue
        assert g == min(want), (eid, g, gb, gf)
        # backward preferred on ties
        if gb is not None and (gf is None or gb <= gf):
            assert okey == back[eid], (eid, okey, back[eid])
        else:
            assert okey == fwd[eid], (eid, okey, fwd[eid])
        checked += 1
    assert checked > 100
