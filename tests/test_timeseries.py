"""Batch sessionization + gap fill: boundary exactness, per-key
isolation, and agreement with Spark's native session_window grouping."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pybabe_spark.operators.timeseries import (
    gap_fill,
    session_stats,
    sessionize,
)


def _ts(*args):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=args[0])


def _events(spark, rows):
    return spark.createDataFrame(
        [(u, _ts(s), i) for i, (u, s) in enumerate(rows)],
        "user_id bigint, ts timestamp, event_id bigint",
    )


def test_sessionize_gap_boundary_is_strict(spark):
    # gap=60: an event exactly 60s after the previous STARTS a new
    # session (>= boundary, matching session_window / streaming ops);
    # 59.999999s stays in the same one.
    ev = _events(spark, [(1, 0), (1, 59), (1, 119)])
    out = sessionize(ev, 60, order_cols=["event_id"]).orderBy("event_id")
    assert [r["session_id"] for r in out.collect()] == [1, 1, 2]

    just_under = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 0, 0), 0),
            (1, dt.datetime(2024, 1, 1, 0, 0, 59, 999999), 1),
        ],
        "user_id bigint, ts timestamp, event_id bigint",
    )
    out = sessionize(just_under, 60, order_cols=["event_id"])
    assert {r["session_id"] for r in out.collect()} == {1}


def test_sessionize_keys_are_independent(spark):
    ev = _events(spark, [(1, 0), (2, 30), (1, 1000), (2, 1030)])
    out = session_stats(ev, 60, order_cols=["event_id"])
    rows = {(r["user_id"], r["session_id"]): r["n_events"] for r in out.collect()}
    assert rows == {(1, 1): 1, (1, 2): 1, (2, 1): 1, (2, 2): 1}


def test_session_stats_matches_native_session_window(spark, sf_dir):
    """Same grouping as Spark's native session_window on real events:
    identical (user, session_start, n_events) triples — the two
    formulations share the split-at->=gap boundary."""
    from pybabe_spark.sources.io import read_table

    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    ours = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in session_stats(ev, 1800, order_cols=["event_id"]).collect()
    }
    native = {
        (r["user_id"], r["w"]["start"], r["n"])
        for r in ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert ours == native and len(ours) > 0


def test_session_duration_is_exact_microseconds(spark):
    ev = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 0, 0, 250000), 0),
            (1, dt.datetime(2024, 1, 1, 0, 0, 5, 750001), 1),
        ],
        "user_id bigint, ts timestamp, event_id bigint",
    )
    [r] = session_stats(ev, 60, order_cols=["event_id"]).collect()
    assert r["duration_us"] == 5_500_001 and r["n_events"] == 2


def test_gap_fill_materializes_and_forward_fills(spark):
    df = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 0, 30), 10.0),
            (1, dt.datetime(2024, 1, 1, 0, 3, 0), 7.0),
            # user 2: single bucket — no grid inflation, no fill leak
            (2, dt.datetime(2024, 1, 1, 0, 1, 0), 99.0),
        ],
        "user_id bigint, ts timestamp, value double",
    )
    out = gap_fill(df, 60, "user_id", "ts", {"value": "sum"}).collect()
    by_key = {(r["user_id"], r["bucket"]): r["value"] for r in out}
    b = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)
    # user 1: buckets 0..3 exist; 1 and 2 forward-filled from bucket 0
    assert by_key[(1, b)] == 10.0
    assert by_key[(1, b + m)] == 10.0 and by_key[(1, b + 2 * m)] == 10.0
    assert by_key[(1, b + 3 * m)] == 7.0
    # user 2: exactly one bucket, its own value
    assert [(k, v) for (k, v) in by_key.items() if k[0] == 2] == [
        ((2, b + m), 99.0)
    ]
    assert len(out) == 5


@pytest.mark.deep
def test_gap_fill_zero_and_null_fill(spark):
    df = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 0, 0), 5.0),
            (1, dt.datetime(2024, 1, 1, 0, 2, 0), 3.0),
        ],
        "user_id bigint, ts timestamp, value double",
    )
    zero = gap_fill(df, 60, "user_id", "ts", {"value": "sum"}, fill="zero")
    mid = [r for r in zero.collect() if r["bucket"].minute == 1]
    assert mid[0]["value"] == 0.0
    asnull = gap_fill(df, 60, "user_id", "ts", {"value": "sum"}, fill="null")
    mid = [r for r in asnull.collect() if r["bucket"].minute == 1]
    assert mid[0]["value"] is None
    with pytest.raises(ValueError, match="unknown fill"):
        gap_fill(df, 60, "user_id", "ts", {"value": "sum"}, fill="bogus")


def test_gap_fill_linear_interpolation(spark):
    df = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 0, 0), 10.0),
            # 3-bucket gap: values at minute 0 and 4 draw one line
            (1, dt.datetime(2024, 1, 1, 0, 4, 0), 2.0),
            # user 2: only one value — every grid row is that value
            (2, dt.datetime(2024, 1, 1, 0, 1, 0), 7.0),
        ],
        "user_id bigint, ts timestamp, value double",
    )
    out = gap_fill(
        df, 60, "user_id", "ts", {"value": "sum"}, fill="linear"
    ).collect()
    by = {(r["user_id"], r["bucket"].minute): r["value"] for r in out}
    assert by[(1, 0)] == 10.0 and by[(1, 4)] == 2.0
    assert by[(1, 1)] == 8.0
    assert by[(1, 2)] == 6.0
    assert by[(1, 3)] == 4.0
    assert by[(2, 1)] == 7.0


def test_gap_fill_linear_edges_flat(spark):
    # NULL at the edges of the grid: flat fill from the nearest known
    # value, never extrapolated. Build leading/trailing NULL buckets by
    # summing NULL values in the boundary buckets.
    df = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 0, 0), None),
            (1, dt.datetime(2024, 1, 1, 0, 1, 0), 4.0),
            (1, dt.datetime(2024, 1, 1, 0, 3, 0), 8.0),
            (1, dt.datetime(2024, 1, 1, 0, 4, 0), None),
        ],
        "user_id bigint, ts timestamp, value double",
    )
    out = gap_fill(
        df, 60, "user_id", "ts", {"value": "sum"}, fill="linear"
    ).collect()
    by = {r["bucket"].minute: r["value"] for r in out}
    assert by == {0: 4.0, 1: 4.0, 2: 6.0, 3: 8.0, 4: 8.0}


def test_gap_fill_count_agg(spark):
    df = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 0, 0), 5.0),
            (1, dt.datetime(2024, 1, 1, 0, 0, 30), 3.0),
            (1, dt.datetime(2024, 1, 1, 0, 2, 0), 1.0),
        ],
        "user_id bigint, ts timestamp, value double",
    )
    out = gap_fill(df, 60, "user_id", "ts", {"value": "count"}, fill="zero")
    got = {r["bucket"].minute: r["value"] for r in out.collect()}
    assert got == {0: 2, 1: 0, 2: 1}


def test_retention_cohorts_hand_checked(spark):
    """Two weekly cohorts: A,B,C start week 0 (A returns w1+w2, B
    returns w2); D starts week 1 and returns w2 → offset-1 retention
    for its cohort."""
    from pybabe_spark.operators.timeseries import retention_cohorts

    week = 604800
    rows = []
    for user, weeks in [
        ("A", [0, 1, 2]),
        ("B", [0, 2]),
        ("C", [0]),
        ("D", [1, 2]),
    ]:
        for w in weeks:
            rows.append((user, w * week + 10))
    df = spark.createDataFrame(rows, "u string, sec bigint").selectExpr(
        "u", "timestamp_seconds(sec) as ts"
    )
    out = retention_cohorts(df, "u", "ts", week, 8)
    got = {
        (r["cohort_start"].isoformat(), r["offset"], r["n_users"],
         r["retained_ppm"])
        for r in out.collect()
    }
    assert got == {
        ("1970-01-01T00:00:00", 0, 3, 1000000),
        ("1970-01-01T00:00:00", 1, 1, 333333),
        ("1970-01-01T00:00:00", 2, 2, 666666),
        ("1970-01-08T00:00:00", 0, 1, 1000000),
        ("1970-01-08T00:00:00", 1, 1, 1000000),
    }


def test_retention_cohorts_null_and_offset_cap(spark):
    from pybabe_spark.operators.timeseries import retention_cohorts

    week = 604800
    df = spark.createDataFrame(
        [("A", 0), ("A", 9 * week), (None, 0), ("B", None)],
        "u string, sec bigint",
    ).selectExpr("u", "timestamp_seconds(sec) as ts")
    out = retention_cohorts(df, "u", "ts", week, 8).collect()
    # A's week-9 activity is past max_offset; null key/ts rows dropped
    assert [(r["offset"], r["n_users"]) for r in out] == [(0, 1)]


def test_calendar_iso_semantics(spark):
    from pybabe_spark.operators.timeseries import calendar

    cal = {r["d"].date().isoformat(): r for r in
           calendar(spark, "2024-01-01", "2024-01-08").collect()}
    jan1 = cal["2024-01-01"]           # a Monday, ISO week 1
    assert (jan1["dow"], jan1["week"], jan1["is_weekend"]) == (1, 1, False)
    sat = cal["2024-01-06"]
    assert (sat["dow"], sat["is_weekend"]) == (6, True)
    sun = cal["2024-01-07"]
    assert (sun["dow"], sun["is_weekend"]) == (7, True)
    assert len(cal) == 8  # inclusive bounds
    # leap day exists in 2024
    feb = calendar(spark, "2024-02-28", "2024-03-01").count()
    assert feb == 3


# -- acf (operators/timeseries.py) -------------------------------------------


def test_acf_known_alternating_series(spark):
    from pybabe_spark.operators.timeseries import acf

    # x = [1,-1,1,-1,1,-1]: mean 0, lag1 rho = -5/5... compute the
    # exact sample formula: num_1 = sum of x_t x_{t+1} (5 pairs, all
    # -1) = -5; den = 6 → rho1 = -5/6; rho2 = 4/6; rho3 = -3/6
    rows = [(1, t, 1.0 if t % 2 == 0 else -1.0) for t in range(6)]
    df = spark.createDataFrame(rows, "k int, ts int, v double")
    got = {
        r["lag"]: r["acf_ppm"]
        for r in acf(df, "k", "ts", "v", lags=3).collect()
    }
    assert got[1] == -833_333  # trunc(-5e6/6)
    assert got[2] == 666_666
    assert got[3] == -500_000


def test_acf_perfect_lag1_on_trend(spark):
    from pybabe_spark.operators.timeseries import acf

    # a pure linear trend has lag-1 acf (n²c - ...) < 1 but known:
    # x=[1..5]: classic sample acf lag1 = 0.4
    rows = [(1, t, float(t + 1)) for t in range(5)]
    df = spark.createDataFrame(rows, "k int, ts int, v double")
    got = {
        r["lag"]: r["acf_ppm"]
        for r in acf(df, "k", "ts", "v", lags=1).collect()
    }
    assert got[1] == 400_000


def test_acf_short_and_constant_series_null(spark):
    from pybabe_spark.operators.timeseries import acf

    rows = [
        (1, 0, 5.0), (1, 1, 5.0), (1, 2, 5.0),   # constant → den 0
        (2, 0, 1.0), (2, 1, 2.0),                # n=2: lag2/3 NULL
    ]
    df = spark.createDataFrame(rows, "k int, ts int, v double")
    out = {
        (r["k"], r["lag"]): r["acf_ppm"]
        for r in acf(df, "k", "ts", "v", lags=3).collect()
    }
    assert out[(1, 1)] is None and out[(1, 2)] is None
    assert out[(2, 1)] is not None
    assert out[(2, 2)] is None and out[(2, 3)] is None


def test_acf_python_model_randomized(spark):
    import random

    from pybabe_spark.operators.timeseries import acf

    rng = random.Random(5)
    rows = [(1, t, round(rng.uniform(-10, 10), 2)) for t in range(40)]
    df = spark.createDataFrame(rows, "k int, ts int, v double")
    xs = [int(round(v * 100)) for _, _, v in rows]
    n = len(xs)
    got = {
        r["lag"]: r["acf_ppm"]
        for r in acf(df, "k", "ts", "v", lags=4).collect()
    }
    s = sum(xs)
    q = sum(v * v for v in xs)
    den = n * n * q - n * s * s
    for h in range(1, 5):
        c = sum(xs[t] * xs[t + h] for t in range(n - h))
        head = sum(xs[: n - h])
        tail = sum(xs[h:])
        num = n * n * c - n * s * (head + tail) + (n - h) * s * s
        sign = -1 if (num < 0) != (den < 0) else 1
        want = sign * ((10**6 * abs(num)) // abs(den))
        assert got[h] == want, h


# -- ohlc_bars (operators/timeseries.py) --------------------------------------


def test_ohlc_known_bars(spark):
    from pyspark.sql import functions as F

    from pybabe_spark.operators.timeseries import ohlc_bars

    rows = [
        (1, "2024-01-01 00:05:00", 10.0, 2.0),
        (1, "2024-01-01 00:20:00", 30.0, 1.0),
        (1, "2024-01-01 00:50:00", 5.0, 4.0),
        (1, "2024-01-01 01:10:00", 7.0, 1.0),
        (2, "2024-01-01 00:30:00", 99.0, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "k int, ts string, v double, vol double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = ohlc_bars(df, "k", "ts", "v", 3600, volume_col="vol")
    got = {
        (r["k"], str(r["bar_ts"])): (
            r["open"], r["high"], r["low"], r["close"], r["n_rows"],
            r["volume"],
        )
        for r in out.collect()
    }
    assert got[(1, "2024-01-01 00:00:00")] == (10.0, 30.0, 5.0, 5.0, 3, 7.0)
    assert got[(1, "2024-01-01 01:00:00")] == (7.0, 7.0, 7.0, 7.0, 1, 1.0)
    assert got[(2, "2024-01-01 00:00:00")] == (99.0, 99.0, 99.0, 99.0, 1, 1.0)


def test_ohlc_null_values_excluded(spark):
    from pyspark.sql import functions as F

    from pybabe_spark.operators.timeseries import ohlc_bars

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", None), (1, "2024-01-01 00:01:00", 3.0)],
        "k int, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = ohlc_bars(df, "k", "ts", "v", 3600).collect()
    assert len(out) == 1 and out[0]["n_rows"] == 1
    assert out[0]["open"] == 3.0


# -- seasonal_backtest (operators/timeseries.py) ------------------------------


def test_seasonal_backtest_perfect_seasonality(spark):
    from pybabe_spark.operators.timeseries import seasonal_backtest

    # period-2 alternation: seasonal error 0, naive error > 0 → mase 0
    rows = [(1, t, 10.0 if t % 2 == 0 else 20.0) for t in range(8)]
    df = spark.createDataFrame(rows, "k int, ts int, v double")
    r = seasonal_backtest(df, "k", "ts", "v", 2).collect()[0]
    assert r["mase_ppm"] == 0 and r["seasonal_better"] is True
    assert r["n_eval"] == 6 and r["sae_seasonal"] == 0.0


def test_seasonal_backtest_no_seasonality(spark):
    from pybabe_spark.operators.timeseries import seasonal_backtest

    # random walk up: v = t → seasonal |v_t - v_{t-3}| = 3, naive = 1
    rows = [(1, t, float(t)) for t in range(9)]
    df = spark.createDataFrame(rows, "k int, ts int, v double")
    r = seasonal_backtest(df, "k", "ts", "v", 3).collect()[0]
    assert r["mase_ppm"] == 3_000_000
    assert r["seasonal_better"] is False


def test_seasonal_backtest_short_and_constant(spark):
    from pybabe_spark.operators.timeseries import seasonal_backtest

    rows = [(1, 0, 5.0), (1, 1, 6.0),            # n=2 < season → NULL
            (2, 0, 7.0), (2, 1, 7.0), (2, 2, 7.0),
            (2, 3, 7.0)]                          # constant → sn=0
    df = spark.createDataFrame(rows, "k int, ts int, v double")
    got = {r["k"]: (r["mase_ppm"], r["n_eval"])
           for r in seasonal_backtest(df, "k", "ts", "v", 3).collect()}
    assert got[1] == (None, 0)
    assert got[2][0] is None and got[2][1] == 1


def test_seasonal_backtest_events_one_event_matches_oracle(spark, tmp_path):
    """The smallest input with no evaluation row: one event. mase is
    NULL and seasonal_better FALSE on both engines — a NULL flag would
    reach pandas as None from Spark but as NaN from DuckDB."""
    import duckdb

    from pybabe_spark.queries import REGISTRY, all_queries
    from tests.compare import assert_frames_match

    all_queries()
    fn, sql = REGISTRY["seasonal_backtest_events"]
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT 1::BIGINT AS event_id,"
        " TIMESTAMP '2024-01-06 16:13:43' AS ts, 12::BIGINT AS user_id,"
        " 'signup' AS event_type, 0.4::DOUBLE AS value, '{}' AS props)"
        f" TO '{tmp_path / 'events.parquet'}' (FORMAT PARQUET)"
    )
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'events.parquet'}')"
    )
    out = fn(spark, str(tmp_path))
    assert out.collect()[0]["seasonal_better"] is False
    assert_frames_match(out, con.sql(sql), "seasonal_backtest_events")


# -- active_intervals (operators/timeseries.py) -------------------------------


def test_active_intervals_hand_checked(spark):
    import datetime as dt

    from pybabe_spark.operators.timeseries import active_intervals

    b = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    rows = [
        (b, b + 3 * h),          # covers 0-3
        (b + h, b + 2 * h),      # covers 1-2
        (b + h, b + 5 * h),      # covers 1-5 (bucket-crossing)
        (b + 4 * h, b + 4 * h),  # empty — excluded
    ]
    df = spark.createDataFrame(rows, "s timestamp, e timestamp")
    got = {
        r["ts"]: (r["delta"], r["active"])
        for r in active_intervals(df, "s", "e").collect()
    }
    assert got[b] == (1, 1)
    assert got[b + h] == (2, 3)          # two starts at the same ts
    assert got[b + 2 * h] == (-1, 2)
    assert got[b + 3 * h] == (-1, 1)
    assert got[b + 5 * h] == (-1, 0)
    assert len(got) == 5


def test_active_intervals_python_model_randomized(spark):
    import datetime as dt
    import random

    from pybabe_spark.operators.timeseries import active_intervals

    rng = random.Random(29)
    b = dt.datetime(2024, 1, 1)
    rows = []
    for _ in range(120):
        s = rng.randint(0, 200_000)
        rows.append(
            (b + dt.timedelta(seconds=s),
             b + dt.timedelta(seconds=s + rng.randint(1, 30_000)))
        )
    df = spark.createDataFrame(rows, "s timestamp, e timestamp")
    got = sorted(
        (r["ts"], r["active"])
        for r in active_intervals(df, "s", "e", bucket_seconds=7200).collect()
    )
    deltas = {}
    for s, e in rows:
        deltas[s] = deltas.get(s, 0) + 1
        deltas[e] = deltas.get(e, 0) - 1
    want, run = [], 0
    for t in sorted(deltas):
        run += deltas[t]
        want.append((t, run))
    assert got == want
    assert max(a for _, a in got) > 3  # the curve actually stacks


def test_active_intervals_bucket_guard_raises_lazily(spark):
    import datetime as dt

    import pytest

    from pybabe_spark.operators.timeseries import active_intervals

    b = dt.datetime(2024, 1, 1)
    rows = [
        (b + dt.timedelta(hours=5 * i),
         b + dt.timedelta(hours=5 * i + 1))
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "s timestamp, e timestamp")
    out = active_intervals(df, "s", "e", bucket_seconds=3600, max_buckets=4)
    out.schema  # construction + analysis must not raise
    with pytest.raises(Exception, match="max_buckets"):
        out.collect()


# -- theilsen_slope (operators/timeseries.py) ------------------------------------


def _ts_pts(spark, rows):
    df = spark.createDataFrame(rows, "k int, t string, v double")
    return df.selectExpr("k", "CAST(t AS TIMESTAMP) AS t", "v")


def test_theilsen_perfect_line(spark):
    from pybabe_spark.operators.timeseries import theilsen_slope

    # +2.00/day exactly: every pairwise slope is 200 cents/day
    rows = [(1, f"2024-01-0{d} 00:00:00", 2.0 * d) for d in range(1, 6)]
    r = theilsen_slope(_ts_pts(spark, rows), "k", "t", "v").collect()[0]
    assert r.n_points == 5 and r.n_pairs == 10
    assert r.slope_cents_per_day_ppm == 200 * 1_000_000


def test_theilsen_outlier_immune_vs_mean(spark):
    from pybabe_spark.operators.timeseries import theilsen_slope

    # 1/day trend with one wild outlier at the end
    rows = [(1, f"2024-01-0{d} 00:00:00", float(d)) for d in range(1, 6)]
    rows[-1] = (1, "2024-01-05 00:00:00", 1000.0)
    r = theilsen_slope(_ts_pts(spark, rows), "k", "t", "v").collect()[0]
    # 6 of 10 pairwise slopes are exactly 100 cents/day -> median holds
    assert r.slope_cents_per_day_ppm == 100 * 1_000_000


def test_theilsen_lower_median_even_pairs(spark):
    from pybabe_spark.operators.timeseries import theilsen_slope

    # two points per key -> a single pair, slope = dv/dt
    rows = [(7, "2024-01-01 00:00:00", 10.0),
            (7, "2024-01-03 00:00:00", 13.0)]
    r = theilsen_slope(_ts_pts(spark, rows), "k", "t", "v").collect()[0]
    assert r.n_pairs == 1
    assert r.slope_cents_per_day_ppm == 150 * 1_000_000


def test_theilsen_negative_slope_and_singletons_absent(spark):
    from pybabe_spark.operators.timeseries import theilsen_slope

    rows = [(1, "2024-01-01 00:00:00", 10.0),
            (1, "2024-01-02 00:00:00", 7.5),
            (2, "2024-01-01 00:00:00", 5.0)]  # singleton key absent
    got = {
        r["k"]: r["slope_cents_per_day_ppm"]
        for r in theilsen_slope(_ts_pts(spark, rows), "k", "t",
                                "v").collect()
    }
    assert got == {1: -250 * 1_000_000}


def test_theilsen_max_points_guard(spark):
    import pytest

    from pybabe_spark.operators.timeseries import theilsen_slope

    rows = [(1, f"2024-01-01 00:00:{s:02d}", float(s)) for s in range(5)]
    with pytest.raises(Exception, match="max_points"):
        theilsen_slope(
            _ts_pts(spark, rows), "k", "t", "v", max_points=3
        ).collect()


# -- interarrival_stats (operators/timeseries.py) --------------------------------


def _ev(spark, rows):
    df = spark.createDataFrame(rows, "k int, t string")
    return df.selectExpr("k", "CAST(t AS TIMESTAMP) AS t")


def test_interarrival_periodic_burstiness_minus_one(spark):
    from pybabe_spark.operators.timeseries import interarrival_stats

    # perfectly periodic: sigma = 0 -> cv 0, burstiness -1
    rows = [(1, f"2024-01-01 00:{m:02d}:00") for m in range(0, 50, 10)]
    r = interarrival_stats(_ev(spark, rows), "k", "t").collect()[0]
    assert r.n_gaps == 4
    assert r.mean_gap_s == 600.0
    assert r.cv == 0.0 and r.burstiness == -1.0


def test_interarrival_hand_checked_moments(spark):
    import math

    from pybabe_spark.operators.timeseries import interarrival_stats

    # gaps: 10s, 30s  -> mean 20s, var = (2*(1e14+9e14)-(4e7)^2)/2 ...
    rows = [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:00:10"),
            (1, "2024-01-01 00:00:40")]
    r = interarrival_stats(_ev(spark, rows), "k", "t").collect()[0]
    g = [10e6, 30e6]
    n, s, q = 2, sum(g), sum(x * x for x in g)
    mu = s / n
    sig = math.sqrt((n * q - s * s) / (n * (n - 1.0)))
    assert r.mean_gap_s == 20.0
    assert abs(r.cv - sig / mu) < 1e-6
    assert abs(r.burstiness - (sig - mu) / (sig + mu)) < 1e-6


def test_interarrival_single_gap_and_singletons(spark):
    from pybabe_spark.operators.timeseries import interarrival_stats

    rows = [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:01:00"),
            (2, "2024-01-01 00:00:00")]
    got = {r["k"]: r for r in
           interarrival_stats(_ev(spark, rows), "k", "t").collect()}
    assert set(got) == {1}  # singleton key 2 absent
    assert got[1].n_gaps == 1
    assert got[1].mean_gap_s == 60.0
    assert got[1].cv is None and got[1].burstiness is None


# -- cohort_values (operators/timeseries.py) -------------------------------------


def test_cohort_ltv_hand_checked(spark):
    from pybabe_spark.operators.timeseries import cohort_values

    day = 86400
    rows = [
        # cohort A (period 0): two users
        (1, "1970-01-01 01:00:00", 10.0),
        (2, "1970-01-01 02:00:00", 20.0),
        # user 1 returns in period 1 and spends 5
        (1, "1970-01-02 01:00:00", 5.0),
        # cohort B (period 1): one user, no value
        (3, "1970-01-02 03:00:00", None),
    ]
    df = spark.createDataFrame(rows, "u int, t string, v double") \
        .selectExpr("u", "CAST(t AS TIMESTAMP) AS t", "v")
    got = {
        (r["cohort_start"].isoformat(), r["offset"]): r
        for r in cohort_values(df, "u", "t", "v", day, 8).collect()
    }
    a0 = got[("1970-01-01T00:00:00", 0)]
    assert (a0.n_users, a0.value_cents, a0.cum_value_cents) == (
        2, 3000, 3000)
    assert a0.ltv_per_user_cents == 1500
    a1 = got[("1970-01-01T00:00:00", 1)]
    assert (a1.n_users, a1.value_cents, a1.cum_value_cents) == (
        1, 500, 3500)
    assert a1.ltv_per_user_cents == 1750
    b0 = got[("1970-01-02T00:00:00", 0)]
    assert (b0.n_users, b0.value_cents, b0.ltv_per_user_cents) == (
        1, 0, 0)


def test_cohort_ltv_offset_cap_and_null_key(spark):
    from pybabe_spark.operators.timeseries import cohort_values

    day = 86400
    rows = [
        (1, "1970-01-01 01:00:00", 1.0),
        (1, "1970-01-05 01:00:00", 1.0),  # offset 4 > cap 2 -> absent
        (None, "1970-01-01 01:00:00", 9.0),
    ]
    df = spark.createDataFrame(rows, "u int, t string, v double") \
        .selectExpr("u", "CAST(t AS TIMESTAMP) AS t", "v")
    got = cohort_values(df, "u", "t", "v", day, 2).collect()
    assert len(got) == 1 and got[0]["offset"] == 0
    assert got[0]["value_cents"] == 100


# -- ccf (operators/timeseries.py) ------------------------------------------------


def _xy(spark, rows):
    df = spark.createDataFrame(rows, "k int, t string, x double, y double")
    return df.selectExpr("k", "CAST(t AS TIMESTAMP) AS t", "x", "y")


def test_ccf_lag0_is_pearson(spark):
    import math

    from pybabe_spark.operators.timeseries import ccf

    xs = [1.0, 2.0, 4.0, 3.0, 5.0]
    ys = [2.0, 1.0, 5.0, 3.0, 6.0]
    rows = [(1, f"2024-01-0{i+1} 00:00:00", xs[i], ys[i])
            for i in range(5)]
    got = {r["lag"]: r["ccf"]
           for r in ccf(_xy(spark, rows), "k", "t", "x", "y", 1).collect()}
    n = 5
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    qx = sum(a * a for a in xs)
    qy = sum(b * b for b in ys)
    want = (n * sxy - sx * sy) / math.sqrt(
        (n * qx - sx * sx) * (n * qy - sy * sy)
    )
    assert abs(got[0] - want) < 1e-6


def _ccf_model(xs, ys, h):
    """Python replica of the operator's n²-scaled identity (cents)."""
    import math

    cx = [round(v * 100) for v in xs]
    cy = [round(v * 100) for v in ys]
    n = len(cx)
    sx, sy = sum(cx), sum(cy)
    qx = sum(v * v for v in cx)
    qy = sum(v * v for v in cy)
    c = sum(cx[t] * cy[t - h] for t in range(h, n))
    t_ = sum(cx[t] for t in range(h, n))
    hy = sum(cy[t - h] for t in range(h, n))
    num = n * n * c - n * sy * t_ - n * sx * hy + (n - h) * sx * sy
    dx = n * n * qx - n * sx * sx
    dy = n * n * qy - n * sy * sy
    return float(num) / math.sqrt(float(dx) * float(dy))


def test_ccf_detects_lead(spark):
    from pybabe_spark.operators.timeseries import ccf

    # y leads x by exactly 1 step: x_t = y_{t-1}
    ys = [1.0, 5.0, 2.0, 8.0, 3.0, 9.0]
    xs = [0.0] + ys[:-1]
    rows = [(1, f"2024-01-0{i+1} 00:00:00", xs[i], ys[i])
            for i in range(6)]
    got = {r["lag"]: r["ccf"]
           for r in ccf(_xy(spark, rows), "k", "t", "x", "y", 2).collect()}
    for h in (0, 1, 2):
        assert abs(got[h] - _ccf_model(xs, ys, h)) < 1e-6, h
    assert got[1] > got[0]  # the lead shows up at lag 1


def test_ccf_null_rows_and_zero_variance(spark):
    from pybabe_spark.operators.timeseries import ccf

    rows = [(1, "2024-01-01 00:00:00", 1.0, 2.0),
            (1, "2024-01-02 00:00:00", 1.0, 3.0),  # x constant
            (1, "2024-01-03 00:00:00", None, 4.0)]
    got = {r["lag"]: r["ccf"]
           for r in ccf(_xy(spark, rows), "k", "t", "x", "y", 1).collect()}
    assert got[0] is None and got[1] is None  # zero x-variance -> NULL


# -- period_over_period (operators/timeseries.py) ---------------------------------


def test_pop_hand_checked_growth_and_gap(spark):
    from pybabe_spark.operators.timeseries import period_over_period

    rows = [
        (1, "1970-01-01 05:00:00", 10.0),
        (1, "1970-01-02 05:00:00", 15.0),   # +50%
        (1, "1970-01-04 05:00:00", 30.0),   # gap: day 3 missing -> NULL
        (2, "1970-01-01 01:00:00", 7.0),
    ]
    df = spark.createDataFrame(rows, "k int, t string, v double") \
        .selectExpr("k", "CAST(t AS TIMESTAMP) AS t", "v")
    got = {
        (r["k"], r["period_start"].day): r
        for r in period_over_period(df, "k", "t", "v", 86400).collect()
    }
    assert got[(1, 1)].growth_ppm is None
    r2 = got[(1, 2)]
    assert (r2.value_cents, r2.prev_value_cents) == (1500, 1000)
    assert r2.growth_ppm == 500_000
    assert got[(1, 4)].growth_ppm is None  # strict adjacency
    assert got[(2, 1)].value_cents == 700


def test_pop_negative_growth_and_zero_prev(spark):
    from pybabe_spark.operators.timeseries import period_over_period

    rows = [
        (1, "1970-01-01 05:00:00", 20.0),
        (1, "1970-01-02 05:00:00", 5.0),    # -75%
        (2, "1970-01-01 05:00:00", None),   # value NULL -> 0 total
        (2, "1970-01-02 05:00:00", 5.0),    # prev 0 -> NULL growth
    ]
    df = spark.createDataFrame(rows, "k int, t string, v double") \
        .selectExpr("k", "CAST(t AS TIMESTAMP) AS t", "v")
    got = {
        (r["k"], r["period_start"].day): r
        for r in period_over_period(df, "k", "t", "v", 86400).collect()
    }
    assert got[(1, 2)].growth_ppm == -750_000
    assert got[(2, 1)].value_cents == 0
    assert got[(2, 2)].growth_ppm is None


# -- growth_accounting (operators/timeseries.py) -----------------------------------


def test_growth_accounting_hand_checked(spark):
    from pybabe_spark.operators.timeseries import growth_accounting

    week = 604800
    rows = []
    for user, weeks in [("A", [0, 1, 2]), ("B", [0, 2]), ("C", [1])]:
        for w in weeks:
            rows.append((user, w * week + 5))
    df = spark.createDataFrame(rows, "u string, sec bigint").selectExpr(
        "u", "timestamp_seconds(sec) AS ts"
    )
    got = {
        r["period_start"].day: r
        for r in growth_accounting(df, "u", "ts", week).collect()
    }
    p0, p1, p2 = got[1], got[8], got[15]
    assert (p0.n_active, p0.n_new, p0.n_retained, p0.n_resurrected) == (
        2, 2, 0, 0)
    assert p0.n_churned is None  # no predecessor data
    assert (p1.n_active, p1.n_new, p1.n_retained, p1.n_resurrected,
            p1.n_churned) == (2, 1, 1, 0, 1)  # B churned
    assert (p2.n_active, p2.n_new, p2.n_retained, p2.n_resurrected,
            p2.n_churned) == (2, 0, 1, 1, 1)  # B resurrected, C churned
    # the accounting identity: Δactive = new + resurrected − churned
    assert p2.n_active - p1.n_active == (
        p2.n_new + p2.n_resurrected - p2.n_churned)


def test_growth_accounting_gap_period_churn_null(spark):
    from pybabe_spark.operators.timeseries import growth_accounting

    week = 604800
    rows = [("A", 0), ("A", 3 * week)]  # weeks 0 and 3, nothing between
    df = spark.createDataFrame(rows, "u string, sec bigint").selectExpr(
        "u", "timestamp_seconds(sec) AS ts"
    )
    got = sorted(
        growth_accounting(df, "u", "ts", week).collect(),
        key=lambda r: r["period_start"],
    )
    assert got[1].n_resurrected == 1
    assert got[1].n_churned is None  # predecessor period absent


def test_growth_accounting_randomized_model(spark):
    import random
    from collections import defaultdict

    from pybabe_spark.operators.timeseries import growth_accounting

    rng = random.Random(88)
    week = 604800
    rows = []
    active = defaultdict(set)
    for u in range(30):
        for w in range(8):
            if rng.random() < 0.4:
                rows.append((f"u{u}", w * week + rng.randrange(week)))
                active[w].add(f"u{u}")
    df = spark.createDataFrame(rows, "u string, sec bigint").selectExpr(
        "u", "timestamp_seconds(sec) AS ts"
    )
    got = {
        int(r["period_start"].timestamp()) // week: r
        for r in growth_accounting(df, "u", "ts", week).collect()
    }
    first = {}
    for w in sorted(active):
        for u in active[w]:
            first.setdefault(u, w)
    for w, users in active.items():
        r = got[w]
        new = {u for u in users if first[u] == w}
        ret = {u for u in users if u in active.get(w - 1, set())} - new
        res = users - new - ret
        assert r.n_active == len(users)
        assert r.n_new == len(new)
        assert r.n_retained == len(ret)
        assert r.n_resurrected == len(res)
        if (w - 1) in active:
            assert r.n_churned == len(active[w - 1]) - len(
                {u for u in users if u in active[w - 1]} - new
            ) - len({u for u in new if u in active[w - 1]})
        else:
            assert r.n_churned is None


def test_pop_randomized_model(spark):
    import random
    from collections import defaultdict

    from pybabe_spark.operators.timeseries import period_over_period

    rng = random.Random(77)
    day = 86400
    rows = []
    totals = defaultdict(int)
    for _ in range(200):
        k = rng.randrange(4)
        d = rng.randrange(10)
        cents = rng.randrange(-500, 5000)
        rows.append((k, d * day + rng.randrange(day), cents / 100.0))
        totals[(k, d)] += cents
    df = spark.createDataFrame(rows, "k int, sec bigint, v double") \
        .selectExpr("k", "timestamp_seconds(sec) AS ts", "v")
    got = {
        (r["k"], int(r["period_start"].timestamp()) // day): r
        for r in period_over_period(df, "k", "ts", "v", day).collect()
    }
    assert set(got) == set(totals)
    for (k, d), cents in totals.items():
        r = got[(k, d)]
        assert r.value_cents == cents
        prev = totals.get((k, d - 1))
        if prev is None:
            assert r.prev_value_cents is None and r.growth_ppm is None
        else:
            assert r.prev_value_cents == prev
            if prev == 0:
                assert r.growth_ppm is None
            else:
                diff = cents - prev
                sign = -1 if (diff < 0) != (prev < 0) else 1
                assert r.growth_ppm == sign * (
                    (1_000_000 * abs(diff)) // abs(prev)
                )


# -- streaks (operators/timeseries.py) ---------------------------------------------


def test_streaks_hand_checked(spark):
    from pybabe_spark.operators.timeseries import streaks

    day = 86400
    rows = []
    # user 1: days 1,2,3, gap, 5,6 -> longest 3, current 2, 2 streaks
    for d in (1, 2, 3, 5, 6):
        rows.append((1, d * day + 100))
        rows.append((1, d * day + 200))  # dup within day collapses
    # user 2: single day
    rows.append((2, 9 * day))
    df = spark.createDataFrame(rows, "u int, sec bigint").selectExpr(
        "u", "timestamp_seconds(sec) AS ts"
    )
    got = {r["u"]: r for r in streaks(df, "u", "ts", day).collect()}
    r1 = got[1]
    assert (r1.n_periods, r1.n_streaks, r1.longest_streak,
            r1.current_streak) == (5, 2, 3, 2)
    r2 = got[2]
    assert (r2.n_periods, r2.n_streaks, r2.longest_streak,
            r2.current_streak) == (1, 1, 1, 1)


def test_streaks_current_equals_longest_when_active_run_last(spark):
    from pybabe_spark.operators.timeseries import streaks

    day = 86400
    rows = [(1, d * day) for d in (1, 3, 4, 5)]
    df = spark.createDataFrame(rows, "u int, sec bigint").selectExpr(
        "u", "timestamp_seconds(sec) AS ts"
    )
    r = streaks(df, "u", "ts", day).collect()[0]
    assert (r.longest_streak, r.current_streak) == (3, 3)


def test_cohort_ltv_negative_cum_sign_split(spark):
    from pybabe_spark.operators.timeseries import cohort_values

    day = 86400
    rows = [
        (1, "1970-01-01 01:00:00", -17.51),
        (2, "1970-01-01 02:00:00", -17.50),
    ]
    df = spark.createDataFrame(rows, "u int, t string, v double") \
        .selectExpr("u", "CAST(t AS TIMESTAMP) AS t", "v")
    r = cohort_values(df, "u", "t", "v", day, 2).collect()[0]
    # cum = -3501 cents over 2 users: truncation toward zero -> -1750
    assert r.cum_value_cents == -3501
    assert r.ltv_per_user_cents == -1750


# -- logrank_test (operators/timeseries.py) ------------------------------------


def _lr(spark, rows):
    from pybabe_spark.operators.timeseries import logrank_test

    df = spark.createDataFrame(
        rows, "g string, duration bigint, event int"
    )
    return logrank_test(df, "duration", "event", "g", "A", "B").collect()[0]


def test_logrank_identical_groups_not_significant(spark):
    rows = [("A", d, e) for d, e in [(1, 1), (2, 1), (3, 0), (4, 1)]]
    rows += [("B", d, e) for d, e in [(1, 1), (2, 1), (3, 0), (4, 1)]]
    r = _lr(spark, rows)
    assert (r["n_a"], r["n_b"]) == (4, 4)
    # mirrored groups: expected equals observed exactly
    assert abs(r["o_minus_e"]) < 1e-9 and not r["significant"]


def test_logrank_clearly_different_significant(spark):
    # group A dies fast, group B late: strongly significant
    rows = [("A", d, 1) for d in range(1, 21)]
    rows += [("B", d + 100, 1) for d in range(1, 21)]
    r = _lr(spark, rows)
    assert r["events_a"] == 20 and r["events_b"] == 20
    assert r["significant"] and r["o_minus_e"] > 0


def test_logrank_matches_python_model(spark):
    import random

    rng = random.Random(11)
    rows = []
    for _ in range(150):
        rows.append(("A", rng.randint(1, 40), int(rng.random() < 0.7)))
        rows.append(("B", rng.randint(1, 60), int(rng.random() < 0.6)))
        # ties + a third group that must be ignored
        rows.append(("C", rng.randint(1, 60), 1))
    r = _lr(spark, rows)
    sub = [(g, d, e) for g, d, e in rows if g in ("A", "B")]
    times = sorted({d for _, d, _ in sub})
    o1 = sum(e for g, d, e in sub if g == "A")
    e1 = v = 0.0
    for t in times:
        at = [(g, d, e) for g, d, e in sub if d >= t]
        nt = len(at)
        nat = sum(1 for g, _, _ in at if g == "A")
        dt = sum(e for _, d, e in sub if d == t)
        if dt == 0:
            continue
        e1 += round(dt * (nat / nt), 6)
        if nt > 1:
            v += round(
                dt * (nat / nt) * (1 - nat / nt) * ((nt - dt) / (nt - 1)),
                6,
            )
    assert r["events_a"] == o1
    assert abs(r["o_minus_e"] - (o1 - e1)) < 1e-4
    assert abs(r["variance"] - v) < 1e-4
    want_sig = (o1 - e1) ** 2 > 3.841459 * v
    assert r["significant"] == want_sig


# ---------------------------------------------------------------------------
# Ljung–Box
# ---------------------------------------------------------------------------


def test_ljung_box_matches_python_model(spark):
    """Q matches a plain-Python Ljung–Box over the same floored-ppm
    autocorrelations (the composition's exact contract)."""
    import random

    from pybabe_spark.operators.timeseries import ljung_box

    rng = random.Random(99)
    rows = [
        (k, t, round(rng.uniform(-50, 50), 2))
        for k in (1, 2)
        for t in range(40)
    ]
    df = spark.createDataFrame(rows, "k int, ts int, v double")
    got = {
        r["k"]: r
        for r in ljung_box(df, "k", "ts", "v", lags=3).collect()
    }

    import math

    for k in (1, 2):
        xs = [int(round(v * 100)) for kk, t, v in rows if kk == k]
        n = len(xs)
        s = sum(xs)
        den = n * n * sum(x * x for x in xs) - n * s * s
        q = 0.0
        for h in (1, 2, 3):
            c = sum(xs[i] * xs[i + h] for i in range(n - h))
            head = sum(xs[:n - h])
            tail = sum(xs[h:])
            num = n * n * c - n * s * (head + tail) + (n - h) * s * s
            ppm = (1_000_000 * abs(num)) // abs(den)
            ppm *= 1 if (num < 0) == (den < 0) else -1
            q += (ppm * ppm) / (n - h)
        q = n * (n + 2) * q / 1e12
        assert math.isclose(got[k]["q"], q, abs_tol=1e-5)


def test_ljung_box_strong_autocorrelation_significant(spark):
    from pybabe_spark.operators.timeseries import ljung_box

    # slow sine: heavy lag-1..3 correlation
    import math

    rows = [(1, t, round(50 * math.sin(t / 6.0), 2)) for t in range(60)]
    df = spark.createDataFrame(rows, "k int, ts int, v double")
    r = ljung_box(df, "k", "ts", "v", 3, chi2_crit=7.814728).collect()[0]
    assert r["significant"] is True and r["q"] > 50.0


def test_ljung_box_alternating_large_q(spark):
    """The deterministic alternating series from the acf test: rho =
    (-5/6, 4/6, -3/6) at n=6 → Q from those exact ppm values."""
    from pybabe_spark.operators.timeseries import ljung_box

    rows = [(1, t, 1.0 if t % 2 == 0 else -1.0) for t in range(6)]
    df = spark.createDataFrame(rows, "k int, ts int, v double")
    r = ljung_box(df, "k", "ts", "v", 3).collect()[0]
    exp = 6 * 8 * (
        (833_333**2) / 5 + (666_666**2) / 4 + (500_000**2) / 3
    ) / 1e12
    assert abs(r["q"] - exp) < 1e-5


def test_ljung_box_short_series_null(spark):
    from pybabe_spark.operators.timeseries import ljung_box

    # n=3 with lags=3: lag-3 undefined -> Q NULL, significant False
    rows = [(1, t, float(t)) for t in range(3)]
    df = spark.createDataFrame(rows, "k int, ts int, v double")
    r = ljung_box(df, "k", "ts", "v", 3, chi2_crit=7.814728).collect()[0]
    assert r["q"] is None and r["significant"] is False

    # constant series: zero variance -> all lags NULL -> Q NULL
    rows = [(1, t, 4.0) for t in range(10)]
    df = spark.createDataFrame(rows, "k int, ts int, v double")
    r = ljung_box(df, "k", "ts", "v", 3).collect()[0]
    assert r["q"] is None


# ---------------------------------------------------------------------------
# Durbin–Watson
# ---------------------------------------------------------------------------


def test_dw_matches_python_model(spark):
    import random

    from pybabe_spark.operators.timeseries import durbin_watson

    rng = random.Random(3)
    rows = [
        (k, t, round(rng.uniform(-30, 30), 2))
        for k in (1, 2)
        for t in range(25)
    ]
    df = spark.createDataFrame(rows, "k int, ts int, v double")
    got = {r["k"]: r for r in durbin_watson(df, "k", "ts", "v").collect()}
    for k in (1, 2):
        xs = [int(round(v * 100)) for kk, _, v in rows if kk == k]
        n = len(xs)
        num = sum((xs[i] - xs[i - 1]) ** 2 for i in range(1, n))
        den = n * sum(x * x for x in xs) - sum(xs) ** 2
        exp_ppm = (1_000_000 * n * num) // den
        assert got[k]["dw_ppm"] == exp_ppm
        assert abs(got[k]["dw"] - exp_ppm / 1e6) < 1e-12


def test_dw_known_regimes(spark):
    from pybabe_spark.operators.timeseries import durbin_watson

    # perfectly alternating series: maximal negative autocorrelation,
    # DW -> 4 (exact: n*sum(diff^2) with diff=±2c)
    alt = [(1, t, 1.0 if t % 2 == 0 else -1.0) for t in range(40)]
    # slow ramp: strong positive autocorrelation, DW near 0
    ramp = [(2, t, float(t)) for t in range(40)]
    df = spark.createDataFrame(alt + ramp, "k int, ts int, v double")
    got = {r["k"]: r["dw"] for r in
           durbin_watson(df, "k", "ts", "v").collect()}
    assert got[1] > 3.5
    assert got[2] < 0.1


def test_dw_degenerate(spark):
    from pybabe_spark.operators.timeseries import durbin_watson

    rows = [(1, 0, 5.0), (2, 0, 1.0), (2, 1, 1.0), (3, 0, 1.0),
            (3, 1, None), (3, 2, 3.0)]
    df = spark.createDataFrame(rows, "k int, ts int, v double")
    got = {r["k"]: r for r in durbin_watson(df, "k", "ts", "v").collect()}
    assert got[1]["dw"] is None          # n=1
    assert got[2]["dw"] is None          # zero variance
    assert got[3]["n"] == 2              # NULL excluded, diff spans gap
    assert got[3]["dw"] is not None


# -- stickiness (DAU/WAU/MAU) -------------------------------------------------


def test_stickiness_hand_checked(spark):
    """u1 active days 0,1,8; u2 active days 0,8; u3 active day 8 only.
    With short=7/long=28: day 8's WAU window [2..8] holds u1,u2,u3 via
    day-8 activity only (day 1 is outside) -> wau=3; day 1's window
    [-5..1] holds u1 (d0,d1) and u2 (d0) -> wau=2."""
    import datetime as dt

    from pybabe_spark.operators.timeseries import stickiness

    base = dt.datetime(2024, 1, 1)  # day D
    rows = [
        ("u1", base), ("u1", base + dt.timedelta(days=1)),
        ("u1", base + dt.timedelta(days=8)),
        ("u2", base), ("u2", base + dt.timedelta(days=8)),
        ("u3", base + dt.timedelta(days=8)),
        ("u1", base),  # same-day duplicate must not double-count
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {r["day"]: r for r in stickiness(df, "user_id", "ts").collect()}
    d0 = int(base.timestamp() * 1_000_000) // 86_400_000_000

    assert set(got) == {d0, d0 + 1, d0 + 8}  # only ACTIVE days surface
    assert (got[d0]["dau"], got[d0]["wau"], got[d0]["mau"]) == (2, 2, 2)
    assert (got[d0 + 1]["dau"], got[d0 + 1]["wau"]) == (1, 2)
    assert (got[d0 + 8]["dau"], got[d0 + 8]["wau"]) == (3, 3)
    assert got[d0 + 8]["mau"] == 3  # 28-day window reaches day 0, same users
    # ppm is floored integer division: day1 = 1e6 // 2
    assert got[d0 + 1]["stickiness_ppm"] == 500000
    assert got[d0]["stickiness_ppm"] == 1000000

    import pytest

    with pytest.raises(ValueError):
        stickiness(df, "user_id", "ts", short_days=9, long_days=7)


# -- seasonal_decompose -------------------------------------------------------


def test_seasonal_decompose_odd_period_textbook(spark):
    """Period-3 series 10,20,30 repeating for 9 buckets: trend = 20
    everywhere defined, seasonal = (-10, 0, +10), remainder = 0."""
    import datetime as dt

    from pybabe_spark.operators.timeseries import seasonal_decompose

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("k", base + dt.timedelta(hours=i), float([10, 20, 30][i % 3]))
        for i in range(9)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {r["t"]: r for r in seasonal_decompose(
        df, "k", "ts", "v", period=3, bucket_seconds=3600).collect()}
    t0 = min(out)
    assert len(out) == 9
    assert out[t0]["trend"] is None          # edge: incomplete window
    assert out[t0 + 1]["trend"] == 20.0
    assert out[t0 + 4]["trend"] == 20.0
    # slot seasonality: value pattern (10,20,30) - trend 20
    seas = {t % 3 if False else (t - t0) % 3: out[t]["seasonal"]
            for t in out}
    assert sorted(seas.values()) == [-10.0, 0.0, 10.0]
    for t in out:
        r = out[t]
        if r["trend"] is not None:
            assert r["value"] == r["trend"] + r["seasonal"] + r["remainder"]


def test_seasonal_decompose_even_period_2xma(spark):
    """Even period uses the half-weighted-ends 2xMA: on a pure linear
    ramp the centered 2xMA reproduces the ramp exactly, so seasonal = 0
    and remainder = 0 wherever trend is defined."""
    import datetime as dt

    from pybabe_spark.operators.timeseries import seasonal_decompose

    base = dt.datetime(2024, 1, 1)
    rows = [("k", base + dt.timedelta(hours=i), 5.0 * i) for i in range(12)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    got = {r["t"]: r for r in seasonal_decompose(
        df, "k", "ts", "v", period=4, bucket_seconds=3600).collect()}
    t0 = min(got)
    # full [t-2, t+2] windows exist for t0+2 .. t0+9
    defined = [t for t in got if got[t]["trend"] is not None]
    assert sorted(defined) == [t0 + i for i in range(2, 10)]
    for t in defined:
        assert got[t]["trend"] == got[t]["value"]   # 2xMA of a ramp
        assert got[t]["seasonal"] == 0.0
        assert got[t]["remainder"] == 0.0

    import pytest

    with pytest.raises(ValueError):
        seasonal_decompose(df, "k", "ts", "v", period=1)
    with pytest.raises(ValueError):
        seasonal_decompose(df, "k", "ts", "v", bucket_seconds=0)


def test_seasonal_decompose_gap_disables_trend(spark):
    """A missing bucket must NULL the trend for every window that
    needs it (completeness guard), not silently average fewer rows."""
    import datetime as dt

    from pybabe_spark.operators.timeseries import seasonal_decompose

    base = dt.datetime(2024, 1, 1)
    rows = [("k", base + dt.timedelta(hours=i), 1.0)
            for i in range(7) if i != 3]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    got = {r["t"]: r["trend"] for r in seasonal_decompose(
        df, "k", "ts", "v", period=3, bucket_seconds=3600).collect()}
    t0 = min(got)
    # windows touching the missing t0+3 slot: t0+2, t0+3 (absent), t0+4
    assert got[t0 + 1] == 1.0
    assert got[t0 + 2] is None
    assert got[t0 + 4] is None
    assert got[t0 + 5] == 1.0


def test_snaive_forecast_lookup(spark):
    """Period-3 pattern 10,20,30 over 6 buckets: the next-3 forecast
    replays the last full period; a gap in history propagates NULL."""
    import datetime as dt

    from pybabe_spark.operators.timeseries import snaive_forecast

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("k", base + dt.timedelta(hours=i), float([10, 20, 30][i % 3]))
        for i in range(6) if i != 4          # drop bucket T-1 (value 20)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    got = {r["t"]: r for r in snaive_forecast(
        df, "k", "ts", "v", period=3, horizon=4,
        bucket_seconds=3600).collect()}
    t0 = int(base.timestamp() * 1_000_000) // 3_600_000_000
    T = t0 + 5
    assert set(got) == {T + 1, T + 2, T + 3, T + 4}
    # slot of T+1 is (T+1-3): bucket t0+3 -> 10
    assert got[T + 1]["forecast"] == 10.0
    assert got[T + 1]["t_source"] == T - 2
    assert got[T + 2]["forecast"] is None    # source bucket was dropped
    assert got[T + 3]["forecast"] == 30.0    # source = T itself
    # h=4 reaches TWO periods back only when one period back is the
    # future? no: ceil(4/3)=2 -> source = T+4-6 = T-2 -> bucket t0+3=10
    assert got[T + 4]["forecast"] == 10.0

    import pytest

    with pytest.raises(ValueError):
        snaive_forecast(df, "k", "ts", "v", period=0)
    with pytest.raises(ValueError):
        snaive_forecast(df, "k", "ts", "v", horizon=0)


def test_forecast_backtest_hand_checked(spark):
    """Two days of hourly-ish data, period 2: holdout = last 2 buckets;
    forecasts are the values 2 buckets earlier; MAE/sMAPE exact."""
    import datetime as dt

    from pybabe_spark.operators.timeseries import forecast_backtest

    base = dt.datetime(2024, 1, 1)
    vals = [10.0, 20.0, 16.0, 26.0]  # forecast(16)=10, forecast(26)=20
    rows = [("k", base + dt.timedelta(hours=i), v)
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    r = forecast_backtest(df, "k", "ts", "v", period=2,
                          bucket_seconds=3600).collect()[0]
    assert (r["n_holdout"], r["n_scored"]) == (2, 2)
    # errors: |16-10|=6, |26-20|=6 -> mae 6.0 -> 6_000_000 micros
    assert r["mae_micros"] == 6_000_000
    # sMAPE = (6+6)/( (16+10)+(26+20) ) = 12/72 -> 166666 ppm floored
    assert r["smape_ppm"] == 166666

    # unscoreable holdout (no history before it) -> NULLs, not crash
    short = spark.createDataFrame(rows[:2], "k string, ts timestamp, v double")
    r2 = forecast_backtest(short, "k", "ts", "v", period=2,
                           bucket_seconds=3600).collect()[0]
    assert (r2["n_holdout"], r2["n_scored"]) == (2, 0)
    assert r2["mae_micros"] is None and r2["smape_ppm"] is None

    import pytest

    with pytest.raises(ValueError):
        forecast_backtest(df, "k", "ts", "v", period=0)


def test_seasonal_decompose_mult_pattern_and_guard(spark):
    """Multiplicative fixture: period-3 pattern value = level * (0.5,
    1.0, 1.5) on a FLAT level — trend = level, seasonal indices
    normalized around 1e6, remainder ~1e6; negatives raise."""
    import datetime as dt

    from pybabe_spark.operators.timeseries import seasonal_decompose_mult

    base = dt.datetime(2024, 1, 1)
    pat = [60.0, 120.0, 180.0]  # level 120 x (0.5, 1.0, 1.5)
    rows = [("k", base + dt.timedelta(hours=i), pat[i % 3])
            for i in range(9)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    got = {r["t"]: r for r in seasonal_decompose_mult(
        df, "k", "ts", "v", period=3, bucket_seconds=3600).collect()}
    t0 = min(got)
    assert got[t0]["trend"] is None           # edge window incomplete
    mid = got[t0 + 4]
    assert mid["trend"] == 120.0
    # seasonal indices: 0.5e6 / 1.0e6 / 1.5e6 (already mean-1e6)
    seas = sorted({r["seasonal_ppm"] for r in got.values()
                   if r["seasonal_ppm"] is not None})
    assert seas == [500000, 1000000, 1500000]
    # perfect multiplicative fit -> remainder 1e6 (floored, so 999999
    # or 1000000 depending on the floor chain)
    rems = {r["remainder_ppm"] for r in got.values()
            if r["remainder_ppm"] is not None}
    assert rems <= {999999, 1000000}, rems

    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    neg = spark.createDataFrame(
        [("k", base, -1.0)], "k string, ts timestamp, v double")
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception),
                       match="non-negative"):
        seasonal_decompose_mult(neg, "k", "ts", "v", period=2).collect()
    with pytest.raises(ValueError):
        seasonal_decompose_mult(df, "k", "ts", "v", period=1)

    # twin-definition symmetry (r12 advice fix): on negative data the
    # ORACLE must abort too, not silently emit truncated ratios
    import duckdb
    from pybabe_spark.operators.timeseries import (
        seasonal_decompose_mult_sql,
    )

    con = duckdb.connect()
    con.sql("CREATE TABLE tneg AS SELECT 'k' AS k,"
            " TIMESTAMP '2024-01-01 00:00:00' AS ts, -1.0 AS v")
    with pytest.raises(Exception, match="non-negative"):
        con.sql(
            seasonal_decompose_mult_sql("tneg", "k", "ts", "v", period=2)
        ).fetchall()
