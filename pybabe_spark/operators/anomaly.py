"""Per-key z-score anomaly detection over value series.

Beyond-reference capability: the monitoring layer on top of the
engine's time-series family (sessionize / gap_fill / window_map) —
"which readings sit more than t standard deviations from their key's
level" — as pure declarative plans.

Cross-engine determinism: the mean/variance inputs are EXACT decimal
sums (the engine's house convention — associative, order-independent),
cast to double once; the per-row decision is then a fixed-shape scalar
IEEE-754 expression, identical bit-for-bit on any engine that
evaluates binary64 without reassociation (Spark and DuckDB both do).
The test is kept in squared form — ``(n·x − s)² > t²·(n·q − s²)·1``
divided through by n² as doubles — so no sqrt enters the comparison.

Modes:

- ``global``: one aggregation per key (mean/std over the key's whole
  series), one key-partitioned join back. Two shuffles on the key.
- ``rolling``: trailing ``window``-row statistics per key via a
  key-partitioned window over the SAME decimal sums — the plan shape
  of window_map's partitioned twin; rows before a full window are not
  flagged (std undefined on a part-filled frame is a judgement call —
  this one is documented and mirrored by the oracle).

Both modes emit only the anomalous rows: (key, ts, value, mean, std)
with mean/std decimal-rounded to 6 dp for cross-engine display
stability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pybabe_spark.operators._util import lazy_persist


def _round6(c):
    return F.round(c, 6)


def zscore_anomalies(
    df: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str,
    threshold: float = 3.0,
    mode: str = "global",
    window: int = 20,
) -> DataFrame:
    """Rows where ``|value − mean| > threshold · std`` against the
    key's statistics (module docstring). ``std`` is the population
    standard deviation; keys/frames with zero variance flag nothing
    (a constant series has no outliers, even at value jumps from
    NULLs). NULL values are ignored in the statistics and never
    flagged. Rolling frames order by ``ts_col`` alone — rows sharing a
    timestamp within one key have no deterministic frame membership;
    disambiguate upstream (e.g. add an id to the timestamp) when keys
    can carry duplicate timestamps."""
    if mode not in ("global", "rolling"):
        raise ValueError(f"zscore_anomalies: unknown mode {mode!r}")
    v = F.col(value_col)
    vd = v.cast("decimal(18,6)")
    vq = (vd * vd).cast("decimal(38,12)")  # exact: scale 12 ≥ 6+6

    if mode == "global":
        stats = df.filter(v.isNotNull()).groupBy(key_col).agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(vd).cast("double").alias("__s"),
            F.sum(vq).cast("double").alias("__q"),
        )
        j = df.join(stats, key_col)
    else:
        w = (
            Window.partitionBy(key_col)
            .orderBy(F.col(ts_col).asc())
            .rowsBetween(-(window - 1), 0)
        )
        j = (
            df.withColumn(
                "__n",
                F.count(F.when(v.isNotNull(), F.lit(1))).over(w),
            )
            .withColumn("__s", F.sum(vd).over(w).cast("double"))
            .withColumn("__q", F.sum(vq).over(w).cast("double"))
        )
        # only full frames: n counts non-null values in the last
        # `window` ROWS; require the frame itself to be full
        j = j.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(key_col).orderBy(F.col(ts_col).asc())
            ),
        ).filter(F.col("__rn") >= window)

    n = F.col("__n").cast("double")
    s = F.col("__s")
    q = F.col("__q")
    x = v.cast("double")
    lhs = (n * x - s) * (n * x - s)
    rhs = (threshold * threshold) * (n * q - s * s)
    var_pos = (n * q - s * s) > 0.0
    cond = v.isNotNull() & var_pos & (lhs > rhs) & (F.col("__n") >= 2)
    out = j.filter(cond).select(
        key_col,
        ts_col,
        v.alias(value_col),
        _round6(s / n).alias("mean"),
        _round6(F.sqrt((n * q - s * s)) / n).alias("std"),
    )
    return out


def zscore_anomalies_sql(
    table: str,
    key_col: str,
    value_col: str,
    ts_col: str,
    threshold: float = 3.0,
    mode: str = "global",
    window: int = 20,
) -> str:
    """DuckDB oracle — identical decimal sums and scalar double
    expression shapes."""
    t2 = repr(float(threshold) * float(threshold))
    vd = f"CAST({value_col} AS DECIMAL(18,6))"
    vq = f"CAST({vd} * {vd} AS DECIMAL(38,12))"
    if mode == "global":
        base = f"""
        WITH stats AS (
            SELECT {key_col},
                   COUNT(*) AS __n,
                   CAST(SUM({vd}) AS DOUBLE) AS __s,
                   CAST(SUM({vq}) AS DOUBLE) AS __q
            FROM {table} WHERE {value_col} IS NOT NULL
            GROUP BY {key_col}
        ), j AS (
            SELECT t.*, s.__n, s.__s, s.__q
            FROM {table} t JOIN stats s USING ({key_col})
        )
        """
    else:
        base = f"""
        WITH win AS (
            SELECT *,
                   COUNT(CASE WHEN {value_col} IS NOT NULL THEN 1 END)
                       OVER w AS __n,
                   CAST(SUM({vd}) OVER w AS DOUBLE) AS __s,
                   CAST(SUM({vq}) OVER w AS DOUBLE) AS __q,
                   ROW_NUMBER() OVER (
                       PARTITION BY {key_col} ORDER BY {ts_col}
                   ) AS __rn
            FROM {table}
            WINDOW w AS (
                PARTITION BY {key_col} ORDER BY {ts_col}
                ROWS BETWEEN {int(window) - 1} PRECEDING AND CURRENT ROW
            )
        ), j AS (SELECT * FROM win WHERE __rn >= {int(window)})
        """
    return base + f"""
    SELECT {key_col}, {ts_col}, {value_col},
           ROUND(__s / CAST(__n AS DOUBLE), 6) AS mean,
           ROUND(sqrt(CAST(__n AS DOUBLE) * __q - __s * __s)
                 / CAST(__n AS DOUBLE), 6) AS std
    FROM j
    WHERE {value_col} IS NOT NULL
      AND (CAST(__n AS DOUBLE) * __q - __s * __s) > 0.0
      AND __n >= 2
      AND (CAST(__n AS DOUBLE) * {value_col} - __s)
          * (CAST(__n AS DOUBLE) * {value_col} - __s)
          > {t2} * (CAST(__n AS DOUBLE) * __q - __s * __s)
    """


def mad_anomalies(
    df: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str,
    threshold: float = 3.5,
) -> DataFrame:
    """Robust per-key outliers by the modified z-score (Iglewicz-
    Hoaglin): rows where ``0.6745 · |x − median| / MAD > threshold``,
    with MAD the median absolute deviation. Unlike :func:`
    zscore_anomalies` this is insensitive to the outliers themselves
    inflating the spread — the standard robust twin.

    Cross-engine determinism: the two medians are linear-interpolated
    exact percentiles; on 2-decimal money inputs a midpoint has ≤3
    decimals, so the DECIMAL(18,6) rounding applied to each median is
    stable against the engines' 1-ulp interpolation-order noise (a
    3-decimal value can never sit on a 6-dp half-point). Deviations are
    then EXACT decimals (2-dp value − 6-dp median), and the decision is
    the integer-scaled comparison ``6745·dev > round(10000·t)·mad`` —
    exact decimal×int arithmetic, no float in the comparison. The
    reported ``mscore`` is one final rounded double.

    Keys with ``MAD = 0`` (a majority-constant series) flag nothing —
    the modified z-score is undefined there; NULL values are ignored
    and never flagged. ``threshold`` is quantized to 1e-4.

    Scale shape: two grouped aggregations on the key (exact percentile
    is a per-key sort-based aggregate — grouped, never global) and two
    key-partitioned joins back. For corpora where exact per-key medians
    are too hot, pre-aggregate or sample upstream; an approximate
    variant would lose the value-level oracle.
    """
    tq = round(float(threshold) * 10000)
    vd = F.col(value_col).cast("decimal(18,2)")
    # med (and mad below) are per-key tables consumed by two corpus
    # branches each; the lazy persist stops their aggregation lineage
    # re-running the source scan per consumer (4 scans → 3 measured)
    med = lazy_persist(
        df.filter(F.col(value_col).isNotNull())
        .groupBy(key_col)
        .agg(
            F.round(F.expr(f"percentile({value_col}, 0.5)"), 6)
            .cast("decimal(18,6)")
            .alias("__med")
        )
    )
    dev = (
        df.join(med, key_col)
        .withColumn("__dev", F.abs(vd - F.col("__med")))
    )
    mad = lazy_persist(
        dev.filter(F.col(value_col).isNotNull())
        .groupBy(key_col)
        .agg(
            F.round(F.expr("percentile(__dev, 0.5)"), 6)
            .cast("decimal(18,6)")
            .alias("__mad")
        )
    )
    j = dev.join(mad, key_col)
    cond = (
        F.col(value_col).isNotNull()
        & (F.col("__mad") > 0)
        & (F.col("__dev") * 6745 > F.col("__mad") * tq)
    )
    return j.filter(cond).select(
        key_col,
        ts_col,
        F.col(value_col),
        F.col("__med").cast("double").alias("median"),
        F.col("__mad").cast("double").alias("mad"),
        _round6(
            F.lit(0.6745)
            * F.col("__dev").cast("double")
            / F.col("__mad").cast("double")
        ).alias("mscore"),
    )


def mad_anomalies_sql(
    table: str,
    key_col: str,
    value_col: str,
    ts_col: str,
    threshold: float = 3.5,
) -> str:
    """DuckDB oracle — same rounded medians, exact decimal deviations,
    and integer-scaled decision."""
    tq = round(float(threshold) * 10000)
    return f"""
    WITH med AS (
      SELECT {key_col},
             CAST(ROUND(quantile_cont({value_col}, 0.5), 6)
                  AS DECIMAL(18,6)) AS __med
      FROM {table} WHERE {value_col} IS NOT NULL GROUP BY {key_col}
    ),
    dev AS (
      SELECT t.*, m.__med,
             abs(CAST(t.{value_col} AS DECIMAL(18,2)) - m.__med) AS __dev
      FROM {table} t JOIN med m USING ({key_col})
    ),
    mad AS (
      SELECT {key_col},
             CAST(ROUND(quantile_cont(__dev, 0.5), 6)
                  AS DECIMAL(18,6)) AS __mad
      FROM dev WHERE {value_col} IS NOT NULL GROUP BY {key_col}
    )
    SELECT d.{key_col}, d.{ts_col}, d.{value_col},
           CAST(d.__med AS DOUBLE) AS median,
           CAST(a.__mad AS DOUBLE) AS mad,
           ROUND(0.6745 * CAST(d.__dev AS DOUBLE)
                 / CAST(a.__mad AS DOUBLE), 6) AS mscore
    FROM dev d JOIN mad a USING ({key_col})
    WHERE d.{value_col} IS NOT NULL
      AND a.__mad > 0
      AND d.__dev * 6745 > a.__mad * {tq}
    """


def cusum_alarms(
    df: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str,
    target: float,
    slack: float = 0.0,
    threshold: float = 5.0,
    id_col: str | None = None,
) -> DataFrame:
    """Per-key CUSUM drift detection: the first time each key's
    cumulative deviation from ``target`` (minus the ``slack`` dead
    band) exceeds ``threshold``, in either direction. One row per key:
    ``(key, n_obs, max_s_up, max_s_down, first_alarm_ts, alarm_dir)``
    — ``first_alarm_ts``/``alarm_dir`` NULL when the key never drifts.

    The textbook recursion ``s_t = max(0, s_{t−1} + x_t − μ − k)`` is
    NOT window-expressible, but its closed form is:
    ``s_t = cum_t − min_{j≤t} cum_j`` where ``cum`` is the running sum
    of ``x − μ − k`` — a running sum and a running min, BOTH plain
    cumulative windows. The downward side mirrors with
    ``max_{j≤t} cum'_j − cum'_t`` over ``x − μ + k``. (No alarm-reset
    semantics — this is the detect-FIRST-drift form; after an alarm,
    re-run on the post-alarm suffix if you need sequential alarms.)

    Cross-engine determinism: everything is exact bigint cents —
    values, target, slack and threshold all quantized to 2 decimals;
    no float enters any comparison. NULL values are skipped (they
    contribute no deviation). Scale shape: one key-partitioned
    cumulative window pass + one hash aggregation; no joins, no
    Python.
    """
    tc = round(float(target) * 100)
    kc = round(float(slack) * 100)
    hc = round(float(threshold) * 100)
    if kc < 0 or hc <= 0:
        raise ValueError("cusum_alarms: slack must be >= 0, threshold > 0")
    order = [F.col(ts_col).asc()]
    if id_col is not None:
        order.append(F.col(id_col).asc())
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    nn = df.filter(F.col(value_col).isNotNull())
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    up_dev = cents - F.lit(tc + kc)
    dn_dev = cents - F.lit(tc - kc)
    # two projection layers (window calls cannot nest); same
    # partition/order spec, so the sort is shared
    cums = nn.select(
        F.col(key_col),
        F.col(ts_col),
        *([F.col(id_col)] if id_col is not None else []),
        F.sum(up_dev).over(w).alias("__cu"),
        F.sum(dn_dev).over(w).alias("__cd"),
    )
    stepped = cums.select(
        key_col,
        ts_col,
        (F.col("__cu") - F.min("__cu").over(w)).alias("__s_up"),
        (F.max("__cd").over(w) - F.col("__cd")).alias("__s_dn"),
    )
    # a zero-floor start: the running min/max include the current row,
    # so s >= 0 always and the first row's s is 0 — textbook s_0 = 0
    alarmed = stepped.select(
        key_col,
        ts_col,
        "__s_up",
        "__s_dn",
        F.when(F.col("__s_up") > hc, F.lit("up"))
        .when(F.col("__s_dn") > hc, F.lit("down"))
        .alias("__dir"),
    )
    first = (
        alarmed.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.max("__s_up").alias("max_s_up"),
            F.max("__s_dn").alias("max_s_down"),
            F.min(
                F.when(
                    F.col("__dir").isNotNull(),
                    F.struct(F.col(ts_col).alias("t"), F.col("__dir").alias("d")),
                )
            ).alias("__first"),
        )
    )
    return first.select(
        key_col,
        "n_obs",
        "max_s_up",
        "max_s_down",
        F.col("__first.t").alias("first_alarm_ts"),
        F.col("__first.d").alias("alarm_dir"),
    )


def cusum_alarms_sql(
    table: str,
    key_col: str,
    value_col: str,
    ts_col: str,
    target: float,
    slack: float = 0.0,
    threshold: float = 5.0,
    id_col: str | None = None,
) -> str:
    """DuckDB mirror of :func:`cusum_alarms` — same bigint cents, same
    layered cumulative windows, same first-alarm pick."""
    tc = round(float(target) * 100)
    kc = round(float(slack) * 100)
    hc = round(float(threshold) * 100)
    order = f"{ts_col}" + (f", {id_col}" if id_col else "")
    return f"""
    WITH nn AS (
      SELECT {key_col} AS k, {ts_col} AS t,
             CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
             {f', {id_col} AS oid' if id_col else ''}
      FROM {table} WHERE {value_col} IS NOT NULL
    ),
    cums AS (
      SELECT k, t,
             SUM(c - {tc + kc}) OVER w AS cu,
             SUM(c - {tc - kc}) OVER w AS cd
      FROM nn WINDOW w AS (PARTITION BY k ORDER BY {('t' + (', oid' if id_col else ''))}
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    st AS (
      SELECT k, t,
             cu - MIN(cu) OVER w AS s_up,
             MAX(cd) OVER w - cd AS s_dn
      FROM cums WINDOW w AS (PARTITION BY k ORDER BY t
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    alarmed AS (
      SELECT k, t, s_up, s_dn,
             CASE WHEN s_up > {hc} THEN 'up'
                  WHEN s_dn > {hc} THEN 'down' END AS d
      FROM st
    )
    SELECT k AS {key_col},
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(MAX(s_up) AS BIGINT) AS max_s_up,
           CAST(MAX(s_dn) AS BIGINT) AS max_s_down,
           MIN(t) FILTER (d IS NOT NULL) AS first_alarm_ts,
           arg_min(d, t) FILTER (d IS NOT NULL) AS alarm_dir
    FROM alarmed GROUP BY k
    """


_SEASONS = ("hour_of_day", "day_of_week", "hour_of_week")


def _season_bucket(ts_col: str, season: str) -> "F.Column":
    # Sunday-based day index (Spark dayofweek is 1..7 Sun-first;
    # DuckDB dayofweek is 0..6 Sun-first — the -1 aligns them)
    ts = F.col(ts_col)
    if season == "hour_of_day":
        return F.hour(ts).cast("int")
    if season == "day_of_week":
        return (F.dayofweek(ts) - 1).cast("int")
    return ((F.dayofweek(ts) - 1) * 24 + F.hour(ts)).cast("int")


def seasonal_zscore(
    df: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str,
    threshold: float = 3.0,
    season: str = "hour_of_week",
) -> DataFrame:
    """Seasonality-aware outliers — the flag :func:`zscore_anomalies`
    gets WRONG on periodic series: Monday 9am traffic is not an
    anomaly just because the weekly mean says so, and a quiet Sunday
    spike hides inside a global std. The baseline here is the
    (key, season-bucket) cell — ``hour_of_day`` (0-23),
    ``day_of_week`` (0-6, Sunday-first on both engines), or
    ``hour_of_week`` (0-167) — so each row is judged against its own
    recurring slot.

    Same exactness discipline as zscore_anomalies: per-cell decimal
    sums → one fixed-shape double comparison
    ``(n·x − S)² > t²·(nQ − S²)``; zero-variance or n<2 cells flag
    nothing; NULL values are ignored and never flagged. Output:
    flagged rows ``(key, ts, bucket, value, mean, std)``.

    Scale shape: one hash agg to the (key, bucket) grain (≤ 168 cells
    per key) + one equi-join back — no window, no global pass.
    """
    if season not in _SEASONS:
        raise ValueError(
            f"seasonal_zscore: season {season!r} not in {_SEASONS}"
        )
    stats = seasonal_baseline(df, key_col, value_col, ts_col, season)
    return flag_against_baseline(
        df, stats, key_col, value_col, ts_col, threshold, season
    )


def seasonal_baseline(
    df: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str,
    season: str = "hour_of_week",
) -> DataFrame:
    """The (key, bucket) statistics table :func:`seasonal_zscore`
    judges against — ``(key, __b, __n, __s, __q)`` from one hash agg.
    Exposed so a STORED baseline (built from history, written to
    parquet) can score live data — the streaming twin
    ``streaming/ops.py::stream_anomalies_against`` reads exactly this
    table."""
    v = F.col(value_col)
    vd = v.cast("decimal(18,6)")
    vq = (vd * vd).cast("decimal(38,12)")
    return (
        df.withColumn("__b", _season_bucket(ts_col, season))
        .filter(v.isNotNull())
        .groupBy(key_col, "__b")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(vd).cast("double").alias("__s"),
            F.sum(vq).cast("double").alias("__q"),
        )
    )


def flag_against_baseline(
    df: DataFrame,
    stats: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str,
    threshold: float = 3.0,
    season: str = "hour_of_week",
) -> DataFrame:
    """Score rows against a :func:`seasonal_baseline` table (freshly
    computed or read back from storage): same join + fixed-shape
    decision as the batch operator, factored so batch and streaming
    twins cannot drift."""
    v = F.col(value_col)
    tagged = df.withColumn("__b", _season_bucket(ts_col, season))
    j = tagged.join(stats, [key_col, "__b"])
    n = F.col("__n").cast("double")
    s = F.col("__s")
    q = F.col("__q")
    x = v.cast("double")
    lhs = (n * x - s) * (n * x - s)
    rhs = (float(threshold) * float(threshold)) * (n * q - s * s)
    var_pos = (n * q - s * s) > 0.0
    cond = v.isNotNull() & var_pos & (lhs > rhs) & (F.col("__n") >= 2)
    return j.filter(cond).select(
        key_col,
        ts_col,
        F.col("__b").alias("bucket"),
        v.alias(value_col),
        _round6(s / n).alias("mean"),
        _round6(F.sqrt((n * q - s * s)) / n).alias("std"),
    )


def seasonal_zscore_sql(
    table: str,
    key_col: str,
    value_col: str,
    ts_col: str,
    threshold: float = 3.0,
    season: str = "hour_of_week",
) -> str:
    """DuckDB oracle of :func:`seasonal_zscore` — same Sunday-aligned
    bucket arithmetic, decimal sums, and scalar comparison."""
    t2 = repr(float(threshold) * float(threshold))
    vd = f"CAST({value_col} AS DECIMAL(18,6))"
    vq = f"CAST({vd} * {vd} AS DECIMAL(38,12))"
    ts = f"CAST({ts_col} AS TIMESTAMP)"
    if season == "hour_of_day":
        b = f"CAST(hour({ts}) AS INT)"
    elif season == "day_of_week":
        b = f"CAST(dayofweek({ts}) AS INT)"
    else:
        b = f"CAST(dayofweek({ts}) * 24 + hour({ts}) AS INT)"
    return f"""
    WITH tagged AS (SELECT *, {b} AS __b FROM {table}),
    stats AS (
        SELECT {key_col}, __b,
               COUNT(*) AS __n,
               CAST(SUM({vd}) AS DOUBLE) AS __s,
               CAST(SUM({vq}) AS DOUBLE) AS __q
        FROM tagged WHERE {value_col} IS NOT NULL
        GROUP BY {key_col}, __b
    ),
    j AS (
        SELECT t.*, s.__n, s.__s, s.__q
        FROM tagged t JOIN stats s USING ({key_col}, __b)
    )
    SELECT {key_col}, {ts_col}, __b AS bucket, {value_col},
           ROUND(__s / CAST(__n AS DOUBLE), 6) AS mean,
           ROUND(sqrt(CAST(__n AS DOUBLE) * __q - __s * __s)
                 / CAST(__n AS DOUBLE), 6) AS std
    FROM j
    WHERE {value_col} IS NOT NULL
      AND (CAST(__n AS DOUBLE) * __q - __s * __s) > 0.0
      AND __n >= 2
      AND (CAST(__n AS DOUBLE) * {value_col} - __s)
          * (CAST(__n AS DOUBLE) * {value_col} - __s)
          > {t2} * (CAST(__n AS DOUBLE) * __q - __s * __s)
    """
