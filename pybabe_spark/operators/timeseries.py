"""Batch time-series operators: gap-based sessionization and regular-grid
gap fill (resample + forward fill).

Beyond-reference capability. The reference's closest machinery is the
per-substream grouping of its sort/group pipeline (pybabe/base.py — one
generator pass per key run); these are the same semantics expressed as
per-key window plans so every key's series is processed in parallel.

Scale shape (both ops): ONE shuffle on the series key, then per-key
window/aggregation work that is linear in that key's rows. No global
window, no driver-side series. Skewed keys (one user with a billion
events) serialize within their key — the same bound as any keyed
sessionization — and the gap-fill grid is generated per key from that
key's own [min, max] span, so a sparse key never pays the global span.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pybabe_spark.operators._util import gen_col


def sessionize(
    events: DataFrame,
    gap_seconds: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Assign gap-based session ids: per key, events ordered by time
    belong to one session until an inter-event gap of ``gap_seconds``
    OR MORE opens (``ts >= prev_ts + gap`` starts a new session — the
    strict-overlap boundary of Spark's ``session_window`` and of this
    engine's streaming ``sessionize``, streaming/ops.py, so batch and
    stream agree on the edge case).

    Adds a ``session_id`` column: consecutive integers per key starting
    at 1, in time order. ``order_cols`` breaks timestamp ties
    deterministically (defaults to every other column being absent —
    pass a unique id when timestamps can collide).

    Plan: one lag() + one running SUM over the key-partitioned time
    order — a single shuffle on ``key_col``, then linear per-key work.
    """
    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in (order_cols or [])
    ]
    w = Window.partitionBy(key_col).orderBy(*order)
    prev = gen_col(events.columns, "__prev_ts")
    new = gen_col(events.columns, "__new_session")
    gap = F.expr(f"INTERVAL {int(gap_seconds)} SECOND")
    return (
        events.withColumn(prev, F.lag(ts_col).over(w))
        .withColumn(
            new,
            F.when(
                F.col(prev).isNull()
                | (F.col(ts_col) >= F.col(prev) + gap),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "session_id",
            F.sum(new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .drop(prev, new)
    )


def session_stats(
    events: DataFrame,
    gap_seconds: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """One row per (key, session): start, end, event count, duration in
    MICROSECONDS (exact integer arithmetic — seconds would force a
    floor whose rounding differs across engines). Same single-shuffle
    plan as :func:`sessionize` plus one hash aggregation that reuses
    the session shuffle's partitioning."""
    s = sessionize(events, gap_seconds, key_col, ts_col, order_cols)
    return (
        s.groupBy(key_col, "session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn(
            "duration_us",
            F.unix_micros("session_end") - F.unix_micros("session_start"),
        )
    )


def sessionize_sql(
    table: str,
    gap_seconds: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_cols: list[str] | None = None,
    stats: bool = False,
) -> str:
    """DuckDB oracle of :func:`sessionize` / :func:`session_stats` —
    the identical lag + running-sum formulation."""
    order = ", ".join([ts_col] + list(order_cols or []))
    base = f"""
    WITH lagged AS (
        SELECT *,
               LAG({ts_col}) OVER (PARTITION BY {key_col} ORDER BY {order})
                   AS __prev_ts
        FROM {table}
    ), flagged AS (
        SELECT *,
               CASE WHEN __prev_ts IS NULL
                         OR {ts_col} >= __prev_ts
                            + INTERVAL {int(gap_seconds)} SECOND
                    THEN 1 ELSE 0 END AS __new_session
        FROM lagged
    ), sessioned AS (
        SELECT * EXCLUDE (__prev_ts, __new_session),
               CAST(SUM(__new_session) OVER (
                   PARTITION BY {key_col} ORDER BY {order}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_id
        FROM flagged
    )
    """
    if not stats:
        return base + "SELECT * FROM sessioned"
    return base + f"""
    SELECT {key_col}, session_id,
           MIN({ts_col}) AS session_start,
           MAX({ts_col}) AS session_end,
           COUNT(*) AS n_events,
           epoch_us(MAX({ts_col})) - epoch_us(MIN({ts_col}))
               AS duration_us
    FROM sessioned
    GROUP BY {key_col}, session_id
    """


def gap_fill(
    df: DataFrame,
    step_seconds: int,
    key_col: str,
    ts_col: str,
    agg_cols: dict[str, str],
    fill: str = "forward",
) -> DataFrame:
    """Resample an event series onto a regular per-key grid and fill
    the empty buckets: floor each event into a ``step_seconds`` bucket,
    aggregate per (key, bucket), MATERIALIZE every bucket between that
    key's first and last (``sequence`` + explode — absent buckets exist
    as rows), then fill each aggregate column per ``fill``:

    - ``"forward"``: last non-null earlier value (classic LOCF),
    - ``"zero"``: 0,
    - ``"null"``: leave NULL,
    - ``"linear"``: straight-line interpolation between the nearest
      non-null neighbors (time-weighted — a 1-bucket gap and a 9-bucket
      gap both draw the same line); before the first / after the last
      non-null value the fill is flat (nearest available). The sensor /
      metrics resampling rule LOCF mis-states for sloping series. The
      interpolated value is exact: integer micro-units and one
      half-away-from-zero integral division (:func:`_lerp_micro`), so
      both engines agree bit-for-bit, at ties too.

    ``agg_cols`` maps column → aggregate ('sum' | 'count' | 'min' |
    'max'); sums of doubles go through the engine's exact-decimal
    convention so the fill is cross-engine deterministic.

    Plan: one shuffle for the (key, bucket) aggregation, a per-key
    1-row span aggregate whose ``sequence()`` explode generates the
    grid (grid size = key's own span / step, never the global span), a
    key+bucket equi-join of grid to data, and — for forward fill — one
    key-partitioned window. No global window, no driver loop.
    """
    if fill not in ("forward", "zero", "null", "linear"):
        raise ValueError(f"gap_fill: unknown fill {fill!r}")
    aggs = []
    for c, how in agg_cols.items():
        if how == "sum":
            aggs.append(
                F.sum(F.col(c).cast("decimal(18,6)"))
                .cast("double")
                .alias(c)
            )
        elif how == "count":
            aggs.append(F.count(c).alias(c))
        elif how in ("min", "max"):
            aggs.append(getattr(F, how)(c).alias(c))
        else:
            raise ValueError(f"gap_fill: unknown agg {how!r} for {c}")
    step = int(step_seconds)
    bucket = F.timestamp_seconds(
        (F.floor(F.unix_timestamp(ts_col) / F.lit(step)) * step).cast(
            "long"
        )
    )
    data = (
        df.withColumn("bucket", bucket)
        .groupBy(key_col, "bucket")
        .agg(*aggs)
    )
    grid = (
        data.groupBy(key_col)
        .agg(F.min("bucket").alias("__lo"), F.max("bucket").alias("__hi"))
        .select(
            key_col,
            F.explode(
                F.sequence(
                    "__lo", "__hi", F.expr(f"INTERVAL {step} SECOND")
                )
            ).alias("bucket"),
        )
    )
    out = grid.join(data, [key_col, "bucket"], "left")
    vals = list(agg_cols)
    if fill == "zero":
        out = out.select(
            key_col,
            "bucket",
            *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in vals],
        )
    elif fill == "forward":
        w = (
            Window.partitionBy(key_col)
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        out = out.select(
            key_col,
            "bucket",
            *[F.last(c, ignorenulls=True).over(w).alias(c) for c in vals],
        )
    elif fill == "linear":
        wp = (
            Window.partitionBy(key_col)
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wn = (
            Window.partitionBy(key_col)
            .orderBy("bucket")
            .rowsBetween(0, Window.unboundedFollowing)
        )
        t = F.unix_timestamp("bucket")

        def ends(i, c):
            known_t = F.when(F.col(c).isNotNull(), t)
            return [
                F.last(c, ignorenulls=True).over(wp).alias(f"__pv{i}"),
                F.last(known_t, ignorenulls=True).over(wp).alias(f"__pt{i}"),
                F.first(c, ignorenulls=True).over(wn).alias(f"__nv{i}"),
                F.first(known_t, ignorenulls=True).over(wn).alias(f"__nt{i}"),
            ]

        out = out.select(
            key_col, "bucket", t.alias("__t"),
            *[F.col(c).alias(f"__v{i}") for i, c in enumerate(vals)],
            *[e for i, c in enumerate(vals) for e in ends(i, c)],
        ).select(
            key_col,
            "bucket",
            *[
                F.expr(
                    _lerp_micro(
                        f"__v{i}", f"__pv{i}", f"__nv{i}", "__t",
                        f"__pt{i}", f"__nt{i}", "DECIMAL(38,0)", "div",
                    )
                ).alias(c)
                for i, c in enumerate(vals)
            ],
        )
    return out


def _lerp_micro(v, pv, nv, t, pt, nt, wide, div):
    """SQL of one linearly filled value: ``v`` if known, the nearest
    known value at an edge of the grid, else ``pv + (nv − pv)·(t − pt)
    / (nt − pt)`` rounded to 6 dp. The rounding is exact: ``pv`` and
    ``nv`` in integer micro-units, the step in the ``wide`` integer
    type, and one sign-split integral division (``div``) that rounds
    half away from zero — no IEEE quotient whose 6 dp cast the two
    engines round differently at a tie (Spark rounds the shortest
    repr, DuckDB 1.0 does not). Spark passes ``DECIMAL(38,0)`` and
    ``div``, DuckDB ``HUGEINT`` and ``//``."""
    pu = f"CAST(round({pv} * 1000000) AS BIGINT)"
    num = f"((CAST(round({nv} * 1000000) AS {wide}) - {pu}) * ({t} - {pt}))"
    den = f"({nt} - {pt})"
    step = (
        f"CASE WHEN {num} >= 0 THEN (2 * {num} + {den}) {div} (2 * {den})"
        f" ELSE -(({den} - 2 * {num}) {div} (2 * {den})) END"
    )
    return (
        f"CASE WHEN {v} IS NOT NULL THEN {v} WHEN {pv} IS NULL THEN {nv}"
        f" WHEN {nv} IS NULL THEN {pv}"
        f" ELSE CAST({pu} + {step} AS DOUBLE) / 1000000 END"
    )


def gap_fill_sql(
    table: str,
    step_seconds: int,
    key_col: str,
    ts_col: str,
    agg_cols: dict[str, str],
    fill: str = "forward",
) -> str:
    """DuckDB oracle of :func:`gap_fill` — generate_series grid, same
    bucket floor, same decimal-sum convention, IGNORE NULLS window for
    the forward fill, the same exact :func:`_lerp_micro` for the
    linear one."""
    step = int(step_seconds)
    parts = []
    for c, how in agg_cols.items():
        if how == "sum":
            parts.append(
                f"CAST(SUM(CAST({c} AS DECIMAL(18,6))) AS DOUBLE) AS {c}"
            )
        elif how == "count":
            parts.append(f"COUNT({c}) AS {c}")
        else:
            parts.append(f"{how.upper()}({c}) AS {c}")
    sel = ", ".join(parts)
    vals = list(agg_cols)
    if fill == "zero":
        fills = ", ".join(f"COALESCE(d.{c}, 0) AS {c}" for c in vals)
    elif fill == "forward":
        fills = ", ".join(
            f"LAST_VALUE(d.{c} IGNORE NULLS) OVER ("
            f"PARTITION BY g.{key_col} ORDER BY g.bucket "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS {c}"
            for c in vals
        )
    elif fill == "linear":
        wp = (
            f"OVER (PARTITION BY g.{key_col} ORDER BY g.bucket "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        wn = (
            f"OVER (PARTITION BY g.{key_col} ORDER BY g.bucket "
            "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
        )

        t = "CAST(epoch(g.bucket) AS BIGINT)"

        def _lerp(c):
            kt = f"CASE WHEN d.{c} IS NOT NULL THEN {t} END"
            pv = f"LAST_VALUE(d.{c} IGNORE NULLS) {wp}"
            pt = f"LAST_VALUE({kt} IGNORE NULLS) {wp}"
            nv = f"FIRST_VALUE(d.{c} IGNORE NULLS) {wn}"
            nt = f"FIRST_VALUE({kt} IGNORE NULLS) {wn}"
            lerp = _lerp_micro(f"d.{c}", pv, nv, t, pt, nt, "HUGEINT", "//")
            return f"{lerp} AS {c}"

        fills = ", ".join(_lerp(c) for c in vals)
    else:
        fills = ", ".join(f"d.{c} AS {c}" for c in vals)
    return f"""
    WITH data AS (
        SELECT {key_col},
               TIMESTAMP '1970-01-01 00:00:00'
                   + CAST(floor(epoch({ts_col}) / {step}) AS BIGINT)
                     * {step} * INTERVAL 1 SECOND AS bucket,
               {sel}
        FROM {table}
        GROUP BY 1, 2
    ), span AS (
        SELECT {key_col}, MIN(bucket) AS lo, MAX(bucket) AS hi
        FROM data GROUP BY {key_col}
    ), grid AS (
        SELECT {key_col}, UNNEST(generate_series(lo, hi,
                   INTERVAL {step} SECOND))::TIMESTAMP AS bucket
        FROM span
    )
    SELECT g.{key_col}, g.bucket, {fills}
    FROM grid g LEFT JOIN data d
      ON g.{key_col} = d.{key_col} AND g.bucket = d.bucket
    """


def retention_cohorts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    period_seconds: int = 604800,
    max_offset: int = 8,
) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the period of
    their FIRST activity; each later period they are active again
    counts toward that cohort's retention at ``offset = period −
    cohort_period``. Returns one row per (cohort, offset ≤
    ``max_offset``): ``(cohort_start, offset, n_users,
    retained_ppm)`` where ``retained_ppm`` is retention in exact
    integer parts-per-million of the cohort's offset-0 size (the house
    integer-micro-unit idiom — cross-engine deterministic, no IEEE
    division).

    Plan: one distinct over (key, period) — the only corpus-scale
    shuffle; the first-activity aggregation and the activity join both
    reuse that key partitioning; the (cohort, offset) count and the
    cohort-partitioned size window run on cohorts × offsets rows, not
    the corpus. Period arithmetic is integer µs (``div``), positive
    epochs assumed (period index truncates toward zero).
    """
    if period_seconds <= 0 or max_offset < 0:
        raise ValueError("retention_cohorts: bad period/max_offset")
    per_us = int(period_seconds) * 1_000_000
    act = (
        df.filter(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(key_col).alias("__k"),
            F.expr(f"unix_micros({ts_col}) div {per_us}").alias("__p"),
        )
        .distinct()
    )
    coh = act.groupBy("__k").agg(F.min("__p").alias("__c0"))
    cnt = (
        act.join(coh, "__k")
        .filter(F.col("__p") - F.col("__c0") <= max_offset)
        .groupBy(
            F.col("__c0"),
            (F.col("__p") - F.col("__c0")).alias("offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    w = Window.partitionBy("__c0")
    size = F.sum(F.when(F.col("offset") == 0, F.col("n_users"))).over(w)
    return cnt.withColumn("__sz", size).select(
        F.timestamp_micros(F.col("__c0") * per_us).alias("cohort_start"),
        "offset",
        "n_users",
        F.expr("(n_users * 1000000) div __sz").alias("retained_ppm"),
    )


def retention_cohorts_sql(
    table: str,
    key_col: str,
    ts_col: str,
    period_seconds: int = 604800,
    max_offset: int = 8,
) -> str:
    """DuckDB oracle of :func:`retention_cohorts` — identical integer-µs
    period arithmetic and ppm division."""
    per_us = int(period_seconds) * 1_000_000
    return f"""
    WITH act AS (
        SELECT DISTINCT {key_col} AS k,
               epoch_us({ts_col}) // {per_us} AS p
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
    ), coh AS (
        SELECT k, MIN(p) AS c0 FROM act GROUP BY k
    ), cnt AS (
        SELECT c0, p - c0 AS "offset", COUNT(*) AS n_users
        FROM act JOIN coh USING (k)
        WHERE p - c0 <= {int(max_offset)}
        GROUP BY c0, p - c0
    )
    SELECT make_timestamp(c0 * {per_us}) AS cohort_start,
           "offset", n_users,
           CAST((n_users * 1000000)
                // CAST(SUM(CASE WHEN "offset" = 0 THEN n_users END)
                        OVER (PARTITION BY c0) AS BIGINT)
                AS BIGINT) AS retained_ppm
    FROM cnt
    """


def calendar(
    spark,
    start: str,
    end: str,
) -> DataFrame:
    """Date-dimension generator: one row per day in [start, end]
    (inclusive, 'YYYY-MM-DD' strings) — ``(d, year, quarter, month,
    week, day, dow, is_weekend)`` with ISO semantics (``week`` =
    ISO week number, ``dow`` 1 = Monday … 7 = Sunday). The spine every
    warehouse joins facts against (gap-free reporting, fiscal rollups,
    weekend flags).

    One ``sequence()`` explode — the grid never passes through the
    driver; a century is ~36 525 rows. All fields are pure codegen
    date functions with DuckDB-identical ISO definitions (Spark's
    ``dayofweek`` is Sunday-based and ``weekofyear``'s January
    boundary is ISO on both engines — ``dow`` here deliberately uses
    ``weekday()+1`` to pin Monday=1).
    """
    base = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit(start)),
                F.to_date(F.lit(end)),
            )
        ).alias("d")
    )
    return base.select(
        F.col("d").cast("timestamp").alias("d"),
        F.year("d").alias("year"),
        F.quarter("d").alias("quarter"),
        F.month("d").alias("month"),
        F.weekofyear("d").cast("int").alias("week"),
        F.dayofmonth("d").alias("day"),
        (F.weekday("d") + 1).cast("int").alias("dow"),
        (F.weekday("d") >= 5).alias("is_weekend"),
    )


def calendar_sql(start: str, end: str) -> str:
    """DuckDB oracle of :func:`calendar`."""
    return f"""
    SELECT CAST(d AS TIMESTAMP) AS d,
           CAST(year(d) AS INT) AS year,
           CAST(quarter(d) AS INT) AS quarter,
           CAST(month(d) AS INT) AS month,
           CAST(weekofyear(d) AS INT) AS week,
           CAST(dayofmonth(d) AS INT) AS day,
           CAST(isodow(d) AS INT) AS dow,
           isodow(d) >= 6 AS is_weekend
    FROM (SELECT UNNEST(generate_series(DATE '{start}', DATE '{end}',
                                        INTERVAL 1 DAY)) AS d)
    """


def ewma_smooth(
    df: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str,
    id_col: str | None = None,
    depth: int = 4,
    out_col: str = "ewma",
) -> DataFrame:
    """Per-key exponentially-weighted moving average (half-life decay)
    over the trailing ``depth`` observations, appended as ``out_col``.

    Weights are the EXACT powers of two of an α=½ EWMA truncated at
    ``depth`` terms — the newest observation gets ``2^(depth−1)``, the
    oldest kept one gets 1 — normalized by the weights actually present
    (series starts and NULL values simply drop their term, so early
    rows average over what exists instead of decaying toward a phantom
    zero). A row whose trailing window holds no non-NULL value gets a
    NULL ``out_col``.

    Cross-engine determinism: values enter at 2-decimal money precision
    (``DECIMAL(18,2)·100`` → exact bigint cents), the weighted sum is a
    fixed-depth chain of bigint multiply-adds over ``lag`` columns (no
    float accumulation, no order dependence), and the single final
    division of two exact bigints is correctly rounded IEEE-754 on
    every engine. α is fixed at ½ BECAUSE of this design — arbitrary α
    would put transcendental powers inside the accumulation, the exact
    hazard the house decimal convention exists to avoid.

    Scale shape (100 TB): one key-partitioned window, ``depth`` lag
    expressions evaluated in a single pass — no self-join, no
    per-row Python. ``depth`` is bounded (≤ 30) because each term
    shifts cents left by up to ``depth`` bits.
    """
    if not 1 <= depth <= 30:
        raise ValueError("ewma_smooth: depth must be in [1, 30]")
    order = [F.col(ts_col).asc()]
    if id_col is not None:
        order.append(F.col(id_col).asc())
    w = Window.partitionBy(key_col).orderBy(*order)
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    c0 = gen_col(df.columns, "__ewma_c")
    with_c = df.withColumn(c0, cents)
    num = F.lit(0).cast("bigint")
    den = F.lit(0).cast("bigint")
    for i in range(depth):
        term = F.lag(c0, i).over(w) if i else F.col(c0)
        wt = 1 << (depth - 1 - i)
        num = num + F.coalesce(term * wt, F.lit(0))
        den = den + F.when(term.isNotNull(), F.lit(wt * 100)).otherwise(0)
    return with_c.withColumn(
        out_col,
        F.when(den > 0, num.cast("double") / den.cast("double")),
    ).drop(c0)


def ewma_sql(
    table: str,
    key_col: str,
    value_col: str,
    ts_col: str,
    id_col: str | None = None,
    depth: int = 4,
    out_col: str = "ewma",
    select: str = "*",
) -> str:
    """DuckDB mirror of :func:`ewma_smooth` — same bigint cents, same
    power-of-two weight chain, same single IEEE division."""
    order = f"{ts_col} ASC" + (f", {id_col} ASC" if id_col else "")
    over = f"OVER (PARTITION BY {key_col} ORDER BY {order})"
    lag = lambda i: (  # noqa: E731
        "c" if i == 0 else f"lag(c, {i}) {over}"
    )
    num = " + ".join(
        f"COALESCE({lag(i)} * {1 << (depth - 1 - i)}, 0)" for i in range(depth)
    )
    den = " + ".join(
        f"(CASE WHEN {lag(i)} IS NOT NULL THEN {(1 << (depth - 1 - i)) * 100} ELSE 0 END)"
        for i in range(depth)
    )
    return f"""
    WITH __ewma_src AS (
      SELECT *, CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM {table}
    )
    SELECT {select},
           CASE WHEN ({den}) > 0
                THEN CAST(({num}) AS DOUBLE) / CAST(({den}) AS DOUBLE)
           END AS {out_col}
    FROM __ewma_src
    """


def time_weighted_avg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    id_col: str | None = None,
) -> DataFrame:
    """Per-key time-weighted average (TWAP) over an irregular series:
    each observation is held until the next one (LOCF integral), so
    ``twa = Σ vᵢ·(tᵢ₊₁ − tᵢ) / (t_N − t₀)`` — the correct mean for
    sampled-on-change series (prices, sensor states, account levels)
    where the row-mean over-weights bursty periods.

    Output ``(key, twa, n_intervals, total_seconds)``; keys with fewer
    than two non-NULL observations have no interval and are absent.
    The LAST observation carries no weight (it is the integral's right
    boundary — the standard convention; append a synthetic now-row
    upstream to extend the hold). NULL values are dropped before
    pairing, so a NULL never truncates its neighbors' interval.

    Cross-engine determinism: weights are exact microsecond bigints
    (``unix_micros`` / ``epoch_us``), values exact bigint cents, each
    product accumulated in DECIMAL(38,0) (HUGEINT-equivalent — a
    century-long interval at max money cannot overflow), and the final
    division is one IEEE op. Scale shape: one key-partitioned lead()
    window + one hash aggregation — two shuffles on the key, no joins.
    """
    order = [F.col(ts_col).asc()]
    if id_col is not None:
        order.append(F.col(id_col).asc())
    w = Window.partitionBy(key_col).orderBy(*order)
    nn = df.filter(F.col(value_col).isNotNull())
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    stepped = nn.select(
        F.col(key_col),
        cents.alias("__c"),
        (F.lead(F.unix_micros(F.col(ts_col))).over(w)
         - F.unix_micros(F.col(ts_col))).alias("__dt"),
    ).filter(F.col("__dt").isNotNull())
    agg = stepped.groupBy(key_col).agg(
        F.sum((F.col("__c") * F.col("__dt")).cast("decimal(38,0)"))
        .alias("__num"),
        F.sum(F.col("__dt").cast("decimal(38,0)")).alias("__den"),
        F.count(F.lit(1)).alias("n_intervals"),
    )
    return agg.select(
        key_col,
        # a key whose every interval is zero-width (identical
        # timestamps) has no integral: NULL, not an engine-dependent 0/0
        F.when(
            F.col("__den") > 0,
            F.col("__num").cast("double")
            / (F.col("__den").cast("double") * 100.0),
        ).alias("twa"),
        "n_intervals",
        (F.col("__den").cast("double") / 1e6).alias("total_seconds"),
    )


def time_weighted_avg_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    id_col: str | None = None,
) -> str:
    """DuckDB mirror of :func:`time_weighted_avg` — same micros ×
    cents integers, HUGEINT accumulation, single IEEE division."""
    oid = f", {id_col} AS oid" if id_col else ""
    order = "t ASC" + (", oid ASC" if id_col else "")
    return f"""
    WITH nn AS (
      SELECT {key_col} AS k,
             CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
             epoch_us({ts_col}) AS t{oid}
      FROM {table} WHERE {value_col} IS NOT NULL
    ),
    stepped AS (
      SELECT k, c,
             lead(t) OVER (PARTITION BY k ORDER BY {order}) - t AS dt
      FROM nn
    )
    SELECT k AS {key_col},
           CASE WHEN SUM(CAST(dt AS HUGEINT)) > 0 THEN
           CAST(CAST(SUM(CAST(c AS HUGEINT) * dt) AS DOUBLE)
                / (CAST(SUM(CAST(dt AS HUGEINT)) AS DOUBLE) * 100.0)
                AS DOUBLE) END AS twa,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(CAST(dt AS HUGEINT)) AS DOUBLE) / 1e6 AS total_seconds
    FROM stepped WHERE dt IS NOT NULL
    GROUP BY k
    """


def km_survival(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Kaplan-Meier survival curve per group: for each distinct event
    time ``t`` (durations where at least one event occurred),
    ``(group, t, n_risk, n_events, n_censored, survival)`` with
    ``survival = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ)`` — the standard right-censored
    time-to-event estimator (churn curves, conversion-latency curves,
    component lifetimes). ``event_col`` is 1 when the event was
    observed at ``duration_col``, 0 when the subject left observation
    (censored). Censored subjects leave the risk set after ``t`` but
    contribute no factor.

    Cross-engine determinism: the product is computed in log space —
    each factor's ``ln((n−d)/n)`` takes one DECIMAL(18,6) rounding
    (the house transcendental boundary), the running sum is an exact
    decimal cumulative window, and one final ``exp`` + rounding emits
    the curve. A step where every at-risk subject dies (n = d) sends
    the curve to EXACTLY 0 from that time on (flagged in-plan, not
    ln(0) = −inf arithmetic).

    Scale shape: one hash agg to per-(group, duration) event/censor
    counts — the table is distinct-duration-sized, corpus-sized only
    in the worst case — then group-partitioned cumulative windows on
    it. NULL durations are excluded; ties in duration process events
    at ``t`` before censors (the standard convention: a subject
    censored at ``t`` was at risk at ``t``).
    """
    g = [group_col] if group_col is not None else []
    ev = F.col(event_col).cast("int")
    base = df.filter(F.col(duration_col).isNotNull()).select(
        *g,
        F.col(duration_col).alias("t"),
        ev.alias("__e"),
    )
    counts = base.groupBy(*g, "t").agg(
        F.sum("__e").alias("n_events"),
        F.sum(F.lit(1) - F.col("__e")).alias("n_censored"),
    )
    w_ord = Window.partitionBy(*g).orderBy(F.col("t").asc())
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy(*g)
    # layered (window calls cannot nest): cumulative departures first,
    # then the lag of that cumulative in a second projection
    stepped = (
        counts.withColumn(
            "__tot", F.sum(F.col("n_events") + F.col("n_censored")).over(wall)
        )
        .withColumn(
            "__cum", F.sum(F.col("n_events") + F.col("n_censored")).over(w_cum)
        )
        .withColumn(
            "n_risk", F.col("__tot") - F.lag("__cum", 1, 0).over(w_ord)
        )
        .drop("__tot", "__cum")
    )
    # log-space factor; NULL marks the n == d extinction step
    term = F.when(
        F.col("n_events") < F.col("n_risk"),
        F.log(
            (F.col("n_risk") - F.col("n_events")).cast("double")
            / F.col("n_risk").cast("double")
        ).cast("decimal(18,6)"),
    )
    curve = (
        stepped.withColumn("__term", term)
        .withColumn(
            "__logsum",
            F.sum(F.when(F.col("n_events") > 0, F.col("__term"))).over(w_cum),
        )
        .withColumn(
            "__dead",
            F.sum(
                ((F.col("n_events") > 0) & F.col("__term").isNull()).cast("int")
            ).over(w_cum),
        )
    )
    out = curve.filter(F.col("n_events") > 0).select(
        *g,
        "t",
        "n_risk",
        "n_events",
        "n_censored",
        F.when(F.col("__dead") > 0, F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.coalesce(F.col("__logsum").cast("double"),
                                     F.lit(0.0))), 6)
        )
        .alias("survival"),
    )
    return out


def km_survival_sql(
    src: str,
    duration_col: str,
    event_col: str,
    group_col: str | None = None,
) -> str:
    """DuckDB mirror of :func:`km_survival` (same rounded log terms,
    exact decimal cumsum, same extinction rule). ``src`` is a table
    name or parenthesized subquery."""
    g = f"{group_col}, " if group_col else ""
    gp = f"PARTITION BY {group_col}" if group_col else ""
    return f"""
    WITH base AS (
      SELECT {g}{duration_col} AS t,
             CAST({event_col} AS INT) AS e
      FROM {src} WHERE {duration_col} IS NOT NULL
    ),
    counts AS (
      SELECT {g}t, CAST(SUM(e) AS BIGINT) AS n_events,
             CAST(SUM(1 - e) AS BIGINT) AS n_censored
      FROM base GROUP BY {g}t
    ),
    stepped AS (
      SELECT *,
             CAST(SUM(n_events + n_censored) OVER ({gp}) -
                  COALESCE(SUM(n_events + n_censored) OVER
                    ({gp} ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
      FROM counts
    ),
    terms AS (
      SELECT *,
             CASE WHEN n_events < n_risk THEN
               CAST(ln(CAST(n_risk - n_events AS DOUBLE)
                       / CAST(n_risk AS DOUBLE)) AS DECIMAL(18,6))
             END AS term
      FROM stepped
    ),
    curve AS (
      SELECT *,
             SUM(CASE WHEN n_events > 0 THEN term END) OVER
               ({gp} ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS logsum,
             SUM(CASE WHEN n_events > 0 AND term IS NULL
                      THEN 1 ELSE 0 END) OVER
               ({gp} ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS dead
      FROM terms
    )
    SELECT {g}t, n_risk, n_events, n_censored,
           CASE WHEN dead > 0 THEN 0.0
                ELSE ROUND(exp(COALESCE(CAST(logsum AS DOUBLE), 0.0)), 6)
           END AS survival
    FROM curve WHERE n_events > 0
    """


def acf(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    lags: int = 3,
) -> DataFrame:
    """Per-key sample autocorrelation at lags 1..``lags`` over the
    series ordered by ``ts_col`` (unique per key — the engine's usual
    ordering contract): ``(key, n, lag, acf_ppm, acf)`` where

        ρ_h = Σₜ(xₜ−x̄)(xₜ₊ₕ−x̄) / Σₜ(xₜ−x̄)²

    computed EXACTLY: values lift to bigint cents and both sides are
    multiplied through by n², turning the rational mean into integer
    identities — numerator ``n²·Cₕ − n·S·(Hₕ+Tₕ) + (n−h)·S²`` over
    denominator ``n²·Q − n·S²`` in DECIMAL(38,0), emitted as
    sign-split integral ppm (the regression-family convention).
    ``Cₕ = Σ xₜxₜ₋ₕ``, ``Hₕ/Tₕ`` the head/tail partial sums the lag
    window exposes for free. Keys with n ≤ h or zero variance report
    NULL at that lag. NULL values are excluded before ordering.

    The seasonality / burst-persistence detector: metrics series,
    per-user activity, quality drift. Scale shape: ONE key-partitioned
    window pass carrying all ``lags`` lag columns, then one hash agg —
    two key shuffles total, lag count adds columns, not passes.
    """
    if lags < 1 or lags > 32:
        raise ValueError("acf: lags must be 1..32")
    x = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(key_col), F.col(ts_col), x.alias("__x")
    )
    return _acf_core(base, key_col, ts_col, lags)


def _acf_core(
    base: DataFrame, key_col: str, ts_col: str, lags: int
) -> DataFrame:
    """The exact integral acf machinery of :func:`acf` over a prepared
    ``(key, order, __x bigint-cents)`` frame — split out (the
    ``_bollinger_from_buckets`` discipline) so the streaming-
    maintained bucket-sum store (`streaming/ops.stream_bucket_sums` →
    :func:`acf_from_store`) computes the IDENTICAL correlogram from
    incrementally-folded partials."""
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).asc())
    lag_cols = [F.lag("__x", h).over(w).alias(f"__l{h}") for h in range(1, lags + 1)]
    rows = base.select(key_col, "__x", *lag_cols)
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(d(F.col("__x"))).alias("__s"),
        F.sum(d(F.col("__x")) * F.col("__x")).alias("__q"),
    ]
    for h in range(1, lags + 1):
        lh = F.col(f"__l{h}")
        aggs += [
            F.coalesce(F.sum(d(lh) * F.col("__x")), F.lit(0)).cast(
                "decimal(38,0)"
            ).alias(f"__c{h}"),
            F.coalesce(
                F.sum(F.when(lh.isNotNull(), d(F.col("__x")))), F.lit(0)
            ).cast("decimal(38,0)").alias(f"__t{h}"),
            F.coalesce(F.sum(d(lh)), F.lit(0)).cast("decimal(38,0)").alias(
                f"__h{h}"
            ),
        ]
    agg = rows.groupBy(key_col).agg(*aggs)
    n2 = (F.col("n") * F.col("n")).cast("decimal(38,0)")
    den = d(
        n2 * F.col("__q") - F.col("n") * F.col("__s") * F.col("__s")
    )
    agg = agg.withColumn("__den", den)
    out_cols = []
    for h in range(1, lags + 1):
        num = d(
            n2 * F.col(f"__c{h}")
            - F.col("n") * F.col("__s") * (F.col(f"__h{h}") + F.col(f"__t{h}"))
            + (F.col("n") - h) * F.col("__s") * F.col("__s")
        )
        agg = agg.withColumn(f"__num{h}", num)
        mag = F.expr(
            f"(CAST(1000000 AS DECIMAL(38,0)) * abs(__num{h}))"
            " div abs(__den)"
        )
        sign = F.when(
            (F.col(f"__num{h}") < 0) != (F.col("__den") < 0), F.lit(-1)
        ).otherwise(F.lit(1))
        ppm = F.when(
            (F.col("__den") != 0) & (F.col("n") > h), (sign * mag)
        ).cast("bigint")
        out_cols.append(ppm.alias(f"__ppm{h}"))
    final = agg.select(key_col, "n", *out_cols)
    stack = ", ".join(
        f"{h}, __ppm{h}" for h in range(1, lags + 1)
    )
    return final.select(
        key_col,
        "n",
        F.expr(f"stack({lags}, {stack}) as (lag, acf_ppm)"),
    ).select(
        key_col,
        "n",
        "lag",
        "acf_ppm",
        (F.col("acf_ppm").cast("double") / 1e6).alias("acf"),
    )


def acf_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    lags: int = 3,
) -> str:
    """DuckDB oracle of :func:`acf` — same cents, same lag windows,
    same n²-scaled integer identities in HUGEINT, one UNION ALL arm
    per lag."""
    x = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    lag_sel = ", ".join(
        f"LAG(x, {h}) OVER (PARTITION BY k ORDER BY {ts_col}) AS l{h}"
        for h in range(1, lags + 1)
    )
    per_lag_aggs = ", ".join(
        f"COALESCE(SUM(CAST(l{h} AS HUGEINT) * x), 0) AS c{h}, "
        f"COALESCE(SUM(CASE WHEN l{h} IS NOT NULL"
        f" THEN CAST(x AS HUGEINT) END), 0) AS t{h}, "
        f"COALESCE(SUM(CAST(l{h} AS HUGEINT)), 0) AS h{h}"
        for h in range(1, lags + 1)
    )
    arms = []
    for h in range(1, lags + 1):
        num = (
            f"(n::HUGEINT * n * c{h} - n::HUGEINT * s * (h{h} + t{h})"
            f" + (n::HUGEINT - {h}) * s * s)"
        )
        arms.append(
            f"SELECT k AS {key_col}, n, {h} AS lag,"
            f" CASE WHEN den <> 0 AND n > {h} THEN"
            f" CAST((CASE WHEN ({num} < 0) <> (den < 0)"
            f" THEN -1 ELSE 1 END)"
            f" * ((1000000::HUGEINT * abs({num})) // abs(den))"
            f" AS BIGINT) END AS acf_ppm"
            f" FROM stats"
        )
    union = " UNION ALL ".join(arms)
    return f"""
    WITH pts AS (
        SELECT {key_col} AS k, {ts_col}, {x} AS x
        FROM {table} WHERE {value_col} IS NOT NULL
    ), lagged AS (
        SELECT k, x, {lag_sel} FROM pts
    ), stats AS (
        SELECT k, COUNT(*) AS n,
               SUM(CAST(x AS HUGEINT)) AS s,
               SUM(CAST(x AS HUGEINT) * x) AS q,
               {per_lag_aggs},
               COUNT(*)::HUGEINT * COUNT(*) * SUM(CAST(x AS HUGEINT) * x)
                 - COUNT(*)::HUGEINT * SUM(CAST(x AS HUGEINT))
                   * SUM(CAST(x AS HUGEINT)) AS den
        FROM lagged GROUP BY k
    )
    SELECT {key_col}, n, lag, acf_ppm,
           CAST(acf_ppm AS DOUBLE) / 1e6 AS acf
    FROM ({union})
    """


def acf_bucketed(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 3600,
    lags: int = 3,
) -> DataFrame:
    """Autocorrelation of the per-key BUCKET-SUM series: events roll up
    to exact (key, time-bucket) cents sums — the identical transform
    `streaming/ops.stream_bucket_sums` applies per micro-batch — and
    the correlogram runs over the bucket series ordered by bucket
    index (:func:`_acf_core`, the same exact integral identities as
    :func:`acf`). The burst-persistence question at the traffic grain
    ("does a hot hour predict the next hot hour") rather than the
    per-event grain. Output ``(key_col, n, lag, acf_ppm, acf)``.

    Twin contract: :func:`acf_from_store` over a store maintained by
    ``stream_bucket_sums`` on the same events is output-identical
    (bigint cents partials reaggregate exactly; proven in
    test_streaming.py alongside the bollinger twin).
    """
    if lags < 1 or lags > 32:
        raise ValueError("acf_bucketed: lags must be 1..32")
    if bucket_seconds <= 0:
        raise ValueError("acf_bucketed: bucket_seconds must be positive")
    bus = int(bucket_seconds) * 1_000_000
    b = (
        df.filter(
            F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("k"),
            F.expr(f"unix_micros({ts_col}) div {bus}").alias("t"),
            (F.col(value_col).cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("__x"),
        )
        .groupBy("k", "t")
        .agg(F.sum("__x").alias("__x"))
    )
    return _acf_core(
        b.select(F.col("k").alias(key_col), "t", "__x"), key_col, "t", lags
    )


def acf_from_store(
    spark,
    store_path: str,
    key_col: str = "k",
    lags: int = 3,
) -> DataFrame:
    """Correlogram over a streaming-maintained bucket-sum store
    (`streaming/ops.stream_bucket_sums`): partial cents sums
    reaggregate exactly (bigint addition is associative), then the
    SAME machinery as :func:`acf_bucketed` — proven output-identical
    to the batch operator over the full history (the
    bollinger_from_store twin discipline)."""
    partials = spark.read.parquet(store_path)
    b = partials.groupBy("k", "t").agg(F.sum("__s").alias("__x"))
    return _acf_core(
        b.select(F.col("k").alias(key_col), "t", "__x"), key_col, "t", lags
    )


def acf_bucketed_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 3600,
    lags: int = 3,
) -> str:
    """DuckDB oracle of :func:`acf_bucketed` — the bucket-sum rollup
    as a subquery feeding :func:`acf_sql`'s integral machinery. The
    bucket sum arrives in cents, so the inner lift multiplies by 1
    (cents/100 re-lifted by acf_sql's ×100) via a DECIMAL(18,2)
    dollars view of the exact cents sum."""
    bus = int(bucket_seconds) * 1_000_000
    inner = f"""(
        SELECT {key_col}, t AS __t,
               CAST(CAST(v_cents AS DECIMAL(38,2)) / 100
                    AS DECIMAL(18,2)) AS __val
        FROM (
            SELECT {key_col},
                   epoch_us({ts_col}) // {bus} AS t,
                   SUM(CAST(CAST({value_col} AS DECIMAL(18,2)) * 100
                            AS BIGINT)) AS v_cents
            FROM {table}
            WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
              AND {value_col} IS NOT NULL
            GROUP BY {key_col}, t
        )
    )"""
    return acf_sql(inner, key_col, "__t", "__val", lags=lags)


def ohlc_bars(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int,
    volume_col: str | None = None,
) -> DataFrame:
    """Downsample an irregular per-key series into OHLC bars:
    ``(key, bar_ts, open, high, low, close, n_rows[, volume])`` per
    ``bucket_seconds`` window — the candlestick/metrics-downsampling
    primitive (only buckets with data appear; compose with
    :func:`gap_fill` for a dense grid). ``open``/``close`` are the
    first/last value by ``ts_col`` (unique per key — the engine's
    ordering contract) via ``min_by``/``max_by``; high/low are plain
    extremes; ``volume`` is the exact decimal sum of ``volume_col``.
    NULL values are excluded.

    Scale shape: ONE map-side-combinable hash aggregation on
    (key, bucket) — the whole downsample is a single shuffle of one
    bar per group, no window, no self-join. This is the aggregation
    Spark was built for; at 100 TB the partial aggs do ~all the work.
    """
    if bucket_seconds <= 0:
        raise ValueError("ohlc_bars: bucket_seconds must be positive")
    nn = df.filter(F.col(value_col).isNotNull())
    bar = F.timestamp_seconds(
        (F.unix_timestamp(F.col(ts_col)) / bucket_seconds).cast("bigint")
        * bucket_seconds
    ).alias("bar_ts")
    aggs = [
        F.min_by(value_col, ts_col).alias("open"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        F.max_by(value_col, ts_col).alias("close"),
        F.count(F.lit(1)).alias("n_rows"),
    ]
    if volume_col is not None:
        aggs.append(
            F.sum(F.col(volume_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("volume")
        )
    return nn.groupBy(F.col(key_col), bar).agg(*aggs)


def ohlc_bars_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int,
    volume_col: str | None = None,
) -> str:
    """DuckDB oracle of :func:`ohlc_bars` — same epoch floor, same
    min_by/max_by witnesses, same decimal volume."""
    vol = (
        f", CAST(SUM(CAST({volume_col} AS DECIMAL(18,2))) AS DOUBLE)"
        " AS volume"
        if volume_col
        else ""
    )
    return f"""
    SELECT {key_col},
           CAST(to_timestamp((epoch({ts_col})::BIGINT // {bucket_seconds})
                        * {bucket_seconds}) AS TIMESTAMP) AS bar_ts,
           min_by({value_col}, {ts_col}) AS "open",
           MAX({value_col}) AS high,
           MIN({value_col}) AS low,
           max_by({value_col}, {ts_col}) AS "close",
           COUNT(*) AS n_rows{vol}
    FROM {table}
    WHERE {value_col} IS NOT NULL
    GROUP BY 1, 2
    """


def seasonal_backtest(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    season_rows: int,
) -> DataFrame:
    """Per-key forecastability backtest: does the seasonal-naive
    forecast (value one season ago) beat the naive forecast (previous
    value)? Returns ``(key, n, n_eval, sae_seasonal, sae_naive,
    mase_ppm, mase, seasonal_better)`` where, over the rows with a
    full season of history (positions > ``season_rows`` in
    ``ts_col`` order),

        mase = Σ|vₜ − vₜ₋ₛ| / Σ|vₜ − vₜ₋₁|    (< 1 ⟹ seasonality real)

    as exact integral ppm on bigint cents (both sums over the SAME
    evaluation window — the standard MASE comparability rule). Row
    seasonality assumes a regular series: compose with
    :func:`gap_fill` first for time-based seasons. Keys with no
    evaluation rows or a zero naive denominator report NULL mase and
    ``seasonal_better`` FALSE: the flag is never NULL, because a NULL
    boolean reaches pandas as None from Spark but as NaN from DuckDB.
    NULL values are excluded before ordering.

    Scale shape: one key-partitioned window pass carrying both lags +
    one hash agg — two key shuffles, like :func:`acf`.
    """
    if season_rows < 1:
        raise ValueError("seasonal_backtest: season_rows must be >= 1")
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).asc())
    x = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(key_col), F.col(ts_col), x.alias("__x")
    )
    rows = base.select(
        key_col,
        "__x",
        F.lag("__x", 1).over(w).alias("__l1"),
        F.lag("__x", season_rows).over(w).alias("__ls"),
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ev = F.col("__ls").isNotNull()
    agg = rows.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(ev.cast("int")).alias("n_eval"),
        F.coalesce(
            F.sum(F.when(ev, d(F.abs(F.col("__x") - F.col("__ls"))))),
            F.lit(0),
        ).cast("decimal(38,0)").alias("__ss"),
        F.coalesce(
            F.sum(F.when(ev, d(F.abs(F.col("__x") - F.col("__l1"))))),
            F.lit(0),
        ).cast("decimal(38,0)").alias("__sn"),
    )
    ppm = F.when(
        (F.col("n_eval") > 0) & (F.col("__sn") != 0),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * __ss) div __sn"
            " AS BIGINT)"
        ),
    )
    return agg.select(
        key_col,
        "n",
        F.col("n_eval").cast("bigint").alias("n_eval"),
        (F.col("__ss").cast("double") / 100).alias("sae_seasonal"),
        (F.col("__sn").cast("double") / 100).alias("sae_naive"),
        ppm.alias("mase_ppm"),
        (ppm.cast("double") / 1e6).alias("mase"),
        F.coalesce(ppm < 1_000_000, F.lit(False)).alias("seasonal_better"),
    )


def seasonal_backtest_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    season_rows: int,
) -> str:
    """DuckDB oracle of :func:`seasonal_backtest` — same lags, same
    HUGEINT sums, same ppm."""
    x = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    return f"""
    WITH pts AS (
        SELECT {key_col} AS k, {ts_col} AS t, {x} AS x
        FROM {table} WHERE {value_col} IS NOT NULL
    ), lagged AS (
        SELECT k, x,
               LAG(x, 1) OVER (PARTITION BY k ORDER BY t) AS l1,
               LAG(x, {int(season_rows)}) OVER (PARTITION BY k ORDER BY t)
                   AS ls
        FROM pts
    ), agg AS (
        SELECT k, COUNT(*) AS n,
               CAST(COUNT(ls) AS BIGINT) AS n_eval,
               COALESCE(SUM(CASE WHEN ls IS NOT NULL
                   THEN CAST(abs(x - ls) AS HUGEINT) END), 0) AS ss,
               COALESCE(SUM(CASE WHEN ls IS NOT NULL
                   THEN CAST(abs(x - l1) AS HUGEINT) END), 0) AS sn
        FROM lagged GROUP BY k
    )
    SELECT k AS {key_col}, n, n_eval,
           CAST(ss AS DOUBLE) / 100 AS sae_seasonal,
           CAST(sn AS DOUBLE) / 100 AS sae_naive,
           CASE WHEN n_eval > 0 AND sn <> 0 THEN
             CAST((1000000::HUGEINT * ss) // sn AS BIGINT)
           END AS mase_ppm,
           CASE WHEN n_eval > 0 AND sn <> 0 THEN
             CAST((1000000::HUGEINT * ss) // sn AS BIGINT) / 1e6
           END AS mase,
           COALESCE(CASE WHEN n_eval > 0 AND sn <> 0 THEN
             CAST((1000000::HUGEINT * ss) // sn AS BIGINT) < 1000000
           END, FALSE) AS seasonal_better
    FROM agg
    """


def active_intervals(
    df: DataFrame,
    start_col: str,
    end_col: str,
    bucket_seconds: int = 3600,
    max_buckets: int = 4096,
) -> DataFrame:
    """Concurrency curve of an interval set (sweep line): one row per
    distinct boundary timestamp — ``(ts, delta, active)`` where
    ``active`` is the number of half-open ``[start, end)`` intervals
    covering ``[ts, next_ts)``. The "max concurrent sessions /
    connections / jobs" primitive; ``max(active)`` is peak
    concurrency. Empty intervals are excluded.

    The naive plan is a GLOBAL cumulative window — a single-task
    funnel. Instead the sweep is de-globalized: ±1 deltas aggregate
    per boundary timestamp, cumulative-sum WITHIN their time bucket
    (partitioned window), and each bucket adds the prefix total of all
    earlier buckets, computed on the bucket-totals table
    (``sketch._cell_offsets``) — whose size is the calendar span /
    ``bucket_seconds``, a quantity that does NOT grow with data
    volume. That table is bounded by ``max_buckets`` (in-plan lazy
    guard raises past it; 4096 hourly buckets ≈ 5.5 months — widen
    the bucket for longer spans) and ``limit``-proved to the plan
    linter, so the prefix self-join is constant work by contract.
    """
    if bucket_seconds <= 0 or max_buckets < 1:
        raise ValueError(
            "active_intervals: bucket_seconds and max_buckets must be "
            "positive"
        )
    nn = df.filter(F.col(start_col) < F.col(end_col))
    deltas = (
        nn.select(F.col(start_col).alias("ts"), F.lit(1).alias("d"))
        .unionByName(
            nn.select(F.col(end_col).alias("ts"), F.lit(-1).alias("d"))
        )
        .groupBy("ts")
        .agg(F.sum("d").alias("delta"))
        .withColumn(
            "__b",
            F.floor(F.unix_micros(F.col("ts")) / (bucket_seconds * 1_000_000))
            .cast("long"),
        )
    )
    from pybabe_spark.operators.sketch import _cell_offsets

    # max_buckets bounds the prefix table; the guard below makes its
    # limit's truncation impossible rather than silent
    prefix = _cell_offsets(
        deltas.groupBy("__b").agg(F.sum("delta").alias("__t")),
        [],
        {"__t": "__off"},
        max_buckets,
    )
    n_buckets = deltas.select("__b").distinct().agg(
        F.count(F.lit(1)).alias("__nb")
    )
    from pybabe_spark.operators._util import attach_scalars

    w = Window.partitionBy("__b").orderBy(F.col("ts").asc())
    out = (
        attach_scalars(deltas, n_buckets)
        .filter(
            F.when(
                F.col("__nb") > max_buckets,
                F.raise_error(
                    F.lit(
                        "active_intervals: time span exceeds "
                        f"max_buckets={max_buckets} buckets of "
                        f"{bucket_seconds}s; widen bucket_seconds or "
                        "raise max_buckets"
                    )
                ).cast("boolean"),
            ).otherwise(F.lit(True))
        )
        .withColumn(
            "__cum",
            F.sum("delta").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .join(prefix, "__b", "left")
        .select(
            "ts",
            F.col("delta").cast("bigint").alias("delta"),
            (F.col("__cum") + F.coalesce(F.col("__off"), F.lit(0)))
            .cast("bigint")
            .alias("active"),
        )
    )
    return out


def active_intervals_sql(
    select: str, start_col: str, end_col: str
) -> str:
    """DuckDB oracle of :func:`active_intervals` — the plain global
    cumulative sum the bucketed plan must reproduce exactly."""
    return f"""
    WITH iv AS (SELECT * FROM ({select})
                WHERE {start_col} < {end_col}),
    deltas AS (
        SELECT ts, CAST(SUM(d) AS BIGINT) AS delta FROM (
            SELECT {start_col} AS ts, 1 AS d FROM iv
            UNION ALL
            SELECT {end_col} AS ts, -1 AS d FROM iv
        ) GROUP BY ts
    )
    SELECT ts, delta,
           CAST(SUM(delta) OVER (ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS active
    FROM deltas
    """


def theilsen_slope(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    max_points: int = 200,
) -> DataFrame:
    """Per-key Theil-Sen robust trend: the MEDIAN of all pairwise
    slopes ``(vⱼ−vᵢ)/(tⱼ−tᵢ)`` — the outlier-immune alternative to
    OLS (one wild point corrupts the OLS slope arbitrarily; Theil-Sen
    tolerates ~29% contamination). Returns ``(key, n_points,
    n_pairs, slope_cents_per_day_ppm)``.

    Deterministic statistic: each pairwise slope is lifted to EXACT
    sign-split integral ppm of cents/day (``1e6·|Δcents·86400·1e6| div
    |Δmicros|`` with the sign outside — Spark ``div`` ≡ DuckDB ``//``),
    and the median is the LOWER median of those integers via the
    distinct-value cumulative reach test (the weighted_quantiles
    idiom) — no interpolation, no IEEE, bit-identical across engines.
    Ties in timestamps (Δt = 0) are skipped; keys with < 2 distinct
    timestamps are absent.

    Scale shape: the pairwise join is GROUP-BOUNDED (per-key points,
    like the fuzzy/pair families) and refused beyond ``max_points``
    points per key with an in-plan ``raise_error`` — Theil-Sen is
    O(n²) per key BY DEFINITION; for long series downsample first
    (``ohlc_bars`` per day, then slope over the bars). One pair
    equi-join on the key + one (key, slope) hash agg + one
    key-partitioned cumulative window over DISTINCT slopes + one
    final agg.
    """
    if max_points < 2:
        raise ValueError("theilsen_slope: max_points must be >= 2")
    pts = (
        df.filter(
            F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("__k"),
            F.col(ts_col).cast("timestamp").alias("__t"),
            (F.col(value_col).cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("__v"),
        )
    )
    counts = pts.groupBy("__k").agg(F.count(F.lit(1)).alias("__np"))
    # plain equi-join: counts is one row per KEY (unbounded at corpus
    # scale) — a broadcast hint here would collect the key set to the
    # driver; the join reuses the key partitioning the pair join needs
    guarded = pts.join(counts, "__k").withColumn(
        "__np",
        F.when(
            F.col("__np") <= max_points, F.col("__np")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"theilsen_slope: key exceeds max_points="
                        f"{max_points} (downsample first): "
                    ),
                    F.col("__k").cast("string"),
                )
            ).cast("long")
        ),
    )
    a, b = guarded.alias("a"), guarded.alias("b")
    dt = F.unix_micros(F.col("b.__t")) - F.unix_micros(F.col("a.__t"))
    dv = F.col("b.__v") - F.col("a.__v")
    num = (
        dv.cast("decimal(38,0)") * 86_400_000_000 * 1_000_000
    ).cast("decimal(38,0)")
    den = dt.cast("decimal(38,0)")
    mag = F.expr(
        "CAST(abs(__num) div abs(__den) AS BIGINT)"
    )
    sign = F.when(
        (F.col("__num") < 0) != (F.col("__den") < 0), F.lit(-1)
    ).otherwise(F.lit(1))
    slopes = (
        a.join(
            b,
            (F.col("a.__k") == F.col("b.__k"))
            & (F.col("a.__t") < F.col("b.__t")),
        )
        .select(
            F.col("a.__k").alias("__k"),
            F.col("a.__np").alias("__np"),
            num.alias("__num"),
            den.alias("__den"),
        )
        .filter(F.col("__den") != 0)
        .select(
            "__k", "__np", (sign * mag).cast("bigint").alias("__s")
        )
    )
    byval = slopes.groupBy("__k", "__np", "__s").agg(
        F.count(F.lit(1)).alias("__c")
    )
    w = Window.partitionBy("__k").orderBy(F.col("__s").asc())
    cum = (
        byval.withColumn(
            "__cum",
            F.sum("__c").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn(
            "__tot",
            F.sum("__c").over(
                w.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    # lower median: first distinct value whose cumulative count
    # reaches ceil(tot/2)  ⟺  2·cum ≥ tot
    return cum.groupBy("__k").agg(
        F.max("__np").cast("bigint").alias("n_points"),
        F.max("__tot").cast("bigint").alias("n_pairs"),
        F.min(
            F.when(2 * F.col("__cum") >= F.col("__tot"), F.col("__s"))
        ).alias("slope_cents_per_day_ppm"),
    ).select(
        F.col("__k").alias(key_col),
        "n_points",
        "n_pairs",
        "slope_cents_per_day_ppm",
    )


def theilsen_slope_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> str:
    """DuckDB oracle of :func:`theilsen_slope` — same sign-split ppm
    slopes, same lower-median reach test (no max_points guard: the
    oracle defines the value, the guard is an engine scale contract)."""
    v = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    return f"""
    WITH pts AS (
        SELECT {key_col} AS k,
               CAST({ts_col} AS TIMESTAMP) AS t,
               {v} AS v
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
              AND {value_col} IS NOT NULL
    ),
    np AS (SELECT k, COUNT(*) AS np FROM pts GROUP BY k),
    slopes AS (
        SELECT a.k,
               CASE WHEN ((b.v - a.v) < 0) != (epoch_us(b.t) - epoch_us(a.t) < 0)
                    THEN -1 ELSE 1 END
               * (ABS(CAST(b.v - a.v AS HUGEINT) * 86400000000 * 1000000)
                  // ABS(CAST(epoch_us(b.t) - epoch_us(a.t) AS HUGEINT)))
               AS s
        FROM pts a JOIN pts b ON a.k = b.k AND a.t < b.t
        WHERE epoch_us(b.t) != epoch_us(a.t)
    ),
    byval AS (SELECT k, s, COUNT(*) AS c FROM slopes GROUP BY k, s),
    cum AS (
        SELECT k, s, c,
               SUM(c) OVER (PARTITION BY k ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum,
               SUM(c) OVER (PARTITION BY k) AS tot
        FROM byval
    )
    SELECT cum.k AS {key_col},
           CAST(MAX(np.np) AS BIGINT) AS n_points,
           CAST(MAX(tot) AS BIGINT) AS n_pairs,
           CAST(MIN(CASE WHEN 2 * cum >= tot THEN s END) AS BIGINT)
             AS slope_cents_per_day_ppm
    FROM cum JOIN np ON np.k = cum.k
    GROUP BY cum.k
    """


def interarrival_stats(
    df: DataFrame,
    key_col: str,
    ts_col: str,
) -> DataFrame:
    """Per-key inter-arrival rhythm: ``(key, n_gaps, mean_gap_s, cv,
    burstiness)`` over consecutive event gaps (ordered by ``ts_col``,
    which the engine's usual contract requires unique per key) —
    burstiness ``B = (σ−μ)/(σ+μ)`` (Goh & Barabási 2008): −1 ⟸
    perfectly periodic, 0 ⟸ Poisson, → 1 ⟸ bursty. The behavioral
    signal for bot detection, session modeling, and retention-risk
    features.

    Determinism: gaps are exact integer MICROSECONDS from one lag
    window; Σx and Σx² are exact DECIMAL(38,0). The mean gap is exact
    too: ``(2Σx + n) div 2n`` µs, the half-up rounding of Σx/n. σ (the
    one transcendental — sqrt), cv = σ/μ and B are a fixed-shape IEEE
    expression over the exact sums, each rounded once to DECIMAL(18,6)
    (house convention). Keys with < 3 events (< 2 gaps)
    emit NULL cv/burstiness (variance undefined); keys with < 2 events
    are absent. Zero-mean edge (all events simultaneous): NULL.

    Scale shape: ONE key-partitioned lag window pass + ONE hash agg.
    """
    pts = df.filter(
        F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(key_col).alias("__k"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__t"),
    )
    w = Window.partitionBy("__k").orderBy(F.col("__t").asc())
    gaps = (
        pts.withColumn("__prev", F.lag("__t").over(w))
        .filter(F.col("__prev").isNotNull())
        .select("__k", (F.col("__t") - F.col("__prev")).alias("__g"))
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = gaps.groupBy("__k").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(d(F.col("__g"))).cast("decimal(38,0)").alias("__s"),
        F.sum(d(F.col("__g")) * F.col("__g")).cast("decimal(38,0)").alias(
            "__q"
        ),
    )
    n = F.col("__n").cast("double")
    s = F.col("__s").cast("double")
    q = F.col("__q").cast("double")
    mu = s / n
    var = (n * q - s * s) / (n * (n - 1.0))
    sig = F.sqrt(var)
    r6 = lambda c: c.cast("decimal(18,6)").cast("double")  # noqa: E731
    ok2 = (F.col("__n") > 1) & (F.col("__s") > 0)
    mean_us = F.expr("(2 * __s + __n) div (2 * __n)")
    return agg.select(
        F.col("__k").alias(key_col),
        F.col("__n").cast("bigint").alias("n_gaps"),
        (mean_us.cast("double") / 1e6).alias("mean_gap_s"),
        F.when(ok2, r6(sig / mu)).alias("cv"),
        F.when(ok2, r6((sig - mu) / (sig + mu))).alias("burstiness"),
    )


def interarrival_stats_sql(
    table: str, key_col: str, ts_col: str, where: str = "TRUE"
) -> str:
    """DuckDB oracle of :func:`interarrival_stats` — same lag window,
    same exact HUGEINT sums and integral mean, same fixed-shape IEEE
    expressions and 6 dp roundings."""
    return f"""
    WITH pts AS (
        SELECT {key_col} AS k,
               epoch_us(CAST({ts_col} AS TIMESTAMP)) AS t
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
              AND ({where})
    ),
    gaps AS (
        SELECT k, t - LAG(t) OVER (PARTITION BY k ORDER BY t) AS g
        FROM pts
        QUALIFY g IS NOT NULL
    ),
    agg AS (
        SELECT k, COUNT(*) AS n,
               SUM(CAST(g AS HUGEINT)) AS s,
               SUM(CAST(g AS HUGEINT) * g) AS q
        FROM gaps GROUP BY k
    )
    SELECT k AS {key_col},
           CAST(n AS BIGINT) AS n_gaps,
           CAST((2 * s + n) // (2 * n) AS DOUBLE) / 1e6 AS mean_gap_s,
           CASE WHEN n > 1 AND s > 0 THEN CAST(CAST(
             sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
             / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             AS DECIMAL(18,6)) AS DOUBLE) END AS cv,
           CASE WHEN n > 1 AND s > 0 THEN CAST(CAST(
             (sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
              - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             / (sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                + CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             AS DECIMAL(18,6)) AS DOUBLE) END AS burstiness
    FROM agg
    """


def cohort_values(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    period_seconds: int = 604800,
    max_offset: int = 8,
) -> DataFrame:
    """Cohort LTV curve — :func:`retention_cohorts`' revenue sibling:
    users cohort by the period of their FIRST activity; each later
    period contributes its value to the cohort's curve at that offset.
    One row per (cohort, offset ≤ ``max_offset``): ``(cohort_start,
    offset, n_users, value_cents, cum_value_cents,
    ltv_per_user_cents)`` — n_users is the users of the COHORT active
    at that offset, cum is the cohort's running total through the
    offset, and ltv_per_user is cum div cohort size (exact integral
    cents, the house no-IEEE idiom).

    Plan: one (key, period) hash agg over the corpus (values pre-
    summed per user-period — the only corpus-scale shuffle), the
    first-activity agg and activity join reuse that key partitioning;
    the offset aggregation, the cohort-partitioned cumulative window
    and the size attach all run on cohorts × offsets rows. NULL-value
    rows count for cohorting (first activity) but add 0 value.
    """
    if period_seconds <= 0 or max_offset < 0:
        raise ValueError("cohort_values: bad period/max_offset")
    per_us = int(period_seconds) * 1_000_000
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    act = (
        df.filter(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(key_col).alias("__k"),
            F.expr(f"unix_micros({ts_col}) div {per_us}").alias("__p"),
            F.coalesce(cents, F.lit(0)).alias("__v"),
        )
        .groupBy("__k", "__p")
        .agg(F.sum(F.col("__v").cast("decimal(38,0)")).alias("__v"))
    )
    coh = act.groupBy("__k").agg(F.min("__p").alias("__c0"))
    cnt = (
        act.join(coh, "__k")
        .filter(F.col("__p") - F.col("__c0") <= max_offset)
        .groupBy(
            F.col("__c0"),
            (F.col("__p") - F.col("__c0")).alias("offset"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("__v").cast("decimal(38,0)").alias("__vc"),
        )
    )
    w = Window.partitionBy("__c0")
    wcum = (
        Window.partitionBy("__c0")
        .orderBy(F.col("offset").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    size = F.sum(F.when(F.col("offset") == 0, F.col("n_users"))).over(w)
    cum = F.sum("__vc").over(wcum)
    return (
        cnt.withColumn("__sz", size)
        .withColumn("__cum", cum.cast("decimal(38,0)"))
        .select(
            F.timestamp_micros(F.col("__c0") * per_us).alias(
                "cohort_start"
            ),
            "offset",
            "n_users",
            F.col("__vc").cast("bigint").alias("value_cents"),
            F.col("__cum").cast("bigint").alias("cum_value_cents"),
            # sign-split: cum can be net-negative (refunds) and Spark
            # div truncates while DuckDB // floors — they agree only on
            # non-negative operands (house convention)
            F.expr(
                "CAST(CASE WHEN __cum < 0 THEN -1 ELSE 1 END"
                " * (abs(__cum) div __sz) AS BIGINT)"
            ).alias("ltv_per_user_cents"),
        )
    )


def cohort_values_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    period_seconds: int = 604800,
    max_offset: int = 8,
    where: str = "TRUE",
) -> str:
    """DuckDB oracle of :func:`cohort_values` — identical integer-µs
    period arithmetic, HUGEINT cents, and integral divisions."""
    per_us = int(period_seconds) * 1_000_000
    cents = (
        f"COALESCE(CAST(CAST({value_col} AS DECIMAL(18,2)) * 100"
        f" AS BIGINT), 0)"
    )
    return f"""
    WITH act AS (
        SELECT {key_col} AS k,
               epoch_us({ts_col}) // {per_us} AS p,
               SUM(CAST({cents} AS HUGEINT)) AS v
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
              AND ({where})
        GROUP BY 1, 2
    ), coh AS (
        SELECT k, MIN(p) AS c0 FROM act GROUP BY k
    ), cnt AS (
        SELECT c0, p - c0 AS "offset", COUNT(*) AS n_users,
               SUM(v) AS vc
        FROM act JOIN coh USING (k)
        WHERE p - c0 <= {int(max_offset)}
        GROUP BY c0, p - c0
    )
    SELECT make_timestamp(c0 * {per_us}) AS cohort_start,
           "offset",
           n_users,
           CAST(vc AS BIGINT) AS value_cents,
           CAST(SUM(vc) OVER (PARTITION BY c0 ORDER BY "offset"
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_value_cents,
           CAST(CASE WHEN SUM(vc) OVER (PARTITION BY c0 ORDER BY
                     "offset" ROWS BETWEEN UNBOUNDED PRECEDING AND
                     CURRENT ROW) < 0 THEN -1 ELSE 1 END
                * (ABS(SUM(vc) OVER (PARTITION BY c0 ORDER BY "offset"
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                   // CAST(SUM(CASE WHEN "offset" = 0 THEN n_users END)
                           OVER (PARTITION BY c0) AS HUGEINT))
                AS BIGINT) AS ltv_per_user_cents
    FROM cnt
    """


def ccf(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    x_col: str,
    y_col: str,
    lags: int = 3,
) -> DataFrame:
    """Per-key cross-correlation ``(key, n, lag, ccf)`` at lags
    0..``lags`` between two ALIGNED series (rows carry both values;
    rows where either is NULL are excluded): lag h correlates ``x_t``
    with ``y_{t−h}`` — "does y lead x by h steps" (lag 0 is plain
    Pearson correlation). The lead-indicator detector: views→
    purchases, deploys→errors, spend→retention.

    ACF's two-series sibling, same exact machinery: cents lift,
    n²-scaled mean-centering identities over DECIMAL(38,0) sums —
    numerator ``n²·Cₕ − n·Sy·Tₕ − n·Sx·HYₕ + (n−h)·Sx·Sy`` with
    ``Cₕ = Σ xₜ·yₜ₋ₕ`` and Tₕ/HYₕ the window's partial sums. The one
    departure: the denominator ``√((n²Qx−nSx²)·(n²Qy−nSy²))`` needs a
    square root, so the output is a fixed-shape IEEE expression over
    those exact sums, rounded once to DECIMAL(18,6) (the cuped/DiD
    convention) — not integral ppm. NULL at lags with n ≤ h or zero
    variance in either series.

    Scale shape: ONE key-partitioned window pass carrying all lag
    columns + ONE hash agg — identical to :func:`acf`.
    """
    if lags < 0 or lags > 32:
        raise ValueError("ccf: lags must be 0..32")
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).asc())
    cx = (F.col(x_col).cast("decimal(18,2)") * 100).cast("bigint")
    cy = (F.col(y_col).cast("decimal(18,2)") * 100).cast("bigint")
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(key_col), F.col(ts_col), cx.alias("__x"), cy.alias("__y")
    )
    lag_cols = [
        F.lag("__y", h).over(w).alias(f"__l{h}")
        for h in range(1, lags + 1)
    ]
    rows = base.select(key_col, "__x", "__y", *lag_cols)
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(d(F.col("__x"))).cast("decimal(38,0)").alias("__sx"),
        F.sum(d(F.col("__x")) * F.col("__x")).cast("decimal(38,0)").alias(
            "__qx"
        ),
        F.sum(d(F.col("__y"))).cast("decimal(38,0)").alias("__sy"),
        F.sum(d(F.col("__y")) * F.col("__y")).cast("decimal(38,0)").alias(
            "__qy"
        ),
    ]
    for h in range(0, lags + 1):
        lh = F.col("__y") if h == 0 else F.col(f"__l{h}")
        aggs += [
            F.coalesce(F.sum(d(lh) * F.col("__x")), F.lit(0)).cast(
                "decimal(38,0)"
            ).alias(f"__c{h}"),
            F.coalesce(
                F.sum(F.when(lh.isNotNull(), d(F.col("__x")))), F.lit(0)
            ).cast("decimal(38,0)").alias(f"__t{h}"),
            F.coalesce(F.sum(d(lh)), F.lit(0)).cast("decimal(38,0)").alias(
                f"__hy{h}"
            ),
        ]
    agg = rows.groupBy(key_col).agg(*aggs)
    n = F.col("n").cast("decimal(38,0)")
    dx = (n * n * F.col("__qx") - n * F.col("__sx") * F.col("__sx")).cast(
        "decimal(38,0)"
    )
    dy = (n * n * F.col("__qy") - n * F.col("__sy") * F.col("__sy")).cast(
        "decimal(38,0)"
    )
    agg = agg.withColumn("__dx", dx).withColumn("__dy", dy)
    out_cols = []
    for h in range(0, lags + 1):
        num = (
            n * n * F.col(f"__c{h}")
            - n * F.col("__sy") * F.col(f"__t{h}")
            - n * F.col("__sx") * F.col(f"__hy{h}")
            + (n - h) * F.col("__sx") * F.col("__sy")
        ).cast("decimal(38,0)")
        val = (
            num.cast("double")
            / F.sqrt(F.col("__dx").cast("double") * F.col("__dy").cast("double"))
        ).cast("decimal(18,6)").cast("double")
        out_cols.append(
            F.when(
                (F.col("__dx") > 0) & (F.col("__dy") > 0) & (F.col("n") > h),
                val,
            ).alias(f"__v{h}")
        )
    final = agg.select(key_col, "n", *out_cols)
    stack = ", ".join(f"{h}, __v{h}" for h in range(0, lags + 1))
    return final.select(
        key_col,
        "n",
        F.expr(f"stack({lags + 1}, {stack}) as (lag, ccf)"),
    )


def ccf_sql(
    table: str,
    key_col: str,
    ts_col: str,
    x_col: str,
    y_col: str,
    lags: int = 3,
) -> str:
    """DuckDB oracle of :func:`ccf` — same cents, same lag windows,
    same n²-scaled HUGEINT identities, same fixed-shape IEEE division
    and 6 dp rounding, one UNION ALL arm per lag."""
    x = f"CAST(CAST({x_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    y = f"CAST(CAST({y_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    lag_sel = ", ".join(
        f"LAG(y, {h}) OVER (PARTITION BY k ORDER BY {ts_col}) AS l{h}"
        for h in range(1, lags + 1)
    )
    per_lag = []
    for h in range(0, lags + 1):
        lh = "y" if h == 0 else f"l{h}"
        per_lag.append(
            f"COALESCE(SUM(CAST({lh} AS HUGEINT) * x), 0) AS c{h}, "
            f"COALESCE(SUM(CASE WHEN {lh} IS NOT NULL"
            f" THEN CAST(x AS HUGEINT) END), 0) AS t{h}, "
            f"COALESCE(SUM(CAST({lh} AS HUGEINT)), 0) AS hy{h}"
        )
    arms = []
    for h in range(0, lags + 1):
        num = (
            f"(n::HUGEINT * n * c{h} - n::HUGEINT * sy * t{h}"
            f" - n::HUGEINT * sx * hy{h}"
            f" + (n::HUGEINT - {h}) * sx * sy)"
        )
        arms.append(
            f"SELECT k AS {key_col}, n, {h} AS lag,"
            f" CASE WHEN dx > 0 AND dy > 0 AND n > {h} THEN"
            f" CAST(CAST(CAST({num} AS DOUBLE)"
            f" / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))"
            f" AS DECIMAL(18,6)) AS DOUBLE) END AS ccf"
            f" FROM stats"
        )
    union = " UNION ALL ".join(arms)
    return f"""
    WITH pts AS (
        SELECT {key_col} AS k, {ts_col}, {x} AS x, {y} AS y
        FROM {table}
        WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
    ), lagged AS (
        SELECT k, x, y{', ' if lags else ''}{lag_sel} FROM pts
    ), stats AS (
        SELECT k, COUNT(*) AS n,
               SUM(CAST(x AS HUGEINT)) AS sx,
               SUM(CAST(x AS HUGEINT) * x) AS qx,
               SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(y AS HUGEINT) * y) AS qy,
               {', '.join(per_lag)},
               COUNT(*)::HUGEINT * COUNT(*) * SUM(CAST(x AS HUGEINT) * x)
                 - COUNT(*)::HUGEINT * SUM(CAST(x AS HUGEINT))
                   * SUM(CAST(x AS HUGEINT)) AS dx,
               COUNT(*)::HUGEINT * COUNT(*) * SUM(CAST(y AS HUGEINT) * y)
                 - COUNT(*)::HUGEINT * SUM(CAST(y AS HUGEINT))
                   * SUM(CAST(y AS HUGEINT)) AS dy
        FROM lagged GROUP BY k
    )
    SELECT * FROM ({union})
    """


def period_over_period(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    period_seconds: int = 86400,
) -> DataFrame:
    """Period-over-period growth report — the DoD/WoW/MoM BI staple:
    per (key, period) exact cents totals with the STRICTLY previous
    period's total and the growth rate, ``(key, period_start,
    value_cents, prev_value_cents, growth_ppm)``.

    Strict-adjacency semantics: ``prev`` is period−1 or NULL — a gap
    yields NULL growth rather than silently comparing across it
    (compose with :func:`gap_fill` first for dense grids).
    ``growth_ppm`` is the sign-split integral ppm of
    (cur − prev)/|prev| (house ``div`` convention); NULL when prev is
    0 or absent. NULL keys/timestamps drop; NULL values count as 0
    (the period existed, revenue was zero).

    Scale shape: one (key, period) hash agg — the only corpus-scale
    shuffle — then one keyed lag window + codegen over period rows.
    """
    if period_seconds <= 0:
        raise ValueError("period_over_period: period_seconds must be > 0")
    per_us = int(period_seconds) * 1_000_000
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    per = (
        df.filter(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(key_col).alias("__k"),
            F.expr(f"unix_micros({ts_col}) div {per_us}").alias("__p"),
            F.coalesce(cents, F.lit(0)).alias("__v"),
        )
        .groupBy("__k", "__p")
        .agg(
            F.sum(F.col("__v").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("__v")
        )
    )
    w = Window.partitionBy("__k").orderBy(F.col("__p").asc())
    lagged = per.withColumn(
        "__pv",
        F.when(
            F.lag("__p").over(w) == F.col("__p") - 1,
            F.lag("__v").over(w),
        ),
    )
    num = (F.col("__v") - F.col("__pv")).cast("decimal(38,0)")
    lagged = lagged.withColumn("__num", num).withColumn(
        "__den", F.col("__pv").cast("decimal(38,0)")
    )
    from pybabe_spark.operators.regression import _ppm

    return lagged.select(
        F.col("__k").alias(key_col),
        F.timestamp_micros(F.col("__p") * per_us).alias("period_start"),
        F.col("__v").alias("value_cents"),
        F.col("__pv").alias("prev_value_cents"),
        F.when(F.col("__pv").isNotNull(), _ppm("__num", "__den")).alias(
            "growth_ppm"
        ),
    )


def period_over_period_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    period_seconds: int = 86400,
    where: str = "TRUE",
) -> str:
    """DuckDB oracle of :func:`period_over_period` — same integer-µs
    periods, same strict adjacency, same sign-split ppm."""
    per_us = int(period_seconds) * 1_000_000
    cents = (
        f"COALESCE(CAST(CAST({value_col} AS DECIMAL(18,2)) * 100"
        f" AS BIGINT), 0)"
    )
    return f"""
    WITH per AS (
        SELECT {key_col} AS k,
               epoch_us({ts_col}) // {per_us} AS p,
               CAST(SUM(CAST({cents} AS HUGEINT)) AS BIGINT) AS v
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
              AND ({where})
        GROUP BY 1, 2
    ),
    lagged AS (
        SELECT k, p, v,
               CASE WHEN LAG(p) OVER (PARTITION BY k ORDER BY p)
                         = p - 1
                    THEN LAG(v) OVER (PARTITION BY k ORDER BY p)
               END AS pv
        FROM per
    )
    SELECT k AS {key_col},
           make_timestamp(p * {per_us}) AS period_start,
           v AS value_cents,
           pv AS prev_value_cents,
           CASE WHEN pv IS NOT NULL AND pv != 0 THEN
             CAST(CASE WHEN ((v - pv) < 0) != (pv < 0)
                       THEN -1 ELSE 1 END
                  * ((1000000::HUGEINT * ABS(CAST(v AS HUGEINT) - pv))
                     // ABS(CAST(pv AS HUGEINT)))
                  AS BIGINT)
           END AS growth_ppm
    FROM lagged
    """


def growth_accounting(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    period_seconds: int = 604800,
) -> DataFrame:
    """Growth-accounting decomposition (the Social Capital MAU
    framework): every period's actives split EXACTLY into
    ``new + retained + resurrected``, plus the period's ``churned``
    (active previous period, gone now) — the identity
    ``active(p) − active(p−1) = new + resurrected − churned`` is the
    only honest way to read growth. One row per period:
    ``(period_start, n_active, n_new, n_retained, n_resurrected,
    n_churned)``; churned is NULL for a period with no predecessor
    data (strict adjacency, like :func:`period_over_period`).

    new = first-ever activity this period; retained = also active the
    IMMEDIATELY previous period; resurrected = returning after a gap.
    All counts are exact integers.

    Plan: one distinct over (key, period) — the only corpus-scale
    shuffle; the first-activity agg and the previous-period self-join
    reuse that key partitioning; the per-period rollup and the
    strict-adjacency lag run on period rows.
    """
    if period_seconds <= 0:
        raise ValueError("growth_accounting: period_seconds must be > 0")
    per_us = int(period_seconds) * 1_000_000
    act = (
        df.filter(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(key_col).alias("__k"),
            F.expr(f"unix_micros({ts_col}) div {per_us}").alias("__p"),
        )
        .distinct()
    )
    first = act.groupBy("__k").agg(F.min("__p").alias("__f"))
    prev = act.select("__k", (F.col("__p") + 1).alias("__p")).withColumn(
        "__had_prev", F.lit(1)
    )
    flagged = (
        act.join(first, "__k")
        .join(prev, ["__k", "__p"], "left")
        .select(
            "__p",
            (F.col("__p") == F.col("__f")).cast("long").alias("__new"),
            F.coalesce(F.col("__had_prev"), F.lit(0))
            .cast("long")
            .alias("__ret"),
        )
    )
    per = flagged.groupBy("__p").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
        F.sum("__new").cast("bigint").alias("n_new"),
        F.sum(
            F.when(F.col("__new") == 0, F.col("__ret")).otherwise(0)
        ).cast("bigint").alias("n_retained"),
        F.sum(
            F.when((F.col("__new") == 0) & (F.col("__ret") == 0), 1)
            .otherwise(0)
        ).cast("bigint").alias("n_resurrected"),
    )
    w = Window.orderBy(F.col("__p").asc())
    per = per.withColumn(
        "__pa",
        F.when(
            F.lag("__p").over(w) == F.col("__p") - 1,
            F.lag("n_active").over(w),
        ),
    )
    return per.select(
        F.timestamp_micros(F.col("__p") * per_us).alias("period_start"),
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        (F.col("__pa") - F.col("n_retained")).cast("bigint").alias(
            "n_churned"
        ),
    )


def growth_accounting_sql(
    table: str,
    key_col: str,
    ts_col: str,
    period_seconds: int = 604800,
) -> str:
    """DuckDB oracle of :func:`growth_accounting` — same integer-µs
    periods, same new/retained/resurrected split and strict-adjacency
    churn."""
    per_us = int(period_seconds) * 1_000_000
    return f"""
    WITH act AS (
        SELECT DISTINCT {key_col} AS k,
               epoch_us({ts_col}) // {per_us} AS p
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
    ),
    first_p AS (SELECT k, MIN(p) AS f FROM act GROUP BY k),
    flagged AS (
        SELECT act.p,
               CASE WHEN act.p = f.f THEN 1 ELSE 0 END AS is_new,
               CASE WHEN prev.k IS NOT NULL THEN 1 ELSE 0 END AS ret
        FROM act
        JOIN first_p f ON f.k = act.k
        LEFT JOIN act prev ON prev.k = act.k AND prev.p = act.p - 1
    ),
    per AS (
        SELECT p, COUNT(*) AS n_active,
               SUM(is_new) AS n_new,
               SUM(CASE WHEN is_new = 0 THEN ret ELSE 0 END)
                 AS n_retained,
               SUM(CASE WHEN is_new = 0 AND ret = 0 THEN 1 ELSE 0 END)
                 AS n_resurrected
        FROM flagged GROUP BY p
    )
    SELECT make_timestamp(p * {per_us}) AS period_start,
           CAST(n_active AS BIGINT) AS n_active,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(n_retained AS BIGINT) AS n_retained,
           CAST(n_resurrected AS BIGINT) AS n_resurrected,
           CAST(CASE WHEN LAG(p) OVER (ORDER BY p) = p - 1
                THEN LAG(n_active) OVER (ORDER BY p) - n_retained
                END AS BIGINT) AS n_churned
    FROM per
    """


def streaks(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    period_seconds: int = 86400,
) -> DataFrame:
    """Per-key consecutive-activity streaks (gaps-and-islands):
    ``(key, n_periods, n_streaks, longest_streak, current_streak)``
    over integer-µs periods — the engagement/habit feature (daily
    streaks, consecutive-week buyers). ``current_streak`` is the
    length of the streak containing the KEY's latest active period
    (data-relative, not wall-clock). All counts exact integers.

    The island id is the classic ``period − row_number()`` constant:
    consecutive periods share it, any gap shifts it. Scale shape: one
    distinct over (key, period) — the only corpus-scale shuffle — one
    keyed row_number window over the key's periods, then two hash
    aggs (islands, then keys).
    """
    if period_seconds <= 0:
        raise ValueError("streaks: period_seconds must be > 0")
    per_us = int(period_seconds) * 1_000_000
    act = (
        df.filter(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(key_col).alias("__k"),
            F.expr(f"unix_micros({ts_col}) div {per_us}").alias("__p"),
        )
        .distinct()
    )
    w = Window.partitionBy("__k").orderBy(F.col("__p").asc())
    isl = act.withColumn(
        "__isl", F.col("__p") - F.row_number().over(w)
    )
    runs = isl.groupBy("__k", "__isl").agg(
        F.count(F.lit(1)).alias("__len"),
        F.max("__p").alias("__maxp"),
    )
    return runs.groupBy("__k").agg(
        F.sum("__len").cast("bigint").alias("n_periods"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("__len").cast("bigint").alias("longest_streak"),
        F.max_by("__len", "__maxp").cast("bigint").alias(
            "current_streak"
        ),
    ).select(
        F.col("__k").alias(key_col),
        "n_periods",
        "n_streaks",
        "longest_streak",
        "current_streak",
    )


def streaks_sql(
    table: str,
    key_col: str,
    ts_col: str,
    period_seconds: int = 86400,
) -> str:
    """DuckDB oracle of :func:`streaks` — same integer-µs periods,
    same period−row_number island id."""
    per_us = int(period_seconds) * 1_000_000
    return f"""
    WITH act AS (
        SELECT DISTINCT {key_col} AS k,
               epoch_us({ts_col}) // {per_us} AS p
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
    ),
    isl AS (
        SELECT k, p,
               p - ROW_NUMBER() OVER (PARTITION BY k ORDER BY p) AS i
        FROM act
    ),
    runs AS (
        SELECT k, i, COUNT(*) AS len, MAX(p) AS maxp
        FROM isl GROUP BY k, i
    )
    SELECT k AS {key_col},
           CAST(SUM(len) AS BIGINT) AS n_periods,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(max_by(len, maxp) AS BIGINT) AS current_streak
    FROM runs GROUP BY k
    """


def logrank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    chi2_crit: float = 3.841459,
    buckets: int = 1024,
) -> DataFrame:
    """Two-sample log-rank test — does group A's survival curve differ
    from group B's? The inferential companion of :func:`km_survival`
    (KM draws the curves; this says whether the gap is noise). ONE
    output row: ``(n_a, n_b, events_a, events_b, o_minus_e, variance,
    significant)`` where ``o_minus_e`` = Σ_t (d_At − d_t·n_At/n_t)
    over distinct EVENT times, ``variance`` = Σ_t hypergeometric
    variance terms, and ``significant`` applies the χ²(1 dof)
    criterion ``(O−E)² > crit·V``. Rows outside the two groups are
    ignored; NULL durations are excluded; ties are handled exactly
    (all standard).

    Determinism: at-risk counts are exact integers; each time's
    expectation/variance term is a fixed-shape IEEE expression over
    those integers ROUNDED ONCE to DECIMAL(18,6), so the Σ is an
    order-independent decimal sum (the ``benford_audit`` term idiom);
    the final decision is fixed-shape scalar arithmetic.

    Scale shape: one (duration → per-group subject/event counts) hash
    agg collapses ties; the at-risk counts need the count of subjects
    with duration STRICTLY BELOW t — the mann_whitney cell machinery
    (cells of a 1-row min/max attach, ``sketch._cell_of``;
    (cell)-partitioned cumsums; offsets from ``sketch._cell_offsets``)
    — then one 1-row conditional agg. No per-subject window, no global
    funnel.
    """
    from pybabe_spark.operators._util import attach_scalars
    from pybabe_spark.operators.sketch import _cell_of, _cell_offsets

    is_a = F.col(group_col) == group_a
    is_b = F.col(group_col) == group_b
    base = (
        df.filter((is_a | is_b) & F.col(duration_col).isNotNull())
        .select(
            F.col(duration_col).cast("bigint").alias("__t"),
            is_a.cast("long").alias("__a"),
            F.col(event_col).cast("int").alias("__e"),
        )
        .groupBy("__t")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.sum("__a").alias("__ca"),
            F.sum(F.col("__e")).alias("__d"),
            F.sum(F.col("__e") * F.col("__a")).alias("__da"),
        )
    )
    rng = base.agg(F.min("__t").alias("__lo"), F.max("__t").alias("__hi"))
    j = attach_scalars(base, rng).withColumn(
        "__b", _cell_of("__t", "__lo", "__hi", buckets)
    ).drop("__lo", "__hi")
    offs = _cell_offsets(
        j.groupBy("__b").agg(
            F.sum("__c").alias("__bc"), F.sum("__ca").alias("__bca")
        ),
        [],
        {"__bc": "__oc", "__bca": "__oca"},
        buckets,
    )
    w = Window.partitionBy("__b").orderBy(F.col("__t").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = j.join(F.broadcast(offs), ["__b"]).select(
        "__t",
        "__c",
        "__ca",
        "__d",
        "__da",
        (F.col("__oc") + F.sum("__c").over(w) - F.col("__c")).alias(
            "__before"
        ),
        (F.col("__oca") + F.sum("__ca").over(w) - F.col("__ca")).alias(
            "__before_a"
        ),
    )
    totals = base.agg(
        F.sum("__c").alias("__n"), F.sum("__ca").alias("__na")
    )
    t = attach_scalars(cum, totals).select(
        "*",
        (F.col("__n") - F.col("__before")).alias("__nt"),
        (F.col("__na") - F.col("__before_a")).alias("__nat"),
    )
    d = F.col("__d").cast("double")
    nt = F.col("__nt").cast("double")
    nat = F.col("__nat").cast("double")
    # per-event-time terms, each rounded once then decimal-summed
    e_term = F.round(d * (nat / nt), 6).cast("decimal(18,6)")
    v_term = F.round(
        d
        * (nat / nt)
        * (1 - nat / nt)
        * ((nt - d) / (nt - F.lit(1.0))),
        6,
    ).cast("decimal(18,6)")
    agg = t.agg(
        F.sum("__ca").cast("bigint").alias("n_a"),
        (F.sum("__c") - F.sum("__ca")).cast("bigint").alias("n_b"),
        F.sum("__da").cast("bigint").alias("events_a"),
        (F.sum("__d") - F.sum("__da")).cast("bigint").alias("events_b"),
        F.sum(F.when(F.col("__d") > 0, e_term))
        .cast("decimal(18,6)")
        .alias("__e1"),
        F.sum(F.when((F.col("__d") > 0) & (F.col("__nt") > 1), v_term))
        .cast("decimal(18,6)")
        .alias("__v"),
    )
    ome = F.col("events_a").cast("double") - F.col("__e1").cast("double")
    return agg.select(
        "n_a",
        "n_b",
        "events_a",
        "events_b",
        ome.cast("decimal(18,6)").cast("double").alias("o_minus_e"),
        F.col("__v").cast("double").alias("variance"),
        F.when(
            F.col("__v") > 0,
            ome * ome
            > F.lit(float(chi2_crit)) * F.col("__v").cast("double"),
        )
        .otherwise(F.lit(False))
        .alias("significant"),
    )


def logrank_test_sql(
    select: str,
    duration_col: str,
    event_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    chi2_crit: float = 3.841459,
) -> str:
    """DuckDB oracle of :func:`logrank_test` — plain global cumulative
    at-risk counts over distinct durations, identical rounded terms and
    decision."""
    return f"""
    WITH src AS ({select}),
    base AS (
        SELECT CAST({duration_col} AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN {group_col} = '{group_a}'
                        THEN 1 ELSE 0 END) AS BIGINT) AS ca,
               CAST(SUM(CAST({event_col} AS INT)) AS BIGINT) AS d,
               CAST(SUM(CASE WHEN {group_col} = '{group_a}'
                        THEN CAST({event_col} AS INT) ELSE 0 END)
                    AS BIGINT) AS da
        FROM src
        WHERE {group_col} IN ('{group_a}', '{group_b}')
          AND {duration_col} IS NOT NULL
        GROUP BY 1
    ),
    cum AS (
        SELECT *,
               CAST(SUM(c) OVER () AS BIGINT)
                 - COALESCE(CAST(SUM(c) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS nt,
               CAST(SUM(ca) OVER () AS BIGINT)
                 - COALESCE(CAST(SUM(ca) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS nat
        FROM base
    ),
    agg AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
               CAST(SUM(c) - SUM(ca) AS BIGINT) AS n_b,
               CAST(SUM(da) AS BIGINT) AS events_a,
               CAST(SUM(d) - SUM(da) AS BIGINT) AS events_b,
               CAST(SUM(CASE WHEN d > 0 THEN CAST(round(
                   CAST(d AS DOUBLE) * (CAST(nat AS DOUBLE)
                     / CAST(nt AS DOUBLE)), 6) AS DECIMAL(18,6)) END)
                 AS DECIMAL(18,6)) AS e1,
               CAST(SUM(CASE WHEN d > 0 AND nt > 1 THEN CAST(round(
                   CAST(d AS DOUBLE) * (CAST(nat AS DOUBLE)
                     / CAST(nt AS DOUBLE))
                   * (1 - CAST(nat AS DOUBLE) / CAST(nt AS DOUBLE))
                   * ((CAST(nt AS DOUBLE) - CAST(d AS DOUBLE))
                      / (CAST(nt AS DOUBLE) - 1.0)), 6)
                   AS DECIMAL(18,6)) END) AS DECIMAL(18,6)) AS v
        FROM cum
    )
    SELECT n_a, n_b, events_a, events_b,
           CAST(CAST(CAST(events_a AS DOUBLE) - CAST(e1 AS DOUBLE)
                AS DECIMAL(18,6)) AS DOUBLE) AS o_minus_e,
           CAST(v AS DOUBLE) AS variance,
           CASE WHEN v > 0 THEN
             (CAST(events_a AS DOUBLE) - CAST(e1 AS DOUBLE))
             * (CAST(events_a AS DOUBLE) - CAST(e1 AS DOUBLE))
             > {float(chi2_crit)!r} * CAST(v AS DOUBLE)
           ELSE FALSE END AS significant
    FROM agg
    """


def ljung_box(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    lags: int = 3,
    chi2_crit: float | None = None,
) -> DataFrame:
    """Ljung–Box portmanteau white-noise test per key — the
    inferential layer over :func:`acf`: is the autocorrelation
    structure at lags 1..``lags`` jointly distinguishable from noise?

        Q = n(n+2) · Σ_h ρ_h²/(n−h)   ~  χ²(lags) under H₀

    Composes the exact machinery: ρ_h arrives as :func:`acf`'s
    sign-split integral ppm (exact integers), so ``ρ_h² = ppm²/10¹²``
    and each lag's term is ONE IEEE division of exact integers rounded
    once to DECIMAL(38,6) (order-independent decimal sum across lags —
    the ``anova_f`` discipline); Q is one fixed-shape finish rounded
    once. Since ``lags`` is a call-site constant, the χ²(lags)
    critical value is a LITERAL — pass ``chi2_crit`` (e.g. 7.814728
    for lags=3 at α=0.05) to emit a deterministic ``significant``
    column. Q is NULL for keys where any lag 1..lags is undefined
    (series shorter than lags+1, or zero variance) — a partial Q would
    silently compare against the wrong χ² df.

    Scale shape: exactly acf's (one key-partitioned window pass + one
    hash agg) plus one more key-grain agg — nothing global.

    The per-user / per-series noise gate: residual checks after
    seasonal_backtest, burst persistence screening, metric sanity.
    """
    r = acf(df, key_col, ts_col, value_col, lags)
    term = (
        F.col("acf_ppm").cast("double")
        * F.col("acf_ppm").cast("double")
        / (F.col("n") - F.col("lag")).cast("double")
    ).cast("decimal(38,6)")
    g = r.groupBy(key_col).agg(
        F.first("n").alias("n"),
        F.count("acf_ppm").alias("__lu"),
        F.sum(F.when(F.col("acf_ppm").isNotNull(), term))
        .cast("decimal(38,6)")
        .alias("__t"),
    )
    nd = F.col("n").cast("double")
    q = nd * (nd + 2.0) * F.col("__t").cast("double") / 1_000_000_000_000.0
    out = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    cols = [
        F.col(key_col),
        F.col("n"),
        F.when(F.col("__lu") == lags, out(q)).alias("q"),
    ]
    if chi2_crit is not None:
        cols.append(
            F.when(F.col("__lu") == lags, out(q) > F.lit(float(chi2_crit)))
            .otherwise(F.lit(False))
            .alias("significant")
        )
    return g.select(*cols)


def ljung_box_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    lags: int = 3,
    chi2_crit: float | None = None,
) -> str:
    """DuckDB oracle of :func:`ljung_box` — nests :func:`acf_sql`
    verbatim (the ppm definition cannot drift between the two), same
    per-lag term rounding, same finish."""
    inner = acf_sql(table, key_col, ts_col, value_col, lags)
    qe = (
        "CAST(CAST("
        "CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)"
        " * CAST(t AS DOUBLE) / 1000000000000.0"
        " AS DECIMAL(18,6)) AS DOUBLE)"
    )
    sig = (
        f""",
           CASE WHEN lu = {int(lags)} THEN {qe} > {float(chi2_crit)!r}
           ELSE FALSE END AS significant"""
        if chi2_crit is not None
        else ""
    )
    return f"""
    WITH acf_rows AS ({inner}),
    g AS (
        SELECT {key_col}, MIN(n) AS n,
               COUNT(acf_ppm) AS lu,
               SUM(CASE WHEN acf_ppm IS NOT NULL THEN
                 CAST(CAST(acf_ppm AS DOUBLE) * CAST(acf_ppm AS DOUBLE)
                      / (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE))
                      AS DECIMAL(38,6)) END) AS t
        FROM acf_rows GROUP BY {key_col}
    )
    SELECT {key_col}, n,
           CASE WHEN lu = {int(lags)} THEN {qe} END AS q{sig}
    FROM g
    """


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Nelson–Aalen cumulative-hazard curve per group — the additive
    companion of :func:`km_survival` on the SAME right-censored risk
    table: ``H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ``, the estimator of choice when
    hazards are compared or fed downstream (H is a plain sum, so
    group differences and regression residuals behave linearly where
    KM's product does not). Output per event time:
    ``(group, t, n_risk, n_events, n_censored, cum_hazard,
    na_survival)`` with ``na_survival = exp(−H)`` (the Fleming–
    Harrington survival estimate, ≥ KM's step product).

    Determinism: each step hazard ``d/n`` is ONE IEEE division of
    exact integers rounded once to DECIMAL(18,6); ``H`` is the exact
    decimal cumulative sum (associative), and ``exp(−H)`` takes the
    same single terminal rounding as KM's curve. Ties at a duration
    process events before censors (subjects censored at ``t`` were at
    risk at ``t`` — KM's convention, same risk table).

    Scale shape: identical to km_survival — one hash agg to the
    per-(group, duration) grain, then group-partitioned cumulative
    windows over the distinct-duration table (bounded by the duration
    domain, not the corpus).
    """
    g = [group_col] if group_col is not None else []
    ev = F.col(event_col).cast("int")
    base = df.filter(F.col(duration_col).isNotNull()).select(
        *g,
        F.col(duration_col).alias("t"),
        ev.alias("__e"),
    )
    counts = base.groupBy(*g, "t").agg(
        F.sum("__e").alias("n_events"),
        F.sum(F.lit(1) - F.col("__e")).alias("n_censored"),
    )
    w_ord = Window.partitionBy(*g).orderBy(F.col("t").asc())
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy(*g)
    stepped = (
        counts.withColumn(
            "__tot", F.sum(F.col("n_events") + F.col("n_censored")).over(wall)
        )
        .withColumn(
            "__cum", F.sum(F.col("n_events") + F.col("n_censored")).over(w_cum)
        )
        .withColumn(
            "n_risk", F.col("__tot") - F.lag("__cum", 1, 0).over(w_ord)
        )
        .drop("__tot", "__cum")
    )
    term = (
        F.col("n_events").cast("double") / F.col("n_risk").cast("double")
    ).cast("decimal(18,6)")
    curve = stepped.withColumn(
        "__h",
        F.sum(F.when(F.col("n_events") > 0, term)).over(w_cum),
    )
    return curve.filter(F.col("n_events") > 0).select(
        *g,
        "t",
        "n_risk",
        "n_events",
        "n_censored",
        F.col("__h").cast("double").alias("cum_hazard"),
        F.round(F.exp(-F.col("__h").cast("double")), 6).alias(
            "na_survival"
        ),
    )


def nelson_aalen_sql(
    src: str,
    duration_col: str,
    event_col: str,
    group_col: str | None = None,
) -> str:
    """DuckDB mirror of :func:`nelson_aalen` — same risk table as
    km_survival_sql, same once-rounded step hazards, exact decimal
    cumsum, same terminal rounding."""
    g = f"{group_col}, " if group_col else ""
    gp = f"PARTITION BY {group_col}" if group_col else ""
    return f"""
    WITH base AS (
      SELECT {g}{duration_col} AS t,
             CAST({event_col} AS INT) AS e
      FROM {src} WHERE {duration_col} IS NOT NULL
    ),
    counts AS (
      SELECT {g}t, CAST(SUM(e) AS BIGINT) AS n_events,
             CAST(SUM(1 - e) AS BIGINT) AS n_censored
      FROM base GROUP BY {g}t
    ),
    stepped AS (
      SELECT *,
             CAST(SUM(n_events + n_censored) OVER ({gp}) -
                  COALESCE(SUM(n_events + n_censored) OVER
                    ({gp} ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
      FROM counts
    ),
    curve AS (
      SELECT *,
             SUM(CASE WHEN n_events > 0 THEN
               CAST(CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE)
                    AS DECIMAL(18,6)) END) OVER
               ({gp} ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS h
      FROM stepped
    )
    SELECT {g}t, n_risk, n_events, n_censored,
           CAST(h AS DOUBLE) AS cum_hazard,
           ROUND(exp(-CAST(h AS DOUBLE)), 6) AS na_survival
    FROM curve WHERE n_events > 0
    """


def durbin_watson(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Durbin–Watson first-order autocorrelation statistic per key —
    the quick residual-independence check (DW ≈ 2 independent, → 0
    positive autocorrelation, → 4 negative) next to :func:`acf`'s full
    lag profile and :func:`ljung_box`'s joint test. Applied to a raw
    series it mean-centers implicitly: successive differences cancel
    the mean, so

        DW = n·Σ(xₜ−xₜ₋₁)² / (n·Q − S²)

    is an EXACT integer rational (cents lift; Σdiff², Q = Σx², S = Σx
    all DECIMAL(38,0)) emitted as integral ppm plus the once-rounded
    double — no IEEE until the final division, the :func:`acf`
    convention. NULL values are excluded before ordering; keys with
    n < 2 or zero variance report NULL.

    Scale shape: one key-partitioned lag window + one hash agg — the
    acf plan with a single lag.
    """
    x = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).asc())
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(key_col), F.col(ts_col), x.alias("__x")
    )
    rows = base.select(
        key_col, "__x", F.lag("__x", 1).over(w).alias("__p")
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    diff = F.col("__x") - F.col("__p")
    agg = rows.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d(F.col("__x"))).cast("decimal(38,0)").alias("__s"),
        F.sum(d(F.col("__x")) * F.col("__x"))
        .cast("decimal(38,0)")
        .alias("__q"),
        F.coalesce(F.sum(d(diff) * diff), F.lit(0))
        .cast("decimal(38,0)")
        .alias("__num"),
    )
    den = d(
        F.col("n") * F.col("__q") - F.col("__s") * F.col("__s")
    )
    ppm = F.expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * n * __num)"
        " div (CAST(n AS DECIMAL(38,0)) * __q - __s * __s) AS BIGINT)"
    )
    ok = (F.col("n") >= 2) & (den > 0)
    return agg.select(
        F.col(key_col),
        F.col("n").cast("bigint").alias("n"),
        F.when(ok, ppm).alias("dw_ppm"),
        F.when(ok, (ppm.cast("double") / 1e6)).alias("dw"),
    )


def durbin_watson_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> str:
    """DuckDB oracle of :func:`durbin_watson` — same cents lift, lag
    window, HUGEINT moments, and floored integral ppm."""
    x = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    return f"""
    WITH base AS (
        SELECT {key_col} AS k, {ts_col} AS ts, {x} AS x
        FROM {table} WHERE {value_col} IS NOT NULL
    ),
    rows_l AS (
        SELECT k, x,
               LAG(x, 1) OVER (PARTITION BY k ORDER BY ts) AS p
        FROM base
    ),
    agg AS (
        SELECT k, COUNT(*) AS n,
               SUM(CAST(x AS HUGEINT)) AS s,
               SUM(CAST(x AS HUGEINT) * x) AS q,
               COALESCE(SUM(CAST(x - p AS HUGEINT) * (x - p)), 0) AS num
        FROM rows_l GROUP BY k
    )
    SELECT k AS {key_col}, CAST(n AS BIGINT) AS n,
           CASE WHEN n >= 2 AND n::HUGEINT * q - s * s > 0 THEN
             CAST((1000000::HUGEINT * n * num)
                  // (n::HUGEINT * q - s * s) AS BIGINT)
           END AS dw_ppm,
           CASE WHEN n >= 2 AND n::HUGEINT * q - s * s > 0 THEN
             CAST(CAST((1000000::HUGEINT * n * num)
                  // (n::HUGEINT * q - s * s) AS BIGINT) AS DOUBLE) / 1e6
           END AS dw
    FROM agg
    """


def rmst(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    tau: int,
    group_col: str | None = None,
) -> DataFrame:
    """Restricted mean survival time per group — the scalar summary of
    :func:`km_survival`'s whole curve: ``RMST(τ) = ∫₀^τ S(t) dt``, the
    average event-free time over the first ``τ`` duration units
    (average days-to-churn within the quarter, mean conversion-free
    time in the first week). Unlike the median survival time it is
    defined even when the curve never crosses 0.5, and group
    DIFFERENCES of RMST are the effect size log-rank's p-value lacks.

    Composes the KM machinery: the curve's step integral is
    ``min(t₁,τ)·1 + Σᵢ S(tᵢ)·(min(tᵢ₊₁,τ) − min(tᵢ,τ))`` over the
    distinct event times (last step extends to τ). Each step's
    ``S·Δt`` is EXACT decimal arithmetic in both engines: the
    6dp-rounded survival recast to DECIMAL(7,6) (exact — a double
    that is the rounding of a 6dp value is never a conversion tie)
    times the exact bigint Δt as DECIMAL(20,0), an exact
    DECIMAL(28,6) product with NO double intermediate. With µs-scale
    durations the product needs ≥18 significant digits — past
    double's ~15.95 — so a double product lands Spark's BigDecimal
    HALF_UP and DuckDB's double-space rounding on different 6dp grid
    points; exact decimals are the only engine-portable form. The
    steps are decimal-summed (order-independent); the first segment
    is exact integer arithmetic. Output ``(group, tau, n_steps,
    rmst DECIMAL(38,6))`` in the duration column's own units — the
    result stays exact decimal because at µs durations the value
    itself exceeds double precision (cast it yourself if a lossy
    float is acceptable); empty groups are absent, and a group
    whose first event lies beyond τ reports rmst = τ.

    Scale shape: km_survival's plan (hash agg to the distinct-duration
    grain + group-partitioned windows) plus one lead() on the same
    window and one group-grain agg.
    """
    if tau <= 0:
        raise ValueError(f"rmst: tau {tau} must be positive")
    g = [group_col] if group_col is not None else []
    curve = km_survival(df, duration_col, event_col, group_col)
    w_ord = Window.partitionBy(*g).orderBy(F.col("t").asc())
    t_cap = F.least(F.col("t").cast("bigint"), F.lit(int(tau)))
    nxt = F.lead(F.col("t").cast("bigint"), 1).over(w_ord)
    nxt_cap = F.least(F.coalesce(nxt, F.lit(int(tau))), F.lit(int(tau)))
    step = (
        F.col("survival").cast("decimal(7,6)")
        * (nxt_cap - t_cap).cast("decimal(20,0)")
    ).cast("decimal(38,6)")
    stepped = curve.select(*g, "t", "survival").withColumn("__s", step)
    return stepped.groupBy(*g).agg(
        F.lit(int(tau)).cast("bigint").alias("tau"),
        F.count(F.lit(1)).cast("bigint").alias("n_steps"),
        (
            F.least(F.min(F.col("t").cast("bigint")), F.lit(int(tau)))
            .cast("decimal(38,6)")
            + F.coalesce(
                F.sum("__s"), F.lit(0).cast("decimal(38,6)")
            )
        )
        .cast("decimal(38,6)")
        .alias("rmst"),
    )


def rmst_sql(
    src: str,
    duration_col: str,
    event_col: str,
    tau: int,
    group_col: str | None = None,
) -> str:
    """DuckDB oracle of :func:`rmst` — nests :func:`km_survival_sql`
    verbatim (the curve definition cannot drift), same capped lead,
    exact DECIMAL(7,6) × DECIMAL(20,0) step product (no double
    intermediate — see :func:`rmst`), and decimal sum."""
    inner = km_survival_sql(src, duration_col, event_col, group_col)
    g = f"{group_col}, " if group_col else ""
    gp = f"PARTITION BY {group_col}" if group_col else ""
    t = int(tau)
    return f"""
    WITH curve AS ({inner}),
    stepped AS (
        SELECT {g}t, survival,
               CAST(CAST(survival AS DECIMAL(7,6)) *
                 CAST(LEAST(COALESCE(LEAD(CAST(t AS BIGINT), 1) OVER
                        ({gp} ORDER BY t), {t}), {t})
                      - LEAST(CAST(t AS BIGINT), {t}) AS DECIMAL(20,0))
               AS DECIMAL(38,6)) AS s
        FROM curve
    )
    SELECT {g}CAST({t} AS BIGINT) AS tau,
           CAST(COUNT(*) AS BIGINT) AS n_steps,
           CAST(CAST(LEAST(MIN(CAST(t AS BIGINT)), {t}) AS DECIMAL(38,6))
                + COALESCE(SUM(s), CAST(0 AS DECIMAL(38,6)))
                AS DECIMAL(38,6)) AS rmst
    FROM stepped
    {f'GROUP BY {group_col}' if group_col else ''}
    """


def km_quantiles(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    probs: "list[float]" = (0.75, 0.5, 0.25),
    group_col: str | None = None,
) -> DataFrame:
    """Kaplan–Meier quantile crossing times — "when has a quarter /
    half / three quarters of the cohort converted (or churned)": for
    each survival level ``q`` in ``probs``, the FIRST event time where
    the curve drops to ``S(t) ≤ q``, per group. The classic median
    survival time is ``q = 0.5``. NULL where the curve never reaches
    ``q`` within observation — the case a naive median-of-durations
    silently gets wrong under right-censoring (it treats censored
    subjects as events), which is the whole reason to read this off
    the KM curve. Output: one row per (group, q):
    ``(group, q, t_cross, survival_at_cross)``.

    Composes :func:`km_survival` verbatim (both engines — the oracle
    nests km_survival_sql): the curve's survival is the once-rounded
    6 dp double, so the ``S(t) ≤ q`` comparison is engine-identical;
    the crossing pick is ``min_by(t)`` over curve rows at or below the
    level, one hash agg per level over the distinct-duration-sized
    curve. ``probs`` must lie in (0, 1).
    """
    ps = [float(p) for p in probs]
    if not ps or any(not 0.0 < p < 1.0 for p in ps):
        raise ValueError("km_quantiles: probs must be within (0, 1)")
    g = [group_col] if group_col is not None else []
    curve = km_survival(df, duration_col, event_col, group_col)
    per_level = None
    for p in ps:
        hit = F.col("survival") <= F.lit(p)
        lvl = curve.groupBy(*g).agg(
            F.lit(p).alias("q"),
            F.min(F.when(hit, F.col("t"))).alias("t_cross"),
            F.min_by(
                F.when(hit, F.col("survival")),
                F.when(hit, F.col("t")),
            ).alias("survival_at_cross"),
        )
        per_level = lvl if per_level is None else per_level.unionByName(lvl)
    return per_level


def km_quantiles_sql(
    src: str,
    duration_col: str,
    event_col: str,
    probs: "list[float]" = (0.75, 0.5, 0.25),
    group_col: str | None = None,
) -> str:
    """DuckDB oracle of :func:`km_quantiles` — nests
    :func:`km_survival_sql`, same level comparisons on the rounded
    curve, same first-crossing pick."""
    inner = km_survival_sql(src, duration_col, event_col, group_col)
    g = f"{group_col}, " if group_col else ""
    gb = f"GROUP BY {group_col}" if group_col else ""
    arms = []
    for p in probs:
        pr = repr(float(p))
        arms.append(f"""
        SELECT {g}{pr} AS q,
               MIN(CASE WHEN survival <= {pr} THEN t END) AS t_cross,
               arg_min(CASE WHEN survival <= {pr} THEN survival END,
                       CASE WHEN survival <= {pr} THEN t END)
                 AS survival_at_cross
        FROM curve {gb}""")
    body = " UNION ALL ".join(arms)
    return f"WITH curve AS ({inner}) {body}"


def stickiness(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    short_days: int = 7,
    long_days: int = 28,
) -> DataFrame:
    """Daily active-user engagement: one row per observed UTC day —
    ``(day, dau, wau, mau, stickiness_ppm)`` with ``wau``/``mau`` the
    EXACT distinct actives over the trailing ``short_days``/``long_days``
    windows ending that day, and ``stickiness_ppm = dau·10⁶ div wau``
    (the DAU/WAU habit metric, exact integral ppm — the house idiom, no
    IEEE division). Days with no activity emit no row; trailing windows
    at the start of the observed range are partial by definition (a
    7-day window over 3 days of history covers 3 days).

    Plan — the one scalable shape for exact trailing distincts: collapse
    the corpus to the DISTINCT (user, day) grain (the only corpus-scale
    shuffle), then each (user, day) CONTRIBUTES itself to the
    ``long_days`` trailing windows it falls in (an explode to ≤
    ``long_days`` rows per user-day, then distinct per window).
    Fanout is bounded by the window length — corpus-independent — and
    every aggregation is a map-side-combinable hash agg. A windowed
    ``COUNT(DISTINCT)`` over raw events, by contrast, either rescans
    the corpus per day or holds per-day user sets in one task.
    Output days are restricted to days with ≥1 activity (the join
    back to the dau table), so the synthetic future days the explode
    fabricates past the last observed day never surface.
    """
    if not 1 <= short_days <= long_days:
        raise ValueError("stickiness: need 1 <= short_days <= long_days")
    act = activity_grain(df, key_col, ts_col)
    return _stickiness_from_grain(act, short_days, long_days)


def activity_grain(df: DataFrame, key_col: str, ts_col: str) -> DataFrame:
    """DISTINCT (key, UTC day) activity grain — the only corpus-scale
    object engagement metrics need (shared by :func:`stickiness` and
    the streaming-maintained store in
    :func:`~pybabe_spark.streaming.ops.stream_activity_grain`)."""
    return (
        df.filter(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(key_col).alias("__k"),
            F.expr(f"unix_micros({ts_col}) div 86400000000").alias("__d"),
        )
        .distinct()
    )


def _stickiness_from_grain(
    act: DataFrame, short_days: int, long_days: int
) -> DataFrame:
    """Engagement table from a ``(__k, __d)`` activity grain —
    the shared core of :func:`stickiness`.

    ONE contribute-forward explode covers all three windows: each
    (user, day) contributes (user, target day, offset) for the
    ``long_days`` trailing windows it falls in; per (user, target day)
    the MIN offset decides which windows that user counts toward
    (0 → DAU, ≤ short−1 → WAU, anything → MAU), so one hash agg to
    the (user, day) grain plus one conditional day agg replaces three
    separate explode+distinct+count pipelines (a plan-audit shave:
    10 exchanges → 4, and a single ``long_days`` fanout instead of
    1 + short + long)."""
    contrib = act.select(
        "__k",
        F.explode(
            F.sequence(F.col("__d"), F.col("__d") + F.lit(int(long_days) - 1))
        ).alias("day"),
        F.col("__d"),
    ).select("__k", "day", (F.col("day") - F.col("__d")).alias("__off"))
    per = contrib.groupBy("__k", "day").agg(
        F.min("__off").alias("__mo")
    )
    out = per.groupBy("day").agg(
        F.sum((F.col("__mo") == 0).cast("long")).cast("bigint").alias("dau"),
        F.sum((F.col("__mo") <= int(short_days) - 1).cast("long"))
        .cast("bigint")
        .alias("wau"),
        F.count(F.lit(1)).cast("bigint").alias("mau"),
    )
    # days with no direct activity exist only as window tails — the
    # engagement table reports OBSERVED days (dau >= 1), matching the
    # original three-pipeline form's inner join on the dau table
    return out.filter(F.col("dau") > 0).select(
        F.col("day").cast("bigint"),
        "dau", "wau", "mau",
        F.expr("(dau * 1000000) div wau").alias("stickiness_ppm"),
    )


def stickiness_from_store(
    spark,
    store_path: str,
    short_days: int = 7,
    long_days: int = 28,
) -> DataFrame:
    """Engagement table over a STREAMING-MAINTAINED activity store
    (:func:`~pybabe_spark.streaming.ops.stream_activity_grain`):
    identical output to running :func:`stickiness` over the full raw
    history, but reading only the user×day grain the stream keeps —
    the raw events are never re-scanned."""
    if not 1 <= short_days <= long_days:
        raise ValueError(
            "stickiness_from_store: need 1 <= short_days <= long_days"
        )
    act = spark.read.parquet(store_path).select("__k", "__d").distinct()
    return _stickiness_from_grain(act, short_days, long_days)


def stickiness_sql(
    table: str,
    key_col: str,
    ts_col: str,
    short_days: int = 7,
    long_days: int = 28,
) -> str:
    """DuckDB oracle of :func:`stickiness` — identical day truncation
    (integer µs div), contribute-forward explode, exact distincts,
    floored integral ppm."""
    s, ln = int(short_days), int(long_days)
    return f"""
    WITH act AS (
      SELECT DISTINCT {key_col} AS k,
             epoch_us({ts_col}) // 86400000000 AS d
      FROM {table}
      WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
    ),
    dau AS (SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS dau
            FROM act GROUP BY d),
    wc AS (
      SELECT DISTINCT k, d + off AS day
      FROM act, (SELECT unnest(range(0, {s})) AS off) t
    ),
    wau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS wau
            FROM wc GROUP BY day),
    mc AS (
      SELECT DISTINCT k, d + off AS day
      FROM act, (SELECT unnest(range(0, {ln})) AS off) t
    ),
    mau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS mau
            FROM mc GROUP BY day)
    SELECT CAST(day AS BIGINT) AS day, dau, wau, mau,
           (dau * 1000000) // wau AS stickiness_ppm
    FROM dau JOIN wau USING (day) JOIN mau USING (day)
    """


def _sd_floormean_micro(sum6, cnt):
    """Exact 6dp-floored mean: decimal(.,6) sum -> bigint micros ->
    pmod-floor division by cnt -> DECIMAL micro value (shared by the
    seasonal-decomposition family)."""
    num = (sum6 * F.lit(1000000).cast("decimal(7,0)")).cast("decimal(38,0)")
    adj = num - F.pmod(num, cnt.cast("decimal(38,0)"))
    return (adj / cnt.cast("decimal(38,0)")).cast("decimal(20,0)")


def _sd_micro_to_dec6(micro):
    return (
        micro.cast("decimal(26,6)") / F.lit(1000000).cast("decimal(7,0)")
    ).cast("decimal(18,6)")


def _sd_bucket_trend(df, key_col, ts_col, value_col, period, bucket_seconds):
    """(k, t, v, trend) bucket-mean series with the completeness-guarded
    centered-MA trend (even periods via the 2xMA two-window algebra) --
    the shared first half of seasonal_decompose / seasonal_decompose_mult
    (see seasonal_decompose's docstring for the full numeric contract)."""
    bus = int(bucket_seconds) * 1_000_000
    p = int(period)
    b = (
        df.filter(
            F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("k"),
            F.expr(f"unix_micros({ts_col}) div {bus}").alias("t"),
            F.col(value_col).cast("decimal(18,6)").alias("__x"),
        )
        .groupBy("k", "t")
        .agg(F.sum("__x").alias("__s"), F.count(F.lit(1)).alias("__c"))
        .select(
            "k", "t",
            _sd_micro_to_dec6(
                _sd_floormean_micro(F.col("__s"), F.col("__c"))
            ).alias("v"),
        )
    )
    if p % 2 == 1:
        h = (p - 1) // 2
        wf = Window.partitionBy("k").orderBy("t").rangeBetween(-h, h)
        trend = F.when(
            F.count(F.lit(1)).over(wf) == p,
            _sd_micro_to_dec6(
                _sd_floormean_micro(F.sum("v").over(wf), F.lit(p))
            ),
        )
    else:
        h = p // 2
        wlo = Window.partitionBy("k").orderBy("t").rangeBetween(-h + 1, h)
        whi = Window.partitionBy("k").orderBy("t").rangeBetween(-h, h - 1)
        wf = Window.partitionBy("k").orderBy("t").rangeBetween(-h, h)
        # 2xMA algebra: (v[-h] + 2*middle + v[h]) / 2p ==
        # (sum[-h+1,h] + sum[-h,h-1]) / 2p -- two exact decimal sums,
        # no edge-row extraction needed
        trend = F.when(
            F.count(F.lit(1)).over(wf) == p + 1,
            _sd_micro_to_dec6(
                _sd_floormean_micro(
                    F.sum("v").over(wlo) + F.sum("v").over(whi),
                    F.lit(2 * p),
                )
            ),
        )
    return b.withColumn("trend", trend)


def seasonal_decompose(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    period: int = 24,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Classical additive seasonal decomposition per key over a
    bucketed series: ``(key, t, value, trend, seasonal, remainder)``
    with ``value = trend + seasonal + remainder`` wherever trend is
    defined — the moving-average decomposition every monitoring /
    forecasting pipeline starts from (statsmodels
    ``seasonal_decompose(model='additive')`` semantics), next to
    :func:`~pybabe_spark.operators.anomaly.seasonal_zscore`'s
    cell-baseline approach.

    Definitions:

    - ``value``: per-(key, bucket) mean of ``value_col``, buckets =
      ``unix_micros div (bucket_seconds·10⁶)``.
    - ``trend``: centered moving average over ``period`` buckets —
      plain MA for odd periods; the textbook 2×MA half-weighted-ends
      form for even periods (daily period 24 over hourly buckets is
      the even case). NULL unless EVERY bucket of the window exists
      (range frames + an exact count guard, so series gaps disable the
      trend instead of silently averaging a shorter window).
    - ``seasonal``: per (key, t mod period) mean of the detrended
      series, centered across slots; defined only from buckets where
      trend is defined.
    - ``remainder``: ``value − trend − seasonal``.

    Numeric contract — ZERO IEEE operations anywhere: values lift once
    to DECIMAL(18,6); every cross-row sum is an exact decimal sum
    (order-independent); every MEAN is a FLOORED division in exact
    integer micro-units (the pmod-floor construction, so negative
    detrended sums floor identically in engines whose integer division
    truncates); every derived series is exact decimal subtraction.
    A first cut used correctly-rounded double divisions re-rounded to
    6 dp and hash-diverged at sf0.01: quotients of 6 dp sums by the
    period land EXACTLY on 6 dp midpoints, where Spark's shortest-repr
    HALF_UP and DuckDB's ×1e6 double rounding pick different sides —
    floored micro-unit division has no midpoints to disagree on.
    Floor-vs-round shifts a mean by at most 1e-6, far below any use of
    a decomposition; determinism is worth strictly more here.

    Scale shape: one bucket hash agg (the only corpus-scale shuffle),
    key-partitioned range windows on the bucket grain, a slots-sized
    seasonal agg broadcast back. Linear in buckets; state bounded by
    period.
    """
    if period < 2:
        raise ValueError(f"seasonal_decompose: period {period} < 2")
    if bucket_seconds <= 0:
        raise ValueError("seasonal_decompose: bucket_seconds must be > 0")
    bus = int(bucket_seconds) * 1_000_000
    p = int(period)

    tb = _sd_bucket_trend(
        df, key_col, ts_col, value_col, period, bucket_seconds
    ).withColumn(
        "d6", (F.col("v") - F.col("trend")).cast("decimal(18,6)")
    )
    slot_means = (
        tb.filter(F.col("d6").isNotNull())
        .groupBy("k", F.pmod(F.col("t"), F.lit(p)).alias("__slot"))
        .agg(
            _sd_micro_to_dec6(
                _sd_floormean_micro(F.sum("d6"), F.count(F.lit(1)))
            ).alias("s6"),
        )
    )
    key_adj = slot_means.groupBy("k").agg(
        _sd_micro_to_dec6(
            _sd_floormean_micro(F.sum("s6"), F.count(F.lit(1)))
        ).alias("m6"),
    )
    seas = slot_means.join(key_adj, "k").select(
        "k", "__slot",
        (F.col("s6") - F.col("m6")).cast("decimal(18,6)").alias("seasonal"),
    )
    out = tb.withColumn(
        "__slot", F.pmod(F.col("t"), F.lit(p))
    ).join(F.broadcast(seas), ["k", "__slot"], "left")
    return out.select(
        F.col("k").alias(key_col),
        F.col("t").cast("bigint"),
        F.col("v").cast("double").alias("value"),
        F.col("trend").cast("double").alias("trend"),
        F.col("seasonal").cast("double").alias("seasonal"),
        F.when(
            F.col("trend").isNotNull() & F.col("seasonal").isNotNull(),
            (F.col("v") - F.col("trend") - F.col("seasonal"))
            .cast("decimal(18,6)")
            .cast("double"),
        ).alias("remainder"),
    )


def seasonal_decompose_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    period: int = 24,
    bucket_seconds: int = 3600,
) -> str:
    """DuckDB oracle of :func:`seasonal_decompose` — identical exact
    decimal sums, the same pmod-floored micro-unit means, the same
    completeness guards; no IEEE arithmetic on either side."""
    bus = int(bucket_seconds) * 1_000_000
    p = int(period)

    def fm(sum6: str, cnt: str) -> str:
        num = f"CAST(({sum6}) * 1000000 AS HUGEINT)"
        adj = f"({num} - ((({num} % ({cnt})) + ({cnt})) % ({cnt})))"
        return (
            f"CAST(CAST({adj} // ({cnt}) AS DECIMAL(26,6)) / 1000000"
            f" AS DECIMAL(18,6))"
        )

    if p % 2 == 1:
        h = (p - 1) // 2
        trend = (
            f"CASE WHEN COUNT(*) OVER w = {p} THEN "
            f"{fm('SUM(v) OVER w', str(p))} END"
        )
        wins = (
            f"WINDOW w AS (PARTITION BY k ORDER BY t"
            f" RANGE BETWEEN {h} PRECEDING AND {h} FOLLOWING)"
        )
    else:
        h = p // 2
        trend = (
            f"CASE WHEN COUNT(*) OVER w = {p + 1} THEN "
            f"{fm('(SUM(v) OVER wlo) + (SUM(v) OVER whi)', str(2 * p))} END"
        )
        wins = (
            f"WINDOW w AS (PARTITION BY k ORDER BY t"
            f" RANGE BETWEEN {h} PRECEDING AND {h} FOLLOWING), "
            f"wlo AS (PARTITION BY k ORDER BY t"
            f" RANGE BETWEEN {h - 1} PRECEDING AND {h} FOLLOWING), "
            f"whi AS (PARTITION BY k ORDER BY t"
            f" RANGE BETWEEN {h} PRECEDING AND {h - 1} FOLLOWING)"
        )
    return f"""
    WITH b AS (
      SELECT k, t, {fm('SUM(x)', 'COUNT(*)')} AS v
      FROM (
        SELECT {key_col} AS k,
               epoch_us({ts_col}) // {bus} AS t,
               CAST({value_col} AS DECIMAL(18,6)) AS x
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
          AND {value_col} IS NOT NULL
      ) GROUP BY k, t
    ),
    tb AS (
      SELECT k, t, v, {trend} AS trend
      FROM b {wins}
    ),
    td AS (
      SELECT *, CAST(v - trend AS DECIMAL(18,6)) AS d6
      FROM tb
    ),
    sm AS (
      SELECT k, t % {p} AS slot, {fm('SUM(d6)', 'COUNT(*)')} AS s6
      FROM td WHERE d6 IS NOT NULL GROUP BY k, t % {p}
    ),
    ka AS (
      SELECT k, {fm('SUM(s6)', 'COUNT(*)')} AS m6
      FROM sm GROUP BY k
    ),
    seas AS (
      SELECT sm.k, sm.slot,
             CAST(s6 - m6 AS DECIMAL(18,6)) AS seasonal
      FROM sm JOIN ka ON sm.k = ka.k
    )
    SELECT td.k AS {key_col}, CAST(td.t AS BIGINT) AS t,
           CAST(v AS DOUBLE) AS value,
           CAST(trend AS DOUBLE) AS trend,
           CAST(seasonal AS DOUBLE) AS seasonal,
           CASE WHEN trend IS NOT NULL AND seasonal IS NOT NULL THEN
             CAST(CAST(v - trend - seasonal AS DECIMAL(18,6)) AS DOUBLE)
           END AS remainder
    FROM td
    LEFT JOIN seas ON td.k = seas.k AND td.t % {p} = seas.slot
    """


def snaive_forecast(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    period: int = 24,
    horizon: int = 24,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Seasonal-naive forecast per key: for each of the ``horizon``
    buckets after the key's LAST observed bucket, predict the value of
    the same seasonal slot one (or more) whole periods back —
    ``ŷ(T+h) = y(T + h − period·⌈h/period⌉)``. The standard
    no-parameter baseline every real forecast must beat (M-competition
    "snaive"), and the capacity-planning readout monitoring teams
    actually page on. Output: ``(key, t, t_source, forecast)`` —
    ``forecast`` NULL where the referenced historical bucket has no
    data (gaps propagate honestly rather than inventing values).

    Exactness: bucket values are the same pmod-floored micro-unit
    means as :func:`seasonal_decompose`; the forecast itself is a PURE
    LOOKUP — zero arithmetic beyond integer bucket indexing, so there
    is nothing for engines to round.

    Scale shape: one corpus-scale bucket hash agg; the forecast grid is
    keys × horizon rows (explode of a ``sequence``), equi-joined back
    to the bucket table on (key, source bucket). Linear, no windows.
    """
    if period < 1:
        raise ValueError(f"snaive_forecast: period {period} < 1")
    if horizon < 1:
        raise ValueError(f"snaive_forecast: horizon {horizon} < 1")
    if bucket_seconds <= 0:
        raise ValueError("snaive_forecast: bucket_seconds must be > 0")
    bus = int(bucket_seconds) * 1_000_000
    p, hz = int(period), int(horizon)
    b = (
        df.filter(
            F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("k"),
            F.expr(f"unix_micros({ts_col}) div {bus}").alias("t"),
            F.col(value_col).cast("decimal(18,6)").alias("__x"),
        )
        .groupBy("k", "t")
        .agg(F.sum("__x").alias("__s"), F.count(F.lit(1)).alias("__c"))
        .select(
            "k", "t",
            F.expr(
                "CAST((CAST(__s * 1000000 AS DECIMAL(38,0))"
                " - pmod(CAST(__s * 1000000 AS DECIMAL(38,0)),"
                "        CAST(__c AS DECIMAL(38,0))))"
                " / CAST(__c AS DECIMAL(38,0)) AS DECIMAL(26,6))"
                " / 1000000"
            ).cast("decimal(18,6)").alias("v"),
        )
    )
    last = b.groupBy("k").agg(F.max("t").alias("__T"))
    grid = last.select(
        "k", "__T",
        F.explode(
            F.sequence(F.col("__T") + 1, F.col("__T") + hz)
        ).alias("t"),
    ).withColumn(
        "t_source",
        # h = t - T; whole periods back: ceil(h/p) = (h + p - 1) div p
        F.expr(f"t - {p} * ((t - __T + {p} - 1) div {p})"),
    )
    src = b.select(F.col("k"), F.col("t").alias("t_source"),
                   F.col("v").alias("forecast"))
    return (
        grid.join(src, ["k", "t_source"], "left")
        .select(
            F.col("k").alias(key_col),
            F.col("t").cast("bigint"),
            F.col("t_source").cast("bigint"),
            F.col("forecast").cast("double"),
        )
    )


def snaive_forecast_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    period: int = 24,
    horizon: int = 24,
    bucket_seconds: int = 3600,
) -> str:
    """DuckDB oracle of :func:`snaive_forecast` — identical bucket
    means (pmod-floored micros), grid explode, lookup join."""
    bus = int(bucket_seconds) * 1_000_000
    p, hz = int(period), int(horizon)
    num = "CAST(SUM(x) * 1000000 AS HUGEINT)"
    cnt = "CAST(COUNT(*) AS HUGEINT)"
    adj = f"({num} - ((({num} % {cnt}) + {cnt}) % {cnt}))"
    v = (
        f"CAST(CAST({adj} // {cnt} AS DECIMAL(26,6)) / 1000000"
        f" AS DECIMAL(18,6))"
    )
    return f"""
    WITH b AS (
      SELECT k, t, {v} AS v
      FROM (
        SELECT {key_col} AS k,
               epoch_us({ts_col}) // {bus} AS t,
               CAST({value_col} AS DECIMAL(18,6)) AS x
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
          AND {value_col} IS NOT NULL
      ) GROUP BY k, t
    ),
    last AS (SELECT k, MAX(t) AS t_max FROM b GROUP BY k),
    grid AS (
      SELECT k, t_max + h AS t,
             (t_max + h) - {p} * ((h + {p} - 1) // {p}) AS t_source
      FROM last, (SELECT unnest(range(1, {hz + 1})) AS h) hs
    )
    SELECT grid.k AS {key_col}, CAST(grid.t AS BIGINT) AS t,
           CAST(grid.t_source AS BIGINT) AS t_source,
           CAST(b.v AS DOUBLE) AS forecast
    FROM grid LEFT JOIN b ON grid.k = b.k AND grid.t_source = b.t
    """


def forecast_backtest(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    period: int = 24,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Seasonal-naive backtest per key: hold out each key's LAST
    ``period`` buckets, forecast them from the history before the
    holdout (same-slot-one-period-back, i.e. exactly what
    :func:`snaive_forecast` would have predicted standing at the
    cutover), and score — ``(key, n_holdout, n_scored, mae_micros,
    smape_ppm)``. ``n_scored`` counts holdout buckets whose source
    bucket exists (gaps score nothing); ``mae_micros`` is the floored
    mean absolute error in exact micro-units; ``smape_ppm`` is the
    aggregate-form symmetric MAPE ``Σ|y−ŷ| / Σ(|y|+|ŷ|)`` in floored
    ppm (the ratio-of-sums form — per-row sMAPE averages explode on
    near-zero buckets; NULL when the denominator is 0). This is the
    ACCURACY CERTIFICATE for the snaive baseline: a model that can't
    beat this table's numbers has learned nothing beyond seasonality.
    Complementary to :func:`seasonal_backtest` (the in-sample MASE
    comparability ratio asking "is seasonality real at this row
    lag?"): this one holds out REAL future buckets and prices the
    forecast in the value's own units.

    Exactness: bucket means are pmod-floored micro-units
    (:func:`seasonal_decompose` contract); errors are integer
    subtraction + ABS; both finishes are pmod-floored integral
    divisions — zero IEEE.

    Scale shape: one corpus-scale bucket hash agg, a per-key max join,
    one self-equi-join on (key, source bucket), one per-key agg.
    """
    if period < 1:
        raise ValueError(f"forecast_backtest: period {period} < 1")
    if bucket_seconds <= 0:
        raise ValueError("forecast_backtest: bucket_seconds must be > 0")
    bus = int(bucket_seconds) * 1_000_000
    p = int(period)
    b = (
        df.filter(
            F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("k"),
            F.expr(f"unix_micros({ts_col}) div {bus}").alias("t"),
            F.col(value_col).cast("decimal(18,6)").alias("__x"),
        )
        .groupBy("k", "t")
        .agg(F.sum("__x").alias("__s"), F.count(F.lit(1)).alias("__c"))
        .select(
            "k", "t",
            F.expr(
                "CAST((CAST(__s * 1000000 AS DECIMAL(38,0))"
                " - pmod(CAST(__s * 1000000 AS DECIMAL(38,0)),"
                "        CAST(__c AS DECIMAL(38,0))))"
                " / CAST(__c AS DECIMAL(38,0)) AS DECIMAL(20,0))"
            ).alias("vm"),  # exact micro-units, integral
        )
    )
    last = b.groupBy("k").agg(F.max("t").alias("__T"))
    holdout = (
        b.join(last, "k")
        .filter(F.col("t") > F.col("__T") - p)
        .select("k", "t", F.col("vm").alias("__y"))
    )
    src = b.select("k", (F.col("t") + p).alias("t"),
                   F.col("vm").alias("__f"))
    scored = holdout.join(src, ["k", "t"], "left")
    err = F.abs(F.col("__y") - F.col("__f"))
    agg = scored.groupBy(F.col("k").alias(key_col)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_holdout"),
        F.count("__f").cast("bigint").alias("n_scored"),
        F.sum(err).cast("decimal(38,0)").alias("__ae"),
        F.sum(
            F.when(
                F.col("__f").isNotNull(),
                F.abs(F.col("__y")) + F.abs(F.col("__f")),
            )
        ).cast("decimal(38,0)").alias("__den"),
    )
    mae = F.expr(
        "CAST((__ae - pmod(__ae, CAST(n_scored AS DECIMAL(38,0))))"
        " / CAST(n_scored AS DECIMAL(38,0)) AS BIGINT)"
    )
    smape = F.expr(
        "CAST((__ae * 1000000 - pmod(__ae * 1000000, __den))"
        " / __den AS BIGINT)"
    )
    return agg.select(
        key_col,
        "n_holdout",
        "n_scored",
        F.when(F.col("n_scored") > 0, mae).alias("mae_micros"),
        F.when(F.col("__den") > 0, smape).alias("smape_ppm"),
    )


def forecast_backtest_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    period: int = 24,
    bucket_seconds: int = 3600,
) -> str:
    """DuckDB oracle of :func:`forecast_backtest` — identical micro
    bucket means, one-period-back lookup join, pmod-floored finishes."""
    bus = int(bucket_seconds) * 1_000_000
    p = int(period)
    num = "CAST(SUM(x) * 1000000 AS HUGEINT)"
    cnt = "CAST(COUNT(*) AS HUGEINT)"
    vm = (
        f"({num} - ((({num} % {cnt}) + {cnt}) % {cnt})) // {cnt}"
    )
    return f"""
    WITH b AS (
      SELECT k, t, {vm} AS vm
      FROM (
        SELECT {key_col} AS k,
               epoch_us({ts_col}) // {bus} AS t,
               CAST({value_col} AS DECIMAL(18,6)) AS x
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
          AND {value_col} IS NOT NULL
      ) GROUP BY k, t
    ),
    last AS (SELECT k, MAX(t) AS t_max FROM b GROUP BY k),
    holdout AS (
      SELECT b.k, b.t, b.vm AS y
      FROM b JOIN last ON b.k = last.k
      WHERE b.t > last.t_max - {p}
    ),
    scored AS (
      SELECT h.k, h.t, h.y, s.vm AS f
      FROM holdout h
      LEFT JOIN b s ON h.k = s.k AND h.t = s.t + {p}
    ),
    agg AS (
      SELECT k, COUNT(*) AS n_holdout, COUNT(f) AS n_scored,
             COALESCE(SUM(ABS(y - f)), 0) AS ae,
             COALESCE(SUM(CASE WHEN f IS NOT NULL
                          THEN ABS(y) + ABS(f) END), 0) AS den
      FROM scored GROUP BY k
    )
    SELECT k AS {key_col},
           CAST(n_holdout AS BIGINT) AS n_holdout,
           CAST(n_scored AS BIGINT) AS n_scored,
           CASE WHEN n_scored > 0 THEN CAST(
             (ae - (((ae % n_scored) + n_scored) % n_scored)) // n_scored
             AS BIGINT) END AS mae_micros,
           CASE WHEN den > 0 THEN CAST(
             (ae * 1000000 - (((ae * 1000000 % den) + den) % den)) // den
             AS BIGINT) END AS smape_ppm
    FROM agg
    """


def seasonal_decompose_mult(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    period: int = 24,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """MULTIPLICATIVE seasonal decomposition per key —
    :func:`seasonal_decompose`'s sibling for series whose seasonal
    swing scales with the level (traffic that doubles doubles its
    daily amplitude too): ``value ≈ trend · seasonal · remainder``
    with seasonal an INDEX around 1 (ppm). One row per (key, bucket):
    ``(key, t, value, trend, seasonal_ppm, remainder_ppm)``.

    Same bucket means and completeness-guarded centered-MA trend as
    the additive form (shared :func:`_sd_bucket_trend` — the trend
    definitions cannot drift apart); then everything is EXACT integer
    ratio arithmetic, the natural home for a multiplicative model:

    - detrended ratio ``r_ppm = v_micro·10⁶ div trend_micro`` (only
      where trend > 0 — ratios against a non-positive trend are
      meaningless and yield NULL downstream),
    - per-slot seasonal index = floored mean of r_ppm, normalized to
      mean 10⁶ across the key's slots (``s·10⁶ div mean``),
    - ``remainder_ppm = v_micro·10¹² div (trend_micro·seasonal_ppm)``.

    Zero IEEE operations anywhere — floored integer divisions only,
    so both engines replay bit-for-bit (each floor understates by
    < 1 ppm; reconstruction error from flooring is ≤ 2 ppm of the
    value, far under any use of a decomposition).

    Scale shape: identical to the additive form — one corpus bucket
    agg, key-partitioned range windows, slots-sized seasonal agg.
    """
    if period < 2:
        raise ValueError(f"seasonal_decompose_mult: period {period} < 2")
    if bucket_seconds <= 0:
        raise ValueError(
            "seasonal_decompose_mult: bucket_seconds must be > 0"
        )
    p = int(period)
    # domain contract: a multiplicative model is undefined for negative
    # values — raise at action time instead of emitting floored-ratio
    # nonsense (the in-plan lazy-guard idiom; zero rows pass through,
    # they just produce zero ratios)
    msg = (
        f"seasonal_decompose_mult: negative {value_col} — the "
        "multiplicative model needs a non-negative series; use "
        "seasonal_decompose (additive) or shift the series"
    )
    guarded = df.filter(
        F.when(
            F.col(value_col) < 0,
            F.raise_error(F.lit(msg)).cast("boolean"),
        ).otherwise(F.lit(True))
    )
    tb = _sd_bucket_trend(
        guarded, key_col, ts_col, value_col, period, bucket_seconds
    )
    # detrended ratio in exact floored ppm: pmod-floor BEFORE dividing
    # (a decimal division would HALF_UP-round at its result scale first,
    # landing next to DuckDB's // on a different integer)
    tb = tb.withColumn(
        "__r",
        F.when(
            F.col("trend").isNotNull() & (F.col("trend") > 0),
            F.expr(
                "CAST(("
                " CAST(CAST(v AS DECIMAL(26,6)) * 1000000 AS DECIMAL(38,0))"
                "   * 1000000"
                " - pmod(CAST(CAST(v AS DECIMAL(26,6)) * 1000000"
                "             AS DECIMAL(38,0)) * 1000000,"
                "        CAST(CAST(trend AS DECIMAL(26,6)) * 1000000"
                "             AS DECIMAL(38,0)))"
                ") / CAST(CAST(trend AS DECIMAL(26,6)) * 1000000"
                "         AS DECIMAL(38,0)) AS DECIMAL(20,0))"
            ),
        ),
    )
    slot = (
        tb.filter(F.col("__r").isNotNull())
        .groupBy("k", F.pmod(F.col("t"), F.lit(p)).alias("__slot"))
        .agg(
            F.expr(
                "CAST((CAST(SUM(__r) AS DECIMAL(38,0))"
                " - pmod(CAST(SUM(__r) AS DECIMAL(38,0)),"
                "        CAST(COUNT(*) AS DECIMAL(38,0))))"
                " / CAST(COUNT(*) AS DECIMAL(38,0)) AS DECIMAL(20,0))"
            ).alias("__sp"),
        )
    )
    norm = slot.groupBy("k").agg(
        F.expr(
            "CAST((CAST(SUM(__sp) AS DECIMAL(38,0))"
            " - pmod(CAST(SUM(__sp) AS DECIMAL(38,0)),"
            "        CAST(COUNT(*) AS DECIMAL(38,0))))"
            " / CAST(COUNT(*) AS DECIMAL(38,0)) AS DECIMAL(20,0))"
        ).alias("__m"),
    )
    seas = slot.join(norm, "k").select(
        "k", "__slot",
        F.expr(
            "CAST((CAST(__sp AS DECIMAL(38,0)) * 1000000"
            " - pmod(CAST(__sp AS DECIMAL(38,0)) * 1000000,"
            "        CAST(__m AS DECIMAL(38,0))))"
            " / CAST(__m AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("seasonal_ppm"),
    )
    out = tb.withColumn(
        "__slot", F.pmod(F.col("t"), F.lit(p))
    ).join(F.broadcast(seas), ["k", "__slot"], "left")
    rem = F.expr(
        "CAST((CAST(CAST(v AS DECIMAL(26,6)) * 1000000 AS DECIMAL(38,0))"
        " * 1000000000000"
        " - pmod(CAST(CAST(v AS DECIMAL(26,6)) * 1000000 AS DECIMAL(38,0))"
        "        * 1000000000000,"
        "        CAST(CAST(trend AS DECIMAL(26,6)) * 1000000"
        "             AS DECIMAL(38,0)) * seasonal_ppm))"
        " / (CAST(CAST(trend AS DECIMAL(26,6)) * 1000000 AS DECIMAL(38,0))"
        "    * seasonal_ppm) AS BIGINT)"
    )
    return out.select(
        F.col("k").alias(key_col),
        F.col("t").cast("bigint"),
        F.col("v").cast("double").alias("value"),
        F.col("trend").cast("double").alias("trend"),
        F.col("seasonal_ppm").cast("bigint"),
        F.when(
            F.col("trend").isNotNull()
            & (F.col("trend") > 0)
            & F.col("seasonal_ppm").isNotNull()
            & (F.col("seasonal_ppm") > 0),
            rem,
        ).alias("remainder_ppm"),
    )


def seasonal_decompose_mult_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    period: int = 24,
    bucket_seconds: int = 3600,
) -> str:
    """DuckDB oracle of :func:`seasonal_decompose_mult` — the additive
    oracle's bucket/trend CTEs plus the identical floored integer
    ratio chain (HUGEINT, manual floor corrections where numerators
    can't go negative are omitted: every numerator here is ≥ 0 — a
    precondition the in-query ``error()`` guard enforces exactly like
    the Spark side's ``raise_error``, so on negative data BOTH engines
    abort instead of the oracle silently emitting truncated ratios)."""
    bus = int(bucket_seconds) * 1_000_000
    p = int(period)
    num = "CAST(SUM(x) * 1000000 AS HUGEINT)"
    cnt = "CAST(COUNT(*) AS HUGEINT)"
    vm = f"({num} - ((({num} % {cnt}) + {cnt}) % {cnt})) // {cnt}"
    if p % 2 == 1:
        h = (p - 1) // 2
        trend = f"""
           CASE WHEN COUNT(*) OVER w = {p} THEN
             CAST(CAST((CAST(SUM(v) OVER w * 1000000 AS HUGEINT)
               - (((CAST(SUM(v) OVER w * 1000000 AS HUGEINT) % {p})
                   + {p}) % {p})) // {p} AS DECIMAL(26,6)) / 1000000
               AS DECIMAL(18,6)) END
        """
        wins = (
            f"WINDOW w AS (PARTITION BY k ORDER BY t"
            f" RANGE BETWEEN {h} PRECEDING AND {h} FOLLOWING)"
        )
    else:
        h = p // 2
        s2 = "(SUM(v) OVER wlo) + (SUM(v) OVER whi)"
        trend = f"""
           CASE WHEN COUNT(*) OVER w = {p + 1} THEN
             CAST(CAST((CAST(({s2}) * 1000000 AS HUGEINT)
               - (((CAST(({s2}) * 1000000 AS HUGEINT) % {2 * p})
                   + {2 * p}) % {2 * p})) // {2 * p} AS DECIMAL(26,6))
               / 1000000 AS DECIMAL(18,6)) END
        """
        wins = (
            f"WINDOW w AS (PARTITION BY k ORDER BY t"
            f" RANGE BETWEEN {h} PRECEDING AND {h} FOLLOWING), "
            f"wlo AS (PARTITION BY k ORDER BY t"
            f" RANGE BETWEEN {h - 1} PRECEDING AND {h} FOLLOWING), "
            f"whi AS (PARTITION BY k ORDER BY t"
            f" RANGE BETWEEN {h} PRECEDING AND {h - 1} FOLLOWING)"
        )
    return f"""
    WITH b AS (
      SELECT k, t,
             CAST(CAST({vm} AS DECIMAL(26,6)) / 1000000 AS DECIMAL(18,6))
               AS v
      FROM (
        SELECT {key_col} AS k,
               epoch_us({ts_col}) // {bus} AS t,
               CASE WHEN {value_col} < 0 THEN
                 error('seasonal_decompose_mult: negative {value_col}'
                       ' - the multiplicative model needs a'
                       ' non-negative series')
               ELSE CAST({value_col} AS DECIMAL(18,6)) END AS x
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
          AND {value_col} IS NOT NULL
      ) GROUP BY k, t
    ),
    tb AS (
      SELECT k, t, v, {trend} AS trend
      FROM b {wins}
    ),
    tr AS (
      SELECT *,
             CASE WHEN trend IS NOT NULL AND trend > 0 THEN
               (CAST(CAST(v * 1000000 AS HUGEINT) AS HUGEINT) * 1000000)
               // CAST(trend * 1000000 AS HUGEINT)
             END AS r
      FROM tb
    ),
    slot AS (
      SELECT k, t % {p} AS slot,
             SUM(r) // COUNT(*) AS sp
      FROM tr WHERE r IS NOT NULL GROUP BY k, t % {p}
    ),
    norm AS (SELECT k, SUM(sp) // COUNT(*) AS m FROM slot GROUP BY k),
    seas AS (
      SELECT slot.k, slot.slot,
             CAST((sp * 1000000) // m AS BIGINT) AS seasonal_ppm
      FROM slot JOIN norm ON slot.k = norm.k
    )
    SELECT tr.k AS {key_col}, CAST(tr.t AS BIGINT) AS t,
           CAST(v AS DOUBLE) AS value,
           CAST(trend AS DOUBLE) AS trend,
           CAST(seasonal_ppm AS BIGINT) AS seasonal_ppm,
           CASE WHEN trend IS NOT NULL AND trend > 0
                     AND seasonal_ppm IS NOT NULL AND seasonal_ppm > 0
             THEN CAST(
               (CAST(CAST(v * 1000000 AS HUGEINT) AS HUGEINT)
                * 1000000000000)
               // (CAST(trend * 1000000 AS HUGEINT) * seasonal_ppm)
             AS BIGINT) END AS remainder_ppm
    FROM tr
    LEFT JOIN seas ON tr.k = seas.k AND tr.t % {p} = seas.slot
    """


def runs_test(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 3600,
    z_crit: float | None = 1.959964,
) -> DataFrame:
    """Wald–Wolfowitz runs test per key over the bucketed series —
    ``(key, n, n_above, n_below, runs, z, significant?)``: is the
    above/below-mean pattern RANDOM, or does it cluster (trend /
    regime persistence, z < 0: fewer runs than chance) or alternate
    (over-correction, z > 0)? The model-free randomness check next to
    :func:`acf`'s correlation view and durbin_watson's lag-1 readout:

        z = (R − μ) / σ,   μ = 2·n₁·n₀/n + 1,
        σ² = 2·n₁·n₀·(2·n₁·n₀ − n) / (n²·(n − 1))

    Determinism: the series is exact cents bucket SUMS on unique
    bucket indices (the :func:`bollinger_bands` grain — a raw-event
    ordering would be tie-ambiguous); the dichotomy is
    above-the-key-mean via the EXACT integer comparison
    ``v·n > Σv`` (no IEEE mean ever computed — the one subtle trick:
    multiply through by n instead of dividing), with exactly-mean
    buckets counted BELOW (fixed convention, stated not hidden);
    run boundaries come from one lag over the bucket grain, and the
    finish is a single fixed-shape IEEE expression rounded once to
    DECIMAL(18,6). z is NULL when n < 2 or either side is empty.

    Scale shape: one corpus bucket agg, one key-grain totals join
    back (broadcast-sized), one key-partitioned lag window over the
    bucket grain (≤ one row per key-hour), one key agg.
    """
    if bucket_seconds <= 0:
        raise ValueError("runs_test: bucket_seconds must be > 0")
    bus = int(bucket_seconds) * 1_000_000
    b = (
        df.filter(
            F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("k"),
            F.expr(f"unix_micros({ts_col}) div {bus}").alias("t"),
            (F.col(value_col).cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("__x"),
        )
        .groupBy("k", "t")
        .agg(F.sum("__x").alias("__v"))
    )
    return _runs_test_from_buckets(b, key_col, z_crit)


def _runs_test_from_buckets(b, key_col: str, z_crit):
    """Run-count machinery of :func:`runs_test` over a prepared
    ``(k, t, __v cents-sum)`` bucket frame — split out (the
    `_bollinger_from_buckets` discipline) so the streaming-maintained
    bucket-sum store (`streaming/ops.stream_bucket_sums` →
    :func:`runs_test_from_store`) computes the IDENTICAL verdicts from
    incrementally-folded partials."""
    from pybabe_spark.operators._util import lazy_persist

    b = lazy_persist(b)  # totals branch + lag branch
    tot = b.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(F.col("__v").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("__sv"),
    )
    j = b.join(tot, "k").withColumn(
        # v > mean  <=>  v·n > Σv — exact integers, no IEEE mean
        "__up",
        (
            F.col("__v").cast("decimal(38,0)") * F.col("__n")
            > F.col("__sv")
        ).cast("int"),
    )
    w = Window.partitionBy("k").orderBy("t")
    marked = j.withColumn(
        "__brk",
        F.when(
            F.lag("__up").over(w).isNull()
            | (F.lag("__up").over(w) != F.col("__up")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    agg = marked.groupBy("k").agg(
        F.max("__n").alias("n"),
        F.sum("__up").cast("bigint").alias("n_above"),
        (F.max("__n") - F.sum("__up")).cast("bigint").alias("n_below"),
        F.sum("__brk").cast("bigint").alias("runs"),
    )
    from pybabe_spark.operators.sketch import _sdiv

    n1 = F.col("n_above").cast("double")
    n0 = F.col("n_below").cast("double")
    nd = F.col("n").cast("double")
    two = 2.0 * n1 * n0
    mu = two / nd + 1.0
    sigma = F.sqrt(
        _sdiv(two * (two - nd), nd * nd * (nd - 1.0))
    )
    z6 = _sdiv(F.col("runs").cast("double") - mu, sigma).cast(
        "decimal(18,6)"
    )
    okz = (F.col("n") >= 2) & (F.col("n_above") > 0) & (
        F.col("n_below") > 0
    )
    cols = [
        F.col("k").alias(key_col),
        F.col("n").cast("bigint").alias("n"),
        "n_above", "n_below", "runs",
        F.when(okz, z6.cast("double")).alias("z"),
    ]
    if z_crit is not None:
        cols.append(
            F.coalesce(
                F.when(okz, F.abs(z6.cast("double")) > float(z_crit)),
                F.lit(False),
            ).alias("significant")
        )
    return agg.select(*cols)


def runs_test_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 3600,
    z_crit: float | None = 1.959964,
) -> str:
    """DuckDB oracle of :func:`runs_test` — same exact bucket sums,
    integer mean comparison, LAG run boundaries, fixed-shape z."""
    bus = int(bucket_seconds) * 1_000_000
    n1, n0 = "CAST(n_above AS DOUBLE)", "CAST(n_below AS DOUBLE)"
    nd = "CAST(n AS DOUBLE)"
    two = f"(2.0 * {n1} * {n0})"
    mu = f"({two} / {nd} + 1.0)"
    sigma = (
        f"sqrt({two} * ({two} - {nd}) / ({nd} * {nd} * ({nd} - 1.0)))"
    )
    z6 = f"CAST((CAST(runs AS DOUBLE) - {mu}) / {sigma} AS DECIMAL(18,6))"
    okz = "n >= 2 AND n_above > 0 AND n_below > 0"
    sig = (
        f""",
           COALESCE(CASE WHEN {okz} THEN
             abs(CAST({z6} AS DOUBLE)) > {float(z_crit)} END, FALSE)
             AS significant"""
        if z_crit is not None
        else ""
    )
    return f"""
    WITH b AS (
        SELECT {key_col} AS k,
               epoch_us({ts_col}) // {bus} AS t,
               SUM(CAST(CAST({value_col} AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS v
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
          AND {value_col} IS NOT NULL
        GROUP BY k, t
    ),
    tot AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(v AS HUGEINT)) AS sv
        FROM b GROUP BY k
    ),
    marked AS (
        SELECT b.k,
               CASE WHEN CAST(v AS HUGEINT) * n > sv THEN 1 ELSE 0 END
                 AS up,
               CASE WHEN LAG(CASE WHEN CAST(v AS HUGEINT) * n > sv
                                  THEN 1 ELSE 0 END)
                         OVER (PARTITION BY b.k ORDER BY t) IS DISTINCT
                         FROM CASE WHEN CAST(v AS HUGEINT) * n > sv
                                   THEN 1 ELSE 0 END
                    THEN 1 ELSE 0 END AS brk,
               n
        FROM b JOIN tot ON b.k = tot.k
    ),
    agg AS (
        SELECT k, CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(up) AS BIGINT) AS n_above,
               CAST(MAX(n) - SUM(up) AS BIGINT) AS n_below,
               CAST(SUM(brk) AS BIGINT) AS runs
        FROM marked GROUP BY k
    )
    SELECT k AS {key_col}, n, n_above, n_below, runs,
           CASE WHEN {okz} THEN CAST({z6} AS DOUBLE) END AS z
           {sig}
    FROM agg
    """



def runs_test_from_store(
    spark,
    store_path: str,
    key_col: str = "k",
    z_crit: float | None = 1.959964,
) -> DataFrame:
    """Wald–Wolfowitz runs test over a streaming-maintained bucket-sum
    store (`streaming/ops.stream_bucket_sums`): partial cents sums
    reaggregate exactly (bigint addition is associative), then the
    SAME machinery as :func:`runs_test` — the third store-twin family
    (bollinger, acf, runs), proven output-identical to the batch
    operator over the full history."""
    partials = spark.read.parquet(store_path)
    b = partials.groupBy("k", "t").agg(F.sum("__s").alias("__v"))
    if key_col != "k":
        b = b.select(F.col("k").alias("k"), "t", "__v")
    return _runs_test_from_buckets(b, key_col, z_crit)


def bollinger_bands(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window: int = 20,
    k: float = 2.0,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Bollinger bands per key over the bucketed series — one row per
    (key, bucket): ``(key, t, value, mean, upper, lower)`` where mean
    is the trailing ``window``-bucket rolling mean and the bands sit
    ``k`` population standard deviations either side — the classic
    "is this value stretched relative to its own recent volatility"
    envelope (ewma/mad flag LEVEL anomalies; Bollinger prices
    VOLATILITY-relative stretch).

    Determinism, layer by layer: the series is the per-bucket SUM in
    exact bigint CENTS (order-independent — a bucket MEAN would add a
    second division); buckets are unique per key so the RANGE window
    frame ``[t−window+1, t]`` on the bucket INDEX is unambiguous
    under any shuffle (a ROWS frame over raw events would be
    tie-order-dependent). Rolling Σx (bigint-range) and Σx²
    (DECIMAL(38,0) per-term — a cents square passes int64 at ~10¹⁰
    cents per bucket) are exact; mean = ``Σx / (100·n)``, one IEEE
    division of the exact sum, sd = ``sqrt(n·Σx² − (Σx)²) / (100·n)``
    with the variance numerator exact before its single double cast,
    and each band is one fixed-shape expression rounded once to
    DECIMAL(18,6). Bands are NULL until the window is FULL (n =
    window buckets PRESENT in the range — gaps reset the guard, not
    the math) — partial-window bands are the classic chart-library
    bug this contract excludes.

    Scale shape: one corpus bucket agg (map-combinable), one
    key-partitioned range window over the bucket grain (≤ one row per
    key-hour — bounded, never event-volume), zero joins.
    """
    if window < 2:
        raise ValueError(f"bollinger_bands: window {window} must be >= 2")
    if bucket_seconds <= 0:
        raise ValueError("bollinger_bands: bucket_seconds must be > 0")
    bus = int(bucket_seconds) * 1_000_000
    b = (
        df.filter(
            F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("k"),
            F.expr(f"unix_micros({ts_col}) div {bus}").alias("t"),
            (F.col(value_col).cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("__x"),
        )
        .groupBy("k", "t")
        .agg(F.sum("__x").alias("__v"))
    )
    return _bollinger_from_buckets(b, key_col, window, k)


def _bollinger_from_buckets(
    b: DataFrame, key_col: str, window: int, k: float
) -> DataFrame:
    """Band math of :func:`bollinger_bands` over a prepared
    ``(k, t, __v cents-sum)`` bucket frame — split out so the
    streaming-maintained store (`streaming/ops.stream_bucket_sums` →
    :func:`bollinger_from_store`) computes the IDENTICAL bands from
    incrementally-folded partials (bigint cents are associative, so
    partial sums reaggregate to the exact batch sums)."""
    w = int(window)
    kf = float(k)
    wf = (
        Window.partitionBy("k").orderBy("t").rangeBetween(-(w - 1), 0)
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    n = F.count(F.lit(1)).over(wf)
    s = F.sum(dec(F.col("__v"))).over(wf)
    q = F.sum(dec(F.col("__v")) * F.col("__v")).over(wf)
    nd = n.cast("double")
    mean = s.cast("double") / (100.0 * nd)
    var_num = (dec(n) * q - s * s).cast("double")
    sd = F.sqrt(var_num) / (100.0 * nd)
    out = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    full = n == w
    return b.select(
        F.col("k").alias(key_col),
        F.col("t").cast("bigint").alias("t"),
        (F.col("__v").cast("double") / 100.0).alias("value"),
        F.when(full, out(mean)).alias("mean"),
        F.when(full, out(mean + kf * sd)).alias("upper"),
        F.when(full, out(mean - kf * sd)).alias("lower"),
    )


def bollinger_from_store(
    spark,
    store_path: str,
    key_col: str = "k",
    window: int = 20,
    k: float = 2.0,
) -> DataFrame:
    """Bollinger bands over a streaming-maintained bucket-sum store
    (`streaming/ops.stream_bucket_sums`): partial cents sums
    reaggregate exactly (bigint addition is associative), then the
    SAME band math as :func:`bollinger_bands` — proven
    output-identical to the batch operator over the full history (the
    stickiness_from_store twin discipline)."""
    partials = spark.read.parquet(store_path)
    b = partials.groupBy("k", "t").agg(F.sum("__s").alias("__v"))
    return _bollinger_from_buckets(b, key_col, window, k)


def bollinger_bands_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    window: int = 20,
    k: float = 2.0,
    bucket_seconds: int = 3600,
) -> str:
    """DuckDB oracle of :func:`bollinger_bands` — same exact bucket
    sums, RANGE frame on the bucket index, exact variance numerator,
    fixed-shape bands."""
    bus = int(bucket_seconds) * 1_000_000
    w = int(window)
    kf = float(k)
    nd = "CAST(n AS DOUBLE)"
    mean = f"(CAST(s AS DOUBLE) / (100.0 * {nd}))"
    var_num = "CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE)"
    sd = f"(sqrt({var_num}) / (100.0 * {nd}))"
    r6 = lambda e: f"CAST(CAST({e} AS DECIMAL(18,6)) AS DOUBLE)"  # noqa: E731
    return f"""
    WITH b AS (
        SELECT {key_col} AS k,
               epoch_us({ts_col}) // {bus} AS t,
               SUM(CAST(CAST({value_col} AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS v
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
          AND {value_col} IS NOT NULL
        GROUP BY k, t
    ),
    roll AS (
        SELECT k, t, v,
               COUNT(*) OVER wf AS n,
               SUM(CAST(v AS HUGEINT)) OVER wf AS s,
               SUM(CAST(v AS HUGEINT) * v) OVER wf AS q
        FROM b
        WINDOW wf AS (PARTITION BY k ORDER BY t
                      RANGE BETWEEN {w - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT k AS {key_col}, CAST(t AS BIGINT) AS t,
           CAST(v AS DOUBLE) / 100.0 AS value,
           CASE WHEN n = {w} THEN {r6(mean)} END AS mean,
           CASE WHEN n = {w} THEN {r6(f"({mean} + {kf} * {sd})")} END
             AS upper,
           CASE WHEN n = {w} THEN {r6(f"({mean} - {kf} * {sd})")} END
             AS lower
    FROM roll
    """


def mann_kendall(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 86400,
    z_crit: float | None = None,
    max_periods: int = 2048,
) -> DataFrame:
    """Mann–Kendall trend test per key over the PERIOD-SUM series: the
    non-parametric "is this series monotonically drifting" question —
    ``S = Σ_{i<j} sign(x_j − x_i)`` over the per-period exact cents
    sums ordered by period, the tie-corrected variance

        Var(S) = [n(n−1)(2n+5) − Σ_v t_v(t_v−1)(2t_v+5)] / 18

    (t_v = periods sharing value v), and the continuity-corrected
    normal score ``z = (S∓1)/√Var`` (0 when S = 0). The
    distribution-free sibling of :func:`theilsen_slope` (which prices
    the slope MK only signs) and the monotone complement of
    `page_trend`'s replicated-block design. Output per key:
    ``(key, n_periods, s, var_s, z[, trend])`` — ``trend`` ∈
    increasing/decreasing/no_trend when ``z_crit`` is given.

    Exactness: period sums are bigint cents, S and 18·Var(S) are exact
    integers (one conditional sign sum; one tie agg), and z is ONE
    fixed-shape IEEE expression rounded once to DECIMAL(18,6).
    ``var_s`` is emitted as 18·Var's exact integer divided once.

    Scale shape: one map-combinable (key, period) hash agg collapses
    the corpus; the pair join runs on the PERIOD grain only, bounded
    by ``max_periods`` per key (in-plan raise-guard, the kendall_tau_b
    idiom) — n(n−1)/2 ≤ 2M pairs per key at the default, independent
    of corpus size. One tie agg on the same grain, one key-grain
    finish.
    """
    if bucket_seconds <= 0:
        raise ValueError("mann_kendall: bucket_seconds must be positive")
    if max_periods < 2:
        raise ValueError("mann_kendall: max_periods must be >= 2")
    bus = int(bucket_seconds) * 1_000_000
    ok = (
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    )
    grain = (
        df.filter(ok)
        .select(
            F.col(key_col).alias("__k"),
            F.expr(f"unix_micros({ts_col}) div {bus}").alias("__t"),
            (F.col(value_col).cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("__x"),
        )
        .groupBy("__k", "__t")
        .agg(F.sum("__x").alias("__v"))
    )
    return _mann_kendall_from_grain(grain, key_col, z_crit, max_periods)


def _mann_kendall_from_grain(
    grain: DataFrame,
    key_col: str,
    z_crit: "float | None",
    max_periods: int,
) -> DataFrame:
    """S/Var/z machinery of :func:`mann_kendall` over a prepared
    ``(__k, __t, __v)`` period-sum grain — split out (the
    `_bollinger_from_buckets` discipline) so the streaming-maintained
    bucket-sum store (`streaming/ops.stream_bucket_sums` →
    :func:`mann_kendall_from_store`) prices the IDENTICAL trend
    verdicts from incrementally-folded partials."""
    msg = (
        f"mann_kendall: more than max_periods={max_periods} periods in "
        "a key — the exact pair join is bounded by the period grain; "
        "widen bucket_seconds or raise max_periods to confirm"
    )
    grain = (
        grain.withColumn(
            "__cc", F.count(F.lit(1)).over(Window.partitionBy("__k"))
        )
        .filter(
            F.when(
                F.col("__cc") > max_periods,
                F.raise_error(F.lit(msg)).cast("boolean"),
            ).otherwise(F.lit(True))
        )
        .drop("__cc")
    )
    from pybabe_spark.operators._util import lazy_persist

    # the period grain feeds three branches (pair join both sides, tie
    # agg) — pin it, each branch otherwise re-runs the corpus hash agg
    grain = lazy_persist(grain)
    a = grain.select(
        F.col("__k").alias("__ka"),
        F.col("__t").alias("__ta"),
        F.col("__v").alias("__va"),
    )
    b = grain.select(
        F.col("__k").alias("__kb"),
        F.col("__t").alias("__tb"),
        F.col("__v").alias("__vb"),
    )
    s_tab = (
        a.join(
            b,
            (F.col("__ka") == F.col("__kb"))
            & (F.col("__ta") < F.col("__tb")),
        )
        .groupBy(F.col("__ka").alias("__k"))
        .agg(
            F.sum(
                F.when(F.col("__vb") > F.col("__va"), F.lit(1))
                .when(F.col("__vb") < F.col("__va"), F.lit(-1))
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("s")
        )
    )
    ties = (
        grain.groupBy("__k", "__v")
        .agg(F.count(F.lit(1)).alias("__tv"))
        .groupBy("__k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__nv"),
            F.sum(F.col("__tv")).cast("bigint").alias("__n"),
            F.sum(
                F.col("__tv")
                * (F.col("__tv") - 1)
                * (2 * F.col("__tv") + 5)
            )
            .cast("bigint")
            .alias("__tiesum"),
        )
    )
    one = ties.join(s_tab, ties["__k"] == s_tab["__k"]).select(
        ties["__k"], "__n", "__tiesum", "s"
    )
    n = F.col("__n")
    var18 = (
        n * (n - 1) * (2 * n + 5) - F.col("__tiesum")
    ).cast("bigint")
    sd = F.sqrt(var18.cast("double") / 18.0)
    zraw = (
        F.when(F.col("s") > 0, (F.col("s") - 1).cast("double") / sd)
        .when(F.col("s") < 0, (F.col("s") + 1).cast("double") / sd)
        .otherwise(F.lit(0.0))
    )
    out = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    z = F.when((n >= 2) & (var18 > 0), out(zraw))
    cols = [
        F.col("__k").alias(key_col),
        n.alias("n_periods"),
        F.col("s"),
        F.when(n >= 2, out(var18.cast("double") / 18.0)).alias("var_s"),
        z.alias("z"),
    ]
    if z_crit is not None:
        zc = float(z_crit)
        cols.append(
            F.when(z > zc, F.lit("increasing"))
            .when(z < -zc, F.lit("decreasing"))
            .when(z.isNotNull(), F.lit("no_trend"))
            .alias("trend")
        )
    return one.select(*cols)


def mann_kendall_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 86400,
    z_crit: float | None = None,
) -> str:
    """DuckDB oracle of :func:`mann_kendall` — same period cents sums,
    same exact S / 18·Var integers, same once-rounded z."""
    bus = int(bucket_seconds) * 1_000_000
    r6 = lambda e: f"CAST(CAST({e} AS DECIMAL(18,6)) AS DOUBLE)"  # noqa: E731
    sd = "sqrt(CAST(var18 AS DOUBLE) / 18.0)"
    zraw = (
        f"CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / {sd}"
        f" WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / {sd}"
        " ELSE 0.0 END"
    )
    z = f"CASE WHEN n >= 2 AND var18 > 0 THEN {r6(zraw)} END"
    trend = ""
    if z_crit is not None:
        zc = float(z_crit)
        trend = (
            f", CASE WHEN ({z}) > {zc} THEN 'increasing'"
            f" WHEN ({z}) < -{zc} THEN 'decreasing'"
            f" WHEN ({z}) IS NOT NULL THEN 'no_trend' END AS trend"
        )
    return f"""
    WITH grain AS (
        SELECT {key_col} AS k,
               epoch_us({ts_col}) // {bus} AS t,
               SUM(CAST(CAST({value_col} AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS v
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
          AND {value_col} IS NOT NULL
        GROUP BY k, t
    ),
    s_tab AS (
        SELECT a.k, SUM(CASE WHEN b.v > a.v THEN 1
                             WHEN b.v < a.v THEN -1 ELSE 0 END) AS s
        FROM grain a JOIN grain b ON a.k = b.k AND a.t < b.t
        GROUP BY a.k
    ),
    ties AS (
        SELECT k, CAST(SUM(tv) AS BIGINT) AS n,
               CAST(SUM(tv * (tv - 1) * (2 * tv + 5)) AS BIGINT)
                 AS tiesum
        FROM (SELECT k, v, COUNT(*) AS tv FROM grain GROUP BY k, v)
        GROUP BY k
    ),
    one AS (
        SELECT t.k, t.n,
               CAST(t.n * (t.n - 1) * (2 * t.n + 5) - t.tiesum
                    AS BIGINT) AS var18,
               CAST(s.s AS BIGINT) AS s
        FROM ties t JOIN s_tab s ON t.k = s.k
    )
    SELECT k AS {key_col}, n AS n_periods, s,
           CASE WHEN n >= 2
                THEN {r6("CAST(var18 AS DOUBLE) / 18.0")} END AS var_s,
           {z} AS z{trend}
    FROM one
    """



def mann_kendall_from_store(
    spark,
    store_path: str,
    key_col: str = "k",
    z_crit: "float | None" = None,
    max_periods: int = 2048,
) -> DataFrame:
    """Mann–Kendall trend test over a streaming-maintained bucket-sum
    store (`streaming/ops.stream_bucket_sums`): the store's (key,
    bucket) grain IS mann_kendall's period grain, so the partials
    reaggregate exactly and the same machinery prices the identical
    trend verdicts — fourth store-twin family (bollinger, acf, runs,
    trend)."""
    partials = spark.read.parquet(store_path)
    grain = (
        partials.groupBy(
            F.col("k").alias("__k"), F.col("t").alias("__t")
        )
        .agg(F.sum("__s").alias("__v"))
    )
    return _mann_kendall_from_grain(grain, key_col, z_crit, max_periods)


#: Euler–Mascheroni constant — the Gumbel method-of-moments location
#: shift, a shared literal (both engines substitute the same digits)
_EULER_GAMMA = 0.5772156649015329


def gumbel_maxima(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 86400,
    return_period: int = 100,
) -> DataFrame:
    """Gumbel extreme-value fit over per-period block maxima: the
    capacity-planning question — "what peak should we provision for
    once per ``return_period`` periods?" Per key: period maxima of the
    exact cents values, method-of-moments Gumbel parameters

        β = s·√6/π,   μ = x̄ − γ·β      (γ = Euler–Mascheroni)

    and the return level ``μ − β·ln(−ln(1 − 1/T))``. Output
    ``(key, n_blocks, mean_max, sd_max, mu, beta, return_level)``.

    Determinism: block maxima are exact bigint cents (a max agg);
    mean/SD come from exact DECIMAL(38,0) moments (sample variance,
    n−1); each output is ONE fixed-shape IEEE expression over those
    exact integers rounded once to DECIMAL(18,6) — the anova_f
    discipline. All fit columns are NULL when n_blocks < 2 or the
    maxima are constant (s = 0); ``mean_max`` reports for n ≥ 1.

    Scale shape: one map-combinable (key, period) max agg collapses
    the corpus, one key-grain moment agg, fixed-shape finish — two
    shuffles, no window, no join.
    """
    if bucket_seconds <= 0:
        raise ValueError("gumbel_maxima: bucket_seconds must be positive")
    if return_period < 2:
        raise ValueError("gumbel_maxima: return_period must be >= 2")
    bus = int(bucket_seconds) * 1_000_000
    ok = (
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    )
    blocks = (
        df.filter(ok)
        .select(
            F.col(key_col).alias("__k"),
            F.expr(f"unix_micros({ts_col}) div {bus}").alias("__t"),
            (F.col(value_col).cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("__x"),
        )
        .groupBy("__k", "__t")
        .agg(F.max("__x").alias("__m"))
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = blocks.groupBy("__k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d(F.col("__m"))).cast("decimal(38,0)").alias("__s"),
        F.sum(d(F.col("__m")) * F.col("__m"))
        .cast("decimal(38,0)")
        .alias("__q"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("__s").cast("double") / (100.0 * nd)
    var_num = d(
        F.col("n") * F.col("__q") - F.col("__s") * F.col("__s")
    ).cast("double")
    # sample variance over cents, /1e4 back to value units
    sd = F.sqrt(var_num / (nd * (nd - 1.0))) / 100.0
    import math as _math

    beta = sd * _math.sqrt(6.0) / _math.pi
    mu = mean - _EULER_GAMMA * beta
    t = float(int(return_period))
    lvl = mu - beta * _math.log(-_math.log(1.0 - 1.0 / t))
    out = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    fit_ok = (F.col("n") >= 2) & (var_num > 0)
    return agg.select(
        F.col("__k").alias(key_col),
        F.col("n").alias("n_blocks"),
        F.when(F.col("n") >= 1, out(mean)).alias("mean_max"),
        F.when(fit_ok, out(sd)).alias("sd_max"),
        F.when(fit_ok, out(mu)).alias("mu"),
        F.when(fit_ok, out(beta)).alias("beta"),
        F.when(fit_ok, out(lvl)).alias("return_level"),
    )


def gumbel_maxima_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 86400,
    return_period: int = 100,
) -> str:
    """DuckDB oracle of :func:`gumbel_maxima` — same block-max cents,
    same HUGEINT moments, same fixed-shape once-rounded fits."""
    import math as _math

    bus = int(bucket_seconds) * 1_000_000
    t = float(int(return_period))
    lnln = _math.log(-_math.log(1.0 - 1.0 / t))
    r6 = lambda e: f"CAST(CAST({e} AS DECIMAL(18,6)) AS DOUBLE)"  # noqa: E731
    mean = "(CAST(s AS DOUBLE) / (100.0 * CAST(n AS DOUBLE)))"
    var_num = "CAST(n::HUGEINT * q - s * s AS DOUBLE)"
    sd = (
        f"(sqrt({var_num} / (CAST(n AS DOUBLE)"
        " * (CAST(n AS DOUBLE) - 1.0))) / 100.0)"
    )
    beta = f"({sd} * sqrt(6.0) / pi())"
    mu = f"({mean} - {_EULER_GAMMA!r} * {beta})"
    lvl = f"({mu} - {beta} * {lnln!r})"
    fit_ok = f"n >= 2 AND {var_num} > 0"
    return f"""
    WITH blocks AS (
        SELECT {key_col} AS k,
               epoch_us({ts_col}) // {bus} AS t,
               MAX(CAST(CAST({value_col} AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS m
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
          AND {value_col} IS NOT NULL
        GROUP BY k, t
    ),
    agg AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(m AS HUGEINT)) AS s,
               SUM(CAST(m AS HUGEINT) * m) AS q
        FROM blocks GROUP BY k
    )
    SELECT k AS {key_col}, n AS n_blocks,
           CASE WHEN n >= 1 THEN {r6(mean)} END AS mean_max,
           CASE WHEN {fit_ok} THEN {r6(sd)} END AS sd_max,
           CASE WHEN {fit_ok} THEN {r6(mu)} END AS mu,
           CASE WHEN {fit_ok} THEN {r6(beta)} END AS beta,
           CASE WHEN {fit_ok} THEN {r6(lvl)} END AS return_level
    FROM agg
    """


# ---------------------------------------------------------------------------
# Pettitt changepoint test — nonparametric single-changepoint detection
# ---------------------------------------------------------------------------

def pettitt_test(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 86400,
    alpha_ppm: int = 50_000,
) -> DataFrame:
    """Pettitt test per key over the bucketed series — WHERE does the
    level shift, not just whether (:func:`chow_test` needs a
    hypothesized break date; Pettitt FINDS it, rank-based, no
    normality assumed). One row per key:
    ``(key, n, k_stat, change_epoch, p_value, significant)`` —
    ``k_stat = max_t |U_t|`` with ``U_t = Σ_{i≤t} Σ_{j>t}
    sgn(x_j − x_i)``, the epoch-second start of the LAST bucket
    before the most probable change (FIRST argmax on ties — fixed,
    engine-identical tiebreak), and the approximate significance
    ``p = 2·exp(−6K²/(T³+T²))``.

    Determinism: the series is exact cents bucket SUMS on unique
    bucket indices (the :func:`runs_test` grain); sign counts are
    exact integers via the cumulative identity ``U_t = Σ_{s≤t} W_s``,
    ``W_s = #{j: x_j > x_s} − #{j: x_j < x_s}`` (the T²-pair object
    collapses to one within-key sign join); p is ONE fixed-shape IEEE
    expression rounded to DECIMAL(18,6), compared against
    ``alpha_ppm`` AT that rounding (house convention). Keys with
    n < 2 report NULL p and false.

    Scale shape: one corpus bucket agg, then a WITHIN-KEY sign
    self-join on the bucket grain — T² pairs per key where T is
    bounded by span/bucket_seconds (31 for a month of days), the
    documented contract — one key-partitioned cumsum window and one
    key agg. Corpus-scale work is the first agg only.
    """
    if bucket_seconds <= 0:
        raise ValueError("pettitt_test: bucket_seconds must be > 0")
    bus = int(bucket_seconds) * 1_000_000
    b = (
        df.filter(
            F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("k"),
            F.expr(f"unix_micros({ts_col}) div {bus}").alias("t"),
            (F.col(value_col).cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("__x"),
        )
        .groupBy("k", "t")
        .agg(F.sum("__x").alias("__v"))
    )
    return _pettitt_from_buckets(b, key_col, bucket_seconds, alpha_ppm)


def _pettitt_from_buckets(
    b, key_col: str, bucket_seconds: int, alpha_ppm: int
):
    """Pettitt machinery over a prepared ``(k, t, __v)`` bucket frame
    (the `_runs_test_from_buckets` split, so the streaming bucket-sum
    store can feed the identical verdicts)."""
    from pybabe_spark.operators._util import lazy_persist

    b = lazy_persist(b)  # both sides of the sign join
    o = b.select(
        F.col("k"), F.col("t").alias("__tj"), F.col("__v").alias("__vj")
    )
    w_rows = (
        b.join(o, "k")
        .filter(F.col("__tj") != F.col("t"))
        .groupBy("k", "t")
        .agg(
            F.sum(
                F.signum((F.col("__vj") - F.col("__v")).cast("double"))
                .cast("bigint")
            ).alias("__w")
        )
    )
    wc = Window.partitionBy("k").orderBy("t")
    u = w_rows.withColumn("__u", F.sum("__w").over(wc))
    tot = b.groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = (
        u.join(tot, "k")
        # drop t = T: U_T = 0 by construction, and the changepoint
        # domain is 1..T-1
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("k").orderBy(
                    F.abs(F.col("__u")).desc(), F.col("t").asc()
                )
            ),
        )
    )
    top = ranked.filter(F.col("__rn") == 1).select(
        "k",
        "n",
        F.abs(F.col("__u")).cast("bigint").alias("k_stat"),
        (F.col("t") * int(bucket_seconds)).cast("bigint").alias(
            "change_epoch"
        ),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k_stat").cast("double")
    from pybabe_spark.operators.sketch import _sdiv

    p6 = F.least(
        F.lit(1.0),
        2.0
        * F.exp(_sdiv(-6.0 * kd * kd, nd * nd * nd + nd * nd)),
    ).cast("decimal(18,6)")
    okp = F.col("n") >= 2
    p = F.when(okp, p6.cast("double"))
    return top.select(
        F.col("k").alias(key_col),
        "n",
        "k_stat",
        "change_epoch",
        p.alias("p_value"),
        F.coalesce(
            F.when(okp, p6 < F.lit(alpha_ppm).cast("double") / 1e6),
            F.lit(False),
        ).alias("significant"),
    )


def pettitt_test_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 86400,
    alpha_ppm: int = 50_000,
) -> str:
    """DuckDB oracle of :func:`pettitt_test` — same bucket grain, sign
    join, first-argmax tiebreak, once-rounded p."""
    bus = int(bucket_seconds) * 1_000_000
    return f"""
    WITH b AS (
        SELECT {key_col} AS k,
               epoch_us({ts_col}) // {bus} AS t,
               SUM(CAST(CAST({value_col} AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS v
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
          AND {value_col} IS NOT NULL
        GROUP BY 1, 2
    ),
    w AS (
        SELECT b.k, b.t,
               SUM(CAST(sign(CAST(o.v - b.v AS DOUBLE)) AS BIGINT))
                 AS w
        FROM b JOIN b o ON o.k = b.k AND o.t != b.t
        GROUP BY b.k, b.t
    ),
    u AS (
        SELECT k, t,
               SUM(w) OVER (PARTITION BY k ORDER BY t
                            ROWS UNBOUNDED PRECEDING) AS u
        FROM w
    ),
    tot AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY k),
    ranked AS (
        SELECT u.k, tot.n, abs(u.u) AS k_stat,
               u.t * {int(bucket_seconds)} AS change_epoch,
               ROW_NUMBER() OVER (PARTITION BY u.k
                                  ORDER BY abs(u.u) DESC, u.t ASC)
                 AS rn
        FROM u JOIN tot ON tot.k = u.k
    ),
    top AS (
        SELECT k, n, CAST(k_stat AS BIGINT) AS k_stat,
               CAST(change_epoch AS BIGINT) AS change_epoch,
               CAST(LEAST(1.0, 2.0 * exp(
                   (-6.0 * CAST(k_stat AS DOUBLE)
                    * CAST(k_stat AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      * CAST(n AS DOUBLE)
                      + CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                 AS DECIMAL(18,6)) AS p6
        FROM ranked WHERE rn = 1
    )
    SELECT k AS {key_col}, n, k_stat, change_epoch,
           CASE WHEN n >= 2 THEN CAST(p6 AS DOUBLE) END AS p_value,
           COALESCE(CASE WHEN n >= 2
                    THEN p6 < {alpha_ppm} / 1e6 END, FALSE)
             AS significant
    FROM top
    """


# ---------------------------------------------------------------------------
# Holt linear (double-exponential) smoothing — exact dyadic recursion
# ---------------------------------------------------------------------------

def holt_linear(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 86400,
    horizon: int = 3,
    max_buckets: int = 45,
) -> DataFrame:
    """Holt linear-trend (double exponential) smoothing per key over
    the bucketed series — the trend-aware upgrade of
    :func:`ewma_smooth` and the model behind "what does next week
    look like if the current LEVEL and SLOPE persist" (vs
    :func:`snaive_forecast`'s pure seasonality). One row per key:
    ``(key, n, level, trend, forecast_1 … forecast_h)`` — the final
    smoothed level/slope in value units and the h-step-ahead
    forecasts ``level + h·trend``.

    α = β = ½ BY DESIGN (the :func:`ewma_smooth` rationale made
    recursive): with dyadic smoothing weights the entire recursion

        l_t = (y_t + l_{t−1} + b_{t−1})/2,
        b_t = (l_t − l_{t−1} + b_{t−1})/2

    stays EXACT INTEGER when tracked as numerators over 4^t —
    ``Λ_t = 2·4^{t−1}·y_t + 2Λ_{t−1} + 2Β_{t−1}`` (always even) and
    ``Β_t = Λ_t/2 − 2Λ_{t−1} + 2Β_{t−1}`` in DECIMAL(38,0), folded
    sequentially over the sorted bucket array; no float ever enters
    the accumulation, so Spark's fold and DuckDB's recursive CTE are
    digit-identical. Init l₁ = y₁, b₁ = 0 (documented). The
    level/trend/forecast outputs are fixed-shape IEEE divisions of
    exact decimals, rounded once to DECIMAL(18,6). Series are the
    exact cents bucket sums on OBSERVED buckets in order (gaps do not
    decay — the :func:`ewma_smooth` missing-term convention).

    Scale shape: one corpus bucket agg, one per-key sorted
    ``collect_list`` over ≤ ``max_buckets`` bucket rows (in-plan
    raise guard — 4^t must stay inside DECIMAL(38): 45 buckets leaves
    11 digits for cents sums), one fold per key. Corpus-scale work is
    the first agg; the fold is O(T) per key.
    """
    if bucket_seconds <= 0:
        raise ValueError("holt_linear: bucket_seconds must be > 0")
    if not 1 <= horizon <= 12:
        raise ValueError("holt_linear: horizon must be in [1, 12]")
    if not 2 <= max_buckets <= 45:
        raise ValueError("holt_linear: max_buckets must be in [2, 45]")
    bus = int(bucket_seconds) * 1_000_000
    b = (
        df.filter(
            F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("k"),
            F.expr(f"unix_micros({ts_col}) div {bus}").alias("t"),
            (F.col(value_col).cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("__x"),
        )
        .groupBy("k", "t")
        .agg(F.sum("__x").alias("__v"))
    )
    return _holt_from_buckets(b, key_col, horizon, max_buckets)


def _holt_from_buckets(b, key_col: str, horizon: int, max_buckets: int):
    """Holt fold over a prepared ``(k, t, __v)`` bucket frame (the
    `_runs_test_from_buckets` split)."""
    arr = b.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.array_sort(
            F.collect_list(F.struct(F.col("t"), F.col("__v")))
        ).alias("__a"),
    )
    guarded = arr.withColumn(
        "__a",
        F.when(
            F.col("n") > max_buckets,
            F.raise_error(
                F.lit(
                    f"holt_linear: > {max_buckets} buckets — 4^t"
                    " leaves DECIMAL(38); widen bucket_seconds"
                )
            ).cast("array<struct<t:bigint,__v:bigint>>"),
        ).otherwise(F.col("__a")),
    )
    # the state tracks Λ' = Λ/2 (always integral), so the recursion is
    # DIVISION-FREE — Spark's decimal divide would re-scale to (38,6)
    # and shave the integer envelope; this form never divides:
    #   Λ'_t = 4^{t−1}·y_t + 2Λ'_{t−1} + Β_{t−1}
    #   Β_t  = Λ'_t − 4Λ'_{t−1} + 2Β_{t−1}
    d38 = "decimal(38,0)"
    init = F.struct(
        F.lit(0).cast(d38).alias("lamh"),
        F.lit(0).cast(d38).alias("bet"),
        F.lit(0).cast(d38).alias("p"),
    )

    def step(acc, e):
        y = e["__v"].cast(d38)
        first = acc["p"] == 0
        lamh = (
            acc["p"] * y
            + F.lit(2).cast(d38) * acc["lamh"]
            + acc["bet"]
        ).cast(d38)
        bet = (
            lamh
            - F.lit(4).cast(d38) * acc["lamh"]
            + F.lit(2).cast(d38) * acc["bet"]
        ).cast(d38)
        return F.struct(
            F.when(first, (F.lit(2).cast(d38) * y).cast(d38))
            .otherwise(lamh)
            .alias("lamh"),
            F.when(first, F.lit(0).cast(d38)).otherwise(bet).alias(
                "bet"
            ),
            F.when(first, F.lit(4).cast(d38))
            .otherwise((acc["p"] * 4).cast(d38))
            .alias("p"),
        )

    folded = guarded.withColumn(
        "__s", F.aggregate(F.col("__a"), init, step)
    )
    out6 = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    lam = (F.col("__s.lamh") * 2).cast("decimal(38,0)").cast("double")
    bet = F.col("__s.bet").cast("double")
    p = F.col("__s.p").cast("double")
    from pybabe_spark.operators.sketch import _sdiv

    cols = [
        F.col("k").alias(key_col),
        "n",
        out6(_sdiv(lam, p) / 100.0).alias("level"),
        out6(_sdiv(bet, p) / 100.0).alias("trend"),
    ]
    for h in range(1, horizon + 1):
        fh = (
            F.col("__s.lamh") * 2 + F.lit(h).cast(d38) * F.col("__s.bet")
        ).cast("decimal(38,0)").cast("double")
        cols.append(out6(_sdiv(fh, p) / 100.0).alias(f"forecast_{h}"))
    return folded.select(*cols)


def holt_linear_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 86400,
    horizon: int = 3,
) -> str:
    """DuckDB oracle of :func:`holt_linear` — the identical dyadic
    integer recursion as a recursive CTE over HUGEINT numerators,
    same once-rounded finishes."""
    bus = int(bucket_seconds) * 1_000_000
    fcasts = ",\n           ".join(
        f"CAST(CAST(CAST(2 * lamh + {h} * bet AS DOUBLE)"
        f" / CAST(p AS DOUBLE)"
        f" / 100.0 AS DECIMAL(18,6)) AS DOUBLE) AS forecast_{h}"
        for h in range(1, horizon + 1)
    )
    return f"""
    WITH RECURSIVE b AS (
        SELECT {key_col} AS k,
               epoch_us({ts_col}) // {bus} AS t,
               SUM(CAST(CAST({value_col} AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS v
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
          AND {value_col} IS NOT NULL
        GROUP BY 1, 2
    ),
    o AS (
        SELECT k, v,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY t) AS rn,
               COUNT(*) OVER (PARTITION BY k) AS n
        FROM b
    ),
    r AS (
        -- division-free half-numerator recursion (see holt_linear):
        -- lamh = Λ/2, bet = Β, p = 4^t — all exact HUGEINT
        SELECT k, n, rn AS t,
               2::HUGEINT * v AS lamh,
               0::HUGEINT AS bet,
               4::HUGEINT AS p
        FROM o WHERE rn = 1
        UNION ALL
        SELECT o.k, o.n, o.rn,
               r.p * o.v + 2 * r.lamh + r.bet,
               (r.p * o.v + 2 * r.lamh + r.bet)
                 - 4 * r.lamh + 2 * r.bet,
               r.p * 4
        FROM r JOIN o ON o.k = r.k AND o.rn = r.t + 1
    ),
    fin AS (SELECT * FROM r WHERE t = n)
    SELECT k AS {key_col}, CAST(n AS BIGINT) AS n,
           CAST(CAST(CAST(2 * lamh AS DOUBLE) / CAST(p AS DOUBLE)
                / 100.0
                AS DECIMAL(18,6)) AS DOUBLE) AS level,
           CAST(CAST(CAST(bet AS DOUBLE) / CAST(p AS DOUBLE) / 100.0
                AS DECIMAL(18,6)) AS DOUBLE) AS trend,
           {fcasts}
    FROM fin
    """


def pettitt_from_store(
    spark,
    store_path: str,
    key_col: str = "k",
    bucket_seconds: int = 3600,
    alpha_ppm: int = 50_000,
) -> DataFrame:
    """Pettitt changepoint over a streaming-maintained bucket-sum
    store (`streaming/ops.stream_bucket_sums`): partial cents sums
    reaggregate exactly (bigint addition is associative), then the
    SAME machinery as :func:`pettitt_test` — the fifth store-twin
    family (bollinger, acf, runs, mann_kendall, pettitt), proven
    output-identical to the batch operator over the full history.
    ``bucket_seconds`` must match the stream's bucketing (it scales
    the reported ``change_epoch``)."""
    partials = spark.read.parquet(store_path)
    b = partials.groupBy("k", "t").agg(F.sum("__s").alias("__v"))
    return _pettitt_from_buckets(b, key_col, bucket_seconds, alpha_ppm)


def holt_from_store(
    spark,
    store_path: str,
    key_col: str = "k",
    horizon: int = 3,
    max_buckets: int = 45,
) -> DataFrame:
    """Holt linear smoothing over the bucket-sum store — the sixth
    store-twin family: the store's (key, bucket) grain IS the
    operator's series grain, so the exact dyadic fold reproduces the
    batch ``level``/``trend``/forecasts digit-for-digit."""
    partials = spark.read.parquet(store_path)
    b = partials.groupBy("k", "t").agg(F.sum("__s").alias("__v"))
    return _holt_from_buckets(b, key_col, horizon, max_buckets)


# ---------------------------------------------------------------------------
# Maximum drawdown — worst peak-to-trough fall of the cumulative series
# ---------------------------------------------------------------------------

def max_drawdown(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Maximum drawdown per key of the CUMULATIVE value curve — the
    worst peak-to-trough fall, the risk number a running-total view
    (:func:`~pybabe_spark.operators.window`-style) never surfaces:
    two series can end at the same total with one having cratered
    mid-month. One row per key:

    ``(key, n, final, peak, max_drawdown, trough_epoch)``

    — the curve's final level, its running peak, the deepest
    ``peak − curve`` gap, and the epoch-second start of the FIRST
    bucket attaining it (min-t tiebreak, stated).

    Determinism: the curve is the running sum of exact cents bucket
    SUMS (the :func:`runs_test` grain), the running peak a cumulative
    max — all integers; the outputs divide by 100 once (exact 2-dp
    doubles). A value column that is already a level (not a delta)
    should be pre-differenced upstream — the cumulative-of-deltas
    contract is stated, not guessed.

    Scale shape: one corpus bucket agg, one key-partitioned ordered
    window (two running aggregates in one pass), one key agg with a
    max_by tiebreak. Bucket grain bounded by span/bucket_seconds.
    """
    if bucket_seconds <= 0:
        raise ValueError("max_drawdown: bucket_seconds must be > 0")
    bus = int(bucket_seconds) * 1_000_000
    b = (
        df.filter(
            F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("k"),
            F.expr(f"unix_micros({ts_col}) div {bus}").alias("t"),
            (F.col(value_col).cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("__x"),
        )
        .groupBy("k", "t")
        .agg(F.sum("__x").alias("__v"))
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cur = b.withColumn("__c", F.sum("__v").over(w)).withColumn(
        "__p", F.max("__c").over(w)
    )
    dd = cur.withColumn("__dd", F.col("__p") - F.col("__c"))
    # deterministic argmax: max of (dd, −t) picks the deepest gap and
    # the FIRST bucket attaining it on ties
    best = F.max(
        F.struct(F.col("__dd"), (-F.col("t")).alias("__negt"))
    )
    agg = dd.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("__c").alias("__peakc"),
        F.max_by("__c", "t").alias("__finalc"),
        best.alias("__best"),
    )
    return agg.select(
        F.col("k").alias(key_col),
        "n",
        (F.col("__finalc").cast("double") / 100).alias("final"),
        (F.col("__peakc").cast("double") / 100).alias("peak"),
        (F.col("__best.__dd").cast("double") / 100).alias(
            "max_drawdown"
        ),
        (-F.col("__best.__negt") * int(bucket_seconds))
        .cast("bigint")
        .alias("trough_epoch"),
    )


def max_drawdown_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 86400,
) -> str:
    """DuckDB oracle of :func:`max_drawdown` — same bucket grain,
    running sums/peaks, (dd, −t) argmax tiebreak."""
    bus = int(bucket_seconds) * 1_000_000
    return f"""
    WITH b AS (
        SELECT {key_col} AS k,
               epoch_us({ts_col}) // {bus} AS t,
               SUM(CAST(CAST({value_col} AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS v
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
          AND {value_col} IS NOT NULL
        GROUP BY 1, 2
    ),
    cur AS (
        SELECT k, t,
               SUM(v) OVER (PARTITION BY k ORDER BY t
                            ROWS UNBOUNDED PRECEDING) AS c
        FROM b
    ),
    dd AS (
        SELECT k, t, c,
               MAX(c) OVER (PARTITION BY k ORDER BY t
                            ROWS UNBOUNDED PRECEDING) - c AS dd
        FROM cur
    ),
    agg AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
               MAX(c) AS peakc,
               MAX_BY(c, t) AS finalc,
               MAX(struct_pack(dd := dd, negt := -t)) AS best
        FROM dd GROUP BY k
    )
    SELECT k AS {key_col}, n,
           CAST(finalc AS DOUBLE) / 100 AS final,
           CAST(peakc AS DOUBLE) / 100 AS peak,
           CAST(best.dd AS DOUBLE) / 100 AS max_drawdown,
           CAST(-best.negt * {int(bucket_seconds)} AS BIGINT)
             AS trough_epoch
    FROM agg
    """


# ---------------------------------------------------------------------------
# Dickey–Fuller stationarity test — unit root vs mean reversion
# ---------------------------------------------------------------------------

def dickey_fuller(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 86400,
    tau_crit: float = -2.86,
) -> DataFrame:
    """Dickey–Fuller unit-root test per key over the bucketed series
    (constant, no-trend variant, lag 0 — documented): does the series
    MEAN-REVERT (τ well below 0 ⇒ stationary) or wander (unit root)?
    The decision that says whether :func:`mann_kendall`'s "trend" is a
    drifting random walk or a real level shift, and whether z-score
    anomaly gates on the LEVEL are even meaningful. One row per key:
    ``(key, n, beta, tau, stationary)`` from the regression
    ``Δx_t = α + β·x_{t−1} + ε``:

        τ = β̂ / SE(β̂),  stationary ⟺ τ < tau_crit  (−2.86 ≈ 5%)

    Determinism: the series is exact cents bucket sums; the lag pairs
    come from one ordered window; all five regression moments
    accumulate as exact DECIMAL(38,0); β̂, RSS (via the centered
    identity) and τ are ONE fixed-shape IEEE expression each, rounded
    once to DECIMAL(18,6); ``stationary`` compares the rounded τ.
    NULL τ when n < 4 or a degenerate denominator (constant series).

    Scale shape: one corpus bucket agg, one key-partitioned lag
    window over the bounded bucket grain, one map-combinable key agg.
    """
    if bucket_seconds <= 0:
        raise ValueError("dickey_fuller: bucket_seconds must be > 0")
    bus = int(bucket_seconds) * 1_000_000
    b = (
        df.filter(
            F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("k"),
            F.expr(f"unix_micros({ts_col}) div {bus}").alias("t"),
            (F.col(value_col).cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("__x"),
        )
        .groupBy("k", "t")
        .agg(F.sum("__x").alias("__v"))
    )
    wl = Window.partitionBy("k").orderBy("t")
    pairs = (
        b.withColumn("__z", F.lag("__v").over(wl))
        .filter(F.col("__z").isNotNull())
        .select(
            "k",
            F.col("__z"),
            (F.col("__v") - F.col("__z")).alias("__y"),
        )
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = pairs.groupBy("k").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.sum(d(F.col("__z"))).cast("decimal(38,0)").alias("__sz"),
        F.sum(d(F.col("__y"))).cast("decimal(38,0)").alias("__sy"),
        F.sum(d(F.col("__z")) * F.col("__y"))
        .cast("decimal(38,0)")
        .alias("__szy"),
        F.sum(d(F.col("__z")) * F.col("__z"))
        .cast("decimal(38,0)")
        .alias("__szz"),
        F.sum(d(F.col("__y")) * F.col("__y"))
        .cast("decimal(38,0)")
        .alias("__syy"),
    )
    from pybabe_spark.operators.sketch import _sdiv

    nd = F.col("__n").cast("double")
    szz_c = (
        d(F.col("__n") * F.col("__szz") - F.col("__sz") * F.col("__sz"))
    ).cast("double")
    syy_c = (
        d(F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy"))
    ).cast("double")
    szy_c = (
        d(F.col("__n") * F.col("__szy") - F.col("__sz") * F.col("__sy"))
    ).cast("double")
    beta = _sdiv(szy_c, szz_c)
    # centered identities: szz_c = n·Σ(z−z̄)² and
    # rss_c = syy_c − szy_c²/szz_c = n·RSS, so
    # SE²(β) = (RSS/(n−2))/Σ(z−z̄)² = rss_c/((n−2)·szz_c)
    # (numerically cross-checked against a direct OLS fit)
    rss_c = syy_c - _sdiv(szy_c * szy_c, szz_c)
    tau = _sdiv(
        beta,
        F.sqrt(_sdiv(rss_c, (nd - 2.0) * szz_c)),
    )
    out6 = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    okt = (F.col("__n") >= 3) & (szz_c != 0.0) & (rss_c > 0.0)
    tau6 = F.when(okt, out6(tau))
    return agg.select(
        F.col("k").alias(key_col),
        (F.col("__n").cast("bigint") + 1).alias("n"),
        F.when(szz_c != 0.0, out6(beta)).alias("beta"),
        tau6.alias("tau"),
        F.coalesce(tau6 < float(tau_crit), F.lit(False)).alias(
            "stationary"
        ),
    )


def dickey_fuller_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 86400,
    tau_crit: float = -2.86,
) -> str:
    """DuckDB oracle of :func:`dickey_fuller` — same bucket grain, lag
    pairs, exact moments, fixed-shape β/τ, once-rounded decisions."""
    bus = int(bucket_seconds) * 1_000_000
    r6 = lambda e: f"CAST(CAST({e} AS DECIMAL(18,6)) AS DOUBLE)"  # noqa: E731
    szz = "CAST(n * szz - sz * sz AS DOUBLE)"
    syy = "CAST(n * syy - sy * sy AS DOUBLE)"
    szy = "CAST(n * szy - sz * sy AS DOUBLE)"
    beta = f"(({szy}) / (CASE WHEN ({szz}) != 0.0 THEN ({szz}) END))"
    rss = (
        f"(({syy}) - (({szy}) * ({szy}))"
        f" / (CASE WHEN ({szz}) != 0.0 THEN ({szz}) END))"
    )
    se = (
        f"sqrt(({rss})"
        f" / (CASE WHEN (CAST(n AS DOUBLE) - 2.0) * ({szz}) != 0.0"
        f" THEN (CAST(n AS DOUBLE) - 2.0) * ({szz}) END))"
    )
    tau = f"(({beta}) / (CASE WHEN {se} != 0.0 THEN {se} END))"
    okt = f"n >= 3 AND ({szz}) != 0.0 AND ({rss}) > 0.0"
    tau6 = f"CASE WHEN {okt} THEN {r6(tau)} END"
    return f"""
    WITH b AS (
        SELECT {key_col} AS k,
               epoch_us({ts_col}) // {bus} AS t,
               SUM(CAST(CAST({value_col} AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS v
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
          AND {value_col} IS NOT NULL
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT k, z, v - z AS y
        FROM (
            SELECT k, v,
                   LAG(v) OVER (PARTITION BY k ORDER BY t) AS z
            FROM b
        )
        WHERE z IS NOT NULL
    ),
    agg AS (
        SELECT k, COUNT(*)::HUGEINT AS n,
               SUM(CAST(z AS HUGEINT))::HUGEINT AS sz,
               SUM(CAST(y AS HUGEINT))::HUGEINT AS sy,
               SUM(CAST(z AS HUGEINT) * y)::HUGEINT AS szy,
               SUM(CAST(z AS HUGEINT) * z)::HUGEINT AS szz,
               SUM(CAST(y AS HUGEINT) * y)::HUGEINT AS syy
        FROM pairs GROUP BY k
    )
    SELECT k AS {key_col},
           CAST(n AS BIGINT) + 1 AS n,
           CASE WHEN ({szz}) != 0.0 THEN {r6(beta)} END AS beta,
           {tau6} AS tau,
           COALESCE(({tau6}) < {float(tau_crit)}, FALSE) AS stationary
    FROM agg
    """


# ---------------------------------------------------------------------------
# Granger causality (lag 1) — does x's past improve y's forecast?
# ---------------------------------------------------------------------------

def granger_causality(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    x_col: str,
    y_col: str,
    bucket_seconds: int = 86400,
    f_crit: float = 4.21,
) -> DataFrame:
    """Granger causality test per key at lag 1: does yesterday's
    ``x`` improve today's ``y`` forecast beyond yesterday's ``y``
    alone? The directional upgrade of :func:`ccf`'s symmetric
    correlation — "click volume LEADS purchase revenue" is an
    actionable claim; "they correlate" is not. One row per key:
    ``(key, n, f_stat, b_x, causal)`` comparing

        restricted:    y_t = a + b·y_{t−1}
        unrestricted:  y_t = a + b·y_{t−1} + c·x_{t−1}

        F = (RSS_r − RSS_u)·(n−3) / RSS_u   vs   f_crit (F(1, n−3))

    Determinism: both series are exact cents bucket sums on the
    shared (key, bucket) grain (a bucket missing either series drops
    — the complete-pairs contract, stated); one lag window yields the
    regressor pair; the five centered second-moment identities
    accumulate as exact DECIMAL(38,0) (n-scaled — the scale cancels
    in F); the two-regressor solve, both RSS and F are fixed-shape
    IEEE expressions rounded once to DECIMAL(18,6); ``causal``
    compares the rounded F. NULL F when n < 5 or a degenerate
    moment matrix (D ≤ 0 or RSS_u ≤ 0); ``b_x`` is the unrestricted
    x-coefficient (sign = direction of the lead).

    Scale shape: one corpus bucket agg (two conditional sums), one
    key-partitioned lag window over the bounded bucket grain, one
    map-combinable key agg. The 100 TB work is the first agg.
    """
    if bucket_seconds <= 0:
        raise ValueError("granger_causality: bucket_seconds must be > 0")
    bus = int(bucket_seconds) * 1_000_000
    cents = lambda c: (  # noqa: E731
        (F.col(c).cast("decimal(18,2)") * 100).cast("bigint")
    )
    b = (
        df.filter(
            F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(x_col).isNotNull()
            & F.col(y_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("k"),
            F.expr(f"unix_micros({ts_col}) div {bus}").alias("t"),
            cents(x_col).alias("__x"),
            cents(y_col).alias("__y"),
        )
        .groupBy("k", "t")
        .agg(
            F.sum("__x").alias("__xs"), F.sum("__y").alias("__ys")
        )
    )
    wl = Window.partitionBy("k").orderBy("t")
    p = (
        b.withColumn("__u", F.lag("__ys").over(wl))
        .withColumn("__v", F.lag("__xs").over(wl))
        .filter(F.col("__u").isNotNull())
        .select("k", F.col("__ys").alias("__w"), "__u", "__v")
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = p.groupBy("k").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        *[
            F.sum(d(F.col(a))).cast("decimal(38,0)").alias(f"__s{a[2]}")
            for a in ("__u", "__v", "__w")
        ],
        *[
            F.sum(d(F.col(a)) * F.col(bcol))
            .cast("decimal(38,0)")
            .alias(f"__s{a[2]}{bcol[2]}")
            for a, bcol in [
                ("__u", "__u"),
                ("__v", "__v"),
                ("__w", "__w"),
                ("__u", "__v"),
                ("__u", "__w"),
                ("__v", "__w"),
            ]
        ],
    )
    from pybabe_spark.operators.sketch import _sdiv

    nn = F.col("__n")
    cmom = lambda sab, sa, sb: (  # noqa: E731
        d(nn * F.col(sab) - F.col(sa) * F.col(sb)).cast("double")
    )
    suu = cmom("__suu", "__su", "__su")
    svv = cmom("__svv", "__sv", "__sv")
    sww = cmom("__sww", "__sw", "__sw")
    suv = cmom("__suv", "__su", "__sv")
    suw = cmom("__suw", "__su", "__sw")
    svw = cmom("__svw", "__sv", "__sw")
    det = suu * svv - suv * suv
    b_u = _sdiv(svv * suw - suv * svw, det)
    b_v = _sdiv(suu * svw - suv * suw, det)
    rss_u = sww - (b_u * suw + b_v * svw)
    rss_r = sww - _sdiv(suw * suw, suu)
    nd = nn.cast("double")
    f_raw = _sdiv((rss_r - rss_u) * (nd - 3.0), rss_u)
    out6 = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    okf = (
        (nn >= 4)
        & (det > 0.0)
        & (rss_u > 0.0)
        & (suu != 0.0)
    )
    f6 = F.when(okf, out6(f_raw))
    return agg.select(
        F.col("k").alias(key_col),
        (nn.cast("bigint") + 1).alias("n"),
        f6.alias("f_stat"),
        F.when(okf, out6(b_v)).alias("b_x"),
        F.coalesce(f6 > float(f_crit), F.lit(False)).alias("causal"),
    )


def granger_causality_sql(
    table: str,
    key_col: str,
    ts_col: str,
    x_col: str,
    y_col: str,
    bucket_seconds: int = 86400,
    f_crit: float = 4.21,
) -> str:
    """DuckDB oracle of :func:`granger_causality` — same shared
    bucket grain, lag pairs, exact n-scaled moments, fixed-shape
    two-regressor solve and F."""
    bus = int(bucket_seconds) * 1_000_000
    cents = lambda c: (  # noqa: E731
        f"CAST(CAST({c} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    )
    r6 = lambda e: f"CAST(CAST({e} AS DECIMAL(18,6)) AS DOUBLE)"  # noqa: E731
    cm = lambda sab, sa, sb: (  # noqa: E731
        f"CAST(n * {sab} - {sa} * {sb} AS DOUBLE)"
    )
    suu, svv, sww = cm("suu", "su", "su"), cm("svv", "sv", "sv"), cm(
        "sww", "sw", "sw"
    )
    suv, suw, svw = cm("suv", "su", "sv"), cm("suw", "su", "sw"), cm(
        "svw", "sv", "sw"
    )
    det = f"(({suu}) * ({svv}) - ({suv}) * ({suv}))"
    g = lambda e: f"(CASE WHEN {e} != 0.0 THEN {e} END)"  # noqa: E731
    b_u = f"((({svv}) * ({suw}) - ({suv}) * ({svw})) / {g(det)})"
    b_v = f"((({suu}) * ({svw}) - ({suv}) * ({suw})) / {g(det)})"
    rss_u = f"(({sww}) - (({b_u}) * ({suw}) + ({b_v}) * ({svw})))"
    rss_r = f"(({sww}) - (({suw}) * ({suw})) / {g(suu)})"
    f_raw = (
        f"(((({rss_r}) - ({rss_u})) * (CAST(n AS DOUBLE) - 3.0))"
        f" / {g(rss_u)})"
    )
    okf = (
        f"n >= 4 AND ({det}) > 0.0 AND ({rss_u}) > 0.0"
        f" AND ({suu}) != 0.0"
    )
    f6 = f"CASE WHEN {okf} THEN {r6(f_raw)} END"
    return f"""
    WITH b AS (
        SELECT {key_col} AS k,
               epoch_us({ts_col}) // {bus} AS t,
               SUM({cents(x_col)}) AS xs,
               SUM({cents(y_col)}) AS ys
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
          AND {x_col} IS NOT NULL AND {y_col} IS NOT NULL
        GROUP BY 1, 2
    ),
    p AS (
        SELECT k, ys AS w, u, v
        FROM (
            SELECT k, ys,
                   LAG(ys) OVER (PARTITION BY k ORDER BY t) AS u,
                   LAG(xs) OVER (PARTITION BY k ORDER BY t) AS v
            FROM b
        )
        WHERE u IS NOT NULL
    ),
    agg AS (
        SELECT k, COUNT(*)::HUGEINT AS n,
               SUM(CAST(u AS HUGEINT))::HUGEINT AS su,
               SUM(CAST(v AS HUGEINT))::HUGEINT AS sv,
               SUM(CAST(w AS HUGEINT))::HUGEINT AS sw,
               SUM(CAST(u AS HUGEINT) * u)::HUGEINT AS suu,
               SUM(CAST(v AS HUGEINT) * v)::HUGEINT AS svv,
               SUM(CAST(w AS HUGEINT) * w)::HUGEINT AS sww,
               SUM(CAST(u AS HUGEINT) * v)::HUGEINT AS suv,
               SUM(CAST(u AS HUGEINT) * w)::HUGEINT AS suw,
               SUM(CAST(v AS HUGEINT) * w)::HUGEINT AS svw
        FROM p GROUP BY k
    )
    SELECT k AS {key_col},
           CAST(n AS BIGINT) + 1 AS n,
           {f6} AS f_stat,
           CASE WHEN {okf} THEN {r6(b_v)} END AS b_x,
           COALESCE(({f6}) > {float(f_crit)}, FALSE) AS causal
    FROM agg
    """


# ---------------------------------------------------------------------------
# Turning-points test — local-extrema randomness check
# ---------------------------------------------------------------------------

def turning_points_test(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 86400,
    z_crit: float = 1.959964,
) -> DataFrame:
    """Kendall's turning-points test per key over the bucketed series
    — counts local peaks/troughs against the i.i.d. expectation
    ``E[T] = 2(n−2)/3``, ``Var = (16n−29)/90``. Too FEW turns =
    trend/persistence, too many = alternation/over-correction — the
    third randomness lens next to :func:`runs_test` (level runs) and
    :func:`acf` (linear correlation); turning points see monotone
    nonlinear structure both can miss. One row per key:
    ``(key, n, turning_points, z, significant)``.

    Determinism: exact cents bucket sums on unique bucket indices; a
    bucket is a turning point iff its value is strictly greater than
    both neighbors or strictly less than both (ties break NEITHER way
    — a plateau contributes no turn, the documented convention); the
    count is an exact integer from one lag/lead window, z is one
    fixed-shape IEEE expression rounded once, ``significant``
    compares the rounded z. NULL z when n < 4.

    Scale shape: one corpus bucket agg, one key-partitioned
    lag/lead window over the bounded bucket grain, one map-combinable
    key agg.
    """
    if bucket_seconds <= 0:
        raise ValueError(
            "turning_points_test: bucket_seconds must be > 0"
        )
    bus = int(bucket_seconds) * 1_000_000
    b = (
        df.filter(
            F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("k"),
            F.expr(f"unix_micros({ts_col}) div {bus}").alias("t"),
            (F.col(value_col).cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("__x"),
        )
        .groupBy("k", "t")
        .agg(F.sum("__x").alias("__v"))
    )
    w = Window.partitionBy("k").orderBy("t")
    m = (
        b.withColumn("__pr", F.lag("__v").over(w))
        .withColumn("__nx", F.lead("__v").over(w))
        .withColumn(
            "__turn",
            F.when(
                F.col("__pr").isNotNull()
                & F.col("__nx").isNotNull()
                & (
                    (
                        (F.col("__v") > F.col("__pr"))
                        & (F.col("__v") > F.col("__nx"))
                    )
                    | (
                        (F.col("__v") < F.col("__pr"))
                        & (F.col("__v") < F.col("__nx"))
                    )
                ),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
    )
    agg = m.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__turn").cast("bigint").alias("turning_points"),
    )
    from pybabe_spark.operators.sketch import _sdiv

    nd = F.col("n").cast("double")
    mu = 2.0 * (nd - 2.0) / 3.0
    z6 = _sdiv(
        F.col("turning_points").cast("double") - mu,
        F.sqrt((16.0 * nd - 29.0) / 90.0),
    ).cast("decimal(18,6)")
    okz = F.col("n") >= 4
    z = F.when(okz, z6.cast("double"))
    return agg.select(
        F.col("k").alias(key_col),
        "n",
        "turning_points",
        z.alias("z"),
        F.coalesce(
            F.when(okz, F.abs(z6.cast("double")) > float(z_crit)),
            F.lit(False),
        ).alias("significant"),
    )


def turning_points_test_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 86400,
    z_crit: float = 1.959964,
) -> str:
    """DuckDB oracle of :func:`turning_points_test` — same bucket
    grain, strict-extremum convention, once-rounded z."""
    bus = int(bucket_seconds) * 1_000_000
    z6 = (
        "CAST((CAST(tp AS DOUBLE)"
        " - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0)"
        " / (CASE WHEN sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0)"
        " != 0.0 THEN sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0)"
        " END) AS DECIMAL(18,6))"
    )
    zz = f"CASE WHEN n >= 4 THEN CAST({z6} AS DOUBLE) END"
    return f"""
    WITH b AS (
        SELECT {key_col} AS k,
               epoch_us({ts_col}) // {bus} AS t,
               SUM(CAST(CAST({value_col} AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS v
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
          AND {value_col} IS NOT NULL
        GROUP BY 1, 2
    ),
    m AS (
        SELECT k,
               CASE WHEN pr IS NOT NULL AND nx IS NOT NULL
                     AND ((v > pr AND v > nx) OR (v < pr AND v < nx))
                    THEN 1 ELSE 0 END AS turn
        FROM (
            SELECT k, v,
                   LAG(v) OVER (PARTITION BY k ORDER BY t) AS pr,
                   LEAD(v) OVER (PARTITION BY k ORDER BY t) AS nx
            FROM b
        )
    ),
    agg AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(turn) AS BIGINT) AS tp
        FROM m GROUP BY k
    )
    SELECT k AS {key_col}, n, tp AS turning_points,
           {zz} AS z,
           COALESCE(abs({zz}) > {float(z_crit)}, FALSE) AS significant
    FROM agg
    """
