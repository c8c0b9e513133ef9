"""Lenient datetime parsing + timezone conversion + type detection.

Reference: pybabe/timeparse.py (multi-format lenient parse with
``/-,`` → space normalization, tz via pytz) and pybabe/types.py:8-49
(``typedetect`` regex inference). Spark-first: a ``coalesce`` ladder of
``try_to_timestamp`` formats — all JVM-side, no Python — and a type
detector built on ``try_cast`` failure counts over a bounded sample.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Format ladder applied after normalizing '/', '-', ',' to spaces —
#: mirrors the reference's accepted set (pybabe/timeparse.py:8-54).
_DATETIME_FORMATS = [
    "yyyy MM dd HH:mm:ss",
    "yyyy MM dd HH:mm",
    "dd MM yyyy HH:mm:ss",
    "dd MM yyyy HH:mm",
    "yyyy MM dd",
    "dd MM yyyy",
    "yyyyMMdd",
]


def lenient_timestamp(col: Column | str) -> Column:
    """Best-effort timestamp from messy strings: normalize separators,
    then first-match across the format ladder (NULL if none match —
    the caller's on_error policy decides what happens to NULLs)."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.trim(c), "[/\\-,]", " ")
    norm = F.regexp_replace(norm, " +", " ")
    attempts = [F.try_to_timestamp(norm, F.lit(fmt)) for fmt in _DATETIME_FORMATS]
    # try_cast catches ISO 'yyyy-MM-ddTHH:mm:ss' style before normalization
    # (plain cast would throw under ANSI mode on unparseable input)
    attempts.append(c.try_cast("timestamp"))
    return F.coalesce(*attempts)


def parse_time(
    df: DataFrame,
    field: str,
    input_timezone: str | None = None,
    output_timezone: str | None = None,
    output_field: str | None = None,
    output_date: str | None = None,
    output_time: str | None = None,
    output_hour: str | None = None,
    on_error: str = "NONE",
) -> DataFrame:
    """Lenient parse of a string field + optional tz convert + derived
    columns (pybabe/timeparse.py:57-98).

    ``input_timezone`` declares the wall-clock zone of the source text;
    ``output_timezone`` is the zone whose wall-clock the outputs should
    show. Implemented as to_utc_timestamp(input_tz) →
    from_utc_timestamp(output_tz), matching pytz localize→astimezone.

    on_error (pybabe/base.py:132-135): FAIL raises on unparseable rows,
    SKIP drops them, NONE/WARN keep NULLs (WARN counts them via observe).
    A genuinely NULL input is NOT an error under any policy (SQL NULL
    semantics, applied uniformly) — a deliberate deviation from the
    reference, whose None-handling was an incidental AttributeError that
    made every policy treat missing values as parse failures
    (timeparse.py:70-97).
    """
    if on_error not in ("FAIL", "SKIP", "NONE", "WARN"):
        raise ValueError(
            f"parse_time: unknown on_error {on_error!r} "
            "(use FAIL / SKIP / NONE / WARN)"
        )
    ts = lenient_timestamp(field)
    if input_timezone:
        ts = F.to_utc_timestamp(ts, input_timezone)
    if output_timezone:
        ts = F.from_utc_timestamp(ts, output_timezone)
    out_field = output_field or field
    if on_error == "FAIL":
        # check against the ORIGINAL column — after withColumn overwrote
        # it (the default out_field == field), a check on `out` would
        # compare the parsed column to itself and never fire
        bad = df.filter(
            F.col(field).isNotNull() & ts.isNull()
        ).limit(1).collect()
        if bad:
            raise ValueError(f"parse_time: unparseable value in {field!r}")
    # the error flag must evaluate against the ORIGINAL column, before
    # withColumn overwrites it in the default out_field == field case
    err = ts.isNull() & F.col(field).isNotNull()
    obs = None
    if on_error == "WARN":
        from pyspark.sql import Observation

        from pybabe_spark.operators._util import gen_col

        ec = gen_col(df.columns, "__parse_err")
        out = df.withColumn(ec, err.cast("long")).withColumn(out_field, ts)
        obs = Observation("parse_time_errors")
        out = out.observe(obs, F.sum(ec).alias("unparseable")).drop(ec)
    elif on_error == "SKIP":
        # drop only rows that FAILED to parse — a genuinely NULL input is
        # not an error (same definition as FAIL/WARN above); the keep flag
        # is computed before withColumn overwrites the original column
        from pybabe_spark.operators._util import gen_col

        kc = gen_col(df.columns, "__parse_keep")
        out = (
            df.withColumn(kc, ~err)
            .withColumn(out_field, ts)
            .filter(F.col(kc))
            .drop(kc)
        )
    else:
        out = df.withColumn(out_field, ts)
    if output_date:
        out = out.withColumn(output_date, F.to_date(F.col(out_field)))
    if output_time:
        # the reference writes the full converted datetime into
        # output_time (timeparse.py:76-78), not a time-of-day string
        if output_time != out_field:
            out = out.withColumn(output_time, F.col(out_field))
    if output_hour:
        out = out.withColumn(output_hour, F.hour(F.col(out_field)))
    if obs is not None:
        # attach LAST: every withColumn above returns a fresh DataFrame
        # that would silently shed the Python-side attribute
        out._pybabe_parse_observation = obs  # type: ignore[attr-defined]
    return out


#: Detection ladder: first type whose try_cast succeeds on every non-null
#: sampled value wins (pybabe/types.py:21-48 regex ladder, relationally).
#: timestamp is tried BEFORE date — Spark's string→date cast accepts full
#: datetimes by truncating the time part, so date-first would silently
#: drop time-of-day from ISO datetimes. The reference likewise tries
#: parse_datetime before parse_date (pybabe/types.py:38-44). A column
#: whose timestamp interpretation is all-midnight is demoted to date.
_DETECT_ORDER = ["bigint", "double", "timestamp", "date"]


#: Regex screens for the types whose failed ``try_cast`` throws. Java
#: regex, applied through the Column API (inside ``F.expr`` the SQL
#: parser turns ``\x00`` into ``x00``); the edge class is what the casts
#: trim.
_CAST_SCREENS = {
    "bigint": r"^[\x00-\x20\x7f]*[+-]?[0-9]+[\x00-\x20\x7f]*$",
    "double": (
        r"(?i)^[\x00-\x20\x7f]*[+-]?(nan|inf|infinity"
        r"|0x[0-9a-f.]*p[+-]?[0-9]+[fd]?|[0-9.]+(e[+-]?[0-9]+)?[fd]?)"
        r"[\x00-\x20\x7f]*$"
    ),
}


def _cast_fails(c: str, t: str) -> Column:
    """``try_cast(trim(c) as t) IS NULL``, with the cast skipped for
    values the type's screen rejects (``Or`` short-circuits)."""
    v = F.trim(F.col(c))
    fails = v.try_cast(t).isNull()
    screen = _CAST_SCREENS.get(t)
    return fails if screen is None else ~v.rlike(screen) | fails


def typedetect(
    df: DataFrame,
    fields: Sequence[str] | None = None,
    sample_rows: int = 100_000,
) -> DataFrame:
    """Infer and apply types for string columns (pybabe/types.py:8-49).

    Pass 1 (one aggregation over a bounded sample): for each candidate
    column and type, count non-null values where try_cast fails. Pass 2:
    cast columns whose failure count is zero to the first matching type.
    Pass 1 runs two Spark jobs under AQE (the sample's limit, then the
    aggregate), independent of column count, and collects one row; pass
    2 is lazy.
    """
    string_cols = [c for c, t in df.dtypes if t == "string"]
    targets = [c for c in (fields or string_cols) if c in string_cols]
    if not targets:
        return df
    # a failed bigint/double try_cast costs a thrown exception per value,
    # so _cast_fails screens values by regex first; a screen may only be
    # looser than the cast, never stricter
    sample = df.select(*targets).limit(sample_rows)
    aggs = []
    for c in targets:
        for t in _DETECT_ORDER:
            aggs.append(
                F.count(
                    F.when(F.col(c).isNotNull() & _cast_fails(c, t), 1)
                ).alias(f"{c}||{t}"),
            )
        aggs.append(F.count(F.col(c)).alias(f"{c}||nonnull"))
        # any value with a real time-of-day component? (timestamp vs date)
        ts = F.trim(F.col(c)).try_cast("timestamp")
        aggs.append(
            F.count(F.when(ts != F.date_trunc("DAY", ts), 1))
            .alias(f"{c}||hastime"),
        )
    stats = sample.agg(*aggs).collect()[0].asDict()

    casts = {}
    for c in targets:
        if stats[f"{c}||nonnull"] == 0:
            continue  # all-null column: leave as string
        for t in _DETECT_ORDER:
            if stats[f"{c}||{t}"] == 0:
                # all-midnight timestamp column whose values also all cast
                # to date is really a date column (reference ladder: bare
                # dates fail parse_datetime and land on parse_date)
                if (
                    t == "timestamp"
                    and stats[f"{c}||hastime"] == 0
                    and stats[f"{c}||date"] == 0
                ):
                    t = "date"
                casts[c] = t
                break
    out = df
    for c, t in casts.items():
        # try_cast, not cast: detection only validated a bounded sample,
        # so an unsampled unparseable value must become NULL (matching
        # the detection semantics) instead of failing the whole job
        # under ANSI mode
        out = out.withColumn(c, F.expr(f"try_cast(trim(`{c}`) as {t})"))
    return out


_DURATION_UNITS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
    "week": 604800, "weeks": 604800,
}


def parse_duration_seconds(s: str) -> int:
    """'<n> <unit>' interval string -> seconds (the one shared parser for
    range_join buckets / streaming gaps, so the unit tables can't drift)."""
    try:
        qty, unit = s.split()
        return int(qty) * _DURATION_UNITS[unit]
    except (ValueError, KeyError) as exc:
        raise ValueError(
            f"bad duration {s!r}; expected '<n> <unit>' with unit one of "
            f"{sorted(set(_DURATION_UNITS))}"
        ) from exc
