"""Reshaping: pivot / unpivot / transpose.

Reference: pybabe/pivot.py (wide pivot with ``f-v`` column naming and
first-seen value order), pybabe/unpivot.py (melt), pybabe/transform.py:
400-448 (transpose — inherently driver-local).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pybabe_spark.sources.io import INGEST_ID


def pivot(
    df: DataFrame,
    pivot_col: str,
    group: Sequence[str],
    values: Sequence | None = None,
    max_values: int = 10_000,
    agg: str = "last",
) -> DataFrame:
    """Wide pivot (pybabe/pivot.py:49-85).

    Output: one column ``{field}-{value}`` per (non-group, non-pivot field
    × pivot value); cell = value from the **last** row of that
    (group, pivot-value) pair (pivot.py:82 overwrites) → ``last(field)``
    aggregate. Column order follows first-seen pivot-value order when the
    ingest id is present, else sorted order (deterministic both ways).

    Two-pass by necessity (like the reference, which buffers everything):
    pass 1 collects the distinct pivot values — bounded by ``max_values``
    so a high-cardinality pivot fails fast instead of OOMing the driver
    (SURVEY §7.3); pass 2 is a single shuffle-pivot with explicit values,
    which Spark executes as one aggregation (no per-value scans).
    """
    other = [
        c for c in df.columns if c not in group and c != pivot_col and c != INGEST_ID
    ]
    if not other:
        raise ValueError(
            "pivot: no value fields — every column is either a group or "
            "the pivot column; for an occurrence matrix add a literal "
            "count column first (withColumn('n', lit(1)))"
        )
    if values is None:
        if INGEST_ID in df.columns:
            ordered = (
                df.groupBy(pivot_col)
                .agg(F.min(INGEST_ID).alias("__first_seen"))
                .orderBy("__first_seen")
                .select(pivot_col)
                .limit(max_values + 1)
                .collect()
            )
        else:
            ordered = (
                df.select(pivot_col).distinct().orderBy(pivot_col)
                .limit(max_values + 1)
                .collect()
            )
        values = [r[0] for r in ordered]
        if len(values) > max_values:
            raise ValueError(
                f"pivot: >{max_values} distinct values in {pivot_col}; "
                "pass values= explicitly"
            )

    if agg == "last":
        order_col = INGEST_ID if INGEST_ID in df.columns else None
        if order_col is not None:
            # last row per (group, pivot value) under ingest order — use
            # max_by so `last` is deterministic, not partition-order dependent
            aggs = [F.max_by(f, F.col(order_col)).alias(f) for f in other]
        else:
            aggs = [F.last(f, ignorenulls=False).alias(f) for f in other]
    else:
        # deterministic named aggregate (max/min/sum/avg/count/first...)
        aggs = [getattr(F, agg)(f).alias(f) for f in other]

    wide = df.groupBy(*group).pivot(pivot_col, list(values)).agg(*aggs)

    # Spark names multi-agg pivot columns "{value}_{field}"; rename to the
    # reference's "{field}-{value}" (pybabe/pivot.py:44-47), preserving
    # field-major then value order.
    def _spark_name(v) -> str:
        # Spark names the pivoted column from the JVM value's toString:
        # NULL → "null", booleans lowercase — NOT Python's str()
        if v is None:
            return "null"
        if isinstance(v, bool):
            return str(v).lower()
        return str(v)

    if len(other) == 1:
        # single agg → spark names columns just "{value}"
        renames = {_spark_name(v): f"{other[0]}-{v}" for v in values}
    else:
        renames = {
            f"{_spark_name(v)}_{f}": f"{f}-{v}" for v in values for f in other
        }
    wide = wide.withColumnsRenamed(renames)
    # value-major column order, matching the reference golden exactly
    # (pivot_tests.py:16-19: a,b,d-0,e-0,d-1,e-1 — all fields per value)
    ordered_cols = list(group) + [f"{f}-{v}" for v in values for f in other]
    return wide.select(*[c for c in ordered_cols if c in wide.columns])


def unpivot(
    df: DataFrame,
    common_fields: Sequence[str],
    unpivot_name_field: str = "name",
    unpivot_value_field: str = "value",
) -> DataFrame:
    """Melt (pybabe/unpivot.py:5-23) → native df.unpivot (zero shuffle)."""
    ids = list(common_fields)
    value_cols = [c for c in df.columns if c not in ids and c != INGEST_ID]
    return df.unpivot(ids, value_cols, unpivot_name_field, unpivot_value_field)


def transpose(df: DataFrame, row_limit: int = 10_000) -> DataFrame:
    """Full matrix transpose (pybabe/transform.py:400-448).

    Inherently driver-local (the reference buffers the whole stream);
    guarded by row_limit. Column names come from the first column's values
    — the reference used primary key or line number (transform.py:441-443).

    Cells are stringified SPARK-side (``cast('string')``) before the
    collect: NULLs stay NULL (not the text 'None'/'nan'), and integers
    never pick up pandas' NaN-induced float repr ('1.0' for 1).
    """
    sel = [
        F.col(c).cast("string").alias(c) for c in df.columns if c != INGEST_ID
    ]
    if INGEST_ID in df.columns:
        sel.append(F.col(INGEST_ID))
    # one job: collect limit+1 rows and check the overflow sentinel
    pdf = df.select(*sel).limit(row_limit + 1).toPandas()
    if len(pdf) > row_limit:
        raise ValueError(f"transpose is driver-side; refusing > {row_limit} rows")
    if INGEST_ID in pdf.columns:
        pdf = pdf.sort_values(INGEST_ID).drop(columns=[INGEST_ID])
    key_col = pdf.columns[0]
    out = pdf.set_index(key_col).T.reset_index(names="field")
    out.columns = ["field"] + [str(c) for c in out.columns[1:]]
    out = out.astype(object).where(out.notna(), None)
    # explicit all-string schema: inference would fail (Arrow off) or
    # produce an unusable void column (Arrow on) for an input row whose
    # cells are all NULL. VALUES-literal LocalRelation — consumer
    # actions skip the ExistingRDD tasklet wave (_util.local_rows_df);
    # the row-limit guard above keeps the literal tiny. Column names are
    # DATA VALUES here: an empty-string key cell makes an empty backtick
    # identifier the VALUES-alias parser rejects (and duplicate key
    # values make duplicate names) — those fall back to createDataFrame
    # with an explicit StructType, which accepts both.
    from pybabe_spark.operators._util import local_rows_df

    rows = [
        tuple(None if v is None else str(v) for v in r)
        for r in out.itertuples(index=False, name=None)
    ]
    names = [str(c) for c in out.columns]
    if all(names) and len(set(names)) == len(names):
        schema = ", ".join(
            "`{}` string".format(c.replace("`", "``")) for c in names
        )
        from pyspark.errors import PySparkException

        try:
            return local_rows_df(df.sparkSession, rows, schema)
        except (ValueError, TypeError, PySparkException):
            pass
    from pyspark.sql.types import StringType, StructField, StructType

    st = StructType([StructField(c, StringType()) for c in names])
    return df.sparkSession.createDataFrame(rows, st)
