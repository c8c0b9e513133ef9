"""Small shared helpers for operator implementations."""

from __future__ import annotations

from collections.abc import Iterable
from contextlib import contextmanager


def gen_col(columns: Iterable[str], base: str) -> str:
    """A working-column name guaranteed absent from ``columns``.

    Operators that attach temporary columns (row numbers, flags, group
    keys) must not clobber a user column that legitimately carries the
    same name — suffix until unique instead of assuming ``__``-prefixed
    names are free.
    """
    taken = set(columns)
    name = base
    i = 0
    while name in taken:
        i += 1
        name = f"{base}_{i}"
    return name


def attach_scalars(df, scalars):
    """Attach the columns of a known-1-row DataFrame (global totals,
    vocabulary sizes) to every row of ``df`` — lazily, with no driver
    action: ``crossJoin(broadcast(one_row))``.

    This plans as a BroadcastNestedLoopJoin, which is linear (not
    quadratic) when the build side is one row; plan_lint proves exactly
    that case from the logical plan's ``maxRows`` and does not flag it
    (a grouping-key-free aggregate has ``maxRows = 1``).
    """
    from pyspark.sql import functions as F

    return df.crossJoin(F.broadcast(scalars))


def round6(x):
    """``x`` rounded half-up to 6 dp as Spark's ``CAST(double AS
    DECIMAL(18,6))`` rounds it: from the double's shortest round-trip
    decimal (``repr``), not its exact binary value — ``3.5e-06`` sits
    just below the tie in binary, so ``Decimal(x)`` rounds it to
    0.000003 where Spark gives 0.000004. DuckDB 1.0's cast does not
    round the shortest repr (``71.3278125`` → 71.327812, Spark
    71.327813), so a value that can land on a 6 dp tie must be computed
    exactly in integers on both engines instead."""
    from decimal import ROUND_HALF_UP, Decimal

    return Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP)


def _sql_lit(v, typ: str) -> str:
    """One exactly-round-tripping SQL literal of declared type."""
    if v is None:
        return f"CAST(NULL AS {typ})"
    t = typ.lower()
    if t == "double":
        import math

        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            sign = "-" if v < 0 else ""
            return f"CAST('{sign}Infinity' AS DOUBLE)"
        # repr is the shortest round-tripping decimal; Spark's double
        # parse is correctly rounded, so the bits survive exactly
        return f"{float(v)!r}D"
    if t == "boolean":
        return "true" if v else "false"
    if t in ("int", "integer", "bigint", "long", "smallint", "tinyint"):
        return f"CAST({int(v)} AS {typ})"
    if t == "string":
        esc = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{esc}'"
    if t.startswith("decimal"):
        # exact: v must already be a Decimal/str/int on the target grid
        return f"CAST('{v}' AS {typ})"
    if t.startswith("array<") and t.endswith(">"):
        inner = typ[6:-1]
        if len(v) == 0:
            return f"CAST(ARRAY() AS {typ})"
        return "ARRAY(" + ", ".join(_sql_lit(x, inner) for x in v) + ")"
    raise ValueError(f"local_rows_df: unsupported type {typ!r}")


def local_rows_df(spark, rows, schema: str):
    """A SMALL driver-side row list as a true ``LocalRelation``
    (VALUES literal → LocalTableScan — driver-only, zero scan tasks).

    ``spark.createDataFrame(list)`` parallelizes local data into an
    ``ExistingRDD`` of ``defaultParallelism`` pickled slices, so every
    downstream action on a handful of rows schedules a 32-task wave of
    empty Python tasklets (~0.45 s of local-scheduler floor per
    action; ``coalesce(1)`` is WORSE — the one task walks all 32
    parent python partitions serially, ~4.7 s measured). The VALUES
    form costs ~0.19 s per action and survives any cluster size.

    ``schema`` is a flat DDL string (``"a int, b double, ..."``);
    doubles are rendered with ``repr`` (shortest round-trip — Spark's
    parse is correctly rounded, so bits survive exactly)."""
    # split on top-level commas only — "w decimal(18,6)" is one field;
    # commas inside a backtick-quoted name don't split either
    parts, depth, cur, in_bt = [], 0, [], False
    for ch in schema:
        if ch == "`":
            in_bt = not in_bt
            cur.append(ch)
        elif ch == "," and depth == 0 and not in_bt:
            parts.append("".join(cur))
            cur = []
        else:
            if not in_bt:
                depth += ch == "("
                depth -= ch == ")"
            cur.append(ch)
    parts.append("".join(cur))

    def _split_field(f: str):
        f = f.strip()
        if f.startswith("`"):
            # backtick-quoted name (may contain spaces/commas —
            # transpose columns are data values; `` escapes a backtick)
            i = 1
            while i < len(f):
                if f[i] == "`":
                    if i + 1 < len(f) and f[i + 1] == "`":
                        i += 2
                        continue
                    break
                i += 1
            return [f[: i + 1], f[i + 1:].strip()]
        return f.split(" ", 1)

    fields = [_split_field(f) for f in parts]
    names = [n for n, _t in fields]
    types = [t for _n, t in fields]
    if not rows:
        cols = ", ".join(
            f"CAST(NULL AS {t}) AS {n}" for n, t in zip(names, types)
        )
        return spark.sql(f"SELECT {cols} WHERE 1=0")
    tuples = ", ".join(
        "(" + ", ".join(_sql_lit(v, t) for v, t in zip(r, types)) + ")"
        for r in rows
    )
    cols = ", ".join(names)
    return spark.sql(f"SELECT * FROM VALUES {tuples} AS t({cols})")


def local_or_create_df(spark, rows, schema: str):
    """:func:`local_rows_df` with a ``createDataFrame`` fallback for
    value/type combinations the VALUES renderer does not support —
    callers with a schema that is USUALLY flat/exact (ids, vectors,
    decimal tables) get the LocalRelation fast path without losing
    generality. Besides renderer rejections (ValueError/TypeError),
    parser rejections of awkward-but-legal identifiers (empty or
    otherwise unparseable names raise ParseException from the VALUES
    alias) also fall back."""
    from pyspark.errors import PySparkException

    try:
        return local_rows_df(spark, rows, schema)
    except (ValueError, TypeError, PySparkException):
        return spark.createDataFrame(rows, schema)


#: DataFrames persisted by operators through lazy_persist — a release
#: path for long sessions. Entries are plan handles (tiny driver
#: objects); the cached BLOCKS only materialize when an action runs.
#: :func:`unpersist_tracked` frees the blocks AND drops the handles,
#: after which Spark's ContextCleaner (``spark.cleaner.
#: referenceTracking``, on by default) can reclaim anything the JVM
#: still holds.
_TRACKED_PERSISTS: list = []


def lazy_persist(df):
    """``df.persist()`` with lifecycle tracking.

    The operators' lazy-persist idiom (cache a stage consumed by two+
    downstream branches; no job is triggered at construction) has no
    natural unpersist point — the API is lazy, the caller owns the
    action. Registering the handle here gives sessions that build many
    plans an explicit release valve (:func:`unpersist_tracked`); a
    strong reference is required because the operator-local DataFrame
    dies at function return and a weakref would never survive to the
    cleanup call.

    The rule: use this only for a cache that the RETURNED lazy plan
    reads. An eager finish — bounded actions at construction, then a
    VALUES-literal result — caches through :func:`pinned` instead,
    which releases on return.
    """
    out = df.persist()
    _TRACKED_PERSISTS.append(out)
    return out


@contextmanager
def pinned():
    """Cache scope of an eager finish: ``with pinned() as pin: g =
    pin(df)`` persists ``df`` and returns it; every pinned frame is
    unpersisted when the block exits — on return and on exceptions
    alike. Nothing is registered in the :func:`lazy_persist` tracker,
    so no handle outlives the block."""
    held = []

    def pin(df):
        held.append(df.persist())
        return held[-1]

    try:
        yield pin
    finally:
        for df in held:
            df.unpersist()


def unpersist_tracked() -> int:
    """Unpersist every DataFrame registered by :func:`lazy_persist`
    and drop the tracker's references; returns how many were released.
    Safe to call any time — a stopped session's entries are skipped.
    """
    n = 0
    while _TRACKED_PERSISTS:
        df = _TRACKED_PERSISTS.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n
