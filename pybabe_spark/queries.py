"""Driver-contract query registry: Spark query + DuckDB oracle per operator.

Each entry exercises one operator from SURVEY §2 on the shared testdata
(TESTDATA.md). Conventions that make the hash-compare deterministic:

- **Double aggregation via exact decimal**: ``SUM(double)`` is
  order-dependent in IEEE arithmetic, and Spark/DuckDB sum in different
  orders. Every aggregated double is cast per-value to ``DECIMAL`` (exact,
  associative), summed exactly, then cast back to double — bit-identical
  on both engines. A raw double is never exactly on a decimal rounding
  boundary, so the per-value cast itself is also engine-independent.
- **Pass-through doubles** are left untouched (same parquet bits).
- **Ties** in any top-k are broken by a unique key column.
- Every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

import functools
import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pybabe_spark.operators import (
    dedup,
    filter_by_regexp,
    filter_columns,
    filter_out_null_values,
    filter_rows,
    filter_values,
    group,
    group_all,
    join,
    max_n,
    pivot,
    replace_in_string,
    skip,
    split_rows,
    union_streams,
    unpivot,
    window_map,
)
from pybabe_spark.sources.io import read_table

#: name -> (query_fn, oracle_sql | None)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        if name in REGISTRY:
            # a silent overwrite would REPLACE an existing key's query
            # and oracle under the same name — the driver's gate would
            # quietly verify the wrong thing
            raise ValueError(
                f"register: duplicate registry key {name!r} "
                f"(existing: {REGISTRY[name][0].__module__}."
                f"{REGISTRY[name][0].__name__}, "
                f"new: {fn.__module__}.{fn.__name__})"
            )
        REGISTRY[name] = (fn, sql)
        return fn
    return deco


#: memoized builder -> registry keys that share it, owner first
SESSION_MEMOS: dict[Callable, tuple[str, ...]] = {}


def session_memo(users: tuple[str, ...]):
    """Share one builder ``f(spark, sf_dir)`` across a session's queries.

    The result is computed once per session and data directory and
    reused by every key in ``users`` (owner first: the key whose first
    run pays the fill). Plan fingerprints can't see file CONTENT, so the
    cache is scoped to one session, where the dataset is immutable. It
    is keyed by the SESSION OBJECT through weak references, not by
    id()/app.id strings: an id() can be reused after its session is
    collected, which could hand a stale pinned plan to a NEW session,
    while a weak key's entries vanish with the session. ``sf_dir`` is
    keyed exactly as passed, never resolved, so a fresh link to the
    same data is a miss. Session doubles that cannot be weak-referenced
    build on every call. Each builder still chooses how its result is
    stored (lazy checkpoint, lazy persist, VALUES literals)."""

    def deco(build):
        memo: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

        @functools.wraps(build)
        def cached(spark, sf_dir):
            try:
                per_session = memo.setdefault(spark, {})
            except TypeError:
                return build(spark, sf_dir)
            if sf_dir not in per_session:
                per_session[sf_dir] = build(spark, sf_dir)
            return per_session[sf_dir]

        cached.memo = memo
        SESSION_MEMOS[cached] = tuple(users)
        return cached
    return deco


def memo_groups() -> list[tuple[str, ...]]:
    """Every session memo's ``users`` tuple, owner first."""
    _load_extensions()
    return list(SESSION_MEMOS.values())


def _dec(col, scale: int = 6):
    """Exact-decimal lift of a double column (see module docstring)."""
    return F.col(col).cast(f"decimal(18,{scale})")


def _sumd(col, alias: str, scale: int = 6):
    """SUM(double) with deterministic decimal accumulation → double."""
    return F.sum(_dec(col, scale)).cast("double").alias(alias)


# SQL-side equivalents of the decimal conventions
def _sql_sumd(col: str, alias: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,{scale}))) AS DOUBLE) AS {alias}"


# ---------------------------------------------------------------------------
# Flagship: scan → filter → 3 joins → agg → (ordered) result
# pull/join/group/sort composition, mirrors examples/wordcount.py shape.
# ---------------------------------------------------------------------------

@register(
    "flagship_revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue,
           COUNT(*) AS line_count
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def flagship_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")

    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    # fact-to-fact join shuffles on the key; dims are broadcast
    enriched = (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
    )
    rev = (_dec("l_extendedprice", 2) * (F.lit(1) - _dec("l_discount", 2)))
    return (
        enriched.groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Relational core (SURVEY §2.2, §2.5, §2.7)
# ---------------------------------------------------------------------------

@register(
    "filter_project",
    """
    SELECT l_orderkey, l_partkey, l_extendedprice, l_discount
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_discount > 0.05
    """,
)
def q_filter_project(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    out = filter_rows(li, (F.col("l_returnflag") == "R") & (F.col("l_discount") > 0.05))
    return filter_columns(out, keep_fields=["l_orderkey", "l_partkey", "l_extendedprice", "l_discount"])


@register(
    "filter_values",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'",
)
def q_filter_values(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders")
    out = filter_values(orders, o_orderstatus="F", o_orderpriority="1-URGENT")
    return filter_columns(out, keep_fields=["o_orderkey", "o_custkey", "o_totalprice"])


@register(
    "filter_out_nulls",
    "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_name IS NOT NULL AND c_acctbal IS NOT NULL",
)
def q_filter_out_nulls(spark, sf_dir):
    cust = read_table(spark, sf_dir, "customer")
    out = filter_out_null_values(cust, ["c_name", "c_acctbal"])
    return filter_columns(out, keep_fields=["c_custkey", "c_name", "c_acctbal"])


@register(
    "filter_by_regexp",
    "SELECT p_partkey, p_name, p_type FROM part WHERE regexp_matches(p_type, '^(STANDARD|SMALL).*')",
)
def q_filter_by_regexp(spark, sf_dir):
    part = read_table(spark, sf_dir, "part")
    out = filter_by_regexp(part, "p_type", "(STANDARD|SMALL).*")
    return filter_columns(out, keep_fields=["p_partkey", "p_name", "p_type"])


@register(
    "rename_project",
    "SELECT s_suppkey AS supplier_id, s_name AS supplier_name, s_acctbal AS balance FROM supplier",
)
def q_rename(spark, sf_dir):
    sup = read_table(spark, sf_dir, "supplier")
    return sup.select(
        F.col("s_suppkey").alias("supplier_id"),
        F.col("s_name").alias("supplier_name"),
        F.col("s_acctbal").alias("balance"),
    )


@register(
    "dedup_distinct",
    "SELECT DISTINCT l_returnflag, l_linestatus, l_linenumber FROM lineitem",
)
def q_dedup(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    return dedup(li.select("l_returnflag", "l_linestatus", "l_linenumber"))


@register(
    "skip_rows",
    """
    SELECT event_id, user_id, event_type FROM (
      SELECT event_id, user_id, event_type,
             ROW_NUMBER() OVER (ORDER BY event_id) AS rn
      FROM events
    ) t WHERE rn > 100
    """,
)
def q_skip(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    return skip(ev, 100, order_by="event_id")


@register(
    "topk_orders",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def q_topk(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # max_n with deterministic tie-break: TakeOrderedAndProject, no full sort
    return max_n(orders, "o_totalprice", 10, tie_break="o_orderkey")


@register(
    "union_streams",
    "SELECT r_regionkey, r_name FROM region UNION ALL SELECT r_regionkey, r_name FROM region",
)
def q_union(spark, sf_dir):
    region = read_table(spark, sf_dir, "region")
    return union_streams(region, region)


@register(
    "split_explode",
    """
    SELECT doc_id, unnest(string_split(text, ' ')) AS text
    FROM documents
    """,
)
def q_split(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return split_rows(docs, "text", " ")


@register(
    "replace_in_string",
    "SELECT c_custkey, REPLACE(c_mktsegment, 'MACH', 'mach') AS c_mktsegment FROM customer",
)
def q_replace_in_string(spark, sf_dir):
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return replace_in_string(cust, "MACH", "mach", "c_mktsegment")


# ---------------------------------------------------------------------------
# Join (SURVEY §2.3) — PyBabe 4-mode join
# ---------------------------------------------------------------------------

@register(
    "join_inner_lookup",
    """
    SELECT c.c_custkey, c.c_name, n.n_name
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_nationkey < 10
    """,
)
def q_join_inner(spark, sf_dir):
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 10)
    out = join(
        cust.select("c_custkey", "c_name", "c_nationkey"),
        nation.select("n_nationkey", "n_name"),
        key="c_nationkey",
        join_key="n_nationkey",
        on_error="SKIP",
    )
    return out.select("c_custkey", "c_name", "n_name")


@register(
    "join_left_lookup",
    """
    SELECT c.c_custkey, c.c_name, n.n_name
    FROM customer c
    LEFT JOIN (SELECT * FROM nation WHERE n_nationkey < 10) n
      ON c.c_nationkey = n.n_nationkey
    """,
)
def q_join_left(spark, sf_dir):
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 10)
    out = join(
        cust.select("c_custkey", "c_name", "c_nationkey"),
        nation.select("n_nationkey", "n_name"),
        key="c_nationkey",
        join_key="n_nationkey",
        on_error="NONE",
    )
    return out.select("c_custkey", "c_name", "n_name")


# ---------------------------------------------------------------------------
# Group / aggregate (SURVEY §2.4)
# ---------------------------------------------------------------------------

@register(
    "group_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_sql_sumd('l_quantity', 'sum_qty', 2)},
           {_sql_sumd('l_extendedprice', 'sum_base_price', 2)},
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_group_pricing(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = _dec("l_extendedprice", 2) * (F.lit(1) - _dec("l_discount", 2))
    return group(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": _sumd("l_quantity", "sum_qty", 2),
            "sum_base_price": _sumd("l_extendedprice", "sum_base_price", 2),
            "sum_disc_price": F.sum(disc_price).cast("double"),
            "count_order": F.count(F.lit(1)),
        },
    )


@register(
    "group_all_stats",
    """
    SELECT COUNT(*) AS order_count,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
           COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders
    """,
)
def q_group_all(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders")
    return group_all(
        orders,
        {
            "order_count": F.count(F.lit(1)),
            "total_sales": _sumd("o_totalprice", "total_sales", 2),
            "min_price": F.min("o_totalprice").cast("double"),
            "max_price": F.max("o_totalprice").cast("double"),
            "n_customers": F.count_distinct(F.col("o_custkey")),
        },
    )


# ---------------------------------------------------------------------------
# Reshape (SURVEY §2.4: pivot/unpivot)
# ---------------------------------------------------------------------------

@register(
    "pivot_status",
    """
    SELECT o_orderpriority,
           CAST(MAX(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) AS DOUBLE) AS "o_totalprice-F",
           CAST(MAX(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) AS DOUBLE) AS "o_totalprice-O",
           CAST(MAX(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END) AS DOUBLE) AS "o_totalprice-P"
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_pivot(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus", "o_totalprice"
    )
    return pivot(orders, "o_orderstatus", ["o_orderpriority"],
                 values=["F", "O", "P"], agg="max")


@register(
    "unpivot_melt",
    """
    SELECT c_custkey, 'c_name' AS name, c_name AS value FROM customer
    UNION ALL
    SELECT c_custkey, 'c_mktsegment' AS name, c_mktsegment AS value FROM customer
    """,
)
def q_unpivot(spark, sf_dir):
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return unpivot(cust, ["c_custkey"], "name", "value")


# ---------------------------------------------------------------------------
# Window (SURVEY §2.6)
# ---------------------------------------------------------------------------

@register(
    "window_rolling_sum",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6)))
                OVER (ORDER BY event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS window_value
    FROM events
    """,
)
def q_window_rolling(spark, sf_dir):
    """REFERENCE-PARITY query: the unpartitioned trailing window is the
    reference's single-stream semantics (one total order ⇒ one task) —
    kept for parity on small data, and deliberately a plan you would
    NOT run at 100 TB. The scale-representative twin is
    ``rolling_value_per_user`` (same frame, partitioned per key), which
    is the form ``window_map``'s guard warns you toward on large input.
    """
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    out = window_map(
        ev, 3,
        F.sum(_dec("value", 6)),
        out_col="window_value",
        order_by="event_id",
    )
    return out.select(
        "event_id", "user_id", F.col("window_value").cast("double").alias("window_value")
    )


_PROFILE_NUMERIC = {"o_orderkey", "o_custkey", "o_totalprice"}
_PROFILE_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderpriority",
]


@register(
    "profile_orders",
    " UNION ALL ".join(
        f"""SELECT '{c}' AS "column", COUNT({c}) AS n_nonnull,
            COUNT(DISTINCT {c}) AS n_distinct,
            {f'CAST(MIN({c}) AS DOUBLE)' if c in _PROFILE_NUMERIC else 'CAST(NULL AS DOUBLE)'} AS min_num,
            {f'CAST(MAX({c}) AS DOUBLE)' if c in _PROFILE_NUMERIC else 'CAST(NULL AS DOUBLE)'} AS max_num
            FROM orders"""
        for c in _PROFILE_COLS
    ),
)
def q_profile(spark, sf_dir):
    """One-pass per-column profiling (operators/infra.py::profile):
    non-null / distinct / numeric min-max for every column in a single
    aggregation. ``exact=True`` opts out of the approx-HLL default so
    the result is oracle-checkable against exact SQL; the benched scale
    path is the approx default (see bench's ``profile_orders_approx``)."""
    from pybabe_spark.operators.infra import profile

    orders = read_table(spark, sf_dir, "orders")
    return profile(orders, _PROFILE_COLS, exact=True)


@register(
    "profile_orders_approx",
    " UNION ALL ".join(
        f"""SELECT '{c}' AS "column", COUNT({c}) AS n_nonnull,
            TRUE AS nd_plausible,
            {f'CAST(MIN({c}) AS DOUBLE)' if c in _PROFILE_NUMERIC else 'CAST(NULL AS DOUBLE)'} AS min_num,
            {f'CAST(MAX({c}) AS DOUBLE)' if c in _PROFILE_NUMERIC else 'CAST(NULL AS DOUBLE)'} AS max_num
            FROM orders"""
        for c in _PROFILE_COLS
    ),
)
def q_profile_approx(spark, sf_dir):
    """The DEFAULT (scale-path) profile: HLL approx-distinct, fixed
    sketch memory, no exact-distinct expand — this is the entry whose
    bench time represents what a 100 TB profiling pass costs. The
    sketch value itself is approximate by construction, so the output
    reduces it to a plausibility fact (1 <= approx_nd <= n_nonnull; the
    tight 3-sigma band certification of the same HLL mechanism is
    driver-checked in ``approx_stats_scale``); n_nonnull/min/max remain
    exact-checkable."""
    from pybabe_spark.operators.infra import profile

    orders = read_table(spark, sf_dir, "orders")
    p = profile(orders, _PROFILE_COLS)
    return p.select(
        "column",
        "n_nonnull",
        (
            (F.col("n_distinct") >= F.least(F.lit(1), F.col("n_nonnull")))
            # HLL may OVERestimate a near-unique column; 1.2x = 4x the
            # rsd-0.05 sigma, so the bound holds for any testdata
            & (F.col("n_distinct") <= F.ceil(F.lit(1.2) * F.col("n_nonnull")))
        ).alias("nd_plausible"),
        "min_num",
        "max_num",
    )


@register(
    "primary_key_detect_orders",
    """
    SELECT CASE
      WHEN COUNT(DISTINCT o_orderkey) = COUNT(*) THEN 'o_orderkey'
      WHEN COUNT(DISTINCT o_custkey) = COUNT(*) THEN 'o_custkey'
      WHEN COUNT(DISTINCT o_orderstatus) = COUNT(*) THEN 'o_orderstatus'
      WHEN COUNT(DISTINCT o_totalprice) = COUNT(*) THEN 'o_totalprice'
      WHEN COUNT(DISTINCT o_orderdate) = COUNT(*) THEN 'o_orderdate'
      WHEN COUNT(DISTINCT o_orderpriority) = COUNT(*) THEN 'o_orderpriority'
      ELSE NULL END AS pk
    FROM orders
    """,
)
def q_primary_key_detect(spark, sf_dir):
    """Schema-order first-unique-column detection
    (operators/infra.py::primary_key_detect; reference
    pybabe/types.py:52-87). Approx-HLL prefilter pass + exact confirm
    pass — the oracle re-derives the same answer with exact SQL."""
    from pybabe_spark.operators.infra import primary_key_detect

    from pybabe_spark.operators._util import local_rows_df

    orders = read_table(spark, sf_dir, "orders")
    pk = primary_key_detect(orders)
    return local_rows_df(spark, [(pk,)], "pk string")


# ---------------------------------------------------------------------------
# Driver-sample ordering. The driver checks a 50-query sample that follows
# registration order, so the registry is surfaced stalest-evidence-first:
# keys that have NEVER had a hard driver CORRECTNESS row lead, then keys
# ordered by the round of their most recent green driver row (oldest first).
# This rotates the driver's 50-slot sample to whatever evidence is oldest
# each round. Every key stays covered by the local DuckDB gate
# (tests/test_oracle_parity.py) regardless of sample position.
# ---------------------------------------------------------------------------

#: Fallback for installs without the round files: key -> round of the
#: key's most recent green row in CORRECTNESS_r0{N}.json as of round 5.
#: The live map is derived from the committed CORRECTNESS files at import
#: (see _load_last_driver_green), so the rotation updates itself each
#: round with no hand-maintained bookkeeping.
_LAST_DRIVER_GREEN_FALLBACK = {
    "dedup_keep_first": 2,
    "group_reducer_pandas": 2,
    "head_per_group": 2,
    "insert_rows_union": 2,
    "window_udf_rolling_max": 2,
    "anti_join_customers_no_orders": 3,
    "approx_stats_scale": 3,
    "asof_last_purchase": 3,
    "bottomk_min_n": 3,
    "bulk_map_double_value": 3,
    "cube_year_segment": 3,
    "dedup_distinct": 3,
    "distinct_suppliers_per_nation": 3,
    "filter_by_regexp": 3,
    "filter_in_between": 3,
    "filter_out_nulls": 3,
    "filter_project": 3,
    "filter_values": 3,
    "geoip_country": 3,
    "group_all_stats": 3,
    "group_by_year": 3,
    "grouping_sets_orders": 3,
    "join_inner_lookup": 3,
    "join_left_lookup": 3,
    "json_extract_props": 3,
    "lead_lag_user_events": 3,
    "parse_time_lenient": 3,
    "percentile_price_by_priority": 3,
    "pivot_status": 3,
    "primary_key_detect_orders": 3,
    "profile_orders": 3,
    "q3_unshipped_revenue": 3,
    "q4_semi_join_priority": 3,
    "q5_region_supplier_volume": 3,
    "range_join_error_window": 3,
    "rank_orders_per_customer": 3,
    "ranking_windows_orders": 3,
    "rename_project": 3,
    "replace_in_string": 3,
    "rolling_value_per_user": 3,
    "rollup_year_priority": 3,
    "salted_join_priority_revenue": 3,
    "setop_except": 3,
    "setop_intersect": 3,
    "skip_rows": 3,
    "split_explode": 3,
    "string_agg_suppliers": 3,
    "topk_orders": 3,
    "typedetect_strings": 3,
    "union_streams": 3,
    "unpivot_melt": 3,
    "user_agent_parse": 3,
    "ann_cosine_topk": 4,
    "ann_ivf_topk": 4,
    "ann_lsh_stored_topk": 4,
    "ann_lsh_topk": 4,
    "chunk_documents_docs": 4,
    "decontaminate_docs": 4,
    "dedup_against_seen": 4,
    "dedup_exact_docs": 4,
    "doc_fingerprint": 4,
    "dup_clusters_docs": 4,
    "embedding_neardup": 4,
    "flagship_revenue_by_nation": 4,
    "gopher_quality_rules": 4,
    "group_pricing_summary": 4,
    "hash_sample_orders": 4,
    "heavy_hitters_custkey": 4,
    "interval_join_click_purchase": 4,
    "jaccard_pairs_words": 4,
    "minhash_lsh_pairs": 4,
    "minhash_lsh_shingle3": 4,
    "mix_sources_docs": 4,
    "multimodal_decode_features": 4,
    "multimodal_frame_sample": 4,
    "near_dedup_best_docs": 4,
    "near_dedup_keep_docs": 4,
    "ngram_coverage_docs": 4,
    "pack_tokens_docs": 4,
    "pii_scrub_docs": 4,
    "profile_orders_approx": 4,
    "quantize_embeddings_int8": 4,
    "replace_cell_all_columns": 4,
    "segment_dedup_docs": 4,
    "sessionize_users": 4,
    "simhash_docs": 4,
    "sort_by_balance": 4,
    "stratified_sample_segment": 4,
    "stream_dedup_users": 4,
    "stream_running_totals": 4,
    "stream_sliding_hour": 4,
    "stream_tumbling_hour": 4,
    "text_stats": 4,
    "tfidf_top_terms_docs": 4,
    "throttle_user_events": 4,
    "train_test_split_counts": 4,
    "training_prep_pipeline": 4,
    "transpose_region": 4,
    "upsert_customer_balances": 4,
    "url_parse_events": 4,
    "window_rolling_sum": 4,
    "word_entropy_docs": 4,
}


def _load_last_driver_green() -> dict[str, int]:
    """Round of each key's most recent green driver row, scanned from the
    committed ``CORRECTNESS_r*.json`` files next to the package so the
    stalest-first rotation refreshes itself every round. A row is green
    when rows matched with no error and neither schema nor value hash
    mismatched (keys with a rows-only check have no hash field). Falls
    back to the static round-5 snapshot when no round files are present
    (e.g. the package installed without the repo root)."""
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    out: dict[str, int] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = re.search(r"r(\d+)", path.stem)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue  # malformed round file must not break package import
        for key, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = (
                row.get("rows_match") is True
                and row.get("err") is None
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            if green:
                out[key] = max(out.get(key, 0), rnd)
    return out or dict(_LAST_DRIVER_GREEN_FALLBACK)


_LAST_DRIVER_GREEN = _load_last_driver_green()


def _sample_order(names) -> list[str]:
    """Stalest-evidence-first: never-driver-checked keys lead (registration
    order preserved among ties), then ascending last-green round."""
    names = list(names)
    reg_pos = {k: i for i, k in enumerate(names)}
    return sorted(
        names, key=lambda k: (_LAST_DRIVER_GREEN.get(k, 0), reg_pos[k])
    )


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_extensions()
    return {name: REGISTRY[name][0] for name in _sample_order(list(REGISTRY))}


def all_oracles() -> dict[str, str]:
    _load_extensions()
    return {
        name: REGISTRY[name][1]
        for name in _sample_order(list(REGISTRY))
        if REGISTRY[name][1] is not None
    }


def _load_extensions() -> None:
    """Pull in the extension query modules (registered via @register)."""
    import pybabe_spark.queries_analytics  # noqa: F401
    import pybabe_spark.queries_enrich  # noqa: F401
    import pybabe_spark.queries_ml  # noqa: F401
    import pybabe_spark.queries_multimodal  # noqa: F401
    import pybabe_spark.queries_pipeline  # noqa: F401
    import pybabe_spark.queries_streaming  # noqa: F401
    import pybabe_spark.queries_text  # noqa: F401
