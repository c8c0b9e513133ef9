"""Skew-aware join: explicit key salting for hot keys.

AQE's skew-join split (on by default in the engine session) handles most
skew at runtime; explicit salting remains the tool when one build-side
key dominates so heavily that even split partitions overwhelm a task, or
when AQE is unavailable (streaming joins). Beyond-reference scale
machinery — PyBabe's single process never met a shuffle.

Scheme: probe rows get a random-ish salt in [0, salt) derived from a
cheap deterministic hash of a tiebreak column (keeps runs reproducible);
the build side is exploded ×salt so every (key, salt) bucket finds its
match. Build-side inflation is the price — use for broadcast-too-big,
skewed-shuffle joins only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    salt: int = 8,
    salt_source: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the probe's hot keys spread across ``salt`` buckets.

    ``salt_source``: a probe column whose hash picks the bucket
    (defaults to the key itself combined with a per-row spread via
    ``spark_partition_id``-free arithmetic on a monotonic id — fully
    deterministic for a deterministic scan).
    """
    # Only probe-preserving join types are sound: the build side is
    # exploded ×salt BEFORE the join, so right/full-outer would surface
    # each unmatched build replica as its own null-probe row (salt
    # copies of every build row). Swap the sides for those semantics.
    if how not in ("inner", "left", "left_outer", "cross",
                   "semi", "left_semi", "anti", "left_anti"):
        raise ValueError(
            f"salted_join: how={how!r} would duplicate build rows "
            "(the build side is exploded x salt); swap probe/build and "
            "use a left join instead"
        )
    # pmod, not abs(hash)%salt: hash() can return Integer.MIN_VALUE, whose
    # abs overflows (ANSI: job failure; non-ANSI: negative salt → silently
    # dropped row). pmod is total and always lands in [0, salt).
    if salt_source is None:
        salted_probe = probe.withColumn(
            "__salt",
            F.pmod(F.hash(F.col(probe_key), F.monotonically_increasing_id()), F.lit(salt)),
        )
    else:
        salted_probe = probe.withColumn(
            "__salt", F.pmod(F.hash(F.col(salt_source)), F.lit(salt))
        )
    exploded_build = build.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = salted_probe.join(
        exploded_build,
        (salted_probe[probe_key] == exploded_build[build_key])
        & (salted_probe["__salt"] == exploded_build["__salt"]),
        how,
    )
    return out.drop(salted_probe["__salt"]).drop(exploded_build["__salt"]).drop(
        exploded_build[build_key]
    )


def skew_report(
    df: DataFrame, key: str, top_n: int = 20
) -> DataFrame:
    """Heavy-key diagnostic: the ``top_n`` most frequent key values with
    their counts and skew ratio (count ÷ mean-count-per-key) — the
    number you look at BEFORE choosing between a plain shuffle join,
    AQE's skew split, and :func:`salted_join` (ratio ≫ number of
    executor cores on one key = a straggler task in any un-salted
    shuffle).

    Scale shape: one map-side-combinable groupBy count, a 1-row global
    aggregate derived from the (already key-sized) count table, and a
    TakeOrdered head — never a sort of the full key space, never a
    driver-side key scan. Deterministic tie-break (count DESC, key ASC).
    NULL keys count as a key like any other (NULL-heavy columns are the
    most common real skew).

    Ratio arithmetic is two IEEE double ops in a fixed order
    ((c · n_keys) / total) — bit-identical on any engine, and immune to
    the bigint overflow a c·n_keys integer product would hit at
    extreme cardinalities.
    """
    from pybabe_spark.operators._util import attach_scalars, gen_col

    c = gen_col(df.columns, "n_rows")
    counts = df.groupBy(F.col(key)).agg(F.count(F.lit(1)).alias(c))
    totals = counts.agg(
        F.sum(c).alias("__total"), F.count(F.lit(1)).alias("__n_keys")
    )
    # asc_nulls_first EXPLICITLY: Spark's bare asc is nulls-first but
    # DuckDB's default is nulls-last — a NULL key tying at the top_n
    # boundary would otherwise pick different rows per engine (the
    # oracle pins NULLS FIRST to match)
    top = counts.orderBy(
        F.col(c).desc(), F.col(key).asc_nulls_first()
    ).limit(top_n)
    return attach_scalars(top, totals).select(
        F.col(key),
        F.col(c),
        (
            F.col(c).cast("double") * F.col("__n_keys") / F.col("__total")
        ).alias("skew_ratio"),
    )


def pareto_report(
    df: DataFrame, key: str, value_col: str, top_n: int = 50
) -> DataFrame:
    """Contribution / 80-20 analysis: the ``top_n`` keys by summed
    value with each key's share and CUMULATIVE share of the grand
    total in exact integer ppm — "which suppliers cover 80% of
    revenue". Returns ``(key, value_sum, share_ppm, cum_share_ppm)``,
    ordered facts (ties by key).

    Scale shape: one map-combinable keyed sum (decimal-exact), a
    TakeOrdered head — never a full-key sort — and the cumulative sum
    computed by a self-join of the ≤ ``top_n``-row head against itself
    (the ``limit`` gives the linter's maxRows proof, so the bounded
    non-equi join is the sanctioned attach-scalars-style idiom, NOT a
    corpus-scale window: no global window appears anywhere). Totals
    ride a 1-row attach. All shares are integer micro-unit arithmetic.
    """
    from pybabe_spark.operators._util import (
        attach_scalars,
        gen_col,
        lazy_persist,
    )

    v = gen_col(df.columns, "__v")
    sums = df.groupBy(F.col(key)).agg(
        F.sum(F.col(value_col).cast("decimal(18,6)")).alias(v)
    )
    # feeds totals + the TakeOrdered head: without the (lazy,
    # key-cardinality) cache each consumer re-runs the corpus aggregation
    micro = lazy_persist(sums.select(
        F.col(key),
        (F.col(v) * 1_000_000).cast("bigint").alias("__vm"),
    ))
    totals = micro.agg(F.sum("__vm").cast("bigint").alias("__tm"))
    top = micro.orderBy(
        F.col("__vm").desc(), F.col(key).asc_nulls_first()
    ).limit(top_n)
    a = top.select(F.col(key).alias("__k"), F.col("__vm").alias("__va"))
    b = top.select(F.col(key).alias("__kb"), F.col("__vm").alias("__vb"))
    # "b sorts at or before a" under (value DESC, key ASC NULLS FIRST)
    tie_le = F.col("__kb").isNull() | (
        F.col("__k").isNotNull() & (F.col("__kb") <= F.col("__k"))
    )
    before = (F.col("__vb") > F.col("__va")) | (
        (F.col("__vb") == F.col("__va")) & tie_le
    )
    cum = (
        a.join(b, before)
        .groupBy("__k", "__va")
        .agg(F.sum("__vb").cast("bigint").alias("__cum"))
    )
    # 128-bit products: micro-values × 1e6 overflow bigint on real
    # revenue sums — decimal(38,0) here, HUGEINT in the oracle
    out = attach_scalars(cum, totals).select(
        F.col("__k").alias(key),
        (F.col("__va").cast("double") / 1e6).alias("value_sum"),
        F.expr(
            "(cast(__va as decimal(38,0)) * 1000000) div __tm"
        ).alias("share_ppm"),
        F.expr(
            "(cast(__cum as decimal(38,0)) * 1000000) div __tm"
        ).alias("cum_share_ppm"),
    )
    return out


def gini(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Gini concentration coefficient over non-negative values:
    ``(key, n, total, gini_ppm, gini)`` — 0 = perfectly even, →1 = one
    row holds everything. The single-number companion to
    :func:`pareto_report` (which returns the whole contribution curve):
    revenue concentration per segment, token share per source, traffic
    share per domain.

    Exact arithmetic end to end: values enter as bigint cents, the
    rank-sum identity ``G = (2·Σ rank·xᵢ − (n+1)·Σx) / (n·Σx)`` is
    computed in DECIMAL(38,0) (rank·cents products overflow bigint at
    corpus scale), and ``gini_ppm = 1e6·num div den`` is exact integer
    division — no float anywhere but the convenience double. Ranks are
    ascending row_numbers; tie ORDER among equal values cannot change
    the sum (equal x across a tie block make Σ rank·x permutation-
    invariant), so no tie column is needed. NULL values are excluded;
    negative values raise in-plan at the query's own action (Gini is
    undefined below zero — clamp or shift upstream). Keys with a zero
    total report NULL gini.

    Scale shape: one key-partitioned rank window + one hash agg — two
    key shuffles, no joins.
    """
    nn = df.filter(F.col(value_col).isNotNull())
    cents_raw = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    guard = F.when(
        cents_raw < 0,
        F.raise_error(
            F.lit(f"gini: negative {value_col} — undefined; clamp upstream")
        ).cast("bigint"),
    ).otherwise(cents_raw)
    w = Window.partitionBy(key_col).orderBy(F.col("__c").asc())
    ranked = nn.select(
        F.col(key_col), guard.alias("__c")
    ).withColumn("__rn", F.row_number().over(w))
    agg = ranked.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__c").cast("decimal(38,0)")).alias("__sx"),
        F.sum((F.col("__rn") * F.col("__c")).cast("decimal(38,0)"))
        .alias("__srx"),
    )
    # integral `div` (not decimal divide + cast: Spark's decimal
    # division rounds to the result scale BEFORE a cast truncates,
    # which can disagree with DuckDB's exact floor by one ulp)
    with_nd = agg.withColumn(
        "__num",
        (F.lit(2) * F.col("__srx") - (F.col("n") + 1) * F.col("__sx"))
        .cast("decimal(38,0)"),
    ).withColumn(
        "__den", (F.col("n") * F.col("__sx")).cast("decimal(38,0)")
    )
    ppm = F.when(
        F.col("__sx") > 0,
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * __num) div __den"
            " AS BIGINT)"
        ),
    )
    return with_nd.select(
        key_col,
        "n",
        (F.col("__sx").cast("double") / 100.0).alias("total"),
        ppm.alias("gini_ppm"),
        (ppm.cast("double") / 1_000_000).alias("gini"),
    )


def gini_sql(table: str, key_col: str, value_col: str) -> str:
    """DuckDB mirror of :func:`gini` — same cents, same rank-sum
    identity in HUGEINT, same integer ppm."""
    return f"""
    WITH ranked AS (
      SELECT {key_col} AS k,
             CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
             ROW_NUMBER() OVER (PARTITION BY {key_col}
                                ORDER BY CAST(CAST({value_col} AS
                                DECIMAL(18,2)) * 100 AS BIGINT) ASC) AS rn
      FROM {table} WHERE {value_col} IS NOT NULL
    ),
    agg AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(c AS HUGEINT)) AS sx,
             SUM(CAST(rn AS HUGEINT) * c) AS srx
      FROM ranked GROUP BY k
    )
    SELECT k AS {key_col}, n,
           CAST(sx AS DOUBLE) / 100.0 AS total,
           CASE WHEN sx > 0 THEN
             CAST((1000000 * (2 * srx - (n + 1) * sx)) // (n * sx)
                  AS BIGINT)
           END AS gini_ppm,
           CASE WHEN sx > 0 THEN
             CAST(CAST((1000000 * (2 * srx - (n + 1) * sx)) // (n * sx)
                  AS BIGINT) AS DOUBLE) / 1000000
           END AS gini
    FROM agg
    """


def lorenz_curve(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Per-key Lorenz curve over non-negative values — the WHOLE
    concentration curve :func:`gini` compresses to one number: rows
    rank ascending by value into ``n_buckets`` equal-population
    buckets, and each bucket reports the cumulative population and
    value shares — "the bottom 50% of orders carry 18% of revenue".
    Output: ``(key, bucket, n, cum_n, cum_pop_share_ppm,
    cum_value_share_ppm)``.

    Exact arithmetic: bigint cents, DECIMAL(38,0) cumulative sums,
    both shares floored integral ppm (numerators non-negative, so
    truncating div IS floor — engine-identical). Bucket assignment is
    ntile's exact arithmetic ``((rank−1)·k) div n + 1`` on ascending
    row_numbers; tie order within equal values cannot change either
    share (rows swapped across a boundary carry identical values —
    the :func:`gini` permutation-invariance argument). Negative
    values raise in-plan; keys with zero total report NULL value
    shares.

    Scale shape: one key-partitioned rank window + one hash agg + a
    ≤ n_buckets-per-key cumulative window — two key shuffles, no
    corpus joins (gains_table's shape, value-ranked instead of
    score-ranked).
    """
    if n_buckets < 2:
        raise ValueError(
            f"lorenz_curve: n_buckets {n_buckets} must be >= 2"
        )
    k = int(n_buckets)
    nn = df.filter(F.col(value_col).isNotNull())
    cents_raw = (
        F.col(value_col).cast("decimal(18,2)") * 100
    ).cast("bigint")
    guard = F.when(
        cents_raw < 0,
        F.raise_error(
            F.lit(
                f"lorenz_curve: negative {value_col} — undefined; "
                "clamp upstream"
            )
        ).cast("bigint"),
    ).otherwise(cents_raw)
    wk = Window.partitionBy(key_col)
    w = wk.orderBy(F.col("__c").asc())
    ranked = (
        nn.select(F.col(key_col), guard.alias("__c"))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wk))
        .withColumn(
            "bucket",
            F.expr(f"CAST(((__rn - 1) * {k}) div __n + 1 AS INT)"),
        )
    )
    per = ranked.groupBy(key_col, "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("__c").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("__s"),
        F.first("__n").cast("bigint").alias("__nt"),
    )
    wc = wk.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.withColumn(
        "cum_n", F.sum("n").over(wc).cast("bigint")
    ).withColumn(
        "__cs", F.sum("__s").over(wc).cast("decimal(38,0)")
    )
    tot = cum.withColumn(
        "__tot",
        F.sum("__s").over(wk).cast("decimal(38,0)"),
    )
    return tot.select(
        key_col,
        "bucket",
        "n",
        "cum_n",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * cum_n) div __nt"
            " AS BIGINT)"
        ).alias("cum_pop_share_ppm"),
        F.when(
            F.col("__tot") > 0,
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * __cs) div __tot"
                " AS BIGINT)"
            ),
        ).alias("cum_value_share_ppm"),
    )


def lorenz_curve_sql(
    table: str,
    key_col: str,
    value_col: str,
    n_buckets: int = 10,
) -> str:
    """DuckDB mirror of :func:`lorenz_curve` — same cents, ntile
    arithmetic, HUGEINT cumulatives, floored integral ppm shares."""
    k = int(n_buckets)
    c = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    return f"""
    WITH ranked AS (
      SELECT {key_col} AS kc, {c} AS c,
             ROW_NUMBER() OVER (PARTITION BY {key_col}
                                ORDER BY {c} ASC) AS rn,
             COUNT(*) OVER (PARTITION BY {key_col}) AS nt
      FROM {table} WHERE {value_col} IS NOT NULL
    ),
    per AS (
      SELECT kc, CAST(((rn - 1) * {k}) // nt + 1 AS INT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(c AS HUGEINT)) AS s,
             CAST(MAX(nt) AS BIGINT) AS ntot
      FROM ranked GROUP BY kc, bucket
    ),
    cum AS (
      SELECT kc, bucket, n, ntot,
             CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
             SUM(s) OVER w AS cs,
             SUM(s) OVER (PARTITION BY kc) AS tot
      FROM per
      WINDOW w AS (PARTITION BY kc ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT kc AS {key_col}, bucket, n, cum_n,
           CAST((1000000 * CAST(cum_n AS HUGEINT)) // ntot AS BIGINT)
             AS cum_pop_share_ppm,
           CASE WHEN tot > 0 THEN
             CAST((1000000 * cs) // tot AS BIGINT)
           END AS cum_value_share_ppm
    FROM cum
    """


def theil_index(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Theil-T inequality index per group WITH the between/within
    decomposition — the property :func:`gini` famously lacks (Gini
    does not decompose additively): total inequality =
    Σ share·T_within + Σ between. One row per group:

    ``(key, n, share_ppm, theil_within, between_term)``

    - ``theil_within`` — the group's own Theil-T,
      ``T_g = [Σ x·ln x]_g / S_g − ln(S_g/n_g)`` (0 = perfectly even)
    - ``share_ppm`` — the group's exact floored-ppm share of the
      grand total S
    - ``between_term`` — ``(S_g/S)·ln((S_g/S)/(n_g/n))``, the group's
      contribution to between-group inequality; the corpus total is
      ``Σ_g (S_g/S)·T_g + Σ_g between_term`` (consumer-side sum of a
      ≤k-row frame).

    Concentration diagnostics at two grains at once: is revenue
    unequal WITHIN each priority tier, or BETWEEN tiers?

    Determinism: values lift to bigint cents; ``Σ x ln x`` follows the
    :func:`~pybabe_spark.operators.sketch.categorical_diversity`
    entropy discipline — one (group, value) count grain, per-term
    ``(c·x)·ln(x)`` rounded to DECIMAL(18,6) BEFORE the sum
    (associative, engine-identical), everything else exact decimals
    with fixed-shape once-rounded finishes. Zero/NULL values are
    EXCLUDED (ln 0 — the standard Theil-T domain, stated); negative
    values raise in-plan. Zero-total groups are absent (no rows
    survive the x > 0 filter).

    Scale shape: one map-combinable (group, cents) grain agg, one
    group agg over the grain, one 1-row grand-total attach. Two
    corpus-scale shuffles.
    """
    from pybabe_spark.operators._util import attach_scalars

    nn = df.filter(F.col(value_col).isNotNull())
    cents_raw = (F.col(value_col).cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    guard = F.when(
        cents_raw < 0,
        F.raise_error(
            F.lit(
                f"theil_index: negative {value_col} — undefined;"
                " clamp upstream"
            )
        ).cast("bigint"),
    ).otherwise(cents_raw)
    grain = (
        nn.select(F.col(key_col).alias("__k"), guard.alias("__c"))
        .filter(F.col("__c") > 0)
        .groupBy("__k", "__c")
        .agg(F.count(F.lit(1)).alias("__m"))
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    xlnx = (
        (
            d(F.col("__m") * F.col("__c")).cast("double")
            * F.log(F.col("__c").cast("double"))
        )
        # (28,6): the count-weighted term can pass 1e12 at corpus
        # scale — 22 integer digits keeps the per-term round exact
        .cast("decimal(28,6)")
    )
    g = grain.groupBy("__k").agg(
        F.sum(d(F.col("__m"))).cast("decimal(38,0)").alias("__n"),
        F.sum(d(F.col("__m") * F.col("__c")))
        .cast("decimal(38,0)")
        .alias("__s"),
        F.sum(xlnx).cast("decimal(38,6)").alias("__xl"),
    )
    tots = g.agg(
        F.sum("__n").cast("decimal(38,0)").alias("__nt"),
        F.sum("__s").cast("decimal(38,0)").alias("__st"),
    )
    j = attach_scalars(g, tots)
    out = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    sd = F.col("__s").cast("double")
    nd = F.col("__n").cast("double")
    std = F.col("__st").cast("double")
    ntd = F.col("__nt").cast("double")
    theil_w = out(
        F.col("__xl").cast("double") / sd - F.log(sd / nd)
    )
    between = out(
        (sd / std) * F.log((sd / std) / (nd / ntd))
    )
    share = F.expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * __s) div __st"
        " AS BIGINT)"
    )
    return j.select(
        F.col("__k").alias(key_col),
        F.col("__n").cast("bigint").alias("n"),
        share.alias("share_ppm"),
        theil_w.alias("theil_within"),
        between.alias("between_term"),
    )


def theil_index_sql(table: str, key_col: str, value_col: str) -> str:
    """DuckDB oracle of :func:`theil_index` — same cents grain,
    per-term-rounded x·ln x, fixed-shape decomposition."""
    c = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    r6 = lambda e: f"CAST(CAST({e} AS DECIMAL(18,6)) AS DOUBLE)"  # noqa: E731
    tw = r6(
        "CAST(xl AS DOUBLE) / CAST(s AS DOUBLE)"
        " - ln(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    )
    bt = r6(
        "(CAST(s AS DOUBLE) / CAST(st AS DOUBLE))"
        " * ln((CAST(s AS DOUBLE) / CAST(st AS DOUBLE))"
        " / (CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)))"
    )
    return f"""
    WITH grain AS (
        SELECT {key_col} AS k, {c} AS c, COUNT(*)::HUGEINT AS m
        FROM {table}
        WHERE {value_col} IS NOT NULL AND {c} > 0
        GROUP BY {key_col}, {c}
    ),
    g AS (
        SELECT k, SUM(m) AS n, SUM(m * c) AS s,
               SUM(CAST(CAST(CAST(m * c AS DOUBLE)
                   * ln(CAST(c AS DOUBLE)) AS DECIMAL(28,6))
                   AS DECIMAL(38,6))) AS xl
        FROM grain GROUP BY k
    ),
    tots AS (SELECT SUM(n) AS nt, SUM(s) AS st FROM g)
    SELECT g.k AS {key_col},
           CAST(g.n AS BIGINT) AS n,
           CAST((1000000 * g.s) // tots.st AS BIGINT) AS share_ppm,
           {tw} AS theil_within,
           {bt} AS between_term
    FROM g CROSS JOIN tots
    """
