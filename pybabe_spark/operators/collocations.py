"""PMI collocation mining — corpus bigram association statistics.

Beyond-reference corpus analysis (the text family next to TF-IDF/BM25):
pointwise mutual information over bigram occurrences surfaces the
corpus's fixed phrases ("new york", "machine learning") — the standard
collocation detector (Church & Hanks 1990), used in training-data work
for phrase vocabularies, tokenizer merge sanity checks, and boilerplate
discovery.

PMI(w1, w2) = ln( P(w1 w2) / (P(w1) · P(w2)) ) with P from corpus
occurrence counts (bigram denominator = total bigram occurrences,
unigram denominator = total token occurrences).

Scale shape: unigram and bigram counting are map-side-combinable
aggregations over the token stream (`lm.py`'s codegen extraction);
``min_count`` prunes the bigram table BEFORE any join — at 100 TB the
pruned collocation candidates are a vanishing fraction of the corpus,
and the unigram side joins them keyed by word (broadcastable once the
vocabulary is pruned-small; left as an equi-join so Catalyst/AQE picks).
Top-k is TakeOrdered, never a global window.

Cross-engine determinism: counts are exact integers; the PMI is one
IEEE expression with identical operation order in the SQL mirror and a
single DECIMAL(18,6) rounding on the transcendental output (measure-zero
half-point risk, house convention); ranking uses the rounded value with
a (w1, w2) tiebreak so libm ulp noise cannot reorder the top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pybabe_spark.operators._util import attach_scalars, lazy_persist
from pybabe_spark.operators.lm import bigram_rows, unigram_rows


def pmi_collocations(
    docs: DataFrame,
    k: int = 20,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` (w1, w2, c12, pmi) bigrams by PMI (ties: w1, w2 asc).

    ``min_count`` drops rare bigrams before scoring — both the
    statistical floor (PMI over-rewards hapax pairs) and the scale
    knob (see module docstring).
    """
    if min_count < 1:
        raise ValueError(f"pmi_collocations: min_count {min_count} must be >= 1")
    uni = unigram_rows(docs, text_col).groupBy("w1").agg(
        F.count(F.lit(1)).alias("c1")
    )
    totals_u = uni.agg(F.sum("c1").alias("__nu"))
    bg = (
        bigram_rows(docs, id_col, text_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    totals_b = bg.agg(F.sum("c12").alias("__nb"))
    bg = bg.filter(F.col("c12") >= min_count)
    right = uni.select(F.col("w1").alias("w2"), F.col("c1").alias("c2"))
    joined = attach_scalars(
        attach_scalars(bg.join(uni, "w1").join(right, "w2"), totals_u), totals_b
    )
    pmi = F.log(
        (F.col("c12") / F.col("__nb"))
        / ((F.col("c1") / F.col("__nu")) * (F.col("c2") / F.col("__nu")))
    )
    scored = joined.select(
        "w1",
        "w2",
        "c12",
        pmi.cast("decimal(18,6)").cast("double").alias("pmi"),
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(k)


def pmi_collocations_sql(k: int = 20, min_count: int = 5) -> str:
    """DuckDB oracle of :func:`pmi_collocations` over ``documents`` —
    same token extraction, same operation order, same rounding and
    tiebreaks."""
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    uni AS (
      SELECT w1, COUNT(*) AS c1 FROM (
        SELECT unnest(ws) AS w1 FROM toks
      ) GROUP BY w1
    ),
    nu AS (SELECT CAST(SUM(c1) AS BIGINT) AS nu FROM uni),
    bgx AS (
      SELECT unnest(list_transform(range(1, len(ws)),
               i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS b
      FROM toks
    ),
    bg AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS c12
           FROM bgx GROUP BY b.w1, b.w2),
    nb AS (SELECT CAST(SUM(c12) AS BIGINT) AS nb FROM bg),
    scored AS (
      SELECT bg.w1, bg.w2, bg.c12,
             CAST(CAST(ln((bg.c12 / nb.nb)
                          / ((u1.c1 / nu.nu) * (u2.c1 / nu.nu)))
                       AS DECIMAL(18,6)) AS DOUBLE) AS pmi
      FROM bg
      JOIN uni u1 ON u1.w1 = bg.w1
      JOIN uni u2 ON u2.w1 = bg.w2
      CROSS JOIN nu CROSS JOIN nb
      WHERE bg.c12 >= {min_count}
    )
    SELECT w1, w2, c12, pmi FROM scored
    ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT {k}
    """


def basket_pair_core(
    df,
    basket_col: str,
    item_col: str,
    min_support: int,
):
    """The shared market-basket pair stage of :func:`frequent_pairs`,
    :func:`association_rules` and
    :func:`~pybabe_spark.operators.recommend.item_neighbors`: returns
    ``(pairs, items, baskets)`` — the support-pruned undirected pair
    counts ``(item_a, item_b, n_pairs)`` with ``item_a < item_b``,
    the ``(i, __ni)`` item-count table, and the 1-row
    ``(__nbaskets)`` total. All three consumers run on the identical
    core when given the same (basket, item, min_support), so a
    session memo can compute it once (the `_kw_core` discipline);
    each consumer's enrichment/finish stays its own.

    Plan: distinct (basket, item) projection (lazy-persisted — it
    feeds the pair join twice, the item counts and the basket total),
    within-basket bounded-fanout pair self-join, one pair hash agg
    with the support filter applied immediately."""
    from pyspark.sql import functions as F

    bi = lazy_persist(
        df.select(F.col(basket_col).alias("b"), F.col(item_col).alias("i"))
        .filter(F.col("b").isNotNull() & F.col("i").isNotNull())
        .distinct()
    )
    x, y = bi.alias("x"), bi.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.b") == F.col("y.b")) & (F.col("x.i") < F.col("y.i")),
        )
        .groupBy(F.col("x.i").alias("item_a"), F.col("y.i").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .filter(F.col("n_pairs") >= min_support)
    )
    items = bi.groupBy(F.col("i")).agg(F.count(F.lit(1)).alias("__ni"))
    baskets = bi.agg(
        F.countDistinct("b").cast("bigint").alias("__nbaskets")
    )
    return pairs, items, baskets


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    core=None,
) -> DataFrame:
    """Market-basket pair mining: items co-occurring in at least
    ``min_support`` baskets — ``(item_a, item_b, n_pairs, lift_ppm)``
    with ``item_a < item_b`` and lift = P(a,b)/(P(a)·P(b)) in exact
    integer ppm (128-bit products — no IEEE division, no overflow at
    any corpus size). The association-rule primitive (PMI's
    transactional sibling — collocations rank by log-ratio over text
    positions; this counts basket co-occurrence with a support
    floor).

    Plan: distinct (basket, item) projection, the within-basket pair
    self-join (fanout bounded by basket width, like the triangle
    census' co-occurrence edges), one pair hash agg with the support
    filter BEFORE the lift join, then two equi-joins against the
    (item, count) table (no explicit broadcast hint — the item
    vocabulary is unbounded; AQE broadcasts when actually small) and a 1-row basket-count attach.
    """
    if min_support < 1:
        raise ValueError("frequent_pairs: min_support must be >= 1")
    from pybabe_spark.operators._util import attach_scalars

    if core is None:
        core = basket_pair_core(df, basket_col, item_col, min_support)
    pairs, items, baskets = core
    na = items.select(F.col("i").alias("item_a"), F.col("__ni").alias("__na"))
    nb = items.select(F.col("i").alias("item_b"), F.col("__ni").alias("__nb"))
    out = attach_scalars(
        pairs.join(na, "item_a").join(nb, "item_b"),
        baskets,
    )
    return out.select(
        "item_a",
        "item_b",
        "n_pairs",
        F.expr(
            "(cast(n_pairs as decimal(38,0)) * __nbaskets * 1000000)"
            " div (cast(__na as decimal(38,0)) * __nb)"
        ).alias("lift_ppm"),
    )


def frequent_pairs_sql(
    table: str, basket_col: str, item_col: str, min_support: int = 2
) -> str:
    """DuckDB oracle of :func:`frequent_pairs` (HUGEINT products)."""
    return f"""
    WITH bi AS (
        SELECT DISTINCT {basket_col} AS b, {item_col} AS i
        FROM {table}
        WHERE {basket_col} IS NOT NULL AND {item_col} IS NOT NULL
    ),
    pairs AS (
        SELECT x.i AS item_a, y.i AS item_b, COUNT(*) AS n_pairs
        FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
        GROUP BY x.i, y.i
        HAVING COUNT(*) >= {int(min_support)}
    ),
    items AS (SELECT i, COUNT(*) AS ni FROM bi GROUP BY i),
    nb AS (SELECT COUNT(DISTINCT b) AS nbaskets FROM bi)
    SELECT item_a, item_b, n_pairs,
           CAST((CAST(n_pairs AS HUGEINT) * nbaskets * 1000000)
                // (CAST(a.ni AS HUGEINT) * c.ni) AS BIGINT) AS lift_ppm
    FROM pairs
    JOIN items a ON a.i = pairs.item_a
    JOIN items c ON c.i = pairs.item_b
    CROSS JOIN nb
    """


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    min_confidence_ppm: int = 0,
    core=None,
) -> DataFrame:
    """Directed association rules from market baskets: both
    orientations of every frequent pair as ``antecedent → consequent``
    with exact integer-ppm metrics —

    - ``support_ppm``  = n_pairs·10⁶ div n_baskets
    - ``confidence_ppm`` = n_pairs·10⁶ div n_antecedent
    - ``lift_ppm``     = n_pairs·n_baskets·10⁶ div (n_a·n_c)

    All divisions are non-negative integral ``div`` on 128-bit products
    (Spark ``div`` ≡ DuckDB ``//``) — no IEEE anywhere, deterministic
    across engines at any corpus size. Rules below ``min_support``
    co-occurrences or ``min_confidence_ppm`` confidence are dropped.

    Plan: identical to :func:`frequent_pairs` up to the support-pruned
    UNDIRECTED pair aggregate (one bounded-fanout self-join + one hash
    agg); both directions are then emitted from that tiny table via a
    2-row explode — no second pass over the baskets — followed by one
    item-count equi-join (AQE-broadcast when small) and a 1-row
    basket-total attach.
    """
    if min_support < 1:
        raise ValueError("association_rules: min_support must be >= 1")
    if core is None:
        core = basket_pair_core(df, basket_col, item_col, min_support)
    pairs, items, baskets = core
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("antecedent"),
                    F.col("item_b").alias("consequent"),
                ),
                F.struct(
                    F.col("item_b").alias("antecedent"),
                    F.col("item_a").alias("consequent"),
                ),
            )
        ).alias("__r"),
        "n_pairs",
    ).select("__r.antecedent", "__r.consequent", "n_pairs")
    na = items.select(
        F.col("i").alias("antecedent"), F.col("__ni").alias("__na")
    )
    nc = items.select(
        F.col("i").alias("consequent"), F.col("__ni").alias("__nc")
    )
    out = attach_scalars(
        directed.join(na, "antecedent").join(nc, "consequent"),
        baskets,
    )
    return out.select(
        "antecedent",
        "consequent",
        "n_pairs",
        F.expr(
            "(cast(n_pairs as decimal(38,0)) * 1000000) div __nbaskets"
        ).alias("support_ppm"),
        F.expr(
            "(cast(n_pairs as decimal(38,0)) * 1000000) div __na"
        ).alias("confidence_ppm"),
        F.expr(
            "(cast(n_pairs as decimal(38,0)) * __nbaskets * 1000000)"
            " div (cast(__na as decimal(38,0)) * __nc)"
        ).alias("lift_ppm"),
    ).filter(F.col("confidence_ppm") >= int(min_confidence_ppm))


def association_rules_sql(
    table: str,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    min_confidence_ppm: int = 0,
) -> str:
    """DuckDB oracle of :func:`association_rules` (HUGEINT products,
    UNION ALL for the two orientations)."""
    return f"""
    WITH bi AS (
        SELECT DISTINCT {basket_col} AS b, {item_col} AS i
        FROM {table}
        WHERE {basket_col} IS NOT NULL AND {item_col} IS NOT NULL
    ),
    pairs AS (
        SELECT x.i AS ia, y.i AS ib, COUNT(*) AS n_pairs
        FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
        GROUP BY x.i, y.i
        HAVING COUNT(*) >= {int(min_support)}
    ),
    directed AS (
        SELECT ia AS antecedent, ib AS consequent, n_pairs FROM pairs
        UNION ALL
        SELECT ib AS antecedent, ia AS consequent, n_pairs FROM pairs
    ),
    items AS (SELECT i, COUNT(*) AS ni FROM bi GROUP BY i),
    nb AS (SELECT COUNT(DISTINCT b) AS nbaskets FROM bi)
    SELECT antecedent, consequent, n_pairs,
           CAST((CAST(n_pairs AS HUGEINT) * 1000000) // nbaskets
                AS BIGINT) AS support_ppm,
           CAST((CAST(n_pairs AS HUGEINT) * 1000000) // a.ni
                AS BIGINT) AS confidence_ppm,
           CAST((CAST(n_pairs AS HUGEINT) * nbaskets * 1000000)
                // (CAST(a.ni AS HUGEINT) * c.ni) AS BIGINT) AS lift_ppm
    FROM directed
    JOIN items a ON a.i = directed.antecedent
    JOIN items c ON c.i = directed.consequent
    CROSS JOIN nb
    WHERE CAST((CAST(n_pairs AS HUGEINT) * 1000000) // a.ni AS BIGINT)
          >= {int(min_confidence_ppm)}
    """


def llr_collocations(
    docs: DataFrame,
    k: int = 20,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` (w1, w2, c12, llr) bigrams by Dunning's log-likelihood
    ratio (Dunning 1993) — the collocation statistic that, unlike PMI,
    does not over-reward rare pairs: G² over the 2×2 bigram
    contingency (w1-first? × w2-second?), in Ted Dunning's entropy
    form with ``H(x) = x·ln x`` (``H(0) = 0``):

        G² = 2·(H(k₁₁)+H(k₁₂)+H(k₂₁)+H(k₂₂)
                − H(c₁) − H(N−c₁) − H(c₂) − H(N−c₂) + H(N))

    where c₁ counts bigrams with w1 FIRST, c₂ with w2 SECOND, N total
    bigram occurrences, k₁₁ = c12, k₁₂ = c₁−c12, k₂₁ = c₂−c12,
    k₂₂ = N−c₁−c₂+c12.

    Same shape as :func:`pmi_collocations`: position-count hash aggs,
    ``min_count`` prunes candidates BEFORE the count joins, top-k is
    TakeOrdered. Determinism: counts exact; G² is ONE fixed-shape IEEE
    expression (identical term order in the oracle), rounded once to
    DECIMAL(18,6); ranking ties break (w1, w2) asc.
    """
    if min_count < 1:
        raise ValueError(
            f"llr_collocations: min_count {min_count} must be >= 1"
        )
    bg = (
        bigram_rows(docs, id_col, text_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    firsts = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    seconds = bg.groupBy("w2").agg(F.sum("c12").alias("c2"))
    totals = bg.agg(F.sum("c12").cast("bigint").alias("__nb"))
    cand = bg.filter(F.col("c12") >= min_count)
    joined = attach_scalars(
        cand.join(firsts, "w1").join(seconds, "w2"), totals
    )

    def h(x):
        x = x.cast("double")
        return F.when(x > 0, x * F.log(x)).otherwise(F.lit(0.0))

    k11 = F.col("c12")
    k12 = F.col("c1") - F.col("c12")
    k21 = F.col("c2") - F.col("c12")
    k22 = F.col("__nb") - F.col("c1") - F.col("c2") + F.col("c12")
    llr = 2.0 * (
        h(k11) + h(k12) + h(k21) + h(k22)
        - h(F.col("c1")) - h(F.col("__nb") - F.col("c1"))
        - h(F.col("c2")) - h(F.col("__nb") - F.col("c2"))
        + h(F.col("__nb"))
    )
    scored = joined.select(
        "w1",
        "w2",
        "c12",
        llr.cast("decimal(18,6)").cast("double").alias("llr"),
    )
    return scored.orderBy(
        F.col("llr").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(k)


def llr_collocations_sql(k: int = 20, min_count: int = 5) -> str:
    """DuckDB oracle of :func:`llr_collocations` over ``documents`` —
    same token extraction, same entropy-form term order, same
    rounding and tiebreaks."""
    def h(x):
        return (
            f"CASE WHEN ({x}) > 0 THEN CAST({x} AS DOUBLE)"
            f" * ln(CAST({x} AS DOUBLE)) ELSE 0.0 END"
        )

    llr = (
        f"2.0 * ({h('k11')} + {h('k12')} + {h('k21')} + {h('k22')}"
        f" - {h('c1')} - {h('nb - c1')}"
        f" - {h('c2')} - {h('nb - c2')}"
        f" + {h('nb')})"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    bgx AS (
      SELECT unnest(list_transform(range(1, len(ws)),
               i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS b
      FROM toks
    ),
    bg AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS c12
           FROM bgx GROUP BY b.w1, b.w2),
    firsts AS (SELECT w1, SUM(c12) AS c1 FROM bg GROUP BY w1),
    seconds AS (SELECT w2, SUM(c12) AS c2 FROM bg GROUP BY w2),
    nbt AS (SELECT CAST(SUM(c12) AS BIGINT) AS nb FROM bg),
    cells AS (
      SELECT bg.w1, bg.w2, bg.c12, f.c1, s.c2, nbt.nb,
             bg.c12 AS k11, f.c1 - bg.c12 AS k12,
             s.c2 - bg.c12 AS k21,
             nbt.nb - f.c1 - s.c2 + bg.c12 AS k22
      FROM bg
      JOIN firsts f ON f.w1 = bg.w1
      JOIN seconds s ON s.w2 = bg.w2
      CROSS JOIN nbt
      WHERE bg.c12 >= {min_count}
    )
    SELECT w1, w2, c12,
           CAST(CAST({llr} AS DECIMAL(18,6)) AS DOUBLE) AS llr
    FROM cells
    ORDER BY llr DESC, w1 ASC, w2 ASC LIMIT {k}
    """
