"""Fuzzy string matching: edit-distance pairs and joins via
symmetric-delete blocking (SymSpell, Garbe 2012).

Beyond-reference capability for record linkage / dirty-key joins on
short strings (names, codes, titles). The blocking is EXACT, not
approximate: if ``lev(a, b) <= d`` then deleting from ``a`` the (≤ d)
positions an optimal alignment substitutes-or-deletes, and from ``b``
the (≤ d) positions it substitutes-or-inserts, leaves the aligned
matches — the SAME string — so ``a`` and ``b`` share a key in their
depth-``d`` deletion neighborhoods. The equi-join on deletion keys
therefore finds every qualifying pair, and the exact
``levenshtein() <= d`` confirm removes the false positives. No
all-pairs comparison anywhere.

Scale shape: key generation is pure codegen (``transform`` over a
``sequence``, O(len^d) keys per DISTINCT string), one shuffle on the
key, candidate work proportional to key-bucket collisions. Pairs are
computed over DISTINCT strings — a billion rows with a million distinct
names cost a million strings' worth of keys, and exact-duplicate
multiplicities never enter the pair join (that's the exact-dedup
family's job, operators/dedup_scale.py). For long free text use the
MinHash/SimHash family instead; the in-plan length guard raises on
strings past ``max_len`` rather than silently exploding the key fanout.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pybabe_spark.operators._util import lazy_persist

_EMPTY = "filter(array(''), x -> false)"  # typed empty array<string>


def _del1(c: str, var: str) -> str:
    """SQL expr: all single-character deletions of ``c`` (array)."""
    return (
        f"if(length({c}) = 0, {_EMPTY}, "
        f"transform(sequence(1, length({c})), {var} -> "
        f"concat(substr({c}, 1, {var} - 1), substr({c}, {var} + 1))))"
    )


def deletion_keys(col: str, max_dist: int) -> "F.Column":
    """Depth-``max_dist`` deletion neighborhood of a string column
    (including the string itself), distinct. Pure codegen."""
    if max_dist not in (1, 2):
        raise ValueError("fuzzy: max_dist must be 1 or 2")
    d1 = _del1(col, "i")
    if max_dist == 1:
        expr = f"array_distinct(concat(array({col}), {d1}))"
    else:
        d2 = f"flatten(transform({d1}, t -> {_del1('t', 'j')}))"
        expr = f"array_distinct(concat(array({col}), {d1}, {d2}))"
    return F.expr(expr)


def positional_deletion_keys(col: str) -> "F.Column":
    """Single-deletion neighborhood WITH the deleted position kept:
    ``array<struct<p int, d string>>``. Two equal-length strings share
    a ``(p, d)`` key iff they agree everywhere except position ``p`` —
    i.e. they are exactly one SUBSTITUTION apart (or equal). Unlike the
    plain deletion key, positions never alias: ``00010`` and ``00100``
    share the plain key ``0010`` (an insert+delete alignment, distance
    2) but no positional key. On data with long shared runs (padded
    ids, timestamps, URLs) this cuts the candidate set to almost
    exactly the true pair set. Pure codegen."""
    return F.expr(
        f"transform(sequence(1, length({col})), i -> "
        f"struct(i as p, concat(substr({col}, 1, i - 1), "
        f"substr({col}, i + 1)) as d))"
    )


def _guarded(df: DataFrame, col: str, max_len: int) -> DataFrame:
    """In-plan contract: raise at action time if a string exceeds
    ``max_len`` (deletion-key fanout is O(len^d); long text belongs to
    the MinHash family). Lazy — no construction-time job."""
    msg = (
        f"fuzzy: string in {col!r} longer than max_len={max_len}; "
        "use minhash_lsh_pairs for long text or raise max_len"
    )
    return df.filter(
        F.when(
            F.length(F.col(col)) > max_len,
            F.raise_error(F.lit(msg)).cast("boolean"),
        ).otherwise(F.lit(True))
    )


def fuzzy_string_pairs(
    df: DataFrame,
    s_col: str,
    max_dist: int = 1,
    max_len: int = 64,
) -> DataFrame:
    """All pairs of DISTINCT non-null values of ``s_col`` within edit
    distance ``max_dist``: (s1, s2, dist) with ``s1 < s2``. Exact —
    complete blocking (module docstring) + levenshtein confirm.

    ``max_dist=1`` takes a confirm-free specialized plan: a distance-1
    pair is exactly one substitution (equal lengths, caught completely
    by the positional-deletion key — :func:`positional_deletion_keys`)
    or one insert/delete (lengths differ by 1, caught completely by
    joining the longer side's deletions against the shorter strings).
    Every candidate either IS a distance-1 pair or is an equal string
    (dropped by ``s1 < s2``), so no levenshtein runs at all; on padded
    shared-structure data (``Customer#000012345``) this also shrinks
    the candidate set ~4× vs plain deletion keys, whose deleted
    positions alias across long runs of one character (measured 977k →
    262.5k candidates, 12 s → 3 s at sf0.1 local[32])."""
    from pybabe_spark.operators.similarity import _spread

    s = (
        _guarded(df, s_col, max_len)
        .select(F.col(s_col).alias("s"))
        .filter(F.col("s").isNotNull())
        .distinct()
    )
    if max_dist == 1:
        # substitution pairs: equal everywhere but one position
        # lazy cache — both join sides consume it
        pk = lazy_persist(s.select(
            "s", F.explode(positional_deletion_keys("s")).alias("k")
        ))
        # _spread: without it AQE coalesces the small distinct-strings
        # shuffle to 1 partition and the candidate stage serializes;
        # quadratic=True since work grows with bucket collisions²
        subst = (
            _spread(pk, quadratic=True)
            .alias("a")
            .join(
                pk.alias("b"),
                (F.col("a.k") == F.col("b.k"))
                & (F.col("a.s") < F.col("b.s")),
            )
            .select(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        )
        # insert/delete pairs: shorter string = a deletion of longer;
        # one pair can arise from several deletion positions ("aab" →
        # "ab" twice) — the union-level distinct dedups
        dk = s.select(
            "s", F.explode(deletion_keys("s", 1)).alias("k")
        ).filter(F.length("k") < F.length("s"))
        insdel = (
            _spread(dk, quadratic=True)
            .alias("a")
            .join(s.alias("b"), F.col("a.k") == F.col("b.s"))
            .select(
                F.least(F.col("a.s"), F.col("b.s")).alias("s1"),
                F.greatest(F.col("a.s"), F.col("b.s")).alias("s2"),
            )
        )
        # subst pairs are emitted exactly once (the single differing
        # position is the only shared positional key) and never overlap
        # insdel pairs (length mismatch) — only insdel needs the dedup
        # shuffle, and it is the small branch
        return subst.unionByName(insdel.distinct()).withColumn(
            "dist", F.lit(1)
        )
    # both join sides consume the key table; the lazy cache computes the
    # deletion neighborhoods once (persist, not localCheckpoint(eager=
    # False): the latter can run stages at construction, which would
    # defeat the max_len guard's laziness)
    keys = lazy_persist(s.select(
        "s", F.explode(deletion_keys("s", max_dist)).alias("k")
    ))
    a = _spread(keys, quadratic=True).alias("a")
    b = keys.alias("b")
    cand = a.join(
        b,
        (F.col("a.k") == F.col("b.k")) & (F.col("a.s") < F.col("b.s")),
    ).select(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
    # confirm BEFORE the pair-dedup shuffle so only true matches are
    # shuffled; thresholded levenshtein (banded DP, -1 past the bound)
    # costs O(len·d) per candidate instead of O(len²)
    return (
        cand.withColumn(
            "dist", F.expr(f"levenshtein(s1, s2, {int(max_dist)})")
        )
        .filter(F.col("dist") >= 0)
        .distinct()
    )


def fuzzy_connectivity_pairs(
    df: DataFrame,
    id_col: str,
    s_col: str,
    max_len: int = 64,
) -> DataFrame:
    """Star-reduced distance-1 pair set with PROVABLY the same
    connected components as :func:`fuzzy_pairs` at ``max_dist=1`` —
    the edge list to feed CC-derived consumers (``dup_clusters``,
    ``golden_record``, ``best_of_clusters``) when the full pair list
    itself is not needed.

    Why it is exact: a positional-deletion bucket (strings equal
    everywhere except position ``p`` — :func:`positional_deletion_keys`)
    is a CLIQUE in the distance-1 graph, so a star from the bucket's
    minimum string to every other member keeps the bucket connected
    with ``m-1`` edges instead of the clique's ``m(m-1)/2``; every
    emitted star edge is itself a true substitution pair, and every
    dropped clique edge is implied by two star edges. Insert/delete
    pairs (lengths differ by 1) are not cliques and are kept verbatim.
    Components — and therefore any result computed FROM components —
    are identical to the full pair graph's.

    Why it matters at scale: on keyed data (``Customer#000012345``)
    bucket sizes track the alphabet at the varying position, so the
    full substitution pair count grows QUADRATICALLY in bucket size
    while the star grows linearly — at sf0.1 this is 262.5k pairs →
    ~60k edges; at a 1000× corpus the gap is the difference between a
    CC input proportional to the data and one proportional to its
    square. Same shape discipline as banded LSH: never materialize a
    quadratic intermediate on the engine side.

    Output: ``(id1, id2)`` with the same id-attachment contract as
    :func:`fuzzy_pairs` (equal-string row pairs excluded; ids multiply
    only the final edge list, never the candidate join).
    """
    from pybabe_spark.operators.similarity import _spread

    # three branches consume the distinct-string set (positional keys,
    # deletion keys, the insdel probe side) — pin it or each re-runs
    # the scan + distinct shuffle
    s = lazy_persist(
        _guarded(df, s_col, max_len)
        .select(F.col(s_col).alias("s"))
        .filter(F.col("s").isNotNull())
        .distinct()
    )
    pk = s.select("s", F.explode(positional_deletion_keys("s")).alias("k"))
    # star per bucket: min string → member (one shuffle on the bucket
    # key; singleton buckets emit nothing). No _spread here (r13): the
    # window's own hash exchange on k supplies the parallelism — a
    # round-robin repartition immediately before it was a second full
    # exchange of the key table that the window then re-shuffled.
    from pyspark.sql import Window

    wb = Window.partitionBy("k")
    subst = (
        pk
        .withColumn("m", F.min("s").over(wb))
        .filter(F.col("s") != F.col("m"))
        .select(F.col("m").alias("s1"), F.col("s").alias("s2"))
        .distinct()
    )
    dk = s.select(
        "s", F.explode(deletion_keys("s", 1)).alias("k")
    ).filter(F.length("k") < F.length("s"))
    # no _spread (r13): the probe side is a cheap explode over the
    # pinned distinct-string cache and the branch ends in a distinct
    # shuffle — the repartition bought no parallel work, only an
    # extra exchange (confirm-free branch; the levenshtein-confirm
    # paths in fuzzy_string_pairs keep theirs)
    insdel = (
        dk
        .alias("a")
        .join(s.alias("b"), F.col("a.k") == F.col("b.s"))
        .select(
            F.least(F.col("a.s"), F.col("b.s")).alias("s1"),
            F.greatest(F.col("a.s"), F.col("b.s")).alias("s2"),
        )
        .distinct()
    )
    pairs = subst.unionByName(insdel)
    ids1 = df.select(F.col(id_col).alias("id1"), F.col(s_col).alias("__fs1"))
    ids2 = df.select(F.col(id_col).alias("id2"), F.col(s_col).alias("__fs2"))
    return (
        pairs.join(ids1, pairs.s1 == ids1.__fs1)
        .join(ids2, pairs.s2 == ids2.__fs2)
        .select("id1", "id2")
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    s_col: str,
    max_dist: int = 1,
    max_len: int = 64,
) -> DataFrame:
    """Row-pair form: (id1, id2, s1, s2, dist) for every pair of rows
    whose string values DIFFER and are within ``max_dist`` (``s1 < s2``
    orders the pair; ids follow their strings). Equal-string row pairs
    are exact duplicates — out of scope here, covered by the exact-dedup
    operators. The pair join runs over distinct strings; ids re-attach
    via two equi-joins, so duplicate strings multiply only the final
    output, never the candidate join."""
    pairs = fuzzy_string_pairs(df, s_col, max_dist, max_len)
    ids1 = df.select(
        F.col(id_col).alias("id1"), F.col(s_col).alias("__fs1")
    )
    ids2 = df.select(
        F.col(id_col).alias("id2"), F.col(s_col).alias("__fs2")
    )
    return (
        pairs.join(ids1, pairs.s1 == ids1.__fs1)
        .join(ids2, pairs.s2 == ids2.__fs2)
        .select("id1", "id2", "s1", "s2", "dist")
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    max_dist: int = 1,
    how: str = "inner",
    max_len: int = 64,
) -> DataFrame:
    """Dirty-key join: match left rows to right rows whose key strings
    are within ``max_dist`` edits (exact blocking + confirm). Returns
    left columns + right columns + ``dist``; ``how`` is 'inner' or
    'left' (unmatched left rows kept with NULL right side).

    The string-pair match runs over DISTINCT keys of each side; row
    multiplicities re-enter through two ordinary equi-joins. A left row
    matching several right keys yields one row per match — aggregate
    afterwards to pick a best match (e.g. ``min_by`` on dist)."""
    if how not in ("inner", "left"):
        raise ValueError("fuzzy_join: how must be 'inner' or 'left'")
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(
            f"fuzzy_join: overlapping column names {sorted(overlap)}; "
            "rename one side first"
        )
    from pybabe_spark.operators.similarity import _spread

    lvals = (
        _guarded(left, left_on, max_len)
        .select(F.col(left_on).alias("s"))
        .filter(F.col("s").isNotNull())
        .distinct()
    )
    rvals = (
        _guarded(right, right_on, max_len)
        .select(F.col(right_on).alias("s"))
        .filter(F.col("s").isNotNull())
        .distinct()
    )
    if max_dist == 1:
        # confirm-free d=1 plan (see fuzzy_string_pairs): equal pairs
        # by direct equi-join, substitutions by positional-deletion
        # keys, insert/delete by each side's deletions vs the other's
        # strings; every candidate is already a true ≤1 pair
        eq = (
            lvals.alias("a")
            .join(rvals.alias("b"), F.col("a.s") == F.col("b.s"))
            .select(
                F.col("a.s").alias("__ls"),
                F.col("b.s").alias("__rs"),
                F.lit(0).alias("dist"),
            )
        )
        lp = lvals.select(
            "s", F.explode(positional_deletion_keys("s")).alias("k")
        )
        rp = rvals.select(
            "s", F.explode(positional_deletion_keys("s")).alias("k")
        )
        subst = (
            _spread(lp, quadratic=True)
            .alias("a")
            .join(
                rp.alias("b"),
                (F.col("a.k") == F.col("b.k"))
                & (F.col("a.s") != F.col("b.s")),
            )
            .select(
                F.col("a.s").alias("__ls"),
                F.col("b.s").alias("__rs"),
                F.lit(1).alias("dist"),
            )
        )
        ld = lvals.select(
            "s", F.explode(deletion_keys("s", 1)).alias("k")
        ).filter(F.length("k") < F.length("s"))
        rd = rvals.select(
            "s", F.explode(deletion_keys("s", 1)).alias("k")
        ).filter(F.length("k") < F.length("s"))
        l_longer = (
            _spread(ld, quadratic=True)
            .alias("a")
            .join(rvals.alias("b"), F.col("a.k") == F.col("b.s"))
            .select(
                F.col("a.s").alias("__ls"),
                F.col("b.s").alias("__rs"),
                F.lit(1).alias("dist"),
            )
        )
        r_longer = (
            _spread(rd, quadratic=True)
            .alias("b")
            .join(lvals.alias("a"), F.col("b.k") == F.col("a.s"))
            .select(
                F.col("a.s").alias("__ls"),
                F.col("b.s").alias("__rs"),
                F.lit(1).alias("dist"),
            )
        )
        # eq and subst emit each pair once and the four branches are
        # mutually exclusive (dist/lengths); only the insert/delete
        # branches can repeat a pair across deletion positions
        pairs = eq.unionByName(subst).unionByName(
            l_longer.unionByName(r_longer).distinct()
        )
    else:
        ls = lvals.select(
            "s", F.explode(deletion_keys("s", max_dist)).alias("k")
        )
        rs = rvals.select(
            "s", F.explode(deletion_keys("s", max_dist)).alias("k")
        )
        # streamed side parallelism + banded confirm before the pair
        # dedup — see fuzzy_string_pairs
        cand = (
            _spread(ls, quadratic=True)
            .alias("a")
            .join(rs.alias("b"), F.col("a.k") == F.col("b.k"))
            .select(
                F.col("a.s").alias("__ls"), F.col("b.s").alias("__rs")
            )
        )
        pairs = (
            cand.withColumn(
                "dist",
                F.expr(f"levenshtein(__ls, __rs, {int(max_dist)})"),
            )
            .filter(F.col("dist") >= 0)
            .distinct()
        )
    matched = pairs.join(right, pairs.__rs == right[right_on]).drop(
        "__rs"
    )
    out = left.join(matched, left[left_on] == matched.__ls, how).drop(
        "__ls"
    )
    return out


def fuzzy_pairs_sql(
    table: str,
    id_col: str,
    s_col: str,
    max_dist: int = 1,
) -> str:
    """DuckDB oracle of :func:`fuzzy_pairs` — the all-pairs definition
    the blocking must reproduce exactly."""
    return f"""
    SELECT a.{id_col} AS id1, b.{id_col} AS id2,
           a.{s_col} AS s1, b.{s_col} AS s2,
           levenshtein(a.{s_col}, b.{s_col}) AS dist
    FROM {table} a JOIN {table} b
      ON a.{s_col} < b.{s_col}
     AND levenshtein(a.{s_col}, b.{s_col}) <= {int(max_dist)}
    """


def fuzzy_string_pairs_sql(
    table: str,
    s_col: str,
    max_dist: int = 1,
) -> str:
    """DuckDB oracle of :func:`fuzzy_string_pairs`."""
    return f"""
    WITH s AS (SELECT DISTINCT {s_col} AS s FROM {table}
               WHERE {s_col} IS NOT NULL)
    SELECT a.s AS s1, b.s AS s2, levenshtein(a.s, b.s) AS dist
    FROM s a JOIN s b
      ON a.s < b.s AND levenshtein(a.s, b.s) <= {int(max_dist)}
    """


def fellegi_sunter(
    pairs: DataFrame,
    fields: "dict[str, tuple[float, float]]",
    lower: float = 0.0,
    upper: float = 4.0,
) -> DataFrame:
    """Fellegi–Sunter probabilistic record-linkage scoring — the
    classical decision layer on top of blocking (Fellegi & Sunter
    1969): each candidate pair's log-odds of being a true match is the
    sum of per-field agreement weights, ``ln(m/u)`` on agreement and
    ``ln((1-m)/(1-u))`` on disagreement, where ``m``/``u`` are the
    field's match/unmatch agreement probabilities (supplied — from
    labeled data or EM run offline). Appends ``fs_score`` (micro-units)
    and ``fs_tier`` ∈ match / possible / non_match by the two
    thresholds (log-odds units).

    ``fields`` maps an existing BOOLEAN agreement column to its
    ``(m, u)``; a NULL agreement contributes weight 0 (the standard
    missing-is-no-information convention). Requires
    ``0 < u < m < 1`` per field (otherwise the weights lose their
    monotone meaning).

    Determinism: the log weights are computed ONCE in Python and enter
    the plan as integral micro-unit literals, so the score is a pure
    integer sum — bit-identical across engines, no transcendental
    evaluated by either. Scale shape: a single codegen projection over
    the pair table — zero shuffles beyond what produced the pairs.
    """
    import math

    if not fields:
        raise ValueError("fellegi_sunter: fields must be non-empty")
    if lower > upper:
        raise ValueError(
            f"fellegi_sunter: lower {lower} > upper {upper}"
        )
    missing = [c for c in fields if c not in pairs.columns]
    if missing:
        raise ValueError(f"fellegi_sunter: columns {missing} not in pairs")
    terms = []
    for col, (m, u) in fields.items():
        if not (0.0 < u < m < 1.0):
            raise ValueError(
                f"fellegi_sunter: field {col!r} needs 0 < u < m < 1, "
                f"got (m={m}, u={u})"
            )
        wa = int(round(math.log(m / u) * 1_000_000))
        wd = int(round(math.log((1.0 - m) / (1.0 - u)) * 1_000_000))
        terms.append(
            F.when(F.col(col).isNull(), F.lit(0))
            .when(F.col(col), F.lit(wa))
            .otherwise(F.lit(wd))
        )
    score = reduce(lambda a, b: a + b, terms).cast("bigint")
    lo = int(round(float(lower) * 1_000_000))
    hi = int(round(float(upper) * 1_000_000))
    return pairs.withColumn("fs_score", score).withColumn(
        "fs_tier",
        F.when(F.col("fs_score") >= hi, F.lit("match"))
        .when(F.col("fs_score") <= lo, F.lit("non_match"))
        .otherwise(F.lit("possible")),
    )


def fellegi_sunter_sql(
    pairs_select: str,
    fields: "dict[str, tuple[float, float]]",
    lower: float = 0.0,
    upper: float = 4.0,
    columns: str = "*",
) -> str:
    """DuckDB oracle of :func:`fellegi_sunter` — the identical integer
    micro-unit weight literals and tier thresholds."""
    import math

    terms = []
    for col, (m, u) in fields.items():
        wa = int(round(math.log(m / u) * 1_000_000))
        wd = int(round(math.log((1.0 - m) / (1.0 - u)) * 1_000_000))
        terms.append(
            f"CASE WHEN {col} IS NULL THEN 0"
            f" WHEN {col} THEN {wa} ELSE {wd} END"
        )
    score = " + ".join(terms)
    lo = int(round(float(lower) * 1_000_000))
    hi = int(round(float(upper) * 1_000_000))
    return f"""
    SELECT {columns}, fs_score,
           CASE WHEN fs_score >= {hi} THEN 'match'
                WHEN fs_score <= {lo} THEN 'non_match'
                ELSE 'possible' END AS fs_tier
    FROM (
        SELECT *, CAST({score} AS BIGINT) AS fs_score
        FROM ({pairs_select})
    )
    """
