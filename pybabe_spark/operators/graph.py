"""Graph operators over edge-list DataFrames: connected components,
PageRank, triangles and clustering, BFS / label propagation / SSSP,
k-core, link prediction and assortativity. No operator collects the
graph; every one is joins and aggregations over the edge list.

Each recurring idea is written once:

- :func:`_canonical_edges` — the undirected edge rule (``u = least``,
  ``v = greatest``, self-loops and NULL endpoints dropped, distinct)
  behind the triangle census, the clustering coefficient, both link
  predictors, assortativity, and the supplier-graph session memo in
  ``queries_analytics``.
- :func:`_degrees` — both directions ``(z, n)`` of a canonical edge
  set and each node's degree ``(z, d)``; :func:`_triangles` orients
  the edges by ``(degree, id)`` on top of it and closes the wedges.
- :func:`_both_directions` — the symmetrized, NULL- and
  self-loop-free edge set the frontier operators and k-core walk.
- :func:`_fixpoint` — the driver of every iterative operator
  (connected components' min-label rounds, label propagation and its
  one-label case BFS, SSSP, k-core). Each round is ONE eager
  ``localCheckpoint`` job that cuts the lineage, with a fingerprint
  ``observe()``-d on that same job; the loop stops when the
  fingerprint repeats, so convergence never costs an extra action. A
  cache that only the rounds read is held in
  :func:`~pybabe_spark.operators._util.pinned` and released before
  the operator returns — the returned plan reads the last checkpoint.

Connected components close near-dup PAIRS into clusters (doc A ~ B,
B ~ C ⇒ {A, B, C} is one dup cluster even if A ≁ C directly) — the
transitive policy next to ``dedup_scale.near_dedup_keep``'s
conservative greedy one. Algorithm: min-label propagation — each round
a node takes the minimum label among itself and its neighbors, so at
the fixpoint every node carries its component's minimum id (Kiveris
et al., "Connected Components in MapReduce", SOCC'14, the simple
variant: dup clusters are shallow). Round 1 is fused into label
initialization (initial labels are identities, so the first
propagation is min(id, min(neighbor)) in the init aggregation), and
the fingerprint is the label sum as exact DECIMAL(38,0): labels only
decrease, so an unchanged sum is exactly "no label changed".

Min-label propagation moves the minimum ONE hop per round, so its
round count is the component diameter. Exhaustion of ``max_iters``
switches to Kiveris et al.'s two-phase **large-star / small-star
alternation**, whose round count is O(log² n) regardless of diameter:
each large-star points every strictly-larger neighbor of a node at the
minimum of its closed neighborhood, each small-star does the same for
the not-larger neighbors, and the alternation contracts any graph to a
forest of stars centered on each component's minimum. The fallback is
seeded with the labels already earned (``(id, label)`` is a valid
same-component edge), so no propagation work is thrown away.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from pybabe_spark.operators._util import lazy_persist, pinned


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The undirected edge set of ``edges``: ``(u = least, v =
    greatest)``, self-loops and NULL endpoints dropped, distinct.

    Not persisted here: the operators persist it lazily (it feeds
    degrees, wedges and probes — without the cache each consumer
    re-derives the upstream lineage), while the supplier-graph session
    memo caches its own one-block copy, under which a second cache
    would only stack."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
    )


def _degrees(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(sym, deg)`` of a canonical edge set: ``sym`` holds both
    directions ``(z, n)`` of every edge, ``deg`` each node's degree
    ``(z, d)``."""
    sym = e.select(F.col("u").alias("z"), F.col("v").alias("n")).unionAll(
        e.select(F.col("v").alias("z"), F.col("u").alias("n"))
    )
    return sym, sym.groupBy("z").agg(F.count(F.lit(1)).alias("d"))


def _triangles(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(deg, tri)`` of a canonical edge set: node degrees ``(z, d)``
    and one ``(a, x, y)`` row per triangle.

    Every edge is oriented from its ≺-smaller endpoint, ``a ≺ b`` iff
    ``(deg(a), a) < (deg(b), b)``, so each triangle has exactly one
    apex ``a`` with two out-edges: wedges (x ≺ y) are generated ONLY at
    low-degree vertices and closed by the oriented edge x→y — total
    wedge work O(Σ out-deg²) ≤ O(m^1.5), not the naive Σ deg² a hub
    explodes. All equi-joins; the oriented set is lazily persisted
    (both wedge sides and the closing-edge probe read it)."""
    _, deg = _degrees(e)
    du = deg.select(F.col("z").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("z").alias("v"), F.col("d").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = lazy_persist(ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    ))
    x = oriented.select(
        F.col("a"), F.col("b").alias("x"), F.col("db").alias("dx")
    )
    y = oriented.select(
        F.col("a"), F.col("b").alias("y"), F.col("db").alias("dy")
    )
    wedges = x.join(y, "a").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    tri = wedges.join(
        oriented.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"],
        "left_semi",
    ).select("a", "x", "y")
    return deg, tri


def _both_directions(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """``(u, v)`` in both directions for every edge of ``edges``, NULL
    endpoints and self-loops dropped, distinct."""

    def side(a: str, b: str) -> DataFrame:
        return edges.select(F.col(a).alias("u"), F.col(b).alias("v")).filter(
            F.col("u").isNotNull()
            & F.col("v").isNotNull()
            & (F.col("u") != F.col("v"))
        )

    return side(src, dst).unionByName(side(dst, src)).distinct()


def _fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    fingerprint: list[Column],
    max_rounds: int,
) -> tuple[DataFrame, bool]:
    """Iterate ``state = step(state, i)`` for ``i = 0, 1, …`` until
    the ``fingerprint`` aggregates repeat, at most ``max_rounds``
    times; returns ``(state, converged)``.

    The initial state and every round's state are cut with an eager
    ``localCheckpoint`` — the round's ONLY job — with the fingerprint
    observed on that same job, so convergence detection costs no extra
    action. Callers pick a fingerprint that is monotone in the state
    (a label sum, a visited count, a surviving-edge count), so it
    repeats exactly when the state stopped changing; a step that
    changes nothing therefore stops after one round."""

    def cut(df: DataFrame) -> tuple[DataFrame, dict]:
        obs = Observation()
        df = df.observe(obs, *fingerprint).localCheckpoint(eager=True)
        return df, obs.get

    state, prev = cut(state)
    for i in range(max_rounds):
        state, fp = cut(step(state, i))
        if fp == prev:
            return state, True
        prev = fp
    return state, False


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: for every node u, connect each strictly
    larger neighbor to min(N(u) ∪ {u}). Output oriented first > second."""
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(
        F.least(F.first("u"), F.min("v")).alias("m")
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round over edges oriented first > second: for
    every node u, connect each neighbor (all smaller, plus u itself)
    to min(N(u)). Orientation first > second is preserved."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    children = e.join(mins, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    centers = mins.select("u", F.col("m").alias("v"))
    return (
        children.unionByName(centers)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _two_phase_star_forest(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Alternate large-star/small-star to the star-forest fixpoint and
    return it as (u = child, v = component-min root) edges.

    Convergence detection is two-tier: a per-round checksum
    (count + endpoint sum, observed on the round's checkpoint job —
    no extra action) gates a cheap exact set-equality confirm, so the
    sound check only runs when the checksum says the fixpoint is
    plausibly reached.
    """
    e = (
        edges.filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    for _ in range(max_rounds):
        obs = Observation()
        e2 = (
            _small_star(_large_star(e))
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.col("u").cast("decimal(38,0)")
                    + F.col("v").cast("decimal(38,0)")
                ).alias("s"),
            )
            .localCheckpoint(eager=True)
        )
        m = obs.get
        sig = (m["n"], m["s"])
        if sig == prev_sig and e2.exceptAll(e).isEmpty():
            return e2
        prev_sig = sig
        e = e2
    raise RuntimeError(
        f"two-phase connected components: no star-forest fixpoint after "
        f"{max_rounds} rounds — pathological input; raise max_rounds"
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """(id, component) for every node in ``edges``; ``component`` is the
    minimum node id in the connected component.

    Runs diameter-bound min-label propagation (one join + one agg per
    round — cheapest for the shallow clusters near-dedup emits). If
    ``max_iters`` rounds don't reach fixpoint (pathologically deep
    chains), switches to the O(log² n)-round large-star/small-star
    alternation instead of failing.

    Non-numeric node ids (string/md5/URL) are supported by mapping
    nodes to dense surrogate bigints first — the exact decimal-sum
    convergence metric needs numeric labels (casting a string label to
    DECIMAL would abort under ANSI) — running the numeric algorithm,
    and mapping back with the component represented by its MINIMUM
    original id (lexicographic for strings). Costs two data-linear
    joins + one group on the node set, nothing on the corpus.
    """
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    ).distinct()
    id_type = edges.schema[src].dataType.simpleString()
    if id_type not in ("byte", "short", "int", "bigint", "long", "integer"):
        nodes = (
            sym.select(F.col("u").alias("__orig"))
            .distinct()
            .withColumn("__nid", F.monotonically_increasing_id())
            .localCheckpoint(eager=True)  # pin the surrogate assignment
        )
        nu = nodes.select(F.col("__orig").alias("u"), F.col("__nid").alias("__nu"))
        nv = nodes.select(F.col("__orig").alias("v"), F.col("__nid").alias("__nv"))
        e_num = sym.join(nu, "u").join(nv, "v").select(
            F.col("__nu").alias(src), F.col("__nv").alias(dst)
        )
        num = connected_components(e_num, src, dst, max_iters)
        back = num.join(
            nodes.select(F.col("__nid").alias("id"), "__orig"), "id"
        )
        reps = back.groupBy("component").agg(F.min("__orig").alias("__rep"))
        return back.join(reps, "component").select(
            F.col("__orig").alias("id"), F.col("__rep").alias("component")
        )

    sym = sym.localCheckpoint(eager=True)

    def spread(labels: DataFrame, rnd: int) -> DataFrame:
        neighbor_labels = sym.join(
            labels.withColumnRenamed("id", "v"), "v"
        ).select(F.col("u").alias("id"), "label")
        parts = labels.unionByName(neighbor_labels)
        if rnd >= 2:
            # the graph has proven deeper than the shallow dup-cluster
            # case (still unconverged after 3 one-hop spreads): add
            # pointer doubling — the label OF my label (labels is total
            # over node ids and a label is always a node id, so the
            # self-join is total). Shortcutting makes reach per round
            # multiplicative — O(log diameter) rounds on chains instead
            # of O(diameter) — for one extra node-set equi-join inside
            # the same single job. Shallow graphs converge before ever
            # paying for it.
            jump = (
                labels.alias("x")
                .join(
                    labels.alias("y"),
                    F.col("x.label") == F.col("y.id"),
                )
                .select(
                    F.col("x.id").alias("id"),
                    F.col("y.label").alias("label"),
                )
            )
            parts = parts.unionByName(jump)
        return parts.groupBy("id").agg(F.min("label").alias("label"))

    # init ⊗ round 1 in one aggregation: label = min(id, min(neighbors))
    init = sym.groupBy(F.col("u").alias("id")).agg(
        F.least(F.first("u"), F.min("v")).alias("label")
    )
    labels, converged = _fixpoint(
        init,
        spread,
        [F.sum(F.col("label").cast("decimal(38,0)")).alias("s")],
        max_iters - 1,
    )
    if converged:
        return labels.withColumnRenamed("label", "component")
    # Deep-chain fallback: seed with the original edges plus the labels
    # already earned ((id, label) is a same-component edge), then run the
    # logarithmic-round two-phase alternation to the star forest.
    label_edges = labels.filter(F.col("id") != F.col("label")).select(
        F.col("id").alias("u"), F.col("label").alias("v")
    )
    seed = sym.select("u", "v").unionByName(label_edges)
    forest = _two_phase_star_forest(seed)
    forest_labels = forest.select(
        F.col("u").alias("id"), F.col("v").alias("component")
    ).unionByName(
        forest.select(F.col("v").alias("id")).distinct()
        .withColumn("component", F.col("id"))
    )
    # Nodes whose only edges were self-loops never enter the forest —
    # restore them as their own component.
    return labels.select("id").join(forest_labels, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def best_of_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """One survivor per transitive dup cluster: the row maximizing
    ``score_col`` (ties → min id); rows with no similar neighbor pass
    through. The quality-aware representative policy real pipelines
    want (keep the cleanest copy, not the lowest id). Shape: CC over
    the node set + one per-cluster window — both ≪ corpus.
    """
    from pyspark.sql import Window

    cc = connected_components(pairs, src, dst).withColumnRenamed("id", id_col)
    scored = df.join(cc, id_col, "left").withColumn(
        "__comp", F.coalesce(F.col("component"), F.col(id_col))
    )
    w = Window.partitionBy("__comp").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk", "__comp", "component")
    )


def dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(id, component, cluster_size) for every document, singletons
    included (their component is their own id, size 1): the cluster
    assignment a transitive near-dedup keeps one representative from."""
    cc = connected_components(pairs, src, dst)
    assigned = docs.select(F.col(id_col).alias("id")).join(
        cc, "id", "left"
    ).select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )
    sizes = assigned.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return assigned.join(sizes, "component").select(
        "id", "component", "cluster_size"
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_interval: int | None = None,
    seeds: DataFrame | None = None,
    seed_col: str = "node",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list → (node,
    rank_micro) with ranks in exact 1e-6 micro-units (bigint).

    Beyond-reference graph analytics next to ``connected_components``:
    rank flows along edges — ``r_{i+1}(v) = (1-d) + d · Σ_{u→v}
    r_i(u)/outdeg(u)`` with unnormalized init ``r_0 = 1`` — the standard
    power-iteration variant. Mass arriving at dangling nodes (no
    out-edges) is dropped, the classic simple treatment; feed a
    symmetrized edge list if every node must keep mass.

    Cross-engine determinism (house integer-micro-unit idiom,
    operators/classifier.py): the per-edge share is integer ``div``, the
    damped update is half-away-from-zero integer division against
    ``damping``'s exact Fraction — the whole iteration is integer
    arithmetic, so :func:`pagerank_sql` replays it bit-exactly and no
    decimal half-point ever arises.

    ``seeds`` switches to PERSONALIZED PageRank (the TrustRank form —
    Gyöngyi et al.): teleport mass lands ONLY on the seed nodes
    (``base_v = (1−d)·1e6·[v ∈ seeds]``, init likewise), so rank
    measures proximity-to-seeds along links — the crawl-quality
    propagation trick (seed trusted domains, rank the web by trust
    flow). The seed set rides one broadcast-ish equi-join onto the
    node table; everything else is the same integer iteration.

    Scale shape: state is one (node, rank) row per node; each iteration
    is one equi-join of the edge list with the rank table (both
    exchanged on src — AQE reuses the partitioning) plus one hash
    aggregation on dst, shuffles linear in |E|. The degree-annotated
    edge list and node set are lazily persisted once (no
    construction job; the cache fills at the query's own first action)
    so iterations never re-derive the upstream edge lineage; set
    ``checkpoint_interval`` to additionally cut the RANK lineage every
    k iterations (eager jobs) for deep iteration counts.
    """
    from fractions import Fraction

    if iters < 1:
        raise ValueError(f"pagerank: iters {iters} must be >= 1")
    if not 0.0 < damping < 1.0:
        raise ValueError(f"pagerank: damping {damping} outside (0, 1)")
    frac = Fraction(damping).limit_denominator(10**6)
    num, den = frac.numerator, frac.denominator
    base = ((den - num) * 1_000_000) // den

    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    # LAZY persists: the degree-annotated edges and the node set are
    # consumed once per iteration — without them every iteration (and
    # both sides of the final assembly) re-derives the full upstream
    # edge lineage (measured 40× source re-scan on the 3-iteration
    # trade-network query). persist() is construction-job-free.
    ewd = lazy_persist(e.join(deg, "src"))
    nodes = lazy_persist(
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if seeds is not None:
        flags = lazy_persist(
            nodes.join(
                seeds.select(F.col(seed_col).alias("node")).distinct()
                .withColumn("__is_seed", F.lit(1)),
                "node",
                "left",
            ).select(
                "node", F.coalesce("__is_seed", F.lit(0)).alias("__seed")
            )
        )
        base_col = (F.lit(base) * F.col("__seed")).cast("bigint")
        ranks = flags.select(
            "node",
            (F.lit(1_000_000) * F.col("__seed")).cast("bigint").alias("__r"),
        )
        node_base = flags
    else:
        base_col = F.lit(base).cast("bigint")
        ranks = nodes.withColumn("__r", F.lit(1_000_000).cast("bigint"))
        node_base = nodes
    for i in range(iters):
        contrib = ewd.join(ranks, ewd["src"] == ranks["node"]).select(
            F.col("dst").alias("node"), F.expr("__r div __deg").alias("__c")
        )
        sums = contrib.groupBy("node").agg(F.sum("__c").alias("__s"))
        ranks = node_base.join(sums, "node", "left").select(
            "node",
            (
                base_col
                + F.expr(
                    f"(2 * {num} * coalesce(__s, cast(0 as bigint)) + {den})"
                    f" div (2 * {den})"
                )
            ).alias("__r"),
        )
        if checkpoint_interval and (i + 1) % checkpoint_interval == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", F.col("__r").alias("rank_micro"))


def pagerank_sql(
    edges_cte: str,
    iters: int = 3,
    damping: float = 0.85,
    seeds_cte: str | None = None,
) -> str:
    """DuckDB oracle of :func:`pagerank`: the same integer micro-unit
    iteration unrolled as CTEs. ``edges_cte`` is a SELECT producing
    (src, dst); ``seeds_cte`` (a SELECT producing ``node``) mirrors the
    personalized form."""
    from fractions import Fraction

    frac = Fraction(damping).limit_denominator(10**6)
    num, den = frac.numerator, frac.denominator
    base = ((den - num) * 1_000_000) // den
    parts = [
        f"WITH edges AS ({edges_cte})",
        "deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)",
        "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges"
        " UNION ALL SELECT dst AS node FROM edges))",
    ]
    if seeds_cte is not None:
        parts.append(f"seedset AS (SELECT DISTINCT node FROM ({seeds_cte}))")
        parts.append(
            "flags AS (SELECT n.node,"
            " CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS seed"
            " FROM nodes n LEFT JOIN seedset s USING (node))"
        )
        parts.append(
            "r0 AS (SELECT node, CAST(1000000 * seed AS BIGINT) AS r"
            " FROM flags)"
        )
        base_expr = f"{base} * f.seed"
        node_src = "flags f"
    else:
        parts.append(
            "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)"
        )
        base_expr = str(base)
        node_src = "nodes f"
    for i in range(1, iters + 1):
        parts.append(
            f"s{i} AS (SELECT e.dst AS node, SUM(r.r // d.deg) AS s"
            f" FROM edges e JOIN deg d USING (src)"
            f" JOIN r{i-1} r ON r.node = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT f.node, {base_expr} +"
            f" (2 * {num} * COALESCE(s.s, 0) + {den}) // (2 * {den}) AS r"
            f" FROM {node_src} LEFT JOIN s{i} s USING (node))"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node, CAST(r AS BIGINT) AS rank_micro FROM r{iters}"
    )


def triangle_count(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Global triangle census of an undirected graph: ONE row —
    ``(n_nodes, n_edges, n_triangles)`` over the deduplicated,
    self-loop-free edge set.

    Scale algorithm (the standard distributed one, :func:`_triangles`):
    degree-ordered orientation, so each triangle has exactly one apex
    and wedge work is O(m^1.5), not the Σ deg² a hub explodes. Plan:
    degree agg (one shuffle), two degree joins, the wedge self-join on
    the apex, and a semi-join against the oriented closing edge — all
    equi-joins, no cartesian anywhere.
    """
    # LAZY persist: the edge set feeds degrees, orientation and the
    # closing-edge probe — without it every consumer re-derives the
    # whole upstream lineage (measured: a 36× source re-scan on the
    # supplier graph). persist() marks only — no construction job
    # (localCheckpoint(eager=False) is NOT construction-free: its .rdd
    # conversion can force AQE stage materialization) — and the cache
    # fills at the query's own first action.
    e = lazy_persist(_canonical_edges(edges, src, dst))
    deg, tri = _triangles(e)
    counts = e.agg(
        F.count(F.lit(1)).alias("n_edges"),
    ).crossJoin(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    return counts.crossJoin(n_tri).select("n_nodes", "n_edges", "n_triangles")


def triangle_count_sql(edges_cte: str) -> str:
    """DuckDB oracle of :func:`triangle_count` — the textbook u<v<w
    3-way join over the canonical edge set (``edges_cte`` SELECTs
    (id_a, id_b))."""
    return f"""
    WITH raw AS ({edges_cte}),
    e AS (
        SELECT DISTINCT LEAST(id_a, id_b) AS u, GREATEST(id_a, id_b) AS v
        FROM raw
        WHERE id_a IS NOT NULL AND id_b IS NOT NULL AND id_a <> id_b
    ),
    nodes AS (SELECT u AS n FROM e UNION SELECT v FROM e)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM e e1
            JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
            JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v) AS n_triangles
    """


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 6,
    src: str = "id_a",
    dst: str = "id_b",
    id_col: str | None = None,
) -> DataFrame:
    """Unweighted shortest hop-distance from a SOURCE SET over an
    undirected graph: ``(id, distance)`` for every node reachable
    within ``max_hops`` (sources at 0; unreachable nodes are absent).
    The k-hop neighborhood primitive (blast-radius queries, feature
    neighborhoods, seed expansion).

    :func:`propagate_labels` with every source carrying the same
    label: frontier iteration, one round per hop, per-round cost the
    edges incident to the frontier; an empty frontier stops it
    without an extra job.
    """
    if max_hops < 0:
        raise ValueError("bfs_distances: max_hops must be >= 0")
    seeds = sources.select(
        F.col(sources.columns[0]).alias("id"), F.lit(0).alias("label")
    )
    return propagate_labels(edges, seeds, max_hops, src, dst, id_col).drop(
        "label"
    )


def bfs_distances_sql(
    edges_cte: str, sources_cte: str, max_hops: int, id_col: str
) -> str:
    """DuckDB oracle of :func:`bfs_distances` — hop-unrolled CTE
    (min distance per node, capped at ``max_hops``)."""
    parts = [
        f"WITH edges AS ({edges_cte})",
        "sym AS (SELECT id_a AS u, id_b AS v FROM edges"
        " UNION SELECT id_b, id_a FROM edges)",
        f"d0 AS (SELECT DISTINCT s AS id, 0 AS distance"
        f" FROM ({sources_cte}))",
    ]
    for h in range(1, max_hops + 1):
        parts.append(
            f"d{h} AS (SELECT id, distance FROM d{h-1}"
            f" UNION ALL"
            f" SELECT DISTINCT sym.v AS id, {h} AS distance"
            f" FROM d{h-1} JOIN sym ON d{h-1}.id = sym.u"
            f" WHERE d{h-1}.distance = {h-1})"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT id AS {id_col}, CAST(MIN(distance) AS INT) AS distance"
        f" FROM d{max_hops} GROUP BY id"
    )


def propagate_labels(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 6,
    src: str = "id_a",
    dst: str = "id_b",
    id_col: str | None = None,
) -> DataFrame:
    """Seeded label propagation (graph Voronoi): every node reachable
    within ``max_hops`` of a seed takes the label of its NEAREST seed
    — ties at equal hop distance break to the smallest label. Returns
    ``(id, label, distance)``; unreached nodes are absent; a seeded
    node keeps its own label at distance 0 (duplicate seed ids take
    the min label). ``seeds`` columns are (id, label).

    The semi-supervised companion to :func:`bfs_distances`: spread
    trusted/spam/topic/owner labels from a seed set through a
    relationship graph — first-reach-wins, deterministic, no float
    scores. Frontier iteration on :func:`_fixpoint`: per round one
    frontier-edges join + one min() hash agg + one anti-join over the
    visited set, and an observed visited count so exhaustion stops
    without an extra job. Per-round cost is edges incident to the
    frontier, never the graph.
    """
    if max_hops < 0:
        raise ValueError("propagate_labels: max_hops must be >= 0")
    id_col = id_col or src
    sid, slab = seeds.columns[0], seeds.columns[1]
    seeded = (
        seeds.groupBy(F.col(sid).alias("id"))
        .agg(F.min(slab).alias("label"))
        .withColumn("distance", F.lit(0))
    )
    with pinned() as pin:
        # every hop joins the frontier against sym; only the rounds
        # read it — the returned plan reads the last checkpoint
        sym = pin(_both_directions(edges, src, dst))

        def hop(visited: DataFrame, i: int) -> DataFrame:
            nxt = (
                visited.filter(F.col("distance") == i)
                .join(sym, F.col("id") == F.col("u"))
                .groupBy(F.col("v").alias("id"))
                .agg(F.min("label").alias("label"))
                .join(visited, "id", "left_anti")
                .withColumn("distance", F.lit(i + 1))
            )
            return visited.unionByName(nxt)

        # the visited count repeats exactly when the frontier is empty
        visited, _ = _fixpoint(
            seeded, hop, [F.count(F.lit(1)).alias("n")], max_hops
        )
    return visited.withColumnRenamed("id", id_col)


def propagate_labels_sql(
    edges_cte: str,
    seeds_cte: str,
    max_hops: int,
    id_col: str,
) -> str:
    """DuckDB oracle of :func:`propagate_labels` — hop-unrolled CTE
    replaying the iteration exactly (min label per NEW node per hop).
    ``seeds_cte`` must select columns (s, label)."""
    # every d{h} is referenced three times by d{h+1} (scan, join,
    # NOT IN) — without MATERIALIZED DuckDB inlines CTEs and the
    # expansion is ~3^max_hops (house unrolled-CTE convention, same
    # as the sssp/k_core oracles)
    parts = [
        f"WITH edges AS MATERIALIZED ({edges_cte})",
        "sym AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM edges"
        " UNION SELECT id_b, id_a FROM edges)",
        f"d0 AS MATERIALIZED (SELECT s AS id, MIN(label) AS label,"
        f" 0 AS distance"
        f" FROM ({seeds_cte}) GROUP BY s)",
    ]
    for h in range(1, max_hops + 1):
        parts.append(
            f"d{h} AS MATERIALIZED"
            f" (SELECT id, label, distance FROM d{h-1}"
            f" UNION ALL"
            f" SELECT sym.v AS id, MIN(f.label) AS label,"
            f" {h} AS distance"
            f" FROM d{h-1} f JOIN sym ON f.id = sym.u"
            f" WHERE f.distance = {h-1}"
            f" AND sym.v NOT IN (SELECT id FROM d{h-1})"
            f" GROUP BY sym.v)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT id AS {id_col}, label,"
        f" CAST(distance AS INT) AS distance FROM d{max_hops}"
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Per-node local clustering coefficient: ``(node, degree,
    n_triangles, lcc_ppm, lcc)`` with ``lcc = 2·T_v / (d_v·(d_v−1))``
    as exact integral ppm (sign-free — both sides non-negative);
    degree-1 nodes report NULL. The community-density / spam-farm /
    ego-net cohesion signal — how close each node's neighborhood is to
    a clique.

    Same O(m^1.5) degree-oriented wedge machinery as
    :func:`triangle_count` (:func:`_triangles`); per-node
    credit is one explode of each triangle row to its three corners +
    one hash agg + a left join back onto the degree table (nodes in no
    triangle count zero). No new join shapes beyond the census.
    """
    # lazy — feeds degrees + orientation (triangle_count discipline)
    e = lazy_persist(_canonical_edges(edges, src, dst))
    deg, tri = _triangles(e)
    credits = (
        tri.select(
            F.explode(
                F.array(F.col("a"), F.col("x"), F.col("y"))
            ).alias("z")
        )
        .groupBy("z")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    out = deg.join(credits, "z", "left").select(
        F.col("z").alias("node"),
        F.col("d").alias("degree"),
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
    )
    ppm = F.when(
        F.col("degree") >= 2,
        F.expr(
            "(cast(n_triangles as decimal(38,0)) * 2000000)"
            " div (cast(degree as decimal(38,0)) * (degree - 1))"
        ).cast("bigint"),
    )
    return out.select(
        "node",
        "degree",
        "n_triangles",
        ppm.alias("lcc_ppm"),
        (ppm.cast("double") / 1e6).alias("lcc"),
    )


def clustering_coefficient_sql(edges_cte: str) -> str:
    """DuckDB oracle of :func:`clustering_coefficient` — textbook
    u<v<w triangle join exploded to corners, HUGEINT ppm."""
    return f"""
    WITH raw AS ({edges_cte}),
    e AS (
        SELECT DISTINCT LEAST(id_a, id_b) AS u, GREATEST(id_a, id_b) AS v
        FROM raw
        WHERE id_a IS NOT NULL AND id_b IS NOT NULL AND id_a <> id_b
    ),
    nodes AS (SELECT u AS n FROM e UNION ALL SELECT v FROM e),
    deg AS (SELECT n, COUNT(*) AS d FROM nodes GROUP BY n),
    tris AS (
        SELECT e1.u AS a, e1.v AS x, e2.v AS y
        FROM e e1
        JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    corners AS (
        SELECT a AS n FROM tris
        UNION ALL SELECT x FROM tris
        UNION ALL SELECT y FROM tris
    ),
    credits AS (SELECT n, COUNT(*) AS t FROM corners GROUP BY n)
    SELECT deg.n AS node,
           CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(credits.t, 0) AS BIGINT) AS n_triangles,
           CASE WHEN deg.d >= 2 THEN
             CAST((COALESCE(credits.t, 0)::HUGEINT * 2000000)
                  // (deg.d::HUGEINT * (deg.d - 1)) AS BIGINT)
           END AS lcc_ppm,
           CASE WHEN deg.d >= 2 THEN
             CAST((COALESCE(credits.t, 0)::HUGEINT * 2000000)
                  // (deg.d::HUGEINT * (deg.d - 1)) AS BIGINT) / 1e6
           END AS lcc
    FROM deg LEFT JOIN credits USING (n)
    """


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    id_col: str | None = None,
) -> DataFrame:
    """Weighted single/multi-source shortest paths, hop-bounded
    Bellman-Ford: ``(id, dist_cents)`` — the cheapest DIRECTED path of
    at most ``max_hops`` edges from any source node (sources at 0;
    unreachable nodes absent). The weighted sibling of
    :func:`bfs_distances`; symmetrize the edge set for undirected
    graphs.

    Weights go through the house cents lift (DECIMAL(18,2)·100 →
    bigint) so path costs are exact integer sums — no IEEE
    accumulation, identical across engines. The hop bound makes the
    semantics well-defined even with negative weights or cycles
    ("min cost over walks of ≤ k edges" — for non-negative weights and
    k ≥ |V|−1 this IS the shortest path).

    Per round (:func:`_fixpoint`): one frontier×edges equi-join on the
    node key + one min() hash agg over (state ∪ candidates); state is
    one row per reached node; an observed (count, sum) fingerprint
    stops early at the fixpoint without an extra job (distances
    decrease monotonically, so an unchanged fingerprint ⟺ converged —
    the result then equals the full unroll the oracle replays).
    """
    if max_hops < 0:
        raise ValueError("sssp: max_hops must be >= 0")
    id_col = id_col or "id"
    w_cents = (F.col(weight).cast("decimal(18,2)") * 100).cast("bigint")
    start = (
        sources.select(F.col(sources.columns[0]).alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("bigint"))
    )
    with pinned() as pin:
        # every round joins the frontier against e; only the rounds
        # read it — the returned plan reads the last checkpoint
        e = pin(
            edges.select(
                F.col(src).alias("u"), F.col(dst).alias("v"),
                w_cents.alias("w"),
            ).filter(
                F.col("u").isNotNull()
                & F.col("v").isNotNull()
                & F.col("w").isNotNull()
            )
        )

        def relax(state: DataFrame, _: int) -> DataFrame:
            cand = state.join(e, state["id"] == e["u"]).select(
                e["v"].alias("id"), (state["dist"] + e["w"]).alias("dist")
            )
            return (
                state.unionByName(cand)
                .groupBy("id")
                .agg(F.min("dist").alias("dist"))
            )

        state, _ = _fixpoint(
            start,
            relax,
            [F.count(F.lit(1)).alias("n"), F.sum("dist").alias("s")],
            max_hops,
        )
    return state.select(
        F.col("id").alias(id_col), F.col("dist").alias("dist_cents")
    )


def sssp_sql(
    edges_cte: str, sources_cte: str, max_hops: int, id_col: str
) -> str:
    """DuckDB oracle of :func:`sssp` — the full Bellman-Ford unroll
    (``edges_cte`` must yield (src, dst, w) with w already exact
    cents); the engine's early stop is a fixpoint, so results match."""
    parts = [
        f"WITH edges AS ({edges_cte})",
        "d0 AS (SELECT DISTINCT s AS id, CAST(0 AS BIGINT) AS dist"
        f" FROM ({sources_cte}))",
    ]
    for h in range(1, max_hops + 1):
        parts.append(
            f"d{h} AS MATERIALIZED (SELECT id, MIN(dist) AS dist FROM ("
            f"SELECT id, dist FROM d{h-1}"
            f" UNION ALL"
            f" SELECT e.dst AS id, d{h-1}.dist + e.w AS dist"
            f" FROM d{h-1} JOIN edges e ON d{h-1}.id = e.src"
            f") GROUP BY id)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT id AS {id_col}, CAST(dist AS BIGINT) AS dist_cents"
        f" FROM d{max_hops}"
    )


def k_core(
    edges: DataFrame,
    k: int,
    max_rounds: int = 8,
    src: str = "id_a",
    dst: str = "id_b",
    id_col: str | None = None,
) -> DataFrame:
    """k-core decomposition by iterative peeling: the maximal subgraph
    in which every node keeps degree ≥ ``k`` — the standard cohesion
    filter (spam rings, dense communities, nucleus extraction).
    Returns the surviving ``(id, degree)`` with degree measured INSIDE
    the core. Undirected: edges are symmetrized and de-duplicated;
    self-loops dropped.

    Each round: one degree hash agg over the surviving edge set, keep
    nodes with degree ≥ k, then semi-join the edge set down to
    surviving endpoints — per-round cost is the CURRENT edge set,
    monotonically shrinking. :func:`_fixpoint` observes the surviving
    edge count, so an unchanged count stops without an extra job
    (peeling is monotone — unchanged ⟺ fixpoint ⟺ the true k-core). If
    ``max_rounds`` rounds don't converge the result is the
    ``max_rounds``-peel partial — the SAME well-defined object the
    oracle's unroll produces, and a superset of the k-core; raise
    ``max_rounds`` for pathological chains (each round peels at least
    one node of every non-converged component, and real graphs
    converge in a handful).
    """
    if k < 1:
        raise ValueError(f"k_core: k {k} must be >= 1")
    if max_rounds < 1:
        raise ValueError("k_core: max_rounds must be >= 1")
    id_col = id_col or src

    def peel(e: DataFrame, _: int) -> DataFrame:
        deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
        keep = deg.filter(F.col("degree") >= k).select("u")
        return e.join(keep, "u", "left_semi").join(
            keep.select(F.col("u").alias("v")), "v", "left_semi"
        )

    # the fingerprint is the EDGE count: every node in e has degree
    # >= 1, so a peeled node always removes edges — edge count
    # unchanged ⟺ no node peeled ⟺ the k-core. The twice-consumed
    # keep subtree is recomputed from the checkpointed e (one small
    # agg, and Spark reuses the exchange between the two semi-joins).
    e, _ = _fixpoint(
        _both_directions(edges, src, dst),
        peel,
        [F.count(F.lit(1)).alias("n")],
        max_rounds,
    )
    # final degrees inside the surviving edge set, filtered once more
    out = (
        e.groupBy("u")
        .agg(F.count(F.lit(1)).alias("degree"))
        .filter(F.col("degree") >= k)
    )
    return out.select(F.col("u").alias(id_col), "degree")


def k_core_sql(
    edges_cte: str, k: int, max_rounds: int, id_col: str
) -> str:
    """DuckDB oracle of :func:`k_core` — the peeling unroll
    (``edges_cte`` yields (id_a, id_b); same symmetrize/dedup)."""
    parts = [
        f"WITH edges AS ({edges_cte})",
        "e0 AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM edges"
        " WHERE id_a IS NOT NULL AND id_b IS NOT NULL AND id_a != id_b"
        " UNION SELECT id_b, id_a FROM edges"
        " WHERE id_a IS NOT NULL AND id_b IS NOT NULL AND id_a != id_b)",
    ]
    for r in range(1, max_rounds + 1):
        parts.append(
            f"n{r} AS MATERIALIZED (SELECT u FROM (SELECT u, COUNT(*) AS d"
            f" FROM e{r-1} GROUP BY u) WHERE d >= {int(k)})"
        )
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT u, v FROM e{r-1}"
            f" WHERE u IN (SELECT u FROM n{r})"
            f" AND v IN (SELECT u FROM n{r}))"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT u AS {id_col}, CAST(COUNT(*) AS BIGINT) AS degree"
        f" FROM e{max_rounds} GROUP BY u HAVING COUNT(*) >= {int(k)}"
    )


def adamic_adar(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_degree: int = 256,
    top_n: int = 100,
) -> DataFrame:
    """Adamic–Adar link prediction over an undirected graph: the
    ``top_n`` NON-edges ranked by ``AA(x,y) = Σ_{z∈N(x)∩N(y)}
    1/ln(deg z)`` — the classic "who should be connected" score
    (common neighbors, discounted by how promiscuous each shared
    neighbor is). Output ``(id_a, id_b, common_neighbors, aa)``,
    ranked by the EXACT decimal score with an (id_a, id_b) tiebreak.

    Contract (mirrored verbatim by the oracle): wedge centers with
    degree > ``max_degree`` are excluded — the capped-candidate rule
    every scalable AA uses, and principled here because a hub's
    contribution is the smallest possible (1/ln d → 0) while its wedge
    fan-out is the largest (d²). Each center's weight ``1/ln(deg)``
    (deg ≥ 2 for any wedge, so ln > 0) is ONE IEEE expression rounded
    once to DECIMAL(18,12); pair scores are exact decimal SUMS of
    those literals — order-independent, engine-identical, and the
    ranking compares decimals, never floats.

    Scale shape: one degree agg, wedge self-join generated ONLY at
    capped centers (work Σ_{deg≤cap} deg² ≤ cap·m, never the hub
    blow-up), one pair hash agg, one anti-join against the edge set,
    TakeOrderedAndProject for the top_n. No cartesian, nothing
    collected.
    """
    if max_degree < 2:
        raise ValueError("adamic_adar: max_degree must be >= 2")
    if top_n < 1:
        raise ValueError("adamic_adar: top_n must be >= 1")
    # lazy persist: feeds degrees, wedges, and the anti-join probe
    e = lazy_persist(_canonical_edges(edges, src, dst))
    sym, deg = _degrees(e)
    # deg-1 leaves can never center a wedge — and ln(1) = 0 would
    # divide by zero under ANSI, so they leave the weight table here
    w = deg.filter((F.col("d") >= 2) & (F.col("d") <= max_degree)).select(
        "z",
        F.expr("CAST(1.0 / ln(CAST(d AS DOUBLE)) AS DECIMAL(18,12))").alias(
            "__w"
        ),
    )
    centers = sym.join(w, "z")
    a, b = centers.alias("a"), centers.alias("b")
    wedges = a.join(
        b,
        (F.col("a.z") == F.col("b.z")) & (F.col("a.n") < F.col("b.n")),
    ).select(
        F.col("a.n").alias("x"),
        F.col("b.n").alias("y"),
        F.col("a.__w").alias("__w"),
    )
    pairs = wedges.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
        F.sum("__w").cast("decimal(28,12)").alias("__aa"),
    )
    non_edges = pairs.join(
        e,
        (F.col("x") == F.col("u")) & (F.col("y") == F.col("v")),
        "left_anti",
    )
    # rank on the double-cast score (the output value — DuckDB's ORDER
    # BY sees the aliased double too), ties broken by the pair id
    return (
        non_edges.select(
            F.col("x").alias("id_a"),
            F.col("y").alias("id_b"),
            "common_neighbors",
            F.col("__aa").cast("double").alias("aa"),
        )
        .orderBy(
            F.col("aa").desc(), F.col("id_a").asc(), F.col("id_b").asc()
        )
        .limit(top_n)
    )


def adamic_adar_sql(
    edges_cte: str, max_degree: int = 256, top_n: int = 100
) -> str:
    """DuckDB oracle of :func:`adamic_adar` — same canonical edges,
    same capped centers, same DECIMAL(18,12) weights and exact decimal
    ranking (``edges_cte`` SELECTs (id_a, id_b))."""
    return f"""
    WITH raw AS ({edges_cte}),
    e AS (
        SELECT DISTINCT LEAST(id_a, id_b) AS u, GREATEST(id_a, id_b) AS v
        FROM raw
        WHERE id_a IS NOT NULL AND id_b IS NOT NULL AND id_a <> id_b
    ),
    sym AS (
        SELECT u AS z, v AS n FROM e
        UNION ALL SELECT v AS z, u AS n FROM e
    ),
    deg AS (SELECT z, COUNT(*) AS d FROM sym GROUP BY z),
    w AS (
        SELECT z, CAST(1.0 / ln(CAST(d AS DOUBLE)) AS DECIMAL(18,12)) AS w
        FROM deg WHERE d >= 2 AND d <= {int(max_degree)}
    ),
    centers AS (SELECT sym.z, sym.n, w.w FROM sym JOIN w USING (z)),
    pairs AS (
        SELECT a.n AS x, b.n AS y,
               CAST(COUNT(*) AS BIGINT) AS common_neighbors,
               CAST(SUM(a.w) AS DECIMAL(28,12)) AS aa
        FROM centers a JOIN centers b ON a.z = b.z AND a.n < b.n
        GROUP BY a.n, b.n
    )
    SELECT x AS id_a, y AS id_b, common_neighbors,
           CAST(aa AS DOUBLE) AS aa
    FROM pairs p
    WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = p.x AND e.v = p.y)
    ORDER BY aa DESC, x, y
    LIMIT {int(top_n)}
    """


def jaccard_link_prediction(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_degree: int = 256,
    top_n: int = 100,
) -> DataFrame:
    """Jaccard link prediction over an undirected graph — the
    ``top_n`` NON-edges ranked by ``J(x,y) = |N(x)∩N(y)| /
    |N(x)∪N(y)|``: :func:`adamic_adar`'s unweighted sibling (AA
    discounts promiscuous shared neighbors; Jaccard normalizes by how
    social the PAIR is — a score of 1 means the two nodes' circles
    coincide). Output ``(id_a, id_b, common_neighbors, jaccard_ppm)``
    ranked by the exact integral ppm score with the (id_a, id_b)
    tiebreak.

    Contract (mirrored verbatim by the oracle): wedge CENTERS with
    degree > ``max_degree`` are excluded, exactly the
    :func:`adamic_adar` capped-candidate rule — at a hub the wedge
    fan-out is d² while its evidential weight is weakest. The
    intersection count is therefore over capped centers; the union
    denominator uses the FULL degrees: ``jaccard_ppm = cn·10⁶ div
    (deg x + deg y − cn)`` — one exact integer division, no IEEE
    anywhere, so the ranking is engine-identical by construction.

    Scale shape: one degree agg, wedges generated only at capped
    centers (Σ_{deg≤cap} deg² ≤ cap·m), one pair hash agg with the
    endpoint degrees RIDING THE WEDGE ROWS (attached once at the
    2m-row centers grain — constant within each pair group, so the
    agg just takes max; attaching post-agg would cost two more
    shuffles of the candidate table), an anti-join against the edge
    set, TakeOrderedAndProject for top_n.
    """
    if max_degree < 2:
        raise ValueError("jaccard_link_prediction: max_degree must be >= 2")
    if top_n < 1:
        raise ValueError("jaccard_link_prediction: top_n must be >= 1")
    # lazy persist: feeds degrees, wedges, and the anti-join probe
    e = lazy_persist(_canonical_edges(edges, src, dst))
    sym, deg = _degrees(e)
    nd = deg.select(F.col("z").alias("n"), F.col("d").alias("__dn"))
    centers = sym.join(
        deg.filter(F.col("d") <= max_degree).select("z"), "z"
    ).join(nd, "n")
    a, b = centers.alias("a"), centers.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.z") == F.col("b.z")) & (F.col("a.n") < F.col("b.n")),
        )
        .groupBy(F.col("a.n").alias("x"), F.col("b.n").alias("y"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
            F.max("a.__dn").alias("__dx"),
            F.max("b.__dn").alias("__dy"),
        )
    )
    non_edges = pairs.join(
        e,
        (F.col("x") == F.col("u")) & (F.col("y") == F.col("v")),
        "left_anti",
    )
    return (
        non_edges.select(
            F.col("x").alias("id_a"),
            F.col("y").alias("id_b"),
            "common_neighbors",
            F.expr(
                "CAST((common_neighbors * 1000000)"
                " div (__dx + __dy - common_neighbors) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy(
            F.col("jaccard_ppm").desc(),
            F.col("id_a").asc(),
            F.col("id_b").asc(),
        )
        .limit(top_n)
    )


def jaccard_link_prediction_sql(
    edges_cte: str, max_degree: int = 256, top_n: int = 100
) -> str:
    """DuckDB oracle of :func:`jaccard_link_prediction` — same
    canonical edges, capped centers, full-degree union, exact floored
    integral ppm ranking."""
    return f"""
    WITH raw AS ({edges_cte}),
    e AS (
        SELECT DISTINCT LEAST(id_a, id_b) AS u, GREATEST(id_a, id_b) AS v
        FROM raw
        WHERE id_a IS NOT NULL AND id_b IS NOT NULL AND id_a <> id_b
    ),
    sym AS (
        SELECT u AS z, v AS n FROM e
        UNION ALL SELECT v AS z, u AS n FROM e
    ),
    deg AS (SELECT z, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY z),
    centers AS (
        SELECT sym.z, sym.n FROM sym
        JOIN deg USING (z) WHERE deg.d <= {int(max_degree)}
    ),
    pairs AS (
        SELECT a.n AS x, b.n AS y, CAST(COUNT(*) AS BIGINT) AS cn
        FROM centers a JOIN centers b ON a.z = b.z AND a.n < b.n
        GROUP BY a.n, b.n
    )
    SELECT x AS id_a, y AS id_b, cn AS common_neighbors,
           CAST((cn * 1000000) // (dx.d + dy.d - cn) AS BIGINT)
             AS jaccard_ppm
    FROM pairs p
    JOIN deg dx ON dx.z = p.x
    JOIN deg dy ON dy.z = p.y
    WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = p.x AND e.v = p.y)
    ORDER BY jaccard_ppm DESC, x, y
    LIMIT {int(top_n)}
    """


def assortativity(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Degree assortativity coefficient — ONE row ``(n_edges, r)``:
    the Pearson correlation of the degrees at the two ends of every
    edge (Newman's r). Positive = hubs link to hubs (social
    networks), negative = hubs link to leaves (infrastructure / star
    topologies) — the single number that says which regime a graph's
    skew lives in, and therefore which join/salting strategy its
    traversals need.

    Computed over the SYMMETRIZED edge list (each undirected edge
    contributes both (du, dv) and (dv, du) — the standard convention,
    which makes the two marginals identical): degree moments
    ``Σd₁, Σd₁², Σd₁d₂`` are exact DECIMAL(38,0) sums, and

        r = (M·Σd₁d₂ − (Σd₁)²) / (M·Σd₁² − (Σd₁)²)

    (M = 2·|E|) is ONE fixed-shape IEEE expression rounded once to
    DECIMAL(18,6). NULL when the degree variance is zero (a regular
    graph has no assortativity to measure). Self-loops and duplicate
    edges are dropped.

    Scale shape: one degree agg + two joins of the edge list against
    the tiny degree table + one map-combinable moment agg. No
    windows, no quadratic object anywhere.
    """
    # lazy persist: feeds the degree agg and both end joins
    e = lazy_persist(_canonical_edges(edges, src, dst))
    sym, deg = _degrees(e)
    du = deg.select("z", F.col("d").alias("__du"))
    dv = deg.select(F.col("z").alias("n"), F.col("d").alias("__dv"))
    ends = sym.join(du, "z").join(dv, "n")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = ends.agg(
        F.count(F.lit(1)).cast("bigint").alias("__m"),
        F.coalesce(F.sum(d(F.col("__du"))), F.lit(0))
        .cast("decimal(38,0)").alias("__s1"),
        F.coalesce(F.sum(d(F.col("__du")) * F.col("__du")), F.lit(0))
        .cast("decimal(38,0)").alias("__s2"),
        F.coalesce(F.sum(d(F.col("__du")) * F.col("__dv")), F.lit(0))
        .cast("decimal(38,0)").alias("__sp"),
    )
    from pybabe_spark.operators.sketch import _sdiv

    num = (
        d(F.col("__m")) * F.col("__sp") - F.col("__s1") * F.col("__s1")
    ).cast("double")
    den = (
        d(F.col("__m")) * F.col("__s2") - F.col("__s1") * F.col("__s1")
    ).cast("double")
    return agg.select(
        (F.col("__m") / 2).cast("bigint").alias("n_edges"),
        F.when(
            den > 0.0,
            _sdiv(num, den).cast("decimal(18,6)").cast("double"),
        ).alias("r"),
    )


def assortativity_sql(edges_cte: str) -> str:
    """DuckDB oracle of :func:`assortativity` — same symmetrized
    ends, HUGEINT moments, identical fixed-shape finish."""
    return f"""
    WITH raw AS ({edges_cte}),
    e AS (
        SELECT DISTINCT LEAST(id_a, id_b) AS u, GREATEST(id_a, id_b) AS v
        FROM raw
        WHERE id_a IS NOT NULL AND id_b IS NOT NULL AND id_a <> id_b
    ),
    sym AS (
        SELECT u AS z, v AS n FROM e
        UNION ALL SELECT v AS z, u AS n FROM e
    ),
    deg AS (SELECT z, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY z),
    ends AS (
        SELECT du.d AS d1, dv.d AS d2
        FROM sym JOIN deg du ON du.z = sym.z
        JOIN deg dv ON dv.z = sym.n
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               COALESCE(SUM(CAST(d1 AS HUGEINT)), 0) AS s1,
               COALESCE(SUM(CAST(d1 AS HUGEINT) * d1), 0) AS s2,
               COALESCE(SUM(CAST(d1 AS HUGEINT) * d2), 0) AS sp
        FROM ends
    )
    SELECT CAST(m / 2 AS BIGINT) AS n_edges,
           CASE WHEN CAST(CAST(m AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
                     > 0.0 THEN
             CAST(CAST(
               CAST(CAST(m AS HUGEINT) * sp - s1 * s1 AS DOUBLE)
               / CAST(CAST(m AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
             AS DECIMAL(18,6)) AS DOUBLE) END AS r
    FROM m
    """
