"""Similarity search over embedding columns (array<float>).

- :func:`ann_brute_force` — exact cosine top-k: broadcast the (small)
  query set, stream the corpus once, per-query top-k via window rank.
  The baseline and the verification oracle.
- :func:`ann_lsh` — sign-random-projection LSH: deterministic
  md5-derived hyperplanes bucket the corpus; candidates = same bucket;
  exact re-rank inside buckets. The scale path: bucket build is a narrow
  map + one shuffle on bucket id, and each query probes one bucket
  instead of the full corpus.

Pair scoring is one numpy einsum per Arrow batch (vectorized; ~2-5×
the interpreted ``aggregate`` fold); the all-pairs near-dup path keeps
the codegen fold over pre-normalized vectors, where one dot per pair
already beats Arrow transfer of the quadratic pair set. Similarities
are surfaced as DECIMAL(18,6) so cross-engine float summation-order
noise (≈1e-15) cannot flip a comparison — verified value-identical to
the DuckDB oracle's sequential fold at every test SF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from pybabe_spark.operators._util import local_or_create_df


def _dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def _norm2(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """cos(a, b) = dot / sqrt(|a|² · |b|²) as a double column."""
    return _dot(a, b) / F.sqrt(_norm2(a) * _norm2(b))


def _with_normalized(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    """Pre-normalize a vector column to unit length, ONCE per row.

    Pairwise cosine then reduces to a single dot product per pair —
    Spark's higher-order functions are interpreted per element, so
    cutting three array passes per pair to one is a ~3× saving on the
    quadratic stage (corpus-linear work moves to the cheap side).
    """
    norm = F.sqrt(_norm2(F.col(vec_col)))
    return df.withColumn("__norm", norm).withColumn(
        out_col,
        F.transform(F.col(vec_col), lambda x: x.cast("double") / F.col("__norm")),
    ).drop("__norm")



def _spread(
    df: DataFrame, target_bytes: int = 8 << 20, quadratic: bool = False
) -> DataFrame:
    """Right-size the partitioning of the STREAMED side of a broadcast
    join (which inherits its partitioning): an id-bounded or single-file
    input collapses to 1 partition and serializes the pair-scoring
    stage, while blanket ``repartition(defaultParallelism)`` turns a
    KB-scale input into task-scheduling overhead. Target = one partition
    per ``target_bytes`` of plan-estimated input (min 2 so scoring is
    never serialized, capped at cluster parallelism). ``quadratic=True``
    is for all-pairs self-join callers whose downstream work grows with
    rows², not bytes — they always get full parallelism. Already-
    well-partitioned inputs (the 100 TB corpus) pass through untouched —
    no gratuitous shuffle. All plan probes go through
    :mod:`pybabe_spark.plans.introspect` so the path also works under
    Spark Connect sessions (where the private surfaces are absent):
    unknown partitioning degrades to a modest bounded repartition."""
    from pybabe_spark.plans.introspect import (
        default_parallelism,
        num_partitions,
        plan_size_bytes,
    )

    par = default_parallelism(df.sparkSession)
    have = num_partitions(df)
    if have is not None and have >= par:
        return df
    if quadratic:
        return df.repartition(par)
    size = plan_size_bytes(df)
    if size is None:
        want = max(2, min(par, 8))
    else:
        want = max(2, min(par, size // target_bytes + 1))
    if have is not None and have >= want:
        return df
    return df.repartition(want)


def ann_brute_force(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, sim DECIMAL(18,6)).

    Plan shape: broadcast-nested-loop of the broadcast query set against
    a single corpus scan (cost |corpus| × |queries| dot products), then
    per-query top-k. Self-matches are excluded. Ties break on neighbor
    id, so results are fully deterministic.

    Scoring runs as one numpy einsum per Arrow batch (2× the
    interpreted array fold). The DECIMAL(18,6) rounding absorbs the
    ±1e-15 summation-order difference vs the SQL oracle's sequential
    fold — verified value-identical to both the fold form and the
    DuckDB oracle at every test SF.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    )
    # each corpus row is scored against every query: |queries| dots per
    # byte, so size partitions more aggressively than a plain scan
    c = _spread(c, target_bytes=2 << 20)
    sims = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pandas(F.col("__qvec"), F.col("__cvec"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("sim"),
        )
    )
    return _topk_by_query(sims, k)


def _cosine_pandas(a, b):
    """Vectorized cosine scoring: one numpy einsum per Arrow batch
    instead of an interpreted array fold per row (~5× on the scoring
    stage). Downstream DECIMAL(18,6) rounding makes the values
    oracle-stable despite numpy's pairwise summation order.

    Wrapped lazily — ``pandas_udf`` resolves its return type against the
    active session, which may not exist at import time.
    """

    @pandas_udf("double")
    def _cos(x: pd.Series, y: pd.Series) -> pd.Series:
        X = np.asarray(x.tolist(), dtype="float64")
        Y = np.asarray(y.tolist(), dtype="float64")
        num = np.einsum("ij,ij->i", X, Y)
        den = np.linalg.norm(X, axis=1) * np.linalg.norm(Y, axis=1)
        return pd.Series(num / den)

    return _cos(a, b)


#: Sign-test dead-band for LSH projections. Different engines sum the
#: projection in different orders (Catalyst codegen fold, numpy einsum,
#: DuckDB fold) — float noise is ~1e-14 absolute at these magnitudes, so
#: an EXACTLY-zero dot product (plausible: the planes are half-integers)
#: or one within noise of zero could flip a sign bit between engines.
#: Every sign test is ``proj > _SIGN_EPS``: near-zero projections land in
#: the 0 bit on all paths. 1e-9 is 1e5× the noise floor and 1e-3× any
#: realistic nonzero projection.
_SIGN_EPS = 1e-9


def _plane_component(plane: int, dim: int) -> str:
    """Deterministic pseudo-random hyperplane component in [-7.5, 7.5]:
    the first md5 nibble of 'p_d', centered. Reproducible anywhere."""
    return (
        f"(CAST(instr('0123456789abcdef', substr(md5('{plane}_{dim}'), 1, 1)) AS DOUBLE)"
        f" - 8.5)"
    )


def lsh_bucket_expr(vec_col: str, dims: int, planes: int = 8) -> Column:
    """Sign-random-projection bucket id (0 .. 2^planes-1) for a vector —
    the pure-SQL DEFINITION (what any engine, incl. the DuckDB oracle,
    can replay verbatim). The hot paths use :func:`_bucket_pandas`, the
    Arrow-batched einsum of the same projections: a dims×planes flat SQL
    tree costs ~1s of Catalyst analysis per query and falls out of
    codegen into interpreted eval (measured ~10× slower corpus-side).
    """
    bits = []
    for p in range(planes):
        terms = " + ".join(
            f"CAST({vec_col}[{d}] AS DOUBLE) * {_plane_component(p, d)}"
            for d in range(dims)
        )
        bits.append(
            f"(CASE WHEN ({terms}) > {_SIGN_EPS!r} THEN {1 << p} ELSE 0 END)"
        )
    return F.expr(" + ".join(bits)).cast("int")


def _lsh_planes(dims: int, planes: int) -> "np.ndarray":
    """The md5-derived hyperplane matrix (planes × dims)."""
    return np.array(
        [[_py_plane(p, d) for d in range(dims)] for p in range(planes)],
        dtype="float64",
    )


def _bucket_pandas(dims: int, planes: int):
    """Arrow-batched bucket id: one ``X @ P.T`` einsum + sign-bit pack
    per batch. Evaluates the same projections as :func:`lsh_bucket_expr`
    (einsum sums in a different order, but the shared ``_SIGN_EPS``
    dead-band makes the sign test engine-independent).
    Wrapped lazily (pandas_udf resolves its type against the session).
    """
    P = _lsh_planes(dims, planes)
    weights = 1 << np.arange(planes)

    @pandas_udf("int")
    def _bucket(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype="float64")
        return pd.Series(((X @ P.T > _SIGN_EPS) @ weights).astype("int32"))

    return _bucket


def _probe_pandas(dims: int, planes: int, nprobe: int):
    """Arrow-batched multi-probe bucket list per query vector:
    ``[home, home ^ (1<<p1), ...]`` with p1, p2, ... the planes ranked by
    |projection| ascending (Lv et al., VLDB'07 — the near-boundary bits
    are the likeliest to disagree with a true neighbor's). Same numpy
    math as :func:`_lsh_probe_pairs`, but in-plan: no collect job."""
    P = _lsh_planes(dims, planes)
    weights = 1 << np.arange(planes)
    flips = min(nprobe - 1, planes)

    @pandas_udf("array<int>")
    def _probe(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype="float64")
        proj = X @ P.T
        home = ((proj > _SIGN_EPS) @ weights).astype("int64")
        order = np.argsort(np.abs(proj), axis=1)
        out = []
        for i in range(len(X)):
            buckets = [int(home[i])]
            for j in range(flips):
                buckets.append(int(home[i]) ^ (1 << int(order[i, j])))
            out.append(buckets)
        return pd.Series(out)

    return _probe


def _py_plane(plane: int, dim: int) -> float:
    """Python mirror of :func:`_plane_component` (same md5-nibble
    hyperplanes): instr() is 1-based, so nibble+1-8.5 = nibble-7.5."""
    import hashlib

    nibble = int(hashlib.md5(f"{plane}_{dim}".encode()).hexdigest()[0], 16)
    return nibble + 1 - 8.5


#: ANN query batches are collected driver-side ("small by contract").
#: Guarded like reshape.transpose: a large batch must raise actionably,
#: not silently OOM the driver.
_MAX_QUERY_ROWS = 10_000


def _collect_query_rows(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    limit: int | None = None,
) -> list:
    limit = _MAX_QUERY_ROWS if limit is None else limit
    # one job: collect limit+1 rows and check the overflow sentinel,
    # instead of a separate count() scan before the collect
    rows = queries.select(id_col, vec_col).limit(limit + 1).collect()
    if len(rows) > limit:
        raise ValueError(
            f"ANN query side is driver-collected by contract; refusing "
            f"> {limit} query rows. Split the query batch (e.g. loop over "
            f"sampling.hash_bucket slices) or run corpus-vs-corpus ops "
            f"(embedding_neardup_pairs) instead."
        )
    return rows


def _lsh_probe_pairs(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    planes: int,
    nprobe: int,
) -> list[tuple[int, list[float], int]]:
    """(query_id, vector, probe_bucket) tuples, computed driver-side.

    The query batch is small by contract; multi-probe (Lv et al.,
    VLDB'07) adds the buckets reached by flipping the lowest-|margin|
    hyperplane bits — a near-boundary projection is the likeliest bit
    to disagree with a true neighbor's. Same numpy math as the
    in-plan :func:`lsh_bucket_expr`, so home buckets agree exactly.
    """
    P = np.array(
        [[_py_plane(p, d) for d in range(dims)] for p in range(planes)],
        dtype="float64",
    )
    qrows = _collect_query_rows(queries, id_col, vec_col)
    X = np.asarray([r[vec_col] for r in qrows], dtype="float64")
    proj = X @ P.T
    home = (proj > _SIGN_EPS).astype("int64") @ (1 << np.arange(planes))
    order = np.argsort(np.abs(proj), axis=1)
    pairs = []
    for i, r in enumerate(qrows):
        buckets = [int(home[i])]
        for j in range(min(nprobe - 1, planes)):
            buckets.append(int(home[i]) ^ (1 << int(order[i, j])))
        pairs.extend(
            (r[id_col], [float(x) for x in r[vec_col]], b) for b in buckets
        )
    return pairs


def _id_type(df: DataFrame, id_col: str) -> str:
    """The id column's DDL type, so probe-pair schemas carry the caller's
    id type (string/uuid ids are common) instead of hardcoding bigint."""
    return df.schema[id_col].dataType.simpleString()


def _topk_by_query(sims: DataFrame, k: int) -> DataFrame:
    """Per-query top-k with the deterministic (sim DESC, neighbor ASC)
    tie-break shared by every ANN variant. Unscorable pairs (NULL/NaN
    sim — e.g. a zero-norm vector's 0/0 cosine) are excluded rather
    than ranked into the result."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.filter(F.col("sim").isNotNull() & ~F.isnan(F.col("sim")))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def ann_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    planes: int = 4,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate cosine top-k probing the query's LSH bucket(s).

    ``nprobe`` > 1 turns on multi-probe (Lv et al., VLDB'07): each query
    also checks the buckets reached by flipping its lowest-|margin|
    hyperplane bits — a near-boundary projection is the likeliest bit to
    disagree with a true neighbor's — buying recall without growing
    buckets (candidates scale ×nprobe, never corpus-sized). Scale
    shape: corpus bucketed once (narrow map),
    then an equi-join on bucket id replaces the cross join — shuffle is
    corpus-sized, and a 100 TB corpus can be *stored* pre-bucketed
    (partitionBy bucket) to skip even that.
    """
    bucket = _bucket_pandas(dims, planes)
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        bucket(F.col(vec_col)).alias("__bucket"),
    )
    if nprobe <= 1:
        q_sel = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            bucket(F.col(vec_col)).alias("__bucket"),
        )
    else:
        # multi-probe IN-PLAN: per query, explode [home, home^flip...]
        # — one Arrow batch over the small query side, no collect job,
        # no driver round-trip
        probe = _probe_pandas(dims, planes, nprobe)
        q_sel = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            F.explode(probe(F.col(vec_col))).alias("__bucket"),
        )
    q = F.broadcast(q_sel)
    sims = (
        c.join(q, "__bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pandas(F.col("__qvec"), F.col("__cvec"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("sim"),
        )
    )
    return _topk_by_query(sims, k)


def build_lsh_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    planes: int = 4,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus pre-bucketed: rows stored ``partitionBy(bucket)``
    under the sign-random-projection hash — the layout
    :func:`ann_lsh`'s docstring promises for 100 TB. The bucket hash is
    derived purely from md5 constants, so no sidecar state is needed
    (unlike IVF's centroids): any session can re-derive probe buckets.
    A probe then reads only matching partitions, pruned at the file
    listing (asserted in tests/test_plans.py).
    """
    bucket = _bucket_pandas(dims, planes)
    (
        corpus.select(
            F.col(id_col), F.col(vec_col), bucket(F.col(vec_col)).alias("bucket")
        )
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )


def append_lsh_index(
    new_rows: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    planes: int = 4,
) -> None:
    """Append a vector batch to a :func:`build_lsh_index` layout
    WITHOUT touching the indexed rows — the incremental-crawl shape of
    ``append_bm25_index``, for ANN. The bucket hash is stateless md5
    math (no sidecar), so appending a batch is bit-identical to
    rebuilding over the union (asserted in tests); ``dims``/``planes``
    must match the build. Single-writer, like every stored index here.
    """
    bucket = _bucket_pandas(dims, planes)
    (
        new_rows.select(
            F.col(id_col), F.col(vec_col), bucket(F.col(vec_col)).alias("bucket")
        )
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(path)
    )


def ann_lsh_stored(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    planes: int = 4,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k against a :func:`build_lsh_index` layout.

    Probe buckets are computed driver-side from the (small-by-contract)
    query batch, so the bucket list is a LITERAL ``isin`` predicate —
    Catalyst prunes non-probed partitions at the file listing, before a
    byte of vector data is read. Candidates and ranking are identical to
    the in-memory :func:`ann_lsh` with the same ``nprobe``.
    """
    pairs = _lsh_probe_pairs(queries, id_col, vec_col, dims, planes, nprobe)
    probe_buckets = sorted({b for _, _, b in pairs})

    corpus = spark.read.parquet(path).filter(F.col("bucket").isin(probe_buckets))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        F.col("bucket").alias("__bucket"),
    )
    q = F.broadcast(
        local_or_create_df(
            spark,
            [(qid, vec, b) for qid, vec, b in pairs],
            f"query_id {_id_type(queries, id_col)}, "
            "__qvec array<double>, __bucket int",
        )
    )
    sims = (
        c.join(q, "__bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pandas(F.col("__qvec"), F.col("__cvec"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("sim"),
        )
    )
    return _topk_by_query(sims, k)


def _ivf_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    nlist: int,
    sample_size: int,
    iters: int,
):
    """Deterministic spherical k-means centroids from a bounded sample.

    The sample is the ``sample_size`` lowest-id vectors (TakeOrdered —
    no full sort even on a huge corpus), collected once to the driver;
    centroids are tiny (nlist × dim) and ship to executors by closure.
    Init = first ``nlist`` sample vectors, so the whole procedure is
    reproducible with no RNG.
    """
    sample = (
        corpus.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(sample_size)
        .collect()
    )
    X = np.asarray([r[vec_col] for r in sample], dtype="float64")
    # a zero-norm vector in the sample would turn its row — and any
    # centroid seeded from it — into NaNs, silently collapsing cells
    X = X[np.linalg.norm(X, axis=1) > 0]
    if len(X) < nlist:
        raise ValueError(
            f"k-means training sample has {len(X)} usable (non-zero) "
            f"vectors < nlist={nlist}; raise sample_size or lower nlist"
        )
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    C = X[:nlist].copy()
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(nlist):
            members = X[assign == j]
            if len(members):
                m = members.mean(axis=0)
                C[j] = m / np.linalg.norm(m)
    return C


def ann_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 4,
    sample_size: int = 2048,
    iters: int = 5,
    centroids=None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means cells replace the
    cross join. Corpus rows are assigned to their nearest centroid (one
    vectorized Arrow-batch matmul per partition — no per-row Python);
    each query probes its ``nprobe`` closest cells. Candidate set is
    ~nprobe/nlist of the corpus, exact cosine re-rank inside.

    ``centroids`` (an ``nlist × dim`` ndarray) lets a caller fit once
    and probe many times — the index-reuse shape of a real ANN service;
    omitted, a deterministic fit runs on a bounded sample. The query
    batch is small by contract (same contract as :func:`ann_ivf_stored`)
    and is collected once so probe cells are computed driver-side — one
    fewer Python stage, and the probed cell ids become plan literals.

    Scale shape: assignment is a narrow map; the probe join is an
    equi-join on cell id (shuffle ∝ candidates, broadcastable query
    side); at 100 TB the corpus can be stored ``partitionBy(cell)`` so
    probes prune partitions at the scan (see :func:`build_ivf_index`).
    """
    C = (
        centroids
        if centroids is not None
        else _ivf_centroids(corpus, id_col, vec_col, nlist, sample_size, iters)
    )

    cell_of = _cell_of_udf(C)
    qrows = _collect_query_rows(queries, id_col, vec_col)
    Q = np.asarray([r[vec_col] for r in qrows], dtype="float64")
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    order = np.argsort(-(Qn @ C.T), axis=1)[:, :nprobe]
    pairs = [
        (r[id_col], [float(x) for x in r[vec_col]], int(cell))
        for r, cells in zip(qrows, order)
        for cell in cells
    ]
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        cell_of(F.col(vec_col)).alias("__cell"),
    )
    q = F.broadcast(
        local_or_create_df(
            corpus.sparkSession,
            pairs,
            f"query_id {_id_type(queries, id_col)}, "
            "__qvec array<double>, __cell int",
        )
    )
    sims = (
        c.join(q, "__cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pandas(F.col("__qvec"), F.col("__cvec"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("sim"),
        )
    )
    return _topk_by_query(sims, k)


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, sim ≥ threshold).

    Exact all-pairs form (the oracle-checkable definition). At scale,
    bucket with :func:`lsh_bucket_expr` first and compare within buckets —
    same contract, corpus-linear shuffle.
    """
    normed = _with_normalized(
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")),
        "__v", "__vn",
    ).select("__id", "__vn")
    a = normed.select(F.col("__id").alias("id_a"), F.col("__vn").alias("__va"))
    b = normed.select(F.col("__id").alias("id_b"), F.col("__vn").alias("__vb"))
    # the nested-loop pair join inherits the streamed side's partitioning;
    # downstream work is |df|² pair dots, so spread to full parallelism
    a = _spread(a, quadratic=True)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            _dot(F.col("__va"), F.col("__vb"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("sim"),
        )
        .filter(F.col("sim") >= F.lit(threshold))
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: (id, scale, q array<int>)
    with ``x_i ≈ q_i × scale`` — a 4× storage cut for a 100 TB embedding
    store, with cosine error bounded by scale/2 per component.

    Deterministic integer rounding ``floor(x/scale + 0.5)`` (not
    banker's rounding) so any SQL engine reproduces the codes
    bit-for-bit; ``scale = max|x|/127``; all-zero vectors quantize to
    zeros with scale 0. Pure codegen expressions, narrow map, zero
    shuffle.
    """
    v = F.col(vec_col)
    abs_max = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(abs_max > 0, abs_max / F.lit(127.0)).otherwise(F.lit(0.0))
    out = df.select(
        F.col(id_col),
        scale.alias("scale"),
        v.alias("__v"),
    )
    q = F.when(
        F.col("scale") > 0,
        F.transform(
            F.col("__v"),
            lambda x: F.floor(x.cast("double") / F.col("scale") + F.lit(0.5))
            .cast("int"),
        ),
    ).otherwise(F.transform(F.col("__v"), lambda x: F.lit(0)))
    return out.select(id_col, "scale", q.alias("q"))


def dequantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    q_col: str = "q",
    scale_col: str = "scale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: q × scale → array<double>."""
    return df.select(
        F.col(id_col),
        F.transform(
            F.col(q_col), lambda x: x.cast("double") * F.col(scale_col)
        ).alias(out_col),
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    sample_size: int = 2048,
    iters: int = 5,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus as an on-disk IVF index: rows stored
    ``partitionBy(cell)`` with the k-means centroids in a sidecar
    (``<path>/_centroids``, written through the same filesystem).

    The stored layout is what makes IVF pay at 100 TB: a probe reads
    ``nprobe``/``nlist`` of the *files*, pruned at the scan by the
    partition filter (asserted in tests/test_plans.py) — the index build
    is one bounded centroid fit + one partitioned write, both reusable
    across every subsequent query batch.
    """
    C = _ivf_centroids(corpus, id_col, vec_col, nlist, sample_size, iters)
    _write_ivf_cells(corpus, path, C, id_col, vec_col, mode)
    spark = corpus.sparkSession
    rows = [(i, [float(x) for x in C[i]]) for i in range(len(C))]
    (
        spark.createDataFrame(rows, "cell int, centroid array<double>")
        .coalesce(1)
        .write.mode(mode)
        .json(path.rstrip("/") + "/_centroids")
    )


def _write_ivf_cells(rows, path, C, id_col, vec_col, mode) -> None:
    """Assign rows to their nearest of the closure-shipped centroids
    (one Arrow-batch matmul per partition) and write partitionBy(cell)."""

    @pandas_udf("int")
    def cell_of(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype="float64")
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        return pd.Series((X @ C.T).argmax(axis=1).astype("int32"))

    (
        rows.select(
            F.col(id_col), F.col(vec_col), cell_of(F.col(vec_col)).alias("cell")
        )
        .write.mode(mode)
        .partitionBy("cell")
        .parquet(path)
    )


def append_ivf_index(
    new_rows: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a vector batch to a :func:`build_ivf_index` layout
    WITHOUT re-reading indexed vectors or refitting: cells are assigned
    with the STORED centroid sidecar (which stays immutable, so every
    probe — before or after any number of appends — partitions the
    space identically). Appending equals a build over the union with
    the same centroids (asserted in tests); a periodic full rebuild
    refreshes centroid quality when the corpus drifts, exactly like a
    production IVF service. Single-writer, like ``append_bm25_index``.
    """
    spark = new_rows.sparkSession
    cent = spark.read.json(path.rstrip("/") + "/_centroids")
    crows = sorted(
        ((r["cell"], r["centroid"]) for r in cent.collect()), key=lambda t: t[0]
    )
    C = np.asarray([c for _, c in crows], dtype="float64")
    _write_ivf_cells(new_rows, path, C, id_col, vec_col, "append")


def ann_ivf_stored(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k against a :func:`build_ivf_index` layout.

    Probe cells are computed from the (small-by-contract) query set on
    the driver, so the cell list is a LITERAL ``isin`` predicate —
    Catalyst prunes non-probed partitions at the file listing, before a
    byte of vector data is read. Scoring/rank then matches
    :func:`ann_ivf`.
    """
    cent = spark.read.json(path.rstrip("/") + "/_centroids")
    crows = sorted(
        ((r["cell"], r["centroid"]) for r in cent.collect()), key=lambda t: t[0]
    )
    C = np.asarray([c for _, c in crows], dtype="float64")

    qrows = _collect_query_rows(queries, id_col, vec_col)
    Q = np.asarray([r[vec_col] for r in qrows], dtype="float64")
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    order = np.argsort(-(Qn @ C.T), axis=1)[:, :nprobe]
    probe_pairs = [
        (r[id_col], int(c))
        for r, cells in zip(qrows, order)
        for c in cells
    ]
    probe_cells = sorted({c for _, c in probe_pairs})

    corpus = spark.read.parquet(path).filter(F.col("cell").isin(probe_cells))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        F.col("cell").alias("__cell"),
    )
    q = F.broadcast(
        local_or_create_df(
            queries.sparkSession,
            probe_pairs,
            f"query_id {_id_type(queries, id_col)}, __cell int",
        ).join(
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
            ),
            "query_id",
        )
    )
    sims = (
        c.join(q, "__cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pandas(F.col("__qvec"), F.col("__cvec"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("sim"),
        )
    )
    return _topk_by_query(sims, k)


def semantic_dedup(
    df: DataFrame,
    k_clusters: int = 8,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
    sample_size: int = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, find semantic near-duplicate pairs WITHIN each
    cluster, and drop the pair member closer to its cluster centroid —
    the paper keeps the low-centroid-similarity (more extreme, more
    informative) example.

    Deterministic oracle-able form (``train_iters=0``, the default): the
    centroids are the embeddings of the ``k_clusters`` lowest ids
    (seeded Voronoi assignment, no Lloyd iterations), so any engine can
    replay cluster assignment exactly. ``train_iters>0`` is the QUALITY
    path: deterministic spherical k-means on a bounded lowest-id sample
    (the IVF training routine, ``_ivf_centroids`` — still RNG-free and
    reproducible, just not expressible in one SQL query). Zero-norm
    vectors are unscorable: they take no part in clustering or pairing
    and come back kept with NULL cell/centroid_sim.

    Returns (id, cell, centroid_sim, kept) for every input row.

    100 TB shape: the k centroid vectors broadcast (one linear pass
    assigns cells — no shuffle); the quadratic pair scan is confined to
    one cluster at a time (shuffle on cell, the same bounded-bucket
    discipline as banded LSH / IVF cells — SemDeDup's own design point:
    clustering exists precisely to avoid the corpus-wide pair space);
    the drop rule is one aggregation over the pair list. Cluster count
    scales with the corpus (the paper uses 50k clusters for 100M+ docs)
    to bound per-cluster membership.

    Beyond-reference (the reference dedups whole rows only,
    pybabe/dedup.py:5-35); complements :func:`embedding_neardup_pairs`
    (threshold pairs, no keep rule) and the MinHash family (lexical, not
    semantic, similarity).
    """
    base = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).withColumn("__n2", _norm2(F.col("__v")))
    scorable = _with_normalized(
        base.filter(F.col("__n2") > 0).drop("__n2"), "__v", "__vn"
    ).select("__id", "__vn")

    # centroids: embeddings of the k lowest ids, indexed 0..k-1 in id
    # order — collected driver-side like the IVF centroid set (k rows by
    # construction, a TakeOrdered over the id column; the centroid table
    # must fit one executor's memory to broadcast anyway). With
    # train_iters the seeds are refined by deterministic spherical
    # k-means on a bounded sample instead.
    if train_iters > 0:
        C = _ivf_centroids(
            df, id_col, vec_col, k_clusters, sample_size, train_iters
        )
        seed_vecs = [[float(x) for x in row] for row in C]
    else:
        seed_rows = scorable.orderBy("__id").limit(k_clusters).collect()
        seed_vecs = [list(r["__vn"]) for r in seed_rows]
    seeds = F.broadcast(
        local_or_create_df(
            df.sparkSession,
            [(i, v) for i, v in enumerate(seed_vecs)],
            "__cell int, __cv array<double>",
        )
    )

    # Voronoi assignment: argmax centroid similarity; ties break to the
    # lowest cell index so every engine picks the same cell. The ×k
    # expanded rows carry ONLY (id, cell, sim) — ~20 bytes — through
    # the argmax aggregation; the vector is re-attached afterwards by
    # an id equi-join. Carrying __vn through the expansion instead
    # multiplies the vector payload by k and spills the aggregation
    # hash table (measured at the ×30 stress point: 4.5 GB memory +
    # 0.23 GB disk spill before this split, zero after, wall time
    # unchanged — the stage_bytes instrumentation in bench.py --stress
    # exists to catch exactly this class of hidden memory cliff).
    sims = scorable.join(seeds).select(
        "__id",
        "__cell",
        _dot(F.col("__vn"), F.col("__cv"))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("__csim"),
    )
    assigned = (
        sims.groupBy("__id")
        .agg(
            F.max_by(
                F.struct("__cell", "__csim"),
                F.struct(F.col("__csim"), -F.col("__cell")),
            ).alias("__best")
        )
        .select("__id", "__best.__cell", "__best.__csim")
        .join(scorable, "__id")
        .select("__id", "__cell", "__vn", "__csim")
    )

    # within-cell near-duplicate pairs; per pair, the member CLOSER to
    # the centroid is dropped (ties: the higher id).
    a = assigned.select(
        F.col("__cell"),
        F.col("__id").alias("__ida"),
        F.col("__vn").alias("__va"),
        F.col("__csim").alias("__csa"),
    )
    b = assigned.select(
        F.col("__cell"),
        F.col("__id").alias("__idb"),
        F.col("__vn").alias("__vb"),
        F.col("__csim").alias("__csb"),
    )
    # pair scoring keeps the codegen fold over pre-normalized vectors:
    # measured equal to the Arrow-einsum variant here (1.62 vs 1.67 s at
    # sf0.1) because Arrow transfer of the quadratic pair set cancels
    # the einsum's fold savings — the module-top policy for pair sets
    pairs = (
        a.join(b, "__cell")
        .filter(F.col("__ida") < F.col("__idb"))
        .withColumn(
            "__sim",
            _dot(F.col("__va"), F.col("__vb"))
            .cast("decimal(18,6)")
            .cast("double"),
        )
        .filter(F.col("__sim") >= F.lit(threshold))
    )
    drops = pairs.select(
        F.when(F.col("__csa") > F.col("__csb"), F.col("__ida"))
        .otherwise(F.col("__idb"))
        .alias("__id")
    ).distinct()

    out = (
        base.select("__id", "__n2")
        .join(assigned.select("__id", "__cell", "__csim"), "__id", "left")
        .join(drops.withColumn("__drop", F.lit(True)), "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("__cell").alias("cell"),
            F.col("__csim").alias("centroid_sim"),
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("kept"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid 2011: "Product quantization
# for nearest neighbor search", IEEE TPAMI 33(1))
# ---------------------------------------------------------------------------

def build_pq_codebooks(
    df: DataFrame,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Seeded PQ codebooks: subspace ``j``'s ``ks`` centroids are the
    j-th subvectors of the ``ks`` lowest-id vectors — the deterministic,
    any-engine-replayable seeding used across this module (cf. the
    semantic_dedup centroids); production k-means refinement shares
    every downstream stage. Returns ``codebooks[j][c][i]`` as plain
    floats (shape m × ks × dims/m)."""
    rows = (
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .orderBy("__id")
        .limit(ks)
        .collect()
    )
    if not rows:
        raise ValueError("build_pq_codebooks: empty input")
    dims = len(rows[0]["__v"])
    if dims % m != 0:
        raise ValueError(f"build_pq_codebooks: dims {dims} not divisible by m={m}")
    sub = dims // m
    return [
        [[float(r["__v"][j * sub + i]) for i in range(sub)] for r in rows]
        for j in range(m)
    ]


def train_pq_codebooks(
    df: DataFrame,
    m: int = 8,
    ks: int = 16,
    iters: int = 5,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Quality-path PQ codebooks: per-subspace squared-L2 k-means on a
    bounded lowest-id sample (TakeOrdered — no full sort), init = the
    first ``ks`` sample subvectors. Deterministic and RNG-free like
    :func:`_ivf_centroids`; pass the result to :func:`pq_encode` /
    :func:`ann_pq` via ``codebooks=``. The seeded (``iters=0``-
    equivalent) form in :func:`build_pq_codebooks` stays the
    SQL-replayable oracle definition."""
    rows = (
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .orderBy("__id")
        .limit(sample_size)
        .collect()
    )
    if len(rows) < ks:
        raise ValueError(
            f"train_pq_codebooks: sample has {len(rows)} rows < ks={ks}"
        )
    X = np.asarray([list(r["__v"]) for r in rows], dtype="float64")
    dims = X.shape[1]
    if dims % m != 0:
        raise ValueError(f"train_pq_codebooks: dims {dims} not divisible by m={m}")
    sub = dims // m
    books = []
    for j in range(m):
        Xj = X[:, j * sub:(j + 1) * sub]
        C = Xj[:ks].copy()
        for _ in range(iters):
            d = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(ks):
                members = Xj[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append([[float(x) for x in row] for row in C])
    return books


def _pq_sub_dists(X: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """Squared L2 distances of every subvector to every centroid:
    (n, m, ks) from X (n, dims) and C (m, ks, sub).

    The accumulation is an EXPLICIT left-to-right loop over the sub
    dimensions — elementwise IEEE adds in index order — so the result is
    bit-identical to a flat ``(x1-c1)*(x1-c1) + (x2-c2)*(x2-c2) + ...``
    chain evaluated by any engine (the oracle SQL is exactly that
    chain). No pairwise/SIMD reduction whose order would drift."""
    m, ks, sub = C.shape
    cols = [j * sub for j in range(m)]
    D = None
    for i in range(sub):
        diff = X[:, [c + i for c in cols], None] - C[None, :, :, i]
        term = diff * diff
        D = term if D is None else D + term
    return D


def pq_encode(
    df: DataFrame,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ-encode each vector to ``m`` small codes: per subspace, the
    index of the nearest codebook centroid (squared L2; ties to the
    lowest index — numpy argmin's first-minimum). Returns
    (id, codes array<int>).

    64-dim float32 → 8 bytes of codes is a 32× compression; at scale
    the codes table is what ships to the ADC scan.

    Plan shape: one Arrow-batched linear pass (broadcast-free: the
    m × ks codebook travels inside the UDF closure), zero shuffle. A
    pure-codegen expression form was measured first and rejected: the
    m × ks × sub distance tree (~3k nodes) costs ~13 s of analysis/
    codegen per run at ANY data size, while the einsum-style batch path
    runs the same 2000 rows in ~0.2 s. Distances are bit-identical to
    the oracle's flat SQL chains (see _pq_sub_dists), so argmin needs
    no rounding at all — exact ties resolve to the lower index on every
    engine.
    """
    if codebooks is None:
        codebooks = build_pq_codebooks(df, m, ks, id_col, vec_col)
    C = np.asarray(codebooks, dtype="float64")
    return df.select(
        F.col(id_col), _pq_encode_udf(C)(F.col(vec_col)).alias("codes")
    )


def _pq_encode_udf(CB: "np.ndarray"):
    """Arrow-batched PQ encoder (argmin over :func:`_pq_sub_dists`,
    ties to the lower index) — shared by :func:`pq_encode` and
    :func:`ann_ivfpq` so the code semantics cannot drift apart."""

    @pandas_udf("array<int>")
    def _enc(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype="float64")
        codes = _pq_sub_dists(X, CB).argmin(axis=2)
        return pd.Series([list(map(int, row)) for row in codes])

    return _enc


def _adc_query_tables(qrows, CB: "np.ndarray", id_col: str, vec_col: str):
    """Per-query ADC lookup tables as DECIMAL(18,6) values, aligned
    with ``qrows``: the same bit-exact left-to-right arithmetic as the
    oracle's SQL chains (:func:`_pq_sub_dists`), quantized by
    :func:`~pybabe_spark.operators._util.round6` — the identical
    rounding of Spark's and DuckDB's double→decimal casts. Shared by
    :func:`ann_pq` and :func:`ann_ivfpq` so their distances stay
    bit-equal."""
    from pybabe_spark.operators._util import round6

    Q = np.asarray([list(r[vec_col]) for r in qrows], dtype="float64")
    T = _pq_sub_dists(Q, CB)
    return [
        [
            [round6(T[qi, j, c]) for c in range(T.shape[2])]
            for j in range(T.shape[1])
        ]
        for qi in range(len(qrows))
    ]


def _adc_sum_expr() -> Column:
    """Approximate distance of a codes row against the query's ``__tbl``
    column: m decimal lookups summed in an exact decimal fold."""
    return F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("__tbl"),
            lambda c, t: F.element_at(t, c + F.lit(1)),
        ),
        F.lit(0).cast("decimal(28,6)"),
        # decimal addition widens its static type; fold state must keep
        # the zero's type, so narrow each step back (m bounded terms
        # cannot overflow 22 integer digits)
        lambda acc, v: (acc + v).cast("decimal(28,6)"),
    )


def _topk_by_adist(sims: DataFrame, k: int) -> DataFrame:
    """k rows per query, ascending approximate distance, ties to the
    lower neighbor id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def ann_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ top-k: each query precomputes its
    m × ks table of subspace distances to every centroid; a DB vector's
    approximate distance is the sum of m table lookups by its codes.

    Returns (query_id, neighbor_id, adist double), k rows per query,
    ascending distance (ties to the lower neighbor id).

    Plan shape: the query tables (queries × m × ks entries, tiny by the
    small-query contract) are computed driver-side with the same
    bit-exact left-to-right arithmetic as the oracle's SQL chains, then
    DECIMAL(18,6)-quantized (``round6`` — the identical rounding of
    Spark's and DuckDB's double→decimal casts)
    and broadcast; the corpus side is the CODES table only — one narrow
    scan, a zip_with/aggregate lookup-sum per row, per-query top-k via
    window rank. No shuffle of the corpus beyond the top-k exchange;
    decimal table entries make the lookup SUMS order-independent and
    exact across engines.
    """
    if codebooks is None:
        codebooks = build_pq_codebooks(corpus, m, ks, id_col, vec_col)
    if codes is None:
        codes = pq_encode(corpus, m, ks, id_col, vec_col, codebooks=codebooks)
    C = np.asarray(codebooks, dtype="float64")

    qrows = _collect_query_rows(queries, id_col, vec_col)
    tables = _adc_query_tables(qrows, C, id_col, vec_col)
    q = F.broadcast(
        local_or_create_df(
            queries.sparkSession,
            [(r[id_col], tbl) for r, tbl in zip(qrows, tables)],
            f"query_id {_id_type(queries, id_col)}, "
            "__tbl array<array<decimal(18,6)>>",
        )
    )
    sims = (
        codes.select(F.col(id_col).alias("neighbor_id"), "codes")
        .join(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _adc_sum_expr().cast("double").alias("adist"),
        )
    )
    return _topk_by_adist(sims, k)


def _cell_of_udf(C: "np.ndarray"):
    """Arrow-batched nearest-centroid assignment for IVF variants (the
    nlist × dim centroid matrix ships in the UDF closure)."""

    @pandas_udf("int")
    def cell_of(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype="float64")
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        return pd.Series((X @ C.T).argmax(axis=1).astype("int32"))

    return cell_of


def ann_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ks: int = 16,
    centroids=None,
    codebooks: list[list[list[float]]] | None = None,
    sample_size: int = 2048,
    iters: int = 5,
) -> DataFrame:
    """IVF-PQ (the IVFADC composition, Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): the IVF coarse
    quantizer prunes the corpus to each query's ``nprobe`` cells, and
    distance INSIDE the probed cells is the PQ asymmetric-distance
    lookup-sum over the row's codes — the shape a billion-vector ANN
    service runs (Faiss IndexIVFPQ). Codes here quantize the raw
    vectors, not residuals (IVFFlat-style PQ): one shared codebook
    serves every cell, which keeps the codes table reusable by plain
    :func:`ann_pq` and the encode pass cell-independent.

    Returns (query_id, neighbor_id, adist double), ≤k rows per query,
    ascending approximate distance (ties to the lower neighbor id).

    Scale shape: ONE narrow Arrow-batched corpus pass emits
    (id, cell, codes) — at 100 TB this is the stored index form
    (``partitionBy(cell)``, 8-byte codes per vector instead of the
    vector). Probe cells and ADC tables are computed driver-side from
    the small-by-contract query batch and broadcast; the probe join is
    an equi-join on cell id touching ~nprobe/nlist of the codes table;
    per-query top-k is a window rank. Decimal table entries keep the
    lookup sums order-independent and engine-exact.
    """
    C = (
        centroids
        if centroids is not None
        else _ivf_centroids(corpus, id_col, vec_col, nlist, sample_size, iters)
    )
    if codebooks is None:
        codebooks = build_pq_codebooks(corpus, m, ks, id_col, vec_col)
    CB = np.asarray(codebooks, dtype="float64")

    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        _cell_of_udf(C)(F.col(vec_col)).alias("__cell"),
        _pq_encode_udf(CB)(F.col(vec_col)).alias("codes"),
    )

    qrows = _collect_query_rows(queries, id_col, vec_col)
    Q = np.asarray([list(r[vec_col]) for r in qrows], dtype="float64")
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    order = np.argsort(-(Qn @ C.T), axis=1)[:, :nprobe]
    tables = _adc_query_tables(qrows, CB, id_col, vec_col)
    # two broadcast relations instead of one: the (query, cell) probe
    # pairs are tiny, and each query's m × ks decimal table ships ONCE —
    # folding the table into the pair rows would replicate it ×nprobe
    id_t = _id_type(queries, id_col)
    q_cells = F.broadcast(
        local_or_create_df(
            queries.sparkSession,
            [
                (r[id_col], int(cell))
                for r, cells in zip(qrows, order)
                for cell in cells
            ],
            f"query_id {id_t}, __cell int",
        )
    )
    q_tbl = F.broadcast(
        local_or_create_df(
            queries.sparkSession,
            [(r[id_col], tbl) for r, tbl in zip(qrows, tables)],
            f"query_id {id_t}, __tbl array<array<decimal(18,6)>>",
        )
    )
    sims = (
        c.join(q_cells, "__cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(q_tbl, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _adc_sum_expr().cast("double").alias("adist"),
        )
    )
    return _topk_by_adist(sims, k)


def ann_hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training:
    per query, the top-``k`` most-similar corpus vectors whose LABEL
    DIFFERS from the query's — the nearest wrong answers, exactly the
    negatives that sharpen a retrieval or classification margin
    (in-batch random negatives are too easy; these are the hard ones).

    Output ``(query_id, neighbor_id, sim)`` with the ANN family's
    deterministic (sim DESC, neighbor ASC) tiebreak and DECIMAL(18,6)
    sim rounding. NULL labels count as distinct from everything
    (``IS DISTINCT FROM`` semantics), so unlabeled corpus rows are
    eligible negatives for any labeled query.

    Scale shape: identical to :func:`ann_brute_force` — bounded query
    set broadcast against one spread corpus scan, numpy-einsum Arrow
    scoring, per-query top-k. The label filter prunes BEFORE scoring.
    For corpus-scale query sets, swap the candidate generator for the
    IVF/LSH bucketed paths and apply the same label filter inside the
    bucket join.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            F.col(label_col).alias("__qlbl"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        F.col(label_col).alias("__nlbl"),
    )
    c = _spread(c, target_bytes=2 << 20)
    sims = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .filter(~F.col("__nlbl").eqNullSafe(F.col("__qlbl")))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pandas(F.col("__qvec"), F.col("__cvec"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("sim"),
        )
    )
    return _topk_by_query(sims, k)


def embedding_stats(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Embedding-table quality gate — the profile() of vector columns,
    run before any ANN/dedup stage trusts the data: ONE summary row

    - ``n`` / ``n_null`` — rows and NULL vectors
    - ``n_empty`` — zero-length vectors
    - ``n_dims`` / ``modal_dim`` — distinct dimensionalities and the
      most common one (ties break to the smallest; a healthy table has
      n_dims = 1)
    - ``n_nonfinite`` — vectors containing NaN/±Inf
    - ``n_zero`` — all-zero vectors (cosine-undefined)
    - ``median_norm2_e8x2`` — median squared L2 norm in exact
      integral units of 5·10⁻⁹ (elements quantize once to 4 dp — unit-
      scale embeddings' diagnostic resolution — so squares are exactly
      8 decimals; the ×2 keeps the even-count interpolation midpoint
      integral — no rounding anywhere after the element quantization)

    Determinism: each element casts once to DECIMAL(9,4) and squares
    EXACTLY in decimal — the per-vector norm² is an exact DECIMAL sum,
    order-independent, so the median is an exact percentile over exact
    integers, not an IEEE fold (n_zero therefore means "zero at 4 dp
    element resolution"). NaN/Inf
    elements make a vector non-finite and are excluded from the norm
    statistic (they'd poison any decimal cast).

    Scale shape: one projection pass with JVM-side higher-order
    functions (``exists``/``aggregate``/``size`` — no Python), one
    dim-histogram hash agg (tiny), one 1-row summary agg.

    Reference anchor: the reference has no vector surface at all
    (pybabe is pre-embedding-era); this is the data-quality face of
    the engine's beyond-reference ANN family.
    """
    v = F.col(col)
    nonfinite = F.exists(
        v, lambda x: F.isnan(x) | (F.abs(x) == float("inf"))
    )
    norm2 = F.aggregate(
        v,
        F.lit(0).cast("decimal(20,8)"),
        # decimal addition widens precision; the accumulator must keep
        # its declared type — (20,8) holds 10^12 squared-unit-scale
        # elements, far past any real embedding dim
        lambda acc, x: (
            acc + x.cast("decimal(9,4)") * x.cast("decimal(9,4)")
        ).cast("decimal(20,8)"),
    )
    rows = df.select(
        F.when(v.isNull(), 1).otherwise(0).alias("__null"),
        F.when(v.isNotNull() & (F.size(v) == 0), 1).otherwise(0).alias(
            "__empty"
        ),
        F.when(v.isNotNull(), F.size(v)).alias("__dim"),
        F.when(v.isNotNull() & nonfinite, 1).otherwise(0).alias("__nf"),
        F.when(
            v.isNotNull() & ~nonfinite & (F.size(v) > 0), norm2
        ).alias("__n2"),
    ).localCheckpoint(eager=False)
    dims = rows.filter(F.col("__dim").isNotNull()).groupBy("__dim").agg(
        F.count(F.lit(1)).alias("__dn")
    )
    modal = dims.agg(
        F.max_by(
            F.col("__dim"),
            F.struct(F.col("__dn"), -F.col("__dim")),
        ).alias("modal_dim"),
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
    )
    e8x2 = (
        F.col("__n2") * F.lit(200_000_000).cast("decimal(9,0)")
    ).cast("bigint")
    summary = rows.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__null").cast("bigint").alias("n_null"),
        F.sum("__empty").cast("bigint").alias("n_empty"),
        F.sum("__nf").cast("bigint").alias("n_nonfinite"),
        F.coalesce(
            F.sum(F.when(F.col("__n2") == 0, 1)), F.lit(0)
        ).cast("bigint").alias("n_zero"),
        F.percentile(e8x2, F.lit(0.5)).alias("__mn2"),
    )
    return summary.crossJoin(F.broadcast(modal)).select(
        "n",
        "n_null",
        "n_empty",
        "n_dims",
        "modal_dim",
        "n_nonfinite",
        "n_zero",
        F.col("__mn2").cast("bigint").alias("median_norm2_e8x2"),
    )


def embedding_stats_sql(table: str, col: str = "embedding") -> str:
    """DuckDB oracle of :func:`embedding_stats` — same per-element
    DECIMAL(9,4) squares, same exact integral median."""
    nf = (
        f"list_bool_or(list_transform({col},"
        f" x -> isnan(x) OR isinf(x)))"
    )
    n2 = (
        f"list_aggregate(list_transform({col},"
        f" x -> CAST(x AS DECIMAL(9,4)) * CAST(x AS DECIMAL(9,4))),"
        f" 'sum')"
    )
    return f"""
    WITH rows_in AS (
        SELECT CASE WHEN {col} IS NULL THEN 1 ELSE 0 END AS isnull_,
               CASE WHEN {col} IS NOT NULL AND len({col}) = 0
                    THEN 1 ELSE 0 END AS isempty,
               CASE WHEN {col} IS NOT NULL THEN len({col}) END AS dim,
               CASE WHEN {col} IS NOT NULL
                         AND COALESCE({nf}, FALSE)
                    THEN 1 ELSE 0 END AS nf,
               CASE WHEN {col} IS NOT NULL
                         AND NOT COALESCE({nf}, FALSE)
                         AND len({col}) > 0
                    THEN {n2} END AS n2
        FROM {table}
    ),
    dims AS (
        SELECT dim, COUNT(*) AS dn FROM rows_in
        WHERE dim IS NOT NULL GROUP BY dim
    ),
    modal AS (
        SELECT (SELECT dim FROM dims ORDER BY dn DESC, dim ASC
                LIMIT 1) AS modal_dim,
               CAST(COUNT(*) AS BIGINT) AS n_dims
        FROM dims
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(isnull_) AS BIGINT) AS n_null,
           CAST(SUM(isempty) AS BIGINT) AS n_empty,
           modal.n_dims,
           modal.modal_dim,
           CAST(SUM(nf) AS BIGINT) AS n_nonfinite,
           COALESCE(CAST(SUM(CASE WHEN n2 = 0 THEN 1 END) AS BIGINT),
                    0) AS n_zero,
           CAST(quantile_cont(CAST(CAST(n2 AS DECIMAL(20,8))
                     * CAST(200000000 AS DECIMAL(9,0)) AS BIGINT),
                0.5) AS BIGINT) AS median_norm2_e8x2
    FROM rows_in CROSS JOIN modal
    GROUP BY modal.n_dims, modal.modal_dim
    """


def centroid_drift(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding centroid vs the global centroid:
    ``(group, n_vecs, centroid_cosine)`` — the segment-level drift /
    bias diagnostic over a vector column (a label whose centroid points
    away from the corpus centroid is the cluster your sampling mix
    under- or over-weights; tracked across snapshots it is embedding
    drift without pairwise comparisons).

    Cross-engine determinism, layer by layer (the numeric contract
    every oracle-checked vector aggregate here follows):

    - component sums are EXACT DECIMAL(20,9) sums (order-independent —
      a plain double sum across rows varies with shuffle order). The
      component-range contract: |component| < 10^11 (20−9 integer
      digits); embeddings are unit-ish in practice, and the headroom
      means a merely large-magnitude vector (|x| in the thousands —
      which the old DECIMAL(12,9) cast aborted on under ANSI, or
      silently nulled out of the sum non-ANSI) degrades nothing;
    - each centroid component is ``CAST(sum AS DOUBLE) / count`` — one
      correctly-rounded conversion (exact while sums hold under 15.95
      significant digits, true for unit-scale components at any
      plausible group size) and one correctly-rounded IEEE division,
      bit-identical in any engine;
    - the cosine folds the 64 components IN POSITION ORDER
      (``array_sort`` on pos + sequential ``aggregate``), and the final
      DECIMAL(18,6) rounding absorbs the ±1e-15 tail the O(1)-magnitude
      fold can carry (module-header convention).

    Scale shape: one explode to the (group, pos) grain feeding TWO
    map-side-combinable hash aggs (per-group and global), a broadcast
    join on the dim-sized global table, one collect_list bounded by the
    vector width per group. Nothing grows faster than corpus × dims.
    """
    xd = F.col("x").cast("double").cast("decimal(20,9)")
    ex = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(group_col).alias("g"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    )
    per = ex.groupBy("g", "pos").agg(
        F.sum(xd).alias("s"), F.count(F.lit(1)).alias("n")
    )
    glob = ex.groupBy("pos").agg(
        F.sum(xd).alias("gs"), F.count(F.lit(1)).alias("gn")
    )
    j = per.join(F.broadcast(glob), "pos").select(
        "g", "pos", "n",
        (F.col("s").cast("double") / F.col("n")).alias("m"),
        (F.col("gs").cast("double") / F.col("gn")).alias("gm"),
    )
    arr = F.array_sort(F.collect_list(F.struct("pos", "m", "gm")))

    def _fold(a, f):
        return F.aggregate(a, F.lit(0.0), lambda acc, t: acc + f(t))

    agg = j.groupBy(F.col("g").alias(group_col)).agg(
        F.max("n").alias("n_vecs"), arr.alias("__a")
    )
    dot = _fold(F.col("__a"), lambda t: t["m"] * t["gm"])
    na = _fold(F.col("__a"), lambda t: t["m"] * t["m"])
    nb = _fold(F.col("__a"), lambda t: t["gm"] * t["gm"])
    return agg.select(
        group_col,
        "n_vecs",
        F.when(
            na * nb > 0,
            (dot / F.sqrt(na * nb)).cast("decimal(18,6)").cast("double"),
        ).alias("centroid_cosine"),
    )


def centroid_drift_sql(
    table: str = "embeddings",
    group_col: str = "label",
    vec_col: str = "embedding",
    dims: int = 64,
) -> str:
    """DuckDB oracle of :func:`centroid_drift` — same DECIMAL(20,9)
    component sums, the same single double conversion + division per
    component, position-ordered lists, DECIMAL(18,6) finish."""
    rng = f"range(1, {dims + 1})"
    return f"""
    WITH ex AS (
      SELECT {group_col} AS g, pos,
             CAST(CAST({vec_col}[pos] AS DOUBLE) AS DECIMAL(20,9)) AS xd
      FROM {table}, (SELECT unnest({rng}) AS pos) t
      WHERE {vec_col} IS NOT NULL
    ),
    per AS (SELECT g, pos, SUM(xd) AS s, COUNT(*) AS n
            FROM ex GROUP BY g, pos),
    gtot AS (SELECT pos, SUM(xd) AS gs, COUNT(*) AS gn
             FROM ex GROUP BY pos),
    v AS (
      SELECT g, pos, n,
             CAST(s AS DOUBLE) / n AS m,
             CAST(gs AS DOUBLE) / gn AS gm
      FROM per JOIN gtot USING (pos)
    ),
    agg AS (
      SELECT g, MAX(n) AS n_vecs,
             list(m ORDER BY pos) AS lm,
             list(gm ORDER BY pos) AS lg
      FROM v GROUP BY g
    )
    SELECT g AS {group_col}, n_vecs,
           CASE WHEN list_sum(list_transform(lm, x -> x * x))
                     * list_sum(list_transform(lg, x -> x * x)) > 0
                THEN CAST(CAST(
                  list_sum(list_transform({rng},
                           i -> lm[i] * lg[i]))
                  / sqrt(list_sum(list_transform(lm, x -> x * x))
                       * list_sum(list_transform(lg, x -> x * x)))
                  AS DECIMAL(18,6)) AS DOUBLE)
           END AS centroid_cosine
    FROM agg
    """
