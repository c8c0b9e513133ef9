"""Training-data-pipeline queries: text analysis, dedup family, similarity.

Registered into the same driver-contract registry as the relational
queries. Design notes for oracle-hash determinism:

- All text hashing is md5 (hex strings) — identical in Spark and DuckDB;
  MinHash uses lexicographic order over md5 hex, valid in any engine.
- Cosine similarities are cast to DECIMAL(18,6); cross-engine float
  summation-order noise (~1e-15) cannot flip a 1e-6 rounding.
- Exact quadratic ops (all-pairs jaccard / neardup) are verified on fixed
  id-bounded subsets so the oracle cost stays flat across scale factors;
  the *operators* themselves carry the LSH scale path, which is exercised
  at full scale by the shingle-LSH and ANN-LSH queries.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pybabe_spark.functions import text as T
from pybabe_spark.operators.dedup_scale import (
    dedup_exact,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash,
)
from pybabe_spark.operators.similarity import (
    ann_brute_force,
    ann_lsh,
    embedding_neardup_pairs,
)
from pybabe_spark.queries import register, session_memo
from pybabe_spark.sources.io import read_table

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_LEX_SQL = {
    lang: "[" + ", ".join(f"'{t}'" for t in terms) + "]"
    for lang, terms in T.LEXICONS.items()
}

_SCORE_SQL = {
    lang: f"len(list_intersect(string_split(text, ' '), {lex}))"
    for lang, lex in _LEX_SQL.items()
}

_LANG_CASE = (
    "CASE WHEN GREATEST("
    + ", ".join(_SCORE_SQL[l] for l in sorted(_SCORE_SQL))
    + ") = 0 THEN 'unknown' "
    + " ".join(
        f"WHEN {_SCORE_SQL[l]} = GREATEST("
        + ", ".join(_SCORE_SQL[x] for x in sorted(_SCORE_SQL))
        + f") THEN '{l}'"
        for l in sorted(_SCORE_SQL)
    )
    + " ELSE 'unknown' END"
)

_QUALITY_SQL = (
    "CAST("
    f"(CAST({_SCORE_SQL['en']} AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.3 "
    "+ LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.4 "
    "+ (CASE WHEN (CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE) "
    "              / CAST(len(string_split(text, ' ')) AS DOUBLE)) BETWEEN 3.0 AND 8.0 "
    "        THEN 0.3 ELSE 0.1 END)"
    " AS DECIMAL(18,6))"
)


@register(
    "text_stats",
    f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           len(regexp_extract_all(text, '{T.TOKEN_PATTERN}', 1)) AS n_tokens,
           {_LANG_CASE} AS lang_pred,
           CAST({_QUALITY_SQL} AS DOUBLE) AS quality
    FROM documents
    """,
)
def q_text_stats(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.word_count("text").alias("n_words"),
        T.token_count("text").alias("n_tokens"),
        T.lang_id("text").alias("lang_pred"),
        T.quality_score("text").cast("decimal(18,6)").cast("double").alias("quality"),
    )


_FP_SQL = """
CASE WHEN len(string_split(text, ' ')) >= 3 THEN
  list_min(list_transform(range(1, len(string_split(text, ' ')) - 1),
    i -> md5(string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
             || ' ' || string_split(text, ' ')[i+2])))
ELSE md5(text) END
"""


@register(
    "doc_fingerprint",
    f"""
    SELECT doc_id,
           {_FP_SQL} AS fp,
           md5(trim(lower(regexp_replace(text, ' +', ' ', 'g')))) AS content_key
    FROM documents
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.fingerprint("text", 3).alias("fp"),
        T.exact_key("text").alias("content_key"),
    )


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------

@register(
    "dedup_exact_docs",
    """
    SELECT md5(trim(lower(regexp_replace(text, ' +', ' ', 'g')))) AS content_key,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_dups
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_exact(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    return dedup_exact(docs, "doc_id", "text")


def _minhash_band_sql(shingle_sql: str, subset: str,
                      num_hashes: int, bands: int) -> str:
    """ONE generator for every MinHash-LSH oracle (unigram and 3-gram
    forms differ only in the shingle expression + subset clause), so the
    coefficient family / band layout / base-hash slice can't drift
    between twins."""
    from pybabe_spark.operators.dedup_scale import MINHASH_PRIME, minhash_coeffs

    rows = num_hashes // bands
    mins = ", ".join(
        f"min(({a} * base + {b}) % {MINHASH_PRIME}) AS mh{j}"
        for j, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || '|' || ".join(f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows))
        + ") AS bucket FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct({shingle_sql})) AS s
      FROM documents {subset}
    ),
    based AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {MINHASH_PRIME} AS base
      FROM sh
    ),
    sig AS (SELECT doc_id, {mins} FROM based GROUP BY doc_id),
    buckets AS ({band_selects})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM buckets a
    JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
                  AND a.doc_id < b.doc_id
    """


def _minhash_sql(num_hashes: int, bands: int, subset: str) -> str:
    return _minhash_band_sql(
        "string_split(text, ' ')", subset, num_hashes, bands
    )


@register("minhash_lsh_pairs", _minhash_sql(16, 4, "WHERE doc_id < 300"))
def q_minhash_lsh(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=16, bands=4, shingle_n=1)


def _minhash_shingle3_sql(num_hashes: int, bands: int) -> str:
    """3-gram-shingle variant over the FULL corpus (the scale path)."""
    return _minhash_band_sql(_FP_SHINGLES, "", num_hashes, bands)


_FP_SHINGLES = """
CASE WHEN len(string_split(text, ' ')) >= 3 THEN
  list_transform(range(1, len(string_split(text, ' ')) - 1),
    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
         || ' ' || string_split(text, ' ')[i+2])
ELSE [text] END
"""


#: 3-gram MinHash candidate pairs (num_hashes=16, bands=4) —
#: minhash_lsh_shingle3, dup_clusters_docs and near_dedup_best_docs all
#: build the IDENTICAL candidate stage (shingle → minhash → band buckets
#: → pair join → verify) over the same corpus.
@session_memo(users=(
    "dup_clusters_docs", "minhash_lsh_shingle3", "near_dedup_best_docs",
))
def _minhash3_pairs(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4, shingle_n=3
    ).localCheckpoint(eager=False)  # lazy: construction stays
    # job-free, the first consumer's action pins the pair table


@register("minhash_lsh_shingle3", _minhash_shingle3_sql(16, 4))
def q_minhash_lsh_shingle3(spark, sf_dir):
    """3-gram MinHash LSH candidate pairs. The pair stage is shared
    with dup_clusters_docs / near_dedup_best_docs through
    :func:`_minhash3_pairs` (computed once per session+dataset)."""
    return _minhash3_pairs(spark, sf_dir)


def _lsh_calibration_sql() -> str:
    pairs = _minhash_sql(16, 4, "WHERE doc_id < 300")
    return f"""
    WITH cand AS ({pairs}),
    scored AS (
      SELECT (CAST(len(list_intersect(
                list_distinct(string_split(da.text, ' ')),
                list_distinct(string_split(db.text, ' ')))) AS BIGINT)
              * 1000000)
             // CAST(len(list_distinct(list_concat(
                list_distinct(string_split(da.text, ' ')),
                list_distinct(string_split(db.text, ' '))))) AS BIGINT)
               AS j
      FROM cand
      JOIN documents da ON da.doc_id = cand.id_a
      JOIN documents db ON db.doc_id = cand.id_b
    )
    SELECT CAST(LEAST(9, (j * 10) // 1000000) AS INT) AS jaccard_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM scored GROUP BY jaccard_decile
    """


@register("lsh_calibration_docs", _lsh_calibration_sql())
def q_lsh_calibration(spark, sf_dir):
    """Banding-quality certificate for the MinHash LSH config
    (operators/dedup_scale.py::lsh_candidate_calibration): the decile
    histogram of EXACT shingle Jaccard over the (16 hashes, 4 bands)
    candidate pairs — bottom-decile mass is wasted verify work, an
    empty top is missed recall; the evidence for tuning (bands, rows)
    on the corpus itself before a 100 TB run. Exact integer ppm
    Jaccard, ntile decile arithmetic, ≤10-row output."""
    from pybabe_spark.operators.dedup_scale import (
        lsh_candidate_calibration,
    )

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 300
    )
    return lsh_candidate_calibration(
        docs, "doc_id", "text", num_hashes=16, bands=4, shingle_n=1
    )


@register(
    "quantize_embeddings_int8",
    """
    WITH q AS (
      SELECT vec_id,
             CASE WHEN list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) > 0
                  THEN list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) / 127.0
                  ELSE 0.0 END AS scale,
             embedding
      FROM embeddings
    )
    SELECT vec_id,
           CAST(CAST(scale AS DECIMAL(18,9)) AS DOUBLE) AS scale,
           array_to_string(
             CASE WHEN scale > 0 THEN
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))
             ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END,
             ',') AS codes
    FROM q
    """,
)
def q_quantize(spark, sf_dir):
    """Int8 embedding quantization (similarity.py::quantize_embeddings):
    4x storage for a 100 TB vector store, codes emitted as a canonical
    comma string so the cross-engine hash compares arrays portably."""
    from pybabe_spark.operators.similarity import quantize_embeddings

    emb = read_table(spark, sf_dir, "embeddings")
    out = quantize_embeddings(emb)
    return out.select(
        "vec_id",
        F.col("scale").cast("decimal(18,9)").cast("double").alias("scale"),
        F.concat_ws(",", F.transform(F.col("q"), lambda x: x.cast("string")))
        .alias("codes"),
    )


@register(
    "dup_clusters_docs",
    f"""
    WITH RECURSIVE
    edges AS ({_minhash_shingle3_sql(16, 4)}),
    sym AS (SELECT id_a AS u, id_b AS v FROM edges
            UNION SELECT id_b AS u, id_a AS v FROM edges),
    reach(src, node) AS (
      SELECT u, u FROM sym
      UNION
      SELECT r.src, s.v FROM reach r JOIN sym s ON r.node = s.u
    ),
    comp AS (SELECT src AS id, MIN(node) AS component FROM reach GROUP BY src),
    assigned AS (
      SELECT d.doc_id AS id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    ),
    sizes AS (SELECT component, COUNT(*) AS cluster_size
              FROM assigned GROUP BY component)
    SELECT id, component, cluster_size FROM assigned JOIN sizes USING (component)
    """,
)
def q_dup_clusters(spark, sf_dir):
    """Transitive near-dup clusters: LSH candidate pairs (3-gram
    MinHash) closed under connectivity via min-label propagation
    (operators/graph.py::connected_components — iterative, one
    join+agg shuffle per round over the node set only, lineage cut per
    round). The oracle re-derives the same components with a recursive
    CTE — the fixpoint is checked exactly, not rows-only."""
    from pybabe_spark.operators.graph import dup_clusters

    docs = read_table(spark, sf_dir, "documents")
    pairs = _minhash3_pairs(spark, sf_dir)
    return dup_clusters(docs, pairs)


@register(
    "near_dedup_best_docs",
    f"""
    WITH RECURSIVE
    edges AS ({_minhash_shingle3_sql(16, 4)}),
    sym AS (SELECT id_a AS u, id_b AS v FROM edges
            UNION SELECT id_b AS u, id_a AS v FROM edges),
    reach(src, node) AS (
      SELECT u, u FROM sym
      UNION
      SELECT r.src, s.v FROM reach r JOIN sym s ON r.node = s.u
    ),
    comp AS (SELECT src AS id, MIN(node) AS component FROM reach GROUP BY src),
    scored AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS comp,
             CAST({_QUALITY_SQL} AS DECIMAL(18,6)) AS q
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    ),
    ranked AS (
      SELECT doc_id, q,
             ROW_NUMBER() OVER (PARTITION BY comp
                                ORDER BY q DESC, doc_id ASC) AS rn
      FROM scored
    )
    SELECT doc_id, CAST(q AS DOUBLE) AS quality FROM ranked WHERE rn = 1
    """,
)
def q_near_dedup_best(spark, sf_dir):
    """Quality-aware survivor selection
    (operators/dedup_scale.py::near_dedup_keep policy='best'): one
    representative per transitive dup cluster — the highest
    quality_score copy, ties to the lower id. The real-pipeline
    representative policy (keep the cleanest copy, not the lowest id);
    the oracle replays clusters with a recursive CTE and ranks on the
    identical DECIMAL(18,6) quality."""
    from pybabe_spark.functions.text import quality_score
    from pybabe_spark.operators.graph import best_of_clusters

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text",
        quality_score("text").cast("decimal(18,6)").alias("__q"),
    )
    # cluster on the same 3-gram MinHash candidates as dup_clusters_docs
    # — the identical pair stage, read from the session memo
    pairs = _minhash3_pairs(spark, sf_dir)
    kept = best_of_clusters(docs, pairs, id_col="doc_id", score_col="__q")
    return kept.select(
        "doc_id", F.col("__q").cast("double").alias("quality")
    )


_SIMHASH_SQL_BITS = " + ".join(
    f"(CASE WHEN list_sum(list_transform(string_split(text, ' '), "
    f"t -> CASE WHEN ((instr('0123456789abcdef', substr(md5(t), {k // 4 + 1}, 1)) - 1) "
    f"& {1 << (k % 4)}) > 0 THEN 1 ELSE -1 END)) > 0 THEN {1 << k} ELSE 0 END)"
    for k in range(16)
)


@register(
    "simhash_docs",
    f"SELECT doc_id, CAST({_SIMHASH_SQL_BITS} AS BIGINT) AS simhash FROM documents",
)
def q_simhash(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    return simhash(docs, "doc_id", "text", bits=16)


def _simhash_neardup_sql():
    from pybabe_spark.operators.dedup_scale import simhash_neardup_pairs_sql

    return simhash_neardup_pairs_sql(
        "documents", "doc_id", "text", bits=24, max_hamming=2
    )


@register("simhash_neardup_docs", _simhash_neardup_sql())
def q_simhash_neardup(spark, sf_dir):
    """SimHash Hamming near-dup pairs (operators/dedup_scale.py::
    simhash_neardup_pairs): band-pigeonhole candidates (d+1 contiguous
    bit bands, equi-join on band value — no false negatives) +
    bit_count(xor) confirm, EXACTLY matching the oracle's brute-force
    all-pairs definition; the token-frequency-profile complement of
    minhash_lsh_pairs' shingle-set overlap. 24-bit fingerprints: wide
    enough that band values spread (candidate volume ~corpus x bands /
    2^8, measured 4.1 s -> 1 s vs 16-bit at sf0.1), narrow enough that
    the quadratic oracle stays cheap at sf0.01."""
    from pybabe_spark.operators.dedup_scale import simhash_neardup_pairs

    docs = read_table(spark, sf_dir, "documents")
    return simhash_neardup_pairs(
        docs, "doc_id", "text", bits=24, max_hamming=2
    )


@register(
    "jaccard_pairs_words",
    """
    WITH sh AS (
      SELECT doc_id AS doc, unnest(list_distinct(string_split(text, ' '))) AS s
      FROM documents WHERE doc_id < 300
    ),
    sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
    common AS (
      SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(c AS DOUBLE) / CAST((sa.n + sb.n - c) AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON id_a = sa.doc
    JOIN sizes sb ON id_b = sb.doc
    WHERE CAST(c AS DOUBLE) / CAST((sa.n + sb.n - c) AS DOUBLE) >= 0.8
    """,
)
def q_jaccard_words(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return jaccard_pairs(docs, "doc_id", "text", threshold=0.8, shingle_n=1)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

#: unit-normalize: matches operators.similarity._with_normalized
_NORMED = (
    "list_transform({v}, x -> CAST(x AS DOUBLE) / "
    "sqrt(list_sum(list_transform({v}, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))"
)

_DOT_N = "list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i]))"


@register(
    "ann_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id,
                      {_NORMED.format(v='embedding')} AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id,
                 {_NORMED.format(v='embedding')} AS cv
          FROM embeddings),
    sims AS (
      SELECT query_id, neighbor_id,
             CAST({_DOT_N.format(a='qv', b='cv')} AS DECIMAL(18,6)) AS sim
      FROM c, q WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, CAST(sim AS DOUBLE) AS sim FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
      FROM sims
    ) t WHERE rk <= 10
    """,
)
def q_ann_topk(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ann_brute_force(emb, queries, k=10)


@register(
    "embedding_neardup",
    f"""
    WITH e AS (SELECT vec_id, {_NORMED.format(v='embedding')} AS vn
               FROM embeddings WHERE vec_id < 500)
    SELECT id_a, id_b, sim FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(CAST({_DOT_N.format(a='a.vn', b='b.vn')} AS DECIMAL(18,6)) AS DOUBLE) AS sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    ) t WHERE sim >= 0.45
    """,
)
def q_embedding_neardup(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return embedding_neardup_pairs(emb, threshold=0.45)


# LSH ANN: approximate vs brute force, but fully DETERMINISTIC — the
# sign-random-projection hyperplanes are md5-derived constants
# (similarity._plane_component == similarity._py_plane), so DuckDB can
# replay the exact same bucketing, multi-probe bit flip, candidate join,
# and top-k. Full value-level oracle, not a rows-only check.
_LSH_DIMS, _LSH_PLANES = 64, 4


def _lsh_proj_sql(vec: str, plane: int) -> str:
    """Flat dot of ``vec`` against the md5-derived hyperplane. DuckDB's
    fold order differs from the production path's numpy einsum
    (similarity._bucket_pandas), so every sign test below uses the shared
    ``_SIGN_EPS`` dead-band — near-zero projections resolve to the 0 bit
    identically on both engines."""
    from pybabe_spark.operators.similarity import _py_plane

    return " + ".join(
        f"CAST({vec}[{d + 1}] AS DOUBLE) * ({_py_plane(plane, d)})"
        for d in range(_LSH_DIMS)
    )


def _lsh_bucket_sql(vec: str) -> str:
    from pybabe_spark.operators.similarity import _SIGN_EPS

    return " + ".join(
        f"(CASE WHEN ({_lsh_proj_sql(vec, p)}) > {_SIGN_EPS!r} "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(_LSH_PLANES)
    )


def _lsh_oracle() -> str:
    # multi-probe (nprobe=2): home bucket + home XOR lowest-|projection|
    # bit; the <= CASE chain picks the first minimum exactly like
    # numpy argsort's stable first-occurrence tie-break.
    abs_pj = [f"abs(pj{p})" for p in range(_LSH_PLANES)]
    flip = " ".join(
        f"WHEN {' AND '.join(f'{abs_pj[p]} <= {abs_pj[r]}' for r in range(p + 1, _LSH_PLANES))} THEN {p}"
        if p < _LSH_PLANES - 1
        else f"ELSE {p}"
        for p in range(_LSH_PLANES)
    )
    from pybabe_spark.operators.similarity import _SIGN_EPS

    home = " + ".join(
        f"(CASE WHEN pj{p} > {_SIGN_EPS!r} THEN {1 << p} ELSE 0 END)"
        for p in range(_LSH_PLANES)
    )
    return f"""
    WITH q0 AS (
      SELECT vec_id AS query_id, embedding AS qv,
             {", ".join(f"({_lsh_proj_sql('embedding', p)}) AS pj{p}" for p in range(_LSH_PLANES))}
      FROM embeddings WHERE vec_id < 5
    ),
    qh AS (
      SELECT query_id, qv, {home} AS home,
             CASE {flip} END AS flip
      FROM q0
    ),
    qb AS (
      SELECT query_id, qv, home AS bucket FROM qh
      UNION ALL
      SELECT query_id, qv, xor(home, 1 << flip) AS bucket FROM qh
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv,
             {_lsh_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    sims AS (
      SELECT query_id, neighbor_id,
             CAST({_DOT_N.format(a=_NORMED.format(v='qv'), b=_NORMED.format(v='cv'))}
                  AS DECIMAL(18,6)) AS sim
      FROM c JOIN qb USING (bucket)
      WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, CAST(sim AS DOUBLE) AS sim FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
      FROM sims
    ) t WHERE rk <= 10
    """


@register("ann_lsh_topk", _lsh_oracle())
def q_ann_lsh(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ann_lsh(emb, queries, k=10, dims=_LSH_DIMS, planes=_LSH_PLANES, nprobe=2)


# Stored-LSH: the 100 TB deployment shape — corpus persisted
# partitionBy(bucket) once (build amortized across every query batch),
# probes prune non-probed partitions at the file listing (plan-gated in
# tests/test_scale_ops.py::test_lsh_stored_prunes_partitions_...).
# The hash is stateless md5 math, so candidates — and therefore the
# top-k — are IDENTICAL to the inline form: same full value oracle.
_LSH_INDEX_CACHE: dict = {}


@register("ann_lsh_stored_topk", _lsh_oracle())
def q_ann_lsh_stored(spark, sf_dir):
    import os
    import tempfile

    from pybabe_spark.operators.similarity import ann_lsh_stored, build_lsh_index

    emb = read_table(spark, sf_dir, "embeddings")
    path = _LSH_INDEX_CACHE.get(sf_dir)
    if path is None or not os.path.isdir(path):
        import atexit
        import shutil

        root = tempfile.mkdtemp(prefix="pybabe_lsh_")
        # the index is a full partitioned corpus copy — reclaim it at
        # process exit instead of orphaning one tree per run
        atexit.register(shutil.rmtree, root, True)
        path = os.path.join(root, "index")
        build_lsh_index(emb, path, dims=_LSH_DIMS, planes=_LSH_PLANES)
        _LSH_INDEX_CACHE[sf_dir] = path
    queries = emb.filter(F.col("vec_id") < 5)
    return ann_lsh_stored(
        spark, path, queries, k=10, dims=_LSH_DIMS, planes=_LSH_PLANES, nprobe=2
    )


@register("ann_lsh_appended_topk", _lsh_oracle())
def q_ann_lsh_appended(spark, sf_dir):
    """Incremental-crawl ANN: the LSH index built on half the
    embeddings, the other half APPENDED
    (operators/similarity.py::append_lsh_index — stateless md5 bucket
    hash, no indexed row re-read), then probed. The oracle is the
    whole-corpus LSH SQL — append must be indistinguishable from a
    fresh rebuild over the union."""
    import os

    from pybabe_spark.operators.similarity import (
        ann_lsh_stored,
        append_lsh_index,
        build_lsh_index,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    key = (sf_dir, "appended")
    path = _LSH_INDEX_CACHE.get(key)
    if path is None or not os.path.isdir(path):
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="pybabe_lsh_app_")
        atexit.register(shutil.rmtree, root, True)
        path = os.path.join(root, "index")
        build_lsh_index(
            emb.filter(F.col("vec_id") % 2 == 0), path,
            dims=_LSH_DIMS, planes=_LSH_PLANES,
        )
        append_lsh_index(
            emb.filter(F.col("vec_id") % 2 != 0), path,
            dims=_LSH_DIMS, planes=_LSH_PLANES,
        )
        _LSH_INDEX_CACHE[key] = path
    queries = emb.filter(F.col("vec_id") < 5)
    return ann_lsh_stored(
        spark, path, queries, k=10, dims=_LSH_DIMS, planes=_LSH_PLANES, nprobe=2
    )


# IVF ANN: the driver-side k-means fit is not SQL-replicable, so the query
# REDUCES the approximate result to facts an exact engine can verify (the
# approx_stats_scale pattern): per query, the IVF result count is bounded
# by k (1..k — NOT pinned to exactly k, since nprobe cells may legitimately
# hold fewer than k candidates on regenerated testdata) and recall vs the
# exact brute-force top-k clears a pinned floor, computed over the rows IVF
# actually returned. Measured recall with nprobe=4/nlist=16 is 0.7-1.0 at
# every test SF; the 0.5 floor leaves margin for testdata regeneration. A
# broken index flips a boolean and the driver's hash-compare catches it;
# DuckDB's side is literal TRUE because the invariants holding is what's
# being certified. Centroids are fitted once per corpus and cached (the
# index-reuse shape of a real ANN deployment — build offline, probe many).
_IVF_CENTROID_CACHE: dict = {}
_IVF_RECALL_FLOOR = 0.5


@register(
    "ann_ivf_topk",
    """
    SELECT vec_id AS query_id,
           TRUE AS n_ok,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5
    """,
)
def q_ann_ivf(spark, sf_dir):
    from pybabe_spark.operators.similarity import (
        _ivf_centroids,
        ann_brute_force,
        ann_ivf,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    C = _IVF_CENTROID_CACHE.get(sf_dir)
    if C is None:
        C = _IVF_CENTROID_CACHE[sf_dir] = _ivf_centroids(
            emb, "vec_id", "embedding", 16, 2048, 5
        )
    queries = emb.filter(F.col("vec_id") < 5)
    ivf = ann_ivf(emb, queries, k=10, nlist=16, nprobe=4, centroids=C)
    exact = (
        ann_brute_force(emb, queries, k=10)
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    # invariants are anchored on the QUERY set (left join), so a query
    # with ZERO IVF candidates still emits a row — with n_ok=False — and
    # a broken index fails the boolean check instead of silently
    # shrinking the row count (which would read as a row-count mismatch,
    # not the documented 1..k bound failing)
    stats = (
        ivf.join(exact, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("__hits"),
        )
    )
    qids = queries.select(F.col("vec_id").alias("query_id"))
    n = F.coalesce(F.col("__n"), F.lit(0))
    hits = F.coalesce(F.col("__hits"), F.lit(0))
    return qids.join(stats, "query_id", "left").select(
        "query_id",
        ((n >= F.lit(1)) & (n <= F.lit(10))).alias("n_ok"),
        ((n >= F.lit(1)) & (hits >= F.lit(_IVF_RECALL_FLOOR) * n)).alias(
            "recall_ok"
        ),
    )


@register(
    "training_prep_pipeline",
    f"""
    WITH enriched AS (
      SELECT doc_id, source,
             {_LANG_CASE} AS lang_pred,
             CAST({_QUALITY_SQL} AS DOUBLE) AS quality,
             md5(trim(lower(regexp_replace(text, ' +', ' ', 'g')))) AS ck
      FROM documents
    ),
    filtered AS (
      SELECT * FROM enriched WHERE lang_pred = 'en' AND quality >= 0.5
    ),
    kept AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY ck ORDER BY doc_id) AS rn
      FROM filtered
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) AS quality_sum
    FROM kept WHERE rn = 1 GROUP BY source
    """,
)
def q_training_prep_pipeline(spark, sf_dir):
    """End-to-end training-data prep: language filter → quality filter →
    exact dedup (keep lowest doc_id per content key) → per-source stats.
    The composition query: every stage is one of the engine's text ops,
    and the whole pipeline stays in one shuffle-per-stage Spark plan."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        "source",
        T.lang_id("text").alias("lang_pred"),
        T.quality_score("text").alias("quality"),
        T.exact_key("text").alias("ck"),
    )
    filtered = enriched.filter(
        (F.col("lang_pred") == "en") & (F.col("quality") >= 0.5)
    )
    w = Window.partitionBy("ck").orderBy("doc_id")
    kept = filtered.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("quality").cast("decimal(18,6)")).cast("double").alias("quality_sum"),
    )


@register(
    "near_dedup_keep_docs",
    """
    WITH sh AS (
      SELECT doc_id AS doc, unnest(list_distinct(string_split(text, ' '))) AS s
      FROM documents WHERE doc_id < 300
    ),
    sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
    common AS (
      SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    drops AS (
      SELECT DISTINCT id_b AS doc_id FROM common
      JOIN sizes sa ON id_a = sa.doc
      JOIN sizes sb ON id_b = sb.doc
      WHERE CAST(c AS DOUBLE) / CAST((sa.n + sb.n - c) AS DOUBLE) >= 0.8
    )
    SELECT d.doc_id, d.lang FROM documents d
    WHERE d.doc_id < 300 AND d.doc_id NOT IN (SELECT doc_id FROM drops)
    """,
)
def q_near_dedup_keep(spark, sf_dir):
    """Near-dup removal: greedy keep-lowest-id over the >=0.8 Jaccard pair
    graph; survivors are the dedup'd corpus (operators/dedup_scale.py
    ::near_dedup_keep — the canonical training-corpus dedup step)."""
    from pybabe_spark.operators.dedup_scale import near_dedup_keep

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return near_dedup_keep(docs, "doc_id", "text", threshold=0.8).select(
        "doc_id", "lang"
    )


@register(
    "near_dedup_against_docs",
    """
    WITH newd AS (SELECT doc_id, text FROM documents
               WHERE doc_id < 1000 AND doc_id % 5 <> 0),
    seen AS (SELECT doc_id, text FROM documents
             WHERE doc_id < 1000 AND doc_id % 5 = 0),
    shn AS (
      SELECT doc_id AS nid, unnest(list_distinct(string_split(text, ' '))) AS s
      FROM newd
    ),
    shs AS (
      SELECT doc_id AS sid, unnest(list_distinct(string_split(text, ' '))) AS s
      FROM seen
    ),
    szn AS (SELECT nid, COUNT(*) AS na FROM shn GROUP BY nid),
    szs AS (SELECT sid, COUNT(*) AS nb FROM shs GROUP BY sid),
    common AS (
      SELECT shn.nid, shs.sid, COUNT(*) AS c
      FROM shn JOIN shs ON shn.s = shs.s
      GROUP BY 1, 2
    ),
    drops AS (
      SELECT DISTINCT common.nid FROM common
      JOIN szn ON common.nid = szn.nid
      JOIN szs ON common.sid = szs.sid
      WHERE CAST(c AS DOUBLE) / CAST((na + nb - c) AS DOUBLE) >= 0.8
    )
    SELECT doc_id FROM newd
    WHERE doc_id NOT IN (SELECT nid FROM drops)
    """,
)
def q_near_dedup_against(spark, sf_dir):
    """Cross-corpus near-dedup (operators/dedup_scale.py
    ::near_dedup_against): the incremental-crawl step — drop new-batch
    docs whose word-set Jaccard with ANY already-seen doc is >= 0.8;
    the seen corpus is untouched. Exact shingle-join form here (the
    oracle-checkable definition); use_lsh_candidates=True is the
    banded new×seen bucket-join 100 TB path, equivalence-tested in
    tests/test_scale_ops.py."""
    from pybabe_spark.operators.dedup_scale import near_dedup_against

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    new = docs.filter(F.col("doc_id") % 5 != 0)
    seen = docs.filter(F.col("doc_id") % 5 == 0)
    return near_dedup_against(new, seen, "doc_id", "text", threshold=0.8).select(
        "doc_id"
    )


@register(
    "semdedup_embeddings",
    f"""
    WITH e AS (
      SELECT vec_id,
             list_sum(list_transform(embedding,
                      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) AS n2,
             {_NORMED.format(v='embedding')} AS vn
      FROM embeddings
    ),
    s AS (SELECT vec_id, vn FROM e WHERE n2 > 0),
    seeds AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
             vn AS cv
      FROM s ORDER BY vec_id LIMIT 8
    ),
    sims AS (
      SELECT s.vec_id, s.vn, seeds.cell,
             CAST(CAST({_DOT_N.format(a='s.vn', b='seeds.cv')}
                  AS DECIMAL(18,6)) AS DOUBLE) AS csim
      FROM s, seeds
    ),
    assigned AS (
      SELECT vec_id, vn, cell, csim FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rk
        FROM sims
      ) t WHERE rk = 1
    ),
    pairs AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb, a.csim AS csa, b.csim AS csb,
             CAST(CAST({_DOT_N.format(a='a.vn', b='b.vn')}
                  AS DECIMAL(18,6)) AS DOUBLE) AS sim
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
    ),
    drops AS (
      SELECT DISTINCT CASE WHEN csa > csb THEN ida ELSE idb END AS vec_id
      FROM pairs WHERE sim >= 0.4
    )
    SELECT e.vec_id,
           a.cell AS cell,
           a.csim AS centroid_sim,
           (d.vec_id IS NULL) AS kept
    FROM e
    LEFT JOIN assigned a ON e.vec_id = a.vec_id
    LEFT JOIN drops d ON e.vec_id = d.vec_id
    """,
)
def q_semdedup(spark, sf_dir):
    """SemDeDup (operators/similarity.py::semantic_dedup): seeded Voronoi
    clusters over the embedding space, within-cluster semantic near-dup
    pairs, drop the member closer to its centroid. Full value oracle —
    the seeded (no-Lloyd) centroid rule makes assignment replayable; the
    trained-k-means quality path shares every stage but the seeding."""
    from pybabe_spark.operators.similarity import semantic_dedup

    emb = read_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, k_clusters=8, threshold=0.4)


# Product quantization: seeded codebooks (the ks lowest-id vectors'
# subvectors) make encode and ADC search fully replayable in SQL — the
# same determinism route as the md5 LSH planes. Distances are flat
# left-associative `+` chains (the _lsh_proj_sql idiom), bit-identical
# to the operator's explicit left-to-right numpy accumulation — so the
# per-subspace argmin needs NO rounding: exact ties (duplicate seed
# vectors) resolve to the lower centroid index on every engine. Only
# the ADC lookup tables are DECIMAL(18,6)-quantized, which makes the
# m-term lookup sums order-independent and exact.
_PQ_M, _PQ_KS, _PQ_SUB = 8, 16, 8

_PQ_SEEDS = f"""
    seeds AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cidx,
             embedding AS cv
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_PQ_KS})
    )"""


def _pq_chain_sql(v: str, j: int) -> str:
    """Flat (x-c)*(x-c) + ... chain for subspace j (1-based list idx);
    left-associative parse == left-to-right IEEE adds."""
    terms = []
    for i in range(1, _PQ_SUB + 1):
        idx = j * _PQ_SUB + i
        a = f"CAST({v}[{idx}] AS DOUBLE)"
        b = f"CAST(s.cv[{idx}] AS DOUBLE)"
        terms.append(f"({a} - {b}) * ({a} - {b})")
    return " + ".join(terms)


def _pq_sub_union(src: str, out_id: str, where: str = "") -> str:
    """Per-subspace distance rows, one UNION ALL branch per j so every
    chain carries literal indices."""
    return "\n      UNION ALL\n".join(
        f"      SELECT {src}.vec_id AS {out_id}, {j} AS j, s.cidx,\n"
        f"             ({_pq_chain_sql(f'{src}.embedding', j)}) AS d\n"
        f"      FROM embeddings {src}, seeds s {where}"
        for j in range(_PQ_M)
    )


_PQ_CODES = f"""
    sub AS (
{_pq_sub_union('e', 'vec_id')}
    ),
    codes AS (
      SELECT vec_id, j, cidx FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id, j ORDER BY d ASC, cidx ASC) AS rk
        FROM sub
      ) t WHERE rk = 1
    )"""


@register(
    "pq_codes_embeddings",
    f"""
    WITH {_PQ_SEEDS},
    {_PQ_CODES}
    SELECT vec_id,
           array_to_string(list(cidx ORDER BY j), '-') AS codes_str
    FROM codes GROUP BY vec_id
    """,
)
def q_pq_codes(spark, sf_dir):
    """PQ encode (operators/similarity.py::pq_encode): 64-dim float32 →
    8 nearest-centroid codes (seeded codebooks, zero-shuffle codegen
    projection). Codes surface as a '-'-joined string so the value hash
    is array-representation-agnostic across engines."""
    from pybabe_spark.operators.similarity import pq_encode

    emb = read_table(spark, sf_dir, "embeddings")
    out = pq_encode(emb, m=_PQ_M, ks=_PQ_KS)
    return out.select(
        "vec_id",
        F.array_join(F.col("codes").cast("array<string>"), "-").alias("codes_str"),
    )


@register(
    "ann_pq_topk",
    f"""
    WITH {_PQ_SEEDS},
    {_PQ_CODES},
    qraw AS (
{_pq_sub_union('q', 'query_id', 'WHERE q.vec_id < 5')}
    ),
    qtab AS (
      SELECT query_id, j, cidx, CAST(d AS DECIMAL(18,6)) AS d FROM qraw
    ),
    ad AS (
      SELECT qtab.query_id, codes.vec_id AS neighbor_id,
             CAST(SUM(qtab.d) AS DOUBLE) AS adist
      FROM codes JOIN qtab ON codes.j = qtab.j AND codes.cidx = qtab.cidx
      WHERE codes.vec_id <> qtab.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adist FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC) AS rk
      FROM ad
    ) t WHERE rk <= 10
    """,
)
def q_ann_pq(spark, sf_dir):
    """PQ ADC top-k (operators/similarity.py::ann_pq): per-query m × ks
    distance tables built in-plan and broadcast; corpus side is the
    CODES table only — a zip_with lookup-sum per row, window top-k.
    Full value oracle via the seeded codebooks."""
    from pybabe_spark.operators.similarity import ann_pq

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ann_pq(emb, queries, k=10, m=_PQ_M, ks=_PQ_KS)


def _minhash_stored_sql(num_hashes: int, bands: int, threshold: float) -> str:
    """Oracle for the stored-MinHash incremental dedup: replay both
    sides' signatures, banded candidate join, and the equal-component
    Jaccard ESTIMATE (the stored-index contract — no text re-read)."""
    from pybabe_spark.operators.dedup_scale import MINHASH_PRIME, minhash_coeffs

    rows = num_hashes // bands
    mins = ", ".join(
        f"min(({a} * base + {b}) % {MINHASH_PRIME}) AS mh{j}"
        for j, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )

    def bandsel(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, md5("
            + " || '|' || ".join(
                f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows)
            )
            + f") AS bucket FROM {src}"
            for b in range(bands)
        )

    eq = " + ".join(
        f"(CASE WHEN n.mh{j} = s.mh{j} THEN 1 ELSE 0 END)"
        for j in range(num_hashes)
    )
    return f"""
    WITH shn AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS s
      FROM documents WHERE doc_id < 1000 AND doc_id % 5 <> 0
    ),
    shs AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS s
      FROM documents WHERE doc_id < 1000 AND doc_id % 5 = 0
    ),
    bn0 AS (SELECT doc_id,
              CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {MINHASH_PRIME} AS base
            FROM shn),
    bs0 AS (SELECT doc_id,
              CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {MINHASH_PRIME} AS base
            FROM shs),
    sign AS (SELECT doc_id, {mins} FROM bn0 GROUP BY doc_id),
    sigs AS (SELECT doc_id, {mins} FROM bs0 GROUP BY doc_id),
    bucketn AS ({bandsel('sign')}),
    buckets AS ({bandsel('sigs')}),
    cand AS (
      SELECT DISTINCT n.doc_id AS nid, s.doc_id AS sid
      FROM bucketn n JOIN buckets s ON n.band = s.band AND n.bucket = s.bucket
    ),
    drops AS (
      SELECT DISTINCT c.nid FROM cand c
      JOIN sign n ON c.nid = n.doc_id
      JOIN sigs s ON c.sid = s.doc_id
      WHERE CAST(({eq}) AS DOUBLE) / {num_hashes} >= {threshold}
    )
    SELECT doc_id FROM documents
    WHERE doc_id < 1000 AND doc_id % 5 <> 0
      AND doc_id NOT IN (SELECT nid FROM drops)
    """


_MINHASH_INDEX_CACHE: dict = {}


@register("near_dedup_stored_docs", _minhash_stored_sql(16, 4, 0.5))
def q_near_dedup_stored(spark, sf_dir):
    """Incremental dedup against a STORED MinHash index
    (operators/dedup_scale.py::build_minhash_index /
    near_dedup_against_stored): the seen corpus's signatures are built
    once and persisted; the new batch never reads seen text — the
    decision rides the equal-component Jaccard estimate."""
    import os

    from pybabe_spark.operators.dedup_scale import (
        build_minhash_index,
        near_dedup_against_stored,
    )

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    seen = docs.filter(F.col("doc_id") % 5 == 0)
    path = _MINHASH_INDEX_CACHE.get(sf_dir)
    if path is None or not os.path.isdir(path):
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="pybabe_mh_idx_")
        atexit.register(shutil.rmtree, root, True)
        path = os.path.join(root, "index")
        build_minhash_index(seen, path, num_hashes=16, bands=4, shingle_n=1)
        _MINHASH_INDEX_CACHE[sf_dir] = path
    new = docs.filter(F.col("doc_id") % 5 != 0)
    return near_dedup_against_stored(new, path, threshold=0.5).select("doc_id")


# IVF-PQ composes the non-SQL-replayable k-means coarse quantizer with the
# fully-oracled ADC scorer, so its driver check is the boolean-invariant
# pattern of ann_ivf_topk — anchored on ann_pq (identical codebooks →
# identical decimal ADC distances), which isolates exactly the IVF pruning
# loss: per query 1..k rows, every hit's adist BIT-EQUAL to the full-PQ
# ranking's, and recall vs full-PQ top-k over a pinned floor. Measured
# per-query recall with nprobe=4/nlist=16 is 0.5-0.9 at every test SF;
# the 0.3 floor leaves margin for testdata regeneration.
_IVFPQ_RECALL_FLOOR = 0.3


@register(
    "ann_ivfpq_topk",
    """
    SELECT vec_id AS query_id,
           TRUE AS n_ok,
           TRUE AS adist_ok,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5
    """,
)
def q_ann_ivfpq(spark, sf_dir):
    from pybabe_spark.operators.similarity import (
        _ivf_centroids,
        ann_ivfpq,
        ann_pq,
        build_pq_codebooks,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    C = _IVF_CENTROID_CACHE.get(sf_dir)
    if C is None:
        C = _IVF_CENTROID_CACHE[sf_dir] = _ivf_centroids(
            emb, "vec_id", "embedding", 16, 2048, 5
        )
    cb = build_pq_codebooks(emb, _PQ_M, _PQ_KS)
    queries = emb.filter(F.col("vec_id") < 5)
    ivfpq = ann_ivfpq(
        emb, queries, k=10, nlist=16, nprobe=4,
        m=_PQ_M, ks=_PQ_KS, centroids=C, codebooks=cb,
    )
    pq = (
        ann_pq(emb, queries, k=10, m=_PQ_M, ks=_PQ_KS, codebooks=cb)
        .select(
            "query_id",
            "neighbor_id",
            F.col("adist").alias("__pq_adist"),
        )
        .withColumn("__hit", F.lit(1))
    )
    stats = (
        ivfpq.join(pq, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("__hits"),
            F.min(
                F.when(F.col("__hit").isNotNull(),
                       (F.col("adist") == F.col("__pq_adist")).cast("int"))
            ).alias("__dist_eq"),
        )
    )
    qids = queries.select(F.col("vec_id").alias("query_id"))
    n = F.coalesce(F.col("__n"), F.lit(0))
    hits = F.coalesce(F.col("__hits"), F.lit(0))
    return qids.join(stats, "query_id", "left").select(
        "query_id",
        ((n >= F.lit(1)) & (n <= F.lit(10))).alias("n_ok"),
        # vacuously true only when there are no hits at all — and then
        # recall_ok fails, so a broken pipeline cannot slip through
        (F.coalesce(F.col("__dist_eq"), F.lit(1)) == 1).alias("adist_ok"),
        ((n >= F.lit(1)) & (hits >= F.lit(_IVFPQ_RECALL_FLOOR) * n)).alias(
            "recall_ok"
        ),
    )


# Distributed Lloyd k-means: the fit is a driver-coordinated iteration
# (like the IVF sample fit), so the oracle CERTIFIES invariants instead
# of replaying arithmetic: (1) the assignment total equals the corpus
# row count (a REAL data fact the oracle recomputes), (2) every row's
# assigned cell is its numerically-nearest centroid re-checked through
# an INDEPENDENT pure-JVM expression path (zip_with/aggregate fold, no
# Python — guards the Arrow kernel against a transposed/NaN centroid
# matrix) within 1e-9, (3) final inertia improved on the seed
# centroids' (Lloyd monotonicity; decimal-exact sums, 1e-3 slack for
# the rounding). A broken fit flips a boolean; the driver hash-compare
# catches it.
_KMEANS_CACHE: dict = {}
_KMEANS_K = 8
_KMEANS_ITERS = 4


@register(
    "kmeans_embeddings",
    f"""
    SELECT CAST(i AS INT) AS cell,
           (SELECT COUNT(*) FROM embeddings) AS n_total,
           TRUE AS assign_ok,
           TRUE AS inertia_ok
    FROM generate_series(0, {_KMEANS_K - 1}) t(i)
    """,
)
def q_kmeans(spark, sf_dir):
    from pybabe_spark.operators.kmeans import (
        kmeans_assign,
        kmeans_distances,
        kmeans_fit,
    )
    from pybabe_spark.operators._util import attach_scalars

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    got = _KMEANS_CACHE.get(sf_dir)
    if got is None:
        seed = (
            emb.orderBy(F.col("vec_id").asc()).limit(_KMEANS_K).collect()
        )
        C0 = [list(r["embedding"]) for r in seed]
        C = kmeans_fit(emb, k=_KMEANS_K, iters=_KMEANS_ITERS)
        got = _KMEANS_CACHE[sf_dir] = (C0, C)
    C0, C = got

    d = kmeans_distances(kmeans_assign(emb, C), C)
    row_ok = (
        F.element_at(F.col("__dists"), F.col("cell") + 1)
        <= F.array_min(F.col("__dists")) + F.lit(1e-9)
    )
    percell = (
        d.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("__m"),
            F.min(row_ok.cast("int")).alias("__ok"),
        )
    )
    inertia = d.agg(
        F.sum(F.array_min(F.col("__dists")).cast("decimal(18,6)")).alias("__fin")
    )
    inertia0 = kmeans_distances(emb, C0).agg(
        F.sum(F.array_min(F.col("__dists")).cast("decimal(18,6)")).alias("__ini")
    )
    totals = percell.agg(F.sum("__m").alias("__tot"))

    cells = spark.range(_KMEANS_K).select(F.col("id").cast("int").alias("cell"))
    out = attach_scalars(
        attach_scalars(attach_scalars(cells.join(percell, "cell", "left"), totals), inertia),
        inertia0,
    )
    return out.select(
        "cell",
        F.col("__tot").alias("n_total"),
        F.coalesce(F.col("__ok") == 1, F.lit(True)).alias("assign_ok"),
        (
            F.col("__fin").cast("double")
            <= F.col("__ini").cast("double") + F.lit(1e-3)
        ).alias("inertia_ok"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: sparse (BM25) + dense (cosine) fused with RRF
# ---------------------------------------------------------------------------

_HYBRID_TERMS = ["spark", "window", "sort"]
_HYBRID_K_IN = 20  # depth of each input list fed to the fusion


def _hybrid_sql() -> str:
    """DuckDB oracle of ``hybrid_search_docs``: the bm25_sql top-20 and
    a vec-0 cosine top-20 are re-ranked with the SAME (score DESC, id
    ASC) tiebreak each list was cut by, then fused with the exact
    integer reciprocal-rank contribution (operators/fusion.py)."""
    from pybabe_spark.operators.fusion import rrf_contrib_sql
    from pybabe_spark.operators.tfidf import bm25_sql

    sparse = bm25_sql(_HYBRID_TERMS, k=_HYBRID_K_IN)
    return f"""
    WITH sparse AS (
      SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS rk
      FROM ({sparse}) s
    ),
    q AS (SELECT {_NORMED.format(v='embedding')} AS qv
          FROM embeddings WHERE vec_id = 0),
    c AS (SELECT vec_id AS id, {_NORMED.format(v='embedding')} AS cv
          FROM embeddings),
    dsims AS (
      SELECT id,
             CAST(CAST({_DOT_N.format(a='qv', b='cv')} AS DECIMAL(18,6))
                  AS DOUBLE) AS score
      FROM c, q WHERE id <> 0
    ),
    dense AS (
      SELECT id, rk FROM (
        SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS rk
        FROM dsims
      ) t WHERE rk <= {_HYBRID_K_IN}
    ),
    lists AS (
      SELECT id, rk FROM sparse UNION ALL SELECT id, rk FROM dense
    )
    SELECT id,
           CAST(SUM({rrf_contrib_sql('rk')}) AS BIGINT) AS rrf_score,
           CAST(COUNT(*) AS BIGINT) AS n_lists
    FROM lists GROUP BY id
    ORDER BY rrf_score DESC, id ASC LIMIT 10
    """


@register("hybrid_search_docs", _hybrid_sql())
def q_hybrid_search(spark, sf_dir):
    """Hybrid retrieval (operators/fusion.py::rank_fuse): BM25 top-20
    for three query terms fused with the cosine top-20 around vec 0
    (doc ids and vec ids share the key space in the testdata) by
    reciprocal-rank fusion. Fusion never touches the corpus — both
    inputs are the search operators' own top-k cuts; the rank windows
    are partitioned per list; the fused score is an exact bigint."""
    from pybabe_spark.operators.fusion import rank_fuse
    from pybabe_spark.operators.tfidf import bm25_search

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    sparse = bm25_search(docs, _HYBRID_TERMS, k=_HYBRID_K_IN)
    # the per-query rank filter is ≤ K_IN rows by construction; the
    # explicit limit writes that bound into the plan (rank_fuse asserts
    # boundedness from logical maxRows)
    dense = (
        ann_brute_force(emb, emb.filter(F.col("vec_id") == 0), k=_HYBRID_K_IN)
        .select(F.col("neighbor_id").alias("id"), F.col("sim").alias("score"))
        .limit(_HYBRID_K_IN)
    )
    return rank_fuse([sparse, dense], k=10)


@register(
    "containment_pairs_docs",
    f"""
    WITH sh AS (
      SELECT doc_id AS doc, unnest(list_distinct({_FP_SHINGLES})) AS s
      FROM documents WHERE doc_id < 300
    ),
    sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
    common AS (
      SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END AS contained_id,
           CAST(c AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE)
               AS containment
    FROM common
    JOIN sizes sa ON id_a = sa.doc
    JOIN sizes sb ON id_b = sb.doc
    WHERE c * 1000000 >= 500000 * LEAST(sa.n, sb.n)
    """,
)
def q_containment_pairs(spark, sf_dir):
    """Asymmetric containment near-dups (operators/dedup_scale.py::
    containment_pairs): 3-gram shingle containment ≥ 0.5 over
    min(|A|,|B|) — the quote-inclusion/boilerplate-superset detector
    Jaccard-based LSH is structurally blind to. Inverted shingle
    equi-join, exact integer-ppm decision; the id-bounded subset keeps
    the oracle's exact definition flat across scale factors (the
    operator's scale valve is max_shingle_df stop-shingle removal,
    exercised in unit tests)."""
    from pybabe_spark.operators.dedup_scale import containment_pairs

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return containment_pairs(
        docs, "doc_id", "text", threshold=0.5, shingle_n=3
    )


@register(
    "hard_negatives_embeddings",
    f"""
    WITH q AS (SELECT vec_id AS query_id, label AS ql,
                      {_NORMED.format(v='embedding')} AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, label AS nl,
                 {_NORMED.format(v='embedding')} AS cv
          FROM embeddings),
    sims AS (
      SELECT query_id, neighbor_id,
             CAST({_DOT_N.format(a='qv', b='cv')} AS DECIMAL(18,6)) AS sim
      FROM c, q
      WHERE neighbor_id <> query_id AND nl IS DISTINCT FROM ql
    )
    SELECT query_id, neighbor_id, CAST(sim AS DOUBLE) AS sim FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
      FROM sims
    ) t WHERE rk <= 10
    """,
)
def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining (operators/similarity.py::
    ann_hard_negatives): per query vector, the 10 nearest corpus
    vectors with a DIFFERENT label — the contrastive-training
    negatives an in-batch sampler never finds. Same broadcast +
    Arrow-einsum plan as ann_cosine_topk with the label prune before
    scoring."""
    from pybabe_spark.operators.similarity import ann_hard_negatives

    emb = read_table(spark, sf_dir, "embeddings")
    return ann_hard_negatives(emb, emb.filter(F.col("vec_id") < 5), k=10)


@register(
    "novelty_score_docs",
    f"""
    WITH probe AS (
      SELECT doc_id, unnest(list_distinct({_FP_SHINGLES})) AS s
      FROM documents WHERE doc_id % 10 = 0
    ),
    ref AS (
      SELECT DISTINCT unnest(list_distinct({_FP_SHINGLES})) AS rs
      FROM documents WHERE doc_id % 10 <> 0
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(CAST(CAST(SUM(CASE WHEN ref.rs IS NULL THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE)
               AS novelty
    FROM probe LEFT JOIN ref ON probe.s = ref.rs
    GROUP BY doc_id
    """,
)
def q_novelty_score(spark, sf_dir):
    """Corpus-growth novelty (operators/decontam.py::novelty_score):
    fraction of each probe doc's distinct 3-grams unseen in the
    reference 9/10ths of the corpus — the keep-what-adds-something
    filter; distinct reference shingle set + one shingle join, never
    all-pairs."""
    from pybabe_spark.operators.decontam import novelty_score

    docs = read_table(spark, sf_dir, "documents")
    return novelty_score(
        docs.filter(F.col("doc_id") % 10 == 0),
        docs.filter(F.col("doc_id") % 10 != 0),
        n=3,
    )


def _nb_sql():
    from pybabe_spark.operators.nb import naive_bayes_sql

    return naive_bayes_sql(
        "doc_id % 2 = 0", "doc_id % 2 = 1", "lang"
    )


@register("naive_bayes_lang_docs", _nb_sql())
def q_naive_bayes(spark, sf_dir):
    """Multinomial Naive Bayes language-ID (operators/nb.py): trained
    by two count aggregations on even doc_ids, scored on odd doc_ids
    via one model equi-join + the unseen-coverage identity, argmax
    with smallest-label ties. Closed-form counting classifier — no
    iterations — with the decimal-rounded-log determinism of the LM
    family."""
    from pybabe_spark.operators.nb import nb_predict, train_naive_bayes

    docs = read_table(spark, sf_dir, "documents")
    model = train_naive_bayes(docs.filter(F.col("doc_id") % 2 == 0), "lang")
    return nb_predict(docs.filter(F.col("doc_id") % 2 == 1), model)


def _source_overlap_sql():
    from pybabe_spark.operators.dedup_scale import source_overlap_sql

    return source_overlap_sql("documents", "source", _FP_SHINGLES)


@register("source_overlap_docs", _source_overlap_sql())
def q_source_overlap(spark, sf_dir):
    """Inter-source 3-gram corpus overlap matrix
    (operators/dedup_scale.py::source_overlap): per source pair, exact
    shingle-set Jaccard and BOTH directed containments in integer ppm
    — the mirror-crawl / re-dump detector at corpus granularity. One
    distinct (source, shingle) projection; the self-join's per-shingle
    fanout is bounded by the number of sources squared, never by
    document frequency."""
    from pybabe_spark.operators.dedup_scale import source_overlap

    docs = read_table(spark, sf_dir, "documents")
    return source_overlap(docs, "source", "text", shingle_n=3)


def _emb_stats_sql():
    from pybabe_spark.operators.similarity import embedding_stats_sql

    return embedding_stats_sql("embeddings", "embedding")


@register("embedding_stats_quality", _emb_stats_sql())
def q_embedding_stats(spark, sf_dir):
    """Embedding-table quality gate (operators/similarity.py::
    embedding_stats): NULL/empty/non-finite/zero-vector counts, dim
    histogram modal check, and an exact decimal median norm² — one
    JVM-side higher-order-function pass + a tiny dim agg, the
    profile() of vector columns run before any ANN stage."""
    from pybabe_spark.operators.similarity import embedding_stats

    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_stats(emb, "embedding")


def _dot_dims(a: str, b: str, dims: int) -> str:
    return f"list_sum(list_transform(range(1, {dims + 1}), i -> {a}[i] * {b}[i]))"


def _topk_ranked_sql(dims: int) -> str:
    """Ranked exact cosine top-10 over the first ``dims`` embedding
    dimensions (re-normalized after truncation) — the matryoshka
    question's building block."""
    vec = f"embedding[1:{dims}]"
    normed = _NORMED.format(v=vec)
    return f"""
        SELECT query_id, neighbor_id, rk AS rank FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
          FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST({_dot_dims('q.qv', 'c.cv', dims)}
                        AS DECIMAL(18,6)) AS sim
            FROM (SELECT vec_id, {normed} AS qv
                  FROM embeddings WHERE vec_id < 5) q
            JOIN (SELECT vec_id, {normed} AS cv FROM embeddings) c
              ON c.vec_id <> q.vec_id
          ) s
        ) t WHERE rk <= 10
    """


def _matryoshka_sql():
    from pybabe_spark.operators.ranking import ranking_metrics_sql

    results16 = _topk_ranked_sql(16)
    truth64 = f"""
        SELECT query_id, neighbor_id FROM ({_topk_ranked_sql(64)})
    """
    return ranking_metrics_sql(
        results16, truth64, "query_id", "neighbor_id", "rank", 10
    )


@register("matryoshka_recall_embeddings", _matryoshka_sql())
def q_matryoshka_recall(spark, sf_dir):
    """Matryoshka truncation audit: how much of the FULL 64-dim top-10
    does retrieval over just the first 16 dims keep? Composes
    ann_brute_force at both widths with ranking_metrics — the
    recall@10/MRR/NDCG certificate that tells you whether prefix-
    truncated embeddings (4x cheaper index, 4x cheaper dot products)
    are safe for this corpus. ONE output row; everything downstream of
    the DECIMAL(18,6)-rounded sims is exact integer arithmetic."""
    from pybabe_spark.operators.ranking import ranking_metrics
    from pybabe_spark.operators.similarity import ann_brute_force
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)

    def ranked(dims: int):
        cut = lambda d: d.select(  # noqa: E731
            "vec_id", F.slice("embedding", 1, dims).alias("embedding")
        )
        top = ann_brute_force(cut(emb), cut(queries), k=10)
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), F.col("neighbor_id").asc()
        )
        return top.select(
            "query_id", "neighbor_id",
            F.row_number().over(w).alias("rank"),
        )

    results16 = ranked(16)
    truth64 = ranked(64).select("query_id", "neighbor_id")
    return ranking_metrics(
        results16, truth64, "query_id", "neighbor_id", "rank", k=10
    )


def _fhash_sql():
    from pybabe_spark.operators.dsir import feature_hash_encode_sql

    # The driver's canonicalizer pandas-sorts result cells and cannot
    # hash list values — serialize the array<bigint> to a canonical
    # comma string, exactly like quantize_embeddings_int8's `codes`.
    return (
        "SELECT doc_id, array_to_string(features, ',') AS features "
        f"FROM ({feature_hash_encode_sql(dim=64)})"
    )


@register("feature_hash_docs", _fhash_sql())
def q_feature_hash(spark, sf_dir):
    """Hashing-trick dense encoder (operators/dsir.py::
    feature_hash_encode): every document as a fixed 64-wide
    array<bigint> of hashed-bigram counts — the vocabulary-free
    featurizer, built entirely JVM-side (md5 bucket hash agg →
    map_from_entries → transform densification; zero UDFs). Empty
    docs encode as the zero vector via the id-universe left join.
    The vector is emitted as a canonical comma string so the
    cross-engine hash compares arrays portably (quantize precedent)."""
    from pybabe_spark.operators.dsir import feature_hash_encode

    docs = read_table(spark, sf_dir, "documents")
    return feature_hash_encode(docs, dim=64).select(
        "doc_id",
        F.concat_ws(
            ",", F.transform(F.col("features"), lambda x: x.cast("string"))
        ).alias("features"),
    )


def _centroid_drift_sql():
    from pybabe_spark.operators.similarity import centroid_drift_sql

    return centroid_drift_sql()


@register("centroid_drift_embeddings", _centroid_drift_sql())
def q_centroid_drift(spark, sf_dir):
    """Per-label centroid vs global centroid cosine
    (operators/similarity.py::centroid_drift): the segment-level
    embedding drift / sampling-bias diagnostic — exact decimal
    component sums (shuffle-order-proof), one correctly-rounded
    double conversion + division per component, position-ordered
    cosine fold, DECIMAL(18,6) finish. Two hash aggs + a broadcast
    join on the 64-row global table; no pairwise work anywhere."""
    from pybabe_spark.operators.similarity import centroid_drift

    emb = read_table(spark, sf_dir, "embeddings")
    return centroid_drift(emb, "label", "embedding")


def _cov_sql():
    from pybabe_spark.operators.pca import embedding_covariance_sql

    return embedding_covariance_sql("embeddings", "embedding", top=6)


@register("covariance_embeddings", _cov_sql())
def q_embedding_covariance(spark, sf_dir):
    """Top-left 6×6 corner of the exact embedding covariance matrix
    (operators/pca.py::embedding_covariance): per-Arrow-batch int64
    Gram partials (half-up micro-unit lift shared verbatim with the
    oracle) reduced by one (i,j) DECIMAL(38,0) hash agg — the
    SQL-oracle-able certificate of the PCA moment machinery; the
    eigen step itself lives in pca_embeddings (rows-only check, the
    documented non-SQL-expressible seam)."""
    from pybabe_spark.operators.pca import embedding_covariance

    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_covariance(emb, "embedding", dim=64, top=6)


@register("pca_embeddings", None)
def q_pca(spark, sf_dir):
    """PCA spectrum of the embedding corpus (operators/pca.py::
    pca_fit): top-8 eigenvalues + explained-variance ppm from
    numpy.eigh on the EXACT covariance matrix the distributed moment
    pass assembles (only the 64×64 matrix reaches the driver). No
    DuckDB oracle — eigendecomposition is genuinely non-SQL-
    expressible; the moment machinery beneath it is hash-certified by
    covariance_embeddings, and the spectrum is unit-tested against
    numpy on dense fixtures."""
    from pybabe_spark.operators.pca import pca_fit

    emb = read_table(spark, sf_dir, "embeddings")
    return pca_fit(emb, "embedding", dim=64, top_k=8)


def _winrate_sql():
    from pybabe_spark.operators.classifier import pairwise_winrate_sql

    frame = """
        SELECT 'click' AS item_a, 'purchase' AS item_b,
               (COALESCE(SUM(CASE WHEN event_type = 'click'
                    THEN CAST(value AS DECIMAL(18,2)) END), 0)
                - COALESCE(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(value AS DECIMAL(18,2)) END), 0))
                 AS outcome
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY user_id
    """
    return pairwise_winrate_sql(
        frame, "item_a", "item_b", "outcome", z_crit=1.959964
    )


@register("pairwise_winrate_events", _winrate_sql())
def q_pairwise_winrate(spark, sf_dir):
    """Arena-style pairwise win-rate with a sign-test verdict
    (operators/classifier.py::pairwise_winrate): per user, does click
    spend beat purchase spend — wins/losses/ties, exact integral
    win_rate_ppm over decisive comparisons, continuity-corrected
    sign-test z rounded once vs 1.96. The comparison outcome is an
    exact decimal difference so the sign is engine-identical. One
    user-grain conditional agg + one pair-grain agg."""
    from pybabe_spark.operators.classifier import pairwise_winrate

    ev = read_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            (
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("event_type") == "click",
                            F.col("value").cast("decimal(18,2)"),
                        )
                    ),
                    F.lit(0),
                )
                - F.coalesce(
                    F.sum(
                        F.when(
                            F.col("event_type") == "purchase",
                            F.col("value").cast("decimal(18,2)"),
                        )
                    ),
                    F.lit(0),
                )
            ).alias("outcome")
        )
        .select(
            F.lit("click").alias("item_a"),
            F.lit("purchase").alias("item_b"),
            "outcome",
        )
    )
    return pairwise_winrate(
        per_user, "item_a", "item_b", "outcome", z_crit=1.959964
    )


def _youden_sql():
    from pybabe_spark.operators.classifier import youden_threshold_sql
    from pybabe_spark.queries_text import _BRIER_FRAME_SQL

    return youden_threshold_sql(_BRIER_FRAME_SQL, "score", "label")


@register("youden_threshold_docs", _youden_sql())
def q_youden_threshold(spark, sf_dir):
    """Youden-J optimal operating point on the brier/AUC score frame
    (operators/classifier.py::youden_threshold): the score cut
    maximizing TPR − FPR — roc_auc_docs certifies the ordering,
    classification_report grades one threshold, this finds the one
    worth grading. All-integer suffix sums over the bounded
    micro-score grain, floored ppm rates, deterministic (J,
    threshold) argmax. One corpus agg + one bounded-grain window."""
    from pybabe_spark.operators.classifier import youden_threshold

    docs = read_table(spark, sf_dir, "documents")
    frame = docs.select(
        F.expr(
            "CAST(CAST(LEAST(1000000, size(split(text, ' ')) * 5000)"
            " AS DECIMAL(18,6)) / 1000000 AS DECIMAL(18,6))"
        ).alias("score"),
        F.expr(
            "CASE WHEN array_contains(split(text, ' '), 'spark')"
            " THEN 1 ELSE 0 END"
        ).alias("label"),
    )
    return youden_threshold(frame, "score", "label")
