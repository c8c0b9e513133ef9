"""Training-data hygiene queries: benchmark decontamination, duplicated
n-gram coverage, and word-entropy quality — each with an exact DuckDB
oracle over the same parquet tables.

Oracle-determinism notes (same conventions as queries_ml.py):

- Shingle extraction mirrors functions/text.py::shingle_array exactly:
  distinct word n-grams, docs shorter than n shingle to the whole text;
  the SQL uses 1-based list indexing, Spark 0-based sequences — both
  produce len-n+1 grams.
- Ratios are small-integer divisions surfaced as DECIMAL(18,6)-rounded
  doubles (denominators ≤ doc length, so every value is either exactly
  representable or has an infinite expansion — no rounding-mode edge).
- Entropy sums IEEE doubles in engine-specific distinct order; the
  DECIMAL(18,6) rounding absorbs the ±1e-15 summation-order noise.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pybabe_spark.queries import register
from pybabe_spark.sources.io import read_table


def _shingle_sql(n: int, where: str = "") -> str:
    """DuckDB mirror of the Spark shingle extraction (distinct n-grams,
    short-doc fallback to the whole text)."""
    ws = "string_split(text, ' ')"
    gram = " || ' ' || ".join(f"{ws}[i + {k}]" for k in range(n))
    return f"""
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len({ws}) >= {n} THEN
          list_transform(range(1, len({ws}) - {n} + 2), i -> {gram})
        ELSE [text] END)) AS s
      FROM documents {where}
    """


@register(
    "decontaminate_docs",
    f"""
    WITH sh AS ({_shingle_sql(3)}),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
    bad AS (
      SELECT DISTINCT doc_id FROM sh
      WHERE doc_id % 50 <> 0 AND s IN (SELECT s FROM bench)
    )
    SELECT doc_id, source, text FROM documents
    WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/decontam.py::decontaminate):
    every 50th doc plays the eval set; training docs sharing any word
    3-gram with it are dropped. Scale shape: distinct benchmark shingles
    broadcast, one exploded semi-join, no corpus self-join."""
    from pybabe_spark.operators.decontam import decontaminate

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return decontaminate(corpus, bench, n=3).select("doc_id", "source", "text")


@register(
    "ngram_coverage_docs",
    f"""
    WITH sh AS ({_shingle_sql(5)}),
    cnt AS (SELECT s, COUNT(*) AS nd FROM sh GROUP BY s)
    SELECT sh.doc_id,
           COUNT(*) AS n_shingles,
           CAST(CAST(CAST(SUM(CASE WHEN cnt.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS dup_coverage
    FROM sh JOIN cnt USING (s)
    GROUP BY sh.doc_id
    """,
)
def q_ngram_coverage(spark, sf_dir):
    """Duplicated-5-gram coverage per doc
    (operators/decontam.py::duplicated_ngram_coverage) — the
    RefinedWeb-style dup-n-gram signal: two map-side-combinable
    hash-aggregate shuffles, linear in corpus size."""
    from pybabe_spark.operators.decontam import duplicated_ngram_coverage

    docs = read_table(spark, sf_dir, "documents")
    return duplicated_ngram_coverage(docs, n=5)


def _tfidf_sql():
    from pybabe_spark.operators.tfidf import tfidf_sql

    return tfidf_sql(3)


@register("tfidf_top_terms_docs", _tfidf_sql())
def q_tfidf(spark, sf_dir):
    """Top-3 TF-IDF terms per document (operators/tfidf.py): two
    map-side-combinable aggregations + a small idf join + per-doc
    top-k window; ranked on rounded scores with a term tiebreak so the
    oracle's libm cannot reorder ties."""
    from pybabe_spark.operators.tfidf import tfidf_top_terms

    docs = read_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3)


def _zipf_sql():
    from pybabe_spark.operators.tfidf import zipf_fit_sql

    return zipf_fit_sql("SELECT text FROM documents", top_n=1000)


@register("zipf_fit_docs", _zipf_sql())
def q_zipf_fit(spark, sf_dir):
    """Zipf rank–frequency fit over the corpus vocabulary
    (operators/tfidf.py::zipf_fit): OLS of ln(count) on ln(rank) over
    the top-1000 terms — slope ≈ −1 is the natural-language
    certificate; synthetic/boilerplate corpora drift off it. One token
    hash agg → TakeOrdered cut → limit-proved bounded rank self-join →
    per-point-rounded decimal moments → one fixed-shape finish."""
    from pybabe_spark.operators.tfidf import zipf_fit

    docs = read_table(spark, sf_dir, "documents")
    return zipf_fit(docs, top_n=1000)


def _jsd_sql():
    from pybabe_spark.operators.validate import js_divergence_sql

    side = lambda pred: f"""
        SELECT w FROM (
            SELECT unnest(string_split(text, ' ')) AS w
            FROM documents WHERE {pred} AND text IS NOT NULL
        ) WHERE w <> ''
    """  # noqa: E731
    return js_divergence_sql(side("lang = 'en'"), side("lang <> 'en'"), "w")


@register("js_divergence_docs", _jsd_sql())
def q_js_divergence(spark, sf_dir):
    """Jensen–Shannon divergence between the word distributions of the
    English and non-English corpus slices (operators/validate.py::
    js_divergence) — the token-level drift monitor beside
    psi_orders_price's continuous one: union → one conditional hash
    agg to the vocabulary grain, per-term DECIMAL(38,12) rounding so
    the decimal sum is order-independent, 1-row finish with the
    normalized [0,1] readout."""
    from pybabe_spark.operators.validate import js_divergence

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    words = lambda pred: (  # noqa: E731
        docs.filter(pred)
        .select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    return js_divergence(
        words(F.col("lang") == "en"),
        words(F.col("lang") != "en"),
        "w",
    )


@register(
    "word_entropy_docs",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    c AS (
      SELECT doc_id, CAST(len(ws) AS DOUBLE) AS n,
             list_transform(list_distinct(ws),
                            d -> len(list_filter(ws, x -> x = d))) AS counts
      FROM w
    )
    SELECT doc_id,
           CAST(CAST(-list_sum(list_transform(counts,
                c -> (c / n) * log2(c / n))) AS DECIMAL(18,6)) AS DOUBLE)
             AS entropy
    FROM c
    """,
)
def q_word_entropy(spark, sf_dir):
    """Word-distribution Shannon entropy (functions/text.py::word_entropy)
    as a perplexity-proxy quality signal — pure codegen, narrow map,
    zero shuffle."""
    from pybabe_spark.functions.text import word_entropy

    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", word_entropy("text").alias("entropy"))


@register(
    "segment_dedup_docs",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    segs AS (
      SELECT doc_id,
             unnest(list_transform(range(0, CAST(ceil(len(ws)/20.0) AS INT)),
               i -> struct_pack(pos := i,
                 seg := array_to_string(list_slice(ws, i*20+1, i*20+20), ' ')))) AS s
      FROM w
    ),
    f AS (SELECT doc_id, s.pos AS pos, s.seg AS seg FROM segs),
    cnt AS (SELECT seg, COUNT(*) AS n FROM f GROUP BY seg),
    kept AS (SELECT doc_id, pos, seg FROM f JOIN cnt USING (seg) WHERE n < 2),
    drops AS (SELECT doc_id, COUNT(*) AS nd
              FROM f JOIN cnt USING (seg) WHERE n >= 2 GROUP BY doc_id),
    re AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text,
                  COUNT(*) AS nk
           FROM kept GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(re.text, '') AS text,
           CAST(COALESCE(re.nk, 0) + COALESCE(drops.nd, 0) AS BIGINT)
             AS n_segments,
           CAST(COALESCE(drops.nd, 0) AS BIGINT) AS n_dropped
    FROM documents d
    LEFT JOIN re USING (doc_id) LEFT JOIN drops USING (doc_id)
    """,
)
def q_segment_dedup(spark, sf_dir):
    """Segment-level (paragraph) dedup
    (operators/dedup_scale.py::segment_dedup): drop 20-word segments
    duplicated corpus-wide, reassemble docs in order — the CCNet-style
    boilerplate scrub. One segment-count groupBy + one linear join;
    no self-join."""
    from pybabe_spark.operators.dedup_scale import segment_dedup

    docs = read_table(spark, sf_dir, "documents")
    return segment_dedup(docs, "doc_id", "text", seg_words=20, min_dup=2)


# ---------------------------------------------------------------------------
# Sequence packing / chunking (operators/packing.py) — fixed-context prep
# ---------------------------------------------------------------------------

_PACK_BUDGET, _PACK_BUCKETS = 256, 8
_TOKENS_SQL = "len(regexp_extract_all(text, '([A-Za-z0-9]+|[^A-Za-z0-9 ])', 1))"


def _pack_oracle() -> str:
    from pybabe_spark.operators.sampling import hash_bucket_sql

    bucket = f"(({hash_bucket_sql('doc_id', 'int')}) % {_PACK_BUCKETS})"
    return f"""
    WITH RECURSIVE x AS (
      SELECT doc_id, bucket, t,
             ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
      FROM (SELECT doc_id, {bucket} AS bucket,
                   CAST({_TOKENS_SQL} AS BIGINT) AS t
            FROM documents)
    ),
    r AS (
      SELECT bucket, rn, doc_id, t, t AS acc, CAST(0 AS BIGINT) AS pack
      FROM x WHERE rn = 1
      UNION ALL
      SELECT x.bucket, x.rn, x.doc_id, x.t,
             CASE WHEN r.acc + x.t > {_PACK_BUDGET} THEN x.t
                  ELSE r.acc + x.t END,
             CASE WHEN r.acc + x.t > {_PACK_BUDGET} THEN r.pack + 1
                  ELSE r.pack END
      FROM r JOIN x ON x.bucket = r.bucket AND x.rn = r.rn + 1
    )
    SELECT doc_id, CAST(bucket AS INT) AS bucket, pack AS pack_id FROM r
    """


# The tokenizer-seam twins: identical pipelines to pack_tokens_docs /
# clip_docs_middle but with REAL tokenizer counts through the
# Arrow-batched pandas-UDF seam, using text.CharPairTokenizer — chosen
# exactly because its arithmetic ((length+1)//2 tokens; a head slice
# decodes to substr(text, 1, 2*budget)) is ANSI-SQL expressible, so the
# driver value-hashes the seam itself, executors included, not just the
# heuristic default path.
_PAIR_TOKENS_SQL = "((length(COALESCE(text, '')) + 1) // 2)"


def _pack_tokenizer_oracle() -> str:
    from pybabe_spark.operators.sampling import hash_bucket_sql

    bucket = f"(({hash_bucket_sql('doc_id', 'int')}) % {_PACK_BUCKETS})"
    return f"""
    WITH RECURSIVE x AS (
      SELECT doc_id, bucket, t,
             ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
      FROM (SELECT doc_id, {bucket} AS bucket,
                   CAST({_PAIR_TOKENS_SQL} AS BIGINT) AS t
            FROM documents)
    ),
    r AS (
      SELECT bucket, rn, doc_id, t, t AS acc, CAST(0 AS BIGINT) AS pack
      FROM x WHERE rn = 1
      UNION ALL
      SELECT x.bucket, x.rn, x.doc_id, x.t,
             CASE WHEN r.acc + x.t > {_PACK_BUDGET} THEN x.t
                  ELSE r.acc + x.t END,
             CASE WHEN r.acc + x.t > {_PACK_BUDGET} THEN r.pack + 1
                  ELSE r.pack END
      FROM r JOIN x ON x.bucket = r.bucket AND x.rn = r.rn + 1
    )
    SELECT doc_id, CAST(bucket AS INT) AS bucket, pack AS pack_id FROM r
    """


@register("pack_tokens_tokenizer_docs", _pack_tokenizer_oracle())
def q_pack_tokens_tokenizer(spark, sf_dir):
    """pack_tokens with token counts derived IN-PLAN from the text via
    the pluggable tokenizer seam (functions/text.py::token_count with
    CharPairTokenizer — an Arrow-batched pandas UDF on the executors);
    the oracle replays the same next-fit recurrence over the
    tokenizer's exact (length+1)//2 counts."""
    from pybabe_spark.functions.text import CharPairTokenizer
    from pybabe_spark.operators.packing import pack_tokens

    docs = read_table(spark, sf_dir, "documents")
    return pack_tokens(
        docs,
        budget=_PACK_BUDGET,
        n_buckets=_PACK_BUCKETS,
        text_col="text",
        tokenizer=CharPairTokenizer(),
    )


_CLIP_TOK_BUDGET = 64


@register(
    "clip_docs_tokenizer",
    f"""
    WITH t AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents)
    SELECT doc_id,
           CASE WHEN {_PAIR_TOKENS_SQL} <= {_CLIP_TOK_BUDGET} THEN text
                ELSE substr(text, 1, {2 * _CLIP_TOK_BUDGET}) END AS text,
           CAST({_PAIR_TOKENS_SQL} AS BIGINT) AS n_tokens,
           {_PAIR_TOKENS_SQL} > {_CLIP_TOK_BUDGET} AS clipped
    FROM t
    """,
)
def q_clip_tokenizer(spark, sf_dir):
    """Head clip at a REAL tokenizer budget (clip_documents with
    CharPairTokenizer): encode → slice to 64 tokens → decode, run as an
    Arrow-batched mapInPandas stage; the oracle replays the exact
    substr/count arithmetic of the pair tokenizer."""
    from pybabe_spark.functions.text import CharPairTokenizer
    from pybabe_spark.operators.packing import clip_documents

    docs = read_table(spark, sf_dir, "documents")
    return clip_documents(
        docs, _CLIP_TOK_BUDGET, mode="head", tokenizer=CharPairTokenizer()
    )


@register(
    "tokenize_docs",
    """
    SELECT doc_id,
           array_to_string(regexp_extract_all(COALESCE(text, ''),
             '([A-Za-z0-9]+|[^A-Za-z0-9 ])', 1), ' ') AS tokens_str,
           CAST(len(regexp_extract_all(COALESCE(text, ''),
             '([A-Za-z0-9]+|[^A-Za-z0-9 ])', 1)) AS BIGINT) AS n_tokens
    FROM documents
    """,
)
def q_tokenize(spark, sf_dir):
    """Materialized token arrays (functions/text.py::tokens, heuristic
    default path): regexp_extract_all stays in codegen and the SAME
    ASCII-class pattern runs in DuckDB — certifying the token-LIST
    parity that token_count's regexp_count only counts. Arrays travel
    as the order-preserving join for the driver's value hash."""
    from pybabe_spark.functions.text import tokens

    docs = read_table(spark, sf_dir, "documents").withColumn(
        "__t", F.coalesce(F.col("text"), F.lit(""))
    )
    arr = tokens("__t")
    return docs.select(
        "doc_id",
        F.array_join(arr, " ").alias("tokens_str"),
        F.size(arr).cast("bigint").alias("n_tokens"),
    )


# Corpus-trained BPE through the seam. The merge list is learned from
# the corpus itself (operators/bpe.py: one word-frequency agg + bounded
# driver merge loop), so its token counts are NOT SQL-expressible — the
# oracle instead recomputes the exact word/char counts and certifies the
# structural bounds every valid BPE encode must satisfy (each non-empty
# word encodes to between 1 and len(word) tokens → per-doc totals are
# bracketed by n_words and n_chars-excl-spaces). The exactness evidence
# lives in tests/test_bpe.py, which replays training AND encoding
# against an independent reference implementation value-for-value.
_BPE_CACHE: dict = {}


@register(
    "bpe_token_count_docs",
    """
    SELECT doc_id,
           CAST(len(list_filter(string_split(COALESCE(text, ''), ' '),
                                w -> w <> '')) AS BIGINT) AS n_words,
           CAST(length(replace(COALESCE(text, ''), ' ', '')) AS BIGINT)
             AS n_chars,
           TRUE AS bounds_ok
    FROM documents
    """,
)
def q_bpe_token_count(spark, sf_dir):
    """Train BPE on the corpus (30 merges), count every document in the
    learned subword units via the Arrow-batched tokenizer seam, and
    certify the BPE bracketing invariants (n_words ≤ n_tokens ≤
    n_chars). Trained once per corpus and cached — the build-offline /
    use-many shape of a real tokenizer deployment."""
    from pybabe_spark.functions.text import token_count
    from pybabe_spark.operators.bpe import train_bpe

    docs = read_table(spark, sf_dir, "documents")
    tok = _BPE_CACHE.get(sf_dir)
    if tok is None:
        tok = _BPE_CACHE[sf_dir] = train_bpe(docs, num_merges=30)
    txt = F.coalesce(F.col("text"), F.lit(""))
    n_words = F.size(F.filter(F.split(txt, " ", -1), lambda w: w != ""))
    n_chars = F.length(F.regexp_replace(txt, " ", ""))
    nt = token_count("text", tok)
    return docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        n_chars.cast("bigint").alias("n_chars"),
        ((nt >= n_words) & (nt <= n_chars)).alias("bounds_ok"),
    )


def _pack_contiguous_oracle() -> str:
    from pybabe_spark.operators.sampling import hash_bucket_sql

    bucket = f"(({hash_bucket_sql('doc_id', 'int')}) % {_PACK_BUCKETS})"
    # the cumsum window is partitioned by bucket on BOTH engines; DuckDB
    # `//` and Spark `div` are the same exact bigint floor division
    return f"""
    WITH x AS (
      SELECT doc_id,
             CAST({bucket} AS INT) AS bucket,
             CAST({_TOKENS_SQL} AS BIGINT) AS t
      FROM documents
    ),
    o AS (
      SELECT doc_id, bucket, t,
             SUM(t) OVER (PARTITION BY bucket ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS end_off
      FROM x
    )
    SELECT doc_id, bucket,
           CAST(end_off - t AS BIGINT) AS start_off,
           CAST(end_off AS BIGINT) AS end_off,
           CAST((end_off - t) // {_PACK_BUDGET} AS BIGINT) AS first_seq,
           CAST(CASE WHEN t > 0 THEN (end_off - 1) // {_PACK_BUDGET}
                     ELSE (end_off - t) // {_PACK_BUDGET} END AS BIGINT)
             AS last_seq,
           (CASE WHEN t > 0 THEN (end_off - 1) // {_PACK_BUDGET}
                 ELSE (end_off - t) // {_PACK_BUDGET} END)
             > ((end_off - t) // {_PACK_BUDGET}) AS spans_cut
    FROM o
    """


@register("pack_contiguous_docs", _pack_contiguous_oracle())
def q_pack_contiguous(spark, sf_dir):
    """GPT-style contiguous packing (operators/packing.py::
    pack_contiguous): per-bucket token streams cut at fixed 256-token
    boundaries, docs may span cuts — ONE bucket-partitioned cumsum
    window + exact integer division, no Python, no iteration."""
    from pybabe_spark.functions.text import token_count
    from pybabe_spark.operators.packing import pack_contiguous

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    return pack_contiguous(
        docs, budget=_PACK_BUDGET, tokens_col="n_tokens",
        n_buckets=_PACK_BUCKETS,
    )


@register("pack_tokens_docs", _pack_oracle())
def q_pack_tokens(spark, sf_dir):
    """Next-fit greedy sequence packing (operators/packing.py::
    pack_tokens): whole documents into <=256-token training packs,
    deterministic hash buckets, Arrow-batched applyInPandas state.
    The oracle replays the same next-fit recurrence as a recursive
    CTE — an exact per-document check of a genuinely sequential op."""
    from pybabe_spark.functions.text import token_count
    from pybabe_spark.operators.packing import pack_tokens

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    return pack_tokens(
        docs, budget=_PACK_BUDGET, tokens_col="n_tokens", n_buckets=_PACK_BUCKETS
    )


@register(
    "chunk_documents_docs",
    """
    WITH w AS (
      SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS ws
      FROM documents
    ),
    s AS (
      SELECT doc_id, ws,
             unnest(range(0, GREATEST(len(ws) - 10 - 1, 0) + 1, 30)) AS start
      FROM w
    ),
    c AS (
      SELECT doc_id,
             CAST(start / 30 AS INT) AS chunk_index,
             array_to_string(list_slice(ws, start + 1, start + 40), ' ')
               AS chunk_text
      FROM s
    )
    SELECT doc_id, chunk_index, chunk_text,
           CASE WHEN chunk_text = '' THEN 0
                ELSE len(string_split(chunk_text, ' ')) END AS n_words
    FROM c
    """,
)
def q_chunk_documents(spark, sf_dir):
    """Overlapping word-window chunking (operators/packing.py::
    chunk_documents, 40-word chunks / 10-word overlap): pure
    sequence+explode codegen, linear, shuffle-free."""
    from pybabe_spark.operators.packing import chunk_documents

    docs = read_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_words=40, overlap=10)


@register(
    "lm_perplexity_docs",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    bgx AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ws)),
               i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS b
      FROM w
    ),
    bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bgx),
    uni AS (SELECT unnest(ws) AS w1 FROM w),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM uni GROUP BY w1),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
    v AS (SELECT COUNT(*) AS v FROM c1),
    lp AS (
      SELECT bg.doc_id,
             CAST(ln((c12.c12 + 1.0) / (c1.c1 + 1.0 * v.v))
                  AS DECIMAL(18,6)) AS lp
      FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
             CAST(SUM(lp) AS DECIMAL(28,6)) AS s
      FROM lp GROUP BY doc_id
    ),
    out AS (
      SELECT d.doc_id,
             COALESCE(agg.n_bigrams, 0) AS n_bigrams,
             CAST(s AS DOUBLE) AS sum_logp,
             CAST(s AS DOUBLE) / agg.n_bigrams AS avg_logp
      FROM documents d LEFT JOIN agg USING (doc_id)
    )
    SELECT doc_id, n_bigrams, sum_logp, avg_logp,
           CAST(CAST(exp(-avg_logp) AS DECIMAL(18,6)) AS DOUBLE) AS ppl
    FROM out
    """,
)
def q_lm_perplexity(spark, sf_dir):
    """CCNet-style self-trained bigram-LM perplexity per document
    (operators/lm.py): two count aggregations train the model, two
    equi-joins score the exploded corpus against it, one hash
    aggregation per doc — linear, no collect, decimal-exact log-prob
    sums per the registry convention."""
    from pybabe_spark.operators.lm import perplexity, train_bigram_lm

    docs = read_table(spark, sf_dir, "documents")
    lm = train_bigram_lm(docs)
    return perplexity(docs, lm)


def _bigram_bucket_ctes(buckets: int) -> str:
    """Shared CTE chain producing ``f(doc_id, lang, bucket)`` — one row
    per word-bigram occurrence, md5-bucketed — the DuckDB mirror of
    operators/dsir.py::hashed_ngram_features. Used by the DSIR and
    classifier oracles so the feature definition cannot drift between
    them (NULL text yields no bigrams on both engines)."""
    from pybabe_spark.operators.dsir import feature_sql

    return f"""__w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
               FROM documents),
    __bgx AS (
      SELECT doc_id, lang, unnest(list_transform(range(1, len(ws)),
               i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS b
      FROM __w
    ),
    __bg AS (SELECT doc_id, lang, b.w1 AS w1, b.w2 AS w2 FROM __bgx),
    f AS (SELECT doc_id, lang, {feature_sql(buckets)} AS bucket FROM __bg)"""


def _dsir_weights_sql(buckets: int = 10_000, target_pred: str = "lang = 'en'") -> str:
    """DuckDB replay of operators/dsir.py::dsir_log_weights — identical
    md5 feature bucketing, add-1 bucket models, decimal-exact sums."""
    return f"""
    WITH {_bigram_bucket_ctes(buckets)},
    cr AS (SELECT bucket, COUNT(*) AS c FROM f GROUP BY bucket),
    nr AS (SELECT COUNT(*) AS n FROM f),
    ft AS (SELECT bucket FROM f WHERE {target_pred}),
    ct AS (SELECT bucket, COUNT(*) AS ct FROM ft GROUP BY bucket),
    nt AS (SELECT COUNT(*) AS n FROM ft),
    ratio AS (
      SELECT cr.bucket,
             CAST(ln((COALESCE(ct.ct, 0) + 1.0) / (nt.n + 1.0 * {buckets}))
                - ln((cr.c + 1.0) / (nr.n + 1.0 * {buckets}))
                AS DECIMAL(18,6)) AS lr
      FROM cr LEFT JOIN ct USING (bucket) CROSS JOIN nr CROSS JOIN nt
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_feats,
             CAST(SUM(lr) AS DECIMAL(28,6)) AS s
      FROM f JOIN ratio USING (bucket) GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(agg.n_feats, 0) AS n_feats,
           CAST(s AS DOUBLE) AS log_weight
    FROM documents d LEFT JOIN agg USING (doc_id)
    """


@register("dsir_weights_docs", _dsir_weights_sql())
def q_dsir_weights(spark, sf_dir):
    """DSIR importance log-weights (operators/dsir.py): raw = the whole
    documents corpus, target = its English slice; fixed 10k-bucket
    hashed-bigram models broadcast to one scoring join + per-doc agg."""
    from pybabe_spark.operators.dsir import (
        doc_feature_profile,
        dsir_log_weights,
    )

    docs = read_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    # target ⊂ raw: one materialized profile serves both models
    prof = doc_feature_profile(docs).localCheckpoint(eager=True)
    tgt_prof = prof.join(target.select("doc_id"), "doc_id", "semi")
    return dsir_log_weights(
        docs, target, raw_profile=prof, target_profile=tgt_prof
    )


def _dsir_sample_sql() -> str:
    from pybabe_spark.operators.dsir import gumbel_key_sql

    return f"""
    WITH wts AS ({_dsir_weights_sql()}),
    g AS (
      SELECT doc_id, n_feats, log_weight,
             {gumbel_key_sql('log_weight', 'doc_id')} AS gumbel
      FROM wts WHERE log_weight IS NOT NULL
    )
    SELECT doc_id, n_feats, log_weight, gumbel
    FROM g ORDER BY gumbel DESC, doc_id LIMIT 50
    """


@register("dsir_sample_docs", _dsir_sample_sql())
def q_dsir_sample(spark, sf_dir):
    """Gumbel-top-k DSIR resample (operators/dsir.py::dsir_resample):
    deterministic seeded-md5 Gumbel noise, TakeOrderedAndProject top-50
    — sample-without-replacement ∝ exp(log_weight), no global sort."""
    from pybabe_spark.operators.dsir import (
        doc_feature_profile,
        dsir_log_weights,
        dsir_resample,
    )

    docs = read_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    prof = doc_feature_profile(docs).localCheckpoint(eager=True)
    w = dsir_log_weights(
        docs, target, raw_profile=prof,
        target_profile=prof.join(target.select("doc_id"), "doc_id", "semi"),
    )
    return dsir_resample(w, k=50)


_STRIP_N = 6


@register(
    "strip_dup_spans_docs",
    f"""
    WITH w AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS ws
               FROM documents),
    gx AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ws) - {_STRIP_N} + 2),
               i -> struct_pack(pos := i - 1,
                 g := array_to_string(list_slice(ws, i, i + {_STRIP_N} - 1), ' ')))) AS s
      FROM w WHERE len(ws) >= {_STRIP_N}
    ),
    gr AS (SELECT doc_id, s.pos AS pos, s.g AS g FROM gx),
    cnt AS (SELECT g, COUNT(*) AS c FROM gr GROUP BY g),
    starts AS (SELECT doc_id, pos FROM gr JOIN cnt USING (g) WHERE c >= 2),
    wx AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
               i -> struct_pack(wpos := i - 1, wd := ws[i]))) AS u
      FROM w
    ),
    words AS (SELECT doc_id, u.wpos AS wpos, u.wd AS wd FROM wx),
    cov AS (
      SELECT words.doc_id, wpos, wd,
             MAX(CASE WHEN starts.pos IS NOT NULL
                      THEN wpos + {_STRIP_N} - 1 ELSE -1 END)
               OVER (PARTITION BY words.doc_id ORDER BY wpos
                     ROWS UNBOUNDED PRECEDING) AS ce
      FROM words LEFT JOIN starts
        ON words.doc_id = starts.doc_id AND words.wpos = starts.pos
    )
    SELECT doc_id,
           COALESCE(string_agg(wd, ' ' ORDER BY wpos)
                      FILTER (WHERE ce < wpos), '') AS text,
           COUNT(*) AS n_words,
           CAST(SUM(CASE WHEN ce >= wpos THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
    FROM cov GROUP BY doc_id
    """,
)
def q_strip_dup_spans(spark, sf_dir):
    """Exact duplicated-substring removal at {n}-gram resolution
    (operators/decontam.py::strip_duplicated_spans, the Lee-et-al /
    RefinedWeb exact-substring pass): delete every word covered by a
    corpus-duplicated 6-gram, reassemble in order. Linear explodes,
    one gram-count groupBy, one semi join, one PER-DOC running-max
    window — no self-join, no global window."""
    from pybabe_spark.operators.decontam import strip_duplicated_spans

    docs = read_table(spark, sf_dir, "documents")
    return strip_duplicated_spans(docs, n=_STRIP_N)


def _quality_classifier_sql(buckets: int = 4096, lr: float = 1.0) -> str:
    """DuckDB replay of operators/classifier.py::train_quality_classifier
    (iters=2, zero init, y = lang='en') + score_quality — the two GD
    iterations UNROLLED as CTEs in the same exact integer micro-unit
    arithmetic (weights/residuals/gradients ×1e6 as BIGINT, half-away-
    from-zero integer division for the update), so the whole training
    run is value-identical across engines."""
    from fractions import Fraction

    frac = Fraction(lr).limit_denominator(10**6)
    num, den = frac.numerator, frac.denominator

    def upd(prev_wm: str, g: str, extra_join: str = "") -> str:
        """half-away-from-zero integer delta, subtracted from prev."""
        return f"""
      SELECT bk.bucket,
             {prev_wm} - (CASE WHEN pq.p >= 0
                  THEN (2 * pq.p + pq.q) // (2 * pq.q)
                  ELSE -((2 * (-pq.p) + pq.q) // (2 * pq.q)) END) AS wm
      FROM bk {extra_join}
      JOIN (SELECT bk2.bucket,
                   COALESCE({g}.gm, 0) * {num} AS p,
                   nd.n * {den} AS q
            FROM bk AS bk2 LEFT JOIN {g} USING (bucket) CROSS JOIN nd
           ) AS pq USING (bucket)
        """

    sig = lambda sm: (  # noqa: E731 — σ̃ on micro-score sm
        f"(0.5 + 0.5 * (CAST({sm} AS DOUBLE) / 1000000.0)"
        f" / (1.0 + abs(CAST({sm} AS DOUBLE) / 1000000.0)))"
    )
    return f"""
    WITH {_bigram_bucket_ctes(buckets)},
    fp AS (SELECT doc_id, bucket, COUNT(*) AS nf FROM f GROUP BY 1, 2),
    y AS (SELECT doc_id,
                 CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
          FROM documents),
    nd AS (SELECT COUNT(*) AS n FROM documents),
    bk AS (SELECT DISTINCT bucket FROM fp),
    r1 AS (
      SELECT doc_id,
             CAST((CAST(0.5 AS DECIMAL(18,6)) - CAST(y AS DECIMAL(18,6)))
                  * 1000000 AS BIGINT) AS rm
      FROM y
    ),
    g1 AS (SELECT bucket, SUM(nf * rm) AS gm
           FROM fp JOIN r1 USING (doc_id) GROUP BY bucket),
    w1 AS ({upd("0", "g1")}),
    s2 AS (SELECT fp.doc_id, SUM(fp.nf * w1.wm) AS sm
           FROM fp JOIN w1 USING (bucket) GROUP BY fp.doc_id),
    r2 AS (
      SELECT y.doc_id,
             CAST((CAST({sig("COALESCE(s2.sm, 0)")} AS DECIMAL(18,6))
                   - CAST(y AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rm
      FROM y LEFT JOIN s2 USING (doc_id)
    ),
    g2 AS (SELECT bucket, SUM(nf * rm) AS gm
           FROM fp JOIN r2 USING (doc_id) GROUP BY bucket),
    w2m AS ({upd("w1.wm", "g2", extra_join="JOIN w1 USING (bucket)")}),
    w2 AS (SELECT bucket,
                  CAST(CAST(wm AS DOUBLE) / 1000000.0 AS DECIMAL(18,6)) AS w
           FROM w2m),
    sc AS (SELECT fp.doc_id, CAST(SUM(fp.nf) AS BIGINT) AS n_feats,
                  CAST(SUM(fp.nf * w2.w) AS DECIMAL(28,6)) AS s
           FROM fp JOIN w2 USING (bucket) GROUP BY fp.doc_id)
    SELECT d.doc_id,
           COALESCE(sc.n_feats, 0) AS n_feats,
           CAST(sc.s AS DOUBLE) AS score,
           CAST(CAST(0.5 + 0.5 * CAST(sc.s AS DOUBLE)
                          / (1.0 + abs(CAST(sc.s AS DOUBLE)))
                AS DECIMAL(18,6)) AS DOUBLE) AS prob
    FROM documents d LEFT JOIN sc USING (doc_id)
    """


@register("quality_classifier_docs", _quality_classifier_sql())
def q_quality_classifier(spark, sf_dir):
    """fastText-style quality classifier (operators/classifier.py):
    2-iteration full-batch logistic regression over hashed-bigram
    features, trained corpus-side (labels: lang='en'), then every doc
    scored under the trained weights. Each GD iteration is two
    equi-joins + two map-side-combinable aggregations with broadcast
    weights; the oracle replays the whole training run value-for-value
    as unrolled CTEs."""
    from pybabe_spark.operators.classifier import (
        score_quality,
        train_quality_classifier,
    )

    from pybabe_spark.operators.dsir import doc_feature_profile

    # when/otherwise (not a bare comparison cast): a NULL lang must
    # label 0 exactly like the oracle's CASE ... ELSE 0
    docs = read_table(spark, sf_dir, "documents").withColumn(
        "__lbl", F.when(F.col("lang") == "en", 1).otherwise(0)
    )
    prof = doc_feature_profile(docs, buckets=4096).localCheckpoint(eager=True)
    w = train_quality_classifier(docs, "__lbl", iters=2, lr=1.0, profile=prof)
    return score_quality(docs, w, profile=prof)


# Held-out evidence that the classifier LEARNS, not just that its
# arithmetic replays (VERDICT r5 next-round item 6). Label: the doc
# contains the word 'spark' — chosen because it is genuinely derivable
# from the hashed-bigram features (bigrams straddling the word light up
# reproducible buckets) on THIS corpus; the `lang` column is
# statistically independent of the text by construction (all langs share
# one vocabulary), so a lang label would certify nothing. The metric is
# AUC, not accuracy: the model has no intercept term, so its 0-threshold
# is uncalibrated for skewed labels (predict-the-majority hits
# share-of-majority accuracy while learning nothing) — AUC is
# threshold-free and measures exactly 'do held-out positives outrank
# held-out negatives'. Measured with iters=2/lr=1: 0.74 (sf0.001), 0.80
# (sf0.01), 0.81 (sf0.1); the 0.6 floor leaves regeneration margin while
# staying far above the 0.5 of a non-learning model.
#
# Scale shape: AUC via a 1000-bin prob histogram (prob is already
# DECIMAL(18,6)-rounded) — one groupBy to the ≤1001-row histogram, the
# rank prefix-sum as a bounded explode + broadcast equi-join over bins
# (NOT a global window — no single-task funnel at any corpus size), ties
# counted ½ within a bin. Oracle: DuckDB recomputes the exact split and
# label counts; auc_ok is the boolean-certified floor (the
# ann_ivf_topk pattern — a broken trainer flips the boolean and the
# hash-compare catches it).
_EVAL_AUC_FLOOR = 0.6


def _eval_split_sql() -> str:
    from pybabe_spark.operators.sampling import hash_bucket_sql

    return f"({hash_bucket_sql('doc_id')}) % 4 = 0"


@register(
    "quality_classifier_eval",
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN list_contains(string_split(text, ' '), 'spark')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           TRUE AS auc_ok
    FROM documents
    WHERE {_eval_split_sql()}
    """,
)
def q_quality_classifier_eval(spark, sf_dir):
    """Train on the ¾ split, score the held-out ¼, certify held-out
    ranking quality (AUC ≥ 0.6) as a boolean — the driver's check that
    the classifier generalizes to documents it never saw."""
    from pybabe_spark.operators._util import lazy_persist
    from pybabe_spark.operators.classifier import (
        score_quality,
        train_quality_classifier,
    )
    from pybabe_spark.operators.dsir import doc_feature_profile
    from pybabe_spark.operators.sampling import hash_bucket

    # train/test splits + scoring would otherwise each re-read and
    # re-label the corpus (15 scans measured)
    docs = lazy_persist(read_table(spark, sf_dir, "documents").withColumn(
        "__lbl",
        F.array_contains(F.split("text", " "), "spark").cast("int"),
    ))
    held = hash_bucket("doc_id") % 4 == 0
    train, test = docs.filter(~held), docs.filter(held)
    prof = doc_feature_profile(train, buckets=4096).localCheckpoint(eager=True)
    w = train_quality_classifier(train, "__lbl", iters=2, lr=1.0, profile=prof)
    ev = (
        test.select("doc_id", "__lbl")
        .join(
            score_quality(test, w).select("doc_id", "prob"), "doc_id", "left"
        )
        # featureless docs sit at the σ̃(0)=0.5 midpoint
        .select(
            "__lbl",
            F.coalesce(F.col("prob"), F.lit(0.5)).alias("prob"),
        )
    )
    hist = ev.groupBy(
        F.floor(F.col("prob") * 1000).cast("int").alias("bin")
    ).agg(
        F.sum("__lbl").alias("np"),
        F.sum(F.lit(1) - F.col("__lbl")).alias("nn"),
    )
    # negatives strictly below each bin: explode bin -> [0, bin), equi-join
    below = (
        hist.select(
            "bin",
            # explode of the empty array drops bin 0 (nothing below it);
            # when() must wrap the ARRAY, not the generator
            F.explode(
                F.when(
                    F.col("bin") > 0,
                    F.sequence(F.lit(0), F.col("bin") - 1),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("pb"),
        )
        .join(
            F.broadcast(
                hist.select(F.col("bin").alias("pb"), F.col("nn").alias("nnb"))
            ),
            "pb",
        )
        .groupBy("bin")
        .agg(F.sum("nnb").alias("nn_below"))
    )
    stats = (
        hist.join(below, "bin", "left")
        .agg(
            F.sum("np").alias("P"),
            F.sum("nn").alias("N"),
            F.sum(
                F.col("np") * F.coalesce(F.col("nn_below"), F.lit(0))
                + F.lit(0.5) * F.col("np") * F.col("nn")
            ).alias("num"),
        )
    )
    return stats.select(
        (F.col("P") + F.col("N")).cast("bigint").alias("n_eval"),
        F.col("P").cast("bigint").alias("n_pos"),
        (
            (F.col("P") > 0)
            & (F.col("N") > 0)
            & (
                F.col("num") / (F.col("P") * F.col("N"))
                >= F.lit(_EVAL_AUC_FLOOR)
            )
        ).alias("auc_ok"),
    )


@register(
    "lm_trigram_perplexity_docs",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    gx AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
               i -> struct_pack(
                 ctx := array_to_string(list_slice(ws, i, i + 1), ' '),
                 w := ws[i + 2]))) AS g
      FROM w WHERE len(ws) >= 3
    ),
    g AS (SELECT doc_id, g.ctx AS ctx, g.w AS w FROM gx),
    c3 AS (SELECT ctx, w, COUNT(*) AS c FROM g GROUP BY 1, 2),
    cc AS (SELECT ctx, SUM(c) AS cc FROM c3 GROUP BY ctx),
    v AS (SELECT COUNT(DISTINCT w1) AS v
          FROM (SELECT unnest(ws) AS w1 FROM w)),
    lp AS (
      SELECT g.doc_id,
             CAST(ln((c3.c + 1.0) / (cc.cc + 1.0 * v.v))
                  AS DECIMAL(18,6)) AS lp
      FROM g JOIN c3 USING (ctx, w) JOIN cc USING (ctx) CROSS JOIN v
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_ngrams,
             CAST(SUM(lp) AS DECIMAL(28,6)) AS s
      FROM lp GROUP BY doc_id
    ),
    out AS (
      SELECT d.doc_id,
             COALESCE(agg.n_ngrams, 0) AS n_ngrams,
             CAST(s AS DOUBLE) AS sum_logp,
             CAST(s AS DOUBLE) / agg.n_ngrams AS avg_logp
      FROM documents d LEFT JOIN agg USING (doc_id)
    )
    SELECT doc_id, n_ngrams, sum_logp, avg_logp,
           CAST(CAST(exp(-avg_logp) AS DECIMAL(18,6)) AS DOUBLE) AS ppl
    FROM out
    """,
)
def q_lm_trigram_perplexity(spark, sf_dir):
    """Order-3 LM perplexity (operators/lm.py::train_ngram_lm /
    ngram_perplexity — the CCNet shape generalized to n): one n-gram
    count aggregation, context PREFIX counts derived from it (no second
    corpus pass), scoring joins on the string context key. Same
    decimal-exact log-prob sums as the bigram form."""
    from pybabe_spark.operators.lm import ngram_perplexity, train_ngram_lm

    docs = read_table(spark, sf_dir, "documents")
    return ngram_perplexity(docs, train_ngram_lm(docs, n=3), n=3)


@register(
    "clip_docs_middle",
    """
    WITH w AS (SELECT doc_id, text,
                      string_split(COALESCE(text, ''), ' ') AS ws
               FROM documents)
    SELECT doc_id,
           CASE WHEN len(ws) <= 40 THEN COALESCE(text, '')
                ELSE array_to_string(
                       list_concat(list_slice(ws, 1, 20),
                                   list_slice(ws, len(ws) - 19, len(ws))),
                       ' ')
           END AS text,
           CASE WHEN COALESCE(text, '') = '' THEN 0
                ELSE len(ws) END AS n_words,
           len(ws) > 40 AS clipped
    FROM w
    """,
)
def q_clip_docs(spark, sf_dir):
    """Head+tail token-budget clip (operators/packing.py::
    clip_documents, mode='middle', 40 words): keep the first 20 and
    last 20 words of over-budget docs — pure codegen array slicing,
    narrow map, zero shuffle."""
    from pybabe_spark.operators.packing import clip_documents

    docs = read_table(spark, sf_dir, "documents")
    return clip_documents(docs, max_words=40, mode="middle")


@register(
    "bm25_search_docs",
    __import__("pybabe_spark.operators.tfidf", fromlist=["bm25_sql"]).bm25_sql(
        ["spark", "window", "sort"], k=10
    ),
)
def q_bm25_search(spark, sf_dir):
    """Okapi BM25 top-10 for the query ``spark window sort``
    (operators/tfidf.py::bm25_search): filtered-posting tf aggregation,
    broadcast ≤3-row idf table, TakeOrdered top-k — the text-retrieval
    counterpart of the ANN family. Scale shape: only the two linear
    corpus aggregations touch every row; everything else is
    posting-list-sized."""
    from pybabe_spark.operators.tfidf import bm25_search

    docs = read_table(spark, sf_dir, "documents")
    return bm25_search(docs, ["spark", "window", "sort"], k=10)


_BM25_INDEX_CACHE: dict = {}


@register(
    "bm25_stored_docs",
    __import__("pybabe_spark.operators.tfidf", fromlist=["bm25_sql"]).bm25_sql(
        ["hash", "merge"], k=8
    ),
)
def q_bm25_stored(spark, sf_dir):
    """BM25 against the persisted inverted index
    (operators/tfidf.py::build_bm25_index / bm25_search_stored):
    posting rows carry (tf, dl, df) denormalized, corpus totals ride a
    1-row sidecar, so the probe plan has NO join and reads only the
    query terms' md5-bucket partitions (pruned at the file listing).
    The oracle is the SAME full-value BM25 SQL as the in-memory path —
    the index must reproduce it bit-for-bit."""
    import os

    from pybabe_spark.operators.tfidf import bm25_search_stored, build_bm25_index

    path = _BM25_INDEX_CACHE.get(sf_dir)
    if path is None or not os.path.isdir(path):
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="pybabe_bm25_")
        atexit.register(shutil.rmtree, root, True)
        path = os.path.join(root, "index")
        docs = read_table(spark, sf_dir, "documents")
        build_bm25_index(docs, path)
        _BM25_INDEX_CACHE[sf_dir] = path
    return bm25_search_stored(spark, path, ["hash", "merge"], k=8)


def _pmi_sql():
    from pybabe_spark.operators.collocations import pmi_collocations_sql

    return pmi_collocations_sql(k=20, min_count=5)


@register("pmi_collocations_docs", _pmi_sql())
def q_pmi_collocations(spark, sf_dir):
    """Top-20 PMI collocations with min_count=5
    (operators/collocations.py): map-combinable unigram/bigram counts,
    pruned-before-join candidates, TakeOrdered top-k — Church & Hanks
    phrase mining as two aggregations and two word-keyed joins."""
    from pybabe_spark.operators.collocations import pmi_collocations

    docs = read_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, k=20, min_count=5)


def _normalize_sql():
    from pybabe_spark.functions.text import normalize_text_sql

    expr = normalize_text_sql("text", lower=True, strip_punct=True)
    return f"SELECT doc_id, {expr} AS text FROM documents"


@register("normalize_text_docs", _normalize_sql())
def q_normalize_text(spark, sf_dir):
    """Canonical cleanup (functions/text.py::normalize_text): lower +
    punctuation strip + whitespace collapse as pure codegen — zero
    shuffle, exact cross-engine value oracle."""
    from pybabe_spark.functions.text import normalize_text

    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", normalize_text("text", strip_punct=True).alias("text")
    )


@register(
    "bm25_incremental_docs",
    __import__("pybabe_spark.operators.tfidf", fromlist=["bm25_sql"]).bm25_sql(
        ["scan", "batch"], k=8
    ),
)
def q_bm25_incremental(spark, sf_dir):
    """Incremental-crawl BM25: index built on half the corpus, the
    other half APPENDED (operators/tfidf.py::append_bm25_index — no
    indexed text re-read; df is probe-time-exact), then probed. The
    oracle is the whole-corpus BM25 SQL — append must be
    indistinguishable from a fresh rebuild."""
    import os

    from pybabe_spark.operators.tfidf import (
        append_bm25_index,
        bm25_search_stored,
        build_bm25_index,
    )

    key = (sf_dir, "incremental")
    path = _BM25_INDEX_CACHE.get(key)
    if path is None or not os.path.isdir(path):
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="pybabe_bm25_inc_")
        atexit.register(shutil.rmtree, root, True)
        path = os.path.join(root, "index")
        docs = read_table(spark, sf_dir, "documents")
        build_bm25_index(docs.filter(F.col("doc_id") % 2 == 0), path)
        append_bm25_index(docs.filter(F.col("doc_id") % 2 != 0), path)
        _BM25_INDEX_CACHE[key] = path
    return bm25_search_stored(spark, path, ["scan", "batch"], k=8)


_HTML_PRE = (
    '<html><head><title>t</title>'
    '<script>var x = "<b>no</b>";</script></head><body><h1>Doc '
)
_HTML_MID = "</h1><p>"
_HTML_POST = " &amp; tail</p><!-- hidden --></body></html>"


def _html_extract_sql():
    from pybabe_spark.functions.html import html_to_text_sql

    def q(s):
        return "'" + s.replace("'", "''") + "'"

    expr = (
        f"{q(_HTML_PRE)} || CAST(doc_id AS VARCHAR) || {q(_HTML_MID)}"
        f" || text || {q(_HTML_POST)}"
    )
    return (
        f"SELECT doc_id, {html_to_text_sql(expr)} AS extracted"
        " FROM documents"
    )


@register("html_extract_docs", _html_extract_sql())
def q_html_extract(spark, sf_dir):
    """Markup-strip stage of a crawl-ingest pipeline
    (functions/html.py::html_to_text): every document wrapped in
    deterministic HTML (script + comment + entities included) and
    extracted back to text. Pure whole-stage-codegen regexp chain —
    zero Python, zero shuffles; the oracle SQL is generated from the
    SAME pattern table, so the key certifies the cross-engine
    extraction contract, not just this wrapper."""
    from pybabe_spark.functions.html import html_to_text

    docs = read_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(_HTML_PRE),
        F.col("doc_id").cast("string"),
        F.lit(_HTML_MID),
        F.col("text"),
        F.lit(_HTML_POST),
    )
    return docs.select("doc_id", html_to_text(html).alias("extracted"))


def _url_stats_sql():
    from pybabe_spark.functions.url import (
        normalize_url_sql,
        registered_domain_sql,
    )

    build = (
        "(CASE WHEN doc_id % 3 = 0 THEN 'https' ELSE 'http' END)"
        " || '://'"
        " || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)"
        " || source"
        " || (CASE WHEN doc_id % 5 = 0 THEN '.Co.UK' ELSE '.Example.com' END)"
        " || (CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END)"
        " || '/d/' || CAST(doc_id AS VARCHAR)"
        " || '?utm_source=bench&q=' || CAST(doc_id % 10 AS VARCHAR) || '&a=1'"
    )
    return f"""
    WITH urls AS (
        SELECT {normalize_url_sql('u')} AS nu,
               {registered_domain_sql('u')} AS domain
        FROM (SELECT {build} AS u FROM documents)
    )
    SELECT domain, COUNT(*) AS n_urls,
           COUNT(DISTINCT nu) AS n_unique
    FROM urls GROUP BY domain
    """


@register("url_domain_stats_docs", _url_stats_sql())
def q_url_domain_stats(spark, sf_dir):
    """Crawl-side URL hygiene (functions/url.py): deterministic
    synthetic URLs per document (mixed scheme/www/SLD/port/tracking
    params), canonicalized and rolled up per registrable domain —
    the count-by-domain pass every crawl pipeline runs before source
    weighting. normalize/domain are pure codegen; one hash aggregate;
    the oracle rebuilds the same URLs and mirrors the same constants."""
    from pybabe_spark.functions.url import normalize_url, registered_domain

    docs = read_table(spark, sf_dir, "documents")
    u = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("https")).otherwise(
            F.lit("http")
        ),
        F.lit("://"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(".Co.UK")).otherwise(
            F.lit(".Example.com")
        ),
        F.when(F.col("doc_id") % 7 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/d/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=bench&q="),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("&a=1"),
    )
    urls = docs.select(
        normalize_url(u).alias("nu"), registered_domain(u).alias("domain")
    )
    return urls.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("nu").alias("n_unique"),
    )


def _llr_sql():
    from pybabe_spark.operators.collocations import llr_collocations_sql

    return llr_collocations_sql(k=20, min_count=5)


@register("llr_collocations_docs", _llr_sql())
def q_llr_collocations(spark, sf_dir):
    """Dunning G² log-likelihood collocations
    (operators/collocations.py::llr_collocations): the rare-pair-robust
    sibling of PMI — position-count hash aggs, min_count prune before
    the joins, one fixed-shape entropy-form IEEE expression rounded
    once, TakeOrdered top-k."""
    from pybabe_spark.operators.collocations import llr_collocations

    docs = read_table(spark, sf_dir, "documents")
    return llr_collocations(docs, k=20, min_count=5)


def _calib_sql():
    from pybabe_spark.operators.classifier import calibration_bins_sql

    frame = """
        SELECT CAST(CAST(LEAST(1000000,
                   len(string_split(text, ' ')) * 5000)
               AS DECIMAL(18,6)) / 1000000 AS DECIMAL(18,6)) AS score,
               CASE WHEN list_contains(string_split(text, ' '), 'spark')
                    THEN 1 ELSE 0 END AS label
        FROM documents
    """
    return calibration_bins_sql(frame, "score", "label", 10)


@register("calibration_bins_docs", _calib_sql())
def q_calibration_bins(spark, sf_dir):
    """Reliability curve (operators/classifier.py::calibration_bins):
    a length-based 'probability the doc mentions spark' score binned
    into deciles against the observed rate — ONE hash agg to ≤10 rows,
    all-integer micro/ppm arithmetic (scores lift to exact micro-units
    BEFORE binning). The threshold-free calibration companion to the
    AUC certificate."""
    from pybabe_spark.operators.classifier import calibration_bins

    docs = read_table(spark, sf_dir, "documents")
    frame = docs.select(
        F.expr(
            "CAST(CAST(LEAST(1000000, size(split(text, ' ')) * 5000)"
            " AS DECIMAL(18,6)) / 1000000 AS DECIMAL(18,6))"
        ).alias("score"),
        F.array_contains(F.split("text", " "), "spark")
        .cast("int")
        .alias("label"),
    )
    return calibration_bins(frame, "score", "label", 10)


_BRIER_FRAME_SQL = """
        SELECT CAST(CAST(LEAST(1000000,
                   len(string_split(text, ' ')) * 5000)
               AS DECIMAL(18,6)) / 1000000 AS DECIMAL(18,6)) AS score,
               CASE WHEN list_contains(string_split(text, ' '), 'spark')
                    THEN 1 ELSE 0 END AS label
        FROM documents
    """


def _brier_sql():
    from pybabe_spark.operators.classifier import brier_score_sql

    return brier_score_sql(_BRIER_FRAME_SQL, "score", "label")


@register("brier_score_docs", _brier_sql())
def q_brier_score(spark, sf_dir):
    """Brier score + skill (operators/classifier.py::brier_score) on
    the calibration_bins_docs frame: the single-number calibration
    certificate — exact micro-unit residuals, floored integral ppm,
    skill vs the always-predict-base-rate reference. ONE map-side-
    combinable aggregation."""
    from pybabe_spark.operators.classifier import brier_score

    docs = read_table(spark, sf_dir, "documents")
    frame = docs.select(
        F.expr(
            "CAST(CAST(LEAST(1000000, size(split(text, ' ')) * 5000)"
            " AS DECIMAL(18,6)) / 1000000 AS DECIMAL(18,6))"
        ).alias("score"),
        F.array_contains(F.split("text", " "), "spark")
        .cast("int")
        .alias("label"),
    )
    return brier_score(frame, "score", "label")


def _di_sql():
    from pybabe_spark.operators.classifier import disparate_impact_sql

    frame = """
        SELECT lang,
               CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS kept
        FROM documents
    """
    return disparate_impact_sql(frame, "lang", "kept", min_n=20)


@register("disparate_impact_docs", _di_sql())
def q_disparate_impact(spark, sf_dir):
    """Disparate-impact report of a length filter across languages
    (operators/classifier.py::disparate_impact): per-language keep
    rate as a floored-ppm ratio of the highest-rate language + the
    EEOC four-fifths flag — the selection-parity readout a
    training-data filter needs (length thresholds systematically
    disadvantage languages with shorter texts). One group hash agg +
    1-row max attach, all integer."""
    from pybabe_spark.operators.classifier import disparate_impact

    docs = read_table(spark, sf_dir, "documents").select(
        "lang",
        (F.col("n_chars") >= 300).cast("int").alias("kept"),
    )
    return disparate_impact(docs, "lang", "kept", min_n=20)


def _boiler_sql():
    from pybabe_spark.operators.decontam import strip_boilerplate_lines_sql

    src = (
        "SELECT doc_id, "
        "'COOKIE NOTICE' || chr(10) || text || chr(10) || "
        "'footer-' || CAST(doc_id % 3 AS VARCHAR) AS text "
        "FROM documents WHERE doc_id < 3000"
    )
    return strip_boilerplate_lines_sql(src, "doc_id", "text", min_df=2)


@register("strip_boilerplate_docs", _boiler_sql())
def q_strip_boilerplate(spark, sf_dir):
    """C4/RefinedWeb line-level boilerplate removal
    (operators/decontam.py::strip_boilerplate_lines): every document is
    wrapped in a shared cookie-banner header plus a 3-way footer, and
    any line occurring in >= 2 distinct documents is stripped — the
    banner and footers vanish corpus-wide, each unique body line
    survives in place. Scale shape: posexplode + line-hash df agg +
    line-hash anti-join + in-row ordered reassembly (array_sort over
    (pos, line) structs) — no window, three shuffles."""
    from pybabe_spark.operators.decontam import strip_boilerplate_lines

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 3000
    )
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit("COOKIE NOTICE\n"),
            F.col("text"),
            F.lit("\n"),
            F.concat(F.lit("footer-"), (F.col("doc_id") % 3).cast("string")),
        ).alias("text"),
    )
    return strip_boilerplate_lines(wrapped, "doc_id", "text", min_df=2)


def _clf_report_sql():
    from pybabe_spark.operators.classifier import classification_report_sql

    frame = """(SELECT lang AS gold,
                       CASE WHEN doc_id % 10 < 7 THEN lang
                            ELSE 'en' END AS pred
                FROM documents)"""
    return classification_report_sql(frame, "gold", "pred")


@register("classification_report_docs", _clf_report_sql())
def q_classification_report(spark, sf_dir):
    """Per-class precision/recall/F1 of the 70%-faithful pseudo-
    prediction against the gold lang label (operators/classifier.py::
    classification_report) — the per-class view cohens_kappa_docs'
    scalar hides: 'en' shows inflated precision-cost (every miss
    lands there) while minority langs keep precision 1.0 at recall
    0.7. All-integer ppm ratios, margins over one cell agg."""
    from pybabe_spark.operators.classifier import classification_report

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("lang").alias("gold"),
        F.when(F.col("doc_id") % 10 < 7, F.col("lang"))
        .otherwise(F.lit("en"))
        .alias("pred"),
    )
    return classification_report(docs, "gold", "pred")


def _ranking_sql():
    from pybabe_spark.operators.ranking import ranking_metrics_sql

    results = """
        SELECT lang, doc_id, rank FROM (
            SELECT lang, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY n_chars DESC, doc_id ASC) AS rank
            FROM documents
        ) WHERE rank <= 10
    """
    truth = "SELECT lang, doc_id FROM documents WHERE doc_id % 3 = 0"
    return ranking_metrics_sql(results, truth, "lang", "doc_id", "rank", 10)


@register("ranking_metrics_docs", _ranking_sql())
def q_ranking_metrics(spark, sf_dir):
    """Recall@10 / MRR@10 / NDCG@10 of a deterministic longest-docs-
    first ranking per language against a doc_id%3 relevance set
    (operators/ranking.py::ranking_metrics) — the tuning harness for
    the BM25/ANN/RRF search family; all per-rank gains are Python
    integer-ppm literals shared with the oracle, so neither engine
    computes a log."""
    from pyspark.sql import Window

    from pybabe_spark.operators.ranking import ranking_metrics

    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    results = (
        docs.select(
            "lang", "doc_id", F.row_number().over(w).alias("rank")
        )
        .filter(F.col("rank") <= 10)
    )
    truth = docs.filter(F.col("doc_id") % 3 == 0).select("lang", "doc_id")
    return ranking_metrics(results, truth, "lang", "doc_id", "rank", k=10)


def _rbo_sql():
    from pybabe_spark.operators.ranking import rbo_overlap_sql

    ra = """
        SELECT lang, doc_id, rank FROM (
            SELECT lang, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY n_chars DESC, doc_id ASC) AS rank
            FROM documents
        ) WHERE rank <= 10
    """
    rb = """
        SELECT lang, doc_id, rank FROM (
            SELECT lang, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY n_chars - (n_chars % 10) DESC, doc_id ASC
                   ) AS rank
            FROM documents
        ) WHERE rank <= 10
    """
    return rbo_overlap_sql(ra, rb, "lang", "doc_id", "rank", 10)


@register("rbo_overlap_docs", _rbo_sql())
def q_rbo_overlap(spark, sf_dir):
    """Truncated RBO@10 between the exact longest-docs ranking and a
    10-char-coarsened variant per language (operators/ranking.py::
    rbo_overlap) — the label-free ranking-change monitor: high-but-
    not-1.0 agreement exactly where tie-band reshuffles moved docs.
    Suffix-sum ppm literals shared with the oracle; exact integer
    sums."""
    from pyspark.sql import Window

    from pybabe_spark.operators.ranking import rbo_overlap

    docs = read_table(spark, sf_dir, "documents")
    wa = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    wb = Window.partitionBy("lang").orderBy(
        (F.col("n_chars") - F.col("n_chars") % 10).desc(),
        F.col("doc_id").asc(),
    )
    ra = docs.select(
        "lang", "doc_id", F.row_number().over(wa).alias("rank")
    ).filter(F.col("rank") <= 10)
    rb = docs.select(
        "lang", "doc_id", F.row_number().over(wb).alias("rank")
    ).filter(F.col("rank") <= 10)
    return rbo_overlap(ra, rb, "lang", "doc_id", "rank", k=10)


def _readability_sql():
    from pybabe_spark.functions.text import readability_sql

    return readability_sql()


@register("readability_docs", _readability_sql())
def q_readability(spark, sf_dir):
    """Flesch reading ease + Flesch–Kincaid grade per document
    (functions/text.py::readability): vowel-group syllable heuristic,
    sentence runs floored at 1, both scores as FLOORED integral ppm —
    pure BIGINT arithmetic over three regexp counts, so the oracle
    replays every value exactly (no IEEE division anywhere). Narrow
    map, zero shuffle, linear at any corpus size."""
    from pybabe_spark.functions.text import readability

    docs = read_table(spark, sf_dir, "documents")
    r = readability("text")
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        r["n_words"].alias("n_words"),
        r["n_sentences"].alias("n_sentences"),
        r["n_syllables"].alias("n_syllables"),
        r["reading_ease_ppm"].alias("reading_ease_ppm"),
        r["fk_grade_ppm"].alias("fk_grade_ppm"),
    )


def _vocab_overlap_sql():
    from pybabe_spark.operators.tfidf import vocab_overlap_sql

    return vocab_overlap_sql()


@register("vocab_overlap_docs", _vocab_overlap_sql())
def q_vocab_overlap(spark, sf_dir):
    """Pairwise source-vocabulary Jaccard
    (operators/tfidf.py::vocab_overlap): the lexical-redundancy
    data-mix diagnostic — one corpus-scale distinct to the
    (source, word) grain, a word-bucketed pair join bounded by
    groups-per-word, exact floored-ppm Jaccard; the quadratic object
    is groups², guarded in-plan at max_groups."""
    from pybabe_spark.operators.tfidf import vocab_overlap

    docs = read_table(spark, sf_dir, "documents")
    return vocab_overlap(docs, "source", "text")


def _auc_sql():
    from pybabe_spark.operators.classifier import roc_auc_sql

    return roc_auc_sql(_BRIER_FRAME_SQL, "score", "label")


@register("roc_auc_docs", _auc_sql())
def q_roc_auc(spark, sf_dir):
    """Exact tie-corrected ROC-AUC (operators/classifier.py::roc_auc)
    on the brier/calibration frame: rank-sum identity over the bounded
    distinct-micro-score grain — ONE corpus hash agg, integer doubled
    ranks, floored-ppm finish, zero IEEE. The ordering certificate
    next to classification_report's threshold view and brier's
    calibration view."""
    from pybabe_spark.operators.classifier import roc_auc

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
    return roc_auc(frame, "score", "label")


def _ece_sql():
    from pybabe_spark.operators.classifier import ece_sql

    return ece_sql(_BRIER_FRAME_SQL, "score", "label")


@register("ece_docs", _ece_sql())
def q_ece(spark, sf_dir):
    """Expected + maximum calibration error
    (operators/classifier.py::ece) on the brier/calibration frame —
    the single-number rollup of calibration_bins' reliability curve,
    computed SHARPER than summing the bins' rounded gaps: each bin's
    weighted absolute gap is the exact integer |p_b·1e6 − sm_b|, so
    ECE is one floored division with no per-bin rounding in the sum."""
    from pybabe_spark.operators.classifier import ece

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
    return ece(frame, "score", "label")


def _pr_auc_sql():
    from pybabe_spark.operators.classifier import pr_auc_sql

    return pr_auc_sql(_BRIER_FRAME_SQL, "score", "label")


@register("pr_auc_docs", _pr_auc_sql())
def q_pr_auc(spark, sf_dir):
    """Average precision (operators/classifier.py::pr_auc) on the
    brier/roc frame — the rare-positive ranking certificate roc_auc
    saturates on (AP never rewards true negatives). Tie-safe
    step-interpolated form on the bounded distinct-micro-score grain;
    DECIMAL(38,12) per-term rounding, 6 dp finish."""
    from pybabe_spark.operators.classifier import pr_auc

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
    return pr_auc(frame, "score", "label")


def _mcc_sql():
    from pybabe_spark.operators.classifier import mcc_sql

    return mcc_sql(
        """SELECT list_contains(string_split(text, ' '), 'spark')
                  AS label,
                  len(string_split(text, ' ')) >= 100 AS pred
           FROM documents""",
        "label", "pred",
    )


@register("mcc_docs", _mcc_sql())
def q_mcc(spark, sf_dir):
    """Matthews correlation for the length-predicts-'spark' classifier
    (operators/classifier.py::mcc) on the brier/roc frame at the 0.5
    threshold — the balanced single number classification_report's
    per-class ppm view and roc_auc's threshold-free view both leave
    out. Exact cells, four-root fixed-shape denominator (n⁴-overflow
    safe), one pass."""
    from pybabe_spark.operators.classifier import mcc

    docs = read_table(spark, sf_dir, "documents")
    frame = docs.select(
        F.expr(
            "array_contains(split(text, ' '), 'spark')"
        ).alias("label"),
        F.expr("size(split(text, ' ')) >= 100").alias("pred"),
    )
    return mcc(frame, "label", "pred")


def _gains_sql():
    from pybabe_spark.operators.classifier import gains_table_sql

    frame = """
        SELECT doc_id,
               CAST(CAST(LEAST(1000000,
                   len(string_split(text, ' ')) * 5000)
               AS DECIMAL(18,6)) / 1000000 AS DECIMAL(18,6)) AS score,
               CASE WHEN list_contains(string_split(text, ' '), 'spark')
                    THEN 1 ELSE 0 END AS label
        FROM documents
    """
    return gains_table_sql(frame, "score", "label", "doc_id", n_buckets=10)


@register("gains_table_docs", _gains_sql())
def q_gains_table(spark, sf_dir):
    """Decile gains/lift table (operators/classifier.py::gains_table):
    equal-population buckets WITHOUT a global sort — de-globalized
    ranks (bounded distinct-score window + tie cells partitioned by
    (score), ordered by doc_id), ntile arithmetic, floored-ppm
    capture and lift. The campaign-targeting readout AUC compresses
    away."""
    from pybabe_spark.operators.classifier import gains_table

    docs = read_table(spark, sf_dir, "documents")
    frame = docs.select(
        "doc_id",
        F.expr(
            "CAST(CAST(LEAST(1000000, size(split(text, ' ')) * 5000)"
            " AS DECIMAL(18,6)) / 1000000 AS DECIMAL(18,6))"
        ).alias("score"),
        F.expr(
            "CASE WHEN array_contains(split(text, ' '), 'spark')"
            " THEN 1 ELSE 0 END"
        ).alias("label"),
    )
    return gains_table(frame, "score", "label", "doc_id", n_buckets=10)


def _fleiss_sql():
    from pybabe_spark.operators.sketch import fleiss_kappa_sql

    return fleiss_kappa_sql(
        "SELECT doc_id % 50 AS item, lang AS cat FROM documents",
        "item", "cat",
    )


@register("fleiss_kappa_docs", _fleiss_sql())
def q_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa (operators/sketch.py::fleiss_kappa) treating each
    doc-id bucket as an item rated by its member docs' languages — the
    multi-rater agreement certificate next to cohens_kappa's two-rater
    form. Pure integer rational (S, c_j², N, n) to a pmod-floored ppm;
    one hash agg to the (item, category) grain. The doc-id modulus
    divides every test SF's corpus size, so the constant-raters guard
    holds by construction."""
    from pybabe_spark.operators.sketch import fleiss_kappa

    docs = read_table(spark, sf_dir, "documents")
    frame = docs.select(
        (F.col("doc_id") % 50).alias("item"), F.col("lang").alias("cat")
    )
    return fleiss_kappa(frame, "item", "cat")


def _hl_sql():
    from pybabe_spark.operators.classifier import hosmer_lemeshow_sql

    frame = """
        SELECT CAST(CAST(LEAST(1000000,
                   len(string_split(text, ' ')) * 5000)
               AS DECIMAL(18,6)) / 1000000 AS DECIMAL(18,6)) AS score,
               CASE WHEN list_contains(string_split(text, ' '), 'spark')
                    THEN 1 ELSE 0 END AS label
        FROM documents
    """
    return hosmer_lemeshow_sql(
        frame, "score", "label", bins=10, chi2_crit=15.50731
    )


@register("hosmer_lemeshow_docs", _hl_sql())
def q_hosmer_lemeshow(spark, sf_dir):
    """Hosmer–Lemeshow goodness-of-fit over calibration_bins_docs'
    exact score deciles (operators/classifier.py::hosmer_lemeshow):
    is the length-based 'mentions spark' score's observed/expected
    gap larger than χ²(8) chance? The whole statistic is integer —
    per-bin n·(O_m−E_m)²·10⁶ div (E_m·(10⁶n−E_m)) summed as
    DECIMAL(38,0) — so both engines agree bit-for-bit; one hash agg
    to ≤10 rows plus a tiny finish."""
    from pybabe_spark.operators.classifier import hosmer_lemeshow

    docs = read_table(spark, sf_dir, "documents")
    frame = docs.select(
        F.expr(
            "CAST(CAST(LEAST(1000000, size(split(text, ' ')) * 5000)"
            " AS DECIMAL(18,6)) / 1000000 AS DECIMAL(18,6))"
        ).alias("score"),
        F.expr(
            "CAST(array_contains(split(text, ' '), 'spark') AS INT)"
        ).alias("label"),
    )
    return hosmer_lemeshow(
        frame, "score", "label", bins=10, chi2_crit=15.50731
    )


def _eq_odds_sql():
    from pybabe_spark.operators.classifier import equalized_odds_sql

    frame = """
        SELECT lang,
               CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END
                 AS label,
               CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS kept
        FROM documents
    """
    return equalized_odds_sql(
        frame, "lang", "label", "kept", min_n=20, gap_ppm=100_000
    )


@register("equalized_odds_docs", _eq_odds_sql())
def q_equalized_odds(spark, sf_dir):
    """Equalized-odds report of the length filter across languages
    (operators/classifier.py::equalized_odds): disparate_impact_docs
    certifies equal keep RATES; this certifies equal keep ERRORS —
    per-language TPR/FPR of the n_chars≥300 filter against the
    contains-'spark' relevance label, gaps vs the best qualifying
    language, 10-point violation flag. One group hash agg + a 1-row
    extremes attach, all integer."""
    from pybabe_spark.operators.classifier import equalized_odds

    docs = read_table(spark, sf_dir, "documents").select(
        "lang",
        F.col("text").contains("spark").cast("int").alias("label"),
        (F.col("n_chars") >= 300).cast("int").alias("kept"),
    )
    return equalized_odds(
        docs, "lang", "label", "kept", min_n=20, gap_ppm=100_000
    )


def _winnow_sql():
    from pybabe_spark.operators.dedup_scale import winnow_fingerprints_sql

    return winnow_fingerprints_sql("documents", "doc_id", "text", k=4, w=5)


@register("winnow_fingerprints_docs", _winnow_sql())
def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) fingerprint selection per document
    (operators/dedup_scale.py::winnow_fingerprints): rightmost-min of
    each 5-window over word 4-gram md5 hashes — the LOCAL-overlap
    guarantee (any shared 8-word run shares a fingerprint) that
    global-Jaccard MinHash can't give; selected density ≈ 2/(w+1).
    One narrow gram explode, one doc-partitioned double window, one
    per-doc agg — linear, no joins, no all-pairs."""
    from pybabe_spark.operators.dedup_scale import winnow_fingerprints

    docs = read_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, "doc_id", "text", k=4, w=5)
