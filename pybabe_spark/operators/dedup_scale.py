"""Large-scale deduplication for training-data pipelines.

Families (all designed for 100 TB: one-pass signatures, shuffle only on
signature/bucket keys, no driver-side state, no Python in the hot path):

- **exact**: hash-groupBy on a normalized content key.
- **MinHash + LSH**: shingle → k MinHashes → banded bucket keys →
  bucket self-join for candidate pairs (the standard banding scheme:
  P[collide] = 1-(1-j^r)^b for Jaccard j, r rows/band, b bands).
- **SimHash**: per-token hash bit voting → compact integer signature;
  near-dups differ in few bits.
- **n-gram Jaccard**: exact verification — shingle-set self-join; use the
  LSH candidates as a prefilter at scale.
- **cross-corpus**: ``near_dedup_against`` dedups an incoming batch
  against an already-seen corpus (banded new×seen bucket join), the
  incremental-crawl counterpart of the in-corpus operators above.

MinHash order is the lexicographic order of md5 hex strings (any total
order works for MinHash), which every SQL engine reproduces — this keeps
the DuckDB oracle exact. The reference has only in-memory whole-row dedup
(pybabe/dedup.py:5-35); this module is the beyond-reference scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pybabe_spark.functions.text import exact_key, shingle_array, words
from pybabe_spark.operators._util import lazy_persist


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) rows: split once into a column, then explode."""
    ws = df.select(F.col(id_col), F.split(F.col(text_col), " ", -1).alias("__w"))
    return ws.select(
        F.col(id_col), F.explode(shingle_array(F.col("__w"), n)).alias("__shingle")
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on normalized content hash: one representative
    (min id) per content group + the group size.

    Single hash-aggregate shuffle on the md5 key; at 100 TB the map-side
    partial aggregation collapses most groups before the shuffle.
    """
    return (
        df.select(F.col(id_col), exact_key(text_col).alias("content_key"))
        .groupBy("content_key")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


MINHASH_PRIME = 2147483647  # 2^31 - 1


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine-hash coefficients (a_j odd, b_j spread)."""
    return [(2 * j + 1, j * 12345 + 7) for j in range(num_hashes)]


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_n: int = 1,
) -> DataFrame:
    """Per-document MinHash signature columns mh0..mh{k-1}.

    One md5 per shingle → 60-bit integer base, then k affine hashes
    h_j(s) = (a_j·base + b_j) mod (2³¹−1) — the classic universal-hash
    family, so the expensive digest runs once, not k times. Exact
    integer arithmetic: any SQL engine reproduces it bit-for-bit.

    Shape: one explode + one grouped aggregation (k min() aggs). The
    shuffle is NOT shingle-sized: exploded shingle rows stay co-located
    with their document, so the map-side partial aggregation collapses
    to ~one row per document per partition before the exchange. A
    zero-shuffle alternative (base-hash array + k ``array_min`` HOFs
    per row) was measured in r4 and REJECTED: interpreted-HOF md5 runs
    ~8× slower than the codegen digest on exploded rows (1.2 s → 8.8 s
    at sf0.1), and CPU, not the post-combine exchange, dominates this
    op at every scale.
    """
    sh = _shingle_rows(df, id_col, text_col, shingle_n)
    base = F.expr(
        f"cast(conv(substr(md5(__shingle), 1, 15), 16, 10) as bigint) % {MINHASH_PRIME}"
    )
    sh = sh.withColumn("__base", base)
    aggs = [
        F.min((F.lit(a) * F.col("__base") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"mh{j}")
        for j, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _band_buckets(
    sig: DataFrame,
    ident: str,
    out_id: str,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """Explode a MinHash signature frame into (out_id, band, bucket)
    rows — the ONE banding-key construction shared by in-corpus pairing
    and cross-corpus matching, so the band-key format can't drift."""
    rows_per_band = num_hashes // bands
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(
                "|",
                *[
                    F.col(f"mh{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )).alias("bucket"),
        )
        for b in range(bands)
    ])
    return sig.select(
        F.col(ident).alias(out_id), F.explode(band_structs).alias("bb")
    ).select(
        out_id, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _jaccard_verified(
    pairs: DataFrame,
    left_text: str,
    right_text: str,
    threshold: float,
    shingle_n: int,
) -> DataFrame:
    """Exact-verify candidate pairs: keep pairs whose shingle-set
    Jaccard is >= threshold (shingle_array is already distinct)."""
    sa = shingle_array(words(left_text), shingle_n)
    sb = shingle_array(words(right_text), shingle_n)
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return pairs.filter(inter / union >= threshold)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Returns distinct (id_a, id_b) with id_a < id_b that share at least
    one band bucket. Scale shape: the self-join shuffles on (band,
    bucket-key) — cardinality ≈ corpus size × bands, never the quadratic
    pair space; AQE's skew handling splits hot buckets.
    """
    if num_hashes % bands:
        raise ValueError(
            f"minhash_lsh_pairs: num_hashes {num_hashes} not divisible by "
            f"bands {bands} (trailing hashes would be silently unused)"
        )
    sig = minhash_signature(df, id_col, text_col, num_hashes, shingle_n)
    buckets = _band_buckets(sig, id_col, id_col, num_hashes, bands)
    left = buckets.alias("a")
    right = buckets.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def lsh_candidate_calibration(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
    n_buckets: int = 10,
) -> DataFrame:
    """Banding-quality certificate: the decile histogram of the EXACT
    shingle-set Jaccard over :func:`minhash_lsh_pairs`' candidate
    pairs — ``(jaccard_decile, n_pairs)``. A healthy (bands, rows)
    choice piles candidates into the top deciles; mass in the bottom
    deciles is wasted verify work (too many bands / too few rows per
    band), an EMPTY top is missed recall risk (the opposite). This is
    the evidence for tuning the banding BEFORE a 100 TB run — on the
    corpus itself, not on the theoretical S-curve.

    Exactness: candidate generation is the shared banded machinery;
    each pair's Jaccard is ``(|A∩B|·10⁶) div |A∪B|`` over distinct
    shingle sets — integer sizes, one floored division, no IEEE — and
    ``decile = min(n_buckets−1, j_ppm·n_buckets div 10⁶)`` is exact
    ntile arithmetic. Empty-shingle unions cannot occur (the shingle
    fallback emits at least one element per doc).

    Scale shape: the banded candidate join (corpus × bands, never
    all-pairs) + two id-keyed joins back to the text + one hash agg
    to ≤ n_buckets rows.
    """
    if n_buckets < 2:
        raise ValueError(
            f"lsh_candidate_calibration: n_buckets {n_buckets} must be >= 2"
        )
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_n
    )
    ta = df.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta")
    )
    tb = df.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb")
    )
    sa = shingle_array(words("__ta"), shingle_n)
    sb = shingle_array(words("__tb"), shingle_n)
    inter = F.size(F.array_intersect(sa, sb)).cast("bigint")
    union = F.size(F.array_union(sa, sb)).cast("bigint")
    scored = (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            (inter * 1_000_000).alias("__num"), union.alias("__u")
        )
        # non-negative numerator: integral div IS floor, both engines
        .select(F.expr("__num div __u").alias("__j"))
    )
    k = int(n_buckets)
    return (
        scored.select(
            F.expr(
                f"CAST(least({k - 1}, (__j * {k}) div 1000000) AS INT)"
            ).alias("jaccard_decile")
        )
        .groupBy("jaccard_decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash signature: per-bit weighted vote over token hashes.

    bit_k(token) comes from the k-th bit of the md5 hex digest (nibble
    k//4, bit k%4); tokens vote +1/-1 per occurrence; the signature sets
    bit k iff the vote sum is positive. Pure codegen expressions —
    ``aggregate`` over the token array, no shuffle at all (narrow map).
    """
    # explode tokens to rows and md5 ONCE per token under whole-stage
    # codegen, then the per-bit votes are k SUM(CASE) aggregates with
    # map-side combine — the minhash_signature discipline (its r4
    # measurement: codegen digest on exploded rows beats interpreted
    # HOF md5 ~8×; the original HOF form here also re-ran md5 per bit,
    # 6.6 s → 1.0 s on simhash_neardup_docs at sf0.1). explode_outer +
    # the NULL-digest arm keep NULL-text docs in the output with the
    # same all-zero signature the HOF/oracle forms produce.
    sh = df.select(
        F.col(id_col),
        F.explode_outer(F.split(F.col(text_col), " ", -1)).alias("__t"),
    ).withColumn("__h", F.md5(F.col("__t")))
    votes = []
    for k in range(bits):
        nib = k // 4 + 1  # 1-based position in the md5 hex string
        mask = 1 << (k % 4)
        votes.append(
            F.sum(
                F.expr(
                    f"CASE WHEN __h IS NULL THEN 0 WHEN "
                    f"((instr('0123456789abcdef', substr(__h, {nib}, 1)) - 1) "
                    f"& {mask}) > 0 THEN 1 ELSE -1 END"
                )
            ).alias(f"__v{k}")
        )
    sig_expr = " + ".join(
        f"(CASE WHEN __v{k} > 0 THEN {1 << k} ELSE 0 END)"
        for k in range(bits)
    )
    return sh.groupBy(id_col).agg(*votes).select(
        F.col(id_col),
        F.expr(sig_expr).cast("bigint").alias("simhash"),
    )


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 48,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate pairs — ``(id_a, id_b, hamming)`` for
    every pair whose ``bits``-wide :func:`simhash` fingerprints differ
    in at most ``max_hamming`` bit positions. This is the DEDUP HALF
    the existing :func:`simhash` signature was missing (the classic
    Charikar/Manku-Jain-Sarma web-dedup pipeline): MinHash/LSH catches
    shingle-set overlap, SimHash Hamming catches token-frequency-
    profile near-identity — cheaper signatures (one narrow map, no
    shuffle) and a cheaper join.

    EXACT output via band pigeonhole: the fingerprint splits into
    ``max_hamming + 1`` contiguous bit bands, and two fingerprints
    within Hamming distance d ≤ max_hamming must agree EXACTLY on at
    least one band (d differing bits can't touch all d+1 bands), so an
    equi-join on (band index, band value) produces candidates with NO
    false negatives; the ``bit_count(xor)`` confirm removes false
    positives. Same exactness-with-a-bounded-shuffle shape as
    ``group_heavy_hitters``: the shuffle carries (band, value) keys —
    never all pairs. Candidate volume concentrates on bands shared by
    many docs (near-constant fingerprint regions); at 100 TB cap the
    corpus upstream by :func:`dedup_exact` first, as hash-identical
    docs all land in one Hamming-0 clique.

    Both the banding and the confirm are pure JVM codegen (shifts,
    masks, ``bit_count``); the oracle replays the brute-force
    definition, which the banded plan must match pair-for-pair.
    """
    if not 1 <= max_hamming < bits:
        raise ValueError(
            f"simhash_neardup_pairs: max_hamming {max_hamming} must be "
            f"in [1, bits)"
        )
    if bits > 63:
        raise ValueError(
            f"simhash_neardup_pairs: bits {bits} exceeds 63 (the "
            "fingerprint rides a signed BIGINT in both engines)"
        )
    sig = simhash(df, id_col, text_col, bits)
    return hamming_neardup_pairs(sig, id_col, "simhash", bits, max_hamming)


def hamming_neardup_pairs(
    df: DataFrame,
    id_col: str,
    fp_col: str,
    bits: int,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs over ANY integer fingerprint column — the
    signature-agnostic core of :func:`simhash_neardup_pairs`, directly
    usable with perceptual image hashes (pHash/dHash over the
    multimodal decode path), audio chromaprints, or any custom bit
    profile ≤ 63 bits. Same band-pigeonhole exactness: split into
    ``max_hamming + 1`` contiguous bit bands, equi-join on (band,
    value) — a pair within Hamming d ≤ max_hamming must agree on some
    band — confirm with ``bit_count(xor)``. NULL fingerprints are
    excluded (no profile, no pair)."""
    if not 1 <= max_hamming < bits:
        raise ValueError(
            f"hamming_neardup_pairs: max_hamming {max_hamming} must be "
            f"in [1, bits)"
        )
    if bits > 63:
        raise ValueError(
            f"hamming_neardup_pairs: bits {bits} exceeds 63 (the "
            "fingerprint rides a signed BIGINT in both engines)"
        )
    bands = max_hamming + 1
    # contiguous bands, widths as even as possible (floor/ceil split)
    widths = [
        bits // bands + (1 if i < bits % bands else 0)
        for i in range(bands)
    ]
    offs = [sum(widths[:i]) for i in range(bands)]
    band_structs = ", ".join(
        f"struct({i} AS band, (shiftright(__fp, {offs[i]})"
        f" & {(1 << widths[i]) - 1}) AS val)"
        for i in range(bands)
    )
    banded = df.filter(F.col(fp_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.col(fp_col).cast("bigint").alias("__fp"),
    ).select(
        "__id",
        "__fp",
        F.explode(F.expr(f"array({band_structs})")).alias("__b"),
    ).select("__id", "__fp", "__b.band", "__b.val")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__fp").alias("__fa"),
            F.col("b.__fp").alias("__fb"),
        )
        .distinct()  # a pair agreeing on several bands appears once
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.expr("__fa ^ __fb")).cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def simhash_neardup_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    bits: int = 48,
    max_hamming: int = 3,
) -> str:
    """DuckDB oracle of :func:`simhash_neardup_pairs` — the brute-force
    all-pairs xor-popcount definition the banded plan must reproduce
    pair-for-pair (quarantined oracle shape: quadratic is fine at
    oracle scale, never in the engine)."""
    nib = lambda k: k // 4 + 1  # noqa: E731
    sig_bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(string_split({text_col}, ' '), "
        f"t -> CASE WHEN ((instr('0123456789abcdef', "
        f"substr(md5(t), {nib(k)}, 1)) - 1) "
        f"& {1 << (k % 4)}) > 0 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << k} ELSE 0 END)"
        for k in range(bits)
    )
    return f"""
    WITH sig AS (
        SELECT {id_col} AS id, CAST({sig_bits} AS BIGINT) AS s
        FROM {table}
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.id < b.id
    WHERE bit_count(xor(a.s, b.s)) <= {max_hamming}
    """


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_n: int = 1,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs: (id_a, id_b, jaccard ≥ threshold).

    Shingle-set self-join: |A∩B| from a join on shingle, |A∪B| from the
    per-doc set sizes. The join shuffles on shingle — at 100 TB run it on
    LSH candidates only (``minhash_lsh_pairs`` first, then verify); the
    full self-join form here is the exact oracle-checkable definition.
    """
    sh = _shingle_rows(df, id_col, text_col, shingle_n).select(
        F.col(id_col).alias("doc"), F.col("__shingle").alias("s")
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n").alias("nb"))
    out = (
        common.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("c").cast("double")
            / (F.col("na") + F.col("nb") - F.col("c")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )
    return out.select("id_a", "id_b", "jaccard")


def near_dedup_keep(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_n: int = 1,
    use_lsh_candidates: bool = False,
    policy: str = "lower_id",
    score_col: str | None = None,
    max_rounds: int = 100,
) -> DataFrame:
    """Near-duplicate REMOVAL; the survivor set is the dedup'd corpus.

    Three policies over the ≥ threshold similarity-pair graph:

    - ``policy='lower_id'`` (default): drop every doc that has ANY
      lower-id similar neighbor, surviving or not. One shuffle-join, no
      iteration — for a chain a~b~c with a≁c it drops both b and c.
      Transitively aggressive, but fully single-pass at 100 TB.
    - ``policy='greedy'``: classic greedy-by-id survivor propagation — a
      doc is dropped only if similar to a lower-id doc that itself
      SURVIVED (the chain a~b~c keeps a and c, drops b). Computed as an
      iterative fixpoint over the pair graph; converges in at most
      longest-dependency-chain rounds (LSH-scale clusters are tiny, so a
      handful in practice). Each round is one anti-join; lineage is cut
      with localCheckpoint to keep plans bounded.
    - ``policy='best'``: ONE survivor per transitive dup CLUSTER — the
      row maximizing ``score_col`` (ties → min id). The quality-aware
      representative selection real pipelines want (keep the cleanest
      copy, not the lowest id). Clusters come from
      :func:`graph.connected_components` over the pair graph (node-set
      iteration only); selection is one per-cluster window.

    ``use_lsh_candidates=True`` verifies only MinHash-LSH candidate
    pairs — the 100 TB path; the exact all-pairs form is the
    oracle-checkable definition.
    """
    if policy not in ("lower_id", "greedy", "best"):
        raise ValueError(f"near_dedup_keep: bad policy {policy!r}")
    if policy == "best" and score_col is None:
        raise ValueError("near_dedup_keep: policy='best' needs score_col")
    if use_lsh_candidates:
        cand = minhash_lsh_pairs(df, id_col, text_col, shingle_n=shingle_n)
        texts = df.select(F.col(id_col), F.col(text_col))
        a = texts.toDF("id_a", "__ta")
        b = texts.toDF("id_b", "__tb")
        pairs = cand.join(a, "id_a").join(b, "id_b")
        # exact-verify candidates (cheap: candidate count << n²)
        pairs = _jaccard_verified(
            pairs, "__ta", "__tb", threshold, shingle_n
        ).select("id_a", "id_b")
    else:
        pairs = jaccard_pairs(df, id_col, text_col, threshold, shingle_n).select(
            "id_a", "id_b"
        )
    if policy == "lower_id":
        drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
        return df.join(drops, id_col, "left_anti")

    if policy == "best":
        from pybabe_spark.operators.graph import best_of_clusters

        return best_of_clusters(df, pairs, id_col=id_col, score_col=score_col)

    # Greedy survivor propagation as a monotone confirm-fixpoint over the
    # (small) pair graph: a doc is CONFIRMED dropped when some lower-id
    # SURVIVOR is similar to it, and CONFIRMED surviving when every
    # lower-id similar neighbor is confirmed dropped. Each round decides
    # at least the minimum undecided id (all ids below it are already
    # decided), so rounds ≤ dependency-chain depth — tiny for LSH-scale
    # clusters. Only ids + candidate pairs iterate, never the corpus.
    # One (id, state) DataFrame carries the whole fixpoint; each round is
    # EXACTLY ONE job — the eager localCheckpoint — with convergence
    # detection riding it as an observe() metric (undecided count), the
    # same idiom as graph.connected_components.
    from pyspark.sql import Observation

    S_UNDEC, S_SURV, S_DROP = 0, 1, 2
    pairs = pairs.localCheckpoint(eager=True)
    incoming = pairs.select(F.col("id_b").alias("__id")).distinct()
    obs0 = Observation()
    state = (
        df.select(F.col(id_col).alias("__id"))
        .distinct()
        .join(incoming.withColumn("__in", F.lit(1)), "__id", "left")
        .select(
            "__id",
            F.when(F.col("__in").isNull(), F.lit(S_SURV))
            .otherwise(F.lit(S_UNDEC))
            .alias("__st"),
        )
        .observe(
            obs0, F.sum((F.col("__st") == S_UNDEC).cast("long")).alias("u")
        )
        .localCheckpoint(eager=True)
    )
    undecided = obs0.get["u"]
    for _ in range(max_rounds):
        if not undecided:
            break
        # per undecided doc: does ANY lower-id neighbor survive (→ drop)?
        # are ALL lower-id neighbors dropped (→ survive)? else stay open.
        inc = (
            pairs.join(
                state.select(
                    F.col("__id").alias("id_a"), F.col("__st").alias("__sa")
                ),
                "id_a",
            )
            .groupBy(F.col("id_b").alias("__id"))
            .agg(
                F.max((F.col("__sa") == S_SURV).cast("int")).alias("__any_surv"),
                F.max((F.col("__sa") == S_UNDEC).cast("int")).alias("__any_open"),
            )
        )
        obs = Observation()
        state = (
            state.join(inc, "__id", "left")
            .select(
                "__id",
                F.when(F.col("__st") != S_UNDEC, F.col("__st"))
                .when(F.col("__any_surv") == 1, F.lit(S_DROP))
                .when(
                    F.coalesce(F.col("__any_open"), F.lit(0)) == 0,
                    F.lit(S_SURV),
                )
                .otherwise(F.lit(S_UNDEC))
                .alias("__st"),
            )
            .observe(
                obs, F.sum((F.col("__st") == S_UNDEC).cast("long")).alias("u")
            )
            .localCheckpoint(eager=True)  # the round's ONLY job
        )
        undecided = obs.get["u"]
    if undecided:
        raise RuntimeError(
            f"near_dedup_keep(greedy): no fixpoint after {max_rounds} "
            "rounds; raise max_rounds for pathologically deep similarity "
            "chains (or use policy='best', whose CC rounds are bounded by "
            "cluster diameter)"
        )
    surv = state.filter(F.col("__st") == S_SURV).select("__id")
    return df.join(
        surv.withColumnRenamed("__id", id_col), id_col, "left_semi"
    )


def near_dedup_against(
    df: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seen_id_col: str | None = None,
    seen_text_col: str | None = None,
    threshold: float = 0.8,
    shingle_n: int = 1,
    use_lsh_candidates: bool = False,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Cross-corpus near-dedup: drop every row of ``df`` whose n-gram
    Jaccard with ANY document of ``seen`` is ≥ ``threshold`` — the
    incremental-crawl step (dedup a new batch against the corpus already
    trained on) that :func:`merge.dedup_against`'s exact-key form can't
    express. ``seen`` is never modified or re-deduped.

    Exact form (the oracle-checkable definition): shingle both corpora,
    join new×seen on the shingle, per-pair intersection counts + set
    sizes → Jaccard. ``use_lsh_candidates=True`` is the 100 TB path:
    MinHash signatures on BOTH sides with the same coefficient family,
    banded bucket keys, and a new×seen equi-join on (band, bucket) —
    candidate cardinality ≈ corpus × bands, never |new|×|seen| — then
    exact verification of candidates only. Either way the decision ends
    in one left-anti join; no iteration, no driver state.
    """
    seen_id = seen_id_col or id_col
    seen_text = seen_text_col or text_col
    if use_lsh_candidates:
        if num_hashes % bands:
            raise ValueError(
                f"near_dedup_against: num_hashes {num_hashes} not divisible "
                f"by bands {bands} (trailing hashes would be silently unused)"
            )
        new_b = _band_buckets(
            minhash_signature(df, id_col, text_col, num_hashes, shingle_n),
            id_col, "__nid", num_hashes, bands,
        )
        seen_b = _band_buckets(
            minhash_signature(seen, seen_id, seen_text, num_hashes, shingle_n),
            seen_id, "__sid", num_hashes, bands,
        )
        cand = new_b.join(seen_b, ["band", "bucket"]).select(
            "__nid", "__sid"
        ).distinct()
        texts_n = df.select(F.col(id_col).alias("__nid"),
                            F.col(text_col).alias("__tn"))
        texts_s = seen.select(F.col(seen_id).alias("__sid"),
                              F.col(seen_text).alias("__ts"))
        pairs = cand.join(texts_n, "__nid").join(texts_s, "__sid")
        drops = _jaccard_verified(
            pairs, "__tn", "__ts", threshold, shingle_n
        ).select(F.col("__nid").alias(id_col)).distinct()
    else:
        shn = _shingle_rows(df, id_col, text_col, shingle_n).select(
            F.col(id_col).alias("__nid"), F.col("__shingle").alias("s")
        )
        shs = _shingle_rows(seen, seen_id, seen_text, shingle_n).select(
            F.col(seen_id).alias("__sid"), F.col("__shingle").alias("s")
        )
        szn = shn.groupBy("__nid").agg(F.count(F.lit(1)).alias("__na"))
        szs = shs.groupBy("__sid").agg(F.count(F.lit(1)).alias("__nb"))
        common = shn.join(shs, "s").groupBy("__nid", "__sid").agg(
            F.count(F.lit(1)).alias("__c")
        )
        drops = (
            common.join(szn, "__nid").join(szs, "__sid")
            .filter(
                F.col("__c").cast("double")
                / (F.col("__na") + F.col("__nb") - F.col("__c")).cast("double")
                >= F.lit(threshold)
            )
            .select(F.col("__nid").alias(id_col))
            .distinct()
        )
    return df.join(drops, id_col, "left_anti")


def segment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_words: int = 20,
    min_dup: int = 2,
) -> DataFrame:
    """Segment-level (paragraph) dedup: drop every text SEGMENT that is
    duplicated >= ``min_dup`` times corpus-wide, then reassemble each
    document from its surviving segments in order — the CCNet/RefinedWeb
    boilerplate-removal step, generalized to fixed ``seg_words``-word
    segments (the testdata has no newlines; on real corpora pass the
    line-split array instead).

    Returns (id, text, n_segments, n_dropped); documents whose segments
    are all duplicated come back with empty text, mirroring the
    paragraph-dedup convention of keeping the doc row.

    100 TB shape: explode to (id, pos, segment) — linear; one
    map-side-combinable groupBy on the segment string for corpus counts;
    one data-linear shuffle join back; one groupBy(id) reassembly.
    No self-join, no window over the whole corpus, no Python.

    Beyond-reference (the reference dedups whole rows only,
    pybabe/dedup.py:5-35).
    """
    k = int(seg_words)
    words = F.split(F.col(text_col), " ", -1)
    nseg = F.ceil(F.size("__w") / F.lit(k)).cast("int")
    segs = df.select(
        F.col(id_col), words.alias("__w")
    ).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nseg - 1),
                lambda g: F.concat_ws(" ", F.slice(F.col("__w"), g * k + 1, k)),
            )
        ).alias("__pos", "__seg"),
    )
    counts = segs.groupBy("__seg").agg(F.count(F.lit(1)).alias("__n"))
    # ONE join back (kept/dropped both derive from the __dup flag, so the
    # explode lineage and the count aggregation are computed once), then
    # ONE groupBy(id) producing the reassembled text and both counters —
    # collect_list skips the NULLs the WHEN leaves for duplicated segments
    flagged = segs.join(counts, "__seg").withColumn(
        "__dup", F.col("__n") >= min_dup
    )
    stats = flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("__dup"), F.struct("__pos", "__seg"))
                    )
                ),
                lambda s: s["__seg"],
            ),
            " ",
        ).alias(text_col),
        F.count(F.lit(1)).alias("__total"),
        F.sum(F.col("__dup").cast("long")).alias("__dropped"),
    )
    return (
        df.select(id_col)
        .join(stats, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce(F.col("__total"), F.lit(0)).alias("n_segments"),
            F.coalesce(F.col("__dropped"), F.lit(0)).alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# Stored MinHash signature index: incremental cross-corpus dedup without
# re-reading the seen corpus
# ---------------------------------------------------------------------------

def build_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
    mode: str = "overwrite",
) -> None:
    """Persist a corpus's MinHash signatures + banded bucket keys so
    later batches dedup against it WITHOUT touching the corpus text
    again — the incremental-crawl companion to the stored ANN indexes
    (:func:`similarity.build_lsh_index` / ``build_ivf_index``).

    Layout under ``path``:

    - ``signatures/`` — (id, mh0..mh{k-1}); the expensive shingle+md5
      pass over the seen corpus runs ONCE, at build time.
    - ``buckets/`` — (id, band, bucket) ``partitionBy(band)``.
    - ``params/`` — one row pinning (num_hashes, bands, shingle_n,
      id_col) so a probe can never silently mix coefficient families
      (written via Spark, so the layout works on any filesystem).

    At 100 TB the index is ~1/1000 of the corpus (k ints + bands keys
    per document) and is the only thing a new batch's probe reads.
    """
    if num_hashes % bands:
        raise ValueError(
            f"build_minhash_index: num_hashes {num_hashes} not divisible "
            f"by bands {bands}"
        )
    import posixpath

    sig = minhash_signature(df, id_col, text_col, num_hashes, shingle_n)
    sig.write.mode(mode).parquet(posixpath.join(path, "signatures"))
    spark = df.sparkSession
    bb = _band_buckets(
        spark.read.parquet(posixpath.join(path, "signatures")),
        id_col, id_col, num_hashes, bands,
    )
    bb.write.mode(mode).partitionBy("band").parquet(
        posixpath.join(path, "buckets")
    )
    # params are pinned with overwrite REGARDLESS of mode: an appended
    # second params row would make the probe pick one arbitrarily and
    # silently mix coefficient families — the exact failure the params
    # table exists to prevent
    spark.createDataFrame(
        [(num_hashes, bands, shingle_n, id_col)],
        "num_hashes int, bands int, shingle_n int, id_col string",
    ).coalesce(1).write.mode("overwrite").parquet(posixpath.join(path, "params"))


def near_dedup_against_stored(
    new: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Drop rows of ``new`` whose ESTIMATED Jaccard with any indexed
    document is >= ``threshold``, using only the stored MinHash index —
    the corpus-free form of :func:`near_dedup_against`.

    The estimate is the classic MinHash one: the fraction of equal
    signature components (unbiased; std ≈ sqrt(t(1-t)/k), ~0.1 at
    k=16 — raise ``num_hashes`` at build time for a tighter gate).
    Candidates come from the banded bucket equi-join, so the pair space
    is ≈ batch × bands, never |new| × |seen|.

    Plan shape: one signature pass over the NEW batch only, an
    equi-join against ``buckets/``, a signature equi-join against
    ``signatures/`` for the estimate, one anti-join. The seen corpus
    text is never read.
    """
    import posixpath

    spark = new.sparkSession
    prows = spark.read.parquet(posixpath.join(path, "params")).collect()
    if len(prows) != 1:
        raise ValueError(
            f"near_dedup_against_stored: index at {path!r} has "
            f"{len(prows)} params rows (expected exactly 1) — rebuild it "
            "with build_minhash_index"
        )
    p = prows[0]
    nh, bands, sn = p["num_hashes"], p["bands"], p["shingle_n"]
    sig_new = minhash_signature(new, id_col, text_col, nh, sn)
    new_b = _band_buckets(sig_new, id_col, "__nid", nh, bands)
    seen_b = spark.read.parquet(posixpath.join(path, "buckets")).select(
        F.col(p["id_col"]).alias("__sid"), "band", "bucket"
    )
    cand = new_b.join(seen_b, ["band", "bucket"]).select("__nid", "__sid").distinct()
    sig_seen = spark.read.parquet(posixpath.join(path, "signatures"))
    n_side = sig_new.select(
        F.col(id_col).alias("__nid"),
        *[F.col(f"mh{j}").alias(f"__n{j}") for j in range(nh)],
    )
    s_side = sig_seen.select(
        F.col(p["id_col"]).alias("__sid"),
        *[F.col(f"mh{j}").alias(f"__s{j}") for j in range(nh)],
    )
    eq = sum(
        (F.col(f"__n{j}") == F.col(f"__s{j}")).cast("int") for j in range(nh)
    )
    drops = (
        cand.join(n_side, "__nid")
        .join(s_side, "__sid")
        .filter(eq / F.lit(nh) >= F.lit(threshold))
        .select(F.col("__nid").alias(id_col))
        .distinct()
    )
    return new.join(drops, id_col, "left_anti")


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by shingle containment:
    ``(id_a, id_b, contained_id, containment)`` where containment =
    ``|S(a) ∩ S(b)| / min(|S(a)|, |S(b)|)`` ≥ threshold and
    ``contained_id`` is the doc whose shingle set is the (smaller)
    covered one — ties to the lower id.

    Why a separate operator: Jaccard (and therefore MinHash LSH) is
    blind to exactly the pairs this catches — a short document quoted
    wholesale inside a long one has near-zero Jaccard but containment
    ≈ 1. Containment is the right test for boilerplate supersets,
    quote inclusion, and partial-copy detection (Broder's original
    "containment" resemblance twin).

    Scale shape: inverted shingle equi-join (the ``jaccard_pairs``
    shape — shuffle on shingle, never all-pairs). The quadratic hazard
    is HOT shingles (a boilerplate 3-gram shared by 1e6 docs joins
    1e12 pairs); ``max_shingle_df`` drops shingles above a document
    frequency cap before the join (standard stop-shingle removal —
    trades recall on pathological grams for a hard per-shingle join
    bound; the threshold denominator keeps the ORIGINAL set sizes so
    containment stays conservative, never inflated).

    Cross-engine determinism: the decision is the exact integer
    comparison ``c · 1e6 ≥ round(threshold·1e6) · min(na, nb)``; the
    reported containment is one IEEE division of two exact ints.
    """
    thr_ppm = round(float(threshold) * 1_000_000)
    sh = _shingle_rows(df, id_col, text_col, shingle_n).select(
        F.col(id_col).alias("doc"), F.col("__shingle").alias("s")
    )
    # persist the SMALL per-doc size table (two downstream joins), not
    # the corpus-sized shingle explode: the explode is cheap codegen to
    # re-derive per join side, while caching it pins corpus-scale rows
    # in executor memory. (The ×30 stress spill on this family is the
    # shingle join's own sort buffers — present with or without a
    # cache — not a persist artifact; measured both ways.)
    sizes = lazy_persist(sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n")))
    joinable = sh
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > int(max_shingle_df))
            .select("s")
        )
        joinable = sh.join(hot, "s", "left_anti")
    a, b = joinable.alias("a"), joinable.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n").alias("nb"))
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.col("c") * 1_000_000 >= F.lit(thr_ppm) * F.least("na", "nb")
        )
    )
    return out.select(
        "id_a",
        "id_b",
        F.when(F.col("na") <= F.col("nb"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("contained_id"),
        (
            F.col("c").cast("double")
            / F.least("na", "nb").cast("double")
        ).alias("containment"),
    )


def source_overlap(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Corpus-overlap matrix between SOURCES (or any grouping): for
    every pair of groups, the shingle-set Jaccard and both directed
    containments in exact integer ppm — ``(source_a, source_b, n_a,
    n_b, n_common, jaccard_ppm, containment_a_ppm,
    containment_b_ppm)`` with ``source_a < source_b``. The
    corpus-level diagnostic the doc-pair family can't give: which
    ingest sources are near-copies of each other (mirror crawls,
    re-dumps), and which direction the inclusion runs — read
    containment_a as "fraction of a's shingles also in b".

    Scale shape: one DISTINCT (group, shingle) projection (the only
    corpus-scale shuffle), then a shingle self-join whose fanout per
    shingle is bounded by the NUMBER OF GROUPS squared — never by
    document frequency, because each group contributes one row per
    distinct shingle. With G sources the join emits ≤ G²/2 rows per
    shingle; pair aggregation and the size joins run on G² rows.
    """
    gs = (
        df.filter(F.col(group_col).isNotNull())
        .select(F.col(group_col).alias("g"), F.col(text_col).alias("t"))
    )
    # lazy: feeds the pair join twice + the sizes
    rows = lazy_persist(_shingle_rows(gs, "g", "t", shingle_n).distinct())
    a, b = rows.alias("a"), rows.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.__shingle") == F.col("b.__shingle"))
            & (F.col("a.g") < F.col("b.g")),
        )
        .groupBy(
            F.col("a.g").alias("source_a"), F.col("b.g").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = rows.groupBy("g").agg(F.count(F.lit(1)).alias("__n"))
    na = sizes.select(
        F.col("g").alias("source_a"), F.col("__n").alias("n_a")
    )
    nb = sizes.select(
        F.col("g").alias("source_b"), F.col("__n").alias("n_b")
    )
    out = common.join(F.broadcast(na), "source_a").join(
        F.broadcast(nb), "source_b"
    )
    ppm = lambda num, den: F.expr(  # noqa: E731
        f"(cast({num} as decimal(38,0)) * 1000000) div {den}"
    ).cast("bigint")
    return out.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        "n_common",
        ppm("n_common", "(cast(n_a as decimal(38,0)) + n_b - n_common)")
        .alias("jaccard_ppm"),
        ppm("n_common", "n_a").alias("containment_a_ppm"),
        ppm("n_common", "n_b").alias("containment_b_ppm"),
    )


def source_overlap_sql(
    table: str,
    group_col: str,
    shingle_sql: str,
) -> str:
    """DuckDB oracle of :func:`source_overlap` — ``shingle_sql`` is
    the list-of-shingles expression over ``text`` (the minhash-family
    mirror)."""
    return f"""
    WITH sh AS (
        SELECT DISTINCT {group_col} AS g, unnest({shingle_sql}) AS s
        FROM {table} WHERE {group_col} IS NOT NULL
    ),
    sizes AS (SELECT g, COUNT(*) AS n FROM sh GROUP BY g),
    common AS (
        SELECT a.g AS source_a, b.g AS source_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.g < b.g
        GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           sa.n AS n_a, sb.n AS n_b, n_common,
           CAST((n_common::HUGEINT * 1000000)
                // (sa.n::HUGEINT + sb.n - n_common) AS BIGINT)
             AS jaccard_ppm,
           CAST((n_common::HUGEINT * 1000000) // sa.n AS BIGINT)
             AS containment_a_ppm,
           CAST((n_common::HUGEINT * 1000000) // sb.n AS BIGINT)
             AS containment_b_ppm
    FROM common
    JOIN sizes sa ON source_a = sa.g
    JOIN sizes sb ON source_b = sb.g
    """


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): slide a ``w``-window over the
    word ``k``-gram hash sequence and keep each window's RIGHTMOST
    minimal hash. The selection guarantee MinHash doesn't give: any
    shared run of ``w + k − 1`` words between two documents shares at
    least one selected fingerprint — the right primitive for
    PLAGIARISM-STYLE local overlap, where :func:`minhash_signatures`
    (global Jaccard) goes blind. Selection ORDER is the 31-bit folded
    hash (``h mod 2³¹−1`` — it packs the rightmost-min pick into one
    BIGINT window ordinal); the reported fingerprint is the full
    60-bit hash. One row per document:

    ``(id, n_grams, n_fingerprints, density_ppm, fingerprint_min)``

    — selected count, exact floored-ppm selection density (the
    theoretical expectation is 2/(w+1)), and the smallest selected
    hash (a ready 1-permutation MinHash over the winnowed set).
    Join selected sets on fingerprint value downstream for overlap
    candidates (bucketed, never all-pairs — the LSH discipline).

    Determinism: gram hashes are the house md5→bigint lift (exact,
    engine-identical); "rightmost minimal per window" evaluates as
    two fixed window passes — the window MIN, then the max position
    attaining it — and a position is emitted once (DISTINCT over
    selected positions). Ties across positions resolve by POSITION
    (rightmost), never by engine sort order. Documents shorter than
    ``k`` words contribute their normalized whole text as one gram;
    density for them is 1.

    Scale shape: one narrow gram-explode map (rows ≈ corpus words —
    linear, no shuffle), ONE repartition by document for the two
    ROWS-frame windows, one per-doc hash agg. No joins, no driver
    collect; fingerprint cardinality per doc is words/w·2 — bounded
    fan-in for the final agg.
    """
    if k < 1:
        raise ValueError("winnow_fingerprints: k must be >= 1")
    if w < 2:
        raise ValueError("winnow_fingerprints: w must be >= 2")
    from pyspark.sql import Window

    # materialize the split ONCE per row: referencing
    # split(__norm, ...) inside the transform lambda re-evaluates the
    # split per element_at — O(words²) per doc (measured 19 s on 500
    # docs in the stress family); a column reference evaluates once
    grams = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.lower(
                F.trim(F.regexp_replace(F.col(text_col), " +", " "))
            ).alias("__norm"),
        )
        .withColumn("__ws", F.split(F.col("__norm"), " ", -1))
        .select(
            "__id",
            F.expr(
                f"CASE WHEN size(__ws) >= {k} THEN"
                f" transform(sequence(1, size(__ws) - {k} + 1),"
                f" i -> concat_ws(' ', slice(__ws, i, {k})))"
                f" ELSE array(__norm) END"
            ).alias("__gs"),
        )
        .select(
            "__id",
            F.posexplode(F.col("__gs")).alias("__p", "__g"),
        )
        .select(
            "__id",
            "__p",
            F.expr(
                "cast(conv(substr(md5(__g), 1, 15), 16, 10) as bigint)"
            ).alias("__h"),
        )
    )
    # three consumers (the pick window, the join-back, the per-doc
    # totals) — without the pin the gram explode + md5 runs three
    # times (measured: the join-back recompute alone was ~40% of the
    # stress family's wall)
    grams = lazy_persist(grams)
    fwd = (
        Window.partitionBy("__id")
        .orderBy("__p")
        .rowsBetween(Window.currentRow, w - 1)
    )
    cnt_w = Window.partitionBy("__id")
    # rightmost-min per window as ONE window MIN over an encoded
    # ordinal: ord = h31·2³¹ + (2³¹−1−p) — min ord ⟺ min 31-bit
    # folded hash, ties to the LARGEST position. (A per-frame-row
    # `h == wmin` comparison is wrong — each frame row evaluates its
    # OWN wmin, caught by the shared-run test; and the fold to 31
    # bits keeps the ordinal inside BIGINT. Selection order is the
    # folded hash BY CONTRACT — mirrored by the oracle and the test
    # model; the reported fingerprint stays the full 60-bit hash.)
    shift = 2_147_483_648
    marked = (
        grams.withColumn(
            "__ord",
            (F.col("__h") % F.lit(2_147_483_647)) * shift
            + (F.lit(shift - 1) - F.col("__p")),
        )
        .withColumn("__pickord", F.min("__ord").over(fwd))
        .withColumn("__cnt", F.count(F.lit(1)).over(cnt_w))
    )
    # only FULL windows select (starts 0..L−w): the truncated tail
    # windows would over-pick; a doc with fewer than w grams winnows
    # as its single (whole-sequence) window from position 0
    full = marked.filter(
        (F.col("__p") <= F.col("__cnt") - w)
        | ((F.col("__cnt") < w) & (F.col("__p") == 0))
    )
    picked = (
        full.select(
            "__id",
            (
                F.lit(shift - 1) - (F.col("__pickord") % shift)
            ).alias("__p"),
        )
        .distinct()
        .join(
            grams.select("__id", "__p", "__h"), ["__id", "__p"]
        )
    )
    tot = grams.groupBy("__id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    sel = picked.groupBy("__id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
        F.min("__h").alias("fingerprint_min"),
    )
    return (
        tot.join(sel, "__id")
        .select(
            F.col("__id").alias(id_col),
            "n_grams",
            "n_fingerprints",
            F.expr(
                "CAST(n_fingerprints * 1000000 div n_grams AS BIGINT)"
            ).alias("density_ppm"),
            "fingerprint_min",
        )
    )


def winnow_fingerprints_sql(
    table: str,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 5,
) -> str:
    """DuckDB oracle of :func:`winnow_fingerprints` — same md5 gram
    lift, same two-window rightmost-min selection, same exact ppm."""
    gram_join = ", ' ', ".join(f"ws[i + {j}]" for j in range(k))
    return f"""
    WITH base AS (
        SELECT {id_col} AS id,
               lower(trim(regexp_replace({text_col}, ' +', ' ', 'g')))
                 AS norm
        FROM {table}
        WHERE {text_col} IS NOT NULL
    ),
    split_t AS (
        SELECT id, norm, string_split(norm, ' ') AS ws FROM base
    ),
    glists AS (
        SELECT id,
               CASE WHEN len(ws) >= {k}
               THEN list_transform(range(1, len(ws) - {k} + 2),
                    i -> concat({gram_join}))
               ELSE [norm] END AS gl
        FROM split_t
    ),
    grams AS (
        SELECT id, i - 1 AS p, gl[i] AS g
        FROM glists, UNNEST(range(1, len(gl) + 1)) AS t(i)
    ),
    hashed AS (
        SELECT id, p,
               CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h
        FROM grams
    ),
    picked_pos AS (
        SELECT DISTINCT id, 2147483647 - (pickord % 2147483648) AS p
        FROM (
            SELECT id, p,
                   MIN((h % 2147483647) * 2147483648
                       + (2147483647 - p))
                     OVER (PARTITION BY id ORDER BY p
                           ROWS BETWEEN CURRENT ROW
                           AND {w - 1} FOLLOWING) AS pickord,
                   COUNT(*) OVER (PARTITION BY id) AS cnt
            FROM hashed
        )
        WHERE p <= cnt - {w} OR (cnt < {w} AND p = 0)
    ),
    picked AS (
        SELECT h2.id, h2.p, h2.h
        FROM picked_pos pp JOIN hashed h2
          ON h2.id = pp.id AND h2.p = pp.p
    ),
    tot AS (SELECT id, COUNT(*)::BIGINT AS n_grams
            FROM hashed GROUP BY id),
    sel AS (SELECT id, COUNT(*)::BIGINT AS n_fingerprints,
                   MIN(h) AS fingerprint_min
            FROM picked GROUP BY id)
    SELECT tot.id AS {id_col}, n_grams, n_fingerprints,
           CAST(n_fingerprints * 1000000 // n_grams AS BIGINT)
             AS density_ppm,
           fingerprint_min
    FROM tot JOIN sel ON sel.id = tot.id
    """
