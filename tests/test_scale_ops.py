"""Scale machinery: salted join correctness, bucketed-write shuffle
elimination, ingest-order semantics of order-sensitive operators."""

import pytest
from pyspark.sql import functions as F

from pybabe_spark.operators.dedup_scale import jaccard_pairs, minhash_lsh_pairs
from pybabe_spark.operators.relational import dedup
from pybabe_spark.operators.reshape import pivot
from pybabe_spark.operators.skew import salted_join
from pybabe_spark.sources.io import with_ingest_id, write_bucketed


def test_salted_join_matches_plain_join(spark):
    probe = spark.range(1000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )
    build = spark.createDataFrame(
        [(0, "zero"), (1, "one"), (2, "two")], "bk bigint, name string"
    )
    plain = probe.join(build, probe.k == build.bk).drop("bk")
    salted = salted_join(probe, build, "k", "bk", salt=4)
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))

    # build side is exploded x salt, so build-preserving join types would
    # emit each unmatched replica as its own row — refused with guidance
    import pytest
    with pytest.raises(ValueError, match="swap probe/build"):
        salted_join(probe, build, "k", "bk", salt=4, how="right")


def test_filter_by_regexp_anchors_whole_alternation(spark):
    """re.match semantics: '^cat|dog' would leak the unanchored 'dog'
    branch onto mid-string matches; the non-capturing group binds the
    anchor to the WHOLE pattern."""
    from pybabe_spark.operators.relational import filter_by_regexp

    df = spark.createDataFrame(
        [("cat",), ("dogma",), ("hotdog",)], "v string"
    )
    got = sorted(r["v"] for r in filter_by_regexp(df, "v", "cat|dog").collect())
    assert got == ["cat", "dogma"]


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    spark.sql("DROP TABLE IF EXISTS bt_left")
    spark.sql("DROP TABLE IF EXISTS bt_right")
    write_bucketed(df, "bt_left", ["k"], num_buckets=8, path=str(tmp_path / "l"))
    write_bucketed(df, "bt_right", ["k"], num_buckets=8, path=str(tmp_path / "r"))
    left, right = spark.table("bt_left"), spark.table("bt_right")
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = left.join(right.withColumnRenamed("v", "v2"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located: sort-merge join directly over bucketed scans,
        # no shuffle exchange on either side
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)


def test_pivot_last_row_semantics_with_ingest_order(spark):
    df = with_ingest_id(
        spark.createDataFrame(
            [("g", "p", 1), ("g", "p", 2), ("g", "p", 3)], "grp string, piv string, v int"
        ).coalesce(1)
    )
    out = pivot(df, "piv", ["grp"])  # agg='last' under ingest order
    assert out.collect()[0]["v-p"] == 3


def test_dedup_keep_first_with_ingest_order(spark):
    df = with_ingest_id(
        spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 3)], "k string, v int"
        ).coalesce(1)
    )
    kept = dedup(df, ["k"], keep_first=True).select("k", "v")
    assert sorted(map(tuple, kept.collect())) == [("a", 1), ("b", 3)]


def test_minhash_candidates_cover_identical_word_sets(spark):
    # identical word sets MUST collide in every band (signature equality)
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "delta gamma beta alpha"),   # same set, different order
        (3, "epsilon zeta eta theta"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {tuple(r) for r in minhash_lsh_pairs(df, "doc_id", "text").collect()}
    assert (1, 2) in pairs and not any(3 in p for p in pairs)


def test_jaccard_exact_values(spark):
    rows = [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in jaccard_pairs(df, "doc_id", "text", threshold=0.5).collect()}
    assert out == {(1, 2): 0.6}  # |{a,b,c}| / |{a,b,c,d,e}|


def test_asof_join_backward_and_forward(spark):
    from pybabe_spark.operators import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "l1"),
         (1, "2024-01-01 12:00:00", "l2"),
         (2, "2024-01-01 11:00:00", "l3")],
        "k bigint, ts string, lid string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 10.0),
         (1, "2024-01-01 11:00:00", 20.0),
         (2, "2024-01-01 11:30:00", 30.0)],
        "k bigint, rts string, rv double",
    ).withColumn("rts", F.col("rts").cast("timestamp"))

    back = {r["lid"]: r["rv"]
            for r in asof_join(left, right, on="k", left_ts="ts",
                               right_ts="rts").collect()}
    assert back == {"l1": 10.0, "l2": 20.0, "l3": None}

    fwd = {r["lid"]: r["rv"]
           for r in asof_join(left, right, on="k", left_ts="ts",
                              right_ts="rts", direction="forward").collect()}
    assert fwd == {"l1": 20.0, "l2": None, "l3": 30.0}


def test_asof_join_null_timestamps_match_nothing(spark):
    """pandas NaT semantics: a NULL right timestamp never matches (it
    would otherwise sort nulls-first and leak its payload onto earlier
    left rows), and a NULL left timestamp gets NULL columns."""
    from pybabe_spark.operators import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "l1"), (1, None, "lnull")],
        "k bigint, ts string, lid string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, None, 99.0), (1, "2024-01-01 09:00:00", 10.0)],
        "k bigint, rts string, rv double",
    ).withColumn("rts", F.col("rts").cast("timestamp"))

    back = {r["lid"]: r["rv"]
            for r in asof_join(left, right, on="k", left_ts="ts",
                               right_ts="rts").collect()}
    assert back == {"l1": 10.0, "lnull": None}

    fwd = {r["lid"]: r["rv"]
           for r in asof_join(left, right, on="k", left_ts="ts",
                              right_ts="rts", direction="forward").collect()}
    assert fwd == {"l1": None, "lnull": None}


def test_asof_join_exact_match_toggle(spark):
    from pybabe_spark.operators import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "l1")], "k bigint, ts string, lid string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 5.0)], "k bigint, rts string, rv double"
    ).withColumn("rts", F.col("rts").cast("timestamp"))

    with_exact = asof_join(left, right, on="k", left_ts="ts", right_ts="rts")
    assert with_exact.collect()[0]["rv"] == 5.0
    without = asof_join(left, right, on="k", left_ts="ts", right_ts="rts",
                        allow_exact_matches=False)
    assert without.collect()[0]["rv"] is None


def test_range_join_bucketized_matches_naive(spark, sf_dir):
    """No-key path (bucket equi-join) must equal the naive inequality join."""
    from pybabe_spark.operators import range_join
    from pybabe_spark.sources.io import read_table

    ev = read_table(spark, sf_dir, "events")
    points = ev.filter(F.col("event_type") == "click").select("event_id", "ts")
    intervals = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("iid"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 7 MINUTES")).alias("w_end"),
        )
        .limit(50)
    )
    got = {
        (r["event_id"], r["iid"])
        for r in range_join(points, intervals, point="ts",
                            start="w_start", end="w_end",
                            bucket="5 minutes").collect()
    }
    naive = {
        (r["event_id"], r["iid"])
        for r in points.join(
            intervals,
            (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")),
        ).collect()
    }
    assert got == naive and len(got) > 0


@pytest.mark.deep
def test_ann_ivf_recall(spark, sf_dir):
    """IVF with nprobe=4/16 cells must recover most of the exact top-10."""
    from pybabe_spark.operators.similarity import ann_brute_force, ann_ivf
    from pybabe_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in ann_brute_force(emb, queries, k=10).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in ann_ivf(emb, queries, k=10, nlist=16, nprobe=4).collect()}
    assert len(exact) > 0
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"


def test_asof_join_matches_pandas_merge_asof(spark):
    """Model-based check: distributed as-of == pandas merge_asof on a
    deterministic pseudo-random dataset (keys with empty right sides,
    ties at identical timestamps, unmatched lefts)."""
    import hashlib

    import pandas as pd

    def h(i):  # deterministic pseudo-random int
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)

    left_pd = pd.DataFrame(
        {
            "k": [h(i) % 7 for i in range(200)],
            "ts": pd.to_datetime([1_700_000_000 + (h(i) % 100_000) for i in range(200)], unit="s"),
            "lid": list(range(200)),
        }
    )
    right_pd = pd.DataFrame(
        {
            "k": [h(i + 1000) % 5 for i in range(80)],  # keys 5,6 unmatched
            "rts": pd.to_datetime([1_700_000_000 + (h(i + 1000) % 100_000) for i in range(80)], unit="s"),
            "rv": [float(h(i + 2000) % 1000) for i in range(80)],
        }
    )
    # merge_asof with duplicate right timestamps per (k, ts) picks the last
    # row in sort order; drop dups to keep the model unambiguous
    right_pd = right_pd.drop_duplicates(subset=["k", "rts"])

    expected = pd.merge_asof(
        left_pd.sort_values("ts"),
        right_pd.sort_values("rts"),
        left_on="ts",
        right_on="rts",
        by="k",
        direction="backward",
        allow_exact_matches=True,
    ).set_index("lid")["rv"]

    from pybabe_spark.operators import asof_join

    got = {
        r["lid"]: r["rv"]
        for r in asof_join(
            spark.createDataFrame(left_pd),
            spark.createDataFrame(right_pd),
            on="k", left_ts="ts", right_ts="rts",
        ).collect()
    }
    for lid, rv in expected.items():
        g = got[lid]
        assert (pd.isna(rv) and g is None) or g == rv, (lid, rv, g)


def test_window_map_matches_pandas_rolling(spark):
    """Model-based: trailing row-frame window == pandas rolling(min_periods=1)."""
    import hashlib

    import pandas as pd

    vals = [
        float(int(hashlib.md5(str(i).encode()).hexdigest()[:6], 16) % 500)
        for i in range(300)
    ]
    pdf = pd.DataFrame({"__ingest_id": range(300), "v": vals})
    expected = pdf["v"].rolling(5, min_periods=1).sum().tolist()

    from pybabe_spark.operators import window_map

    df = spark.createDataFrame(pdf)
    got = [
        r["window_value"]
        for r in window_map(df, 5, "sum", "v").orderBy("__ingest_id").collect()
    ]
    assert got == expected


def test_window_map_udf_frames_keep_nulls(spark):
    """NULL cells must reach fn as None in their frame POSITION (a bare
    collect_list would silently skip them, shortening the frame)."""
    from pybabe_spark.operators.window import window_map_udf

    df = spark.createDataFrame(
        [(0, 1.0), (1, None), (2, 3.0)], "__ingest_id bigint, v double"
    )
    got = [
        r["window_value"]
        for r in window_map_udf(
            df, 3, lambda vals: float(len(vals) * 10 + sum(1 for x in vals if x is None)),
            "v",
        ).orderBy("__ingest_id").collect()
    ]
    # frame lengths 1,2,3 with 0,1,1 nulls respectively
    assert got == [10.0, 21.0, 31.0]


def test_window_map_warns_on_big_unpartitioned_input(spark):
    """The global-order default is reference-faithful but single-task;
    above the size threshold it must say so (and stay silent for the
    partitioned form)."""
    import warnings

    import pybabe_spark.operators.window as wmod
    from pybabe_spark.operators.window import window_map

    df = spark.range(100).withColumnRenamed("id", "__ingest_id").withColumn(
        "v", F.lit(1.0)
    )
    old = wmod.GLOBAL_WINDOW_WARN_BYTES
    try:
        wmod.GLOBAL_WINDOW_WARN_BYTES = 1
        with warnings.catch_warnings(record=True) as rec:
            warnings.simplefilter("always")
            window_map(df, 3, "sum", "v")
            assert any("unpartitioned window" in str(w.message) for w in rec)
        with warnings.catch_warnings(record=True) as rec:
            warnings.simplefilter("always")
            window_map(df, 3, "sum", "v", partition_by=["v"])
            assert not rec
    finally:
        wmod.GLOBAL_WINDOW_WARN_BYTES = old


def test_approx_aggregates_error_bounds(spark, sf_dir):
    """The sketch-based scale path must stay within its advertised error
    of the exact answers (HLL++ rsd=2%; percentile_approx accuracy=10k)."""
    from pybabe_spark.sources.io import read_table

    li = read_table(spark, sf_dir, "lineitem")
    exact = {
        r["l_returnflag"]: (r["d"], r["m"])
        for r in li.groupBy("l_returnflag").agg(
            F.count_distinct("l_orderkey").alias("d"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("m"),
        ).collect()
    }
    approx = {
        r["l_returnflag"]: (r["approx_orders"], r["approx_median"])
        for r in li.groupBy("l_returnflag").agg(
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
        ).collect()
    }
    for k, (d, m) in exact.items():
        ad, am = approx[k]
        assert abs(ad - d) / d < 0.05, (k, ad, d)
        assert abs(am - m) / m < 0.05, (k, am, m)


def test_near_dedup_lsh_path_matches_exact(spark, sf_dir):
    """The LSH-candidate scale path must keep the same survivor set as the
    exact all-pairs form whenever the candidate set covers the true pairs
    (identical word sets always collide in every band)."""
    from pybabe_spark.operators.dedup_scale import near_dedup_keep
    from pybabe_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    exact = {r["doc_id"] for r in
             near_dedup_keep(docs, "doc_id", "text", threshold=0.8).collect()}
    lsh = {r["doc_id"] for r in
           near_dedup_keep(docs, "doc_id", "text", threshold=0.8,
                           use_lsh_candidates=True).collect()}
    n_docs = docs.count()
    assert len(exact) > 0
    # LSH may MISS pairs (recall < 1) => it can only keep a superset
    assert exact <= lsh
    # and it must still catch most duplicates (band-collision recall)
    assert len(lsh) < n_docs, "LSH candidates dropped nothing"
    dropped_exact = n_docs - len(exact)
    dropped_lsh = n_docs - len(lsh)
    assert dropped_lsh >= 0.6 * dropped_exact, (dropped_lsh, dropped_exact)


def test_near_dedup_against_semantics(spark):
    """New docs similar to a seen doc drop; dissimilar ones survive; the
    seen side is never part of the output, and self-similarity inside the
    new batch is NOT deduped (that's near_dedup_keep's job)."""
    from pybabe_spark.operators.dedup_scale import near_dedup_against

    seen = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id bigint, text string"
    )
    new = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),         # exact dup of seen
            (2, "alpha beta gamma epsilon"),       # 3/5 jaccard < 0.8
            (3, "totally different words here"),
            (4, "totally different words here"),   # intra-new dup: kept
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"] for r in
           near_dedup_against(new, seen, "doc_id", "text",
                              threshold=0.8).collect()}
    assert got == {2, 3, 4}


def test_near_dedup_against_lsh_path_matches_exact(spark, sf_dir):
    """The banded new×seen bucket-join scale path keeps a superset of the
    exact form's survivors (LSH can only miss pairs) and still catches
    most cross-corpus duplicates."""
    from pybabe_spark.operators.dedup_scale import near_dedup_against
    from pybabe_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 != 0)
    seen = docs.filter(F.col("doc_id") % 5 == 0)
    exact = {r["doc_id"] for r in
             near_dedup_against(new, seen, "doc_id", "text",
                                threshold=0.8).collect()}
    lsh = {r["doc_id"] for r in
           near_dedup_against(new, seen, "doc_id", "text", threshold=0.8,
                              use_lsh_candidates=True).collect()}
    n_new = new.count()
    assert exact <= lsh
    dropped_exact = n_new - len(exact)
    dropped_lsh = n_new - len(lsh)
    assert dropped_exact > 0, "testdata produced no cross-corpus dups"
    assert dropped_lsh >= 0.6 * dropped_exact, (dropped_lsh, dropped_exact)


def test_write_range_sorted_produces_disjoint_files(spark, sf_dir, tmp_path):
    """Each output file must own a disjoint key range (that is what lets
    parquet min/max stats skip files for selective predicates)."""
    from pybabe_spark.sources.io import read_table, write_range_sorted

    orders = read_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_sorted")
    write_range_sorted(orders, out, ["o_custkey"], num_files=4)

    per_file = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("o_custkey").alias("lo"), F.max("o_custkey").alias("hi"))
        .collect()
    )
    ranges = sorted((r["lo"], r["hi"]) for r in per_file)
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, ranges  # disjoint, ordered ranges


def test_asof_join_same_named_ts_keeps_left(spark):
    """Defaults left_ts == right_ts == 'ts' must NOT clobber the left
    timestamp (pandas.merge_asof keeps the left key); the matched right
    timestamp comes back aliased ts_right, NULL when unmatched."""
    from pybabe_spark.operators import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "l1"),
         (2, "2024-01-01 11:00:00", "l2")],
        "k bigint, ts string, lid string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 10.0)],
        "k bigint, ts string, rv double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    out = {r["lid"]: r for r in asof_join(left, right, on="k").collect()}
    assert str(out["l1"]["ts"]) == "2024-01-01 10:00:00"  # left ts intact
    assert str(out["l1"]["ts_right"]) == "2024-01-01 09:30:00"
    assert out["l1"]["rv"] == 10.0
    assert str(out["l2"]["ts"]) == "2024-01-01 11:00:00"  # unmatched: intact
    assert out["l2"]["ts_right"] is None and out["l2"]["rv"] is None


def test_asof_join_payload_collision_raises(spark):
    from pybabe_spark.operators import asof_join

    left = spark.createDataFrame([(1, 1.0, 2.0)], "k bigint, ts double, v double")
    right = spark.createDataFrame([(1, 1.0, 3.0)], "k bigint, rts double, v double")
    import pytest
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on="k", left_ts="ts", right_ts="rts")


def test_salted_join_salt_always_in_range(spark):
    """pmod salting must keep every bucket in [0, salt) even for hash
    values at Integer.MIN_VALUE (abs+% would overflow under ANSI or go
    negative and silently drop the row)."""
    probe = spark.range(0, 20000).withColumnRenamed("id", "k")
    build = spark.range(0, 20000).withColumnRenamed("id", "bk")
    out = salted_join(probe, build, "k", "bk", salt=8)
    # bijective key space: every probe row must find its build match
    assert out.count() == 20000


def test_near_dedup_greedy_chain_survivors(spark):
    """Chain a~b~c with a !~ c: greedy policy keeps a and c (b dropped
    because a survives; c kept because its only lower neighbor b was
    dropped). Default lower_id policy drops both b and c."""
    from pybabe_spark.operators.dedup_scale import near_dedup_keep

    rows = [
        (1, "a b c d e"),      # ~ doc2 (4/6 < 0.8? {a..e} vs {b..f}: 4/6=0.67)
    ]
    # build an explicit chain with >= 0.8 jaccard between neighbors only:
    # doc1 = w1..w10; doc2 = w2..w11 (9/11 = 0.818); doc3 = w3..w12
    # (doc2~doc3: 9/11; doc1~doc3: 8/12 = 0.67 < 0.8)
    w = [f"w{i}" for i in range(1, 13)]
    rows = [
        (1, " ".join(w[0:10])),
        (2, " ".join(w[1:11])),
        (3, " ".join(w[2:12])),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    greedy = sorted(
        r["doc_id"]
        for r in near_dedup_keep(df, "doc_id", "text", threshold=0.8,
                                 policy="greedy").collect()
    )
    assert greedy == [1, 3]

    lower_id = sorted(
        r["doc_id"]
        for r in near_dedup_keep(df, "doc_id", "text", threshold=0.8).collect()
    )
    assert lower_id == [1]

    # boundary: this chain converges on exactly the 2nd round — reaching
    # the fixpoint ON the max_rounds-th round must not raise
    boundary = sorted(
        r["doc_id"]
        for r in near_dedup_keep(df, "doc_id", "text", threshold=0.8,
                                 policy="greedy", max_rounds=2).collect()
    )
    assert boundary == [1, 3]


def test_near_dedup_greedy_matches_python_reference(spark, sf_dir):
    """Greedy fixpoint must equal the sequential greedy algorithm run in
    plain Python over the same exact-jaccard pair graph."""
    from pybabe_spark.operators.dedup_scale import jaccard_pairs, near_dedup_keep
    from pybabe_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pairs = jaccard_pairs(docs, "doc_id", "text", threshold=0.7).collect()
    neigh = {}
    for r in pairs:
        neigh.setdefault(r["id_b"], set()).add(r["id_a"])
    surv_ref = set()
    for did in sorted(r["doc_id"] for r in docs.select("doc_id").collect()):
        if not (neigh.get(did, set()) & surv_ref):
            surv_ref.add(did)
    got = {
        r["doc_id"]
        for r in near_dedup_keep(docs, "doc_id", "text", threshold=0.7,
                                 policy="greedy").collect()
    }
    assert got == surv_ref


def test_near_dedup_greedy_no_count_actions(spark, monkeypatch):
    """The greedy fixpoint's convergence detection must ride the round's
    one checkpoint job as an observe() metric — a separate count() action
    per round is the anti-pattern VERDICT r4 #5 retired. Assert no
    DataFrame.count() fires inside the operator."""
    from pyspark.sql import DataFrame

    from pybabe_spark.operators.dedup_scale import near_dedup_keep

    w = [f"w{i}" for i in range(1, 13)]
    df = spark.createDataFrame(
        [(1, " ".join(w[0:10])), (2, " ".join(w[1:11])), (3, " ".join(w[2:12]))],
        "doc_id bigint, text string",
    )

    def _no_count(self):
        raise AssertionError("greedy near-dedup must not run count() actions")

    monkeypatch.setattr(DataFrame, "count", _no_count)
    got = sorted(
        r["doc_id"]
        for r in near_dedup_keep(
            df, "doc_id", "text", threshold=0.8, policy="greedy"
        ).collect()
    )
    assert got == [1, 3]


def test_ann_string_ids_and_zero_vectors(spark, tmp_path):
    """String ids flow through every ANN variant (probe-pair schemas are
    derived from the caller's id type, not hardcoded bigint), and a
    zero-norm vector's unscorable 0/0 cosine is excluded from top-k
    instead of ranking as NULL."""
    from pybabe_spark.operators.similarity import (
        ann_brute_force,
        ann_lsh_stored,
        build_lsh_index,
    )

    corpus = spark.createDataFrame(
        [
            ("doc-1", [1.0, 0.0]),
            ("doc-2", [0.9, 0.1]),
            ("doc-z", [0.0, 0.0]),   # zero vector: cosine undefined
            ("doc-3", [0.0, 1.0]),
        ],
        "vec_id string, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") == "doc-1")

    got = ann_brute_force(corpus, queries, k=3).collect()
    ids = [r["neighbor_id"] for r in got]
    assert "doc-z" not in ids and ids[0] == "doc-2"

    idx = str(tmp_path / "lsh_idx")
    build_lsh_index(corpus, idx, dims=2, planes=2)
    stored = ann_lsh_stored(
        spark, idx, queries, k=2, dims=2, planes=2, nprobe=2
    ).collect()
    assert all(isinstance(r["query_id"], str) for r in stored)
    assert all(r["neighbor_id"] != "doc-z" for r in stored)


def test_ann_query_collect_guard(spark, sf_dir):
    """A large ANN query batch must raise actionably instead of silently
    collecting to the driver (VERDICT r4 #3; the transpose guard idiom)."""
    from pybabe_spark.operators import similarity as sim
    from pybabe_spark.operators.similarity import _lsh_probe_pairs, ann_ivf
    from pybabe_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    # tiny guard limit so the test doesn't need a real 100k-row batch;
    # ann_ivf and _lsh_probe_pairs (the helper behind ann_lsh_stored /
    # ann_ivf_stored) are the driver-collecting paths
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(sim, "_MAX_QUERY_ROWS", 3)
        with pytest.raises(ValueError, match="refusing > 3 query rows"):
            _lsh_probe_pairs(
                emb.filter(F.col("vec_id") < 10), "vec_id", "embedding",
                dims=64, planes=4, nprobe=2,
            )
        with pytest.raises(ValueError, match="refusing > 3 query rows"):
            ann_ivf(emb, emb.filter(F.col("vec_id") < 10), k=5, nlist=4)
    # within the bound still works
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(sim, "_MAX_QUERY_ROWS", 10)
        assert ann_ivf(
            emb, emb.filter(F.col("vec_id") < 2), k=3, nlist=4
        ).count() > 0


def test_train_test_split_disjoint_exhaustive(spark, sf_dir):
    from pybabe_spark.operators.sampling import train_test_split
    from pybabe_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    train, test = train_test_split(docs, "doc_id", 0.1)
    n, ntr, nte = docs.count(), train.count(), test.count()
    assert ntr + nte == n
    assert train.join(test, "doc_id", "left_semi").count() == 0
    # rate lands near the target (hash uniformity)
    assert 0.05 < nte / n < 0.15


def test_hash_sample_is_deterministic_and_stable(spark, sf_dir):
    """Same rows every run AND under re-partitioning — the property
    df.sample does not have (its Bernoulli draw is per-task-attempt)."""
    from pybabe_spark.operators.sampling import hash_sample
    from pybabe_spark.sources.io import read_table

    orders = read_table(spark, sf_dir, "orders")
    a = {r["o_orderkey"] for r in
         hash_sample(orders, "o_orderkey", 0.1).select("o_orderkey").collect()}
    b = {r["o_orderkey"] for r in
         hash_sample(orders.repartition(7), "o_orderkey", 0.1)
         .select("o_orderkey").collect()}
    assert a == b and len(a) > 0


def test_hash_sample_no_shuffle(spark, sf_dir):
    """The sample must stay a scan-side filter: no Exchange in the plan."""
    from pybabe_spark.operators.sampling import hash_sample
    from pybabe_spark.sources.io import read_table

    orders = read_table(spark, sf_dir, "orders")
    plan = hash_sample(orders, "o_orderkey", 0.1)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_global_shuffle_order_and_determinism(spark, sf_dir):
    """The collected order IS the md5(seed:key) order, identical across
    runs; a different seed is a different permutation of the same rows."""
    from pybabe_spark.operators.sampling import global_shuffle
    from pybabe_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    run1 = [r["doc_id"] for r in global_shuffle(docs, "doc_id", 42).collect()]
    run2 = [r["doc_id"] for r in
            global_shuffle(docs.repartition(7), "doc_id", 42).collect()]
    assert run1 == run2 and len(run1) > 0

    import hashlib
    expect = sorted(
        run1, key=lambda d: hashlib.md5(f"42:{d}".encode()).hexdigest()
    )
    assert run1 == expect

    other = [r["doc_id"] for r in global_shuffle(docs, "doc_id", 7).collect()]
    assert other != run1 and sorted(other) == sorted(run1)


def test_global_shuffle_plan_and_shards(spark, sf_dir):
    """Total order must be a range-partitioned sort (scale path), never a
    single-partition funnel; the sharded form yields exactly N sorted,
    range-disjoint shards covering every row."""
    import hashlib

    from pybabe_spark.operators.sampling import global_shuffle
    from pybabe_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    plan = (
        global_shuffle(docs, "doc_id", 42)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "rangepartitioning" in plan and "SinglePartition" not in plan

    sharded = global_shuffle(docs, "doc_id", 42, shards=4)
    assert sharded.rdd.getNumPartitions() == 4
    parts = sharded.rdd.glom().collect()
    keys = [
        [hashlib.md5(f"42:{r['doc_id']}".encode()).hexdigest() for r in p]
        for p in parts
    ]
    for p in keys:
        assert p == sorted(p)                     # per-shard sorted
    bounds = [(p[0], p[-1]) for p in keys if p]
    bounds.sort()
    for (_, hi), (lo, _) in zip(bounds, bounds[1:]):
        assert hi <= lo                           # range-disjoint shards
    assert sum(len(p) for p in keys) == docs.count()


def test_heavy_hitters_sketch_superset_of_exact(spark, sf_dir):
    """freqItems may return false positives but must contain every true
    heavy hitter (one-pass KPS guarantee)."""
    from pybabe_spark.operators.sketch import exact_heavy_hitters, heavy_hitters
    from pybabe_spark.sources.io import read_table

    orders = read_table(spark, sf_dir, "orders")
    n = orders.count()
    support = 0.001
    sketch = {r["o_custkey"] for r in
              heavy_hitters(orders, "o_custkey", support).collect()}
    exact = {r["o_custkey"] for r in
             exact_heavy_hitters(orders, "o_custkey",
                                 int(support * n) + 1).collect()}
    assert exact <= sketch, (len(exact), len(sketch))


@pytest.mark.deep
def test_write_zorder_narrows_both_columns(spark, sf_dir, tmp_path):
    """Z-ordered layout must keep BOTH clustered columns' per-file spans
    narrow (a 1-D sort leaves the second column spanning ~everything in
    every file — that's the property Z-order exists to fix)."""
    from pybabe_spark.sources.io import read_table, write_range_sorted, write_zorder

    orders = read_table(spark, sf_dir, "orders")
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zorder(orders, zpath, ["o_custkey", "o_totalprice"], num_files=8)
    write_range_sorted(orders, spath, ["o_custkey"], num_files=8)

    def mean_span(path, col):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name())
            .agg((F.max(col) - F.min(col)).alias("span"))
            .collect()
        )
        return sum(r["span"] for r in per_file) / len(per_file)

    full_span = (
        orders.agg((F.max("o_totalprice") - F.min("o_totalprice")).alias("s"))
        .collect()[0]["s"]
    )
    # 1-D sort: totalprice spans ~the full range per file; z-order: much less
    assert mean_span(spath, "o_totalprice") > 0.8 * full_span
    assert mean_span(zpath, "o_totalprice") < 0.6 * full_span
    # and custkey stays reasonably clustered too
    full_ck = (
        orders.agg((F.max("o_custkey") - F.min("o_custkey")).alias("s"))
        .collect()[0]["s"]
    )
    assert mean_span(zpath, "o_custkey") < 0.6 * full_ck


def test_ann_lsh_multiprobe_recall_improves(spark, sf_dir):
    """Multi-probe must recover at least as many true neighbors as
    single-probe (it probes a superset of buckets), and strictly help on
    this dataset."""
    from pybabe_spark.operators.similarity import ann_brute_force, ann_lsh
    from pybabe_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    truth = {(r["query_id"], r["neighbor_id"])
             for r in ann_brute_force(emb, queries, k=10).collect()}

    def recall(nprobe):
        got = {(r["query_id"], r["neighbor_id"])
               for r in ann_lsh(emb, queries, k=10, dims=64, planes=4,
                                nprobe=nprobe).collect()}
        return len(got & truth) / len(truth)

    r1, r3 = recall(1), recall(3)
    assert r3 >= r1, (r1, r3)
    # the synthetic embeddings are near-uniform (little cosine cluster
    # structure), so absolute recall is bounded by bucket coverage;
    # 3-probe covers 3/16 buckets — require it to beat that random floor
    assert r3 > 3 / 16, (r1, r3)


def test_ivf_stored_prunes_partitions_and_matches_inline(spark, sf_dir, tmp_path):
    """The stored-IVF probe must (a) prune non-probed cell partitions at
    the scan (PartitionFilters) and (b) return the same neighbors as the
    inline ann_ivf with identical parameters."""
    from pybabe_spark.operators.similarity import (
        ann_ivf,
        ann_ivf_stored,
        build_ivf_index,
    )
    from pybabe_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, nlist=16)

    stored = ann_ivf_stored(spark, path, queries, k=10, nprobe=4)
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1][:120], plan

    inline = ann_ivf(emb, queries, k=10, nlist=16, nprobe=4)
    got = {(r["query_id"], r["neighbor_id"]) for r in stored.collect()}
    want = {(r["query_id"], r["neighbor_id"]) for r in inline.collect()}
    assert got == want


def test_lsh_stored_prunes_partitions_and_matches_inline(spark, sf_dir, tmp_path):
    """The stored-LSH probe must (a) prune non-probed bucket partitions
    at the scan (PartitionFilters) and (b) return exactly the inline
    ann_lsh result with identical parameters — the hash is stateless
    (md5 constants), so candidates are identical by construction."""
    from pybabe_spark.operators.similarity import (
        ann_lsh,
        ann_lsh_stored,
        build_lsh_index,
    )
    from pybabe_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "lsh")
    build_lsh_index(emb, path, dims=64, planes=4)

    stored = ann_lsh_stored(spark, path, queries, k=10, dims=64, planes=4, nprobe=2)
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan.split(
        "PartitionFilters"
    )[1][:120], plan

    inline = ann_lsh(emb, queries, k=10, dims=64, planes=4, nprobe=2)
    got = [(r["query_id"], r["neighbor_id"], r["sim"]) for r in stored.collect()]
    want = [(r["query_id"], r["neighbor_id"], r["sim"]) for r in inline.collect()]
    assert sorted(got) == sorted(want)


def test_lsh_append_equals_rebuild(spark, sf_dir, tmp_path):
    """append_lsh_index on half the corpus == build_lsh_index over the
    union: same probes, same neighbors, same sims (the bucket hash is
    stateless, so the layouts are interchangeable)."""
    from pybabe_spark.operators.similarity import (
        ann_lsh_stored,
        append_lsh_index,
        build_lsh_index,
    )
    from pybabe_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    full, inc = str(tmp_path / "full"), str(tmp_path / "inc")
    build_lsh_index(emb, full, dims=64, planes=4)
    build_lsh_index(emb.filter(F.col("vec_id") % 2 == 0), inc,
                    dims=64, planes=4)
    append_lsh_index(emb.filter(F.col("vec_id") % 2 != 0), inc,
                     dims=64, planes=4)

    def probe(path):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["sim"])
            for r in ann_lsh_stored(
                spark, path, queries, k=10, dims=64, planes=4, nprobe=2
            ).collect()
        )

    got = probe(inc)
    assert got == probe(full) and got


@pytest.mark.deep
def test_ivf_append_equals_rebuild_with_same_centroids(spark, sf_dir, tmp_path):
    """append_ivf_index assigns the batch with the STORED centroids, so
    append == a full build whose centroid fit sees the same sample.
    Split by id threshold: the union's lowest-id training sample IS the
    base half's sample, so both indexes share centroids exactly."""
    from pybabe_spark.operators.similarity import (
        ann_ivf_stored,
        append_ivf_index,
        build_ivf_index,
    )
    from pybabe_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    cut = n // 2
    base = emb.filter(F.col("vec_id") < cut)
    batch = emb.filter(F.col("vec_id") >= cut)
    queries = emb.filter(F.col("vec_id") < 5)
    full, inc = str(tmp_path / "full"), str(tmp_path / "inc")
    # sample_size <= |base| and ids ordered => identical centroid fits
    build_ivf_index(emb, full, nlist=8, sample_size=cut)
    build_ivf_index(base, inc, nlist=8, sample_size=cut)
    append_ivf_index(batch, inc)

    def probe(path):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["sim"])
            for r in ann_ivf_stored(
                spark, path, queries, k=10, nprobe=3
            ).collect()
        )

    got = probe(inc)
    assert got == probe(full) and got


def test_decontaminate_drop_and_flag_agree(spark, sf_dir):
    """flag-mode marks exactly the docs drop-mode removes; a benchmark
    doc's own n-grams always contaminate an identical training doc."""
    from pybabe_spark.operators.decontam import decontaminate
    from pybabe_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)

    kept = decontaminate(corpus, bench, n=3)
    flagged = decontaminate(corpus, bench, n=3, mode="flag")
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    clean_ids = {
        r["doc_id"]
        for r in flagged.filter(~F.col("contaminated")).select("doc_id").collect()
    }
    assert kept_ids == clean_ids
    assert flagged.count() == corpus.count()

    # planting a benchmark doc into the corpus must contaminate it
    leak = corpus.limit(0).unionByName(bench.limit(1))
    assert decontaminate(leak, bench, n=3).count() == 0


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The benchmark shingle set must broadcast — eval sets are tiny
    next to a 100 TB corpus; a shuffle join here would be a regression."""
    from pybabe_spark.operators.decontam import decontaminate
    from pybabe_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    plan = (
        decontaminate(corpus, bench, n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_coverage_dedup_thresholds(spark, sf_dir):
    """threshold=0 drops every doc with any duplicated shingle;
    threshold>1 keeps everything; outputs are always a subset."""
    from pybabe_spark.operators.decontam import (
        coverage_dedup,
        duplicated_ngram_coverage,
    )
    from pybabe_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    total = docs.count()
    assert coverage_dedup(docs, threshold=1.01, n=5).count() == total
    cov = duplicated_ngram_coverage(docs, n=5)
    n_clean = cov.filter(F.col("dup_coverage") == 0.0).count()
    assert coverage_dedup(docs, threshold=1e-9, n=5).count() == n_clean


def test_word_entropy_model(spark):
    """Entropy matches the closed-form for known word distributions."""
    import math

    from pybabe_spark.functions.text import word_entropy

    df = spark.createDataFrame(
        [("a a a a",), ("a b a b",), ("a b c d",)], "text string"
    )
    got = [r["e"] for r in df.select(word_entropy("text").alias("e")).collect()]
    assert got[0] == 0.0
    assert abs(got[1] - 1.0) < 1e-6
    assert abs(got[2] - 2.0) < 1e-6
    assert got == sorted(got)


def test_connected_components_known_graph(spark):
    """Chains, triangles, and isolated pairs resolve to min-id labels;
    a 5-hop chain still converges (diameter-bound iteration)."""
    from pybabe_spark.operators.graph import connected_components, dup_clusters

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),   # chain 1-6
         (10, 11), (11, 12), (10, 12),             # triangle
         (20, 21)],                                # pair
        "id_a bigint, id_b bigint",
    )
    got = {r["id"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 6, 10, 11, 12, 20, 21, 99]],
        "doc_id bigint",
    )
    clusters = {r["id"]: (r["component"], r["cluster_size"])
                for r in dup_clusters(docs, edges).collect()}
    assert clusters[99] == (99, 1)          # singleton keeps its own id
    assert clusters[4] == (1, 6)
    assert clusters[12] == (10, 3)


def test_connected_components_string_ids(spark):
    """md5/URL-style string node ids: nodes map through surrogate bigints
    (the decimal-sum convergence metric needs numeric labels — a string
    cast would abort under ANSI) and the component representative is the
    lexicographic minimum original id."""
    from pybabe_spark.operators.graph import connected_components, dup_clusters

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")],
        "id_a string, id_b string",
    )
    got = {r["id"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "a",
                   "x": "x", "y": "x"}

    docs = spark.createDataFrame([(ch,) for ch in "abcdexyz"],
                                 "doc_id string")
    cl = {r["id"]: (r["component"], r["cluster_size"])
          for r in dup_clusters(docs, edges).collect()}
    assert cl["z"] == ("z", 1) and cl["d"] == ("a", 5)


def test_connected_components_exhaustion_takes_fallback(spark):
    """max_iters=1 leaves no min-label round: the chain is closed by
    the star-forest fallback, with the same components."""
    from pybabe_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a bigint, id_b bigint"
    )
    got = {r["id"]: r["component"]
           for r in connected_components(chain, max_iters=1).collect()}
    assert got == {i: 1 for i in range(1, 9)}


@pytest.mark.deep
def test_connected_components_deep_chain_fallback(spark):
    """A 1000-node chain (diameter 999) would need ~999 min-label
    rounds; the large-star/small-star fallback converges in O(log² n)
    rounds. Also checks the fallback keeps a second component and a
    self-loop-only node intact."""
    from pybabe_spark.operators.graph import connected_components

    rows = [(i, i + 1) for i in range(1000)]          # chain 0..1000
    rows += [(5000, 5001), (5001, 5002)]              # small second comp
    rows += [(7000, 7000)]                            # self-loop only
    chain = spark.createDataFrame(rows, "id_a bigint, id_b bigint")

    got = {r["id"]: r["component"]
           for r in connected_components(chain, max_iters=3).collect()}
    assert len(got) == 1001 + 3 + 1
    assert all(got[i] == 0 for i in range(1001))
    assert got[5000] == got[5001] == got[5002] == 5000
    assert got[7000] == 7000


def test_tfidf_model(spark):
    """Hand-checked TF-IDF: corpus-wide terms score low, unique terms
    high; ties break on term name."""
    import math

    from pybabe_spark.operators.tfidf import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "common rare1 common"), (2, "common rare2"), (3, "common")],
        "doc_id bigint, text string",
    )
    out = {(r["id"], r["term"]): (r["tf"], r["score"])
           for r in tfidf_top_terms(docs, k=2).collect()}

    idf_common = math.log(4 / 4) + 1            # df=3 -> 1.0
    idf_rare = math.log(4 / 2) + 1              # df=1
    assert out[(1, "rare1")][0] == 1
    assert abs(out[(1, "rare1")][1] - round(idf_rare, 6)) < 1e-6
    assert abs(out[(1, "common")][1] - round(2 * idf_common, 6)) < 1e-6
    # doc 1's top term is the double 'common' (2.0 > 1.69 rare)
    top1 = max(((k, v) for k, v in out.items() if k[0] == 1),
               key=lambda kv: kv[1][1])
    assert top1[0] == (1, "common")


def test_asof_join_tolerance_matches_pandas(spark):
    """tolerance= voids stale matches exactly like pandas merge_asof."""
    import pandas as pd

    from pybabe_spark.operators import asof_join

    left = pd.DataFrame({
        "k": [1, 1, 1], 
        "ts": pd.to_datetime(
            ["2024-01-01 10:00", "2024-01-01 12:00", "2024-01-01 13:00"]),
        "lid": ["a", "b", "c"],
    })
    right = pd.DataFrame({
        "k": [1, 1],
        "rts": pd.to_datetime(["2024-01-01 09:55", "2024-01-01 11:30"]),
        "rv": [1.0, 2.0],
    })
    want = pd.merge_asof(
        left.sort_values("ts"), right.sort_values("rts"),
        left_on="ts", right_on="rts", by="k",
        tolerance=pd.Timedelta("10 minutes"),
    ).set_index("lid")["rv"].to_dict()

    got = {r["lid"]: r["rv"] for r in asof_join(
        spark.createDataFrame(left), spark.createDataFrame(right),
        on="k", left_ts="ts", right_ts="rts", tolerance="10 minutes",
    ).collect()}
    import math
    norm = lambda d: {k: (None if v is None or (isinstance(v, float) and math.isnan(v)) else v)
                      for k, v in d.items()}
    assert norm(got) == norm(want)  # a: 1.0 (5m), b: None (30m), c: None


def test_quantize_roundtrip_error_bound(spark, sf_dir):
    """Dequantized vectors stay within scale/2 per component and keep
    cosine ≈ 1 vs the originals; zero vectors survive."""
    from pybabe_spark.operators.similarity import (
        cosine_similarity,
        dequantize_embeddings,
        quantize_embeddings,
    )
    from pybabe_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).limit(200)
    zero = spark.createDataFrame(
        [(999_999, [0.0] * 4)], "vec_id bigint, embedding array<float>"
    )
    emb = emb.unionByName(zero)
    q = quantize_embeddings(emb)
    back = dequantize_embeddings(q).withColumnRenamed("embedding", "deq")
    joined = emb.join(back, "vec_id").join(q.select("vec_id", "scale"), "vec_id")

    stats = joined.select(
        F.max(
            F.when(
                F.col("scale") > 0,
                F.array_max(
                    F.zip_with(
                        "embedding", "deq",
                        lambda a, b: F.abs(a.cast("double") - b) / F.col("scale"),
                    )
                ),
            )
        ).alias("max_err_scaled"),
        F.min(
            F.when(
                F.col("vec_id") != 999_999,
                cosine_similarity(F.col("embedding"), F.col("deq")),
            )
        ).alias("min_cos"),
    ).collect()[0]
    assert stats["max_err_scaled"] <= 0.5 + 1e-9
    assert stats["min_cos"] > 0.9995
    z = back.filter(F.col("vec_id") == 999_999).collect()[0]["deq"]
    assert z == [0.0, 0.0, 0.0, 0.0]


def test_pack_tokens_respects_budget_and_oversized(spark):
    """Every multi-doc pack stays within budget; an oversized doc packs
    alone; packs are contiguous id ranges within a bucket."""
    from pybabe_spark.operators.packing import pack_tokens

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate([100, 100, 100, 700, 50, 50, 400, 10])],
        "doc_id long, n_tokens long",
    )
    out = pack_tokens(docs, budget=512, n_buckets=1).collect()
    tokens = {i: t for i, t in enumerate([100, 100, 100, 700, 50, 50, 400, 10])}
    by_pack: dict = {}
    for r in out:
        by_pack.setdefault((r["bucket"], r["pack_id"]), []).append(r["doc_id"])
    for (_, _), ids in by_pack.items():
        total = sum(tokens[i] for i in ids)
        assert total <= 512 or len(ids) == 1, (ids, total)
        assert sorted(ids) == list(range(min(ids), max(ids) + 1))
    # every doc packed exactly once
    assert sorted(r["doc_id"] for r in out) == list(range(8))


def test_pack_contiguous_offsets_and_spans(spark):
    """The bucket token stream is gapless (each doc starts where the
    previous ended), seq ids are exact integer windows of the offsets,
    spans_cut marks exactly the boundary-crossing docs, and zero-token
    docs occupy no positions."""
    from pybabe_spark.operators.packing import pack_contiguous

    sizes = [100, 100, 100, 700, 0, 50, 400, 10]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(sizes)],
        "doc_id long, n_tokens long",
    )
    rows = sorted(
        pack_contiguous(docs, budget=512, n_buckets=1).collect(),
        key=lambda r: r["doc_id"],
    )
    cursor = 0
    for r, t in zip(rows, sizes):
        assert r["start_off"] == cursor and r["end_off"] == cursor + t
        assert r["first_seq"] == r["start_off"] // 512
        expect_last = (r["end_off"] - 1) // 512 if t else r["first_seq"]
        assert r["last_seq"] == expect_last
        assert r["spans_cut"] == (r["last_seq"] > r["first_seq"])
        cursor += t
    # doc 3 (700 tokens at offset 300) must span the 512 boundary
    assert rows[3]["spans_cut"] and not rows[0]["spans_cut"]
    # zero-token doc: empty range, no span
    assert rows[4]["start_off"] == rows[4]["end_off"]
    assert not rows[4]["spans_cut"]


def test_chunk_documents_coverage_and_overlap(spark):
    """Chunks cover every word; consecutive chunks share exactly
    `overlap` words; short docs yield one chunk."""
    from pybabe_spark.operators.packing import chunk_documents

    text = " ".join(f"w{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(1, text), (2, "a b"), (3, "")], "doc_id long, text string"
    )
    rows = sorted(
        (r["doc_id"], r["chunk_index"], r["chunk_text"])
        for r in chunk_documents(docs, chunk_words=10, overlap=3).collect()
    )
    d1 = [t for d, _, t in rows if d == 1]
    # stride 7: starts 0,7,14,21 -> 4 chunks
    assert len(d1) == 4
    words = [c.split(" ") for c in d1]
    assert words[0] == [f"w{i}" for i in range(10)]
    for a, b in zip(words, words[1:]):
        assert a[-3:] == b[:3]  # the 3-word overlap
    assert [w for c in words for w in c[3:] ] [0:0] == []  # sanity no-op
    covered = set(words[0]) | {w for c in words[1:] for w in c}
    assert covered == {f"w{i}" for i in range(25)}
    assert [t for d, _, t in rows if d == 2] == ["a b"]
    assert [t for d, _, t in rows if d == 3] == [""]


def test_near_dedup_best_picks_highest_score_per_cluster(spark):
    """policy='best': one survivor per transitive cluster = the max
    score (ties -> min id); untouched docs pass through."""
    from pybabe_spark.operators.dedup_scale import near_dedup_keep

    rows = [
        (1, "a b c d", 0.2),
        (2, "a b c d", 0.9),   # same text as 1 -> same cluster, higher q
        (3, "a b c d", 0.9),   # tie with 2 -> loses on id
        (4, "x y z w", 0.1),   # singleton
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, q double")
    kept = near_dedup_keep(
        df, "doc_id", "text", threshold=0.9, policy="best", score_col="q"
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 4]
    with pytest.raises(ValueError, match="score_col"):
        near_dedup_keep(df, "doc_id", "text", policy="best")


def test_semantic_dedup_keep_rule(spark):
    """SemDeDup keep rule on a hand-built space: within a cluster, the
    pair member CLOSER to the centroid is dropped (the paper keeps the
    more extreme example); cross-cluster near-dups are untouched; a
    zero-norm vector is unscorable and comes back kept with NULL cell."""
    from pybabe_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # seed/centroid of cell 0
        (1, [0.0, 1.0, 0.0, 0.0]),   # seed/centroid of cell 1
        (2, [0.9, 0.1, 0.0, 0.0]),   # cell 0, close to centroid
        (3, [0.8, 0.2, 0.0, 0.0]),   # cell 0, near-dup of 2, farther out
        (4, [0.0, 0.0, 0.0, 0.0]),   # zero norm: unscorable
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {
        r["vec_id"]: (r["cell"], r["kept"])
        for r in semantic_dedup(df, k_clusters=2, threshold=0.95).collect()
    }
    # 0 IS the cell-0 centroid: closest possible, so it loses its pair
    # with 2 (and 2 in turn loses to 3? no: 2 is closer to the centroid
    # than 3, so 2 drops) — the survivor of the 0-2-3 chain is 3.
    assert out[0] == (0, False)
    assert out[2][0] == 0 and out[2][1] is False
    assert out[3] == (0, True)
    assert out[1] == (1, True)  # alone in its cell
    assert out[4] == (None, True)  # zero-norm: kept, no cell


def test_semantic_dedup_threshold_monotone(spark, sf_dir):
    """Lowering the threshold can only drop MORE vectors, and kept ids
    at a high threshold are a superset of kept ids at a lower one."""
    import os

    from pybabe_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    kept_hi = {
        r["vec_id"]
        for r in semantic_dedup(emb, 8, 0.6).filter("kept").collect()
    }
    kept_lo = {
        r["vec_id"]
        for r in semantic_dedup(emb, 8, 0.3).filter("kept").collect()
    }
    assert kept_lo <= kept_hi


def test_pq_encode_shape_and_ties(spark):
    """codes: m entries, each < ks; exact distance ties (duplicate seed
    vectors) resolve to the LOWER centroid index on every engine."""
    from pybabe_spark.operators.similarity import build_pq_codebooks, pq_encode

    # ids 0 and 1 are identical -> centroids 0 and 1 identical in every
    # subspace; every row's argmin must prefer index 0 over 1
    rows = [
        (0, [1.0, 2.0, 3.0, 4.0]),
        (1, [1.0, 2.0, 3.0, 4.0]),
        (2, [5.0, 6.0, 7.0, 8.0]),
        (3, [1.1, 2.1, 3.1, 4.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(df, m=2, ks=3, id_col="vec_id").collect()
    }
    assert all(len(c) == 2 and all(x < 3 for x in c) for c in out.values())
    assert out[0] == [0, 0] and out[1] == [0, 0]  # tie -> lower index
    assert out[2] == [2, 2] and out[3] == [0, 0]

    cbs = build_pq_codebooks(df, m=2, ks=3)
    assert len(cbs) == 2 and len(cbs[0]) == 3 and len(cbs[0][0]) == 2
    with pytest.raises(ValueError, match="not divisible"):
        build_pq_codebooks(df, m=3, ks=2)


def test_ann_pq_recall_floor(spark, sf_dir):
    """ADC with seeded ks=16 codebooks must beat random ranking by a
    wide margin (measured ~0.32 mean recall@10 vs exact L2; random would
    be 10/499 = 0.02). Floor at 0.1 to stay data-regeneration-safe."""
    import os

    import numpy as np

    from pybabe_spark.operators.similarity import ann_pq

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    rows = emb.collect()
    X = np.asarray([list(r["embedding"]) for r in rows], dtype="float64")
    ids = np.asarray([r["vec_id"] for r in rows])
    queries = emb.filter(F.col("vec_id") < 5)
    got = ann_pq(emb, queries, k=10)
    pq_top: dict = {}
    for r in got.collect():
        pq_top.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recs = []
    for q in sorted(pq_top):
        qv = X[ids == q][0]
        d = ((X - qv) ** 2).sum(axis=1)
        exact = [int(i) for i in ids[np.argsort(d, kind="stable")] if i != q][:10]
        k_eff = min(10, len(exact))
        recs.append(len(pq_top[q] & set(exact)) / k_eff)
    assert sum(recs) / len(recs) >= 0.1, recs


def test_window_map_guards_are_shared(spark):
    """Both window forms raise the actionable missing-order-column error
    and window_map rejects unknown builtin names with the supported set."""
    from pybabe_spark.operators.window import window_map, window_map_udf

    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError, match="order column"):
        window_map(df, 3, "sum", "v")
    with pytest.raises(ValueError, match="order column"):
        window_map_udf(df, 3, lambda xs: max(xs), "v")
    with pytest.raises(ValueError, match="unknown builtin agg"):
        window_map(with_ingest_id(df), 3, "median", "v")


def test_pq_trained_codebooks_improve_recall(spark, sf_dir):
    """The quality path (per-subspace Lloyd k-means, deterministic)
    stays far above random ranking, like the seeded oracle form. At
    sf0.01 trained beats seeded (0.42 vs 0.32 mean recall@10); at the
    ~100-vector sf0.001 corpus k-means overfits and the ordering can
    invert, so the gate is an absolute floor (random = k/n ≈ 0.02–0.1),
    not a comparison. semantic_dedup's train_iters path must keep the
    full-output contract."""
    import os

    import numpy as np

    from pybabe_spark.operators.similarity import (
        ann_pq,
        semantic_dedup,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    rows = emb.collect()
    X = np.asarray([list(r["embedding"]) for r in rows], dtype="float64")
    ids = np.asarray([r["vec_id"] for r in rows])
    queries = emb.filter(F.col("vec_id") < 5)

    def recall(got_df):
        top: dict = {}
        for r in got_df.collect():
            top.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        recs = []
        for q in sorted(top):
            qv = X[ids == q][0]
            d = ((X - qv) ** 2).sum(axis=1)
            exact = [int(i) for i in ids[np.argsort(d, kind="stable")] if i != q][:10]
            k_eff = min(10, len(exact))
            recs.append(len(top[q] & set(exact)) / k_eff)
        return sum(recs) / len(recs)

    seeded = recall(ann_pq(emb, queries, k=10))
    trained = recall(
        ann_pq(emb, queries, k=10, codebooks=train_pq_codebooks(emb, iters=8))
    )
    assert seeded >= 0.1 and trained >= 0.1, (seeded, trained)

    # trained semantic_dedup: same one-row-per-input contract, runs clean
    out = semantic_dedup(emb, k_clusters=8, threshold=0.4, train_iters=5)
    assert out.count() == emb.count()


def test_minhash_stored_index_roundtrip(spark, tmp_path):
    """build_minhash_index + near_dedup_against_stored: an exact
    duplicate of an indexed doc is dropped (estimate 1.0), a disjoint
    doc survives, and the probe honors the params pinned at build time
    (shingle_n=2 here) rather than its own defaults."""
    from pybabe_spark.operators.dedup_scale import (
        build_minhash_index,
        near_dedup_against_stored,
    )

    seen = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "completely different reference material here")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "mh_idx")
    build_minhash_index(seen, path, num_hashes=16, bands=4, shingle_n=2)

    new = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),  # dup of 0
         (11, "zebra xylophone quantum variables nothing shared")],
        "doc_id bigint, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in near_dedup_against_stored(new, path, threshold=0.9).collect()
    )
    assert kept == [11]


def test_ivf_centroids_skip_zero_norm(spark):
    """A zero-norm vector in the training sample must not poison the
    centroids with NaNs (it is unscorable and excluded); too few usable
    vectors raise actionably."""
    import numpy as np

    from pybabe_spark.operators.similarity import _ivf_centroids, semantic_dedup

    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),  # zero-norm, lowest id
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.9, 0.1, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    C = _ivf_centroids(df, "vec_id", "embedding", nlist=2, sample_size=10, iters=2)
    assert not np.isnan(C).any()
    with pytest.raises(ValueError, match="usable"):
        _ivf_centroids(df, "vec_id", "embedding", nlist=4, sample_size=10, iters=1)

    out = {r["vec_id"]: r for r in
           semantic_dedup(df, k_clusters=2, threshold=0.95, train_iters=2).collect()}
    assert out[0]["cell"] is None and out[0]["kept"] is True
    assert all(out[i]["cell"] is not None for i in (1, 2, 3))


@pytest.mark.deep
def test_minhash_index_params_survive_append(spark, tmp_path):
    """mode='append' must not accumulate params rows — the probe would
    pick one arbitrarily and silently mix coefficient families."""
    from pybabe_spark.operators.dedup_scale import (
        build_minhash_index,
        near_dedup_against_stored,
    )

    docs = spark.createDataFrame([(0, "alpha beta gamma")], "doc_id bigint, text string")
    path = str(tmp_path / "idx")
    build_minhash_index(docs, path)
    more = spark.createDataFrame([(1, "delta epsilon zeta")], "doc_id bigint, text string")
    build_minhash_index(more, path, mode="append")
    new = spark.createDataFrame([(9, "alpha beta gamma")], "doc_id bigint, text string")
    assert near_dedup_against_stored(new, path, threshold=0.9).count() == 0


def test_ann_ivfpq_consistent_with_pq_and_cell_pruned(spark, sf_dir):
    """IVF-PQ must (a) score every returned pair with the EXACT same
    decimal ADC distance as full ann_pq under the same codebooks, (b)
    keep per-query counts in 1..k, (c) recall a solid fraction of the
    full-PQ top-k (the only loss is cell pruning), and (d) plan the
    corpus side as an equi-join on cell id, not all-pairs."""
    import os

    from pybabe_spark.operators.similarity import (
        _ivf_centroids,
        ann_ivfpq,
        ann_pq,
        build_pq_codebooks,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 5)
    cb = build_pq_codebooks(emb, 8, 16)
    C = _ivf_centroids(emb, "vec_id", "embedding", 16, 2048, 5)
    ivfpq = ann_ivfpq(
        emb, queries, k=10, nlist=16, nprobe=4, centroids=C, codebooks=cb
    )
    a = {(r["query_id"], r["neighbor_id"]): r["adist"] for r in ivfpq.collect()}
    b = {
        (r["query_id"], r["neighbor_id"]): r["adist"]
        for r in ann_pq(emb, queries, k=10, codebooks=cb).collect()
    }
    per_q: dict = {}
    for (q, _n), _ in a.items():
        per_q[q] = per_q.get(q, 0) + 1
    assert set(per_q) == {0, 1, 2, 3, 4}
    assert all(1 <= n <= 10 for n in per_q.values())
    overlap = set(a) & set(b)
    assert len(overlap) >= 0.3 * len(a)          # cell-pruning recall
    assert all(a[p] == b[p] for p in overlap)    # bit-equal decimal ADC
    # pruned join: candidate generation is the __cell equi-join; the
    # only nested-loop is... none — IVF-PQ itself must lint clean
    from pybabe_spark.plans.lint import plan_lint

    assert plan_lint(ivfpq) == []


def test_geoip_bucketed_join_spans_and_edges(spark):
    """The /16-bucketed range join must behave exactly like the naive
    BETWEEN scan: ranges spanning multiple /16 buckets match IPs in
    every spanned bucket (each IP exactly once), boundary IPs match,
    out-of-range and malformed IPs get NULLs, and the plan is a hash
    equi-join — never a nested loop."""
    from pybabe_spark.functions.enrich import geoip_country_code
    from pybabe_spark.plans.lint import plan_lint

    ranges = spark.createDataFrame(
        [
            # spans four /16 buckets: 10.0.0.0 .. 10.3.255.255
            (167772160, 168034303, "AA", None, None, None, None),
            # single-bucket range right after it
            (168034304, 168099839, "BB", None, None, None, None),
        ],
        "ip_start bigint, ip_end bigint, country_code string, "
        "region string, city string, latitude double, longitude double",
    )
    probes = spark.createDataFrame(
        [
            (1, "10.0.0.0"),     # start boundary of the spanning range
            (2, "10.2.7.9"),     # interior bucket of the spanning range
            (3, "10.3.255.255"), # end boundary
            (4, "10.4.0.0"),     # first IP of the next range
            (5, "10.5.0.0"),     # past every range
            (6, "999.1.2.3"),    # malformed
        ],
        "id bigint, ip string",
    )
    out = geoip_country_code(probes, "ip", ranges=ranges)
    got = {r["id"]: r["country_code"] for r in out.collect()}
    assert got == {1: "AA", 2: "AA", 3: "AA", 4: "BB", 5: None, 6: None}
    assert out.count() == 6  # bucket replicas never duplicate a match
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan_lint(out) == []


def test_bm25_hand_checked(spark):
    """Hand-checked BM25 on a 3-doc corpus: docs with no query term are
    absent; a query term concentrated in a short doc outranks the same
    term diluted in a long one; TakeOrdered limit is deterministic."""
    import math

    from pybabe_spark.operators.tfidf import bm25_search

    docs = spark.createDataFrame(
        [(1, "spark fast"), (2, "spark slow slow slow slow slow"), (3, "other words")],
        "doc_id bigint, text string",
    )
    rows = bm25_search(docs, ["spark"], k=10).collect()
    ids = [r["id"] for r in rows]
    assert 3 not in ids            # no query term -> absent
    assert ids[0] == 1             # tf=1, dl=2 beats tf=1, dl=6
    # closed form: idf = ln(1 + (3 - 2 + 0.5)/(2 + 0.5)); avgdl = 10/3
    idf = math.log(1 + 1.5 / 2.5)
    k1, b = 1.2, 0.75
    exp1 = idf * (1 * (k1 + 1)) / (1 + k1 * (1 - b + b * (2 / (10 / 3))))
    assert abs(rows[0]["score"] - round(exp1, 6)) < 1e-6


def test_bm25_facade_and_plan(spark):
    """Facade path returns the same top-1; the physical plan is a
    TakeOrdered (no global row_number window)."""
    from pybabe_spark.plans.facade import Babe

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a a a"), (3, "b")], "doc_id bigint, text string"
    )
    b = Babe.from_df(docs).bm25_search(["a"], k=1)
    plan = b.df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan
    assert b.df.collect()[0]["id"] == 2


@pytest.mark.deep
def test_temperature_resample_alpha_behavior(spark):
    """alpha=1 keeps natural proportions; alpha→0 flattens toward
    uniform; exact path returns exactly the allocation per group."""
    import pyspark.sql.functions as F

    from pybabe_spark.operators.sampling import temperature_resample

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "id bigint, g string")

    def sizes(alpha, budget=100):
        out = temperature_resample(df, "g", "id", budget=budget, alpha=alpha)
        return {r["g"]: r["n"] for r in
                out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}

    nat = sizes(1.0)     # floor(100*900/1000)=90, floor(100*100/1000)=10
    assert nat == {"big": 90, "small": 10}
    flat = sizes(0.0)    # weights equal -> 50/50
    assert flat == {"big": 50, "small": 50}
    mid = sizes(0.5)     # sqrt weighting sits between
    assert nat["small"] < mid["small"] < flat["small"] + 1

    # determinism: same seed = same rows
    a = {r["id"] for r in temperature_resample(df, "g", "id", 100).collect()}
    b = {r["id"] for r in temperature_resample(df, "g", "id", 100).collect()}
    assert a == b


def test_token_budget_sample_fills_to_budget(spark):
    """Each group keeps docs in md5 order until the budget is consumed;
    overshoot is at most one doc; NULL token counts are excluded."""
    import pyspark.sql.functions as F

    from pybabe_spark.operators.sampling import token_budget_sample

    rows = [(i, "a" if i % 2 == 0 else "b",
             None if i == 7 else 10 + (i % 5)) for i in range(200)]
    df = spark.createDataFrame(rows, "id bigint, g string, toks int")
    budget = 300
    out = token_budget_sample(df, "g", "id", "toks", budget)
    per = {
        r["g"]: (r["n"], r["tot"])
        for r in out.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("toks").alias("tot"))
        .collect()
    }
    for g, (n, tot) in per.items():
        # filled: reached the budget...
        assert tot >= budget
        # ...with at most one overshooting doc (max token count is 14)
        assert tot < budget + 14 + 1
    assert 7 not in {r["id"] for r in out.collect()}
    # determinism
    a = {r["id"] for r in token_budget_sample(df, "g", "id", "toks", budget).collect()}
    assert a == {r["id"] for r in out.collect()}
    # a different seed is a different permutation (almost surely)
    c = {r["id"] for r in
         token_budget_sample(df, "g", "id", "toks", budget, seed=1).collect()}
    assert c != a
    # python-model cross-check of the greedy fill
    import hashlib

    want = set()
    for g in ("a", "b"):
        docs = sorted(
            ((hashlib.md5(f"0:{i}".encode()).hexdigest(), i, t)
             for i, gg, t in rows if gg == g and t is not None),
        )
        cum = 0
        for _, i, t in docs:
            if cum < budget:
                want.add(i)
            cum += t
    assert a == want


def test_token_budget_sample_validation(spark):
    import pytest

    from pybabe_spark.operators.sampling import token_budget_sample

    df = spark.createDataFrame([(1, "a", 5)], "id bigint, g string, toks int")
    with pytest.raises(ValueError, match="budget"):
        token_budget_sample(df, "g", "id", "toks", 0)


def test_temperature_resample_fraction_path(spark):
    """exact=False is a map-side filter: no window in the plan, group
    sizes binomially near the allocation, subset determinism holds."""
    import pyspark.sql.functions as F

    from pybabe_spark.operators.sampling import temperature_resample

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "id bigint, g string")
    out = temperature_resample(df, "g", "id", budget=1000, alpha=1.0,
                               exact=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    got = {r["g"]: r["n"] for r in
           out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    # ~500 per group, binomial noise
    assert 400 < got["a"] < 600 and 400 < got["b"] < 600


def test_temperature_resample_min_rows_and_validation(spark):
    import pytest

    from pybabe_spark.operators.sampling import temperature_resample

    rows = [(i, "big") for i in range(995)] + [(1000 + i, "tiny") for i in range(5)]
    df = spark.createDataFrame(rows, "id bigint, g string")
    # natural floor alloc would give tiny floor(10*5/1000)=0 -> lifted to 1
    out = temperature_resample(df, "g", "id", budget=10, alpha=1.0)
    tiny = [r for r in out.collect() if r["g"] == "tiny"]
    assert len(tiny) == 1
    with pytest.raises(ValueError, match="budget"):
        temperature_resample(df, "g", "id", budget=0)
    with pytest.raises(ValueError, match="alpha"):
        temperature_resample(df, "g", "id", budget=10, alpha=-1)


def test_pagerank_hand_checked(spark):
    """Regular symmetric graphs are a fixed point at 1.0 (1e6 micro);
    a star with a dangling center matches the hand-computed integer
    iteration; validation raises."""
    import pytest

    from pybabe_spark.operators.graph import pagerank

    # 2-cycle: every node deg 1, rank stays exactly 1e6
    cyc = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    got = {r["node"]: r["rank_micro"] for r in pagerank(cyc, iters=3).collect()}
    assert got == {"a": 1_000_000, "b": 1_000_000}

    # leaves -> center, center dangling: hand-unrolled two iterations
    star = spark.createDataFrame(
        [("l1", "c"), ("l2", "c"), ("l3", "c")], "src string, dst string"
    )
    r2 = {r["node"]: r["rank_micro"] for r in pagerank(star, iters=2).collect()}
    assert r2["l1"] == r2["l2"] == r2["l3"] == 150_000
    assert r2["c"] == 150_000 + (2 * 17 * 450_000 + 20) // 40  # = 532500

    with pytest.raises(ValueError, match="iters"):
        pagerank(cyc, iters=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(cyc, damping=1.5)


def test_pagerank_checkpoint_path_same_result(spark):
    """checkpoint_interval cuts lineage without changing the integer
    iteration's result."""
    from pybabe_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")],
        "src string, dst string",
    )
    lazy = {r["node"]: r["rank_micro"] for r in pagerank(edges, iters=4).collect()}
    ckpt = {r["node"]: r["rank_micro"]
            for r in pagerank(edges, iters=4, checkpoint_interval=2).collect()}
    assert lazy == ckpt


def test_bm25_stored_matches_inmemory_and_prunes(spark, tmp_path):
    """The stored-index probe reproduces the in-memory BM25 scores
    bit-for-bit, and its scan carries a partition filter on the md5
    bucket (pruned at file listing, no join in the probe plan)."""
    from pybabe_spark.operators.tfidf import (
        bm25_search,
        bm25_search_stored,
        build_bm25_index,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 3} spark common") for i in range(50)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "bm25idx")
    build_bm25_index(docs, path)
    mem = [(r["id"], r["score"])
           for r in bm25_search(docs, ["spark", "w1"], k=9).collect()]
    sto = [(r["id"], r["score"])
           for r in bm25_search_stored(spark, path, ["spark", "w1"], k=9).collect()]
    assert mem == sto
    probe = bm25_search_stored(spark, path, ["spark", "w1"], k=9)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan
    # probe joins are broadcast-only (the 1-row stats attach + the
    # query-terms-sized df rejoin): no shuffle join may appear
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


@pytest.mark.deep
def test_bm25_append_matches_rebuild(spark, tmp_path):
    """build(half1) + append(half2) probes bit-identically to a fresh
    build over the union — df and totals stay exact across appends."""
    from pybabe_spark.operators.tfidf import (
        append_bm25_index,
        bm25_search_stored,
        build_bm25_index,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 3} spark common") for i in range(60)],
        "doc_id bigint, text string",
    )
    h1 = docs.filter("doc_id < 30")
    h2 = docs.filter("doc_id >= 30")

    inc = str(tmp_path / "inc")
    build_bm25_index(h1, inc)
    append_bm25_index(h2, inc)
    full = str(tmp_path / "full")
    build_bm25_index(docs, full)

    q = ["spark", "w2"]
    got = [(r["id"], r["score"])
           for r in bm25_search_stored(spark, inc, q, k=50).collect()]
    want = [(r["id"], r["score"])
            for r in bm25_search_stored(spark, full, q, k=50).collect()]
    assert got == want and len(got) > 0


@pytest.mark.deep
def test_bm25_empty_corpus_build_then_append(spark, tmp_path):
    """An index built from ZERO documents must still append cleanly:
    SUM over no rows is NULL and the JSON writer drops null fields, so
    without the build-time coalesce the first append_bm25_index read
    of total_len fails (ADVICE r6)."""
    from pybabe_spark.operators.tfidf import (
        append_bm25_index,
        bm25_search_stored,
        build_bm25_index,
    )

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    docs = spark.createDataFrame(
        [(i, f"w{i % 5} spark") for i in range(20)],
        "doc_id bigint, text string",
    )
    inc = str(tmp_path / "inc")
    build_bm25_index(empty, inc)
    append_bm25_index(docs, inc)
    full = str(tmp_path / "full")
    build_bm25_index(docs, full)
    q = ["spark", "w2"]
    got = [(r["id"], r["score"])
           for r in bm25_search_stored(spark, inc, q, k=30).collect()]
    want = [(r["id"], r["score"])
            for r in bm25_search_stored(spark, full, q, k=30).collect()]
    assert got == want and len(got) > 0


@pytest.mark.deep
def test_kmeans_separates_obvious_clusters(spark):
    """Two well-separated blobs: Lloyd lands one centroid per blob,
    assignment matches blob membership, inertia is non-increasing
    across iterations."""
    import numpy as np

    from pybabe_spark.operators.kmeans import (
        kmeans_assign,
        kmeans_distances,
        kmeans_fit,
    )
    import pyspark.sql.functions as F

    rows = []
    for i in range(40):
        base = [0.0, 0.0] if i % 2 == 0 else [10.0, 10.0]
        rows.append((i, [base[0] + (i % 5) * 0.1, base[1] + (i % 7) * 0.1]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    def inertia(C):
        d = kmeans_distances(df, C)
        return d.agg(F.sum(F.array_min("__dists"))).head()[0]

    prev = None
    for it in range(4):
        C = kmeans_fit(df, k=2, iters=it)
        cur = inertia(C)
        if prev is not None:
            assert cur <= prev + 1e-9
        prev = cur

    C = kmeans_fit(df, k=2, iters=4)
    got = {r["vec_id"]: r["cell"] for r in kmeans_assign(df, C).collect()}
    blob0 = {got[i] for i in range(0, 40, 2)}
    blob1 = {got[i] for i in range(1, 40, 2)}
    assert len(blob0) == 1 and len(blob1) == 1 and blob0 != blob1
    # centroids are the blob means (exact sums / counts)
    near = sorted(np.asarray(C)[:, 0].round(1).tolist())
    assert near[0] < 1.0 and near[1] > 9.0


def test_kmeans_empty_cell_and_validation(spark):
    """A seed centroid that attracts no rows keeps its previous value;
    bad args raise."""
    import pytest

    from pybabe_spark.operators.kmeans import kmeans_assign, kmeans_fit

    # 3 seeds but only two point groups: seed 1 (dup of point A) loses
    # everything to seed 0 on the first assignment (lowest-cell tie)
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [5.0, 5.0]), (3, [5.0, 5.0])],
        "vec_id bigint, embedding array<double>",
    )
    C = kmeans_fit(df, k=3, iters=2)
    assert [round(x, 6) for x in C[1]] == [0.0, 0.0]  # kept, not NaN
    cells = {r["cell"] for r in kmeans_assign(df, C).collect()}
    assert cells == {0, 2}

    with pytest.raises(ValueError, match="k 0"):
        kmeans_fit(df, k=0)
    with pytest.raises(ValueError, match="rows < k"):
        kmeans_fit(df, k=10)
    with pytest.raises(ValueError, match="centroids"):
        kmeans_assign(df, [])


def test_kmeans_assignment_tie_breaks_low_cell(spark):
    from pybabe_spark.operators.kmeans import kmeans_assign

    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    # equidistant centroids -> lowest index wins
    got = kmeans_assign(df, [[0.0, 0.0], [2.0, 0.0]]).head()["cell"]
    assert got == 0


def test_pmi_collocations_hand_checked(spark):
    """A corpus with one glued phrase: the pair that always co-occurs
    tops the ranking; min_count prunes hapax pairs; validation raises."""
    import math

    import pytest

    from pybabe_spark.operators.collocations import pmi_collocations

    rows = [(i, "new york " + ("a b " * 3).strip()) for i in range(4)]
    rows.append((99, "rare pair"))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = pmi_collocations(df, k=5, min_count=2).collect()
    pairs = [(r["w1"], r["w2"]) for r in out]
    assert ("rare", "pair") not in pairs          # hapax pruned
    assert ("new", "york") in pairs
    top = out[0]
    # 'new york': c12=4, c1(new)=4, c2(york)=4; totals INCLUDE the
    # pruned doc 99 (nu=34 tokens, nb=29 bigram occurrences)
    exp = math.log((4 / 29) / ((4 / 34) * (4 / 34)))
    got = {(r["w1"], r["w2"]): r["pmi"] for r in out}
    assert abs(got[("new", "york")] - round(exp, 6)) < 1e-6
    assert top["pmi"] == max(r["pmi"] for r in out)

    with pytest.raises(ValueError, match="min_count"):
        pmi_collocations(df, min_count=0)


def test_histogram_edges_counts_and_nulls(spark):
    """Hand-checked 4-bin histogram: closed top edge (max lands in the
    last bin), empty bins emitted with n=0, NULLs dropped, degenerate
    single-value column collapses to bin 0."""
    import pytest

    from pybabe_spark.operators.sketch import histogram

    df = spark.createDataFrame(
        [(0.0,), (1.0,), (3.9,), (4.0,), (None,)], "x double"
    )
    out = {r["bin"]: (r["lo"], r["hi"], r["n"]) for r in
           histogram(df, "x", bins=4).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert out[0][2] == 1          # 0.0 -> [0, 1)
    assert out[1][2] == 1          # 1.0 -> [1, 2)
    assert out[2][2] == 0          # empty bin kept
    assert out[3][2] == 2          # 3.9 and the max 4.0 (clamped)
    assert out[0][0] == 0.0 and out[3][1] == 4.0

    one = spark.createDataFrame([(5.0,), (5.0,)], "x double")
    got = {r["bin"]: r["n"] for r in histogram(one, "x", bins=3).collect()}
    assert got == {0: 2, 1: 0, 2: 0}

    with pytest.raises(ValueError, match="bins"):
        histogram(df, "x", bins=0)


def test_funnel_first_touch_and_window(spark):
    """Hand-checked funnel: strictly-after ordering, first-touch
    anchoring (a later A does not re-open the window), conversion
    window exclusion, NULL conversion on an empty step 0."""
    import datetime as dt

    import pytest

    from pybabe_spark.operators.group import funnel

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # u1 converts: A@0 -> B@5 -> C@10
        (1, "A", t(0)), (1, "B", t(5)), (1, "C", t(10)),
        # u2: B before A only -> no conversion
        (2, "B", t(0)), (2, "A", t(5)),
        # u3: first A@0, B only at minute 50 -> outside 30-min window,
        # even though a second A@40 is nearer (first-touch)
        (3, "A", t(0)), (3, "A", t(40)), (3, "B", t(50)),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, event_type string, ts timestamp")
    out = {r["step"]: (r["users"], r["conversion"])
           for r in funnel(df, ["A", "B", "C"], within=1800).collect()}
    assert out[0] == (3, 1.0)
    assert out[1] == (1, 1 / 3)
    assert out[2] == (1, 1 / 3)

    # no window: u3's B@50 now counts
    loose = {r["step"]: r["users"]
             for r in funnel(df, ["A", "B"]).collect()}
    assert loose == {0: 3, 1: 2}

    empty = {r["step"]: r["conversion"]
             for r in funnel(df, ["Z", "A"]).collect()}
    assert empty[0] is None and empty[1] is None

    with pytest.raises(ValueError, match="steps"):
        funnel(df, [])


def test_triangle_count_hand_checked(spark):
    """K4 has 4 triangles; adding a pendant edge changes nothing; a
    square (C4) has none; duplicate/reversed/self-loop edges are
    canonicalized away."""
    from pybabe_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(3, 9), (9, 3), (2, 2), (10, 11), (11, 12), (12, 13), (13, 10)]
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    row = triangle_count(df).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (9, 11, 4)


def test_triangle_count_hub_star(spark):
    """A star (hub + leaves) has zero triangles and must not explode
    wedge generation at the hub — degree orientation points every edge
    AT the hub, so the hub generates no wedges."""
    from pybabe_spark.operators.graph import triangle_count

    star = [(0, i) for i in range(1, 200)]
    df = spark.createDataFrame(star, "id_a int, id_b int")
    row = triangle_count(df).collect()[0]
    assert row["n_triangles"] == 0 and row["n_edges"] == 199


def test_pareto_report_hand_checked(spark):
    from pybabe_spark.operators.skew import pareto_report

    rows = [("a", 50.0), ("b", 30.0), ("c", 15.0), ("d", 5.0)]
    df = spark.createDataFrame(rows * 2, "k string, v double")  # sums double
    out = {r["k"]: (r["value_sum"], r["share_ppm"], r["cum_share_ppm"])
           for r in pareto_report(df, "k", "v", 3).collect()}
    assert out == {
        "a": (100.0, 500000, 500000),
        "b": (60.0, 300000, 800000),
        "c": (30.0, 150000, 950000),
    }


def test_bfs_distances_hand_checked(spark):
    """Path 0-1-2-3-4 with a branch 2-9: distances from {0}; cap at 2
    hops; early stop on disconnected part."""
    from pybabe_spark.operators.graph import bfs_distances

    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (2, 9), (100, 101)]
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    seeds = spark.createDataFrame([(0,)], "s int")
    got = {
        r["id_a"]: r["distance"]
        for r in bfs_distances(df, seeds, max_hops=2).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2}
    full = {
        r["id_a"]: r["distance"]
        for r in bfs_distances(df, seeds, max_hops=10).collect()
    }
    assert full == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 9: 3}


def test_bfs_multiple_sources_min_distance(spark):
    from pybabe_spark.operators.graph import bfs_distances

    edges = [(0, 1), (1, 2), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    seeds = spark.createDataFrame([(0,), (4,)], "s int")
    got = {
        r["id_a"]: r["distance"]
        for r in bfs_distances(df, seeds, max_hops=5).collect()
    }
    assert got == {0: 0, 4: 0, 1: 1, 3: 1, 2: 2}


def test_bfs_zero_hops_returns_only_the_sources(spark):
    from pybabe_spark.operators.graph import bfs_distances

    df = spark.createDataFrame([(0, 1), (1, 2)], "id_a int, id_b int")
    seeds = spark.createDataFrame([(0,), (2,)], "s int")
    got = {
        r["id_a"]: r["distance"]
        for r in bfs_distances(df, seeds, max_hops=0).collect()
    }
    assert got == {0: 0, 2: 0}
    with pytest.raises(ValueError, match="bfs_distances"):
        bfs_distances(df, seeds, max_hops=-1)


def test_bfs_output_is_id_and_int_distance(spark):
    """BFS is label propagation with one label; the label column does
    not leak into its output."""
    from pyspark.sql.types import IntegerType

    from pybabe_spark.operators.graph import bfs_distances

    df = spark.createDataFrame([(0, 1)], "id_a int, id_b int")
    seeds = spark.createDataFrame([(0,)], "s int")
    out = bfs_distances(df, seeds, max_hops=2, id_col="node")
    assert out.columns == ["node", "distance"]
    assert isinstance(out.schema["distance"].dataType, IntegerType)


def test_bfs_ignores_null_endpoints_and_duplicate_sources(spark):
    from pybabe_spark.operators.graph import bfs_distances

    df = spark.createDataFrame(
        [(0, 1), (1, None), (None, 2), (1, 3), (3, 3)], "id_a int, id_b int"
    )
    seeds = spark.createDataFrame([(0,), (0,)], "s int")
    rows = bfs_distances(df, seeds, max_hops=4).collect()
    assert sorted((r["id_a"], r["distance"]) for r in rows) == [
        (0, 0), (1, 1), (3, 2),
    ]


def test_fixpoint_stops_when_the_fingerprint_repeats(spark):
    """The driver observes the initial state too: a step that changes
    nothing stops after one round; a state that never settles runs
    out of rounds unconverged."""
    from pyspark.sql import functions as F

    from pybabe_spark.operators.graph import _fixpoint

    calls = []

    def same(df, i):
        calls.append(i)
        return df

    fp = [F.count(F.lit(1)).alias("n")]
    state, converged = _fixpoint(spark.range(3), same, fp, 5)
    assert converged and calls == [0] and state.count() == 3

    def grow(df, i):
        return df.unionByName(spark.range(i + 10, i + 11))

    state, converged = _fixpoint(spark.range(1), grow, fp, 2)
    assert not converged and state.count() == 3


def test_frequent_pairs_hand_checked(spark):
    from pybabe_spark.operators.collocations import frequent_pairs

    rows = [
        (1, "milk"), (1, "bread"), (1, "eggs"),
        (2, "milk"), (2, "bread"),
        (3, "milk"), (3, "beer"),
        (4, "bread"),
        (4, "bread"),  # duplicate line in one basket counts once
    ]
    df = spark.createDataFrame(rows, "b int, i string")
    got = {
        (r["item_a"], r["item_b"]): (r["n_pairs"], r["lift_ppm"])
        for r in frequent_pairs(df, "b", "i", 2).collect()
    }
    # bread+milk co-occur twice; lift = (2*4)/(3*3) = 0.888888
    assert got == {("bread", "milk"): (2, 888888)}


# -- propagate_labels (operators/graph.py) -----------------------------------


def test_propagate_labels_nearest_seed_and_ties(spark):
    from pybabe_spark.operators.graph import propagate_labels

    # chain: 1-2-3-4-5 with seeds at 1 (label 10) and 5 (label 20);
    # node 3 is equidistant → smaller label wins
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7)], "id_a int, id_b int"
    )
    seeds = spark.createDataFrame([(1, 10), (5, 20)], "s int, label int")
    got = {
        r["id_a"]: (r["label"], r["distance"])
        for r in propagate_labels(edges, seeds, max_hops=4).collect()
    }
    assert got == {
        1: (10, 0), 2: (10, 1), 3: (10, 2), 4: (20, 1), 5: (20, 0)
    }
    # 6,7 unreachable from any seed — absent
    assert 6 not in got and 7 not in got


def test_propagate_labels_hop_cap_and_dup_seeds(spark):
    from pybabe_spark.operators.graph import propagate_labels

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a int, id_b int"
    )
    seeds = spark.createDataFrame(
        [(1, 9), (1, 4)], "s int, label int"  # dup seed id → min label
    )
    got = {
        r["id_a"]: (r["label"], r["distance"])
        for r in propagate_labels(edges, seeds, max_hops=2).collect()
    }
    assert got == {1: (4, 0), 2: (4, 1), 3: (4, 2)}  # 4 is past the cap


def test_clustering_coefficient_known_graphs(spark):
    from pybabe_spark.operators.graph import clustering_coefficient

    # K4: every node degree 3, in 3 triangles → lcc = 2·3/(3·2) = 1
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["lcc_ppm"])
        for r in clustering_coefficient(
            spark.createDataFrame(k4, "id_a int, id_b int")
        ).collect()
    }
    assert all(v == (3, 3, 1_000_000) for v in got.values())

    # star K1,3: center degree 3, zero triangles → 0; leaves deg 1 →
    # NULL
    star = [(0, 1), (0, 2), (0, 3)]
    got = {
        r["node"]: (r["degree"], r["lcc_ppm"])
        for r in clustering_coefficient(
            spark.createDataFrame(star, "id_a int, id_b int")
        ).collect()
    }
    assert got[0] == (3, 0)
    assert got[1] == (1, None)

    # triangle + pendant: node 0 in {0,1,2} triangle plus edge to 3:
    # deg(0)=3, T=1 → 2/6 = 333333 ppm (trunc)
    g = [(0, 1), (1, 2), (0, 2), (0, 3)]
    got = {
        r["node"]: r["lcc_ppm"]
        for r in clustering_coefficient(
            spark.createDataFrame(g, "id_a int, id_b int")
        ).collect()
    }
    assert got[0] == 333_333
    assert got[1] == 1_000_000 and got[2] == 1_000_000


def test_triangle_count_still_matches_after_refactor(spark):
    from pybabe_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    r = triangle_count(
        spark.createDataFrame(k4, "id_a int, id_b int")
    ).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)


def test_source_overlap_hand_checked(spark):
    from pybabe_spark.operators.dedup_scale import source_overlap

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "s1"),       # shingles: abc, bcd
            (2, "a b c e", "s1"),       # abc, bce  → s1 = {abc,bcd,bce}
            (3, "a b c d", "s2"),       # s2 = {abc, bcd}
            (4, "x y z w", "s3"),       # s3 = {xyz, yzw} (disjoint)
        ],
        "doc_id int, text string, source string",
    )
    got = {
        (r["source_a"], r["source_b"]): r
        for r in source_overlap(docs, "source").collect()
    }
    r = got[("s1", "s2")]
    # |s1|=3, |s2|=2, common=2 → jaccard 2/3, cont_a 2/3, cont_b 1
    assert (r["n_a"], r["n_b"], r["n_common"]) == (3, 2, 2)
    assert r["jaccard_ppm"] == 666_666
    assert r["containment_a_ppm"] == 666_666
    assert r["containment_b_ppm"] == 1_000_000
    # disjoint pairs are absent (no common shingles)
    assert ("s1", "s3") not in got and ("s2", "s3") not in got


def test_overlap_join_brute_force_randomized(spark):
    import datetime as dt
    import random

    from pybabe_spark.operators.join import overlap_join

    rng = random.Random(23)
    base = dt.datetime(2024, 1, 1)

    def mk(prefix, n):
        rows = []
        for i in range(n):
            s = rng.randint(0, 50_000)
            d = rng.randint(0, 12_000)  # up to ~3.3 h, crossing cells
            rows.append(
                (i, base + dt.timedelta(seconds=s),
                 base + dt.timedelta(seconds=s + d))
            )
        return rows

    lrows, rrows = mk("a", 60), mk("b", 60)
    left = spark.createDataFrame(
        lrows, "aid int, astart timestamp, aend timestamp"
    )
    right = spark.createDataFrame(
        rrows, "bid int, bstart timestamp, bend timestamp"
    )
    got = {
        (r["aid"], r["bid"], r["overlap_us"])
        for r in overlap_join(
            left, right, ("astart", "aend"), ("bstart", "bend"),
            bucket="30 minutes",
        ).collect()
    }
    want = set()
    for aid, a_s, a_e in lrows:
        for bid, b_s, b_e in rrows:
            if a_s >= a_e or b_s >= b_e:
                continue  # empty intervals excluded
            if a_s < b_e and b_s < a_e:
                ov = (min(a_e, b_e) - max(a_s, b_s)).total_seconds()
                want.add((aid, bid, int(ov * 1_000_000)))
    assert got == want and len(want) > 50


def test_overlap_join_keyed_equi_path(spark):
    import datetime as dt

    from pybabe_spark.operators.join import overlap_join

    base = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    left = spark.createDataFrame(
        [("u1", 1, base, base + 2 * h),
         ("u2", 2, base, base + 2 * h)],
        "uid string, aid int, astart timestamp, aend timestamp",
    )
    right = spark.createDataFrame(
        [("u1", 10, base + h, base + 3 * h),   # overlaps u1's interval
         ("u2", 20, base + 5 * h, base + 6 * h),  # same key, no overlap
         ("u3", 30, base + h, base + 3 * h)],  # overlapping time, other key
        "uid string, bid int, bstart timestamp, bend timestamp",
    )
    # shared 'uid' is the key: must NOT trip the column-overlap check,
    # must restrict pairs to equal keys, and must emit uid once
    out = overlap_join(
        left, right, ("astart", "aend"), ("bstart", "bend"), key="uid"
    )
    assert out.columns.count("uid") == 1
    rows = out.collect()
    assert [(r["uid"], r["aid"], r["bid"], r["overlap_us"])
            for r in rows] == [("u1", 1, 10, 3600 * 1_000_000)]
    # a (left_key, right_key) pair keeps both columns
    right2 = right.withColumnRenamed("uid", "ruid")
    out2 = overlap_join(
        left, right2, ("astart", "aend"), ("bstart", "bend"),
        key=("uid", "ruid"),
    )
    assert {"uid", "ruid"} <= set(out2.columns)
    assert [(r["uid"], r["bid"]) for r in out2.collect()] == [("u1", 10)]
    # non-key shared columns still raise
    with pytest.raises(ValueError, match="overlapping column names"):
        overlap_join(
            left.withColumn("dup", F.lit(1)),
            right.withColumn("dup", F.lit(1)),
            ("astart", "aend"), ("bstart", "bend"), key="uid",
        )


def test_overlap_join_emits_each_pair_once_across_cells(spark):
    import datetime as dt

    from pybabe_spark.operators.join import overlap_join

    base = dt.datetime(2024, 1, 1)
    # two long intervals sharing MANY hourly cells — still one row
    left = spark.createDataFrame(
        [(1, base, base + dt.timedelta(hours=10))],
        "aid int, astart timestamp, aend timestamp",
    )
    right = spark.createDataFrame(
        [(2, base + dt.timedelta(hours=1),
          base + dt.timedelta(hours=20))],
        "bid int, bstart timestamp, bend timestamp",
    )
    out = overlap_join(
        left, right, ("astart", "aend"), ("bstart", "bend")
    ).collect()
    assert len(out) == 1
    assert out[0]["overlap_us"] == 9 * 3600 * 1_000_000


# -- association_rules (operators/collocations.py) -----------------------------


def test_association_rules_hand_checked(spark):
    from pybabe_spark.operators.collocations import association_rules

    rows = [
        (1, "milk"), (1, "bread"), (1, "eggs"),
        (2, "milk"), (2, "bread"),
        (3, "milk"), (3, "beer"),
        (4, "bread"),
    ]
    df = spark.createDataFrame(rows, "b int, i string")
    got = {
        (r["antecedent"], r["consequent"]): (
            r["n_pairs"], r["support_ppm"], r["confidence_ppm"],
            r["lift_ppm"],
        )
        for r in association_rules(df, "b", "i", 2).collect()
    }
    # bread+milk co-occur in 2 of 4 baskets; bread in 3, milk in 3
    assert got == {
        ("bread", "milk"): (2, 500000, 666666, 888888),
        ("milk", "bread"): (2, 500000, 666666, 888888),
    }


def test_association_rules_confidence_floor_is_directional(spark):
    from pybabe_spark.operators.collocations import association_rules

    # x in 4 baskets, y in 2, together twice: conf(y→x)=100%, conf(x→y)=50%
    rows = [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (4, "x")]
    df = spark.createDataFrame(rows, "b int, i string")
    got = {
        (r["antecedent"], r["consequent"]): r["confidence_ppm"]
        for r in association_rules(
            df, "b", "i", 2, min_confidence_ppm=600_000
        ).collect()
    }
    assert got == {("y", "x"): 1_000_000}


# -- sssp (operators/graph.py) --------------------------------------------------


def _sssp_edges(spark, rows):
    return spark.createDataFrame(rows, "src int, dst int, w double")


def _src(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "s int")


def test_sssp_cheap_detour_beats_direct_edge(spark):
    from pybabe_spark.operators.graph import sssp

    # 1->3 direct costs 10.00; 1->2->3 costs 1.00+2.00
    edges = _sssp_edges(
        spark, [(1, 3, 10.0), (1, 2, 1.0), (2, 3, 2.0)]
    )
    got = {
        r["id"]: r["dist_cents"]
        for r in sssp(edges, _src(spark, [1]), max_hops=4).collect()
    }
    assert got == {1: 0, 2: 100, 3: 300}


def test_sssp_hop_bound_truncates(spark):
    from pybabe_spark.operators.graph import sssp

    # chain 1->2->3->4, but only 2 hops allowed
    edges = _sssp_edges(
        spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (1, 4, 9.0)]
    )
    got = {
        r["id"]: r["dist_cents"]
        for r in sssp(edges, _src(spark, [1]), max_hops=2).collect()
    }
    # 4 reachable only via the expensive direct edge within 2 hops
    assert got == {1: 0, 2: 100, 3: 200, 4: 900}


def test_sssp_multi_source_and_directedness(spark):
    from pybabe_spark.operators.graph import sssp

    edges = _sssp_edges(spark, [(1, 2, 5.0), (3, 2, 1.0)])
    got = {
        r["id"]: r["dist_cents"]
        for r in sssp(edges, _src(spark, [1, 3]), max_hops=3).collect()
    }
    assert got == {1: 0, 3: 0, 2: 100}  # min over sources; no back-edge


def test_sssp_early_stop_matches_full_unroll(spark):
    from pybabe_spark.operators.graph import sssp

    # diameter 2 but max_hops 6: converges early, same fixpoint
    edges = _sssp_edges(spark, [(1, 2, 1.0), (2, 3, 1.0)])
    got6 = {
        r["id"]: r["dist_cents"]
        for r in sssp(edges, _src(spark, [1]), max_hops=6).collect()
    }
    got2 = {
        r["id"]: r["dist_cents"]
        for r in sssp(edges, _src(spark, [1]), max_hops=2).collect()
    }
    assert got6 == got2 == {1: 0, 2: 100, 3: 200}


def test_sssp_source_without_out_edges(spark):
    from pybabe_spark.operators.graph import sssp

    # 3 only receives edges: the first round changes nothing
    edges = _sssp_edges(spark, [(1, 3, 1.0), (2, 3, 1.0)])
    got = {
        r["id"]: r["dist_cents"]
        for r in sssp(edges, _src(spark, [3]), max_hops=4).collect()
    }
    assert got == {3: 0}


# -- target_encode (operators/sampling.py) --------------------------------------


def test_target_encode_hand_checked_no_loo(spark):
    from pybabe_spark.operators.sampling import target_encode

    rows = [("a", 10.0), ("a", 20.0), ("b", 40.0)]
    df = spark.createDataFrame(rows, "cat string, v double")
    got = {
        (r["cat"], r["v"]): r["cat_te_micro"]
        for r in target_encode(df, "cat", "v", smoothing=1,
                               loo=False).collect()
    }
    # global mean 70/3; te(a) = (30 + 70/3)/3 = (90+70)/9 units=160/9*... 
    # exact: ((sc*N + m*S)*1e6) // (N*(nc+m)*100): a: (3000*3+7000)*1e6
    # // (3*3*100) = 16000e6 // 900
    te_a = (16000 * 1_000_000) // 900
    te_b = ((4000 * 3 + 7000) * 1_000_000) // (3 * 2 * 100)
    assert got[("a", 10.0)] == te_a and got[("a", 20.0)] == te_a
    assert got[("b", 40.0)] == te_b


def test_target_encode_loo_excludes_own_row(spark):
    from pybabe_spark.operators.sampling import target_encode

    rows = [("a", 10.0), ("a", 20.0), ("b", 40.0)]
    df = spark.createDataFrame(rows, "cat string, v double")
    got = {
        (r["cat"], r["v"]): r["cat_te_micro"]
        for r in target_encode(df, "cat", "v", smoothing=1,
                               loo=True).collect()
    }
    # row (a,10): ((3000-1000)*3 + 7000)*1e6 // (3*(2-1+1)*100)
    assert got[("a", 10.0)] == (13000 * 1_000_000) // 600
    assert got[("a", 20.0)] == ((1000 * 3 + 7000) * 1_000_000) // 600
    # singleton b with LOO: nc-1+m = 1 -> prior only: (0*3+7000)*1e6//300
    assert got[("b", 40.0)] == (7000 * 1_000_000) // 300


def test_target_encode_null_and_singleton_m0(spark):
    from pybabe_spark.operators.sampling import target_encode

    rows = [("a", 10.0), ("a", 30.0), ("b", 40.0), (None, 5.0),
            ("c", None)]
    df = spark.createDataFrame(rows, "cat string, v double")
    got = {
        (r["cat"], r["v"]): r["cat_te_micro"]
        for r in target_encode(df, "cat", "v", smoothing=0,
                               loo=True).collect()
    }
    assert got[(None, 5.0)] is None and got[("c", None)] is None
    assert got[("b", 40.0)] is None  # singleton, m=0 -> undefined
    assert got[("a", 10.0)] == 30 * 1_000_000  # the other row's value


def test_target_encode_negative_values_sign_split(spark):
    from pybabe_spark.operators.sampling import target_encode

    rows = [("a", -10.0), ("a", -20.0), ("b", -40.0)]
    df = spark.createDataFrame(rows, "cat string, v double")
    got = {
        (r["cat"], r["v"]): r["cat_te_micro"]
        for r in target_encode(df, "cat", "v", smoothing=1,
                               loo=False).collect()
    }
    assert got[("a", -10.0)] == -((16000 * 1_000_000) // 900)


# -- k_core (operators/graph.py) -------------------------------------------------


def _kc_edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a int, id_b int")


def test_k_core_k4_with_pendants(spark):
    from pybabe_spark.operators.graph import k_core

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    pendants = [(4, 5), (5, 6)]
    got = {
        r["id_a"]: r["degree"]
        for r in k_core(_kc_edges(spark, k4 + pendants), k=3).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_k_core_cascade_peeling(spark):
    from pybabe_spark.operators.graph import k_core

    # path 1-2-3-4-5: 2-core is empty, but only after cascading peels
    path = [(1, 2), (2, 3), (3, 4), (4, 5)]
    assert k_core(_kc_edges(spark, path), k=2, max_rounds=8).count() == 0
    # triangle + tail: 2-core = the triangle
    tri = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    got = {
        r["id_a"]: r["degree"]
        for r in k_core(_kc_edges(spark, tri), k=2, max_rounds=8).collect()
    }
    assert got == {1: 2, 2: 2, 3: 2}


def test_k_core_self_loops_and_dups_ignored(spark):
    from pybabe_spark.operators.graph import k_core

    edges = [(1, 1), (1, 2), (2, 1), (1, 2), (2, 3), (1, 3)]
    got = {
        r["id_a"]: r["degree"]
        for r in k_core(_kc_edges(spark, edges), k=2).collect()
    }
    assert got == {1: 2, 2: 2, 3: 2}


def test_k_core_validation(spark):
    import pytest

    from pybabe_spark.operators.graph import k_core

    e = _kc_edges(spark, [(1, 2)])
    with pytest.raises(ValueError):
        k_core(e, k=0)
    with pytest.raises(ValueError):
        k_core(e, k=2, max_rounds=0)


# -- llr_collocations (operators/collocations.py) --------------------------------


def test_llr_hand_checked_against_python_model(spark):
    import math

    from pybabe_spark.operators.collocations import llr_collocations

    docs = spark.createDataFrame(
        [
            (1, "new york is big and new york is old"),
            (2, "york new things come to new york"),
            (3, "big apples and big dreams in new york"),
        ],
        "doc_id int, text string",
    )
    got = {
        (r["w1"], r["w2"]): (r["c12"], r["llr"])
        for r in llr_collocations(docs, k=5, min_count=2).collect()
    }

    # python model over whitespace bigrams
    from collections import Counter

    bigs = Counter()
    for _, t in [(1, "new york is big and new york is old"),
                 (2, "york new things come to new york"),
                 (3, "big apples and big dreams in new york")]:
        ws = t.split(" ")
        for a, b in zip(ws, ws[1:]):
            bigs[(a, b)] += 1
    n = sum(bigs.values())
    firsts = Counter()
    seconds = Counter()
    for (a, b), c in bigs.items():
        firsts[a] += c
        seconds[b] += c

    def H(x):
        return x * math.log(x) if x > 0 else 0.0

    for (a, b), (c12, llr) in got.items():
        c1, c2 = firsts[a], seconds[b]
        want = 2.0 * (
            H(c12) + H(c1 - c12) + H(c2 - c12) + H(n - c1 - c2 + c12)
            - H(c1) - H(n - c1) - H(c2) - H(n - c2) + H(n)
        )
        assert bigs[(a, b)] == c12
        assert abs(llr - want) < 1e-5, (a, b, llr, want)
    assert ("new", "york") in got and got[("new", "york")][0] == 4


def test_llr_zero_for_independent_saturated_pair(spark):
    from pybabe_spark.operators.collocations import llr_collocations

    # corpus of one repeated bigram: c1=c2=c12=N -> every H term
    # cancels -> llr 0
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a b")], "doc_id int, text string"
    )
    rows = llr_collocations(docs, k=5, min_count=2).collect()
    assert len(rows) == 1 and rows[0]["llr"] == 0.0


def test_association_rules_randomized_model(spark):
    import random
    from collections import Counter, defaultdict

    from pybabe_spark.operators.collocations import association_rules

    rng = random.Random(55)
    rows = set()
    for b in range(40):
        for _ in range(rng.randrange(1, 6)):
            rows.add((b, rng.choice("abcdef")))
    df = spark.createDataFrame(sorted(rows), "b int, i string")
    got = {
        (r["antecedent"], r["consequent"]): (
            r["n_pairs"], r["support_ppm"], r["confidence_ppm"],
            r["lift_ppm"],
        )
        for r in association_rules(df, "b", "i", 2).collect()
    }
    baskets = defaultdict(set)
    for b, i in rows:
        baskets[b].add(i)
    nb = len(baskets)
    item_n = Counter(i for items in baskets.values() for i in items)
    pair_n = Counter()
    for items in baskets.values():
        s = sorted(items)
        for x in range(len(s)):
            for y in range(x + 1, len(s)):
                pair_n[(s[x], s[y])] += 1
    want = {}
    for (a, c), n in pair_n.items():
        if n < 2:
            continue
        for ant, con in ((a, c), (c, a)):
            want[(ant, con)] = (
                n,
                (n * 1_000_000) // nb,
                (n * 1_000_000) // item_n[ant],
                (n * nb * 1_000_000) // (item_n[ant] * item_n[con]),
            )
    assert got == want


def test_target_encode_survives_dunder_column_collision(spark):
    from pybabe_spark.operators.sampling import target_encode

    rows = [("a", 10.0, 7), ("a", 20.0, 8), ("b", 40.0, 9)]
    df = spark.createDataFrame(rows, "cat string, v double, __n int")
    out = target_encode(df, "cat", "v", smoothing=1, loo=False)
    assert "__n" in out.columns  # user column passes through intact
    got = {r["__n"]: r["cat_te_micro"] for r in out.collect()}
    assert got[7] == (16000 * 1_000_000) // 900


# -- embedding_stats (operators/similarity.py) ------------------------------------


def test_embedding_stats_counts_and_median(spark):
    from pyspark.sql import types as T

    from pybabe_spark.operators.similarity import embedding_stats

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    rows = [
        (1, [1.0, 0.0]),            # norm2 = 1
        (2, [0.0, 2.0]),            # norm2 = 4
        (3, [3.0, 4.0]),            # norm2 = 25
        (4, None),                  # null
        (5, []),                    # empty
        (6, [float("nan"), 1.0]),   # non-finite
        (7, [0.0, 0.0]),            # zero vector
        (8, [1.0, 1.0, 1.0]),       # odd dim
    ]
    df = spark.createDataFrame(rows, schema)
    r = embedding_stats(df, "embedding").collect()[0]
    assert r.n == 8 and r.n_null == 1 and r.n_empty == 1
    assert r.n_nonfinite == 1 and r.n_zero == 1
    assert r.n_dims == 3 and r.modal_dim == 2
    # finite non-empty norms: {0, 1, 3, 4, 25} -> median 3 -> e8x2
    assert r.median_norm2_e8x2 == 3 * 200_000_000


def test_embedding_stats_even_count_midpoint_exact(spark):
    from pyspark.sql import types as T

    from pybabe_spark.operators.similarity import embedding_stats

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    rows = [(1, [1.0]), (2, [2.0])]  # norms 1, 4 -> median 2.5
    df = spark.createDataFrame(rows, schema)
    r = embedding_stats(df, "embedding").collect()[0]
    assert r.median_norm2_e8x2 == 500_000_000  # 2.5 * 2e8, exact


# -- group_heavy_hitters (operators/sketch.py) -----------------------------------


def _ghh_model(rows, support):
    """Exact per-group heavy hitters in plain Python (strict >)."""
    from collections import Counter, defaultdict

    per = defaultdict(Counter)
    for g, v in rows:
        if g is not None and v is not None:
            per[g][v] += 1
    out = set()
    for g, cnt in per.items():
        n = sum(cnt.values())
        for v, c in cnt.items():
            if c * 1_000_000 > int(round(support * 1_000_000)) * n:
                out.add((g, v, c, n))
    return out


def test_group_heavy_hitters_matches_exact_model(spark):
    import random

    from pybabe_spark.operators.sketch import group_heavy_hitters

    rng = random.Random(29)
    rows = []
    # group A: one dominant value + tail; group B: uniform; group C tiny
    rows += [("A", "hot")] * 60 + [
        ("A", f"t{rng.randrange(50)}") for _ in range(140)
    ]
    rows += [("B", f"u{rng.randrange(10)}") for _ in range(100)]
    rows += [("C", "x"), ("C", "x"), ("C", "y")]
    df = spark.createDataFrame(rows, "g string, v string").repartition(8)
    got = {
        (r["g"], r["v"], r["n"], r["group_n"])
        for r in group_heavy_hitters(df, "g", "v", support=0.1).collect()
    }
    assert got == _ghh_model(rows, 0.1)
    assert ("A", "hot", 60, 200) in got
    assert ("C", "x", 2, 3) in got  # 2/3 > 0.1 — small group, visible


def test_group_heavy_hitters_strict_threshold(spark):
    """A value at EXACTLY the support fraction is excluded (strict >,
    the freqItems 'more than' contract) — integer-ppm boundary."""
    from pybabe_spark.operators.sketch import group_heavy_hitters

    rows = [("g", "a")] * 25 + [("g", "b")] * 75
    df = spark.createDataFrame(rows, "g string, v string")
    got = {r["v"] for r in
           group_heavy_hitters(df, "g", "v", support=0.25).collect()}
    assert got == {"b"}  # a is exactly 25%, not > 25%


def test_group_heavy_hitters_candidates_no_false_negatives(spark):
    """The Misra-Gries candidate stage must contain every true heavy
    hitter regardless of how rows are spread across partitions."""
    import random

    from pybabe_spark.operators.sketch import (
        _group_hh_candidates,
        group_heavy_hitters,
    )

    rng = random.Random(31)
    rows = []
    for g in ("x", "y", "z"):
        rows += [(g, "dominant")] * 120
        rows += [(g, f"noise{rng.randrange(200)}") for _ in range(880)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "g string, v string").repartition(16)
    support = 0.05
    cand = {
        (r["__g"], r["__v"])
        for r in _group_hh_candidates(df, "g", "v", support).collect()
    }
    true_hh = {
        (g, v) for g, v, _, _ in _ghh_model(rows, support)
    }
    assert true_hh <= cand, true_hh - cand
    # and the confirmed output is EXACTLY the true set
    got = {
        (r["g"], r["v"])
        for r in group_heavy_hitters(df, "g", "v", support).collect()
    }
    assert got == true_hh


def test_group_heavy_hitters_nulls_and_empty(spark):
    from pybabe_spark.operators.sketch import group_heavy_hitters

    df = spark.createDataFrame(
        [("g", "a"), ("g", None), (None, "a"), ("g", "a")],
        "g string, v string",
    )
    rows = group_heavy_hitters(df, "g", "v", support=0.5).collect()
    assert [(r["g"], r["v"], r["n"], r["group_n"]) for r in rows] == [
        ("g", "a", 2, 2)
    ]
    empty = spark.createDataFrame([], "g string, v string")
    assert group_heavy_hitters(empty, "g", "v", 0.5).collect() == []
    with pytest.raises(ValueError, match="support"):
        group_heavy_hitters(df, "g", "v", support=0.0)


def test_group_heavy_hitters_facade(spark):
    from pybabe_spark.plans.facade import Babe

    df = spark.createDataFrame([("g", "a")] * 3, "g string, v string")
    out = Babe(df).group_heavy_hitters("g", "v", support=0.5)
    assert out.df.collect()[0]["n"] == 3


# -- simhash_neardup_pairs (operators/dedup_scale.py) ----------------------------


def test_simhash_neardup_matches_bruteforce(spark):
    """The band-pigeonhole plan must equal the brute-force all-pairs
    xor-popcount definition pair-for-pair (banding is exact: d
    differing bits cannot touch all d+1 bands)."""
    import itertools
    import random

    from pybabe_spark.operators.dedup_scale import (
        simhash,
        simhash_neardup_pairs,
    )

    rng = random.Random(71)
    vocab = [f"w{i}" for i in range(40)]
    rows = [
        (i, " ".join(rng.choices(vocab, k=12))) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(8)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_neardup_pairs(
            df, "doc_id", "text", bits=16, max_hamming=2
        ).collect()
    }
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash(df, "doc_id", "text", bits=16).collect()
    }
    expect = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin(sigs[a] ^ sigs[b]).count("1")
        if h <= 2:
            expect.add((a, b, h))
    assert got == expect and len(expect) > 0


def test_simhash_neardup_identical_docs_hamming_zero(spark):
    from pybabe_spark.operators.dedup_scale import simhash_neardup_pairs

    rows = [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
            (3, "totally different words here entirely")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_neardup_pairs(
            df, "doc_id", "text", bits=32, max_hamming=1
        ).collect()
    }
    assert got.get((1, 2)) == 0


def test_simhash_neardup_validation(spark):
    import pytest

    from pybabe_spark.operators.dedup_scale import simhash_neardup_pairs

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_neardup_pairs(df, "doc_id", "text", bits=16, max_hamming=0)
    with pytest.raises(ValueError, match="exceeds 63"):
        simhash_neardup_pairs(df, "doc_id", "text", bits=64)


def test_simhash_neardup_facade(spark):
    from pybabe_spark.plans.facade import Babe

    rows = [(1, "a b c"), (2, "a b c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = Babe(df).simhash_neardup("doc_id", "text", bits=16, max_hamming=1)
    assert out.df.collect()[0]["hamming"] == 0


def test_simhash_null_and_empty_text_kept(spark):
    """NULL-text docs stay in the signature output with the all-zero
    signature (the explode_outer + NULL-vote arm); empty text hashes
    the single empty token like the oracle's string_split('')."""
    from pybabe_spark.operators.dedup_scale import simhash

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash(df, "doc_id", "text", bits=16).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == 0
    import duckdb

    from pybabe_spark.queries_ml import _SIMHASH_SQL_BITS

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(1, NULL), (2, ''), (3, 'a b')) AS t(doc_id, text)"
    )
    oracle = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT doc_id, CAST({_SIMHASH_SQL_BITS} AS BIGINT) "
            "FROM documents"
        ).fetchall()
    }
    # DuckDB NULL text -> NULL votes -> 0-signature via the CASE ELSE 0
    assert got == {k: (v if v is not None else 0) for k, v in oracle.items()}


# ---------------------------------------------------------------------------
# Adamic–Adar link prediction (operators/graph.py)
# ---------------------------------------------------------------------------


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "id_a int, id_b int")


def test_adamic_adar_hand_checked(spark):
    """4-cycle 1-2-3-4-1: the two diagonals are the non-edges; each
    has two common neighbors of degree 2 → AA = 2/ln 2. Add edge
    (2,5): node 2's degree rises to 3, so (1,3) — whose common
    neighbors are {2, 4} — scores 1/ln 3 + 1/ln 2, while (2,4) keeps
    {1, 3} both deg 2 → 2/ln 2, ranking (2,4) first."""
    import math

    from pybabe_spark.operators.graph import adamic_adar

    edges = [(1, 2), (2, 3), (1, 4), (3, 4), (2, 5)]
    out = adamic_adar(_edges_df(spark, edges)).collect()
    got = {(r["id_a"], r["id_b"]): r for r in out}
    assert got[(1, 3)]["common_neighbors"] == 2
    assert abs(got[(1, 3)]["aa"] - (1 / math.log(3) + 1 / math.log(2))) < 1e-9
    assert got[(2, 4)]["common_neighbors"] == 2
    assert abs(got[(2, 4)]["aa"] - 2 / math.log(2)) < 1e-9
    # ranking: 2/ln2 > 1/ln3 + 1/ln2
    assert out[0]["id_a"] == 2 and out[0]["id_b"] == 4


def test_adamic_adar_existing_edges_excluded(spark):
    from pybabe_spark.operators.graph import adamic_adar

    # triangle: every pair already an edge -> no predictions
    out = adamic_adar(_edges_df(spark, [(1, 2), (2, 3), (1, 3)])).collect()
    assert out == []


def test_adamic_adar_matches_python_model(spark):
    import math
    import random
    from collections import defaultdict

    from pybabe_spark.operators.graph import adamic_adar

    rng = random.Random(11)
    edges = {
        (min(a, b), max(a, b))
        for a, b in (
            (rng.randint(1, 25), rng.randint(1, 25)) for _ in range(80)
        )
        if a != b
    }
    out = adamic_adar(_edges_df(spark, sorted(edges)), top_n=1000).collect()

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    exp = {}
    nodes = sorted(adj)
    for i, x in enumerate(nodes):
        for y in nodes[i + 1:]:
            if (x, y) in edges:
                continue
            common = adj[x] & adj[y]
            if common:
                exp[(x, y)] = sum(1 / math.log(len(adj[z])) for z in common)
    got = {(r["id_a"], r["id_b"]): r["aa"] for r in out}
    assert set(got) == set(exp)
    for k in exp:
        assert abs(got[k] - exp[k]) < 1e-9, k


def test_adamic_adar_max_degree_cap(spark):
    """A hub above the cap stops contributing as a CENTER but still
    appears as an endpoint."""
    from pybabe_spark.operators.graph import adamic_adar

    # star: hub 100 connected to 1..6 (deg 6); also edge 1-2
    edges = [(100, i) for i in range(1, 7)] + [(1, 2)]
    out = adamic_adar(_edges_df(spark, edges), max_degree=5).collect()
    # hub excluded as center -> pairs (i,j) get NO common-neighbor
    # credit from 100; only centers 1 and 2 (deg 2 each) make wedges:
    # (2,100) via 1, (1,100) via 2 are edges already... wedges from
    # center 1: neighbors {100, 2} -> pair (2,100) is an edge.
    # center 2: neighbors {100, 1} -> (1,100) edge. So: empty.
    assert out == []
    # with the cap lifted the hub generates all (i<j) pairs
    out = adamic_adar(_edges_df(spark, edges), max_degree=50).collect()
    assert len(out) == 14  # C(6,2)=15 minus the (1,2) edge


def test_centroid_drift_large_magnitude_components(spark):
    """|component| in the thousands must neither abort (ANSI decimal
    overflow at the old DECIMAL(12,9)) nor silently null out of the
    component sums (r12 advice fix): a group identical to the corpus
    scores cosine 1, an orthogonal one 0, regardless of magnitude."""
    from pybabe_spark.operators.similarity import centroid_drift

    df = spark.createDataFrame(
        [
            ("a", [5000.0, 0.0]),
            ("a", [3000.0, 0.0]),
            ("b", [0.0, 4000.0]),
        ],
        "label string, embedding array<double>",
    )
    got = {r["label"]: r for r in
           centroid_drift(df, "label", "embedding").collect()}
    # global centroid = (8000/3, 4000/3); a's centroid = (4000, 0):
    # cos = gx*4000 / (4000 * sqrt(gx^2+gy^2))
    import math
    gx, gy = 8000.0 / 3.0, 4000.0 / 3.0
    exp_a = gx / math.hypot(gx, gy)
    assert abs(got["a"]["centroid_cosine"] - exp_a) < 1e-6
    exp_b = gy / math.hypot(gx, gy)
    assert abs(got["b"]["centroid_cosine"] - exp_b) < 1e-6


def test_asof_join_nearest_direction(spark):
    """direction='nearest' picks the closer side per row, ties go
    backward (pandas merge_asof rule), tolerance voids each side
    independently before the pick."""
    import datetime as dt

    import pandas as pd

    from pybabe_spark.operators.join import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [
            ("k", t0 + dt.timedelta(minutes=10)),   # closer to 8 than 15
            ("k", t0 + dt.timedelta(minutes=40)),   # equidistant 30/50
            ("k", t0 + dt.timedelta(minutes=100)),  # only backward exists
            ("k", t0 + dt.timedelta(minutes=1)),    # only forward (8)
        ],
        "k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("k", t0 + dt.timedelta(minutes=8), "a"),
            ("k", t0 + dt.timedelta(minutes=15), "b"),
            ("k", t0 + dt.timedelta(minutes=30), "c"),
            ("k", t0 + dt.timedelta(minutes=50), "d"),
        ],
        "k string, ts timestamp, tag string",
    )
    mins = lambda ts: int((ts - t0).total_seconds() // 60)  # noqa: E731
    out = {
        mins(r["ts"]): r["tag"]
        for r in asof_join(
            left, right, "k", direction="nearest"
        ).collect()
    }
    assert out[10] == "a"       # gap 2 vs 5
    assert out[40] == "c"       # tie 10/10 -> backward
    assert out[100] == "d"      # no forward candidate
    assert out[1] == "a"        # no backward candidate
    # pandas cross-check on the same frames
    lp = left.toPandas().sort_values("ts")
    rp = right.toPandas().sort_values("ts")
    merged = pd.merge_asof(
        lp, rp, on="ts", by="k", direction="nearest"
    )
    want = {
        mins(ts): tag for ts, tag in zip(merged["ts"], merged["tag"])
    }
    assert out == want
    # tolerance voids the far side: at minute 40 both are 10 min away;
    # '5 minutes' voids both
    tol = {
        mins(r["ts"]): r["tag"]
        for r in asof_join(
            left, right, "k", direction="nearest",
            tolerance="5 minutes",
        ).collect()
    }
    assert tol[40] is None and tol[10] == "a"
