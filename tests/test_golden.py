"""Golden-output operator tests in the reference's own style (SURVEY §5:
tiny inline CSV → pipeline → expected output), driven through the Babe
facade so the fluent surface is covered end-to-end."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from pybabe_spark.plans.facade import Babe

CSV = "a,b,c\n1,2,x\n4,5,y\n7,8,x\n1,2,x"


@pytest.fixture()
def b(spark):
    return Babe.pull(spark, string=CSV)


def test_wordcount_shape(spark):
    # mirrors examples/wordcount.py:7-11: pull → flatMap → group → top-k
    text = "the quick fox\nthe lazy dog\nthe end"
    out = (
        Babe.pull(spark, string=text, format="txt")
        .split("text", " ")
        .groupBy("text", {"n": ("count", "text")})
        .maxN("n", 1)
        .to_list()
    )
    assert out == [("the", 3)]


def test_filter_values_and_columns(b):
    out = b.filter_values(c="x").filter_columns(keep_fields=["a", "b"]).to_list()
    assert sorted(out) == [(1, 2), (1, 2), (7, 8)]


def test_group_sum(b):
    # tests/test_group.py:6-10 analogue
    out = b.groupBy("c", {"total": ("sum", "a")}).to_list()
    assert sorted(out) == [("x", 9), ("y", 4)]


def test_join_left_and_inner(spark):
    # tests/test_join.py:13-21 analogue
    probe = Babe.pull(spark, string="k,v\n1,a\n2,b\n3,c")
    dim = Babe.pull(spark, string="k2,name\n1,one\n2,two")
    inner = probe.join(dim, key="k", join_key="k2", on_error="SKIP").to_list()
    assert sorted(inner) == [(1, "a", "one"), (2, "b", "two")]
    left = probe.join(dim, key="k", join_key="k2", on_error="NONE").to_list()
    assert sorted(left, key=str) == [(1, "a", "one"), (2, "b", "two"), (3, "c", None)]


def test_join_fail_raises(spark):
    """FAIL mode raises from the query's own action, single-execution:
    the miss check is an in-plan raise_error guard, not an eager
    left_anti pre-probe (VERDICT r5 next-round item 4)."""
    probe = Babe.pull(spark, string="k,v\n1,a\n3,c")
    dim = Babe.pull(spark, string="k2,name\n1,one")
    store = spark.sparkContext._jsc.sc().statusStore()
    before = store.jobsList(None).size()
    out = probe.join(dim, key="k", join_key="k2", on_error="FAIL")
    assert store.jobsList(None).size() == before, (
        "FAIL-mode join ran a job at plan-construction time"
    )
    with pytest.raises(Exception, match="not found in build side"):
        out.df.collect()


def test_join_fail_passes_when_all_match(spark):
    probe = Babe.pull(spark, string="k,v\n1,a\n2,b")
    dim = Babe.pull(spark, string="k2,name\n1,one\n2,two")
    got = probe.join(dim, key="k", join_key="k2", on_error="FAIL").to_list()
    assert sorted(got) == [(1, "a", "one"), (2, "b", "two")]


def test_join_build_side_dedup_never_duplicates(spark):
    # build side keeps ONE row per key (pybabe/join.py:14-16)
    probe = Babe.pull(spark, string="k,v\n1,a")
    dim = Babe.pull(spark, string="k2,name\n1,first\n1,second")
    out = probe.join(dim, key="k", join_key="k2", on_error="SKIP").to_list()
    assert len(out) == 1


def test_dedup_variants(b):
    # tests/test_transform.py:138-163 analogue
    assert len(b.dedup().to_list()) == 3
    assert len(b.dedup(fields=["c"]).to_list()) == 2


def test_pivot_golden(spark):
    # pivot_tests.py:9-23 analogue: f-v column naming
    csv = "grp,piv,val\ng1,p1,10\ng1,p2,20\ng2,p1,30"
    out = Babe.pull(spark, string=csv).pivot("piv", ["grp"], values=["p1", "p2"], agg="max")
    assert out.df.columns == ["grp", "val-p1", "val-p2"]
    rows = dict((r[0], (r[1], r[2])) for r in out.to_list())
    assert rows == {"g1": (10, 20), "g2": (30, None)}


def test_pivot_null_and_bool_values_keep_their_columns(spark):
    """Spark names pivoted columns from the JVM toString ("null",
    "true"), not Python's str(); the rename map must match or those
    pivot values silently vanish from the output."""
    from pybabe_spark.operators.reshape import pivot

    df = spark.createDataFrame(
        [("g1", "a", 1), ("g1", None, 2), ("g2", "a", 3)],
        "grp string, p string, v bigint",
    )
    out = pivot(df, "p", ["grp"])
    assert "v-None" in out.columns
    got = {r["grp"]: r["v-None"] for r in out.collect()}
    assert got == {"g1": 2, "g2": None}

    bdf = spark.createDataFrame(
        [("g1", True, 1), ("g1", False, 2)], "grp string, p boolean, v bigint"
    )
    bout = pivot(bdf, "p", ["grp"])
    assert set(bout.columns) == {"grp", "v-True", "v-False"}


def test_unpivot_golden(spark):
    csv = "id,x,y\n1,10,20"
    out = Babe.pull(spark, string=csv).unpivot(["id"], "name", "value").to_list()
    assert sorted(out) == [(1, "x", 10), (1, "y", 20)]


def test_rolling_window_sum(spark):
    # tests/test_transform.py:130-136 analogue: 3-row trailing sum
    csv = "i,v\n1,1\n2,2\n3,3\n4,4\n5,5"
    out = (
        Babe.pull(spark, string=csv)
        .windowMap(3, "sum", "v", order_by="i")
        .df.select("i", "window_value")
        .collect()
    )
    assert {r["i"]: r["window_value"] for r in out} == {1: 1, 2: 3, 3: 6, 4: 9, 5: 12}


def test_global_window_warning_thresholds(spark):
    """The scale warning fires only on inputs Catalyst ESTIMATES as big:
    silent on statless/tiny plans (Long.MaxValue sentinel), loud on a
    known multi-hundred-MB input."""
    import warnings

    from pybabe_spark.operators.window import _warn_if_global_window

    tiny = spark.createDataFrame([(1, 1.0)], "i int, v double")
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning -> test failure
        _warn_if_global_window(tiny, "window_map")

    big = spark.range(100_000_000)  # LongRange stats: 8 bytes/row = ~800 MB
    with pytest.warns(RuntimeWarning, match="unpartitioned window"):
        _warn_if_global_window(big, "window_map")


def test_sort_10k(spark):
    # tests/test_sort.py:6-22 analogue (Spark sort is always external)
    df = spark.range(10001).select(
        (F.col("id") * 2654435761 % 10007).alias("k")
    )
    vals = [r["k"] for r in Babe.from_df(df).sort("k").df.collect()]
    assert vals == sorted(vals) and len(vals) == 10001


def test_skip_and_head(spark):
    csv = "i,v\n" + "\n".join(f"{i},{i * 10}" for i in range(1, 11))
    b = Babe.pull(spark, string=csv)
    assert len(b.head(3).to_list()) == 3
    kept = b.skip(4, order_by="i").to_list()
    assert sorted(r[0] for r in kept) == [5, 6, 7, 8, 9, 10]


def test_push_roundtrip_partitioned(spark, tmp_path):
    # partitioned push ≈ filename templates (pybabe/base.py:509-527)
    csv = "part_key,v\na,1\na,2\nb,3"
    out_dir = os.path.join(str(tmp_path), "out.parquet")
    Babe.pull(spark, string=csv).push(out_dir, partition_by=["part_key"])
    assert sorted(os.listdir(out_dir) + [""])[-2:] == ["part_key=a", "part_key=b"]
    back = spark.read.parquet(out_dir)
    assert back.count() == 3


def test_replace_and_split(spark):
    out = (
        Babe.pull(spark, string="id,tags\n1,a;b;c")
        .split("tags", ";")
        .to_list()
    )
    assert sorted(out) == [(1, "a"), (1, "b"), (1, "c")]


def test_insert_rows_before(spark):
    out = Babe.pull(spark, string="a,b\n1,x").insert_rows([(9, "z")], before=True).to_list()
    assert sorted(out) == [(1, "x"), (9, "z")]


def test_transpose_golden(spark):
    out = Babe.pull(spark, string="k,v1,v2\nr1,10,20\nr2,30,40").transpose()
    rows = out.to_list()
    assert out.df.columns == ["field", "r1", "r2"]
    assert sorted(rows) == [("v1", "10", "30"), ("v2", "20", "40")]


def test_facade_asof_and_sessionize(spark, sf_dir):
    from pybabe_spark.plans.facade import Babe
    from pybabe_spark.sources.io import read_table

    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("value").alias("pvalue")
    )
    enriched = Babe.from_df(clicks).asof_join(
        Babe.from_df(purchases), on="user_id", left_ts="ts", right_ts="pts"
    )
    assert enriched.count() == clicks.count()
    assert set(enriched.df.columns) == {"event_id", "user_id", "ts", "pts", "pvalue"}

    sessions = Babe.from_df(ev.select("user_id", "ts", "value")).sessionize(
        gap="30 minutes"
    )
    assert sessions.count() > 0
    assert "session_start" in sessions.df.columns


def test_facade_udf_surface(spark):
    from pybabe_spark.plans.facade import Babe

    df = spark.createDataFrame([(1, "a b"), (2, "c")], "k int, s string")
    b = Babe.from_df(df)

    doubled = b.mapTo(
        lambda r: {**r, "k2": r["k"] * 2}, insert_fields="k2 int"
    )
    assert sorted((r["k"], r["k2"]) for r in doubled.df.collect()) == [(1, 2), (2, 4)]

    exploded = b.flatMap(
        lambda r: [{"k": r["k"], "w": w} for w in r["s"].split()],
        fields="k int, w string",
    )
    assert sorted(map(tuple, exploded.df.collect())) == [(1, "a"), (1, "b"), (2, "c")]

    kept = b.map_filter(lambda r: r["k"] == 2)
    assert [r["k"] for r in kept.df.collect()] == [2]


def test_facade_partition_push(spark, tmp_path):
    """Reference partition semantics (tests/test_partition.py in the
    reference): partition(field) + push => one output directory per
    value, each holding exactly that value's rows."""
    import os

    from pybabe_spark.plans.facade import Babe

    s = "date,name,value\n2012-04-04,John,1\n2012-04-04,Luke,2\n2012-04-05,John,1\n"
    out = str(tmp_path / "parts")
    (
        Babe.pull(spark, string=s, format="csv")
        .partition("date")
        .push(out, format="parquet")
    )
    dirs = sorted(d for d in os.listdir(out) if d.startswith("date="))
    assert dirs == ["date=2012-04-04", "date=2012-04-05"]
    part1 = spark.read.parquet(os.path.join(out, "date=2012-04-04"))
    assert sorted((r["name"], r["value"]) for r in part1.collect()) == [
        ("John", 1), ("Luke", 2)
    ]


def test_facade_tee(spark):
    from pybabe_spark.plans.facade import Babe

    a = Babe.pull(spark, string="a,b\n1,2\n", format="csv")
    b, c = a.tee(2)
    assert len(b.to_list()) == 1 and len(c.to_list()) == 1


def test_group_protocol_reducer(spark):
    """Reference Reducer object protocol (pybabe/group.py:5-32) through
    applyInPandas."""
    from pybabe_spark.operators.group import group, protocol_reducer

    class SumReducer:
        def begin_group(self, key):
            self.key, self.total = key, 0

        def row(self, row):
            self.total += row.v

        def end_group(self, t):
            return (self.key, self.total)

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 5)], "k string, v int"
    )
    got = {
        r["k"]: r["total"]
        for r in group(
            df, "k",
            reducer=protocol_reducer(SumReducer(), "k"),
            reducer_schema="k string, total long",
        ).collect()
    }
    assert got == {"a": 3, "b": 5}


def test_wordcount_example_parity(spark):
    """The reference's flagship example (examples/wordcount.py:7-11):
    pull → flatMap → groupBy(function reducer) → maxN, same chain."""
    import re

    from pybabe_spark.operators.group import function_reducer
    from pybabe_spark.plans.facade import Babe

    text = "the quick fox jumps over the lazy dog the fox\n"
    a = Babe.pull(spark, string=text, format="txt")
    a = a.flatMap(
        lambda row: [{"word": w, "count": 1} for w in re.findall(r"\w+", row["text"])],
        fields="word string, count long",
    )
    b = a.groupBy(
        "word",
        reducer=function_reducer(
            lambda word, rows: (word, sum(r.count for r in rows)), "word"
        ),
        reducer_schema="word string, count long",
    )
    top = b.maxN("count", 2).to_list()
    assert ("the", 3) in top and ("fox", 2) in top


def test_join_warn_observation_counts_drops(spark):
    """WARN mode: inner join + a dropped-probe-rows metric readable from
    the attached Observation after an action (pybabe/join.py:38-40 logged
    each dropped row; here it is one observe() counter, not a second job)."""
    from pybabe_spark.operators.join import join

    probe = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "k bigint, pv string"
    )
    dim = spark.createDataFrame([(1, "one")], "k bigint, name string")
    out = join(probe, dim, "k", on_error="WARN")
    rows = out.collect()
    assert len(rows) == 1  # inner: keys 2,3 dropped
    obs = out._pybabe_join_observation
    probe_rows = obs.get["probe_rows"]
    assert probe_rows - len(rows) == 2  # the dropped count


def test_pivot_reference_golden_exact(spark):
    """The reference's own pivot golden (pivot_tests.py:8-22), byte-exact:
    first-seen value order, value-major column grouping, last-row cells,
    missing cells null."""
    s = "a,b,c,d,e\nA,B,0,2,3\nC,D,1,4,5\nA,B,1,4,5\nC,E,1,4,5\nC,E,0,7,8\n"
    out = Babe.pull(spark, string=s, ingest_id=True).pivot("c", ["a", "b"])
    assert out.df.columns == ["a", "b", "d-0", "e-0", "d-1", "e-1"]
    assert sorted(out.to_list()) == [
        ("A", "B", 2, 3, 4, 5),
        ("C", "D", None, None, 4, 5),
        ("C", "E", 7, 8, 4, 5),
    ]


def test_unpivot_reference_golden_exact(spark):
    """The reference's unpivot golden (pivot_tests.py:24-35), exact rows
    and order."""
    s = "name,firstname,Jan,Feb\nDou,Flo,3,5\nDoe,John,7,8\n"
    out = Babe.pull(spark, string=s).unpivot(["name", "firstname"], "date", "value")
    assert out.df.columns == ["name", "firstname", "date", "value"]
    assert out.to_list() == [
        ("Dou", "Flo", "Jan", 3),
        ("Dou", "Flo", "Feb", 5),
        ("Doe", "John", "Jan", 7),
        ("Doe", "John", "Feb", 8),
    ]


def test_join_reference_golden_string_exact(spark):
    """The reference's join golden as an exact to_string compare
    (tests/test_join.py in the reference): probe order preserved via the
    ingest id, join key column dropped, build fields appended."""
    s1 = "city,country\nParis,FR\nLondon,UK\nLyon,FR\n"
    s2 = "country_code,country_name\nFR,France\nUK,United Kingdom\n"
    a = Babe.pull(spark, string=s1, ingest_id=True)
    b = Babe.pull(spark, string=s2)
    joined = a.join(b, key="country", join_key="country_code", on_error="SKIP")
    expected = (
        "city,country,country_name\n"
        "Paris,FR,France\n"
        "London,UK,United Kingdom\n"
        "Lyon,FR,France\n"
    )
    assert joined.to_string() == expected


def test_facade_enrichment_chain(spark):
    """The reference's typedetect -> parse_time -> enrichment chain shape
    through the facade."""
    s = "a,b,when\n1,2.5,2012-04-03 00:33\n"
    b = Babe.pull(spark, string=s, infer_schema=False).typedetect()
    types = dict(b.df.dtypes)
    assert types["a"] == "bigint" and types["b"] == "double"

    t = b.parse_time("when", output_field="ts", output_hour="h")
    assert dict(t.df.dtypes)["ts"] == "timestamp"
    assert t.df.collect()[0]["h"] == 0

    key = b.primary_key_detect()
    assert key == "a"


def test_facade_merge_and_sampling_surface(spark):
    base = Babe.from_df(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c"), (4, "d")],
                              "k bigint, v string")
    )
    updates = spark.createDataFrame([(2, "B")], "k bigint, v string")
    got = {r["k"]: r["v"] for r in base.upsert(updates, "k").df.collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}

    seen = spark.createDataFrame([(1,), (3,)], "k bigint")
    left = sorted(r["k"] for r in base.dedup_against(seen, "k").df.collect())
    assert left == [2, 4]

    sampled = base.sample("k", 1.0)
    assert sampled.count() == 4
    train, test = base.train_test_split("k", 0.5)
    assert train.count() + test.count() == 4


def test_throttle_semantics(spark):
    """First event per key survives; an event within the gap of its
    predecessor drops even if that predecessor itself dropped."""
    from pybabe_spark.operators.relational import throttle

    rows = [
        (1, "u", "2024-01-01 10:00:00"),
        (2, "u", "2024-01-01 10:04:00"),   # 4 min after #1 -> drop
        (3, "u", "2024-01-01 10:07:00"),   # 3 min after #2 -> drop (lag semantics)
        (4, "u", "2024-01-01 10:20:00"),   # 13 min after #3 -> keep
        (5, "v", "2024-01-01 10:00:30"),   # first for v -> keep
    ]
    df = spark.createDataFrame(rows, "event_id bigint, u string, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    kept = sorted(r["event_id"]
                  for r in throttle(df, "u", "ts", 300, tiebreak="event_id").collect())
    assert kept == [1, 4, 5]


def test_facade_text_hygiene_chain(spark):
    """Round-3 facade surface: decontaminate / coverage_dedup /
    word_entropy chain like every other Babe op."""
    from pybabe_spark.plans.facade import Babe

    docs = Babe.from_df(spark.createDataFrame(
        [(1, "alpha beta gamma delta"),
         (2, "epsilon zeta eta theta"),
         (3, "alpha beta gamma delta")],
        "doc_id bigint, text string",
    ))
    bench = Babe.from_df(spark.createDataFrame(
        [(9, "alpha beta gamma")], "doc_id bigint, text string"
    ))
    clean = docs.decontaminate(bench, n=3)
    assert sorted(r["doc_id"] for r in clean.df.collect()) == [2]

    kept = docs.coverage_dedup(threshold=0.5, n=3)
    assert sorted(r["doc_id"] for r in kept.df.collect()) == [2]

    ent = docs.word_entropy("text")
    assert all(abs(r["entropy"] - 2.0) < 1e-6 for r in ent.df.collect())


@pytest.mark.deep
def test_facade_llm_pipeline_surface(spark, sf_dir):
    """The fluent API covers the LLM-pipeline family end-to-end:
    text stats → minhash pairs → clusters, ANN top-k, packing."""
    from pybabe_spark.sources.io import read_table

    docs = Babe.from_df(read_table(spark, sf_dir, "documents"))
    stats = docs.text_stats().df
    assert {"n_words", "n_tokens", "lang_pred", "quality"} <= set(stats.columns)

    pairs = docs.minhash_lsh_pairs("doc_id", "text")
    clusters = docs.dup_clusters(pairs).df
    assert set(clusters.columns) == {"id", "component", "cluster_size"}
    assert clusters.count() == docs.count()

    emb = Babe.from_df(read_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.col("vec_id") < 2)
    topk = emb.ann_topk(qs, k=3, method="brute").df
    assert topk.groupBy("query_id").count().collect()[0]["count"] == 3

    packed = docs.text_stats().pack_tokens(256, tokens_col="n_tokens").df
    assert set(packed.columns) == {"doc_id", "bucket", "pack_id"}


def test_chained_pull_concatenates_not_interleaves(spark):
    """Reference TestMultiPull semantics: a second pull appends AFTER the
    first stream. Both sources' ingest ids start at 0, so the union must
    re-derive them — otherwise an ingest-ordered read-back interleaves."""
    out = (
        Babe.pull(spark, string="a\n1\n2", ingest_id=True)
        .pull(spark, string="a\n3\n4", ingest_id=True)
        .to_list()
    )
    assert [r[0] for r in out] == [1, 2, 3, 4]


def test_filter_values_matches_null_cells(spark):
    """filter_values(col=None) keeps NULL-cell rows like the reference's
    Python equality; SQL '= NULL' would return nothing."""
    from pybabe_spark.operators.relational import filter_values

    df = spark.createDataFrame([(None, "a"), (1, "b")], "k bigint, v string")
    got = filter_values(df, k=None).collect()
    assert [(r["k"], r["v"]) for r in got] == [(None, "a")]
    assert [r["v"] for r in filter_values(df, k=1).collect()] == ["b"]


def test_skip_with_null_order_keys(spark):
    """NULL order keys sort first and are part of the skipped prefix; the
    old max-boundary logic turned them into a silent no-op."""
    from pybabe_spark.operators.relational import skip

    df = spark.createDataFrame(
        [(None, "a"), (None, "b"), (5, "c"), (10, "d")], "k bigint, v string"
    )
    got = sorted(r["v"] for r in skip(df, 2, order_by="k").collect())
    assert got == ["c", "d"]
    # more NULLs than n: no deterministic prefix exists — detected
    # in-plan (skip is lazy now) and raised from the ACTION
    import pytest as _pytest

    with _pytest.raises(Exception, match="NULL"):
        skip(df, 1, order_by="k").collect()
    # n beyond the row count skips everything
    assert skip(df, 9, order_by="k").count() == 0


def test_pivot_without_value_fields_raises_clearly(spark):
    from pybabe_spark.operators.reshape import pivot as _pivot

    df = spark.createDataFrame([("g1", "p1")], "g string, p string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no value fields"):
        _pivot(df, "p", ["g"])


def test_transpose_preserves_nulls_and_int_repr(spark):
    """NULL cells stay NULL (not the text 'None'/'nan'), and ints never
    pick up pandas' NaN-induced float repr."""
    from pybabe_spark.operators.reshape import transpose

    df = spark.createDataFrame(
        [("r1", 1, None), ("r2", None, "x")], "key string, n bigint, s string"
    )
    rows = {r["field"]: (r["r1"], r["r2"]) for r in transpose(df).collect()}
    assert rows["n"] == ("1", None)
    assert rows["s"] == (None, "x")


def test_working_column_names_never_clobber_user_columns(spark):
    """User data legitimately containing '__rn'/'__g'/'__keep' columns
    must survive head_per_group/dedup/throttle/group_all unchanged."""
    from pybabe_spark.operators.group import group_all
    from pybabe_spark.operators.relational import dedup, head_per_group, throttle

    df = spark.createDataFrame(
        [("a", 1, "keepme"), ("a", 2, "keepme2"), ("b", 3, "other")],
        "g string, o bigint, __rn string",
    )
    got = head_per_group(df, 1, ["g"], order_by="o")
    assert {r["__rn"] for r in got.collect()} == {"keepme", "other"}
    assert "__rn" in dedup(df, ["g"], keep_first=True, order_col="o").columns

    ev = spark.createDataFrame(
        [("u", "2024-01-01 00:00:00", "v1"), ("u", "2024-01-01 00:00:01", "v2")],
        "k string, ts string, __keep string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = throttle(ev, "k", "ts", 10)
    assert [r["__keep"] for r in out.collect()] == ["v1"]

    gdf = spark.createDataFrame([(1, "x")], "v bigint, __g string")
    res = group_all(
        gdf,
        reducer=lambda pdf: pdf[["v", "__g"]].head(1),
        reducer_schema="v bigint, __g string",
    ).collect()
    assert [(r["v"], r["__g"]) for r in res] == [(1, "x")]


def test_transpose_all_null_row(spark):
    """A row whose non-key cells are all NULL transposes to a fully-NULL
    string column (explicit schema — no inference failure with Arrow
    off, no void column with Arrow on)."""
    from pybabe_spark.operators.reshape import transpose

    df = spark.createDataFrame(
        [("r1", None), ("r2", "5")], "key string, n string"
    )
    out = transpose(df)
    assert dict(out.dtypes) == {"field": "string", "r1": "string", "r2": "string"}
    row = out.collect()[0]
    assert (row["r1"], row["r2"]) == (None, "5")


def test_transpose_refuses_one_row_over_the_limit(spark):
    from pybabe_spark.operators.reshape import transpose

    df = spark.createDataFrame(
        [("r1", "1"), ("r2", "2"), ("r3", "3")], "key string, n string"
    )
    with pytest.raises(
        ValueError, match=r"^transpose is driver-side; refusing > 2 rows$"
    ):
        transpose(df, row_limit=2)
    assert transpose(df, row_limit=3).columns == ["field", "r1", "r2", "r3"]


def test_driver_side_push_refuses_one_row_over_the_limit(spark, tmp_path):
    from pybabe_spark.sources.io import _push_driver_side

    df = spark.createDataFrame([(1,), (2,), (3,)], "n bigint")
    target = tmp_path / "out.html"
    with pytest.raises(
        ValueError, match=r"^html push is driver-side; refusing > 2 rows$"
    ):
        _push_driver_side(df, str(target), "html", row_limit=2)
    assert not target.exists()
    _push_driver_side(df, str(target), "html", row_limit=3)
    assert target.read_text().count("<tr") == 4  # header + 3 rows


@pytest.mark.deep
def test_normalize_text_golden(spark):
    """Casing, punctuation, and whitespace runs collapse to the
    canonical form; flags compose independently."""
    from pybabe_spark.functions.text import normalize_text

    df = spark.createDataFrame(
        [(1, "  Hello,   WORLD!  it's 42  ")], "id bigint, t string"
    )
    full = df.select(normalize_text("t", strip_punct=True).alias("t")).head()["t"]
    assert full == "hello world its 42"
    keep_punct = df.select(normalize_text("t").alias("t")).head()["t"]
    assert keep_punct == "hello, world! it's 42"
    no_lower = df.select(
        normalize_text("t", lower=False, strip_punct=True).alias("t")
    ).head()["t"]
    assert no_lower == "Hello WORLD its 42"


@pytest.mark.deep
def test_facade_round7_surface(spark):
    """The round-7 additions exposed through the fluent facade:
    anomalies (MAD), smoothing (EWMA), attribution, cube, FK check,
    phonetic/containment pairs, hard negatives, rank fusion."""
    from datetime import datetime

    from pyspark.sql import functions as F

    ev = Babe.from_df(
        spark.createDataFrame(
            [
                (1, datetime(2024, 1, 1), 1, "click", 1.0),
                (2, datetime(2024, 1, 2), 1, "purchase", 10.0),
                (3, datetime(2024, 1, 3), 1, "view", 2.0),
            ],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double",
        )
    )
    attr = ev.attribute_conversions(
        conversion=F.col("event_type") == "purchase",
        touch=F.col("event_type") == "click",
        channel_col="event_type",
    ).df.collect()
    assert len(attr) == 1 and attr[0]["channel"] == "click"

    sm = ev.ewma("user_id", "value", "ts", id_col="event_id", depth=2)
    assert "ewma" in sm.df.columns
    # values (1, 10, 2): median 2, MAD 1 -> the 10 is a 5.4σ̃ outlier
    assert ev.mad_anomalies("user_id", "value", "ts").count() == 1

    cube = ev.cube(["event_type"], {"n": F.count(F.lit(1))})
    assert {r["grouping_id"] for r in cube.df.collect()} == {0, 1}

    parent = spark.createDataFrame([(1,)], "user_id long")
    fk = ev.foreign_key_check("user_id", parent, "user_id").df.collect()[0]
    assert fk["full_coverage"] is True

    names = Babe.from_df(
        spark.createDataFrame(
            [(1, "Smith"), (2, "Smyth")], "id long, name string"
        )
    )
    assert names.phonetic_pairs("id", "name").count() == 1

    docs = Babe.from_df(
        spark.createDataFrame(
            [(1, "a b c"), (2, "x a b c y z q r")],
            "doc_id long, text string",
        )
    )
    assert docs.containment_pairs(
        "doc_id", "text", threshold=0.9, shingle_n=2
    ).count() == 1

    emb = Babe.from_df(
        spark.createDataFrame(
            [(0, [1.0, 0.0], 1), (1, [0.9, 0.1], 1), (2, [0.8, 0.2], 2)],
            "vec_id long, embedding array<double>, label int",
        )
    )
    hn = emb.hard_negatives(emb.df.filter(F.col("vec_id") == 0), k=1)
    assert hn.df.collect()[0]["neighbor_id"] == 2

    r1 = Babe.from_df(
        spark.createDataFrame([(1, 2.0), (2, 1.0)], "id long, score double")
        .orderBy(F.col("score").desc()).limit(5)
    )
    r2 = (
        spark.createDataFrame([(2, 9.0), (3, 1.0)], "id long, score double")
        .orderBy(F.col("score").desc()).limit(5)
    )
    fused = r1.rank_fuse(r2, k=2).df.collect()
    assert fused[0]["id"] == 2
