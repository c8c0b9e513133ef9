"""Infra operators: memoize cache, log tap, mail transport, primary-key
detect, typedetect, parse_time policies, pull format dispatch."""

import functools
import itertools
import operator
import os
import zipfile

import pytest
from pyspark.sql import functions as F

from pybabe_spark.functions.time import (
    _DETECT_ORDER,
    _cast_fails,
    parse_time,
    typedetect,
)
from pybabe_spark.operators.infra import (
    log_stream,
    mail,
    memoize,
    primary_key_detect,
)
from pybabe_spark.sources.io import guess_format, pull


def test_guess_format():
    assert guess_format("x.csv") == ("csv", None)
    assert guess_format("x.csv.gz") == ("csv", "gz")
    assert guess_format("x.tsv") == ("tsv", None)
    assert guess_format("data.jsonl") == ("json", None)
    assert guess_format("noext") == (None, None)


def test_memoize_roundtrip(spark, tmp_path):
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    cache = str(tmp_path / "cache")
    first = memoize(df, cache_dir=cache)
    assert first.count() == 100
    # cached parquet exists and is re-read (plan replaced by scan)
    assert len(os.listdir(cache)) == 1
    again = memoize(df, cache_dir=cache)
    assert "Scan parquet" in again._jdf.queryExecution().executedPlan().toString()
    assert again.count() == 100


def test_log_stream_counts(spark, tmp_path):
    df = spark.range(50)
    logfile = str(tmp_path / "tap.csv")
    tapped = log_stream(df, logfile=logfile)
    assert tapped.count() == 50
    obs = tapped._pybabe_log_observation
    assert obs.get["rows"] == 50
    assert os.path.exists(logfile)


def test_mail_transport(spark):
    df = spark.range(5).select(F.col("id"), (F.col("id") * 10).alias("v"))
    sent = []
    mail(df, "test subject", ["dev@example.com"], transport=sent.append)
    assert len(sent) == 1
    msg = sent[0]
    assert msg["Subject"] == "test subject"
    parts = msg.get_payload()
    assert len(parts) == 2  # html body + csv attachment


def test_primary_key_detect(spark, sf_dir):
    df = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    assert primary_key_detect(df) == "c_custkey"
    no_pk = df.select("c_mktsegment")
    assert primary_key_detect(no_pk) is None


def test_typedetect_mixed(spark):
    df = spark.createDataFrame(
        [("1", "1.5", "2020-01-02", "abc"), ("2", "2,25", "2021-03-04", "def")],
        "i string, f string, d string, s string",
    )
    out = typedetect(df)
    dt = dict(out.dtypes)
    assert dt["i"] == "bigint"
    assert dt["d"] == "date"
    assert dt["s"] == "string"


def test_typedetect_datetime_keeps_time_of_day(spark):
    """ISO datetimes must detect as timestamp, not date (Spark's
    string->date cast truncates '2020-01-02 10:30:00' silently; the
    reference tries parse_datetime before parse_date,
    pybabe/types.py:38-44). All-midnight/bare-date columns stay date."""
    df = spark.createDataFrame(
        [("2020-01-02 10:30:00", "2020-01-02", "2020-01-02 00:00:00"),
         ("2021-03-04 00:00:00", "2021-03-04", "2021-03-04 00:00:00")],
        "dt string, d string, mid string",
    )
    out = typedetect(df)
    dt = dict(out.dtypes)
    assert dt["dt"] == "timestamp"
    assert dt["d"] == "date"
    assert dt["mid"] == "date"  # all-midnight: really a date column
    assert str(out.collect()[0]["dt"]) == "2020-01-02 10:30:00"


def test_typedetect_edges_hand_checked(spark):
    """Padded integers stay bigint; hex floats, NaN, inf and a 'd'
    suffix are double; a bigint overflow falls through to double; a
    TPC-H priority and Arabic-Indic digits stay strings."""
    cols = {
        "i": [" 12 ", "\t-7", "+5"],
        "d1": ["1e3", "0x1p3", "NaN"],
        "d2": ["inf", "1.5d", "2"],
        "big": ["9223372036854775808", "1", "2"],
        "s": ["1-URGENT", "2-HIGH", "3"],
        "u": ["\u0661\u0662", "1", "2"],
    }
    df = spark.createDataFrame(
        list(zip(*cols.values())), ", ".join(f"{c} string" for c in cols)
    )
    out = typedetect(df)
    assert dict(out.dtypes) == {
        "i": "bigint", "d1": "double", "d2": "double",
        "big": "double", "s": "string", "u": "string",
    }
    rows = [r.asDict() for r in out.collect()]
    assert [r["i"] for r in rows] == [12, -7, 5]
    assert [r["d1"] for r in rows[:2]] == [1000.0, 8.0]
    assert rows[2]["d1"] != rows[2]["d1"]  # NaN
    assert [r["d2"] for r in rows] == [float("inf"), 1.5, 2.0]
    assert rows[0]["big"] == 9223372036854775808.0


def test_cast_fails_equals_try_cast_on_a_grid(spark):
    """The regex screens are necessary conditions: on every string of up
    to 3 characters over sign/digit/dot/exponent/hex/NaN/inf letters,
    spaces, control characters, an ideographic space and an Arabic-Indic
    digit, plus overflow and special-value cases, the screened failure
    flag equals the plain try_cast one for every detected type."""
    alphabet = list("07+-.eExpdfnaI") + [" ", "\t", "\x00", "\x7f",
                                         "\u3000", "\u0661"]
    values = [
        "".join(p) for n in range(4)
        for p in itertools.product(alphabet, repeat=n)
    ]
    values += [
        "9223372036854775807", "9223372036854775808",
        "-9223372036854775808", "-9223372036854775809",
        "NaN", "Infinity", "-Infinity", "inf", "+INF", "nan",
        "0x1p3", "0X1P-2d", "1e309", "+.5", "5.", "1F",
        "1995-01-02", "1-URGENT", "",
    ]
    df = spark.createDataFrame([(v,) for v in values], "v string")
    assert "rlike(" in str(_cast_fails("v", "bigint"))
    mismatch = {
        t: _cast_fails("v", t) != F.expr(f"try_cast(trim(v) as {t})").isNull()
        for t in _DETECT_ORDER
    }
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.count(F.when(m, 1)).alias(f"bad_{t}") for t, m in mismatch.items()],
        *[F.count(F.when(~_cast_fails("v", t), 1)).alias(f"ok_{t}")
          for t in _DETECT_ORDER],
    ).collect()[0].asDict()
    if any(stats[f"bad_{t}"] for t in _DETECT_ORDER):
        bad = df.filter(
            functools.reduce(operator.or_, mismatch.values())
        ).limit(20).collect()
        pytest.fail(f"screened and plain try_cast disagree: {stats} {bad}")
    assert stats["n"] == len(values) > 8000
    # the grid exercises both sides of every type's decision
    assert all(
        0 < stats[f"ok_{t}"] < len(values) for t in _DETECT_ORDER
    ), stats


def test_typedetect_runs_at_most_two_jobs(spark, tmp_path):
    """Detection is one aggregate over a limit: under AQE a limit stage
    and the aggregate, with no reshuffle of the sample in between."""
    path = tmp_path / "t.csv"
    path.write_text(
        "a,b,c,d\n"
        + "".join(f"{i},{i}.5,1995-01-{i % 28 + 1:02d},{i}-URGENT\n"
                  for i in range(200))
    )
    df = pull(spark, str(path), infer_schema=False)
    tracker = spark.sparkContext.statusTracker()

    def last_job_id():
        # the newest id, not a count: the status store keeps only the
        # last spark.ui.retainedJobs jobs, so its size can drop
        return max(tracker.getJobIdsForGroup(None), default=-1)

    before = last_job_id()
    out = typedetect(df)
    assert last_job_id() - before <= 2
    assert dict(out.dtypes) == {
        "a": "bigint", "b": "double", "c": "date", "d": "string",
    }


@pytest.mark.deep
def test_parse_time_policies(spark):
    df = spark.createDataFrame(
        [("2020/01/02",), ("garbage",), (None,)], "t string"
    )
    kept = parse_time(df, "t", output_field="ts", on_error="NONE")
    assert kept.filter(F.col("ts").isNotNull()).count() == 1
    # SKIP drops only parse FAILURES; the NULL input survives (NULL is
    # not an error — consistent with FAIL/WARN above, deviating from the
    # reference whose None-handling was an incidental AttributeError)
    skipped = parse_time(df, "t", output_field="ts", on_error="SKIP")
    assert skipped.count() == 2
    assert skipped.filter(F.col("t").isNull()).count() == 1
    with pytest.raises(ValueError):
        parse_time(df, "t", output_field="ts", on_error="FAIL")
    # FAIL must fire in the DEFAULT in-place case too (the check runs
    # against the original column, not the already-overwritten one)
    with pytest.raises(ValueError):
        parse_time(df, "t", on_error="FAIL")
    warned = parse_time(df, "t", output_field="ts", on_error="WARN")
    warned.count()
    assert warned._pybabe_parse_observation.get == {"unparseable": 1}
    with pytest.raises(ValueError, match="unknown on_error"):
        parse_time(df, "t", on_error="skip")


def test_parse_time_timezone(spark):
    df = spark.createDataFrame([("2020-06-01 12:00:00",)], "t string")
    out = parse_time(
        df, "t", input_timezone="UTC", output_timezone="America/New_York",
        output_field="ts", output_hour="h",
    )
    assert out.collect()[0]["h"] == 8  # EDT = UTC-4


def test_pull_zip_and_txt(spark, tmp_path):
    zpath = str(tmp_path / "data.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("inner.csv", "a,b\n1,2\n3,4")
    df = pull(spark, zpath, format="csv")
    assert sorted(tuple(r) for r in df.collect()) == [(1, 2), (3, 4)]

    tpath = str(tmp_path / "lines.txt")
    with open(tpath, "w") as f:
        f.write("hello\nworld\n")
    tdf = pull(spark, tpath)
    assert tdf.columns == ["text"] and tdf.count() == 2


def test_pull_sql_dump(spark, tmp_path):
    spath = str(tmp_path / "dump.sql")
    with open(spath, "w") as f:
        f.write("INSERT INTO `t` VALUES (1,'a'),(2,'b''s'),(3,NULL);\n")
    df = pull(spark, spath)
    rows = sorted((tuple(r) for r in df.collect()), key=str)
    assert ("1", "a") in rows and ("2", "b's") in rows


@pytest.mark.deep
def test_pull_local_sources_honor_common_options(spark, tmp_path):
    """fields=/ingest_id= must behave identically across the driver-local
    source branches (string/zip/sql) instead of being silently dropped.
    fields= implies HEADERLESS data (pybabe/format_csv.py:32-36) — no
    branch may swallow the first data row as a phantom header."""
    from pybabe_spark.sources.io import INGEST_ID

    s = pull(spark, string="1,a\n2,b", fields=["x", "y"], ingest_id=True)
    assert s.columns == ["x", "y", INGEST_ID]
    assert sorted((r["x"], r["y"]) for r in s.collect()) == [(1, "a"), (2, "b")]

    import zipfile as _zf

    zpath = str(tmp_path / "t.csv.zip")
    with _zf.ZipFile(zpath, "w") as z:
        z.writestr("t.csv", "1,a\n2,b")
    zdf = pull(spark, zpath, fields=["x", "y"], ingest_id=True)
    assert zdf.columns == ["x", "y", INGEST_ID] and zdf.count() == 2

    spath = str(tmp_path / "d.sql")
    with open(spath, "w") as f:
        f.write("INSERT INTO t VALUES (1,'a');\n")
    sdf = pull(spark, spath, fields=["x", "y"], ingest_id=True)
    assert sdf.columns == ["x", "y", INGEST_ID]


def test_inline_csv_inference_matches_jvm_strictness(spark):
    """Python float()'s extras (underscores, 'inf') must NOT leak into
    type inference: such cells stay strings like the JVM parser keeps
    them; plain ints/doubles still infer."""
    df = pull(spark, string="a,b,c\n1_000,inf,2.5\n5,x,1e3")
    types = dict(df.dtypes)
    assert types == {"a": "string", "b": "string", "c": "double"}
    rows = sorted(map(tuple, df.collect()))
    assert rows == [("1_000", "inf", 2.5), ("5", "x", 1000.0)]


def test_pull_sql_dump_multi_statement(spark, tmp_path):
    """A real mysqldump has many statements: each must parse to exactly
    its own tuples — a later statement's column list is NOT data, and a
    quoted ';' must not terminate a statement early."""
    spath = str(tmp_path / "multi.sql")
    with open(spath, "w") as f:
        f.write(
            "INSERT INTO a VALUES (1,'x;y');\n"
            "INSERT INTO b (id, name) VALUES (2,'two'),(3,'three');\n"
        )
    df = pull(spark, spath)
    rows = sorted((tuple(r) for r in df.collect()), key=str)
    assert rows == [("1", "x;y"), ("2", "two"), ("3", "three")]


def test_push_overwrite_partitions_keeps_others(spark, tmp_path):
    """mode='overwrite_partitions' replaces only the partitions present in
    the incoming frame (the reference's delete_partition + reload,
    pybabe/sql.py:253-342)."""
    from pybabe_spark.sources.io import push

    out = str(tmp_path / "pt")
    base = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("c", 4)], "part string, v int"
    )
    push(base, out, partition_by=["part"])

    patch = spark.createDataFrame([("b", 99)], "part string, v int")
    push(patch, out, partition_by=["part"], mode="overwrite_partitions")

    got = sorted(map(tuple, spark.read.parquet(out).select("part", "v").collect()))
    assert got == [("a", 1), ("a", 2), ("b", 99), ("c", 4)]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        push(patch, out, mode="overwrite_partitions")


def test_utf8_cleanup_repairs_mojibake(spark):
    from pybabe_spark.functions.enrich import utf8_cleanup

    rows = [
        ("CafÃ©",),          # "Café" read as latin-1
        ("naÃ¯ve",),         # "naïve"
        ("plain ascii",),              # untouched
        ("résumé",),         # already-correct accents: untouched
    ]
    df = spark.createDataFrame(rows, "s string")
    got = [r["fixed"] for r in df.select(utf8_cleanup("s").alias("fixed")).collect()]
    assert got == ["Café", "naïve", "plain ascii", "résumé"]


def test_pull_utf8_cleanup(spark, tmp_path):
    p = tmp_path / "moji.csv"
    p.write_text("name,place\nJosÃ©,CafÃ©\nplain,ascii\n", encoding="utf-8")
    from pybabe_spark.sources.io import pull

    df = pull(spark, str(p), utf8_cleanup=True)
    got = sorted(map(tuple, df.collect()))
    assert got == [("José", "Café"), ("plain", "ascii")]


def test_pull_ignore_bad_lines(spark, tmp_path):
    """csv error policy (pybabe/format_csv.py:34,42-46): DROPMALFORMED
    skips rows that don't parse into the schema."""
    p = tmp_path / "bad.csv"
    p.write_text("a,b\n1,2\nnot_an_int,xxx,extra,cols\n3,4\n")
    from pybabe_spark.sources.io import pull

    ok = pull(spark, str(p), ignore_bad_lines=True,
              schema="a INT, b INT", infer_schema=False)
    assert sorted(map(tuple, ok.collect())) == [(1, 2), (3, 4)]

    # PERMISSIVE (default) keeps the malformed row as nulls instead
    keep = pull(spark, str(p), schema="a INT, b INT", infer_schema=False)
    assert keep.count() == 3


def test_keynormalize_and_chained_pull(spark, tmp_path):
    from pybabe_spark.plans.facade import Babe
    from pybabe_spark.sources.io import keynormalize, pull

    # pybabe/base.py:74-82 semantics
    assert keynormalize("Payant/Gratuit") == "Payant_Gratuit"
    assert keynormalize("2col") == "d_2col"
    assert keynormalize("_lead") == "lead"

    p = tmp_path / "odd.csv"
    p.write_text("Payant/Gratuit,2col\nx,1\n")
    df = pull(spark, str(p), normalize_fields=True)
    assert df.columns == ["Payant_Gratuit", "d_2col"]

    # chained pull concatenates sources (pybabe/base.py:365-368)
    s = "a,b\n1,2\n3,4\n"
    b = Babe.pull(spark, string=s, format="csv").pull(spark, string=s, format="csv")
    assert b.count() == 4


def test_json_roundtrip(spark, tmp_path):
    from pybabe_spark.sources.io import pull, push

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id bigint, name string, x double"
    )
    out = str(tmp_path / "data.jsonl")
    push(df, out, format="json")
    back = pull(spark, out, format="json")
    assert sorted(map(tuple, back.select("id", "name", "x").collect())) == [
        (1, "a", 1.5), (2, "b", 2.5)
    ]


def test_log_ingest_pipeline(spark, tmp_path):
    """The reference's biggest connector, pull_kontagent
    (pybabe/kontagent.py:18-295), is an hourly-log ingest: fetch text
    logs, parse lines, emit partitioned rows. Spark-first equivalent:
    text glob -> JVM-side split/parse -> partitioned parquet write."""
    from pyspark.sql import functions as F

    from pybabe_spark.sources.io import pull, push

    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "h0.txt").write_text(
        "2024-01-01T00:05:00\tapa\tu1\t3\n2024-01-01T00:45:00\tevt\tu2\t7\n"
    )
    (logs / "h1.txt").write_text("2024-01-01T01:10:00\tapa\tu3\t5\n")

    raw = pull(spark, str(logs / "*.txt"), format="txt")
    parts = F.split("text", "\t")
    parsed = raw.select(
        F.to_timestamp(parts[0]).alias("ts"),
        parts[1].alias("event"),
        parts[2].alias("user"),
        parts[3].cast("int").alias("n"),
    ).withColumn("date", F.to_date("ts")).withColumn("hour", F.hour("ts"))

    out = str(tmp_path / "ingested")
    push(parsed, out, partition_by=["date", "hour"])

    back = spark.read.parquet(out)
    assert back.count() == 3
    import os

    hours = sorted(
        d for d in os.listdir(os.path.join(out, "date=2024-01-01"))
        if d.startswith("hour=")
    )
    assert hours == ["hour=0", "hour=1"]
    assert back.filter(F.col("hour") == 0).agg(F.sum("n")).collect()[0][0] == 10


def test_parse_time_reference_golden_exact(spark):
    """The reference's timezone golden (tests/test_transform.py:174-180):
    CET 2012-04-03 00:33 -> GMT 2012-04-02 22:33:00, date + hour derived."""
    import datetime

    from pybabe_spark.functions.time import parse_time

    df = spark.createDataFrame([("1", "2012-04-03 00:33")], "foo string, time string")
    out = parse_time(
        df, "time", input_timezone="CET", output_timezone="GMT",
        output_time="time", output_date="date", output_hour="hour",
    )
    assert out.columns == ["foo", "time", "date", "hour"]
    r = out.collect()[0]
    assert r["time"] == datetime.datetime(2012, 4, 2, 22, 33)
    assert r["date"] == datetime.date(2012, 4, 2)
    assert r["hour"] == 22


def test_pull_mongo_raises_clear_error_without_connector(spark):
    """Wiring must fail with an actionable message when the connector jar
    is absent (it is in this environment)."""
    from pybabe_spark.sources.connectors import pull_mongo

    with pytest.raises(RuntimeError, match="mongo-spark-connector"):
        pull_mongo(spark, "mongodb://localhost", "db", "coll", spec={"a": 1})


def test_pull_http_json_local_payload(spark, tmp_path):
    """file:// exercises the whole fetch→flatten path without network."""
    from pybabe_spark.sources.connectors import pull_http_json

    p = tmp_path / "api.json"
    p.write_text('{"results": [{"id": 1, "name": "a"}, {"id": 2, "name": "b"}]}')
    df = pull_http_json(spark, p.as_uri(), record_path="results")
    rows = sorted((r["id"], r["name"]) for r in df.collect())
    assert rows == [(1, "a"), (2, "b")]


def test_upsert_and_dedup_against(spark):
    from pybabe_spark.operators.merge import dedup_against, upsert

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
    )
    updates = spark.createDataFrame(
        [(2, "B"), (4, "D")], "k bigint, v string"
    )
    merged = {r["k"]: r["v"] for r in upsert(base, updates, "k").collect()}
    assert merged == {1: "a", 2: "B", 3: "c", 4: "D"}

    with pytest.raises(ValueError, match="schemas differ"):
        upsert(base, updates.withColumnRenamed("v", "w"), "k")

    seen = spark.createDataFrame([(2,), (3,)], "k bigint")
    left = sorted(r["k"] for r in dedup_against(base, seen, "k").collect())
    assert left == [1]


def test_cli_converts_csv_to_parquet(spark, tmp_path):
    """python -m pybabe_spark --input x.csv --output y.parquet (reference
    CLI parity, pybabe/__main__.py:6-14). Runs in-process against the
    already-active session (get_spark reuses it)."""
    from pybabe_spark.__main__ import main

    src = tmp_path / "in.csv"
    src.write_text("a,b\n1,x\n2,y\n")
    out = str(tmp_path / "out.parquet")
    main(["--input", str(src), "--output", out])
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == [(1, "x"), (2, "y")]


def test_pull_command_stdout(spark):
    """pull(command=[...]) parses the command's stdout (reference
    pybabe/base.py command= mode; tests/test_base.py::test_pull_process)."""
    df = pull(
        spark,
        command=["printf", "a,b\n1,2\n3,4\n"],
        format="csv",
    )
    assert sorted(map(tuple, df.collect())) == [(1, 2), (3, 4)]

    named = pull(
        spark,
        command=["printf", "x\ny\n"],
        fields=["name"],
        infer_schema=False,
    )
    assert [r["name"] for r in named.collect()] == ["x", "y"]


def test_pull_http_and_ftp_file_urls(spark, tmp_path, monkeypatch):
    """pull('http(s)://.../file.csv') and pull('ftp://.../file.csv')
    fetch driver-side then run the normal format dispatch (reference
    pybabe/protocol_http.py:7-33, protocol_ftp.py:6-34). Transport is
    injectable, so the test serves local bytes."""
    import pybabe_spark.sources.io as io_mod

    src = tmp_path / "remote.csv"
    src.write_text("a,b\n1,2\n3,4\n")
    opened = []

    def fake_opener(url):
        opened.append(url)
        return open(src, "rb")

    monkeypatch.setattr(io_mod, "URL_OPENER", fake_opener)
    for url in ("http://host.test/remote.csv",
                "https://host.test/remote.csv",
                "ftp://user:pw@host.test/remote.csv"):
        df = pull(spark, url)
        assert sorted(map(tuple, df.collect())) == [(1, 2), (3, 4)]
    assert opened == ["http://host.test/remote.csv",
                      "https://host.test/remote.csv",
                      "ftp://user:pw@host.test/remote.csv"]

    # extension survives the temp hop: a .tsv URL parses as tsv
    tsv = tmp_path / "remote.tsv"
    tsv.write_text("x\ty\n5\t6\n")
    monkeypatch.setattr(io_mod, "URL_OPENER", lambda u: open(tsv, "rb"))
    assert pull(spark, "http://host.test/remote.tsv").collect()[0][:] == (5, 6)

    # size cap enforced mid-stream
    monkeypatch.setattr(io_mod, "COMMAND_STDOUT_CAP", 4)
    with pytest.raises(ValueError, match="exceeds 4 bytes"):
        pull(spark, "http://host.test/remote.csv")


def test_fetch_url_default_opener_file_scheme(tmp_path):
    """The default urllib opener works (exercised via file:// so no
    network); pull() itself never routes file:// here — Spark reads
    local paths natively."""
    from pybabe_spark.sources.io import _fetch_url_to_temp

    src = tmp_path / "data.csv"
    src.write_text("hello")
    out = _fetch_url_to_temp("file://" + str(src))
    try:
        assert open(out).read() == "hello"
        assert out.endswith("_data.csv")
    finally:
        os.unlink(out)


@pytest.mark.deep
def test_push_ftp_and_http_urls_roundtrip(spark, tmp_path, monkeypatch):
    """push('ftp://.../file.csv') and push('http(s)://.../file.csv')
    stage ONE driver-local file then ship it via the injectable
    URL_PUSHER (ftp STOR / http PUT — reference
    pybabe/protocol_ftp.py:6-18, protocol_http.py:22-33), the upload
    twin of test_pull_http_and_ftp_file_urls."""
    import shutil

    import pybabe_spark.sources.io as io_mod
    from pybabe_spark.sources.io import push

    df = spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string")
    shipped = []

    def fake_pusher(url, local_path):
        dst = tmp_path / f"up{len(shipped)}_{os.path.basename(local_path)}"
        shutil.copy(local_path, dst)
        shipped.append((url, str(dst)))

    monkeypatch.setattr(io_mod, "URL_PUSHER", fake_pusher)
    for url in ("ftp://user:pw@host.test/out.csv",
                "http://host.test/out.csv",
                "https://host.test/out.csv"):
        push(df, url)
    assert [u for u, _ in shipped] == [
        "ftp://user:pw@host.test/out.csv",
        "http://host.test/out.csv",
        "https://host.test/out.csv",
    ]
    for _, local in shipped:
        back = pull(spark, local)
        assert sorted(map(tuple, back.collect())) == [(1, "x"), (2, "y")]
    # remote gz: the staged file is actually gzip-compressed
    push(df, "http://host.test/out.csv.gz")
    import gzip

    with gzip.open(shipped[-1][1], "rt") as f:
        assert f.readline().strip() == "a,b"

    # remote ZIP composes with the zip writer
    push(df, "ftp://host.test/out.csv.zip")
    with zipfile.ZipFile(shipped[-1][1]) as z:
        assert z.namelist() == ["out.csv"]


@pytest.mark.deep
def test_push_zip_write_roundtrip(spark, tmp_path):
    """push('x.csv.zip') writes a single-member archive the zip pull
    shim reads back (reference pybabe/compress_zip.py:7-23 both
    directions)."""
    from pybabe_spark.sources.io import push

    df = spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string")
    target = str(tmp_path / "data.csv.zip")
    push(df, target)
    with zipfile.ZipFile(target) as z:
        assert z.namelist() == ["data.csv"]
    back = pull(spark, target)
    assert sorted(map(tuple, back.collect())) == [(1, "x"), (2, "y")]
    # extensionless inner name gets the format extension
    target2 = str(tmp_path / "plain.zip")
    push(df, target2, format="csv")
    with zipfile.ZipFile(target2) as z:
        assert z.namelist() == ["plain.csv"]
    back2 = pull(spark, target2, format="csv")
    assert back2.count() == 2


def test_push_remote_and_zip_reject_partition_by(spark, tmp_path, monkeypatch):
    import pybabe_spark.sources.io as io_mod
    from pybabe_spark.sources.io import push

    df = spark.createDataFrame([(1, "x")], "a int, b string")
    monkeypatch.setattr(io_mod, "URL_PUSHER",
                        lambda *args: pytest.fail("must not upload"))
    with pytest.raises(ValueError, match="partition_by"):
        push(df, "ftp://host.test/out.csv", partition_by=["a"])
    with pytest.raises(ValueError, match="partition_by"):
        push(df, str(tmp_path / "out.csv.zip"), partition_by=["a"])


def test_push_staging_size_cap(spark, tmp_path, monkeypatch):
    import pybabe_spark.sources.io as io_mod
    from pybabe_spark.sources.io import push

    df = spark.createDataFrame([(1, "x")], "a int, b string")
    monkeypatch.setattr(io_mod, "COMMAND_STDOUT_CAP", 2)
    monkeypatch.setattr(io_mod, "URL_PUSHER",
                        lambda *a: pytest.fail("must not upload"))
    with pytest.raises(ValueError, match="driver-side single-file"):
        push(df, "http://host.test/big.csv")


def test_pull_command_stdout_cap_kills_runaway(spark, monkeypatch):
    """The stdout cap is enforced WHILE reading (child killed mid-stream),
    not after buffering everything — the advisory's OOM scenario."""
    import pybabe_spark.sources.io as io_mod

    monkeypatch.setattr(io_mod, "COMMAND_STDOUT_CAP", 64 * 1024)
    with pytest.raises(ValueError, match="stdout exceeds"):
        pull(spark, command=["yes", "a,b"], format="csv")
    # failing exit codes still surface
    with pytest.raises(Exception, match="returned non-zero|CalledProcess"):
        pull(spark, command=["false"], format="csv")


def test_push_pull_orc_roundtrip(spark, tmp_path):
    """ORC sink/source through the generic format dispatch (Spark-native
    columnar alternative to parquet — no extra package needed)."""
    from pybabe_spark.sources.io import push

    df = spark.createDataFrame([(1, "x"), (2, "y")], "n int, s string")
    out = str(tmp_path / "data.orc")
    push(df, out)
    back = pull(spark, out)
    assert sorted(map(tuple, back.collect())) == [(1, "x"), (2, "y")]


def test_push_pull_utf16_roundtrip(spark, tmp_path):
    """encoding= on both sides (reference tests/test_charset.py
    ::test_writeutf16)."""
    from pybabe_spark.sources.io import push

    df = spark.createDataFrame([("café", 1), ("naïve", 2)], "s string, n int")
    out = str(tmp_path / "u16")
    push(df, out, format="csv", encoding="UTF-16")
    back = pull(spark, out + "/*.csv", format="csv", encoding="UTF-16",
                schema="s string, n int", infer_schema=False)
    assert sorted(map(tuple, back.collect())) == [("café", 1), ("naïve", 2)]


def test_compact_files_reduces_file_count(spark, tmp_path):
    """Many tiny files -> one right-sized file; rows survive exactly."""
    from pybabe_spark.sources.io import compact_files

    out = str(tmp_path / "frag")
    spark.range(10_000).repartition(64).write.parquet(out)
    import glob
    before = len(glob.glob(out + "/*.parquet"))
    assert before >= 32

    n = compact_files(spark, out, target_file_mb=128)
    after = len(glob.glob(out + "/*.parquet"))
    assert after == n == 1
    assert spark.read.parquet(out).count() == 10_000
    # swap debris cleaned up: neither the tmp nor the moved-aside old
    # layout survives a successful compaction
    assert not glob.glob(out + ".compact.*")


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """Real JDBC push_sql -> pull_sql roundtrip (incl. the partitioned
    range read) against the Derby embedded driver Spark already bundles
    for its metastore — no network, same-JVM database."""
    from pybabe_spark.sources.sql import pull_sql, push_sql

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    opts = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.range(100).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 2).alias("v")
    )
    push_sql(df, url, "t1", mode="overwrite", **opts)

    back = pull_sql(spark, url, table="t1", **opts)
    assert back.count() == 100
    assert {r["k"]: r["v"] for r in back.collect()}[7] == 14

    ranged = pull_sql(
        spark, url, table="t1", partition_column="k",
        num_partitions=4, lower_bound=0, upper_bound=100, **opts,
    )
    assert ranged.rdd.getNumPartitions() == 4
    assert ranged.count() == 100

    # Spark's JDBC writer quotes identifiers, so Derby stores them
    # case-sensitively — raw queries must quote them too
    q = pull_sql(spark, url, query='SELECT "k" FROM t1 WHERE "k" < 10', **opts)
    assert q.count() == 10


def test_avro_clear_error_without_package(spark, tmp_path):
    """avro needs the external spark-avro module; absence must be a
    clear actionable error on both pull and push (with the package
    present these would be real reads/writes through the same branch)."""
    from pybabe_spark.sources.io import push

    p = tmp_path / "x.avro"
    p.write_bytes(b"Obj\x01")
    df = spark.createDataFrame([(1,)], "n int")
    try:
        pull(spark, str(p))
        pytest.skip("spark-avro present; gate not exercised")
    except RuntimeError as exc:
        assert "spark-avro package" in str(exc)
    with pytest.raises(RuntimeError, match="spark-avro package"):
        push(df, str(tmp_path / "out.avro"))


def test_pull_twitter_via_injected_transport(spark, tmp_path, monkeypatch):
    """pull_twitter builds the v2 search URL and flattens the 'data'
    envelope; transport injected so no network is touched."""
    import pybabe_spark.sources.io as io_mod
    from pybabe_spark.sources.connectors import pull_twitter

    payload = tmp_path / "tweets.json"
    payload.write_text(
        '{"data": [{"id": "1", "text": "hello"}, {"id": "2", "text": "spark"}],'
        ' "meta": {"result_count": 2}}'
    )
    seen = []

    def opener(url):
        seen.append(url)
        return open(payload, "rb")

    monkeypatch.setattr(io_mod, "URL_OPENER", opener)
    df = pull_twitter(spark, "spark lang:en", max_results=50)
    rows = sorted((r["id"], r["text"]) for r in df.collect())
    assert rows == [("1", "hello"), ("2", "spark")]
    assert seen == [
        "https://api.x.com/2/tweets/search/recent"
        "?query=spark%20lang%3Aen&max_results=50"
    ]


def test_mail_body_only_large_frame(spark):
    """attach_csv=False sends a body-only summary of a big frame instead
    of tripping the attachment guard — only the attachment is the full
    result; the body is a bounded head() by construction."""
    df = spark.range(500).select(F.col("id"))
    sent = []
    mail(df, "s", ["dev@example.com"], attach_csv=False,
         in_body_row_limit=5, attach_row_limit=100, transport=sent.append)
    assert len(sent) == 1
    assert len(sent[0].get_payload()) == 1  # html body only, no attachment


def test_pull_sql_dump_insert_text_inside_quoted_value(spark, tmp_path):
    """INSERT-like text inside a quoted value must not fabricate rows:
    the statement scanner resumes past the parsed data region, never
    inside it."""
    spath = str(tmp_path / "tricky.sql")
    with open(spath, "w") as f:
        f.write(
            "INSERT INTO logs VALUES "
            "(1, 'user ran: INSERT INTO t VALUES (9,8);');\n"
            "INSERT INTO logs VALUES (2, 'ok');\n"
        )
    df = pull(spark, spath)
    rows = sorted((tuple(r) for r in df.collect()), key=str)
    assert rows == [
        ("1", "user ran: INSERT INTO t VALUES (9,8);"),
        ("2", "ok"),
    ]


def test_inline_csv_int64_overflow_widens_to_double(spark):
    """An integer cell beyond long range widens to double (Spark itself
    widens rather than failing the read) instead of crashing
    createDataFrame with VALUE_OUT_OF_BOUNDS."""
    df = pull(spark, string="a\n12345678901234567890123\n5")
    assert dict(df.dtypes) == {"a": "double"}
    vals = sorted(r["a"] for r in df.collect())
    assert vals[0] == 5.0 and vals[1] > 1e22


def test_pull_http_json_minimal_opener_contract(spark, tmp_path, monkeypatch):
    """A minimal single-arg injected URL_OPENER is adapted to by
    SIGNATURE: no second fetch, and auth headers are never silently
    dropped — that combination refuses before touching the network."""
    import pybabe_spark.sources.io as io_mod
    from pybabe_spark.sources.connectors import pull_http_json
    from urllib.request import urlopen

    p = tmp_path / "api.json"
    p.write_text('[{"id": 1}]')
    calls = []

    def one_arg_opener(url):
        calls.append(url)
        return urlopen(url)

    monkeypatch.setattr(io_mod, "URL_OPENER", one_arg_opener)
    with pytest.raises(ValueError, match="URL_OPENER"):
        pull_http_json(spark, p.as_uri(), headers={"Authorization": "x"})
    assert calls == []  # refused BEFORE any unauthenticated request

    df = pull_http_json(spark, p.as_uri())
    assert [r["id"] for r in df.collect()] == [1]
    assert len(calls) == 1  # exactly one fetch, no TypeError-retry


def test_memoize_probe_error_propagates(spark, tmp_path, monkeypatch):
    """Only the marker-absent analysis error means 'cache miss'; a
    transient probe failure (credentials/network) propagates instead of
    silently recomputing and overwriting a valid cache."""
    from pyspark.errors import AnalysisException

    from pybabe_spark.operators.infra import _cache_complete
    import pyspark.sql.readwriter as rw

    def boom(self, path=None, **kw):
        raise AnalysisException("[ACCESS_DENIED] simulated credential failure")

    monkeypatch.setattr(rw.DataFrameReader, "load", boom)
    with pytest.raises(AnalysisException):
        _cache_complete(spark, str(tmp_path / "cache"))


def test_upsert_last_wins_and_null_keys(spark):
    """Duplicate update keys resolve last-wins by order; NULL keys match
    null-safely so a NULL-key update REPLACES the NULL-key base row."""
    from pybabe_spark.operators.merge import upsert

    base = spark.createDataFrame(
        [(1, "old"), (None, "old-null")], "k bigint, v string"
    )
    updates = spark.createDataFrame(
        [(1, "new1", 10), (1, "new2", 20), (None, "new-null", 30)],
        "k bigint, v string, ord bigint",
    )
    got = {
        r["k"]: r["v"]
        for r in upsert(
            base.withColumn("ord", F.lit(0)), updates, "k", order_by="ord"
        ).collect()
    }
    assert got == {1: "new2", None: "new-null"}

    # duplicates with no order to break the tie are rejected, not silent
    with pytest.raises(ValueError, match="duplicate keys"):
        upsert(base, updates.drop("ord").limit(2), "k")


def test_memoize_fingerprint_stable_across_rebuilds(spark):
    """The same pipeline built twice must fingerprint identically (expr
    ids are session-global counters), or the cache never hits; plans
    differing only in a literal must differ."""
    from pybabe_spark.operators.infra import _plan_fingerprint

    def build(limit):
        return (
            spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
            .filter(F.col("k") > limit)
            .select("v")
        )

    assert _plan_fingerprint(build(0)) == _plan_fingerprint(build(0))
    assert _plan_fingerprint(build(0)) != _plan_fingerprint(build(1))


def test_mail_handles_non_ascii(spark):
    """Body and attachment must survive as_string() (what smtplib sends)
    with non-ASCII cell values."""
    df = spark.createDataFrame([("café",), ("naïve",)], "s string")
    sent = []
    mail(df, "sübject", ["dev@example.com"], transport=sent.append)
    text = sent[0].as_string()  # raises UnicodeEncodeError if broken
    assert "base64" in text


def test_typedetect_unsampled_bad_value_nulls_not_crashes(spark):
    """Detection validates only a bounded sample; an unsampled
    unparseable value must become NULL (try_cast semantics) instead of
    failing the whole job under ANSI mode."""
    from pybabe_spark.functions.time import typedetect

    df = spark.createDataFrame(
        [("1",), ("2",), ("N/A",)], "x string"
    ).coalesce(1)
    out = typedetect(df, sample_rows=2)
    assert dict(out.dtypes)["x"] == "bigint"
    vals = [r["x"] for r in out.collect()]
    assert sorted(v for v in vals if v is not None) == [1, 2]
    assert vals.count(None) == 1


def test_parse_time_warn_keeps_observation_with_derived_columns(spark):
    """The documented _pybabe_parse_observation contract must survive
    output_date/output_hour (each withColumn returns a fresh frame)."""
    from pybabe_spark.functions.time import parse_time

    df = spark.createDataFrame([("2024/01/02",), ("garbage!?",)], "t string")
    out = parse_time(df, "t", on_error="WARN", output_date="d", output_hour="h")
    assert out.count() == 2
    assert out._pybabe_parse_observation.get["unparseable"] == 1


def test_parse_time_skip_keeps_null_inputs(spark):
    """SKIP drops only rows that FAILED to parse; a genuinely NULL input
    is not an error (same definition as FAIL/WARN)."""
    from pybabe_spark.functions.time import parse_time

    df = spark.createDataFrame(
        [("2024/01/02",), ("garbage!?",), (None,)], "t string"
    )
    out = parse_time(df, "t", on_error="SKIP")
    vals = [r["t"] for r in out.collect()]
    assert len(vals) == 2 and vals.count(None) == 1


def test_lenient_timestamp_day_first_minutes(spark):
    """European day-first dates with HH:mm (no seconds) parse like their
    yyyy-first and with-seconds siblings."""
    from pybabe_spark.functions.time import lenient_timestamp

    df = spark.createDataFrame(
        [("02/01/2024 03:04",), ("2024/01/02 03:04",)], "t string"
    )
    got = [str(r["p"]) for r in df.select(lenient_timestamp("t").alias("p")).collect()]
    assert got == ["2024-01-02 03:04:00", "2024-01-02 03:04:00"]


def test_sampling_accepts_small_integral_keys(spark):
    """simpleString() spells integral types tinyint/smallint/int/bigint;
    a smallint key must take the arithmetic hash path, not be rejected."""
    from pybabe_spark.operators.sampling import hash_sample

    df = spark.createDataFrame([(i,) for i in range(100)], "k int").select(
        F.col("k").cast("smallint").alias("k")
    )
    n = hash_sample(df, "k", 0.5).count()
    assert 20 <= n <= 80  # deterministic, roughly half


def test_memoize_fingerprint_distinguishes_hash_shaped_literals(spark):
    """Renumbering '#\\d+' tokens must not merge plans that differ only
    in a '#123'-shaped string LITERAL — a collision here would silently
    serve the wrong cached data."""
    from pybabe_spark.operators.infra import _plan_fingerprint

    def build(color):
        return spark.createDataFrame(
            [("#111111", 1), ("#222222", 2)], "color string, v bigint"
        ).filter(F.col("color") == color)

    assert _plan_fingerprint(build("#111111")) != _plan_fingerprint(build("#222222"))
    assert _plan_fingerprint(build("#111111")) == _plan_fingerprint(build("#111111"))


def test_parse_time_working_columns_never_clobber(spark):
    """WARN/SKIP working columns are generated collision-free: user
    columns named __parse_err/__parse_keep survive."""
    from pybabe_spark.functions.time import parse_time

    df = spark.createDataFrame(
        [("2024/01/02", "keep1"), ("garbage!?", "keep2")],
        "t string, __parse_keep string",
    ).withColumn("__parse_err", F.lit("user-data"))
    out = parse_time(df, "t", on_error="SKIP")
    assert [r["__parse_keep"] for r in out.collect()] == ["keep1"]
    warned = parse_time(df, "t", on_error="WARN")
    assert {r["__parse_err"] for r in warned.collect()} == {"user-data"}


def test_upsert_key_named_count(spark):
    """The duplicate-key check must work when a key column is literally
    named 'count' (the bare .count() agg would be ambiguous)."""
    from pybabe_spark.operators.merge import upsert

    base = spark.createDataFrame([(1, "a")], "count bigint, v string")
    updates = spark.createDataFrame([(1, "b")], "count bigint, v string")
    got = [(r["count"], r["v"]) for r in upsert(base, updates, "count").collect()]
    assert got == [(1, "b")]


@pytest.mark.deep
def test_memoize_fingerprint_stable_across_processes(spark, tmp_path):
    """The cross-session cache contract: a brand-new JVM/driver process
    (fresh expr-id counter, fresh jvmId UUIDs) computes the SAME
    fingerprint for the same pipeline."""
    import subprocess
    import sys

    from pybabe_spark.operators.infra import _plan_fingerprint

    src = str(tmp_path / "src.parquet")
    spark.range(50).selectExpr("id", "id * 2 AS v").write.parquet(src)
    here = _plan_fingerprint(
        spark.read.parquet(src).filter(F.col("v") > 10).select("id")
    )
    # the contract is same-CONFIG sessions (differing session confs can
    # legitimately analyze to different plans — a safe cache miss), so
    # the fresh process builds its session the same way conftest does
    code = f"""
import sys
sys.path.insert(0, {str(__import__('pathlib').Path(__file__).resolve().parent.parent)!r})
from pyspark.sql import functions as F
from pybabe_spark.session import get_spark
spark = get_spark("fp-probe", shuffle_partitions=8)
from pybabe_spark.operators.infra import _plan_fingerprint
print("FP:" + _plan_fingerprint(
    spark.read.parquet({src!r}).filter(F.col("v") > 10).select("id")
))
"""
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=240
    )
    assert proc.returncode == 0, proc.stderr[-1500:]
    there = [l for l in proc.stdout.splitlines() if l.startswith("FP:")][0][3:]
    assert there == here


def test_sequence_count_hand_checked(spark):
    """Non-overlapping leftmost counting, contiguous vs not, tie order."""
    from pybabe_spark.operators.group import sequence_count

    rows = []
    # user 1: V C P V C P  -> 2 matches (non-contig), with noise events
    seq1 = ["view", "error", "click", "purchase", "view", "click",
            "signup", "purchase"]
    rows += [(1, i, e) for i, e in enumerate(seq1)]
    # user 2: V V C P -> 1 (leftmost non-overlap)
    rows += [(2, i, e) for i, e in enumerate(
        ["view", "view", "click", "purchase"])]
    # user 3: P C V -> 0 (wrong order, dropped from output)
    rows += [(3, i, e) for i, e in enumerate(["purchase", "click", "view"])]
    df = spark.createDataFrame(
        rows, "user_id int, sec int, event_type string"
    ).selectExpr("user_id", "timestamp_seconds(sec) as ts", "event_type")

    got = {
        r["user_id"]: r["n_matches"]
        for r in sequence_count(df, ["view", "click", "purchase"]).collect()
    }
    assert got == {1: 2, 2: 1}

    # contiguous: user 1 has noise between steps -> only the 2nd run
    # (view,click at 4,5 is broken by signup) -> 0 matches; build a
    # clean contiguous user
    rows4 = [(4, i, e) for i, e in enumerate(
        ["view", "click", "purchase", "error", "view", "click", "purchase"])]
    df4 = spark.createDataFrame(
        rows + rows4, "user_id int, sec int, event_type string"
    ).selectExpr("user_id", "timestamp_seconds(sec) as ts", "event_type")
    got_c = {
        r["user_id"]: r["n_matches"]
        for r in sequence_count(
            df4, ["view", "click", "purchase"], contiguous=True
        ).collect()
    }
    assert got_c == {2: 1, 4: 2}


def test_transition_matrix_hand_checked(spark):
    from pybabe_spark.operators.group import transition_matrix

    rows = []
    # user 1: A A B ; user 2: A B  → from A: A×1, B×2 ; from B: nothing
    for u, seq in [(1, ["A", "A", "B"]), (2, ["A", "B"])]:
        rows += [(u, i, e) for i, e in enumerate(seq)]
    df = spark.createDataFrame(
        rows, "user_id int, sec int, event_type string"
    ).selectExpr("user_id", "timestamp_seconds(sec) as ts", "event_type")
    got = {
        (r["from_type"], r["to_type"]): (r["n"], r["p_ppm"])
        for r in transition_matrix(df).collect()
    }
    assert got == {
        ("A", "A"): (1, 333333),
        ("A", "B"): (2, 666666),
    }


def test_pseudonymize_deterministic_joinable_null_safe(spark):
    from pybabe_spark.functions.enrich import pseudonymize

    df = spark.createDataFrame(
        [(1, "alice"), (2, "bob"), (3, "alice"), (4, None)],
        "id int, name string",
    )
    out = {r["id"]: r["name"] for r in pseudonymize(df, "name", "s1").collect()}
    assert out[1] == out[3] and out[1] != out[2]   # joinability kept
    assert out[4] is None
    assert len(out[1]) == 16 and out[1] != "alice"
    # a different salt unlinks the datasets
    out2 = {r["id"]: r["name"] for r in pseudonymize(df, "name", "s2").collect()}
    assert out2[1] != out[1]


# -- path_counts (operators/group.py) -----------------------------------------


def test_path_counts_order_slice_and_ties(spark):
    from pybabe_spark.operators.group import path_counts

    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "c"),
        (2, 5, "a"), (2, 6, "b"), (2, 7, "c"),
        (3, 1, "x"), (3, 2, None), (3, 3, "y"),
        (4, 9, "x"), (4, 10, "y"),
    ]
    df = spark.createDataFrame(rows, "k int, ts int, s string")
    got = [(r["path"], r["n_keys"])
           for r in path_counts(df, "k", "ts", "s", k=10).collect()]
    # a>b>c twice; x>y twice (NULL step dropped for key 3);
    # count tie breaks by path string ascending
    assert got == [("a>b>c", 2), ("x>y", 2)]
    # max_steps slices the journey head
    got2 = [(r["path"], r["n_keys"])
            for r in path_counts(df, "k", "ts", "s", k=10,
                                 max_steps=2).collect()]
    assert got2 == [("a>b", 2), ("x>y", 2)]
