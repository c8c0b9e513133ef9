"""Universal pull/push: format+compression dispatch over DataFrameReader/Writer.

Reference semantics: ``pull`` (pybabe/base.py:361-450, format guess
base.py:345-358) resolves filename extension → (compression, format) and
dispatches to a format plugin; ``push`` (pybabe/base.py:463-567) mirrors it
for writes, with ``$var`` filename templates expanding to per-partition
files (base.py:509-527) — Spark's ``partitionBy`` directory layout.

Spark-first design: native readers handle csv/tsv/txt/json/parquet/orc/avro
and transparent ``.gz``; driver-side shims (clearly marked, small-data only)
cover xlsx/xls/html/sql-dump/zip, which have no distributed reader. All
distributed paths go through DataFrameReader so Catalyst sees the scan
(predicate pushdown + column pruning stay available).
"""

from __future__ import annotations

import io as _io
import os
import re
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Column name used for the engine-wide ingest-order convention.
#: PyBabe streams have deterministic file order (SURVEY §1.4); Spark does
#: not, so order-sensitive operators (dedup keep-first, join build-side
#: first-row, pivot value order, windowMap, skip/head) key off this column.
INGEST_ID = "__ingest_id"

#: pull(command=...) kills the child and raises once stdout crosses this
#: (patchable in tests; the read loop enforces it incrementally).
COMMAND_STDOUT_CAP = 256 * 1024 * 1024

#: URL schemes pull() fetches / push() uploads driver-side.
_FETCH_SCHEMES = ("http://", "https://", "ftp://")


def _default_url_opener(url: str, timeout: float = 120, headers=None):
    from urllib.request import Request, urlopen

    if headers:
        return urlopen(Request(url, headers=headers), timeout=timeout)
    return urlopen(url, timeout=timeout)


#: injectable transport for URL pulls (swap in tests / restricted envs),
#: mirroring mail()'s injectable-transport pattern.
URL_OPENER = _default_url_opener


def _default_url_stat(url: str) -> str | None:
    """Remote version tag (etag) for ``url``, or None when unknown —
    the metadata-before-download probe the reference got from
    ``bucket.list`` etags (pybabe/protocol_s3.py:34-47,96-99). The
    default issues one HEAD request and reads ``ETag`` (falling back
    to ``Last-Modified``); injectable like URL_OPENER so tests and
    custom stores can supply their own."""
    from urllib.error import URLError
    from urllib.request import Request, urlopen

    if not url.startswith(("http://", "https://")):
        return None  # ftp has no cheap metadata probe
    try:
        with urlopen(Request(url, method="HEAD"), timeout=30) as resp:
            tag = resp.headers.get("ETag") or resp.headers.get(
                "Last-Modified"
            )
            return tag.strip('"') if tag else None
    except (URLError, OSError):
        return None


#: injectable metadata probe for the pull-side download cache.
URL_STAT = _default_url_stat


def _default_url_pusher(url: str, local_path: str, timeout: float = 120):
    """Upload a staged local file to ``url`` — ftp STOR
    (pybabe/protocol_ftp.py:6-18) or http(s) PUT
    (pybabe/protocol_http.py:22-33)."""
    from urllib.parse import unquote, urlparse

    u = urlparse(url)
    if u.scheme == "ftp":
        from ftplib import FTP

        ftp = FTP()
        ftp.connect(u.hostname or "", u.port or 21, timeout=timeout)
        ftp.login(unquote(u.username or ""), unquote(u.password or ""))
        try:
            with open(local_path, "rb") as f:
                ftp.storbinary(f"STOR {u.path.lstrip('/')}", f)
        finally:
            ftp.quit()
        return
    from urllib.request import Request, urlopen

    with open(local_path, "rb") as f:
        req = Request(url, data=f.read(), method="PUT")
    with urlopen(req, timeout=timeout) as resp:
        resp.read()


#: injectable transport for URL pushes (swap in tests / restricted
#: envs) — the upload twin of URL_OPENER.
URL_PUSHER = _default_url_pusher


def _raise_if_missing_avro(exc: Exception, fmt: str):
    """spark-avro is an external module (Spark's packaging choice since
    2.4); turn its lookup failure into an actionable error."""
    if fmt == "avro" and "data source" in str(exc).lower():
        raise RuntimeError(
            "avro needs the spark-avro package "
            "(spark.jars.packages=org.apache.spark:spark-avro_2.13:<ver>); "
            "not bundled in this environment"
        ) from exc
    raise exc


#: driver-local spool files that back lazily-scanned DataFrames — they
#: must outlive the pull() call (Spark reads the path at action time),
#: so they are reclaimed in one atexit pass instead of eagerly.
_TEMP_SPOOLS: list[str] = []


def _register_temp_spool(path: str) -> str:
    if not _TEMP_SPOOLS:
        import atexit

        atexit.register(_cleanup_temp_spools)
    _TEMP_SPOOLS.append(path)
    return path


def _cleanup_temp_spools() -> None:
    while _TEMP_SPOOLS:
        try:
            os.unlink(_TEMP_SPOOLS.pop())
        except OSError:
            pass


def _fetch_url_to_temp(url: str, cap: int | None = None) -> str:
    """Stream a remote single-file source to a local temp file, chunked
    and size-capped (same incremental cap as pull(command=...)); the
    remote basename is kept as the suffix so guess_format still sees the
    real extension."""
    import tempfile

    cap = COMMAND_STDOUT_CAP if cap is None else cap
    base = os.path.basename(url.split("?", 1)[0]) or "download"
    fd, tmp = tempfile.mkstemp(suffix="_" + base)
    read = 0
    try:
        with os.fdopen(fd, "wb") as out, URL_OPENER(url) as resp:
            while chunk := resp.read(1 << 20):
                read += len(chunk)
                if read > cap:
                    raise ValueError(
                        f"pull({url!r}): response exceeds {cap} bytes; "
                        "stage it on a distributed store instead")
                out.write(chunk)
    except Exception:
        os.unlink(tmp)
        raise
    return _register_temp_spool(tmp)


def _fetch_url_maybe_cached(
    url: str, cache: bool | None, cache_dir: str | None
) -> str:
    """Stage ``url`` locally, through the etag-keyed FileCache when
    caching is on (``cache=True`` kwarg, or the reference's ``[s3]
    cache`` config switch — pybabe/protocol_s3.py:89-111). A cache HIT
    never touches the network; an unknown etag (URL_STAT → None)
    bypasses the cache rather than risk serving a stale copy."""
    import tempfile

    from pybabe_spark.sources.config import get_config

    if cache is None:
        cache = str(
            get_config("s3", "cache", default="false")
        ).lower() in ("1", "true", "yes", "on")
    if not cache:
        return _fetch_url_to_temp(url)
    etag = URL_STAT(url)
    if not etag:
        return _fetch_url_to_temp(url)
    if cache_dir is None:
        cache_dir = get_config(
            "s3",
            "cache_dir",
            default=os.path.join(
                tempfile.gettempdir(),
                f"pybabe-fetch-cache-{os.getenv('USER', 'spark')}",
            ),
        )
    from pybabe_spark.sources.filecache import FileCache

    fc = FileCache(cache_dir)
    base = os.path.basename(url.split("?", 1)[0]) or "download"
    name = f"{base}-{etag.replace('/', '_')}"

    def _fetch(tmp_path: str) -> None:
        import shutil

        staged = _fetch_url_to_temp(url)
        # shutil.move, not os.replace: the cache_dir may live on a
        # different filesystem than the temp spool (os.replace raises
        # EXDEV across mounts; move falls back to copy+unlink)
        shutil.move(staged, tmp_path)

    return fc.lookup(name, _fetch)

# extension → (format, is_compression) — mirrors pybabe/base.py:345-358's
# two-level guess (compress extension first, then format extension).
_COMPRESS_EXTS = {"gz", "gzip", "bz2", "zst", "zip"}
_FORMAT_EXTS = {
    "csv": "csv",
    "tsv": "tsv",
    "txt": "txt",
    "json": "json",
    "jsonl": "json",
    "ndjson": "json",
    "parquet": "parquet",
    "pq": "parquet",
    "orc": "orc",
    "avro": "avro",
    "xlsx": "xlsx",
    "xls": "xls",
    "html": "html",
    "htm": "html",
    "sql": "sql",
}


def guess_format(filename: str) -> tuple[str | None, str | None]:
    """Return (format, compress_format) from the filename extensions.

    Mirrors pybabe/base.py:345-358: ``data.csv.gz`` → ('csv', 'gz').
    """
    parts = filename.split(".")
    compress = None
    if len(parts) > 1 and parts[-1].lower() in _COMPRESS_EXTS:
        compress = parts[-1].lower()
        parts = parts[:-1]
    fmt = _FORMAT_EXTS.get(parts[-1].lower()) if len(parts) > 1 else None
    return fmt, compress


def keynormalize(key: str) -> str:
    """Normalize a column name to a valid python identifier
    (pybabe/base.py:74-82): join word groups with '_', strip a leading
    '_', prefix 'd_' when starting with a digit.

    >>> keynormalize('Payant/Gratuit')
    'Payant_Gratuit'
    """
    s = "_".join(re.findall(r"\w+", key))
    if s.startswith("_"):
        s = s[1:]
    if s and s[0].isdigit():
        s = "d_" + s
    return s


def normalize_columns(df: DataFrame) -> DataFrame:
    """Apply :func:`keynormalize` to every column name."""
    return df.toDF(*[keynormalize(c) for c in df.columns])


def with_ingest_id(df: DataFrame) -> DataFrame:
    """Attach the ingest-order column if absent.

    ``monotonically_increasing_id`` is monotone within a partition and
    partition-major across them, which matches "file order" for a
    deterministic scan; it never shuffles and never collects.
    """
    if INGEST_ID in df.columns:
        return df
    return df.withColumn(INGEST_ID, F.monotonically_increasing_id())


def drop_ingest_id(df: DataFrame) -> DataFrame:
    if INGEST_ID in df.columns:
        return df.drop(INGEST_ID)
    return df


def in_ingest_order(df: DataFrame) -> DataFrame:
    """Sort by the ingest id (when present) and drop it — terminal
    helpers use this so output order matches input order, the reference's
    stream contract (SURVEY §1.4)."""
    if INGEST_ID in df.columns:
        return df.orderBy(F.col(INGEST_ID)).drop(INGEST_ID)
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md contract).

    ``events.ts`` has shipped as TIMESTAMP(NANOS) (Spark's vectorized
    reader rejects it — read as long and convert, truncation matches
    DuckDB's ns→us cast) and as TIMESTAMP(MICROS) without a UTC flag
    (inferred TIMESTAMP_NTZ, which ``unix_micros``/windows reject — cast
    to the session type; exact because the session timezone is UTC).
    Either way downstream operators see one canonical TIMESTAMP type.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def read_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: read_table(spark, sf_dir, n) for n in names}


# ---------------------------------------------------------------------------
# pull
# ---------------------------------------------------------------------------

def pull(
    spark: SparkSession,
    filename: str | None = None,
    *,
    string: str | None = None,
    command: list[str] | None = None,
    format: str | None = None,
    encoding: str | None = None,
    fields: list[str] | None = None,
    separator: str | None = None,
    null_value: str | None = None,
    ignore_bad_lines: bool = False,
    header: bool = True,
    infer_schema: bool = True,
    ingest_id: bool = False,
    utf8_cleanup: bool = False,
    normalize_fields: bool = False,
    schema: str | None = None,
    multiline: bool = False,
    cache: bool | None = None,
    cache_dir: str | None = None,
    **options: str,
) -> DataFrame:
    """Universal source (pybabe/base.py:361-450).

    - ``filename`` may be a local path, a glob, or any Hadoop-FS URI
      (``s3a://bucket/key*.csv.gz`` covers the reference's s3 protocol
      plugin + glob matching, pybabe/protocol_s3.py:34-50, natively).
    - ``string`` is the inline-literal source (pybabe/base.py:390-392).
    - ``ignore_bad_lines`` maps the reference's csv error policy
      (pybabe/format_csv.py:34,42-46) onto DROPMALFORMED/PERMISSIVE.
    - ``multiline=True`` reads quoted embedded newlines like python's
      csv module (the reference's reader); costs file splittability, so
      it is opt-in — prefer parquet/json for such data at scale.
    - ``.gz`` is read transparently by Spark; ``.zip`` falls back to a
      driver-side shim (single-member archives only, like
      pybabe/compress_zip.py:7-23).
    """
    # fields= means the data is HEADERLESS and these are the column names
    # (pybabe/format_csv.py:32-36: the first row is only consumed as a
    # header when fields is absent) — uniform across every source branch,
    # so the same data never yields different row counts per branch
    if fields is not None:
        header = False

    def _finish_local(df: DataFrame) -> DataFrame:
        """Uniform post-processing for the driver-local source branches
        (string/command/zip/excel/sql-dump), so fields=/utf8_cleanup=/
        normalize_fields=/ingest_id= behave identically to the file
        path instead of being silently ignored per branch. One
        partition: driver-local data is small by construction and a
        single partition keeps stream order for the ingest id."""
        if fields:
            df = df.toDF(*fields)
        if utf8_cleanup:
            from pybabe_spark.functions.enrich import utf8_cleanup as _fix

            for c, t in df.dtypes:
                if t == "string":
                    df = df.withColumn(c, _fix(c))
        if normalize_fields:
            df = normalize_columns(df)
        return with_ingest_id(df.coalesce(1)) if ingest_id else df

    if command is not None:
        # command-stdout source (pybabe/base.py:361-450's command= mode):
        # driver-side by nature, like the reference's subprocess pipe;
        # stdout is read in chunks and the child is killed the moment the
        # 256 MB cap is crossed, so a runaway command cannot OOM the driver
        import subprocess

        cap = COMMAND_STDOUT_CAP
        proc = subprocess.Popen(command, stdout=subprocess.PIPE)
        chunks: list[bytes] = []
        read = 0
        try:
            assert proc.stdout is not None
            while chunk := proc.stdout.read(1024 * 1024):
                read += len(chunk)
                if read > cap:
                    proc.kill()
                    raise ValueError(
                        "pull(command=...): stdout exceeds 256 MB; "
                        "write to a file and pull that instead")
                chunks.append(chunk)
            rc = proc.wait(timeout=300)
        finally:
            if proc.poll() is None:
                proc.kill()
        if rc != 0:
            raise subprocess.CalledProcessError(rc, command)
        out = b"".join(chunks).decode(encoding or "utf-8")
        df = _pull_string(spark, out, format or "csv", separator=separator,
                          header=header, infer_schema=infer_schema)
        return _finish_local(df)
    if string is not None:
        df = _pull_string(spark, string, format or "csv", separator=separator,
                          header=header, infer_schema=infer_schema)
        return _finish_local(df)
    if filename is None:
        raise ValueError("pull() needs filename=, string=, or command=")

    if filename.startswith(_FETCH_SCHEMES):
        # http(s)/ftp single-file sources (pybabe/protocol_http.py:7-33,
        # pybabe/protocol_ftp.py:6-34): driver-side streamed fetch to a
        # temp file — same shape as the reference's urllib pull — then
        # the local path flows through the normal format/compress
        # dispatch (so .csv.gz / .zip URLs work). Distributed stores
        # (s3a://, hdfs://) are NOT fetched: Spark reads those natively
        # executor-side; this path is for the odd single-file endpoint.
        # cache=True (or ``[s3] cache`` in pybabe.cfg, the reference's
        # switch — protocol_s3.py:89-95) keeps an etag-keyed local copy
        # so an unchanged remote object is never re-downloaded.
        filename = _fetch_url_maybe_cached(filename, cache, cache_dir)

    fmt_guess, compress = guess_format(filename)
    fmt = format or fmt_guess or "csv"

    if compress == "zip":
        return _finish_local(
            _pull_zip(spark, filename, fmt, separator=separator, header=header,
                      infer_schema=infer_schema, encoding=encoding)
        )
    if fmt in ("xlsx", "xls"):
        return _finish_local(_pull_excel(spark, filename))
    if fmt == "sql":
        return _finish_local(_pull_sql_dump(spark, filename))

    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    sep = separator or ("\t" if fmt == "tsv" else ",")
    if fmt in ("csv", "tsv"):
        reader = (
            reader.format("csv")
            .option("header", str(header).lower())
            .option("sep", sep)
            .option("inferSchema", str(infer_schema).lower())
            .option("mode", "DROPMALFORMED" if ignore_bad_lines else "PERMISSIVE")
            # python-csv parity: a quoted cell's surrounding spaces are data
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
        )
        if multiline:
            # quoted embedded newlines (python csv reads them natively);
            # costs file splittability, so opt-in — at 100 TB keep data
            # with embedded newlines in parquet/json, not csv
            reader = reader.option("multiLine", "true")
        if encoding:
            reader = reader.option("encoding", encoding)
            # Spark's line-splitting CSV fast path assumes newline bytes
            # are unambiguous, which only holds for UTF-8-compatible
            # charsets; multi-byte encodings (UTF-16/32) must decode the
            # file as a whole. Costs splittability — per-file parallelism
            # only — which matches the reference's per-file decode.
            if encoding.upper().replace("-", "").replace("_", "") not in (
                "UTF8", "ASCII", "LATIN1", "ISO88591",
            ):
                reader = reader.option("multiLine", "true")
        if null_value is not None:
            reader = reader.option("nullValue", null_value)
    elif fmt == "txt":
        # one column `text` per line (pybabe/format_txt.py:6-30)
        df = (
            spark.read.format("text").options(**options).load(filename)
            .withColumnRenamed("value", "text")
        )
        if fields:
            df = df.toDF(*fields)
        if utf8_cleanup:
            from pybabe_spark.functions.enrich import utf8_cleanup as _fix

            for c, t in df.dtypes:
                if t == "string":
                    df = df.withColumn(c, _fix(c))
        if normalize_fields:
            df = normalize_columns(df)
        return with_ingest_id(df) if ingest_id else df
    else:
        reader = reader.format(fmt)
    for k, v in options.items():
        reader = reader.option(k, v)
    try:
        df = reader.load(filename)
    except Exception as exc:
        _raise_if_missing_avro(exc, fmt)
    if fields:
        df = df.toDF(*fields)
    if utf8_cleanup:
        from pybabe_spark.functions.enrich import utf8_cleanup as _fix

        for c, t in df.dtypes:
            if t == "string":
                df = df.withColumn(c, _fix(c))
    if normalize_fields:
        df = normalize_columns(df)
    return with_ingest_id(df) if ingest_id else df


_CSV_INT_RE = re.compile(r"[+-]?\d+\Z")
#: Java Double.parseDouble grammar (what Spark's CSV inference uses):
#: plain/scientific decimals plus the exact tokens NaN / Infinity; NOT
#: Python float()'s extras (underscores, 'inf', arbitrary case)
_CSV_DOUBLE_RE = re.compile(
    r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?\Z|[+-]?(NaN|Infinity)\Z"
)


def _csv_cell_type(cell: str) -> str:
    """One cell's inferred type, mirroring Spark's CSV lattice (int →
    double → boolean → string). Integer parsing is strict (no padding,
    like Long.parseLong); double parsing follows Double.parseDouble's
    grammar — which ignores surrounding whitespace — NOT Python's
    float() (whose underscore/'inf' extras would corrupt values the JVM
    keeps as strings)."""
    if _CSV_INT_RE.match(cell):
        # Long.parseLong range only; wider integers widen to double (Spark
        # itself would widen to decimal/double rather than fail the read)
        if -(2**63) <= int(cell) <= 2**63 - 1:
            return "bigint"
        return "double"
    if _CSV_DOUBLE_RE.match(cell.strip()):
        return "double"
    if cell in ("true", "false", "True", "False"):
        return "boolean"
    return "string"


def _csv_merge_type(a: str | None, b: str) -> str:
    if a is None or a == b:
        return b
    if {a, b} == {"bigint", "double"}:
        return "double"
    return "string"


_CSV_CASTS = {
    "bigint": int,
    "double": float,
    "boolean": lambda c: c.lower() == "true",
    "string": lambda c: c,
}


def _pull_string(spark, text, fmt, *, separator=None, header=True, infer_schema=True):
    """Inline string source (pybabe/base.py:390-392).

    Parsed driver-side (the string is driver-born and small by
    definition) and shipped WITH the plan via ``createDataFrame`` — no
    temp-file spool (whose driver-local path executors or a remote
    Connect server could not resolve) and no ``.rdd`` surface. Type
    inference mirrors Spark's CSV lattice: per-cell int/double/boolean/
    string, merged per column (int widens to double, conflicts fall back
    to string), empty cells read as null."""
    sep = separator or ("\t" if fmt == "tsv" else ",")
    lines = [l for l in text.splitlines() if l.strip()]
    if fmt == "txt":
        return spark.createDataFrame([(l,) for l in lines], "text string")
    import csv as _csv

    rows = list(_csv.reader(lines, delimiter=sep))
    if not rows:
        return spark.createDataFrame([], "value string")
    if header:
        names, data_rows = rows[0], rows[1:]
    else:
        names, data_rows = [f"_c{i}" for i in range(len(rows[0]))], rows
    width = len(names)
    norm = [(r + [""] * (width - len(r)))[:width] for r in data_rows]
    types: list[str] = []
    for i in range(width):
        t: str | None = None
        if infer_schema:
            for r in norm:
                if r[i] != "":
                    t = _csv_merge_type(t, _csv_cell_type(r[i]))
        types.append(t or "string")
    casts = [_CSV_CASTS[t] for t in types]
    typed = [
        tuple(None if c == "" else cast(c) for c, cast in zip(r, casts))
        for r in norm
    ]
    ddl = ", ".join(f"`{n}` {t}" for n, t in zip(names, types))
    return spark.createDataFrame(typed, ddl)


def _pull_zip(spark, filename, fmt, *, separator=None, header=True,
              infer_schema=True, encoding=None):
    """Driver-side zip shim (single member, like pybabe/compress_zip.py:7-23).

    Zip is not a splittable/distributed codec; this path is explicitly for
    small side files, matching the reference's own single-member constraint.
    """
    with zipfile.ZipFile(filename) as z:
        names = z.namelist()
        if not names:
            raise ValueError(f"empty zip archive: {filename}")
        data = z.read(names[0]).decode(encoding or "utf-8")
    return _pull_string(spark, data, fmt, separator=separator, header=header,
                        infer_schema=infer_schema)


def _pull_excel(spark, filename):
    """Driver-side excel shim (pybabe/format_xlsx.py:16-49; legacy
    binary ``.xls`` per pybabe/format_xls.py:10-28).

    Excel files are inherently small single-machine artifacts; parse with
    pandas on the driver then parallelize. pandas needs a per-format
    engine dependency — ``openpyxl`` for ``.xlsx``, ``xlrd`` for
    2003-era ``.xls`` — and raises ImportError from ``read_excel`` when
    it is absent; surface the engine's clear NotImplementedError naming
    the right package instead of a bare pandas traceback.
    """
    eng = "xlrd" if str(filename).lower().endswith(".xls") else "openpyxl"
    try:
        import pandas as pd
        pdf = pd.read_excel(filename)
    except ImportError as e:
        raise NotImplementedError(
            f"excel pull of {os.path.basename(str(filename))} requires "
            f"pandas+{eng} on the driver (not installed)"
        ) from e
    return spark.createDataFrame(pdf)


#: statement HEADER only — the tuple state machine consumes the values
#: from the header's end to the first top-level ';', so multi-statement
#: dumps parse statement-by-statement and a later statement's column
#: list can't be mistaken for a data tuple (the old whole-statement
#: regex anchored ';\\s*$' at end-of-string under DOTALL, spanning every
#: statement in a real multi-INSERT dump)
_SQL_INSERT_RE = re.compile(
    r"INSERT\s+INTO\s+`?(?P<table>\w+)`?(?:\s*\([^)]*\))?\s+VALUES\s*",
    re.IGNORECASE,
)


def _parse_sql_tuples(values: str, start: int = 0) -> tuple[list[list], int]:
    """Parse `(a,b),(c,d)` tuple lists with quote/escape handling,
    stopping at the first top-level ``;`` (statement terminator).
    Returns ``(rows, end)`` where ``end`` is the index just past the
    consumed statement, so the caller resumes scanning AFTER the data
    region — a quoted value containing ``INSERT INTO ... VALUES`` text
    must never be re-matched as a statement header.

    Reference: pybabe/format_sql.py:6-82 (state-machine tuple parser).
    """
    rows, cur, field = [], [], []
    i, n = start, len(values)
    in_str = False
    was_quoted = False
    in_tuple = False
    while i < n:
        c = values[i]
        if in_str:
            if c == "\\" and i + 1 < n:
                field.append(values[i + 1])
                i += 2
                continue
            if c == "'":
                if i + 1 < n and values[i + 1] == "'":
                    field.append("'")
                    i += 2
                    continue
                in_str = False
            else:
                field.append(c)
        elif c == "'":
            in_str = True
            was_quoted = True
        elif c == "(":
            cur, field = [], []
            was_quoted = False
            in_tuple = True
        elif c in ",)" and in_tuple:
            tok = "".join(field).strip()
            cur.append(None if tok.upper() == "NULL" and not was_quoted else tok)
            field = []
            was_quoted = False
            if c == ")":
                rows.append(cur)
                in_tuple = False
        elif c == ";" and not in_tuple:
            i += 1
            break
        elif in_tuple and not c.isspace():
            field.append(c)
        i += 1
    return rows, i


def _pull_sql_dump(spark, filename):
    """Parse a mysqldump-style `INSERT INTO ... VALUES ...;` file.

    Driver reads + regex-extracts statements, executors get the parsed rows.
    For large dumps, prefer spark.read.text + the same parser in mapInPandas;
    dumps in the reference's scope (pybabe/format_sql.py) are small files.
    """
    with open(filename, encoding="utf-8", errors="replace") as f:
        content = f.read()
    all_rows = []
    pos = 0
    while (m := _SQL_INSERT_RE.search(content, pos)) is not None:
        rows, end = _parse_sql_tuples(content, start=m.end())
        all_rows.extend(rows)
        pos = max(end, m.end())
    if not all_rows:
        raise ValueError(f"no INSERT statements found in {filename}")
    width = max(len(r) for r in all_rows)
    cols = [f"c{i}" for i in range(width)]
    norm = [r + [None] * (width - len(r)) for r in all_rows]
    return spark.createDataFrame(norm, cols)


# ---------------------------------------------------------------------------
# push
# ---------------------------------------------------------------------------

def _stage_single_local_file(
    df: DataFrame,
    basename: str,
    *,
    format: str | None = None,
    header: bool = True,
    separator: str | None = None,
    encoding: str | None = None,
    **options: str,
) -> str:
    """Materialize ``df`` as ONE driver-local file named ``basename``
    (the reference's push staging, pybabe/base.py:541-562) and return
    its path. Handles zip, the driver-side formats (xlsx/html), and
    every distributed format via a single-task write whose part file is
    renamed into place. Driver-local by nature — the same small-export
    contract as ``single_file=True``; capped at COMMAND_STDOUT_CAP."""
    import shutil
    import tempfile

    fmt_guess, compress = guess_format(basename)
    fmt = format or fmt_guess or "csv"
    d = tempfile.mkdtemp(prefix="pybabe_stage_")
    target = os.path.join(d, basename)
    if compress == "zip":
        _write_zip(df, target, fmt, header=header, separator=separator,
                   encoding=encoding, **options)
    elif fmt in ("xlsx", "xls", "html"):
        _push_driver_side(df, target, fmt)
    else:
        outdir = os.path.join(d, "stage")
        push(df, outdir, format=fmt, single_file=True, mode="overwrite",
             compression="gzip" if compress in ("gz", "gzip") else None,
             header=header, separator=separator, encoding=encoding,
             **options)
        parts = [p for p in os.listdir(outdir)
                 if p.startswith("part-") and not p.endswith(".crc")]
        if len(parts) != 1:  # pragma: no cover - single_file guarantees 1
            raise RuntimeError(
                f"staging produced {len(parts)} part files, expected 1"
            )
        shutil.move(os.path.join(outdir, parts[0]), target)
        shutil.rmtree(outdir, ignore_errors=True)
    size = os.path.getsize(target)
    if size > COMMAND_STDOUT_CAP:
        raise ValueError(
            f"push staging: {basename} is {size} bytes (> "
            f"{COMMAND_STDOUT_CAP}); remote/zip push is a driver-side "
            "single-file path — write to a distributed store instead"
        )
    return target


def _write_zip(
    df: DataFrame,
    filename: str,
    fmt: str,
    *,
    header: bool = True,
    separator: str | None = None,
    encoding: str | None = None,
    **options: str,
) -> None:
    """Single-member zip write (pybabe/compress_zip.py:7-14 +
    base.py:553-556's member naming): ``data.csv.zip`` holds member
    ``data.csv``; ``data.zip`` holds ``data.<fmt>``. Driver-side by
    nature — zip is not a distributed codec (same contract as the zip
    read shim)."""
    inner = os.path.basename(filename)
    if inner.lower().endswith(".zip"):
        inner = inner[:-4]
    if "." not in inner:
        inner = f"{inner}.{fmt}"
    staged = _stage_single_local_file(
        df, inner, format=fmt, header=header, separator=separator,
        encoding=encoding, **options,
    )
    try:
        with zipfile.ZipFile(filename, "w", zipfile.ZIP_DEFLATED) as z:
            z.write(staged, inner)
    finally:
        try:
            os.unlink(staged)
        except OSError:  # pragma: no cover
            pass


def push(
    df: DataFrame,
    filename: str,
    *,
    format: str | None = None,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    ignore_if_exists: bool = False,
    compression: str | None = None,
    header: bool = True,
    separator: str | None = None,
    encoding: str | None = None,
    single_file: bool = False,
    **options: str,
) -> None:
    """Universal sink (pybabe/base.py:463-567).

    - ``partition_by`` replaces the reference's ``$var`` filename templates
      (base.py:509-527): one directory per partition value.
    - ``ignore_if_exists`` → mode('ignore') (base.py:501-507).
    - compression guessed from extension (``.csv.gz`` → gzip) or passed.
    - ``single_file=True`` coalesces to 1 output task — only for small
      exports (the reference always wrote a single local file).
    - ``mode='overwrite_partitions'``: replace ONLY the partitions present
      in ``df``, keep the rest — the reference's per-partition DELETE +
      reload semantic (pybabe/sql.py:253-342 ``delete_partition``), here
      via Spark's dynamic partition overwrite (no full-table rewrite; at
      100 TB this is the difference between touching one day and
      rewriting the lake).
    - ``ftp://`` / ``http(s)://`` targets upload: stage ONE driver-local
      file, then ship via the injectable ``URL_PUSHER`` (ftp STOR /
      http PUT — pybabe/protocol_ftp.py:6-18, protocol_http.py:22-33).
      Driver-side single-file by nature, size-capped; distributed
      stores (s3a://, hdfs://) stay native Spark writes.
    - ``.zip`` targets write a single-member archive
      (pybabe/compress_zip.py:7-14) — driver-side, like the zip read.
    """
    if filename.startswith(_FETCH_SCHEMES):
        import shutil

        if partition_by:
            raise ValueError(
                "push: remote-protocol targets are single-file uploads; "
                "partition_by is not supported — write to a "
                "distributed store instead"
            )
        base = os.path.basename(filename.split("?", 1)[0]) or "upload"
        staged = _stage_single_local_file(
            df, base, format=format, header=header,
            separator=separator, encoding=encoding, **options,
        )
        try:
            URL_PUSHER(filename, staged)
        finally:
            shutil.rmtree(os.path.dirname(staged), ignore_errors=True)
        return
    fmt_guess, compress = guess_format(filename)
    fmt = format or fmt_guess or "parquet"
    if compress == "zip":
        if partition_by:
            raise ValueError(
                "push: zip targets are single-member archives; "
                "partition_by is not supported"
            )
        _write_zip(
            df, filename, format or fmt_guess or "csv", header=header,
            separator=separator, encoding=encoding, **options,
        )
        return
    if compression is None and compress in ("gz", "gzip"):
        compression = "gzip"
    if ignore_if_exists:
        mode = "ignore"

    dynamic_overwrite = mode == "overwrite_partitions"
    if dynamic_overwrite:
        if not partition_by:
            raise ValueError("overwrite_partitions requires partition_by")
        mode = "overwrite"

    if fmt in ("xlsx", "xls", "html"):
        _push_driver_side(df, filename, fmt)
        return

    out = drop_ingest_id(df)
    if single_file:
        out = out.coalesce(1)
    writer = out.write.mode(mode)
    if dynamic_overwrite:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt in ("csv", "tsv"):
        writer = (
            writer.format("csv")
            .option("header", str(header).lower())
            .option("sep", separator or ("\t" if fmt == "tsv" else ","))
            # python-csv parity: never trim cell whitespace on write
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
        )
        if encoding:
            writer = writer.option("encoding", encoding)
    elif fmt == "txt":
        writer = writer.format("text")
    else:
        writer = writer.format(fmt)
    if compression:
        writer = writer.option("compression", compression)
    for k, v in options.items():
        writer = writer.option(k, v)
    try:
        writer.save(filename)
    except Exception as exc:
        _raise_if_missing_avro(exc, fmt)


def _push_driver_side(df: DataFrame, filename: str, fmt: str, row_limit: int = 1_000_000):
    """Driver-side sinks for formats with no distributed writer.

    html rendering mirrors pybabe/format_html.py:18-47; excel mirrors
    pybabe/format_xlsx.py:16-31. Guarded by a row limit because these
    are driver-local by nature (SURVEY §7.3).
    """
    # one job: collect limit+1 rows and check the overflow sentinel
    pdf = df.limit(row_limit + 1).toPandas()
    if len(pdf) > row_limit:
        raise ValueError(f"{fmt} push is driver-side; refusing > {row_limit} rows")
    if fmt == "html":
        pdf.to_html(filename, index=False)
    else:
        pdf.to_excel(filename, index=False)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed table write: pre-shuffle once so later joins/aggregations
    on the bucket keys are shuffle-free (co-located). The scale tool for
    a fact table joined repeatedly on the same key — at 100 TB the saved
    exchange dominates everything else.

    Bucketing requires ``saveAsTable`` (metastore-tracked); ``path``
    makes it an external table.
    """
    out = drop_ingest_id(df)
    writer = out.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def to_string(df: DataFrame, *, format: str = "csv", row_limit: int = 100_000) -> str:
    """Render to a CSV string (pybabe/base.py:330-333) — test oracle helper."""
    pdf = df.limit(row_limit).toPandas()
    buf = _io.StringIO()
    pdf.to_csv(buf, index=False)
    return buf.getvalue()


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Range-partitioned, sorted parquet layout for data skipping.

    ``repartitionByRange`` gives each output file a disjoint key range and
    ``sortWithinPartitions`` orders rows inside it, so parquet row-group
    min/max statistics let selective scans skip whole files — at 100 TB
    a date- or id-range query touches one file in ``num_files`` instead
    of all of them. (Single-dimension analogue of Z-ordering.)
    """
    out = drop_ingest_id(df)
    cols = [F.col(c) for c in sort_cols]
    (
        out.repartitionByRange(num_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def zorder_value(df: DataFrame, cols: list[str], bits: int = 8) -> "tuple[DataFrame, str]":
    """Append a Z-order (Morton) key interleaving ``bits``-bit quantile
    buckets of each column; returns (df_with_key, key_col_name).

    Bucket boundaries come from one bounded ``approxQuantile`` pass per
    column (driver holds 2^bits numbers per column — constant), then the
    bucket index and bit interleave are pure codegen arithmetic. Used by
    :func:`write_zorder`.
    """
    n_buckets = 1 << bits
    out = df
    bucket_cols = []
    for c in cols:
        qs = df.approxQuantile(c, [i / n_buckets for i in range(1, n_buckets)], 0.001)
        b = F.lit(0)
        for q in qs:
            b = b + F.when(F.col(c).cast("double") > F.lit(q), 1).otherwise(0)
        name = f"__zb_{c}"
        out = out.withColumn(name, b.cast("int"))
        bucket_cols.append(name)
    z = F.lit(0)
    for i in range(bits):
        for j, bc in enumerate(bucket_cols):
            z = z + F.shiftleft(
                F.shiftright(F.col(bc), i).bitwiseAND(F.lit(1)),
                i * len(bucket_cols) + j,
            )
    out = out.withColumn("__zval", z.cast("long")).drop(*bucket_cols)
    return out, "__zval"


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int = 8,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet layout: multi-column data skipping.

    Range-sorting on one column leaves every other column spanning its
    full range in each file; interleaving quantile-bucket bits (Morton
    order) keeps EVERY clustered column's per-file min/max narrow, so
    selective predicates on any of them skip files (the Delta/Iceberg
    OPTIMIZE ZORDER idea, built from repartitionByRange + sort). At
    100 TB: one quantile pass + one range shuffle, both data-linear.
    """
    out = drop_ingest_id(df)
    out, zcol = zorder_value(out, cols, bits)
    (
        out.repartitionByRange(num_files, F.col(zcol))
        .sortWithinPartitions(zcol)
        .drop(zcol)
        .write.mode(mode)
        .parquet(path)
    )


def compact_files(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    sort_cols: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ~``target_file_mb``-sized files;
    returns the new file count.

    The small-files maintenance op every long-running ingestion needs
    (streaming sinks and per-batch appends accumulate KB-scale files
    whose per-file open/footer cost eventually dominates scans).
    Requires a classic (JVM-attached) session for the Hadoop FS rename
    dance — it is a storage-maintenance tool, not a query operator. Output
    count is computed from the CURRENT on-disk byte size — one listing,
    no data pass; the rewrite itself is one job (plus an optional sort
    to restore range-skipping). Swap order is rename-aside → rename-in
    → delete-old: the canonical path is only ever missing between two
    metadata renames (no data delete in the window), and a crash leaves
    either the old layout at ``path`` or the old layout at
    ``path.compact.old`` + new at ``path`` — data is never stranded
    under only a tmp name.
    """
    from pyspark.sql.functions import col

    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hadoop_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = hadoop_path.getFileSystem(jsc.hadoopConfiguration())
    size_bytes = fs.getContentSummary(hadoop_path).getLength()
    n_files = max(1, round(size_bytes / (target_file_mb * 1024 * 1024)))

    df = spark.read.parquet(path)
    tmp_path = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + ".compact.tmp")
    old_path = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + ".compact.old")
    if sort_cols:
        out = df.repartitionByRange(n_files, *[col(c) for c in sort_cols])
        out = out.sortWithinPartitions(*sort_cols)
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(tmp_path.toString())
    fs.delete(old_path, True)  # clear any debris from a prior crash
    if not fs.rename(hadoop_path, old_path):
        raise IOError(f"compact_files: could not move {path} aside")
    if not fs.rename(tmp_path, hadoop_path):
        fs.rename(old_path, hadoop_path)  # roll back; old data intact
        raise IOError(f"compact_files: could not swap in compacted {path}")
    fs.delete(old_path, True)
    return n_files


def read_table_catalog(spark: SparkSession, table: str) -> DataFrame:
    """Read a catalog table written by :func:`write_bucketed` (thin
    alias so pipelines don't reach for ``spark.table`` directly)."""
    return spark.table(table)
