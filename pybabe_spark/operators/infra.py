"""Engine infrastructure: result memoization, log tap, mail sink,
primary-key detection.

Reference: memoize (pybabe/base.py:177-253, pickle-file cache keyed by
hash of args), log (pybabe/log.py:16-39), mail (pybabe/mail.py:16-90),
primary_key_detect (pybabe/types.py:52-87).
"""

from __future__ import annotations

import hashlib
import logging
import os
import sys

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pybabe_spark.operators._util import lazy_persist

log = logging.getLogger("pybabe_spark")


# ---------------------------------------------------------------------------
# memoize: cross-session parquet result cache
# ---------------------------------------------------------------------------

def _plan_fingerprint(df: DataFrame) -> str:
    """Stable hash of the analyzed logical plan (schema + operators +
    literals). The Spark analogue of hash(doc + pickle(args))
    (pybabe/base.py:186-192). Falls back to ``semanticHash`` + schema
    under sessions without the classic JVM plan surface (Spark Connect).

    Expression ids come from a session-global counter, so the raw plan
    differs every time the same pipeline is rebuilt — the cache would
    never hit. The JSON rendering of the plan is used (NOT the pretty
    string, where a ``#123``-shaped fragment inside a string literal is
    indistinguishable from an expr id — renumbering the string form made
    plans differing only in such literals share a cache entry): literals
    live in ``value`` fields there, while expr identity sits in
    dedicated ``id``/``jvmId`` fields that are renumbered by first
    appearance / blanked. Identical pipelines fingerprint identically
    across sessions; plans differing in any literal, column, or operator
    fingerprint apart. (``semanticHash`` cannot serve here: it is not
    stable across rebuilds of the same logical plan.)"""
    import re

    try:
        plan = df._jdf.queryExecution().analyzed().toJSON()
        plan = re.sub(r'"jvmId":"[0-9a-fA-F-]+"', '"jvmId":"_"', plan)
        seen: dict[str, int] = {}

        def _renumber(m: "re.Match[str]") -> str:
            return f'"id":{seen.setdefault(m.group(1), len(seen))}'

        plan = re.sub(r'"id":(\d+)', _renumber, plan)
        plan = f"{plan}|{df.schema.json()}"
    except Exception:  # no classic plan surface (Spark Connect)
        # semanticHash is not rebuild-stable, so this degrades to cache
        # MISSES across sessions — never to wrong hits (a schema-only
        # key would alias every same-shaped plan)
        plan = f"{df.semanticHash()}|{df.schema.json()}"
    return hashlib.sha256(plan.encode()).hexdigest()[:24]


def memoize(
    df: DataFrame,
    cache_dir: str = "/tmp/pybabe_spark_cache",
    refresh: bool = False,
) -> DataFrame:
    """Write-through parquet cache keyed by the logical-plan fingerprint.

    First call computes and writes; later calls (any session) read the
    parquet back — the scan replaces the whole upstream plan. Unlike
    ``df.persist()`` this survives the session, like the reference's
    pickle files. Cache location should be shared storage on a cluster.
    """
    key = _plan_fingerprint(df)
    path = os.path.join(cache_dir, key)
    if refresh or not _cache_complete(df.sparkSession, path):
        df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _cache_complete(spark, path: str) -> bool:
    """Does ``path`` hold a completed parquet write? Checked through
    Spark's own file resolution so shared stores (s3a://, hdfs://) hit
    the cache too — a driver-local os.path.exists would report False
    there forever, silently recomputing on every call. The probe lists
    the _SUCCESS marker at planning time; no job runs.

    Only the marker-absent analysis error means 'cache miss'; any other
    failure (credentials, network, permissions) propagates — treating a
    transient probe error as a miss would silently recompute and
    overwrite a valid cache, the exact cost memoize exists to avoid."""
    from pyspark.errors import AnalysisException

    try:
        spark.read.format("text").load(os.path.join(path, "_SUCCESS"))
        return True
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return False
        raise


def tee(df: DataFrame) -> DataFrame:
    """Fan-out (pybabe/base.py:196-202): cache once, reuse N times."""
    return df.cache()


# ---------------------------------------------------------------------------
# log: pass-through tap
# ---------------------------------------------------------------------------

def log_stream(
    df: DataFrame,
    name: str = "pybabe_log",
    logfile: str | None = None,
    sample_rows: int = 10,
) -> DataFrame:
    """Pass-through tap (pybabe/log.py:16-39).

    Attaches an ``observe`` row counter (zero-cost, reported with the
    action) and, if ``logfile`` is given, eagerly writes a small sample
    CSV there (the reference streamed every row to stderr/file; at scale
    a full side-write belongs in an explicit ``push``).
    """
    obs = Observation(name)
    out = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    out._pybabe_log_observation = obs  # type: ignore[attr-defined]
    if logfile:
        pdf = df.limit(sample_rows).toPandas()
        pdf.to_csv(logfile, index=False)
        log.info("log_stream %s: wrote %d sample rows to %s", name, len(pdf), logfile)
    return out


# ---------------------------------------------------------------------------
# mail: terminal sink
# ---------------------------------------------------------------------------

def mail(
    df: DataFrame,
    subject: str,
    recipients: list[str],
    sender: str | None = None,
    in_body: bool = True,
    in_body_row_limit: int = 20,
    attach_csv: bool = True,
    attach_row_limit: int = 10_000,
    smtp_host: str | None = None,
    smtp_port: int | None = None,
    transport=None,
) -> None:
    """Mail a (small) result: HTML body + CSV attachment
    (pybabe/mail.py:16-90). Driver-side by nature; refuses result sets
    beyond ``attach_row_limit`` (same house guard as transpose/push's
    driver-side paths) rather than silently truncating the attachment.
    ``transport`` injects a callable(msg) for testing; the default sends
    via smtplib.
    """
    import smtplib
    from email.mime.base import MIMEBase
    from email.mime.multipart import MIMEMultipart
    from email.mime.text import MIMEText

    from pybabe_spark.sources.config import get_config

    # SMTP settings fall back to the [smtp] section of pybabe.cfg /
    # ~/.pybabe.cfg (reference pybabe/mail.py:24-29 via get_config)
    if smtp_host is None:
        smtp_host = get_config("smtp", "server", default="localhost")
    if smtp_port is None:
        smtp_port = int(get_config("smtp", "port", default=25))
    if sender is None:
        sender = get_config(
            "smtp", "author", default="pybabe_spark@localhost"
        )

    # the attachment is the full result, so only it needs the
    # size-refusal guard; a body-only summary mail of a big table is
    # legitimate and collects just the body rows
    cap = attach_row_limit if attach_csv else in_body_row_limit
    pdf = df.limit(cap + 1).toPandas()
    if attach_csv and len(pdf) > cap:
        raise ValueError(
            f"mail: result exceeds {cap} rows; push() it to storage and "
            "mail a link, or raise attach_row_limit explicitly"
        )
    msg = MIMEMultipart()
    msg["Subject"] = subject
    msg["From"] = sender
    msg["To"] = ", ".join(recipients)
    if in_body:
        # explicit utf-8: the default us-ascii charset makes as_string()
        # (and thus smtplib) crash on any non-ASCII cell value
        msg.attach(
            MIMEText(pdf.head(in_body_row_limit).to_html(index=False),
                     "html", "utf-8")
        )
    if attach_csv:
        from email import encoders

        part = MIMEBase("text", "csv", charset="utf-8")
        part.set_payload(pdf.to_csv(index=False).encode("utf-8"))
        encoders.encode_base64(part)
        part.add_header("Content-Disposition", "attachment", filename="result.csv")
        msg.attach(part)
    if transport is not None:
        transport(msg)
        return
    with smtplib.SMTP(smtp_host, smtp_port) as s:  # pragma: no cover - needs SMTP
        s.sendmail(sender, recipients, msg.as_string())


# ---------------------------------------------------------------------------
# column profiling / primary key detection
# ---------------------------------------------------------------------------

_NUMERIC_TYPES = {
    "byte", "short", "int", "integer", "bigint", "long",
    "float", "double", "decimal",
}


def profile(
    df: DataFrame,
    columns: list[str] | None = None,
    exact: bool = False,
) -> DataFrame:
    """Per-column summary statistics in ONE aggregation pass:
    (column, n_nonnull, n_distinct, min_num, max_num) — min/max surface
    only for numeric columns (NULL otherwise) so the output schema is
    uniform and engine-portable.

    The DEFAULT distinct counter is HLL++ ``approx_count_distinct``
    (rsd 5%, ~2% observed): fixed sketch memory per column, one linear
    pass, no per-column exact-distinct expansion — the shape a 100 TB
    profiling pass needs (tighter rsd grows registers ∝ 1/rsd² and at
    1% is SLOWER than exact on test data — measured, see SCALE.md).
    ``exact=True`` opts into exact ``count_distinct`` (Spark's expand
    rewrite: rows ×columns before the combine) for oracle-checkable
    one-shot profiling. The melt to long format happens on the driver
    over the single result row.
    """
    from pybabe_spark.plans.introspect import default_parallelism, num_partitions

    cols = columns or df.columns
    types = dict(df.dtypes)
    # the multi-distinct rewrite expands rows ×columns before the partial
    # aggregation; a single-file input would run that single-threaded, so
    # spread the scan to the cluster first (no-op on well-partitioned input)
    par = default_parallelism(df.sparkSession)
    have = num_partitions(df)
    if have is not None and have < min(8, par):
        df = df.repartition(min(8, par))
    distinct = (
        F.count_distinct
        if exact
        else (lambda c: F.approx_count_distinct(c, rsd=0.05))
    )
    aggs = []
    for c in cols:
        is_num = types[c].split("(")[0] in _NUMERIC_TYPES
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
        aggs.append(distinct(F.col(c)).alias(f"__nd_{c}"))
        aggs.append(
            (F.min(F.col(c)).cast("double") if is_num else F.min(F.lit(None).cast("double")))
            .alias(f"__mn_{c}")
        )
        aggs.append(
            (F.max(F.col(c)).cast("double") if is_num else F.max(F.lit(None).cast("double")))
            .alias(f"__mx_{c}")
        )
    row = df.agg(*aggs).collect()[0].asDict()
    out = [
        (c, row[f"__nn_{c}"], row[f"__nd_{c}"], row[f"__mn_{c}"], row[f"__mx_{c}"])
        for c in cols
    ]
    from pybabe_spark.operators._util import local_rows_df

    # VALUES-literal LocalRelation: the per-column result is a handful
    # of driver rows; createDataFrame would hand every consumer action
    # a defaultParallelism-slice ExistingRDD (~0.45 s of empty python
    # tasklets per action at local[32] — r13 measurement)
    return local_rows_df(
        df.sparkSession,
        out,
        "column string, n_nonnull bigint, n_distinct bigint, "
        "min_num double, max_num double",
    )

def primary_key_detect(df: DataFrame, max_cols: int | None = None) -> str | None:
    """Find a column whose values are unique (pybabe/types.py:52-87).

    Two passes, both single aggregations:

    1. **Approx prefilter** — one pass computing count + HLL++
       ``approx_count_distinct`` (rsd 10% — coarse is the point:
       register arrays scale ∝ 1/rsd² per column per partial, and the
       prefilter only needs to separate "clearly not unique" from
       "maybe unique"). Fixed sketch memory per column; at 100 TB this
       is the only full-data pass, and the generous 0.7·n threshold
       (3σ) keeps every true key.
    2. **Exact confirm** — one ``count_distinct`` pass over only the
       surviving candidates (usually 0-2 columns), each an exact
       shuffle on that column alone.

    Returns the first unique column in schema order (the reference's
    behavior), or None.
    """
    cols = df.columns[:max_cols] if max_cols else df.columns
    total = F.count(F.lit(1)).alias("__total")
    approx = [total] + [
        F.approx_count_distinct(F.col(c), rsd=0.1).alias(f"__a_{c}") for c in cols
    ]
    row = df.agg(*approx).collect()[0].asDict()
    n = row["__total"]
    if n == 0:
        return cols[0] if cols else None
    # 3x the 10% rsd: anything under this cannot be all-distinct
    candidates = [c for c in cols if row[f"__a_{c}"] >= 0.7 * n]
    if not candidates:
        return None
    exact = [F.count_distinct(F.col(c)).alias(f"__d_{c}") for c in candidates]
    erow = df.agg(*exact).collect()[0].asDict()
    for c in cols:
        if c in candidates and erow[f"__d_{c}"] == n:
            return c
    return None


def foreign_key_check(
    child: DataFrame,
    child_col: str,
    parent: DataFrame,
    parent_col: str,
) -> DataFrame:
    """Referential-integrity profile: does ``child.child_col`` ⊆
    ``parent.parent_col``? One row:
    ``(n_rows, n_null_rows, n_values, n_orphan_values, full_coverage)``
    — the companion to :func:`primary_key_detect` for FK discovery and
    pre-join data-contract checks (an orphan count > 0 predicts
    silently-dropped rows in every downstream inner join).

    NULL child values are reported separately (SQL FK semantics: NULL
    references are not violations). Scale shape: the child side
    collapses to DISTINCT values first (hash agg with map-side
    combine), then one left-anti equi-join against the parent's
    distinct keys — the comparison is value-space-sized, never
    row-space; no broadcast assumption on either side.
    """
    # the distinct-value table feeds both the count and the anti-join;
    # lazy persist keeps the child scan single-pass per consumer pair
    vals = lazy_persist(
        child.select(F.col(child_col).alias("__v"))
        .filter(F.col("__v").isNotNull())
        .distinct()
    )
    orphans = vals.join(
        parent.select(F.col(parent_col).alias("__v")).distinct(),
        "__v",
        "left_anti",
    )
    counts = child.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(child_col).isNull().cast("bigint")).alias("__nn"),
    ).select(
        "n_rows", F.coalesce(F.col("__nn"), F.lit(0)).alias("n_null_rows")
    )
    nv = vals.agg(F.count(F.lit(1)).alias("n_values"))
    no = orphans.agg(F.count(F.lit(1)).alias("n_orphan_values"))
    from pybabe_spark.operators._util import attach_scalars

    return attach_scalars(attach_scalars(counts, nv), no).select(
        "n_rows",
        "n_null_rows",
        "n_values",
        "n_orphan_values",
        (F.col("n_orphan_values") == 0).alias("full_coverage"),
    )
