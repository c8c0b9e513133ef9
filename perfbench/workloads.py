"""The benchmark's workloads.

Each workload generates its inputs from the seed (outside every timed
region), runs one warm pass at full scale that also checks every output
against an independent DuckDB computation, and then runs timed passes.
A pass is a list of operations; an operation is one call into the
program plus the action that forces it, and is timed as a whole.

- ``analyst_session``: one session runs a fixed sample of registry keys
  over small generated tables, ``count()`` as the action. Construction,
  with the eager jobs it launches, is most of each action here.
- ``etl_pipeline``: the paper's chain, ``Babe.pull`` of CSV text,
  ``typedetect``, filter, join, ``groupBy``, a partitioned parquet
  ``push`` and a ``.csv.gz`` ``push``.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass

import gen
from spans import SparkProbe, Tracer

#: memo owners and their reusers, driver-side bounded finishes, an
#: iterative graph key and one plain window key: the mechanisms ROADMAP
#: items 2 and 3 act on. Every seed times these keys; ``--seed`` varies
#: the data, not the sample.
ANALYST_KEYS = [
    "kruskal_wallis_lineitem",   # session-memo owner
    "dunn_test_lineitem",        # ... and its reuser
    "jonckheere_lineitem",       # bounded finish
    "gesd_outliers_orders",      # bounded finish
    "funnel_events",             # bounded finish
    "kcore_suppliers",           # iterative graph
    "max_drawdown_events",       # window over events, no memo or finish
]
SCALE = 0.001

ETL_SHARDS = 3
ETL_SHARD_ROWS = 10_000
ETL_LINEITEM_SCHEMA = [
    ("l_orderkey", "bigint"), ("l_linenumber", "bigint"),
    ("l_quantity", "bigint"), ("l_extendedprice", "double"),
    ("l_discount", "double"), ("l_returnflag", "string"),
    ("l_shipdate", "date"),
]
ETL_ORDERS_SCHEMA = [
    ("o_orderkey", "bigint"), ("o_custkey", "bigint"),
    ("o_orderstatus", "string"), ("o_orderpriority", "string"),
    ("o_orderdate", "date"),
]


@dataclass
class OpResult:
    name: str
    seconds: float
    ok: bool
    error: str | None = None


class Ctx:
    """What one run shares: the session, its working directory, and, in
    a traced run, the span recorder and the Spark probe. ``tracing`` is
    set per pass; while it is off, spans and probe reads are skipped."""

    def __init__(self, spark, work_dir: str, seed: int, traced: bool):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.recorder = Tracer(traced)
        self._off = Tracer(False)
        self._probe = SparkProbe(spark) if traced else None
        self.tracing = False
        self.jobs: dict[str, list[tuple[int, int]]] = {}
        self.catalyst: list[dict] = []

    @property
    def tracer(self) -> Tracer:
        return self.recorder if self.tracing else self._off

    @property
    def probe(self) -> SparkProbe | None:
        return self._probe if self.tracing else None

    @contextmanager
    def phase(self, name: str, op_id: str):
        """A child span of the running op, under the op's job group, with
        the job-id range it launched recorded for :func:`layer_counts`."""
        probe = self.probe
        with self.tracer.span(name, op=op_id):
            if probe is None:
                yield
                return
            self.spark.sparkContext.setJobGroup(f"perfbench:{op_id}", f"{op_id}.{name}")
            first = probe.next_job_id()
            try:
                yield
            finally:
                self.jobs.setdefault(name, []).append((first, probe.next_job_id()))


def _count(ctx: Ctx, df, op_id: str) -> int:
    """The action: ``count()``, built as Spark builds it
    (``groupBy().count()``) so the traced run can read the Catalyst
    phase times of the action's own Dataset before executing it."""
    cnt = df.groupBy().count()
    if ctx.probe is not None:
        with ctx.phase("plan", op_id):
            ctx.catalyst.append(ctx.probe.catalyst(cnt))
        with ctx.phase("exec", op_id):
            return cnt.collect()[0][0]
    return cnt.collect()[0][0]


def _duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in gen.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _same_result(spark_pdf, duck_pdf) -> bool:
    from tests.compare import normalize

    s_cols, s_rows = normalize(spark_pdf)
    d_cols, d_rows = normalize(duck_pdf)
    cols_ok = s_cols == [c.lower() for c in d_cols] or s_cols == d_cols
    return cols_ok and s_rows == d_rows


class Workload:
    name = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.warm_failures: list[str] = []
        self.warm_checks = 0
        self.warm_times: dict[str, float] = {}
        self.oracle_s = 0.0
        self.input_rows = 0

    def prepare(self) -> None:
        """Generate the inputs from the seed."""

    def warm(self) -> None:
        """One full-scale pass that also checks every output."""

    def run_pass(self, index: int) -> list[OpResult]:
        raise NotImplementedError

    def check_pass(self, ops: list[OpResult]) -> None:
        """Checks that must wait until the pass's timing has ended."""

    def output_files(self, index: int) -> tuple[int, int]:
        """(files, bytes) pass ``index`` pushed."""
        return 0, 0

    def between_passes(self) -> None:
        spark = self.ctx.spark
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()


class AnalystSession(Workload):
    """Times registry keys in one session: construction (the key's
    function) plus the ``count()`` action, each checked against the
    row count of the key's DuckDB oracle."""

    name = "analyst_session"

    keys = ANALYST_KEYS

    def data_dir(self) -> str:
        return os.path.join(self.ctx.work_dir, "data")

    def pass_dir(self, index: int) -> str:
        """A link to the data under a name of the pass's own. Session
        memos are keyed by the data directory and ``clearCache`` does not
        drop them, so with one name every pass after the first would find
        the memo filled; a fresh name makes each pass time the memo
        owner's miss and its reuser's hit, as one analyst session does."""
        path = os.path.join(self.ctx.work_dir, f"data-p{index}")
        if not os.path.islink(path):
            os.symlink(self.data_dir(), path)
        return path

    def prepare(self) -> None:
        from pybabe_spark.queries import all_queries

        self.registry = all_queries()
        gen.make_tables(self.data_dir(), self.ctx.seed, SCALE)

    def warm(self) -> None:
        from pybabe_spark.queries import all_oracles

        oracles = all_oracles()
        con = _duck(self.data_dir())
        self.expected: dict[str, int] = {}
        for key in self.keys:
            self.warm_checks += 1
            t0 = time.perf_counter()
            try:
                got = self.registry[key](self.ctx.spark, self.data_dir()).toPandas()
                self.warm_times[key] = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                self.warm_failures.append(f"{key}: {type(e).__name__}: {e}")
                continue
            t0 = time.perf_counter()
            want = con.execute(oracles[key]).df()
            ok = _same_result(got, want)
            self.oracle_s += time.perf_counter() - t0
            self.expected[key] = len(want)
            if not ok:
                self.warm_failures.append(f"{key}: differs from its DuckDB oracle")
        con.close()

    def run_pass(self, index: int) -> list[OpResult]:
        ctx, out = self.ctx, []
        data_dir = self.pass_dir(index)
        for key in self.keys:
            op_id = f"p{index}.{key}"
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("op", op=op_id, key=key):
                    with ctx.phase("construct", op_id):
                        df = self.registry[key](ctx.spark, data_dir)
                    n = _count(ctx, df, op_id)
                dt = time.perf_counter() - t0
                ok = n == self.expected.get(key)
                out.append(OpResult(key, dt, ok, None if ok else f"{n} rows"))
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                out.append(OpResult(key, time.perf_counter() - t0, False, repr(e)))
        return out


class EtlPipeline(Workload):
    """One pass is one pipeline over the next CSV shard."""

    name = "etl_pipeline"

    def prepare(self) -> None:
        self.inputs = gen.make_csv_shards(
            os.path.join(self.ctx.work_dir, "csv"), self.ctx.seed,
            ETL_SHARDS + 1, ETL_SHARD_ROWS,
        )
        self.out_dir = os.path.join(self.ctx.work_dir, "out")
        self.input_rows = self.inputs["lineitem_rows"] + self.inputs["orders_rows"]
        self.pushed: list[tuple[str, str, str]] = []
        self.failures: list[str] = []

    def _pipeline(self, shard: str, tag: str, timed: list[OpResult] | None):
        from pyspark.sql import functions as F

        from pybabe_spark.plans.facade import Babe

        ctx = self.ctx
        spark = ctx.spark
        agg_path = os.path.join(self.out_dir, tag, "agg.parquet")
        csv_path = os.path.join(self.out_dir, tag, "lineitem.csv.gz")
        state: dict = {}

        def step(name, fn):
            op_id = f"{tag}.{name}"
            t0 = time.perf_counter()
            with ctx.tracer.span("op", op=op_id, key=name):
                with ctx.phase(name.split("_")[0], op_id):
                    fn()
            if timed is not None:
                timed.append(OpResult(name, time.perf_counter() - t0, True))

        def pull_lineitem():
            state["li"] = Babe.pull(spark, shard, infer_schema=False)

        def pull_orders():
            state["od"] = Babe.pull(spark, self.inputs["orders"], infer_schema=False)

        def typedetect_lineitem():
            state["li"] = state["li"].typedetect()

        def typedetect_orders():
            state["od"] = state["od"].typedetect()

        def push_parquet():
            kept = state["li"].filter(F.col("l_discount") >= 0.05)
            state["kept"] = kept
            agg = kept.join(
                state["od"], "l_orderkey", "o_orderkey",
                add_fields=["o_orderpriority"],
            ).groupBy(
                ["l_returnflag", "o_orderpriority"],
                {
                    "sum_qty": F.sum("l_quantity"),
                    "revenue": F.sum(F.col("l_extendedprice").cast("decimal(12,2)")),
                    "n": F.count("l_orderkey"),
                },
            )
            agg.push(agg_path, partition_by=["l_returnflag"])

        def push_csv():
            state["kept"].push(csv_path)

        for name, fn in (
            ("pull_lineitem", pull_lineitem),
            ("pull_orders", pull_orders),
            ("typedetect_lineitem", typedetect_lineitem),
            ("typedetect_orders", typedetect_orders),
            ("push_parquet", push_parquet),
            ("push_csvgz", push_csv),
        ):
            step(name, fn)
        schema_ok = (
            state["li"].df.dtypes == ETL_LINEITEM_SCHEMA
            and state["od"].df.dtypes == ETL_ORDERS_SCHEMA
        )
        if not schema_ok:
            self.failures.append(f"{tag}: detected schema {state['li'].df.dtypes}")
        self.pushed.append((shard, agg_path, csv_path))

    def _check_pushed(self) -> None:
        """Read back every pushed output and compare it with DuckDB run
        over the same generated CSV text."""
        import duckdb
        import pandas as pd

        spark = self.ctx.spark
        con = duckdb.connect()
        orders = self.inputs["orders"]
        for shard, agg_path, csv_path in self.pushed:
            t0 = time.perf_counter()
            kept = (
                f"(SELECT * FROM read_csv('{shard}', header=true) "
                "WHERE l_discount >= 0.05) l"
            )
            res = con.execute(
                "SELECT l.l_returnflag, o.o_orderpriority, "
                "SUM(l.l_quantity)::BIGINT AS sum_qty, "
                "SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS revenue, "
                "COUNT(l.l_orderkey) AS n "
                f"FROM {kept} JOIN read_csv('{orders}', header=true) o "
                "ON l.l_orderkey = o.o_orderkey GROUP BY ALL"
            )
            # fetchall keeps DECIMAL as Decimal; .df() would make it float
            want = pd.DataFrame(res.fetchall(), columns=[d[0] for d in res.description])
            want_rows = con.execute(f"SELECT COUNT(*) FROM {kept}").fetchone()[0]
            got = spark.read.parquet(agg_path).toPandas()
            got["l_returnflag"] = got["l_returnflag"].astype(str)
            if not _same_result(got, want):
                self.failures.append(f"{agg_path}: differs from DuckDB")
            got_rows = spark.read.option("header", "true").csv(csv_path).count()
            if got_rows != want_rows:
                self.failures.append(f"{csv_path}: {got_rows} rows, want {want_rows}")
            self.oracle_s += time.perf_counter() - t0
        con.close()
        self.pushed.clear()

    def warm(self) -> None:
        self.warm_checks = 3  # detected schema, parquet read-back, csv.gz read-back
        try:
            self._pipeline(self.inputs["lineitem"][0], "warm", None)
            self._check_pushed()
        except Exception as e:  # noqa: BLE001 - counted as a failed op
            self.warm_failures.append(f"warm pipeline: {type(e).__name__}: {e}")
        self.warm_failures += self.failures
        self.failures.clear()

    def run_pass(self, index: int) -> list[OpResult]:
        shard = self.inputs["lineitem"][1 + index % ETL_SHARDS]
        ops: list[OpResult] = []
        try:
            self._pipeline(shard, f"p{index}", ops)
        except Exception as e:  # noqa: BLE001 - counted as a failed op
            ops.append(OpResult("pipeline", 0.0, False, repr(e)))
        return ops

    def check_pass(self, ops: list[OpResult]) -> None:
        """Outside the pass's timing: verify what it pushed."""
        self._check_pushed()
        if self.failures:
            for op in ops:
                if op.name.startswith("push"):
                    op.ok = False
                    op.error = "; ".join(self.failures)
            self.failures.clear()

    def output_files(self, index: int) -> tuple[int, int]:
        return files_under(os.path.join(self.out_dir, f"p{index}"))

    def between_passes(self) -> None:
        super().between_passes()
        shutil.rmtree(self.out_dir, ignore_errors=True)


WORKLOADS = {w.name: w for w in (AnalystSession, EtlPipeline)}


def layer_counts(ctx: Ctx) -> dict[str, float]:
    """Jobs, stages and tasks per phase name, from the job-id ranges the
    phases recorded; resets the ranges."""
    ctx.probe.drain()
    out: dict[str, float] = {}
    for phase, ranges in ctx.jobs.items():
        tot = {"jobs": 0, "stages": 0, "tasks": 0}
        for a, b in ranges:
            for k, v in ctx.probe.job_counts(a, b).items():
                tot[k] += v
        for k, v in tot.items():
            out[f"{phase}.{k}"] = float(v)
    ctx.jobs.clear()
    return out


def files_under(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's markers."""
    n = size = 0
    for p in glob.glob(os.path.join(path, "**", "*"), recursive=True):
        base = os.path.basename(p)
        if os.path.isfile(p) and not base.startswith(("_", ".")):
            n += 1
            size += os.path.getsize(p)
    return n, size
