"""The session memo primitive (queries.session_memo), the registry's
use of it, and the cache release of the eager VALUES-literal finishes,
of the iterative graph operators and of the lazy caches that
``unpersist_tracked`` releases."""

import ast
import gc
import inspect
import os
import re
from pathlib import Path

import pytest

import pybabe_spark
from pybabe_spark.operators._util import _TRACKED_PERSISTS, unpersist_tracked
from pybabe_spark.queries import (
    REGISTRY,
    SESSION_MEMOS,
    all_queries,
    session_memo,
)


class _Session:
    """Weak-referenceable stand-in for a SparkSession."""


class _SlottedSession:
    """A session double that cannot be weak-referenced."""

    __slots__ = ()


def _counting_memo():
    calls = []

    def build(spark, sf_dir):
        calls.append(sf_dir)
        return object()

    memo = session_memo(users=("owner_key", "reuser_key"))(build)
    SESSION_MEMOS.pop(memo)  # keep the test builder out of the registry
    return memo, calls


def test_same_session_and_dir_builds_once():
    memo, calls = _counting_memo()
    s = _Session()
    first = memo(s, "/data/a")
    assert memo(s, "/data/a") is first
    assert len(calls) == 1


def test_other_dir_rebuilds():
    memo, calls = _counting_memo()
    s = _Session()
    a = memo(s, "/data/a")
    # keyed by the string exactly as passed: no path normalization
    b = memo(s, "/data/a/")
    assert a is not b and len(calls) == 2


def test_new_session_rebuilds_and_dead_session_drops_out():
    memo, calls = _counting_memo()
    s1, s2 = _Session(), _Session()
    assert memo(s1, "/d") is not memo(s2, "/d")
    assert len(calls) == 2 and len(memo.memo) == 2
    del s1
    gc.collect()
    assert len(memo.memo) == 1


def test_unweakrefable_session_builds_every_call():
    memo, calls = _counting_memo()
    s = _SlottedSession()
    assert memo(s, "/d") is not memo(s, "/d")
    assert len(calls) == 2 and len(memo.memo) == 0


def test_memo_users_match_the_registry_callers():
    """Every registry key that calls a memoized builder is one of its
    ``users``, and every user calls it — the bench's memo groups are
    read from ``users``, so a stale tuple would split a group."""
    all_queries()  # load every query module
    assert SESSION_MEMOS
    owners = [users[0] for users in SESSION_MEMOS.values()]
    assert len(set(owners)) == len(owners)
    for builder, users in SESSION_MEMOS.items():
        call = re.compile(rf"\b{re.escape(builder.__name__)}\(")
        callers = {
            key for key, (fn, _) in REGISTRY.items()
            if call.search(inspect.getsource(fn))
        }
        assert len(set(users)) == len(users), builder.__name__
        assert callers == set(users), (builder.__name__, callers, users)


@pytest.mark.parametrize(
    "key",
    [
        "funnel_events",
        "jonckheere_lineitem",
        "kruskal_wallis_lineitem",
        "gesd_outliers_orders",
        "weighted_quantiles_lineitem",
        "wasserstein_events",
        "conformal_threshold_events",
        "mood_median_orders",
    ],
)
def test_eager_finish_releases_its_caches(spark, sf_dir, key, tmp_path):
    tracked = len(_TRACKED_PERSISTS)
    assert _persists_left(spark, sf_dir, key, tmp_path) == {}
    # an eager finish pins through pinned(), which leaves no handle in
    # lazy_persist's tracker
    assert len(_TRACKED_PERSISTS) == tracked


@pytest.mark.parametrize(
    "key",
    [
        "bfs_supplier_neighborhood",
        "label_propagation_trade",
        "sssp_trade_nations",
        "kcore_suppliers",
    ],
)
def test_iterative_graph_key_releases_its_edge_cache(
    spark, sf_dir, key, tmp_path
):
    """The construction-time rounds' edge cache is gone after return;
    only the rounds' local checkpoints stay (the returned plan reads
    the last one)."""
    left = _persists_left(spark, sf_dir, key, tmp_path)
    assert {i for i, local in left.items() if not local} == set()


@pytest.mark.parametrize(
    "key",
    [
        "fk_check_orders_customer",
        "pareto_suppliers_revenue",
        "pagerank_trade_network",
    ],
)
def test_lazy_cache_is_released_by_unpersist_tracked(
    spark, sf_dir, key, tmp_path
):
    """A cache the returned plan reads goes through lazy_persist, so
    ``unpersist_tracked()`` after the action leaves none of it."""
    assert _persists_left(spark, sf_dir, key, tmp_path, release=True) == {}


def test_no_cache_call_outside_the_cache_helpers():
    """Operators and query builders cache only through ``_util``'s
    ``lazy_persist`` / ``pinned``; the two user-facing ``tee``s are the
    only other ``.persist()`` / ``.cache()`` calls."""
    root = Path(pybabe_spark.__file__).parent
    allowed = {("plans/facade.py", "tee"), ("operators/infra.py", "tee")}
    found = []

    def visit(node, path, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("persist", "cache")
            and (path, fn) not in allowed
        ):
            found.append(f"{path}:{node.lineno} ({fn})")
        for child in ast.iter_child_nodes(node):
            visit(child, path, fn)

    for f in sorted(root.rglob("*.py")):
        path = f.relative_to(root).as_posix()
        if path != "operators/_util.py":
            visit(ast.parse(f.read_text()), path, None)
    assert not found, f"raw .persist()/.cache() calls: {found}"


def _persists_left(spark, sf_dir, key, tmp_path, release=False):
    """The persistent RDDs that one ``count()`` of ``key`` adds and
    leaves behind, as ``{rdd id: is locally checkpointed}``; with
    ``release``, counted after ``unpersist_tracked()``."""
    # a fresh path to the same data: a session memo misses (the build
    # runs), and no cache an earlier test left can absorb a new persist
    data = tmp_path / "data"
    os.symlink(os.path.abspath(sf_dir), data)
    rdds = spark.sparkContext._jsc.getPersistentRDDs

    # compare ids, not counts: the ContextCleaner may free RDDs that
    # earlier tests left while this action runs
    before = set(rdds().keySet())
    all_queries()[key](spark, str(data)).count()
    if release:
        unpersist_tracked()
    live = rdds()
    return {
        i: live.get(i).rdd().isLocallyCheckpointed()
        for i in set(live.keySet()) - before
    }


def test_pinned_releases_on_exception(spark):
    from pybabe_spark.operators._util import pinned

    with pytest.raises(RuntimeError):
        with pinned() as pin:
            g = pin(spark.range(3))
            assert g.count() == 3 and g.storageLevel.useMemory
            raise RuntimeError("finish failed")
    # the JVM cache manager no longer holds the frame
    assert not g.storageLevel.useMemory
