"""Structural integrity of the ``Babe`` fluent facade.

Round-9 shipped two facade methods whose bodies were just an import
(the intended ``return self._wrap(...)`` got stranded inside a
neighbouring method during an edit), so they silently returned
``None`` despite the ``-> "Babe"`` annotation.  These tests make that
whole class of paste error impossible to re-ship:

* every ``Babe`` method annotated ``-> "Babe"`` must contain a
  ``return`` statement of its own (not one belonging to a nested def);
* no method body may contain unreachable statements after a top-level
  ``return``/``raise`` (a stranded return from a neighbour shows up as
  exactly that);
* no method may contain a nested ``def`` (the facade is a thin
  delegation layer — a nested def is the paste-error symptom).

Plus runtime smoke tests for the three methods the round-9 bug hit
(``bootstrap_mean_ci``, ``km_survival``, ``logrank_test``).

A method that only forwards is not written in the class body at all but
bound from the ``_FORWARDS`` table; one more test fails when a
hand-written method is such a pure forwarder.
"""

import ast
import importlib
import inspect

from pybabe_spark.plans import facade as facade_mod
from pybabe_spark.plans.facade import Babe


def _babe_methods():
    src = inspect.getsource(facade_mod)
    tree = ast.parse(src)
    cls = next(
        n for n in tree.body
        if isinstance(n, ast.ClassDef) and n.name == "Babe"
    )
    for node in cls.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node


def _returns_babe(fn: ast.FunctionDef) -> bool:
    r = fn.returns
    if isinstance(r, ast.Constant) and r.value == "Babe":
        return True
    if isinstance(r, ast.Name) and r.id == "Babe":
        return True
    return False


def _own_nodes(fn: ast.FunctionDef):
    """All AST nodes belonging to ``fn`` itself, not to nested defs."""
    stack = list(fn.body)
    while stack:
        node = stack.pop()
        yield node
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.Lambda)):
            continue
        stack.extend(ast.iter_child_nodes(node))


def test_every_babe_annotated_method_returns():
    missing = []
    for fn in _babe_methods():
        if not _returns_babe(fn):
            continue
        has_return = any(
            isinstance(n, ast.Return) and n.value is not None
            for n in _own_nodes(fn)
        )
        if not has_return:
            missing.append(fn.name)
    assert not missing, (
        f"Babe methods annotated -> Babe with no return of their own "
        f"(stranded-return paste bug): {missing}"
    )


def test_no_unreachable_code_after_return():
    def _check_block(body, where, bad):
        for i, stmt in enumerate(body):
            if isinstance(stmt, (ast.Return, ast.Raise)) and i < len(body) - 1:
                bad.append(where)
            for attr in ("body", "orelse", "finalbody"):
                sub = getattr(stmt, attr, None)
                if sub and not isinstance(
                    stmt, (ast.FunctionDef, ast.AsyncFunctionDef)
                ):
                    _check_block(sub, where, bad)

    bad = []
    for fn in _babe_methods():
        _check_block(fn.body, fn.name, bad)
    assert not bad, f"unreachable code after return/raise in: {sorted(set(bad))}"


def test_no_nested_defs_in_facade_methods():
    nested = []
    for fn in _babe_methods():
        for node in ast.walk(fn):
            if node is fn:
                continue
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                nested.append(f"{fn.name} contains def {node.name}")
    assert not nested, f"nested defs inside Babe methods: {nested}"


def _param_of(node, unwrapped):
    """The method parameter an operator argument passes on: a bare name
    (through ``unwrapped``'s ``x = y.df if isinstance(y, Babe) else y``
    assignments) or ``_df(name)``; None for any other expression."""
    if isinstance(node, ast.Name):
        return unwrapped.get(node.id, node.id)
    if (
        isinstance(node, ast.Call) and ast.unparse(node.func) == "_df"
        and len(node.args) == 1 and isinstance(node.args[0], ast.Name)
    ):
        return node.args[0].id
    return None


def _pure_forward_target(fn: ast.FunctionDef):
    """The operator ``fn`` only forwards to, or None.

    A pure forwarder's body is (docstring,) operator imports, Babe
    unwraps, then ``return self._wrap(op(self.df, ...))`` passing every
    own parameter on in order, each with the name, position and default
    the operator gives it — exactly what a ``_FORWARDS`` entry binds."""
    body = fn.body
    if isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]
    imports, unwrapped = {}, {}
    for stmt in body[:-1]:
        if isinstance(stmt, ast.ImportFrom):
            for a in stmt.names:
                imports[a.asname or a.name] = (stmt.module, a.name)
        elif (
            isinstance(stmt, ast.Assign) and len(stmt.targets) == 1
            and isinstance(stmt.targets[0], ast.Name)
            and isinstance(stmt.value, ast.IfExp)
            and isinstance(stmt.value.orelse, ast.Name)
            and ast.unparse(stmt.value.body) == f"{stmt.value.orelse.id}.df"
        ):
            unwrapped[stmt.targets[0].id] = stmt.value.orelse.id
        else:
            return None
    ret = body[-1] if body else None
    if not (
        isinstance(ret, ast.Return) and isinstance(ret.value, ast.Call)
        and ast.unparse(ret.value.func) == "self._wrap"
        and len(ret.value.args) == 1 and isinstance(ret.value.args[0], ast.Call)
    ):
        return None
    call = ret.value.args[0]
    f = ast.unparse(call.func)
    if f in imports:
        module, name = imports[f]
    elif f.startswith("ops.") and f.count(".") == 1:
        module, name = "pybabe_spark.operators", f[4:]
    else:
        return None
    if not call.args or ast.unparse(call.args[0]) != "self.df":
        return None
    op = getattr(importlib.import_module(module), name)

    a = fn.args
    own = [x.arg for x in a.args[1:]]
    defaults = [None] * (len(own) - len(a.defaults)) + list(a.defaults)
    passed, star = [], None
    for x in call.args[1:]:
        if isinstance(x, ast.Starred) and isinstance(x.value, ast.Name):
            star = x.value.id
        else:
            passed.append(_param_of(x, unwrapped))
    by_kw, dstar = {}, None
    for k in call.keywords:
        if k.arg is None and isinstance(k.value, ast.Name):
            dstar = k.value.id
        else:
            by_kw[k.arg] = _param_of(k.value, unwrapped)
    rest = own[len(passed):] + [x.arg for x in a.kwonlyargs]
    if (
        passed != own[:len(passed)] or by_kw != dict(zip(rest, rest))
        or star != (a.vararg.arg if a.vararg else None)
        or dstar != (a.kwarg.arg if a.kwarg else None)
    ):
        return None

    params = list(inspect.signature(op).parameters.values())[1:]
    named = {p.name: p for p in params}

    def same_default(p, d):
        if d is None:
            return p.default is inspect.Parameter.empty
        try:
            return p.default == ast.literal_eval(d)
        except ValueError:
            return False

    for i, (name, d) in enumerate(zip(own, defaults)):
        if i >= len(params) or params[i].name != name or not same_default(
            params[i], d
        ) or params[i].kind != inspect.Parameter.POSITIONAL_OR_KEYWORD:
            return None
    for x, d in zip(a.kwonlyargs, a.kw_defaults):
        p = named.get(x.arg)
        if p is None or p.kind == p.POSITIONAL_ONLY or not same_default(p, d):
            return None
    if star and not any(p.kind == p.VAR_POSITIONAL for p in params):
        return None
    return op


def test_no_hand_written_pure_forwarder():
    forwarders = [
        fn.name for fn in _babe_methods()
        if not fn.decorator_list and _pure_forward_target(fn) is not None
    ]
    assert not forwarders, (
        f"Babe methods that only forward — make each a _FORWARDS entry: "
        f"{forwarders}"
    )


def test_pure_forwarder_rule_recognizes_a_forwarder():
    """The rule above flags what the table replaced, in both the plain
    and the Babe-unwrapping form, and passes a renamed parameter."""
    src = """
def sample(self, key, fraction) -> "Babe":
    from pybabe_spark.operators.sampling import hash_sample

    return self._wrap(hash_sample(self.df, key, fraction))

def upsert(self, updates, keys) -> "Babe":
    from pybabe_spark.operators.merge import upsert

    u = updates.df if isinstance(updates, Babe) else updates
    return self._wrap(upsert(self.df, u, keys))

def dedup_against(self, seen, keys) -> "Babe":
    from pybabe_spark.operators.merge import dedup_against

    return self._wrap(dedup_against(self.df, _df(seen), keys))

def histogram(self, column, bins=10) -> "Babe":
    from pybabe_spark.operators.sketch import histogram

    return self._wrap(histogram(self.df, column, bins))
"""
    fns = {f.name: f for f in ast.parse(src).body}
    from pybabe_spark.operators import merge, sampling

    assert _pure_forward_target(fns["sample"]) is sampling.hash_sample
    assert _pure_forward_target(fns["upsert"]) is merge.upsert
    assert _pure_forward_target(fns["dedup_against"]) is merge.dedup_against
    assert _pure_forward_target(fns["histogram"]) is None


def test_bootstrap_mean_ci_facade_smoke(spark):
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8])],
        "k int, v double",
    )
    out = Babe(df).bootstrap_mean_ci("v", "k", n_resamples=8)
    assert isinstance(out, Babe)
    rows = out.df.collect()
    assert len(rows) == 1 and rows[0]["n"] == 8


def test_km_survival_facade_smoke(spark):
    df = spark.createDataFrame(
        [(5.0, 1), (8.0, 1), (8.0, 0), (12.0, 1)], "dur double, ev int"
    )
    out = Babe(df).km_survival("dur", "ev")
    assert isinstance(out, Babe)
    assert out.df.count() >= 2


def test_logrank_test_facade_smoke(spark):
    rows = [("a", float(d), 1) for d in (3, 5, 7, 9)] + [
        ("b", float(d), 1) for d in (4, 6, 8, 10)
    ]
    df = spark.createDataFrame(rows, "g string, dur double, ev int")
    out = Babe(df).logrank_test("dur", "ev", "g", "a", "b")
    assert isinstance(out, Babe)
    r = out.df.collect()
    assert len(r) == 1 and r[0]["n_a"] == 4 and r[0]["n_b"] == 4
