"""The ``Babe`` forwarding table (``plans/facade.py`` ``_FORWARDS``).

Every chain method that only forwards is bound from the table at import
time. These checks need no Spark session: the stubbed calls below pass
plain objects where a DataFrame would go.
"""

import ast
import importlib
import inspect
import sys
import types

import pytest

from pybabe_spark.plans import facade
from pybabe_spark.plans.facade import Babe


def _entries():
    for module, names in facade._FORWARDS.items():
        for entry in names.split():
            name, _, op = entry.partition("=")
            yield module, name, op or name


def test_every_entry_resolves_to_a_callable_operator():
    seen = set()
    for module, name, op in _entries():
        assert name not in seen, f"{name} is in the table twice"
        seen.add(name)
        fn = getattr(importlib.import_module(module), op)
        assert callable(fn), f"{module}.{op}"
        method = Babe.__dict__[name]
        assert method.__wrapped__ is fn
        assert method.__name__ == name and method.__doc__ == fn.__doc__
        # the operator's parameters after ``self``, its DataFrame dropped
        params = list(inspect.signature(method).parameters)
        assert params == ["self", *list(inspect.signature(fn).parameters)[1:]]
    assert len(seen) >= 240


def test_no_table_name_is_also_written_in_the_class_body():
    cls = next(
        n for n in ast.parse(inspect.getsource(facade)).body
        if isinstance(n, ast.ClassDef) and n.name == "Babe"
    )
    written = {
        n.name for n in cls.body
        if isinstance(n, (ast.FunctionDef, ast.ClassDef))
    } | {
        t.id for n in cls.body if isinstance(n, ast.Assign)
        for t in n.targets if isinstance(t, ast.Name)
    }
    assert written & {name for _, name, _ in _entries()} == set()


@pytest.fixture
def probe(monkeypatch):
    """A stub operator module bound onto a throwaway Babe subclass;
    every call appends ``(df, args, kwargs)`` to ``probe.calls``."""
    mod = types.ModuleType("facade_probe_ops")
    mod.calls = []

    def record(df, *args, **kwargs):
        """Stub operator."""
        mod.calls.append((df, args, kwargs))
        return f"out of {df}"

    mod.record = record
    monkeypatch.setitem(sys.modules, mod.__name__, mod)

    class Probe(Babe):
        pass

    facade._install(Probe, {mod.__name__: "record renamed=record"})
    return Probe, mod


def test_babe_arguments_reach_the_operator_as_dataframes(probe):
    Probe, mod = probe
    out = Probe("self_df").renamed(Babe("pos_df"), 3, other=Babe("kw_df"), k=4)
    assert mod.calls == [
        ("self_df", ("pos_df", 3), {"other": "kw_df", "k": 4})
    ]
    assert isinstance(out, Babe) and out.df == "out of self_df"
    assert Probe.renamed.__doc__ == "Stub operator."


def test_partition_fields_survive_a_generated_call(probe):
    Probe, mod = probe
    out = Probe("df", ("region", "day")).record()
    assert out._partition_fields == ("region", "day")
    assert mod.calls == [("df", (), {})]
