"""The equal-width cell cumulative behind the rank, CDF and quantile
operators (operators/sketch.py: _cell_of, _cell_offsets, _midrank2):
the helpers against a Python model, the two KW/Dunn rank paths against
each other, the engine-matching 6-dp rounding of the eager finishes,
and a source guard that keeps the cell id in one place."""

import json
import os
import re
from decimal import ROUND_HALF_UP, Decimal
from functools import reduce

from pyspark.sql import functions as F

from pybabe_spark.operators._util import local_rows_df, round6
from pybabe_spark.operators.sketch import (
    _cell_of,
    _cell_offsets,
    _kw_rank_sums_local,
    _pair_rank2,
    dunn_test,
    kruskal_wallis,
)

OPS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pybabe_spark",
    "operators",
)
EXT = 10**18 - 1  # the extreme cents of decimal(18,2)


def _model_cell(v, lo, hi, buckets):
    return (v - lo) * buckets // (hi - lo + 1)


def _union(parts):
    return reduce(lambda a, b: a.unionByName(b), parts)


def test_cell_of_stays_in_range_at_the_extremes(spark):
    buckets = 1024
    cases = [
        ([5, 5], 5, 5),  # lo == hi
        ([-70000, -3, -1, 0, 1], -70000, 1),
        ([-EXT, -1, 0, 1, EXT - 1, EXT], -EXT, EXT),
    ]
    parts = [
        local_rows_df(
            spark,
            [(v, lo, hi) for v in vals],
            "__v bigint, __lo bigint, __hi bigint",
        ).select(
            "__v",
            "__lo",
            "__hi",
            _cell_of("__v", "__lo", "__hi", buckets).alias("c"),
            _cell_of("__v", lo, hi, buckets).alias("k"),
        )
        for vals, lo, hi in cases
    ]
    rows = _union(parts).collect()
    assert len(rows) == sum(len(v) for v, _, _ in cases)
    for r in rows:
        want = _model_cell(r["__v"], r["__lo"], r["__hi"], buckets)
        assert 0 <= want < buckets
        assert r["c"] == r["k"] == want, (r, want)


def _model_offsets(totals):
    """{key: [(cell, total), ...]} -> {(key, cell): exclusive prefix}"""
    out = {}
    for k, cells in totals.items():
        acc = 0
        for b, t in sorted(cells):
            out[(k, b)] = acc
            acc += t
    return out


def test_cell_offsets_keyed_and_global_match_the_model(spark):
    totals = {
        "x": [(0, 3), (2, 5), (1023, 7), (7, 1)],
        "y": [(4, 2)],
        None: [(0, 1), (9, 4)],
    }
    rows = [
        (k, b, t, 10 * t) for k, cells in totals.items() for b, t in cells
    ]
    btot = local_rows_df(
        spark, rows, "k string, __b bigint, __t bigint, __u bigint"
    )
    cells = {}
    for _k, b, t, _u in rows:
        cells[b] = cells.get(b, 0) + t
    flat = {None: list(cells.items())}
    grains = {
        "keyed": (btot, ["k"], totals),
        "global": (
            btot.groupBy("__b").agg(
                F.sum("__t").alias("__t"), F.sum("__u").alias("__u")
            ),
            [],
            flat,
        ),
    }
    parts = []
    for grain, (src, keys, _m) in grains.items():
        for tot in (False, True):
            for empty in (False, True):
                df = src.filter(F.lit(False)) if empty else src
                parts.append(
                    _cell_offsets(
                        df, keys, {"__t": "__o", "__u": "__ou"}, 1024, tot
                    ).select(
                        F.lit(f"{grain} {tot} {empty}").alias("case"),
                        F.to_json(F.struct("*")).alias("j"),
                    )
                )
    got = {}
    for r in _union(parts).collect():
        got.setdefault(r["case"], []).append(json.loads(r["j"]))
    # an empty grain has no cells, keyed or global
    assert not any(case.endswith("True") for case in got)
    for grain, (_src, keys, model) in grains.items():
        offs = _model_offsets(model)
        for tot in (False, True):
            out = got[f"{grain} {tot} False"]
            assert len(out) == sum(len(c) for c in model.values())
            for r in out:
                k = r.get("k")
                off = offs[(k, r["__b"])]
                want = {"__b": r["__b"], "__o": off, "__ou": 10 * off}
                if keys and k is not None:
                    want["k"] = k
                if tot:
                    want["__t"] = dict(model[k])[r["__b"]]
                    want["__u"] = 10 * want["__t"]
                    want["__tot"] = sum(t for _, t in model[k])
                assert r == want, (grain, tot, r, want)


def _model_r2(grain):
    """[(key, v, c)] -> {(key, v): 2·midrank}: 2·(count below v) + n_v + 1"""
    out = {}
    for key in {k for k, _, _ in grain}:
        g = [(v, c) for k, v, c in grain if k == key]
        for v, _ in g:
            below = sum(c for w, c in g if w < v)
            nv = sum(c for w, c in g if w == v)
            out[(key, v)] = 2 * below + nv + 1
    return out


def test_pair_rank2_doubled_midranks_match_the_model(spark):
    keyed = [
        ("a", -EXT, 2),
        ("a", -5, 1),
        ("a", 0, 3),
        ("a", EXT, 1),
        ("b", 7, 4),
        ("b", 8, 1),
        ("c", 42, 5),  # lo == hi within the group
        (None, -1, 2),
        (None, 3, 1),
    ]
    cases = {
        "keyed": (keyed, ["k"]),
        "global": ([("", v, c) for _k, v, c in keyed], []),
        "tied": ([("", 9, 2), ("", 9, 3)], []),  # lo == hi globally
        "empty": ([], ["k"]),
    }
    schema = "k string, __v bigint, __c bigint"
    got = _union([
        _pair_rank2(local_rows_df(spark, grain, schema), keys, "__v", "__r2")
        .select(F.lit(name).alias("case"), "k", "__v", "__r2")
        for name, (grain, keys) in cases.items()
    ]).collect()
    for name, (grain, _keys) in cases.items():
        mine = [r for r in got if r["case"] == name]
        model = _model_r2(grain)
        assert len(mine) == len(grain), name
        for r in mine:
            assert r["__r2"] == model[(r["k"], r["__v"])], (name, r)


def _kw_cases():
    wide = []  # 0..40.33: > 1024 cents, ties on cell boundaries
    for c in range(0, 4096, 64):
        wide.append(("p", c / 100))
        wide.append(("q", c / 100))
        wide.append(("r", (c + 1) / 100))
    return {
        "nulls_negative": ("string", [
            ("a", -3.0), ("a", None), (None, 2.0), ("a", -0.01),
            ("b", -3.0), ("b", 0.0), ("c", -100.5), ("c", 4.0),
            (None, None),
        ]),
        "all_tied": ("string", [
            ("a", 7.25), ("b", 7.25), ("b", 7.25), ("c", 7.25),
        ]),
        # a non-string group: the literal pair keeps the column's type
        "one_group": ("int", [(1, 1.0), (1, 2.0), (1, 2.0)]),
        "wide": ("string", wide),
        "empty": ("string", []),
    }


def test_kw_and_dunn_in_plan_equals_literal_rank_sums(spark):
    """Each case's in-plan ``_kw_rank_sums`` path against the eager
    VALUES-literal pair, for both consumers; one action per consumer."""
    kw, dunn = [], []
    for case, (g_typ, rows) in _kw_cases().items():
        df = local_rows_df(spark, rows, f"g {g_typ}, v double")
        pair = _kw_rank_sums_local(df, "g", "v")
        assert dict(pair[0].dtypes)["__g"] == g_typ
        for path, rs in (("plan", None), ("literal", pair)):
            tag = [F.lit(case).alias("case"), F.lit(path).alias("path")]
            kw.append(kruskal_wallis(df, "g", "v", rank_sums=rs)
                      .select(*tag, "*"))
            dunn.append(dunn_test(df, "g", "v", rank_sums=rs)
                        .select(*tag, F.to_json(F.struct("*")).alias("j")))
    for parts in (kw, dunn):
        got = {}
        for r in _union(parts).collect():
            d = r.asDict()
            got.setdefault((d.pop("case"), d.pop("path")), []).append(
                tuple(sorted(d.items(), key=str))
            )
        for case in _kw_cases():
            assert sorted(got.get((case, "plan"), [])) == sorted(
                got.get((case, "literal"), [])
            ), case
    assert got[("wide", "plan")]  # the pairwise table is not vacuous


def test_round6_matches_the_engine_cast(spark):
    grid = [
        s * (k + 0.5) * 1e-6 + m
        for k in range(200)
        for s in (1, -1)
        for m in (0, 3)
    ]
    df = local_rows_df(spark, [(i, x) for i, x in enumerate(grid)],
                       "i int, x double")
    got = {
        r["i"]: r["d"]
        for r in df.select(
            "i", F.col("x").cast("decimal(18,6)").alias("d")
        ).collect()
    }
    six = Decimal("0.000001")
    exact_differs = 0
    for i, x in enumerate(grid):
        assert round6(x) == got[i], (x, round6(x), got[i])
        exact_differs += Decimal(x).quantize(six, ROUND_HALF_UP) != got[i]
    assert exact_differs > 0  # the grid shows why Decimal(x) is wrong
    assert round6(3.5e-06) == Decimal("0.000004")


def test_cell_id_formula_lives_only_in_cell_of():
    formula = re.compile(r"div \(CAST\((__hi|\{hi\})")
    hits = []
    for name in sorted(os.listdir(OPS)):
        if not name.endswith(".py"):
            continue
        src = open(os.path.join(OPS, name), encoding="utf-8").read()
        # blank out _cell_of's body: the one sanctioned copy
        if name == "sketch.py":
            src = re.sub(
                r"\ndef _cell_of\(.*?(?=\ndef )",
                lambda m: "\n" * m.group(0).count("\n"),
                src,
                count=1,
                flags=re.S,
            )
        for i, line in enumerate(src.splitlines(), 1):
            if formula.search(line):
                hits.append(f"{name}:{i}: {line.strip()}")
    assert not hits, "hand-written cell id, use sketch._cell_of:\n" + (
        "\n".join(hits)
    )
