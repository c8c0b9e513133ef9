"""Count-min sketch: overcount-only guarantee, cross-engine
bit-identity, and linearity (merge == build-over-union)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from pybabe_spark.operators.sketch import (
    cms_build,
    cms_estimate_sql,
    cms_lookup,
    cms_merge,
)


def _est(spark, df, width=64, depth=3):
    cms = cms_build(df, "k", width, depth)
    return dict(
        (r["k"], r["cms_count"])
        for r in cms_lookup(cms, df, "k", width, depth).collect()
    )


def test_overcount_only_and_exact_when_wide(spark):
    df = spark.createDataFrame(
        [(i % 50,) for i in range(5000)] + [(999,)], "k bigint"
    )
    true = {k: 100 for k in range(50)}
    true[999] = 1
    # tight width: estimates may exceed but never undercount
    est = _est(spark, df, width=64, depth=3)
    assert set(est) == set(true)
    assert all(est[k] >= true[k] for k in true)
    # generous width: all estimates exact
    est_wide = _est(spark, df, width=8192, depth=4)
    assert est_wide == true


def test_cross_engine_bit_identity(spark):
    df = spark.createDataFrame(
        [((i * 7) % 97,) for i in range(3000)], "k bigint"
    )
    got = sorted(_est(spark, df, width=64, depth=3).items())
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = sorted(
        map(tuple, con.execute(cms_estimate_sql("t", "k", 64, 3)).fetchall())
    )
    assert got == want


def test_merge_equals_build_over_union(spark):
    df = spark.createDataFrame([(i % 40,) for i in range(4000)], "k bigint")
    h1 = cms_build(df.filter("k < 20"), "k", 64, 3)
    h2 = cms_build(df.filter("k >= 20"), "k", 64, 3)
    merged = cms_merge(h1, h2)
    got = sorted(
        (r["k"], r["cms_count"])
        for r in cms_lookup(merged, df, "k", 64, 3).collect()
    )
    want = sorted(_est(spark, df, width=64, depth=3).items())
    assert got == want


def test_null_and_string_keys(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",)], "k string"
    )
    est = _est(spark, df, width=256, depth=3)
    assert est["a"] == 2 and est["b"] == 1 and est[None] == 1


def test_type_guard(spark):
    df = spark.createDataFrame([(1.5,)], "k double")
    with pytest.raises(TypeError, match="integral or string"):
        cms_build(df, "k")


def test_quantiles_exact_matches_python(spark):
    from pybabe_spark.operators.sketch import quantiles

    vals = [float(v) for v in [1, 3, 5, 7, 100, 2, 4, 6, 8, 50]]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {r["prob"]: r["value"] for r in quantiles(df, "v", [0.5, 0.9]).collect()}

    def pq(p):
        s = sorted(vals)
        rank = p * (len(s) - 1)
        lo, hi = int(rank), min(int(rank) + 1, len(s) - 1)
        return round(s[lo] + (s[hi] - s[lo]) * (rank - lo), 6)

    assert got == {0.5: pq(0.5), 0.9: pq(0.9)}


def test_quantiles_grouped_and_approx_brackets(spark):
    from pybabe_spark.operators.sketch import quantiles, quantiles_approx

    rows = [("a", float(i)) for i in range(101)] + [
        ("b", float(1000 + i)) for i in range(11)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    exact = {
        (r["g"], r["prob"]): r["value"]
        for r in quantiles(df, "v", [0.5], by="g").collect()
    }
    assert exact == {("a", 0.5): 50.0, ("b", 0.5): 1005.0}
    approx = {
        (r["g"], r["prob"]): r["value"]
        for r in quantiles_approx(df, "v", [0.5], by="g").collect()
    }
    # rank error <= 1/accuracy: on 101 values the estimate is the median
    for k, v in approx.items():
        assert abs(v - exact[k]) <= 1.0


def test_corr_matrix_hand_checked(spark):
    from pybabe_spark.operators.sketch import corr_matrix

    rows = [(float(i), float(2 * i), float(-i), None if i % 2 else float(i))
            for i in range(20)]
    df = spark.createDataFrame(rows, "a double, b double, c double, d double")
    got = {
        (r["col_x"], r["col_y"]): (r["n"], r["corr"])
        for r in corr_matrix(df, ["a", "b", "c", "d"]).collect()
    }
    assert got[("a", "b")] == (20, 1.0)     # perfectly linear
    assert got[("a", "c")] == (20, -1.0)
    assert got[("b", "c")] == (20, -1.0)
    # pairwise deletion: d has 10 non-null rows; a==d on those -> 1.0
    assert got[("a", "d")] == (10, 1.0)


def test_corr_matrix_zero_variance_null(spark):
    df = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0), (3.0, 5.0)], "a double, b double"
    )
    from pybabe_spark.operators.sketch import corr_matrix

    row = corr_matrix(df, ["a", "b"]).collect()[0]
    assert row["corr"] is None


def test_hll_merge_equals_build_and_bounds(spark):
    from pybabe_spark.operators.sketch import (
        hll_build,
        hll_estimate,
        hll_merge,
    )

    df = spark.createDataFrame(
        [(i % 7, (i * 13) % 500) for i in range(5000)], "g int, u bigint"
    )
    per_g = hll_build(df, "u", by="g")
    est = {r["g"]: r["distinct_est"] for r in hll_estimate(per_g).collect()}
    exact = {
        r["g"]: r["n"]
        for r in df.groupBy("g").agg(
            __import__("pyspark.sql.functions", fromlist=["countDistinct"])
            .countDistinct("u").alias("n")
        ).collect()
    }
    for g, e in est.items():
        assert abs(e - exact[g]) <= max(2, 0.05 * exact[g])
    # merged per-group sketches estimate the same global distinct set
    # (union transitions sparse→dense differently than a direct build,
    # so assert the error bound, not estimate equality)
    merged = hll_estimate(hll_merge(per_g)).collect()[0]["distinct_est"]
    direct = hll_estimate(hll_build(df, "u")).collect()[0]["distinct_est"]
    assert abs(merged - 500) <= 25 and abs(direct - 500) <= 25


def test_param_mismatch_raises_in_plan(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(i % 10,) for i in range(100)], "k bigint")
    cms = cms_build(df, "k", width=64, depth=3)
    # probing with different params must raise at the action, not
    # silently estimate from the wrong cells
    bad = cms_lookup(cms, df, "k", width=128, depth=3)
    bad.schema  # analysis stays lazy and clean
    with _pytest.raises(Exception, match="width, depth"):
        bad.collect()
    # merging mismatched sketches survives the merge, raises at lookup
    other = cms_build(df, "k", width=128, depth=3)
    merged = cms_merge(cms, other)
    with _pytest.raises(Exception, match="width, depth"):
        cms_lookup(merged, df, "k", width=64, depth=3).collect()


def test_ab_test_hand_checked(spark):
    from pybabe_spark.operators.sketch import ab_test

    # control 10% (100 trials), treatment 40% (100 trials): clearly
    # significant; equal rates: clearly not
    rows = [("A", 1 if i < 10 else 0) for i in range(100)]
    rows += [("B", 1 if i < 40 else 0) for i in range(100)]
    df = spark.createDataFrame(rows, "v string, s int")
    r = ab_test(df, "v", "s", "A", "B").collect()[0]
    assert (r["n_control"], r["conv_control_ppm"]) == (100, 100000)
    assert (r["n_treatment"], r["conv_treatment_ppm"]) == (100, 400000)
    assert r["lift_ppm"] == 300000 and r["significant"]

    same = spark.createDataFrame(
        [("A", i % 10 == 0) for i in range(100)]
        + [("B", i % 10 == 0) for i in range(100)],
        "v string, s boolean",
    )
    r2 = ab_test(same, "v", "s", "A", "B").collect()[0]
    assert not r2["significant"] and r2["lift_ppm"] == 0


# -- weighted_quantiles (operators/sketch.py) ---------------------------------


def test_weighted_quantiles_hand_checked(spark):
    from pybabe_spark.operators.sketch import weighted_quantiles

    # values 1..4 with weights 1,1,6,2 (total 10): cum = 1,2,8,10
    # p=0.5 → first cum ≥ 5 → 3; p=0.2 → 2; p=0.9 → 4; p=0.8 → 3
    rows = [("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 6.0),
            ("g", 4.0, 2.0)]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    got = {
        r["prob"]: r["value"]
        for r in weighted_quantiles(
            df, "v", "w", [0.2, 0.5, 0.8, 0.9], by="g"
        ).collect()
    }
    assert got == {0.2: 2.0, 0.5: 3.0, 0.8: 3.0, 0.9: 4.0}


def test_weighted_quantiles_equal_weights_match_lower_quantile(spark):
    from pybabe_spark.operators.sketch import weighted_quantiles

    rows = [("g", float(v), 1.0) for v in range(1, 11)]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    got = {
        r["prob"]: r["value"]
        for r in weighted_quantiles(df, "v", "w", [0.5, 1.0], by="g").collect()
    }
    assert got == {0.5: 5.0, 1.0: 10.0}


def test_weighted_quantiles_excludes_bad_rows_and_dup_values(spark):
    from pybabe_spark.operators.sketch import weighted_quantiles

    rows = [("g", 1.0, 3.0), ("g", 1.0, 3.0),   # dup value: weights add
            ("g", 2.0, 0.0), ("g", None, 9.0),  # zero weight / NULL out
            ("g", 5.0, 6.0)]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    got = {
        r["prob"]: r["value"]
        for r in weighted_quantiles(df, "v", "w", [0.5, 0.6], by="g").collect()
    }
    # total 12: cum(1.0)=6 ≥ 0.5·12 → 1.0; 0.6·12=7.2 → 5.0
    assert got == {0.5: 1.0, 0.6: 5.0}


def test_weighted_quantiles_keyless_and_null_group(spark):
    from pybabe_spark.operators.sketch import weighted_quantiles

    # keyless: the limit-proved bucket-prefix path
    rows = [(float(v), 1.0) for v in range(1, 11)]
    df = spark.createDataFrame(rows, "v double, w double")
    got = {
        r["prob"]: r["value"]
        for r in weighted_quantiles(df, "v", "w", [0.5, 1.0]).collect()
    }
    assert got == {0.5: 5.0, 1.0: 10.0}
    # NULL group key is its own group (window-partition parity)
    rows2 = [("g", 1.0, 1.0), ("g", 3.0, 1.0),
             (None, 10.0, 1.0), (None, 20.0, 3.0)]
    df2 = spark.createDataFrame(rows2, "g string, v double, w double")
    got2 = {
        (r["g"], r["prob"]): r["value"]
        for r in weighted_quantiles(df2, "v", "w", [0.5], by="g").collect()
    }
    assert got2 == {("g", 0.5): 1.0, (None, 0.5): 20.0}


def test_weighted_quantiles_randomized_vs_python_model(spark):
    import random

    from pybabe_spark.operators.sketch import weighted_quantiles

    rng = random.Random(17)
    rows = [
        (rng.choice("abc"),
         round(rng.uniform(-50, 50), 2),
         round(rng.uniform(0.01, 5.0), 3))
        for _ in range(600)
    ]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    probs = [0.1, 0.25, 0.5, 0.75, 0.99, 1.0]
    # few buckets → values share cells; offsets must still be exact
    got = {
        (r["g"], r["prob"]): r["value"]
        for r in weighted_quantiles(
            df, "v", "w", probs, by="g", buckets=7
        ).collect()
    }
    # python model on the same cents/micro lift
    from collections import defaultdict

    agg = defaultdict(lambda: defaultdict(int))
    for g, v, w in rows:
        agg[g][int(round(v * 100))] += int(round(w * 1_000_000))
    want = {}
    for g, vw in agg.items():
        tot = sum(vw.values())
        for p in probs:
            p_ppm = int(round(p * 1_000_000))
            cum = 0
            for v in sorted(vw):
                cum += vw[v]
                if cum * 1_000_000 >= p_ppm * tot:
                    want[(g, p)] = v / 100
                    break
    assert got == want


# -- spearman_corr (operators/sketch.py) ---------------------------------------


def test_spearman_hand_checked_and_python_model(spark):
    import random

    from pybabe_spark.operators.sketch import spearman_corr

    # perfect monotone (nonlinear) relation: rho = 1 even though
    # Pearson < 1
    rows = [("g", float(i), float(i) ** 3 / 100) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    r = spearman_corr(df, "x", "y", by="g").collect()[0]
    assert r["n"] == 20 and r["rho"] == 1.0
    # reversed: rho = -1
    rows2 = [("g", float(i), float(-i)) for i in range(1, 21)]
    df2 = spark.createDataFrame(rows2, "g string, x double, y double")
    assert spearman_corr(df2, "x", "y", by="g").collect()[0]["rho"] == -1.0

    # randomized with ties + NULLs vs a python model (average ranks)
    rng = random.Random(5)
    rows3 = [
        (rng.choice("ab"),
         None if rng.random() < 0.05 else round(rng.uniform(0, 20), 2),
         None if rng.random() < 0.05 else round(rng.uniform(0, 9), 1))
        for _ in range(400)
    ]
    df3 = spark.createDataFrame(rows3, "g string, x double, y double")
    got = {
        r["g"]: (r["n"], r["rho"])
        for r in spearman_corr(df3, "x", "y", by="g", buckets=7).collect()
    }

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while (j + 1 < len(order)
                   and vals[order[j + 1]] == vals[order[i]]):
                j += 1
            r = (i + j) / 2 + 1
            for k in range(i, j + 1):
                ranks[order[k]] = r
            i = j + 1
        return ranks

    import math

    for g in "ab":
        pts = [(int(round(x * 100)), int(round(y * 100)))
               for gg, x, y in rows3
               if gg == g and x is not None and y is not None]
        rx = avg_ranks([p[0] for p in pts])
        ry = avg_ranks([p[1] for p in pts])
        n = len(pts)
        mx, my = sum(rx) / n, sum(ry) / n
        cov = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
        vx = sum((a - mx) ** 2 for a in rx)
        vy = sum((b - my) ** 2 for b in ry)
        want = cov / math.sqrt(vx * vy)
        assert got[g][0] == n
        assert abs(got[g][1] - want) < 1e-5, (g, got[g][1], want)


def test_spearman_keyless_and_degenerate(spark):
    from pybabe_spark.operators.sketch import spearman_corr

    rows = [(float(i), float(i % 3)) for i in range(30)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = spearman_corr(df, "x", "y").collect()
    assert len(out) == 1 and out[0]["n"] == 30
    assert -1.0 <= out[0]["rho"] <= 1.0
    # constant y: zero rank variance -> NULL rho
    const = spark.createDataFrame(
        [(float(i), 5.0) for i in range(10)], "x double, y double"
    )
    assert spearman_corr(const, "x", "y").collect()[0]["rho"] is None


# -- bootstrap_mean_ci (operators/sketch.py) ------------------------------------


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    from pybabe_spark.operators.sketch import bootstrap_mean_ci

    rows = [("g", i, 10.0 + (i % 7)) for i in range(500)]
    df = spark.createDataFrame(rows, "g string, id bigint, v double")
    out = bootstrap_mean_ci(df, "v", "id", by="g", n_resamples=40)
    r = out.collect()[0]
    assert r["n"] == 500
    assert abs(r["mean"] - sum(10.0 + (i % 7) for i in range(500)) / 500) < 1e-9
    # the CI brackets the sample mean and is sane for a tight metric
    assert r["ci_lo"] <= r["mean"] <= r["ci_hi"]
    assert r["ci_hi"] - r["ci_lo"] < 1.0
    # determinism: exact same interval on re-run
    r2 = bootstrap_mean_ci(df, "v", "id", by="g", n_resamples=40).collect()[0]
    assert (r2["ci_lo"], r2["ci_hi"]) == (r["ci_lo"], r["ci_hi"])
    # a different seed is a different (but overlapping) interval
    r3 = bootstrap_mean_ci(
        df, "v", "id", by="g", n_resamples=40, seed=1
    ).collect()[0]
    assert (r3["ci_lo"], r3["ci_hi"]) != (r["ci_lo"], r["ci_hi"])
    assert r3["ci_lo"] <= r["mean"] <= r3["ci_hi"]


def test_bootstrap_ci_validation_and_nulls(spark):
    import pytest

    from pybabe_spark.operators.sketch import bootstrap_mean_ci

    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 3.0)], "id bigint, v double"
    )
    out = bootstrap_mean_ci(df, "v", "id", n_resamples=10).collect()[0]
    assert out["n"] == 2 and out["mean"] == 2.0
    with pytest.raises(ValueError, match="n_resamples"):
        bootstrap_mean_ci(df, "v", "id", n_resamples=2)
    with pytest.raises(ValueError, match="alpha"):
        bootstrap_mean_ci(df, "v", "id", alpha=1.5)


def test_poisson_weights_mean_near_one(spark):
    """The integral inverse-CDF weights must actually behave like
    Poisson(1): mean ≈ 1, P(0) ≈ 1/e over many keys."""
    from pyspark.sql import functions as F

    from pybabe_spark.operators.sketch import _poisson_weight

    df = spark.createDataFrame([(str(i),) for i in range(20000)], "k string")
    u60 = F.conv(
        F.substring(F.md5(F.concat(F.lit("0:0:"), F.col("k"))), 1, 15),
        16, 10,
    ).cast("bigint")
    stats = df.select(_poisson_weight(u60).alias("w")).agg(
        F.avg("w").alias("m"),
        F.avg((F.col("w") == 0).cast("int")).alias("p0"),
    ).collect()[0]
    assert abs(stats["m"] - 1.0) < 0.02
    assert abs(stats["p0"] - 0.3679) < 0.01


# -- cramers_v (operators/sketch.py) --------------------------------------------


def test_cramers_v_hand_checked(spark):
    import math

    from pybabe_spark.operators.sketch import cramers_v

    # perfect association: a determines b exactly -> V = 1
    rows = [(f"a{i % 3}", f"b{i % 3}") for i in range(300)]
    df = spark.createDataFrame(rows, "a string, b string")
    r = cramers_v(df, "a", "b").collect()[0]
    assert r["n"] == 300 and abs(r["v"] - 1.0) < 0.01
    # independence: V near 0
    rows2 = [(f"a{i % 3}", f"b{(i // 3) % 4}") for i in range(600)]
    df2 = spark.createDataFrame(rows2, "a string, b string")
    r2 = cramers_v(df2, "a", "b").collect()[0]
    assert r2["v"] < 0.01
    # V consistent with the reported integral chi2
    want = math.sqrt((r2["chi2_ppm"] / 1e6) / (600 * min(2, 3)))
    assert abs(r2["v"] - want) < 1e-6
    # single-category side -> NULL
    one = spark.createDataFrame([("x", "p"), ("x", "q")], "a string, b string")
    assert cramers_v(one, "a", "b").collect()[0]["v"] is None


# -- mutual_information (operators/sketch.py) -----------------------------------


@pytest.mark.deep
def test_mutual_information_hand_checked(spark):
    import math

    from pybabe_spark.operators.sketch import mutual_information

    # a determines b exactly: MI = H(a) = H(b), NMI = 1
    rows = [(f"a{i % 3}", f"b{i % 3}") for i in range(300)]
    df = spark.createDataFrame(rows, "a string, b string")
    r = mutual_information(df, "a", "b").collect()[0]
    assert r["n"] == 300
    assert abs(r["h_a"] - math.log(3)) < 1e-4
    assert abs(r["mi"] - r["h_a"]) < 1e-4
    assert abs(r["nmi"] - 1.0) < 1e-4
    # independent columns: MI ~ 0
    rows2 = [(f"a{i % 3}", f"b{(i // 3) % 4}") for i in range(600)]
    df2 = spark.createDataFrame(rows2, "a string, b string")
    r2 = mutual_information(df2, "a", "b").collect()[0]
    assert abs(r2["mi"]) < 1e-3 and abs(r2["nmi"]) < 1e-3
    # python cross-check on a skewed joint distribution
    rows3 = [("x", "p")] * 50 + [("x", "q")] * 10 + [("y", "q")] * 40
    df3 = spark.createDataFrame(rows3, "a string, b string")
    r3 = mutual_information(df3, "a", "b").collect()[0]
    n = 100.0
    import collections

    ja = collections.Counter(a for a, _ in rows3)
    jb = collections.Counter(b for _, b in rows3)
    jab = collections.Counter(rows3)

    def h(cnt):
        return math.log(n) - sum(
            round(c * math.log(c), 6) for c in cnt.values()
        ) / n

    want = math.log(n) + (
        sum(round(c * math.log(c), 6) for c in jab.values())
        - sum(round(c * math.log(c), 6) for c in ja.values())
        - sum(round(c * math.log(c), 6) for c in jb.values())
    ) / n
    assert abs(r3["mi"] - want) < 1e-5
    assert abs(r3["h_a"] - h(ja)) < 1e-5
    # empty input: n=0, NULL measures
    empty = spark.createDataFrame([], "a string, b string")
    r4 = mutual_information(empty, "a", "b").collect()[0]
    assert r4["n"] == 0 and r4["mi"] is None and r4["nmi"] is None


def test_lazy_persist_is_tracked_and_releasable(spark):
    """An operator's lazy persist registers with the shared tracker so
    long sessions have a release path (r9 advisory: cached blocks
    accumulated with no unpersist)."""
    from pybabe_spark.operators._util import (
        _TRACKED_PERSISTS,
        lazy_persist,
        unpersist_tracked,
    )

    unpersist_tracked()  # drain anything earlier tests left behind
    before = len(_TRACKED_PERSISTS)
    out = lazy_persist(spark.range(10))
    assert out.count() == 10
    assert len(_TRACKED_PERSISTS) > before
    assert unpersist_tracked() >= 1
    assert len(_TRACKED_PERSISTS) == 0


# -- cohens_kappa (operators/sketch.py) ------------------------------------------


def _kappa_frame(spark, pairs):
    return spark.createDataFrame(pairs, "a string, b string")


def test_kappa_perfect_agreement(spark):
    from pybabe_spark.operators.sketch import cohens_kappa

    pairs = [("x", "x")] * 6 + [("y", "y")] * 4
    r = cohens_kappa(_kappa_frame(spark, pairs), "a", "b").collect()[0]
    assert (r["n"], r["agree"]) == (10, 10)
    assert r["kappa"] == 1.0


def test_kappa_hand_checked_textbook(spark):
    """Classic 2x2 worked example: 50 raters' items, po=0.7, pe=0.5
    -> kappa = 0.4 exactly."""
    from pybabe_spark.operators.sketch import cohens_kappa

    pairs = (
        [("yes", "yes")] * 20 + [("yes", "no")] * 5
        + [("no", "yes")] * 10 + [("no", "no")] * 15
    )
    r = cohens_kappa(_kappa_frame(spark, pairs), "a", "b").collect()[0]
    # N=50, agree=35, pe_num = r_yes*c_yes + r_no*c_no = 25*30+25*20=1250
    # kappa = (50*35-1250)/(2500-1250) = 500/1250 = 0.4
    assert (r["n"], r["agree"]) == (50, 35)
    assert abs(r["kappa"] - 0.4) < 1e-9


def test_kappa_systematic_disagreement_negative(spark):
    """Perfectly ASSOCIATED but systematically swapped labels: V = 1,
    kappa = -1 — the off-diagonal structure only kappa prices."""
    from pybabe_spark.operators.sketch import cohens_kappa, cramers_v

    pairs = [("x", "y")] * 5 + [("y", "x")] * 5
    fr = _kappa_frame(spark, pairs)
    k = cohens_kappa(fr, "a", "b").collect()[0]
    v = cramers_v(fr, "a", "b").collect()[0]
    assert k["agree"] == 0 and k["kappa"] == -1.0
    assert v["v"] == 1.0


def test_kappa_chance_level_zero(spark):
    """Independent uniform labels: agreement exactly at chance →
    kappa = 0."""
    from pybabe_spark.operators.sketch import cohens_kappa

    pairs = [
        (a, b) for a in ("x", "y") for b in ("x", "y") for _ in range(5)
    ]
    r = cohens_kappa(_kappa_frame(spark, pairs), "a", "b").collect()[0]
    assert r["kappa"] == 0.0


def test_kappa_degenerate_and_nulls(spark):
    from pybabe_spark.operators.sketch import cohens_kappa

    # single category both sides: pe = N² → undefined
    r = cohens_kappa(
        _kappa_frame(spark, [("x", "x")] * 3), "a", "b"
    ).collect()[0]
    assert (r["n"], r["agree"], r["kappa"]) == (3, 3, None)
    # NULLs excluded; empty after filter → (0, 0, NULL)
    r2 = cohens_kappa(
        _kappa_frame(spark, [("x", None), (None, "y")]), "a", "b"
    ).collect()[0]
    assert (r2["n"], r2["agree"], r2["kappa"]) == (0, 0, None)


def test_kappa_matches_python_model(spark):
    import random

    from pybabe_spark.operators.sketch import cohens_kappa

    rng = random.Random(47)
    labels = ["a", "b", "c", "d"]
    pairs = [
        (
            rng.choice(labels),
            rng.choice(labels) if rng.random() < 0.5 else "a",
        )
        for _ in range(500)
    ]
    r = cohens_kappa(_kappa_frame(spark, pairs), "a", "b").collect()[0]
    n = len(pairs)
    agree = sum(1 for a, b in pairs if a == b)
    from collections import Counter

    ra = Counter(a for a, _ in pairs)
    cb = Counter(b for _, b in pairs)
    pe = sum(ra[v] * cb.get(v, 0) for v in ra)
    expect = (n * agree - pe) / (n * n - pe)
    assert (r["n"], r["agree"]) == (n, agree)
    assert abs(r["kappa"] - expect) < 1e-6


def test_kappa_facade(spark):
    from pybabe_spark.plans.facade import Babe

    out = Babe(_kappa_frame(spark, [("x", "x"), ("x", "y")])) \
        .cohens_kappa("a", "b")
    assert out.df.collect()[0]["n"] == 2


# -- classification_report (operators/classifier.py) -----------------------------


def test_classification_report_hand_checked(spark):
    from pybabe_spark.operators.classifier import classification_report

    pairs = (
        [("a", "a")] * 3 + [("a", "b")] * 1
        + [("b", "b")] * 2 + [("b", "a")] * 2
    )
    df = spark.createDataFrame(pairs, "gold string, pred string")
    rows = {
        r["label"]: r
        for r in classification_report(df, "gold", "pred").collect()
    }
    a, b = rows["a"], rows["b"]
    # a: tp=3 fp=2 fn=1 support=4
    assert (a["tp"], a["fp"], a["fn"], a["support"]) == (3, 2, 1, 4)
    assert a["precision_ppm"] == 600_000  # 3/5
    assert a["recall_ppm"] == 750_000  # 3/4
    assert a["f1_ppm"] == (2 * 3 * 1_000_000) // (2 * 3 + 2 + 1)
    # b: tp=2 fp=1 fn=2 support=4
    assert (b["tp"], b["fp"], b["fn"]) == (2, 1, 2)
    assert b["precision_ppm"] == 666_666  # floored 2/3


def test_classification_report_never_predicted_and_phantom_label(spark):
    """A gold label never predicted → NULL precision, recall 0; a
    predicted label absent from gold → support 0, NULL recall."""
    from pybabe_spark.operators.classifier import classification_report

    pairs = [("x", "y"), ("x", "y"), ("y", "y")]
    df = spark.createDataFrame(pairs, "gold string, pred string")
    rows = {
        r["label"]: r
        for r in classification_report(df, "gold", "pred").collect()
    }
    x = rows["x"]
    assert (x["tp"], x["fp"], x["fn"], x["support"]) == (0, 0, 2, 2)
    assert x["precision_ppm"] is None and x["recall_ppm"] == 0
    assert x["f1_ppm"] == 0  # 2tp+fp+fn = 2 > 0, tp = 0
    y = rows["y"]
    assert (y["tp"], y["fp"], y["support"]) == (1, 2, 1)

    only_pred = spark.createDataFrame(
        [("g1", "phantom"), ("g1", "g1")], "gold string, pred string"
    )
    rows2 = {
        r["label"]: r
        for r in classification_report(only_pred, "gold", "pred").collect()
    }
    ph = rows2["phantom"]
    assert (ph["tp"], ph["fp"], ph["fn"], ph["support"]) == (0, 1, 0, 0)
    assert ph["recall_ppm"] is None and ph["precision_ppm"] == 0


def test_classification_report_matches_python_model(spark):
    import random
    from collections import Counter

    from pybabe_spark.operators.classifier import classification_report

    rng = random.Random(53)
    labels = ["a", "b", "c"]
    pairs = [
        (rng.choice(labels), rng.choice(labels)) for _ in range(300)
    ]
    df = spark.createDataFrame(pairs, "gold string, pred string")
    got = {
        r["label"]: (r["tp"], r["fp"], r["fn"], r["precision_ppm"],
                     r["recall_ppm"], r["f1_ppm"])
        for r in classification_report(df, "gold", "pred").collect()
    }
    cells = Counter(pairs)
    for lab in labels:
        tp = cells[(lab, lab)]
        fp = sum(c for (g, p), c in cells.items() if p == lab and g != lab)
        fn = sum(c for (g, p), c in cells.items() if g == lab and p != lab)
        expect = (
            tp, fp, fn,
            (tp * 1_000_000) // (tp + fp) if tp + fp else None,
            (tp * 1_000_000) // (tp + fn) if tp + fn else None,
            (2 * tp * 1_000_000) // (2 * tp + fp + fn)
            if 2 * tp + fp + fn else None,
        )
        assert got[lab] == expect, lab


def test_classification_report_facade(spark):
    from pybabe_spark.plans.facade import Babe

    df = spark.createDataFrame([("x", "x")], "gold string, pred string")
    out = Babe(df).classification_report("gold", "pred")
    assert out.df.collect()[0]["f1_ppm"] == 1_000_000
