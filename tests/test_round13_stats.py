"""Round-13 statistics operators: Mann–Kendall trend, Cronbach's
alpha, overdispersion index, Chow break test, Hosmer–Lemeshow —
each checked against an independent Python model on hand-built
frames plus its documented edge contracts."""

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F


def _ts_series(spark, rows):
    """rows: (key, day_offset, value) → (k, ts, v) frame."""
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(k, base + dt.timedelta(days=d), float(v)) for k, d, v in rows],
        "k string, ts timestamp, v double",
    )


def _mk_python(vals):
    """Reference Mann–Kendall on one series of per-period sums."""
    n = len(vals)
    s = 0
    for i in range(n):
        for j in range(i + 1, n):
            s += (vals[j] > vals[i]) - (vals[j] < vals[i])
    from collections import Counter

    ties = Counter(vals)
    tiesum = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    var18 = n * (n - 1) * (2 * n + 5) - tiesum
    if var18 <= 0:
        return s, var18, None
    sd = math.sqrt(var18 / 18.0)
    z = (s - 1) / sd if s > 0 else (s + 1) / sd if s < 0 else 0.0
    return s, var18, z


@pytest.mark.deep
def test_mann_kendall_matches_python_model(spark):
    from pybabe_spark.operators.timeseries import mann_kendall

    up = [(i, 1.0 + i * 0.5 + (i % 3) * 0.01) for i in range(12)]
    flat = [(i, 5.0) for i in range(8)]
    noisy = [(i, [3, 1, 4, 1, 5, 9, 2, 6][i]) for i in range(8)]
    rows = (
        [("up", d, v) for d, v in up]
        + [("flat", d, v) for d, v in flat]
        + [("noisy", d, v) for d, v in noisy]
    )
    out = {
        r["k"]: r
        for r in mann_kendall(
            _ts_series(spark, rows), "k", "ts", "v", 86400, z_crit=1.96
        ).collect()
    }
    for key, series in [
        ("up", [v for _, v in up]),
        ("flat", [v for _, v in flat]),
        ("noisy", [float(v) for _, v in noisy]),
    ]:
        s, var18, z = _mk_python(
            [round(v * 100) for v in series]  # cents, matching the lift
        )
        r = out[key]
        assert r["s"] == s
        if z is None:
            assert r["z"] is None
        else:
            assert r["var_s"] == pytest.approx(var18 / 18.0, abs=1e-6)
            assert r["z"] == pytest.approx(z, abs=2e-6)
    assert out["up"]["trend"] == "increasing"
    assert out["flat"]["z"] is None  # all tied: var18 = 0
    assert out["noisy"]["trend"] == "no_trend"


def test_mann_kendall_decreasing_and_guard(spark):
    from pybabe_spark.operators.timeseries import mann_kendall

    down = [("d", i, 100.0 - 3 * i) for i in range(10)]
    r = mann_kendall(
        _ts_series(spark, down), "k", "ts", "v", 86400, z_crit=1.96
    ).collect()[0]
    assert r["trend"] == "decreasing" and r["s"] == -45
    # period guard trips in-plan
    with pytest.raises(Exception, match="max_periods"):
        mann_kendall(
            _ts_series(spark, down), "k", "ts", "v", 86400,
            max_periods=5,
        ).collect()
    with pytest.raises(ValueError):
        mann_kendall(_ts_series(spark, down), "k", "ts", "v", 0)


def test_mann_kendall_buckets_aggregate_first(spark):
    """Two same-day events sum into ONE period before the pair walk."""
    from pybabe_spark.operators.timeseries import mann_kendall

    rows = [("a", 0, 1.0), ("a", 0, 2.0), ("a", 1, 4.0), ("a", 2, 5.0)]
    r = mann_kendall(
        _ts_series(spark, rows), "k", "ts", "v", 86400
    ).collect()[0]
    assert r["n_periods"] == 3  # day0 = 3.0, day1 = 4.0, day2 = 5.0
    assert r["s"] == 3


def _cronbach_python(matrix):
    """Reference alpha over a dense subjects × items matrix."""
    import numpy as np

    m = np.asarray(matrix, dtype=float)
    k = m.shape[1]
    item_vars = m.var(axis=0)  # population variances
    total_var = m.sum(axis=1).var()
    return k / (k - 1) * (1 - item_vars.sum() / total_var)


def test_cronbach_alpha_matches_python_model(spark):
    from pybabe_spark.operators.sketch import cronbach_alpha

    matrix = [
        [2.0, 3.0, 4.0],
        [4.0, 5.0, 6.0],
        [1.0, 2.0, 2.0],
        [5.0, 6.0, 7.0],
        [3.0, 3.0, 5.0],
    ]
    rows = [
        (f"s{si}", f"i{ii}", matrix[si][ii])
        for si in range(5)
        for ii in range(3)
    ]
    df = spark.createDataFrame(rows, "subj string, item string, v double")
    r = cronbach_alpha(df, "subj", "item", "v").collect()[0]
    want = _cronbach_python(matrix)
    assert r["n_subjects"] == 5 and r["k_items"] == 3
    assert r["alpha"] == pytest.approx(want, abs=2e-6)


def test_cronbach_alpha_sparse_zero_fill_and_edges(spark):
    """An absent (subject, item) pair scores 0 — identical to a dense
    matrix carrying an explicit 0; k<2 and zero-variance are NULL."""
    from pybabe_spark.operators.sketch import cronbach_alpha

    dense = [
        ("s1", "a", 2.0), ("s1", "b", 0.0),
        ("s2", "a", 4.0), ("s2", "b", 1.0),
        ("s3", "a", 3.0), ("s3", "b", 5.0),
    ]
    sparse = [r for r in dense if r[2] != 0.0]
    schema = "subj string, item string, v double"
    got_d = cronbach_alpha(
        spark.createDataFrame(dense, schema), "subj", "item", "v"
    ).collect()[0]
    got_s = cronbach_alpha(
        spark.createDataFrame(sparse, schema), "subj", "item", "v"
    ).collect()[0]
    assert got_d["alpha_ppm"] == got_s["alpha_ppm"]
    one_item = cronbach_alpha(
        spark.createDataFrame(dense, schema).filter("item = 'a'"),
        "subj", "item", "v",
    ).collect()[0]
    assert one_item["alpha_ppm"] is None  # k < 2
    const = cronbach_alpha(
        spark.createDataFrame(
            [("s1", "a", 1.0), ("s1", "b", 2.0),
             ("s2", "a", 1.0), ("s2", "b", 2.0)], schema
        ),
        "subj", "item", "v",
    ).collect()[0]
    assert const["alpha_ppm"] is None  # A = 0, no total variance


def test_overdispersion_poisson_vs_bursty(spark):
    from pybabe_spark.operators.sketch import overdispersion

    rows = []
    # "even": every user exactly 3 events -> D = 0 (underdispersed)
    for u in range(20):
        rows += [("even", f"u{u}")] * 3
    # "bursty": one user 40 events, 19 users 1 event
    rows += [("bursty", "hog")] * 40
    for u in range(19):
        rows += [("bursty", f"u{u}")]
    df = spark.createDataFrame(rows, "g string, e string")
    out = {
        r["g"]: r
        for r in overdispersion(df, "g", "e", z_crit=1.96).collect()
    }
    assert out["even"]["dispersion_ppm"] == 0
    assert out["even"]["overdispersed"] is False
    # bursty: n=20, S=59, Q=1619 -> D=(20*1619-59^2)/((19)*59)
    num, den = 20 * 1619 - 59 * 59, 19 * 59
    assert out["bursty"]["dispersion_ppm"] == num * 10**6 // den
    d_val = num / den
    z = (round(num * 10**6 / den - 0.5) / 1e6 - 1.0) * math.sqrt(19 / 2)
    assert out["bursty"]["z"] == pytest.approx(
        (out["bursty"]["dispersion"] - 1.0) * math.sqrt(19 / 2), abs=2e-6
    )
    assert d_val > 1 and out["bursty"]["overdispersed"] is True
    # single-entity group: n < 2 -> NULLs, decision False
    one = overdispersion(
        spark.createDataFrame([("solo", "u")], "g string, e string"),
        "g", "e", z_crit=1.96,
    ).collect()[0]
    assert one["dispersion_ppm"] is None
    assert one["overdispersed"] is False


def test_chow_test_matches_numpy_model(spark):
    import numpy as np

    from pybabe_spark.operators.regression import chow_test

    rng = [
        # regime A: y = 2x + 1; regime B: y = -x + 40 (clear break)
        *[(float(x), 2.0 * x + 1.0 + (x % 3) * 0.25, True)
          for x in range(12)],
        *[(float(x), -1.0 * x + 40.0 + (x % 2) * 0.5, False)
          for x in range(12, 24)],
    ]
    df = spark.createDataFrame(rng, "x double, y double, r boolean")
    got = chow_test(df, "x", "y", "r", f_crit=3.4928).collect()[0]

    def rss(pairs):
        xs = np.array([p[0] for p in pairs])
        ys = np.array([p[1] for p in pairs])
        A = np.vstack([xs, np.ones(len(xs))]).T
        res = ys - A @ np.linalg.lstsq(A, ys, rcond=None)[0]
        return float(res @ res)

    a = [(x, y) for x, y, r in rng if r]
    b = [(x, y) for x, y, r in rng if not r]
    p = [(x, y) for x, y, _ in rng]
    assert got["rss_a"] == pytest.approx(rss(a), rel=1e-4)
    assert got["rss_b"] == pytest.approx(rss(b), rel=1e-4)
    assert got["rss_pooled"] == pytest.approx(rss(p), rel=1e-6)
    n = len(rng)
    f_want = ((rss(p) - rss(a) - rss(b)) / 2) / (
        (rss(a) + rss(b)) / (n - 4)
    )
    assert got["f"] == pytest.approx(f_want, rel=1e-4)
    assert got["significant"] is True
    assert (got["n_total"], got["n_a"], got["n_b"]) == (24, 12, 12)


def test_chow_test_stable_relation_and_edges(spark):
    from pybabe_spark.operators.regression import chow_test

    same = [
        (float(x), 3.0 * x + 2.0, x < 10) for x in range(20)
    ]
    df = spark.createDataFrame(same, "x double, y double, r boolean")
    got = chow_test(df, "x", "y", "r", f_crit=3.4928).collect()[0]
    # perfect shared line: every RSS is 0 -> F undefined, not "sig"
    assert got["f"] is None and got["significant"] is False
    # a regime with n < 3 -> NULL F
    tiny = chow_test(
        spark.createDataFrame(
            [(1.0, 1.0, True), (2.0, 2.0, True), (3.0, 3.0, True),
             (4.0, 9.0, False)],
            "x double, y double, r boolean",
        ),
        "x", "y", "r",
    ).collect()[0]
    assert tiny["f"] is None


def test_hosmer_lemeshow_integer_identity(spark):
    from pybabe_spark.operators.classifier import hosmer_lemeshow

    rows = [
        (0.05, 0), (0.08, 0), (0.15, 0), (0.18, 1),
        (0.35, 0), (0.38, 1), (0.55, 1), (0.58, 0),
        (0.75, 1), (0.78, 1), (0.95, 1), (0.98, 1),
    ]
    df = spark.createDataFrame(rows, "score double, label int")
    got = hosmer_lemeshow(df, "score", "label", bins=5).collect()[0]
    # python mirror of the documented integer identity
    import collections

    per = collections.defaultdict(lambda: [0, 0, 0])
    for s, l in rows:
        m = round(s * 10**6)
        b = min(4, m * 5 // 10**6)
        per[b][0] += 1
        per[b][1] += l
        per[b][2] += m
    hl = 0
    for n, o, em in per.values():
        om = o * 10**6
        hl += (10**6 * n * (om - em) ** 2) // (em * (n * 10**6 - em))
    assert got["bins_occupied"] == len(per)
    assert got["hl_chi2_ppm"] == hl
    assert got["n"] == 12


def test_hosmer_lemeshow_degenerate_bin_nulls(spark):
    from pybabe_spark.operators.classifier import hosmer_lemeshow

    # a bin whose every score is exactly 0 -> E_m = 0 -> HL NULL
    rows = [(0.0, 0), (0.0, 1), (0.6, 1), (0.7, 0)]
    df = spark.createDataFrame(rows, "score double, label int")
    got = hosmer_lemeshow(
        df, "score", "label", bins=5, chi2_crit=1.0
    ).collect()[0]
    assert got["hl_chi2_ppm"] is None
    assert got["significant"] is False
    with pytest.raises(ValueError):
        hosmer_lemeshow(df, "score", "label", bins=2)


def _w1_python(xs, ys):
    """Naive exact ECDF-integral Wasserstein-1 on cents ints."""
    vals = sorted(set(xs) | set(ys))
    na, nb = len(xs), len(ys)
    num = 0
    cuma = cumb = 0
    for v, nv in zip(vals, vals[1:] + [None]):
        cuma += sum(1 for x in xs if x == v)
        cumb += sum(1 for y in ys if y == v)
        if nv is not None:
            num += abs(cuma * nb - cumb * na) * (nv - v)
    return num, num / (na * nb * 100.0)


def test_wasserstein_matches_python_integral(spark):
    from pybabe_spark.operators.sketch import wasserstein_1d

    # pseudo-random but deterministic; wide range so values scatter
    # across many non-adjacent cells -> boundary terms exercised
    xs = [((i * 7919) % 100000) for i in range(150)]
    ys = [((i * 104729 + 13) % 100000) for i in range(90)]
    rows = [("a", x / 100.0) for x in xs] + [("b", y / 100.0) for y in ys]
    df = spark.createDataFrame(rows, "g string, v double")
    got = wasserstein_1d(df, "g", "v", "a", "b").collect()[0]
    num, w1 = _w1_python(xs, ys)
    assert got["n_a"] == 150 and got["n_b"] == 90
    assert got["w1_ppm"] == 10**4 * num // (150 * 90)
    assert got["w1"] == pytest.approx(w1, abs=2e-6)


def test_wasserstein_shift_and_identity(spark):
    from pybabe_spark.operators.sketch import wasserstein_1d

    base = [1.0, 2.0, 5.0, 9.0]
    rows = [("a", v) for v in base] + [("b", v + 3.0) for v in base]
    df = spark.createDataFrame(rows, "g string, v double")
    got = wasserstein_1d(df, "g", "v", "a", "b").collect()[0]
    # equal-n shift by c: W1 = c exactly
    assert got["w1"] == pytest.approx(3.0, abs=1e-6)
    same = [("a", v) for v in base] + [("b", v) for v in base]
    ident = wasserstein_1d(
        spark.createDataFrame(same, "g string, v double"), "g", "v",
        "a", "b",
    ).collect()[0]
    assert ident["w1_ppm"] == 0 and ident["w1"] == 0.0
    # empty arm -> NULLs
    empty = wasserstein_1d(
        spark.createDataFrame([("a", 1.0)], "g string, v double"),
        "g", "v", "a", "b",
    ).collect()[0]
    assert empty["w1_ppm"] is None and empty["w1"] is None


def test_gumbel_maxima_matches_python_model(spark):
    import numpy as np

    from pybabe_spark.operators.timeseries import gumbel_maxima

    rows = []
    maxima = []
    for d in range(14):
        vals = [float((d * 31 + j * 7) % 50) + 1.25 for j in range(5)]
        maxima.append(max(vals))
        rows += [("k", d, v) for v in vals]
    got = gumbel_maxima(
        _ts_series(spark, rows), "k", "ts", "v", 86400, 100
    ).collect()[0]
    m = np.array(maxima)
    mean, sd = m.mean(), m.std(ddof=1)
    beta = sd * math.sqrt(6.0) / math.pi
    gamma = 0.5772156649015329
    mu = mean - gamma * beta
    lvl = mu - beta * math.log(-math.log(1.0 - 1.0 / 100.0))
    assert got["n_blocks"] == 14
    assert got["mean_max"] == pytest.approx(mean, abs=2e-6)
    assert got["sd_max"] == pytest.approx(sd, abs=2e-6)
    assert got["mu"] == pytest.approx(mu, abs=2e-6)
    assert got["beta"] == pytest.approx(beta, abs=2e-6)
    assert got["return_level"] == pytest.approx(lvl, abs=2e-6)
    # higher return period -> higher level
    lvl1000 = gumbel_maxima(
        _ts_series(spark, rows), "k", "ts", "v", 86400, 1000
    ).collect()[0]["return_level"]
    assert lvl1000 > got["return_level"]


def test_gumbel_maxima_edges(spark):
    from pybabe_spark.operators.timeseries import gumbel_maxima

    one = gumbel_maxima(
        _ts_series(spark, [("k", 0, 5.0)]), "k", "ts", "v", 86400
    ).collect()[0]
    assert one["mean_max"] == pytest.approx(5.0)
    assert one["mu"] is None  # n_blocks < 2
    const = gumbel_maxima(
        _ts_series(spark, [("k", 0, 5.0), ("k", 1, 5.0)]),
        "k", "ts", "v", 86400,
    ).collect()[0]
    assert const["mu"] is None  # zero variance
    with pytest.raises(ValueError):
        gumbel_maxima(
            _ts_series(spark, [("k", 0, 5.0)]), "k", "ts", "v", 86400,
            return_period=1,
        )


def test_conformal_threshold_rank_rule(spark):
    from pybabe_spark.operators.sketch import conformal_threshold

    vals = [float(v) for v in [5, 1, 9, 3, 7, 2, 8, 4, 6, 10]]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = conformal_threshold(df, "v", 0.2).collect()[0]
    # n=10: k = ceil(11*0.8) = ceil(8.8) = 9 -> 9th smallest = 9.0
    assert (got["n"], got["k"]) == (10, 9)
    assert got["threshold"] == pytest.approx(9.0)
    # alpha small enough that k = n+1 > n -> NULL (infinite threshold)
    tiny = conformal_threshold(
        spark.createDataFrame([(1.0,), (2.0,)], "v double"), "v", 0.05
    ).collect()[0]
    assert tiny["k"] == 3 and tiny["n"] == 2
    assert tiny["threshold"] is None
    with pytest.raises(ValueError):
        conformal_threshold(df, "v", 0.0)


def test_conformal_threshold_grouped_and_ties(spark):
    from pybabe_spark.operators.sketch import conformal_threshold

    rows = [("a", float(v)) for v in range(1, 21)] + [
        ("b", 5.0)
    ] * 7 + [("b", 9.0)] * 3
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        r["g"]: r
        for r in conformal_threshold(df, "v", 0.1, by="g").collect()
    }
    # a: n=20, k = ceil(21*0.9) = 19 -> value 19
    assert (out["a"]["k"], out["a"]["threshold"]) == (19, 19.0)
    # b: n=10, k = ceil(11*0.9) = 10 -> 10th smallest = 9.0 (ties)
    assert (out["b"]["k"], out["b"]["threshold"]) == (10, 9.0)


def _conformal_by(spark, rows, by_typ, alpha=0.5):
    from pybabe_spark.operators.sketch import conformal_threshold

    df = spark.createDataFrame(rows, f"g {by_typ}, v double")
    return conformal_threshold(df, "v", alpha, by="g").collect()


def test_conformal_threshold_double_keys_nan_zero_null(spark):
    nan = float("nan")
    rows = [(nan, 1.0), (nan, 2.0), (nan, 3.0),
            (0.0, 10.0), (0.0, 20.0), (-0.0, 30.0),
            (None, 5.0), (None, 7.0)]
    out = {
        ("nan" if r["g"] is not None and math.isnan(r["g"]) else r["g"]):
        (r["n"], r["k"], r["threshold"])
        for r in _conformal_by(spark, rows, "double")
    }
    # alpha 0.5: k = ceil((n+1)/2); NaN is one group, 0.0 and -0.0 are
    # one group, NULL is its own group
    assert out == {
        "nan": (3, 2, 2.0),
        0.0: (3, 2, 20.0),
        None: (2, 2, 7.0),
    }


def test_conformal_threshold_date_keys(spark):
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 2, 29)
    rows = [(d1, 4.0), (d1, 1.0), (d1, 3.0), (d1, 2.0), (d2, 8.0)]
    out = {
        r["g"]: (r["n"], r["k"], r["threshold"])
        for r in _conformal_by(spark, rows, "date", alpha=0.2)
    }
    # d1: n=4, k = ceil(5*0.8) = 4 -> 4.0; d2: n=1, k = ceil(2*0.8) =
    # 2 > n -> NULL threshold
    assert out == {d1: (4, 4, 4.0), d2: (1, 2, None)}


def test_conformal_threshold_timestamp_keys(spark):
    t1 = dt.datetime(2024, 3, 10, 2, 30, 0, 123456)
    t2 = dt.datetime(1969, 12, 31, 23, 59, 59, 999999)
    rows = [(t1, 1.5), (t1, 0.5), (t1, 2.5), (t2, 9.0), (t2, 7.0),
            (None, 3.0)]
    out = {
        r["g"]: (r["n"], r["k"], r["threshold"])
        for r in _conformal_by(spark, rows, "timestamp")
    }
    # keys come back to the microsecond
    assert out == {t1: (3, 2, 1.5), t2: (2, 2, 9.0), None: (1, 1, 3.0)}


def test_conformal_threshold_empty_keyed_input(spark):
    from pybabe_spark.operators.sketch import conformal_threshold

    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    out = conformal_threshold(df.filter("v > 2"), "v", 0.1, by="g")
    assert out.columns == ["g", "n", "k", "threshold"]
    assert dict(out.dtypes)["g"] == "string"
    assert out.collect() == []


@pytest.mark.deep
def test_pca_fit_matches_numpy(spark):
    import numpy as np

    from pybabe_spark.operators.pca import embedding_covariance, pca_fit

    rng = [
        [float((i * 13 + j * 7) % 10) / 10.0 + (j == 0) * (i % 5)
         for j in range(4)]
        for i in range(50)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)],
        "vec_id long, embedding array<float>",
    )
    got = pca_fit(df, "embedding", dim=4, top_k=4).collect()
    # numpy model on the same micro-quantized values
    x = np.floor(np.array(rng, dtype=np.float32).astype(np.float64)
                 * 1e6 + 0.5) / 1e6
    cov = np.cov(x, rowvar=False, ddof=1)
    want = np.linalg.eigvalsh(cov)[::-1]
    for r, w in zip(got, want):
        assert r["eigenvalue"] == pytest.approx(w, abs=1e-5)
    assert got[0]["explained_ppm"] > got[1]["explained_ppm"]
    assert got[-1]["cum_explained_ppm"] <= 1_000_000
    # covariance certificate agrees with numpy on the corner
    corner = {
        (r["i"], r["j"]): r["cov"]
        for r in embedding_covariance(df, "embedding", 4, 3).collect()
    }
    for (i, j), v in corner.items():
        assert v == pytest.approx(cov[i][j], abs=2e-6)


def test_pca_fit_edges(spark):
    from pybabe_spark.operators.pca import pca_fit

    one = pca_fit(
        spark.createDataFrame(
            [(0, [1.0, 2.0])], "vec_id long, embedding array<float>"
        ),
        "embedding", dim=2, top_k=2,
    )
    assert one.count() == 0  # n < 2: empty frame, stable schema
    assert one.columns == [
        "component", "eigenvalue", "explained_ppm", "cum_explained_ppm"
    ]
    with pytest.raises(ValueError):
        pca_fit(one, "embedding", dim=2, top_k=3)


def test_gesd_outliers_matches_python_model(spark):
    from pybabe_spark.operators.sketch import gesd_outliers

    base = [10.0, 10.5, 9.8, 10.2, 9.9, 10.1, 10.4, 9.7, 10.3, 10.0]
    data = base + [25.0, -8.0, 18.0]  # three planted outliers
    df = spark.createDataFrame([(v,) for v in data], "v double")
    got = {
        r["round"]: r
        for r in gesd_outliers(df, "v", max_outliers=4).collect()
    }

    def py_round(vals):
        import statistics

        n = len(vals)
        mean = sum(vals) / n
        s = statistics.stdev(vals)
        suspect = max(vals, key=lambda v: (abs(v - mean), v))
        return suspect, abs(suspect - mean) / s

    vals = [round(v * 100) for v in data]
    for i in range(1, 5):
        suspect, r_want = py_round(vals)
        r = got[i]
        assert r["suspect_value"] == pytest.approx(suspect / 100)
        assert r["r_stat"] == pytest.approx(r_want, abs=2e-6)
        assert r["n_remaining"] == len(vals)
        vals.remove(suspect)
    # rounds 1..3 pull the planted extremes, in deviation order
    # (mean ~10.8: |-8| deviates most, then 25, then 18)
    assert got[1]["suspect_value"] == -8.0
    assert got[2]["suspect_value"] == 25.0
    assert got[3]["suspect_value"] == 18.0


def test_gesd_masking_and_decision(spark):
    """Two far outliers mask each other for single-Grubbs-style R1 but
    the GESD largest-significant-round rule flags BOTH."""
    from pybabe_spark.operators.sketch import gesd_outliers

    data = [10.0 + 0.1 * i for i in range(20)] + [50.0, 50.0]
    df = spark.createDataFrame([(v,) for v in data], "v double")
    lams = [2.73, 2.68, 2.62]  # Rosner-ish lambdas for n=22, a=0.05
    rows = {
        r["round"]: r
        for r in gesd_outliers(df, "v", 3, lambdas=lams).collect()
    }
    assert rows[1]["is_outlier"] is True
    assert rows[2]["is_outlier"] is True
    assert rows[3]["is_outlier"] is False
    assert rows[2]["lambda_crit"] == pytest.approx(2.68)
    # validation
    import pytest as _pt

    with _pt.raises(ValueError):
        gesd_outliers(df, "v", 0)
    with _pt.raises(ValueError):
        gesd_outliers(df, "v", 2, lambdas=[1.0])


def test_gesd_repeated_extreme_multiplicity(spark):
    """r13 bounded-extremes rewrite: when one extreme value carries
    multiplicity > k every round removes another INSTANCE of it — the
    candidate count-decrement path (and n_remaining bookkeeping) the
    single-instance tests never hit."""
    from pybabe_spark.operators.sketch import gesd_outliers

    data = [10.0, 10.2, 9.9, 10.1, 9.8] + [99.0] * 4
    df = spark.createDataFrame([(v,) for v in data], "v double")
    rows = sorted(
        gesd_outliers(df, "v", max_outliers=3).collect(),
        key=lambda r: r["round"],
    )
    assert [r["round"] for r in rows] == [1, 2, 3]
    assert all(r["suspect_value"] == 99.0 for r in rows)
    assert [r["n_remaining"] for r in rows] == [9, 8, 7]
    # R shrinks as the mass at 99 shrinks the deviation share
    assert rows[0]["r_stat"] > 0


def test_gesd_stops_when_inapplicable(spark):
    from pybabe_spark.operators.sketch import gesd_outliers

    tiny = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (9.0,)], "v double"
    )
    rows = gesd_outliers(tiny, "v", max_outliers=3).collect()
    # n=4 -> rounds at n=4 and n=3 emit; the n=2 round vanishes
    assert [r["round"] for r in sorted(rows, key=lambda r: r["round"])] == [1, 2]
    const = spark.createDataFrame([(5.0,)] * 6, "v double")
    assert gesd_outliers(const, "v", 2).count() == 0  # zero variance


def test_nemenyi_matches_python_model(spark):
    """Nemenyi mean-rank gaps and CD against a direct python replay on
    a small complete-block design."""
    import itertools

    from pybabe_spark.operators.sketch import nemenyi_test

    blocks = {
        f"b{i}": {"t1": 1.0 + i, "t2": 3.0 + i, "t3": 2.0 + i * 1.5}
        for i in range(8)
    }
    rows = [
        (b, t, v) for b, tv in blocks.items() for t, v in tv.items()
    ]
    df = spark.createDataFrame(rows, "b string, t string, v double")
    got = {
        (r["treatment_a"], r["treatment_b"]): r
        for r in nemenyi_test(df, "b", "t", "v", q_crit=2.344).collect()
    }
    # python mean ranks
    import statistics

    ranks = {t: [] for t in ["t1", "t2", "t3"]}
    for tv in blocks.values():
        for t, v in tv.items():
            # midrank: below-count + (tied+1)/2
            below = sum(1 for w in tv.values() if w < v)
            tied = sum(1 for w in tv.values() if w == v)
            ranks[t].append(below + (tied + 1) / 2)
    mr = {t: statistics.mean(v) for t, v in ranks.items()}
    k, B = 3, 8
    cd = 2.344 * math.sqrt(k * (k + 1) / (6 * B))
    for (ta, tb), r in got.items():
        assert r["mean_rank_a"] == pytest.approx(mr[ta], abs=1e-6)
        assert r["mean_rank_b"] == pytest.approx(mr[tb], abs=1e-6)
        assert r["mean_diff"] == pytest.approx(
            abs(mr[ta] - mr[tb]), abs=1e-6
        )
        assert r["cd"] == pytest.approx(cd, abs=2e-6)
        assert r["significant"] == (
            round(abs(mr[ta] - mr[tb]), 6) > round(cd, 6)
        )
    assert len(got) == 3  # all unordered pairs


def test_nemenyi_guard_and_incomplete_blocks(spark):
    from pybabe_spark.operators.sketch import nemenyi_test

    rows = [("b1", "t1", 1.0), ("b1", "t2", 2.0),
            ("b2", "t1", 2.0), ("b2", "t2", 1.0),
            ("b3", "t1", 5.0)]  # b3 incomplete -> excluded
    df = spark.createDataFrame(rows, "b string, t string, v double")
    got = nemenyi_test(df, "b", "t", "v", q_crit=2.0).collect()
    assert len(got) == 1
    assert got[0]["mean_rank_a"] == pytest.approx(1.5)  # perfect split
    with pytest.raises(ValueError):
        nemenyi_test(df, "b", "t", "v", max_treatments=1)
    three = spark.createDataFrame(
        [("b1", t, float(i)) for i, t in enumerate(["t1", "t2", "t3"])]
        + [("b2", t, float(3 - i)) for i, t in enumerate(["t1", "t2", "t3"])],
        "b string, t string, v double",
    )
    with pytest.raises(Exception, match="max_treatments"):
        nemenyi_test(three, "b", "t", "v", max_treatments=2).collect()


def test_pairwise_winrate_counts_and_sign_test(spark):
    from pybabe_spark.operators.classifier import pairwise_winrate

    rows = (
        [("m1", "m2", 1.0)] * 14
        + [("m1", "m2", -1.0)] * 4
        + [("m1", "m2", 0.0)] * 2
        + [("m2", "m3", -1.0)] * 3
        + [("m2", "m3", 1.0)] * 3
    )
    df = spark.createDataFrame(rows, "a string, b string, o double")
    out = {
        (r["item_a"], r["item_b"]): r
        for r in pairwise_winrate(df, "a", "b", "o", z_crit=1.96)
        .collect()
    }
    r12 = out[("m1", "m2")]
    assert (r12["n"], r12["wins"], r12["losses"], r12["ties"]) == (
        20, 14, 4, 2
    )
    assert r12["win_rate_ppm"] == 14 * 10**6 // 18
    # continuity-corrected sign test: (|14-4|/2 - 0.5)/(sqrt(18)/2)
    z_want = (10 / 2 - 0.5) / (math.sqrt(18) / 2)
    assert r12["z"] == pytest.approx(z_want, abs=2e-6)
    assert r12["significant"] is True
    r23 = out[("m2", "m3")]
    assert r23["win_rate_ppm"] == 500000
    assert r23["significant"] is False
    # all-ties pair: no decisive comparisons -> NULLs, False
    allt = pairwise_winrate(
        spark.createDataFrame([("x", "y", 0.0)] * 5,
                              "a string, b string, o double"),
        "a", "b", "o", z_crit=1.96,
    ).collect()[0]
    assert allt["win_rate_ppm"] is None and allt["z"] is None
    assert allt["significant"] is False


# ---------------------------------------------------------------------------
# Mood's median / Cochran–Armitage / Bartlett (round-13 batch 2)
# ---------------------------------------------------------------------------


def test_mood_median_matches_scipy_shape(spark):
    """Two clearly shifted groups: chi2 matches the hand-computed
    2x2 median-split table; the median is the lower order statistic."""
    from pybabe_spark.operators.sketch import mood_median_test

    a = [1.0, 2.0, 3.0, 4.0, 5.0]
    b = [11.0, 12.0, 13.0, 14.0, 15.0]
    df = spark.createDataFrame(
        [("a", v) for v in a] + [("b", v) for v in b], "g string, v double"
    )
    row = mood_median_test(df, "g", "v", crit=3.841459).collect()[0]
    # n=10 → lower median = 5th smallest = 5.0; equal counts BELOW
    assert row["n"] == 10
    assert row["median"] == 5.0
    assert row["dof"] == 1
    # table: a → above 0 / not-above 5 ; b → above 5 / not-above 0
    # chi2 = sum over 4 cells of (n*nab - r*c)^2 / (n*r*c) = 10
    assert row["chi2_ppm"] == 10_000_000
    assert row["significant"]


def test_mood_median_identical_groups_flat(spark):
    from pybabe_spark.operators.sketch import mood_median_test

    vals = [1.0, 2.0, 3.0, 4.0]
    df = spark.createDataFrame(
        [("a", v) for v in vals] + [("b", v) for v in vals],
        "g string, v double",
    )
    row = mood_median_test(df, "g", "v").collect()[0]
    assert row["chi2_ppm"] == 0
    assert not row["significant"]
    assert row["median"] == 2.0  # lower median of 8 values


def test_mood_median_guard_and_empty(spark):
    """r13 bounded-collect rewrite: the max_groups raise-guard fires
    past the limit proof; an empty input yields the degenerate
    all-zero row with NULL median (the old in-plan behavior)."""
    import pytest

    from pybabe_spark.operators.sketch import mood_median_test

    df = spark.createDataFrame(
        [(f"g{i}", float(i)) for i in range(6)], "g string, v double"
    )
    with pytest.raises(ValueError, match="max_groups"):
        mood_median_test(df, "g", "v", max_groups=2).collect()
    empty = df.filter("v < 0")
    row = mood_median_test(empty, "g", "v").collect()[0]
    assert (row["n"], row["median"], row["dof"], row["chi2_ppm"]) == (
        0, None, 0, 0,
    )
    assert row["significant"] is False


def test_cochran_armitage_matches_python_model(spark):
    """Monotone dose-response: z matches the closed form computed in
    Python on the same exact counts."""
    import math

    from pybabe_spark.operators.sketch import cochran_armitage_trend

    # tiers 1..4 with success counts 1/10, 3/10, 6/10, 9/10
    rows = []
    for tier, succ in [(1, 1), (2, 3), (3, 6), (4, 9)]:
        rows += [(tier, 1)] * succ + [(tier, 0)] * (10 - succ)
    df = spark.createDataFrame(rows, "s int, y int")
    row = cochran_armitage_trend(df, "s", "y", z_crit=1.96).collect()[0]
    n, r = 40, 19
    ss = sum(s for s, _ in rows)
    s2 = sum(s * s for s, _ in rows)
    sy = sum(s for s, y in rows if y)
    t = n * sy - r * ss
    dens = r * (n - r) * (n * s2 - ss * ss)
    z = t / math.sqrt(dens / n)
    assert row["n"] == n and row["n_success"] == r
    assert row["trend"] == "increasing"
    assert abs(row["z"] - z) < 1e-6
    assert row["significant"]


def test_cochran_armitage_flat_and_degenerate(spark):
    from pybabe_spark.operators.sketch import cochran_armitage_trend

    flat = spark.createDataFrame(
        [(s, y) for s in (1, 2, 3) for y in (0, 1)], "s int, y int"
    )
    row = cochran_armitage_trend(flat, "s", "y").collect()[0]
    assert row["trend"] == "flat" and not row["significant"]
    # all-success → dens = 0 → NULL z
    allpos = spark.createDataFrame([(1, 1), (2, 1)], "s int, y int")
    row = cochran_armitage_trend(allpos, "s", "y").collect()[0]
    assert row["z"] is None and not row["significant"]


def test_bartlett_matches_scipy_formula(spark):
    """Unequal variances across 3 groups: chi2 matches the textbook
    formula computed in Python (within the per-term 1e-6 rounding)."""
    import math

    from pybabe_spark.operators.sketch import bartlett_test

    groups = {
        "a": [1.0, 2.0, 3.0, 4.0, 5.0],
        "b": [10.0, 20.0, 30.0, 40.0, 50.0],
        "c": [5.0, 5.1, 5.2, 5.3, 5.4],
    }
    df = spark.createDataFrame(
        [(g, v) for g, vs in groups.items() for v in vs],
        "g string, v double",
    )
    row = bartlett_test(df, "g", "v", crit=5.991465).collect()[0]
    k = len(groups)
    n = sum(len(v) for v in groups.values())
    # reference value computed over CENTS (the operator's lift)
    svars = {
        g: [v * 100 for v in vs] for g, vs in groups.items()
    }
    def var(vs):
        m = sum(vs) / len(vs)
        return sum((v - m) ** 2 for v in vs) / (len(vs) - 1)
    sp2 = sum((len(v) - 1) * var(v) for v in svars.values()) / (n - k)
    num = (n - k) * math.log(sp2) - sum(
        (len(v) - 1) * math.log(var(v)) for v in svars.values()
    )
    c = 1 + (
        sum(1 / (len(v) - 1) for v in svars.values()) - 1 / (n - k)
    ) / (3 * (k - 1))
    assert row["k"] == k and row["n"] == n
    assert abs(row["chi2"] - num / c) < 1e-3
    assert row["significant"]


def test_bartlett_gate_small_group_nulls(spark):
    from pybabe_spark.operators.sketch import bartlett_test

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 7.0)], "g string, v double"
    )
    row = bartlett_test(df, "g", "v").collect()[0]
    assert row["chi2"] is None and not row["significant"]
    zerovar = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 3.0)],
        "g string, v double",
    )
    row = bartlett_test(zerovar, "g", "v").collect()[0]
    assert row["chi2"] is None and not row["significant"]


# ---------------------------------------------------------------------------
# Round-13 batch 3: JB, Theil, Jonckheere, Pettitt, Holt, BP,
# equalized odds, winnowing
# ---------------------------------------------------------------------------


def test_jarque_bera_matches_python_model(spark):
    from pybabe_spark.operators.sketch import jarque_bera

    skewed = [1.0, 1.0, 1.0, 2.0, 2.0, 3.0, 4.0, 20.0]
    flat = [5.0] * 6
    df = spark.createDataFrame(
        [("s", v) for v in skewed] + [("c", v) for v in flat],
        "g string, v double",
    )
    rows = {
        r["g"]: r
        for r in jarque_bera(df, "v", by="g", crit=5.991465).collect()
    }
    # python reference on cents
    xs = [v * 100 for v in skewed]
    n = len(xs)
    mu = sum(xs) / n
    m2 = sum((x - mu) ** 2 for x in xs) / n
    sig = m2 ** 0.5
    ts = [(x - mu) / sig for x in xs]
    skew = sum(t ** 3 for t in ts) / n
    kurt = sum(t ** 4 for t in ts) / n - 3
    jb = n / 6 * (skew ** 2 + kurt ** 2 / 4)
    r = rows["s"]
    assert abs(r["skewness"] - skew) < 1e-4
    assert abs(r["kurtosis_excess"] - kurt) < 1e-4
    assert abs(r["jb"] - jb) < 1e-3
    # constant group: sigma = 0 -> NULLs, not significant
    c = rows["c"]
    assert c["jb"] is None and not c["significant"]


def test_theil_index_decomposition(spark):
    import math

    from pybabe_spark.operators.skew import theil_index

    groups = {"a": [1.0, 1.0, 1.0], "b": [2.0, 4.0, 10.0]}
    df = spark.createDataFrame(
        [(g, v) for g, vs in groups.items() for v in vs],
        "g string, v double",
    )
    rows = {r["g"]: r for r in theil_index(df, "g", "v").collect()}
    # perfectly even group -> zero within-inequality
    assert abs(rows["a"]["theil_within"]) < 1e-9
    # python reference (cents)
    xs = [v * 100 for v in groups["b"]]
    s, n = sum(xs), len(xs)
    tb = sum(x / s * math.log(x * n / s) for x in xs)
    assert abs(rows["b"]["theil_within"] - tb) < 1e-5
    # decomposition reassembles the global Theil
    allx = [v * 100 for vs in groups.values() for v in vs]
    st, nt = sum(allx), len(allx)
    t_total = sum(x / st * math.log(x * nt / st) for x in allx)
    t_recomposed = sum(
        (r["share_ppm"] / 1e6) * r["theil_within"] + r["between_term"]
        for r in rows.values()
    )
    assert abs(t_recomposed - t_total) < 1e-3
    # shares are exact ppm of the grand total
    assert rows["a"]["share_ppm"] == (300 * 1_000_000) // (300 + 1600)


def test_jonckheere_matches_bruteforce(spark):
    import math
    from itertools import combinations

    from pybabe_spark.operators.sketch import jonckheere_terpstra

    data = {1: [1, 2, 2, 3], 2: [2, 3, 3, 4], 3: [3, 4, 5, 5]}
    df = spark.createDataFrame(
        [(g, float(v)) for g, vs in data.items() for v in vs],
        "g int, v double",
    )
    row = jonckheere_terpstra(df, "g", "v", z_crit=1.96).collect()[0]
    # brute force doubled JT
    jt2 = 0
    for ga, gb in combinations(sorted(data), 2):
        for x in data[ga]:
            for y in data[gb]:
                jt2 += 2 if y > x else (1 if y == x else 0)
    assert row["jt2"] == jt2
    # tie-corrected variance, python floats
    from collections import Counter

    pooled = Counter(v for vs in data.values() for v in vs)
    us = [len(v) for v in data.values()]
    n = sum(us)
    a = (
        n * (n - 1) * (2 * n + 5)
        - sum(t * (t - 1) * (2 * t + 5) for t in pooled.values())
        - sum(u * (u - 1) * (2 * u + 5) for u in us)
    )
    t3 = sum(t * (t - 1) * (t - 2) for t in pooled.values())
    u3 = sum(u * (u - 1) * (u - 2) for u in us)
    t2 = sum(t * (t - 1) for t in pooled.values())
    u2s = sum(u * (u - 1) for u in us)
    var = (
        a / 72
        + t3 * u3 / (36 * n * (n - 1) * (n - 2))
        + t2 * u2s / (8 * n * (n - 1))
    )
    mu2 = (n * n - sum(u * u for u in us)) / 2
    z = (jt2 - mu2) / (2 * math.sqrt(var))
    assert abs(row["z"] - z) < 1e-5
    assert row["trend"] == "increasing"
    assert row["n"] == n and row["k_groups"] == 3


def test_pettitt_finds_step_change(spark):
    from pybabe_spark.operators.timeseries import pettitt_test

    # 10 quiet days then 10 loud days, single key
    rows = [("k", d, 1.0 if d < 10 else 100.0) for d in range(20)]
    df = _ts_series(spark, [(k, d, v) for k, d, v in rows])
    out = pettitt_test(
        df, "k", "ts", "v", bucket_seconds=86400, alpha_ppm=50_000
    ).collect()[0]
    # brute force U_t
    vals = [1.0] * 10 + [100.0] * 10

    def sgn(x):
        return (x > 0) - (x < 0)

    umax, argmax = 0, None
    for t in range(1, 20):
        u = sum(
            sgn(vals[j] - vals[i])
            for i in range(t)
            for j in range(t, 20)
        )
        if abs(u) > umax:
            umax, argmax = abs(u), t
    assert out["k_stat"] == umax == 100
    # change bucket is day index argmax-1 (last bucket before change)
    base_epoch = int(
        __import__("datetime")
        .datetime(2024, 1, 1)
        .replace(tzinfo=__import__("datetime").timezone.utc)
        .timestamp()
    )
    assert (out["change_epoch"] - base_epoch) // 86400 == argmax - 1
    assert out["significant"] and out["p_value"] < 0.01


def test_holt_linear_matches_float_recursion(spark):
    from pybabe_spark.operators.timeseries import holt_linear

    vals = [10.0, 12.0, 11.0, 15.0, 18.0, 17.0, 21.0]
    df = _ts_series(spark, [("k", d, v) for d, v in enumerate(vals)])
    out = holt_linear(
        df, "k", "ts", "v", bucket_seconds=86400, horizon=3
    ).collect()[0]
    level, trend = vals[0], 0.0
    for y in vals[1:]:
        nl = (y + level + trend) / 2
        trend = (nl - level + trend) / 2
        level = nl
    assert abs(out["level"] - level) < 1e-6
    assert abs(out["trend"] - trend) < 1e-6
    for h in (1, 2, 3):
        assert abs(out[f"forecast_{h}"] - (level + h * trend)) < 1e-6
    assert out["n"] == len(vals)


def test_holt_linear_bucket_guard(spark):
    import pytest as _pytest

    from pybabe_spark.operators.timeseries import holt_linear

    df = _ts_series(
        spark, [("k", d, 1.0) for d in range(50)]
    )
    with _pytest.raises(Exception, match="holt_linear"):
        holt_linear(
            df, "k", "ts", "v", bucket_seconds=86400, max_buckets=45
        ).collect()


def test_breusch_pagan_detects_fanning(spark):
    import random

    from pybabe_spark.operators.regression import breusch_pagan

    rng = random.Random(7)
    rows = []
    for _ in range(400):
        x = rng.uniform(1, 50)
        # variance grows with x -> heteroscedastic
        y = 3.0 * x + 10 + rng.gauss(0, 0.5 * x)
        rows.append((round(x, 2), round(y, 2)))
    df = spark.createDataFrame(rows, "x double, y double")
    out = breusch_pagan(
        df, "x", "y", crit=3.841459, resid_unit=1.0
    ).collect()[0]
    assert out["n"] == 400
    assert abs(out["slope"] - 3.0) < 0.3
    assert out["lm"] is not None and out["lm"] > 3.841459
    assert out["significant"]
    # homoscedastic twin: flat noise
    rows2 = [
        (round(rng.uniform(1, 50), 2), 0.0) for _ in range(300)
    ]
    rows2 = [(x, round(3 * x + 10 + rng.gauss(0, 2.0), 2)) for x, _ in rows2]
    df2 = spark.createDataFrame(rows2, "x double, y double")
    out2 = breusch_pagan(df2, "x", "y", resid_unit=1.0).collect()[0]
    assert out2["lm"] is not None and out2["lm"] < out["lm"]


def test_equalized_odds_exact_ppm(spark):
    from pybabe_spark.operators.classifier import equalized_odds

    rows = []
    # group a: TPR 30/40, FPR 10/60 ; group b: TPR 10/40, FPR 30/60
    for g, tp, npos, fp, nneg in [
        ("a", 30, 40, 10, 60),
        ("b", 10, 40, 30, 60),
        ("tiny", 1, 2, 1, 2),  # under min_n -> excluded
    ]:
        rows += [(g, 1, 1)] * tp + [(g, 1, 0)] * (npos - tp)
        rows += [(g, 0, 1)] * fp + [(g, 0, 0)] * (nneg - fp)
    df = spark.createDataFrame(rows, "g string, label int, pred int")
    out = {
        r["group"]: r
        for r in equalized_odds(
            df, "g", "label", "pred", min_n=20, gap_ppm=100_000
        ).collect()
    }
    assert set(out) == {"a", "b"}
    assert out["a"]["tpr_ppm"] == 750_000
    assert out["a"]["fpr_ppm"] == 166_666
    assert out["b"]["tpr_ppm"] == 250_000
    assert out["b"]["fpr_ppm"] == 500_000
    assert out["a"]["tpr_gap_ppm"] == 0
    assert out["b"]["tpr_gap_ppm"] == 500_000
    assert out["a"]["fpr_gap_ppm"] == 0
    assert out["b"]["fpr_gap_ppm"] == 333_334
    assert not out["a"]["violated"] and out["b"]["violated"]


def test_winnow_shared_run_guarantee(spark):
    from pybabe_spark.operators.dedup_scale import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    d1 = "one two three " + shared + " four five six"
    d2 = "seven eight nine ten " + shared + " eleven"
    d3 = "totally different words with no overlap at all here"
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    # k=4, w=5: any shared run of w+k-1 = 8 words shares a fingerprint
    out = winnow_fingerprints(df, "doc_id", "text", k=4, w=5)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    for r in rows.values():
        assert 1 <= r["n_fingerprints"] <= r["n_grams"]
        assert r["density_ppm"] <= 1_000_000
    # the guarantee needs the selected SETS; recompute them here
    from pyspark.sql import functions as F  # noqa: F401
    import hashlib

    def fps(text, k=4, w=5):
        ws = text.lower().split(" ")
        grams = [" ".join(ws[i:i + k]) for i in range(len(ws) - k + 1)]
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
            for g in grams
        ]
        # the operator's SELECTION order is the 31-bit folded hash
        # (documented contract); the fingerprint stays the full hash
        f31 = [h % 2147483647 for h in hs]
        sel = set()
        for s in range(0, len(hs) - w + 1):
            window = f31[s:s + w]
            m = min(window)
            sel.add(s + max(i for i, h in enumerate(window) if h == m))
        return {hs[p] for p in sel}

    f1, f2, f3 = fps(d1), fps(d2), fps(d3)
    assert f1 & f2, "shared 8-word run must share a fingerprint"
    assert not (f1 & f3)
    assert rows[1]["n_fingerprints"] == len(fps(d1))
    assert rows[2]["n_fingerprints"] == len(fps(d2))


def test_winnow_short_doc_density_one(spark):
    from pybabe_spark.operators.dedup_scale import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "only two")], "doc_id long, text string"
    )
    r = winnow_fingerprints(df, "doc_id", "text", k=4, w=5).collect()[0]
    assert r["n_grams"] == 1 and r["n_fingerprints"] == 1
    assert r["density_ppm"] == 1_000_000


def test_max_drawdown_hand_case(spark):
    from pybabe_spark.operators.timeseries import max_drawdown

    # daily deltas: +10 +5 -12 -3 +20 → curve 10 15 3 0 20, peak 15
    # until the climb, MDD = 15 − 0 = 15 at day 3
    vals = [10.0, 5.0, -12.0, -3.0, 20.0]
    df = _ts_series(spark, [("k", d, v) for d, v in enumerate(vals)])
    r = max_drawdown(df, "k", "ts", "v", bucket_seconds=86400).collect()[0]
    assert r["n"] == 5
    assert r["final"] == 20.0 and r["peak"] == 20.0
    assert r["max_drawdown"] == 15.0
    import datetime as dt

    base = int(
        dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    )
    assert (r["trough_epoch"] - base) // 86400 == 3
    # monotone climb → zero drawdown
    up = _ts_series(spark, [("k", d, 1.0) for d in range(4)])
    r2 = max_drawdown(up, "k", "ts", "v").collect()[0]
    assert r2["max_drawdown"] == 0.0


def test_dickey_fuller_stationary_vs_walk(spark):
    import math
    import random

    from pybabe_spark.operators.timeseries import dickey_fuller

    rng = random.Random(5)
    # strongly mean-reverting AR(1) vs a pure random walk
    ar = [100.0]
    for _ in range(29):
        ar.append(round(50 + 0.3 * ar[-1] + rng.gauss(0, 2), 2))
    walk = [100.0]
    for _ in range(29):
        walk.append(round(walk[-1] + rng.gauss(0, 5), 2))
    rows = [("ar", d, v) for d, v in enumerate(ar)] + [
        ("walk", d, v) for d, v in enumerate(walk)
    ]
    out = {
        r["k"]: r
        for r in dickey_fuller(
            _ts_series(spark, rows), "k", "ts", "v", 86400, -2.86
        ).collect()
    }
    assert out["ar"]["stationary"] and out["ar"]["tau"] < -2.86
    assert not out["walk"]["stationary"]
    # closed-form cross-check on the AR series (cents, like the op)
    x = [v * 100 for v in ar]
    z = x[:-1]
    y = [b - a for a, b in zip(x[:-1], x[1:])]
    n = len(z)
    sz, sy = sum(z), sum(y)
    szz_c = n * sum(a * a for a in z) - sz * sz
    syy_c = n * sum(a * a for a in y) - sy * sy
    szy_c = n * sum(a * b for a, b in zip(z, y)) - sz * sy
    beta = szy_c / szz_c
    rss_c = syy_c - szy_c ** 2 / szz_c
    tau = beta / math.sqrt(rss_c / ((n - 2) * szz_c))
    assert abs(out["ar"]["tau"] - tau) < 1e-4
    assert abs(out["ar"]["beta"] - beta) < 1e-6
    # constant series → NULL tau, not stationary
    flat = _ts_series(spark, [("c", d, 7.0) for d in range(6)])
    rc = dickey_fuller(flat, "k", "ts", "v").collect()[0]
    assert rc["tau"] is None and not rc["stationary"]


def test_granger_causality_detects_lead(spark):
    import random

    from pybabe_spark.operators.timeseries import granger_causality

    rng = random.Random(11)
    # x leads y by one day strongly; z series is independent noise
    x = [round(50 + rng.gauss(0, 10), 2) for _ in range(30)]
    y = [0.0] * 30
    for t in range(1, 30):
        y[t] = round(5 + 0.8 * x[t - 1] + rng.gauss(0, 1), 2)
    rows = []
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    for t in range(30):
        rows.append(("led", base + dt.timedelta(days=t), x[t], y[t]))
        rows.append(
            (
                "noise",
                base + dt.timedelta(days=t),
                round(rng.gauss(50, 10), 2),
                round(rng.gauss(50, 10), 2),
            )
        )
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, x double, y double"
    )
    out = {
        r["k"]: r
        for r in granger_causality(
            df, "k", "ts", "x", "y", bucket_seconds=86400, f_crit=4.21
        ).collect()
    }
    assert out["led"]["causal"] and out["led"]["f_stat"] > 4.21
    assert out["led"]["b_x"] > 0.5
    assert not out["noise"]["causal"]


def test_granger_matches_python_two_regressor_ols(spark):
    import math

    from pybabe_spark.operators.timeseries import granger_causality

    vals = [(10, 20), (12, 25), (9, 22), (15, 30), (14, 28),
            (11, 26), (16, 33), (13, 29)]
    rows = [
        ("k", d, float(a), float(b)) for d, (a, b) in enumerate(vals)
    ]
    df = _ts_series_xy(spark, rows)
    r = granger_causality(
        df, "k", "ts", "x", "y", bucket_seconds=86400
    ).collect()[0]
    # python reference on cents
    xs = [a * 100 for a, _ in vals]
    ys = [b * 100 for _, b in vals]
    u = ys[:-1]          # y lag
    v = xs[:-1]          # x lag
    w = ys[1:]           # y current
    n = len(w)
    m = lambda a: sum(a) / n  # noqa: E731
    c = lambda a, b: sum(
        (p - m(a)) * (q - m(b)) for p, q in zip(a, b)
    )  # noqa: E731
    suu, svv, sww = c(u, u), c(v, v), c(w, w)
    suv, suw, svw = c(u, v), c(u, w), c(v, w)
    det = suu * svv - suv * suv
    b_u = (svv * suw - suv * svw) / det
    b_v = (suu * svw - suv * suw) / det
    rss_u = sww - (b_u * suw + b_v * svw)
    rss_r = sww - suw * suw / suu
    f = (rss_r - rss_u) * (n - 3) / rss_u
    assert r["n"] == n + 1
    assert abs(r["f_stat"] - f) < 1e-3
    assert abs(r["b_x"] - b_v) < 1e-6


def _ts_series_xy(spark, rows):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (k, base + dt.timedelta(days=d), x, y)
            for k, d, x, y in rows
        ],
        "k string, ts timestamp, x double, y double",
    )


def test_price_index_hand_basket(spark):
    from pybabe_spark.operators.sketch import price_index

    # item A: price 10->12 (L weight q0=5), item B: 20->18 (q0=2)
    # unit values exact; item C only in base period -> dropped
    rows = [
        ("A", 1, 10.0, 1.0), ("A", 1, 40.0, 4.0),   # p0=10, q0=5
        ("A", 2, 36.0, 3.0),                        # p1=12
        ("B", 1, 40.0, 2.0),                        # p0=20, q0=2
        ("B", 2, 18.0, 1.0),                        # p1=18
        ("C", 1, 5.0, 1.0),
    ]
    df = spark.createDataFrame(rows, "i string, per int, p double, q double")
    r = price_index(df, "i", "p", "q", "per", 1, 2).collect()[0]
    assert r["n_items"] == 2
    lasp = (12 * 5 + 18 * 2) / (10 * 5 + 20 * 2)
    paas = (12 * 3 + 18 * 1) / (10 * 3 + 20 * 1)
    assert abs(r["laspeyres"] - lasp) < 1e-6
    assert abs(r["paasche"] - paas) < 1e-6
    assert abs(r["fisher"] - (lasp * paas) ** 0.5) < 1e-6


def test_turning_points_extremes_and_plateau(spark):
    from pybabe_spark.operators.timeseries import turning_points_test

    # perfect alternation: every interior bucket is a turn
    alt = [("alt", d, 10.0 if d % 2 == 0 else 1.0) for d in range(10)]
    # monotone: zero turns; plateau in the middle contributes none
    mono = [("mono", d, float(d)) for d in range(10)]
    plat = [("plat", d, [1, 2, 2, 2, 3, 4][d]) for d in range(6)]
    df = _ts_series(spark, alt + mono + [(k, d, float(v)) for k, d, v in plat])
    out = {
        r["k"]: r
        for r in turning_points_test(
            df, "k", "ts", "v", 86400, 1.96
        ).collect()
    }
    assert out["alt"]["turning_points"] == 8
    assert out["alt"]["significant"] and out["alt"]["z"] > 1.96
    assert out["mono"]["turning_points"] == 0
    assert out["mono"]["significant"] and out["mono"]["z"] < -1.96
    assert out["plat"]["turning_points"] == 0
    # python expectation check for the alternating key
    import math

    n = 10
    z = (8 - 2 * (n - 2) / 3) / math.sqrt((16 * n - 29) / 90)
    assert abs(out["alt"]["z"] - z) < 1e-6


def test_youden_threshold_picks_separating_cut(spark):
    from pybabe_spark.operators.classifier import youden_threshold

    # positives score high, negatives low, one noisy crossover
    rows = (
        [(0.9, 1)] * 8 + [(0.7, 1)] * 2
        + [(0.3, 0)] * 7 + [(0.8, 0)] * 3
    )
    df = spark.createDataFrame(rows, "score double, label int")
    r = youden_threshold(df, "score", "label").collect()[0]
    assert r["n_pos"] == 10 and r["n_neg"] == 10
    # brute force over cuts
    import itertools

    best = None
    for t in sorted({s for s, _ in rows}):
        tp = sum(1 for s, y in rows if y and s >= t)
        fp = sum(1 for s, y in rows if not y and s >= t)
        j = (tp * 1_000_000) // 10 - (fp * 1_000_000) // 10
        cand = (j, t)
        best = cand if best is None or cand > best else best
    assert r["j_ppm"] == best[0]
    assert abs(r["threshold"] - best[1]) < 1e-9
    assert r["tpr_ppm"] - r["fpr_ppm"] == r["j_ppm"]


def test_youden_degenerate_one_class(spark):
    from pybabe_spark.operators.classifier import youden_threshold

    df = spark.createDataFrame(
        [(0.4, 1), (0.9, 1)], "score double, label int"
    )
    r = youden_threshold(df, "score", "label").collect()[0]
    assert r["n_pos"] == 2 and r["n_neg"] == 0
    assert r["threshold"] is None and r["j_ppm"] is None


def test_cmh_matches_python_model(spark):
    import random

    from pybabe_spark.operators.sketch import cmh_test

    rng = random.Random(13)
    rows = []
    # consistent association within each of 3 strata
    for s, base in [("s1", 0.3), ("s2", 0.5), ("s3", 0.7)]:
        for _ in range(200):
            e = rng.random() < 0.5
            p = base + (0.25 if e else 0.0)
            y = rng.random() < p
            rows.append((s, int(e), int(y)))
    df = spark.createDataFrame(rows, "s string, e int, y int")
    r = cmh_test(df, "s", "e", "y", crit=3.841459).collect()[0]
    # python reference (same per-stratum rationals, full precision)
    from collections import defaultdict

    cells = defaultdict(lambda: [0, 0, 0, 0])
    for s, e, y in rows:
        cells[s][(1 - e) * 2 + (1 - y)] += 1
    ae = v = adn = bcn = 0.0
    for a, b, c, d in cells.values():
        n = a + b + c + d
        ae += a - (a + b) * (a + c) / n
        v += (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1))
        adn += a * d / n
        bcn += b * c / n
    assert r["n"] == 600 and r["k_strata"] == 3
    assert abs(r["cmh"] - ae * ae / v) < 1e-3
    assert abs(r["or_mh"] - adn / bcn) < 1e-3
    assert r["significant"]


def test_cmh_no_association_and_small_stratum(spark):
    from pybabe_spark.operators.sketch import cmh_test

    rows = [("s", e, y) for e in (0, 1) for y in (0, 1) for _ in range(25)]
    # a 1-row stratum must be excluded (V undefined at n < 2)
    rows.append(("tiny", 1, 1))
    df = spark.createDataFrame(rows, "s string, e int, y int")
    r = cmh_test(df, "s", "e", "y").collect()[0]
    assert r["k_strata"] == 1 and r["n"] == 100
    assert r["cmh"] is not None and r["cmh"] < 0.001
    assert not r["significant"]
