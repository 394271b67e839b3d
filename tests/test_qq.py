"""M6 QQ-plot diagnostics: the data behind scipy.stats.probplot
(outlier_detection.py:88-91 original, :117-119 cleaned), computed
Spark-side.

Independence: `_ppf_as241` below is a transcription of Wichura's AS241
PPND16 algorithm (Applied Statistics 37, 1988) - a DIFFERENT published
inverse-normal-CDF approximation from the Acklam rational form the
module uses - and both are anchored against hard-coded quantiles from
standard normal tables, so a transcription typo on either side fails
the anchors rather than silently agreeing.
"""

from __future__ import annotations

import math

from ccspark import quality
from pyspark.sql import functions as F


def _ppf_as241(p: float) -> float:
    """Wichura AS241 PPND16 (double-precision inverse normal CDF)."""
    q = p - 0.5
    if abs(q) <= 0.425:
        r = 0.180625 - q * q
        num = (((((((2.5090809287301226727e3 * r +
                     3.3430575583588128105e4) * r +
                    6.7265770927008700853e4) * r +
                   4.5921953931549871457e4) * r +
                  1.3731693765509461125e4) * r +
                 1.9715909503065514427e3) * r +
                1.3314166789178437745e2) * r +
               3.3871328727963666080e0)
        den = (((((((5.2264952788528545610e3 * r +
                     2.8729085735721942674e4) * r +
                    3.9307895800092710610e4) * r +
                   2.1213794301586595867e4) * r +
                  5.3941960214247511077e3) * r +
                 6.8718700749205790830e2) * r +
                4.2313330701600911252e1) * r + 1.0)
        return q * num / den
    r = p if q < 0 else 1.0 - p
    r = math.sqrt(-math.log(r))
    if r <= 5.0:
        r -= 1.6
        num = (((((((7.74545014278341407640e-4 * r +
                     2.27238449892691845833e-2) * r +
                    2.41780725177450611770e-1) * r +
                   1.27045825245236838258e0) * r +
                  3.64784832476320460504e0) * r +
                 5.76949722146069140550e0) * r +
                4.63033784615654529590e0) * r +
               1.42343711074968357734e0)
        den = (((((((1.05075007164441684324e-9 * r +
                     5.47593808499534494600e-4) * r +
                    1.51986665636164571966e-2) * r +
                   1.48103976427480074590e-1) * r +
                  6.89767334985100004550e-1) * r +
                 1.67638483018380384940e0) * r +
                2.05319162663775882187e0) * r + 1.0)
    else:
        r -= 5.0
        num = (((((((2.01033439929228813265e-7 * r +
                     2.71155556874348757815e-5) * r +
                    1.24266094738807843860e-3) * r +
                   2.65321895265761230930e-2) * r +
                  2.96560571828504891230e-1) * r +
                 1.78482653991729133580e0) * r +
                5.46378491116411436990e0) * r +
               6.65790464350110377720e0)
        den = (((((((2.04426310338993978564e-15 * r +
                     1.42151175831644588870e-7) * r +
                    1.84631831751005468180e-5) * r +
                   7.86869131145613259100e-4) * r +
                  1.48753612908506148525e-2) * r +
                 1.36929880922735805310e-1) * r +
                5.99832206555887937690e-1) * r + 1.0)
    val = num / den
    return -val if q < 0 else val


# standard-normal quantiles from published tables (15+ significant
# digits; Phi(1) = 0.841344746..., Phi(3) = 0.998650101...)
_KNOWN = [
    (0.5, 0.0),
    (0.975, 1.959963984540054),
    (0.025, -1.959963984540054),
    (0.9, 1.2815515655446004),
    (0.1, -1.2815515655446004),
    (0.99, 2.3263478740408408),
    (0.01, -2.3263478740408408),
    (0.999, 3.090232306167813),
    (0.8413447460685429, 1.0),
    (0.9986501019683699, 3.0),
    (0.0013498980316301035, -3.0),
]


def _filliben(n: int) -> list[float]:
    pp = [(i - 0.3175) / (n + 0.365) for i in range(1, n + 1)]
    pp[0] = 1.0 - 0.5 ** (1.0 / n)
    pp[-1] = 0.5 ** (1.0 / n)
    return pp


def test_as241_transcription_anchors():
    for p, x in _KNOWN:
        assert abs(_ppf_as241(p) - x) < 1e-9, p


def test_norm_ppf_matches_as241_and_anchors(spark):
    ps = sorted({p for p, _ in _KNOWN} |
                {0.0005, 0.005, 0.02424, 0.02426, 0.3, 0.7,
                 0.97574, 0.97576, 0.995, 0.9995, 0.99999})
    df = spark.createDataFrame([(p,) for p in ps], "p double")
    got = {r["p"]: r["x"]
           for r in df.select("p", quality.norm_ppf("p").alias("x"))
                      .collect()}
    for p in ps:  # two independent approximations agree
        assert abs(got[p] - _ppf_as241(p)) < 5e-8, p
    for p, x in _KNOWN:  # and the Spark side hits the table values
        assert abs(got[p] - x) < 5e-8, p
    bad = spark.createDataFrame([(-0.5,), (0.0,), (1.0,), (1.5,)],
                                "p double")
    assert all(r["x"] is None
               for r in bad.select(quality.norm_ppf("p").alias("x"))
                           .collect())


def test_qq_points_exact_matches_probplot_transcription(spark):
    # two groups, different sizes, with ties in group a
    vals_a = [((i * 37) % 101) / 10.0 for i in range(25)] + [3.7, 3.7]
    vals_b = [float(i * i % 13) for i in range(8)]
    rows = [("a", v) for v in vals_a] + [("b", v) for v in vals_b]
    df = spark.createDataFrame(rows, "lang string, v double")
    got = quality.qq_points(df, "v", ("lang",)).collect()
    for lang, vals in (("a", vals_a), ("b", vals_b)):
        n = len(vals)
        osr = sorted(vals)
        osm = [_ppf_as241(p) for p in _filliben(n)]
        want = {(r, round(t, 7), s)
                for r, (t, s) in enumerate(zip(osm, osr), start=1)}
        have = {(r["rank"], round(r["theoretical_q"], 7), r["sample_q"])
                for r in got if r["lang"] == lang}
        assert have == want, lang


def test_qq_fit_recovers_planted_line(spark):
    # sample values ARE 2*ppf(filliben) + 1 -> the QQ scatter lies on
    # the line y = 2x + 1 exactly and probplot's fit must recover it
    n = 400
    vals = [2.0 * _ppf_as241(p) + 1.0 for p in _filliben(n)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    qq = quality.qq_points(df, "v")
    fit = quality.qq_fit(qq).collect()[0]
    assert abs(fit["slope"] - 2.0) < 1e-6
    assert abs(fit["intercept"] - 1.0) < 1e-6
    assert fit["r"] > 0.9999999


def test_qq_points_decimation_keeps_endpoints(spark):
    n = 500
    vals = [float((i * 997) % n) for i in range(n)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    qq = quality.qq_points(df, "v", n_points=50).collect()
    ranks = sorted(r["rank"] for r in qq)
    assert len(ranks) <= 52 and ranks[0] == 1 and ranks[-1] == n
    ts = [r["theoretical_q"] for r in sorted(qq, key=lambda r: r["rank"])]
    assert ts == sorted(ts)  # monotone theoretical axis


def test_qq_approx_sketch_path(spark):
    n, m = 10_000, 40
    rows = [("a", i / float(n)) for i in range(n)] + \
           [("b", 5.0 + 2.0 * i / float(n)) for i in range(n)]
    df = spark.createDataFrame(rows, "lang string, v double")
    qq = quality.qq_points(df, "v", ("lang",), n_points=m, approx=True)
    plan = qq._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # no per-group sort: sketch aggregation
    got = qq.collect()
    for lang, lo, hi in (("a", 0.0, 1.0), ("b", 5.0, 7.0)):
        pts = sorted((r for r in got if r["lang"] == lang),
                     key=lambda r: r["rank"])
        assert len(pts) == m
        sq = [r["sample_q"] for r in pts]
        assert sq == sorted(sq) and lo <= sq[0] and sq[-1] <= hi
        # uniform data: quantile at Hazen position j is ~ lo+(hi-lo)*p
        for j, r in enumerate(pts, start=1):
            p = (j - 0.5) / m
            assert abs(r["sample_q"] - (lo + (hi - lo) * p)) \
                < (hi - lo) * 0.02, (lang, j)
            assert abs(r["theoretical_q"] - _ppf_as241(p)) < 5e-8


def test_perplexity_qq_original_vs_cleaned(spark):
    # 60 normal-ish docs + one extreme-vocabulary outlier per cell
    docs = []
    for lang in ("eng", "deu"):
        for i in range(60):
            docs.append((f"{lang}{i}", "eu", "de" if lang == "deu"
                         else "gb", lang,
                         "the cat sat on the mat " * (3 + i % 3)))
        docs.append((f"{lang}_out", "eu",
                     "de" if lang == "deu" else "gb", lang,
                     " ".join(f"tok{lang}{j}" for j in range(50))))
    df = spark.createDataFrame(
        docs, "doc_id string, region string, country string, "
              "lang string, text string")
    orig = quality.perplexity_qq(df, ("lang",), min_words=0)
    clean = quality.perplexity_qq(df, ("lang",), cleaned=True,
                                  min_words=0)
    assert set(orig.columns) == {"lang", "rank", "theoretical_q",
                                 "sample_q"}
    n_orig = orig.groupBy("lang").count().collect()
    n_clean = {r["lang"]: r["count"]
               for r in clean.groupBy("lang").count().collect()}
    for r in n_orig:  # the planted outlier is cut from the cleaned plot
        assert n_clean[r["lang"]] < r["count"], r["lang"]


def test_qq_fit_degenerate_group_nulls_not_ansi_error(spark):
    """A single-point group (routine in crawl-tail cells) has
    var_pop(theoretical_q) = 0: under Spark 4's default ANSI mode a
    plain 0.0/0.0 raises DIVIDE_BY_ZERO and kills the whole diagnostics
    job - qq_fit must instead emit NULL slope/intercept for the
    degenerate group (matching corr's NULL) and still fit healthy ones."""
    rows = [("solo", 3.3)] + \
           [("big", 2.0 * _ppf_as241(p) + 1.0) for p in _filliben(50)]
    df = spark.createDataFrame(rows, "lang string, v double")
    fit = {r["lang"]: r for r in
           quality.qq_fit(quality.qq_points(df, "v", ("lang",)),
                          ("lang",)).collect()}
    assert fit["solo"]["slope"] is None
    assert fit["solo"]["intercept"] is None
    assert fit["solo"]["r"] is None
    assert abs(fit["big"]["slope"] - 2.0) < 1e-6
    assert abs(fit["big"]["intercept"] - 1.0) < 1e-6


def test_qq_points_exact_rejects_degenerate_decimation(spark):
    """n_points=1 would make the exact path's rank step divide by a
    literal zero (an ANSI runtime error deep in the job) - it must be a
    ValueError at call time; the approx path accepts n_points=1 (one
    Hazen midpoint is well-defined)."""
    import pytest
    df = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    with pytest.raises(ValueError, match="n_points"):
        quality.qq_points(df, "v", n_points=1)
    got = quality.qq_points(df, "v", n_points=1, approx=True).collect()
    assert len(got) == 1 and abs(got[0]["theoretical_q"]) < 5e-8
