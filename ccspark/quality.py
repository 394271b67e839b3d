"""M3-M5: n-gram LM "perplexity" scoring + Iglewicz-Hoaglin outlier cut.

Reference: per-(region,country,lang) cell, train a FastText LM
(outlier_detection.py:58-74), score each sample's avg log-likelihood
("Probability"), divide by word count ("Perplexity" - actually mean
per-word log-likelihood, outlier_detection.py:83-84), then cut samples
whose modified z-score 0.6745*(x - median)/MAD exceeds |3|
(outlier_detection.py:95-113): z > 3 -> "HIGH" (too predictable),
z < -3 -> "LOW" (too random).  Cells under the 5M-word training gate are
passed through unscored (outlier_detection.py:147-149).

Spark re-expression (north_rule allows a counting n-gram LM): the LM is a
token-unigram model estimated per cell with pure DataFrame aggregations -
no Python in the scoring path, everything stays in whole-stage codegen:

    tokens = explode(split(text))
    lm     = count(token) per (cell, token)          [shuffle 1]
    score  = avg over tokens of ln P(token | cell)   [join + shuffle 2]
    stats  = exact median + MAD per cell             [two shuffles, tiny]
    cut    = pure column arithmetic

Keeping the reference's sign convention: higher mean loglik = more
predictable = HIGH side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

CELL = ("region", "country", "lang")


def score_loglik(docs: DataFrame, group_cols=CELL,
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-doc mean token log-likelihood under its cell's unigram LM."""
    g = list(group_cols)
    toks = (docs.select(id_col, *g,
                        F.explode(F.split(F.col(text_col), " ")).alias("w"))
            .where(F.length("w") > 0))
    lm = toks.groupBy(*g, "w").agg(F.count("*").alias("cnt"))
    totals = lm.groupBy(*g).agg(F.sum("cnt").alias("cell_n"))
    lm = lm.join(F.broadcast(totals) if len(g) > 0 else totals, g)
    scored = (toks.join(lm, g + ["w"])
              .groupBy(id_col, *g)
              .agg(F.avg(F.log(F.col("cnt") / F.col("cell_n")))
                    .alias("loglik"),
                   F.count("*").alias("n_words")))
    return scored


def mark_outliers(scored: DataFrame, group_cols=CELL,
                  z_cut: float = 3.0,
                  min_words: int = 5_000_000) -> DataFrame:
    """Modified z-score cut per cell; cells under the training-size gate
    pass through as 'ORIGINAL' (the reference copies them unprocessed)."""
    g = list(group_cols)
    med = scored.groupBy(*g).agg(
        F.median("loglik").alias("med"),
        F.sum("n_words").alias("cell_words"))
    j = scored.join(F.broadcast(med), g)
    mad = (j.groupBy(*g)
           .agg(F.median(F.abs(F.col("loglik") - F.col("med"))).alias("mad")))
    j = j.join(F.broadcast(mad), g)
    # degenerate cell (all docs score identically) -> MAD = 0 -> z := 0
    # (the reference divides by zero and gets inf/nan in pandas; all-IN is
    # the intended outcome)
    z = F.when(F.col("mad") == 0, F.lit(0.0)).otherwise(
        0.6745 * (F.col("loglik") - F.col("med")) / F.col("mad"))
    return (
        j.withColumn("z", F.round(z, 6))
        .withColumn(
            "prediction",
            F.when(F.col("cell_words") < min_words, F.lit("ORIGINAL"))
             .when(F.col("z") > z_cut, F.lit("HIGH"))
             .when(F.col("z") < -z_cut, F.lit("LOW"))
             .otherwise(F.lit("IN")))
        .drop("med", "mad", "cell_words")
    )


def remove_outliers(docs: DataFrame, group_cols=CELL,
                    text_col: str = "text", id_col: str = "doc_id",
                    z_cut: float = 3.0, min_words: int = 5_000_000
                    ) -> DataFrame:
    """End-to-end M3-M5: keep docs scored IN (or ORIGINAL)."""
    scored = score_loglik(docs, group_cols, text_col, id_col)
    marked = mark_outliers(scored, group_cols, z_cut, min_words)
    keep_ids = marked.where(F.col("prediction").isin("IN", "ORIGINAL")) \
                     .select(id_col)
    return docs.join(keep_ids, id_col, "left_semi")


# --------------------------------------------------------------------------
# M6: QQ-plot diagnostics, data side.
#
# The reference renders normal probability plots of the per-cell
# perplexity distribution before and after the outlier cut
# (scipy.stats.probplot at outlier_detection.py:88-91 original,
# :117-119 cleaned) - the one matplotlib call previously declared out of
# scope.  The FIGURE is driver-side, but every number behind it is not:
# probplot(x, dist='norm') is (a) Filliben plotting positions
# pp_i = (i - 0.3175)/(n + 0.365) with pp_1 = 1 - 0.5^(1/n),
# pp_n = 0.5^(1/n), (b) theoretical quantiles norm.ppf(pp), (c) the
# order statistics of x, and (d) with fit=True a least-squares line
# osr ~ osm plus Pearson r.  All four are computed here as DataFrames;
# a user plots the ~hundreds of returned points with whatever they have.

# Acklam's rational approximation of the inverse normal CDF (published
# algorithm, max relative error 1.15e-9) - pure arithmetic, so it stays
# a Catalyst projection inside whole-stage codegen; no scipy, no UDF.
_ACK_A = (-3.969683028665376e+01, 2.209460984245205e+02,
          -2.759285104469687e+02, 1.383577518672690e+02,
          -3.066479806614716e+01, 2.506628277459239e+00)
_ACK_B = (-5.447609879822406e+01, 1.615858368580409e+02,
          -1.556989798598866e+02, 6.680131188771972e+01,
          -1.328068155288572e+01)
_ACK_C = (-7.784894002430293e-03, -3.223964580411365e-01,
          -2.400758277161838e+00, -2.549732539343734e+00,
          4.374664141464968e+00, 2.938163982698783e+00)
_ACK_D = (7.784695709041462e-03, 3.224671290700398e-01,
          2.445134137142996e+00, 3.754408661907416e+00)
_ACK_PLOW = 0.02425


def _horner(q, coefs):
    acc = F.lit(coefs[0])
    for c in coefs[1:]:
        acc = acc * q + F.lit(c)
    return acc


def norm_ppf(p) -> F.Column:
    """Standard-normal inverse CDF of a probability column, as a pure
    Catalyst expression (Acklam's approximation).  p must lie in (0, 1);
    out-of-range inputs return NULL rather than +-inf."""
    p = F.col(p) if isinstance(p, str) else p
    q_tail_low = F.sqrt(-2.0 * F.log(p))
    q_tail_high = F.sqrt(-2.0 * F.log(1.0 - p))
    tail_low = _horner(q_tail_low, _ACK_C) / \
        (_horner(q_tail_low, _ACK_D) * q_tail_low + 1.0)
    tail_high = -(_horner(q_tail_high, _ACK_C) /
                  (_horner(q_tail_high, _ACK_D) * q_tail_high + 1.0))
    q_mid = p - 0.5
    r = q_mid * q_mid
    central = _horner(r, _ACK_A) * q_mid / (_horner(r, _ACK_B) * r + 1.0)
    return (F.when((p <= 0.0) | (p >= 1.0), F.lit(None).cast("double"))
             .when(p < _ACK_PLOW, tail_low)
             .when(p > 1.0 - _ACK_PLOW, tail_high)
             .otherwise(central))


def _filliben_pp(rank_col, n_col) -> F.Column:
    """Filliben (1975) plotting positions, the exact scheme
    scipy.stats.probplot uses."""
    first = 1.0 - F.pow(0.5, 1.0 / n_col)
    last = F.pow(0.5, 1.0 / n_col)
    return (F.when(rank_col == 1, first)
             .when(rank_col == n_col, last)
             .otherwise((rank_col - 0.3175) / (n_col + 0.365)))


def qq_points(df: DataFrame, value_col: str = "loglik",
              group_cols=(), n_points: int | None = None,
              approx: bool = False) -> DataFrame:
    """(theoretical_q, sample_q) pairs of a normal probability plot of
    value_col, per group - the data behind probplot's scatter.

    Exact path (default): rank every row per group (probplot's full
    order statistics; ties carry equal sample_q so the point SET is
    deterministic), optionally decimated to ~n_points evenly spaced
    ranks with both endpoints kept.  This is the scipy-parity anchor -
    and a per-group full sort, so at crawl scale use approx=True.

    Approx path (approx=True, requires n_points): evaluates a mergeable
    quantile sketch (percentile_approx) at n_points fixed Hazen
    positions (j - 0.5)/m - percentile_approx's percentage argument
    must be foldable, so the probe probabilities cannot depend on the
    group's n; at sketch scale the Filliben and Hazen interiors are
    indistinguishable anyway.  One aggregation, no per-group sort,
    bounded memory at any group size (a QQ plot needs hundreds of
    points, never the 10^9 order statistics).  The exact path is the
    scipy-parity anchor; this is the production path."""
    g = list(group_cols)
    v = F.col(value_col).cast("double")
    if approx:
        if not n_points:
            raise ValueError("approx QQ needs n_points")
        probs = [(j - 0.5) / n_points for j in range(1, n_points + 1)]
        prob_sql = "array(" + ",".join(f"{p!r}D" for p in probs) + ")"
        parr = F.array(*[F.lit(p) for p in probs])
        agg = df.groupBy(*g).agg(F.expr(
            f"percentile_approx(cast({value_col} as double), {prob_sql},"
            " 10000)").alias("_qs"))
        return (agg.select(*g, F.posexplode("_qs").alias("_i", "sample_q"))
                .select(*g, (F.col("_i") + 1).alias("rank"),
                        norm_ppf(F.element_at(parr, F.col("_i") + 1))
                        .alias("theoretical_q"),
                        "sample_q"))
    w = Window.partitionBy(*g).orderBy(F.col("_v"))
    ranked = (df.select(*g, v.alias("_v"))
              .withColumn("rank", F.row_number().over(w))
              .withColumn("_n", F.count("*").over(
                  Window.partitionBy(*g) if g else Window.partitionBy())))
    if n_points:
        if n_points < 2:
            raise ValueError("exact QQ decimation keeps both endpoints: "
                             "n_points must be >= 2")
        step = F.greatest(F.lit(1), F.ceil((F.col("_n") - 1.0)
                                           / (n_points - 1)).cast("bigint"))
        ranked = ranked.where(
            (F.col("rank") == 1) | (F.col("rank") == F.col("_n"))
            | ((F.col("rank") - 1) % step == 0))
    return ranked.select(
        *g, "rank",
        norm_ppf(_filliben_pp(F.col("rank"), F.col("_n")))
        .alias("theoretical_q"),
        F.col("_v").alias("sample_q"))


def qq_fit(qq: DataFrame, group_cols=()) -> DataFrame:
    """probplot's fit=True output per group: least-squares sample_q ~
    theoretical_q (slope, intercept) + Pearson r - native aggregates.
    A degenerate group (a single QQ point, routine in crawl-tail cells,
    or all-equal theoretical_q) has zero variance: try_divide yields
    NULL slope/intercept there instead of the whole-job DIVIDE_BY_ZERO
    Spark 4's default ANSI mode raises on 0.0/0.0 (r matches: corr of a
    degenerate group is already NULL)."""
    g = list(group_cols)
    agg = qq.groupBy(*g).agg(
        F.covar_pop("theoretical_q", "sample_q").alias("_cov"),
        F.var_pop("theoretical_q").alias("_var"),
        F.avg("theoretical_q").alias("_mt"),
        F.avg("sample_q").alias("_ms"),
        F.corr("theoretical_q", "sample_q").alias("r"))
    return (agg.withColumn("slope", F.try_divide(F.col("_cov"),
                                                 F.col("_var")))
               .withColumn("intercept",
                           F.col("_ms") - F.col("slope") * F.col("_mt"))
               .select(*g, "slope", "intercept", "r"))


def perplexity_qq(docs: DataFrame, group_cols=CELL,
                  cleaned: bool = False, z_cut: float = 3.0,
                  min_words: int = 5_000_000,
                  n_points: int | None = None,
                  approx: bool = False) -> DataFrame:
    """The reference's two diagnostic plots as data: QQ of the per-doc
    mean log-likelihood per cell, before (outlier_detection.py:88-91) or
    after (cleaned=True, :117-119 - IN rows only) the modified-z cut."""
    scored = score_loglik(docs, group_cols)
    if cleaned:
        scored = mark_outliers(scored, group_cols, z_cut, min_words) \
            .where(F.col("prediction") == "IN")
    return qq_points(scored, "loglik", group_cols,
                     n_points=n_points, approx=approx)


# --------------------------------------------------------------------------
# Document-level quality rules (Gopher / C4 style; quality_filter tier).
#
# The reference filters at LINE level only (the kernel chain); a web-scale
# training-data pipeline also gates whole documents.  These are the
# published Gopher rules (Rae et al. 2021, table A1) and the C4 page rules
# (Raffel et al. 2020, sec 2.2).  Their one rendering is the whole-batch
# Arrow/RE2 gate in ccspark.arrowgate, which reads the constants below;
# tests/oracle.py restates it per row as the test reference.

# Per-language required-stopword sets (Gopher's rule is "contains >= 2 of
# 8 common English words"; for other corpora swap the list - the gate
# shape is identical).  Extend freely; keys are ISO-639-1.
GOPHER_STOPWORDS_BY_LANG = {
    "en": ("the", "be", "to", "of", "and", "that", "have", "with"),
    "de": ("der", "die", "und", "das", "von", "mit", "ist", "auf"),
    "es": ("de", "la", "que", "el", "en", "los", "con", "por"),
    "fr": ("de", "la", "le", "et", "les", "des", "que", "dans"),
    "it": ("di", "che", "la", "il", "per", "con", "del", "una"),
    "pt": ("de", "que", "em", "para", "com", "uma", "dos", "mais"),
    "nl": ("de", "het", "een", "van", "en", "dat", "met", "voor"),
    "ru": ("и", "в", "не", "на", "что", "как", "это", "для"),
}
GOPHER_STOPWORDS = GOPHER_STOPWORDS_BY_LANG["en"]

# Space-free scripts: token counts over ' '-splits are meaningless (a CJK
# page is ONE "word"), so the language-aware gate counts Han/Hangul/Kana
# CHARACTERS as words instead and bypasses the token-shape gates
# (mean_word_len, token-alpha-fraction, stopwords) - mirroring the line
# kernel's F12 CJK handling (cc_corpus.py:276-284, the cjklen rule of
# arrowkernel.verdict_batch), which the language-BLIND document gate used
# to contradict.
SPACE_FREE_LANGS = ("ja", "ko", "zh")

GOPHER_THRESHOLDS = dict(
    min_words=50, max_words=100_000,
    min_mean_word_len=3.0, max_mean_word_len=10.0,
    max_symbol_word_ratio=0.1,
    max_bullet_frac=0.9, max_ellipsis_frac=0.3,
    min_alpha_word_frac=0.8, min_stopword_hits=2,
    max_dup_line_frac=0.3, max_dup_line_char_frac=0.2,
)


def gopher_thresholds(overrides: dict | None = None) -> dict:
    """GOPHER_THRESHOLDS with *overrides* merged in - the one merge every
    Gopher gate uses (see _merge_thresholds)."""
    return _merge_thresholds(GOPHER_THRESHOLDS, overrides, "Gopher")


def _merge_thresholds(defaults: dict, overrides: dict | None,
                      what: str) -> dict:
    """*defaults* with *overrides* merged in.  Raises ValueError on a key
    outside *defaults*: a misspelt key ("min_word") would otherwise be
    merged, never read, and leave the default rule in force."""
    unknown = sorted(set(overrides or ()) - set(defaults))
    if unknown:
        raise ValueError(
            f"unknown {what} threshold key(s) {unknown}; known keys: "
            f"{sorted(defaults)}")
    return dict(defaults, **(overrides or {}))


# C4 page rules: a page with either substring (lowercased) fails, and
# sentences are split by marking their boundaries with SENT_MARK
C4_BAD_SUBSTRINGS = ("lorem ipsum", "{")
SENT_MARK = "\x1e"


def domain_keep_frac(verdict_col: str = "gopher_keep", window=None):
    """A domain's page keep fraction: ``round(avg(double(verdict)), 4)``
    - the ONE rendering of the rollup rule, used as domain_quality's
    aggregate and, with *window* (``partitionBy(domain)``), as the
    facade's window.  ``avg`` skips NULL verdicts, so rows that are not
    pages (the fused stage's line rows) do not count.  The verdicts are
    0/1 doubles, so the sum is exact in any order."""
    avg = F.avg(F.col(verdict_col).cast("double"))
    return F.round(avg if window is None else avg.over(window), 4)


def domain_gate(rows: DataFrame, min_keep: float,
                verdict_col: str = "gopher_keep") -> DataFrame:
    """The facade's domain gate over fused-stage rows: a row continues
    when its domain's keep fraction (domain_keep_frac over a
    ``partitionBy(domain)`` window) is at least *min_keep*; a NULL
    domain never continues."""
    frac = domain_keep_frac(verdict_col, Window.partitionBy("domain"))
    return (rows.withColumn("_keep_frac", frac)
            .where(F.col("domain").isNotNull()
                   & (F.col("_keep_frac") >= min_keep))
            .drop("_keep_frac"))


def domain_quality(pages: DataFrame, text_col: str = "text",
                   domain_col: str = "domain",
                   min_keep_frac: float = 0.5,
                   lang_col: str | None = None,
                   thresholds: dict | None = None) -> DataFrame:
    """Domain-level quality rollup: per domain, the number of its pages
    and the fraction passing the Gopher gate - drop whole domains whose
    keep fraction is below *min_keep_frac* (spam farms fail wholesale, so
    judging the domain once beats re-judging each of its million pages).
    Returns (*domain_col*, n_pages, keep_frac, domain_keep).  One scan +
    one aggregation; join the survivors back as a broadcast or bucketed
    gate where the pages must be gated before another pass.
    api.build_training_corpus(domain_min_keep=...) does not call this:
    it takes each page's verdict from its fused page stage and applies
    the same keep-fraction expression (domain_keep_frac) as a window,
    so its pages are judged once.  *lang_col*: judge each page with the
    language-aware gate.  *thresholds*: Gopher threshold overrides -
    MUST be the same dict the page-level gate runs with, so domains are
    judged by the same rule as their pages (judging the rollup with
    defaults while gating pages with overrides silently diverges -
    ADVICE r3).  An unknown key raises ValueError here, when the plan
    is built.

    Pages are judged by arrowgate.gopher_keep_batch in a pandas UDF, the
    verdict the fused page stage runs.  A NULL text, or a NULL-lang page
    that fails the gate, counts against its domain."""
    import pandas
    import pyarrow as pa
    from pyspark.sql.functions import pandas_udf

    from ccspark import arrowgate
    gopher_thresholds(thresholds)      # an unknown key raises here
    ml = lang_col is not None

    def judge(texts, langs):
        return pandas.Series(arrowgate.gopher_keep_batch(
            pa.Array.from_pandas(texts, type=pa.string()),
            pa.Array.from_pandas(langs, type=pa.string()) if ml else None,
            thresholds=thresholds))

    # pandas_udf reads the type hints; pandas is imported here, so they
    # are set as objects (string hints would not resolve)
    judge.__annotations__ = {"texts": pandas.Series,
                             "langs": pandas.Series,
                             "return": pandas.Series}
    lang = F.col(lang_col) if ml else F.lit(None).cast("string")
    keep = pandas_udf(judge, "boolean")(F.col(text_col), lang)
    return (pages.select(domain_col, keep.alias("gopher_keep"))
            .groupBy(domain_col)
            .agg(F.count("*").alias("n_pages"),
                 domain_keep_frac("gopher_keep").alias("keep_frac"))
            .withColumn("domain_keep",
                        F.col("keep_frac") >= min_keep_frac))


def _round4(x: float) -> float:
    """Spark round(double, 4): HALF_UP on the shortest decimal
    representation (Java BigDecimal.valueOf semantics) - NOT Python's
    banker's rounding."""
    from decimal import ROUND_HALF_UP, Decimal
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"),
                                           rounding=ROUND_HALF_UP))
