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

from pyspark.sql import DataFrame, functions as F

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
    from pyspark.sql import Window
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
# published Gopher rules (Rae et al. 2021, table A1) + the C4/Gopher
# repetition signals, computed as ONE Catalyst projection per document -
# array higher-order functions over split(), no explode, no shuffle, no
# UDF - so the filter runs at scan speed and composes with any plan.

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


# a token carrying at least one letter: one regexp_count scan
_ALPHA_TOKEN = "(?:^| )[^ \\p{L}]*\\p{L}"


def gopher_signal_exprs(text: str = "text",
                        stopwords: tuple = GOPHER_STOPWORDS) -> dict:
    """Spark SQL fragments for every Gopher signal over a text column,
    one expression per signal (gopher_quality binds each to a column).
    *stopwords*: the required-stopword set - pick per corpus language
    from GOPHER_STOPWORDS_BY_LANG."""
    from ccspark.sqlgen import lit
    # word-level signals are SINGLE-SCAN regex counts, never
    # split-into-array-then-filter: the array form costs one regex match
    # per WORD (measured ~21s for the full gate over 3M docs vs ~2s
    # single-scan) and identical values are proven on edge inputs in
    # tests + the A/B in the round-2 log.  Token = run of non-space
    # (newlines stay inside tokens - the original split-on-' ' semantics).
    n_words = f"regexp_count({text}, {lit('[^ ]+')})"
    word_chars = f"cast(length(replace({text}, ' ', '')) AS bigint)"
    n_alpha = f"regexp_count({text}, {lit(_ALPHA_TOKEN)})"
    # line-level: n_lines and total line chars are native char counts
    # (split-free); only dup detection and the per-line prefix/suffix
    # filters need the actual array (higher-order functions evaluate
    # interpreted and dominate the gate cost - keep them minimal)
    lines = f"split({text}, chr(10))"
    n_lines = (f"(length({text}) - length(replace({text}, chr(10), ''))"
               f" + 1)")
    line_chars = f"(length({text}) - ({n_lines} - 1))"
    dl = f"array_distinct({lines})"
    n_dl = f"size({dl})"
    n_bullet = (f"size(filter({lines}, x -> "
                f"(x LIKE '- %' OR x LIKE '* %' OR x LIKE '• %')))")
    n_ellip = f"size(filter({lines}, x -> (x LIKE '%...' OR x LIKE '%…')))"
    dl_chars = (f"aggregate(transform({dl}, x -> length(x)), "
                f"cast(0 as bigint), (acc, v) -> acc + v)")
    padded = f"concat(' ', replace(lower({text}), chr(10), ' '), ' ')"
    stop_hits = " + ".join(
        f"(CASE WHEN position(' {w} ' IN {padded}) > 0 THEN 1 ELSE 0 END)"
        for w in stopwords)
    n_hash = f"(length({text}) - length(replace({text}, '#', '')))"
    n_uell = f"(length({text}) - length(replace({text}, '…', '')))"
    n_dell = (f"floor((length({text}) - "
              f"length(replace({text}, '...', ''))) / 3)")
    return {
        "n_words": f"cast({n_words} AS bigint)",
        "mean_word_len": (f"round({word_chars} * 1e0 / "
                          f"greatest({n_words}, 1), 4)"),
        "symbol_word_ratio": (f"round(({n_hash} + {n_uell} + {n_dell}) "
                              f"* 1e0 / greatest({n_words}, 1), 4)"),
        "bullet_frac": (f"round({n_bullet} * 1e0 / "
                        f"greatest({n_lines}, 1), 4)"),
        "ellipsis_frac": (f"round({n_ellip} * 1e0 / "
                          f"greatest({n_lines}, 1), 4)"),
        "alpha_word_frac": (f"round({n_alpha} * 1e0 / "
                            f"greatest({n_words}, 1), 4)"),
        "stopword_hits": f"cast(({stop_hits}) AS bigint)",
        "dup_line_frac": (f"round((({n_lines}) - ({n_dl})) * 1e0 / "
                          f"greatest({n_lines}, 1), 4)"),
        "dup_line_char_frac": (
            f"round(greatest({line_chars} - "
            f"{dl_chars}, 0) * 1e0 / "
            f"greatest({line_chars}, 1), 4)"),
    }


def gopher_signal_exprs_ml(text: str = "text",
                           lang: str = "lang") -> dict:
    """LANGUAGE-AWARE Gopher signals: same fragments as
    gopher_signal_exprs, but every token-shaped signal dispatches on the
    *lang* column per row:

      * word count - for SPACE_FREE_LANGS (zh/ja/ko) one Han/Hangul/Kana
        CHARACTER counts as one word (token counts over ' '-splits are
        meaningless for space-free scripts: the whole page is one
        "token", which is exactly how the language-blind gate
        structurally dropped every valid CJK page);
      * alpha fraction - char-level (letter chars / non-space chars)
        for space-free scripts, token-level otherwise;
      * stopword hits - computed with the stopword set OF THE ROW'S
        LANGUAGE (GOPHER_STOPWORDS_BY_LANG); NULL when no set applies
        (space-free or unlisted language - the keep gate bypasses the
        stopword rule there rather than demanding English of Finnish).

    Line-level signals (bullets, ellipses, duplicate lines) are
    language-neutral and identical to the static rendering."""
    from ccspark import regexes as R
    from ccspark.sqlgen import lit

    base = gopher_signal_exprs(text)
    sf = _space_free(lang)
    n_tok = f"regexp_count({text}, {lit('[^ ]+')})"
    n_cjk = f"regexp_count({text}, {lit(R.CJKISH_CLASS)})"
    n_words = f"(CASE WHEN {sf} THEN {n_cjk} ELSE {n_tok} END)"
    word_chars = f"cast(length(replace({text}, ' ', '')) AS bigint)"
    n_letters = f"regexp_count({text}, {lit(R.ALPHA_CLASS)})"
    n_alpha_tok = f"regexp_count({text}, {lit(_ALPHA_TOKEN)})"
    n_hash = f"(length({text}) - length(replace({text}, '#', '')))"
    n_uell = f"(length({text}) - length(replace({text}, '…', '')))"
    n_dell = (f"floor((length({text}) - "
              f"length(replace({text}, '...', ''))) / 3)")
    padded = f"concat(' ', replace(lower({text}), chr(10), ' '), ' ')"
    stop_arms = []
    for lg in sorted(GOPHER_STOPWORDS_BY_LANG):
        hits = " + ".join(
            f"(CASE WHEN position(' {w} ' IN {padded}) > 0 "
            f"THEN 1 ELSE 0 END)"
            for w in GOPHER_STOPWORDS_BY_LANG[lg])
        stop_arms.append(f"WHEN {lang} = '{lg}' "
                         f"THEN cast(({hits}) AS bigint)")
    stop_case = ("(CASE " + " ".join(stop_arms)
                 + " ELSE cast(NULL AS bigint) END)")
    out = dict(base)
    out["n_words"] = f"cast({n_words} AS bigint)"
    out["mean_word_len"] = (f"round({word_chars} * 1e0 / "
                            f"greatest({n_words}, 1), 4)")
    out["symbol_word_ratio"] = (f"round(({n_hash} + {n_uell} + {n_dell}) "
                                f"* 1e0 / greatest({n_words}, 1), 4)")
    out["alpha_word_frac"] = (
        f"(CASE WHEN {sf} THEN round({n_letters} * 1e0 / "
        f"greatest({word_chars}, 1), 4) "
        f"ELSE round({n_alpha_tok} * 1e0 / greatest({n_tok}, 1), 4) END)")
    out["stopword_hits"] = stop_case
    return out


def _space_free(lang: str) -> str:
    from ccspark.sqlgen import lit
    return f"({lang} IN ({', '.join(map(lit, SPACE_FREE_LANGS))}))"


def gopher_keep_ml_expr(text: str = "text", lang: str = "lang",
                        th: dict | None = None,
                        s: dict | None = None) -> str:
    """Language-aware keep verdict: the Gopher conjunction with per-row
    lang dispatch - token-shape gates (mean_word_len) are bypassed for
    space-free scripts, the stopword gate applies only when the row's
    language has a configured set.  *s* may map signal names to COLUMN
    names (the DataFrame operator computes signals once as columns and
    derives keep from them, keeping each signal inside its own codegen
    method)."""
    from ccspark.sqlgen import lit
    t = gopher_thresholds(th)
    s = s or gopher_signal_exprs_ml(text, lang)
    sf = _space_free(lang)
    known = (f"({lang} IN "
             f"({', '.join(map(lit, sorted(GOPHER_STOPWORDS_BY_LANG)))}))")
    checks = [
        f"({s['n_words']} >= {t['min_words']})",
        f"({s['n_words']} <= {t['max_words']})",
        f"({sf} OR ({s['mean_word_len']} >= {t['min_mean_word_len']} "
        f"AND {s['mean_word_len']} <= {t['max_mean_word_len']}))",
        f"({s['symbol_word_ratio']} <= {t['max_symbol_word_ratio']})",
        f"({s['bullet_frac']} <= {t['max_bullet_frac']})",
        f"({s['ellipsis_frac']} <= {t['max_ellipsis_frac']})",
        f"({s['alpha_word_frac']} >= {t['min_alpha_word_frac']})",
        f"(CASE WHEN {known} THEN {s['stopword_hits']} >= "
        f"{t['min_stopword_hits']} ELSE TRUE END)",
        f"({s['dup_line_frac']} <= {t['max_dup_line_frac']})",
        f"({s['dup_line_char_frac']} <= {t['max_dup_line_char_frac']})",
    ]
    return "(" + " AND ".join(checks) + ")"


def gopher_quality(docs: DataFrame, text_col: str = "text",
                   thresholds: dict | None = None,
                   signals: bool = True,
                   stopwords: tuple = GOPHER_STOPWORDS,
                   engine: str = "expr",
                   lang_col: str | None = None) -> DataFrame:
    """Adds the Gopher signal columns + ``gopher_keep``; filter with
    ``.where('gopher_keep')``.  One projection, scan-speed.

    The keep verdict is computed FROM the signal columns, never by
    inlining every signal into one giant boolean: the inlined form blows
    the 64KB codegen limit and falls back to interpreted evaluation -
    measured 20.8s vs ~1.5s for the column form on 3M docs (each signal
    column compiles into its own codegen method).

    With *lang_col* the gate is LANGUAGE-AWARE (see
    gopher_signal_exprs_ml): per-row stopword sets, CJK-safe word
    counting, token-shape gates bypassed for space-free scripts.

    ``engine="udf"`` computes ``gopher_keep`` with the whole-batch Arrow
    gate (arrowgate.gopher_keep_batch) instead of the expression; the
    verdicts are equal (tests/test_gopher.py).  Unknown *thresholds*
    keys raise ValueError here, when the plan is built."""
    t = gopher_thresholds(thresholds)
    sig = (gopher_signal_exprs_ml(text_col, lang_col)
           if lang_col is not None
           else gopher_signal_exprs(text_col, stopwords))
    out = docs
    for name, expr in sig.items():
        out = out.withColumn(name, F.expr(expr))
    if lang_col is not None:
        keep = F.expr(gopher_keep_ml_expr(
            text_col, lang_col, thresholds,
            s={name: name for name in sig}))
    else:
        keep = (
            (F.col("n_words") >= t["min_words"])
            & (F.col("n_words") <= t["max_words"])
            & (F.col("mean_word_len") >= t["min_mean_word_len"])
            & (F.col("mean_word_len") <= t["max_mean_word_len"])
            & (F.col("symbol_word_ratio") <= t["max_symbol_word_ratio"])
            & (F.col("bullet_frac") <= t["max_bullet_frac"])
            & (F.col("ellipsis_frac") <= t["max_ellipsis_frac"])
            & (F.col("alpha_word_frac") >= t["min_alpha_word_frac"])
            & (F.col("stopword_hits") >= t["min_stopword_hits"])
            & (F.col("dup_line_frac") <= t["max_dup_line_frac"])
            & (F.col("dup_line_char_frac") <= t["max_dup_line_char_frac"])
        )
    if engine == "udf":
        # the gate-only fast path: one whole-batch Arrow pass per doc
        # (verdict-identical, parity-tested; ~10x the expression gate)
        from ccspark import arrowgate
        if lang_col is not None:
            udf = arrowgate.make_gopher_keep_ml_udf(thresholds)
            out = out.withColumn("gopher_keep",
                                 udf(F.col(text_col), F.col(lang_col)))
        else:
            udf = arrowgate.make_gopher_keep_udf(thresholds, stopwords)
            out = out.withColumn("gopher_keep", udf(F.col(text_col)))
    else:
        out = out.withColumn("gopher_keep", keep)
    if not signals:
        out = out.drop(*sig)
    return out


# --------------------------------------------------------------------------
# C4 cleaning rules (Raffel et al. 2020, sec 2.2) - the other published
# web-corpus filter set.  Line gates + page gates are again pure
# projections; the three-sentence-span dedup is a corpus-wide keep-first
# over span hashes (one shuffle, map-side combining - same plan family as
# pipeline.dedup_keep_first).

C4_BAD_SUBSTRINGS = ("lorem ipsum", "{")
SENT_MARK = "\x1e"


def c4_sentences_expr(text: str = "text") -> str:
    """Sentence array: mark terminal-punctuation boundaries with a
    sentinel, then split (the same mark-and-split form the RE2 gate in
    arrowgate uses, which has no lookbehind).  Newlines are boundaries
    too.  CJK sentences end in IDEOGRAPHIC terminal punctuation (。！？)
    with NO following space - those are boundaries on their own."""
    from ccspark.sqlgen import lit, rrep
    marked = rrep(f"replace({text}, chr(10), '{SENT_MARK}')",
                  r"([.!?]) ", "\\1" + SENT_MARK)
    marked = rrep(marked, "([。！？])", "\\1" + SENT_MARK)
    return f"split({marked}, {lit(SENT_MARK)})"


def c4_line_keep_expr(line: str) -> str:
    """C4 line gates: ends in terminal punctuation (Latin OR ideographic -
    a language-blind [.!?"] check structurally dropped every CJK line),
    >= 3 words OR >= 6 space-free-script chars (CJK lines have no
    spaces), and no 'javascript' (case-insensitive)."""
    from ccspark import regexes as R
    from ccspark.sqlgen import lit
    words = f"(length({line}) - length(replace({line}, ' ', '')) + 1)"
    # \z (absolute end) not $: Java's $ also matches BEFORE a final
    # newline while RE2's does not - found by the cross-engine fuzz
    term_pat = '[.!?"。！？」』]\\z'
    term = f"({line} RLIKE {lit(term_pat)})"
    cjk = f"regexp_count({line}, {lit(R.CJKISH_CLASS)})"
    nojs = f"(lower({line}) RLIKE {lit('javascript')})"
    return (f"({term} AND ({words} >= 3 OR {cjk} >= 6) "
            f"AND NOT {nojs})")


def c4_page_keep_expr(text: str = "text", min_sentences: int = 5) -> str:
    """C4 page gates: >= min_sentences sentences, no 'lorem ipsum', no
    curly brace."""
    arr = c4_sentences_expr(text)
    n = f"size(filter({arr}, x -> length(x) > 0))"
    bads = " AND ".join(
        f"(position('{b}' IN lower({text})) = 0)" for b in C4_BAD_SUBSTRINGS)
    return f"(({n}) >= {min_sentences} AND {bads})"


def c4_page_filter(docs: DataFrame, text_col: str = "text",
                   min_sentences: int = 5) -> DataFrame:
    return docs.where(F.expr(c4_page_keep_expr(text_col, min_sentences)))


def c4_span_dedup(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", span: int = 3) -> DataFrame:
    """C4's global dedup unit: any *span*-sentence window occurring more
    than once corpus-wide keeps only its first occurrence (first by
    (doc_id, span_idx)).  Returns (doc_id, span_idx, span_hash, keep) -
    one shuffle on the span hash with map-side partial aggregation via
    min(struct), the same 100x-safe plan as line dedup."""
    # sentence array bound to a projection column before the lambda
    # references it (interpreted HOFs re-evaluate lambda-body exprs per
    # element - the regex sentence split ran once per span; r4, see
    # dedup.shingles)
    arr = c4_sentences_expr(text_col)
    sents = docs.select(F.col(id_col).alias("doc_id"),
                        F.expr(arr).alias("_s"))
    spans = (f"transform(sequence(1, greatest(size(_s) - {span - 1}, 1)),"
             f" i -> concat_ws(' ', slice(_s, i, {span})))")
    ex = sents.select(
        "doc_id",
        F.posexplode(F.expr(spans)).alias("span_idx", "span_text"))
    ex = ex.where(F.length("span_text") > 0).withColumn(
        "span_hash", F.md5("span_text")).drop("span_text")
    first = (ex.groupBy("span_hash")
             .agg(F.min(F.struct("doc_id", "span_idx")).alias("_f")))
    return (ex.join(first, "span_hash")
            .select("doc_id", "span_idx", "span_hash",
                    ((F.col("doc_id") == F.col("_f.doc_id")) &
                     (F.col("span_idx") == F.col("_f.span_idx")))
                    .alias("keep")))


# Gopher repetition panel, part 2 (Rae et al. 2021 table A1 rows 8-13):
# character fraction in the MOST COMMON word {2,3,4}-gram and in
# DUPLICATED word 5-grams.  Needs per-(doc, gram) counts -> one shuffle
# (unlike the scalar gopher signals, which are projections).
# Conventions: top-gram frac = count * len(gram) / len(text); dup frac =
# sum over grams with count > 1 of count * len(gram) / len(text) -
# MULTIPLICITY-WEIGHTED, so overlapping duplicated grams can push it
# past 1.0 (a page of n copies of one sentence scores ~n-1..5): a
# strictly monotone upper bound of the paper's position-coverage
# fraction, cheaper by two shuffles and equally usable as a gate.

GOPHER_REP_THRESHOLDS = dict(
    max_top2_frac=0.20, max_top3_frac=0.18, max_top4_frac=0.16,
    max_dup5_frac=0.15,
)


def gopher_repetition(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      thresholds: dict | None = None) -> DataFrame:
    """Per-doc repetition signals + ``rep_keep``.  All gram sizes ride ONE
    tagged union -> one count shuffle on (doc, n, gram), one window on
    (doc, n), one pivot - instead of a per-n explode/aggregate/join chain
    (8 exchanges -> 4).  Asserted equal to a pure-Python restatement
    (tests/oracle.py) in tests/test_gopher.py."""
    from pyspark.sql.window import Window
    t = _merge_thresholds(GOPHER_REP_THRESHOLDS, thresholds,
                          "Gopher repetition")
    base = docs.select(F.col(id_col).alias("doc_id"),
                       F.col(text_col).alias("text"))
    # words bound once below the explodes (interpreted HOFs re-evaluate
    # lambda-body exprs per element - the regex split+filter ran once
    # per gram, x4 gram sizes; r4, see dedup.shingles)
    words = "filter(split(text, '\\\\s+'), x -> x != '')"
    wbase = base.select("doc_id", F.expr(words).alias("_w"))

    def gram_df(n):
        spans = (f"transform(sequence(1, greatest(size(_w) - {n - 1},"
                 f" 1)), i -> concat_ws(' ', slice(_w, i, {n})))")
        g = wbase.select("doc_id", F.lit(n).alias("n"),
                         F.explode(F.expr(spans)).alias("gram"))
        return g.where(F.length("gram") - F.length(
            F.regexp_replace("gram", " ", "")) == n - 1)

    grams = gram_df(2)
    for n in (3, 4, 5):
        grams = grams.unionByName(gram_df(n))
    cnt = (grams.groupBy("doc_id", "n", "gram").count()
           .withColumn("chars", F.col("count") * F.length("gram")))
    w = Window.partitionBy("doc_id", "n").orderBy(F.desc("count"), "gram")
    top = (cnt.where("n <= 4")
           .withColumn("rk", F.row_number().over(w)).where("rk = 1")
           .groupBy("doc_id")
           .agg(*[F.max(F.when(F.col("n") == n, F.col("chars")))
                  .alias(f"top{n}_chars") for n in (2, 3, 4)]))
    dup5 = (cnt.where("n = 5 AND count > 1")
            .groupBy("doc_id").agg(F.sum("chars").alias("dup5_chars")))
    out = (base.select("doc_id", F.length("text").alias("_len"))
           .join(top, "doc_id", "left").join(dup5, "doc_id", "left"))
    cols = {"top2_frac": "top2_chars", "top3_frac": "top3_chars",
            "top4_frac": "top4_chars", "dup5_frac": "dup5_chars"}
    for frac, chars in cols.items():
        out = out.withColumn(frac, F.round(
            F.coalesce(F.col(chars), F.lit(0)) * F.lit(1.0) /
            F.greatest(F.col("_len"), F.lit(1)), 4))
    keep = ((F.col("top2_frac") <= t["max_top2_frac"])
            & (F.col("top3_frac") <= t["max_top3_frac"])
            & (F.col("top4_frac") <= t["max_top4_frac"])
            & (F.col("dup5_frac") <= t["max_dup5_frac"]))
    return out.select("doc_id", "top2_frac", "top3_frac", "top4_frac",
                      "dup5_frac", keep.alias("rep_keep"))


def domain_keep_frac(verdict_col: str = "gopher_keep", window=None):
    """A domain's page keep fraction: ``round(avg(double(verdict)), 4)``
    - the ONE rendering of the rollup rule, used as domain_quality's
    aggregate and, with *window* (``partitionBy(domain)``), as the
    facade's window.  ``avg`` skips NULL verdicts, so rows that are not
    pages (the fused stage's line rows) do not count.  The verdicts are
    0/1 doubles, so the sum is exact in any order."""
    avg = F.avg(F.col(verdict_col).cast("double"))
    return F.round(avg if window is None else avg.over(window), 4)


def domain_quality(pages: DataFrame, text_col: str = "text",
                   domain_col: str = "domain",
                   min_keep_frac: float = 0.5,
                   lang_col: str | None = None,
                   thresholds: dict | None = None) -> DataFrame:
    """Domain-level quality rollup: per domain, the fraction of its pages
    passing the Gopher gate plus mean signals - drop whole domains whose
    keep fraction is below *min_keep_frac* (spam farms fail wholesale, so
    judging the domain once beats re-judging each of its million pages).
    One scan + one aggregation; join the survivors back as a broadcast or
    bucketed gate where the pages must be gated before another pass.
    api.build_training_corpus(domain_min_keep=...) does not call this:
    it takes each page's verdict from its fused page stage and applies
    the same keep-fraction expression (domain_keep_frac) as a window,
    so its pages are judged once.  *lang_col*: judge each page with the
    language-aware gate.  *thresholds*: Gopher threshold overrides -
    MUST be the same dict the page-level gate runs with, so domains are
    judged by the same rule as their pages (judging the rollup with
    defaults while gating pages with overrides silently diverges -
    ADVICE r3).

    Pages are judged by the whole-batch Arrow gate (``engine="udf"``),
    the verdict the fused page stage runs; the signal columns feed only
    the two means, which Catalyst prunes when a caller reads just
    ``domain_keep``.  A page with a null *lang_col* that fails the gate
    counts against its domain (the Catalyst verdict is NULL there, which
    ``avg`` would skip)."""
    g = gopher_quality(pages, text_col, lang_col=lang_col,
                       thresholds=thresholds, engine="udf")

    # order-independent mean: the per-page signals are 4-decimal doubles,
    # so avg() would sum floats in partition-dependent order and can land
    # on either side of a round(.,4) boundary.  Summing the signals as
    # EXACT integers (x10000) and dividing once is order-independent.
    def exact_mean(col: str):
        return F.round(
            F.sum(F.round(F.col(col) * 10000).cast("long"))
            / (F.count("*") * F.lit(10000.0)), 4)

    return (g.groupBy(domain_col)
            .agg(F.count("*").alias("n_pages"),
                 domain_keep_frac("gopher_keep").alias("keep_frac"),
                 exact_mean("mean_word_len").alias("avg_word_len"),
                 exact_mean("dup_line_frac").alias("avg_dup_line_frac"))
            .withColumn("domain_keep",
                        F.col("keep_frac") >= min_keep_frac))


def _round4(x: float) -> float:
    """Spark round(double, 4): HALF_UP on the shortest decimal
    representation (Java BigDecimal.valueOf semantics) - NOT Python's
    banker's rounding."""
    from decimal import ROUND_HALF_UP, Decimal
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"),
                                           rounding=ROUND_HALF_UP))
