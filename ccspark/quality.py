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
predictable = HIGH side.  A doc with no non-empty ' '-split token (NULL,
'' or whitespace-only text) gets no score and is never an outlier.  The
reference's QQ plots (M6, outlier_detection.py:88-91,117-119) are out of
scope.
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
    """End-to-end M3-M5: drop the docs predicted HIGH or LOW and keep
    every other doc - IN, ORIGINAL, and any doc that was never scored
    (no tokens), which is never an outlier."""
    scored = score_loglik(docs, group_cols, text_col, id_col)
    marked = mark_outliers(scored, group_cols, z_cut, min_words)
    drop_ids = marked.where(F.col("prediction").isin("HIGH", "LOW")) \
                     .select(id_col)
    return docs.join(drop_ids, id_col, "left_anti")


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
