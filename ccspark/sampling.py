"""Deterministic token-budget sampling (training-data mixing).

A training-data build rarely takes every document it could: it targets a
token BUDGET per group (per language, per source, per domain tier) and
needs the selection to be (a) deterministic across reruns/engines,
(b) unbiased w.r.t. document content, (c) computable in one pass.  The
reference caps page COUNTS per country with random.shuffle
(geoWAC.py:149-152 - W4, whose deterministic rewrite is skew.cap_per_key);
this operator generalizes the cap to WEIGHTED budgets: order each group
by a content-independent hash and keep the greedy prefix of documents
whose cumulative token count stays within the budget.

Semantics (pinned, oracle-verified): documents are ordered by
(md5(group || ':' || doc_id), doc_id) inside each group; a document is
kept iff the cumulative token count BEFORE it is still below the budget
- so the document that crosses the boundary is included, and every
non-empty group keeps at least one document (budget overshoot is at most
one document, the standard greedy-prefix contract).

Scale shape - the part that must survive 100 TB: a naive
``sum() OVER (PARTITION BY lang ORDER BY hash)`` funnels EVERY document
of a language through one task's sort (English is half the crawl).  The
implementation instead computes the SAME global hash order in three
bounded stages (the classic distributed prefix-sum):

  1. bucket = first byte of the md5 order key (so bucket order is
     consistent with full-key order by construction); per-(group,
     bucket) running sums via a window partitioned by (group, bucket) -
     256x the parallelism of the naive window;
  2. per-(group, bucket) totals -> a tiny (groups x 256) offsets table,
     prefix-summed and BROADCAST;
  3. cum = bucket offset + within-bucket running sum.

Values are bit-identical to the naive window (sample_by_token_budget_window)
and to a pure-Python greedy prefix (tests/oracle.py), so the scalable
plan is value-verified, not just plausible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def with_token_weights(docs: DataFrame, text_col: str = "text",
                       weight_col: str = "weight") -> DataFrame:
    """Whitespace-token count as the sampling weight (bigint)."""
    w = F.size(F.filter(F.split(F.col(text_col), " "),
                        lambda x: x != F.lit("")))
    return docs.withColumn(weight_col, w.cast("long"))


def _with_cum(docs: DataFrame, group_col: str, id_col: str,
              weight_col: str) -> DataFrame:
    """All *docs* columns + ``cum``: the inclusive running sum of
    *weight_col* in global md5(group:id) hash order, computed by the
    three-stage bucketed prefix-sum (module docstring).  Shared by the
    fixed-budget sampler and the mixture sampler so the scalable plan
    exists exactly once."""
    ordkey = F.md5(F.concat_ws(":", F.col(group_col), F.col(id_col)))
    d = (docs.withColumn("_ord", ordkey)
         .withColumn("_bkt", F.conv(F.substring("_ord", 1, 2), 16, 10)
                     .cast("int")))
    # stage 1: within-(group, bucket) running sums - 256x the
    # parallelism of a per-group window
    wb = (Window.partitionBy(group_col, "_bkt")
          .orderBy(F.col("_ord"), F.col(id_col))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    d = d.withColumn("_within", F.sum(weight_col).over(wb).cast("long"))
    # stage 2: tiny (groups x 256) offsets table, prefix-summed,
    # broadcast back
    wo = (Window.partitionBy(group_col).orderBy("_bkt")
          .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (d.groupBy(group_col, "_bkt")
               .agg(F.sum(weight_col).alias("_tot"))
               .withColumn("_off", F.coalesce(F.sum("_tot").over(wo),
                                              F.lit(0)).cast("long"))
               .select(group_col, "_bkt", "_off"))
    return (d.join(F.broadcast(offsets), [group_col, "_bkt"])
            .withColumn("cum", (F.col("_off") + F.col("_within"))
                        .cast("long"))
            .select(*docs.columns, "cum"))


def sample_by_token_budget(docs: DataFrame, budget: int,
                           group_col: str = "lang",
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           weight_col: str | None = None) -> DataFrame:
    """All *docs* columns + ``weight``, ``cum`` (cumulative tokens in
    global hash order, inclusive) and ``kept`` (greedy prefix within
    *budget*).

    Filter ``kept`` for the sample; the flags are returned (rather than
    pre-filtered) so lineage metrics and the driver oracle can see the
    rejected rows too.

    Distributed prefix-sum (see module docstring): the bucket is the
    first md5 byte, so (bucket, ord, id) sorts identically to (ord, id)
    and the three-stage cum equals the naive per-group window's value
    bit for bit - asserted against the window form and the Python
    restatement in tests/test_sampling.py."""
    if weight_col is None:
        docs = with_token_weights(docs, text_col)
        weight_col = "weight"
    out = _with_cum(docs, group_col, id_col, weight_col)
    return out.withColumn(
        "kept", (F.col("cum") - F.col(weight_col)) < F.lit(budget))


def derive_mixture_budgets(total_budget: int,
                           proportions: dict[str, float]) -> dict[str, int]:
    """Per-group integer budgets from target mixture *proportions* —
    budget_g = floor(total_budget * p_g / sum(p)).  Proportions are
    normalized by their sum, so {en: 2, de: 1} and {en: 2/3, de: 1/3}
    are equivalent; negative weights and an all-zero dict are errors.
    Driver-side pure-Python so the Spark module and any SQL oracle twin
    derive from the SAME integers (no float drift across engines)."""
    if not proportions:
        raise ValueError("proportions must be a non-empty dict")
    if any(p < 0 for p in proportions.values()):
        raise ValueError("proportions must be non-negative")
    s = float(sum(proportions.values()))
    if s <= 0:
        raise ValueError("proportions must sum to a positive value")
    # Each group's quota floors independently, so up to
    # len(proportions)-1 tokens of total_budget stay UNALLOCATED (e.g.
    # total=100 over three equal groups -> 33+33+33).  Deliberate: the
    # floor keeps every quota an exact integer with a one-line rule.
    return {g: int(total_budget * p / s) for g, p in proportions.items()}


def sample_by_mixture(docs: DataFrame, total_budget: int,
                      proportions: dict[str, float],
                      group_col: str = "lang",
                      text_col: str = "text",
                      id_col: str = "doc_id",
                      weight_col: str | None = None) -> DataFrame:
    """Training-mix sampling: split one global *total_budget* across
    groups by target *proportions* (the standard "30% lang A / 70% lang
    B of a 1T-token budget" operator), then take each group's greedy
    hash-order prefix under its derived budget — one level above
    sample_by_token_budget's uniform per-group quota.

    Output: all *docs* columns + ``weight``, ``cum``, ``budget`` (the
    group's derived integer quota; 0 for groups absent from
    *proportions*) and ``kept``.  Groups not named in *proportions* get
    budget 0 and keep NOTHING (cum - weight < 0 is never true) — absent
    groups are excluded from the mix rather than silently passed
    through; filter ``kept`` for the sample.

    Scale shape: the cum is the same three-stage bucketed prefix-sum
    (ONE shared implementation, _with_cum); the per-group budgets are a
    tiny driver-derived table broadcast onto it — no extra shuffle
    beyond the fixed-budget sampler's.  Values are bit-identical to
    running sample_by_token_budget per group with the derived budgets
    (asserted in tests/test_sampling.py, with a pure-Python greedy
    prefix as the reference)."""
    budgets = derive_mixture_budgets(total_budget, proportions)
    if weight_col is None:
        docs = with_token_weights(docs, text_col)
        weight_col = "weight"
    out = _with_cum(docs, group_col, id_col, weight_col)
    bdf = out.sparkSession.createDataFrame(
        [(g, b) for g, b in sorted(budgets.items())],
        f"{group_col} string, budget long")
    return (out.join(F.broadcast(bdf), group_col, "left")
            .withColumn("budget", F.coalesce(F.col("budget"), F.lit(0))
                        .cast("long"))
            .withColumn("kept", (F.col("cum") - F.col(weight_col))
                        < F.col("budget"))
            .select(*out.columns, "budget", "kept"))


def sample_by_token_budget_window(docs: DataFrame, budget: int,
                                  group_col: str = "lang",
                                  text_col: str = "text",
                                  id_col: str = "doc_id",
                                  weight_col: str | None = None
                                  ) -> DataFrame:
    """The naive single-window form - the parity anchor the scalable
    three-stage implementation must equal bit for bit.  Do NOT use on a
    real crawl: the per-group window funnels a whole language through
    one task."""
    if weight_col is None:
        docs = with_token_weights(docs, text_col)
        weight_col = "weight"
    ordkey = F.md5(F.concat_ws(":", F.col(group_col), F.col(id_col)))
    w = (Window.partitionBy(group_col)
         .orderBy(ordkey, F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = docs.withColumn("cum", F.sum(weight_col).over(w).cast("long"))
    return out.withColumn(
        "kept", (F.col("cum") - F.col(weight_col)) < F.lit(budget))
