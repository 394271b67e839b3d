"""Deterministic token-budget sampling (ccspark.sampling)."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from ccspark import sampling
from tests import oracle


def _docs(spark):
    rows = []
    i = 0
    for lang, n in (("en", 12), ("de", 8), ("zh", 1)):
        for _ in range(n):
            rows.append(Row(doc_id=i, lang=lang,
                            text=" ".join(f"w{j}" for j in range(25))))
            i += 1
    return spark.createDataFrame(rows)


def test_budget_prefix_semantics(spark):
    docs = _docs(spark)
    out = sampling.sample_by_token_budget(docs, budget=100).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        kept = [r for r in rs if r.kept]
        # every non-empty group keeps at least one doc
        assert kept, lang
        # greedy prefix: kept docs are exactly those whose cum-before
        # is under budget; overshoot bounded by one document
        for r in rs:
            assert r.kept == (r.cum - r.weight < 100)
        assert max(r.cum for r in kept) < 100 + 25 + 1
    # 25-token docs, budget 100 -> exactly 4 kept where group size allows
    assert len([r for r in by_lang["en"] if r.kept]) == 4
    assert len([r for r in by_lang["zh"] if r.kept]) == 1


def test_budget_sampling_deterministic(spark):
    docs = _docs(spark)
    a = {(r.doc_id, r.kept, r.cum) for r in
         sampling.sample_by_token_budget(docs, 100).collect()}
    b = {(r.doc_id, r.kept, r.cum) for r in
         sampling.sample_by_token_budget(docs.repartition(13), 100)
         .collect()}
    assert a == b


def test_budget_weight_override(spark):
    docs = _docs(spark).withColumn("w2", F.lit(60).cast("long"))
    out = sampling.sample_by_token_budget(docs, 100, weight_col="w2")
    for lang, n in (("en", 2), ("de", 2), ("zh", 1)):
        # 60-token weights: cum-before of doc 2 is 60 < 100, doc 3 is
        # 120 >= 100 -> exactly two kept per group (capped by group size)
        assert out.where((F.col("lang") == lang) & F.col("kept")) \
                  .count() == n


def test_three_stage_equals_naive_window(spark):
    """The scalable bucketed prefix-sum must equal the naive per-group
    window BIT FOR BIT - same cum, same kept - on a corpus large enough
    that every md5 bucket boundary is exercised."""
    rows = [Row(doc_id=i, lang=("en", "de", "zh")[i % 3],
                text=" ".join(f"w{j}" for j in range(5 + i % 37)))
            for i in range(2000)]
    docs = spark.createDataFrame(rows)
    a = {r.doc_id: (r.cum, r.kept) for r in
         sampling.sample_by_token_budget(docs, 3000).collect()}
    b = {r.doc_id: (r.cum, r.kept) for r in
         sampling.sample_by_token_budget_window(docs, 3000).collect()}
    assert a == b


def test_three_stage_plan_shape(spark):
    """The window partitions on (group, bucket) - never on the group
    alone - and the offsets rejoin is broadcast."""
    docs = _docs(spark)
    plan = sampling.sample_by_token_budget(
        docs, 100)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    import re
    windows = [ln for ln in plan.splitlines() if "Window" in ln
               and "windowspecdefinition" in ln]
    # the big-data window (the one ordered by the md5 key) must be
    # partitioned by (group, bucket), never the group alone
    big = [ln for ln in windows if "_ord" in ln]
    assert big and all("_bkt" in ln.split("windowspecdefinition")[1]
                       .split("ASC")[0] for ln in big), plan


# sf0.01 fixture budgets: per-lang token totals are ~4-5k, so a 1000-token
# budget both keeps and prunes; the mixture's en/de/fr quotas
# (3000/1200/1800) sit below those totals and es/zh get none
TOKEN_BUDGET = 1000
MIXTURE_TOTAL = 6000
MIXTURE_PROPS = {"en": 0.5, "de": 0.2, "fr": 0.3}


def _fixture_docs(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    rows = [(r.doc_id, r.lang, r.text)
            for r in docs.select("doc_id", "lang", "text").collect()]
    return docs, rows


def test_module_matches_sql_template(spark):
    """Production budget sampler == the pure-Python greedy-prefix
    restatement (tests/oracle.py) on the documents fixture."""
    docs, rows = _fixture_docs(spark)
    mod = sampling.sample_by_token_budget(docs, TOKEN_BUDGET)
    mod_rows = {r.doc_id: (r.weight, r.cum, r.kept)
                for r in mod.collect()}
    assert mod_rows == oracle.token_budget(rows, TOKEN_BUDGET)
    # the budget really bites on the fixture: both kept and pruned exist
    assert {v[2] for v in mod_rows.values()} == {True, False}


def test_mixture_budget_derivation():
    import pytest
    b = sampling.derive_mixture_budgets(6000, {"en": .5, "de": .2,
                                               "fr": .3})
    assert b == {"en": 3000, "de": 1200, "fr": 1800}
    # normalization: weights need not sum to 1
    assert sampling.derive_mixture_budgets(900, {"a": 2, "b": 1}) == \
        {"a": 600, "b": 300}
    for bad in ({}, {"a": -0.1, "b": 1.1}, {"a": 0.0}):
        with pytest.raises(ValueError):
            sampling.derive_mixture_budgets(100, bad)


def test_mixture_equals_per_group_budget_sampler(spark):
    """sample_by_mixture == sample_by_token_budget run per group with
    the derived budgets, bit for bit; absent groups keep nothing."""
    docs = _docs(spark)   # en x12, de x8, zh x1; 25 tokens each
    props = {"en": 0.6, "de": 0.4}   # zh absent -> budget 0
    out = sampling.sample_by_mixture(docs, 250, props).collect()
    budgets = sampling.derive_mixture_budgets(250, props)
    for lang, bud in budgets.items():
        ref = {(r.doc_id, r.cum, r.kept) for r in
               sampling.sample_by_token_budget(
                   docs.where(F.col("lang") == lang), bud).collect()}
        got = {(r.doc_id, r.cum, r.kept) for r in out
               if r.lang == lang}
        assert got == ref, lang
        assert all(r.budget == bud for r in out if r.lang == lang)
    zh = [r for r in out if r.lang == "zh"]
    assert zh and all(r.budget == 0 and not r.kept for r in zh)
    # the mix really bites: kept and pruned both present in each named
    # group (150/100 token budgets vs 300/200 group totals)
    for lang in props:
        flags = {r.kept for r in out if r.lang == lang}
        assert flags == {True, False}, lang


def test_mixture_module_matches_sql_template(spark):
    """Production sample_by_mixture == the oracle greedy prefix under
    per-lang quotas floor(total * p / sum(p)), 0 for unnamed langs."""
    docs, rows = _fixture_docs(spark)
    out = sampling.sample_by_mixture(docs, MIXTURE_TOTAL,
                                     MIXTURE_PROPS).collect()
    quotas = {"en": 3000, "de": 1200, "fr": 1800}
    assert {r.doc_id: (r.weight, r.cum, r.kept) for r in out} == \
        oracle.token_budget(rows, quotas)
    # vacuity: some lang gets no quota; every named lang keeps AND prunes
    assert {r.budget for r in out if r.lang not in quotas} == {0}
    for lang, quota in quotas.items():
        assert {r.budget for r in out if r.lang == lang} == {quota}
        assert {r.kept for r in out if r.lang == lang} == {True, False}, lang
