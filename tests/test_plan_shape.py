"""Physical-plan assertions: the things that matter at 100 TB.

- column pruning: the kernel never reads the (large, binary) `html`
  column even though the input table carries it;
- the geo gate runs inside the fused Arrow stage: no broadcast, no
  Generate and one MapInArrow below the first exchange;
- the flagship plan contains exactly one real exchange (the dedup
  aggregate) - no accidental extras, and no line-ordinal window;
- the line split has one rendering (the fused Arrow stage).
"""

from __future__ import annotations

import re

from ccspark import pipeline
from tests.fixtures import pages_spark


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_html_column_pruned(spark):
    pages = pages_spark(spark, "/root/testdata/sf0.001", materialize=True)
    assert "html" in pages.columns and "warc_ts" in pages.columns
    out = pipeline.corpus_lines(pages)
    plan = plan_of(out)
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    page_scans = [ln for ln in scans if "ccspark_pages" in ln]
    assert page_scans, plan
    for ln in page_scans:
        assert "html" not in ln, f"html not pruned: {ln}"
        assert "warc_ts" not in ln, f"warc_ts not pruned: {ln}"


def _below(plan: str, marker: str) -> list:
    """The lines of each subtree rooted at a node whose line contains
    *marker* (the node's line first)."""
    lines = plan.splitlines()
    out = []
    for i, ln in enumerate(lines):
        if marker not in ln:
            continue
        depth = len(ln) - len(ln.lstrip(" :+-"))
        sub = [ln]
        for nxt in lines[i + 1:]:
            if len(nxt) - len(nxt.lstrip(" :+-")) <= depth:
                break
            sub.append(nxt)
        out.append(sub)
    return out


def test_geo_gate_in_fused_stage(spark):
    """process_pages, build_training_corpus (with and without the domain
    gate) and cell_metrics plan no BroadcastExchange and no Generate: the
    geo gate runs in the one MapInArrow, and no exchange sits below it."""
    from ccspark.api import CCSparkCorpus
    pages = pages_spark(spark, "/root/testdata/sf0.001", materialize=True)
    cc = CCSparkCorpus(spark)
    for name, df in (
            ("process_pages", cc.process_pages(pages)),
            ("build_training_corpus", cc.build_training_corpus(pages)),
            ("domain gate", cc.build_training_corpus(
                pages, domain_min_keep=0.7)),
            ("cell_metrics", pipeline.cell_metrics(pages))):
        plan = plan_of(df)
        assert "BroadcastExchange" not in plan, (name, plan)
        assert not re.search(r"\bGenerate\b", plan), (name, plan)
        stages = _below(plan, "MapInArrow")
        assert len(stages) == 1, (name, plan)
        assert not any("Exchange" in ln for ln in stages[0]), (name, plan)
        assert re.search(r"Exchange hashpartitioning", plan), (name, plan)


def test_flagship_exchange_count(spark):
    pages = pages_spark(spark, "/root/testdata/sf0.001", materialize=True)
    plan = plan_of(pipeline.corpus_lines(pages))
    # broadcast exchanges are fine; count only shuffle exchanges.
    # Arrow (production) path: the in-stage line_id removed the
    # url-window shuffle entirely - ONE exchange (dedup) and no Window.
    shuffles = len(re.findall(r"Exchange (?:hash|range)partitioning", plan))
    assert shuffles == 1, f"unexpected shuffles ({shuffles}):\n{plan}"
    assert "Window" not in plan, plan


def test_cell_metrics_one_fused_stage(spark):
    """cell_metrics is one pass: one page scan, one MapInArrow (geo gate,
    split, kernel and per-page counts), no pandas UDF, no line-ordinal
    Window, no join and no Generate."""
    pages = pages_spark(spark, "/root/testdata/sf0.001", materialize=True)
    plan = plan_of(pipeline.cell_metrics(pages))
    assert len(re.findall(r"\bFileScan ", plan)) == 1, plan
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan and "Window" not in plan, plan
    assert "Join" not in plan and "Generate" not in plan, plan


def test_one_line_split_inventory():
    """The line split has one rendering: in ccspark, RE_LINE_SPLIT is
    referenced only in regexes.py (its definition) and inside
    pipeline.explode_clean_fused.  A second split rendering has to
    change this test on purpose."""
    import ast
    import pathlib
    pkg = pathlib.Path(__file__).resolve().parent.parent / "ccspark"
    fused = next(
        n for n in ast.walk(ast.parse((pkg / "pipeline.py").read_text()))
        if isinstance(n, ast.FunctionDef)
        and n.name == "explode_clean_fused")
    found = set()
    for path in sorted(pkg.rglob("*.py")):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if "RE_LINE_SPLIT" not in line:
                continue
            name = path.relative_to(pkg).as_posix()
            if name == "pipeline.py" and \
                    fused.lineno <= i <= fused.end_lineno:
                name = "pipeline.py::explode_clean_fused"
            found.add(name)
    assert found == {"regexes.py", "pipeline.py::explode_clean_fused"}


def test_composite_doc_gates_run_before_explode(spark):
    """The Gopher/C4 document gates must execute at-or-below the line
    blow-up in the physical plan (prune whole pages before the row
    explosion) - the property that makes the composite scan-bound at
    crawl scale.  The gates are FUSED INSIDE the single MapInArrow
    stage, so the plan has no line Generate and no separate full-text
    gate Filter at all."""
    from ccspark.api import CCSparkCorpus
    pages = pages_spark(spark, "/root/testdata/sf0.001", materialize=True)

    plan = plan_of(CCSparkCorpus(spark).build_training_corpus(pages))
    # the line explode must be fused inside the MapInArrow stage: no
    # posexplode Generate in the plan
    assert "MapInArrow" in plan and "posexplode" not in plan, plan
    assert "size(filter(" not in plan, plan     # gates fused, not staged
    assert len(re.findall(
        r"Exchange (?:hash|range)partitioning", plan)) <= 2


def test_keep_first_map_side_combining(spark):
    """r3 verdict item 4: dedup.dedup_keep_first - the one shared
    keep-first implementation, which api.finalize now rides - must be the
    map-side-combining aggregate (partial phase before the exchange), not
    a row_number window that shuffles every row."""
    from pyspark.sql import functions as F

    from ccspark import dedup
    df = spark.createDataFrame(
        [(f"u{i % 7}", f"t{i % 3}") for i in range(40)],
        "url string, text string")
    df = df.withColumn("_th", F.xxhash64("text"))
    out = dedup.dedup_keep_first(df, "_th", ("url",))
    plan = plan_of(out)
    assert "row_number" not in plan, plan
    assert "partial_min" in plan, plan
    assert re.search(r"Exchange hashpartitioning\(_th", plan), plan
    # semantics: one survivor per text-hash, the min-url one (every text
    # class co-occurs with u0 in this grid, so u0 wins each class)
    rows = {r._th: r.url for r in out.collect()}
    assert len(rows) == 3 and set(rows.values()) == {"u0"}


def test_finalize_dedup_is_aggregate(spark):
    """api.finalize end-to-end: the per-country cap is ONE row_number
    window whose partial WindowGroupLimit Spark runs below the exchange
    on country (the input has more rows than the cap), and the text
    dedup is aggregate-form with a map-side partial phase (no dedup
    window) - two exchanges in all."""
    from ccspark.api import CCSparkCorpus
    lid_pages = spark.createDataFrame(
        [(f"http://d{i}.de/p", "Germany", "europe", f"text {i % 5}")
         for i in range(400)],
        "url string, country string, region string, text string")
    out = CCSparkCorpus(spark).finalize(lid_pages)
    plan = plan_of(out)
    windows = [ln for ln in plan.splitlines()
               if re.search(r"\bWindow \[", ln)]
    assert len(windows) == 1, plan               # the cap only
    assert re.search(r"WindowGroupLimit \[country.*, 150, Partial", plan), \
        plan
    assert "partial_min" in plan, plan
    assert len(re.findall(r"\bExchange ", plan)) == 2, plan
    assert out.count() == 5


def test_domain_gate_judges_pages_once(spark):
    """The wholesale domain gate (build_training_corpus(domain_min_keep=
    ...)) judges each page once: the gated plan scans the pages parquet
    once, runs ONE MapInArrow stage (geo, gates, rollup verdicts and
    kernel), no ArrowEvalPython gate UDF and no Generate.
    The rollup's window adds exactly one exchange to the ungated
    composite's."""
    from ccspark.api import CCSparkCorpus
    pages = pages_spark(spark, "/root/testdata/sf0.001", materialize=True)
    cc = CCSparkCorpus(spark)
    plan = plan_of(cc.build_training_corpus(
        pages, domain_min_keep=0.7, scrub_pii=False))
    base = plan_of(cc.build_training_corpus(pages, scrub_pii=False))
    lines = plan.splitlines()
    scans = [ln for ln in lines
             if "FileScan parquet" in ln and "ccspark_pages" in ln]
    assert len(scans) == 1, plan
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan, plan
    n_gen = lambda p: len([ln for ln in p.splitlines()
                           if re.search(r"\bGenerate\b", ln)])
    assert n_gen(plan) == n_gen(base) == 0, (n_gen(plan), n_gen(base))
    # the gate itself must not shuffle more than once: the only exchange
    # it may add is the window's partitionBy(domain), on top of the
    # composite's own
    n_ex = lambda p: len([ln for ln in p.splitlines()
                          if re.search(r"\bExchange hashpartitioning", ln)])
    assert n_ex(plan) == n_ex(base) + 1, (n_ex(plan), n_ex(base))


def test_composite_scrub_fused_in_arrow_stage(spark):
    """The PII scrub runs inside the fused Arrow line stage: the scrubbed
    composite has one MapInArrow, no Python-UDF eval node, and the same
    shuffle count as scrub_pii=False - with and without the domain
    gate.  No placeholder literal reaches the physical plan (the chain
    is not rendered as Catalyst regexp_replace calls)."""
    from ccspark.api import CCSparkCorpus
    from ccspark.scrub import SCRUB_STEPS
    pages = pages_spark(spark, "/root/testdata/sf0.001", materialize=True)
    cc = CCSparkCorpus(spark)
    n_ex = lambda p: len(re.findall(r"\bExchange hashpartitioning", p))
    for dmk in (None, 0.7):
        plan = plan_of(cc.build_training_corpus(pages, domain_min_keep=dmk))
        base = plan_of(cc.build_training_corpus(
            pages, domain_min_keep=dmk, scrub_pii=False))
        assert plan.count("MapInArrow") == 1, plan
        assert "ArrowEvalPython" not in plan, plan
        assert "BatchEvalPython" not in plan, plan
        assert n_ex(plan) == n_ex(base), (n_ex(plan), n_ex(base))
        for _, _, placeholder in SCRUB_STEPS:
            assert placeholder not in plan, (placeholder, plan)


def test_hof_lambdas_reference_bound_columns(spark):
    """Guard for the r4 HOF finding: higher-order functions run
    interpreted, so an expression inlined in the lambda BODY re-evaluates
    per array element (split-in-shingle-lambda was a measured 3.6x).  The
    fix binds the array to a projection column below the Generate; this
    asserts the optimizer did not collapse it back INTO the generator -
    every Generate node's lambda must reference an attribute, never a
    fresh split()/lower() call."""
    from pyspark.sql import Row

    from ccspark import dedup, lid
    docs = spark.createDataFrame(
        [Row(doc_id=0, lang="en",
             text="alpha bravo charlie delta echo foxtrot golf hotel")])

    def generate_lines(df):
        return [ln for ln in plan_of(df).splitlines()
                if "Generate" in ln and "lambdafunction" in ln]

    df = dedup.shingle_hashes(docs)
    lines = generate_lines(df)
    assert lines, plan_of(df)
    for ln in lines:
        assert "split(" not in ln, ln

    # the query lid.train collects: one scan of the docs, one lower(),
    # bound below the Generate, and no inferred size() > 0 filter (which
    # would evaluate the transform a second time)
    plan = plan_of(lid._vocab_query(docs, 3, "text", "lang", 10))
    assert plan.count("Scan ExistingRDD") == 1, plan
    assert plan.count("lower(") == 1, plan
    lines = [ln for ln in plan.splitlines()
             if "Generate" in ln and "lambdafunction" in ln]
    assert lines, plan
    for ln in lines:
        assert "lower(" not in ln, ln
    assert "size(" not in plan, plan


def test_word_hash_kgrams_single_evaluation(spark):
    """Guard for the r4 InferFiltersFromGenerate finding: projecting the
    composite gram-hash array to a column before exploding it lets the
    optimizer infer a size(col) > 0 filter on the bare attribute, and
    predicate pushdown then re-inlines the WHOLE chain through the
    projection - every word hashed and zip_with-folded twice (measured
    2.7x at sf1).  The xxhash64 near-dup family therefore places the
    gram expression directly in the generator position; this asserts the
    zip_with fold appears exactly ONCE in each executed plan."""
    import re

    from pyspark.sql import Row

    from ccspark import dedup
    docs = spark.createDataFrame(
        [Row(doc_id=0,
             text="alpha bravo charlie delta echo foxtrot golf hotel")])
    def folds(df):
        # innermost fold step: zip_with applied to two slice() args
        return len(re.findall(r"zip_with\(slice\(", plan_of(df)))

    # single-branch plans: the fold must appear EXACTLY once
    assert folds(dedup.shingle_hashes(docs)) == 1
    assert folds(dedup.minhash_signature_table(docs)) == 1
    # the pair query legitimately re-derives the signature subtree once
    # per join side (4 sides; uncached by design) - but never more
    assert folds(dedup.minhash_near_dups(docs)) <= 4
