"""Benchmark decontamination (ccspark.decontam).

Covers: planted contamination on a crafted corpus (including a verbatim
copy and a case/punctuation-mangled copy that normalization must still
catch), the sub-n-word degenerate path, multi-gram benchmark texts,
the filtering form, module == pure-Python overlap (tests/oracle.py) on
the documents fixture, and the corpus-shuffle-free plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ccspark import decontam
from tests import oracle

SF_DIR = "/root/testdata/sf0.01"
DECON_N = 13
DECON_CHAR_N = 20

# 16 distinct words: every 13-gram of this text is unique to it
_EVAL = ("alpha bravo charlie delta echo foxtrot golf hotel india "
         "juliett kilo lima mike november oscar papa")


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        # 0: contains the eval span verbatim (plus padding words)
        (0, "intro words here " + _EVAL + " trailing words"),
        # 1: clean - same vocabulary but a different word ORDER, so no
        # 13-gram can line up
        (1, " ".join(reversed(_EVAL.split())) + " extra tail padding"),
        # 2: the eval span again, but uppercased and punctuation-riddled:
        # normalization must still catch it
        (2, "Alpha, BRAVO; charlie! delta...echo foxtrot? (golf) hotel "
            "india: juliett kilo lima MIKE november oscar papa."),
        # 3: too short for any 13-gram
        (3, "only five little words here"),
        # 4: shares 12 words of the span then diverges - one word short
        # of a hit, must stay clean
        (4, " ".join(_EVAL.split()[:12]) + " zulu yankee xray whiskey "
            "victor uniform tango sierra quebec"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def bench(spark):
    # one multi-gram benchmark text (16 words -> four 13-grams) plus a
    # prompt matching nothing
    return spark.createDataFrame(
        [(_EVAL,), ("totally unrelated benchmark prompt text nothing "
                    "shared with any document at all here now",)],
        "text string")


def test_planted_contamination(corpus, bench):
    got = {r["doc_id"]: (r["contaminated"], r["n_hits"])
           for r in decontam.decontaminate(corpus, bench).collect()}
    assert got[0] == (True, 4)    # full span present -> all 4 bench grams
    assert got[2] == (True, 4)    # normalization recovers the same grams
    assert got[1] == (False, 0)
    assert got[3] == (False, 0)
    assert got[4] == (False, 0)   # 12-word overlap is not a 13-gram


def test_remove_contaminated(corpus, bench):
    kept = decontam.remove_contaminated(corpus, bench)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3, 4]
    assert kept.columns == corpus.columns


def test_short_benchmark_text_yields_no_grams(spark, corpus):
    b = spark.createDataFrame([("alpha bravo charlie",)], "text string")
    out = decontam.decontaminate(corpus, b)
    assert out.where("contaminated").count() == 0


def test_gram_array_degenerate(spark):
    n_words = len(_EVAL.split())
    df = spark.createDataFrame([(_EVAL,), ("two words",), ("",)],
                               "text string")
    words = F.expr(decontam.norm_words("text"))
    grams = df.select(F.expr(
        f"size({decontam.gram_array(decontam.norm_words('text'), DECON_N)})"
    ).alias("n"))
    assert [r["n"] for r in grams.collect()] == [n_words - DECON_N + 1, 0, 0]
    assert df.select(words).first()[0][:2] == ["alpha", "bravo"]


def _fixture_benchmarks(docs):
    """Benchmark texts planted from the fixture itself: every 29th doc
    with >= 16 normalized words gives its words 4..16 as one 13-word
    prompt, every 31st doc with >= 27 normalized chars gives chars 8..27
    as one 20-char prompt - those docs (and any doc sharing the span)
    are contaminated by construction - plus one control prompt per
    branch that can never match."""
    word = {" ".join(f"zzdecon{i}" for i in range(DECON_N))}
    char = {"zqxjv" * 4}
    for doc_id, text in docs:
        w = oracle.norm_words(text)
        if doc_id % 29 == 0 and len(w) >= DECON_N + 3:
            word.add(" ".join(w[3:3 + DECON_N]))
        cs = oracle.char_stream(text)
        if doc_id % 31 == 0 and len(cs) >= 7 + DECON_CHAR_N:
            char.add(cs[7:7 + DECON_CHAR_N])
    return sorted(word), sorted(char)


def test_module_matches_sql_template(spark):
    """Both production xxhash64 broadcast paths (word + char branch)
    must equal the pure-Python string-overlap count (tests/oracle.py)
    on the documents fixture."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    word_bench, char_bench = _fixture_benchmarks(rows)
    word = decontam.decontaminate(
        docs, spark.createDataFrame([(t,) for t in word_bench], "text string"))
    chars = decontam.decontaminate_chars(
        docs, spark.createDataFrame([(t,) for t in char_bench], "text string"),
        n=DECON_CHAR_N)
    mod_out = {("word", r["doc_id"]): (r["contaminated"], r["n_hits"])
               for r in word.collect()}
    mod_out.update({("char", r["doc_id"]): (r["contaminated"],
                                            r["n_char_hits"])
                    for r in chars.collect()})
    bench_w = [g for t in word_bench
               for g in oracle.word_grams(oracle.norm_words(t), DECON_N)]
    bench_c = [g for t in char_bench
               for g in oracle.char_grams(oracle.char_stream(t), DECON_CHAR_N)]
    want = {}
    for doc_id, text in rows:
        nw = oracle.overlap_hits(
            oracle.word_grams(oracle.norm_words(text), DECON_N), bench_w)
        nc = oracle.overlap_hits(
            oracle.char_grams(oracle.char_stream(text), DECON_CHAR_N), bench_c)
        want["word", doc_id] = (nw > 0, nw)
        want["char", doc_id] = (nc > 0, nc)
    assert mod_out == want
    # both branches really plant hits AND leave clean docs (vacuity rule)
    for tag in ("word", "char"):
        verdicts = {v[0] for (t, _), v in mod_out.items() if t == tag}
        assert verdicts == {True, False}, tag


def test_plan_is_corpus_shuffle_free(corpus, bench):
    """Both joins broadcast; the only exchanges aggregate MATCHED rows
    (tiny by construction), never the corpus or its exploded grams."""
    plan = decontam.decontaminate(
        corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    # corpus scan -> gram projection -> explode must reach the broadcast
    # join without an Exchange: every hashpartitioning exchange in the
    # plan belongs to the post-join hit aggregation
    import re
    for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "gh" in ex or "doc_id" in ex


# -- char-n-gram branch (space-free scripts) --------------------------------

# a 30-char Chinese "benchmark passage" (every char distinct-ish) plus
# unrelated CJK and Latin material
_ZH_EVAL = "春江潮水连海平海上明月共潮生滟滟随波千万里何处春江无月明"
_JA_EVAL = "吾輩は猫である名前はまだ無い どこで生れたかとんと見当がつかぬ"


def test_word_grams_blind_to_cjk_char_grams_catch(spark):
    """The documented CJK gap, now closed: a zh/ja doc containing a
    benchmark passage verbatim produces NO normalized word 13-grams
    (space-free text collapses to one token), so the word operator
    misses it - decontaminate_chars catches both, leaves clean CJK and
    Latin docs alone, and the combined decontaminate(char_n=...) flags
    word-hits and char-hits together."""
    docs = spark.createDataFrame([
        (0, "前置きの文章 " + _ZH_EVAL + " 後書きの文章"),   # planted zh
        (1, _JA_EVAL + " 追加のテキストがここにあります"),    # planted ja
        (2, "全く関係のない中国語や日本語のテキストです漢字仮名交じり文"),
        (3, "a clean latin document with plenty of words to spare here"),
    ], "doc_id long, text string")
    bench = spark.createDataFrame([(_ZH_EVAL,), (_JA_EVAL,)],
                                  "text string")
    # word operator: blind to all of it (no 13 space-separated tokens)
    w = {r["doc_id"]: r["contaminated"]
         for r in decontam.decontaminate(docs, bench).collect()}
    assert w == {0: False, 1: False, 2: False, 3: False}
    # char operator: catches exactly the planted docs
    c = {r["doc_id"]: (r["contaminated"], r["n_char_hits"] > 0)
         for r in decontam.decontaminate_chars(docs, bench).collect()}
    assert {k: v[0] for k, v in c.items()} == {0: True, 1: True,
                                               2: False, 3: False}
    # combined form: contaminated = word OR char, filtering form drops
    # the planted docs only
    both = {r["doc_id"]: r["contaminated"]
            for r in decontam.decontaminate(
                docs, bench, char_n=20).collect()}
    assert both == {0: True, 1: True, 2: False, 3: False}
    kept = decontam.remove_contaminated(docs, bench, char_n=20)
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 3]
    assert kept.columns == docs.columns


def test_char_gram_normalization_mangling(spark):
    """Punctuation/case mangling must not hide a char-gram overlap: the
    normalized char stream strips non-alphanumerics entirely, so a
    passage chopped by punctuation still lines up."""
    mangled = "春江潮水、连海平！海上明月…共潮生（滟滟随波）千万里,何处春江无月明"
    docs = spark.createDataFrame([(0, mangled), (1, "別の綺麗な文書です")],
                                 "doc_id long, text string")
    bench = spark.createDataFrame([(_ZH_EVAL,)], "text string")
    got = {r["doc_id"]: r["contaminated"]
           for r in decontam.decontaminate_chars(docs, bench).collect()}
    assert got == {0: True, 1: False}


def test_char_gram_array_degenerate(spark):
    """Streams shorter than n chars yield an empty gram set; exactly n
    chars yield one gram (length/substring count code points, asserted
    on multibyte text)."""
    df = spark.createDataFrame(
        [(_ZH_EVAL,), ("短い",), ("",), ("0123456789abcdefghij",)],
        "text string")
    n_stream = len(_ZH_EVAL.replace(" ", ""))
    got = [r["n"] for r in df.select(F.expr(
        f"size({decontam.char_gram_array(decontam.char_stream('text'), 20)})"
    ).alias("n")).collect()]
    assert got == [n_stream - 20 + 1, 0, 0, 1]


def test_char_plan_is_corpus_shuffle_free(spark):
    """The char branch rides the same broadcast skeleton: both joins
    broadcast, no SortMergeJoin, exchanges only on matched-row aggs."""
    import re
    docs = spark.createDataFrame([(0, _ZH_EVAL)], "doc_id long, text string")
    bench = spark.createDataFrame([(_ZH_EVAL,)], "text string")
    plan = decontam.decontaminate_chars(
        docs, bench)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "gh" in ex or "doc_id" in ex


def test_combined_plan_runs_word_grams_once(spark):
    """decontaminate(char_n=...) must explode the corpus exactly twice
    (word grams + char grams), with the char explode deriving from the
    ORIGINAL docs: deriving it from the word-joined spine would drag a
    third join (the word-hit rejoin) into the char branch's lineage -
    Spark has no join elimination - and re-run the word subtree there."""
    docs = spark.createDataFrame(
        [(0, "intro " + _EVAL + " outro"), (1, _ZH_EVAL)],
        "doc_id long, text string")
    bench = spark.createDataFrame([(_EVAL,), (_ZH_EVAL,)], "text string")
    plan = decontam.decontaminate(
        docs, bench, char_n=20)._jdf.queryExecution() \
        .executedPlan().toString()
    # 4 explodes exactly: corpus word grams, corpus char grams, and the
    # two benchmark gram-set builds - a 5th would be the corpus word
    # explode re-run inside the char branch
    assert plan.count("Generate explode") == 4, plan
    # 4 broadcast joins exactly: word-bench, char-bench, and the two
    # hit-count rejoins - a 5th would be the word rejoin re-executed
    # inside the char branch
    assert plan.count("BroadcastHashJoin") == 4, plan


def test_char_grams_supplementary_plane(spark):
    """CJK Extension B+ ideographs (U+20000+) ARE \\p{L}: they survive
    normalization and must occupy exactly ONE code-point position.
    Asserts stream length and the full gram array against values
    computed in Python."""
    ext_b = "".join(chr(0x20000 + i) for i in range(12))   # 𠀀𠀁...
    texts = [
        ext_b + "春江潮水连海平海上明月共潮生",        # astral + BMP mix
        "abc " + ext_b + " xyz0123456789",               # astral + ascii
        ext_b,                                            # astral only
    ]
    n = 8
    sdf = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
    sdf.createOrReplaceTempView("sp_in")
    stream = decontam.char_stream("t")
    got = {r[0]: (r[1], r[2]) for r in spark.sql(
        f"SELECT i, length({stream}), "
        f"concat_ws('|', {decontam.char_gram_array(stream, n)}) "
        f"FROM sp_in").collect()}
    streams = [ext_b + "春江潮水连海平海上明月共潮生",
               "abc" + ext_b + "xyz0123456789", ext_b]
    assert [oracle.char_stream(t) for t in texts] == streams
    for i, cs in enumerate(streams):
        grams = [cs[j:j + n] for j in range(len(cs) - n + 1)]
        assert got[i] == (len(cs), "|".join(grams)), i
    # the astral-only stream really does produce grams (12 chars, n=8)
    assert got[2][1].count("|") == 12 - n  # 5 grams -> 4 separators
