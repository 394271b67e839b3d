"""M1/M2 LID verification.

Independent checks:

  * a held-out accuracy floor on genuinely multilingual synthetic docs
    (the documents fixture has decorative lang labels - every
    lang draws from the same English word distribution, so accuracy
    there is pinned at the prior and says nothing about the model);
  * the facade's dual-model agreement (lid_pass): exactly the pages
    both models label with the expected lang, the min_len gate drops
    short pages, a half-specified agreement raises;
  * the fastText seam: a fake fasttext module shipped via addPyFile
    serves through the same broadcast + Iterator-UDF path with zero
    pipeline changes;
  * parity with the pure-Python reference in tests/oracle.py: the
    trained model equals ``oracle.nb_train``'s dict for dict, and the
    batch scorer's labels and score vectors equal the per-row loop's bit
    for bit;
  * training reads its docs once and runs a bounded number of Spark
    jobs.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from ccspark import lid
from tests import oracle

WORDS = {
    "eng": ("the quick brown fox jumps over lazy dog with from this that "
            "house water light people through world because should").split(),
    "deu": ("der die das und ist nicht ein eine mit von haus wasser licht "
            "leute durch welt weil sollte schnell braun fuchs über").split(),
    "spa": ("el la los que de en un una con por casa agua luz gente "
            "mundo porque rápido zorro sobre perro salta desde").split(),
    "fra": ("le la les que de en un une avec par maison eau lumière gens "
            "monde parce rapide renard sur chien saute depuis").split(),
}


def synth_docs(spark, per_lang=60, words_per_doc=30, seed=11):
    rng = random.Random(seed)
    rows = []
    i = 0
    for lang, vocab in WORDS.items():
        for _ in range(per_lang):
            rows.append(Row(doc_id=i, lang=lang,
                            text=" ".join(rng.choices(vocab,
                                                      k=words_per_doc))))
            i += 1
    return spark.createDataFrame(rows)


def test_heldout_accuracy_floor(spark):
    docs = synth_docs(spark)
    train_d = docs.where("doc_id % 5 != 0")
    test_d = docs.where("doc_id % 5 = 0")
    model = lid.train(train_d, n=3, top_k=2000)
    got = lid.predict(spark, test_d, model).collect()
    acc = sum(r.lang_pred == r.lang for r in got) / len(got)
    assert acc >= 0.95, acc


def _page_lines(rows):
    """corpus_lines rows for CCSparkCorpus.lid_pass: each doc is one page
    whose words split over two lines (one line under 21 words)."""
    out = []
    for r in rows:
        words = r.text.split(" ")
        for line_id, part in enumerate((words[:20], words[20:])):
            if part:
                out.append(Row(url=f"https://p{r.doc_id}.de/",
                               domain=f"p{r.doc_id}", country="Germany",
                               region="europe_west", line_id=line_id,
                               text=" ".join(part), lang=r.lang))
    return out


def _agreement_run(spark, extra_rows):
    """lid_pass with dual-model agreement on synth_docs plus
    *extra_rows*, the models trained on the docs alone; returns the kept
    rows and the urls the oracle's two models both label as the page's
    lang (min_len 150)."""
    from ccspark.api import CCSparkCorpus
    docs = synth_docs(spark, per_lang=30, words_per_doc=40)
    m2 = lid.train(docs, n=2, top_k=800)
    m3 = lid.train(docs, n=3, top_k=2000)
    doc_rows = docs.collect()
    train_rows = [(r.text, r.lang) for r in doc_rows]
    o2 = oracle.nb_train(train_rows, n=2, top_k=800)
    o3 = oracle.nb_train(train_rows, n=3, top_k=2000)
    line_rows = _page_lines(doc_rows + extra_rows)
    kept = CCSparkCorpus(spark).lid_pass(
        spark.createDataFrame(line_rows), m2, second_model=m3,
        expected_col="lang", min_len=150).collect()
    pages = {}
    for r in line_rows:               # in line_id order
        pages.setdefault((r.url, r.lang), []).append(r.text)
    want = {url for (url, lang), lines in pages.items()
            if oracle.nb_predict(o2, "\n".join(lines), 150) == lang
            and oracle.nb_predict(o3, "\n".join(lines), 150) == lang}
    return kept, want


def test_agreement_filter_invariants(spark):
    """The facade's M2 path: the output is exactly the pages both models
    label with the page's expected lang (the conjunction, checked
    against tests/oracle.py), and a page of at most min_len chars
    scores 'ukn' and is dropped."""
    short = Row(doc_id=10_000, lang="eng", text="too short")
    kept, want = _agreement_run(spark, [short])
    assert kept
    for r in kept:
        assert r.language == r.lang and r.language2 == r.lang
        assert len(r.text) > 150          # the 'ukn' gate
    assert all(r.url != "https://p10000.de/" for r in kept)
    assert {r.url for r in kept} == want


def test_lid_pass_rejects_half_agreement(spark):
    """second_model without expected_col, or expected_col without
    second_model, raises ValueError before any Spark job runs."""
    from ccspark.api import CCSparkCorpus
    model = lid.train(synth_docs(spark, per_lang=5), n=2, top_k=100)
    lines = spark.createDataFrame(_page_lines(
        [Row(doc_id=0, lang="eng", text=" ".join(WORDS["eng"]))]))
    cc = CCSparkCorpus(spark)
    sc = spark.sparkContext
    group = "test_lid_pass_rejects_half_agreement"
    sc.setJobGroup(group, "lid_pass")
    try:
        for kw in ({"second_model": model}, {"expected_col": "lang"}):
            with pytest.raises(ValueError, match="second_model and "
                                                 "expected_col"):
                cc.lid_pass(lines, model, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


FAKE_FASTTEXT = '''
class _Model:
    def predict(self, text, k=1):
        lang = "en" if " the " in (" " + text + " ") else "xx"
        return ([f"__label__{lang}"], [0.9])

def load_model(path):
    return _Model()
'''


def test_fasttext_seam_serves_through_udf(spark, tmp_path):
    """FastTextLidModel must flow through broadcast + Iterator-UDF
    serving unchanged: only the path pickles, workers lazy-load."""
    mod = tmp_path / "fasttext.py"
    mod.write_text(FAKE_FASTTEXT)
    spark.sparkContext.addPyFile(str(mod))
    model = lid.load_model("fasttext:/nonexistent/lid.176.bin")
    docs = spark.createDataFrame([
        Row(doc_id=0, text="this is the english sentence for the test"),
        Row(doc_id=1, text="ceci nest pas anglais du tout vraiment"),
        Row(doc_id=2, text=""),
    ])
    got = {r.doc_id: r.lang_pred
           for r in lid.predict(spark, docs, model).collect()}
    assert got == {0: "en", 1: "xx", 2: "ukn"}
    # pickling ships only the path, never a loaded model
    import pickle
    state = pickle.loads(pickle.dumps(model))
    assert state._m is None and state.path == "/nonexistent/lid.176.bin"


def test_load_model_spec_errors():
    with pytest.raises(ValueError, match="needs training docs"):
        lid.load_model("ngram")
    with pytest.raises(ValueError, match="unknown LID model"):
        lid.load_model("cld3")


# CJK text with supplementary-plane ideographs (U+20000...) and emoji
CJK = ("\u4e2d\u6587\u7f51\u9875\u7684\u8bed\u8a00\u8bc6\u522b"
       "\u6d4b\u8bd5\U00020000\U00020001\U0002000b\U0001F600")

# words whose lowercasing is more than a per-character table lookup, or
# lies outside the BMP; Spark's lower() and Python's str.lower() agree on
# every one of them
CASED = {
    # 'İ' lowercases to two characters (i + U+0307)
    "tur": "İstanbul İzmir İYİ ılık ışık".split(),
    # 'Σ' lowercases to 'ς' at the end of a word, to 'σ' elsewhere
    "ell": "ΟΔΟΣ ΣΟΦΙΑΣ ΛΟΓΟΣ ΚΑΙ Σ".split(),
    # 'ẞ' lowercases to 'ß'; 'ǅ' is titlecase, between 'Ǆ' and 'ǆ'
    "hrv": "Straße GROẞ ǅamija Ǆep ǆak".split(),
    # Georgian Mtavruli lowercases to Mkhedruli
    "kat": "ᲡᲐᲥᲐᲠᲗᲕᲔᲚᲝ ᲗᲑᲘᲚᲘᲡᲘ ᲛᲗᲐ".split(),
    # Deseret and Adlam capitals (supplementary plane)
    "dsr": "\U00010400\U00010401\U00010402 \U0001E900\U0001E901 "
           "\U00010410\U00010411".split(),
}


def parity_corpus(seed: int):
    """(training docs, texts to score): the word lists plus CJK text,
    the CASED words, capitalised words, supplementary-plane characters,
    texts shorter than n, "" and None."""
    rng = random.Random(seed)
    langs = dict(WORDS, zho=list(CJK), **CASED)
    docs = []
    for lang, words in sorted(langs.items()):
        sep = "" if lang == "zho" else " "
        for _ in range(12):
            ws = rng.choices(words, k=rng.randint(3, 25))
            ws[0] = ws[0].capitalize()
            docs.append((sep.join(ws), lang))
    docs += [("", "eng"), (None, "deu"), ("a", "spa"), ("\U0001F600", "zho")]
    texts = [t for t, _ in docs[::3]]
    texts += ["İstanbul über alles", "İİİ", "ΟΔΟΣ ΣΟΦΙΑΣ", "GROẞE Straße",
              "ǅamija ᲡᲐᲥᲐᲠᲗᲕᲔᲚᲝ", "\U00010400\U00010428 x", "", None,
              "x", "ab", "\U00020000", "\U0001F600\U0001F600 la maison",
              "Qqqq zzzz", "exactly9!"]
    return docs, texts


def assert_matches_oracle(spark, docs, texts, n, top_k):
    """Train on *docs*; the model must equal ``oracle.nb_train``'s dict
    for dict, and score *texts* as the per-row loop does, in the driver
    and through the served UDF.  Returns the model."""
    model = lid.train(spark.createDataFrame(docs, "text string, lang string"),
                      n=n, top_k=top_k)
    ref = oracle.nb_train(docs, n=n, top_k=top_k)
    assert model.n == ref.n
    assert model.priors == ref.priors
    assert model.vocab == ref.vocab
    assert model.loglik == ref.loglik
    assert model.alpha_denom == ref.alpha_denom

    langs = sorted(ref.priors)
    for min_len in (0, 9):
        assert model.predict_batch(texts, min_len) == \
            [oracle.nb_predict(ref, t, min_len) for t in texts]
    for t in texts:
        if t is not None:
            want = oracle.nb_scores(ref, t)
            assert model.scores(t).tobytes() == \
                np.array([want[lg] for lg in langs]).tobytes(), t
    # the served path gives the same labels
    rows = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 "doc_id int, text string")
    got = {r.doc_id: r.lang_pred
           for r in lid.predict(spark, rows, model, min_len=9).collect()}
    assert got == {i: oracle.nb_predict(ref, t, 9)
                   for i, t in enumerate(texts)}
    return model


@pytest.mark.parametrize("n,top_k", [(1, 60), (2, 150), (3, 400)])
def test_train_and_predict_match_oracle(spark, n, top_k):
    docs, texts = parity_corpus(seed=40 + n)
    model = assert_matches_oracle(spark, docs, texts, n, top_k)
    assert len(model.vocab) == top_k          # the cut is exercised


def test_top_k_cut_inside_a_tie_matches_oracle(spark):
    """The grams " c", "cd" and "d " all count 1 and the cut falls among
    them: the lowest gram wins, in Spark's order as in the oracle's."""
    docs = [("ab", "x"), ("ab", "x"), ("cd", "y")]
    model = assert_matches_oracle(spark, docs, ["abcd", "dc", "a"], 2, 4)
    assert model.vocab == {" a", "ab", "b ", " c"}


def test_label_with_only_null_text_matches_oracle(spark):
    docs, texts = parity_corpus(seed=7)
    docs += [(None, "kor"), (None, "kor")]
    model = assert_matches_oracle(spark, docs, texts, 3, 300)
    v = len(model.vocab)
    assert model.alpha_denom["kor"] == math.log(1.0 / (v + 1))


def test_top_k_above_vocab_size_matches_oracle(spark):
    docs, texts = parity_corpus(seed=8)
    model = assert_matches_oracle(spark, docs, texts, 2, 100_000)
    assert 0 < len(model.vocab) < 100_000


def test_null_labels_are_skipped(spark):
    """A doc with a NULL label trains nothing, so the model has no None
    language for the scorer to sort next to the real ones."""
    docs, texts = parity_corpus(seed=9)
    docs += [("the house of the lazy dog", None), (None, None)]
    model = assert_matches_oracle(spark, docs, texts, 3, 300)
    assert None not in model.priors


@pytest.mark.parametrize("docs", [[], [("the lazy dog", None), (None, None)]],
                         ids=["empty", "only_null_labels"])
def test_no_labelled_doc_raises(spark, docs):
    """Without a labelled doc there is no language to predict; training
    says so instead of returning a model whose scorer fails later."""
    df = spark.createDataFrame(docs, "text string, lang string")
    with pytest.raises(ValueError, match="label"):
        lid.train(df)


def test_tie_goes_to_lower_label(spark):
    docs = [("zebra zone", "zzz"), ("mellow moon", "mmm")]
    model = lid.train(spark.createDataFrame(docs, "text string, lang string"),
                      n=3, top_k=100)
    assert model.priors["zzz"] == model.priors["mmm"]
    text = "quick fix"                      # no vocabulary gram
    assert not set(oracle.nb_grams(text, 3)) & model.vocab
    assert model.predict(text) == "mmm"
    assert oracle.nb_predict(oracle.nb_train(docs, 3, 100), text) == "mmm"


def test_label_without_vocab_gram_gets_a_label(spark):
    """A label none of whose grams made the top_k vocabulary still gets
    an unseen-gram value, so scoring a text with a vocabulary gram
    returns a label instead of raising KeyError."""
    docs = [("aaaa aaaa", "big")] * 6 + [("qrst", "small")]
    model = lid.train(spark.createDataFrame(docs, "text string, lang string"),
                      n=2, top_k=3)
    assert not any(lang == "small" for lang, _ in model.loglik)
    assert "aa" in model.vocab
    assert model.predict("aaaa") == "big"
    got = lid.predict(spark, spark.createDataFrame([("aaaa qrst",)], "text string"),
                      model).collect()
    assert got[0].lang_pred in {"big", "small"}


def test_scoring_arrays_are_not_pickled(spark):
    import pickle
    docs = synth_docs(spark, per_lang=5)
    model = lid.train(docs, n=3, top_k=200)
    model.predict("the quick brown fox")
    assert model._arrays is not None
    copy = pickle.loads(pickle.dumps(model))
    assert copy._arrays is None
    assert copy.predict("der die das") == model.predict("der die das")


def test_ngram_order_limit(spark):
    docs = synth_docs(spark, per_lang=2)
    with pytest.raises(ValueError, match="1..3"):
        lid.train(docs, n=4)
    with pytest.raises(ValueError, match="1..3"):
        lid.NgramLidModel(0, {}, {}, set(), {})


def test_train_job_count(spark):
    """Training is one aggregation, collected once: two shuffle stages
    and the final one, and with AQE each query stage is its own job.  A
    second scan of the docs (a separate label count) pushes it to 5."""
    sc = spark.sparkContext
    group = "test_train_job_count"
    sc.setJobGroup(group, "lid.train")
    try:
        lid.train(spark.createDataFrame(bench_rows(),
                                        "text string, lang string"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_train_scans_docs_once(spark):
    """The docs source counts the partitions it is asked to read: one
    scan reads each of its 4 partitions once."""
    import pandas as pd
    rows = bench_rows()
    scans = spark.sparkContext.accumulator(0)

    def read(batches):
        scans.add(1)
        for pdf in batches:
            yield pd.DataFrame({"text": [rows[i][0] for i in pdf["id"]],
                                "lang": [rows[i][1] for i in pdf["id"]]})

    docs = spark.range(0, len(rows), numPartitions=4) \
        .mapInPandas(read, "text string, lang string")
    model = lid.train(docs)
    assert scans.value == 4
    ref = oracle.nb_train(rows, n=3, top_k=4000)
    assert (model.priors, model.vocab, model.loglik, model.alpha_denom) == \
        (ref.priors, ref.vocab, ref.loglik, ref.alpha_denom)


def bench_rows() -> list:
    """(text, lang) rows shaped like crawl_build's LID training sample."""
    from perfbench import gen
    rng = random.Random(1)
    return [(gen.text_line(rng, lang), lang) for lang in gen.LANGS
            for _ in range(gen.LID_LINES_PER_LANG)]
