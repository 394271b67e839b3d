"""Module-level operator tests: greedy chunker, trainable LID +
dual-model agreement, perplexity outliers, PII scrub, near-duplicate
dedup."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row, functions as F

from ccspark import chunker, lid, quality, scrub
from tests import oracle


# ---------------- chunker (A3) ----------------

def test_greedy_chunker_matches_transcription(spark):
    """domain_samples == oracle.greedy_samples for every domain: CRLF
    lines, a NULL text, a row landing exactly on chunksize (not emitted:
    the rule is >) and a whitespace-only tail (no tail sample)."""
    rows = []
    random.seed(3)
    for dom in ("alpha", "beta"):
        for i in range(6):
            words = " ".join(f"w{random.randint(0, 30)}" for _ in range(40))
            rows.append(dict(domain=dom, url=f"https://{dom}.de/{i}",
                             text=words + "\nsecond line here\r\nthird"))
    rows.append(dict(domain="beta", url="https://beta.de/3a", text=None))
    exact = " ".join(f"x{i}" for i in range(60))
    rows += [dict(domain="gamma", url="https://gamma.de/0", text=exact),
             dict(domain="gamma", url="https://gamma.de/1", text="one"),
             dict(domain="gamma", url="https://gamma.de/2",
                  text="  \r\n \t ")]
    random.shuffle(rows)
    df = spark.createDataFrame(rows, "domain string, url string, "
                                     "text string")
    got = sorted(tuple(r) for r in chunker.domain_samples(df, 60).collect())
    exp = sorted(oracle.greedy_samples(rows, 60))
    assert got == exp
    assert {d for d, *_ in exp} == {"alpha", "beta", "gamma"}
    assert [(n, t[-4:]) for d, _, n, t in exp if d == "gamma"] \
        == [(61, "one ")]


def test_chunker_resets_on_overflow(spark):
    text = " ".join(f"w{i}" for i in range(25))   # 25 words per row
    df = spark.createDataFrame(
        [Row(domain="d", url=f"https://d.de/{i}", text=text)
         for i in range(4)])
    out = {r.chunk_id: r for r in chunker.domain_samples(df, 30).collect()}
    # rows of 25 words: chunk emitted at 50 (>30), next at 50, tail 0
    assert out[0].n_words == 50 and out[1].n_words == 50
    assert len(out) == 2


# ---------------- LID (M1/M2) ----------------

LANG_WORDS = {
    "en": "the quick brown fox jumps over lazy dog with many words today",
    "de": "der schnelle braune fuchs springt über den faulen hund heute",
    "fr": "le renard brun rapide saute par dessus le chien paresseux",
}


def lang_docs(spark, n_per_lang=30, seed=7):
    random.seed(seed)
    rows = []
    i = 0
    for lang, vocab in LANG_WORDS.items():
        words = vocab.split()
        for _ in range(n_per_lang):
            text = " ".join(random.choice(words) for _ in range(30))
            rows.append(Row(doc_id=i, text=text, lang=lang))
            i += 1
    return spark.createDataFrame(rows)


def test_lid_train_predict(spark):
    docs = lang_docs(spark)
    model = lid.train(docs, n=3, top_k=500)
    pred = lid.predict(spark, docs, model).collect()
    acc = sum(r.lang_pred == r.lang for r in pred) / len(pred)
    assert acc >= 0.95, acc


def test_lid_min_len_threshold_ukn(spark):
    docs = lang_docs(spark)
    model = lid.train(docs, n=3, top_k=500)
    short = spark.createDataFrame([Row(doc_id=0, text="der der der",
                                       lang="de")])
    got = lid.predict(spark, short, model, min_len=150).collect()[0]
    assert got.lang_pred == "ukn"   # geoWAC.py:19-22 threshold semantics


def test_agreement_filter(spark):
    """M2 through the facade: a long English page labelled de is dropped
    by CCSparkCorpus.lid_pass's dual-model agreement, while most
    correctly labelled pages survive it."""
    from ccspark.api import CCSparkCorpus
    docs = lang_docs(spark)
    m2 = lid.train(docs, n=2, top_k=500)
    m3 = lid.train(docs, n=3, top_k=500)
    mislabeled = spark.createDataFrame(
        [Row(doc_id=999,
             text=("the quick brown fox jumps over lazy dog with many "
                   "words today and more of the same english text here "
                   "to comfortably cross the one hundred fifty character "
                   "minimum for scoring"),
             lang="de")])
    good = docs.where(F.length("text") > 150)
    lines = good.union(mislabeled).select(
        F.concat(F.lit("https://p"), "doc_id", F.lit(".de/")).alias("url"),
        F.col("doc_id").cast("string").alias("domain"),
        F.lit("Germany").alias("country"),
        F.lit("europe_west").alias("region"),
        F.lit(0).alias("line_id"), "text", "lang")
    kept = CCSparkCorpus(spark).lid_pass(lines, m2, second_model=m3,
                                         expected_col="lang", min_len=100)
    urls = {r.url for r in kept.collect()}
    assert "https://p999.de/" not in urls
    assert len(urls) >= good.count() * 0.9


# ---------------- quality / outliers (M3-M5) ----------------

def test_outlier_cut_planted(spark):
    random.seed(11)
    vocab = [f"tok{i}" for i in range(50)]
    rows = []
    for i in range(40):
        rows.append(Row(doc_id=i, lang="en",
                        text=" ".join(random.choice(vocab)
                                      for _ in range(60))))
    # planted: hyper-repetitive (too predictable -> HIGH side)
    rows.append(Row(doc_id=100, lang="en", text="tok0 " * 60))
    # planted: all-rare tokens (too random -> LOW side)
    rows.append(Row(doc_id=101, lang="en",
                    text=" ".join(f"rare{i}" for i in range(60))))
    docs = spark.createDataFrame(rows)
    scored = quality.score_loglik(docs, group_cols=("lang",))
    marked = quality.mark_outliers(scored, group_cols=("lang",),
                                   z_cut=3.0, min_words=0)
    by_id = {r.doc_id: r.prediction for r in marked.collect()}
    assert by_id[100] == "HIGH"
    assert by_id[101] == "LOW"
    n_in = sum(1 for v in by_id.values() if v == "IN")
    assert n_in >= 38


def test_outlier_min_words_gate(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, lang="en", text="a few words here")
         for i in range(5)])
    scored = quality.score_loglik(docs, group_cols=("lang",))
    marked = quality.mark_outliers(scored, group_cols=("lang",),
                                   min_words=5_000_000)
    assert {r.prediction for r in marked.collect()} == {"ORIGINAL"}


def test_remove_outliers_roundtrip(spark):
    random.seed(5)
    vocab = [f"t{i}" for i in range(30)]
    rows = [Row(doc_id=i, lang="en",
                text=" ".join(random.choice(vocab) for _ in range(50)))
            for i in range(30)]
    # unigram-LM outlier: 50 singleton tokens -> extreme low loglik
    rows.append(Row(doc_id=99, lang="en",
                    text=" ".join(f"zz{i}" for i in range(50))))
    docs = spark.createDataFrame(rows)
    kept = quality.remove_outliers(docs, group_cols=("lang",), min_words=0)
    ids = {r.doc_id for r in kept.collect()}
    assert 99 not in ids and len(ids) >= 28


def test_remove_outliers_keeps_docs_without_tokens(spark):
    """A doc with NULL, '' or whitespace-only text has no token, so it is
    never scored and never an outlier: it passes through a cell under
    the word gate and a scored cell alike."""
    random.seed(5)
    vocab = [f"t{i}" for i in range(30)]
    rows = [(i, "en", "a few words here") for i in range(6)]
    rows += [(10 + i, "de", " ".join(random.choice(vocab)
                                     for _ in range(50))) for i in range(30)]
    rows.append((99, "de", " ".join(f"zz{i}" for i in range(50))))
    for cell, base in (("en", 200), ("de", 300)):
        rows += [(base, cell, ""), (base + 1, cell, None),
                 (base + 2, cell, "   ")]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, "
                                       "text string")
    kept = {r.doc_id for r in quality.remove_outliers(
        docs, group_cols=("lang",), min_words=100).collect()}
    marks = oracle.outlier_marks(
        [dict(doc_id=i, lang=c, text=t) for i, c, t in rows], ("lang",),
        min_words=100)
    assert marks[0][3] == "ORIGINAL" and marks[99][3] == "LOW"
    assert {i for i, m in marks.items() if m[3] in ("HIGH", "LOW")} \
        == {99}
    assert kept == {i for i, _, _ in rows} - {99}


def test_outlier_stage_matches_oracle(spark):
    """mark_outliers(score_loglik(...)) == oracle.outlier_marks row for
    row: prediction, n_words and the 6-place z exactly, loglik to
    1e-9.  Cells: en (odd-sized, planted HIGH and LOW, a doc with no
    token), de (even-sized), fr (under the word gate), it (every score
    ties: MAD 0), pt (most scores tie: MAD 0, so its odd doc is IN too).
    Each cell is cut on its own."""
    random.seed(11)
    vocab = [f"tok{i}" for i in range(50)]
    rows = [dict(doc_id=i, lang="en", text=" ".join(
        random.choice(vocab) for _ in range(60))) for i in range(39)]
    rows += [dict(doc_id=100, lang="en", text="tok0 " * 60),
             dict(doc_id=101, lang="en",
                  text=" ".join(f"rare{i}" for i in range(60))),
             dict(doc_id=102, lang="en", text=" ")]
    rows += [dict(doc_id=200 + i, lang="de", text=" ".join(
        random.choice(vocab[:8]) for _ in range(5 + 3 * i)))
        for i in range(20)]
    rows += [dict(doc_id=300 + i, lang="fr", text="un deux")
             for i in range(2)]
    rows += [dict(doc_id=400 + i, lang="it", text="ab cd ab cd")
             for i in range(6)]
    rows += [dict(doc_id=500 + i, lang="pt", text="ab cd ab cd")
             for i in range(5)]
    rows.append(dict(doc_id=505, lang="pt", text="ab ef gh ij kl"))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, "
                                       "text string")
    marked = quality.mark_outliers(
        quality.score_loglik(docs, group_cols=("lang",)),
        group_cols=("lang",), min_words=20)
    got = {r.doc_id: r for r in marked.collect()}
    exp = oracle.outlier_marks(rows, ("lang",), min_words=20)
    assert set(got) == set(exp) == {r["doc_id"] for r in rows} - {102}
    for i, (loglik, n_words, z, pred) in exp.items():
        r = got[i]
        assert r.prediction == pred, (i, r, exp[i])
        assert abs(r.loglik - loglik) <= 1e-9
        assert (r.n_words, r.z) == (n_words, z)
    pred = {i: m[3] for i, m in exp.items()}
    assert pred[100] == "HIGH" and pred[101] == "LOW"
    assert {pred[i] for i in (300, 301)} == {"ORIGINAL"}
    assert {pred[i] for i in range(400, 406)} == {"IN"}
    assert {exp[i][2] for i in range(500, 506)} == {0.0}
    assert set(pred.values()) == {"HIGH", "LOW", "IN", "ORIGINAL"}
    # pooled into one cell the cut differs, so the frame tells cells apart
    pooled = oracle.outlier_marks(rows, (), min_words=20)
    assert {i: m[3] for i, m in pooled.items()} != pred


# ---------------- scrub (F17) ----------------

def test_scrub_each_pii_type(spark):
    df = spark.createDataFrame([
        Row(doc_id=0, text="mail me at jane.doe+x@corp.example.org now"),
        Row(doc_id=1, text="call +1 (555) 123-4567 tomorrow"),
        Row(doc_id=2, text="server at 192.168.10.250 port open"),
        Row(doc_id=3, text="ssn 123-45-6789 leaked"),
        Row(doc_id=4, text="nothing sensitive here at all"),
        Row(doc_id=5, text="card 4111 1111 1111 1111 on file"),
        Row(doc_id=6, text="card 4111-1111-1111-1111 dashed"),
        Row(doc_id=7, text="order 41111111111111111111 is a 20-digit id"),
    ])
    out = {r.doc_id: r for r in scrub.scrub(df).collect()}
    assert out[0].scrubbed_text == "mail me at <EMAIL> now"
    assert out[1].scrubbed_text == "call <PHONE> tomorrow"
    assert out[2].scrubbed_text == "server at <IP> port open"
    assert out[3].scrubbed_text == "ssn <SSN> leaked"
    assert out[4].scrubbed_text == out[4].text
    assert out[4].n_pii_types == 0
    assert out[0].has_email and not out[0].has_phone
    assert out[3].has_ssn
    # cards: both groupings redact as <CC> (never the generic <PHONE> -
    # cc runs first); a longer digit run is NOT a card (\b guards) and
    # falls through to the generic phone/number class instead
    assert out[5].scrubbed_text == "card <CC> on file"
    assert out[6].scrubbed_text == "card <CC> dashed"
    assert out[5].has_cc and out[6].has_cc
    assert out[7].scrubbed_text == "order <PHONE> is a 20-digit id"
    assert not out[7].has_cc


def test_scrub_order_ip_not_phone(spark):
    df = spark.createDataFrame([Row(doc_id=0, text="ip 10.20.30.40 end")])
    got = scrub.scrub(df).collect()[0]
    assert got.scrubbed_text == "ip <IP> end"


def test_blocklist_filter(spark):
    df = spark.createDataFrame([
        Row(doc_id=0, text="a perfectly fine sentence"),
        Row(doc_id=1, text="contains BADWORD somewhere"),
        Row(doc_id=2, text="badwordish is not blocked"),
    ])
    bl = spark.createDataFrame([Row(term="badword")])
    kept = {r.doc_id for r in scrub.blocklist_filter(df, bl).collect()}
    assert kept == {0, 2}


def test_blocklist_terms_are_literals_not_patterns(spark):
    """Regex metacharacters in a term must match literally (and must not
    crash pattern compilation)."""
    df = spark.createDataFrame([
        Row(doc_id=0, text="mentions c++ language here"),
        Row(doc_id=1, text="says cxx instead"),          # '.'/'+' as regex
        Row(doc_id=2, text="contains evil(term) yes"),   # would not compile
        Row(doc_id=3, text="evilterm without parens"),
    ])
    bl = spark.createDataFrame([Row(term="c++"), Row(term="evil(term)")])
    kept = {r.doc_id for r in scrub.blocklist_filter(df, bl).collect()}
    assert kept == {1, 3}


def test_oracle_xxhash64_matches_spark(spark):
    """tests/oracle.py's pure-Python XXH64 is Spark's ``xxhash64``:
    strings (empty, non-ASCII, under, at and over the 32-byte stripe),
    longs (sign and range edges), the chained 2-argument form and NULL
    (skipped; all-NULL gives the seed 42)."""
    from tests import oracle
    strs = ["", " ", "a", "hello", "héllo wörld", "中文字 😀", "x" * 31,
            "y" * 32, "z" * 33, "0123456789abcdef" * 5 + "tail", None]
    got = [r[0] for r in spark.createDataFrame(
        [(x,) for x in strs], "s string").select(F.xxhash64("s")).collect()]
    assert got == [oracle.xxhash64(x) for x in strs]
    longs = [0, 1, -1, 42, 2 ** 31 - 1, 2 ** 63 - 1, -2 ** 63,
             -7444071767201028348, None]
    pairs = [(a, b) for a in longs for b in longs]
    rows = spark.createDataFrame(pairs, "a bigint, b bigint").select(
        F.xxhash64("a"), F.xxhash64("a", "b")).collect()
    assert [r[0] for r in rows] == [oracle.xxhash64(a) for a, _ in pairs]
    assert [r[1] for r in rows] == [oracle.xxhash64(a, b) for a, b in pairs]
    assert oracle.xxhash64(None, None) == 42


def test_minhash_signature_table_matches_oracle(spark):
    """dedup.minhash_signature_table == oracle.minhash_signature row for
    row: ordinary text, docs with fewer than k words (one composite
    gram), whitespace-only text (grams of empty words), repeated grams
    and non-ASCII; empty and NULL texts have no gram and no row."""
    from ccspark import dedup
    from tests import oracle
    texts = ["the quick brown fox jumps over the lazy dog",
             "one", "two words", "   ", " ", "a b c", "a b c a b c a b c",
             "über straße 中文 😀 naïve café", "  lead and trail  ",
             " ".join(f"w{i}" for i in range(60)), "", None]
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id bigint, text string")
    for k, n in ((3, 12), (2, 7)):
        got = {r.doc_id: [r[f"m{i}"] for i in range(n)]
               for r in dedup.minhash_signature_table(
                   docs, k=k, num_hashes=n).collect()}
        want = {i: oracle.minhash_signature(t, k, n)
                for i, t in enumerate(texts)}
        assert got == {i: s for i, s in want.items() if s is not None}, k
        assert set(want) - set(got) == {10, 11}


def test_minhash_near_dups_module(spark):
    """The module path (gram hashes -> wide signature -> explode-banded
    LSH -> jaccard estimate): near-identical docs pair up, unrelated docs
    don't, and banding emits exactly `bands` rows per doc."""
    from ccspark import dedup
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away to the deep green forest before nightfall today")
    docs = spark.createDataFrame([
        Row(doc_id=0, text=base),
        Row(doc_id=1, text=base.replace("today", "tomorrow")),  # near-dup
        Row(doc_id=2, text=" ".join(f"token{i}" for i in range(40))),
    ])
    pairs = dedup.minhash_near_dups(docs).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert (0, 1) in got
    assert not any(2 in p for p in got)
    est = {(r.doc_a, r.doc_b): r.jaccard_est for r in pairs}
    assert est[(0, 1)] >= 0.5
    # the persisted banded layout of the same signatures: bands rows
    # per doc, and the pair is the one sharing a band digest
    sig = dedup.minhash_signature_table(docs, num_hashes=16)
    digests = {}
    for r in dedup.banded_signatures(sig, bands=4).collect():
        digests.setdefault(r.doc_id, []).append(r.digest)
    assert {d: len(v) for d, v in digests.items()} == {0: 4, 1: 4, 2: 4}
    assert set(digests[0]) & set(digests[1])
    assert not set(digests[2]) & (set(digests[0]) | set(digests[1]))


def test_minhash_xxhash64_fast_path(spark):
    """The xxhash64 word-k-gram family (a JVM long straight from codegen,
    no per-shingle hex string) on a corpus with an exact copy: the copy
    pairs at estimate 1.0, the near-dup at >= 0.5, the unrelated doc
    pairs with nothing, and removal at 0.95 drops only the copy."""
    from ccspark import dedup
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away to the deep green forest before nightfall today")
    docs = spark.createDataFrame([
        Row(doc_id=0, text=base),
        Row(doc_id=1, text=base.replace("today", "tomorrow")),
        Row(doc_id=2, text=" ".join(f"token{i}" for i in range(40))),
        Row(doc_id=3, text=base),                       # exact dup of 0
    ])
    pairs = dedup.minhash_near_dups(docs).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard_est for r in pairs}
    assert got[(0, 3)] == 1.0
    assert got[(0, 1)] >= 0.5
    assert not any(2 in p for p in got)
    kept = {r.doc_id for r in
            dedup.dedup_near(docs, threshold=0.95).collect()}
    assert kept == {0, 1, 2}


def test_connected_components_hash_to_min(spark):
    """dedup.connected_components vs a union-find ground truth on graph
    shapes that stress different properties - including a 100-node CHAIN
    with max_iter=12: naive min-label propagation needs ~99 rounds there,
    so passing under the tight cap proves the logarithmic-round
    (hash-to-min) behavior, not just correctness."""
    import random

    from ccspark import dedup

    def truth_labels(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    rng = random.Random(7)
    graphs = {
        "chain100": [(i, i + 1) for i in range(99)],
        "two_comps": [(0, 1), (1, 2), (10, 11), (12, 11)],
        "star": [(5, i) for i in range(6, 20)],
        "cycle": [(i, (i + 1) % 30) for i in range(30)],
        "random": [(rng.randrange(200), rng.randrange(200))
                   for _ in range(150)],
        "dup_edges": [(3, 9), (9, 3), (3, 9), (4, 4)],
    }
    for name, edges in graphs.items():
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        got = {r.node: r.cluster_id
               for r in dedup.connected_components(df, max_iter=12)
               .collect()}
        want = truth_labels(edges)
        assert got == want, (name, got, want)


def test_near_dup_removal_end_to_end(spark):
    """dedup_near on a crafted corpus (r3 verdict item 6): two disjoint
    near-dup clusters - one a CHAIN (A~B, B~C but A!~C directly, so only
    transitive closure merges it) - plus an unrelated singleton.  Keep
    exactly the min-id canonical per cluster + the singleton; clusters
    carry the right cluster_id and survivor flags."""
    from ccspark import dedup
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away to the deep green forest before nightfall today "
            "while the hunters sleep soundly in their warm wooden cabin")
    other = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(20))
    docs = spark.createDataFrame([
        Row(doc_id=0, text=base),
        Row(doc_id=1, text=base),                                # = 0
        Row(doc_id=2, text=base.replace("today", "tomorrow")),   # chain link
        Row(doc_id=3, text=other),
        Row(doc_id=4, text=other),                               # = 3
        Row(doc_id=5, text=" ".join(f"tok{i}" for i in range(40))),
    ])
    clusters = {r.doc_id: (r.cluster_id, r.survivor)
                for r in dedup.near_dup_clusters(docs, threshold=0.5)
                .collect()}
    assert clusters[0] == (0, True)
    assert clusters[1] == (0, False)
    assert clusters[2] == (0, False)      # merged transitively via 0/1
    assert clusters[3] == (3, True)
    assert clusters[4] == (3, False)
    assert 5 not in clusters              # singleton: no near-dup edge
    kept = {r.doc_id for r in dedup.dedup_near(docs, threshold=0.5)
            .collect()}
    assert kept == {0, 3, 5}
    # threshold gate: at 1.01 nothing can pair, so only the exact
    # copies (1 of 0, 4 of 3) are dropped
    all_kept = {r.doc_id for r in dedup.dedup_near(docs, threshold=1.01)
                .collect()}
    assert all_kept == {0, 2, 3, 5}


def test_jaccard_on_candidates_exact(spark):
    """dedup.jaccard_on_candidates (the LSH->verify stage): every pair's
    value must be IDENTICAL to the pure-Python word-shingle Jaccard
    (tests/oracle.py: same gram sets, same arithmetic); a pair with
    empty intersection must come back 0.0 rather than dropped."""
    from ccspark import dedup
    from tests import oracle
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away to the deep green forest before nightfall today")
    docs = spark.createDataFrame([
        Row(doc_id=0, text=base),
        Row(doc_id=1, text=base.replace("today", "tomorrow")),
        Row(doc_id=2, text=" ".join(f"token{i}" for i in range(40))),
        Row(doc_id=3, text=base),
    ])
    texts = {r.doc_id: r.text for r in docs.collect()}
    cand = spark.createDataFrame(
        [Row(doc_a=0, doc_b=1), Row(doc_a=0, doc_b=3),
         Row(doc_a=1, doc_b=2)])  # (1,2) shares nothing
    want = {(a, b): oracle.word_shingle_jaccard(texts[a], texts[b])
            for a, b in ((0, 1), (0, 3), (1, 2))}
    assert want[(0, 3)] == 1.0 and 0.5 <= want[(0, 1)] < 1.0
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in dedup.jaccard_on_candidates(docs, cand).collect()}
    assert got == want
    assert got[(1, 2)] == 0.0


def test_dedup_near_verify_exact(spark):
    """verify_exact=True thresholds on the TRUE Jaccard: a pair whose
    minhash estimate overshoots its real similarity is kept by the
    estimate path but correctly retained once verified.  With 12 hashes
    the estimate resolution is 1/12, so a doc pair at true Jaccard ~0.55
    can estimate well above 0.75; exact verification at threshold 0.75
    must NOT merge them, while both paths agree exact dups merge."""
    from ccspark import dedup
    words = [f"w{i}" for i in range(40)]
    half = words[:26] + [f"x{i}" for i in range(14)]
    docs = spark.createDataFrame([
        Row(doc_id=0, text=" ".join(words)),
        Row(doc_id=1, text=" ".join(words)),          # exact dup of 0
        Row(doc_id=2, text=" ".join(half)),           # ~0.5 vs 0
        Row(doc_id=3, text=" ".join(f"z{i}" for i in range(40))),
    ])
    kept = {r.doc_id for r in
            dedup.dedup_near(docs, threshold=0.95,
                             verify_exact=True).collect()}
    assert kept == {0, 2, 3}
    # the verified edge set is a subset of the estimate edge set
    est = dedup.near_dup_clusters(docs, 0.4)
    ver = dedup.near_dup_clusters(docs, 0.4, verify_exact=True)
    assert {r.doc_id for r in ver.collect()} <= \
        {r.doc_id for r in est.collect()}


def _near_dup_corpora():
    """(name, [(doc_id, text)], defined survivors or None) for
    test_dedup_near_matches_oracle."""
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away to the deep green forest before nightfall today")
    variants = (base, base.replace("today", "tomorrow"),
                " ".join(f"token{i}" for i in range(40)))
    copies = [(i, variants[i // 5]) for i in range(15)]   # 5 copies each
    hostile = list(enumerate(["", "", None, None, base, base, "   ",
                              "   "]))
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(25)]
    seeded = []
    for i in range(30):
        r = rng.random()
        if seeded and r < 0.3:                          # exact replay
            seeded.append((i, rng.choice(seeded)[1]))
        elif seeded and r < 0.6:                        # light mutation
            w = rng.choice(seeded)[1].split(" ")
            w[rng.randrange(len(w))] = rng.choice(vocab)
            seeded.append((i, " ".join(w)))
        else:
            seeded.append((i, " ".join(
                rng.choice(vocab) for _ in range(rng.randint(1, 30)))))
    return [("copies", copies, {0, 10}), ("hostile", hostile, {0, 2, 4, 6}),
            ("seeded", seeded, None)]


@pytest.mark.parametrize("verify_exact", [False, True])
def test_dedup_near_matches_oracle(spark, verify_exact):
    """dedup.dedup_near keeps exactly oracle.dedup_near's survivors: exact
    copies (NULL texts included) collapse to their minimum id, then
    near-dup clusters keep their minimum id.  Corpora: 3 texts x 5
    exact copies; empty, NULL, whitespace-only and ordinary text in
    pairs; a seeded mix of replays, one-word mutations and short
    docs."""
    from ccspark import dedup
    from tests import oracle
    for name, rows, defined in _near_dup_corpora():
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = {r.doc_id for r in dedup.dedup_near(
            docs, threshold=0.5, verify_exact=verify_exact).collect()}
        want = oracle.dedup_near(rows, threshold=0.5,
                                 verify_exact=verify_exact)
        assert got == want, (name, got, want)
        assert defined is None or want == defined, (name, want)
        assert len(want) < len(rows), name


def test_incremental_near_dups(spark):
    """Cross-crawl near-dup screen: a new doc near-duplicating history
    (exact copy or small edit) is dropped, a fresh doc survives, and the
    screen only consumes history SIGNATURES - asserted by feeding it a
    signature table with the text column long gone.  Round-trip: the
    table survives parquet persistence."""
    import tempfile

    from ccspark import dedup
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away to the deep green forest before nightfall today")
    hist = spark.createDataFrame([
        Row(doc_id=0, text=base),
        Row(doc_id=1, text=" ".join(f"old{i}" for i in range(40))),
    ])
    sig = dedup.minhash_signature_table(hist)
    with tempfile.TemporaryDirectory() as d:
        sig.write.parquet(f"{d}/sig")
        hist_sig = spark.read.parquet(f"{d}/sig")
        new = spark.createDataFrame([
            Row(doc_id=100, text=base),                            # exact
            Row(doc_id=101, text=base.replace("today", "tomorrow")),
            Row(doc_id=102, text=" ".join(f"new{i}" for i in range(40))),
        ])
        kept = {r.doc_id for r in dedup.incremental_near_dups(
            new, hist_sig, threshold=0.9).collect()}
        assert 100 not in kept            # exact copy of history
        assert 102 in kept                # genuinely new
        # the small edit estimates ~11/12 >= 0.9 -> screened too
        assert kept == {102}
        # self-contained crawl passes untouched against empty history
        empty_sig = hist_sig.limit(0)
        assert dedup.incremental_near_dups(
            new, empty_sig, threshold=0.9).count() == 3


def test_incremental_near_dups_banded_history(spark):
    """The scale layout: history persisted PRE-BANDED
    (dedup.banded_signatures) and bucketed on digest.  Survivors must be
    identical to the raw-signature path, and the probe plan must lose
    the history-side exchange (only the new crawl's digests shuffle)."""
    import re
    import shutil

    from ccspark import dedup
    texts = [" ".join(f"w{i}x{j}" for j in range(40)) for i in range(30)]
    hist = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    new = spark.createDataFrame(
        [Row(doc_id=100, text=texts[0]),             # near-dup of history
         Row(doc_id=101, text=" ".join(f"f{i}" for i in range(40)))])
    sig = dedup.minhash_signature_table(hist)
    banded = dedup.banded_signatures(sig)

    warehouse = spark.conf.get("spark.sql.warehouse.dir") \
        .replace("file:", "")
    spark.sql("DROP TABLE IF EXISTS b_hist_sig")
    shutil.rmtree(f"{warehouse}/b_hist_sig", ignore_errors=True)
    banded.write.bucketBy(8, "digest").saveAsTable("b_hist_sig")

    old_th = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        kept_raw = {r.doc_id for r in dedup.incremental_near_dups(
            new, sig).collect()}
        kept_bucketed = {r.doc_id for r in dedup.incremental_near_dups(
            new, spark.table("b_hist_sig")).collect()}
        assert kept_raw == kept_bucketed == {101}

        def n_shuffles(df):
            # fresh (unexecuted) frame: after a collect, AQE's
            # isFinalPlan toString appends the initial plan and every
            # exchange counts twice
            plan = df._jdf.queryExecution().executedPlan().toString()
            return len(re.findall(
                r"Exchange (?:hash|range)partitioning", plan))

        probe = dedup.incremental_near_dups(new, spark.table("b_hist_sig"))
        inline = dedup.incremental_near_dups(new, banded)
        assert n_shuffles(probe) < n_shuffles(inline), (
            n_shuffles(probe), n_shuffles(inline))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_th)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_incremental_near_dups_matches_bruteforce(spark, seed):
    """Random seeded corpora: the banded screen must EXACTLY equal a
    brute-force Python recomputation of the minhash-agreement rule.
    At threshold 0.9 with 12 hashes / 4 bands, agreement >= 0.9 means
    >= 11 matching hashes, so at most ONE band is broken and >= 3 full
    bands match - banding provably produces every qualifying candidate,
    and candidates are filtered by the same agreement predicate, so the
    survivor sets must be identical (not merely approximately equal).
    The brute force takes its signatures from oracle.minhash_signature
    (pure-Python XXH64)."""
    import random

    from ccspark import dedup
    from tests import oracle

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]

    def doc():
        return " ".join(rng.choice(vocab)
                        for _ in range(rng.randint(20, 40)))

    hist_texts = [doc() for _ in range(15)]
    new_texts = []
    for j in range(12):
        r = rng.random()
        if r < 0.3:                                # exact replay
            new_texts.append(rng.choice(hist_texts))
        elif r < 0.6:                              # light mutation
            w = rng.choice(hist_texts).split(" ")
            for _ in range(rng.randint(1, 3)):
                w[rng.randrange(len(w))] = rng.choice(vocab)
            new_texts.append(" ".join(w))
        else:                                      # fresh
            new_texts.append(doc())

    def sig(text):
        return oracle.minhash_signature(text, k=3, num_hashes=12)

    hsigs = [sig(t) for t in hist_texts]
    want = set()
    for i, t in enumerate(new_texts):
        s = sig(t)
        dropped = any(
            sum(a == b for a, b in zip(s, hs)) / 12 >= 0.9
            for hs in hsigs)
        if not dropped:
            want.add(i)

    hist = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(hist_texts)])
    new = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(new_texts)])
    hist_sig = dedup.minhash_signature_table(hist, num_hashes=12)
    got = {r.doc_id for r in dedup.incremental_near_dups(
        new, hist_sig, threshold=0.9, bands=4).collect()}
    assert got == want, (seed, got, want)
    # sanity: the scenario is non-trivial (something dropped, something
    # kept) - the generator mixes replays, mutations and fresh docs
    assert want != set(range(len(new_texts))) and want


def test_jaccard_on_candidates_shingleless_docs(spark):
    """r4 advice: jaccard_on_candidates is a public verification API
    accepting ARBITRARY pairs - a pair where either doc produces no
    grams (empty text) must come back at 0.0
    rather than be silently dropped by an inner size-join, and the
    both-shingleless pair must not trip ANSI DIVIDE_BY_ZERO."""
    from ccspark import dedup
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away to the deep green forest before nightfall today")
    docs = spark.createDataFrame([
        Row(doc_id=0, text=base),
        Row(doc_id=1, text=""),           # no grams
        Row(doc_id=2, text=""),
    ])
    cand = spark.createDataFrame(
        [Row(doc_a=0, doc_b=1), Row(doc_a=1, doc_b=2)])
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in dedup.jaccard_on_candidates(docs, cand).collect()}
    assert got == {(0, 1): 0.0, (1, 2): 0.0}, got


def test_incremental_near_dups_param_mismatch_raises(spark):
    """r4 advice: the cross-crawl screen silently trusted the caller to
    probe with the same k/bands/hash family the history signatures were
    built with - a mismatch matched nothing.  Build parameters are now
    stamped as column METADATA (persisted through parquet) and a
    mismatched probe raises instead of returning a silently-wrong set."""
    import tempfile

    from ccspark import dedup
    hist = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(f"w{i}x{j}" for j in range(40)))
         for i in range(5)])
    new = hist.limit(2).select(
        (F.col("doc_id") + 100).alias("doc_id"), "text")
    sig = dedup.minhash_signature_table(hist)        # k=3, 12, xxhash64
    banded = dedup.banded_signatures(sig, bands=6)   # bands stamped: 6
    with tempfile.TemporaryDirectory() as d:
        sig.write.parquet(f"{d}/sig")
        banded.write.parquet(f"{d}/banded")
        sig_rt = spark.read.parquet(f"{d}/sig")
        banded_rt = spark.read.parquet(f"{d}/banded")
        # metadata survives the parquet round-trip
        assert dedup._sig_meta(sig_rt)["ccspark_k"] == 3
        assert dedup._sig_meta(banded_rt)["ccspark_bands"] == 6
        with pytest.raises(ValueError):
            dedup.incremental_near_dups(new, sig_rt, k=4)
        # a history table stamped with another hash family
        with pytest.raises(ValueError, match="hash family"):
            dedup.incremental_near_dups(new, _stamp_md5(sig_rt))
        with pytest.raises(ValueError):   # pre-banded 6 probed with 4
            dedup.incremental_near_dups(new, banded_rt, bands=4)
        # matching parameters still work on both persisted layouts
        assert {r.doc_id for r in dedup.incremental_near_dups(
            new, sig_rt).collect()} == set()
        assert {r.doc_id for r in dedup.incremental_near_dups(
            new, banded_rt, bands=6).collect()} == set()
    # structural fallback for UNSTAMPED (externally built) tables:
    # more bands than hashes is always wrong
    bare = spark.createDataFrame(
        [Row(doc_id=0, m0=1, m1=2)], "doc_id bigint, m0 bigint, m1 bigint")
    assert dedup._sig_meta(bare) == {}
    with pytest.raises(ValueError):
        dedup.incremental_near_dups(new, bare, bands=4)


def _stamp_md5(sig):
    """*sig* stamped as an md5-family signature table (the layout an
    older ccspark wrote)."""
    from ccspark import dedup
    meta = dict(dedup._sig_meta(sig), ccspark_hash_family="md5")
    return sig.withColumn("m0", F.col("m0").alias("m0", metadata=meta))


def test_banded_signatures_inherits_stamped_family(spark):
    """Banding carries the signature table's stamp (family xxhash64,
    bigint digests), and a table stamped with any other hash family
    (e.g. an md5 table written by an older ccspark, whose digests no
    probe built here can match) raises ValueError in both
    banded_signatures and incremental_near_dups rather than silently
    matching nothing."""
    from ccspark import dedup
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(f"w{i}x{j}" for j in range(40)))
         for i in range(4)])
    sig = dedup.minhash_signature_table(docs)
    banded = dedup.banded_signatures(sig)
    assert dedup._sig_meta(banded)["ccspark_hash_family"] == "xxhash64"
    assert dedup._sig_meta(banded)["ccspark_k"] == 3
    assert dict(banded.dtypes)["digest"] == "bigint"
    new = docs.limit(1).select((F.col("doc_id") + 50).alias("doc_id"),
                               "text")
    assert dedup.incremental_near_dups(new, banded).count() == 0
    sig_md5 = _stamp_md5(sig)
    with pytest.raises(ValueError, match="hash family"):
        dedup.banded_signatures(sig_md5)
    with pytest.raises(ValueError, match="hash family"):
        dedup.incremental_near_dups(new, sig_md5)
