"""Benchmark decontamination: flag training documents that overlap an
evaluation set by shared normalized word n-grams.

The standard training-data hygiene operator (GPT-3 appendix C / C4 /
FineWeb practice): a document is *contaminated* when any normalized
``n``-gram (default 13 words) of its text also occurs in a benchmark /
eval-set text.  The reference pipeline has no such operator - this is a
first-class extension of the quality_filter surface, same family as the
dedup ops (deduplication.py:88-112 is the closest reference analogue:
hash-keyed overlap detection).

Scale design (the whole point at 100 TB):

  * the benchmark side is TINY relative to the corpus (eval suites are
    at most ~10^6 grams) -> distinct n-gram hashes are broadcast; the
    corpus is NEVER shuffled;
  * doc-side n-grams are generated in one projection (split + slice +
    xxhash64 inside a ``transform`` lambda - whole-stage codegen, no
    Python), exploded, and broadcast-hash-joined against the benchmark
    set: only MATCHING rows (a vanishingly small fraction) survive into
    the tiny count-distinct aggregation;
  * the per-doc flag is rejoined with a second broadcast (the hit set is
    small by construction), so the full pipeline is corpus-shuffle-free.

Normalization: lowercase, every non-alphanumeric run (unicode classes
``\\p{L}\\p{N}``) collapsed to a single space, empty tokens dropped.
Space-free scripts (CJK) normalize to one long token and therefore
produce no word 13-grams - the #2/#3 crawl languages would get ZERO
overlap protection from the word operator.
``decontaminate_chars`` closes that gap: character n-grams (default 20
chars ~ the word operator's 13-word span at CJK information density)
over the same normalization with the spaces removed entirely, riding
the identical broadcast skeleton.  ``decontaminate(char_n=...)`` runs
both and flags a doc contaminated on EITHER overlap; the training-
corpus path should enable it whenever the geo gate admits CJK pages.

Verification: tests/test_decontam.py checks both hashed paths against a
pure-Python string-overlap restatement (tests/oracle.py) on the
documents fixture, and the fuzz pins the normalizer and gram arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ccspark.sqlgen import lit, rrep

DEFAULT_N = 13
DEFAULT_CHAR_N = 20

# one normalized token never contains a space, so a true n-gram has
# exactly n-1 spaces: the greatest()-guard + space-count filter drops
# the short-doc degenerate slice without a CASE over mismatched array
# types
_WORDS_SENTINEL = "__ccspark_words__"


def norm_words(e: str) -> str:
    """Array of normalized words of text expr *e*.

    Combining marks (``\\p{M}``) are stripped after lowercasing: this
    pins the Turkish 'İ', which the JVM lowers to ``i`` + U+0307, to a
    plain ``i``, and keeps marks from SPLITTING a word (they are not
    ``\\p{L}``).  Precomposed accents survive (``é`` stays ``é``);
    NFC-vs-NFD unification is out of scope and documented as a
    boundary."""
    demarked = rrep(f"lower({e})", r"\p{M}", "")
    cleaned = rrep(demarked, r"[^\p{L}\p{N}]+", " ")
    return f"filter(split({cleaned}, {lit(' ')}), x -> x != '')"


def gram_array(words: str, n: int = DEFAULT_N) -> str:
    """Array of word ``n``-grams (space-joined) over a words-array expr.

    *words* MUST be a bound COLUMN (projection/CTE), never an inline
    split expression: it is referenced inside the transform LAMBDA BODY,
    and HOF lambdas are interpreted - an inlined expression re-evaluates
    once per array element (see dedup._word_hash_kgrams, r4).

    Docs shorter than *n* words yield an empty set: the guarded sequence
    emits one degenerate short slice which the space-count filter drops.
    """
    raw = (f"transform(sequence(1, greatest(size({words}) - "
           f"{n - 1}, 1)), i -> concat_ws(' ', slice({words}, i, {n})))")
    return (f"filter({raw}, x -> "
            f"length(x) - length(replace(x, ' ', '')) = {n - 1})")


def _gram_hashes_expr(n: int) -> str:
    """Spark SQL: array<bigint> of xxhash64'd n-grams of a words column."""
    grams = gram_array(_WORDS_SENTINEL, n)
    return f"transform({grams}, g -> xxhash64(g))"


_CHARS_SENTINEL = "__ccspark_chars__"


def char_stream(e: str) -> str:
    """Normalized CHARACTER stream of text expr *e*: the word
    normalization with the separators removed entirely - lowercase,
    combining marks stripped, every non-alphanumeric run deleted.  For a
    space-free script this is just the cleaned text; for a spaced one it
    is the words concatenated (char grams then span word boundaries,
    which is what makes a 20-char gram comparable to a multi-word
    span)."""
    demarked = rrep(f"lower({e})", r"\p{M}", "")
    return rrep(demarked, r"[^\p{L}\p{N}]+", "")


def char_gram_array(s: str, n: int = DEFAULT_CHAR_N) -> str:
    """Array of character ``n``-grams over a normalized char-stream expr.

    *s* MUST be a bound COLUMN (projection/CTE) - it is referenced in
    the transform LAMBDA BODY and HOF lambdas are interpreted (the r4
    binding rule); ``length(s)`` sits in the ARGUMENT position and is
    evaluated once.  Streams shorter than *n* chars yield an empty set:
    the guarded sequence emits one short slice, dropped by the exact-
    length filter.  ``substring``/``length`` count CODE POINTS, so
    supplementary-plane letters - CJK Extension B+ ideographs (U+20000+)
    ARE ``\\p{L}`` and survive the normalization - occupy exactly one
    position (asserted in
    tests/test_decontam.py::test_char_grams_supplementary_plane)."""
    raw = (f"transform(sequence(1, greatest(length({s}) - {n - 1}, 1)),"
           f" i -> substring({s}, i, {n}))")
    return f"filter({raw}, x -> length(x) = {n})"


def _char_gram_hashes_expr(n: int) -> str:
    """Spark SQL: array<bigint> of xxhash64'd char n-grams of a bound
    char-stream column."""
    grams = char_gram_array(_CHARS_SENTINEL, n)
    return f"transform({grams}, g -> xxhash64(g))"


def bench_gram_hashes(benchmark: DataFrame, *, n: int = DEFAULT_N,
                      text_col: str = "text") -> DataFrame:
    """Distinct xxhash64 n-gram hashes of the benchmark texts.

    One column ``gh: bigint``.  Small by construction (eval suites), so
    callers broadcast it; the distinct is a shuffle of the benchmark side
    only, never of the corpus.
    """
    words = F.expr(norm_words(text_col))
    return (benchmark
            .select(words.alias(_WORDS_SENTINEL))
            .select(F.explode(F.expr(_gram_hashes_expr(n))).alias("gh"))
            .distinct())


def bench_char_gram_hashes(benchmark: DataFrame, *,
                           n: int = DEFAULT_CHAR_N,
                           text_col: str = "text") -> DataFrame:
    """Distinct xxhash64 char n-gram hashes of the benchmark texts -
    the char-side twin of ``bench_gram_hashes`` (one column ``gh``)."""
    stream = F.expr(char_stream(text_col))
    return (benchmark
            .select(stream.alias(_CHARS_SENTINEL))
            .select(F.explode(
                F.expr(_char_gram_hashes_expr(n))).alias("gh"))
            .distinct())


def _hit_counts(exploded: DataFrame, bench: DataFrame, id_col: str,
                hits_col: str) -> DataFrame:
    """(id, gh) stream -> per-doc distinct-hit counts vs the broadcast
    benchmark hash set - the shared overlap core of both gram modes."""
    return (exploded
            .join(F.broadcast(bench), "gh")
            .groupBy(id_col)
            .agg(F.count_distinct("gh").cast("long").alias(hits_col)))


def _rejoin_hits(docs: DataFrame, hits: DataFrame, id_col: str,
                 hits_col: str) -> DataFrame:
    return (docs
            .join(F.broadcast(hits), id_col, "left")
            .withColumn(hits_col,
                        F.coalesce(F.col(hits_col), F.lit(0)).cast("long")))


def _char_hit_counts(docs: DataFrame, benchmark: DataFrame, n: int,
                     id_col: str, text_col: str,
                     bench_text_col: str) -> DataFrame:
    """Per-doc distinct char-n-gram hit counts vs the broadcast
    benchmark char-gram hash set (the explode side of the char branch,
    shared by ``decontaminate_chars`` and ``decontaminate``)."""
    bench = bench_char_gram_hashes(benchmark, n=n,
                                   text_col=bench_text_col)
    stream = F.expr(char_stream(text_col))
    exploded = (docs
                .select(F.col(id_col), stream.alias(_CHARS_SENTINEL))
                .select(id_col,
                        F.explode(
                            F.expr(_char_gram_hashes_expr(n))).alias("gh")))
    return _hit_counts(exploded, bench, id_col, "n_char_hits")


def decontaminate(docs: DataFrame, benchmark: DataFrame, *,
                  n: int = DEFAULT_N, char_n: int | None = None,
                  id_col: str = "doc_id", text_col: str = "text",
                  bench_text_col: str = "text") -> DataFrame:
    """All *docs* columns + ``n_hits`` (distinct benchmark word n-grams
    found in the doc, bigint) + ``contaminated``.  With *char_n* set,
    also ``n_char_hits`` (distinct benchmark char n-grams found) and
    ``contaminated`` becomes word-hit OR char-hit - enable it whenever
    the corpus admits space-free scripts, whose texts produce no word
    13-grams at all (zh/ja/ko would otherwise be unprotected).

    Plan shape (asserted in tests/test_decontam.py): the corpus side is
    scan -> projection (gram hashes) -> explode -> BroadcastHashJoin
    against the benchmark hash set -> tiny count-distinct on matches ->
    broadcast left join of the hit counts back onto *docs*.  Zero
    corpus-wide exchanges; survives a 100x scale-up as long as the
    benchmark fits in a broadcast (eval suites do, by orders of
    magnitude).  The char branch repeats the same shape (one more scan
    of the corpus projection, still shuffle-free).
    """
    bench = bench_gram_hashes(benchmark, n=n, text_col=bench_text_col)
    words = F.expr(norm_words(text_col))
    exploded = (docs
                .select(F.col(id_col),
                        words.alias(_WORDS_SENTINEL))
                .select(id_col,
                        F.explode(F.expr(_gram_hashes_expr(n))).alias("gh")))
    out = _rejoin_hits(docs, _hit_counts(exploded, bench, id_col, "n_hits"),
                       id_col, "n_hits")
    if char_n is None:
        return out.withColumn("contaminated", F.col("n_hits") > 0)
    # Char hits explode from the ORIGINAL docs, not the word-joined
    # spine: Spark has no join elimination, so deriving the char stream
    # from `out` would drag the whole word-gram explode/aggregate
    # subtree into the char branch's lineage and run it twice.
    char_hits = _char_hit_counts(docs, benchmark, char_n, id_col,
                                 text_col, bench_text_col)
    return (_rejoin_hits(out, char_hits, id_col, "n_char_hits")
            .withColumn("contaminated",
                        (F.col("n_hits") > 0)
                        | (F.col("n_char_hits") > 0)))


def decontaminate_chars(docs: DataFrame, benchmark: DataFrame, *,
                        n: int = DEFAULT_CHAR_N, id_col: str = "doc_id",
                        text_col: str = "text",
                        bench_text_col: str = "text") -> DataFrame:
    """Character-n-gram decontamination: all *docs* columns +
    ``n_char_hits`` + ``contaminated`` (n_char_hits > 0).  The operator
    for space-free scripts - identical broadcast skeleton, grams taken
    over the normalized char stream (``char_stream``) instead of the
    words array, so zh/ja/ko benchmark spans are caught even though
    they normalize to a single word token."""
    out = _rejoin_hits(docs,
                       _char_hit_counts(docs, benchmark, n, id_col,
                                        text_col, bench_text_col),
                       id_col, "n_char_hits")
    return out.withColumn("contaminated", F.col("n_char_hits") > 0)


def remove_contaminated(docs: DataFrame, benchmark: DataFrame, *,
                        n: int = DEFAULT_N, char_n: int | None = None,
                        id_col: str = "doc_id", text_col: str = "text",
                        bench_text_col: str = "text") -> DataFrame:
    """The filtering form: *docs* minus contaminated rows (original
    columns only) - what a training-data build actually calls.  Pass
    *char_n* to also screen char-n-gram overlap (CJK protection)."""
    flagged = decontaminate(docs, benchmark, n=n, char_n=char_n,
                            id_col=id_col,
                            text_col=text_col, bench_text_col=bench_text_col)
    drop = ["contaminated", "n_hits"] + (
        ["n_char_hits"] if char_n is not None else [])
    return flagged.where(~F.col("contaminated")).drop(*drop)
