"""Analyzer unit tests (SURVEY §5.2 item 3): fixed input → exact token
arrays for the four reference analyzers (settings.json:8-45) and their
primitives, including the edge cases called out in SURVEY §7."""

from __future__ import annotations

import sys
import threading
import time
import uuid
from collections import OrderedDict

import pytest
from pyspark.sql import functions as F

from tweets_elastic_spark.functions import analyzers as A
from tweets_elastic_spark.functions.stemmer import porter_stem


def run(spark, col_fn, text):
    row = spark.range(1).select(col_fn(F.lit(text)).alias("out")).head()
    out = row["out"]
    return list(out) if out is not None else None


# -- primitives -------------------------------------------------------------

def test_html_strip(spark):
    got = spark.range(1).select(
        A.html_strip(F.lit("<p>Hello &amp; <b>world</b></p>")).alias("s")
    ).head()["s"]
    assert got == " Hello &  world  "


def test_standard_tokenize_drops_empties_and_punct(spark):
    assert run(spark, A.standard_tokenize, "  Hello,   world! 42 ") == [
        "Hello", "world", "42",
    ]


def test_standard_tokenize_unicode_letters(spark):
    assert run(spark, A.standard_tokenize, "naïve café “quoted”") == [
        "naïve", "café", "quoted",
    ]


def test_possessive_stemmer_both_apostrophes(spark):
    f = lambda c: A.possessive_stem(A.standard_tokenize(c))  # noqa: E731
    # straight apostrophe survives the tokenizer only if we tokenize after;
    # test the filter directly on pre-split tokens
    got = spark.range(1).select(
        A.possessive_stem(F.array(F.lit("Wilbur's"), F.lit("Soot’s"), F.lit("its"))).alias("t")
    ).head()["t"]
    assert list(got) == ["Wilbur", "Soot", "its"]


def test_english_stop_preserves_order_and_duplicates(spark):
    got = spark.range(1).select(
        A.english_stop(
            F.array(*[F.lit(t) for t in ["the", "cat", "sat", "cat", "on", "the", "mat"]])
        ).alias("t")
    ).head()["t"]
    assert list(got) == ["cat", "sat", "cat", "mat"]


def test_asciifold(spark):
    got = spark.range(1).select(
        A.asciifold(F.array(F.lit("naïve"), F.lit("Zoë"), F.lit("straße"), F.lit("Ærø"))).alias("t")
    ).head()["t"]
    assert list(got) == ["naive", "Zoe", "strasse", "AEro"]


def test_char_ngrams_max_gram_boundary(spark):
    # token length 3 with max_gram 2: grams by position then length
    got = run(spark, lambda c: A.char_ngrams(A.standard_tokenize(c), 1, 2), "abc")
    assert got == ["a", "ab", "b", "bc", "c"]


def test_char_ngrams_long_token_capped_at_10(spark):
    got = run(spark, lambda c: A.char_ngrams(A.standard_tokenize(c), 1, 10), "abcdefghijkl")
    assert max(len(g) for g in got) == 10
    # every substring of length<=10 present
    assert "abcdefghij" in got and "cdefghijkl" in got and "abcdefghijk" not in got


def test_shingles_glued_bigrams(spark):
    # docs/protokol.md:330-340: "wilbur soot" → wilbur, soot, wilbursoot
    got = run(spark, lambda c: A.shingles(A.standard_tokenize(c)), "wilbur soot smith")
    assert got == ["wilbur", "soot", "smith", "wilbursoot", "sootsmith"]


def test_shingles_single_token_no_bigrams(spark):
    assert run(spark, lambda c: A.shingles(A.standard_tokenize(c)), "solo") == ["solo"]


# -- Porter stemmer (canonical algorithm outputs) ---------------------------

@pytest.mark.parametrize(
    "word,stem",
    [
        ("caresses", "caress"), ("ponies", "poni"), ("ties", "ti"),
        ("cats", "cat"), ("feed", "feed"), ("agreed", "agre"),
        ("plastered", "plaster"), ("bled", "bled"), ("motoring", "motor"),
        ("sing", "sing"), ("conflated", "conflat"), ("troubled", "troubl"),
        ("sized", "size"), ("hopping", "hop"), ("tanned", "tan"),
        ("falling", "fall"), ("hissing", "hiss"), ("fizzed", "fizz"),
        ("failing", "fail"), ("filing", "file"), ("happy", "happi"),
        ("sky", "sky"), ("relational", "relat"), ("conditional", "condit"),
        ("rational", "ration"), ("digitizer", "digit"), ("operator", "oper"),
        ("feudalism", "feudal"), ("decisiveness", "decis"),
        ("hopefulness", "hope"), ("formaliti", "formal"),
        ("sensitiviti", "sensit"), ("sensibiliti", "sensibl"),
        ("electriciti", "electr"), ("electrical", "electr"),
        ("hopeful", "hope"), ("goodness", "good"), ("revival", "reviv"),
        ("allowance", "allow"), ("inference", "infer"),
        ("adjustable", "adjust"), ("defensible", "defens"),
        ("replacement", "replac"), ("adoption", "adopt"),
        ("communism", "commun"), ("activate", "activ"),
        ("effective", "effect"), ("rate", "rate"),
        ("controlling", "control"), ("rolling", "roll"),
        ("running", "run"), ("argument", "argument"),
    ],
)
def test_porter_stem_canonical(word, stem):
    assert porter_stem(word) == stem


# -- composed analyzers AN1-AN4 ---------------------------------------------

def test_englando_full_pipeline(spark):
    text = "<b>The</b> fïancé's tweets were troubling the OPERATORS"
    # html_strip → tokenize → possessive → lower → stop → porter
    # (englando has NO asciifolding — fïancé keeps its diacritics)
    got = run(spark, A.analyzer_englando, text)
    assert got == ["fïancé", "tweet", "were", "troubl", "oper"]


def test_custom_ngram_pipeline(spark):
    got = run(spark, A.analyzer_custom_ngram, "Zoë")
    # lowercase → asciifold("zoë"→"zoe") → char grams pos-major
    assert got == ["z", "zo", "zoe", "o", "oe", "e"]


def test_custom_shingles_pipeline(spark):
    got = run(spark, A.analyzer_custom_shingles, "Wilbur Soot")
    assert got == ["wilbur", "soot", "wilbursoot"]


def test_keyword_lowercase_pipeline(spark):
    assert run(spark, A.analyzer_keyword_lowercase, "Ukraine") == ["ukraine"]


def test_analyze_text_query_time(spark):
    assert A.analyze_text(spark, "The Persons", "englando") == ["person"]


# -- query-time literal path vs the column path ------------------------------

PARITY_INPUTS = [
    "Wilbur Soot plays Minecraft",
    "the THE of running runs",
    "<p>Tom &amp; Jerry&#39;s &lt;show&gt;&nbsp;now</p>",
    "The fiancé's tweets’s Persons' running",
    "naïve straße ﬁne ½ Ærø",
    "𝐀𝐁 math bold",
    "東京 タワー 中文",
    "",
    "   ",
]


@pytest.fixture(scope="module")
def column_path_tokens(spark):
    """The reference: every analyzer over every input through
    ``analyze`` on a DataFrame column (the pandas UDFs included)."""
    df = spark.createDataFrame(list(enumerate(PARITY_INPUTS)), "i int, t string")
    rows = df.select(
        "i", *[A.analyze(F.col("t"), name).alias(name) for name in A.ANALYZERS]
    ).collect()
    return {
        (name, PARITY_INPUTS[r["i"]]): list(r[name])
        for r in rows for name in A.ANALYZERS
    }


@pytest.mark.parametrize("text", PARITY_INPUTS)
@pytest.mark.parametrize("name", list(A.ANALYZERS))
def test_analyze_text_matches_column_path(spark, column_path_tokens, name, text):
    A._ANALYZE_TEXT_CACHE.pop((text, name), None)
    assert A.analyze_text(spark, text, name) == column_path_tokens[(name, text)]


@pytest.mark.parametrize("name", ["custom_shingles", "englando"])
def test_analyze_text_scalar_query_value(spark, name):
    # DSL JSON may carry a number as the match query
    assert A.analyze_text(spark, 42, name) == A.analyze_text(spark, "42", name)


def test_analyze_text_launches_no_job(spark):
    sc = spark.sparkContext
    group = f"analyze-text-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "query-time analysis of never-seen texts")
    try:
        for name in A.ANALYZERS:
            A.analyze_text(spark, f"fresh {group}", name)
            A.analyze_text(spark, f"naïve {group}", name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_analyze_text_cache_is_a_bounded_lru(spark, monkeypatch):
    monkeypatch.setattr(A, "_ANALYZE_TEXT_CACHE_SIZE", 2)
    monkeypatch.setattr(A, "_ANALYZE_TEXT_CACHE", OrderedDict())
    for text in ("one", "two", "one", "three"):
        A.analyze_text(spark, text, "standard")
    # "two" was least recently used when "three" arrived
    assert list(A._ANALYZE_TEXT_CACHE) == [("one", "standard"), ("three", "standard")]
    got = A.analyze_text(spark, "one", "standard")
    got.append("mutated")
    assert A.analyze_text(spark, "one", "standard") == ["one"]


class _YieldingDict(OrderedDict):
    """Yields the interpreter after each lookup and store, so threads
    interleave inside any unsynchronized check-then-act on the cache."""

    def get(self, key, default=None):
        out = super().get(key, default)
        time.sleep(0)
        return out

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        time.sleep(0)


def test_analyze_text_cache_under_concurrent_callers(spark, monkeypatch):
    # hits and evictions interleave across threads; a lost update shows as
    # a KeyError from move_to_end or a cache past its bound
    monkeypatch.setattr(A, "_ANALYZE_TEXT_CACHE_SIZE", 3)
    monkeypatch.setattr(A, "_ANALYZE_TEXT_CACHE", _YieldingDict())
    monkeypatch.setattr(A, "_evaluate_literal", lambda spark, value, steps: value.split())
    errors = []

    def caller(seed):
        try:
            for i in range(500):
                text = f"t{(seed * 7 + i) % 5}"
                assert A.analyze_text(spark, text, "standard") == [text]
        except Exception as e:  # noqa: BLE001 — reported to the main thread
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=caller, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(A._ANALYZE_TEXT_CACHE) <= 3


def test_materialize_tokens_multifield(spark):
    df = spark.createDataFrame([(1, "Wilbur Soot")], "id long, name string")
    out = A.materialize_tokens(df, {"name": ["custom_ngram", "custom_shingles"]})
    assert "name__custom_ngram" in out.columns
    assert "name__custom_shingles" in out.columns
    row = out.head()
    assert "wilbursoot" in list(row["name__custom_shingles"])


def test_char_ngrams_min_gram_above_one_no_fabricated_grams(spark):
    """min_gram=2: tail positions must not emit sub-min_gram grams (a
    descending sequence bug would fabricate duplicated 1-char grams)."""
    from tweets_elastic_spark.functions.analyzers import char_ngrams

    row = spark.range(1).select(
        char_ngrams(F.array(F.lit("abc")), 2, 10).alias("g")
    ).head()
    assert list(row["g"]) == ["ab", "abc", "bc"]
    # token shorter than min_gram yields nothing
    row2 = spark.range(1).select(
        char_ngrams(F.array(F.lit("a")), 2, 10).alias("g")
    ).head()
    assert list(row2["g"]) == []


def test_trim_truncate_unique_fingerprint_filters(spark):
    from tweets_elastic_spark.functions.analyzers import (
        analyze, fingerprint_filter, trim_tokens, truncate_tokens,
        unique_tokens,
    )

    df = spark.createDataFrame([(" b ", ["  a ", "b"], ["b", "a", "b"])],
                               "s string, t array<string>, u array<string>")
    row = df.select(
        trim_tokens("t").alias("trim"),
        truncate_tokens(F.col("u"), 1).alias("trunc"),
        unique_tokens("u").alias("uniq"),
        fingerprint_filter("u").alias("fp"),
    ).head()
    assert list(row["trim"]) == ["a", "b"]
    assert list(row["trunc"]) == ["b", "a", "b"]
    assert list(row["uniq"]) == ["b", "a"]       # first occurrence kept
    assert list(row["fp"]) == ["a b"]            # sorted, deduped, joined
    with pytest.raises(ValueError, match=">= 1"):
        df.select(truncate_tokens(F.col("u"), 0))
    # the full fingerprint analyzer: tokenize, lower, fold, normalize
    out = spark.createDataFrame(
        [("The quick  brown the QUICK fox",), ("",), ("  ",)],
        "text string",
    ).select(analyze(F.col("text"), "fingerprint").alias("fp")).collect()
    assert list(out[0]["fp"]) == ["brown fox quick the"]
    assert list(out[1]["fp"]) == [] and list(out[2]["fp"]) == []

def test_englando_oracle_vocab_covers_corpus():
    """The englando oracle's stem CASE is a fixture over the corpus's
    fixed vocabulary; this guard keeps the fixture complete — if the
    testdata generator ever widens the vocabulary, this fails before a
    ~MISSINGSTEM sentinel can redden the driver row."""
    import duckdb

    from tweets_elastic_spark.queries.text import _ENGLANDO_VOCAB

    con = duckdb.connect()
    vocab = set()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        rows = con.execute(f"""
            SELECT DISTINCT unnest(list_filter(
                regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                x -> x <> ''))
            FROM read_parquet('/root/testdata/{sf}/documents.parquet')
        """).fetchall()
        vocab.update(r[0].lower() for r in rows)
    assert vocab <= set(_ENGLANDO_VOCAB), (
        f"corpus vocabulary outgrew the oracle fixture: "
        f"{sorted(vocab - set(_ENGLANDO_VOCAB))}"
    )
