"""Text-analyzer pipelines as composable Column functions (SURVEY §2.8).

The reference declares four custom Elasticsearch analyzers
(/root/reference/src/config/settings.json:8-45) bound to text fields in the
index mapping; analysis happens at index time (per-document) and at query
time (per query string). Here each Lucene primitive (T1-T10) is an
analyzer step and each analyzer (AN1-AN4, plus ES's built-in standard and
fingerprint) ONE ordered list of steps in ``ANALYZERS``. The same list
serves both times:

* index time — ``analyze`` composes it over a DataFrame column
  (``materialize_tokens``);
* query time — ``analyze_text`` evaluates it over one literal string on
  the driver: JVM steps as a projection Catalyst folds into a local
  relation, Python steps in-process. No Spark job, no Python worker.

Steps are JVM-side built-ins everywhere possible (whole-stage codegen);
Python appears only in the two genuinely-custom primitives — asciifolding
and Porter stemming — as ``TokenMap`` steps: one per-token function, run
in Arrow-batched Pandas UDFs on columns (SURVEY §2.10), never
row-at-a-time. Char n-grams and shingles are pure SQL higher-order
expressions.
"""

from __future__ import annotations

import threading
import unicodedata
from collections import OrderedDict
from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from tweets_elastic_spark.functions.stemmer import porter_stem

# ---------------------------------------------------------------------------
# T1: html_strip char filter (settings.json:12,23,33)
# ---------------------------------------------------------------------------

_HTML_ENTITIES = [
    ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "),
]


def html_strip(c: Column) -> Column:
    out = F.regexp_replace(c, r"<[^>]*>", " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return out


# ---------------------------------------------------------------------------
# T2: standard tokenizer (settings.json:11,22,32) — Unicode word-boundary
# (UAX#29) approximation: split on runs of non-letter/non-digit, but keep
# apostrophes BETWEEN letters in the token (MidNumLet rule: "fïancé's" is
# one token — which is why the possessive stemmer exists downstream), then
# trim apostrophes that ended up at token edges.
# ---------------------------------------------------------------------------

def standard_tokenize(c: Column) -> Column:
    toks = F.split(c, r"[^\p{L}\p{N}'’]+")
    toks = F.transform(toks, lambda t: F.regexp_replace(t, r"^['’]+|['’]+$", ""))
    return F.filter(toks, lambda t: t != F.lit(""))


# T3: keyword tokenizer (settings.json:42) — whole input is one token.
def keyword_tokenize(c: Column) -> Column:
    return F.array(c)


# T4: lowercase token filter (settings.json:15,25,35,43)
def lowercase(toks: Column) -> Column:
    return F.transform(toks, F.lower)


# ---------------------------------------------------------------------------
# Per-token Python maps (T5, T8). Each is ONE per-token function; the
# column path runs it inside an Arrow-batched pandas UDF (SURVEY §2.10),
# the literal path (``analyze_text``) calls it in-process.
# ---------------------------------------------------------------------------

class TokenMap:
    """An analyzer step that maps every token through a Python function.

    Called on a Column it applies ``fn`` through a pandas UDF named
    ``name`` (built once, so repeated uses stay CSE-able). ``analyze_text``
    calls ``fn`` directly. ``ascii_identity`` declares that ``fn`` maps
    every ASCII token to itself; since every JVM step here maps ASCII
    text to ASCII tokens, ``analyze_text`` skips such a step for an ASCII
    query string."""

    def __init__(self, name: str, fn: Callable[[str], str], ascii_identity: bool = False):
        self.fn = fn
        self.ascii_identity = ascii_identity

        def per_batch(batch: pd.Series) -> pd.Series:
            return batch.map(lambda toks: None if toks is None else [fn(t) for t in toks])

        per_batch.__name__ = per_batch.__qualname__ = name
        self._udf = F.pandas_udf(per_batch, ArrayType(StringType()))

    def __call__(self, toks: Column) -> Column:
        return self._udf(toks)


# ---------------------------------------------------------------------------
# T5: asciifolding (settings.json:26,36). NFKD-decompose, strip combining
# marks, plus the Latin ligature/special-letter foldings NFKD doesn't cover
# (subset of Lucene's table; divergence documented).
# ---------------------------------------------------------------------------

_FOLD_TABLE = str.maketrans({
    "ß": "ss", "æ": "ae", "Æ": "AE", "ø": "o", "Ø": "O", "œ": "oe",
    "Œ": "OE", "đ": "d", "Đ": "D", "ð": "d", "Ð": "D", "þ": "th",
    "Þ": "TH", "ł": "l", "Ł": "L", "ı": "i",
})


def _fold_one(t: str) -> str:
    # ASCII fast path (guide §4.2 — make the per-batch work cheap): an
    # all-ASCII token has no combining marks, NFKD is the identity, and
    # every _FOLD_TABLE key is non-ASCII — folding is a no-op. str.isascii
    # is a single C scan, vs NFKD + a join per token; real corpora are
    # overwhelmingly ASCII tokens.
    if t.isascii():
        return t
    t = t.translate(_FOLD_TABLE)
    return "".join(
        ch for ch in unicodedata.normalize("NFKD", t) if not unicodedata.combining(ch)
    )


asciifold = TokenMap("_asciifold_udf", _fold_one, ascii_identity=True)


# T6: english_possessive_stemmer (settings.json:56-59) — strip 's / ’s.
def possessive_stem(toks: Column) -> Column:
    return F.transform(toks, lambda t: F.regexp_replace(t, r"['’]s$", ""))


# ---------------------------------------------------------------------------
# T7: english_stop (settings.json:60-63) — Lucene's English stopword list;
# preserves order and duplicates of the surviving tokens (array_except would
# dedup, so a HOF filter is used instead).
# ---------------------------------------------------------------------------

ENGLISH_STOPWORDS = [
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such", "that",
    "the", "their", "then", "there", "these", "they", "this", "to", "was",
    "will", "with",
]


def english_stop(toks: Column) -> Column:
    return F.filter(toks, lambda t: ~t.isin(ENGLISH_STOPWORDS))


# ---------------------------------------------------------------------------
# T8: english_stemmer (settings.json:64-67) — Porter, custom UDF item.
# ---------------------------------------------------------------------------

# Memo shared across batches AND tasks: ``_stem_one`` is a module function,
# so the UDF pickles it by reference and a reused Python worker
# (spark.python.worker.reuse, default on) keeps this module global across
# tasks (guide §4.5). Pure-function cache, bounded by corpus vocabulary;
# never grows past a few hundred k entries on real text.
_PORTER_CACHE: dict[str, str] = {}


def _stem_one(t: str) -> str:
    s = _PORTER_CACHE.get(t)
    if s is None:
        s = _PORTER_CACHE[t] = porter_stem(t)
    return s


porter_stem_tokens = TokenMap("_porter_udf", _stem_one)


# ---------------------------------------------------------------------------
# T9: char n-gram filter, min_gram=1 max_gram=10 (settings.json:47-51) —
# pure SQL higher-order expression (no Python): for each token, every
# substring of length 1..10, ordered by start position then length
# (matching ES's position-major emission order).
# ---------------------------------------------------------------------------

def char_ngrams(toks: Column, min_gram: int = 1, max_gram: int = 10) -> Column:
    def grams_of(t: Column) -> Column:
        # start positions stop at length - min_gram + 1: beyond that the
        # remaining tail is shorter than min_gram and the inner sequence
        # would run DESCENDING, fabricating sub-min_gram grams
        starts = F.sequence(F.lit(1), F.length(t) - F.lit(min_gram - 1))
        return F.flatten(
            F.transform(
                starts,
                lambda i: F.transform(
                    F.sequence(
                        F.lit(min_gram),
                        F.least(F.lit(max_gram), F.length(t) - i + 1),
                    ),
                    lambda n: F.substring(t, i, n),
                ),
            )
        )

    # guard: tokens shorter than min_gram yield no grams (and keep the
    # outer starts sequence ascending)
    return F.flatten(
        F.transform(
            F.filter(toks, lambda t: F.length(t) >= min_gram),
            grams_of,
        )
    )


# ---------------------------------------------------------------------------
# T10: shingle filter, token_separator="" (settings.json:52-55) — ES shingle
# emits unigrams AND glued adjacent bigrams ("wilbur soot" → wilbur, soot,
# wilbursoot), per docs/protokol.md:330-340.
# ---------------------------------------------------------------------------

def shingles(toks: Column) -> Column:
    # zip each token with its successor; the input array appears only as a
    # direct argument (never inside a lambda body), so this stays legal even
    # when `toks` is the output of a Python UDF (Catalyst rejects
    # LAMBDA_FUNCTION_WITH_PYTHON_UDF otherwise). zip_with pads the shorter
    # side with null → concat yields null → filtered out.
    rest = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    bigrams = F.filter(
        F.zip_with(toks, rest, lambda a, b: F.concat(a, b)),
        lambda g: g.isNotNull(),
    )
    return F.concat(toks, bigrams)


def trim_tokens(toks: Column) -> Column:
    """ES ``trim`` token filter: strip leading/trailing whitespace from
    each token (tokens that become empty stay — ES's behavior; chain
    with a length/stop filter to drop them). The lambda is single-arg on
    purpose: HOF callables are arity-dispatched, and a bare ``F.trim``
    (which has an optional second parameter) would receive the element
    INDEX as its trim-character set."""
    return F.transform(toks, lambda t: F.trim(t))


def truncate_tokens(toks: Column, length: int = 10) -> Column:
    """ES ``truncate`` token filter: cut every token to ``length``
    characters (default 10, ES's default)."""
    if length < 1:
        raise ValueError("truncate length must be >= 1")
    return F.transform(toks, lambda t: F.substring(t, 1, length))


def unique_tokens(toks: Column) -> Column:
    """ES ``unique`` token filter: drop duplicate tokens, keeping each
    first occurrence in stream order (``only_on_same_position`` is not
    supported — positions aren't tracked here)."""
    return F.array_distinct(toks)


def fingerprint_filter(toks: Column) -> Column:
    """ES ``fingerprint`` token filter: sort, dedupe and concatenate the
    stream into ONE output token (the OpenRefine-style clustering
    normalizer behind the fingerprint analyzer). An empty stream stays
    empty, ES's contract."""
    joined = F.array_join(F.array_sort(F.array_distinct(toks)), " ")
    return F.when(
        joined == F.lit(""), F.array().cast("array<string>")
    ).otherwise(F.array(joined))


# ---------------------------------------------------------------------------
# Composed analyzers (settings.json:8-45 plus ES's built-in standard and
# fingerprint): ONE ordered step list per analyzer, filter order mirroring
# the ES definitions exactly. A step is a JVM ``Column -> Column`` function
# or a ``TokenMap``; ``analyze`` composes a list over a column,
# ``analyze_text`` evaluates the same list over one literal string.
# ---------------------------------------------------------------------------

ANALYZERS: dict[str, list[Callable[[Column], Column]]] = {
    # AN1, settings.json:9-19 — no asciifolding: "fïancé" keeps its marks
    "englando": [html_strip, standard_tokenize, possessive_stem, lowercase,
                 english_stop, porter_stem_tokens],
    # AN2, settings.json:20-29 — ngram(1,10)
    "custom_ngram": [html_strip, standard_tokenize, lowercase, asciifold,
                     char_ngrams],
    # AN3, settings.json:30-39
    "custom_shingles": [html_strip, standard_tokenize, lowercase, asciifold,
                        shingles],
    # AN4, settings.json:40-44 — hashtags match case-insensitively as a
    # single unit (docs/protokol.md:304)
    "keyword_lowercase": [keyword_tokenize, lowercase],
    # ES's built-in default for a text field with no custom analyzer; the
    # query-DSL front-end's match_phrase positions are over these plain
    # word tokens, not shingled/ngrammed streams
    "standard": [standard_tokenize, lowercase],
    # ES's built-in fingerprint analyzer (no stopwords by default): one
    # token out, the sorted-deduped-space-joined normal form — equal
    # fingerprints mean the same word multiset, the near-dup clustering key
    "fingerprint": [standard_tokenize, lowercase, asciifold,
                    fingerprint_filter],
}


def analyze(c: Column | str, analyzer: str) -> Column:
    """Index-time analysis: column → array<string> of tokens."""
    if isinstance(c, str):
        c = F.col(c)
    for step in ANALYZERS[analyzer]:
        c = step(c)
    return c


def analyzer_englando(c: Column) -> Column:
    return analyze(c, "englando")


def analyzer_custom_ngram(c: Column) -> Column:
    return analyze(c, "custom_ngram")


def analyzer_custom_shingles(c: Column) -> Column:
    return analyze(c, "custom_shingles")


def analyzer_keyword_lowercase(c: Column) -> Column:
    return analyze(c, "keyword_lowercase")


def analyzer_standard(c: Column) -> Column:
    return analyze(c, "standard")


def analyzer_fingerprint(c: Column) -> Column:
    return analyze(c, "fingerprint")


# Query-text memo, an LRU behind a lock (query trees may be built from
# several threads). The size is far above the ~220 distinct (text,
# analyzer) pairs of a 1 000-request search stream.
_ANALYZE_TEXT_CACHE_SIZE = 4096
_ANALYZE_TEXT_CACHE: OrderedDict[tuple[str, str], tuple[str, ...]] = OrderedDict()
_ANALYZE_TEXT_LOCK = threading.Lock()


def _evaluate_literal(spark, value, steps: list) -> list[str]:
    """Evaluate JVM ``steps`` over one literal: a projection over a one-row
    inline table, which ConvertToLocalRelation folds into a LocalRelation,
    so ``collect`` runs on the driver and launches no job."""
    # an empty token list binds as array<void>; the cast restores the type
    c = F.col("x").cast("array<string>") if isinstance(value, list) else F.col("x")
    for step in steps:
        c = step(c)
    rows = spark.sql(
        "SELECT * FROM VALUES (:v) AS v(x)", args={"v": value}
    ).select(c).collect()
    return list(rows[0][0])


def analyze_text(spark, text: str, analyzer: str) -> list[str]:
    """Query-time analysis of one string (ES analyzes the query with the
    target field's analyzer before matching, SURVEY §2.7 Q5).

    Runs the analyzer's step list on the driver with no Spark job and no
    Python worker: each maximal run of JVM steps is one
    ``_evaluate_literal`` and each ``TokenMap`` calls its function
    in-process (skipped for an ASCII string when it is the identity on
    ASCII tokens). Memoized in an LRU of ``_ANALYZE_TEXT_CACHE_SIZE``
    entries — a query tree may ask for the same analysis several times
    (predicate + score); callers get a fresh list."""
    key = (text, analyzer)
    with _ANALYZE_TEXT_LOCK:
        hit = _ANALYZE_TEXT_CACHE.get(key)
        if hit is not None:
            _ANALYZE_TEXT_CACHE.move_to_end(key)
            return list(hit)
    # a scalar query value from DSL JSON (``{"match": {"f": 42}}``) is
    # analyzed as its string form, as the column path's implicit cast does
    ascii_text = str(text).isascii()
    value = text
    jvm_steps: list = []
    for step in ANALYZERS[analyzer]:
        if not isinstance(step, TokenMap):
            jvm_steps.append(step)
        elif not (step.ascii_identity and ascii_text):
            if jvm_steps:
                value = _evaluate_literal(spark, value, jvm_steps)
                jvm_steps = []
            value = [step.fn(t) for t in value]
    tokens = tuple(_evaluate_literal(spark, value, jvm_steps) if jvm_steps else value)
    with _ANALYZE_TEXT_LOCK:
        _ANALYZE_TEXT_CACHE[key] = tokens
        _ANALYZE_TEXT_CACHE.move_to_end(key)
        while len(_ANALYZE_TEXT_CACHE) > _ANALYZE_TEXT_CACHE_SIZE:
            _ANALYZE_TEXT_CACHE.popitem(last=False)
    return list(tokens)


def pin_computed(c: Column) -> Column:
    """Pin an expensive computed column to ONE evaluation site.

    Wraps ``c`` in a trivially-true CASE WHEN whose condition
    (``spark_partition_id() >= 0``) is classified non-deterministic, which
    forbids Catalyst from (a) duplicating the expression below a filter it
    pushes down and (b) pushing filters that reference the column beneath
    the projection that computes it. Without the pin, a match predicate
    over an analyzed token column is pushed below the fan-out exchange
    with a SECOND copy of the whole analyzer chain — the expensive
    Arrow-UDF analysis then runs twice, and the pushed copy runs at the
    raw scan's parallelism (a single task on a one-row-group parquet
    file). With it, the column is computed exactly once, above the
    exchange, and every consumer (filter and score alike) reads the
    attribute (guide §4.4 — the asNondeterministic idea applied to the
    column rather than the UDF, which keeps the UDF itself CSE-able).
    Values are unchanged: the branch condition is always true.

    Schema note: CASE WHEN without an ELSE is nullable, so the pinned
    column's schema reports nullable=true even when ``c`` never is.
    Values are unaffected (the branch always fires); strict-schema
    consumers that need the original nullability must re-assert it
    downstream (no declared query or oracle does)."""
    return F.when(F.spark_partition_id() >= 0, c)


def materialize_tokens(df: DataFrame, spec: dict[str, list[str]]) -> DataFrame:
    """Index-time token materialization: the multi-field analogue
    (mapping.json:23-54 — one source field indexed several ways). Adds a
    ``{col}__{analyzer}`` array column per requested pairing, pinned to a
    single evaluation site (see ``pin_computed``)."""
    for col_name, analyzers in spec.items():
        for an in analyzers:
            df = df.withColumn(
                f"{col_name}__{an}", pin_computed(analyze(col_name, an))
            )
    return df


def lower_alnum_tokens(c: Column) -> Column:
    """The lowercase-alnum pre-tokenization the training-pipeline
    operators share (DSIR features, BPE word counts, chunking, UniMax
    token counts): split lower(text) on ``[^a-z0-9]+``, drop empties.
    ONE definition so the operators can never silently disagree; the
    DuckDB oracle mirror is
    ``list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
    x -> x <> '')``. (The ``standard`` analyzer differs: it keeps
    apostrophes.)"""
    return F.filter(
        F.split(F.lower(c), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )
