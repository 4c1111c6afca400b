"""``search``: the searcher sending Elasticsearch requests.

A closed loop with one client walks a seeded request stream, generated
before timing, in whole epochs until the measuring time is up. Three
request classes:

* ``nested`` (class a) — the reference query shape over the tweet
  documents that set-up wrote with ``pipeline.etl_full``: function_score
  over a bool with a weighted nested match on
  ``context_annotations.domain.name``, range filters on ``author.*_count``
  with random thresholds and a nested exists on ``links.url``; top-k by
  score. Compiled by ``plans.search.from_es_json``, run by ``search``.
* ``text`` — analyzed ``match``, ``multi_match`` and BM25 requests over
  ``documents`` through ``from_es_json`` with inline analyzers and
  ``corpus_bm25_provider``. Query text is a pair of corpus words. Half the
  text requests carry a text the stream has not used before (``text_fresh``,
  class b); the other half repeat an earlier text of the same template,
  drawn Zipf-style (``text_repeat``, class d), which the analyzer and BM25
  memo caches can answer. The two kinds are timed apart, so a memo change
  shows on d alone and the assumed repeat share does not weight it.
* ``agg`` (class c) — ``plans.aggs.es_request`` bodies with aggs over
  ``events`` and ``documents``, and ``plans.esql.esql`` STATS queries over
  ``events``.

Each request's latency is the sum of its compile, build and action spans.
The class mix and the repeat share are assumptions, not measured traffic;
spec.json gives the reason for each.
"""

from __future__ import annotations

import os

import datagen
import duckdb
import harness
import numpy as np
import ingest

from tweets_elastic_spark.functions.analyzers import materialize_tokens
from tweets_elastic_spark.pipeline import PAGE_LOCAL_CHILDREN, etl_full
from tweets_elastic_spark.plans.aggs import es_request
from tweets_elastic_spark.plans.esql import esql
from tweets_elastic_spark.plans.search import corpus_bm25_provider, from_es_json, search
from tweets_elastic_spark.sources.catalog import fan_out, load_table

# request kinds; a kind is a class of the end-to-end metrics
KINDS = ("nested", "text_fresh", "agg", "text_repeat")
TEXT_TEMPLATES = ("match", "multi_match", "bm25")
AGG_TEMPLATES = ("events_terms", "docs_terms_top", "esql_stats")
NESTED_PATHS = frozenset(PAGE_LOCAL_CHILDREN)
K = 10

# DuckDB mirror of the custom_shingles analyzer: lowercase words plus
# glued bigrams (the corpus is ASCII, so asciifolding is the identity)
_TOKENS_SQL = """
    SELECT doc_id, lang, n_chars,
           list_concat(t, CASE WHEN len(t) >= 2
                               THEN list_transform(range(1, len(t)), i -> t[i] || t[i+1])
                               ELSE [] END) AS tokens
    FROM (SELECT doc_id, lang, n_chars,
                 list_transform(list_filter(
                     regexp_split_to_array(text, '[^a-zA-Z0-9'']+'), x -> x <> ''),
                   x -> lower(x)) AS t
          FROM documents)
"""


# One rotation of the stream: every (class, template) slot once per three
# requests of a class. Text requests are fresh in even rotations and
# repeats in odd ones, so an epoch of two rotations holds every (template,
# fresh/repeat) pair once; runs end on an epoch boundary, so every run
# measures the same mix.
ROTATION = [
    ("nested", None), ("text", "match"), ("agg", "events_terms"),
    ("nested", None), ("text", "multi_match"), ("agg", "docs_terms_top"),
    ("nested", None), ("text", "bm25"), ("agg", "esql_stats"),
]
EPOCH = 2 * len(ROTATION)


def _text_pools(rng: np.random.Generator) -> list[list[str]]:
    """Disjoint seeded pools of two-word query texts (ordered pairs of the
    corpus vocabulary): one per text template and a last one for warm-up,
    so no text is shared across templates or with the warm-up."""
    words = datagen.VOCAB
    pairs = [f"{a} {b}" for a in words for b in words if a != b]
    order = rng.permutation(len(pairs))
    k = len(TEXT_TEMPLATES) + 1
    return [[pairs[i] for i in order[j::k]] for j in range(k)]


def make_stream(seed: int, spec: dict, n: int, warm_up: bool = False) -> list[dict]:
    """The seeded request stream. Classes and templates follow ROTATION;
    parameters are drawn from the seed. Each text template alternates a
    fresh query text with a repeat of one of its earlier texts, drawn
    Zipf-style (the k-th most recent with weight k^-zipf_s), so the memo
    caches see a repeat share of exactly one half per epoch. Each request
    carries its ``kind``."""
    rng = np.random.default_rng([seed, 4])
    pools = _text_pools(rng)
    fresh = {t: iter(pools[-1][i::len(TEXT_TEMPLATES)] if warm_up else pools[i])
             for i, t in enumerate(TEXT_TEMPLATES)}
    history: dict[str, list[str]] = {t: [] for t in TEXT_TEMPLATES}
    langs = ["en", "zh", "es", "fr", "de"]
    out = []
    for i in range(n):
        cls, template = ROTATION[i % len(ROTATION)]
        if cls == "nested":
            req = {"domain": f"NATION_{int(rng.integers(0, 25))}",
                   "weight": float(rng.integers(1, 6)),
                   "followers_gt": int(rng.integers(0, 9000)),
                   "following_gt": int(rng.integers(0, 20))}
        elif cls == "text":
            seen = history[template]
            repeat = (i // len(ROTATION)) % 2 == 1 and not warm_up
            if repeat:
                w = 1.0 / np.arange(1, len(seen) + 1) ** spec["zipf_s"]
                q = seen[-1 - int(rng.choice(len(seen), p=w / w.sum()))]
            else:
                q = next(fresh[template])
            seen.append(q)
            req = {"q": q, "lang": str(rng.choice(langs)),
                   "n_chars_gt": int(rng.integers(50, 400)),
                   "kind": "text_repeat" if repeat else "text_fresh"}
        else:
            req = {"value_gt": round(float(rng.uniform(0, 100)), 2),
                   "n_chars_gt": int(rng.integers(50, 400))}
        req["cls"] = cls
        req.setdefault("kind", cls)
        if template is not None:
            req["template"] = template
        out.append(req)
    return out


def repeat_share(stream: list[dict]) -> float:
    """Share of text requests whose (template, query text) appeared before
    in the stream — the hit share the per-text memo caches can reach."""
    seen, hits, n = set(), 0, 0
    for r in stream:
        if r["cls"] != "text":
            continue
        key = (r["template"], r["q"])
        hits += key in seen
        seen.add(key)
        n += 1
    return hits / max(n, 1)


def nested_dsl(r: dict) -> dict:
    return {"query": {"function_score": {"query": {"bool": {
        "should": [{"query": {"nested": {
            "path": "context_annotations",
            "query": {"match": {"context_annotations.domain.name": r["domain"]}},
        }}, "weight": r["weight"]}],
        "filter": [
            {"range": {"author.followers_count": {"gt": r["followers_gt"]}}},
            {"range": {"author.following_count": {"gt": r["following_gt"]}}},
            {"exists": {"field": "links.url"}},
        ],
    }}}}}


def text_dsl(r: dict) -> dict:
    flt = [{"term": {"lang": r["lang"]}}, {"range": {"n_chars": {"gt": r["n_chars_gt"]}}}]
    if r["template"] == "match":
        must = {"match": {"text": {"query": r["q"], "operator": "and"}}}
        return {"query": {"bool": {"must": [must], "filter": flt}}}
    if r["template"] == "multi_match":
        must = {"multi_match": {"query": r["q"], "fields": ["text^2", "source"]}}
        return {"query": {"bool": {"must": [must], "filter": flt}}}
    return {"query": {"function_score": {"query": {"bool": {
        "should": [{"match": {"text": {"query": r["q"]}}}],
        "filter": flt + [{"match": {"text": r["q"]}}],
    }}}}}


def agg_body(r: dict) -> dict | str:
    if r["template"] == "events_terms":
        return {"query": {"range": {"value": {"gt": r["value_gt"]}}},
                "aggs": {"by_type": {"terms": {"field": "event_type"}, "aggs": {
                    "n_users": {"cardinality": {"field": "user_id"}},
                    "v_max": {"max": {"field": "value"}}}}}}
    if r["template"] == "docs_terms_top":
        return {"query": {"range": {"n_chars": {"gt": r["n_chars_gt"]}}},
                "aggs": {"by_lang": {"terms": {"field": "lang", "size": 3}, "aggs": {
                    "n_sources": {"cardinality": {"field": "source"}},
                    "max_chars": {"max": {"field": "n_chars"}}}}}}
    return (f"FROM events | WHERE value > {r['value_gt']} "
            "| STATS n = COUNT(*), v_sum = SUM(value) BY event_type")


class Search:
    name = "search"

    def __init__(self, spark, tracer, work: str, seed: int, spec: dict):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.spec = spec
        self.data = os.path.join(work, "data")
        self.tweets = ingest.Ingest(spark, tracer, work, seed, spec)
        self.stream = make_stream(seed, spec, spec["stream_length"])
        self.pos = 0
        self.done: list[tuple[dict, list]] = []  # (request, result rows)
        self.errors: list[str] = []  # none: requests are checked after timing

    def generate(self) -> dict:
        sizes = self.tweets.generate()
        sizes.update(datagen.write_documents(
            self.data, self.seed, self.spec["documents"], 0.0, 0.0))
        sizes.update(datagen.write_events(self.data, self.seed, self.spec["events"]))
        return sizes

    def derive(self) -> None:
        """The index: the tweets star derived, then documented by etl_full."""
        self.tweets.derive()
        etl_full(self.spark, self.tweets.star, self.tweets.full)

    def prepare(self) -> None:
        """The searcher's handles: scans of the tweet documents, documents
        and events, and the BM25 stats provider over the documents."""
        self.tweet_docs = self.spark.read.parquet(self.tweets.full).drop("ingest_wm")
        self.docs = fan_out(load_table(self.spark, self.data, "documents"))
        self.docs_tok = materialize_tokens(self.docs, {"text": ["custom_shingles"]})
        self.events = load_table(self.spark, self.data, "events")
        self.bm25 = corpus_bm25_provider(self.spark, self.docs_tok)

    def warm_up(self) -> None:
        """One rotation: every template once, with query texts from the
        warm-up pool, which the measured stream never uses."""
        for r in make_stream(self.seed, self.spec, len(ROTATION), warm_up=True):
            self._run(r)

    def _run(self, r: dict) -> list:
        cls, kind, t = r["cls"], r["kind"], self.tracer
        if cls == "nested":
            with t.span("nested.from_es_json"):
                q = from_es_json(nested_dsl(r), nested_paths=NESTED_PATHS)
            with t.span("nested.search"):
                df = search(self.tweet_docs, q, k=K, tiebreak="id").select("id", "score")
        elif cls == "text":
            dsl = text_dsl(r)
            with t.span(f"{kind}.from_es_json"):
                if r["template"] == "bm25":
                    q = from_es_json(dsl, analyzers={"text": "custom_shingles"},
                                     tokens_cols={"text": "text__custom_shingles"},
                                     bm25_stats_for=self.bm25)
                else:
                    q = from_es_json(dsl, analyzers={
                        "text": "custom_shingles", "source": "standard"})
            with t.span(f"{kind}.search"):
                src = self.docs_tok if r["template"] == "bm25" else self.docs
                df = search(src, q, k=K, tiebreak="doc_id").select("doc_id", "score")
        elif r["template"] == "esql_stats":
            with t.span("agg.esql"):
                df = esql(self.spark, agg_body(r), {"events": self.events})
        else:
            src = self.events if r["template"] == "events_terms" else self.docs
            with t.span("agg.es_request"):
                df = es_request(src, agg_body(r))
        with t.span(f"{kind}.action"):
            rows = df.collect()
        if t.enabled and t.phase == "measure":
            t.record_plan(f"{kind}.{r.get('template', 'reference')}", df)
            t.spans[-1].attrs["phases"] = harness.planning_phases(df)
        return rows

    def step(self) -> tuple[int, int]:
        r = self.stream[self.pos % len(self.stream)]
        self.pos += 1
        first = len(self.tracer.spans)
        rows = self._run(r)
        for s in self.tracer.spans[first:]:
            s.attrs.update(req=self.pos, kind=r["kind"])
        self.done.append((r, [tuple(x) for x in rows]))
        return 1, 0

    # -- checks -------------------------------------------------------------

    def check(self) -> list[str]:
        """Every answered request against DuckDB. Returns the mismatches."""
        found = []
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW tweets AS SELECT * FROM read_parquet("
                        f"'{self.tweets.full}/**/*.parquet', hive_partitioning = false)")
            for t in ("documents", "events"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.data}/{t}.parquet')")
            con.execute(f"CREATE TABLE toks AS {_TOKENS_SQL}")
            con.execute("CREATE TABLE stats AS SELECT count(*)::DOUBLE AS n, "
                        "avg(len(tokens)::DOUBLE) AS avgdl FROM toks")
            for r, rows in self.done:
                err = self._check_one(con, r, rows)
                if err:
                    found.append(f"{r}: {err}")
        finally:
            con.close()
        return found

    def _check_one(self, con, r: dict, rows: list) -> str | None:
        if r["cls"] == "nested":
            want = con.execute(f"""
                SELECT id, CASE WHEN list_contains(list_transform(
                               context_annotations, x -> x.domain.name), ?)
                           THEN ? ELSE 0.0 END AS score
                FROM tweets
                WHERE author.followers_count > ? AND author.following_count > ?
                  AND len(list_filter(links, x -> x.url IS NOT NULL)) > 0
                ORDER BY score DESC, id ASC LIMIT {K}""",
                [r["domain"], r["weight"], r["followers_gt"], r["following_gt"]],
            ).fetchall()
            return None if _same(rows, want) else f"got {rows} want {want}"
        if r["cls"] == "text":
            return self._check_text(con, r, rows)
        return self._check_agg(con, r, rows)

    def _check_text(self, con, r: dict, rows: list) -> str | None:
        words = r["q"].split()
        qtoks = words + ["".join(words)]  # custom_shingles: words + glued bigram
        if r["template"] == "bm25":
            terms = [f"""ln(1.0 + (s.n - df{i} + 0.5) / (df{i} + 0.5))
                * (len(list_filter(tokens, x -> x = '{t}'))::DOUBLE * 2.2)
                / (len(list_filter(tokens, x -> x = '{t}'))::DOUBLE
                   + 1.2 * (0.25 + 0.75 * len(tokens)::DOUBLE / s.avgdl))"""
                     for i, t in enumerate(qtoks)]
            dfs = ", ".join(
                f"sum(CASE WHEN list_contains(tokens, '{t}') THEN 1 ELSE 0 END)::DOUBLE AS df{i}"
                for i, t in enumerate(qtoks))
            want = con.execute(f"""
                WITH d AS (SELECT {dfs} FROM toks)
                SELECT doc_id, {' + '.join(terms)} AS score
                FROM toks, stats s, d
                WHERE lang = ? AND n_chars > ? AND list_has_any(tokens, ?)
                ORDER BY score DESC, doc_id ASC LIMIT {K}""",
                [r["lang"], r["n_chars_gt"], qtoks]).fetchall()
            return None if _same(rows, want) else f"got {rows} want {want}"
        # match (operator and) / multi_match: every hit satisfies the
        # filter and the match
        ids = [row[0] for row in rows]
        if not ids:
            return None
        cond = ("list_has_all(tokens, ?)" if r["template"] == "match"
                else "(list_has_any(tokens, ?) OR d.source = ANY(?))")
        args = [qtoks] if r["template"] == "match" else [qtoks, words]
        bad = con.execute(f"""
            SELECT t.doc_id FROM toks t JOIN documents d USING (doc_id)
            WHERE t.doc_id IN ({','.join(map(str, ids))})
              AND NOT (t.lang = ? AND t.n_chars > ? AND {cond})""",
            [r["lang"], r["n_chars_gt"], *args]).fetchall()
        return f"hits {bad} fail the request" if bad else None

    def _check_agg(self, con, r: dict, rows: list) -> str | None:
        if r["template"] == "events_terms":
            want = con.execute("""
                SELECT event_type, count(*), count(DISTINCT user_id), max(value)
                FROM events WHERE value > ? GROUP BY 1""", [r["value_gt"]]).fetchall()
        elif r["template"] == "docs_terms_top":
            want = con.execute("""
                SELECT lang, count(*) AS c, count(DISTINCT source), max(n_chars)
                FROM documents WHERE n_chars > ? GROUP BY 1
                ORDER BY c DESC, lang ASC LIMIT 3""", [r["n_chars_gt"]]).fetchall()
        else:
            want = con.execute("""
                SELECT event_type, count(*), sum(value)
                FROM events WHERE value > ? GROUP BY 1""", [r["value_gt"]]).fetchall()
        return None if _same(rows, want, ordered=False) else f"got {rows} want {want}"

    # -- metrics ------------------------------------------------------------

    def latencies(self) -> dict[str, list[float]]:
        """Seconds of each measured request of this tracer, per kind."""
        per_req: dict[int, list] = {}
        for s in self.tracer.spans:
            if s.attrs.get("req") is not None and s.attrs["phase"] == "measure":
                per_req.setdefault(s.attrs["req"], []).append(s)
        out = {k: [] for k in KINDS}
        for spans in per_req.values():
            out[spans[0].attrs["kind"]].append(sum(s.seconds for s in spans))
        return out

    def end_to_end(self) -> dict:
        lat = self.latencies()
        total_s = sum(sum(v) for v in lat.values())
        detail = {"search_qps": sum(len(v) for v in lat.values()) / total_s,
                  "samples_ms": {k: [round(x * 1e3, 1) for x in v] for k, v in lat.items()}}
        for k in KINDS:
            detail[f"search_{k}_p50_ms"] = harness.median(lat[k]) * 1e3
            tl = harness.tail(lat[k])
            if tl is not None:
                detail[f"search_{k}_tail_ms"] = tl[0] * 1e3
                detail[f"search_{k}_tail_percentile"] = tl[1]
        metrics = {"throughput_per_s": detail["search_qps"]}
        for letter, k in zip("abcd", KINDS):
            metrics[f"{letter}_p50_ms"] = detail[f"search_{k}_p50_ms"]
        return {"metrics": metrics, "detail": detail}

    def position(self) -> tuple[int, int]:
        """(whole epochs run, requests run in the current epoch)."""
        return divmod(self.pos, EPOCH)

    def ready(self) -> bool:
        return all(self.latencies().values())

    def ops(self) -> int:
        return sum(len(v) for v in self.latencies().values())

    def layers(self, folded: dict) -> dict:
        t = self.tracer
        n = {k: max(1, len(v)) for k, v in self.latencies().items()}
        out = {}

        def p50_ms(name: str) -> float:
            v = t.times(name)
            return harness.median(v) * 1e3 if v else 0.0

        for k in ("nested", "text_fresh", "text_repeat"):
            out[f"plans.search.from_es_json_ms.{k}"] = p50_ms(f"{k}.from_es_json")
            out[f"plans.search.search_build_ms.{k}"] = p50_ms(f"{k}.search")
        out["plans.aggs.es_request_build_ms"] = p50_ms("agg.es_request")
        out["plans.esql.compile_ms"] = p50_ms("agg.esql")
        for k in KINDS:
            mine = [s for s in t.spans if s.attrs.get("req") and s.attrs["kind"] == k
                    and s.attrs["phase"] == "measure"]
            build = [s for s in mine if not s.name.endswith(".action")]
            actions = [s for s in mine if s.name.endswith(".action")]
            out[f"plans.construct_jobs_per_request.{k}"] = sum(s.jobs for s in build) / n[k]
            out[f"exec.action_ms.{k}"] = p50_ms(f"{k}.action")
            out[f"exec.jobs_per_request.{k}"] = sum(s.jobs for s in actions) / n[k]
            out[f"exec.tasks_per_request.{k}"] = sum(
                g.get("tasks", 0) for name, g in folded.items()
                if name.startswith(f"search:{k}.")) / n[k]
            for ph in ("analysis", "optimization", "planning"):
                # the tracker reports whole ms, so a median would repeat
                # exactly across runs; the mean keeps the spread visible
                v = [s.attrs["phases"][ph] for s in actions if "phases" in s.attrs]
                out[f"catalyst.{ph}_ms.{k}"] = sum(v) / len(v) if v else 0.0
        text_py = sum(g.get("python_worker_ms", 0.0) for name, g in folded.items()
                      if name.startswith("search:text_"))
        out["functions.analyzers.python_worker_ms_per_request"] = text_py / (
            n["text_fresh"] + n["text_repeat"])
        out["functions.analyzers.repeat_query_share"] = repeat_share(
            self.stream[:self.pos])
        return out


def _same(got: list, want: list, ordered: bool = True) -> bool:
    """Row lists equal, floats to 1e-9 relative."""
    if not ordered:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    if len(got) != len(want):
        return False
    for a, b in zip(got, want):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if abs(float(x) - float(y)) > 1e-9 * max(1.0, abs(float(y))):
                    return False
            elif x != y:
                return False
    return True
