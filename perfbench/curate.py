"""The LLM-data curator cleaning a corpus.

Each pass runs the ``corpus_clean`` composition through its operators —
``functions.textstats`` gates (English, quality >= 0.35, at least 10
tokens), ``operators.dedup.dedup_exact(...).localCheckpoint()``,
``jaccard_pairs`` and ``dedup_near_survivors`` (connected components) —
writes the survivors with ``sinks.write_documents``, and beside that runs
``minhash_lsh_candidates`` (a pandas UDF) over the same cleaned corpus.
``batch.Batch`` runs one pass after each ingest cycle.
"""

from __future__ import annotations

import os
import re

import datagen
import duckdb
import harness

from pyspark.sql import functions as F
from tweets_elastic_spark import registry
from tweets_elastic_spark.functions import textstats as T
from tweets_elastic_spark.operators import dedup as D
from tweets_elastic_spark.sinks import write_documents
from tweets_elastic_spark.sources.catalog import load_table

PASS_CALLS = ("gates_dedup_exact", "jaccard_pairs", "dedup_near_survivors",
              "write_documents", "minhash_lsh_candidates")


def _materialized(sql: str) -> str:
    """The same query with every named CTE marked ``AS MATERIALIZED``.
    DuckDB 1.0 otherwise inlines a CTE at each reference, so the oracle's
    text gates and pair join re-run in every step of its recursive CTE
    (about 20 s at 1 000 documents instead of about 1 s)."""
    return re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


class Curate:
    def __init__(self, spark, tracer, work: str, seed: int, spec: dict):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.spec = spec
        self.data = os.path.join(work, "data")
        self.sink = os.path.join(work, "survivors")
        self.candidates: list[tuple[int, int]] = []
        self.pairs: set[tuple[int, int]] = set()

    def generate(self) -> dict:
        s = self.spec
        return datagen.write_documents(
            self.data, self.seed, s["documents"], s["exact_share"], s["near_share"])

    def prepare(self) -> None:
        """The corpus scan (the curator's input is the raw documents table)."""
        self.docs = load_table(self.spark, self.data, "documents")
        self.n_docs = self.docs.count()

    def _pass(self) -> None:
        t = self.tracer
        with t.span("gates_dedup_exact"):
            text = F.col("text")
            clean = (
                self.docs.filter(T.lang_id(text) == "en")
                .filter(T.quality_score(text) >= 0.35)
                .filter(T.token_count(text) >= 10)
                .select("doc_id", "text")
            )
            cleanex = D.dedup_exact(clean).localCheckpoint()
            n = cleanex.count()
        with t.span("jaccard_pairs"):
            pairs = D.jaccard_pairs(cleanex, k=3, threshold=0.5, max_df=max(5, n // 100))
        with t.span("dedup_near_survivors"):
            survivors = D.dedup_near_survivors(cleanex, pairs)
        with t.span("write_documents"):
            write_documents(survivors, self.sink, id_col="doc_id")
        with t.span("minhash_lsh_candidates"):
            cands = D.minhash_lsh_candidates(cleanex).select("id_a", "id_b").collect()
        self.candidates = [(r[0], r[1]) for r in cands]
        self.last_pairs = pairs

    def step(self) -> tuple[int, int]:
        """One measured pass. Returns (calls attempted, failed)."""
        self._pass()
        return len(PASS_CALLS), 0

    def check(self) -> list[str]:
        """Survivors equal the ``corpus_clean`` DuckDB oracle on the same
        input; LSH candidate pairs are ordered (id_a < id_b). Also collects
        the last pass's exact Jaccard pairs for the LSH precision."""
        self.pairs = {(r[0], r[1]) for r in self.last_pairs.select("id_a", "id_b").collect()}
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{self.data}/documents.parquet')")
            want = {r[0] for r in con.execute(_materialized(
                registry.all_oracles()["corpus_clean"])).fetchall()}
            got = {r[0] for r in con.execute(
                f"SELECT doc_id FROM read_parquet('{self.sink}/*.parquet')").fetchall()}
        finally:
            con.close()
        found = []
        if got != want:
            found.append(f"survivors differ from corpus_clean oracle: {len(got ^ want)} ids "
                         f"(got {len(got)}, want {len(want)})")
        bad = [p for p in self.candidates if not p[0] < p[1]]
        if bad:
            found.append(f"minhash_lsh_candidates returned unordered pairs {bad[:5]}")
        return found

    def pass_times(self) -> list[float]:
        """Seconds of each completed measured pass."""
        return [sum(parts) for parts in zip(*(self.tracer.times(c) for c in PASS_CALLS))]

    def layers(self, folded: dict) -> dict:
        t = self.tracer
        cc = t.select("dedup_near_survivors")
        cands = set(self.candidates)
        return {
            "operators.dedup.exact_checkpoint_s": harness.median(t.times("gates_dedup_exact")),
            "operators.dedup.connected_components_s": harness.median([s.seconds for s in cc]),
            "operators.dedup.cc_jobs": harness.median([s.jobs for s in cc]),
            "operators.dedup.lsh_candidate_precision":
                len(cands & self.pairs) / len(cands) if cands else 0.0,
            "sinks.write_documents_s": harness.median(t.times("write_documents")),
        }
