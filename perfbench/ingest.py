"""The write path of the data engineer running the reference's ``main()``.

Set-up derives the tweets star from seeded TPC-H tables with
``queries.tweetdoc_q.tweet_star_from_tpch`` and writes it as parquet. The
measured cycle then runs the package's public functions one call per step:
``pipeline.etl_full`` (one-shot build), an ``etl_increment`` keyset loop
with a fixed ``page_limit`` until it returns 0, ``sinks.compact_sink`` over
the increments, and ``etl_full`` again (the full re-import). ``batch.Batch`` runs this cycle; ``search.Search``
uses the derivation and ``etl_full`` to build its index.
"""

from __future__ import annotations

import os
import shutil

import datagen
import duckdb
import harness

from tweets_elastic_spark.operators.denormalize import build_tweet_documents
from tweets_elastic_spark.pipeline import etl_full, etl_increment, load_tweet_tables
from tweets_elastic_spark.queries.tweetdoc_q import tweet_star_from_tpch
from tweets_elastic_spark.sinks import compact_sink
from tweets_elastic_spark.sources.incremental import WatermarkStore


def _dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, Spark's checksum files excluded."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def _row_hash(con, path: str) -> tuple[int, int]:
    """(rows, order-insensitive sum of row hashes) of a document sink."""
    n, h = con.execute(
        "SELECT count(*), sum(hash(d)::HUGEINT) FROM "
        f"read_parquet('{path}/**/*.parquet', hive_partitioning = false) d"
    ).fetchone()
    return int(n), int(h)


class Ingest:
    def __init__(self, spark, tracer, work: str, seed: int, spec: dict):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.n_orders = spec["orders"]
        self.page_limit = spec.get("page_limit")
        self.tpch = os.path.join(work, "tpch")
        self.star = os.path.join(work, "star")
        self.full = os.path.join(work, "full_sink")
        self.inc = os.path.join(work, "inc_sink")
        self.compacted = os.path.join(work, "compacted_sink")
        self.n_docs: int | None = None  # set by the first etl_full call
        self.next_call = "etl_full"
        self.errors: list[str] = []  # mismatches seen while measuring

    def generate(self) -> dict:
        return datagen.write_tpch(self.tpch, self.seed, self.n_orders)

    def derive(self) -> None:
        """Fixture derivation: the tweets star written once as parquet."""
        for name, df in tweet_star_from_tpch(self.spark, self.tpch).items():
            df.write.mode("overwrite").parquet(os.path.join(self.star, f"{name}.parquet"))

    def prepare(self) -> None:
        """The engineer's handle on the source: a strict-schema scan of the
        star, its spine counted."""
        self.n_source = load_tweet_tables(self.spark, self.star)["conversations"].count()

    def start(self) -> None:
        """Ready the first keyset loop."""
        self._restart_loop()

    def _keep_compacted(self) -> None:
        """Move the compacted increments aside for check() and start over."""
        shutil.rmtree(self.compacted, ignore_errors=True)
        os.replace(self.inc, self.compacted)
        self._restart_loop()

    def _restart_loop(self) -> None:
        shutil.rmtree(self.inc, ignore_errors=True)
        self.store = WatermarkStore(os.path.join(self.work, "watermark.json"))
        self.store.set("conversations.id", -1)
        self.loop_docs, self.loop_s, self.loop_pages = 0, 0.0, 0

    def step(self) -> tuple[int, int]:
        """One call of the cycle etl_full → etl_increment pages until one
        returns 0 → compact_sink → etl_full again (the full re-import).
        Returns (calls attempted, failed)."""
        t, before, call = self.tracer, len(self.errors), self.next_call
        if call in ("etl_full", "reimport"):
            if t.enabled:
                # the build_tweet_documents call alone: plan construction, no job
                with t.span("build_tweet_documents"):
                    build_tweet_documents(load_tweet_tables(self.spark, self.star))
            with t.span("etl_full") as sp:
                n = etl_full(self.spark, self.star, self.full)
            sp.attrs["docs"] = n
            if self.n_docs is None:
                self.n_docs = n
            elif n != self.n_docs:
                self.errors.append(f"etl_full wrote {n} docs, earlier {self.n_docs}")
            self.next_call = "etl_increment" if call == "etl_full" else "etl_full"
        elif call == "etl_increment":
            with t.span("etl_increment") as sp:
                n = etl_increment(self.spark, self.star, self.inc, self.store,
                                  page_limit=self.page_limit)
            sp.attrs.update(empty=n == 0, docs=n)
            self.loop_docs += n
            self.loop_s += sp.seconds
            self.loop_pages += n > 0
            if n == 0:
                self.next_call = "compact_sink"
        else:
            with t.span("compact_sink") as sp:
                n = compact_sink(self.spark, self.inc)
            sp.attrs.update(docs=n, pages=self.loop_pages, loop_s=self.loop_s + sp.seconds)
            if n != self.n_docs or self.loop_docs != self.n_orders:
                self.errors.append(
                    f"keyset loop processed {self.loop_docs} of {self.n_orders}, "
                    f"compacted to {n} docs, full build {self.n_docs}")
            self._keep_compacted()
            self.next_call = "reimport"
        return 1, len(self.errors) - before

    def check(self) -> list[str]:
        """The derived star holds every order; the full build's doc count
        equals DuckDB's count of orders joined to customer; the compacted
        increments equal the full build. Returns the mismatches."""
        found = []
        if self.n_source != self.n_orders:
            found.append(f"derived star holds {self.n_source} of {self.n_orders} orders")
        con = duckdb.connect()
        try:
            expected = con.execute(
                f"SELECT count(*) FROM read_parquet('{self.tpch}/orders.parquet') o "
                f"JOIN read_parquet('{self.tpch}/customer.parquet') c "
                "ON o.o_custkey = c.c_custkey"
            ).fetchone()[0]
            if self.n_docs != expected:
                found.append(f"etl_full wrote {self.n_docs} docs, DuckDB expects {expected}")
            full, inc = _row_hash(con, self.full), _row_hash(con, self.compacted)
            if full != inc:
                found.append(f"compacted increments {inc} != full build {full}")
        finally:
            con.close()
        return found

    def calls(self) -> list:
        """Measured spans of the three calls, each carrying ``docs``."""
        return [s for s in self.tracer.spans
                if s.attrs["phase"] == "measure" and "docs" in s.attrs]

    def loop_times(self) -> list[float]:
        """Seconds of each keyset loop that compacted under this tracer:
        its etl_increment calls (under either tracer) plus compact_sink."""
        return [c.attrs["loop_s"] for c in self.tracer.select("compact_sink")]

    def detail(self) -> dict:
        t = self.tracer
        pages_s = t.times("etl_increment", empty=False)
        sink_bytes, sink_files = _dir_size(self.full)
        out = {
            "ingest_full_docs_per_s": self.n_docs / harness.median(t.times("etl_full")),
            "ingest_increment_docs_per_s": self.n_orders / harness.median(self.loop_times()),
            "ingest_sink_bytes_per_doc": sink_bytes / self.n_docs,
            "ingest_sink_files": sink_files,
        }
        page_tail = harness.tail(pages_s)
        if page_tail is not None:
            out["ingest_page_tail_ms"] = page_tail[0] * 1e3
            out["ingest_page_tail_percentile"] = page_tail[1]
        return out

    def layers(self, folded: dict) -> dict:
        """Per-layer metrics of the traced run (see spec.json)."""
        t = self.tracer
        full = t.select("etl_full")
        pages = t.select("etl_increment", empty=False)
        compact = t.select("compact_sink")
        g = folded.get(f"{t.workload}:etl_full", {})
        sink_bytes, sink_files = _dir_size(self.full)
        return {
            "pipeline.etl_full_s": harness.median([s.seconds for s in full]),
            "sources.scan_bytes": g.get("input_bytes", 0.0) / len(full),
            "operators.denormalize.build_ms":
                harness.median(t.times("build_tweet_documents")) * 1e3,
            "operators.denormalize.shuffle_write_bytes":
                g.get("shuffle_write_bytes", 0.0) / len(full),
            "operators.denormalize.spill_bytes": g.get("spill_bytes", 0.0) / len(full),
            "pipeline.etl_increment_page_s": harness.median([s.seconds for s in pages]),
            "pipeline.etl_increment_jobs_per_page": harness.median([s.jobs for s in pages]),
            "sources.incremental.pages":
                harness.median([c.attrs["pages"] for c in compact]) if compact else 0.0,
            "sinks.compact_sink_s":
                harness.median([c.seconds for c in compact]) if compact else 0.0,
            "sinks.bytes_written": float(sink_bytes),
            "sinks.files_written": float(sink_files),
        }
