"""``batch``: the data engineer's ETL followed by the curator's cleaning.

One measured cycle is the ingest write path (``ingest.Ingest``: etl_full,
an etl_increment keyset loop, compact_sink, etl_full again) and then one
curation pass (``curate.Curate``: the corpus_clean composition, the
survivor sink and minhash LSH candidates), one package call per step.

Classes: a = one non-empty ``etl_increment`` page, b = one ``etl_full``
call, c = one curation pass, d = one keyset loop with its compaction (every
``etl_increment`` call of a cycle plus ``compact_sink``). Throughput is
documents per second over every call of the window: documents written by
the ingest calls plus input documents of the curation passes, over the
seconds those calls took.
"""

from __future__ import annotations

import harness
from curate import Curate
from ingest import Ingest


class Batch:
    name = "batch"

    def __init__(self, spark, tracer, work: str, seed: int, spec: dict):
        self.ingest = Ingest(spark, tracer, work, seed, spec["ingest"])
        self.curate = Curate(spark, tracer, work, seed, spec["curate"])
        self.curate_next = False  # a keyset loop just compacted
        self.cycles = self.k = 0  # whole cycles run, steps into this one
        self.warm_up_cycles = spec["warm_up_cycles"]
        self.tracer = tracer

    @property
    def tracer(self):
        return self.ingest.tracer

    @tracer.setter
    def tracer(self, tracer) -> None:
        self.ingest.tracer = self.curate.tracer = tracer

    def generate(self) -> dict:
        return {**self.ingest.generate(), **self.curate.generate()}

    def derive(self) -> None:
        self.ingest.derive()

    def prepare(self) -> None:
        self.ingest.prepare()
        self.curate.prepare()

    def warm_up(self) -> None:
        """``warm_up_cycles`` whole cycles of the measured calls. The JVM
        keeps speeding up over the first cycles (about 30% from the first
        to the third), so timing only after them keeps runs comparable."""
        self.ingest.start()
        for _ in range(self.warm_up_cycles):
            self.step()
            while self.k:
                self.step()
        self.cycles = 0

    def step(self) -> tuple[int, int]:
        self.k += 1
        if self.curate_next:
            self.curate_next = False
            self.cycles, self.k = self.cycles + 1, 0
            return self.curate.step()
        out = self.ingest.step()
        self.curate_next = self.ingest.next_call == "etl_full"
        return out

    def position(self) -> tuple[int, int]:
        """(whole cycles run, steps run in the current cycle)."""
        return self.cycles, self.k

    def ready(self) -> bool:
        """This tracer has run a curation pass and a compaction."""
        return bool(self.curate.pass_times()) and bool(self.tracer.select("compact_sink"))

    def check(self) -> list[str]:
        return self.ingest.check() + self.curate.check()

    @property
    def errors(self) -> list[str]:
        return self.ingest.errors

    def ops(self) -> int:
        """Cycles' worth of calls this tracer ran: its curation passes (in a
        traced run, two cycles give each tracer one cycle's calls)."""
        return len(self.curate.pass_times())

    def end_to_end(self) -> dict:
        t = self.tracer
        pages = t.times("etl_increment", empty=False)
        full = t.times("etl_full")
        passes = self.curate.pass_times()
        loops = self.ingest.loop_times()
        calls = self.ingest.calls()
        docs = sum(s.attrs["docs"] for s in calls) + self.curate.n_docs * len(passes)
        seconds = sum(s.seconds for s in calls) + sum(passes)
        detail = self.ingest.detail()
        detail["curate_docs_per_s"] = self.curate.n_docs / harness.median(passes)
        detail["samples_ms"] = {k: [round(x * 1e3, 1) for x in v]
                                for k, v in (("a", pages), ("b", full), ("c", passes),
                                             ("d", loops))}
        metrics = {
            "throughput_per_s": docs / seconds,
            "a_p50_ms": harness.median(pages) * 1e3,
            "b_p50_ms": harness.median(full) * 1e3,
            "c_p50_ms": harness.median(passes) * 1e3,
            "d_p50_ms": harness.median(loops) * 1e3,
        }
        return {"metrics": metrics, "detail": detail}

    def layers(self, folded: dict) -> dict:
        return {**self.ingest.layers(folded), **self.curate.layers(folded)}
