"""``fixpoint_crawl``: a fresh crawl from the AVM, mirror and Linksys seeds
to fixpoint.

One batch is one whole crawl through ``CrawlEngine.run``; each of its
rounds is one closed-loop op (the next round starts when the previous one
has committed). Work is the number of ``seen`` rows the crawl committed.
The untimed gate compares the seen set and the item multiset with
``plans.simulator.simulate`` over the same corpus and seed list.
"""

from __future__ import annotations

import os
import random
import time

from firmwarescraper_spark.plans.crawl import CrawlEngine
from firmwarescraper_spark.plans.simulator import simulate
from firmwarescraper_spark.sources import generate as G

# The corpus holds every vendor's pages; the timed crawl starts from the
# AVM, mirror and Linksys seeds only (five rule packs, four rounds), so one
# crawl from a fresh JVM stays near a minute on a 4-core box. The layer
# probes take every vendor's URLs in the reference crawl's order (twenty-one
# rule packs).
CORPUS = {"n_avm": 2, "n_linksys": 2, "n_mirrors": 1, "vendor_scale": 1}
# Below the engine's "unlimited" mark, so every round runs the politeness
# windows; high enough that the crawl ends in its minimal four rounds.
TOKENS_PER_HOST = 40
SALT_BUCKETS = 4
CORPUS_PARTITIONS = 4


def item_key(d: dict) -> tuple:
    return tuple(tuple(d[c]) for c in (
        "vendor", "device_name", "firmware_version", "device_class",
        "release_date", "file_urls"))


def crawl_seeds(seed: int, include_vendors: bool = False) -> list:
    """The seed list in the order the workload seed picks."""
    seeds = G.seeds(n_mirrors=CORPUS["n_mirrors"], include_vendors=include_vendors)
    random.Random(seed).shuffle(seeds)
    return seeds


def write_corpus(spark, path: str):
    G.write_corpus(spark, path, partitions=CORPUS_PARTITIONS, **CORPUS)


class FixpointCrawl:
    def __init__(self, spark, work: str, seed: int, tracer, counters):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.counters = tracer, counters
        self.pages = os.path.join(work, "pages")
        self.seeds = crawl_seeds(seed)
        self.rounds: list[dict] = []  # per-round phases and counters (traced)
        self._n = 0
        self._oracle = None

    def setup(self):
        with self.tracer.span("generate.write_corpus"):
            write_corpus(self.spark, self.pages)

    def engine(self, state: str) -> CrawlEngine:
        return CrawlEngine(self.spark, self.pages, state,
                           tokens_per_host=TOKENS_PER_HOST,
                           salt_buckets=SALT_BUCKETS)

    def crawl(self, state: str, max_rounds: int = 1000) -> tuple:
        """``CrawlEngine.run`` from the seeds with each round timed (and, in
        traced runs, its phases and Spark counters kept in ``self.rounds``).
        Returns (engine, run summary, crawl wall, round walls)."""
        eng = self.engine(state)
        walls = []
        inner = eng.run_round

        def run_round(rnd):
            snap = self.counters.snapshot() if self.counters else None
            with self.tracer.span("crawl.run_round", round=rnd):
                t0 = time.monotonic()
                out = inner(rnd)
                walls.append(time.monotonic() - t0)
            if self.counters:
                self.rounds.append({
                    "phases": dict(eng.last_round_phases),
                    "spark": self.counters.delta(snap, self.counters.snapshot()),
                })
            return out

        eng.run_round = run_round
        with self.tracer.span("crawl.run"):
            t0 = time.monotonic()
            summary = eng.run(self.seeds, max_rounds=max_rounds, fresh=True)
            wall = time.monotonic() - t0
        return eng, summary, wall, walls

    def batch(self) -> dict:
        self._n += 1
        eng, summary, wall, walls = self.crawl(os.path.join(self.work, f"state-{self._n}"))
        ok = self.verify(eng)
        return {"wall": wall, "work": summary["seen"], "samples": walls,
                "failed": 0 if ok else len(walls)}

    def oracle(self):
        if self._oracle is None:
            self._oracle = simulate(G.corpus_dict(**CORPUS), self.seeds)
        return self._oracle

    def verify(self, eng) -> bool:
        sim = self.oracle()
        seen = {r["fetch_key"] for r in eng.seen().select("fetch_key").collect()}
        items = sorted(item_key(r.asDict()) for r in eng.items().drop("round").collect())
        return seen == sim.seen and items == sorted(item_key(d) for d in sim.items)
