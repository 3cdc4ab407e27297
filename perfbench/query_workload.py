"""``query_suite``: warm passes over a panel of ``__spark_entry__.queries()``
written to Spark's ``noop`` sink in one session.

One batch is three passes over the panel, each in an order the workload
seed picks; each query is one closed-loop op. The set-up pass runs every panel query
once cold and collects it; that pass is also the correctness gate (row
count and an order-insensitive hash against ``oracle_sql()`` on DuckDB over
the same parquet), and a query that fails it counts as failed in every
timed op.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import sys
import time
import traceback

from querymap import SQL_ONLY, query_modules

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# The timed panel: cheap queries over twelve of the library-module buckets
# of querymap.query_modules, so a cold pass plus three warm passes fit one run.
PANEL = [
    "revenue_by_segment",     # sql_only
    "hash_split",             # operators.curation
    "dedup_exact",            # operators.dedup
    "token_counts",           # operators.textops
    "detect_charset",         # operators.extract
    "surt_canon",             # sources.cdx
    "politeness_dequeue",     # operators.frontier
    "regex_extract_version",  # functions.versions
    "hll_distinct",           # operators.sketches
    "bpe_pair_counts",        # operators.bpe
    "sitemap_urls",           # sources.sitemaps
    "sessionize",             # streaming.events
]
PASSES_PER_BATCH = 3  # a run's 36 samples
# Added in traced runs so that every bucket has a query (test_perfbench
# checks the coverage).
COVERAGE = [
    "cosine_topk_lsh",        # operators.similarity
    "url_filter",             # operators.urlfilter
    "redirect_resolve",       # operators.graph
    "media_meta",             # multimodal.binary, sources.generate
    "warc_revisit",           # sources.warc
]


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def digest(pdf) -> tuple:
    """(sorted column names, row count, hash of the sorted normalised rows):
    the same normalisation as the repository's oracle test."""
    cols = sorted(pdf.columns)
    rows = sorted(tuple(_cell(v) for v in row)
                  for row in pdf[cols].itertuples(index=False))
    h = hashlib.sha256(repr(rows).encode()).hexdigest()
    return tuple(cols), len(rows), h


def oracle_digests(names) -> dict:
    import duckdb

    import __spark_entry__ as E

    sql = E.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(DATA, t + '.parquet')}')")
        return {n: digest(con.execute(sql[n]).fetchdf()) for n in names}
    finally:
        con.close()


def noop(df):
    df.write.format("noop").mode("overwrite").save()


class QuerySuite:
    def __init__(self, spark, seed: int, tracer, counters, root: str, expected: dict):
        import __spark_entry__ as E

        self.spark, self.seed = spark, seed
        self.tracer, self.counters = tracer, counters
        self.registry = E.queries()
        self.modules = query_modules(root)
        self.expected = expected  # oracle_digests(...), computed untimed
        self.bad: set[str] = set()
        self.cold: dict[str, float] = {}
        self.ops: list[dict] = []  # per-query counters (traced)
        self._pass = 0

    def order(self, names=PANEL) -> list:
        names = list(names)
        random.Random(f"{self.seed}:{self._pass}").shuffle(names)
        return names

    def setup(self, names=PANEL):
        """The cold pass: warms the JVM and Catalyst for each query and
        checks its result against its oracle digest."""
        for name in self.order(names):
            with self.tracer.span("queries.cold", query=name):
                t0 = time.monotonic()
                pdf = self.registry[name](self.spark, DATA).toPandas()
                self.cold[name] = time.monotonic() - t0
            if digest(pdf) != self.expected[name]:
                self.bad.add(name)

    def batch(self) -> dict:
        walls, failed = [], 0
        t_start = time.monotonic()
        for _ in range(PASSES_PER_BATCH):
            self._pass += 1
            failed += self._run_pass(walls)
        return {"wall": time.monotonic() - t_start, "work": len(walls),
                "samples": walls, "failed": failed}

    def _run_pass(self, walls: list) -> int:
        failed = 0
        for name in self.order():
            snap = self.counters.snapshot() if self.counters else None
            with self.tracer.span("queries.run", query=name,
                                  modules=self.modules[name]):
                t0 = time.monotonic()
                try:
                    noop(self.registry[name](self.spark, DATA))
                    ok = name not in self.bad
                except Exception:  # a query that raises is a failed op
                    traceback.print_exc(file=sys.stderr)
                    ok = False
                dt = time.monotonic() - t0
            walls.append(dt)
            failed += not ok
            if self.counters:
                self.ops.append({"spark": self.counters.delta(snap, self.counters.snapshot())})
        return failed


def module_buckets(modules: dict) -> list:
    return sorted({m for ms in modules.values() for m in ms} - {SQL_ONLY}) + [SQL_ONLY]
