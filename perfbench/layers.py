"""Per-layer metrics for traced runs.

Two sources feed them:

* the workload's own traced ops (crawl round phases and Spark counters on
  ``fixpoint_crawl``; per-query times and counters on ``query_suite``);
* probes that call each layer's public functions over the crawl corpus
  (html, url, frontier, robots, rule packs, corpus generation).

Every traced run reports every per-layer metric. A crawl-family metric on
``query_suite`` comes from a one-round probe crawl; a query metric on
``fixpoint_crawl`` from one cold and one split pass over the query panel.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from pyspark.sql import functions as F

from firmwarescraper_spark.functions import url as U
from firmwarescraper_spark.functions.html import parse_page, parse_page_udf
from firmwarescraper_spark.operators import frontier as FR
from firmwarescraper_spark.operators import robots as RB
from firmwarescraper_spark.plans import rulepacks as RP
from firmwarescraper_spark.plans.simulator import simulate
from firmwarescraper_spark.sources import generate as G

import crawl_workload as CW
import query_workload as QW

PHASES = ["dequeue", "materialize", "plan_build", "mat_wait", "writes", "commit"]
SPARK_NAMES = {"jobs": "spark.jobs_per_round", "stages": "spark.stages_per_round",
               "tasks": "spark.tasks_per_round",
               "busy_frac": "spark.executor_busy_frac",
               "shuffle_write_mb": "spark.shuffle_write_mb",
               "spill_mb": "spark.spill_mb"}
PROBE_NAMES = [
    "html.parse_ms_per_page", "html.parse_udf_pages_per_s",
    "url.normalize_rows_per_s",
    "frontier.anti_join_rows_per_s", "frontier.bloom_anti_join_rows_per_s",
    "frontier.bloom_maybe_frac", "frontier.unseen_frac",
    "frontier.dequeue_rows_per_s", "frontier.dequeued_frac",
    "robots.build_rules_s", "robots.filter_rows_per_s", "robots.blocked_frac",
    "rulepacks.plan_s", "rulepacks.exec_s", "rulepacks.rules_present",
    "generate.corpus_s",
]
QUERY_TOTALS = ["queries.plan_s", "queries.exec_s", "queries.cold_minus_warm_s"]
TRACE_NAMES = ["trace.op_p50_s", "trace.overhead_frac"]


def metric_names(buckets) -> list:
    """Every per-layer metric name, in report order."""
    return ([f"crawl.{p}_s" for p in PHASES] + ["crawl.rounds"]
            + list(SPARK_NAMES.values()) + PROBE_NAMES
            + [f"queries.{b}.warm_s" for b in buckets] + QUERY_TOTALS
            + TRACE_NAMES)


_UNITS = {"crawl.rounds": "count", "rulepacks.rules_present": "count",
                "spark.jobs_per_round": "count", "spark.stages_per_round": "count",
                "spark.tasks_per_round": "count", "spark.shuffle_write_mb": "MB",
                "spark.spill_mb": "MB"}


def unit(name: str) -> str:
    """The unit of a per-layer metric, from its name."""
    if name in _UNITS:
        return _UNITS[name]
    if name.endswith("_ms_per_page"):
        return "ms"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    return "ratio"


def _warm_time(fn) -> float:
    """Wall of a second call of ``fn``; the first call warms."""
    fn()
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


def crawl_metrics(rounds: list) -> dict:
    """Medians over traced rounds of the engine's phase walls and the
    Spark counters; ``crawl.rounds`` is the number of rounds."""
    out = {f"crawl.{p}_s": statistics.median(r["phases"].get(p, 0.0) for r in rounds)
           for p in PHASES}
    out["crawl.rounds"] = len(rounds)
    return out


def spark_metrics(ops: list) -> dict:
    return {name: statistics.median(o["spark"][k] for o in ops)
            for k, name in SPARK_NAMES.items()}


def probe_crawl(spark, work, seed, tracer, counters) -> list:
    """The rounds of a one-round probe crawl, traced like the workload's."""
    wl = CW.FixpointCrawl(spark, work, seed, tracer, counters)
    wl.crawl(os.path.join(work, "probe-crawl"), max_rounds=1)
    return wl.rounds


def query_metrics(wl: QW.QuerySuite, tracer, buckets) -> dict:
    """One split pass over the panel and the coverage queries, after their
    cold pass: per query, build plus ``executedPlan()`` (plan) and the
    noop-sink run (exec). A query's warm time is plan + exec; a module
    metric sums it over the queries that call the module."""
    names = QW.PANEL + QW.COVERAGE
    plan, exe = {}, {}
    for name in names:
        with tracer.span("queries.plan", query=name):
            t0 = time.monotonic()
            df = wl.registry[name](wl.spark, QW.DATA)
            df._jdf.queryExecution().executedPlan()
            plan[name] = time.monotonic() - t0
        with tracer.span("queries.exec", query=name):
            t0 = time.monotonic()
            QW.noop(df)
            exe[name] = time.monotonic() - t0
    warm = {n: plan[n] + exe[n] for n in names}
    out = {f"queries.{b}.warm_s": sum(w for n, w in warm.items() if b in wl.modules[n])
           for b in buckets}
    out["queries.plan_s"] = sum(plan.values())
    out["queries.exec_s"] = sum(exe.values())
    out["queries.cold_minus_warm_s"] = sum(wl.cold.values()) - sum(warm.values())
    return out


def probe_layers(spark, work: str, pages: str, seed: int, tracer) -> dict:
    """Rates and shares of the single layers over the crawl corpus."""
    m = {}
    seeds = CW.crawl_seeds(seed, include_vendors=True)
    sim = simulate(G.corpus_dict(**CW.CORPUS), seeds)
    eng = CW.FixpointCrawl(spark, work, seed, tracer, None).engine(
        os.path.join(work, "probe-layers"))
    eng.pages()
    # every URL the reference crawl fetches, as one frontier (POST form
    # requests excluded: their fetch keys are not plain URLs)
    frontier = eng.seed_frontier(
        [(url, rule) for (_, url, key, _, rule) in sim.order if "|form|" not in key]
    ).persist()
    n = frontier.count()

    with tracer.span("robots.build_robots_rules"):
        t0 = time.monotonic()
        rules, delay = RB.build_robots_rules(spark.read.parquet(pages), persist=True)
        rules = rules.persist()
        rules.count(), delay.count()
        m["robots.build_rules_s"] = time.monotonic() - t0
    allowed, blocked = RB.robots_filter(frontier, rules)
    with tracer.span("robots.robots_filter"):
        m["robots.filter_rows_per_s"] = n / _warm_time(lambda: QW.noop(allowed))
    m["robots.blocked_frac"] = blocked.count() / n

    hashes = sorted(r["url_hash"] for r in frontier.select("url_hash").collect())
    half = random.Random(seed).sample(hashes, len(hashes) // 2)
    seen = spark.createDataFrame([(h,) for h in half], "url_hash long").persist()
    seen.count()
    exact = FR.anti_join_seen(frontier, seen)
    bloom = FR.anti_join_seen(frontier, seen, bloom=True)
    with tracer.span("frontier.anti_join_seen"):
        m["frontier.anti_join_rows_per_s"] = n / _warm_time(lambda: QW.noop(exact))
    with tracer.span("frontier.anti_join_seen_bloom"):
        m["frontier.bloom_anti_join_rows_per_s"] = n / _warm_time(lambda: QW.noop(bloom))
    m["frontier.unseen_frac"] = exact.count() / n
    flagged = FR.bloom_prefilter(frontier, seen)
    m["frontier.bloom_maybe_frac"] = flagged.filter(F.col("_maybe_seen")).count() / n
    dequeued, _ = FR.politeness_dequeue(frontier, CW.TOKENS_PER_HOST, CW.SALT_BUCKETS)
    with tracer.span("frontier.politeness_dequeue"):
        m["frontier.dequeue_rows_per_s"] = n / _warm_time(lambda: QW.noop(dequeued))
    m["frontier.dequeued_frac"] = dequeued.count() / n

    # the fetched 2xx pages; parsed below like a round's working set, which
    # keeps the raw body only for FTP listings
    fetched = eng.fetcher.fetch(frontier, True)
    ok = fetched.filter((F.col("status") >= 200) & (F.col("status") < 300)) \
        .drop("status").persist()
    n_ok = ok.count()
    bodies = [r["html"] for r in ok.select("html").collect()]
    with tracer.span("html.parse_page"):
        t0, reps = time.monotonic(), 0
        while reps == 0 or time.monotonic() - t0 < 0.5:
            for b in bodies:
                parse_page(b)
            reps += 1
        m["html.parse_ms_per_page"] = (time.monotonic() - t0) * 1000 / (reps * len(bodies))
    fields = tuple(sorted(RP.RULE_PARSE_FIELDS.items()))
    parsed_only = ok.select(parse_page_udf(fields)(F.col("html"), F.col("rule")).alias("p"))
    with tracer.span("html.parse_page_udf"):
        m["html.parse_udf_pages_per_s"] = n_ok / _warm_time(lambda: QW.noop(parsed_only))

    parsed = ok.withColumn("parsed", parse_page_udf(fields)(F.col("html"), F.col("rule"))) \
        .withColumn("html", F.when(F.col("rule").contains("ftp"), F.col("html"))).persist()
    parsed.count()
    present = {r["rule"] for r in frontier.select("rule").distinct().collect()}
    with tracer.span("rulepacks.plan"):
        t0 = time.monotonic()
        children, items = [], []
        for rule, fn in RP.RULES.items():
            if rule in present:
                res = fn(parsed.filter(F.col("rule") == rule))
                if res[0] is not None:
                    children.append(res[0])
                if res[1] is not None:
                    items.append(res[1])
        kids, its = children[0], items[0]
        for c in children[1:]:
            kids = kids.unionByName(c)
        for i in items[1:]:
            its = its.unionByName(i)
        m["rulepacks.plan_s"] = time.monotonic() - t0
    with tracer.span("rulepacks.exec"):
        m["rulepacks.exec_s"] = _warm_time(lambda: (QW.noop(kids), QW.noop(its)))
    m["rulepacks.rules_present"] = len(present)

    urls = kids.select("url").persist()
    n_urls = urls.count()
    norm = urls.select(U.canonicalize_url_udf()(F.col("url")), U.url_host_udf()(F.col("url")))
    with tracer.span("url.normalize"):
        m["url.normalize_rows_per_s"] = n_urls / _warm_time(lambda: QW.noop(norm))

    for df in (urls, parsed, ok, seen, rules, frontier):
        df.unpersist()
    return m
