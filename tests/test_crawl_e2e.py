"""End-to-end crawl parity: the Spark engine vs the pinned pure-Python
reference simulator over the same deterministic corpus (SURVEY.md §7.0/M7)."""

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from firmwarescraper_spark.operators import robots as RB
from firmwarescraper_spark.plans.crawl import CrawlEngine
from firmwarescraper_spark.plans.fetchers import CorpusFetcher
from firmwarescraper_spark.plans.simulator import simulate
from firmwarescraper_spark.sources import generate as G

N_AVM, N_LINKSYS = 3, 5


@pytest.fixture(scope="module")
def corpus(tmp_path_factory, spark):
    out = str(tmp_path_factory.mktemp("corpus") / "pages")
    G.write_corpus(spark, out, n_avm=N_AVM, n_linksys=N_LINKSYS, partitions=4)
    return out


@pytest.fixture(scope="module")
def sim_result():
    return simulate(G.corpus_dict(N_AVM, N_LINKSYS), G.seeds())


@pytest.fixture(scope="module")
def engine_state(tmp_path_factory, spark, corpus):
    state = str(tmp_path_factory.mktemp("state"))
    eng = CrawlEngine(spark, corpus, state, tokens_per_host=10_000, salt_buckets=4)
    summary = eng.run(G.seeds(), fresh=True)
    return eng, summary


def _item_key(d):
    return (
        d["vendor"][0], d["device_name"][0], d["firmware_version"][0],
        d["device_class"][0], d["release_date"][0], tuple(d["file_urls"]),
    )


def test_seen_set_parity(engine_state, sim_result):
    eng, _ = engine_state
    engine_seen = {r["fetch_key"] for r in eng.seen().collect()}
    assert engine_seen == sim_result.seen


def test_items_parity(engine_state, sim_result):
    eng, _ = engine_state
    engine_items = [
        _item_key(r.asDict()) for r in eng.items().drop("round").collect()
    ]
    sim_items = [_item_key(d) for d in sim_result.items]
    assert sorted(engine_items) == sorted(sim_items)
    assert len(engine_items) == len(sim_items)  # multiset equality incl. dups


def test_expected_item_counts(engine_state):
    # per corpus construction: each AVM device yields 2 items (deutschland +
    # other), each Linksys product 2 (duplicate deduped, .exe filtered)
    eng, _ = engine_state
    items = eng.items()
    avm = items.filter(F.col("vendor")[0] == "AVM").count()
    lk = items.filter(F.col("vendor")[0] == "Linksys").count()
    assert avm == N_AVM * 3 * 2
    assert lk == N_LINKSYS * 2


def test_golden_avm_item(engine_state, spark):
    # the golden row shape of test_avm.py:111-118 (scaled device ids)
    eng, _ = engine_state
    row = (
        eng.items()
        .filter(F.col("device_name")[0] == "fritzbox-7000")
        .filter(F.col("file_urls")[0].contains("deutschland"))
        .first()
    )
    assert row["vendor"] == ["AVM"]
    assert row["device_class"] == ["Router"]
    assert row["firmware_version"] == ["100.07.01"]
    assert row["release_date"] == ["01-01-2015"]


def test_crawl_order_parity(engine_state, sim_result):
    """Engine BFS rounds reconstruct the pinned DFS order via ORDER BY seq
    over the seen table's insertion keys — compare against the simulator's
    visit order."""
    eng, _ = engine_state
    # seq is carried on frontier rows; seen keeps canon_url per round.
    # Reconstruct order from the union of all frontier snapshots' dequeued
    # rows: seen ∪ frontier history. Simplest faithful source: items of
    # frontier snapshots are not retained, so use seen + simulator canon
    # mapping: engine order = ORDER BY seq of the frontier rows that were
    # dequeued; we re-derive it by re-reading all frontier snapshots.
    import os

    base = os.path.join(eng.state_dir, "frontier")
    dfs = [
        eng.spark.read.parquet(os.path.join(base, d))
        for d in sorted(os.listdir(base))
    ]
    all_rows = dfs[0]
    for d in dfs[1:]:
        all_rows = all_rows.unionByName(d)
    engine_order = [
        r["fetch_key"]
        for r in all_rows.select("fetch_key", "seq").dropDuplicates(["fetch_key"])
        .orderBy("seq").collect()
        if r["fetch_key"] in sim_result.seen
    ]
    sim_order = [canon for (_, _, canon, _, _) in sim_result.order]
    assert engine_order == sim_order


def test_resume_reproduces_state(spark, corpus, sim_result, tmp_path_factory):
    """T4: run 2 rounds, 'kill', resume — final state identical to the
    one-shot run."""
    state = str(tmp_path_factory.mktemp("state_resume"))
    eng = CrawlEngine(spark, corpus, state, tokens_per_host=10_000, salt_buckets=4)
    eng._write_frontier(eng.seed_frontier(G.seeds()), 0)
    eng.run_round(0)
    eng.run_round(1)
    # resume: a fresh engine object picks up from the latest snapshot
    eng2 = CrawlEngine(spark, corpus, state, tokens_per_host=10_000, salt_buckets=4)
    summary = eng2.run()
    engine_seen = {r["fetch_key"] for r in eng2.seen().collect()}
    assert engine_seen == sim_result.seen
    assert summary["items"] == len(sim_result.items)


def test_politeness_budget_defers(spark, corpus, tmp_path_factory):
    """A tight per-host budget must defer, not drop: the crawl takes more
    rounds but converges to the same seen set."""
    state = str(tmp_path_factory.mktemp("state_tight"))
    eng = CrawlEngine(spark, corpus, state, tokens_per_host=5, salt_buckets=4)
    summary = eng.run(G.seeds(), fresh=True)
    sim = simulate(G.corpus_dict(N_AVM, N_LINKSYS), G.seeds())
    assert summary["seen"] == len(sim.seen)
    assert summary["rounds"] > 4  # budget forced extra rounds


def test_run_round_refuses_committed_round(spark, corpus, tmp_path_factory):
    """Re-running a committed round would overwrite its seen partition with
    an empty delta (its frontier was already consumed); it must raise and
    leave the state untouched."""
    state = str(tmp_path_factory.mktemp("state_recommit"))
    eng = CrawlEngine(spark, corpus, state, tokens_per_host=5, salt_buckets=4)
    eng._write_frontier(eng.seed_frontier(G.seeds()), 0)
    eng.run_round(0)
    assert eng.committed_round() == 0
    n_seen = eng.seen().count()
    assert n_seen > 0
    with pytest.raises(ValueError, match="already committed"):
        eng.run_round(0)
    assert eng.seen().count() == n_seen


@pytest.mark.parametrize("option", ["tokens_per_host", "salt_buckets"])
@pytest.mark.parametrize("value", [0, -1])
def test_engine_rejects_politeness_below_one(spark, tmp_path, option, value):
    """Zero tokens per host would run round after round that fetches
    nothing; zero salt buckets would divide by zero mid-round. Both are
    refused when the engine is built."""
    with pytest.raises(ValueError, match="must be at least 1"):
        CrawlEngine(spark, str(tmp_path / "pages"), str(tmp_path / "state"),
                    **{option: value})


# Jobs launched by one budgeted steady round (round 1) of this corpus: 32
# (local[4], 4 shuffle partitions; the seen table is read under its own
# schema, with no inference job). Ceiling = 32 + 25 %.
MAX_JOBS_PER_ROUND = 40
# Tasks of the same round's stages whose operation graph names a Python
# node: 51. A stage that reads a cached frame counts too, since its graph
# carries the frame's lineage; the perfbench crawl's workers run 8 Python
# tasks per warm round (PLANS.md). Ceiling = 51 + 25 %.
MAX_PYTHON_TASKS_PER_ROUND = 63
PYTHON_NODE = re.compile(r"ArrowEvalPython|MapInPandas|BatchEvalPython")


def _last_job_id(sc) -> int:
    sc.listenerBus().waitUntilEmpty()
    it = sc.statusStore().jobsList(None).iterator()  # newest first
    return it.next().jobId() if it.hasNext() else -1


@pytest.fixture(scope="module")
def budgeted_round(spark, corpus, tmp_path_factory):
    """The ids of the jobs that round 1 of a budgeted crawl launched. The
    round's writes run on pool threads, so jobs are counted from the status
    store (every job the session launched), not by job group."""
    state = str(tmp_path_factory.mktemp("state_jobs"))
    eng = CrawlEngine(spark, corpus, state, tokens_per_host=5, salt_buckets=4)
    eng._write_frontier(eng.seed_frontier(G.seeds()), 0)
    eng.run_round(0)
    sc = spark.sparkContext._jsc.sc()
    before = _last_job_id(sc)
    eng.run_round(1)
    return range(before + 1, _last_job_id(sc) + 1)


def test_budgeted_round_job_count(budgeted_round):
    assert 0 < len(budgeted_round) <= MAX_JOBS_PER_ROUND, len(budgeted_round)


def test_budgeted_round_python_task_count(spark, budgeted_round):
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    graph = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    stages = {sid for job in budgeted_round
              for sid in tracker.getJobInfo(job).stageIds}
    tasks = 0
    for sid in stages:
        info = tracker.getStageInfo(sid)
        # a skipped stage ran no task, and the status store may have dropped
        # it already: its cleanup removes stages with no completion time first
        if info and info.numCompletedTasks and PYTHON_NODE.search(
                graph.makeDotFile(store.operationGraphForStage(sid))):
            tasks += info.numCompletedTasks
    assert 0 < tasks <= MAX_PYTHON_TASKS_PER_ROUND, tasks


def test_run_launches_jobs_only_in_rounds(spark, corpus, tmp_path_factory):
    """run() reads the fixpoint from the frontier snapshot's parquet
    footers: resuming a crawl, it launches no job outside run_round but
    its summary counts."""
    state = str(tmp_path_factory.mktemp("state_run_jobs"))
    eng = CrawlEngine(spark, corpus, state, tokens_per_host=10_000, salt_buckets=4)
    eng._write_frontier(eng.seed_frontier(G.seeds()), 0)
    sc = spark.sparkContext._jsc.sc()
    inner, gaps, last = eng.run_round, [], [_last_job_id(sc)]

    def run_round(rnd):
        gaps.append(_last_job_id(sc) - last[0])
        out = inner(rnd)
        last[0] = _last_job_id(sc)
        return out

    eng.run_round = run_round
    summary = eng.run()
    tail = _last_job_id(sc) - last[0]
    before = _last_job_id(sc)
    assert summary["seen"] == eng.seen().count()
    assert summary["items"] == eng.items().count()
    assert gaps == [0] * summary["rounds"]
    assert tail == _last_job_id(sc) - before


def test_state_reads_launch_no_job(spark, engine_state):
    """The state tables are read under their own schemas: opening seen,
    items and quarantine of a committed crawl infers nothing from parquet
    footers, so it launches no Spark job."""
    eng, _ = engine_state
    sc = spark.sparkContext._jsc.sc()
    before = _last_job_id(sc)
    for read in (eng.seen, eng.items, eng.quarantine):
        assert read().columns
    assert _last_job_id(sc) == before


def _compiled_classes(spark) -> int:
    sc = spark.sparkContext
    metrics = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_crawl_reuses_generated_code(spark, corpus, tmp_path):
    """The session's codegen cache holds a whole crawl's generated
    classes: a second crawl of the same corpus, by a fresh engine in the
    same session, compiles next to nothing (at Spark's default of 100
    entries each round evicted its own classes, about 580 compiles per
    crawl)."""
    summaries, compiled = [], []
    for n in range(2):
        before = _compiled_classes(spark)
        eng = CrawlEngine(spark, corpus, str(tmp_path / f"state{n}"),
                          tokens_per_host=10_000, salt_buckets=4)
        summaries.append(eng.run(G.seeds(), fresh=True))
        compiled.append(_compiled_classes(spark) - before)
    assert summaries[0] == summaries[1]
    assert compiled[1] <= 10, compiled


def _persistent_rdd_ids(spark) -> set:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}


def test_executor_storage_flat_per_round(spark, corpus, tmp_path_factory):
    """Executor storage stays bounded over a crawl: once the crawl-lifetime
    robots caches are built, every round releases all that it persisted, so
    after each round the session holds no persistent RDD it did not hold
    before the first one. (A subset, not equality: the context cleaner may
    drop caches that earlier tests left behind.)"""
    state = str(tmp_path_factory.mktemp("state_storage"))
    eng = CrawlEngine(spark, corpus, state, tokens_per_host=5, salt_buckets=4)
    seeds = eng.seed_frontier(G.seeds())
    eng._robots(eng._survey(seeds)[1]).count()
    base = _persistent_rdd_ids(spark)
    eng._write_frontier(seeds, 0)
    rnd, counts = 0, []
    while not eng._read_frontier(rnd).isEmpty():
        eng.run_round(rnd)
        ids = _persistent_rdd_ids(spark)
        counts.append(len(ids))
        assert ids <= base, (rnd, len(base), counts)
        rnd += 1
    assert rnd > 4  # the budget forced several rounds


def test_text_invariant(spark, corpus):
    """input_hint invariant: engine-side text extraction reproduces the
    corpus text column byte-identically per url."""
    from firmwarescraper_spark.functions.html import extract_text_udf

    pages = spark.read.parquet(corpus)
    mismatches = pages.select(
        "url",
        (extract_text_udf()(F.col("html").cast("string")) == F.col("text")).alias("ok"),
    ).filter(~F.col("ok"))
    assert mismatches.isEmpty()


def test_cli_crawl_and_feed(spark, tmp_path):
    """The reference's user surface (`scrapy crawl avm -o items.json`,
    README.md:37-41) through the CLI: gen-corpus -> crawl avm+linksys
    -> feed written, state resumable, spider name validation."""
    import json

    import pytest as pt

    from firmwarescraper_spark.__main__ import main, spider_seeds

    corpus = str(tmp_path / "pages")
    out = main(["gen-corpus", "--out", corpus, "--avm", "2",
                "--linksys", "2", "--vendor-scale", "0"], spark=spark)
    assert out["pages"] > 0
    state = str(tmp_path / "state")
    feed = str(tmp_path / "feed")
    res = main(["crawl", "avm", "linksys", "--pages", corpus,
                "--state", state, "-o", feed, "--fresh"], spark=spark)
    assert res["items"] > 0 and res["feed_items"] == res["items"]
    fed = spark.read.json(feed)
    assert fed.count() == res["items"]
    assert "files" in fed.columns
    # resume on completed state: no new rounds, same counts
    res2 = main(["crawl", "avm", "linksys", "--pages", corpus,
                 "--state", state], spark=spark)
    assert res2["items"] == res["items"]
    # all == the full 10-spider seed list; bad names rejected
    assert len(spider_seeds(["all"])) > len(spider_seeds(["avm"]))
    with pt.raises(SystemExit):
        spider_seeds(["nope"])


def test_run_releases_robots_caches(spark, tmp_path):
    """run() drops the robots caches it built: afterwards the session holds
    no persistent RDD it did not hold before the engine existed. The corpus
    path is this test's own, so no other engine's robots cache can match
    this one's plans and be reused instead of built."""
    corpus = str(tmp_path / "pages_robots_release")
    G.write_corpus(spark, corpus, n_avm=1, n_linksys=1, partitions=2)
    base = _persistent_rdd_ids(spark)
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"))
    eng.run(G.seeds(), fresh=True)
    assert _persistent_rdd_ids(spark) <= base


class RecordingFetcher(CorpusFetcher):
    """The corpus fetcher, recording the URL of every request it gets."""

    def __init__(self):
        super().__init__()
        self.requested = []

    def fetch(self, df, use_bcast):
        self.requested += [r["url"] for r in df.select("url").collect()]
        return super().fetch(df, use_bcast)


def _write_pages(spark, path, pages: dict, fail_times: dict | None = None):
    pdf = pd.DataFrame(G._rows_from_pages(pages))
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    if fail_times:
        pdf["fail_times"] = [fail_times.get(u, 0) for u in pdf["url"]]
        schema += ", fail_times int"
    spark.createDataFrame(pdf, schema).write.mode("overwrite").parquet(path)


def _robots_url(key: str) -> str:
    return re.match(r"^[a-z]+://[^/?#]+", key).group(0) + "/robots.txt"


def test_robots_requests_follow_reached_bases(spark, tmp_path):
    """robots.txt is requested through the crawl's fetcher once for each
    base the crawl reaches, and only for those: the corpus robots row of a
    host no seed reaches is never requested."""
    unreached = "http://unreached.example/robots.txt"
    corpus = str(tmp_path / "pages")
    _write_pages(spark, corpus, G.corpus_dict(1, 1)
                 | {unreached: "User-agent: *\nDisallow: /\n"})
    fetcher = RecordingFetcher()
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"), fetcher=fetcher)
    eng.run(G.seeds(), fresh=True)
    robots = [u for u in fetcher.requested if u.endswith("/robots.txt")]
    reached = {_robots_url(r["fetch_key"]) for r in eng.seen().collect()}
    assert sorted(robots) == sorted(reached)
    assert unreached not in robots


def test_robots_requests_leave_no_crawl_state(spark, tmp_path):
    """A robots.txt answer outside 2xx is allow-all and is not retried;
    robots requests never enter seen or fetch_log."""
    host = G.AVM_HOST
    robots = f"http://{host}/robots.txt"
    pages = G.avm_family_pages(host, "fritzbox", 2) | {
        robots: "User-agent: *\nDisallow: /fritzbox/fritzbox-7001/\n"}
    corpus = str(tmp_path / "pages")
    _write_pages(spark, corpus, pages, {robots: 1})  # answers 503 once
    fetcher = RecordingFetcher()
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"), fetcher=fetcher)
    eng.run([(f"http://{host}/fritzbox/", "avm:parse")], fresh=True)
    assert fetcher.requested.count(robots) == 1
    seen = [r["fetch_key"] for r in eng.seen().collect()]
    assert any("/fritzbox/fritzbox-7001/" in k for k in seen)  # allow-all
    assert not any(k.endswith("/robots.txt") for k in seen)
    fetched, errors = eng.fetch_log().agg(
        F.sum("fetched"), F.sum("errors")).first()
    pages_requested = [u for u in fetcher.requested
                       if not u.endswith("/robots.txt")]
    assert errors == 0
    assert fetched == len(pages_requested) == len(seen)


@pytest.mark.parametrize("seed", ["http://H.Example/b/x", "HTTP://h.example/b/x"])
def test_robots_case_folds_scheme_and_host(spark, tmp_path, seed):
    """A URL with an uppercase scheme or host is judged by the robots.txt
    of its case-folded base, requested once under that base."""
    corpus = str(tmp_path / "pages")
    _write_pages(spark, corpus, {
        "http://h.example/robots.txt": "User-agent: *\nDisallow: /b\n",
        "http://h.example/b/x": "<html></html>"})
    fetcher = RecordingFetcher()
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"), fetcher=fetcher)
    eng.run([(seed, "avm:parse")], fresh=True)
    assert fetcher.requested == ["http://h.example/robots.txt"]  # page blocked
    assert [r["fetch_key"] for r in eng.seen().collect()] == ["http://h.example/b/x"]
    assert eng.fetch_log().agg(F.sum("fetched"), F.sum("errors")).first() == (0, 1)


class AnswerFetcher:
    """Answers each request from a url -> (status, body) dict; an unknown
    url answers 404."""

    def __init__(self, answers: dict):
        self.answers = answers

    def fetch(self, df, use_bcast):
        rows = [(u, *self.answers.get(u, (404, None)))
                for u in (r["url"] for r in df.select("url").collect())]
        return df.sparkSession.createDataFrame(
            rows, "url string, status int, html string")


def _split_host_engine(spark, tmp_path):
    """An engine whose fetcher serves h.example different robots.txt under
    http and https and a 404 on port 8080; g.example answers 404."""
    answers = {
        "http://h.example/robots.txt":
            (200, "User-agent: *\nDisallow: /a\nCrawl-delay: 10\n"),
        "https://h.example/robots.txt":
            (200, "User-agent: *\nDisallow: /b\nAllow: /b/c\nCrawl-delay: 20\n"),
    }
    eng = CrawlEngine(spark, str(tmp_path / "nopages"), str(tmp_path / "state"),
                      fetcher=AnswerFetcher(answers))
    frontier = eng.seed_frontier([
        (f"{b}/b/c/p{i}", "avm:parse")
        for i, b in enumerate(["http://h.example", "https://h.example",
                               "http://h.example:8080", "http://g.example"])])
    return eng, frontier


def test_robots_state_one_row_per_host(spark, tmp_path):
    """The robots state holds one compiled row per host: the union of the
    rules of every file the host served, the largest delay and every base
    it covers, a 404 base included."""
    eng, frontier = _split_host_engine(spark, tmp_path)
    eng._robots(eng._survey(frontier)[1])
    rows = {r["host"]: r for r in eng._robots_state.collect()}
    assert eng._robots_state.count() == len(rows) == 2
    h, g = rows["h.example"], rows["g.example"]
    assert sorted((r["rule_regex"], r["rule_len"], r["is_allow"])
                  for r in h["rules"]) == [
        ("^/a", 2, False), ("^/b", 2, False), ("^/b/c", 4, True)]
    assert h["crawl_delay"] == 20.0
    assert sorted(h["bases"]) == [
        "http://h.example", "http://h.example:8080", "https://h.example"]
    assert (g["rules"], g["crawl_delay"], g["bases"]) == (
        [], None, ["http://g.example"])
    assert eng._survey(frontier)[1] == []  # every base is covered


def test_robots_consumers_do_not_regroup_state(spark, tmp_path):
    """The verdict join and the dequeue read the compiled state as it is
    stored: their executed plans hold no aggregate over its scan."""
    eng, frontier = _split_host_engine(spark, tmp_path)
    rules = eng._robots(eng._survey(frontier)[1])
    allowed, _, joined = RB.robots_filter(frontier, rules, persist_split=True)
    dequeued, _ = eng._dequeue(allowed)
    try:
        joined.collect()
        assert len(dequeued.collect()) == 4
        for df in (joined, dequeued):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Aggregate" not in plan, plan
            assert re.search(r"Scan ExistingRDD\[host#\d+,rules#", plan)
    finally:
        dequeued.unpersist()
        joined.unpersist()


def test_dequeue_reads_robots_state_in_one_join(spark, tmp_path):
    """A round reads the robots state in one join: each host's budget is a
    column of the verdict-joined rows, so the plans of both dequeue outputs
    hold the verdict join on host and no other, and the budget still binds
    (h.example's Crawl-delay 20 over 40 s rounds: 2 of its 3 rows)."""
    eng, frontier = _split_host_engine(spark, tmp_path)
    eng.round_seconds = 40
    try:
        allowed, _ = eng._candidates(
            frontier, eng.seen(), eng._survey(frontier)[1], True)
        dequeued, deferred = eng._dequeue(allowed)
        # read before any action: the cached verdict join then prints as
        # one not yet adaptive physical plan, a join as "Join [host#";
        # a logical join prints as "Join LeftOuter, (host#"
        for df in (dequeued, deferred):
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            joins = re.findall(r"Join (?:\w+, \(|\[)host#", plan)
            assert len(joins) == 1, plan
            assert "crawl_delay" not in df.columns
        hosts = sorted(r["host"] for r in dequeued.collect())
        assert hosts == ["g.example", "h.example", "h.example"]
        assert [r["host"] for r in deferred.collect()] == ["h.example"]
    finally:
        for df in reversed(eng._round_cache):
            df.unpersist()
        eng._release_robots()


def test_robots_applies_to_urls_with_userinfo(spark, tmp_path):
    """A URL with userinfo is judged by its host's robots.txt: the state
    row of ``http://u@h.example/robots.txt`` is keyed by host h.example,
    the frontier's host key of ``http://u@h.example/b/x``."""
    corpus = str(tmp_path / "pages")
    _write_pages(spark, corpus, {
        "http://u@h.example/robots.txt": "User-agent: *\nDisallow: /b\n",
        "http://u@h.example/b/x": "<html></html>"})
    fetcher = RecordingFetcher()
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"), fetcher=fetcher)
    eng.run([("http://u@h.example/b/x", "avm:parse")], fresh=True)
    assert fetcher.requested == ["http://u@h.example/robots.txt"]  # page blocked
    assert eng.fetch_log().agg(F.sum("fetched"), F.sum("errors")).first() == (0, 1)


def test_round_with_zero_crawl_delay_commits(spark, tmp_path):
    """A robots.txt saying ``Crawl-delay: 0`` sets no budget; the round
    commits instead of dividing by zero."""
    host = G.AVM_HOST
    corpus = str(tmp_path / "pages")
    _write_pages(spark, corpus, G.avm_family_pages(host, "fritzbox", 2) | {
        f"http://{host}/robots.txt": "User-agent: *\nCrawl-delay: 0\n"})
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"))
    eng._write_frontier(eng.seed_frontier(
        [(f"http://{host}/fritzbox/", "avm:parse")]), 0)
    try:
        eng.run_round(0)
    finally:
        eng._release_robots()
    assert eng.committed_round() == 0
    assert eng.seen().count() == 1
