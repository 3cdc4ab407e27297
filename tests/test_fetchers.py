"""The fetch stage: the fetch join's broadcast gate and the frontier
snapshot size it reads, the local-path state_dir it reads it from, and
HttpFetcher's stream-bounded body reads under the engine's
``max_fetch_bytes`` (scrapy download_maxsize)."""

import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import urlsplit

import pandas as pd
import pytest
from pyspark.sql import functions as F

from firmwarescraper_spark.plans.crawl import CrawlEngine
from firmwarescraper_spark.plans.fetchers import HttpFetcher
from firmwarescraper_spark.sources import generate as G

SCHEMA = ("url string, warc_ts timestamp, html binary, text string, "
          "lang string")
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _write_pages(spark, path, pages: dict):
    rows = G._rows_from_pages(pages)
    spark.createDataFrame(pd.DataFrame(rows), SCHEMA).write.mode(
        "overwrite").parquet(path)


def _serve(pages: dict):
    """Serve {url: body} over localhost; records every raw request target
    (path?query exactly as received) in ``hits``."""
    by_path = {urlsplit(u).path + (("?" + urlsplit(u).query)
                                   if urlsplit(u).query else ""): h
               for u, h in pages.items()}
    hits = []

    class H(BaseHTTPRequestHandler):
        def do_GET(self):
            hits.append(self.path)
            body = by_path.get(self.path)
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            data = body.encode() if isinstance(body, str) else body
            self.send_response(200)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *a):  # keep pytest output clean
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, srv.server_address[1], hits


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# the fetch join's build side: broadcast only under the session threshold
# ---------------------------------------------------------------------------

def test_fetch_broadcast_autogate(spark, tmp_path):
    """The fetch-join size gate must broadcast the dequeued set only while
    the frontier snapshot (an upper bound on it) fits the session's
    autoBroadcastJoinThreshold; past it, or at -1, the join runs unhinted
    — no forced BroadcastExchange of an unbounded dequeued set — and the
    crawl result is identical."""
    corpus = str(tmp_path / "pages")
    G.write_corpus(spark, corpus, n_avm=2, n_linksys=2, partitions=2)

    a = CrawlEngine(spark, corpus, str(tmp_path / "state_a"))
    a.run(G.seeds(), fresh=True)
    # the session's 64 MiB threshold: tiny frontier -> broadcast chosen
    assert a._fetch_broadcast_choice(0) is True

    b = CrawlEngine(spark, corpus, str(tmp_path / "state_b"))
    prev = spark.conf.get(THRESHOLD)
    try:
        spark.conf.set(THRESHOLD, "-1")  # no broadcast hint at all
        assert a._fetch_broadcast_choice(0) is False
        spark.conf.set(THRESHOLD, "0")  # every snapshot "too big"
        b._write_frontier(b.seed_frontier(G.seeds()), 0)
        res = b.run_round(0)
        assert res["fetch_broadcast"] is False
        b.run()  # drain to fixpoint on the non-broadcast path
    finally:
        spark.conf.set(THRESHOLD, prev)
    assert ({r["fetch_key"] for r in a.seen().collect()}
            == {r["fetch_key"] for r in b.seen().collect()})
    assert a.items().count() == b.items().count()


def test_fetch_join_plan_no_forced_broadcast(spark, tmp_path):
    """Plan-shape pin: with the gate OFF the dequeued build side carries no
    broadcast hint, so (auto-broadcast disabled) the physical plan has no
    BroadcastExchange; with the gate ON it does."""
    corpus = str(tmp_path / "pages")
    G.write_corpus(spark, corpus, n_avm=2, n_linksys=2, partitions=2)
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"))
    dequeued = eng.seed_frontier(G.seeds())
    prev = spark.conf.get(THRESHOLD)
    try:
        spark.conf.set(THRESHOLD, "-1")
        assert "BroadcastExchange" not in _physical_plan(
            eng._fetch_join(dequeued, use_bcast=False))
        assert "BroadcastExchange" in _physical_plan(
            eng._fetch_join(dequeued, use_bcast=True))
    finally:
        spark.conf.set(THRESHOLD, prev)


def test_frontier_bytes_sums_local_part_files(spark, tmp_path):
    """The gate's size is the snapshot's part files, read from the same
    listing as the fixpoint check's row count; a missing snapshot is 0."""
    state = tmp_path / "state"
    eng = CrawlEngine(spark, str(tmp_path / "nopages"), str(state))
    eng._write_frontier(eng.seed_frontier(
        [(f"http://h.example/p{i}", "avm:parse") for i in range(50)]), 0)
    parts = [p for p in (state / "frontier" / "round=0").iterdir()
             if p.name.startswith("part-")]
    assert parts
    assert eng._frontier_bytes(0) == sum(p.stat().st_size for p in parts) > 0
    assert eng._frontier_rows(0) == 50
    assert eng._frontier_bytes(7) == 0  # missing snapshot: no crash


def test_uri_state_dir_rejected(spark, tmp_path):
    """State is read and written through os paths, so a URI state_dir —
    which Spark would write and the driver then not find mid-run — fails
    at construction, from the engine and from the CLI's --state, before
    anything is written."""
    from firmwarescraper_spark.__main__ import main

    pages = str(tmp_path / "pages")
    for uri in ("file://" + str(tmp_path / "state"), "hdfs://nn/state"):
        with pytest.raises(ValueError, match="local path"):
            CrawlEngine(spark, pages, uri)
        with pytest.raises(ValueError, match="local path"):
            main(["crawl", "avm", "--pages", pages, "--state", uri],
                 spark=spark)
    assert os.listdir(tmp_path) == []


# ---------------------------------------------------------------------------
# HttpFetcher: stream-bounded body reads (download_maxsize semantics)
# ---------------------------------------------------------------------------

def test_http_fetcher_streams_bounded(spark, tmp_path):
    """An over-cap response must come back as a retryable 503 with a NULL
    body — read in chunks and aborted at max_fetch_bytes + 1, never
    materialized (scrapy download_maxsize; the engine's F.length guard
    fires only after the bytes already sit in executor memory). A body of
    exactly max_fetch_bytes still succeeds: the cap is inclusive."""
    cap = 4096
    exact = "A" * cap
    over = "B" * (cap * 300)  # ~1.2 MB: many chunks past the cap
    srv, port, _ = _serve({"http://127.0.0.1/exact": exact,
                           "http://127.0.0.1/over": over})
    dequeued = spark.createDataFrame(
        [(f"http://127.0.0.1:{port}/exact", None),
         (f"http://127.0.0.1:{port}/over", None)],
        "url string, form_data map<string,string>")
    try:
        eng = CrawlEngine(spark, str(tmp_path / "pages"),
                          str(tmp_path / "state"), max_fetch_bytes=cap,
                          fetcher=HttpFetcher(timeout=60, concurrency=2))
        rows = {r["url"].rsplit("/", 1)[1]: r
                for r in eng.fetcher.fetch(dequeued, use_bcast=False).collect()}
    finally:
        srv.shutdown()
    assert rows["exact"]["status"] == 200
    assert rows["exact"]["html"] == exact
    assert rows["over"]["status"] == 503     # retryable -> terminal (T3)
    assert rows["over"]["html"] is None      # body never materialized


def test_http_fetcher_cap_defaults_to_engine_max_fetch_bytes(spark, tmp_path):
    """Wired through the engine: an oversize response is retried
    max_retries times then terminally logged — the same T3 path as a
    simulated 5xx, with the body bounded at every attempt."""
    srv, port, hits = _serve({"http://127.0.0.1/big/": "C" * 50_000})
    url = f"http://127.0.0.1:{port}/big/"
    corpus = str(tmp_path / "pages")
    _write_pages(spark, corpus, {url: "x"})
    try:
        eng = CrawlEngine(spark, corpus, str(tmp_path / "state"),
                          obey_robots=False, max_fetch_bytes=1000,
                          fetcher=HttpFetcher(timeout=60, concurrency=2))
        summary = eng.run([(url, "avm:parse")], fresh=True)
    finally:
        srv.shutdown()
    assert summary["rounds"] == 3  # attempt + 2 retries
    log = eng.fetch_log().agg(
        F.sum("errors").alias("e"), F.sum("retries").alias("r")).first()
    assert (log["e"], log["r"]) == (1, 2)
    assert len(hits) == 3
