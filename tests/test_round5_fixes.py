"""Round-5 behaviors: r4 verdict fixes (HttpFetcher requests the ORIGINAL
URL; robots state lineage truncation) plus ADVICE r4 (collect_downloads
null-blob guard; the robots source flags are gone from the CLI). The
stream-bounded body reads are pinned in tests/test_fetchers.py."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from firmwarescraper_spark.operators import robots as RB
from firmwarescraper_spark.plans.crawl import CrawlEngine
from firmwarescraper_spark.sources import generate as G
from tests.test_fetchers import SCHEMA, _serve, _write_pages


# ---------------------------------------------------------------------------
# r4 verdict #2: HttpFetcher requests the ORIGINAL url, not canon_url
# ---------------------------------------------------------------------------

def test_http_fetcher_requests_original_url(spark, tmp_path):
    """Canonicalization sorts query params (?b=2&a=1 -> ?a=1&b=2) to build
    the dupefilter fingerprint; the wire request must carry the RAW order,
    like scrapy fetching request.url verbatim — signed/ordered query
    strings break otherwise. The server only answers the raw form, so a
    canon_url fetch would 404; we also assert the recorded request target
    byte-for-byte."""
    from firmwarescraper_spark.plans.fetchers import HttpFetcher

    raw_query = "/x/?b=2&a=1"
    srv, port, hits = _serve({f"http://127.0.0.1{raw_query}": "<html>ok</html>"})
    url = f"http://127.0.0.1:{port}{raw_query}"
    corpus = str(tmp_path / "pages")
    _write_pages(spark, corpus, {url: "<html>ok</html>"})
    try:
        eng = CrawlEngine(spark, corpus, str(tmp_path / "state"),
                          obey_robots=False,
                          fetcher=HttpFetcher(timeout=60, concurrency=2))
        eng.run([(url, "avm:parse")], fresh=True)
    finally:
        srv.shutdown()
    assert raw_query in hits            # server saw the raw param order
    assert "/x/?a=1&b=2" not in hits    # and never the canonicalized one
    # while the seen/dedup key stays canonical (sorted params)
    keys = {r["fetch_key"] for r in eng.seen().collect()}
    assert keys == {f"http://127.0.0.1:{port}/x/?a=1&b=2"}
    assert eng.fetch_log().agg(F.sum("fetched")).first()[0] == 1


# ---------------------------------------------------------------------------
# HttpFetcher redirect policy (scrapy RedirectMiddleware semantics)
# ---------------------------------------------------------------------------

def _serve_redirects(target_body: str):
    """Serve /hop/<n> -> /hop/<n-1> 302 chains, /hop/0 -> 200 body,
    /loop -> /loop forever."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class H(BaseHTTPRequestHandler):
        def do_GET(self):
            if self.path == "/hop/0":
                data = target_body.encode()
                self.send_response(200)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)
                return
            if self.path.startswith("/hop/"):
                n = int(self.path.rsplit("/", 1)[1])
                self.send_response(302)
                self.send_header("Location", f"/hop/{n - 1}")
                self.end_headers()
                return
            self.send_response(302)  # /loop and anything else: self-loop
            self.send_header("Location", "/loop")
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, srv.server_address[1]


def test_http_fetcher_redirect_policy(spark):
    """Default: 302 chains are followed to the final body, bounded at
    max_redirects (a loop terminates with the 3xx surfacing, like scrapy
    dropping an over-limit request). follow_redirects=False is scrapy's
    dont_redirect — the 302 itself is the row's status (the reference's
    HP spider handles its 302s exactly this way)."""
    from firmwarescraper_spark.plans.fetchers import HttpFetcher

    srv, port = _serve_redirects("FINAL")
    base = f"http://127.0.0.1:{port}"
    dequeued = spark.createDataFrame(
        [(f"{base}/hop/3", None), (f"{base}/loop", None)],
        "url string, form_data map<string,string>")
    try:
        def by_kind(fetched):
            return {("hop" if "/hop/" in r["url"] else "loop"): r
                    for r in fetched.collect()}

        follow = HttpFetcher(timeout=30, concurrency=2, max_redirects=20)
        rows = by_kind(follow.fetch(dequeued, False))
        assert rows["hop"]["status"] == 200
        assert rows["hop"]["html"] == "FINAL"
        assert rows["loop"]["status"] == 302  # loop cut at the bound
        assert rows["loop"]["html"] is None

        dont = HttpFetcher(timeout=30, concurrency=2,
                           follow_redirects=False)
        rows = by_kind(dont.fetch(dequeued, False))
        assert rows["hop"]["status"] == 302   # the 3xx itself, unfollowed
        assert rows["loop"]["status"] == 302
    finally:
        srv.shutdown()


# ---------------------------------------------------------------------------
# HttpFetcher per-host pacing (fetch-time politeness)
# ---------------------------------------------------------------------------

def test_http_fetcher_per_host_pacing(spark):
    """per_host_delay_ms serializes a host's requests within a batch with
    the delay between them (scrapy DOWNLOAD_DELAY at the downloader):
    the server-observed gap between consecutive same-host hits must be at
    least ~the delay, and all rows still resolve 200."""
    import threading
    import time
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    stamps = []

    class H(BaseHTTPRequestHandler):
        def do_GET(self):
            stamps.append(time.monotonic())
            data = b"ok"
            self.send_response(200)
            self.send_header("Content-Length", "2")
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    from firmwarescraper_spark.plans.fetchers import HttpFetcher

    dequeued = spark.createDataFrame(
        [(f"http://127.0.0.1:{port}/p{i}", None) for i in range(3)],
        "url string, form_data map<string,string>").coalesce(1)
    try:
        fetcher = HttpFetcher(timeout=30, concurrency=4,
                              per_host_delay_ms=400)
        rows = fetcher.fetch(dequeued, False).collect()
    finally:
        srv.shutdown()
    assert [r["status"] for r in rows] == [200, 200, 200]
    gaps = [b - a for a, b in zip(sorted(stamps), sorted(stamps)[1:])]
    assert len(gaps) == 2
    # generous lower bound: sleep(0.4) minus scheduler slop
    assert all(g >= 0.3 for g in gaps), gaps


# ---------------------------------------------------------------------------
# r4 verdict #4 + ADVICE: the robots state's lineage stays bounded over rounds
# ---------------------------------------------------------------------------

def test_robots_http_lineage_bounded(spark, tmp_path):
    """Each round that reaches new bases extends the robots state through
    the engine's fetcher; the state must localCheckpoint so the plan
    carried into round k is a flat RDD scan, not a k-deep union of fetch +
    mapInPandas parses (which would re-fetch robots.txt on cache eviction
    AND bloat every round's Catalyst analysis)."""
    body = "User-agent: *\nDisallow: /private/\nCrawl-delay: 2\n"

    class StubFetcher:
        """Answers every request 200 with ``body``; records the URLs."""

        def __init__(self):
            self.requested = []

        def fetch(self, df, use_bcast):
            self.requested += [r["url"] for r in df.select("url").collect()]
            return df.withColumn("html", F.lit(body)).withColumn(
                "status", F.lit(200))

    fetcher = StubFetcher()
    eng = CrawlEngine(spark, str(tmp_path / "nopages"),
                      str(tmp_path / "state"), fetcher=fetcher)

    def frontier_for(hosts):
        return spark.createDataFrame(
            [(f"http://{h}/p", f"http://{h}/p", h, "avm:parse") for h in hosts],
            "url string, canon_url string, host string, rule string")

    plans = []
    for k in range(6):
        eng._robots(eng._survey(
            frontier_for([f"h{j}.example" for j in range(k + 1)]))[1])
        plans.append(
            eng._robots_state._jdf.queryExecution().analyzed().toString())
    # flat plan: the accumulated state is a checkpointed RDD scan — no
    # union/mapInPandas chain survives into later rounds
    assert "Union" not in plans[-1]
    assert "MapInPandas" not in plans[-1]
    assert "Aggregate" not in plans[-1]
    assert len(plans[-1]) <= len(plans[1]) + 50  # does not grow with k
    # and the data is complete + correct after 6 incremental extensions
    rules = eng._robots([])
    hosts = {r["host"] for r in rules.collect()}
    assert hosts == {f"h{j}.example" for j in range(6)}
    assert rules.count() == len(hosts)  # one compiled row per host
    budget = RB.delay_budget(eng.round_seconds, eng.tokens_per_host)
    assert {tuple(r) for r in rules.select("host", budget).collect()} == {
        (h, 30) for h in hosts}  # Crawl-delay 2 over 60 s rounds
    # each base was requested exactly once
    assert sorted(fetcher.requested) == sorted(
        f"http://h{j}.example/robots.txt" for j in range(6))
    # re-presenting only known bases must not rebuild anything
    before = eng._robots_state
    bases = eng._survey(frontier_for(["h0.example", "h3.example"]))[1]
    assert bases == []
    eng._robots(bases)
    assert eng._robots_state is before


# ---------------------------------------------------------------------------
# ADVICE r4: collect_downloads must skip corpus rows with a NULL body
# ---------------------------------------------------------------------------

def test_collect_downloads_null_blob_stays_pending(spark, tmp_path):
    """A corpus row present with NULL html must NOT mint a manifest row
    (null sha256 would permanently mark the file downloaded); it stays
    pending — logged as a miss — and a later run with the blob present
    downloads it for real."""
    url_ok, url_null = ("http://h.example/fw/ok.bin",
                       "http://h.example/fw/null.bin")
    corpus = str(tmp_path / "pages")
    rows = G._rows_from_pages({url_ok: "BLOB-OK"})
    null_row = dict(rows[0])
    null_row.update(url=url_null, html=None, text=None)
    spark.createDataFrame(pd.DataFrame(rows + [null_row]), SCHEMA).write.mode(
        "overwrite").parquet(corpus)
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"))
    items = spark.createDataFrame(
        [(["V"], ["d"], ["1.0"], ["Router"], ["01-01-2020"],
          [url_ok, url_null])],
        "vendor array<string>, device_name array<string>, "
        "firmware_version array<string>, device_class array<string>, "
        "release_date array<string>, file_urls array<string>")
    eng._append(items, "items", 0)
    eng._commit_round(0)
    manifest = eng.collect_downloads()
    got = {r["url"]: r for r in manifest.collect()}
    assert set(got) == {url_ok}
    assert got[url_ok]["sha256"] is not None
    misses = spark.read.parquet(os.path.join(eng.state_dir, "download_misses"))
    assert {r["url"] for r in misses.collect()} == {url_null}
    # the blob shows up in a later corpus snapshot -> downloaded then
    _write_pages(spark, corpus, {url_ok: "BLOB-OK", url_null: "BLOB-LATE"})
    eng2 = CrawlEngine(spark, corpus, str(tmp_path / "state"))
    manifest2 = eng2.collect_downloads()
    assert {r["url"] for r in manifest2.collect()} == {url_ok, url_null}


# ---------------------------------------------------------------------------
# r4 verdict #8: MJPEG tracks decode real frames via the sample table
# ---------------------------------------------------------------------------

def test_mjpeg_frame_sampling_real_decode(spark):
    """An MP4 with a Motion-JPEG track is no longer a stub: the ISO-BMFF
    stsz/stsc/stco walk locates each sample byte-identically, the sampled
    frames decode through the pure-numpy JPEG decoder, and the emitted BMP
    raster equals decoding the same JPEG bytes directly. A non-MJPEG
    track (avc1) still takes the tagged stub path."""
    import numpy as np

    from firmwarescraper_spark.multimodal import binary as MM
    from firmwarescraper_spark.multimodal import codecs as CX
    from firmwarescraper_spark.multimodal import jpeg as JP

    def checker(shift):
        y, x = np.mgrid[0:16, 0:16]
        a = np.zeros((16, 16, 3), dtype=np.uint8)
        a[:, :, 0] = ((x + y + shift) % 2) * 255
        a[:, :, 1] = (x * 7 + shift) % 256
        a[:, :, 2] = (y * 13) % 256
        return a

    jpegs = [JP.encode_jpeg(checker(s)) for s in range(5)]
    mjpeg = CX.encode_mp4_mjpeg(jpegs, 16, 16)
    table = CX.mp4_sample_table(mjpeg)
    assert len(table) == 5
    assert all(mjpeg[o:o + s] == jpegs[i] for i, (o, s) in enumerate(table))
    avc = CX.encode_mp4_skeleton(16, 16, 200)  # no samples, avc1 fourcc
    df = spark.createDataFrame(
        [(1, bytearray(mjpeg)), (2, bytearray(avc))], "id long, payload binary")
    frames = MM.frame_sample_video(df, every_n=2, max_frames=3).collect()
    real = sorted([r for r in frames if r["id"] == 1],
                  key=lambda r: r["frame_no"])
    stub = [r for r in frames if r["id"] == 2]
    # 5 samples at stride 2 -> frame_no 0, 2, 4 (bounded by availability)
    assert [r["frame_no"] for r in real] == [0, 2, 4]
    assert all(r["codec"] == "mjpeg-numpy" for r in real)
    for r in real:
        expect = CX.decode_bmp(CX.encode_bmp(JP.decode_jpeg(jpegs[r["frame_no"]])))
        got = CX.decode_bmp(bytes(r["frame"]))
        assert np.array_equal(got, expect)
    # the non-MJPEG track keeps the loudly tagged deterministic stub
    assert len(stub) == 3 and all(r["codec"] == "stub" for r in stub)


# ---------------------------------------------------------------------------
# canonicalization fast path == slow path (the writes-phase hot loop)
# ---------------------------------------------------------------------------

def test_canonicalize_fast_path_parity():
    """The vectorized identity fast path inside _canonicalize_series must
    agree byte-for-byte with per-row canonicalize_url on every URL shape —
    fast-path hits return unchanged, everything tricky (ports, escapes,
    queries, uppercase hosts, spaces, fragments, empty paths) must fall
    through to the slow path and normalize."""
    import pandas as pd

    from firmwarescraper_spark.functions.url import (
        _canonicalize_series, canonicalize_url)

    urls = [
        # fast-path shapes (identity)
        "http://download.avm.de/fritzbox/fritzbox-7590/deutschland/fritz.os/",
        "https://mirror-03.avm.de/a/b;v=1/c.TXT",
        "ftp://ftp.dlink.de/Products/(dir)/~x/a+b,c!d'e*f",
        # slow-path shapes (must normalize)
        "HTTP://Example.COM/path",            # scheme+host case
        "http://example.com",                 # empty path -> '/'
        "http://example.com:80/x",            # default port strips
        "http://example.com:8080/x",          # non-default port stays
        "http://h.example/x/?b=2&a=1",        # query sorts
        "http://h.example/x%2fy%aB",          # escape hex uppercases
        "http://h.example/a b/c",             # space quotes
        "http://h.example/x#frag",            # fragment drops
        "http://h.example/übung",             # non-ascii quotes
        "  http://h.example/pad  ",           # strip
        "http://127.0.0.1:1/x/",              # port stays (not default)
        None,
    ]
    got = _canonicalize_series(pd.Series(urls, dtype=object))
    expect = [canonicalize_url(u) for u in urls]
    assert list(got) == expect
    # the three fast-path rows really took the identity branch
    for u in urls[:3]:
        assert canonicalize_url(u) == u


# ---------------------------------------------------------------------------
# r4 verdict #1: bench pair gate — probe classification
# ---------------------------------------------------------------------------

def test_bench_probe_gate():
    """The bench headline only counts pairs whose window probes show the
    box physically delivering the 4-core arm: under-delivery (neighbors
    eating cores) AND over-unity readings (contended serial reference —
    4 workers cannot exceed 4 cores) both fail; so does a probe error."""
    import bench

    assert bench.probe_ok({"effective_cores_4w": 3.7})
    assert bench.probe_ok({"effective_cores_4w": 3.5})   # gate inclusive
    assert not bench.probe_ok({"effective_cores_4w": 2.9})   # r4 bad window
    assert not bench.probe_ok({"effective_cores_4w": 4.4})   # slowed serial
    assert not bench.probe_ok({"error": "boom"})


def _pair(hi_rate, lo_rate, clean):
    return {
        "run_hi": {"urls_per_sec": hi_rate, "cores": 4},
        "run_lo": {"urls_per_sec": lo_rate, "cores": 1},
        "efficiency": round((hi_rate / lo_rate) / 4, 3),
        "clean": clean,
    }


def test_bench_headline_gated_median():
    """With clean pairs, the headline is the median-low clean-pair
    efficiency and the reported arm rows come from that SAME pair; dirty
    pairs stay out of the selection entirely."""
    import bench

    pairs = [
        _pair(1600, 400, True),    # eff 1.0
        _pair(1280, 400, True),    # eff 0.8  <- median-low of clean
        _pair(1440, 400, True),    # eff 0.9
        _pair(400, 400, False),    # dirty garbage must not matter
    ]
    head = bench.headline_from_pairs(pairs)
    assert head["gate_met"] and head["fallback"] is None
    assert head["efficiency"] == 0.9  # median_low of [0.8, 0.9, 1.0]... sorted[1]
    assert head["run_hi"]["urls_per_sec"] == 1440
    assert head["run_lo"]["urls_per_sec"] == 400


def test_bench_headline_even_clean_count_true_median():
    """Protocol v2 runs to 2 clean windows: the headline is the TRUE
    median (mean of the two middle efficiencies), not median-low — two
    clean windows at 0.79/0.83 measure 0.81, not the worse of the two.
    The reported arm rows still come from the lower-middle pair (a real
    measured pair, never a synthetic average)."""
    import bench

    pairs = [
        _pair(1264, 400, True),    # eff 0.79
        _pair(1328, 400, True),    # eff 0.83
        _pair(600, 400, False),    # dirty, ignored by the gate
    ]
    head = bench.headline_from_pairs(pairs)
    assert head["gate_met"] and head["fallback"] is None
    assert head["efficiency"] == 0.81
    assert head["run_hi"]["urls_per_sec"] == 1264  # lower-middle pair's rows


def test_bench_window_min_of_k_arms(monkeypatch):
    """Protocol v2 (post builder runs 9-10): a measured window runs every
    arm ARM_REPS times and scores the window on the min-wall-time (= max
    URLs/s) rep per configuration — contention only ever ADDS time, so
    min-of-k is a consistent estimator of the uncontended arm. A transient
    burst that slows one hi rep must not poison the window's efficiency.
    Cleanliness gates on the MEDIAN of the window's bracketing probes
    (protocol v2.2): one jittery sample cannot veto a window (the
    builder-run-15 failure — a provably quiet box whose 5-sample probe
    spread straddled the bar around efficiencies contention can only
    push DOWN), while sustained dirt still fails the median."""
    import bench

    arms = {4: iter([1290.0, 1610.0]), 1: iter([402.0, 447.0])}

    def fake_round(cores, corpus_path, workdir, bucketed=False):
        ups = next(arms[cores])
        return {"cores": cores, "seconds": round(102130 / ups, 2),
                "urls": 102130, "urls_per_sec": ups,
                "job": "steady-state round"}

    probes = iter([{"effective_cores_4w": 3.7}] * 4)
    monkeypatch.setattr(bench, "bench_steady_round", fake_round)
    monkeypatch.setattr(bench, "hw_envelope_probe", lambda: next(probes))
    pre = {"effective_cores_4w": 3.8}
    w = bench.measure_window("/c", "/w", 4, 1, pre, reps=2, quick=False)
    # best hi = 1610 (rep 2), best lo = 447 (rep 2): the slow first hi rep
    # (1290 — the run-10 failure band) is discarded by min-of-k
    assert w["run_hi"]["urls_per_sec"] == 1610.0
    assert w["run_lo"]["urls_per_sec"] == 447.0
    assert w["efficiency"] == round(1610 / 447 / 4, 3)
    assert w["clean"] is True
    assert len(w["reps_hi"]) == 2 and len(w["reps_lo"]) == 2
    assert w["rep_efficiencies"] == [round(1290 / 402 / 4, 3),
                                     round(1610 / 447 / 4, 3)]
    assert w["probe_median_cores_4w"] == 3.7
    # v2.2: ONE dirty inner sample does NOT veto the window — the median
    # of [pre 3.8, 3.7, 2.9, 3.7, 3.8] is 3.7, inside the gate
    arms = {4: iter([1290.0, 1610.0]), 1: iter([402.0, 447.0])}
    probes = iter([{"effective_cores_4w": 3.7},
                   {"effective_cores_4w": 2.9},
                   {"effective_cores_4w": 3.7},
                   {"effective_cores_4w": 3.8}])
    w2 = bench.measure_window("/c", "/w", 4, 1, pre, reps=2, quick=False)
    assert w2["clean"] is True
    assert w2["probe_median_cores_4w"] == 3.7
    assert w2["efficiency"] == w["efficiency"]  # scoring unchanged
    # SUSTAINED dirt fails the median: [pre 3.8, 3.3, 3.3, 2.9, 3.3]
    # -> median 3.3 < 3.5 -> dirty (the run-14 regime), still measured
    # and preserved in the audit, out of the gated headline
    arms = {4: iter([1290.0, 1610.0]), 1: iter([402.0, 447.0])}
    probes = iter([{"effective_cores_4w": 3.3},
                   {"effective_cores_4w": 3.3},
                   {"effective_cores_4w": 2.9},
                   {"effective_cores_4w": 3.3}])
    w3 = bench.measure_window("/c", "/w", 4, 1, pre, reps=2, quick=False)
    assert w3["clean"] is False
    assert w3["probe_median_cores_4w"] == 3.3
    assert w3["efficiency"] == w["efficiency"]  # scoring unchanged


def test_bench_headline_alldirty_fallback_is_minarm():
    """When every measured pair is probe-proven dirty, the per-pair median
    measures the neighbors' load (the r4 failure: median 0.759 vs clean-
    window medians 0.998/0.84). The fallback headline is the minarm ratio
    — fastest arm per configuration — labeled, with the all-pair median
    preserved alongside."""
    import bench

    pairs = [
        # contended n4 arm: ratio too low
        _pair(800, 400, False),    # eff 0.5
        # contended n1 arm: ratio absurdly high (the r4 1.427 pair)
        _pair(1500, 260, False),   # eff 1.442
        # cleanest observations live in different pairs
        _pair(1400, 430, False),   # eff 0.814
    ]
    head = bench.headline_from_pairs(pairs)
    assert not head["gate_met"] and head["fallback"] == "minarm"
    # minarm = max hi (1500) / max lo (430) / 4
    assert head["efficiency"] == round(1500 / 430 / 4, 3)
    assert head["run_hi"]["urls_per_sec"] == 1500
    assert head["run_lo"]["urls_per_sec"] == 430
    assert head["median_allpairs"] == 0.814


# ---------------------------------------------------------------------------
# ADVICE r4: robots rules have one source, the crawl's own fetcher
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("argv,parses", [
    (["--http"], True),                         # robots come with the pages
    (["--http", "--robots-from-pages"], False), # removed flag
    ([], True),                                 # default sandbox mode
    (["--robots-http"], False),                 # removed flag
    (["--bloom"], False),                       # removed flag
])
def test_cli_robots_http_wiring(argv, parses):
    """There is no robots source to pick: both former flags are rejected
    by the parser, and a crawl's parsed options carry no robots knob."""
    from firmwarescraper_spark.__main__ import build_parser

    argv = ["crawl", "avm", "--pages", "/p", "--state", "/s"] + argv
    if not parses:
        with pytest.raises(SystemExit):
            build_parser().parse_args(argv)
        return
    assert not hasattr(build_parser().parse_args(argv), "robots_http")


# ---------------------------------------------------------------------------
# r5 corpus-scale probe follow-up: shuffle partitions sized by corpus bytes
# ---------------------------------------------------------------------------

def test_sized_shuffle_partitions(tmp_path):
    """The steady-round bench sizes shuffle partitions by corpus on-disk
    bytes (~32 MiB per partition): a fixed COUNT makes per-partition
    working sets grow with the corpus until they spill — the measured
    x4-corpus super-linearity. The 1x bench corpus must still resolve to
    the r4 headline's 4 partitions so scaling pairs stay comparable."""
    import bench as B

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"\0" * 1024)
    assert B._sized_shuffle_partitions(str(d)) == 4          # floor
    (d / "b.parquet").write_bytes(b"\0" * (200 << 20))
    assert B._sized_shuffle_partitions(str(d)) == 7          # ceil(201/32)
    big = d / "c.parquet"
    with open(big, "wb") as f:
        f.truncate(100 << 30)                                 # sparse 100 GiB
    assert B._sized_shuffle_partitions(str(d)) == 256        # cap


def test_crawl_through_catalog_pages_table(spark, tmp_path):
    """The catalog seam (VERDICT r4 'what's missing' #1): the SAME crawl
    runs against a bucketed CATALOG table (`pages_table=`, the Iceberg
    `bucket(N, url)` sandbox analogue) and against the raw parquet path,
    producing identical seen-set and item counts and identical feed
    items. The catalog path is how a deployment swaps in an Iceberg
    catalog without touching the engine."""
    from firmwarescraper_spark.operators import frontier as FR

    pages = str(tmp_path / "pages")
    G.write_corpus(spark, pages, n_avm=1, n_linksys=2)
    corpus = spark.read.parquet(pages)
    FR.write_bucketed(corpus, "t_pages_catalog", buckets=4, key="url")
    try:
        eng_path = CrawlEngine(spark, pages, str(tmp_path / "s_path"))
        r_path = eng_path.run(G.seeds(), fresh=True)
        eng_cat = CrawlEngine(spark, pages, str(tmp_path / "s_cat"),
                              pages_table="t_pages_catalog")
        r_cat = eng_cat.run(G.seeds(), fresh=True)
        assert r_cat == r_path
        def feed(d):
            return sorted(
                (tuple(r["file_urls"] or []), tuple(r["device_name"] or []))
                for r in spark.read.parquet(str(tmp_path / d) + "/items")
                .collect())

        items_path, items_cat = feed("s_path"), feed("s_cat")
        assert items_cat == items_path and len(items_cat) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_pages_catalog")
