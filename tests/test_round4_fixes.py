"""Round-4 behaviors: ADVICE r3 fixes (top-bigram clamp, deterministic
feed join key, seq-width resume migration) plus the r3 verdict's scale
items (shuffle-free collect_downloads, state compaction, pluggable
fetcher, ANN LSH oracle parity). The size-gated fetch build side is
pinned in tests/test_fetchers.py."""

import os

import pytest
from pyspark.sql import functions as F

from firmwarescraper_spark.plans.crawl import CrawlEngine
from firmwarescraper_spark.sources import generate as G
from tests.test_fetchers import _physical_plan, _serve, _write_pages


# ---------------------------------------------------------------------------
# ADVICE r3: top_bigram_frac is a [0,1] fraction
# ---------------------------------------------------------------------------

def test_top_bigram_frac_clamped_to_one(spark):
    """Overlapping occurrences can push count*n past n_words ('a a a a':
    bigram 'a a' occurs 3x overlapping -> 3*2/4 = 1.5); Gopher thresholds
    treat the signal as a [0,1] fraction, so it must clamp at 1.0."""
    from firmwarescraper_spark.operators import textops as TX

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "x y x y")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in TX.repetition_signals(docs).collect()}
    assert rows[1]["top_bigram_frac"] == pytest.approx(1.0)
    assert rows[2]["top_bigram_frac"] == pytest.approx(1.0)  # 2*2/4, no clamp


# ---------------------------------------------------------------------------
# ADVICE r3: feed join-back key is deterministic content, not
# monotonically_increasing_id
# ---------------------------------------------------------------------------

def test_export_feed_duplicate_items_share_files(spark, tmp_path):
    """Two items with identical file_urls must each carry the same files
    array with NO duplicated entries — the join-back key is content-derived
    (xxhash64 of the file_urls list), so cache eviction / recomputation
    cannot shift row identity the way monotonically_increasing_id could."""
    pages = {"http://h.example/fw/a.bin": "BLOB-A"}
    corpus = str(tmp_path / "pages")
    _write_pages(spark, corpus, pages)
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"))
    items = spark.createDataFrame(
        [(["V1"], ["d1"], ["1.0"], ["Router"], ["01-01-2020"],
          ["http://h.example/fw/a.bin"]),
         (["V2"], ["d2"], ["2.0"], ["Router"], ["02-01-2020"],
          ["http://h.example/fw/a.bin"])],
        "vendor array<string>, device_name array<string>, "
        "firmware_version array<string>, device_class array<string>, "
        "release_date array<string>, file_urls array<string>")
    eng._append(items, "items", 0)
    eng._commit_round(0)
    eng.collect_downloads()
    n = eng.export_feed(str(tmp_path / "feed"))
    assert n == 2
    fed = spark.read.json(str(tmp_path / "feed")).collect()
    assert len(fed) == 2
    for row in fed:
        files = row["files"]
        assert len(files) == 1  # one entry per file URL, never duplicated
        assert files[0]["url"] == "http://h.example/fw/a.bin"
        assert files[0]["path"] == "a.bin"


# ---------------------------------------------------------------------------
# ADVICE r3: seq pad-width migration on resume
# ---------------------------------------------------------------------------

def test_seq_width_migration_on_read(spark, tmp_path):
    """A frontier snapshot written by the %06d-era engine must read back
    with every numeric dot-component left-padded to 9 digits, restoring
    the lexicographic==numeric DFS-order invariant against new rows
    ('000123' vs '000000456'). Non-numeric components (bench frontiers
    seed seq=url) pass through untouched."""
    eng = CrawlEngine(spark, str(tmp_path / "nopages"), str(tmp_path / "state"))
    old = spark.createDataFrame(
        [("http://h/a", "http://h/a", 1, "h", 0, 0, "r", {}, "000123", 0, {},
          "http://h/a", 0),
         ("http://h/b", "http://h/b", 2, "h", 1, 0, "r", {},
          "000123.000000456", 0, {}, "http://h/b", 0),
         ("http://h/c", "http://h/c", 3, "h", 0, 0, "r", {},
          "http://x.example/p.7?q=1", 0, {}, "http://h/c", 0)],
        eng_schema(),
    )
    eng._write_frontier(old, 0)
    got = {r["url"]: r["seq"] for r in eng._read_frontier(0).collect()}
    assert got["http://h/a"] == "000000123"
    assert got["http://h/b"] == "000000123.000000456"
    # mixed-width rows now compare numerically via string order
    assert got["http://h/a"] < got["http://h/b"]
    # URL-shaped seq: components carrying any non-digit char pass through
    # byte-identical, so bench frontiers seeded with seq=url are untouched
    assert got["http://h/c"] == "http://x.example/p.7?q=1"


def eng_schema():
    from firmwarescraper_spark.plans.crawl import FRONTIER_SCHEMA

    return FRONTIER_SCHEMA


# ---------------------------------------------------------------------------
# r3 verdict #2: collect_downloads must not shuffle the corpus
# ---------------------------------------------------------------------------

def test_collect_downloads_no_corpus_shuffle(spark, tmp_path):
    """The blob fetch is a broadcast-INNER join with the corpus streamed:
    the corpus scan must not sit under any Exchange. Also re-pins the
    miss semantics (absent URL stays pending, logged to download_misses)."""
    pages = {"http://h.example/fw/a.bin": "BLOB-A",
             "http://h.example/fw/b.bin": "BLOB-B"}
    corpus = str(tmp_path / "pages")
    _write_pages(spark, corpus, pages)
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"))
    items = spark.createDataFrame(
        [(["V"], ["d"], ["1.0"], ["Router"], ["01-01-2020"],
          ["http://h.example/fw/a.bin", "http://h.example/fw/missing.bin"]),
         (["V"], ["d2"], ["1.1"], ["Router"], ["01-02-2020"],
          ["http://h.example/fw/b.bin"])],
        "vendor array<string>, device_name array<string>, "
        "firmware_version array<string>, device_class array<string>, "
        "release_date array<string>, file_urls array<string>")
    eng._append(items, "items", 0)
    eng._commit_round(0)
    manifest = eng.collect_downloads()
    assert {r["url"] for r in manifest.collect()} == {
        "http://h.example/fw/a.bin", "http://h.example/fw/b.bin"}
    misses = spark.read.parquet(os.path.join(eng.state_dir, "download_misses"))
    assert {r["url"] for r in misses.collect()} == {
        "http://h.example/fw/missing.bin"}
    # plan pin: corpus-side scan feeds the join with no Exchange between
    # them — the pending set broadcasts, the corpus streams
    pending = spark.createDataFrame(
        [("http://h.example/fw/a.bin",)], "canon_url string")
    blobs = eng._raw_pages().select(
        F.col("url").alias("canon_url"), F.col("html").alias("blob")
    ).join(F.broadcast(pending), "canon_url", "inner")
    plan = _physical_plan(blobs)
    assert "BroadcastHashJoin" in plan
    import re
    # no shuffle anywhere in this subtree (broadcast is the only exchange)
    assert not re.search(r"Exchange (hash|range)partitioning", plan)


# ---------------------------------------------------------------------------
# r3 verdict #4: state compaction (small-files control)
# ---------------------------------------------------------------------------

def _round_dirs(state_dir, table):
    base = os.path.join(state_dir, table)
    if not os.path.exists(base):
        return []
    return [d for d in os.listdir(base) if d.startswith("round=")]


def test_compaction_resume_parity(spark, tmp_path):
    """Compaction mid-crawl must not change the final crawl state: run two
    rounds, compact, resume with a FRESH engine object, and compare the
    fixpoint seen/items with an uncompacted control crawl."""
    corpus = str(tmp_path / "pages")
    G.write_corpus(spark, corpus, n_avm=2, n_linksys=2, partitions=2)

    control = CrawlEngine(spark, corpus, str(tmp_path / "ctl"),
                          compact_every=None)
    control.run(G.seeds(), fresh=True)

    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"),
                      compact_every=None)
    eng._write_frontier(eng.seed_frontier(G.seeds()), 0)
    eng.run_round(0)
    eng.run_round(1)
    eng.compact_state(buckets=4)
    # compaction swallowed the per-round delta dirs
    assert _round_dirs(eng.state_dir, "seen") == []
    assert os.path.exists(os.path.join(eng.state_dir, "seen_compact", "upto=1"))

    resumed = CrawlEngine(spark, corpus, str(tmp_path / "state"),
                          compact_every=None)
    resumed.run()
    assert ({r["fetch_key"] for r in resumed.seen().collect()}
            == {r["fetch_key"] for r in control.seen().collect()})
    assert resumed.items().count() == control.items().count()
    # fetch_log metric totals survive the compaction boundary too
    a = control.fetch_log().agg(F.sum("fetched"), F.sum("errors")).first()
    b = resumed.fetch_log().agg(F.sum("fetched"), F.sum("errors")).first()
    assert tuple(a) == tuple(b)


def test_compaction_ignores_leftover_deltas(spark, tmp_path):
    """Crash-safety: delta dirs the latest snapshot already covers must be
    IGNORED by readers (a crash between snapshot write and delta cleanup
    cannot double-count) and swept by the next compaction."""
    corpus = str(tmp_path / "pages")
    G.write_corpus(spark, corpus, n_avm=2, n_linksys=2, partitions=2)
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"),
                      compact_every=None)
    eng._write_frontier(eng.seed_frontier(G.seeds()), 0)
    eng.run_round(0)
    n_before = eng.seen().count()
    # snapshot exists; now simulate the crash by resurrecting a covered
    # delta dir (re-write round=0 rows under the compacted boundary).
    # Materialize first: compaction garbage-collects the files the lazy
    # plan would read.
    rows = eng.seen().select("url_hash", "fetch_key").collect()
    eng.compact_state(buckets=2)
    eng._append(
        spark.createDataFrame(rows, "url_hash long, fetch_key string"),
        "seen", 0)
    assert _round_dirs(eng.state_dir, "seen") == ["round=0"]
    assert eng.seen().count() == n_before  # leftover ignored, not doubled
    eng.compact_state(buckets=2)  # no new rounds: leftover stays ignored
    assert eng.seen().count() == n_before


def test_compaction_bounds_file_count(spark, tmp_path):
    """The compacted seen snapshot is <= buckets files, hash-distributed by
    url_hash — a 10^4-round crawl reads a bounded file set, not one
    directory per round."""
    corpus = str(tmp_path / "pages")
    G.write_corpus(spark, corpus, n_avm=2, n_linksys=2, partitions=2)
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"), compact_every=2)
    eng.run(G.seeds(), fresh=True)  # 4 rounds -> compactions at 2 and 4
    snap_dir = os.path.join(eng.state_dir, "seen_compact")
    assert os.path.exists(snap_dir)
    upto = sorted(os.listdir(snap_dir))[-1]
    files = [f for f in os.listdir(os.path.join(snap_dir, upto))
             if f.endswith(".parquet")]
    assert 0 < len(files) <= 32  # run()'s compact_state default buckets
    # only post-snapshot delta rounds remain under seen/
    c = int(upto.split("=")[1])
    assert all(int(d.split("=")[1]) > c
               for d in _round_dirs(eng.state_dir, "seen"))


# ---------------------------------------------------------------------------
# r3 verdict #3: pluggable fetch stage — real HTTP through the round loop
# ---------------------------------------------------------------------------

def test_http_fetcher_matches_corpus_join(spark, tmp_path, monkeypatch):
    """E2E over real localhost HTTP (mapInPandas HttpFetcher): the crawl
    must produce the same seen set and items as the corpus-join path on
    the same pages; a URL the server 404s is terminal, not retried.
    The F8 offsite filter is re-pointed at the live server's host
    (children on any other host would be correctly dropped)."""
    from firmwarescraper_spark.plans import rulepacks as RP
    from firmwarescraper_spark.plans.fetchers import HttpFetcher

    monkeypatch.setitem(RP.ALLOWED_HOST_PATTERNS, "avm",
                        r"^127\.0\.0\.1(:\d+)?$")

    host = "h.example"
    raw = G.avm_family_pages(host, "fritzbox", 2)
    srv, port, _hits = _serve({
        u.replace(f"http://{host}", "http://127.0.0.1"): h
        for u, h in raw.items()})
    local = f"127.0.0.1:{port}"
    pages = {u.replace(f"http://{host}", f"http://{local}"): h
             for u, h in raw.items()}
    corpus = str(tmp_path / "pages")
    _write_pages(spark, corpus, pages)
    seeds = [(f"http://{local}/fritzbox/", "avm:parse"),
             (f"http://{local}/missing/", "avm:parse")]  # live 404
    try:
        ctl = CrawlEngine(spark, corpus, str(tmp_path / "ctl"),
                          obey_robots=False)
        ctl.run(seeds, fresh=True)

        # generous timeout: under a fully loaded test box the server
        # thread can starve for tens of seconds; a timed-out fetch would
        # retry then terminally fail and break item parity (observed flake)
        eng = CrawlEngine(spark, corpus, str(tmp_path / "http"),
                          obey_robots=False, max_retries=4,
                          fetcher=HttpFetcher(timeout=60, concurrency=4))
        summary = eng.run(seeds, fresh=True)
    finally:
        srv.shutdown()
    assert ({r["fetch_key"] for r in eng.seen().collect()}
            == {r["fetch_key"] for r in ctl.seen().collect()})
    assert eng.items().count() == ctl.items().count() > 0
    assert summary["rounds"] >= 2
    # the live 404 was terminally logged exactly once (no retry churn)
    errs = eng.fetch_log().agg(F.sum("errors")).first()[0]
    assert errs == 1


def test_http_fetcher_retries_network_error(spark, tmp_path):
    """A connection-refused fetch maps to status 599 (retryable): the URL
    is re-attempted max_retries times, then terminally logged."""
    from firmwarescraper_spark.plans.fetchers import HttpFetcher

    # port 1 on localhost: connection refused instantly
    pages = {"http://127.0.0.1:1/x/": "<html></html>"}
    corpus = str(tmp_path / "pages")
    _write_pages(spark, corpus, pages)
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"),
                      obey_robots=False,
                      fetcher=HttpFetcher(timeout=2, concurrency=2))
    summary = eng.run([("http://127.0.0.1:1/x/", "avm:parse")], fresh=True)
    assert summary["rounds"] == 3  # attempt + 2 retries
    log = eng.fetch_log().agg(
        F.sum("errors").alias("e"), F.sum("retries").alias("r")).first()
    assert (log["e"], log["r"]) == (1, 2)


def test_cli_round4_flags_parse():
    """--http / --http-timeout / --compact-every wire through argparse."""
    from firmwarescraper_spark.__main__ import build_parser

    args = build_parser().parse_args(
        ["crawl", "avm", "--pages", "/p", "--state", "/s",
         "--http", "--http-timeout", "12.5", "--compact-every", "0"])
    assert args.http is True
    assert args.http_timeout == 12.5
    assert args.compact_every == 0  # 0 disables compaction in CrawlEngine


def test_robots_over_http(spark, tmp_path, monkeypatch):
    """Deployment robots path: under HttpFetcher the engine fetches each
    new base's /robots.txt over live HTTP through the same fetcher as its
    pages and applies the SAME longest-match filter — the corpus contains
    NO robots row, so agreement with a corpus-robots control proves the
    rules came over the wire."""
    from firmwarescraper_spark.plans import rulepacks as RP
    from firmwarescraper_spark.plans.fetchers import HttpFetcher

    monkeypatch.setitem(RP.ALLOWED_HOST_PATTERNS, "avm",
                        r"^127\.0\.0\.1(:\d+)?$")
    host = "h.example"
    raw = G.avm_family_pages(host, "fritzbox", 2)
    robots_body = "User-agent: *\nDisallow: /fritzbox/fritzbox-7001/\n"
    srv, port, _ = _serve(
        {u.replace(f"http://{host}", "http://127.0.0.1"): h
         for u, h in raw.items()}
        | {"http://127.0.0.1/robots.txt": robots_body})
    local = f"127.0.0.1:{port}"
    pages = {u.replace(f"http://{host}", f"http://{local}"): h
             for u, h in raw.items()}
    corpus = str(tmp_path / "pages")          # no robots row in here
    _write_pages(spark, corpus, pages)
    corpus_with_robots = str(tmp_path / "pages_r")
    _write_pages(spark, corpus_with_robots,
                 pages | {f"http://{local}/robots.txt": robots_body})
    seeds = [(f"http://{local}/fritzbox/", "avm:parse")]
    try:
        ctl = CrawlEngine(spark, corpus_with_robots, str(tmp_path / "ctl"))
        ctl.run(seeds, fresh=True)
        eng = CrawlEngine(spark, corpus, str(tmp_path / "http"),
                          max_retries=4,
                          fetcher=HttpFetcher(timeout=60, concurrency=4))
        eng.run(seeds, fresh=True)
    finally:
        srv.shutdown()
    a = {r["fetch_key"] for r in eng.seen().collect()}
    b = {r["fetch_key"] for r in ctl.seen().collect()}
    assert a == b
    # the disallowed subtree was blocked (in seen as resolved-blocked, its
    # children never fetched), the allowed sibling crawled through
    assert any("/fritzbox/fritzbox-7000/" in k for k in a)
    assert not any("/fritzbox/fritzbox-7001/deutschland" in k for k in a)
    assert eng.items().count() == ctl.items().count() > 0


# ---------------------------------------------------------------------------
# r3 verdict #8: streaming idle-session closure (ProcessingTimeTimeout)
# ---------------------------------------------------------------------------

def test_mp4_metadata_real_parse(spark):
    """MP4 container metadata is a REAL ISO BMFF box-tree parse now:
    tkhd 16.16 dims, mvhd duration, stsd fourcc — no codec stub involved
    for the metadata path; malformed input degrades to empty, never
    raises (crawl payloads are hostile)."""
    from firmwarescraper_spark.multimodal import binary as MM
    from firmwarescraper_spark.multimodal import codecs as CX

    p = CX.encode_mp4_skeleton(1280, 720, 4250, fourcc=b"hvc1")
    meta = CX.mp4_meta(p)
    assert meta == {"n_tracks": 1, "duration_sec": 4.25,
                    "width": 1280, "height": 720, "codec": "hvc1"}
    assert CX.mp4_meta(b"\x00\x00\x00\x0cftypisom") == {"n_tracks": 0}
    assert CX.mp4_meta(b"not-bmff") == {}
    # truncated box sizes must not crash the walker
    assert CX.mp4_meta(p[:40]) == {"n_tracks": 0}
    df = spark.createDataFrame([(0, bytearray(p))], "id long, payload binary")
    row = MM.attach_media_meta(df).collect()[0]["media_meta"]
    assert (row["media_type"], row["container"]) == ("video", "mp4")
    assert (row["width"], row["height"]) == (1280, 720)


def test_sessionize_idle_timeout(spark, tmp_path):
    """An idle session must close WITHOUT a next event for its user: the
    ProcessingTimeTimeout fires after idle_timeout_ms of silence and emits
    the open session (state removed). Batches are kept flowing by poking
    events for a DIFFERENT user."""
    import time

    from firmwarescraper_spark.streaming import events as EV

    indir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(indir)

    def write_event(i, uid):
        import datetime

        spark.createDataFrame(
            [(i, datetime.datetime(2024, 1, 1, 0, 0, i % 60), uid, "c",
              1.0, "{}")],
            EV.EVENTS_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(indir)

    write_event(1, 100)
    write_event(2, 100)
    stream = EV.stream_events(spark, indir, max_files_per_trigger=4)
    out = EV.sessionize(stream, gap_minutes=30, idle_timeout_ms=2000)
    q = (out.writeStream.format("memory").queryName("idle_sess")
         .option("checkpointLocation", ckpt).start())
    try:
        t0 = time.time()
        got = []
        while time.time() - t0 < 90:
            time.sleep(3)
            write_event(int(time.time()) % 50 + 3, 200)  # keep batches coming
            got = spark.sql(
                "select * from idle_sess where user_id = 100").collect()
            if got:
                break
        assert got, "idle session for user 100 never emitted"
        assert got[0]["session_events"] == 2
        assert q.exception() is None
    finally:
        q.stop()
