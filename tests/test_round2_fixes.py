"""Round-2 behaviors: T3 retries, F12 oversize guard, round-commit
rollback, enqueue-time dedup vs deferred rows, quarantine table, JSON feed,
download-manifest misses, banded simhash / LSH embedding dedup exactness,
and quote_plus column parity."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from firmwarescraper_spark.operators import dedup as DD
from firmwarescraper_spark.operators import frontier as FR
from firmwarescraper_spark.plans.crawl import CrawlEngine
from firmwarescraper_spark.sources import generate as G

SCHEMA = ("url string, warc_ts timestamp, html binary, text string, "
          "lang string")


def _write_pages(spark, path, pages: dict, fail_times: dict | None = None):
    rows = G._rows_from_pages(pages)
    pdf = pd.DataFrame(rows)
    schema = SCHEMA
    if fail_times is not None:
        pdf["fail_times"] = [fail_times.get(r["url"], 0) for r in rows]
        schema += ", fail_times int"
    spark.createDataFrame(pdf, schema).write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# T3: retry semantics
# ---------------------------------------------------------------------------

def test_retry_semantics(spark, tmp_path):
    """A corpus-present page that fails (simulated 5xx) is refetched up to
    2 times (scrapy RETRY_TIMES); success on a later attempt parses
    normally; a page that keeps failing is terminally logged ONCE; a 404
    (absent from the corpus) is never retried."""
    pages = {
        "http://ha.example/a/": "<html><body>recovers</body></html>",
        "http://hb.example/b/": "<html><body>always fails</body></html>",
    }
    corpus = str(tmp_path / "pages")
    _write_pages(spark, corpus, pages, fail_times={
        "http://ha.example/a/": 2,   # fails attempts 0,1 — succeeds on 2
        "http://hb.example/b/": 5,   # fails every allowed attempt
    })
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"))
    summary = eng.run(
        [("http://ha.example/a/", "avm:parse"),
         ("http://hb.example/b/", "avm:parse"),
         ("http://hc.example/missing/", "avm:parse")],  # 404
        fresh=True,
    )
    # 404 resolved in round 0; retries stretch the others to rounds 1..2
    assert summary["rounds"] == 3
    assert summary["seen"] == 3  # all terminal states are seen at the end
    log = eng.fetch_log().groupBy("host").agg(
        F.sum("fetched").alias("f"), F.sum("errors").alias("e"),
        F.sum("retries").alias("r")).collect()
    by_host = {r["host"]: (r["f"], r["e"], r["r"]) for r in log}
    assert by_host["ha.example"] == (1, 0, 2)  # fetched once, after 2 retries
    assert by_host["hb.example"] == (0, 1, 2)  # terminal error logged ONCE
    assert by_host["hc.example"] == (0, 1, 0)  # 404: one error, no retries
    # the recovered page was seen exactly once despite three attempts
    seen = eng.seen().collect()
    assert len(seen) == len({r["url_hash"] for r in seen})


def test_oversize_guard(spark, tmp_path):
    """F12: a page over max_fetch_bytes is never parsed — it behaves as a
    failed fetch (retried, then terminal) and yields no items/children."""
    pages = {
        "http://big.example/huge/": "X" * 5000,
        "http://ok.example/fine/": "<html><body>ok</body></html>",
    }
    corpus = str(tmp_path / "pages")
    _write_pages(spark, corpus, pages)
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"),
                      max_fetch_bytes=1000)
    summary = eng.run(
        [("http://big.example/huge/", "avm:parse"),
         ("http://ok.example/fine/", "avm:parse")], fresh=True)
    log = eng.fetch_log().groupBy("host").agg(
        F.sum("fetched").alias("f"), F.sum("errors").alias("e"),
        F.sum("retries").alias("r")).collect()
    by_host = {r["host"]: (r["f"], r["e"], r["r"]) for r in log}
    assert by_host["big.example"] == (0, 1, 2)
    assert by_host["ok.example"] == (1, 0, 0)
    assert summary["items"] == 0


# ---------------------------------------------------------------------------
# round-commit rollback
# ---------------------------------------------------------------------------

def test_partial_round_rollback(spark, tmp_path):
    """A crash that wrote seen/round=N but no commit marker must not poison
    the resume: the re-run of round N ignores its own leftovers and the
    final state equals an uninterrupted run's (ADVICE r1)."""
    corpus = str(tmp_path / "pages")
    G.write_corpus(spark, corpus, n_avm=2, n_linksys=2, partitions=2)

    control_state = str(tmp_path / "control")
    control = CrawlEngine(spark, corpus, control_state)
    control.run(G.seeds(), fresh=True)

    state = str(tmp_path / "crashed")
    eng = CrawlEngine(spark, corpus, state)
    eng._write_frontier(eng.seed_frontier(G.seeds()), 0)
    eng.run_round(0)
    eng.run_round(1)
    # simulate a crash mid-round-2: the seen append finished, nothing else,
    # no commit marker for round 2
    poison = eng.seen().limit(5).select("url_hash", "fetch_key")
    poison.write.mode("overwrite").parquet(os.path.join(state, "seen", "round=2"))
    assert eng.committed_round() == 1

    resumed = CrawlEngine(spark, corpus, state)
    resumed.run()
    a = {r["fetch_key"] for r in resumed.seen().collect()}
    b = {r["fetch_key"] for r in control.seen().collect()}
    assert a == b
    assert resumed.items().count() == control.items().count()


def test_no_duplicate_frontier_rows(spark, tmp_path):
    """ADVICE r1: a URL deferred by the politeness budget and re-discovered
    as a child in the same round must appear ONCE in the next frontier."""
    host = "h.example"
    pages = G.avm_family_pages(host, "fritzbox", 2)
    corpus = str(tmp_path / "pages")
    _write_pages(spark, corpus, pages)
    seeds = [
        (f"http://{host}/fritzbox/", "avm:parse"),
        # also seeded directly — budget 1 defers it in round 0 while the
        # family listing re-discovers it as a child the same round
        (f"http://{host}/fritzbox/fritzbox-7000/", "avm:parse_product"),
    ]
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"), tokens_per_host=1)
    eng.run(seeds, fresh=True)
    base = os.path.join(eng.state_dir, "frontier")
    for d in sorted(os.listdir(base)):
        snap = spark.read.parquet(os.path.join(base, d))
        n, nd = snap.count(), snap.select("url_hash").distinct().count()
        assert n == nd, f"duplicate frontier rows in {d}"
    seen = eng.seen().collect()
    assert len(seen) == len({r["url_hash"] for r in seen})


# ---------------------------------------------------------------------------
# quarantine + feed + download misses
# ---------------------------------------------------------------------------

def test_quarantine_unknown_device_class(spark, tmp_path):
    """J3 miss: the reference raises UnknownDeviceClassException
    (linksys.py:126-133); the engine must route the rows to the quarantine
    table — auditable, not silently dropped — and emit no item for them."""
    products = [(1000, "ZZZUNKNOWN1"), (1001, "WRT9000")]  # WRT = known
    base = f"https://{G.LINKSYS_HOST}"
    pages = {f"{base}/us/support/sitemap/": G._linksys_sitemap(products)}
    for i, (pid, name) in enumerate(products):
        pages[f"{base}/de/support-product?pid={pid}"] = G._linksys_product_page(pid)
        pages[f"{base}/de/support-article?articleNum={pid}"] = (
            G._linksys_article_page(name, i))
    corpus = str(tmp_path / "pages")
    _write_pages(spark, corpus, pages)
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"))
    eng.run([(f"{base}/us/support/sitemap/", "linksys:parse")], fresh=True)
    quar = eng.quarantine().collect()
    assert {r["detail"] for r in quar} == {"ZZZUNKNOWN1"}
    assert all(r["reason"] == "unknown_device_class" for r in quar)
    items = eng.items()
    assert items.filter(F.col("device_name")[0] == "ZZZUNKNOWN1").count() == 0
    assert items.filter(F.col("device_name")[0] == "WRT9000").count() > 0


def test_json_feed_matches_items(spark, tmp_path):
    corpus = str(tmp_path / "pages")
    G.write_corpus(spark, corpus, n_avm=2, n_linksys=2, partitions=2)
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"))
    eng.run(G.seeds(), fresh=True)
    # downloads first, so the feed can join FilesPipeline results back
    manifest = {r["url"]: r for r in eng.collect_downloads().collect()}
    n = eng.export_feed(str(tmp_path / "feed"))
    fed = spark.read.json(str(tmp_path / "feed"))
    assert fed.count() == n == eng.items().count()
    assert set(fed.columns) == {"vendor", "device_name", "firmware_version",
                                "device_class", "release_date", "file_urls",
                                "files"}
    # scrapy post-pipeline shape (items.py:11 / pipelines.py:4-6): every
    # downloaded file URL appears as a {url, path, checksum} files entry
    got_any = False
    for row in fed.collect():
        files = {f["url"]: f for f in (row["files"] or [])}
        for furl in row["file_urls"] or []:
            if furl in manifest:
                got_any = True
                assert furl in files
                assert files[furl]["path"] == manifest[furl]["path"]
                assert files[furl]["checksum"] == manifest[furl]["sha256"]
    assert got_any, "no downloaded file URL found in any feed item"


def test_download_misses_not_marked_done(spark, tmp_path):
    """ADVICE r1: a file URL absent from the corpus must NOT enter the
    downloads manifest (it would never be retried); it lands in
    download_misses instead."""
    pages = {"http://h.example/fw/a.bin": "BLOB-A"}
    corpus = str(tmp_path / "pages")
    _write_pages(spark, corpus, pages)
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"))
    # hand-write an items table referencing one present + one missing blob
    items = spark.createDataFrame(
        [(["V"], ["d"], ["1.0"], ["Router"], ["01-01-2020"],
          ["http://h.example/fw/a.bin", "http://h.example/fw/missing.bin"])],
        "vendor array<string>, device_name array<string>, "
        "firmware_version array<string>, device_class array<string>, "
        "release_date array<string>, file_urls array<string>")
    eng._append(items, "items", 0)
    eng._commit_round(0)
    manifest = eng.collect_downloads()
    urls = {r["url"] for r in manifest.collect()}
    assert urls == {"http://h.example/fw/a.bin"}
    misses = spark.read.parquet(os.path.join(eng.state_dir, "download_misses"))
    assert {r["url"] for r in misses.collect()} == {"http://h.example/fw/missing.bin"}
    # the miss stays pending: a second pass retries it (still absent)
    eng.collect_downloads()
    assert spark.read.parquet(
        os.path.join(eng.state_dir, "downloads")).count() == 1


# ---------------------------------------------------------------------------
# dedup operators: exactness of the banded/LSH paths
# ---------------------------------------------------------------------------

SF_DIR = "/root/testdata/sf0.001"


def test_simhash_banded_exact_and_hash_join(spark):
    """The banded candidate join must (a) find EVERY pair within
    max_hamming — including pairs with one flip in each half, which the
    r1 two-half banding provably missed — and (b) plan as a hash join,
    never a nested loop."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") < 150)
    banded = DD.simhash_neardup_pairs(docs, max_hamming=2, bits=16, bands=4)
    sh = DD.simhash(docs, bits=16)
    a, b = sh.alias("a"), sh.alias("b")
    brute = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"),
                F.bit_count(F.expr("a.simhash ^ b.simhash")).alias("hamming"))
        .filter(F.col("hamming") <= 2)
    )
    bs = {tuple(r) for r in brute.collect()}
    ls = {tuple(r) for r in banded.collect()}
    assert bs == ls and len(bs) > 0
    # at least one pair flips one bit in EACH 8-bit half (the r1 bug case)
    sigs = {r["doc_id"]: r["simhash"] for r in sh.collect()}
    split = [
        (i, j) for (i, j, h) in bs if h == 2
        and bin((sigs[i] ^ sigs[j]) & 0xFF).count("1") == 1
    ]
    assert split, "corpus lacks a one-flip-per-half pair; strengthen the test"
    plan = banded._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_lsh_equals_bruteforce(spark):
    """LSH-bucketed pairwise near-dup == brute force on planted twins
    (recall 1.0 at planes=8, probes<=3), with a hash-join plan."""
    dim = 64
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding")
    pert = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(
            (i == F.col("vec_id") % dim) | (i == (F.col("vec_id") * 7 + 3) % dim),
            x + F.lit(0.0625)).otherwise(x))
    twins = emb.withColumn("_tw", pert.cast("array<float>")).select(
        (F.col("vec_id") + 100000).alias("vec_id"), F.col("_tw").alias("embedding"))
    aug = emb.unionByName(twins)
    lsh = DD.embedding_neardup_pairs_lsh(
        aug, threshold=0.99, dim=dim, planes=8, multiprobe_hamming=3)
    brute = DD.embedding_neardup_pairs(
        aug.select("vec_id", F.col("embedding").cast("array<double>")
                   .alias("embedding")), threshold=0.99)
    ls = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    bs = {(r["id_a"], r["id_b"]) for r in brute.collect()}
    assert ls == bs and len(bs) > 0
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_antijoin_no_shuffle(spark):
    """Past broadcast scale: with both state tables bucketed by url_hash,
    the seen anti-join must plan with NO Exchange on either side even when
    broadcasting is impossible (PLANS.md 2b)."""
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        seen = spark.range(0, 100_000).select(
            F.xxhash64("id").alias("url_hash"),
            F.concat(F.lit("k"), F.col("id")).alias("fetch_key"))
        frontier = spark.range(80_000, 130_000).select(
            F.xxhash64("id").alias("url_hash"),
            F.concat(F.lit("http://h/"), F.col("id")).alias("url"))
        sb = FR.write_bucketed(seen, "t_seen_b", buckets=8)
        fb = FR.write_bucketed(frontier, "t_frontier_b", buckets=8)
        anti = FR.anti_join_seen(fb, sb)
        plan = anti._jdf.queryExecution().sparkPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan
        expect = {r["url_hash"]
                  for r in FR.anti_join_seen(frontier, seen).collect()}
        assert {r["url_hash"] for r in anti.collect()} == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS t_seen_b")
        spark.sql("DROP TABLE IF EXISTS t_frontier_b")


def test_ngram_jaccard_cap_consistency(spark):
    """When df_cap binds, doc sizes and intersections must use the SAME
    (capped) shingle space. Construction (2-grams, df_cap=4): all six docs
    end with the boilerplate "zz yy xx ww", whose shingles have df=6 > cap
    and are pruned; docs 1 and 2 share the below-cap shingles a-b and b-c.
    Capped space:   doc1 = {a-b, b-c, c-d, d-zz}, doc2 = {a-b, b-c, c-e,
    e-zz} => jaccard = 2/6 = 0.3333 exactly.
    Uncapped space would give 5/9 = 0.5556 (boilerplate in both sets) and
    the r2 pre-fix bug (uncapped sizes, capped intersections) would give
    2/12 = 0.1667 — so this value pins the capped-both-sides semantics."""
    boiler = "zz yy xx ww"
    rows = [
        (1, "a b c d " + boiler),
        (2, "a b c e " + boiler),
        (3, "f g h i " + boiler),
        (4, "j k l m " + boiler),
        (5, "n o p q " + boiler),
        (6, "r s t u " + boiler),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = DD.ngram_jaccard_pairs(docs, n=2, threshold=0.0, df_cap=4).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert len(pairs) > 0, "cap pruned every shared shingle — test is vacuous"
    # only docs 1,2 share a kept shingle; every other pair overlaps solely
    # in pruned boilerplate, so (1,2) is the single emitted pair
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] == pytest.approx(2 / 6, abs=1e-4)


# ---------------------------------------------------------------------------
# quote_plus column parity
# ---------------------------------------------------------------------------

def test_urlencode_quote_plus_parity(spark):
    from urllib.parse import quote_plus

    from firmwarescraper_spark.functions.url import _urlencode_col

    from hypothesis import given, settings, strategies as st

    # deterministic adversarial corpus + hypothesis fuzz in one pass
    fixed = ["a b", "a&b=c", "100%", "x+y", "s*t", "t~u", "ü/ß", "日本 語",
             "%7E", "*~", "", "a;b:c@d,e!f'g(h)i", " nbsp"]
    examples = []

    @settings(max_examples=60, deadline=None)
    @given(st.text(min_size=0, max_size=12))
    def _collect(s):
        examples.append(s)

    _collect()
    vals = fixed + examples
    df = spark.createDataFrame([(v,) for v in vals], "v string").select(
        "v", _urlencode_col(F.col("v")).alias("enc"))
    got = {r["v"]: r["enc"] for r in df.collect()}
    for v in vals:
        assert got[v] == quote_plus(v), repr(v)
