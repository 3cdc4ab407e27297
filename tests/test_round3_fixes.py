"""Round-3 regression tests: robots join degradation past broadcast size,
state-dir forward compatibility for the retry columns, and the compact
bench summary-line invariant."""

import os

import pytest
from pyspark.sql import functions as F

from firmwarescraper_spark.operators import robots as RB
from firmwarescraper_spark.plans.crawl import CrawlEngine


def _rules(spark, n=200):
    df = spark.createDataFrame(
        [(f"h{i}", [("^/a", 2, True)], None, [f"http://h{i}"])
         for i in range(n)],
        RB.ROBOTS_SCHEMA,
    ).persist()
    df.count()
    return df


def _frontier(spark, n=1000):
    return spark.range(0, n).select(
        F.concat(F.lit("h"), (F.col("id") % 300)).alias("host"),
        F.concat(F.lit("http://x/"), F.col("id")).alias("canon_url"),
        F.xxhash64("id").alias("url_hash"),
    )


def test_robots_join_degrades_past_broadcast(spark):
    """No forced broadcast hint: under the threshold Catalyst still
    auto-broadcasts the persisted compiled rows; with broadcast
    disabled the same query plans a shuffle join instead of OOMing the
    driver — the 10^7-host shape."""
    rules = _rules(spark)
    frontier = _frontier(spark)
    try:
        allowed, _ = RB.robots_filter(frontier, rules)
        plan = allowed._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            allowed2, _ = RB.robots_filter(frontier, rules)
            plan2 = allowed2._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan2
            assert "SortMergeJoin" in plan2 or "ShuffledHashJoin" in plan2
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        rules.unpersist()


def test_frontier_resume_pre_retry_state(spark, tmp_path):
    """A frontier snapshot written before retry_count existed (ADVICE r2)
    must read back with retry_count = 0, not null — null < max_retries is
    null, which would silently drop those rows from the retry path."""
    eng = CrawlEngine(spark, str(tmp_path / "pages"), str(tmp_path / "state"))
    old = spark.createDataFrame(
        [("http://h/x", "http://h/x", 1, "h", 0, 0, "avm:parse",
          {}, "000000000", 0, {}, "http://h/x")],
        "url string, canon_url string, url_hash long, host string, "
        "depth int, priority int, rule string, "
        "lineage map<string,string>, seq string, round_added int, "
        "form_data map<string,string>, fetch_key string",
    )
    old.write.mode("overwrite").parquet(
        os.path.join(eng.state_dir, "frontier", "round=0"))
    row = eng._read_frontier(0).collect()[0]
    assert row["retry_count"] == 0


def test_fetch_log_mixed_schema_reads(spark, tmp_path):
    """fetch_log dirs mixing files written with/without the retries column
    read under the explicit schema: the missing column coalesces to 0
    regardless of which footer a sampling reader would have picked."""
    eng = CrawlEngine(spark, str(tmp_path / "pages"), str(tmp_path / "state"))
    pre = spark.createDataFrame(
        [(0, "h1", 3, 100, 0)],
        "partition_id int, host string, fetched long, bytes long, errors long")
    post = spark.createDataFrame(
        [(1, "h2", 5, 200, 1, 2)],
        "partition_id int, host string, fetched long, bytes long, "
        "errors long, retries long")
    pre.write.mode("overwrite").parquet(
        os.path.join(eng.state_dir, "fetch_log", "round=0"))
    post.write.mode("overwrite").parquet(
        os.path.join(eng.state_dir, "fetch_log", "round=1"))
    eng._commit_round(0)
    eng._commit_round(1)
    rows = {r["host"]: r for r in eng.fetch_log().collect()}
    assert rows["h1"]["retries"] == 0
    assert rows["h2"]["retries"] == 2


def test_repetition_signals_hand_values(spark):
    """Gopher-style repetition signals against hand-computed values:
    'a b a b a b' -> top bigram 'a b' occurs 3x => 3*2/6 = 1.0 coverage;
    trigrams (aba, bab, aba, bab) => 1 - 2/4 = 0.5 duplicate fraction."""
    from firmwarescraper_spark.operators import textops as TX

    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z w"), (3, "solo"), (4, "")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in TX.repetition_signals(docs).collect()}
    assert rows[1]["top_bigram_frac"] == pytest.approx(1.0)
    assert rows[1]["dup_trigram_frac"] == pytest.approx(0.5)
    assert rows[2]["top_bigram_frac"] == pytest.approx(0.5)  # 1*2/4
    assert rows[2]["dup_trigram_frac"] == pytest.approx(0.0)
    assert rows[3]["top_bigram_frac"] == pytest.approx(0.0)  # < n words
    assert rows[4]["dup_trigram_frac"] == pytest.approx(0.0)


def test_bench_summary_line_fits_driver_tail():
    """The final bench stdout line must stay under the driver's 2000-char
    tail (BENCH_r02 parsed=null post-mortem). Emulate bench.py's ACTUAL
    emission rule — full query dict first, then the same top-20
    truncation fallback it applies past 1800 chars — with the live
    queries() key set and a worst-case crawl block."""
    import json

    qtimes = {name: 12.345 for name in __import__("__spark_entry__").queries()}
    crawl_compact = {
        "corpus_pages": 102_130,
        "fixpoint_n4_urls_per_sec": 733.42,
        "fixpoint_n4_sec": 139.25,
        "scaling_pair": [1, 4],
        "scaling_efficiency": 0.934,
        "scaling_efficiency_best": 1.11,
        "scaling_efficiency_minarm": 0.854,
        "pair_efficiencies": [0.934, 1.11, 0.812, 0.754, 1.201],  # BEST_OF=5
        "clean_pair_efficiencies": [0.934, 0.812],
        "gate_met": True,
        "windows_skipped": 7,
        "urls_per_sec_n1": 362.11,
        "urls_per_sec_n4": 1352.97,
        "audit": "BENCH/audit_latest.json",
    }
    out = {
        "metric": "frontier-dequeue->fetch->extract crawl + query suite",
        "value": 1421.55, "unit": "sec",
        "queries": {k: round(v, 2) for k, v in qtimes.items()},
        "sf": 0.1, "crawl": crawl_compact,
    }
    line = json.dumps(out)
    if len(line) > 1800:  # bench.py's fallback, verbatim
        out["queries"] = {
            k: round(v, 2)
            for k, v in sorted(qtimes.items(), key=lambda kv: -kv[1])[:20]
        }
        out["queries_truncated_see_audit"] = True
        line = json.dumps(out)
    assert len(line) < 1800, len(line)
    # the truncated form must still carry the headline fields intact
    parsed = json.loads(line)
    assert parsed["crawl"]["scaling_efficiency"] == 0.934
    assert parsed["value"] == 1421.55
