"""Tests for the benchmark's own helpers. They need no Spark session:

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from querymap import SQL_ONLY, query_modules  # noqa: E402
from stats import failed_frac, percentile  # noqa: E402

# The per-layer metric names the benchmark promises, written out by hand.
PROMISED_LAYER_NAMES = [
    "crawl.dequeue_s", "crawl.materialize_s", "crawl.plan_build_s",
    "crawl.mat_wait_s", "crawl.writes_s", "crawl.commit_s", "crawl.rounds",
    "spark.jobs_per_round", "spark.stages_per_round", "spark.tasks_per_round",
    "spark.executor_busy_frac", "spark.shuffle_write_mb", "spark.spill_mb",
    "html.parse_ms_per_page", "html.parse_udf_pages_per_s",
    "url.normalize_rows_per_s",
    "frontier.anti_join_rows_per_s", "frontier.bloom_anti_join_rows_per_s",
    "frontier.bloom_maybe_frac", "frontier.unseen_frac",
    "frontier.dequeue_rows_per_s", "frontier.dequeued_frac",
    "robots.build_rules_s", "robots.filter_rows_per_s", "robots.blocked_frac",
    "rulepacks.plan_s", "rulepacks.exec_s", "rulepacks.rules_present",
    "generate.corpus_s",
    "queries.plan_s", "queries.exec_s", "queries.cold_minus_warm_s",
]


def test_percentile_reports_value_and_count():
    assert percentile([3.0, 1.0, 2.0], 50) == {"value": 2.0, "n": 3}
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == {"value": 2.5, "n": 4}
    assert percentile(list(range(11)), 90) == {"value": 9.0, "n": 11}
    assert percentile([7.0], 90) == {"value": 7.0, "n": 1}


def test_percentile_matches_statistics_median():
    xs = [0.3, 1.7, 0.9, 4.2, 2.2, 0.1]
    assert percentile(xs, 50)["value"] == pytest.approx(statistics.median(xs))


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_failed_frac():
    assert failed_frac(0, 17) == 0.0
    assert failed_frac(5, 20) == 0.25
    with pytest.raises(ValueError):
        failed_frac(0, 0)
    with pytest.raises(ValueError):
        failed_frac(3, 2)


def test_query_map_covers_every_registry_entry():
    import __spark_entry__ as E

    modules = query_modules(ROOT)
    assert set(modules) == set(E.queries())
    assert len(modules) == 99
    assert all(modules.values())


def test_query_map_resolves_helpers_and_aliases():
    modules = query_modules(ROOT)
    assert modules["dup_spans"] == ("operators.dedup",)
    assert modules["bloom_anti_join"] == ("operators.frontier",)
    assert "sources.generate" in modules["media_meta"]
    assert modules["revenue_by_segment"] == (SQL_ONLY,)


def test_panel_covers_every_module_bucket():
    from query_workload import COVERAGE, PANEL, module_buckets

    modules = query_modules(ROOT)
    covered = {m for q in PANEL + COVERAGE for m in modules[q]}
    assert covered == set(module_buckets(modules))
    assert len(set(PANEL + COVERAGE)) == len(PANEL + COVERAGE)


def test_layer_metric_names_match_the_list_and_benchmark_json():
    from layers import metric_names, unit
    from query_workload import module_buckets

    buckets = module_buckets(query_modules(ROOT))
    names = metric_names(buckets)
    assert len(names) == len(set(names))
    assert set(PROMISED_LAYER_NAMES) <= set(names)
    module_names = {f"queries.{b}.warm_s" for b in buckets}
    assert set(names) - set(PROMISED_LAYER_NAMES) - module_names == {
        "trace.op_p50_s", "trace.overhead_frac"}
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == names
    assert [m["unit"] for m in bench["per_layer"]] == [unit(n) for n in names]


def test_run_refuses_a_checkout_without_the_program(tmp_path):
    import run

    assert run.missing_program(str(tmp_path))
    assert not run.missing_program(ROOT)
