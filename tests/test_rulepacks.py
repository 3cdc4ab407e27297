"""Rule packs as per-page column expressions: the builder contract, the
parse-field map, the `RULES` DataFrame view the benchmark reads, and the
engine's dispatch shape (one generator per output, each rule built once)."""

import inspect
import re

import pytest
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from firmwarescraper_spark.functions.html import parse_page_udf
from firmwarescraper_spark.plans import rulepacks as RP
from firmwarescraper_spark.plans.crawl import CrawlEngine
from firmwarescraper_spark.plans.simulator import simulate
from firmwarescraper_spark.sources import generate as G


@pytest.fixture(scope="module")
def pages(spark):
    """One parsed page per rule: the first page the simulator visits
    under it in the all-vendor corpus."""
    corpus = G.corpus_dict(1, 1, vendor_scale=1)
    first = {}
    for seq, url, key, depth, rule in simulate(
            corpus, G.seeds(include_vendors=True)).order:
        first.setdefault(rule, (url, rule, corpus.get(key), depth, seq, {}))
    assert set(first) == set(RP.RULES)
    df = spark.createDataFrame(
        list(first.values()),
        "url string, rule string, html string, depth int, seq string, "
        "lineage map<string,string>")
    fields = tuple(sorted(RP.RULE_PARSE_FIELDS.items()))
    df = df.withColumn("parsed", parse_page_udf(fields)(F.col("html"), F.col("rule")))
    df.persist().count()
    yield df
    df.unpersist()


def test_builders_take_no_dataframe(spark):
    for rule, build in RP.PACKS.items():
        assert not inspect.signature(build).parameters, rule
        pack = build()
        assert pack and set(pack) <= {"children", "items", "quarantine"}, rule
        assert all(isinstance(c, Column) for c in pack.values()), rule


def test_rule_parse_fields_match_columns(spark):
    """RULE_PARSE_FIELDS trims the parse UDF's output per rule: each entry
    must name exactly the `parsed.` fields the rule's columns read."""
    assert RP.RULE_PARSE_FIELDS.keys() == RP.PACKS.keys()
    for rule, build in RP.PACKS.items():
        text = " ".join(str(c) for c in build().values())
        assert set(re.findall(r"\bparsed\.(\w+)", text)) == set(
            RP.RULE_PARSE_FIELDS[rule]), rule


def test_rules_view_contract(pages):
    """`RULES[rule](pages)` gives (children, items, quarantine) DataFrames
    or None; perfbench unions the children and the items across rules and
    reads the children's url."""
    kids, its = [], []
    for rule, fn in RP.RULES.items():
        res = fn(pages.filter(F.col("rule") == rule))
        assert len(res) >= 2, rule  # perfbench reads res[0] and res[1]
        assert all(r is None or isinstance(r, DataFrame) for r in res), rule
        assert any(r is not None for r in res), rule
        kids += [res[0]] if res[0] is not None else []
        its += [res[1]] if res[1] is not None else []
    assert {tuple(k.columns) for k in kids} == {tuple(kids[0].columns)}
    assert "url" in kids[0].columns
    assert {tuple(i.columns) for i in its} == {tuple(its[0].columns)}
    union = kids[0]
    for k in kids[1:]:
        union = union.unionByName(k)
    assert union.select("url").filter(F.col("url").isNull()).count() == 0
    assert union.count() > 0


def _nodes(df: DataFrame, name: str) -> int:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum(1 for line in plan.splitlines()
               if re.match(r"^[\s:+\-|]*" + name + r"\b", line))


def _present(frontier: DataFrame) -> list:
    """The rule packs a frontier schedules, as the engine's _survey lists them."""
    return sorted({r["rule"] for r in frontier.collect()} & RP.PACKS.keys())


def test_extract_is_one_generator_per_output(spark, pages, tmp_path):
    """Over a cached page frame, each output plan is one generator over a
    CASE on the rule: no per-rule branch and no union."""
    eng = CrawlEngine(spark, str(tmp_path / "pages"), str(tmp_path / "state"))
    outs = eng._extract(_present(pages.select("rule")), pages)
    assert all(df is not None for df in outs)
    for df in outs:
        assert _nodes(df, "Union") == 0
        assert _nodes(df, "Generate") == 1


def test_rules_built_once_per_engine(spark, pages, tmp_path, monkeypatch):
    """A second round over the same rules reuses the built columns."""
    calls = []
    for rule, build in list(RP.PACKS.items()):
        monkeypatch.setitem(
            RP.PACKS, rule, lambda b=build, r=rule: calls.append(r) or b())
    eng = CrawlEngine(spark, str(tmp_path / "pages"), str(tmp_path / "state"))
    present = _present(
        pages.filter(F.col("rule").startswith("linksys")).select("rule"))
    eng._extract(present, pages)
    assert sorted(calls) == sorted(r for r in RP.PACKS if r.startswith("linksys"))
    n = len(calls)
    eng._extract(present, pages)
    assert len(calls) == n
