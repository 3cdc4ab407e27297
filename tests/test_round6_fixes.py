"""Round-6 optimization pins.

The crawl round's hottest per-task work is the HTML parse
(plans/crawl.py `materialize` phase); round 6 replaced the stdlib
HTMLParser driver loop with a fast tag scanner that reuses the stdlib's
own tolerant regexes and falls back to the stdlib path for anything it
declines. These tests pin the equivalence contract: on every input the
fast path ACCEPTS, its observable parse surface is byte-identical to
the stdlib path's.
"""

from __future__ import annotations

import json
import random

from firmwarescraper_spark.functions import html as H


def _surface(doc) -> str:
    """The full observable parse product (everything parse_page ships)."""
    return json.dumps(
        {
            "anchors": doc.anchors,
            "pre": doc.pre_texts,
            "divs": [
                (b.classes, b.div_id, b.parent_id, b.inner_start, b.end)
                for b in doc.div_blocks
            ],
            "scripts": doc.head_scripts,
            "texts": [(t.tag, t.classes, t.elem_id, t.text) for t in doc.texts],
            "rows": [
                [
                    (c.td_classes, c.direct_text, c.texts, c.hrefs,
                     c.a_titles, c.a_texts, c.classed_hrefs,
                     c.span_first_texts, c.input_names, c.inner_html)
                    for c in r.cells
                ]
                for r in doc.rows
            ],
            "paras": [(p.bold_texts, p.a_texts, p.a_hrefs) for p in doc.paras],
            "inputs": doc.inputs,
        },
        default=lambda o: list(o) if isinstance(o, tuple) else str(o),
        sort_keys=True,
    )


def _parse_fast(s: str):
    p = H._Parser(s)
    try:
        ok = p._fast_feed()
    except Exception:
        ok = False
    return (p.doc if ok else None)


def _parse_stdlib(s: str):
    p = H._Parser(s)
    p._prepare_stdlib()
    p.feed(s)
    p.close()
    return p.doc


CASES = [
    "<!DOCTYPE html><html><body><p>hi &amp; bye</p></body></html>",
    "<html><!-- comment --><body><a href='x.bin'>f&uuml;r</a></body></html>",
    "<div class='a b' id=\"d1\"><span style='FONT-WEIGHT: bold'>t</span></div>",
    "<table><tr class=r1 onclick=\"go()\"><td class=c>"
    "<a href=u title=T>x</a><span>s1</span></td></tr></table>",
    "<head><script>var x = 1 < 2;</script></head>",
    "<pre>line1\nline2 &lt;tag&gt;\n</pre>",
    "<input name=n value=v><br/><img src=x />",
    "<p><strong>b</strong><a href='h'>t</a></p>",
    "<div data-class='dc1 dc2'><a href=q>z</a></div>",
    "<a href=\"a&b.html\" title='q&quot;r'>t</a>",
    "<div><div class=inner id=i2><a href=n>nested</a></div></div>",
    "\n<html>\n<head><META charset=utf-8></head>\n"
    "<body>&copy; 2024</body>\n</html>",
]

# inputs the fast path must DECLINE (stdlib handles them); the contract
# is only that declines never crash and never return a partial doc
DECLINE_OK = [
    "<script>unterminated",
    "<?php echo ?><div>x</div>",
    "<!DOCTYPE html [ <!ENTITY x 'y'> ]><div>x</div>",
    "</>",
    "a < b but > c",
]


def test_fast_scanner_matches_stdlib_on_wellformed():
    for s in CASES:
        fast = _parse_fast(s)
        assert fast is not None, f"fast path declined well-formed: {s!r}"
        assert _surface(fast) == _surface(_parse_stdlib(s)), s


def test_fast_scanner_declines_cleanly():
    for s in DECLINE_OK:
        # parse_html must still produce the stdlib result regardless
        doc = H.parse_html(s)
        assert _surface(doc) == _surface(_parse_stdlib(s)), s


def test_fast_scanner_fuzz_equivalence():
    """Random fragments/mutations of real corpus pages: every accepted
    input parses identically to the stdlib path."""
    from firmwarescraper_spark.sources import generate as G

    pages = list(G.corpus_dict(n_avm=12, n_linksys=8, n_pad=8).values())
    rng = random.Random(7)
    checked = 0
    for _ in range(400):
        base = rng.choice(pages)
        a = rng.randrange(0, len(base))
        b = rng.randrange(a, min(len(base), a + 1500))
        s = base[a:b]
        if rng.random() < 0.3:
            pos = rng.randrange(0, max(1, len(s)))
            s = (s[:pos]
                 + rng.choice(["<", ">", "&amp;", "<!--", "-->",
                               "</div>", "<a href='x'>", "&#65;", "<td>"])
                 + s[pos:])
        fast = _parse_fast(s)
        if fast is None:
            continue
        checked += 1
        assert _surface(fast) == _surface(_parse_stdlib(s)), repr(s[:200])
    assert checked > 100  # the fast path must accept most real fragments


def test_decontaminate_no_exchange_below_broadcast_join(spark):
    """r5 verdict #3: the train-side shingle explosion must never reach
    an Exchange — the benchmark set broadcasts onto the exploded scan and
    only contaminated (id, gram) pairs shuffle. Every Exchange in the
    plan must therefore sit ABOVE (downstream of) the broadcast join; in
    the printed tree, parents precede children, so the last Exchange
    line must appear before the BroadcastHashJoin line."""
    from firmwarescraper_spark.operators import curation as CU

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta " + str(i))
         for i in range(40)],
        "doc_id long, text string",
    )
    bench = docs.filter("doc_id % 13 = 0")
    train = docs.filter("doc_id % 13 != 0")
    out = CU.decontaminate(train, bench, ngram=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    # the streamed (train) side prints between the join line and its
    # BroadcastExchange build side: the explode must reach the join with
    # no Exchange in between (the benchmark side's distinct exchange,
    # inside the broadcast subtree, is fine — it is the tiny side)
    join_at = plan.index("BroadcastHashJoin")
    bcast_at = plan.index("BroadcastExchange", join_at)
    streamed = plan[join_at:bcast_at]
    assert "Generate explode" in streamed, streamed
    assert "Exchange hashpartitioning" not in streamed, streamed


def test_decontaminate_oracle_values_unchanged(spark):
    """The plan fix must not move a single output value: distinct AFTER
    the join counts the same distinct contaminated grams per doc."""
    from firmwarescraper_spark.operators import curation as CU

    rows = [
        (0, "shared phrase here tail zero"),
        (13, "shared phrase here bench doc"),
        (1, "shared phrase here shared phrase here repeated"),
        (2, "nothing in common at all today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = docs.filter("doc_id % 13 = 0 and doc_id > 0")
    train = docs.filter("doc_id % 13 != 0 or doc_id = 0")
    got = {r["doc_id"]: (r["n_hits"], r["contaminated"])
           for r in CU.decontaminate(train, bench, ngram=3).collect()}
    # doc 1 repeats the contaminated 3-gram; the distinct-gram count
    # still reports it once (the post-join distinct at work)
    assert got[0][1] and got[1][1] and not got[2][1]
    assert got[1][0] == got[0][0] == 1


def test_unlimited_budget_fold_state_parity(spark, tmp_path_factory):
    """run_round's plan-time budget fold (every robots-derived budget >=
    UNLIMITED_TOKENS -> pass the literal budget instead of the per-host
    Crawl-delay column, so the politeness windows fold away) must leave
    the crawl state bit-identical to the per-host budget path."""
    from firmwarescraper_spark.plans.crawl import CrawlEngine
    from firmwarescraper_spark.sources import generate as G

    corpus = str(tmp_path_factory.mktemp("bfold") / "pages")
    G.write_corpus(spark, corpus, n_avm=3, n_linksys=2, partitions=2)

    def run(force_column: bool):
        state = str(tmp_path_factory.mktemp(
            "bfold_state_" + ("column" if force_column else "fold")))
        eng = CrawlEngine(spark, corpus, state,
                          tokens_per_host=10 ** 9, salt_buckets=4,
                          round_seconds=10 ** 9)
        # the seeds reach every base of this corpus, so the crawl never
        # extends the robots state again (nor recomputes the flag)
        eng._robots(eng._survey(eng.seed_frontier(G.seeds()))[1])
        assert eng._budget_all_unlimited
        if force_column:
            eng._budget_all_unlimited = False  # take the column path
        eng.run(G.seeds(), fresh=True)
        seen = sorted((r["url_hash"], r["fetch_key"], r["round"])
                      for r in eng.seen().collect())
        frontier_rounds = eng.latest_round()
        items = sorted(map(tuple, (
            tuple(tuple(v) for v in r) for r in eng.items().drop("round").collect())))
        return seen, frontier_rounds, items

    assert run(False) == run(True)
