"""Command-line entry point — the reference's user surface re-expressed:

    scrapy crawl <spider> -o <file>.json      (/root/reference/README.md:37-41)

becomes

    python -m firmwarescraper_spark crawl <spider> --pages <corpus.parquet> \
        --state <dir> -o <feed-dir> [--downloads] [--master local[*]]

A reference user's whole workflow maps 1:1: pick spiders by the same
names (avm, linksys, tplink, netgear_gpl, linksys_gpl, tplink_gpl, asus,
hp, dlink_gpl, dlink_ftp — or ``all``), get the same JSON-lines item feed
(including the FilesPipeline ``files`` field), plus the state/metrics
tables scrapy never had. ``gen-corpus`` writes the synthetic vendor
corpus so the whole loop runs offline.
"""

from __future__ import annotations

import argparse
import json
import sys


def spider_seeds(names: list) -> list:
    """Seeds for the named spiders (reference spider names)."""
    from firmwarescraper_spark.sources import generate as G
    from firmwarescraper_spark.sources import vendors as V

    core = G.seeds()
    table = {
        "avm": [s for s in core if s[1].startswith("avm")],
        "linksys": [s for s in core if s[1].startswith("linksys")],
        "tplink": V.tplink_seeds(),
        "netgear_gpl": V.netgear_seeds(),
        "linksys_gpl": V.linksys_gpl_seeds(),
        "tplink_gpl": V.tplink_gpl_seeds(),
        "asus": V.asus_seeds(),
        "hp": V.hp_seeds(),
        "dlink_gpl": V.dlink_seeds(),
        "dlink_ftp": V.ftp_seeds(),
    }
    if names == ["all"]:
        names = list(table)
    seeds = []
    for name in names:
        if name not in table:
            raise SystemExit(
                f"unknown spider {name!r}; choose from "
                f"{', '.join(sorted(table))} or 'all'")
        seeds += table[name]
    return seeds


def _make_spark(master: str):
    from firmwarescraper_spark.session import get_spark

    return get_spark(app_name="firmwarescraper", master=master,
                     shuffle_partitions=8)


def cmd_crawl(args, spark=None) -> dict:
    from firmwarescraper_spark.plans.crawl import CrawlEngine

    own_session = spark is None
    if own_session:
        spark = _make_spark(args.master)
    try:
        fetcher = None
        if args.http:
            from firmwarescraper_spark.plans.fetchers import HttpFetcher

            fetcher = HttpFetcher(timeout=args.http_timeout)
        eng = CrawlEngine(
            spark, args.pages, args.state,
            obey_robots=not args.no_robots,
            compact_every=args.compact_every,
            fetcher=fetcher,
        )
        summary = eng.run(spider_seeds(args.spiders), fresh=args.fresh)
        if args.downloads:
            summary["downloads"] = eng.collect_downloads().count()
        if args.output:
            summary["feed_items"] = eng.export_feed(args.output)
            summary["feed"] = args.output
        return summary
    finally:
        if own_session:
            spark.stop()


def cmd_gen_corpus(args, spark=None) -> dict:
    from firmwarescraper_spark.sources import generate as G

    own_session = spark is None
    if own_session:
        spark = _make_spark(args.master)
    try:
        n = G.write_corpus(
            spark, args.out, n_avm=args.avm, n_linksys=args.linksys,
            partitions=args.partitions, vendor_scale=args.vendor_scale,
        )
        return {"pages": n, "out": args.out}
    finally:
        if own_session:
            spark.stop()


def cmd_curate(args, spark=None) -> dict:
    """Raw documents parquet -> curated training corpus: the full
    gate/dedup/decontaminate/scrub/split chain (plans/curate.py) as one
    job, written partitioned by split, with the survival funnel printed
    as the summary."""
    from firmwarescraper_spark.plans import curate as C

    own_session = spark is None
    if own_session:
        spark = _make_spark(args.master)
    try:
        docs = spark.read.parquet(args.input)
        bench = spark.read.parquet(args.benchmark) if args.benchmark else None
        ann = C.annotate_documents(
            docs, lang=args.lang, min_quality=args.min_quality,
            max_top_bigram=args.max_top_bigram,
            max_dup_trigram=args.max_dup_trigram,
        )
        report = C.curation_report(ann)
        out = C.curate_documents(
            docs, lang=args.lang, min_quality=args.min_quality,
            max_top_bigram=args.max_top_bigram,
            max_dup_trigram=args.max_dup_trigram,
            benchmark=bench, decontaminate_ngram=args.decontaminate_ngram,
            scrub=not args.no_scrub,
            val_bps=args.val_bps, test_bps=args.test_bps,
            neardup=getattr(args, "neardup", None),
        )
        out.write.mode("overwrite").partitionBy("split").parquet(args.out)
        written = spark.read.parquet(args.out)
        report["output_docs"] = written.count()
        if bench is not None:
            report["decontaminated_removed"] = (
                report["dedup_survivors"] - report["output_docs"])
        elif getattr(args, "neardup", None):
            report["neardup_removed"] = (
                report["dedup_survivors"] - report["output_docs"])
        report["out"] = args.out
        return report
    finally:
        if own_session:
            spark.stop()


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m firmwarescraper_spark",
        description="PySpark-native FirmwareScraper crawl engine",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="run spiders to fixpoint "
                       "(scrapy crawl <spider> -o file.json equivalent)")
    c.add_argument("spiders", nargs="+",
                   help="spider names (reference names) or 'all'")
    c.add_argument("--pages", required=True,
                   help="pages corpus parquet (the 'web')")
    c.add_argument("--state", required=True, help="crawl state directory")
    c.add_argument("-o", "--output", help="JSON-lines item feed directory")
    c.add_argument("--downloads", action="store_true",
                   help="run the FilesPipeline stage into state/downloads")
    c.add_argument("--fresh", action="store_true",
                   help="wipe state and start over (default: resume)")
    c.add_argument("--no-robots", action="store_true")
    c.add_argument("--http", action="store_true",
                   help="fetch pages and robots.txt over real HTTP "
                        "(mapInPandas HttpFetcher) instead of joining the "
                        "pages corpus")
    c.add_argument("--http-timeout", type=float, default=320.0,
                   help="per-request timeout for --http (reference "
                        "DOWNLOAD_TIMEOUT default)")
    c.add_argument("--compact-every", type=int, default=64,
                   help="fold state-table round deltas into one snapshot "
                        "every K rounds (0 disables)")
    c.add_argument("--master", default="local[*]")
    c.set_defaults(fn=cmd_crawl)

    u = sub.add_parser(
        "curate",
        help="documents parquet -> curated training corpus (language/"
             "quality/repetition gates, exact dedup, optional benchmark "
             "decontamination, PII scrub, train/val/test splits)")
    u.add_argument("--input", required=True,
                   help="input documents parquet (doc_id, text, ...)")
    u.add_argument("--out", required=True,
                   help="output parquet dir (partitioned by split)")
    u.add_argument("--lang", default="en")
    u.add_argument("--min-quality", type=float, default=0.5)
    u.add_argument("--max-top-bigram", type=float, default=0.6)
    u.add_argument("--max-dup-trigram", type=float, default=0.5)
    u.add_argument("--benchmark",
                   help="eval-set parquet to decontaminate against "
                        "(doc_id, text)")
    u.add_argument("--decontaminate-ngram", type=int, default=8)
    u.add_argument("--neardup", choices=["minhash", "simhash"],
                   help="also collapse NEAR-duplicates: LSH pairs -> "
                        "connected components -> keep min-id canonical")
    u.add_argument("--no-scrub", action="store_true",
                   help="skip PII scrubbing")
    u.add_argument("--val-bps", type=int, default=500,
                   help="val split size in basis points of 10000")
    u.add_argument("--test-bps", type=int, default=500)
    u.add_argument("--master", default="local[*]")
    u.set_defaults(fn=cmd_curate)

    g = sub.add_parser("gen-corpus", help="write the synthetic vendor corpus")
    g.add_argument("--out", required=True)
    g.add_argument("--avm", type=int, default=8)
    g.add_argument("--linksys", type=int, default=6)
    g.add_argument("--vendor-scale", type=int, default=2)
    g.add_argument("--partitions", type=int, default=8)
    g.add_argument("--master", default="local[*]")
    g.set_defaults(fn=cmd_gen_corpus)
    return p


def main(argv=None, spark=None) -> dict:
    args = build_parser().parse_args(argv)
    out = args.fn(args, spark=spark)
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main(sys.argv[1:])
