#!/usr/bin/env python3
"""Benchmark runner for the crawl engine and its query suite.

    python3 perfbench/run.py --workload fixpoint_crawl --seed 1 --seconds 1 --trace 0 --cores 2

Run from the repository root (or any checkout holding ``perfbench/`` next to
``firmwarescraper_spark/`` and ``__spark_entry__.py``). One run starts one
``local[k]`` Spark session, sets up the workload (session start, input
generation, warm-up: reported as ``setup_s``), then runs closed-loop batches
until ``--seconds`` of timed wall have passed. Outputs are checked against
an oracle outside the timed region. With ``--trace 1`` the run also records
spans and reports the per-layer metrics instead of the end-to-end ones.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The lines before it print
every metric by name with its unit. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("fixpoint_crawl", "query_suite")
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--cores", required=True, type=int,
                   help="k of the local[k] Spark master")
    return p.parse_args(argv)


def missing_program(root: str) -> list:
    need = [os.path.join(root, "firmwarescraper_spark", "__init__.py"),
            os.path.join(root, "__spark_entry__.py")]
    return [p for p in need if not os.path.isfile(p)]


def use_work_dir(work: str) -> str:
    """Point every temporary file of this process, its JVM and the Python
    workers into ``work``; the workers find the package through
    ``PYTHONPATH``. Returns the temporary directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    return tmp


def start_session(work: str, tmp: str, cores: int):
    """One ``local[cores]`` session whose scratch files stay under ``work``.
    The JVM heap has a fixed size (``-Xms`` = driver memory), so heap
    resizing adds no run-to-run noise to times or peak RSS, and
    ``-XX:-UsePerfData`` keeps it from writing an ``hsperfdata`` file."""
    from firmwarescraper_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        },
    )
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def jvm_process():
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def stop_session(spark, proc):
    """Stop Spark, close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def end_to_end(setup_s: float, batches: list, rss_mb: float) -> dict:
    from stats import percentile

    wall = sum(b["wall"] for b in batches)
    samples = [s for b in batches for s in b["samples"]]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "work_per_s": {"value": sum(b["work"] for b in batches) / wall, "unit": "1/s"},
        "op_p50_s": {"value": percentile(samples, 50)["value"], "unit": "s"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }


def print_summary(args, e2e, batches, attempted, failed):
    """Human-readable lines, in the vocabulary of each workload."""
    from stats import failed_frac, percentile

    crawl = args.workload == "fixpoint_crawl"
    op = "round" if crawl else "query"
    samples = [s for b in batches for s in b["samples"]]
    wall = sum(b["wall"] for b in batches)
    work = sum(b["work"] for b in batches)
    print(f"workload {args.workload}  seed {args.seed}  local[{args.cores}]  "
          f"trace {args.trace}  timed {wall:.2f} s in {len(batches)} batch(es)")
    print(f"  setup_s        {e2e['setup_s']['value']:.3f} s")
    rate = "urls_per_s" if crawl else "queries_per_s"
    unit = "seen rows" if crawl else "queries"
    print(f"  {rate:<14} {e2e['work_per_s']['value']:.3f} 1/s  ({work} {unit} / {wall:.2f} s)")
    for q in (50, 90):
        p = percentile(samples, q)
        print(f"  {op}_p{q}_s{'':<{8 - len(op)}} {p['value']:.3f} s  (n={p['n']})")
    print(f"  peak_rss_mb    {e2e['peak_rss_mb']['value']:.1f} MB")
    print(f"  failed_frac    {failed_frac(failed, attempted):.4f}  ({failed}/{attempted} ops)")


def main(argv=None) -> int:
    args = parse_args(argv)
    gone = missing_program(ROOT)
    if gone:
        print(f"perfbench: program files not found: {', '.join(gone)}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from tracing import SparkCounters, Tracer, peak_rss_mb

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = use_work_dir(work)
    tracer = Tracer(bool(args.trace))
    expected = None
    if args.workload == "query_suite":
        import query_workload as QW

        expected = QW.oracle_digests(QW.PANEL + QW.COVERAGE)  # not set-up

    t0 = time.monotonic()
    spark = start_session(work, tmp, args.cores)
    proc = jvm_process()
    try:
        counters = SparkCounters(spark, args.cores) if args.trace else None
        if args.workload == "fixpoint_crawl":
            from crawl_workload import FixpointCrawl

            wl = FixpointCrawl(spark, work, args.seed, tracer, counters)
        else:
            wl = QW.QuerySuite(spark, args.seed, tracer, counters, ROOT, expected)
        with tracer.span("setup"):
            wl.setup()
        setup_s = time.monotonic() - t0

        batches, timed = [], 0.0
        while timed < args.seconds:
            batches.append(wl.batch())
            timed += batches[-1]["wall"]
        attempted = sum(len(b["samples"]) for b in batches)
        failed = sum(b["failed"] for b in batches)
        e2e = end_to_end(setup_s, batches, peak_rss_mb([os.getpid(), proc.pid]))
        metrics = e2e
        if args.trace:
            overhead = (tracer.self_s + counters.spent_s) / timed
            metrics = traced_metrics(spark, work, args, wl, tracer, counters, e2e, overhead)
    finally:
        stop_session(spark, proc)
        shutil.rmtree(work, ignore_errors=True)

    print_summary(args, e2e, batches, attempted, failed)
    if args.trace:
        path = os.path.join(ROOT, ".perfbench_work", "traces",
                            f"{args.workload}-seed{args.seed}.json")
        tracer.write(path)
        for k, v in metrics.items():
            print(f"  {k:<40} {v['value']:.6g} {v['unit']}")
        print(f"  spans written to {os.path.relpath(path, ROOT)} ({len(tracer.spans)} spans)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def traced_metrics(spark, work, args, wl, tracer, counters, e2e, overhead) -> dict:
    """Every per-layer metric, with units, for a traced run."""
    import crawl_workload as CW
    import layers as L
    import query_workload as QW
    from querymap import query_modules

    buckets = QW.module_buckets(query_modules(ROOT))
    m = {}
    if args.workload == "fixpoint_crawl":
        rounds = wl.rounds
        pages = wl.pages
        qs = QW.QuerySuite(spark, args.seed, tracer, counters, ROOT,
                           QW.oracle_digests(QW.PANEL + QW.COVERAGE))
        qs.setup(QW.PANEL + QW.COVERAGE)
        m.update(L.query_metrics(qs, tracer, buckets))
        m.update(L.spark_metrics(rounds))
    else:
        wl.setup(QW.COVERAGE)
        m.update(L.query_metrics(wl, tracer, buckets))
        m.update(L.spark_metrics(wl.ops))
        pages = os.path.join(work, "pages")
        with tracer.span("generate.write_corpus"):
            CW.write_corpus(spark, pages)
        rounds = L.probe_crawl(spark, work, args.seed, tracer, counters)
    m.update(L.crawl_metrics(rounds))
    m["generate.corpus_s"] = tracer.durations("generate.write_corpus")[0]
    m.update(L.probe_layers(spark, work, pages, args.seed, tracer))
    m["trace.op_p50_s"] = e2e["op_p50_s"]["value"]
    m["trace.overhead_frac"] = overhead
    return {n: {"value": m[n], "unit": L.unit(n)} for n in L.metric_names(buckets)}


if __name__ == "__main__":
    sys.exit(main())
