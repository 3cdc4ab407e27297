"""Steady-round cost via process-tree CPU seconds (contention-robust):
sum utime+stime over the driver python + all descendants (JVM, python
workers) before/after the round."""
import json, os, shutil, sys, time

REPO = sys.argv[1]
sys.path.insert(0, REPO)
import bench

CORPUS = "/tmp/floor_corpus"
WORK = "/tmp/floor_work"
HZ = os.sysconf("SC_CLK_TCK")


def _descendants(root):
    kids = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            ppid = int(parts[1])
            kids.setdefault(ppid, []).append(int(d))
        except OSError:
            continue
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def tree_cpu():
    total = 0.0
    for p in _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            total += (int(parts[11]) + int(parts[12])) / HZ
        except OSError:
            continue
    return total


def steady(cores: int) -> dict:
    from firmwarescraper_spark.plans.crawl import CrawlEngine
    from firmwarescraper_spark.session import get_spark
    spark = get_spark(app_name=f"cpu-{cores}", master=f"local[{cores}]",
                      shuffle_partitions=bench._sized_shuffle_partitions(CORPUS),
                      extra_conf={"spark.sql.warehouse.dir":
                                  os.path.join(WORK, "warehouse")})
    spark.sparkContext.setLogLevel("FATAL")
    try:
        state = os.path.join(WORK, f"steady_{cores}")
        shutil.rmtree(state, ignore_errors=True)
        eng = CrawlEngine(spark, CORPUS, state, tokens_per_host=10**9,
                          salt_buckets=8, round_seconds=1e9)
        frontier = bench.steady_frontier(spark, CORPUS)
        eng._write_frontier(frontier, 0)
        eng._robots(eng._survey(frontier)[1]).count()
        c0, t0 = tree_cpu(), time.monotonic()
        eng.run_round(0)
        return {"cores": cores,
                "wall": round(time.monotonic() - t0, 2),
                "cpu": round(tree_cpu() - c0, 2),
                "phases": eng.last_round_phases}
    finally:
        spark.stop()


if __name__ == "__main__":
    for c in [int(a) for a in sys.argv[2:]] or [1]:
        print(json.dumps(steady(c)), flush=True)
