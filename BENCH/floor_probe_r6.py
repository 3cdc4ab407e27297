"""Steady-round floor decomposition v2: per-write job descriptions +
REST stage stats (executorRunTime) so floor = wall - runTime/cores."""
import json, os, shutil, sys, time, urllib.request

sys.path.insert(0, "/root/repo")
import bench

CORPUS = "/tmp/floor_corpus"
WORK = "/tmp/floor_work"


def rest(spark, path):
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/{path}") as r:
        return json.load(r)


def steady(cores: int) -> dict:
    from firmwarescraper_spark.plans.crawl import CrawlEngine
    from firmwarescraper_spark.session import get_spark
    spark = get_spark(app_name=f"probe-{cores}", master=f"local[{cores}]",
                      shuffle_partitions=bench._sized_shuffle_partitions(CORPUS),
                      extra_conf={"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                                  "spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("FATAL")
    try:
        state = os.path.join(WORK, f"steady_{cores}")
        shutil.rmtree(state, ignore_errors=True)
        eng = CrawlEngine(
            spark, CORPUS, state,
            tokens_per_host=1_000_000_000, salt_buckets=8,
            round_seconds=1_000_000_000.0)
        frontier = bench.steady_frontier(spark, CORPUS)
        eng._write_frontier(frontier, 0)
        eng._robots(eng._survey(frontier)[1]).count()

        jobs_before = {j["jobId"] for j in rest(spark, "jobs")}
        writes = {}
        orig_append, orig_wf = eng._append, eng._write_frontier

        def t_append(df, table, rnd):
            spark.sparkContext.setJobDescription(f"write:{table}")
            t0 = time.monotonic()
            orig_append(df, table, rnd)
            writes[table] = round(time.monotonic() - t0, 3)

        def t_wf(df, rnd):
            spark.sparkContext.setJobDescription("write:frontier")
            t0 = time.monotonic()
            orig_wf(df, rnd)
            writes["frontier"] = round(time.monotonic() - t0, 3)

        eng._append, eng._write_frontier = t_append, t_wf
        t0 = time.monotonic()
        eng.run_round(0)
        dt = time.monotonic() - t0

        # attribute stages to jobs by description
        jobs = [j for j in rest(spark, "jobs") if j["jobId"] not in jobs_before]
        stage_ids = {}
        for j in jobs:
            d = j.get("description") or j.get("name", "?")
            stage_ids.setdefault(d, set()).update(j["stageIds"])
        stages = {s["stageId"]: s for s in rest(spark, "stages")
                  if s["status"] != "PENDING"}
        per_desc = {}
        total_run = 0
        seen_stages = set()
        for d, sids in stage_ids.items():
            rt = 0
            for sid in sids:
                st = stages.get(sid)
                if st is None or sid in seen_stages:
                    continue  # skipped (reused exchange/cache) or counted
                seen_stages.add(sid)
                rt += st.get("executorRunTime", 0)
            per_desc[d] = round(rt / 1000.0, 2)
            total_run += rt
        return {"cores": cores, "seconds": round(dt, 2),
                "phases": eng.last_round_phases, "writes": writes,
                "stage_runtime_by_job": dict(sorted(
                    per_desc.items(), key=lambda kv: -kv[1])),
                "total_executor_run_s": round(total_run / 1000.0, 2),
                "ideal_parallel_s": round(total_run / 1000.0 / cores, 2),
                "floor_estimate_s": round(dt - total_run / 1000.0 / cores, 2)}
    finally:
        spark.stop()


if __name__ == "__main__":
    cores = [int(a) for a in sys.argv[1:]] or [4, 1]
    out = [steady(c) for c in cores]
    print(json.dumps(out, indent=1))
    with open("/tmp/floor_probe2.json", "w") as f:
        json.dump(out, f, indent=1)
