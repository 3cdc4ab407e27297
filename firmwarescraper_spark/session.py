"""SparkSession factory tuned for the crawl engine.

Scale notes (100 TB / 1000-executor design, tested on local[32]):
  - AQE on: runtime coalescing + skew-join splitting cover the hot-host
    skew in the frontier->pages corpus join.
  - Arrow on: every Python-side extraction UDF is an Arrow-batched pandas
    UDF; there is NO row-at-a-time Python UDF anywhere in the engine.
  - shuffle.partitions is sized per-run; at cluster scale it should be
    ~2-3x total cores, and AQE coalesces small post-shuffle partitions.
  - codegen cache: one crawl round generates about 145 distinct classes,
    more than Spark's default cache of 100 entries
    (``spark.sql.codegen.cache.maxEntries``), so every round evicted and
    recompiled its own code (about 145 Janino compiles per round, about
    585 per perfbench crawl). With 2,048 entries a crawl's second round
    compiles about 86 classes, its fourth about 2, and a second crawl in
    the same JVM none. The setting is static: it takes effect only in the
    session that creates the JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "firmwarescraper-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        # broadcast threshold: rule-pack dims (device-class maps, whitelists,
        # skip-sets, robots) are tiny; make sure they always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "2048")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
