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
  - Python worker daemon: every Python task (the round's URL, parse and
    robots UDFs) starts by invalidating the import caches, and PySpark's
    stock daemon then re-reads ``pyspark.zip``'s directory on every task,
    0.07–0.15 s of CPU each. ``firmwarescraper_spark.daemon`` skips the
    re-read while the archive is unchanged; a warm round of the perfbench
    crawl (``local[2]``, 4-core box) then spends 0.3–0.4 s of Python
    worker CPU instead of 1.4–1.7 s. The daemon starts as
    ``python -m <module>`` in the JVM's working directory, with the worker
    environment's ``PYTHONPATH`` and before any ``--py-files`` are
    unpacked, so ``daemon_conf`` selects the module only where that
    interpreter can import it. Elsewhere (a cluster master, a package
    shipped as a zip) PySpark's own daemon stays. Like the codegen cache,
    the setting is static.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

DAEMON_MODULE = "firmwarescraper_spark.daemon"
_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))


def daemon_conf(master: str, package_dir: str = _PACKAGE_DIR) -> dict:
    """``spark.python.daemon.module`` for a ``local*`` master when the
    package is a directory whose parent is on the daemon's start-up path:
    the working directory, a ``PYTHONPATH`` entry or site-packages.
    Otherwise nothing, and PySpark's own daemon runs."""
    if not master.startswith("local") or not os.path.isdir(package_dir):
        return {}
    cwd = os.getcwd()
    path = [cwd, *os.environ.get("PYTHONPATH", "").split(os.pathsep),
            *site.getsitepackages(), site.getusersitepackages()]
    starts = {os.path.realpath(os.path.join(cwd, p)) for p in path if p}
    if os.path.realpath(os.path.dirname(package_dir)) not in starts:
        return {}
    return {"spark.python.daemon.module": DAEMON_MODULE}


def session_conf(master: str, shuffle_partitions: int | None = None,
                 extra_conf: dict | None = None) -> dict:
    """Every setting ``get_spark`` gives the builder; ``extra_conf`` wins."""
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or 32),
        # broadcast threshold: rule-pack dims (device-class maps, whitelists,
        # skip-sets, robots) are tiny; make sure they always broadcast.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.codegen.cache.maxEntries": "2048",
        **daemon_conf(master),
        **(extra_conf or {}),
    }


def get_spark(
    app_name: str = "firmwarescraper-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in session_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
