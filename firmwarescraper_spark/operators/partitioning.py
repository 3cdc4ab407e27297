"""Input-parallelism floor for CPU-heavy single-pass operators.

A benchmark-scale table often arrives as ONE parquet file with one row
group, so Spark's file-split planning yields a single input partition and
the operator's heaviest stage — typically a per-row hash/explode scan —
runs on one core regardless of the session's parallelism (measured:
dup_spans' md5-window explode was an 11 s single-task stage at local[32]
over a 0.6 MB file). ``spread_input`` raises the scan parallelism ONLY
in that regime:

* the condition is the table's file count (a metadata-only lookup, no
  job): between one file and ``spark.default.parallelism`` files, file
  splits cannot feed every core, and only then is a repartition inserted.
  A 100 TB deployment table has thousands of files/row groups — the
  branch provably never fires there, so the operators keep their "text
  never shuffles at scale" property;
* a relation that reports no input files — cached, checkpointed or
  built in memory — is never spread: its partition count is not a
  file-split artifact, and at scale it can be a full text table;
* the inserted exchange hash-partitions on the row-id column —
  deterministic row placement (plain round-robin would make row
  distribution order-dependent), uniform because ids are unique.

This is the guide's "make partitioning scale-adaptive" rule applied to
the INPUT side: the bytes moved are bounded by the small-files regime
that triggers it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread_input(df: DataFrame, key, min_partitions: int | None = None,
                 ) -> DataFrame:
    """Repartition ``df`` by ``key`` to the session's default parallelism
    IFF it scans files and its file-scan parallelism is provably below
    that (see module doc). ``key`` is a column name or Column used for
    deterministic placement. A ``df`` with no input files is returned
    unchanged."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if target <= 1:
        return df
    try:
        nfiles = len(df.inputFiles())
    except Exception:
        return df
    if not 0 < nfiles < target:
        return df
    key_col = F.col(key) if isinstance(key, str) else key
    return df.repartition(target, key_col)
