"""Write-time bucketing for co-located (zero-shuffle) joins.

At 100 TB the dominant cost of every fact-fact join is the shuffle of
both sides onto the join key. Bucketing moves that shuffle to WRITE
time, once: `df.write.bucketBy(n, key).sortBy(key)` hash-partitions
rows into `n` buckets by `key` inside every written table, and records
the bucket spec in the catalog. Any later equi-join between two tables
bucketed on their join keys with the SAME bucket count plans as a
sort-merge join with ZERO Exchange operators — Spark proves both sides
already share the required HashPartitioning and, with one sorted file
per bucket, skips the per-side Sort too (asserted by the "bucketed
co-located join" check of tools/explain_plans.py, run by
tests/test_plans.py).

Reference analog: the reference engine re-reads its per-document
artifacts keyed by filename for every evaluate/train pass
(/root/reference/src/HelperMethods.py:142-157,
/root/reference/src/evaluation.py); at Spark scale the same repeated
key-equi-join workload is exactly what write-time bucketing amortizes.

Operational notes (the sharp edges, so callers don't rediscover them):
- Bucket metadata lives in the CATALOG, not the parquet files —
  `saveAsTable` is mandatory; a path-only `parquet(path)` write drops
  the spec and downstream joins silently shuffle again.
- The input is repartitioned to `n_buckets` on the key first so each
  bucket is exactly ONE file; Spark only trusts (and exploits) the
  per-bucket sort order when files-per-bucket == 1.
- Both sides must use the same `n_buckets`; a mismatch silently
  falls back to shuffling the smaller-bucketed side.
- Broadcast beats bucketing for genuinely small dims — bucket the
  big-big joins, broadcast the small ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    path: str,
) -> None:
    """Write `df` as an external parquet table bucketed+sorted by `key`.

    One sorted file per bucket (see module doc). `mode("overwrite")`
    drops a same-name table from a previous call in this session, so
    repeated invocations (bench repeats, driver re-runs) are safe.
    """
    (
        df.repartition(n_buckets, F.col(key))
        .write.format("parquet")
        .mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def colocated_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    left_key: str,
    right_key: str,
    how: str = "inner",
) -> DataFrame:
    """Equi-join two bucketed catalog tables on their bucket keys.

    When both tables were written by `write_bucketed` with the same
    `n_buckets`, the physical plan is a sort-merge join with no
    Exchange on either side — the 100-TB shape where the join cost is
    the merge itself, not a cluster-wide shuffle.
    """
    left = spark.table(left_table)
    right = spark.table(right_table)
    return left.join(right, F.col(left_key) == F.col(right_key), how)
