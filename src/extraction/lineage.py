"""Checkpoint/lineage protocol: per-partition commits + idempotent resume.

The reference's only resume mechanism is TF training checkpoints
(src/train_detector.py:185-189,241-242 — restore latest and continue);
extraction itself recomputes everything on rerun. Here every committed
*bucket group* (a deterministic range of pmod(xxhash64(doc_id), B)
buckets) writes its output plus one lineage row per bucket; a restarted
run anti-joins the lineage table and processes only uncommitted buckets
(SURVEY.md §4 "resume" row, FIXTURES.md §3 schema).

Lineage counts ride along on passes that already happen. One
``groupBy(partition_id)`` pre-pass per run yields each pending bucket's
input stats (hash range, input rows, spans in, heavy docs); an
``Observation`` on the bucket write yields its output counts (rows, docs
ok/empty, spans out). The driver builds a row for every bucket of the
group, empty ones included, from those two dicts: no read-back of the
committed files and no join.

Only the kernel needs Python, and every Python task costs ~0.2 s of CPU
in set-up before it reads a row. So each group gets as many kernel
partitions as its span mass needs (``pipeline.group_partitions``: whole
waves of cores, ~64k spans a task, at most ``num_partitions``; the
pre-pass already holds every bucket's ``spans_in``), and the lineage
rows go to Spark as an Arrow table, a local scan, never as a list of
rows parallelized through Python tasks.

Sinks dispatch through ``catalog.py``: an output/lineage ref of the form
``table:cat.db.name`` commits via Iceberg ``writeTo`` (overwritePartitions
for bucket groups — one atomic snapshot per commit — and append for
lineage rows); any other ref is a hive-style parquet path (this sandbox
has no Iceberg jars, so that branch is what the tests drive). Both are
append-only and idempotent at bucket granularity: output is partitioned
by bucket, so a re-executed uncommitted bucket overwrites only its own
buckets (dynamic overwrite), never touching committed data.

At 10^12-doc scale the docs table is partitioned/bucketed by the same
hash, so each bucket-group filter prunes to its own files instead of
rescanning the corpus.
"""

from __future__ import annotations

import datetime
import time

import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .catalog import MISSING_SINK, append_rows, overwrite_buckets, read_back
from .pipeline import (
    HEAVY_SPAN_THRESHOLD,
    group_partitions,
    is_spread,
    partition_index_salts,
    run_extraction,
    with_partition_id,
)
from .schema import LINEAGE_SCHEMA

LINEAGE_ARROW = to_arrow_schema(LINEAGE_SCHEMA)


def committed_buckets(spark: SparkSession, lineage_path: str, run_id: str) -> set[int]:
    """Buckets already committed for ``run_id``. Only a missing lineage
    path or table reads as "nothing committed" (first run); an unreadable
    lineage raises, since resuming past it would recompute and re-commit
    every bucket."""
    try:
        rows = (
            read_back(spark, lineage_path, LINEAGE_SCHEMA)
            .filter(F.col("run_id") == run_id)
            .select("partition_id")
            .collect()
        )
    except AnalysisException as e:
        if e.getCondition() not in MISSING_SINK:
            raise
        return set()
    return {r.partition_id for r in rows}


def run_with_lineage(
    spark: SparkSession,
    docs: DataFrame,
    output_path: str,
    lineage_path: str,
    run_id: str,
    num_buckets: int = 64,
    buckets_per_commit: int = 16,
    num_partitions: int | None = None,
    snapshot_id: int = 0,
    fail_after_commits: int | None = None,
) -> None:
    """Extract with per-bucket-group commits; resumes past committed work.

    ``num_partitions`` is an upper bound per commit group: each group's
    kernel runs on ``group_partitions(num_partitions, spans, cores)``
    partitions. ``fail_after_commits`` injects a crash after k commits
    (resume tests).
    """
    done = committed_buckets(spark, lineage_path, run_id)
    docs_b = with_partition_id(docs, num_buckets)
    pending = docs_b.filter(~F.col("partition_id").isin(sorted(done))) if done else docs_b
    # ONE input pass per run yields every pending bucket's lineage input
    # stats and the heavy-tier row counts that gate the skew-aware
    # repartition of each group
    nspans = F.size("spans")
    in_stats = {
        r.partition_id: r.asDict()
        for r in pending.groupBy("partition_id")
        .agg(
            F.min(F.xxhash64("doc_id")).alias("min_hash"),
            F.max(F.xxhash64("doc_id")).alias("max_hash"),
            F.count("*").alias("input_rows"),
            F.sum(nspans).alias("spans_in"),
            F.count_if(nspans > HEAVY_SPAN_THRESHOLD).alias("heavy_docs"),
        )
        .collect()
    }

    cores = spark.sparkContext.defaultParallelism
    commits = 0
    for lo in range(0, num_buckets, buckets_per_commit):
        hi = min(lo + buckets_per_commit, num_buckets)
        todo = [b for b in range(lo, hi) if b not in done]
        if not todo:
            continue
        t0 = time.monotonic()
        stats = [in_stats.get(b, {}) for b in todo]
        heavy = sum(s.get("heavy_docs", 0) for s in stats)
        group = docs_b.filter(F.col("partition_id").isin(todo)).select("doc_id", "spans")
        k = num_partitions
        if num_partitions:
            k = group_partitions(num_partitions, sum(s.get("spans_in") or 0 for s in stats), cores)
            # light docs over a spread scan run on the scan's splits, no
            # shuffle; each group's filter keeps the whole input's splits,
            # which can outnumber k, so merge them into k tasks (a
            # coalesce is narrow, and leaves the scan spread for k)
            if not heavy and is_spread(group, num_partitions):
                group = group.coalesce(k)
        extracted = run_extraction(group, num_partitions=k, heavy_docs_hint=heavy)
        # cluster the output on the bucket key before the hive-partitioned
        # write: without this every kernel task writes a file into every
        # bucket directory (tasks × buckets small files) and the driver's
        # sequential commit renames dominate wall time — measured 40 s of
        # a 60 s job at 64 kernel partitions × 64 buckets. One extra
        # shuffle of the (smaller) extracted output buys one file per
        # bucket and O(buckets) commit work: the standard bucketed-table
        # write discipline at scale.
        # repartition(k, partition_id) with k distinct bucket values
        # hash-COLLIDES (some tasks write 2-3 buckets, others idle —
        # the same defect tools/skew_balance.py measured on the kernel
        # path), so each bucket is routed to its exact write task via
        # the murmur3-inverse salt table
        wsalts = partition_index_salts(spark, max(1, len(todo)))
        bucket_salt = F.create_map(
            *[
                x
                for i, b in enumerate(todo)
                for x in (F.lit(b), F.lit(int(wsalts[i])))
            ]
        )
        routed = (
            with_partition_id(extracted, num_buckets)
            .withColumn("__wsalt", bucket_salt[F.col("partition_id")])
            .repartition(max(1, len(todo)), F.col("__wsalt"))
            .drop("__wsalt")
        )
        # the output counts are observed AFTER the routing shuffle, in the
        # write's result stage: Spark applies each successful task's
        # metric update once, and the write itself is the only pass
        pid, n = F.col("partition_id"), F.size("spans")
        counts = {"output_rows": F.lit(True), "docs_ok": n > 0, "docs_empty": n == 0}
        obs = Observation()
        out = routed.observe(
            obs,
            *[F.count_if((pid == b) & c).alias(f"{k}_{b}") for b in todo for k, c in counts.items()],
            *[F.sum(F.when(pid == b, n)).alias(f"spans_out_{b}") for b in todo],
        )
        # data first, lineage second: a crash between the two re-executes
        # the bucket (dynamic overwrite of the same subdirs — idempotent),
        # and a failed write raises before the observation is read
        overwrite_buckets(out, output_path, "partition_id")
        got = obs.get
        common = {
            "run_id": run_id,
            "snapshot_id": snapshot_id,
            "wall_ms": int((time.monotonic() - t0) * 1000),
            "committed_at": datetime.datetime.now(datetime.timezone.utc),
        }
        rows = [
            {
                **common,
                "partition_id": b,
                "min_hash": s.get("min_hash"),
                "max_hash": s.get("max_hash"),
                "input_rows": s.get("input_rows", 0),
                "spans_in": s.get("spans_in") or 0,
                **{k: got.get(f"{k}_{b}") or 0 for k in (*counts, "spans_out")},
            }
            for b, s in zip(todo, stats)
        ]
        table = pa.Table.from_pylist(rows, schema=LINEAGE_ARROW)
        append_rows(spark.createDataFrame(table, LINEAGE_SCHEMA), lineage_path)
        done.update(todo)
        commits += 1
        if fail_after_commits is not None and commits >= fail_after_commits:
            raise RuntimeError(f"injected failure after {commits} commits")
