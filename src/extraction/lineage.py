"""Checkpoint/lineage protocol: per-partition commits + idempotent resume.

The reference's only resume mechanism is TF training checkpoints
(src/train_detector.py:185-189,241-242 — restore latest and continue);
extraction itself recomputes everything on rerun. Here every committed
*bucket group* (a deterministic range of pmod(xxhash64(doc_id), B)
buckets) writes its output plus one lineage row per bucket; a restarted
run anti-joins the lineage table and processes only uncommitted buckets
(SURVEY.md §4 "resume" row, FIXTURES.md §3 schema).

Lineage counts ride along on passes that already happen. One
``groupBy(partition_id)`` pre-pass per run, which reads only
``spans.kind`` of the spans, yields each pending bucket's input stats
(hash range, input rows, spans in). The kernel's own tasks yield its
output counts (rows, docs ok/empty, spans out): the kernel input keeps
``partition_id``, and ``tally.extract_tally`` passes it through the
kernel and counts each bucket's output into one accumulator per group,
one entry per task partition, so a task Spark runs again replaces its
entry instead of adding to it. The driver builds a row for every bucket
of the group, empty ones included, from those two dicts: no read-back
of the committed files, no join and no aggregate in the write's plan.

The pre-pass also gives every bucket's exact span mass, so each group
places WHOLE buckets on its kernel tasks: ``pipeline.lpt`` packs the
buckets by ``spans_in`` onto ``group_partitions`` bins (whole waves of
cores, ~64k spans a task, at most one task per bucket and at most
``num_partitions``), and one ``repartition`` on the murmur3-inverse
salt table routes each bucket to its bin. The kernel's own tasks then
write their buckets, one file per bucket: one shuffle and one write
stage per group, and no heavy-doc guard scan. The one exception is a
group with fewer buckets than cores and more than ~64k spans a bucket,
where one task per bucket would leave cores idle through a long
kernel: it runs the kernel doc-level (``run_extraction``'s placement)
on its sized count, then shuffles to one write task per bucket. A Python
worker's first task costs ~0.2 s of CPU in set-up before it reads a row
(``zipcache``: later tasks on the same worker skip it), which is why the
task count follows the span mass, and why the lineage rows go to Spark
as an Arrow table (a local scan), never as a list of rows parallelized
through Python tasks. On the one-shuffle path a bucket is
the unit of placement: two enormous docs that hash to one bucket share
a kernel task.

Sinks dispatch through ``catalog.py``: an output/lineage ref of the form
``table:cat.db.name`` commits via Iceberg ``writeTo`` (overwritePartitions
for bucket groups — one atomic snapshot per commit — and append for
lineage rows); any other ref is a hive-style parquet path (this sandbox
has no Iceberg jars, so that branch is what the tests drive). Both are
append-only and idempotent at bucket granularity: output is partitioned
by bucket, so a re-executed uncommitted bucket overwrites only its own
buckets (dynamic overwrite), never touching committed data.

Each group filters ``partition_id`` over a column computed from
``xxhash64(doc_id)`` on the scan, so every group scans the whole input,
however that input is laid out on disk: no file is pruned.

A resume must run at the bucket count it was started with: bucket ``b``
under 8 buckets is a different set of docs from bucket ``b`` under 4.
Every lineage row records ``num_buckets``, and a resume whose committed
rows disagree (or predate the column) raises before it writes anything.
"""

from __future__ import annotations

import datetime
import time
from functools import partial

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .catalog import append_rows, overwrite_buckets, read_back, sink_exists
from .pipeline import (  # noqa: F401  run_extraction: perfbench times it by name
    TASK_SPANS,
    group_partitions,
    lpt,
    partition_index_salts,
    repartition_packed,
    run_extraction,
    with_partition_id,
)
from .schema import LINEAGE_SCHEMA
from .tally import COUNTS, TALLIED_SCHEMA, BucketTally, bucket_counts, extract_tally

LINEAGE_ARROW = to_arrow_schema(LINEAGE_SCHEMA)


def committed_buckets(
    spark: SparkSession,
    lineage_path: str,
    run_id: str,
    num_buckets: int | None = None,
    snapshot_id: int | None = None,
) -> set[int]:
    """Buckets already committed for ``run_id``. A lineage that was never
    written is a first run and is not read; an unreadable lineage raises,
    since resuming past it would recompute and re-commit every bucket.
    Given ``num_buckets``, a committed row under another bucket count, or
    under an unknown one (null), raises: its bucket ids name other docs,
    and resuming past them would drop docs without an error. Given
    ``snapshot_id``, a committed row over another input snapshot raises:
    the output would mix two versions of the input."""
    if not sink_exists(spark, lineage_path):
        return set()
    rows = (
        read_back(spark, lineage_path, LINEAGE_SCHEMA)
        .filter(F.col("run_id") == run_id)
        .select("partition_id", "num_buckets", "snapshot_id")
        .collect()
    )
    if num_buckets is not None:
        other = {r.num_buckets for r in rows} - {num_buckets}
        if other:
            raise ValueError(
                f"run {run_id!r} has buckets committed under num_buckets="
                f"{sorted(other, key=str)}; it cannot resume at num_buckets="
                f"{num_buckets}: resume at the count it started with, or start "
                f"a new run_id on an empty output"
            )
    if snapshot_id is not None:
        other = {r.snapshot_id for r in rows} - {snapshot_id}
        if other:
            raise ValueError(
                f"run {run_id!r} has buckets committed over input snapshot_id="
                f"{sorted(other, key=str)}; it cannot resume over snapshot_id="
                f"{snapshot_id}: resume over the snapshot it started with, or "
                f"start a new run_id on an empty output"
            )
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

    Each commit group sizes its kernel to ``k = group_partitions(cap,
    spans, cores)``, where ``cap`` is ``num_partitions``, or the larger
    of the group's bucket count and ``cores`` when unset. Its buckets go
    whole onto ``min(k, buckets)`` tasks, unless the group has fewer
    buckets than ``min(k, cores)`` and more than ``TASK_SPANS`` spans a
    bucket: then the kernel runs doc-level on k tasks and a second
    shuffle routes each bucket to its write task. A resume at another
    ``num_buckets`` than the run's committed rows raises before any
    write. ``snapshot_id`` is the input version stamped on every lineage
    row (job.py passes the table's, 0 for a parquet path); a resume over
    another one than the committed rows' raises before any write too.
    ``fail_after_commits`` injects a crash after k commits (resume tests).
    """
    done = committed_buckets(spark, lineage_path, run_id, num_buckets, snapshot_id)
    docs_b = with_partition_id(docs, num_buckets)
    pending = docs_b.filter(~F.col("partition_id").isin(sorted(done))) if done else docs_b
    # ONE input pass per run yields every pending bucket's lineage input
    # stats, and its span mass places the buckets of each group
    in_stats = {
        r.partition_id: r.asDict()
        for r in pending.groupBy("partition_id")
        .agg(
            F.min(F.xxhash64("doc_id")).alias("min_hash"),
            F.max(F.xxhash64("doc_id")).alias("max_hash"),
            F.count("*").alias("input_rows"),
            # the size of one leaf field is the span count: the pass reads
            # spans.kind, not whole spans
            F.sum(F.size("spans.kind")).alias("spans_in"),
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
        mass = {b: s.get("spans_in") or 0 for b, s in zip(todo, stats)}
        spans = sum(mass.values())
        k = group_partitions(num_partitions or max(len(todo), cores), spans, cores)
        # fewer buckets than cores, each carrying more than a task's worth
        # of spans, would leave cores idle through a long kernel (the
        # text_extract input as 2 buckets, 1 per commit, at local[4]:
        # 14-32% more wall): there the kernel runs doc-level on k tasks
        # and a second shuffle gives each bucket its one write task
        spread = len(todo) < min(k, cores) and spans > len(todo) * TASK_SPANS
        bins = len(todo) if spread else min(k, len(todo))
        # whole buckets onto the bins, each routed to its exact task by
        # the murmur3-inverse salt table (a plain hash of k or fewer
        # bucket values collides). Each bucket then sits in one task,
        # and the dynamic-partition writer writes one file per bucket. A
        # bucket spread over tasks would get a file per task, and the
        # driver's sequential commit renames then dominate (measured 40 s
        # of a 60 s job at 64 kernel partitions × 64 buckets)
        place = lpt(mass.items(), bins)
        salts = partition_index_salts(spark, bins)
        salt = F.create_map(*[x for b in todo for x in (F.lit(b), F.lit(int(salts[place[b]])))])
        group = docs_b.filter(F.col("partition_id").isin(todo)).select(
            "doc_id", "spans", "partition_id"
        )
        # the kernel's tasks count each bucket's output (tally.py); one
        # accumulator per group, read once its write has returned
        acc = spark.sparkContext.accumulator({}, BucketTally())
        kernel = partial(extract_tally, acc)
        if spread:
            extracted = (
                repartition_packed(group, k)
                .mapInArrow(kernel, TALLIED_SCHEMA)
                .repartition(bins, salt[F.col("partition_id")])
            )
        else:
            # the kernel's own tasks write: one shuffle, one write stage
            placed = group.repartition(bins, salt[F.col("partition_id")])
            extracted = placed.mapInArrow(kernel, TALLIED_SCHEMA)
        # data first, lineage second: a crash between the two re-executes
        # the bucket (dynamic overwrite of the same subdirs — idempotent),
        # and a failed write raises before the counts are read
        overwrite_buckets(extracted, output_path, "partition_id")
        counts = bucket_counts(acc.value)
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
                "num_buckets": num_buckets,
                "min_hash": s.get("min_hash"),
                "max_hash": s.get("max_hash"),
                "input_rows": s.get("input_rows", 0),
                "spans_in": s.get("spans_in") or 0,
                **dict(zip(COUNTS, counts.get(b, (0,) * len(COUNTS)))),
            }
            for b, s in zip(todo, stats)
        ]
        table = pa.Table.from_pylist(rows, schema=LINEAGE_ARROW)
        # one lineage file per commit: the local scan splits into a task
        # per core
        append_rows(spark.createDataFrame(table, LINEAGE_SCHEMA).coalesce(1), lineage_path)
        done.update(todo)
        commits += 1
        if fail_after_commits is not None and commits >= fail_after_commits:
            raise RuntimeError(f"injected failure after {commits} commits")
