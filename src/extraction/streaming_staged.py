"""Staged fragment assembly: interleaved fragment ingest -> complete docs,
each emitted exactly once, then the batch kernel.

At 10^12-doc scale documents do not arrive atomically: an interleaved
text+media document is written as FRAGMENTS (``schema.FRAGMENTS_SCHEMA``:
``doc_id, frag_id in [0, n_frags), n_frags, spans``) that land across
micro-batches, possibly more than once (at-least-once sources). The
batch pipeline needs one complete ``(doc_id, spans)`` row per doc. This
assembler closes that gap with NO state store:

- every fragment lands exactly once in a STAGING table
  (``staging/batch=<id>/``, idempotently overwritten per micro-batch, so
  a crashed re-run cannot double-land fragments). A fragment is written
  once per delivery; an open doc's payload is never rewritten, which is
  what a buffer-in-state design pays on every batch that touches it;
- completion detection is a per-batch aggregate over the staged
  fragments of ONLY the doc_ids seen in this batch (broadcast semi-join
  prune — a doc can only newly complete in a batch that delivers one of
  its fragments);
- an emitted-doc LEDGER (``ledger/batch=<id>/``) makes emission
  exactly-once: completed docs are anti-joined against every PRIOR
  batch's ledger before emitting. Excluding the CURRENT batch's ledger
  partition from the guard (and overwriting out/ledger per batch_id)
  makes the whole batch re-runnable: a crash between the output write
  and the ledger write replays to an identical overwrite instead of a
  duplicate or a loss. A ledger that cannot be read fails the batch; it
  never reads as empty, which would re-emit every prior doc.

Duplicate deliveries dedup at READ time (``first`` over identical
payloads grouped by (doc_id, frag_id) — the fragment contract says
redeliveries are byte-identical), both before and after completion (a
post-completion redelivery makes the doc complete again, and the ledger
anti-join swallows it).

Scale notes: the per-batch completion check reads the staging table
pruned by the batch's doc_id set. On plain parquet that is a
footer-scan of all staging files; production staging is an Iceberg
table bucketed by hash(doc_id) so the semi-join prunes to the touched
buckets, and the ledger is likewise a bucketed table. Stragglers that
never complete simply age in staging — dead-lettering is a
partition-age maintenance job instead of a state timeout, and emitting
a partial doc is never an option (output content would depend on
timing).

The reference has no streaming of any kind (batch over a closed image
directory); this is an engine extension per SURVEY.md §7.6.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import extract


def _read_or_empty(spark: SparkSession, path: str, schema_ddl: str) -> DataFrame:
    """Read a partitioned dir that may not exist yet (first batch).

    The schema is given, not inferred: inference samples one part file,
    so a corrupt file could read as an empty table. Only a missing path
    reads as empty; anything else raises."""
    try:
        return spark.read.schema(schema_ddl).option("basePath", path).parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame([], schema_ddl)


def assemble_completed(staged: DataFrame, cand_ids: DataFrame) -> DataFrame:
    """Assemble the COMPLETE docs among ``cand_ids`` from staged fragments.

    Dedup (doc_id, frag_id) first — at-least-once sources redeliver
    byte-identical fragments — then one aggregate both counts distinct
    fragments and restores fragment order with the same
    array_sort(collect_list(struct)) idiom as the batch S5 path
    (collect_list order is nondeterministic under shuffle; the sort on
    frag_id is what makes assembly order-exact)."""
    frags = (
        staged.join(F.broadcast(cand_ids), "doc_id", "left_semi")
        .groupBy("doc_id", "frag_id")
        .agg(F.first("n_frags").alias("n_frags"), F.first("spans").alias("spans"))
    )
    assembled = frags.groupBy("doc_id").agg(
        F.count("*").alias("seen"),
        F.max("n_frags").alias("n_frags"),
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("frag_id", "spans"))),
                lambda s: s["spans"],
            )
        ).alias("spans"),
    )
    return assembled.filter(F.col("seen") == F.col("n_frags")).select(
        "doc_id", "spans"
    )


def start_staged_assembly(frags: DataFrame, work_dir: str, run_extract: bool = True):
    """Start the staged assembly stream. Layout under ``work_dir``:
    staging/ (all fragments), ledger/ (emitted doc_ids), out/ (complete
    docs, extracted), ckpt/ (stream checkpoint). Returns the
    StreamingQuery; availableNow runs terminate normally (no state
    timers anywhere in this design)."""
    staging = os.path.join(work_dir, "staging")
    ledger = os.path.join(work_dir, "ledger")
    out = os.path.join(work_dir, "out")
    ckpt = os.path.join(work_dir, "ckpt")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # 1. land this batch's fragments, idempotently (re-run overwrites)
        batch.write.mode("overwrite").parquet(f"{staging}/batch={batch_id}")
        # 2. only docs touched by this batch can newly complete
        cand = (
            spark.read.parquet(f"{staging}/batch={batch_id}")
            .select("doc_id")
            .distinct()
        )
        staged = _read_or_empty(
            spark,
            staging,
            "doc_id string, frag_id int, n_frags int, "
            "spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>, batch bigint",
        ).drop("batch")
        completed = assemble_completed(staged, cand)
        # 3. exactly-once emission: anti-join against PRIOR batches'
        # ledger only — the current batch's own partition is excluded so
        # a crash-replay recomputes the identical overwrite
        prior = (
            _read_or_empty(spark, ledger, "doc_id string, batch bigint")
            .filter(F.col("batch") != F.lit(batch_id))
            .select("doc_id")
        )
        new_docs = completed.join(F.broadcast(prior), "doc_id", "left_anti")
        emitted = extract(new_docs) if run_extract else new_docs
        # 4. out BEFORE ledger; both per-batch overwrites (see module doc)
        emitted.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")
        new_docs.select("doc_id").write.mode("overwrite").parquet(
            f"{ledger}/batch={batch_id}"
        )

    return (
        frags.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
