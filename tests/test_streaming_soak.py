"""End-to-end streaming soak: the one seam the per-module suites don't
compose — staged assembler -> stop/restart -> kernel+lineage commit
with an injected crash -> resume — at 100k fragmented docs, asserting
exactly-once lineage rows and final-table span-sequence equality vs
the straight batch path over the same corpus.

Pieces individually covered elsewhere (test_streaming_staged.py,
test_lineage_resume.py); THIS test is the composed contract: fragments
that straddle the stream restart must assemble exactly once, the
assembled table must feed run_with_lineage through a crash-resume
without duplicating or dropping buckets, and the final committed table
must bit-equal run_extraction over the original docs.

~2-4 min at local[4]; the long pole of the suite by design (soak).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from extraction.corpus import corpus_df
from extraction.lineage import run_with_lineage
from extraction.pipeline import run_extraction
from extraction.schema import FRAGMENTS_SCHEMA
from extraction.streaming_staged import start_staged_assembly

N_DOCS = 100_000
BUCKETS = 16
PER_COMMIT = 4


def _fragments_df(docs):
    """Two fragments per doc: spans split at the midpoint. Column order
    and types must match FRAGMENTS_SCHEMA."""
    half = ((F.size("spans") + 1) / 2).cast("int")
    f1 = docs.select(
        "doc_id",
        F.lit(0).cast("int").alias("frag_id"),
        F.lit(2).cast("int").alias("n_frags"),
        F.slice("spans", F.lit(1), half).alias("spans"),
    )
    f2 = docs.select(
        "doc_id",
        F.lit(1).cast("int").alias("frag_id"),
        F.lit(2).cast("int").alias("n_frags"),
        F.slice("spans", half + 1, F.size("spans") - half).alias("spans"),
    )
    return f1.unionAll(f2)


def _run_stream(spark, src, work):
    q = start_staged_assembly(
        spark.readStream.schema(FRAGMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(src),
        work,
        run_extract=False,  # the kernel runs in the lineage stage below
    )
    q.awaitTermination(600)


def test_soak_stream_restart_then_lineage_resume(spark, tmp_path):
    src = str(tmp_path / "frags")
    work = str(tmp_path / "work")
    out_path = str(tmp_path / "final")
    lineage_path = str(tmp_path / "lineage")

    docs = corpus_df(spark, N_DOCS, slices=32).localCheckpoint(eager=True)
    frags = _fragments_df(docs)

    # phase 1 delivers every frag_id 0 plus frag_id 1 for 3/4 of docs;
    # the remaining quarter's closing fragment arrives only after the
    # stream restarts — 25k docs straddle the stop/restart seam
    straddle = F.xxhash64("doc_id") % 4 == 0
    frags.filter((F.col("frag_id") == 0) | ~straddle).repartition(5).write.mode(
        "append"
    ).parquet(src)
    _run_stream(spark, src, work)

    out_glob = os.path.join(work, "out")
    got1 = spark.read.option("basePath", out_glob).parquet(out_glob)
    n1 = got1.select("doc_id").distinct().count()
    assert got1.count() == n1, "a doc emitted twice in phase 1"
    assert n1 == docs.filter(~straddle).count()

    # phase 2: closing fragments land; restart from the checkpoint
    frags.filter((F.col("frag_id") == 1) & straddle).repartition(2).write.mode(
        "append"
    ).parquet(src)
    _run_stream(spark, src, work)

    assembled = (
        spark.read.option("basePath", out_glob)
        .parquet(out_glob)
        .select("doc_id", "spans")
    )
    assert assembled.count() == N_DOCS, "exactly-once emission across restart"
    assert assembled.select("doc_id").distinct().count() == N_DOCS

    # lineage stage over the assembled table: crash after 2 commit
    # groups, then resume; buckets already committed must not rerun
    with pytest.raises(RuntimeError):
        run_with_lineage(
            spark, assembled, out_path, lineage_path, run_id="soak",
            num_buckets=BUCKETS, buckets_per_commit=PER_COMMIT,
            fail_after_commits=2,
        )
    run_with_lineage(
        spark, assembled, out_path, lineage_path, run_id="soak",
        num_buckets=BUCKETS, buckets_per_commit=PER_COMMIT,
    )

    # exactly-once lineage: one row per bucket, all buckets present
    lin = spark.read.parquet(lineage_path).filter(F.col("run_id") == "soak")
    per_bucket = lin.groupBy("partition_id").count().collect()
    assert len(per_bucket) == BUCKETS
    assert all(r["count"] == 1 for r in per_bucket), "a bucket committed twice"

    # final-table equality vs the straight batch path, compared
    # distributively (no 100k-doc collect): flatten both sides to
    # (doc_id, order, kind, text, media_ref) and exceptAll both ways
    final = spark.read.option("basePath", out_path).parquet(out_path)
    flat_cols = [
        "doc_id",
        F.col("s.order").alias("order"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    ]
    got_flat = final.select("doc_id", F.explode("spans").alias("s")).select(*flat_cols)
    want_flat = (
        run_extraction(docs.select("doc_id", "spans"))
        .select("doc_id", F.explode("spans").alias("s"))
        .select(*flat_cols)
    )
    assert got_flat.count() == want_flat.count()
    assert got_flat.exceptAll(want_flat).count() == 0
    assert want_flat.exceptAll(got_flat).count() == 0
