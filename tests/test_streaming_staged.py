"""Contract tests for the staged fragment assembler (streaming_staged.py).

Documents arrive as interleaved fragments scattered across micro-batch
files — duplicate deliveries, fragments straddling micro-batches, and
one doc whose tail fragment only lands after a stop/restart. Each doc
must emit exactly once, when complete, span-sequence identical to the
batch kernel run on the intact corpus.
"""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException

from extraction.corpus import gen_doc
from extraction.oracle import extract_doc
from extraction.schema import FRAGMENTS_SCHEMA
from extraction.streaming_staged import start_staged_assembly

N_DOCS = 60  # covers all corpus families (i % 100 < 60): text, media, mixed


def _fragments():
    """Deterministic fragmentation: doc i splits into 1 + i%4 contiguous
    chunks; fragment (i, f) is assigned to file (i + 2*f) % 5 so the
    fragments of every multi-fragment doc straddle micro-batches."""
    files = [[] for _ in range(5)]
    for i in range(N_DOCS):
        doc_id, spans = gen_doc(i)
        n_frags = 1 + i % 4
        cuts = [round(len(spans) * f / n_frags) for f in range(n_frags + 1)]
        for f in range(n_frags):
            row = (doc_id, f, n_frags, spans[cuts[f] : cuts[f + 1]])
            files[(i + 2 * f) % 5].append(row)
            if (i + f) % 7 == 0:  # at-least-once: duplicate delivery
                files[(i + 2 * f + 3) % 5].append(row)
    return files


def _run(spark, src, work):
    q = start_staged_assembly(
        spark.readStream.schema(FRAGMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        work,
    )
    q.awaitTermination(300)


def _collect(spark, work):
    rows = (
        spark.read.option("basePath", os.path.join(work, "out"))
        .parquet(os.path.join(work, "out"))
        .select("doc_id", "spans")
        .collect()
    )
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]
        ]
        for r in rows
    }
    assert len(rows) == len(got), "a doc emitted more than once"
    return got


def _out_rows(work):
    """Rows committed under out/, counted from the part files themselves
    (a failed batch may leave a partition dir holding only _temporary)."""
    parts = glob.glob(os.path.join(work, "out", "batch=*", "part-*.parquet"))
    return sum(pq.ParquetFile(p).metadata.num_rows for p in parts)


def test_staged_assembly_matches_batch_kernel(spark, tmp_path):
    files = _fragments()
    src = str(tmp_path / "frags")
    work = str(tmp_path / "work")

    held_doc, _ = gen_doc(3)
    held = [r for f in files for r in f if r[0] == held_doc and r[1] == 3]
    assert len(held) == 1
    files = [
        [r for r in f if not (r[0] == held_doc and r[1] == 3)] for f in files
    ]

    for chunk in files:
        spark.createDataFrame(chunk, FRAGMENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    _run(spark, src, work)  # phase 1

    got1 = _collect(spark, work)
    assert held_doc not in got1, "incomplete doc must not emit"
    assert len(got1) == N_DOCS - 1

    # no write amplification: every fragment row lands in staging
    # exactly once per DELIVERY (an open doc's payload is never rewritten)
    staged = spark.read.option(
        "basePath", os.path.join(work, "staging")
    ).parquet(os.path.join(work, "staging"))
    n_deliveries = sum(len(f) for f in files)
    assert staged.count() == n_deliveries

    # phase 2: the held fragment lands; restart from the stream checkpoint
    spark.createDataFrame(held, FRAGMENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run(spark, src, work)

    got = _collect(spark, work)
    assert len(got) == N_DOCS, "every doc emits exactly once when complete"

    for i in range(N_DOCS):
        doc_id, spans = gen_doc(i)
        want = [
            (s["kind"], s["text"], s["media_ref"], o)
            for o, s in enumerate(extract_doc(spans))
        ]
        got_sorted = sorted(got[doc_id], key=lambda t: t[3])
        assert got_sorted == want, f"span-sequence mismatch for {doc_id}"


def test_staged_batch_replay_is_idempotent(spark, tmp_path):
    """Crash-replay seam: re-running an already-committed batch's
    foreachBatch body (out written, ledger written, checkpoint lost)
    must overwrite to the identical result — no duplicate emission, no
    loss. Simulated by wiping the checkpoint and re-running the stream."""
    src = str(tmp_path / "frags")
    work = str(tmp_path / "work")
    doc_id, spans = gen_doc(7)
    cut = len(spans) // 2
    rows = [(doc_id, 0, 2, spans[:cut]), (doc_id, 1, 2, spans[cut:])]
    spark.createDataFrame(rows, FRAGMENTS_SCHEMA).coalesce(1).write.parquet(src)

    _run(spark, src, work)
    got1 = _collect(spark, work)
    assert set(got1) == {doc_id}

    # replay: wipe the checkpoint so the SAME source files re-process as
    # fresh batches against the existing staging/ledger/out dirs
    shutil.rmtree(os.path.join(work, "ckpt"))
    _run(spark, src, work)
    got2 = _collect(spark, work)
    assert got2 == got1, "replayed batches must not duplicate or drop docs"


def test_staged_post_completion_redelivery_swallowed(spark, tmp_path):
    """A fragment redelivered AFTER its doc completed and emitted must
    not re-emit the doc (the ledger anti-join is the tombstone here)."""
    src = str(tmp_path / "frags")
    work = str(tmp_path / "work")
    doc_id, spans = gen_doc(11)
    row = (doc_id, 0, 1, spans)
    spark.createDataFrame([row], FRAGMENTS_SCHEMA).coalesce(1).write.parquet(src)
    _run(spark, src, work)
    assert set(_collect(spark, work)) == {doc_id}

    # redelivery in a later batch
    spark.createDataFrame([row], FRAGMENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run(spark, src, work)
    got = _collect(spark, work)
    assert set(got) == {doc_id}
    # and the out table holds exactly one copy (the _collect uniqueness
    # assert would fire on a doc_id-level dup; batch-level dirs can't
    # hide one because every batch overwrote its own partition)
    assert _out_rows(work) == 1


def test_staged_corrupt_ledger_fails_instead_of_reemitting(spark, tmp_path):
    """An unreadable ledger must fail the batch. Read as an empty ledger,
    the anti-join would re-emit every doc it already emitted."""
    src = str(tmp_path / "frags")
    work = str(tmp_path / "work")
    doc_id, spans = gen_doc(13)
    row = (doc_id, 0, 1, spans)
    spark.createDataFrame([row], FRAGMENTS_SCHEMA).coalesce(1).write.parquet(src)
    _run(spark, src, work)
    assert set(_collect(spark, work)) == {doc_id}

    parts = glob.glob(os.path.join(work, "ledger", "batch=*", "part-*.parquet"))
    assert parts
    for p in parts:
        with open(p, "r+b") as f:
            f.truncate(os.path.getsize(p) // 2)
        crc = os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc")
        if os.path.exists(crc):
            os.remove(crc)

    spark.createDataFrame([row], FRAGMENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    with pytest.raises(StreamingQueryException):
        _run(spark, src, work)
    assert _out_rows(work) == 1, "corrupt ledger must not re-emit a doc"
