#!/usr/bin/env python
"""Streaming-path throughput: staged assembly + extraction vs one-shot
batch over IDENTICAL fragment input — the "streaming tax", measured.

The streaming family has exact-equality correctness coverage
(tests/test_streaming_staged.py, tests/test_streaming_soak.py) but no
performance evidence; this closes that gap. Protocol is a
self-controlled sandwich: batch-a -> streaming -> batch-b inside ONE
session on one corpus, so the streaming/batch ratio is judged against
the batch legs' own spread rather than an absolute number a
noisy-neighbor host can't hold still (BENCH/BASELINE.md measurement
protocol note).

Input: every doc split into two fragments at the span midpoint (the
soak test's shape), written across --files parquet files so fragments
of one doc land in DIFFERENT micro-batches and the assembly seam does
real cross-batch work. The batch leg runs the SAME assembly operator
(assemble_completed) + kernel over the same files in one pass; the
streaming leg replays it as availableNow micro-batches through
start_staged_assembly (staging + ledger + exactly-once emission).

Verification before any number is accepted: the streaming output's
(doc_id, spans) content-hash must equal the batch leg's, and a
pure-Python-oracle spot check (extraction.oracle.extract_doc) runs on
--sample evenly-spaced docs. A throughput artifact can never come from
a run that produced wrong spans.

Scale note (the honest ledger, quantified here): each micro-batch's
completion check footer-scans the whole plain-parquet staging table
(streaming_staged.py module doc) — the per-batch walls in the artifact
show whether that rescan bends the curve at this corpus size;
production staging is an Iceberg table bucketed by hash(doc_id), which
turns the rescan into touched-bucket pruning.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SRC = os.path.join(REPO, "src")
sys.path.insert(0, SRC)
os.environ["PYTHONPATH"] = SRC + os.pathsep + os.environ.get("PYTHONPATH", "")


def membw_gbps() -> float:
    """Median-of-5 memcpy bandwidth (GB/s) on a 200 MB buffer — the
    cheap discriminator for a host's invisible memory-bandwidth
    contention, recorded around each leg."""
    import numpy as np

    buf = np.zeros(200_000_000, dtype=np.uint8)
    buf.fill(1)
    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        c = buf.copy()
        walls.append(time.perf_counter() - t0)
        del c
    return round(0.2 / statistics.median(walls), 2)


def _fragments(docs, n_files: int):
    from pyspark.sql import functions as F

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
    # round-robin repartition: a doc's two fragments land in different
    # files with high probability -> cross-micro-batch assembly is real
    return f1.unionAll(f2).repartition(n_files)


def _content_hash(spark, df):
    """Order-insensitive content hash over (doc_id, spans)."""
    from pyspark.sql import functions as F

    return (
        df.select(
            F.xxhash64(
                "doc_id", F.to_json(F.struct("spans"))
            ).alias("h")
        )
        .agg(
            F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("n"),
        )
        .first()
    )


def _batch_leg(spark, src: str, out: str):
    from extraction.pipeline import extract
    from extraction.streaming_staged import assemble_completed

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.monotonic()
    staged = spark.read.parquet(src)
    cand = staged.select("doc_id").distinct()
    extract(assemble_completed(staged, cand)).write.mode(
        "overwrite"
    ).parquet(out)
    return round(time.monotonic() - t0, 2)


def _stream_leg(spark, src: str, work: str, files_per_trigger: int):
    from extraction.schema import FRAGMENTS_SCHEMA
    from extraction.streaming_staged import start_staged_assembly

    shutil.rmtree(work, ignore_errors=True)
    t0 = time.monotonic()
    q = start_staged_assembly(
        spark.readStream.schema(FRAGMENTS_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src),
        work,
        run_extract=True,
    )
    q.awaitTermination(3600)
    wall = round(time.monotonic() - t0, 2)
    # recentProgress is capped; count ledger partitions instead
    ledger = os.path.join(work, "ledger")
    n_batches = len(
        [d for d in os.listdir(ledger) if d.startswith("batch=")]
    )
    return wall, n_batches


def _oracle_spot(spark, out_glob: str, n_docs: int, sample: int) -> int:
    from pyspark.sql import functions as F

    from extraction.corpus import gen_doc
    from extraction.oracle import extract_doc

    step = max(1, n_docs // sample)
    ids = [gen_doc(i)[0] for i in range(0, n_docs, step)]
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in r["spans"]
        ]
        for r in spark.read.parquet(out_glob)
        .filter(F.col("doc_id").isin(ids))
        .collect()
    }
    mismatches = 0
    for i in range(0, n_docs, step):
        did, spans = gen_doc(i)
        want = [
            (s["kind"], s["text"], s["media_ref"], o)
            for o, s in enumerate(extract_doc(spans))
        ]
        if got.get(did, []) != want:
            mismatches += 1
    return mismatches


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--docs", type=int, default=240_000)
    p.add_argument("--cores", type=int, default=8)
    p.add_argument("--files", type=int, default=32)
    p.add_argument("--files-per-trigger", type=int, default=4)
    p.add_argument("--sample", type=int, default=100)
    p.add_argument("--workdir", default="/dev/shm/extraction_streaming")
    p.add_argument("--out", default=os.path.join(
        REPO, "BENCH", "streaming_throughput.json"))
    a = p.parse_args()

    from extraction.corpus import corpus_df
    from extraction.job import build_session

    spark = build_session(f"local[{a.cores}]", a.cores * 4,
                          app="streaming-bench")
    src = os.path.join(a.workdir, f"frags_{a.docs}_{a.files}")
    try:
        if not os.path.exists(os.path.join(src, "_SUCCESS")):
            _fragments(
                corpus_df(spark, a.docs, slices=64), a.files
            ).write.mode("overwrite").parquet(src)

        legs = {}
        bw = {"start": membw_gbps()}
        # warmup (untimed): one full batch pass primes codegen + JIT
        _batch_leg(spark, src, os.path.join(a.workdir, "out_warm"))
        legs["batch_a"] = _batch_leg(
            spark, src, os.path.join(a.workdir, "out_ba"))
        bw["after_batch_a"] = membw_gbps()
        stream_wall, n_batches = _stream_leg(
            spark, src, os.path.join(a.workdir, "stream"),
            a.files_per_trigger)
        bw["after_stream"] = membw_gbps()
        legs["batch_b"] = _batch_leg(
            spark, src, os.path.join(a.workdir, "out_bb"))
        bw["after_batch_b"] = membw_gbps()

        # ---- verification gates ----
        h_batch = _content_hash(
            spark, spark.read.parquet(os.path.join(a.workdir, "out_ba")))
        stream_out = os.path.join(a.workdir, "stream", "out")
        h_stream = _content_hash(spark, spark.read.parquet(stream_out))
        identical = (h_batch["s"] == h_stream["s"]
                     and h_batch["n"] == h_stream["n"] == a.docs)
        mismatches = _oracle_spot(spark, stream_out, a.docs, a.sample)

        batch_dps = [round(a.docs / legs[k], 1) for k in
                     ("batch_a", "batch_b")]
        stream_dps = round(a.docs / stream_wall, 1)
        artifact = {
            "mode": "streaming-vs-batch sandwich (one session, one corpus)",
            "docs": a.docs,
            "cores": a.cores,
            "fragments": a.docs * 2,
            "files": a.files,
            "files_per_trigger": a.files_per_trigger,
            "micro_batches": n_batches,
            "batch_walls_sec": [legs["batch_a"], legs["batch_b"]],
            "batch_docs_per_sec": batch_dps,
            "stream_wall_sec": stream_wall,
            "stream_docs_per_sec": stream_dps,
            "streaming_over_batch": round(
                stream_dps / statistics.mean(batch_dps), 3),
            "batch_legs_spread": round(
                abs(batch_dps[0] - batch_dps[1])
                / statistics.mean(batch_dps), 3),
            "outputs_identical": bool(identical),
            "oracle_sampled_docs": a.sample,
            "oracle_mismatches": mismatches,
            "membw_gbps": bw,
            "cmdline": vars(a),
        }
        if not identical or mismatches:
            artifact["INVALID"] = ("output mismatch — numbers above are "
                                   "not evidence")
        with open(a.out, "w") as f:
            json.dump(artifact, f, indent=1)
        print(json.dumps(artifact))
        return 0 if identical and not mismatches else 1
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
