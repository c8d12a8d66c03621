#!/usr/bin/env python3
"""Self-test of the benchmark harness at toy sizes (about two minutes).

    python3 perfbench/selftest.py

Runs each workload, untraced and traced, on a few hundred docs and a
handful of contract queries in one Spark session, and asserts that:

- every metric BENCHMARK.json names is emitted, with its unit, and the
  gate passes on the program's own outputs;
- the gate reports a nonzero failed_frac on deliberately corrupted
  copies of the job's output (a dropped row; one span's text changed in
  a doc outside the oracle sample), and on a contract query whose
  oracle hash is wrong.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run as bench

TOY = {
    "mixed_job": {
        **bench.WORKLOADS["mixed_job"], "docs": 300, "buckets": 8, "per_commit": 4,
        "contract_queries": ["q2_interval_merge", "text_quality", "multimodal_features"],
    },
    "text_extract": {**bench.WORKLOADS["text_extract"], "docs": 300},
}


def check_metrics(result: dict, want: dict[str, str], label: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise AssertionError(f"{label}: metrics {sorted(got.items())} != BENCHMARK.json {sorted(want.items())}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise AssertionError(f"{label}: gate failed on the program's own output: {result}")


def corrupt_copy(src: str, dst: str, keep: set[str] | None = None) -> None:
    """Copy a job output and corrupt one of its files: drop its first row
    or, given the doc ids to ``keep`` intact, change the text of the first
    span of a doc outside them (every row stays)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    victim = next(
        os.path.join(root, n)
        for root, _, names in sorted(os.walk(dst))
        for n in sorted(names)
        if n.endswith(".parquet") and pq.read_metadata(os.path.join(root, n)).num_rows > 0
    )
    table = pq.read_table(victim)
    if keep is None:
        table = table.slice(1)
    else:
        rows = table.to_pylist()
        row = next(r for r in rows if r["doc_id"] not in keep and r["spans"])
        row["spans"][0]["text"] = (row["spans"][0]["text"] or "") + " corrupted"
        table = pa.Table.from_pylist(rows, schema=table.schema)
    pq.write_table(table, victim)
    # Hadoop's local file system would reject the file on its stale checksum
    crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def main() -> int:
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}

    work = os.path.join(bench.WORK, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    cache = os.path.join(work, "cache")
    os.makedirs(cache)
    bench.configure_env(work)
    os.chdir(work)
    cores = len(os.sched_getaffinity(0))

    session = None
    try:
        for workload, cfg in TOY.items():
            for trace in (False, True):
                run = bench.Run(workload, cfg, 7, 0, cores, work)
                run.prepare(cache, trace)
                if session is None:
                    run.start()
                    session = run
                run.spark, run.rest = session.spark, session.rest
                run.session_s, run.cpu0 = session.session_s, session.cpu0
                values = run.layers(1.0) if trace else run.measure()
                check_metrics(bench.result_line(run, values, trace), per_layer if trace else e2e,
                              f"{workload} trace={int(trace)}")
                print(f"ok  {workload} trace={int(trace)}: every metric emitted, gate passed")

        # the gate must catch a corrupted job output: a dropped row, and a
        # changed span that the oracle sample does not see
        from extraction.corpus import gen_doc
        from gate import sample_indices

        run = bench.Run("mixed_job", TOY["mixed_job"], 7, 0, cores, work)
        run.prepare(cache, trace=True)
        run.spark, run.rest = session.spark, session.rest
        run.one_pass(0)
        sampled = {gen_doc(i, run.seed, run.corpus["heavy_spans"])[0] for i in sample_indices(run.indices, run.seed)}
        bad_dir = os.path.join(work, "out_corrupt")
        for what, keep in (("dropped row", None), ("changed span outside the sample", sampled)):
            run.attempted = run.failed = 0
            run.notes.clear()
            corrupt_copy(run.pass_dirs(0)[0], bad_dir, keep)
            run.gate(1, bad_dir)
            if not run.failed:
                raise AssertionError(f"gate passed a job output with a {what}")
            print(f"ok  job output with a {what}: failed_frac {run.failed / run.attempted:.3f} ({run.notes[0]})")

        # ... and a contract query whose value differs from its oracle
        run.attempted = run.failed = 0
        run.expected["text_quality"] = "0" * 64
        run.contract_pass()
        if run.failed != 1:
            raise AssertionError(f"gate counted {run.failed} failed queries, want 1")
        print(f"ok  wrong oracle hash: failed_frac {run.failed / run.attempted:.3f}")
    finally:
        if session is not None:
            session.stop()
    shutil.rmtree(work, ignore_errors=True)
    print("SELFTEST PASS")
    return 0


if __name__ == "__main__":
    sys.exit(main())
