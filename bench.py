#!/usr/bin/env python
"""Per-round benchmark harness (driver contract).

Runs every driver query from ``__spark_entry__`` against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may run
on) and prints ONE COMPACT JSON line::

    {"metric": ..., "value": N, "unit": "sec", "n_queries": ...,
     "sec_per_query": ..., "sf": ..., "extract": {...},
     "regressions": [...] | null, "queries_file": "BENCH/queries_rN.json"}

The stdout line is deliberately small (< 2000 chars): round 2's full
per-query map outgrew the driver's tail-capture window and the whole
line became unparseable (BENCH_r02.json ``parsed: null``). The
per-query second map — median-of-3 with every raw wall retained,
because run-to-run spread on a shared host is large — goes to
``BENCH/queries_r{round}.json``.

``extract`` is extraction docs/sec on the deterministic synthetic
corpus (read -> skew-aware repartition -> kernel -> noop), measured in
its own session at the same ``local[CPUS]``.

``regressions`` names the queries whose median rose more than
``REGRESSION_RATIO`` over the newest earlier round file measured at the
same sf and cpus, worst first; it is null when no such file exists. The
queries file holds the full list; the stdout copy is cut to fit.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
_SRC = os.path.join(_REPO, "src")
sys.path.insert(0, _REPO)  # __spark_entry__
sys.path.insert(0, _SRC)  # extraction package
# python workers inherit the JVM's env captured at session launch — set
# PYTHONPATH before any SparkSession is built (prod ships --py-files)
os.environ["PYTHONPATH"] = _SRC + os.pathsep + os.environ.get("PYTHONPATH", "")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
# extraction corpus size for the throughput measurement (docs)
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "120000"))
HEAVY_SPANS = int(os.environ.get("SPARK_GRAFT_BENCH_HEAVY_SPANS", "2000"))
# measured runs per query (after 1 warmup); median reported
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def _corpus_version() -> str:
    """Fingerprint of the corpus generator source (stale-cache guard)."""
    from extraction.fingerprint import source_fingerprint

    return source_fingerprint("corpus.py")


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.0


def build_session(cores: int, app: str):
    from extraction.job import build_session as _bs

    return _bs(f"local[{cores}]", shuffle_partitions=cores, app=app)


def _force(df) -> int:
    """Fully execute a DataFrame without driver-side materialization."""
    return df.write.format("noop").mode("overwrite").save() or 0


def run_queries(spark) -> dict[str, dict]:
    """Per-query timing: 1 warmup + ``REPEATS`` measured runs, median.

    Median-of-3 because single observations on this box are meaningless:
    round 2 recorded the four UNCHANGED embeddings queries at 10-20x
    their steady state (12-20 s vs 1.9-2.6 s measured the same day by
    tools/ann_recall.py) purely from neighbor contention. All raw walls
    are retained in the per-query file so an outlier window is visible
    instead of silently shaping the headline number."""
    import statistics

    import __spark_entry__ as entrymod

    # warmup: JVM/JIT + parquet footer caches, so query 1 isn't charged
    # session-startup cost
    for t in ("events", "documents", "embeddings"):
        spark.read.parquet(os.path.join(SF_DIR, f"{t}.parquet")).count()

    times: dict[str, dict] = {}
    for name, fn in entrymod.queries().items():
        # one unmeasured execution first: queries with large generated
        # expression trees (minhash fold, per-dimension cosine) pay
        # 5-12 s of one-time Janino/JIT compile on first run — measured
        # 2-3x inflation vs steady state. Production runs a query shape
        # repeatedly; the measured number is the steady-state one.
        _force(fn(spark, SF_DIR))
        runs = []
        for _ in range(REPEATS):
            t0 = time.monotonic()
            _force(fn(spark, SF_DIR))
            runs.append(round(time.monotonic() - t0, 3))
        times[name] = {"median": round(statistics.median(runs), 3), "runs": runs}
    return times


def _round_number() -> int:
    """Current driver round (PROGRESS.jsonl last line); 0 if unknown."""
    try:
        with open(os.path.join(_REPO, "PROGRESS.jsonl"), "rb") as f:
            last = f.readlines()[-1]
        return int(json.loads(last).get("round", 0))
    except Exception:
        return 0


# a query counts as regressed when its median rose by more than this
# factor over the previous comparable round
REGRESSION_RATIO = 1.3


def find_regressions(
    medians: dict[str, float],
    sf: float,
    cpus: int,
    round_no: int,
    records: dict[int, dict],
) -> list[str] | None:
    """Queries whose median rose more than ``REGRESSION_RATIO`` over the
    newest earlier round record (``records``: round -> queries file
    content) measured at the same ``sf`` and ``cpus``, worst first.
    None when no earlier record is comparable; a query the earlier
    record lacks is never flagged."""
    earlier = [
        k
        for k, rec in records.items()
        if k < round_no and rec.get("sf") == sf and rec.get("cpus") == cpus
    ]
    if not earlier:
        return None
    prev = records[max(earlier)]["queries"]
    ratios = {
        q: m / prev[q]["median"]
        for q, m in medians.items()
        if q in prev and m > REGRESSION_RATIO * prev[q]["median"]
    }
    return sorted(ratios, key=lambda q: (-ratios[q], q))


def _round_records() -> dict[int, dict]:
    """Every committed ``BENCH/queries_r{k}.json``, keyed by round k."""
    import re

    recs = {}
    bench_dir = os.path.join(_REPO, "BENCH")
    for name in os.listdir(bench_dir):
        m = re.fullmatch(r"queries_r(\d+)\.json", name)
        if m:
            with open(os.path.join(bench_dir, name)) as f:
                recs[int(m.group(1))] = json.load(f)
    return recs


def compact_line(out: dict) -> str:
    """``out`` as one JSON line of at most 1900 chars, to survive the
    driver's 2000-char tail capture: the inline regression list is
    cut from its least severe end (the full list is in the queries
    file)."""
    out = dict(out)
    line = json.dumps(out)
    while len(line) > 1900 and out.get("regressions"):
        out["regressions"] = out["regressions"][:-1]
        line = json.dumps(out)
    return line


def corpus_parquet(spark, n_docs: int) -> str:
    """Materialize the deterministic corpus once; reused across sessions.

    The input must come from storage, not a persisted DataFrame: a
    MEMORY_AND_DISK cache gets partially evicted by shuffle execution
    memory mid-measurement and silently re-runs corpus synthesis inside
    the measured window (observed as a 4x slowdown at local[32]).

    The cache path carries a fingerprint of corpus.py so a generator
    change can never silently reuse a stale corpus."""
    path = f"/dev/shm/bench_corpus_{n_docs}_{HEAVY_SPANS}_{_corpus_version()}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from extraction.corpus import corpus_df

        corpus_df(spark, n_docs, heavy_spans=HEAVY_SPANS, slices=128).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def measure_extraction(spark, n_docs: int) -> dict:
    """Docs/sec through read -> skew-aware repartition -> kernel.

    One unmeasured warmup pass strips JIT-compilation and Python-worker
    spawn cost from the measured window (a production job amortizes both
    over hours; a cold 20 s run does not)."""
    from extraction.pipeline import run_extraction
    from extraction.schema import DOCS_SCHEMA

    cores = spark.sparkContext.defaultParallelism
    path = corpus_parquet(spark, n_docs)
    # scan granularity: >= 4 tasks per core (the corpus is tens of MB;
    # the 128 MB default would scan it in ~2 tasks and measure
    # single-core parquet decode)
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes",
        str(max(1 << 20, _dir_bytes(path) // (cores * 4))),
    )
    docs = spark.read.schema(DOCS_SCHEMA).parquet(path)
    _force(run_extraction(docs, num_partitions=cores * 4))
    t0 = time.monotonic()
    _force(run_extraction(docs, num_partitions=cores * 4))
    wall = time.monotonic() - t0
    return {
        "docs": n_docs,
        "cores": cores,
        "wall_sec": round(wall, 3),
        "docs_per_sec": round(n_docs / wall, 1),
    }


def main() -> int:
    t_all = time.monotonic()
    spark = build_session(CPUS, "bench")
    try:
        qtimes = run_queries(spark)
    finally:
        spark.stop()

    # extraction throughput in its own session, fresh JVM so prior query
    # state can't leak in
    spark = build_session(CPUS, "bench-extract")
    try:
        extract = measure_extraction(spark, N_DOCS)
    finally:
        spark.stop()

    total = round(sum(q["median"] for q in qtimes.values()), 3)
    sf = _sf_of(SF_DIR)
    round_no = _round_number()
    regressions = find_regressions(
        {k: q["median"] for k, q in qtimes.items()},
        sf,
        CPUS,
        round_no,
        _round_records(),
    )
    # per-query map (medians + all raw walls) to its own file — round 2's
    # in-line map overflowed the driver's tail capture and the whole
    # stdout line was recorded unparseable
    qfile = os.path.join("BENCH", f"queries_r{round_no}.json")
    with open(os.path.join(_REPO, qfile), "w") as f:
        json.dump(
            {
                "sf": sf,
                "cpus": CPUS,
                "repeats_per_query": REPEATS,
                "stat": "median",
                "total_median_sec": total,
                "regressions": regressions,
                "queries": qtimes,
            },
            f,
            indent=1,
        )
    # the stdout line carries only the flagship medians inline; the full
    # map lives in queries_file
    flagships = {
        k: qtimes[k]["median"]
        for k in ("extract_pipeline", "extract_kind_stats")
        if k in qtimes
    }
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        # compare sec_per_query across rounds, not value: the query set
        # can change between rounds
        "n_queries": len(qtimes),
        "sec_per_query": round(total / max(1, len(qtimes)), 3),
        "per_query_stat": f"median_of_{REPEATS}",
        "queries": flagships,
        "queries_file": qfile,
        "sf": sf,
        "cpus": CPUS,
        "extract": extract,
        "regressions": regressions,
        "bench_wall_sec": round(time.monotonic() - t_all, 1),
    }
    print(compact_line(out))
    return 0

if __name__ == "__main__":
    sys.exit(main())
