"""spark-submit entry point.

Usage (north_rule: ships via --py-files; bench/package.sh builds the zip):

    spark-submit --master local[32] --driver-memory 12g \
        --driver-java-options "-XX:+UseParallelGC -XX:TieredStopAtLevel=1 -XX:GCTimeRatio=19" \
        --py-files dist/extraction.zip \
        src/extraction/job.py --input /path/docs_parquet \
        --output /path/extracted --lineage /path/lineage \
        --run-id run1 --buckets 64 --partitions 128

(--driver-memory and --driver-java-options must be on the spark-submit
command line: the JVM is launched before this file's SparkSession config
is read, so ``build_session``'s driver size and ``DRIVER_JAVA_OPTS`` only
reach JVMs that ``build_session`` itself launches. The job warns on
stderr when a flag of the policy is missing from the running JVM.)

``--partitions`` is an upper bound per commit group. Each group sizes
its kernel in whole waves of the cluster's cores of ~64k spans a task
(``pipeline.group_partitions``) and places whole buckets on those tasks,
at most one task per bucket, which then write their buckets. A group
with fewer buckets than cores whose buckets each carry more than ~64k
spans would leave cores idle, so it runs the kernel doc-level on the
sized count and shuffles once more to one write task per bucket. The
usage line above, with 16 buckets per commit on local[32], is that case
on the 240k-doc baseline corpus (~5.7M spans a group): 96 kernel tasks
a group, then 16 write tasks (unmeasured on a host that size).

``--gen N`` generates the deterministic synthetic corpus (corpus.py)
instead of reading ``--input`` (the crash/resume smoke run uses it). It
stages the corpus as parquet in the session's local temp dir, so it
runs where the driver and the executors share a file system (local
mode).
"""

from __future__ import annotations

import argparse
import contextlib
import os
import sys
import tempfile
import time

# The driver JVM's policy, measured on a 4-vCPU, 15 GB VM at local[4]:
# - UseParallelGC: G1 collapses under the Arrow JNI critical sections
#   (GCLocker retry storms) at high task concurrency; throughput-oriented
#   ParallelGC is ~3x faster for this batch workload.
# - TieredStopAtLevel=1 (C1 only): C2 compiling Spark's own code was 37 s
#   of a 62 s cold pass of the perfbench mixed_job job, and a job run is
#   one cold pass. C1 compiles in a fraction of that.
# - GCTimeRatio=19 (a 5% GC-time goal): C1 code has no escape analysis
#   and allocates more, and ParallelGC grows eden to meet its default 1%
#   goal: C1 alone raised peak committed eden 802 -> 1192 MiB and peak
#   RSS by 16-19%. A ratio, not a size, so it carries to larger hosts.
# Together, over 10 alternating perfbench pairs against ParallelGC with
# the default tiered JIT: mixed_job CPU per 1000 docs 9.1 -> 5.8 s,
# session set-up -41%, peak RSS -12%; text_extract, whose measured
# passes are warm, set-up -33%, peak RSS -7%, CPU per 1000 docs +7%
# (inside the run-to-run spread). Long, JVM-heavy sessions pay for C1's
# slower code: tools/compare_oracle.py (109 queries, one session) ran
# 14% and 61% slower in two pairs.
DRIVER_JAVA_OPTS = "-XX:+UseParallelGC -XX:TieredStopAtLevel=1 -XX:GCTimeRatio=19"


def driver_java_opts() -> str:
    """The driver JVM's flags: ``EXTRACTION_DRIVER_JAVA_OPTS`` when set,
    else ``DRIVER_JAVA_OPTS``."""
    return os.environ.get("EXTRACTION_DRIVER_JAVA_OPTS", DRIVER_JAVA_OPTS)


CGROUP_MEM_LIMITS = ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes")


def host_mem_bytes(limit_files: tuple[str, ...] = CGROUP_MEM_LIMITS) -> int:
    """RAM this process may use: the first cgroup memory limit found
    (v2, then v1) when it is below physical RAM, else physical RAM."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in limit_files:
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            return min(int(limit), phys)
    return phys


def driver_mem_mb(host_bytes: int) -> int:
    """Driver heap: a quarter of host RAM, capped at 12g, so the JVM's
    off-heap, the Python workers and the page cache fit beside it."""
    return min(12 * 1024, host_bytes // 4 // 2**20)


def jvm_flags_missing(input_args: list[str], policy: str) -> list[str]:
    """The flags of ``policy`` that the JVM was not launched with."""
    return [f for f in policy.split() if f not in input_args]


def jvm_counters(spark) -> dict[str, float]:
    """Seconds the driver JVM spent, since launch, in the JIT compilers
    and in garbage collection (``CompilationMXBean`` and the
    ``GarbageCollectorMXBean`` times, read through py4j)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans())
    return {
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000,
        "gc_s": gc_ms / 1000,
    }


def build_session(master: str | None, shuffle_partitions: int, app: str = "extraction"):
    from pyspark.sql import SparkSession

    # Allocator split, measured on this box (6-iteration A/B, exp12):
    # - JVM (driver env, set before launch): keep 64 MB Tungsten pages on
    #   the retained glibc heap instead of mmap/munmap per alloc — every
    #   munmap IPIs all task threads (TLB shootdown).
    # - Python workers (spark.executorEnv.*, overrides the inherited JVM
    #   env): jemalloc Arrow pool + stock glibc thresholds. The previous
    #   "system pool + retention" setting made worker RSS grow without
    #   bound (fragmented main arena under alternating 100 MB Arrow /
    #   NumPy allocations) and kernel time per worker exploded — runs
    #   degraded 25 s -> 135 s across iterations; jemalloc stays flat.
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "268435456")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    mem_mb = driver_mem_mb(host_mem_bytes())

    b = (
        SparkSession.builder.appName(app)
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "jemalloc")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "131072")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "131072")
        # local mode runs everything in the driver JVM; the 1g default
        # heap thrashes GC with 32 concurrent tasks over fat Arrow
        # batches, and a moderate heap beats a huge one. Driver size,
        # result cap (a third of the heap) and the JVM policy
        # (DRIVER_JAVA_OPTS) are only effective at the first JVM launch
        # in the process
        .config("spark.driver.memory", os.environ.get("EXTRACTION_DRIVER_MEM", f"{mem_mb}m"))
        .config("spark.driver.maxResultSize", f"{mem_mb // 3}m")
        .config("spark.driver.extraJavaOptions", driver_java_opts())
        # shuffle spill dir: this sandbox's disk sustains ~65 MB/s
        # buffered writes (writeback throttling blocks shuffle writers in
        # D-state and serializes the whole job); RAM-backed local dirs
        # remove that artifact. A real cluster provisions NVMe for
        # shuffle — this models that, it does not hide a plan problem.
        .config(
            "spark.local.dir",
            os.environ.get("EXTRACTION_LOCAL_DIR", "/dev/shm/spark-local"),
        )
        # tmpfs local dirs don't support sendfile, so the shuffle-merge
        # transferTo path falls back to mmap+copy+munmap per segment —
        # thread dumps show 20+ task threads serialized in FileChannel
        # map0/unmap0 (TLB-shootdown storm, 50-70% system CPU at 32
        # threads). Plain buffered copies (transferTo=false) plus the
        # single-file sort writer (bypassMergeThreshold=0 — no per-reduce
        # file merge pass at all) take the warm 128->128 shuffle of the
        # bench corpus from 4-15 s to <1 s at local[32].
        .config("spark.file.transferTo", "false")
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2048-row batches: with no heavy docs the kernel runs narrow on
        # the scan's splits (~6000 docs per task over 24k docs at
        # local[4]). Measured on a 4-vCPU VM, each python worker then
        # peaks at 152-155 MiB VmHWM with 2048 rows, 177-180 MiB with
        # 8192 and 140-141 MiB with 1024, while the one-core kernel over
        # those 24k docs takes 1.5-1.9 s at all three. Fat media-heavy
        # rows are bounded by the BYTE cap (maxBytesPerBatch, 64m
        # default), and the kernel additionally self-limits by total
        # span count (segment.SPAN_BUDGET)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    if master:
        b = b.master(master)
    return b.getOrCreate()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input")
    p.add_argument(
        "--mode", choices=["extract", "recipe"], default="extract",
        help="extract: span extraction with bucket-commit lineage; "
             "recipe: run the corpus-prep recipe (recipe.py) over a "
             "documents table, ship the survivors to --output through "
             "the catalog seam and append per-(lang, stage) attribution "
             "to --lineage",
    )
    p.add_argument("--gen", type=int, help="generate N synthetic docs instead of reading --input")
    p.add_argument("--heavy-spans", type=int, default=2000)
    p.add_argument("--output", required=True)
    p.add_argument("--lineage", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--buckets-per-commit", type=int, default=16)
    p.add_argument(
        "--partitions", type=int, default=None,
        help="kernel partitions per commit group, an upper bound: a group "
             "gets whole waves of cores sized to its span mass, at most one "
             "per bucket unless it has fewer buckets than cores and more "
             "than ~64k spans a bucket; unset, max(buckets per commit, "
             "cores) is the bound",
    )
    p.add_argument("--shuffle-partitions", type=int, default=64)
    p.add_argument("--master", default=None)
    p.add_argument("--fail-after", type=int, default=None, help="inject crash after k commits (resume test)")
    a = p.parse_args(argv)

    from extraction.catalog import current_snapshot_id, read_back, read_docs
    from extraction.corpus import corpus_df
    from extraction.lineage import run_with_lineage
    from extraction.schema import DOCS_SCHEMA

    spark = build_session(a.master, a.shuffle_partitions)
    try:
        policy = driver_java_opts()
        mf = spark._jvm.java.lang.management.ManagementFactory
        missing = jvm_flags_missing(list(mf.getRuntimeMXBean().getInputArguments()), policy)
        if missing:
            print(
                f"WARNING: the driver JVM runs without {' '.join(missing)}; pass "
                f'--driver-java-options "{policy}" to spark-submit',
                file=sys.stderr,
            )
        if a.mode == "recipe":
            from extraction.recipe import run_recipe_sink

            if not a.input:
                p.error(
                    "--mode recipe requires --input (a documents table "
                    "ref or parquet path; --gen only applies to extract "
                    "mode's span corpus)"
                )
            docs = read_docs(spark, a.input)
            stats = run_recipe_sink(
                spark,
                docs,
                a.output,
                a.lineage,
                a.run_id,
                snapshot_id=current_snapshot_id(spark, a.input),
            )
            print(
                f"RECIPE_DONE docs_in={stats['docs_in']} "
                f"docs_kept={stats['docs_kept']}"
            )
            return 0
        snapshot_id = 0
        with (
            tempfile.TemporaryDirectory(prefix="gen-corpus-", dir=spark.sparkContext._temp_dir)
            if a.gen
            else contextlib.nullcontext()
        ) as staging:
            if a.gen:
                # corpus_df is an uncached Python map, and run_with_lineage
                # scans its input once for its stats and once per commit
                # group: stage the corpus as parquet once, so the generator
                # runs once. The wall counts that pass, as it counted the
                # generator before
                t0 = time.monotonic()
                src = os.path.join(staging, "corpus")
                corpus_df(
                    spark, a.gen, heavy_spans=a.heavy_spans,
                    slices=max(32, (a.partitions or 32)),
                ).write.parquet(src)
                docs = read_docs(spark, src, DOCS_SCHEMA)
            else:
                # --input/--output/--lineage accept either a parquet path or
                # an Iceberg table ref (table:cat.db.name) — catalog.py
                # dispatches; a table input stamps its current snapshot id
                # into every lineage row
                docs = read_docs(spark, a.input, DOCS_SCHEMA)
                snapshot_id = current_snapshot_id(spark, a.input)
                t0 = time.monotonic()
            run_with_lineage(
                spark,
                docs,
                a.output,
                a.lineage,
                a.run_id,
                num_buckets=a.buckets,
                buckets_per_commit=a.buckets_per_commit,
                num_partitions=a.partitions,
                snapshot_id=snapshot_id,
                fail_after_commits=a.fail_after,
            )
            wall = time.monotonic() - t0
        n = read_back(spark, a.output).count()
        jvm = jvm_counters(spark)
        print(
            f"EXTRACTION_DONE docs={n} wall_sec={wall:.2f} docs_per_sec={n / wall:.1f} "
            f"jit_s={jvm['jit_s']:.2f} gc_s={jvm['gc_s']:.2f}"
        )
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
