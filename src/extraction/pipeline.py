"""DataFrame wiring: read → (salted repartition) → mapInArrow → sink.

Scale notes (the design target is a 1000-executor cluster over 10^12
docs; SURVEY.md §4):

- Extraction is embarrassingly parallel: one row = one complete document,
  so the kernel runs as a NARROW mapInArrow — zero shuffles on the hot
  path. The skew repartition below shuffles only when there are heavy
  docs, or when the input is not a spread file scan (``is_spread``).
- Column pruning: we select exactly (doc_id, spans) so the scan reads
  only those columns (reference loads whole images unconditionally,
  src/DocumentAnalyzer.py:105-109 — Iceberg/parquet pruning is free here).
- Skew (FIXTURES.md "media-heavy" family): measured, plain uniform
  xxhash64(doc_id) partitioning is near-optimally mass-balanced whenever
  heavy docs outnumber partitions (BENCH/skew_balance.json). With no
  heavy docs at all, a spread file scan's byte splits balance as well,
  and ``repartition_packed`` keeps them unshuffled. The one regime
  hashing loses — few enormous docs colliding into one partition — is
  handled by ``repartition_packed``: exact LPT bin
  packing with murmur3-inverse salts (a coarse salt under
  ``repartition(P, salt)`` hash-collides; see partition_index_salts).
  Within the kernel, SPAN_BUDGET (segment.py) bounds peak memory.
- Deterministic bucket ids (``with_partition_id``) drive lineage/resume:
  pmod(xxhash64(doc_id), buckets) is stable across runs and cluster
  sizes, unlike physical partition indices.
"""

from __future__ import annotations

import heapq
import math

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schema import EXTRACTED_SCHEMA
from .segment import extract_batches

# docs with more spans than this are routed to the heavy tier
HEAVY_SPAN_THRESHOLD = 1000

# spans of kernel work a Python task is sized to: the value the local[4]
# group-sizing sweep was measured at (the CPU-optimal task count there was
# at or below the one this gives). That sweep ran while every Python task
# spent ~0.2 s of CPU in set-up; only a worker's first task does now
# (zipcache), so re-run it before deriving the value from set-up. The
# kernel takes ~2 us of CPU per span on the text-heavy benchmark corpus and
# ~1.1 us on the all-family one (one core of a 4-vCPU VM), so 64k spans are
# ~0.07-0.13 s of kernel work. No benchmark workload's placement depends on it
TASK_SPANS = 65536


def group_partitions(num_partitions: int, spans: int, cores: int) -> int:
    """Kernel partitions for ``spans`` spans of work: whole waves of
    ``cores`` tasks of at least ~TASK_SPANS spans each, capped at
    ``num_partitions``.

    Every Python task pays a fixed scheduling and transport cost, and a
    worker's first task a set-up cost too, so a small commit group split
    into P partitions runs mostly overhead. Rounding up to a whole wave
    keeps every core busy in the last one; a group of at least
    ``num_partitions * TASK_SPANS`` spans keeps all ``num_partitions``.
    """
    waves = max(1, math.ceil(spans / (cores * TASK_SPANS)))
    return min(num_partitions, cores * waves)


def extract(docs: DataFrame) -> DataFrame:
    """Run the extraction kernel. Narrow — no shuffle."""
    return docs.select("doc_id", "spans").mapInArrow(
        extract_batches, schema=EXTRACTED_SCHEMA
    )


def with_partition_id(docs: DataFrame, num_buckets: int) -> DataFrame:
    """Deterministic bucket id over hash(doc_id) — the lineage/resume key."""
    return docs.withColumn(
        "partition_id",
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(num_buckets)).cast("int"),
    )


_SALT_CACHE: dict[int, list[int]] = {}


def partition_index_salts(spark, num_partitions: int) -> list[int]:
    """Salt values that land EXACTLY on each physical partition index.

    ``repartition(P, col)`` does NOT use the column as a partition
    index — it places a row at pmod(murmur3(col), P). Feeding it a
    column with exactly P distinct values therefore hash-COLLIDES
    (birthday): measured on the bench corpus, the r1/r2 tier-salt
    scheme left 4/8-47/128 partitions EMPTY with max/mean span mass
    2.7-6.2x (BENCH/skew_balance.json) — strictly worse than plain
    uniform hashing. The only DataFrame-API way to address a physical
    partition directly is to invert the hash: ``F.hash`` IS the same
    Murmur3Hash expression HashPartitioning evaluates, so one tiny
    driver-side job finds, for each target index j, an int v_j with
    pmod(hash(v_j), P) == j. Pure function of P — cached per process;
    tests pin the placement with spark_partition_id().
    """
    if num_partitions in _SALT_CACHE:
        return _SALT_CACHE[num_partitions]
    if num_partitions == 1:
        return [0]
    n = max(64 * num_partitions, 4096)  # coupon collector needs ~P ln P
    while True:
        rows = (
            spark.range(n)
            .select(
                F.col("id").cast("int").alias("v"),
                F.pmod(
                    F.hash(F.col("id").cast("int")), F.lit(num_partitions)
                ).alias("j"),
            )
            .groupBy("j")
            .agg(F.min("v").alias("v"))
            .collect()
        )
        got = {r.j: r.v for r in rows}
        if len(got) == num_partitions:
            salts = [got[j] for j in range(num_partitions)]
            _SALT_CACHE[num_partitions] = salts
            return salts
        n *= 4  # astronomically unlikely at 64x coverage


def is_spread(docs: DataFrame, num_partitions: int) -> bool:
    """True when the file scan gives every core a task with rows, and
    makes no more than ``num_partitions`` tasks (the kernel partition
    count the caller asked for).

    Both counts are known at planning time, so this launches no Spark
    job. The file count matters as well as the split count: a big file
    is cut into several splits, but the parquet reader gives each row
    group to one split only, so a file of few row groups leaves most of
    its splits empty. An input that is not a file scan, or has fewer
    files than cores, is not spread. An adaptive plan (one with an
    exchange) would run its stages to learn its final partition count,
    so it never counts as spread.
    """
    plan = docs._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        return False
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    # the JVM array's length, without copying every path to python
    if len(docs._jdf.inputFiles()) < parallelism:
        return False
    return parallelism <= docs.rdd.getNumPartitions() <= num_partitions


def lpt(items, bins: int) -> dict:
    """Longest-processing-time-first placement of ``(key, weight)``
    items on ``bins`` bins: heaviest first (ties by key), each onto the
    least-loaded bin (ties by bin index). Returns ``{key: bin}``."""
    heap = [(0, j) for j in range(bins)]  # sorted, so already a heap
    place = {}
    for key, weight in sorted(items, key=lambda kw: (-kw[1], kw[0])):
        load, j = heapq.heappop(heap)
        place[key] = j
        heapq.heappush(heap, (load + weight, j))
    return place


def repartition_packed(
    docs: DataFrame,
    num_partitions: int,
    heavy_span_threshold: int = HEAVY_SPAN_THRESHOLD,
) -> DataFrame:
    """Skew-aware placement: the scan as is, uniform hash, or exact LPT.

    What the deterministic mass audit (tools/skew_balance.py) proved:

    - Plain ``repartition(P, xxhash64(doc_id))`` is already near-
      optimally mass-balanced whenever heavy docs are numerous relative
      to P (CLT): max/mean 1.01 at P=8 ... 1.24 at P=128 on the bench
      corpus (12k heavy docs). No stateless salt can beat it — any
      injective salt IS uniform hashing, any coarser salt only loses
      information (and a salt with exactly P values hash-collides into
      empty partitions; see partition_index_salts).
    - The one regime uniform hashing genuinely loses is FEW ENORMOUS
      docs (heavy count ~ P): two 10^6-span docs land in the same
      partition with birthday probability, and that partition is the
      job wall. Fixing that needs mass-AWARE, collision-FREE placement,
      which no hash can provide.

    The kernel works per doc, so every outcome gives identical output:

    - no heavy docs: the input itself when it is spread (``is_spread``;
      no shuffle at all: on text_extract the scan's byte splits read
      span-mass skew 1.03, the hash shuffle 1.11), else the uniform
      hash repartition into P partitions;
    - many heavy docs (more than the guard of max(4*P, 1024)): the
      uniform hash repartition into P partitions, as measured above;
    - a few heavy docs: collect the heavy (doc_id, mass) rows, place
      them with ``lpt`` and route each to its exact physical partition
      via the murmur3-inverse salt table. Light docs spread uniformly
      across all P partitions (their per-partition mass is flat by CLT,
      so LPT packs heavy docs on top of a level base). One broadcast
      join + one shuffle, exactly P partitions.

    The heavy tier is found by a guard scan (at most guard + 1 rows).
    ``run_with_lineage`` does not come here: it places whole buckets by
    their exact span mass from its own pre-pass, so the doc-level
    placement is for direct callers of ``run_extraction``.
    """
    P = num_partitions
    uniform = docs.repartition(max(1, P), F.xxhash64("doc_id"))
    if P < 2:
        return uniform
    guard = max(4 * P, 1024)
    # the size of one leaf field is the span count, and lets the guard
    # scan read only spans.kind instead of whole spans (text_extract's
    # 24k docs on a 4-vCPU VM: 0.12 s instead of 0.23 s)
    nspans = F.size(F.col("spans.kind"))
    heavy_rows = (
        docs.filter(nspans > heavy_span_threshold)
        .select(F.col("doc_id"), nspans.alias("mass"))
        .limit(guard + 1)
        .collect()
    )
    if not heavy_rows:
        return docs if is_spread(docs, P) else uniform
    if len(heavy_rows) > guard:
        return uniform
    spark = docs.sparkSession
    salts = partition_index_salts(spark, P)
    # bins start level because the light tier spreads uniformly (CLT)
    place = lpt([(r.doc_id, r.mass) for r in heavy_rows], P)
    # an Arrow table becomes a LocalTableScan; a list of rows would be
    # parallelized through Python tasks
    amap = spark.createDataFrame(
        pa.table({
            "doc_id": list(place),
            "__salt": pa.array([salts[j] for j in place.values()], pa.int32()),
        }),
        "doc_id string, __salt int",
    )
    salt_arr = F.array(*[F.lit(int(v)) for v in salts])
    light_salt = F.element_at(
        salt_arr, (F.pmod(F.xxhash64("doc_id"), F.lit(P)) + 1).cast("int")
    )
    return (
        docs.join(F.broadcast(amap), "doc_id", "left")
        .withColumn("__salt", F.coalesce(F.col("__salt"), light_salt))
        .repartition(P, F.col("__salt"))
        .drop("__salt")
    )


def run_extraction(docs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Full pipeline: optional skew-aware repartition + kernel."""
    if num_partitions:
        docs = repartition_packed(docs, num_partitions)
    return extract(docs)
