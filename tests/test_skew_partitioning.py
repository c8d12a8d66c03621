"""Skew-aware repartition: exact placement + balance guarantees.

Pins the fix for the r1/r2 tier-salt defect (BENCH/SKEW.md): a salt
column with exactly P distinct values is itself murmur3-hashed by
``repartition(P, salt)``, so salt groups birthday-collide — measured
max/mean 2.7-6.2x with up to 37% EMPTY partitions. The replacement
routes through ``partition_index_salts`` (murmur3-inverse values that
land on exact physical partition indices) and LPT bin packing.
"""

import os
import re
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from extraction import catalog, lineage
from extraction.corpus import corpus_df
from extraction.pipeline import (
    HEAVY_SPAN_THRESHOLD,
    TASK_SPANS,
    group_partitions,
    is_spread,
    lpt,
    partition_index_salts,
    repartition_packed,
    run_extraction,
)
from extraction.schema import DOCS_SCHEMA


def _parquet(spark, docs, path, files):
    """Write ``docs`` as exactly ``files`` parquet files and read it back."""
    docs.coalesce(files).write.parquet(path)
    written = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(written) == files, written
    return spark.read.schema(DOCS_SCHEMA).parquet(path)


@pytest.fixture(scope="module")
def light_inputs(spark, tmp_path_factory):
    """No heavy docs: (spread 8-file input, under-split 1-file input)."""
    root = tmp_path_factory.mktemp("light")
    docs = corpus_df(spark, 2000, heavy_spans=200, slices=8)
    spread = _parquet(spark, docs, str(root / "spread"), 8)
    single = _parquet(spark, docs, str(root / "single"), 1)
    assert spread.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    assert single.rdd.getNumPartitions() == 1
    return spread, single


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _new_jobs(spark, fn):
    """Ids of the Spark jobs ``fn()`` launches."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup())
    fn()
    bus.waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup()) - before


def _mass_per_partition(df, p):
    rows = (
        df.select(F.spark_partition_id().alias("pid"), F.size("spans").alias("m"))
        .groupBy("pid")
        .agg(F.sum("m").alias("mass"))
        .collect()
    )
    masses = {r.pid: r.mass for r in rows}
    return [masses.get(i, 0) for i in range(p)]


def test_partition_index_salts_land_exactly(spark):
    """repartition(P, lit(salt_j)) must place every row in partition j —
    the property the whole packed design rests on."""
    for p in (2, 7, 16):
        salts = partition_index_salts(spark, p)
        assert len(set(salts)) == p
        for j in (0, p // 2, p - 1):
            df = spark.range(5).withColumn("s", F.lit(int(salts[j])))
            pids = (
                df.repartition(p, F.col("s"))
                .select(F.spark_partition_id().alias("pid"))
                .distinct()
                .collect()
            )
            assert [r.pid for r in pids] == [j]


def test_packed_balances_enormous_docs(spark):
    """The lumpy regime (heavy docs ~ P): uniform hashing birthday-
    collides; LPT packing must keep every partition busy and bound the
    straggler. Deterministic corpus => exact, reproducible assertion."""
    p = 16
    docs = corpus_df(spark, 400, heavy_spans=20000, slices=8).cache()
    heavy = docs.filter(F.size("spans") > HEAVY_SPAN_THRESHOLD).count()
    assert 0 < heavy < 4 * p  # the packing (not CLT-fallback) branch

    packed = _mass_per_partition(repartition_packed(docs, p), p)
    uniform = _mass_per_partition(docs.repartition(p, F.xxhash64("doc_id")), p)
    mean = sum(packed) / p
    assert sum(packed) == sum(uniform)  # no rows lost
    assert min(packed) > 0  # no empty partitions
    assert max(packed) / mean < 1.35  # LPT bound; uniform measured ~2x+
    assert max(packed) <= max(uniform)
    docs.unpersist()


def test_packed_clt_fallback_is_uniform(spark, light_inputs):
    """Many heavy docs (more than the guard, max(4P, 1024)): packing
    can't beat uniform hashing (CLT) and must return the identical
    uniform plan — no join — on a spread scan as on an under-split one."""
    p = 4
    spread, single = light_inputs
    for docs in (spread, single):
        # every doc counts as heavy: the guard scan overflows
        plan = _plan(repartition_packed(docs, p, heavy_span_threshold=0))
        assert plan.count("Exchange") == 1, plan
        assert "xxhash64(doc_id" in plan
        assert "BroadcastHashJoin" not in plan


def test_no_heavy_tier_shuffles_only_an_under_split_scan(spark, light_inputs):
    """No heavy tier to place: a scan with a partition per core runs the
    kernel on its own splits, with no shuffle; a scan with fewer
    partitions than cores is hash-spread into P."""
    spread, single = light_inputs
    out = repartition_packed(spread, 8)
    assert _plan(out).count("Exchange") == 0, _plan(out)
    assert out.rdd.getNumPartitions() == spread.rdd.getNumPartitions()
    out = repartition_packed(single, 8)
    assert _plan(out).count("Exchange") == 1, _plan(out)
    assert out.rdd.getNumPartitions() == 8


def test_byte_splits_alone_are_not_spread(spark, light_inputs):
    """A scan counts as spread only with a file per core and at most P
    splits. A 1-file input cut into a split per core still has its rows
    in the one split that owns its row group, and a spread input cut
    into more than P splits would run the kernel on more than P
    partitions: both get the uniform hash into P."""
    spread, single = light_inputs
    parallelism = spark.sparkContext.defaultParallelism
    one_file = max(os.path.getsize(urlparse(f).path) for f in single.inputFiles())
    per_file = max(os.path.getsize(urlparse(f).path) for f in spread.inputFiles())
    try:
        # six splits of the 1-file input, three of each spread file
        for files, split, lo, hi in (
            (single.inputFiles(), one_file // 6 + 1, parallelism, 8),
            (spread.inputFiles(), per_file // 3 + 1, 9, None),
        ):
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
            docs = spark.read.schema(DOCS_SCHEMA).parquet(*files)
            n = docs.rdd.getNumPartitions()
            assert n >= lo and (hi is None or n <= hi), n
            out = repartition_packed(docs, 8)
            assert _plan(out).count("Exchange") == 1, _plan(out)
            assert out.rdd.getNumPartitions() == 8
            filled = out.groupBy(F.spark_partition_id()).count().count()
            assert filled == 8
        # the split 1-file scan on its own leaves cores without rows
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(one_file // 6 + 1))
        docs = spark.read.schema(DOCS_SCHEMA).parquet(*single.inputFiles())
        assert docs.groupBy(F.spark_partition_id()).count().count() < parallelism
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_is_spread_launches_no_job(spark, light_inputs):
    """Telling a spread scan from an under-split one is planning only.
    An input with an exchange of its own (an adaptive plan, e.g.
    read_increment's join) would run that exchange to report its
    partition count, so it counts as not spread without asking."""
    spread, single = light_inputs
    for docs, want in ((spread, True), (single, False), (spread.repartition(8), False)):
        got = []
        assert _new_jobs(spark, lambda: got.append(is_spread(docs, 8))) == set()
        assert got == [want]
    # the probe sees a job when there is one: repartition_packed's guard
    # scan
    assert _new_jobs(spark, lambda: repartition_packed(spread, 8))


def test_packed_extraction_content_identical(spark, tmp_path):
    """Partitioning must never change extraction results: packed,
    uniform and narrow runs are row-set identical, on a spread and on a
    1-file scan."""
    docs = corpus_df(spark, 300, heavy_spans=5000, slices=8)
    spread = _parquet(spark, docs, str(tmp_path / "spread"), 8)
    single = _parquet(spark, docs, str(tmp_path / "single"), 1)

    def rows(out):
        return sorted(
            (r.doc_id, tuple(sorted((s.order, s.kind, s.text, s.media_ref) for s in r.spans)))
            for r in out.collect()
        )

    base = rows(run_extraction(spread, num_partitions=None))
    for docs in (spread, single):
        assert rows(run_extraction(docs, num_partitions=8)) == base


def test_lpt_places_heaviest_first_on_least_loaded():
    """Heaviest first, ties by key; each onto the least-loaded bin, ties
    by bin index."""
    assert lpt([], 3) == {}
    assert lpt([("a", 5)], 1) == {"a": 0}
    # 9 -> 0, 7 -> 1, 6 -> 2, then 4 onto bin 2 (load 6), 3 onto bin 1 (7)
    assert lpt([("d", 4), ("a", 9), ("e", 3), ("b", 7), ("c", 6)], 3) == {
        "a": 0, "b": 1, "c": 2, "d": 2, "e": 1,
    }
    # equal weights go in key order; equal loads take the lower index
    assert lpt([(2, 1), (1, 1), (0, 1), (3, 1)], 2) == {0: 0, 1: 1, 2: 0, 3: 1}
    # a weightless item adds no load, so the next one takes the same bin
    assert lpt([("x", 0), ("y", 0)], 4) == {"x": 0, "y": 0}
    # the greedy bound: max load <= mean + largest item
    items = [(i, (i * 7919) % 101 + 1) for i in range(50)]
    place = lpt(items, 6)
    loads = [sum(w for i, w in items if place[i] == j) for j in range(6)]
    assert max(loads) <= sum(loads) / 6 + max(w for _, w in items)


def test_group_partitions_sizes_to_span_mass():
    """Whole waves of cores of ~TASK_SPANS spans a task, capped at P."""
    assert TASK_SPANS == 65536
    assert group_partitions(16, 96_000, 4) == 4
    assert group_partitions(128, 2_900_000, 32) == 64
    for p, cores in ((16, 4), (128, 32), (12, 8)):
        assert group_partitions(p, p * TASK_SPANS, cores) == p
        assert group_partitions(p, 10 * p * TASK_SPANS, cores) == p
    assert group_partitions(16, 0, 4) == 4
    assert group_partitions(2, 0, 4) == 2
    assert group_partitions(3, 10**6, 8) == 3


@pytest.mark.parametrize("splits", [4, 8])
def test_lineage_group_shuffles_once_on_spread_scan(spark, light_inputs, monkeypatch, tmp_path, splits):
    """A spread scan gets the same group shape as any input: each group
    of 4 buckets is placed whole on 4 kernel tasks (its sized count at
    local[4]) through exactly one shuffle, with no join, whether the
    8-file input reads as 4 splits (the default) or as 8 (a split byte
    limit of one file); the kernel's tasks write one file per bucket."""
    spread, _ = light_inputs
    cores = spark.sparkContext.defaultParallelism
    assert len(spread.inputFiles()) == 8 and cores == 4
    per_file = max(os.path.getsize(urlparse(f).path) for f in spread.inputFiles())
    plans = []

    def recording(df, ref, col):
        plans.append(_plan(df))
        return catalog.overwrite_buckets(df, ref, col)

    monkeypatch.setattr(lineage, "overwrite_buckets", recording)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    try:
        if splits == 8:
            # a split holds one file: the next file's open cost overflows it
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(per_file + 1))
        docs = spark.read.schema(DOCS_SCHEMA).parquet(*spread.inputFiles())
        assert docs.rdd.getNumPartitions() == splits
        lineage.run_with_lineage(spark, docs, out, lin, "narrow", num_buckets=8,
                                 buckets_per_commit=4, num_partitions=16)
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert len(plans) == 2
    for plan in plans:
        assert plan.count("Exchange") == 1, plan
        assert re.search(r"Exchange hashpartitioning\(.*, 4\), REPARTITION_BY_NUM", plan), plan
        assert "BroadcastHashJoin" not in plan, plan
    assert spark.read.parquet(out).count() == 2000
    written = {
        os.path.basename(d): sum(f.endswith(".parquet") for f in fs)
        for d, _, fs in os.walk(out) if d != out
    }
    assert written == {f"partition_id={b}": 1 for b in range(8)}
