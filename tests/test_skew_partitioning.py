"""Skew-aware repartition: exact placement + balance guarantees.

Pins the fix for the r1/r2 tier-salt defect (BENCH/SKEW.md): a salt
column with exactly P distinct values is itself murmur3-hashed by
``repartition(P, salt)``, so salt groups birthday-collide — measured
max/mean 2.7-6.2x with up to 37% EMPTY partitions. The replacement
routes through ``partition_index_salts`` (murmur3-inverse values that
land on exact physical partition indices) and LPT bin packing.
"""

from pyspark.sql import functions as F

from extraction.corpus import corpus_df
from extraction.pipeline import (
    HEAVY_SPAN_THRESHOLD,
    partition_index_salts,
    repartition_packed,
    run_extraction,
)


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


def test_packed_clt_fallback_is_uniform(spark):
    """Many heavy docs (>= 4P): packing can't beat uniform hashing (CLT)
    and must return the identical uniform plan — no collect, no join."""
    p = 4
    docs = corpus_df(spark, 2000, heavy_spans=200, slices=8)
    packed = repartition_packed(docs, p, heavy_docs_hint=4 * p)
    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64(doc_id" in plan
    assert "BroadcastHashJoin" not in plan


def test_packed_extraction_content_identical(spark):
    """Partitioning must never change extraction results: packed,
    uniform and single-partition runs are row-set identical."""
    docs = corpus_df(spark, 300, heavy_spans=5000, slices=8).cache()
    base = sorted(
        (r.doc_id, tuple(sorted((s.order, s.kind, s.text, s.media_ref) for s in r.spans)))
        for r in run_extraction(docs, num_partitions=None).collect()
    )
    for kwargs in (
        {"num_partitions": 8},
        {"num_partitions": 8, "heavy_docs_hint": 10**6},
    ):
        got = sorted(
            (r.doc_id, tuple(sorted((s.order, s.kind, s.text, s.media_ref) for s in r.spans)))
            for r in run_extraction(docs, **kwargs).collect()
        )
        assert got == base, kwargs
    docs.unpersist()
