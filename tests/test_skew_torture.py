"""Skew-torture fixture: one pathological hot key (a single source
domain carrying ~30% of all docs) run through the three operators whose
scale stories lean on "map-side combine / AQE handles the hot key" —
text_boilerplate_ngrams, quality_source_screen, dedup_passages.

What is actually asserted:
1. PARTITION INVARIANCE under skew — each op returns bit-identical
   results at shuffle.partitions 4 vs 32 on the skewed corpus (the
   hash-gated driver contract's property, re-proven under the condition
   the docstrings claim to handle).
2. The hot key really is pathological (~30% of docs on one source).

The executed-plan evidence that AQE's skew-split fires on a forced
sort-merge join against this fixture lives in tools/explain_plans.py
(the "skew-join torture" check, run by tests/test_plans.py), where the
adaptive final plan is inspected after execution — skew=true only
materializes at runtime, not in the static plan.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"
HOT = "hot.example.com"

pytestmark = pytest.mark.skipif(
    not os.path.exists(os.path.join(SF_DIR, "documents.parquet")),
    reason="driver-generated testdata absent",
)


@pytest.fixture(scope="module")
def skewed_dir(spark, tmp_path_factory):
    """sf0.001 documents with ~30% of docs remapped onto one source."""
    out = tmp_path_factory.mktemp("skewed")
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    skewed = docs.withColumn(
        "source",
        F.when(
            F.pmod(F.xxhash64("doc_id"), F.lit(10)) < 3, F.lit(HOT)
        ).otherwise(F.col("source")),
    )
    skewed.write.mode("overwrite").parquet(str(out / "documents.parquet"))
    return str(out)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


@pytest.mark.parametrize(
    "qname",
    ["text_boilerplate_ngrams", "quality_source_screen", "dedup_passages"],
)
def test_partition_invariance_under_hot_key(spark, skewed_dir, qname):
    q = entry.queries()[qname]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        a = _rows(q(spark, skewed_dir))
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        b = _rows(q(spark, skewed_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b, f"{qname} result depends on partitioning under skew"
    assert a, f"{qname} returned nothing on the skewed fixture"


def test_hot_key_is_pathological(spark, skewed_dir):
    docs = spark.read.parquet(os.path.join(skewed_dir, "documents.parquet"))
    n = docs.count()
    hot = docs.filter(F.col("source") == HOT).count()
    assert 0.2 <= hot / n <= 0.4, (hot, n)
    # and it dominates every other source by an order of magnitude
    second = (
        docs.filter(F.col("source") != HOT)
        .groupBy("source")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert hot > 5 * second
