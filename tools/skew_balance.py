#!/usr/bin/env python
"""Deterministic partition-mass audit of the skew-repartition strategies.

Timing a repartition A/B on this box measures the noisy neighbor
(CLAUDE.md: 2-4x run-to-run swings), so the evidence here is
DETERMINISTIC: for each strategy we compute the exact per-partition span
mass (the kernel's work unit — extraction cost is linear in spans) and
report the straggler bound max/mean. A partition's mass is a pure
function of (corpus, strategy, P), so these numbers are exactly
reproducible and directly bound the last-wave straggle a scheduler
cannot amortize: wall >= max_partition_mass / per_core_throughput
whenever P <= cores (single wave).

This audit is what FALSIFIED the r1/r2 tier-salt design: a salt with
exactly P distinct values is itself murmur3-hashed by
``repartition(P, salt)``, so salt groups birthday-collide into
partitions — measured 4/8-47/128 EMPTY partitions and max/mean 2.7-6.2x
versus 1.01-1.24x for plain uniform hashing (results pinned in
BENCH/skew_balance.json "salted_r2" and BENCH/SKEW.md). The replacement
(pipeline.repartition_packed) returns uniform hashing in the
many-heavy-docs regime and exact murmur3-inverse LPT placement in the
few-enormous-docs regime. With no heavy docs at all it keeps a spread
file scan (pipeline.is_spread) unshuffled; this audit does not measure
that case, because its corpora are generated in memory (never a spread
file scan) and both hold heavy docs, so "packed" is always P partitions.

Corpora measured:
  bench  — 240k docs, heavy_spans=2000 (bench.py's extract corpus, 2x the docs:
           12k heavy docs >> P, CLT regime)
  lumpy  — 4k docs, heavy_spans=60000 (200 enormous docs ~ P: the
           regime where uniform hashing birthday-collides)

Writes BENCH/skew_balance.json. Usage:
    python tools/skew_balance.py [--cpus 8]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "src"))
os.environ["PYTHONPATH"] = os.path.join(REPO, "src") + os.pathsep + os.environ.get(
    "PYTHONPATH", ""
)


def partition_mass(df):
    """Exact span mass per physical partition after a repartition."""
    from pyspark.sql import functions as F

    rows = (
        df.select(F.spark_partition_id().alias("pid"), F.size("spans").alias("m"))
        .groupBy("pid")
        .agg(F.sum("m").alias("mass"))
        .collect()
    )
    return {r.pid: r.mass for r in rows}


def stats(masses: dict, p: int) -> dict:
    vals = [masses.get(i, 0) for i in range(p)]
    total = sum(vals)
    mean = total / p if p else 0.0
    mx = max(vals) if vals else 0
    return {
        "P": p,
        "total_mass": total,
        "mean": round(mean, 1),
        "max": mx,
        "min": min(vals) if vals else 0,
        "max_over_mean": round(mx / mean, 3) if mean else None,
        "empty_partitions": sum(1 for v in vals if v == 0),
    }


def salted_r2(docs, num_partitions, tier_masses):
    """The FALSIFIED r1/r2 scheme, kept only as the audit's baseline:
    mass-proportional tier budgets salted into exactly P values — which
    repartition() then murmur3-hashes, colliding salt groups."""
    from pyspark.sql import functions as F

    from extraction.pipeline import HEAVY_SPAN_THRESHOLD

    light_mass, heavy_mass = tier_masses
    total = light_mass + heavy_mass
    if total == 0 or heavy_mass == 0 or num_partitions < 2:
        return docs.repartition(num_partitions, F.xxhash64("doc_id"))
    heavy_parts = min(
        max(1, round(num_partitions * heavy_mass / total)), num_partitions - 1
    )
    light_parts = num_partitions - heavy_parts
    nspans = F.size(F.col("spans"))
    salt = F.when(
        nspans > HEAVY_SPAN_THRESHOLD,
        F.lit(light_parts) + F.pmod(F.xxhash64("doc_id"), F.lit(heavy_parts)),
    ).otherwise(F.pmod(F.xxhash64("doc_id"), F.lit(light_parts)))
    return docs.repartition(num_partitions, salt)


def audit_corpus(spark, name, n_docs, heavy_spans, partitions, out):
    from pyspark.sql import functions as F

    from extraction.corpus import corpus_df
    from extraction.pipeline import HEAVY_SPAN_THRESHOLD, repartition_packed

    docs = corpus_df(spark, n_docs, heavy_spans=heavy_spans).cache()
    nspans = F.size("spans")
    tier = docs.select(
        F.sum(F.when(nspans <= HEAVY_SPAN_THRESHOLD, nspans).otherwise(0)).alias("light"),
        F.sum(F.when(nspans > HEAVY_SPAN_THRESHOLD, nspans).otherwise(0)).alias("heavy"),
        F.sum(F.when(nspans > HEAVY_SPAN_THRESHOLD, 1).otherwise(0)).alias("heavy_docs"),
        F.max(nspans).alias("max_doc"),
    ).first()
    corpus = {
        "docs": n_docs,
        "heavy_spans": heavy_spans,
        "light_mass": tier.light,
        "heavy_mass": tier.heavy,
        "heavy_docs": tier.heavy_docs,
        "max_doc_spans": tier.max_doc,
        "heavy_mass_share": round(tier.heavy / (tier.light + tier.heavy), 4),
        "strategies": {},
    }
    for p in partitions:
        res = {
            "uniform": stats(
                partition_mass(docs.repartition(p, F.xxhash64("doc_id"))), p
            ),
            "salted_r2": stats(
                partition_mass(salted_r2(docs, p, (tier.light, tier.heavy))), p
            ),
            "packed": stats(partition_mass(repartition_packed(docs, p)), p),
        }
        for k, v in res.items():
            corpus["strategies"].setdefault(k, []).append(v)
        print(
            f"[{name}] P={p:4d}  "
            + "  ".join(
                f"{k}: max/mean={v['max_over_mean']} empty={v['empty_partitions']}"
                for k, v in res.items()
            )
        )
    docs.unpersist()
    out[name] = corpus


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=8)
    a = ap.parse_args()

    from extraction.job import build_session

    spark = build_session(f"local[{a.cpus}]", 32, app="skew-balance")
    try:
        out = {}
        audit_corpus(spark, "bench", 240000, 2000, [8, 16, 32, 128], out)
        audit_corpus(spark, "lumpy", 4000, 60000, [16, 64], out)
        os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
        with open(os.path.join(REPO, "BENCH", "skew_balance.json"), "w") as f:
            json.dump(out, f, indent=1)
        print(json.dumps({"written": "BENCH/skew_balance.json"}))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
