"""Composed corpus-prep recipe: per-doc stage attribution + sink wiring.

The recipe DAG (exact dedup ∪ near-dup CC ∪ 3-shingle decontamination ∪
quality screen, FIRST-DROPPING-STAGE attribution — the Dolma/C4 dataset
card) lives here so the reporting query (``q_corpus_recipe``) and the
production sink mode (``job.py --mode recipe``) share ONE derivation:
the card a release publishes and the corpus it actually ships can never
disagree.

Stage order (precedence among stages that would each drop a doc):
held_out → exact → neardup → contaminated → low_quality → kept.

Scale shape: drop sets are permille-sized joins (AQE broadcasts), the
exact-dup window partitions by fingerprint (no global sort), survivors
flow to the sink without re-deriving any stage, and the attribution agg
is a handful of map-side-combined conditional sums. Reference anchor
for the ordered sink: src/HelperMethods.py:142-157.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

STAGES = ("held_out", "exact", "neardup", "contaminated", "low_quality", "kept")


def recipe_staged(d: DataFrame) -> DataFrame:
    """Per-doc stage attribution: (doc_id, lang, nt, stage) with stage ∈
    STAGES. ``d`` is the documents table (doc_id, text, lang, ...).
    Every stage reuses the standalone operator verbatim: exact =
    min-doc_id-per-fingerprint, near-dup = the lsh_verified →
    connected-components drop set, contamination = the 3-shingle
    benchmark overlap (eval slice doc_id % 20 == 7), quality =
    quality_score < 30. Each stage's drop set is computed on the full
    corpus (the independent-stages shape real pipelines run) and
    precedence resolves docs multiple stages would kill.
    """
    from extraction.dedup import (
        decontaminate_hits,
        lsh_verified_pairs,
        neardup_components,
    )
    from extraction.textops import fingerprint, quality_score, token_count_ws

    pairs = lsh_verified_pairs(
        d, "text", "doc_id", k=3, perms=16, bands=4,
        threshold_num=1, threshold_den=2,
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    )
    nd_drops = (
        neardup_components(pairs)
        .filter(F.col("id") != F.col("component"))
        .select(F.col("id").alias("doc_id"), F.lit(1).alias("nd"))
    )
    bench = d.filter(F.col("doc_id") % 20 == 7)
    # train side excludes the eval slice (its self-overlap is 100% and
    # the held_out stage would mask it anyway — excluding it here both
    # matches the oracle's train CTE exactly and skips the wasted join)
    cont = decontaminate_hits(
        d.filter(F.col("doc_id") % 20 != 7), bench, "text", "doc_id", k=3
    ).select(F.col("doc_id").cast("long").alias("doc_id"), F.lit(1).alias("ct"))
    w_fp = Window.partitionBy("fp")
    flagged = (
        d.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            fingerprint(F.col("text")).alias("fp"),
            quality_score(F.col("text")).alias("q"),
            token_count_ws(F.col("text")).alias("nt"),
        )
        .withColumn("fp_min", F.min("doc_id").over(w_fp))
        .join(nd_drops, "doc_id", "left")
        .join(cont, "doc_id", "left")
    )
    stage = (
        F.when(F.col("doc_id") % 20 == 7, F.lit("held_out"))
        .when(F.col("doc_id") != F.col("fp_min"), F.lit("exact"))
        .when(F.col("nd") == 1, F.lit("neardup"))
        .when(F.col("ct") == 1, F.lit("contaminated"))
        .when(F.col("q") < 30, F.lit("low_quality"))
        .otherwise(F.lit("kept"))
    )
    return flagged.select("doc_id", "lang", "nt", stage.alias("stage"))


def recipe_card(d: DataFrame) -> DataFrame:
    """The per-lang dataset card over ``recipe_staged``: input count,
    per-stage drop counts, kept-token mass."""
    staged = recipe_staged(d)
    agg = [
        F.sum(F.when(F.col("stage") == s, 1).otherwise(0))
        .cast("long")
        .alias(f"n_{s}")
        for s in STAGES
    ]
    return staged.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_in"),
        *agg,
        F.sum(F.when(F.col("stage") == "kept", F.col("nt")).otherwise(0))
        .cast("long")
        .alias("tokens_kept"),
    )


def run_recipe_sink(
    spark,
    docs: DataFrame,
    output_ref: str,
    lineage_ref: str,
    run_id: str,
    snapshot_id: int = 0,
) -> dict:
    """Ship the cleaned corpus: write the recipe's survivors through the
    catalog seam and append per-(lang, stage) attribution to lineage.

    Survivors keep their ORIGINAL document columns (a doc_id equi-join
    back to the input — sort-merge at corpus scale, zero exchanges when
    both sides are bucketed on doc_id) plus a ``run_id`` partition
    column. Crash discipline mirrors run_with_lineage, data first,
    lineage second, and BOTH writes are idempotent per run_id:

    - If lineage already holds this run_id, the run is complete — skip
      entirely (resume no-op; lineage-second means lineage present
      implies data committed).
    - The survivor write is a DYNAMIC PARTITION OVERWRITE of the run's
      own ``run_id=...`` partition (table branch: overwritePartitions,
      one atomic Iceberg snapshot), so a crash between data and lineage
      re-executes into the same partition instead of double-appending.

    The attribution appended to lineage is EXACTLY the card the
    reporting query publishes (same staged frame, same agg), so the
    shipped corpus and its dataset card cannot disagree — including
    across crash-reruns.
    """
    from extraction.catalog import append_rows, overwrite_buckets, read_back, sink_exists

    # a first run has no lineage yet; an unreadable one raises
    if sink_exists(spark, lineage_ref) and (
        read_back(spark, lineage_ref).filter(F.col("run_id") == run_id).head(1)
    ):
        return {"docs_in": 0, "docs_kept": 0, "skipped": True}

    staged = recipe_staged(docs)
    # localCheckpoint: staged drives BOTH the survivor join and the
    # attribution agg; without it the whole recipe DAG (LSH, CC rounds,
    # decontamination) would execute twice
    staged = staged.localCheckpoint(eager=True)
    survivors = docs.join(
        staged.filter(F.col("stage") == "kept").select("doc_id"),
        "doc_id",
    ).withColumn("run_id", F.lit(run_id))
    overwrite_buckets(survivors, output_ref, "run_id")
    attribution = (
        staged.groupBy("lang", "stage")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("tokens"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(snapshot_id).cast("long").alias("snapshot_id"),
            "lang",
            "stage",
            "n_docs",
            "tokens",
            F.current_timestamp().alias("committed_at"),
        )
    )
    append_rows(attribution, lineage_ref)
    n_kept = staged.filter(F.col("stage") == "kept").count()
    n_in = staged.count()
    return {"docs_in": n_in, "docs_kept": n_kept}
