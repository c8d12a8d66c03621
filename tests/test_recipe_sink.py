"""Recipe sink wiring (recipe.run_recipe_sink / job.py --mode recipe):
the shipped corpus equals the card's `kept` set, and the lineage rows
carry exactly the attribution the reporting query publishes."""

from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from extraction.recipe import STAGES, recipe_card, recipe_staged, run_recipe_sink

SF_DIR = "/root/testdata/sf0.001"


def test_recipe_sink_ships_exactly_the_kept_set(spark, tmp_path):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    out_ref = str(tmp_path / "cleaned")
    lin_ref = str(tmp_path / "lineage")
    stats = run_recipe_sink(spark, docs, out_ref, lin_ref, "r1", snapshot_id=7)

    kept_ids = {
        r["doc_id"]
        for r in recipe_staged(docs).filter(F.col("stage") == "kept").collect()
    }
    written = spark.read.parquet(out_ref)
    written_ids = {r["doc_id"] for r in written.select("doc_id").collect()}
    assert written_ids == kept_ids
    assert stats["docs_kept"] == len(kept_ids)
    assert stats["docs_in"] == docs.count()
    # survivors keep their ORIGINAL columns plus the run_id partition
    assert set(written.columns) == set(docs.columns) | {"run_id"}
    # spot-check content integrity on one survivor
    some_id = next(iter(kept_ids))
    orig = docs.filter(F.col("doc_id") == some_id).collect()[0]
    got = written.filter(F.col("doc_id") == some_id).collect()[0]
    assert got["text"] == orig["text"]


def test_recipe_lineage_matches_the_published_card(spark, tmp_path):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    out_ref = str(tmp_path / "cleaned")
    lin_ref = str(tmp_path / "lineage")
    run_recipe_sink(spark, docs, out_ref, lin_ref, "r9", snapshot_id=42)

    lin = spark.read.parquet(lin_ref).collect()
    assert all(r["run_id"] == "r9" and r["snapshot_id"] == 42 for r in lin)
    assert all(r["committed_at"] is not None for r in lin)
    got = {(r["lang"], r["stage"]): (r["n_docs"], r["tokens"]) for r in lin}
    # the card aggregates the same staged frame: per-lang stage counts
    # in lineage must reproduce the card's n_<stage> columns exactly
    card = {r["lang"]: r for r in recipe_card(docs).collect()}
    for lang, row in card.items():
        for s in STAGES:
            n = row[f"n_{s}"]
            assert got.get((lang, s), (0, 0))[0] == n, (lang, s)
        assert sum(got.get((lang, s), (0, 0))[0] for s in STAGES) == row["n_in"]
        # kept-token mass is the card's tokens_kept
        assert got.get((lang, "kept"), (0, 0))[1] == row["tokens_kept"]


def test_recipe_sink_appends_are_attributed_per_run(spark, tmp_path):
    """Two runs (e.g. two daily increments) append independently; each
    run's attribution is recoverable by run_id — the audit query a
    dataset card regeneration runs."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    half = docs.filter(F.col("doc_id") % 2 == 0)
    out_ref = str(tmp_path / "cleaned")
    lin_ref = str(tmp_path / "lineage")
    run_recipe_sink(spark, half, out_ref, lin_ref, "day1")
    run_recipe_sink(spark, half, out_ref, lin_ref, "day2")
    lin = spark.read.parquet(lin_ref)
    d1 = lin.filter(F.col("run_id") == "day1").agg(F.sum("n_docs")).collect()[0][0]
    d2 = lin.filter(F.col("run_id") == "day2").agg(F.sum("n_docs")).collect()[0][0]
    assert d1 == d2 == half.count()


def test_recipe_sink_rerun_is_idempotent(spark, tmp_path):
    """The crash discipline: a completed run_id is a no-op on rerun, and
    a crash between data and lineage (simulated: lineage lost) re-executes
    into the same run_id partition instead of double-appending."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    out_ref = str(tmp_path / "cleaned")
    lin_ref = str(tmp_path / "lineage")
    first = run_recipe_sink(spark, docs, out_ref, lin_ref, "r1")
    n_rows = spark.read.parquet(out_ref).count()
    # completed run: rerun skips entirely
    again = run_recipe_sink(spark, docs, out_ref, lin_ref, "r1")
    assert again.get("skipped") is True
    assert spark.read.parquet(out_ref).count() == n_rows
    # crash-between simulation: data committed, lineage write lost —
    # the rerun must overwrite its own partition, not double-ship
    lin2 = str(tmp_path / "lineage_lost")
    redo = run_recipe_sink(spark, docs, out_ref, lin2, "r1")
    assert redo.get("skipped") is not True
    assert redo["docs_kept"] == first["docs_kept"]
    assert spark.read.parquet(out_ref).count() == n_rows
    lin_rows = spark.read.parquet(lin2).filter(F.col("run_id") == "r1")
    assert lin_rows.agg(F.sum("n_docs")).collect()[0][0] == docs.count()


def test_recipe_sink_unreadable_lineage_raises(spark, tmp_path):
    """A lineage that exists but cannot be read must stop the rerun.
    Reading it as "first run" would re-ship the run and append its
    attribution a second time."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    out_ref = str(tmp_path / "cleaned")
    lin_ref = str(tmp_path / "lineage")
    run_recipe_sink(spark, docs, out_ref, lin_ref, "r1")

    def lineage_files():
        return sorted(
            os.path.join(d, f)
            for d, _, fs in os.walk(lin_ref) for f in fs if f.endswith(".parquet")
        )

    parts = lineage_files()
    assert parts
    for p in parts:  # cut every part file in half: footer gone
        with open(p, "r+b") as f:
            f.truncate(os.path.getsize(p) // 2)
    with pytest.raises(Py4JJavaError):  # the footer read fails in a task
        run_recipe_sink(spark, docs, out_ref, lin_ref, "r1")
    assert lineage_files() == parts  # no lineage rows appended
