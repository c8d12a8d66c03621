"""Resume test (SURVEY.md §5.5): kill after k of n commits, rerun, assert
identical final table and no duplicate partitions."""

import os

import pytest
from py4j.protocol import Py4JJavaError

from extraction.corpus import gen_corpus
from extraction.lineage import committed_buckets, run_with_lineage
from extraction.oracle import extract_corpus
from extraction.schema import DOCS_SCHEMA

N_DOCS = 120
BUCKETS = 8
PER_COMMIT = 2  # → 4 commit groups


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(gen_corpus(N_DOCS, heavy_spans=100), schema=DOCS_SCHEMA)


def read_result(spark, path):
    rows = spark.read.parquet(path).collect()
    return {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.order) for s in r.spans]
        for r in rows
    }


def golden():
    return {
        d: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in v]
        for d, v in extract_corpus(gen_corpus(N_DOCS, heavy_spans=100)).items()
    }


def test_clean_run_commits_all_buckets(spark, docs, tmp_path):
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    run_with_lineage(spark, docs, out, lin, "run-a", num_buckets=BUCKETS,
                     buckets_per_commit=PER_COMMIT)
    assert committed_buckets(spark, lin, "run-a") == set(range(BUCKETS))
    assert read_result(spark, out) == golden()
    lrows = spark.read.parquet(lin).collect()
    assert len(lrows) == BUCKETS  # exactly one lineage row per bucket
    assert sum(r.input_rows for r in lrows) == N_DOCS
    assert sum(r.output_rows for r in lrows) == N_DOCS
    assert all(r.docs_ok + r.docs_empty == r.output_rows for r in lrows)


def test_crash_and_resume_is_idempotent(spark, docs, tmp_path):
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_lineage(spark, docs, out, lin, "run-b", num_buckets=BUCKETS,
                         buckets_per_commit=PER_COMMIT, fail_after_commits=2)
    partial = committed_buckets(spark, lin, "run-b")
    assert len(partial) == 2 * PER_COMMIT  # only the committed groups

    # resume: finishes remaining buckets, re-commits nothing
    run_with_lineage(spark, docs, out, lin, "run-b", num_buckets=BUCKETS,
                     buckets_per_commit=PER_COMMIT)
    assert committed_buckets(spark, lin, "run-b") == set(range(BUCKETS))
    lrows = spark.read.parquet(lin).collect()
    assert len(lrows) == BUCKETS  # no duplicate partition commits
    assert read_result(spark, out) == golden()


def test_second_resume_is_noop(spark, docs, tmp_path):
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    run_with_lineage(spark, docs, out, lin, "run-c", num_buckets=BUCKETS,
                     buckets_per_commit=PER_COMMIT)
    before = spark.read.parquet(lin).count()
    run_with_lineage(spark, docs, out, lin, "run-c", num_buckets=BUCKETS,
                     buckets_per_commit=PER_COMMIT)
    assert spark.read.parquet(lin).count() == before
    assert read_result(spark, out) == golden()


def test_unreadable_lineage_raises_instead_of_recommitting(spark, docs, tmp_path):
    """A lineage table that exists but cannot be read must stop the
    resume. Reading it as "nothing committed" would recompute every
    bucket and append a duplicate lineage row per bucket."""
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_lineage(spark, docs, out, lin, "run-d", num_buckets=BUCKETS,
                         buckets_per_commit=PER_COMMIT, fail_after_commits=2)

    def lineage_files():
        return sorted(
            os.path.join(d, f)
            for d, _, fs in os.walk(lin) for f in fs if f.endswith(".parquet")
        )

    parts = lineage_files()
    assert parts
    for p in parts:  # cut every part file in half: footer gone
        with open(p, "r+b") as f:
            f.truncate(os.path.getsize(p) // 2)
    with pytest.raises(Py4JJavaError):  # the parquet read fails in a task
        run_with_lineage(spark, docs, out, lin, "run-d", num_buckets=BUCKETS,
                         buckets_per_commit=PER_COMMIT)
    assert lineage_files() == parts  # no lineage rows appended
