"""Resume test (SURVEY.md §5.5): kill after k of n commits, rerun, assert
identical final table and no duplicate partitions."""

import datetime
import json
import os
import re
import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from extraction import catalog, lineage, pipeline
from extraction.corpus import gen_corpus
from extraction.lineage import committed_buckets, run_with_lineage
from extraction.oracle import extract_corpus
from extraction.pipeline import group_partitions, with_partition_id
from extraction.schema import DOCS_SCHEMA, LINEAGE_SCHEMA

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


def golden(n=N_DOCS, heavy_spans=100):
    return {
        d: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in v]
        for d, v in extract_corpus(gen_corpus(n, heavy_spans=heavy_spans)).items()
    }


def test_clean_run_commits_all_buckets(spark, docs, tmp_path):
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    run_with_lineage(spark, docs, out, lin, "run-a", num_buckets=BUCKETS,
                     buckets_per_commit=PER_COMMIT)
    assert committed_buckets(spark, lin, "run-a") == set(range(BUCKETS))
    assert read_result(spark, out) == golden()
    lrows = spark.read.parquet(lin).collect()
    assert len(lrows) == BUCKETS  # exactly one lineage row per bucket
    assert all(r.num_buckets == BUCKETS for r in lrows)
    assert sum(r.input_rows for r in lrows) == N_DOCS
    assert sum(r.output_rows for r in lrows) == N_DOCS
    assert all(r.docs_ok + r.docs_empty == r.output_rows for r in lrows)
    # one lineage file per commit
    assert _files(lin) == {lin: BUCKETS // PER_COMMIT}


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


def _tree(root):
    """{file path: (size, mtime_ns)} of every file under ``root``."""
    paths = (os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
    return {p: (st.st_size, st.st_mtime_ns) for p in paths for st in [os.stat(p)]}


def test_resume_at_another_bucket_count_refuses(spark, docs, tmp_path):
    """A crash at 8 buckets and a resume of the same run at 4: bucket b
    names other docs under 4 buckets, so skipping the committed ids
    would drop about half the docs without an error. The resume raises
    before any write and leaves output and lineage as they were."""
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_lineage(spark, docs, out, lin, "run-rb", num_buckets=8,
                         buckets_per_commit=4, fail_after_commits=1)
    before = _tree(tmp_path)
    assert committed_buckets(spark, lin, "run-rb", 8) == {0, 1, 2, 3}
    with pytest.raises(ValueError, match=r"num_buckets=\[8\].*num_buckets=4"):
        run_with_lineage(spark, docs, out, lin, "run-rb", num_buckets=4,
                         buckets_per_commit=4)
    assert _tree(tmp_path) == before
    # another run id over the same lineage is a fresh run, not a resume
    assert committed_buckets(spark, lin, "run-other", 4) == set()


def test_resume_over_another_snapshot_refuses(spark, docs, tmp_path):
    """A crash over input snapshot 1 and a resume of the same run over
    snapshot 2: the committed buckets hold the old input's docs, so
    skipping them would mix two versions of the input in one output. The
    resume raises before any write and leaves output and lineage as
    they were."""
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_lineage(spark, docs, out, lin, "run-snap", num_buckets=BUCKETS,
                         buckets_per_commit=PER_COMMIT, snapshot_id=1,
                         fail_after_commits=1)
    before = _tree(tmp_path)
    assert committed_buckets(spark, lin, "run-snap", BUCKETS, 1) == {0, 1}
    with pytest.raises(ValueError, match=r"snapshot_id=\[1\].*snapshot_id=2"):
        run_with_lineage(spark, docs, out, lin, "run-snap", num_buckets=BUCKETS,
                         buckets_per_commit=PER_COMMIT, snapshot_id=2)
    assert _tree(tmp_path) == before


def test_resume_over_lineage_without_bucket_count_refuses(spark, docs, tmp_path):
    """A lineage written before ``num_buckets`` existed reads the column
    as null: the bucket count of its commits is unknown, so a resume
    over it refuses instead of guessing."""
    out, lin, old = (str(tmp_path / n) for n in ("out", "lineage", "old"))
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_lineage(spark, docs, out, lin, "run-old", num_buckets=BUCKETS,
                         buckets_per_commit=PER_COMMIT, fail_after_commits=1)
    spark.read.parquet(lin).drop("num_buckets").write.parquet(old)
    before = _tree(tmp_path)
    with pytest.raises(ValueError, match=r"num_buckets=\[None\]"):
        run_with_lineage(spark, docs, out, old, "run-old", num_buckets=BUCKETS,
                         buckets_per_commit=PER_COMMIT)
    assert _tree(tmp_path) == before


def test_corrupt_input_file_fails_before_first_commit(spark, tmp_path):
    """One input part file cut to half its size: the run raises, and it
    commits nothing first, neither an output partition nor a lineage
    file. The stats pre-pass reads every input file before any group
    writes."""
    src, out, lin = (str(tmp_path / n) for n in ("in", "out", "lineage"))
    spark.createDataFrame(gen_corpus(N_DOCS, heavy_spans=100), schema=DOCS_SCHEMA) \
        .repartition(4).write.parquet(src)
    parts = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    assert len(parts) == 4
    victim = os.path.join(src, parts[1])
    with open(victim, "r+b") as f:
        f.truncate(os.path.getsize(victim) // 2)
    docs = spark.read.schema(DOCS_SCHEMA).parquet(src)
    with pytest.raises(Py4JJavaError):
        run_with_lineage(spark, docs, out, lin, "run-corrupt", num_buckets=BUCKETS,
                         buckets_per_commit=PER_COMMIT)
    assert not os.path.exists(lin)
    assert not os.path.exists(out) or not [
        d for d in os.listdir(out) if d.startswith("partition_id=")
    ]


def test_sparse_input_commits_every_bucket(spark, tmp_path):
    """3 docs over 8 buckets land in buckets 3, 4 and 5, so the first
    commit group {0, 1} writes no output at all. Every bucket still
    commits, empty ones included, and a rerun is a no-op. The lineage
    rows go to Spark as an Arrow table and read back exactly: declared
    types, a snapshot id past 2^32, null hashes on empty buckets, and
    committed_at inside the run's wall window."""
    sparse = spark.createDataFrame(gen_corpus(3, heavy_spans=100), schema=DOCS_SCHEMA)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    snapshot = 2**40 + 7
    start = datetime.datetime.now()
    run_with_lineage(spark, sparse, out, lin, "run-s", num_buckets=BUCKETS,
                     buckets_per_commit=PER_COMMIT, snapshot_id=snapshot)
    end = datetime.datetime.now()
    assert committed_buckets(spark, lin, "run-s") == set(range(BUCKETS))
    assert read_result(spark, out) == golden(3)
    back = spark.read.parquet(lin)
    types = {f.name: f.dataType for f in back.schema.fields}
    assert types == {f.name: f.dataType for f in LINEAGE_SCHEMA.fields}
    assert types["snapshot_id"] == types["min_hash"] == LongType()
    lrows = back.collect()
    assert len(lrows) == BUCKETS
    assert all(r.snapshot_id == snapshot and start <= r.committed_at <= end for r in lrows)
    empty = [r for r in lrows if r.input_rows == 0]
    assert empty and all(
        r.output_rows == r.spans_in == r.spans_out == 0
        and r.min_hash is None and r.max_hash is None
        for r in empty
    )
    assert all(r.min_hash <= r.max_hash for r in lrows if r.input_rows)

    run_with_lineage(spark, sparse, out, lin, "run-s", num_buckets=BUCKETS,
                     buckets_per_commit=PER_COMMIT, snapshot_id=snapshot)
    assert spark.read.parquet(lin).count() == BUCKETS  # no row appended


def test_sparse_input_lineage_row_per_bucket(spark, tmp_path):
    sparse = spark.createDataFrame(gen_corpus(40, heavy_spans=100), schema=DOCS_SCHEMA)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    run_with_lineage(spark, sparse, out, lin, "run-t", num_buckets=64,
                     buckets_per_commit=16)
    lrows = spark.read.parquet(lin).collect()
    assert sorted(r.partition_id for r in lrows) == list(range(64))
    assert sum(r.input_rows for r in lrows) == sum(r.output_rows for r in lrows) == 40


def test_lineage_rows_equal_per_bucket_aggregates(spark, docs, tmp_path):
    """Each bucket's lineage row, from the first run and from the resume
    alike, equals a groupBy over the committed output and over the
    bucketed input."""
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_lineage(spark, docs, out, lin, "run-e", num_buckets=BUCKETS,
                         buckets_per_commit=PER_COMMIT, fail_after_commits=2)
    run_with_lineage(spark, docs, out, lin, "run-e", num_buckets=BUCKETS,
                     buckets_per_commit=PER_COMMIT)

    def by_bucket(df, *aggs):
        return {r.partition_id: r.asDict() for r in df.groupBy("partition_id").agg(*aggs).collect()}

    n = F.size("spans")
    got_out = by_bucket(
        spark.read.parquet(out),
        F.count("*").alias("output_rows"),
        F.count_if(n > 0).alias("docs_ok"),
        F.count_if(n == 0).alias("docs_empty"),
        F.sum(n).alias("spans_out"),
    )
    got_in = by_bucket(
        with_partition_id(docs, BUCKETS),
        F.count("*").alias("input_rows"),
        F.sum(n).alias("spans_in"),
        F.min(F.xxhash64("doc_id")).alias("min_hash"),
        F.max(F.xxhash64("doc_id")).alias("max_hash"),
    )
    lrows = {r.partition_id: r.asDict() for r in spark.read.parquet(lin).collect()}
    assert sorted(lrows) == list(range(BUCKETS))
    assert sorted(got_out) == sorted(got_in) == list(range(BUCKETS))
    for b, row in lrows.items():
        for want in (got_out[b], got_in[b]):
            assert {k: row[k] for k in want} == want, b


def test_run_leaves_session_overwrite_mode_alone(spark, docs, tmp_path):
    """The bucket write sets dynamic overwrite on itself. Under a static
    session a crash and resume still keeps the committed buckets, and
    the session conf is as the caller left it."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
        with pytest.raises(RuntimeError, match="injected failure"):
            run_with_lineage(spark, docs, out, lin, "run-f", num_buckets=BUCKETS,
                             buckets_per_commit=PER_COMMIT, fail_after_commits=2)
        run_with_lineage(spark, docs, out, lin, "run-f", num_buckets=BUCKETS,
                         buckets_per_commit=PER_COMMIT)
        assert spark.conf.get(key) == "STATIC"
        assert read_result(spark, out) == golden()
    finally:
        spark.conf.set(key, before)


def _files(root, ext=".parquet"):
    """{directory: parquet file count} under ``root``."""
    return {d: sum(f.endswith(ext) for f in fs) for d, _, fs in os.walk(root)}


@pytest.mark.parametrize("task_spans", [pipeline.TASK_SPANS, 300])
def test_group_kernel_partitions_follow_span_mass(spark, tmp_path, monkeypatch, task_spans):
    """Each commit group places whole buckets on min(its buckets,
    group_partitions(P, its spans, cores)) kernel tasks through exactly
    one shuffle, with no join, and those tasks write the buckets: one
    file per bucket. A small TASK_SPANS raises the count to one task per
    bucket, below P; the output and lineage stay exact either way."""
    heavy, buckets, per_commit, p = 2000, 16, 8, 16
    docs = spark.createDataFrame(gen_corpus(N_DOCS, heavy_spans=heavy), schema=DOCS_SCHEMA)
    monkeypatch.setattr(pipeline, "TASK_SPANS", task_spans)
    plans = []

    def recording(df, ref, col):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return catalog.overwrite_buckets(df, ref, col)

    monkeypatch.setattr(lineage, "overwrite_buckets", recording)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    run_with_lineage(spark, docs, out, lin, "run-p", num_buckets=buckets,
                     buckets_per_commit=per_commit, num_partitions=p)

    spans = {
        r.partition_id: r.spans
        for r in with_partition_id(docs, buckets)
        .groupBy("partition_id").agg(F.sum(F.size("spans")).alias("spans")).collect()
    }
    cores = spark.sparkContext.defaultParallelism
    want = [
        min(per_commit, group_partitions(p, sum(spans.get(b, 0) for b in range(lo, lo + per_commit)), cores))
        for lo in range(0, buckets, per_commit)
    ]
    assert want == [per_commit if task_spans == 300 else cores] * 2
    shuffle = re.compile(r"Exchange hashpartitioning\(.*, (\d+)\), REPARTITION_BY_NUM")
    assert len(plans) == len(want)
    for plan, k in zip(plans, want):
        assert "CollectMetrics" not in plan, plan
        assert plan.count("Exchange") == 1, plan
        assert [int(m) for m in shuffle.findall(plan)] == [k], plan
        assert "BroadcastHashJoin" not in plan, plan
        # the tree prints the kernel above the shuffle that feeds it
        assert plan.index("MapInArrow") < plan.index("Exchange"), plan

    assert read_result(spark, out) == golden(heavy_spans=heavy)
    lrows = spark.read.parquet(lin).collect()
    assert sorted(r.partition_id for r in lrows) == list(range(buckets))
    assert sum(r.input_rows for r in lrows) == sum(r.output_rows for r in lrows) == N_DOCS
    written = {os.path.basename(d): n for d, n in _files(out).items() if n}
    assert written == {f"partition_id={b}": 1 for b in spans}
    # each bucket's file comes from the kernel task lpt placed it on (a
    # write task names its file part-<task index>)
    for lo, k in zip(range(0, buckets, per_commit), want):
        group = range(lo, lo + per_commit)
        place = pipeline.lpt([(b, spans.get(b, 0)) for b in group], k)
        for b in set(group) & set(spans):
            (name,) = [f for f in os.listdir(os.path.join(out, f"partition_id={b}")) if f.endswith(".parquet")]
            assert name.startswith(f"part-{place[b]:05d}-"), (b, name, place)


def test_few_heavy_buckets_keep_every_core(spark, tmp_path, monkeypatch):
    """A group with fewer buckets than cores whose buckets each carry more
    than TASK_SPANS runs its kernel doc-level on group_partitions(P,
    spans, cores) tasks, then a second shuffle gives each bucket its one
    write task: whole-bucket placement would run 2 kernel tasks on 4
    cores. Output, lineage and one file per bucket stay exact."""
    heavy, buckets, per_commit, p = 2000, 8, 2, 16
    docs = spark.createDataFrame(gen_corpus(N_DOCS, heavy_spans=heavy), schema=DOCS_SCHEMA)
    for mod in (pipeline, lineage):
        monkeypatch.setattr(mod, "TASK_SPANS", 300)
    plans = []

    def recording(df, ref, col):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return catalog.overwrite_buckets(df, ref, col)

    monkeypatch.setattr(lineage, "overwrite_buckets", recording)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    run_with_lineage(spark, docs, out, lin, "run-f", num_buckets=buckets,
                     buckets_per_commit=per_commit, num_partitions=p)

    spans = {
        r.partition_id: r.spans
        for r in with_partition_id(docs, buckets)
        .groupBy("partition_id").agg(F.sum(F.size("spans")).alias("spans")).collect()
    }
    cores = spark.sparkContext.defaultParallelism
    assert per_commit < cores
    groups = [range(lo, lo + per_commit) for lo in range(0, buckets, per_commit)]
    mass = [sum(spans.get(b, 0) for b in g) for g in groups]
    assert all(m > per_commit * 300 for m in mass)
    shuffle = re.compile(r"Exchange hashpartitioning\(.*, (\d+)\), REPARTITION_BY_NUM")
    assert len(plans) == len(groups)
    for plan, m in zip(plans, mass):
        assert "CollectMetrics" not in plan, plan
        # top-down: the routing shuffle into one write task per bucket
        # above the kernel, the kernel's own shuffle into k below it
        assert [int(x) for x in shuffle.findall(plan)] == [per_commit, group_partitions(p, m, cores)], plan
        assert shuffle.search(plan).start() < plan.index("MapInArrow"), plan

    assert read_result(spark, out) == golden(heavy_spans=heavy)
    lrows = spark.read.parquet(lin).collect()
    assert sorted(r.partition_id for r in lrows) == list(range(buckets))
    assert sum(r.input_rows for r in lrows) == sum(r.output_rows for r in lrows) == N_DOCS
    written = {os.path.basename(d): n for d, n in _files(out).items() if n}
    assert written == {f"partition_id={b}": 1 for b in spans}


def test_missing_lineage_is_not_read(spark, tmp_path, monkeypatch):
    """A lineage that was never written is a first run: nothing is read
    (reading a missing path logs a stack trace), nothing is committed."""

    def unread(*args, **kwargs):
        raise AssertionError("read_back called on a missing lineage")

    monkeypatch.setattr(lineage, "read_back", unread)
    assert committed_buckets(spark, str(tmp_path / "never-written"), "run-m") == set()


def test_stats_pre_pass_reads_only_span_kinds(spark, tmp_path, monkeypatch):
    """The pre-pass's span count is the size of ``spans.kind``, so its
    parquet scan decodes no span text, media ref or offset."""
    src, out, lin = (str(tmp_path / n) for n in ("in", "out", "lineage"))
    spark.createDataFrame(gen_corpus(N_DOCS, heavy_spans=100), schema=DOCS_SCHEMA) \
        .write.parquet(src)
    docs = spark.read.schema(DOCS_SCHEMA).parquet(src)
    plans = []
    collect = type(docs).collect

    def recording(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return collect(df)

    monkeypatch.setattr(type(docs), "collect", recording)
    run_with_lineage(spark, docs, out, lin, "run-k", num_buckets=BUCKETS,
                     buckets_per_commit=PER_COMMIT)
    monkeypatch.undo()
    (plan,) = [p for p in plans if "FileScan parquet" in p]
    assert "ReadSchema: struct<doc_id:string,spans:array<struct<kind:string>>>" in plan, plan
    assert sum(r.spans_in for r in spark.read.parquet(lin).collect()) == sum(
        len(spans) for _, spans in gen_corpus(N_DOCS, heavy_spans=100)
    )


# Runs in its own session on local[4,2], which allows one retry per task
# (the shared session allows none). The first kernel task of the first
# commit group fails on its first attempt after it has emitted a batch.
# On the doc-level ("spread") branch the kernel runs in a shuffle-map
# stage: while that task is held, the map outputs of the stage's other
# tasks are unregistered, as a lost executor would lose them, so Spark
# runs those tasks again after they have succeeded once. Prints the
# lineage rows and the read-back per-bucket aggregates as one JSON line.
RETRY_JOB = r"""
import json, os, sys, threading, time
from pyspark import TaskContext
from pyspark.sql import functions as F
from extraction import lineage, pipeline
from extraction.corpus import gen_corpus
from extraction.job import build_session
from extraction.pipeline import with_partition_id
from extraction.schema import DOCS_SCHEMA

branch, root = sys.argv[1], sys.argv[2]
out, lin = os.path.join(root, "out"), os.path.join(root, "lineage")
held, go = os.path.join(root, "held"), os.path.join(root, "go")
spark = build_session("local[4,2]", shuffle_partitions=8, app="retry-test")
sc = spark.sparkContext
if branch == "spread":
    heavy, p = 2000, 16
    pipeline.TASK_SPANS = lineage.TASK_SPANS = 300
else:
    heavy, p = 100, None
docs = spark.createDataFrame(gen_corpus(120, heavy_spans=heavy), schema=DOCS_SCHEMA)
real = lineage.extract_tally

def failing(acc, it):
    ctx = TaskContext.get()
    first = ctx.partitionId() == 0 and ctx.attemptNumber() == 0
    for rb in real(acc, it):
        yield rb
        if not first:
            continue
        first = False
        try:  # once per run
            fd = os.open(held, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        os.write(fd, str(ctx.stageId()).encode())
        os.close(fd)
        deadline = time.monotonic() + 120
        while branch == "spread" and not os.path.exists(go) and time.monotonic() < deadline:
            time.sleep(0.05)
        raise RuntimeError("injected task failure")

lost = []

def held_stage():
    if os.path.exists(held):
        with open(held) as f:
            return f.read()

def lose_map_outputs():
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        if held_stage():
            info = sc.statusTracker().getStageInfo(int(held_stage()))
            if info and info.numCompletedTasks == info.numTasks - 1:
                break
        time.sleep(0.05)
    tracker = sc._jvm.org.apache.spark.SparkEnv.get().mapOutputTracker()
    # the newest shuffle is the one the held stage writes
    shuffle = max(i for i in range(1000) if tracker.containsShuffle(i))
    lost.append(tracker.getNumAvailableOutputs(shuffle))
    tracker.unregisterAllMapAndMergeOutput(shuffle)
    open(go, "w").close()

if branch == "spread":
    threading.Thread(target=lose_map_outputs, daemon=True).start()
lineage.extract_tally = failing
lineage.run_with_lineage(spark, docs, out, lin, "run-retry", num_buckets=8,
                         buckets_per_commit=2, num_partitions=p)

def by_bucket(df, *aggs):
    return {r.partition_id: r.asDict() for r in df.groupBy("partition_id").agg(*aggs).collect()}

n = F.size("spans")
got = by_bucket(
    spark.read.parquet(out),
    F.count("*").alias("output_rows"),
    F.count_if(n > 0).alias("docs_ok"),
    F.count_if(n == 0).alias("docs_empty"),
    F.sum(n).alias("spans_out"),
)
got_in = by_bucket(
    with_partition_id(docs, 8),
    F.count("*").alias("input_rows"),
    F.sum(n).alias("spans_in"),
)
for b, row in got_in.items():
    got.setdefault(b, {}).update(row)
rows = [r.asDict() for r in spark.read.parquet(lin).drop("committed_at").collect()]
print("RETRY_RESULT " + json.dumps({
    "lineage": rows, "got": got, "held": os.path.exists(held), "lost": lost,
}))
"""


@pytest.mark.parametrize("branch", ["whole", "spread"])
def test_task_retry_counts_each_bucket_once(tmp_path, branch):
    """A kernel task that fails after emitting a batch and succeeds on
    its retry, and (doc-level branch) kernel tasks that Spark runs again
    after their map outputs are lost: every lineage row still equals the
    read-back per-bucket aggregates of the written output and the
    input."""
    env = {**os.environ, "EXTRACTION_DRIVER_MEM": "1g"}
    done = subprocess.run(
        [sys.executable, "-c", RETRY_JOB, branch, str(tmp_path)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-4000:]
    (line,) = [x for x in done.stdout.splitlines() if x.startswith("RETRY_RESULT ")]
    res = json.loads(line.removeprefix("RETRY_RESULT "))
    assert res["held"]  # the injected failure ran
    assert "injected task failure" in done.stderr
    if branch == "spread":
        assert res["lost"] and res["lost"][0] > 0, res["lost"]
    rows = {r["partition_id"]: r for r in res["lineage"]}
    got = {int(b): v for b, v in res["got"].items()}
    assert sorted(rows) == list(range(8))
    assert sorted(got) == list(range(8))
    for b, row in rows.items():
        assert {k: row[k] for k in got[b]} == got[b], b
