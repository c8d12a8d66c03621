#!/usr/bin/env python3
"""Layered benchmark of the PySpark extraction engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Runs one workload on ``local[<cores>]`` in a fresh Spark session, checks
its outputs (gate.py) and prints every metric with its unit, then one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run splits the workload into layers named after the modules in
``src/extraction`` (see perfbench/README.md).

Everything the run writes stays under ``.perfbench/`` in the checkout:
the input cache, the Spark local dir, the job's output and lineage.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.path.join(ROOT, "src")
WORK = os.path.join(ROOT, ".perfbench")
CONTRACT_DATA = os.path.join(ROOT, "perfbench", "data", "sf0.001")
for _p in (SRC, ROOT):
    if _p not in sys.path:
        sys.path.insert(0, _p)

NON_MEDIA = frozenset(f for f in range(100) if not 90 <= f < 95)

WORKLOADS = {
    # the shipped job: every family through run_with_lineage with job.py's
    # 64 buckets committed 16 at a time (4 commit groups). Its traced run
    # also times one __spark_entry__ query per operator family.
    "mixed_job": {
        "kind": "job", "docs": 4000, "families": None, "heavy_spans": 2000,
        "buckets": 64, "per_commit": 16, "min_passes": 1,
        "contract_queries": [
            "extract_kind_stats", "q2_interval_merge", "t3_weighted_sample",
            "dedup_ngram_jaccard", "text_quality", "ann_sq8_top1",
            "multimodal_features", "graph_pagerank",
        ],
    },
    # kernel stress: every family but media-heavy, pipeline into noop.
    # The first full pass costs ~30% more CPU than the next ones, so a run
    # takes at least three, and their median is a warm pass
    "text_extract": {
        "kind": "pipeline", "docs": 24000, "families": NON_MEDIA, "heavy_spans": 2000,
        "min_passes": 3,
    },
}

LEG_REPS = 2  # each prefix leg runs this often in a traced run (min kept)

# CPU seconds, not wall seconds: on a shared VM the hypervisor steals
# 1-27% of the CPU time, varying from minute to minute, and wall-clock
# docs/s then spreads up to 0.28 (IQR/median) across runs. Stolen time is
# charged to no process, so CPU seconds per doc spread 0.05-0.11. CPU
# time cannot show a gain that only removes idle time; wall-clock docs/s
# and set-up wall are printed with every run, and docs/s is a traced
# metric.
END_TO_END_UNITS = {"cpu_s_per_kdoc": "s", "setup_s": "s", "peak_rss_mb": "MiB"}


def query_family(name: str) -> str:
    """Operator family of a contract query, from its name prefix."""
    for prefix, fam in (
        ("extract_", "extract"), ("dedup_", "dedup"), ("text_", "text"),
        ("ann_", "ann"), ("emb_", "ann"), ("multimodal_", "multimodal"),
        ("graph_", "graph"), ("corpus_", "corpus"),
    ):
        if name.startswith(prefix):
            return fam
    if name[0] == "t" and name[1].isdigit():
        return "tabular"
    return "layout"


# families with a query in the list, in first-appearance order
CONTRACT_FAMILIES = tuple(dict.fromkeys(
    query_family(q) for q in WORKLOADS["mixed_job"]["contract_queries"]
))

PER_LAYER_UNITS = {
    "catalog.scan_s": "s", "catalog.input_mb": "MiB", "catalog.overwrite_s": "s",
    "catalog.append_s": "s", "catalog.read_back_s": "s", "catalog.output_mb": "MiB",
    "catalog.files_written": "count",
    "pipeline.transport_s": "s", "pipeline.repartition_s": "s",
    "pipeline.partition_skew": "ratio", "pipeline.heavy_docs": "count", "pipeline.lpt": "count",
    "segment.kernel_s": "s", "segment.kernel_1core_s": "s", "segment.spans_in": "count",
    "segment.spans_out": "count", "segment.docs_empty": "count", "segment.budget_slices": "count",
    "classify.classify_1core_s": "s", "classify.text_spans": "count",
    "postprocess.postprocess_1core_s": "s",
    "lineage.commit_groups": "count", "lineage.per_group_s": "s", "lineage.self_s": "s",
    "lineage.resume_s": "s", "lineage.input_rows_read_per_doc": "ratio",
    "job.build_session_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.failed_tasks": "count",
    "spark.executor_run_s": "s", "spark.cores_busy_frac": "ratio", "spark.jvm_gc_s": "s",
    "spark.spill_mb": "MiB", "spark.shuffle_write_mb": "MiB",
    **{f"contract.{f}_s": "s" for f in CONTRACT_FAMILIES},
    "contract.total_s": "s", "contract.query_p50_s": "s", "contract.query_p80_s": "s",
    "trace.unattributed_s": "s", "trace.overhead_frac": "ratio",
    "workload.docs_per_s": "1/s", "host.cpu_steal_frac": "ratio", "host.membw_gbps": "GB/s",
}


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 1]) of ``values``."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class Run:
    """One benchmark invocation: a Spark session and the workload on it."""

    def __init__(self, workload: str, cfg: dict, seed: int, seconds: float, cores: int, work_dir: str):
        self.workload, self.cfg, self.seed = workload, cfg, seed
        self.seconds, self.cores = seconds, cores
        self.job_kind = cfg["kind"] == "job"
        self.dirs = {k: os.path.join(work_dir, k) for k in ("out", "lineage", "warm", "tmp")}
        # kernel partitions for repartition_packed: 4 per core, as in
        # job.py's usage line (local[32], --partitions 128) and bench.py
        self.partitions = 4 * cores
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.t0 = time.perf_counter()

    def log(self, what: str) -> None:
        print(f"perfbench {time.perf_counter() - self.t0:7.2f}s {what}", file=sys.stderr, flush=True)

    # -- session ---------------------------------------------------------

    def prepare(self, cache_root: str, trace: bool) -> None:
        """Build or reuse the inputs; runs before the session starts."""
        from inputs import ensure_corpus, select_indices

        self.indices = select_indices(self.cfg["docs"], self.cfg["families"])
        self.corpus = ensure_corpus(
            cache_root, SRC, self.workload, self.seed, self.indices,
            self.cfg["heavy_spans"], self.cores,
        )
        self.queries = self.cfg.get("contract_queries", []) if trace else []
        if self.queries:
            from gate import oracle_hashes

            self.expected = oracle_hashes(
                self.queries, CONTRACT_DATA,
                os.path.join(cache_root, "oracle_hashes.json"), self.dirs["tmp"],
            )

    def start(self) -> None:
        from probes import tree_cpu_s

        self.cpu0 = tree_cpu_s(os.getpid())
        t = time.perf_counter()
        from extraction.job import build_session

        self.spark = build_session(f"local[{self.cores}]", 64, app="perfbench")  # job.py's 64
        self.session_s = time.perf_counter() - t
        self.log(f"session up in {self.session_s:.2f}s")
        # workers import `extraction` from PYTHONPATH (set before launch);
        # tell __spark_entry__ not to zip and ship it a second time
        self.spark._extraction_zip_added = True
        from probes import SparkRest

        self.rest = SparkRest(self.spark)

    def peak_rss_mb(self) -> float:
        from probes import descendants, vm_hwm_mb

        return vm_hwm_mb([os.getpid()] + descendants(os.getpid()))

    def stop(self) -> None:
        """Stop the session and wait until the JVM and every worker exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        from probes import descendants, wait_gone

        gateway = SparkContext._gateway
        kids = [gateway.proc.pid] + descendants(gateway.proc.pid)
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        if not wait_gone(kids, 60):
            raise RuntimeError("Spark JVM or Python workers still alive 60 s after stop")

    # -- one pass of the workload -----------------------------------------

    def docs(self, path: str | None = None):
        from extraction.schema import DOCS_SCHEMA

        return self.spark.read.schema(DOCS_SCHEMA).parquet(path or self.corpus["path"])

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def job(self, docs, out: str, lineage: str, run_id: str, buckets: int, per_commit: int) -> float:
        """run_with_lineage into empty ``out``/``lineage`` dirs; returns its wall."""
        from extraction.lineage import run_with_lineage

        rmtree(out)
        rmtree(lineage)
        t = time.perf_counter()
        run_with_lineage(
            self.spark, docs, out, lineage, run_id, num_buckets=buckets,
            buckets_per_commit=per_commit, num_partitions=self.partitions,
        )
        return time.perf_counter() - t

    def setup(self) -> float:
        """Load the input and take the workload's path once over one input
        part (the first Python workers, JIT). Timed once per run: the JVM
        and the first Python pass exist once per process, and a repeated
        set-up would time a warm path."""
        from extraction.pipeline import run_extraction

        t = time.perf_counter()
        n = self.docs().count()
        if n != self.corpus["docs"]:
            raise RuntimeError(f"input holds {n} docs, manifest says {self.corpus['docs']}")
        warm = self.docs(self.corpus["parts"][0])
        if self.job_kind:
            self.job(warm, os.path.join(self.dirs["warm"], "out"),
                     os.path.join(self.dirs["warm"], "lineage"), "warm", 4, 4)
        else:
            self.noop(run_extraction(warm, num_partitions=self.partitions))
        setup = time.perf_counter() - t
        self.log(f"set-up {setup:.2f}s")
        return setup

    def pass_dirs(self, k: int) -> tuple[str, str]:
        """Output and lineage dirs of job pass ``k`` (run id ``p<k>``)."""
        return os.path.join(self.dirs["out"], f"p{k}"), os.path.join(self.dirs["lineage"], f"p{k}")

    def one_pass(self, k: int) -> float:
        """One timed pass over the whole input (a job runs as ``p<k>``)."""
        if self.job_kind:
            return self.job(
                self.docs(), *self.pass_dirs(k), f"p{k}",
                self.cfg["buckets"], self.cfg["per_commit"],
            )
        from extraction.pipeline import run_extraction

        t = time.perf_counter()
        self.noop(run_extraction(self.docs(), num_partitions=self.partitions))
        return time.perf_counter() - t

    # -- correctness gate --------------------------------------------------

    def job_summary(self, out_dir: str) -> dict:
        from extraction.catalog import read_back
        from gate import output_summary

        return output_summary(read_back(self.spark, out_dir).select("doc_id", "spans"))

    def gate(self, passes: int, out_dir: str | None = None) -> dict:
        """Gate the workload's output; returns the summary of the last one.

        Every output's hash must equal the narrow kernel's (``extract``,
        no repartition) on the same input. Job: the outputs are those of
        job passes ``0..passes-1``, and the lineage of the last pass is
        checked; ``out_dir`` replaces the last pass's output. Pipeline:
        one more pass is persisted and checked.
        """
        import gate
        from extraction.pipeline import extract, run_extraction

        docs_n = self.corpus["docs"]
        if self.job_kind:
            from extraction.catalog import read_back

            last_out, last_lineage = self.pass_dirs(passes - 1)
            out_dir = out_dir or last_out
            summaries = [self.job_summary(self.pass_dirs(k)[0]) for k in range(passes - 1)]
            summaries.append(self.job_summary(out_dir))
            errors = gate.lineage_errors(self.spark, last_lineage, f"p{passes - 1}", self.cfg["buckets"], docs_n)
            out = read_back(self.spark, out_dir).select("doc_id", "spans")
        else:
            errors = []
            out = run_extraction(self.docs(), num_partitions=self.partitions).persist()
            summaries = [gate.output_summary(out)]
        summaries.append(gate.output_summary(extract(self.docs())))
        lineage_bad = bool(errors)
        sample = gate.sample_indices(self.indices, self.seed)
        mismatches = gate.oracle_mismatches(out, sample, self.seed, self.corpus["heavy_spans"])
        out.unpersist()
        if len({s["hash"] for s in summaries}) > 1:
            errors.append(f"output hash differs across outputs and the narrow kernel: {[s['hash'] for s in summaries]}")
        for s in summaries:
            if s["rows"] != docs_n or s["docs"] != docs_n:
                errors.append(f"output rows={s['rows']} distinct={s['docs']}, input docs={docs_n}")
        if mismatches:
            errors.append(f"{mismatches}/{len(sample)} sampled docs differ from the oracle")
        self.notes += errors
        self.attempted += docs_n
        self.failed += gate.failed_docs(docs_n, summaries, mismatches, lineage_bad)
        return summaries[-2]

    def contract_pass(self) -> tuple[list[tuple[str, float]], float]:
        """Each contract query once (its first execution in this session),
        value-hashed against its oracle: the per-query walls and the wall
        of the whole pass."""
        import __spark_entry__ as entry
        from gate import value_hash

        qs = entry.queries()
        times = []
        t_pass = time.perf_counter()
        for name in self.queries:
            self.attempted += 1
            t = time.perf_counter()
            try:
                df = qs[name](self.spark, CONTRACT_DATA)
                rows = df.collect()
            except Exception as e:  # a failing query is counted, not fatal
                times.append((name, time.perf_counter() - t))
                self.failed += 1
                self.notes.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            times.append((name, time.perf_counter() - t))
            self.log(f"{name} {times[-1][1]:.2f}s")
            got = value_hash(df.columns, rows)
            if got != self.expected[name]:
                self.failed += 1
                self.notes.append(f"{name}: value hash {got[:12]} != oracle {self.expected[name][:12]}")
        return times, time.perf_counter() - t_pass

    # -- the two run modes -----------------------------------------------

    def measure(self) -> dict:
        """Untraced run: the end-to-end metrics."""
        from probes import tree_cpu_s

        self.setup_wall_s = self.session_s + self.setup()
        setup_cpu_s = tree_cpu_s(os.getpid()) - self.cpu0
        walls, cpus = [], []
        t_end = time.perf_counter() + self.seconds
        while len(walls) < self.cfg["min_passes"] or time.perf_counter() < t_end:
            c0 = tree_cpu_s(os.getpid())
            walls.append(self.one_pass(len(walls)))
            cpus.append(tree_cpu_s(os.getpid()) - c0)
        # before the gate, whose own passes would raise the high-water mark
        peak_rss_mb = self.peak_rss_mb()
        self.log(f"passes: {[round(w, 2) for w in walls]} s wall, {[round(c, 1) for c in cpus]} s CPU")
        self.gate(len(walls))
        self.samples = len(walls)
        self.docs_per_s = self.corpus["docs"] / percentile(walls, 0.5)
        return {
            "cpu_s_per_kdoc": percentile(cpus, 0.5) / self.corpus["docs"] * 1000,
            "setup_s": setup_cpu_s,
            "peak_rss_mb": peak_rss_mb,
        }

    def layers(self, membw: float) -> dict:
        """Traced run: the per-layer metrics. A layer the workload does
        not exercise reads 0."""
        from pyspark.sql import functions as F

        from extraction import lineage, pipeline
        from extraction.schema import DOCS_SCHEMA
        from inputs import dir_mb
        from probes import Spans, cpu_ticks

        m = {k: 0.0 for k in PER_LAYER_UNITS}
        m["host.membw_gbps"] = membw
        m["job.build_session_s"] = self.session_s
        self.setup()
        docs_n = self.corpus["docs"]

        # one pass with the seams between modules wrapped
        spans = Spans()
        # only repartition_packed calls pipeline's binding of this name
        # (lineage imports its own), and only on its LPT path
        spans.wrap(pipeline, "partition_index_salts", "pipeline.lpt_salts")
        if self.job_kind:
            spans.wrap(lineage, "committed_buckets", "lineage.resume")
            spans.wrap(lineage, "overwrite_buckets", "catalog.overwrite")
            spans.wrap(lineage, "append_rows", "catalog.append")
            spans.wrap(lineage, "read_back", "catalog.read_back")
            spans.wrap(lineage, "run_extraction", "pipeline.run_extraction")
            spans.wrap(lineage, "run_with_lineage", "lineage.run")
        else:
            spans.wrap(pipeline, "repartition_packed", "pipeline.repartition_packed")
        mark = self.rest.mark()
        ticks0 = cpu_ticks()
        with spans.active():
            root = self.one_pass(0)
        # steal while the pass ran, to compare docs/s at like steal
        steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        m["host.cpu_steal_frac"] = steal / max(total, 1)
        # the untraced wall is the traced wall less the wrappers' own time
        m["trace.overhead_frac"] = spans.own_s / (root - spans.own_s)
        m["workload.docs_per_s"] = docs_n / (root - spans.own_s)
        stage = self.rest.since(mark, root, self.cores)
        m["lineage.input_rows_read_per_doc"] = stage.pop("input_records") / docs_n
        m.update(stage)
        m["pipeline.lpt"] = int(spans.calls["pipeline.lpt_salts"] > 0)

        # prefix legs into the noop sink, best of LEG_REPS: scan,
        # + identity mapInArrow, + kernel (narrow extract), + repartition_packed
        docs = self.docs()
        legs = {
            "scan": lambda: docs,
            "identity": lambda: docs.select("doc_id", "spans").mapInArrow(lambda it: it, DOCS_SCHEMA),
            "kernel": lambda: pipeline.extract(docs),
            "pipeline": lambda: pipeline.run_extraction(docs, num_partitions=self.partitions),
        }
        best = {k: float("inf") for k in legs}
        for _ in range(LEG_REPS):
            for k, build in legs.items():
                t = time.perf_counter()
                self.noop(build())
                best[k] = min(best[k], time.perf_counter() - t)
        self.log(f"legs: { {k: round(v, 2) for k, v in best.items()} }")
        m["catalog.scan_s"] = best["scan"]
        m["pipeline.transport_s"] = best["identity"] - best["scan"]
        m["segment.kernel_s"] = best["kernel"] - best["identity"]
        m["pipeline.repartition_s"] = best["pipeline"] - best["kernel"]

        # exact span mass per kernel partition after repartition_packed
        # over the whole input
        n = F.size("spans")
        agg = docs.agg(
            F.sum((n > pipeline.HEAVY_SPAN_THRESHOLD).cast("long")).alias("heavy"),
            F.sum(n).alias("spans"),
        ).collect()[0]
        mass = [0] * self.partitions
        for r in (
            pipeline.repartition_packed(docs, self.partitions)
            .select(F.spark_partition_id().alias("p"), n.alias("m"))
            .groupBy("p").agg(F.sum("m").alias("m")).collect()
        ):
            mass[r.p] = r.m
        m["pipeline.partition_skew"] = max(mass) / (sum(mass) / len(mass))
        m["pipeline.heavy_docs"] = int(agg.heavy or 0)
        m["segment.spans_in"] = int(agg.spans or 0)
        m["catalog.input_mb"] = dir_mb(self.corpus["path"], ".parquet")[0]

        self.kernel_in_process(m)
        summary = self.gate(1)
        m["segment.spans_out"] = summary["spans_out"]
        m["segment.docs_empty"] = summary["docs_empty"]
        if not self.job_kind:
            m["trace.unattributed_s"] = root - best["pipeline"]
            return m

        catalog = sum(spans.total[k] for k in ("catalog.overwrite", "catalog.append", "catalog.read_back"))
        m["catalog.overwrite_s"] = spans.total["catalog.overwrite"]
        m["catalog.append_s"] = spans.total["catalog.append"]
        m["catalog.read_back_s"] = spans.total["catalog.read_back"]
        out_dir, lineage_dir = self.pass_dirs(0)
        m["catalog.output_mb"], out_files = dir_mb(out_dir, ".parquet")
        m["catalog.files_written"] = out_files + dir_mb(lineage_dir, ".parquet")[1]
        groups = -(-self.cfg["buckets"] // self.cfg["per_commit"])
        m["lineage.commit_groups"] = groups
        m["lineage.per_group_s"] = (root - best["pipeline"]) / groups
        m["lineage.resume_s"] = spans.total["lineage.resume"]
        # whatever run_with_lineage spends outside the wrapped calls is
        # lineage's own, so the spans tile the call by construction and
        # unattributed time is only the harness's around it
        m["lineage.self_s"] = spans.total["lineage.run"] - catalog - spans.total["pipeline.run_extraction"]
        m["trace.unattributed_s"] = root - spans.total["lineage.run"]

        # __spark_entry__: one query per operator family, after the job
        times = self.contract_pass()[0]
        for name, t in times:
            m[f"contract.{query_family(name)}_s"] += t
        walls = [t for _, t in times]
        m["contract.total_s"] = sum(walls)
        m["contract.query_p50_s"] = percentile(walls, 0.5)
        m["contract.query_p80_s"] = percentile(walls, 0.8)
        return m

    def kernel_in_process(self, m: dict) -> None:
        """segment.extract_batches on this corpus's Arrow batches, one core."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from extraction import segment
        from probes import Spans

        batch_rows = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        batches = [
            b
            for part in self.corpus["parts"]
            for b in pq.ParquetFile(part).iter_batches(batch_size=batch_rows, columns=["doc_id", "spans"])
        ]
        spans = Spans()
        spans.wrap(segment, "classify_flat", "classify")
        spans.wrap(segment, "postprocess_doc", "postprocess")
        with spans.active():
            t = time.perf_counter()
            out = list(segment.extract_batches(iter(batches)))
            m["segment.kernel_1core_s"] = time.perf_counter() - t
        m["classify.classify_1core_s"] = spans.total["classify"]
        m["postprocess.postprocess_1core_s"] = spans.total["postprocess"]
        m["segment.budget_slices"] = len(out) - len(batches)
        m["classify.text_spans"] = sum(
            pc.sum(pc.equal(b.column("spans").flatten().field("kind"), "text")).as_py() or 0
            for b in batches
        )


def result_line(run: Run, values: dict, trace: bool) -> dict:
    """The benchmark's result: gate counts and every metric with its unit."""
    units = PER_LAYER_UNITS if trace else END_TO_END_UNITS
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def configure_env(work_dir: str) -> str:
    """Process environment for the session; returns the driver heap size."""
    from probes import host_mem_mb

    # build_session defaults to a 12g driver; size it to a quarter of
    # host RAM so the JVM, the Python workers and the page cache fit
    driver_mb = min(12 * 1024, host_mem_mb() // 4)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["EXTRACTION_DRIVER_MEM"] = f"{driver_mb}m"
    os.environ["EXTRACTION_LOCAL_DIR"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM (launcher and driver) keeps its temp files in the checkout
    os.environ["_JAVA_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [SRC, ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return f"{driver_mb}m"


def wait_for_quiet_host(timeout_s: float) -> list[int]:
    """Wait for foreign Spark JVMs to exit; returns those still running."""
    from probes import foreign_spark_jvms

    deadline = time.monotonic() + timeout_s
    while True:
        others = foreign_spark_jvms()
        if not others or time.monotonic() > deadline:
            return others
        time.sleep(0.5)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    if not os.path.isfile(os.path.join(SRC, "extraction", "lineage.py")):
        print(f"perfbench: no extraction package under {SRC}", file=sys.stderr)
        return 2
    from probes import cpu_ticks, membw_gbps

    cores = len(os.sched_getaffinity(0))
    cache_root = os.path.join(WORK, "cache")
    run_dir = os.path.join(WORK, "run")
    others = wait_for_quiet_host(30)
    if others:
        print(f"perfbench: another Spark JVM is running (pids {others}); refusing", file=sys.stderr)
        return 3
    # nothing from an earlier run (Spark local dir, output, lineage)
    # survives into this one
    rmtree(run_dir)
    os.makedirs(cache_root, exist_ok=True)
    driver_mem = configure_env(run_dir)
    os.chdir(run_dir)  # Spark's warehouse dir and logs land in the run dir

    run = Run(a.workload, WORKLOADS[a.workload], a.seed, a.seconds, cores, run_dir)
    ticks0 = cpu_ticks()
    try:
        run.prepare(cache_root, bool(a.trace))
        membw = membw_gbps() if a.trace else 0.0
        run.start()
        values = run.layers(membw) if a.trace else run.measure()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.stop()
    rmtree(os.path.join(run_dir, "spark-local"))
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    context = {
        "workload": a.workload, "seed": a.seed, "master": f"local[{cores}]",
        "driver_mem": driver_mem, "failed_frac": run.failed / max(run.attempted, 1),
        # CPU time the hypervisor gave to other guests while this run held
        # the host: the main source of run-to-run spread on shared VMs
        "cpu_steal_frac": round(steal / max(total, 1), 4),
    }
    if not a.trace:
        context["passes"] = run.samples
        context["docs_per_s"] = run.docs_per_s
        context["setup_wall_s"] = run.setup_wall_s
    for k, v in context.items():
        print(f"# {k}: {v}")
    for n in run.notes:
        print(f"# gate: {n}")
    result = result_line(run, values, bool(a.trace))
    for k, v in result["metrics"].items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
