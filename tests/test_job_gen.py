"""``job.py --gen N``: the synthetic corpus is generated once, staged as
parquet, and the job reads it back like an ``--input`` path."""

import os
import re

from extraction import job, lineage
from extraction.corpus import corpus_df, gen_corpus

# operator names of Python plan nodes (MapInPandas, PythonMapInArrow,
# BatchEvalPython, ArrowEvalPython, FlatMapGroupsInPandas, ...)
PYTHON_NODE = re.compile(r"Python|Pandas")


def plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_gen_hands_the_job_a_parquet_scan(spark, tmp_path, monkeypatch):
    """The DataFrame ``run_with_lineage`` gets under ``--gen`` has no
    Python node, so its stats pass and each commit group scan the staged
    parquet instead of re-running the generator. It holds the generated
    docs, and the staging directory is gone when the job ends."""
    assert PYTHON_NODE.search(plan(corpus_df(spark, 4)))
    seen = {}

    def fake_run(spark_, docs, output_path, lineage_path, run_id, **kw):
        seen["plan"] = plan(docs)
        seen["files"] = docs.inputFiles()
        seen["docs"] = sorted(r.doc_id for r in docs.select("doc_id").collect())
        docs.select("doc_id").write.parquet(output_path)

    monkeypatch.setattr(job, "build_session", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.setattr(lineage, "run_with_lineage", fake_run)
    assert job.main([
        "--gen", "40", "--heavy-spans", "100", "--output", str(tmp_path / "out"),
        "--lineage", str(tmp_path / "lineage"), "--run-id", "r1",
    ]) == 0

    assert not PYTHON_NODE.search(seen["plan"]), seen["plan"]
    assert "parquet" in seen["plan"].lower()
    assert seen["docs"] == sorted(d for d, _ in gen_corpus(40, heavy_spans=100))
    assert seen["files"] and not any(
        os.path.exists(f.removeprefix("file:")) for f in seen["files"]
    )
    staged = {os.path.dirname(f.removeprefix("file:")) for f in seen["files"]}
    assert not any(os.path.exists(d) for d in staged)
