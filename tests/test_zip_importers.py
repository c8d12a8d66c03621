"""The kernel's entry point drops its process's zip importers, so the next
Python task's ``importlib.invalidate_caches()`` (PySpark's per-task set-up)
re-reads no archive; imports through an archive keep working."""

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
from pyspark.sql.types import IntegerType, StructField, StructType

from extraction import segment
from extraction.corpus import gen_corpus
from extraction.pipeline import extract
from extraction.schema import DOCS_SCHEMA, EXTRACTED_SCHEMA


def zip_importers() -> int:
    return sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())


def test_extract_batches_drops_zip_importers(tmp_path, monkeypatch):
    archive = tmp_path / "zipped.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipped_pkg/__init__.py", "")
        z.writestr("zipped_pkg/one.py", "VALUE = 1\n")
        z.writestr("zipped_pkg/two.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zipped_pkg.one").VALUE == 1
        assert zip_importers() > 0

        assert list(segment.extract_batches(iter([]))) == []
        assert zip_importers() == 0

        two = importlib.import_module("zipped_pkg.two")
        assert two.VALUE == 2
        assert isinstance(two.__spec__.loader, zipimport.zipimporter)
    finally:
        for name in ("zipped_pkg", "zipped_pkg.one", "zipped_pkg.two"):
            sys.modules.pop(name, None)
        for path in [p for p in sys.path_importer_cache if p.startswith(str(archive))]:
            del sys.path_importer_cache[path]


def test_kernel_task_leaves_no_zip_importer(spark):
    """In a real Python worker: zip importers exist before the kernel runs
    (a missing-module lookup walks the worker's whole ``sys.path``, as a
    worker's first task does, and ``pyspark.zip`` is on it), none are left
    after it, and the output equals the plain kernel's."""
    schema = StructType(
        [*EXTRACTED_SCHEMA.fields, StructField("zip_before", IntegerType()),
         StructField("zip_after", IntegerType())]
    )

    def counted(it):
        # nested, so cloudpickle ships it by value: workers cannot import
        # this test module
        def count():
            return sum(
                isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
            )

        from importlib.util import find_spec

        find_spec("no_such_module_on_any_path")
        before = count()
        out = list(segment.extract_batches(it))
        after = count()
        for rb in out:
            n = rb.num_rows
            yield pa.RecordBatch.from_arrays(
                [*rb.columns, pa.array([before] * n, pa.int32()), pa.array([after] * n, pa.int32())],
                names=[*rb.schema.names, "zip_before", "zip_after"],
            )

    docs = spark.createDataFrame(gen_corpus(80, heavy_spans=100), schema=DOCS_SCHEMA).repartition(4)
    rows = docs.mapInArrow(counted, schema=schema).collect()
    assert rows
    assert all(r.zip_before > 0 for r in rows), {r.zip_before for r in rows}
    assert all(r.zip_after == 0 for r in rows), {r.zip_after for r in rows}
    got = sorted((r.doc_id, r.spans) for r in rows)
    assert got == sorted((r.doc_id, r.spans) for r in extract(docs).collect())
