"""Per-bucket output counts, tallied in the kernel's own task.

``run_with_lineage`` feeds its kernel ``(doc_id, spans, partition_id)``
rows. :func:`extract_tally` runs the unchanged ``segment.extract_batches``
on them, appends each input row's ``partition_id`` to its output row,
and counts every bucket's output with NumPy as the batches go by. A task
adds its counts to a PySpark accumulator once, at its end, keyed by its
``TaskContext.partitionId()``.

:class:`BucketTally` merges by *replacing* a partition's entry. Spark
applies a task's accumulator update once per successful run, and a
shuffle-map task that it runs again (a lost map output, a resubmitted
stage) succeeds twice: an adding merge would count its rows twice. Each
partition of the kernel's stage holds the same rows on every run, so
the last run's entry is the partition's count.
"""

from __future__ import annotations

from collections import deque
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.accumulators import Accumulator, AccumulatorParam
from pyspark.sql.types import IntegerType, StructField, StructType

from .schema import EXTRACTED_SCHEMA
from .segment import extract_batches

# the lineage columns of one bucket's tally, in the order of its counts
COUNTS = ("output_rows", "docs_ok", "docs_empty", "spans_out")
# extract_tally's output: the kernel's, with each row's bucket passed through
TALLIED_SCHEMA = StructType(
    [*EXTRACTED_SCHEMA.fields, StructField("partition_id", IntegerType(), False)]
)

Tally = dict[int, tuple[int, int, int, int]]


class BucketTally(AccumulatorParam):
    """``{task partition: {bucket: counts}}``, merged by replacing a
    partition's entry."""

    def zero(self, value: dict[int, Tally]) -> dict[int, Tally]:
        return {}

    def addInPlace(self, value: dict[int, Tally], update: dict[int, Tally]) -> dict[int, Tally]:
        value.update(update)
        return value


def bucket_counts(value: dict[int, Tally]) -> Tally:
    """Sum the task entries of a :class:`BucketTally` value per bucket."""
    totals: Tally = {}
    for tally in value.values():
        for bucket, counts in tally.items():
            into = totals.get(bucket, (0,) * len(COUNTS))
            totals[bucket] = tuple(a + c for a, c in zip(into, counts))
    return totals


def extract_tally(acc: Accumulator, it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow entry point: ``extract_batches`` with ``partition_id``
    passed through, and each bucket's counts added to ``acc`` when the
    task's input is done."""
    # extract_batches emits every input row once, in order, and may
    # split an input batch: the queue holds the partition ids of the rows
    # it has read but not yet emitted
    pending: deque[pa.Array] = deque()

    def docs() -> Iterator[pa.RecordBatch]:
        for rb in it:
            pending.append(rb.column("partition_id"))
            yield rb

    # rows: output_rows, docs_ok, docs_empty, spans_out; columns: buckets
    total = np.zeros((len(COUNTS), 0), np.int64)
    for out in extract_batches(docs()):
        pid, rest = pending[0].slice(0, out.num_rows), pending[0].slice(out.num_rows)
        if len(rest):
            pending[0] = rest
        else:
            pending.popleft()
        b = pid.to_numpy()
        n = pc.list_value_length(out.column("spans")).to_numpy()
        width = int(b.max()) + 1 if len(b) else 0
        rows = np.bincount(b, minlength=width)
        ok = np.bincount(b[n > 0], minlength=width)
        spans = np.bincount(b, weights=n, minlength=width).astype(np.int64)
        if width > total.shape[1]:
            total = np.pad(total, ((0, 0), (0, width - total.shape[1])))
        total[:, :width] += np.stack([rows, ok, rows - ok, spans])
        yield pa.RecordBatch.from_arrays(
            [*out.columns, pid], names=[*out.schema.names, "partition_id"]
        )
    tally = {int(b): tuple(int(c) for c in total[:, b]) for b in np.flatnonzero(total[0])}
    acc.add({TaskContext.get().partitionId(): tally})
