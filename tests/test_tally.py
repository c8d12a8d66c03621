"""The lineage kernel's counting wrapper, without Spark: ``extract_tally``
emits ``extract_batches``' output with each row's ``partition_id``
appended, and adds each bucket's counts once per task; ``BucketTally``
merges a task partition's entry by replacing it."""

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.pandas.types import to_arrow_schema

from extraction import segment, tally
from extraction.corpus import gen_doc
from extraction.schema import DOCS_SCHEMA
from extraction.tally import BucketTally, bucket_counts, extract_tally

ARROW_DOCS = to_arrow_schema(DOCS_SCHEMA)
# ids 95-99 are the degenerate family: their docs come out empty
DOCS = [gen_doc(i, 42, 100) for i in range(80, 120)]


class Recorder:
    """Stands in for an accumulator: keeps every update."""

    def __init__(self):
        self.updates = []

    def add(self, update):
        self.updates.append(update)


class Context:
    def __init__(self, partition):
        self.partition = partition

    def partitionId(self):
        return self.partition


def batch(docs, pids):
    rb = pa.RecordBatch.from_pylist([{"doc_id": d, "spans": s} for d, s in docs], schema=ARROW_DOCS)
    return pa.RecordBatch.from_arrays(
        [*rb.columns, pa.array(pids, pa.int32())], names=[*rb.schema.names, "partition_id"]
    )


def test_output_and_counts_equal_the_kernel_and_a_numpy_reference(monkeypatch):
    """Batches that the span budget splits, docs that come out empty,
    buckets absent from the task and sliced input arrays: the output is
    the plain kernel's with ``partition_id`` appended, and the task adds
    one update, under its partition, with the counts of the buckets it
    saw."""
    monkeypatch.setattr(segment, "SPAN_BUDGET", 200)
    monkeypatch.setattr(tally.TaskContext, "get", lambda: Context(5))
    pids = [(1, 4, 6)[i % 3] for i in range(len(DOCS))]  # 3 of 8 buckets
    whole = batch(DOCS, pids)
    inputs = [whole.slice(0, 7), whole.slice(7, 21), whole.slice(28, 0), whole.slice(28)]
    assert inputs[1].column("spans").offset > 0  # sliced arrays

    acc = Recorder()
    got = list(extract_tally(acc, iter(inputs)))
    plain = list(segment.extract_batches(iter(inputs)))
    assert len(plain) > len(inputs)  # the budget split batches
    want = pa.Table.from_batches(plain).append_column("partition_id", [whole.column("partition_id")])
    assert pa.Table.from_batches(got).equals(want)

    (update,) = acc.updates
    b = np.asarray(pids)
    n = pc.list_value_length(want.column("spans")).to_numpy()
    assert (n == 0).any() and (n > 0).any()  # some docs come out empty
    reference = {
        int(k): (int((b == k).sum()), int(((b == k) & (n > 0)).sum()),
                 int(((b == k) & (n == 0)).sum()), int(n[b == k].sum()))
        for k in np.unique(b)
    }
    assert update == {5: reference}
    assert bucket_counts(update) == reference
    assert sorted(reference) == [1, 4, 6]


def test_empty_task_adds_an_empty_entry(monkeypatch):
    monkeypatch.setattr(tally.TaskContext, "get", lambda: Context(2))
    acc = Recorder()
    assert list(extract_tally(acc, iter([]))) == []
    assert acc.updates == [{2: {}}]


def test_a_partition_merged_twice_counts_once():
    """A task Spark runs again (a lost shuffle-map output) adds its
    partition's entry a second time; the merge keeps one."""
    one, two = {3: (4, 3, 1, 50)}, {3: (2, 2, 0, 7), 6: (1, 0, 1, 0)}
    param = BucketTally()
    value = param.zero({})
    for update in ({0: one}, {1: two}, {0: one}):
        value = param.addInPlace(value, update)
    assert value == {0: one, 1: two}
    assert bucket_counts(value) == {3: (6, 5, 1, 57), 6: (1, 0, 1, 0)}
