"""Declared StructTypes for the three engine tables (SURVEY.md §1.2).

Schemas are always declared, never inferred — the 100 TB corpus is read
with an explicit schema so a corrupt file fails fast instead of silently
widening a column.
"""

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# input span struct (docs.spans element)
IN_SPAN = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),  # null iff media-like
        StructField("media_ref", StringType(), True),  # null iff text-like
        StructField("offset", IntegerType(), False),
    ]
)

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(IN_SPAN, False), False),
    ]
)

# streaming ingest unit: one slice of a doc's spans. The writer knows how
# many fragments it split a doc into, so completion is the per-doc test
# ``distinct frag_id count == n_frags`` (streaming_staged.py)
FRAGMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("frag_id", IntegerType(), False),
        StructField("n_frags", IntegerType(), False),
        StructField("spans", ArrayType(IN_SPAN, False), False),
    ]
)

# output span struct (extracted.spans element)
OUT_SPAN = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("order", IntegerType(), False),
    ]
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(OUT_SPAN, False), False),
    ]
)

# checkpoint/lineage table — one row per committed partition (FIXTURES.md §3)
LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("snapshot_id", LongType(), False),
        StructField("partition_id", IntegerType(), False),
        # the bucket count partition_id was taken under; null in a lineage
        # written before the column existed (a resume over it refuses)
        StructField("num_buckets", IntegerType(), True),
        StructField("min_hash", LongType(), True),
        StructField("max_hash", LongType(), True),
        StructField("input_rows", LongType(), False),
        StructField("output_rows", LongType(), False),
        StructField("docs_ok", LongType(), False),
        StructField("docs_empty", LongType(), False),
        StructField("spans_in", LongType(), False),
        StructField("spans_out", LongType(), False),
        StructField("wall_ms", LongType(), False),
        StructField("committed_at", TimestampType(), False),
    ]
)
