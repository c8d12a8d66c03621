"""Correctness gate behind ``failed`` / ``attempted``.

Extraction: every input doc comes out exactly once, lineage covers
every bucket exactly once with ``sum(input_rows)`` equal to the doc
count, a deterministic sample of docs equals ``oracle.extract_doc`` on
(kind, text, media_ref, order), and the order-insensitive output hash
of every output one invocation produces equals that of the narrow
kernel (no repartition) on the same input.

Contract queries: a query fails if it raises or if the hash of its
values differs from the hash of its DuckDB oracle's values. Oracle
hashes are computed once and cached, keyed on the oracle SQL text.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import random

SAMPLE_DOCS = 48


# ---------------------------------------------------------------------------
# extraction
# ---------------------------------------------------------------------------

def output_summary(df) -> dict:
    """One pass over an extracted (doc_id, spans) frame: counts and an
    order-insensitive content hash."""
    from pyspark.sql import functions as F

    n = F.size("spans")
    r = df.agg(
        F.count("*").alias("rows"),
        F.countDistinct("doc_id").alias("docs"),
        F.sum(F.pmod(F.xxhash64("doc_id", "spans"), F.lit(1 << 31))).alias("hash"),
        F.sum(n).alias("spans_out"),
        F.sum((n == 0).cast("long")).alias("docs_empty"),
    ).collect()[0]
    return {k: int(r[k] or 0) for k in ("rows", "docs", "hash", "spans_out", "docs_empty")}


def sample_indices(indices: list[int], seed: int) -> list[int]:
    return sorted(random.Random(seed).sample(indices, min(SAMPLE_DOCS, len(indices))))


def oracle_mismatches(df, sample: list[int], seed: int, heavy_spans: int) -> int:
    """Sampled docs whose extracted spans differ from the pure-Python
    oracle (missing docs count as mismatches)."""
    from pyspark.sql import functions as F

    from extraction.corpus import gen_doc
    from extraction.oracle import extract_doc

    want = {}
    for i in sample:
        doc_id, spans = gen_doc(i, seed, heavy_spans)
        want[doc_id] = [
            (s["kind"], s["text"], s["media_ref"], s["order"]) for s in extract_doc(spans)
        ]
    got = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.order) for s in r.spans]
        for r in df.filter(F.col("doc_id").isin(list(want))).collect()
    }
    return sum(1 for d, spans in want.items() if got.get(d) != spans)


def lineage_errors(spark, lineage_path: str, run_id: str, num_buckets: int, docs: int) -> list[str]:
    from extraction.catalog import read_back
    from extraction.schema import LINEAGE_SCHEMA

    rows = (
        read_back(spark, lineage_path, LINEAGE_SCHEMA)
        .filter(f"run_id = '{run_id}'")
        .select("partition_id", "input_rows", "output_rows")
        .collect()
    )
    errors = []
    ids = sorted(r.partition_id for r in rows)
    if ids != list(range(num_buckets)):
        errors.append(f"lineage buckets {len(ids)} rows, want each of 0..{num_buckets - 1} once")
    if sum(r.input_rows for r in rows) != docs:
        errors.append(f"lineage sum(input_rows)={sum(r.input_rows for r in rows)} != {docs} docs")
    if sum(r.output_rows for r in rows) != docs:
        errors.append(f"lineage sum(output_rows)={sum(r.output_rows for r in rows)} != {docs} docs")
    return errors


def failed_docs(docs: int, summaries: list[dict], mismatches: int, lineage_bad: bool) -> int:
    """Docs that fail the gate: missing or duplicated in the worst output,
    plus sampled docs that differ from the oracle. A defect that cannot be
    pinned to single docs (a lineage defect, or a hash disagreement
    between outputs) fails every doc."""
    if lineage_bad or len({s["hash"] for s in summaries}) > 1:
        return docs
    worst = max(
        max(docs - s["docs"], 0) + (s["rows"] - s["docs"]) for s in summaries
    )
    return min(docs, worst + mismatches)


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------

def _canon(v) -> str:
    """A cell as a canonical string: equal values across engines (an
    integral float and an int, Decimal and float) give equal strings."""
    if v is None:
        return "\0null"
    if isinstance(v, int):  # bool included
        return str(int(v))
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if math.isfinite(f) and f.is_integer():
            return str(int(v))
        return repr(f)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def value_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\t".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(",".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def oracle_hashes(names: list[str], sf_dir: str, cache_path: str, tmp_dir: str) -> dict[str, str]:
    """DuckDB oracle value hashes, cached on sha256(sql) in ``cache_path``."""
    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    keys = {n: hashlib.sha256((sf_dir + "\n" + sqls[n]).encode()).hexdigest() for n in names}
    missing = [n for n in names if keys[n] not in cache]
    if missing:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET memory_limit='2GB'")
            con.execute("SET threads TO 4")
            con.execute(f"SET temp_directory='{tmp_dir}'")
            for fn in sorted(os.listdir(sf_dir)):
                if fn.endswith(".parquet"):
                    con.execute(
                        f"CREATE VIEW {fn[:-8]} AS SELECT * FROM '{os.path.join(sf_dir, fn)}'"
                    )
            for n in missing:
                res = con.execute(sqls[n])
                cache[keys[n]] = value_hash([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        tmp = f"{cache_path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    return {n: cache[keys[n]] for n in names}
