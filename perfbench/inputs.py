"""Benchmark inputs: span corpora made from ``corpus.gen_doc`` and cached.

A corpus is named by (workload, seed, fingerprint of corpus.py) and
written once as parquet under the checkout's ``.perfbench/cache``. Every
later run with the same key reuses it; the build itself is never part of
``setup_s``, which times only loading a built corpus. So ``setup_s``
reads the same whether the cache was cold or warm.

The build runs in child processes (this file run as a script), one
parquet part per index slice, before the Spark session starts: a cold
cache leaves the measured session exactly as a warm one would.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

PARTS = 8  # parquet parts per corpus: the scan's task count at local[4]


def corpus_fingerprint(src_dir: str) -> str:
    with open(os.path.join(src_dir, "extraction", "corpus.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def select_indices(n_docs: int, families: frozenset[int] | None) -> list[int]:
    """The first ``n_docs`` generator indices whose family (i % 100) is
    in ``families`` (FIXTURES.md section 4); all families when None."""
    if families is None:
        return list(range(n_docs))
    out, i = [], 0
    while len(out) < n_docs:
        if i % 100 in families:
            out.append(i)
        i += 1
    return out


def write_part(path: str, indices: list[int], seed: int, heavy_spans: int) -> tuple[int, int]:
    """Generate docs ``indices`` into one parquet file: (docs, spans)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from extraction.corpus import gen_doc
    from extraction.schema import DOCS_SCHEMA

    rows = [gen_doc(i, seed, heavy_spans) for i in indices]
    table = pa.Table.from_pylist(
        [{"doc_id": d, "spans": s} for d, s in rows],
        schema=to_arrow_schema(DOCS_SCHEMA),
    )
    pq.write_table(table, path, compression="zstd")
    return len(rows), sum(len(s) for _, s in rows)


def ensure_corpus(
    cache_root: str, src_dir: str, workload: str, seed: int,
    indices: list[int], heavy_spans: int, procs: int,
) -> dict:
    """Build the corpus unless the cache holds it; return its manifest."""
    key = f"{workload}-s{seed}-n{len(indices)}-h{heavy_spans}-{corpus_fingerprint(src_dir)}"
    path = os.path.join(cache_root, key)
    manifest = os.path.join(path, "_manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return json.load(f)
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-len(indices) // PARTS)
    jobs = [
        (os.path.join(tmp, f"part-{k:02d}.parquet"), indices[k * step:(k + 1) * step])
        for k in range(PARTS)
        if indices[k * step:(k + 1) * step]
    ]
    counts, running = [], []
    for part, part_indices in jobs:
        if len(running) == procs:
            counts.append(_finish(running.pop(0)))
        child = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), part, str(seed), str(heavy_spans)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        child.stdin.write(json.dumps(part_indices))
        child.stdin.close()
        running.append(child)
    counts += [_finish(child) for child in running]
    info = {
        "path": path,
        "docs": sum(c[0] for c in counts),
        "spans": sum(c[1] for c in counts),
        "seed": seed,
        "heavy_spans": heavy_spans,
        "parts": [os.path.join(path, os.path.basename(part)) for part, _ in jobs],
    }
    with open(os.path.join(tmp, "_manifest.json"), "w") as f:
        json.dump(info, f)
    os.replace(tmp, path)
    return info


def _finish(child: subprocess.Popen) -> tuple[int, int]:
    out = child.stdout.read()
    if child.wait() != 0:
        raise RuntimeError(f"corpus part build failed: {child.args}")
    docs, spans = out.split()
    return int(docs), int(spans)


def dir_mb(path: str, suffix: str = "") -> tuple[float, int]:
    """(MiB, file count) of files under ``path`` ending in ``suffix``."""
    total, files = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total / (1024.0 * 1024.0), files


if __name__ == "__main__":
    # inputs.py <part.parquet> <seed> <heavy_spans>, indices as JSON on stdin
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "src"))
    print(*write_part(sys.argv[1], json.load(sys.stdin), int(sys.argv[2]), int(sys.argv[3])))
