"""Source-fingerprint helper for stale-cache guards.

Two caches key on the content of generator/spec sources so an edit can
never silently reuse stale artifacts: the bench corpus (bench.py) and
the materialized pure-Python oracle table (oracle_materialize.py). They
must fingerprint the same way — a cache-invalidation fix applied to one
copy but not the others would reintroduce exactly the bug class the
fingerprints exist to prevent — so the hashing lives here once.
"""

from __future__ import annotations

import hashlib
import os

_BASE = os.path.dirname(os.path.abspath(__file__))


def source_fingerprint(*filenames: str, extra: str = "", n: int = 8) -> str:
    """md5 over the named files in src/extraction (order-sensitive),
    plus an optional parameter string; first ``n`` hex chars."""
    h = hashlib.md5()
    for fn in filenames:
        with open(os.path.join(_BASE, fn), "rb") as f:
            h.update(f.read())
    if extra:
        h.update(extra.encode())
    return h.hexdigest()[:n]
