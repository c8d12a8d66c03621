"""The per-batch extraction kernel: G1–G4 + X6 + P3 + Q1/Q2, columnar.

Consumes Arrow record batches of ``(doc_id, spans)`` rows and produces
``(doc_id, spans)`` extracted rows. All span-level work is vectorized
NumPy/pandas over the *flattened* span arrays of the whole batch — a
single pass, no per-span Python (the reference copies the full mask per
label, src/DocumentAnalyzer.py:87-89; we never materialize per-doc
copies). Only the block-level postprocess (tens of blocks per doc) runs
as Python loops, mirroring the reference's O(n²) pairwise semantics.

Reference stage map: see oracle.py (this kernel must equal it exactly).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import constants as C
from .classify import KIND_NAMES_PA, classify_flat
from .postprocess import postprocess_doc
from .zipcache import drop_zip_importers

# soft cap on spans processed per kernel invocation — bounds peak memory
# for media-heavy skew docs (FIXTURES.md §4) regardless of Arrow batch size
SPAN_BUDGET = 2_000_000

_OUT_SPAN_PA = pa.struct(
    [
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string(), nullable=True),
        pa.field("media_ref", pa.string(), nullable=True),
        pa.field("order", pa.int32(), nullable=False),
    ]
)


def extract_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow entry point."""
    drop_zip_importers()
    for rb in it:
        for sub in _split_by_budget(rb):
            yield _extract_one(sub)


def _split_by_budget(rb: pa.RecordBatch) -> Iterator[pa.RecordBatch]:
    """Slice a record batch so each slice holds ≤ SPAN_BUDGET spans."""
    la = rb.column(rb.schema.get_field_index("spans"))
    vo = la.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    spans_per_doc = np.diff(vo)
    total = int(spans_per_doc.sum())
    if total <= SPAN_BUDGET or rb.num_rows <= 1:
        yield rb
        return
    cum = np.cumsum(spans_per_doc)
    start = 0
    base = 0
    for i in range(rb.num_rows):
        if cum[i] - base > SPAN_BUDGET and i > start:
            yield rb.slice(start, i - start)
            start = i
            base = cum[i - 1]
    yield rb.slice(start, rb.num_rows - start)


def _extract_one(rb: pa.RecordBatch) -> pa.RecordBatch:
    doc_id_arr = rb.column(rb.schema.get_field_index("doc_id"))
    la = rb.column(rb.schema.get_field_index("spans"))
    if la.null_count:
        raise ValueError("docs.spans is declared NOT NULL (schema.py) but contains nulls")
    ndocs = rb.num_rows

    vo = la.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    vo = vo - vo[0]
    flat = la.flatten()
    nspans_total = len(flat)
    doc_len = np.diff(vo)
    doc_of = np.repeat(np.arange(ndocs, dtype=np.int64), doc_len)

    if nspans_total == 0:
        return _emit(doc_id_arr, [], np.zeros(ndocs, np.int64),
                     np.empty(0, np.int64), None, None, None)

    # stay in Arrow: no Python string objects are ever materialized
    # (a pandas conversion here costs millions of object allocations per
    # media-heavy batch — measured as a 60-80% system-CPU storm at 32
    # concurrent workers)
    kind = flat.field("kind")
    text = flat.field("text")
    media = flat.field("media_ref")
    offset = flat.field("offset").to_numpy(zero_copy_only=False).astype(np.int64)

    # --- classify (C1 seat) ---
    cls, okind = classify_flat(kind, text)

    # --- per-doc stable sort by (offset, array position) ---
    pos = np.arange(nspans_total, dtype=np.int64)
    order_in = np.lexsort((pos, offset, doc_of))
    s_doc = doc_of[order_in]
    s_off = offset[order_in]
    s_cls = cls[order_in]

    # --- column ids from `sep` cuts (X6): running sep count within doc ---
    is_sep = s_cls == C.CLS_SEPARATOR
    cs = np.concatenate(([0], np.cumsum(is_sep)[:-1]))  # exclusive cumsum
    doc_first = np.concatenate(([True], s_doc[1:] != s_doc[:-1]))
    first_idx = np.flatnonzero(doc_first)
    doc_seq = np.cumsum(doc_first) - 1  # dense index of doc within sorted array
    s_col = cs - cs[first_idx][doc_seq]

    # --- strip class 0 and 2 (P3) ---
    keep = s_cls == C.CLS_CONTENT
    k_idx = order_in[keep]  # indices into the flat arrays
    k_doc = s_doc[keep]
    k_off = s_off[keep]
    k_col = s_col[keep]
    k_okind = okind[k_idx]
    nk = len(k_idx)

    out_counts = np.zeros(ndocs, dtype=np.int64)
    if nk == 0:
        return _emit(doc_id_arr, [], out_counts, k_idx, text, media, k_okind)

    # --- gap grouping within (doc, col) (G1) ---
    newblk = np.empty(nk, dtype=bool)
    newblk[0] = True
    newblk[1:] = (
        (k_doc[1:] != k_doc[:-1])
        | (k_col[1:] != k_col[:-1])
        | (k_off[1:] - k_off[:-1] > C.GAP)
    )
    bstarts = np.flatnonzero(newblk)
    bends = np.concatenate((bstarts[1:], [nk])) - 1

    # span char weights: figures contribute MEDIA_CHAR_WEIGHT (G3/P4 input)
    tlen = (
        pc.fill_null(pc.utf8_length(text), 0)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    w = np.where(okind == 2, C.MEDIA_CHAR_WEIGHT, tlen)  # 2 == K_FIGURE
    k_w = w[k_idx]

    # --- block extents (G3/G4): offsets sorted within block ---
    b_doc = k_doc[bstarts]
    b_col = k_col[bstarts]
    b_start = k_off[bstarts]
    b_end = k_off[bends]
    b_chars = np.add.reduceat(k_w, bstarts)
    b_nspans = bends - bstarts + 1
    nblocks = len(bstarts)

    # --- per-doc postprocess (Q1/Q2) + ordered emit ---
    doc_blk_first = np.concatenate(([True], b_doc[1:] != b_doc[:-1]))
    doc_blk_starts = np.flatnonzero(doc_blk_first)
    doc_blk_ends = np.concatenate((doc_blk_starts[1:], [nblocks]))
    ranges: list[np.ndarray] = []
    for a, b in zip(doc_blk_starts, doc_blk_ends):
        emit_order = postprocess_doc(
            b_col[a:b].tolist(),
            b_start[a:b].tolist(),
            b_end[a:b].tolist(),
            b_chars[a:b].tolist(),
            b_nspans[a:b].tolist(),
        )
        total = 0
        for members in emit_order:
            for m in members:
                bi = a + m
                ranges.append(np.arange(bstarts[bi], bends[bi] + 1, dtype=np.int64))
                total += b_nspans[bi]
        out_counts[b_doc[a]] = total

    return _emit(doc_id_arr, ranges, out_counts, k_idx, text, media, k_okind)


def _emit(
    doc_id_arr: pa.Array,
    ranges: list[np.ndarray],
    out_counts: np.ndarray,
    k_idx: np.ndarray,
    text: pa.Array | None,
    media: pa.Array | None,
    k_okind: np.ndarray | None,
) -> pa.RecordBatch:
    ndocs = len(out_counts)
    if ranges:
        sel = np.concatenate(ranges)  # indices into the kept arrays
        flat_sel = k_idx[sel]
        # gathers stay in Arrow (pc.take) — no Python objects
        out_kind = pc.take(KIND_NAMES_PA, pa.array(k_okind[sel], type=pa.int8()))
        out_text = pc.take(text, pa.array(flat_sel, type=pa.int64()))
        out_media = pc.take(media, pa.array(flat_sel, type=pa.int64()))
        doc_out_start = np.concatenate(([0], np.cumsum(out_counts)[:-1]))
        order = (
            np.arange(len(sel), dtype=np.int64)
            - np.repeat(doc_out_start, out_counts)
        ).astype(np.int32)
        struct = pa.StructArray.from_arrays(
            [out_kind, out_text, out_media, pa.array(order, type=pa.int32())],
            fields=list(_OUT_SPAN_PA),
        )
    else:
        struct = pa.array([], type=_OUT_SPAN_PA)
    offsets = np.concatenate(([0], np.cumsum(out_counts))).astype(np.int32)
    spans_out = pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), struct)
    return pa.RecordBatch.from_arrays([doc_id_arr, spans_out], names=["doc_id", "spans"])
