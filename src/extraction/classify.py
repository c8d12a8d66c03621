"""C1 seat: rule-based vectorized span classifier.

Replaces the reference's U-Net + softmax + argmax
(/root/reference/src/DocumentAnalyzer.py:44-59) with deterministic rules,
keeping only its *contract*: a 3-way class per element
{0 background/boilerplate, 1 content, 2 separator}, plus a content
sub-kind {title, paragraph, figure, caption}.

Everything operates on whole flat batches with **pyarrow.compute**
kernels (C++-vectorized, RE2 regex) — no per-row Python AND no Python
string objects at all. An earlier pandas ``.str`` implementation
materialized millions of Python strings per media-heavy batch; the
resulting allocator/mmap churn showed up as 60-80 %% *system* CPU under
32-way concurrency. The rule tables are module-level constants compiled
once per executor (contrast: the reference restores a TF session per
image, src/DocumentAnalyzer.py:45-46).

The one expensive rule, the title test's word counting, runs on a
selection vector: only the text spans that pass the cheap title
predicates (short, no terminator, not boilerplate, not a caption) are
counted. That is ~5% of the 430k text spans of the text-heavy benchmark
corpus, whose 474k spans classify in ~0.4 s on one core of a 4-vCPU VM
(~1.3 s with the counts over every text span).
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import constants as C

# out-kind integer codes used inside the kernel
K_TITLE, K_PARAGRAPH, K_FIGURE, K_CAPTION = 0, 1, 2, 3
KIND_NAMES_PA = pa.array(
    [C.OUT_TITLE, C.OUT_PARAGRAPH, C.OUT_FIGURE, C.OUT_CAPTION], type=pa.string()
)
# one RE2 scan for every boilerplate marker instead of one substring scan
# per marker: 129k lowercased text spans of gen_corpus(4000) take 0.030 s
# instead of 0.150 s on a 4-vCPU VM
BOILERPLATE_RE = "|".join(re.escape(m) for m in C.BOILERPLATE_MARKERS)

def _np_bool(arr) -> np.ndarray:
    """Arrow boolean array -> dense numpy bool (nulls = False)."""
    return pc.fill_null(arr, False).to_numpy(zero_copy_only=False)


def _np_i64(arr) -> np.ndarray:
    return pc.fill_null(arr, 0).to_numpy(zero_copy_only=False).astype(np.int64)


# Python str.split()'s exact whitespace set (== chr(c).isspace(), all
# planes — enumerated and split()-confirmed programmatically). NOT RE2's
# \s, which is ASCII [\t\n\f\r ] and misses \v, \x1c-\x1f, \x85, \xa0
# and the Unicode spaces.
_PY_WS_CODES = (
    0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x1C, 0x1D, 0x1E, 0x1F, 0x20,
    0x85, 0xA0, 0x1680,
    0x2000, 0x2001, 0x2002, 0x2003, 0x2004, 0x2005, 0x2006, 0x2007,
    0x2008, 0x2009, 0x200A, 0x2028, 0x2029, 0x202F, 0x205F, 0x3000,
)
_WS_INNER = "".join(f"\\x{{{c:x}}}" for c in _PY_WS_CODES)
# words = maximal runs of non-whitespace (greedy, non-overlapping) —
# exactly str.split()'s tokens
_WORD_RE = f"[^{_WS_INNER}]+"
# a capital word-start anywhere but the head: one WS char + A-Z.
# Anchor-free on purpose: RE2's counting kernel re-anchors ^ at every
# scan position, so the old (?:^|\s)[A-Z] counted 'AA' as TWO capital
# words (hypothesis found ['', '0 AA'] classified title vs the oracle's
# paragraph).
_CAP_AFTER_WS_RE = f"[{_WS_INNER}][A-Z]"


def _word_cap_counts(text: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Per-row (caps, words) counts, bit-identical to the oracle's
    word-level counting (oracle.py:_is_title_shaped): words = str.split()
    (Unicode whitespace, empties dropped), caps = words whose first char
    is ASCII A-Z.

    caps = (#capitals preceded by one whitespace char) + (1 if the very
    first character is A-Z). The two terms cannot overlap: a text whose
    first char is a capital has no whitespace before it, and a first
    *word* behind leading whitespace is caught by the first term. Both
    patterns are anchor-free single scans — the whole rule stays in RE2
    at ~3.4 s/1M rows on a 4-vCPU VM (an utf8_split_whitespace
    materialization of every word measured ~40x slower; utf8_ltrim ~4x).
    Still the costliest rule, so classify_flat passes only its
    title-eligible rows.
    """
    t = pc.fill_null(text, "")
    words = _np_i64(pc.count_substring_regex(t, _WORD_RE))
    caps_mid = _np_i64(pc.count_substring_regex(t, _CAP_AFTER_WS_RE))
    first = pc.utf8_slice_codeunits(t, 0, 1)
    head_cap = _np_bool(
        pc.and_(pc.greater_equal(first, "A"), pc.less_equal(first, "Z"))
    )
    caps = caps_mid + head_cap.astype(np.int64)
    return caps, words


def classify_flat(kind: pa.Array, text: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Classify a flat batch of spans (Arrow string arrays in).

    Returns (cls int8 array, out_kind int8 array). out_kind is only
    meaningful where cls == 1. Must equal oracle.classify_span per
    element — pytest asserts kernel/oracle equality on whole corpora.
    """
    n = len(kind)
    cls = np.zeros(n, dtype=np.int8)
    okind = np.full(n, K_PARAGRAPH, dtype=np.int8)
    if n == 0:
        return cls, okind

    is_sep = _np_bool(pc.equal(kind, C.KIND_SEP))
    is_media = _np_bool(pc.equal(kind, C.KIND_MEDIA))
    is_text = _np_bool(pc.equal(kind, C.KIND_TEXT)) & _np_bool(pc.is_valid(text))

    cls[is_sep] = C.CLS_SEPARATOR
    cls[is_media] = C.CLS_CONTENT
    okind[is_media] = K_FIGURE

    if is_text.any():
        low = pc.utf8_lower(text)
        boiler = _np_bool(pc.match_substring_regex(low, BOILERPLATE_RE))
        caption = np.zeros(n, dtype=bool)
        for prefix in C.CAPTION_PREFIXES:
            caption |= _np_bool(pc.starts_with(low, prefix))
        caption &= ~boiler

        # title-shaped (oracle.py:_is_title_shaped): short, no sentence
        # terminator, majority of words capitalized — exact integer ratio
        nlen = _np_i64(pc.utf8_length(text))
        ends = (
            _np_bool(pc.ends_with(text, "."))
            | _np_bool(pc.ends_with(text, "!"))
            | _np_bool(pc.ends_with(text, "?"))
        )
        # count words only on the rows the cheap title predicates leave;
        # every other row is not a title
        sel = np.flatnonzero(
            is_text & (nlen <= C.TITLE_MAX_CHARS) & ~ends & ~boiler & ~caption
        )
        caps, words = _word_cap_counts(pc.take(text, sel))
        title = np.zeros(n, dtype=bool)
        title[sel] = caps * C.TITLE_CAP_RATIO_DEN > words * C.TITLE_CAP_RATIO_NUM

        np.putmask(cls, is_text & ~boiler, C.CLS_CONTENT)
        np.putmask(okind, is_text & caption, K_CAPTION)
        np.putmask(okind, title, K_TITLE)

    return cls, okind
