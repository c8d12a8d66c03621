"""classify_flat counts words only on the title-eligible rows (a
selection vector) and writes the title test back to those rows: it must
still equal oracle.classify_span row by row on batches where the
selection is empty, full, or scattered between rows that never reach the
count. Spark-free."""

import pyarrow as pa
import pytest

from extraction import constants as C
from extraction.classify import _PY_WS_CODES, KIND_NAMES_PA, classify_flat
from extraction.oracle import classify_span

LONG_CAPS = " ".join(["Word"] * 30)  # capitalised, past TITLE_MAX_CHARS
assert len(LONG_CAPS) > C.TITLE_MAX_CHARS


def check(kind: pa.Array, text: pa.Array) -> None:
    cls, okind = classify_flat(kind, text)
    names = KIND_NAMES_PA.to_pylist()
    got = [(int(c), names[o] if c == C.CLS_CONTENT else None) for c, o in zip(cls, okind)]
    want = [classify_span(k, t) for k, t in zip(kind.to_pylist(), text.to_pylist())]
    assert got == want


def batch(rows):
    return pa.array([k for k, _ in rows]), pa.array([t for _, t in rows], pa.string())


NONE_ELIGIBLE = [
    ("text", "A Sentence With A Stop."),
    ("text", "Does It Ask?"),
    ("text", "It Shouts!"),
    ("text", LONG_CAPS),
    ("text", "Figure 3 Results Table"),
    ("text", "All Rights Reserved"),
    ("text", None),
    ("sep", "Section Title"),
    ("media", "Big Media Title"),
    ("nav", "Home About Contact"),
]
ALL_ELIGIBLE = [
    ("text", "Big Title Here"),
    ("text", "lower case words only"),
    ("text", "One two"),
    ("text", "One Two three"),
    ("text", ""),
    ("text", "   "),
    ("text", " Leading Space Title"),
    ("text", "AA"),
    ("text", "0 AA"),
    ("text", "Ünïcode Title Words"),
]
WS_SPLIT = [("text", chr(c).join(["Alpha", "Beta", "gamma"])) for c in _PY_WS_CODES] + [
    ("text", chr(c).join(["alpha", "Beta", "gamma"])) for c in _PY_WS_CODES
]


def scattered():
    """Eligible rows spread between ineligible ones, titles late in the
    batch: a count written back to the wrong rows cannot pass."""
    rows = []
    for i in range(40):
        rows.append(NONE_ELIGIBLE[i % len(NONE_ELIGIBLE)])
        if i % 3 == 2:
            rows.append(ALL_ELIGIBLE[i % len(ALL_ELIGIBLE)])
    return rows + WS_SPLIT


@pytest.mark.parametrize(
    "rows",
    [NONE_ELIGIBLE, ALL_ELIGIBLE, WS_SPLIT, scattered()],
    ids=["none-eligible", "all-eligible", "unicode-ws", "scattered"],
)
def test_selection_matches_oracle(rows):
    check(*batch(rows))


def test_sliced_arrays_match_oracle():
    """A non-zero array offset: the selection indexes the slice, not the
    buffers under it."""
    kind, text = batch(scattered())
    for lo, hi in [(1, len(kind)), (7, 60), (len(kind) - 5, len(kind))]:
        check(kind.slice(lo, hi - lo), text.slice(lo, hi - lo))


def test_sliced_struct_fields_match_oracle():
    """The kernel hands classify the fields of a sliced struct array."""
    kind, text = batch(scattered())
    spans = pa.StructArray.from_arrays([kind, text], ["kind", "text"]).slice(5, 50)
    flat = spans.flatten()
    check(flat[0], flat[1])
