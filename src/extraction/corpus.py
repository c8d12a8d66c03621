"""Deterministic synthetic docs corpus (FIXTURES.md §4).

Every document is a pure function of its integer index — no sequential
RNG state — so the corpus can be generated in parallel by Spark
(``spark.range(n).mapInPandas``) and any slice regenerated bit-identically
for tests, golden fixtures and benchmarks.

Family mix per FIXTURES.md §4 (by ``i % 100``):
  0-29   plain text (30%)
  30-54  interleaved text+media (25%)
  55-69  boilerplate-heavy (15%)
  70-79  multi-column with ``sep`` cuts (10%)
  80-89  fragmented: offset gaps + small lead blocks (10%)
  90-94  media-heavy skew docs (5%)
  95-99  degenerate: empty / single / all-boilerplate / all-sep /
         duplicate offsets (5%)
"""

from __future__ import annotations

from .constants import BOILERPLATE_MARKERS

MASK64 = (1 << 64) - 1

_WORDS = (
    "data span block layout page column region text line word glyph "
    "margin header body note index table row cell frame grid caption "
    "anchor tone shade mark edge field scope trace probe facet"
).split()

_CAP_WORDS = tuple(w.capitalize() for w in _WORDS)


def _splitmix64(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & MASK64
    z = x
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK64
    return (z ^ (z >> 31)) & MASK64


class _Rng:
    """Tiny deterministic PRNG keyed by (seed, doc index)."""

    def __init__(self, seed: int, i: int):
        self.state = _splitmix64(seed * 0x5851F42D4C957F2D + i)

    def next(self, n: int) -> int:
        """Uniform int in [0, n)."""
        self.state = _splitmix64(self.state)
        return self.state % n


def _sentence(rng: _Rng, nwords: int) -> str:
    ws = [_WORDS[rng.next(len(_WORDS))] for _ in range(nwords)]
    return (" ".join(ws)).capitalize() + "."


def _title(rng: _Rng, nwords: int) -> str:
    return " ".join(_CAP_WORDS[rng.next(len(_CAP_WORDS))] for _ in range(nwords))


def _caption(rng: _Rng, n: int) -> str:
    return f"Figure {n}: " + _sentence(rng, 4 + rng.next(5))


def _para_span(rng: _Rng, offset: int) -> dict:
    # long enough that a few of them clear MIN_CHARS together
    return {
        "kind": "text",
        "text": _sentence(rng, 8 + rng.next(10)),
        "media_ref": None,
        "offset": offset,
    }


def _media_span(rng: _Rng, offset: int) -> dict:
    return {
        "kind": "media",
        "text": None,
        "media_ref": f"media://{rng.next(1 << 60):016x}",
        "offset": offset,
    }


def _boiler_span(rng: _Rng, offset: int) -> dict:
    kind = ("nav", "ad", "foot", "script")[rng.next(4)]
    # half carry a DOM-heuristic marker as a `text` kind instead
    if rng.next(2) == 0:
        marker = BOILERPLATE_MARKERS[rng.next(len(BOILERPLATE_MARKERS))]
        return {
            "kind": "text",
            "text": f"Site notice {marker} {rng.next(1000)}",
            "media_ref": None,
            "offset": offset,
        }
    return {
        "kind": kind,
        "text": f"{kind} chrome {rng.next(1000)}",
        "media_ref": None,
        "offset": offset,
    }


def gen_doc(i: int, seed: int = 42, heavy_spans: int = 2000) -> tuple[str, list[dict]]:
    """Generate document ``i`` deterministically. Returns (doc_id, spans)."""
    rng = _Rng(seed, i)
    fam = i % 100
    doc_id = f"doc-{i:09d}"
    spans: list[dict] = []
    off = 0

    def emit(span: dict) -> None:
        spans.append(span)

    if fam < 30:  # plain text
        n = 3 + rng.next(38)
        emit({"kind": "text", "text": _title(rng, 2 + rng.next(4)), "media_ref": None, "offset": off})
        off += 1
        for _ in range(n):
            emit(_para_span(rng, off))
            off += 1
    elif fam < 55:  # interleaved text+media
        nmedia = 1 + rng.next(5)
        emit({"kind": "text", "text": _title(rng, 2 + rng.next(4)), "media_ref": None, "offset": off})
        off += 1
        for m in range(nmedia):
            for _ in range(2 + rng.next(4)):
                emit(_para_span(rng, off))
                off += 1
            emit(_media_span(rng, off))
            off += 1
            emit({"kind": "text", "text": _caption(rng, m + 1), "media_ref": None, "offset": off})
            off += 1
        for _ in range(1 + rng.next(4)):
            emit(_para_span(rng, off))
            off += 1
    elif fam < 70:  # boilerplate-heavy
        n = 8 + rng.next(20)
        for _ in range(n):
            if rng.next(100) < 60:
                emit(_boiler_span(rng, off))
            else:
                emit(_para_span(rng, off))
            off += 1
    elif fam < 80:  # multi-column
        ncols = 2 + rng.next(2)
        for c in range(ncols):
            if c > 0:
                emit({"kind": "sep", "text": None, "media_ref": None, "offset": off})
                off += 1
            emit({"kind": "text", "text": _title(rng, 2 + rng.next(3)), "media_ref": None, "offset": off})
            off += 1
            for _ in range(3 + rng.next(8)):
                emit(_para_span(rng, off))
                off += 1
    elif fam < 90:  # fragmented: gaps > GAP, small lead fragments near big blocks
        # small lead fragment (eliminated by containment-with-tolerance or
        # the small rule), then a gap, then a large block, then a near gap
        # (< MERGE_GAP) producing a re-mergeable split
        emit({"kind": "text", "text": _WORDS[rng.next(len(_WORDS))], "media_ref": None, "offset": off})
        off += 4 + rng.next(4)  # gap > GAP
        for _ in range(4 + rng.next(8)):
            emit(_para_span(rng, off))
            off += 1
        off += 4 + rng.next(3)  # gap in (GAP, MERGE_GAP): split then merged back
        for _ in range(4 + rng.next(8)):
            emit(_para_span(rng, off))
            off += 1
        off += 20  # gap >= MERGE_GAP: genuinely separate block
        for _ in range(3 + rng.next(6)):
            emit(_para_span(rng, off))
            off += 1
    elif fam < 95:  # media-heavy skew
        n = heavy_spans // 2 + rng.next(heavy_spans // 2 + 1)
        for _ in range(n):
            if rng.next(100) < 80:
                emit(_media_span(rng, off))
            else:
                emit(_para_span(rng, off))
            off += 1
    else:  # degenerate
        sub = i % 5
        if sub == 0:
            pass  # empty spans array
        elif sub == 1:
            emit(_para_span(rng, 0))
        elif sub == 2:
            for k in range(5):
                emit(_boiler_span(rng, k))
        elif sub == 3:
            for k in range(4):
                emit({"kind": "sep", "text": None, "media_ref": None, "offset": k})
        else:  # duplicate offsets, tie-broken by array position
            emit({"kind": "text", "text": _title(rng, 3), "media_ref": None, "offset": 0})
            for _ in range(6):
                emit(_para_span(rng, 1))
            emit(_para_span(rng, 2))
    return doc_id, spans


def gen_corpus(n: int, seed: int = 42, heavy_spans: int = 2000) -> list[tuple[str, list[dict]]]:
    """Generate docs 0..n-1 as python rows (small scales / tests)."""
    return [gen_doc(i, seed, heavy_spans) for i in range(n)]


def corpus_df(spark, n: int, seed: int = 42, heavy_spans: int = 2000, slices: int = 32):
    """Generate the corpus distributed: one task per index slice.

    Used for bench-scale corpora (10^5–10^6 docs) where driver-side
    generation would serialize; each task regenerates its slice purely
    from indices, so the result is identical to :func:`gen_corpus`.
    """
    from .schema import DOCS_SCHEMA
    from .zipcache import drop_zip_importers

    def gen_batches(iterator):
        drop_zip_importers()
        import pandas as pd

        for pdf in iterator:
            rows = [gen_doc(int(i), seed, heavy_spans) for i in pdf["id"]]
            yield pd.DataFrame(
                {"doc_id": [r[0] for r in rows], "spans": [r[1] for r in rows]}
            )

    return (
        spark.range(0, n, 1, slices)
        .mapInPandas(gen_batches, schema=DOCS_SCHEMA)
    )


# ---------------------------------------------------------------------------
# deterministic LM-evaluation text corpus (BENCH/LM.md)
# ---------------------------------------------------------------------------
# The main synthetic corpus (gen_doc) draws every sentence i.i.d. from one
# shared ~31-word vocabulary, so its bigram statistics barely vary across
# documents — BENCH/LM.md round 4 honestly recorded that the bigram-LM
# score cannot discriminate on it. This generator exists to give the LM a
# corpus that CARRIES the signal: per-language Zipfian unigram marginals
# with a per-language bigram CHAIN (fluent docs), a word-salad control
# tier with the IDENTICAL unigram/stopword/punctuation profile but the
# chain destroyed (so quality_score cannot separate it — only fluency
# can), and a degenerate short-repetition tier (what a perplexity filter
# exists to catch). Pure function of (seed, i), like gen_doc.

_LM_LANGS = ("en", "de", "fr", "es")
_LM_V = 48  # per-lang vocab size (31 base words + synthetic extras)
_LM_CHAIN_A = {"en": 7, "de": 11, "fr": 13, "es": 17}
_LM_CHAIN_B = {"en": 1, "de": 3, "fr": 5, "es": 9}


def _zipf_table(v: int) -> list[int]:
    """Rank-sampling table: rank r appears ~v/(r+1) times (Zipf-ish)."""
    t: list[int] = []
    for r in range(v):
        t.extend([r] * max(1, v // (r + 1)))
    return t


_LM_ZIPF = _zipf_table(_LM_V)


def _lm_vocab(lang: str) -> list[str]:
    base = [f"{lang}{w}" for w in _WORDS]
    return base + [f"{lang}x{k}" for k in range(_LM_V - len(base))]


def gen_text_doc(i: int, seed: int = 42) -> tuple[int, str, str, str]:
    """LM-eval document ``i``: (doc_id, lang, tier, text).

    Tiers by i % 20: 0-11 fluent (60%), 12-16 salad (25%), 17-19
    degenerate (15%). Fluent text follows the language's bigram chain
    (next rank = (prev·A + B + rng(3)) mod V — ≤3 successors per
    context); salad draws each content word independently from the
    SAME Zipf marginal with the same stopword-every-4th / period-
    every-10th cadence and length range, so every quality_score
    feature matches fluent and only the bigram structure differs;
    degenerate is one word repeated (short, punctuation-free —
    quality_score < 50, so it forms the LM's held-out slice).
    """
    from .textops import STOPWORDS

    rng = _Rng(seed * 0x9E3779B9 + 17, i)
    lang = _LM_LANGS[(i // 20) % len(_LM_LANGS)]
    slot = i % 20
    tier = "fluent" if slot < 12 else ("salad" if slot < 17 else "degenerate")
    vocab = _lm_vocab(lang)
    sw = STOPWORDS[lang]
    if tier == "degenerate":
        wd = vocab[_LM_ZIPF[rng.next(len(_LM_ZIPF))]]
        return i, lang, tier, " ".join([wd] * (4 + rng.next(6)))
    n = 60 + rng.next(60)
    out: list[str] = []
    prev = _LM_ZIPF[rng.next(len(_LM_ZIPF))]
    for k in range(n):
        if tier == "fluent":
            prev = (
                prev * _LM_CHAIN_A[lang] + _LM_CHAIN_B[lang] + rng.next(3)
            ) % _LM_V
        else:
            prev = _LM_ZIPF[rng.next(len(_LM_ZIPF))]
        wd = vocab[prev]
        if k % 10 == 9:
            wd += "."
        out.append(wd)
        if k % 4 == 3:
            out.append(sw[rng.next(len(sw))])
    return i, lang, tier, " ".join(out)


def gen_text_corpus(n: int, seed: int = 42) -> list[tuple[int, str, str, str]]:
    """LM-eval docs 0..n-1 as python rows."""
    return [gen_text_doc(i, seed) for i in range(n)]


def text_corpus_arrow(n: int, seed: int = 42):
    """The LM-eval corpus as a pyarrow table (doc_id, lang, tier, text) —
    the one registration both tools/lm_eval.py --synthetic and
    tests/test_lm_discrimination.py bind as the DuckDB ``documents``
    view, so the published measurement and the pinning test can never
    diverge on the view schema."""
    import pyarrow as pa

    rows = gen_text_corpus(n, seed)
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "lang": pa.array([r[1] for r in rows], pa.string()),
            "tier": pa.array([r[2] for r in rows], pa.string()),
            "text": pa.array([r[3] for r in rows], pa.string()),
        }
    )
