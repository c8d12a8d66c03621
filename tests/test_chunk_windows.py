"""text_chunk_windows contract: stride-overlapped context windows must
COVER the token stream — the property that makes chunking chunking. A
constructed corpus (the test_bm25 pattern) pins the behaviors a specific
regression would break:

1. COVERAGE: window i starts at token 24*i, so every token position of
   an n-token doc falls inside >= 1 window and the start set is exactly
   {0, 24, 48, ...} up to n-1 (an exclusive-stop sequence would drop
   the final partial window and lose the doc tail);
2. OVERLAP: consecutive full windows share width-stride = 8 tokens
   (head of window i+1 == token 8 from the end of window i);
3. TAIL CLAMP: the last window's n_toks is n - 24*i, never padded and
   never dropped (a doc with exactly `stride` tokens gets exactly one
   window — an off-by-one start set would emit a phantom empty window);
4. FINGERPRINT: two docs whose token streams coincide on a window
   produce identical fp (the chunk-level dedup key is content-defined,
   not doc-defined), and differing windows differ.

Plus the driver-contract shape at sf0.001 and a DuckDB oracle parity
check at sf0.001 (the same comparator gate as the contract run).
"""

import hashlib
import os

import duckdb
import pytest

import __spark_entry__ as entry

W, S = 32, 24


def _rows(spark, tmp_path, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = entry.q_text_chunk_windows(spark, str(tmp_path)).collect()
    return sorted(out, key=lambda r: (r["doc_id"], r["win_id"]))


def test_chunk_semantics_on_constructed_corpus(spark, tmp_path):
    toks80 = [f"w{i:03d}" for i in range(80)]
    rows = _rows(
        spark,
        tmp_path,
        [
            (0, " ".join(toks80), "en"),  # 80 tokens -> starts 0,24,48,72
            (1, " ".join(toks80[:24]), "en"),  # exactly one stride -> 1 window
            (2, " ".join(toks80[:25]), "en"),  # stride+1 -> 1-token tail window
            (3, "!!! ... ???", "en"),  # normalizes to empty -> no rows
            (4, " ".join(toks80[:40]), "en"),  # shares window 0 with doc 0
        ],
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)

    # 1. coverage: start set is ceil(n/24) windows, ids dense from 0
    d0 = by_doc[0]
    assert [r["win_id"] for r in d0] == [0, 1, 2, 3]
    assert [r["n_toks"] for r in d0] == [32, 32, 32, 8]
    assert d0[0]["head"] == "w000" and d0[0]["tail"] == "w031"
    assert d0[3]["head"] == "w072" and d0[3]["tail"] == "w079"

    # 2. overlap: window i+1's head is 8 tokens before window i's tail end
    for i in range(3):
        head_next = int(d0[i + 1]["head"][1:])
        tail_prev = int(d0[i]["tail"][1:])
        if d0[i]["n_toks"] == W:
            assert tail_prev - head_next == W - S - 1  # 8-token overlap

    # 3. tail clamp: no phantom window past the last token
    assert [(r["win_id"], r["n_toks"]) for r in by_doc[1]] == [(0, 24)]
    assert [(r["win_id"], r["n_toks"]) for r in by_doc[2]] == [(0, 25), (1, 1)]
    assert by_doc[2][1]["head"] == "w024" and by_doc[2][1]["tail"] == "w024"
    assert 3 not in by_doc, "empty-normalized doc must emit no windows"

    # 4. fingerprint is content-defined: doc 4's window 0 covers the same
    # 32 tokens as doc 0's window 0; its window 1 (8 tokens) differs
    assert by_doc[4][0]["fp"] == d0[0]["fp"]
    assert by_doc[4][1]["fp"] != d0[1]["fp"]
    assert len({r["fp"] for r in d0}) == 4


def test_chunk_boilerplate_on_constructed_corpus(spark, tmp_path):
    """dedup_chunk_boilerplate: a 32-token block shared verbatim by two
    docs (the templated-footer shape) must surface with n_docs == 2;
    chunks unique to one doc must not, even when repeated WITHIN that
    doc (within-doc repetition is not boilerplate — n_occ counts it,
    the n_docs >= 2 filter gates on doc span)."""
    footer = " ".join(f"f{i:03d}" for i in range(32))
    uniq_a = " ".join(f"a{i:03d}" for i in range(48))
    uniq_b = " ".join(f"b{i:03d}" for i in range(48))
    cyc = " ".join(f"c{i:03d}" for i in range(24))
    rows = [
        (0, footer + " " + uniq_a, "en"),  # footer at window 0
        (1, footer + " " + uniq_b, "en"),  # same footer at window 0
        (2, uniq_a, "en"),  # shares doc 0's SUFFIX but never window-aligned
        # stride-periodic text: windows 0 and 1 are IDENTICAL 32-token
        # chunks within ONE doc (n_occ 2, n_docs 1 -> must be filtered)
        (3, cyc + " " + cyc + " " + cyc, "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = entry.q_dedup_chunk_boilerplate(spark, str(tmp_path)).collect()
    cw = entry.q_text_chunk_windows(spark, str(tmp_path)).collect()
    footer_fp = next(
        r["fp"] for r in cw if r["doc_id"] == 0 and r["win_id"] == 0
    )
    by_fp = {r["fp"]: r for r in out}
    assert footer_fp in by_fp
    hit = by_fp[footer_fp]
    assert hit["n_docs"] == 2 and hit["n_occ"] == 2
    assert hit["n_toks"] == 32
    assert hit["head"] == "f000" and hit["tail"] == "f031"
    # every reported fp is a full window spanning >= 2 docs by
    # construction of the filter
    assert all(r["n_docs"] >= 2 and r["n_toks"] == W for r in out)
    # doc 2 re-uses doc 0's token SUBSEQUENCE at a different alignment:
    # none of its chunk fps may be reported (chunking is stride-aligned,
    # so only window-aligned repetition counts — the documented contract)
    doc2_fps = {r["fp"] for r in cw if r["doc_id"] == 2}
    assert doc2_fps.isdisjoint(by_fp)
    # doc 3's stride-periodic text repeats a chunk WITHIN the doc
    # (windows 0 and 1 carry the same fp) — n_docs == 1, so it must
    # not be reported as boilerplate
    d3 = sorted(
        (r for r in cw if r["doc_id"] == 3), key=lambda r: r["win_id"]
    )
    assert d3[0]["fp"] == d3[1]["fp"], "periodic text must repeat the fp"
    assert d3[0]["fp"] not in by_fp


def test_chunk_boilerplate_ignores_shared_short_tail(spark, tmp_path):
    """Two 49-token docs with distinct bodies both end in "fin": their
    1-token tail windows (start 48) carry the same fp, but a short tail
    is not boilerplate — only full 32-token windows are counted."""
    rows = [
        (0, " ".join(f"a{i:03d}" for i in range(48)) + " fin", "en"),
        (1, " ".join(f"b{i:03d}" for i in range(48)) + " fin", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    cw = entry.q_text_chunk_windows(spark, str(tmp_path)).collect()
    tails = {r["fp"] for r in cw if r["win_id"] == 2}
    assert len(tails) == 1 and all(
        r["n_toks"] == 1 for r in cw if r["win_id"] == 2
    ), "fixture: both docs end in the same 1-token tail window"
    assert entry.q_dedup_chunk_boilerplate(spark, str(tmp_path)).collect() == []


def test_chunk_fp_no_32bit_collision(spark, tmp_path):
    """One-token docs "c5373" and "c45389" share the 8-hex-digit md5
    prefix f5c8b142: a 32-bit fingerprint gives both chunks the same fp.
    The 60-bit fp keeps them apart."""
    assert (
        hashlib.md5(b"c5373").hexdigest()[:8]
        == hashlib.md5(b"c45389").hexdigest()[:8]
    )
    rows = [(0, "c5373", "en"), (1, "c45389", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    cw = entry.q_text_chunk_windows(spark, str(tmp_path)).collect()
    assert len(cw) == 2
    assert cw[0]["fp"] != cw[1]["fp"]


def test_chunk_testdata_shape_and_oracle_parity(spark):
    sf = "/root/testdata/sf0.001"
    sdf = entry.q_text_chunk_windows(spark, sf)
    scols = sdf.columns
    srows = sdf.collect()
    assert len(srows) > 0
    for r in srows:
        assert 1 <= r["n_toks"] <= W
        assert r["head"] and r["tail"]

    bdf = entry.q_dedup_chunk_boilerplate(spark, sf)
    bcols = bdf.columns
    brows = bdf.collect()

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{os.path.join(sf, 'documents.parquet')}'"
        )
        res = con.execute(entry.oracle_sql()["text_chunk_windows"])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        bres = con.execute(entry.oracle_sql()["dedup_chunk_boilerplate"])
        dbcols = [d[0] for d in bres.description]
        dbrows = bres.fetchall()
    finally:
        con.close()

    def norm(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(tuple(r[i] for i in order) for r in rows)

    assert sorted(scols) == sorted(dcols)
    assert norm(srows, scols) == norm(drows, dcols)
    assert sorted(bcols) == sorted(dbcols)
    assert norm(brows, bcols) == norm(dbrows, dbcols)
