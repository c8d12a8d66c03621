"""Operator-level tests for the dedup / similarity family (SURVEY.md §2.10).

The driver queries already value-hash-check these against DuckDB; this
file tests the PROPERTIES the oracle comparison can't see — blocking
recall guarantees, degenerate-doc guards, probe-set monotonicity —
against brute-force recomputation on small fixtures.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from extraction.dedup import (
    MINHASH_PRIME,
    minhash_lsh_candidates,
    minhash_signature,
    simhash_near_pairs,
)
from extraction.similarity import brute_force_topk, bucketed_topk, multiprobe_topk
from extraction.textops import simhash


def _docs(spark, rows):
    return spark.createDataFrame(rows, "id long, text string")


FIXTURE = [
    (0, "alpha beta gamma delta epsilon zeta eta theta"),
    (1, "alpha beta gamma delta epsilon zeta eta iota"),  # near-dup of 0
    (2, "totally different words compose this other document here"),
    (3, "totally different words compose this other document there"),  # near-dup of 2
    (4, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 0
    (5, ""),  # degenerate: empty
    (6, "tiny doc"),  # degenerate: < 3 words
    (7, "word"),  # degenerate: 1 word
]


# --- degenerate-doc guards (the 100 TB sentinel-bucket hazard) ---

def test_lsh_excludes_empty_shingle_docs(spark):
    d = _docs(spark, FIXTURE)
    pairs = minhash_lsh_candidates(d, "text", "id", k=3, perms=16, bands=4).collect()
    ids_in_pairs = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert not ids_in_pairs & {5, 6, 7}, "degenerate docs must never enter banding"
    # the exact dup and the near-dups must still be found
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 4) in got
    assert (0, 1) in got or (2, 3) in got


def test_sentinel_signature_is_unreachable_for_real_docs(spark):
    d = _docs(spark, [r for r in FIXTURE if len(r[1].split()) >= 3])
    sigs = d.select(minhash_signature(F.col("text"), k=3, perms=4).alias("s")).collect()
    for r in sigs:
        assert all(v < MINHASH_PRIME for v in r.s)
    # and degenerate docs DO get the sentinel
    deg = _docs(spark, [(5, ""), (6, "tiny doc")])
    sigs = deg.select(minhash_signature(F.col("text"), k=3, perms=4).alias("s")).collect()
    for r in sigs:
        assert all(v == MINHASH_PRIME for v in r.s)


def test_simhash_pairs_exclude_wordless_docs(spark):
    d = _docs(spark, FIXTURE + [(8, "...!!!")])  # normalizes to zero words
    pairs = simhash_near_pairs(d, "text", "id", bits=32, bands=4, max_hamming=3)
    ids = {r.id_a for r in pairs.collect()} | {r.id_b for r in pairs.collect()}
    assert 5 not in ids and 8 not in ids


# --- pigeonhole recall guarantee of banded simhash blocking ---

def test_simhash_banding_is_lossless_for_small_hamming(spark):
    # brute-force ground truth: ALL pairs with hamming <= 3, computed
    # from the raw hashes driver-side
    rows = [r for r in FIXTURE if r[1].strip()]
    d = _docs(spark, rows)
    hashes = {
        r.id: r.sh
        for r in d.select("id", simhash(F.col("text"), 32).alias("sh")).collect()
    }
    want = set()
    ids = sorted(hashes)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin(hashes[a] ^ hashes[b]).count("1") <= 3:
                want.add((a, b))
    got = {
        (r.id_a, r.id_b)
        for r in simhash_near_pairs(
            d, "text", "id", bits=32, bands=4, max_hamming=3
        ).collect()
    }
    assert got == want  # recall 1.0 AND no false positives after verify


def test_simhash_pairs_rejects_unguaranteed_params(spark):
    d = _docs(spark, FIXTURE[:2])
    with pytest.raises(ValueError):
        simhash_near_pairs(d, "text", "id", bits=32, bands=4, max_hamming=4)
    # uneven chunks break the pigeonhole guarantee
    with pytest.raises(ValueError):
        simhash_near_pairs(d, "text", "id", bits=60, bands=7, max_hamming=3)
    # >60-bit word hash cannot be a portable md5->int64 prefix
    with pytest.raises(ValueError):
        simhash_near_pairs(d, "text", "id", bits=64, bands=4, max_hamming=3)


def test_simhash_60bit_uses_full_width(spark):
    # the 60-bit hash must actually populate bits 32..59 — the whole
    # point of widening the band chunks (a 32-bit word hash under a
    # 60-bit simhash would leave the top 28 bits constant-zero and the
    # top bands with a single degenerate key)
    rows = [r for r in FIXTURE if r[1].strip()]
    d = _docs(spark, rows)
    hs = [r.sh for r in d.select(simhash(F.col("text"), 60).alias("sh")).collect()]
    assert any(h >> 32 for h in hs)


# --- ANN probe-set monotonicity ---

def test_multiprobe_dominates_single_probe(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    bf = {
        r.query_id: r.neighbor_id
        for r in brute_force_topk(emb, q, "embedding", "vec_id", k=1).collect()
    }
    single = {
        r.query_id: r.neighbor_id
        for r in bucketed_topk(emb, q, "embedding", "vec_id", k=1, planes=4).collect()
    }
    multi = {
        r.query_id: r.neighbor_id
        for r in multiprobe_topk(emb, q, "embedding", "vec_id", k=1, planes=4).collect()
    }
    # multi-probe scans a superset of each query's candidates: it must
    # answer at least every query single-probe answers, and its recall
    # can only be >= single-probe's
    assert set(single) <= set(multi)
    hits_single = sum(1 for k_, v in single.items() if bf.get(k_) == v)
    hits_multi = sum(1 for k_, v in multi.items() if bf.get(k_) == v)
    assert hits_multi >= hits_single


# --- IVF: join-form (centroids as data) must equal literal-form, and
# probing every list must equal brute force ---

def test_ivf_join_form_matches_literal_form(spark):
    from extraction.similarity import ivf_join_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    cents_rows = emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    lits = [list(r.embedding) for r in cents_rows]
    cents_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("long").alias("cid"), F.col("embedding").alias("cv")
    )
    for nprobe in (1, 2, 8):
        lit = {
            (r.query_id, r.rank): r.neighbor_id
            for r in ivf_topk(
                emb, q, "embedding", "vec_id", centroids=lits, k=2, nprobe=nprobe
            ).collect()
        }
        join = {
            (r.query_id, r.rank): r.neighbor_id
            for r in ivf_join_topk(
                emb, q, "embedding", "vec_id", centroids=cents_df, k=2, nprobe=nprobe
            ).collect()
        }
        # identical output contract: same (query, rank) -> neighbor map
        assert join == lit
    # probing all 8 lists scans the whole corpus, so the answer is the
    # exact top-k (sf0.001 has no zero-norm vectors, the only inputs on
    # which cosine_sim_safe and cosine_sim differ)
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in brute_force_topk(emb, q, "embedding", "vec_id", k=2).collect()
    }
    assert join == exact


def test_ivf_join_form_nan_pins_to_sentinel(spark):
    # a zero-norm vector has NaN cosine against everything; the nanvl
    # sentinel must assign it like a -2.0 score (lowest-cid argmax wins),
    # never propagate NaN into the assignment
    from extraction.similarity import ivf_join_topk

    rows = [
        (0, [1.0] + [0.0] * 63),
        (1, [0.0, 1.0] + [0.0] * 62),
        (2, [0.0] * 64),  # zero-norm: NaN cosine
        (3, [1.0, 1.0] + [0.0] * 62),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    out = ivf_join_topk(
        df, df.filter(F.col("vec_id") == 3), "embedding", "vec_id",
        centroids=cents, k=1,
    ).collect()
    # query 3 lands in list 0 (tie cos -> lowest cid); vec 0 shares it
    assert len(out) == 1 and out[0].neighbor_id == 0


# --- near-dup connected components (the dedup KEEP/DROP decision) ---

def test_neardup_components_transitive_closure(spark):
    from extraction.dedup import neardup_components

    # chain 1-2-3 (one component via transitivity), pair 10-11,
    # pathological long chain 20..26, self-contained triangle 30,31,32
    pairs = [(1, 2), (2, 3), (10, 11)] + [
        (i, i + 1) for i in range(20, 26)
    ] + [(30, 31), (31, 32), (30, 32)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        r.id: r.component for r in neardup_components(df).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        **{i: 20 for i in range(20, 27)},
        30: 30, 31: 30, 32: 30,
    }


def test_neardup_components_max_iter_raises(spark):
    import pytest as _pytest

    from extraction.dedup import neardup_components

    chain = [(i, i + 1) for i in range(0, 12)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    with _pytest.raises(RuntimeError):
        neardup_components(df, max_iter=2)


# --- benchmark decontamination (GPT-3 appendix-C n-gram overlap) ---

def test_decontaminate_hits_counts_shared_shingles(spark):
    from extraction.dedup import decontaminate_hits

    bench = _docs(spark, [(100, "the quick brown fox jumps")])
    # bench 3-word shingles: {the quick brown, quick brown fox,
    #                         brown fox jumps}
    train = _docs(spark, [
        (0, "the quick brown fox ran"),          # shares 2
        (1, "a slow red turtle walks away"),     # shares 0 -> absent
        (2, "jumps the quick brown fox jumps"),  # shares 3 (distinct)
        (3, "fox"),                              # degenerate -> absent
        (4, "The QUICK, brown fox!"),            # normalization: shares 2
    ])
    got = {
        r.doc_id: r.n_hits
        for r in decontaminate_hits(train, bench, "text", "id", k=3).collect()
    }
    assert got == {0: 2, 2: 3, 4: 2}


def test_decontaminate_empty_benchmark_flags_nothing(spark):
    from extraction.dedup import decontaminate_hits

    bench = _docs(spark, [(100, "xx")])  # < k words: empty shingle set
    train = _docs(spark, [(0, "the quick brown fox ran")])
    assert decontaminate_hits(train, bench, "text", "id", k=3).count() == 0


# --- incremental-ingest dedup (NEW x EXISTING, never EXISTING x EXISTING) ---

def test_incremental_matches_only_cross_side(spark):
    from extraction.dedup import incremental_neardup_matches

    existing = _docs(spark, [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # dup INSIDE existing
        (4, "totally different words compose this other document here"),
    ])
    incoming = _docs(spark, [
        (1, "alpha beta gamma delta epsilon zeta eta iota"),   # near-dups 0 and 2
        (3, "unrelated fresh content entirely novel text stream"),  # no match
        (5, ""),                                               # degenerate
    ])
    got = {
        r.id: (r.first_match, r.n_matches)
        for r in incremental_neardup_matches(
            existing, incoming, "text", "id", k=3, perms=16, bands=4
        ).collect()
    }
    # only the incoming near-dup appears; the existing-side dup pair (0,2)
    # must NOT surface — that's self-dedup's job, not ingest's
    assert got == {1: (0, 2)}
