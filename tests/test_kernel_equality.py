"""Golden equality: the Spark kernel must equal the oracle on every doc
(span-sequence equality on (kind, text, media_ref, order) — the per-row
invariant from BASELINE.json input_hint)."""

import pytest

from extraction.corpus import gen_corpus
from extraction.oracle import extract_corpus
from extraction.pipeline import extract, is_spread, run_extraction
from extraction.schema import DOCS_SCHEMA

N_DOCS = 400  # ≥4 of each FIXTURES.md family


def spans_tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in spans]


def row_tuples(row_spans):
    return [(s.kind, s.text, s.media_ref, s.order) for s in row_spans]


@pytest.fixture(scope="module")
def corpus():
    return gen_corpus(N_DOCS, heavy_spans=300)


@pytest.fixture(scope="module")
def golden(corpus):
    return {d: spans_tuples(v) for d, v in extract_corpus(corpus).items()}


def assert_matches_golden(result_rows, golden):
    got = {r.doc_id: row_tuples(r.spans) for r in result_rows}
    assert set(got) == set(golden)
    mismatches = [d for d in golden if got[d] != golden[d]]
    assert not mismatches, (
        f"{len(mismatches)} docs mismatch, first: {mismatches[0]}\n"
        f"got:    {got[mismatches[0]][:6]}\n"
        f"golden: {golden[mismatches[0]][:6]}"
    )


def test_kernel_equals_oracle(spark, corpus, golden):
    df = spark.createDataFrame(corpus, schema=DOCS_SCHEMA)
    assert_matches_golden(extract(df).collect(), golden)


def test_parallelism_invariance(spark, corpus, golden):
    """Same output at any partitioning (SURVEY.md §5.4)."""
    df = spark.createDataFrame(corpus, schema=DOCS_SCHEMA)
    for parts in (1, 7):
        assert_matches_golden(extract(df.repartition(parts)).collect(), golden)


def test_skew_salted_path(spark, corpus, golden):
    df = spark.createDataFrame(corpus, schema=DOCS_SCHEMA)
    out = run_extraction(df, num_partitions=8)
    assert_matches_golden(out.collect(), golden)


def test_span_array_permutation_invariance(spark, corpus, golden):
    """Permuting the spans array must not change output — the pipeline
    sorts by (offset, array position) first (SURVEY.md §5.4). Rotation
    keeps duplicate-offset relative order (those ties ARE position-sensitive
    by spec)."""
    def has_dup_offsets(spans):
        offs = [s["offset"] for s in spans]
        return len(offs) != len(set(offs))

    permuted = [
        (d, (spans[len(spans) // 2:] + spans[: len(spans) // 2])
            if not has_dup_offsets(spans) else spans)
        for d, spans in corpus
    ]
    df = spark.createDataFrame(permuted, schema=DOCS_SCHEMA)
    assert_matches_golden(extract(df).collect(), golden)


def test_plan_shape(spark, corpus, tmp_path):
    """Scale guards on the physical plan: the narrow path must contain NO
    exchange (one doc = one row = embarrassingly parallel); with no heavy
    docs the skew-aware path shuffles only an under-split scan, exactly
    ONE; the parquet scan must prune to (doc_id, spans)."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(corpus[:20], schema=DOCS_SCHEMA).write.parquet(path)
    docs = spark.read.schema(DOCS_SCHEMA).parquet(path)
    assert is_spread(docs, 8)

    narrow = extract(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in narrow, f"narrow path gained a shuffle:\n{narrow}"

    spread = run_extraction(docs, num_partitions=8)
    splan = spread._jdf.queryExecution().executedPlan().toString()
    assert splan.count("Exchange") == 0, f"spread scan, no heavy docs: no shuffle:\n{splan}"

    one_path = str(tmp_path / "docs_1file")
    docs.coalesce(1).write.parquet(one_path)
    one = spark.read.schema(DOCS_SCHEMA).parquet(one_path)
    oplan = run_extraction(one, num_partitions=8)._jdf.queryExecution().executedPlan().toString()
    assert oplan.count("Exchange") == 1, f"under-split scan must shuffle once:\n{oplan}"

    # column pruning reaches the scan even with an extra input column
    extra = docs.withColumn("junk", docs.doc_id)
    plan = extract(extra.select("doc_id", "spans"))._jdf.queryExecution()
    scan = plan.executedPlan().toString()
    assert "junk" not in scan.split("ReadSchema")[-1]


def test_schema_stable(spark, corpus):
    df = spark.createDataFrame(corpus[:5], schema=DOCS_SCHEMA)
    out = extract(df)
    assert [f.name for f in out.schema.fields] == ["doc_id", "spans"]
    el = out.schema["spans"].dataType.elementType
    assert [f.name for f in el.fields] == ["kind", "text", "media_ref", "order"]


def test_word_cap_counts_match_str_split():
    """Regression: the title rule's word/cap counting must be bit-identical
    to the oracle's str.split() form. RE2's count_substring_regex re-anchors
    ^ at every scan position ('AA' counted 2 capitalized words) and its
    \\s is ASCII-only — both diverged from the oracle (hypothesis found
    ['', '0 AA'] misclassified title vs paragraph)."""
    import pyarrow as pa

    from extraction.classify import _word_cap_counts

    texts = [
        "0 AA", "AA", "AAA BBB", "A A A", "", " ", None,
        "\u00a0X Y",       # NBSP -- unicode whitespace, split by str.split()
        "X\u2003Y",        # EM SPACE -- unicode whitespace
        "É foo", "a.", "USA Today NOW", "Hello World", "  Lead Trail  ",
        "tab\tSep", "nl\nSep", "Mixed\u3000Ideographic Space",
    ]
    caps, words = _word_cap_counts(pa.array(texts, type=pa.string()))
    for i, t in enumerate(texts):
        ws = (t or "").split()
        exp_words = len(ws)
        exp_caps = sum(1 for w in ws if "A" <= w[:1] <= "Z")
        assert (caps[i], words[i]) == (exp_caps, exp_words), (t, caps[i], words[i])
