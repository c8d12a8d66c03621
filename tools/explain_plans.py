#!/usr/bin/env python
"""Sanity-check the physical plans of the flagship paths.

Asserts, on each flagship query's plan, the properties that matter at
100 TB, for example:

- extraction narrow path: ZERO exchanges, scan reads only (doc_id, spans)
- extraction skew-aware path: ZERO exchanges on a spread scan with no
  heavy docs, exactly ONE on an under-split scan or with LPT placement
- LSH-verified dedup: candidate side broadcast (no corpus-text shuffle
  for verification)
- ANN brute-force: query side broadcast, corpus never shuffles
- filter pushdown: predicate on the documents scan reaches PushedFilters

Usage: python tools/explain_plans.py   (prints a check summary line per
plan, and the `explain("formatted")` plan of every section with a failing
check; exits non-zero if a check fails). ``run_checks(spark)`` runs the
same checks in an existing session; tests/test_plans.py calls it.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "src"))
os.environ["PYTHONPATH"] = (
    os.path.join(REPO, "src") + os.pathsep + os.environ.get("PYTHONPATH", "")
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def run_checks(spark) -> list[str]:
    """Run every plan check in ``spark``; return the failed ones as
    ``"<section>: <check>"`` (empty when all pass). Session conf changed
    for a section is restored before the next one."""
    from pyspark.sql import functions as F

    from extraction.pipeline import extract, is_spread, run_extraction
    from extraction.schema import DOCS_SCHEMA

    failures: list[str] = []

    def check(name: str, plan: str, preds: dict[str, bool]):
        notes = []
        for desc, ok in preds.items():
            notes.append(("PASS " if ok else "FAIL ") + desc)
            if not ok:
                failures.append(f"{name}: {desc}")
        print(f"{name}: " + "; ".join(notes))
        if not all(preds.values()):
            print(plan.strip())

    # --- extraction paths (synthetic corpus schema) ---
    # each fixture has a set file count: 8 files scan as a spread input
    # (a file and at least one split per core), 1 file as one partition
    from extraction.corpus import corpus_df

    def fixture(files: int):
        path = f"/tmp/explain_docs_{files}file"
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            corpus_df(spark, 200, heavy_spans=50, slices=8).coalesce(
                files
            ).write.mode("overwrite").parquet(path)
        return spark.read.schema(DOCS_SCHEMA).parquet(path)

    docs = fixture(8)

    p = plan_of(extract(docs))
    check(
        "extract narrow (read -> mapInArrow)",
        p,
        {
            "zero exchanges": "Exchange" not in p,
            "scan pruned to doc_id,spans": "ReadSchema" in p and "doc_id" in p,
        },
    )

    # formatted output lists every operator twice (tree + detail section);
    # count exchanges on the simple plan string instead
    spread = run_extraction(docs, num_partitions=8)
    simple = spread._jdf.queryExecution().executedPlan().toString()
    check(
        "extract skew-aware, no heavy tier, spread scan (read -> mapInArrow)",
        plan_of(spread),
        {
            "scan is spread": is_spread(docs, 8),
            "zero exchanges": "Exchange" not in simple,
            "no placement join": "BroadcastHashJoin" not in simple,
        },
    )

    under = fixture(1)
    balanced = run_extraction(under, num_partitions=8)
    simple = balanced._jdf.queryExecution().executedPlan().toString()
    check(
        "extract skew-aware, under-split scan (read -> repartition -> mapInArrow)",
        plan_of(balanced),
        {
            "scan is one partition": under.rdd.getNumPartitions() == 1,
            "exactly one exchange": simple.count("Exchange") == 1,
            "no placement join (uniform hash)": "BroadcastHashJoin" not in simple,
        },
    )

    # packed branch: enormous docs ~ P (BENCH/SKEW.md) — exact LPT
    # placement adds ONE broadcast (the tiny doc_id -> salt map, built on
    # the driver as an Arrow table, so a local scan with no Python task)
    # and still exactly one shuffle
    lumpy = corpus_df(spark, 400, heavy_spans=20000, slices=2)
    packed = run_extraction(lumpy, num_partitions=8)
    psimple = packed._jdf.queryExecution().executedPlan().toString()
    shuffles = psimple.count("Exchange") - psimple.count("BroadcastExchange")
    check(
        "extract skew-aware, packed branch (broadcast placement + one shuffle)",
        plan_of(packed),
        {
            "exactly one shuffle exchange": shuffles == 1,
            "broadcast placement join": "BroadcastHashJoin" in psimple,
            "broadcast side is a LocalTableScan": re.search(
                r"BroadcastExchange[^\n]*\n[ |:]*\+- LocalTableScan", psimple
            ) is not None,
        },
    )

    # --- dedup / ANN flagship plans over the test tables ---
    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))

    from extraction.dedup import lsh_verified_pairs

    lv = lsh_verified_pairs(d, "text", "doc_id", k=3, perms=16, bands=4)
    p = plan_of(lv)
    # ReusedExchange only materializes in the FINAL adaptive plan — AQE
    # dedupes identical exchanges at runtime, so execute first, then read
    # the executed plan (the static plan shows the duplicated subtrees).
    # collect() is LOAD-BEARING: count() and a noop-format write each
    # build a SEPARATE query execution and leave lv's own plan
    # unexecuted (isFinalPlan=false — verified empirically for both).
    # The driver-side materialization is fine: this is a plan-sanity
    # tool pointed at small SF dirs (pair count ~hundreds at sf0.01).
    lv.collect()
    final = lv._jdf.queryExecution().executedPlan().toString()
    check(
        "dedup lsh_verified (band join -> semi-join-pruned broadcast verify)",
        p,
        {
            "verification joins broadcast the candidate side": "BroadcastHashJoin" in p,
            # the candidate subtree feeds both the verify join AND the
            # shingle semi-join filter; the shuffle must be computed once
            "candidate exchanges reused, not recomputed (final AQE plan)": (
                "ReusedExchange" in final
            ),
        },
    )

    from extraction.dedup import (
        embedding_neardup_pairs,
        minhash_lsh_candidates,
        simhash_near_pairs,
    )

    p = plan_of(minhash_lsh_candidates(d, "text", "doc_id", k=3, perms=16, bands=4))
    check(
        "dedup minhash_lsh_candidates (banded equi self-join)",
        p,
        {
            "no cartesian / nested-loop join": "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
        },
    )

    p = plan_of(simhash_near_pairs(d, "text", "doc_id", bits=60, bands=4, max_hamming=3))
    check(
        "dedup simhash_near_pairs (banded chunk equi self-join)",
        p,
        {
            "no cartesian / nested-loop join": "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
        },
    )

    from extraction.similarity import brute_force_topk, bucketed_topk, multiprobe_topk

    q = e.filter(F.col("vec_id") < 30)
    p = plan_of(brute_force_topk(e, q, "embedding", "vec_id", k=1))
    check(
        "ann brute_force_topk (corpus x broadcast(queries))",
        p,
        {
            "query side broadcast": "BroadcastNestedLoopJoin" in p
            or "BroadcastHashJoin" in p,
        },
    )

    p = plan_of(bucketed_topk(e, q, "embedding", "vec_id", k=1, planes=4, dims=64))
    check(
        "ann bucketed_topk (bucket equi-join, broadcast queries)",
        p,
        {
            "query side broadcast": "BroadcastHashJoin" in p,
            "no cartesian": "CartesianProduct" not in p,
        },
    )

    p = plan_of(multiprobe_topk(e, q, "embedding", "vec_id", k=1, planes=4, dims=64))
    check(
        "ann multiprobe_topk (probe-bucket equi-join, broadcast probes)",
        p,
        {
            "probe side broadcast": "BroadcastHashJoin" in p,
            "no cartesian": "CartesianProduct" not in p,
        },
    )

    from extraction.similarity import sign_lsh_bucket

    eb = e.withColumn("bucket", sign_lsh_bucket(F.col("embedding"), planes=4, dims=64))
    p = plan_of(
        embedding_neardup_pairs(eb, "embedding", "vec_id", threshold=0.5, block_col="bucket")
    )
    check(
        "dedup embedding_neardup_pairs (bucket-blocked equi self-join)",
        p,
        {
            "no cartesian / nested-loop join": "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
        },
    )

    # --- tiered dedup funnel: equi-joins end to end, no cross-product,
    #     verify stage pruned to the candidate population ---
    import __spark_entry__ as entry

    tiered = entry.q_dedup_tiered(spark, SF_DIR)
    p = plan_of(tiered)
    # formatted output lists every operator twice (tree + detail); count
    # join operators on the simple plan string, like the exchange count
    tsimple = tiered._jdf.queryExecution().executedPlan().toString()
    check(
        "dedup tiered funnel (simhash ∪ minhash candidates -> pruned exact verify)",
        p,
        {
            "no cartesian / nested-loop join": "CartesianProduct" not in tsimple
            # the 4 funnel counts crossJoin as 1-row aggregates (cheap,
            # BroadcastNestedLoopJoin on single rows); the candidate and
            # verify joins themselves must all be equi-joins
            and tsimple.count("BroadcastNestedLoopJoin") <= 3,
            # the verify stage must shingle ONLY the candidate population:
            # a broadcast left-semi join of the candidate-id set against
            # the corpus sits below the shingle projection (round 2
            # re-shingled the FULL corpus here)
            "verify shingling pruned by broadcast semi-join": (
                "LeftSemi" in tsimple and "BroadcastHashJoin" in tsimple
            ),
        },
    )

    # --- planes=8 blocked embedding near-dup: still an equi self-join ---
    p8 = entry.q_dedup_embedding_cosine_p8(spark, SF_DIR)
    p = plan_of(p8)
    p8simple = p8._jdf.queryExecution().executedPlan().toString()
    check(
        "dedup embedding_neardup planes=8 (256-bucket blocked self-join)",
        p,
        {
            "bucket-blocked equi join, no cartesian": "CartesianProduct"
            not in p8simple
            # the evidence row crossJoins two 1-row aggregates
            and p8simple.count("BroadcastNestedLoopJoin") <= 1,
        },
    )

    # --- IVF join-form: plan size must be O(1) in the centroid count ---
    from extraction.similarity import ivf_join_topk

    def ivf_join_plan(n_cents: int) -> str:
        cents = e.filter(F.col("vec_id") < n_cents).select(
            F.col("vec_id").cast("long").alias("cid"),
            F.col("embedding").alias("cv"),
        )
        return plan_of(
            ivf_join_topk(
                e, q, "embedding", "vec_id", centroids=cents, k=1, nprobe=1
            )
        )

    p_8 = ivf_join_plan(8)
    p_64 = ivf_join_plan(64)
    check(
        "ann ivf_join_topk (centroids as broadcast DATA, not plan literals)",
        p_64,
        {
            # the literal form's plan grows ~linearly with the centroid
            # count (64 F.lits per centroid, twice); the join form's plan
            # must be essentially IDENTICAL in size at 8 vs 64 centroids
            # (only the filter constant differs)
            "plan size O(1) in centroid count (8 vs 64 within 2%)": abs(
                len(p_64) - len(p_8)
            )
            < len(p_8) // 50 + 100,
            "centroid table broadcast": "BroadcastExchange" in p_64,
            "list equi-join present (corpus never shuffles)": "BroadcastHashJoin"
            in p_64,
        },
    )

    # --- T3 weighted sampler: scalar-agg broadcast, nothing global ---

    p = plan_of(entry.q_t3_weighted_sample(spark, SF_DIR))
    check(
        "t3 weighted_sample (scalar agg broadcast -> narrow filter)",
        p,
        {
            "totals broadcast (1-row side)": "BroadcastNestedLoopJoin" in p
            or "BroadcastHashJoin" in p,
            "no global sort": "Sort " not in p,
            "no window": "Window" not in p,
        },
    )

    # --- pushdown ---
    p = plan_of(d.filter(F.col("n_chars") > 100).select("doc_id", "n_chars"))
    check(
        "documents filter+project",
        p,
        {
            "predicate pushed to scan": "PushedFilters: [" in p
            and "GreaterThan(n_chars" in p,
            "column pruned": "ReadSchema: struct<doc_id" in p,
        },
    )

    # --- text ops: the shuffle-shape claims in SURVEY's inventory ---
    import __spark_entry__ as entry

    ng = entry.q_text_top_ngrams(spark, SF_DIR)
    p = plan_of(ng)
    ngsimple = ng._jdf.queryExecution().executedPlan().toString()
    check(
        "text top_ngrams (bigrams in-array -> map-side combined count -> top-20)",
        p,
        {
            "map-side partial agg before the shuffle": "partial_count" in p,
            "single ngram exchange": ngsimple.count("Exchange hashpartitioning") == 1,
            "top-k without a global sort (TakeOrderedAndProject)":
                "TakeOrderedAndProject" in p and "Sort " not in ngsimple,
        },
    )

    rp = entry.q_text_repetition(spark, SF_DIR)
    p = plan_of(rp)
    rpsimple = rp._jdf.queryExecution().executedPlan().toString()
    check(
        "text repetition (per-doc stats inside the word array)",
        p,
        {
            "no per-word explode (no Generate)": "Generate" not in rpsimple,
            "only the per-lang agg shuffles":
                rpsimple.count("Exchange hashpartitioning") == 1,
        },
    )

    # --- multimodal maps: narrow Arrow plumbing, zero shuffles ---
    for qname, fn in (
        ("frames (1→N expansion)", entry.q_multimodal_frames),
        ("resize (selective 1→{0,1})", entry.q_multimodal_resize),
    ):
        mm = fn(spark, SF_DIR)
        mmsimple = mm._jdf.queryExecution().executedPlan().toString()
        check(
            f"multimodal {qname}",
            plan_of(mm),
            {
                "Arrow map present": "MapInPandas" in mmsimple,
                "ZERO exchanges (row-shape change inside the narrow map)":
                    "Exchange" not in mmsimple,
            },
        )

    # --- as-of join: union-tag + window carry-forward, ONE shuffle ---
    aj = entry.q_asof_last_error(spark, SF_DIR)
    p = plan_of(aj)
    ajsimple = aj._jdf.queryExecution().executedPlan().toString()
    check(
        "asof join (union-tag + per-key window carry-forward)",
        p,
        {
            "no join operator at all (no pair expansion)":
                "Join" not in ajsimple,
            "single key exchange feeding the window":
                ajsimple.count("Exchange hashpartitioning") == 1
                and "Window" in ajsimple,
            "no cartesian / nested-loop": "Cartesian" not in ajsimple
                and "NestedLoop" not in ajsimple,
        },
    )

    # --- write-time bucketing: co-located join, zero exchanges ---
    from extraction.bucketing import colocated_join, write_bucketed

    bkt_root = "/tmp/explain_bucketed"
    write_bucketed(
        d.select("doc_id", "lang", "n_chars"),
        "xp_bkt_docs", "doc_id", 8, os.path.join(bkt_root, "d"),
    )
    write_bucketed(
        e.select("vec_id", "label"),
        "xp_bkt_embs", "vec_id", 8, os.path.join(bkt_root, "e"),
    )
    # broadcast off: the sf0.01 tables are tiny, but the shape under test
    # is the 100-TB big-big join where broadcast is not an option
    prev_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bj = colocated_join(spark, "xp_bkt_docs", "xp_bkt_embs", "doc_id", "vec_id")
        bsimple = bj._jdf.queryExecution().executedPlan().toString()
        p = plan_of(bj)
    finally:
        if prev_threshold is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_threshold)
        else:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    check(
        "bucketed co-located join (bucketBy(8, key) both sides at write time)",
        p,
        {
            "sort-merge join, broadcast disabled": "SortMergeJoin" in bsimple,
            "ZERO exchanges — both scans carry the bucketed partitioning":
                "Exchange" not in bsimple,
            "bucketed scan selected": "SelectedBucketsCount" in p
                or "Bucketed: true" in p,
        },
    )

    # --- S6 PAGE-XML round-trip: one exchange total ---
    # sessionize's window hashes on user_id; every later groupBy clusters
    # on a SUPERSET of user_id (user_id, session_id), which
    # HashPartitioning(user_id) already satisfies — so build + regexp
    # parse ride the sessionize shuffle with no exchange of their own
    import __spark_entry__ as se

    sx = se.q_s6_page_xml_roundtrip(spark, SF_DIR)
    sxsimple = sx._jdf.queryExecution().executedPlan().toString()
    check(
        "s6 PAGE-XML round-trip (sessionize -> build XML -> regexp parse)",
        plan_of(sx),
        {
            "exactly one exchange (the sessionize shuffle, reused by "
            "every downstream group)": sxsimple.count("Exchange") == 1,
            "no Python in the path (build+parse are JVM built-ins)":
                "Python" not in sxsimple and "ArrowEval" not in sxsimple,
        },
    )

    # --- event-time window operators (streaming_windows.py, batch forms) ---
    # session_window: native session aggregation — one hash exchange on
    # the group key, session merge in the agg operator, no per-user
    # full-partition sort window (the cumsum form's cost), no Python
    sw = se.q_g1_session_window(spark, SF_DIR)
    swsimple = sw._jdf.queryExecution().executedPlan().toString()
    check(
        "g1 session_window (native session agg, no window-sort pass)",
        plan_of(sw),
        {
            "exactly one shuffle exchange":
                swsimple.count("Exchange")
                - swsimple.count("BroadcastExchange") == 1,
            "no rank/lag Window operator (state-merged, not sorted cumsum)":
                "\nWindow" not in swsimple and " Window " not in swsimple,
            "JVM-side end to end":
                "Python" not in swsimple and "ArrowEval" not in swsimple,
        },
    )

    tw = se.q_events_tumbling_stats(spark, SF_DIR)
    twsimple = tw._jdf.queryExecution().executedPlan().toString()
    check(
        "events tumbling-window stats (partial agg below the shuffle)",
        plan_of(tw),
        {
            "map-side partial aggregation": "partial_count" in twsimple
                or "partial" in twsimple.lower(),
            "JVM-side end to end":
                "Python" not in twsimple and "ArrowEval" not in twsimple,
        },
    )

    # distinctive terms: tf computed in-array during the narrow generate
    # stage; only distinct-term rows reach the exchanges
    dt = se.q_text_distinctive_terms(spark, SF_DIR)
    dtsimple = dt._jdf.queryExecution().executedPlan().toString()
    check(
        "text distinctive_terms (in-array tf -> distinct-term shuffles only)",
        plan_of(dt),
        {
            "df agg shuffles on term (distinct-term rows, not words)":
                "hashpartitioning(term" in dtsimple,
            "map-side partial agg for df": "partial_count" in dtsimple,
            "no cartesian / nested-loop": "Cartesian" not in dtsimple
                and "NestedLoop" not in dtsimple,
        },
    )

    # winnow overlap: sketch built in-array; only (id, hash) rows reach
    # the self-join, pruned to hashes with 2..max_df holders first
    wo = se.q_dedup_winnow_overlap(spark, SF_DIR)
    wosimple = wo._jdf.queryExecution().executedPlan().toString()
    check(
        "dedup winnow_overlap (in-array sketch -> pruned hash self-join)",
        plan_of(wo),
        {
            "self-join keys on the selected hash (equi, not cartesian)":
                "hashpartitioning(wh" in wosimple
                and "Cartesian" not in wosimple
                and "NestedLoop" not in wosimple,
            "JVM-side end to end":
                "Python" not in wosimple and "ArrowEval" not in wosimple,
        },
    )

    # clean corpus: the drop set (permille of corpus) broadcast-anti-joins
    # against the corpus — the corpus never shuffles for the cleaning step
    cc = se.q_dedup_clean_corpus(spark, SF_DIR)
    cc.collect()  # AQE final plan (broadcast decision lands at runtime)
    ccsimple = cc._jdf.queryExecution().executedPlan().toString()
    check(
        "dedup clean_corpus (broadcast anti-join of the drop set)",
        plan_of(cc),
        {
            "anti-join is broadcast (corpus side never shuffles)":
                "BroadcastHashJoin" in ccsimple and "LeftAnti" in ccsimple,
            "no cartesian / nested-loop": "Cartesian" not in ccsimple
                and "NestedLoop" not in ccsimple,
        },
    )

    # incremental ingest: NEW x EXISTING band join over the shared banded
    # signature tables; verify is the semi-join-pruned shared stage
    inc = se.q_dedup_incremental(spark, SF_DIR)
    inc.collect()  # AQE final plan
    incsimple = inc._jdf.queryExecution().executedPlan().toString()
    check(
        "dedup incremental (NEW x EXISTING band join, pruned verify)",
        plan_of(inc),
        {
            "band join keys on the signature slice (equi, not cartesian)":
                "bsig" in incsimple and "Cartesian" not in incsimple
                and "NestedLoop" not in incsimple,
            "verify side is broadcast-pruned":
                "BroadcastHashJoin" in incsimple and "LeftSemi" in incsimple,
        },
    )

    # mixture sampler: per-lang token-mass agg broadcasts back as a 5-row
    # join; selection is a narrow exact-integer filter — no global sort,
    # no window, no cumsum inversion
    ms = se.q_t7_mixture_sample(spark, SF_DIR)
    ms.collect()  # AQE final plan
    mssimple = ms._jdf.queryExecution().executedPlan().toString()
    check(
        "t7 mixture_sample (broadcast rates -> narrow integer filter)",
        plan_of(ms),
        {
            "rate tables broadcast (corpus never shuffles for selection)":
                "BroadcastHashJoin" in mssimple,
            "no global sort / window / cumsum funnel":
                "Window" not in mssimple and "Sort [" not in mssimple,
            "no cartesian / nested-loop": "Cartesian" not in mssimple
                and "NestedLoop" not in mssimple,
        },
    )

    # quality funnel: five rules share ONE in-array feature projection —
    # no per-word explode, no join; only the per-lang conditional sums
    # shuffle (map-side partial)
    qf = se.q_text_quality_funnel(spark, SF_DIR)
    qfsimple = qf._jdf.queryExecution().executedPlan().toString()
    check(
        "text quality_funnel (five rules, one narrow pass, per-lang agg)",
        plan_of(qf),
        {
            "no per-word explode (features in-array)":
                "Generate" not in qfsimple and "explode" not in qfsimple,
            "map-side partial agg": "partial_count" in qfsimple
                or "partial" in qfsimple.lower(),
            "single shuffle (the lang agg)": qfsimple.count("Exchange") <= 2,
            "JVM-side end to end": "Python" not in qfsimple,
        },
    )

    # decontamination: the benchmark shingle set broadcasts as a LEFT SEMI
    # filter over the exploded training shingles — the corpus text never
    # shuffles; only (doc_id) hit rows reach the count's exchange
    dc = se.q_dedup_decontaminate(spark, SF_DIR)
    dc.collect()  # AQE final plan
    dcsimple = dc._jdf.queryExecution().executedPlan().toString()
    check(
        "dedup decontaminate (broadcast semi-join vs the benchmark shingle set)",
        plan_of(dc),
        {
            "hit test is a broadcast LEFT SEMI (corpus side never shuffles "
            "for the membership test)":
                "BroadcastHashJoin" in dcsimple and "LeftSemi" in dcsimple,
            "per-doc count has map-side partial agg":
                "partial_count" in dcsimple,
            "no cartesian / nested-loop / Python in the hot path":
                "Cartesian" not in dcsimple
                and "NestedLoop" not in dcsimple
                and "Python" not in dcsimple,
        },
    )

    # passage dedup: survivor election is ONE min-struct agg with
    # map-side partial combine (boilerplate collapses before the wire —
    # no keeper-table join, so no skewed join key exists at all);
    # reassembly is the s5 collect_list+array_sort idiom
    pp = se.q_dedup_passages(spark, SF_DIR)
    pp.collect()  # AQE final plan
    ppsimple = pp._jdf.queryExecution().executedPlan().toString()
    check(
        "dedup passages (min-struct survivor agg, ordered reassembly)",
        plan_of(pp),
        {
            "survivor election has map-side partial agg (partial_min)":
                "partial_min" in ppsimple,
            "no keeper-table self-join on the passage fingerprint":
                "SortMergeJoin" not in ppsimple,
            "no cartesian / nested-loop / Python in the hot path":
                "Cartesian" not in ppsimple
                and "NestedLoop" not in ppsimple
                and "Python" not in ppsimple,
        },
    )

    # quantized k-means: assignment is a broadcast-packed argmin fold
    # (corpus never shuffles to be assigned); the centroid update's
    # 64-dim integer sums combine map-side
    from extraction.cluster import kmeans_quantized

    km = kmeans_quantized(
        spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")),
        "embedding", "vec_id", k=4, iters=1,
    )
    km.collect()  # AQE final plan (also runs the driver iteration)
    kmsimple = km._jdf.queryExecution().executedPlan().toString()
    check(
        "emb kmeans (broadcast-packed assignment, map-side integer sums)",
        plan_of(km),
        {
            "centroids reach points via broadcast (points never shuffle "
            "for assignment)": "Broadcast" in kmsimple,
            "update sums combine map-side (partial_sum)":
                "partial_sum" in kmsimple or "partial_count" in kmsimple,
            "no sort-merge join / cartesian / Python in the hot path":
                "SortMergeJoin" not in kmsimple
                and "Cartesian" not in kmsimple
                and "Python" not in kmsimple,
        },
    )

    # SemDeDup semantic pairs: assignment broadcast-packed (corpus never
    # shuffles to be BLOCKED); the within-cluster pair stage is a plain
    # equi-join on cl; the decimal cosine test stays JVM-side
    from extraction.cluster import semantic_near_pairs

    sp = semantic_near_pairs(
        spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")),
        "embedding", "vec_id", k=4, iters=1, threshold_num=2, threshold_den=5,
    )
    sp.collect()
    spsimple = sp._jdf.queryExecution().executedPlan().toString()
    check(
        "dedup semantic (k-means blocks, integer-exact cosine pairs)",
        plan_of(sp),
        {
            "cluster assignment reaches points via broadcast":
                "Broadcast" in spsimple,
            "pair stage is an equi-join on the block key (no cartesian)":
                "Cartesian" not in spsimple and "NestedLoop" not in spsimple,
            "no Python in the hot path": "Python" not in spsimple,
        },
    )

    # source-level quality screen: the domain verdict joins back as a
    # broadcast LEFT SEMI — the corpus never shuffles to be screened
    import __spark_entry__ as entry

    qs = entry.q_quality_source_screen(spark, SF_DIR)
    qs.collect()
    qssimple = qs._jdf.queryExecution().executedPlan().toString()
    check(
        "quality source screen (broadcast semi-join verdict)",
        plan_of(qs),
        {
            "verdict joins back broadcast + left-semi":
                "BroadcastHashJoin" in qssimple and "LeftSemi" in qssimple,
            "per-source agg combines map-side (partial)":
                "partial_count" in qssimple or "partial_sum" in qssimple,
            "no cartesian / Python in the hot path":
                "Cartesian" not in qssimple and "Python" not in qssimple,
        },
    )

    # substring runs: everything is equi-join + window — no pair
    # expansion beyond the pruned hash join, no Python
    from extraction.dedup import substring_run_pairs

    sr = substring_run_pairs(
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")),
        "text", "doc_id", k=4, min_tokens=8, max_df=50,
    )
    sr.collect()
    srsimple = sr._jdf.queryExecution().executedPlan().toString()
    check(
        "dedup substring runs (shingle-diagonal equi-join + gap-group)",
        plan_of(sr),
        {
            "hash-prune agg combines map-side (partial_count)":
                "partial_count" in srsimple,
            "no cartesian / nested-loop anywhere":
                "Cartesian" not in srsimple and "NestedLoop" not in srsimple,
            "no Python in the hot path": "Python" not in srsimple,
        },
    )

    # sequence packing: the global prefix sum must NOT funnel through a
    # single-partition window — the per-bucket window shuffles on
    # hashpartitioning(bucket), never on SinglePartition
    from extraction.packing import pack_sequences
    from extraction.textops import token_count_ws

    pk = pack_sequences(
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
            "doc_id", token_count_ws(F.col("text")).alias("n_tokens")
        ),
        "n_tokens", "doc_id", budget=512, n_buckets=64,
    )
    pk.collect()
    pksimple = pk._jdf.queryExecution().executedPlan().toString()
    check(
        "t8 pack_sequences (two-phase scan, per-bucket window)",
        plan_of(pk),
        {
            "window is per-bucket (no SinglePartition funnel)":
                "Window" in pksimple and "SinglePartition" not in pksimple,
            "bucket offsets broadcast back": "Broadcast" in pksimple,
            "no cartesian / Python in the hot path":
                "Cartesian" not in pksimple and "Python" not in pksimple,
        },
    )

    # per-source boilerplate k-gram screen: df agg combines map-side;
    # the boilerplate set joins back WITHOUT a forced broadcast (AQE
    # sizes it — ADVICE r2 discipline); only hits explode to positions
    from extraction.dedup import boilerplate_ngram_stats

    bp = boilerplate_ngram_stats(
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")),
        "text", "doc_id", "source", k=3, min_df=2,
    )
    bp.collect()
    bpsimple = bp._jdf.queryExecution().executedPlan().toString()
    check(
        "text boilerplate ngrams (per-source df screen + coverage)",
        plan_of(bp),
        {
            "df / coverage aggs combine map-side (partial)":
                "partial_count" in bpsimple,
            "no cartesian / nested-loop anywhere":
                "Cartesian" not in bpsimple and "NestedLoop" not in bpsimple,
            "no Python in the hot path": "Python" not in bpsimple,
        },
    )

    # Arrow k-means assignment (the k ∝ corpus-size scale form,
    # BENCH/KMEANS.md): the corpus reaches its block id through ONE
    # mapInArrow stage — no join, no shuffle before blocking; the only
    # exchanges are the pair stage's equi-join on cl downstream
    from extraction.cluster import kmeans_assign, semantic_near_pairs

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    # the assignment stage in isolation (the full query localCheckpoints
    # it, which truncates lineage to Scan ExistingRDD in the final plan)
    asg, _ = kmeans_assign(emb, "embedding", "vec_id", k=4, iters=1, assign="arrow")
    asg.collect()
    asgsimple = asg._jdf.queryExecution().executedPlan().toString()
    sa = semantic_near_pairs(
        emb, "embedding", "vec_id", k=4, iters=1, threshold_num=2,
        threshold_den=5, assign="arrow",
    )
    sa.collect()
    sasimple = sa._jdf.queryExecution().executedPlan().toString()
    check(
        "dedup semantic ARROW assignment (vectorized matmul kernel)",
        plan_of(asg) + "\n\n-- full query (pair stage) --\n\n" + plan_of(sa),
        {
            "assignment is ONE Arrow stage over the scan (MapInArrow; "
            "no join, no shuffle — the centroid model rides the task "
            "closure)": ("MapInArrow" in asgsimple or "PythonMapInArrow" in asgsimple)
            and "Exchange" not in asgsimple
            and "Join" not in asgsimple,
            "no cartesian / nested-loop anywhere":
                "Cartesian" not in sasimple and "NestedLoop" not in sasimple
                and "Cartesian" not in asgsimple,
            "pair stage stays an equi-join on the block key":
                "SortMergeJoin" in sasimple or "ShuffledHashJoin" in sasimple
                or "BroadcastHashJoin" in sasimple,
        },
    )

    # URL-canonicalization dedup: derivation + six regexp passes are ONE
    # narrow codegen'd projection; the only exchange is the final
    # groupBy(canonical) with map-side partial agg — no join, no Python
    import __spark_entry__ as entry

    uc = entry.q_dedup_url_canonical(spark, SF_DIR)
    uc.collect()
    # AQE's toString prints Final AND Initial plans — count on the final
    ucsimple = (
        uc._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    )
    check(
        "dedup url canonical (crawl-key dedup)",
        plan_of(uc),
        {
            "the textbook two-phase distinct-agg shape: hash exchange on "
            "(canon, url) then on canon — count(DISTINCT raw) costs one "
            "extra keyed exchange, both map-side combined; the roundrobin "
            "is _par's test-scale scan spreader, a no-op at production "
            "scale":
                ucsimple.count("Exchange hashpartitioning") == 2
                and ucsimple.count("Exchange hashpartitioning(canon") == 2,
            "agg combines map-side (partial)": "partial_count" in ucsimple,
            "no join / cartesian (a dedup with no pair expansion)":
                "Join" not in ucsimple and "Cartesian" not in ucsimple,
            "no Python in the hot path": "Python" not in ucsimple,
        },
    )

    # curriculum shards: the exact-global-rank layout must NOT plan a
    # SinglePartition window (the funnel Spark's row_number-over-all
    # would force); the only window is partitioned by q
    cs = entry.q_t10_curriculum_shards(spark, SF_DIR)
    cs.collect()
    cssimple = (
        cs._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    )
    check(
        "curriculum shards (exact global rank, two-phase)",
        plan_of(cs),
        {
            "no SinglePartition exchange (the global-order funnel is "
            "replaced by histogram-prefix + per-q window)":
                "SinglePartition" not in cssimple,
            "the one window is PARTITIONED (by q)":
                "windowspecdefinition(q#" in cssimple,
            "no join / cartesian": "Join" not in cssimple
                and "Cartesian" not in cssimple,
            "no Python in the hot path": "Python" not in cssimple,
        },
    )

    # bloom decontamination: the packed filter broadcasts (one-row cross
    # join), the exact-witness semi-join broadcasts, and nothing plans a
    # non-broadcast cartesian; no Python anywhere
    bd = entry.q_dedup_decontaminate_bloom(spark, SF_DIR)
    pbd = plan_of(bd)
    check(
        "bloom decontaminate (broadcast packed filter, narrow probe)",
        pbd,
        {
            "packed filter broadcast": "BroadcastNestedLoopJoin" in pbd
            or "BroadcastHashJoin" in pbd,
            "no non-broadcast cartesian": "CartesianProduct" not in pbd,
            "no Python in the hot path": "Python" not in pbd,
        },
    )

    # SQ8 quantized ANN: same geometry as brute force (queries broadcast,
    # corpus never shuffles) — the compressed scan must not introduce a
    # shuffle or a Python stage
    sq = entry.q_ann_sq8_top1(spark, SF_DIR)
    psq = plan_of(sq)
    check(
        "ann sq8_topk (int8 codes, broadcast queries)",
        psq,
        {
            "query side broadcast": "BroadcastNestedLoopJoin" in psq
            or "BroadcastHashJoin" in psq,
            "no cartesian": "CartesianProduct" not in psq,
            "no Python in the hot path": "Python" not in psq,
        },
    )

    # HLL registers: ONE partial+final agg pair (map-side combine before
    # the wire — the mergeable-sketch property in plan form)
    hr = entry.q_corpus_hll_registers(spark, SF_DIR)
    phr = plan_of(hr)
    check(
        "hll registers (one map-side-combined agg, no join)",
        phr,
        {
            # _par's RoundRobin fan-out is test-only (no-op at scale);
            # the AGG itself must cost exactly one hash exchange
            "exactly one hash exchange": phr.count("hashpartitioning") == 1,
            "map-side partial max before the shuffle": "partial_max" in phr,
            "no join": "Join" not in phr,
            "no Python in the hot path": "Python" not in phr,
        },
    )

    # z-order layout: narrow interleave + one agg; and the RESULT must
    # witness 2-D locality — every aligned 1024-cell z-block is a 32x32
    # rectangle, so both per-shard ranges are bounded by 31
    zo = entry.q_t11_zorder_layout(spark, SF_DIR)
    pzo = plan_of(zo)
    zrows = zo.collect()
    check(
        "zorder layout (narrow Morton key, bounded 2-D shard ranges)",
        pzo,
        {
            "no join / window": "Join" not in pzo and "Window" not in pzo,
            "no Python in the hot path": "Python" not in pzo,
            "every shard's quality range <= 31": all(
                r["max_q"] - r["min_q"] <= 31 for r in zrows
            ),
            "every shard's token range <= 31": all(
                r["max_t"] - r["min_t"] <= 31 for r in zrows
            ),
        },
    )

    # bigram-LM scoring: model build and scoring are hash-agg shuffles
    # with map-side partial counts; no cartesian, no Python, and the
    # per-(doc, ngram) pre-aggregation shows up as a partial_count
    # BEFORE the model joins
    lm = entry.q_text_lm_score(spark, SF_DIR)
    plm = plan_of(lm)
    check(
        "lm score (map-side-combined model counts, no cartesian)",
        plm,
        {
            "map-side partial counts": "partial_count" in plm,
            "no cartesian": "CartesianProduct" not in plm,
            "no Python in the hot path": "Python" not in plm,
        },
    )

    # hashed linear classifier: the dims-row model table joins
    # BROADCAST (the corpus never shuffles to meet the model) and the
    # per-doc score agg partial-combines map-side
    cs = entry.q_text_classifier_score(spark, SF_DIR)
    pcs = plan_of(cs)
    check(
        "classifier score (broadcast model join, map-side agg)",
        pcs,
        {
            "model join broadcast": "BroadcastHashJoin" in pcs,
            "map-side partial agg": "partial_count" in pcs or "partial_sum" in pcs,
            "no cartesian": "CartesianProduct" not in pcs,
            "no Python in the hot path": "Python" not in pcs,
        },
    )

    # split-leakage audit: the pair table is permille-of-corpus so the
    # two split joins must be broadcast; no cartesian anywhere
    sl = entry.q_t12_split_leakage(spark, SF_DIR)
    psl = plan_of(sl)
    check(
        "split leakage (broadcast split joins, no cartesian)",
        psl,
        {
            "broadcast join present": "BroadcastHashJoin" in psl,
            "no cartesian": "CartesianProduct" not in psl,
            "map-side partial agg": "partial_count" in psl,
            "no Python in the hot path": "Python" not in psl,
        },
    )

    # watershed basins: every window must be PARTITIONED by user (the
    # bounded hour axis) — no SinglePartition global-order funnel
    wb = entry.q_g5_watershed_basins(spark, SF_DIR)
    pwb = plan_of(wb)
    check(
        "watershed basins (partitioned windows, no global funnel)",
        pwb,
        {
            "no SinglePartition exchange": "SinglePartition" not in pwb,
            "map-side partial agg": "partial_count" in pwb or "partial_sum" in pwb,
            "no join / cartesian": "Join" not in pwb,
            "no Python in the hot path": "Python" not in pwb,
        },
    )

    # crawl-graph PageRank: the target-id resolution is an equi-join
    # (never cartesian), the domain-sized rank/edge joins broadcast,
    # and the whole fixed-iteration loop is one JVM-side plan
    pr = entry.q_graph_pagerank(spark, SF_DIR)
    ppr = plan_of(pr)
    check(
        "graph pagerank (equi-join resolution, broadcast rank loop)",
        ppr,
        {
            "domain-sized joins broadcast": "BroadcastHashJoin" in ppr,
            "no cartesian": "CartesianProduct" not in ppr,
            "map-side partial agg": "partial_sum" in ppr or "partial_count" in ppr,
            "no Python in the hot path": "Python" not in ppr,
        },
    )

    # quantile sketch: the whole point is NO corpus-sized sort — the
    # histogram state is a map-side-combinable agg; the rank window
    # runs over the ~520-bucket state partitioned by lang (never
    # SinglePartition); everything stays JVM-side integer ops
    qsk = entry.q_text_length_quantiles_sketch(spark, SF_DIR)
    pqsk = plan_of(qsk)
    check(
        "quantile sketch (bounded histogram state, no corpus sort)",
        pqsk,
        {
            "no SinglePartition exchange": "SinglePartition" not in pqsk,
            "map-side partial agg": "partial_count" in pqsk,
            "no Python in the hot path": "Python" not in pqsk,
            "no cartesian on the data path": "CartesianProduct" not in pqsk,
        },
    )

    # BPE apply: corpus touched once (per-(doc, word) multiplicities);
    # the merge fold chain is a narrow projection over the distinct-word
    # table; the count join-back must NOT be a cartesian and the per-doc
    # sum must combine map-side. (learn_bpe's 8 training rounds run at
    # plan-build time — the collects are the model artifact, k rows.)
    bpa = entry.q_text_bpe_apply(spark, SF_DIR)
    pbpa = plan_of(bpa)
    check(
        "bpe apply (word-type-factored fold, AQE-sized join back)",
        pbpa,
        {
            "no cartesian": "CartesianProduct" not in pbpa,
            "map-side partial agg": "partial_sum" in pbpa,
            "no Python in the hot path": "Python" not in pbpa,
        },
    )

    # conserving pagerank: per-iteration localCheckpoints flatten the
    # 3-round plan (measured 5.6 s -> 1.75 s at sf0.1), which also
    # TRUNCATES what this static audit can see — the visible plan is
    # only the last round's apportionment window + the final outw join.
    # The corpus-side join discipline (equi-join target resolution,
    # broadcast rank loop, map-side partial agg) is asserted on plain
    # pagerank above, which shares crawl_edges and the contrib shape.
    # The windows are DELIBERATELY global: domain-sized data, documented.
    prc = entry.q_graph_pagerank_conserve(spark, SF_DIR)
    pprc = plan_of(prc)
    check(
        "pagerank conserving (checkpoint-flattened apportionment rounds)",
        pprc,
        {
            "no cartesian": "CartesianProduct" not in pprc,
            "apportionment window present": "Window" in pprc,
            "no Python in the hot path": "Python" not in pprc,
        },
    )

    # composed corpus recipe: four stages in one DAG — the drop-set
    # joins must never go cartesian, the per-lang attribution must
    # combine map-side, and the whole DAG stays JVM-side
    rcp = entry.q_corpus_recipe(spark, SF_DIR)
    prcp = plan_of(rcp)
    check(
        "corpus recipe (composed stages, broadcast drop sets)",
        prcp,
        {
            "no cartesian": "CartesianProduct" not in prcp,
            "broadcast join present": "BroadcastHashJoin" in prcp,
            "map-side partial agg": "partial_sum" in prcp or "partial_count" in prcp,
            "no Python in the hot path": "Python" not in prcp,
        },
    )

    # incremental read (round 5): the previous-version side must be
    # COLUMN-PRUNED to (key + content cols) at the scan — reading five
    # columns to fingerprint one is the wrong 100 TB plan — and the
    # increment must be a LEFT ANTI equi-join, never a cartesian
    from extraction.catalog import read_increment

    inc = read_increment(
        spark,
        os.path.join(SF_DIR, "documents.parquet"),
        os.path.join(SF_DIR, "documents.parquet"),
        key_col="doc_id",
        content_cols=["text"],
    )
    pinc = plan_of(inc)
    check(
        "incremental read (prev side pruned to key+content, anti-join)",
        pinc,
        {
            "left anti join": "LeftAnti" in pinc,
            "no cartesian": "CartesianProduct" not in pinc,
            "prev scan pruned to (doc_id, text)":
                "ReadSchema: struct<doc_id:bigint,text:string>" in pinc,
            "no Python in the hot path": "Python" not in pinc,
        },
    )

    # CMS heavy-hitters (round 5): after the one token-count agg nothing
    # corpus-sized may move — the sketch (<=256 rows) joins broadcast,
    # and both the exact counts and the sketch combine map-side
    hh = entry.q_text_cms_heavy_hitters(spark, SF_DIR)
    phh = plan_of(hh)
    check(
        "CMS heavy hitters (broadcast sketch probe)",
        phh,
        {
            "broadcast join present": "BroadcastHashJoin" in phh,
            "no cartesian": "CartesianProduct" not in phh,
            "map-side partial agg": "partial_count" in phh,
            "no Python in the hot path": "Python" not in phh,
        },
    )

    # BM25 retrieval (round 5): probe terms, per-term df and the (N, T)
    # scalars are all model-sized and must join BROADCAST; the corpus
    # token stream shuffles once (the per-(doc, term) tf agg AFTER the
    # semi-join prune) plus the doclen agg; the rank window partitions
    # by qid over candidate docs only. Nothing corpus-sized may move a
    # second time and no Python touches the stream.
    bm = entry.q_text_bm25_topk(spark, SF_DIR)
    pbm = plan_of(bm)
    check(
        "BM25 eval-prompt retrieval (broadcast term stats)",
        pbm,
        {
            "broadcast joins present": "BroadcastHashJoin" in pbm,
            "no cartesian": "CartesianProduct" not in pbm,
            "map-side partial agg": "partial_count" in pbm,
            "scan pruned to (doc_id, text)":
                "ReadSchema: struct<doc_id:bigint,text:string>" in pbm,
            "no Python in the hot path": "Python" not in pbm,
        },
    )

    # --- context-window chunking: the zero-shuffle narrow map ---
    cw = entry.q_text_chunk_windows(spark, SF_DIR)
    pcw = plan_of(cw)
    check(
        "context-window chunking (zero-shuffle narrow map)",
        pcw,
        {
            "NO exchange anywhere (pure map-side)": "Exchange" not in pcw,
            "window-start explode present": "Generate" in pcw
            and "explode(sequence" in pcw,
            "no join of any kind": "Join" not in pcw,
            "no Python in the hot path": "Python" not in pcw,
        },
    )

    # --- chunk boilerplate: hot-key-safe two-level aggregation ---
    cb = entry.q_dedup_chunk_boilerplate(spark, SF_DIR)
    pcb = plan_of(cb)
    check(
        "chunk boilerplate (two-level hot-key-safe agg)",
        pcb,
        {
            "two-level agg: (fp, doc_id) exchange present":
                re.search(r"hashpartitioning\(fp#\d+L?, doc_id#\d+L?, ", pcb)
                is not None,
            "map-side partial agg": "partial_count" in pcb,
            "no join of any kind": "Join" not in pcb,
            "no Python in the hot path": "Python" not in pcb,
        },
    )

    # --- skew-join torture: one source = 30% of docs, forced SMJ ---
    # The EXECUTED adaptive plan must show AQE's skew-split firing
    # (skew=true / "AQEShuffleRead ... skewed") — this only materializes
    # at runtime, so this section executes the query, unlike the static
    # sections above. Thresholds are lowered to make test-scale bytes
    # qualify; broadcast is disabled because a broadcast join would
    # (correctly) make the hot key irrelevant — the torture is for the
    # case where the keeper side has outgrown broadcast. Found along the
    # way and worth recording: AQE SKIPS the split when the keeper side
    # is derived from the SAME corpus shuffle (splitting would break the
    # reused exchange), so the fixture materializes the keeper table
    # independently — which is also the production shape (verdict /
    # boilerplate sets are written, then joined back from storage).
    # 100k generated rows rather than the SF_DIR table: the skew
    # detector compares COMPRESSED shuffle-partition bytes against the
    # threshold, so the fixture must carry real byte mass for the hot
    # partition to register at any sf (sf0.01's 500-doc table compresses
    # under any sane threshold)
    skew_docs_path = "/tmp/explain_skew_docs"
    skew_keep_path = "/tmp/explain_skew_keepers"
    skewed = spark.range(100_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 3, F.lit("hot.example.com")).otherwise(
            F.concat(F.lit("src"), (F.col("id") % 500).cast("string"))
        ).alias("source"),
        F.concat(
            F.lit("payload-"), F.col("id").cast("string"), F.lit("x" * 200)
        ).alias("text"),
    )
    skewed.write.mode("overwrite").parquet(skew_docs_path)
    sk = spark.read.parquet(skew_docs_path)
    sk.select("source").distinct().withColumn(
        "keep", F.lit(1)
    ).write.mode("overwrite").parquet(skew_keep_path)
    keepers = spark.read.parquet(skew_keep_path)
    prev_conf = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        tq = sk.join(keepers, "source").select(
            F.sum(F.length("text")).alias("tot")
        )
        tq.collect()  # skew decisions exist only in the executed plan
        ptq = tq._jdf.queryExecution().executedPlan().toString()
    finally:
        # Keys unset before the torture must be UNSET again, not left at
        # the lowered test values, or any later section runs under them.
        for k, v in prev_conf.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
    check(
        "skew-join torture (hot source = 30% of docs, forced SMJ)",
        ptq,
        {
            "AQE split the skewed partition (skew=true)": "skew=true" in ptq,
            "skewed AQEShuffleRead present": "skewed" in ptq,
            "sort-merge join (broadcast disabled for the torture)":
                "SortMergeJoin" in ptq,
            "no cartesian": "CartesianProduct" not in ptq,
        },
    )

    return failures


def main() -> int:
    from extraction.job import build_session

    spark = build_session("local[4]", 8, app="explain-plans")
    try:
        failures = run_checks(spark)
    finally:
        spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("ALL PLAN CHECKS PASS")
    return 0


if __name__ == "__main__":
    sys.exit(main())
