"""Physical-plan shape assertions — the 100 TB checklist.

Verifies the properties that matter at scale actually hold in the
compiled plans: filter pushdown into the parquet scan, column pruning,
broadcast joins for small dims, whole-stage codegen coverage, AQE on.
"""

from __future__ import annotations

import __spark_entry__ as em


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _banding_kernels(plan: str) -> int:
    """MapInArrow nodes that emit ``band_hash`` (the LSH banding kernel)."""
    return sum(
        1
        for line in plan.splitlines()
        if "MapInArrow" in line and "band_hash#" in line.split("[")[-1]
    )


def test_filter_pushdown_reaches_scan(spark, sf01_dir):
    df = spark.read.parquet(f"{sf01_dir}/documents.parquet").filter(
        "doc_id < 100"
    ).select("doc_id", "lang")
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "LessThan(doc_id,100)" in plan, plan


def test_column_pruning_reads_only_needed(spark, sf01_dir):
    df = spark.read.parquet(f"{sf01_dir}/documents.parquet").select("doc_id")
    plan = _plan(df)
    assert "ReadSchema: struct<doc_id:bigint>" in plan, plan


def test_revenue_by_nation_broadcasts_via_aqe_not_hints(spark, sf01_dir):
    """Scale-safety: only the fixed-size nation dim is HINTED; orders and
    customer must be left to AQE (a hint would force a driver collect at
    100× SF). At this SF the physical plan still ends up all-broadcast —
    proving Catalyst picks it from runtime sizes, not because we forced it."""
    df = em.queries()["revenue_by_nation"](spark, sf01_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed  # nation only
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_tpch_q3_has_no_broadcast_hint_on_orders(spark, sf01_dir):
    df = em.queries()["tpch_q3_top_orders"](spark, sf01_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed
    df2 = em.queries()["top_parts_by_qty"](spark, sf01_dir)
    assert "ResolvedHint" not in df2._jdf.queryExecution().analyzed().toString()


def test_tfidf_has_no_broadcast_hint_on_vocab(spark, sf01_dir):
    """The idf relation is vocabulary-sized (10⁷–10⁸ terms at 100 TB): a
    broadcast hint on it would force a driver collect at scale. Only the
    one-row n_docs relation may be hinted; AQE decides the term join."""
    df = em.queries()["tfidf_top_terms"](spark, sf01_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed  # n_docs only


def test_whole_stage_codegen_covers_q1(spark, sf01_dir):
    df = em.queries()["tpch_q1"](spark, sf01_dir)
    df.collect()  # AQE finalizes THIS plan only when it executes
    plan = _plan(df)
    # codegen spans render as "*(n)" stage markers in AQE plan strings
    assert "*(1)" in plan and "HashAggregate" in plan, plan


def test_arrow_native_bench_job_has_no_exchange(spark, sf01_dir):
    """The benched extraction path must stay scan→mapInArrow→sink: zero
    wide edges, like the narrow plan — the N→4N scaling argument rests on
    this (nothing in the plan grows with cluster size)."""
    from ktpm___ocr_spark.operators.arrow_native import extract_arrow_native
    from ktpm___ocr_spark.sources.generator import synth_corpus

    df = extract_arrow_native(synth_corpus(spark, 100, seed=42))
    plan = _plan(df)
    assert "Exchange" not in plan, plan


def test_aqe_enabled_in_session(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_lsh_band_join_is_shuffle_not_cartesian(spark, sf01_dir):
    df = em.queries()["dedup_minhash_pairs"](spark, sf01_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the real plan, not a checkpoint scan: bands are computed once
    assert _banding_kernels(plan) == 1, plan


def test_near_dup_join_back_reads_texts_as_passed(spark, sf01_dir):
    """Only the banding input is repartitioned by id: the text join-back
    reads the caller's input as passed, so the texts are not shuffled by
    id a second and third time for it."""
    from ktpm___ocr_spark.operators.dedup import (
        containment_pairs,
        incremental_near_dups,
        lsh_bands,
        minhash_near_dups,
    )

    docs = spark.read.parquet(f"{sf01_dir}/documents.parquet")
    old, new = docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
    # the lazy incremental plan reads the increment's bands twice (the
    # new-old probe and the new-new pairs), each behind its repartition
    for df, repartitions in (
        (minhash_near_dups(docs, "doc_id", "text"), 1),
        (containment_pairs(docs, "doc_id", "text"), 1),
        (
            incremental_near_dups(
                lsh_bands(old, "doc_id", "text"), old, new, eager=False
            ),
            2,
        ),
    ):
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("RepartitionByExpression") == repartitions, analyzed


def test_ann_broadcast_queries_no_shuffle_of_corpus(spark, sf01_dir):
    df = em.queries()["ann_topk_bruteforce"](spark, sf01_dir)
    plan = _plan(df)
    # the corpus side joins via broadcast of the 8 queries
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_corpus_top_terms_is_distributed_topk(spark, sf01_dir):
    """The vocab ranking must plan as TakeOrderedAndProject (distributed
    top-n), never a global sort / unpartitioned window over the vocab."""
    from ktpm___ocr_spark.functions.textstats import corpus_top_terms

    docs = spark.read.parquet(f"{sf01_dir}/documents.parquet")
    plan = _plan(corpus_top_terms(docs, n=20))
    assert "TakeOrderedAndProject" in plan, plan


def test_salted_agg_two_phase_exchanges(spark, sf01_dir):
    """Salted aggregation = exactly two hash-agg phases: partial on
    (key, salt), final on key — and no sort anywhere."""
    from ktpm___ocr_spark.plans.partitioning import salted_sum_count

    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    plan = _plan(salted_sum_count(ev, "user_id", "value", "event_id"))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Sort" not in plan, plan


def test_binned_percentiles_aggregates_before_window(spark, sf01_dir):
    """The histogram reduces |rows| → |groups·bins| BEFORE any window
    function runs: the plan's window operates on the aggregated relation
    (HashAggregate appears below the Window in the tree)."""
    from ktpm___ocr_spark.operators.windows import binned_percentiles

    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    plan = _plan(binned_percentiles(ev, "value", "event_type", 0.0, 500.0))
    assert "HashAggregate" in plan and "Window" in plan
    # the histogram aggregate (deepest HashAggregate) feeds the window
    assert plan.rindex("HashAggregate") > plan.index(
        "Window"
    ), "window must consume the aggregated histogram, not raw rows"
    # and the NULL exclusion reaches the scan
    assert "PushedFilters: [IsNotNull(value)]" in plan, plan


def test_bloom_bits_join_is_broadcast(spark, sf01_dir):
    """The set-bit relation is bounded at 2^16 rows — the probe join must
    broadcast it, never shuffle the probe side on pos."""
    df = em.queries()["bloom_dedup_probe"](spark, sf01_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_containment_band_join_is_shuffle_not_cartesian(spark, sf01_dir):
    df = em.queries()["dedup_containment_pairs"](spark, sf01_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the real plan, not a checkpoint scan: bands are computed once
    assert _banding_kernels(plan) == 1, plan


def test_bm25_broadcasts_query_and_stats_no_cartesian(spark, sf01_dir):
    """The query-term relation, per-term df, and the 1-row stats relation
    are all broadcast; the corpus is never on the build side and no join
    degrades to a cartesian/nested-loop product."""
    df = em.queries()["bm25_topk_docs"](spark, sf01_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # the 1-row stats crossJoin compiles to a broadcast nested loop over
    # ONE row — the only acceptable nested-loop shape
    assert "SortMergeJoin" not in plan, plan


def test_kmeans_update_aggregate_is_partial(spark, sf01_dir):
    """The centroid update must map-side combine: two HashAggregates
    around the (cluster, dim)-keyed exchange, so the shuffle carries at
    most k·dim·partitions rows, not |corpus|·dim.  Asserted on the REAL
    update relation (_centroid_update — r4 ADVICE: the old body only
    checked the assignment for CartesianProduct)."""
    from ktpm___ocr_spark.operators.kmeans import (
        _assign,
        _centroid_update,
        kmeans_fp,
        quantize_vec,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    vecs = emb.select(
        F.col("vec_id"), quantize_vec(F.col("embedding")).alias("_q")
    )
    seeds = [
        (i, list(r["_q"]))
        for i, r in enumerate(vecs.orderBy("vec_id").limit(4).collect())
    ]
    plan = _plan(_centroid_update(_assign(vecs, seeds)))
    # partial (sum, count) before the (cluster, dim) exchange, final
    # after — plus the collect_list re-agg: ≥3 HashAggregates total, and
    # one must sit below (after, in EXPLAIN order) the first Exchange
    assert plan.count("HashAggregate") >= 3, plan
    first_exchange = plan.index("Exchange")
    assert "HashAggregate" in plan[first_exchange:], plan
    assert "HashAggregate" in plan[:first_exchange], plan
    # and the end-to-end operator never degrades to a cartesian product
    centroids, assignment = kmeans_fp(emb, k=4, iters=1)
    assert "CartesianProduct" not in _plan(assignment)


def test_mg_recount_join_is_broadcast(spark, sf01_dir):
    """The ≤m candidate relation must broadcast into the exact-recount
    join — the corpus term stream is never shuffled for the probe."""
    df = em.queries()["mg_top_terms"](spark, sf01_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hdr_cells_aggregate_is_partial(spark, sf01_dir):
    """Histogram cells must partially aggregate before the exchange
    (mergeable-by-addition is what makes the sketch scale)."""
    from ktpm___ocr_spark.functions.sketches import hdr_cells

    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    df = hdr_cells(ev, "value")
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2, plan
    first_exchange = plan.index("Exchange")
    assert "HashAggregate" in plan[first_exchange:], plan


def test_line_filter_is_anti_join_with_partial_counts(spark, sf01_dir):
    """Boilerplate removal joins against the small HOT-line relation
    (left anti), never the corpus-sized kept set, and the line-frequency
    count partially aggregates before its exchange."""
    df = em.queries()["line_dedup_clean"](spark, sf01_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "LeftAnti" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    first_exchange = plan.index("Exchange")
    assert "HashAggregate" in plan[first_exchange:], plan


def test_dup_passages_aggregates_are_partial(spark, sf01_dir):
    """Both the (passage, doc) and the passage-keyed counts must
    map-side combine — the shuffle carries partial counts, not one row
    per n-gram occurrence."""
    df = em.queries()["dup_passages"](spark, sf01_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 3, plan
    first_exchange = plan.index("Exchange")
    assert "HashAggregate" in plan[first_exchange:], plan
    assert "HashAggregate" in plan[:first_exchange], plan


def test_politeness_schedule_no_shuffle_beyond_budget(spark, sf01_dir):
    """The schedule explode adds NO exchange on top of crawl_budget's
    aggregate — sequence+posexplode are narrow."""
    budget_plan = _plan(em.queries()["crawl_budget"](spark, sf01_dir))
    sched_plan = _plan(em.queries()["politeness_schedule"](spark, sf01_dir))
    assert sched_plan.count("Exchange") <= budget_plan.count("Exchange"), (
        budget_plan,
        sched_plan,
    )


def test_cdc_chunks_two_exchange_takeordered(spark, sf01_dir):
    """CDC chunk dedup must compile to exactly two hash Exchanges (the
    (chunk, doc) combine and the tiny pair rollup), with map-side
    partial aggregates before each, a TakeOrderedAndProject for top-n
    (never a global sort), and no countDistinct Expand."""
    plan = _plan(em.queries()["cdc_chunks"](spark, sf01_dir))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Expand" not in plan, plan
    first_exchange = plan.index("Exchange")
    assert "partial_count" in plan[first_exchange:], plan
    assert "partial_count" in plan[:first_exchange] or "HashAggregate" in plan[
        :first_exchange
    ], plan


def test_cohort_retention_single_scan_three_exchanges(spark, sf01_dir):
    """Cohort retention must read events ONCE (min-week and the active
    week set come from the same user-keyed aggregate; cohort size is a
    window max over the tiny matrix, not a join that re-derives the
    user aggregate) and shuffle exactly 3 times: users, matrix, window."""
    plan = _plan(em.queries()["cohort_retention"](spark, sf01_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 3, plan
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join_op not in plan, plan


def test_hdr_quantiles_single_lineage_one_scan(spark, sf01_dir):
    """The quantile targets must explode against ONE cells lineage —
    the per-target unionByName shape re-plans the cells aggregate (and
    the scan) once per quantile (same genus as the kmv_quantiles fix)."""
    from ktpm___ocr_spark.functions.sketches import hdr_quantiles

    df = spark.read.parquet(f"{sf01_dir}/events.parquet")
    plan = (
        hdr_quantiles(df, "value")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FileScan") == 1, plan


def test_nightly_increment_never_rebands_old_side(spark, sf001_dir, tmp_path):
    """The nightly-increment composition's defining property: the old
    corpus is probed through its PERSISTED band table, never re-banded
    from text. Pinned behaviorally (plan-string sha2 counting is brittle
    under expression truncation): doctoring the stored band hashes must
    kill every new-old match — if the implementation re-derived the old
    side's bands from old text, the planted exact copies would still be
    found despite the doctored table. new-new pairs (increment-internal)
    must be unaffected by the doctoring."""
    from pyspark.sql import functions as F

    from ktpm___ocr_spark.operators import dedup as dd

    old = spark.read.parquet(f"{sf001_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    bands_path = str(tmp_path / "old_bands")
    dd.lsh_bands(old, "doc_id", "text").write.parquet(bands_path)
    old_bands = spark.read.parquet(bands_path)
    # 20 planted exact copies, each duplicated twice in the increment so
    # new-new pairs exist independently of the old side
    seed = old.orderBy("doc_id").limit(10)
    inc = seed.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    ).unionByName(
        seed.select((F.col("doc_id") + 20_000_000).alias("doc_id"), "text")
    )

    def kinds(bands_df):
        rows = (
            dd.incremental_near_dups(bands_df, old, inc, threshold=0.4)
            .groupBy("pair_kind")
            .count()
            .collect()
        )
        return {r["pair_kind"]: r["count"] for r in rows}

    honest = kinds(old_bands)
    assert honest.get("new_old", 0) > 0, honest
    assert honest.get("new_new", 0) > 0, honest

    # doctored hashes keep the 16-hex band format — the stale-format
    # guard (r7 review) rejects anything else before the probe runs
    doctored = old_bands.withColumn(
        "band_hash",
        F.substring(
            F.sha2(F.concat(F.col("band_hash"), F.lit("X")), 256), 1, 16
        ),
    )
    broken = kinds(doctored)
    assert broken.get("new_old", 0) == 0, broken
    assert broken.get("new_new", 0) == honest["new_new"], (broken, honest)

    # and the lazy plan consumes the band parquet by scan (probe side),
    # visible as the band table's read schema
    lazy = dd.incremental_near_dups(
        old_bands, old, inc, threshold=0.4, eager=False
    )
    assert "band_hash" in _plan(lazy)


def test_gopher_gate_zero_exchange_projection(spark, sf01_dir):
    """The quality gate is a pure projection since the r6 in-row
    repetition rewrite: per-doc top-frequency needs no corpus state, so
    the plan must contain NO Exchange and NO join — the composed probe
    measured the old explode+double-aggregate shape super-linear (67 s
    at 400k -> 387 s at 1M docs) once its agg maps started spilling."""
    from ktpm___ocr_spark.functions.textstats import gopher_gate

    df = spark.read.parquet(f"{sf01_dir}/documents.parquet")
    plan = _plan(gopher_gate(df))
    assert "Exchange" not in plan, plan
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join_op not in plan, plan
    assert plan.count("FileScan") == 1, plan
