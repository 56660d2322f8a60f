"""Composed corpus-build pipeline proof at 10-25x bench scale.

Single-operator green rows show each stage is right in isolation; this
harness runs the WHOLE corpus-build chain a training-data run needs —

    extract (arrow-native span classify+stitch)
    -> assemble doc text + Gopher quality gate
    -> C4 boilerplate line dedup
    -> MinHash-LSH near-dup pairs
    -> connected-components duplicate clusters
    -> canonical keep (drop non-canonical members)
    -> static mixture plan (per-host token budget)
    -> token windows + greedy sample packing

— on the generated mega-doc-skew corpus (the same deterministic
synth_corpus fixture the scaling pairs use: ~9 % planted exact
duplicates, 1/1000 mega-docs with 9-11k spans) at 400k and 1M docs,
and records per-stage wall, rows, bytes, throughput, and written-file
balance so any stage whose cost grows super-linearly is named by the
400k -> 1M ratio table.

Every stage MATERIALIZES to parquet and the next stage reads it back:
per-stage attribution is exact (no lazy fusion across stage
boundaries), and the layout is the production one — stage outputs are
tables a failed run resumes from, not lineage inside one job.

Usage: python bench_composed.py [n_docs ...]   (default: 400000 1000000)
Writes BENCH/composed_last.json and prints one JSON line per corpus.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _file_balance(spark, path: str) -> dict:
    """rows per written file (max vs p50) — the mega-doc skew metric;
    grouped by the WRITTEN file, not read-split (splits pack small files
    by size and would average away exactly the skew this measures)."""
    from pyspark.sql import functions as F

    r = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .agg(
            F.count(F.lit(1)).alias("files"),
            F.max("rows").alias("max_rows"),
            F.expr("percentile_approx(rows, 0.5)").alias("p50_rows"),
        )
        .first()
    )
    return {
        "files": r["files"],
        "max_rows": r["max_rows"],
        "p50_rows": r["p50_rows"],
    }


class InjectedKill(RuntimeError):
    """Crash injection marker for the resume probe."""


def run_chain(
    spark,
    corpus_path: str,
    n_docs: int,
    workdir: str,
    fail_after: str | None = None,
    fresh: bool = True,
) -> dict:
    from pyspark.sql import functions as F

    from ktpm___ocr_spark.functions.packing import pack_samples, token_windows
    from ktpm___ocr_spark.functions.textstats import mixture_plan
    from ktpm___ocr_spark.metrics import StagedRun
    from ktpm___ocr_spark.operators import dedup as dd
    from ktpm___ocr_spark.operators.arrow_native import extract_arrow_native
    from ktpm___ocr_spark.operators.text_kernels import gopher_filter_arrow

    os.makedirs(workdir, exist_ok=True)
    stages: list[dict] = []
    # every stage commits through the production stage manifest
    # (StagedRun): a fresh bench run clears the manifest so all stages
    # execute; a resume run (fresh=False) skips committed stages without
    # invoking their thunks — the crash-resume layout the per-stage
    # parquet materialization existed for all along
    sr = StagedRun(spark, workdir)
    if fresh and os.path.exists(sr.manifest_path):
        os.remove(sr.manifest_path)

    def stage(name: str, mk_df, balance: bool = False) -> str:
        # mk_df is a THUNK: connected_components (one checkpoint per
        # generation) and center_vectors (its mean row) run jobs while
        # the DataFrame is built, so building it is part of the stage's
        # cost and must happen inside the timed window
        out, skipped, wall = sr.run_stage(name, mk_df)
        rows = spark.read.parquet(out).count()
        rec = {
            "stage": name,
            "sec": round(wall, 2),
            "rows_out": rows,
            "out_mb": round(_dir_bytes(out) / 1e6, 1),
            "docs_per_sec": round(n_docs / wall, 1) if wall else None,
        }
        if skipped:
            rec["resumed"] = True
        if balance:
            rec["balance"] = _file_balance(spark, out)
        stages.append(rec)
        if fail_after == name:
            raise InjectedKill(name)
        return out

    docs = spark.read.parquet(corpus_path)

    # 1. flagship extraction: classify + re-stitch ordered spans
    p_ex = stage("extract", lambda: extract_arrow_native(docs), balance=True)

    # 2. assemble doc text (int64 id — the web-scale id normalization) +
    #    Gopher gate; only keep=true docs flow on
    ex = spark.read.parquet(p_ex).select(
        F.substring("doc_id", 4, 8).cast("long").alias("id"),
        F.array_join(
            F.expr(
                "transform(filter(spans, s -> s.kind = 'text'), s -> s.text)"
            ),
            "\n",
        ).alias("text"),
    )
    # the gate predicate is row-local (r6 in-row repetition rewrite), so
    # it applies as a filter in the scan stage — no (id, keep) self-join.
    # r7: evaluated by the columnar Arrow kernel (decisions bit-identical
    # to gopher_keep_expr — tests/test_text_kernels.py; the expression
    # form was regex/HOF-bound at 98 s per 1M docs)
    p_gate = stage("gate", lambda: gopher_filter_arrow(ex, "text"))

    # 3. C4 boilerplate line dedup (hot lines: df > 4 distinct docs —
    #    the synth corpus plants edge-snippet boilerplate corpus-wide,
    #    while planted dup pairs only reach df=2 and must survive for
    #    the near-dup stages to prove themselves on)
    gated = spark.read.parquet(p_gate)
    p_clean = stage(
        "line_dedup",
        lambda: dd.boilerplate_line_filter(gated, "id", "text", max_line_df=4)
        .select("id", F.col("clean_text").alias("text"))
        .filter(F.length("text") > 0),
        balance=True,
    )

    # 4. MinHash-LSH near-dup pairs (banded candidates, verify >= 0.6)
    clean = spark.read.parquet(p_clean)
    p_pairs = stage(
        "minhash_pairs",
        lambda: dd.minhash_near_dups(clean, "id", "text", threshold=0.6),
    )

    # 5. duplicate clusters (pointer-jumping CC)
    pairs = spark.read.parquet(p_pairs)
    p_cc = stage("cc_clusters", lambda: dd.connected_components(pairs))

    # 6a. canonical choice per cluster — materialized as its own (tiny)
    #     table. Fusing it into the anti-join plan leaves the corpus on
    #     a static SortMergeJoin: the drop relation derives from
    #     broadcast joins with NO Exchange beneath, so AQE has no
    #     materialization point to re-plan from runtime stats (measured:
    #     51 s fused vs 1.0 + 1.2 s staged at 400k). Cluster tables are
    #     production tables anyway.
    cc = spark.read.parquet(p_cc)
    p_canon = stage(
        "canonical_ids", lambda: dd.keep_canonical(clean, cc, id_col="id")
    )

    # 6b. drop every non-canonical cluster member (both join inputs are
    #     now parquet-backed and tiny -> static broadcast, no corpus sort)
    canon = spark.read.parquet(p_canon)
    drop = (
        cc.join(canon, "cluster_id")
        .filter(F.col("node") != F.col("keep_id"))
        .select(F.col("node").alias("id"))
    )
    p_surv = stage(
        "canonical_keep", lambda: clean.join(drop, "id", "left_anti"), balance=True
    )

    # 6c. semantic near-dup audit over the survivors: deterministic
    #     hashed-BoW embeddings (centered, L2-normalized — the Arrow
    #     featurizer), then sign-LSH bucket join + exact cosine verify.
    #     The plane count scales with the corpus (buckets ≳ n/100) so
    #     same-bucket candidate pairs stay O(n) — the lever that keeps
    #     the 400k→1M normalized ratio ≤ 1; never a cross join
    #     (no_cartesian recorded from the executed plan).
    import math

    from ktpm___ocr_spark.operators.similarity import (
        center_vectors,
        embedding_near_dups,
    )
    from ktpm___ocr_spark.operators.text_kernels import (
        hashed_bow_embedding_arrow,
    )

    surv_sem = spark.read.parquet(p_surv)
    p_emb = stage(
        "embed",
        lambda: hashed_bow_embedding_arrow(surv_sem, "id", "text", dim=32),
    )
    # corpus-mean removal is LOAD-BEARING: without it every doc leans
    # along the corpus word-frequency profile (measured median
    # random-pair cos 0.91, top LSH bucket = 16 % of the corpus → the
    # bucket self-join goes quadratic); centered fluctuations are
    # near-orthogonal and the buckets spread (see center_vectors)
    emb_raw = spark.read.parquet(p_emb)
    p_ctr = stage(
        "embed_center",
        lambda: center_vectors(emb_raw, "id", "vec", dim=32),
    )
    emb = spark.read.parquet(p_ctr).repartition(
        spark.sparkContext.defaultParallelism * 8
    )
    # buckets ≈ n/25: candidate pairs stay ~n·12 (measured 4M @400k) so
    # the exact-cosine verify — the stage's real cost at 47.6M pairs
    # with buckets ≈ n/100 — stays O(n) with a small constant; recall at
    # near-dup cosines (≥ 0.997) is (1-θ/π)^planes ≈ 0.8
    n_planes = max(8, math.ceil(math.log2(max(n_docs, 1024) / 25)))

    def mk_sem():
        return embedding_near_dups(
            emb, id_col="id", vec_col="vec", threshold=0.95,
            n_planes=n_planes, dim=32,
        )

    p_sem = stage("semantic_dups", mk_sem)
    stages[-1]["n_planes"] = n_planes
    stages[-1]["no_cartesian_in_plan"] = (
        "CartesianProduct"
        not in mk_sem()._jdf.queryExecution().executedPlan().toString()
    )
    del p_sem

    # 7. static mixture plan over derived hosts (id-hash buckets — the
    #    synth corpus has no host column; 200 buckets = the mega-domain
    #    regime)
    surv = spark.read.parquet(p_surv).withColumn(
        "host", F.concat(F.lit("h"), (F.abs(F.xxhash64("id")) % 200))
    )
    p_mix = stage(
        "mixture_plan",
        lambda: mixture_plan(surv, "host", "text", budget=100_000_000),
    )

    # 8. packing: 512-token windows, greedily packed to 2048-token bins
    #    per host (window key id*100000+win_idx is unique and
    #    order-preserving within a doc)
    wins = token_windows(surv, "id", "text", size=512, stride=512).join(
        surv.select("id", "host"), "id"
    )
    p_pack = stage(
        "packing",
        lambda: pack_samples(
            wins.select(
                (F.col("id") * 100_000 + F.col("win_idx")).alias("wid"),
                "n_tokens",
                "host",
            ),
            id_col="wid",
            tokens_col="n_tokens",
            part_col="host",
            capacity=2048,
        ),
    )
    del p_mix, p_pack

    total = round(sum(s["sec"] for s in stages), 2)
    return {
        "n_docs": n_docs,
        "corpus": corpus_path,
        "total_sec": total,
        "end_to_end_docs_per_sec": round(n_docs / total, 1),
        "stages": stages,
    }


def resume_probe(spark, n_docs: int) -> dict:
    """Crash-resume proof at bench scale: full clean run (per-stage
    baseline) → fresh run killed right after the minhash_pairs commit →
    resumed run. The resumed run must skip every committed stage
    (manifest-checked, thunks never invoked — StagedRun's contract) and
    its wall clock should approach the clean run's residual (post-kill
    stages only); the difference IS the resume overhead (manifest stats
    + footer row counts of skipped stages)."""
    corpus = f"/tmp/ktpm_bench_corpus_{n_docs}_p1024.parquet"
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        from ktpm___ocr_spark.sources.generator import materialize

        materialize(spark, corpus, n_docs=n_docs, seed=42, partitions=1024)
    kill_after = "minhash_pairs"
    work = f"/tmp/ktpm_composed_resume_{n_docs}"
    clean = run_chain(spark, corpus, n_docs, work + "_clean")
    try:
        run_chain(spark, corpus, n_docs, work, fail_after=kill_after)
        raise AssertionError("injected kill did not fire")
    except InjectedKill:
        pass
    t0 = time.monotonic()
    resumed = run_chain(spark, corpus, n_docs, work, fresh=False)
    resumed_wall = time.monotonic() - t0
    skipped = [s["stage"] for s in resumed["stages"] if s.get("resumed")]
    stage_names = [s["stage"] for s in clean["stages"]]
    residual = sum(
        s["sec"]
        for s in clean["stages"]
        if stage_names.index(s["stage"]) > stage_names.index(kill_after)
    )
    # correctness of the resume: every pre-kill stage skipped, and the
    # final packing table matches the clean run's bit-for-bit
    assert skipped == stage_names[: stage_names.index(kill_after) + 1], skipped
    a = spark.read.parquet(os.path.join(work, "packing"))
    b = spark.read.parquet(os.path.join(work + "_clean", "packing"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    return {
        "probe": "resume",
        "n_docs": n_docs,
        "killed_after": kill_after,
        "stages_skipped_on_resume": skipped,
        "clean_total_sec": clean["total_sec"],
        "clean_residual_sec": round(residual, 2),
        "resumed_wall_sec": round(resumed_wall, 2),
        "resume_overhead_sec": round(resumed_wall - residual, 2),
        "final_table_identical": True,
    }


def nightly_probe(spark, n_docs: int, increments=(4_000, 40_000)) -> dict:
    """The production nightly loop at bench scale: a 400k-doc base
    corpus is banded ONCE (the persisted band table); each night an
    increment arrives and is deduped against the corpus WITHOUT
    re-banding it (incremental_near_dups). Measures wall vs increment
    size — the cost claim is O(|increment|) plus a fixed band-table
    probe, so 10× the increment must cost far less than 10× the wall —
    and pins in the executed plan that the old side is a parquet SCAN of
    the band table (exactly ONE banding kernel in the plan: the
    increment's)."""
    from pyspark.sql import functions as F

    from ktpm___ocr_spark.operators import dedup as dd
    from ktpm___ocr_spark.operators.arrow_native import extract_arrow_native

    corpus = f"/tmp/ktpm_bench_corpus_{n_docs}_p1024.parquet"
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        from ktpm___ocr_spark.sources.generator import materialize

        materialize(spark, corpus, n_docs=n_docs, seed=42, partitions=1024)
    base_dir = f"/tmp/ktpm_nightly_{n_docs}"
    os.makedirs(base_dir, exist_ok=True)
    texts_path = os.path.join(base_dir, "texts")
    bands_path = os.path.join(base_dir, "bands")
    if not os.path.exists(os.path.join(bands_path, "_SUCCESS")):
        docs = extract_arrow_native(spark.read.parquet(corpus)).select(
            F.substring("doc_id", 4, 8).cast("long").alias("id"),
            F.array_join(
                F.expr(
                    "transform(filter(spans, s -> s.kind = 'text'), s -> s.text)"
                ),
                "\n",
            ).alias("text"),
        )
        docs.write.mode("overwrite").parquet(texts_path)
        t0 = time.monotonic()
        dd.lsh_bands(
            spark.read.parquet(texts_path).repartition(1024, "id"), "id", "text"
        ).write.mode("overwrite").parquet(bands_path)
        band_build = round(time.monotonic() - t0, 2)
    else:
        band_build = None
    old_texts = spark.read.parquet(texts_path)
    old_bands = spark.read.parquet(bands_path)
    n_base = old_texts.count()
    runs = []
    for m in increments:
        # deterministic increment: m/2 near-dup revisions of base docs
        # (the nightly re-crawl) + m/2 genuinely new docs (vowel-rotated
        # text — J far below threshold)
        seed = old_texts.orderBy("id").limit(m)
        inc = (
            seed.limit(m // 2).select(
                (F.col("id") + 100_000_000).alias("id"),
                F.concat("text", F.lit(" rev2 nightly")).alias("text"),
            )
        ).unionAll(
            seed.limit(m - m // 2).select(
                (F.col("id") + 200_000_000).alias("id"),
                F.translate("text", "aeiou", "01234").alias("text"),
            )
        )
        inc_path = os.path.join(base_dir, f"inc_{m}")
        inc.write.mode("overwrite").parquet(inc_path)
        inc_df = spark.read.parquet(inc_path)
        t0 = time.monotonic()
        pairs = dd.incremental_near_dups(
            old_bands, old_texts, inc_df, id_col="id", text_col="text"
        )
        n_pairs = pairs.count()
        wall = round(time.monotonic() - t0, 2)
        # plan pin on the lazy (eager=False) form: old side is a parquet
        # SCAN of the band table; the only banding kernel (MapInArrow)
        # is the increment's
        plan = (
            dd.incremental_near_dups(
                old_bands,
                old_texts,
                inc_df,
                id_col="id",
                text_col="text",
                eager=False,
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # banding kernels = MapInArrow nodes that emit band_hash
        # (discriminated from the verify kernels, which the generic
        # plan.count("MapInArrow") conflated — r7 review). In the LAZY
        # plan the increment's banding subtree is textually replicated
        # under the three join branches (new-new self-join both sides +
        # new-old probe), so 3 is the expected count; the executed eager
        # path bands once behind persist(). The no-reband pin proper is
        # the path-literal FileScan of the stored band table below —
        # a regression that re-bands the old corpus would compute bands
        # instead of READING that path, flipping it to false (the
        # doctored-band-hash unit test pins the same property
        # behaviorally).
        band_kernels = sum(
            1
            for line in plan.splitlines()
            if "MapInArrow" in line and "band_hash" in line
        )
        runs.append(
            {
                "increment_docs": m,
                "wall_sec": wall,
                "pairs": n_pairs,
                "docs_per_sec": round(m / wall, 1),
                "band_kernel_nodes_in_lazy_plan": band_kernels,
                # the literal store path in a FileScan — not a substring
                # that column names like band_hash would satisfy
                "old_bands_scanned_from_parquet": (
                    "FileScan" in plan and f"{base_dir}/bands" in plan
                ),
            }
        )
    return {
        "probe": "nightly_increment",
        "base_docs": n_base,
        "band_table_build_sec": band_build,
        "runs": runs,
    }


def excise_probe(spark, n_docs: int) -> dict:
    """Exact-substring excision at the mega-doc skew fixture (Lee et al.
    2022 removal step): duplicate-passage mining + interval-merge
    excision + parquet write of the cleaned corpus, end-to-end. Run at
    two corpus sizes for the normalized-ratio evidence (the r6
    interval-merge fix is proven at 400k; this probe adds the second
    point)."""
    from pyspark.sql import functions as F

    from ktpm___ocr_spark.operators import dedup as dd
    from ktpm___ocr_spark.operators.arrow_native import extract_arrow_native

    corpus = f"/tmp/ktpm_bench_corpus_{n_docs}_p1024.parquet"
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        from ktpm___ocr_spark.sources.generator import materialize

        materialize(spark, corpus, n_docs=n_docs, seed=42, partitions=1024)
    texts_path = f"/tmp/ktpm_nightly_{n_docs}/texts"
    if not os.path.exists(os.path.join(texts_path, "_SUCCESS")):
        extract_arrow_native(spark.read.parquet(corpus)).select(
            F.substring("doc_id", 4, 8).cast("long").alias("id"),
            F.array_join(
                F.expr(
                    "transform(filter(spans, s -> s.kind = 'text'), s -> s.text)"
                ),
                "\n",
            ).alias("text"),
        ).write.mode("overwrite").parquet(texts_path)
    docs = spark.read.parquet(texts_path).repartition(1024, "id")
    out_path = f"/tmp/ktpm_excise_{n_docs}"
    t0 = time.monotonic()
    dd.excise_repeated_passages(
        docs, "id", "text", n=8, min_docs=2
    ).write.mode("overwrite").parquet(out_path)
    wall = round(time.monotonic() - t0, 2)
    stats = (
        spark.read.parquet(out_path)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_removed").alias("tokens_removed"),
            F.max("n_removed").alias("max_removed_one_doc"),
        )
        .first()
    )
    return {
        "probe": "excise",
        "n_docs": n_docs,
        "wall_sec": wall,
        "docs_per_sec": round(n_docs / wall, 1),
        "rows": stats["rows"],
        "tokens_removed": int(stats["tokens_removed"]),
        "max_removed_one_doc": int(stats["max_removed_one_doc"]),
    }


def main() -> None:
    from ktpm___ocr_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    do_resume = "--resume-probe" in sys.argv[1:]
    do_nightly = "--nightly-probe" in sys.argv[1:]
    do_excise = "--excise-probe" in sys.argv[1:]
    sizes = [int(a) for a in args] or (
        [400_000]
        if (do_resume or do_nightly or do_excise)
        else [400_000, 1_000_000]
    )
    spark = get_spark(
        app_name="bench-composed",
        master=f"local[{CPUS}]",
        extra_conf={"spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "24g")},
    )
    if do_resume:
        res = resume_probe(spark, sizes[0])
        print(json.dumps(res))
        os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
        with open(os.path.join(REPO, "BENCH", "composed_resume.json"), "w") as f:
            json.dump(res, f, indent=2)
        spark.stop()
        return
    if do_excise:
        out = []
        for n in sizes:
            res = excise_probe(spark, n)
            print(json.dumps(res))
            out.append(res)
        os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
        with open(os.path.join(REPO, "BENCH", "excise_probe.json"), "w") as f:
            json.dump(out, f, indent=2)
        spark.stop()
        return
    if do_nightly:
        res = nightly_probe(spark, sizes[0])
        print(json.dumps(res))
        os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
        with open(os.path.join(REPO, "BENCH", "nightly_increment.json"), "w") as f:
            json.dump(res, f, indent=2)
        spark.stop()
        return
    results = []
    for n in sizes:
        corpus = f"/tmp/ktpm_bench_corpus_{n}_p1024.parquet"
        if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
            from ktpm___ocr_spark.sources.generator import materialize

            materialize(spark, corpus, n_docs=n, seed=42, partitions=1024)
        res = run_chain(spark, corpus, n, f"/tmp/ktpm_composed_{n}")
        results.append(res)
        print(json.dumps(res))
    if len(results) == 2 and results[0]["n_docs"]:
        a, b = results
        scale = b["n_docs"] / a["n_docs"]
        ratios = {
            sa["stage"]: round(sb["sec"] / max(sa["sec"], 1e-9) / scale, 2)
            for sa, sb in zip(a["stages"], b["stages"])
        }
        # per-stage cost ratio normalized by the scale factor: 1.0 =
        # perfectly linear, < 1 = cheaper per doc at scale (fixed
        # overhead amortizing), sustained > 1 = super-linear growth
        print(json.dumps({"normalized_cost_ratio_1m_over_400k": ratios}))
        results.append({"normalized_cost_ratio": ratios, "scale": scale})
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "composed_last.json"), "w") as f:
        json.dump(results, f, indent=2)
    spark.stop()


if __name__ == "__main__":
    main()
