"""The benchmark's batch workloads.

Each workload builds its input from the seed with the package's own
generator (``sources.generator.synth_corpus``: ~15 % media spans, a
1-in-1000 mega-doc with 9-11k spans, shuffled offsets, every 11th doc a
clone of the doc five before it), then runs one batch job built only
from the package's public functions. Every stage of a job runs under
``setJobDescription(<stage>)`` and materializes to parquet, so the event
log attributes each Spark job to exactly one stage.

Sizes are fixed constants, not options, and the same on every host so
results compare. They are small: one run (set-up three times, the timed
loop, the checks and the scaling probe) takes about a minute on a 4-vCPU
host, and a full benchmark pass is some fifty runs.
"""

from __future__ import annotations

import os
import random
import re
import statistics
import time
from decimal import ROUND_HALF_UP, Decimal

EXTRACT_DOCS = 8_000
BASE_DOCS = 3_000
INCREMENT_DOCS = 1_000
SLICE_DOCS = 5_000
SETUP_REPS = 3

# Per-workload disk need in MB per 1k docs: the generated corpus, the
# extracted copy and every materialized stage output, with headroom.
DISK_MB_PER_KDOC = 25


class StageFailed(RuntimeError):
    """A stage's build or materializing write raised."""


class Ctx:
    """One run's Spark session, scratch space, spans and tallies."""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        self.rows: dict[str, int] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})
        return ok

    def stage(self, name: str, build, out: str | None = None):
        """Build the stage's DataFrame and write it to parquet, each inside
        its own span; return ``(path, df)``. ``build`` is a thunk because
        several operators run eager jobs while the plan is built, and that
        cost belongs to the stage."""
        out = out or self.path("out", name)
        sc = self.spark.sparkContext
        sc.setJobDescription(name)
        self.attempted += 1
        try:
            with self.tracer.span(name):
                with self.tracer.span(name + ".build"):
                    df = build()
                with self.tracer.span(name + ".action"):
                    df.write.mode("overwrite").parquet(out)
        except Exception as exc:
            self.failed += 1
            raise StageFailed(name) from exc
        finally:
            sc.setJobDescription(None)
        self.rows[name] = parquet_rows(out)
        return out, df


def parquet_rows(path: str) -> int:
    """Row count from the parquet footers: no Spark job, so nothing lands
    in any stage's event-log numbers."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def content_hash(spark, path: str) -> str:
    """Order-independent hash of a table: the sum of per-row xxhash64.
    Floating-point values are rounded to 9 decimals first: a parallel
    mean (``center_vectors``) sums in task-completion order, so its last
    bits differ from run to run."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, FloatType

    df = spark.read.parquet(path)
    floats = (DoubleType, FloatType)
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, floats):
            c = F.round(c, 9)
        elif isinstance(f.dataType, ArrayType) and isinstance(
            f.dataType.elementType, floats
        ):
            c = F.transform(c, lambda x: F.round(x, 9))
        cols.append(c)
    r = df.agg(F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).first()
    return str(r[0])


def assemble_text(extracted):
    """(id, text): the int64 id and the newline-joined kept text spans,
    the table every downstream corpus stage starts from."""
    from pyspark.sql import functions as F

    return extracted.select(
        F.substring("doc_id", 4, 8).cast("long").alias("id"),
        F.array_join(
            F.expr("transform(filter(spans, s -> s.kind = 'text'), s -> s.text)"),
            "\n",
        ).alias("text"),
    )


def generate(ctx: Ctx, path: str, n_docs: int) -> None:
    from ktpm___ocr_spark.sources.generator import materialize

    ctx.spark.sparkContext.setJobDescription("setup.generate")
    with ctx.tracer.span("setup.generate"):
        materialize(ctx.spark, path, n_docs=n_docs, seed=ctx.seed, partitions=16)
    ctx.spark.sparkContext.setJobDescription(None)


def build_texts(ctx: Ctx, corpus: str, out: str) -> None:
    from ktpm___ocr_spark.operators.arrow_native import extract_arrow_native

    assemble_text(extract_arrow_native(ctx.spark.read.parquet(corpus))).write.mode(
        "overwrite"
    ).parquet(out)


# ------------------------------------------------------------- reference


_WS = re.compile("[ \t\n\x0b\f\r]+")


def ref_shingles(text: str | None, n: int = 3) -> set[str]:
    """Word 3-gram shingle set, written from the definition: lower-case,
    split on Java ``\\s`` runs, drop empty words; fewer than n words give
    the single whole-text shingle."""
    ws = [w for w in _WS.split((text or "").lower()) if w]
    if len(ws) < n:
        return {" ".join(ws)}
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def ref_jaccard(a: str | None, b: str | None) -> float:
    sa, sb = ref_shingles(a), ref_shingles(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def round4(x: float) -> float:
    """Spark's ``round(x, 4)``: HALF_UP on the shortest decimal repr."""
    q = Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    return float(q)


# --------------------------------------------------------------- shared


class Workload:
    """Set-up shared by all three: generate the seeded corpus, then the
    workload's own preparation. Warm-up writes the scaling probe's fixed
    slice and starts the Python workers on it."""

    name: str
    n_docs: int

    def setup(self, ctx: Ctx) -> None:
        self.corpus = ctx.path("in", "corpus")
        generate(ctx, self.corpus, self.n_docs)
        ctx.spark.sparkContext.setJobDescription("setup.prepare")
        with ctx.tracer.span("setup.prepare"):
            self.prepare(ctx)
        ctx.spark.sparkContext.setJobDescription(None)

    def prepare(self, ctx: Ctx) -> None:
        pass

    def warmup(self, ctx: Ctx) -> None:
        """Write the fixed slice and start the Python workers on it. The
        job itself gets no untimed pass: a batch job runs once per JVM, so
        its first pass, with Spark's code generation and the JVM's
        compiling, is the one users wait for."""
        from ktpm___ocr_spark.sources.generator import materialize

        # The slice does not depend on the seed: which docs are mega-docs,
        # and so how evenly a few tasks share them, would otherwise move
        # scaling_eff from seed to seed.
        self.slice = ctx.path("in", "slice")
        materialize(
            ctx.spark, self.slice, n_docs=SLICE_DOCS, seed=0,
            partitions=4 * ctx.spark.sparkContext.defaultParallelism,
        )
        extract_slice_noop(ctx, self.slice)

    def traced_extras(self, ctx: Ctx) -> None:
        pass


def extract_slice_noop(ctx: Ctx, slice_path: str) -> None:
    """Start the Python workers and load the kernel, outside any timing."""
    from ktpm___ocr_spark.operators.arrow_native import extract_arrow_native

    extract_arrow_native(ctx.spark.read.parquet(slice_path)).write.mode(
        "overwrite"
    ).format("noop").save()


def scaling_probe(ctx: Ctx, slice_path: str, pairs: int = 3) -> dict:
    """Parallel efficiency of extract_arrow_native over the fixed slice:
    docs/s on every core over nproc x docs/s on one core, each the median
    of ``pairs`` runs. One core is the slice read as a single partition,
    so a single task runs it. The two alternate, so a slow spell of the
    host lands on both sides of the ratio."""
    from ktpm___ocr_spark.operators.arrow_native import extract_arrow_native

    n = ctx.spark.sparkContext.defaultParallelism
    walls: dict[str, list[float]] = {"extract_slice": [], "extract_1core": []}
    for _ in range(pairs):
        for stage in walls:
            df = ctx.spark.read.parquet(slice_path)
            if stage == "extract_1core":
                df = df.coalesce(1)
            t0 = time.monotonic()
            ctx.stage(stage, lambda: extract_arrow_native(df))
            walls[stage].append(time.monotonic() - t0)
    every = SLICE_DOCS / statistics.median(walls["extract_slice"])
    one = SLICE_DOCS / statistics.median(walls["extract_1core"])
    return {"scaling_eff": every / (n * one), "docs_per_s_nproc": every, "docs_per_s_1": one}


# --------------------------------------------------------------- extract


class Extract(Workload):
    """scan -> extract_arrow_native -> parquet write."""

    name = "extract"
    n_docs = EXTRACT_DOCS

    def job(self, ctx: Ctx) -> None:
        from ktpm___ocr_spark.operators.arrow_native import extract_arrow_native

        corpus = ctx.spark.read.parquet(self.corpus)
        ctx.stage("extract", lambda: extract_arrow_native(corpus))

    def check(self, ctx: Ctx) -> None:
        check_extraction(ctx, self.corpus, ctx.path("out", "extract"), self.n_docs)

    def traced_extras(self, ctx: Ctx) -> None:
        from ktpm___ocr_spark.pipeline import extract_narrow

        corpus = ctx.spark.read.parquet(self.corpus)
        ctx.stage("extract_narrow", lambda: extract_narrow(corpus))
        check_extraction(
            ctx, self.corpus, ctx.path("out", "extract_narrow"), self.n_docs
        )


def check_extraction(ctx: Ctx, corpus: str, out: str, n_docs: int) -> None:
    """A seeded sample, always holding a mega-doc and a planted clone pair,
    must equal ``oracle.extract_doc`` span for span."""
    from pyspark.sql import functions as F

    from ktpm___ocr_spark.oracle import extract_doc

    rng = random.Random(ctx.seed)
    ids = set(rng.sample(range(n_docs), 24))
    mega = [i for i in range(999, n_docs, 1000) if i % 11 != 10]
    clone = rng.choice(range(10, n_docs, 11))
    ids |= {rng.choice(mega), clone, clone - 5}
    names = [f"doc{i:08d}" for i in sorted(ids)]

    def spans_of(path: str) -> dict:
        rows = ctx.spark.read.parquet(path).filter(F.col("doc_id").isin(names))
        return {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in rows.collect()}

    def seq(spans: list[dict]) -> list[tuple]:
        return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]

    src, got = spans_of(corpus), spans_of(out)
    bad = [
        n for n in names
        if n not in src or seq(got.get(n, [])) != seq(extract_doc(src[n]))
    ]
    label = os.path.basename(out)
    ctx.check(
        f"{label}.oracle_spans", not bad,
        f"{len(names)} docs sampled, mismatched: {bad[:5]}",
    )
    rows = parquet_rows(out)
    ctx.check(f"{label}.rows", rows == n_docs, f"{rows} rows for {n_docs} docs")


# ---------------------------------------------------------- corpus_build


class CorpusBuild(Workload):
    """The composed corpus-build chain, stage for stage and parameter for
    parameter as ``bench_composed.run_chain`` runs it, from the assembled
    (id, text) table."""

    name = "corpus_build"
    n_docs = BASE_DOCS

    def prepare(self, ctx: Ctx) -> None:
        self.texts = ctx.path("in", "texts")
        build_texts(ctx, self.corpus, self.texts)

    def job(self, ctx: Ctx) -> None:
        import math

        from pyspark.sql import functions as F

        from ktpm___ocr_spark.functions.packing import pack_samples, token_windows
        from ktpm___ocr_spark.functions.textstats import mixture_plan
        from ktpm___ocr_spark.operators import dedup as dd
        from ktpm___ocr_spark.operators.similarity import (
            center_vectors,
            embedding_near_dups,
        )
        from ktpm___ocr_spark.operators.text_kernels import (
            gopher_filter_arrow,
            hashed_bow_embedding_arrow,
        )

        spark = ctx.spark
        read = spark.read.parquet
        ex = read(self.texts)
        p_gate, _ = ctx.stage("gate", lambda: gopher_filter_arrow(ex, "text"))
        gated = read(p_gate)
        p_clean, _ = ctx.stage(
            "line_dedup",
            lambda: dd.boilerplate_line_filter(gated, "id", "text", max_line_df=4)
            .select("id", F.col("clean_text").alias("text"))
            .filter(F.length("text") > 0),
        )
        clean = read(p_clean)
        p_pairs, _ = ctx.stage(
            "minhash_pairs",
            lambda: dd.minhash_near_dups(clean, "id", "text", threshold=0.6),
        )
        pairs = read(p_pairs)
        p_cc, _ = ctx.stage("cc_clusters", lambda: dd.connected_components(pairs))
        cc = read(p_cc)
        p_canon, _ = ctx.stage(
            "canonical_ids", lambda: dd.keep_canonical(clean, cc, id_col="id")
        )
        canon = read(p_canon)
        drop = (
            cc.join(canon, "cluster_id")
            .filter(F.col("node") != F.col("keep_id"))
            .select(F.col("node").alias("id"))
        )
        p_surv, _ = ctx.stage(
            "canonical_keep", lambda: clean.join(drop, "id", "left_anti")
        )
        surv = read(p_surv)
        p_emb, _ = ctx.stage(
            "embed", lambda: hashed_bow_embedding_arrow(surv, "id", "text", dim=32)
        )
        emb_raw = read(p_emb)
        p_ctr, _ = ctx.stage(
            "embed_center", lambda: center_vectors(emb_raw, "id", "vec", dim=32)
        )
        emb = read(p_ctr).repartition(spark.sparkContext.defaultParallelism * 8)
        n_planes = max(8, math.ceil(math.log2(max(self.n_docs, 1024) / 25)))
        _, sem = ctx.stage(
            "semantic_dups",
            lambda: embedding_near_dups(
                emb, id_col="id", vec_col="vec", threshold=0.95,
                n_planes=n_planes, dim=32,
            ),
        )
        self.sem_plan = sem._jdf.queryExecution().executedPlan().toString()
        hosted = surv.withColumn(
            "host", F.concat(F.lit("h"), (F.abs(F.xxhash64("id")) % 200))
        )
        ctx.stage(
            "mixture_plan",
            lambda: mixture_plan(hosted, "host", "text", budget=100_000_000),
        )
        wins = token_windows(hosted, "id", "text", size=512, stride=512).join(
            hosted.select("id", "host"), "id"
        )
        ctx.stage(
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

    STAGES = (
        "gate", "line_dedup", "minhash_pairs", "cc_clusters", "canonical_ids",
        "canonical_keep", "embed", "embed_center", "semantic_dups",
        "mixture_plan", "packing",
    )

    def check(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        spark = ctx.spark
        clean_ids = {
            r[0] for r in spark.read.parquet(ctx.path("out", "line_dedup")).select("id").collect()
        }
        found = {
            (r[0], r[1])
            for r in spark.read.parquet(ctx.path("out", "minhash_pairs"))
            .select("id_a", "id_b").collect()
        }
        planted = [
            (i - 5, i) for i in range(10, self.n_docs, 11)
            if i - 5 in clean_ids and i in clean_ids
        ]
        missed = [p for p in planted if p not in found]
        ctx.check(
            "minhash_pairs.planted_clone_recall",
            bool(planted) and not missed,
            f"{len(planted) - len(missed)}/{len(planted)} planted clone pairs found",
        )
        dup_members = spark.read.parquet(ctx.path("out", "canonical_ids")).agg(
            F.sum(F.col("n_members") - 1)
        ).first()[0] or 0
        want = ctx.rows["line_dedup"] - dup_members
        ctx.check(
            "canonical_keep.rows",
            ctx.rows["canonical_keep"] == want,
            f"{ctx.rows['canonical_keep']} kept, {ctx.rows['line_dedup']} "
            f"deduped docs - {dup_members} non-canonical members = {want}",
        )
        ctx.check(
            "semantic_dups.no_cartesian",
            "CartesianProduct" not in self.sem_plan,
        )

    def fingerprint(self, ctx: Ctx) -> dict:
        return {
            s: [ctx.rows[s], content_hash(ctx.spark, ctx.path("out", s))]
            for s in self.STAGES
        }


# ----------------------------------------------------- nightly_increment


class NightlyIncrement(Workload):
    """dedup.incremental_near_dups of an increment against a stored band
    table: a scan of the base bands plus a small increment."""

    name = "nightly_increment"
    n_docs = BASE_DOCS

    def prepare(self, ctx: Ctx) -> None:
        """Band the base once and store it; build the increment."""
        from pyspark.sql import functions as F

        from ktpm___ocr_spark.operators import dedup as dd

        spark = ctx.spark
        self.texts = ctx.path("in", "texts")
        self.bands = ctx.path("in", "bands")
        self.inc = ctx.path("in", "increment")
        build_texts(ctx, self.corpus, self.texts)
        par = spark.sparkContext.defaultParallelism
        dd.lsh_bands(
            spark.read.parquet(self.texts).repartition(par, "id"), "id", "text"
        ).write.mode("overwrite").parquet(self.bands)
        # half near-dup revisions of base docs, half new docs (vowels
        # rotated: Jaccard far below threshold)
        m = INCREMENT_DOCS
        head = spark.read.parquet(self.texts).orderBy("id").limit(m)
        head.limit(m // 2).select(
            (F.col("id") + 100_000_000).alias("id"),
            F.concat("text", F.lit(" rev2 nightly")).alias("text"),
        ).unionAll(
            head.limit(m - m // 2).select(
                (F.col("id") + 200_000_000).alias("id"),
                F.translate("text", "aeiou", "01234").alias("text"),
            )
        ).write.mode("overwrite").parquet(self.inc)

    def job(self, ctx: Ctx) -> None:
        from ktpm___ocr_spark.operators import dedup as dd

        read = ctx.spark.read.parquet
        old_bands, old_texts, inc = read(self.bands), read(self.texts), read(self.inc)
        ctx.stage(
            "increment_dedup",
            lambda: dd.incremental_near_dups(
                old_bands, old_texts, inc, id_col="id", text_col="text"
            ),
        )

    def check(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from ktpm___ocr_spark.operators import dedup as dd

        spark = ctx.spark
        pairs = spark.read.parquet(ctx.path("out", "increment_dedup")).collect()
        inc = spark.read.parquet(self.inc)
        inc_revs = inc.filter(F.col("id") < 200_000_000)
        revs = inc_revs.select((F.col("id") - 100_000_000).alias("base"), "id").collect()
        ids = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
        ids |= {r["base"] for r in revs} | {r["id"] for r in revs}
        texts = {
            r["id"]: r["text"]
            for r in spark.read.parquet(self.texts).unionByName(inc)
            .filter(F.col("id").isin(list(ids))).collect()
        }
        wrong = [
            (r["id_a"], r["id_b"])
            for r in pairs
            if r["jaccard"] != round4(ref_jaccard(texts[r["id_a"]], texts[r["id_b"]]))
        ]
        ctx.check(
            "increment_dedup.jaccard_reference", bool(pairs) and not wrong,
            f"{len(pairs)} pairs, {len(wrong)} off the reference: {wrong[:5]}",
        )
        # 4x4 banding is a probabilistic filter (a J=0.8 pair shares no
        # band with probability (1-0.8^4)^4, about 1.3 %), so the pairs due
        # are the revisions at J >= 0.6 that share a band with their base:
        # the probe join, the join-backs and the verify must lose none.
        inc_bands = dd.lsh_bands(inc_revs, "id", "text")
        banded = {
            r[0]
            for r in inc_bands.alias("n")
            .join(
                spark.read.parquet(self.bands).alias("o"),
                (F.col("n.band_idx") == F.col("o.band_idx"))
                & (F.col("n.band_hash") == F.col("o.band_hash"))
                & (F.col("o.id") == F.col("n.id") - 100_000_000),
            )
            .select("n.id").distinct().collect()
        }
        reported = {(r["id_a"], r["id_b"]) for r in pairs}
        at_threshold = [
            (r["base"], r["id"]) for r in revs
            if ref_jaccard(texts[r["base"]], texts[r["id"]]) >= 0.6
        ]
        due = [p for p in at_threshold if p[1] in banded]
        missed = [p for p in due if p not in reported]
        ctx.check(
            "increment_dedup.revision_recall", bool(due) and not missed,
            f"{len(due) - len(missed)}/{len(due)} banded revision pairs at "
            f"J>=0.6 reported; {len(at_threshold)} at J>=0.6 in all",
        )


# Timed workloads, and every workload a traced run passes through.
# nightly_increment is not timed, so that a full pass of some fifty runs
# stays under an hour on a 4-vCPU host; its stage still runs, and is
# checked, in every traced run.
WORKLOADS = {w.name: w for w in (Extract, CorpusBuild)}
TRACED = {w.name: w for w in (Extract, CorpusBuild, NightlyIncrement)}
