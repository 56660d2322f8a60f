"""Engine-portable distributed sketches.

``approx_count_distinct`` (HyperLogLog++) is the right tool at 100 TB,
but its register values are engine-internal — no cross-engine oracle can
check it (which is why it is not in the driver registry at all; the
driver accepts no rows-only entries). This module implements classic HLL
from first principles
over the repo's portable sha256-prefix hash, so the *same* registers —
and therefore the same estimate, bit for bit — are computable in any
engine with sha256 and integer bit ops. The sketch itself is the right
scale shape: one hash aggregate to (group, register), one to (group);
sketch state is m integers per group and unions by register-max.

Formulas: Flajolet et al. 2007 (HyperLogLog), with the standard
linear-counting small-range correction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ktpm___ocr_spark.functions.textstats import word_hash

HLL_M = 64  # registers; 2^6 — index from the low 6 hash bits
_ALPHA_64 = 0.709  # alpha_m for m = 64 (Flajolet et al., fig. 3)


def hll_distinct(
    df: DataFrame, group_col: str, key_col: str, m: int = HLL_M
) -> DataFrame:
    """Per-group portable-HLL distinct estimate: (group, estimate).

    register index = low 6 bits of the 60-bit sha-prefix hash;
    rho = 1 + trailing-zero count of the remaining bits, computed with
    EXACT integer arithmetic: isolate the lowest set bit (``w & -w``, a
    power of two) and take the length of its binary rendering — rho ==
    length(bin(lsb)). No float log anywhere, so no libm 1-ulp hazard can
    make engines disagree on a register value (a float ``log2`` cast to
    int truncates in Spark but rounds under DuckDB CAST); registers =
    max(rho) per (group, idx); estimate =
    alpha·m²/Σ2^−M_j with absent registers contributing 2⁰, corrected by
    linear counting below 2.5·m when empty registers remain.
    """
    if m != 64:  # index mask, shift width, and alpha are all pinned to 64
        raise ValueError("hll_distinct supports m=64 only (alpha/shift pinned)")
    h = word_hash(F.col(key_col).cast("string"))
    idx = h.bitwiseAND(F.lit(m - 1))
    w = F.shiftright(h, 6)
    rho = (
        F.when(w == 0, F.lit(61))  # 2^-61 ~ 0: exhausted hash bits
        # exact: bin() of the isolated lowest set bit has rho digits
        .otherwise(F.length(F.bin(w.bitwiseAND(-w))))
    )
    regs = (
        df.select(F.col(group_col), idx.alias("idx"), rho.alias("rho"))
        .groupBy(group_col, "idx")
        .agg(F.max("rho").alias("mr"))
    )
    agg = regs.groupBy(group_col).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mr"))).alias("ps"),
        F.count(F.lit(1)).alias("nr"),
    )
    zeros = F.lit(m) - F.col("nr")
    raw = F.lit(_ALPHA_64 * m * m) / (F.col("ps") + zeros.cast("double"))
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(group_col, F.round(est, 4).alias("estimate"))


def weighted_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    k: int = 10,
) -> DataFrame:
    """Deterministic weighted sampling without replacement per group
    (Efraimidis–Spirakis 2006): key_i = −ln(u_i)/w_i with u_i a uniform
    (0,1] derived from the portable hash of the id; the k smallest keys
    per group are an exact ∝-weight sample. Reproducible across engines,
    partitionings, and reruns — the property corpus sampling needs so a
    training set is re-derivable from the raw data.

    One shuffle (rank per group); rows with weight ≤ 0 are excluded
    (zero probability mass).
    """
    from pyspark.sql import Window

    two60 = float(1 << 60)
    u = (word_hash(F.col(id_col).cast("string")) + 1).cast("double") / F.lit(two60)
    # round before ranking: ln() may differ by 1 ulp between JVM and other
    # engines' libm — ranking on the rounded key (ties broken by id) keeps
    # the sample engine-portable (same convention as tfidf_top_terms)
    key = F.round(-F.log(u) / F.col(weight_col), 6)
    w = Window.partitionBy(group_col).orderBy(F.asc("es_key"), F.asc(id_col))
    return (
        df.filter(F.col(weight_col) > 0)
        .select(F.col(group_col), F.col(id_col), key.alias("es_key"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(group_col, id_col, F.col("rk").cast("long").alias("rk"))
    )


# ---------------- log-linear (HDR-style) quantile histogram ----------------
#
# Mergeable quantiles without order statistics: bucket each value into a
# log-linear cell — power-of-two bucket (bit length) × 2^HDR_SUBBITS
# linear sub-buckets — and count per cell (the HdrHistogram layout,
# Tene, https://github.com/HdrHistogram; same family as DDSketch's
# relative-error buckets). Cells are summed per key, so summaries merge
# by plain addition (map-side combinable; state ≤ 64·2^SUBBITS cells no
# matter how many values), and a quantile estimate is the lower bound of
# the cell where the cumulative count crosses the target rank —
# relative error ≤ 2^-SUBBITS by construction.
#
# Portability: the value enters as floor(value·unit) (IEEE-exact), the
# bucket is the bit LENGTH of that integer (length(bin(x)) — the same
# exact-integer trick as hll rho; no float log2 whose 1-ulp wobble could
# flip a boundary), and target ranks are computed with integer
# ceiling-division from rational q — so Spark and any SQL oracle agree
# bit for bit.

HDR_SUBBITS = 4  # 16 linear sub-buckets per power-of-two bucket


def hdr_cells(df: DataFrame, value_col: str, unit: int = 100) -> DataFrame:
    """Histogram cells (bl, sub, lb, cnt) for ``floor(value·unit)``.
    ``lb`` is the cell's inclusive integer lower bound (in 1/unit units);
    negative values clamp into the zero cell (documented out of band for
    latency/size-style metrics, which are non-negative). NULL values are
    excluded — ``greatest`` skips nulls, so without the filter a null
    row would silently count as a 0-valued observation, inflating n and
    dragging every quantile toward 0."""
    b = HDR_SUBBITS + 1
    cells = df.filter(F.col(value_col).isNotNull()).select(
        F.greatest(
            F.floor(F.col(value_col) * unit).cast("long"), F.lit(0).cast("long")
        ).alias("iv")
    ).select(
        "iv",
        F.when(F.col("iv") <= 0, F.lit(0))
        .otherwise(F.length(F.bin(F.col("iv"))))
        .cast("long")
        .alias("bl"),
    ).select(
        "iv",
        "bl",
        # 2^(bl-b) fits double exactly (bl ≤ 64 never reached in practice;
        # guarded anyway: pow is exact for 2^k, k ≤ 52 — values at
        # unit=100 keep bl well under that)
        F.when(F.col("bl") <= b, F.lit(1).cast("long"))
        .otherwise(F.pow(F.lit(2.0), (F.col("bl") - b).cast("double")).cast("long"))
        .alias("p"),
    ).select(
        "bl",
        F.expr("iv div p").alias("sub"),
        (F.expr("iv div p") * F.col("p")).alias("lb"),
    )
    return cells.groupBy("bl", "sub", "lb").agg(F.count(F.lit(1)).alias("cnt"))


def hdr_quantiles(
    df: DataFrame,
    value_col: str,
    qs: tuple[tuple[str, int, int], ...] = (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)),
    unit: int = 100,
) -> DataFrame:
    """Quantile estimates from the cell histogram: for each (label, num,
    den) the target rank is ceil(n·num/den) in exact integer arithmetic,
    and the estimate is the lower bound of the first cell (in lb order)
    whose cumulative count reaches it. Output (label, target_rank,
    est_centi) — all bigint, hash-stable across engines.

    The cell relation is ≤ a few hundred rows, so the single-partition
    cumulative window is free; everything upstream is one map-combinable
    aggregate over the data."""
    from pyspark.sql.window import Window

    cells = hdr_cells(df, value_col, unit)
    # ONE lineage: cum and the total both come from windows over the same
    # cell relation, and the targets explode against it — a per-target
    # unionByName (the shape this replaced) re-plans the cells aggregate
    # once per quantile, re-scanning the source when no Exchange is
    # available for reuse (same scan-multiplication genus as the
    # kmv_quantiles fix; pinned by a one-FileScan plan test).
    cum = cells.select(
        "lb",
        F.sum("cnt").over(Window.orderBy("lb").rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(
            Window.orderBy("lb").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_n"),
    )
    # first cell whose cumulative count reaches the target rank
    return (
        cum.select("lb", "cum", "_n", F.explode(_targets_array(qs)).alias("t"))
        .select(
            F.col("t.label").alias("label"),
            F.expr("(_n * t.num + t.den - 1) div t.den").alias("target_rank"),
            "lb",
            "cum",
        )
        .filter(F.col("cum") >= F.col("target_rank"))
        .groupBy("label", "target_rank")
        .agg(F.min("lb").alias("est_centi"))
    )


KMV_K = 256  # bottom-k sample size


def _targets_array(qs):
    """Literal array of (label, num, den) structs — quantile targets
    join aggregates by ``explode`` of this array (the Spark spelling of
    SQL's ``FROM a, t``), NEVER by a per-target union of selects, which
    re-plans the aggregate's whole lineage once per quantile."""
    return F.array(
        *[
            F.struct(
                F.lit(label).alias("label"),
                F.lit(num).cast("long").alias("num"),
                F.lit(den).cast("long").alias("den"),
            )
            for label, num, den in qs
        ]
    )


def _rank_reads(s: DataFrame, id_cols: list[str], qs) -> DataFrame:
    """Shared ceil-rank reads over a sorted-sample frame carrying
    ``id_cols`` + ``vs`` (values ascending) + ``n`` (bigint): one
    output row per id×target — (··ids··, label, n_sample, est_value);
    n == 0 yields NULL (``element_at`` rejects rank 0)."""
    return s.select(
        *id_cols, "vs", "n", F.explode(_targets_array(qs)).alias("t")
    ).select(
        *id_cols,
        F.col("t.label").alias("label"),
        F.col("n").alias("n_sample"),
        F.when(F.col("n") <= 0, F.lit(None).cast("long"))
        .otherwise(
            F.element_at(
                "vs", F.expr("CAST((n * t.num + t.den - 1) div t.den AS INT)")
            )
        )
        .alias("est_value"),
    )


def kmv_sample(
    df: DataFrame, value_col: str, key_col: str, k: int = KMV_K
) -> DataFrame:
    """Bottom-k (KMV) uniform sample: the ``k`` rows whose
    ``sha256(key)`` is smallest, as ``(h, v)``.

    This is the deterministic, MERGE-ORDER-INDEPENDENT rank sketch:
    bottom-k of a union equals bottom-k of the per-part bottom-k's, in
    any grouping and any arrival order — the lattice property KLL /
    t-digest lack (their compactions depend on merge order), and the
    reason this sketch is oracle-portable bit-for-bit. Classic KMV /
    bottom-k sketch (Beyer et al., SIGMOD'07; Cohen & Kaplan,
    PODC'07), here used for rank/quantile estimation over the induced
    uniform sample rather than distinct counting.

    ``key_col`` must be unique per row (sha256 then never ties, so the
    bottom-k set — and everything downstream — is a pure function of
    the row set). Plan shape at 100 TB: ``orderBy(h).limit(k)`` is
    TakeOrderedAndProject — each task keeps its own k smallest rows and
    ONLY those k·P rows meet at the final merge; no full sort, no
    shuffle of the corpus. NULL values are excluded (a null observation
    is no observation, as in hdr_cells)."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.sha2(F.col(key_col).cast("string"), 256).alias("h"),
            F.col(value_col).cast("long").alias("v"),
        )
        .orderBy("h")
        .limit(k)
    )


def kmv_quantiles(
    df: DataFrame,
    value_col: str,
    key_col: str,
    k: int = KMV_K,
    qs: tuple[tuple[str, int, int], ...] = (
        ("p25", 1, 4),
        ("p50", 1, 2),
        ("p75", 3, 4),
        ("p90", 9, 10),
        ("p99", 99, 100),
    ),
) -> DataFrame:
    """Quantile estimates from the bottom-k sample: for each
    ``(label, num, den)`` the estimate is the value at 1-based rank
    ``ceil(n·num/den)`` of the sample sorted by value — exact integer
    arithmetic end-to-end, so the output ``(label, n_sample,
    est_value)`` is bit-identical in any engine given the same rows.
    ``n_sample = min(k, rows)``; an empty input yields NULL estimates
    (guarded — ``element_at`` would reject rank 0).

    The sample is ≤ k rows, so the sort-to-array aggregate is free;
    the only distributed work is the TakeOrdered in kmv_sample — the
    targets join in by EXPLODING a literal array against the one-row
    aggregate (the Spark spelling of the oracle's ``FROM a, t``), NOT
    by a per-target union, which would re-plan the TakeOrdered (and
    re-scan the corpus) once per quantile."""
    s = kmv_sample(df, value_col, key_col, k)
    a = s.agg(
        F.sort_array(F.collect_list("v")).alias("vs"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return _rank_reads(a, [], qs)


# Winner-relation broadcast bound for the grouped-KMV defer path: at
# ~100 B/row (two sha-hex strings + a key) this is ~100 MB — comfortable
# against Spark's 8 GB broadcast hard limit and typical executor memory,
# while 10^6+-group HOST-cardinality relations fall through to the
# shuffled hash join.
_MAX_BROADCAST_WINNER_ROWS = 1_000_000


def _avg_row_bytes(df: DataFrame, sample_rows: int = 4096) -> float:
    """Cheap scan-sample cost probe: average JSON-serialized row size of
    the first ``sample_rows`` rows (LocalLimit pushes into the scan, so
    this reads a handful of row groups, not the corpus). Used by the
    ``defer="auto"`` selector — it runs ONE small Spark job at plan-build
    time, the documented price of picking the execution strategy from the
    data instead of from a caller guess."""
    row = (
        df.limit(sample_rows)
        .select(F.avg(F.length(F.to_json(F.struct(*df.columns)))).alias("b"))
        .first()
    )
    return float(row["b"] or 0.0)


def kmv_grouped_quantiles(
    df: DataFrame,
    value_col: str | None,
    key_col: str,
    group_col: str,
    k: int = 64,
    qs: tuple[tuple[str, int, int], ...] = (
        ("p25", 1, 4),
        ("p50", 1, 2),
        ("p75", 3, 4),
        ("p90", 9, 10),
        ("p99", 99, 100),
    ),
    value_expr=None,
    defer: bool | str = "auto",
    broadcast_winners: bool | None = None,
    defer_bytes_threshold: int = 2048,
) -> DataFrame:
    """Per-group KMV rank sketch: for every group, the bottom-k sample
    by ``sha256(key)`` and the same exact ceil-rank quantile reads as
    ``kmv_quantiles`` — ``(domain, label, n_sample, est_value)``.

    The naive spelling (``row_number`` over a group-partitioned window)
    shuffles the WHOLE corpus by group and serializes each group
    through one task — a mega-domain stalls the stage. Instead the
    min-k lattice (bottom-k of a union ≡ bottom-k of per-part
    bottom-k's, same property as kmv_sample) licenses a two-phase
    plan:

    1. hash JVM-side (``sha2`` column — never per-row Python), then a
       ``mapInPandas`` pre-prune holding ONE bounded dict per input
       partition: group → its k lexicographically-smallest (h, v)
       rows. State ≤ k rows per group per partition, any arrival
       order; emits ≤ k·groups rows per partition.
    2. one grouped aggregate over the pruned relation —
       ``collect_list`` is safe ONLY here, bounded by k·P rows per
       group (P = upstream partition count), sorted+sliced to the
       exact global bottom-k.

    Exactness does not depend on partitioning (pinned by property
    test); ``key_col`` must be unique per row, NULL values excluded,
    as in kmv_sample.

    ``value_expr`` (optional Column, replaces ``value_col``): the value
    is a computed expression. NULL semantics (both strategies below,
    identical by property test): winners are chosen per group by hash
    over ALL rows, then winner rows whose value is NULL shrink that
    group's sample — with a lazily-evaluated value you cannot both skip
    evaluating corpus-wide and filter corpus-wide, so the eager
    strategy implements the same rule for exact interchangeability.
    (``value_col`` keeps its kmv_sample contract: NULLs excluded
    before winner selection.)

    ``defer`` picks the execution strategy for ``value_expr``:

    * ``False`` — ONE pass: evaluate the expression corpus-wide in the
      phase-1 projection and carry ``v`` through the prune. Wins when
      the expression is cheap relative to re-scanning the input
      (measured: 0.84 s vs 1.48 s on sf0.1's ~500 B docs).
    * ``True`` — TWO passes: phase 1 prunes on (group, hash, key) only,
      and the expression is projected ABOVE a join of the ≤ k·|groups|
      winner keys back to the input — the probe scan re-reads the
      column bytes, but the expression runs on matched rows only
      (measured: 12.4 s → 1.9 s on 400k concatenated-span mega-docs;
      the ungrouped kmv_sample gets the same laziness free from
      TakeOrderedAndProject's deferred project).
    * ``"auto"`` (default) — sample-probe the scan (``_avg_row_bytes``,
      one small Spark job) and defer iff the average row is at least
      ``defer_bytes_threshold`` bytes: per-row value cost tracks row
      size for the parse/tokenize/decode expressions this path exists
      for, and the measured win regions sit well clear of the
      threshold on both sides (~0.7 kB plain vs ~6 kB defer).

    ``broadcast_winners`` picks the winner-join strategy when
    deferring: ``True`` forces a broadcast, ``False`` forces a shuffled
    hash join (the web-scale HOST-cardinality regime, where k·|groups|
    outgrows any broadcast), and ``None`` (default) MEASURES — the
    winner relation is persisted and counted (phase 1 runs once and is
    reused by the join), and the join broadcasts iff the count is at
    most ``_MAX_BROADCAST_WINNER_ROWS``. The count is exactly the
    |groups|·k quantity the decision needs, so no cardinality guess or
    documented bound is left to the caller; the persisted block is
    released by Spark's ContextCleaner when the plan is dropped."""
    import pandas as pd

    gcol = F.col(group_col).cast("string").alias("g")
    hcol = F.sha2(F.col(key_col).cast("string"), 256).alias("h")

    def prune(batches):
        # positional: col 0 = group, col 1 = hash (both paths' schemas).
        # dropna=False: a NULL group is a group (the oracle's GROUP BY
        # and Spark's groupBy both keep it) — the pandas default would
        # silently drop those rows. The dict key is normalized to None
        # for missing groups: NaN keys would compare by identity and
        # split one group across batches.
        best: dict = {}
        for pdf in batches:
            gname, hname = pdf.columns[0], pdf.columns[1]
            for g, grp in pdf.groupby(gname, sort=False, dropna=False):
                kg = (
                    None
                    if g is None or (isinstance(g, float) and g != g)
                    else g
                )
                prev = best.get(kg)
                both = grp if prev is None else pd.concat((prev, grp))
                best[kg] = both.sort_values(hname).head(k)
        if best:
            yield pd.concat(best.values())

    if value_expr is None:
        src = df.filter(F.col(value_col).isNotNull()).select(
            gcol, hcol, F.col(value_col).cast("long").alias("v")
        )
        vw = src.mapInPandas(prune, "g string, h string, v long")
    elif defer is False or (
        defer == "auto" and _avg_row_bytes(df) < defer_bytes_threshold
    ):
        # one-pass strategy, defer SEMANTICS: the expression is evaluated
        # corpus-wide (the cost trade), but winner selection still ignores
        # NULL values — they ride through the prune and shrink the sample
        # in the post-slice filter below, exactly like the two-pass path.
        src = df.select(gcol, hcol, value_expr.cast("long").alias("v"))
        vw = src.mapInPandas(prune, "g string, h string, v long")
    else:
        # collision-safe internal names + DataFrame-qualified references:
        # the probe side is the CALLER's df, which may itself have
        # columns named g/h/kk (pinned by test)
        src = df.select(
            gcol.alias("_kmv_g"),
            hcol.alias("_kmv_h"),
            F.col(key_col).cast("string").alias("_kmv_kk"),
        )
        pruned = src.mapInPandas(
            prune, "_kmv_g string, _kmv_h string, _kmv_kk string"
        )
        winners = (
            pruned.groupBy("_kmv_g")
            .agg(
                F.slice(
                    F.array_sort(F.collect_list(F.struct("_kmv_h", "_kmv_kk"))),
                    1,
                    k,
                ).alias("kept")
            )
            .select("_kmv_g", F.explode("kept").alias("w"))
            .select(
                "_kmv_g",
                F.col("w._kmv_h").alias("_kmv_h"),
                F.col("w._kmv_kk").alias("_kmv_kk"),
            )
        )
        if broadcast_winners is None:
            # measure, don't guess: count() materializes phase 1 once
            # and IS the k·|groups| broadcast-bound quantity
            cached = winners.persist()
            broadcast_winners = cached.count() <= _MAX_BROADCAST_WINNER_ROWS
            # swap the session-lifetime persist() cache for checkpoint
            # blocks BEFORE returning: the blocks are k·|groups|-bounded,
            # are the data the join consumes, and are freed with the
            # returned frame (ContextCleaner / _release_checkpoint)
            # instead of accumulating in executor storage across
            # repeated calls in a long session (r6 advice)
            winners = cached.localCheckpoint(eager=True)
            cached.unpersist()
        if broadcast_winners:
            winners = F.broadcast(winners)
        else:
            # HOST-cardinality fallback: the winner relation outgrows any
            # broadcast — a shuffled hash join (no sort; build side is the
            # smaller, already-pruned relation) is the right shape
            winners = winners.hint("shuffle_hash")
        vw = (
            df.join(
                winners,
                F.col(key_col).cast("string") == winners["_kmv_kk"],
                "inner",
            )
            .select(
                winners["_kmv_g"].alias("g"),
                winners["_kmv_h"].alias("h"),
                value_expr.cast("long").alias("v"),
            )
            .filter(F.col("v").isNotNull())
        )
    s = (
        vw.groupBy(F.col("g").alias("domain"))
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("h", "v"))), 1, k
            ).alias("kept")
        )
        # NULL values drop AFTER the hash-ordered slice (a no-op for the
        # value_col path, which filtered up front, and for the two-pass
        # expr path, which filtered post-join): winner slots taken by
        # NULL-valued rows shrink the sample — the rule that makes the
        # one-pass and two-pass expr strategies bit-identical
        .select(
            "domain",
            F.sort_array(
                F.expr("transform(filter(kept, x -> x.v is not null), x -> x.v)")
            ).alias("vs"),
        )
        .select("domain", "vs", F.size("vs").cast("long").alias("n"))
    )
    return _rank_reads(s, ["domain"], qs)
