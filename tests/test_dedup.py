"""Dedup family: exact, MinHash+LSH, SimHash, n-gram Jaccard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ktpm___ocr_spark.operators.dedup import (
    connected_components,
    exact_dup_groups,
    hamming_bitstr,
    keep_canonical,
    lsh_bands,
    minhash_near_dups,
    minhash_signature,
    ngram_jaccard,
    simhash64,
    simhash_near_dups,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")  # 1-word change → high jaccard
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, near),  # near dup of 1
        (4, "completely different words about spark shuffle partitions here"),
        (5, "short text"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "id bigint, text string")


def test_exact_dup_groups(spark, docs):
    got = exact_dup_groups(docs, "id", "text").collect()
    assert len(got) == 1
    assert got[0]["dup_count"] == 2 and got[0]["first_id"] == 1


def test_minhash_identical_signatures(spark, docs):
    sigs = {
        r["id"]: tuple(r["sig"])
        for r in docs.select("id", minhash_signature(F.col("text")).alias("sig")).collect()
    }
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]
    # near-dup shares most minhashes
    shared = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert shared >= 8


def test_minhash_near_dups_finds_pairs(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_dups(docs, "id", "text", threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert all(a != 4 and b != 4 for a, b in pairs)


def test_minhash_near_dups_keeps_pair_at_exact_threshold(spark):
    """The verify keeps jaccard >= threshold, boundary included: one word
    of six edited leaves 3 shared of 5 distinct 3-shingles, J = 0.6."""
    df = spark.createDataFrame(
        [
            (1, "red green blue cyan magenta yellow"),
            (2, "red green blue cyan magenta black"),
        ],
        "id bigint, text string",
    )
    bands = {
        (r["id"], r["band_idx"]): r["band_hash"]
        for r in lsh_bands(df, "id", "text").collect()
    }
    shared = [b for (i, b), h in bands.items() if i == 1 and bands[(2, b)] == h]
    assert shared, "the pair must be a band candidate for the verify to see it"
    got = minhash_near_dups(df, "id", "text", threshold=0.6).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in got] == [(1, 2, 0.6)]


def test_minhash_banding_recall_on_planted_variants(spark):
    """Recall property of the r7 single-hash xor-mix minwise family
    (dedup.py module docstring): exact clones are caught with
    probability 1 under ANY hash family (identical shingle sets ⇒
    identical signatures ⇒ every band matches), and high-Jaccard
    variants (one word edited in 60 ⇒ J ≈ 0.90, band-match expectation
    1-(1-J⁴)⁴ ≈ 0.99) are caught at ≥ 0.8 recall. Deterministic: the
    family is fixed, so this is a regression pin, not a coin flip."""
    import random

    rng = random.Random(11)
    rows, expected = [], set()
    for d in range(30):
        ws = [f"w{d}x{rng.randrange(10000)}" for _ in range(60)]
        rows.append((3 * d, " ".join(ws)))
        rows.append((3 * d + 1, " ".join(ws)))  # exact clone
        var = list(ws)
        var[rng.randrange(60)] = "EDITED"
        rows.append((3 * d + 2, " ".join(var)))  # J ≈ 0.90 variant
        expected.add((3 * d, 3 * d + 1))
    df = spark.createDataFrame(rows, "id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dups(df, "id", "text", threshold=0.6).collect()
    }
    assert expected <= pairs  # every exact clone pair, no exceptions
    variant_pairs = {
        (3 * d, 3 * d + 2) for d in range(30)
    } | {(3 * d + 1, 3 * d + 2) for d in range(30)}
    recall = len(pairs & variant_pairs) / len(variant_pairs)
    assert recall >= 0.8, recall


def test_ngram_jaccard_bounds(spark, docs):
    j = docs.alias("a").crossJoin(docs.alias("b")).select(
        F.col("a.id").alias("ia"),
        F.col("b.id").alias("ib"),
        ngram_jaccard(F.col("a.text"), F.col("b.text")).alias("j"),
    )
    vals = {(r["ia"], r["ib"]): r["j"] for r in j.collect()}
    assert vals[(1, 2)] == 1.0
    assert vals[(1, 1)] == 1.0
    assert vals[(1, 4)] == 0.0
    assert 0.0 < vals[(1, 3)] < 1.0


def test_simhash_properties(spark, docs):
    sims = {
        r["id"]: r["s"] for r in docs.select("id", simhash64(F.col("text")).alias("s")).collect()
    }
    assert all(len(s) == 64 and set(s) <= {"0", "1"} for s in sims.values())
    assert sims[1] == sims[2]
    # near-dup: small hamming; different: large
    d13 = sum(a != b for a, b in zip(sims[1], sims[3]))
    d14 = sum(a != b for a, b in zip(sims[1], sims[4]))
    assert d13 < d14


def test_hamming_bitstr(spark):
    df = spark.createDataFrame([("1100", "1001")], "a string, b string")
    assert df.select(hamming_bitstr(F.col("a"), F.col("b"), 4).alias("h")).first()["h"] == 2


def test_simhash_near_dups_exact_pairs(spark, docs):
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dups(docs, "id", "text", max_hamming=3).collect()
    }
    assert got[(1, 2)] == 0


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        (r["node"]): r["cluster_id"]
        for r in connected_components(df).collect()
    }


def test_connected_components_two_clusters(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_chain(spark):
    # max-distance-from-min chain: needs several propagation rounds
    got = _cc(spark, [(i, i + 1) for i in range(1, 9)])
    assert got == {i: 1 for i in range(1, 10)}


def test_connected_components_bridged(spark):
    # two dense clusters bridged by one edge collapse into one component
    got = _cc(spark, [(1, 2), (1, 3), (2, 3), (7, 8), (7, 9), (3, 7)])
    assert set(got.values()) == {1}


def test_connected_components_nonconvergence_raises(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(1, 9)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1)


def test_keep_canonical_quality_then_id(spark):
    docs = spark.createDataFrame(
        [
            # cluster {1,2,3}: 2 has the longest/best text, so it wins
            (1, "short text"),
            (2, "the longer and better quality text with many common words "
                "that is clearly the one to keep for training data"),
            (3, "short text"),
            # cluster {10,11}: identical text — tie broken by smaller id
            (10, "same same"),
            (11, "same same"),
        ],
        "doc_id long, text string",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "node long, cluster_id long"
    )
    got = {r["cluster_id"]: r for r in keep_canonical(docs, clusters).collect()}
    assert got[1]["keep_id"] == 2 and got[1]["n_members"] == 3
    assert got[10]["keep_id"] == 10 and got[10]["n_members"] == 2


def test_connected_components_100_node_chain_converges_logarithmically(spark):
    """Pointer jumping makes a 100-node chain (diameter 99) converge
    within the default 15-round budget — pure min-label propagation
    would need ~99 rounds."""
    got = _cc(spark, [(i, i + 1) for i in range(1, 100)])
    assert got == {i: 1 for i in range(1, 101)}


def test_incremental_near_dups_probes_persisted_band_table(spark, tmp_path, docs):
    """The production cross-snapshot path: the old corpus's bands are
    built ONCE, written to parquet, and a later increment probes the
    READ-BACK table — a planted copy of an old doc must surface as a
    new_old pair, and two planted copies of each other as new_new,
    without recomputing any old-side signatures."""
    from ktpm___ocr_spark.operators.dedup import incremental_near_dups, lsh_bands

    old = docs  # ids 1..6
    band_path = str(tmp_path / "bands.parquet")
    lsh_bands(old, "id", "text").write.parquet(band_path)
    old_bands = spark.read.parquet(band_path)

    base = old.filter("id = 1").first()["text"]
    new = spark.createDataFrame(
        [
            (101, base),  # planted exact copy of old doc 1
            (102, base),  # second plant → new_new with 101
            (103, "unrelated increment content nothing like the corpus"),
        ],
        "id bigint, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): (r["pair_kind"], r["jaccard"])
        for r in incremental_near_dups(
            old_bands, old.select("id", "text"), new, id_col="id",
            text_col="text", threshold=0.6,
        ).collect()
    }
    assert got[(1, 101)] == ("new_old", 1.0)
    assert got[(2, 101)] == ("new_old", 1.0)  # old exact-dup of 1 too
    assert got[(101, 102)] == ("new_new", 1.0)
    # the near-dup of doc 1 (doc 3) collides in some band as well
    assert got[(3, 101)][0] == "new_old"
    # nothing pairs with the unrelated doc; no old_old pairs ever emitted
    assert all(101 in p or 102 in p for p in got)
    assert all(k in ("new_old", "new_new") for k, _ in got.values())


def test_boilerplate_line_filter_c4(spark):
    """Lines in >2 distinct docs are removed everywhere; survivors keep
    their original order; all-boilerplate docs stay as empty rows."""
    from ktpm___ocr_spark.operators.dedup import boilerplate_line_filter

    footer = "(c) example corp"
    rows = [
        (1, f"alpha one\n{footer}\nunique tail 1"),
        (2, f"{footer}\nbeta two"),
        (3, f"gamma three\n{footer}"),
        (4, footer),            # only the boilerplate line
        (5, None),              # NULL text → one empty line
        (6, ""),                # empty text → one empty line
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in boilerplate_line_filter(df, max_line_df=2).collect()
    }
    assert len(got) == 6  # every doc survives as a row
    assert got[1]["clean_text"] == "alpha one\nunique tail 1"
    assert (got[1]["n_kept"], got[1]["n_dropped"]) == (2, 1)
    assert got[2]["clean_text"] == "beta two"
    assert got[4]["clean_text"] == "" and got[4]["n_kept"] == 0
    # the two ''-line docs (5, 6) don't cross max_line_df=2 → kept
    assert got[5]["clean_text"] == "" and got[5]["n_kept"] == 1


def test_boilerplate_line_filter_blank_lines_kept_by_default(spark):
    """Blank paragraph separators recur in every real doc — the default
    min_line_len=1 keeps them out of the hot set (document structure
    survives); min_line_len=0 restores pure frequency semantics."""
    from ktpm___ocr_spark.operators.dedup import boilerplate_line_filter

    df = spark.createDataFrame(
        [(i, f"head {i}\n\ntail {i}") for i in range(3)],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in boilerplate_line_filter(df, max_line_df=2).collect()}
    assert got[0]["clean_text"] == "head 0\n\ntail 0"  # structure kept
    assert got[0]["n_dropped"] == 0
    raw = {
        r["doc_id"]: r
        for r in boilerplate_line_filter(df, max_line_df=2, min_line_len=0).collect()
    }
    assert raw[0]["clean_text"] == "head 0\ntail 0"
    assert raw[0]["n_dropped"] == 1


def test_duplicate_passages_window_counts(spark):
    """An 8-token passage shared by two docs is found with exact doc and
    occurrence counts; sub-window passages of the shared run also count;
    docs shorter than n produce nothing."""
    from ktpm___ocr_spark.operators.dedup import duplicate_passages

    shared = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [
            (1, f"{shared} alpha beta"),
            (2, f"prefix {shared}"),
            (3, "short doc"),
            (4, f"{shared} {shared}"),  # passage twice in one doc
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["passage"]: (r["n_docs"], r["n_occ"])
        for r in duplicate_passages(df, n=8, min_docs=2).collect()
    }
    assert got[shared] == (3, 4)  # docs 1, 2, 4 (twice in 4)
    assert all(nd >= 2 for nd, _ in got.values())


def test_excise_repeated_passages(spark):
    """Tokens covered by any corpus-repeated 8-gram are removed from
    every doc (all occurrences — deterministic under partitioning);
    clean docs and short docs pass through untouched."""
    from ktpm___ocr_spark.operators.dedup import excise_repeated_passages

    shared = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [
            (1, f"intro {shared} outro"),
            (2, f"{shared}"),
            (3, "totally unrelated words forming no repeats whatsoever"),
            (4, "tiny"),
            (5, ""),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in excise_repeated_passages(df, n=8, min_docs=2).collect()
    }
    assert len(got) == 5
    assert got[1]["clean_text"] == "intro outro"
    assert (got[1]["n_tokens"], got[1]["n_removed"]) == (10, 8)
    assert got[2]["clean_text"] == "" and got[2]["n_removed"] == 8
    assert got[3]["n_removed"] == 0
    assert got[3]["clean_text"].startswith("totally unrelated")
    assert got[4] == {"doc_id": 4, "clean_text": "tiny", "n_tokens": 1, "n_removed": 0}
    assert got[5]["n_tokens"] == 0 and got[5]["clean_text"] == ""


def test_excise_overlapping_windows_union_coverage(spark):
    """A 9-token shared run produces two overlapping repeated 8-windows;
    coverage is their union (all 9 tokens removed), not double-counted."""
    from ktpm___ocr_spark.operators.dedup import excise_repeated_passages

    nine = "a b c d e f g h i"
    df = spark.createDataFrame(
        [(1, f"x {nine} y"), (2, nine)], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r for r in excise_repeated_passages(df, n=8, min_docs=2).collect()}
    assert got[1]["clean_text"] == "x y"
    assert got[1]["n_removed"] == 9


def test_cdc_chunks_boundaries_are_content_defined(spark):
    """CDC invariant: a prefix insertion shifts chunk CONTENT only near
    the edit — chunks well past the edit are identical (they re-appear
    in both docs), which fixed-size blocking would destroy. Also pins
    the exact boundary rule against a Python recomputation."""
    from ktpm___ocr_spark.operators.dedup import (
        CDC_MOD,
        CDC_POW,
        CDC_WINDOW,
        cdc_repeated_chunks,
    )

    import random

    rng = random.Random(7)
    vocab = [
        "alpha", "beta", "gamma", "delta", "epsilon",
        "zeta", "theta", "iota", "kappa", "sigma",
    ]
    base = " ".join(rng.choice(vocab) for _ in range(400))
    edited = "INSERTED PREFIX " + base
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id int, text string"
    )

    def py_chunks(t):
        bounds = [
            p
            for p in range(CDC_WINDOW, len(t))
            if sum(
                ord(t[p - CDC_WINDOW + k]) * CDC_POW[k]
                for k in range(CDC_WINDOW)
            )
            % CDC_MOD
            == 0
            and t[p - CDC_WINDOW : p] != t[p - 1] * CDC_WINDOW
        ]
        cuts = [0] + bounds + [len(t)]
        return [t[a:b] for a, b in zip(cuts, cuts[1:]) if t[a:b]]

    c1, c2 = py_chunks(base), py_chunks(edited)
    shared = set(c1) & set(c2)
    assert shared, "content-defined boundaries must realign after an edit"

    out = cdc_repeated_chunks(df, min_docs=2, top_n=50).collect()
    assert out, "shared chunks must be reported"
    import hashlib

    expected = set()
    from collections import Counter

    occ = Counter(c1) + Counter(c2)
    for ch in shared:
        expected.add(
            (hashlib.sha256(ch.encode()).hexdigest()[:16], len(ch), 2, occ[ch])
        )
    got = {
        (r["chunk_hash"], r["chunk_len"], r["n_docs"], r["n_occ"])
        for r in out
    }
    # every engine-reported repeated chunk is a truly shared chunk
    assert got == set(sorted(expected, key=lambda x: (-x[2], -x[3], x[0]))[:50])


def test_cdc_chunks_degenerate_inputs(spark):
    """Empty, NULL, and sub-window docs produce no chunks but never
    error (ANSI mode: sequence() direction, substring bounds)."""
    from ktpm___ocr_spark.operators.dedup import cdc_repeated_chunks

    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "tiny"), (4, "exactly8"), (5, "exactly9!")],
        "doc_id int, text string",
    )
    assert cdc_repeated_chunks(df, min_docs=1, top_n=50).count() == 3


def test_cdc_chunks_low_entropy_runs_never_shatter(spark):
    """Regression: with a power-of-two modulus, 31^2 === 1 (mod 64) made
    every 8+ run of one character (dot leaders, '=====' dividers,
    space runs) hash to 0 at EVERY position — per-character chunk
    explosion and a skewed junk key. The prime modulus + constant-gram
    guard must yield ZERO boundaries inside any single-character run."""
    from ktpm___ocr_spark.operators.dedup import cdc_repeated_chunks

    runs = ["." * 200, "=" * 200, " " * 200, "z" * 200, chr(61) * 200]
    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(runs)], "doc_id int, text string"
    )
    out = cdc_repeated_chunks(df, min_docs=1, top_n=500).collect()
    # each run doc must survive as ONE whole-document chunk (len 200),
    # never shatter into tiny chunks
    assert all(r["chunk_len"] == 200 for r in out), out
    assert len(out) <= len(runs)


def test_excise_gap_slices_match_bruteforce_coverage_model(spark):
    """The r6 interval-merge + gap-slice rewrite must keep EXACTLY the
    tokens the per-position coverage model keeps, across adversarial
    start patterns: disjoint regions, overlapping/adjacent windows,
    full-doc coverage (the mega-clone shape that sent the old
    exists()-per-position spelling quadratic), head/tail coverage, and
    short docs below the window size."""
    from ktpm___ocr_spark.operators.dedup import excise_repeated_passages

    n = 4
    # texts built from a positional alphabet so every window is unique
    # unless planted; plant repeats by sharing word runs across docs
    base = [f"w{i}" for i in range(40)]
    rep = ["r0", "r1", "r2", "r3"]          # one shared window
    rep2 = ["s0", "s1", "s2", "s3", "s4"]   # overlapping shared windows
    docs = {
        0: base[:10] + rep + base[10:16],           # repeat mid-doc
        1: rep + base[16:26],                        # repeat at head
        2: base[26:36] + rep,                        # repeat at tail
        3: rep2 + base[36:40],                       # overlapping windows
        4: ["x"] + rep2 + ["y"],                     # overlap mid
        5: rep + rep,                                # dense coverage
        6: rep + rep,                                # its clone: FULL coverage
        7: ["a", "b"],                               # below window size
        8: [],                                       # empty
    }
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in docs.items()], "doc_id long, text string"
    )

    # brute-force model: per-position exists() over repeated starts
    from collections import Counter

    win_docs = Counter()
    per_doc_wins = {}
    for i, ws in docs.items():
        wins = {
            (p, " ".join(ws[p : p + n]))
            for p in range(len(ws) - n + 1)
        }
        per_doc_wins[i] = wins
        for w in {w for _, w in wins}:
            win_docs[w] += 1
    hot = {w for w, c in win_docs.items() if c >= 2}
    want = {}
    for i, ws in docs.items():
        starts = {p for p, w in per_doc_wins[i] if w in hot}
        keep = [
            t
            for p, t in enumerate(ws)
            if not any(s <= p < s + n for s in starts)
        ]
        want[i] = (" ".join(keep), len(ws), len(ws) - len(keep))

    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in excise_repeated_passages(df, n=n, min_docs=2).collect()
    }
    assert got == want, {k: (got[k], want[k]) for k in got if got[k] != want[k]}


def test_excise_randomized_seeded_batch_matches_model(spark):
    """Seeded randomized batch: 60 docs with random lengths, random
    planted shared runs (so hot windows appear at arbitrary overlap
    patterns), excised in ONE Spark call and compared to the
    per-position Python coverage model doc-for-doc."""
    import random

    from ktpm___ocr_spark.operators.dedup import excise_repeated_passages

    rng = random.Random(20260817)
    n = 5
    shared = [[f"s{g}_{i}" for i in range(rng.randint(n, 3 * n))]
              for g in range(6)]
    docs = {}
    for d in range(60):
        words = [f"u{d}_{i}" for i in range(rng.randint(0, 30))]
        for _ in range(rng.randint(0, 3)):
            run = shared[rng.randrange(len(shared))]
            pos = rng.randint(0, len(words))
            words = words[:pos] + run + words[pos:]
        docs[d] = words
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in docs.items()],
        "doc_id long, text string",
    )

    from collections import Counter

    win_docs = Counter()
    per_doc = {}
    for i, ws in docs.items():
        wins = {(p, " ".join(ws[p : p + n])) for p in range(len(ws) - n + 1)}
        per_doc[i] = wins
        for w in {w for _, w in wins}:
            win_docs[w] += 1
    hot = {w for w, c in win_docs.items() if c >= 2}
    want = {}
    for i, ws in docs.items():
        starts = {p for p, w in per_doc[i] if w in hot}
        keep = [t for p, t in enumerate(ws)
                if not any(s <= p < s + n for s in starts)]
        want[i] = (" ".join(keep), len(ws), len(ws) - len(keep))

    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in excise_repeated_passages(df, n=n, min_docs=2).collect()
    }
    assert got == want, {k: (got[k], want[k]) for k in got if got[k] != want[k]}
