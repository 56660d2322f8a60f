"""End-to-end extraction: every Spark path == pure-Python oracle.

The correctness gate from BASELINE.json's input_hint: exact span-sequence
equality ``(kind, text, media_ref, order)`` per doc_id.
"""

from __future__ import annotations

import pytest

from ktpm___ocr_spark.corpus import generate_rows, generate_df
from ktpm___ocr_spark.operators.arrow_native import extract_arrow_native
from ktpm___ocr_spark.oracle import extract_corpus
from ktpm___ocr_spark.pipeline import extract_narrow

N_DOCS = 150
SEED = 42

PATHS = {
    "narrow": extract_narrow,
    "arrow_native": extract_arrow_native,
}


def _collect(df) -> dict[str, list[tuple]]:
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def corpus_rows():
    return generate_rows(N_DOCS, SEED)


@pytest.fixture(scope="module")
def corpus_df(spark, corpus_rows):
    df = generate_df(spark, N_DOCS, SEED, partitions=4)
    df.cache().count()
    return df


@pytest.mark.parametrize("path", list(PATHS))
@pytest.mark.parametrize("variant", ["pdf", "txt"])
def test_extract_matches_oracle(spark, corpus_rows, corpus_df, path, variant):
    want = extract_corpus(corpus_rows, variant=variant, boilerplate="drop")
    got = _collect(PATHS[path](corpus_df, variant=variant, boilerplate="drop"))
    assert set(got) == set(want)
    mismatches = [d for d in want if got[d] != want[d]]
    assert not mismatches, (
        f"{len(mismatches)} docs mismatch; first: {mismatches[0]}\n"
        f"want={want[mismatches[0]][:5]}\ngot={got[mismatches[0]][:5]}"
        if mismatches
        else ""
    )


@pytest.mark.parametrize("path", list(PATHS))
def test_relabel_mode(spark, corpus_rows, corpus_df, path):
    want = extract_corpus(corpus_rows, variant="pdf", boilerplate="relabel")
    got = _collect(PATHS[path](corpus_df, variant="pdf", boilerplate="relabel"))
    assert got == want


def test_narrow_plan_has_no_exchange(spark):
    """The JVM spec plan is shuffle-free, like the production path
    (pinned by tests/test_plans.py)."""
    df = generate_df(spark, 20, SEED)  # no repartition — plain scan
    plan = extract_narrow(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_paths_agree_on_empty_and_degenerate(spark):
    rows = [
        {"doc_id": "empty", "spans": []},
        {
            "doc_id": "one_media",
            "spans": [
                {"kind": "media", "text": None, "media_ref": "m:1", "offset": 7}
            ],
        },
        {
            "doc_id": "all_boiler",
            "spans": [
                {
                    "kind": "text",
                    "text": '<a href="/x">x</a>',
                    "media_ref": None,
                    "offset": 1,
                },
                {
                    "kind": "text",
                    "text": '<a href="/y">y</a> <a href="/z">z</a>',
                    "media_ref": None,
                    "offset": 2,
                },
            ],
        },
        # \x0B and \x0C are whitespace to Java's \s and the oracle: trimmed
        # at both ends and word separators inside (16 + 1 words: main text)
        {
            "doc_id": "vertical_tab",
            "spans": [
                {
                    "kind": "text",
                    "text": "\x0b\x0c" + "\x0b".join(["w"] * 16) + "\x0ctail\x0b",
                    "media_ref": None,
                    "offset": 1,
                },
            ],
        },
        # tied offsets keep their input order in the sort and in the
        # neighbour features of the block-fusion classifier
        {
            "doc_id": "tied_offsets",
            "spans": [
                {"kind": "text", "text": "z " * 20, "media_ref": None, "offset": 5},
                {"kind": "text", "text": "a " * 20, "media_ref": None, "offset": 5},
                {"kind": "media", "text": None, "media_ref": "m:5", "offset": 5},
                {"kind": "text", "text": "short", "media_ref": None, "offset": 5},
            ],
        },
    ]
    from ktpm___ocr_spark.corpus import DOCUMENTS_SCHEMA

    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    want = extract_corpus(rows)
    for name, fn in PATHS.items():
        assert _collect(fn(df)) == want, name
