"""Local replica of the driver's correctness gate: run every queries()
entry on Spark AND its oracle_sql() on DuckDB over the same parquet,
compare row count, column names, and order-insensitive values."""

from __future__ import annotations

import datetime
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm(v):
    # Numeric values carry a kind tag: the driver hashes pandas frames, so
    # an int64 Spark column vs a float64 oracle column is a red row even
    # when every value compares equal (r4: graph_pagerank, where DuckDB's
    # HUGEINT sum came back as float64).  Python `==` treats
    # 83357142 == 83357142.0 as equal — the tag restores the distinction.
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "NaN")
        return ("f", v)
    if isinstance(v, datetime.datetime):
        # Keep tzinfo: a tz-aware oracle value (DuckDB TIMESTAMPTZ) vs a
        # naive Spark TimestampType is EXACTLY the divergence the real
        # driver red-flags (r3: s7_history_items) — stripping it here made
        # the local gate blind to it.
        return v.isoformat()
    if isinstance(v, __import__("decimal").Decimal):
        # Distinct kind on purpose: a Decimal on one side vs a float on the
        # other renders as object-vs-float64 dtype at the driver.
        return ("dec", float(v))
    return v


def _rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_every_query_has_oracle_or_is_flagged():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracles without queries: {missing}"


def test_no_query_without_oracle():
    """Registration invariant (r3 verdict item 4): the driver does NOT
    accept rows-only entries — every queries() entry MUST ship an
    oracle_sql() twin, or stay pytest-only.  This makes the `no_oracle`
    red-row class structurally extinct."""
    missing = set(QUERIES) - set(ORACLES)
    assert not missing, f"queries without oracles (driver-red by construction): {missing}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    if name not in ORACLES:
        # rows-only check (non-SQL-expressible op)
        df = QUERIES[name](spark, SF_DIR)
        assert df.count() >= 0
        return
    sdf = QUERIES[name](spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    con = _duck(SF_DIR)
    res = con.execute(ORACLES[name])
    d_cols = [c[0] for c in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch {s_cols} vs {d_cols}"
    )
    _, s_ms = _rows_to_multiset(s_cols, s_rows)
    _, d_ms = _rows_to_multiset(d_cols, d_rows)
    assert len(s_ms) == len(d_ms), (
        f"{name}: row count {len(s_ms)} vs {len(d_ms)}"
    )
    mism = [i for i, (a, b) in enumerate(zip(s_ms, d_ms)) if a != b]
    assert not mism, (
        f"{name}: {len(mism)} rows differ; first at {mism[0]}:\n"
        f"spark={s_ms[mism[0]]}\nduck ={d_ms[mism[0]]}"
    )


def test_oracle_result_types_are_portable():
    """Type sweep (r4 verdict task 2): DuckDB result types that pandas
    renders as a different dtype family than the matching Spark column are
    banned from every oracle — HUGEINT/UHUGEINT (sum(BIGINT) escapes →
    float64), TIMESTAMP WITH TIME ZONE (session-TZ-dependent rendering),
    and DECIMAL (object dtype vs Spark double).  `DESCRIBE <query>` binds
    without executing, so this is a cheap whole-registry sweep."""
    con = _duck(SF_DIR)
    banned = ("HUGEINT", "UHUGEINT", "TIME ZONE", "DECIMAL", "TIMESTAMPTZ")
    bad = []
    for name, sql in sorted(ORACLES.items()):
        for row in con.execute(f"DESCRIBE {sql}").fetchall():
            col, typ = row[0], row[1]
            if any(b in typ.upper() for b in banned):
                bad.append((name, col, typ))
    assert not bad, f"non-portable oracle result types: {bad}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    n = df.count()
    assert n > 0
    assert df.columns == ["doc_id", "spans"]


def test_all_queries_run_at_smallest_sf(spark):
    """Every registry query must execute at sf0.001 (sparser data, empty
    partitions, zero-pair dedup graphs) — the driver smoke-checks entry()
    there, and a query that only works at sf0.01 is a latent crash."""
    sf = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.001"
    failures = []
    for name, fn in QUERIES.items():
        try:
            # a noop write evaluates every output column; count() would
            # let Catalyst prune projection-only bodies
            fn(spark, sf).write.format("noop").mode("overwrite").save()
        except Exception as ex:  # noqa: BLE001 — collecting all failures
            failures.append((name, str(ex)[:120]))
    assert not failures, failures


def test_driver_window_invariants():
    """The driver samples the first 50 queries() entries in insertion
    order; the rotation list must stay exactly 50 unique registered
    names, and the registry head must equal it."""
    win = entrymod._DRIVER_WINDOW
    assert len(win) == 50
    assert len(set(win)) == 50
    assert set(win) <= set(QUERIES)
    assert list(QUERIES)[:50] == win


@pytest.mark.parametrize(
    "text",
    [
        "\x0bab\x0b",
        "a\x0bb\x0cc",
        "\x0c\r\n x \x0b\n\n\ny\t",
        '<a href="/x">p\x0bq</a> r\x0cs',
    ],
    ids=["vt_edges", "vt_ff_inner", "mixed_runs", "anchor"],
)
def test_duckdb_whitespace_matches_oracle(text):
    """The DuckDB mirrors trim, count and split on textnorm._WS_CHARS,
    which includes \\x0B (RE2's \\s does not): each one equals the
    Python oracle on vertical-tab and form-feed text."""
    import re

    from ktpm___ocr_spark import oracle
    from ktpm___ocr_spark.textnorm import normalize_pdf_py

    lit = "||".join(f"chr({ord(c)})" for c in text)
    got = duckdb.connect().execute(
        "SELECT "
        + ", ".join(
            t.format(e=lit)
            for t in (
                entrymod._PDFNORM,
                entrymod._WC,
                entrymod._LWC,
                entrymod._WORDS,
            )
        )
    ).fetchone()
    words = [w for w in re.split(r"\s+", text.lower(), flags=re.ASCII) if w]
    assert got == (
        normalize_pdf_py(text),
        oracle.word_count(text),
        oracle.link_word_count(text),
        words,
    )
