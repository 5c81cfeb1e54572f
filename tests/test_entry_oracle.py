"""Local replica of the driver's correctness gate: run every
__spark_entry__ query against its DuckDB oracle on the same parquet
tables and compare row count, column names, and sorted values."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _duck(sf_dir: str):
    con = duckdb.connect()
    # DuckDB runs inside the pytest process and by default may take 80%
    # of RAM. The ktruss oracle's unrolled triangle joins grew it to
    # ~9 GB, and the kernel's OOM killer ended the whole test run. Under
    # a 2 GB cap the same query returned the same rows in ~9 s at 1.4 GB
    # peak RSS; 3 GB leaves headroom for the other oracles.
    con.execute("SET memory_limit = '3GB'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in sorted(cols):
            v = r[c] if not isinstance(r, tuple) else r[cols.index(c)]
            if isinstance(v, float):
                v = round(v, 5)
                if v == -0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, name):
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    qfn = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        df = qfn(spark, sf_dir)
        assert df.count() >= 0  # rows-only check
        return

    sdf = qfn(spark, sf_dir)
    scols = sdf.columns
    srows = [r.asDict() for r in sdf.collect()]

    con = _duck(sf_dir)
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = [dict(zip(dcols, row)) for row in res.fetchall()]

    assert sorted(scols) == sorted(dcols), f"{name}: schema {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: rows {len(srows)} vs {len(drows)}"
    a = _norm(srows, scols)
    b = _norm(drows, dcols)
    mism = [(x, y) for x, y in zip(a, b) if x != y][:5]
    assert a == b, f"{name}: first mismatches {mism}"


def test_oracle_keys_subset_of_queries():
    """Every oracle_sql key must name a registered query (a stale
    oracle entry would silently never be checked by the driver)."""
    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    assert o <= q, o - q
    # non-SQL-expressible queries get the weaker rows-only check; keep
    # the set deliberate and small. image_dups decodes binary netpbm
    # images through an Arrow-batched Pandas UDF (aHash), which DuckDB
    # cannot replay; its correctness oracle is the in-repo pytest
    # (tests/test_multimodal_dedup.py) against a pure-python decoder.
    # admm2 runs the AD3 warm-started active-set QP per factor
    # (data-dependent control flow, rank-one KKT updates) — no SQL
    # twin exists; its oracles are the exhaustive-KKT and replica
    # pytests (tests/test_admm.py).
    assert q - o == {"image_dups", "admm2"}, q - o


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"id", "rank"}


def _isclose_rows(a, b):
    return all(
        math.isclose(x, y, abs_tol=1e-9) if isinstance(x, float) else x == y
        for x, y in zip(a, b)
    )
