from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F

from powergraph_spark.io import (
    load_graph,
    load_saved_graph,
    read_edges,
    save_graph,
    synthetic_powerlaw,
    write_edges,
)

# the reference fixture trio (tests/data/{test_tsv,test_snap,test_adj})
TSV = "0\t5\n1\t0\n1\t5\n2\t0\n2\t5\n3\t0\n3\t5\n"
SNAP = "# Snap Comments \n# Blah Blah Blah\n" + TSV
ADJ = "0 1 5\n1 2 0 5\n2 2 0 5\n3 2 0 5\n"
EXPECTED = {(0, 5), (1, 0), (1, 5), (2, 0), (2, 5), (3, 0), (3, 5)}


@pytest.mark.parametrize(
    "fmt,content,sep",
    [("tsv", TSV, None), ("snap", SNAP, None), ("adj", ADJ, None),
     ("csv", TSV.replace("\t", ","), None)],
)
def test_parsers_ref_fixture(spark, tmp_path, fmt, content, sep):
    """Replicates /root/reference/tests/test_parsers.cpp:30-76 on the
    same 5-vertex/7-edge fixture in every text format."""
    p = tmp_path / f"g.{fmt}"
    p.write_text(content)
    g = load_graph(spark, str(p), fmt, num_partitions=4)
    assert g.num_vertices() == 5
    assert g.num_edges() == 7
    got = {(r["src"], r["dst"]) for r in g.edges.collect()}
    assert got == EXPECTED


def test_gzip_transparent(spark, tmp_path):
    """The reference auto-gunzips (distributed_graph.hpp:2196-2218);
    spark.read.text does too."""
    p = tmp_path / "g.tsv.gz"
    with gzip.open(p, "wt") as f:
        f.write(TSV)
    g = load_graph(spark, str(p), "tsv", num_partitions=4)
    assert g.num_edges() == 7


def test_adj_count_validation(spark, tmp_path):
    """builtin_parsers.hpp:140 — declared count must match."""
    p = tmp_path / "bad.adj"
    p.write_text("0 3 5 1\n")  # declares 3 neighbors, lists 2
    with pytest.raises(ValueError, match="neighbor count"):
        read_edges(spark, str(p), "adj").collect()


def test_writer_roundtrip(spark, tmp_path):
    edges = spark.createDataFrame(sorted(EXPECTED), "src long, dst long")
    for fmt in ("tsv", "csv", "parquet"):
        out = str(tmp_path / f"out_{fmt}")
        write_edges(edges, out, fmt)
        back = read_edges(spark, out, fmt)
        assert {(r["src"], r["dst"]) for r in back.collect()} == EXPECTED


def test_save_load_graph_roundtrip(spark, tmp_path):
    """distributed_graph_test.cpp:204-235 save/load equality — ours
    reloads at a different parallelism."""
    g = load_graph_fixture(spark, tmp_path)
    save_graph(g, str(tmp_path / "snap"))
    g2 = load_saved_graph(spark, str(tmp_path / "snap"), num_partitions=2)
    a = sorted((r["src"], r["dst"]) for r in g.edges.collect())
    b = sorted((r["src"], r["dst"]) for r in g2.edges.collect())
    assert a == b
    assert g2.num_vertices() == g.num_vertices()
    # the saved pids (from 4 partitions) are recomputed for 2
    placed = g2.edges.select(
        "pid", F.spark_partition_id().alias("part")
    ).collect()
    assert all(0 <= r["pid"] < 2 for r in placed), placed
    assert all(r["pid"] == r["part"] for r in placed), placed


def load_graph_fixture(spark, tmp_path):
    p = tmp_path / "g.tsv"
    p.write_text(TSV)
    return load_graph(spark, str(p), "tsv", num_partitions=4)


def test_synthetic_powerlaw_deterministic_and_skewed(spark):
    g1 = synthetic_powerlaw(spark, 500, num_partitions=2)
    g2 = synthetic_powerlaw(spark, 500, num_partitions=8)
    e1 = sorted((r["src"], r["dst"]) for r in g1.edges.collect())
    e2 = sorted((r["src"], r["dst"]) for r in g2.edges.collect())
    assert e1 == e2  # parallelism-invariant
    # no self-loops, no dups
    assert all(s != d for s, d in e1)
    assert len(e1) == len(set(e1))
    # power-law-ish out-degree: most vertices degree 1, some much higher
    degs = {}
    for s, _ in e1:
        degs[s] = degs.get(s, 0) + 1
    vals = sorted(degs.values())
    assert vals[len(vals) // 2] <= 2  # median small
    assert vals[-1] >= 5  # heavy tail exists


def test_adj_preserves_isolated_source(spark, tmp_path):
    """'src 0' declares a zero-neighbor vertex; the reference's
    adj_parser still adds it (builtin_parsers.hpp:119-142) — it must
    not vanish from the vertex table."""
    p = tmp_path / "g.adj"
    p.write_text("1 2 2 3\n9 0\n2 1 3\n")
    g = load_graph(spark, str(p), fmt="adj", num_partitions=2)
    verts = {r["id"] for r in g.vertices.collect()}
    assert verts == {1, 2, 3, 9}
    assert g.edges.count() == 3
