from __future__ import annotations

import math

import pytest
from oracles import cc_oracle, pagerank_oracle
from pyspark.sql import functions as F

from powergraph_spark.algorithms import connected_components, pagerank
from powergraph_spark.webtext import (
    audit_collisions,
    expected_edges,
    extract_pages,
    generate_pages,
    pages_to_graph,
)
from powergraph_spark.webtext.pages import url_of
from powergraph_spark.webtext.reference_parser import (
    extract_links,
    extract_text,
    parse_page,
)

N_PAGES = 400
N_SITES = 16


def _pages(spark):
    return generate_pages(spark, N_PAGES, n_sites=N_SITES, seed=42).persist()


def test_generator_deterministic_across_parallelism(spark):
    """Same table at any partitioning (two-cluster-size prerequisite)."""
    a = generate_pages(spark, 100, n_sites=8, partitions=1).orderBy("url").collect()
    b = generate_pages(spark, 100, n_sites=8, partitions=7).orderBy("url").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_vectorized_text_byte_identical(spark):
    """THE input_hint gate: engine (JVM regex pipeline) text ==
    pinned row-wise reference parser output, byte-for-byte per url."""
    pages = _pages(spark)
    got = extract_pages(pages).select("url", "text")
    exp = pages.select("url", F.col("text").alias("expected"))
    diff = got.join(exp, "url").filter(F.col("text") != F.col("expected"))
    assert diff.count() == 0
    # and against a fresh python pass over the html (not just the
    # generation-time column)
    for r in pages.select("url", "html", "text").limit(50).collect():
        assert extract_text(bytes(r["html"])) == r["text"]


def test_vectorized_links_match_reference_parser(spark):
    pages = _pages(spark)
    rows = extract_pages(pages).select("url", "links").collect()
    html_by_url = {
        r["url"]: bytes(r["html"]) for r in pages.select("url", "html").collect()
    }
    for r in rows:
        assert list(r["links"]) == extract_links(html_by_url[r["url"]]), r["url"]


def test_link_graph_matches_expected_edges(spark):
    """The ingested edge set equals the generator's driver-side oracle
    edge list (page-index space mapped through url hashing)."""
    pages = _pages(spark)
    g = pages_to_graph(pages, num_partitions=8)
    assert audit_collisions(g.vertices) == 0
    url2id = {r["url"]: r["id"] for r in g.vertices.collect()}
    exp = {
        (url2id[url_of(s, N_SITES)], url2id[url_of(d, N_SITES)])
        for s, d in expected_edges(N_PAGES, seed=42)
    }
    got = {(r["src"], r["dst"]) for r in g.edges.select("src", "dst").collect()}
    assert got == exp


def test_pages_to_graph_salt_cap_deprecated(spark):
    """salt_cap is accepted for old callers, warns, and changes nothing:
    same edges, same pid placement as a call without it."""
    pages = _pages(spark)
    with pytest.warns(DeprecationWarning, match=r"ignored.*src-hashed"):
        salted = pages_to_graph(pages, num_partitions=4, salt_cap=64)
    plain = pages_to_graph(pages, num_partitions=4)

    def placed(g):
        return sorted(
            (r["src"], r["dst"], r["pid"])
            for r in g.edges.select("src", "dst", "pid").collect()
        )

    assert placed(salted) == placed(plain)
    assert len(placed(plain)) > 0
    salted.unpersist()
    plain.unpersist()


def test_pagerank_on_web_graph_matches_oracle(spark):
    """End-to-end: pages -> extract -> ingest -> PageRank vs numpy/dict
    oracle on the expected edge list (allclose 1e-6)."""
    pages = _pages(spark)
    g = pages_to_graph(pages, num_partitions=8)
    res = pagerank(g, tol=1e-9, max_iterations=300)
    got = {r["id"]: r["rank"] for r in res.state.collect()}

    url2id = {r["url"]: r["id"] for r in g.vertices.collect()}
    eid = lambda i: url2id[url_of(i, N_SITES)]  # noqa: E731
    edges = [(eid(s), eid(d)) for s, d in expected_edges(N_PAGES, seed=42)]
    verts = {eid(i) for i in range(N_PAGES)}
    exp = pagerank_oracle(edges, verts, tol=1e-9, max_iter=300)
    assert set(got) == verts
    for v in verts:
        assert math.isclose(got[v], exp[v], abs_tol=1e-6)


def test_cc_on_web_graph_matches_oracle(spark):
    pages = _pages(spark)
    g = pages_to_graph(pages, num_partitions=8)
    res = connected_components(g)
    got = {r["id"]: r["component"] for r in res.state.collect()}
    url2id = {r["url"]: r["id"] for r in g.vertices.collect()}
    eid = lambda i: url2id[url_of(i, N_SITES)]  # noqa: E731
    edges = [(eid(s), eid(d)) for s, d in expected_edges(N_PAGES, seed=42)]
    verts = {eid(i) for i in range(N_PAGES)}
    assert got == cc_oracle(edges, verts)


def test_reference_parser_edge_cases():
    html = (
        b'<html><head><script>if (1<2) { "x" }</script>'
        b"<style>a { color: red; }</style></head>"
        b'<body>A &amp;lt; B\t\tC\n<a href="http://x/1">one</a>'
        b'<p>&quot;q&#39;s&quot; &gt;</p>  trailing  </body></html>'
    )
    text, links = parse_page(html)
    assert text == "A &lt; B C one \"q's\" > trailing"
    assert links == ["http://x/1"]


def test_anchor_pairs_matches_python_replica(spark):
    """anchor_pairs over the generated pages table == a row-wise
    python replica of the same pinned regex/cleanup chain."""
    import re

    from powergraph_spark.webtext import anchor_pairs

    pages = generate_pages(spark, 80, n_sites=8, seed=42)
    got = sorted(
        (r["src_url"], r["dst_url"], r["anchor"])
        for r in anchor_pairs(pages).collect()
    )

    el_re = re.compile(
        r'<a\s[^>]*?href="[^"]*"[^>]*>.*?</a>', re.DOTALL | re.IGNORECASE
    )
    href_re = re.compile(r'href="([^"]*)"', re.IGNORECASE)
    open_re = re.compile(r"^<a[^>]*>", re.DOTALL | re.IGNORECASE)
    close_re = re.compile(r"</a>$", re.DOTALL | re.IGNORECASE)
    script_re = re.compile(
        r"<script\b[^>]*>.*?</script>", re.DOTALL | re.IGNORECASE
    )
    style_re = re.compile(
        r"<style\b[^>]*>.*?</style>", re.DOTALL | re.IGNORECASE
    )
    want = []
    for r in pages.select("url", "html").collect():
        s = r["html"].decode("utf-8")
        s = script_re.sub(" ", s)
        s = style_re.sub(" ", s)
        for el in el_re.findall(s):
            href = href_re.search(el).group(1)
            inner = close_re.sub("", open_re.sub("", el))
            inner = re.sub(r"<[^>]*>", " ", inner)
            for ent, ch in [("&lt;", "<"), ("&gt;", ">"),
                            ("&quot;", '"'), ("&#39;", "'"),
                            ("&amp;", "&")]:
                inner = inner.replace(ent, ch)
            inner = re.sub(r"[ \t\n\r\f]+", " ", inner).strip()
            want.append((r["url"], href, inner))
    assert got == sorted(want)
    assert len(got) > 0


def test_anchor_texts_aggregates_per_target(spark):
    from powergraph_spark.webtext import anchor_pairs, anchor_texts

    pages = generate_pages(spark, 60, n_sites=4, seed=7)
    pairs = anchor_pairs(pages)
    agg = {r["dst_url"]: r for r in anchor_texts(pairs).collect()}
    n_pairs = pairs.count()
    assert sum(r["n_links"] for r in agg.values()) == n_pairs
    for r in agg.values():
        assert r["anchors"] == sorted(set(r["anchors"]))
        assert len(r["anchors"]) <= 32
