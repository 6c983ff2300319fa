"""Unit tests for the iterative graph operators (ext/graph.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scala_data_pipeline_spark.ext.graph import pagerank_on_pairs


@pytest.fixture(scope="module")
def triangle_plus_tail(spark):
    """Graph: triangle {1,2,3} plus pendant 4-3; vertex 9 isolated
    (never appears in pairs, so excluded from the rank frame)."""
    return spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["doc_a", "doc_b"]
    )


def test_pagerank_mass_conserved(spark, triangle_plus_tail):
    out = pagerank_on_pairs(triangle_plus_tail).collect()
    assert {r.doc_id for r in out} == {1, 2, 3, 4}
    total = sum(r.rank for r in out)
    # Symmetric graph has no dangling mass: total rank stays 1 up to
    # the per-iteration 1e-12 rounding.
    assert total == pytest.approx(1.0, abs=1e-6)
    by_id = {r.doc_id: r for r in out}
    assert by_id[3].degree == 3
    # The degree-3 hub out-ranks the pendant vertex.
    assert by_id[3].rank > by_id[4].rank
    assert all(r.rank > 0 for r in out)


def test_pagerank_symmetric_vertices_tie(spark, triangle_plus_tail):
    out = {r.doc_id: r.rank for r in pagerank_on_pairs(triangle_plus_tail).collect()}
    # 1 and 2 are automorphic (both joined to exactly {1,2,3}-{self}):
    # identical rank to the last rounded digit.
    assert out[1] == out[2]


def test_pagerank_empty_graph(spark):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    out = pagerank_on_pairs(pairs)
    assert out.count() == 0
    assert [f.name for f in out.schema] == ["doc_id", "degree", "rank"]


def test_pagerank_two_cliques_rank_by_degree(spark):
    # K4 on {1..4} and an edge {10,11}: every K4 member out-ranks the
    # degree-1 pair members.
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    pairs = spark.createDataFrame(k4 + [(10, 11)], ["doc_a", "doc_b"])
    out = {r.doc_id: r.rank for r in pagerank_on_pairs(pairs).collect()}
    assert min(out[i] for i in range(1, 5)) > max(out[10], out[11])


def test_gopher_rules_flag_semantics(spark):
    rows = [
        # passes everything: >=50 words incl. required stopwords
        (1, "the and of to a " + " ".join(["word"] * 50)),
        # too short + no stopwords
        (2, "tiny doc"),
        # symbol-heavy: '#' per word
        (3, "the and " + " ".join(["#"] * 60)),
        # C4 violations: curly brace + lorem ipsum
        (4, "the and of " + " ".join(["x"] * 60) + " { Lorem Ipsum"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    from scala_data_pipeline_spark.ext.textstats import gopher_quality_rules

    out = {r.doc_id: r for r in gopher_quality_rules(docs).collect()}
    assert out[1].passes_gopher and out[1].passes_c4
    assert not out[2].flag_word_count and not out[2].flag_stopwords
    assert not out[3].flag_symbol_ratio and not out[3].passes_gopher
    assert out[4].has_curly_brace and out[4].has_lorem_ipsum
    assert not out[4].passes_c4
    # frac_alpha_words drops when words are pure symbols
    assert out[3].frac_alpha_words < 0.8


def test_triangle_counts_known_graphs(spark):
    """Exact counts on hand-checkable graphs: K4 (4 triangles, each
    vertex in 3), a star (0 triangles — degree alone can't tell it from
    a clique), and a hub+triangle mix exercising the degree-ordered
    orientation's apex uniqueness (no double counting)."""
    from scala_data_pipeline_spark.ext.graph import triangle_counts

    def run(edges):
        df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        return {
            r["doc_id"]: r["n_triangles"]
            for r in triangle_counts(df).collect()
        }

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert run(k4) == {0: 3, 1: 3, 2: 3, 3: 3}

    star = [(0, i) for i in range(1, 6)]
    assert run(star) == {}

    # Hub 0 connects to everyone; only (1,2) closes a triangle. The hub
    # has max degree, so both triangle edges orient TOWARD it — apex
    # must be the low-degree vertex 1, counted exactly once.
    mix = [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2)]
    assert run(mix) == {0: 1, 1: 1, 2: 1}


def test_kcore_tolerates_bidirectional_input(spark):
    """kcore_vertices must not double-count degrees when the caller
    passes an edge list already containing both orientations (the
    round-5 advisor finding): a triangle fed both ways is still only a
    2-core, not a 4-core."""
    from scala_data_pipeline_spark.ext.graph import kcore_vertices

    tri = [(1, 2), (2, 3), (1, 3)]
    both = tri + [(b, a) for a, b in tri]
    pairs = spark.createDataFrame(both, ["doc_a", "doc_b"])
    canon = spark.createDataFrame(tri, ["doc_a", "doc_b"])
    got = sorted(r.doc_id for r in kcore_vertices(pairs, k=2).collect())
    want = sorted(r.doc_id for r in kcore_vertices(canon, k=2).collect())
    assert got == want == [1, 2, 3]
    # a triangle has max degree 2: with double-counted degrees k=3
    # would wrongly keep the triangle
    assert kcore_vertices(pairs, k=3).count() == 0


def test_kcore_sql_ignores_self_loops(spark):
    """Round-6 advisor finding: kcore_vertices drops self-loops but the
    DuckDB twin's bi CTE used to keep (v,v) as one row, granting v a
    phantom degree. Vertex 4 here has one real edge plus a self-loop —
    exactly k with the loop counted, below k without — so the engines
    diverged on whether 4 (and 1's core_deg) survive."""
    import duckdb

    from scala_data_pipeline_spark.ext.graph import kcore_sql, kcore_vertices

    edges = [(1, 2), (2, 3), (1, 3), (4, 1), (4, 4)]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {
        (r.doc_id, r.core_deg) for r in kcore_vertices(pairs, k=2).collect()
    }
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE p(doc_a BIGINT, doc_b BIGINT)")
        con.executemany("INSERT INTO p VALUES (?, ?)", edges)
        want = {
            (r[0], r[1])
            for r in con.execute(
                kcore_sql("SELECT doc_a, doc_b FROM p", k=2)
            ).fetchall()
        }
    finally:
        con.close()
    assert got == want == {(1, 2), (2, 2), (3, 2)}


def test_kcore_degrees_on_lsh_graph(spark, sf_dir):
    """On the fixture's LSH pair graph every k-core vertex keeps at
    least k neighbours inside the core, and ``core_deg`` is exactly its
    degree in the subgraph the core induces."""
    from collections import Counter

    from scala_data_pipeline_spark.ext.dedup import lsh_candidate_pairs
    from scala_data_pipeline_spark.ext.graph import KCORE_K, kcore_vertices
    from scala_data_pipeline_spark.sources import load_table

    pairs = lsh_candidate_pairs(load_table(spark, sf_dir, "documents"))
    edges = {
        (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b))
        for r in pairs.collect()
        if r.doc_a != r.doc_b
    }
    core = {r.doc_id: r.core_deg for r in kcore_vertices(pairs).collect()}
    assert core
    deg = Counter(
        v for a, b in edges if a in core and b in core for v in (a, b)
    )
    assert core == dict(deg)
    assert min(core.values()) >= KCORE_K
