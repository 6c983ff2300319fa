"""Edge-input behavior for the round-3 dedup/text operators: empty and
whitespace-only documents, single tokens, and fully-duplicate corpora —
shapes the oracle parquet corpus doesn't contain, exercised under
Spark 4's default ANSI mode (no DIVIDE_BY_ZERO, no silent drops)."""

from __future__ import annotations

import pytest

from scala_data_pipeline_spark.ext.dedup import (
    hot_ngram_flags,
    segment_dedup,
)
from scala_data_pipeline_spark.ext.textstats import bpe_pair_counts


@pytest.fixture(scope="module")
def edge_docs(spark):
    rows = [
        (0, ""),  # empty
        (1, " "),  # whitespace-only
        (2, "solo"),  # single token (< one segment)
        (3, "a b c d e f g h i j k l m n o p"),  # two full segments
        (4, "a b c d e f g h i j k l m n o p"),  # exact duplicate of 3
        (5, "a b c d e f g h zz yy xx ww vv uu tt ss"),  # shares seg 1 of 3
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_segment_dedup_edges(spark, edge_docs):
    got = {
        r["doc_id"]: r for r in segment_dedup(edge_docs).collect()
    }
    # Every document survives (no silent drops), even degenerate ones.
    assert set(got) == {0, 1, 2, 3, 4, 5}
    for r in got.values():
        assert 0 <= r["n_kept"] <= r["n_segments"]
    # Doc 3 keeps both segments; its exact duplicate keeps none.
    assert got[3]["n_kept"] == 2
    assert got[3]["dedup_text"] == "a b c d e f g h i j k l m n o p"
    assert got[4]["n_kept"] == 0
    assert got[4]["dedup_text"] == ""
    # Doc 5 loses its first segment (shared with doc 3) and keeps the
    # second.
    assert got[5]["n_kept"] == 1
    assert got[5]["dedup_text"] == "zz yy xx ww vv uu tt ss"
    # Degenerate docs each keep their single fallback segment ("", " ",
    # "solo" are three distinct segments — nothing vanishes).
    for d in (0, 1, 2):
        assert got[d]["n_segments"] == 1 and got[d]["n_kept"] == 1


def test_hot_ngram_flags_edges(spark, edge_docs):
    # Must not raise under ANSI (empty doc → whole-text fallback
    # shingle; divisions are try_divide-guarded).
    got = {r["doc_id"]: r for r in hot_ngram_flags(edge_docs).collect()}
    assert set(got) == {0, 1, 2, 3, 4, 5}
    for r in got.values():
        assert r["n_shingles"] >= 1
        assert 0 <= r["n_hot"] <= r["n_shingles"]
        assert r["hot_frac"] is not None


def test_hot_ngram_flags_boiler_corpus(spark):
    # 30 identical docs: every shingle has df=30 > hot_df → all flagged.
    rows = [(i, "error page not found please try again later") for i in range(30)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = hot_ngram_flags(docs, hot_df=4, flag_frac=0.2).collect()
    assert len(out) == 30
    assert all(r["flagged"] for r in out)
    assert all(r["hot_frac"] == 1.0 for r in out)


def test_bpe_pair_counts_edges(spark):
    docs = spark.createDataFrame(
        [(0, ""), (1, "x"), (2, "ab ab ba"), (3, "aaa")],
        ["doc_id", "text"],
    )
    got = {r["pair"]: r for r in bpe_pair_counts(docs, top_k=10).collect()}
    # 'ab' appears twice (token 'ab' × corpus count 2); 'aa' twice
    # (two adjacent pairs inside one 'aaa'); 'ba' once. Single-char and
    # empty tokens contribute nothing.
    assert got["ab"]["n_occurrences"] == 2
    assert got["aa"]["n_occurrences"] == 2
    assert got["ba"]["n_occurrences"] == 1
    # Ranks are dense, deterministic, tie-broken by pair string.
    ranks = sorted(r["rank"] for r in got.values())
    assert ranks == list(range(1, len(got) + 1))


def test_incremental_lsh_overlapping_ids_no_self_pairs(spark):
    # ADVICE r3: a doc_id present in BOTH old and new (re-delivered
    # batch) must not surface as a keep=true self-pair.
    from scala_data_pipeline_spark.ext.dedup import lsh_incremental_pairs

    docs = spark.createDataFrame(
        [
            ("d1", "the quick brown fox jumps over the lazy dog again"),
            ("d2", "the quick brown fox jumps over the lazy dog again"),
        ],
        ["doc_id", "text"],
    )
    # same doc in both sides: d1 old+new; d2 only new
    pairs = lsh_incremental_pairs(
        docs.filter("doc_id = 'd1'"), docs
    ).collect()
    assert all(r["doc_a"] != r["doc_b"] for r in pairs)
    # the genuine near-dup pair is still surfaced
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {("d1", "d2")}


def test_duplicated_spans_semantics(spark):
    """Hand-built corpus with a known shared span: interval merging,
    coverage arithmetic, and the short-document / unique-document
    exclusions, all at k=4."""
    from scala_data_pipeline_spark.ext.dedup import duplicated_spans

    shared = "w1 w2 w3 w4 w5 w6"  # 6 tokens shared verbatim by docs 0+1
    rows = [
        (0, shared + " a1 a2 a3 a4"),
        (1, "b1 b2 " + shared),
        (2, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),  # unique content
        (3, "w1 w2 w3"),  # shorter than k — no spans at all
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in duplicated_spans(docs, k=4).collect()}

    # Only the two sharing docs appear.
    assert set(got) == {0, 1}
    for doc_id in (0, 1):
        r = got[doc_id]
        # 6 shared tokens at k=4 → 3 overlapping duplicated positions,
        # merging into ONE island covering exactly the 6 shared tokens.
        assert r["n_dup_positions"] == 3
        assert r["n_spans"] == 1
        assert r["dup_tokens"] == 6
        assert r["n_tokens"] == (10 if doc_id == 0 else 8)
    assert got[0]["dup_fraction"] == 0.6
    assert got[1]["dup_fraction"] == 0.75


def test_excise_duplicated_spans_semantics(spark):
    """Keeper election and reassembly: the corpus-wide first occurrence
    keeps its copy, later occurrences are cut, untouched and
    sub-k-length docs come back verbatim — and a second pass over the
    excised corpus finds nothing left to cut (the dedup is a
    fixed point on this corpus)."""
    from scala_data_pipeline_spark.ext.dedup import excise_duplicated_spans

    shared = "w1 w2 w3 w4 w5 w6"
    rows = [
        (0, shared + " a1 a2 a3 a4"),
        (1, "b1 b2 " + shared),
        (2, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
        (3, "w1 w2 w3"),  # shorter than k
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in excise_duplicated_spans(docs, k=4).collect()}

    assert set(got) == {0, 1, 2, 3}
    assert got[0]["dedup_text"] == shared + " a1 a2 a3 a4"  # keeper
    assert got[0]["n_removed"] == 0
    assert got[1]["dedup_text"] == "b1 b2"  # loser: span cut
    assert got[1]["n_removed"] == 6
    assert got[2]["n_removed"] == 0  # unique content untouched
    assert got[3]["dedup_text"] == "w1 w2 w3"  # < k tokens, untouched

    second = spark.createDataFrame(
        [(d, r["dedup_text"]) for d, r in got.items()], ["doc_id", "text"]
    )
    again = excise_duplicated_spans(second, k=4).collect()
    assert all(r["n_removed"] == 0 for r in again)


def test_excise_intervals_consistent_with_full_text(spark, sf_dir):
    """The scale-path intervals form must agree with the full-text
    form on WHICH docs are cut and by HOW MUCH (n_tokens, n_removed) —
    its n_removed is interval arithmetic (disjoint islands), the
    full-text form's is an actual token filter."""
    from scala_data_pipeline_spark.ext.dedup import (
        excise_duplicated_spans,
        excise_duplicated_spans_intervals,
    )
    from scala_data_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    full = {
        r.doc_id: (r.n_tokens, r.n_removed)
        for r in excise_duplicated_spans(docs).filter("n_removed > 0").collect()
    }
    ivs = excise_duplicated_spans_intervals(docs).collect()
    got = {r.doc_id: (r.n_tokens, r.n_removed) for r in ivs}
    assert got == full
    for r in ivs:
        # cuts is a sorted, disjoint lo:hi list whose widths sum to
        # n_removed
        parts = [tuple(map(int, p.split(":"))) for p in r.cuts.split(",")]
        assert parts == sorted(parts)
        assert all(b[0] > a[1] for a, b in zip(parts, parts[1:]))
        assert sum(hi - lo + 1 for lo, hi in parts) == r.n_removed
        assert r.n_intervals == len(parts)


def test_duplicated_spans_min_docs_threshold(spark):
    """min_docs>2 path (round-13 rewrite: dense_rank + frame-max
    distinct-doc count instead of collect_set over the window): a span
    shared by 3 docs passes min_docs=3, one shared by only 2 does not —
    in BOTH the report and the excise action."""
    from scala_data_pipeline_spark.ext.dedup import (
        duplicated_spans,
        excise_duplicated_spans,
    )

    tri = "t1 t2 t3 t4 t5"  # in docs 0, 1, 2
    duo = "u1 u2 u3 u4 u5"  # in docs 3, 4 only
    rows = [
        (0, tri + " a1 a2"),
        (1, "b1 " + tri),
        (2, tri + " c1"),
        (3, duo + " d1"),
        (4, "e1 " + duo),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    rep = {r["doc_id"]: r for r in duplicated_spans(docs, k=4, min_docs=3).collect()}
    assert set(rep) == {0, 1, 2}  # the duo pair is below threshold
    for doc_id in (0, 1, 2):
        assert rep[doc_id]["dup_tokens"] == 5

    cut = {
        r["doc_id"]: r
        for r in excise_duplicated_spans(docs, k=4, min_docs=3).collect()
    }
    assert set(cut) == {0, 1, 2, 3, 4}
    assert cut[0]["n_removed"] == 0  # corpus-wide first occurrence keeps
    assert cut[1]["dedup_text"] == "b1"
    assert cut[2]["dedup_text"] == "c1"
    # the 2-doc span is untouched at min_docs=3
    assert cut[3]["n_removed"] == 0 and cut[4]["n_removed"] == 0


def test_containment_catches_subset_jaccard_misses(spark):
    """A short document quoted wholesale inside a much longer one:
    symmetric Jaccard ~= |A|/|B| stays tiny, but containment_a ~= 1 -
    the asymmetric measure is the one that sees quote/subset
    duplication."""
    from scala_data_pipeline_spark.ext.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = " ".join(f"q{i}" for i in range(12))
    filler = " ".join(f"f{i}" for i in range(120))
    docs = spark.createDataFrame(
        [(1, quote, "en", "s"), (2, filler + " " + quote, "en", "s")],
        ["doc_id", "text", "lang", "source"],
    )
    jac = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == []  # symmetric measure misses the subset pair
    cont = ngram_containment_pairs(docs, threshold=0.9).collect()
    assert len(cont) == 1
    r = cont[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["containment_a"] >= 0.9  # doc 1 lives inside doc 2
    assert r["containment_b"] < 0.2


def _py_levenshtein(a: str, b: str) -> int:
    # Textbook DP over CHARACTERS (the semantics Spark implements).
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[len(b)]


def test_edit_distance_verify_unicode(spark):
    """The operator counts CHARACTER edits on any unicode text (the
    ascii_only flag exists only for the byte-based DuckDB oracle);
    check the distances and the bounded-DP early-out against a pure
    Python reference."""
    from scala_data_pipeline_spark.ext.dedup import edit_distance_verify

    texts = {
        1: "中文文本质量很好 机器学习训练数据",
        2: "中文文本质量很高 机器学习训练数据",  # 1 char edit vs doc 1
        3: "héllo wörld des données d'entraînement",
        4: "hello world des donnees d'entrainement",  # accent edits vs 3
        5: "completely different content altogether",
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], ["doc_id", "text"]
    )
    cand = spark.createDataFrame(
        [(1, 2), (3, 4), (1, 5)], ["doc_a", "doc_b"]
    )
    got = {
        (r["doc_a"], r["doc_b"]): r
        for r in edit_distance_verify(docs, cand, max_norm=0.5).collect()
    }
    # (1,5): CJK vs latin — distance ~ max length, over max_norm, and
    # far enough past the bounded-DP threshold to exercise the -1 path.
    assert (1, 5) not in got
    for pair in [(1, 2), (3, 4)]:
        a, b = texts[pair[0]], texts[pair[1]]
        want = _py_levenshtein(a, b)
        assert got[pair]["edit_dist"] == want  # character, not byte, edits
        assert got[pair]["norm_edit"] == round(
            want / max(len(a), len(b)), 6
        )
    # ascii_only drops every non-ASCII pair (the oracle scope).
    assert (
        edit_distance_verify(docs, cand, max_norm=0.5, ascii_only=True).count()
        == 0
    )


def test_minhash_lsh_sql_replays_bucket_cap(spark):
    """Round-6 advisor finding: minhash_lsh_sql used to emit the full
    per-bucket clique, so every oracle composing it silently depended
    on no LSH bucket exceeding the Spark-side cap. A 40-doc boilerplate
    flood with cap=16 must yield the same keeper STAR on both engines."""
    import duckdb
    import pandas as pd

    from scala_data_pipeline_spark.ext.dedup import (
        lsh_candidate_pairs,
        minhash_lsh_sql,
    )

    text = "error page not found please try again later soon"
    rows = [(i, text) for i in range(40)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(docs, bucket_cap=16).collect()
    }
    assert got == {(0, i) for i in range(1, 40)}  # star, not 780-pair clique
    con = duckdb.connect()
    try:
        con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
        want = {
            tuple(r)
            for r in con.execute(minhash_lsh_sql(bucket_cap=16)).fetchall()
        }
    finally:
        con.close()
    assert got == want


def test_contrastive_triplets_parity_on_edge_docs(spark):
    """Round-6 advisor finding: the SQL twin's inner sizes join dropped
    pairs involving degenerate docs. Feed explicit candidates over
    empty / single-token / duplicate / disjoint docs and assert exact
    Spark-vs-DuckDB row parity."""
    import duckdb
    import pandas as pd

    from scala_data_pipeline_spark.ext.dedup import (
        contrastive_triplets,
        contrastive_triplets_sql,
    )

    doc_rows = [
        (0, ""),
        (1, "solo"),
        (2, "quick brown fox jumps over the lazy dog near the river"),
        (3, "quick brown fox jumps over the lazy dog near the river"),
        (4, "entirely different words compose this document body here now"),
    ]
    cand_rows = [(0, 2), (1, 4), (2, 3), (2, 4)]
    docs = spark.createDataFrame(doc_rows, ["doc_id", "text"])
    cand = spark.createDataFrame(cand_rows, ["doc_a", "doc_b"])
    got = {tuple(r) for r in contrastive_triplets(docs, cand).collect()}
    values = ", ".join(f"({a}, {b})" for a, b in cand_rows)
    pairs_sql = f"SELECT * FROM (VALUES {values}) AS t(doc_a, doc_b)"
    con = duckdb.connect()
    try:
        con.register("documents", pd.DataFrame(doc_rows, columns=["doc_id", "text"]))
        want = {
            tuple(r)
            for r in con.execute(
                contrastive_triplets_sql(pairs_sql)
            ).fetchall()
        }
    finally:
        con.close()
    assert got == want
    # The (2,3) exact duplicate is the only positive; all-zero-jaccard
    # candidates (including the empty-doc pair) rank as hard negatives.
    anchors = {t[0] for t in got}
    assert anchors == {2, 3}


from hypothesis import given, settings
from hypothesis import strategies as st

_WORDS = st.lists(
    st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12
).map(" ".join)


@settings(max_examples=8, deadline=None)
@given(st.lists(_WORDS, min_size=1, max_size=8))
def test_span_family_fuzz(spark, texts):
    """Random tiny-alphabet corpora at k=3: (1) the intervals form and
    the full-text form agree on which docs are cut and by how much;
    (2) every document comes back from excise exactly once; (3) token
    conservation: n_tokens - n_removed == len(dedup_text tokens); (4)
    excise is a fixed point (a second pass removes nothing)."""
    from scala_data_pipeline_spark.ext.dedup import (
        excise_duplicated_spans,
        excise_duplicated_spans_intervals,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    out = excise_duplicated_spans(docs, k=3).collect()
    assert sorted(r.doc_id for r in out) == list(range(len(texts)))
    for r in out:
        kept = [t for t in r.dedup_text.split(" ") if t]
        assert r.n_tokens - r.n_removed == len(kept), r
    full = {r.doc_id: (r.n_tokens, r.n_removed) for r in out if r.n_removed > 0}
    ivs = {
        r.doc_id: (r.n_tokens, r.n_removed)
        for r in excise_duplicated_spans_intervals(docs, k=3).collect()
    }
    assert ivs == full
    # NOT a fixed point in general — excision can create NEW seam
    # duplicates (see test_excise_seam_duplicates_need_iteration) — but
    # it must CONVERGE: total tokens strictly decrease while anything
    # is removed, so iterating terminates.
    cur = [(r.doc_id, r.dedup_text) for r in out]
    for _ in range(12):
        again = excise_duplicated_spans(
            spark.createDataFrame(cur, ["doc_id", "text"]), k=3
        ).collect()
        if all(r.n_removed == 0 for r in again):
            break
        cur = [(r.doc_id, r.dedup_text) for r in again]
    else:
        raise AssertionError("excise did not converge in 12 passes")


def test_excise_seam_duplicates_need_iteration(spark):
    """Excision is deliberately NOT idempotent (round-13 fuzz finding,
    pinned): cutting a span can make the cut doc's residual equal
    another document ("seam" duplicates), which only the NEXT pass
    sees — matching Lee et al. 2021, where dedup is run to
    convergence. Here doc1 loses 'X Y Z' (kept by doc0), its residual
    becomes doc2's exact text, and pass 2 excises doc2."""
    from scala_data_pipeline_spark.ext.dedup import excise_duplicated_spans

    rows = [(0, "X Y Z"), (1, "a b X Y Z c d"), (2, "a b c d")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    p1 = {r.doc_id: r for r in excise_duplicated_spans(docs, k=3).collect()}
    assert p1[1].dedup_text == "a b c d" and p1[1].n_removed == 3
    assert p1[2].n_removed == 0
    second = spark.createDataFrame(
        [(d, r.dedup_text) for d, r in p1.items()], ["doc_id", "text"]
    )
    p2 = {r.doc_id: r for r in excise_duplicated_spans(second, k=3).collect()}
    assert p2[2].n_removed == 4 and p2[2].dedup_text == ""  # seam caught
    third = spark.createDataFrame(
        [(d, r.dedup_text) for d, r in p2.items()], ["doc_id", "text"]
    )
    assert all(
        r.n_removed == 0
        for r in excise_duplicated_spans(third, k=3).collect()
    )  # converged


def test_contrastive_triplets_invariants(spark, sf_dir):
    """Over the fixture's LSH candidates: ranks run 1..per_anchor, at
    most per_anchor triplets per anchor, positives at Jaccard >= hi,
    negatives at <= lo, and a rerun returns the same rows."""
    from collections import Counter

    from scala_data_pipeline_spark.ext.dedup import (
        contrastive_triplets,
        lsh_candidate_pairs,
    )
    from scala_data_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs).localCheckpoint()
    rows = contrastive_triplets(docs, pairs).collect()
    assert rows
    assert all(1 <= r["rank"] <= 3 for r in rows)
    assert all(r["pos_jaccard"] >= 0.5 for r in rows)
    assert all(r["neg_jaccard"] <= 0.1 for r in rows)
    assert max(Counter(r["anchor_id"] for r in rows).values()) <= 3
    again = contrastive_triplets(docs, pairs).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))
