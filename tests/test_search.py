"""BM25 retrieval tests: hand-computed scores on a crafted corpus plus
structural invariants on the fixture documents table."""

from __future__ import annotations

import math

SF = "/root/testdata/sf0.001"


def test_bm25_hand_computed(spark):
    """3-doc corpus, one query — scores checked against a by-hand Okapi
    BM25 computation (k1=1.2, b=0.75, Lucene idf)."""
    from otlp_cardinality_checker_spark.operators.search import bm25_topk

    rows = [
        (1, "cat dog cat"),          # dl=3, tf(cat)=2, tf(dog)=1
        (2, "cat bird bird bird"),   # dl=4, tf(cat)=1
        (3, "fish fish"),            # dl=2, no match
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in bm25_topk(docs, queries=[(7, "cat dog")], k=10).collect()
    }
    assert set(got) == {1, 2}  # doc 3 shares no term

    n, avgdl, k1, b = 3, 3.0, 1.2, 0.75

    def idf(df):
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def tfnorm(tf, dl):
        return tf / (tf + k1 * (1 - b + b * dl / avgdl))

    exp1 = round(idf(2) * tfnorm(2, 3) + idf(1) * tfnorm(1, 3), 4)
    exp2 = round(idf(2) * tfnorm(1, 4), 4)
    assert got[1]["score"] == exp1
    assert got[2]["score"] == exp2
    assert got[1]["n_terms_matched"] == 2
    assert got[2]["n_terms_matched"] == 1
    assert got[1]["rank"] == 1 and got[2]["rank"] == 2


def test_bm25_fixture_invariants(spark):
    """Default queries over the fixture corpus: rank contiguity per query,
    score monotone non-increasing, matched-term bound."""
    from otlp_cardinality_checker_spark.operators.search import (
        DEFAULT_QUERIES,
        bm25_topk,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pdf = bm25_topk(docs, k=5).toPandas()
    assert set(pdf["query_id"]) == {q for q, _ in DEFAULT_QUERIES}
    for _, grp in pdf.groupby("query_id"):
        g = grp.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert (g["score"].diff().dropna() <= 0).all()
        assert (g["n_terms_matched"] <= 3).all()
        assert (g["score"] > 0).all()


def test_bm25_index_parquet_roundtrip(spark, tmp_path):
    """build_bm25_index persisted to parquet and re-read must give
    bm25_query results identical to the one-shot bm25_topk."""
    from otlp_cardinality_checker_spark.operators.search import (
        DEFAULT_QUERIES,
        bm25_query,
        bm25_topk,
        build_bm25_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx_path = str(tmp_path / "bm25_index")
    build_bm25_index(docs).write.parquet(idx_path)
    via_index = bm25_query(
        spark.read.parquet(idx_path), DEFAULT_QUERIES, k=5
    )
    one_shot = bm25_topk(docs, k=5)
    a = sorted(map(tuple, via_index.collect()))
    b = sorted(map(tuple, one_shot.collect()))
    assert a == b and len(a) > 0
