"""BM25 ranking invariants (`operators/textops.py::bm25_rank`) — oracle
parity is covered by test_oracle_parity; these pin the retrieval
semantics parity can't state."""

from __future__ import annotations

from pulsar_topic_deduplicator_spark.operators.textops import (
    BM25_QUERY,
    bm25_rank,
)
from pulsar_topic_deduplicator_spark.sources.io import load_table


def test_bm25_ranks_only_matching_docs_positively(spark, sf_dir):
    rows = bm25_rank(spark, sf_dir).collect()
    assert rows
    scores = [r["bm25"] for r in rows]
    # non-increasing down the ranking, and strictly positive: the
    # Lucene-style IDF is non-negative and only matching docs participate
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    q = set(BM25_QUERY)
    for r in rows:
        assert set(texts[r["doc_id"]].split(" ")) & q


def test_bm25_more_hits_beats_fewer_at_equal_length(
    spark, sf_dir, tmp_path_factory
):
    """Synthetic head-to-head: with equal doc length, a doc with strictly
    more query-term occurrences (every term) must outscore one with
    fewer — monotonicity in tf with all else equal."""
    from pyspark.sql import Row

    filler = "zzz"
    q = list(BM25_QUERY)
    heavy = " ".join(q * 4 + [filler] * 8)  # 12 hits, 20 words
    light = " ".join(q * 1 + [filler] * 17)  # 3 hits, 20 words
    none = " ".join([filler] * 20)
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=heavy, lang="en", source="s", n_chars=len(heavy)),
            Row(doc_id=2, text=light, lang="en", source="s", n_chars=len(light)),
            Row(doc_id=3, text=none, lang="en", source="s", n_chars=len(none)),
        ]
    )

    d = str(tmp_path_factory.mktemp("bm25"))
    docs.write.parquet(f"{d}/documents.parquet")
    rows = {r["doc_id"]: r["bm25"] for r in bm25_rank(spark, d).collect()}
    assert set(rows) == {1, 2}  # the term-free doc is excluded
    assert rows[1] > rows[2] > 0


def test_bm25_boundary_straddling_cut_is_engine_exact(spark, tmp_path):
    """VERDICT r6 item 6 fixture: a corpus engineered so the docs at ranks
    K and K+1 have UNROUNDED scores closer than the 6-dp rounding
    granularity (sub-1e-6 gap). Under the pre-hardening scheme (raw libm
    ``ln`` in the float path) a last-ulp cross-engine drift near a rounding
    boundary could flip which doc makes the cut; with the idf pinned to
    integer nano-nats the score arithmetic is bit-identical across engines
    and the cut cannot flip. Asserts (a) the fixture really straddles —
    the rank-K/K+1 gap is below 1e-6 — and (b) exact Spark↔DuckDB parity
    on the full ranked result."""
    import math

    import duckdb

    from pulsar_topic_deduplicator_spark.operators.textops import (
        BM25_B,
        BM25_K1,
        BM25_TOP_K,
        _bm25_oracle,
    )
    from tests.oracle_harness import compare

    # N docs, every one matching the first query term exactly once, doc
    # lengths base..base+N-1: idf is tiny (term in every doc) and length
    # differences of one word move the score by well under 1e-6
    n_docs, base_len = 400, 1000
    rows = []
    for i in range(n_docs):
        dl = base_len + i
        text = " ".join([BM25_QUERY[0]] + ["zzz"] * (dl - 1))
        rows.append((i, text, "en", "s", len(text)))
    d = str(tmp_path / "bm25_boundary")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")

    # fixture validity: pure-Python replay of the formula (unrounded) —
    # the gap across the top-k cut must be inside the rounding granularity
    avgdl = sum(base_len + i for i in range(n_docs)) / n_docs
    idf = math.log(1 + (n_docs - n_docs + 0.5) / (n_docs + 0.5))

    def score(dl: int) -> float:
        norm = 1 - BM25_B + BM25_B * (dl / avgdl)
        return idf * (1 * (BM25_K1 + 1)) / (1 + BM25_K1 * norm)

    # scores decrease with dl, so ranks K and K+1 are dl base+K-1, base+K
    gap = score(base_len + BM25_TOP_K - 1) - score(base_len + BM25_TOP_K)
    assert 0 < gap < 1e-6, f"fixture does not straddle: gap={gap}"

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    try:
        result = compare(bm25_rank(spark, d), con, _bm25_oracle())
        assert result["match"], result
    finally:
        con.close()
