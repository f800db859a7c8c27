"""Semantics pins for the round-10 additions beyond oracle parity:
hybrid RRF fusion arithmetic, contrastive-mining label discipline vs a
numpy brute force, and CCNet tercile structure.
"""

from __future__ import annotations

import numpy as np

from pulsar_topic_deduplicator_spark.operators.retrieval import (
    FUSE_TOP,
    RRF_K,
    RRF_SCALE,
    hybrid_search_rrf,
)
from pulsar_topic_deduplicator_spark.operators.similarity import (
    contrastive_pair_mining,
)
from pulsar_topic_deduplicator_spark.operators.textops import (
    CCNET_BUCKETS,
    ccnet_quality_buckets,
    lm_bigram_nll,
)


def test_hybrid_rrf_arithmetic_and_shape(spark, sf_dir):
    rows = hybrid_search_rrf(spark, sf_dir).collect()
    assert 0 < len(rows) <= FUSE_TOP
    seen_both = 0
    for r in rows:
        want = 0
        if r["rank_lex"] is not None:
            assert r["rank_lex"] >= 1
            want += RRF_SCALE // (RRF_K + r["rank_lex"])
        if r["rank_dense"] is not None:
            assert r["rank_dense"] >= 1
            want += RRF_SCALE // (RRF_K + r["rank_dense"])
        assert r["rank_lex"] is not None or r["rank_dense"] is not None
        assert r["rrf_ppb"] == want
        seen_both += r["rank_lex"] is not None and r["rank_dense"] is not None
    # fused ordering: rrf desc, doc_id asc, ranks contiguous from 1
    ordered = sorted(rows, key=lambda r: r["rank"])
    assert [r["rank"] for r in ordered] == list(range(1, len(rows) + 1))
    for a, b in zip(ordered, ordered[1:]):
        assert (a["rrf_ppb"], -a["doc_id"]) >= (b["rrf_ppb"], -b["doc_id"])


def test_contrastive_mining_matches_numpy_brute_force(spark, sf_dir):
    from pulsar_topic_deduplicator_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").collect()
    ids = np.array([r["vec_id"] for r in emb])
    labels = np.array([r["label"] for r in emb])
    mat = np.array([r["embedding"] for r in emb], dtype=np.float64)
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = unit @ unit.T

    got = {r["vec_id"]: r for r in contrastive_pair_mining(spark, sf_dir).collect()}
    assert set(got) == set(ids.tolist())
    label_of = dict(zip(ids.tolist(), labels.tolist()))
    for i, vid in enumerate(ids):
        r = got[int(vid)]
        # winner identity: argmax over (cosine, then smaller id) per side
        for side, want_same in (("pos", True), ("neg", False)):
            mask = (labels == labels[i]) == want_same
            mask[i] = False
            if not mask.any():
                assert r[f"{side}_id"] is None
                continue
            cand = np.where(mask)[0]
            # numpy argmax with the (cosine desc, id asc) tie-break
            best = min(cand, key=lambda j: (-cos[i, j], ids[j]))
            assert r[f"{side}_id"] == ids[best], (vid, side)
            assert abs(r[f"{side}_cosine"] - cos[i, best]) < 1e-9
        if r["pos_id"] is not None:
            assert label_of[r["pos_id"]] == r["label"]
        assert label_of[r["neg_id"]] != r["label"]


def test_contrastive_over_ceiling_degrades_to_tiled(spark, sf_dir):
    """Past the broadcast ceiling the kernel must DEGRADE to the tiled
    both-sides-distributed shape and still return correct winners
    (VERDICT r11 item 4) — forced here with a 1-byte ceiling and pinned
    against the same numpy brute force as the broadcast path."""
    from pulsar_topic_deduplicator_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").collect()
    ids = np.array([r["vec_id"] for r in emb])
    labels = np.array([r["label"] for r in emb])
    mat = np.array([r["embedding"] for r in emb], dtype=np.float64)
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = unit @ unit.T

    out = contrastive_pair_mining(spark, sf_dir, max_broadcast_bytes=1)
    got = {r["vec_id"]: r for r in out.collect()}
    assert set(got) == set(ids.tolist())
    for i, vid in enumerate(ids):
        r = got[int(vid)]
        for side, want_same in (("pos", True), ("neg", False)):
            mask = (labels == labels[i]) == want_same
            mask[i] = False
            if not mask.any():
                assert r[f"{side}_id"] is None
                assert r[f"{side}_cosine"] is None
                continue
            cand = np.where(mask)[0]
            best = min(cand, key=lambda j: (-cos[i, j], ids[j]))
            assert r[f"{side}_id"] == ids[best], (vid, side)
            assert abs(r[f"{side}_cosine"] - cos[i, best]) < 1e-9
    # schema parity with the broadcast kernel (the rounded boundary form
    # composes on either path)
    assert [f.name for f in out.schema.fields] == [
        "vec_id", "label", "pos_id", "pos_cosine", "neg_id", "neg_cosine",
    ]


def test_contrastive_tiled_tiny_corpus_edges(spark, tmp_path_factory):
    """Tiled-fallback edge cases on a 3-vector corpus with more tiles
    than rows: empty cogroups, an anchor whose label has no second
    member (NULL positives), and every anchor preserved."""
    import pandas as pd

    d = 64
    rows = [
        (0, 1, [1.0] + [0.0] * (d - 1)),
        (1, 1, [0.9, 0.1] + [0.0] * (d - 2)),
        (2, 2, [0.0, 1.0] + [0.0] * (d - 2)),  # lone label: pos is NULL
    ]
    src = str(tmp_path_factory.mktemp("tiny_emb"))
    spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    ).write.mode("overwrite").parquet(f"{src}/embeddings.parquet")
    out = {
        r["vec_id"]: r
        for r in contrastive_pair_mining(
            spark, src, max_broadcast_bytes=1
        ).collect()
    }
    assert set(out) == {0, 1, 2}
    assert out[0]["pos_id"] == 1 and out[1]["pos_id"] == 0
    assert out[2]["pos_id"] is None and out[2]["pos_cosine"] is None
    assert out[0]["neg_id"] == 2 and out[1]["neg_id"] == 2
    assert out[2]["neg_id"] in (0, 1)


def test_contrastive_winner_tie_margin_exceeds_ulp_noise(spark, sf_dir):
    """Cross-engine winner identity assumes the top-2 candidate cosines per
    (anchor, side) are either exactly equal (id tie-break governs, both
    engines agree) or separated by far more than BLAS-vs-sequential-fold
    ulp noise (~1e-15 at d=64). Make that assumption CHECKABLE on the
    fixtures: assert every non-exact top-2 gap clears 1e-9 (ADVICE r10)."""
    from pulsar_topic_deduplicator_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").collect()
    labels = np.array([r["label"] for r in emb])
    mat = np.array([r["embedding"] for r in emb], dtype=np.float64)
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = unit @ unit.T

    min_gap = np.inf
    n_exact_ties = 0
    for i in range(len(emb)):
        for want_same in (True, False):
            mask = (labels == labels[i]) == want_same
            mask[i] = False
            if mask.sum() < 2:
                continue
            vals = np.sort(cos[i, mask])[::-1]
            gap = float(vals[0] - vals[1])
            if gap == 0.0:
                n_exact_ties += 1  # id tie-break governs — engine-stable
            else:
                min_gap = min(min_gap, gap)
    assert min_gap > 1e-9, f"near-tie within ulp noise: gap={min_gap}"


def test_contrastive_rounded_boundary_derives_margin(spark, sf_dir):
    """The driver-facing form rounds the cosines to 6 dp and computes the
    margin FROM the rounded columns — the subtraction must reconcile."""
    from pulsar_topic_deduplicator_spark.operators.similarity import (
        contrastive_pair_mining_rounded,
    )

    for r in contrastive_pair_mining_rounded(spark, sf_dir).collect():
        if r["pos_cosine"] is None:
            assert r["margin"] is None
        else:
            assert r["margin"] == r["pos_cosine"] - r["neg_cosine"]
            assert round(r["pos_cosine"], 6) == r["pos_cosine"]


def test_shard_plan_is_a_next_fit_cut_of_the_token_stream(spark, sf_dir):
    """The two-stage distributed prefix sum must equal the naive global
    cumsum: token_start is the exact running total in doc_id order, and
    the shard cut is next-fit (monotone shard ids, offsets < capacity)."""
    from pulsar_topic_deduplicator_spark.operators.curation import (
        SHARD_CAPACITY,
        shard_plan_tokens,
    )

    rows = sorted(
        shard_plan_tokens(spark, sf_dir).collect(), key=lambda r: r["doc_id"]
    )
    assert rows
    running = 0
    prev_shard = 0
    for r in rows:
        assert r["token_start"] == running, r
        assert r["shard_id"] == running // SHARD_CAPACITY
        assert r["offset_tokens"] == running % SHARD_CAPACITY
        assert r["shard_id"] >= prev_shard
        prev_shard = r["shard_id"]
        running += r["n_tokens"]
    assert prev_shard >= 1, "fixture corpus should span multiple shards"


def test_lsh_recall_report_bounds(spark, sf_dir):
    """found ≤ min(true, candidates); the ratios reconcile with the counts
    (floor ppb); verified survivors are a subset of the true pair set, so
    precision counts what verify kept, never invents pairs."""
    from pulsar_topic_deduplicator_spark.operators.neardup import (
        lsh_recall_report,
    )

    r = lsh_recall_report(spark, sf_dir).first()
    assert r["n_found"] <= min(r["n_true"], r["n_candidates"])
    assert r["recall_ppb"] == (10**9 * r["n_found"]) // r["n_true"]
    assert r["precision_ppb"] == (10**9 * r["n_found"]) // r["n_candidates"]
    assert 0 <= r["recall_ppb"] <= 10**9
    assert 0 <= r["precision_ppb"] <= 10**9


def test_ccnet_buckets_structure(spark, sf_dir):
    rows = ccnet_quality_buckets(spark, sf_dir).collect()
    n_scored = lm_bigram_nll(spark, sf_dir).count()
    by_lang: dict[str, dict[str, tuple]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    assert sum(r["n_docs"] for r in rows) == n_scored
    for lang, buckets in by_lang.items():
        assert set(buckets) <= {"head", "middle", "tail"}
        sizes = [b["n_docs"] for b in buckets.values()]
        # ntile: bucket sizes differ by at most 1 within a language
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        if len(buckets) == CCNET_BUCKETS:
            # terciles are ordered by nll: head spans the lowest range
            assert (
                buckets["head"]["nll_max"]
                <= buckets["middle"]["nll_min"] + 1e-12
            )
            assert (
                buckets["middle"]["nll_max"]
                <= buckets["tail"]["nll_min"] + 1e-12
            )
