"""Large-star/small-star connected components: correctness + O(log n)
behavior on adversarial chain graphs. Parity of ``near_dup_clusters``
with the recursive-CTE oracle is ``test_oracle_parity``."""

from __future__ import annotations

import pytest

from pulsar_topic_deduplicator_spark.operators.neardup import (
    connected_components_lss,
)


def test_lss_long_chain_and_mixed_graph(spark):
    """A 60-node path (diameter 59 — the propagation worst case) plus a
    separate triangle and an isolated pair: every node must get its
    component minimum, well inside the max_rounds = 20 ≫ log2(60) guard."""
    chain = [(i, i + 1) for i in range(100, 160)]
    triangle = [(500, 501), (501, 502), (502, 500)]
    pair = [(900, 901)]
    edges = spark.createDataFrame(chain + triangle + pair, "src long, dst long")
    labels = {
        r["id"]: r["label"] for r in connected_components_lss(edges).collect()
    }
    assert all(labels[i] == 100 for i in range(100, 161))
    assert all(labels[i] == 500 for i in (500, 501, 502))
    assert labels[900] == labels[901] == 900
    assert len(labels) == 61 + 3 + 2


def test_lss_handles_reversed_and_duplicate_edges(spark):
    edges = spark.createDataFrame(
        [(5, 3), (3, 5), (5, 3), (1, 2), (2, 3)], "src long, dst long"
    )
    labels = {
        r["id"]: r["label"] for r in connected_components_lss(edges).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 5: 1}


def test_lss_round_cap_raises(spark):
    """A path needs several rounds to reach its star; one round ends with
    unconverged labels, which must raise instead of returning them."""
    path = [(i, i + 1) for i in range(16)]
    edges = spark.createDataFrame(path, "src long, dst long")
    with pytest.raises(RuntimeError, match="no fixpoint after 1 rounds"):
        connected_components_lss(edges, max_rounds=1)


def test_triangle_census_counts_dense_families_only(
    spark, tmp_path_factory
):
    """A pairwise-verified triple forms exactly one triangle; a verified
    PAIR (a path, the chain-drift shape) forms none — the distinction the
    census exists to surface. (A three-link chain whose closure stays
    under the 0.5 threshold needs link similarity ~0.5-0.7, where the
    4x4-band LSH recall is deliberately probabilistic — so the
    no-closure shape is pinned here with the 2-node path, and the
    closure arithmetic itself is the verify stage's oracle-checked
    job.)"""
    from pulsar_topic_deduplicator_spark.operators.neardup import (
        near_dup_pairs_verified,
        near_dup_triangles,
    )

    w = [f"w{i}" for i in range(1, 41)]
    v = [f"v{i}" for i in range(1, 31)]
    docs = [
        # path: two docs at J~0.70 — verified pair, no triangle
        (0, " ".join(w[0:30])),
        (1, " ".join(w[5:35])),
        # dense family: three near-identical docs (one word swapped)
        (10, " ".join(v)),
        (11, " ".join(v[:-1] + ["vX"])),
        (12, " ".join(["vY"] + v[1:])),
    ]
    path = tmp_path_factory.mktemp("tricensus")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(path / "documents.parquet"))

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in near_dup_pairs_verified(spark, str(path)).collect()
    }
    assert (0, 1) in pairs  # the path edge
    assert {(10, 11), (10, 12), (11, 12)} <= pairs  # the family

    tris = {
        (r["doc_a"], r["doc_b"], r["doc_c"])
        for r in near_dup_triangles(spark, str(path)).collect()
    }
    assert tris == {(10, 11, 12)}  # family counted once; path contributes 0
