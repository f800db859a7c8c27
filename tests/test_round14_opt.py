"""Round-14 optimization-round tests: scale-adaptive session defaults.

The tuned session's ``spark.sql.shuffle.partitions`` must derive from the
session's core count (guide §2: partitioning scale-adaptive, never a
constant tuned for one box) with an explicit production override.
"""

from __future__ import annotations

import os
from unittest import mock

from pulsar_topic_deduplicator_spark.session import default_shuffle_partitions


def test_width_follows_numeric_cpu_count():
    with mock.patch.dict(os.environ, {}, clear=False):
        os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
        assert default_shuffle_partitions("8") == "8"
        assert default_shuffle_partitions("32") == "32"


def test_width_falls_back_to_machine_cores_for_wildcard():
    with mock.patch.dict(os.environ, {}, clear=False):
        os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
        assert default_shuffle_partitions("*") == str(os.cpu_count() or 8)


def test_explicit_production_override_wins():
    with mock.patch.dict(
        os.environ, {"SPARK_GRAFT_SHUFFLE_PARTITIONS": "4096"}, clear=False
    ):
        assert default_shuffle_partitions("32") == "4096"


# ---------------------------------------------------------------------------
# Iterative graph tier restructures (round-14 optimization): the new loop
# shapes must be bit-identical to the original join-then-materialize shapes
# on hand graphs where the algebraic edge cases (INF sentinels, cascade,
# disconnected components) are visible. Corpus-level parity is pinned by
# the DuckDB oracles every driver round; these pin the IDENTITIES.
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F

from pulsar_topic_deduplicator_spark.operators import graph


def _bidir(spark, pairs):
    fwd = spark.createDataFrame(pairs, "src string, dst string")
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _bfs_join_shape(edges, seed_node):
    """The pre-round-14 loop: per round a min-agg over in-neighbors then a
    dist ⋈ nbr join with least()."""
    nodes = edges.select("src").distinct()
    dist = nodes.select(
        F.col("src").alias("node"),
        F.when(F.col("src") == seed_node, F.lit(0))
        .otherwise(F.lit(graph.BFS_INF))
        .cast("long")
        .alias("d"),
    )
    for _ in range(graph.BFS_ROUNDS):
        nbr = (
            F.broadcast(dist.alias("p"))
            .join(edges.alias("e"), F.col("p.node") == F.col("e.src"))
            .groupBy(F.col("e.dst").alias("node"))
            .agg(
                F.least(
                    F.lit(graph.BFS_INF).cast("long"),
                    F.min(F.col("p.d") + 1),
                ).alias("nd")
            )
        )
        dist = dist.join(nbr, "node").select(
            "node", F.least("d", "nd").alias("d")
        )
    return dist


def _bfs_union_shape(edges, seed_node):
    """The round-14 loop: the self term rides the aggregate as union rows
    (one exchange per round, no dist ⋈ nbr join)."""
    nodes = edges.select("src").distinct()
    dist = nodes.select(
        F.col("src").alias("node"),
        F.when(F.col("src") == seed_node, F.lit(0))
        .otherwise(F.lit(graph.BFS_INF))
        .cast("long")
        .alias("d"),
    )
    for _ in range(graph.BFS_ROUNDS):
        contrib = (
            F.broadcast(dist.alias("p"))
            .join(edges.alias("e"), F.col("p.node") == F.col("e.src"))
            .select(
                F.col("e.dst").alias("node"), (F.col("p.d") + 1).alias("c")
            )
        )
        dist = (
            contrib.unionByName(dist.select("node", F.col("d").alias("c")))
            .groupBy("node")
            .agg(
                F.least(
                    F.lit(graph.BFS_INF).cast("long"), F.min(F.col("c"))
                ).alias("d")
            )
        )
    return dist


def test_bfs_union_fold_identity_incl_unreachable(spark):
    """least(d, least(INF, min(d_u+1))) == least(INF, min({d} ∪ {d_u+1}))
    for every node — including a DISCONNECTED component that stays at INF
    (its d_u+1 = INF+1 rows must never leak past the INF cap)."""
    # path s1-c1-s2-c2 plus a disconnected pair c9-s9 (stays unreached)
    pairs = [("c1", "s1"), ("c1", "s2"), ("c2", "s2"), ("c9", "s9")]
    edges = _bidir(spark, pairs)
    old = sorted(map(tuple, _bfs_join_shape(edges, "s1").collect()))
    new = sorted(map(tuple, _bfs_union_shape(edges, "s1").collect()))
    assert old == new
    d = dict(new)
    assert d["s1"] == 0 and d["c1"] == 1 and d["s2"] == 2 and d["c2"] == 3
    assert d["c9"] == graph.BFS_INF and d["s9"] == graph.BFS_INF


def test_kcore_cumulative_filter_matches_per_round_materialization(spark):
    """Survivor sets shrink monotonically, so filtering the ORIGINAL edge
    frame by round r's keep set equals filtering round r-1's shrunken
    frame — pinned on the cascade path where rounds differ (endpoints
    fall in round 1, the middle falls in round 2) plus a stable triangle
    core that must survive every round."""
    k = 2
    pairs = [
        ("a", "b"), ("b", "c"), ("c", "d"),  # path: cascades to nothing
        ("x", "y"), ("y", "z"), ("z", "x"),  # triangle: stable 2-core
    ]
    edges = _bidir(spark, pairs)
    # old shape: per-round shrinking frame
    surv_old = edges
    for _ in range(graph.KCORE_ROUNDS):
        deg = surv_old.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k).select("src")
        surv_old = surv_old.join(keep, "src", "semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "semi"
        )
    # new shape: cumulative filter of the ORIGINAL edges
    surv_new = edges
    for _ in range(graph.KCORE_ROUNDS):
        deg = surv_new.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k).select("src")
        surv_new = edges.join(keep, "src", "semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "semi"
        )
    old = sorted(map(tuple, surv_old.collect()))
    new = sorted(map(tuple, surv_new.collect()))
    assert old == new
    assert {r[0] for r in new} == {"x", "y", "z"}  # triangle survives


# ---------------------------------------------------------------------------
# Sharded-ObliviousSet TTL kernel (round-14 optimization): the bucketed
# GroupState kernel must emit EXACTLY the per-digest kernel's rows for any
# partition of digests into buckets. Driven directly with fake GroupState
# objects so every branch (fresh / duplicate / seed / prior-within-TTL /
# prior-expired / null event time / tie-break) is pinned without a stream.
# ---------------------------------------------------------------------------

import pandas as pd


class _FakeState:
    def __init__(self, value=None, now_ms=0):
        self._v = value
        self._now = now_ms
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def getCurrentProcessingTimeMs(self):
        return self._now


def _norm(frames):
    rows = set()
    for f in frames:
        for r in f.itertuples(index=False):
            us = r.event_us
            rows.add(
                (
                    r.digest,
                    r.message_id,
                    None if pd.isna(us) else int(us),
                    int(r.n_dropped),
                )
            )
    return rows


def test_bucketed_ttl_kernel_matches_per_digest_kernel():
    from pulsar_topic_deduplicator_spark.streaming.dedup import (
        SEED_MESSAGE_ID,
        _make_bucketed_ttl_kernel,
    )

    from .ttl_reference import make_ttl_kernel

    ttl_ms = 1000
    now = 10_000
    # prior state: d_live within TTL, d_expired long expired
    prior = {"d_live": now - 500, "d_expired": now - 5000}
    batch = pd.DataFrame(
        {
            "digest": [
                "d_fresh", "d_fresh", "d_fresh",  # dup trio, tie on event_us
                "d_live",                          # dup of a prior winner
                "d_expired",                       # re-admission after expiry
                "d_seeded", "d_seeded",            # seed + live in one batch
                "d_seed_only",                     # seed alone: no output
                "d_null_ts",                       # null event time winner
            ],
            "message_id": [
                "m2", "m1", "m3",
                "m4",
                "m5",
                SEED_MESSAGE_ID, "m6",
                SEED_MESSAGE_ID,
                "m7",
            ],
            "event_us": pd.array(
                [100, 100, 50, 10, 10, None, 20, None, None], dtype="Int64"
            ),
        }
    )
    # arrow hands the kernel plain numpy columns; match that
    batch = batch.assign(event_us=batch["event_us"].astype("float64"))

    # per-digest kernel: one invocation per digest with scalar state
    per_digest = make_ttl_kernel(ttl_ms)
    expected: list[pd.DataFrame] = []
    states_after = {}
    for d in batch["digest"].unique():
        st = _FakeState((prior[d],) if d in prior else None, now)
        expected.extend(
            per_digest((d,), iter([batch[batch["digest"] == d]]), st)
        )
        states_after[d] = st._v[0] if st._v is not None else None

    # bucketed kernel: all digests in ONE bucket with the map state
    bucketed = _make_bucketed_ttl_kernel(ttl_ms)
    st = _FakeState((list(prior), [prior[d] for d in prior]), now)
    got = list(bucketed((0,), iter([batch]), st))

    assert _norm(got) == _norm(expected)
    # winner sanity: the tie on (event_us=50? no — min is 50) picks m3
    rows = {(r[0], r[1]) for r in _norm(got)}
    assert ("d_fresh", "m3") in rows  # event_us=50 beats the 100s
    assert ("d_expired", "m5") in rows  # re-admitted after expiry
    assert ("d_live", None) in rows  # counter-only row
    assert ("d_seeded", None) in rows  # seed suppresses, counts the live row
    assert not any(r[0] == "d_seed_only" for r in _norm(got))
    # state map equals the per-digest kernels' post-states
    new_map = dict(zip(st._v[0], st._v[1]))
    for d, fs in states_after.items():
        if fs is None:
            assert d not in new_map
        else:
            assert new_map[d] == fs
    # and a two-bucket split emits the identical row set
    bucketed2 = _make_bucketed_ttl_kernel(ttl_ms)
    mask = batch["digest"].isin(["d_fresh", "d_live", "d_seed_only"])
    got2 = []
    for part, pri in (
        (batch[mask], {k: v for k, v in prior.items() if k == "d_live"}),
        (batch[~mask], {k: v for k, v in prior.items() if k != "d_live"}),
    ):
        stp = _FakeState((list(pri), [pri[d] for d in pri]) if pri else None, now)
        got2.extend(bucketed2((0,), iter([part]), stp))
    assert _norm(got2) == _norm(expected)


# ---------------------------------------------------------------------------
# Shingle-hash Arrow kernel (round-14 optimization): _shingle_hashes must
# emit the exact MULTISET the explode(shingles())·sha2 expression tree
# emitted — including duplicate h rows from mod-P collisions and the
# CASE-guarded empties. Corpus parity at three SFs was verified at change
# time; this pins the edge cases synthetically.
# ---------------------------------------------------------------------------


def test_shingle_kernel_matches_expression_tree(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from pulsar_topic_deduplicator_spark.functions.hashing import stable_uint60
    from pulsar_topic_deduplicator_spark.functions.text import shingles
    from pulsar_topic_deduplicator_spark.operators.neardup import (
        MINHASH_P,
        SHINGLE_N,
        _shingle_hashes,
    )

    rows = [
        (1, None),                                   # NULL text → no rows
        (2, ""),                                     # empty → no rows
        (3, "one two"),                              # < n words → no rows
        (4, "a b c"),                                # exactly one gram
        (5, "a  b c d "),                            # empty tokens kept
        (6, "héllo wörld ünïcode grams über"),       # non-ASCII code points
        (7, "x y z x y z x y z"),                    # repeated grams dedupe
    ]
    path = tmp_path_factory.mktemp("shingle_kernel")
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(path / "documents.parquet"))

    docs = spark.read.parquet(str(path / "documents.parquet")).select(
        "doc_id", "text"
    )
    old = sorted(
        map(
            tuple,
            docs.select(
                "doc_id",
                F.explode(shingles(F.col("text"), SHINGLE_N)).alias("gram"),
            )
            .select(
                "doc_id", (stable_uint60(F.col("gram")) % MINHASH_P).alias("h")
            )
            .collect(),
        )
    )
    new = sorted(map(tuple, _shingle_hashes(spark, str(path)).collect()))
    assert new == old
    assert len(new) > 0  # docs 4-7 contribute
