"""Near-duplicate detection over the ``documents`` corpus.

NOT in the reference (it dedups exact byte-identical payloads only, op #6/#7)
— this tier is the training-data-pipeline generalization: catch documents
that are *almost* the same.

Three operators, one per classic technique:

* ``ngram_jaccard_pairs`` — exact word-3-gram Jaccard similarity via a
  shingle self-join. Ground truth; quadratic in the worst case, so at scale
  it is the VERIFY stage applied to candidate pairs only.
* ``near_dup_minhash`` — MinHash signatures + LSH banding. The 100 TB path:
  cost is linear in corpus size (one aggregation for signatures, one
  equi-join on band keys for candidates); only candidates reach the
  quadratic verify.
* ``simhash_docs`` — 32-bit SimHash signature per document (Charikar);
  hamming-close signatures ⇒ near-dup. Emitted as a signature table;
  banding over signature nibbles would be the candidate path.

Everything is deterministic integer arithmetic on a 60-bit stable hash
(``stable_uint60``), so all three are DuckDB-oracle-checkable — including
MinHash, which is normally "not SQL-expressible" only because of hidden
hash seeds; ours are explicit constants.

Scale notes: signatures are computed with K aggregate expressions in ONE
groupBy (no K× row blowup before the shuffle); shingle hashes — not shingle
strings — cross the wire; band keys are short hex strings. Shingle-frequency
skew (stopword-only shingles) is the known hazard of the Jaccard self-join;
the MinHash path does not have it.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import stable_uint60
from ..sources.io import load_table

SHINGLE_N = 3
JACCARD_THRESHOLD = 0.5

# MinHash parameters: h_i(x) = (a_i * x + b_i) mod P over 31-bit hash space.
# Constants are fixed (seed 42) and embedded in both the Spark expressions
# and the oracle SQL — explicit seeds are what make MinHash oracle-checkable.
MINHASH_P = 2_147_483_647  # 2^31 - 1 (prime)
NUM_HASHES = 16
BAND_ROWS = 4  # 4 bands × 4 rows: catches J≈0.5+ pairs with high probability
_rng = random.Random(42)
MINHASH_A = [_rng.randrange(1, MINHASH_P) for _ in range(NUM_HASHES)]
MINHASH_B = [_rng.randrange(0, MINHASH_P) for _ in range(NUM_HASHES)]

SIMHASH_BITS = 32


def _shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h) — one row per distinct word-3-gram, h = stable 60-bit int
    reduced mod P. Only the 8-byte hash crosses the shuffle, never the text.

    Arrow ``mapInPandas`` kernel, not the explode(shingles())·sha2
    expression tree (the ``winnow_fingerprints`` finding, guide §4
    inverted): the gram construction rode interpreted HOF lambdas
    (arrays_zip/transform, no WholeStageCodegen) and measured 2.9 s of a
    5.5 s consumer entry at sf0.1 — the kernel computes the IDENTICAL
    values (~0.9 s same probe):

    - ``split(text, ' ')`` ≡ Python ``text.split(' ')`` (both keep empty
      tokens between/after consecutive spaces — literal, not a charclass);
    - ``concat_ws(' ', …)`` over non-null tokens ≡ ``' '.join``;
    - ``array_distinct`` dedupes the GRAM STRING (hash collisions mod P
      may still emit duplicate h rows per doc — dict.fromkeys matches);
    - ``conv(substring(sha2(g),1,15),16,10)`` ≡ first-8-digest-bytes
      big-endian >> 4 (60 bits, non-negative — the winnow identity), and
      ``% P`` on non-negative operands is the same in both runtimes;
    - docs with NULL text or < SHINGLE_N words contribute nothing (the
      CASE-guarded empty array explode'd to no rows before).

    Per-doc map — one MapInPandas over the scan, SPREAD to session
    parallelism first when the scan is narrower than the core count
    (round 15, ``spread_narrow_scan``): the corpus file is one input
    split at bench scale, which pinned the kernel AND everything
    downstream of the persisted frame to one core (jaccard's verify
    expansion measured core-insensitive at the 10× probe; 95.6 → 22.3 s
    spread). At real corpus scale the scan has ≥ core partitions and the
    shape stays zero-shuffle. Exact multiset parity vs the expression
    formulation is pinned in tests/test_round14_opt.py; partition-layout
    invariance of the multiset is trivially preserved (per-row kernel)."""
    from ..sources.io import spread_narrow_scan

    docs = spread_narrow_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    return docs.mapInPandas(_shingle_hash_kernel(), schema="doc_id long, h long")


def _shingle_hash_kernel(n: int = SHINGLE_N, p: int = MINHASH_P):
    """mapInPandas kernel over (doc_id, text) → the distinct word-n-gram
    hash rows — shared by the document and span shingle builders (see
    ``_shingle_hashes`` for the value-identity argument)."""

    def kernel(batches):
        import hashlib

        import pandas as pd

        sha = hashlib.sha256
        for pdf in batches:
            out_ids: list = []
            out_hs: list = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                words = text.split(" ")
                if len(words) < n:
                    continue
                grams = dict.fromkeys(
                    " ".join(words[i : i + n])
                    for i in range(len(words) - n + 1)
                )
                for g in grams:
                    out_ids.append(doc_id)
                    out_hs.append(
                        (
                            int.from_bytes(
                                sha(g.encode("utf-8")).digest()[:8], "big"
                            )
                            >> 4
                        )
                        % p
                    )
            if out_ids:
                yield pd.DataFrame({"doc_id": out_ids, "h": out_hs})

    return kernel


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup ground truth: pairs with word-3-gram Jaccard ≥ 0.5.

    Self-join on shingle hash -> per-pair intersection counts; doc sizes are
    a small aggregate joined back (broadcast). Jaccard is an exact integer
    division — identical doubles on any engine.

    The shingle frame feeds three consumers (both self-join sides + the
    size aggregate); the scoped persist computes the explode once per
    query instead of relying on an upstream pipeline's cache (the r5
    bench-hygiene change exposed exactly that hidden dependency —
    BASELINE.md round-6 note re-anchors this family cold).
    """
    from ..cachereg import persist_scoped

    sh = persist_scoped(_shingle_hashes(spark, sf_dir))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sz_a), "doc_a")
        .join(F.broadcast(sz_b), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def _signature_wide_from(sh: DataFrame) -> DataFrame:
    """One row per doc: mh_0..mh_{K-1}. K aggregate expressions over a single
    groupBy — one shuffle keyed by doc_id, no K-fold row multiplication."""
    aggs = [
        F.min((F.col("h") * MINHASH_A[i] + MINHASH_B[i]) % MINHASH_P).alias(f"mh_{i}")
        for i in range(NUM_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _signature_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _signature_wide_from(_shingle_hashes(spark, sf_dir))


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature table, exploded to (doc_id, h_idx, minhash) rows so
    the oracle comparison is array-free."""
    wide = _signature_wide(spark, sf_dir)
    stack_args = ", ".join(f"{i}, mh_{i}" for i in range(NUM_HASHES))
    return wide.select(
        "doc_id",
        F.expr(f"stack({NUM_HASHES}, {stack_args}) AS (h_idx, minhash)"),
    )


def near_dup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one band of the MinHash
    signature. Linear-cost candidate generation — the scale path; verify
    candidates with ``ngram_jaccard_pairs`` semantics downstream."""
    return _near_dup_candidates(_signature_wide(spark, sf_dir))


def band_rows(wide: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) — the LSH bucket membership rows derived
    from a wide signature table. Shared by the batch candidate join below
    and the streaming near-dup filter (``streaming/neardup_stream.py``)."""
    n_bands = NUM_HASHES // BAND_ROWS
    band_cols = []
    for band in range(n_bands):
        cols = [F.col(f"mh_{band * BAND_ROWS + r}") for r in range(BAND_ROWS)]
        band_cols.append(F.concat_ws("-", *cols))
    stack_args = ", ".join(f"{i}, b_{i}" for i in range(n_bands))
    return wide.select(
        "doc_id", *[c.alias(f"b_{i}") for i, c in enumerate(band_cols)]
    ).select(
        "doc_id", F.expr(f"stack({n_bands}, {stack_args}) AS (band_id, band_key)")
    )


def _near_dup_candidates(wide: DataFrame) -> DataFrame:
    bands = band_rows(wide)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _verify_candidate_pairs(
    sh: DataFrame,
    cands: DataFrame,
    key_a: str = "doc_a",
    key_b: str = "doc_b",
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs — THE shared
    verify stage (document pairs, span pairs, and the incremental
    new-vs-index classification all run this one implementation): join the
    shingle frame onto both sides of the candidate pairs, count the
    intersection, derive Jaccard from the per-key sizes, and keep pairs at
    or above ``JACCARD_THRESHOLD``. Returns
    ``(key_a, key_b, n_a, n_b, n_common, jaccard)``.

    ``cands`` is near-dup hits only (≪ corpus) so it broadcasts; the sizes
    aggregate is key-cardinality-sized and broadcasts too — the only big
    shuffle is the intersection count keyed by the pair."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias(key_a), "h")
    b = sh.select(F.col("doc_id").alias(key_b), "h")
    inter = (
        F.broadcast(cands)
        .join(a, key_a)
        .join(b, [key_b, "h"])
        .groupBy(key_a, key_b)
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = sizes.select(F.col("doc_id").alias(key_a), F.col("n").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias(key_b), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sz_a), key_a)
        .join(F.broadcast(sz_b), key_b)
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document over word tokens (with multiplicity):
    bit j of the signature is the sign of Σ_tokens (±1 by token-hash bit j).
    One groupBy with 32 integer aggregates — single shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).select("doc_id", stable_uint60(F.col("w")).alias("h"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"s_{j}")
        for j in range(SIMHASH_BITS)
    ]
    sums = toks.groupBy("doc_id").agg(*aggs)
    sim = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else (sim + term)
    return sums.select("doc_id", sim.cast("bigint").alias("simhash"))


SIMHASH_BANDS = 4  # 4 × 8-bit blocks
SIMHASH_HAM_MAX = SIMHASH_BANDS - 1  # pigeonhole: full recall within radius 3


def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup retrieval — the candidate path ``simhash_docs``
    promises: band the 32-bit signature into 4 × 8-bit blocks, join on
    (block index, block value), verify candidates by exact hamming distance.

    The verify threshold equals bands-1, so pigeonhole makes the banded join
    EXACT for this radius: any pair at hamming ≤ 3 has ≥ 1 identical block
    and is guaranteed to surface (no recall loss, unlike probabilistic LSH).
    Cost is linear: band keys are 1-byte values, the join is an equi-join on
    (band_id, band_val), and only candidates reach the bit_count verify —
    the same shape that scales MinHash/LSH to 100 TB. Fully oracle-checkable
    (deterministic signature + integer hamming)."""
    width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << width) - 1
    sig = simhash_docs(spark, sf_dir)
    stack_args = ", ".join(
        f"{i}, shiftright(simhash, {i * width}) & {mask}" for i in range(SIMHASH_BANDS)
    )
    bands = sig.select(
        "doc_id",
        "simhash",
        F.expr(f"stack({SIMHASH_BANDS}, {stack_args}) AS (band_id, band_val)"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= SIMHASH_HAM_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


def near_dup_pairs_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup pipeline: MinHash/LSH candidate generation
    (linear) followed by exact Jaccard verification of ONLY the candidate
    pairs — the quadratic shingle self-join never materializes. At sf0.1
    this verifies dozens of pairs instead of joining 2M shingle rows.

    Semantics: the subset of ``ngram_jaccard_pairs`` whose pair was LSH-
    discoverable (the standard recall trade-off; banding parameters target
    J ≥ ~0.5). Oracle-checkable end to end."""
    # one shingle pass feeds signatures AND both verify joins — materialize
    # it once (at 100 TB this is a persisted intermediate table / shuffle
    # reuse; in-memory cache is the local[] rendering)
    from ..cachereg import persist_scoped

    sh = persist_scoped(_shingle_hashes(spark, sf_dir))
    cands = _near_dup_candidates(_signature_wide_from(sh))
    return _verify_candidate_pairs(sh, cands).select(
        "doc_a", "doc_b", "n_common", "jaccard"
    )


def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified near-dup pairs: cluster id =
    min doc_id reachable through the duplicate graph — the step that turns
    pairwise near-dup hits into dedup groups (keep one representative per
    cluster).

    Iterative min-label propagation: each round every node takes the min of
    its own label and its neighbors' labels; converges in O(graph diameter)
    rounds — near-dup components are small and dense, so 2-4 rounds in
    practice. Each round is one distributed join + aggregate;
    ``localCheckpoint`` truncates lineage so plans don't grow with rounds.
    The changed-row count is folded into the same pass (a ``changed`` flag
    aggregated off the checkpointed frame), so a round costs exactly one
    edge join + one node join — no extra convergence-check shuffle.
    The fixpoint is order-independent (min is commutative/associative), so
    the result is deterministic on any cluster size. The driver loop is
    control flow only — no data crosses to the driver except the 1-row
    convergence count."""
    pairs = near_dup_pairs_verified(spark, sf_dir).select("doc_a", "doc_b")
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    edges = fwd.union(rev).cache()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    while True:
        nbr_min = (
            edges.join(
                labels.select(F.col("id").alias("src"), F.col("label").alias("l")),
                "src",
            )
            .groupBy("dst")
            .agg(F.min("l").alias("nbr_min"))
        )
        stepped = (
            labels.join(nbr_min, labels.id == nbr_min.dst, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nbr_min", F.col("label"))
                ).alias("label"),
                (F.coalesce("nbr_min", F.col("label")) < F.col("label"))
                .cast("int")
                .alias("changed"),
            )
            .localCheckpoint()
        )
        changed = stepped.agg(F.sum("changed")).collect()[0][0]
        labels = stepped.select("id", "label")
        if not changed:
            break
    # labels is localCheckpointed — lineage no longer references the edge
    # cache, so release it here instead of leaking it into the session
    edges.unpersist()
    w = Window.partitionBy("cluster_id")
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")).withColumn(
        "cluster_size", F.count(F.lit(1)).over(w)
    )


def connected_components_lss(edges: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    O(log n) rounds on ANY graph shape, where min-label propagation
    (``near_dup_clusters``) needs O(diameter) rounds and loses badly on long
    chains. Every step is min/least arithmetic, so the fixpoint (each node
    labeled with its component's minimum id) is deterministic on any
    partitioning.

    ``edges``: (src, dst) directed pairs covering each undirected edge at
    least once; self-loops ignored. Returns (id, label).

    large-star hangs every larger neighbor of u off m(u) = min(N(u) ∪ {u});
    small-star re-hangs the smaller neighbors (and u itself). Both strictly
    shrink the potential Σ depth, and at the fixpoint the edge set is a star
    forest rooted at component minima. Convergence is detected with an exact
    two-aggregate checksum (count + sum of pair-hashes) — one extra scalar
    aggregate per round, no driver-side edge data. Raises ``RuntimeError``
    when ``max_rounds`` rounds pass without the checksum repeating: the
    labels would not be component minima yet."""
    E = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .distinct()
        .localCheckpoint()
    )

    def sym(e: DataFrame) -> DataFrame:
        return e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    def min_nbr(s: DataFrame) -> DataFrame:
        return (
            s.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
        )

    def checksum(e: DataFrame) -> tuple:
        # decimal accumulation: exact, order-independent, and immune to the
        # ANSI-mode long-overflow a plain sum of 64-bit hashes would hit
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(F.col("a"), F.col("b")).cast("decimal(38,0)")
            ).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    prev = checksum(E)
    for _ in range(max_rounds):
        s = sym(E)
        m = min_nbr(s)
        # one join, not two (round 15, guide §2.4): the large-star branch
        # (v > u → (v, m)) and the small-star re-hang (v < u → (v, m))
        # project the IDENTICAL columns from the same s ⋈ m join with
        # complementary filters, so their union is exactly that join
        # filtered to v != u — the previous two-branch union planned (and
        # ran) the join subtree once per branch, doubling every round's
        # join work for a bag-identical pre-distinct edge set.
        hang = (
            s.join(m, "u")
            .filter(F.col("v") != F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        E = (
            hang.union(m.filter(F.col("u") != F.col("m")).select(
                F.col("u").alias("a"), F.col("m").alias("b")
            ))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        cur = checksum(E)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_lss: no fixpoint after {max_rounds} "
            "rounds; the labels are not final"
        )

    return (
        sym(E)
        .groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(
            F.col("u").alias("id"),
            F.least(F.col("mn"), F.col("u")).alias("label"),
        )
    )


def near_dup_clusters_lss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``near_dup_clusters`` semantics via large-star/small-star — identical
    output (same fixpoint), O(log n) rounds instead of O(diameter); the
    variant to prefer when duplicate chains are long (boilerplate families,
    templated pages). Parity with the propagation version is pinned in
    tests; the oracle is the same recursive-CTE fixpoint."""
    pairs = near_dup_pairs_verified(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components_lss(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    w = Window.partitionBy("cluster_id")
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    ).withColumn("cluster_size", F.count(F.lit(1)).over(w))


# ─── DuckDB oracles ─────────────────────────────────────────────────────────

from ._oracle_fragments import duck_stable_uint60

_H60 = duck_stable_uint60("gram")

_SHINGLES_CTE = f"""
    words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(w) - {SHINGLE_N - 1}, 0)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS gram
      FROM words),
    sh AS (SELECT doc_id, {_H60} % {MINHASH_P} AS h FROM grams)
"""

_MINHASH_AGGS = ", ".join(
    f"min((h * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MINHASH_P}) AS mh_{i}"
    for i in range(NUM_HASHES)
)

_SIG_CTE = f"{_SHINGLES_CTE}, sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM sh GROUP BY doc_id)"

_N_BANDS = NUM_HASHES // BAND_ROWS
_BAND_KEYS = ", ".join(
    "concat_ws('-', "
    + ", ".join(f"mh_{band * BAND_ROWS + r}" for r in range(BAND_ROWS))
    + f") AS b_{band}"
    for band in range(_N_BANDS)
)
_BAND_UNION = " UNION ALL ".join(
    f"SELECT doc_id, {band} AS band_id, b_{band} AS band_key FROM keys"
    for band in range(_N_BANDS)
)

_SIMHASH_SUMS = ", ".join(
    f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{j}"
    for j in range(SIMHASH_BITS)
)
_SIMHASH_VALUE = " + ".join(
    f"(CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
)

ORACLES: dict[str, str] = {
    "ngram_jaccard_pairs": f"""
        WITH {_SHINGLES_CTE},
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_common,
               CAST(n_common AS DOUBLE) / (x.n + y.n - n_common) AS jaccard
        FROM inter
        JOIN sizes x ON doc_a = x.doc_id
        JOIN sizes y ON doc_b = y.doc_id
        WHERE CAST(n_common AS DOUBLE) / (x.n + y.n - n_common) >= {JACCARD_THRESHOLD}
    """,
    "minhash_signatures": f"""
        WITH {_SIG_CTE}
        SELECT doc_id, h_idx, minhash FROM (
          {" UNION ALL ".join(f"SELECT doc_id, {i} AS h_idx, mh_{i} AS minhash FROM sig" for i in range(NUM_HASHES))}
        )
    """,
    "near_dup_minhash": f"""
        WITH {_SIG_CTE},
        keys AS (SELECT doc_id, {_BAND_KEYS} FROM sig),
        bands AS ({_BAND_UNION})
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    """,
    "near_dup_pairs_verified": f"""
        WITH {_SIG_CTE},
        keys AS (SELECT doc_id, {_BAND_KEYS} FROM sig),
        bands AS ({_BAND_UNION}),
        cands AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a
          JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                      AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_common
          FROM cands c
          JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_common,
               CAST(n_common AS DOUBLE) / (x.n + y.n - n_common) AS jaccard
        FROM inter
        JOIN sizes x ON doc_a = x.doc_id
        JOIN sizes y ON doc_b = y.doc_id
        WHERE CAST(n_common AS DOUBLE) / (x.n + y.n - n_common) >= {JACCARD_THRESHOLD}
    """,
    "near_dup_clusters": f"""
        WITH RECURSIVE {_SIG_CTE},
        keys AS (SELECT doc_id, {_BAND_KEYS} FROM sig),
        bands AS ({_BAND_UNION}),
        cands AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a
          JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                      AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_common
          FROM cands c
          JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
          GROUP BY 1, 2),
        pairs AS (
          SELECT doc_a, doc_b
          FROM inter
          JOIN sizes x ON doc_a = x.doc_id
          JOIN sizes y ON doc_b = y.doc_id
          WHERE CAST(n_common AS DOUBLE) / (x.n + y.n - n_common)
                >= {JACCARD_THRESHOLD}),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION SELECT doc_b, doc_a FROM pairs),
        reach AS (
          SELECT DISTINCT src AS id, src AS label FROM edges
          UNION
          SELECT e.dst AS id, r.label
          FROM reach r JOIN edges e ON e.src = r.id),
        comp AS (SELECT id AS doc_id, min(label) AS cluster_id
                 FROM reach GROUP BY id)
        SELECT doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM comp
    """,
    "simhash_docs": f"""
        WITH toks AS (
          SELECT doc_id,
                 CAST('0x' || substr(sha256(unnest(string_split(text, ' '))), 1, 15) AS BIGINT) AS h
          FROM documents),
        sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM toks GROUP BY doc_id)
        SELECT doc_id, CAST({_SIMHASH_VALUE} AS BIGINT) AS simhash FROM sums
    """,
    "simhash_near_dup_pairs": f"""
        WITH toks AS (
          SELECT doc_id,
                 CAST('0x' || substr(sha256(unnest(string_split(text, ' '))), 1, 15) AS BIGINT) AS h
          FROM documents),
        sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM toks GROUP BY doc_id),
        sigs AS (SELECT doc_id, CAST({_SIMHASH_VALUE} AS BIGINT) AS simhash FROM sums),
        bands AS (
          SELECT doc_id, simhash, i AS band_id,
                 (simhash >> (i * {SIMHASH_BITS // SIMHASH_BANDS}))
                   & {(1 << (SIMHASH_BITS // SIMHASH_BANDS)) - 1} AS band_val
          FROM sigs
          CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS i) t),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.simhash AS sa, b.simhash AS sb
          FROM bands a
          JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
                      AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
        FROM cand
        WHERE bit_count(xor(sa, sb)) <= {SIMHASH_HAM_MAX}
    """,
}

# same fixpoint, same verification — the LSS variant shares the
# propagation version's oracle by construction
ORACLES["near_dup_clusters_lss"] = ORACLES["near_dup_clusters"]


def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-group representative selection — the curation step that runs
    right after near-dup clustering: within every duplicate cluster keep
    ONLY the highest-quality member (tiebreak: lowest doc_id). Composes
    two already-verified operators (``near_dup_clusters`` ∘ the shared
    ``quality_expr``), so the keep decision is quality-aware instead of
    the bare min-id rule the cluster labels use.

    Output: every clustered doc with (cluster_id, cluster_size, quality,
    kept) — downstream anti-joins ``kept = false`` doc_ids out of the
    corpus.

    Scale: the cluster frame holds near-dup hits only (≪ corpus); quality
    is zero-shuffle codegen over the documents scan joined on doc_id; the
    keep decision is one row_number window partitioned by cluster_id —
    cluster-sized partitions, no global sort."""
    from ..sources.io import load_table
    from .textops import quality_expr

    quality = load_table(spark, sf_dir, "documents").select(
        "doc_id", quality_expr(F.col("text")).alias("quality")
    )
    clusters = near_dup_clusters(spark, sf_dir)
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), "doc_id")
    return (
        clusters.join(quality, "doc_id")
        .withColumn("kept", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "cluster_size", "quality", "kept")
    )


def _cluster_representatives_oracle() -> str:
    """CC chain + the shared QUALITY_SQL fragment + per-cluster argmax."""
    from .textops import QUALITY_SQL

    return f"""
        SELECT c.doc_id, c.cluster_id, c.cluster_size, q.quality,
               (row_number() OVER (
                  PARTITION BY c.cluster_id
                  ORDER BY q.quality DESC, c.doc_id)) = 1 AS kept
        FROM ({ORACLES["near_dup_clusters"]}) c
        JOIN (SELECT doc_id, {QUALITY_SQL} AS quality FROM documents) q
          ON c.doc_id = q.doc_id
    """


ORACLES["cluster_representatives"] = _cluster_representatives_oracle()


def _span_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id = packed span key, h): distinct word-3-gram hashes per
    PARA_WORDS-word span — the shared ``textops.para_spans`` geometry fed
    into the SAME shingle/MinHash machinery the document tier uses (the
    packed key doubles as the ordering key, so every doc-keyed helper
    works unchanged at span granularity). Spans shorter than SHINGLE_N
    words carry no shingles — the shared Arrow kernel just skips them
    (the retired expression tree needed an explicit pre-filter because a
    non-positive slice length throws at runtime; the oracle's
    generate_series guard just emits no rows). Rides the SAME
    ``_shingle_hash_kernel`` as the document tier since round 14 — see
    ``_shingle_hashes`` for the value-identity argument."""
    from .textops import _PARA_PACK, para_spans

    spans = para_spans(spark, sf_dir).select(
        (F.col("doc_id") * _PARA_PACK + F.col("para_idx")).alias("doc_id"),
        F.col("para").alias("text"),
    )
    return spans.mapInPandas(
        _shingle_hash_kernel(), schema="doc_id long, h long"
    )


def near_dup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-granularity FUZZY near-dup — the RefinedWeb-style fuzzy line
    dedup complement of ``textops.dedup_paragraphs`` (which is exact at
    span level): MinHash/LSH candidate generation over PARA_WORDS-word
    spans followed by exact Jaccard verification of only the candidate
    pairs. Finds boilerplate that repeats with small edits (dates, ids)
    across or within documents, which exact span hashing misses.

    Same seeded coefficients, banding, and verify threshold as the
    document tier, so the recall trade-off is identical and the whole
    pipeline stays oracle-checkable. Downstream keep-first removal is the
    ``dedup_paragraphs`` reassembly keyed on the pair's min packed key.

    Scale: the span explode multiplies keys ~(words/PARA_WORDS)× but the
    shingle row count stays corpus-sized (each word contributes one gram
    start regardless of span split); signatures are one groupBy over the
    packed key (crypto-uniform); candidates never materialize the
    quadratic span cross-product — only band-bucket collisions reach the
    broadcast-verify join."""
    from ..cachereg import persist_scoped
    from .textops import _PARA_PACK

    sh = persist_scoped(_span_shingle_hashes(spark, sf_dir))
    cands = _near_dup_candidates(_signature_wide_from(sh))
    pack = F.lit(_PARA_PACK)
    return _verify_candidate_pairs(sh, cands).select(
        # integer DIV, never float division: a packed key above 2^53
        # would round across the integer boundary under `/` and
        # attribute the pair to the wrong document (the oracle's `//`
        # is exact; `%` on longs already is)
        F.expr(f"doc_a DIV {_PARA_PACK}").alias("doc_a"),
        (F.col("doc_a") % pack).alias("para_a"),
        F.expr(f"doc_b DIV {_PARA_PACK}").alias("doc_b"),
        (F.col("doc_b") % pack).alias("para_b"),
        "n_common",
        "jaccard",
    )


def _near_dup_paragraphs_oracle() -> str:
    """Shared span-geometry CTE (``textops.PARA_SPANS_SQL``) + the shared
    sig/band/verify SQL. Re-splitting ``para`` restores the span's token
    list exactly (single-space corpus, tokens carry no spaces) — the same
    equivalence the Spark side uses."""
    from .textops import _PARA_PACK, PARA_SPANS_SQL

    span_shingles = f"""{PARA_SPANS_SQL},
    spans AS (
      SELECT doc_id * {_PARA_PACK} + para_idx AS doc_id,
             string_split(para, ' ') AS w
      FROM para_spans),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(w) - {SHINGLE_N - 1}, 0)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS gram
      FROM spans),
    sh AS (SELECT doc_id, {_H60} % {MINHASH_P} AS h FROM grams)"""
    return f"""
        WITH {span_shingles},
        sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM sh GROUP BY doc_id),
        keys AS (SELECT doc_id, {_BAND_KEYS} FROM sig),
        bands AS ({_BAND_UNION}),
        cands AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a
          JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                      AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_common
          FROM cands c
          JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
          GROUP BY 1, 2)
        SELECT CAST(doc_a // {_PARA_PACK} AS BIGINT) AS doc_a,
               doc_a % {_PARA_PACK} AS para_a,
               CAST(doc_b // {_PARA_PACK} AS BIGINT) AS doc_b,
               doc_b % {_PARA_PACK} AS para_b,
               n_common,
               CAST(n_common AS DOUBLE) / (x.n + y.n - n_common) AS jaccard
        FROM inter
        JOIN sizes x ON doc_a = x.doc_id
        JOIN sizes y ON doc_b = y.doc_id
        WHERE CAST(n_common AS DOUBLE) / (x.n + y.n - n_common)
                >= {JACCARD_THRESHOLD}
    """


ORACLES["near_dup_paragraphs"] = _near_dup_paragraphs_oracle()


def dedup_paragraphs_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy span REMOVAL — the RefinedWeb fuzzy line-dedup end state:
    every span with a fuzzy-EARLIER twin (the later member of any verified
    ``near_dup_paragraphs`` pair) is dropped and each document is
    reassembled from its surviving spans, in order — the same output shape
    as the exact ``textops.dedup_paragraphs`` so the two removal tiers are
    drop-in comparable. Fuzzy removal contains exact removal only for
    spans with >= SHINGLE_N words: a jaccard-1 pair of such spans is
    exactly a cross-span duplicate the exact tier drops, but exact
    duplicates SHORTER than SHINGLE_N words carry no shingles and are
    invisible to the fuzzy tier (exact-tier-only) — the containment test
    encodes this carve-out (``tests/test_paragraph_dedup.py``,
    ``short_dups``).

    Removal rule: greedy earliest-wins per PAIR (not per cluster) — a span
    is dropped iff any earlier span is near-identical to it. This is the
    standard one-pass production rule; it can drop a chain member whose
    own earlier twin was itself dropped (A~B, B~C, A≁C drops both B and
    C), which is the conservative direction for training data. Mirrored
    exactly in the oracle.

    Scale: the pair frame is near-dup hits only (≪ span count) and joins
    back as a broadcast anti-key set; reassembly is the shared doc-keyed
    aggregate (``textops.reassemble_spans``)."""
    from .textops import para_spans, reassemble_spans

    dropped = (
        near_dup_paragraphs(spark, sf_dir)
        .select(
            F.col("doc_b").alias("doc_id"), F.col("para_b").alias("para_idx")
        )
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    flagged = (
        para_spans(spark, sf_dir)
        .join(F.broadcast(dropped), ["doc_id", "para_idx"], "left")
        .withColumn("kept", F.col("is_dup").isNull())
    )
    return reassemble_spans(flagged)


def _dedup_paragraphs_fuzzy_oracle() -> str:
    """Compose the verified-pair oracle with the shared span CTE and the
    shared reassembly SELECT (``textops.PARA_SPANS_SQL`` /
    ``span_reassembly_select``)."""
    from .textops import PARA_SPANS_SQL, span_reassembly_select

    return f"""
        WITH pairs AS ({ORACLES["near_dup_paragraphs"]}),
        dropped AS (SELECT DISTINCT doc_b AS doc_id, para_b AS para_idx
                    FROM pairs),
        {PARA_SPANS_SQL},
        k AS (
          SELECT p.doc_id, p.para_idx, p.para,
                 d.doc_id IS NULL AS kept
          FROM para_spans p LEFT JOIN dropped d
            ON p.doc_id = d.doc_id AND p.para_idx = d.para_idx)
        {span_reassembly_select('k')}
    """


ORACLES["dedup_paragraphs_fuzzy"] = _dedup_paragraphs_fuzzy_oracle()


#: deterministic snapshot split for the incremental entry: docs with
#: doc_id % INCR_MOD == 0 play the NEW ingest batch, the rest the EXISTING
#: corpus index — content-independent, mirrored exactly in the oracle.
INCR_MOD = 4


def dedup_docs_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — the daily-crawl production shape: classify
    every NEW document against the EXISTING corpus without re-deduplicating
    the corpus itself. Verdict per new doc: ``exact_dup`` (its content hash
    exists in the index), else ``near_dup`` (an LSH band collision with an
    existing doc verifies at Jaccard ≥ threshold), else ``unique``.

    At 100 TB the existing side is a MATERIALIZED index (content
    fingerprints + LSH band rows), built once and appended per batch —
    exactly the tables this plan derives; the new-batch side is small, so
    both classification joins broadcast the batch in production. Here the
    deterministic ``doc_id % INCR_MOD`` split stands in for snapshot vs
    batch so the whole pipeline is oracle-checkable.

    Candidate verification reuses the document tier's shingle machinery:
    only (new, existing) band collisions reach the Jaccard join — the
    new×existing cross-product never materializes."""
    from ..cachereg import persist_scoped

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % INCR_MOD == 0
    new_ids = docs.filter(is_new).select("doc_id")
    new_fp = docs.filter(is_new).select(
        "doc_id", F.sha2(F.col("text"), 256).alias("fp")
    )
    old_fp = (
        docs.filter(~is_new)
        .select(F.sha2(F.col("text"), 256).alias("fp"))
        .distinct()
    )
    exact = new_fp.join(old_fp, "fp", "left_semi").select("doc_id")

    sh = persist_scoped(_shingle_hashes(spark, sf_dir))
    k = F.col("doc_id") % INCR_MOD == 0
    bands_new = band_rows(_signature_wide_from(sh.filter(k)))
    bands_old = band_rows(_signature_wide_from(sh.filter(~k)))
    a, b = bands_new.alias("a"), bands_old.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(
            F.col("a.doc_id").alias("doc_new"), F.col("b.doc_id").alias("doc_old")
        )
        .distinct()
    )
    near = (
        _verify_candidate_pairs(sh, cands, "doc_new", "doc_old")
        .select(F.col("doc_new").alias("doc_id"))
        .distinct()
    )
    return (
        new_ids.join(
            exact.withColumn("is_exact", F.lit(True)), "doc_id", "left"
        )
        .join(near.withColumn("is_near", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact"), F.lit("exact_dup"))
            .when(F.col("is_near"), F.lit("near_dup"))
            .otherwise(F.lit("unique"))
            .alias("verdict"),
        )
    )


def _dedup_docs_incremental_oracle() -> str:
    return f"""
        WITH {_SHINGLES_CTE},
        sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM sh GROUP BY doc_id),
        keys AS (SELECT doc_id, {_BAND_KEYS} FROM sig),
        bands AS ({_BAND_UNION}),
        news AS (SELECT doc_id FROM documents WHERE doc_id % {INCR_MOD} = 0),
        exact AS (
          SELECT DISTINCT n.doc_id
          FROM documents n JOIN documents o
            ON sha256(n.text) = sha256(o.text)
          WHERE n.doc_id % {INCR_MOD} = 0 AND o.doc_id % {INCR_MOD} != 0),
        cands AS (
          SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_old
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
          WHERE a.doc_id % {INCR_MOD} = 0 AND b.doc_id % {INCR_MOD} != 0),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_new, c.doc_old, count(*) AS n_common
          FROM cands c
          JOIN sh a ON a.doc_id = c.doc_new
          JOIN sh b ON b.doc_id = c.doc_old AND b.h = a.h
          GROUP BY 1, 2),
        near AS (
          SELECT DISTINCT doc_new AS doc_id
          FROM inter
          JOIN sizes x ON doc_new = x.doc_id
          JOIN sizes y ON doc_old = y.doc_id
          WHERE CAST(n_common AS DOUBLE) / (x.n + y.n - n_common)
                  >= {JACCARD_THRESHOLD})
        SELECT d.doc_id,
               CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                    WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                    ELSE 'unique' END AS verdict
        FROM news d
        LEFT JOIN exact e ON d.doc_id = e.doc_id
        LEFT JOIN near nr ON d.doc_id = nr.doc_id
    """


ORACLES["dedup_docs_incremental"] = _dedup_docs_incremental_oracle()


def decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination — the near-verbatim complement of
    ``curation.decontaminate_overlap``: a training-corpus document is
    contaminated when it is a MinHash near-duplicate (word-3-gram Jaccard
    ≥ JACCARD_THRESHOLD) of ANY held-out benchmark document, catching
    lightly-edited eval leaks that the exact 4-gram overlap rate dilutes.
    Benchmark = the same content-keyed test split (pct ≥ SPLIT_VAL) the
    exact tier uses, so the two tiers are drop-in comparable; in
    production the benchmark side is the external eval-suite table.

    Returns one row per CORPUS document: (doc_id, n_bench_matches,
    max_jaccard, contaminated) — max_jaccard 0.0 when nothing matched.

    Plan: one shingle explode feeds the signature aggregate and the
    verify stage (scoped persist); the candidate join is LSH band-keyed
    BETWEEN the corpus and benchmark splits only (never corpus×corpus);
    verified hits are ≪ corpus, so the final per-doc aggregate and the
    left join back onto corpus ids are broadcast-sized. The band join
    carries NO broadcast hint: with the demo's in-corpus 10% split the
    bench side is corpus-proportional (a forced broadcast would OOM at
    100 TB), so the join strategy is left to AQE — in production, where
    the bench side is an external MB-sized eval-suite table, AQE picks
    the build-once broadcast and the corpus side streams through, the
    same asymmetry the streaming near-dup filter exploits."""
    from ..cachereg import persist_scoped
    from .sampling import SPLIT_VAL

    docs = load_table(spark, sf_dir, "documents")
    split = docs.select(
        "doc_id", (stable_uint60(F.col("text")) % 100).alias("pct")
    )
    sh = persist_scoped(_shingle_hashes(spark, sf_dir))
    wide = _signature_wide_from(sh)
    bands = band_rows(wide).join(split, "doc_id")
    bc = bands.filter(F.col("pct") < SPLIT_VAL).drop("pct")
    bb = bands.filter(F.col("pct") >= SPLIT_VAL).drop("pct")
    cands = (
        bc.alias("c")
        .join(
            bb.alias("b"),
            (F.col("c.band_id") == F.col("b.band_id"))
            & (F.col("c.band_key") == F.col("b.band_key")),
        )
        .select(
            F.col("c.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("bench_id"),
        )
        .distinct()
    )
    hits = _verify_candidate_pairs(sh, cands, "doc_id", "bench_id")
    per_doc = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bench_matches"),
        F.max("jaccard").alias("max_jaccard"),
    )
    corpus_ids = split.filter(F.col("pct") < SPLIT_VAL).select("doc_id")
    return corpus_ids.join(F.broadcast(per_doc), "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bench_matches", F.lit(0)).alias("n_bench_matches"),
        F.coalesce("max_jaccard", F.lit(0.0)).alias("max_jaccard"),
        F.col("n_bench_matches").isNotNull().alias("contaminated"),
    )


def _decontaminate_fuzzy_oracle() -> str:
    from ._oracle_fragments import duck_stable_uint60
    from .sampling import SPLIT_VAL

    pct = f"{duck_stable_uint60('text')} % 100"
    return f"""
        WITH {_SIG_CTE},
        split AS (SELECT doc_id, {pct} AS pct FROM documents),
        keys AS (SELECT doc_id, {_BAND_KEYS} FROM sig),
        bands AS ({_BAND_UNION}),
        bc AS (SELECT b.* FROM bands b JOIN split s ON b.doc_id = s.doc_id
               WHERE s.pct < {SPLIT_VAL}),
        bb AS (SELECT b.* FROM bands b JOIN split s ON b.doc_id = s.doc_id
               WHERE s.pct >= {SPLIT_VAL}),
        cands AS (
          SELECT DISTINCT c.doc_id, b.doc_id AS bench_id
          FROM bc c JOIN bb b
            ON c.band_id = b.band_id AND c.band_key = b.band_key),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_id, c.bench_id, count(*) AS n_common
          FROM cands c
          JOIN sh a ON a.doc_id = c.doc_id
          JOIN sh b ON b.doc_id = c.bench_id AND b.h = a.h
          GROUP BY 1, 2),
        hits AS (
          SELECT doc_id, count(*) AS n_bench_matches,
                 max(jac) AS max_jaccard
          FROM (
            SELECT i.doc_id,
                   CAST(n_common AS DOUBLE) / (x.n + y.n - n_common) AS jac
            FROM inter i
            JOIN sizes x ON i.doc_id = x.doc_id
            JOIN sizes y ON i.bench_id = y.doc_id
            WHERE CAST(n_common AS DOUBLE) / (x.n + y.n - n_common)
                  >= {JACCARD_THRESHOLD})
          GROUP BY doc_id)
        SELECT s.doc_id,
               CAST(coalesce(h.n_bench_matches, 0) AS BIGINT)
                 AS n_bench_matches,
               coalesce(h.max_jaccard, 0.0) AS max_jaccard,
               h.n_bench_matches IS NOT NULL AS contaminated
        FROM split s LEFT JOIN hits h ON s.doc_id = h.doc_id
        WHERE s.pct < {SPLIT_VAL}
    """


ORACLES["decontaminate_fuzzy"] = _decontaminate_fuzzy_oracle()


def near_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census over the VERIFIED near-dup graph — the dedup-audit
    read behind cluster quality: a triangle (three docs pairwise verified
    ≥ threshold) marks a DENSE duplicate family whose representative
    choice is safe, while a long path without triangles marks chain-drift
    (A~B~C with A̸~C), the classic false-merge hazard of transitive
    clustering. Returns each triangle once as ``(doc_a, doc_b, doc_c)``
    with doc_a < doc_b < doc_c.

    Plan: the verified-pair frame (already canonical doc_a < doc_b) is
    persisted once — the expensive LSH+verify sub-DAG never re-runs — and
    the census is two equi-joins over it: e1=(a,b) ⋈ e2=(b,c) ⋈ e3=(a,c).
    The pair graph is duplicate-family-sized (orders smaller than the
    corpus), and near-dup degree is bounded by family size, so the wedge
    explosion the node-iterator algorithm fears has no fuel here; at true
    web scale the standard degree-ordered orientation applies unchanged
    because pairs are already stored low-id-first."""
    from ..cachereg import persist_scoped

    pairs = persist_scoped(
        near_dup_pairs_verified(spark, sf_dir).select("doc_a", "doc_b")
    )
    e2 = pairs.select(
        F.col("doc_a").alias("b2"), F.col("doc_b").alias("doc_c")
    )
    e3 = pairs.select(
        F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3")
    )
    return (
        pairs.join(e2, pairs.doc_b == e2.b2)
        .join(
            e3,
            (F.col("doc_a") == F.col("a3")) & (F.col("doc_c") == F.col("c3")),
        )
        .select("doc_a", "doc_b", "doc_c")
    )


ORACLES["near_dup_triangles"] = f"""
    WITH pairs AS MATERIALIZED (
        {ORACLES["near_dup_pairs_verified"]}
    )
    SELECT e1.doc_a, e1.doc_b, e2.doc_b AS doc_c
    FROM pairs e1
    JOIN pairs e2 ON e2.doc_a = e1.doc_b
    JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
"""


def jaccard_join_prefix_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT threshold-Jaccard self-join via prefix filtering (the
    AllPairs/PPJoin candidate bound of Bayardo et al. 2007 / Xiao et al.
    2008) — same output contract as ``ngram_jaccard_pairs`` (every pair
    with word-3-gram Jaccard ≥ 0.5, exact scores), but the candidate set
    comes from joining only each document's PREFIX tokens instead of every
    token.

    The bound: order each doc's tokens by ascending global document
    frequency (rarest first, ties by hash). If J(a,b) ≥ t then the overlap
    is ≥ ceil(t·n_a), so at most n_a − ceil(t·n_a) of a's tokens are
    non-shared — by pigeonhole every qualifying pair shares a token within
    each side's first ``n − ceil(t·n) + 1`` tokens. Joining prefixes only
    is therefore LOSSLESS for the threshold, and because prefixes hold the
    RAREST tokens, the join's collision volume collapses (frequent tokens
    — the quadratic blowup in a full token self-join — never enter it).
    Survivors are verified with the shared exact-Jaccard stage.

    Correctness gate: the oracle is the BRUTE-FORCE all-pairs SQL
    (byte-identical to ``ngram_jaccard_pairs``'s), so every driver round
    re-proves the filter's completeness — a lost candidate would
    hash-mismatch immediately.

    100 TB: this is the EXACT-join scale path beside the probabilistic
    LSH tier — prefix join volume is bounded by rare-token collision
    counts (df-ordered prefixes make hot tokens non-join-keys), and the
    df table is token-vocabulary-sized. ngram_jaccard_pairs stays as the
    small-corpus ground-truth tier."""
    from ..cachereg import persist_scoped

    sh = persist_scoped(_shingle_hashes(spark, sf_dir))
    df = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    w_pos = Window.partitionBy("doc_id").orderBy("df", "h")
    ranked = (
        sh.join(df, "h")
        .withColumn("pos", F.row_number().over(w_pos))
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        )
    )
    # prefix length n − ceil(t·n) + 1 at t = JACCARD_THRESHOLD = 0.5:
    # ceil(n/2) = (n+1) div 2, all-integer. Persisted: the self-join below
    # otherwise plans the join+window subtree once per side (round-14 plan
    # capture: 4 Window nodes; same-session A/B 5.54 → 5.28 s at sf0.1).
    prefix = persist_scoped(
        ranked.filter(
            F.col("pos") <= F.col("n") - F.expr("(n + 1) div 2") + F.lit(1)
        ).select("doc_id", "h")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _verify_candidate_pairs(sh, cands).select(
        "doc_a", "doc_b", "n_common", "jaccard"
    )


# the brute-force SQL IS the oracle: output equality proves the prefix
# filter lost no pair (completeness), every driver round
ORACLES["jaccard_join_prefix_filtered"] = ORACLES["ngram_jaccard_pairs"]


def lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(n_true, n_candidates, n_found, recall_ppb, precision_ppb)`` —
    the banding-loss evaluation every LSH deployment owes its users: the
    exact threshold-Jaccard pair set (``ngram_jaccard_pairs`` semantics,
    the quadratic ground-truth tier) compared against the production
    pipeline's LSH candidates and their verified survivors. ``recall``
    = verified LSH pairs / true pairs (what banding loses);
    ``precision`` = verified / raw candidates (what the exact-verify
    stage filters). Both as EXACT integer parts-per-billion of exact
    counts — cross-engine deterministic, NULL (not a crash) on an empty
    denominator.

    One shingle pass feeds ALL tiers (truth self-join sides + size
    aggregate + signatures + verify joins) via the scoped persist. At
    100 TB this evaluation runs on a held-out SAMPLE — the quadratic
    truth tier is the evaluation's cost, not the pipeline's — and the
    report is the recall-vs-threshold evidence for choosing banding
    parameters (same discipline as ``ann_recall_contracts`` for ANN)."""
    from ..cachereg import persist_scoped

    sh = persist_scoped(_shingle_hashes(spark, sf_dir))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    truth = (
        inter.join(F.broadcast(sz_a), "doc_a")
        .join(F.broadcast(sz_b), "doc_b")
        .filter(
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            >= JACCARD_THRESHOLD
        )
        .select("doc_a", "doc_b")
    )
    cands = _near_dup_candidates(_signature_wide_from(sh))
    found = _verify_candidate_pairs(sh, cands).select("doc_a", "doc_b")
    flagged = truth.join(
        found.withColumn("hit", F.lit(1)), ["doc_a", "doc_b"], "left"
    )
    counts = flagged.agg(
        F.count(F.lit(1)).alias("n_true"),
        # outer coalesce: SUM over zero rows is NULL in Spark but the
        # oracle's count(fp.doc_a) is 0 — pin both engines to 0 on an
        # empty truth set (ADVICE r10)
        F.coalesce(
            F.sum(F.coalesce("hit", F.lit(0))), F.lit(0).cast("bigint")
        ).alias("n_found"),
    ).crossJoin(
        F.broadcast(cands.agg(F.count(F.lit(1)).alias("n_candidates")))
    )
    return counts.select(
        "n_true",
        "n_candidates",
        "n_found",
        F.expr(
            "CASE WHEN n_true = 0 THEN NULL "
            "ELSE (1000000000 * n_found) div n_true END"
        ).alias("recall_ppb"),
        F.expr(
            "CASE WHEN n_candidates = 0 THEN NULL "
            "ELSE (1000000000 * n_found) div n_candidates END"
        ).alias("precision_ppb"),
    )


ORACLES["lsh_recall_report"] = f"""
    WITH truth AS ({ORACLES["ngram_jaccard_pairs"]}),
    cands AS ({ORACLES["near_dup_minhash"]}),
    foundp AS ({ORACLES["near_dup_pairs_verified"]}),
    f AS (
      SELECT count(*) AS n_true,
             count(fp.doc_a) AS n_found
      FROM truth t
      LEFT JOIN foundp fp ON t.doc_a = fp.doc_a AND t.doc_b = fp.doc_b),
    c AS (SELECT count(*) AS n_candidates FROM cands)
    SELECT CAST(n_true AS BIGINT) AS n_true,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_found AS BIGINT) AS n_found,
           CASE WHEN n_true = 0 THEN NULL
                ELSE CAST((1000000000 * n_found) // n_true AS BIGINT)
           END AS recall_ppb,
           CASE WHEN n_candidates = 0 THEN NULL
                ELSE CAST((1000000000 * n_found) // n_candidates AS BIGINT)
           END AS precision_ppb
    FROM f, c
"""


def duplicate_mass_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(n_docs, n_distinct_texts, n_exact_dup_docs, exact_dup_ppb,
    n_near_dup_pairs, n_near_dup_docs, near_dup_doc_ppb)`` — the one-row
    corpus duplicate-mass readout every dedup paper leads with: how much
    of the corpus is byte-identical duplicate mass (docs beyond one copy
    per distinct text), and how much carries a verified near-duplicate
    (docs incident to ≥1 pair with word-3-gram Jaccard ≥ 0.5 from the
    production LSH+verify pipeline). Ratios are EXACT integer
    parts-per-billion of exact counts.

    Plan: one sha2-distinct aggregate (the exact tier's single shuffle)
    plus the LSH pipeline's pair frame reduced to an incident-doc count —
    both corpus-linear; the quadratic tier never runs. The near-dup
    figure counts GRAPH MEMBERS (docs with at least one verified
    partner), the well-defined linear-time mass statistic; per-cluster
    removable counts live with ``near_dup_clusters``/
    ``cluster_representatives`` where the component structure is
    actually materialized."""
    from ..cachereg import persist_scoped

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    exact = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.sha2(F.col("text"), 256)).alias(
            "n_distinct_texts"
        ),
    )
    sh = persist_scoped(_shingle_hashes(spark, sf_dir))
    pairs = _verify_candidate_pairs(
        sh, _near_dup_candidates(_signature_wide_from(sh))
    ).select("doc_a", "doc_b")
    pairs = persist_scoped(pairs)  # feeds the pair count AND the member set
    members = (
        pairs.select(F.col("doc_a").alias("d"))
        .unionByName(pairs.select(F.col("doc_b").alias("d")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_near_dup_docs"))
    )
    npairs = pairs.agg(F.count(F.lit(1)).alias("n_near_dup_pairs"))
    return (
        exact.crossJoin(F.broadcast(npairs))
        .crossJoin(F.broadcast(members))
        .select(
            "n_docs",
            "n_distinct_texts",
            (F.col("n_docs") - F.col("n_distinct_texts")).alias(
                "n_exact_dup_docs"
            ),
            F.expr(
                "CASE WHEN n_docs = 0 THEN NULL ELSE "
                "(1000000000 * (n_docs - n_distinct_texts)) div n_docs END"
            ).alias("exact_dup_ppb"),
            "n_near_dup_pairs",
            "n_near_dup_docs",
            F.expr(
                "CASE WHEN n_docs = 0 THEN NULL ELSE "
                "(1000000000 * n_near_dup_docs) div n_docs END"
            ).alias("near_dup_doc_ppb"),
        )
    )


ORACLES["duplicate_mass_report"] = f"""
    WITH foundp AS ({ORACLES["near_dup_pairs_verified"]}),
    exact AS (
      SELECT count(*) AS n_docs,
             count(DISTINCT sha256(text)) AS n_distinct_texts
      FROM documents WHERE text IS NOT NULL),
    members AS (
      SELECT count(*) AS n_near_dup_docs FROM (
        SELECT doc_a AS d FROM foundp UNION SELECT doc_b FROM foundp)),
    np AS (SELECT count(*) AS n_near_dup_pairs FROM foundp)
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_distinct_texts AS BIGINT) AS n_distinct_texts,
           CAST(n_docs - n_distinct_texts AS BIGINT) AS n_exact_dup_docs,
           CASE WHEN n_docs = 0 THEN NULL
                ELSE CAST((1000000000 * (n_docs - n_distinct_texts))
                          // n_docs AS BIGINT) END AS exact_dup_ppb,
           CAST(n_near_dup_pairs AS BIGINT) AS n_near_dup_pairs,
           CAST(n_near_dup_docs AS BIGINT) AS n_near_dup_docs,
           CASE WHEN n_docs = 0 THEN NULL
                ELSE CAST((1000000000 * n_near_dup_docs) // n_docs
                          AS BIGINT) END AS near_dup_doc_ppb
    FROM exact, members, np
"""


#: planted-pair eval knobs: originals = doc_id < PLANT_MAX_ID with at
#: least PLANT_MIN_WORDS whitespace tokens (so the perturbed variant
#: still has shingles); the perturbation drops every PLANT_DROP_EVERY-th
#: token (1-based positions); variants live at doc_id + PLANT_OFFSET.
#: Shared verbatim by the oracle. The id space >= PLANT_OFFSET is
#: RESERVED for variants: both engines filter the input corpus to
#: doc_id < PLANT_OFFSET, so a real document in the variant range can
#: never collide with a plant and silently merge shingle sets
#: (ADVICE round 12).
PLANT_MAX_ID = 64
PLANT_MIN_WORDS = 25
PLANT_DROP_EVERY = 7
PLANT_OFFSET = 10_000_000


def planted_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END recall eval for the MinHash pipeline on PLANTED ground
    truth: deterministically perturb a slice of real documents (drop
    every 7th token — a known-similarity near-duplicate, unlike the
    corpus's accidental pairs), add the variants to the corpus, run the
    UNCHANGED shingle → signature → banding kernels over the union, and
    report per planted pair whether the banding surfaced it. This is
    the recall lens ``lsh_recall_report`` can't give: there the truth
    set is whatever the corpus happens to contain; here the pair's
    existence and construction are controlled, so a banding regression
    shows up as a flipped ``band_hit`` on a KNOWN row.

    One row per planted pair: ``(doc_id, n_grams_orig, n_grams_variant,
    n_common, jaccard_ppb, band_hit)`` — jaccard is the exact integer
    ppb of the true gram overlap; band_hit the candidate-join verdict.
    A 1-in-7 token drop kills up to SHINGLE_N grams per dropped token,
    landing the planted jaccard at ≈0.44–0.58 (median ≈0.48 at
    sf0.01) — DELIBERATELY straddling the J=0.5 banding knee, the
    steepest (most regression-sensitive) point of the 4×4 S-curve. The
    observed hit pattern (14/55 at sf0.01, matching the theoretical
    ≈20% collision probability at J≈0.48) is a deterministic function
    of the seeded permutations, pinned row-by-row by the oracle and the
    exact signature replay in ``tests/test_round11_late2.py``.

    Scale: the planted slice is a CONSTANT-size frame (≤ PLANT_MAX_ID
    docs); the union corpus pays one extra KB-scale scan; everything
    downstream is the production pipeline's own cost (one doc_id-keyed
    signature aggregate, the banded self-join). Nothing quadratic. The
    corpus is filtered to ``doc_id < PLANT_OFFSET`` (reserved variant id
    space — see the knob block) so the eval stays collision-free at any
    corpus scale; both engines apply the identical filter."""
    from ..cachereg import persist_scoped

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("doc_id") < PLANT_OFFSET)
    )
    w = F.split(F.col("text"), " ")
    orig = docs.filter(
        (F.col("doc_id") < PLANT_MAX_ID)
        & (F.size(w) >= PLANT_MIN_WORDS)
    )
    # keep 0-based positions i with (i+1) % E != 0 — identical to the
    # oracle's 1-based i % E != 0
    kept = F.filter(
        F.split(F.col("text"), " "),
        lambda x, i: (i + 1) % PLANT_DROP_EVERY != 0,
    )
    variants = orig.select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        F.concat_ws(" ", kept).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(variants)
    # same shared Arrow shingle kernel as _shingle_hashes (round 14);
    # spread like it too — the union of two one-split scans is 2
    # partitions (round 15, see spread_narrow_scan)
    from ..sources.io import spread_narrow_scan

    sh = persist_scoped(
        spread_narrow_scan(corpus, "doc_id").mapInPandas(
            _shingle_hash_kernel(), schema="doc_id long, h long"
        )
    )
    cands = _near_dup_candidates(_signature_wide_from(sh))
    planted = orig.select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_b"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        F.broadcast(planted)
        .join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(
            b,
            (F.col("b.doc_id") == F.col("doc_b"))
            & (F.col("b.h") == F.col("a.h")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        planted.join(
            F.broadcast(
                sizes.withColumnsRenamed({"doc_id": "doc_a", "n": "n_a"})
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                sizes.withColumnsRenamed({"doc_id": "doc_b", "n": "n_b"})
            ),
            "doc_b",
        )
        .join(F.broadcast(inter), ["doc_a", "doc_b"], "left")
        # semi-restrict the corpus-mass-sized candidate frame to the
        # constant planted slice BEFORE broadcasting (review finding,
        # round 11): only planted pairs can survive the join anyway
        .join(
            F.broadcast(
                cands.join(F.broadcast(planted), ["doc_a", "doc_b"])
                .withColumn("hit", F.lit(True))
            ),
            ["doc_a", "doc_b"],
            "left",
        )
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("n_a").alias("n_grams_orig"),
            F.col("n_b").alias("n_grams_variant"),
            F.coalesce("n_common", F.lit(0).cast("long")).alias("n_common"),
            F.expr(
                "(1000000000 * coalesce(n_common, 0))"
                " div (n_a + n_b - coalesce(n_common, 0))"
            ).alias("jaccard_ppb"),
            F.coalesce("hit", F.lit(False)).alias("band_hit"),
        )
    )


ORACLES["planted_neardup_recall"] = f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      WHERE text IS NOT NULL AND doc_id < {PLANT_OFFSET}),
    plant_src AS (
      SELECT doc_id, string_split(text, ' ') AS pw FROM base
      WHERE doc_id < {PLANT_MAX_ID}
        AND len(string_split(text, ' ')) >= {PLANT_MIN_WORDS}),
    variants AS (
      SELECT doc_id + {PLANT_OFFSET} AS doc_id,
             array_to_string(
               list_filter(pw, (x, i) -> i % {PLANT_DROP_EVERY} != 0),
               ' ') AS text
      FROM plant_src),
    corpus AS (
      SELECT doc_id, text FROM base
      UNION ALL SELECT doc_id, text FROM variants),
    words AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(w) - {SHINGLE_N - 1}, 0)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS gram
      FROM words),
    sh AS (SELECT doc_id, {_H60} % {MINHASH_P} AS h FROM grams),
    sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM sh GROUP BY doc_id),
    keys AS (SELECT doc_id, {_BAND_KEYS} FROM sig),
    bands AS ({_BAND_UNION}),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id),
    planted AS (
      SELECT doc_id AS doc_a, doc_id + {PLANT_OFFSET} AS doc_b
      FROM plant_src),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.doc_a, p.doc_b, count(*) AS n_common
      FROM planted p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b AND b.h = a.h
      GROUP BY 1, 2)
    SELECT p.doc_a AS doc_id,
           CAST(x.n AS BIGINT) AS n_grams_orig,
           CAST(y.n AS BIGINT) AS n_grams_variant,
           CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
           CAST((1000000000 * coalesce(i.n_common, 0))
                // (x.n + y.n - coalesce(i.n_common, 0)) AS BIGINT)
             AS jaccard_ppb,
           c.doc_a IS NOT NULL AS band_hit
    FROM planted p
    JOIN sizes x ON x.doc_id = p.doc_a
    JOIN sizes y ON y.doc_id = p.doc_b
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    LEFT JOIN cands c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
"""
