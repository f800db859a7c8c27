"""Registry bookkeeping tripwires (VERDICT r9 item 3).

The staleness rotation the driver window depends on is ORDER-sensitive:
a duplicate key later in the ``queries()`` dict literal silently shadows
the earlier (checked-position) entry — Python keeps the first position
but the LAST value, so a duplicate that maps to a DIFFERENT function
would swap what the driver actually checks without any visible failure.
Round 9 shipped a harmless instance (both values identical); these tests
make the next one a hard failure.
"""

from __future__ import annotations

import ast
import os

ENTRY_PATH = os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")


def _queries_literal_keys() -> list[str]:
    """String keys of the dict literal returned by ``queries()``, in
    source order (spread entries like ``**sqlapi.QUERIES`` excluded)."""
    tree = ast.parse(open(ENTRY_PATH).read())
    fn = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "queries"
    )
    ret = next(n for n in ast.walk(fn) if isinstance(n, ast.Return))
    assert isinstance(ret.value, ast.Dict)
    return [
        k.value
        for k in ret.value.keys
        if isinstance(k, ast.Constant) and isinstance(k.value, str)
    ]


def test_no_duplicate_literal_keys():
    keys = _queries_literal_keys()
    seen: set[str] = set()
    dups = [k for k in keys if k in seen or seen.add(k)]
    assert not dups, f"duplicate queries() keys shadow checked entries: {dups}"


def test_spread_does_not_collide_with_literals():
    """The ``**sqlapi.QUERIES`` spread must not shadow (or be shadowed by)
    any literal key: the runtime dict must be exactly literals + spread."""
    import __spark_entry__ as e
    from pulsar_topic_deduplicator_spark.operators import sqlapi

    literal = _queries_literal_keys()
    runtime = e.queries()
    assert not set(literal) & set(sqlapi.QUERIES), (
        "literal key collides with sqlapi.QUERIES spread"
    )
    assert len(runtime) == len(literal) + len(sqlapi.QUERIES)


def test_every_oracle_has_a_query():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    orphans = set(os_) - set(qs)
    assert not orphans, f"oracles without a queries() entry: {orphans}"


#: the only entries allowed to lack an oracle — rows-only RAW surface,
#: each value-checked through an oracle-pinned contract twin.
#: (stream_near_dup left this set in round 13: its bounded single-batch
#: run is fully deterministic and the greedy rule is batch-expressible,
#: so it carries a FULL value oracle now — VERDICT r12 item 6.)
ROWS_ONLY_RAW = frozenset(
    {
        # the ONE remaining rows-only raw (round 14): cross-engine GK
        # sketch internals; its exact p50 twin is oracle-checked. The
        # ann/ivf/pq/semantic codebook tier left the raw set in round 14
        # (fixed-point Lloyd updates → bit-reproducible codebooks).
        "approx_quantiles_value",
    }
)

#: single source of truth for the registry size — BASELINE.md / SURVEY §8
#: must quote these numbers (VERDICT r10 item 4: the docs drifted once)
EXPECTED_QUERIES = 274
EXPECTED_ORACLES = 273


def test_oracle_less_entries_are_exactly_the_documented_raw_set():
    """Every queries() entry must carry an oracle UNLESS it is in the
    documented rows-only RAW set (no oracle BY DESIGN; contract twins
    carry the value checks) — one entry since round 14. This tripwire
    catches any ACCIDENTAL oracle-less entry."""
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(qs) - set(os_) == ROWS_ONLY_RAW


def test_registry_counts_match_the_documented_ledger():
    """len(queries()) / len(oracle_sql()) are quoted in BASELINE.md and
    SURVEY §8 — pin them so the docs cannot drift from the executed
    registry again (VERDICT r10 item 4)."""
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert len(qs) == EXPECTED_QUERIES, len(qs)
    assert len(os_) == EXPECTED_ORACLES, len(os_)
    assert len(qs) - len(os_) == len(ROWS_ONLY_RAW)


def test_driver_window_is_fully_oracle_bearing():
    """The verify driver value-checks the FIRST ~50 queries() entries per
    round; a rows-only raw drifting into the window would burn a checked
    slot on a weaker rows-only check. Pin: every window entry carries an
    oracle (raws live beyond the window, beside their contract twins)."""
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    window = list(qs)[:50]
    missing = [k for k in window if k not in os_]
    assert not missing, f"driver-window entries without an oracle: {missing}"
