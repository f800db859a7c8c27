"""The program surface the service benchmark (``perfbench/run.py``,
declared in ``BENCHMARK.json``) calls.

The benchmark is fixed beside the program, so every call it makes into
the package is replayed here with ``inspect.signature(fn).bind(...)``:
the same number of positional arguments and the same keyword names. A
refactor that renames, drops or reorders a parameter the benchmark uses
fails here instead of silently breaking the benchmark run.
"""

from __future__ import annotations

import ast
import importlib
import inspect
from dataclasses import fields
from pathlib import Path

RUN_PY = Path(__file__).resolve().parents[1] / "perfbench" / "run.py"

#: keyword names that reach a call through a ``**`` splat, which the
#: source scan below cannot see: ``start_service`` builds
#: ``prior_output``/``now_ts``/``max_files_per_trigger`` and
#: ``_exact_kwargs`` adds ``exact_processing_ttl`` on the exact workload;
#: the traced prefix pops that key again before calling ``start_ttl_dedup``
SPLAT_KEYWORDS = {
    "start_dedup_service": (
        "prior_output",
        "now_ts",
        "max_files_per_trigger",
        "exact_processing_ttl",
    ),
    "start_ttl_dedup": (),
}

#: what run.py reads off the ``DedupService`` that ``start_dedup_service``
#: returns: fields, and methods called with no argument
SERVICE_FIELDS = ("query", "output_table")
SERVICE_METHODS = ("output", "counters", "stop")


def _imported_names() -> dict[str, str]:
    """Package name → module, for every ``from pulsar_topic_deduplicator_
    spark... import name`` in run.py."""
    tree = ast.parse(RUN_PY.read_text())
    return {
        alias.name: node.module
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and (node.module or "").startswith("pulsar_topic_deduplicator_spark")
        for alias in node.names
    }


def _calls(names) -> list[tuple[str, int, tuple[str, ...], bool]]:
    """(name, n_positional, keyword names, has ``**`` splat) per call."""
    out = []
    for node in ast.walk(ast.parse(RUN_PY.read_text())):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id in names
        ):
            assert not any(isinstance(a, ast.Starred) for a in node.args)
            kws = tuple(k.arg for k in node.keywords if k.arg is not None)
            splat = any(k.arg is None for k in node.keywords)
            out.append((node.func.id, len(node.args), kws, splat))
    return out


def test_every_benchmark_call_binds_to_the_program_signature():
    names = _imported_names()
    # the traced prefix's kernel entry points are among them
    assert {"start_ttl_dedup", "dedup_stream_ingest_ttl"} <= set(names)
    calls = _calls(names)
    called = {c[0] for c in calls}
    assert called == set(names), set(names) ^ called
    for name, n_pos, kws, splat in calls:
        fn = getattr(importlib.import_module(names[name]), name)
        if splat:
            assert name in SPLAT_KEYWORDS, f"unlisted ** call of {name}"
            kws += SPLAT_KEYWORDS[name]
        inspect.signature(fn).bind(
            *[object()] * n_pos, **{k: object() for k in kws}
        )


def test_service_handle_keeps_what_the_benchmark_reads():
    from pulsar_topic_deduplicator_spark.service import DedupService

    assert set(SERVICE_FIELDS) <= {f.name for f in fields(DedupService)}
    for method in SERVICE_METHODS:
        inspect.signature(getattr(DedupService, method)).bind(object())
