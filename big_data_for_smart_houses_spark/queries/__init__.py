"""Driver-facing query registry.

Each query is a named (Spark callable, DuckDB oracle SQL) pair that
runs package operators (SURVEY.md §2) against the testdata tables
(TESTDATA.md). Queries without an oracle are genuinely
non-SQL-expressible (hash-seeded sketches) and get rows-only checks.
A gate must reach package code beyond the table loaders;
``tests/test_registry.py`` enforces that and names the few reference
operations allowed to stay as plain Spark.

ORDER MATTERS: the external driver certifies the first 50 entries by
insertion order. That front is computed by
``certification.next_front``, not curated: the gates whose executed
code this round touched (``_TOUCHED_THIS_ROUND``), then
never-certified gates, then oldest-green-first from
``certification.LAST_CERTIFIED``. A seated rows-only sketch brings
its hash-certified recall companion
(``certification.ROWS_ONLY_COMPANIONS``).

Per round: regenerate ``LAST_CERTIFIED`` from the newest
``CORRECTNESS_r{N}.json`` (``python -m
big_data_for_smart_houses_spark.queries.certification``; the registry
test re-derives it) and replace the touched list below.
"""

from __future__ import annotations

from . import (
    analytics_gate,
    assembly_gate,
    core,
    curation,
    extensions,
    incremental_gate,
    llm_ops,
    modern_gate,
    pipeline,
    stats_gate,
    streaming_gate,
    tpch_gate,
)
from .certification import next_front as _next_front

_MODULES = (
    core, pipeline, analytics_gate, extensions, llm_ops, curation,
    stats_gate, assembly_gate, incremental_gate, streaming_gate,
    modern_gate, tpch_gate,
)

# A name registered in two modules would silently overwrite on merge;
# make a collision an import error instead of a shadowed gate.
_ALL_QUERIES: dict = {}
ORACLES: dict = {}
for _m in _MODULES:
    _dups = sorted(set(_m.QUERIES) & set(_ALL_QUERIES))
    assert not _dups, f"query name registered in two modules: {_dups}"
    _ALL_QUERIES.update(_m.QUERIES)
    ORACLES.update(_m.ORACLES)

# Every gate whose EXECUTED operator code this round edited: its old
# green row is evidence about code that no longer exists.
# - cdc_chunk/crossdoc: text.cdc_chunk_documents staged its expression
#   pipeline (md5 boundary scan 6x -> 1x per row, posexplode_outer);
# - dedup_groups/semantic_dedup: dedup.dedup_groups cut the pair
#   generator's lineage before the edge union.
_TOUCHED_THIS_ROUND: list = [
    "cdc_chunk_documents",
    "cdc_crossdoc_documents",
    "dedup_groups_documents",
    "semantic_dedup_embeddings",
]

_CERTIFICATION_FRONT = _next_front(
    _ALL_QUERIES, _TOUCHED_THIS_ROUND, size=50
)
assert len(_CERTIFICATION_FRONT) == len(set(_CERTIFICATION_FRONT)) == 50

QUERIES = {n: _ALL_QUERIES[n] for n in _CERTIFICATION_FRONT}
for _n, _fn in _ALL_QUERIES.items():
    QUERIES.setdefault(_n, _fn)

__all__ = ["QUERIES", "ORACLES"]
