"""Registry hygiene: every driver-facing query is documented, every
oracle points at a registered query, and the bench HEADLINE stays a
subset of the registry (a renamed query must fail HERE, not in the
driver's round artifact)."""

from __future__ import annotations

import ast
import importlib
import inspect

from big_data_for_smart_houses_spark.queries import ORACLES, QUERIES

TABLES = {
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
}


def test_every_oracle_has_a_query():
    orphans = set(ORACLES) - set(QUERIES)
    assert not orphans, orphans


def test_every_query_is_documented():
    undocumented = [
        n for n, fn in QUERIES.items()
        if not (fn.__doc__ or "").strip()
    ]
    assert not undocumented, undocumented


# Oracles that generate their input instead of reading the driver
# tables (the query side is a custom data source / generator).
GENERATOR_ORACLES = {
    "synthetic_source_telemetry",
    "synthetic_stream_availablenow",
    "bmp_decode_assets",
    "wav_decode_assets",
    "avi_frame_sample_assets",
    "binaryfile_bmp_assets",
}


def test_every_oracle_reads_known_tables():
    bad = [
        n for n, sql in ORACLES.items()
        if n not in GENERATOR_ORACLES
        and not any(t in sql for t in TABLES)
    ]
    assert not bad, bad


def test_bench_headline_is_registered():
    import bench

    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def test_rows_only_queries_are_the_documented_sketch_set():
    """Queries WITHOUT an oracle must stay the closed list of
    genuinely non-SQL-expressible ops (hash-seeded sketches); adding
    a new oracle-less query is a deliberate act, acknowledged here."""
    rows_only = sorted(set(QUERIES) - set(ORACLES))
    assert rows_only == [
        "embedding_ann_ivf",
        "embedding_ann_lsh",
        "minhash_dedup_documents",
        "simhash_dedup_documents",
    ], rows_only


def test_all_oracles_return_narrow_types():
    """Plan (not execute) every registered oracle in DuckDB and assert
    no result column is HUGEINT/UHUGEINT/DECIMAL — DuckDB-only wide
    types the driver's type-tagged hash rejects even when values match
    Spark bit-for-bit (the round-7 tpch_q12 red row). Planning is
    cheap, so this audits the full registry in seconds."""
    import os

    from tests.oracle_harness import assert_oracle_types_narrow, duck_con

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001"
    )
    con = duck_con(sf_dir)
    try:
        offenders = []
        for name, sql in sorted(ORACLES.items()):
            try:
                assert_oracle_types_narrow(con.sql(sql))
            except AssertionError as exc:
                offenders.append((name, str(exc).split(";")[0]))
        assert not offenders, offenders
    finally:
        con.close()


def test_last_certified_matches_artifacts():
    """The static LAST_CERTIFIED literal must equal the map re-derived
    from the CORRECTNESS_r{N}.json artifacts (intersected with the
    live registry), so the rotation's provenance can never drift from
    the evidence it claims to summarize. New queries registered this
    round legitimately have no artifact row yet — they must be ABSENT
    from the static map, never present with a guessed round.

    The derivation is CLAMPED at the static map's own max round: the
    driver writes CORRECTNESS_r{N}.json AFTER the builder's final
    commit, so at the commit the judge evaluates there is always one
    artifact newer than the map. The invariant is "the map matches
    the artifacts it claims to cover", not "the map anticipates an
    artifact that did not exist when it was generated" (round-10
    verdict finding #1)."""
    from big_data_for_smart_houses_spark.queries import _ALL_QUERIES
    from big_data_for_smart_houses_spark.queries.certification import (
        LAST_CERTIFIED,
        compute_last_certified,
    )

    covered = max(LAST_CERTIFIED.values())
    derived = {
        k: v
        for k, v in compute_last_certified(max_round=covered).items()
        if k in _ALL_QUERIES
    }
    assert LAST_CERTIFIED == derived
    assert set(LAST_CERTIFIED) <= set(_ALL_QUERIES)

    # The clamp must not make this test self-referential (round-11
    # advice): if the whole map were stale — a round that forgot the
    # regeneration procedure — every newer artifact would be ignored
    # and the assertions above would stay green while the drift
    # guarantee silently died. At most ONE artifact round may exceed
    # the clamp: the in-flight driver round, written after the
    # builder's final commit. Two or more means the map skipped a
    # regeneration.
    import glob
    import os
    import re

    repo_root = os.path.join(os.path.dirname(__file__), "..")
    artifact_rounds = set()
    for f in glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(f))
        if m:
            artifact_rounds.add(int(m.group(1)))
    newer = sorted(r for r in artifact_rounds if r > covered)
    assert len(newer) <= 1, (
        f"LAST_CERTIFIED covers rounds <= r{covered} but artifact "
        f"rounds {newer} all exceed it — the map is at least two "
        "rounds stale; run the regeneration procedure "
        "(python -m big_data_for_smart_houses_spark.queries"
        ".certification)"
    )


def test_front_is_computed_touched_then_new_then_oldest():
    """The driver front must follow the rotation policy mechanically:
    the touched list verbatim (with rows-only companions inlined),
    then never-certified names (sorted), then oldest-green-first
    fill. Companion insertion may seat a newer-certified recall gate
    directly after its rows-only sketch, so the tail's round sequence
    is checked modulo those paired rows."""
    from big_data_for_smart_houses_spark import queries as q
    from big_data_for_smart_houses_spark.queries.certification import (
        LAST_CERTIFIED,
        ROWS_ONLY_COMPANIONS,
        next_front,
    )

    front = q._CERTIFICATION_FRONT
    assert len(front) == 50 and len(set(front)) == 50
    assert front == next_front(q._ALL_QUERIES, q._TOUCHED_THIS_ROUND, size=50)
    # touched prefix: the touched list in order, possibly interleaved
    # with companions of touched rows-only sketches
    touched_expanded = []
    for n in dict.fromkeys(q._TOUCHED_THIS_ROUND):
        touched_expanded.append(n)
        c = ROWS_ONLY_COMPANIONS.get(n)
        if c is not None and c in q._ALL_QUERIES:
            touched_expanded.append(c)
    touched_expanded = list(dict.fromkeys(touched_expanded))
    n_touch = len(touched_expanded)
    assert front[:n_touch] == touched_expanded
    new = sorted(
        n for n in q._ALL_QUERIES
        if n not in LAST_CERTIFIED and n not in touched_expanded
    )
    assert front[n_touch : n_touch + len(new)] == new
    tail = front[n_touch + len(new) :]
    companions_in_tail = set(ROWS_ONLY_COMPANIONS.values()) & set(tail)
    rounds = [
        LAST_CERTIFIED[n] for n in tail if n not in companions_in_tail
    ]
    assert rounds == sorted(rounds)
    # every rows-only sketch in the front has its companion seated
    for sketch, comp in ROWS_ONLY_COMPANIONS.items():
        if sketch in front:
            assert comp in front, (sketch, comp)


def test_next_front_edge_cases():
    """next_front must raise on unregistered touched names and on a
    touched+new backlog that exceeds the front — silently truncating
    either would quietly drop driver evidence."""
    import pytest

    from big_data_for_smart_houses_spark.queries.certification import (
        next_front,
    )

    names = [f"q{i}" for i in range(10)]
    lc = {n: 3 for n in names[:8]}  # q8, q9 never certified
    front = next_front(names, ["q5"], size=4, last_certified=lc)
    assert front == ["q5", "q8", "q9", "q0"]
    with pytest.raises(AssertionError):
        next_front(names, ["nope"], size=4, last_certified=lc)
    with pytest.raises(ValueError):
        next_front(names, ["q0", "q1", "q2"], size=4, last_certified=lc)


def test_next_front_companion_pairing_rules():
    """Companion seating: a rows-only sketch seated by ANY rule pulls
    its companion in right after it; duplicates collapse; a pair that
    would not fit in the remaining slots is skipped whole (never
    split); unregistered companions are ignored."""
    from big_data_for_smart_houses_spark.queries.certification import (
        next_front,
    )

    names = ["s1", "c1", "s2", "c2", "q1", "q2", "q3"]
    comp = {"s1": "c1", "s2": "c2", "s3": "ghost"}
    lc = {n: 3 for n in names}
    lc["c1"] = 9  # companion newer than its sketch

    # touched sketch brings companion immediately after it
    front = next_front(names, ["s1"], size=4, last_certified=lc,
                       companions=comp)
    assert front[:2] == ["s1", "c1"]

    # rotation seating of a sketch also pairs; q's fill around it.
    # c2 rotates in on its own (older) merit BEFORE s2 — the
    # invariant is membership (sketch in front => companion in
    # front), adjacency only when the companion wasn't already seated
    front = next_front(names, [], size=7, last_certified=lc,
                       companions=comp)
    i1, i2 = front.index("s1"), front.index("c1")
    assert i2 == i1 + 1
    assert "s2" in front and "c2" in front

    # companion explicitly touched too: no duplicate seat
    front = next_front(names, ["s1", "c1"], size=4,
                       last_certified=lc, companions=comp)
    assert front.count("c1") == 1 and front[:2] == ["s1", "c1"]

    # a pair that does not fit is skipped whole — the front never
    # contains a SKETCH without its registered companion (a
    # companion alone is fine: it is an ordinary hash-certified
    # gate and may rotate in on its own merit)
    front = next_front(names, ["q1", "q2", "q3"], size=4,
                       last_certified=lc, companions=comp)
    assert len(front) == 4


def test_next_front_pair_cannot_be_starved():
    """Anti-starvation (round-11 advice): when the oldest-first walk
    reaches a sketch+companion pair with only one slot left, the most
    recent droppable lone rest-fill row is unseated to make room —
    NEWER lone gates may never leapfrog the pair. Touched/new rows
    and halves of seated pairs are never unseated."""
    from big_data_for_smart_houses_spark.queries.certification import (
        next_front,
    )

    names = ["q1", "q2", "s1", "c1", "q4"]
    comp = {"s1": "c1"}
    lc = {"q1": 1, "q2": 1, "s1": 2, "q4": 3, "c1": 9}

    # size 3: walk seats q1, q2, then reaches the pair with room=1.
    # Old behavior: skip the pair, seat the NEWER q4. New behavior:
    # unseat q2 (the least-stale lone fill), seat the pair.
    front = next_front(names, [], size=3, last_certified=lc,
                       companions=comp)
    assert front == ["q1", "s1", "c1"]

    # touched rows are never unseated: with q1/q2 touched the fill
    # has no droppable row, so the pair is skipped whole and the
    # lone newer gate takes the final slot
    front = next_front(names, ["q1", "q2"], size=3, last_certified=lc,
                       companions=comp)
    assert front == ["q1", "q2", "q4"]

    # with two slots of room the pair seats without any eviction
    front = next_front(names, [], size=4, last_certified=lc,
                       companions=comp)
    assert front == ["q1", "q2", "s1", "c1"]
    for sk, c in (("s1", "c1"), ("s2", "c2")):
        if sk in front:
            assert c in front, front


# Plain Spark kept: sole expressions of SURVEY.md J1/W3/W4/O2/P13/U1.
PLAIN_SPARK_GATES = frozenset({
    "customer_enrichment",
    "dedup_events_keepfirst",
    "latest_event_per_user",
    "latest_events_topk",
    "late_shipment_flag",
    "union_dedup_orders",
})
_PKG = "big_data_for_smart_houses_spark"
# Harness, not operators: loading a table, pinning parity confs,
# making a scratch directory and running a stream to completion.
_LOADERS = {
    "load_table",
    "configure_for_oracle_parity",
    "scratch_dir",
    "run_available_now",
}


def _package_imports(nodes) -> dict:
    """local name -> imported name, for imports from this package."""
    out = {}
    for node in nodes:
        if isinstance(node, ast.ImportFrom) and (
            node.level or (node.module or "").startswith(_PKG)
        ):
            for alias in node.names:
                out[alias.asname or alias.name] = alias.name
    return out


def _reaches_package_code(fn) -> bool:
    """Walk ``fn`` and the module-local functions it calls; True when
    any of them references a package name other than the loaders."""
    module = importlib.import_module(fn.__module__)
    tree = ast.parse(inspect.getsource(module))
    module_imports = _package_imports(tree.body)
    funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    seen, todo = set(), [fn.__name__]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        body = funcs[name]
        imports = {**module_imports, **_package_imports(ast.walk(body))}
        for node in ast.walk(body):
            if not isinstance(node, ast.Name):
                continue
            if node.id in imports and imports[node.id] not in _LOADERS:
                return True
            if node.id in funcs:
                todo.append(node.id)
    return False


def test_every_gate_reaches_package_code():
    """A gate that only loads tables and calls Spark re-tests Spark,
    not this package."""
    from big_data_for_smart_houses_spark.queries import _ALL_QUERIES

    plain = {
        n for n, fn in _ALL_QUERIES.items() if not _reaches_package_code(fn)
    }
    assert plain == PLAIN_SPARK_GATES, sorted(plain ^ PLAIN_SPARK_GATES)
