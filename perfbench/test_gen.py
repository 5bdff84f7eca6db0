"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import config  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
from spans import JobInfo, Recorder, Span  # noqa: E402


def _ipc(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


def _inputs(seed: int):
    star = gen.star_schema(seed, sf=0.01)
    docs, near = gen.corpus(seed, 500)
    return (
        [_ipc(star[t]) for t in gen.STAR_TABLES],
        gen.read_statements(seed, 2),
        gen.write_setup(),
        gen.write_statements(seed, 2),
        _ipc(docs),
        sorted(near),
    )


def test_same_seed_gives_identical_inputs():
    assert _inputs(7) == _inputs(7)


def test_different_seed_gives_different_inputs():
    a, b = _inputs(7), _inputs(8)
    for i in (0, 1, 3, 4, 5):  # every seeded input; the DDL is fixed
        assert a[i] != b[i]


def test_decks_keep_a_fixed_mix():
    def mix(stmts, key):
        out = {}
        for s in stmts:
            out[key(s)] = out.get(key(s), 0) + 1
        return out

    assert mix(gen.read_statements(1, 1), lambda s: s[0]) == mix(
        gen.read_statements(2, 1), lambda s: s[0]
    )
    assert mix(gen.write_statements(1, 1), lambda s: s[1]) == mix(
        gen.write_statements(2, 1), lambda s: s[1]
    )


def test_write_keys_stay_valid():
    """Plain INSERTs only use keys that no committed statement used
    before, so they can never violate the primary key (a rolled-back
    transaction's keys may be reused)."""
    used = set(range(1, gen.INITIAL_ACCOUNTS + 1))
    pending: set[int] = set()
    in_txn = False
    for _, _, sql in gen.write_statements(3, 4):
        if sql in ("begin", "commit", "rollback"):
            if sql == "commit":
                used |= pending
            in_txn, pending = sql == "begin", set()
            continue
        keys = set()
        if sql.startswith("insert into accounts values") or sql.startswith(
            "insert or"
        ):
            keys = {int(k) for k in re.findall(r"\((\d+), ", sql)}
        if sql.startswith("insert into accounts values") and "on conflict" not in sql:
            assert not keys & (used | pending)
        (pending if in_txn else used).update(keys)
    entries = [
        int(k) for _, _, sql in gen.write_statements(3, 4)
        if sql.startswith("insert into ledger")
        for k in re.findall(r"\((\d+), ", sql)
    ]
    assert len(entries) == len(set(entries))
    assert min(entries) > gen.INITIAL_ACCOUNTS  # the set-up's entries


def test_each_deck_compacts_both_tables_after_several_commits():
    deck = gen.write_statements(4, 1)
    optimized = [sql.split()[1] for _, cls, sql in deck if cls == "optimize"]
    assert sorted(optimized) == ["accounts", "accounts", "accounts", "ledger"]
    assert gen.write_statements(4, 2)[len(deck):] != deck  # new keys


def test_planted_near_duplicates_are_similar():
    docs, near = gen.corpus(5, 800)
    texts = dict(zip(docs.column("doc_id").to_pylist(),
                     docs.column("text").to_pylist()))
    assert near
    assert all(oracle.jaccard(texts[a], texts[b]) >= 0.6 for a, b in near)


def test_benchmark_json_matches_config():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        assert json.load(f) == config.benchmark_json()
    names = [m["name"] for m in config.END_TO_END + config.per_layer()]
    assert len(names) == len(set(names))
    assert len(config.per_layer()) <= 128
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert "setup_s" in names


def test_same_rows_tolerates_summation_order_only():
    assert oracle.same_rows([(1, 0.1 + 0.2)], [(1, 0.3)])
    assert oracle.same_rows([(2, "b"), (1, "a")], [(1, "a"), (2, "b")])
    assert not oracle.same_rows([(1, 1722.77)], [(1, 1722.78)])
    assert not oracle.same_rows([(1,)], [(1,), (1,)])


def test_components_take_the_min_id():
    comp = oracle.components([(3, 5), (5, 9), (2, 4)])
    assert comp == {3: 3, 5: 3, 9: 3, 2: 2, 4: 2}


def test_covered_and_self_time():
    span = Span("api.execute", 0.0, 100.0)
    jobs = [JobInfo(10, 30, 1, 0), JobInfo(20, 40, 1, 0), JobInfo(90, 120, 1, 0)]
    assert Recorder.covered_ms(span, jobs) == 40.0
    rec = Recorder()
    rec.spans = [span, Span("spark.job", 10, 40, parent=0)]
    assert rec.self_time_by_layer() == {"api": 70.0, "spark": 30.0}
