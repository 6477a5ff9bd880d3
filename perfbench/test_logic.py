"""Tests for the benchmark's own logic. No Spark, no data files.

    python3 -m pytest perfbench/test_logic.py -q
"""

from __future__ import annotations

import itertools
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import ops as O  # noqa: E402
import stats as S  # noqa: E402

SIZES = {"customer": 15_000, "orders": 150_000}
SEGMENTS = dict.fromkeys(range(150), "BUILDING")


# ------------------------------------------------------------ tail rule --
def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    t = S.tail(xs)
    assert t["rule_met"] and t["beyond"] == 10
    assert t["value"] == 90 and t["pct"] == 90.0
    assert sum(1 for x in xs if x > t["value"]) == 10


def test_tail_at_twenty_samples_is_the_median_rank():
    t = S.tail([float(x) for x in range(20)])
    assert t["rule_met"] and t["pct"] == 50.0 and t["value"] == 9.0


def test_tail_unsupported_with_ten_or_fewer_samples():
    for n in (1, 4, 10):
        t = S.tail(list(range(n)))
        assert not t["rule_met"] and t["beyond"] == 0
        assert t["value"] == n - 1 and t["n"] == n


def test_tail_ignores_input_order():
    xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 0, 11, 10, 13, 12]
    assert S.tail(xs)["value"] == sorted(xs)[len(xs) - 11]


# ------------------------------------------------------------ self time --
def test_union_length_merges_overlaps():
    assert S.union_length([]) == 0
    assert S.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert S.union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_union_of_children():
    # children overlap each other; the union (1..5) is subtracted once
    assert S.self_time((0, 10), [(1, 3), (2, 5)]) == 6


def test_self_time_clips_children_to_the_span():
    assert S.self_time((0, 10), [(8, 12), (-3, 1)]) == 7
    assert S.self_time((0, 10), [(11, 12)]) == 10


def test_self_time_nested_grandchildren_do_not_double_count():
    # a grandchild lies inside its parent child: the union is the child
    assert S.self_time((0, 10), [(2, 6), (3, 4)]) == 6


# --------------------------------------------------------- fail accounting --
def test_outcomes_count_errors_and_wrong_answers():
    o = S.Outcomes()
    for _ in range(7):
        o.ok()
    o.fail("wrong_answer")
    o.fail("Py4JJavaError")
    o.fail("wrong_answer")
    assert o.attempted == 10 and o.failed == 3
    assert o.fail_ratio == pytest.approx(0.3)
    assert dict(o.by_kind) == {"wrong_answer": 2, "Py4JJavaError": 1}


def test_outcomes_empty_has_zero_ratio():
    assert S.Outcomes().fail_ratio == 0.0


# ------------------------------------------------------------ sequences --
def _texts(gen, rounds: int) -> list[str]:
    return [op.text for r in itertools.islice(gen, rounds) for op in r]


def test_lookup_same_seed_same_sequence():
    assert _texts(O.lookup_rounds(7, SIZES), 5) == _texts(O.lookup_rounds(7, SIZES), 5)
    assert _texts(O.lookup_rounds(7, SIZES), 5) != _texts(O.lookup_rounds(8, SIZES), 5)


def test_update_mix_same_seed_same_sequence():
    a = [(op.text, op.expect.rows if op.expect else None)
         for r in itertools.islice(O.update_cycles(3, SEGMENTS), 4) for op in r]
    b = [(op.text, op.expect.rows if op.expect else None)
         for r in itertools.islice(O.update_cycles(3, SEGMENTS), 4) for op in r]
    assert a == b


def test_update_mix_rounds_are_whole_checkpoint_cycles():
    for cycle in itertools.islice(O.update_cycles(5, SEGMENTS), 6):
        kinds = [op.kind for op in cycle]
        assert kinds.count("write") == O.CHECKPOINT_EVERY
        # the cycle ends with the checkpointing update and its reads
        assert kinds[-3:] == ["write", "read", "read"]
        shapes = {op.shape for op in cycle}
        assert {"insert_data", "delete_data", "delete_insert", "gas_bfs"} <= shapes


def test_update_mix_model_reads_see_writes():
    cycle = next(O.update_cycles(9, SEGMENTS))
    bfs = [op for op in cycle if op.shape == "gas_bfs"]
    first, second = (dict(op.expect.rows) for op in bfs)
    assert first["urn:bench:n0"] == 0 and len(first) == 3  # root + two inserted nodes
    # two more nodes inserted, the newest one cut off again
    assert len(second) == len(first) + 1
    seg = [op for op in cycle if op.shape == "base_point"][0]
    assert seg.expect.rows == [("BENCH0",)]
    tags = [op for op in cycle if op.shape == "tags"][0]
    # "c0a" was inserted then deleted; "c0b", "c0m" and "c0z" remain
    assert sorted(t for _, t in tags.expect.rows) == ["c0b", "c0m", "c0z"]


def test_lookup_keys_cover_the_key_range():
    keys = []
    for r in itertools.islice(O.lookup_rounds(1, SIZES), 300):
        for op in r:
            if op.shape == "point":
                keys.append(int(op.text.split("<orders:")[1].split(">")[0]))
    assert min(keys) < SIZES["orders"] * 0.05 and max(keys) > SIZES["orders"] * 0.95


# --------------------------------------------------------------- answers --
def _body(names, rows):
    return json.dumps({
        "head": {"vars": names},
        "results": {"bindings": [
            {n: {"type": "literal", "value": v} for n, v in zip(names, row) if v is not None}
            for row in rows
        ]},
    }).encode()


def test_result_rows_and_unordered_compare():
    got = O.result_rows(_body(["a", "b"], [("x", "1.50"), ("y", None)]))
    assert got == [("x", "1.50"), ("y", None)]
    assert O.same_answer(got, [("y", None), ("x", 1.5)])
    assert not O.same_answer(got, [("x", 1.5)])
    assert not O.same_answer(got, [("x", 1.51), ("y", None)])
    assert not O.same_answer([("x", "y")], [("x",)])


# ------------------------------------------------------- benchmark file --
def test_benchmark_json_matches_what_run_reports():
    import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"] for m in bench["end_to_end"]} == set(run.E2E_REPORTED)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} == set(O.WORKLOADS) == set(run.ROUND_S)


def test_run_length_is_a_fixed_number_of_whole_rounds():
    import run

    assert run.rounds_per_run("lookup", 20) == 3
    assert run.rounds_per_run("update_mix", 20) == 1
    assert run.rounds_per_run("update_mix", 1) == 1
