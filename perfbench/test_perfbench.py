"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
from oracle import CheckFailed  # noqa: E402
import run  # noqa: E402
from workloads import Call, Facade, Harness, _cost_metrics  # noqa: E402


def _inputs(seed: int) -> str:
    ops = gen.facade_ops(seed, 50, mixed=True)
    c = gen.corpus(seed, 400)
    return gen.digest(
        gen.base_vectors(seed, 300),
        gen.probe_vectors(seed, 40),
        np.stack([o.vec for o in ops]),
        np.array([[o.label if o.label is not None else -1, o.pick] for o in ops]),
        [o.kind for o in ops],
        c.ids,
        c.texts,
        [f"{a},{b}" for a, b in c.exact_pairs + c.near_pairs],
    )


def test_same_seed_gives_identical_inputs():
    assert _inputs(7) == _inputs(7)


def test_seeds_give_different_inputs():
    assert len({_inputs(s) for s in range(5)}) == 5


def test_vectors_are_float32_in_the_unit_box():
    x = gen.base_vectors(3, 1000)
    assert x.dtype == np.float32 and x.shape == (1000, gen.DIM)
    assert x.min() >= -1.0 and x.max() <= 1.0


def test_planted_duplicates_are_what_they_claim():
    c = gen.corpus(11, 1000)
    text = dict(zip(c.ids.tolist(), c.texts))
    assert len(c.exact_pairs) == 50 and len(c.near_pairs) == 50
    for a, b in c.exact_pairs:
        assert a != b and text[a] == text[b]
    for a, b in c.near_pairs:
        ta, tb = text[a].split(), text[b].split()
        assert len(ta) == len(tb) and sum(x != y for x, y in zip(ta, tb)) == 1
    ids = [i for p in c.exact_pairs + c.near_pairs for i in p]
    assert len(ids) == len(set(ids)), "planted pairs must be disjoint"
    assert len(set(c.texts)) == len(c.texts) - len(c.exact_pairs)


def test_facade_schedule_mix():
    reads = gen.facade_ops(5, 100, mixed=False)
    assert [o.kind for o in reads] == ["read"] * 100
    assert sum(o.label is not None for o in reads) == 10
    mixed = gen.facade_ops(5, 1000, mixed=True)
    assert [o.kind for o in mixed[1::2]] == ["read"] * 1000
    assert all(o.label is None for o in mixed[1::2])
    kinds = [o.kind for o in mixed[0::2]]
    share = {k: kinds.count(k) / len(kinds) for k in set(kinds)}
    assert share["insert"] > share["update_position"] > share["delete"] > share["update_metadata"]


# --- oracle and failure counting ---------------------------------------------


def _case():
    rng = np.random.default_rng(0)
    X = rng.uniform(-1, 1, (200, 8)).astype(np.float32)
    p = rng.uniform(-1, 1, 8).astype(np.float32)
    d = oracle.sq_dists(X, p)
    order = np.lexsort((np.arange(len(d)), d))[:5]
    return d, order.tolist(), d[order].tolist()


def test_check_knn_accepts_the_exact_answer():
    d, ids, dists = _case()
    oracle.check_knn(ids, dists, d, 5)


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda ids, ds: (ids[:-1], ds[:-1]),  # a row short
        lambda ids, ds: (ids[:-1] + [ids[0]], ds[:-1] + [ds[0]]),  # duplicate id
        lambda ids, ds: (ids, ds[:2] + [ds[2] * 1.001] + ds[3:]),  # distance off
        lambda ids, ds: (ids[1:] + [999], ds[1:] + [ds[-1]]),  # unknown id
        lambda ids, ds: (ids[::-1], ds[::-1]),  # not ascending
    ],
)
def test_check_knn_rejects_corrupted_results(corrupt):
    d, ids, dists = _case()
    bad_ids, bad_d = corrupt(list(ids), list(dists))
    with pytest.raises(CheckFailed):
        oracle.check_knn(bad_ids, bad_d, d, 5)


def test_check_knn_rejects_a_farther_row_in_place_of_a_closer_one():
    d, ids, dists = _case()
    sixth = int(np.lexsort((np.arange(len(d)), d))[5])
    with pytest.raises(CheckFailed):
        oracle.check_knn(ids[:1] + ids[2:] + [sixth], dists[:1] + dists[2:] + [float(d[sixth])], d, 5)


def test_check_knn_accepts_either_id_tied_at_the_kth_distance():
    d = np.array([0.1, 0.2, 0.3, 0.3, 0.9])
    oracle.check_knn([0, 1, 2], [0.1, 0.2, 0.3], d, 3)
    oracle.check_knn([0, 1, 3], [0.1, 0.2, 0.3], d, 3)


def test_check_knn_skips_non_candidates():
    d = np.array([0.1, np.nan, 0.3, 0.4])
    oracle.check_knn([0, 2], [0.1, 0.3], d, 2)
    with pytest.raises(CheckFailed):
        oracle.check_knn([0, 1], [0.1, 0.2], d, 2)


def test_harness_counts_wrong_results_and_exceptions(tmp_path, capsys):
    d, ids, dists = _case()
    h = Harness(spark=None, rundir=str(tmp_path), seed=0)

    def check(res):
        oracle.check_knn(res[0], res[1], d, 5)

    ok = h.op("good", lambda: (ids, dists), check=check)
    wrong = h.op("wrong", lambda: (ids[:4] + [999], dists), check=check)

    def boom():
        raise RuntimeError("engine exploded")

    raised = h.op("raised", boom, check=check)
    malformed = h.op("malformed", lambda: None, check=check)
    assert ok.ok and not wrong.ok and not raised.ok and not malformed.ok
    assert sum(not c.ok for c in h.calls) == 3
    assert any("wrong result" in e for e in h.errors)
    assert any("engine exploded" in e for e in h.errors)
    assert any("unreadable result" in e for e in h.errors)
    assert "engine exploded" in capsys.readouterr().err
    assert h.timed_calls("wrong") == []


def test_item_rate_uses_the_fixed_mix_and_median_costs(tmp_path):
    class W:
        headline, side = "a", "c"
        items_mix = ((("a", 3), ("b", 1)), (("c", 1),))

    h = Harness(spark=None, rundir=str(tmp_path), seed=0)
    for op, secs in [("a", 1.0), ("a", 1.0), ("a", 50.0), ("b", 2.0), ("c", 4.0)]:
        h.calls.append(Call(op, secs, 1, True, True, False, cpu_s=secs / 2))
    # a warm-up call and a failed call count for nothing
    h.calls.append(Call("a", 9.0, 1, True, False, False))
    h.calls.append(Call("c", 9.0, 1, False, True, False))
    m = _cost_metrics(h, W)
    # group 1: 4 items in 3 * 1.0 + 2.0 s; group 2: 1 item in 4.0 s
    assert m["items_per_s"] == pytest.approx((4 / 5.0 + 1 / 4.0) / 2)
    assert m["items_per_cpu_s"] == pytest.approx((4 / 2.5 + 1 / 2.0) / 2)
    assert m["wall_p50_ms"] == pytest.approx(1000.0)
    assert m["side_cpu_p50_ms"] == pytest.approx(2000.0)


def test_recall_counts_found_true_neighbours():
    truth = np.array([[1, 2], [3, 4]])
    assert oracle.recall({0: {1, 2}, 1: {3, 9}}, truth) == 0.75


def test_exact_topk_matches_brute_force():
    rng = np.random.default_rng(1)
    X = rng.uniform(-1, 1, (500, 16)).astype(np.float32)
    Q = rng.uniform(-1, 1, (20, 16)).astype(np.float32)
    got = oracle.exact_topk(X, np.arange(500), Q, 10)
    for q, row in zip(Q, got):
        d = oracle.sq_dists(X, q)
        assert row.tolist() == np.lexsort((np.arange(500), d))[:10].tolist()


# --- statistics -------------------------------------------------------------


@pytest.mark.parametrize(
    "n, pct", [(11, 9), (20, 50), (21, 52), (100, 90), (1000, 99), (5000, 99)]
)
def test_tail_picks_highest_percentile_with_ten_beyond(n, pct):
    values = list(range(1, n + 1))
    p, v = stats.tail(values)
    assert p == pct
    assert sum(x > v for x in values) >= 10
    if pct < 99:
        # one percentile higher would leave fewer than ten beyond
        nxt = values[int(np.ceil((pct + 1) / 100 * n)) - 1]
        assert sum(x > nxt for x in values) < 10


def test_tail_needs_more_than_ten_samples():
    assert stats.tail(list(range(10))) is None



# --- runner ---------------------------------------------------------------------


def test_benchmark_json_names_what_the_runner_prints():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END_UNITS
    assert not e2e.keys() & run.REPORT_ONLY_UNITS.keys()
    layers = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    assert layers == [(n, run._unit(n)) for n in run.per_layer_names()]


def test_facade_steps_go_to_the_phase_that_had_less_of_the_window(tmp_path):
    f = Facade(Harness(spark=None, rundir=str(tmp_path), seed=0))
    done = []
    f._read_unit = lambda: done.append("read")
    f._mixed_step = lambda: done.append("mixed")
    f.read_s, f.mixed_s = 0.0, 0.0
    f.step()
    f.read_s = 5.0
    f.step()
    f.mixed_s = 6.0
    f.step()
    assert done == ["read", "mixed", "read"]
