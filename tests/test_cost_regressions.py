"""bench.cost_regressions (the shuffle-amplification trend rule) and
round_close.bench_movers (the timing-mover rule), on literal artifacts
(no Spark). Both compare only artifacts at the same cores and sf."""

from __future__ import annotations

from bench import cost_regressions
from tools.round_close import bench_movers


def _artifact(cores, **amp):
    return {"cores": cores, "sf": 0.1, "queries": {
        n: {"shuffle_amplification": a} for n, a in amp.items()}}


def test_same_cores_flags_a_2x_move_and_ignores_a_1_2x_move():
    prev = _artifact(4, q_a=2.0, q_b=2.0, q_c=0.2, q_new=None)
    cur = _artifact(4, q_a=4.0, q_b=2.4, q_c=0.6, q_new=1.0, q_d=9.0)
    # q_c triples but moves only 0.4; q_new and q_d have no previous
    assert cost_regressions(prev, cur) == [
        {"query": "q_a", "prev": 2.0, "now": 4.0}]


def test_other_cores_or_scale_is_a_new_baseline(capsys):
    cur = _artifact(4, q_a=4.0)
    assert cost_regressions(_artifact(8, q_a=2.0), cur) == []
    assert cost_regressions({**_artifact(4, q_a=2.0), "sf": 0.01}, cur) == []
    assert cost_regressions(None, cur) == []
    assert capsys.readouterr().err.count("new baseline") == 3


def _bench(cores, sf=0.1, **timings):
    return {"cores": cores, "sf": sf, "queries": timings,
            "spread": {n: 0.1 for n in timings}}


def test_bench_movers_same_cores_labels_real_and_noise():
    prev = _bench(4, q_a=1.0, q_b=0.2, q_c=1.0, q_failed=-1.0)
    now = _bench(4, q_a=2.0, q_b=0.35, q_c=1.2, q_failed=3.0, q_new=5.0)
    # q_b moves 1.75x but only 0.15 s, under the 0.2 s spread floor;
    # q_c moves 1.2x; a failed or new query has nothing to compare
    assert bench_movers(prev, now) == [
        {"query": "q_a", "prev": 1.0, "now": 2.0, "ratio": 2.0,
         "spread_bound": 0.2, "label": "real"},
        {"query": "q_b", "prev": 0.2, "now": 0.35, "ratio": 1.75,
         "spread_bound": 0.2, "label": "noise"}]


def test_bench_movers_other_cores_or_scale_is_a_new_baseline():
    now = _bench(4, q_a=4.0)
    assert bench_movers(_bench(8, q_a=1.0), now) is None
    assert bench_movers(_bench(4, sf=0.01, q_a=1.0), now) is None
    assert bench_movers({"queries": {"q_a": 1.0}}, now) is None
    assert bench_movers(None, now) is None
