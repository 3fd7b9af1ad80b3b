"""bench.cost_regressions: the shuffle-amplification trend rule, on
literal artifacts (no Spark)."""

from __future__ import annotations

from bench import cost_regressions


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
