"""tools/dump_plans.py renumbers expression and plan ids so that two
dumps of one plan diff clean across processes."""

from __future__ import annotations

from tools.dump_plans import renumber_ids

PLAN = """\
(1) Scan parquet
Output [2]: [doc_id#417L, text#418]
(2) Project [codegen id : 1]
Output [2]: [doc_id#417L, shingle#902]
Input [2]: [doc_id#417L, text#418]
(3) Exchange
Arguments: hashpartitioning(doc_id#417L, 8), ENSURE_REQUIREMENTS, [plan_id=77]
(4) ReusedExchange [Reuses operator id: 3]
Output [2]: [doc_id#951L, shingle#902]
Arguments: [plan_id=103], [plan_id=77]
"""


def test_ids_renumber_by_first_appearance_and_keep_links():
    out = renumber_ids(PLAN)
    assert "Output [2]: [doc_id#0L, text#1]" in out
    assert "Output [2]: [doc_id#0L, shingle#2]" in out
    assert "Input [2]: [doc_id#0L, text#1]" in out
    assert "hashpartitioning(doc_id#0L, 8), ENSURE_REQUIREMENTS, [plan_id=0]" in out
    assert "Output [2]: [doc_id#3L, shingle#2]" in out
    assert "Arguments: [plan_id=1], [plan_id=0]" in out
    # operator numbers and codegen ids are not ids: left as they are
    assert "(4) ReusedExchange [Reuses operator id: 3]" in out
    assert "[codegen id : 1]" in out


def test_same_plan_from_other_ids_renumbers_identically():
    shifted = (PLAN.replace("#417", "#5").replace("#418", "#6")
               .replace("#902", "#7").replace("#951", "#8")
               .replace("plan_id=77", "plan_id=9")
               .replace("plan_id=103", "plan_id=10"))
    assert shifted != PLAN
    assert renumber_ids(shifted) == renumber_ids(PLAN)
    assert renumber_ids(renumber_ids(PLAN)) == renumber_ids(PLAN)
