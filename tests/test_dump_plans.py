"""tools/dump_plans.py renumbers expression and plan ids, lambda
variable names, UUIDs, temp-dir suffixes and object addresses so that two dumps of one plan
diff clean across processes."""

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


def test_lambda_variable_names_renumber_and_keep_links():
    """PySpark names lambda variables from a process-wide counter, so
    the same plan built after other queries carries other names."""
    plan = ("filter(split(text#1, [^a-z0-9]+, -1), lambdafunction(NOT "
            "(lambda x_9#2 = ), lambda x_9#2, false)), transform(sh#5, "
            "lambdafunction(md5(lambda x_11#6), lambda x_11#6, false))")
    out = renumber_ids(plan)
    assert out.count("lambda x_0#1") == 2
    assert out.count("lambda x_1#3") == 2
    assert renumber_ids(plan.replace("x_9#", "x_5#")
                        .replace("x_11#", "x_7#")) == out


STREAM = """\
Location: InMemoryFileIndex [file:/tmp/mmr_events_stream_1kuqwrr_/src/part-00003-5f0c2a3e-9b1d-4c7e-8a6f-0d2e4b6c8a10-c000.snappy.parquet]
Arguments: state info [ checkpoint = <unknown>, runId = 7d9e1f20-3a4b-4c5d-8e6f-a1b2c3d4e5f6, opId = 0, ver = 0]
Arguments: MicroBatchWrite[epoch: 3, writer: org.apache.spark.sql.execution.streaming.sources.MemoryStreamingWrite@69e569e3]
Location: InMemoryFileIndex [file:/tmp/mmr_events_stream_1kuqwrr_/src/part-00003-5f0c2a3e-9b1d-4c7e-8a6f-0d2e4b6c8a10-c000.snappy.parquet]
"""


def test_streaming_run_noise_renumbers_and_keeps_links():
    out = renumber_ids(STREAM)
    assert ("file:/tmp/mmr_events_stream_tmp0/src/"
            "part-00003-uuid0-c000.snappy.parquet]") in out
    assert "runId = uuid1, opId = 0" in out
    assert "sources.MemoryStreamingWrite@0]" in out
    # the same file twice keeps one id
    assert out.count("mmr_events_stream_tmp0/src/part-00003-uuid0") == 2

    other = (STREAM.replace("1kuqwrr_", "x9_q2abz")
             .replace("5f0c2a3e-9b1d-4c7e-8a6f-0d2e4b6c8a10",
                      "0123abcd-0000-4111-8222-333344445555")
             .replace("7d9e1f20-3a4b-4c5d-8e6f-a1b2c3d4e5f6",
                      "fedcba98-7654-4321-8fed-cba987654321")
             .replace("@69e569e3", "@1b2c3"))
    assert other != STREAM
    assert renumber_ids(other) == out
    assert renumber_ids(out) == out
