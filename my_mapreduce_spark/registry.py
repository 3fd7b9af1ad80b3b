"""Query registry — the engine's public query surface.

Every operator from SURVEY.md §2 (and every north-star extension) is
registered here as a :class:`QuerySpec`: a Spark callable
``(spark, sf_dir) -> DataFrame`` plus, where the semantics are
ANSI-SQL-expressible, a DuckDB oracle SQL string computing the same
result over the same parquet tables. The driver hash-compares the
two (row count + schema + order-insensitive value hash), so:

- every computed/aggregate column is aliased identically on both
  sides;
- floating aggregates are rounded to a fixed precision on both
  sides (summation order differs between engines);
- timestamps are emitted as DATE or STRING, never raw timestamp
  columns (Spark timestamp_ntz vs DuckDB TIMESTAMP arrow types
  differ).

This registry is the analogue of the reference's plugin loader
(``main/mrworker.go:35-52`` loads one Map/Reduce pair from a .so);
here the "plugins" are plain Python callables over DataFrames.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL twin; None => rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default=())
    # For iterative queries and foreachBatch merge jobs whose RETURNED
    # relation is a materialized result: a builder for ONE
    # representative round of the loop / one epoch's merge as a
    # standalone DataFrame, which the plan audit checks in place of the
    # result. Other streaming queries need none: the audit reads the
    # executed plan of their last micro-batch (streaming.jobs.
    # captured_plans).
    audit_fn: QueryFn | None = None
    audit_note: str = ""  # what the representative plan covers / omits


@dataclass(frozen=True)
class CapturedPlan:
    """An EXECUTED micro-batch plan captured from a finished streaming
    query (``StreamExecution.lastExecution`` — the IncrementalExecution
    of the LAST micro-batch), recorded by ``streaming.jobs.
    captured_plans``. ``explain_audit`` runs the same smell checks on
    ``formatted``/``codegen`` and walks ``jplan`` (the JVM executed
    SparkPlan) for array-typed broadcast build sides; the dynamic AQE
    pass is moot — this plan already executed."""
    formatted: str
    codegen: str
    jplan: object


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = "",
             tags: tuple[str, ...] = ()) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the registry.

    >>> @register("q1", oracle="SELECT ...")
    ... def q1(spark, sf_dir): ...
    """

    def wrap(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle,
                                   doc=doc or (fn.__doc__ or ""), tags=tuple(tags))
        return fn

    return wrap


def register_audit_plan(name: str, note: str = "") \
        -> Callable[[QueryFn], QueryFn]:
    """Attach a first-iteration plan builder to an ALREADY-registered
    query (same module, right under the query def — the builder reuses
    the query's private helpers so it cannot drift silently). The plan
    audit runs this builder's DataFrame through the full smell check in
    place of the query's materialized result.

    >>> @register_audit_plan("q_loop", note="round 1 of the fixpoint")
    ... def q_loop_round(spark, sf_dir): ...
    """
    import dataclasses

    def wrap(fn: QueryFn) -> QueryFn:
        if name not in REGISTRY:
            raise ValueError(f"register_audit_plan before register: {name!r}")
        if REGISTRY[name].audit_fn is not None:
            raise ValueError(f"duplicate audit plan for {name!r}")
        REGISTRY[name] = dataclasses.replace(REGISTRY[name],
                                             audit_fn=fn, audit_note=note)
        return fn

    return wrap


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {name: spec.oracle for name, spec in REGISTRY.items()
            if spec.oracle is not None}


_loaded = False


def _ensure_loaded() -> None:
    """Import every query module so its @register calls run."""
    global _loaded
    if _loaded:
        return
    import my_mapreduce_spark.queries  # noqa: F401  (side-effect imports)
    _loaded = True
