"""Reference-parity MapReduce compatibility API.

Reproduces the reference engine's exact programming model (SURVEY.md
§2A; ``/root/reference/mr/worker.go:39-75``): the user supplies

- ``mapf(key, value) -> iterable[(key, value)]`` — the flatMap
  (reference: ``mapf func(string, string) []KeyValue``,
  ``mr/worker.go:39``), and
- ``reducef(key, values: list[str]) -> str`` — the per-key reduce
  over the COMPLETE value list (``mr/worker.go:40``, invoked once
  per distinct key at ``mr/worker.go:204``).

Spark-first implementation notes:

- The map stage runs via ``mapInPandas`` (Arrow-batched, one Python
  interpreter round-trip per batch), not a row-at-a-time RDD
  flatMap.
- The reduce side is ``mr/worker.go:125-207`` with one Spark shuffle:
  ``repartition(n_reduce, key)`` is the ``ihash(key) % nReduce``
  partitioner, ``sortWithinPartitions(key)`` the per-partition sort,
  and one ``mapInPandas`` detects runs of equal keys and calls
  ``reducef`` once per run. Its output is already the mr-out layout,
  so ``write_text_output`` writes the partitions as they are. Per-key
  value order is unspecified — exactly the reference's contract
  (values arrive in nondeterministic shuffle-file order; apps that
  care sort inside reduce, e.g. ``mrapps/indexer.go:38``).
- Reduce is NOT restricted to commutative/associative functions, so
  the value list of the key being reduced is materialized, and only
  that one: a run still open at the end of an Arrow batch is carried
  into the next. At 100 TB a hot key's value list must fit an
  executor. Queries that are actually algebraic should use native
  DataFrame aggregates (see queries/reference_parity.py for the fast
  paths); this API is the parity surface.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MapF = Callable[[str, str], Iterable[tuple[str, str]]]
ReduceF = Callable[[str, list[str]], str]

_KV_SCHEMA = "key string, value string"


def map_stage(df: DataFrame, mapf: MapF) -> DataFrame:
    """Apply ``mapf`` over a two-column (key, value) DataFrame,
    producing the intermediate (key, value) stream."""
    kcol, vcol = df.columns[0], df.columns[1]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys: list[str] = []
            vals: list[str] = []
            for k, v in zip(pdf[kcol], pdf[vcol]):
                for ok, ov in mapf(k, v):
                    keys.append(ok)
                    vals.append(ov)
            yield pd.DataFrame({"key": keys, "value": vals})

    return df.mapInPandas(run, schema=_KV_SCHEMA)


def reduce_stage(mapped: DataFrame, reducef: ReduceF, n_reduce: int = 10) -> DataFrame:
    """Hash-partition the intermediate stream by key into ``n_reduce``
    partitions, sort each one by key and apply ``reducef`` to each run
    of equal keys (``mr/worker.go:188-204``). The result keeps that
    layout: partition i holds reduce task i's output, sorted by key."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        key, values = None, None   # the run still open at a batch end
        for pdf in batches:
            keys: list[str] = []
            outs: list[str] = []
            for k, v in zip(pdf["key"].tolist(), pdf["value"].tolist()):
                if values is not None and k == key:
                    values.append(v)
                    continue
                if values is not None:
                    keys.append(key)
                    outs.append(reducef(key, values))
                key, values = k, [v]
            yield pd.DataFrame({"key": keys, "value": outs})
        if values is not None:
            yield pd.DataFrame({"key": [key], "value": [reducef(key, values)]})

    return (mapped.repartition(n_reduce, "key").sortWithinPartitions("key")
            .mapInPandas(run, schema=_KV_SCHEMA))


def mapreduce(df: DataFrame, mapf: MapF, reducef: ReduceF, n_reduce: int = 10) -> DataFrame:
    """Full job: map → shuffle/sort → reduce. Returns (key, value)
    string columns in ``n_reduce`` key-sorted partitions, the
    reference's output record shape and layout."""
    return reduce_stage(map_stage(df, mapf), reducef, n_reduce)


def write_text_output(result: DataFrame, path: str, n_reduce: int = 10) -> None:
    """Text sink with the reference's output contract
    (``mr/worker.go:190-207``): ``"<key> <value>"`` lines, one file
    per partition of ``result``, at most ``n_reduce`` of them, each
    sorted by key. Coalescing merges whole partitions, so the files
    are re-sorted locally, with no shuffle: a ``mapreduce()`` result
    with more reduce partitions than ``n_reduce`` still gives sorted
    files."""
    (
        result.coalesce(n_reduce).sortWithinPartitions("key")
        .select(F.concat_ws(" ", F.col("key"), F.col("value")).alias("line"))
        .write.mode("overwrite").text(path)
    )
