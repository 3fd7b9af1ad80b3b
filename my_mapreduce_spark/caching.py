"""Cache lifecycle contract for query functions.

Several queries persist an intermediate relation that the RETURNED
DataFrame still references (pagerank's partitioned edge relation,
IVF/PQ's normalized embeddings, LSH band signatures). Unpersisting
those inside the query function would drop the cache before the
caller has collected — the cache would do nothing — so the contract
is caller-owned release:

- a query function may ``persist()``/``cache()`` a relation its
  returned plan references;
- a cache that is ONLY consumed inside the function body (e.g. BPE's
  per-iteration vocabulary, materialized by a driver-side collect)
  must be released in a ``try/finally`` before returning;
- the CALLER releases returned-plan caches once it is done with the
  result, via :func:`release_caches`. ``tools/runner.py`` is the one
  caller-side release for ``bench.py`` and every sweep under
  ``tools/``: it releases after every query and asserts nothing stays
  pinned, so hundreds of queries in one JVM cannot compound leaked
  storage (and on a shared cluster cannot evict neighbors' blocks).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def pinned_rdd_count(spark: SparkSession) -> int:
    """Number of RDDs currently pinned in this JVM's block manager."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def release_caches(spark: SparkSession,
                   force_checkpointed: bool = False) -> int:
    """Release every cached relation; returns how many were pinned
    beforehand (0 for the majority of queries that cache nothing).

    Two layers: ``catalog.clearCache()`` drops SQL-level Dataset
    caches; the explicit unpersist loop below drops RDD-level pins
    that the catalog does not track — in this codebase that is the
    ``localCheckpoint()`` blocks a handful of queries use to let a
    bounded result outlive its inputs' unpersist (apriori, k-core).

    A checkpointed RDD is UNRECOMPUTABLE after unpersist (its lineage
    was truncated at checkpoint time), so by default those blocks are
    SKIPPED: a consumer that touches a returned DataFrame after a
    generic release gets a recompute or a live block, never a
    missing-block failure. Harnesses that own the full lifecycle and
    provably consume every result BEFORE releasing (tools/runner.py,
    which asserts pinned==0 afterwards) pass
    ``force_checkpointed=True`` to reclaim those blocks too."""
    n = pinned_rdd_count(spark)
    spark.catalog.clearCache()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        r = jrdd.rdd()
        if not force_checkpointed and (
                r.isCheckpointed() or r.isLocallyCheckpointed()):
            continue
        jrdd.unpersist(False)
    return n
