"""Query library. Importing this package registers every query.

Modules:
- ``relational``        — TPC-H-style relational breadth (SURVEY §2C gap).
- ``reference_parity``  — wc / indexer / early_exit / concat-agg (SURVEY §2B).
- ``text_analysis``     — lang-ID, quality scores, token counts, fingerprints.
- ``dedup``             — exact / MinHash-LSH / SimHash / n-gram Jaccard.
- ``similarity``        — embedding cosine top-k (brute force + LSH-bucketed).
- ``events_windows``    — tumbling/sliding/session windows over events (batch).
"""

from my_mapreduce_spark.queries import relational  # noqa: F401

for _mod in ("reference_parity", "relational_ext", "windows", "scalar_funcs",
             "setops", "text_analysis", "dedup", "similarity",
             "events_windows", "temporal_joins", "tpch_more", "analytics_ext",
             "coverage_ext", "bucketed", "pipeline_ext", "corpus_ops",
             "sketches", "retrieval", "graph", "indexing",
             "sampling_stats", "timeseries", "stats_ext", "experiment_ext",
             "lexical_ext", "curation_ext", "inference_ext", "geo_ext"):
    __import__(f"my_mapreduce_spark.queries.{_mod}")
del _mod

import my_mapreduce_spark.multimodal  # noqa: F401,E402
import my_mapreduce_spark.streaming.jobs  # noqa: F401,E402
import my_mapreduce_spark.streaming.stateful  # noqa: F401,E402
