"""Sources and sinks mirroring the reference's storage stages.

The reference's three I/O surfaces (SURVEY.md §1.2):

1. **Input** — whole text files, one ``(filename, contents)`` pair
   per file (``mr/worker.go:111-123``);
2. **Intermediate** — JSON-lines KeyValue records
   (``mr/worker.go:125-153``) — in Spark this is the engine shuffle,
   but the format is still useful as a portable KV interchange sink;
3. **Output** — ``"key value"`` text lines, one file per reduce
   partition (``mr/worker.go:190-207``) — see
   :func:`my_mapreduce_spark.mapreduce.write_text_output`.

All readers return DataFrames and keep the file listing distributed
(Spark's InMemoryFileIndex); nothing collects to the driver, so a
directory of millions of files behaves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

KV_SCHEMA = "key string, value string"


def read_whole_text_files(spark: SparkSession, path: str | list[str],
                          glob: str | None = None) -> DataFrame:
    """Whole-file text source over a path, a glob or a list of them:
    one row per file, columns ``(filename, contents)`` — the
    reference's map-task input shape (file-granular, not line-granular;
    ``mr/worker.go:111-123``).

    Built on the ``binaryFile`` source so contents decode JVM-side;
    each file must fit an executor (same contract as the reference,
    which reads the full file into one string).
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("filename"),
        F.decode(F.col("content"), "UTF-8").alias("contents"),
    )


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Line-granular text source: ``(filename, line)`` rows. The
    splittable alternative to whole-file reads — at 100 TB this is
    the right input shape whenever per-line processing suffices."""
    return spark.read.text(path).select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("filename"),
        F.col("value").alias("line"),
    )


def write_kv_json(df: DataFrame, path: str, n_partitions: int = 10) -> None:
    """JSON-lines KV sink: the reference's intermediate file format
    (one ``{"Key":...,"Value":...}`` object per line,
    ``mr/worker.go:128-140``), hash-partitioned by key like
    ``ihash(key) % nReduce`` (``mr/worker.go:142-150``)."""
    (df.select(F.col(df.columns[0]).alias("Key"),
               F.col(df.columns[1]).alias("Value"))
       .repartition(n_partitions, "Key")
       .write.mode("overwrite").json(path))


def read_kv_json(spark: SparkSession, path: str) -> DataFrame:
    """Read the KV JSON-lines format back as (key, value)."""
    return (spark.read.schema("Key string, Value string").json(path)
            .select(F.col("Key").alias("key"), F.col("Value").alias("value")))


def write_kv_parquet(df: DataFrame, path: str,
                     partition_by: str | None = None) -> None:
    """Columnar sink for KV or any relational result; optionally
    partitioned by a column (hive-style layout → partition pruning
    on read)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, sep: str = ",",
              header: bool = True) -> None:
    """CSV sink (distributed, one file per partition)."""
    df.write.mode("overwrite").option("header", header).option("sep", sep).csv(path)


def read_csv(spark: SparkSession, path: str, schema: str,
             sep: str = ",", header: bool = True) -> DataFrame:
    """Schema-enforced CSV source (no inference scan at 100 TB)."""
    return (spark.read.schema(schema).option("header", header)
            .option("sep", sep).csv(path))


def write_orc(df: DataFrame, path: str,
              partition_by: str | None = None) -> None:
    """ORC sink — the second built-in columnar format (Hive-ecosystem
    interchange); same pushdown/pruning properties as parquet."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str,
             schema: str | None = None) -> DataFrame:
    """ORC source (schema carried in the file footer). Pass an
    explicit DDL ``schema`` when the dataset may be EMPTY — a
    zero-row partitioned write lands no data files, so footer
    inference has nothing to read (q_orc_roundtrip's zero-row
    contract)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)
