"""Table catalog: parquet scans over the driver's test tables.

At 100 TB these scans are the single most important thing to get right:
we rely on Catalyst pushing filters & column pruning into the parquet
reader (verify with ``.explain``: ``PushedFilters`` / ``ReadSchema``),
and we never infer schemas row-wise — parquet footers carry them.

Even footer inference costs one Spark job per ``spark.read.parquet``
call, so ``load`` infers each table's schema once and pins it: the
schema is cached per (SparkSession, path, file state) and every later
load reads with ``spark.read.schema(pinned)``, building its DataFrame
with no job at all. The file state is the (name, length, modification
time) of every top-level entry Hadoop's ``FileSystem.listStatus``
returns for the path — one code path for a single file, a Spark-written directory and
any non-local URI — so a table rewritten in place is inferred again.
The cache is keyed by session because inference reads session confs.

Reference parity: the reference ingests spreadsheets row-at-a-time with
pandas (app.py:282, server.py:308); here ingest is a distributed
columnar scan and Excel/CSV become format options on the same reader
(SURVEY.md §2.1 S1-S2).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _tune(spark: SparkSession) -> None:
    """Session-level settings safe to (re)apply at runtime.

    The driver owns SparkSession creation, so anything we need that is
    runtime-settable is applied here on every load — idempotent and
    cheap. UTC session time zone keeps collected timestamps identical
    to the DuckDB oracle's naive-UTC parquet reads. Planner settings
    such as AQE stay the session's own choice.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.parquet has stored ts as TIMESTAMP(NANOS) (which the Spark
    # vectorized reader rejects; read as raw nanos and convert below)
    # and as TIMESTAMP(MICROS) with isAdjustedToUTC=false (which Spark
    # would infer as TIMESTAMP_NTZ — rejected by unix_micros, numeric
    # casts, and streaming event time). Disable NTZ inference so naive
    # micros read as plain TIMESTAMP; with the UTC session zone the
    # values match DuckDB's naive reads exactly.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


# session -> {path: (file state, inferred schema)}
_PINNED: weakref.WeakKeyDictionary[
    SparkSession, dict[str, tuple[tuple, StructType]]
] = weakref.WeakKeyDictionary()


def _file_state(spark: SparkSession, path: str) -> tuple:
    """(name, length, modification time) of each entry under ``path``."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return tuple(
        sorted(
            (st.getPath().getName(), st.getLen(), st.getModificationTime())
            for st in fs.listStatus(hpath)
        )
    )


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    session and file state (module docstring)."""
    pinned = _PINNED.setdefault(spark, {})
    state = _file_state(spark, path)
    hit = pinned.get(path)
    if hit is not None and hit[0] == state:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    pinned[path] = (state, df.schema)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one test table. Column pruning/filter pushdown left to Catalyst."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _tune(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        from pyspark.sql import functions as F

        if ts_type == "bigint":
            # nanos → micros (integer div: nanos exceed 2^53, float
            # would lose precision). DuckDB oracles CAST(ts AS
            # TIMESTAMP) to the same micros truncation.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Fallback if NTZ inference was pinned on at session build:
            # reinterpret the naive micros as UTC instants (the session
            # zone is UTC, so this is a pure type change, no value shift).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_csv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """CSV ingest (reference S2, server.py:308) — schema-on-read optional."""
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def supported_upload_predicate(filename_col):
    """P7 (server.py:298): the ``.endswith((".xlsx", ".xls", ".csv"))``
    upload gate as a column predicate over a file-listing frame."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    col = filename_col if isinstance(filename_col, Column) else F.col(filename_col)
    return col.rlike(r"\.(xlsx|xls|csv)$")


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSONL (newline-delimited JSON) ingest — the de-facto interchange
    format of training-data pipelines (one document per line).

    With an explicit schema the scan is single-pass; without one Spark
    runs a full inference pass first — at 100 TB ALWAYS pass the
    schema (or sample-infer once and pin it). Corrupt lines surface in
    the PERMISSIVE-mode `_corrupt_record` column instead of failing
    the job, mirroring the engine's null-tolerant contract (U3).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, partitions: int | None = None) -> None:
    """JSONL egress: one JSON object per line, split across part-files.

    ``partitions`` controls the output file count (None keeps the
    upstream partitioning — the right default at scale; forcing 1 file
    serializes the write through one task)."""
    if partitions is not None:
        df = df.repartition(partitions)
    df.write.mode("overwrite").json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC ingest — Spark-native columnar alternative to parquet (no
    extra package; vectorized reader, predicate pushdown and column
    pruning work exactly as for parquet scans). ORC is self-describing,
    so no schema argument: the footer carries it."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, partitions: int | None = None) -> None:
    """ORC egress (overwrite). Same partition-count contract as
    write_jsonl; compression follows spark.sql.orc.compression.codec
    (snappy by default)."""
    if partitions is not None:
        df = df.repartition(partitions)
    df.write.mode("overwrite").orc(path)


def read_xml(spark: SparkSession, path: str, row_tag: str = "row", schema=None) -> DataFrame:
    """XML ingest via Spark 4's built-in XML source (the spark-xml
    package merged into core — no external jar). ``row_tag`` names the
    repeated element that becomes one row; nested elements become
    struct/array columns. Schema inference reads the files twice —
    pass ``schema`` in production (same contract as read_jsonl). XML
    scans parallelize per-file; for the 100 TB case XML is an EDGE
    format: land it once, convert to parquet/ORC, and run the engine
    on the columnar copy."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row", partitions: int | None = None) -> None:
    """XML egress (overwrite) — for feed interchange with systems that
    require it; not a storage format (no pushdown, no pruning, text
    parse on every read)."""
    if partitions is not None:
        df = df.repartition(partitions)
    df.write.mode("overwrite").format("xml").option("rowTag", row_tag).save(path)


def with_provenance(df):
    """Attach Spark's hidden file-provenance metadata (`_metadata`):
    source file path and the row's index within it. Must be selected
    off a freshly-scanned DataFrame (the hidden column exists only on
    file-source relations)."""
    from pyspark.sql import functions as F

    return df.select(
        "*",
        F.col("_metadata.file_path").alias("_file_path"),
        F.col("_metadata.row_index").alias("_row_index"),
    )
