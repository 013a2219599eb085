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

Reference parity: the reference takes companies only as an uploaded
``.xlsx``/``.xls``/``.csv`` sheet read with pandas (server.py:298-313);
here that upload is parsed by ``streaming/serve.py::_parse_upload_rows``
and ``sources/excel.py`` (SURVEY.md §2.1 S1-S2). This module scans the
parquet tables the analytics queries run on; any other format is one
``spark.read``/``df.write`` call a caller makes directly.
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
