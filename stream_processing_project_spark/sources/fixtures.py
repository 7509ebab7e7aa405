"""Batch scans over the driver-generated parquet fixtures.

Maps to the reference's source scans (SURVEY.md §2.1 S3/S5): columnar
parquet + Catalyst gives column pruning and predicate pushdown for free
— the reference hand-rolled both (3-of-6-column dimension SELECT,
EngagementProcessor.scala:83-85).

At 100 TB these reads are the dominant cost: never cache a fact table,
always let the filter/projection reach the scan (verify via
`.explain("formatted")` → `PushedFilters` / `ReadSchema`).

The reference also knew its dimension's columns up front, so it never
paid for schema discovery. A plain `spark.read.parquet` does: each call
runs one Spark job just to read a parquet footer, and a query builder
that loads seven tables runs seven of them. `load_table` therefore
memoises the schema Spark inferred, keyed by file identity and the
inference confs, and hands it back via `spark.read.schema(...)` — see
its docstring for the key. Only the StructType is kept: no DataFrame,
no file listing, no data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

from stream_processing_project_spark.schemas import FIXTURE_TABLES

# Compatibility shim: some fixture generations stored events.ts as parquet
# TIMESTAMP(NANOS), which Spark reads as epoch-nanos long under
# spark.sql.legacy.parquet.nanosAsLong and we floor-convert to micros
# (matching DuckDB's ns→us handling). Current fixtures use
# TIMESTAMP(MICROS, isAdjustedToUTC=false), which arrives as TimestampType
# directly (session.py pins inferTimestampNTZ=false), so the branch below
# is a no-op — kept so either fixture vintage loads correctly.
_NANO_TS_COLS = {"events": ["ts"]}

# Session confs that change what parquet schema inference returns. A
# caller's own session need not carry session.py's pins, and any session
# may flip one at any time, so each is part of the memo key.
_INFERENCE_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# (resolved path, inference confs) -> (file identity, inferred schema).
# One entry per path and conf set: a rewritten file replaces its entry.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _file_identity(path: str) -> tuple | None:
    """`(st_mtime_ns, st_size)` of a parquet file, or of every file under
    a Spark-written directory (with its relative name, so an added or
    removed part file changes it too). None when the path is not on the
    local filesystem, which disables the memo for it."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((st.st_mtime_ns, st.st_size),)
    if not os.path.isdir(path):
        return None
    out = []
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            out.append((os.path.relpath(full, path), st.st_mtime_ns, st.st_size))
    return tuple(sorted(out))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table, with a memoised schema and no cache (scale!).

    Schema memo: the first call for a file runs Spark's own parquet
    schema inference (`spark.read.parquet`, one Spark job) and keeps the
    resulting StructType; later calls pass it to
    `spark.read.schema(cached).parquet(path)`, which runs no job. The key
    is the resolved path, `(st_mtime_ns, st_size)` of the file (or of
    every file when the path is a Spark-written directory), and the
    session confs in `_INFERENCE_CONFS`, so a rewritten file or a flipped
    conf is a miss and is inferred afresh. Only the StructType is
    memoised: every call still builds a new DataFrame that lists the
    path, so files added to a directory are seen, and no data is cached.

    Timestamp normalization: the fixtures store ts as parquet
    TIMESTAMP(MICROS, isAdjustedToUTC=false). Under a session with
    `spark.sql.parquet.inferTimestampNTZ.enabled=true` (the default in
    Spark 4 — and the DRIVER's session, which does not inherit our
    session.py pin) that arrives as TIMESTAMP_NTZ, which functions like
    `unix_micros`/`unix_millis` reject outright. The fixture timestamps
    are semantically UTC instants, so we cast NTZ → TIMESTAMP (the
    session timezone is UTC in both our session and DuckDB's oracle
    reading of the same file, so wall-clock == instant and the cast is
    value-preserving). This makes every downstream query
    session-config-independent. The casts are read off the schema and
    applied in one projection.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    ident = _file_identity(path)
    confs = tuple(spark.conf.get(c) for c in _INFERENCE_CONFS)
    key = (os.path.realpath(path), confs)
    hit = _SCHEMAS.get(key)
    if ident is not None and hit and hit[0] == ident:
        schema = hit[1]
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        schema = df.schema
        if ident is not None:
            _SCHEMAS[key] = (ident, schema)

    casts = {}
    for f in schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            casts[f.name] = F.col(f.name).cast("timestamp")
        elif f.name in _NANO_TS_COLS.get(name, []) and isinstance(f.dataType, LongType):
            casts[f.name] = F.timestamp_micros(F.expr(f"{f.name} div 1000"))
    return df.withColumns(casts) if casts else df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register each fixture table as a temp view for the SQL surface."""
    for name in tables or FIXTURE_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def fan_out_if_narrow(df: DataFrame, target: int | None = None) -> DataFrame:
    """Ingest fan-out — the batch analogue of the Kafka source's
    `minPartitions` (SURVEY.md §2.1 S2): when a source delivers fewer
    splits than the cluster has cores (single-row-group parquet, a
    low-partition topic), CPU-heavy decode work downstream serializes
    on those few tasks. Round-robin repartition to defaultParallelism
    BEFORE the decode so it parallelizes; a NO-OP when the source is
    already wide — at 100 TB the scan yields thousands of splits and
    no gratuitous shuffle is added."""
    target = target or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
