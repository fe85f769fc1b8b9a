"""Parquet readers for the synthetic test tables.

All engine queries load through here so that (a) the session confs the
engine depends on (UTC, nanos handling — see ``session.RUNTIME_CONFS``)
are applied even on a driver-owned SparkSession, and (b) timestamp
types are normalized once:

- parquet ``TIMESTAMP(MICROS, isAdjustedToUTC=false)`` reads as
  TIMESTAMP_NTZ in Spark 4; we cast to session-TZ TimestampType (a
  value-preserving cast under the pinned UTC session).
- ``events.ts`` is parquet ``TIMESTAMP(NANOS)`` which Spark reads (only)
  as a nanosecond long; we floor-divide to microseconds, matching how
  DuckDB truncates the same column.

At 100 TB these readers are unchanged: ``spark.read.parquet`` over a
``date(ts)``/location-partitioned layout gets partition pruning,
predicate pushdown and column pruning from Catalyst with no custom
code (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import configure

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """NTZ → session-TZ timestamp; nanosecond longs stay for callers."""
    cols = []
    changed = False
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            cols.append(F.col(field.name).cast("timestamp").alias(field.name))
            changed = True
        else:
            cols.append(F.col(field.name))
    return df.select(*cols) if changed else df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table with normalized timestamp types."""
    configure(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # nanosAsLong: ts arrives as int64 nanoseconds → micros (floor,
        # same truncation DuckDB applies to TIMESTAMP(NANOS)).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _normalize_timestamps(df)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Single-partition Arrow-backed local DataFrame — the fast path
    for every driver-literal frame (codebooks, seeds, published result
    rows).

    ``spark.createDataFrame(list_of_rows)`` slices the data into
    ``defaultParallelism`` pickled partitions that plan as a
    Python-RDD scan, so EVERY action over the frame pays one
    Python-worker round trip per partition.  Measured at local[32]
    (r14 optimization round): a 64-row codebook parquet write costs
    5-6 s through that path and 0.24 s through one pyarrow
    RecordBatch; broadcast-joining such a frame re-executes it the
    same way.  Values are bit-identical: ints/doubles/strings/arrays
    cross Arrow unchanged (IEEE doubles are passed through, never
    re-parsed).

    ``schema`` is a DDL string or StructType; timestamp columns are
    rejected (Arrow timestamp handling has its own tz semantics — no
    literal-frame call site needs one, and refusing keeps it that
    way).  ``rows`` may be tuples, lists or Row objects in schema
    field order.
    """
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)

    def _no_ts(dt) -> bool:
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return False
        if isinstance(dt, T.ArrayType):
            return _no_ts(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(_no_ts(f.dataType) for f in dt.fields)
        return True

    if not all(_no_ts(f.dataType) for f in schema.fields):
        raise ValueError("local_frame does not support timestamp columns")
    pa_schema = to_arrow_schema(schema)
    rows = list(rows)
    cols = (
        list(zip(*rows)) if rows else [[] for _ in schema.fields]
    )
    tbl = pa.Table.from_arrays(
        [
            pa.array(list(c), type=f.type)
            for c, f in zip(cols, pa_schema)
        ],
        schema=pa_schema,
    )
    return spark.createDataFrame(tbl)


def lit_double_array(values) -> "F.Column":
    """Literal ``array<double>`` column built from ONE parsed SQL text
    instead of one ``F.lit`` py4j round trip per element.

    ``repr(float)`` emits the shortest decimal that round-trips
    (CPython guarantee) and Catalyst's double parser is correctly
    rounded, so every element is bit-identical to ``F.lit(float(v))``
    — same expression tree, same result — while a 360-entry table
    costs one py4j call instead of 360 (~1 s of driver time per query
    build at local[32]; r14 measurement).  Finite values only."""
    parts = []
    for v in values:
        f = float(v)
        if f != f or f in (float("inf"), float("-inf")):
            raise ValueError(f"non-finite literal: {v!r}")
        parts.append(repr(f) + "D")
    return F.expr("array(" + ", ".join(parts) + ")")


def overlap_jobs(*thunks, max_workers: int = 3):
    """Run INDEPENDENT Spark actions concurrently from a small driver
    thread pool (spark_optimization_guide §2.6: actions are only
    sequential because driver code calls them sequentially; submitting
    independent jobs from 2-3 threads lets the next job's tasks
    back-fill executors freed by the current job's tail).

    Use ONLY for actions with no data dependency — e.g. the epoch
    writes of an index ingest flow (distinct output directories) or a
    codebook write next to a codes rewrite.  Results are returned in
    thunk order; the first exception propagates after all thunks have
    settled (no half-cancelled writes hiding a second failure).

    Correctness: each thunk's job is the same job it would be when run
    sequentially — same plan, same partitioning, same output — so
    overlapping changes wall-clock only, never a row.  Job
    descriptions/groups are thread-local in Spark, so concurrent jobs
    keep their own labels."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(
        max_workers=min(len(thunks), max_workers)
    ) as pool:
        futures = [pool.submit(t) for t in thunks]
        results, first_err = [], None
        for fut in futures:
            try:
                results.append(fut.result())
            except Exception as exc:  # settle all before raising
                results.append(None)
                if first_err is None:
                    first_err = exc
        if first_err is not None:
            raise first_err
        return results
