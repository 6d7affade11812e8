"""Runtime/session helpers shared by the operator builders.

Three concerns live here because many builders need them and none
belongs in a SQL-fragment or operator module:

* the **plan-cache registry** — builders persist small intermediate
  frames that feed several plan branches (LSH signature frames, phash
  frames).  The DataFrames the builders return are lazy, so the builder
  itself can never unpersist (the caller consumes the plan later).
  Tracking the persists here gives the caches a defined lifetime:
  harnesses (scripts/check_oracle.py, bench.py) call
  :func:`release_caches` between queries, so a long-lived session does
  not accumulate cached blocks query after query.

* the **under-parallel-scan gate** — the test tables are single small
  parquet files (one input split); hash-heavy operators repartition
  them across the cluster first.  A production-scale scan is already
  parallel and must NOT pay a corpus-wide shuffle, so the gate fires
  only for scans with fewer partitions than the session's
  ``defaultParallelism``, probed with ``df.rdd.getNumPartitions()``.

* the **Python row map** — every row-wise Python UDF (both extraction
  sinks, media decode/resize/frame sampling, WARC parsing, the corpus
  generator) crosses into Python through :func:`map_rows`: one narrow
  ``mapInArrow``, plain Python values in, Arrow rows out, no pandas.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

_CACHES: list[DataFrame] = []


def track_cache(df: DataFrame) -> DataFrame:
    """persist() a plan intermediate and register it for release."""
    df.persist()
    _CACHES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every tracked intermediate; returns how many.

    Safe to call at any time: the cached data is a pure function of the
    inputs, so a released frame that some still-live plan references is
    simply recomputed."""
    n = 0
    while _CACHES:
        df = _CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def ensure_parallel_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition an under-parallel file scan across the cluster;
    leave already-parallel scans untouched (no gratuitous shuffle).

    Gate: the scan's actual partition count, which respects
    ``maxPartitionBytes`` splitting, so a corpus of few LARGE files that
    already scans wide is left alone. Turn off with the conf
    ``spark.pdfx.scan.repartition`` = ``never`` (default ``auto``)."""
    if spark.conf.get("spark.pdfx.scan.repartition", "auto") == "never":
        return df
    par = spark.sparkContext.defaultParallelism
    return df if df.rdd.getNumPartitions() >= par else df.repartition(par)


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``documents`` table of a test-scale ``sf_dir``, its scan
    spread by :func:`ensure_parallel_scan`: the test tables are single
    small files, and the hashing that follows is CPU-bound."""
    return ensure_parallel_scan(
        spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))


def map_rows(df: DataFrame, schema: StructType,
             setup: Callable[[], Callable[..., list[dict]]]) -> DataFrame:
    """The package's one Python row map: a narrow ``mapInArrow`` over
    ``df``'s columns.

    ``setup()`` runs once per task, on the executor (load models,
    fixtures, compiled rules there), and returns ``fn(*values)``: one
    call per input row with that row's column values as plain Python
    objects, returning the output rows as dicts keyed by ``schema``'s
    field names — one row, many (fan-out) or none. Columns come in with
    ``RecordBatch.column(c).to_pylist()``; rows go out with
    ``RecordBatch.from_pylist``, one output batch per input batch."""
    cols = df.columns

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        arrow = to_arrow_schema(schema)
        fn = setup()
        for rb in batches:
            rows: list[dict] = []
            for values in zip(*(rb.column(c).to_pylist() for c in cols)):
                rows.extend(fn(*values))
            yield pa.RecordBatch.from_pylist(rows, schema=arrow)

    return df.mapInArrow(run, schema=schema)
