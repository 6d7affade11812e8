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
  only for scans with fewer files than the target parallelism.  The
  probe is Spark-Connect-safe: ``DataFrame.inputFiles()`` (plan-side)
  instead of ``df.rdd.getNumPartitions()`` (classic-only RDD API).

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


def target_parallelism(spark: SparkSession) -> int:
    """Cluster-width hint: ``defaultParallelism`` on classic Spark, the
    shuffle-partition count under Spark Connect (no SparkContext on the
    client)."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


def ensure_parallel_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition an under-parallel file scan across the cluster;
    leave already-parallel scans untouched (no gratuitous shuffle).

    Gate: the scan's actual partition count when the RDD API is
    available (classic Spark — this respects ``maxPartitionBytes``
    splitting, so a corpus of few LARGE files that already scans wide
    is left alone), falling back to the file-count proxy only under
    Spark Connect, where no RDD probe exists.  The proxy's worst case
    is one redundant ~KB/row shuffle on a monolithic-file corpus; the
    common production layout (many files) is untouched either way.
    Turn off with the conf ``spark.pdfx.scan.repartition`` = ``never``
    (default ``auto``)."""
    try:
        mode = spark.conf.get("spark.pdfx.scan.repartition", "auto")
    except Exception:
        mode = "auto"
    if mode == "never":
        return df
    par = target_parallelism(spark)
    try:
        width = df.rdd.getNumPartitions()
    except Exception:  # Spark Connect: no RDD handle
        width = len(df.inputFiles())
    return df if width >= par else df.repartition(par)


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
