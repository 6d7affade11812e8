"""Structured Streaming operators over the events stream.

The reference has no dataflow streaming (its "stream" API is a byte-stream
overload, SURVEY.md §2.9) — this module is the engine-completeness
extension: event-time windowed aggregation with a watermark, a custom
stateful sessionizer via ``applyInPandasWithState`` (the streaming form of
the W2 gap-segmentation query in queries.py session_window), streaming
first-seen exact dedup (keyed state), and streaming MinHash near-dup of
arriving docs against a static corpus sketch (``neardup_stream``: the
stateless stream-static band join of dedup_incremental, called as is).

Scale notes: the windowed aggregate shuffles on (window, event_type) with
partial aggregation map-side and its watermark bounds both state and
late data. The keyed stateful operators shard state across executors by
their group key; state size is bounded by KEY CARDINALITY (users /
distinct hashes), not stream length — a production deployment adds
GroupStateTimeout.ProcessingTimeTimeout to retire idle keys. The
sessionizer drops events behind its carried frontier (the stateful
analogue of the watermark's late-data policy); the stream-static
near-dup join keeps no state at all.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..queries import SESSION_GAP_US, _US_SPARK


def read_events_stream(spark: SparkSession, events_dir: str,
                       max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over parquet event files (one micro-batch per
    file by default, so multi-batch state transitions are exercised)."""
    schema = spark.read.parquet(events_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
    )


def windowed_event_counts(events: DataFrame,
                          watermark: str = "1 hour",
                          window: str = "6 hours") -> DataFrame:
    """Event-time tumbling-window counts per event_type with a watermark
    (late data beyond it dropped). Money in exact integer cents.

    Watermarks require TIMESTAMP_LTZ; NTZ sources are cast (session-tz
    interpretation — consistent within a job)."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("cast(round(value * 100) as bigint)"))
            .alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type", "n_events", "value_cents",
        )
    )


def run_available_now(sdf: DataFrame, name: str,
                      output_mode: str = "complete") -> DataFrame:
    """Drain the stream with trigger(availableNow) into a memory sink and
    return the result table (test/driver harness helper)."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


# ---------------------------------------------------------------------------
# custom stateful operator: incremental gap sessionizer
# ---------------------------------------------------------------------------

_SESSION_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("sess_id", LongType()),
        StructField("n_events", LongType()),
        StructField("duration_us", LongType()),
    ]
)

#: carried between micro-batches per user: last event time, open session
#: id, open session start, open session count
_SESSION_STATE = StructType(
    [
        StructField("last_us", LongType()),
        StructField("sess_id", LongType()),
        StructField("sess_start_us", LongType()),
        StructField("sess_n", LongType()),
    ]
)


def _make_sessionize_group(lateness_us: int):
    """Build the per-group stateful function with a configurable
    late-data bound (the stateful analogue of a watermark's allowed
    lateness): an event behind the carried frontier by MORE than
    ``lateness_us`` is dropped; one within the bound SPLICES into the
    open session when it falls inside it or within the session gap of
    its start (re-emitted with updated aggregates — update mode), and
    is dropped only when it belongs to an already-closed session, which
    the one-open-session state cannot reopen."""

    def _sessionize_group(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Incremental form of the session_window query: carry the open
        session across micro-batches in GroupState; emit every session's
        CURRENT aggregate each batch (update mode — the final batch's
        rows equal the batch-mode result)."""
        (user_id,) = key
        if state.exists:
            last_us, sess_id, sess_start, sess_n = state.get
        else:
            last_us, sess_id, sess_start, sess_n = None, 0, None, 0
        touched: dict[int, tuple[int, int]] = {}
        # one global sort across ALL of this batch's chunks — chunk-local
        # sorts processed in iterator order would mis-sessionize events
        # that arrive out of order across chunks. Late arrivals across
        # micro-batches follow the lateness policy above.
        chunks = list(pdfs)
        batch_us = (
            pd.concat(chunks)["us"].sort_values() if chunks else pd.Series([])
        )
        for us in batch_us:
            us = int(us)
            if last_us is not None and us < last_us:
                if us < last_us - lateness_us:
                    continue  # late beyond the allowed bound: drop
                if sess_start is not None and us + SESSION_GAP_US >= sess_start:
                    # splice into the open session (possibly extending
                    # its start earlier); frontier does not move back
                    sess_n += 1
                    if us < sess_start:
                        sess_start = us
                    touched[sess_id] = (sess_n, last_us - sess_start)
                continue  # within bound but session already closed: drop
            if last_us is None or us - last_us > SESSION_GAP_US:
                sess_id += 1
                sess_start = us
                sess_n = 0
            sess_n += 1
            last_us = us
            touched[sess_id] = (sess_n, last_us - sess_start)
        state.update((last_us, sess_id, sess_start, sess_n))
        if touched:
            yield pd.DataFrame(
                [
                    {"user_id": user_id, "sess_id": sid, "n_events": n,
                     "duration_us": dur}
                    for sid, (n, dur) in touched.items()
                ]
            )

    return _sessionize_group


def sessionize_stream(events: DataFrame, lateness_us: int = 0) -> DataFrame:
    """Gap-based sessions as a stateful streaming operator
    (applyInPandasWithState keyed by user_id).  ``lateness_us`` is the
    allowed late-arrival bound behind each user's event-time frontier:
    0 (default) drops every cross-batch late event; a positive bound
    splices in-bound late events into the still-open session and drops
    only those targeting closed sessions or beyond the bound."""
    ev = events.select("user_id", F.expr(_US_SPARK).alias("us"))
    return ev.groupBy("user_id").applyInPandasWithState(
        _make_sessionize_group(lateness_us),
        outputStructType=_SESSION_OUT,
        stateStructType=_SESSION_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# custom stateful operator: streaming exact dedup (first-seen wins)
# ---------------------------------------------------------------------------

_DEDUP_OUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text_md5", StringType()),
    ]
)

#: per content-hash: how many docs carrying it have been seen so far
_DEDUP_STATE = StructType([StructField("n_seen", LongType())])


def _make_dedup_group(state_ttl_ms: int | None):
    def _dedup_group(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """First-seen-wins exact dedup: the first micro-batch in which a
        content hash appears emits ONE canonical row (min doc_id within
        that batch, deterministic); every later arrival is swallowed and
        counted. The streaming twin of dedup_exact +
        dedup_keep_canonical: state is one counter per distinct hash,
        sharded by the groupBy — bounded by corpus cardinality, not
        stream length. With a TTL, idle hashes are retired (the key may
        re-emit after expiry — the documented recall/state tradeoff for
        unbounded-cardinality streams)."""
        if state_ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        chunks = list(pdfs)
        rows = pd.concat(chunks) if chunks else pd.DataFrame({"doc_id": []})
        existed = state.exists
        n = state.get[0] if existed else 0
        state.update((n + len(rows),))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if not existed and len(rows):
            first_id = int(rows["doc_id"].min())
            yield pd.DataFrame([{"doc_id": first_id, "text_md5": key[0]}])

    return _dedup_group


def dedup_docs_stream(docs: DataFrame,
                      state_ttl_ms: int | None = None) -> DataFrame:
    """Streaming ingest dedup over (doc_id, text): emits the canonical
    (first-seen) doc per exact-content hash; duplicates arriving in any
    later micro-batch are dropped by keyed state.  ``state_ttl_ms``
    retires hashes idle for that long (processing-time timeout) —
    bounded state for streams whose distinct-hash cardinality is itself
    unbounded, at the cost that a duplicate arriving after expiry
    re-emits as canonical.

    Deployment note: use the TTL only with continuous triggers. Under
    ``trigger(availableNow=True)`` pending processing-time timers keep
    the query scheduling empty micro-batches, so a drain-and-stop
    harness never terminates (observed on Spark 4.1)."""
    hashed = docs.select(
        "doc_id", F.md5(F.lower(F.trim("text"))).alias("text_md5")
    )
    return hashed.groupBy("text_md5").applyInPandasWithState(
        _make_dedup_group(state_ttl_ms),
        outputStructType=_DEDUP_OUT,
        stateStructType=_DEDUP_STATE,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms is not None else GroupStateTimeout.NoTimeout
        ),
    )


# ---------------------------------------------------------------------------
# streaming near-dup: new docs vs a static corpus sketch (stream-static)
# ---------------------------------------------------------------------------


def neardup_stream(new_docs: DataFrame, sketch: DataFrame) -> DataFrame:
    """Streaming MinHash near-dup: each arriving doc's bands equi-join
    the static corpus sketch (``operators.dedup.banded_signatures``
    rows — a sketch-table scan or an in-plan frame), then the
    exact-jaccard verify.  Emits (new_id, corpus_id, jacc) per detected
    near-dup; the ingest filter is an anti-join of the batch against
    these ids downstream.

    This IS the batch ingest join (``incremental_pairs_against_sketch``):
    its first-colliding-band rule emits each pair exactly once with no
    ``dropDuplicates`` — whose keyed state store would grow by one entry
    per emitted pair, never retired — so the stream-static join keeps
    zero streaming state at 10^12 docs."""
    from ..operators.dedup import incremental_pairs_against_sketch

    return incremental_pairs_against_sketch(new_docs, sketch)
