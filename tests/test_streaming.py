"""Streaming operators: multi-batch file stream, watermark windowed agg
(complete == batch), and the stateful sessionizer whose final state must
equal the batch session_window query."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """sf0.001 events split into two time-ordered files → two
    micro-batches (state must survive the batch boundary)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    mid = ev.approxQuantile("event_id", [0.5], 0.001)[0]
    ev.filter(F.col("event_id") <= mid).coalesce(1).write.parquet(
        os.path.join(out, "a"))
    ev.filter(F.col("event_id") > mid).coalesce(1).write.parquet(
        os.path.join(out, "b"))
    # file source wants one flat dir
    flat = str(tmp_path_factory.mktemp("events_flat"))
    i = 0
    for sub in ("a", "b"):
        d = os.path.join(out, sub)
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                os.link(os.path.join(d, f), os.path.join(flat, f"{i:02d}.parquet"))
                i += 1
    return flat


def test_windowed_counts_match_batch(spark, events_dir):
    from pdf_extract_spark.streaming.windows import (
        read_events_stream, run_available_now, windowed_event_counts,
    )

    stream = read_events_stream(spark, events_dir)
    res = run_available_now(
        windowed_event_counts(stream), "win_counts", "complete"
    ).collect()

    ev = spark.read.parquet(events_dir).withColumn(
        "ts", F.col("ts").cast("timestamp"))
    expected = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("cast(round(value * 100) as bigint)"))
            .alias("value_cents"),
        )
        .select(F.col("w.start").alias("w_start"),
                F.col("w.end").alias("w_end"),
                "event_type", "n_events", "value_cents")
        .collect()
    )
    key = lambda r: (r.w_start, r.w_end, r.event_type, r.n_events, r.value_cents)
    assert sorted(map(key, res)) == sorted(map(key, expected))
    assert len(res) > 10


def test_stateful_sessionizer_matches_batch(spark, events_dir):
    from pdf_extract_spark.queries import SESSION_GAP_US, _US_SPARK
    from pdf_extract_spark.streaming.windows import (
        read_events_stream, run_available_now, sessionize_stream,
    )

    stream = read_events_stream(spark, events_dir)
    mem = run_available_now(sessionize_stream(stream), "sessions", "update")
    # update mode appends every per-batch revision; the final value per
    # (user, session) is the max (counts and durations only grow)
    final = (
        mem.groupBy("user_id", "sess_id")
        .agg(F.max("n_events").alias("n_events"),
             F.max("duration_us").alias("duration_us"))
        .collect()
    )

    ev = spark.read.parquet(events_dir).select(
        "user_id", "event_id", F.expr(_US_SPARK).alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    batch = (
        ev.withColumn("prev_us", F.lag("us").over(w))
        .withColumn(
            "brk",
            (F.col("prev_us").isNull()
             | (F.col("us") - F.col("prev_us") > SESSION_GAP_US)).cast("int"),
        )
        .withColumn("sess_id", F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess_id")
        .agg(F.count("*").alias("n_events"),
             (F.max("us") - F.min("us")).alias("duration_us"))
        .collect()
    )
    key = lambda r: (r.user_id, r.sess_id, r.n_events, r.duration_us)
    assert sorted(map(key, final)) == sorted(map(key, batch))
    assert len(final) > 50


@pytest.mark.parametrize(
    "lateness_min,expect_spliced",
    [(0, False), (20, True)],
    ids=["zero-bound-drops", "in-bound-splices"],
)
def test_sessionizer_lateness_bound(spark, tmp_path, lateness_min,
                                    expect_spliced):
    """The late-data bound is a parameter: a cross-batch event 10 min
    behind the frontier (inside the open session) splices in when the
    bound allows it and drops when the bound is 0; an event far beyond
    any bound (inside a CLOSED session) always drops."""
    from pdf_extract_spark.streaming.windows import (
        run_available_now,
        sessionize_stream,
    )

    # batch 0: session 1 = {t0, t0+10m} … 40m gap … session 2 = {t0+50m,
    # t0+60m}.  batch 1: one event at t0+50m — 10 min behind the
    # frontier (t0+60m), inside the open session 2 — and one at t0+5m,
    # inside CLOSED session 1 (beyond any tested bound).
    from datetime import datetime, timedelta

    def mk(minute):
        return (7, datetime(2024, 3, 1) + timedelta(minutes=minute))
    b0 = [mk(0), mk(10), mk(50), mk(60)]
    b1 = [mk(50), mk(5)]
    schema = "user_id long, ts timestamp_ntz"
    d = str(tmp_path / "late_events")
    os.makedirs(d)
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(d + "/t0")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(d + "/t1")
    i = 0
    for sub in ("t0", "t1"):
        for f in sorted(os.listdir(f"{d}/{sub}")):
            if f.endswith(".parquet"):
                os.link(f"{d}/{sub}/{f}", f"{d}/{i:02d}.parquet")
                i += 1

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    mem = run_available_now(
        sessionize_stream(sdf, lateness_us=lateness_min * 60_000_000),
        f"late_sessions_{lateness_min}", "update",
    )
    final = {
        r.sess_id: (r.n_events, r.duration_us)
        for r in mem.groupBy("sess_id")
        .agg(F.max("n_events").alias("n_events"),
             F.max("duration_us").alias("duration_us"))
        .collect()
    }
    # session 1 is closed: the t0+5m late event never splices
    assert final[1] == (2, 10 * 60_000_000)
    if expect_spliced:
        assert final[2] == (3, 10 * 60_000_000)
    else:
        assert final[2] == (2, 10 * 60_000_000)


def test_streaming_extraction_matches_batch(spark, tmp_path):
    """The flagship operator through Structured Streaming: drain a
    2-file corpus with availableNow and compare spans to the batch
    pipeline on the same input (exactly-once sink: a second drain with
    the same checkpoint adds nothing)."""
    from pdf_extract_spark.plans.pipeline import extract_spans
    from pdf_extract_spark.sources.corpus import corpus_dataframe
    from pdf_extract_spark.streaming.extract_stream import run_extract_stream

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    corpus_dataframe(spark, 8).write.mode("overwrite").parquet(in_dir)

    run_extract_stream(spark, in_dir, out_dir, ckpt)
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in extract_spans(spark.read.parquet(in_dir)).collect()
    }
    assert got == want and len(got) == 8

    # idempotent restart: checkpoint remembers the drained files
    run_extract_stream(spark, in_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == 8


def test_sessionize_group_cross_chunk_order_and_late_drop():
    """Unit-level check of the stateful fold: chunks are merged and
    sorted globally (out-of-order ACROSS chunks sessionizes correctly),
    and events older than the carried frontier are dropped."""
    import pandas as pd

    from pdf_extract_spark.queries import SESSION_GAP_US
    from pdf_extract_spark.streaming.windows import _make_sessionize_group

    _sessionize_group = _make_sessionize_group(0)

    class FakeState:
        def __init__(self):
            self.exists = False
            self.get = None

        def update(self, v):
            self.exists, self.get = True, v

    st = FakeState()
    gap = SESSION_GAP_US
    # two chunks, interleaved times: chunk-local folding would open a
    # bogus second session; global sort sees 0, 1, gap+10, gap+11
    c1 = pd.DataFrame({"us": [gap + 10, 0]})
    c2 = pd.DataFrame({"us": [1, gap + 11]})
    out = list(_sessionize_group((7,), iter([c1, c2]), st))
    rows = {int(r.sess_id): (int(r.n_events), int(r.duration_us))
            for r in out[0].itertuples()}
    assert rows == {1: (2, 1), 2: (2, 1)}

    # next micro-batch: a late event far behind the frontier is dropped,
    # an on-time one extends the open session
    out2 = list(_sessionize_group(
        (7,), iter([pd.DataFrame({"us": [5, gap + 12]})]), st))
    rows2 = {int(r.sess_id): (int(r.n_events), int(r.duration_us))
             for r in out2[0].itertuples()}
    assert rows2 == {2: (3, 2)}


def test_streaming_dedup_first_seen(spark, tmp_path):
    """Streaming exact dedup: the kept set over a doc_id-ordered
    2-batch stream equals batch-mode dedup_exact's canonical set, and
    a duplicate arriving in a LATER micro-batch is dropped by state."""
    import os

    from pdf_extract_spark.streaming.windows import (
        dedup_docs_stream,
        run_available_now,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    mid = docs.approxQuantile("doc_id", [0.5], 0.001)[0]
    d = str(tmp_path / "docs_stream")
    os.makedirs(d)
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.mode(
        "overwrite").parquet(d + "/tmp_a")
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.mode(
        "overwrite").parquet(d + "/tmp_b")
    i = 0
    for sub in ("tmp_a", "tmp_b"):
        for f in sorted(os.listdir(d + "/" + sub)):
            if f.endswith(".parquet"):
                os.link(f"{d}/{sub}/{f}", f"{d}/{i:02d}.parquet")
                i += 1

    # third micro-batch: exact duplicates of early docs under NEW
    # doc_ids — cross-batch state must swallow them
    dup = docs.filter(F.col("doc_id") <= 10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    dup.coalesce(1).write.mode("overwrite").parquet(d + "/tmp_c")
    for f in sorted(os.listdir(d + "/tmp_c")):
        if f.endswith(".parquet"):
            os.link(f"{d}/tmp_c/{f}", f"{d}/{i:02d}.parquet")
            i += 1

    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    kept = run_available_now(
        dedup_docs_stream(sdf), "dedup_stream_t", output_mode="append"
    )
    kept_ids = {r.doc_id for r in kept.collect()}

    # batch oracle: canonical = min doc_id per content hash — identical
    # because the stream arrives in doc_id order
    batch = (
        docs.select("doc_id", F.md5(F.lower(F.trim("text"))).alias("h"))
        .groupBy("h").agg(F.min("doc_id").alias("rep"))
    )
    batch_ids = {r.rep for r in batch.collect()}
    assert kept_ids == batch_ids

    # with a generous state TTL the result is identical (the timeout
    # plumbing — ProcessingTimeTimeout + setTimeoutDuration + timed-out
    # removal — must not change semantics inside its window). NOT run
    # with availableNow: pending processing-time timers keep that
    # trigger scheduling empty batches forever (see dedup_docs_stream
    # docstring) — drain with a continuous trigger and stop manually.
    import time

    q = (
        dedup_docs_stream(sdf, state_ttl_ms=3_600_000)
        .writeStream.format("memory")
        .queryName("dedup_stream_ttl_t")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            got = {r.doc_id
                   for r in spark.table("dedup_stream_ttl_t").collect()}
            if got == batch_ids:
                break
            time.sleep(1.0)
        assert got == batch_ids
    finally:
        q.stop()


def test_streaming_neardup_matches_batch_incremental(spark, tmp_path):
    """Stream-static near-dup: new docs streamed against the corpus
    sketch emit exactly the pairs batch-mode dedup_incremental finds
    (same split: doc_id % 10 == 0 is 'new'), each pair exactly once on
    both sides — at sf0.001 most LSH candidate pairs collide in both
    bands, so a lost first-colliding-band rule would repeat them."""
    import os

    from pdf_extract_spark.operators.dedup import (
        banded_signatures,
        incremental_dedup_pairs,
    )
    from pdf_extract_spark.streaming.windows import (
        neardup_stream,
        run_available_now,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    sketch = banded_signatures(corpus).persist()

    d = str(tmp_path / "new_docs")
    os.makedirs(d)
    mid = new.approxQuantile("doc_id", [0.5], 0.001)[0]
    new.filter(F.col("doc_id") <= mid).coalesce(1).write.parquet(d + "/tmp_a")
    new.filter(F.col("doc_id") > mid).coalesce(1).write.parquet(d + "/tmp_b")
    i = 0
    for sub in ("tmp_a", "tmp_b"):
        for f in sorted(os.listdir(f"{d}/{sub}")):
            if f.endswith(".parquet"):
                os.link(f"{d}/{sub}/{f}", f"{d}/{i:02d}.parquet")
                i += 1

    sdf = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    got = run_available_now(
        neardup_stream(sdf, sketch), "neardup_stream_t",
        output_mode="append",
    )
    stream_rows = [(r.new_id, r.corpus_id) for r in got.collect()]
    batch_rows = [
        (r.new_id, r.corpus_id)
        for r in incremental_dedup_pairs(spark, SF_DIR).collect()
    ]
    assert len(stream_rows) == len(set(stream_rows)), stream_rows
    assert len(batch_rows) == len(set(batch_rows)), batch_rows
    assert set(stream_rows) == set(batch_rows) and batch_rows
