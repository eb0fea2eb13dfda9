"""Streaming ingest: file-source document stream appends to the index via
foreachBatch; windowed rollup emits watermark-finalized counts."""

from __future__ import annotations

import time
from pathlib import Path

import numpy as np
import pytest
import pyspark.sql.functions as F

from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.plans.indexer import Indexer
from colbert_spark.plans.searcher import Searcher
from colbert_spark.sources.datagen import gen_docs_pdf
from colbert_spark.streaming.ingest import stream_index, windowed_event_counts


def _drain_then_stop(q, n_rows: int, timeout_s: float) -> None:
    """Wait until the query has read all n_rows of its backlog, then stop
    it. A processing-time-timeout query (sessionize_stream) never ends
    under availableNow: the timeout keeps asking for no-data batches, so
    awaitTermination would only sit out its whole timeout and leave the
    query running through every later test. Batch ids dedup the progress
    reports, which overlap between polls."""
    seen: dict[int, int] = {}
    deadline = time.time() + timeout_s
    try:
        while sum(seen.values()) < n_rows and time.time() < deadline:
            assert q.exception() is None, q.exception()
            for p in q.recentProgress:
                seen[p["batchId"]] = p["numInputRows"]
            time.sleep(0.2)
    finally:
        q.stop()
    assert sum(seen.values()) == n_rows, (seen, n_rows)


def test_stream_index_appends_documents(spark, tmp_path):
    cfg = ColBERTConfig(index_root=str(tmp_path / "idx"), index_partitions=8)
    docs_pdf = gen_docs_pdf(np.arange(100))
    docs_pdf["pid"] = np.arange(100)
    base = spark.createDataFrame(docs_pdf[["pid", "text"]])
    Indexer(cfg).index("s1", base, overwrite=True)

    # two "crawl" files arrive
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    spark.createDataFrame(
        [(2000, "zzstreamterm t00000 fresh crawl page"),
         (2001, "zzstreamterm zzstreamterm another page")],
        "pid long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(str(inbox / "batch1"))

    stream = (
        spark.readStream.schema("pid long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(inbox / "batch1"))
    )
    q = stream_index(stream, "s1", cfg, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    s = Searcher("s1", spark, cfg)
    pids, _, _ = s.search("zzstreamterm", k=5)
    assert set(pids) == {2000, 2001}
    assert pids[0] == 2001  # tf=2 first


def test_windowed_event_counts_batch_parity(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = windowed_event_counts(ev, window="1 hour").collect()
    assert len(out) > 0
    total = sum(r["n"] for r in out)
    assert total == ev.count()


def test_windowed_event_counts_streaming(spark, tmp_path):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = tmp_path / "evsrc"
    ev.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(ev.schema).parquet(str(src))
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory").queryName("ev_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "evckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {(r["window_start"], r["event_type"]): r["n"]
           for r in spark.sql("select * from ev_counts").collect()}
    exp = {(r["window_start"], r["event_type"]): r["n"]
           for r in windowed_event_counts(ev, window="1 hour").collect()}
    assert got == exp


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): closed sessions
    emitted by the stream must equal the batch window-function sessions,
    except possibly the last (still-open) session per user."""
    from colbert_spark.streaming.sessionize import sessionize_batch, sessionize_stream

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    batch = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["sum_value"])
        for r in sessionize_batch(ev).collect()
    }
    src = tmp_path / "sess_src"
    ev.orderBy("ts").coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(ev.schema).parquet(str(src))
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory").queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    _drain_then_stop(q, ev.count(), 180)
    got = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from sessions").collect()
    }
    # stream emits only CLOSED sessions; every emitted one must match batch
    assert got, "stream must close at least some sessions"
    for key, val in got.items():
        assert batch[key] == val, f"session {key}: stream={val} batch={batch[key]}"
    # and the stream must have closed all but the open tail sessions
    open_tails = {u for (u, s) in batch} # one possibly-open session per user
    assert len(got) >= len(batch) - len(open_tails)


def test_sessionize_batch_deterministic_with_tied_timestamps(spark):
    """Duplicate (user_id, ts) events: the window orders by (ts, event_id)
    with an explicit ROWS frame, so session assignment is deterministic
    and matches a straightforward Python replay of the gap rule."""
    import datetime as dt

    from colbert_spark.streaming.sessionize import sessionize_batch

    t0 = dt.datetime(2024, 1, 1)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # user 1: tie at t=0 (events 0,1), gap, tie at t=60 (events 2,3)
        (0, ts(0), 1, 1.0), (1, ts(0), 1, 2.0),
        (2, ts(60), 1, 3.0), (3, ts(60), 1, 4.0),
        # user 2: tie exactly at the session boundary — events 10 min apart
        # then two with identical ts 40 min later
        (4, ts(0), 2, 1.0), (5, ts(10), 2, 1.0),
        (6, ts(50), 2, 1.0), (7, ts(50), 2, 1.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    got = {
        (r["user_id"], r["session_id"]): (r["n_events"],
                                          round(r["sum_value"], 2))
        for r in sessionize_batch(ev, gap_minutes=30).collect()
    }
    # python replay: order by (ts, event_id), new session when gap > 30min
    expected = {}
    for user, events in ((1, rows[0:4]), (2, rows[4:8])):
        events = sorted(events, key=lambda e: (e[1], e[0]))
        sid, last = -1, None
        for eid, t, u, v in events:
            if last is None or (t - last).total_seconds() > 1800:
                sid += 1
                expected[(user, sid)] = [0, 0.0]
            expected[(user, sid)][0] += 1
            expected[(user, sid)][1] = round(expected[(user, sid)][1] + v, 2)
            last = t
    assert got == {k: tuple(v) for k, v in expected.items()}
    # stable under input shuffling (the tiebreak does its job)
    got2 = {
        (r["user_id"], r["session_id"]): (r["n_events"],
                                          round(r["sum_value"], 2))
        for r in sessionize_batch(
            ev.orderBy(F.desc("event_id")).repartition(8), gap_minutes=30
        ).collect()
    }
    assert got2 == got


def test_stream_exact_dedup(spark, tmp_path):
    """Streaming exact dedup drops in-horizon duplicates; batch mode
    equals exact_dedup distinct-count semantics."""
    import datetime as dt

    from colbert_spark.streaming.ingest import stream_exact_dedup

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (0, t0, "alpha beta gamma"),
        (1, t0 + dt.timedelta(minutes=1), "alpha beta gamma"),   # dup of 0
        (2, t0 + dt.timedelta(minutes=2), "something else here"),
        (3, t0 + dt.timedelta(minutes=3), "Alpha  beta GAMMA"),  # norm-dup
        (4, t0 + dt.timedelta(minutes=4), "unique final doc"),
    ]
    schema = "doc_id long, ts timestamp, text string"
    batch = spark.createDataFrame(rows, schema)
    # batch mode: one row per distinct normalized text
    assert stream_exact_dedup(batch).count() == 3

    src = tmp_path / "dedup_src"
    batch.orderBy("doc_id").coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    q = (
        stream_exact_dedup(stream)
        .writeStream.format("memory").queryName("deduped")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT doc_id FROM deduped").collect()
    kept = sorted(r["doc_id"] for r in out)
    # one survivor per distinct normalized text (which duplicate survives
    # within a micro-batch is unspecified; the COUNT is the contract)
    assert len(kept) == 3
    assert 2 in kept and 4 in kept
    assert len({0, 1, 3} & set(kept)) == 1


def test_stream_exact_dedup_batch_without_ts_column(spark):
    """A batch backfill without the timestamp column must still dedup
    (deterministic lexicographic-min survivor), not raise
    AnalysisException on the missing order column."""
    from colbert_spark.streaming.ingest import stream_exact_dedup

    batch = spark.createDataFrame(
        [(3, "alpha beta"), (1, "alpha  BETA"), (2, "other text")],
        "doc_id long, text string",
    )
    kept = sorted((r["doc_id"], r["text"])
                  for r in stream_exact_dedup(batch).collect())
    # min over remaining columns → doc_id 1 survives the dup group
    assert kept == [(1, "alpha  BETA"), (2, "other text")]


def test_sessionize_stream_matches_batch_with_ties(spark, tmp_path):
    """Stream/batch parity on duplicate (user_id, ts) events — the stream
    kernel's (ts, event_id) mergesort must agree with the batch window's
    tiebreak for closed sessions."""
    import datetime as dt

    from colbert_spark.streaming.sessionize import sessionize_batch, sessionize_stream

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (0, t0, 1, 1.0), (1, t0, 1, 2.0),                      # tie
        (2, t0 + dt.timedelta(minutes=45), 1, 3.0),            # new session
        (3, t0 + dt.timedelta(minutes=45), 1, 4.0),            # tie
        (4, t0 + dt.timedelta(minutes=120), 1, 5.0),           # closes prior
        (5, t0, 2, 1.0), (6, t0, 2, 1.5),                      # tie user 2
        (7, t0 + dt.timedelta(minutes=90), 2, 2.5),            # closes prior
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double")
    batch = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["sum_value"])
        for r in sessionize_batch(ev).collect()
    }
    src = tmp_path / "tie_src"
    ev.orderBy("ts", "event_id").coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(ev.schema).parquet(str(src))
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory").queryName("tie_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "tie_ckpt"))
        .start()
    )
    _drain_then_stop(q, len(rows), 120)
    streamed = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM tie_sessions").collect()
    }
    # closed sessions must match the batch result exactly
    for key, val in streamed.items():
        assert batch[key] == val, key
    # each user's final (open) session is the only one allowed to be absent
    assert len(streamed) >= len(batch) - 2
