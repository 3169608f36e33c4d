"""Streaming ingest tests (SURVEY §7 M4).

Strategy: split the events fixture into 3 parquet files dropped in a
source dir; run each streaming operator with maxFilesPerTrigger=1 (3
micro-batches) and compare the final state against the equivalent batch
plan over the same rows — the batch result is the oracle.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from tests.conftest import SF_SMOKE

try:
    import google.protobuf  # noqa: F401

    _HAS_PROTOBUF = True
except ImportError:
    _HAS_PROTOBUF = False


@pytest.fixture(scope="module")
def event_slices(tmp_path_factory):
    """The events fixture split 3 ways into single parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path_factory.mktemp("events_in")
    from mandoline_hbase_spark.sources.tables import load_table
    from mandoline_hbase_spark.session import get_spark

    spark = get_spark(app_name="mandoline-tests")
    pdf = load_table(spark, SF_SMOKE, "events").toPandas()
    # write micro-second timestamps: pandas defaults to ns, and the parquet
    # TIMESTAMP(NANOS) form is what the events fixture workaround exists for
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    # time-ordered thirds: streams arrive roughly in event-time order, and
    # the watermark correctly treats wildly out-of-order history as late
    ordered = pdf.sort_values("ts").reset_index(drop=True)
    k = len(ordered) // 3
    slices = [ordered.iloc[:k], ordered.iloc[k : 2 * k], ordered.iloc[2 * k :]]
    slices = [s.reset_index(drop=True) for s in slices]
    for i, s in enumerate(slices):
        pq.write_table(pa.Table.from_pandas(s, preserve_index=False), src / f"slice_{i}.parquet")
    return str(src), pdf


def _run_to_memory(stream_df, name: str, mode: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_windowed_counts_match_batch(spark, event_slices):
    from mandoline_hbase_spark.streaming.ingest import (
        read_events_stream,
        windowed_event_counts,
    )

    src, pdf = event_slices
    stream = windowed_event_counts(read_events_stream(spark, src))
    _run_to_memory(stream, "win_counts", "complete")
    got = spark.table("win_counts").toPandas()

    batch = windowed_event_counts(
        spark.createDataFrame(pdf)
    ).toPandas()

    key = ["window_start", "window_end", "event_type"]
    got_s = got.sort_values(key).reset_index(drop=True)
    batch_s = batch.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_s, batch_s, check_like=True)
    assert len(got_s) > 0


def test_sessionized_activity_match_batch(spark, event_slices):
    from mandoline_hbase_spark.streaming.ingest import (
        read_events_stream,
        sessionized_activity,
    )

    src, pdf = event_slices
    stream = sessionized_activity(read_events_stream(spark, src), gap="10 minutes")
    _run_to_memory(stream, "sessions", "complete")
    got = spark.table("sessions").toPandas()

    batch = sessionized_activity(
        spark.createDataFrame(pdf), gap="10 minutes"
    ).toPandas()

    key = ["session_start", "user_id"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        batch.sort_values(key).reset_index(drop=True),
        check_like=True,
    )
    assert got.n_events.sum() == len(pdf)


def test_running_user_totals_stateful(spark, event_slices):
    from mandoline_hbase_spark.streaming.ingest import (
        read_events_stream,
        running_user_totals,
    )

    src, pdf = event_slices
    stream = running_user_totals(read_events_stream(spark, src))
    _run_to_memory(stream, "running_totals", "update")
    got = spark.table("running_totals").toPandas()

    # update mode emits one row per user per batch it appears in; the final
    # (last-emitted) row per user must equal the batch aggregate.
    final = got.groupby("user_id").last().reset_index()
    expected = (
        pdf.groupby("user_id")
        .agg(total_value=("value", "sum"), n_events=("value", "size"))
        .reset_index()
    )
    merged = final.merge(expected, on="user_id", suffixes=("", "_exp"))
    assert len(merged) == len(expected)
    assert (merged.n_events == merged.n_events_exp).all()
    assert (merged.total_value - merged.total_value_exp).abs().max() < 1e-9


def test_versioned_ingest_commits_one_version_per_batch(spark, event_slices, tmp_path, monkeypatch):
    from mandoline_hbase_spark import storage
    from mandoline_hbase_spark.engine import mk_schema
    from mandoline_hbase_spark.streaming.ingest import (
        read_events_stream,
        read_ingested_events,
        start_versioned_ingest,
    )

    src, pdf = event_slices
    schema = mk_schema({"root": "stream-testing.mandoline.io", "base_path": str(tmp_path)})
    schema.create_dataset("event-log")
    conn = schema.connect("event-log")

    q = start_versioned_ingest(
        read_events_stream(spark, src), conn, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    versions = conn.versions()
    assert len(versions) == 3  # one commit per micro-batch (3 files)

    # the read-back fetches every committed batch chunk with ONE chunk-log scan
    chunk_scans = []
    orig_scan = storage.scan

    def counting_scan(table_dir, *args, **kwargs):
        if table_dir == os.path.join(conn.dataset_dir, "chunks"):
            chunk_scans.append(table_dir)
        return orig_scan(table_dir, *args, **kwargs)

    monkeypatch.setattr(storage, "scan", counting_scan)
    assert len(conn.resolve_chunk_map("events", conn.latest_version_id())) >= 3
    all_back = read_ingested_events(conn, spark).toPandas()
    assert len(chunk_scans) == 1
    assert len(all_back) == len(pdf)
    assert sorted(all_back.event_id) == sorted(pdf.event_id)

    # time travel: the first committed version sees only the first batch
    first_vid = min(int(v["version"]) for v in versions)
    first = read_ingested_events(conn, spark, version=first_vid).toPandas()
    assert 0 < len(first) < len(pdf)
    assert set(first.event_id) <= set(pdf.event_id)


def test_ingest_replay_is_idempotent(spark, event_slices, tmp_path):
    """Replaying a batch_id (foreachBatch failure semantics) must not
    duplicate data: same bytes -> same chunk id -> same index target."""
    from mandoline_hbase_spark.engine import mk_schema
    from mandoline_hbase_spark.streaming.ingest import commit_events_batch, read_ingested_events

    src, pdf = event_slices
    schema = mk_schema({"root": "replay-testing.mandoline.io", "base_path": str(tmp_path)})
    schema.create_dataset("event-log")
    conn = schema.connect("event-log")

    batch = spark.createDataFrame(pdf[pdf.event_id % 3 == 0])
    v1 = commit_events_batch(conn, batch, 0)
    v2 = commit_events_batch(conn, batch, 0)  # replay of the same batch
    assert v1 is not None and v2 is not None

    back = read_ingested_events(conn, spark).toPandas()
    assert len(back) == (pdf.event_id % 3 == 0).sum()  # no duplication


@pytest.mark.skipif(
    not _HAS_PROTOBUF, reason="transformWithState state client needs protobuf"
)
def test_finalized_sessions_timers_match_batch(spark, event_slices):
    from mandoline_hbase_spark.streaming.ingest import (
        finalized_sessions,
        read_events_stream,
        sessionized_activity,
    )

    src, pdf = event_slices
    stream = finalized_sessions(
        read_events_stream(spark, src), gap_minutes=10, watermark="30 seconds"
    )
    _run_to_memory(stream, "finalized", "append")
    got = spark.table("finalized").toPandas()

    batch = sessionized_activity(
        spark.createDataFrame(pdf), gap="10 minutes", watermark="30 seconds"
    ).toPandas()

    # every emitted (timer-closed) session must exactly equal its batch
    # session_window twin; sessions still open at end-of-stream don't emit
    assert len(got) > 0
    key = ["user_id", "session_start"]
    assert not got.duplicated(subset=key).any()
    merged = got.merge(batch, on=key, suffixes=("", "_b"))
    assert len(merged) == len(got), "emitted a session the batch oracle lacks"
    assert (merged["n_events"] == merged["n_events_b"]).all()
    assert (merged["session_end"] == merged["session_end_b"]).all()
    assert (merged["sum_value"] - merged["sum_value_b"]).abs().max() < 1e-6


@pytest.mark.skipif(_HAS_PROTOBUF, reason="gate only fires without protobuf")
def test_finalized_sessions_gate_raises_cleanly(spark, event_slices):
    from mandoline_hbase_spark.streaming.ingest import (
        finalized_sessions,
        read_events_stream,
    )

    src, _ = event_slices
    with pytest.raises(RuntimeError, match="protobuf"):
        finalized_sessions(read_events_stream(spark, src))
