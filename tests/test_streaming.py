"""End-to-end streaming pipeline tests: file source -> DLQ/bronze ->
silver merge, with checkpoint restart (SURVEY.md §5 streaming units)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import StringType, StructField, StructType

from cdc_demo_spark.streaming.generator import generate_events, scramble, write_event_files
from cdc_demo_spark.streaming.merge import read_silver, replay_oracle
from cdc_demo_spark.streaming.pipeline import CdcPipeline, NotifiedCdcPipeline

PAYLOAD = StructType(
    [
        StructField(c, StringType(), True)
        for c in ("name", "owner", "species", "sex", "birth", "death")
    ]
)


def make_pipeline(spark, tmp_path) -> CdcPipeline:
    return CdcPipeline(spark, str(tmp_path / "cdc"), {"pet": PAYLOAD})


def test_stream_end_to_end(spark, tmp_path):
    p = make_pipeline(spark, tmp_path)
    events = generate_events(n_keys=12, n_events=150, seed=5)
    feed = scramble(events, seed=6)
    write_event_files(feed, os.path.join(p.landing_dir, "pet"), files=6)

    p.run_available_now("pet")

    expected = replay_oracle(events)
    got = {r["name"]: r.asDict() for r in read_silver(spark, p.silver_dir("pet")).collect()}
    assert got == expected
    # bronze kept the full (deduped-by-nothing) append log
    bronze = spark.read.parquet(os.path.join(p.bronze_dir, "pet"))
    assert bronze.count() == len(feed)


def test_stream_incremental_and_checkpoint_restart(spark, tmp_path):
    """Drop files in two waves with a fresh run each time: the checkpoint
    must skip wave-1 files on the second run (exactly-once listing, B47)."""
    p = make_pipeline(spark, tmp_path)
    events = generate_events(n_keys=10, n_events=100, seed=8)
    half = len(events) // 2
    write_event_files(events[:half], os.path.join(p.landing_dir, "pet"), files=3, prefix="w1")
    p.run_available_now("pet")
    state_1 = {r["name"]: r.asDict() for r in read_silver(spark, p.silver_dir("pet")).collect()}
    assert state_1 == replay_oracle(events[:half])

    write_event_files(events[half:], os.path.join(p.landing_dir, "pet"), files=3, prefix="w2")
    p.run_available_now("pet")  # new query, same checkpoint
    state_2 = {r["name"]: r.asDict() for r in read_silver(spark, p.silver_dir("pet")).collect()}
    assert state_2 == replay_oracle(events)

    # bronze row count proves wave-1 files were not re-ingested
    bronze = spark.read.parquet(os.path.join(p.bronze_dir, "pet"))
    assert bronze.count() == len(events)


def _drain_continuous(spark, p, expected, dlq_root) -> None:
    """Run start_continuous until silver equals `expected` and the DLQ
    exists (or a generous deadline passes), then stop the query."""
    import time

    q = p.start_continuous("pet", interval="1 seconds")
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            try:
                got = {r["name"]: r.asDict()
                       for r in read_silver(spark, p.silver_dir("pet")).collect()}
                if got == expected and os.path.isdir(dlq_root):
                    return
            except Exception:  # silver not committed yet / commit race
                pass
            time.sleep(1)
    finally:
        try:
            q.stop()
        except Exception:
            pass  # stop raced with the final trigger


@pytest.mark.parametrize("mode", ["available_now", "continuous", "notified"])
def test_malformed_records_go_to_dlq(spark, tmp_path, mode):
    """A13: unparseable records divert to the dead-letter queue; good
    records in the same file still flow — in every drive mode."""
    cls = NotifiedCdcPipeline if mode == "notified" else CdcPipeline
    p = cls(spark, str(tmp_path / "cdc"), {"pet": PAYLOAD})
    events = generate_events(n_keys=5, n_events=20, seed=9)
    expected = replay_oracle(events)
    land = os.path.join(p.landing_dir, "pet")
    paths = write_event_files(events, land, files=1)
    bad_file = os.path.join(land, "zz-badfile.json")
    with open(bad_file, "w") as f:
        f.write('{"op": "c", "seq": broken!!!\n')
        f.write("utter garbage\n")
    dlq_root = os.path.join(p.dlq_dir, "pet")

    if mode == "available_now":
        p.run_available_now("pet")
    elif mode == "notified":
        p.notify("pet", [*paths, bad_file])
        p.run_notified_available_now("pet")
    else:
        _drain_continuous(spark, p, expected, dlq_root)

    dlq = spark.read.parquet(dlq_root)
    assert dlq.count() == 2
    got = {r["name"]: r.asDict() for r in read_silver(spark, p.silver_dir("pet")).collect()}
    assert got == expected


def test_continuous_trigger_pipeline(spark, tmp_path):
    """start_continuous: processing-time trigger picks up files dropped
    WHILE the query runs, then stops cleanly."""
    import time

    p = make_pipeline(spark, tmp_path)
    events = generate_events(n_keys=8, n_events=60, seed=44)
    half = len(events) // 2
    write_event_files(events[:half], os.path.join(p.landing_dir, "pet"), files=2, prefix="w1")

    q = p.start_continuous("pet", interval="1 seconds")
    try:
        # Generous deadline: under a fully-loaded 32-thread host the
        # micro-batch cadence can stretch well past the 1 s trigger.
        deadline = time.time() + 120
        while time.time() < deadline:
            try:
                if read_silver(spark, p.silver_dir("pet")).count() > 0:
                    break
            except Exception:  # silver not committed yet (no manifest)
                pass
            time.sleep(1)
        # drop more files while the stream is live
        write_event_files(events[half:], os.path.join(p.landing_dir, "pet"), files=2, prefix="w2")
        expected = replay_oracle(events)
        got = None
        while time.time() < deadline:
            try:
                got = {r["name"]: r.asDict()
                       for r in read_silver(spark, p.silver_dir("pet")).collect()}
                if got == expected:
                    break
            except Exception:  # transient read race with a commit
                pass
            time.sleep(1)
        assert got == expected
    finally:
        try:
            q.stop()
        except Exception:
            pass  # stop raced with the final trigger; the fixture's
            # session teardown reaps any straggler query


def test_pipeline_second_table_shape(spark, tmp_path):
    """The pipeline is payload-generic: replicate an events-shaped table
    alongside pet (separate landing/silver/checkpoint per table)."""
    import json

    from pyspark.sql.types import DoubleType, LongType

    ev_payload = StructType([
        StructField("event_id", StringType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", StringType(), True),
    ])
    p = CdcPipeline(spark, str(tmp_path / "cdc"), {"pet": PAYLOAD, "events": ev_payload})
    evs = []
    for i in range(40):
        row = {"event_id": str(i), "event_type": ["a", "b"][i % 2], "value": str(i * 1.5)}
        evs.append({"op": "c", "ts": f"2024-01-01T00:{i:02d}:00", "seq": i,
                    "table": "events", "key": str(i), "before": None, "after": row})
    d = os.path.join(p.landing_dir, "events")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "x.json"), "w") as f:
        for e in evs:
            f.write(json.dumps(e) + "\n")
    p.run_available_now("events")
    out = read_silver(spark, p.silver_dir("events"))
    assert out.count() == 40
    assert set(out.columns) == {"event_id", "event_type", "value"}


def test_bronze_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: losing the checkpoint (the
    worst-case replay — every batch re-runs with the same data) must not
    duplicate events in bronze, because each batch overwrites its own
    batch_id partition instead of appending."""
    import shutil

    p = make_pipeline(spark, tmp_path)
    events = generate_events(n_keys=8, n_events=60, seed=77)
    write_event_files(events, os.path.join(p.landing_dir, "pet"), files=4)
    p.run_available_now("pet")
    bronze_path = os.path.join(p.bronze_dir, "pet")
    n_first = spark.read.parquet(bronze_path).count()
    assert n_first == len(events)

    # simulate a lost sink commit: wipe the checkpoint so the stream
    # replays ALL files as the same batch ids
    shutil.rmtree(p.checkpoint_dir("pet"))
    p.run_available_now("pet")
    assert spark.read.parquet(bronze_path).count() == len(events)  # no dupes
    # silver converged (merge was already idempotent by (ts, seq))
    got = {r["name"]: r.asDict() for r in read_silver(spark, p.silver_dir("pet")).collect()}
    assert got == replay_oracle(events)
