"""Right-to-be-forgotten (streaming/erasure.py): the key's bytes leave
every persisted layer, late stragglers cannot resurrect it, and a
genuinely newer event can re-insert — the three properties that
distinguish erasure from a plain CDC delete.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from cdc_demo_spark.streaming.erasure import erase_key
from cdc_demo_spark.streaming.generator import generate_events, write_event_files
from cdc_demo_spark.streaming.merge import (
    lookup_silver_key,
    merge_into_silver,
    read_silver,
    read_silver_state,
)
from cdc_demo_spark.streaming.pipeline import CdcPipeline

PAYLOAD = StructType(
    [
        StructField(c, StringType(), True)
        for c in ("name", "owner", "species", "sex", "birth", "death")
    ]
)


@pytest.fixture()
def pipe(spark, tmp_path) -> CdcPipeline:
    p = CdcPipeline(spark, str(tmp_path / "cdc"), {"pet": PAYLOAD})
    events = generate_events(n_keys=8, n_events=80, seed=3)
    write_event_files(events, os.path.join(p.landing_dir, "pet"), files=4)
    p.run_available_now("pet")
    return p


def _target(spark, p):
    names = sorted(
        r["name"] for r in read_silver(spark, p.silver_dir("pet")).collect()
    )
    assert names
    return names[0]


def test_erasure_removes_bytes_everywhere(spark, pipe):
    key = _target(spark, pipe)
    report = erase_key(spark, pipe.base, "pet", key)
    assert report["silver"] is True
    assert report["bronze_batches"], "key must have appeared in bronze"

    # reader-visible replica: gone
    got = {r["name"] for r in read_silver(spark, pipe.silver_dir("pet")).collect()}
    assert key not in got
    # point lookup: gone
    lk = lookup_silver_key(spark, pipe.silver_dir("pet"), key)
    assert lk is None or lk.count() == 0
    # silver STATE bytes: only the redacted tombstone remains (null row)
    state = read_silver_state(spark, pipe.silver_dir("pet"))
    mine = state.filter(F.col("__key") == key).collect()
    assert len(mine) == 1 and mine[0]["__op"] == "d" and mine[0]["__row"] is None
    # bronze change history: zero envelope rows for the key
    bronze = spark.read.option(
        "basePath", os.path.join(pipe.bronze_dir, "pet")
    ).parquet(os.path.join(pipe.bronze_dir, "pet"))
    assert bronze.filter(F.col("key") == key).count() == 0
    # other keys' history untouched
    assert bronze.count() > 0


def test_late_straggler_cannot_resurrect(spark, pipe):
    """An older event for the erased key delivered AFTER erasure loses
    to the redacted tombstone (the B46 guarantee, preserved)."""
    key = _target(spark, pipe)
    erase_key(spark, pipe.base, "pet", key)

    import datetime as dt

    late = spark.createDataFrame(
        [
            (
                "c",
                dt.datetime(2020, 1, 1),  # far older than any real event
                -1,
                "pet",
                key,
                {"name": key, "owner": "ghost", "species": "cat",
                 "sex": None, "birth": None, "death": None},
            )
        ],
        "op string, ts timestamp, seq long, table string, key string, "
        "after struct<name:string,owner:string,species:string,"
        "sex:string,birth:string,death:string>",
    )
    merge_into_silver(spark, late, pipe.silver_dir("pet"), "pet")
    got = {r["name"] for r in read_silver(spark, pipe.silver_dir("pet")).collect()}
    assert key not in got


def test_newer_event_reinserts(spark, pipe):
    """The user comes back: an event newer than the erasure point
    inserts normally — erasure is not a permanent key ban."""
    key = _target(spark, pipe)
    erase_key(spark, pipe.base, "pet", key)

    import datetime as dt

    fresh = spark.createDataFrame(
        [
            (
                "c",
                dt.datetime(2030, 1, 1),
                10_000_000,
                "pet",
                key,
                {"name": key, "owner": "returned", "species": "cat",
                 "sex": None, "birth": None, "death": None},
            )
        ],
        "op string, ts timestamp, seq long, table string, key string, "
        "after struct<name:string,owner:string,species:string,"
        "sex:string,birth:string,death:string>",
    )
    merge_into_silver(spark, fresh, pipe.silver_dir("pet"), "pet")
    rows = (
        read_silver(spark, pipe.silver_dir("pet"))
        .filter(F.col("name") == key)
        .collect()
    )
    assert len(rows) == 1 and rows[0]["owner"] == "returned"


def test_dlq_blobs_mentioning_key_dropped(spark, tmp_path):
    p = CdcPipeline(spark, str(tmp_path / "cdc"), {"pet": PAYLOAD})
    land = os.path.join(p.landing_dir, "pet")
    os.makedirs(land, exist_ok=True)
    events = generate_events(n_keys=4, n_events=20, seed=11)
    write_event_files(events, land, files=2)
    key = events[0]["key"]
    with open(os.path.join(land, "zz-bad.json"), "w") as f:
        f.write('{"op": "c", "broken json mentioning ' + key + '\n')
        f.write('{"op": also broken, "other": "unrelated"}\n')
    p.run_available_now("pet")

    report = erase_key(spark, p.base, "pet", key)
    assert report["dlq_records"] == 1
    dlq = spark.read.option("basePath", os.path.join(p.dlq_dir, "pet")).parquet(
        os.path.join(p.dlq_dir, "pet")
    )
    assert dlq.filter(F.col("_corrupt").contains(key)).count() == 0
    assert dlq.count() >= 1  # the unrelated corrupt record survives


# ---------------------------------------------------------------------------
# Property: erasure composed with arbitrary delivery — including
# REDELIVERY of pre-erasure events — always converges to the dict model
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cdc_demo_spark.streaming.erasure import erase_key_from_silver
from cdc_demo_spark.streaming.merge import replay_oracle
from tests.test_cdc_merge import assert_matches_oracle, envelope_df

KEYS = ["k0", "k1", "k2"]


@st.composite
def erasure_scenarios(draw):
    n = draw(st.integers(min_value=4, max_value=20))
    events = []
    for seq in range(n):
        key = draw(st.sampled_from(KEYS))
        op = draw(st.sampled_from(["c", "u", "d"]))
        after = (
            None
            if op == "d"
            else {"name": key, "owner": draw(st.sampled_from(["a", "b"])),
                  "species": "cat", "sex": None, "birth": None, "death": None}
        )
        events.append({"op": op, "ts": f"2024-01-01T00:{seq:02d}:00", "seq": seq,
                       "table": "pet", "key": key, "before": None, "after": after})
    cut = draw(st.integers(min_value=1, max_value=n - 1))
    target = draw(st.sampled_from(KEYS))
    # post-erasure delivery: the remaining events PLUS redeliveries of
    # pre-erasure events (the resurrection hazard the d-wins-ties
    # ordering exists for)
    redelivered = draw(st.lists(st.sampled_from(events[:cut]), max_size=4))
    return events, cut, target, redelivered


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(data=erasure_scenarios())
def test_erasure_convergence_property(spark, tmp_path_factory, data):
    events, cut, target, redelivered = data
    silver = str(tmp_path_factory.mktemp("er") / "silver")
    merge_into_silver(spark, envelope_df(spark, events[:cut]), silver, "pet",
                      num_buckets=4)
    erased = erase_key_from_silver(spark, silver, target)
    tail = events[cut:] + redelivered
    if tail:
        merge_into_silver(spark, envelope_df(spark, tail), silver, "pet")

    # dict model: erasure == a synthetic delete at the key's max
    # delivered (ts, seq), applied AFTER its tied event (d wins ties)
    model = list(events)
    pre = [e for e in events[:cut] if e["key"] == target]
    if erased:
        assert pre, "erasure reported success for a key with no state"
        top = max(pre, key=lambda e: (e["ts"], e["seq"]))
        model = model + [{**top, "op": "d", "after": None}]
    else:
        assert not pre, "erasure reported no state for a delivered key"
    assert_matches_oracle(spark, silver, model)


def test_checkpoint_replay_cannot_undo_erasure(spark, tmp_path):
    """ADVICE r6: foreachBatch is at-least-once and bronze rewrites
    batch partitions with overwrite on replay — after an erasure, a
    full checkpoint-wipe replay of the same landing files must NOT
    re-land the erased key in bronze or DLQ."""
    import shutil

    p = CdcPipeline(spark, str(tmp_path / "cdc"), {"pet": PAYLOAD})
    events = generate_events(n_keys=8, n_events=80, seed=11)
    write_event_files(events, os.path.join(p.landing_dir, "pet"), files=4)
    p.run_available_now("pet")
    key = _target(spark, p)
    report = erase_key(spark, p.base, "pet", key)
    assert report["bronze_batches"]

    # simulate the worst replay: the entire checkpoint is lost, every
    # batch re-processes from the landing files
    shutil.rmtree(p.checkpoint_dir("pet"), ignore_errors=True)
    p2 = CdcPipeline(spark, str(tmp_path / "cdc"), {"pet": PAYLOAD})
    p2.run_available_now("pet")

    bronze = spark.read.option("basePath", os.path.join(p2.bronze_dir, "pet")).parquet(
        os.path.join(p2.bronze_dir, "pet")
    )
    assert bronze.filter(F.col("key") == key).count() == 0
    # silver remains protected by the redacted tombstone
    got = {r["name"] for r in read_silver(spark, p2.silver_dir("pet")).collect()}
    assert key not in got


def test_erasure_retires_pre_erasure_snapshots(spark, tmp_path):
    """Erasure shrinks the time-travel window to its own commit: older
    snapshots raise SnapshotNotFound instead of serving partial data
    (their superseded bucket dir gone) or the erased payload, and no
    bucket dir a retained manifest names holds the key except as the
    one redacted tombstone."""
    import json as _json

    from cdc_demo_spark.streaming.merge import (
        SnapshotNotFound,
        silver_changes,
        silver_versions,
    )

    silver = str(tmp_path / "silver")
    keys = [f"k{i}" for i in range(20)]

    def batch(seq0, owner):
        return [
            {"op": "c" if seq0 == 0 else "u", "ts": f"2024-01-01T00:{seq0 + i:02d}:00",
             "seq": seq0 + i, "table": "pet", "key": k, "before": None,
             "after": {"name": k, "owner": owner, "species": "cat", "sex": None,
                       "birth": None, "death": None}}
            for i, k in enumerate(keys)
        ]

    merge_into_silver(spark, envelope_df(spark, batch(0, "a")), silver, "pet", num_buckets=4)
    merge_into_silver(spark, envelope_df(spark, batch(20, "b")), silver, "pet")
    pre = silver_versions(silver)[-1]
    assert read_silver(spark, silver, version=pre).count() == 20

    assert erase_key_from_silver(spark, silver, "k3") is True

    with pytest.raises(SnapshotNotFound):
        read_silver(spark, silver, version=pre)
    with pytest.raises(SnapshotNotFound):
        silver_changes(spark, silver, pre)
    assert silver_versions(silver) == [pre + 1]
    mine = read_silver_state(spark, silver).filter(F.col("__key") == "k3").collect()
    assert len(mine) == 1 and mine[0]["__op"] == "d" and mine[0]["__row"] is None

    retained = set()
    for v in silver_versions(silver):
        with open(os.path.join(silver, f"_manifest.v{v}.json")) as f:
            m = _json.load(f)
        retained |= {os.path.join(silver, "data", f"b{b}", ver) for b, ver in m["buckets"].items()}
    dirs = [d for d in retained if any(n.endswith(".parquet") for n in os.listdir(d))]
    rows = spark.read.parquet(*dirs).filter(F.col("__key") == "k3").collect()
    assert len(rows) == 1 and rows[0]["__row"] is None
