"""CDC merge convergence tests (SURVEY.md §5): the distributed merge
must equal a single-threaded replay of the log, under out-of-order
delivery, redelivery, and late deletes."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql.types import StringType, StructField, StructType

from cdc_demo_spark.schemas import envelope_schema
from cdc_demo_spark.streaming.generator import generate_events, scramble
from cdc_demo_spark.streaming.merge import (
    merge_into_silver,
    read_silver,
    replay_oracle,
)

PAYLOAD = StructType(
    [
        StructField(c, StringType(), True)
        for c in ("name", "owner", "species", "sex", "birth", "death")
    ]
)


def envelope_df(spark, events):
    def conv(e):
        return {**e, "ts": datetime.fromisoformat(e["ts"])}

    return spark.createDataFrame([conv(e) for e in events], envelope_schema(PAYLOAD))


def assert_matches_oracle(spark, silver_path, events):
    expected = replay_oracle(events)
    got = {r["name"]: r.asDict() for r in read_silver(spark, silver_path).collect()}
    assert set(got) == set(expected)
    for k, row in expected.items():
        assert got[k] == row, f"mismatch for {k}"


def test_merge_converges_in_order(spark, tmp_path):
    events = generate_events(n_keys=10, n_events=120, seed=1)
    silver = str(tmp_path / "silver")
    merge_into_silver(spark, envelope_df(spark, events), silver, "pet")
    assert_matches_oracle(spark, silver, events)


def test_merge_converges_scrambled_multibatch(spark, tmp_path):
    """At-least-once, out-of-order, duplicated delivery split across 4
    micro-batches must converge to the same replay state."""
    events = generate_events(n_keys=15, n_events=200, seed=2)
    feed = scramble(events, seed=3, p_duplicate=0.15, late_fraction=0.15)
    silver = str(tmp_path / "silver")
    n = len(feed) // 4
    for i in range(0, len(feed), n):
        merge_into_silver(spark, envelope_df(spark, feed[i : i + n]), silver, "pet")
    assert_matches_oracle(spark, silver, events)


def test_late_old_event_cannot_overwrite(spark, tmp_path):
    """B46: an older (ts,seq) arriving after a newer image must lose."""
    row_v1 = {"name": "a", "owner": "x", "species": "cat", "sex": "f", "birth": None, "death": None}
    row_v2 = {**row_v1, "owner": "y"}
    new = {"op": "u", "ts": "2024-01-02T00:00:00", "seq": 5, "table": "pet", "key": "a",
           "before": row_v1, "after": row_v2}
    old = {"op": "c", "ts": "2024-01-01T00:00:00", "seq": 1, "table": "pet", "key": "a",
           "before": None, "after": row_v1}
    silver = str(tmp_path / "silver")
    merge_into_silver(spark, envelope_df(spark, [new]), silver, "pet")
    merge_into_silver(spark, envelope_df(spark, [old]), silver, "pet")  # late arrival
    rows = read_silver(spark, silver).collect()
    assert len(rows) == 1 and rows[0]["owner"] == "y"


def test_late_insert_cannot_resurrect_deleted_key(spark, tmp_path):
    """Tombstone semantics: delete at seq 9, then an older insert (seq 1)
    arrives in a LATER batch — the key must stay deleted."""
    row = {"name": "z", "owner": "x", "species": "dog", "sex": "m", "birth": None, "death": None}
    delete = {"op": "d", "ts": "2024-01-03T00:00:00", "seq": 9, "table": "pet", "key": "z",
              "before": row, "after": None}
    stale = {"op": "c", "ts": "2024-01-01T00:00:00", "seq": 1, "table": "pet", "key": "z",
             "before": None, "after": row}
    silver = str(tmp_path / "silver")
    merge_into_silver(spark, envelope_df(spark, [delete]), silver, "pet")
    merge_into_silver(spark, envelope_df(spark, [stale]), silver, "pet")
    assert read_silver(spark, silver).count() == 0


def test_reinsert_after_delete_with_higher_seq(spark, tmp_path):
    row = {"name": "r", "owner": "x", "species": "cat", "sex": "f", "birth": None, "death": None}
    events = [
        {"op": "c", "ts": "2024-01-01T00:00:00", "seq": 1, "table": "pet", "key": "r",
         "before": None, "after": row},
        {"op": "d", "ts": "2024-01-02T00:00:00", "seq": 2, "table": "pet", "key": "r",
         "before": row, "after": None},
        {"op": "c", "ts": "2024-01-03T00:00:00", "seq": 3, "table": "pet", "key": "r",
         "before": None, "after": {**row, "owner": "w"}},
    ]
    silver = str(tmp_path / "silver")
    for e in events:  # one batch each — worst case
        merge_into_silver(spark, envelope_df(spark, [e]), silver, "pet")
    rows = read_silver(spark, silver).collect()
    assert len(rows) == 1 and rows[0]["owner"] == "w"


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_merge_property_random_logs(spark, tmp_path, seed):
    """Property-style: random logs + random batching converge (the
    hypothesis-style oracle check from SURVEY.md §5)."""
    import random

    rng = random.Random(seed)
    events = generate_events(n_keys=8, n_events=80, seed=seed, p_delete=0.3)
    feed = scramble(events, seed=seed + 1, p_duplicate=0.2, late_fraction=0.2)
    silver = str(tmp_path / "silver")
    i = 0
    while i < len(feed):
        n = rng.randrange(1, 40)
        merge_into_silver(spark, envelope_df(spark, feed[i : i + n]), silver, "pet")
        i += n
    assert_matches_oracle(spark, silver, events)


def test_selective_merge_leaves_untouched_buckets_alone(spark, tmp_path):
    """The scale property: a batch touching one key must not rewrite
    files in buckets it doesn't hit (checked by inode)."""
    import os

    events = generate_events(n_keys=40, n_events=150, seed=21)
    silver = str(tmp_path / "silver")
    merge_into_silver(spark, envelope_df(spark, events), silver, "pet", num_buckets=8)

    def file_ids():
        from cdc_demo_spark.streaming.merge import _load_manifest

        manifest = _load_manifest(silver)
        out = {}
        for b, ver in manifest["buckets"].items():
            d = os.path.join(silver, "data", f"b{b}", ver)
            for fn in os.listdir(d):
                if fn.endswith(".parquet"):
                    st = os.stat(os.path.join(d, fn))
                    out[(f"b{b}", fn)] = (st.st_ino, st.st_mtime_ns)
        return out

    before = file_ids()
    single = {"op": "u", "ts": "2030-01-01T00:00:00", "seq": 10_000, "table": "pet",
              "key": "pet0", "before": None,
              "after": {"name": "pet0", "owner": "late", "species": "cat",
                        "sex": "f", "birth": None, "death": None}}
    merge_into_silver(spark, envelope_df(spark, [single]), silver, "pet", num_buckets=8)
    after = file_ids()

    changed_dirs = {d for (d, f) in set(before) ^ set(after)} | {
        d for (d, f), v in after.items() if before.get((d, f)) not in (None, v)
    }
    assert len(changed_dirs) <= 1  # only pet0's bucket rewritten
    # and the merge result is still correct
    row = [r for r in read_silver(spark, silver).collect() if r["name"] == "pet0"]
    assert row[0]["owner"] == "late"


def test_bucket_count_policy_from_state_size(spark, tmp_path):
    """Bootstrap sizing (SCALE.md): num_buckets derives from expected
    mature state size (~128 MB/bucket), is pinned in the manifest, and
    a single-key batch on a 64-bucket table rewrites exactly 1/64 of
    the bucket dirs (inode-checked) — merge cost tracks touched
    buckets, not table size."""
    import os

    from cdc_demo_spark.streaming.merge import _load_manifest, silver_bucket_count

    # the policy math itself
    assert silver_bucket_count(8 << 30) == 64          # 8 GiB / 128 MiB
    assert silver_bucket_count(1 << 20) == 8           # clamp up to min
    assert silver_bucket_count(100 << 40) == 4096      # clamp down to max
    assert silver_bucket_count(11 << 30) == 128        # next power of two

    events = generate_events(n_keys=200, n_events=600, seed=33)
    silver = str(tmp_path / "silver")
    merge_into_silver(
        spark, envelope_df(spark, events), silver, "pet",
        expected_state_bytes=8 << 30,
    )
    manifest = _load_manifest(silver)
    assert manifest["num_buckets"] == 64

    def version_of():
        return dict(_load_manifest(silver)["buckets"])

    before = version_of()
    single = {"op": "u", "ts": "2030-01-01T00:00:00", "seq": 10_000, "table": "pet",
              "key": "pet0", "before": None,
              "after": {"name": "pet0", "owner": "late64", "species": "cat",
                        "sex": "f", "birth": None, "death": None}}
    merge_into_silver(spark, envelope_df(spark, [single]), silver, "pet")
    after = version_of()
    changed = {b for b in after if before.get(b) != after[b]}
    assert len(changed) == 1, f"one-key batch rewrote buckets {changed}"
    row = [r for r in read_silver(spark, silver).collect() if r["name"] == "pet0"]
    assert row[0]["owner"] == "late64"

    # READ-path twin of the O(touched) write property (VERDICT r3 #7):
    # a key lookup must open exactly one bucket directory — 1/64 of the
    # table's files — and still return the committed latest image.
    from cdc_demo_spark.streaming.merge import lookup_silver_key

    hit = lookup_silver_key(spark, silver, "pet0")
    files = hit.inputFiles()
    assert files, "lookup plan reads no files?"
    dirs = {os.path.basename(os.path.dirname(os.path.dirname(f))) for f in files}
    assert len(dirs) == 1 and next(iter(dirs)).startswith("b"), dirs
    # and it is the bucket the one-key merge above rewrote
    assert dirs == {f"b{next(iter(changed))}"}
    got = hit.collect()
    assert len(got) == 1 and got[0]["owner"] == "late64"
    # full-table read opens many bucket dirs (sanity that the pruning
    # assert above is meaningful)
    all_files = read_silver(spark, silver).inputFiles()
    all_dirs = {os.path.basename(os.path.dirname(os.path.dirname(f))) for f in all_files}
    assert len(all_dirs) > 32


def test_missing_referenced_bucket_dir_fails_the_read(spark, tmp_path):
    """The manifest names the snapshot's files: a referenced bucket dir
    that is gone fails the read instead of serving the snapshot minus
    that bucket."""
    import os
    import shutil

    from pyspark.errors import AnalysisException

    from cdc_demo_spark.streaming.merge import _load_manifest

    silver = str(tmp_path / "silver")
    events = generate_events(n_keys=20, n_events=80, seed=71)
    merge_into_silver(spark, envelope_df(spark, events), silver, "pet")
    assert_matches_oracle(spark, silver, events)
    b, ver = next(iter(_load_manifest(silver)["buckets"].items()))
    shutil.rmtree(os.path.join(silver, "data", f"b{b}", ver))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_silver(spark, silver).collect()


def _jobs_started(spark, build):
    """(build(), Spark jobs started while building it)."""
    import uuid

    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_silver_reads_infer_no_schema(spark, tmp_path):
    """Reads take the schema from the manifest: building a full read
    starts no Spark job, and a point lookup only the one-row job that
    hashes its key (no parquet-footer inference)."""
    from cdc_demo_spark.streaming.merge import lookup_silver_key

    silver = str(tmp_path / "silver")
    events = generate_events(n_keys=20, n_events=80, seed=72)
    merge_into_silver(spark, envelope_df(spark, events), silver, "pet")
    key = next(iter(replay_oracle(events)))

    full, jobs = _jobs_started(spark, lambda: read_silver(spark, silver))
    assert jobs == 0
    hit, jobs = _jobs_started(spark, lambda: lookup_silver_key(spark, silver, key))
    assert jobs == 1  # bucket_id_of
    assert [r["name"] for r in hit.collect()] == [key]
    assert full.count() == len(replay_oracle(events))


def test_lookup_in_unwritten_bucket_is_empty(spark, tmp_path):
    """A key whose bucket no commit ever wrote reads as an empty
    DataFrame with the payload columns, not None."""
    from cdc_demo_spark.streaming.merge import _load_manifest, bucket_id_of, lookup_silver_key

    silver = str(tmp_path / "silver")
    events = generate_events(n_keys=2, n_events=10, seed=73)
    merge_into_silver(spark, envelope_df(spark, events), silver, "pet", num_buckets=64)
    written = {int(b) for b in _load_manifest(silver)["buckets"]}
    assert len(written) <= 2
    key = next(
        k for k in (f"absent{i}" for i in range(100))
        if bucket_id_of(spark, k, 64) not in written
    )
    out = lookup_silver_key(spark, silver, key)
    assert out.columns == PAYLOAD.names
    assert out.collect() == []


def test_uncommitted_staging_is_invisible_to_readers(spark, tmp_path):
    """Crash-consistency: data staged (or even versioned) but NOT in the
    committed manifest must not affect reads — the manifest replace is
    the only observable mutation."""
    import os

    events = generate_events(n_keys=10, n_events=60, seed=51)
    silver = str(tmp_path / "silver")
    merge_into_silver(spark, envelope_df(spark, events), silver, "pet")
    before = {r["name"]: r.asDict() for r in read_silver(spark, silver).collect()}

    # simulate a crash mid-merge: stage dir + an orphan version dir that
    # never made it into the manifest
    stage = os.path.join(silver, "data", "stage-deadbeef")
    os.makedirs(os.path.join(stage, "__bucket=0"), exist_ok=True)
    orphan = os.path.join(silver, "data", "b0", "v999")
    os.makedirs(orphan, exist_ok=True)
    spark.createDataFrame([("garbage",)], "x string").write.mode("overwrite").parquet(
        os.path.join(stage, "__bucket=0")
    )

    after = {r["name"]: r.asDict() for r in read_silver(spark, silver).collect()}
    assert after == before

    # and the NEXT merge on top of the garbage still commits correctly:
    # newer (ts, seq) updates win over the committed state
    more = [
        {**e, "seq": e["seq"] + 1000, "ts": e["ts"].replace("2024", "2025")}
        for e in generate_events(n_keys=10, n_events=30, seed=52)
    ]
    merge_into_silver(spark, envelope_df(spark, more), silver, "pet")
    assert_matches_oracle(spark, silver, events + more)


def test_compact_tombstones_gc(spark, tmp_path):
    """Tombstones at-or-below the watermark are physically dropped;
    younger tombstones survive (still guarding against late inserts)."""
    from datetime import datetime

    from cdc_demo_spark.streaming.merge import compact_tombstones, read_silver_state

    row = {"name": "x", "owner": "o", "species": "cat", "sex": "f", "birth": None, "death": None}
    events = [
        {"op": "c", "ts": "2024-01-01T00:00:00", "seq": 1, "table": "pet", "key": "a",
         "before": None, "after": {**row, "name": "a"}},
        {"op": "d", "ts": "2024-01-02T00:00:00", "seq": 2, "table": "pet", "key": "a",
         "before": None, "after": None},
        {"op": "d", "ts": "2024-06-01T00:00:00", "seq": 3, "table": "pet", "key": "b",
         "before": None, "after": None},
        {"op": "c", "ts": "2024-01-03T00:00:00", "seq": 4, "table": "pet", "key": "c",
         "before": None, "after": {**row, "name": "c"}},
    ]
    silver = str(tmp_path / "silver")
    merge_into_silver(spark, envelope_df(spark, events), silver, "pet")
    state = read_silver_state(spark, silver)
    assert state.filter("__op = 'd'").count() == 2

    compact_tombstones(spark, silver, datetime(2024, 3, 1))
    state = read_silver_state(spark, silver)
    tombs = {r["__key"] for r in state.filter("__op = 'd'").collect()}
    assert tombs == {"b"}  # old tombstone GC'd, young one kept
    assert {r["name"] for r in read_silver(spark, silver).collect()} == {"c"}


def test_schema_evolution_additive_column(spark, tmp_path):
    """A new payload field (source ALTER TABLE ADD COLUMN) widens the
    replica: old rows read NULL, new rows carry the value, and buckets
    written before the evolution still read correctly.  Time travel
    across the evolution reads each snapshot with its own manifest's
    schema."""
    from pyspark.sql.types import StringType, StructField, StructType

    from cdc_demo_spark.schemas import envelope_schema
    from cdc_demo_spark.streaming.merge import silver_changes, silver_versions

    silver = str(tmp_path / "silver")
    base = generate_events(n_keys=12, n_events=60, seed=61)
    merge_into_silver(spark, envelope_df(spark, base), silver, "pet")
    pre = silver_versions(silver)[-1]

    wide_payload = StructType(
        PAYLOAD.fields + [StructField("microchip", StringType(), True)]
    )
    row = {"name": "chipped", "owner": "n", "species": "cat", "sex": "f",
           "birth": None, "death": None, "microchip": "RFID-42"}
    ev = {"op": "c", "ts": datetime(2030, 1, 1), "seq": 9999, "table": "pet",
          "key": "chipped", "before": None, "after": row}
    wide_df = spark.createDataFrame([ev], envelope_schema(wide_payload))
    merge_into_silver(spark, wide_df, silver, "pet")
    post = silver_versions(silver)[-1]

    out = read_silver(spark, silver)
    assert "microchip" in out.columns
    rows = {r["name"]: r for r in out.collect()}
    assert rows["chipped"]["microchip"] == "RFID-42"
    old = [r for n, r in rows.items() if n != "chipped"]
    assert old and all(r["microchip"] is None for r in old)
    # evolution survives further merges on old-schema batches too
    more = [{**e, "seq": e["seq"] + 5000,
             "ts": e["ts"].replace("2024", "2031")}
            for e in generate_events(n_keys=12, n_events=20, seed=62)]
    merge_into_silver(spark, envelope_df(spark, more), silver, "pet")
    out2 = read_silver(spark, silver)
    assert "microchip" in out2.columns
    assert {r["name"]: r for r in out2.collect()}["chipped"]["microchip"] == "RFID-42"
    # the historical manifest's schema governs the historical read
    assert "microchip" not in read_silver(spark, silver, version=pre).columns
    feed = silver_changes(spark, silver, pre, post).collect()
    assert [(r["key"], r["change"]) for r in feed] == [("chipped", "insert")]


def test_schema_evolution_type_conflict_raises(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    from cdc_demo_spark.schemas import envelope_schema

    silver = str(tmp_path / "silver")
    merge_into_silver(
        spark, envelope_df(spark, generate_events(n_keys=3, n_events=10, seed=63)),
        silver, "pet",
    )
    bad_payload = StructType(
        [StructField("name", LongType(), True)]  # name: string -> long
    )
    ev = {"op": "c", "ts": datetime(2030, 1, 1), "seq": 1, "table": "pet",
          "key": "9", "before": None, "after": {"name": 9}}
    bad = spark.createDataFrame([ev], envelope_schema(bad_payload))
    with pytest.raises(Exception, match="incompatible type change"):
        merge_into_silver(spark, bad, silver, "pet")


def test_crash_orphan_version_dir_cannot_wedge_merges(spark, tmp_path):
    """A crash between bucket-dir renames and the manifest commit leaves
    a POPULATED but unreferenced version dir. Version names are
    uuid-suffixed, so the next merge can never try to rename onto that
    orphan (the old sequential scheme raised ENOTEMPTY here, wedging the
    bucket forever)."""
    import os

    events = generate_events(n_keys=10, n_events=60, seed=71)
    silver = str(tmp_path / "silver")
    merge_into_silver(spark, envelope_df(spark, events), silver, "pet")

    from cdc_demo_spark.streaming.merge import _load_manifest

    manifest = _load_manifest(silver)
    # fabricate the worst-case orphan: for EVERY bucket, a populated dir
    # named exactly what a sequential scheme would pick next (v{n+1})
    for b, ver in manifest["buckets"].items():
        n = int(ver[1:].split("-")[0])
        orphan = os.path.join(silver, "data", f"b{b}", f"v{n + 1}")
        os.makedirs(orphan, exist_ok=True)
        with open(os.path.join(orphan, "part-garbage.parquet"), "w") as f:
            f.write("not parquet")

    # every bucket merges again successfully despite the orphans
    more = [
        {**e, "seq": e["seq"] + 1000, "ts": e["ts"].replace("2024", "2025")}
        for e in generate_events(n_keys=10, n_events=40, seed=72)
    ]
    merge_into_silver(spark, envelope_df(spark, more), silver, "pet")
    assert_matches_oracle(spark, silver, events + more)


def test_concurrent_manifest_commit_raises_not_lost(spark, tmp_path):
    """Two writers that loaded the same manifest version race: the loser
    must get ConcurrentCommitError, not silently clobber the winner's
    committed bucket versions."""
    from cdc_demo_spark.streaming.merge import (
        ConcurrentCommitError,
        _commit_manifest,
        _load_manifest,
    )

    events = generate_events(n_keys=5, n_events=30, seed=81)
    silver = str(tmp_path / "silver")
    merge_into_silver(spark, envelope_df(spark, events), silver, "pet")

    stale = _load_manifest(silver)  # writer B snapshots the manifest
    # writer A commits first (any later merge)
    more = [
        {**e, "seq": e["seq"] + 1000, "ts": e["ts"].replace("2024", "2025")}
        for e in generate_events(n_keys=5, n_events=10, seed=82)
    ]
    merge_into_silver(spark, envelope_df(spark, more), silver, "pet")

    with pytest.raises(ConcurrentCommitError):
        _commit_manifest(silver, stale)  # writer B loses loudly
    # winner's state is intact
    assert_matches_oracle(spark, silver, events + more)


def test_compact_tombstones_is_selective(spark, tmp_path):
    """GC must rewrite ONLY buckets holding watermark-old tombstones;
    every other bucket's files survive by inode."""
    import os

    from cdc_demo_spark.streaming.merge import (
        _bucket_of,
        _load_manifest,
        compact_tombstones,
        read_silver_state,
    )

    events = generate_events(n_keys=30, n_events=120, seed=91, p_delete=0.0)
    # one old tombstone for a single key
    tomb = {"op": "d", "ts": "2024-01-01T00:00:00", "seq": 10_000, "table": "pet",
            "key": "pet0", "before": None, "after": None}
    silver = str(tmp_path / "silver")
    merge_into_silver(spark, envelope_df(spark, events + [tomb]), silver, "pet",
                      num_buckets=8)

    def file_ids():
        manifest = _load_manifest(silver)
        out = {}
        for b, ver in manifest["buckets"].items():
            d = os.path.join(silver, "data", f"b{b}", ver)
            for fn in os.listdir(d):
                if fn.endswith(".parquet"):
                    st = os.stat(os.path.join(d, fn))
                    out[(f"b{b}", fn)] = st.st_ino
        return out

    state = read_silver_state(spark, silver)
    tomb_buckets = {r["__bucket"] for r in
                    state.filter("__op = 'd'").select("__bucket").collect()}
    before = file_ids()
    compact_tombstones(spark, silver, datetime(2024, 6, 1))
    after = file_ids()

    changed = {d for (d, f) in set(before) ^ set(after)} | {
        d for (d, f), ino in after.items() if before.get((d, f)) not in (None, ino)
    }
    assert changed == {f"b{b}" for b in tomb_buckets}  # only tombstone buckets
    assert read_silver_state(spark, silver).filter("__op = 'd'").count() == 0


def test_optimize_silver_compacts_fragmented_buckets(spark, tmp_path):
    """OPTIMIZE: buckets whose current version holds many small files
    (one per shuffle task of past merges) are rewritten to ONE
    key-sorted file; already-compact buckets keep their files by inode;
    the visible table is byte-identical before and after."""
    import os

    from cdc_demo_spark.streaming.merge import _load_manifest, optimize_silver

    events = generate_events(n_keys=60, n_events=240, seed=101)
    silver = str(tmp_path / "silver")
    # at production scale each merge writes one file per shuffle task
    # into the touched bucket; AQE coalesces our tiny test batch to one
    # partition, so disable coalescing while fragmenting
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        merge_into_silver(spark, envelope_df(spark, events), silver, "pet", num_buckets=4)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")

    def bucket_files():
        manifest = _load_manifest(silver)
        out = {}
        for b, ver in manifest["buckets"].items():
            d = os.path.join(silver, "data", f"b{b}", ver)
            out[int(b)] = sorted(
                (f, os.stat(os.path.join(d, f)).st_ino)
                for f in os.listdir(d) if f.endswith(".parquet")
            )
        return out

    before_state = {r["name"]: r.asDict() for r in read_silver(spark, silver).collect()}
    before_files = bucket_files()
    fragmented = {b for b, files in before_files.items() if len(files) > 1}
    assert fragmented, "test needs fragmentation; raise n_keys"

    rewritten = optimize_silver(spark, silver, max_files_per_bucket=1)
    assert set(rewritten) == fragmented

    after_files = bucket_files()
    for b, files in after_files.items():
        if b in fragmented:
            assert len(files) == 1  # compacted
        else:
            assert files == before_files[b]  # untouched by inode
    # table content identical
    after_state = {r["name"]: r.asDict() for r in read_silver(spark, silver).collect()}
    assert after_state == before_state
    # rows inside the compacted file are key-sorted (row-group pruning)
    from cdc_demo_spark.streaming.merge import read_silver_state

    manifest = _load_manifest(silver)
    b = next(iter(fragmented))
    d = os.path.join(silver, "data", f"b{b}", manifest["buckets"][str(b)])
    keys = [r["__key"] for r in spark.read.parquet(d).select("__key").collect()]
    assert keys == sorted(keys)
    # idempotent: second run finds nothing to do
    assert optimize_silver(spark, silver, max_files_per_bucket=1) == []
