"""Silver time travel + vacuum: historical reads are byte-identical to
the replay oracle AT that commit, the retained window is bounded, the
inline sweep never touches referenced (or fresh) dirs, and vacuum both
reclaims space and invalidates vacuumed versions loudly."""

from __future__ import annotations

import glob
import os
from datetime import datetime

import pytest
from pyspark.sql.types import StringType, StructField, StructType

from cdc_demo_spark.schemas import envelope_schema
from cdc_demo_spark.streaming.generator import generate_events
from cdc_demo_spark.streaming.merge import (
    SnapshotNotFound,
    merge_into_silver,
    read_silver,
    replay_oracle,
    silver_versions,
    vacuum_silver,
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


def _rows(spark, silver, version=None):
    df = read_silver(spark, silver, version=version)
    return {r["name"]: r.asDict() for r in df.collect()}


def _expected(events):
    return replay_oracle(events)


def test_time_travel_reads_each_commit_exactly(spark, tmp_path):
    events = generate_events(n_keys=12, n_events=150, seed=7)
    silver = str(tmp_path / "silver")
    n = len(events) // 3
    batches = [events[:n], events[n : 2 * n], events[2 * n :]]
    for b in batches:
        merge_into_silver(spark, envelope_df(spark, b), silver, "pet")
    assert silver_versions(silver) == [1, 2, 3]
    # each historical version equals the oracle replay of its prefix
    for v in (1, 2, 3):
        prefix = [e for b in batches[:v] for e in b]
        want = _expected(prefix)
        got = _rows(spark, silver, version=v)
        assert set(got) == set(want)
        for k, row in want.items():
            assert got[k] == row, f"v{v} mismatch for {k}"
    # default read == newest version
    assert _rows(spark, silver) == _rows(spark, silver, version=3)


def test_retention_window_bounds_versions(spark, tmp_path):
    events = generate_events(n_keys=6, n_events=140, seed=8)
    silver = str(tmp_path / "silver")
    n = len(events) // 7
    for i in range(0, len(events), n):
        merge_into_silver(spark, envelope_df(spark, events[i : i + n]), silver, "pet")
    vs = silver_versions(silver)
    assert len(vs) == 5 and vs[-1] >= 7  # trailing-5 retention
    with pytest.raises(SnapshotNotFound, match="readable versions"):
        read_silver(spark, silver, version=1)
    # every retained version still reads clean (its dirs were never swept
    # inside the grace TTL, and referenced dirs are sweep-immune anyway)
    for v in vs:
        read_silver(spark, silver, version=v).count()


def test_vacuum_reclaims_and_invalidates(spark, tmp_path):
    events = generate_events(n_keys=10, n_events=120, seed=9)
    silver = str(tmp_path / "silver")
    n = len(events) // 3
    for i in range(0, len(events), n):
        merge_into_silver(spark, envelope_df(spark, events[i : i + n]), silver, "pet")
    want_now = _rows(spark, silver)
    dirs_before = set(glob.glob(os.path.join(silver, "data", "b*", "v*")))
    removed = vacuum_silver(silver, retain_last=1, grace_seconds=0.0, force=True)
    assert removed and set(removed) <= dirs_before
    # window shrank to the newest version; older reads now refuse
    assert len(silver_versions(silver)) == 1
    with pytest.raises(SnapshotNotFound):
        read_silver(spark, silver, version=1)
    # the current snapshot is untouched, value-exact
    assert _rows(spark, silver) == want_now
    # idempotent: nothing left to reclaim
    assert vacuum_silver(silver, retain_last=1, grace_seconds=0.0, force=True) == []


def test_sweep_grace_protects_fresh_unreferenced_dirs(spark, tmp_path):
    # a staged-but-uncommitted rename looks exactly like an
    # unreferenced fresh dir: the default-grace sweep must leave it
    import cdc_demo_spark.streaming.merge as M

    events = generate_events(n_keys=5, n_events=60, seed=10)
    silver = str(tmp_path / "silver")
    merge_into_silver(spark, envelope_df(spark, events), silver, "pet")
    bdir = sorted(glob.glob(os.path.join(silver, "data", "b*")))[0]
    orphan = os.path.join(bdir, "v99-deadbeef")
    os.makedirs(orphan)
    assert M._sweep_unreferenced(silver, [int(os.path.basename(bdir)[1:])],
                                 M.DEFAULT_BACKEND) == []
    assert os.path.isdir(orphan)
    # past the grace TTL it is crash debris and goes
    removed = M._sweep_unreferenced(
        silver, [int(os.path.basename(bdir)[1:])], M.DEFAULT_BACKEND,
        grace_seconds=0.0,
    )
    assert removed == [orphan] and not os.path.isdir(orphan)


def _oracle_changes(events_before, events_all):
    """Expected changefeed: diff of the two replay-oracle states."""
    s0, s1 = replay_oracle(events_before), replay_oracle(events_all)
    out = {}
    for k in set(s0) | set(s1):
        if k not in s0:
            out[k] = ("insert", None, s1[k])
        elif k not in s1:
            out[k] = ("delete", s0[k], None)
        elif s0[k] != s1[k]:
            out[k] = ("update", s0[k], s1[k])
    return out


def test_changefeed_matches_oracle_diff(spark, tmp_path):
    from cdc_demo_spark.streaming.merge import silver_changes

    events = generate_events(n_keys=14, n_events=180, seed=11)
    silver = str(tmp_path / "silver")
    n = len(events) // 3
    batches = [events[:n], events[n : 2 * n], events[2 * n :]]
    for b in batches:
        merge_into_silver(spark, envelope_df(spark, b), silver, "pet")
    for v_from, v_to in ((1, 2), (2, 3), (1, 3)):
        prefix = [e for b in batches[:v_from] for e in b]
        full = [e for b in batches[:v_to] for e in b]
        want = _oracle_changes(prefix, full)
        got = {}
        feed = silver_changes(spark, silver, v_from, v_to)
        assert feed.columns == [
            "key", "change", "before", "after", "from_version", "to_version"
        ]
        for r in feed.collect():
            assert r["from_version"] == v_from and r["to_version"] == v_to
            got[r["key"]] = (
                r["change"],
                r["before"].asDict() if r["before"] is not None else None,
                r["after"].asDict() if r["after"] is not None else None,
            )
        assert got == want, f"window v{v_from}->v{v_to}"


def test_changefeed_same_version_and_rewrite_only_are_empty(spark, tmp_path):
    from cdc_demo_spark.streaming.merge import optimize_silver, silver_changes

    events = generate_events(n_keys=8, n_events=90, seed=12)
    silver = str(tmp_path / "silver")
    n = len(events) // 2
    merge_into_silver(spark, envelope_df(spark, events[:n]), silver, "pet")
    merge_into_silver(spark, envelope_df(spark, events[n:]), silver, "pet")
    # same version: zero events (and no buckets read)
    assert silver_changes(spark, silver, 2, 2).count() == 0
    # rewrite-only commit (optimize) moves bucket versions without
    # changing a row: the feed across it must be empty
    rewritten = optimize_silver(spark, silver, max_files_per_bucket=1)
    if rewritten:  # fragmentation depends on shuffle file counts
        v = silver_versions(silver)[-1]
        assert silver_changes(spark, silver, 2, v).count() == 0


def test_changefeed_reads_only_changed_buckets(spark, tmp_path):
    from cdc_demo_spark.streaming.merge import _load_manifest, silver_changes

    events = generate_events(n_keys=20, n_events=200, seed=13)
    silver = str(tmp_path / "silver")
    n = len(events) // 2
    merge_into_silver(spark, envelope_df(spark, events[:n]), silver, "pet")
    # second batch touches ONE key -> one bucket moves
    one_key = [e for e in events[n:] if e["key"] == events[0]["key"]][:1]
    if not one_key:
        one_key = [dict(events[0], seq=10_000, op="u")]
    merge_into_silver(spark, envelope_df(spark, one_key), silver, "pet")
    m1 = _load_manifest(silver, version=1)
    m2 = _load_manifest(silver, version=2)
    moved = [b for b in m2["buckets"] if m1["buckets"].get(b) != m2["buckets"][b]]
    assert len(moved) == 1
    feed = silver_changes(spark, silver, 1, 2)
    # every file the plan opens belongs to the one moved bucket
    files = [
        f for f in feed.inputFiles() if "/data/b" in f
    ]
    assert files and all(f"/data/b{moved[0]}/" in f for f in files)


def test_changefeed_relay_exactly_once(spark, tmp_path):
    from cdc_demo_spark.streaming.merge import ChangefeedRelay

    events = generate_events(n_keys=10, n_events=150, seed=14)
    silver = str(tmp_path / "silver")
    bm = str(tmp_path / "bookmark")
    n = len(events) // 3
    batches = [events[:n], events[n : 2 * n], events[2 * n :]]
    relay = ChangefeedRelay(silver, bm)

    merge_into_silver(spark, envelope_df(spark, batches[0]), silver, "pet")
    feed1, v1 = relay.poll(spark)
    assert v1 == 1
    got1 = {r["key"]: r["change"] for r in feed1.collect()}
    want1 = _oracle_changes([], batches[0])
    assert got1 == {k: c for k, (c, _, _) in want1.items()}
    # crash before ack: the SAME window re-emits (at-least-once)
    feed1b, v1b = relay.poll(spark)
    assert v1b == v1
    assert {r["key"]: r["change"] for r in feed1b.collect()} == got1
    relay.ack(v1)
    assert relay.poll(spark) is None  # caught up

    merge_into_silver(spark, envelope_df(spark, batches[1]), silver, "pet")
    merge_into_silver(spark, envelope_df(spark, batches[2]), silver, "pet")
    feed2, v2 = relay.poll(spark)
    assert v2 == 3
    want2 = _oracle_changes(batches[0], batches[0] + batches[1] + batches[2])
    got2 = {
        r["key"]: (
            r["change"],
            r["before"].asDict() if r["before"] is not None else None,
            r["after"].asDict() if r["after"] is not None else None,
        )
        for r in feed2.collect()
    }
    assert got2 == want2
    relay.ack(v2)
    # replayed ack of the same version is a no-op; stale ack refuses
    relay.ack(v2)
    with pytest.raises(ValueError, match="behind bookmark"):
        relay.ack(v1)
    # a RESTARTED relay (fresh object, same bookmark dir) resumes
    relay2 = ChangefeedRelay(silver, bm)
    assert relay2.bookmark() == v2 and relay2.poll(spark) is None


def test_changefeed_relay_lag_past_retention_raises(spark, tmp_path):
    from cdc_demo_spark.streaming.merge import ChangefeedLagError, ChangefeedRelay

    events = generate_events(n_keys=6, n_events=160, seed=15)
    silver = str(tmp_path / "silver")
    relay = ChangefeedRelay(silver, str(tmp_path / "bm"))
    n = len(events) // 8
    merge_into_silver(spark, envelope_df(spark, events[:n]), silver, "pet")
    feed, v = relay.poll(spark)
    relay.ack(v)  # bookmark at v1
    for i in range(n, len(events), n):  # 7 more commits age v1 out
        merge_into_silver(spark, envelope_df(spark, events[i : i + n]), silver, "pet")
    assert 1 not in silver_versions(silver)
    with pytest.raises(ChangefeedLagError, match="no longer retained"):
        relay.poll(spark)


def test_changefeed_relay_seeds_fresh_consumer_past_window(spark, tmp_path):
    # a brand-new consumer (bookmark 0) on a table whose early versions
    # aged out: first poll = oldest retained snapshot as inserts + the
    # changes window, which together reconstruct the current state
    from cdc_demo_spark.streaming.merge import ChangefeedRelay

    events = generate_events(n_keys=8, n_events=160, seed=16)
    silver = str(tmp_path / "silver")
    n = len(events) // 8
    for i in range(0, len(events), n):
        merge_into_silver(spark, envelope_df(spark, events[i : i + n]), silver, "pet")
    assert 1 not in silver_versions(silver)
    relay = ChangefeedRelay(silver, str(tmp_path / "bm"))
    feed, v = relay.poll(spark)
    assert v == silver_versions(silver)[-1]
    # apply the feed like a sink would; the result must equal the table
    state = {}
    for r in feed.collect():
        if r["change"] == "delete":
            state.pop(r["key"], None)
        else:
            state[r["key"]] = r["after"].asDict()
    want = _rows(spark, silver)
    assert state == want


def test_vacuum_refuses_unsafe_grace_without_force(spark, tmp_path):
    # r10 ADVICE: grace below the safe floor can delete a concurrent
    # merge's staged-but-uncommitted bucket dir — Delta's
    # retentionDurationCheck analog refuses unless forced
    events = generate_events(n_keys=4, n_events=40, seed=21)
    silver = str(tmp_path / "silver")
    merge_into_silver(spark, envelope_df(spark, events), silver, "pet")
    with pytest.raises(ValueError, match="safe retention floor"):
        vacuum_silver(silver, retain_last=1, grace_seconds=0.0)
    # the refusal happened BEFORE any manifest trim
    assert silver_versions(silver) == [1]


def test_vacuum_default_grace_defers_reclaim(spark, tmp_path):
    # default grace = SUPERSEDED_GRACE_SECONDS: the window shrinks at
    # once, but young (just-unreferenced) dirs survive until the TTL
    events = generate_events(n_keys=6, n_events=90, seed=22)
    silver = str(tmp_path / "silver")
    n = len(events) // 3
    for i in range(0, len(events), n):
        merge_into_silver(spark, envelope_df(spark, events[i : i + n]), silver, "pet")
    before = set(glob.glob(os.path.join(silver, "data", "b*", "v*")))
    removed = vacuum_silver(silver, retain_last=1)
    assert removed == []  # nothing older than the grace TTL
    assert len(silver_versions(silver)) == 1  # window still shrank
    assert set(glob.glob(os.path.join(silver, "data", "b*", "v*"))) == before
    import cdc_demo_spark.streaming.merge as M
    assert _rows(spark, silver)  # current read unaffected
    # a later sweep (TTL elapsed — simulate by aging the dirs) reclaims
    for d in before:
        os.utime(d, (1.0, 1.0))
    removed2 = vacuum_silver(silver, retain_last=1)
    refs = M._referenced_dirs(silver, M.DEFAULT_BACKEND)
    assert set(removed2) == before - refs and removed2


def test_manifest_trim_touches_newly_unreferenced_dirs(spark, tmp_path):
    # r10 ADVICE: the sweep TTL must measure time-since-UNREFERENCE,
    # not dir age — a dir referenced only by the just-trimmed manifest
    # is hours old by mtime and would otherwise be reclaimed instantly
    import cdc_demo_spark.streaming.merge as M

    events = generate_events(n_keys=6, n_events=140, seed=23)
    silver = str(tmp_path / "silver")
    n = len(events) // 7
    batches = [events[i : i + n] for i in range(0, len(events), n)]
    for b in batches[:-1]:
        merge_into_silver(spark, envelope_df(spark, b), silver, "pet")
    # age EVERY state dir far past the grace TTL, then commit once more
    # (which trims the oldest manifest out of the trailing-5 window)
    dirs = glob.glob(os.path.join(silver, "data", "b*", "v*"))
    for d in dirs:
        os.utime(d, (1.0, 1.0))
    vs_before = set(silver_versions(silver))
    merge_into_silver(spark, envelope_df(spark, batches[-1]), silver, "pet")
    trimmed = vs_before - set(silver_versions(silver))
    assert trimmed  # at least one manifest left the window
    refs = M._referenced_dirs(silver, M.DEFAULT_BACKEND)
    freed = [d for d in dirs if d not in refs and os.path.isdir(d)]
    assert freed, "expected at least one newly-unreferenced dir to survive"
    now = __import__("time").time()
    for d in freed:
        # touched at trim: mtime ~= unreference time, so the TTL holds
        assert now - os.path.getmtime(d) < 120, d
    # and the default-grace sweep therefore leaves them alone
    buckets = {int(os.path.basename(os.path.dirname(d))[1:]) for d in freed}
    assert M._sweep_unreferenced(silver, sorted(buckets), M.DEFAULT_BACKEND) == []


def test_relay_integer_zero_bookmark_is_not_a_seed(spark, tmp_path):
    # r10 ADVICE: 0 was both "fresh consumer" and an ordinary version;
    # a bookmark reset to 0 silently replayed the whole table.  Now
    # None is the seed sentinel and an unknown integer bookmark —
    # including 0 — raises ChangefeedLagError.
    from cdc_demo_spark.streaming.merge import ChangefeedLagError, ChangefeedRelay

    events = generate_events(n_keys=5, n_events=90, seed=24)
    silver = str(tmp_path / "silver")
    n = len(events) // 2
    merge_into_silver(spark, envelope_df(spark, events[:n]), silver, "pet")
    relay = ChangefeedRelay(silver, str(tmp_path / "bm"), start_version=0)
    with pytest.raises(ChangefeedLagError, match="no longer retained"):
        relay.poll(spark)
    # a pinned LIVE version is an ordinary bookmark: pure diff, no seed
    merge_into_silver(spark, envelope_df(spark, events[n:]), silver, "pet")
    relay2 = ChangefeedRelay(silver, str(tmp_path / "bm2"), start_version=1)
    feed, v = relay2.poll(spark)
    assert v == 2 and feed.select("from_version").distinct().collect()[0][0] == 1


def test_changefeed_flat_payload_uses_exact_comparison(spark, tmp_path):
    # equal map-free schemas take the eqNullSafe path — no to_json
    # serialization anywhere in the update-detection plan
    from cdc_demo_spark.streaming.merge import silver_changes

    events = generate_events(n_keys=6, n_events=80, seed=26)
    silver = str(tmp_path / "silver")
    n = len(events) // 2
    merge_into_silver(spark, envelope_df(spark, events[:n]), silver, "pet")
    merge_into_silver(spark, envelope_df(spark, events[n:]), silver, "pet")
    feed = silver_changes(spark, silver, 1, 2)
    plan = feed._jdf.queryExecution().analyzed().toString()
    assert "to_json" not in plan
    # and the feed itself still matches the replay oracle
    want = _oracle_changes(events[:n], events)
    got = {r["key"]: r["change"] for r in feed.collect()}
    assert got == {k: c for k, (c, _, _) in want.items()}


def test_referenced_dirs_flaky_read_aborts_sweep(tmp_path):
    # r12 ADVICE (medium): _referenced_dirs is the sweeps' protect-set;
    # swallowing EIO/EACCES on a RETAINED manifest would "unprotect"
    # its live bucket-version dirs and let rmtree delete them.  Only a
    # VANISHED manifest (the concurrent-trim race) may be skipped.
    import json as _json

    import cdc_demo_spark.streaming.merge as M
    from cdc_demo_spark.storage import PosixCommitBackend

    silver = str(tmp_path / "silver")
    os.makedirs(silver)
    for v, bucket_ver in ((1, "v1"), (2, "v2")):
        with open(os.path.join(silver, f"_manifest.v{v}.json"), "w") as f:
            _json.dump({"buckets": {"0": bucket_ver}}, f)

    class FlakyBackend(PosixCommitBackend):
        def read(self, path):
            if path.endswith("_manifest.v1.json"):
                raise PermissionError(13, "flaky", path)
            return super().read(path)

    class VanishedBackend(PosixCommitBackend):
        def read(self, path):
            if path.endswith("_manifest.v1.json"):
                raise FileNotFoundError(path)
            return super().read(path)

    both = {
        os.path.join(silver, "data", "b0", "v1"),
        os.path.join(silver, "data", "b0", "v2"),
    }
    assert M._referenced_dirs(silver, M.DEFAULT_BACKEND) == both
    # vanished mid-list -> skipped, survivors still protected
    assert M._referenced_dirs(silver, VanishedBackend()) == {
        os.path.join(silver, "data", "b0", "v2")
    }
    # flaky read -> propagates (sweep aborts rather than widens)
    with pytest.raises(PermissionError):
        M._referenced_dirs(silver, FlakyBackend())


def test_referenced_dirs_torn_json(tmp_path):
    # torn JSON on a numbered manifest is impossible-without-corruption
    # (put-if-absent CAS commit of complete content) -> must raise, not
    # unprotect.
    import json as _json

    import cdc_demo_spark.streaming.merge as M

    silver = str(tmp_path / "silver")
    os.makedirs(silver)
    with open(os.path.join(silver, "_manifest.v1.json"), "w") as f:
        _json.dump({"buckets": {"0": "v1"}}, f)
    assert M._referenced_dirs(silver, M.DEFAULT_BACKEND) == {
        os.path.join(silver, "data", "b0", "v1")
    }
    with open(os.path.join(silver, "_manifest.v2.json"), "w") as f:
        f.write('{"buckets": {"0"')  # corrupt numbered manifest
    with pytest.raises(ValueError):
        M._referenced_dirs(silver, M.DEFAULT_BACKEND)
