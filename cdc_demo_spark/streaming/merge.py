"""The CDC merge: latest-image materialization with (ts, seq) ordering,
delete handling, and late/out-of-order protection (A12, B45, B46).

This is the stage the reference's pipeline declares but never got
working (/root/reference/README.md:8 "the dataflow template fails";
:205 is the MERGE parameter).  Semantics implemented here:

- Winner per key = max (ts, seq) across existing silver state AND the
  incoming batch — so an *older* redelivered/late event can never
  overwrite newer state (B46), regardless of arrival order.
- Delete wins and persists as a tombstone hidden from readers (late
  older events can't resurrect the key); a later event with higher
  (ts,seq) legitimately re-inserts; tombstones GC at the watermark.
- Keyless tables: key = whole-row image (envelope.key_expr), so
  updates model as delete+insert — MySQL binlog row semantics.

Physical layout — a minimal Delta/Iceberg-style versioned table:

    silver/
      _manifest.v{N}.json        {"num_buckets": B, "schema": <payload struct json>,
                                  "buckets": {"3": "v7-3fa9c1d2", ...}}
      data/b3/v7-3fa9c1d2/*.parquet  (immutable once written)

The manifest is the table's only metadata: readers open exactly the
bucket-version dirs it names, with the payload schema it holds — never
a directory probe or a parquet-footer inference.  A referenced dir that
is missing fails the read rather than serving a partial snapshot.

A merge stages new versions for ONLY the touched key-hash buckets, then
commits by atomically publishing the next numbered manifest
(`_manifest.v{N}.json`, created with an atomic link — on an object
store this is the metadata-service conditional put). Readers resolve
the highest manifest first, so they always see a consistent snapshot: a
crash mid-merge leaves stale staging files (GC'd later), never mixed
state. Merge cost is O(touched buckets), not O(state) — untouched
buckets' files are never rewritten (inode-asserted in tests).

Crash/concurrency properties:
- Bucket version dirs carry a uuid suffix (`v8-3fa9c1d2`), so an
  orphaned dir from a crash between staging renames and the manifest
  commit can never collide with a later merge's rename (availability,
  not just consistency).
- Commits are optimistic-CAS: two writers that both loaded manifest N
  race to create `_manifest.v{N+1}.json`; the atomic link fails for the
  loser, which raises ConcurrentCommitError instead of silently
  discarding the winner's committed bucket versions (Delta/Iceberg
  commit protocol). Single-writer deployments never see it.
- Time travel (r10): superseded bucket-version dirs are immutable and
  survive as long as a retained manifest references them, so
  read_silver(version=N) is a byte-identical historical read over the
  retained window (trailing 5 manifests).  Space is reclaimed by
  retention-aware sweeps (inline post-commit, grace-TTL-guarded) and
  the explicit vacuum_silver — the Delta VACUUM analog, which also
  shrinks the window.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

from cdc_demo_spark.storage import DEFAULT_BACKEND, CommitBackend

# Every state row's metadata columns; the payload struct ``__row`` that
# follows them has the type the manifest's "schema" holds.
_STATE_META = StructType(
    [
        StructField("__key", StringType()),
        StructField("__op", StringType()),
        StructField("__ts", TimestampType()),
        StructField("__seq", LongType()),
    ]
)
_MANIFEST_V = re.compile(r"_manifest\.v(\d+)\.json$")


class ConcurrentCommitError(RuntimeError):
    """Another writer committed a manifest since this one was loaded.

    Reload the manifest and re-merge (the loser's staged bucket dirs are
    unreferenced garbage, GC'd like any crash debris)."""


def _as_state(envelopes: DataFrame) -> DataFrame:
    """Envelope rows -> silver-state shape (payload.* + metadata)."""
    return envelopes.select(
        F.col("key").alias("__key"),
        F.col("op").alias("__op"),
        F.col("ts").alias("__ts"),
        F.col("seq").alias("__seq"),
        F.col("after").alias("__row"),
    )


def _bucket_of(col, num_buckets: int) -> F.Column:
    """THE bucket-hash recipe (column name or Column expression) —
    every consumer (merge writer, point lookup, erasure) goes through
    this one expression so the recipe cannot drift."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c), F.lit(num_buckets)).cast("int")


def bucket_id_of(spark: SparkSession, key: str, num_buckets: int) -> int:
    """The bucket a key hashes into, computed BY a one-row Spark job so
    it is by construction the same xxhash64/pmod the writer used — no
    driver-side reimplementation to drift (shared by point lookups and
    erasure)."""
    return int(
        spark.range(1)
        .select(_bucket_of(F.lit(key), num_buckets).alias("b"))
        .collect()[0]["b"]
    )


def silver_bucket_count(
    expected_state_bytes: int,
    target_bucket_bytes: int = 128 << 20,
    min_buckets: int = 8,
    max_buckets: int = 4096,
) -> int:
    """Bootstrap-time bucket sizing policy for a silver table.

    Merge cost is O(touched buckets): each micro-batch rewrites only the
    bucket versions its keys hash into, so the bucket count must track
    EXPECTED STATE SIZE, not a constant — with 8 buckets every batch of
    a 1 TB table touches most of them and the rewrite amortization is
    lost; with ~state/128 MB buckets a trickle batch rewrites a few
    hundred MB no matter how big state grows. Power-of-two count for
    stable pmod distribution; clamped so toy tables stay debuggable and
    pathological inputs can't explode the manifest. num_buckets is
    PINNED in the manifest at table creation (resharding = rewrite), so
    size for the table's mature state, not its first batch."""
    import math

    need = max(1, math.ceil(expected_state_bytes / target_bucket_bytes))
    n = 1 << (need - 1).bit_length()  # next power of two
    return max(min_buckets, min(max_buckets, n))


# --------------------------------------------------------------------------
# Manifest handling (the table's "metadata layer")
# --------------------------------------------------------------------------


def _manifest_versions(
    silver_path: str, backend: CommitBackend = DEFAULT_BACKEND
) -> list[tuple[int, str]]:
    out = []
    for name in backend.list_dir(silver_path):
        m = _MANIFEST_V.match(name)
        if m:
            out.append((int(m.group(1)), os.path.join(silver_path, name)))
    return sorted(out)


class SnapshotNotFound(LookupError):
    """A time-travel read named a version outside the retained window
    (the CAS commit keeps the trailing manifests; vacuum_silver can
    shrink the window further)."""


def _load_manifest(
    silver_path: str,
    backend: CommitBackend = DEFAULT_BACKEND,
    version: int | None = None,
) -> dict | None:
    """Resolve a snapshot: highest numbered manifest wins; with
    ``version``, that exact retained manifest (time travel) or
    SnapshotNotFound; None for a table with no commit yet."""
    versions = _manifest_versions(silver_path, backend)
    if version is None:
        if not versions:
            return None
        n, path = versions[-1]
    else:
        n = int(version)
        path = dict(versions).get(n)
        if path is None:
            raise SnapshotNotFound(
                f"silver snapshot v{version} is not retained at {silver_path}; "
                f"readable versions: {[v for v, _ in versions]}"
            )
    manifest = json.loads(backend.read(path))
    manifest["version"] = n
    return manifest


def _commit_manifest(
    silver_path: str, manifest: dict, backend: CommitBackend = DEFAULT_BACKEND
) -> None:
    """The ONE mutation readers can observe. Optimistic CAS: the commit
    claims version N+1 with the backend's put-if-absent (POSIX: atomic
    link of a fully-written temp file; object store: conditional
    create), which fails if a concurrent writer claimed it first — no
    torn reads, content is complete before the name exists."""
    new_version = int(manifest.get("version", 0)) + 1
    manifest = {**manifest, "version": new_version}
    dst = os.path.join(silver_path, f"_manifest.v{new_version}.json")
    if not backend.put_if_absent(dst, json.dumps(manifest).encode()):
        raise ConcurrentCommitError(
            f"manifest version {new_version} already committed by another "
            f"writer; reload and re-merge"
        )
    # retention: keep a few trailing manifests for in-flight readers
    _trim_manifests(
        silver_path, _manifest_versions(silver_path, backend)[:-5], backend
    )


def _trim_manifests(silver_path: str, doomed, backend: CommitBackend) -> set[str]:
    """Delete the given (version, path) manifests and TOUCH the bucket
    dirs they alone referenced.  The sweeps' grace TTL reads dir mtime,
    and a dir referenced only by a just-trimmed manifest is typically
    hours old — without the touch it would be reclaimed the instant it
    left the retention window, failing an in-flight reader that had
    already resolved that manifest (r10 ADVICE).  Touching on trim
    makes mtime ≈ unreference time, so the TTL measures what it
    claims to.  Returns those newly unreferenced dirs."""
    doomed = list(doomed)
    if not doomed:
        return set()
    was_referenced: set[str] = set()
    for _n, path in doomed:
        try:
            m = json.loads(backend.read(path))
            was_referenced.update(_bucket_paths(silver_path, m).values())
        except (OSError, ValueError):
            pass  # raced another trimmer; its touch covers the dirs
        backend.delete(path)
    newly_free = was_referenced - _referenced_dirs(silver_path, backend)
    now = time.time()
    for d in newly_free:
        try:
            os.utime(d, (now, now))
        except OSError:
            pass  # already swept, or non-POSIX store (sweeps are POSIX-only)
    return newly_free


# Superseded bucket-version dirs are NOT deleted at commit time (r10):
# every manifest still on disk — the CAS commit retains the trailing 5 —
# must stay readable, which is what makes read_silver(version=N) a real
# time-travel read rather than a lucky one.  Space is reclaimed by the
# retention-aware sweeps below: an inline one after each commit
# (unreferenced-by-any-retained-manifest AND older than the grace TTL,
# which protects a concurrent writer's staged-but-uncommitted rename —
# the same quiesce-or-TTL contract as the pair indexes' gc), plus the
# explicit vacuum_silver for operator-driven retention changes.
SUPERSEDED_GRACE_SECONDS = 600.0


def silver_versions(
    silver_path: str, backend: CommitBackend = DEFAULT_BACKEND
) -> list[int]:
    """The snapshot versions currently readable — the time-travel
    window (ascending)."""
    return [n for n, _ in _manifest_versions(silver_path, backend)]


def _referenced_dirs(silver_path: str, backend: CommitBackend) -> set[str]:
    """Bucket-version dirs referenced by ANY manifest still on disk —
    the set a sweep must never touch."""
    refs: set[str] = set()
    for _, path in _manifest_versions(silver_path, backend):
        try:
            raw = backend.read(path)
        except FileNotFoundError:
            # A concurrent vacuum/trim deleted this manifest between
            # our listing and the read (r11 ADVICE: without the guard
            # a SUCCESSFUL merge raised FileNotFoundError from its
            # post-commit trim, tempting the caller to re-apply the
            # batch).  A vanished manifest references nothing we must
            # protect beyond what the survivors reference.  Any OTHER
            # OSError (EIO, EACCES, torn frame on a RETAINED manifest)
            # must propagate: this set is the sweep's protect-set, and
            # treating a flaky read as "references nothing" would let
            # rmtree delete live bucket-version dirs (r12 ADVICE).
            # FramedBackend already maps incomplete/invalid frames —
            # the only benign torn state for numbered manifests — to
            # FileNotFoundError.
            continue
        # torn JSON here is corruption (commits are put-if-absent of
        # complete content): raise rather than unprotect
        refs.update(_bucket_paths(silver_path, json.loads(raw)).values())
    return refs


def _sweep_unreferenced(
    silver_path: str,
    buckets,
    backend: CommitBackend,
    grace_seconds: float = SUPERSEDED_GRACE_SECONDS,
) -> list[str]:
    """Delete the given buckets' version dirs that no retained manifest
    references and that are older than the grace TTL."""
    refs = _referenced_dirs(silver_path, backend)
    removed: list[str] = []
    now = time.time()
    for b in buckets:
        bdir = os.path.join(silver_path, "data", f"b{int(b)}")
        if not os.path.isdir(bdir):
            continue
        for name in os.listdir(bdir):
            d = os.path.join(bdir, name)
            if d in refs or not os.path.isdir(d):
                continue
            try:
                age = now - os.path.getmtime(d)
            except OSError:
                continue  # raced another sweeper
            if age >= grace_seconds:
                shutil.rmtree(d, ignore_errors=True)
                removed.append(d)
    return removed


def vacuum_silver(
    silver_path: str,
    retain_last: int = 1,
    grace_seconds: float | None = None,
    backend: CommitBackend = DEFAULT_BACKEND,
    force: bool = False,
) -> list[str]:
    """Delta-VACUUM analog: shrink the time-travel window to the newest
    ``retain_last`` manifests, then delete every bucket-version dir no
    retained manifest references and older than ``grace_seconds``
    (default: SUPERSEDED_GRACE_SECONDS).  Returns the removed dirs;
    time-travel reads of vacuumed versions raise SnapshotNotFound
    afterwards.

    A grace below the default protects NOTHING from a concurrent
    merge's staged-but-uncommitted bucket rename — the committed
    manifest would then reference a deleted dir — so, mirroring
    Delta's retention-duration check, it requires ``force=True`` and a
    quiesced table (r10 ADVICE: the old 0.0 default silently carried
    that race)."""
    if retain_last < 1:
        raise ValueError(f"retain_last must be >= 1, got {retain_last}")
    if grace_seconds is None:
        grace_seconds = SUPERSEDED_GRACE_SECONDS
    elif grace_seconds < SUPERSEDED_GRACE_SECONDS and not force:
        raise ValueError(
            f"grace_seconds={grace_seconds} is below the safe retention "
            f"floor ({SUPERSEDED_GRACE_SECONDS}s) and can delete a "
            "concurrent merge's staged bucket dir; quiesce writers and "
            "pass force=True to opt in (Delta's "
            "retentionDurationCheck analog)"
        )
    _trim_manifests(
        silver_path,
        _manifest_versions(silver_path, backend)[:-retain_last],
        backend,
    )
    manifest = _load_manifest(silver_path, backend)
    if manifest is None:
        return []
    buckets = {int(b) for b in manifest["buckets"]}
    data = os.path.join(silver_path, "data")
    if os.path.isdir(data):  # buckets dropped from the manifest sweep too
        for name in os.listdir(data):
            if name.startswith("b") and name[1:].isdigit():
                buckets.add(int(name[1:]))
    return _sweep_unreferenced(silver_path, sorted(buckets), backend, grace_seconds)


def _next_bucket_version(cur_ver: str | None) -> str:
    """Monotonic number for ordering/debugging + uuid suffix so a
    crash-orphaned dir can never collide with a later rename."""
    n = int(cur_ver[1:].split("-")[0]) + 1 if cur_ver else 1
    return f"v{n}-{uuid.uuid4().hex[:8]}"


def _publish_buckets(
    silver_path: str,
    manifest: dict,
    df: DataFrame,
    buckets,
    backend: CommitBackend,
) -> None:
    """THE bucket-rewrite commit every silver writer (merge, tombstone
    GC, optimize, erasure) goes through: write ``df`` partitioned by
    ``__bucket`` to a stage dir, rename each of ``buckets``' output to
    its next immutable version dir (an empty dir for a bucket left with
    no rows), CAS-commit ``manifest`` naming those versions, then drop
    the stage and sweep what the commit unreferenced.  A crash before
    the commit leaves only unreferenced garbage, never mixed state;
    ``manifest["buckets"]`` is updated in place."""
    stage = os.path.join(silver_path, "data", f"stage-{uuid.uuid4().hex}")
    df.write.mode("overwrite").partitionBy("__bucket").parquet(stage)
    for b in buckets:
        manifest["buckets"][str(b)] = _next_bucket_version(manifest["buckets"].get(str(b)))
    for b, dst in _bucket_paths(silver_path, manifest, buckets).items():
        src = os.path.join(stage, f"__bucket={b}")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        if os.path.exists(src):
            os.rename(src, dst)
        else:  # bucket emptied entirely (e.g. everything GC'd)
            os.makedirs(dst, exist_ok=True)
    _commit_manifest(silver_path, manifest, backend)  # <- the atomic point
    # post-commit GC (crash here leaves garbage, never corruption).
    # Superseded versions stay on disk while a retained manifest still
    # references them (time travel); the sweep reclaims the rest.
    shutil.rmtree(stage, ignore_errors=True)
    _sweep_unreferenced(silver_path, buckets, backend)


def _bucket_paths(silver_path: str, manifest: dict, buckets=None) -> dict[int, str]:
    """THE bucket-dir recipe: bucket id -> the version dir ``manifest``
    names for it (only ``buckets``' when given)."""
    return {
        int(b): os.path.join(silver_path, "data", f"b{b}", ver)
        for b, ver in manifest["buckets"].items()
        if buckets is None or int(b) in buckets
    }


# --------------------------------------------------------------------------
# Merge
# --------------------------------------------------------------------------


# Plan observability for the foreachBatch merge path (VERDICT r6 #7):
# batch queries are audited by tools/audit_plans.py through their
# returned DataFrames, but the merge executes inside actions THIS
# module owns, invisible to that capture.  Install a list here and
# every merge appends (label, physical plan) for its two actions —
# the touched-bucket probe and the state rewrite — so the audit can
# hold the CDC path to the same no-python/pushdown facts.  None
# (the default) costs nothing.
PLAN_CAPTURE: list[tuple[str, str]] | None = None


def _capture_plan(label: str, df: DataFrame) -> None:
    if PLAN_CAPTURE is not None:
        from cdc_demo_spark.plans import physical_plan

        PLAN_CAPTURE.append((label, physical_plan(df)))


def merge_into_silver(
    spark: SparkSession,
    batch: DataFrame,
    silver_path: str,
    table: str,
    num_buckets: int | None = None,
    expected_state_bytes: int | None = None,
    backend: CommitBackend = DEFAULT_BACKEND,
) -> None:
    """Merge one micro-batch of envelope rows for `table` into the
    versioned silver table at `silver_path` (see module docstring for
    the layout and commit protocol).

    Bucket count resolution: the manifest's pinned count always wins;
    on first merge (table creation) an explicit ``num_buckets`` is
    used, else ``silver_bucket_count(expected_state_bytes)`` (the
    ~128 MB/bucket policy), else the demo default of 8.

    ``backend`` is the commit-metadata seam (cdc_demo_spark.storage):
    only the manifest needs atomicity; bucket data dirs are immutable
    uuid-versioned writes whose visibility the manifest gates, so the
    staging rename below needs no atomicity (on an object store it is
    a copy — or write per-bucket directly to the final key)."""
    manifest = _load_manifest(silver_path, backend)
    if manifest is not None:
        num_buckets = manifest["num_buckets"]  # pinned at table creation
    elif num_buckets is None:
        num_buckets = (
            silver_bucket_count(expected_state_bytes)
            if expected_state_bytes is not None
            else 8
        )

    batch = batch.filter(F.col("table") == table)
    # No separate latest_image pass: the merge window below applies the
    # same (ts, seq) total order to state ∪ batch. (ts, seq) duplicates
    # are redeliveries of the SAME event — identical rows — so the
    # row_number tie among them cannot change the result.
    incoming = _as_state(batch).withColumn("__bucket", _bucket_of("__key", num_buckets))

    # Schema evolution (additive): a source ALTER TABLE ADD COLUMN shows
    # up as new fields in the payload struct. The TABLE schema lives in
    # the manifest (metadata layer, like Delta): validate the batch
    # against it — additions widen it, type changes are breaking and
    # raise — and align everything to the union (missing -> NULL).
    # Validating against the manifest (not just the touched buckets)
    # catches conflicts even when the batch lands in empty buckets.
    table_schema = _manifest_schema(manifest)
    union_schema = _merged_payload_schema(table_schema, incoming.schema["__row"].dataType)
    incoming = _align_row_struct(incoming, union_schema)

    incoming = incoming.cache()  # two consumers: touched-bucket list + merge
    _capture_plan("merge_touched_probe", incoming.select("__bucket").distinct())
    touched = [int(r["__bucket"]) for r in incoming.select("__bucket").distinct().collect()]
    if not touched:
        incoming.unpersist()
        return

    merged = incoming
    if manifest is not None:
        current = _read_state(spark, silver_path, manifest, buckets=touched)
        merged = _align_row_struct(current, union_schema).unionByName(incoming)

    # Deletes stay in state as TOMBSTONES (__op='d', null row): dropping
    # them would let a late-arriving older insert in a LATER batch win
    # against nothing and resurrect the key (violates B46). Readers
    # filter tombstones; GC: compact ones older than the watermark.
    # Tie-break: a DELETE wins an exact (ts, seq) tie. A real log never
    # emits two different ops at one log position, and redelivered
    # events are identical rows (tie irrelevant) — the one place ties
    # genuinely occur is an erasure tombstone (streaming/erasure.py,
    # pinned at the erased key's max (ts, seq)) racing a REDELIVERY of
    # that very event: without this term the winner is arbitrary and
    # the erased payload can resurrect nondeterministically.
    w = Window.partitionBy("__key").orderBy(
        F.desc("__ts"), F.desc("__seq"), (F.col("__op") == "d").desc()
    )
    new_state = (
        merged.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )

    if manifest is None:
        manifest = {"num_buckets": num_buckets, "buckets": {}}
    manifest["schema"] = union_schema.json()  # table schema lives in metadata
    _capture_plan("merge_state_rewrite", new_state)
    try:
        _publish_buckets(silver_path, manifest, new_state, touched, backend)
    finally:
        incoming.unpersist()


def _manifest_schema(manifest: dict | None):
    if manifest is None or "schema" not in manifest:
        return None
    return StructType.fromJson(json.loads(manifest["schema"]))


def _merged_payload_schema(table_schema, batch_schema):
    """Union of payload fields, table fields first. A type change on a
    shared field is breaking and raises (additive evolution only)."""
    if table_schema is None:
        return batch_schema
    have = {f.name: f.dataType for f in table_schema.fields}
    out = list(table_schema.fields)
    for f in batch_schema.fields:
        if f.name in have:
            if have[f.name] != f.dataType:
                raise ValueError(
                    f"incompatible type change for payload field {f.name!r}: "
                    f"{have[f.name].simpleString()} vs {f.dataType.simpleString()}"
                )
        else:
            out.append(StructField(f.name, f.dataType, True))
    return StructType(out)


def _align_row_struct(df: DataFrame, union_schema) -> DataFrame:
    """Widen a state DataFrame's __row struct to `union_schema`
    (missing fields -> typed NULLs; field order = schema order)."""
    have = {f.name for f in df.schema["__row"].dataType.fields}
    if have == {f.name for f in union_schema.fields}:
        return df
    row = F.struct(
        *[
            (F.col("__row")[f.name] if f.name in have else F.lit(None).cast(f.dataType)).alias(
                f.name
            )
            for f in union_schema.fields
        ]
    )
    return df.select("__key", "__op", "__ts", "__seq", row.alias("__row"), "__bucket")


def _read_state(
    spark: SparkSession,
    silver_path: str,
    manifest: dict,
    buckets: list[int] | None = None,
) -> DataFrame:
    """The committed snapshot ``manifest`` names (only ``buckets``' when
    given), read with the schema the manifest holds: bucket versions
    written before an additive evolution read the new fields as NULL,
    no footer is opened to infer a schema, and a referenced dir that is
    missing raises PATH_NOT_FOUND.  No referenced bucket -> an empty
    DataFrame of the same schema."""
    schema = StructType([*_STATE_META.fields, StructField("__row", _manifest_schema(manifest))])
    paths = list(_bucket_paths(silver_path, manifest, buckets).values())
    df = spark.read.schema(schema).parquet(*paths) if paths else spark.createDataFrame([], schema)
    # __bucket is derivable from __key; recompute instead of storing.
    return df.withColumn("__bucket", _bucket_of("__key", manifest["num_buckets"]))


def read_silver_state(
    spark: SparkSession,
    silver_path: str,
    backend: CommitBackend = DEFAULT_BACKEND,
    version: int | None = None,
) -> DataFrame:
    """Committed snapshot (manifest-resolved); with `version`, the
    retained historical manifest of that number — a time-travel read
    (raises SnapshotNotFound outside the retained window).  Raises
    FileNotFoundError for a table with no commit yet."""
    manifest = _load_manifest(silver_path, backend, version=version)
    if manifest is None:
        raise FileNotFoundError(silver_path)
    return _read_state(spark, silver_path, manifest)


def read_silver(
    spark: SparkSession,
    silver_path: str,
    backend: CommitBackend = DEFAULT_BACKEND,
    version: int | None = None,
) -> DataFrame:
    """The queryable replica: payload columns only, tombstones hidden.
    ``version`` reads a retained historical snapshot (time travel —
    `AS OF` semantics over the CAS manifest chain): superseded bucket
    dirs are immutable and survive until no retained manifest
    references them, so a historical read is byte-identical to what a
    reader saw at that commit, not a reconstruction."""
    state = read_silver_state(spark, silver_path, backend=backend, version=version)
    return state.filter(F.col("__op") != "d").select("__row.*")


def lookup_silver_key(
    spark: SparkSession,
    silver_path: str,
    key: str,
    backend: CommitBackend = DEFAULT_BACKEND,
) -> DataFrame:
    """Point lookup: the latest live image of one key, opening ONLY the
    bucket directory the key hashes into — 1/num_buckets of the table's
    files regardless of table size (the read-path twin of the merge's
    O(touched-buckets) write property; files-read asserted in
    tests/test_cdc_merge.py).

    The bucket id comes from a one-row Spark job so the hash is
    BY CONSTRUCTION the same xxhash64/pmod the writer used — no
    driver-side reimplementation to drift."""
    manifest = _load_manifest(silver_path, backend)
    if manifest is None:
        raise FileNotFoundError(silver_path)
    b = bucket_id_of(spark, key, manifest["num_buckets"])
    state = _read_state(spark, silver_path, manifest, buckets=[b])
    return (
        state.filter((F.col("__key") == key) & (F.col("__op") != "d"))
        .select("__row.*")
    )


def _contains_map(dt) -> bool:
    """True if the data type holds a MapType anywhere — the one family
    Spark's struct equality cannot compare (and whose to_json entry
    order is unstable across snapshots)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _contains_map(dt.elementType)
    return False


def silver_changes(
    spark: SparkSession,
    silver_path: str,
    from_version: int,
    to_version: int | None = None,
    backend: CommitBackend = DEFAULT_BACKEND,
) -> DataFrame:
    """Outbound changefeed (the Delta Change-Data-Feed analog): the
    per-key changes between two retained snapshots, computed by
    diffing them — which time travel makes exact, not reconstructed.

    Cost is O(changed buckets): the two manifests name each bucket's
    version dir, so only buckets whose version MOVED between the
    snapshots are read (in both versions); an untouched bucket
    contributes zero I/O no matter how big the table is.  Output per
    changed key: change ('insert' | 'update' | 'delete'), the before
    and after payload structs, and the version pair.

    Semantics notes: a key that flips to a tombstone is a 'delete'
    (before carries its last live image); a tombstone re-inserted is
    an 'insert'.  Across a compact_tombstones boundary, keys whose
    tombstones were garbage-collected vanish physically — their delete
    event already appeared in the window where the tombstone landed,
    so the feed stays complete as long as consumers read windows no
    coarser than the tombstone-retention horizon (same contract as
    Delta CDF under VACUUM).  A rewrite-only commit (optimize) moves
    bucket versions without changing rows and yields zero events."""
    m_from = _load_manifest(silver_path, backend, version=from_version)
    m_to = _load_manifest(silver_path, backend, version=to_version)
    if m_from is None or m_to is None:
        raise FileNotFoundError(silver_path)
    changed = sorted(
        int(b)
        for b in set(m_from["buckets"]) | set(m_to["buckets"])
        if m_from["buckets"].get(b) != m_to["buckets"].get(b)
    )
    cols = ["__key", "__op", "__row"]
    b = _read_state(spark, silver_path, m_from, buckets=changed).select(*cols).alias("b")
    a = _read_state(spark, silver_path, m_to, buckets=changed).select(*cols).alias("a")
    live_b = F.col("b.__op").isNotNull() & (F.col("b.__op") != "d")
    live_a = F.col("a.__op").isNotNull() & (F.col("a.__op") != "d")
    joined = b.join(a, F.col("b.__key") == F.col("a.__key"), "full")
    # Update detection (r10 ADVICE hardening): when the two snapshots
    # share one struct schema with no map fields — every commit that
    # isn't a schema evolution — compare with eqNullSafe: exact value
    # semantics, immune to serialization artifacts (a map field's
    # entry order can differ between snapshots and would make to_json
    # emit a spurious 'update').  Across an ADDITIVE WIDTH CHANGE the
    # struct comparison refuses to analyze, so fall back to to_json —
    # which also drops null fields, so a key whose only "change" is a
    # new all-null column correctly emits nothing.  Map-typed fields
    # on a width change keep the to_json caveat; flat scalar payloads
    # (the CDC envelope shape) always take the exact path.
    row_t_b = b.schema["__row"].dataType
    row_t_a = a.schema["__row"].dataType
    if row_t_b == row_t_a and not _contains_map(row_t_b):
        differs = ~F.col("b.__row").eqNullSafe(F.col("a.__row"))
    else:
        differs = F.to_json(F.col("b.__row")) != F.to_json(F.col("a.__row"))
    change = (
        F.when(~live_b & live_a, F.lit("insert"))
        .when(live_b & ~live_a, F.lit("delete"))
        .when(live_b & live_a & differs, F.lit("update"))
    )
    return (
        joined.select(
            F.coalesce(F.col("b.__key"), F.col("a.__key")).alias("key"),
            change.alias("change"),
            F.when(live_b, F.col("b.__row")).alias("before"),
            F.when(live_a, F.col("a.__row")).alias("after"),
            F.lit(int(from_version)).alias("from_version"),
            F.lit(int(m_to["version"])).alias("to_version"),
        )
        .filter(F.col("change").isNotNull())
    )


class ChangefeedLagError(RuntimeError):
    """The relay's bookmark fell out of the retained snapshot window —
    the consumer lagged past what time travel can serve.  Remedy:
    retain more versions (vacuum less aggressively) or re-seed the
    consumer from a full snapshot."""


class ChangefeedRelay:
    """Exactly-once OUTBOUND egress over silver_changes — the consumer
    side of the changefeed, with the same bookmark discipline the
    ingest side's checkpoints use.

    ``poll(spark)`` returns (feed_df, to_version) covering everything
    committed since the last ACKNOWLEDGED version; the caller processes
    the feed durably, then calls ``ack(to_version)`` to advance the
    bookmark.  Crash anywhere before ack → the next poll re-emits the
    SAME window (at-least-once toward the sink; the (key, to_version)
    pair is the idempotency handle a transactional sink dedupes on —
    exactly the contract of the ingest side's epoch-keyed appends).
    The bookmark is one tiny file through the storage backend, so the
    relay restarts anywhere the table is readable."""

    def __init__(
        self,
        silver_path: str,
        bookmark_path: str,
        start_version: int | None = None,
        backend: CommitBackend = DEFAULT_BACKEND,
    ) -> None:
        # start_version=None is the FRESH-CONSUMER sentinel (first poll
        # seeds with the current snapshot as inserts); an integer —
        # including 0 — is an ordinary bookmark that must be a retained
        # version or the poll raises ChangefeedLagError.  r10 ADVICE:
        # overloading 0 as the seed sentinel meant a bookmark reset to
        # 0 silently replayed the whole table into the sink.
        self.silver_path = silver_path
        self.bookmark_path = bookmark_path  # a directory of ack.v{N}.json
        self.start_version = None if start_version is None else int(start_version)
        self.backend = backend

    def _acks(self) -> list[int]:
        out = []
        for name in self.backend.list_dir(self.bookmark_path):
            m = re.match(r"ack\.v(\d+)\.json$", name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def bookmark(self) -> int | None:
        """The last acknowledged version, or None for a consumer that
        has never acked (and was not pinned to a start_version)."""
        acks = self._acks()
        return acks[-1] if acks else self.start_version

    def poll(self, spark: SparkSession) -> tuple[DataFrame, int] | None:
        """The unconsumed window, or None when fully caught up."""
        last = self.bookmark()
        versions = silver_versions(self.silver_path, self.backend)
        if not versions:
            return None
        cur = versions[-1]
        if last is not None and cur <= last:
            return None
        if last is None:
            # fresh consumer (no prior state): seed with the CURRENT
            # snapshot as inserts.  Never "oldest snapshot + window
            # replay" — a key touched in the window would then appear
            # as BOTH an insert and an update in one unordered feed,
            # and the sink's apply order would decide which image wins.
            snap = read_silver_state(
                spark, self.silver_path, backend=self.backend, version=cur
            )
            live = snap.filter(F.col("__op") != "d").select(
                F.col("__key").alias("key"),
                F.lit("insert").alias("change"),
                F.lit(None).cast(snap.schema["__row"].dataType).alias("before"),
                F.col("__row").alias("after"),
                F.lit(0).alias("from_version"),
                F.lit(cur).alias("to_version"),
            )
            return live, cur
        if last not in versions:
            raise ChangefeedLagError(
                f"bookmark v{last} is no longer retained at "
                f"{self.silver_path} (window: {versions}); re-seed the "
                "consumer from a snapshot or retain more versions"
            )
        return silver_changes(spark, self.silver_path, last, cur, self.backend), cur

    def ack(self, version: int) -> None:
        """Durably advance the bookmark — an immutable ack.v{N}.json
        per version (the manifest idiom: put-if-absent, so a replayed
        ack of the same version is a no-op, and the bookmark is the
        max).  Monotone: a stale ack is a programming error and
        refuses.  Trailing acks are trimmed like manifests."""
        cur = self.bookmark()
        v = int(version)
        if cur is not None and v < cur:
            raise ValueError(f"ack({version}) behind bookmark v{cur}")
        os.makedirs(self.bookmark_path, exist_ok=True)
        self.backend.put_if_absent(
            os.path.join(self.bookmark_path, f"ack.v{v}.json"),
            json.dumps({"version": v}).encode(),
        )
        for n in self._acks()[:-3]:
            self.backend.delete(os.path.join(self.bookmark_path, f"ack.v{n}.json"))


def compact_tombstones(
    spark: SparkSession,
    silver_path: str,
    watermark_ts,
    backend: CommitBackend = DEFAULT_BACKEND,
) -> None:
    """GC tombstones older than the watermark: no event at-or-below the
    watermark can still arrive, so those deletes can be physically
    dropped (bounds state size).

    SELECTIVE rewrite: a cheap detection pass (column-pruned scan of
    __op/__ts only — no payloads move) finds the buckets that actually
    hold watermark-old tombstones; only those get a new version, in one
    manifest commit. Buckets without old tombstones keep their files
    untouched (inode-asserted in tests), so GC cost tracks the tombstone
    population, not total state — the same O(touched) property the merge
    itself has."""
    manifest = _load_manifest(silver_path, backend)
    if manifest is None:
        return
    state = _read_state(spark, silver_path, manifest)
    is_old_tomb = (F.col("__op") == "d") & (F.col("__ts") <= F.lit(watermark_ts))
    targets = [
        int(r["__bucket"])
        for r in state.filter(is_old_tomb).select("__bucket").distinct().collect()
    ]
    if not targets:
        return
    kept = _read_state(spark, silver_path, manifest, buckets=targets).filter(~is_old_tomb)
    _publish_buckets(silver_path, manifest, kept, targets, backend)


def optimize_silver(
    spark: SparkSession,
    silver_path: str,
    max_files_per_bucket: int = 1,
    sort_cols: tuple[str, ...] = ("__key",),
    backend: CommitBackend = DEFAULT_BACKEND,
) -> list[int]:
    """OPTIMIZE for the silver table (Delta OPTIMIZE / Iceberg rewrite
    analog): every merge appends a new version with however many files
    the shuffle produced, so a hot bucket fragments over time; scans
    then pay per-file open cost and lose row-group locality.

    Selectively rewrites ONLY buckets whose current version holds more
    than ``max_files_per_bucket`` parquet files, coalescing each to one
    file sorted by ``sort_cols`` (key-sorted row groups -> tight
    min/max stats -> point-lookup row-group pruning; Z-order-lite).
    Committed via the same CAS manifest as merges — readers never see a
    half-optimized table, and a concurrent merge loses cleanly with
    ConcurrentCommitError rather than silently undoing the rewrite.
    Returns the bucket ids rewritten (for tests/observability)."""
    manifest = _load_manifest(silver_path, backend)
    if manifest is None:
        return []
    fragmented = []
    for b, d in _bucket_paths(silver_path, manifest).items():
        n_files = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        if n_files > max_files_per_bucket:
            fragmented.append(b)
    if not fragmented:
        return []
    state = _read_state(spark, silver_path, manifest, buckets=fragmented)
    # sort prefix = the partition column: FileFormatWriter then sees its
    # required ordering and adds no sort of its own (which would destroy
    # the key order inside each bucket's file)
    rewritten = state.repartition("__bucket").sortWithinPartitions("__bucket", *sort_cols)
    _publish_buckets(silver_path, manifest, rewritten, fragmented, backend)
    return sorted(fragmented)


# --------------------------------------------------------------------------
# Test oracle: single-threaded dict replay (SURVEY.md §5)
# --------------------------------------------------------------------------


def replay_oracle(events: list[dict]) -> dict[str, dict]:
    """Sequentially apply envelope events in (ts, seq) order to a dict —
    the ground truth the distributed merge must converge to."""
    state: dict[str, dict] = {}
    for ev in sorted(events, key=lambda e: (e["ts"], e["seq"])):
        if ev["op"] == "d":
            state.pop(ev["key"], None)
        else:
            state[ev["key"]] = ev["after"]
    return state


def merge_into_silver_with_retry(
    spark: SparkSession,
    batch: DataFrame,
    silver_path: str,
    table: str,
    retries: int = 3,
    num_buckets: int | None = None,
    expected_state_bytes: int | None = None,
    backend: CommitBackend = DEFAULT_BACKEND,
) -> int:
    """merge_into_silver with the optimistic-CAS loser's protocol built
    in: on ConcurrentCommitError, reload the (now newer) manifest and
    re-merge — the batch's (ts, seq) idempotency makes the retry safe
    even if the winner's commit already contained some of this batch's
    keys. Returns the number of attempts used. Raises after `retries`
    consecutive losses (pathological contention is a deployment bug —
    silver tables are designed single-writer-per-table; this wrapper
    exists for the OCCASIONAL compaction-vs-merge race, closing the
    'no retry loop built in' known-limit from SCALE.md)."""
    if retries < 1:
        raise ValueError(f"retries must be >= 1, got {retries}")
    last: ConcurrentCommitError | None = None
    for attempt in range(1, retries + 1):
        try:
            merge_into_silver(
                spark,
                batch,
                silver_path,
                table,
                num_buckets=num_buckets,
                expected_state_bytes=expected_state_bytes,
                backend=backend,
            )
            return attempt
        except ConcurrentCommitError as e:
            last = e  # manifest moved under us: reload happens on re-entry
    raise last
