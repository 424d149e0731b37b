"""Right-to-be-forgotten: physical erasure of one key across every
layer the pipeline persists, without breaking CDC merge semantics.

GDPR-style deletion is NOT the same as a CDC delete: a 'd' event hides
the key from readers but the payload bytes remain in silver state,
bronze change history, and (possibly) DLQ blobs.  Erasure must remove
the BYTES while keeping the merge correct in the face of late events:

- **Silver**: the key's rows are replaced by a single REDACTED
  TOMBSTONE carrying the key's current max (ts, seq) and a NULL row
  image.  Dropping the rows outright would let a late, older insert
  arriving in a future batch win against nothing and resurrect the
  payload (the B46 hazard); the tombstone blocks every event at or
  below the erasure point while events genuinely newer (the user
  returns) insert normally.  Cost: O(1 bucket) — the same selective
  rewrite as a merge, committed through the same CAS manifest.
  Erasure SHRINKS THE TIME-TRAVEL WINDOW to the erasure commit: every
  older retained snapshot still holds the payload, so they are all
  retired (``read_silver(version=<older>)`` and ``silver_changes``
  from an older version raise SnapshotNotFound) and the key's
  superseded bucket versions are deleted.  A ``ChangefeedRelay`` whose
  bookmark is behind the erasure commit then gets ChangefeedLagError
  and must re-seed from a snapshot.
- **Bronze**: the immutable change log is rewritten WITHOUT the key's
  envelope rows, only for the batch_id partitions that contain the key
  (detected by a column-pruned scan of `key` only).  Cost tracks the
  key's history, not log size.
- **DLQ**: corrupt raw blobs that mention the serialized key are
  dropped (best-effort by construction — a corrupt record has no
  parsed key column, substring match is the strongest available
  predicate; documented, not hidden).

At 100 TB these rewrites are the standard compliance shape (Delta/
Iceberg DELETE + VACUUM): metadata-gated selective file rewrites.
Erasure REMOVES bytes, so unlike merges it is not idempotent-by-
replay — run it after the key's retention decision is final; a crash
mid-erasure leaves staged garbage or a committed manifest, never a
half-visible mix (same commit protocol as the merge).

**Streaming replay cannot undo an erasure**: foreachBatch is
at-least-once and bronze/DLQ partitions are overwrite-per-batch_id, so
a checkpoint resume after erasure would re-land the key's rows from
the landing files.  Each erasure therefore records the key in a
per-table ledger (``_erased/`` under the change-log root), and every
pipeline write path re-filters batches against it — replay converges
to the post-erasure log (tests/test_erasure.py pins this)."""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_demo_spark.storage import DEFAULT_BACKEND, CommitBackend
from cdc_demo_spark.streaming.merge import (
    _load_manifest,
    _manifest_versions,
    _publish_buckets,
    _read_state,
    _trim_manifests,
    bucket_id_of,
)


def erase_key_from_silver(
    spark: SparkSession,
    silver_path: str,
    key: str,
    backend: CommitBackend = DEFAULT_BACKEND,
) -> bool:
    """Replace every state row for `key` with one redacted tombstone at
    the key's max (ts, seq). Returns False if the key has no state.
    Touches exactly one bucket; commits via the CAS manifest, then
    retires every pre-erasure snapshot (see the module docstring)."""
    manifest = _load_manifest(silver_path, backend)
    if manifest is None:
        return False
    b = bucket_id_of(spark, key, manifest["num_buckets"])
    state = _read_state(spark, silver_path, manifest, buckets=[b]).cache()
    mine = state.filter(F.col("__key") == key)
    top = mine.agg(F.max(F.struct("__ts", "__seq")).alias("w")).collect()[0]["w"]
    if top is None:
        state.unpersist()
        return False
    tomb = spark.createDataFrame([(key, "d", top["__ts"], top["__seq"], None, b)], state.schema)
    kept = state.filter(F.col("__key") != key).unionByName(tomb)
    try:
        _publish_buckets(silver_path, manifest, kept, [b], backend)
    finally:
        state.unpersist()
    # Every snapshot up to the one this erasure read still serves the
    # payload: retire them first, THEN delete the bucket versions only
    # they referenced — deleting a dir a retained manifest still names
    # would make time travel return that snapshot minus the whole bucket.
    pre = [(n, p) for n, p in _manifest_versions(silver_path, backend) if n <= manifest["version"]]
    bucket_dir = os.path.join(silver_path, "data", f"b{b}")
    for d in _trim_manifests(silver_path, pre, backend):
        if os.path.dirname(d) == bucket_dir:
            shutil.rmtree(d, ignore_errors=True)
    return True


# -- erased-key ledger ---------------------------------------------------
#
# foreachBatch is at-least-once and bronze/DLQ batch partitions are
# rewritten with mode('overwrite') on replay, so a checkpoint resume
# AFTER an erasure would re-land the erased key's envelope rows in
# bronze (silver stays protected by the redacted tombstone).  Erasure
# therefore records each erased key in a per-table ledger under the
# change-log root, and the pipelines' write paths re-filter against it
# — replay converges to the post-erasure log instead of undoing it.
# The dir is underscore-prefixed so Spark's file index never reads it.
# The ledger is small by construction (one entry per administrative
# erasure), so an isin() against it is a broadcast-trivial filter.

ERASED_DIR = "_erased"


def record_erased_key(root: str, key: str) -> None:
    """Durably add `key` to `root`'s erased-key ledger (idempotent;
    atomic publish so a crash never leaves a half-written entry)."""
    d = os.path.join(root, ERASED_DIR)
    os.makedirs(d, exist_ok=True)
    final = os.path.join(d, hashlib.md5(key.encode("utf-8")).hexdigest())
    if os.path.exists(final):
        return
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(key)
    os.replace(tmp, final)


def erased_keys(root: str) -> list[str]:
    """All keys ever erased from the table rooted at `root`."""
    d = os.path.join(root, ERASED_DIR)
    if not os.path.isdir(d):
        return []
    out = []
    for n in sorted(os.listdir(d)):
        if n.startswith("."):
            continue  # in-flight tmp entry
        with open(os.path.join(d, n), encoding="utf-8") as f:
            out.append(f.read())
    return out


def _recover_swaps(root: str) -> None:
    """Auto-recover a crash inside a previous partition swap: a
    ``.old-<bid>-*`` aside dir whose ``batch_id=<bid>`` target is
    missing is the original partition mid-swap — restore it before
    touching anything (mirrors layout.compact's recovery).

    SINGLE-ERASER contract (like compact's single-writer): recovery
    assumes no OTHER erasure is mid-swap on this table — it would
    collect that erasure's live ``.erase-*`` staging as crash debris.
    Erasure is an administrative op; serialize it per table."""
    for d in os.listdir(root):
        if d.startswith(".old-"):
            bid = d.split("-")[1]
            part = os.path.join(root, f"batch_id={bid}")
            if not os.path.exists(part):
                os.rename(os.path.join(root, d), part)
            else:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        elif d.startswith(".erase-"):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def _swap_partition(root: str, bid: int, kept) -> None:
    """Replace ``batch_id=<bid>`` with ``kept``'s rows. Staging and
    aside dirs are DOT-PREFIXED so Spark's file index never sees them:
    the r6 review caught that a ``batch_id=N.old-<hex>`` style name
    still PARSES as a partition value — a crash would poison the
    partition column for every later reader. With hidden names the
    crash windows leave either the original (recoverable via
    _recover_swaps) or the finished swap, never a bogus partition."""
    part = os.path.join(root, f"batch_id={bid}")
    tmp = os.path.join(root, f".erase-{bid}-{uuid.uuid4().hex[:8]}")
    kept.write.mode("overwrite").parquet(tmp)
    old = os.path.join(root, f".old-{bid}-{uuid.uuid4().hex[:8]}")
    os.rename(part, old)
    os.rename(tmp, part)
    shutil.rmtree(old, ignore_errors=True)


def erase_key_from_bronze(
    spark: SparkSession, bronze_dir: str, table: str, key: str
) -> list[int]:
    """Rewrite only the bronze batch_id partitions whose change log
    contains `key`; returns the batch ids rewritten. Detection is a
    column-pruned scan of `key` alone (no payloads move until a
    partition is known dirty)."""
    root = os.path.join(bronze_dir, table)
    # Record BEFORE scrubbing data: even an empty/never-written
    # namespace can receive the key later via a checkpoint replay, and
    # the write-path re-filter is what keeps erasure durable then.
    record_erased_key(root, key)
    _recover_swaps(root)
    if not any(d.startswith("batch_id=") for d in os.listdir(root)):
        return []
    log = spark.read.option("basePath", root).parquet(root)
    dirty = sorted(
        int(r["batch_id"])
        for r in log.filter(F.col("key") == key).select("batch_id").distinct().collect()
    )
    for bid in dirty:
        part = os.path.join(root, f"batch_id={bid}")
        kept = spark.read.parquet(part).filter(F.col("key") != key).localCheckpoint()
        _swap_partition(root, bid, kept)
    return dirty


def erase_key_from_dlq(spark: SparkSession, dlq_dir: str, table: str, key: str) -> int:
    """Drop corrupt raw records that mention the serialized key
    (best-effort: corrupt rows have no parsed columns). Returns the
    number of records dropped."""
    root = os.path.join(dlq_dir, table)
    record_erased_key(root, key)
    _recover_swaps(root)
    if not any(d.startswith("batch_id=") for d in os.listdir(root)):
        return 0
    raw = spark.read.option("basePath", root).parquet(root)
    hit = raw.filter(F.col("_corrupt").contains(key))
    n = hit.count()
    if n == 0:
        return 0
    for r in (
        hit.select("batch_id").distinct().collect()
    ):
        bid = int(r["batch_id"])
        part = os.path.join(root, f"batch_id={bid}")
        kept = (
            spark.read.parquet(part)
            .filter(~F.col("_corrupt").contains(key))
            .localCheckpoint()
        )
        _swap_partition(root, bid, kept)
    return n


def erase_key(
    spark: SparkSession,
    base_path: str,
    table: str,
    key: str,
    backend: CommitBackend = DEFAULT_BACKEND,
) -> dict:
    """Full-stack erasure across a CdcPipeline's layout (landing files
    are the PRODUCER'S bucket — out of engine scope, same contract as
    A7 capture). Returns a per-layer report for the audit log."""
    from cdc_demo_spark.streaming.pipeline import BRONZE_NAMESPACES, DLQ_NAMESPACES

    silver = os.path.join(base_path, "silver", table)
    report = {
        "silver": erase_key_from_silver(spark, silver, key, backend),
        # every discovery mode's change log (the namespace list lives
        # with the pipeline, so a new mode is scrubbed by construction)
        "bronze_batches": [
            bid
            for ns in BRONZE_NAMESPACES
            for bid in erase_key_from_bronze(
                spark, os.path.join(base_path, ns), table, key
            )
        ],
        "dlq_records": sum(
            erase_key_from_dlq(spark, os.path.join(base_path, ns), table, key)
            for ns in DLQ_NAMESPACES
        ),
    }
    return report
