"""Incremental materialized aggregate view (log-structured rollup).

The silver merge (merge.py) maintains the *latest row image* per key;
this module maintains a *running aggregate* per group — the other
materialization a CDC consumer wants (the reference's reporting dataset
exists precisely to serve aggregates over the replicated tables,
/root/reference/main.tf:188-195 "Reporting data from the CloudSQL
menagerie DB").

Design — append partial aggregates, merge on read, compact on demand:

- ``apply_batch(batch_df, batch_id)`` reduces the micro-batch to ONE
  partial-aggregate row per group (count + decimal sums — the classic
  commutative-monoid trick, so partials merge associatively) and
  overwrites the partition directory ``batch_id=N``.  Overwrite makes
  replays of the same micro-batch (foreachBatch is at-least-once)
  byte-idempotent: re-running batch N cannot double-count.
- ``read()`` unions the compacted base with all partial dirs newer
  than the base's ``merged_through`` watermark and re-aggregates.
  Read cost is O(groups × partial dirs), never O(events) — the whole
  point of a rollup.
- ``compact()`` folds partials into a new base version and commits it
  with the same optimistic-CAS manifest pattern merge.py uses (the
  storage backend's put-if-absent, losers raise); uncommitted
  compactions are invisible.

100 TB story: each micro-batch shuffles only its own partial groups;
the stored state is one row per group per un-compacted batch.  Group
cardinality, not event volume, bounds every read and compaction.  A
cluster deployment swaps the local-fs manifest for an object-store
conditional put — the commit protocol is the same.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_demo_spark.storage import DEFAULT_BACKEND
from cdc_demo_spark.streaming.merge import ConcurrentCommitError

DEC = "decimal(38,6)"


class IncrementalRollup:
    """Running (count, sum) aggregate per group key, maintained
    incrementally from micro-batches and merged on read."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_cols: list[str],
        value_col: str,
    ) -> None:
        self.spark = spark
        self.path = path
        self.group_cols = list(group_cols)
        self.value_col = value_col
        os.makedirs(os.path.join(path, "partials"), exist_ok=True)

    # -- write side --------------------------------------------------

    def _partial(self, df: DataFrame) -> DataFrame:
        return df.groupBy(*self.group_cols).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col(self.value_col).cast(DEC)).alias("val_sum"),
        )

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Idempotent: overwriting ``batch_id=N`` makes an at-least-once
        replay of the same micro-batch a no-op."""
        dst = os.path.join(self.path, "partials", f"batch_id={int(batch_id)}")
        self._partial(batch_df).coalesce(1).write.mode("overwrite").parquet(dst)

    # -- manifest (same put-if-absent CAS commit as merge.py) -------

    def _manifest(self) -> dict | None:
        best = None
        for name in os.listdir(self.path):
            if name.startswith("_rollup.v") and name.endswith(".json"):
                n = int(name[len("_rollup.v") : -len(".json")])
                if best is None or n > best[0]:
                    best = (n, name)
        if best is None:
            return None
        with open(os.path.join(self.path, best[1])) as f:
            m = json.load(f)
        m["version"] = best[0]
        return m

    def _commit(self, manifest: dict) -> None:
        new_version = int(manifest.get("version", 0)) + 1
        manifest = {**manifest, "version": new_version}
        dst = os.path.join(self.path, f"_rollup.v{new_version}.json")
        if not DEFAULT_BACKEND.put_if_absent(dst, json.dumps(manifest).encode()):
            raise ConcurrentCommitError(
                f"rollup version {new_version} already committed"
            )

    # -- read side ---------------------------------------------------

    def _partial_ids(self) -> list[int]:
        pdir = os.path.join(self.path, "partials")
        out = []
        for name in os.listdir(pdir):
            if name.startswith("batch_id="):
                out.append(int(name.split("=", 1)[1]))
        return sorted(out)

    def _merge(self, parts: list[DataFrame]) -> DataFrame:
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df.groupBy(*self.group_cols).agg(
            F.sum("cnt").alias("cnt"), F.sum("val_sum").alias("val_sum")
        )

    def read(self) -> DataFrame:
        """Current rollup = compacted base ⊕ newer partials."""
        m = self._manifest()
        merged_through = m["merged_through"] if m else -1
        parts = []
        if m:
            parts.append(
                self.spark.read.parquet(os.path.join(self.path, m["base"]))
            )
        for bid in self._partial_ids():
            if bid > merged_through:
                parts.append(
                    self.spark.read.parquet(
                        os.path.join(self.path, "partials", f"batch_id={bid}")
                    )
                )
        if not parts:
            raise FileNotFoundError(f"rollup at {self.path} has no state")
        return self._merge(parts)

    # -- maintenance -------------------------------------------------

    def compact(self) -> None:
        """Fold all partials into a new base version; readers switch
        atomically at manifest commit, and a crash before the commit
        leaves only an invisible orphan directory."""
        ids = self._partial_ids()
        if not ids:
            return
        merged = self.read()
        base_name = f"base-{uuid.uuid4().hex[:8]}"
        merged.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self.path, base_name)
        )
        m = self._manifest() or {"version": 0}
        self._commit(
            {
                "version": m.get("version", 0),
                "base": base_name,
                "merged_through": max(ids),
            }
        )


def rollup_sink(rollup: IncrementalRollup):
    """foreachBatch adapter: ``writeStream.foreachBatch(rollup_sink(r))``."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rollup.apply_batch(batch_df, batch_id)

    return process
