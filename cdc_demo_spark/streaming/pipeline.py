"""The continuous replication pipeline (A8-A13, B6-B7, B41-B47).

Topology (1:1 with the reference, /root/reference/README.md:10-28):

    landing dir (change-event JSON files)       <- GCS bucket
      -> readStream file source                 <- Pub/Sub-notified Dataflow
           |- malformed records -> DLQ parquet  <- deadLetterQueueDirectory
           |- all good events   -> bronze parquet (append-only staging)
           `- foreachBatch: dedup + merge_into_silver per table
                                                <- staging->replica MERGE

Design notes:
- The file source's directory listing subsumes the reference's
  OBJECT_FINALIZE -> Pub/Sub notification chain (main.tf:163-181): both
  exist to discover new files; listing is exact-once via the
  checkpointed file log.
- foreachBatch is at-least-once: a crash between a sink write and the
  checkpoint commit replays the batch. Every sink write here is
  IDEMPOTENT per batch_id — bronze and the DLQ overwrite their own
  `batch_id=N` partition (a replay rewrites the same data in place),
  and the silver merge is idempotent by (ts, seq) — so replays cannot
  duplicate rows in any sink. Within a batch, ``dropDuplicates`` on
  (table, key, seq) collapses redelivered events (B44); cross-batch
  redelivery is absorbed by the merge's (ts, seq) winner rule.
- ``Trigger.AvailableNow`` drains everything then stops — deterministic
  for tests, also the right shape for cron-style incremental runs.
- checkpointLocation makes restarts resume from the file log (B47) —
  asserted by the kill/restart test.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cdc_demo_spark.schemas import envelope_schema
from cdc_demo_spark.streaming.merge import merge_into_silver

# Every change-log / DLQ namespace any discovery mode writes, relative
# to a pipeline base dir. Erasure iterates THIS list — adding a
# discovery mode here keeps right-to-be-forgotten complete by
# construction instead of by remembering to edit erasure.py.
BRONZE_NAMESPACES = ("bronze", "bronze-notified")
DLQ_NAMESPACES = ("dlq", "dlq-notified")


def _drop_erased_keys(df: DataFrame, table_root: str) -> DataFrame:
    """Re-filter a batch against the table's erased-key ledger
    (erasure.record_erased_key): foreachBatch is at-least-once and the
    bronze write is overwrite-per-batch_id, so WITHOUT this a
    checkpoint replay after a GDPR erasure would re-land the erased
    key's envelope rows (ADVICE r6). The ledger holds one entry per
    administrative erasure — isin() against it is trivial."""
    from cdc_demo_spark.streaming.erasure import erased_keys

    keys = erased_keys(table_root)
    if not keys:
        return df
    return df.filter(F.col("key").isNull() | ~F.col("key").isin(keys))


def _drop_erased_corrupt(df: DataFrame, table_root: str) -> DataFrame:
    """The DLQ analog: corrupt blobs have no parsed key, so the ledger
    re-filter uses the same substring predicate as erase_key_from_dlq
    (best-effort by construction, documented there)."""
    from cdc_demo_spark.streaming.erasure import erased_keys

    keys = erased_keys(table_root)
    if not keys:
        return df
    cond = F.lit(False)
    for k in keys:
        cond = cond | F.coalesce(F.col("_corrupt").contains(k), F.lit(False))
    return df.filter(~cond)


class CdcPipeline:
    """One streaming query replicating a set of tables from a landing
    directory of envelope JSON/Avro files into bronze + silver Parquet."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        payloads: dict[str, StructType],
        fmt: str = "json",
        watermark: str = "10 minutes",
        expected_state_bytes: int | dict[str, int] | None = None,
    ) -> None:
        self.spark = spark
        self.base = base_path
        self.payloads = payloads
        self.fmt = fmt
        self.watermark = watermark
        # Bootstrap-time bucket sizing (SCALE.md): silver bucket count
        # is pinned at table creation from expected mature state size
        # (~128 MB/bucket target). int = every table, dict = per-table.
        self.expected_state_bytes = expected_state_bytes
        # Widest envelope: per-table payload structs merged by name. With
        # heterogeneous tables you run one stream per table (same dirs
        # pattern); the tests exercise the per-table layout.
        os.makedirs(self.landing_dir, exist_ok=True)

    # --- paths ------------------------------------------------------------
    @property
    def landing_dir(self) -> str:
        return os.path.join(self.base, "landing")

    @property
    def bronze_dir(self) -> str:
        return os.path.join(self.base, BRONZE_NAMESPACES[0])

    @property
    def dlq_dir(self) -> str:
        return os.path.join(self.base, DLQ_NAMESPACES[0])

    def silver_dir(self, table: str) -> str:
        return os.path.join(self.base, "silver", table)

    def checkpoint_dir(self, name: str) -> str:
        return os.path.join(self.base, "checkpoints", name)


    def _state_hint(self, table: str) -> int | None:
        e = self.expected_state_bytes
        return e.get(table) if isinstance(e, dict) else e

    # --- the stream -------------------------------------------------------
    def _source(self, table: str) -> DataFrame:
        """Streaming file source over the table's landing subdir, with
        corrupt-record capture (A13). fmt='json' parses with Spark's
        JSON reader; fmt='avro' streams the reference's preferred
        format (README.md:168) via the binaryFile streaming source +
        the engine's container codec — same checkpointed exactly-once
        file listing either way."""
        if self.fmt == "avro":
            return self._avro_source(table)
        schema = envelope_schema(self.payloads[table]).add("_corrupt", "string", True)
        reader = (
            self.spark.readStream.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .option("maxFilesPerTrigger", "64")  # bound micro-batch size
        )
        return reader.json(os.path.join(self.landing_dir, table))

    def _decode_schema_and_fn(self, table: str):
        """(schema, mapInPandas fn) for per-file Avro container decode:
        a file that fails to decode becomes ONE row with `_corrupt` set
        (path + error) and NULL envelope fields, so the DLQ branch
        (A13) sees it like any malformed JSON record.  Shared by the
        streaming binaryFile source and the notified batch read."""
        import pandas as pd

        from pyspark.sql.types import StructField, StructType

        from cdc_demo_spark.sources import avro_codec as AC

        # all-nullable variant of the envelope: a corrupt file emits one
        # row of NULL envelope fields + _corrupt, split off downstream
        schema = StructType(
            [
                StructField(f.name, f.dataType, True)
                for f in envelope_schema(self.payloads[table]).fields
            ]
        ).add("_corrupt", "string", True)
        names = [f.name for f in schema.fields if f.name != "_corrupt"]

        def decode(batches):
            for pdf in batches:
                for path, content in zip(pdf["path"], pdf["content"]):
                    try:
                        _, recs = AC.read_container(bytes(content))
                    except Exception as e:  # noqa: BLE001 - any decode failure -> DLQ
                        yield pd.DataFrame(
                            [{**{n: None for n in names}, "_corrupt": f"{path}: {e}"}]
                        )
                        continue
                    if recs:
                        out = {n: [r.get(n) for r in recs] for n in names}
                        out["_corrupt"] = [None] * len(recs)
                        yield pd.DataFrame(out)

        return schema, decode

    def _avro_source(self, table: str) -> DataFrame:
        """Streaming Avro envelopes: binaryFile streaming source (one
        row per container file, checkpoint-listed) -> per-file decode
        in mapInPandas (see _decode_schema_and_fn)."""
        schema, decode = self._decode_schema_and_fn(table)
        files = (
            self.spark.readStream.format("binaryFile")
            # binaryFile's schema is fixed, but streaming sources demand
            # it be declared explicitly
            .schema(
                "path string, modificationTime timestamp, length long, content binary"
            )
            .option("pathGlobFilter", "*.avro")
            .option("maxFilesPerTrigger", "64")
            .load(os.path.join(self.landing_dir, table))
            .select("path", "content")
        )
        return files.mapInPandas(decode, schema=schema)

    def _sink(self, events: DataFrame, batch_id: int, table: str) -> None:
        """THE foreachBatch sink of every drive mode: one micro-batch of
        parsed envelopes (with `_corrupt`) -> DLQ, bronze, silver."""
        # Cache: the batch feeds three sinks; without it each sink
        # would re-read the files.
        events = events.cache()
        # Dead-letter queue: records the reader could not bind to the
        # envelope schema (A13). Idempotent per batch: a replayed batch
        # overwrites its own partition instead of appending duplicates.
        bad = _drop_erased_corrupt(
            events.filter(F.col("_corrupt").isNotNull()),
            os.path.join(self.dlq_dir, table),
        )
        if bad.limit(1).count() > 0:
            bad.select("_corrupt").write.mode("overwrite").parquet(
                os.path.join(self.dlq_dir, table, f"batch_id={batch_id}")
            )
        good = _drop_erased_keys(
            events.filter(F.col("_corrupt").isNull()).drop("_corrupt"),
            os.path.join(self.bronze_dir, table),
        )
        # Bronze: immutable change log (A11), one partition per batch so
        # at-least-once replays rewrite in place (the append-mode
        # version duplicated events on crash-replay).
        good.write.mode("overwrite").parquet(
            os.path.join(self.bronze_dir, table, f"batch_id={batch_id}")
        )
        # Redelivery dedup within batch scope (B44): same (table,key,seq)
        # delivered twice is one event. Cross-batch redelivery is
        # handled by the merge's (ts,seq) idempotency.
        good = good.dropDuplicates(["table", "key", "seq"])
        # Silver: latest-image merge (A12).
        merge_into_silver(
            self.spark, good, self.silver_dir(table), table,
            expected_state_bytes=self._state_hint(table),
        )
        events.unpersist()

    def run_available_now(self, table: str) -> None:
        """Drain all pending files for `table` through bronze + silver,
        then stop (deterministic; restartable via the checkpoint)."""
        q = (
            self._source(table)
            .writeStream.foreachBatch(lambda df, bid: self._sink(df, bid, table))
            .option("checkpointLocation", self.checkpoint_dir(table))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # --- continuous variant (same plan, processing-time trigger) ----------
    def start_continuous(self, table: str, interval: str = "5 seconds"):
        return (
            self._source(table)
            .writeStream.foreachBatch(lambda df, bid: self._sink(df, bid, table))
            .option("checkpointLocation", self.checkpoint_dir(table))
            .trigger(processingTime=interval)
            .start()
        )


class NotifiedCdcPipeline(CdcPipeline):
    """A9 implemented, not just subsumed: notification-driven file
    discovery (/root/reference/main.tf:163-181 — the bucket's
    OBJECT_FINALIZE -> Pub/Sub chain the reference's Dataflow job
    subscribes to).

    The plain CdcPipeline discovers work by LISTING the landing
    directory — exact-once and fine at demo scale, but at a 100 TB
    bucket with millions of landed objects the per-trigger list is the
    dominant (and billable) cost; that is precisely why the reference
    provisions the notification chain instead of polling.  Here the
    analog is a NOTIFICATION LOG: the producer appends small JSON files
    of {"path": ...} records (one per landed object — the
    OBJECT_FINALIZE message shape) under ``notifications/<table>/``,
    and the stream reads THAT dir — whose size tracks the arrival
    rate, not the bucket's history.  Landed data files are opened by
    explicit path; the landing dir itself is NEVER listed.

    Exactly-once composition (same guarantees as the listing source):
    - the notification stream's checkpointed file log gives each
      notification file at-most-once delivery to foreachBatch;
    - a redelivered PATH (producer retry writing a second notification
      for the same object) is absorbed downstream: per-batch
      dropDuplicates on (table, key, seq) and the silver merge's
      (ts, seq) winner rule — the same two layers that absorb
      redelivered EVENTS;
    - bronze/DLQ stay idempotent per batch_id (overwrite-in-place on
      replay).

    A notification for a path that does not (yet) exist raises the
    batch — producers must write data before its notification, the
    same happens-before GCS guarantees OBJECT_FINALIZE fires after the
    object is durable."""

    # The notified stream has its OWN batch-id sequence (independent
    # checkpoint), so its bronze/DLQ live in a separate namespace: the
    # r6 review caught that sharing the listing pipeline's dirs would
    # let notified batch 0 overwrite-in-place the listing run's bronze
    # batch_id=0 — silently destroying part of the immutable change
    # log. One discovery mode per layout is the sane deployment; the
    # namespace split makes mixing them safe anyway (both converge on
    # the same silver via (ts, seq)).
    @property
    def bronze_dir(self) -> str:
        return os.path.join(self.base, BRONZE_NAMESPACES[1])

    @property
    def dlq_dir(self) -> str:
        return os.path.join(self.base, DLQ_NAMESPACES[1])

    def notif_dir(self, table: str) -> str:
        return os.path.join(self.base, "notifications", table)

    def notify(self, table: str, paths: list[str]) -> None:
        """Producer side of the contract: append one notification file
        covering `paths` (the test/demo stand-in for the bucket's
        notification service)."""
        import json as _json
        import uuid as _uuid

        d = self.notif_dir(table)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{_uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            for p in paths:
                f.write(_json.dumps({"path": p}) + "\n")
        os.rename(tmp, os.path.join(d, f"notif-{_uuid.uuid4().hex}.json"))

    def run_notified_available_now(self, table: str) -> None:
        """Drain all pending NOTIFICATIONS (not the landing dir) through
        the same DLQ/bronze/silver path as run_available_now. Parses
        both envelope formats the reference lands (README.md:168 Avro,
        :202 json): notified objects are opened BY PATH with the
        matching decoder — JSON via the PERMISSIVE reader, Avro via a
        binaryFile batch read through the same container-codec decode
        as the streaming source."""
        json_schema = envelope_schema(self.payloads[table]).add(
            "_corrupt", "string", True
        )
        notifs = (
            self.spark.readStream.schema("path string")
            .option("maxFilesPerTrigger", "64")
            .json(self.notif_dir(table))
        )

        def process(batch: DataFrame, batch_id: int) -> None:
            paths = sorted(
                {r["path"] for r in batch.select("path").collect() if r["path"]}
            )
            if not paths:
                return
            missing = [p for p in paths if not os.path.exists(p)]
            if missing:
                raise FileNotFoundError(
                    f"notified objects missing (notification wrote before "
                    f"data was durable?): {missing[:3]}"
                )
            if self.fmt == "avro":
                schema, decode = self._decode_schema_and_fn(table)
                events = (
                    self.spark.read.format("binaryFile")
                    .load(paths)
                    .select("path", "content")
                    .mapInPandas(decode, schema=schema)
                )
            else:
                events = (
                    self.spark.read.schema(json_schema)
                    .option("mode", "PERMISSIVE")
                    .option("columnNameOfCorruptRecord", "_corrupt")
                    .json(paths)
                )
            self._sink(events, batch_id, table)

        q = (
            notifs.writeStream.foreachBatch(process)
            .option("checkpointLocation", self.checkpoint_dir(table + "-notified"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
