"""Continuous replication: CDC envelope -> bronze append -> silver merge.

The Spark-native re-expression of the reference pipeline
(/root/reference/README.md:10-28): change-event files land in a
directory (standing in for the GCS bucket, main.tf:150-155), a
Structured Streaming file source replaces the Pub/Sub-notified Dataflow
job (main.tf:163-181 + README.md:195-206), an append sink is the
staging dataset (README.md:204), a foreachBatch merge is the
replica-table MERGE (README.md:205), and a quarantine sink is the
dead-letter queue (README.md:206).  The reference documents its final
merge hop as broken (README.md:8); this one works and is tested.
"""

from cdc_demo_spark.streaming.merge import merge_into_silver, replay_oracle  # noqa: F401
from cdc_demo_spark.streaming.pipeline import CdcPipeline  # noqa: F401
