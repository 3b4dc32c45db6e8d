"""The stream record model (SURVEY.md §1.1).

Mirrors the reference's ``types.Record`` (consumed at kinesis.go:34,193):
``Data []byte`` + ``PartitionKey`` + ``SequenceNumber`` +
``ApproximateArrivalTimestamp``, plus stream/shard provenance — the exact
column set Kinesis connectors for Spark expose.

Shard assignment is ``user_id % n_shards`` (deterministic, cross-engine —
Kinesis itself hashes the partition key; the modulus keeps the simulated
topology reproducible and oracle-checkable). Sequence numbers are the
zero-padded ``event_id`` — monotonic per shard, as Kinesis guarantees per
shard (kinesis.go:199 checkpoints them as opaque ordered strings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RECORD_SCHEMA = (
    "data binary, partitionKey string, sequenceNumber string, "
    "approximateArrivalTimestamp timestamp, streamName string, shardId string"
)

SEQ_PAD = 12


def shard_no_col(user_id: F.Column, n_shards: int) -> F.Column:
    """The shard number: position of the row's shard in ``list_shards``."""
    return user_id % n_shards


def shard_id_col(user_id: F.Column, n_shards: int) -> F.Column:
    return F.concat(
        F.lit("shardId-"),
        F.lpad(shard_no_col(user_id, n_shards).cast("string"), 12, "0"),
    )


def record_columns(stream_name: str, n_shards: int) -> list[F.Column]:
    """The record schema's columns as expressions over the events fixture."""
    return [
        F.encode("props", "UTF-8").alias("data"),
        F.col("user_id").cast("string").alias("partitionKey"),
        F.lpad(F.col("event_id").cast("string"), SEQ_PAD, "0").alias(
            "sequenceNumber"
        ),
        F.col("ts").alias("approximateArrivalTimestamp"),
        F.lit(stream_name).alias("streamName"),
        shard_id_col(F.col("user_id"), n_shards).alias("shardId"),
    ]


def to_records(
    events: DataFrame, stream_name: str = "events", n_shards: int = 8
) -> DataFrame:
    """events fixture → stream-record DataFrame (the simulated wire format)."""
    return events.select(*record_columns(stream_name, n_shards))
