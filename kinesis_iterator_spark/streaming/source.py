"""Simulated sharded stream source over the ``events`` fixture.

Plays the role of the Kinesis service in the reference's loop:
- ``list_shards``      → A1 (kinesis.go:121-128) shard discovery; re-listing
  after a reshard returns the new topology (A13, kinesis.go:58-98).
- ``get_records_all``  → A3 (kinesis.go:180-183) bounded fetch from every
  open shard's cursor, in per-shard sequence order; the per-shard tails
  are the next cursors (A4), and cursors of a pre-reshard topology come
  back ``closed`` (A9).

The fetch is a declarative DataFrame slice — filter on (sequence > the
shard's cursor) + per-shard rank ≤ limit — whose cursor set is a literal
array in the plan, indexed by each row's shard number. A fetch costs
THREE Spark jobs whatever the shard count (the window's shuffle, AQE's
TableCacheQueryStage materialising the persisted batch, and the stats
result; the stats aggregate needs no shuffle of its own, since the
batch is already partitioned by shard), plus one parquet
schema-inference job the first time a topology is read
(tests/test_stream_iterator.py pins both counts).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .records import RECORD_SCHEMA, record_columns, shard_no_col

GET_RECORDS_LIMIT = 1000  # kinesis.go:182

_SHARD_NO = "_shard_no"  # the fetch's cursor index; never leaves the source

# A fetched batch leads with the shard id, then the other record columns:
# the column order handlers and sink files have always received.
_BATCH_COLUMNS = ["shardId"] + [
    f.split()[0] for f in RECORD_SCHEMA.split(", ") if f.split()[0] != "shardId"
]


@dataclass
class MultiFetchResult:
    """One trigger's fetch across every open shard (A3×A12 in one plan).

    ``records`` is persisted and clustered by shard: the fetch window's
    exchange hash-partitions it by ``shardId`` and sorts each partition
    by (``shardId``, ``sequenceNumber``), so every shard's rows sit in
    one partition in sequence order. Consumers deliver it as is; a
    ``sortWithinPartitions`` restates the order without an exchange.
    """

    records: DataFrame  # all shards' batches, record schema
    tails: dict[str, str]  # shard_id → highest sequence fetched (∅ if empty)
    counts: dict[str, int]  # shard_id → rows fetched
    closed: list[str]  # shards whose cursors predate the topology (A9)


def _sql_string(s: str | None) -> str:
    """A SQL string literal for ``s`` that needs no escaping: its UTF-8
    bytes as a hex binary literal, cast back to string (folded to a plain
    literal by the optimizer)."""
    if s is None:
        return "CAST(NULL AS STRING)"
    return f"CAST(X'{s.encode().hex()}' AS STRING)"


class SimulatedShardedSource:
    """A 'stream' = the events table sharded by ``user_id % n_shards``.

    Resharding (A13): ``reshard(n)`` re-partitions the key space; shards of
    the old topology immediately read as closed, and ``list_shards``
    returns the children — mirroring a Kinesis split/merge where parent
    shards drain and children appear.

    The stream file is read once per topology: a topology's first fetch
    resolves its schema and file listing, and later fetches reuse them
    until a ``reshard`` changes the shard count. The file must therefore
    not be rewritten while a source is open; point a new source at a
    changed stream.
    """

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        stream_name: str = "events",
        n_shards: int = 8,
        status: str = "ACTIVE",
    ) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.stream_name = stream_name
        self.n_shards = n_shards
        self.status = status
        self._generation = 0
        # (n_shards, record frame), resolved on a topology's first fetch
        self._rec: tuple[int, DataFrame] | None = None

    # -- control-plane ------------------------------------------------------

    def describe_stream_summary(self) -> dict:
        """DescribeStreamSummary analogue (kinesis.go:60-66)."""
        return {
            "StreamName": self.stream_name,
            "StreamStatus": self.status,
            "OpenShardCount": self.n_shards,
        }

    def list_shards(self) -> list[str]:
        """A1: current shard ids."""
        return [f"shardId-{i:012d}" for i in range(self.n_shards)]

    def reshard(self, n_shards: int) -> None:
        """Split/merge: new topology; old-generation cursors read closed."""
        self.n_shards = n_shards
        self._generation += 1

    def shard_cursor(self, shard_id: str) -> dict:
        """An opaque cursor = (generation, shard, last_sequence)."""
        return {"generation": self._generation, "shard_id": shard_id, "after": None}

    # -- data-plane ---------------------------------------------------------

    def _records(self, n_shards: int) -> DataFrame:
        """The record frame plus each row's shard number (``_SHARD_NO``),
        built once per topology: ``events`` has no pinned schema, so every
        fresh read of it runs a schema-inference job. Keyed on the shard
        count rather than cleared by ``reshard``, so a fetch racing a
        reshard (``Iterator.run`` polls from its own thread) cannot leave
        the old topology's frame behind."""
        if self._rec is None or self._rec[0] != n_shards:
            from ..tables import load_table  # handles the NANOS fixup

            ev = load_table(self.spark, self.sf_dir, "events")
            rec = ev.select(
                *record_columns(self.stream_name, n_shards),
                shard_no_col(F.col("user_id"), n_shards).alias(_SHARD_NO),
            )
            self._rec = (n_shards, rec)
        return self._rec[1]

    def get_records_all(
        self, cursors: dict[str, dict], limit: int = GET_RECORDS_LIMIT
    ) -> MultiFetchResult:
        """One bounded fetch covering EVERY open shard (the scale form of
        A3): the cursor set enters the plan as one literal array of
        per-shard ``after`` sequences indexed by the row's shard number —
        an O(1) lookup per row at any shard count — the per-shard
        row_number caps each shard at ``limit``, and the per-shard tail
        sequence + row count come back from a single aggregate — one Spark
        action total, versus one-fetch-plus-two-actions per shard in the
        naive loop. At hundreds of shards this is the difference between a
        trigger and a driver-side crawl.

        Shards whose cursor generation predates a reshard are reported in
        ``closed`` without touching Spark (driver-side metadata, as
        ListShards would be)."""
        closed = [
            sid
            for sid, c in cursors.items()
            if c["generation"] != self._generation
        ]
        closed_set = set(closed)
        live = {sid: c for sid, c in cursors.items() if sid not in closed_set}
        if not live:
            empty = self.spark.createDataFrame([], RECORD_SCHEMA).select(
                *_BATCH_COLUMNS
            )
            return MultiFetchResult(empty, {}, {}, closed)

        # sequenceNumber is zero-padded, so "" orders before every real
        # sequence — a None cursor ("start of shard") becomes the empty
        # string and the predicate stays a single comparison. A shard
        # without a live cursor gets NULL, so its rows compare NULL and
        # drop out. One SQL string keeps the literal one py4j call.
        shards = self.list_shards()
        afters = ", ".join(
            _sql_string((live[sid]["after"] or "") if sid in live else None)
            for sid in shards
        )
        after = F.get(F.expr(f"array({afters})"), F.col(_SHARD_NO))
        rec = (
            self._records(len(shards))
            .filter(F.col("sequenceNumber") > after)
            .select(*_BATCH_COLUMNS)
        )
        w = W.partitionBy("shardId").orderBy("sequenceNumber")
        # Persist the batch for the trigger's lifetime: it is consumed
        # TWICE (the stats aggregate below, then the caller's delivery
        # action), and without the mark each consumer re-runs the whole
        # scan→filter→window lineage. The stats collect populates the
        # cache; Iterator.poll_once unpersists as soon as the trigger's
        # DELIVERY work finishes (before the checkpoint loop, which only
        # touches driver-side tails — nothing may consume the cached
        # batch after delivery).
        batch = (
            rec.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= limit)
            .drop("_rn")
            .persist()
        )
        try:
            stats = (
                batch.groupBy("shardId")
                .agg(
                    F.max("sequenceNumber").alias("tail"),
                    F.count("*").alias("n"),
                )
                .collect()
            )
        except Exception:
            # A failed fetch takes the caller's A11 retry path; don't
            # leave the trigger's batch pinned in the cache.
            batch.unpersist(blocking=False)
            raise
        tails = {r["shardId"]: r["tail"] for r in stats}
        counts = {r["shardId"]: r["n"] for r in stats}
        return MultiFetchResult(batch, tails, counts, closed)

    def advance(self, cursor: dict, last_sequence: str) -> dict:
        """NextShardIterator (A4, kinesis.go:203)."""
        return {**cursor, "after": last_sequence}
