"""The user-facing ``Iterator`` — API parity with the reference
(kinesis.go), executed Spark-first.

Mapping (SURVEY.md §2.A):
- ``handle(fn)``          ↔ ``Handle`` (kinesis.go:143-145, A5)
- ``foreach_batch(fn)``   ↔ idiomatic batch-granular handler
- ``set_saver``           ↔ ``SetSaver`` (kinesis.go:242-245)
- ``set_sleep_limit``     ↔ ``SetSleepLimit`` (kinesis.go:247-250, A10)
- ``set_logger``          ↔ ``SetLogger`` (kinesis.go:16-19,238-240, A19)
- ``run(...)``            ↔ ``Run`` (kinesis.go:147-154, A16)
- ``shutdown(timeout)``   ↔ ``Shutdown`` (kinesis.go:221-236, A15)
- ``reconcile()``         ↔ the 20 s monitor pass (kinesis.go:58-98, A13)

Delivery semantics preserved exactly (SURVEY.md §2.A summary):
- per-shard order: records are delivered in sequence order within a shard,
  never ordered across shards;
- at-least-once: checkpoints are written only AFTER the whole trigger's
  handler calls complete (kinesis.go:198-202) — a crash mid-trigger
  replays every shard's batch from that trigger;
- handler errors: log-and-continue, the record is skipped permanently
  (kinesis.go:193-197) — plus a DLQ the reference lacks: handler failures
  are returned from the executors through the delivery action and
  accumulated in ``Iterator.dlq`` on the driver (SURVEY.md §7
  improvement);
- fetch errors: transient source failures are logged, every cursor is
  re-acquired from its in-memory sequence, and consumption continues —
  the reference's iterator-refresh branch (kinesis.go:184-191, A11)
  without its ignored-error nil-deref.

Execution is Spark-shaped and SHARD-COUNT-INDEPENDENT: one trigger issues
the same Spark jobs regardless of how many shards are open — one bounded
fetch covering every open shard (per-shard stats ride back on the same
aggregate; three jobs, plus one schema read on a topology's first fetch)
and one delivery pass over
``repartition(shardId).sortWithinPartitions(shardId, sequenceNumber)``.
The per-shard goroutine fan-out (A12, kinesis.go:131-139) is Spark's
task-per-partition; at hundreds of shards a slow shard delays only its
task, not a driver loop (the round-1 design polled shards serially with
2 driver actions each).
"""

from __future__ import annotations

import logging
import threading
import time
from collections.abc import Callable
from typing import Any, Protocol

from pyspark.sql import DataFrame

from .sequence import Sequence, SequenceSaver, TRIM_HORIZON
from .source import GET_RECORDS_LIMIT, SimulatedShardedSource

DEFAULT_SLEEP_LIMIT = 10.0  # seconds — kinesis.go:257
MONITOR_PERIOD = 20.0  # seconds — kinesis.go:59

Handler = Callable[[Any], None]  # per-record, raise ⇒ skip (A5)
BatchHandler = Callable[[DataFrame, int], None]


class Logger(Protocol):
    """2-method logger, injectable as in the reference (kinesis.go:16-19):
    any object with ``info`` / ``error`` printf-style methods."""

    def info(self, msg: str, *args: Any) -> None: ...

    def error(self, msg: str, *args: Any) -> None: ...


_DEFAULT_LOGGER = logging.getLogger("kinesis_iterator_spark")


def _handler_partition(handler: Handler):
    """Executor-side per-partition applier with the reference's error
    policy (kinesis.go:193-197): log-equivalent, skip, continue — failures
    are YIELDED back (not logged into the void) so the driver can feed the
    DLQ; a plain driver-side list append would be lost in the pickled
    closure."""

    def apply(rows):
        for row in rows:
            try:
                handler(row)
            except Exception as e:  # noqa: BLE001 — handler is user code
                yield (row["sequenceNumber"], str(e))

    return apply


class Iterator:
    """Checkpointed, reshard-aware consumer over a simulated sharded stream."""

    def __init__(
        self,
        source: SimulatedShardedSource,
        default_iterator_type: str = TRIM_HORIZON,
    ) -> None:
        self.source = source
        self.default_iterator_type = default_iterator_type
        self._handler: Handler | None = None
        self._batch_handler: BatchHandler | None = None
        self._saver: SequenceSaver | None = None
        self._logger: Logger = _DEFAULT_LOGGER
        self._sleep_limit = DEFAULT_SLEEP_LIMIT
        self._fetch_limit = GET_RECORDS_LIMIT
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._error: BaseException | None = None
        self._epoch = 0
        self._last_poll_error = False
        self._last_poll_at_tail = False
        self._shards: dict[str, dict] = {}  # shard_id → cursor
        self._sequences: dict[str, Sequence] = {}
        self.dlq: list[tuple[str, str]] = []
        self.records_delivered = 0

    # -- configuration (fluent, as in the reference) ------------------------

    def handle(self, handler: Handler) -> "Iterator":
        """Per-record handler (A5). Runs on executors; must be picklable."""
        self._handler = handler
        return self

    def foreach_batch(self, fn: BatchHandler) -> "Iterator":
        """Batch-granular handler — the idiomatic Spark form of A5."""
        self._batch_handler = fn
        return self

    def set_saver(self, saver: SequenceSaver) -> "Iterator":
        self._saver = saver
        return self

    def set_logger(self, logger: Logger) -> "Iterator":
        """Inject a logger (A19, kinesis.go:238-240); the default is the
        stdlib ``kinesis_iterator_spark`` logger. Propagated to each
        shard's Sequence like the reference does (sequence.go:91-93)."""
        self._logger = logger
        for seq in self._sequences.values():
            seq.logger = logger
        return self

    def set_sleep_limit(self, seconds: float) -> "Iterator":
        """Poll interval (A10; default 10 s as kinesis.go:257)."""
        self._sleep_limit = seconds
        return self

    def set_fetch_limit(self, n: int) -> "Iterator":
        """Per-poll record cap (A3; 1000 as kinesis.go:182)."""
        self._fetch_limit = n
        return self

    @property
    def failed(self) -> bool:
        """True if the background consumption loop died (see ``run``)."""
        return self._error is not None

    # -- shard lifecycle -----------------------------------------------------

    def _start_shards(self) -> None:
        """doHandle (kinesis.go:114-141): list shards, init a cursor +
        checkpoint-backed sequence per shard (A1/A2/A8)."""
        for shard_id in self.source.list_shards():
            if shard_id in self._shards:
                continue
            seq = Sequence(
                self.source.stream_name, shard_id, self._saver,
                logger=self._logger,
            ).init()
            self._sequences[shard_id] = seq
            self._shards[shard_id] = self._cursor_for(shard_id)

    def _cursor_for(self, shard_id: str) -> dict:
        """Build a cursor from the shard's sequence state: resume AFTER the
        checkpoint iff one exists (A2), else the default position."""
        seq = self._sequences[shard_id]
        cursor = self.source.shard_cursor(shard_id)
        if seq.init_query(self.default_iterator_type)["iterator_type"] == (
            "AFTER_SEQUENCE_NUMBER"
        ):
            cursor = self.source.advance(cursor, seq.sequence)
        return cursor

    def _refresh_cursors(self) -> None:
        """A11 (kinesis.go:184-191): after a fetch error, re-acquire every
        open shard's iterator from its in-memory sequence and carry on —
        at-least-once, same as the reference's refresh (minus its
        swallowed GetShardIterator error)."""
        for shard_id in list(self._shards):
            self._shards[shard_id] = self._cursor_for(shard_id)

    def reconcile(self) -> None:
        """One monitor pass (A13, kinesis.go:58-98): if the stream is ACTIVE
        and no shard readers are live, (re-)list shards — this is how
        post-reshard children get picked up; if not ACTIVE, stop readers."""
        summary = self.source.describe_stream_summary()
        if summary["StreamStatus"] == "ACTIVE" and not self._shards:
            self._start_shards()
        elif summary["StreamStatus"] != "ACTIVE" and self._shards:
            self._stop_all_shards()

    def _stop_all_shards(self) -> None:
        """A14 (kinesis.go:216-219)."""
        self._shards.clear()

    def _close_shard(self, shard_id: str) -> None:
        """A9 (kinesis.go:204-210): drop the reader and delete its
        checkpoint so the child shards start from TRIM_HORIZON."""
        self._shards.pop(shard_id, None)
        seq = self._sequences.pop(shard_id, None)
        if seq is not None:
            seq.stop()

    # -- consumption ---------------------------------------------------------

    def poll_once(self) -> int:
        """One trigger: ONE bounded fetch across every open shard, ONE
        delivery action, then per-shard checkpoints. Returns records
        delivered. The fetch costs three Spark jobs (one more on a
        topology's first fetch) and the delivery adds the handler's own;
        neither depends on shard count.

        Fetch errors take the A11 path: log, re-acquire cursors from the
        in-memory sequences, return 0 — the next trigger retries."""
        self._last_poll_error = False
        self._last_poll_at_tail = False
        try:
            fetch = self.source.get_records_all(self._shards, self._fetch_limit)
        except Exception as e:  # noqa: BLE001 — source/transport errors
            self._logger.error("fetch error (will refresh cursors): %s", e)
            self._refresh_cursors()
            self._epoch += 1
            self._last_poll_error = True
            return 0

        # Everything from here until delivery completes sits under ONE
        # try/finally owning the persisted trigger batch: if closed-shard
        # handling (seq.stop can raise on a failing saver) or delivery
        # dies, the cached batch must not outlive the trigger.
        try:
            for shard_id in fetch.closed:
                self._close_shard(shard_id)
            # A bounded fetch that returns FEWER than `limit` records for a
            # shard proves that shard's cursor sat at its tail at fetch time
            # (the row_number cap didn't bite). When that holds for every open
            # shard — and no reshard closed shards this poll (children may
            # hold unread data) — the poll observed the whole stream drained.
            # run_until_drained uses this to skip its confirming empty polls;
            # the live run() loop ignores it (a live shard can refill).
            self._last_poll_at_tail = not fetch.closed and all(
                fetch.counts.get(sid, 0) < self._fetch_limit
                for sid in self._shards
            )
            if not fetch.tails:
                self._epoch += 1
                return 0  # empty poll

            batch = (
                fetch.records.repartition(
                    max(len(fetch.tails), 1), "shardId"
                ).sortWithinPartitions("shardId", "sequenceNumber")
            )
            if self._batch_handler is not None:
                self._batch_handler(batch, self._epoch)
            if self._handler is not None:
                # Executor-side record-at-a-time delivery in per-shard
                # order; the same action carries handler failures back
                # for the DLQ.
                failures = batch.rdd.mapPartitions(
                    _handler_partition(self._handler)
                ).collect()
                for seq_no, err in failures:
                    self._logger.error(
                        "handler error on sequence %s: %s", seq_no, err
                    )
                self.dlq.extend(failures)
        finally:
            # The source persisted the trigger's batch (it served both the
            # fetch-stats action and the delivery above); its lifetime is
            # exactly this trigger.
            fetch.records.unpersist(blocking=False)

        # Checkpoint AFTER the whole trigger's handler work — at-least-once
        # (kinesis.go:198-202). Raises loudly on persistent failure.
        delivered = 0
        for shard_id, tail in fetch.tails.items():
            self._sequences[shard_id].store(tail)
            self._shards[shard_id] = self.source.advance(
                self._shards[shard_id], tail
            )
            delivered += fetch.counts[shard_id]
        self._epoch += 1
        self.records_delivered += delivered
        return delivered

    def run_until_drained(self, max_polls: int = 1000) -> int:
        """Synchronous consumption to exhaustion (test/bench entry): poll
        until every shard returns empty twice. Returns records delivered."""
        self._start_shards()
        total = 0
        idle = 0
        for _ in range(max_polls):
            if self._stop.is_set():
                break
            n = self.poll_once()
            total += n
            # An A11 error poll is a retry, not evidence of a drained
            # stream — only genuinely-empty fetches count toward idleness.
            idle = idle + 1 if (n == 0 and not self._last_poll_error) else 0
            if not self._shards:
                self.reconcile()
                if not self._shards:
                    break
                continue  # fresh post-reshard shards: poll before judging
            # Under-limit fetch on EVERY open shard ⇒ the poll itself
            # observed all cursors at their tails — the stream is drained
            # NOW, no confirming empty polls needed. (The live run() loop
            # deliberately ignores this hint: a live shard can refill.)
            if self._last_poll_at_tail:
                break
            if idle >= 2:
                break
        return total

    def run(self) -> "Iterator":
        """Non-blocking start (A16): consumption loop + monitor cadence in a
        daemon thread, polling every ``sleep_limit`` seconds. An exception
        escaping the loop (e.g. exhausted checkpoint retries) is recorded
        and re-raised from ``shutdown`` — a dead consumer must not look
        healthy (``failed`` exposes it without joining)."""
        self._stop.clear()
        self._error = None
        self._start_shards()

        def loop() -> None:
            try:
                last_monitor = time.monotonic()
                while not self._stop.is_set():
                    self.poll_once()
                    if time.monotonic() - last_monitor >= MONITOR_PERIOD:
                        self.reconcile()
                        last_monitor = time.monotonic()
                    self._stop.wait(self._sleep_limit)
            except BaseException as e:  # noqa: BLE001 — surfaced in shutdown
                self._error = e
                self._logger.error("consumption loop died: %s", e)

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()
        return self

    def shutdown(self, timeout: float = 30.0) -> None:
        """Graceful stop with timeout (A15, kinesis.go:221-236): signal,
        drain, raise on timeout (the reference returns an error). If the
        loop died earlier, its exception is re-raised here."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout)
            if self._thread.is_alive():
                raise TimeoutError(f"shutdown timed out after {timeout}s")
            self._thread = None
        if self._error is not None:
            err, self._error = self._error, None
            raise RuntimeError("consumption loop failed") from err
