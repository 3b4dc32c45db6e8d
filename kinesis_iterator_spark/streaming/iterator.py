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
and one delivery pass over the fetched batch, which arrives clustered by
shard (``MultiFetchResult.records``) and is only sorted within its
partitions. The per-shard goroutine fan-out (A12, kinesis.go:131-139) is
Spark's task-per-partition; at hundreds of shards a slow shard delays
only its task, not a driver loop (the round-1 design polled shards
serially with 2 driver actions each).

One page of prefetch hides the fetch behind delivery, as KCL's
prefetching record publisher does: when a fetch shows a backlog (no
shard closed, some open shard filled its page), the next page — the
same cursors advanced to this page's tails — is fetched on the
Iterator's background thread while this page is delivered and
checkpointed. At most one page is in flight. The next poll takes it only
if its cursors, fetch limit and the source's topology are still the ones
it was fetched for, so it is exactly the page a fresh fetch would
return; otherwise the page is unpersisted and the poll fetches fresh.
Delivery order, at-least-once checkpoints and the A11 refresh (a failed
prefetch surfaces on the poll that takes it) are unchanged.
"""

from __future__ import annotations

import logging
import threading
import time
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor
from typing import Any, Protocol

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame

from .sequence import Sequence, SequenceSaver, TRIM_HORIZON
from .source import GET_RECORDS_LIMIT, MultiFetchResult, SimulatedShardedSource

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


def _unpersist_page(page: Future) -> None:
    """Done-callback of a prefetched page no poll will take: free its
    cached batch (a fetch that raised released its own)."""
    if page.exception() is None:
        page.result().records.unpersist(blocking=False)


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
        # The page in flight: the (cursors, limit, topology) it was
        # fetched for, and its future. Fetched on one background thread.
        self._prefetch: tuple[tuple, Future] | None = None
        self._prefetcher = ThreadPoolExecutor(
            max_workers=1, thread_name_prefix="kinesis-prefetch"
        )

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

    # -- prefetch ------------------------------------------------------------

    def _topology(self) -> tuple:
        """The source's shard ids and their generation (a fresh cursor's);
        a reshard changes it."""
        shards = tuple(self.source.list_shards())
        fresh = self.source.shard_cursor(shards[0]) if shards else {}
        return shards, fresh.get("generation")

    def _launch_prefetch(self, cursors: dict[str, dict]) -> None:
        """Fetch the page at ``cursors`` on the background thread, with
        this thread's Spark job group and local properties."""
        fetch = inheritable_thread_target(self.source.spark)(
            self.source.get_records_all
        )
        key = (cursors, self._fetch_limit, self._topology())
        self._prefetch = (
            key, self._prefetcher.submit(fetch, cursors, self._fetch_limit)
        )

    def _take_prefetch(self) -> MultiFetchResult | None:
        """The page in flight if it was fetched for this poll's cursors,
        fetch limit and topology — waiting for it, and raising what its
        fetch raised. Otherwise release it and return None."""
        if self._prefetch is None:
            return None
        key, page = self._prefetch
        if key != (self._shards, self._fetch_limit, self._topology()):
            self._release_prefetch()
            return None
        self._prefetch = None
        return page.result()

    def _release_prefetch(self) -> None:
        """Drop the page in flight; it is unpersisted once its fetch ends."""
        if self._prefetch is not None:
            self._prefetch[1].add_done_callback(_unpersist_page)
            self._prefetch = None

    # -- consumption ---------------------------------------------------------

    def poll_once(self) -> int:
        """One trigger: ONE bounded fetch across every open shard, ONE
        delivery action, then per-shard checkpoints. Returns records
        delivered. The fetch costs three Spark jobs (one more on a
        topology's first fetch) and the delivery adds the handler's own;
        neither depends on shard count.

        The fetch is the page prefetched by the previous poll when that
        page was fetched for this poll's cursors, fetch limit and
        topology; a page fetched for anything else (cursors a failed
        delivery left unadvanced, a changed limit, a reshard) is released
        and the poll fetches fresh. When this page shows a backlog, the
        next one is fetched while it is delivered (module docstring); a
        delivery or checkpoint that raises releases it.

        Fetch errors take the A11 path: log, re-acquire cursors from the
        in-memory sequences, return 0 — the next trigger retries."""
        self._last_poll_error = False
        self._last_poll_at_tail = False
        try:
            fetch = self._take_prefetch()
            if fetch is None:
                fetch = self.source.get_records_all(self._shards, self._fetch_limit)
        except Exception as e:  # noqa: BLE001 — source/transport errors
            self._logger.error("fetch error (will refresh cursors): %s", e)
            self._refresh_cursors()
            self._epoch += 1
            self._last_poll_error = True
            return 0

        try:
            delivered = self._deliver(fetch)
        except BaseException:
            self._release_prefetch()
            raise
        self._epoch += 1
        self.records_delivered += delivered
        return delivered

    def _deliver(self, fetch: MultiFetchResult) -> int:
        """Close the fetch's closed shards, prefetch the next page on a
        backlog, deliver the batch and checkpoint each shard's tail.
        Returns records delivered."""
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
                return 0  # empty poll
            next_cursors = {
                sid: self.source.advance(c, fetch.tails[sid])
                if sid in fetch.tails else c
                for sid, c in self._shards.items()
            }
            # Some open shard filled its page and none closed: a known
            # backlog, so fetch the next page while this one is delivered.
            # A drain that ends at the tail never launches a wasted fetch.
            if not fetch.closed and not self._last_poll_at_tail:
                self._launch_prefetch(next_cursors)
            batch = fetch.records.sortWithinPartitions("shardId", "sequenceNumber")
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
        for shard_id, tail in fetch.tails.items():
            self._sequences[shard_id].store(tail)
            self._shards[shard_id] = next_cursors[shard_id]
        return sum(fetch.counts.values())

    def run_until_drained(self, max_polls: int = 1000) -> int:
        """Synchronous consumption to exhaustion (test/bench entry): poll
        until every shard returns empty twice. Returns records delivered.
        A page still in flight when it returns is released."""
        self._start_shards()
        total = 0
        idle = 0
        try:
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
        finally:
            self._release_prefetch()
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
        drain, raise on timeout (the reference returns an error). A page
        still in flight is released. If the loop died earlier, its
        exception is re-raised here."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout)
            if self._thread.is_alive():
                raise TimeoutError(f"shutdown timed out after {timeout}s")
            self._thread = None
        self._release_prefetch()
        if self._error is not None:
            err, self._error = self._error, None
            raise RuntimeError("consumption loop failed") from err
