"""Reference-parity semantics tests (SURVEY.md §5.2.2) — each test pins a
cited behavior of the reference (file:line in the docstrings)."""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings, strategies as st

from kinesis_iterator_spark.streaming import (
    InMemorySaver,
    Iterator,
    Sequence,
    SimulatedShardedSource,
)
from kinesis_iterator_spark.streaming.sequence import (
    AFTER_SEQUENCE_NUMBER,
    TRIM_HORIZON,
    FlakySaver,
)

N_EVENTS = 1000  # sf0.001 events rows


def make_source(spark, sf_dir, n_shards=4):
    return SimulatedShardedSource(spark, sf_dir, n_shards=n_shards)


def collect_batches(it: Iterator):
    """Attach a foreach_batch that records (shard, seq) pairs."""
    seen: list[tuple[str, str]] = []

    def fn(df, epoch):
        for r in df.select("shardId", "sequenceNumber").collect():
            seen.append((r["shardId"], r["sequenceNumber"]))

    it.foreach_batch(fn)
    return seen


def _settle(it: Iterator) -> None:
    """Wait until the page the Iterator prefetches, if any, has finished
    (and a released one is unpersisted): it is fetched on the Iterator's
    one background thread, so a no-op queued behind it returns after it."""
    it._prefetcher.submit(lambda: None).result(timeout=120)


def _persisted(spark) -> int:
    """The number of RDDs the SparkContext holds persisted."""
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_consume_all_exactly_once_happy_path(spark, sf_dir):
    """Happy path: every record delivered once, none lost (A1-A6)."""
    it = Iterator(make_source(spark, sf_dir)).set_saver(InMemorySaver())
    seen = collect_batches(it)
    total = it.run_until_drained()
    assert total == N_EVENTS
    assert len(seen) == N_EVENTS
    assert len(set(seen)) == N_EVENTS


def test_per_shard_ordering(spark, sf_dir):
    """Records arrive in sequence order within a shard, never across
    (kinesis.go:131-139,193-197; SURVEY §2.A delivery summary)."""
    it = Iterator(make_source(spark, sf_dir)).set_saver(InMemorySaver())
    it.set_fetch_limit(100)
    seen = collect_batches(it)
    it.run_until_drained()
    per_shard: dict[str, list[str]] = {}
    for shard, seq in seen:
        per_shard.setdefault(shard, []).append(seq)
    assert len(per_shard) == 4
    for shard, seqs in per_shard.items():
        assert seqs == sorted(seqs), f"out-of-order delivery in {shard}"


def test_resume_after_checkpoint(spark, sf_dir):
    """A stopped consumer resumes AFTER the saved sequence — no duplicates,
    no gaps (sequence.go:26-36,83-86 / kinesis.go:164-171)."""
    saver = InMemorySaver()
    src = make_source(spark, sf_dir)

    it1 = Iterator(src).set_saver(saver).set_fetch_limit(150)
    seen1 = collect_batches(it1)
    it1._start_shards()
    it1.poll_once()  # one batch of ≤150/shard, checkpointed

    it2 = Iterator(src).set_saver(saver).set_fetch_limit(150)
    seen2 = collect_batches(it2)
    it2.run_until_drained()

    assert len(seen1) + len(seen2) == N_EVENTS
    assert len(set(seen1) | set(seen2)) == N_EVENTS
    assert not (set(seen1) & set(seen2))


def test_at_least_once_crash_mid_batch_replays(spark, sf_dir):
    """Checkpoint is written AFTER handler completion (kinesis.go:198-202):
    a crash between delivery and checkpoint replays the whole batch —
    at-least-once, duplicates allowed, loss not."""
    saver = InMemorySaver()
    src = make_source(spark, sf_dir)

    it1 = Iterator(src).set_saver(saver).set_fetch_limit(100)
    delivered1: list[tuple[str, str]] = []

    boom = RuntimeError("simulated crash before checkpoint")

    def crashing_batch(df, epoch):
        rows = [
            (r["shardId"], r["sequenceNumber"])
            for r in df.select("shardId", "sequenceNumber").collect()
        ]
        delivered1.extend(rows)
        if epoch == 1:  # second trigger: delivered but never checkpointed
            raise boom

    it1.foreach_batch(crashing_batch)
    it1._start_shards()
    with pytest.raises(RuntimeError):
        while True:
            it1.poll_once()

    it2 = Iterator(src).set_saver(saver).set_fetch_limit(100)
    seen2 = collect_batches(it2)
    it2.run_until_drained()

    union = set(delivered1) | set(seen2)
    assert len(union) == N_EVENTS, "at-least-once violated: records lost"
    assert set(delivered1) & set(seen2), "crash batch should be replayed"


def test_handler_error_skips_record_and_continues(spark, sf_dir):
    """Per-record handler error ⇒ log, skip, keep consuming
    (kinesis.go:193-197). The stream is NOT torn down, the checkpoint
    still advances past the failed record, and — unlike the reference —
    the failure lands in the DLQ (executor → driver via the delivery
    action, not a lost closure-side append)."""
    saver = InMemorySaver()
    it = Iterator(make_source(spark, sf_dir)).set_saver(saver)

    def handler(row):
        if row["sequenceNumber"] == "000000000007":
            raise ValueError("poison record")

    it.handle(handler)
    total = it.run_until_drained()
    assert total == N_EVENTS  # all records fetched & offered
    # checkpoints advanced to each shard's tail despite the poison record
    assert len(saver._data) == 4
    assert it.dlq == [("000000000007", "poison record")]


class FlakySource(SimulatedShardedSource):
    """Test double for A11: the first ``fail_n`` fetches raise."""

    def __init__(self, *args, fail_n: int = 0, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.fail_n = fail_n
        self.fetches = 0

    def get_records_all(self, cursors, limit=1000):
        self.fetches += 1
        if self.fetches <= self.fail_n:
            raise OSError(f"simulated GetRecords failure #{self.fetches}")
        return super().get_records_all(cursors, limit)


def test_fetch_error_refreshes_cursor_and_continues(spark, sf_dir):
    """A11 (kinesis.go:184-191): a transient fetch error is logged, the
    shard iterators are re-acquired from the in-memory sequences, and
    consumption continues — nothing lost, the loop does not die."""
    src = FlakySource(spark, sf_dir, n_shards=4, fail_n=2)
    it = Iterator(src).set_saver(InMemorySaver())
    seen = collect_batches(it)
    total = it.run_until_drained()
    assert src.fetches > 2
    assert total == N_EVENTS
    assert len(set(seen)) == N_EVENTS


def test_fetch_error_resumes_after_checkpoint_not_from_scratch(spark, sf_dir):
    """The A11 refresh must resume AFTER the last checkpoint (the
    reference reuses InitQuery with the in-memory sequence): records
    checkpointed before the error are not redelivered. The failing fetch
    is a prefetched page: its error surfaces on the poll that takes it,
    which logs it, refreshes the cursors and delivers nothing."""
    src = FlakySource(spark, sf_dir, n_shards=4, fail_n=0)
    lg = ListLogger()
    it = (
        Iterator(src).set_saver(InMemorySaver()).set_fetch_limit(100)
        .set_logger(lg)
    )
    seen = collect_batches(it)
    it._start_shards()
    it.poll_once()  # 400 records checkpointed, the next page prefetched
    _settle(it)
    src.fail_n = src.fetches + 1  # the page prefetched next fails once
    assert it.poll_once() == 400  # takes the prefetched page
    assert it.poll_once() == 0  # takes the failed one: error → refresh
    assert it._last_poll_error
    assert any("fetch error" in m for m in lg.errors)
    before = len(seen)
    assert before == 800
    it.run_until_drained()
    assert len(seen) == N_EVENTS
    assert len(set(seen)) == N_EVENTS, "refresh must not replay checkpointed data"


class ListLogger:
    """A19 test double: 2-method logger capturing messages."""

    def __init__(self) -> None:
        self.infos: list[str] = []
        self.errors: list[str] = []

    def info(self, msg, *args):
        self.infos.append(msg % args if args else msg)

    def error(self, msg, *args):
        self.errors.append(msg % args if args else msg)


def test_pluggable_logger_receives_fetch_and_checkpoint_errors(spark, sf_dir):
    """A19 (kinesis.go:16-19,238-240; sequence.go:91-93): an injected
    2-method logger observes both fetch errors (iterator) and checkpoint
    retry failures (sequence)."""
    src = FlakySource(spark, sf_dir, n_shards=4, fail_n=1)
    lg = ListLogger()
    it = (
        Iterator(src)
        .set_saver(FlakySaver(fail_n=1))
        .set_logger(lg)
    )
    it.run_until_drained()
    assert any("fetch error" in m for m in lg.errors)
    assert any("checkpoint write attempt" in m for m in lg.errors)


def test_run_loop_failure_is_reraised_from_shutdown(spark, sf_dir):
    """A dead consumption loop must not look healthy: an exception escaping
    poll_once (here: exhausted checkpoint retries) is recorded, exposed via
    ``failed``, and re-raised from shutdown()."""
    import time as _t

    it = (
        Iterator(make_source(spark, sf_dir))
        .set_saver(FlakySaver(fail_n=99))
        .set_sleep_limit(0.05)
    )
    collect_batches(it)
    it.run()
    deadline = _t.monotonic() + 120
    while not it.failed and _t.monotonic() < deadline:
        _t.sleep(0.1)
    assert it.failed
    with pytest.raises(RuntimeError, match="consumption loop failed"):
        it.shutdown(timeout=60.0)


def test_checkpoint_retry_then_success(spark, sf_dir):
    """Saver failures are retried up to 3 times (sequence.go:55-72,98)."""
    saver = FlakySaver(fail_n=2)
    it = Iterator(make_source(spark, sf_dir)).set_saver(saver)
    total = it.run_until_drained()
    assert total == N_EVENTS
    assert saver.attempts > 2


def test_checkpoint_failure_is_loud():
    """Exhausted retries RAISE (the reference swallows this —
    sequence.go:62-71 bug — we deliberately do not)."""
    seq = Sequence("s", "shard-0", FlakySaver(fail_n=99), retries=3)
    with pytest.raises(RuntimeError, match="checkpoint write failed"):
        seq.store("0001")


def test_init_query_trim_horizon_vs_after_sequence():
    """Cursor init: TRIM_HORIZON by default, AFTER_SEQUENCE_NUMBER iff a
    checkpoint exists (sequence.go:74-89, README.md:5)."""
    saver = InMemorySaver()
    q = Sequence("s", "sh", saver).init().init_query(TRIM_HORIZON)
    assert q == {"iterator_type": TRIM_HORIZON}
    saver.set("s", "sh", "000123")
    q = Sequence("s", "sh", saver).init().init_query(TRIM_HORIZON)
    assert q["iterator_type"] == AFTER_SEQUENCE_NUMBER
    assert q["starting_sequence_number"] == "000123"


def test_reshard_closes_old_shards_and_picks_up_children(spark, sf_dir):
    """Reshard: old shards read closed → checkpoint deleted + reader exits
    (kinesis.go:204-210, sequence.go:51-53); the monitor pass re-lists and
    picks up the children (kinesis.go:84-88). The page prefetched before
    the reshard is discarded, not delivered."""
    saver = InMemorySaver()
    src = make_source(spark, sf_dir, n_shards=4)
    it = Iterator(src).set_saver(saver).set_fetch_limit(50)
    seen = collect_batches(it)
    base = _persisted(spark)
    it._start_shards()
    it.poll_once()
    assert len(saver._data) == 4
    _settle(it)  # the next page is fetched, not yet taken

    src.reshard(8)
    assert it.poll_once() == 0  # every old cursor reads closed → A9 cleanup
    assert not it._shards
    _settle(it)
    assert _persisted(spark) == base, "the discarded page stayed cached"
    assert saver._data == {}, "closed-shard checkpoints must be deleted"

    it.reconcile()  # monitor pass (A13) discovers the 8 children
    assert len(it._shards) == 8
    it.run_until_drained()
    # all records delivered at least once (first 50/shard duplicated)
    assert len({s for s in seen}) >= N_EVENTS - 1


def test_stream_not_active_stops_readers(spark, sf_dir):
    """!ACTIVE && readers>0 ⇒ stopAllShard (kinesis.go:89-93)."""
    src = make_source(spark, sf_dir)
    it = Iterator(src).set_saver(InMemorySaver())
    it._start_shards()
    assert it._shards
    src.status = "UPDATING"
    it.reconcile()
    assert not it._shards


def test_parquet_sink_exactly_once_across_crash(spark, sf_dir, tmp_path):
    """ParquetEpochSink: at-least-once redelivery + batch-keyed idempotent
    overwrite = exactly-once output. Crash after delivery but before
    checkpoint, restart with a FRESH Iterator on the same saver + sink
    root: the replayed trigger rewrites the same batch directory and the
    read-back equals the stream exactly once."""
    from kinesis_iterator_spark.streaming import ParquetEpochSink

    saver = InMemorySaver()
    src = make_source(spark, sf_dir)
    sink = ParquetEpochSink(str(tmp_path / "out"))

    crash_after = 2
    calls = {"n": 0}

    def crashing_sink(df, epoch):
        sink(df, epoch)
        calls["n"] += 1
        if calls["n"] == crash_after:
            raise RuntimeError("crash after write, before checkpoint")

    it1 = Iterator(src).set_saver(saver).set_fetch_limit(100)
    it1.foreach_batch(crashing_sink)
    it1._start_shards()
    with pytest.raises(RuntimeError):
        while True:
            it1.poll_once()

    it2 = Iterator(src).set_saver(saver).set_fetch_limit(100)
    it2.foreach_batch(sink)
    it2.run_until_drained()

    out = sink.read(spark)
    assert out.columns == [
        "shardId", "data", "partitionKey", "sequenceNumber",
        "approximateArrivalTimestamp", "streamName",
    ]
    assert out.count() == N_EVENTS, "exactly-once violated (dupes or loss)"
    assert out.select("sequenceNumber").distinct().count() == N_EVENTS
    # the crash trigger's batch key was written twice — same directory
    assert len(sink.batches_written) > len(set(sink.batches_written))


def test_option_builder_parity(spark, sf_dir):
    """A17 (option.go:10-43): fluent builder → config map + consumer.
    Region/STS ride through to the connector-options map (the sandbox has
    no AWS, so they configure nothing further — same as SURVEY §2.A17)."""
    from kinesis_iterator_spark.streaming import Option, new_iterator

    opt = (
        Option()
        .with_region("us-east-1")
        .with_sts()
        .with_stream_name("events")
        .with_shards(2)
        .with_sf_dir(sf_dir)
    )
    assert opt.get_config() == {
        "streamName": "events",
        "region": "us-east-1",
        "credentialsProfile": "sts",
    }
    it = new_iterator(spark, opt).set_saver(InMemorySaver())
    collect_batches(it)
    assert it.run_until_drained() == N_EVENTS
    assert len(it.source.list_shards()) == 2


def test_graceful_shutdown(spark, sf_dir):
    """Run non-blocking, then shutdown within timeout (kinesis.go:147-154,
    221-236)."""
    it = Iterator(make_source(spark, sf_dir)).set_saver(InMemorySaver())
    collect_batches(it)
    it.set_sleep_limit(0.1)
    it.run()
    it.shutdown(timeout=120.0)
    assert it._thread is None


# -- one page of prefetch -------------------------------------------------------


def test_failed_delivery_releases_prefetched_page_and_refetches(spark, sf_dir):
    """A batch handler raises while the next page is prefetched: the page
    is released, and the next poll fetches again from the cursors the
    failed trigger left unadvanced — the same page, no record skipped."""
    base = _persisted(spark)
    it = Iterator(make_source(spark, sf_dir)).set_saver(InMemorySaver())
    it.set_fetch_limit(100)
    pages: list[list[tuple[str, str]]] = []

    def fn(df, epoch):
        pages.append(sorted(
            (r["shardId"], r["sequenceNumber"])
            for r in df.select("shardId", "sequenceNumber").collect()
        ))
        if len(pages) == 2:
            raise RuntimeError("handler failed")

    it.foreach_batch(fn)
    it._start_shards()
    it.poll_once()
    with pytest.raises(RuntimeError, match="handler failed"):
        it.poll_once()
    assert it._prefetch is None
    _settle(it)
    assert _persisted(spark) == base, "the released page stayed cached"
    assert it.poll_once() == 400
    assert pages[2] == pages[1]
    it.run_until_drained()
    assert len({r for page in pages for r in page}) == N_EVENTS


def test_changed_fetch_limit_discards_prefetched_page(spark, sf_dir):
    """A page prefetched at one fetch limit is not delivered after
    ``set_fetch_limit`` changes it: the poll fetches fresh at the new
    limit."""
    base = _persisted(spark)
    it = Iterator(make_source(spark, sf_dir)).set_saver(InMemorySaver())
    it.set_fetch_limit(100)
    seen = collect_batches(it)
    it._start_shards()
    assert it.poll_once() == 400
    it.set_fetch_limit(50)
    assert it.poll_once() == 200
    assert len(seen) == len(set(seen)) == 600
    it.run_until_drained()
    assert len(seen) == len(set(seen)) == N_EVENTS
    assert _persisted(spark) == base


def test_drain_and_shutdown_release_the_prefetched_page(spark, sf_dir):
    """No page outlives its consumer: the persisted RDD count is back to
    its earlier value after a drain that stopped with a page in flight
    (``max_polls``), after a complete drain, and after ``shutdown`` of a
    live loop that sleeps with a page prefetched."""
    base = _persisted(spark)
    src = make_source(spark, sf_dir)
    it = Iterator(src).set_saver(InMemorySaver()).set_fetch_limit(100)
    collect_batches(it)
    assert it.run_until_drained(max_polls=1) == 400
    _settle(it)
    assert _persisted(spark) == base
    assert it.run_until_drained() == N_EVENTS - 400
    assert _persisted(spark) == base

    live = Iterator(src).set_fetch_limit(100).set_sleep_limit(300)
    live.set_saver(InMemorySaver())
    collect_batches(live)
    live.run()
    deadline = time.monotonic() + 120
    while live.records_delivered == 0 and time.monotonic() < deadline:
        time.sleep(0.05)
    assert live.records_delivered == 400  # sleeping, next page prefetched
    live.shutdown(timeout=120.0)
    assert live._prefetch is None
    _settle(live)
    assert _persisted(spark) == base


def test_drain_submits_the_same_jobs_as_without_prefetch(spark, sf_dir, tmp_path):
    """Prefetch moves fetches to another thread, it adds none: an 8-shard
    drain into ``ParquetEpochSink`` submits one schema read, three jobs
    per page (``largest shard // limit + 1`` pages, the last one
    under-limit) and two per sink call, the count of a strictly
    sequential loop over the same pages."""
    from kinesis_iterator_spark.streaming import ParquetEpochSink

    limit = 60
    src = make_source(spark, sf_dir, n_shards=8)
    sink = ParquetEpochSink(str(tmp_path / "out"))
    it = Iterator(src).set_saver(InMemorySaver()).set_fetch_limit(limit)
    it.foreach_batch(sink)
    base = _persisted(spark)
    start = _next_job_id(spark)
    assert it.run_until_drained() == N_EVENTS
    pages = 150 // limit + 1  # the largest of the 8 shards holds 150
    assert _next_job_id(spark) - start == 1 + 3 * pages + 2 * pages
    assert _persisted(spark) == base
    assert sink.read(spark).count() == N_EVENTS


# -- the multi-shard fetch: job count and cursor filter ------------------------


def _next_job_id(spark) -> int:
    """The scheduler's next job id; its delta across a call counts the
    Spark jobs the call submitted."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_fetch_jobs_do_not_grow_with_shard_count(spark, sf_dir):
    """O(1) Spark jobs per trigger: a multi-shard fetch and a handler-less
    trigger submit the same jobs at 4 and at 8 shards — at most three per
    page once the source has resolved its read (the window's shuffle,
    materialising the persisted batch, the stats result; the stats
    aggregate sits on the cached batch without a shuffle), plus the schema
    read of the first fetch. The trigger is counted with the next page it
    prefetches, once that has finished. The cursor set is a plan literal,
    so no broadcast job."""
    per_topology = []
    for n in (4, 8):
        src = make_source(spark, sf_dir, n_shards=n)
        cursors = {sid: src.shard_cursor(sid) for sid in src.list_shards()}
        start = _next_job_id(spark)
        fetch = src.get_records_all(cursors, 20)
        first = _next_job_id(spark) - start
        fetch.records.unpersist(blocking=False)
        assert sum(fetch.counts.values()) == 20 * n
        it = Iterator(src).set_saver(InMemorySaver()).set_fetch_limit(20)
        it._start_shards()
        start = _next_job_id(spark)
        assert it.poll_once() == 20 * n
        assert it._prefetch is not None  # every shard filled its page
        _settle(it)
        # jobs per page: the poll's own page and the one it prefetched
        per_topology.append((first, (_next_job_id(spark) - start) / 2))
    assert per_topology[0] == per_topology[1], per_topology
    first, later = per_topology[0]
    assert later <= 3 and first <= later + 1, per_topology


def test_parquet_sink_key_costs_one_job(spark, sf_dir, tmp_path):
    """ParquetEpochSink finds its batch key, the minimum sequence, in
    ONE Spark job (a top-1 sort); agg(min) took two (the partial
    aggregate's shuffle and the result). Over an exchange-free frame a
    sink call is that job plus the write's; an empty batch writes
    nothing."""
    from kinesis_iterator_spark.streaming import ParquetEpochSink
    from kinesis_iterator_spark.streaming.records import to_records
    from kinesis_iterator_spark.tables import load_table

    records = to_records(load_table(spark, sf_dir, "events"), n_shards=4)
    shard = records.filter("shardId = 'shardId-000000000002'")
    sink = ParquetEpochSink(str(tmp_path / "out"))
    jobs = []
    for batch in (shard, shard.filter("false")):
        start = _next_job_id(spark)
        sink(batch, 0)
        jobs.append(_next_job_id(spark) - start)
    assert jobs == [2, 0], jobs
    want = min(r[0] for r in shard.select("sequenceNumber").collect())
    assert sink.batches_written == [want]
    assert sink.read(spark).count() == shard.count()


@pytest.fixture(scope="module")
def reference(sf_dir) -> dict[int, dict[str, list[tuple]]]:
    """The stream per shard at 4 and at 8 shards, computed from
    events.parquet with pyarrow: n_shards → shard id →
    (sequenceNumber, partitionKey, data) rows in sequence order."""
    t = pq.read_table(
        os.path.join(sf_dir, "events.parquet"),
        columns=["event_id", "user_id", "props"],
    )
    cols = [t[c].to_pylist() for c in t.column_names]
    by_n = {}
    for n in (4, 8):
        shards: dict[str, list[tuple]] = {}
        for e, u, p in zip(*cols):
            shards.setdefault(f"shardId-{u % n:012d}", []).append(
                (f"{e:012d}", str(u), p.encode())
            )
        by_n[n] = {sid: sorted(rows) for sid, rows in shards.items()}
    return by_n


def _check_fetch(src, cursors, limit, reference, closed=()):
    """Fetch ``cursors`` and compare rows, tails and counts with the
    pyarrow reference for the source's topology; the ``closed`` cursors
    must fetch nothing."""
    ref = reference[src.n_shards]
    want = {}
    for sid, c in cursors.items():
        if sid in closed:
            continue
        rows = [r for r in ref.get(sid, []) if r[0] > (c["after"] or "")]
        if rows[:limit]:
            want[sid] = rows[:limit]
    fetch = src.get_records_all(cursors, limit)
    try:
        got: dict[str, list[tuple]] = {}
        for r in fetch.records.collect():
            got.setdefault(r["shardId"], []).append(
                (r["sequenceNumber"], r["partitionKey"], bytes(r["data"]))
            )
    finally:
        fetch.records.unpersist(blocking=False)
    assert fetch.records.columns == [
        "shardId", "data", "partitionKey", "sequenceNumber",
        "approximateArrivalTimestamp", "streamName",
    ]
    assert {sid: sorted(rows) for sid, rows in got.items()} == want
    assert fetch.tails == {sid: rows[-1][0] for sid, rows in want.items()}
    assert fetch.counts == {sid: len(rows) for sid, rows in want.items()}
    return fetch


@pytest.fixture(scope="module")
def fetch_sources(spark, sf_dir):
    """One source per topology, shared by the property examples so each
    resolves its read once."""
    return {n: make_source(spark, sf_dir, n_shards=n) for n in (4, 8)}


@settings(max_examples=8, deadline=None)
@given(data=st.data())
def test_fetch_matches_pyarrow_reference(fetch_sources, reference, data):
    """Random cursor maps — start-of-shard (None) cursors, cursors mid-shard
    or at/past the tail, only a subset of shards live — and limits from 1
    to the largest shard: the fetch returns exactly each live shard's next
    ``limit`` rows, with matching tails and counts."""
    n = data.draw(st.sampled_from(sorted(fetch_sources)), label="n_shards")
    src = fetch_sources[n]
    ref = reference[n]
    cursors = {}
    for sid in src.list_shards():
        seqs = [r[0] for r in ref[sid]]
        kind = data.draw(st.sampled_from(["absent", "start", "mid", "past"]))
        if kind == "absent":
            continue
        after = None  # "start"
        if kind == "mid":
            after = data.draw(st.sampled_from(seqs))
        elif kind == "past":
            after = "9" * 12
        cursors[sid] = src.advance(src.shard_cursor(sid), after)
    limit = data.draw(
        st.integers(1, max(len(rows) for rows in ref.values())), label="limit"
    )
    fetch = _check_fetch(src, cursors, limit, reference)
    assert fetch.closed == []


def test_fetch_after_reshard_closes_old_cursors(spark, sf_dir, reference):
    """After ``reshard`` the old topology's cursors come back in ``closed``
    and fetch nothing, while the children's cursors read the new
    topology's rows — the read resolved before the reshard is dropped."""
    src = make_source(spark, sf_dir, n_shards=4)
    old = {sid: src.shard_cursor(sid) for sid in src.list_shards()}
    _check_fetch(src, old, 30, reference)
    src.reshard(8)
    # shards 4..7 exist only in the new topology; 0..3 keep old cursors
    children = {sid: src.shard_cursor(sid) for sid in src.list_shards()[4:]}
    fetch = _check_fetch(src, {**old, **children}, 30, reference, closed=old)
    assert sorted(fetch.closed) == sorted(old)
    assert set(fetch.tails) == set(children)
