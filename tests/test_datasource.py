"""The ``sim_kinesis`` PySpark streaming DataSource: exactly-once delivery
under availableNow, checkpoint resume without duplicates, record-schema
parity with the library source, and bounded (paged) admission.

This is the Structured-Streaming-native form of the reference's consumer
loop — the offset WAL plays Sequence/SequenceSaver (sequence.go:26-36),
micro-batch read tasks, each holding whole shards, play the per-shard
goroutines on the host's cores (kinesis.go:131-139).
"""

from __future__ import annotations

import tempfile
import time

import pytest
from pyspark.sql import functions as F

from kinesis_iterator_spark.streaming import datasource as ds
from kinesis_iterator_spark.streaming.records import RECORD_SCHEMA, to_records
from kinesis_iterator_spark.tables import load_table

N_SHARDS = 4


@pytest.fixture()
def stream_df(spark, sf_dir):
    ds.register(spark)
    return (
        spark.readStream.format(ds.FORMAT_NAME)
        .option("path", sf_dir)
        .option("n_shards", N_SHARDS)
        .load()
    )


def _drain(stream_df, ck, collect_to):
    q = (
        stream_df.writeStream.foreachBatch(
            lambda df, eid: collect_to.append(df.collect())
        )
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_available_now_delivers_all_events_exactly_once(
    spark, sf_dir, stream_df
):
    ck = tempfile.mkdtemp()
    batches: list = []
    _drain(stream_df, ck, batches)
    rows = [r for b in batches for r in b]

    expected = to_records(
        load_table(spark, sf_dir, "events"), n_shards=N_SHARDS
    ).collect()
    assert len(rows) == len(expected)
    key = lambda r: (r["shardId"], r["sequenceNumber"])  # noqa: E731
    assert sorted(key(r) for r in rows) == sorted(key(r) for r in expected)
    # full record-model parity, field by field (data payload, partition
    # key, arrival timestamp truncated to µs like the batch loader)
    by_key = {key(r): r for r in expected}
    for r in rows:
        e = by_key[key(r)]
        assert bytes(r["data"]) == bytes(e["data"])
        assert r["partitionKey"] == e["partitionKey"]
        assert r["approximateArrivalTimestamp"] == e["approximateArrivalTimestamp"]
        assert r["streamName"] == e["streamName"]
    assert [f.name for f in stream_df.schema.fields] == [
        s.split()[0] for s in RECORD_SCHEMA.split(", ")
    ]


def test_checkpoint_resume_sees_nothing_new(spark, sf_dir, stream_df):
    ck = tempfile.mkdtemp()
    first: list = []
    _drain(stream_df, ck, first)
    assert sum(len(b) for b in first) > 0

    again: list = []
    _drain(stream_df, ck, again)
    assert sum(len(b) for b in again) == 0


def test_streaming_window_agg_matches_batch(spark, sf_dir, stream_df):
    """The flagship tumbling-window aggregate, run over the streaming
    source with a watermark, equals the batch computation on the same
    record projection — the readStream ≡ read contract."""
    ck = tempfile.mkdtemp()
    agg = (
        stream_df.withWatermark("approximateArrivalTimestamp", "1 hour")
        .groupBy(
            F.window("approximateArrivalTimestamp", "1 hour").alias("w")
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    out: list = []
    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(lambda df, eid: out.append(df.collect()))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {(r["window_start"], r["n"]) for r in out[-1]}

    batch = (
        to_records(load_table(spark, sf_dir, "events"), n_shards=N_SHARDS)
        .groupBy(
            F.window("approximateArrivalTimestamp", "1 hour").alias("w")
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    want = {(r["window_start"], r["n"]) for r in batch.collect()}
    assert got == want


def test_bounded_admission_pages_micro_batches(spark, sf_dir):
    """limit=N pages the stream: several micro-batches, each shard
    admitting ≤ N records per trigger, totalling exactly the stream."""
    ds.register(spark)
    per_page = 100
    sdf = (
        spark.readStream.format(ds.FORMAT_NAME)
        .option("path", sf_dir)
        .option("n_shards", N_SHARDS)
        .option("limit", per_page)
        .load()
    )
    total_events = load_table(spark, sf_dir, "events").count()
    ck = tempfile.mkdtemp()
    batches: list = []
    q = (
        sdf.writeStream.foreachBatch(
            lambda df, eid: batches.append(df.groupBy("shardId").count().collect())
        )
        .option("checkpointLocation", ck)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 180
    while time.time() < deadline:
        if sum(int(r["count"]) for b in batches for r in b) >= total_events:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)
    counts = [int(r["count"]) for b in batches for r in b]
    assert sum(counts) == total_events  # no loss, no duplication
    assert all(c <= per_page for c in counts)  # page bound per shard/batch
    assert len(batches) > 1  # it actually paged


def test_available_now_paged_drain_multi_batch(spark, sf_dir):
    """The paged Trigger.AvailableNow equivalent: available_now freezes
    the drain target, limit pages toward it, await_drained stops the
    query at the target — a COMPLETE drain across >1 committed
    micro-batch. (Spark's own availableNow trigger falls back to one
    unbounded batch for Python DataSources, bypassing paged admission.)"""
    ds.register(spark)
    per_page = 100
    sdf = (
        spark.readStream.format(ds.FORMAT_NAME)
        .option("path", sf_dir)
        .option("n_shards", N_SHARDS)
        .option("limit", per_page)
        .option("available_now", "true")
        .load()
    )
    total = load_table(spark, sf_dir, "events").count()
    ck = tempfile.mkdtemp()
    batches: list = []
    q = (
        sdf.writeStream.foreachBatch(lambda df, eid: batches.append(df.collect()))
        .option("checkpointLocation", ck)
        .trigger(processingTime="0 seconds")
        .start()
    )
    assert ds.await_drained(q, sf_dir, N_SHARDS, timeout=180)
    rows = [r for b in batches for r in b]
    key = lambda r: (r["shardId"], r["sequenceNumber"])  # noqa: E731
    assert len(rows) == total
    assert len({key(r) for r in rows}) == total  # exactly once
    assert len([b for b in batches if b]) > 1  # it actually paged
    assert all(len(b) <= per_page * N_SHARDS for b in batches)


def test_native_available_now_with_limit_is_the_documented_trap(
    spark, sf_dir, capfd
):
    """PIN the trap VERDICT r3 #3 names: ``.trigger(availableNow=True)``
    on a Python DataSource falls back to single-batch execution
    (PythonMicroBatchStream lacks SupportsTriggerAvailableNow), so
    combined with bounded admission (limit>0) the query terminates after
    ONE page per shard — an UNDER-drain. No longer silent (VERDICT r6
    #4): the reader's runner process is killed without commit()/stop(),
    so the guard lives driver-side — register() installs a
    StreamingQueryListener that spots the one-batch-short-of-tail
    termination signature via the paging metadata embedded in the offset
    and shouts on stderr (asserted below). This test still pins the
    under-drain itself so a Spark-side fix (the fallback growing real
    paging) flips it loudly and we can retire the workaround; the
    correct full paged drain is option("available_now") + await_drained
    (test_available_now_paged_drain_multi_batch above). Users are
    pointed off this spelling at streaming/option.py:104 and
    datasource.py."""
    ds.register(spark)
    per_page = 100
    sdf = (
        spark.readStream.format(ds.FORMAT_NAME)
        .option("path", sf_dir)
        .option("n_shards", N_SHARDS)
        .option("limit", per_page)
        .load()
    )
    total = load_table(spark, sf_dir, "events").count()
    ck = tempfile.mkdtemp()
    batches: list = []
    q = (
        sdf.writeStream.foreachBatch(
            lambda df, eid: batches.append(df.collect())
        )
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    try:
        # awaitTermination returns False on timeout WITHOUT raising — an
        # unchecked call would assert over a list a live streaming thread
        # is still appending to (and leak the query into later tests).
        assert q.awaitTermination(300), "fallback batch did not finish"
    finally:
        q.stop()
    rows = [r for b in batches for r in b]
    # The fallback ran (self-terminated) but admitted only the first
    # page per shard — strictly fewer records than the stream holds.
    assert 0 < len(rows) <= per_page * N_SHARDS
    assert len(rows) < total
    # The driver-side listener must have shouted about the under-drain
    # (the runtime guard VERDICT r6 #4 asked for). The listener bus is
    # async — poll briefly for the message.
    msg = ""
    for _ in range(100):
        msg += capfd.readouterr().err
        if "sim_kinesis UNDER-DRAIN" in msg:
            break
        time.sleep(0.1)
    assert "sim_kinesis UNDER-DRAIN" in msg


def test_bounded_admission_restart_no_duplicates(spark, sf_dir):
    """Checkpoint restart under bounded admission (limit>0) must not
    regress latestOffset below the WAL position. The r2 bug: a fresh
    reader's cursor re-paged from TRIM_HORIZON, Spark logged the
    regressed offset as a batch end, and the next batch re-emitted
    everything between page 1 and the committed position. commit()/
    partitions() now fast-forward the cursor. Delivery is tracked per
    epoch_id (foreachBatch replays the last uncommitted batch under the
    SAME epoch on restart — overwriting is the sink's idempotence
    contract); the bug would surface as NEW epochs re-delivering old
    records, inflating the total."""
    ds.register(spark)
    per_page = 25

    def reader():
        return (
            spark.readStream.format(ds.FORMAT_NAME)
            .option("path", sf_dir)
            .option("n_shards", N_SHARDS)
            .option("limit", per_page)
            .option("available_now", "true")
            .load()
        )

    total = load_table(spark, sf_dir, "events").count()
    ck = tempfile.mkdtemp()
    delivered: dict = {}  # epoch_id -> rows (last replay wins)

    def sink(df, eid):
        delivered[eid] = df.collect()

    q = (
        reader()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline and sum(len(b) for b in delivered.values()) < total // 3:
        time.sleep(0.02)
    q.stop()
    q.awaitTermination(60)
    n_first = sum(len(b) for b in delivered.values())
    assert 0 < n_first < total, (
        f"drain finished before the mid-stream stop (got {n_first}/{total}) — "
        "lower per_page to keep the restart meaningful"
    )

    q2 = (
        reader()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .trigger(processingTime="0 seconds")
        .start()
    )
    assert ds.await_drained(q2, sf_dir, N_SHARDS, timeout=180)
    rows = [r for b in delivered.values() for r in b]
    key = lambda r: (r["shardId"], r["sequenceNumber"])  # noqa: E731
    assert len({key(r) for r in rows}) == total  # no loss
    assert len(rows) == total  # no duplicate delivery across epochs


def test_option_builder_produces_streaming_reader(spark, sf_dir):
    """A17 glue: the same fluent Option that builds the library consumer
    also yields the sim_kinesis streaming DataFrame."""
    import tempfile

    from kinesis_iterator_spark.streaming import Option

    sdf = (
        Option()
        .with_stream_name("events")
        .with_shards(N_SHARDS)
        .with_sf_dir(sf_dir)
        .read_stream(spark)
    )
    assert sdf.isStreaming
    ck = tempfile.mkdtemp()
    batches: list = []
    _drain(sdf, ck, batches)
    n = sum(len(b) for b in batches)
    assert n == load_table(spark, sf_dir, "events").count()
    assert all(r["streamName"] == "events" for b in batches for r in b)


def test_batch_read_equals_streaming_drain(spark, sf_dir):
    """read ≡ readStream over the full horizon: the batch form of
    sim_kinesis returns exactly the record set the streaming drain
    delivers (and the library's to_records projection)."""
    ds.register(spark)
    batch = (
        spark.read.format(ds.FORMAT_NAME)
        .option("path", sf_dir)
        .option("n_shards", N_SHARDS)
        .load()
    )
    expected = to_records(
        load_table(spark, sf_dir, "events"), n_shards=N_SHARDS
    )
    key = lambda r: (r["shardId"], r["sequenceNumber"])  # noqa: E731
    got = sorted(key(r) for r in batch.collect())
    want = sorted(key(r) for r in expected.collect())
    assert got == want
    # same columns and types (nullability differs: lit() columns are
    # non-nullable in the projection, DataSource columns are nullable)
    assert [(f.name, f.dataType) for f in batch.schema.fields] == [
        (f.name, f.dataType) for f in expected.schema.fields
    ]


def test_register_guard_optional_and_removable(spark, sf_dir):
    """VERDICT r7 #2: register() must allow opting out of the session-wide
    under-drain listener, and remove_under_drain_guard() must deregister
    an installed one — the guard's irrevocability is what buried the
    round-7 bench's metric line under post-teardown py4j stack traces."""
    # Detach whatever earlier tests installed so this test owns the state
    # (re-registration below restores a fresh guard for later tests).
    ds.remove_under_drain_guard(spark)
    assert getattr(spark, "_sim_kinesis_listener", None) is None

    ds.register(spark, under_drain_guard=False)
    assert getattr(spark, "_sim_kinesis_listener", None) is None
    assert ds.remove_under_drain_guard(spark) is False  # nothing to remove

    ds.register(spark)  # default: guard on
    assert getattr(spark, "_sim_kinesis_listener", None) is not None
    assert ds.remove_under_drain_guard(spark) is True
    assert getattr(spark, "_sim_kinesis_listener", None) is None
    # idempotent second removal
    assert ds.remove_under_drain_guard(spark) is False


@pytest.mark.slow
def test_session_teardown_after_register_is_clean(sf_dir):
    """VERDICT r7 #1/#2 pin, end to end in a SUBPROCESS: a session that
    registered sim_kinesis (guard ON), ran a streaming drain, then
    removed the guard and stopped, must exit 0 with its final stdout
    line intact and no py4j Connection-refused listener traces — the
    exact failure that made BENCH_r07.json unparseable."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        f"""
        import shutil, sys, tempfile
        sys.path.insert(0, "/root/repo")
        from kinesis_iterator_spark.session import get_spark
        from kinesis_iterator_spark.streaming import (
            datasource as ds, register_sim_kinesis, remove_under_drain_guard,
        )
        spark = get_spark("teardown_pin", cpus=4)
        register_sim_kinesis(spark)  # guard ON — the r7 configuration
        ck = tempfile.mkdtemp()
        q = (spark.readStream.format(ds.FORMAT_NAME)
             .option("path", {sf_dir!r}).option("n_shards", 2)
             .option("available_now", "true").load()
             .writeStream.foreachBatch(lambda df, e: df.count())
             .option("checkpointLocation", ck)
             .trigger(processingTime="0 seconds").start())
        assert ds.await_drained(q, {sf_dir!r}, n_shards=2, timeout=120)
        shutil.rmtree(ck, ignore_errors=True)
        assert remove_under_drain_guard(spark) is True
        spark.stop()
        print('{{"sentinel": "last-line"}}', flush=True)
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out_lines = [l for l in proc.stdout.splitlines() if l.strip()]
    assert out_lines and out_lines[-1] == '{"sentinel": "last-line"}'
    assert "Connection refused" not in proc.stderr
    # The r7 failure mode was ERROR-level py4j callback traces on the
    # listener bus; pin per-LINE conjunction (a benign py4j INFO line
    # plus an unrelated ERROR elsewhere must not fail, and a genuine
    # py4j ERROR line must).
    bad = [
        l
        for l in proc.stderr.splitlines()
        if "py4j.clientserver" in l and "ERROR" in l
    ]
    assert not bad, bad[:5]

def test_reshard_mid_stream_exactly_once(spark, sf_dir, tmp_path):
    """A13 on the DataSource path (VERDICT r15 #4): split 4→8 and then
    merge 8→2 BETWEEN micro-batches of one RUNNING sim_kinesis query —
    child shards must be picked up, and the union of all delivered
    batches must be the full stream with no loss and no duplication
    across both transitions. The topology flows through the polled
    control file (`write_topology` — the ListShards analogue); the
    exactly-once carry-over is the "_prev" layer machinery in the
    offset JSON."""
    ds.register(spark)
    topo = str(tmp_path / "topology.json")
    ds.write_topology(topo, 4)
    total = load_table(spark, sf_dir, "events").count()
    per_page = max(25, total // 12)
    sdf = (
        spark.readStream.format(ds.FORMAT_NAME)
        .option("path", sf_dir)
        .option("n_shards", 4)
        .option("topology_file", topo)
        .option("limit", per_page)
        .option("available_now", "true")
        .load()
    )
    batches: list = []
    flips = {"done": 0}

    def deliver(df, bid):
        batches.append(df.collect())
        # Flip between micro-batches: foreachBatch completes before the
        # batch commits, so the NEXT latestOffset poll sees the new
        # topology deterministically.
        if flips["done"] == 0 and bid >= 0:
            ds.write_topology(topo, 8)
            flips["done"] = 1
        elif flips["done"] == 1 and bid >= 1:
            ds.write_topology(topo, 2)
            flips["done"] = 2

    ck = tempfile.mkdtemp()
    q = (
        sdf.writeStream.foreachBatch(deliver)
        .option("checkpointLocation", ck)
        .trigger(processingTime="0 seconds")
        .start()
    )
    # The drain target is the FINAL topology's per-shard tails.
    assert ds.await_drained(q, sf_dir, n_shards=2, timeout=180)
    assert flips["done"] == 2  # both reshards actually happened mid-run
    rows = [r for b in batches for r in b]
    seqs = [r["sequenceNumber"] for r in rows]
    # Exactly once across both transitions: sequence numbers are
    # globally unique and topology-independent.
    assert len(seqs) == len(set(seqs))
    expected = {
        r["sequenceNumber"]
        for r in to_records(
            load_table(spark, sf_dir, "events"), n_shards=4
        ).collect()
    }
    assert set(seqs) == expected
    # Child-shard pickup: some post-split batch served shards 4..7
    # (names that do not exist under the 4- or 2-shard topologies).
    assert any(
        int(r["shardId"].rsplit("-", 1)[1]) >= 4 for r in rows
    ), "no batch was served by a split child shard"
    # And the merged topology served batches too.
    per_batch_shards = [
        {r["shardId"] for r in b} for b in batches if b
    ]
    assert any(
        s and max(int(x.rsplit("-", 1)[1]) for x in s) < 2
        for s in per_batch_shards[2:]
    ), "no post-merge batch was served by the 2-shard topology"

def test_restart_across_reshard_no_duplicates(spark, sf_dir, tmp_path):
    """The topology flips while the query is DOWN: the restarted
    reader (constructed already under the new topology) must fold the
    WAL's old-topology committed offset in as a transition layer
    (`_adopt`) — resuming exactly-once instead of re-delivering the
    pre-stop records under the new shard naming.

    Delivery is keyed per epoch_id (the idempotent-sink contract, same
    as test_bounded_admission_restart_no_duplicates): q.stop() can land
    between a batch's foreachBatch and its WAL commit, in which case
    Spark legitimately replays that batch under the SAME epoch on
    restart — a list-append sink would count it twice and fail on stop
    timing, which is the sink's race, not the source's. The
    source-level exactly-once of BOTH WAL tail shapes is pinned
    deterministically by the protocol-driven tests below."""
    ds.register(spark)
    topo = str(tmp_path / "topology.json")
    ds.write_topology(topo, 4)
    total = load_table(spark, sf_dir, "events").count()
    # Small pages: ~10 batches to drain, so the stop lands well short
    # of the tail even if a few extra batches commit during the poll.
    per_page = max(25, total // 40)
    ck = str(tmp_path / "ck")

    def reader():
        return (
            spark.readStream.format(ds.FORMAT_NAME)
            .option("path", sf_dir)
            .option("n_shards", 4)
            .option("topology_file", topo)
            .option("limit", per_page)
            .option("available_now", "true")
            .load()
        )

    first: dict = {}  # epoch_id -> rows (a same-epoch replay overwrites)
    q = (
        reader().writeStream.foreachBatch(
            lambda df, bid: first.__setitem__(bid, df.collect())
        )
        .option("checkpointLocation", ck)
        .trigger(processingTime="0 seconds")
        .start()
    )
    # Stop after ≥2 delivered batches, well short of the tail.
    deadline = time.time() + 120
    while time.time() < deadline and len(first) < 2:
        time.sleep(0.05)
    q.stop()
    q.awaitTermination(60)
    delivered = sum(len(b) for b in first.values())
    assert 0 < delivered < total  # partial drain, something left to do

    ds.write_topology(topo, 8)  # reshard while the query is down
    second: dict = {}

    def sink2(df, bid):
        # The replayed uncommitted batch (if any) arrives under its
        # pre-stop epoch: overwrite in `first` (identical offset range
        # → identical rows); genuinely new epochs land in `second`.
        (first if bid in first else second)[bid] = df.collect()

    q2 = (
        reader().writeStream.foreachBatch(sink2)
        .option("checkpointLocation", ck)
        .trigger(processingTime="0 seconds")
        .start()
    )
    assert ds.await_drained(q2, sf_dir, n_shards=8, timeout=180)
    rows = [
        r
        for b in list(first.values()) + list(second.values())
        for r in b
    ]
    seqs = [r["sequenceNumber"] for r in rows]
    assert len(seqs) == len(set(seqs)), "restart across reshard duplicated"
    assert len(seqs) == total
    # The resumed run actually used the new topology.
    assert any(
        int(r["shardId"].rsplit("-", 1)[1]) >= 4
        for b in second.values()
        for r in b
    )

def test_reshard_offset_layer_machinery_driver_side():
    """Driver-side pins for the reshard offset algebra (no Spark):
    `_slice_prev` conversion, redundancy-drop rule, and `_adopt`'s
    WAL-offset folding — the pieces the integration tests exercise
    only implicitly."""
    r = ds.SimKinesisStreamReader.__new__(ds.SimKinesisStreamReader)
    # _slice_prev: names → index, "" → -1, malformed keys skipped.
    layers = [
        {"n": 4, "after": {
            "shardId-000000000000": "000000000007",
            "shardId-000000000002": "",
            "bogus": "000000000099",
        }}
    ]
    assert ds._slice_prev(layers) == ((4, (7, -1, -1, -1)),)
    assert ds._slice_prev(()) == ()

    # _drop_redundant_layers: redundant iff EVERY shard's cursor is
    # >= the layer max OR at its own tail.
    r._prev_layers = [
        {"n": 4, "after": {"shardId-000000000000": "000000000005"}}
    ]
    r._seqs = {
        0: ["000000000002", "000000000008"],
        1: ["000000000003"],
    }
    # shard 0 below the layer max and below its tail: layer kept.
    r._drop_redundant_layers(
        {"shardId-000000000000": "000000000002",
         "shardId-000000000001": "000000000003"}
    )
    assert len(r._prev_layers) == 1
    # shard 0 at its own tail (even though tail < nothing): dropped.
    r._drop_redundant_layers(
        {"shardId-000000000000": "000000000008",
         "shardId-000000000001": "000000000003"}
    )
    assert r._prev_layers == []

    # _adopt: an old-topology offset (key count != current n) folds in
    # as a completed layer; a current-topology offset does not.
    r._n_shards = 8
    r._limit = 0
    r._prev_layers = []
    r._adopt({"shardId-000000000000": "000000000004",
              "shardId-000000000001": ""})
    assert r._prev_layers == [
        {"n": 2, "after": {"shardId-000000000000": "000000000004",
                           "shardId-000000000001": ""}}
    ]
    # idempotent: re-adopting the same offset does not stack.
    r._adopt({"shardId-000000000000": "000000000004",
              "shardId-000000000001": ""})
    assert len(r._prev_layers) == 1
    # an all-empty old-topology offset is NOT a layer (nothing
    # delivered — and an all-"" layer would be vacuous anyway).
    r._prev_layers = []
    r._adopt({"shardId-000000000000": "", "shardId-000000000001": ""})
    assert r._prev_layers == []
    # "_prev" metadata re-learns layers after a restart.
    r._adopt({
        "shardId-000000000000": "000000000009",
        "shardId-000000000001": "000000000009",
        "shardId-000000000002": "000000000009",
        "shardId-000000000003": "000000000009",
        "shardId-000000000004": "000000000009",
        "shardId-000000000005": "000000000009",
        "shardId-000000000006": "000000000009",
        "shardId-000000000007": "000000000009",
        "_prev": [{"n": 2, "after": {"shardId-000000000000": "000000000003"}}],
    })
    assert r._prev_layers == [
        {"n": 2, "after": {"shardId-000000000000": "000000000003"}}
    ]


# -- deterministic restart-across-reshard pins (VERDICT r16 #1) ----------
#
# The Spark integration test above races q.stop() against commit
# progress, so which WAL shape it exercises (committed vs uncommitted
# tail) is timing luck. These pins drive the reader protocol directly
# (the same latestOffset → partitions → read → commit sequence the
# micro-batch engine issues), so each WAL shape is forced
# deterministically and the tests are rerun-stable.


def _proto_batch(reader, start, end):
    """One micro-batch: plan partitions, read them executor-style via
    reader.read, commit. Returns the delivered sequence numbers."""
    seqs: list[str] = []
    for p in reader.partitions(start, end):
        for b in reader.read(p):
            seqs.extend(b.column("sequenceNumber").to_pylist())
    reader.commit(end)
    return seqs


def _proto_drain(reader, start):
    """Drive the protocol until the offset stops changing (Spark's
    no-new-data detection is offset equality). Returns (seqs, last)."""
    seqs: list[str] = []
    prev = start
    for _ in range(200):
        end = reader.latestOffset()
        seqs += _proto_batch(reader, prev, end)
        if end == prev:
            return seqs, prev
        prev = end
    raise AssertionError("protocol drain did not converge in 200 batches")


def _events_total(sf_dir) -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(ds._resolve_path({"path": sf_dir})).num_rows


def test_restart_committed_tail_across_reshard_deterministic(
    sf_dir, tmp_path
):
    """Committed-WAL-tail restart across a reshard — the shape that
    FAILED 3/10 under the racy stop (VERDICT r16 #1). Every pre-stop
    batch commits; the restarted reader plans its first batch BEFORE
    ever seeing the WAL, so the old-topology delivery is visible only
    as partitions()'s start offset. Exactly-once rides on
    _adopt(start) plus the derived start-cursor layer."""
    total = _events_total(sf_dir)
    topo = str(tmp_path / "topology.json")
    ds.write_topology(topo, 4)
    limit = max(1, total // 4 // 3)  # several pages per shard
    opts = {
        "path": sf_dir,
        "n_shards": "4",
        "topology_file": topo,
        "limit": str(limit),
        "available_now": "true",
    }
    r1 = ds.SimKinesisStreamReader(opts)
    start = r1.initialOffset()
    seen: list[str] = []
    for _ in range(2):  # two fully committed batches, short of the tail
        end = r1.latestOffset()
        seen += _proto_batch(r1, start, end)
        start = end
    assert 0 < len(seen) < total
    ds.write_topology(topo, 8)  # reshard while the query is down
    r2 = ds.SimKinesisStreamReader(opts)  # fresh process, new topology
    rest, _ = _proto_drain(r2, start)
    seen += rest
    assert len(seen) == len(set(seen)), "committed-tail restart duplicated"
    assert len(seen) == total
    # Stretch (VERDICT r16 #7): transition layers provably converge to
    # zero once every child cursor covers them.
    assert r2._prev_layers == []


def test_restart_uncommitted_tail_across_reshard_deterministic(
    sf_dir, tmp_path
):
    """Uncommitted-WAL-tail restart across a reshard: the stopped query
    PLANNED one batch (offset in the WAL) it never committed. On
    restart Spark replays that batch via partitions(start, end) with
    both offsets speaking the OLD topology, commits it, then resumes
    planning under the new topology."""
    total = _events_total(sf_dir)
    topo = str(tmp_path / "topology.json")
    ds.write_topology(topo, 4)
    limit = max(1, total // 4 // 3)
    opts = {
        "path": sf_dir,
        "n_shards": "4",
        "topology_file": topo,
        "limit": str(limit),
        "available_now": "true",
    }
    r1 = ds.SimKinesisStreamReader(opts)
    start = r1.initialOffset()
    end1 = r1.latestOffset()
    seen = _proto_batch(r1, start, end1)
    end2 = r1.latestOffset()  # planned (in the WAL), never committed
    assert 0 < len(seen) < total
    ds.write_topology(topo, 8)  # reshard while the query is down
    r2 = ds.SimKinesisStreamReader(opts)
    seen += _proto_batch(r2, end1, end2)  # Spark's WAL replay, old topo
    rest, _ = _proto_drain(r2, end2)
    seen += rest
    assert len(seen) == len(set(seen)), "uncommitted-tail restart duplicated"
    assert len(seen) == total
    assert r2._prev_layers == []


def test_successive_splits_exactly_once_protocol(sf_dir, tmp_path):
    """ADVICE r16 (high): successive splits 2→4→8 in ONE run. The
    second transition batch's fresh layer exists only in the END
    offset; `start._prev or end._prev` preferred start's stale layer
    list and re-delivered 166/1000 records. Pins the union, and the
    redundancy-drop convergence (layers return to zero by drain end)."""
    total = _events_total(sf_dir)
    topo = str(tmp_path / "topology.json")
    ds.write_topology(topo, 2)
    limit = max(1, total // 12)
    opts = {
        "path": sf_dir,
        "n_shards": "2",
        "topology_file": topo,
        "limit": str(limit),
        "available_now": "true",
    }
    r = ds.SimKinesisStreamReader(opts)
    prev = r.initialOffset()
    seen: list[str] = []
    n_batches = 0
    for _ in range(200):
        end = r.latestOffset()
        seen += _proto_batch(r, prev, end)
        if end == prev:
            break
        prev = end
        n_batches += 1
        if n_batches == 1:
            ds.write_topology(topo, 4)  # first split between batches
        elif n_batches == 2:
            ds.write_topology(topo, 8)  # second split: layer-on-layer
    else:
        raise AssertionError("drain did not converge in 200 batches")
    assert len(seen) == len(set(seen)), "successive splits duplicated"
    assert len(seen) == total
    assert r._prev_layers == []


# -- read tasks: whole shards, at most one task per slot -----------------


def _per_shard_seqs(reader, parts) -> dict:
    """Sequences each shard delivered, in read order, through
    reader.read — the executor side of a micro-batch."""
    out: dict = {}
    for p in parts:
        for b in reader.read(p):
            shards = b.column("shardId").to_pylist()
            for shard, seq in zip(shards, b.column("sequenceNumber").to_pylist()):
                out.setdefault(shard, []).append(seq)
    return out


@pytest.mark.parametrize("slots", [2, 3, 8, 64])
def test_micro_batch_packs_whole_shards_into_task_slots(sf_dir, slots):
    """Protocol-level, no Spark: a paged 8-shard drain planned for
    ``slots`` task slots reads each shard in exactly one partition,
    uses min(advancing shards, slots) partitions, and delivers the same
    per-shard sequences, in order, as one partition per shard."""
    opts = {"path": sf_dir, "n_shards": "8", "limit": "40", "available_now": "true"}
    packed = ds.SimKinesisStreamReader(opts, slots=slots)
    per_shard = ds.SimKinesisStreamReader(opts)
    start = packed.initialOffset()
    got: dict = {}
    want: dict = {}
    for _ in range(200):
        end = packed.latestOffset()
        assert per_shard.latestOffset() == end
        if end == start:
            break
        parts = packed.partitions(start, end)
        ref = per_shard.partitions(start, end)
        assert all(len(p.slices) == 1 for p in ref)
        advancing = [p.slices[0].shard_index for p in ref]
        assert len(parts) == min(len(advancing), slots)
        assert sorted(s.shard_index for p in parts for s in p.slices) == advancing
        for key, seqs in _per_shard_seqs(packed, parts).items():
            got.setdefault(key, []).extend(seqs)
        for key, seqs in _per_shard_seqs(per_shard, ref).items():
            want.setdefault(key, []).extend(seqs)
        packed.commit(end)
        per_shard.commit(end)
        start = end
    else:
        raise AssertionError("protocol drain did not converge in 200 batches")
    assert got == want
    assert all(seqs == sorted(seqs) for seqs in got.values())
    assert sum(len(seqs) for seqs in got.values()) == _events_total(sf_dir)


def test_drain_with_more_shards_than_task_slots(spark, sf_dir):
    """16 shards on the suite session's 8 task slots: the micro-batch
    runs in at most 8 read tasks, each shard inside one task and in
    sequence order, and delivers every record exactly once."""
    n_shards = 16
    slots = spark.sparkContext.defaultParallelism
    assert slots < n_shards
    ds.register(spark)
    sdf = (
        spark.readStream.format(ds.FORMAT_NAME)
        .option("path", sf_dir)
        .option("n_shards", n_shards)
        .load()
        .select(F.spark_partition_id().alias("pid"), "shardId", "sequenceNumber")
    )
    batches: list = []
    _drain(sdf, tempfile.mkdtemp(), batches)
    rows = [r for b in batches for r in b]
    want = to_records(load_table(spark, sf_dir, "events"), n_shards=n_shards)
    key = lambda r: (r["shardId"], r["sequenceNumber"])  # noqa: E731
    assert sorted(key(r) for r in rows) == sorted(key(r) for r in want.collect())
    assert len({r["pid"] for r in rows}) <= slots
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shardId"], []).append((r["pid"], r["sequenceNumber"]))
    assert len(by_shard) > slots  # some task read several shards
    for got in by_shard.values():
        assert len({pid for pid, _ in got}) == 1  # one task per shard
        seqs = [seq for _, seq in got]
        assert seqs == sorted(seqs)


def test_session_timezone_reaches_the_reader(spark, sf_dir):
    """register() captures a non-UTC session timezone and the reader
    process applies it: the batch read's arrival timestamps equal the
    library record model's under America/New_York."""
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        ds.register(spark)
        got = (
            spark.read.format(ds.FORMAT_NAME)
            .option("path", sf_dir)
            .option("n_shards", N_SHARDS)
            .load()
            .collect()
        )
        want = to_records(
            load_table(spark, sf_dir, "events"), n_shards=N_SHARDS
        ).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        ds.register(spark)
    key = lambda r: (r["shardId"], r["sequenceNumber"])  # noqa: E731
    arrival = {key(r): r["approximateArrivalTimestamp"] for r in want}
    assert len(got) == len(arrival)
    assert all(r["approximateArrivalTimestamp"] == arrival[key(r)] for r in got)
