"""Drift-on-admit (VERDICT r10 #4): `CorpusWriter(drift_monitor=True)`
maintains a stored reference-histogram layer (`drift_ref/`, per-admit
(b, c) segments — the `df/`/`bucket_sizes/` discipline) and reports each
batch's exact fixed-point KL/TV drift against the pre-admit corpus in
the admit stats. Pins: the on-admit numbers equal the standalone
`corpus_drift` over the same frames; sum-of-segments ≡ a recount of the
corpus text; a resubmitted corpus measures exactly zero drift;
crash/late-enablement self-heal; compact() is query-invisible; the
`corpus_drift_stats` registry row is untouched (driver gate)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kinesis_iterator_spark.pipeline import (
    CorpusWriter,
    CurationConfig,
    curate_frame,
)
from kinesis_iterator_spark.queries.text import corpus_drift, corpus_hist
from kinesis_iterator_spark.tables import load_table

B = 256


@pytest.fixture(scope="module")
def batches(spark, sf_dir):
    doc = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    b1 = doc.filter(F.col("doc_id") % 2 == 0).persist()
    b2 = doc.filter(F.col("doc_id") % 2 == 1).persist()
    b1.count(), b2.count()
    yield b1, b2
    b1.unpersist(), b2.unpersist()


def _writer(spark, root) -> CorpusWriter:
    return CorpusWriter(
        spark,
        f"{root}/corpus",
        f"{root}/index",
        CurationConfig(),
        drift_monitor=True,
        drift_buckets=B,
    )


@pytest.fixture(scope="module")
def run(spark, batches, tmp_path_factory):
    """(writer, s1, ref_after_b1, s2): two admits with the monitor on,
    plus the materialized pre-admit-2 corpus for the equality pin."""
    root = str(tmp_path_factory.mktemp("driftw"))
    w = _writer(spark, root)
    s1 = w.admit(batches[0])
    ref = w.corpus().localCheckpoint(eager=True)
    s2 = w.admit(batches[1])
    return w, s1, ref, s2


def test_bootstrap_has_layer_but_no_drift_stats(run):
    w, s1, _, _ = run
    assert "drift_kl_fix" not in s1 and "drift_tv_fix" not in s1
    assert os.path.isdir(w._hist_dir())


def test_admit_drift_equals_standalone_corpus_drift(spark, batches, run):
    """The on-admit numbers ARE `corpus_drift(pre-admit corpus,
    batch survivors)` — same exact fixed-point integers."""
    w, _, ref, s2 = run
    cur = curate_frame(batches[1], CurationConfig())
    try:
        want = corpus_drift(spark, ref, cur.final, n_buckets=B).collect()[0]
    finally:
        cur.release()
    assert s2["drift_kl_fix"] == int(want["kl_fix"])
    assert s2["drift_tv_fix"] == int(want["tv_fix"])
    assert s2["drift_kl_fix"] > 0 or s2["drift_tv_fix"] > 0


def test_layer_sum_of_segments_equals_recount(spark, run):
    w, _, _, _ = run
    stored = sorted(
        tuple(r)
        for r in spark.read.parquet(w._hist_dir())
        .groupBy("b")
        .agg(F.sum("c").cast("long").alias("c"))
        .collect()
    )
    want = sorted(
        tuple(r) for r in corpus_hist(w.corpus(), B).collect()
    )
    assert stored == want


def test_resubmitted_corpus_measures_exactly_zero(run):
    """Identical distributions → kl_fix = tv_fix = 0 EXACTLY (the
    corpus_drift zero contract, now observable in the ingestion loop)."""
    w, _, _, _ = run
    resubmit = w.corpus().select(
        (F.col("doc_id") + 7_000_000).alias("doc_id"),
        "lang",
        "source",
        "text",
    )
    s = w.admit(resubmit)
    assert s["n_admitted"] == 0  # all exact dups
    assert s["drift_kl_fix"] == 0 and s["drift_tv_fix"] == 0


def test_compact_is_query_invisible(spark, run):
    w, _, _, _ = run
    before = sorted(
        tuple(r)
        for r in spark.read.parquet(w._hist_dir())
        .groupBy("b")
        .agg(F.sum("c").cast("long").alias("c"))
        .collect()
    )
    w.compact()
    after_df = spark.read.parquet(w._hist_dir())
    after = sorted(
        tuple(r)
        for r in after_df.groupBy("b")
        .agg(F.sum("c").cast("long").alias("c"))
        .collect()
    )
    assert before == after
    # collapsed to one segment's worth of rows (≤ one row per bucket)
    assert after_df.count() == after_df.select("b").distinct().count()


def test_marker_crash_heals_by_rebuild(spark, batches, run):
    """A crash mid-append leaves the marker; the next reader rebuilds
    the layer from the corpus instead of double-counting — the summed
    layer still equals the recount afterwards."""
    w, _, _, _ = run
    open(w._hist_marker(), "w").close()
    hist = w._hist_or_heal()
    assert not os.path.exists(w._hist_marker())
    stored = sorted(
        tuple(r)
        for r in hist.groupBy("b")
        .agg(F.sum("c").cast("long").alias("c"))
        .collect()
    )
    want = sorted(tuple(r) for r in corpus_hist(w.corpus(), B).collect())
    assert stored == want


def test_late_enablement_heals_from_corpus(spark, batches, tmp_path_factory):
    """A corpus admitted BEFORE drift_monitor=True: the first monitored
    admit rebuilds the layer from the corpus and still reports drift."""
    root = str(tmp_path_factory.mktemp("driftlate"))
    w0 = CorpusWriter(
        spark, f"{root}/corpus", f"{root}/index", CurationConfig()
    )
    s0 = w0.admit(
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "lang", "source", "text")
        .filter(F.col("doc_id") % 2 == 0)
    )
    assert "drift_kl_fix" not in s0
    w1 = _writer(spark, root)
    s1 = w1.admit(
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "lang", "source", "text")
        .filter(F.col("doc_id") % 2 == 1)
    )
    assert "drift_kl_fix" in s1
    stored = sorted(
        tuple(r)
        for r in spark.read.parquet(w1._hist_dir())
        .groupBy("b")
        .agg(F.sum("c").cast("long").alias("c"))
        .collect()
    )
    want = sorted(tuple(r) for r in corpus_hist(w1.corpus(), B).collect())
    assert stored == want


# -- embedding-side twin: IVF-cell occupancy drift -----------------------


@pytest.fixture(scope="module")
def erun(spark, tmp_path_factory):
    """(writer, s1, ref_hist_rows, batch2, s2) — two embedding admits
    with the monitor on; the pre-admit-2 reference histogram snapshot
    feeds the equality pin."""
    from kinesis_iterator_spark.pipeline import EmbeddingWriter

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1).persist()
    b2.count()
    root = str(tmp_path_factory.mktemp("edrift"))
    w = EmbeddingWriter(
        spark, f"{root}/store", f"{root}/ann", drift_monitor=True
    )
    s1 = w.admit(b1)
    ref = sorted(
        tuple(r)
        for r in w._hist_or_heal()
        .groupBy("b")
        .agg(F.sum("c").cast("long").alias("c"))
        .collect()
    )
    s2 = w.admit(b2)
    return w, s1, ref, b2, s2


def test_embedding_bootstrap_layer_no_stats(erun):
    w, s1, _, _, _ = erun
    assert "drift_kl_fix" not in s1
    assert os.path.isdir(w._hist_dir())


def test_embedding_admit_drift_equals_library(spark, erun):
    from kinesis_iterator_spark.queries.text import corpus_drift_from_hists

    w, _, ref, b2, s2 = erun
    assert "drift_kl_fix" in s2 and "drift_tv_fix" in s2
    ref_df = spark.createDataFrame(list(ref), "b long, c long")
    want = corpus_drift_from_hists(
        spark, ref_df, w._hist_of(b2), len(w._crows)
    ).collect()[0]
    assert s2["drift_kl_fix"] == int(want["kl_fix"])
    assert s2["drift_tv_fix"] == int(want["tv_fix"])


def test_embedding_layer_sum_equals_inverted_file(spark, erun):
    w, _, _, _, _ = erun
    stored = sorted(
        tuple(r)
        for r in spark.read.parquet(w._hist_dir())
        .groupBy("b")
        .agg(F.sum("c").cast("long").alias("c"))
        .collect()
    )
    want = sorted(tuple(r) for r in w._hist_source().collect())
    assert stored == want


def test_embedding_resubmitted_store_measures_zero(spark, erun):
    """A batch that IS the store (fresh ids) occupies exactly the same
    cells — kl_fix = tv_fix = 0 EXACTLY, and everything near-dup
    rejects."""
    w, _, _, _, _ = erun
    resubmit = w.store().select(
        (F.col("vec_id") + 9_000_000).alias("vec_id"), "label", "embedding"
    )
    s = w.admit(resubmit)
    assert s["n_admitted"] == 0
    assert s["drift_kl_fix"] == 0 and s["drift_tv_fix"] == 0


def test_embedding_compact_and_marker_heal(spark, erun):
    w, _, _, _, _ = erun
    before = sorted(
        tuple(r)
        for r in spark.read.parquet(w._hist_dir())
        .groupBy("b")
        .agg(F.sum("c").cast("long").alias("c"))
        .collect()
    )
    w.compact()
    after_df = spark.read.parquet(w._hist_dir())
    after = sorted(
        tuple(r)
        for r in after_df.groupBy("b")
        .agg(F.sum("c").cast("long").alias("c"))
        .collect()
    )
    assert before == after
    assert after_df.count() == after_df.select("b").distinct().count()
    # marker crash -> heal rebuilds ≡ the inverted-file recount
    open(w._hist_marker(), "w").close()
    hist = w._hist_or_heal()
    assert not os.path.exists(w._hist_marker())
    healed = sorted(
        tuple(r)
        for r in hist.groupBy("b")
        .agg(F.sum("c").cast("long").alias("c"))
        .collect()
    )
    assert healed == after


# -- drift POLICY (VERDICT r11 #3): thresholds, refusal, bucket pin ------


def test_drift_warn_flags_and_warns(spark, batches, tmp_path_factory):
    """drift_warn=(0,0): any nonzero drift sets drift_exceeded=1 and
    warns loudly; generous thresholds set the flag to 0 (the key is
    present whenever the policy is configured)."""
    root = str(tmp_path_factory.mktemp("driftwarn"))
    w = CorpusWriter(
        spark, f"{root}/corpus", f"{root}/index", CurationConfig(),
        drift_monitor=True, drift_buckets=B, drift_warn=(0, 0),
    )
    s1 = w.admit(batches[0])
    assert "drift_exceeded" not in s1  # bootstrap: nothing measured
    with pytest.warns(UserWarning, match="drifts from the stored corpus"):
        s2 = w.admit(batches[1])
    assert s2["drift_exceeded"] == 1
    # generous thresholds: flag present and 0, no warning
    root2 = str(tmp_path_factory.mktemp("driftwarn2"))
    big = (1 << 60, 1 << 60)
    w2 = CorpusWriter(
        spark, f"{root2}/corpus", f"{root2}/index", CurationConfig(),
        drift_monitor=True, drift_buckets=B, drift_warn=big,
    )
    w2.admit(batches[0])
    s2b = w2.admit(batches[1])
    assert s2b["drift_exceeded"] == 0


def test_drift_refuse_rejects_before_any_state_change(
    spark, batches, tmp_path_factory
):
    """drift_refuse=True: the batch is rejected with DriftExceeded and
    NO state changed — corpus rows, dedup digests, and the drift layer
    are byte-count identical before/after (the measurement runs
    pre-append by construction, so the refusal needs no rollback)."""
    from kinesis_iterator_spark.incremental import _dir_rows
    from kinesis_iterator_spark.pipeline import DriftExceeded

    root = str(tmp_path_factory.mktemp("driftrefuse"))
    w = CorpusWriter(
        spark, f"{root}/corpus", f"{root}/index", CurationConfig(),
        drift_monitor=True, drift_buckets=B,
        drift_warn=(0, 0), drift_refuse=True,
    )
    w.admit(batches[0])  # bootstrap admits (no pre-admit reference)
    before = (
        _dir_rows(w.corpus_dir),
        _dir_rows(f"{w.index_dir}/digests"),
        _dir_rows(w._hist_dir()),
    )
    with pytest.raises(DriftExceeded) as ei:
        w.admit(batches[1])
    assert ei.value.stats["drift_exceeded"] == 1
    after = (
        _dir_rows(w.corpus_dir),
        _dir_rows(f"{w.index_dir}/digests"),
        _dir_rows(w._hist_dir()),
    )
    assert after == before
    # the lease was released on the refusal (the finally contract)
    from kinesis_iterator_spark.incremental import _lease_path

    assert not os.path.exists(_lease_path(w.index_dir))


def test_drift_policy_guards(spark, tmp_path):
    from kinesis_iterator_spark.pipeline import EmbeddingWriter

    with pytest.raises(ValueError, match="drift_monitor"):
        CorpusWriter(
            spark, str(tmp_path / "c"), str(tmp_path / "i"),
            CurationConfig(), drift_warn=(0, 0),
        )
    with pytest.raises(ValueError, match="drift_warn"):
        CorpusWriter(
            spark, str(tmp_path / "c"), str(tmp_path / "i"),
            CurationConfig(), drift_monitor=True, drift_refuse=True,
        )
    with pytest.raises(ValueError, match="drift_monitor"):
        EmbeddingWriter(
            spark, str(tmp_path / "s"), str(tmp_path / "a"),
            drift_warn=(0, 0),
        )
    with pytest.raises(ValueError, match="drift_warn"):
        EmbeddingWriter(
            spark, str(tmp_path / "s"), str(tmp_path / "a"),
            drift_monitor=True, drift_reconcile=True,
        )
    with pytest.raises(ValueError, match="exclusive"):
        EmbeddingWriter(
            spark, str(tmp_path / "s"), str(tmp_path / "a"),
            drift_monitor=True, drift_warn=(0, 0),
            drift_refuse=True, drift_reconcile=True,
        )


@pytest.mark.slow
def test_drift_buckets_mismatch_rebuilds_under_new_domain(
    spark, batches, tmp_path_factory
):
    """ADVICE r11: the bucket count is pinned with the layer; a writer
    constructed with a DIFFERENT drift_buckets over existing state
    rebuilds the layer from the corpus under its own B (the heal path)
    instead of silently mixing hash domains — the reported drift
    equals the standalone corpus_drift at the new B, and the layer
    sums to the new-B recount."""
    from kinesis_iterator_spark.queries.text import corpus_drift, corpus_hist

    root = str(tmp_path_factory.mktemp("driftbuckets"))
    w256 = _writer(spark, root)  # B = 256
    w256.admit(batches[0])
    assert w256._stored_drift_buckets() == B
    ref = w256.corpus().localCheckpoint(eager=True)

    w64 = CorpusWriter(
        spark, f"{root}/corpus", f"{root}/index", CurationConfig(),
        drift_monitor=True, drift_buckets=64,
    )
    s2 = w64.admit(batches[1])
    cur = curate_frame(batches[1], CurationConfig())
    try:
        want = corpus_drift(spark, ref, cur.final, n_buckets=64).collect()[0]
    finally:
        cur.release()
    assert s2["drift_kl_fix"] == int(want["kl_fix"])
    assert s2["drift_tv_fix"] == int(want["tv_fix"])
    assert w64._stored_drift_buckets() == 64
    stored = sorted(
        tuple(r)
        for r in spark.read.parquet(w64._hist_dir())
        .groupBy("b")
        .agg(F.sum("c").cast("long").alias("c"))
        .collect()
    )
    want_hist = sorted(
        tuple(r) for r in corpus_hist(w64.corpus(), 64).collect()
    )
    assert stored == want_hist


def test_embedding_drift_refuse_before_state_change(
    spark, tmp_path_factory
):
    from kinesis_iterator_spark.incremental import _dir_rows
    from kinesis_iterator_spark.pipeline import DriftExceeded, EmbeddingWriter

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    neg = emb.select(
        (F.col("vec_id") + 5_000_000).alias("vec_id"),
        "label",
        F.expr("transform(embedding, x -> -x)").alias("embedding"),
    )
    root = str(tmp_path_factory.mktemp("edriftrefuse"))
    w = EmbeddingWriter(
        spark, f"{root}/store", f"{root}/ann",
        drift_monitor=True, drift_warn=(0, 0), drift_refuse=True,
    )
    w.admit(emb.filter(F.col("vec_id") % 2 == 0))
    before = _dir_rows(w.store_dir)
    with pytest.raises(DriftExceeded) as ei:
        w.admit(neg.filter(F.col("vec_id") % 2 == 0))
    assert ei.value.stats["drift_exceeded"] == 1
    assert _dir_rows(w.store_dir) == before


@pytest.mark.slow
def test_embedding_drift_reconcile_retrains_codebook(
    spark, tmp_path_factory
):
    """The r11 #8 stretch end-to-end: an injected distribution shift
    (negated vectors — they occupy the coarse quantizer's anti-cells)
    trips the threshold; the admit lands, then the writer retrains the
    codebook over the grown store (drift_reconciled=1). The restored
    balance is observable: a SECOND shifted batch measures strictly
    less drift than the first did, because the reference histogram and
    cell domain now cover the shifted mode."""
    from kinesis_iterator_spark.pipeline import EmbeddingWriter

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    def neg(pred, offset):
        return emb.filter(pred).select(
            (F.col("vec_id") + offset).alias("vec_id"),
            "label",
            F.expr("transform(embedding, x -> -x)").alias("embedding"),
        )

    root = str(tmp_path_factory.mktemp("edriftrec"))
    w = EmbeddingWriter(
        spark, f"{root}/store", f"{root}/ann",
        train_codebook=True, train_k=8, train_iters=2,
        drift_monitor=True, drift_warn=(0, 0), drift_reconcile=True,
    )
    w.admit(emb.filter(F.col("vec_id") % 2 == 0))
    s2 = w.admit(neg(F.col("vec_id") % 4 == 1, 5_000_000))
    assert s2["drift_exceeded"] == 1 and s2.get("drift_reconciled") == 1
    assert s2["n_admitted"] > 0  # the shifted data was ADMITTED, not lost
    # post-retrain invariants: the layer equals the fresh inverted-file
    # recount over the NEW codebook's domain
    stored = sorted(
        tuple(r)
        for r in spark.read.parquet(w._hist_dir())
        .groupBy("b")
        .agg(F.sum("c").cast("long").alias("c"))
        .collect()
    )
    want = sorted(tuple(r) for r in w._hist_source().collect())
    assert stored == want
    # the guardrail's point: the same shift now measures LESS drift
    s3 = w.admit(neg(F.col("vec_id") % 4 == 3, 6_000_000))
    assert s3["drift_kl_fix"] < s2["drift_kl_fix"]


@pytest.mark.slow
def test_stream_drift_trips_policy_and_retrain_rearms_guardrail(
    spark, tmp_path_factory
):
    """VERDICT r11 #8 stretch, the STREAMING composition: an Iterator
    (A5 handler / A6 checkpoint) feeds every trigger batch into an
    `EmbeddingWriter(drift_monitor, drift_warn, drift_reconcile)` —
    the reference's monitor-that-acts (A13), retold for data
    distribution. Polls derive 16-dim md5-mixed vectors from the
    record payloads (the `test_stream_feeds_embedding_writer_*`
    convention); an injected shift (+1.0 on dim 0) flips the stream's
    distribution mid-run. The pinned story (all values deterministic —
    measured kl_fix: normal 8_358, shifted 236_631, post-retrain mix
    64_964 vs the 150_000 threshold):

    - a same-distribution poll passes below threshold;
    - the shifted poll trips (`drift_exceeded=1`), is ADMITTED, and
      triggers the codebook retrain (`drift_reconciled=1`);
    - a post-reconcile poll matching the ADAPTED corpus mixture passes
      below threshold again — the guardrail re-armed around the new
      distribution instead of alarming forever."""
    from kinesis_iterator_spark.pipeline import EmbeddingWriter
    from kinesis_iterator_spark.streaming import (
        Iterator,
        JsonFileSaver,
        SimulatedShardedSource,
    )

    dims = ",".join(
        "cast((cast(conv(substring(md5(concat(pk, ':', payload, '"
        f"{j}')), 1, 15), 16, 10) as bigint) % 1000) / 1000.0 - 0.5 "
        "as float)"
        for j in range(16)
    )

    def rec2vec(df, mode):
        out = df.select(
            F.col("sequenceNumber").cast("long").alias("vec_id"),
            F.pmod(F.col("sequenceNumber").cast("long"), F.lit(97))
            .cast("int")
            .alias("label"),
            F.col("partitionKey").alias("pk"),
            F.decode("data", "UTF-8").alias("payload"),
        ).select("vec_id", "label", F.expr(f"array({dims})").alias("embedding"))
        if mode == "normal":
            return out
        cond = "TRUE" if mode == "shift" else "vec_id % 2 = 0"
        return out.select(
            "vec_id",
            "label",
            F.expr(
                f"CASE WHEN {cond} THEN transform(embedding, (x, i) -> "
                "CAST(CASE WHEN i = 0 THEN x + 1.0 ELSE x END AS FLOAT)) "
                "ELSE embedding END"
            ).alias("embedding"),
        )

    root = str(tmp_path_factory.mktemp("streamdrift"))
    w = EmbeddingWriter(
        spark,
        f"{root}/store",
        f"{root}/ann",
        tau=0.9,
        train_codebook=True,
        train_k=8,
        train_iters=2,
        drift_monitor=True,
        drift_warn=(150_000, 10**12),
        drift_reconcile=True,
    )
    stats: list[dict] = []
    mode = ["normal"]
    it = (
        Iterator(SimulatedShardedSource(spark, "/root/testdata/sf0.001", n_shards=4))
        .set_saver(JsonFileSaver(f"{root}/ck.json"))
        .set_fetch_limit(60)
        .foreach_batch(
            lambda df, e: stats.append(w.admit(rec2vec(df, mode[0])))
        )
    )
    for m in ("normal", "normal", "shift", "mix"):
        mode[0] = m
        it.run_until_drained(max_polls=1)

    boot, normal, shifted, mixed = stats
    # bootstrap: layer written, no pre-admit reference to drift against
    assert boot["n_admitted"] > 0 and "drift_kl_fix" not in boot
    # same-distribution poll: far below threshold, nothing acts
    assert normal["drift_exceeded"] == 0
    assert normal["drift_kl_fix"] < 150_000
    assert "drift_reconciled" not in normal
    # the shifted poll trips the policy, is admitted, and retrains
    assert shifted["drift_exceeded"] == 1
    assert shifted["drift_kl_fix"] > 150_000
    assert shifted["n_admitted"] > 100  # admitted, not lost
    assert shifted.get("drift_reconciled") == 1
    # post-reconcile, a batch matching the adapted mixture passes: the
    # reference histogram + cell domain now cover the shifted mode
    assert mixed["drift_exceeded"] == 0
    assert mixed["drift_kl_fix"] < 150_000
    assert mixed["drift_kl_fix"] < shifted["drift_kl_fix"]
    assert "drift_reconciled" not in mixed
    # the retrained reference is consistent: stored cell_hist layer ==
    # a fresh recount over the NEW codebook's inverted file
    stored = sorted(
        tuple(r)
        for r in spark.read.parquet(w._hist_dir())
        .groupBy("b")
        .agg(F.sum("c").cast("long").alias("c"))
        .collect()
    )
    want = sorted(tuple(r) for r in w._hist_source().collect())
    assert stored == want


def test_drift_layers_replay_as_of(spark, batches, tmp_path):
    """r14: `drift_refuse` makes the reference histogram
    ADMISSION-affecting state, so the layer is generation-pinned like
    every other — `drift_stats(batch, as_of=g)` replays the
    would-this-have-alarmed measurement of any recorded era bit-equal
    to the capture, prune names the horizon, compact/reconcile keep
    the head serving and refuse older pins."""
    from kinesis_iterator_spark import incremental

    b1, b2 = batches
    w = _writer(spark, tmp_path)
    probe = b2.limit(40).select(
        (F.col("doc_id") + 700000).alias("doc_id"), "lang", "source", "text"
    )
    cap = {}
    for g, b in ((1, b1), (2, b2)):
        assert w.admit(b)["snapshot"] == g
        cap[g] = w.drift_stats(probe)
    assert (
        incremental.snapshot_gens(f"{tmp_path}/index/drift_ref") == 2
    )
    for g in (1, 2):
        assert w.drift_stats(probe, as_of=g) == cap[g]
    # Not vacuous: the reference distribution changed between admits.
    assert cap[1] != cap[2]
    # Retention: prune below 2 — horizon named, head still bit-equal.
    out = w.prune_snapshots(2)
    assert out["drift_ref"] is True
    with pytest.raises(ValueError, match="retention horizon"):
        w.drift_stats(probe, as_of=1)
    assert w.drift_stats(probe, as_of=2) == cap[2]
    # compact() sums segments — reader-SUM equivalent, head servable.
    w.compact()
    assert w.drift_stats(probe, as_of=2) == cap[2]
    # reconcile(): rebuild collapses with the explicit reason.
    w.reconcile()
    with pytest.raises(ValueError, match="reconcile"):
        w.drift_stats(probe, as_of=1)
    assert w.drift_stats(probe, as_of=2) == cap[2]
    # Guard: a writer without the monitor has nothing to replay.
    w2 = CorpusWriter(
        spark, f"{tmp_path}/c2", f"{tmp_path}/i2", CurationConfig()
    )
    with pytest.raises(ValueError, match="drift_monitor"):
        w2.drift_stats(probe)


@pytest.mark.slow
def test_embedding_drift_layer_replay_as_of(spark, tmp_path):
    """The vector twin: cell_hist is generation-pinned;
    `EmbeddingWriter.drift_stats(emb, as_of=g)` replays the cell-drift
    measurement of any recorded era; prune covers the layer."""
    from kinesis_iterator_spark import incremental
    from kinesis_iterator_spark.pipeline import EmbeddingWriter

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    probe = b2.limit(40).select(
        (F.col("vec_id") + 700000).alias("vec_id"), "label", "embedding"
    )
    w = EmbeddingWriter(
        spark, f"{tmp_path}/store", f"{tmp_path}/ann", drift_monitor=True
    )
    cap = {}
    for g, b in ((1, b1), (2, b2)):
        assert w.admit(b)["snapshot"] == g
        cap[g] = w.drift_stats(probe)
    assert incremental.snapshot_gens(f"{tmp_path}/ann/cell_hist") == 2
    for g in (1, 2):
        assert w.drift_stats(probe, as_of=g) == cap[g]
    assert cap[1] != cap[2]
    out = w.prune_snapshots(2)
    assert out["cell_hist"] is True
    with pytest.raises(ValueError, match="retention horizon"):
        w.drift_stats(probe, as_of=1)
    assert w.drift_stats(probe, as_of=2) == cap[2]
