"""Byte reclamation below the retention horizon (VERDICT r14 #1).
`prune_snapshots` collapses manifest history but keeps every
pre-horizon file referenced by the merged base line;
`vacuum_data_snapshots` physically rewrites that base into
target-sized files (optionally dropping provably-invisible rows) and
drops the superseded pre-horizon files at the staged swap. Pins:
as_of >= horizon bit-equal before/after, measured byte shrink,
loud below-horizon refusals unchanged, crash-mid-vacuum self-heals,
composition with prune/compact in all orders, repeat-vacuum no-op,
dead-row elimination, and the writer-family `vacuum` (corpus + bands
masked-row reclamation with serve-equality)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kinesis_iterator_spark import incremental
from kinesis_iterator_spark.pipeline import CorpusWriter, EmbeddingWriter
from kinesis_iterator_spark.tables import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def doc(spark):
    d = load_table(spark, SF, "documents").select("doc_id", "text")
    d = d.persist()
    d.count()
    yield d
    d.unpersist()


def _build_history(spark, doc, d: str, n_gens: int = 6) -> dict:
    """n_gens generations of deliberately-fragmented small files (each
    admit writes 4 part files) — the small-files shape vacuum reclaims."""
    before = {}
    for g in range(n_gens):
        delta = doc.filter(F.col("doc_id") % n_gens == g)
        delta.repartition(4).write.mode("append").parquet(d)
        assert incremental.record_snapshot(d, n=delta.count()) == g + 1
    for g in range(1, n_gens + 1):
        before[g] = _rows(
            incremental.snapshot_read(spark, d, g).select("doc_id", "text")
        )
    return before


def test_vacuum_reclaims_bytes_and_keeps_post_horizon_reads(
    spark, doc, tmp_path
):
    d = f"{tmp_path}/data"
    before = _build_history(spark, doc, d)
    files_pre = set(incremental._data_files(d))
    out = incremental.vacuum_data_snapshots(spark, d, 4, ("doc_id",))
    assert out["vacuumed"] is True
    assert out["bytes_after"] < out["bytes_before"]
    assert out["files_after"] < out["files_before"]
    assert out["rows_dropped"] == 0
    # Reads at/above the horizon are bit-equal; below is loudly refused.
    for g in (4, 5, 6):
        assert (
            _rows(
                incremental.snapshot_read(spark, d, g).select(
                    "doc_id", "text"
                )
            )
            == before[g]
        )
    for g in (1, 2, 3):
        with pytest.raises(ValueError, match="retention horizon"):
            incremental.snapshot_files(d, g)
    # Post-horizon generations' files were carried byte-identical.
    recs = incremental._read_snapshots(d)
    for g in (5, 6):
        assert set(recs[g - 1]["files"]) <= files_pre
    # The base was rewritten under the vacuum prefix; pre-horizon
    # originals are gone from disk.
    assert recs[3]["files"] and all(
        os.path.basename(f).startswith("gen000004-vac-")
        for f in recs[3]["files"]
    )
    live_now = set(incremental._data_files(d))
    merged_old = {
        f
        for f in files_pre
        if f not in {x for r in recs[4:] for x in r["files"]}
    }
    assert not (merged_old & live_now)
    # Repeat vacuum at the same horizon: no-op.
    again = incremental.vacuum_data_snapshots(spark, d, 4, ("doc_id",))
    assert again["vacuumed"] is False
    assert again["bytes_after"] == out["bytes_after"]


def test_vacuum_composes_with_prune_and_compact(spark, doc, tmp_path):
    for order in ("prune_first", "compact_first", "vacuum_then_compact"):
        d = f"{tmp_path}/{order}"
        before = _build_history(spark, doc, d, n_gens=4)
        if order == "prune_first":
            incremental.prune_snapshots(d, 3)
            incremental.vacuum_data_snapshots(spark, d, 3, ("doc_id",))
        elif order == "compact_first":
            incremental.compact_data_snapshots(spark, d, ("doc_id",))
            incremental.vacuum_data_snapshots(spark, d, 3, ("doc_id",))
        else:
            incremental.vacuum_data_snapshots(spark, d, 3, ("doc_id",))
            incremental.compact_data_snapshots(spark, d, ("doc_id",))
        for g in (3, 4):
            assert (
                _rows(
                    incremental.snapshot_read(spark, d, g).select(
                        "doc_id", "text"
                    )
                )
                == before[g]
            ), order
        with pytest.raises(ValueError, match="collapsed|horizon"):
            incremental.snapshot_files(d, 1)
        # Later admits keep appending generations afterwards.
        delta = doc.limit(5)
        delta.write.mode("append").parquet(d)
        assert incremental.record_snapshot(d) == 5
        assert (
            incremental.snapshot_read(spark, d, 5)
            .select("doc_id", "text")
            .count()
            == len(before[4]) + 5
        )


def test_vacuum_crash_mid_swap_heals(spark, doc, tmp_path, monkeypatch):
    """A crash inside the staged swap (live dir renamed away, stage not
    yet renamed in) self-heals at the next recover_data_dir — the stage
    is complete before the first rename, so the heal rolls FORWARD to
    the vacuumed state."""
    d = f"{tmp_path}/data"
    before = _build_history(spark, doc, d)

    calls = {"n": 0}

    def boom(name):
        calls["n"] += 1
        raise RuntimeError("injected crash mid-swap")

    monkeypatch.setattr(incremental, "_swap_midpoint_hook", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        incremental.vacuum_data_snapshots(spark, d, 4, ("doc_id",))
    monkeypatch.setattr(incremental, "_swap_midpoint_hook", None)
    assert calls["n"] == 1
    assert not os.path.isdir(d)  # mid-swap state on disk
    incremental.recover_data_dir(d)
    for g in (4, 5, 6):
        assert (
            _rows(
                incremental.snapshot_read(spark, d, g).select(
                    "doc_id", "text"
                )
            )
            == before[g]
        )
    recs = incremental._read_snapshots(d)
    assert all(
        os.path.basename(f).startswith("gen000004-vac-")
        for f in recs[3]["files"]
    )


def test_vacuum_dead_rows_are_dropped(spark, doc, tmp_path):
    """`dead` rows (caller-proven invisible to every as_of >= horizon
    serve) are physically removed from the rewritten base."""
    d = f"{tmp_path}/data"
    _build_history(spark, doc, d, n_gens=3)
    base_ids = {
        r["doc_id"]
        for r in incremental.snapshot_read(spark, d, 2)
        .select("doc_id")
        .collect()
    }
    dead_ids = sorted(base_ids)[:10]
    dead = spark.createDataFrame(
        [(i,) for i in dead_ids], "doc_id long"
    )
    out = incremental.vacuum_data_snapshots(
        spark, d, 2, ("doc_id",), dead=dead
    )
    assert out["rows_dropped"] == len(dead_ids)
    got = {
        r["doc_id"]
        for r in incremental.snapshot_read(spark, d, 2)
        .select("doc_id")
        .collect()
    }
    assert got == base_ids - set(dead_ids)
    recs = incremental._read_snapshots(d)
    assert recs[1]["n"] == len(got)


def test_corpus_writer_vacuum_reclaims_and_serves_equal(spark, tmp_path):
    """Writer-family vacuum: corpus bytes shrink, corpus(as_of >=
    horizon) is bit-equal, the dedup classifier serves IDENTICAL
    verdicts at every surviving generation (bands masked-row
    reclamation is serve-invisible), and below-horizon replay stays
    loudly refused."""
    doc = load_table(spark, SF, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    w = CorpusWriter(
        spark,
        f"{tmp_path}/corpus",
        f"{tmp_path}/index",
        bm25_index=True,
        drift_monitor=True,
    )
    for m in range(3):
        w.admit(doc.filter(F.col("doc_id") % 3 == m))
    probe = doc.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    corpus_before = {
        g: _rows(w.corpus(as_of=g).select("doc_id", "text"))
        for g in (2, 3)
    }
    verdicts_before = {
        g: _rows(
            incremental.dedup_against_index(
                spark,
                probe,
                f"{tmp_path}/index",
                w.corpus(as_of=g).select("doc_id", "text"),
                as_of=g,
            )
        )
        for g in (2, 3)
    }
    bm_before = _rows(
        w.bm25_topk(["scan", "column", "window"], topk=10, as_of=2)
    )
    drift_before = w.drift_stats(probe, as_of=2)
    bytes_before = incremental._dir_bytes(f"{tmp_path}/corpus")
    out = w.vacuum(2)
    assert out["corpus"]["vacuumed"] is True
    assert out["corpus"]["bytes_after"] < bytes_before
    # Reclamation FLOOR (VERDICT r15 #7): the corpus vacuum must
    # actually reclaim layout overhead, not degrade into a no-op
    # rewrite — measured 0.75× at 3 admits / horizon 2 (0.58× at the
    # 8-admit tools/vacuum_bytes.py scenario); 0.9× leaves format
    # headroom while catching a silent 1.0× regression.
    assert out["corpus"]["bytes_after"] <= 0.9 * bytes_before
    # Flat derived layers consolidated too, as-of serving identical.
    for name in ("digests", "postings", "df", "doclen", "drift_ref"):
        assert out[name]["vacuumed"] is True, name
    # Tombstones (VERDICT r15 #5): the layer's per-admit FILES are
    # consolidated (it ran under the vacuum), but every tombstone ROW
    # survives — dropping any would re-enable a capped bucket whose
    # pre-horizon members are physically gone. With no over-cap bucket
    # in this fixture the layer is all zero-row files and collapses to
    # an empty base; either way no rows may be lost.
    assert "dropped" in out
    assert out["dropped"]["rows_dropped"] == 0
    drop_dir = f"{tmp_path}/index/dropped"
    assert incremental._files_rows(
        [
            f"{drop_dir}/{f}"
            for f in incremental._data_files(drop_dir)
        ]
    ) == 0  # fixture never exceeds the cap; rows preserved exactly
    assert (
        _rows(w.bm25_topk(["scan", "column", "window"], topk=10, as_of=2))
        == bm_before
    )
    assert w.drift_stats(probe, as_of=2) == drift_before
    for g in (2, 3):
        assert (
            _rows(w.corpus(as_of=g).select("doc_id", "text"))
            == corpus_before[g]
        )
        assert (
            _rows(
                incremental.dedup_against_index(
                    spark,
                    probe,
                    f"{tmp_path}/index",
                    w.corpus(as_of=g).select("doc_id", "text"),
                    as_of=g,
                )
            )
            == verdicts_before[g]
        )
    with pytest.raises(ValueError, match="horizon|collapsed"):
        w.corpus(as_of=1).count()
    # A later admit keeps appending generations.
    s = w.admit(doc.filter(F.col("doc_id") % 3 == 0))
    assert s["snapshot"] == 4


def test_vacuum_drops_masked_band_rows_serve_equal(spark, doc, tmp_path):
    """Band rows whose bucket a generation <= horizon tombstone masks
    are anti-joined away by EVERY as_of >= horizon serve — vacuum with
    `dead` = the horizon tombstones physically deletes them and
    `dedup_against_index` stays row-identical. Masked REMNANTS arise
    only by cross-batch accumulation: batch 1 stores a bucket under the
    cap, batch 2 overflows the same bucket within itself and records
    the tombstone."""
    from kinesis_iterator_spark.queries.dedup import MAX_BUCKET

    idx = f"{tmp_path}/index"
    same = "identical boilerplate body shared verbatim by every doc"

    def _copies(n, start):
        return spark.range(n).select(
            (F.col("id") + start).alias("doc_id"),
            F.lit(same).alias("text"),
        )

    g1 = _copies(MAX_BUCKET - 24, 1000)  # under the cap: rows stored
    g2 = _copies(MAX_BUCKET + 6, 2000)  # over within the batch: dropped
    incremental.write_index(g1, idx)
    for name in ("digests", "bands", "dropped"):
        incremental.record_aligned_snapshot(f"{idx}/{name}", 1)
    incremental.extend_index(g2, idx)
    for name in ("digests", "bands", "dropped"):
        incremental.record_aligned_snapshot(f"{idx}/{name}", 2)
    assert incremental._dir_rows(f"{idx}/dropped") > 0
    corpus = g1.unionByName(g2)
    probe = _copies(3, 9000).unionByName(
        doc.limit(2).select("doc_id", "text")
    )
    before = {
        g: _rows(
            incremental.dedup_against_index(
                spark, probe, idx, corpus, as_of=g
            )
        )
        for g in (2,)
    }
    before_full = _rows(
        incremental.dedup_against_index(spark, probe, idx, corpus)
    )
    dead = incremental._read_dropped(spark, idx, as_of=2)
    assert dead is not None
    rows_before = incremental._dir_rows(f"{idx}/bands")
    out = incremental.vacuum_data_snapshots(
        spark, f"{idx}/bands", 2, ("band_id", "band_key"), dead=dead
    )
    assert out["rows_dropped"] > 0
    assert incremental._dir_rows(f"{idx}/bands") < rows_before
    assert (
        _rows(
            incremental.dedup_against_index(
                spark, probe, idx, corpus, as_of=2
            )
        )
        == before[2]
    )
    assert (
        _rows(incremental.dedup_against_index(spark, probe, idx, corpus))
        == before_full
    )
    # The DROPPED layer itself (VERDICT r15 #5): consolidation-only
    # vacuum — every tombstone ROW must survive (it keeps the capped
    # bucket masked against post-vacuum appends forever), and serving
    # stays identical after the layer's small files collapse.
    tomb_before = incremental._dir_rows(f"{idx}/dropped")
    vout = incremental.vacuum_data_snapshots(
        spark, f"{idx}/dropped", 2, ("band_id", "band_key")
    )
    assert vout["rows_dropped"] == 0
    assert incremental._dir_rows(f"{idx}/dropped") == tomb_before
    assert (
        _rows(
            incremental.dedup_against_index(
                spark, probe, idx, corpus, as_of=2
            )
        )
        == before[2]
    )


@pytest.mark.slow
def test_embedding_writer_vacuum(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    w = EmbeddingWriter(
        spark, f"{tmp_path}/store", f"{tmp_path}/ann", tau=0.9,
        pq_layer=True, drift_monitor=True,
    )
    for m in range(3):
        w.admit(emb.filter(F.col("vec_id") % 3 == m))
    q = [float(v) for v in emb.orderBy("vec_id").first()["embedding"]]
    probe = emb.filter(F.col("vec_id") % 11 == 5).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    before = {
        g: sorted(r["vec_id"] for r in w.store(as_of=g).collect())
        for g in (2, 3)
    }
    served_before = _rows(w.pq_topk(q, topk=5, as_of=2))
    drift_before = w.drift_stats(probe, as_of=2)
    sig_before = _rows(
        incremental.embedding_dedup_against_index(
            spark,
            probe,
            f"{tmp_path}/ann",
            corpus_emb=w.store(as_of=2),
            tau=0.9,
            as_of=2,
        )
    )
    out = w.vacuum(2)
    assert out["store"]["vacuumed"] is True
    assert out["store"]["bytes_after"] < out["store"]["bytes_before"]
    # Derived layers are vacuumed too (consolidation-only), including
    # the hive-partitioned signatures (partition dirs re-emitted).
    for name in (
        "ivf_assignment",
        "bucket_sizes",
        "pq_codes",
        "lsh_signatures",
        # ADVICE r15: the drift layer's per-admit segments are byte-
        # reclaimed too, mirroring CorpusWriter.vacuum's drift_ref.
        "cell_hist",
    ):
        assert out[name]["vacuumed"] is True, name
        assert out[name]["rows_dropped"] == 0, name
    assert any(
        d.startswith("table_id=")
        for d in os.listdir(f"{tmp_path}/ann/lsh_signatures")
    )
    for g in (2, 3):
        assert (
            sorted(r["vec_id"] for r in w.store(as_of=g).collect())
            == before[g]
        )
    # From-index serving at the horizon is row-identical after vacuum
    # (PQ codes AND the signature-served classifier replay).
    assert _rows(w.pq_topk(q, topk=5, as_of=2)) == served_before
    assert w.drift_stats(probe, as_of=2) == drift_before
    assert (
        _rows(
            incremental.embedding_dedup_against_index(
                spark,
                probe,
                f"{tmp_path}/ann",
                corpus_emb=w.store(as_of=2),
                tau=0.9,
                as_of=2,
            )
        )
        == sig_before
    )
    with pytest.raises(ValueError, match="horizon|collapsed"):
        w.store(as_of=1).count()
    s = w.admit(emb.filter(F.col("vec_id") % 3 == 0))
    assert s["snapshot"] == 4


def _manifest_dirs(index_dir: str) -> set[str]:
    """Basenames of the dirs under ``index_dir`` that hold a snapshot
    manifest — the layers a writer generation-pins."""
    return {
        os.path.basename(root)
        for root, _, files in os.walk(index_dir)
        if incremental.SNAPSHOT_NAME in files
    }


@pytest.mark.parametrize("kind", ["text", "embedding"])
def test_layer_table_covers_every_generation_pinned_layer(
    spark, tmp_path, kind
):
    """Each writer's layer table is the one list prune and vacuum walk,
    so it must name every generation-pinned layer: with every optional
    layer on, the dirs holding a manifest are exactly the layer keys of
    prune_snapshots(1). A layer added later but left out of the table
    (never pruned, never vacuumed) fails here. Prune is driver-side:
    zero Spark jobs. One admit: the bootstrap records every layer's
    manifest, and a later admit adds no layer dir. The bootstrap runs
    the reconcile body and its one recording walk, so every manifest
    holds exactly the data of record's generations (lockstep)."""
    from kinesis_iterator_spark.pipeline import CurationConfig

    if kind == "text":
        batch = load_table(spark, SF, "documents").select(
            "doc_id", "lang", "source", "text"
        )
        key, data_key = "doc_id", "corpus"
        w = CorpusWriter(
            spark, f"{tmp_path}/corpus", f"{tmp_path}/index",
            CurationConfig(dedup_paragraphs=True, dedup_exact_substr=True),
            bm25_index=True, drift_monitor=True,
        )
    else:
        batch = load_table(spark, SF, "embeddings")
        key, data_key = "vec_id", "store"
        w = EmbeddingWriter(
            spark, f"{tmp_path}/store", f"{tmp_path}/index",
            pq_layer=True, pq_residual=True, pq_iters=1, drift_monitor=True,
        )
    w.admit(batch.filter(F.col(key) % 10 == 0))
    gens = {
        os.path.relpath(root, w.index_dir): incremental.snapshot_gens(root)
        for root, _, files in os.walk(w.index_dir)
        if incremental.SNAPSHOT_NAME in files
    }
    assert gens and set(gens.values()) == {w.snapshots()}, gens
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = sched.nextJobId()
    out = w.prune_snapshots(1)
    assert sched.nextJobId() == jobs
    assert set(out) - {data_key} == _manifest_dirs(w.index_dir)
