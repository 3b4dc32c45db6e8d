"""Admission snapshots (round 12): the corpus/store dirs are
append-only after bootstrap, so a per-admit manifest of the parquet
files each admission committed (`incremental.record_snapshot`, one
JSONL line, zero Spark jobs) gives exact as-of reads —
`CorpusWriter.corpus(as_of=g)` / `EmbeddingWriter.store(as_of=g)`
return the data of record exactly as it stood after recorded
admission g: reproducible training snapshots and reader isolation
from in-flight admits. Pins: per-admit equality, full-read identity,
unattributed-files crash contract, torn-tail tolerance, loud
failures on unknown generations and manifest-less dirs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kinesis_iterator_spark import incremental
from kinesis_iterator_spark.pipeline import (
    CorpusWriter,
    CurationConfig,
    EmbeddingWriter,
)
from kinesis_iterator_spark.tables import load_table

SF = "/root/testdata/sf0.001"


def _ids(df, col):
    return sorted(r[col] for r in df.select(col).collect())


def test_embedding_store_as_of_every_generation(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    w = EmbeddingWriter(
        spark, str(tmp_path / "store"), str(tmp_path / "ann"), tau=0.9
    )
    seen: list[list[int]] = []
    stats = []
    for m in range(3):
        s = w.admit(emb.filter(F.col("vec_id") % 3 == m))
        stats.append(s)
        seen.append(_ids(w.store(), "vec_id"))
    assert [s["snapshot"] for s in stats] == [1, 2, 3]
    assert incremental.snapshot_gens(str(tmp_path / "store")) == 3
    assert w.snapshots() == 3
    for g in (1, 2, 3):
        assert _ids(w.store(as_of=g), "vec_id") == seen[g - 1]
    # the latest snapshot IS the full read
    assert _ids(w.store(as_of=3), "vec_id") == _ids(w.store(), "vec_id")
    # a replayed batch admits nothing but still records a generation
    # (its delta is empty or an empty part file) — as-of stays exact
    s = w.admit(emb.filter(F.col("vec_id") % 3 == 0))
    assert s["n_admitted"] == 0 and s["snapshot"] == 4
    assert _ids(w.store(as_of=4), "vec_id") == seen[-1]


def test_corpus_as_of_and_bootstrap_restart(spark, tmp_path):
    doc = load_table(spark, SF, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    w = CorpusWriter(
        spark,
        str(tmp_path / "corpus"),
        str(tmp_path / "index"),
        CurationConfig(),
    )
    s1 = w.admit(doc.filter(F.col("doc_id") % 2 == 0))
    ids1 = _ids(w.corpus(), "doc_id")
    s2 = w.admit(doc.filter(F.col("doc_id") % 2 == 1))
    assert (s1["snapshot"], s2["snapshot"]) == (1, 2)
    assert _ids(w.corpus(as_of=1), "doc_id") == ids1
    assert _ids(w.corpus(as_of=2), "doc_id") == _ids(w.corpus(), "doc_id")
    # a FRESH bootstrap (new dirs) restarts generations at 1 — the
    # overwrite clears the manifest with the data it described
    w2 = CorpusWriter(
        spark,
        str(tmp_path / "corpus2"),
        str(tmp_path / "index2"),
        CurationConfig(),
    )
    s = w2.admit(doc.filter(F.col("doc_id") % 2 == 0))
    assert s["snapshot"] == 1
    assert incremental.snapshot_gens(str(tmp_path / "corpus2")) == 1
    assert w2.snapshots() == 1 and w.snapshots() == 2


def test_crash_before_manifest_line_keeps_snapshots_consistent(
    spark, tmp_path
):
    """Files committed by an admit that crashed BEFORE its manifest
    line stay invisible to as-of reads (snapshots consistent) while
    the full read stays complete, and the NEXT recorded admission
    sweeps them into its generation."""
    emb = load_table(spark, SF, "embeddings")
    w = EmbeddingWriter(
        spark, str(tmp_path / "store"), str(tmp_path / "ann"), tau=0.9
    )
    w.admit(emb.filter(F.col("vec_id") % 3 == 0))
    ids1 = _ids(w.store(), "vec_id")
    w.admit(emb.filter(F.col("vec_id") % 3 == 1))
    # simulate the crash window: drop the SECOND admit's manifest line
    path = incremental._snapshot_path(str(tmp_path / "store"))
    lines = open(path).read().splitlines(keepends=True)
    with open(path, "w") as fh:
        fh.write(lines[0])
    assert incremental.snapshot_gens(str(tmp_path / "store")) == 1
    assert _ids(w.store(as_of=1), "vec_id") == ids1  # consistent
    full = _ids(w.store(), "vec_id")
    assert set(ids1) < set(full)  # full read still complete
    # next recorded admission attributes the orphaned files
    s3 = w.admit(emb.filter(F.col("vec_id") % 3 == 2))
    assert s3["snapshot"] == 2
    assert _ids(w.store(as_of=2), "vec_id") == _ids(w.store(), "vec_id")


def test_one_recording_walk_records_maintained_layers_only(
    spark, tmp_path, monkeypatch
):
    """The layer table drives the recording walk: a writer records only
    the layers it maintains (the bm25/* relations an earlier
    ``bm25_index=True`` writer left gain no line under a writer without
    the flag), and an admit whose walk never ran leaves every layer of
    it a generation behind. The next admit's walk collapses those, and
    the data of record keeps every generation."""
    doc = load_table(spark, SF, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    corpus, index = str(tmp_path / "corpus"), str(tmp_path / "index")
    s1 = CorpusWriter(spark, corpus, index, bm25_index=True).admit(
        doc.filter(F.col("doc_id") % 10 == 0)
    )
    bm25 = [f"{index}/bm25/{n}" for n in ("postings", "df", "doclen")]
    assert [incremental.snapshot_gens(d) for d in bm25] == [1, 1, 1]
    w = CorpusWriter(spark, corpus, index)

    def crash(*a, **k):
        raise RuntimeError("crash inside the recording walk")

    monkeypatch.setattr(incremental, "record_aligned_snapshot", crash)
    with pytest.raises(RuntimeError, match="recording walk"):
        w.admit(doc.filter(F.col("doc_id") % 10 == 1))
    monkeypatch.undo()
    s3 = w.admit(doc.filter(F.col("doc_id") % 10 == 2))
    assert (s1["snapshot"], s3["snapshot"]) == (1, 3)
    assert [incremental.snapshot_gens(d) for d in bm25] == [1, 1, 1]
    for name in ("digests", "bands", "dropped"):
        d = f"{index}/{name}"
        assert incremental.snapshot_gens(d) == 3
        assert incremental.snapshot_files(d, 3)
        with pytest.raises(ValueError, match="collapsed"):
            incremental.snapshot_files(d, 1)
    n2 = incremental._read_snapshots(corpus)[1]["n"]
    n1, n3 = s1["n_admitted"], s3["n_admitted"]
    assert n1 and n2 and n3
    assert [w.corpus(as_of=g).count() for g in (1, 2, 3)] == [
        n1, n1 + n2, n1 + n2 + n3,
    ]


def test_torn_tail_line_is_skipped(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    w = EmbeddingWriter(
        spark, str(tmp_path / "store"), str(tmp_path / "ann"), tau=0.9
    )
    w.admit(emb.filter(F.col("vec_id") < 100))
    path = incremental._snapshot_path(str(tmp_path / "store"))
    with open(path, "a") as fh:
        fh.write('{"files": ["part-torn')  # crash mid-append
    assert incremental.snapshot_gens(str(tmp_path / "store")) == 1
    assert len(_ids(w.store(as_of=1), "vec_id")) > 0


def test_loud_on_unknown_generation_and_manifestless_dir(
    spark, tmp_path
):
    emb = load_table(spark, SF, "embeddings")
    w = EmbeddingWriter(
        spark, str(tmp_path / "store"), str(tmp_path / "ann"), tau=0.9
    )
    w.admit(emb.filter(F.col("vec_id") < 50))
    with pytest.raises(ValueError, match="out of range"):
        w.store(as_of=7)
    # pre-snapshot layout: data without a manifest
    os.remove(incremental._snapshot_path(str(tmp_path / "store")))
    with pytest.raises(ValueError, match="no admission snapshots"):
        w.store(as_of=1)
    assert len(_ids(w.store(), "vec_id")) > 0  # plain read unaffected


def test_manifest_invisible_to_scans_and_footer_counts(spark, tmp_path):
    """The `_`-prefixed manifest must be ignored by Spark's file
    index, by pyarrow discovery (`_dir_rows`), and by the snapshot
    file lister itself."""
    emb = load_table(spark, SF, "embeddings")
    w = EmbeddingWriter(
        spark, str(tmp_path / "store"), str(tmp_path / "ann"), tau=0.9
    )
    s = w.admit(emb.filter(F.col("vec_id") < 100))
    d = str(tmp_path / "store")
    assert incremental.SNAPSHOT_NAME in os.listdir(d)
    assert w.store().count() == s["n_admitted"]  # Spark scan unaffected
    assert incremental._dir_rows(d) == s["n_admitted"]
    assert not any(
        incremental.SNAPSHOT_NAME in f
        for f in incremental.snapshot_files(d, 1)
    )


def test_torn_tail_newline_guard_confines_damage(tmp_path):
    """A crash mid-append can leave a manifest line without its newline;
    the NEXT append must not concatenate onto it (both records would
    become one unparseable line and every later generation number would
    silently shift). The guard writes a leading newline, so a torn
    write only ever costs its own line (ADVICE r12)."""
    d = tmp_path / "data"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"")
    assert incremental.record_snapshot(str(d), n=1) == 1
    # Simulate the torn append: a partial JSON line, no trailing newline.
    with open(incremental._snapshot_path(str(d)), "a") as fh:
        fh.write('{"files": ["b.par')
    (d / "b.parquet").write_bytes(b"")
    assert incremental.record_snapshot(str(d), n=1) == 2
    assert incremental.snapshot_gens(str(d)) == 2
    assert [os.path.basename(p) for p in incremental.snapshot_files(str(d), 2)] == [
        "a.parquet",
        "b.parquet",
    ]


def test_as_of_over_only_empty_deltas_is_loud(tmp_path):
    """Generations whose accumulated file list is empty (e.g. a
    bootstrap admit whose survivors wrote zero part files) must raise
    the module's descriptive ValueError, not hand spark.read.parquet()
    an empty path list (opaque py4j failure — ADVICE r12)."""
    d = tmp_path / "data"
    d.mkdir()
    assert incremental.record_snapshot(str(d)) == 1  # empty delta
    with pytest.raises(ValueError, match="no data files"):
        incremental.snapshot_files(str(d), 1)
    # A later generation that does commit files reads fine.
    (d / "a.parquet").write_bytes(b"")
    assert incremental.record_snapshot(str(d)) == 2
    assert len(incremental.snapshot_files(str(d), 2)) == 1


def test_data_files_skip_hidden_components(tmp_path):
    """`_data_files` prunes _/. prefixed path components, matching
    Spark/pyarrow dataset discovery (ADVICE r13): parquet files left
    under a crashed write's _temporary/ must never be swept into a
    generation manifest or the compactor's carry-over."""
    d = tmp_path / "data"
    (d / "_temporary" / "0").mkdir(parents=True)
    (d / ".stage").mkdir()
    (d / "part-0.parquet").write_bytes(b"")
    (d / "table_id=7").mkdir()
    (d / "table_id=7" / "part-1.parquet").write_bytes(b"")
    (d / "_temporary" / "0" / "part-x.parquet").write_bytes(b"")
    (d / ".stage" / "part-y.parquet").write_bytes(b"")
    (d / "._committed.parquet").write_bytes(b"")
    (d / "_metadata.parquet").write_bytes(b"")
    assert incremental._data_files(str(d)) == [
        "part-0.parquet",
        os.path.join("table_id=7", "part-1.parquet"),
    ]


def test_unlocked_read_recovery_keeps_foreign_stage(spark, tmp_path):
    """ADVICE r13: corpus()/store() heal at every read, but a reader is
    not fenced by the writer lease — a `.compact` stage next to an
    INTACT live dir may be another process's in-flight compaction and
    must survive the read path. The lease-held entry points (admit /
    compact, locked=True) still discard it; a MISSING live dir still
    rolls forward either way."""
    doc = load_table(spark, SF, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    w = CorpusWriter(spark, f"{tmp_path}/corpus", f"{tmp_path}/index")
    w.admit(doc.filter(F.col("doc_id") % 7 == 0))
    stage = f"{tmp_path}/corpus.compact"
    os.makedirs(stage)
    with open(os.path.join(stage, "marker.parquet"), "w") as fh:
        fh.write("")
    n = w.corpus().count()  # unlocked read: stage untouched
    assert n > 0
    assert os.path.isdir(stage)
    incremental.recover_data_dir(f"{tmp_path}/corpus", locked=True)
    assert not os.path.isdir(stage)
    # Missing live dir: the read path DOES roll forward (that state is
    # never in-flight — it is bracketed by the compactor's renames).
    os.rename(f"{tmp_path}/corpus", stage)
    assert not os.path.isdir(f"{tmp_path}/corpus")
    assert w.corpus().count() == n
    assert os.path.isdir(f"{tmp_path}/corpus")


def test_late_alignment_reason_is_surfaced(tmp_path):
    """ADVICE r13: when `record_aligned_snapshot` collapses a layer
    that never had a manifest (generation pinning enabled mid-history),
    the as-of refusal says the layer PREDATES pinning instead of
    implying a compaction destroyed history."""
    d = tmp_path / "layer"
    d.mkdir()
    (d / "seg-0.parquet").write_bytes(b"")
    incremental.record_aligned_snapshot(str(d), 3)
    assert incremental.snapshot_gens(str(d)) == 3
    with pytest.raises(ValueError, match="predates generation pinning"):
        incremental.snapshot_files(str(d), 1)
    with pytest.raises(ValueError, match="predates generation pinning"):
        incremental.snapshot_extra(str(d), 2)
    assert incremental.snapshot_files(str(d), 3) == [
        str(d / "seg-0.parquet")
    ]
    # A genuine rewrite keeps the default collapse wording.
    d2 = tmp_path / "layer2"
    d2.mkdir()
    (d2 / "a.parquet").write_bytes(b"")
    incremental.record_snapshot(str(d2))
    (d2 / "b.parquet").write_bytes(b"")
    incremental.record_snapshot(str(d2))
    incremental.collapse_snapshots(str(d2), 2)
    with pytest.raises(ValueError, match="compaction/reconcile"):
        incremental.snapshot_files(str(d2), 1)


def test_read_query_vec_loud_failures(tmp_path):
    """ADVICE r13: the registry entry's driver-side point read fails
    descriptively on a zero-row-group file and on a file without the
    vec_id column (bare StopIteration / opaque pyarrow index errors
    otherwise)."""
    import pyarrow as pa
    import pyarrow.parquet as pa_pq

    from kinesis_iterator_spark.queries.retrieval import read_query_vec

    empty = tmp_path / "empty.parquet"
    schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])
    pa_pq.ParquetWriter(str(empty), schema).close()
    with pytest.raises(ValueError, match="no row groups"):
        read_query_vec(str(empty), 0)

    noid = tmp_path / "noid.parquet"
    pa_pq.write_table(pa.table({"x": [1, 2, 3]}), str(noid))
    with pytest.raises(ValueError, match="no 'vec_id' column"):
        read_query_vec(str(noid), 0)


def test_prune_snapshots_semantics_and_compactor_interplay(
    spark, tmp_path
):
    """Manifest retention (VERDICT r13 #3): `prune_snapshots(d, g0)`
    collapses generations < g0 into g0 — as_of >= g0 bit-equal
    before/after, older pins fail loudly naming the horizon, the base
    line inherits file attributions and sums the row deltas; the
    rewrite is idempotent and composes with `compact_data_snapshots`
    in BOTH orders."""
    doc = load_table(spark, SF, "documents").select("doc_id", "text")
    d = f"{tmp_path}/data"
    ns = []
    for g in range(4):
        delta = doc.filter(F.col("doc_id") % 4 == g)
        delta.write.mode("append").parquet(d)
        ns.append(delta.count())
        assert incremental.record_snapshot(d, n=ns[-1]) == g + 1
    before = {
        g: sorted(
            r["doc_id"]
            for r in incremental.snapshot_read(spark, d, g).collect()
        )
        for g in range(1, 5)
    }
    assert incremental.prune_snapshots(d, 3) is True
    for g in (3, 4):
        assert (
            sorted(
                r["doc_id"]
                for r in incremental.snapshot_read(spark, d, g).collect()
            )
            == before[g]
        )
    for g in (1, 2):
        with pytest.raises(ValueError, match="retention horizon"):
            incremental.snapshot_files(d, g)
    recs = incremental._read_snapshots(d)
    assert recs[2]["n"] == ns[0] + ns[1] + ns[2]  # merged row deltas
    assert recs[3]["n"] == ns[3]
    # Idempotent; horizon 1 is a no-op; deeper-than-existing is a no-op.
    assert incremental.prune_snapshots(d, 3) is False
    assert incremental.prune_snapshots(d, 1) is False
    assert incremental.prune_snapshots(d, 2) is False
    # prune → compact: the merged base generation rewrites into
    # gen-prefixed files; every servable as_of stays bit-equal.
    incremental.compact_data_snapshots(spark, d, ("doc_id",))
    for g in (3, 4):
        assert (
            sorted(
                r["doc_id"]
                for r in incremental.snapshot_read(spark, d, g).collect()
            )
            == before[g]
        )
    with pytest.raises(ValueError, match="retention horizon"):
        incremental.snapshot_files(d, 2)
    # compact → prune (the other order): deepen the horizon afterwards.
    assert incremental.prune_snapshots(d, 4) is True
    assert (
        sorted(
            r["doc_id"]
            for r in incremental.snapshot_read(spark, d, 4).collect()
        )
        == before[4]
    )
    with pytest.raises(ValueError, match="retention horizon"):
        incremental.snapshot_files(d, 3)
    # Out-of-range horizons stay loud.
    with pytest.raises(ValueError, match="out of range"):
        incremental.prune_snapshots(d, 5)


def test_swap_staged_tolerates_external_roll_forward(tmp_path, monkeypatch):
    """ADVICE r14: between `_swap_staged`'s two renames the live dir is
    missing; an unlocked reader healing in that window commits the
    compactor's own (complete) stage. The compactor's second rename then
    hits ENOENT with the content already live — it must treat that as an
    external commit, not die."""
    root = str(tmp_path)
    live = tmp_path / "layer"
    live.mkdir()
    (live / "old.parquet").write_bytes(b"old")
    stage = tmp_path / "layer.compact"
    stage.mkdir()
    (stage / "new.parquet").write_bytes(b"new")

    def reader_heal(name):
        incremental._recover_staged(root, (name,), discard_stage=False)

    monkeypatch.setattr(incremental, "_swap_midpoint_hook", reader_heal)
    incremental._swap_staged(root, "layer")  # must not raise
    assert (tmp_path / "layer" / "new.parquet").read_bytes() == b"new"
    assert not (tmp_path / "layer.compact").exists()
    assert not (tmp_path / "layer.old").exists()


def test_swap_staged_still_loud_without_a_stage(tmp_path):
    """The ENOENT tolerance is scoped to the roll-forward race: a swap
    called with no stage ever written keeps failing loudly AND restores
    the displaced live dir first."""
    live = tmp_path / "layer"
    live.mkdir()
    (live / "data.parquet").write_bytes(b"x")
    with pytest.raises(FileNotFoundError):
        incremental._swap_staged(str(tmp_path), "layer")
    assert (live / "data.parquet").read_bytes() == b"x"
    assert not (tmp_path / "layer.old").exists()


def test_unlocked_index_heals_keep_foreign_stage(tmp_path):
    """ADVICE r14: every unlocked read-path heal (`_check_meta`'s
    `_recover_compaction`, the BM25/ANN/PQ/pre-stage/drift readers) must
    leave a `.compact` stage next to an INTACT live dir alone — it may
    be another process's in-flight compaction. Locked (mutating) entries
    still discard it."""
    for name in ("bands", "dropped"):
        d = tmp_path / name
        d.mkdir()
        (d / "seg.parquet").write_bytes(b"")
        s = tmp_path / f"{name}.compact"
        s.mkdir()
        (s / "seg.parquet").write_bytes(b"")
    incremental._recover_compaction(str(tmp_path))  # unlocked default
    assert (tmp_path / "bands.compact").is_dir()
    assert (tmp_path / "dropped.compact").is_dir()
    incremental._recover_compaction(str(tmp_path), locked=True)
    assert not (tmp_path / "bands.compact").exists()
    assert not (tmp_path / "dropped.compact").exists()
    # A MISSING live dir still rolls forward on the unlocked path.
    os.rename(tmp_path / "bands", tmp_path / "bands.compact")
    incremental._recover_compaction(str(tmp_path))
    assert (tmp_path / "bands" / "seg.parquet").exists()

def test_recover_staged_nonrace_failure_keeps_only_copy(tmp_path, monkeypatch):
    """ADVICE r15 (medium): `_recover_staged`'s restore rename swallows
    only the concurrent-healer race errnos (ENOENT/ENOTEMPTY/EEXIST). A
    non-race failure (EACCES here) while the live dir is MISSING must
    raise loudly and must NOT fall through to the trailing stage
    cleanup, which would delete the only surviving copy of the layer."""
    stage = tmp_path / "layer.compact"
    stage.mkdir()
    (stage / "only.parquet").write_bytes(b"precious")

    real_rename = os.rename

    def deny(src, dst):
        if str(src).endswith("layer.compact"):
            raise PermissionError(13, "Permission denied", str(src))
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", deny)
    with pytest.raises(PermissionError):
        incremental._recover_staged(str(tmp_path), ("layer",), discard_stage=True)
    monkeypatch.undo()
    # The stage — the only copy — survived, and a later heal commits it.
    assert (stage / "only.parquet").read_bytes() == b"precious"
    incremental._recover_staged(str(tmp_path), ("layer",), discard_stage=True)
    assert (tmp_path / "layer" / "only.parquet").read_bytes() == b"precious"

def _hash_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_export_snapshot_standalone_and_immune_to_maintenance(
    spark, tmp_path
):
    """`export_snapshot` (r16): the published dir reads bit-equal to
    the source as_of via a fresh one-line manifest, carries the
    generation's `extra`, and survives the source's later prune,
    vacuum AND compaction untouched (hardlinked bytes outlive the
    source's staged-swap deletes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "data")
    os.makedirs(d)
    for g in range(4):
        pq.write_table(
            pa.table({"doc_id": [10 * g, 10 * g + 1]}),
            os.path.join(d, f"part-{g}.parquet"),
        )
        incremental.record_snapshot(d, n=2, extra={"gen": g + 1})
    dest = str(tmp_path / "published")
    out = incremental.export_snapshot(d, 2, dest)
    assert (out["generation"], out["files"], out["rows"]) == (2, 2, 4)
    want = _hash_rows(incremental.snapshot_read(spark, d, 2))
    assert _hash_rows(incremental.snapshot_read(spark, dest, 1)) == want
    assert incremental.snapshot_gens(dest) == 1
    assert incremental.snapshot_extra(dest, 1) == {"gen": 2}
    # Plain readers see exactly the snapshot too.
    assert _hash_rows(spark.read.parquet(dest)) == want
    # Source maintenance cannot touch the publish.
    incremental.prune_snapshots(d, 3)
    incremental.vacuum_data_snapshots(spark, d, 3, ("doc_id",))
    incremental.compact_data_snapshots(spark, d, ("doc_id",))
    assert _hash_rows(incremental.snapshot_read(spark, dest, 1)) == want
    # Immutable publish: refuse an existing destination.
    with pytest.raises(ValueError, match="already exists"):
        incremental.export_snapshot(d, 3, dest)
    # Collapsed/out-of-range generations stay loud.
    with pytest.raises(ValueError, match="not servable|out of range"):
        incremental.export_snapshot(d, 1, str(tmp_path / "other"))
    with pytest.raises(ValueError, match="out of range"):
        incremental.export_snapshot(d, 9, str(tmp_path / "other"))
    # A crash-left stage is replaced by a re-run, not tripped over.
    stage = str(tmp_path / "p2") + ".export"
    os.makedirs(stage)
    open(os.path.join(stage, "junk"), "w").close()
    out2 = incremental.export_snapshot(d, 3, str(tmp_path / "p2"))
    assert out2["rows"] == 6
    assert not os.path.exists(stage)


def test_writer_export_corpus_serves_equal(spark, tmp_path):
    doc = load_table(spark, SF, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    w = CorpusWriter(spark, f"{tmp_path}/corpus", f"{tmp_path}/index")
    for m in range(2):
        w.admit(doc.filter(F.col("doc_id") % 2 == m))
    dest = str(tmp_path / "train_snapshot")
    out = w.export_corpus(1, dest)
    assert out["generation"] == 1
    want = _hash_rows(w.corpus(as_of=1).select("doc_id", "text"))
    got = _hash_rows(
        incremental.snapshot_read(spark, dest, 1).select("doc_id", "text")
    )
    assert got == want
    # Maintenance after the publish leaves it untouched.
    w.vacuum(2)
    assert (
        _hash_rows(
            incremental.snapshot_read(spark, dest, 1).select(
                "doc_id", "text"
            )
        )
        == want
    )


def test_writer_export_store_serves_equal(spark, tmp_path):
    """`EmbeddingWriter.export_store` (r16): `export_corpus`'s twin —
    the published dir reads bit-equal to `store(as_of)` and survives
    the family's later vacuum."""
    emb = load_table(spark, SF, "embeddings")
    w = EmbeddingWriter(
        spark, str(tmp_path / "store"), str(tmp_path / "ann"), tau=0.9
    )
    for m in range(2):
        w.admit(emb.filter(F.col("vec_id") % 2 == m))
    dest = str(tmp_path / "train_vectors")
    out = w.export_store(1, dest)
    assert out["generation"] == 1 and out["files"] >= 1

    def _digest(df):
        return _hash_rows(
            df.select("vec_id", F.hash("embedding").alias("h"))
        )

    want = _digest(w.store(as_of=1))
    assert _digest(incremental.snapshot_read(spark, dest, 1)) == want
    w.vacuum(2)
    assert _digest(incremental.snapshot_read(spark, dest, 1)) == want


def test_snapshot_read_many_local_paths_no_listing_job(spark, tmp_path):
    # r18 (VERDICT r17 #4): a snapshot_read whose manifest resolves to
    # MORE paths than Spark's parallel-partition-discovery default (32)
    # must keep the file listing driver-side on a local filesystem —
    # zero Spark jobs at construction (the threshold raise is scoped
    # per-read now, not a session default). Values are unaffected.
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "layer")
    os.makedirs(d)
    n_files = 40
    for i in range(n_files):
        pq.write_table(
            pa.table({"a": pa.array([i], type=pa.int64())}),
            os.path.join(d, f"part-{i:03d}.parquet"),
        )
    incremental.record_snapshot(d)
    tracker = spark.sparkContext.statusTracker()
    j0 = len(tracker.getJobIdsForGroup(None))
    df = incremental.snapshot_read(spark, d, 1, schema="a bigint")
    j_construct = len(tracker.getJobIdsForGroup(None)) - j0
    assert j_construct == 0, (
        f"snapshot_read over {n_files} local paths launched "
        f"{j_construct} job(s) at construction — the scoped discovery "
        "threshold regressed"
    )
    assert df.count() == n_files
    assert df.agg(F.sum("a")).collect()[0][0] == sum(range(n_files))
