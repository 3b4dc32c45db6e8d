"""Incremental dedup (batch vs persisted corpus index): equality with the
full-recompute path, novel/exact/near classification, index extension,
and the loud parameter-mismatch guard."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from kinesis_iterator_spark import incremental
from kinesis_iterator_spark.queries.dedup import minhash_pairs
from kinesis_iterator_spark.tables import load_table


@pytest.fixture(scope="module")
def split(spark, sf_dir):
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = doc.filter(F.col("doc_id") % 4 != 0).persist()
    batch = doc.filter(F.col("doc_id") % 4 == 0).persist()
    corpus.count(), batch.count()
    yield corpus, batch
    corpus.unpersist(), batch.unpersist()


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory, split):
    corpus, _ = split
    d = str(tmp_path_factory.mktemp("dedup_index"))
    incremental.write_index(corpus, d)
    return d


@pytest.fixture(scope="module")
def result(spark, split, index_dir):
    corpus, batch = split
    rows = incremental.dedup_against_index(
        spark, batch, index_dir, corpus
    ).collect()
    return {r["doc_id"]: r for r in rows}


def test_one_verdict_per_batch_doc(split, result):
    _, batch = split
    assert set(result) == {r["doc_id"] for r in batch.select("doc_id").collect()}
    assert {r["verdict"] for r in result.values()} <= {
        "novel",
        "exact_dup",
        "near_dup",
    }


def test_exact_dups_match_digest_oracle(split, result):
    corpus, batch = split
    corpus_by_text = {}
    for r in corpus.collect():
        k = r["text"]
        corpus_by_text[k] = min(corpus_by_text.get(k, r["doc_id"]), r["doc_id"])
    for r in batch.collect():
        got = result[r["doc_id"]]
        if r["text"] in corpus_by_text:
            assert got["verdict"] == "exact_dup", got
            assert got["dup_of"] == corpus_by_text[r["text"]]
            assert got["jaccard"] == 1.0
        else:
            assert got["verdict"] != "exact_dup", got


def test_near_dups_equal_full_recompute_cross_pairs(spark, split, result):
    """The incremental near-dup set must equal the cross-split pairs the
    full minhash_pairs path finds on the union (no fixture bucket is near
    the cap, so the capped stored bands cannot diverge)."""
    corpus, batch = split
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    exact_ids = {d for d, r in result.items() if r["verdict"] == "exact_dup"}
    best = {}
    for p in minhash_pairs(corpus.unionByName(batch)).collect():
        a, b, j = p["doc_a"], p["doc_b"], p["jaccard"]
        if (a in batch_ids) == (b in batch_ids):
            continue  # same-side pair: not a batch-vs-corpus edge
        new_id, old_id = (a, b) if a in batch_ids else (b, a)
        if new_id in exact_ids:
            continue
        cur = best.get(new_id)
        if cur is None or (-j, old_id) < (-cur[1], cur[0]):
            best[new_id] = (old_id, j)
    got_near = {
        d: (r["dup_of"], r["jaccard"])
        for d, r in result.items()
        if r["verdict"] == "near_dup"
    }
    assert got_near == best


def test_novel_docs_have_no_dup_of(result):
    for r in result.values():
        if r["verdict"] == "novel":
            assert r["dup_of"] is None and r["jaccard"] is None


def test_extend_then_redetect(spark, split, index_dir, result):
    """After extending the index with accepted novel docs, a re-submission
    of the same text under new ids must come back exact_dup — against the
    EXTENDED part of the index."""
    corpus, batch = split
    novel_ids = [d for d, r in result.items() if r["verdict"] == "novel"]
    assert novel_ids, "fixture split produced no novel docs"
    accepted = batch.filter(F.col("doc_id").isin(novel_ids[:5]))
    incremental.extend_index(accepted, index_dir)
    resubmit = accepted.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    verdicts = incremental.dedup_against_index(
        spark, resubmit, index_dir, corpus.unionByName(accepted)
    ).collect()
    assert all(v["verdict"] == "exact_dup" for v in verdicts)
    assert {v["dup_of"] for v in verdicts} == set(novel_ids[:5])


def test_meta_mismatch_raises(spark, split, tmp_path):
    corpus, batch = split
    d = str(tmp_path / "idx")
    incremental.write_index(corpus.limit(10), d)
    meta = json.load(open(f"{d}/meta.json"))
    meta["n_bands"] = meta["n_bands"] + 1
    json.dump(meta, open(f"{d}/meta.json", "w"))
    with pytest.raises(ValueError, match="different LSH parameters"):
        incremental.dedup_against_index(spark, batch, d, corpus)


def test_write_index_drops_mega_buckets_like_full_path(spark, tmp_path):
    """minhash_pairs emits no pairs from a bucket above MAX_BUCKET; the
    stored index must mirror that by DROPPING such buckets (a truncated
    sample would reject docs the full recompute admits)."""
    from kinesis_iterator_spark.queries.dedup import MAX_BUCKET

    boiler = "common boilerplate text repeated verbatim in every document here"
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, boiler) for i in range(MAX_BUCKET + 8)]
    rows += [(1000, base)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "idx")
    incremental.write_index(docs, d)
    stored_ids = {
        r["doc_id"] for r in spark.read.parquet(f"{d}/bands").collect()
    }
    assert stored_ids == {1000}, (
        "mega-bucket members must be absent from the stored bands"
    )
    # ...and a new copy of the boilerplate is caught by the EXACT layer,
    # never the near layer (the full path's rationale for the drop).
    verdicts = incremental.dedup_against_index(
        spark,
        spark.createDataFrame([(2000, boiler)], "doc_id long, text string"),
        d,
        docs,
    ).collect()
    assert verdicts[0]["verdict"] == "exact_dup"


@pytest.fixture(scope="module")
def ann_index(spark, sf_dir, tmp_path_factory):
    from kinesis_iterator_spark.queries.similarity import write_ann_index

    d = str(tmp_path_factory.mktemp("ann_index"))
    write_ann_index(spark, sf_dir, d)
    return d


def test_embedding_admission_detects_reingested_vectors(
    spark, sf_dir, ann_index
):
    """A batch of corpus vectors under fresh ids must come back near_dup
    with their stored originals as dup_of at cosine ≈ 1."""
    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 10 == 3).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    out = incremental.embedding_dedup_against_index(
        spark, batch, ann_index, sf_dir
    ).collect()
    assert len(out) == batch.count()
    near = [r for r in out if r["verdict"] == "near_dup"]
    # Sign-LSH recall is < 1 by design, but an IDENTICAL vector lands in
    # the same bucket in every table — all re-ingested vectors must hit.
    assert len(near) == len(out)
    for r in near:
        assert r["cosine"] >= 0.9999
    self_hits = sum(
        1 for r in near if r["dup_of"] == r["vec_id"] - 10_000_000
    )
    # dup_of is the best match; an exact twin elsewhere in the corpus may
    # outrank the original, but the overwhelming majority match themselves.
    assert self_hits >= 0.9 * len(near)


def test_embedding_admission_novel_for_opposed_vectors(
    spark, sf_dir, ann_index
):
    """Negated vectors are cosine -1 to their source and at most weakly
    similar (measured ≲0.38) to anything else in the corpus: at a
    non-trivial tau they must come back novel with no dup_of. (At the
    library's permissive default tau=0.35 a few chance 0.35-0.38
    matches are legitimate near_dups — that is threshold semantics, not
    a bug.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 25 == 7).select(
        (F.col("vec_id") + 20_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    out = incremental.embedding_dedup_against_index(
        spark, batch, ann_index, sf_dir, tau=0.9
    ).collect()
    assert out and all(r["verdict"] == "novel" for r in out)
    assert all(r["dup_of"] is None for r in out)


def test_embedding_admission_tau_gates_verdicts(spark, sf_dir, ann_index):
    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 50 == 1).select(
        (F.col("vec_id") + 30_000_000).alias("vec_id"), "embedding"
    )
    out = incremental.embedding_dedup_against_index(
        spark, batch, ann_index, sf_dir, tau=1.1
    ).collect()
    assert all(r["verdict"] == "novel" for r in out)


def test_embedding_admission_keeps_id_equal_cross_pairs(
    spark, sf_dir, ann_index
):
    """A batch id colliding with a corpus id is a caller namespace
    artifact, not a self-pair: the identical vector under the SAME id
    must still be detected (the self-kNN id filter must not fire on the
    cross-frame probe side)."""
    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 100 == 11).select(
        "vec_id", "embedding"
    )
    out = incremental.embedding_dedup_against_index(
        spark, batch, ann_index, sf_dir
    ).collect()
    assert out and all(r["verdict"] == "near_dup" for r in out)
    assert all(r["cosine"] >= 0.9999 for r in out)


def test_embedding_admission_zero_norm_vector_is_novel(
    spark, sf_dir, ann_index
):
    """NaN cosine (zero-norm batch vector — failed encode) must not pass
    the tau gate under Spark's NaN-greater-than-everything ordering."""
    batch = spark.createDataFrame(
        [(123, [0.0] * 64)], "vec_id long, embedding array<float>"
    )
    out = incremental.embedding_dedup_against_index(
        spark, batch, ann_index, sf_dir
    ).collect()
    assert len(out) == 1
    assert out[0]["verdict"] == "novel" and out[0]["dup_of"] is None


def test_embedding_admission_rejects_oversized_ids(spark, sf_dir, ann_index):
    batch = spark.createDataFrame(
        [(1 << 32, [1.0] * 64)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match=r"\[0, 2\^32\)"):
        incremental.embedding_dedup_against_index(
            spark, batch, ann_index, sf_dir
        )


# ---------------------------------------------------------------------------
# compact_index: re-applying the cap across appends (VERDICT r7 #4) and the
# tombstone/drift machinery around it (ADVICE r7 low).


def _band_rows(spark, d):
    return {
        (r["doc_id"], r["band_id"], r["band_key"])
        for r in spark.read.parquet(f"{d}/bands").collect()
    }


def _tombstones(spark, d):
    return {
        (r["band_id"], r["band_key"])
        for r in spark.read.parquet(f"{d}/dropped").collect()
    }


def test_compact_equals_fresh_rebuild_on_fixture_splits(
    spark, sf_dir, tmp_path
):
    """Append-heavy index (base + two extends) after compact_index must
    equal a fresh write_index of the union corpus: same band rows, same
    tombstones, same recorded base_band_rows."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    parts = [doc.filter(F.col("doc_id") % 3 == k) for k in range(3)]
    inc, fresh = str(tmp_path / "inc"), str(tmp_path / "fresh")
    incremental.write_index(parts[0], inc)
    incremental.extend_index(parts[1], inc)
    incremental.extend_index(parts[2], inc)
    meta = incremental.compact_index(spark, inc)
    fresh_meta = incremental.write_index(doc, fresh)
    assert _band_rows(spark, inc) == _band_rows(spark, fresh)
    assert _tombstones(spark, inc) == _tombstones(spark, fresh)
    assert meta["base_band_rows"] == fresh_meta["base_band_rows"]


def test_compact_drops_cross_append_mega_bucket_and_tombstones_pair_block(
    spark, tmp_path
):
    """A bucket pushed over the cap by a LATER append: the append writes a
    tombstone, so (a) queries immediately stop pairing against the
    earlier batches' remnant rows, and (b) compact_index removes the
    remnant — matching the fresh union rebuild exactly."""
    from kinesis_iterator_spark.queries.dedup import MAX_BUCKET

    boiler = "common boilerplate text repeated verbatim in every document here"
    base = "the quick brown fox jumps over the lazy dog again and again today"
    # Probe: shares a band bucket with boiler (verified empirically —
    # minhash here is deterministic) and has 3-shingle Jaccard 0.875,
    # far over the 0.4 threshold: WITHOUT the tombstone honor it would
    # come back near_dup against the remnant.
    probe = boiler + " again"

    d = str(tmp_path / "idx")
    batch1 = spark.createDataFrame(
        [(i, boiler) for i in range(5)] + [(50, base)],
        "doc_id long, text string",
    )
    incremental.write_index(batch1, d)
    assert len(_tombstones(spark, d)) == 0  # 5 <= cap: stored, no drop
    batch2 = spark.createDataFrame(
        [(100 + i, boiler) for i in range(MAX_BUCKET + 8)],
        "doc_id long, text string",
    )
    incremental.extend_index(batch2, d)
    assert len(_tombstones(spark, d)) > 0  # the append tripped the cap

    # (a) query-time: the remnant rows from batch1 must not pair.
    corpus = batch1.unionByName(batch2)
    verdicts = incremental.dedup_against_index(
        spark,
        spark.createDataFrame([(5000, probe)], "doc_id long, text string"),
        d,
        corpus,
    ).collect()
    assert verdicts[0]["verdict"] == "novel", (
        "tombstoned bucket's remnant rows must not generate candidates"
    )

    # (b) compaction: equals the fresh union rebuild (remnant gone).
    incremental.compact_index(spark, d)
    fresh = str(tmp_path / "fresh")
    incremental.write_index(corpus, fresh)
    assert _band_rows(spark, d) == _band_rows(spark, fresh)
    assert _tombstones(spark, d) == _tombstones(spark, fresh)
    assert {r[0] for r in _band_rows(spark, d)} == {50}


def test_dedup_against_index_warns_on_append_drift(spark, sf_dir, tmp_path):
    """Band rows past COMPACT_DRIFT_FACTOR x the base must produce a
    compaction warning (ADVICE r7: nothing surfaced when an index had
    drifted); compaction resets the baseline and silences it."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    small = doc.limit(8)
    d = str(tmp_path / "idx")
    incremental.write_index(small, d)
    incremental.extend_index(
        doc.join(small.select("doc_id"), "doc_id", "left_anti").limit(40), d
    )
    probe = doc.limit(1)
    with pytest.warns(UserWarning, match="compact_index"):
        incremental.dedup_against_index(spark, probe, d, doc)
    incremental.compact_index(spark, d)
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        incremental.dedup_against_index(spark, probe, d, doc)


# Crash-safety of the compaction swap (r8 review): a reader touching the
# index between compact_index's two renames must self-heal, and stale
# sibling dirs from a crash after commit must not break the next compact.


def test_interrupted_compaction_swap_rolls_forward(spark, sf_dir, tmp_path):
    """Crash INSIDE a swap: live dir renamed to .old, staged .compact not
    yet renamed in. The next index touch must roll the (complete by
    construction) stage forward — the exact window the old code left
    path-not-found until manual repair."""
    import os
    import shutil

    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = str(tmp_path / "idx")
    incremental.write_index(doc.filter(F.col("doc_id") % 2 == 0), d)
    incremental.extend_index(doc.filter(F.col("doc_id") % 2 == 1), d)
    before = _band_rows(spark, d)
    # Simulate the window for the bands dir (staged content = a copy of
    # the live dir — the equivalence to real compacted output doesn't
    # matter for the swap mechanics under test).
    shutil.copytree(f"{d}/bands", f"{d}/bands.compact")
    os.rename(f"{d}/bands", f"{d}/bands.old")
    assert not os.path.isdir(f"{d}/bands")

    probe = doc.limit(1)
    verdicts = incremental.dedup_against_index(spark, probe, d, doc)
    assert verdicts.count() == 1  # no path-not-found: recovery ran
    assert os.path.isdir(f"{d}/bands")
    assert not os.path.isdir(f"{d}/bands.old")
    assert not os.path.isdir(f"{d}/bands.compact")
    assert _band_rows(spark, d) == before


def test_interrupted_compaction_rolls_back_without_stage(spark, sf_dir, tmp_path):
    """Crash with the live dir renamed away and NO staged sibling (stage
    lost/never written): recovery must restore the .old copy."""
    import os

    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = str(tmp_path / "idx")
    incremental.write_index(doc.limit(20), d)
    before = _band_rows(spark, d)
    os.rename(f"{d}/bands", f"{d}/bands.old")
    incremental._check_meta(d)
    assert os.path.isdir(f"{d}/bands")
    assert not os.path.isdir(f"{d}/bands.old")
    assert _band_rows(spark, d) == before


def test_stale_old_dir_does_not_break_next_compaction(spark, sf_dir, tmp_path):
    """Crash AFTER the compact rename but before the .old cleanup leaves a
    non-empty bands.old; the next compact_index must succeed (the old
    code's os.rename onto a non-empty dir raised OSError)."""
    import os

    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = str(tmp_path / "idx")
    incremental.write_index(doc.filter(F.col("doc_id") % 2 == 0), d)
    incremental.extend_index(doc.filter(F.col("doc_id") % 2 == 1), d)
    os.makedirs(f"{d}/bands.old")
    with open(f"{d}/bands.old/junk.parquet", "w") as fh:
        fh.write("leftover")
    meta = incremental.compact_index(spark, d)
    assert meta["base_band_rows"] == incremental._dir_rows(f"{d}/bands")
    assert not os.path.isdir(f"{d}/bands.old")

    fresh = str(tmp_path / "fresh")
    incremental.write_index(doc, fresh)
    assert _band_rows(spark, d) == _band_rows(spark, fresh)


def test_zero_band_row_base_still_warns_on_drift(spark, tmp_path):
    """An index whose build produced ZERO band rows (every doc under the
    shingle length) must still warn once appends accumulate rows — the
    r8 review's falsy-zero hole ('if not base' treated the legitimate 0
    baseline as a pre-tracking layout and never warned)."""
    d = str(tmp_path / "idx")
    tiny = spark.createDataFrame(
        [(1, "too short"), (2, "also short")], "doc_id long, text string"
    )
    meta = incremental.write_index(tiny, d)
    assert meta["base_band_rows"] == 0
    longdocs = spark.createDataFrame(
        [
            (10 + i, f"document number {i} with enough words to produce "
                     "shingles and band rows for the minhash pipeline")
            for i in range(6)
        ],
        "doc_id long, text string",
    )
    incremental.extend_index(longdocs, d)
    corpus = tiny.unionByName(longdocs)
    with pytest.warns(UserWarning, match="compact_index"):
        incremental.dedup_against_index(spark, tiny.limit(1), d, corpus)


def test_precomputed_superset_bands_equal_fresh_banding(spark, sf_dir, tmp_path):
    """dedup_against_index with precomputed bands covering a SUPERSET of
    the batch (the curate stage's eligible set) must classify exactly
    like fresh banding — stale superset rows must not fabricate
    candidates, and the filtered reuse must find the same near-dups."""
    from kinesis_iterator_spark.queries.dedup import minhash_bands

    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = doc.filter(F.col("doc_id") % 4 != 0)
    batch = doc.filter(F.col("doc_id") % 4 == 0)
    d = str(tmp_path / "idx")
    incremental.write_index(corpus, d)

    fresh = {
        (r["doc_id"], r["verdict"], r["dup_of"])
        for r in incremental.dedup_against_index(
            spark, batch, d, corpus
        ).collect()
    }
    # Superset bands: the whole documents table, not just the batch —
    # includes every corpus doc's rows, which collide with the stored
    # index everywhere.
    superset = minhash_bands(doc).localCheckpoint(eager=True)
    try:
        reused = {
            (r["doc_id"], r["verdict"], r["dup_of"])
            for r in incremental.dedup_against_index(
                spark, batch, d, corpus, batch_bands=superset
            ).collect()
        }
    finally:
        from kinesis_iterator_spark.queries import release_local_checkpoint

        release_local_checkpoint(superset)
    assert reused == fresh
    assert {v for (_, v, _) in fresh} >= {"novel"}  # sanity: non-trivial


def test_write_band_files_superset_bands_equal_fresh(spark, sf_dir, tmp_path):
    """write_index/extend_index with precomputed superset bands must
    produce byte-equal band/tombstone sets to the fresh-banding path."""
    from kinesis_iterator_spark.queries.dedup import minhash_bands

    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    half = doc.filter(F.col("doc_id") % 2 == 0)
    rest = doc.filter(F.col("doc_id") % 2 == 1)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    superset = minhash_bands(doc).localCheckpoint(eager=True)
    try:
        incremental.write_index(half, a)
        incremental.extend_index(rest, a)
        incremental.write_index(half, b, bands=superset)
        incremental.extend_index(rest, b, bands=superset)
    finally:
        from kinesis_iterator_spark.queries import release_local_checkpoint

        release_local_checkpoint(superset)
    assert _band_rows(spark, a) == _band_rows(spark, b)
    assert _tombstones(spark, a) == _tombstones(spark, b)


def test_index_drift_self_heals_interrupted_swap(spark, sf_dir, tmp_path):
    """index_drift is a public entry point: called on an index whose
    compaction swap was interrupted mid-rename, it must roll the stage
    forward and return a drift factor, not FileNotFoundError."""
    import os
    import shutil

    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = str(tmp_path / "idx")
    incremental.write_index(doc.limit(20), d)
    shutil.copytree(f"{d}/bands", f"{d}/bands.compact")
    os.rename(f"{d}/bands", f"{d}/bands.old")
    drift = incremental.index_drift(d)
    assert drift is not None and drift == pytest.approx(1.0)
    assert os.path.isdir(f"{d}/bands")
    assert not os.path.isdir(f"{d}/bands.compact")


def test_concurrently_returns_in_order_and_propagates_first_error():
    """The thread helper behind the admit loops' overlapped state
    writes: results come back in submission order; a failing thunk's
    exception propagates only AFTER every thunk has finished (so a
    failed write never leaves a sibling mid-flight when the caller's
    error handling runs)."""
    import threading
    import time as _t

    from kinesis_iterator_spark.incremental import _concurrently

    assert _concurrently(lambda: 1, lambda: "b", lambda: None) == [
        1,
        "b",
        None,
    ]
    assert _concurrently(lambda: 42) == [42]

    finished = threading.Event()

    def slow_ok():
        _t.sleep(0.2)
        finished.set()
        return "ok"

    def boom():
        raise RuntimeError("first failure")

    import pytest as _pt

    with _pt.raises(RuntimeError, match="first failure"):
        _concurrently(boom, slow_ok)
    assert finished.is_set(), "error propagated before siblings finished"


def test_concurrently_keeps_the_callers_job_group(spark):
    """Thunks run on pool threads with the CALLER's Spark local
    properties: under pinned-thread mode a plain thread starts without
    them, so a job group (or scheduler pool) set by the caller would
    not reach the thunks' jobs."""
    from kinesis_iterator_spark.incremental import _concurrently

    sc = spark.sparkContext
    sched = sc._jsc.sc().dagScheduler()
    group = "concurrently-inherits-job-group"
    df = spark.range(16)
    sc.setJobGroup(group, "job-group inheritance")
    try:
        j0 = sched.nextJobId()
        _concurrently(df.count, df.count)
        j1 = sched.nextJobId()
    finally:
        for k in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(k, None)
    ids = set(sc.statusTracker().getJobIdsForGroup(group))
    assert j1 - j0 >= 2 and ids == set(range(j0, j1))
