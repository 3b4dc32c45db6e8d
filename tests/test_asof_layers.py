"""Generation-pinned DERIVED index layers (VERDICT r12 #1 / r13).

Round 12's admission snapshots pinned the data of record
(`corpus(as_of=g)` / `store(as_of=g)`); the derived layers (BM25
postings, ANN signatures/inverted file/bucket occupancy, PQ code
segments) always served the LATEST admission — a user who trained on
`corpus(as_of=g)` could not reproduce the retrieval results that fed
it. Round 13 extends the per-admit manifest discipline to every
per-admit-appended layer and accepts ``as_of=`` on every from-index
reader.

Contract pinned here:

- every admit appends one manifest line per layer, generation numbers
  ALIGNED with the data of record's;
- a from-index query ``as_of=g`` is bit-equal to the answer that query
  gave right after admission g (the time-travel story), and — for the
  geometry-free BM25 layer — to a fresh index rebuilt over
  ``corpus(as_of=g)``;
- compaction/reconcile rewrites keep generation NUMBERING but collapse
  file-level history: the latest generation serves identically, older
  pins fail loudly naming the rewrite (the data of record keeps full
  history; derived layers keep history since the last rewrite);
- an all-duplicate admit (empty delta) still advances every layer's
  generation in lockstep.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis_iterator_spark import incremental
from kinesis_iterator_spark.pipeline import CorpusWriter, EmbeddingWriter
from kinesis_iterator_spark.queries.retrieval import (
    bm25_topk_from_index,
    read_query_vec,
    write_bm25_index,
)
from kinesis_iterator_spark.queries.similarity import (
    similarity_ivf_topk_from_index,
    similarity_lsh_topk_from_index,
)
from kinesis_iterator_spark.tables import load_table

SF = "/root/testdata/sf0.001"
TERMS = ["scan", "column", "window", "order", "sort"]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# Two-scale parametrization (r16): these two tests are the pytest pins
# backing the g3/c3 serve legs retired from the timed
# `asof_serving_suite` entry (retrieval._ASOF_SERVE_GENS — the VERDICT
# r15 #3 budget rule requires the retired contract pinned at TWO
# scales).
@pytest.mark.parametrize(
    "sf", [SF, "/root/testdata/sf0.01"], ids=["sf0.001", "sf0.01"]
)
@pytest.mark.slow
def test_bm25_generations_pin_history_then_collapse(spark, sf, tmp_path):
    doc = load_table(spark, sf, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    batches = [doc.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    w = CorpusWriter(
        spark,
        f"{tmp_path}/corpus",
        f"{tmp_path}/index",
        bm25_index=True,
    )
    captured = {}
    for i, b in enumerate(batches, start=1):
        s = w.admit(b)
        assert s["snapshot"] == i
        captured[i] = _rows(w.bm25_topk(TERMS, topk=10))
    # Layer generations aligned with the corpus manifest.
    for name in ("postings", "df", "doclen"):
        assert (
            incremental.snapshot_gens(f"{tmp_path}/index/bm25/{name}") == 3
        )
    # Time travel: as_of=g reproduces the answer captured after admit g.
    for g in (1, 2, 3):
        assert _rows(w.bm25_topk(TERMS, topk=10, as_of=g)) == captured[g]
    # Cross-check vs a FRESH index rebuilt over the data of record
    # as-of g (the VERDICT done-criterion — BM25 has no geometry, so
    # rebuild equality is exact).
    for g in (1, 3):
        fresh = f"{tmp_path}/fresh{g}"
        write_bm25_index(
            spark, w.corpus(as_of=g).select("doc_id", "text"), fresh
        )
        assert (
            _rows(bm25_topk_from_index(spark, fresh, TERMS, topk=10))
            == captured[g]
        )
    # Compaction: numbering kept, latest serves identically, older
    # generations fail loudly naming the rewrite.
    w.compact()
    assert _rows(w.bm25_topk(TERMS, topk=10, as_of=3)) == captured[3]
    with pytest.raises(ValueError, match="collapsed"):
        w.bm25_topk(TERMS, topk=10, as_of=2)
    # An all-duplicate admit advances every generation in lockstep with
    # an empty delta; content at gen 4 == content at gen 3.
    s4 = w.admit(batches[0])
    assert s4["snapshot"] == 4 and s4["n_admitted"] == 0
    for name in ("postings", "df", "doclen"):
        assert (
            incremental.snapshot_gens(f"{tmp_path}/index/bm25/{name}") == 4
        )
    assert _rows(w.bm25_topk(TERMS, topk=10, as_of=4)) == captured[3]
    # Reconcile (full rebuild): collapse again at the corpus head.
    w.reconcile()
    assert _rows(w.bm25_topk(TERMS, topk=10, as_of=4)) == captured[3]
    with pytest.raises(ValueError, match="collapsed"):
        w.bm25_topk(TERMS, topk=10, as_of=3)


def test_embedding_layers_pin_history_then_collapse(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    batches = [emb.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    store, ann = f"{tmp_path}/store", f"{tmp_path}/ann"
    w = EmbeddingWriter(
        spark, store, ann, pq_layer=True, pq_ks=16, pq_iters=1
    )
    qv = read_query_vec(f"{SF}/embeddings.parquet", 0)
    cap_pq, cap_lsh, cap_ivf = {}, {}, {}
    for i, b in enumerate(batches, start=1):
        s = w.admit(b)
        assert s["snapshot"] == i
        cap_pq[i] = _rows(w.pq_topk(qv, topk=5))
        cap_lsh[i] = _rows(similarity_lsh_topk_from_index(spark, SF, ann))
        cap_ivf[i] = _rows(similarity_ivf_topk_from_index(spark, SF, ann))
    for name in ("lsh_signatures", "ivf_assignment", "bucket_sizes",
                 "pq_codes"):
        assert incremental.snapshot_gens(f"{ann}/{name}") == 3, name
    for g in (1, 2, 3):
        assert _rows(w.pq_topk(qv, topk=5, as_of=g)) == cap_pq[g]
        assert (
            _rows(similarity_lsh_topk_from_index(spark, SF, ann, as_of=g))
            == cap_lsh[g]
        )
        assert (
            _rows(similarity_ivf_topk_from_index(spark, SF, ann, as_of=g))
            == cap_ivf[g]
        )
    # Compaction collapses layer history, keeps the head servable.
    w.compact()
    assert _rows(w.pq_topk(qv, topk=5, as_of=3)) == cap_pq[3]
    assert (
        _rows(similarity_lsh_topk_from_index(spark, SF, ann, as_of=3))
        == cap_lsh[3]
    )
    with pytest.raises(ValueError, match="collapsed"):
        w.pq_topk(qv, topk=5, as_of=1)
    with pytest.raises(ValueError, match="collapsed"):
        similarity_ivf_topk_from_index(spark, SF, ann, as_of=2)
    # Reconcile retrains geometry: the head generation serves the SAME
    # ROWS as the plain (latest) read — content, not codes, is pinned —
    # and pre-reconcile generations fail loudly.
    w.reconcile()
    assert _rows(w.pq_topk(qv, topk=5, as_of=3)) == _rows(
        w.pq_topk(qv, topk=5)
    )
    with pytest.raises(ValueError, match="collapsed"):
        w.pq_topk(qv, topk=5, as_of=2)


def test_interrupted_layer_swap_heals_with_manifest(spark, tmp_path):
    """A crash INSIDE a compaction swap (live dir renamed away, stage
    not yet renamed in) must roll the stage — files AND its collapsed
    manifest together — forward at the next index touch, so as-of
    serving stays consistent with the swap's atomicity story."""
    import os

    doc = load_table(spark, SF, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    batches = [doc.filter(F.col("doc_id") % 2 == i) for i in range(2)]
    w = CorpusWriter(
        spark, f"{tmp_path}/corpus", f"{tmp_path}/index", bm25_index=True
    )
    for b in batches:
        w.admit(b)
    head = _rows(w.bm25_topk(TERMS, topk=10))
    bm = f"{tmp_path}/index/bm25"
    w.compact()
    # Simulate the mid-swap crash window on postings/: re-stage the
    # live dir, then rename it away (the state between _swap_staged's
    # two renames).
    os.rename(f"{bm}/postings", f"{bm}/postings.compact")
    assert _rows(w.bm25_topk(TERMS, topk=10)) == head  # heals forward
    assert _rows(w.bm25_topk(TERMS, topk=10, as_of=2)) == head
    with pytest.raises(ValueError, match="collapsed"):
        w.bm25_topk(TERMS, topk=10, as_of=1)


@pytest.mark.slow
def test_corpus_compaction_preserves_every_generation(spark, tmp_path):
    """`compact_corpus` (VERDICT r12 #4): per-generation rewrite keeps
    EVERY as_of bit-equal (the data of record never trades history for
    layout), shrinks the file count, and a subsequent admit continues
    the generation sequence."""
    import os

    doc = load_table(spark, SF, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    batches = [doc.filter(F.col("doc_id") % 4 == i) for i in range(4)]
    w = CorpusWriter(
        spark, f"{tmp_path}/corpus", f"{tmp_path}/index", bm25_index=True
    )
    for b in batches[:3]:
        w.admit(b)
    before = {
        g: _rows(w.corpus(as_of=g).select("doc_id", "text"))
        for g in (1, 2, 3)
    }
    head = _rows(w.corpus().select("doc_id", "text"))
    n_files_before = len(incremental._data_files(f"{tmp_path}/corpus"))
    res = w.compact_corpus()
    assert res["files_after"] <= 3 < n_files_before == res["files_before"]
    for g in (1, 2, 3):
        assert (
            _rows(w.corpus(as_of=g).select("doc_id", "text")) == before[g]
        )
    assert _rows(w.corpus().select("doc_id", "text")) == head
    # BM25 generation pins are untouched by data-dir compaction.
    assert len(_rows(w.bm25_topk(TERMS, topk=10, as_of=2))) > 0
    # The generation sequence continues across the rewrite.
    s4 = w.admit(batches[3])
    assert s4["snapshot"] == 4
    assert len(
        _rows(w.corpus(as_of=4).select("doc_id"))
    ) == len(head) + s4["n_admitted"]
    # Crash mid-swap: stage complete, live dir renamed away — the next
    # read (and the next admit's entry probe) rolls forward.
    cd = f"{tmp_path}/corpus"
    os.rename(cd, f"{cd}.compact")
    assert _rows(w.corpus(as_of=1).select("doc_id", "text")) == before[1]
    assert not os.path.isdir(f"{cd}.compact")


def test_store_compaction_preserves_every_generation(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    batches = [emb.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    store, ann = f"{tmp_path}/store", f"{tmp_path}/ann"
    w = EmbeddingWriter(spark, store, ann)
    for b in batches[:2]:
        w.admit(b)
    before = {g: _rows(w.store(as_of=g).select("vec_id")) for g in (1, 2)}
    res = w.compact_store()
    # One file per generation after the rewrite (a small-batch admit
    # may already commit a single file, so <=, not <).
    assert res["files_after"] <= 2 and res["files_after"] <= res["files_before"]
    for g in (1, 2):
        assert _rows(w.store(as_of=g).select("vec_id")) == before[g]
    s3 = w.admit(batches[2])
    assert s3["snapshot"] == 3
    assert len(_rows(w.store(as_of=3).select("vec_id"))) == len(
        before[2]
    ) + s3["n_admitted"]


@pytest.mark.slow
def test_hybrid_serving_as_of_both_legs(spark, tmp_path):
    """`hybrid_topk_ann(as_of=g)` pins BOTH stored legs — the BM25
    relations and the residual-IVFPQ layers — plus the re-rank store
    side via `store(as_of=g)`: the fused answer captured right after
    admission g is reproduced exactly; the indexless doc-frame lexical
    leg refuses as_of (it has no generations)."""
    from kinesis_iterator_spark.pipeline import (
        CorpusWriter,
        CurationConfig,
        EmbeddingWriter,
    )
    from kinesis_iterator_spark.queries.retrieval import hybrid_topk_ann

    doc = load_table(spark, SF, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    emb = load_table(spark, SF, "embeddings")
    w_text = CorpusWriter(
        spark,
        f"{tmp_path}/corpus",
        f"{tmp_path}/index",
        CurationConfig(min_words=1),
        bm25_index=True,
    )
    w_vec = EmbeddingWriter(
        spark,
        f"{tmp_path}/store",
        f"{tmp_path}/ann",
        tau=0.9,
        train_codebook=True,
        train_k=8,
        train_iters=2,
        pq_layer=True,
        pq_residual=True,
        pq_m=4,
        pq_ks=16,
    )
    qv = read_query_vec(f"{SF}/embeddings.parquet", 0)

    def serve(as_of=None):
        return _rows(
            hybrid_topk_ann(
                spark,
                f"{tmp_path}/ann",
                None,
                w_vec.store(as_of=as_of),
                TERMS,
                qv,
                topk=10,
                candidates=30,
                bm25_dir=f"{tmp_path}/index/bm25",
                as_of=as_of,
            )
        )

    captured = {}
    for g, pred in ((1, F.col("doc_id") % 2 == 0), (2, F.col("doc_id") % 2 == 1)):
        assert w_text.admit(doc.filter(pred))["snapshot"] == g
        assert w_vec.admit(
            emb.filter(F.col("vec_id") % 2 == (g - 1))
        )["snapshot"] == g
        captured[g] = serve()
    for g in (1, 2):
        assert serve(as_of=g) == captured[g]
    with pytest.raises(ValueError, match="doc-frame|bm25_dir"):
        hybrid_topk_ann(
            spark,
            f"{tmp_path}/ann",
            load_table(spark, SF, "documents"),
            w_vec.store(),
            TERMS,
            qv,
            as_of=1,
        )


@pytest.mark.parametrize(
    "sf", [SF, "/root/testdata/sf0.01"], ids=["sf0.001", "sf0.01"]
)
@pytest.mark.slow
def test_classifier_replay_as_of(spark, sf, tmp_path):
    """Generation-pinned classifier REPLAY (r13, closing the round-13
    open edge): `dedup_against_index(..., as_of=g)` re-answers "was
    this batch novel at admission g" — docs duplicating a LATER
    generation read novel again under the earlier pin, and the replay
    is bit-equal to the classification captured right after admit g.
    Same for the embedding-side classifier. Three corpus generations
    (r16): this is the two-scale pin behind the c3 leg retired from the
    timed `asof_serving_suite` entry."""
    doc = load_table(spark, sf, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    b = [doc.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    w = CorpusWriter(spark, f"{tmp_path}/corpus", f"{tmp_path}/index")
    # Probe = fresh-id copies of gen-1 text + gen-2 text + never-admitted
    # text; ids offset so they cannot collide with corpus ids.
    probe = (
        b[0].limit(3).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
        .unionByName(b[1].limit(3).select(
            (F.col("doc_id") + 200000).alias("doc_id"), "text"
        ))
        .unionByName(b[2].limit(3).select(
            (F.col("doc_id") + 300000).alias("doc_id"), "text"
        ))
    )
    captured = {}
    for g in (1, 2, 3):
        assert w.admit(b[g - 1])["snapshot"] == g
        captured[g] = _rows(
            incremental.dedup_against_index(
                spark, probe, f"{tmp_path}/index", w.corpus()
            )
        )
    # Replay: as-of generation g answers exactly as it did then.
    for g in (1, 2, 3):
        assert (
            _rows(
                incremental.dedup_against_index(
                    spark,
                    probe,
                    f"{tmp_path}/index",
                    w.corpus(as_of=g),
                    as_of=g,
                )
            )
            == captured[g]
        )
    # The pin is not vacuous: gen-2 copies flipped novel -> exact_dup
    # between g1 and g2, and gen-3 copies between g2 and g3.
    v1 = {r[0]: r[1] for r in captured[1]}
    v2 = {r[0]: r[1] for r in captured[2]}
    v3 = {r[0]: r[1] for r in captured[3]}
    flipped = [d for d in v1 if v1[d] == "novel" and v2[d] == "exact_dup"]
    assert flipped, (v1, v2)
    flipped3 = [d for d in v2 if v2[d] == "novel" and v3[d] == "exact_dup"]
    assert flipped3, (v2, v3)

    # Embedding side: copies of gen-1 vectors + never-admitted vectors.
    emb = load_table(spark, sf, "embeddings")
    eb = [emb.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    ew = EmbeddingWriter(spark, f"{tmp_path}/store", f"{tmp_path}/ann")
    vprobe = (
        eb[1].limit(3).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
        .unionByName(eb[2].limit(3).select(
            (F.col("vec_id") + 200000).alias("vec_id"), "embedding"
        ))
    )
    vcap = {}
    for g in (1, 2):
        assert ew.admit(eb[g - 1])["snapshot"] == g
        vcap[g] = _rows(
            incremental.embedding_dedup_against_index(
                spark,
                vprobe,
                f"{tmp_path}/ann",
                corpus_emb=ew.store(),
            )
        )
    for g in (1, 2):
        assert (
            _rows(
                incremental.embedding_dedup_against_index(
                    spark,
                    vprobe,
                    f"{tmp_path}/ann",
                    corpus_emb=ew.store(as_of=g),
                    as_of=g,
                )
            )
            == vcap[g]
        )
    ev1 = {r[0]: r[1] for r in vcap[1]}
    ev2 = {r[0]: r[1] for r in vcap[2]}
    assert any(
        ev1[v] == "novel" and ev2[v] == "near_dup" for v in ev1
    ), (ev1, ev2)


SEP = "\n\n"


def _two_para(base, ids, left_off, right_off, id_off):
    """doc (id_off + i): text = t_{i+left_off} ¶ t_{i+right_off}."""
    left = base.select(
        F.col("doc_id").alias("l_id"),
        "lang",
        "source",
        F.col("text").alias("l_text"),
    )
    right = base.select(
        F.col("doc_id").alias("r_id"), F.col("text").alias("r_text")
    )
    ids_df = left.sparkSession.createDataFrame([(i,) for i in ids], ["i"])
    return (
        ids_df.join(left, F.col("l_id") == F.col("i") + left_off)
        .join(right, F.col("r_id") == F.col("i") + right_off)
        .select(
            (F.col("i") + id_off).alias("doc_id"),
            "lang",
            "source",
            F.concat_ws(SEP, "l_text", "r_text").alias("text"),
        )
    )


@pytest.mark.slow
def test_prestage_layers_replay_as_of(spark, tmp_path):
    """VERDICT r13 #1 (SURVEY §8's recorded open edge): the paragraph /
    exact-substr digest layers are generation-pinned like every other
    per-admit-appended layer, so the FULL admission classification of a
    writer with both pre-stages enabled replays bit-equal —
    `pre_stage_batch(probe, as_of=g)` + `dedup_against_index(...,
    as_of=g)` reproduce the answer captured right after admit g.
    Probe paragraphs duplicating GEN-2 content are scrubbed under the
    latest pin but SURVIVE under the gen-1 pin (the flip), and
    compact()/reconcile() collapse the layers' history loudly."""
    from kinesis_iterator_spark.pipeline import CurationConfig

    base = (
        load_table(spark, SF, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "lang", "source", "text")
    )
    b1 = _two_para(base, range(40), 0, 40, 0)
    # batch 2 re-uses t_i (stored at gen 1) and brings t_{200+i} (fresh).
    b2 = _two_para(base, range(40), 0, 200, 1000)
    # Probe: fresh ids, left paragraph never admitted (t_{240+i}), right
    # paragraph = gen-2 content (t_{200+i}) — scrubbed at as_of=2, kept
    # at as_of=1.
    probe = _two_para(base, range(10), 240, 200, 50000)
    w = CorpusWriter(
        spark,
        f"{tmp_path}/corpus",
        f"{tmp_path}/index",
        CurationConfig(dedup_paragraphs=True, dedup_exact_substr=True),
    )
    cap_text, cap_verd = {}, {}
    for g, b in ((1, b1), (2, b2)):
        assert w.admit(b)["snapshot"] == g
        staged = w.pre_stage_batch(probe)
        cap_text[g] = _rows(staged.select("doc_id", "text"))
        cap_verd[g] = _rows(
            incremental.dedup_against_index(
                spark,
                staged.select("doc_id", "text"),
                f"{tmp_path}/index",
                w.corpus(),
            )
        )
    for name in ("paragraphs", "exact_substr"):
        assert (
            incremental.snapshot_gens(f"{tmp_path}/index/{name}") == 2
        )
    # Replay: both layers pinned → pre-staged text AND classification
    # bit-equal to the capture of each era.
    for g in (1, 2):
        staged = w.pre_stage_batch(probe, as_of=g)
        assert _rows(staged.select("doc_id", "text")) == cap_text[g]
        assert (
            _rows(
                incremental.dedup_against_index(
                    spark,
                    staged.select("doc_id", "text"),
                    f"{tmp_path}/index",
                    w.corpus(as_of=g),
                    as_of=g,
                )
            )
            == cap_verd[g]
        )
    # The pin is not vacuous: gen-2 paragraphs survive under the gen-1
    # pin and are scrubbed under the gen-2 pin.
    assert cap_text[1] != cap_text[2]
    len1 = sum(len(t) for _, t in cap_text[1])
    len2 = sum(len(t) for _, t in cap_text[2])
    assert len1 > len2
    # compact() collapses layer history: older pins fail loudly, the
    # head generation serves identically (set-equivalent layers).
    w.compact()
    with pytest.raises(ValueError, match="not servable"):
        w.pre_stage_batch(probe, as_of=1).collect()
    with pytest.raises(ValueError, match="not servable"):
        w._stored_digests("exact_substr", as_of=1)
    staged = w.pre_stage_batch(probe, as_of=2)
    assert _rows(staged.select("doc_id", "text")) == cap_text[2]
    # reconcile() (full rebuild) keeps numbering, collapses history too.
    w.reconcile()
    for name in ("paragraphs", "exact_substr"):
        assert (
            incremental.snapshot_gens(f"{tmp_path}/index/{name}") == 2
        )
    with pytest.raises(ValueError, match="not servable"):
        w.pre_stage_batch(probe, as_of=1).collect()
    staged = w.pre_stage_batch(probe, as_of=2)
    assert _rows(staged.select("doc_id", "text")) == cap_text[2]


def test_writer_prune_snapshots_lockstep(spark, tmp_path):
    """Retention across the writer family (VERDICT r13 #3):
    `CorpusWriter.prune_snapshots(g0)` collapses generations < g0 on
    the corpus AND every derived layer together — as_of >= g0 stays
    bit-equal for the data of record and from-index serving, older
    pins fail loudly naming the horizon, a crash between dirs heals by
    re-running (idempotent), and a following compact_corpus preserves
    the merged base generation."""
    doc = load_table(spark, SF, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    batches = [doc.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    w = CorpusWriter(
        spark, f"{tmp_path}/corpus", f"{tmp_path}/index", bm25_index=True
    )
    cap_bm, cap_corpus = {}, {}
    for g, b in enumerate(batches, start=1):
        assert w.admit(b)["snapshot"] == g
        cap_bm[g] = _rows(w.bm25_topk(TERMS, topk=10))
        cap_corpus[g] = _rows(w.corpus().select("doc_id", "text"))
    # Simulate a crash mid-prune: the corpus manifest was rewritten,
    # the layers were not — re-running from the writer completes.
    assert incremental.prune_snapshots(f"{tmp_path}/corpus", 2) is True
    out = w.prune_snapshots(2)
    assert out["corpus"] is False  # already pruned by the "crashed" run
    assert out["postings"] is True and out["digests"] is True
    for g in (2, 3):
        assert _rows(w.corpus(as_of=g).select("doc_id", "text")) == (
            cap_corpus[g]
        )
        assert _rows(w.bm25_topk(TERMS, topk=10, as_of=g)) == cap_bm[g]
    with pytest.raises(ValueError, match="retention horizon"):
        w.corpus(as_of=1)
    with pytest.raises(ValueError, match="retention horizon"):
        w.bm25_topk(TERMS, topk=10, as_of=1).collect()
    # Classifier replay below the horizon is loud too.
    with pytest.raises(ValueError, match="retention horizon"):
        incremental.dedup_against_index(
            spark,
            batches[0].select("doc_id", "text"),
            f"{tmp_path}/index",
            w.corpus(as_of=2),
            as_of=1,
        )
    # Idempotent; then compact keeps the merged base + later gens.
    assert all(v is False for v in w.prune_snapshots(2).values())
    w.compact_corpus()
    for g in (2, 3):
        assert _rows(w.corpus(as_of=g).select("doc_id", "text")) == (
            cap_corpus[g]
        )
    with pytest.raises(ValueError, match="retention horizon"):
        w.corpus(as_of=1)
    # A later admit keeps appending generations on the pruned manifest.
    s = w.admit(batches[0])  # all-duplicate batch
    assert s["snapshot"] == 4 and s["n_admitted"] == 0
    assert _rows(w.corpus(as_of=4).select("doc_id", "text")) == (
        cap_corpus[3]
    )


@pytest.mark.slow
def test_embedding_writer_prune_snapshots_lockstep(spark, tmp_path):
    """`EmbeddingWriter.prune_snapshots`: store + every stored ANN
    layer (signatures, inverted file, occupancy, PQ codes) prune
    together; as_of >= horizon serves bit-equal, older pins are loud
    on both the data of record and the from-index readers."""
    emb = load_table(spark, SF, "embeddings")
    batches = [emb.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    w = EmbeddingWriter(
        spark,
        f"{tmp_path}/store",
        f"{tmp_path}/ann",
        tau=0.9,
        pq_layer=True,
        pq_ks=16,
        pq_iters=1,
    )
    qv = read_query_vec(f"{SF}/embeddings.parquet", 0)
    cap_lsh, cap_store, cap_pq = {}, {}, {}
    for g, b in enumerate(batches, start=1):
        assert w.admit(b)["snapshot"] == g
        cap_lsh[g] = _rows(
            similarity_lsh_topk_from_index(spark, SF, f"{tmp_path}/ann")
        )
        cap_store[g] = _rows(w.store(as_of=g).select("vec_id"))
        cap_pq[g] = _rows(w.pq_topk(qv, topk=5))
    out = w.prune_snapshots(2)
    assert out["store"] is True and out["lsh_signatures"] is True
    assert out["pq_codes"] is True
    for g in (2, 3):
        assert _rows(w.store(as_of=g).select("vec_id")) == cap_store[g]
        assert (
            _rows(
                similarity_lsh_topk_from_index(
                    spark, SF, f"{tmp_path}/ann", as_of=g
                )
            )
            == cap_lsh[g]
        )
        assert _rows(w.pq_topk(qv, topk=5, as_of=g)) == cap_pq[g]
    with pytest.raises(ValueError, match="retention horizon"):
        w.store(as_of=1)
    with pytest.raises(ValueError, match="retention horizon"):
        similarity_lsh_topk_from_index(
            spark, SF, f"{tmp_path}/ann", as_of=1
        ).collect()
    with pytest.raises(ValueError, match="retention horizon"):
        w.pq_topk(qv, topk=5, as_of=1)
