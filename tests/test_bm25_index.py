"""BM25 stored inverted index (`queries/retrieval.py` postings layer —
VERDICT r9 #4): the from-index query forms must be BIT-equal to the
scan forms over the same corpus (shared exact-arithmetic tail), the
extension path must keep that equality batch over batch, crashes inside
the marker bracket must refuse loudly and heal by rebuild, and the
`CorpusWriter(bm25_index=True)` composition must serve retrieval over
exactly its admitted corpus."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kinesis_iterator_spark.queries.retrieval import (
    _check_bm25_meta,
    bm25_scores,
    bm25_scores_from_index,
    bm25_topk,
    bm25_topk_from_index,
    extend_bm25_index,
    write_bm25_index,
)
from kinesis_iterator_spark.tables import load_table

TERMS = ["scan", "column", "window", "order", "sort"]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def doc(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = d.persist()
    d.count()
    yield d
    d.unpersist()


@pytest.fixture(scope="module")
def index_dir(spark, doc, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bm25_idx"))
    meta = write_bm25_index(spark, doc, d)
    assert meta["n_docs"] > 0 and meta["t_tokens"] > meta["n_docs"]
    return d


@pytest.mark.parametrize("sf2", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_from_index_equals_scan(spark, sf2, tmp_path_factory):
    d2 = load_table(spark, sf2, "documents").select("doc_id", "text")
    idx = str(tmp_path_factory.mktemp("bm25_sf"))
    write_bm25_index(spark, d2, idx)
    want = _rows(bm25_scores(d2, TERMS))
    got = _rows(bm25_scores_from_index(spark, idx, TERMS))
    assert want and got == want


@pytest.mark.parametrize("force", ["gate", "read_error"])
def test_distributed_df_path_equals_driver(
    spark, doc, index_dir, monkeypatch, force
):
    """The size-gated dual path for per-term document frequencies
    (r18): forcing the DISTRIBUTED groupBy+broadcast branch must score
    bit-equal to the default driver-side pyarrow literal branch —
    forced by the gate (-1, the DRIVER_CC_MAX_EDGES test discipline)
    or by a df/ file the driver cannot read (pyarrow raising OSError:
    the driver branch declines instead of failing the query)."""
    import pyarrow.parquet as pq

    from kinesis_iterator_spark.queries import retrieval as R

    want = _rows(bm25_scores_from_index(spark, index_dir, TERMS))
    if force == "gate":
        monkeypatch.setattr(R, "DRIVER_DF_MAX_BYTES", -1)
    else:

        def unreadable(*a, **k):
            raise OSError("unreadable df segment")

        monkeypatch.setattr(pq, "read_table", unreadable)
    got = _rows(bm25_scores_from_index(spark, index_dir, TERMS))
    assert want and got == want


def test_overlapping_extend_fails_before_counting(
    spark, doc, tmp_path, monkeypatch
):
    """The marker check and the marker create are two steps: a second
    extender that passed the check while the first one created the
    marker must fail loudly at its exclusive create — before it
    appends anything or diffs the doclen/ listing (which would count
    the other extender's files into its totals)."""
    from kinesis_iterator_spark.queries import retrieval as R

    idx = str(tmp_path / "bm25")
    write_bm25_index(spark, doc.filter(F.col("doc_id") % 2 == 0), idx)
    real = R._check_bm25_meta

    def racing_check(d):
        meta = real(d)
        open(f"{d}/extend.inprogress", "w").close()  # the other extender
        return meta

    monkeypatch.setattr(R, "_check_bm25_meta", racing_check)
    before = sorted(os.listdir(f"{idx}/doclen"))
    with pytest.raises(ValueError, match="another writer"):
        extend_bm25_index(spark, doc.filter(F.col("doc_id") % 2 == 1), idx)
    assert sorted(os.listdir(f"{idx}/doclen")) == before


def test_topk_from_index_equals_scan_order(spark, doc, index_dir):
    want = [tuple(r) for r in bm25_topk(doc, TERMS, topk=10).collect()]
    got = [
        tuple(r)
        for r in bm25_topk_from_index(spark, index_dir, TERMS, topk=10).collect()
    ]
    assert got == want and len(got) == 10


def test_extension_keeps_scan_equality(spark, doc, tmp_path):
    idx = str(tmp_path / "bm25")
    even = doc.filter(F.col("doc_id") % 2 == 0)
    odd = doc.filter(F.col("doc_id") % 2 == 1)
    m0 = write_bm25_index(spark, even, idx)
    m1 = extend_bm25_index(spark, odd, idx)
    assert m1["n_docs"] > m0["n_docs"]
    # Totals roll exactly: the extended index scores the UNION corpus
    # identically to a scan of it (and to a from-scratch index build).
    want = _rows(bm25_scores(doc, TERMS))
    got = _rows(bm25_scores_from_index(spark, idx, TERMS))
    assert got == want


def test_marker_refuses_and_rebuild_heals(spark, doc, tmp_path):
    idx = str(tmp_path / "bm25")
    write_bm25_index(spark, doc, idx)
    marker = f"{idx}/extend.inprogress"
    with open(marker, "w") as fh:
        fh.write("")
    with pytest.raises(ValueError, match="unfinished"):
        bm25_scores_from_index(spark, idx, TERMS)
    with pytest.raises(ValueError, match="unfinished"):
        extend_bm25_index(spark, doc.limit(0), idx)
    # Full rebuild is the documented recovery path — and clears the marker.
    write_bm25_index(spark, doc, idx)
    assert not os.path.exists(marker)
    assert _rows(bm25_scores_from_index(spark, idx, TERMS)) == _rows(
        bm25_scores(doc, TERMS)
    )


def test_unbootstrapped_dir_refuses(spark, tmp_path):
    idx = str(tmp_path / "empty")
    os.makedirs(idx)
    with pytest.raises(ValueError, match="meta"):
        _check_bm25_meta(idx)
    with pytest.raises(ValueError, match="meta"):
        bm25_scores_from_index(spark, idx, TERMS)


def test_corpus_writer_bm25_layer(spark, sf_dir, tmp_path):
    from kinesis_iterator_spark.pipeline import CorpusWriter
    from kinesis_iterator_spark.queries import release_persists

    doc = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    b1 = doc.filter(F.col("doc_id") % 2 == 0)
    b2 = doc.filter(F.col("doc_id") % 2 == 1)
    root = str(tmp_path)
    w = CorpusWriter(
        spark, f"{root}/corpus", f"{root}/index", bm25_index=True
    )
    w.admit(b1)
    release_persists()
    w.admit(b2)
    release_persists()
    # The stored layer serves retrieval over EXACTLY the admitted corpus.
    corpus_doc = w.corpus().select("doc_id", "text")
    want = _rows(bm25_scores(corpus_doc, TERMS))
    got = _rows(bm25_scores_from_index(spark, w._bm25_dir(), TERMS))
    assert want and got == want
    topk = [tuple(r) for r in w.bm25_topk(TERMS, topk=5).collect()]
    assert topk == [
        tuple(r) for r in bm25_topk(corpus_doc, TERMS, topk=5).collect()
    ]
    # Late enablement on pre-existing state: a fresh writer handle over
    # the same dirs (no bm25 layer yet would rebuild; here it extends).
    w2 = CorpusWriter(
        spark, f"{root}/corpus", f"{root}/index", bm25_index=True
    )
    with pytest.raises(ValueError, match="bm25_index=True"):
        CorpusWriter(spark, f"{root}/corpus", f"{root}/index").bm25_topk(TERMS)
    assert _rows(w2.bm25_topk(TERMS, topk=5)) == sorted(topk)
