"""Single-writer lease (VERDICT r10 #6): every crash contract in the
writer family assumes one writer per index dir — the lease makes a
second concurrent writer fail LOUDLY (`incremental.LeaseHeld`) instead
of interleaving crash markers, with stale-lease takeover for crashed
holders. Pins: refusal while held, same-writer reentry/heartbeat,
takeover after TTL, release-on-exit (success AND failure), idempotent
release, unreadable-lease takeover, and the refusal surfacing through
`CorpusWriter.admit` / `EmbeddingWriter.admit`."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from kinesis_iterator_spark import incremental
from kinesis_iterator_spark.incremental import (
    LeaseHeld,
    _lease_path,
    acquire_lease,
    release_lease,
)
from kinesis_iterator_spark.pipeline import CorpusWriter, CurationConfig
from kinesis_iterator_spark.tables import load_table


def test_acquire_free_then_refuse_then_release(tmp_path):
    d = str(tmp_path / "idx")
    acquire_lease(d, "w1")
    assert os.path.exists(_lease_path(d))
    with pytest.raises(LeaseHeld, match="w1"):
        acquire_lease(d, "w2")
    # same writer re-enters (heartbeat refresh)
    acquire_lease(d, "w1")
    release_lease(d, "w1")
    assert not os.path.exists(_lease_path(d))
    acquire_lease(d, "w2")
    release_lease(d, "w2")


def test_stale_takeover_and_foreign_release_noop(tmp_path):
    d = str(tmp_path / "idx")
    acquire_lease(d, "w1")
    # foreign release is a no-op
    release_lease(d, "w2")
    assert os.path.exists(_lease_path(d))
    # backdate past TTL -> takeover succeeds and re-stamps the holder
    old = time.time() - incremental.LEASE_TTL_S - 10
    os.utime(_lease_path(d), (old, old))
    acquire_lease(d, "w2")
    with open(_lease_path(d)) as f:
        assert json.load(f)["writer_id"] == "w2"
    # the previous holder can no longer release it
    release_lease(d, "w1")
    assert os.path.exists(_lease_path(d))
    release_lease(d, "w2")


def test_unreadable_lease_age_from_mtime(tmp_path):
    """ADVICE r11: an unreadable lease body is another writer's
    open-then-write window, not a stale lease — a YOUNG unreadable
    lease must refuse (LeaseHeld); only unreadable AND past-TTL is
    taken over. Age comes from the file mtime, independent of JSON
    readability."""
    d = str(tmp_path / "idx")
    os.makedirs(d)
    with open(_lease_path(d), "w") as f:
        f.write("{half-written")
    # young + unreadable -> refuse (the pre-fix behavior took over here,
    # yielding two writers that both believed they held the lease)
    with pytest.raises(LeaseHeld, match="unreadable"):
        acquire_lease(d, "w1")
    # stale + unreadable -> takeover
    old = time.time() - incremental.LEASE_TTL_S - 10
    os.utime(_lease_path(d), (old, old))
    acquire_lease(d, "w1")
    with open(_lease_path(d)) as f:
        assert json.load(f)["writer_id"] == "w1"
    release_lease(d, "w1")


def test_lease_generation_is_monotonic_across_releases(tmp_path):
    """The fencing token (VERDICT r11 #5): every fresh acquisition —
    free create or stale takeover — gets a NEW generation, persisted
    across releases; a heartbeat refresh keeps the holder's gen."""
    d = str(tmp_path / "idx")
    g1 = acquire_lease(d, "w1")
    assert acquire_lease(d, "w1") == g1  # heartbeat: same gen
    release_lease(d, "w1")
    g2 = acquire_lease(d, "w2")
    assert g2 > g1
    old = time.time() - incremental.LEASE_TTL_S - 10
    os.utime(_lease_path(d), (old, old))
    g3 = acquire_lease(d, "w3")  # takeover bumps too
    assert g3 > g2
    release_lease(d, "w3")


def test_verify_lease_and_swap_staged_fence(tmp_path):
    """`verify_lease` / `_swap_staged(fence=...)`: after a TTL takeover
    the old holder's (writer_id, gen) no longer verifies, and a fenced
    staged-swap commit raises LeaseLost BEFORE any rename — the live
    relation is untouched."""
    from kinesis_iterator_spark.incremental import (
        LeaseLost,
        _swap_staged,
        verify_lease,
    )

    d = str(tmp_path / "idx")
    g1 = acquire_lease(d, "w1")
    verify_lease(d, "w1", g1)  # held: no raise
    with pytest.raises(LeaseLost):
        verify_lease(d, "w1", g1 + 1)  # wrong gen
    old = time.time() - incremental.LEASE_TTL_S - 10
    os.utime(_lease_path(d), (old, old))
    acquire_lease(d, "w2")  # takeover
    with pytest.raises(LeaseLost, match="fenced out"):
        verify_lease(d, "w1", g1)
    # fenced swap: stage + live dirs prepared, commit must refuse and
    # leave the LIVE dir exactly as it was
    os.makedirs(f"{d}/rel")
    open(f"{d}/rel/live.txt", "w").write("live")
    os.makedirs(f"{d}/rel.compact")
    with pytest.raises(LeaseLost):
        _swap_staged(d, "rel", fence=(d, "w1", g1))
    assert os.path.exists(f"{d}/rel/live.txt")
    # the new holder's fence commits fine
    with open(_lease_path(d)) as f:
        g2 = json.load(f)["gen"]
    _swap_staged(d, "rel", fence=(d, "w2", g2))
    assert not os.path.exists(f"{d}/rel/live.txt")
    release_lease(d, "w2")


def test_release_after_takeover_leaves_new_lease_intact(tmp_path):
    """ADVICE r11 release race: a stale holder's release must not
    delete the new holder's live lease — the rename-verify-restore
    path puts a foreign capture back untouched."""
    d = str(tmp_path / "idx")
    acquire_lease(d, "w1")
    old = time.time() - incremental.LEASE_TTL_S - 10
    os.utime(_lease_path(d), (old, old))
    g2 = acquire_lease(d, "w2")
    release_lease(d, "w1")  # the stale holder's late release
    with open(_lease_path(d)) as f:
        h = json.load(f)
    assert h["writer_id"] == "w2" and h["gen"] == g2
    release_lease(d, "w2")
    assert not os.path.exists(_lease_path(d))


def _stall_past_ttl(monkeypatch, thief="thief"):
    """Monkeypatch acquire_lease so the caller's NEXT acquisition is
    immediately followed by a simulated stall + TTL takeover by
    ``thief`` — the writer then runs its (lease-held) body already
    fenced out, the exact resume-after-takeover scenario."""
    real = incremental.acquire_lease

    def stalled(d, wid, ttl=incremental.LEASE_TTL_S):
        gen = real(d, wid, ttl)
        old = time.time() - incremental.LEASE_TTL_S - 10
        os.utime(_lease_path(d), (old, old))
        real(d, thief, ttl)
        return gen

    monkeypatch.setattr(incremental, "acquire_lease", stalled)


def test_corpus_writer_fenced_admit_fails_before_append(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The full stall-takeover-resume story on the text writer: the
    fenced-out admit raises LeaseLost at the pre-append check, appends
    NOTHING, and leaves the thief's lease alone."""
    from kinesis_iterator_spark.incremental import LeaseLost, _dir_rows

    doc = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    w = CorpusWriter(
        spark, str(tmp_path / "corpus"), str(tmp_path / "index"),
        CurationConfig(),
    )
    w.admit(doc.filter(F.col("doc_id") % 10 == 0))
    before = _dir_rows(w.corpus_dir)
    _stall_past_ttl(monkeypatch)
    with pytest.raises(LeaseLost, match="fenced out"):
        w.admit(doc.filter(F.col("doc_id") % 10 == 1))
    assert _dir_rows(w.corpus_dir) == before  # nothing appended
    with open(_lease_path(w.index_dir)) as f:
        assert json.load(f)["writer_id"] == "thief"


def test_corpus_writer_fenced_compact_leaves_live_index(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Fencing at the staged-swap commit (VERDICT r11 #5's named
    site): a fenced-out compact raises LeaseLost at `_swap_staged`
    and the live band relation is untouched."""
    from kinesis_iterator_spark.incremental import LeaseLost, _dir_rows

    doc = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    w = CorpusWriter(
        spark, str(tmp_path / "corpus"), str(tmp_path / "index"),
        CurationConfig(),
    )
    w.admit(doc.filter(F.col("doc_id") % 10 == 0))
    bands_before = _dir_rows(f"{w.index_dir}/bands")
    _stall_past_ttl(monkeypatch)
    with pytest.raises(LeaseLost):
        w.compact()
    assert _dir_rows(f"{w.index_dir}/bands") == bands_before


def test_corpus_writer_fenced_auto_compact_leaves_live_index(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The in-admit compaction (``auto_compact``) is a staged swap
    under the lease like `compact`: a writer taken over after its index
    writes raises LeaseLost at the swap instead of swapping bands under
    the new holder, and the live band relation is untouched."""
    from kinesis_iterator_spark.incremental import LeaseLost, _dir_rows

    doc = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    w = CorpusWriter(
        spark, str(tmp_path / "corpus"), str(tmp_path / "index"),
        CurationConfig(), auto_compact=True,
    )
    w.admit(doc.filter(F.col("doc_id") % 10 == 0))
    bands = f"{w.index_dir}/bands"
    live = {}

    def drifted(index_dir, meta=None):
        # The admit's index writes are done: record the live bands,
        # then stall past the TTL and let a thief take the lease.
        live["files"] = sorted(os.listdir(bands))
        live["rows"] = _dir_rows(bands)
        old = time.time() - incremental.LEASE_TTL_S - 10
        os.utime(_lease_path(index_dir), (old, old))
        acquire_lease(index_dir, "thief")
        return incremental.COMPACT_DRIFT_FACTOR + 1

    monkeypatch.setattr(incremental, "index_drift", drifted)
    with pytest.raises(LeaseLost):
        w.admit(doc.filter(F.col("doc_id") % 10 == 1))
    assert live, "the admit never reached its auto_compact check"
    assert sorted(os.listdir(bands)) == live["files"]
    assert _dir_rows(bands) == live["rows"]


def test_embedding_writer_fenced_admit_fails_before_append(
    spark, sf_dir, tmp_path, monkeypatch
):
    from kinesis_iterator_spark.incremental import LeaseLost, _dir_rows
    from kinesis_iterator_spark.pipeline import EmbeddingWriter

    emb = load_table(spark, sf_dir, "embeddings")
    w = EmbeddingWriter(
        spark, str(tmp_path / "store"), str(tmp_path / "ann")
    )
    w.admit(emb.filter(F.col("vec_id") % 10 == 0))
    before = _dir_rows(w.store_dir)
    _stall_past_ttl(monkeypatch)
    with pytest.raises(LeaseLost, match="fenced out"):
        w.admit(emb.filter(F.col("vec_id") % 10 == 1))
    assert _dir_rows(w.store_dir) == before


def test_corpus_writer_admit_refuses_under_foreign_lease(
    spark, sf_dir, tmp_path
):
    doc = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    b1 = doc.filter(F.col("doc_id") % 10 == 0)
    w = CorpusWriter(
        spark, str(tmp_path / "corpus"), str(tmp_path / "index"),
        CurationConfig(),
    )
    acquire_lease(w.index_dir, "intruder")
    with pytest.raises(LeaseHeld):
        w.admit(b1)
    # nothing was written under the refusal
    assert not os.path.isdir(w.corpus_dir)
    release_lease(w.index_dir, "intruder")
    s = w.admit(b1)
    assert s["n_admitted"] > 0
    # the lease is released between calls (a second WRITER may take
    # over serially; only CONCURRENT admits are the corruption class)
    assert not os.path.exists(_lease_path(w.index_dir))
    acquire_lease(w.index_dir, "intruder")
    with pytest.raises(LeaseHeld):
        w.compact()
    with pytest.raises(LeaseHeld):
        w.reconcile()
    release_lease(w.index_dir, "intruder")


def test_embedding_writer_admit_refuses_under_foreign_lease(
    spark, sf_dir, tmp_path
):
    from kinesis_iterator_spark.pipeline import EmbeddingWriter

    emb = load_table(spark, sf_dir, "embeddings")
    w = EmbeddingWriter(
        spark, str(tmp_path / "store"), str(tmp_path / "ann")
    )
    acquire_lease(w.index_dir, "intruder")
    with pytest.raises(LeaseHeld):
        w.admit(emb.filter(F.col("vec_id") % 10 == 0))
    release_lease(w.index_dir, "intruder")
    s = w.admit(emb.filter(F.col("vec_id") % 10 == 0))
    assert s["n_admitted"] > 0
    assert not os.path.exists(_lease_path(w.index_dir))


def test_admit_failure_still_releases(spark, sf_dir, tmp_path):
    """A raising admit must not leak the lease (the finally contract) —
    otherwise one bad batch wedges the writer until TTL."""
    w = CorpusWriter(
        spark, str(tmp_path / "corpus"), str(tmp_path / "index"),
        CurationConfig(),
    )
    bad = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )  # no text column -> curation fails
    with pytest.raises(Exception):
        w.admit(bad)
    assert not os.path.exists(_lease_path(w.index_dir))


def test_concurrent_admit_refused_while_first_in_flight(
    spark, tmp_path, monkeypatch
):
    """The real corruption class, deterministically: while writer A is
    INSIDE its (lease-held) admit body, writer B's admit raises — and
    proceeds once A exits. The body is stubbed with an event pair so
    the in-flight window is exact, not a sleep race; the wrapper under
    test is the production acquire/…/release path."""
    import threading

    from kinesis_iterator_spark.pipeline import CorpusWriter as CW

    w1 = CW(spark, str(tmp_path / "c"), str(tmp_path / "i"))
    w2 = CW(spark, str(tmp_path / "c"), str(tmp_path / "i"))
    entered, release = threading.Event(), threading.Event()

    def fake_locked(self, batch):
        entered.set()
        assert release.wait(10)
        return {"stub": 1}

    monkeypatch.setattr(CW, "_admit_locked", fake_locked)
    box = {}
    t = threading.Thread(
        target=lambda: box.__setitem__("r", w1.admit(None)), daemon=True
    )
    t.start()
    assert entered.wait(10)
    with pytest.raises(LeaseHeld):
        w2.admit(None)
    release.set()
    t.join(10)
    assert box["r"] == {"stub": 1}
    # lease released on A's exit -> B proceeds
    assert w2.admit(None) == {"stub": 1}
