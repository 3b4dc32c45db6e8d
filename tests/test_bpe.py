"""Deterministic BPE (VERDICT r10 #5): the Spark trainer is pinned
bit-identical to a pure-Python reference (merges are a pure function of
the corpus — the union-find precedent), invariant to partitioning; the
encoder and counter are pinned against in-process segmentation at two
scales; and the pack/mixture/DSIR surface re-runs green with REAL BPE
counts through the `tokens_col` hooks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis_iterator_spark.bpe import (
    _ranks,
    _segment,
    bpe_encode_rows,
    bpe_token_counts,
    bpe_train,
    bpe_train_reference,
    word_frequencies,
)
from kinesis_iterator_spark.tables import load_table

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
N_MERGES = 24


def _doc(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


@pytest.fixture(scope="module")
def trained(spark):
    doc = _doc(spark, SF_DIRS[0])
    return bpe_train(spark, doc, N_MERGES)


def test_trainer_matches_pure_python_reference(spark, trained):
    doc = _doc(spark, SF_DIRS[0])
    wf = [
        (r["w"], int(r["freq"]))
        for r in word_frequencies(doc).collect()
    ]
    want = bpe_train_reference(wf, N_MERGES)
    assert trained == want and len(trained) == N_MERGES


def test_trainer_partitioning_invariant(spark, trained):
    doc = _doc(spark, SF_DIRS[0]).repartition(7)
    assert bpe_train(spark, doc, N_MERGES) == trained


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_encoder_matches_reference_segmentation(spark, trained, sf_dir):
    """Distributed encode rows ≡ in-process segmentation of the same
    text under the same merges, at both scales."""
    doc = _doc(spark, sf_dir)
    got = sorted(
        tuple(r) for r in bpe_encode_rows(doc, trained).collect()
    )
    ranks = _ranks(trained)
    want = []
    for r in doc.collect():
        p = 0
        for w in r["text"].split(" "):
            if not w:
                continue
            for s in _segment(w, ranks):
                want.append((r["doc_id"], p, s))
                p += 1
    assert got == sorted(want)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_counts_equal_encode_rows(spark, trained, sf_dir):
    doc = _doc(spark, sf_dir)
    got = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_token_counts(doc, trained).collect()
    }
    want = {
        r["doc_id"]: r["n"]
        for r in bpe_encode_rows(doc, trained)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # every doc appears (0-piece docs keep a 0 count, absent from rows)
    assert set(got) >= set(want)
    assert all(got[d] == n for d, n in want.items())
    assert all(n == 0 for d, n in got.items() if d not in want)
    # BPE compresses: fewer pieces than characters, at least one per word
    words = {
        r["doc_id"]: r["nw"]
        for r in doc.select(
            "doc_id",
            F.size(F.filter(F.split("text", " "), lambda w: F.length(w) > 0))
            .cast("long")
            .alias("nw"),
        ).collect()
    }
    assert all(got[d] >= words[d] for d in words)


def test_merges_actually_merge(trained):
    """Sanity: the learned pairs produce multi-char pieces (the corpus
    has repeated character sequences)."""
    assert any(len(a + b) > 2 for a, b in trained)


def test_pack_and_mixture_green_under_bpe_counts(spark, trained):
    """The r9 tokens_col hooks carry a REAL subword count end-to-end:
    pack bounds hold, mixture proportions derive from BPE totals."""
    from kinesis_iterator_spark.pipeline import (
        build_mixture,
        mixture_rates,
        pack_sequences,
    )

    doc = load_table(spark, SF_DIRS[0], "documents").select(
        "doc_id", "source", "text"
    )
    counted = bpe_token_counts(doc, trained).drop("text")
    ctx = 128
    packed = pack_sequences(
        counted,
        ctx_len=ctx,
        n_shards=8,
        tokens_col="bpe_tokens",
        id_cols=("doc_id",),
    )
    sums = (
        packed.groupBy("shard", "pack")
        .agg(F.sum("tokens").alias("t"), F.count("*").alias("n"))
        .collect()
    )
    assert sums
    for r in sums:
        # a pack exceeds ctx only when a single oversized piece fills it
        assert r["t"] <= ctx or r["n"] == 1
    # conservation: packed token total == the BPE total
    total = counted.agg(F.sum("bpe_tokens")).collect()[0][0]
    assert sum(r["t"] for r in sums) == total

    weights = {"src0": 2.0, "src1": 1.0, "src2": 1.0}
    rates = mixture_rates(
        counted, weights, token_budget=10_000, tokens_col="bpe_tokens"
    )
    assert set(rates) <= set(weights)
    assert all(r > 0 for r in rates.values())
    mixed = build_mixture(
        counted, weights, 10_000, seed=3, tokens_col="bpe_tokens"
    )
    assert mixed.count() > 0


def test_encode_ids_bijective_with_pieces(spark, trained):
    """Id encoding is a per-piece bijection of the piece encoding:
    merged pieces/EOW through the vocab table, residual single chars
    through the open-alphabet offset — same (doc_id, pos) grain, and
    every id maps back to exactly one piece."""
    from kinesis_iterator_spark.bpe import (
        bpe_encode_ids,
        bpe_encode_rows,
        bpe_vocab,
    )

    doc = _doc(spark, SF_DIRS[0])
    vocab = bpe_vocab(trained)
    base = len(vocab)
    pieces = {
        (r["doc_id"], r["pos"]): r["piece"]
        for r in bpe_encode_rows(doc, trained).collect()
    }
    ids = {
        (r["doc_id"], r["pos"]): r["token_id"]
        for r in bpe_encode_ids(doc, trained).collect()
    }
    assert set(pieces) == set(ids)
    back: dict[int, str] = {}
    for k, piece in pieces.items():
        tid = ids[k]
        want = vocab[piece] if piece in vocab else base + ord(piece)
        assert tid == want
        assert back.setdefault(tid, piece) == piece  # injective
    # vocab ids are dense 0..len-1 and rank-ordered by merge
    assert sorted(vocab.values()) == list(range(len(vocab)))


# -- trainer scaling (VERDICT r11 #4) ------------------------------------


def test_driver_path_engages_below_gate(spark, trained):
    """The fixture vocabulary sits far below DRIVER_BPE_MAX_WORDS, so
    `trained` came from the driver fast path — pin it explicitly
    against the incremental driver trainer AND the reference."""
    from kinesis_iterator_spark.bpe import bpe_train_driver

    doc = _doc(spark, SF_DIRS[0])
    wf = [(r["w"], int(r["freq"])) for r in word_frequencies(doc).collect()]
    assert bpe_train_driver(wf, N_MERGES) == trained


@pytest.mark.slow
def test_distributed_path_matches_driver(spark, trained, monkeypatch):
    """Force the above-gate loop (gate = -1, the DRIVER_CC_MAX_EDGES
    discipline): the delta-maintained distributed trainer is
    bit-identical to the driver/reference result."""
    import kinesis_iterator_spark.bpe as bpe_mod

    monkeypatch.setattr(bpe_mod, "DRIVER_BPE_MAX_WORDS", -1)
    doc = _doc(spark, SF_DIRS[0])
    assert bpe_mod.bpe_train(spark, doc, N_MERGES) == trained


def test_incremental_maintenance_matches_reference_adversarial():
    """The incremental invariant (`_apply_merge` on maintained state ≡
    from-scratch `_segment` under the full rank table) over adversarial
    corpora: repeated characters (overlapping occurrences), tie-heavy
    counts, words that shrink to one symbol."""
    import random

    from kinesis_iterator_spark.bpe import bpe_train_driver

    rng = random.Random(7)
    corpora = [
        [("aaaa", 5), ("aaa", 3), ("aa", 2)],
        [("abab", 4), ("aba", 4), ("bab", 4)],
        [("xxxx", 2), ("xxy", 2), ("yxx", 2), ("xyx", 2)],
    ]
    for _ in range(40):
        wf: dict = {}
        for _ in range(rng.randint(1, 14)):
            w = "".join(
                rng.choice("abc") for _ in range(rng.randint(1, 9))
            )
            wf[w] = wf.get(w, 0) + rng.randint(1, 6)
        corpora.append(sorted(wf.items()))
    for wf in corpora:
        for mf in (1, 2):
            got = bpe_train_driver(list(wf), 16, min_freq=mf)
            want = bpe_train_reference(list(wf), 16, min_freq=mf)
            assert got == want, (wf, mf, got, want)


def test_driver_actions_constant_in_n_merges(spark):
    """The fast path's point: Spark ACTIONS do not grow with n_merges
    (r11's loop paid one per merge). Counted via statusTracker job-id
    deltas — 4 vs 32 merges cost the SAME number of jobs. The job-id
    counter, not the tracker's job listing: the listing keeps only
    spark.ui.retainedJobs jobs and drops ~100 at once past that, which
    made a delta read -97 mid-suite."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()

    def njobs():
        return sched.nextJobId()

    doc = _doc(spark, SF_DIRS[0])
    j0 = njobs()
    bpe_train(spark, doc, 4)
    small = njobs() - j0
    j1 = njobs()
    bpe_train(spark, doc, 32)
    big = njobs() - j1
    assert big == small, (small, big)
    assert small <= 4


def test_decode_roundtrips_encode(spark, trained):
    """`bpe_decode_ids ∘ bpe_encode_ids` is the identity on
    space-normalized text (encoding drops empty words) — the tokenizer
    roundtrip, doc-exact at fixture scale; and a truncated id stream
    (no closing end-of-word sentinel) fails loudly instead of silently
    reconstructing a shorter document."""
    from kinesis_iterator_spark.bpe import bpe_decode_ids, bpe_encode_ids

    doc = _doc(spark, SF_DIRS[0])
    got = {
        r["doc_id"]: r["text"]
        for r in bpe_decode_ids(
            bpe_encode_ids(doc, trained), trained
        ).collect()
    }
    want = {
        r["doc_id"]: " ".join(w for w in r["text"].split(" ") if w)
        for r in doc.collect()
    }
    assert got == want

    from pyspark.sql.window import Window

    truncated = (
        bpe_encode_ids(doc.limit(5), trained)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.desc("pos"))
            ),
        )
        .filter(F.col("rn") > 1)  # drop each doc's LAST token
        .drop("rn")
    )
    with pytest.raises(Exception, match="end-of-word sentinel"):
        bpe_decode_ids(truncated, trained).collect()


def test_vocab_refuses_literal_sentinel_merges():
    """Text literally containing the EOW string can train pieces that
    SPELL the sentinel out of single characters; unguarded, such a piece
    aliases onto sentinel id 0 and falsely closes words in decode. The
    structural tell: a legitimate word-final merge always has a second
    element that itself ends with the sentinel (ADVICE r12)."""
    from kinesis_iterator_spark.bpe import EOW, bpe_vocab

    ok = [("e", EOW), ("th", "e" + EOW), ("a", "b")]
    v = bpe_vocab(ok)
    assert v[EOW] == 0 and ("e" + EOW) in v and ("the" + EOW) in v
    with pytest.raises(ValueError, match="sentinel"):
        bpe_vocab([("</", "w>")])
    with pytest.raises(ValueError, match="sentinel"):
        bpe_vocab([("</w", ">")])


def test_batched_distributed_truncates_unfaithful_batches(
    spark, monkeypatch
):
    """Batched rounds (r13): blind disjoint top-k is NOT greedy-faithful
    — merging rank-1 can create product pairs (x, a+b) whose count
    outranks the round's rank-2 pair, so the verifier must truncate.
    Corpus engineered so step 2 of the naive batch diverges: after
    merging (a, b), the new pair (ab, y) carries the full 100 count
    while the next original pair would have been chosen otherwise.
    The distributed result must stay bit-identical to the reference."""
    import kinesis_iterator_spark.bpe as bpe_mod

    monkeypatch.setattr(bpe_mod, "DRIVER_BPE_MAX_WORDS", -1)
    rows = [("x a b y", 100), ("p q", 90), ("r s", 80)]
    doc = spark.createDataFrame(
        [(i, " ".join([t] * f)) for i, (t, f) in enumerate(rows)],
        "doc_id long, text string",
    )
    wf = []
    for t, f in rows:
        wf.extend((w, f) for w in t.split(" "))
    want = bpe_train_reference(sorted(wf), 6)
    got = bpe_mod.bpe_train(spark, doc, 6)
    assert got == want
    # Sanity: the adversarial shape actually bites — the product pair
    # is chosen at some step, i.e. a naive disjoint batch of the
    # round-1 ranking would have diverged.
    assert any(a.endswith(bpe_mod.EOW) is False and len(a) > 1 for a, _ in want) or any(
        len(a) > 1 or len(b) > 1 for a, b in want
    )


@pytest.mark.slow
def test_batched_distributed_matches_reference_adversarial(
    spark, monkeypatch
):
    """Random adversarial corpora through the BATCHED distributed loop
    (the driver-path adversarial pin's twin): bit-identical merges at
    multiple min_freq settings, under a small top-K so batching and
    truncation both exercise."""
    import random

    import kinesis_iterator_spark.bpe as bpe_mod

    monkeypatch.setattr(bpe_mod, "DRIVER_BPE_MAX_WORDS", -1)
    monkeypatch.setattr(bpe_mod, "BPE_BATCH_TOP_K", 8)
    rng = random.Random(13)
    for trial in range(3):
        wf: dict = {}
        for _ in range(rng.randint(6, 18)):
            w = "".join(
                rng.choice("abc") for _ in range(rng.randint(1, 7))
            )
            wf[w] = wf.get(w, 0) + rng.randint(1, 9)
        doc = spark.createDataFrame(
            [
                (i, " ".join([w] * f))
                for i, (w, f) in enumerate(sorted(wf.items()))
            ],
            "doc_id long, text string",
        )
        want = bpe_train_reference(sorted(wf.items()), 12)
        got = bpe_mod.bpe_train(spark, doc, 12)
        assert got == want, (trial, wf, got, want)


def test_batch_verifier_sound_over_random_corpora_pure_python():
    """Soundness of the batched round's SELECTION verifier without
    Spark: mirror `_bpe_train_distributed`'s round structure in
    process (exact counts, `_disjoint_prefix`, per-word sequential
    batch application with step-tagged deltas, `_faithful_steps`
    truncation) and pin bit-identity to the reference across many
    random corpora × (min_freq, top-K) configs — the argument that
    only TOUCHED pairs can outrank a prefix step is exercised at
    volume here (400×6 configs ran clean during development; a
    reduced sweep is kept suite-fast)."""
    import random

    from kinesis_iterator_spark.bpe import (
        EOW,
        _apply_merge,
        _disjoint_prefix,
        _faithful_steps,
    )

    def simulate(wf, n_merges, min_freq, topk):
        words = [list(w) + [EOW] for w, _ in wf]
        freqs = [f for _, f in wf]

        def counts():
            pc: dict = {}
            for syms, f in zip(words, freqs):
                for j in range(len(syms) - 1):
                    p = (syms[j], syms[j + 1])
                    pc[p] = pc.get(p, 0) + f
            return pc

        def apply_batch(prefix):
            delta: dict = {}
            new_words = []
            for syms, f in zip(words, freqs):
                syms = list(syms)
                for step, (a, b) in enumerate(prefix, start=1):
                    hit = any(
                        syms[j] == a and syms[j + 1] == b
                        for j in range(len(syms) - 1)
                    )
                    if not hit:
                        continue
                    for j in range(len(syms) - 1):
                        k = (syms[j], syms[j + 1], step)
                        delta[k] = delta.get(k, 0) - f
                    syms = _apply_merge(syms, a, b)
                    for j in range(len(syms) - 1):
                        k = (syms[j], syms[j + 1], step)
                        delta[k] = delta.get(k, 0) + f
                new_words.append(syms)
            return new_words, delta

        merges: list = []
        while len(merges) < n_merges:
            pc = counts()
            ts = sorted(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )[:topk]
            top = [{"a": p[0], "b": p[1], "c": c} for p, c in ts]
            if not top or top[0]["c"] < min_freq:
                break
            prefix = _disjoint_prefix(top, min_freq)[
                : n_merges - len(merges)
            ]
            new_words, delta = apply_batch(prefix)
            if len(prefix) > 1:
                # Mirror the production loop's server-side candidate
                # bound: only pairs whose max possible count (c0 +
                # positive deltas) reaches the smallest prefix count
                # can outrank — the rest never reach the driver.
                min_c0 = min(int(r["c"]) for r in top[: len(prefix)])
                pos: dict = {}
                for (a, b, st_), d in delta.items():
                    if d > 0:
                        pos[(a, b)] = pos.get((a, b), 0) + d
                pairs = {(a, b) for (a, b, st_) in delta}
                elig = {
                    q
                    for q in pairs
                    if pc.get(q, 0) + pos.get(q, 0) >= min_c0
                }
                touched = [
                    {"a": a, "b": b, "s": st_, "d": d, "c0": pc.get((a, b))}
                    for (a, b, st_), d in delta.items()
                    if d and (a, b) in elig
                ]
                ok = _faithful_steps(prefix, top, touched)
                if ok < len(prefix):
                    prefix = prefix[:ok]
                    new_words, delta = apply_batch(prefix)
            merges.extend(prefix)
            words = new_words
        return merges

    rng = random.Random(99)
    for trial in range(60):
        wf: dict = {}
        alpha = rng.choice(["ab", "abc", "abcd"])
        for _ in range(rng.randint(2, 20)):
            w = "".join(
                rng.choice(alpha) for _ in range(rng.randint(1, 8))
            )
            wf[w] = wf.get(w, 0) + rng.randint(1, 9)
        items = sorted(wf.items())
        mf = rng.choice((1, 2))
        topk = rng.choice((4, 16, 64))
        nm = rng.randint(1, 20)
        got = simulate(list(items), nm, mf, topk)
        want = bpe_train_reference(list(items), nm, mf)
        assert got == want, (trial, mf, topk, nm, items, got, want)
