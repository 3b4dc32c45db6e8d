"""Incremental deduplication: admit a NEW batch of documents against an
already-curated corpus without re-deduplicating the corpus.

At the 100 TB design point a corpus is not rebuilt when data arrives — the
batch (GBs) is checked against a persisted index (digests + LSH band
buckets) built once from the corpus (TBs). Cost scales with the BATCH:

- the corpus is never re-read, re-shingled, or re-banded — only its index
  (≤ ~50 B/doc: one 16-byte digest row + 4 slim band rows) is joined;
- the batch side runs the exact same signature pipeline as the full
  `dedup_minhash_lsh` path (`dedup.minhash_bands` — one shared
  implementation, so batch bands are bit-compatible with stored bands);
- exact-Jaccard verification reads corpus TEXT only for candidate hits (a
  sliver), via an equi-join on doc_id — point lookups, not a scan.

The reference engine's analogue is checkpoint-resume (SURVEY §2.A A8):
state from a previous run bounds the work of the next. Here the "state"
is the dedup index; `extend_index` plays the role of the post-batch
checkpoint save.

Index layout (parquet + meta sidecar, the `write_ann_index` convention):

- ``{index_dir}/digests/``  — (doc_id, digest) md5 of text (exact dup key)
- ``{index_dir}/bands/``    — (doc_id, band_id, band_key) MinHash-LSH band
  rows; buckets larger than `dedup.MAX_BUCKET` are DROPPED at write
  time, mirroring the full path's hot-bucket rule (a mega-bucket is
  boilerplate — its members are better caught by exact dedup)
- ``{index_dir}/meta.json`` — the LSH parameters the index was built with;
  verified against the library's constants at query time so an index
  built under different banding fails loudly instead of silently missing
  near-dups.
- ``{index_dir}/dropped/`` — TOMBSTONES: (band_id, band_key) of every
  bucket the cap rule ever dropped (at build or at any append). Without
  them, a bucket dropped in one batch could leave a small remnant from
  other batches that keeps pairing — and compaction could not tell a
  legitimately small bucket from the remnant of a mega-bucket. With
  them, :func:`compact_index` reproduces EXACTLY the band set a fresh
  :func:`write_index` of the union corpus would build (pinned in
  tests), and `dedup_against_index` anti-joins them (a tiny frame —
  one row per mega-bucket) so remnants stop pairing immediately.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .queries import release_local_checkpoint
from .queries.dedup import (
    JACCARD_THRESHOLD,
    MAX_BUCKET,
    N_BANDS,
    N_HASHES,
    minhash_bands,
    verify_jaccard,
)

def _current_meta() -> dict:
    """The LSH parameters this library would build an index with — the
    single source for both the write-time sidecar and the query-time
    staleness check (one dict, so a future parameter cannot be added to
    one side and slip past the other)."""
    return {
        "n_hashes": N_HASHES,
        "n_bands": N_BANDS,
        "max_bucket": MAX_BUCKET,
        "jaccard_threshold": JACCARD_THRESHOLD,
    }


def _inheriting(fn):
    """``fn`` wrapped to run on another thread with THIS thread's Spark
    local properties (job group, scheduler pool) and session tags —
    plain threads start without them under PySpark's pinned-thread
    mode. Captured at wrap time; ``fn`` itself when no Spark context
    is running."""
    from pyspark import SparkContext, inheritable_thread_target
    from pyspark.sql import SparkSession

    if SparkContext._active_spark_context is None:
        return fn
    session = (
        SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    )
    return inheritable_thread_target(session)(fn)


def _concurrently(*thunks):
    """Run independent Spark ACTIONS in parallel driver threads and
    return their results in order. The admit loops are job-count-
    dominated at batch scale (measured: sf0.001 and sf0.1 admits within
    ~15% — the data is not the cost, the per-job scheduling floor is),
    so independent state writes overlap instead of queueing their
    fixed costs. Spark's scheduler accepts concurrent jobs from one
    SparkContext; the caller is responsible for ordering ACROSS groups
    (e.g. the corpus append must commit before any index write starts —
    crash-ordering contracts survive because the parallel group is
    all-index-side). Any thunk's exception propagates (first one wins)
    after all threads finish. Each thread runs with the caller's Spark
    local properties and session tags (`_inheriting`), so a job group
    or scheduler pool set by the caller reaches the thunks' jobs."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [ex.submit(_inheriting(t)) for t in thunks]
        # Collect everything before raising so a failure in one write
        # doesn't leave another mid-flight when the caller handles it.
        results, first_err = [], None
        for f in futures:
            try:
                results.append(f.result())
            except BaseException as e:  # noqa: BLE001 — re-raised below
                results.append(None)
                first_err = first_err or e
        if first_err is not None:
            raise first_err
        return results


def _digests(doc: DataFrame) -> DataFrame:
    return doc.select("doc_id", F.md5("text").alias("digest"))


def _write_band_files(
    doc: DataFrame,
    index_dir: str,
    mode: str,
    bands: DataFrame | None = None,
    bands_restricted: bool = False,
) -> None:
    """One signature pipeline, two outputs: the capped band rows to
    ``bands/`` and the over-cap bucket keys (tombstones — one row per
    mega-bucket) to ``dropped/``.

    The cap rule MIRRORS the full path: `minhash_pairs` emits NO pairs
    from a bucket larger than MAX_BUCKET (mega-buckets are boilerplate —
    exact dedup's job), so the stored index DROPS such buckets entirely
    rather than keeping a truncated sample that would reject docs the
    full recompute admits; the tombstone records the drop so remnants
    from other appends stop pairing and compaction can reproduce the
    union rebuild. Deterministic, so rebuild == build. Residual
    incremental-vs-full difference: a bucket can exceed the cap only by
    ACCUMULATION across appends (each append under the cap, union over
    it); the union-run would drop such a bucket while the incremental
    check still pairs against its stored members until
    :func:`compact_index` — that errs toward rejecting near-dups of
    boilerplate, never toward admitting.

    The occupancy-marked band frame is persisted between the two writes:
    it is the SLIM post-window rows (4 rows/doc of ids+keys — the
    persist-small class), and without the pin the second write would
    recompute the whole shingle/signature pipeline.

    ``bands`` (optional): precomputed ``minhash_bands`` rows of a
    SUPERSET of ``doc`` — filtered here to ``doc``'s ids. Band rows are
    a pure per-document function of text, so the filtered subset equals
    a fresh banding of ``doc`` exactly; callers that already banded the
    batch (CorpusWriter.admit) skip a full signature pipeline."""
    if bands is None:
        bands = minhash_bands(doc)
    elif not bands_restricted:
        # bands_restricted (r18): the caller GUARANTEES no band row's
        # id falls outside ``doc`` — skip the restriction semijoin
        # (one broadcast stage-job per append; the asof suite's
        # generation builder pre-filters its one banding pass by the
        # slice predicate). A subset is fine (banding drops
        # zero-shingle docs anyway); superset bands keep the semijoin.
        bands = bands.join(doc.select("doc_id"), "doc_id", "leftsemi")
    n_in_bucket = F.count("*").over(W.partitionBy("band_id", "band_key"))
    marked = bands.withColumn("_n", n_in_bucket)
    spark = doc.sparkSession
    try:
        # Size-based output partitioning (r18, VERDICT r17 #2 / guide
        # §6): the window's shuffle otherwise lands on the session's
        # shuffle-partition count and every per-admit append inherits it
        # as ~core-count TINY files per generation (measured 32/gen at
        # local[32]; every later snapshot_read then marshals
        # generations×32 paths and bins tiny files at scan time).
        # parallelismFirst=false makes AQE coalesce these post-shuffle
        # partitions to its advisory byte target instead of stopping at
        # the parallelism floor — batch-scale appends become ~1
        # size-based file per generation, huge batches keep
        # size-proportional counts, and NO extra job or exchange is
        # introduced (the window's existing exchange is reused; A/B:
        # jobs-per-admit unchanged, bands files 32→1 per generation).
        # Scoped: restored on exit, so query-path shuffles keep the
        # parallelism-first default.
        # canChangeCachedPlanOutputPartitioning: AQE is OFF inside
        # cached plans by default (cache partitioning determinism), so
        # without it the persisted window shuffle ignores the coalesce
        # conf entirely (measured: 32 files either way). Scoped on for
        # exactly this persist-and-write window.
        with _scoped_confs(
            spark,
            {
                "spark.sql.adaptive.coalescePartitions.parallelismFirst": (
                    "false"
                ),
                "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": (
                    "true"
                ),
            },
        ):
            marked = marked.persist()
            marked.filter(F.col("_n") <= MAX_BUCKET).drop("_n").write.mode(
                mode
            ).parquet(f"{index_dir}/bands")
            marked.filter(F.col("_n") > MAX_BUCKET).select(
                "band_id", "band_key"
            ).distinct().write.mode(mode).parquet(f"{index_dir}/dropped")
    finally:
        marked.unpersist()


# Format-pinned schemas of the stored dedup-index relations. Passing
# them to the hot read paths skips Spark's parquet schema inference,
# which costs one distributed footer-read JOB per spark.read.parquet
# call (r17, guide §1/§5: measured 3-4 inference jobs per
# dedup_against_index construction, ~26 across the asof suite's serve
# legs — pure driver-blocking scheduling overhead at batch scale).
# Scoped to INDEX relations only: data-of-record dirs (corpus/store)
# may schema-evolve across generations and keep inferring. Pinned
# against the writers' inferred schemas in tests/test_layer_schemas.py.
DIGESTS_SCHEMA = "doc_id bigint, digest string"
BANDS_SCHEMA = "doc_id bigint, band_id bigint, band_key string"
DROPPED_SCHEMA = "band_id bigint, band_key string"


def _read_dropped(
    spark: SparkSession, index_dir: str, as_of: int | None = None
) -> DataFrame | None:
    """The tombstone frame, or None for a pre-tombstone index layout
    (treated as empty — those indexes never recorded drops).
    ``as_of`` restricts to the first ``as_of`` recorded admissions'
    tombstones (generation-pinned classifier replay, r13)."""
    d = f"{index_dir}/dropped"
    if not os.path.isdir(d):
        return None
    if as_of is not None:
        try:
            return snapshot_read(spark, d, as_of, schema=DROPPED_SCHEMA).select(
                "band_id", "band_key"
            )
        except ValueError as e:
            if "no data files" in str(e):
                return None  # no tombstones recorded by generation as_of
            raise
    return (
        spark.read.schema(DROPPED_SCHEMA)
        .parquet(d)
        .select("band_id", "band_key")
    )


def _dir_rows(d: str) -> int:
    """Row count of a parquet directory from file FOOTERS — driver-side
    metadata reads, zero Spark jobs (the `_corpus_size` pattern)."""
    import pyarrow.parquet as pq

    total = 0
    for f in os.listdir(d):
        if f.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return total


def write_index(
    doc: DataFrame,
    index_dir: str,
    bands: DataFrame | None = None,
    bands_restricted: bool = False,
) -> dict:
    """Build the dedup index for a (doc_id, text) corpus frame. One pass
    for digests, one signature pipeline for bands (+ its tombstones);
    nothing wider than (doc_id, band_key) is shuffled. Returns the meta
    dict (LSH parameters + the band-row count at build time, the
    baseline `dedup_against_index` uses to flag append drift).
    ``bands``: optional precomputed band rows of a superset of ``doc``
    (see `_write_band_files`)."""
    # Independent outputs, concurrent writes (crash anywhere here
    # leaves no meta.json — detected and healed via reconcile).
    _concurrently(
        lambda: _digests(doc)
        .write.mode("overwrite")
        .parquet(f"{index_dir}/digests"),
        lambda: _write_band_files(
            doc,
            index_dir,
            "overwrite",
            bands=bands,
            bands_restricted=bands_restricted,
        ),
    )
    meta = _current_meta()
    meta["base_band_rows"] = _dir_rows(f"{index_dir}/bands")
    os.makedirs(index_dir, exist_ok=True)
    with open(f"{index_dir}/meta.json", "w") as fh:
        json.dump(meta, fh)
    return meta


# Test seam: called between _swap_staged's two renames (the window in
# which the live dir is missing) so tests can deterministically inject
# the unlocked-reader roll-forward race. Never set in production.
_swap_midpoint_hook = None


def _swap_staged(
    index_dir: str,
    *names: str,
    fence: tuple[str, str, int] | None = None,
) -> None:
    """Commit fully-written ``{name}.compact`` stage dirs over the live
    dirs, one at a time, each with two renames (a reader never sees a
    half-written directory); the displaced data is removed last. Names
    swap in argument order — a caller whose correctness needs a commit
    ORDER across relations (compact_index: tombstones before bands)
    encodes it in the argument order; callers whose relations are each
    independently content-equivalent (the derived-layer compactors) need
    no order at all.

    ``fence`` = (lease_dir, writer_id, gen): verify the caller still
    holds that lease generation (:func:`verify_lease`) before any
    rename — the fencing stamp VERDICT r11 #5 asks for, so a writer
    resumed after a TTL takeover fails loudly at its commit instead of
    interleaving with the new holder. None (direct library use outside
    the writer family) skips the check — coordination is then the
    caller's."""
    import shutil

    if fence is not None:
        verify_lease(*fence)
    for name in names:
        old = f"{index_dir}/{name}.old"
        cur = f"{index_dir}/{name}"
        if os.path.isdir(cur):
            os.rename(cur, old)
        if _swap_midpoint_hook is not None:
            _swap_midpoint_hook(name)
        try:
            os.rename(f"{index_dir}/{name}.compact", cur)
        except FileNotFoundError:
            # External roll-forward (ADVICE r14): between the two renames
            # the live dir is missing, and an unlocked reader that heals
            # in that window commits OUR fully-written stage itself
            # (`_recover_staged` rolls staged→cur and removes `.old`).
            # The content that landed live is exactly what this swap was
            # committing — treat it as done rather than dying at the
            # rename. Anything else (no stage was ever written) keeps
            # failing loudly, restoring the displaced live dir first.
            if not os.path.isdir(cur):
                if os.path.isdir(old):
                    os.rename(old, cur)
                raise
        shutil.rmtree(old, ignore_errors=True)


def _recover_staged(
    index_dir: str, names: tuple[str, ...], discard_stage: bool = True
) -> None:
    """Complete or roll back a :func:`_swap_staged` that a crash
    interrupted. Per directory: a missing live dir with a staged
    ``.compact`` sibling rolls FORWARD (the stage is complete by
    construction — it was written before any rename); a missing live dir
    with only an ``.old`` sibling rolls BACK. Leftover siblings next to
    an intact live dir are discarded — compaction is idempotent, an
    uncommitted stage is simply re-run.

    ``discard_stage=False`` (ADVICE r13): an UNLOCKED read path must
    not delete a ``.compact`` stage sitting next to an INTACT live dir
    — that is exactly what an in-flight compactor in another process
    looks like between staging and its swap, and discarding it makes
    the lease-holding compactor crash at its rename. Healing a MISSING
    live dir stays on even though that state CAN be in-flight (a
    lease-held compactor between `_swap_staged`'s two renames, ADVICE
    r14): the stage is complete by construction, so the reader's
    roll-forward commits the compactor's own content, and
    `_swap_staged` treats the resulting ENOENT at its second rename as
    an external commit rather than a crash. Stage discard is then
    confined to roll-forward's own cleanup."""
    import shutil

    import errno as _errno

    def _restore(src: str, cur: str) -> bool:
        """Rename tolerant of CONCURRENT healers (caught by the r15
        multi-process fuzz): between this process's isdir probe and its
        rename, another reader may restore the live dir itself — the
        rename then fails (ENOENT: source already moved; ENOTEMPTY /
        EEXIST: target already committed), and the only question is
        whether a live dir exists NOW. Any completed state is valid.
        Only those RACE errnos are swallowed (ADVICE r15): a non-race
        failure (EACCES, EIO, ...) while the live dir is missing must
        stay loud — falling through would let the trailing stage
        cleanup delete the only surviving copy of the layer."""
        try:
            os.rename(src, cur)
            return True
        except OSError as exc:
            if exc.errno not in (_errno.ENOENT, _errno.ENOTEMPTY, _errno.EEXIST):
                raise
            return os.path.isdir(cur)

    for name in names:
        cur = f"{index_dir}/{name}"
        old = f"{index_dir}/{name}.old"
        staged = f"{index_dir}/{name}.compact"
        if not os.path.isdir(cur):
            restored = False
            if os.path.isdir(staged):
                restored = _restore(staged, cur)
            if not restored and os.path.isdir(old):
                _restore(old, cur)
        shutil.rmtree(old, ignore_errors=True)
        # Discard the stage only when a live dir exists (ADVICE r15): a
        # stage next to a MISSING live dir may be the only surviving
        # copy of the layer and is never deleted here — the next heal
        # rolls it forward instead. (After a successful roll-forward the
        # stage is already gone, so this is roll-forward's cleanup of
        # stale stages plus the lease-held discard_stage path.)
        if discard_stage and os.path.isdir(cur):
            shutil.rmtree(staged, ignore_errors=True)


def _recover_compaction(index_dir: str, locked: bool = False) -> None:
    """Self-heal every staged swap under a TEXT dedup index dir: the
    band/tombstone pair plus the derived digest layers the CorpusWriter
    stores alongside them (`CorpusWriter.compact` rewrites those too —
    absent names are no-ops). Called from `_check_meta`, so every
    reader/extender heals before touching the index. ``locked=True``
    (mutating entry points under the caller's coordination) also
    discards leftover stage dirs; the unlocked default leaves a stage
    next to an intact live dir alone — it may be another process's
    in-flight compaction (ADVICE r14)."""
    _recover_staged(
        index_dir,
        # digests is in the heal set since r15: CorpusWriter.vacuum
        # stages a digests rewrite (compact_index never did).
        ("dropped", "bands", "digests", "paragraphs", "exact_substr"),
        discard_stage=locked,
    )


def _check_meta(index_dir: str, locked: bool = False) -> dict:
    with open(f"{index_dir}/meta.json") as fh:
        meta = json.load(fh)
    _recover_compaction(index_dir, locked=locked)
    current = _current_meta()
    stale = {k: (meta.get(k), current[k]) for k in current if meta.get(k) != current[k]}
    if stale:
        raise ValueError(
            f"dedup index at {index_dir} was built with different LSH "
            f"parameters than this library: {stale} (stored, current). "
            "Rebuild the index with write_index."
        )
    return meta


def dedup_against_index(
    spark: SparkSession,
    new_doc: DataFrame,
    index_dir: str,
    corpus_doc: DataFrame,
    batch_bands: DataFrame | None = None,
    as_of: int | None = None,
    batch_bands_restricted: bool = False,
) -> DataFrame:
    """Classify each NEW document against the indexed corpus.

    Returns one row per new document:
    (doc_id, verdict, dup_of, jaccard) where verdict ∈
    ``exact_dup`` (byte-identical to a corpus doc; dup_of = smallest
    matching corpus id, jaccard = 1.0), ``near_dup`` (an LSH candidate
    whose exact 3-shingle Jaccard against a corpus doc ≥ the library
    threshold; dup_of = the corpus doc with the highest jaccard,
    smallest-id tiebreak), or ``novel``.

    ``corpus_doc`` is the corpus (doc_id, text) frame — consulted ONLY
    for candidate hits' text via an equi-join (the curated corpus parquet
    or its sharded output; at scale these are point lookups against a
    sliver of doc_ids, not a corpus scan). Exact dups are excluded from
    the near-dup check (they are already fully accounted). Batch-internal
    duplicates are deliberately out of scope — run the batch through
    `pipeline.curate_frame` first; this function answers only
    "is it new RELATIVE TO the corpus".

    ``batch_bands`` (optional): precomputed ``minhash_bands`` rows of a
    superset of ``new_doc`` — filtered to the non-exact remainder here.
    Band rows are per-document, so the subset equals a fresh banding;
    an admit loop that also extends the index bands the batch ONCE.

    ``batch_bands_restricted``: the caller GUARANTEES ``batch_bands``
    holds NO rows for ids outside ``new_doc`` — skips the per-call
    restriction semijoin (one broadcast stage-job; the asof replay
    legs band the probe itself and pass this). A SUBSET is fine (the
    semijoin only ever removes superset strays, and banding itself
    drops zero-shingle docs); passing SUPERSET bands with this flag
    fabricates candidates from stale rows — only set it when the band
    frame was built from ``new_doc`` or filtered by its exact
    predicate.

    ``as_of`` (r13): replay the classification against the index
    exactly as it stood after recorded admission ``as_of`` —
    digest/band/tombstone file selection from the per-admit manifests
    a `CorpusWriter` maintains. Pass the matching
    ``corpus(as_of=as_of)`` as ``corpus_doc`` so candidate text joins
    the same-era corpus. Generations collapsed by compaction/reconcile
    fail loudly.
    """
    meta = _check_meta(index_dir)
    _warn_if_drifted(index_dir, meta)
    if as_of is None:
        stored_digests = spark.read.schema(DIGESTS_SCHEMA).parquet(
            f"{index_dir}/digests"
        )
        stored_bands = spark.read.schema(BANDS_SCHEMA).parquet(
            f"{index_dir}/bands"
        )
    else:
        stored_digests = snapshot_read(
            spark, f"{index_dir}/digests", as_of, schema=DIGESTS_SCHEMA
        )
        stored_bands = snapshot_read(
            spark, f"{index_dir}/bands", as_of, schema=BANDS_SCHEMA
        )
    # Honor tombstones: a bucket the cap rule dropped in ANY batch is
    # boilerplate; its remnant rows from other batches must not pair
    # (the union-corpus rebuild would drop the whole bucket). The
    # tombstone frame is one row per mega-bucket — AQE broadcasts it.
    dropped = _read_dropped(spark, index_dir, as_of=as_of)
    if dropped is not None:
        stored_bands = stored_bands.join(
            dropped, ["band_id", "band_key"], "left_anti"
        )

    # Exact: smallest corpus doc sharing the digest. AQE broadcasts the
    # batch-side digest frame (small by construction) under the join.
    # NOT persisted despite three consumers (A/B'd r18: persisting the
    # frame cost +3/+4 stage-jobs per classifier leg — the
    # InMemoryRelation splits AQE stages — vs letting the tiny
    # digest-join lineage recompute; the r6 "persist is plan-shape
    # dependent" lesson).
    exact = (
        _digests(new_doc)
        .join(
            stored_digests.select(
                F.col("doc_id").alias("dup_of"), "digest"
            ),
            "digest",
        )
        .groupBy("doc_id")
        .agg(F.min("dup_of").alias("dup_of"))
        .withColumn("verdict", F.lit("exact_dup"))
        .withColumn("jaccard", F.lit(1.0))
    )

    # Near: band the non-exact remainder of the batch (the only shingle/
    # signature work this function does), join band rows against the
    # stored buckets, verify candidates' exact Jaccard against corpus
    # text, keep the best corpus match per new doc.
    remainder = new_doc.join(exact.select("doc_id"), "doc_id", "left_anti")
    if batch_bands is None:
        remainder_bands = minhash_bands(remainder)
    else:
        # Precomputed bands may cover a SUPERSET of new_doc (e.g. the
        # curate stage's eligible set): restrict to the batch before
        # dropping the exact dups, or stale band rows would fabricate
        # candidates. Callers that built the bands from new_doc itself
        # declare it (batch_bands_restricted) and skip the semijoin.
        remainder_bands = (
            batch_bands
            if batch_bands_restricted
            else batch_bands.join(
                new_doc.select("doc_id"), "doc_id", "leftsemi"
            )
        ).join(exact.select("doc_id"), "doc_id", "left_anti")
    cand = (
        remainder_bands
        .select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
        .join(
            stored_bands.select(
                F.col("doc_id").alias("doc_b"), "band_id", "band_key"
            ),
            ["band_id", "band_key"],
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Best corpus match per new doc: (max jaccard, min doc_b) selected
    # with a struct-min AGGREGATE instead of row_number over a window
    # (r18; the r8 first-occurrence-per-key pattern) — the aggregate
    # guarantees a map-side partial (a viral near-dup doc's candidates
    # reduce before the shuffle instead of sorting in one window task)
    # and drops the window's Sort. min(struct(-jaccard, doc_b)) picks
    # exactly the window's rank-1 row: double negation is a sign flip
    # (exact), jaccard > 0 here so no -0.0 ambiguity, and the carried
    # jaccard field is inert (doc_b already breaks every tie).
    best = F.min(
        F.struct(
            (-F.col("jaccard")).alias("_nj"),
            F.col("doc_b").alias("dup_of"),
            F.col("jaccard").alias("jaccard"),
        )
    ).alias("_best")
    # Text attach for the batch side uses new_doc, not remainder: cand's
    # doc_a values are already exact-free (remainder_bands anti-joined
    # exact above), and the attach is an inner equi-join, so the
    # superset frame yields identical rows while dropping one consumer
    # of exact's lineage (a groupBy frame re-derives per consumer —
    # measured −2 stage-jobs per classifier leg, r18).
    near = (
        verify_jaccard(cand, new_doc, corpus_doc)
        .groupBy("doc_a")
        .agg(best)
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("_best.dup_of").alias("dup_of"),
            F.lit("near_dup").alias("verdict"),
            F.col("_best.jaccard").alias("jaccard"),
        )
    )

    flagged = exact.select("doc_id", "verdict", "dup_of", "jaccard").unionByName(
        near.select("doc_id", "verdict", "dup_of", "jaccard")
    )
    return (
        new_doc.select("doc_id")
        .join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("verdict", F.lit("novel")).alias("verdict"),
            "dup_of",
            "jaccard",
        )
    )


# Past this growth factor over the base band-row count, dedup_against_index
# warns that the index should be compacted: accumulated appends can grow a
# bucket past the cap without any single append tripping the tombstone
# rule, inflating candidate volume until compact_index re-applies the cap.
COMPACT_DRIFT_FACTOR = 2.0


def _drift_stats(index_dir: str, meta: dict) -> tuple[int, int] | None:
    """(effective_base, current_band_rows) from parquet footers — zero
    Spark jobs; None for a pre-drift-tracking index layout. `is None`,
    not falsy, on the baseline: a legitimate 0-row base (every build
    bucket over-cap) must still count growth once appends accumulate
    rows — it divides as 1."""
    base = meta.get("base_band_rows")
    if base is None:
        return None
    return (base if base > 0 else 1), _dir_rows(f"{index_dir}/bands")


def index_drift(index_dir: str, meta: dict | None = None) -> float | None:
    """Band-row growth factor since the last build/compaction, from
    parquet footers + the meta sidecar — zero Spark jobs. None for a
    pre-drift-tracking index layout (no recorded baseline). A public
    entry point: self-heals an interrupted compaction swap before
    touching the bands directory, like every other index operation."""
    if meta is None:
        with open(f"{index_dir}/meta.json") as fh:
            meta = json.load(fh)
    _recover_compaction(index_dir)
    stats = _drift_stats(index_dir, meta)
    if stats is None:
        return None
    base, current = stats
    return current / base


def _warn_if_drifted(index_dir: str, meta: dict) -> None:
    stats = _drift_stats(index_dir, meta)
    if stats is None:
        return
    base, current = stats
    if current > COMPACT_DRIFT_FACTOR * base:
        import warnings

        warnings.warn(
            f"dedup index at {index_dir} has grown to {current} band rows "
            f"from a base of {base} (> {COMPACT_DRIFT_FACTOR}x): appended "
            "buckets are no longer cap-checked across appends — run "
            "compact_index (cheap: re-windows stored rows) or "
            "CorpusWriter.reconcile (full rebuild).",
            stacklevel=3,
        )


def extend_index(
    accepted_doc: DataFrame,
    index_dir: str,
    bands: DataFrame | None = None,
    bands_restricted: bool = False,
) -> None:
    """Append the ACCEPTED (novel) documents' digest and band rows to the
    index — the post-batch "checkpoint save". Append-mode parquet: no
    rewrite of existing index files. The cap rule applies within the
    batch (a batch-level overflow appends a TOMBSTONE, honored by
    queries immediately); growth past the cap by accumulation across
    appends is re-checked only by :func:`compact_index`, which
    `dedup_against_index` nags for past `COMPACT_DRIFT_FACTOR` (query
    cost stays bounded regardless because dedup_against_index joins, it
    never re-groups stored buckets).

    ``bands``: optional precomputed band rows of a superset of
    ``accepted_doc`` (see `_write_band_files`). The digest append and
    the band-file writes are independent outputs of the same batch —
    they run concurrently (`_concurrently`): a crash committing either
    subset is the same recoverable stale-index window as the sequential
    order (reconcile rebuilds both from the corpus)."""
    _check_meta(index_dir, locked=True)
    _concurrently(
        lambda: _digests(accepted_doc)
        .write.mode("append")
        .parquet(f"{index_dir}/digests"),
        lambda: _write_band_files(
            accepted_doc,
            index_dir,
            "append",
            bands=bands,
            bands_restricted=bands_restricted,
        ),
    )


def compact_index(
    spark: SparkSession,
    index_dir: str,
    fence: tuple[str, str, int] | None = None,
) -> dict:
    """Re-apply the mega-bucket cap ACROSS everything appended since the
    last build — the cheap alternative to a full `write_index` rebuild:
    it re-windows the stored (doc_id, band_id, band_key) rows, never
    re-reads or re-shingles corpus text.

    Equivalence (pinned in tests): after compaction the band and
    tombstone sets equal a fresh `write_index` of the union corpus.
    The argument needs the tombstones: a fresh build drops bucket B iff
    its UNION occupancy exceeds the cap; at compaction time B's stored
    occupancy undercounts the union exactly when some batch already
    dropped its members — and that batch left a tombstone. So
    (stored occupancy > cap) ∨ tombstoned ⟺ union occupancy > cap.

    Rewrites are staged to sibling directories and swapped in with two
    renames, so a reader never sees a half-written index; the old data
    is removed last."""
    meta = _check_meta(index_dir, locked=True)
    bands = spark.read.parquet(f"{index_dir}/bands")
    dropped = _read_dropped(spark, index_dir)
    over = (
        bands.groupBy("band_id", "band_key")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > MAX_BUCKET)
        .select("band_id", "band_key")
    )
    kill = over if dropped is None else over.unionByName(dropped).distinct()
    # Pin the tiny kill frame (one row per mega-bucket): it feeds both
    # the anti-join write AND its own tombstone write below; unpinned,
    # each would re-scan and re-aggregate the full bands parquet.
    kill = kill.localCheckpoint(eager=True)
    compacted = bands.join(kill, ["band_id", "band_key"], "left_anti")

    compacted.write.mode("overwrite").parquet(f"{index_dir}/bands.compact")
    kill.write.mode("overwrite").parquet(f"{index_dir}/dropped.compact")
    release_local_checkpoint(kill)
    # Generation-pinned index (r13): collapse each staged relation's
    # manifest so files + manifest swap together; the digests relation
    # is untouched by this compaction and keeps full history (a pinned
    # read raises on the first collapsed RELATION it touches — loud
    # either way).
    for name in ("bands", "dropped"):
        gens = snapshot_gens(f"{index_dir}/{name}")
        if gens:
            collapse_snapshots(f"{index_dir}/{name}.compact", gens)
    # Commit order: tombstones BEFORE bands. If a crash lands between
    # the two swaps, new-dropped + old-bands is conservative-correct
    # (dedup_against_index's anti-join suppresses the not-yet-removed
    # rows); the reverse order would leave removed buckets without
    # tombstones, so later appends to them would silently re-accumulate.
    # A crash INSIDE a swap (live dir renamed away, stage not yet
    # renamed in) is healed by `_recover_compaction` on the next index
    # touch: the stage was fully written before any rename, so the
    # missing live dir rolls forward.
    _swap_staged(index_dir, "dropped", "bands", fence=fence)
    meta["base_band_rows"] = _dir_rows(f"{index_dir}/bands")
    with open(f"{index_dir}/meta.json", "w") as fh:
        json.dump(meta, fh)
    return meta


def _check_vec_ids(new_emb: DataFrame) -> None:
    """Loud uint32 bound + within-batch uniqueness check on a batch's
    vec_ids, in ONE 1-row aggregate job. Out-of-range ids would
    silently mis-join in the pair scorer's uint64 pack and classify the
    vector novel; a duplicated id (an upstream join fan-out) would
    double verdict-join rows, inflate the admitted count, and land two
    conflicting rows under one id in the store — both are the silent
    corruption class this check exists to prevent. (Uniqueness ACROSS
    batches stays the ingestion layer's contract, as on the text side —
    checking it would cost a store-sized join per admit.)"""
    row = new_emb.agg(
        F.min("vec_id").alias("lo"),
        F.max("vec_id").alias("hi"),
        F.count("vec_id").alias("n"),
        F.countDistinct("vec_id").alias("n_distinct"),
    ).collect()[0]
    if row["lo"] is not None and (row["lo"] < 0 or row["hi"] >= (1 << 32)):
        raise ValueError(
            f"batch vec_ids must be in [0, 2^32) (got {row['lo']}.."
            f"{row['hi']}): the pair scorer packs (query_id, "
            "neighbor_id) into one uint64 — renumber the batch."
        )
    if row["n"] != row["n_distinct"]:
        raise ValueError(
            f"batch vec_ids must be unique (got {row['n']} rows over "
            f"{row['n_distinct']} distinct ids): a duplicated id would "
            "store conflicting vectors under one key and inflate "
            "admission counts — dedupe or renumber the batch."
        )


def embedding_dedup_against_index(
    spark: SparkSession,
    new_emb: DataFrame,
    index_dir: str,
    sf_dir: str | None = None,
    tau: float | None = None,
    corpus_emb: DataFrame | None = None,
    batch_sig: DataFrame | None = None,
    ids_validated: bool = False,
    as_of: int | None = None,
) -> DataFrame:
    """The embedding-side analogue of :func:`dedup_against_index`:
    classify NEW vectors (vec_id, embedding) against a corpus whose ANN
    index was persisted with `similarity.write_ann_index`.

    Returns one row per new vector: (vec_id, verdict, dup_of, cosine)
    with verdict ``near_dup`` (best stored match at cosine ≥ ``tau``,
    default `dedup.COSINE_TAU`) or ``novel``.

    Cost scales with the batch: the batch is signed by the SAME
    `lsh_signatures` kernel the index writer ran (bit-identical buckets,
    parameters read back from the index meta; signature-geometry drift —
    n_tables/dim/b_cap — fails loudly), candidates come from one
    co-partitioned bucket join against the stored signature parquet
    (multi-probe + hot-bucket cap, shared `_lsh_candidate_pairs` with
    the batch as the probe frame — id-equal cross pairs are KEPT, id
    namespaces are the caller's), and scoring is the shared
    `_score_pairs_topk` join-gather tail — the corpus embedding table
    contributes the neighbor side of an equi-join, never a scan-wide
    payload. A zero-norm batch vector (failed encode) has NaN cosine to
    everything and is classified novel, never near_dup. Batch vec_ids
    must fit in uint32 (the scorer's packed-pair dedup contract;
    corpus ids are ordinal by construction) — validated, loud.

    ``corpus_emb``: the stored-vector frame the index covers, when it is
    not the ``{sf_dir}/embeddings.parquet`` table (an `EmbeddingWriter`
    store) — exactly one of ``sf_dir`` / ``corpus_emb`` is required.
    ``batch_sig``: optional precomputed `lsh_signatures` rows for
    EXACTLY the vectors in ``new_emb`` (a sign-once caller restricts its
    superset frame to the batch ids first — stale superset probe rows
    would fabricate candidate work). ``ids_validated``: the caller
    already ran `_check_vec_ids` on a SUPERSET of ``new_emb`` this
    admission (`EmbeddingWriter.admit` does, on the raw batch) — skips
    the redundant bounds aggregate over the batch lineage. ``as_of``
    (r13): replay the classification against the signature/occupancy
    layers as of recorded admission ``as_of`` (pass the matching
    ``store(as_of=as_of)`` as ``corpus_emb``)."""
    from .queries.dedup import COSINE_TAU
    from .queries.similarity import (
        _check_ann_compat,
        _lsh_candidate_pairs,
        _read_ann_meta,
        _score_pairs_topk,
        lsh_signatures,
        stored_bucket_sizes,
    )
    from .tables import load_table

    if (sf_dir is None) == (corpus_emb is None):
        raise ValueError(
            "pass exactly one of sf_dir (the fixture embeddings table) "
            "or corpus_emb (a writer-managed vector store)"
        )
    meta = _read_ann_meta(index_dir)
    _check_ann_compat(index_dir, meta)
    if not ids_validated:
        _check_vec_ids(new_emb)
    tau = COSINE_TAU if tau is None else tau
    par = spark.sparkContext.defaultParallelism
    from .queries.similarity import _SIG_SCHEMA

    stored_sig = (
        spark.read.schema(_SIG_SCHEMA).parquet(
            f"{index_dir}/lsh_signatures"
        )
        if as_of is None
        else snapshot_read(
            spark, f"{index_dir}/lsh_signatures", as_of, schema=_SIG_SCHEMA
        )
    )
    new_sig = batch_sig
    if new_sig is None:
        new_sig = lsh_signatures(
            new_emb.select("vec_id", "embedding"), meta["b"], par
        )
    # The stored bucket-occupancy layer replaces a per-admit window over
    # the WHOLE stored signature frame (corpus-sized shuffle at scale)
    # with a slim aggregate; pre-layer indexes fall back to the window.
    cand = _lsh_candidate_pairs(
        stored_sig,
        meta["b"],
        meta["cap"],
        probe_sig=new_sig,
        bucket_sizes=stored_bucket_sizes(spark, index_dir, as_of=as_of),
    )
    scored = _score_pairs_topk(
        cand,
        corpus_emb
        if corpus_emb is not None
        else load_table(spark, sf_dir, "embeddings"),
        par,
        sf_dir,
        meta["n"],
        query_emb=new_emb,
    )
    best = scored.filter(
        (F.col("rnk") == 1)
        & (F.col("cosine") >= tau)
        & ~F.isnan("cosine")
    )
    return (
        new_emb.select("vec_id")
        .join(
            best.select(
                F.col("query_id").alias("vec_id"),
                F.col("neighbor_id").alias("dup_of"),
                "cosine",
            ),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.when(F.col("dup_of").isNotNull(), "near_dup")
            .otherwise("novel")
            .alias("verdict"),
            "dup_of",
            "cosine",
        )
    )


# -- single-writer lease (VERDICT r10 #6) --------------------------------
#
# Every crash contract in this module (markers, staged swaps, the
# append-then-extend ordering) assumes ONE writer process per index
# directory: two concurrent admits would interleave marker writes
# undetected and corrupt the layers silently. The lease makes the
# assumption explicit and LOUD: a writer takes the lease for the
# duration of each mutating call; a second writer refuses instead of
# interleaving; a crashed holder's lease goes stale after
# ``LEASE_TTL_S`` and the next writer takes over (crash contracts make
# takeover safe — the layers self-heal on the next read). The file
# primitive is os.O_CREAT|O_EXCL (atomic on the local/posix filesystems
# this sandbox has); a 1000-executor deployment swaps this for its
# coordination service exactly like the Kinesis client swap point
# (SURVEY §4.2) — the call sites and semantics stay.

LEASE_TTL_S = 900.0


class LeaseHeld(RuntimeError):
    """Another live writer holds the index's lease."""


class LeaseLost(RuntimeError):
    """The caller's lease was taken over (or released) since acquire —
    committing now would interleave with the new holder's writes."""


def _lease_path(index_dir: str) -> str:
    return os.path.join(index_dir, "writer.lease")


def _lease_gen_path(index_dir: str) -> str:
    return os.path.join(index_dir, "writer.lease.gen")


def _next_lease_gen(index_dir: str) -> int:
    """Bump and persist the monotonic lease generation (the fencing
    token, VERDICT r11 #5). The counter file survives releases — two
    acquisitions NEVER share a generation — and is bumped BEFORE the
    lease file carries the new value, so a crash between the two can
    only skip a generation, never reissue one. Torn counter writes are
    impossible (temp + os.replace); an unreadable/missing counter
    restarts at max(observed lease gen, 0) + 1 via the caller passing
    the floor."""
    try:
        with open(_lease_gen_path(index_dir)) as f:
            stored = int(json.load(f)["gen"])
    except (OSError, ValueError, KeyError, TypeError):
        stored = 0
    gen = stored + 1
    tmp = _lease_gen_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps({"gen": gen}))
    os.replace(tmp, _lease_gen_path(index_dir))
    return gen


def acquire_lease(
    index_dir: str, writer_id: str, ttl_s: float = LEASE_TTL_S
) -> int:
    """Take (or refresh) the index's writer lease; returns the lease
    GENERATION — the fencing token :func:`verify_lease` and
    :func:`_swap_staged`'s ``fence`` check against, so a writer that
    stalls past ``ttl_s`` and resumes after a takeover fails loudly at
    its next commit instead of silently interleaving.

    - free → created atomically (O_CREAT|O_EXCL) at a fresh generation;
    - held by ``writer_id`` → refreshed (mtime heartbeat), same gen;
    - held by another writer, fresher than ``ttl_s`` → raises
      :class:`LeaseHeld` (the loud refusal). Freshness comes from the
      file MTIME alone — an unreadable lease body (another writer's
      open-then-write window) is still a YOUNG lease and refuses; only
      unreadable AND stale is taken over (ADVICE r11);
    - held by another writer, older than ``ttl_s`` → stale takeover
      (temp file + os.replace, the staged-swap idiom) at a fresh
      generation."""
    import time

    os.makedirs(index_dir, exist_ok=True)
    path = _lease_path(index_dir)
    for _ in range(8):  # re-enter on vanished-file races, bounded
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            pass
        else:
            gen = _next_lease_gen(index_dir)
            with os.fdopen(fd, "w") as f:
                f.write(
                    json.dumps(
                        {"writer_id": writer_id, "pid": os.getpid(), "gen": gen}
                    )
                )
            return gen
        # Age from MTIME, independent of body readability: a half-
        # written lease is a LIVE creator mid-write, not a stale one.
        try:
            age = time.time() - os.path.getmtime(path)
        except OSError:
            continue  # vanished between EXCL-create and stat: retry
        try:
            with open(path) as f:
                holder = json.load(f)
        except (OSError, ValueError):
            holder = None
        if holder is not None and holder.get("writer_id") == writer_id:
            os.utime(path)  # heartbeat; generation unchanged
            return int(holder.get("gen", 0))
        if age <= ttl_s:
            who = (
                holder.get("writer_id") if holder else "<unreadable>"
            )
            pid = holder.get("pid", "?") if holder else "?"
            raise LeaseHeld(
                f"index at {index_dir} is being written by {who} "
                f"(pid {pid}, lease age {age:.0f}s <= "
                f"ttl {ttl_s:.0f}s) — concurrent writers would interleave "
                "crash markers; wait, or raise ttl_s only if that writer "
                "is known dead"
            )
        gen = _next_lease_gen(index_dir)
        tmp = path + ".takeover"
        with open(tmp, "w") as f:
            f.write(
                json.dumps(
                    {"writer_id": writer_id, "pid": os.getpid(), "gen": gen}
                )
            )
        os.replace(tmp, path)
        return gen
    raise LeaseHeld(
        f"index at {index_dir}: lease file kept vanishing mid-acquire "
        "(another writer churning) — retry"
    )


def verify_lease(index_dir: str, writer_id: str, gen: int) -> None:
    """Raise :class:`LeaseLost` unless the lease file still records
    (``writer_id``, ``gen``) — the fencing check a resumed-after-
    takeover writer fails before its commit. One file read, zero Spark
    jobs; call it immediately before irreversible state changes."""
    path = _lease_path(index_dir)
    try:
        with open(path) as f:
            holder = json.load(f)
    except (OSError, ValueError) as e:
        raise LeaseLost(
            f"lease for {index_dir} is missing/unreadable — this "
            f"writer ({writer_id}, gen {gen}) no longer holds it; "
            "abandon the mutation and re-acquire"
        ) from e
    if holder.get("writer_id") != writer_id or int(holder.get("gen", -1)) != int(gen):
        raise LeaseLost(
            f"lease for {index_dir} now belongs to "
            f"{holder.get('writer_id')!r} gen {holder.get('gen')} — this "
            f"writer ({writer_id}, gen {gen}) was fenced out (stalled "
            "past the TTL and taken over); its state may be stale. "
            "Abandon the mutation and re-acquire."
        )


def release_lease(index_dir: str, writer_id: str) -> None:
    """Drop the lease if (and only if) ``writer_id`` holds it. Missing
    or foreign leases are left alone — release is idempotent and a
    stale takeover by another writer must not be un-done.

    The read-then-remove race (ADVICE r11: a stale holder's release
    deleting the NEW holder's live lease) is closed by committing the
    ownership check atomically: rename the lease to a writer-scoped
    temp name FIRST, verify the captured file, and restore a foreign
    capture via os.link — which refuses (FileExistsError) if the
    rightful holder already re-created the lease, so a live lease is
    never clobbered."""
    import hashlib

    path = _lease_path(index_dir)
    suffix = hashlib.md5(writer_id.encode()).hexdigest()[:12]
    tmp = f"{path}.release.{suffix}"
    try:
        os.rename(path, tmp)
    except OSError:
        return  # already gone — idempotent
    try:
        with open(tmp) as f:
            mine = json.load(f).get("writer_id") == writer_id
    except (OSError, ValueError):
        mine = False
    if mine:
        os.remove(tmp)
        return
    # Captured someone ELSE's lease: put it back without clobbering a
    # fresher one (os.link fails if path reappeared in the window).
    try:
        os.link(tmp, path)
    except OSError:
        pass
    try:
        os.remove(tmp)
    except OSError:
        pass


# --- admission snapshots (as-of reads over the append-only stores) ------
#
# The corpus/store dirs are APPEND-ONLY after bootstrap (admits append
# novel rows; reconcile/compaction rewrite derived INDEX layers, never
# the data of record), so a per-admit manifest of the parquet files each
# admission added gives exact time travel for free: `store(as_of=g)` /
# `corpus(as_of=g)` read precisely the files the first g recorded
# admissions committed — reproducible training snapshots and reader
# isolation against in-flight admits, with ZERO Spark jobs (os.listdir +
# one appended JSONL line per admit). The manifest lives INSIDE the data
# dir under a "_"-prefixed name: Spark's file index and pyarrow dataset
# discovery both skip it, and a bootstrap `mode("overwrite")` clears it
# together with the data — generations restart with the store, so a
# manifest can never describe files from a previous life of the dir.
# Crash contract: the manifest line is appended AFTER the data commit;
# a crash in between leaves the files unattributed until the NEXT
# recorded admission sweeps them in (snapshots stay consistent, the
# full-dir read stays complete). A torn tail line (crash mid-append) is
# skipped by the reader (JSONL discipline).

SNAPSHOT_NAME = "_snapshots.jsonl"


def _snapshot_path(data_dir: str) -> str:
    return os.path.join(data_dir, SNAPSHOT_NAME)


def _data_files(data_dir: str) -> list[str]:
    """Sorted RELATIVE paths of every parquet file under ``data_dir``,
    recursively — a hive-partitioned layer (e.g. ``lsh_signatures/
    table_id=K/part-*.parquet``) keeps its partition-dir prefix in the
    manifest so the as-of reader can restore the partition column via
    ``basePath``. Flat dirs produce the same names as before.

    Hidden components (``_``/``.`` prefixes) are pruned, matching
    Spark/pyarrow dataset discovery (ADVICE r13): parquet files left
    under a crashed write's ``_temporary/`` must not be swept into a
    generation manifest or the compactor's carry-over."""
    out = []
    for root, dirs, files in os.walk(data_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        rel = os.path.relpath(root, data_dir)
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(f if rel == "." else os.path.join(rel, f))
    return sorted(out)


def _read_snapshots(data_dir: str) -> list[dict]:
    """Valid manifest lines (unparseable tails from a torn append are
    skipped — only ever the LAST line, but the reader tolerates any)."""
    path = _snapshot_path(data_dir)
    if not os.path.exists(path):
        return []
    out = []
    with open(path) as fh:
        for line in fh:
            try:
                rec = json.loads(line)
                out.append(
                    {
                        "files": list(rec["files"]),
                        "n": rec.get("n"),
                        "extra": rec.get("extra"),
                        "compacted": bool(rec.get("compacted", False)),
                        "reason": rec.get("reason"),
                    }
                )
            except (ValueError, KeyError, TypeError):
                continue
    return out


def record_snapshot(
    data_dir: str, n: int | None = None, extra: dict | None = None
) -> int:
    """Record the files the just-committed admission added (everything
    in ``data_dir`` not attributed to an earlier snapshot) as the next
    generation; returns that 1-based generation. Call AFTER the data
    write commits (and under the writer's lease — this is writer-side
    metadata). ``extra``: an optional JSON dict carried on the line —
    cumulative layer totals a generation-pinned reader needs as-of this
    generation (e.g. the BM25 (n_docs, t_tokens) pair)."""
    seen: set[str] = set()
    for rec in _read_snapshots(data_dir):
        seen.update(rec["files"])
    delta = [f for f in _data_files(data_dir) if f not in seen]
    path = _snapshot_path(data_dir)
    # Torn-tail guard (ADVICE r12): a crash mid-append can leave a line
    # without its newline; appending straight onto it would concatenate
    # two records into one unparseable line and silently SHIFT every
    # later generation number. A leading newline when the last byte
    # isn't '\n' confines a torn write to costing only its own line.
    prefix = ""
    try:
        with open(path, "rb") as fh:
            fh.seek(-1, os.SEEK_END)
            if fh.read(1) != b"\n":
                prefix = "\n"
    except (OSError, ValueError):
        pass  # missing or empty manifest — nothing to guard
    rec: dict = {"files": delta, "n": n}
    if extra is not None:
        rec["extra"] = extra
    with open(path, "a") as fh:
        fh.write(prefix + json.dumps(rec) + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    return len(_read_snapshots(data_dir))


def snapshot_gens(data_dir: str) -> int:
    """How many admission snapshots the dir records (0 for a
    pre-snapshot layout or a dir without recorded admissions)."""
    return len(_read_snapshots(data_dir))


def snapshot_files(data_dir: str, as_of: int) -> list[str]:
    """Absolute paths of the data files visible at generation
    ``as_of`` (1-based). Loud on an unknown generation or a dir with
    no manifest — silently reading the full dir would break the
    isolation the caller asked for."""
    recs = _read_snapshots(data_dir)
    if not recs:
        raise ValueError(
            f"{data_dir} records no admission snapshots ({SNAPSHOT_NAME}"
            " missing or empty) — as-of reads need a writer that "
            "recorded them; use the plain full read instead"
        )
    if not 1 <= as_of <= len(recs):
        raise ValueError(
            f"as_of={as_of} out of range: {data_dir} records "
            f"{len(recs)} snapshot generation(s)"
        )
    if recs[as_of - 1]["compacted"]:
        first_live = next(
            (i + 1 for i, r in enumerate(recs) if not r["compacted"]),
            len(recs),
        )
        why = recs[as_of - 1].get("reason") or (
            "collapsed by a compaction/reconcile rewrite (derived "
            "layers trade history for layout)"
        )
        raise ValueError(
            f"generation {as_of} of {data_dir} is not servable: {why} — "
            f"only generations >= {first_live} are servable here; "
            "rebuild a fresh index over the data of record as of that "
            "generation instead"
        )
    paths = [
        os.path.join(data_dir, f)
        for rec in recs[:as_of]
        for f in rec["files"]
    ]
    if not paths:
        # Every generation up to as_of committed an empty delta (e.g. a
        # bootstrap admit whose survivors wrote zero part files).
        # spark.read.parquet() with no paths dies with an opaque py4j
        # error — fail with the module's loud convention instead
        # (ADVICE r12).
        raise ValueError(
            f"snapshot generation(s) 1..{as_of} of {data_dir} contain "
            "no data files (every recorded admission committed an "
            "empty delta) — there is nothing to read at this as_of"
        )
    return paths


def snapshot_extra(data_dir: str, as_of: int) -> dict | None:
    """The ``extra`` dict recorded on generation ``as_of``'s manifest
    line (cumulative layer totals as of that admission), or None if the
    line carries none. Same range/compaction loudness as
    :func:`snapshot_files`."""
    recs = _read_snapshots(data_dir)
    if not 1 <= as_of <= len(recs):
        raise ValueError(
            f"as_of={as_of} out of range: {data_dir} records "
            f"{len(recs)} snapshot generation(s)"
        )
    if recs[as_of - 1]["compacted"]:
        why = recs[as_of - 1].get("reason") or (
            "collapsed by a compaction/reconcile rewrite"
        )
        raise ValueError(
            f"generation {as_of} of {data_dir} is not servable: {why} — "
            "its totals are no longer recorded"
        )
    return recs[as_of - 1]["extra"]


# Spark launches a distributed LISTING job for explicit multi-path
# reads above parallelPartitionDiscovery.threshold (default 32). On a
# driver-LOCAL filesystem the job's scheduling overhead dominates the
# ~µs stat calls (r16: 2.6-3.6 s driver-side vs 8.5-10.3 s with the job
# at 5×10³ paths; r17: a 64-path classifier leg was 1.46 s + 0 jobs
# driver-side vs 3.26 s + 1 job). r18 (VERDICT r17 #4): the raised
# threshold is scoped HERE, per read, and only when every path is
# local — an object-store deployment's snapshot_read keeps Spark's
# default and gets the parallel listing job it wants. 512 is a floor;
# genuinely huge local manifests raise it to cover themselves (local
# driver listing stays ~linear at ~0.6 ms/path, cheaper than the job
# well past 10⁴ paths per the r16 measurement).
_LOCAL_DISCOVERY_THRESHOLD = 512
_SPARK_DISCOVERY_DEFAULT = 32


_LISTING_SCOPE_LOCK = __import__("threading").RLock()
_LISTING_SCOPE_STATE: dict = {"depth": 0, "saved": None}
_DISCOVERY_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _local_listing_scope(spark: SparkSession, paths: list[str]):
    """Context manager scoping a raised discovery threshold around an
    explicit many-path read of LOCAL files; no-op (and zero py4j
    traffic) when the path count can't trigger the listing job or any
    path lives on a non-local scheme. Conf scoping is session-global
    for the duration — concurrent reader threads may transiently see
    the raised value, which only moves WHERE their listing runs, never
    what it returns. Unlike the lease-guarded `_scoped_confs`, this is
    a public-read-path scope: a ref-counted depth under a module lock
    makes overlapping scopes restore the ORIGINAL value exactly once,
    at the last exit (r18 review — naive save/restore from two threads
    leaked a raised threshold into the session forever). The raised
    value only ratchets UP while any scope is open; readers that need
    the parallel job (object-store paths) are no-ops here and never
    enter."""
    from contextlib import contextmanager, nullcontext

    if len(paths) <= _SPARK_DISCOVERY_DEFAULT or any(
        "://" in p and not p.startswith("file:") for p in paths
    ):
        return nullcontext()
    want = max(_LOCAL_DISCOVERY_THRESHOLD, len(paths) + 1)

    @contextmanager
    def _cm():
        with _LISTING_SCOPE_LOCK:
            st = _LISTING_SCOPE_STATE
            if st["depth"] == 0:
                try:
                    st["saved"] = spark.conf.get(_DISCOVERY_CONF)
                except Exception:
                    st["saved"] = None
                cur = -1
            else:
                cur = int(spark.conf.get(_DISCOVERY_CONF))
            if want > cur:
                spark.conf.set(_DISCOVERY_CONF, str(want))
            st["depth"] += 1
        try:
            yield
        finally:
            with _LISTING_SCOPE_LOCK:
                st = _LISTING_SCOPE_STATE
                st["depth"] -= 1
                if st["depth"] == 0:
                    if st["saved"] is None:
                        spark.conf.unset(_DISCOVERY_CONF)
                    else:
                        spark.conf.set(_DISCOVERY_CONF, st["saved"])
                    st["saved"] = None

    return _cm()


def snapshot_read(
    spark: SparkSession,
    data_dir: str,
    as_of: int,
    schema: str | None = None,
) -> DataFrame:
    """The layer/store as it stood at generation ``as_of`` — a parquet
    read over exactly the manifest's files. ``basePath`` pins the
    table root so hive-partitioned layers (``lsh_signatures/
    table_id=K/``) keep their partition column when individual files
    are listed. ``schema``: pass the layer's format-pinned schema to
    skip the distributed footer-inference job (hot serve/admit paths
    only — a schema-evolvable data-of-record dir must keep inferring)."""
    reader = spark.read.option("basePath", data_dir)
    if schema is not None:
        reader = reader.schema(schema)
    files = snapshot_files(data_dir, as_of)
    # File listing happens eagerly inside reader.parquet() (the
    # InMemoryFileIndex is built at relation resolution), so scoping
    # the conf around the call covers the listing decision.
    with _local_listing_scope(spark, files):
        return reader.parquet(*files)


def export_snapshot(data_dir: str, as_of: int, dest_dir: str) -> dict:
    """Publish generation ``as_of`` of a snapshot-manifested dir as a
    STANDALONE dir — the lifecycle's final step (admit hourly, compact
    nightly, prune weekly, vacuum quarterly, EXPORT the blessed
    generation for a training run). The resolved file list is carried
    byte-identical into ``dest_dir`` (hardlink when the filesystem
    allows — zero data movement on one volume) under its
    manifest-relative names, with a fresh ONE-LINE manifest whose
    ``n`` is the cumulative row total and whose ``extra`` is the
    source generation's line metadata. Consequences:

    - ``snapshot_read(dest, 1)`` ≡ ``snapshot_read(src, as_of)``
      bit-equal (pinned), and any plain reader sees exactly the
      snapshot;
    - the export is INDEPENDENT of the source's later retention,
      vacuum, or compaction (hardlinked bytes survive the source's
      staged-swap deletes — the link count does the bookkeeping);
    - dest is committed ATOMICALLY: files stage into
      ``{dest_dir}.export`` and one rename publishes; a crash leaves
      only the stage, which a re-run replaces.

    Loud on an existing ``dest_dir``, an out-of-range/collapsed
    ``as_of``, or an empty snapshot (same classes as
    :func:`snapshot_files`). Read-only on the source; callers that
    must not race a concurrent vacuum's file deletes run it under the
    writer lease (the writer-family wrappers do)."""
    import shutil

    recover_data_dir(data_dir)
    if os.path.exists(dest_dir):
        raise ValueError(
            f"export destination {dest_dir} already exists — exports "
            "are immutable publishes; pick a fresh path"
        )
    abs_paths = snapshot_files(data_dir, as_of)  # validates as_of
    recs = _read_snapshots(data_dir)
    rel_names = [f for rec in recs[:as_of] for f in rec["files"]]
    # Cumulative row total, mirroring prune_snapshots: tombstones carry
    # n=None legitimately (their rows were merged into the base), but a
    # LIVE line with n=None means the total is unknown — propagate None
    # instead of silently undercounting (ADVICE r16).
    merged_n = [r["n"] for r in recs[:as_of] if not r["compacted"]]
    n_total = (
        sum(merged_n) if all(n is not None for n in merged_n) else None
    )
    extra = recs[as_of - 1].get("extra")
    stage = f"{dest_dir}.export"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    _carry_map(
        [
            (src, os.path.join(stage, name))
            for src, name in zip(abs_paths, rel_names)
        ]
    )
    total_bytes = sum(os.path.getsize(src) for src in abs_paths)
    with open(_snapshot_path(stage), "w") as fh:
        line: dict = {"files": rel_names, "n": n_total}
        if extra is not None:
            line["extra"] = extra
        fh.write(json.dumps(line) + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(stage, dest_dir)
    return {
        "generation": as_of,
        "files": len(rel_names),
        "rows": n_total,
        "bytes": total_bytes,
    }


def _footer_map(paths: list[str], fn):
    """Apply ``fn(pyarrow.parquet.ParquetFile)`` to every path's footer
    CONCURRENTLY (thread pool — footer opens are I/O-bound ~1-2 ms
    syscall chains, and the compactor/vacuum read 10⁴ of them at the
    retention horizon; measured ~5× on the 10⁴-generation compact's
    driver phase). Returns results in ``paths`` order."""
    import pyarrow.parquet as pq

    if len(paths) <= 8:
        return [fn(pq.ParquetFile(p)) for p in paths]
    from concurrent.futures import ThreadPoolExecutor

    # One future per CHUNK, not per path: 10⁴ per-path submits measured
    # ~2.7 s of executor-lock contention at the 10⁴-generation horizon
    # (cProfile r16) — 16 chunked submits make that cost disappear.
    n_workers = 16
    chunk = -(-len(paths) // n_workers)
    spans = [paths[i : i + chunk] for i in range(0, len(paths), chunk)]
    with ThreadPoolExecutor(max_workers=n_workers) as ex:
        parts = list(
            ex.map(lambda ps: [fn(pq.ParquetFile(p)) for p in ps], spans)
        )
    return [r for part in parts for r in part]


def _files_rows(paths: list[str]) -> int:
    """Total row count of explicit parquet files from their FOOTERS —
    the `_dir_rows` discipline (driver-side metadata, zero Spark jobs)
    for an as-of file list."""
    return sum(_footer_map(paths, lambda f: f.metadata.num_rows))


def collapse_snapshots(
    list_dir: str,
    gens: int,
    extra: dict | None = None,
    manifest_dir: str | None = None,
    reason: str | None = None,
) -> None:
    """Atomically rewrite a layer's manifest after a content-equivalent
    REWRITE of the whole layer (compaction or reconcile): generations
    ``1..gens-1`` become tombstones (``compacted: true`` — their
    file-level history no longer exists) and generation ``gens`` claims
    every parquet file currently under ``list_dir``. Generation
    NUMBERING stays aligned with the data of record, so a reader
    pinning a pre-rewrite generation fails loudly (with the
    first-servable generation in the message) instead of silently
    reading post-rewrite content.

    ``manifest_dir`` defaults to ``list_dir`` — a staged-swap compactor
    passes the ``.compact`` stage dir for both (the manifest rides the
    stage through `_swap_staged`'s renames, so files and manifest
    commit together).

    ``reason`` (ADVICE r13): a short human explanation stamped on the
    tombstone lines, surfaced verbatim by `snapshot_files`' loud
    refusal — so an as-of caller can tell "a rewrite destroyed this
    history" from "this layer predates generation pinning"."""
    if gens < 1:
        raise ValueError(f"gens must be >= 1 (got {gens})")
    manifest_dir = list_dir if manifest_dir is None else manifest_dir
    stone: dict = {"files": [], "n": None, "compacted": True}
    if reason is not None:
        stone["reason"] = reason
    lines = [json.dumps(stone) for _ in range(gens - 1)]
    rec: dict = {"files": _data_files(list_dir), "n": None}
    if extra is not None:
        rec["extra"] = extra
    lines.append(json.dumps(rec))
    tmp = _snapshot_path(manifest_dir) + ".tmp"
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, _snapshot_path(manifest_dir))


def prune_snapshots(
    data_dir: str, before_gen: int, reason: str | None = None
) -> bool:
    """Manifest RETENTION (VERDICT r13 #3): collapse generations
    ``< before_gen`` into generation ``before_gen`` — the base line
    inherits their file attributions (and keeps its own ``n``/``extra``;
    ``n`` becomes the cumulative row-delta sum when every merged line
    recorded one), earlier lines become reason-stamped tombstones. The
    DATA FILES are untouched: this is a driver-side manifest rewrite
    (temp file + os.replace — atomic, zero Spark jobs), so

    - ``as_of >= before_gen`` reads are bit-equal before/after (the
      cumulative file set per generation is unchanged);
    - ``as_of < before_gen`` fails loudly naming the horizon (the
      tombstone discipline `collapse_snapshots` established);
    - generation NUMBERING is preserved, so lockstep with derived
      layers survives — prune a writer family together
      (`CorpusWriter.prune_snapshots` / `EmbeddingWriter.
      prune_snapshots` do, under the writer lease).

    This bounds what unbounded history costs: tombstone lines are
    ~60 bytes each, and a following `compact_data_snapshots` rewrites
    the merged base generation into target-sized files (the two
    compose in either order — pinned). Returns True if anything
    changed; ``before_gen == 1`` or a horizon at/below an existing
    collapse is a no-op."""
    recs = _read_snapshots(data_dir)
    if not recs:
        raise ValueError(
            f"{data_dir} records no admission snapshots — nothing to "
            "prune"
        )
    if not 1 <= before_gen <= len(recs):
        raise ValueError(
            f"before_gen={before_gen} out of range: {data_dir} records "
            f"{len(recs)} snapshot generation(s)"
        )
    if before_gen == 1 or recs[before_gen - 1]["compacted"]:
        # Nothing below the horizon, or the base itself is already a
        # tombstone (an earlier rewrite collapsed deeper) — no-op.
        return False
    if all(r["compacted"] for r in recs[: before_gen - 1]):
        return False  # already pruned to (at least) this horizon
    base = dict(recs[before_gen - 1])
    base["files"] = [
        f for rec in recs[:before_gen] for f in rec["files"]
    ]
    merged_n = [r["n"] for r in recs[:before_gen] if not r["compacted"]]
    base["n"] = (
        sum(merged_n) if all(n is not None for n in merged_n) else None
    )
    why = reason or (
        "pruned below the retention horizon (first servable "
        f"generation is {before_gen})"
    )
    stone = {"files": [], "n": None, "compacted": True, "reason": why}
    lines = [json.dumps(stone) for _ in range(before_gen - 1)]
    for rec in [base] + recs[before_gen:]:
        line: dict = {"files": rec["files"], "n": rec["n"]}
        if rec.get("extra") is not None:
            line["extra"] = rec["extra"]
        if rec["compacted"]:
            line["compacted"] = True
        if rec.get("reason") is not None:
            line["reason"] = rec["reason"]
        lines.append(json.dumps(line))
    tmp = _snapshot_path(data_dir) + ".tmp"
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, _snapshot_path(data_dir))
    return True


def record_aligned_snapshot(
    data_dir: str,
    target_gen: int,
    extra: dict | None = None,
    reason: str | None = None,
) -> None:
    """Writer-side per-admit recording for a DERIVED layer dir, keeping
    its generation numbering aligned with the data of record's:

    - ``target_gen <= 0`` — the data dir itself records no snapshots
      (pre-snapshot layout): nothing to align, no-op;
    - layer is exactly one generation behind — the normal admit path:
      append one line attributing this admission's delta;
    - anything else (a rebuild cleared the manifest, or a crash inside
      a previous admit's index-side window skipped a recording) — the
      per-generation attribution is unrecoverable, so COLLAPSE: claim
      the full current file set at ``target_gen`` and tombstone
      earlier generations. Always correct for ``as_of >= target_gen``
      (the files ARE the cumulative content); earlier pins fail loudly
      — a crash degrades layer HISTORY, never correctness."""
    if target_gen <= 0:
        return
    gens = snapshot_gens(data_dir)
    if gens == target_gen - 1:
        record_snapshot(data_dir, extra=extra)
    else:
        # Stamp WHY history is missing (ADVICE r13): a layer aligned
        # late (upgraded mid-history, manifest-less until now) reads
        # very differently to the as-of caller than one whose history
        # a rewrite destroyed. A rebuild path that just cleared the
        # manifest KNOWS it did — it passes ``reason`` explicitly
        # (the writers' reconcile paths do); the gens == 0 default
        # below is then exactly the true late-alignment case. Every
        # reason keeps the word "collapsed" (the loud-refusal match
        # contract).
        if reason is None:
            reason = (
                "layer history collapsed: no per-admit manifest existed "
                "before this recording (layer predates generation "
                f"pinning; first aligned at generation {target_gen})"
                if gens == 0
                else "layer history collapsed by a recording gap "
                f"(re-aligned at generation {target_gen})"
            )
        collapse_snapshots(data_dir, target_gen, extra=extra, reason=reason)


# Per-output-file byte target for the data-of-record compactor: one
# rewritten file per this much input (parquet-compressed bytes, stat'd
# driver-side). 256 MB tracks spark.sql.files.maxPartitionBytes-scale
# scan units at the 100 TB design point.
COMPACT_TARGET_BYTES = 256 * 1024 * 1024

# Generations per compaction write task: at a 10⁴-admit horizon the
# history's BYTES can still be tiny (one byte-sized task), but a single
# task then writes one partition dir per generation SERIALLY — measured
# ~60 s of the 10⁴-generation compact's 86-97 s wall. Splitting the
# __gen range across tasks parallelizes the dir/file creation without
# changing jobs or per-generation attribution (a boundary generation
# that straddles two tasks just emits two files).
COMPACT_GENS_PER_TASK = 256


def recover_data_dir(data_dir: str, locked: bool = False) -> None:
    """Self-heal an interrupted :func:`compact_data_snapshots` swap on a
    DATA-of-record dir — `_recover_staged` scoped to the dir's own
    name. Call before any read/admit touch of the dir (the writers
    do). ``locked=True`` (the admit/compact entry points, under the
    writer lease) also discards leftover stage dirs; the default read
    path leaves a stage next to an intact live dir alone — it may be
    another process's in-flight compaction (ADVICE r13: readers are
    not fenced by the writer lease, so they must not destroy its
    stage)."""
    _recover_staged(
        os.path.dirname(data_dir),
        (os.path.basename(data_dir),),
        discard_stage=locked,
    )


def _gen_split_writer(stage: str, group_idx: int):
    """Executor-side split-writer for :func:`compact_data_snapshots`:
    returns a ``mapInArrow`` function that streams each contiguous
    ``__gen`` run of its (range-partitioned, __gen-sorted) input into
    ``{stage}/gen{g:06d}-s{group_idx}-part{pid:05d}.parquet`` and
    yields one (gen, name, n) accounting row per file written. Names
    are deterministic per (generation, schema group, partition id), so
    a task retry overwrites its own output. Requires the stage dir on
    storage every executor can reach — the same premise as every
    manifest operation (local mode: one filesystem; a cluster deploys
    these dirs on shared storage). Arrow-native end to end: no pandas
    coercion touches the row data."""

    def write(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as papq
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        acc: list[tuple[int, str, int]] = []
        cur: dict = {"gen": None, "writer": None, "n": 0}

        def close():
            if cur["writer"] is not None:
                cur["writer"].close()
                acc.append(
                    (
                        cur["gen"],
                        f"gen{cur['gen']:06d}-s{group_idx}"
                        f"-part{pid:05d}.parquet",
                        cur["n"],
                    )
                )
            cur["writer"], cur["n"] = None, 0

        for b in batches:
            t = pa.Table.from_batches([b])
            if len(t) == 0:
                continue
            g = t.column("__gen").to_numpy()
            data = t.drop_columns(["__gen"])
            cuts = [0, *(np.flatnonzero(np.diff(g)) + 1), len(g)]
            for lo, hi in zip(cuts, cuts[1:]):
                gen = int(g[lo])
                if gen != cur["gen"]:
                    close()
                    cur["gen"] = gen
                    cur["writer"] = papq.ParquetWriter(
                        os.path.join(
                            stage,
                            f"gen{gen:06d}-s{group_idx}"
                            f"-part{pid:05d}.parquet",
                        ),
                        data.schema,
                    )
                cur["writer"].write_table(data.slice(lo, hi - lo))
                cur["n"] += hi - lo
        close()
        if acc:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([a[0] for a in acc], pa.int32()),
                    pa.array([a[1] for a in acc], pa.string()),
                    pa.array([a[2] for a in acc], pa.int64()),
                ],
                names=["gen", "name", "n"],
            )

    return write


_MAINTENANCE_SCAN_CONFS = {
    # Many-tiny-file histories bin at the default 4 MB openCostInBytes
    # into ~32-file scan partitions (~300 scheduling rounds at the
    # 10⁴-generation horizon, measured 9 s → 3.6 s at 128 KB);
    # real-size files are unaffected (actual bytes dominate binning).
    "spark.sql.files.openCostInBytes": str(128 * 1024),
    # Explicit many-path reads (the manifest already IS the file list)
    # default to a parallel-partition-discovery Spark JOB above 32
    # paths; on a driver-local filesystem the job's scheduling overhead
    # dominates the ~µs stat calls (measured interleaved at 5 000
    # paths: 8.5-10.3 s with the job vs 2.6-3.6 s driver-side).
    # Forcing driver-side listing here is maintenance-scoped only — an
    # object-store deployment at cluster scale wants the parallel job,
    # and serving-path reads are untouched.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1000000000",
}


def _scoped_confs(spark: SparkSession, confs: dict):
    """Context manager: set session confs for the duration, restoring
    previous values (or unsetting) even on failure. Session-global —
    callers hold the writer lease or are otherwise single-flight."""
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        prev: dict = {}
        for k, v in confs.items():
            try:
                prev[k] = spark.conf.get(k)
            except Exception:
                prev[k] = None
            spark.conf.set(k, str(v))
        try:
            yield
        finally:
            for k, p in prev.items():
                if p is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, p)

    return _cm()


def compact_data_snapshots(
    spark: SparkSession,
    data_dir: str,
    order_cols: tuple[str, ...],
    fence: tuple[str, str, int] | None = None,
) -> dict:
    """See :func:`_compact_data_snapshots` — this wrapper only scopes
    the maintenance scan confs (`_MAINTENANCE_SCAN_CONFS`) for the
    duration; restored even on failure."""
    with _scoped_confs(spark, _MAINTENANCE_SCAN_CONFS):
        return _compact_data_snapshots(spark, data_dir, order_cols, fence)


def _compact_data_snapshots(
    spark: SparkSession,
    data_dir: str,
    order_cols: tuple[str, ...],
    fence: tuple[str, str, int] | None = None,
) -> dict:
    """Snapshot-AWARE compaction of a data-of-record dir (VERDICT r12
    #4): the corpus/store dirs grow one small parquet file set per
    admit forever — a small-files problem at any real ingestion
    cadence — but a naive rewrite would break the `as_of` manifests
    that make them reproducible training snapshots. This compactor
    rewrites PER GENERATION: each recorded admission's delta collapses
    to ONE file, sorted by ``order_cols`` (the query key — point
    lookups prune by parquet min/max), and the manifest is rewritten so
    every generation maps to exactly its rewritten file. History is
    fully preserved — ``corpus(as_of=g)`` is bit-equal before and after
    for EVERY g (pinned), unlike the derived-layer compactors (which
    collapse history, because their rewrites mix generations).

    Files present in the dir but attributed to NO generation (the
    crash-before-manifest window) are carried over byte-identical under
    their own names, so the next recorded admission still sweeps them
    in. Tombstoned/empty generations keep their lines (with ``n`` and
    ``extra`` intact).

    Crash contract: everything is staged to ``{data_dir}.compact``
    (files + rewritten manifest), then committed with `_swap_staged`'s
    rename pair — a reader never sees a half-written dir, and
    :func:`recover_data_dir` heals an interrupted swap (forward if the
    stage was complete, back otherwise). ``fence``: the writer-lease
    fencing triple, verified at the commit. Returns
    ``{"generations": .., "files_before": .., "files_after": ..}``.

    Job shape (VERDICT r13 #2): ONE Spark action over every attributed
    file via a broadcast-joined file→generation map — O(1) jobs however
    many generations the manifest records (the old per-generation loop
    was O(generations) sequential job submissions: ~10⁴ driver round
    trips of mostly-tiny work at a 10⁴-admit horizon). The map is keyed
    by the minimal unique PATH SUFFIX of each attributed file (VERDICT
    r14 #2 — manifest paths are unique by construction, so no
    collision class and no sequential fallback; the old basename key
    could collide across subdir-housed deltas). Files are grouped by
    footer schema driver-side first (ADVICE r14) — a single read over
    schema-evolved generations would silently drop the evolved
    columns; one pass per distinct schema keeps each generation's own
    columns at O(#schemas) jobs.

    Per-generation FILE attribution — the as_of contract — is emitted
    by a DIRECT split-write (r16): each range-partitioned, __gen-sorted
    task streams its contiguous generation runs into per-generation
    parquet files written straight into the stage via ``mapInArrow``
    (Arrow-faithful types, no pandas coercion) and returns (gen, name,
    rows) accounting rows. This bypasses the dynamic-partition
    committer, whose per-directory machinery measured ~2 ms × 10⁴
    generation dirs ≈ 20 s of the old 45 s wall at the 10⁴ horizon —
    our own staged swap IS the commit protocol (the stage is discarded
    on any failure, so bypassing the committer loses nothing). File
    names are deterministic per (generation, schema-group, partition),
    so a retried task overwrites its own output; speculative execution
    must stay off for this maintenance op (it is — this engine never
    enables it). A generation split across a range boundary simply
    emits one file per side, exactly like ``partitionBy`` did."""
    import shutil

    recover_data_dir(data_dir, locked=True)
    recs = _read_snapshots(data_dir)
    if not recs:
        raise ValueError(
            f"{data_dir} records no admission snapshots — nothing to "
            "compact generation-aware; use a plain rewrite for "
            "manifest-less dirs"
        )
    files_before = _data_files(data_dir)
    attributed: set[str] = set()
    for rec in recs:
        attributed.update(rec["files"])
    stage = f"{data_dir}.compact"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    new_lines: list[dict] = [dict(rec) for rec in recs]
    live = [
        (i + 1, rec)
        for i, rec in enumerate(recs)
        if not rec["compacted"] and rec["files"]
    ]
    if live:
        # Driver-side file→generation map, keyed by the MINIMAL
        # UNIQUE PATH SUFFIX (VERDICT r14 #2 — the manifest-relative
        # path is unique by construction, so some trailing-component
        # count always disambiguates; the old basename key needed an
        # O(generations) sequential fallback on collision). The
        # Spark-side key is the same suffix of input_file_name();
        # both sides agree component-for-component because every
        # path component here is a Spark part name, a genNNNNNN-
        # prefix, or a hive partition dir — no characters the
        # file-URI form percent-encodes.
        #
        # Footer schemas are grouped driver-side first (ADVICE r14):
        # one spark.read over files whose schemas differ would
        # silently take one file's schema and DROP evolved columns
        # from the others' rows. One pass per distinct schema keeps
        # each generation's own columns; jobs stay O(#schemas), not
        # O(generations).
        gen_files = [
            (gen, f) for gen, rec in live for f in rec["files"]
        ]
        keys_by_file = _footer_map(
            [os.path.join(data_dir, f) for _, f in gen_files],
            lambda pf: pf.schema_arrow.remove_metadata()
            .serialize()
            .to_pybytes(),
        )
        by_schema: dict[bytes, list[tuple[int, str]]] = {}
        for (gen, f), key in zip(gen_files, keys_by_file):
            by_schema.setdefault(key, []).append((gen, f))
        moved: dict[int, list[str]] = {g: [] for g, _ in live}
        dir_parquet = set(files_before)
        for gi, members in enumerate(
            by_schema[k] for k in sorted(by_schema)
        ):
            paths = [
                os.path.join(data_dir, f) for _, f in members
            ]
            suf = 1
            while True:
                keys = [
                    "/".join(p.split("/")[-suf:]) for p in paths
                ]
                if len(set(keys)) == len(keys):
                    break
                suf += 1
            # Target-sized output: one task per ~COMPACT_TARGET_BYTES
            # of input (driver-side stat, zero jobs) — a TB-scale
            # history must not funnel through one task, and a tiny
            # history SHOULD: one task per COMPACT_GENS_PER_TASK
            # small generations parallelizes the per-generation file
            # writes without changing attribution.
            total = sum(os.path.getsize(p) for p in paths)
            n_gens_here = len({g for g, _ in members})
            n_out = max(
                1,
                -(-total // COMPACT_TARGET_BYTES),
                -(-n_gens_here // COMPACT_GENS_PER_TASK),
            )
            gmap = spark.createDataFrame(
                [(k, g) for k, (g, _) in zip(keys, members)],
                "__k string, __gen int",
            )
            # Scan: ONE directory listing when this group's flat file
            # set is exactly the dir's attributed content (the common
            # case) — listing 10⁴ individual root paths measured
            # ~15 s of driver-side index building vs ~1 s for the dir
            # form; the broadcast join restricts rows to members
            # either way. Mixed schemas / subdir-housed deltas keep
            # the per-path form (explicit schema skips re-inference).
            import pyarrow as pa

            schema = pa.ipc.read_schema(
                pa.BufferReader(sorted(by_schema)[gi])
            )
            from pyspark.sql.pandas.types import from_arrow_schema

            spark_schema = from_arrow_schema(schema)
            flat = all("/" not in f for _, f in members)
            covers_dir = flat and {f for _, f in members} == dir_parquet
            reader = spark.read.schema(spark_schema)
            if covers_dir:
                frame = reader.parquet(data_dir)
            else:
                frame = reader.parquet(*paths)
            frame = frame.withColumn(
                "__k",
                F.concat_ws(
                    "/",
                    F.slice(
                        F.split(F.input_file_name(), "/"), -suf, suf
                    ),
                ),
            )
            # Direct split-write (r16, see docstring): each task
            # streams its sorted, contiguous __gen runs into
            # per-generation files in the stage and returns
            # accounting rows — no dynamic-partition committer, no
            # tmp dir, no driver-side rename loop.
            acc_rows = (
                frame.join(F.broadcast(gmap), "__k")
                .drop("__k")
                .repartitionByRange(int(n_out), "__gen", *order_cols)
                .sortWithinPartitions("__gen", *order_cols)
                .mapInArrow(
                    _gen_split_writer(stage, gi),
                    "gen int, name string, n bigint",
                )
                .collect()
            )
            for r in acc_rows:
                moved[r["gen"]].append(r["name"])
        for gen, rec in live:
            if not moved[gen] and _files_rows(
                [os.path.join(data_dir, f) for f in rec["files"]]
            ):
                # A zero-ROW generation (an all-duplicate
                # admit's empty part file) legitimately emits
                # no rewritten file and collapses to an empty
                # file list; losing a generation that HAS rows
                # would corrupt every as_of read.
                raise RuntimeError(
                    f"compact_data_snapshots: generation {gen} "
                    f"of {data_dir} produced no rewritten files "
                    "— attribution join lost its rows"
                )
            new_lines[gen - 1]["files"] = sorted(moved[gen])
    # Unattributed files (crash-before-manifest window): byte-
    # identical carry-over under their own names.
    for f in files_before:
        if f not in attributed:
            dst = os.path.join(stage, f)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(os.path.join(data_dir, f), dst)
    with open(_snapshot_path(stage), "w") as fh:
        for rec in new_lines:
            line: dict = {"files": rec["files"], "n": rec["n"]}
            if rec.get("extra") is not None:
                line["extra"] = rec["extra"]
            if rec["compacted"]:
                line["compacted"] = True
            if rec.get("reason") is not None:
                line["reason"] = rec["reason"]
            fh.write(json.dumps(line) + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    _swap_staged(
        os.path.dirname(data_dir),
        os.path.basename(data_dir),
        fence=fence,
    )
    return {
        "generations": len(recs),
        "files_before": len(files_before),
        "files_after": len(_data_files(data_dir)),
    }


def _dir_bytes(data_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(data_dir, f))
        for f in _data_files(data_dir)
    )


def _link_or_copy(src: str, dst: str) -> None:
    """Byte-identical carry-over into a stage: hardlink when the
    filesystem allows (no data movement; the source dir is removed by
    the swap, the linked bytes survive), copy otherwise."""
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    try:
        os.link(src, dst)
    except OSError:
        import shutil

        shutil.copyfile(src, dst)


def _carry_map(pairs: list[tuple[str, str]]) -> None:
    """Hardlink/copy every (src, dst) pair CONCURRENTLY (thread pool,
    chunked submits — the `_footer_map` discipline). The carry-over of
    post-horizon generations at a 10⁴-generation vacuum is thousands
    of independent ~0.1-0.3 ms link syscalls; serial, that loop was
    the rename-bound tail VERDICT r15 #2 named. Order-independent
    (distinct destinations; `makedirs(exist_ok=True)` races are
    benign), so chunk order doesn't matter."""
    if len(pairs) <= 8:
        for src, dst in pairs:
            _link_or_copy(src, dst)
        return
    from concurrent.futures import ThreadPoolExecutor

    n_workers = 16
    chunk = -(-len(pairs) // n_workers)
    spans = [pairs[i : i + chunk] for i in range(0, len(pairs), chunk)]

    def _run(span):
        for src, dst in span:
            _link_or_copy(src, dst)

    with ThreadPoolExecutor(max_workers=n_workers) as ex:
        list(ex.map(_run, spans))


def _rewrite_files(
    spark: SparkSession,
    data_dir: str,
    files: list[str],
    order_cols: tuple[str, ...],
    stage: str,
    prefix: str,
    dead: DataFrame | None,
    partition_by: tuple[str, ...] = (),
    schema_keys: list[bytes] | None = None,
) -> tuple[list[str], int]:
    """Rewrite explicit parquet ``files`` (relative to ``data_dir``)
    into target-sized, ``order_cols``-sorted files under ``stage`` with
    ``prefix``-prefixed names, dropping rows that match ``dead``
    (anti-join on all of ``dead``'s columns) when given. One Spark
    write per distinct footer schema (the compactor's ADVICE-r14
    discipline — a single read over evolved schemas silently drops
    columns). ``partition_by``: hive partition columns of a
    partitioned layer (``lsh_signatures/table_id=K/``) — the read pins
    ``basePath`` so the column survives file listing, the write
    re-emits ``partitionBy`` dirs, and the returned names keep their
    partition-dir prefixes (the manifest convention `_data_files`
    established). Returns (new relative names, rows written)."""
    import shutil

    import pyarrow.parquet as pq

    if schema_keys is None:
        # Caller may pass footer keys it already read (vacuum shares
        # one footer pass between its row count and this grouping —
        # two passes over 10⁴ footers measured ~2 s each).
        schema_keys = _footer_map(
            [os.path.join(data_dir, f) for f in files],
            lambda pf: pf.schema_arrow.remove_metadata()
            .serialize()
            .to_pybytes(),
        )
    by_schema: dict[bytes, list[str]] = {}
    for f, key in zip(files, schema_keys):
        by_schema.setdefault(key, []).append(f)
    tmp = f"{stage}.work"
    names: list[str] = []
    rows = 0
    sort_cols = (*partition_by, *order_cols)
    scan_confs = _scoped_confs(spark, _MAINTENANCE_SCAN_CONFS)
    scan_confs.__enter__()
    try:
        for key in sorted(by_schema):
            shutil.rmtree(tmp, ignore_errors=True)
            paths = [
                os.path.join(data_dir, f) for f in by_schema[key]
            ]
            total = sum(os.path.getsize(p) for p in paths)
            # Task count scales by bytes AND by file count: a merged
            # base of 10⁴ tiny per-admit files through coalesce(1) was
            # ONE task opening every file serially (~9 s measured);
            # 256 files/task parallelizes the opens without changing
            # the target-sized large-file shape (bytes dominate there).
            n_out = max(
                1,
                -(-total // COMPACT_TARGET_BYTES),
                -(-len(paths) // COMPACT_GENS_PER_TASK),
            )
            reader = spark.read
            if partition_by:
                # Partitioned layers keep schema inference: an explicit
                # schema would drop the hive partition column the
                # basePath listing recovers.
                reader = reader.option("basePath", data_dir)
            else:
                import pyarrow as pa
                from pyspark.sql.pandas.types import from_arrow_schema

                reader = reader.schema(
                    from_arrow_schema(
                        pa.ipc.read_schema(pa.BufferReader(key))
                    )
                )
            frame = reader.parquet(*paths)
            if dead is not None:
                frame = frame.join(dead, list(dead.columns), "left_anti")
            frame = (
                frame.coalesce(1)
                if n_out == 1
                else frame.repartitionByRange(int(n_out), *sort_cols)
            )
            writer = frame.sortWithinPartitions(*sort_cols).write
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.mode("overwrite").parquet(tmp)
            for root, dirs, fs in os.walk(tmp):
                dirs[:] = sorted(
                    d for d in dirs if not d.startswith(("_", "."))
                )
                rel = os.path.relpath(root, tmp)
                for f in sorted(fs):
                    if not f.endswith(".parquet"):
                        continue
                    name = (
                        f"{prefix}{f}"
                        if rel == "."
                        else os.path.join(rel, f"{prefix}{f}")
                    )
                    dst = os.path.join(stage, name)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.replace(os.path.join(root, f), dst)
                    names.append(name)
                    rows += pq.ParquetFile(dst).metadata.num_rows
    finally:
        scan_confs.__exit__(None, None, None)
        shutil.rmtree(tmp, ignore_errors=True)
    return sorted(names), rows


def vacuum_data_snapshots(
    spark: SparkSession,
    data_dir: str,
    horizon: int,
    order_cols: tuple[str, ...],
    dead: DataFrame | None = None,
    fence: tuple[str, str, int] | None = None,
    reason: str | None = None,
    partition_by: tuple[str, ...] = (),
) -> dict:
    """Byte reclamation below the retention horizon (VERDICT r14 #1).
    :func:`prune_snapshots` collapses manifest HISTORY but keeps every
    pre-horizon file referenced by the merged base line — storage never
    shrinks. Vacuum finishes the job: prune to ``horizon`` (idempotent),
    then physically REWRITE the merged base generation's file set into
    target-sized, ``order_cols``-sorted files and drop the old
    pre-horizon files (unreferenced after the swap). Generations ABOVE
    the horizon are carried byte-identical (hardlinked into the stage,
    never read through Spark), so

    - ``as_of >= horizon`` reads stay bit-equal before/after (pinned);
    - ``as_of < horizon`` keeps failing loudly naming the horizon;
    - on-disk bytes shrink by the pre-horizon small-file overhead (one
      parquet file set per admission collapses to ``⌈bytes/256 MB⌉``
      files) plus every ``dead`` row.

    ``dead``: rows to drop from the rewritten base, anti-joined on all
    of ``dead``'s columns. The caller owns the proof that these rows are
    invisible to every ``as_of >= horizon`` SERVE — e.g. dedup band
    rows whose bucket a generation ``<= horizon`` tombstone masks
    (`CorpusWriter.vacuum` passes exactly that); the data-of-record
    dirs are append-only with no supersession, so their vacuum passes
    None and reclaims layout overhead only.

    Crash contract: files + rewritten manifest are staged to
    ``{data_dir}.compact`` and committed with `_swap_staged`'s rename
    pair — :func:`recover_data_dir` heals an interruption at any point
    (the stage is complete before the first rename). Composes with
    :func:`prune_snapshots` and :func:`compact_data_snapshots` in any
    order (pinned). A repeat vacuum at the same horizon with no
    ``dead`` is a no-op. ``partition_by``: the hive partition columns
    of a partitioned layer — the base rewrite re-emits the partition
    dirs and the manifest keeps partition-dir-relative names, so
    ``basePath`` readers still recover the column (r15: closes the
    lsh_signatures gap). Returns byte/file/row accounting."""
    import shutil

    recover_data_dir(data_dir, locked=True)
    recs = _read_snapshots(data_dir)
    if not recs:
        raise ValueError(
            f"{data_dir} records no admission snapshots — nothing to "
            "vacuum; use a plain rewrite for manifest-less dirs"
        )
    if not 1 <= horizon <= len(recs):
        raise ValueError(
            f"horizon={horizon} out of range: {data_dir} records "
            f"{len(recs)} snapshot generation(s)"
        )
    prune_snapshots(data_dir, horizon, reason=reason)
    recs = _read_snapshots(data_dir)
    base = recs[horizon - 1]
    if base["compacted"]:
        raise ValueError(
            f"generation {horizon} of {data_dir} is already collapsed "
            "below an earlier horizon — vacuum at the first servable "
            "generation instead"
        )
    bytes_before = _dir_bytes(data_dir)
    files_before = _data_files(data_dir)
    prefix = f"gen{horizon:06d}-vac-"
    # No-op short-circuits (ADVICE r15): an already-vacuumed base (all
    # files prefix-named) — or a ZERO-FILE base with nothing to drop —
    # has nothing to rewrite and nothing to reclaim; skip the carry-over
    # and dir swap entirely so repeat vacuums at the same horizon stay
    # cheap regardless of the base's row count.
    if dead is None and (
        not base["files"]
        or all(os.path.basename(f).startswith(prefix) for f in base["files"])
    ):
        return {
            "horizon": horizon,
            "files_before": len(files_before),
            "files_after": len(files_before),
            "bytes_before": bytes_before,
            "bytes_after": bytes_before,
            "rows_dropped": 0,
            "vacuumed": False,
        }
    attributed: set[str] = set()
    for rec in recs:
        attributed.update(rec["files"])
    stage = f"{data_dir}.compact"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    base_paths = [os.path.join(data_dir, f) for f in base["files"]]
    # ONE footer pass serves both the row count and the rewrite's
    # schema grouping (two passes over 10⁴ footers ≈ 2 s each).
    footer_pairs = _footer_map(
        base_paths,
        lambda pf: (
            pf.schema_arrow.remove_metadata().serialize().to_pybytes(),
            pf.metadata.num_rows,
        ),
    )
    rows_in = sum(n for _, n in footer_pairs)
    if base["files"] and (rows_in or dead is not None):
        new_names, rows_out = _rewrite_files(
            spark,
            data_dir,
            base["files"],
            order_cols,
            stage,
            prefix,
            dead,
            partition_by=partition_by,
            schema_keys=[k for k, _ in footer_pairs],
        )
    else:
        new_names, rows_out = [], 0
    # Post-horizon generations + crash-window unattributed files: carried
    # byte-identical under their own names — never read through Spark;
    # thousands of independent links at depth, so threaded (_carry_map).
    carry = [
        (os.path.join(data_dir, f), os.path.join(stage, f))
        for rec in recs[horizon:]
        for f in rec["files"]
    ]
    carry.extend(
        (os.path.join(data_dir, f), os.path.join(stage, f))
        for f in files_before
        if f not in attributed
    )
    _carry_map(carry)
    new_lines = [dict(rec) for rec in recs]
    new_lines[horizon - 1]["files"] = new_names
    if dead is not None:
        # Dead rows change the base's recorded row delta; keep it honest.
        new_lines[horizon - 1]["n"] = rows_out
    with open(_snapshot_path(stage), "w") as fh:
        for rec in new_lines:
            line: dict = {"files": rec["files"], "n": rec["n"]}
            if rec.get("extra") is not None:
                line["extra"] = rec["extra"]
            if rec["compacted"]:
                line["compacted"] = True
            if rec.get("reason") is not None:
                line["reason"] = rec["reason"]
            fh.write(json.dumps(line) + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    _swap_staged(
        os.path.dirname(data_dir),
        os.path.basename(data_dir),
        fence=fence,
    )
    return {
        "horizon": horizon,
        "files_before": len(files_before),
        "files_after": len(_data_files(data_dir)),
        "bytes_before": bytes_before,
        "bytes_after": _dir_bytes(data_dir),
        "rows_dropped": rows_in - rows_out,
        "vacuumed": True,
    }
