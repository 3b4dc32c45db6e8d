"""End-to-end training-corpus curation: the job a pre-training data
pipeline actually runs over raw documents, composed from this engine's
oracle-checked operators:

    quality signals -> quality gate -> language gate -> exact dedup
    -> near-dup survivor pruning -> token accounting -> sharded write

Why a module instead of calling the registry queries in sequence — the
composition itself is where the 100 TB design lives:

- **One labeling pass, stats from ONE job.** Every stage is a boolean
  COLUMN on a slim per-document label frame, not an eager
  filter-then-count; per-stage survivor counts and token totals come
  from a single aggregate. A count() per stage would re-run the full
  lineage once per stage (CLAUDE.md: minimize job count).
- **Labels are slim; text moves once.** All gating/dedup decisions are
  computed on a projection without the document body (ids, signals, a
  16-byte digest). The wide ``text`` column is touched exactly twice:
  the signal scan (map-side, no shuffle) and the final label join +
  shard shuffle that every curation job must pay to write its output.
- **Filter before dedup.** Near-dup candidate generation runs only on
  documents that survived the cheap map-side gates and exact dedup —
  candidate volume grows quadratically in block occupancy, so gating
  first shrinks the only super-linear stage.
- **The shuffles are the irreducible ones.** Exact dedup shuffles
  (digest, doc_id) pairs; near-dup shuffles blocked candidates
  (`dedup.ngram_jaccard_edges`); survivor labeling is the O(log n)
  alternating-star CC from `queries.graph` (lineage-truncated rounds);
  the output write shuffles the kept corpus once into size-targeted,
  deterministic shards.

Reference scope note: the reference (kinesis.go:193-197) delivers
records to a user callback and stops there; this module is part of the
driver-mandated LLM-pipeline extension surface (SURVEY.md §2.C), built
entirely from the operators those sections define.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import reduce
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries.dedup import minhash_pairs, ngram_jaccard_edges
from .queries.graph import connected_components
from .queries.text import quality_signal_columns
from .tables import load_table


class DriftExceeded(RuntimeError):
    """``drift_refuse=True`` and an arriving batch's exact KL/TV drift
    exceeded the configured ``drift_warn`` thresholds — the batch was
    REJECTED before any state change (the measurement runs pre-append
    by construction, so the refusal needs no rollback). ``.stats``
    carries the admit stats up to the refusal, ``drift_exceeded`` = 1
    included."""

    def __init__(self, msg: str, stats: dict):
        super().__init__(msg)
        self.stats = stats


def _apply_drift_policy(
    stats: dict,
    drift_warn: tuple[int, int] | None,
    drift_refuse: bool,
    who: str,
) -> bool:
    """The drift GUARDRAIL (VERDICT r11 #3): compare the just-measured
    ``drift_kl_fix`` / ``drift_tv_fix`` against the ``drift_warn``
    thresholds (same fixed-point units). Exceedance sets
    ``stats["drift_exceeded"] = 1`` and either warns loudly
    (`warnings.warn` — the reference's monitor-that-acts analogue,
    A13) or, under ``drift_refuse``, raises :class:`DriftExceeded`
    before any state change. Returns the exceedance flag so callers
    can hang further policy (the embedding writer's retrain trigger)
    on it."""
    if drift_warn is None:
        return False
    kl_t, tv_t = drift_warn
    exceeded = (
        stats["drift_kl_fix"] > int(kl_t) or stats["drift_tv_fix"] > int(tv_t)
    )
    stats["drift_exceeded"] = 1 if exceeded else 0
    if exceeded:
        msg = (
            f"{who}: arriving batch drifts from the stored corpus "
            f"beyond threshold (kl_fix {stats['drift_kl_fix']} vs "
            f"{int(kl_t)}, tv_fix {stats['drift_tv_fix']} vs {int(tv_t)}"
            " — DSIR_FIX units)"
        )
        if drift_refuse:
            raise DriftExceeded(
                msg + "; batch refused before any state change "
                "(drift_refuse=True)",
                stats,
            )
        import warnings

        warnings.warn(msg, stacklevel=5)
    return exceeded


def _readable_meta(index_dir: str) -> bool:
    """meta.json exists AND parses. Existence alone misclassifies a
    torn meta write as bootstrapped: every admit then dies reading it
    and the bootstrap-heal path never fires. Writers use this; the
    crash-recovery semantics live HERE, once, for both writers."""
    import json
    import os

    p = f"{index_dir}/meta.json"
    if not os.path.exists(p):
        return False
    try:
        with open(p) as fh:
            json.load(fh)
        return True
    except (ValueError, OSError):
        return False


def _parquet_dir_committed(path: str) -> bool:
    """A parquet directory a Spark write actually committed (the
    _SUCCESS marker or at least one part file) — shared by both
    writers' crash-window detection."""
    import os

    return os.path.isdir(path) and any(
        f == "_SUCCESS" or f.endswith(".parquet") for f in os.listdir(path)
    )


def _shard_expr(n_shards: int, id_cols: tuple[str, ...] = ("doc_id",)):
    """THE shard-assignment rule — a pure function of the row identity,
    shared by `CuratedCorpus.write_shards` and `pack_sequences` so the
    documented membership identity between them cannot drift."""
    return F.pmod(F.xxhash64(*id_cols), F.lit(n_shards)).cast("int")


def _order_expr(seed: int, id_cols: tuple[str, ...] = ("doc_id",)):
    """THE within-shard deterministic pseudo-random order key (seeded
    hash of the row identity) — shared like `_shard_expr`."""
    return F.xxhash64(*id_cols, F.lit(seed))


@dataclass(frozen=True)
class CurationConfig:
    """Gate thresholds (C4/Gopher-style) and output sharding targets.

    ``allowed_langs=None`` admits every language; an empty tuple is
    rejected loudly (an all-dropping language gate is a caller bug, not
    a corpus property). Token counts use the BPE-ish regex tokenizer
    from ``text.quality_signal_columns`` — the same numbers the
    ``text_quality_scores`` registry entry reports.

    ``edge_source`` picks the near-dup edge generator:
    - ``"minhash"`` (default — the 100 TB path): banded MinHash-LSH
      candidates with the hot-bucket cap, exact 3-shingle-Jaccard
      verification at the dedup module's threshold
      (``dedup.JACCARD_THRESHOLD``); candidate volume is bounded by
      bucket occupancy, never block size.
    - ``"ngram"``: exact blocked unigram Jaccard at ``jaccard_tau``
      (``dedup.ngram_jaccard_edges``) — exhaustive within (lang ×
      length-decile) blocks, which is exact and SQL-oracle-checkable
      but block-quadratic: block occupancy grows linearly with the
      corpus, so this is the verification/baseline path, not the scale
      path.
    """

    min_words: int = 5
    max_words: int = 1_000_000
    min_avg_word_len: float = 1.0
    max_avg_word_len: float = 20.0
    max_punct_ratio: float = 0.9
    min_lexical_diversity: float = 0.0
    allowed_langs: tuple[str, ...] | None = None
    edge_source: str = "minhash"
    jaccard_tau: float = 0.6
    tokens_per_shard: int = 1_000_000
    # Apply `text.scrub_pii` BEFORE any signal/gate/dedup stage (the C4
    # order: redaction first, so digests, shingles, and the stored
    # corpus all see scrubbed text). A pure map-side expression fused
    # into the existing signal scan — no extra pass over the text.
    scrub_pii: bool = False
    # Apply `dedup.dedup_paragraphs` after the scrub and before every
    # signal/digest (the Dolma order: paragraph-level boilerplate
    # removal feeds document-level dedup, and scrubbing first lets
    # paragraphs differing only in PII collapse). NOTE the pass is a
    # 3-shuffle subquery, not a fused expression: at fixture scale its
    # recompute per downstream consumer is cheap; a 100 TB job
    # materializes the paragraph-deduped corpus between passes (the
    # production shape for every multi-pass rewrite) rather than
    # persisting TB of rewritten text in executor memory.
    dedup_paragraphs: bool = False
    paragraph_sep: str = "\n\n"
    # Apply `dedup.dedup_exact_substr` (Lee et al. 2022 ExactSubstr
    # span removal) after scrub + paragraph dedup and before the
    # long-document split/gates — the paper runs it corpus-wide before
    # training, and running it before the gates means length/quality
    # signals score the text that will actually be admitted. NOT
    # idempotent (like the paper's sequential pass) and corpus-global
    # ("first occurrence" is over the whole input frame). In
    # `CorpusWriter.admit` the pass is CORPUS-scoped: the writer
    # maintains a stored window-digest layer (`exact_substr_digests`
    # of the admitted text, the paragraph-layer discipline) and hands
    # it to the pass as ``seen``, so a batch span duplicating text
    # admitted in ANY earlier batch is removed too.
    dedup_exact_substr: bool = False
    exact_substr_w: int = 8  # dedup.EXACT_SUBSTR_W
    # Split documents LONGER than this many words into multiple
    # documents at paragraph boundaries (greedy next-fit over
    # paragraphs, `_split_long_stage`) BEFORE gating — what a
    # production crawl pipeline does instead of discarding a long
    # document wholesale (`max_words` then only drops pieces that are
    # still too long, i.e. single indivisible over-long paragraphs).
    # Runs after scrub + paragraph dedup in `_pre_stages`. None = off.
    # NOTE: enabling this RE-KEYS every doc_id (see _split_long_stage).
    split_long: int | None = None
    # Model-based quality filter (`text.quality_classifier_score`, the
    # CCNet/FineWeb stage): a (b, w_fix) weight DataFrame — real
    # trained weights in production, `quality_classifier_weights` as
    # the deterministic stand-in. When set, a document must score
    # ≥ classifier_threshold (mean fixed-point feature weight) to pass
    # the gate; the decision is integer-exact, so the kept set is
    # bit-reproducible. Scoring runs on the post-pre-stage text (after
    # scrub/paragraph/split rewrites — the text being admitted). None
    # = off (the default; the registry's gate query is unaffected).
    classifier_weights: DataFrame | None = None
    classifier_threshold: float = 0.0
    classifier_buckets: int = 4096

    def __post_init__(self) -> None:
        if self.allowed_langs is not None and not self.allowed_langs:
            raise ValueError(
                "allowed_langs=() drops every document; pass None for all"
            )
        if self.min_words > self.max_words:
            raise ValueError("min_words > max_words")
        if self.edge_source not in ("minhash", "ngram"):
            raise ValueError("edge_source must be 'minhash' or 'ngram'")
        if not 0.0 < self.jaccard_tau <= 1.0:
            raise ValueError("jaccard_tau must be in (0, 1]")
        if self.tokens_per_shard < 1:
            raise ValueError("tokens_per_shard must be >= 1")
        if self.split_long is not None and self.split_long < 1:
            raise ValueError("split_long must be >= 1 words (or None)")
        if self.exact_substr_w < 2:
            raise ValueError("exact_substr_w must be >= 2")
        if self.classifier_buckets < 1:
            raise ValueError("classifier_buckets must be >= 1")


class CuratedCorpus:
    """Result handle: lazy label/final frames + one-job statistics.

    ``labels`` — one slim row per INPUT document with the cumulative
    stage verdicts: quality_pass, gate_pass (quality ∧ language),
    exact_keep (gate_pass ∧ smallest doc_id of its digest group),
    keep (exact_keep ∧ near-dup component survivor), plus component
    and tokens. ``final`` — the kept documents with text and
    provenance. Call :meth:`release` when done (drops the persisted
    label frame)."""

    def __init__(
        self,
        doc: DataFrame,
        labels: DataFrame,
        config: CurationConfig,
        bands: DataFrame | None = None,
    ) -> None:
        self._doc = doc
        self.labels = labels
        self.config = config
        # Checkpointed minhash band rows of the eligible set when the
        # caller asked curate_frame to expose them (see expose_bands).
        self.bands = bands
        self._stats: dict[str, int] | None = None

    def stats_frame(self) -> DataFrame:
        """The one-row stage-count aggregate as a LAZY DataFrame — the
        single definition behind both :meth:`stats` and the
        `pipeline_curate_stats` registry entry (so the oracle-gated
        numbers cannot drift from what the library reports)."""
        as_long = lambda c: F.sum(F.col(c).cast("long"))  # noqa: E731
        return self.labels.agg(
            F.count("*").alias("n_input"),
            as_long("quality_pass").alias("n_quality"),
            as_long("gate_pass").alias("n_gate"),
            as_long("exact_keep").alias("n_exact"),
            as_long("keep").alias("n_kept"),
            F.sum("tokens").cast("long").alias("input_tokens"),
            F.sum(F.when(F.col("keep"), F.col("tokens")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
        )

    def stats(self) -> dict[str, int]:
        """Per-stage survivor counts + token totals — a single
        aggregate job over the label frame (cached after first call)."""
        if self._stats is None:
            row = self.stats_frame().collect()[0]
            self._stats = {k: int(row[k] or 0) for k in row.asDict()}
        return self._stats

    @property
    def final(self) -> DataFrame:
        """Kept documents with text + provenance (tokens, component).
        The label side is slim; AQE broadcasts it while it fits and
        falls back to a doc_id sort-merge join beyond that — either
        way the text column moves through exactly this one join."""
        kept = self.labels.filter("keep").select("doc_id", "tokens", "component")
        return self._doc.join(kept, "doc_id")

    def n_shards(self) -> int:
        return max(
            1,
            math.ceil(self.stats()["kept_tokens"] / self.config.tokens_per_shard),
        )

    def write_shards(self, out_dir: str, seed: int = 0) -> int:
        """Write the curated corpus as size-targeted parquet shards:
        ``{out_dir}/shard=NN/part-*.parquet``.

        Shard count = ceil(kept_tokens / tokens_per_shard). Assignment
        and within-shard order are DETERMINISTIC functions of doc_id
        (xxhash64), not of task scheduling: re-running the job — or
        running it on a different cluster size — produces the same
        shard membership and the same pseudo-random training order, the
        reproducibility property a training-data job needs. One
        shuffle; returns the shard count."""
        n = self.n_shards()
        (
            self.final.withColumn("shard", _shard_expr(n))
            .repartition(n, "shard")
            .sortWithinPartitions(_order_expr(seed))
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(out_dir)
        )
        return n

    def read_shards(self, spark: SparkSession, out_dir: str) -> DataFrame:
        """Read back a :meth:`write_shards` output (shard column kept)."""
        return spark.read.parquet(out_dir)

    def release(self) -> None:
        self.labels.unpersist()
        if self.bands is not None:
            from .queries import release_local_checkpoint

            release_local_checkpoint(self.bands)
            self.bands = None


def _pre_stages(
    doc: DataFrame,
    config: CurationConfig,
    seen_paras: DataFrame | None = None,
    seen_substr: DataFrame | None = None,
) -> DataFrame:
    """The text-REWRITING stages that must run before anything reads
    text — scrub first (so paragraphs differing only in PII collapse),
    then paragraph dedup, then ExactSubstr span removal. ONE definition
    shared by `curate_frame` and `CorpusWriter.admit` (which
    pre-applies them so it can hand the paragraph / window passes their
    stored digest layers as ``seen_paras`` / ``seen_substr`` and then
    curate with the flags off)."""
    if config.scrub_pii:
        from .queries.text import PII_PATTERNS, scrub_pii

        # Redact BEFORE anything reads text: gates, digests, shingle
        # edges, and the final corpus all operate on scrubbed content
        # (two documents differing only in their PII become the exact
        # duplicates they are). The count columns are per-doc extras
        # the label pass doesn't carry — drop them here.
        doc = scrub_pii(doc).drop(
            "n_redacted", *[f"n_{name}" for name, _, _ in PII_PATTERNS]
        )
    if config.dedup_paragraphs:
        from .queries.dedup import dedup_paragraphs

        doc = dedup_paragraphs(
            doc, sep=config.paragraph_sep, seen=seen_paras
        ).drop("n_paras", "n_kept")
    if config.dedup_exact_substr:
        from .queries.dedup import dedup_exact_substr

        doc = dedup_exact_substr(
            doc, w=config.exact_substr_w, seen=seen_substr
        ).drop("n_words", "n_kept")
    if config.split_long is not None:
        doc = _split_long_stage(
            doc, config.split_long, config.paragraph_sep
        )
    return doc


# Piece-index space for `_split_long_stage`'s doc_id re-keying:
# new_id = orig_id * PIECE_SPACE + piece. 2^20 pieces/doc and ids up to
# 2^43 fit int64 exactly; both bounds are validated loudly.
PIECE_SPACE = 1 << 20


def _split_long_stage(
    doc: DataFrame, max_words: int, sep: str
) -> DataFrame:
    """Split documents longer than ``max_words`` words into pieces at
    PARAGRAPH boundaries — greedy next-fit over the paragraphs in
    original order (each piece fills until the next paragraph would
    overflow), so every piece is <= ``max_words`` unless a single
    paragraph alone exceeds it (indivisible at this stage; the
    ``max_words`` gate downstream judges it as before).

    Identity: every output row gets ``doc_id = orig * PIECE_SPACE +
    piece`` (uniform re-key — collision-free against other re-keyed
    ids), with ``orig_doc_id`` and ``piece`` columns kept for
    provenance. Unsplit documents are piece 0.

    100 TB posture: short documents (the overwhelming majority) pass
    map-side — only over-long docs pay the paragraph explode, the
    per-doc next-fit (one `applyInPandas` over slim (pos, n_words)
    rows, text NOT in the pandas frame), and the per-piece reassembly
    groupBy; the same cost class as `dedup_paragraphs` restricted to
    the long tail."""
    import re as _re

    from .queries.dedup import _para_rows

    n_words = F.size(F.split("text", " "))
    # Loud bound check as a separate guard job would cost a Spark
    # action; instead the re-key expression raises per-row via CASE →
    # raise_error (codegen'd, free on conforming ids).
    rekey = F.when(
        (F.col("orig_doc_id") < 0)
        | (F.col("orig_doc_id") >= F.lit(1 << 43))
        | (F.col("piece") >= F.lit(PIECE_SPACE)),
        F.expr(
            "raise_error('split_long: doc_id out of the re-key range "
            "[0, 2^43) or piece count over 2^20')"
        ).cast("long"),
    ).otherwise(
        F.col("orig_doc_id") * F.lit(PIECE_SPACE) + F.col("piece")
    )

    long_docs = doc.filter(n_words > max_words)
    short = doc.filter(n_words <= max_words).select(
        F.col("doc_id").alias("orig_doc_id"),
        F.lit(0).alias("piece"),
        *[c for c in doc.columns if c != "doc_id"],
    )

    # Slim per-paragraph rows (pos, words) — text stays out of pandas.
    paras = _para_rows(long_docs.select("doc_id", "text"), sep)
    sized = paras.select(
        "doc_id", "pos", F.size(F.split("para", " ")).alias("w")
    )

    def assign(pdf):
        pdf = pdf.sort_values("pos")
        piece, used = 0, 0
        out = []
        for w in pdf["w"].tolist():
            if used > 0 and used + w > max_words:
                piece += 1
                used = 0
            out.append(piece)
            used += w
        pdf = pdf[["doc_id", "pos"]].copy()
        pdf["piece"] = out
        return pdf

    pieces = sized.groupBy("doc_id").applyInPandas(
        assign, "doc_id long, pos int, piece int"
    )
    rebuilt = (
        paras.join(pieces, ["doc_id", "pos"])
        .groupBy("doc_id", "piece")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda s: s["para"],
                ),
            ).alias("text")
        )
    )
    extra = [c for c in doc.columns if c not in ("doc_id", "text")]
    long_out = (
        long_docs.drop("text")
        .withColumnRenamed("doc_id", "orig_doc_id")
        .join(
            rebuilt.withColumnRenamed("doc_id", "orig_doc_id"),
            "orig_doc_id",
        )
        .select("orig_doc_id", "piece", "text", *extra)
    )
    cols = ["orig_doc_id", "piece", "text", *extra]
    return (
        short.select(*cols)
        .unionByName(long_out)
        .withColumn("doc_id", rekey)
        .select("doc_id", "text", *extra, "orig_doc_id", "piece")
    )


def curate(
    spark: SparkSession, sf_dir: str, config: CurationConfig | None = None
) -> CuratedCorpus:
    """Run the curation pipeline over ``{sf_dir}/documents.parquet``.
    See :func:`curate_frame` for the pipeline itself."""
    return curate_frame(load_table(spark, sf_dir, "documents"), config)


def curate_frame(
    doc: DataFrame,
    config: CurationConfig | None = None,
    persist_labels: bool = True,
    expose_bands: bool = False,
    on_bands=None,
) -> CuratedCorpus:
    """The pipeline over any document frame with (doc_id, lang, source,
    text) columns.

    The label frame is persisted by default — it is slim (no text),
    consumed by stats(), final, and write_shards(), and its lineage
    contains the iterative near-dup CC (not a single lazy plan). Call
    ``CuratedCorpus.release()`` when done. Pass ``persist_labels=False``
    when exactly ONE consumer will read the labels (e.g. the
    ``pipeline_curate_stats`` registry entry's single aggregate).

    ``expose_bands`` (minhash edge source only): checkpoint the eligible
    set's band rows and hand them out on ``CuratedCorpus.bands`` so a
    caller that re-bands a subset of this frame afterwards (the admit
    loop's vs-index check + index extension) reuses them instead —
    band rows are a pure per-document function, so filtered reuse is
    exact. Off by default: the checkpoint is an extra materialization
    job a single-pass caller doesn't want.

    ``on_bands(bands, eligible)`` (requires ``expose_bands``): invoked
    the moment the eligible set's band rows are checkpointed — BEFORE
    the in-batch CC runs — so a caller can overlap work that needs
    only the bands and the eligible documents (the admit loop's
    vs-corpus verdict build) with the CC rounds. The callback runs on
    the curate thread; start your own thread inside it for overlap,
    and own its cleanup if curate later raises."""
    config = config or CurationConfig()
    doc = _pre_stages(doc, config)
    sig = quality_signal_columns()

    # -- one map-side pass: slim per-doc labels (no text column) -------
    slim = doc.select(
        "doc_id",
        "lang",
        "source",
        sig["n_words"].alias("n_words"),
        sig["avg_word_len"].alias("avg_word_len"),
        sig["punct_ratio"].alias("punct_ratio"),
        sig["lexical_diversity"].alias("lexical_diversity"),
        sig["bpe_ish_tokens"].alias("tokens"),
        sig["digest"].alias("digest"),
    )
    quality = reduce(
        lambda a, b: a & b,
        [
            F.col("n_words") >= config.min_words,
            F.col("n_words") <= config.max_words,
            F.col("avg_word_len") >= config.min_avg_word_len,
            F.col("avg_word_len") <= config.max_avg_word_len,
            F.col("punct_ratio") <= config.max_punct_ratio,
            F.col("lexical_diversity") >= config.min_lexical_diversity,
        ],
    )
    lang_ok = (
        F.lit(True)
        if config.allowed_langs is None
        else F.col("lang").isin(*config.allowed_langs)
    )
    clf_ok = F.lit(True)
    if config.classifier_weights is not None:
        from .queries.text import quality_classifier_score

        # The classifier is a subquery (explode → broadcast weight join
        # → per-doc integer sum — see its docstring for the two-slim-
        # exchange shape), joined back onto the slim labels by doc_id.
        # Scores see the same post-pre-stage text the signals do.
        scores = quality_classifier_score(
            doc.select("doc_id", "text"),
            config.classifier_weights,
            n_buckets=config.classifier_buckets,
            threshold=config.classifier_threshold,
        ).select("doc_id", F.col("keep").alias("clf_pass"))
        slim = slim.join(scores, "doc_id")
        clf_ok = F.col("clf_pass")
    labels = slim.withColumn("quality_pass", quality).withColumn(
        "gate_pass", quality & lang_ok & clf_ok
    )

    # -- exact dedup among gate-passing docs: slim digest shuffle ------
    keepers = (
        labels.filter("gate_pass")
        .groupBy("digest")
        .agg(F.min("doc_id").alias("exact_keeper"))
    )
    labels = labels.join(keepers, "digest", "left").withColumn(
        "exact_keep",
        F.col("gate_pass") & (F.col("doc_id") == F.col("exact_keeper")),
    )
    # Persist the PRE-CC label frame (slim, no text): the eligible set,
    # the band/pair pipeline's verify side, and the final stats
    # aggregate all re-derive it otherwise — three recomputes of the
    # gates + digest-keeper join per curate (measured ~0.3-0.5 s each
    # at batch scale). Managed: the harness releases it after the
    # consuming action.
    from .queries import managed_persist

    labels = managed_persist(labels)

    # -- near-dup pruning on the reduced corpus ------------------------
    eligible = doc.join(
        labels.filter("exact_keep").select("doc_id"), "doc_id", "leftsemi"
    )
    bands = None
    try:
        if config.edge_source == "minhash":
            if expose_bands:
                from .queries.dedup import minhash_bands

                bands = minhash_bands(eligible).localCheckpoint(eager=True)
                if on_bands is not None:
                    on_bands(bands, eligible)
            # text_source=doc: the verify attach re-derived the eligible
            # semijoin once per side otherwise; candidate ids all come
            # from eligible ⊆ doc, so the superset attach is identical
            # (r18, −2 AQE stage-jobs per curate).
            raw_edges = minhash_pairs(eligible, bands=bands, text_source=doc)
        else:
            raw_edges = ngram_jaccard_edges(eligible, tau=config.jaccard_tau)
        edges = raw_edges.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        # Both edge generators emit distinct doc_a < doc_b rows by
        # construction — skip CC's defensive filter+distinct exchange.
        cc = connected_components(edges, edges_distinct=True)
        labels = (
            labels.join(cc, labels["doc_id"] == cc["node"], "left")
            .drop("node")
            .withColumn(
                "component",
                F.when(
                    F.col("exact_keep"), F.coalesce("component", F.col("doc_id"))
                ),
            )
            .withColumn(
                "keep",
                F.col("exact_keep") & (F.col("doc_id") == F.col("component")),
            )
            .drop("exact_keeper")
        )
        if persist_labels:
            labels = labels.persist()
        return CuratedCorpus(doc, labels, config, bands=bands)
    except BaseException:
        # The bands checkpoint is eager (blocks already materialized);
        # if anything between its creation and the handle's return
        # raises (e.g. the CC rounds), no CuratedCorpus.release() will
        # ever run — free the blocks here or a retrying ingestion loop
        # pins one batch's bands per failed admit.
        if bands is not None:
            from .queries import release_local_checkpoint

            release_local_checkpoint(bands)
        raise


@dataclass(frozen=True)
class Layer:
    """One generation-pinned per-admit layer of a writer's index:
    ``path`` under ``index_dir``, the ``order_cols`` a vacuum rewrite
    clusters it by (its query key, so point scans stay parquet-min/max
    pruned), the hive ``partition_by`` columns its files sit under, and
    ``on(writer)`` — whether that writer maintains (and so records) the
    layer."""

    path: str
    order_cols: tuple[str, ...]
    partition_by: tuple[str, ...] = ()
    on: Callable[[Any], bool] = lambda w: True


# Stamped on collapse tombstones when reconcile rebuilt a layer.
_REBUILD_REASON = (
    "layer history collapsed by reconcile (full rebuild from the data "
    "of record)"
)


class _WriterBase:
    """The lifecycle :class:`CorpusWriter` and :class:`EmbeddingWriter`
    share: the data of record and its snapshot manifest (the writers'
    checkpoint store, the role the reference's ``SequenceSaver`` plays
    for stream positions — SURVEY §2.A A6/A8), the single-writer lease,
    manifest retention and byte reclamation over the writer's layer
    table, and the drift-histogram layer.

    A subclass declares

    - ``_ID_PREFIX`` — the writer-id prefix (``cw`` / ``ew``);
    - ``_DATA_KEY`` / ``_DATA_ID`` — the data of record's stats key and
      its sort key;
    - ``_LAYERS`` — the per-admit :class:`Layer` table, the ONE list
      :meth:`prune_snapshots`, :meth:`vacuum` and the recording walk
      :meth:`_record_layers` go through (in order);
    - ``_HIST`` — the drift-histogram layer's dir name, plus three
      methods: ``_hist_of(frame)`` (a batch's (b, c) histogram),
      ``_hist_source()`` (the rebuild source) and ``_hist_width()``
      (the bucket domain size);

    and the lease-free bodies ``_rebuild_layers`` (every derived layer
    rewritten from the data of record — what :meth:`reconcile` and both
    bootstraps run) / ``_compact_locked``. Every public mutating entry
    is one call to
    :meth:`_leased`; the ``_locked`` bodies never take the lease, so a
    leased entry can call another's body (vacuum → prune, admit →
    reconcile) without the inner release dropping the outer lease (the
    r11 rule)."""

    _ID_PREFIX: str
    _DATA_KEY: str
    _DATA_ID: tuple[str, ...]
    _LAYERS: tuple[Layer, ...]
    _HIST: str

    def __init__(
        self,
        spark: SparkSession,
        data_dir: str,
        index_dir: str,
        drift_monitor: bool,
        drift_warn: tuple[int, int] | None,
        drift_refuse: bool,
        drift_reconcile: bool = False,
    ) -> None:
        import os
        import uuid

        if drift_warn is not None and not drift_monitor:
            raise ValueError(
                "drift_warn requires drift_monitor=True (there is no "
                "measurement to threshold otherwise)"
            )
        if (drift_refuse or drift_reconcile) and drift_warn is None:
            flag = "drift_refuse" if drift_refuse else "drift_reconcile"
            raise ValueError(f"{flag} requires drift_warn thresholds")
        if drift_refuse and drift_reconcile:
            raise ValueError(
                "drift_refuse and drift_reconcile are exclusive: a "
                "refused batch is never admitted, so there is nothing "
                "to retrain over"
            )
        self.spark = spark
        self._data_dir = data_dir
        self.index_dir = index_dir
        self.drift_monitor = drift_monitor
        self.drift_warn = drift_warn
        self.drift_refuse = drift_refuse
        self._writer_id = (
            f"{self._ID_PREFIX}-{os.getpid()}-{uuid.uuid4().hex[:12]}"
        )
        self._lease_gen = 0  # set by every public mutating entry

    def _leased(self, body, *args):
        """``body(*args)`` under the index's single-writer lease
        (`incremental.acquire_lease`, VERDICT r10 #6): a second
        concurrent writer fails loudly with `incremental.LeaseHeld`
        instead of interleaving; a crashed holder's lease is taken over
        after `incremental.LEASE_TTL_S`. The lease is released on every
        exit, raising ones included. ``body`` runs lease-free code —
        pass bound methods, so a test patching ``_admit_locked`` on the
        class is honoured."""
        from . import incremental

        self._lease_gen = incremental.acquire_lease(
            self.index_dir, self._writer_id, incremental.LEASE_TTL_S
        )
        try:
            return body(*args)
        finally:
            incremental.release_lease(self.index_dir, self._writer_id)

    def _fence(self) -> tuple[str, str, int]:
        """(lease_dir, writer_id, gen) — the fencing token stamped into
        staged-swap commits and verified before irreversible appends
        (`incremental.verify_lease`): a writer resumed after a TTL
        takeover fails loudly instead of interleaving (VERDICT r11 #5)."""
        return (self.index_dir, self._writer_id, self._lease_gen)

    # -- data of record --------------------------------------------------

    def _data(self, as_of: int | None = None) -> DataFrame:
        """The data of record; ``as_of`` reads EXACTLY the files the
        first ``as_of`` recorded admissions committed
        (`incremental.snapshot_files`, zero jobs)."""
        from . import incremental

        incremental.recover_data_dir(self._data_dir)
        if as_of is None:
            return self.spark.read.parquet(self._data_dir)
        files = incremental.snapshot_files(self._data_dir, as_of)
        # Explicit many-path LOCAL reads skip the distributed listing
        # job (r18 — the snapshot_read discipline; schema inference
        # stays, this is a schema-evolvable data-of-record dir).
        with incremental._local_listing_scope(self.spark, files):
            return self.spark.read.parquet(*files)

    def snapshots(self) -> int:
        """Recorded admission-snapshot generations of the data of record
        (0 for one written before snapshots existed) — valid ``as_of``
        values are 1..this."""
        from . import incremental

        return incremental.snapshot_gens(self._data_dir)

    def _compact_data(self) -> dict:
        """Snapshot-AWARE compaction of the data of record (VERDICT r12
        #4), under the lease: each recorded admission's small part
        files collapse to one id-sorted file and the manifest is
        rewritten so every generation still maps to exactly its
        content; staged swap, healed at every read."""
        from . import incremental

        return self._leased(
            lambda: incremental.compact_data_snapshots(
                self.spark, self._data_dir, self._DATA_ID, fence=self._fence()
            )
        )

    def _export(self, as_of: int, dest_dir: str) -> dict:
        """Generation ``as_of`` of the data of record published as a
        standalone dir (`incremental.export_snapshot`), under the lease
        so a concurrent vacuum cannot delete files mid-copy."""
        from . import incremental

        return self._leased(
            incremental.export_snapshot, self._data_dir, as_of, dest_dir
        )

    # -- maintenance over the layer table --------------------------------

    # -- the generation protocol -----------------------------------------

    def _commit(
        self, stats: dict, novel: DataFrame, tally, drift_batch: DataFrame
    ) -> tuple[dict, bool]:
        """The steady-state admit's commit step: measure ``drift_batch``
        against the stored histogram and apply the drift policy (both
        BEFORE any state change — a refusal rolls back nothing, VERDICT
        r11 #3), fence, then append ``novel`` to the data of record
        while ``tally()`` (a read-only aggregate on checkpointed frames
        returning {verdict: n}) runs alongside, and record the
        admission snapshot AFTER the append commits (the manifest
        attributes exactly this admit's files; a crash before it leaves
        them for the next recorded admission). The fencing check sits
        at the point of no return: a writer fenced out by a TTL
        takeover dies there, loudly, with zero state touched (VERDICT
        r11 #5). Every index-side write comes after this returns — the
        append-then-extend crash order. Returns (verdict counts,
        drift-policy hit); drift stats and ``snapshot`` go into
        ``stats``."""
        from . import incremental

        hit = False
        if self.drift_monitor:
            stats.update(self._drift(self._hist_or_heal(), drift_batch))
            hit = _apply_drift_policy(
                stats, self.drift_warn, self.drift_refuse,
                f"{type(self).__name__}.admit",
            )
        incremental.verify_lease(*self._fence())
        counts, _ = incremental._concurrently(
            tally,
            lambda: novel.write.mode("append").parquet(self._data_dir),
        )
        stats["snapshot"] = incremental.record_snapshot(
            self._data_dir, n=counts.get("novel", 0)
        )
        return counts, hit

    def _record_layers(self, gen: int, reason: str | None = None) -> None:
        """Generation-pin every table layer this writer maintains
        (``on(self)``) and that exists — one manifest line per layer,
        aligned with the data of record's generation ``gen``. ``reason``
        is stamped on collapse tombstones after a rebuild (without it a
        rebuild's cleared manifest reads as late alignment). Driver-side
        manifest writes only: zero Spark jobs.

        Each admit and each rebuild calls this ONCE, after its last
        layer write (and before any maintenance that collapses
        manifests). Accepted trade: a crash after a layer write and
        before this walk leaves EVERY layer of that admit unrecorded;
        the next admit's `record_aligned_snapshot` collapses them —
        layer history degrades, correctness never does — while the data
        of record keeps its line (`record_snapshot` runs right after
        the append)."""
        import os

        from . import incremental

        for layer in self._LAYERS:
            d = f"{self.index_dir}/{layer.path}"
            if layer.on(self) and os.path.isdir(d):
                # Looked up per call: profilers wrap the module attribute.
                incremental.record_aligned_snapshot(
                    d, gen, extra=self._record_extra(layer), reason=reason
                )

    def _record_extra(self, layer: Layer) -> dict | None:
        """Subclass hook: extra fields for ``layer``'s manifest line."""
        return None

    def _reconcile_locked(self, **build) -> dict:
        """Rebuild every derived layer from the data of record as
        currently written (:meth:`_rebuild_layers`; ``build`` reaches
        it — the text bootstrap hands over its batch's bands), then
        record them at the data's generation. A rebuild collapses
        generation history (the overwrites took the manifests with the
        dirs); numbering stays aligned with the data of record and
        older as_of pins fail loudly (the VERDICT r13 contract). At a
        bootstrap every layer is freshly written and exactly one
        generation behind, so the recording appends and the reason is
        inert."""
        from . import incremental

        meta = self._rebuild_layers(**build)
        self._record_layers(
            incremental.snapshot_gens(self._data_dir), _REBUILD_REASON
        )
        return meta

    def reconcile(self) -> dict:
        """Public entry: :meth:`_reconcile_locked` under the
        single-writer lease (the :meth:`admit` contract)."""
        return self._leased(self._reconcile_locked)

    def compact(self) -> dict:
        """Public entry: :meth:`_compact_locked` under the
        single-writer lease (the :meth:`admit` contract)."""
        return self._leased(self._compact_locked)

    def prune_snapshots(self, before_gen: int) -> dict:
        """Manifest retention across the whole writer family (VERDICT
        r13 #3): collapse generations ``< before_gen`` on the data of
        record AND every table layer together, so lockstep numbering
        survives — every ``as_of >= before_gen`` read is bit-equal
        before/after, older pins fail loudly naming the horizon.
        Driver-side manifest rewrites only (each atomic; a crash
        between dirs is healed by re-running — prune is idempotent),
        under the writer lease with the fencing check. Layers whose
        manifests lag the horizon (a crash inside a previous admit's
        recording window) are skipped — the next admit's
        `record_aligned_snapshot` collapses them anyway. Composes with
        the data compaction in either order (pinned). Returns
        {dir_basename: changed} per touched dir, the data of record
        under ``corpus`` / ``store``."""
        return self._leased(self._prune_snapshots_locked, before_gen)

    def _layer_dirs(self, before_gen: int):
        """(layer, dir) for each table layer that exists and records
        generations through ``before_gen``, in table order — lazily, so
        each layer is checked right before it is touched."""
        import os

        from . import incremental

        for layer in self._LAYERS:
            d = f"{self.index_dir}/{layer.path}"
            if os.path.isdir(d) and incremental.snapshot_gens(d) >= before_gen:
                yield layer, d

    def _prune_snapshots_locked(self, before_gen: int) -> dict:
        import os

        from . import incremental

        incremental.verify_lease(*self._fence())
        incremental.recover_data_dir(self._data_dir, locked=True)
        out = {
            self._DATA_KEY: incremental.prune_snapshots(
                self._data_dir, before_gen
            )
        }
        for _, d in self._layer_dirs(before_gen):
            out[os.path.basename(d)] = incremental.prune_snapshots(
                d, before_gen
            )
        return out

    def vacuum(self, before_gen: int) -> dict:
        """Byte reclamation below the retention horizon (VERDICT r14
        #1), family-wide under the writer lease: prune every manifest
        to ``before_gen`` (idempotent), then physically rewrite the
        data of record and each table layer's merged base generation
        into ``⌈bytes/256 MB⌉`` files sorted by its key, dropping the
        superseded pre-horizon small files at the staged swap.
        Hive-partitioned layers re-emit their partition dirs (the
        manifest keeps partition-dir-relative names, so ``basePath``
        as-of readers still recover the column). Post-horizon as-of
        history survives — unlike :meth:`compact`, which collapses it.

        Every ``as_of >= before_gen`` read is bit-equal before/after,
        older pins stay loudly refused, a crash anywhere self-heals at
        the next read (`recover_data_dir`), and later admits keep
        appending generations. Returns per-dir byte/file/row
        accounting, keyed like :meth:`prune_snapshots`."""
        return self._leased(self._vacuum_locked, before_gen)

    def _vacuum_locked(self, before_gen: int) -> dict:
        import os

        from . import incremental

        out: dict = self._prune_snapshots_locked(before_gen)
        out[self._DATA_KEY] = incremental.vacuum_data_snapshots(
            self.spark,
            self._data_dir,
            before_gen,
            self._DATA_ID,
            fence=self._fence(),
        )
        for layer, d in self._layer_dirs(before_gen):
            out[os.path.basename(d)] = self._vacuum_layer(
                layer, d, before_gen
            )
        return out

    def _vacuum_layer(
        self, layer: Layer, d: str, before_gen: int, dead=None
    ) -> dict:
        """One layer's vacuum rewrite; ``dead`` rows are dropped too
        (a subclass hook supplies them — only tombstone-masked rows
        are ever dead)."""
        from . import incremental

        return incremental.vacuum_data_snapshots(
            self.spark,
            d,
            before_gen,
            layer.order_cols,
            dead=dead,
            fence=self._fence(),
            partition_by=layer.partition_by,
        )

    def _restage(self, name: str, frame: DataFrame) -> None:
        """Swap ``frame`` in as the whole of index layer ``name``: it is
        written to the ``.compact`` stage, the layer's manifest is
        collapsed INTO the stage so files and manifest swap together
        (older as_of pins then fail loudly — the VERDICT r13 rewrite
        contract), and the fenced staged swap commits it."""
        from . import incremental

        d = f"{self.index_dir}/{name}"
        frame.write.mode("overwrite").parquet(f"{d}.compact")
        gens = incremental.snapshot_gens(d)
        if gens:
            incremental.collapse_snapshots(f"{d}.compact", gens)
        incremental._swap_staged(self.index_dir, name, fence=self._fence())

    # -- drift-histogram layer -------------------------------------------

    def _hist_dir(self) -> str:
        return f"{self.index_dir}/{self._HIST}"

    def _hist_marker(self) -> str:
        return f"{self._hist_dir()}.inprogress"

    def _hist_stale(self) -> bool:
        """Subclass hook: the stored layer is unusable for a reason the
        marker and commit checks cannot see."""
        return False

    def _write_hist(self, hist: DataFrame, mode: str) -> None:
        hist.write.mode(mode).parquet(self._hist_dir())

    def _rebuild_hist(self) -> None:
        """Rewrite the whole layer from the rebuild source — the
        bootstrap, reconcile and heal path — and clear any marker a
        crashed extend left."""
        import os

        self._write_hist(self._hist_source(), "overwrite")
        if os.path.exists(self._hist_marker()):
            os.remove(self._hist_marker())

    def _hist_or_heal(self) -> DataFrame:
        """The stored per-segment (b, c) histogram (the reader sums
        segments). Self-heals: an interrupted compact swap
        forward-rolls, and a missing / uncommitted / marker-bracketed /
        stale layer (data admitted before ``drift_monitor=True``, or a
        crash inside the derived-layer append window) is rebuilt from
        the rebuild source — which at every call site describes exactly
        the pre-admit data the layer must describe."""
        import os

        from . import incremental

        incremental._recover_staged(
            self.index_dir, (self._HIST,), discard_stage=False
        )
        if (
            os.path.exists(self._hist_marker())
            or not _parquet_dir_committed(self._hist_dir())
            or self._hist_stale()
        ):
            self._rebuild_hist()
        return self.spark.read.parquet(self._hist_dir())

    def _extend_hist(self, novel: DataFrame) -> None:
        """Append the admitted batch's histogram segment, bracketed by
        a marker: a crash mid-append leaves the marker, and the next
        reader rebuilds the whole layer from the (already-committed)
        data of record instead of double-counting a half-written
        segment."""
        import os

        open(self._hist_marker(), "w").close()
        self._write_hist(self._hist_of(novel), "append")
        os.remove(self._hist_marker())

    def _drift(self, ref: DataFrame, batch: DataFrame) -> dict:
        """{"drift_kl_fix", "drift_tv_fix"}: the exact fixed-point KL/TV
        of ``batch``'s histogram against the reference ``ref``."""
        from .queries.text import corpus_drift_from_hists

        row = corpus_drift_from_hists(
            self.spark, ref, self._hist_of(batch), self._hist_width()
        ).collect()[0]
        return {
            "drift_kl_fix": int(row["kl_fix"]),
            "drift_tv_fix": int(row["tv_fix"]),
        }

    def _drift_stats(self, batch: DataFrame, as_of: int | None) -> dict:
        """The public ``drift_stats`` body: the reference is the stored
        layer, or with ``as_of`` the layer as it stood after recorded
        admission ``as_of`` (collapsed or pruned generations fail
        loudly)."""
        from . import incremental
        from .queries.text import DRIFT_HIST_SCHEMA

        if not self.drift_monitor:
            raise ValueError(
                f"this {type(self).__name__} was constructed without "
                f"drift_monitor=True — there is no stored {self._HIST} "
                "layer to measure against"
            )
        if as_of is None:
            return self._drift(self._hist_or_heal(), batch)
        incremental._recover_staged(
            self.index_dir, (self._HIST,), discard_stage=False
        )
        ref = incremental.snapshot_read(
            self.spark, self._hist_dir(), as_of, schema=DRIFT_HIST_SCHEMA
        )
        return self._drift(ref, batch)

    def _compact_hist(self) -> None:
        """Collapse the histogram layer's per-admit segments to ≤ width
        rows — counts are additive, so the summed rewrite is
        content-equivalent under the reader's own SUM (pinned)."""
        import os

        if self.drift_monitor and os.path.isdir(self._hist_dir()):
            self._restage(
                self._HIST,
                self.spark.read.parquet(self._hist_dir())
                .groupBy("b")
                .agg(F.sum("c").cast("long").alias("c"))
                .coalesce(1),
            )


class CorpusWriter(_WriterBase):
    """Batch-at-a-time corpus admission: the incremental form of
    :func:`curate_frame` for a corpus that GROWS (stream ingestion, daily
    crawl drops) instead of being rebuilt.

    Each :meth:`admit` call runs the full in-batch pipeline (gates →
    exact dedup → near-dup survivors) on the ARRIVING batch only, then
    checks the batch survivors against the persisted dedup index
    (`kinesis_iterator_spark.incremental`) so nothing already in the
    corpus is admitted twice — exactly or near. Accepted documents are
    appended to the corpus parquet and their digest/band rows to the
    index, which plays the role the reference's checkpoint store plays
    for its stream cursors (SURVEY §2.A A6/A8): state persisted per
    batch so the next batch's work is bounded by the batch, not the
    history.

    Admission is FIRST-SEEN-WINS by construction: a document already in
    the corpus always beats a later near-duplicate arrival. That is the
    semantics an append-only corpus wants, and it is deterministic for
    any fixed sequence of batches — but it is order-dependent across
    different batch splits (batch-vs-corpus near-dup survivor choice
    depends on arrival order; a full `curate_frame` re-run over the
    union may elect a different component representative). Exactness of
    the EXACT-dup layer is order-independent.
    """

    _ID_PREFIX = "cw"
    _DATA_KEY = "corpus"
    _DATA_ID = ("doc_id",)
    _HIST = "drift_ref"
    # Every per-admit generation-pinned layer, in prune/vacuum order —
    # ``bands`` before ``dropped``: the bands vacuum reads the
    # tombstones as of the horizon (`_vacuum_layer`).
    _LAYERS = (
        Layer("digests", ("doc_id",)),
        Layer("bands", ("band_id", "band_key")),
        # Tombstones (VERDICT r15 #5): the ROWS are load-bearing
        # forever — a bucket the cap rule ever dropped must stay
        # masked, or post-vacuum appends to it would pair against a
        # remnant whose earlier members are physically gone (the r10
        # cap contract; a full union rebuild drops the bucket too). Row
        # growth is bounded and tiny: ≤ total-band-rows-ever /
        # MAX_BUCKET rows of two ids (SCALING.md). The per-admit small
        # FILES, however, are pure layout overhead — consolidation-only
        # vacuum.
        Layer("dropped", ("band_id", "band_key")),
        # Pre-stage digest layers, keyed for the pre-stage anti-joins.
        Layer("paragraphs", ("h",), on=lambda w: w.config.dedup_paragraphs),
        Layer(
            "exact_substr", ("h",), on=lambda w: w.config.dedup_exact_substr
        ),
        Layer("drift_ref", ("b",), on=lambda w: w.drift_monitor),
        # BM25 relations, keyed for term pushdown.
        Layer("bm25/postings", ("term", "doc_id"), on=lambda w: w.bm25_index),
        Layer("bm25/df", ("term",), on=lambda w: w.bm25_index),
        Layer("bm25/doclen", ("doc_id",), on=lambda w: w.bm25_index),
    )
    # Pre-stage digest layers: name → (config flag, label in errors).
    _PRESTAGE = {
        "paragraphs": ("dedup_paragraphs", "paragraph"),
        "exact_substr": ("dedup_exact_substr", "exact-substr"),
    }

    @property
    def corpus_dir(self) -> str:
        return self._data_dir

    def __init__(
        self,
        spark: SparkSession,
        corpus_dir: str,
        index_dir: str,
        config: CurationConfig | None = None,
        benchmark_doc: DataFrame | None = None,
        decontam_max_frac: float = 0.0,
        auto_compact: bool = False,
        bm25_index: bool = False,
        drift_monitor: bool = False,
        drift_buckets: int = 256,
        drift_warn: tuple[int, int] | None = None,
        drift_refuse: bool = False,
    ) -> None:
        """``auto_compact``: run `incremental.compact_index` at the end
        of any :meth:`admit` that leaves band-row growth past
        `incremental.COMPACT_DRIFT_FACTOR` (the drift check reads
        parquet footers — zero Spark jobs). Off by default: a long-lived
        ingestion loop that wants bounded candidate volume without an
        operator in the loop turns it on; an operator who schedules
        maintenance windows leaves it off and calls :meth:`compact` on
        the drift warning instead.

        ``benchmark_doc`` (optional, (doc_id, text)) switches on
        streaming-side decontamination: each batch's survivors are
        checked against the benchmark's hashed k-gram shingles (the
        `text_decontaminate` kernel in its natural incremental form —
        the benchmark side is a tiny fixed relation, so per batch it is
        one broadcast equi-join; corpus text never shuffles) and docs
        whose contaminated shingle fraction EXCEEDS ``decontam_max_frac``
        are rejected before they ever reach the corpus. The default 0.0
        is the GPT-3-style rule: any shared shingle rejects.

        ``bm25_index``: maintain a stored BM25 inverted index
        (`queries.retrieval.write_bm25_index` layout) under
        ``{index_dir}/bm25`` — bootstrapped with the corpus, extended
        with every admitted batch (the band/paragraph-layer
        discipline), queried via :meth:`bm25_topk`. Off by default:
        the layer costs a few batch-bounded jobs per admit.

        ``drift_monitor`` (VERDICT r10 #4): maintain a stored
        reference-histogram layer (``{index_dir}/drift_ref`` —
        ≤ ``drift_buckets`` hashed-unigram rows per segment, one
        segment per admit, the `df/`/`bucket_sizes/` per-segment
        discipline; sum-of-segments ≡ a recount of the corpus, pinned)
        and report each batch's KL/TV drift against the pre-admit
        corpus in the admit stats (``drift_kl_fix``/``drift_tv_fix``,
        `queries.text.corpus_drift`'s exact fixed-point integers; ÷
        DSIR_FIX for the floats). Per-admit cost is one batch-sized
        histogram pass + a ≤ buckets·segments layer read — the
        reference corpus is never re-scanned (the guardrail VERDICT
        r10 #2 flagged as an op you had to remember to run). Off by
        default: +2 jobs per admit."""
        super().__init__(
            spark, corpus_dir, index_dir, drift_monitor, drift_warn,
            drift_refuse,
        )
        self.config = config or CurationConfig()
        self.benchmark_doc = benchmark_doc
        self.decontam_max_frac = decontam_max_frac
        self.auto_compact = auto_compact
        self.bm25_index = bm25_index
        self.drift_buckets = drift_buckets
        self._bench_shingles: DataFrame | None = None

    def _bootstrapped(self) -> bool:
        return _readable_meta(self.index_dir)

    def corpus(self, as_of: int | None = None) -> DataFrame:
        """The admitted corpus so far (doc_id, lang, source, text,
        tokens). ``as_of``: a 1-based admission-snapshot generation
        (the ``snapshot`` field of that admit's stats) — read EXACTLY
        the files the first ``as_of`` recorded admissions committed
        (`incremental.snapshot_files`, zero jobs): reproducible
        training snapshots, and isolation from an in-flight admit."""
        return self._data(as_of)

    def compact_corpus(self) -> dict:
        """Snapshot-AWARE compaction of the data of record (VERDICT r12
        #4): each recorded admission's small part files collapse to one
        doc_id-sorted file and the `_snapshots.jsonl` manifest is
        rewritten so EVERY generation still maps to exactly its
        content — ``corpus(as_of=g)`` is bit-equal before/after for
        every g (pinned), unlike the derived-layer compactors (which
        trade history for layout). Staged-swap crash discipline
        (`incremental.recover_data_dir` heals an interrupted commit at
        every read), under the writer lease."""
        return self._compact_data()

    def _vacuum_layer(
        self, layer: Layer, d: str, before_gen: int, dead=None
    ) -> dict:
        """The ``bands`` hook of :meth:`vacuum`: consolidation PLUS
        physical deletion of band rows whose bucket a generation
        ``<= before_gen`` tombstone masks — every ``as_of >=
        before_gen`` serve anti-joins those rows away
        (`dedup_against_index`), so dropping them is serve-invisible
        (pinned); the drift baseline in ``meta.json`` shrinks by the
        same count (conservative — drift can only warn sooner). Every
        other layer has no masked rows (``dead=None``)."""
        import json
        import os

        from . import incremental

        if layer.path != "bands":
            return super()._vacuum_layer(layer, d, before_gen, dead)
        # Dead rows: buckets tombstoned at or below the horizon mask
        # their stored rows for EVERY servable as_of. Only a
        # horizon-resolvable tombstone manifest can prove membership —
        # a lagging one downgrades to consolidation-only (dead=None),
        # never guesses.
        drop_dir = f"{self.index_dir}/dropped"
        if (
            os.path.isdir(drop_dir)
            and incremental.snapshot_gens(drop_dir) >= before_gen
        ):
            dead = incremental._read_dropped(
                self.spark, self.index_dir, as_of=before_gen
            )
        out = super()._vacuum_layer(layer, d, before_gen, dead)
        removed = out["rows_dropped"]
        # Crash window (ADVICE r15): this meta rewrite is NOT atomic
        # with the bands staged swap above. A crash in between leaves
        # `base_band_rows` inflated by `removed`, so the band-growth
        # compaction trigger fires LATER than intended (ratio reads
        # low) — never earlier, never wrong data. The next `compact`
        # heals it exactly: `compact_index` recomputes the baseline
        # from the rewritten bands dir (`_dir_rows`). Recomputing here
        # instead would fold post-compaction appends into the baseline
        # and RESET growth accounting, which is worse than the window.
        if removed:
            meta_path = f"{self.index_dir}/meta.json"
            with open(meta_path) as fh:
                meta = json.load(fh)
            base = meta.get("base_band_rows")
            if base is not None:
                meta["base_band_rows"] = max(0, base - removed)
                tmp = meta_path + ".tmp"
                with open(tmp, "w") as fh:
                    json.dump(meta, fh)
                os.replace(tmp, meta_path)
        return out

    def export_corpus(self, as_of: int, dest_dir: str) -> dict:
        """Publish the corpus as of generation ``as_of`` as a
        standalone dir (`incremental.export_snapshot`), under the
        writer lease so a concurrent vacuum cannot delete files
        mid-copy. The export is bit-equal to ``corpus(as_of)`` and
        independent of this family's later maintenance (pinned)."""
        return self._export(as_of, dest_dir)

    def _contaminated_ids(self, survivors: DataFrame) -> DataFrame:
        """doc_ids among the batch survivors whose distinct hashed
        k-gram shingles collide with the benchmark's beyond
        ``decontam_max_frac`` of their own shingle count. Shingle-less
        docs (< k words) cannot collide and pass."""
        from pyspark.sql.window import Window as W

        from .queries.text import DECONTAM_K, _kgram_shingle_rows

        if self._bench_shingles is None:
            # The benchmark is fixed for the writer's lifetime: pin its
            # distinct shingles once (eager localCheckpoint — a small
            # frame by the tiny-benchmark premise) instead of re-running
            # the explode + window + distinct on every admitted batch.
            self._bench_shingles = (
                _kgram_shingle_rows(
                    self.benchmark_doc.select("doc_id", "text"), DECONTAM_K
                )
                .select("h")
                .distinct()
                .localCheckpoint(eager=True)
            )
        bench = self._bench_shingles
        corp = _kgram_shingle_rows(
            survivors.select("doc_id", "text"), DECONTAM_K
        ).withColumn("n_shingles", F.count("*").over(W.partitionBy("doc_id")))
        return (
            corp.join(bench, "h")
            .groupBy("doc_id")
            .agg(
                F.countDistinct("h").alias("_hits"),
                F.max("n_shingles").alias("_n"),
            )
            .filter(
                F.col("_hits") > F.lit(self.decontam_max_frac) * F.col("_n")
            )
            .select("doc_id")
        )

    def admit(self, batch_doc: DataFrame) -> dict[str, int]:
        """Public entry: :meth:`_admit_locked` under the index's
        single-writer lease (`incremental.acquire_lease` — VERDICT r10
        #6). A second concurrent writer fails loudly with
        `incremental.LeaseHeld` instead of interleaving crash markers;
        a crashed holder's lease is taken over after
        `incremental.LEASE_TTL_S`."""
        return self._leased(self._admit_locked, batch_doc)

    def _admit_locked(self, batch_doc: DataFrame) -> dict[str, int]:
        """Run one batch through gates + in-batch dedup + (optional)
        benchmark decontamination + vs-corpus dedup; append the accepted
        documents. Returns the stage counts (`n_input`/`n_gate`/`n_kept`
        from the in-batch pipeline, `rejected_contaminated` when a
        benchmark is configured, plus `rejected_exact`/`rejected_near`/
        `n_admitted` from the vs-corpus check).

        Precondition: ``doc_id`` is globally unique across batches (the
        ingestion layer's responsibility — e.g. the stream's
        sequence-number-derived ids). A re-used id would collide in the
        appended corpus; content-level duplicates are what this method
        rejects.

        Not atomic: the corpus append commits before the index extend,
        so a crash between the two leaves admitted docs invisible to the
        dedup index (their later copies would be re-admitted). Corpus
        content is never lost to the window — recover by calling
        :meth:`reconcile`, which rebuilds the index from the corpus (the
        reference's checkpoint-retry analogue). The opposite order would
        instead silently REJECT future copies of documents the corpus
        never received — unrecoverable data loss."""
        from . import incremental
        from .queries import release_local_checkpoint, release_persists

        # Heal an interrupted data-dir compaction swap BEFORE any
        # existence probe — a mid-swap crash leaves the corpus renamed
        # away, and an unhealed probe would route into bootstrap and
        # OVERWRITE everything previously admitted. locked=True: we
        # hold the lease, so a leftover stage is definitely dead.
        incremental.recover_data_dir(self.corpus_dir, locked=True)
        # Crash-safe bootstrap detection: the corpus write commits before
        # the index build, so a crash in that window leaves corpus files
        # with no meta.json. Re-bootstrapping would OVERWRITE the corpus
        # and silently discard everything previously admitted — instead,
        # rebuild the index from the corpus (reconcile) and proceed down
        # the normal append path.
        if not self._bootstrapped() and _parquet_dir_committed(
            self.corpus_dir
        ):
            self._reconcile_locked()

        cfg = self.config
        if cfg.scrub_pii or cfg.dedup_paragraphs or cfg.dedup_exact_substr:
            # The writer applies the text-REWRITING stages itself so
            # the paragraph pass can see the STORED digest layer
            # (paragraphs already in the corpus must lose to their
            # first admission, exactly like whole documents), then
            # curates with the flags off — same operators, same order
            # (_pre_stages), incremental state injected.
            from dataclasses import replace

            batch_doc = self.pre_stage_batch(batch_doc)
            # Every pre-applied rewrite flag is cleared for the inner
            # curate — dedup_exact_substr is NOT idempotent, so leaving
            # it on would strip spans twice; split_long already ran in
            # the pre-apply too, and a second application would re-key
            # every doc_id AGAIN (orig·2^40 for small ids — silent
            # provenance corruption; loud raise for ids >= 2^23).
            cfg = replace(
                cfg,
                scrub_pii=False,
                dedup_paragraphs=False,
                dedup_exact_substr=False,
                split_long=None,
            )

        # Start the vs-corpus verdict build the moment the eligible
        # set's band rows exist — BEFORE the in-batch CC runs — so the
        # two expensive phases overlap. Valid because a document's
        # verdict against the CORPUS is independent of the in-batch
        # survivor election: the check runs on the ELIGIBLE superset
        # and its verdicts are filtered to the survivors afterwards
        # (slim semi-join on the checkpoint; identical results).
        # Skipped when there is no index yet (bootstrap) or no bands
        # (ngram edge source) — those paths build verdicts as before.
        vbox: dict = {"thread": None, "ckpt": None, "err": None}

        def _on_bands(bands, eligible):
            if not self._bootstrapped():
                return
            import threading

            def _run():
                try:
                    vbox["ckpt"] = incremental.dedup_against_index(
                        self.spark,
                        eligible,
                        self.index_dir,
                        self.corpus(),
                        batch_bands=bands,
                        # curate banded exactly this eligible set (the
                        # on_bands contract) — no restriction semijoin
                        # needed (r18; extend_index below still filters:
                        # its bands cover the eligible SUPERSET of the
                        # novel survivors).
                        batch_bands_restricted=True,
                    ).localCheckpoint(eager=True)
                except BaseException as e:  # noqa: BLE001 — re-raised on join
                    vbox["err"] = e

            t = threading.Thread(
                target=incremental._inheriting(_run),
                name="vs-index-verdicts",
                daemon=True,
            )
            t.start()
            vbox["thread"] = t

        def _join_eligible_verdicts():
            if vbox["thread"] is not None:
                vbox["thread"].join()
                vbox["thread"] = None
            if vbox["err"] is not None:
                raise vbox["err"]
            return vbox["ckpt"]

        try:
            cur = curate_frame(
                batch_doc,
                cfg,
                expose_bands=cfg.edge_source == "minhash",
                on_bands=_on_bands,
            )
        except BaseException:
            # curate failed mid-flight (e.g. the CC rounds): the hook's
            # thread may still hold a checkpoint no one will consume.
            try:
                ck = _join_eligible_verdicts()
                if ck is not None:
                    from .queries import release_local_checkpoint as _rl

                    _rl(ck)
            except BaseException:
                pass
            raise
        verdicts = None
        contaminated = None
        batch_bands = None
        novel = None
        try:
            stats: dict[str, int] = {"rejected_contaminated": 0}

            def _stage_counts():
                stats.update(
                    {
                        k: cur.stats()[k]
                        for k in ("n_input", "n_quality", "n_gate", "n_kept")
                    }
                )

            survivors = cur.final.select(
                "doc_id", "lang", "source", "text", "tokens"
            )
            if self.benchmark_doc is not None:
                # Decontaminate BEFORE the vs-corpus dedup: the benchmark
                # join is the cheap stage (tiny broadcast side) and a
                # rejected doc must never pay the band join — nor, worse,
                # be admitted because its only near-dup was itself
                # contaminated. Checkpoint the small id frame once; both
                # consumers (count, anti-join) read the materialized rows.
                contaminated = self._contaminated_ids(
                    survivors
                ).localCheckpoint(eager=True)
                stats["rejected_contaminated"] = contaminated.count()
                survivors = survivors.join(contaminated, "doc_id", "left_anti")
            if self._bootstrapped():
                # Band the batch ONCE and feed every consumer: the
                # in-batch pair generation already banded the eligible
                # set (curate_frame exposed the checkpointed rows —
                # survivors ⊆ eligible, and band rows are a pure
                # per-document function, so filtered reuse is exact);
                # the vs-corpus candidate join and the index extension
                # below both read that one frame instead of each
                # re-running the shingle→signature pipeline. The ngram
                # edge source has no bands to share — band the
                # survivors here (still once for the two consumers).
                batch_bands = cur.bands
                if batch_bands is None:
                    from .queries.dedup import minhash_bands

                    batch_bands = minhash_bands(
                        survivors.select("doc_id", "text")
                    ).localCheckpoint(eager=True)
                # The verdict frame is slim (one row per checked doc)
                # but its lineage is the whole vs-corpus check (band
                # join + corpus-text verify): checkpoint it once, derive
                # BOTH consumers (stats, novel join) from the
                # materialized rows — and cut the corpus_dir read out of
                # novel's plan before the append below re-lists that
                # same directory ("persist small, recompute big").
                if vbox["thread"] is not None or vbox["ckpt"] is not None:
                    # The build started at band time (inside curate,
                    # overlapping the CC rounds); let the stage-count
                    # aggregate run while its tail completes, then
                    # restrict the eligible-superset verdicts to the
                    # survivors (slim semi-join on the checkpoint —
                    # identical to scoring survivors only, since a
                    # doc's verdict vs the corpus is per-doc).
                    incremental._concurrently(
                        _stage_counts, _join_eligible_verdicts
                    )
                    verdicts = vbox["ckpt"]
                    sverd = verdicts.join(
                        survivors.select("doc_id"), "doc_id", "leftsemi"
                    )
                else:
                    # ngram edge source (no bands hook): build on the
                    # survivors directly, overlapped with the stage
                    # counts as before.
                    def _build_verdicts():
                        nonlocal verdicts
                        verdicts = incremental.dedup_against_index(
                            self.spark,
                            survivors,
                            self.index_dir,
                            self.corpus(),
                            batch_bands=batch_bands,
                        ).localCheckpoint(eager=True)

                    incremental._concurrently(_build_verdicts, _stage_counts)
                    sverd = verdicts
                # Checkpoint the admitted rows ONCE: novel's lineage is
                # the whole batch curation join, and FOUR consumers
                # read it (corpus append, digest append, band filter,
                # optional paragraph append) — partly in parallel,
                # where concurrent recomputes of the same lineage
                # contend. (r8 A/B'd this neutral with two SEQUENTIAL
                # consumers; the parallel write group changes the
                # trade.)
                novel = survivors.join(
                    sverd.filter(F.col("verdict") == "novel").select("doc_id"),
                    "doc_id",
                ).localCheckpoint(eager=True)
                # Drift is measured on the SURVIVORS (the arriving
                # distribution post-gates, pre-dedup): a drift alarm
                # should fire on what arrived, not be masked because
                # most of it was deduped away. The verdict tally is
                # read-only on the checkpointed frame.
                by_verdict, _ = self._commit(
                    stats,
                    novel,
                    lambda: {
                        r["verdict"]: r["n"]
                        for r in sverd.groupBy("verdict")
                        .agg(F.count("*").alias("n"))
                        .collect()
                    },
                    survivors,
                )
                stats["rejected_exact"] = by_verdict.get("exact_dup", 0)
                stats["rejected_near"] = by_verdict.get("near_dup", 0)
                stats["n_admitted"] = by_verdict.get("novel", 0)
                # Append the ADMITTED docs' pre-stage digests — novel
                # text is already paragraph-unique vs store and batch
                # (the pre-stage), so these rows extend the layers
                # without duplicates. Deliberately BEFORE extend_index:
                # a crash here sits inside the documented
                # append-then-extend window (doc index stale, reconcile
                # rebuilds everything), whereas digests-after-index
                # would open a window the meta checks can't see —
                # admitted documents whose digests were never recorded,
                # silently re-admitting that text in later batches.
                # Over-recorded digests are impossible in this order
                # (the corpus append above already committed their
                # text), so the layers are conservative-correct at
                # every crash point.
                for name, (flag, _) in self._PRESTAGE.items():
                    if getattr(self.config, flag):
                        self._write_digests(name, novel, "append")
                incremental.extend_index(
                    novel, self.index_dir, bands=batch_bands
                )
                if self.bm25_index:
                    # After the dedup-index extend: a crash anywhere in
                    # the index-side window leaves DERIVED layers stale
                    # w.r.t. the committed corpus, and _extend_bm25
                    # self-heals a missing/interrupted layer by
                    # rebuilding from the corpus (the reconcile path).
                    self._extend_bm25(novel)
                if self.drift_monitor:
                    # The layer extends with the ADMITTED (novel) docs —
                    # sum-of-segments stays ≡ a recount of the corpus
                    # (pinned). Same derived-layer crash contract as
                    # bm25; a crash MID-append leaves the marker and
                    # the next reader rebuilds instead of
                    # double-counting.
                    self._extend_hist(novel)
                # One recording walk after the last layer write (see
                # _record_layers for the crash trade); before the
                # compaction below, which collapses the manifests it
                # finds.
                self._record_layers(stats["snapshot"])
                if self.auto_compact:
                    drift = incremental.index_drift(self.index_dir)
                    if (
                        drift is not None
                        and drift > incremental.COMPACT_DRIFT_FACTOR
                    ):
                        # Fenced like every staged swap under the lease:
                        # a writer taken over mid-admit must not swap
                        # bands/dropped under the new holder.
                        incremental.compact_index(
                            self.spark, self.index_dir, fence=self._fence()
                        )
            else:
                _stage_counts()
                stats["rejected_exact"] = 0
                stats["rejected_near"] = 0
                stats["n_admitted"] = (
                    stats["n_kept"] - stats["rejected_contaminated"]
                )
                incremental.verify_lease(*self._fence())
                survivors.write.mode("overwrite").parquet(self.corpus_dir)
                # Generation 1: the overwrite cleared any prior
                # manifest with the data it described.
                stats["snapshot"] = incremental.record_snapshot(
                    self.corpus_dir, n=stats["n_admitted"]
                )
                # Every layer from the just-written corpus — the
                # reconcile body. cur.bands (when exposed) covers the
                # eligible superset of the corpus; _write_band_files
                # filters to the corpus ids, saving the re-banding. No
                # drift stats: there is no pre-admit reference.
                self._reconcile_locked(bands=cur.bands)
            return stats
        finally:
            if batch_bands is not None and batch_bands is not cur.bands:
                # Only the survivors-banded (ngram edge source) frame is
                # owned here; cur.release() frees the exposed one.
                release_local_checkpoint(batch_bands)
            cur.release()
            for ck in (verdicts, contaminated, novel):
                if ck is not None:
                    release_local_checkpoint(ck)
            # curate_frame's internals (minhash pair persist, CC round
            # checkpoints) register with the module-level managed list;
            # a long-running ingestion loop must not pin one batch's
            # blocks per admit.
            release_persists()

    def _bm25_dir(self) -> str:
        return f"{self.index_dir}/bm25"

    def _extend_bm25(self, novel: DataFrame) -> dict:
        """Extend the stored BM25 layer with the admitted docs; rebuild
        from the corpus when the layer is missing or was left
        interrupted (late enablement on pre-existing state, or a crash
        inside a previous admit's index-side window — the corpus is the
        source of truth, the layer is derived)."""
        from .queries.retrieval import (
            _check_bm25_meta,
            extend_bm25_index,
            write_bm25_index,
        )

        try:
            _check_bm25_meta(self._bm25_dir())
        except ValueError:
            return write_bm25_index(
                self.spark,
                self.corpus().select("doc_id", "text"),
                self._bm25_dir(),
            )
        return extend_bm25_index(
            self.spark, novel.select("doc_id", "text"), self._bm25_dir()
        )

    def _record_extra(self, layer: Layer) -> dict | None:
        """The ``bm25/postings`` line carries the cumulative (n_docs,
        t_tokens) from the layer's ``meta.json`` (VERDICT r12 #1), so a
        pinned read recovers the exact scoring constants of that era.
        Driver-side file read — zero Spark jobs."""
        import json

        if layer.path != "bm25/postings":
            return None
        with open(f"{self._bm25_dir()}/meta.json") as fh:
            meta = json.load(fh)
        return {k: int(meta[k]) for k in ("n_docs", "t_tokens")}

    def bm25_topk(self, query_terms: list[str], topk: int = 10, **kw) -> DataFrame:
        """Ranked retrieval over the admitted corpus from the stored
        inverted index (requires ``bm25_index=True``) — tf/df/dl come
        from the postings layer, never a corpus-text scan. Pass
        ``as_of=g`` to serve the index exactly as it stood after
        recorded admission g (generation-pinned layers)."""
        from .queries.retrieval import bm25_topk_from_index

        if not self.bm25_index:
            raise ValueError(
                "this CorpusWriter was constructed without bm25_index=True"
            )
        return bm25_topk_from_index(
            self.spark, self._bm25_dir(), query_terms, topk=topk, **kw
        )

    def _stored_digests(
        self, name: str, as_of: int | None = None
    ) -> DataFrame:
        """The stored pre-stage digest layer ``name`` (single ``h``
        column): ``paragraphs`` — one row per admitted paragraph — or
        ``exact_substr`` — one row per distinct ``w``-word window of
        admitted text. A bootstrapped index WITHOUT the layer means the
        corpus predates the layer's config flag — its digests were
        never recorded, so silently treating the layer as empty would
        re-admit every one of them; reconcile() builds the layer from
        the corpus. The digest parameters (``paragraph_sep``,
        ``exact_substr_w``) must stay constant across the corpus's
        writer lifetimes (digests of different parameters never match,
        silently disabling the cross-batch check). ``as_of`` (r14):
        serve the layer exactly as it stood after recorded admission
        ``as_of`` (generation-pinned: the layer's per-admit manifest
        lines, `_record_layers`)."""
        import os

        from . import incremental

        # Self-heal an interrupted compact() swap — the pre-stage can
        # read the layer before anything calls _check_meta.
        incremental._recover_staged(
            self.index_dir, (name,), discard_stage=False
        )
        d = f"{self.index_dir}/{name}"
        if not os.path.isdir(d):
            flag, label = self._PRESTAGE[name]
            raise ValueError(
                f"index at {self.index_dir} has no {label} layer but the "
                f"writer is configured with {flag}=True — run "
                "reconcile() once to build it from the corpus."
            )
        if as_of is not None:
            return incremental.snapshot_read(self.spark, d, as_of)
        return self.spark.read.parquet(d)

    def _write_digests(self, name: str, doc: DataFrame, mode: str) -> None:
        """Write ``doc``'s digests into pre-stage layer ``name``. Not
        de-duplicated: both readers consume the layer as a SET (the
        paragraph anti-join, the window min-per-``h``), and
        :meth:`compact` rewrites it distinct."""
        from .queries.dedup import exact_substr_digests, paragraph_digests

        doc = doc.select("doc_id", "text")
        if name == "paragraphs":
            rows = paragraph_digests(doc, sep=self.config.paragraph_sep)
        else:
            rows = exact_substr_digests(doc, w=self.config.exact_substr_w)
        rows.write.mode(mode).parquet(f"{self.index_dir}/{name}")

    def pre_stage_batch(
        self, batch_doc: DataFrame, as_of: int | None = None
    ) -> DataFrame:
        """The text-REWRITING pre-stages exactly as :meth:`admit` would
        apply them to ``batch_doc`` — PII scrub, paragraph dedup
        against the stored paragraph layer, ExactSubstr span removal
        against the stored window layer, long-doc split — WITHOUT
        admitting anything. ``as_of`` pins the stored digest layers to
        recorded admission generation ``as_of`` (r14: the layers carry
        per-admit manifests like every other derived layer), so

            w.pre_stage_batch(probe, as_of=g)

        followed by ``incremental.dedup_against_index(..., corpus_doc=
        w.corpus(as_of=g), as_of=g)`` replays the FULL admission
        classification of a pre-stage-enabled writer bit-equal to the
        answer at generation g (pinned in tests/test_asof_layers.py).
        Generations collapsed by compact()/reconcile() fail loudly."""
        cfg = self.config
        if not (
            cfg.scrub_pii
            or cfg.dedup_paragraphs
            or cfg.dedup_exact_substr
            or cfg.split_long is not None
        ):
            return batch_doc
        seen = {
            name: self._stored_digests(name, as_of=as_of)
            if getattr(cfg, flag) and self._bootstrapped()
            else None
            for name, (flag, _) in self._PRESTAGE.items()
        }
        return _pre_stages(
            batch_doc,
            cfg,
            seen_paras=seen["paragraphs"],
            seen_substr=seen["exact_substr"],
        )

    def _drift_buckets_path(self) -> str:
        return f"{self.index_dir}/drift_ref.buckets.json"

    def _stored_drift_buckets(self) -> int | None:
        import json

        try:
            with open(self._drift_buckets_path()) as fh:
                return int(json.load(fh)["buckets"])
        except (OSError, ValueError, KeyError, TypeError):
            return None

    def _hist_of(self, doc: DataFrame) -> DataFrame:
        """The hashed-unigram (b, c) histogram of ``doc``'s text."""
        from .queries.text import corpus_hist

        return corpus_hist(doc.select("text"), self.drift_buckets)

    def _hist_source(self) -> DataFrame:
        return self._hist_of(self.corpus())

    def _hist_width(self) -> int:
        return self.drift_buckets

    def _hist_stale(self) -> bool:
        """Bucket-domain mismatch (or a legacy un-pinned layer): rebuild
        from the corpus under THIS writer's B — mixing domains would
        silently corrupt every KL/TV after it (ADVICE r11)."""
        return self._stored_drift_buckets() != self.drift_buckets

    def _write_hist(self, hist: DataFrame, mode: str) -> None:
        """Write a layer segment; a REBUILD (mode=overwrite) also pins
        the bucket count in a sidecar (ADVICE r11: without the pin, a
        writer constructed with a different ``drift_buckets`` over an
        existing layer silently mixes hash domains — stored segments
        mod old B, batch histogram mod new B — and reports wrong KL/TV
        with no error). Appends inherit the pinned domain: every
        append in admit is preceded by `_hist_or_heal`, which rebuilds
        on mismatch first."""
        import json
        import os

        super()._write_hist(hist, mode)
        if mode == "overwrite":
            tmp = self._drift_buckets_path() + ".tmp"
            with open(tmp, "w") as fh:
                json.dump({"buckets": self.drift_buckets}, fh)
            os.replace(tmp, self._drift_buckets_path())

    def drift_stats(self, doc: DataFrame, as_of: int | None = None) -> dict:
        """KL/TV of ``doc``'s text distribution vs the stored reference
        histogram — exactly the measurement :meth:`admit` records in
        its stats (and thresholds under ``drift_warn``/``drift_refuse``).
        ``as_of`` pins the reference to recorded admission generation
        ``as_of`` (r14: the layer carries per-admit manifests), so a
        would-this-have-alarmed question replays against any era's
        corpus distribution; generations collapsed by
        compact()/reconcile() or pruned below the retention horizon
        fail loudly. Returns {"drift_kl_fix", "drift_tv_fix"} (÷
        DSIR_FIX for the float values)."""
        return self._drift_stats(doc, as_of)

    def _rebuild_layers(self, bands: DataFrame | None = None) -> dict:
        """Rebuild every derived layer from the corpus as currently
        written — the :meth:`reconcile` body, which the bootstrap runs
        too (``bands``: its batch's exposed band rows, a superset of
        the corpus ids). Reconcile is the recovery path for a crash
        inside :meth:`admit`'s append-then-extend window (and for a
        crash during bootstrap itself, detected and invoked
        automatically by :meth:`admit`), and the late-enablement path
        for a corpus admitted before a layer's flag. The pre-stage
        digest layers are written before the dedup index: the layers
        are never behind the corpus once meta is readable (a crash
        anywhere in a bootstrap's window leaves no meta.json, which
        admit detects and routes through reconcile)."""
        from . import incremental

        for name, (flag, _) in self._PRESTAGE.items():
            # Also the late-enablement path: _stored_digests refuses on
            # a corpus whose digests were never recorded until this runs.
            if getattr(self.config, flag):
                self._write_digests(name, self.corpus(), "overwrite")
        meta = incremental.write_index(
            self.corpus(), self.index_dir, bands=bands
        )
        if self.bm25_index:
            from .queries.retrieval import write_bm25_index

            write_bm25_index(
                self.spark,
                self.corpus().select("doc_id", "text"),
                self._bm25_dir(),
            )
        if self.drift_monitor:
            # Also the staleness-heal and late-enablement path.
            self._rebuild_hist()
        return meta

    def _compact_locked(self) -> dict:
        """Re-apply the mega-bucket cap across all appends without
        re-reading corpus text — `incremental.compact_index` — and
        collapse every enabled derived layer's per-admit append
        segments (paragraph / exact-substr digests rewritten distinct,
        the BM25 postings layer via `compact_bm25_index`): a
        long-running ingestion loop otherwise grows one small parquet
        segment per layer per admit without bound. All rewrites are
        content-equivalent (the digest layers are consumed as SETS) and
        ride the staged-swap crash discipline (`_recover_compaction` /
        `_check_bm25_meta` self-heal an interrupted commit). Cheaper
        than :meth:`reconcile`; run it when `admit` starts warning
        about band-row drift."""
        import os

        from . import incremental

        meta = incremental.compact_index(
            self.spark, self.index_dir, fence=self._fence()
        )
        par = self.spark.sparkContext.defaultParallelism
        for name, (flag, _) in self._PRESTAGE.items():
            d = f"{self.index_dir}/{name}"
            if getattr(self.config, flag) and os.path.isdir(d):
                # Generation-pinned layer (r14): the restage collapses
                # its history, older as_of pins then fail loudly.
                self._restage(
                    name,
                    self.spark.read.parquet(d)
                    .select("h")
                    .distinct()
                    .repartition(par),
                )
        if self.bm25_index:
            from .queries.retrieval import compact_bm25_index

            compact_bm25_index(
                self.spark, self._bm25_dir(), fence=self._fence()
            )
        self._compact_hist()
        return meta

    def release(self) -> None:
        """Free the pinned benchmark-shingle checkpoint. Call when the
        writer is retired; a later :meth:`admit` re-pins on demand."""
        from .queries import release_local_checkpoint

        if self._bench_shingles is not None:
            release_local_checkpoint(self._bench_shingles)
            self._bench_shingles = None


class EmbeddingWriter(_WriterBase):
    """Batch-at-a-time VECTOR admission — :class:`CorpusWriter`'s
    embedding-side twin for a corpus keyed by representation instead of
    text (near-duplicate images/audio under different encodings, captions
    paraphrased past shingle overlap). The store is a plain parquet of
    admitted vectors (vec_id, label, embedding); the state that bounds
    per-batch work is the persisted ANN index
    (`similarity.write_ann_index`): sign-LSH signatures + the
    frozen-codebook IVF file.

    Each :meth:`admit` signs the arriving batch ONCE with the index's
    stored geometry and feeds that one checkpointed frame to all three
    consumers (the text side's band-once lesson): the in-batch self-join,
    the vs-store probe, and the index extension. Admission is
    first-seen-wins: in-batch, the greedy smallest-id policy the
    registered ``dedup_embedding_cosine`` defines; vs-store, a stored
    near-dup always beats a later arrival. Per-batch cost scales with
    the batch (the store is never re-signed or re-scanned; stored
    vectors enter scoring only as the neighbor side of the candidate
    equi-join).

    Crash safety mirrors the text writer: the store append commits
    BEFORE the index extend (a crash in the window re-admits later
    copies — recoverable by :meth:`reconcile` — instead of silently
    rejecting vectors the store never received); a crash during
    bootstrap itself (store written, no readable meta.json) and a
    crash inside an in-place index rebuild (the `rebuild.inprogress`
    marker `write_ann_index` brackets its overwrites with) are both
    detected on the next admit and healed by reconcile instead of an
    overwrite that would discard the admitted store.

    Precondition: ``vec_id`` is globally unique ACROSS batches (the
    ingestion layer's contract, exactly as for `CorpusWriter` doc_ids).
    WITHIN a batch, ids are validated loudly — uint32-bounded (the
    pair scorer's packed-pair contract) and duplicate-free (a fanned-out
    id would store conflicting vectors under one key) — including at
    bootstrap, since stored ids become neighbor ids for every later
    batch."""

    _ID_PREFIX = "ew"
    _DATA_KEY = "store"
    _DATA_ID = ("vec_id",)
    _HIST = "cell_hist"
    # Every per-admit generation-pinned layer, each keyed by its query
    # key (the compaction clustering discipline — inverted file by
    # cell, occupancy by (table, bucket), codes by their scan key). No
    # layer here has tombstone-masked rows, so every vacuum is
    # consolidation-only.
    _LAYERS = (
        Layer("lsh_signatures", ("bucket", "vec_id"), ("table_id",)),
        Layer("ivf_assignment", ("cell", "vec_id")),
        Layer("bucket_sizes", ("table_id", "bucket")),
        Layer(
            "pq_codes",
            ("vec_id",),
            on=lambda w: w.pq_layer and not w.pq_residual,
        ),
        Layer(
            "ivfpq_codes",
            ("cell", "vec_id"),
            on=lambda w: w.pq_layer and w.pq_residual,
        ),
        Layer("cell_hist", ("b",), on=lambda w: w.drift_monitor),
    )

    @property
    def store_dir(self) -> str:
        return self._data_dir

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        index_dir: str,
        tau: float | None = None,
        auto_reconcile: bool = False,
        train_codebook: bool = False,
        train_k: int | None = None,
        train_iters: int = 4,
        pq_layer: bool = False,
        pq_m: int | None = None,
        pq_ks: int | None = None,
        pq_iters: int = 2,
        pq_residual: bool = False,
        pq_opq: bool = False,
        drift_monitor: bool = False,
        drift_warn: tuple[int, int] | None = None,
        drift_refuse: bool = False,
        drift_reconcile: bool = False,
    ) -> None:
        """``auto_reconcile``: rebuild the index (fresh codebook) at the
        end of any :meth:`admit` that leaves codebook staleness past
        `similarity.ANN_DRIFT_FACTOR` (the check reads the meta sidecar
        — zero Spark jobs). Off by default: a rebuild re-signs the
        whole store, so an operator with maintenance windows keeps it
        off and calls :meth:`reconcile` on the drift warning instead —
        the same split as `CorpusWriter`'s ``auto_compact``.

        ``train_codebook``: train the IVF coarse codebook with
        fixed-point k-means‖ (`clustering.kmeans_embeddings(init=
        "kmeans_par")`, ``train_k`` cells × ``train_iters`` Lloyd
        rounds) at every index BUILD — bootstrap and reconcile — in
        place of the default label-mean centroids. Training cost sits
        on the build path only; admits keep assigning against the
        FROZEN stored codebook either way (the train-once contract),
        so the hot loop is unchanged. ``train_k=None`` (the default)
        sizes the codebook corpus-proportionally at EVERY build —
        `clustering.proportional_train_k` (⌈√n⌉, the FAISS coarse-
        quantizer rule) with n from store parquet footers, zero jobs —
        so a reconcile over a grown store trains MORE cells and the
        cell-proportional nprobe default widens with it; an explicit
        ``train_k`` pins the geometry.

        ``pq_layer``: maintain a stored product-quantization layer
        (`quantization.write_pq_layer` layout) under the index —
        trained at every index BUILD (bootstrap + reconcile — the
        same train-once cadence as the IVF codebook), extended with
        every admitted batch's codes against the FROZEN stored books,
        queried via :meth:`pq_topk`. A missing or interrupted layer
        self-heals at the next admit by rebuilding from the store (the
        BM25-layer discipline — the layer is derived, the store is the
        source of truth). Off by default: the layer costs one
        batch-bounded encode+append per admit. ``pq_m`` / ``pq_ks``
        default to the module's fixture-scale geometry.

        ``pq_opq``: train the (non-residual) PQ layer through
        `quantization.opq_train` at every build — the stored ``pq_perm``
        sidecar then rides every extend/query transparently (the admit
        loop is unchanged: encoding applies the frozen perm inside
        `extend_pq_layer`). Mutually exclusive with ``pq_residual``.

        ``drift_monitor``: the text writer's guardrail, vector-side —
        maintain a stored IVF-cell occupancy layer
        (``{index_dir}/cell_hist``, per-admit (b, c) segments over the
        frozen codebook's dense cell domain; sum-of-segments ≡ a
        recount of the inverted file, pinned) and report each batch's
        exact fixed-point KL/TV drift of its cell histogram vs the
        pre-admit corpus in the admit stats
        (``drift_kl_fix``/``drift_tv_fix``). An embedding-distribution
        shift shows up as coarse-quantizer occupancy shift — the same
        signal FAISS operators watch for codebook staleness, here as
        two exact scalars per admit. Off by default: +2 jobs per admit.

        ``pq_residual``: store the RESIDUAL layer instead (FAISS
        `IndexIVFPQ`'s actual encoding — books trained on x − c(cell),
        `quantization.write_ivfpq_layer` layout, queried via
        :meth:`pq_topk` with ``nprobe``): same cadence, same self-heal,
        strictly better reconstruction at the same code budget. The
        cells come from the stored inverted file, which is why the
        layer extends only AFTER `extend_ann_index` in the admit."""
        from .queries.dedup import COSINE_TAU
        from .queries.quantization import PQ_KS, PQ_M

        self.tau = COSINE_TAU if tau is None else tau
        self.auto_reconcile = auto_reconcile
        self.train_codebook = train_codebook
        self.train_k = train_k
        self.train_iters = train_iters
        self.pq_layer = pq_layer
        self.pq_m = PQ_M if pq_m is None else pq_m
        self.pq_ks = PQ_KS if pq_ks is None else pq_ks
        self.pq_iters = pq_iters
        self.pq_residual = pq_residual
        if pq_opq and pq_residual:
            raise ValueError(
                "pq_opq does not compose with pq_residual: a "
                "pre-rotation changes the coarse cell geometry the "
                "stored inverted file anchors (document of record: "
                "quantization.write_pq_layer docstring)"
            )
        self.pq_opq = pq_opq
        super().__init__(
            spark, store_dir, index_dir, drift_monitor, drift_warn,
            drift_refuse, drift_reconcile,
        )
        self.drift_reconcile = drift_reconcile
        # Frozen-books cache, keyed like the IVF codebook cache below.
        self._pq_books = None
        self._pq_key: tuple | None = None
        # The stored codebook is FROZEN between rebuilds: read it
        # (driver-side pyarrow, zero jobs) once per writer lifetime
        # instead of per admit. Keyed on the build identity (meta n,
        # b): reconcile()
        # clears it, and a rebuild by ANY writer changes (n, b) when
        # the store grew — when they are unchanged the deterministic
        # codebook (decimal-exact k-means over the same store) makes a
        # cached copy still exact.
        self._crows: list | None = None
        self._crows_key: tuple | None = None

    def _build_codebook(self):
        """The codebook for an index BUILD: a freshly trained k-means‖
        result when ``train_codebook`` is on (the trainer runs over the
        just-written store — build path only, never the admit loop),
        else None (label-mean default)."""
        if not self.train_codebook:
            return None
        from . import incremental
        from .queries import release_persists
        from .queries.clustering import (
            kmeans_embeddings,
            proportional_train_k,
        )

        k = self.train_k
        if k is None:
            # Corpus-proportional cells (⌈√n⌉): n from store footers —
            # driver-side metadata, zero Spark jobs, and re-resolved at
            # EVERY build so reconcile grows the geometry with the store.
            k = proportional_train_k(incremental._dir_rows(self.store_dir))
        try:
            return kmeans_embeddings(
                self.spark,
                self.store(),
                k=k,
                iters=self.train_iters,
                init="kmeans_par",
            )
        finally:
            # The trainer's managed persist of its scan frame is only
            # needed across its own iteration jobs; releasing here is
            # always SAFE (a released persist recomputes, unlike a
            # checkpoint) — the centroids travel driver-side and the
            # assignment frame is unused by the index build.
            release_persists()

    def _bootstrapped(self) -> bool:
        """Usable index state: meta parses AND no in-place rebuild died
        midway (`similarity.ann_rebuild_interrupted` — a half-rebuilt
        signature store can mix bit geometries, silently matching
        nothing). Either failure + an existing store routes the next
        :meth:`admit` through reconcile(), which re-runs the rebuild
        end-to-end and clears the marker — the self-heal path."""
        from .queries.similarity import ann_rebuild_interrupted

        return _readable_meta(self.index_dir) and not ann_rebuild_interrupted(
            self.index_dir
        )

    def store(self, as_of: int | None = None) -> DataFrame:
        """The admitted vectors so far (vec_id, label, embedding).
        ``as_of``: a 1-based admission-snapshot generation (the
        ``snapshot`` stats field) — read exactly the files the first
        ``as_of`` recorded admissions committed
        (`incremental.snapshot_files`, zero jobs)."""
        return self._data(as_of)

    def compact_store(self) -> dict:
        """`CorpusWriter.compact_corpus`'s twin for the vector store:
        per-generation vec_id-sorted rewrite + manifest rewrite —
        ``store(as_of=g)`` bit-equal before/after for every g; staged
        swap, healed at every read; under the writer lease."""
        return self._compact_data()

    def export_store(self, as_of: int, dest_dir: str) -> dict:
        """Publish the vector store as of generation ``as_of`` as a
        standalone dir (`incremental.export_snapshot`), under the
        writer lease — `CorpusWriter.export_corpus`'s twin."""
        return self._export(as_of, dest_dir)

    def _in_batch_rejects(
        self, batch_emb: DataFrame, sig: DataFrame, cap: int, b: int
    ) -> DataFrame:
        """vec_ids the batch itself rejects: any vector whose best
        SMALLER-id in-batch candidate scores cosine ≥ τ (the greedy
        policy of ``dedup_embedding_cosine``, reusing the registered
        query's candidate machinery). Orienting pairs query=larger lets
        the shared top-k scorer answer "has any smaller near-dup" from
        the rnk==1 row alone — no all-pairs materialization."""
        from .queries.similarity import (
            _lsh_candidate_pairs,
            _score_pairs_topk,
        )

        cand = (
            _lsh_candidate_pairs(sig, b, cap)
            .filter(F.col("query_id") > F.col("neighbor_id"))
        )
        # pre_dedup=False: both pair sides are the batch, so the
        # duplicate-gather volume is batch-bounded and the dropDuplicates
        # exchange's stage wave is the dominant cost (see the scorer).
        scored = _score_pairs_topk(
            cand, batch_emb, self.spark.sparkContext.defaultParallelism,
            None, 0, query_emb=batch_emb, pre_dedup=False,
        )
        return (
            scored.filter(
                (F.col("rnk") == 1)
                & (F.col("cosine") >= self.tau)
                & ~F.isnan("cosine")
            )
            .select(F.col("query_id").alias("vec_id"))
        )

    def admit(self, batch_emb: DataFrame) -> dict[str, int]:
        """Public entry: :meth:`_admit_locked` under the index's
        single-writer lease — `CorpusWriter.admit`'s contract: a
        second concurrent writer raises `incremental.LeaseHeld`; a
        crashed holder is taken over after `incremental.LEASE_TTL_S`."""
        return self._leased(self._admit_locked, batch_emb)

    def _admit_locked(self, batch_emb: DataFrame) -> dict[str, int]:
        """Run one (vec_id, label, embedding) batch through in-batch
        near-dup pruning + vs-store classification; append the novel
        vectors to the store and their index rows to the ANN index.
        Returns stage counts (plus ``snapshot``, this admission's
        as-of generation): ``n_input`` / ``rejected_in_batch`` /
        ``rejected_near`` / ``n_admitted``."""
        from . import incremental
        from .queries import release_local_checkpoint
        from .queries.similarity import (
            _bits_for,
            _read_ann_meta,
            extend_ann_index,
            lsh_signatures,
        )

        # locked=True: admit entry under the lease (see CorpusWriter).
        incremental.recover_data_dir(self.store_dir, locked=True)
        if not self._bootstrapped() and _parquet_dir_committed(
            self.store_dir
        ):
            self._reconcile_locked()
        par = self.spark.sparkContext.defaultParallelism
        if not self._bootstrapped():
            # Bootstrap: in-batch dedup with batch-derived geometry,
            # then store write + index build (write_ann_index signs the
            # written store itself — its geometry is derived from the
            # store size, not the pre-dedup batch). Not the hot loop:
            # the id guard runs sequentially here.
            incremental._check_vec_ids(batch_emb)
            stats = {"n_input": batch_emb.count()}
            n = stats["n_input"]
            b = _bits_for(n)
            cap = 32 + 8 * n // (1 << b)
            sig = lsh_signatures(
                batch_emb.select("vec_id", "embedding"), b, par
            ).localCheckpoint(eager=True)
            try:
                rejects = self._in_batch_rejects(
                    batch_emb, sig, cap, b
                ).localCheckpoint(eager=True)
            finally:
                release_local_checkpoint(sig)
            try:
                stats["rejected_in_batch"] = rejects.count()
                stats["rejected_near"] = 0
                survivors = batch_emb.join(rejects, "vec_id", "left_anti")
                survivors.write.mode("overwrite").parquet(self.store_dir)
            finally:
                release_local_checkpoint(rejects)
            stats["n_admitted"] = stats["n_input"] - stats["rejected_in_batch"]
            # Generation 1 (the overwrite cleared any prior manifest).
            stats["snapshot"] = incremental.record_snapshot(
                self.store_dir, n=stats["n_admitted"]
            )
            # Every layer from the just-written store — the reconcile
            # body (no drift stats: there is no pre-admit reference).
            self._reconcile_locked()
            return stats

        meta = _read_ann_meta(self.index_dir)
        stats: dict[str, int] = {}
        # Sign ONCE with the STORED geometry; every consumer filters
        # this frame (signatures are a pure per-vector function, so
        # id-filtered reuse is exact). The id guard is an independent
        # pre-state-change action on the same batch — it rides the
        # scoring block below (both scoring arms and the guard must
        # finish, and fail loudly, before any write starts — the first
        # write is the store append, two blocks later).
        sig = lsh_signatures(
            batch_emb.select("vec_id", "embedding"), meta["b"], par
        ).localCheckpoint(eager=True)
        verdicts = None
        rejects = None
        novel = None
        try:
            # NOTE: `novel_ids`' lineage includes the checkpointed
            # `rejects` (anti-join) — it stays pinned until every
            # downstream consumer (counts, store append, index extend)
            # has run; released checkpoints are unrecoverable.
            # The batch's TWO scoring passes — the in-batch self-join
            # and the vs-store probe — are per-vector independent (a
            # vector's verdict against the STORE does not depend on
            # other batch vectors), so they overlap: the vs-store check
            # runs on the FULL batch concurrently with the in-batch
            # reject materialization, and its verdicts are filtered to
            # the survivors afterwards (slim anti-join on the two
            # checkpoints — identical results to scoring survivors
            # only, since in-batch rejects take precedence either way).
            rejects = self._in_batch_rejects(
                batch_emb, sig, meta["cap"], meta["b"]
            )

            def _ckpt_rejects():
                nonlocal rejects
                rejects = rejects.localCheckpoint(eager=True)

            def _build_verdicts():
                nonlocal verdicts
                verdicts = incremental.embedding_dedup_against_index(
                    self.spark,
                    batch_emb,
                    self.index_dir,
                    tau=self.tau,
                    corpus_emb=self.store(),
                    batch_sig=sig,
                    ids_validated=True,
                ).localCheckpoint(eager=True)

            incremental._concurrently(
                _ckpt_rejects,
                _build_verdicts,
                lambda: incremental._check_vec_ids(batch_emb),
            )
            surv_verdicts = verdicts.join(rejects, "vec_id", "left_anti")
            # `novel` is NOT checkpointed (A/B'd: the materialization
            # job cost 0.6 s of the admit; identical stats without it):
            # its DECISION input — which ids are admitted — is
            # `novel_ids`, whose lineage is the two checkpoints ONLY
            # (slim anti-join + filter, no batch scan; deterministic by
            # construction), so every index-side consumer re-derives it
            # per action for the cost of a broadcast-sized join. Only
            # the payload re-derives from ``batch_emb`` — one scan +
            # one id join per consumer, the same deterministic-input
            # assumption every multi-consumer batch lineage in the
            # writer family already makes. (Equivalent to filtering
            # reject-free survivors: novel verdicts are already
            # in-batch-reject-free via the anti-join.)
            novel_ids = surv_verdicts.filter(
                F.col("verdict") == "novel"
            ).select("vec_id")
            novel = batch_emb.join(novel_ids, "vec_id")

            def _tally():
                # ONE grouped action for BOTH count families (VERDICT
                # r10 #2): the reject count and the verdict counts read
                # the same two checkpoints — a tagged union collapses
                # the two jobs the previous round overlapped into one.
                # (A/B'd vs the r10 two-concurrent-actions shape on
                # interleaved minima: fused 5.05 s vs unfused 5.52 s.)
                tagged = surv_verdicts.select(
                    F.col("verdict").alias("k")
                ).unionByName(
                    rejects.select(F.lit("in_batch_reject").alias("k"))
                )
                return {
                    r["k"]: r["n"]
                    for r in tagged.groupBy("k")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }

            # Driver-side pyarrow sidecar read — a COLD writer pays a
            # file read here, not a Spark collect job per admit (the
            # values are bit-identical; parquet float64). The drift
            # histogram and the extend below both assign against it.
            self._ensure_crows(meta)
            # Drift is measured on the FULL arriving batch — a drift
            # alarm should fire on what arrived, not be masked by how
            # much of it was rejected.
            by_verdict, drift_hit = self._commit(
                stats, novel, _tally, batch_emb
            )
            stats["rejected_in_batch"] = by_verdict.get(
                "in_batch_reject", 0
            )
            stats["rejected_near"] = by_verdict.get("near_dup", 0)
            stats["n_admitted"] = by_verdict.get("novel", 0)
            # Every batch row is either an in-batch reject or a
            # classified survivor — n_input needs no count job here
            # (the bootstrap path counts because geometry needs n).
            stats["n_input"] = (
                stats["rejected_in_batch"]
                + stats["rejected_near"]
                + stats["n_admitted"]
            )
            extend_ann_index(
                self.spark,
                novel,
                self.index_dir,
                sig=sig.join(novel_ids, "vec_id", "leftsemi"),
                n_new=stats["n_admitted"],
                crows=self._crows,
            )
            if self.pq_layer:
                # After the ANN extend: a crash anywhere in the
                # index-side window leaves DERIVED layers stale w.r.t.
                # the committed store, and _extend_pq self-heals a
                # missing/interrupted layer by rebuilding from the
                # store (which already holds this batch — the append
                # above committed first).
                self._extend_pq(novel)
            if self.drift_monitor:
                # Derived-layer window, marker-bracketed: same crash
                # contract as the text writer's drift_ref.
                self._extend_hist(novel)
            # One recording walk after the last layer write (see
            # _record_layers); a drift reconcile below re-collapses
            # after its rebuild.
            self._record_layers(stats["snapshot"])
            if drift_hit and self.drift_reconcile:
                # The retrain trigger (VERDICT r11 #8 stretch): the
                # batch IS admitted (all layers extended above — the
                # data is novel, just differently distributed), then
                # the codebook retrains over the grown store so cell
                # occupancy re-balances — the reference's
                # monitor-that-acts (A13), retold for distribution
                # shift. Runs the UNLOCKED body: we hold the lease.
                self._reconcile_locked()
                stats["drift_reconciled"] = 1
            self._check_drift()
            return stats
        finally:
            release_local_checkpoint(sig)
            for ck in (rejects, verdicts):
                if ck is not None:
                    release_local_checkpoint(ck)

    def _cell_map(self) -> DataFrame:
        """(cell, b): the frozen codebook's cells mapped to the dense
        [0, n_cells) bucket domain `corpus_drift_from_hists` ranges
        over — tiny (≤ n_cells rows), broadcast by AQE."""
        cells = sorted(int(r["cell"]) for r in self._crows)
        return self.spark.createDataFrame(
            [(c, i) for i, c in enumerate(cells)], "cell long, b long"
        )

    def _cell_counts(self, assigned: DataFrame) -> DataFrame:
        """(b, c) from rk == 1 (…, cell, rk) rows: one count per dense
        cell bucket."""
        return (
            assigned.filter(F.col("rk") == 1)
            .join(self._cell_map(), "cell")
            .groupBy("b")
            .agg(F.count("*").cast("long").alias("c"))
        )

    def _hist_of(self, emb: DataFrame) -> DataFrame:
        """(b, c): the IVF-cell histogram of ``emb``'s vectors under
        the FROZEN stored codebook — the vector-side analogue of the
        text writer's hashed-unigram histogram (the embedding
        distribution collapsed to its coarse-quantizer occupancy)."""
        from .queries.similarity import _ivf_ranked_assignment

        return self._cell_counts(
            _ivf_ranked_assignment(
                self.spark, emb.select("vec_id", "embedding"), crows=self._crows
            )
        )

    def _hist_source(self) -> DataFrame:
        """The inverted file's rk == 1 rows mapped to the dense domain —
        the recount source the layer must always sum to (pinned); at
        every heal call site it is the pre-admit corpus (the extend
        runs later)."""
        return self._cell_counts(
            self.spark.read.parquet(f"{self.index_dir}/ivf_assignment")
        )

    def _hist_width(self) -> int:
        return len(self._crows)

    def drift_stats(self, emb: DataFrame, as_of: int | None = None) -> dict:
        """KL/TV of ``emb``'s IVF-cell distribution (under the FROZEN
        stored codebook) vs the stored occupancy layer — exactly the
        measurement :meth:`admit` records and thresholds. ``as_of``
        pins the reference to recorded admission generation ``as_of``
        (r14); any servable generation is within the current
        codebook's cell domain, because a reconcile retrain collapses
        the layer's history along with the domain. Returns
        {"drift_kl_fix", "drift_tv_fix"}."""
        from .queries.similarity import _read_ann_meta

        if self.drift_monitor:
            self._ensure_crows(_read_ann_meta(self.index_dir))
        return self._drift_stats(emb, as_of)

    def _ensure_crows(self, meta: dict) -> None:
        crows_key = (meta["n"], meta["b"])
        if self._crows is None or self._crows_key != crows_key:
            from .queries.similarity import read_ann_codebook

            self._crows = read_ann_codebook(self.index_dir)
            self._crows_key = crows_key

    def _pq_meta_key(self) -> tuple:
        from .queries.similarity import _read_ann_meta

        meta = _read_ann_meta(self.index_dir)
        return (meta["n"], meta["b"])

    def _rebuild_pq(self):
        """(Re)train + (re)encode the stored PQ layer from the store —
        the build path (bootstrap/reconcile) and the self-heal path.
        With ``pq_residual`` the layer is the residual (IVFPQ) one,
        trained against the just-(re)built inverted file."""
        from .queries.quantization import write_ivfpq_layer, write_pq_layer

        writer = write_ivfpq_layer if self.pq_residual else write_pq_layer
        kw = {} if self.pq_residual else {"opq": self.pq_opq}
        self._pq_books = writer(
            self.spark,
            self.index_dir,
            self.store(),
            m=self.pq_m,
            ks=self.pq_ks,
            iters=self.pq_iters,
            **kw,
        )
        self._pq_key = self._pq_meta_key()

    def _cached_pq_books(self):
        from .queries.quantization import read_ivfpq_books, read_pq_books

        key = self._pq_meta_key()
        if self._pq_books is None or self._pq_key != key:
            reader = read_ivfpq_books if self.pq_residual else read_pq_books
            self._pq_books = reader(self.index_dir)
            self._pq_key = key
        return self._pq_books

    def _extend_pq(self, novel: DataFrame) -> None:
        """Append the admitted batch's codes against the FROZEN stored
        books; a missing or interrupted layer rebuilds from the store
        instead (late enablement on pre-existing state, or a crash
        inside a previous admit's index-side window — the store is the
        source of truth, the layer is derived). The rebuild path
        already covers this batch: the store append committed before
        any index-side write."""
        from .queries import quantization as qz

        if self.pq_residual:
            exists, interrupted, extend = (
                qz.ivfpq_layer_exists,
                qz.ivfpq_layer_interrupted,
                qz.extend_ivfpq_layer,
            )
        else:
            exists, interrupted, extend = (
                qz.pq_layer_exists,
                qz.pq_layer_interrupted,
                qz.extend_pq_layer,
            )
        if not exists(self.index_dir) or interrupted(self.index_dir):
            self._rebuild_pq()
            return
        extend(
            self.spark, self.index_dir, novel, books=self._cached_pq_books()
        )

    def pq_topk(
        self,
        query: list[float],
        topk: int = 5,
        shortlist: int | None = None,
        nprobe: int | None = None,
        as_of: int | None = None,
    ) -> DataFrame:
        """ADC-shortlisted exact top-k over the admitted store from the
        stored PQ layer (requires ``pq_layer=True``) — codes from the
        slim parquet scan, books from the writer's frozen cache,
        shortlist payloads gathered from the store. With
        ``pq_residual`` this is the full residual IVFADC read path and
        ``nprobe`` bounds the probed cells (ignored otherwise — the
        raw-vector layer scans all codes by design). Omitted knobs
        scale with the stored corpus (the RECALL.md rule, VERDICT
        r11 #2): as admits grow the store, recall holds instead of
        decaying. ``as_of=g`` serves codes, inverted file, AND the
        re-rank store exactly as they stood after recorded admission g
        (generation-pinned layers; collapsed generations fail
        loudly)."""
        from .queries.quantization import (
            ivfpq_topk_from_index,
            pq_topk_from_index,
        )

        if not self.pq_layer:
            raise ValueError(
                "this EmbeddingWriter was constructed without "
                "pq_layer=True"
            )
        if self.pq_residual:
            return ivfpq_topk_from_index(
                self.spark,
                self.index_dir,
                self.store(as_of=as_of),
                query,
                topk=topk,
                shortlist=shortlist,
                nprobe=nprobe,
                books=self._cached_pq_books(),
                as_of=as_of,
            )
        return pq_topk_from_index(
            self.spark,
            self.index_dir,
            self.store(as_of=as_of),
            query,
            topk=topk,
            shortlist=shortlist,
            books=self._cached_pq_books(),
            as_of=as_of,
        )

    def _check_drift(self) -> None:
        """Post-extend codebook-staleness hook: reconcile in-loop when
        configured, warn otherwise. Meta-sidecar read — zero jobs."""
        from .queries.similarity import ANN_DRIFT_FACTOR, ann_index_drift

        drift = ann_index_drift(self.index_dir)
        if drift <= ANN_DRIFT_FACTOR:
            return
        if self.auto_reconcile:
            self._reconcile_locked()
            return
        import warnings

        warnings.warn(
            f"ANN index at {self.index_dir} has {drift:.2f}x the "
            "build-time corpus appended since its codebook was trained "
            f"(> {ANN_DRIFT_FACTOR}x): IVF probe recall degrades as the "
            "store drifts from the frozen centroids — run reconcile() "
            "(full rebuild, fresh codebook) or construct the writer "
            "with auto_reconcile=True.",
            stacklevel=3,
        )

    def _rebuild_layers(self) -> dict:
        """Rebuild the ANN index (and every enabled derived layer) from
        the store as currently written — the :meth:`reconcile` body,
        which the bootstrap runs too. Reconcile is the recovery path
        for a crash inside :meth:`admit`'s append-then-extend window
        (and for a crash during bootstrap, detected and invoked
        automatically by :meth:`admit`), and the codebook-refresh path
        once accumulated extensions have drifted the corpus far from
        the frozen centroids (`similarity.ann_index_drift` past
        `ANN_DRIFT_FACTOR`; see ``auto_reconcile``). Codebook/books
        sidecars are whole-rewrite artifacts — constant within a
        servable generation range, since any retrain comes through
        here and collapses history — so they carry no manifests."""
        from . import incremental
        from .queries.similarity import write_ann_index

        # The rebuild trains FRESH codebooks — drop the cached ones.
        self._crows = None
        self._crows_key = None
        self._pq_books = None
        self._pq_key = None
        # Store size from parquet footers — zero Spark jobs.
        meta = write_ann_index(
            self.spark,
            self.store_dir,
            self.index_dir,
            emb=self.store(),
            n=incremental._dir_rows(self.store_dir),
            codebook=self._build_codebook(),
        )
        if self.pq_layer:
            self._rebuild_pq()
        if self.drift_monitor:
            # A rebuild retrains the codebook — the cell DOMAIN itself
            # changes, so the layer rebuilds wholesale from the fresh
            # inverted file (also the staleness-heal / late-enablement
            # path). History collapses WITH the domain: any servable
            # as_of is always within one codebook's cell domain.
            self._ensure_crows(meta)
            self._rebuild_hist()
        return meta

    def _compact_locked(self) -> dict:
        """Collapse the ANN index's per-admit append segments
        (`similarity.compact_ann_index`: signatures/inverted file
        rewritten key-clustered, bucket occupancy summed to one segment)
        and, with ``pq_layer``, the PQ code appends
        (`quantization.compact_pq_codes`). Content-equivalent layout
        maintenance — codebooks, books, and drift accounting are
        untouched (codebook refresh is :meth:`reconcile`'s job); run it
        on the file-count cadence of the ingestion loop, the
        `CorpusWriter.compact` analogue."""
        from .queries.similarity import compact_ann_index

        meta = compact_ann_index(
            self.spark, self.index_dir, fence=self._fence()
        )
        if self.pq_layer:
            from .queries import quantization as qz

            if self.pq_residual and qz.ivfpq_layer_exists(self.index_dir):
                qz.compact_ivfpq_codes(
                    self.spark, self.index_dir, fence=self._fence()
                )
            elif not self.pq_residual and qz.pq_layer_exists(self.index_dir):
                qz.compact_pq_codes(
                    self.spark, self.index_dir, fence=self._fence()
                )
        self._compact_hist()
        return meta


def pack_sequences(
    doc: DataFrame,
    ctx_len: int,
    n_shards: int | None = None,
    seed: int = 0,
    straddle: bool = False,
    id_cols: tuple[str, ...] = ("doc_id",),
    split_oversized: bool = False,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Assign curated documents to fixed-size training sequences
    ("sequence packing" — the step between a curated corpus and a
    training loader). Returns one row per input document:
    (*id_cols, tokens, shard, pack) with ``pack`` dense per shard.

    ``id_cols`` names the identity of a row — the shard/order hashes
    key on it, and it must be unique per row. After `apply_mixture`
    (which emits one row per document EPOCH) pass
    ``id_cols=("doc_id", "epoch")`` so a document's epochs hash to
    independent shards/positions instead of stacking adjacently.

    Packing is inherently sequential, so a 100 TB corpus packs
    SHARD-PARALLEL: documents are first sharded by a pure function of
    doc_id (``pmod(xxhash64(doc_id), n_shards)`` — the `write_shards`
    rule: membership is reproducible on 8 cores or 1000 executors),
    ordered within each shard by a seeded hash (deterministic
    pseudo-random training order), and packed per shard with an exact
    sequential pass inside ONE `applyInPandas` task per shard. Global
    order across shards is not meaningful for training and not promised.

    ``straddle=False`` (default): exact NEXT-FIT — a document that
    does not fit in the open pack closes it and starts the next; a
    document longer than ``ctx_len`` gets a pack of its own (callers
    gate oversized docs upstream via `CurationConfig.max_words`, or
    pass ``split_oversized=True``). Pack token sums never exceed
    ``ctx_len`` except those singletons.

    ``split_oversized=True``: a document longer than ``ctx_len`` is cut
    into ctx_len-token pieces (last piece = remainder) BEFORE the shard
    hash — what a training loader actually does with an over-long
    document. Pure built-ins (one `explode` of a `sequence`, no Python),
    and the output identity gains a ``chunk`` column (0-based piece
    index, 0 for every unsplit document) that joins the shard/order
    hash key, so a document's pieces scatter across shards like
    independent rows. With this flag no pack ever exceeds ``ctx_len``
    in next-fit mode, and per-document token totals are conserved
    across the split (property-pinned).

    ``straddle=True``: GPT-style concat-and-chunk — the shard's token
    stream is cut every ``ctx_len`` tokens and a document belongs to the
    pack its FIRST token lands in; expressible as a pure running-sum
    (`floor(cumsum_before / ctx_len)`), kept in the same per-shard pass
    so both modes share one partitioning and one code path.

    ``n_shards`` defaults to the session's default parallelism. The
    shard count changes pack assignment (it changes the shard hash
    domain), so pin it when reproducing a run — same contract as
    `CuratedCorpus.write_shards`.

    ``tokens_col``: SQL expression (usually a column name) for the
    integer token count — swap in a real BPE count column without
    forking the kernel; every packing property holds under any counter
    (pinned in tests/test_properties.py).
    """
    if ctx_len < 1:
        raise ValueError("ctx_len must be >= 1")
    ids = list(id_cols)
    missing = [c for c in ids if c not in doc.columns]
    if not ids or missing:
        raise ValueError(f"id_cols must name input columns; missing {missing}")
    spark = doc.sparkSession
    if n_shards is None:
        n_shards = spark.sparkContext.defaultParallelism
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    # ``tokens_col`` names ANY integer token-count column/expr (a real
    # BPE count in production; the whitespace/BPE-ish columns here) —
    # the packing kernel is counter-agnostic, it only sums.
    base = doc.select(*ids, F.expr(tokens_col).cast("long").alias("tokens"))
    if split_oversized:
        # hi = ceil(tokens/ctx_len) - 1, floored at 0 so zero-token
        # rows keep one (empty) piece and the sequence stays ascending
        # (sequence(1, 0) would yield a DESCENDING [1, 0]); a NULL
        # tokens value yields hi = 0 via greatest's null handling and a
        # NULL piece size, preserving the loud NaN guard in the kernel.
        hi = F.greatest(
            F.ceil(F.col("tokens") / F.lit(ctx_len)).cast("int") - 1,
            F.lit(0),
        )
        base = base.withColumn(
            "chunk", F.explode(F.sequence(F.lit(0), hi))
        ).withColumn(
            "tokens",
            F.least(
                F.lit(ctx_len).cast("long"),
                F.col("tokens") - F.col("chunk").cast("long") * ctx_len,
            ),
        )
        ids = ids + ["chunk"]
    sharded = base.select(
        *ids,
        "tokens",
        _shard_expr(n_shards, tuple(ids)).alias("shard"),
        _order_expr(seed, tuple(ids)).alias("_ord"),
    )

    def pack(pdf):
        import numpy as np

        pdf = pdf.sort_values(["_ord", *ids], kind="mergesort")
        if pdf["tokens"].isna().any():
            raise ValueError(
                "pack_sequences: NULL tokens in shard "
                f"{int(pdf['shard'].iloc[0])} — a NaN would silently "
                "corrupt the running pack sums; fix token accounting "
                "upstream"
            )
        toks = pdf["tokens"].to_numpy()
        if straddle:
            before = np.concatenate(([0], np.cumsum(toks)[:-1]))
            packs = before // ctx_len
        else:
            packs = np.empty(len(toks), dtype=np.int64)
            pack_id, used = 0, 0
            for i, t in enumerate(toks):
                if used > 0 and used + t > ctx_len:
                    pack_id += 1
                    used = 0
                packs[i] = pack_id
                used += t
        out = pdf[[*ids, "tokens", "shard"]].copy()
        out["pack"] = packs
        return out

    id_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in sharded.schema.fields
        if f.name in ids
    )
    return sharded.groupBy("shard").applyInPandas(
        pack, f"{id_schema}, tokens long, shard int, pack long"
    )


def mixture_rates(
    doc: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    tokens_col: str = "tokens",
) -> dict[str, float]:
    """Per-source sampling rates that realize a target token MIXTURE:
    source s gets ``token_budget * w_s / Σw`` tokens, so its rate is
    target / available. Rates above 1.0 mean multi-epoch upsampling
    (the standard data-recipe device for small high-quality sources);
    `apply_mixture` handles both directions. One aggregate job; the
    collect is one row per source (bounded by the recipe, not the
    corpus). Unknown sources in ``weights`` fail loudly — a silent
    zero-token source would skew every other proportion. ``tokens_col``:
    SQL expression for the integer token count (the `pack_sequences`
    hook — a BPE count column drops in without forking the recipe)."""
    if token_budget < 1:
        raise ValueError("token_budget must be >= 1")
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-empty and non-negative")
    wsum = sum(weights.values())
    if wsum == 0:
        raise ValueError("weights sum to zero — no mixture is defined")
    totals = {
        r["source"]: r["t"]
        for r in doc.groupBy("source")
        .agg(F.sum(F.expr(tokens_col)).alias("t"))
        .collect()
    }
    missing = sorted(set(weights) - set(totals))
    if missing:
        raise ValueError(f"sources not in the corpus: {missing}")
    empty = sorted(s for s in weights if not totals[s])
    if empty:
        # NULL-only or zero-token sources: no rate can realize a
        # positive target from them.
        raise ValueError(f"sources with no tokens to sample: {empty}")
    return {
        s: (token_budget * w / wsum) / totals[s] for s, w in weights.items()
    }


def apply_mixture(
    doc: DataFrame, rates: dict[str, float], seed: int = 0
) -> DataFrame:
    """Deterministic per-source sampling at the given rates; sources
    absent from ``rates`` are dropped (an explicit recipe, not a
    passthrough). Returns the input rows plus an ``epoch`` column
    (1-based copy index).

    rate < 1 downsamples by the `text_sample_stratified` hash rule, so
    the sample is identical on any engine, partitioning, or day. Note
    the predicate compares against the JOINED rate column, so it
    filters after the (broadcast) join, not at the parquet scan — a
    caller downsampling one source heavily enough that scan pruning
    matters should pre-filter that source with a literal-rate
    predicate (the `text_sample_stratified` form) before mixing.
    rate ≥ 1 emits
    floor(rate) full epochs per document plus a Bernoulli(frac) extra
    copy decided by the same hash — so realized token counts are within
    one Bernoulli draw per document of the target, deterministically.
    The rates relation is one row per source (fixed-size by the recipe)
    — broadcast by construction; copies come from one `explode` of a
    `sequence`, no Python in the row path."""
    spark = doc.sparkSession
    rate_rows = [(s, float(r)) for s, r in sorted(rates.items())]
    if not rate_rows:
        raise ValueError("rates must be non-empty")
    if any(r < 0 for _, r in rate_rows):
        raise ValueError("rates must be non-negative")
    rate_df = spark.createDataFrame(rate_rows, "source string, _rate double")
    # md5-derived `dedup._h60` convention (NOT xxhash64): expressible in
    # ANSI SQL / DuckDB, so the draw really is identical on any engine —
    # the same rule text_sample_stratified and dsir_select use.
    from .queries.dedup import _h60

    u = (
        F.pmod(
            _h60(F.concat(F.col("doc_id").cast("string"), F.lit(f":mix:{seed}"))),
            F.lit(1_000_000),
        )
        / F.lit(1_000_000.0)
    )
    whole = F.floor("_rate").cast("int")
    frac = F.col("_rate") - F.floor("_rate")
    copies = (whole + (u < frac).cast("int")).alias("_copies")
    # sequence(1, 0) would yield a DESCENDING [1, 0] — guard zero-copy
    # rows with an empty array; plain explode drops them.
    epochs = F.when(
        F.col("_copies") >= 1, F.sequence(F.lit(1), F.col("_copies"))
    ).otherwise(F.array().cast("array<int>"))
    return (
        doc.join(F.broadcast(rate_df), "source")
        .withColumn("_copies", copies)
        .withColumn("epoch", F.explode(epochs))
        .drop("_rate", "_copies")
    )


def build_mixture(
    doc: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    seed: int = 0,
    tokens_col: str = "tokens",
) -> DataFrame:
    """`mixture_rates` + `apply_mixture`: sample ``doc`` so each source
    contributes tokens in proportion to ``weights``, totaling
    approximately ``token_budget`` (exact up to one Bernoulli draw per
    document). The training-data "recipe" step that follows curation
    and precedes `pack_sequences`."""
    return apply_mixture(
        doc, mixture_rates(doc, weights, token_budget, tokens_col), seed
    )


def cluster_balanced_mixture(
    spark,
    doc: DataFrame,
    emb: DataFrame,
    token_budget: int,
    k: int = 8,
    iters: int = 4,
    cluster_weights: dict[int, float] | None = None,
    seed: int = 0,
) -> DataFrame:
    """Mixture over LEARNED domains: train a fixed-point codebook over
    ``emb`` (`clustering.kmeans_embeddings`), label each document by
    its embedding's nearest final centroid (vec_id == doc_id), and run
    the standard token mixture with clusters as sources — the
    cluster-balanced sampling device (DoReMi-adjacent: reweight
    machine-discovered domains instead of trusting crawl provenance;
    Xie et al. 2023b trains the weights, this takes them as input).

    ``doc`` needs (doc_id, tokens); its ``source`` column, if any, is
    REPLACED by the cluster domain (alias provenance out beforehand).
    Documents without an embedding row are dropped by the inner join —
    at scale the assignment is a stored column and the join is the
    corpus' own 1:1 key. ``cluster_weights`` maps surviving cluster id
    → weight (default balanced); weights naming non-surviving clusters
    fail loudly rather than silently skewing the realized proportions.
    Output rows carry ``cluster`` and ``epoch``. The codebook source
    frame is managed-persisted — callers release via
    `queries.release_persists()` once the result is consumed.

    Everything downstream of the (deterministic) codebook is the
    engine-portable mixture rule, so the whole composition is a pure
    function of the corpus (pinned in tests/test_clustering.py)."""
    from .queries.clustering import kmeans_embeddings

    res = kmeans_embeddings(spark, emb, k=k, iters=iters)
    unknown = sorted(set(cluster_weights or {}) - set(res.clusters))
    if unknown:
        raise ValueError(
            f"cluster_weights name non-surviving clusters: {unknown}"
        )
    labeled = doc.drop("source").join(
        res.assignment.withColumnRenamed("vec_id", "doc_id"), "doc_id"
    )
    # A cluster can survive k-means yet label zero documents when its
    # embeddings' vec_ids have no doc row — validate against the joined
    # frame (bounded: <= k distinct values) so the failure names the
    # key mismatch instead of mixture_rates' opaque "sources not in the
    # corpus" error, and so default weights cover only real domains.
    present = sorted(
        r["cluster"] for r in labeled.select("cluster").distinct().collect()
    )
    if cluster_weights is None:
        cluster_weights = {c: 1.0 for c in present}
    else:
        orphaned = sorted(set(cluster_weights) - set(present))
        if orphaned:
            raise ValueError(
                "cluster_weights name clusters whose embeddings matched no"
                f" document row (vec_id/doc_id mismatch): {orphaned}"
            )
    domains = labeled.withColumn(
        "source", F.concat(F.lit("cluster_"), F.col("cluster").cast("string"))
    )
    weights = {f"cluster_{c}": w for c, w in cluster_weights.items()}
    return build_mixture(domains, weights, token_budget, seed)


def leakage_safe_split(
    doc: DataFrame,
    val_permille: int = 100,
    seed: int = 0,
    tau: float = 0.6,
    edges: DataFrame | None = None,
) -> DataFrame:
    """Deterministic train/validation split with NO near-duplicate
    leakage: documents are clustered by near-dup connectivity first and
    the split is assigned per CLUSTER, so a document can never sit in
    the training set while its near-duplicate sits in validation — the
    eval-contamination bug a doc-level random split ships silently
    (the Lee et al. 2022 finding: duplicated text straddling the split
    inflates eval numbers).

    Returns one row per input document: (doc_id, cluster, split) with
    ``cluster`` = the min doc_id of its near-dup component (documents
    with no near-dup are their own cluster) and ``split`` ∈
    {'train', 'val'}; ``val_permille`` of cluster hash-space lands in
    'val'. The assignment is a pure function of (cluster, seed) — the
    exact integer predicate (h60(cluster:split:seed) mod 2²⁰)·1000 <
    val_permille·2²⁰, the `write_shards` rule: reproducible on 8 cores
    or 1000 executors, and documents added to an existing cluster later
    inherit its side (a graph edge can MERGE two clusters across
    re-runs, which re-keys the min label — re-split per corpus
    snapshot, as with any clustering-derived artifact).

    ``edges``: optional precomputed near-dup edges (doc_a, doc_b) — the
    MinHash-LSH verified pairs at scale; defaults to the exact blocked
    `dedup.ngram_jaccard_edges` at ``tau`` (the SQL-expressible form
    the oracle mirrors).

    100 TB posture: the edge generator is the blocked equi-join (never
    all-pairs), CC is the O(log n) star-round kernel with the bounded
    driver fast path, and the split predicate is map-side — the only
    corpus-wide work beyond the dedup pass a pipeline already runs."""
    from .queries.dedup import _h60, ngram_jaccard_edges
    from .queries.graph import connected_components

    if not 0 <= val_permille <= 1000:
        raise ValueError("val_permille must be in [0, 1000]")
    internal_edges = edges is None
    if internal_edges:
        edges = ngram_jaccard_edges(
            doc.select("doc_id", "lang", "text"), tau=tau
        )
    # Internally generated edges are distinct doc_a < doc_b rows by
    # construction; caller-supplied edges keep the defensive distinct.
    comp = connected_components(
        edges, src="doc_a", dst="doc_b", edges_distinct=internal_edges
    )
    mod = 1 << 20
    return (
        doc.select("doc_id")
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").cast("long").alias("cluster"),
        )
        .withColumn(
            "split",
            F.when(
                (
                    F.pmod(
                        _h60(
                            F.concat(
                                F.col("cluster").cast("string"),
                                F.lit(f":split:{seed}"),
                            )
                        ),
                        F.lit(mod),
                    )
                    * 1000
                )
                < F.lit(val_permille * mod),
                F.lit("val"),
            ).otherwise(F.lit("train")),
        )
    )
