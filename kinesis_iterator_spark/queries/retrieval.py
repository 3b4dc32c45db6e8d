"""BM25 ranked retrieval over the ``documents`` table — the scoring
function a training-data pipeline reaches for when mining a corpus for
query-relevant documents (targeted data selection, eval-set curation,
RAG context building). Robertson/Sparck Jones BM25 (Robertson et al.,
TREC-3) under the repo's fixed-point discipline (`text.dsir_weights`):

- k1 and b are EXACT RATIONALS (defaults 6/5 and 3/4 — the standard
  1.2/0.75), so the tf-normalization term clears to pure integer
  arithmetic when multiplied through by the corpus token total:
  with k1 = kn/kd, b = bn/bd, T = Σ dl, N = doc count,

      num_i = (kd + kn) · bd · T · tf
      den_i = kd · bd · T · tf + kn · (bd − bn) · T + kn · bn · dl · N

  is exactly (k1+1)·tf / (tf + k1·(1−b+b·dl/avgdl)) scaled by the
  same positive constant in numerator and denominator.
- idf = ln(N − df + 0.5) − ln(df + 0.5) is rewritten as
  ln(2N − 2df + 1) − ln(2df + 1): the only doubles that cross engines
  are single ln() evaluations OF INTEGERS, rounded to int64 at
  BM25_FIX immediately (the DSIR idiom, held bit-exact at two scales).
- each (doc, term) score is then (idf_fix · num_i) div den_i — exact
  truncating division (Spark decimal `div` ≡ DuckDB HUGEINT `//`,
  both truncate toward zero — verified on negative operands) — and
  the per-document total is an exact int64 SUM: order-independent,
  hence bit-identical across partitionings and engines. The
  intermediates ride DECIMAL(38,0) / int128, NOT int64: at the 100 TB
  design point T ≈ 2·10¹³ tokens puts idf_fix·num_i near 10²⁹ —
  int64 would overflow silently (the scaled-int64 trap q1's decimal
  accumulation deliberately avoids); the QUOTIENT is ≤ idf_fix·(k1+1)
  ≈ 10⁸, so the result column is plain int64.

Only documents matching ≥1 query term appear (inner-join semantics —
retrieval returns a posting intersection, not the corpus). Tokens are
the corpus convention: `split(text, ' ')` ≡ `string_split(text, ' ')`.

100 TB posture: the exploded word stream is filtered to the query's
terms BEFORE any shuffle (a broadcast isin over ≤|query| literals), so
the heavy frame is |matching postings|, never |corpus tokens|; df and
(N, T) are slim aggregates (≤|query| rows and 1 row) that broadcast
back. At scale tf/df come from the STORED inverted index in this
module (`write_bm25_index` / `extend_bm25_index` /
`bm25_topk_from_index` — term-pushdown postings scan, per-segment df
rows, totals as meta literals; extended per `CorpusWriter.admit` batch
like the band/paragraph layers), and the scoring join is unchanged —
the two forms are bit-equal (tests/test_bm25_index.py). No Python in
the row path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from . import query

BM25_FIX = 1_000_000


def _check_params(k1: tuple[int, int], b: tuple[int, int]) -> None:
    kn, kd = k1
    bn, bd = b
    if kd <= 0 or bd <= 0 or kn < 0 or bn < 0 or bn > bd:
        raise ValueError(
            "k1 must be a non-negative rational, b a rational in [0, 1]"
        )


def bm25_scores(
    doc: DataFrame,
    query_terms: list[str],
    k1: tuple[int, int] = (6, 5),
    b: tuple[int, int] = (3, 4),
) -> DataFrame:
    """(doc_id, n_terms, bm25_fix, bm25) for every document matching at
    least one of ``query_terms``; bm25_fix is the exact int64 score at
    BM25_FIX resolution (the hash-stable column), bm25 its double view.
    Fully declarative — corpus totals ride a 1-row broadcast, nothing
    collects."""
    _check_params(k1, b)
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    kn, kd = k1
    bn, bd = b

    dl = doc.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("dl")
    )
    totals = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("t_tokens"),
    )
    postings = (
        doc.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    # df as a window count over the scoring frame itself (r17, guide
    # §2.4): a separate `postings.groupBy(term)` relation made Catalyst
    # duplicate the postings lineage — the corpus was scanned and
    # EXPLODED TWICE per query (two Generate subtrees in the before-
    # plan; an inferred isnotnull plus column pruning desync the copies
    # so ReuseExchange never fires). The dl join is inner on the same
    # source, so it drops no postings rows — count(*) per term over the
    # joined frame IS df, value-identical, and the second corpus pass
    # is gone (one small by-term exchange on |matching postings| rows
    # replaces it).
    from pyspark.sql.window import Window

    joined = (
        postings.join(dl, "doc_id")
        .withColumn(
            "df",
            F.count("*").over(Window.partitionBy("term")).cast("long"),
        )
        .join(F.broadcast(totals))
    )
    return _finish_scores(joined, k1, b)


def _finish_scores(joined: DataFrame, k1, b) -> DataFrame:
    """The exact-arithmetic scoring tail shared by the scan form
    (`bm25_scores`) and the stored-index form (`bm25_scores_from_index`):
    ``joined`` carries one row per (doc, matched term) with columns
    (doc_id, tf, dl, df, n_docs, t_tokens); the output is the per-doc
    (n_terms, bm25_fix, bm25). Every operation is integer/decimal-exact
    (see the module docstring), so the two forms are BIT-equal, not
    merely close — the stored-index equality pin rests on this."""
    kn, kd = k1
    bn, bd = b
    # idf_fix = round((ln(2N-2df+1) - ln(2df+1)) * FIX): ln of integers
    # only; negative for terms in more than half the corpus (classic
    # probabilistic idf — callers wanting Lucene's non-negative variant
    # add 1 inside the ratio upstream).
    scored = (
        joined.withColumn(
            "idf_fix",
            F.round(
                (
                    F.log(2 * F.col("n_docs") - 2 * F.col("df") + 1)
                    - F.log(2 * F.col("df") + 1)
                )
                * F.lit(BM25_FIX)
            ).cast("long"),
        )
        .withColumn(
            "num_i",
            F.lit(int((kd + kn) * bd))
            * F.col("t_tokens").cast("decimal(20,0)")
            * F.col("tf").cast("decimal(20,0)"),
        )
        .withColumn(
            "den_i",
            F.lit(int(kd * bd))
            * F.col("t_tokens").cast("decimal(20,0)")
            * F.col("tf").cast("decimal(20,0)")
            + F.lit(int(kn * (bd - bn)))
            * F.col("t_tokens").cast("decimal(20,0)")
            + F.lit(int(kn * bn))
            * F.col("dl").cast("decimal(20,0)")
            * F.col("n_docs").cast("decimal(20,0)"),
        )
        .withColumn(
            "s_fix",
            F.expr(
                "(CAST(idf_fix AS DECIMAL(10,0)) * num_i) div den_i"
            ).cast("long"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("s_fix").cast("long").alias("bm25_fix"),
        )
        .withColumn(
            "bm25", (F.col("bm25_fix") / F.lit(float(BM25_FIX))).cast("double")
        )
    )


def bm25_topk(
    doc: DataFrame,
    query_terms: list[str],
    topk: int = 10,
    k1: tuple[int, int] = (6, 5),
    b: tuple[int, int] = (3, 4),
) -> DataFrame:
    """Top-k retrieval: the k highest-scoring documents, deterministic
    tie-break on doc_id (exact integer scores make ties REAL ties, not
    float noise). TakeOrdered-shaped — never a global sort of the
    corpus."""
    if topk < 1:
        raise ValueError("topk must be >= 1")
    s = bm25_scores(doc, query_terms, k1=k1, b=b)
    return s.orderBy(F.desc("bm25_fix"), "doc_id").limit(topk)


def bm25_oracle_sql(
    query_terms: list[str],
    k1: tuple[int, int] = (6, 5),
    b: tuple[int, int] = (3, 4),
    doc_filter: str | None = None,
) -> str:
    """DuckDB derivation of the identical scoring over the
    pre-registered ``documents`` view — same tokenization, same integer
    quantities, same ln-of-integers idf, same truncating division.
    ``doc_filter``: optional SQL predicate restricting the corpus (the
    `asof_serving_suite` oracle scores each generation's cumulative
    slice)."""
    _check_params(k1, b)
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    kn, kd = k1
    bn, bd = b
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    where = f"WHERE {doc_filter}" if doc_filter else ""
    return f"""
WITH dl AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents {where}
),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS t_tokens
  FROM dl
),
postings AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
        FROM documents {where})
  WHERE term IN ({in_list})
  GROUP BY doc_id, term
),
dfrel AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY term
),
scored AS (
  SELECT p.doc_id,
         CAST(
           CAST(CAST(ROUND((ln(2 * t.n_docs - 2 * f.df + 1)
                          - ln(2 * f.df + 1)) * {BM25_FIX}) AS BIGINT)
                AS HUGEINT)
           * ({int((kd + kn) * bd)} * CAST(t.t_tokens AS HUGEINT) * p.tf)
           // ({int(kd * bd)} * CAST(t.t_tokens AS HUGEINT) * p.tf
               + {int(kn * (bd - bn))} * CAST(t.t_tokens AS HUGEINT)
               + {int(kn * bn)} * CAST(d.dl AS HUGEINT) * t.n_docs)
         AS BIGINT) AS s_fix
  FROM postings p
  JOIN dl d USING (doc_id)
  JOIN dfrel f USING (term)
  CROSS JOIN totals t
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(s_fix) AS BIGINT) AS bm25_fix,
       CAST(CAST(SUM(s_fix) AS BIGINT) / {BM25_FIX}.0 AS DOUBLE) AS bm25
FROM scored
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Stored inverted index — the postings layer the module docstring promises
# ("at scale tf/df come from a stored inverted index instead of a scan")
# ---------------------------------------------------------------------------
#
# Layout under ``index_dir`` (the ANN-index sidecar discipline,
# `similarity.write_ann_index`):
#
# - ``postings/``  (doc_id, term, tf)  — the inverted file, full vocab
# - ``doclen/``    (doc_id, dl)       — per-doc token counts (dl = Σ tf)
# - ``df/``        (term, df)         — per-SEGMENT document frequencies:
#   the bootstrap writes one segment, every extend appends one; queries
#   SUM over matching terms, so extension is append-only (the band-file
#   discipline — no read-modify-write of a corpus-sized artifact).
# - ``meta.json``  {n_docs, t_tokens, fix, format} — corpus totals as
#   driver-side literals (they enter the score as constants, not joins).
#
# Crash contract: every mutation is bracketed by an ``extend.inprogress``
# marker (written first, removed after the meta replace). A crash inside
# the bracket leaves the marker; readers and extenders refuse loudly and
# `write_bm25_index` (full rebuild from the corpus — the reconcile path)
# heals. The meta write itself is temp-file + os.replace, so a torn
# write cannot leave unparseable JSON under a valid path.

BM25_INDEX_FORMAT = 1

# The three stored relations, in the order the compactor swaps them.
# Each is independently content-equivalent before/after compaction, so
# a crash that commits any prefix leaves a fully consistent index —
# unlike compact_index's tombstones-before-bands, no order is load-
# bearing here.
_BM25_RELATIONS = ("df", "doclen", "postings")

# Format-pinned relation schemas (BM25_INDEX_FORMAT versions them):
# passed to the SERVING reads so they skip Spark's parquet schema
# inference — one distributed footer-read job per spark.read.parquet
# call otherwise (r17; measured 3 inference jobs per
# bm25_scores_from_index construction). Maintenance rewrites
# (compact_bm25_index) deliberately keep inferring: they are job-count
# bounded already and a wrong schema there would rewrite the relation.
# Pinned against the writer's inferred schemas in
# tests/test_layer_schemas.py.
_POSTINGS_SCHEMA = "doc_id bigint, term string, tf bigint"
_DF_SCHEMA = "term string, df bigint"
_DOCLEN_SCHEMA = "doc_id bigint, dl bigint"

# Size gate for the driver-side per-term document-frequency read in
# `bm25_scores_from_index` (r18): at or below this many BYTES of df/
# relation files, the ≤|terms| sums run driver-side via a term-filtered
# pyarrow read and enter the plan as integer literals (exact Python-int
# addition ≡ the distributed long F.sum), saving the groupBy exchange
# and the broadcast build — 2 AQE stage-jobs per from-index query. A
# corpus-scale df relation exceeds the gate and keeps the distributed
# aggregate (the DRIVER_SUM_MAX_ROWS / DRIVER_CC_MAX_EDGES dual-path
# rule); tests force that path by monkeypatching this to -1.
DRIVER_DF_MAX_BYTES = 4 << 20
# File-count companion bound (r18 review): a long-running ingestion
# loop leaves one tiny df/ segment per admit (~10^4 at a year of
# hourly extends) — under the byte gate but ~0.5-1 ms of serial
# driver-side open per file per query. Past this many segments the
# distributed aggregate wins regardless of bytes; compact_bm25_index
# collapses the segments and restores the fast path.
DRIVER_DF_MAX_FILES = 256


def _driver_df(
    index_dir: str, terms: list[str], as_of: int | None = None
) -> dict[str, int] | None:
    """Per-term summed df via a driver-side pyarrow read of the df/
    relation's (generation-selected) files, or None when the relation
    exceeds DRIVER_DF_MAX_BYTES — or when a file cannot be stat'd or
    read here (``OSError`` / ``ArrowInvalid``: a file gone between the
    caller's listing and this read, a filesystem the driver cannot
    open), so the caller takes the distributed aggregate instead of
    failing the query. Caller has already resolved the same file set
    through snapshot_read/spark.read, so listing here cannot newly
    fail."""
    df_dir = f"{index_dir}/df"
    if as_of is None:
        files = [
            os.path.join(df_dir, f)
            for f in sorted(os.listdir(df_dir))
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    else:
        from ..incremental import snapshot_files

        files = snapshot_files(df_dir, as_of)
    if len(files) > DRIVER_DF_MAX_FILES:
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    tlist = sorted(set(terms))
    try:
        if sum(os.path.getsize(f) for f in files) > DRIVER_DF_MAX_BYTES:
            return None
        for f in files:
            tbl = pq.read_table(
                f, columns=["term", "df"], filters=[("term", "in", tlist)]
            )
            for t, d in zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()):
                out[t] = out.get(t, 0) + int(d)
    except (OSError, pa.ArrowInvalid):
        return None
    return out


def _bm25_marker(index_dir: str) -> str:
    return f"{index_dir}/extend.inprogress"


def bm25_rebuild_interrupted(index_dir: str) -> bool:
    """True if a bootstrap/extend died inside its marker bracket — the
    stored relations may disagree with meta (or with each other)."""
    import os

    return os.path.exists(_bm25_marker(index_dir))


def _write_bm25_meta(index_dir: str, meta: dict) -> None:
    import json
    import os

    tmp = f"{index_dir}/meta.json.tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, f"{index_dir}/meta.json")


def _check_bm25_meta(index_dir: str) -> dict:
    import json

    from ..incremental import _recover_staged

    _recover_staged(index_dir, _BM25_RELATIONS, discard_stage=False)
    if bm25_rebuild_interrupted(index_dir):
        raise ValueError(
            f"BM25 index at {index_dir} has an unfinished write "
            "(extend.inprogress marker present): stored postings/totals "
            "may be inconsistent. Rebuild with write_bm25_index."
        )
    try:
        with open(f"{index_dir}/meta.json") as fh:
            meta = json.load(fh)
    except (OSError, ValueError) as e:
        raise ValueError(
            f"BM25 index at {index_dir} has no readable meta.json — "
            "not bootstrapped, or a crashed write; run write_bm25_index."
        ) from e
    if meta.get("format") != BM25_INDEX_FORMAT or meta.get("fix") != BM25_FIX:
        raise ValueError(
            f"BM25 index at {index_dir} was built with an incompatible "
            f"layout/fix ({meta}); rebuild with write_bm25_index."
        )
    return meta


def _postings_frame(doc: DataFrame) -> DataFrame:
    """(doc_id, term, tf) over the FULL vocabulary — the write-time twin
    of `bm25_scores`' query-filtered postings (same tokenization, so
    dl = Σ tf reproduces `size(split(text, ' '))` exactly, empty docs
    included: split('') yields [''])."""
    return (
        doc.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def write_bm25_index(
    spark: SparkSession,
    doc: DataFrame,
    index_dir: str,
    postings: DataFrame | None = None,
) -> dict:
    """Materialize the inverted index for ``doc`` (doc_id, text) —
    bootstrap and reconcile path (mode overwrite).

    One corpus-scale pass builds ``postings/``; ``doclen/`` and ``df/``
    are then derived by re-READING the written parquet (column-pruned
    slim scans — the stored-column discipline: never recompute the
    explode, never persist the token-scale frame), with the two derived
    writes overlapped in driver threads. n_docs comes from the doclen
    parquet footers (zero jobs); t_tokens is a 1-row aggregate.

    ``postings`` (r18): precomputed ``_postings_frame`` rows of EXACTLY
    ``doc``'s documents (postings are a pure per-document function —
    the ``bands=`` reuse discipline). A caller building several
    generations tokenizes once and hands each build its slice."""
    import os

    from ..incremental import _concurrently, _dir_rows

    os.makedirs(index_dir, exist_ok=True)
    with open(_bm25_marker(index_dir), "w") as fh:
        fh.write("")
    (_postings_frame(doc) if postings is None else postings).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/postings")
    # Read-backs of THIS function's own freshly-written relations:
    # their schemas are known by construction, so pinning them skips
    # two footer-inference jobs per build (r18; the r17 "never pin a
    # maintenance rewrite" rule is about foreign/evolved data — these
    # bytes were written three lines up).
    post = spark.read.schema(_POSTINGS_SCHEMA).parquet(
        f"{index_dir}/postings"
    )
    _concurrently(
        lambda: post.groupBy("doc_id")
        .agg(F.sum("tf").cast("long").alias("dl"))
        .write.mode("overwrite")
        .parquet(f"{index_dir}/doclen"),
        lambda: post.groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
        .write.mode("overwrite")
        .parquet(f"{index_dir}/df"),
    )
    t_tokens = int(
        spark.read.schema(_DOCLEN_SCHEMA)
        .parquet(f"{index_dir}/doclen")
        .agg(F.sum("dl").alias("t"))
        .collect()[0]["t"]
        or 0
    )
    meta = {
        "format": BM25_INDEX_FORMAT,
        "fix": BM25_FIX,
        "n_docs": _dir_rows(f"{index_dir}/doclen"),
        "t_tokens": t_tokens,
    }
    _write_bm25_meta(index_dir, meta)
    os.remove(_bm25_marker(index_dir))
    return meta


def extend_bm25_index(
    spark: SparkSession,
    new_doc: DataFrame,
    index_dir: str,
    postings: DataFrame | None = None,
) -> dict:
    """Append a batch's postings/doclen/df rows and roll the totals —
    the per-admit extension (`incremental.extend_index`'s discipline:
    batch-bounded work, append-only artifacts, marker-bracketed).

    Precondition (the CorpusWriter contract): ``new_doc``'s doc_ids are
    NOT already in the index — the admission layer's exact-dedup
    guarantees it; a re-extended id would double-count its postings.

    ``postings`` (r18): precomputed ``_postings_frame`` rows of EXACTLY
    ``new_doc``'s documents, with a MATERIALIZED-or-cheap lineage (the
    three appends consume it once each — a caller building several
    generations checkpoints one tokenize pass and hands each extend a
    filtered slice, skipping this function's per-batch checkpoint job)."""
    import os

    from ..incremental import _concurrently

    batch = (
        _postings_frame(new_doc).localCheckpoint(eager=True)
        if postings is None
        else postings
    )
    try:
        # The totals are read and the marker created back to back (no
        # Spark job between them), so no other extend can commit in
        # between and leave this one rolling stale totals. The check
        # and the create are still two steps: the create is exclusive,
        # so a second extender that passed the check fails HERE,
        # loudly, before its before/after doclen/ listing diff could
        # count the first one's files.
        meta = _check_bm25_meta(index_dir)
        try:
            open(_bm25_marker(index_dir), "x").close()
        except FileExistsError as e:
            raise ValueError(
                f"BM25 index at {index_dir} is being extended by another "
                "writer (extend.inprogress appeared after the meta check)"
            ) from e
        # Batch totals come from the doclen files THIS extend appends
        # (r18): n = their row count, t = the sum of their dl column —
        # identical by construction to the r17 count_distinct/sum
        # aggregate over the batch (dl IS sum(tf) per doc), read
        # driver-side via pyarrow from batch-bounded rows instead of
        # one more Spark job per admit. The exclusive marker (and,
        # for writers, the lease) makes the before/after listing diff
        # race-free.
        doclen_dir = f"{index_dir}/doclen"
        before = set(os.listdir(doclen_dir))
        _concurrently(
            lambda: batch.write.mode("append").parquet(
                f"{index_dir}/postings"
            ),
            lambda: batch.groupBy("doc_id")
            .agg(F.sum("tf").cast("long").alias("dl"))
            .write.mode("append")
            .parquet(doclen_dir),
            lambda: batch.groupBy("term")
            .agg(F.count("*").cast("long").alias("df"))
            .write.mode("append")
            .parquet(f"{index_dir}/df"),
        )
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        n_new, t_new = 0, 0
        for f in sorted(set(os.listdir(doclen_dir)) - before):
            if not f.endswith(".parquet"):
                continue
            tbl = pq.read_table(
                os.path.join(doclen_dir, f), columns=["dl"]
            )
            n_new += tbl.num_rows
            t_new += int(pc.sum(tbl["dl"]).as_py() or 0)
        meta["n_docs"] += n_new
        meta["t_tokens"] += t_new
        _write_bm25_meta(index_dir, meta)
        os.remove(_bm25_marker(index_dir))
        return meta
    finally:
        if postings is None:
            # Only release a checkpoint THIS call created — a passed-in
            # frame belongs to the caller (and may feed later extends).
            from . import release_local_checkpoint

            release_local_checkpoint(batch)


def bm25_scores_from_index(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    k1: tuple[int, int] = (6, 5),
    b: tuple[int, int] = (3, 4),
    as_of: int | None = None,
) -> DataFrame:
    """`bm25_scores` served from the stored index: tf rows come from a
    term-pushdown parquet scan of ``postings/`` (never the corpus text),
    df from the slim per-segment ``df/`` relation summed over matching
    terms, dl from an equi-join against ``doclen/``, and (N, T) enter as
    driver-side literals from meta — zero corpus-text work per query.
    Bit-equal to the scan form over the same corpus (shared
    `_finish_scores` tail; pinned in tests/test_bm25_index.py).

    ``as_of``: a 1-based admission-snapshot generation (VERDICT r12
    #1): serve the index exactly as it stood after recorded admission
    ``as_of`` — file selection from each relation's per-admit manifest,
    (N, T) from the cumulative totals the writer recorded on that
    generation's ``postings/`` line. Requires a generation-pinned index
    (a `CorpusWriter(bm25_index=True)`); loud otherwise. Generations
    collapsed by compaction/reconcile fail loudly with the first
    servable generation."""
    from ..incremental import snapshot_extra, snapshot_read

    _check_params(k1, b)
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    meta = _check_bm25_meta(index_dir)
    if as_of is None:
        post = spark.read.schema(_POSTINGS_SCHEMA).parquet(
            f"{index_dir}/postings"
        )
        dfr_raw = spark.read.schema(_DF_SCHEMA).parquet(f"{index_dir}/df")
        dl = spark.read.schema(_DOCLEN_SCHEMA).parquet(
            f"{index_dir}/doclen"
        )
        n_docs, t_tokens = int(meta["n_docs"]), int(meta["t_tokens"])
    else:
        post = snapshot_read(
            spark, f"{index_dir}/postings", as_of, schema=_POSTINGS_SCHEMA
        )
        dfr_raw = snapshot_read(
            spark, f"{index_dir}/df", as_of, schema=_DF_SCHEMA
        )
        dl = snapshot_read(
            spark, f"{index_dir}/doclen", as_of, schema=_DOCLEN_SCHEMA
        )
        totals = snapshot_extra(f"{index_dir}/postings", as_of)
        if not totals:
            raise ValueError(
                f"BM25 index at {index_dir} records no cumulative "
                f"totals for generation {as_of} — generation-pinned "
                "serving needs a writer that recorded them "
                "(CorpusWriter admits after round 13 do)"
            )
        n_docs, t_tokens = int(totals["n_docs"]), int(totals["t_tokens"])
    post = post.filter(F.col("term").isin(terms))
    # Per-term document frequencies: the df/ relation is slim
    # (term, df) per segment, and a query touches ≤ |terms| of its
    # rows. Below DRIVER_DF_MAX_BYTES the summation runs driver-side
    # via a term-filtered pyarrow read and enters the plan as integer
    # literals — exact Python-int sums, identical to the distributed
    # F.sum, minus the groupBy exchange AND the broadcast build (−2
    # AQE stage-jobs per from-index query; ×4 legs in
    # asof_serving_suite). The established size-gated dual-path rule
    # (DRIVER_SUM_MAX_ROWS / DRIVER_CC_MAX_EDGES): a corpus-scale df
    # relation exceeds the gate and keeps the distributed aggregate.
    # Terms reach the plan as SQL string literals below: a quote,
    # backslash, or control character would need parser-version-exact
    # escaping — route such terms to the distributed branch instead of
    # guessing (plain words, i.e. every real query, keep the fast path).
    if any(
        "'" in t or "\\" in t or any(ord(c) < 0x20 for c in t)
        for t in terms
    ):
        df_map = None
    else:
        df_map = _driver_df(index_dir, terms, as_of=as_of)
    if df_map is not None:
        found = sorted(df_map)
        # Inner-join semantics preserved: postings rows whose term has
        # no df row would have been dropped by the join (impossible by
        # construction — both relations extend together — but exact).
        if len(found) < len(terms):
            post = post.filter(
                F.col("term").isin(found)
                if found
                else F.lit(False)
            )
        case = (
            "CAST(CASE term "
            + " ".join(
                f"WHEN '{t}' THEN {df_map[t]}" for t in found
            )
            + " END AS BIGINT)"
            if found
            else "CAST(NULL AS BIGINT)"
        )
        joined = (
            post.join(dl, "doc_id")
            .withColumn("df", F.expr(case))
            .withColumn("n_docs", F.lit(n_docs).cast("long"))
            .withColumn("t_tokens", F.lit(t_tokens).cast("long"))
        )
        return _finish_scores(joined, k1, b)
    dfr = (
        dfr_raw.filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    joined = (
        post.join(dl, "doc_id")
        .join(F.broadcast(dfr), "term")
        .withColumn("n_docs", F.lit(n_docs).cast("long"))
        .withColumn("t_tokens", F.lit(t_tokens).cast("long"))
    )
    return _finish_scores(joined, k1, b)


def bm25_topk_from_index(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    topk: int = 10,
    k1: tuple[int, int] = (6, 5),
    b: tuple[int, int] = (3, 4),
    as_of: int | None = None,
) -> DataFrame:
    """`bm25_topk` served from the stored index — same deterministic
    (score desc, doc_id) TakeOrdered top-k. ``as_of`` pins an
    admission-snapshot generation (see `bm25_scores_from_index`)."""
    if topk < 1:
        raise ValueError("topk must be >= 1")
    s = bm25_scores_from_index(
        spark, index_dir, query_terms, k1=k1, b=b, as_of=as_of
    )
    return s.orderBy(F.desc("bm25_fix"), "doc_id").limit(topk)


def compact_bm25_index(
    spark: SparkSession,
    index_dir: str,
    fence: tuple[str, str, int] | None = None,
) -> dict:
    """Collapse the per-admit append segments without touching corpus
    text — the maintenance op for a long-running ingestion loop, where
    every `extend_bm25_index` leaves one more ``df/`` segment and a few
    more small ``postings/``/``doclen/`` files (unbounded file-count
    growth: a year of hourly admits is ~10^4 segments, and at 100 TB the
    object-store LIST + footer reads start to dominate small queries).

    Content-equivalent rewrites, each pinned bit-equal at query level:

    - ``df/``     — per-segment rows summed to ONE row per term (readers
      SUM over segments, so sum-of-segments ≡ the compacted row);
    - ``postings/`` — range-partitioned and sorted by term, so a query's
      ``term IN (...)`` scan prunes files and row groups by parquet
      min/max stats instead of reading every segment (at scale this is
      the difference between touching ~|query| files and touching all);
    - ``doclen/`` — coalesced to the session parallelism.

    Totals are invariant (meta untouched). Crash contract: all three
    stages are fully written (concurrently — independent outputs of the
    stored relations), then swapped live via `_swap_staged`'s rename
    pairs; `_check_bm25_meta` self-heals an interrupted swap, and since
    every relation is independently equivalent, any mix of swapped and
    unswapped relations serves correct queries.

    Generation interplay (VERDICT r13 contract): a generation-pinned
    index (per-admit manifests) keeps its generation NUMBERING across
    compaction, but file-level history collapses — each stage dir gets
    a collapsed manifest (tombstones + the full compacted set at the
    latest generation, cumulative totals carried on ``postings/``)
    written INTO the stage before the swap, so files and manifest
    commit atomically together. ``as_of`` pins older than the
    compaction fail loudly; the latest generation serves identically."""
    from ..incremental import (
        _concurrently,
        _swap_staged,
        collapse_snapshots,
        snapshot_gens,
    )

    meta = _check_bm25_meta(index_dir)
    par = spark.sparkContext.defaultParallelism
    _concurrently(
        lambda: spark.read.parquet(f"{index_dir}/df")
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
        .write.mode("overwrite")
        .parquet(f"{index_dir}/df.compact"),
        lambda: spark.read.parquet(f"{index_dir}/doclen")
        .repartition(par)
        .write.mode("overwrite")
        .parquet(f"{index_dir}/doclen.compact"),
        lambda: spark.read.parquet(f"{index_dir}/postings")
        .repartitionByRange(par, "term", "doc_id")
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite")
        .parquet(f"{index_dir}/postings.compact"),
    )
    for name in _BM25_RELATIONS:
        gens = snapshot_gens(f"{index_dir}/{name}")
        if gens:
            collapse_snapshots(
                f"{index_dir}/{name}.compact",
                gens,
                extra=(
                    {
                        "n_docs": int(meta["n_docs"]),
                        "t_tokens": int(meta["t_tokens"]),
                    }
                    if name == "postings"
                    else None
                ),
            )
    _swap_staged(index_dir, *_BM25_RELATIONS, fence=fence)
    return meta


# ---------------------------------------------------------------------------
# Hybrid retrieval — lexical BM25 ⊕ semantic cosine, fused by RRF
# ---------------------------------------------------------------------------

# Reciprocal-rank fusion (Cormack, Clarke, Buettcher, SIGIR 2009):
# score(d) = Σ_r 1/(k0 + rank_r(d)) over the rankers that retrieved d,
# k0 = 60 the published constant. The reciprocal rides the house
# fixed-point discipline — RRF_FIX // (k0 + rank) is an exact integer,
# so the fused ordering is order-independent and bit-identical across
# engines (the double `rrf` column is a VIEW of the integer, never the
# sort key).
RRF_K0 = 60
RRF_FIX = 1_000_000_000


def _cosine_expr(query: list[float]) -> tuple[str, float]:
    """Exact-cosine SQL expression of a stored `embedding` column
    against a query literal — the LEFT-ASSOCIATIVE `+` chain form of
    the house sequential fold (bit-identical to DuckDB's list_reduce
    over the same float32-rounded literals; see CLAUDE.md vector-dot
    convention). Returns (expr, |q|² as the same fold)."""
    import numpy as np

    q = [float(np.float32(v)) for v in query]
    dot = " + ".join(
        f"CAST('{v!r}' AS DOUBLE) * "
        f"CAST(element_at(embedding, {i + 1}) AS DOUBLE)"
        for i, v in enumerate(q)
    )
    xn = " + ".join(
        f"CAST(element_at(embedding, {i + 1}) AS DOUBLE) * "
        f"CAST(element_at(embedding, {i + 1}) AS DOUBLE)"
        for i in range(len(q))
    )
    qn = q[0] * q[0]
    for v in q[1:]:
        qn = qn + v * v
    expr = (
        f"CASE WHEN ({xn}) > 0 AND CAST('{qn!r}' AS DOUBLE) > 0 THEN "
        f"({dot}) / sqrt(CAST('{qn!r}' AS DOUBLE) * ({xn})) END"
    )
    return expr, qn


def _lex_ranked(
    doc: DataFrame,
    query_terms: list[str],
    candidates: int,
    k1: tuple[int, int],
    b: tuple[int, int],
) -> DataFrame:
    """The BM25 side's (doc_id, lex_rnk) candidate ranking —
    shared by the exact and ANN hybrid forms."""
    from pyspark.sql.window import Window

    return (
        bm25_scores(doc, query_terms, k1=k1, b=b)
        .orderBy(F.desc("bm25_fix"), "doc_id")
        .limit(candidates)
        .withColumn(
            "lex_rnk",
            F.row_number().over(
                Window.orderBy(F.desc("bm25_fix"), "doc_id")
            ),
        )
        .select("doc_id", "lex_rnk")
    )


def _lex_ranked_from_index(
    spark: SparkSession,
    bm25_dir: str,
    query_terms: list[str],
    candidates: int,
    k1: tuple[int, int],
    b: tuple[int, int],
    as_of: int | None = None,
) -> DataFrame:
    """`_lex_ranked` served from the STORED inverted index
    (`bm25_scores_from_index`) — bit-equal to the corpus-scan form over
    the same corpus (shared `_finish_scores` tail + the pinned
    scan≡index equality), with zero corpus-text work per query: tf
    rows come from a term-pushdown ``postings/`` scan, never from
    re-tokenizing ``documents``. The 100 TB lexical leg (VERDICT
    r11 #1). ``as_of`` pins an admission-snapshot generation."""
    from pyspark.sql.window import Window

    return (
        bm25_scores_from_index(
            spark, bm25_dir, query_terms, k1=k1, b=b, as_of=as_of
        )
        .orderBy(F.desc("bm25_fix"), "doc_id")
        .limit(candidates)
        .withColumn(
            "lex_rnk",
            F.row_number().over(
                Window.orderBy(F.desc("bm25_fix"), "doc_id")
            ),
        )
        .select("doc_id", "lex_rnk")
    )


def hybrid_topk(
    spark: SparkSession,
    doc: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    query_vec: list[float],
    topk: int = 10,
    candidates: int = 100,
    k0: int = RRF_K0,
    k1: tuple[int, int] = (6, 5),
    b: tuple[int, int] = (3, 4),
    eager_overlap: bool = False,
) -> DataFrame:
    """Hybrid corpus mining: the BM25 lexical ranking and the exact-
    cosine semantic ranking (documents and their embeddings share ids:
    doc_id ≡ vec_id — the SemDeDup convention), each cut to
    ``candidates``, fused by reciprocal-rank fusion. Returns
    (doc_id, lex_rnk, sem_rnk, rrf_fix, rrf) — ranks NULL where a
    ranker did not retrieve the document — ``topk`` best by
    (rrf_fix DESC, doc_id).

    ``eager_overlap`` (r18, guide §2.6): materialize the two ranker
    legs NOW as concurrent eager checkpoints (driver threads) and fuse
    the ≤candidates-row results lazily. The legs are independent
    scans of different tables, but as two sides of one lazy plan their
    AQE stages run back-to-back — overlapping them costs the wall of
    the slower leg instead of the sum. Values identical (a checkpoint
    only materializes); block storage rides the managed-release
    harness contract.

    100 TB posture: each ranker reduces to its own top-``candidates``
    via orderBy+limit (TakeOrdered — no global sort materializes), the
    rank window then runs on ≤ candidates rows, and the fusion join is
    candidates-sized. The semantic side is a single scan with the
    64-term fold in one codegen expression; at scale swap it for the
    ANN/IVFADC shortlist — fusion is rank-based, so any ranker that
    emits (doc_id, rank) drops in."""
    from pyspark.sql.window import Window

    if topk < 1 or candidates < topk:
        raise ValueError("need candidates >= topk >= 1")
    if k0 < 1:
        raise ValueError("k0 must be >= 1")
    lex = _lex_ranked(doc, query_terms, candidates, k1, b)
    cos_expr, _ = _cosine_expr(query_vec)
    sem = (
        emb.select(
            F.col("vec_id").alias("doc_id"),
            F.expr(cos_expr).alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull() & ~F.isnan("cosine"))
        .orderBy(F.desc("cosine"), "doc_id")
        .limit(candidates)
        .withColumn(
            "sem_rnk",
            F.row_number().over(Window.orderBy(F.desc("cosine"), "doc_id")),
        )
        .select("doc_id", "sem_rnk")
    )
    if eager_overlap:
        from ..incremental import _concurrently
        from . import managed_checkpoint

        box: dict = {}
        try:
            _concurrently(
                lambda: box.__setitem__(
                    "lex", lex.localCheckpoint(eager=True)
                ),
                lambda: box.__setitem__(
                    "sem", sem.localCheckpoint(eager=True)
                ),
            )
        except BaseException:
            # One leg's checkpoint failed AFTER the other's eager
            # blocks materialized: nothing downstream will ever reach
            # managed_checkpoint, so free the survivor here or a
            # retrying caller pins one candidates-sized checkpoint per
            # failed build (the curate_frame bands discipline).
            from . import release_local_checkpoint

            for ck in box.values():
                release_local_checkpoint(ck)
            raise
        lex = managed_checkpoint(box["lex"])
        sem = managed_checkpoint(box["sem"])
    return rrf_fuse(lex, sem, topk=topk, k0=k0)


def rrf_fuse(
    lex: DataFrame, sem: DataFrame, topk: int = 10, k0: int = RRF_K0
) -> DataFrame:
    """The fusion tail as a first-class op: ``lex`` is any
    (doc_id, lex_rnk) ranking, ``sem`` any (doc_id, sem_rnk)
    ranking — exact-integer reciprocal-rank fusion, (doc_id,
    lex_rnk, sem_rnk, rrf_fix, rrf) ``topk`` best by
    (rrf_fix DESC, doc_id). Factored out (round 11) so the
    docstring's promise is structural: any ranker that emits
    (doc_id, rank) drops in — `hybrid_topk_ann` composes the
    residual-IVFADC shortlist here."""
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        F.col("lex_rnk").cast("long").alias("lex_rnk"),
        F.col("sem_rnk").cast("long").alias("sem_rnk"),
        (
            F.coalesce(
                F.expr(f"{RRF_FIX}L div ({k0}L + lex_rnk)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{RRF_FIX}L div ({k0}L + sem_rnk)"), F.lit(0)
            )
        )
        .cast("long")
        .alias("rrf_fix"),
    )
    fused = fused.withColumn(
        "rrf", F.col("rrf_fix").cast("double") / F.lit(float(RRF_FIX))
    )
    return fused.orderBy(F.desc("rrf_fix"), "doc_id").limit(topk)


def hybrid_topk_ann(
    spark: SparkSession,
    index_dir: str,
    doc: DataFrame | None,
    emb: DataFrame,
    query_terms: list[str],
    query_vec: list[float],
    topk: int = 10,
    candidates: int = 100,
    k0: int = RRF_K0,
    k1: tuple[int, int] = (6, 5),
    b: tuple[int, int] = (3, 4),
    nprobe: int | None = None,
    shortlist: int | None = None,
    books=None,
    bm25_dir: str | None = None,
    as_of: int | None = None,
) -> DataFrame:
    """:func:`hybrid_topk` with BOTH legs served from stored indexes —
    the 100 TB serving form the exact ranker's docstring promises.

    Semantic leg: the residual-IVFADC read path
    (`quantization.ivfpq_topk_from_index`) instead of the exact
    corpus-wide cosine scan. Lexical leg: when ``bm25_dir`` names a
    stored BM25 layer (`CorpusWriter(bm25_index=True)`'s
    ``{index_dir}/bm25``), the term-pushdown postings scan
    (`_lex_ranked_from_index` — zero corpus-text work per query,
    pinned bit-equal to the scan form; VERDICT r11 #1); without it,
    the ``doc``-frame scan (`_lex_ranked` — indexless exploratory
    use). The fusion is byte-identical (`rrf_fuse`) either way; with
    full probe coverage and a corpus-wide shortlist the composition
    EQUALS the exact `hybrid_topk` (pinned — full-probe IVFADC is
    pinned equal to brute force), and tighter (nprobe, shortlist)
    trade recall for the 8 B/vec scan exactly as RECALL.md
    measures. Omitted (nprobe, shortlist) default
    corpus-proportionally (VERDICT r11 #2).

    ``as_of`` (r13): pin BOTH stored legs to an admission-snapshot
    generation — the BM25 relations (requires ``bm25_dir``) and the
    IVFPQ code/inverted-file layers; pass the matching
    ``store(as_of=g)`` as ``emb`` so the exact re-rank gathers
    same-era payloads. Generations collapsed by compaction/reconcile
    fail loudly."""
    from pyspark.sql.window import Window

    from .quantization import ivfpq_topk_from_index

    if topk < 1 or candidates < topk:
        raise ValueError("need candidates >= topk >= 1")
    if bm25_dir is not None:
        lex = _lex_ranked_from_index(
            spark, bm25_dir, query_terms, candidates, k1, b, as_of=as_of
        )
    elif doc is not None:
        if as_of is not None:
            raise ValueError(
                "as_of pins STORED layers — pass bm25_dir for the "
                "lexical leg (the doc-frame scan has no generations)"
            )
        lex = _lex_ranked(doc, query_terms, candidates, k1, b)
    else:
        raise ValueError(
            "pass bm25_dir (the stored-index serving form) or doc "
            "(the corpus-scan form) for the lexical leg"
        )
    sem = (
        ivfpq_topk_from_index(
            spark,
            index_dir,
            emb,
            query_vec,
            topk=candidates,
            # None flows through to the corpus-proportional default
            # (clamped >= candidates by the topk floor); an explicit
            # value keeps the candidates floor it always had.
            shortlist=(
                None if shortlist is None else max(candidates, shortlist)
            ),
            nprobe=nprobe,
            books=books,
            as_of=as_of,
        )
        .select(F.col("vec_id").alias("doc_id"), "cosine")
        .withColumn(
            "sem_rnk",
            F.row_number().over(
                Window.orderBy(F.desc("cosine"), "doc_id")
            ),
        )
        .select("doc_id", "sem_rnk")
    )
    return rrf_fuse(lex, sem, topk=topk, k0=k0)


def hybrid_oracle_sql(
    query_terms: list[str],
    query_vec: list[float] | None = None,
    topk: int = 10,
    candidates: int = 100,
    k0: int = RRF_K0,
    k1: tuple[int, int] = (6, 5),
    b: tuple[int, int] = (3, 4),
    query_vec_sql: str | None = None,
) -> str:
    """DuckDB derivation of :func:`hybrid_topk` over the ``documents``
    and ``embeddings`` views: the full BM25 chain as a nested CTE, the
    list_reduce cosine fold, the same candidate cuts, ranks, and
    exact-integer RRF. The query vector enters either as
    VARCHAR-mediated float32 literals (``query_vec``) or as a SQL
    derivation (``query_vec_sql``, e.g. ``SELECT embedding FROM
    embeddings WHERE vec_id = 0``) — the literal-free form the
    scale-factor-agnostic registry oracle needs."""
    import numpy as np

    from .similarity import _DOT_SQL

    def dot(a, b_):
        return _DOT_SQL.format(a=a, b=b_)

    if (query_vec is None) == (query_vec_sql is None):
        raise ValueError("pass exactly one of query_vec / query_vec_sql")
    if query_vec_sql is None:
        qlist = ",".join(
            f"'{float(x)!r}'" for x in np.asarray(query_vec, np.float32)
        )
        qv_cte = f"SELECT ([{qlist}]::VARCHAR[])::DOUBLE[]::FLOAT[]"
    else:
        qv_cte = query_vec_sql
    inner = bm25_oracle_sql(query_terms, k1=k1, b=b)
    return f"""
WITH lex_all AS ({inner}),
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25_fix DESC, doc_id) AS lex_rnk
  FROM (SELECT * FROM lex_all ORDER BY bm25_fix DESC, doc_id
        LIMIT {candidates})
),
qv(q) AS ({qv_cte}),
sem_all AS (
  SELECT vec_id AS doc_id,
         CASE WHEN {dot("e.embedding", "e.embedding")} > 0
               AND {dot("q", "q")} > 0 THEN
           {dot("q", "e.embedding")} /
           sqrt({dot("q", "q")} * {dot("e.embedding", "e.embedding")})
         END AS cosine
  FROM embeddings e, qv
),
sem AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cosine DESC, doc_id) AS sem_rnk
  FROM (SELECT * FROM sem_all
        WHERE cosine IS NOT NULL AND NOT isnan(cosine)
        ORDER BY cosine DESC, doc_id LIMIT {candidates})
),
fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         CAST(l.lex_rnk AS BIGINT) AS lex_rnk,
         CAST(s.sem_rnk AS BIGINT) AS sem_rnk,
         CAST(COALESCE({RRF_FIX} // ({k0} + l.lex_rnk), 0)
            + COALESCE({RRF_FIX} // ({k0} + s.sem_rnk), 0) AS BIGINT)
           AS rrf_fix
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, lex_rnk, sem_rnk, rrf_fix,
       CAST(rrf_fix AS DOUBLE) / CAST({RRF_FIX} AS DOUBLE) AS rrf
FROM fused
ORDER BY rrf_fix DESC, doc_id LIMIT {topk}"""


def _vec_row_groups(path: str, vec_id: int) -> tuple[list[int], int]:
    """(candidate row-group indices, total row groups) for a point read
    of ``vec_id`` from a parquet file: only groups whose vec_id min/max
    FOOTER statistics admit the id (groups without statistics stay
    candidates — correctness over pruning). Driver-side metadata only,
    zero data bytes."""
    import pyarrow.parquet as pa_pq

    md = pa_pq.ParquetFile(path).metadata
    # Loud, descriptive failures (ADVICE r13): this is the registry
    # entry's driver-side path — a zero-row-group file or a file
    # without the id column must name itself, not die in a bare
    # StopIteration / opaque pyarrow index error.
    if md.num_row_groups == 0:
        raise ValueError(
            f"{path} has no row groups — cannot point-read vec_id "
            f"{vec_id} from an empty parquet file"
        )
    rg0 = md.row_group(0)
    ci = next(
        (
            j
            for j in range(rg0.num_columns)
            if rg0.column(j).path_in_schema.split(".")[0] == "vec_id"
        ),
        None,
    )
    if ci is None:
        raise ValueError(
            f"{path} has no 'vec_id' column — point reads need the id "
            "column for footer min/max pruning"
        )
    keep = []
    for i in range(md.num_row_groups):
        st = md.row_group(i).column(ci).statistics
        if st is None or not st.has_min_max or st.min <= vec_id <= st.max:
            keep.append(i)
    return keep, md.num_row_groups


def read_query_vec(path: str, vec_id: int) -> list[float]:
    """Driver-side read of ONE stored embedding by vec_id — row-group
    pruned via footer statistics, so the driver materializes O(one row
    group), never the whole table (VERDICT r12: the registry entry used
    to read EVERY embedding to pick one). Parquet float32 → python
    float is bit-exact, identical to a collect(); zero Spark jobs (the
    `read_ann_codebook` discipline)."""
    import pyarrow.parquet as pa_pq

    pf = pa_pq.ParquetFile(path)
    for i in _vec_row_groups(path, vec_id)[0]:
        t = pf.read_row_group(i, columns=["vec_id", "embedding"])
        ids = t.column("vec_id").to_pylist()
        if vec_id in ids:
            return [
                float(v)
                for v in t.column("embedding")[ids.index(vec_id)].as_py()
            ]
    raise ValueError(f"vec_id {vec_id} not found in {path}")


# --- registry entry (VERDICT r11 #6) -----------------------------------
# Fixed query shape so the oracle is scale-factor-agnostic: five literal
# terms, and the query vector IS vec_id 0's stored embedding (read from
# the table in BOTH engines — no float literals cross the engine gap, so
# there is nothing to mis-round; the Spark side re-emits the float32
# values as exact-repr double literals inside `_cosine_expr`, which
# round-trips bit-exactly).
_REGISTRY_TERMS = ["scan", "column", "window", "order", "sort"]
_REGISTRY_QV_SQL = "SELECT embedding FROM embeddings WHERE vec_id = 0"


@query(
    "hybrid_retrieval_topk",
    oracle=hybrid_oracle_sql(
        _REGISTRY_TERMS,
        query_vec_sql=_REGISTRY_QV_SQL,
        topk=10,
        candidates=50,
    ),
)
def hybrid_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval under the driver's value gate (VERDICT r11 #6):
    BM25 lexical ranking ⊕ exact-cosine semantic ranking, reciprocal-
    rank-fused with exact-integer scores (`hybrid_topk`), query vector
    = vec_id 0's embedding. The full DuckDB derivation
    (`hybrid_oracle_sql`, literal-free `query_vec_sql` form) replays
    the BM25 chain, the list_reduce cosine fold, both candidate cuts,
    and the RRF arithmetic."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings")
    # Driver-side row-group-pruned read of vec_id 0's embedding — zero
    # Spark jobs, O(one row group) driver bytes (`read_query_vec`).
    qv = read_query_vec(f"{sf_dir}/embeddings.parquet", 0)
    return hybrid_topk(
        spark,
        doc,
        emb,
        _REGISTRY_TERMS,
        qv,
        topk=10,
        candidates=50,
        eager_overlap=True,
    )


# --- generation-pinned serving under the value gate (VERDICT r13 #5) ----
#
# The Spark side BUILDS a small stored BM25 index from three disjoint
# corpus slices (one write_bm25_index + two extend_bm25_index calls,
# each followed by the writer-family `record_aligned_snapshot` line, so
# the layers carry real per-admit manifests) and then SERVES all three
# generations via `bm25_topk_from_index(as_of=g)`. The oracle needs no
# file lists or literals: a generation-pinned serve is bit-equal to
# fresh BM25 over the corpus as of that generation (the
# tests/test_asof_layers.py fresh-rebuild pin), and "corpus as of g"
# is the cumulative slice predicate `doc_id % 10 < g` — so each oracle
# leg is the ordinary `bm25_oracle_sql` chain over the filtered
# `documents` view. Scale-factor-agnostic like every other entry.

_ASOF_SLICES = 3  # generations; gen g admits doc_id % 10 == g-1
# Generations the TIMED entry serves (VERDICT r15 #3 budget rule: a leg
# whose contract is pytest-pinned at two scales retires from the timed
# entry when newer maintenance legs land). All _ASOF_SLICES generations
# are still BUILT and recorded — the admission surface is unchanged —
# but the g3/c3 serve replays moved to pytest:
# tests/test_asof_layers.py::test_bm25_generations_pin_history_then_collapse
# and ::test_classifier_replay_as_of, both parametrized over
# sf0.001 + sf0.01. c3 was also value-light here: no probe doc
# duplicates gen-3 content (slice doc_id % 10 == 2), so its verdicts
# equal c2's; the g1→g2 time-travel flip and every retention/vacuum
# contrast (p2/pc2/dp2/v2 vs g2/c2/d2) stay in hashed values.
_ASOF_SERVE_GENS = (1, 2)


def _asof_suite_index(
    spark: SparkSession, sf_dir: str, parent: str | None = None
) -> str:
    """Build the 3-generation stored BM25 index under a fresh temp dir.
    ``parent``: the per-PID parent the suite entry manages (cleared at
    each invocation — previous invocations' frames were already
    materialized; the gate and bench both consume one entry fully
    before rebuilding it, and the per-PID key keeps two processes from
    rmtree'ing each other's index mid-read). None = manage it here
    (direct library use)."""
    import os
    import shutil
    import tempfile

    from .. import incremental

    if parent is None:
        parent = os.path.join(
            tempfile.gettempdir(), f"ki_asof_suite_{os.getpid()}"
        )
        shutil.rmtree(parent, ignore_errors=True)
    os.makedirs(parent, exist_ok=True)
    idx = tempfile.mkdtemp(dir=parent)
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Tokenize ALL three slices in ONE postings pipeline and hand each
    # generation its filtered slice (r18 — the `_asof_dedup_index`
    # all_bands discipline: postings are a pure per-document function,
    # so the filtered subset equals a fresh tokenize). Saves one
    # shuffle job for the g1 write and one checkpoint job per extend.
    from . import release_local_checkpoint

    all_post = _postings_frame(
        doc.filter(F.col("doc_id") % 10 < _ASOF_SLICES)
    ).localCheckpoint(eager=True)
    try:
        for g in range(1, _ASOF_SLICES + 1):
            batch = doc.filter(F.col("doc_id") % 10 == g - 1)
            post_g = all_post.filter(F.col("doc_id") % 10 == g - 1)
            meta = (
                write_bm25_index(spark, batch, idx, postings=post_g)
                if g == 1
                else extend_bm25_index(spark, batch, idx, postings=post_g)
            )
            totals = {
                "n_docs": int(meta["n_docs"]),
                "t_tokens": int(meta["t_tokens"]),
            }
            for name in _BM25_RELATIONS:
                incremental.record_aligned_snapshot(
                    f"{idx}/{name}",
                    g,
                    extra=totals if name == "postings" else None,
                )
    finally:
        release_local_checkpoint(all_post)
    return idx


# Probe for the classifier-replay legs: tiny at any scale (4% of the
# doc_id space), re-keyed out of the corpus id range. The % 100 == 1
# and == 11 members duplicate GEN-2 content (their originals sit in
# the append-2 slice doc_id % 10 == 1), so their verdicts FLIP from
# novel at as_of=1 to exact_dup at as_of>=2 — the time-travel story in
# driver-hashed values.
_ASOF_PROBE_WHERE = "doc_id % 100 IN (1, 7, 11, 17)"
_ASOF_PROBE_REKEY = 1_000_000


def _asof_dedup_index(spark: SparkSession, sf_dir: str, parent: str) -> str:
    """Build the 3-generation stored DEDUP index next to the BM25 one:
    `incremental.write_index` + two `extend_index` appends over the
    same cumulative slices, each followed by the writer-family
    `record_aligned_snapshot` lines for digests/bands/dropped."""
    import tempfile

    from .. import incremental
    from . import release_local_checkpoint
    from .dedup import minhash_bands

    idx = tempfile.mkdtemp(dir=parent)
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Band ALL three slices in ONE signature pipeline and hand each
    # append its subset via bands= (band rows are a pure per-document
    # function, so the filtered subset equals a fresh banding — the
    # CorpusWriter.admit reuse discipline); saves two full
    # shingle→signature pipelines per invocation.
    all_bands = minhash_bands(
        doc.filter(F.col("doc_id") % 10 < _ASOF_SLICES)
    ).localCheckpoint(eager=True)
    try:
        for g in range(1, _ASOF_SLICES + 1):
            batch = doc.filter(F.col("doc_id") % 10 == g - 1)
            # Pre-filter the one banding pass by the slice predicate —
            # exactly batch's ids, so the restriction semijoin inside
            # _write_band_files is skipped (r18: one broadcast
            # stage-job per generation).
            bands_g = all_bands.filter(F.col("doc_id") % 10 == g - 1)
            if g == 1:
                incremental.write_index(
                    batch, idx, bands=bands_g, bands_restricted=True
                )
            else:
                incremental.extend_index(
                    batch, idx, bands=bands_g, bands_restricted=True
                )
            for name in ("digests", "bands", "dropped"):
                d = f"{idx}/{name}"
                if os.path.isdir(d):
                    incremental.record_aligned_snapshot(d, g)
    finally:
        release_local_checkpoint(all_bands)
    return idx


def _asof_drift_layer(spark: SparkSession, sf_dir: str, parent: str) -> str:
    """Build the 2-generation stored DRIFT-reference layer next to the
    BM25/dedup indexes: one `corpus_hist` segment per admitted slice
    (counts are additive, so sum-of-segments ≡ a recount of the
    cumulative slice — the `drift_ref/` per-segment discipline), each
    followed by its `record_aligned_snapshot` line. This is exactly the
    layer `CorpusWriter(drift_monitor=True)` maintains and
    `drift_stats(batch, as_of=g)` reads (writer↔manual equality is
    pinned in tests/test_drift_monitor.py)."""
    import tempfile

    from .. import incremental
    from .text import _DRIFT_BUCKETS, corpus_hist

    d = tempfile.mkdtemp(dir=parent)
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for g in (1, 2):
        seg = doc.filter(F.col("doc_id") % 10 == g - 1)
        corpus_hist(seg, _DRIFT_BUCKETS).write.mode("append").parquet(d)
        incremental.record_aligned_snapshot(d, g)
    return d


def _asof_suite_oracle() -> str:
    from .dedup import dedup_replay_oracle_sql
    from .text import _DRIFT_BUCKETS, corpus_drift_oracle

    pad_bm = (
        "CAST(NULL AS VARCHAR) AS verdict, CAST(NULL AS BIGINT) AS "
        "dup_of, CAST(NULL AS DOUBLE) AS jaccard"
    )
    pad_cl = (
        "CAST(NULL AS BIGINT) AS n_terms, CAST(NULL AS BIGINT) AS "
        "bm25_fix, CAST(NULL AS DOUBLE) AS bm25"
    )
    legs = []
    for g in _ASOF_SERVE_GENS:
        inner = bm25_oracle_sql(
            _REGISTRY_TERMS, doc_filter=f"doc_id % 10 < {g}"
        )
        legs.append(
            f"SELECT CAST('g{g}' AS VARCHAR) AS part, doc_id, n_terms, "
            f"bm25_fix, bm25, {pad_bm} FROM (\n"
            f"  SELECT * FROM ({inner}\n"
            "  ) ORDER BY bm25_fix DESC, doc_id LIMIT 10\n"
            ")"
        )
    for g in _ASOF_SERVE_GENS:
        inner = dedup_replay_oracle_sql(
            g, _ASOF_PROBE_WHERE, rekey=_ASOF_PROBE_REKEY
        )
        legs.append(
            f"SELECT CAST('c{g}' AS VARCHAR) AS part, doc_id, {pad_cl}, "
            f"verdict, dup_of, jaccard FROM ({inner}\n)"
        )
    # Post-RETENTION legs: after prune_snapshots(2) on both indexes,
    # serving at/above the horizon must produce the exact same values
    # — the oracle legs are therefore the g2/c2 derivations verbatim
    # under new tags (retention correctness in driver-hashed values).
    legs.append(
        "SELECT CAST('p2' AS VARCHAR) AS part, doc_id, n_terms, "
        f"bm25_fix, bm25, {pad_bm} FROM (\n"
        "  SELECT * FROM ("
        + bm25_oracle_sql(_REGISTRY_TERMS, doc_filter="doc_id % 10 < 2")
        + "\n  ) ORDER BY bm25_fix DESC, doc_id LIMIT 10\n)"
    )
    legs.append(
        f"SELECT CAST('pc2' AS VARCHAR) AS part, doc_id, {pad_cl}, "
        "verdict, dup_of, jaccard FROM ("
        + dedup_replay_oracle_sql(
            2, _ASOF_PROBE_WHERE, rekey=_ASOF_PROBE_REKEY
        )
        + "\n)"
    )
    # DRIFT-replay legs (VERDICT r14 #3): the stored reference histogram
    # is per-generation segments of the cumulative slice, so the oracle
    # derives it literal-free from the same slice text; the drift row's
    # fields ride the union's numeric columns (doc_id←new_tokens,
    # n_terms←ref_tokens, bm25_fix/bm25←kl_fix/kl, dup_of/jaccard←
    # tv_fix/tv — identical mapping on the Spark side). dp2 re-serves
    # as_of=2 after prune_snapshots(2) on the layer.
    for g, tag in ((1, "d1"), (2, "d2"), (2, "dp2")):
        inner = corpus_drift_oracle(
            f"SELECT text FROM documents WHERE doc_id % 10 < {g}",
            f"SELECT text FROM documents WHERE {_ASOF_PROBE_WHERE}",
            n_buckets=_DRIFT_BUCKETS,
        )
        legs.append(
            f"SELECT CAST('{tag}' AS VARCHAR) AS part, "
            "new_tokens AS doc_id, ref_tokens AS n_terms, "
            "kl_fix AS bm25_fix, kl AS bm25, "
            "CAST(NULL AS VARCHAR) AS verdict, tv_fix AS dup_of, "
            f"tv AS jaccard FROM ({inner}\n)"
        )
    # Post-VACUUM leg (r15): after vacuum_data_snapshots(horizon=2) on
    # every BM25 relation — a physical base rewrite, not just a
    # manifest collapse — serving at the horizon must still produce
    # the exact g2 values.
    legs.append(
        "SELECT CAST('v2' AS VARCHAR) AS part, doc_id, n_terms, "
        f"bm25_fix, bm25, {pad_bm} FROM (\n"
        "  SELECT * FROM ("
        + bm25_oracle_sql(_REGISTRY_TERMS, doc_filter="doc_id % 10 < 2")
        + "\n  ) ORDER BY bm25_fix DESC, doc_id LIMIT 10\n)"
    )
    return "\nUNION ALL\n".join(legs)


@query("asof_serving_suite", oracle=_asof_suite_oracle())
def asof_serving_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generation-pinned serving AND admission-classifier replay under
    the driver's value gate (VERDICT r13 #5, widened r14): build a
    stored BM25 index and a stored dedup index in three recorded
    admission generations each (cumulative slices ``doc_id % 10 < g``),
    then emit one tagged union of

    - parts g1..g2: `bm25_topk_from_index(as_of=g)` — pins per-admit
      file attribution, the cumulative (n_docs, t_tokens) totals riding
      the postings manifest line, and the from-index scoring tail (the
      g3 replay retired to a two-scale pytest pin — see
      `_ASOF_SERVE_GENS`; generation 3 is still built and recorded);
    - parts c1..c2: `incremental.dedup_against_index(probe, as_of=g)` —
      pins the generation-pinned classifier replay itself: stored
      digests/bands/tombstones file-selected per generation, probe
      docs duplicating gen-2 content flip novel→exact_dup between the
      c1 and c2 legs IN THE HASHED VALUES (c3 likewise retired — its
      verdicts equal c2's, no probe doc duplicates gen-3 content);
    - parts d1..d2 (r15): the DRIFT replay — the probe's KL/TV against
      the stored per-generation reference histogram
      (`drift_stats(batch, as_of=g)`'s computation over the same
      `drift_ref` per-segment layer a monitoring writer maintains),
      the admission-affecting distribution shift between g1 and g2
      visible in the hashed kl/tv values; part dp2 re-serves as_of=2
      after pruning the layer to that horizon;
    - parts p2/pc2 (r14, prune-only by construction since r16): built
      AFTER the manifest prune but BEFORE the vacuum, so they serve
      from a collapsed manifest whose files are all still intact —
      the retention contract distinct from byte reclamation;
    - part v2 (r15): VACUUM under the gate — after
      `vacuum_data_snapshots(horizon=2)` physically rewrites the
      postings relation's merged pre-horizon base (and drops the
      superseded files), serving at the horizon must hash equal to
      g2 and to p2. Every pre-vacuum leg is eagerly checkpointed
      first: their resolved file lists point at exactly the files
      vacuum deletes, so a lazy union would crash at the final
      action.

    The oracle is literal-free and scale-factor-agnostic: fresh BM25
    over each generation's cumulative slice, a full DuckDB derivation
    of the stored dedup state (per-append bucket-cap tombstones
    included) + classification chain (`dedup.dedup_replay_oracle_sql`),
    and the drift arithmetic re-derived from the cumulative slice text
    (`text.corpus_drift_oracle` — sum-of-segments ≡ recount)."""
    import atexit
    import shutil
    import tempfile

    from .. import incremental
    from .text import (
        _DRIFT_BUCKETS,
        DRIFT_HIST_SCHEMA,
        corpus_drift_from_hists,
        corpus_hist,
    )

    # Unique parent per INVOCATION (ADVICE r14): clearing a shared
    # per-PID dir at entry would delete the parquet under any lazy
    # frame a previous invocation in this process still holds.
    parent = tempfile.mkdtemp(prefix=f"ki_asof_suite_{os.getpid()}_")
    atexit.register(shutil.rmtree, parent, ignore_errors=True)
    from . import managed_checkpoint
    from .dedup import minhash_bands

    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    probe = doc.filter(
        F.expr(_ASOF_PROBE_WHERE)
    ).select(
        (F.col("doc_id") + F.lit(_ASOF_PROBE_REKEY)).alias("doc_id"),
        "text",
    )
    # The three stored-layer builds are independent (separate dirs,
    # separate relations) — overlap them in driver threads; each
    # thread's write→extend→extend order is preserved within it. The
    # probe's band rows and histogram depend on NOTHING the builds
    # produce, so their eager checkpoints ride the same overlap window
    # (serially they cost ~0.7 s AFTER a ~5 s build wall they could
    # hide inside); managed_checkpoint registration stays on the main
    # thread.
    bm_idx, dd_idx, dr_dir, probe_bands, probe_hist = (
        incremental._concurrently(
            lambda: _asof_suite_index(spark, sf_dir, parent=parent),
            lambda: _asof_dedup_index(spark, sf_dir, parent),
            lambda: _asof_drift_layer(spark, sf_dir, parent),
            lambda: minhash_bands(probe).localCheckpoint(eager=True),
            lambda: corpus_hist(
                probe.select("text"), _DRIFT_BUCKETS
            ).localCheckpoint(eager=True),
        )
    )
    probe_bands = managed_checkpoint(probe_bands)
    probe_hist = managed_checkpoint(probe_hist)
    pad_bm = [
        F.lit(None).cast("string").alias("verdict"),
        F.lit(None).cast("long").alias("dup_of"),
        F.lit(None).cast("double").alias("jaccard"),
    ]
    pad_cl = [
        F.lit(None).cast("long").alias("n_terms"),
        F.lit(None).cast("long").alias("bm25_fix"),
        F.lit(None).cast("double").alias("bm25"),
    ]
    # The probe is IDENTICAL for every classifier leg (c1-c3, pc2):
    # banded ONCE above (eager checkpoint of the slim 4-rows/doc frame
    # — the r8 persist-small discipline) and handed to each
    # `dedup_against_index` call via `batch_bands`, replacing four full
    # shingle→signature pipelines with one.
    out = None
    for g in _ASOF_SERVE_GENS:
        leg = bm25_topk_from_index(
            spark, bm_idx, _REGISTRY_TERMS, topk=10, as_of=g
        ).select(
            F.lit(f"g{g}").alias("part"),
            "doc_id",
            "n_terms",
            "bm25_fix",
            "bm25",
            *pad_bm,
        )
        out = leg if out is None else out.unionByName(leg)
    for g in _ASOF_SERVE_GENS:
        corpus_g = doc.filter(F.col("doc_id") % 10 < g)
        leg = incremental.dedup_against_index(
            spark,
            probe,
            dd_idx,
            corpus_g,
            batch_bands=probe_bands,
            as_of=g,
            # probe_bands was banded from probe itself — exactly
            # new_doc's ids, no restriction semijoin needed (r18).
            batch_bands_restricted=True,
        ).select(
            F.lit(f"c{g}").alias("part"),
            "doc_id",
            *pad_cl,
            "verdict",
            F.col("dup_of").cast("long").alias("dup_of"),
            F.col("jaccard").cast("double").alias("jaccard"),
        )
        out = out.unionByName(leg)
    # DRIFT replay legs: the probe's histogram is tiny (≤ B rows),
    # feeds three legs, and was checkpointed once above
    # (harness-managed: released by release_persists() after the
    # consuming action).

    def _drift_leg(tag: str, g: int):
        row = corpus_drift_from_hists(
            spark,
            # (b, c) is the drift layer's pinned histogram shape —
            # passing it skips the per-leg footer-inference job (r17).
            incremental.snapshot_read(
                spark, dr_dir, g, schema=DRIFT_HIST_SCHEMA
            ),
            probe_hist,
            _DRIFT_BUCKETS,
        )
        return row.select(
            F.lit(tag).alias("part"),
            F.col("new_tokens").cast("long").alias("doc_id"),
            F.col("ref_tokens").cast("long").alias("n_terms"),
            F.col("kl_fix").alias("bm25_fix"),
            F.col("kl").alias("bm25"),
            F.lit(None).cast("string").alias("verdict"),
            F.col("tv_fix").alias("dup_of"),
            F.col("tv").alias("jaccard"),
        )

    out = out.unionByName(_drift_leg("d1", 1)).unionByName(
        _drift_leg("d2", 2)
    )
    # RETENTION under the gate: prune all three layers below
    # generation 2 (manifest-only — no file is deleted, so the lazy
    # pre-prune legs above stay readable) and re-serve at the horizon —
    # bit-equal to the pre-prune g2/c2/d2 answers by contract, now
    # verified in hashed values. Direct library calls: these are
    # private single-process temp layers, not a writer family.
    for name in _BM25_RELATIONS:
        incremental.prune_snapshots(f"{bm_idx}/{name}", 2)
    for name in ("digests", "bands", "dropped"):
        d = f"{dd_idx}/{name}"
        if os.path.isdir(d) and incremental.snapshot_gens(d) >= 2:
            incremental.prune_snapshots(d, 2)
    incremental.prune_snapshots(dr_dir, 2)
    # Materialize every pre-vacuum leg BEFORE the vacuum (the v2 leg
    # below runs a real VACUUM, which physically deletes the
    # pre-horizon files these legs' resolved file lists point at — a
    # lazy union would crash at the final action). r17 (guide §2.6):
    # the pre-prune union's eager checkpoint is CLUSTER work and the
    # prune-only legs' construction is ~1.5 s of DRIVER py4j — overlap
    # them in two threads. The prune-only legs (ADVICE r15: built
    # BEFORE the vacuum so they exercise manifest-collapse-with-files-
    # intact serving) read the post-prune manifests, which exist —
    # the prunes above are synchronous driver-side manifest rewrites.
    box: dict = {}

    def _ck_pre():
        box["pre"] = out.localCheckpoint(eager=True)

    def _ck_post():
        p2 = bm25_topk_from_index(
            spark, bm_idx, _REGISTRY_TERMS, topk=10, as_of=2
        ).select(
            F.lit("p2").alias("part"),
            "doc_id",
            "n_terms",
            "bm25_fix",
            "bm25",
            *pad_bm,
        )
        pc2 = incremental.dedup_against_index(
            spark,
            probe,
            dd_idx,
            doc.filter(F.col("doc_id") % 10 < 2),
            batch_bands=probe_bands,
            as_of=2,
            batch_bands_restricted=True,
        ).select(
            F.lit("pc2").alias("part"),
            "doc_id",
            *pad_cl,
            "verdict",
            F.col("dup_of").cast("long").alias("dup_of"),
            F.col("jaccard").cast("double").alias("jaccard"),
        )
        post = p2.unionByName(pc2).unionByName(_drift_leg("dp2", 2))
        box["post"] = post.localCheckpoint(eager=True)

    incremental._concurrently(_ck_pre, _ck_post)
    # managed_checkpoint registration stays on the main thread.
    out = managed_checkpoint(box["pre"]).unionByName(
        managed_checkpoint(box["post"])
    )
    # VACUUM under the gate (r15): physically rewrite the POSTINGS
    # relation's merged pre-horizon base (the byte-reclamation op; the
    # scoring-dominant, term-pushdown relation) and re-serve at the
    # horizon — part v2 must hash equal to g2 (and to the prune-only
    # p2, whose file list the vacuum just replaced). One relation keeps
    # the entry lean; the full writer-family vacuum (df/doclen, corpus,
    # bands dead-rows, partitioned signatures) is pytest-pinned in
    # tests/test_vacuum.py.
    incremental.vacuum_data_snapshots(
        spark, f"{bm_idx}/postings", 2, ("term", "doc_id")
    )
    v2 = bm25_topk_from_index(
        spark, bm_idx, _REGISTRY_TERMS, topk=10, as_of=2
    ).select(
        F.lit("v2").alias("part"),
        "doc_id",
        "n_terms",
        "bm25_fix",
        "bm25",
        *pad_bm,
    )
    return out.unionByName(v2)
