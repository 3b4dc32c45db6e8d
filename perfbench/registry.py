"""The registry sweep's entry list and its output check.

``HEADLINE`` is a copy of ``bench.py:HEADLINE`` (24 names), kept here so
the benchmark's entry set cannot drift with the historical harness.
Outputs are checked by an order-insensitive canonical hash of all rows,
cells canonicalized by ``tools/check_correctness.py:canon`` (pandas on
both sides), against ``expected_registry.json``, which ``make_expected.py``
computes once from the DuckDB oracle over the committed fixture.
"""

from __future__ import annotations

import hashlib
import json
import os

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "events_windows",
    "events_sessionize_30m",
    "window_functions_suite",
    "topk_per_group",
    "agg_multi_function",
    "join_asof_click_purchase",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "similarity_bruteforce_topk",
    "similarity_lsh_topk",
    "similarity_ivf_topk",
    "text_quality_scores",
    "text_tf_per_source",
    "text_repetition_scores",
    "text_decontaminate",
    "fn_string_suite",
    "stream_record_model",
    "hybrid_retrieval_topk",
    "asof_serving_suite",
]

HERE = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(HERE)
EXPECTED_FILE = os.path.join(HERE, "expected_registry.json")

# Two headline names are library legs of merged registry suites; their
# oracle is the suite's oracle restricted to the leg's rows and columns
# (the suite selects each leg unchanged apart from these renames).
LEG_ORACLES = {
    "dedup_simhash": (
        "dedup_hash_suite",
        "SELECT doc_id, simhash FROM ({sql}) WHERE part = 'simhash'",
    ),
    "text_tf_per_source": (
        "text_frequency_suite",
        "SELECT source, term AS word, n AS tf, rnk FROM ({sql}) WHERE part = 'tf'",
    ),
}


def entry_fns() -> dict:
    """name → ``(spark, sf_dir) -> DataFrame`` for every headline name."""
    from kinesis_iterator_spark.queries import QUERIES, load_all
    from kinesis_iterator_spark.queries.dedup import dedup_simhash
    from kinesis_iterator_spark.queries.text import text_tf_per_source

    load_all()
    out = {n: QUERIES[n] for n in HEADLINE if n in QUERIES}
    out["dedup_simhash"] = dedup_simhash
    out["text_tf_per_source"] = text_tf_per_source
    return out


def _load_canon():
    """``canon`` of ``tools/check_correctness.py``, the repository's
    cross-engine cell canonicalizer (loaded by path: ``tools`` is not a
    package; its import-time ``sys.path`` insert is undone)."""
    import importlib.util
    import sys

    path = os.path.join(REPO_ROOT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("_perfbench_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.canon


canon = _load_canon()


def frame_hash(pdf) -> dict:
    """Row count, sorted column names and the sha256 of the sorted
    canonical rows (columns in name order) of a pandas frame."""
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(
        "|".join(canon(r[i]) for i in order)
        for r in pdf.itertuples(index=False, name=None)
    )
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return {"rows": len(rows), "columns": sorted(cols), "sha256": digest}


def load_expected() -> dict:
    with open(EXPECTED_FILE) as f:
        return json.load(f)["entries"]
