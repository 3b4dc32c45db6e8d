"""Physical-plan shape assertions — the 100 TB posture checks.

These pin the *plan*, not the output: pushdown reaching the parquet scan,
broadcasts where a dim is small, top-k not becoming a total sort,
rank-filter becoming a window group limit. If a Spark upgrade or a query
edit regresses one of these, correctness tests stay green but scale dies —
hence plan tests."""

from __future__ import annotations

from kinesis_iterator_spark.queries import QUERIES, load_all

load_all()


def plan_of(spark, sf_dir, name: str) -> str:
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_and_projection_reach_parquet_scan(spark, sf_dir):
    df = QUERIES["filter_project_pushdown"](spark, sf_dir)
    plan = formatted(df)
    assert "PushedFilters" in plan
    assert "LessThan(p_size,15)" in plan.replace(" ", "").replace("\n", "") or (
        "p_size" in plan and "PushedFilters: [" in plan
    )
    # column pruning: only the 4 needed columns in ReadSchema
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "p_name" in read_schema and "p_brand" not in read_schema


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan, "dims must broadcast, not shuffle"


def test_top100_is_take_ordered_not_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "orderby_limit_top100")
    assert "TakeOrderedAndProject" in plan


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "topk_per_group")
    assert "WindowGroupLimit" in plan, "rank<=k filter should push into window"


def test_q1_partial_aggregation_before_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    # two HashAggregates (partial + final) around exactly one shuffle
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1, "Q1 must shuffle exactly once"


def test_lsh_band_join_is_hash_join_not_nested_loop(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dedup_minhash_lsh")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    ), "band join must be an equi-join on band_key"
    assert "CartesianProduct" not in plan


def test_similarity_bruteforce_is_one_map_stage(spark, sf_dir):
    # Self-kNN brute force: scan → Arrow kernel, top-k computed in-batch.
    # No pair materialization in the plan, no shuffle beyond the input
    # spread, no window.
    plan = plan_of(spark, sf_dir, "similarity_bruteforce_topk")
    assert "MapInPandas" in plan, "scoring must run in the Arrow kernel"
    assert "Window" not in plan and "Join" not in plan


def test_similarity_lsh_join_is_co_partitioned_equi_join(spark, sf_dir):
    # Candidate generation must be an equi-join on (table_id, bucket) —
    # never a cartesian/nested-loop pairing of the corpus.
    plan = plan_of(spark, sf_dir, "similarity_lsh_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_no_python_row_udfs_in_relational_core(spark, sf_dir):
    for name in ("q1_pricing_summary", "events_windows", "dedup_hash_suite",
                 "text_quality_scores", "fn_string_suite"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name} fell off codegen into Python"


def test_windowed_aggs_have_partial_aggregation(spark, sf_dir):
    # Streaming-shaped aggs must combine map-side: two HashAggregates
    # around one exchange per window shape, so each shuffle carries
    # (window, type) groups, not raw events. The merged entry unions the
    # tumbling and sliding legs → exactly two exchanges.
    plan = plan_of(spark, sf_dir, "events_windows")
    assert plan.count("HashAggregate") >= 4
    assert plan.count("Exchange") == 2


def test_blocked_jaccard_is_equi_join(spark, sf_dir):
    # The (lang, length-decile) blocking must surface as an equi-join —
    # a cartesian pairing here would be the O(n²) failure mode at scale.
    plan = plan_of(spark, sf_dir, "dedup_hash_suite")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sessionize_single_shuffle_on_user(spark, sf_dir):
    # lag + cumulative-sum sessionization: the only exchange is the hash
    # partition on user_id (plus the final agg reuses it). No extra sorts
    # beyond the per-user window sort.
    plan = plan_of(spark, sf_dir, "events_sessionize_30m")
    assert plan.count("Exchange") <= 2


def test_pivot_is_single_pass(spark, sf_dir):
    # Explicit pivot values ⇒ one aggregate pass, no distinct-value scan job.
    plan = plan_of(spark, sf_dir, "pivot_event_counts")
    assert plan.count("Exchange") <= 2


def test_asof_join_is_one_window_pass_not_range_join(spark, sf_dir):
    # The as-of join must compile to union + window (linear per user), not
    # a range/theta join (quadratic per user) — the plan that survives
    # 100× more events per user.
    plan = plan_of(spark, sf_dir, "join_asof_click_purchase")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    assert "Union" in plan


def test_embedding_dedup_candidates_are_equi_join(spark, sf_dir):
    # LSH-blocked near-dup pairs come from an equi-join on
    # (table_id, bucket) — never an all-pairs product.
    plan = plan_of(spark, sf_dir, "dedup_embedding_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def _hint_subtrees(analyzed: str):
    """Yield (hint_line, subtree_lines) for each broadcast ResolvedHint in
    an analyzed-plan string. Subtree = following lines whose tree marker
    (`+-`/`:-`) sits deeper than the hint's."""
    lines = analyzed.splitlines()
    for i, line in enumerate(lines):
        if "ResolvedHint (strategy=broadcast)" not in line:
            continue
        depth = max(line.find("+-"), line.find(":-"))
        sub = []
        for nxt in lines[i + 1:]:
            d = max(nxt.find("+-"), nxt.find(":-"))
            if d <= depth:
                break
            sub.append(nxt)
        yield line, sub


def _literal_in_bounded_aggregate(sub: list[str]) -> bool:
    """True if the hinted subtree's output cardinality is bounded by a
    grouped Aggregate whose EVERY grouping key a literal IN filter below
    it restricts to a fixed value list — ≤ |IN list| rows regardless of
    corpus size (the `bm25_scores` per-query-term df relation:
    groupBy(term) under `term IN ('scan','column',...)`).

    The bounded Aggregate must sit at the TOP of the hinted subtree
    (only non-expanding unary nodes — Project/Filter/Sort/alias — may
    wrap it): an Aggregate buried under a Join would not bound the
    subtree's own output, so a broadcast hint on e.g. an SF-growing
    relation joined WITH a bounded aggregate must NOT slip past the
    100 TB OOM gate (ADVICE r12)."""
    import re

    # attribute ids constrained by a literal IN list (no #refs inside
    # the parens — a correlated IN would not bound cardinality)
    bounded_ids = set()
    for s in sub:
        for m in re.finditer(r"#(\d+)L? IN \(([^)]*)\)", s):
            if "#" not in m.group(2):
                bounded_ids.add(m.group(1))
    if not bounded_ids:
        return False
    # Walk from the subtree root down: the first non-unary node must be
    # the bounded Aggregate itself.
    _UNARY = ("Project [", "Filter ", "Sort [", "SubqueryAlias ", "ResolvedHint ")
    for s in sub:
        body = s.lstrip(" :+-")
        m = re.match(r"Aggregate \[([^\]]*)\], \[", body)
        if m:
            keys = re.findall(r"#(\d+)", m.group(1))
            return bool(keys) and all(k in bounded_ids for k in keys)
        if not body.startswith(_UNARY):
            return False
    return False


def test_no_forced_broadcast_on_sf_growing_relations(spark, sf_dir):
    """An explicit broadcast hint is NEVER demoted by AQE, so a hint on an
    SF-growing relation (customer/supplier/orders/lineitem/part/events/
    documents/embeddings) is an OOM class at 100 TB. Only fixed-cardinality
    sides may be hint-forced: nation (25 rows), region (5), literal local
    relations (bands), global 1-row aggregates (which print as
    `Aggregate [exprs]` — no grouping list), and grouped aggregates whose
    every grouping key is pinned to a literal IN list (≤ |list| rows at
    any scale — the BM25 per-query-term df relation)."""
    for name in sorted(QUERIES):
        df = QUERIES[name](spark, sf_dir)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        for hint_line, sub in _hint_subtrees(analyzed):
            # Exempt: a global aggregate bounds the subtree to one row.
            if any(
                s.lstrip(" :+-").startswith("Aggregate [") and "], [" not in s
                for s in sub
            ):
                continue
            # Exempt: grouping keys pinned by a literal IN filter.
            if _literal_in_bounded_aggregate(sub):
                continue
            for s in sub:
                if "Relation" in s and "parquet" in s:
                    assert "n_nationkey" in s or "r_regionkey" in s, (
                        f"{name}: hint-forced broadcast over an SF-growing "
                        f"parquet relation:\n{hint_line}\n{s}"
                    )


def test_ann_candidate_joins_never_carry_embeddings(spark, sf_dir):
    """The 'slim candidate shuffle' invariant: in every ANN/dedup LSH
    path, the (table_id, bucket) candidate join operates on id+bucket
    rows only — the 512-byte embedding arrays must not ride through the
    join or its exchanges (they re-attach after dedup, or live in the
    executor-side corpus cache). A regression here multiplies candidate
    shuffle bytes ~30x and dies at scale, while output stays correct."""
    import re

    for name in ("similarity_lsh_topk", "dedup_embedding_cosine"):
        plan = plan_of(spark, sf_dir, name)
        for m in re.finditer(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)[^\n]*", plan):
            assert "embedding" not in m.group(0), f"{name}: {m.group(0)[:120]}"
        # No exchange may shuffle an embedding column in these plans.
        for m in re.finditer(r"Exchange hashpartitioning\([^\n]*", plan):
            assert "embedding" not in m.group(0), f"{name}: {m.group(0)[:120]}"


def test_repetition_scores_single_exchange(spark, sf_dir):
    # The posexplode -> window-lead -> stack pipeline's doc_id shuffle
    # must be the query's ONLY exchange: both downstream groupBys key on
    # doc_id supersets and reuse the window's partitioning. A second
    # exchange means the gram rows (the widest set) moved twice.
    plan = plan_of(spark, sf_dir, "text_repetition_scores")
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_decontaminate_is_broadcast_equi_join(spark, sf_dir):
    # The benchmark shingle side is tiny by construction: it must arrive
    # as a broadcast equi-join on the 60-bit hash, never a cartesian
    # pairing, and the corpus text must not shuffle for it.
    plan = plan_of(spark, sf_dir, "text_decontaminate")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_window_suite_is_one_window_pass(spark, sf_dir):
    # Ranking + offset + frame functions share ONE window spec: a single
    # exchange on the partition key and no second sort — the merge must
    # not have split the evaluation into multiple window nodes with
    # their own shuffles.
    plan = plan_of(spark, sf_dir, "window_functions_suite")
    assert plan.count("Exchange") == 1


def test_stream_fetch_cursors_are_a_plan_literal(spark, sf_dir):
    # The Iterator's multi-shard fetch: the cursor set is a literal array
    # in the scan's filter, not a relation broadcast per trigger; the
    # only shuffle is the per-shard row_number window's, and its limit
    # runs as a WindowGroupLimit right above the parquet scan.
    from kinesis_iterator_spark.streaming import SimulatedShardedSource

    src = SimulatedShardedSource(spark, sf_dir, n_shards=4)
    cursors = {sid: src.shard_cursor(sid) for sid in src.list_shards()}
    fetch = src.get_records_all(cursors, 50)
    try:
        plan = fetch.records._jdf.queryExecution().executedPlan().toString()
    finally:
        fetch.records.unpersist(blocking=False)
    # the cached batch's plan as it ran (AQE prints the initial one too)
    final = plan.split("== Initial Plan ==")[0].splitlines()
    assert not any("Broadcast" in line for line in final)
    assert not any("Join" in line for line in final)
    assert sum(line.lstrip(" +-").startswith("Exchange ") for line in final) == 1
    wgl = [i for i, line in enumerate(final) if "WindowGroupLimit" in line]
    scan = [i for i, line in enumerate(final) if "FileScan parquet" in line]
    assert wgl and len(scan) == 1 and max(wgl) < scan[0]


def test_iterator_delivers_the_fetch_layout_without_an_exchange(spark, sf_dir):
    # The Iterator delivers the fetched batch as the fetch window left it:
    # hash-partitioned by shard, each partition sorted by (shardId,
    # sequenceNumber). No Exchange sits above the cached scan, and every
    # shard's rows are in one partition, in ascending sequence order. Four
    # shards on eight shuffle partitions: a repartition by shard count
    # would not match the fetch's partitioning.
    from kinesis_iterator_spark.streaming import (
        InMemorySaver,
        Iterator,
        SimulatedShardedSource,
    )

    seen = {}

    def deliver(df, epoch):
        seen["plan"] = df._jdf.queryExecution().executedPlan().toString()
        seen["rows"] = df.rdd.mapPartitionsWithIndex(
            lambda i, rows: ((i, r["shardId"], r["sequenceNumber"]) for r in rows)
        ).collect()

    src = SimulatedShardedSource(spark, sf_dir, n_shards=4)
    it = Iterator(src).set_saver(InMemorySaver()).set_fetch_limit(60)
    it.foreach_batch(deliver)._start_shards()
    assert it.poll_once() == 4 * 60
    lines = seen["plan"].splitlines()
    scan = next(i for i, line in enumerate(lines) if "InMemoryTableScan" in line)
    assert not any("Exchange" in line for line in lines[:scan])
    parts: dict[str, set[int]] = {}
    seqs: dict[str, list[str]] = {}
    for i, shard, seq in seen["rows"]:
        parts.setdefault(shard, set()).add(i)
        seqs.setdefault(shard, []).append(seq)
    assert len(parts) == 4 and all(len(p) == 1 for p in parts.values())
    assert all(s == sorted(s) and len(s) == 60 for s in seqs.values())
