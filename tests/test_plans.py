"""Physical-plan assertions: pushdown, pruning, broadcast, no cartesian.

These don't run jobs — they inspect the optimized/physical plan strings so
a regression that silently de-optimizes a scan (e.g. a filter that stops
pushing down, a broadcast that becomes a sort-merge join) fails fast.
"""

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _scan_lines(plan: str):
    return [ln for ln in plan.splitlines() if "FileScan" in ln or "PushedFilters" in ln]


def test_pricing_summary_pushes_filter_and_prunes(spark):
    df = entry_mod.queries()["pricing_summary"](spark, SF_DIR)
    plan = df.explain  # noqa: B018 — keep lazy
    full = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in full and "LessThan(l_quantity" in full, full[:2000]
    # column pruning: the 16-col lineitem scan reads only the 4 needed cols
    read_schema = [ln for ln in full.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_top_customers_broadcasts_customer(spark):
    df = entry_mod.queries()["top_customers"](spark, SF_DIR)
    full = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in full


def test_regional_revenue_broadcasts_dims(spark):
    df = entry_mod.queries()["regional_revenue"](spark, SF_DIR)
    full = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert full.count("BroadcastHashJoin") >= 2  # nation + region at least


def test_no_cartesian_products_anywhere(spark):
    """Every oracle-backed query plans without a cartesian product.

    (brute-force ANN intentionally uses BroadcastNestedLoopJoin on the tiny
    broadcast query set — that is not a CartesianProduct.)
    """
    for name, q in entry_mod.queries().items():
        if name in ("er_cluster_sizes", "media_pipeline", "dedup_engine_twins",
                    "ann_topk", "ngram_jaccard", "embedding_dup_exact"):
            continue  # eager/self-join ops exercised elsewhere; some build RDDs
        df = q(spark, SF_DIR)
        full = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "CartesianProduct" not in full, name


def test_events_order_asof_pushes_filter_single_window_exchange(spark):
    """The as-of query pushes the user filter into the events scan and plans
    as window-over-union — no nested-loop/range join, no per-row Python."""
    df = entry_mod.queries()["events_order_asof"](spark, SF_DIR)
    full = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "LessThan(user_id,50)" in full.replace(" ", "").replace("u50", "u50")
    assert "BroadcastNestedLoopJoin" not in full and "CartesianProduct" not in full
    assert "EvalPython" not in full
    assert full.count("Window") >= 1


def test_events_type_pivot_single_scan(spark):
    """Explicit pivot values → one events scan, no distinct-values pre-pass."""
    df = entry_mod.queries()["events_type_pivot"](spark, SF_DIR)
    full = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # exactly one file-scan node (the tree line and the node detail both
    # say "Scan parquet", so count scan Locations instead)
    assert full.count("Location: InMemoryFileIndex") == 1, full[:1500]
    assert "pivotfirst" in full  # the single-pass explicit-values pivot


def test_user_sessions_single_event_exchange(spark):
    """Sessionize + rollup reuse one hashpartitioning(user_id) exchange."""
    df = entry_mod.queries()["user_sessions"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 2  # agg + final sort only


def test_minhash_band_join_stays_sort_merge(spark):
    """The table-sized MinHash band self-join must stay SortMergeJoin.

    ``minhash_dup_pairs`` pins hint("merge") (dedup.py) because a stale
    size estimate could otherwise broadcast a table-sized side — the
    classic 100 TB OOM. Guard: no BroadcastHashJoin anywhere in the plan
    (every join in this pipeline is table × table)."""
    from addressit_spark.operators.dedup import minhash_dup_pairs

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    full = spark._jvm.PythonSQLUtils.explainString(
        minhash_dup_pairs(docs)._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" in full
    assert "BroadcastHashJoin" not in full, full[:2000]


def test_choose_survivors_skew_friendly_plan(spark):
    """The survivor argmax must plan as aggregations, never a window sort,
    and the eqNullSafe argmax filter must fold into the best-score join's
    keys (so a mega-cluster's members match on (score, cluster) instead of
    fanning through one cluster-keyed partition). Broadcast is disabled
    while planning so the asserted shape is the at-scale one."""
    from pyspark.sql import functions as F

    from addressit_spark.operators.dedup import choose_survivors

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    clusters = docs.select("doc_id", (F.col("doc_id") % 100).alias("canonical_id"))
    scores = docs.select("doc_id", F.length("text").cast("double").alias("score"))
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(choose_survivors(clusters, scores))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "Window" not in plan  # argmax via aggregation, not row_number
    assert "partial_max" in plan and "partial_min" in plan  # map-side combine
    # the argmax equality rides the join keys: some exchange partitions on
    # score alongside the cluster key
    score_keyed = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "score" in ln and "canonical_id" in ln
    ]
    assert score_keyed, plan[:3000]
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_fused_scorer_pins_expanding_joins(spark):
    """The fused blocking+scoring plan (the 10^12-pair hot path) keeps its
    hint("merge")-pinned table×table join — the salted pair expansion on
    ``(_bk, lo, hi)`` — as SortMergeJoin, while the designed broadcasts
    (8-byte-keyed sim lookups) may plan as BroadcastHashJoin. The sim map it
    builds inline has no join at all: one aggregation per block crosses
    each block's surfaces in place. No cartesian/nested-loop, no
    row-at-a-time Python anywhere."""
    import re

    from addressit_spark.blocking import address_table
    from addressit_spark.parse_stage import parse_spans
    from addressit_spark.scoring import score_pairs_fused, surface_sim_map
    from addressit_spark.sources.corpus import documents_view, synth_corpus

    addrs = address_table(parse_spans(documents_view(synth_corpus(spark, 300, seed=42))))
    scored, _dropped = score_pairs_fused(addrs)
    plan = _plan(scored)
    assert re.search(r"SortMergeJoin \[_bk#\d+L, lo#\d+, hi#\d+\]", plan), plan[:2000]
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    sims = _plan(surface_sim_map(addrs))
    for join in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
                 "CartesianProduct", "ShuffledHashJoin"):
        assert join not in sims, (join, sims[:2000])


def test_embedding_near_dup_bucket_join_stays_smj(spark):
    """The LSH-bucket self-join of the full signature table must never be
    broadcast (similarity.py pins hint("merge")) — both sides are
    table-sized at scale."""
    from addressit_spark.operators.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    plan = _plan(embedding_near_dup_pairs(emb))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan, plan[:2000]


def test_parse_stage_is_arrow_eval(spark):
    """The parse UDF must plan as ArrowEvalPython (vectorized), never
    BatchEvalPython (row-at-a-time pickling)."""
    from addressit_spark.parse_stage import parse_spans

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    df = parse_spans(docs)
    full = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "ArrowEvalPython" in full and "BatchEvalPython" not in full
