"""End-to-end pipeline: CC vs union-find oracle, F1 ≥ 0.99, resume."""

import json
import os

import pytest

from pyspark.sql import functions as F

from addressit_spark import blocking
from addressit_spark.cluster import (
    _distributed_components,
    cluster_members,
    connected_components,
    incremental_components,
)
from addressit_spark.evaluation import bcubed, labeled_pairs, pairwise_f1
from addressit_spark.pipeline import STAGE_FORMATS, run_pipeline
from addressit_spark.sources.corpus import documents_view, synth_corpus, truth_view


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_corpus(spark, 1500, seed=42).cache()


@pytest.fixture(scope="module")
def result(spark, corpus):
    return run_pipeline(spark, documents_view(corpus))


def test_connected_components_vs_union_find(spark, result):
    edges = [(r["src"], r["dst"]) for r in result.edges.collect()]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for s, d in edges:
        union(s, d)
    # canonicalize to min-uid labels
    want = {}
    for node in parent:
        root = find(node)
        want[node] = min(want.get(root, root), root)
    roots = {}
    for node in parent:
        roots[node] = find(node)
    # min uid per component
    comp_min = {}
    for node, root in roots.items():
        comp_min[root] = min(comp_min.get(root, node), node)
    expected = {node: comp_min[root] for node, root in roots.items()}

    got = {
        r["uid"]: r["component"]
        for r in connected_components(result.edges).collect()
    }
    assert got == expected


def _path_edges(spark, n):
    """The n-node path n00000000 — n00000001 — … as an edge list."""
    return spark.range(n - 1).select(
        F.format_string("n%08d", F.col("id")).alias("src"),
        F.format_string("n%08d", F.col("id") + 1).alias("dst"),
    )


def test_cc_round_count_contract_on_path_graph(spark):
    """Worst-case convergence contract: large-star/small-star must cluster a
    PATH graph (the pathological long-diameter case; blocking-derived graphs
    are near-cliques that converge in 2-4 rounds) within the published
    O(log² n) bound — empirically log2(n)+1 rounds, asserted at +2 slack so
    a kernel edit that degrades convergence fails loudly, including the
    always-paid final no-change round."""
    import math

    for n in (64, 512):
        edges = _path_edges(spark, n)
        log = []
        out = _distributed_components(edges, round_log=log)
        assert out.select("component").distinct().count() == 1
        assert out.count() == n
        bound = math.ceil(math.log2(n)) + 2
        assert log == [min(log[0], bound)], (
            f"path n={n}: {log[0]} rounds exceeds bound {bound}"
        )


def test_star_forest_check_rejects_disjoint_path(spark):
    """The early-stop shape test must NOT fire on src/dst-disjoint sets that
    are not star forests: {(1,3),(2,3)} has disjoint src/dst columns but is
    a path through node 3 (a leaf twice), and {(1,2),(2,3)} is a chain.
    Both must still converge to one component through extra rounds."""
    from addressit_spark.cluster import _is_star_forest

    path = spark.createDataFrame([("a", "c"), ("b", "c")], ["src", "dst"])
    assert not _is_star_forest(path)
    chain = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    assert not _is_star_forest(chain)
    star = spark.createDataFrame([("a", "b"), ("a", "c")], ["src", "dst"])
    assert _is_star_forest(star)
    # end-to-end: the non-star inputs still cluster correctly through the
    # distributed rounds (the local finish would never reach the shape test)
    for df in (path, chain):
        out = {
            r["uid"]: r["component"]
            for r in _distributed_components(df).collect()
        }
        assert out == {"a": "a", "b": "a", "c": "a"}


def test_cc_raises_without_fixpoint(spark):
    """Exhausting max_rounds must raise, never label a non-fixpoint edge
    set: a 64-node path needs ~7 rounds, so one round cannot converge."""
    edges = _path_edges(spark, 64)
    with pytest.raises(RuntimeError, match="max_rounds=1"):
        _distributed_components(edges, max_rounds=1)


def test_local_finish_equals_distributed(spark, monkeypatch):
    """The driver-side union-find must give exactly the labels of the
    distributed large-star/small-star path (``_distributed_components``) —
    same nodes, same min-uid components, same column names and types."""
    import random

    from addressit_spark import cluster

    def both(df):
        log = []
        local = connected_components(df, round_log=log)
        dist = _distributed_components(df)
        assert local.dtypes == dist.dtypes
        got = {(r["uid"], r["component"]) for r in local.collect()}
        assert got == {(r["uid"], r["component"]) for r in dist.collect()}
        return got, log

    # seeded random graphs: self-loops, duplicate and reversed edges, a
    # node whose only edge is a self-loop, NULL endpoints
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        rows = [
            ("u%03d" % rng.randrange(300), "u%03d" % rng.randrange(300))
            for _ in range(220)
        ]
        rows += rows[:15] + [(d, s) for s, d in rows[15:40]]
        rows += [("u007", "u007"), ("solo", "solo"), (None, "u001"), ("u002", None)]
        got, log = both(spark.createDataFrame(rows, "src string, dst string"))
        assert log == [0]
        assert "solo" not in {u for u, _ in got}
        longs = [(rng.randrange(400), rng.randrange(400)) for _ in range(250)]
        both(spark.createDataFrame(longs, "src long, dst long"))

    # path graphs: the long-diameter worst case for the distributed rounds
    for n in (64, 512):
        got, _ = both(_path_edges(spark, n))
        assert {c for _, c in got} == {"n00000000"} and len(got) == n

    # the empty edge set: 0 rows, same schema
    got, _ = both(spark.createDataFrame([], "src string, dst string"))
    assert got == set()

    # exactly at the cap runs locally; one edge past it runs the rounds
    rows = [("c%02d" % i, "c%02d" % (i + 1)) for i in range(9)] + [("x", "y")]
    df = spark.createDataFrame(rows, "src string, dst string")
    monkeypatch.setattr(cluster, "LOCAL_EDGES", 10)
    _, log = both(df)
    assert log == [0]
    monkeypatch.setattr(cluster, "LOCAL_EDGES", 9)
    _, log = both(df)
    assert log[0] > 0


def test_pairwise_f1_at_least_099(spark, corpus, result):
    lp = labeled_pairs(result.pairs, truth_view(corpus))
    metrics = pairwise_f1(lp, result.clusters)
    assert metrics["tp"] > 0
    assert metrics["f1"] >= 0.99, metrics


def test_clusters_cover_all_address_spans(result):
    assert result.clusters.count() == result.addresses.count()
    assert result.clusters.where(F.col("component").isNull()).count() == 0


def test_no_dropped_blocks_at_test_scale(result):
    assert result.dropped_blocks.count() == 0


def test_candidate_pair_count_via_observation(result):
    """The match-count metric, computed from the address table's block
    sizes, must equal an explicit count of the pair view."""
    assert result.candidate_pair_count() == result.pairs.count()


def test_candidate_pair_count_snapshot_and_resume(spark, corpus, tmp_path, monkeypatch):
    """With a snapshot dir the metric must equal the pair view's count on
    fresh AND resumed runs — also when oversized blocks are dropped."""
    ckpt = str(tmp_path / "ckpt")
    docs = documents_view(corpus)
    r1 = run_pipeline(spark, docs, checkpoint_dir=ckpt)
    n = r1.pairs.count()
    assert r1.lineage["edges"]["resumed"] is False
    assert r1.candidate_pair_count() == n
    r2 = run_pipeline(spark, docs, checkpoint_dir=ckpt)
    assert r2.lineage["edges"]["resumed"] is True
    assert r2.candidate_pair_count() == n

    # a cap below the largest block drops blocks from the pair universe
    largest = (
        r1.addresses.groupBy("block_key").count().agg(F.max("count")).first()[0]
    )
    capped = str(tmp_path / "capped")
    monkeypatch.setattr(blocking, "MAX_BLOCK_SIZE", largest // 2)
    r3 = run_pipeline(spark, docs, checkpoint_dir=capped)
    assert r3.dropped_blocks.count() > 0
    n3 = r3.pairs.count()
    assert 0 < n3 < n
    assert r3.candidate_pair_count() == n3
    r4 = run_pipeline(spark, docs, checkpoint_dir=capped)
    assert r4.lineage["edges"]["resumed"] is True
    assert r4.candidate_pair_count() == n3


def test_checkpoint_resume(spark, corpus, tmp_path):
    stages = {"addresses", "sim_dims", "edges", "clusters"}
    ckpt = tmp_path / "ckpt"
    docs = documents_view(corpus)
    r1 = run_pipeline(spark, docs, checkpoint_dir=str(ckpt))
    n1 = r1.clusters.count()
    assert r1.lineage["clusters"]["resumed"] is False
    # one snapshot per stage, none a projection of another
    assert {p.name for p in ckpt.iterdir() if p.is_dir()} == stages
    assert set(r1.lineage) == stages
    # second run resumes every stage from its snapshot
    r2 = run_pipeline(spark, docs, checkpoint_dir=str(ckpt))
    assert set(r2.lineage) == stages
    assert all(m["resumed"] is True for m in r2.lineage.values())
    assert r2.clusters.count() == n1
    got1 = dict((r["uid"], r["component"]) for r in r1.clusters.collect())
    got2 = dict((r["uid"], r["component"]) for r in r2.clusters.collect())
    assert got1 == got2


def test_checkpoint_invalidated_by_parameter_change(
    spark, corpus, tmp_path, monkeypatch
):
    """A resumed run with different stage parameters or other documents
    must NOT reuse snapshots built under the old ones (stale sim maps
    silently zero similarities; stale clusters answer for the wrong input);
    the fingerprint check recomputes them instead."""
    ckpt = str(tmp_path / "ckpt")
    docs = documents_view(corpus)
    r1 = run_pipeline(spark, docs, checkpoint_dir=ckpt)
    assert r1.lineage["sim_dims"]["resumed"] is False
    # collect before r3 recomputes: r1.clusters lazily reads the snapshot
    # path that the parameter-changed run overwrites
    got1 = dict((r["uid"], r["component"]) for r in r1.clusters.collect())
    # same params → resumes
    r2 = run_pipeline(spark, docs, checkpoint_dir=ckpt)
    assert r2.lineage["sim_dims"]["resumed"] is True
    # a snapshot whose fingerprint lacks the format tag (as code before
    # the "|addresses/v1,sim_dims/v1" tag wrote it) or that records no
    # fingerprint at all recomputes
    meta_path = os.path.join(ckpt, "sim_dims_metrics.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    # the fingerprint names the input documents: count + Σ xxhash64(row)
    n, h = docs.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*docs.columns).cast("decimal(38,0)")),
    ).first()
    params = "heavy_threshold=256,locale='en-US',max_block_size=100000"
    old_fp = "%d:%s|%s" % (n, h, params)
    assert meta["input_fingerprint"].startswith(old_fp + "|")
    untagged = dict(meta, input_fingerprint=old_fp)
    no_fp = {k: v for k, v in meta.items() if k != "input_fingerprint"}
    for stale in (untagged, no_fp):
        with open(meta_path, "w") as fh:
            json.dump(stale, fh)
        rerun = run_pipeline(spark, docs, checkpoint_dir=ckpt)
        assert rerun.lineage["sim_dims"]["resumed"] is False
        assert {r["uid"]: r["component"] for r in rerun.clusters.collect()} == got1
    # bumping one stage's format recomputes it and every stage built from it
    monkeypatch.setitem(STAGE_FORMATS, "sim_dims", STAGE_FORMATS["sim_dims"] + 1)
    bumped = run_pipeline(spark, docs, checkpoint_dir=ckpt)
    assert {s: m["resumed"] for s, m in bumped.lineage.items()} == {
        "addresses": True, "sim_dims": False, "edges": False, "clusters": False
    }
    assert {r["uid"]: r["component"] for r in bumped.clusters.collect()} == got1
    # different cap → sim_dims/edges-derived stages recompute, while the
    # parameter-independent addresses stage still resumes
    monkeypatch.setattr(blocking, "MAX_BLOCK_SIZE", 50_000)
    r3 = run_pipeline(spark, docs, checkpoint_dir=ckpt)
    assert r3.lineage["addresses"]["resumed"] is True
    assert r3.lineage["sim_dims"]["resumed"] is False
    assert r3.lineage["clusters"]["resumed"] is False
    # no block is near either cap at test scale → identical clusters
    got3 = dict((r["uid"], r["component"]) for r in r3.clusters.collect())
    assert got1 == got3
    # other documents into the same dir → every stage recomputes, and the
    # clusters are those of a fresh run over those documents
    other = docs.where(F.crc32("doc_id") % 2 == 0)
    r4 = run_pipeline(spark, other, checkpoint_dir=ckpt)
    assert not any(m["resumed"] for m in r4.lineage.values())
    fresh = run_pipeline(spark, other)
    got4 = {r["uid"]: r["component"] for r in r4.clusters.collect()}
    assert got4 == {r["uid"]: r["component"] for r in fresh.clusters.collect()}
    assert 0 < len(got4) < len(got1)


def test_incremental_components_equals_full_recompute(spark, result):
    """Contracted-graph update (prior labels as stars ∪ new edges) must
    reproduce the full recompute exactly, for any edge split — including
    batches that merge previously separate clusters."""
    edges = result.edges.withColumn("_h", F.xxhash64("src", "dst"))
    first = edges.where(F.col("_h") % 3 != 0).select("src", "dst")
    second = edges.where(F.col("_h") % 3 == 0).select("src", "dst")
    assert first.count() > 0 and second.count() > 0

    prev = connected_components(first)
    inc = {
        (r["uid"], r["component"])
        for r in incremental_components(prev, second).collect()
    }
    full = {
        (r["uid"], r["component"])
        for r in connected_components(result.edges.select("src", "dst")).collect()
    }
    assert inc == full
    # and against the independent reference: the distributed rounds over
    # the whole edge set (both sides above take the local finish)
    ref = {
        (r["uid"], r["component"])
        for r in _distributed_components(
            result.edges.select("src", "dst")
        ).collect()
    }
    assert inc == ref
    # the split genuinely exercised cross-batch merges (otherwise the test
    # degenerates to relabeling): some prior component must have changed
    prev_map = {r["uid"]: r["component"] for r in prev.collect()}
    assert any(prev_map.get(u) not in (None, c) for u, c in inc)


def test_incremental_components_touched_only_contract(spark):
    """Untouched clusters (incl. cluster_members singletons) pass through
    verbatim; clusters reached by a new edge re-cluster and merge."""

    def labels(rows):
        return spark.createDataFrame(rows, "uid string, component string")

    def edges(rows):
        return spark.createDataFrame(rows, "src string, dst string")

    prev = labels([("a", "a"), ("b", "a"), ("x", "x")])

    # disjoint new pair: prior rows (incl. singleton x) unchanged
    got = {
        (r["uid"], r["component"])
        for r in incremental_components(prev, edges([("c", "d")])).collect()
    }
    assert got == {("a", "a"), ("b", "a"), ("x", "x"), ("c", "c"), ("d", "c")}

    # edge into the singleton: it re-clusters, the {a,b} cluster unchanged
    got = {
        (r["uid"], r["component"])
        for r in incremental_components(prev, edges([("y", "x")])).collect()
    }
    assert got == {("a", "a"), ("b", "a"), ("x", "x"), ("y", "x")}

    # edge bridging both prior clusters: full merge under the min uid
    got = {
        (r["uid"], r["component"])
        for r in incremental_components(prev, edges([("b", "x")])).collect()
    }
    assert got == {("a", "a"), ("b", "a"), ("x", "a")}


def test_bcubed_matches_naive_and_bounds(spark, corpus, result):
    members = cluster_members(result.clusters, result.addresses)
    m = bcubed(members, truth_view(corpus))
    assert 0.0 < m["precision"] <= 1.0 and 0.0 < m["recall"] <= 1.0
    assert m["f1"] >= 0.99, m  # same corpus the pairwise gate passes on

    # exact value check vs a naive per-item computation on a small slice
    t = truth_view(corpus).select(
        F.concat_ws("#", "doc_id", "address_pos").alias("uid"), "entity_id"
    )
    joined = members.join(t, "uid").collect()
    comp = {r["uid"]: r["component"] for r in joined}
    ent = {r["uid"]: r["entity_id"] for r in joined}
    from collections import Counter

    csize = Counter(comp.values())
    esize = Counter(ent.values())
    overlap = Counter((comp[u], ent[u]) for u in comp)
    sp = sum(overlap[(comp[u], ent[u])] / csize[comp[u]] for u in comp)
    sr = sum(overlap[(comp[u], ent[u])] / esize[ent[u]] for u in comp)
    n = len(comp)
    assert abs(m["precision"] - sp / n) < 1e-9
    assert abs(m["recall"] - sr / n) < 1e-9
    assert m["n"] == n


def test_bcubed_empty_join_reports_zero(spark):
    """No clusters⋈truth overlap = broken pipeline → 0.0, never a vacuous
    perfect score."""
    empty = spark.createDataFrame([], "uid string, component string")
    truth = spark.createDataFrame(
        [("d1", 0, 1)], "doc_id string, address_pos int, entity_id long"
    )
    assert bcubed(empty, truth) == {
        "n": 0, "precision": 0.0, "recall": 0.0, "f1": 0.0,
    }
    # uid-format drift: clusters exist but match no truth uid
    drifted = spark.createDataFrame(
        [("d1@0", "d1@0")], "uid string, component string"
    )
    assert bcubed(drifted, truth)["f1"] == 0.0


def test_isolated_nodes_are_singletons(spark):
    docs = documents_view(synth_corpus(spark, 40, seed=7))
    res = run_pipeline(spark, docs)
    singles = (
        res.clusters.groupBy("component").count().where(F.col("count") == 1).count()
    )
    assert singles > 0  # 1-variant entities exist by construction


def test_dedup_chain_quality_survivors(spark):
    """The run_dedup.py composition: detectors -> consensus -> CC ->
    quality-aware survivors. Each cluster keeps exactly one member, and
    that member's quality score is the cluster max (ties -> min doc_id)."""
    from addressit_spark.cluster import connected_components
    from addressit_spark.operators.dedup import (
        choose_survivors,
        minhash_dup_pairs,
        ngram_jaccard_pairs,
        simhash_dup_pairs,
    )
    from addressit_spark.operators.text import quality_score
    from addressit_spark.sources.labeled_dups import synth_labeled_dup_corpus

    docs = synth_labeled_dup_corpus(spark, 60, seed=13)
    detectors = [
        ngram_jaccard_pairs(docs, n=3, min_jaccard=0.2),
        minhash_dup_pairs(docs, k=16, bands=4, n=3, min_est_jaccard=0.5, portable=True),
        simhash_dup_pairs(docs, max_hamming=3, portable=True),
    ]
    tagged = None
    for i, p in enumerate(detectors):
        p = p.select("id_a", "id_b").withColumn("src", F.lit(str(i)))
        tagged = p if tagged is None else tagged.unionByName(p)
    consensus = (
        tagged.groupBy("id_a", "id_b")
        .agg(F.countDistinct("src").alias("n_votes"))
        .where(F.col("n_votes") >= 2)
    )
    edges = consensus.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    clusters = connected_components(edges).select(
        F.col("uid").alias("doc_id"), F.col("component").alias("canonical_id")
    )
    scores = quality_score(docs).select(
        "doc_id", F.col("quality_score").alias("score")
    )
    decisions = choose_survivors(clusters, scores)

    rows = decisions.join(scores, "doc_id", "left").join(
        clusters, "doc_id"
    ).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["canonical_id"], []).append(r)
    assert by_cluster  # consensus found duplicate clusters at these params
    for cid, members in by_cluster.items():
        keepers = [r for r in members if r["keep"]]
        assert len(keepers) == 1, (cid, members)
        k = keepers[0]
        best = max(r["score"] for r in members)
        assert k["score"] == best
        # tie-break: min doc_id among the argmax members
        assert k["doc_id"] == min(
            r["doc_id"] for r in members if r["score"] == best
        )
        assert all(r["survivor_id"] == k["doc_id"] for r in members)


def test_run_dedup_cli_resume_contract(tmp_path):
    """scripts/run_dedup.py: fresh run, full resume with identical counts,
    and policy-change fingerprint invalidation of ONLY the decisions stage."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run(*extra):
        cmd = [
            sys.executable, "scripts/run_dedup.py",
            "--synth-groups", "60", "--output", out,
            "--checkpoint-dir", ckpt, *extra,
        ]
        r = subprocess.run(
            cmd, capture_output=True, text=True, timeout=420, cwd=repo
        )
        assert r.returncode == 0, r.stderr[-2000:]
        with open(out + "/metrics.json") as fh:
            return json.load(fh)

    m1 = run()
    assert m1["n_docs"] > 0 and m1["consensus_pairs"] > 0
    assert m1["cc_rounds"] is not None
    assert all(not v["resumed"] for v in m1["lineage"].values())
    # one keeper per cluster: docs never exceed their cluster count in drops
    assert m1["kept_docs"] == m1["n_docs"] - m1["dropped_docs"]

    m2 = run()
    assert all(v["resumed"] for v in m2["lineage"].values())
    assert m2["cc_rounds"] is None  # fixpoint never re-executed
    for k in ("consensus_pairs", "clustered_docs", "dropped_docs", "kept_docs"):
        assert m2[k] == m1[k], k

    m3 = run("--policy", "min_id")
    assert m3["lineage"]["consensus"]["resumed"]
    assert m3["lineage"]["clusters"]["resumed"]
    assert not m3["lineage"]["decisions"]["resumed"]  # fingerprint changed


def test_run_er_cli_resume_contract(tmp_path):
    """scripts/run_er.py (the spark-submit entry): a fresh run writes
    exactly the four stage snapshots, and a second run resumes every stage
    with the same counts and pairwise F1 ≥ 0.99."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "out")
    ckpt = tmp_path / "ckpt"
    stages = {"addresses", "sim_dims", "edges", "clusters"}

    def run():
        cmd = [
            sys.executable, "scripts/run_er.py",
            "--synth-entities", "200", "--output", out,
            "--checkpoint-dir", str(ckpt),
        ]
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=420, cwd=repo)
        assert r.returncode == 0, r.stderr[-2000:]
        with open(out + "/metrics.json") as fh:
            return json.load(fh)

    m1 = run()
    assert {p.name for p in ckpt.iterdir() if p.is_dir()} == stages
    assert set(m1["lineage"]) == stages
    assert not any(v["resumed"] for v in m1["lineage"].values())
    assert m1["match_edges"] > 0

    m2 = run()
    assert {p.name for p in ckpt.iterdir() if p.is_dir()} == stages
    assert set(m2["lineage"]) == stages
    assert all(v["resumed"] for v in m2["lineage"].values())
    for k in ("match_edges", "clusters"):
        assert m2[k] == m1[k], k
    for m in (m1, m2):
        assert m["pairwise"]["f1"] >= 0.99, m["pairwise"]
