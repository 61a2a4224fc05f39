"""Transitive clustering: connected components with a driver-side finish.

:func:`connected_components` has two paths with one output contract,
``(uid, component)`` with component = the component's min uid:

* **Local finish** (edge sets of at most ``LOCAL_EDGES`` = 2^20 edges —
  every edge set at bench sizes and the typical incremental fold). One
  job with no shuffle pulls at most ``LOCAL_EDGES + 1`` non-self-loop
  edges to the driver through Arrow; if they all came back, a
  path-halving union-find labels them (the smaller root always wins, so
  each root is its component's min uid), and the labels come back
  through an Arrow ``createDataFrame``. This is the
  "finish in memory" step of the log-round CC line of work ("Finding
  connected components in map-reduce in logarithmic rounds", ICDE 2013;
  Kiveris et al.): at small sizes the distributed rounds cost ~30 jobs of
  fixed overhead for a graph one process labels in milliseconds. Driver
  memory at the cap: the union-find over 2^20 random edges of 16-character
  uids held ~310 MB of Python objects (input lists included), plus the
  Arrow transfer buffers.
* **Distributed** (:func:`_distributed_components`, larger edge sets): the
  alternating large-star/small-star algorithm of Kiveris et al.,
  "Connected Components in MapReduce and Beyond" — O(log² n) rounds, in
  practice 2-4 for blocking-derived near-clique graphs. Pure DataFrame
  joins + aggregations (no GraphX, no ``collect_list`` of neighborhoods,
  so a single giant component cannot OOM one task). The path stays the
  one used at scale and the reference the local finish is tested against.
  It pays the probe first, a bounded cost: on 1.5M string edges in 4
  partitions (local[4], 4-core host) the probe took 2.5-2.8 s and
  shuffled nothing.

* large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
* small-star(u): over Γ≤(u) = {v ∈ Γ(u): v ≤ u}: m = min(Γ≤(u) ∪ {u});
  emit (v, m) for v ∈ Γ≤(u) ∪ {u}, v ≠ m

Each distributed round materializes via ``localCheckpoint`` to truncate
lineage (the iterative self-join would otherwise stack an exponential
plan), and convergence is a count+checksum fixpoint over the canonicalized
edge set, read as ``observe`` metrics from the SAME checkpoint job — one
job per round, no second aggregation pass, no driver-side graph state. The
iteration's fixpoint is exactly a min-rooted star forest, and that shape
is directly testable with one cheap degree aggregation (:func:`_is_star_
forest`): when a round leaves the edge COUNT unchanged (the observe metric
we already have), the kernel runs the shape test and stops immediately on
success — saving the full O(E) confirmation round (≈5 exchanges) that the
checksum fixpoint would otherwise pay, at the cost of a 1-shuffle degree
check; rounds whose count still shrinks never pay the check. A run that
exhausts ``max_rounds`` without reaching the fixpoint raises instead of
labelling a non-fixpoint edge set.

The iterated rounds run on join-assigned 8-byte long node ids, not the span
uid strings: a ~40-byte uid would otherwise ride every one of the O(log n)
shuffles twice per edge (CC is the only log-round iterated shuffle in the
pipeline, so its per-round bytes dominate at 10^12 nodes). The id dim is
``monotonically_increasing_id`` over the distinct node table, pinned with an
eager ``localCheckpoint`` so recomputation cannot reassign ids mid-job.
Join-assigned ids are collision-free by construction — xxhash64 ids would
risk ~n²/2^65 collisions, i.e. tens of thousands of wrongly merged clusters
at 10^12 nodes. Because the long order is arbitrary (NOT the uid order), the
fixpoint's min-long roots are relabeled afterwards with one groupBy: each
component's label is the min *uid string* over its members, preserving the
public contract exactly.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# edge-count cap for the driver-side union-find in connected_components
LOCAL_EDGES = 1 << 20


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (small, large) order, no self-loops."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    # Hub-skew posture at mega-components (a 10^9-member boilerplate
    # cluster contracts toward one hot root): the min-neighbor groupBy
    # collapses hot keys map-side (partial agg — one row per key per
    # partition reaches the shuffle), and the star join against `mins`
    # is unique-per-key on the build side, exactly the shape AQE's
    # skewJoin splits at runtime (enabled in session.py / run_er.py).
    und = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = und.groupBy("src").agg(F.min("dst").alias("min_nbr"))
    mins = mins.select(
        "src", F.least("min_nbr", F.col("src")).alias("m")
    )
    return (
        und.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    und = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    small = und.where(F.col("dst") <= F.col("src"))
    mins = small.groupBy("src").agg(F.min("dst").alias("m"))
    emitted = small.join(mins, "src").select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    self_edges = mins.select(F.col("src"), F.col("m").alias("dst"))
    return emitted.union(self_edges).where(F.col("src") != F.col("dst"))


def _checkpoint_with_fingerprint(edges: DataFrame):
    """Materialize a round's edge set and read its fixpoint fingerprint
    from the SAME pass.

    The convergence check (count + order-insensitive checksum) rides the
    eager ``localCheckpoint`` job as ``observe`` metrics, so each CC round
    costs exactly one job — not a checkpoint job plus a second scan-and-agg
    job over the checkpointed data. Returns (checkpointed_edges, (n, sum)).
    """
    obs = Observation()
    observed = edges.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        # decimal(38) accumulator: immune to ANSI long-overflow at any scale
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("checksum"),
    )
    ck = observed.localCheckpoint(eager=True)
    m = obs.get  # already populated: the eager checkpoint ran the plan
    return ck, (m["n"], m["checksum"])


def _is_star_forest(edges: DataFrame) -> bool:
    """True iff the canonical edge set is a min-rooted star forest — the
    exact fixpoint of the large-star/small-star iteration.

    In canonical (src < dst) form a min-rooted star forest is precisely:
    every node is EITHER a hub (appears only as src) or a leaf with exactly
    one edge (appears exactly once, as dst). Source/destination
    disjointness alone is NOT sufficient — e.g. {(1,3),(2,3)} has disjoint
    src/dst sets but is a path, not a star (node 3 is a leaf twice) — so
    the check also requires dst-uniqueness. One union (map-side) + one
    groupBy shuffle + isEmpty: ~a fifth of a full round's exchange count.
    """
    stats = (
        edges.select(F.col("dst").alias("node"), F.lit(1).alias("d"))
        .unionAll(edges.select(F.col("src").alias("node"), F.lit(0).alias("d")))
        .groupBy("node")
        .agg(F.sum("d").alias("d"), F.count(F.lit(1)).alias("c"))
    )
    violations = stats.where(
        (F.col("d") > 1) | ((F.col("d") >= 1) & (F.col("c") > F.col("d")))
    )
    return violations.isEmpty()


def _node_ids(edges: DataFrame) -> DataFrame:
    """Dim table (uid:string, nid:long) over every node in the edge set.

    ``monotonically_increasing_id`` is deterministic only for a fixed
    partition layout, so the dim is eagerly localCheckpoint-ed: every
    downstream read sees one frozen assignment.
    """
    nodes = (
        edges.select(F.col("src").alias("uid"))
        .union(edges.select(F.col("dst").alias("uid")))
        .distinct()
    )
    return nodes.select(
        "uid", F.monotonically_increasing_id().alias("nid")
    ).localCheckpoint(eager=True)


def _union_find_labels(src: list, dst: list) -> "tuple[list, list]":
    """Path-halving union-find over an edge list → (uids, min-uid labels).

    Union always hangs the larger root under the smaller, so every root is
    the min of its set and the final find of a node is its label.
    """
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src, dst):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    uids = list(parent)
    return uids, [find(u) for u in uids]


def _local_components(edges: DataFrame, cap: int) -> Optional[DataFrame]:
    """Label ``edges`` on the driver if it has at most ``cap`` non-self-loop
    edges, else None.

    One job pulls at most ``cap + 1`` edges through Arrow. ``coalesce(1)``
    puts the limit on a single partition, so the collect needs no exchange
    and its one task stops reading after ``cap + 1`` edges: above the cap
    the probe costs that serial read and pull, whatever the size of the
    edge set, and shuffles nothing. The labels return through Arrow too.

    Self-loops and NULL endpoints are dropped before the probe, exactly as
    the distributed path drops them, so a node whose only edge is a
    self-loop is absent from both outputs.
    """
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    pdf = e.coalesce(1).limit(cap + 1).toPandas()
    if len(pdf) > cap:
        return None
    uids, comps = _union_find_labels(pdf["src"].tolist(), pdf["dst"].tolist())
    node = e.schema["src"].dataType
    schema = StructType(
        [StructField("uid", node), StructField("component", node)]
    )
    return edges.sparkSession.createDataFrame(
        pd.DataFrame({"uid": uids, "component": comps}), schema
    )


def connected_components(
    edges: DataFrame,
    max_rounds: int = 48,
    round_log: Optional[list] = None,
) -> DataFrame:
    """(src, dst) edge list → (uid, component) with component = min uid.

    Nodes that appear in no edge (or only in self-loops) are absent;
    callers union isolated nodes with ``component = uid`` (see pipeline).
    ``uid`` and ``component`` keep the type of the ``src`` column.

    Edge sets of at most ``LOCAL_EDGES`` non-self-loop edges (2^20) are
    labelled on the driver by :func:`_local_components`: one Arrow pull,
    a union-find, and no round — ``round_log`` gets 0. At the cap that
    holds up to ~2M uid values plus the parent map in driver memory
    (~310 MB for 16-character uids). A larger edge set pays the probe (one
    job that reads and pulls ``LOCAL_EDGES + 1`` edges in one task, no
    shuffle) and then runs :func:`_distributed_components`.

    ``round_log`` and ``max_rounds`` apply to the distributed rounds; see
    :func:`_distributed_components`.
    """
    local = _local_components(edges, LOCAL_EDGES)
    if local is None:
        return _distributed_components(edges, max_rounds, round_log)
    if round_log is not None:
        round_log.append(0)
    return local


def _distributed_components(
    edges: DataFrame,
    max_rounds: int = 48,
    round_log: Optional[list] = None,
) -> DataFrame:
    """The large-star/small-star rounds: the :func:`connected_components`
    path above ``LOCAL_EDGES``, and the reference the local finish is
    tested against. Same input and output contract.

    ``round_log`` (optional): the number of executed rounds is appended to
    it — the observable for the O(log² n) worst-case contract test. Each
    round costs one job via :func:`_checkpoint_with_fingerprint`; once a
    round leaves the edge count unchanged, the star-forest shape test
    (:func:`_is_star_forest`) replaces the full confirmation round the
    checksum fixpoint would pay. If ``max_rounds`` (default 48 ≥
    ⌈log₂ 10^12⌉ + 2) pass without a fixpoint, raises ``RuntimeError``
    rather than label a non-fixpoint edge set.
    """
    ids = _node_ids(edges)
    # translate the edge list to 8-byte ids once; every iterated shuffle
    # after this moves 16-byte rows instead of two uid strings
    long_edges = (
        edges.join(ids.withColumnsRenamed({"uid": "src", "nid": "_s"}), "src")
        .join(ids.withColumnsRenamed({"uid": "dst", "nid": "_d"}), "dst")
        .select(F.col("_s").alias("src"), F.col("_d").alias("dst"))
    )
    cur, prev_fp = _checkpoint_with_fingerprint(_canonical(long_edges))
    rounds = 0
    for _ in range(max_rounds):
        cur, fp = _checkpoint_with_fingerprint(
            _canonical(_small_star(_large_star(cur)))
        )
        rounds += 1
        if fp == prev_fp:
            break
        count_stable = fp[0] == prev_fp[0]
        prev_fp = fp
        if count_stable and _is_star_forest(cur):
            # exact fixpoint shape reached: skip the confirmation round
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after max_rounds={max_rounds}"
        )
    if round_log is not None:
        round_log.append(rounds)
    # Fixpoint is a star forest rooted at each component's min; in canonical
    # (src < dst) order the root is src: members point at src, roots at self.
    members = cur.select(F.col("dst").alias("nid"), F.col("src").alias("comp")).union(
        cur.select(F.col("src").alias("nid"), F.col("src").alias("comp"))
    )
    members = members.groupBy("nid").agg(F.min("comp").alias("comp"))
    # long ids are arbitrary order — restore the min-UID-string label with
    # one relabel pass: uid back on, then min(uid) per long component
    with_uid = members.join(ids, "nid").select("uid", "comp")
    roots = with_uid.groupBy("comp").agg(F.min("uid").alias("component"))
    return with_uid.join(roots, "comp").select("uid", "component")


def touched_split(
    prev_labels: DataFrame, new_edges: DataFrame
) -> "tuple[DataFrame, DataFrame]":
    """Split a labeling into (touched, untouched) clusters w.r.t. new edges.

    A cluster is *touched* iff any member uid is an endpoint of a new edge —
    only touched clusters can merge with anything. The single source of
    truth for both :func:`incremental_components` and the ``--inc-cc`` bench
    counter, so the reported work metric always describes the executed
    split. ``touched_comps`` is batch-sized (tiny next to the labeling);
    AQE turns the two joins into broadcasts at runtime, so the full-label
    pass is a scan, not a shuffle.
    """
    new_nodes = (
        new_edges.select(F.col("src").alias("uid"))
        .union(new_edges.select(F.col("dst").alias("uid")))
        .distinct()
    )
    touched_comps = (
        prev_labels.join(new_nodes, "uid", "left_semi")
        .select("component")
        .distinct()
    )
    touched = prev_labels.join(touched_comps, "component", "left_semi")
    untouched = prev_labels.join(touched_comps, "component", "left_anti")
    return touched, untouched


def incremental_components(prev_labels: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Fold a batch of new edges into an existing labeling without
    re-clustering the full edge history.

    ``prev_labels`` is a prior ``connected_components`` output
    ``(uid, component)``; the update runs CC over the CONTRACTED graph —
    each prior cluster collapsed to the star ``member → label`` — unioned
    with the new edges. That graph has the same transitive closure as
    ``old_edges ∪ new_edges`` (a star is connectivity-equivalent to any
    spanning structure of its cluster, and min-label roots are preserved
    because each star keeps its cluster's min uid as the hub), so the
    result equals a full recompute (asserted in tests): the streaming
    companion to ``incremental_er`` — per micro-batch, cluster the
    accumulated graph by contracting yesterday's labels instead of
    re-reading the whole edge log.

    Only clusters TOUCHED by a new edge enter the CC — a cluster none of
    whose members is a new-edge endpoint cannot merge with anything, so
    its rows pass through unchanged. The CC cost is therefore
    O(touched-cluster members + new edges), not O(all labeled nodes): at
    10^12 accumulated nodes a micro-batch re-clusters only the few blocks'
    worth of clusters its edges reach, and while that contracted graph
    has at most ``LOCAL_EDGES`` edges it is labelled by the driver-side
    union-find of :func:`connected_components`, with no rounds. The full
    labeling is still read and re-emitted once per call (a scan + the
    broadcast-side semi/anti joins of :func:`touched_split` — map-side,
    no shuffle); ``incremental_er`` bounds the on-disk side by pruning
    superseded label partitions. Untouched rows pass through verbatim —
    including singleton rows if ``prev_labels`` came from
    ``cluster_members``; touched output, like ``connected_components``,
    contains exactly the edge-connected nodes.
    """
    e = new_edges.select("src", "dst")
    touched, untouched = touched_split(prev_labels, e)
    star = touched.where(F.col("uid") != F.col("component")).select(
        F.col("uid").alias("src"), F.col("component").alias("dst")
    )
    return connected_components(star.unionByName(e)).unionByName(
        untouched.select("uid", "component")
    )


def cluster_members(components: DataFrame, all_nodes: DataFrame) -> DataFrame:
    """Attach isolated nodes (uid with no match edge) as singleton clusters."""
    return (
        all_nodes.select("uid")
        .join(components, "uid", "left")
        .select(
            "uid",
            F.coalesce("component", F.col("uid")).alias("component"),
        )
    )
