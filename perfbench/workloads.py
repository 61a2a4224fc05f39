"""The three workloads: timed operations, output checks and traced layers.

Each workload function takes a :class:`Ctx` whose inputs are already on
disk, runs its untimed warm-up, times its operation with tracing off,
checks every output, and, in a traced run, replays the operation as
separate calls into each layer under a span. It fills ``ctx.e2e`` and
``ctx.layers``.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Dict, Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from addressit_spark.blocking import address_table, candidate_pairs
from addressit_spark.cluster import (
    cluster_members,
    connected_components,
    incremental_components,
    touched_split,
)
from addressit_spark.evaluation import bcubed, labeled_pairs, pairwise_f1
from addressit_spark.kernel import ADDRESS_FIELDS, parse
from addressit_spark.parse_stage import normalize_documents, parse_spans
from addressit_spark.pipeline import run_pipeline
from addressit_spark.scoring import (
    DEFAULT_TAU,
    match_edges,
    score_pairs_fused,
    surface_sim_map,
)
from addressit_spark.sources.corpus import truth_view
from addressit_spark.streaming import incremental_er

from perfbench import inputs
from perfbench.tracing import MemSampler, Tracer, dir_bytes

# run_pipeline's defaults, repeated so the traced layer calls match them
HEAVY = 256
MAX_BLOCK = 100_000
F1_MIN = 0.99
KERNEL_SAMPLE = 2000  # texts timed through kernel.parse in one process
CHECK_SAMPLE_MOD = 97  # ~1% of text spans compared against kernel.parse

LAYER_UNITS: Dict[str, str] = {
    "parse_stage.self_s": "s",
    "parse_stage.text_spans": "count",
    "parse_stage.address_yield": "ratio",
    "parse_stage.distinct_text_ratio": "ratio",
    "kernel.parse_us": "us",
    "blocking.self_s": "s",
    "blocking.blocks": "count",
    "blocking.max_block_rows": "count",
    "blocking.salted_blocks": "count",
    "blocking.dropped_blocks": "count",
    "blocking.candidate_pairs": "count",
    "scoring.sim_dims_s": "s",
    "scoring.sim_dim_rows": "count",
    "scoring.fused_s": "s",
    "scoring.pairs_per_s": "1/s",
    "scoring.match_ratio": "ratio",
    "cluster.cc_s": "s",
    "cluster.rounds": "count",
    "cluster.edges_in": "count",
    "cluster.components": "count",
    "cluster.inc_fold_s": "s",
    "cluster.touched_ratio": "ratio",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.write_amp": "ratio",
    "checkpoint.resume_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.trigger_overhead_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.state_bytes": "bytes",
    "streaming.touched_state_rows": "count",
    "session.jobs": "count",
    "session.tasks": "count",
    "session.shuffle_write_bytes": "bytes",
    "session.shuffle_read_bytes": "bytes",
    "session.spill_bytes": "bytes",
    "session.gc_s": "s",
    "session.failed_tasks": "count",
    "pipeline.tracing_overhead_s": "s",
}


@dataclass
class Ctx:
    spark: SparkSession
    seed: int
    seconds: float
    trace: bool
    work: str
    jvm_pid: int
    tracer: Tracer
    inputs: Optional[inputs.Inputs] = None
    # the timed operations; a check that fails marks its operation not ok
    ops: List[dict] = field(default_factory=list)
    # epoch-ms window of the measured operation, for event-log counters
    window: Tuple[float, float] = (0.0, 0.0)
    e2e: Dict[str, float] = field(default_factory=dict)
    layers: Dict[str, float] = field(default_factory=dict)
    t_start: float = field(default_factory=time.monotonic)

    def log(self, what: str) -> None:
        """Phase marks on standard error, seconds since the run started."""
        print("[perfbench %.1fs] %s" % (time.monotonic() - self.t_start, what), file=sys.stderr)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    @contextmanager
    def measure(self) -> Iterator[None]:
        """Sample peak memory and record the event-log window of a timed phase."""
        w0 = time.time() * 1000
        with MemSampler(self.jvm_pid) as mem:
            yield
        self.window = (w0, time.time() * 1000)
        self.e2e["peak_pss_mb"] = mem.peak / 2**20

    def timed(self, op: Callable[[int], dict]) -> List[dict]:
        """Run ``op`` at least once and until ``seconds`` have passed.

        An operation that raises counts as failed and ends the loop.
        """
        ops: List[dict] = []
        with self.measure():
            t0 = time.monotonic()
            while not ops or time.monotonic() - t0 < self.seconds:
                try:
                    ops.append(op(len(ops)))
                except Exception as exc:  # the program failed: report it
                    print("operation failed: %r" % exc, file=sys.stderr)
                    ops.append({"ok": False})
                    break
        return ops

    def check(self, op: dict, ok: bool, what: str) -> None:
        if not ok:
            print("check failed: %s" % what, file=sys.stderr)
            op["ok"] = False

    def finish(self, ops: List[dict]) -> List[dict]:
        """Keep the operations for counting; return those that completed."""
        self.ops = ops
        return [o for o in ops if "wall" in o]

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if not o.get("ok", True))


def _median(xs: List[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def kernel_parse_us(spans: DataFrame, seed: int) -> float:
    """Single-process µs per ``kernel.parse`` call on the workload's texts."""
    texts = [
        r[0]
        for r in spans.where(F.col("kind") == "text")
        .select("text")
        .orderBy(F.xxhash64(F.lit(seed), "text"))
        .limit(KERNEL_SAMPLE)
        .collect()
    ]
    per_rep = []
    for _ in range(3):
        t0 = time.perf_counter()
        for t in texts:
            parse(t)
        per_rep.append((time.perf_counter() - t0) / max(len(texts), 1) * 1e6)
    return _median(per_rep)


# ---------------------------------------------------------------------------
# Traced layer calls (shared by the batch and incremental replays)
# ---------------------------------------------------------------------------


def trace_parse(ctx: Ctx, docs: DataFrame) -> DataFrame:
    """parse_stage span: parse every span, then project the address table."""
    with ctx.tracer.span("parse_stage"):
        parsed = parse_spans(docs).localCheckpoint(eager=True)
        addresses = address_table(parsed).localCheckpoint(eager=True)
    parse_counts(ctx, parsed)
    return addresses


def parse_counts(ctx: Ctx, parsed: DataFrame) -> None:
    """parse_stage self time, text spans, street yield and distinct texts."""
    row = (
        parsed.where(F.col("kind") == "text")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.coalesce(F.col("address.street"), F.lit("")) != "").cast("int")
            ).alias("street"),
            F.countDistinct("text").alias("distinct"),
        )
        .collect()[0]
    )
    n = row["n"] or 0
    ctx.layers["parse_stage.self_s"] = ctx.tracer.self_seconds("parse_stage")
    ctx.layers["parse_stage.text_spans"] = n
    ctx.layers["parse_stage.address_yield"] = (row["street"] or 0) / max(n, 1)
    ctx.layers["parse_stage.distinct_text_ratio"] = (row["distinct"] or 0) / max(n, 1)


def trace_block_score(ctx: Ctx, addresses: DataFrame) -> DataFrame:
    """blocking, scoring.sim_dims and scoring.fused spans; returns edges."""
    L, tr = ctx.layers, ctx.tracer
    with tr.span("blocking"):
        sizes = (
            addresses.groupBy("block_key")
            .agg(F.count(F.lit(1)).alias("rows"))
            .agg(
                F.count(F.lit(1)).alias("blocks"),
                F.max("rows").alias("max_rows"),
                F.sum((F.col("rows") > HEAVY).cast("int")).alias("salted"),
                F.sum((F.col("rows") > MAX_BLOCK).cast("int")).alias("dropped"),
            )
            .collect()[0]
        )
        pairs, _ = candidate_pairs(
            addresses, heavy_threshold=HEAVY, max_block_size=MAX_BLOCK
        )
        # a checksum over the pair ids, so no pair column can be pruned
        n_pairs = pairs.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64("uid_a", "uid_b").cast("decimal(38,0)")),
        ).collect()[0][0]
    L["blocking.self_s"] = tr.self_seconds("blocking")
    L["blocking.blocks"] = sizes["blocks"] or 0
    L["blocking.max_block_rows"] = sizes["max_rows"] or 0
    L["blocking.salted_blocks"] = sizes["salted"] or 0
    L["blocking.dropped_blocks"] = sizes["dropped"] or 0
    L["blocking.candidate_pairs"] = n_pairs

    with tr.span("scoring.sim_dims"):
        sims = surface_sim_map(
            addresses, max_block_size=MAX_BLOCK, max_block_surfaces=HEAVY
        ).localCheckpoint(eager=True)
    L["scoring.sim_dims_s"] = tr.self_seconds("scoring.sim_dims")
    L["scoring.sim_dim_rows"] = sims.count()

    obs = Observation()
    with tr.span("scoring.fused"):
        scored, _ = score_pairs_fused(
            addresses, heavy_threshold=HEAVY, max_block_size=MAX_BLOCK, sims=sims
        )
        scored = scored.observe(obs, F.count(F.lit(1)).alias("n"))
        edges = match_edges(scored, DEFAULT_TAU).localCheckpoint(eager=True)
    fused_s = tr.self_seconds("scoring.fused")
    scored_n = obs.get["n"]
    L["scoring.fused_s"] = fused_s
    L["scoring.pairs_per_s"] = scored_n / fused_s if fused_s > 0 else 0.0
    L["scoring.match_ratio"] = edges.count() / max(scored_n, 1)
    return edges


def _overhead(ctx: Ctx, traced_span: str, untraced_wall: float) -> None:
    traced = [s for s in ctx.tracer.spans if s["name"] == traced_span][-1]
    ctx.layers["pipeline.tracing_overhead_s"] = (
        traced["end"] - traced["start"] - untraced_wall  # type: ignore[operator]
    )


# ---------------------------------------------------------------------------
# er_batch
# ---------------------------------------------------------------------------


def er_batch(ctx: Ctx) -> None:
    spark = ctx.spark
    docs = spark.read.parquet(ctx.inputs.documents)
    truth = truth_view(spark.read.parquet(ctx.inputs.corpus))

    def op(i: int) -> dict:
        ck, out = ctx.path("ckpt-%d" % i), ctx.path("clusters-%d" % i)
        t0 = time.monotonic()
        res = run_pipeline(spark, docs, checkpoint_dir=ck)
        res.clusters.write.parquet(out)
        wall = time.monotonic() - t0
        return {"wall": wall, "res": res, "ck": ck, "out": out}

    # untimed reference run at set-up, on the same code path as the timed
    # ones, so it also warms up the JVM, the workers and the checkpoint writes
    ref = spark.read.parquet(op(-1)["out"])
    ref_clusters = ref.select("component").distinct().count()
    ctx.log("reference run done")

    ops = ctx.timed(op)
    ctx.log("timed phase done: %s" % ", ".join("%.2f" % o["wall"] for o in ops if "wall" in o))
    f1s = []
    for o in ops:
        if "wall" not in o:
            continue
        clusters = spark.read.parquet(o["out"])
        f1 = pairwise_f1(labeled_pairs(o["res"].pairs, truth), clusters)["f1"]
        n = clusters.select("component").distinct().count()
        f1s.append(f1)
        ctx.check(o, f1 >= F1_MIN, "pairwise F1 %.4f < %.2f" % (f1, F1_MIN))
        ctx.check(o, n == ref_clusters, "%d clusters, reference %d" % (n, ref_clusters))
    ctx.log("checks done")
    done = ctx.finish(ops)
    walls = [o["wall"] for o in done]
    ctx.e2e["wall_s"] = _median(walls)
    # documents, not candidate pairs: a blocking change that scores fewer
    # pairs must read as faster here (scoring.pairs_per_s tracks pairs)
    n_docs = docs.count()
    ctx.e2e["items_per_s"] = _median([n_docs / o["wall"] for o in done])
    ctx.e2e["quality"] = _median(f1s)
    if not ctx.trace or not done:
        return

    L = ctx.layers
    with ctx.tracer.span("pipeline"):
        addresses = trace_parse(ctx, docs)
        edges = trace_block_score(ctx, addresses)
        rounds: List[int] = []
        with ctx.tracer.span("cluster"):
            comps = connected_components(edges, round_log=rounds)
            clusters = cluster_members(comps, addresses).localCheckpoint(eager=True)
    _overhead(ctx, "pipeline", ctx.e2e["wall_s"])
    L["cluster.cc_s"] = ctx.tracer.self_seconds("cluster")
    L["cluster.rounds"] = rounds[0] if rounds else 0
    L["cluster.edges_in"] = edges.count()
    n_comp = clusters.select("component").distinct().count()
    L["cluster.components"] = n_comp
    ctx.check(done[-1], n_comp == ref_clusters,
              "traced layers gave %d clusters, reference %d" % (n_comp, ref_clusters))

    ck = done[-1]["ck"]
    L["checkpoint.bytes_written"] = dir_bytes(ck)
    L["checkpoint.write_amp"] = dir_bytes(ck) / max(dir_bytes(ctx.inputs.documents), 1)
    with ctx.tracer.span("checkpoint.resume"):
        res = run_pipeline(spark, docs, checkpoint_dir=ck)
        res.clusters.write.parquet(ctx.path("clusters-resumed"))
    L["checkpoint.resume_s"] = ctx.tracer.self_seconds("checkpoint.resume")
    ctx.check(done[-1], all(m.get("resumed") for m in res.lineage.values()),
              "a stage was recomputed on resume")
    L["kernel.parse_us"] = kernel_parse_us(normalize_documents(docs), ctx.seed)


# ---------------------------------------------------------------------------
# parse_only
# ---------------------------------------------------------------------------

OUT_COLS = ["doc_id", "pos", "kind", "text", "media_ref", "address"]


def _digest(spans: DataFrame) -> Tuple[int, int]:
    """Row count and order-free checksum of (doc_id, pos, kind, text, media_ref).

    Equal digests mean equal span sequences: ``pos`` carries the order.
    """
    row = spans.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*OUT_COLS[:5]).cast("decimal(38,0)")),
    ).collect()[0]
    return row[0], row[1]


def parse_only(ctx: Ctx) -> None:
    spark = ctx.spark
    raw = spark.read.parquet(ctx.inputs.documents)
    docs = raw.select("doc_id", "spans")

    def parse_to(out: str) -> None:
        parse_spans(docs).select(*OUT_COLS).write.mode("overwrite").parquet(out)

    parse_to(ctx.path("warmup"))  # untimed warm-up

    def op(i: int) -> dict:
        out = ctx.path("parsed-%d" % i)
        t0 = time.monotonic()
        parse_to(out)
        return {"wall": time.monotonic() - t0, "out": out}

    ctx.log("warm-up done")
    ops = ctx.timed(op)
    ctx.log("timed phase done: %s" % ", ".join("%.2f" % o["wall"] for o in ops if "wall" in o))
    spans_in = normalize_documents(docs).select(*OUT_COLS[:5])
    n_text = spans_in.where(F.col("kind") == "text").count()
    want = _digest(spans_in)
    for o in ops:
        if "wall" not in o:
            continue
        out = spark.read.parquet(o["out"])
        ctx.check(o, _digest(out.select(*OUT_COLS[:5])) == want,
                  "span sequences (kind, text, media_ref, order) differ from the input")
        sample = (
            out.where(
                (F.col("kind") == "text")
                & (F.pmod(F.xxhash64(F.lit(ctx.seed), "doc_id", "pos"),
                          F.lit(CHECK_SAMPLE_MOD)) == 0)
            )
            .select("text", "address")
            .collect()
        )
        bad = [
            r["text"]
            for r in sample
            if {f: r["address"][f] for f in ADDRESS_FIELDS}
            != {f: parse(r["text"])[f] for f in ADDRESS_FIELDS}
        ]
        ctx.check(o, bool(sample) and not bad,
                  "%d of %d sampled rows differ from kernel.parse" % (len(bad), len(sample)))
    # share of ground-truth address spans that parse to a street + locality
    # (a property of the output, so read from the last operation's)
    quality = 0.0
    if "out" in ops[-1]:
        addr = spark.read.parquet(ops[-1]["out"]).join(
            raw.select("doc_id", F.col("address_pos").alias("pos")), ["doc_id", "pos"]
        )
        ok = (F.coalesce(F.col("address.street"), F.lit("")) != "") & (
            F.size("address.regions") > 0
        )
        quality = addr.agg(F.avg(ok.cast("double"))).collect()[0][0]
    ctx.log("checks done")
    done = ctx.finish(ops)
    ctx.e2e["wall_s"] = _median([o["wall"] for o in done])
    ctx.e2e["items_per_s"] = _median([n_text / o["wall"] for o in done])
    ctx.e2e["quality"] = quality
    if not ctx.trace or not done:
        return

    with ctx.tracer.span("pipeline"):
        with ctx.tracer.span("parse_stage"):
            parse_to(ctx.path("parsed-traced"))
    _overhead(ctx, "pipeline", ctx.e2e["wall_s"])
    parse_counts(ctx, spark.read.parquet(ctx.path("parsed-traced")))
    ctx.layers["kernel.parse_us"] = kernel_parse_us(spans_in, ctx.seed)


# ---------------------------------------------------------------------------
# er_incremental
# ---------------------------------------------------------------------------


def _live_labels(spark: SparkSession, clusters_dir: str, below: Optional[int] = None):
    c = spark.read.parquet(clusters_dir)
    if below is not None:
        c = c.where(F.col("batch_id") < below)
    last = c.agg(F.max("batch_id")).collect()[0][0]
    return c.where(F.col("batch_id") == last).select("uid", "component")


def er_incremental(ctx: Ctx) -> None:
    spark = ctx.spark
    snap_docs = spark.read.parquet(ctx.inputs.documents).drop("ingest_ts")

    # untimed set-up: the snapshot's address table, edges and labels, pinned
    # in parquet so the stream reads them like a persisted state would be
    address_table(parse_spans(snap_docs)).write.parquet(ctx.path("snap_addrs"))
    snap_addrs = spark.read.parquet(ctx.path("snap_addrs"))
    match_edges(score_pairs_fused(snap_addrs)[0]).write.parquet(ctx.path("snap_edges"))
    snap_edges = spark.read.parquet(ctx.path("snap_edges"))
    connected_components(snap_edges).write.parquet(ctx.path("snap_labels"))
    snap_labels = spark.read.parquet(ctx.path("snap_labels"))
    ctx.log("snapshot state built")

    stream = ctx.inputs.stream
    stream_schema = spark.read.parquet(stream).schema
    dirs = {k: ctx.path(k) for k in ("state", "edges", "labels", "ckpt")}

    def start():
        sdf = (
            spark.readStream.schema(stream_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream)
        )
        return incremental_er(
            sdf, snap_addrs, dirs["state"], dirs["edges"], dirs["ckpt"],
            clusters_dir=dirs["labels"], snapshot_labels=snap_labels,
        )

    with ctx.measure():
        # closed loop from one process: every file already sits in the
        # source directory, and availableNow with maxFilesPerTrigger=1 runs
        # them as consecutive micro-batches, each after the last completes
        q = start()
        q.awaitTermination()
    batches = [p for p in q.recentProgress if p.numInputRows > 0]
    ctx.log("stream done: batches %s" % ", ".join(
        "%.2f" % (p.durationMs["triggerExecution"] / 1000.0) for p in batches))
    # the leading micro-batches warm the per-batch plans up and are not
    # counted: the third batch of a fresh query still ran ~1 s faster than
    # the second, and spread half as much from run to run
    ops = [{"wall": p.durationMs["triggerExecution"] / 1000.0, "p": p}
           for p in batches[inputs.INC_WARMUP_BATCHES:]]
    ops += [{"ok": False}] * (inputs.INC_BATCHES - inputs.INC_WARMUP_BATCHES - len(ops))
    ok = q.exception() is None and len(batches) == inputs.INC_BATCHES
    quality = 0.0
    if ok:
        # the live labeling must equal a batch CC over every edge so far
        live = _live_labels(spark, dirs["labels"])
        all_edges = snap_edges.select("src", "dst").unionByName(
            spark.read.parquet(dirs["edges"]).select("src", "dst")
        )
        ref = connected_components(all_edges)
        ok = live.exceptAll(ref).isEmpty() and ref.exceptAll(live).isEmpty()
        state = spark.read.parquet(dirs["state"])
        truth = truth_view(spark.read.parquet(ctx.inputs.corpus))
        quality = bcubed(cluster_members(live, state), truth)["f1"]
    ctx.log("checks done")
    for o in ops:
        ctx.check(o, ok, "stream failed or live labels differ from a batch CC")
    done = ctx.finish(ops)
    ctx.e2e["wall_s"] = _median([o["wall"] for o in done])
    ctx.e2e["items_per_s"] = sum(o["p"].numInputRows for o in done) / max(
        sum(o["wall"] for o in done), 1e-9
    )
    ctx.e2e["quality"] = quality
    if not ctx.trace or not done:
        return

    L = ctx.layers
    L["streaming.add_batch_s"] = _median([o["p"].durationMs["addBatch"] / 1000.0 for o in done])
    L["streaming.trigger_overhead_s"] = _median(
        [(o["p"].durationMs["triggerExecution"] - o["p"].durationMs["addBatch"]) / 1000.0
         for o in done]
    )
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    L["streaming.jobs_per_batch"] = len(jobs) / len(batches)
    L["streaming.state_bytes"] = dir_bytes(dirs["state"])
    state = spark.read.parquet(dirs["state"])
    batch_ids = sorted(o["p"].batchId for o in done)
    touched_rows = []
    for b in batch_ids:
        new_keys = state.where(F.col("batch_id") == b).select("block_key").distinct()
        touched_rows.append(
            state.where(F.col("batch_id") < b).join(new_keys, "block_key", "left_semi").count()
        )
    L["streaming.touched_state_rows"] = _median(touched_rows)
    written = sum(dir_bytes(d) for d in dirs.values())
    L["checkpoint.bytes_written"] = written
    L["checkpoint.write_amp"] = written / max(
        dir_bytes(ctx.inputs.documents) + dir_bytes(stream), 1
    )
    labels_before = _live_labels(spark, dirs["labels"]).localCheckpoint(eager=True)
    with ctx.tracer.span("checkpoint.resume"):
        # restart on the same checkpoint with no new files: re-seeds the
        # snapshot partitions and commits no batch
        q2 = start()
        q2.awaitTermination()
    L["checkpoint.resume_s"] = ctx.tracer.self_seconds("checkpoint.resume")
    after = _live_labels(spark, dirs["labels"])
    ctx.check(done[-1], q2.exception() is None and after.exceptAll(labels_before).isEmpty()
              and labels_before.exceptAll(after).isEmpty(), "labels changed on restart")

    # replay the last micro-batch as separate layer calls under spans
    last = batch_ids[-1]
    state = spark.read.parquet(dirs["state"])  # the restart rewrote the seed
    # batch ids count from 0, one per file, so batch ``last`` is file ``last``
    batch_docs = spark.read.parquet(inputs.stream_file(stream, last))
    with ctx.tracer.span("microbatch"):
        new = trace_parse(ctx, batch_docs.drop("ingest_ts"))
        with ctx.tracer.span("streaming.touched_state"):
            touched = state.where(F.col("batch_id") < last).join(
                new.select("block_key").distinct(), "block_key", "left_semi"
            )
            universe = new.unionByName(touched.select(*new.columns)).localCheckpoint(
                eager=True
            )
        edges = trace_block_score(ctx, universe)
        new_uids = new.select(F.col("uid").alias("_nu"))
        inc = (
            edges.join(new_uids, edges.src == F.col("_nu"), "left_semi")
            .unionByName(edges.join(new_uids, edges.dst == F.col("_nu"), "left_semi"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        prev = _live_labels(spark, dirs["labels"], below=last).localCheckpoint(eager=True)
        with ctx.tracer.span("cluster.inc_fold"):
            incremental_components(prev, inc).localCheckpoint(eager=True)
    _overhead(ctx, "microbatch", ctx.e2e["wall_s"])
    L["cluster.inc_fold_s"] = ctx.tracer.self_seconds("cluster.inc_fold")
    touched_labels, _ = touched_split(prev, inc)
    L["cluster.touched_ratio"] = touched_labels.count() / max(prev.count(), 1)
    L["kernel.parse_us"] = kernel_parse_us(normalize_documents(batch_docs), ctx.seed)


WORKLOADS = {
    "er_batch": er_batch,
    "parse_only": parse_only,
    "er_incremental": er_incremental,
}
