"""Structured Streaming: batch/stream parity with availableNow triggers."""

import pytest

from pyspark.sql import functions as F

from addressit_spark import blocking
from addressit_spark.blocking import address_table
from addressit_spark.parse_stage import parse_spans
from addressit_spark.sources.corpus import documents_view, synth_corpus
from addressit_spark.streaming import (
    running_block_counts,
    stream_documents,
    streaming_block_stats,
    streaming_exact_dedup,
    streaming_parse,
    streaming_session_stats,
)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """Corpus written as a parquet dir with a constant event-time column."""
    path = str(tmp_path_factory.mktemp("streamsrc") / "docs")
    docs = documents_view(synth_corpus(spark, 300, seed=42)).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.crc32("doc_id") % 300)
    )
    docs.write.mode("overwrite").parquet(path)
    return path


def _run_stream(spark, sdf, name, mode="append"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_parse_matches_batch(spark, stream_dir):
    stream = streaming_parse(stream_documents(spark, stream_dir))
    got = _run_stream(spark, stream, "t_parse")
    batch = parse_spans(spark.read.parquet(stream_dir).drop("ingest_ts"))
    g = {
        (r["doc_id"], r["pos"]): (r["address"]["street"], r["address"]["number"])
        for r in got.where(F.col("kind") == "text").collect()
    }
    b = {
        (r["doc_id"], r["pos"]): (r["address"]["street"], r["address"]["number"])
        for r in batch.where(F.col("kind") == "text").collect()
    }
    assert g == b and len(g) > 0


def test_streaming_exact_dedup_drops_dupes(spark, stream_dir):
    stream = streaming_exact_dedup(stream_documents(spark, stream_dir))
    got = _run_stream(spark, stream, "t_dedup")
    n_docs = spark.read.parquet(stream_dir).count()
    n_distinct_texts = (
        spark.read.parquet(stream_dir)
        .withColumn(
            "text_hash",
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.filter("spans", lambda s: s.getField("kind") == "text"),
                        lambda s: s.getField("text"),
                    ),
                )
            ),
        )
        .select("text_hash")
        .distinct()
        .count()
    )
    assert got.count() == n_distinct_texts <= n_docs
    assert got.select("text_hash").distinct().count() == got.count()


def test_streaming_block_stats_matches_batch_totals(spark, stream_dir):
    stream = streaming_block_stats(
        stream_documents(spark, stream_dir), window="10 minutes"
    )
    # update mode: append-mode watermark aggs only emit a window after a
    # LATER batch moves the watermark past it; a single availableNow batch
    # would emit nothing. One batch → exactly one update per window.
    got = _run_stream(spark, stream, "t_blocks", mode="update")
    per_block_stream = {
        r["block_key"]: r["total"]
        for r in got.groupBy("block_key").agg(F.sum("block_size").alias("total")).collect()
    }
    batch = address_table(parse_spans(spark.read.parquet(stream_dir).drop("ingest_ts")))
    per_block_batch = {
        r["block_key"]: r["total"]
        for r in batch.groupBy("block_key").agg(F.count(F.lit(1)).alias("total")).collect()
    }
    assert per_block_stream == per_block_batch and len(per_block_batch) > 0


def test_streaming_session_stats_matches_batch_sessionize(spark, stream_dir):
    """Engine session windows ≡ the batch gap sessionizer on the same data.

    The stream fixture's ingest_ts is whole seconds; the 45.5 s gap sits
    between quanta, so the strict-vs-inclusive boundary conventions of the
    two operators can never disagree here (see operator docstring).
    """
    from addressit_spark.operators.temporal import session_stats
    from addressit_spark.streaming.incremental import _addresses_with_ts

    stream = streaming_session_stats(
        stream_documents(spark, stream_dir), gap="45500 milliseconds"
    )
    # session-window aggs forbid update mode; complete keeps every
    # (merged-final) session in the sink, which is exactly the batch answer
    got = _run_stream(spark, stream, "t_sessions", mode="complete")
    g = {
        (r["block_key"], r["session_start"]): r["n_spans"]
        for r in got.collect()
    }
    batch_addrs = _addresses_with_ts(
        streaming_parse(spark.read.parquet(stream_dir))
    )
    b = {
        (r["block_key"], r["session_start"]): r["n_events"]
        for r in session_stats(
            batch_addrs, "block_key", "ingest_ts", 45.5, order_tiebreak="uid"
        ).collect()
    }
    assert g == b and len(g) > 0


def test_running_block_counts_stateful(spark, stream_dir):
    stream = running_block_counts(stream_documents(spark, stream_dir))
    got = _run_stream(spark, stream, "t_state", mode="update")
    # single availableNow pass → final running count per block == batch count
    final = {
        r["block_key"]: r["max_count"]
        for r in got.groupBy("block_key")
        .agg(F.max("running_count").alias("max_count"))
        .collect()
    }
    batch = address_table(parse_spans(spark.read.parquet(stream_dir).drop("ingest_ts")))
    per_block_batch = {
        r["block_key"]: r["n"]
        for r in batch.groupBy("block_key").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert final == per_block_batch and len(final) > 0


def test_incremental_er_foreachbatch_parity(spark, tmp_path):
    """incremental_er: batch kernels composed in foreachBatch, exact parity.

    Split the corpus into a snapshot half and a streamed half (forced into
    several micro-batches via maxFilesPerTrigger); the snapshot's own edges
    plus the appended incremental edges must equal the full-batch pipeline's
    edges exactly — every cross-batch pair scored once, none twice.
    """
    from addressit_spark.scoring import match_edges, score_pairs_fused
    from addressit_spark.streaming import incremental_er

    docs = documents_view(synth_corpus(spark, 200, seed=7)).withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(1_700_000_000) + F.crc32("doc_id") % 300),
    )
    part_snap = docs.where(F.crc32("doc_id") % 2 == 0)
    part_stream = docs.where(F.crc32("doc_id") % 2 == 1)

    stream_src = str(tmp_path / "src")
    part_stream.repartition(3).write.mode("overwrite").parquet(stream_src)

    snap_addrs = address_table(parse_spans(part_snap.drop("ingest_ts")))

    from addressit_spark.cluster import connected_components

    state_dir = str(tmp_path / "state")
    edges_dir = str(tmp_path / "edges")
    clusters_dir = str(tmp_path / "clusters")
    ckpt_dir = str(tmp_path / "ckpt")
    sdf = (
        spark.readStream.schema(part_stream.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_src)
    )
    snap_label_df = connected_components(
        match_edges(score_pairs_fused(snap_addrs)[0])
    )
    q = incremental_er(
        sdf, snap_addrs, state_dir, edges_dir, ckpt_dir,
        clusters_dir=clusters_dir, snapshot_labels=snap_label_df,
    )
    q.awaitTermination(300)

    def edge_set(df):
        return {tuple(sorted((r["src"], r["dst"]))) for r in df.collect()}

    snap_edges = edge_set(match_edges(score_pairs_fused(snap_addrs)[0]))
    inc_edges = edge_set(spark.read.parquet(edges_dir))

    all_addrs = address_table(parse_spans(docs.drop("ingest_ts")))
    full_edges = edge_set(match_edges(score_pairs_fused(all_addrs)[0]))

    assert snap_edges | inc_edges == full_edges
    assert snap_edges.isdisjoint(inc_edges)
    assert len(inc_edges) > 0
    # the state dir accumulated every address exactly once
    assert spark.read.parquet(state_dir).count() == all_addrs.count()

    # live labels: the max-batch_id partition equals a batch CC over ALL
    # edges (snapshot + every streamed batch) — per-batch incremental
    # folding loses nothing
    def current_labels():
        c = spark.read.parquet(clusters_dir)
        last = c.agg(F.max("batch_id")).collect()[0][0]
        return {
            (r["uid"], r["component"])
            for r in c.where(F.col("batch_id") == last).collect()
        }

    full_cc = {
        (r["uid"], r["component"])
        for r in connected_components(
            match_edges(score_pairs_fused(all_addrs)[0])
        ).collect()
    }
    assert current_labels() == full_cc

    # superseded full-labeling partitions are pruned: at most the seed, the
    # prior fold, and the current one remain — storage is O(labeling), not
    # O(batches × labeling)
    def label_partitions():
        import os as _os

        return sorted(
            int(d.split("=", 1)[1])
            for d in _os.listdir(clusters_dir)
            if d.startswith("batch_id=")
        )

    parts = label_partitions()
    assert parts[0] == -1 and len(parts) <= 3, parts

    # --- restart safety ---------------------------------------------------
    n_state = spark.read.parquet(state_dir).count()
    n_edge_rows = spark.read.parquet(edges_dir).count()
    # every cross-batch pair is scored exactly once → no duplicate edge rows
    assert n_edge_rows == len(inc_edges)

    # (a) resume with the same checkpoint and no new files: the seed write
    # must NOT truncate accumulated state back to the snapshot
    q2 = incremental_er(
        sdf, snap_addrs, state_dir, edges_dir, ckpt_dir,
        clusters_dir=clusters_dir, snapshot_labels=snap_label_df,
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(state_dir).count() == n_state
    assert edge_set(spark.read.parquet(edges_dir)) == inc_edges
    assert current_labels() == full_cc

    # (b) full at-least-once replay (checkpoint wiped): batch_id-partitioned
    # dynamic overwrite makes re-processing idempotent — same edge rows, no
    # duplicate appends, state still exactly-once, labels unchanged
    import shutil

    shutil.rmtree(ckpt_dir)
    q3 = incremental_er(
        sdf, snap_addrs, state_dir, edges_dir, ckpt_dir,
        clusters_dir=clusters_dir, snapshot_labels=snap_label_df,
    )
    q3.awaitTermination(300)
    assert spark.read.parquet(state_dir).count() == n_state
    assert spark.read.parquet(edges_dir).count() == n_edge_rows
    assert edge_set(spark.read.parquet(edges_dir)) == inc_edges
    assert current_labels() == full_cc


def test_incremental_er_empty_batch_and_cold_labels(spark, tmp_path):
    """A micro-batch whose documents yield no address commits nothing, and
    live labels cold-start with no labels directory (no snapshot_labels):
    the final labeling equals a batch CC over the appended edges, and
    superseded label partitions are pruned."""
    import os as _os

    from addressit_spark.cluster import connected_components
    from addressit_spark.streaming import incremental_er

    docs = documents_view(synth_corpus(spark, 60, seed=11))
    part_snap = docs.where(F.crc32("doc_id") % 4 == 0)
    part_stream = docs.where(F.crc32("doc_id") % 4 != 0)
    media = spark.createDataFrame(
        [("m%d" % i, [("image", "", "media://image/m%d" % i, 0)]) for i in range(3)],
        docs.schema,
    )

    # the media-only file is the oldest, so it is the first micro-batch
    stream_src = tmp_path / "src"
    media.coalesce(1).write.parquet(str(stream_src))
    (first,) = stream_src.glob("*.parquet")
    _os.utime(first, (first.stat().st_mtime - 60,) * 2)
    part_stream.repartition(3).write.mode("append").parquet(str(stream_src))

    dirs = {k: str(tmp_path / k) for k in ("state", "edges", "labels", "ckpt")}
    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_src))
    )
    q = incremental_er(
        sdf, address_table(parse_spans(part_snap)), dirs["state"], dirs["edges"],
        dirs["ckpt"], clusters_dir=dirs["labels"],
    )
    q.awaitTermination(300)
    assert q.exception() is None
    batches = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(batches) == 4 and batches[0].numInputRows == 3

    def partitions(path):
        return sorted(
            int(d.split("=", 1)[1])
            for d in _os.listdir(path)
            if d.startswith("batch_id=")
        )

    # batch 0 (media only) committed no partition anywhere
    assert partitions(dirs["state"]) == [-1, 1, 2, 3]
    assert 0 not in partitions(dirs["edges"])
    labels = partitions(dirs["labels"])
    assert 0 not in labels and len(labels) <= 3, labels

    appended = spark.read.parquet(dirs["edges"]).select("src", "dst")
    assert appended.count() > 0
    live = spark.read.parquet(dirs["labels"]).where(F.col("batch_id") == labels[-1])
    assert {(r["uid"], r["component"]) for r in live.collect()} == {
        (r["uid"], r["component"])
        for r in connected_components(appended).collect()
    }


def test_incremental_er_cap_divergence_contract(spark, tmp_path, monkeypatch):
    """The ONE documented batch/stream divergence: a block crossing
    ``blocking.MAX_BLOCK_SIZE`` mid-stream (incremental_er docstring).

    Batch semantics drop the whole oversized block (with metrics); the
    stream has already committed edges for the block's under-cap prefix and
    cannot retract them — so streamed output must keep exactly that prefix:
    a non-empty strict subset of the uncapped edges, frozen once the block
    crosses the cap, while address state keeps accumulating.
    """
    from addressit_spark.scoring import match_edges, score_pairs_fused
    from addressit_spark.streaming import incremental_er

    def docs(ids):
        rows = [
            (d, [("text", "12 Main St Springfield", "", 0)]) for d in ids
        ]
        return spark.createDataFrame(
            rows,
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
        )

    CAP = 6
    monkeypatch.setattr(blocking, "MAX_BLOCK_SIZE", CAP)
    snap_addrs = address_table(parse_spans(docs(["s1", "s2", "s3"])))
    assert snap_addrs.count() == 3

    # three stream files of 2 docs each → 3 micro-batches (one block):
    # accumulated block size 3 → 5 (≤ cap, edges commit) → 7 → 9 (> cap,
    # block dropped, no new edges). Whichever file order the source picks,
    # exactly the first batch is under cap, so the expected prefix is fixed.
    stream_src = tmp_path / "src"
    for name, ids in (("f0", ["a1", "a2"]), ("f1", ["b1", "b2"]), ("f2", ["c1", "c2"])):
        docs(ids).coalesce(1).write.mode("append").parquet(str(stream_src))

    state_dir = str(tmp_path / "state")
    edges_dir = str(tmp_path / "edges")
    sdf = (
        spark.readStream.schema(docs(["x"]).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_src))
    )
    q = incremental_er(sdf, snap_addrs, state_dir, edges_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    def edge_set(df):
        return {tuple(sorted((r["src"], r["dst"]))) for r in df.collect()}

    all_addrs = address_table(
        parse_spans(docs(["s1", "s2", "s3", "a1", "a2", "b1", "b2", "c1", "c2"]))
    )

    # batch semantics under the same cap: the whole block is dropped with
    # metrics — zero edges survive
    capped_pairs, capped_dropped = score_pairs_fused(all_addrs, max_block_size=CAP)
    assert match_edges(capped_pairs).count() == 0
    dropped_rows = capped_dropped.collect()
    assert len(dropped_rows) == 1 and dropped_rows[0]["block_size"] == 9

    # streamed output kept the under-cap prefix: the 7 edges of the first
    # batch (universe of 5: C(5,2) minus the 3 snapshot-internal pairs) —
    # a non-empty strict subset of the uncapped edge set, nothing after
    # the block crossed the cap
    inc_edges = edge_set(spark.read.parquet(edges_dir))
    uncapped_full = edge_set(match_edges(score_pairs_fused(all_addrs)[0]))
    assert len(inc_edges) == 7
    assert inc_edges < uncapped_full and len(uncapped_full) == 36
    # state keeps accumulating even after edges freeze (the block's rows
    # are all present for a later offline re-run to rescore)
    assert spark.read.parquet(state_dir).count() == 9
