#!/usr/bin/env python
"""spark-submit entry point for the dedup → training-corpus-manifest chain.

The LLM-data twin of ``run_er.py``: runs the three portable near-dup
detectors over a documents table, takes the ≥N-vote consensus, clusters it
through the connected-components kernel (``cluster.py``), picks one
survivor per cluster (min-id canonical or quality-aware argmax), and writes
the post-dedup training manifest (train/val/test splits × lang, doc + token
totals).

Cluster usage::

    cd /root/repo && zip -qr /tmp/addressit_spark.zip addressit_spark
    spark-submit --master <cluster> \
        --py-files /tmp/addressit_spark.zip \
        scripts/run_dedup.py \
        --input  hdfs://.../documents     # parquet: (doc_id, text[, lang])
        --output hdfs://.../dedup_out     # decisions + manifest + metrics.json
        --checkpoint-dir hdfs://.../ckpt  # resume point (per-stage snapshots)

Local smoke (deterministic labeled corpus, no external data)::

    python scripts/run_dedup.py --synth-groups 200 --output /tmp/dedup_out

All stages are DataFrame jobs — nothing but scalar metrics reaches the
driver — so the same file runs at local[8] and on a 1000-executor cluster.
Hot-shingle blowup in the n-gram detector is bounded by ``--max-shingle-df``
(observe-logged, never silent); detector parameters default to the engine
operating points the repo's driver queries pin (`__spark_entry__.py`).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="addressit_spark dedup → manifest pipeline")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet dir of documents(doc_id, text[, lang])")
    src.add_argument(
        "--synth-groups", type=int, help="synthesize a labeled near-dup corpus of N groups"
    )
    ap.add_argument("--output", required=True, help="output dir (decisions + manifest + metrics.json)")
    ap.add_argument("--checkpoint-dir", default=None, help="per-stage snapshot dir (enables resume)")
    ap.add_argument("--no-resume", action="store_true", help="recompute even if snapshots exist")
    ap.add_argument("--min-votes", type=int, default=2, help="detectors that must agree (consensus)")
    ap.add_argument(
        "--policy",
        default="quality",
        choices=["min_id", "quality"],
        help="survivor per cluster: CC min-id canonical, or argmax quality_score",
    )
    ap.add_argument("--ngram-jaccard", type=float, default=0.2, help="n-gram Jaccard threshold")
    ap.add_argument("--minhash-est", type=float, default=0.4, help="MinHash estimated-Jaccard threshold")
    ap.add_argument("--simhash-radius", type=int, default=6, help="SimHash Hamming radius")
    ap.add_argument(
        "--max-shingle-df",
        type=int,
        default=10000,
        help="drop shingles hotter than this df from the n-gram join (0 = uncapped)",
    )
    ap.add_argument("--seed", type=int, default=13)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from addressit_spark.checkpoint import StageStore
    from addressit_spark.cluster import connected_components
    from addressit_spark.operators.dedup import (
        choose_survivors,
        minhash_dup_pairs,
        ngram_jaccard_pairs,
        simhash_dup_pairs,
    )
    from addressit_spark.operators.sample import assign_split
    from addressit_spark.operators.text import quality_score, with_token_stats
    from addressit_spark.session import submit_spark
    from addressit_spark.sources.labeled_dups import synth_labeled_dup_corpus

    spark = submit_spark("addressit_spark_dedup")

    t0 = time.monotonic()
    if args.synth_groups:
        docs = synth_labeled_dup_corpus(spark, args.synth_groups, seed=args.seed)
        fp_base = "synth:%d:%d" % (args.synth_groups, args.seed)
    else:
        docs = spark.read.parquet(args.input)
        fp_base = "input:%s" % args.input
    if "lang" not in docs.columns:
        docs = docs.withColumn("lang", F.lit("unknown"))
    docs = docs.select("doc_id", "text", "lang").localCheckpoint(eager=True)
    n_docs = docs.count()

    # per-stage snapshots: same resume contract as run_er.py — a stage whose
    # fingerprint (input identity + the params that shape its output) matches
    # is read back instead of recomputed
    store = StageStore(spark, args.checkpoint_dir, resume=not args.no_resume)

    def _fp(**params: object) -> str:
        return fp_base + "|" + ",".join(
            "%s=%s" % (k, v) for k, v in sorted(params.items())
        )

    det_fp = _fp(
        ngram=args.ngram_jaccard,
        minhash=args.minhash_est,
        simhash=args.simhash_radius,
        cap=args.max_shingle_df,
        min_votes=args.min_votes,
    )

    # -- detectors (engine operating points; each emits canonical id_a<id_b).
    # The fast engine hash paths (xxhash64 buckets, Arrow simhash kernel)
    # assume numeric doc ids; on string-keyed corpora fall back to the
    # portable ANSI-SQL twins (same algorithms, oracle-verified elsewhere).
    from pyspark.sql.types import NumericType

    numeric_ids = isinstance(docs.schema["doc_id"].dataType, NumericType)
    detectors = {
        "ngram": ngram_jaccard_pairs(
            docs,
            n=3,
            min_jaccard=args.ngram_jaccard,
            max_shingle_df=args.max_shingle_df or None,
        ),
        "minhash": minhash_dup_pairs(
            docs,
            k=64,
            bands=16,
            n=3,
            min_est_jaccard=args.minhash_est,
            portable=not numeric_ids,
        ),
        "simhash": simhash_dup_pairs(
            docs, max_hamming=args.simhash_radius, portable=not numeric_ids
        ),
    }
    tagged = None
    for name, p in detectors.items():
        p = p.select("id_a", "id_b").withColumn("src", F.lit(name))
        tagged = p if tagged is None else tagged.unionByName(p)

    # -- consensus: a pair is a duplicate when >= min_votes detectors agree.
    # Materialized ONCE (snapshot or localCheckpoint); CC, metrics, and a
    # resumed run all read the pinned table instead of re-running detectors.
    def _consensus():
        return (
            tagged.groupBy("id_a", "id_b")
            .agg(F.countDistinct("src").alias("n_votes"))
            .where(F.col("n_votes") >= args.min_votes)
        )

    consensus = store.run("consensus", _consensus, input_fingerprint=det_fp)
    n_pairs = consensus.count()

    # -- transitive clusters through the flagship CC kernel
    rounds: list = []

    def _clusters():
        edges = consensus.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
        return connected_components(edges, round_log=rounds).select(
            F.col("uid").alias("doc_id"), F.col("component").alias("canonical_id")
        )

    clusters = store.run("clusters", _clusters, input_fingerprint=det_fp)

    # -- survivor policy
    def _decisions():
        if args.policy == "quality":
            scores = quality_score(docs).select(
                "doc_id", F.col("quality_score").alias("score")
            )
            return choose_survivors(clusters, scores)
        return clusters.select(
            "doc_id",
            F.col("canonical_id").alias("survivor_id"),
            (F.col("doc_id") == F.col("canonical_id")).alias("keep"),
        )

    decisions = store.run(
        "decisions", _decisions, input_fingerprint=det_fp + "|policy=" + args.policy
    )
    n_clustered = decisions.count()
    n_dropped = decisions.where(~F.col("keep")).count()

    # -- post-dedup manifest: drop losers, split, count docs + tokens
    kept = with_token_stats(
        docs.join(decisions.where(~F.col("keep")).select("doc_id"), "doc_id", "left_anti")
    )
    split = assign_split(kept, "doc_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)], seed=42)
    manifest = (
        split.groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("token_count").alias("total_tokens"))
        .orderBy("split", "lang")
    )

    decisions.write.mode("overwrite").parquet(os.path.join(args.output, "decisions"))
    manifest.write.mode("overwrite").parquet(os.path.join(args.output, "manifest"))
    manifest_rows = [r.asDict() for r in manifest.collect()]  # small: splits × langs

    store.write_lineage()
    metrics = {
        "n_docs": n_docs,
        "consensus_pairs": n_pairs,
        "clustered_docs": n_clustered,
        "dropped_docs": n_dropped,
        "kept_docs": n_docs - n_dropped,
        # None on a resumed run: the CC fixpoint never executed here
        "cc_rounds": rounds[0] if rounds else None,
        "policy": args.policy,
        "min_votes": args.min_votes,
        "manifest": manifest_rows,
        "lineage": store.lineage,
        "wall_sec": round(time.monotonic() - t0, 2),
    }
    os.makedirs(args.output, exist_ok=True)
    with open(os.path.join(args.output, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=1, sort_keys=True, default=str)
    print(json.dumps({k: v for k, v in metrics.items() if k != "lineage"}, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
