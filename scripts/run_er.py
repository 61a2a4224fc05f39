#!/usr/bin/env python
"""spark-submit entry point for the address ER pipeline.

Cluster usage (the north_rule's deployment shape)::

    cd /root/repo && zip -qr /tmp/addressit_spark.zip addressit_spark
    spark-submit --master <cluster> \
        --py-files /tmp/addressit_spark.zip \
        scripts/run_er.py \
        --input  hdfs://.../documents            # parquet/Iceberg dir, input_hint shape
        --output hdfs://.../er_out               # clusters + metrics written here
        --checkpoint-dir hdfs://.../er_ckpt      # resume point (per-stage snapshots)

Local smoke (synthesized deterministic corpus, no external data)::

    python scripts/run_er.py --synth-entities 2000 --output /tmp/er_out

The script never collects data to the driver beyond scalar metrics; all
stages run as DataFrame jobs, so the same file works at local[8] and on a
1000-executor cluster — parallelism comes entirely from the session.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="addressit_spark ER pipeline")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet dir of documents(doc_id, spans) or flat (doc_id, text)")
    src.add_argument("--synth-entities", type=int, help="synthesize a deterministic corpus of N entities")
    ap.add_argument("--output", required=True, help="output dir (clusters parquet + metrics.json)")
    ap.add_argument("--checkpoint-dir", default=None, help="per-stage snapshot dir (enables resume)")
    ap.add_argument("--locale", default="en-US", choices=["en-US", "en-AU"])
    ap.add_argument("--tau", type=float, default=None, help="match threshold (default scoring.DEFAULT_TAU)")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--no-resume", action="store_true", help="recompute even if snapshots exist")
    args = ap.parse_args()

    from addressit_spark.evaluation import labeled_pairs, pairwise_f1
    from addressit_spark.pipeline import run_pipeline
    from addressit_spark.scoring import DEFAULT_TAU
    from addressit_spark.session import submit_spark
    from addressit_spark.sources.corpus import documents_view, synth_corpus, truth_view

    # On a cluster, master/executors come from spark-submit (a standalone
    # run gets the local default); the SQL profile is the engine's own.
    spark = submit_spark("addressit_spark_er")

    t0 = time.monotonic()
    truth = None
    if args.synth_entities:
        corpus = synth_corpus(spark, args.synth_entities, seed=args.seed)
        documents = documents_view(corpus)
        truth = truth_view(corpus)
    else:
        documents = spark.read.parquet(args.input)

    res = run_pipeline(
        spark,
        documents,
        locale=args.locale,
        tau=args.tau if args.tau is not None else DEFAULT_TAU,
        checkpoint_dir=args.checkpoint_dir,
        resume=not args.no_resume,
    )

    res.clusters.write.mode("overwrite").parquet(os.path.join(args.output, "clusters"))

    metrics = {
        "addresses": res.addresses.count(),
        # Σ c(c−1)/2 over the kept block sizes — never a pass over the
        # (10^12-scale) pair volume
        "candidate_pairs": res.candidate_pair_count(),
        "match_edges": res.edges.count(),
        "clusters": res.clusters.select("component").distinct().count(),
        "dropped_blocks": res.dropped_blocks.count(),
        "wall_sec": round(time.monotonic() - t0, 2),
        "lineage": res.lineage,
    }
    if truth is not None:
        metrics["pairwise"] = pairwise_f1(labeled_pairs(res.pairs, truth), res.clusters)

    os.makedirs(args.output, exist_ok=True)
    with open(os.path.join(args.output, "metrics.json"), "w") as fh:
        json.dump(metrics, fh, indent=1, sort_keys=True, default=str)
    print(json.dumps({k: v for k, v in metrics.items() if k != "lineage"}, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
