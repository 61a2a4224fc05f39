"""End-to-end ER pipeline: parse → block → score → cluster, with checkpoints.

The north_rule dataflow over the input_hint table shape::

    documents(doc_id, spans[]) ──posexplode──► spans
      ──pandas_udf parse──► address structs          (Arrow batch boundary)
      ──normalize──► blocking keys (street name + soundex(locality))
      ──triangle-salted slim self-join──► scored pairs ≥ τ
        (interned int surface ids in the shuffle; Jaro-Winkler/Levenshtein
         computed once per distinct surface pair, broadcast back)
      ──connected components──► clusters
        (driver union-find up to 2^20 edges; above that,
         large-star/small-star localCheckpoint rounds)

Shuffle inventory (what the plan pays at 10^12 docs): 1 for block sizes,
1 for the salted pair join (slim int payloads), 1 per CC round
(log-bounded) and 1 for the final label agg. The CC rounds and label agg
run only above the local-finish cap. CC first pulls at most 2^20 + 1
edges to the driver in one single-partition task with no exchange; at or
below the cap that pull is all of CC's Spark work. Parse and scoring are
shuffle-free map stages; the surface-sim dims are tiny broadcasts.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from addressit_spark.blocking import address_table, dropped_blocks
from addressit_spark.cluster import cluster_members, connected_components
from addressit_spark.checkpoint import StageStore
from addressit_spark.parse_stage import parse_spans
from addressit_spark.scoring import (
    DEFAULT_TAU,
    match_edges,
    score_pairs_fused,
    surface_sim_map,
)


@dataclass
class PipelineResult:
    addresses: DataFrame
    pairs: DataFrame
    scored: DataFrame
    edges: DataFrame
    clusters: DataFrame
    dropped_blocks: DataFrame
    lineage: Dict[str, Dict[str, object]] = field(default_factory=dict)
    pair_count_obs: Optional[Observation] = None

    def candidate_pair_count(self) -> int:
        """Match-count metric without a second pass over the pair volume.

        Preference order: the ``scored`` snapshot's lineage row count (one
        row per candidate pair), then the ``Observation`` collected on the
        same execution that materialized the edges stage, then — only if
        the fused plan never executed in this process (fully resumed run
        with no scored snapshot metrics) — an explicit ``count()``. At
        10^12 pairs the first two are free; the fallback is a full pass and
        only exists for resumed runs whose snapshots predate lineage metrics.
        """
        rows = self.lineage.get("scored", {}).get("rows")
        if isinstance(rows, int):
            return rows
        if self.pair_count_obs is not None and not self.lineage.get(
            "edges", {}
        ).get("resumed", False):
            return int(self.pair_count_obs.get["n_pairs"])
        return self.pairs.count()


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    locale: str = "en-US",
    tau: float = DEFAULT_TAU,
    heavy_threshold: int = 256,
    max_block_size: int = 100_000,
    checkpoint_dir: Optional[str] = None,
    resume: bool = True,
    input_fingerprint: str = "",
) -> PipelineResult:
    """Run the full ER pipeline; snapshot each stage when checkpoint_dir set.

    ``heavy_threshold`` is both the pair join's salting threshold and the
    cap on per-block DISTINCT surfaces fed to the sim-dim cross: a
    degenerate block under the row cap can't blow up the dim stage or the
    broadcast sim table, and its skipped pairs score via the conservative
    miss-low default.
    """
    store = StageStore(spark, checkpoint_dir, resume=resume)

    def _fp(**params: object) -> str:
        # stage fingerprint = input identity + the parameters that stage's
        # output depends on, so changing e.g. max_block_size between resumed
        # runs recomputes the affected snapshots instead of silently reusing
        # tables built under the old parameters (StageStore verifies this
        # on resume).
        return input_fingerprint + "|" + ",".join(
            "%s=%r" % kv for kv in sorted(params.items())
        )

    addresses = store.run(
        "addresses",
        lambda: address_table(parse_spans(documents, locale)),
        _fp(locale=locale),
    )

    score_fp = _fp(
        locale=locale, heavy_threshold=heavy_threshold, max_block_size=max_block_size
    )
    # the (tiny) surface-similarity dim is its own snapshot stage: built
    # once, resumed from parquet, broadcast into every scoring pass. The
    # same block-size cap candidate generation applies is passed here —
    # blocks it drops never consume their sim rows, and without the cap one
    # dirty mega-block would pay O(distinct_surfaces²) in this stage.
    sim_dims = store.run(
        "sim_dims",
        lambda: surface_sim_map(
            addresses,
            max_block_size=max_block_size,
            max_block_surfaces=heavy_threshold,
        ),
        score_fp,
    )

    obs_holder: Dict[str, Observation] = {}

    def _scored() -> DataFrame:
        # blocking + scoring fused: the 10^12-row salted shuffle carries
        # interned int surface ids, never the feature strings
        sc, _ = score_pairs_fused(
            addresses,
            heavy_threshold=heavy_threshold,
            max_block_size=max_block_size,
            sims=sim_dims,
        )
        # candidate-pair count rides the first execution of this plan (the
        # edges materialization) as a CollectMetrics node — the match-count
        # metric never costs a second pass over the pair volume
        obs = Observation()
        obs_holder["pairs"] = obs
        return sc.observe(obs, F.count(F.lit(1)).alias("n_pairs"))

    # scored is the 10^12-scale volume: fused into the edges pass (never
    # pinned) unless a snapshot dir makes it a resume point.
    scored = store.run("scored", _scored, score_fp, materialize=False)
    edge_fp = _fp(
        locale=locale,
        heavy_threshold=heavy_threshold,
        max_block_size=max_block_size,
        tau=tau,
    )
    edges = store.run("edges", lambda: match_edges(scored, tau), edge_fp)
    clusters = store.run(
        "clusters",
        lambda: cluster_members(connected_components(edges), addresses),
        edge_fp,
    )
    store.write_lineage()

    return PipelineResult(
        addresses=addresses,
        # the candidate-pair view (evaluation universe) is a projection of
        # scored — same fused plan or snapshot, no second pair generation
        pairs=scored.select("uid_a", "uid_b", "block_key"),
        scored=scored,
        edges=edges,
        clusters=clusters,
        dropped_blocks=dropped_blocks(addresses, max_block_size),
        lineage=store.lineage,
        pair_count_obs=obs_holder.get("pairs"),
    )
