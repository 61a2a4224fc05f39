"""End-to-end ER pipeline: parse → block → score → cluster, with checkpoints.

The north_rule dataflow over the input_hint table shape::

    documents(doc_id, spans[]) ──posexplode──► spans
      ──pandas_udf parse──► address structs          (Arrow batch boundary)
      ──normalize──► blocking keys (street name + soundex(locality))
      ──triangle-salted slim self-join, scored──► match edges (score ≥ τ)
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
shuffle-free map stages. The surface-sim dim is built by one aggregation
per block (its shuffle carries each block's distinct surfaces, collapsed
map-side), a distinct over the crossed surface pairs and a spread of those
pairs over the cores for the Jaro-Winkler kernel; it has no join, and
scoring reads it as a tiny broadcast.
Candidate pairs are scored and thresholded in the pass that writes the
``edges`` stage: they are never a snapshot of their own.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from addressit_spark import blocking
from addressit_spark.blocking import address_table, salted_pair_join
from addressit_spark.cluster import cluster_members, connected_components
from addressit_spark.checkpoint import StageStore
from addressit_spark.parse_stage import parse_spans
from addressit_spark.scoring import (
    DEFAULT_TAU,
    match_edges,
    score_pairs_fused,
    surface_sim_map,
)


# Snapshot format version per stage, in pipeline order. A stage's
# fingerprint names its own version and those of the stages before it, so
# bumping one (when its output changes for the same inputs and parameters)
# recomputes that stage and every snapshot built from it on resume.
STAGE_FORMATS = {"addresses": 1, "sim_dims": 1, "edges": 1, "clusters": 1}


@dataclass
class PipelineResult:
    addresses: DataFrame
    pairs: DataFrame
    edges: DataFrame
    clusters: DataFrame
    dropped_blocks: DataFrame
    lineage: Dict[str, Dict[str, object]] = field(default_factory=dict)

    def candidate_pair_count(self) -> int:
        """Candidate pairs, Σ c(c−1)/2 over the block sizes of ``addresses``
        with the ``dropped_blocks`` left out: one aggregate over the address
        table, on fresh and resumed runs alike, never a pass over the pairs.

        uids are unique, so a block of c rows holds c(c−1)/2 pairs. The
        count differs from ``pairs.count()`` only on an ``xxhash64``
        block-key collision, whose merged blocks the pair join pairs across
        (see :func:`~addressit_spark.blocking.salted_pair_join`).
        """
        sizes = self.addresses.groupBy("block_key").agg(
            F.count(F.lit(1)).alias("block_size")
        )
        kept = sizes.join(self.dropped_blocks, "block_key", "left_anti")
        total = kept.agg(F.expr("sum(block_size * (block_size - 1) div 2)")).first()[0]
        return int(total or 0)


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    locale: str = "en-US",
    tau: float = DEFAULT_TAU,
    checkpoint_dir: Optional[str] = None,
    resume: bool = True,
) -> PipelineResult:
    """Run the full ER pipeline; snapshot each stage when checkpoint_dir set.

    The scale limits are the engine constants ``blocking.HEAVY_THRESHOLD``
    and ``blocking.MAX_BLOCK_SIZE``, read when called. Blocks above
    ``MAX_BLOCK_SIZE`` rows are dropped with metrics. ``HEAVY_THRESHOLD`` is
    both the pair join's salting threshold and the cap on per-block
    DISTINCT surfaces fed to the sim-dim cross: a degenerate block under the
    row cap can't blow up the dim stage or the broadcast sim table, and its
    skipped pairs score via the conservative miss-low default. Both values
    are named in the stage fingerprints, so changing one recomputes the
    snapshots built from it.

    With ``checkpoint_dir`` set, every stage fingerprint starts with the
    identity of ``documents``: their row count and the sum of each row's
    ``xxhash64``. One scan of the input, for file-backed and generated
    documents alike, so a checkpoint dir reused for other documents
    recomputes instead of resuming their clusters.
    """
    store = StageStore(spark, checkpoint_dir, resume=resume)
    source = ""
    if checkpoint_dir is not None:
        source = "%d:%s" % tuple(
            documents.agg(
                F.count(F.lit(1)),
                F.sum(F.xxhash64(*documents.columns).cast("decimal(38,0)")),
            ).first()
        )

    def _fp(stage: str, **params: object) -> str:
        # stage fingerprint = input identity + the parameters that stage's
        # output depends on + its snapshot format, so changing e.g.
        # MAX_BLOCK_SIZE between resumed runs, or upgrading to code that
        # writes the stage differently, recomputes the affected snapshots
        # instead of silently reusing stale tables (StageStore verifies
        # this on resume).
        stages = list(STAGE_FORMATS)
        formats = stages[: stages.index(stage) + 1]
        return "%s|%s|%s" % (
            source,
            ",".join("%s=%r" % kv for kv in sorted(params.items())),
            ",".join("%s/v%d" % (s, STAGE_FORMATS[s]) for s in formats),
        )

    addresses = store.run(
        "addresses",
        lambda: address_table(parse_spans(documents, locale)),
        _fp("addresses", locale=locale),
    )

    heavy_threshold = blocking.HEAVY_THRESHOLD
    max_block_size = blocking.MAX_BLOCK_SIZE
    score_params = dict(
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
        _fp("sim_dims", **score_params),
    )

    # blocking + scoring fused into the edges pass: the 10^12-row salted
    # shuffle carries interned int surface ids, never the feature strings,
    # and only the pairs that reach τ are written
    edges = store.run(
        "edges",
        lambda: match_edges(
            score_pairs_fused(
                addresses,
                heavy_threshold=heavy_threshold,
                max_block_size=max_block_size,
                sims=sim_dims,
            )[0],
            tau,
        ),
        _fp("edges", tau=tau, **score_params),
    )
    clusters = store.run(
        "clusters",
        lambda: cluster_members(connected_components(edges), addresses),
        _fp("clusters", tau=tau, **score_params),
    )
    store.write_lineage()

    # the candidate-pair view (the F1 evaluation universe): the same pair
    # set the fused scorer scores, built lazily without the scoring
    pairs, dropped = salted_pair_join(
        addresses, (), heavy_threshold=heavy_threshold, max_block_size=max_block_size
    )
    return PipelineResult(
        addresses=addresses,
        pairs=pairs.select("uid_a", "uid_b", "block_key"),
        edges=edges,
        clusters=clusters,
        dropped_blocks=dropped,
        lineage=store.lineage,
    )
