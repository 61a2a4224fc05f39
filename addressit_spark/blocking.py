"""Blocking: normalized address keys + skew-proof candidate-pair generation.

Blocking key = (normalized street-name token(s), soundex(locality)) — the
street name comes out of the parse stage; the locality is the first region
(the reference pushes non-street tokens into ``regions``,
/root/reference/address.js:277-287).

Pair generation uses a *triangle-salted* self-join so one dense urban block
key cannot pin a single reducer at 10^12-doc scale:

* every span in a block of size ``c`` gets a bucket ``b ∈ [0, S)`` with
  ``S = min(ceil(c / HEAVY_THRESHOLD), SALT_CAP)`` (S=1 for light blocks —
  one code path);
* a row emits LEFT join keys ``(block, b, j)`` for ``j ∈ [b, S)`` and RIGHT
  join keys ``(block, i, b)`` for ``i ∈ [0, b]``;
* joining LEFT×RIGHT on ``(block, lo, hi)`` meets every unordered pair of
  spans exactly once per bucket pair — cross-bucket pairs once by
  construction, same-bucket pairs deduped by the ``uid_l < uid_r`` rule.

:func:`salted_pair_join` is the one such join on the ER path: candidate
pairs, the fused scorer and the pipeline's F1 universe all run through it.
The sim map (``scoring.surface_sim_map``) needs no join: it crosses each
block's distinct surfaces inside one aggregation, whose map-side partial
aggregate collapses a hot block before the shuffle. The salted pair set
provably equals the unsalted self-join pair set (tested at small scale),
while the shuffle key ``(block, lo, hi)`` spreads a block of c rows over
~S(S+1)/2 reducers. Replication cost is S+1 rows per input row, bounded by
``SALT_CAP``. Blocks above ``MAX_BLOCK_SIZE`` rows are *dropped with a
logged metric* (no silent caps): at 10^12 docs a million-row block means a
degenerate key, not signal.

The three scale limits are engine constants, defined here once: every
entry point runs the same values, and skew handling is a policy for the
rare hot key, not a per-call knob. ``run_pipeline``, ``incremental_er``
and ``salted_pair_join``'s bucket cap read them when called, so a test can
patch them on this module.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# a block with more rows than this is salted over several buckets; the sim
# map also caps a block's DISTINCT surfaces (per street/locality set) here
HEAVY_THRESHOLD = 256
# at most this many salt buckets per block
SALT_CAP = 64
# blocks with more rows than this are dropped from matching (with metrics)
MAX_BLOCK_SIZE = 100_000

# the columns ``parse_stage.parse_spans`` emits for every span
_SPAN_COLUMNS = ("doc_id", "pos", "kind", "text", "media_ref", "offset", "address")


def address_table(parsed_spans: DataFrame) -> DataFrame:
    """Project parsed text spans to the normalized address-feature table.

    Keeps only spans that produced both a street and a locality — the
    minimum signal the blocking key needs. ``uid`` is a stable span identity
    (doc_id#pos) used for pair ordering and cluster node identity.
    Document-level metadata columns that ``explode_spans`` passed through
    (e.g. the streaming surface's ``ingest_ts``) pass through here too,
    after ``locality``.
    """
    extra = [c for c in parsed_spans.columns if c not in _SPAN_COLUMNS]
    a = parsed_spans.where(
        (F.col("kind") == "text")
        & F.col("address.street").isNotNull()
        & (F.col("address.street") != "")
        & (F.size("address.regions") > 0)
    )
    street_norm = F.upper(F.col("address.street"))
    toks = F.split(street_norm, " ")
    n = F.size(toks)
    return a.select(
        F.concat_ws("#", "doc_id", "pos").alias("uid"),
        "doc_id",
        "pos",
        street_norm.alias("street_norm"),
        # street name = all tokens but the trailing street type; single-token
        # streets (e.g. BROADWAY, reNoStreet at parsers/en.js:84) keep the token.
        F.when(n > 1, F.concat_ws(" ", F.slice(toks, 1, n - 1)))
        .otherwise(F.element_at(toks, 1))
        .alias("street_name"),
        F.element_at(toks, -1).alias("street_type"),
        F.col("address.number").alias("number"),
        F.col("address.unit").alias("unit"),
        F.upper(F.element_at("address.regions", 1)).alias("locality"),
        *extra,
    ).withColumn(
        "block_key",
        F.concat_ws("|", F.col("street_name"), F.soundex(F.col("locality"))),
    )


PAIR_FEATURES = ["street_norm", "street_name", "number", "unit", "locality"]


def block_stats(addresses: DataFrame) -> DataFrame:
    """Block-size histogram — the skew diagnostic (and an oracle-checkable agg)."""
    return (
        addresses.groupBy("block_key")
        .agg(F.count(F.lit(1)).alias("block_size"))
        .groupBy("block_size")
        .agg(F.count(F.lit(1)).alias("n_blocks"))
        .orderBy("block_size")
    )


def salted_pair_join(
    addresses: DataFrame,
    features: Tuple[str, ...],
    heavy_threshold: int = HEAVY_THRESHOLD,
    max_block_size: int = MAX_BLOCK_SIZE,
) -> Tuple[DataFrame, DataFrame]:
    """The triangle-salted within-block self-join core.

    ``addresses`` needs ``block_key`` and ``uid`` columns; ``features`` is
    the per-side payload carried through the shuffle — every byte of it is
    paid once per replicated row, so callers should project the MINIMUM set
    their consumer reads (the fused scorer carries interned int surface ids;
    :func:`candidate_pairs` carries the full string feature set, the inputs
    of the scalar scoring oracle; the pipeline's F1 universe carries none).

    The join key is ``xxhash64(block_key)`` (8 bytes); the block-key string
    is carried once, on the left side only, for the output. A 64-bit
    block-hash collision merges two blocks' candidate spaces — at 10⁹
    distinct blocks the expected number of colliding block *pairs* is
    ~0.03, and the consequence is a few extra scored pairs, not lost pairs.
    Those cross-block pairs score LOW because the fused scorer defaults a
    sim-map miss on distinct surfaces to 0.0 (``scoring.score_pairs_fused``'s
    miss policy) — so the collision trade is extra work, never wrongly
    merged clusters.

    The same-bucket dedup filter compares an 8-byte ``xxhash64(uid)`` order
    first and falls back to the uid strings only on a hash tie (probability
    ~n_same_bucket_pairs/2⁶⁴), so no distinct-uid pair can ever be silently
    dropped while the comparison cost stays on the 8-byte ints. The uid
    columns are referenced by the tie branch, so they ride the shuffle even
    for consumers that don't project them — the strings are needed for the
    canonical ``uid_a``/``uid_b`` output anyway.

    Returns ``(pairs, dropped_blocks)``: one row per unordered pair of
    distinct uids in a block — ``block_key``, canonical ``uid_a < uid_b``,
    and each feature of the two sides as ``<feature>_l``/``<feature>_r``
    in the order the join met them (not oriented to ``uid_a``/``uid_b``:
    every consumer is symmetric in the two sides) — plus the
    ``(block_key, block_size)`` table of the blocks above ``max_block_size``
    rows, excluded from matching (no silent caps).
    """
    sizes = addresses.groupBy("block_key").agg(F.count(F.lit(1)).alias("block_size"))
    addr = (
        addresses.join(sizes.where(F.col("block_size") <= max_block_size), "block_key")
        .withColumn(
            "n_buckets",
            F.least(
                F.ceil(F.col("block_size") / F.lit(heavy_threshold)),
                F.lit(SALT_CAP),
            ).cast("int"),
        )
        .withColumn(
            "bucket",
            F.pmod(F.xxhash64("uid"), F.col("n_buckets")).cast("int"),
        )
        .withColumn("_bk", F.xxhash64("block_key"))
        .withColumn("_uord", F.xxhash64("uid"))
    )
    feat = ["uid", "_uord"] + list(features)

    left = addr.select(
        "_bk",
        "block_key",  # carried once, left side only
        F.col("bucket").alias("lo"),
        F.explode(F.sequence(F.col("bucket"), F.col("n_buckets") - 1)).alias("hi"),
        *[F.col(c).alias(c + "_l") for c in feat],
    )
    right = addr.select(
        "_bk",
        F.explode(F.sequence(F.lit(0), F.col("bucket"))).alias("lo"),
        F.col("bucket").alias("hi"),
        *[F.col(c).alias(c + "_r") for c in feat],
    )

    # Pin the self-join to sort-merge: both sides are the replicated table
    # (10^12-row scale — never broadcastable), but a checkpointed/parquet
    # source can carry a tiny size ESTIMATE, and the planner then broadcasts
    # the whole replicated side — a ~GB HashedRelation built serially per
    # executor that neither scales nor survives real data volumes. The hint
    # makes the physical strategy deterministic at every scale.
    joined = left.hint("merge").join(right.hint("merge"), ["_bk", "lo", "hi"])
    filtered = joined.where(
        # cross-bucket pairs meet exactly once (lower bucket always on the
        # left); same-bucket pairs need a total order to dedup + drop selfs —
        # the 8-byte hashed order, so the filter almost never touches the
        # strings. A hash TIE between two distinct uids would silently drop
        # that pair, so ties fall back to the uid string order — the string
        # comparison only evaluates on ties (~n/2^64 of rows), keeping the
        # shuffle-pruning benefit while closing the silent-loss hole.
        (F.col("lo") != F.col("hi"))
        | (F.col("_uord_l") < F.col("_uord_r"))
        | (
            (F.col("_uord_l") == F.col("_uord_r"))
            & (F.col("uid_l") < F.col("uid_r"))
        )
    )
    pairs = filtered.select(
        "block_key",
        # canonical pair order regardless of which side a uid landed on
        F.least("uid_l", "uid_r").alias("uid_a"),
        F.greatest("uid_l", "uid_r").alias("uid_b"),
        *[F.col(c + "_l") for c in features],
        *[F.col(c + "_r") for c in features],
    )
    return pairs, sizes.where(F.col("block_size") > max_block_size)


def candidate_pairs(
    addresses: DataFrame,
    heavy_threshold: int = HEAVY_THRESHOLD,
    max_block_size: int = MAX_BLOCK_SIZE,
) -> Tuple[DataFrame, DataFrame]:
    """Generate within-block candidate pairs, skew-salted.

    Returns ``(pairs, dropped_blocks)`` where ``pairs`` carries canonical
    ``uid_a < uid_b`` and the full string features of both sides, suffixed
    ``_l``/``_r`` as :func:`salted_pair_join` met them (a side's features
    belong together, but ``_l`` is not always ``uid_a``'s), and
    ``dropped_blocks`` is the metrics table of oversized blocks excluded
    from matching. Production scoring runs
    :func:`addressit_spark.scoring.score_pairs_fused`, which generates the
    same pairs but shuffles interned int surface ids instead of these
    strings; this string form feeds the scalar scoring oracle in tests.
    """
    return salted_pair_join(
        addresses,
        tuple(PAIR_FEATURES),
        heavy_threshold=heavy_threshold,
        max_block_size=max_block_size,
    )


def candidate_pairs_unsalted(addresses: DataFrame) -> DataFrame:
    """Reference pair generation: plain block self-join (oracle for tests).

    Semantically identical to :func:`candidate_pairs`; quadratically skewed
    on dense keys, so only used to verify the salted path at small scale.
    """
    feat = ["uid"] + PAIR_FEATURES
    l = addresses.select(
        "block_key", *[F.col(c).alias(c + "_a") for c in feat]
    )
    r = addresses.select(
        "block_key", *[F.col(c).alias(c + "_b") for c in feat]
    )
    return l.join(r, "block_key").where(F.col("uid_a") < F.col("uid_b"))
