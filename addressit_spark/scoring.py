"""Pairwise scoring: one fused Spark scorer plus scalar oracles.

The candidate pairs arrive pre-blocked (same street name + locality soundex),
so the discriminative features are locality spelling, house number, unit and
the street-type surface. The composite score is engineered so that
reference-invariant perturbations (abbreviation swaps, dots, case, unit
forms, soundex-stable locality typos — the corpus generator's axes) stay
well above the threshold while same-block distinct entities (different house
number) fall well below it.

:func:`score_pairs_fused` is the only Spark scoring path. The pair rows never
leave the JVM: Jaro-Winkler runs once per DISTINCT surface pair as an
Arrow-batched ``mapInArrow`` (:func:`surface_sim_map`), and the weighted sum
is a JVM expression over a broadcast of that small table. The scalar
functions (:func:`score_pair_py`, :func:`jaro_winkler`, :func:`levenshtein`,
:func:`surface_sim`) are the oracles tests hold it to; :func:`jaro_winkler`
is the standard Jaro-Winkler (verified against DuckDB's
``jaro_winkler_similarity`` in tests).
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from addressit_spark.blocking import HEAVY_THRESHOLD, MAX_BLOCK_SIZE, salted_pair_join


def jaro_winkler(s1: str, s2: str) -> float:
    """Jaro-Winkler similarity (prefix scale 0.1, max prefix 4, boost
    threshold 0.7 — Winkler's original convention, and what DuckDB's
    ``jaro_winkler_similarity`` implements, which tests use as an oracle).
    """
    len1, len2 = len(s1), len(s2)
    if not len1 or not len2:
        return 0.0
    if s1 == s2:
        return 1.0
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    flags1 = [False] * len1
    flags2 = [False] * len2
    matches = 0
    for i, c1 in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(len2, i + match_window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c1:
                flags1[i] = True
                flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[j]:
                j += 1
            if s1[i] != s2[j]:
                transpositions += 1
            j += 1
    transpositions //= 2
    jaro = (
        matches / len1 + matches / len2 + (matches - transpositions) / matches
    ) / 3.0
    if jaro <= 0.7:  # Winkler boost threshold
        return jaro
    prefix = 0
    for c1, c2 in zip(s1[:4], s2[:4]):
        if c1 == c2:
            prefix += 1
        else:
            break
    return jaro + prefix * 0.1 * (1.0 - jaro)


def levenshtein(s1: str, s2: str) -> int:
    """Classic unit-cost edit distance — same semantics as Spark's
    ``F.levenshtein`` and DuckDB's ``levenshtein`` (both used as oracles in
    tests), so the JVM and Python scoring paths agree exactly.
    """
    if s1 == s2:
        return 0
    if not s1:
        return len(s2)
    if not s2:
        return len(s1)
    prev = list(range(len(s2) + 1))
    for i, c1 in enumerate(s1, 1):
        cur = [i]
        for j, c2 in enumerate(s2, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (c1 != c2)))
        prev = cur
    return prev[-1]


def surface_sim(s1: str, s2: str) -> float:
    """Hybrid string similarity: ``max(JW, 1 − lev/maxlen)``.

    Jaro-Winkler rewards shared prefixes (street/locality names); normalized
    Levenshtein catches the long-shared-suffix shapes JW under-scores. The
    ``max`` blend can only raise same-entity variant scores (recall-safe);
    within a block the street-name part of both surfaces is equal by
    construction, so it cannot manufacture cross-entity similarity the JW
    term didn't already see. Both-empty pairs score 0.0 (the JW convention).
    """
    jw = jaro_winkler(s1, s2)
    m = max(len(s1), len(s2))
    if m == 0:
        return jw
    return max(jw, 1.0 - levenshtein(s1, s2) / m)


def _pack_codes(strs: List[str]) -> tuple:
    """Pack a batch of strings into a (N, Lmax) uint32 codepoint matrix.

    One C-level ``encode('utf-32-le')`` for the whole batch; 0 is padding
    (real NULs never occur in address text). Returns (codes, lengths).
    """
    n = len(strs)
    lens = np.fromiter((len(s) for s in strs), dtype=np.int64, count=n)
    width = max(int(lens.max()) if n else 0, 1)
    buf = "".join(s.ljust(width, "\0") for s in strs)
    codes = np.frombuffer(buf.encode("utf-32-le"), dtype=np.uint32).reshape(n, width)
    return codes, lens


def jaro_winkler_batch(sa: List[str], sb: List[str]) -> np.ndarray:
    """Vectorized Jaro-Winkler over a batch of string pairs.

    Bit-identical to :func:`jaro_winkler` (same IEEE op order) but the
    O(L²) greedy-matching loops run as numpy ops across the whole batch
    instead of Python char loops per pair — this is the hot kernel behind
    candidate-pairs-scored/sec. L is the max string length in the batch
    (address tokens: ~8-30 chars), so cost is O(L² · N) elementwise ops.
    """
    n = len(sa)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    # chunk so the (N, L) flag/code matrices stay cache-resident; each chunk
    # also gets its own (usually narrower) pad width
    chunk = 16384
    if n > chunk:
        for s in range(0, n, chunk):
            out[s : s + chunk] = jaro_winkler_batch(sa[s : s + chunk], sb[s : s + chunk])
        return out
    a_codes, len1 = _pack_codes(sa)
    b_codes, len2 = _pack_codes(sb)
    l1w, l2w = a_codes.shape[1], b_codes.shape[1]
    lc = min(l1w, l2w)

    equal = (len1 == len2) & (a_codes[:, :lc] == b_codes[:, :lc]).all(axis=1)
    if l1w > lc:
        equal &= (a_codes[:, lc:] == 0).all(axis=1)
    if l2w > lc:
        equal &= (b_codes[:, lc:] == 0).all(axis=1)
    run = (len1 > 0) & (len2 > 0) & ~equal
    if run.any():
        mw = np.maximum(np.maximum(len1, len2) // 2 - 1, 0)
        flags1 = np.zeros((n, l1w), dtype=bool)
        flags2 = np.zeros((n, l2w), dtype=bool)
        for i in range(l1w):
            active = run & (i < len1)
            if not active.any():
                break
            c1 = a_codes[:, i]
            lo = np.maximum(0, i - mw)
            hi = np.minimum(len2, i + mw + 1)
            found = np.zeros(n, dtype=bool)
            for j in range(l2w):
                ok = (
                    active
                    & ~found
                    & (j >= lo)
                    & (j < hi)
                    & ~flags2[:, j]
                    & (b_codes[:, j] == c1)
                )
                if ok.any():
                    flags2[ok, j] = True
                    flags1[ok, i] = True
                    found |= ok
        matches = flags1.sum(axis=1)
        # k-th matched char of each side, in string order (scatter by rank)
        m1 = np.zeros((n, l1w), dtype=np.uint32)
        r, c = np.nonzero(flags1)
        m1[r, (np.cumsum(flags1, axis=1) - 1)[r, c]] = a_codes[r, c]
        m2 = np.zeros((n, l2w), dtype=np.uint32)
        r, c = np.nonzero(flags2)
        m2[r, (np.cumsum(flags2, axis=1) - 1)[r, c]] = b_codes[r, c]
        # matches ≤ min(len1,len2) ≤ lc, and both m-matrices are 0 past the
        # match count, so comparing the first lc columns is exhaustive
        trans = (m1[:, :lc] != m2[:, :lc]).sum(axis=1) // 2
        msafe = np.maximum(matches, 1)
        # len guards avoid a 0/0 RuntimeWarning; matches==0 whenever a len
        # is 0, so the np.where below already owns those rows' values
        l1safe = np.maximum(len1, 1)
        l2safe = np.maximum(len2, 1)
        jaro = (matches / l1safe + matches / l2safe + (matches - trans) / msafe) / 3.0
        jaro = np.where(matches > 0, jaro, 0.0)
        prefix = np.zeros(n, dtype=np.int64)
        live = np.ones(n, dtype=bool)
        for i in range(min(4, lc)):
            step = live & (i < len1) & (i < len2) & (a_codes[:, i] == b_codes[:, i])
            prefix += step
            live = step
        boosted = jaro + prefix * 0.1 * (1.0 - jaro)
        out[run] = np.where(jaro > 0.7, boosted, jaro)[run]
    out[equal & (len1 > 0)] = 1.0
    return out


# Composite weights: street surface 0.30, locality 0.35, number 0.25, unit 0.10.
W_STREET, W_LOCALITY, W_NUMBER, W_UNIT = 0.30, 0.35, 0.25, 0.10
DEFAULT_TAU = 0.87


def _unit_sim(u1: Optional[str], u2: Optional[str]) -> float:
    if u1 is None and u2 is None:
        return 1.0
    if u1 is None or u2 is None:
        return 0.5
    return 1.0 if u1 == u2 else 0.0


def score_pair_py(
    street_a: str,
    street_b: str,
    locality_a: str,
    locality_b: str,
    number_a: Optional[str],
    number_b: Optional[str],
    unit_a: Optional[str],
    unit_b: Optional[str],
) -> float:
    """Single-pair composite score — the scalar oracle of the fused scorer."""
    s = W_STREET * surface_sim(street_a or "", street_b or "")
    s += W_LOCALITY * surface_sim(locality_a or "", locality_b or "")
    s += W_NUMBER * (1.0 if (number_a or "") == (number_b or "") else 0.0)
    s += W_UNIT * _unit_sim(unit_a, unit_b)
    return s


def jw_pairs_table(pairs_of_strings: DataFrame) -> DataFrame:
    """Distinct non-null ``(a, b)`` string pairs → ``(a, b, jw)`` via the
    vectorized kernel, run as ``mapInArrow`` over a *small* pair set."""

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            a, b = batch.column("a"), batch.column("b")
            jw = jaro_winkler_batch(a.to_pylist(), b.to_pylist())
            yield pa.RecordBatch.from_arrays(
                [a, b, pa.array(jw, type=pa.float64())], names=["a", "b", "jw"]
            )

    # AQE coalesces the (small) distinct-pair shuffle to one partition,
    # which would serialize the JW kernel — spread it across the cores.
    spread = pairs_of_strings.repartition(
        pairs_of_strings.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInArrow(kernel, schema="a string, b string, jw double")


def surface_sim_map(
    addresses: DataFrame,
    max_block_size: int = MAX_BLOCK_SIZE,
    max_block_surfaces: int = HEAVY_THRESHOLD,
) -> DataFrame:
    """Combined surface-similarity dim: ``(pair_key, sim)``.

    One row per distinct unordered pair of DISTINCT surfaces that co-occur
    in a block (street AND locality surfaces in one table — sim depends only
    on the strings, so the union dedups safely), keyed by
    ``xxhash64(min_id, max_id)`` of the two ``xxhash64`` surface ids, plus
    one constant ``('', '') → 0.0`` row: the empty surface is the only one
    whose sim with itself is not 1.0, so probing consumers resolve every
    other equal-surface pair with a guaranteed miss → ``coalesce(sim, 1.0)``.

    One ``groupBy("block_key")`` builds each block's row count and its two
    sorted distinct surface sets (street, locality; NULL reads ``''``).
    Partial aggregation collapses a hot block to its distinct surfaces
    before the shuffle, so no salting is needed here. Each set is then
    crossed in place — pairs ``i < j`` of the sorted array, so ``a < b`` —
    and the pairs are deduped across blocks and tags.

    ``max_block_size`` (the pipeline passes ``blocking.MAX_BLOCK_SIZE``):
    blocks with more rows are left out. Candidate generation drops them
    too, so their sim rows would never be consumed. A surface pair that also
    co-occurs in a surviving block is still emitted from that block.

    ``max_block_surfaces`` (the pipeline passes ``blocking.HEAVY_THRESHOLD``):
    a street or locality set with more distinct surfaces is not crossed —
    the guard for a block under the row cap but degenerate in surface
    variety. Pairs whose sim rows are skipped read the scorer's
    conservative miss default (0.0 for distinct surfaces), so this can only
    lower scores, never merge clusters.

    Memory bound: a block's two sets hold its distinct street and locality
    spellings, and the block key already fixes the street name and the
    locality's soundex, so a set is small unless the block is degenerate.
    Both caps filter only after the aggregation: a block above the row cap
    or a set above the surface cap is built once and never crossed, and a
    crossed set yields at most ``c(c−1)/2`` pairs (32,640 at the default
    cap of 256).

    This is the pipeline's materializable dim stage: built once (tiny —
    bounded by co-occurring distinct surfaces), snapshot to the checkpoint
    store, and broadcast into the scoring pass.
    """

    def surface_set(c: str) -> "F.Column":
        return F.array_sort(F.collect_set(F.coalesce(F.col(c), F.lit(""))))

    def crossed(c: str) -> "F.Column":
        # every pair i < j of the sorted set; a set over the cap yields none
        xs = F.col(c)
        n = F.when(F.size(xs) <= max_block_surfaces, F.size(xs)).otherwise(0)
        return F.flatten(
            F.transform(
                F.slice(xs, 1, n),
                lambda x, i: F.transform(
                    F.slice(xs, i + 2, n), lambda y: F.struct(x.alias("a"), y.alias("b"))
                ),
            )
        )

    pairs = (
        addresses.groupBy("block_key")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            surface_set("street_norm").alias("s"),
            surface_set("locality").alias("l"),
        )
        .where(F.col("rows") <= max_block_size)
        .select(F.inline(F.concat(crossed("s"), crossed("l"))))
        .distinct()
    )
    # a != b, so the longer surface is never empty (surface_sim's m > 0 branch)
    m = F.greatest(F.length("a"), F.length("b"))
    sim = F.greatest(F.col("jw"), F.lit(1.0) - F.levenshtein("a", "b") / m)
    ha, hb = F.xxhash64("a"), F.xxhash64("b")
    # the cross never emits a == b, so the one equal-surface pair whose sim
    # is not 1.0 is added as a constant row
    h0 = F.xxhash64(F.lit(""))
    empty = addresses.sparkSession.range(1).select(
        F.xxhash64(h0, h0).alias("pair_key"), F.lit(surface_sim("", "")).alias("sim")
    )
    return (
        jw_pairs_table(pairs)
        .select(
            F.xxhash64(F.least(ha, hb), F.greatest(ha, hb)).alias("pair_key"),
            sim.alias("sim"),
        )
        .union(empty)
    )


def score_pairs_fused(
    addresses: DataFrame,
    heavy_threshold: int = HEAVY_THRESHOLD,
    max_block_size: int = MAX_BLOCK_SIZE,
    sims: Optional[DataFrame] = None,
) -> "tuple[DataFrame, DataFrame]":
    """Blocking + scoring fused, with interned surface ids — the one scorer.

    Scores the same pair set as ``candidate_pairs(addresses)``, each score
    bit-identical to :func:`score_pair_py` on that pair's features (asserted
    in tests), but the 10^12-row salted shuffle carries
    ``(block hash, salt, uid, street_id, locality_id, number_hash,
    unit_hash)`` — every feature an 8-byte ``xxhash64`` instead of a string,
    an 8-byte block hash as the join key, the block-key string carried once
    (left side only) for the output, and the uid strings referenced ONLY by
    output projections (the join's dedup filter compares hashed orders), so
    a consumer that doesn't project them sheds them from the shuffle
    altogether. The Jaro-Winkler/Levenshtein surface-similarity tables are
    computed once per DISTINCT surface pair (strings, tiny; equal surfaces
    short-circuit to 1.0 via a left-join miss, except the constant
    ``('', '') → 0.0`` row) and broadcast keyed by a single canonical
    8-byte pair hash. Cuts the expanding join's bytes/row by ~3×, which is
    the difference between memory-bandwidth-bound and CPU-bound on wide
    executors.

    Surface-id collisions: a 64-bit collision between two distinct surfaces
    *within one block* would make a pair read the wrong similarity row. With
    ~10⁸ distinct surfaces the probability of even one global collision is
    ~3·10⁻⁴, and a collision affects similarity values only (never pair
    identity — uids stay strings), so the expected error mass at any
    realistic scale is zero-ish and bounded.

    ``sims``: a precomputed :func:`surface_sim_map` table (e.g. read back
    from a checkpoint snapshot, or pre-materialized so many scoring passes
    share one build); ``None`` builds it inline in the same plan, capped at
    ``heavy_threshold`` distinct surfaces per block: a block under the row
    cap but with a degenerate number of DISTINCT surfaces (~rows² similarity
    pairs in the "tiny" dim stage, and a broadcast sim table that is no
    longer tiny) skips its surface cross, and its distinct-surface pairs read
    the conservative miss default (0.0) — scores can only go DOWN, never
    merge clusters.

    Returns ``(scored, dropped_blocks)``.
    """
    if sims is None:
        # the same block-size cap candidate generation applies below: sim
        # rows for dropped blocks would never be consumed
        sims = surface_sim_map(
            addresses,
            max_block_size=max_block_size,
            max_block_surfaces=heavy_threshold,
        )
    sj = sims.select(
        F.col("pair_key").alias("_skey"), F.col("sim").alias("_jw_street")
    )
    lj = sims.select(
        F.col("pair_key").alias("_lkey"), F.col("sim").alias("_jw_loc")
    )

    addresses = addresses.withColumns(
        {
            c: F.coalesce(F.col(c), F.lit(""))
            for c in ("street_norm", "locality")
        }
    )

    # number: NULL ≡ '' for equality, so one hash; unit: NULL is a distinct
    # 3-state case, so a null-preserving hash. 8-byte ints instead of short
    # strings keeps the expanding join's emitted row fixed-width.
    slim = addresses.select(
        "block_key",
        "uid",
        F.xxhash64("street_norm").alias("sid"),
        F.xxhash64("locality").alias("lid"),
        F.xxhash64(F.coalesce("number", F.lit(""))).alias("numh"),
        F.when(F.col("unit").isNotNull(), F.xxhash64("unit")).alias("unith"),
    )
    pairs, dropped = salted_pair_join(
        slim,
        ("sid", "lid", "numh", "unith"),
        heavy_threshold=heavy_threshold,
        max_block_size=max_block_size,
    )
    keyed = pairs.withColumns(
        {
            "_skey": F.xxhash64(
                F.least("sid_l", "sid_r"), F.greatest("sid_l", "sid_r")
            ),
            "_lkey": F.xxhash64(
                F.least("lid_l", "lid_r"), F.greatest("lid_l", "lid_r")
            ),
        }
    )
    p = keyed.join(F.broadcast(sj), "_skey", "left").join(
        F.broadcast(lj), "_lkey", "left"
    )
    unit_sim = (
        F.when(F.col("unith_l").isNull() & F.col("unith_r").isNull(), F.lit(1.0))
        .when(F.col("unith_l").isNull() | F.col("unith_r").isNull(), F.lit(0.5))
        .when(F.col("unith_l") == F.col("unith_r"), F.lit(1.0))
        .otherwise(F.lit(0.0))
    )

    # Sim-map miss policy: equal interned ids mean equal surfaces — the dim
    # omits that diagonal, so a miss resolves to 1.0; the empty-string pair,
    # whose true sim is 0.0, is the map's one constant row and wins the
    # coalesce in every block, surface-capped or not. For DISTINCT ids a
    # miss means the pair's surfaces never co-occurred in a surviving,
    # uncapped block (surface cap, block-hash collision merging two blocks,
    # or a stale precomputed ``sims`` snapshot) — that must default LOW:
    # defaulting to 1.0 would score unrelated pairs as perfect street +
    # locality matches and let connected components merge their clusters.
    # Every scoring expression is symmetric in the l/r sides.
    def sim_or_default(id_l: str, id_r: str, sim: "F.Column") -> "F.Column":
        return F.when(
            F.col(id_l) == F.col(id_r), F.coalesce(sim, F.lit(1.0))
        ).otherwise(F.coalesce(sim, F.lit(0.0)))

    score = (
        F.lit(W_STREET) * sim_or_default("sid_l", "sid_r", F.col("_jw_street"))
        + F.lit(W_LOCALITY) * sim_or_default("lid_l", "lid_r", F.col("_jw_loc"))
        + F.when(F.col("numh_l") == F.col("numh_r"), F.lit(W_NUMBER)).otherwise(
            F.lit(0.0)
        )
        + F.lit(W_UNIT) * unit_sim
    )
    return p.select("uid_a", "uid_b", "block_key", score.alias("score")), dropped


def match_edges(scored: DataFrame, tau: float = DEFAULT_TAU) -> DataFrame:
    """Threshold scored pairs into the match-edge list."""
    return scored.where(F.col("score") >= tau).select(
        F.col("uid_a").alias("src"), F.col("uid_b").alias("dst")
    )
