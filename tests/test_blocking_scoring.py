"""Blocking + scoring: salted pair-set equivalence, JW oracle, thresholds."""

import itertools

import duckdb
import pytest

from pyspark.sql import functions as F

from addressit_spark import blocking
from addressit_spark.blocking import (
    address_table,
    block_stats,
    candidate_pairs,
    candidate_pairs_unsalted,
)
from addressit_spark.parse_stage import parse_spans
from addressit_spark.scoring import (
    DEFAULT_TAU,
    jaro_winkler,
    jaro_winkler_batch,
    score_pair_py,
)
from addressit_spark.sources.corpus import documents_view, render_variant, synth_corpus


@pytest.fixture(scope="module")
def addresses(spark):
    docs = documents_view(synth_corpus(spark, 600, seed=42))
    return address_table(parse_spans(docs)).cache()


def test_salted_pairs_equal_unsalted(spark, addresses, monkeypatch):
    # tiny threshold forces multi-bucket salting on most blocks
    monkeypatch.setattr(blocking, "SALT_CAP", 8)
    salted, dropped = candidate_pairs(addresses, heavy_threshold=2)
    unsalted = candidate_pairs_unsalted(addresses)
    s = salted.select("uid_a", "uid_b")
    u = unsalted.select("uid_a", "uid_b")
    assert dropped.count() == 0
    assert s.count() == u.count()
    assert s.exceptAll(u).count() == 0
    assert u.exceptAll(s).count() == 0
    # canonical order + no dup + no self pairs
    assert salted.where(F.col("uid_a") >= F.col("uid_b")).count() == 0
    assert s.distinct().count() == s.count()


def test_block_stats_nonempty(addresses):
    stats = block_stats(addresses).collect()
    assert sum(r["n_blocks"] for r in stats) > 0
    assert all(r["block_size"] >= 1 for r in stats)


def test_jaro_winkler_matches_duckdb():
    words = [
        "MELBOURNE", "MELBORNE", "BRISBANE", "BRISBAN", "ROBINSON ROAD",
        "ROBINSON RD", "KALGOORLIE", "KALGORLIE", "A", "", "MARTHA", "MARHTA",
        "DWAYNE", "DUANE", "DIXON", "DICKSONX",
    ]
    con = duckdb.connect()
    for a in words:
        for b in words:
            got = jaro_winkler(a, b)
            want = con.execute(
                "select jaro_winkler_similarity(?, ?)", [a, b]
            ).fetchone()[0]
            assert abs(got - want) < 1e-9, (a, b, got, want)


def test_jaro_winkler_batch_matches_scalar():
    """Vectorized kernel is bit-identical to the scalar (DuckDB-pinned) one."""
    import random

    rng = random.Random(7)
    alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ '-0123456789"
    words = [
        "", "A", "AB", "MELBOURNE", "MELBORNE", "ROBINSON ROAD", "ROBINSON RD",
        "MARTHA", "MARHTA", "DWAYNE", "DUANE", "DIXON", "DICKSONX",
        "NORTHERN MARIANA ISLANDS",
    ] + [
        "".join(rng.choice(alpha) for _ in range(rng.randint(0, 24)))
        for _ in range(120)
    ]
    pairs_a, pairs_b = [], []
    for a in words:
        for b in words:
            pairs_a.append(a)
            pairs_b.append(b)
    got = jaro_winkler_batch(pairs_a, pairs_b)
    for i, (a, b) in enumerate(zip(pairs_a, pairs_b)):
        want = jaro_winkler(a, b)
        assert got[i] == want, (a, b, got[i], want)


def test_score_separation():
    """Same-entity variants score above τ; same-block distinct entities below."""
    for eid in range(300):
        texts = [render_variant(eid, v, 42)[0] for v in range(3)]
        from addressit_spark.kernel import parse

        recs = [parse(t) for t in texts]
        for i in range(len(recs)):
            for j in range(i + 1, len(recs)):
                a, b = recs[i], recs[j]
                s = score_pair_py(
                    (a["street"] or "").upper(), (b["street"] or "").upper(),
                    a["regions"][0].upper(), b["regions"][0].upper(),
                    a["number"], b["number"], a["unit"], b["unit"],
                )
                assert s >= DEFAULT_TAU, (texts[i], texts[j], s)
    # same street+locality, different number → must stay below τ
    s = score_pair_py("ROBINSON RD", "ROBINSON ROAD", "MELBOURNE", "MELBORNE",
                      "12", "99", None, None)
    assert s < DEFAULT_TAU, s


def _fused_scores(addresses):
    from addressit_spark.scoring import score_pairs_fused

    scored, dropped = score_pairs_fused(addresses)
    rows = scored.collect()
    fused = {(r["uid_a"], r["uid_b"]): (r["block_key"], r["score"]) for r in rows}
    assert dropped.count() == 0
    assert len(fused) == len(rows) > 0  # no pair scored twice
    return fused


def test_fused_equals_compositional(spark, addresses):
    """score_pairs_fused == the compositional path: candidate_pairs' pair set
    and block keys, each pair scored by score_pair_py — bit-identical scores
    (``==``, no tolerance) over the whole fixture."""
    fused = _fused_scores(addresses)
    pairs, _ = candidate_pairs(addresses)
    comp = {
        (p["uid_a"], p["uid_b"]): (
            p["block_key"],
            score_pair_py(
                p["street_norm_l"], p["street_norm_r"],
                p["locality_l"], p["locality_r"],
                p["number_l"], p["number_r"],
                p["unit_l"], p["unit_r"],
            ),
        )
        for p in pairs.collect()
    }
    assert fused.keys() == comp.keys()
    bad = [(k, fused[k], comp[k]) for k in comp if fused[k] != comp[k]]
    assert not bad, bad[:5]


def test_spark_scoring_matches_kernel(spark, addresses):
    """Every Spark score equals the scalar kernel score_pair_py on the two
    uids' own address rows (not candidate_pairs' projection), so each side
    of a hashed pair reads its own features."""
    fused = _fused_scores(addresses)
    feat = {r["uid"]: r for r in addresses.collect()}
    bad = []
    for (ua, ub), (_, score) in fused.items():
        a, b = feat[ua], feat[ub]
        want = score_pair_py(
            a["street_norm"], b["street_norm"],
            a["locality"], b["locality"],
            a["number"], b["number"],
            a["unit"], b["unit"],
        )
        if score != want:
            bad.append(((ua, ub), score, want))
    assert not bad, bad[:5]


def test_surface_factored_equals_arrow_path(spark, addresses):
    """The surface-factored scorer (one sim per DISTINCT surface pair, probed
    by hash) == an unfactored per-pair path: the vectorized JW kernel run
    over every pair's surfaces, blended with Levenshtein, bitwise."""
    import numpy as np

    from addressit_spark.scoring import (
        W_LOCALITY, W_NUMBER, W_STREET, W_UNIT, _unit_sim, levenshtein,
    )

    fused = _fused_scores(addresses)
    pairs, _ = candidate_pairs(addresses)
    rows = pairs.collect()

    def sims(col):
        sa = [r[col + "_l"] or "" for r in rows]
        sb = [r[col + "_r"] or "" for r in rows]
        jw = jaro_winkler_batch(sa, sb)
        out = []
        for x, y, j in zip(sa, sb, jw.tolist()):
            m = max(len(x), len(y))
            out.append(j if m == 0 else max(j, 1.0 - levenshtein(x, y) / m))
        return np.array(out)

    street, loc = sims("street_norm"), sims("locality")
    bad = []
    for r, ss, ls in zip(rows, street.tolist(), loc.tolist()):
        want = W_STREET * ss
        want += W_LOCALITY * ls
        want += W_NUMBER * (1.0 if (r["number_l"] or "") == (r["number_r"] or "") else 0.0)
        want += W_UNIT * _unit_sim(r["unit_l"], r["unit_r"])
        key = (r["uid_a"], r["uid_b"])
        if fused[key] != (r["block_key"], want):
            bad.append((key, fused[key], want))
    assert len(rows) == len(fused)
    assert not bad, bad[:5]


def test_fused_null_surfaces_score_as_empty(spark):
    """NULL street/locality surfaces must score like '' and no pair vanishes.

    The fused scorer keys surfaces by hash and joins the sim map on them;
    NULL keys never match, so without coalescing to '' a NULL-surface pair
    would read the wrong similarity or drop out of the join.
    """
    from addressit_spark.scoring import score_pairs_fused

    rows = [
        ("b1", "u1", None, None, "1", None),
        ("b1", "u2", "MAIN ST", "SPRINGFIELD", "1", None),
        ("b2", "u3", "MAIN ST", "SPRINGFIELD", "2", "1"),
        ("b2", "u4", "MAIN ST", None, "2", "1"),
        ("b3", "u5", None, None, "3", None),
        ("b3", "u6", None, None, "3", None),
    ]
    cols = (
        "block_key string, uid string, street_norm string, "
        "locality string, number string, unit string"
    )
    empty = [(b, u, s or "", l or "", n, t) for b, u, s, l, n, t in rows]

    def scores(data):
        scored, _ = score_pairs_fused(spark.createDataFrame(data, cols))
        return {(r["uid_a"], r["uid_b"]): r["score"] for r in scored.collect()}

    got = scores(rows)
    assert set(got) == {("u1", "u2"), ("u3", "u4"), ("u5", "u6")}
    assert got == scores(empty)
    by_uid = {r[1]: r for r in rows}
    for (a, b), score in got.items():
        ra, rb = by_uid[a], by_uid[b]
        assert score == score_pair_py(
            ra[2], rb[2], ra[3], rb[3], ra[4], rb[4], ra[5], rb[5]
        ), (a, b)


def test_levenshtein_matches_duckdb_and_spark(spark):
    """Python levenshtein == DuckDB levenshtein == Spark F.levenshtein."""
    from addressit_spark.scoring import levenshtein

    words = ["", "A", "MELBOURNE", "MELBORNE", "ROBINSON ROAD", "ROBINSON RD",
             "NORTH ST", "SOUTH ST", "KALGOORLIE", "KALGORLIE", "X"]
    con = duckdb.connect()
    rows = [(a, b) for a in words for b in words]
    df = spark.createDataFrame(rows, "a string, b string")
    got_spark = {
        (r["a"], r["b"]): r["lev"]
        for r in df.select("a", "b", F.levenshtein("a", "b").alias("lev")).collect()
    }
    for a, b in rows:
        py = levenshtein(a, b)
        dk = con.execute("select levenshtein(?, ?)", [a, b]).fetchone()[0]
        assert py == dk == got_spark[(a, b)], (a, b, py, dk, got_spark[(a, b)])


def test_surface_sim_hybrid_properties():
    from addressit_spark.scoring import surface_sim

    # hybrid can only raise the JW score
    assert surface_sim("MELBOURNE", "MELBORNE") >= jaro_winkler("MELBOURNE", "MELBORNE")
    # long-shared-suffix shape where normalized lev wins over JW
    assert surface_sim("NORTH ST", "SOUTH ST") == max(
        jaro_winkler("NORTH ST", "SOUTH ST"), 1.0 - 2 / 8
    )
    assert surface_sim("", "") == 0.0
    assert surface_sim("ABC", "ABC") == 1.0


def test_fused_with_precomputed_sims_identical(spark, addresses):
    """Prebuilt surface_sim_map == inline build, bit-identical scores."""
    from addressit_spark.scoring import score_pairs_fused, surface_sim_map

    sims = surface_sim_map(addresses).localCheckpoint(eager=True)
    inline, _ = score_pairs_fused(addresses)
    pre, _ = score_pairs_fused(addresses, sims=sims)
    a = {(r["uid_a"], r["uid_b"]): r["score"] for r in inline.collect()}
    b = {(r["uid_a"], r["uid_b"]): r["score"] for r in pre.collect()}
    assert a == b and len(a) > 0
    # the map drops the equal-nonempty diagonal entirely ...
    diag = sims.where(F.col("sim") >= 1.0).count()
    assert diag == 0
    # ... and holds the empty-surface pair exactly once, as 0.0
    h0 = F.xxhash64(F.lit(""))
    empty = sims.where(F.col("pair_key") == F.xxhash64(h0, h0)).collect()
    assert [r["sim"] for r in empty] == [0.0]
    assert sims.count() > 1


def test_sim_map_miss_defaults_low_for_distinct_surfaces(spark):
    """A sim-map miss on DISTINCT surfaces must score 0.0, not 1.0.

    Round-2 advisor finding: coalesce(sim, 1.0) let any pair absent from the
    broadcast map (block-hash collision, stale sims snapshot) score street +
    locality as perfect 1.0 — spuriously HIGH, merging unrelated clusters.
    An empty sims table simulates the worst-case stale snapshot.
    """
    from addressit_spark.scoring import (
        W_NUMBER, W_STREET, W_LOCALITY, W_UNIT, score_pairs_fused,
    )

    rows = [
        # same block, DISTINCT street+locality surfaces, same number, no unit
        ("b1", "u1", "ELM ST", "SPRINGFIELD", "12", None),
        ("b1", "u2", "OAK AVE", "SHELBYVILLE", "12", None),
        # same block, IDENTICAL surfaces (diagonal short-circuit must stay 1.0)
        ("b2", "u3", "MAIN ST", "OGDEN", "7", None),
        ("b2", "u4", "MAIN ST", "OGDEN", "7", None),
    ]
    addrs = spark.createDataFrame(
        rows, "block_key string, uid string, street_norm string, "
              "locality string, number string, unit string"
    )
    empty_sims = spark.createDataFrame([], "pair_key long, sim double")
    scored, _ = score_pairs_fused(addrs, sims=empty_sims)
    got = {(r["uid_a"], r["uid_b"]): r["score"] for r in scored.collect()}
    # distinct surfaces + map miss → street/locality contribute 0.0
    assert abs(got[("u1", "u2")] - (W_NUMBER + W_UNIT * 1.0)) < 1e-12
    # equal surfaces → miss is the intended diagonal short-circuit → 1.0
    assert abs(got[("u3", "u4")] - (W_STREET + W_LOCALITY + W_NUMBER + W_UNIT)) < 1e-12


def test_surface_sim_map_block_caps(spark):
    """Oversized blocks are excluded from the sim-dim cross (advisor fix)."""
    from addressit_spark.scoring import surface_sim_map

    rows = [("bA", "a%d" % i, "ELM ST", "OGDEN", "1", None) for i in range(2)]
    # oversized block: 5 rows, 2 distinct street surfaces
    rows += [
        ("bB", "b%d" % i, "OAK AVE" if i % 2 else "OAK AVENUE", "TROY", "2", None)
        for i in range(5)
    ]
    rows[0] = ("bA", "a0", "ELM STREET", "OGDEN", "1", None)  # bA: 2 surfaces
    addrs = spark.createDataFrame(
        rows, "block_key string, uid string, street_norm string, "
              "locality string, number string, unit string"
    )
    full = surface_sim_map(addrs).count()
    capped = surface_sim_map(addrs, max_block_size=3).count()
    # bB's (OAK AVE, OAK AVENUE) cross row disappears; bA's survives
    assert capped < full
    assert capped >= 1
    # surface-count cap: bB has 2 distinct street surfaces, bA has 2 —
    # cap of 1 removes every off-diagonal street pair
    surf_capped = surface_sim_map(addrs, max_block_surfaces=1).count()
    assert surf_capped < capped


_ADDR_SCHEMA = (
    "block_key string, uid string, street_norm string, "
    "locality string, number string, unit string"
)


def _oracle_pairs(rows, max_block_size, max_block_surfaces):
    """The surface pairs ``surface_sim_map`` must cross, by brute force:
    ``itertools.combinations`` over each kept block×tag's sorted distinct
    surfaces (NULL reads '')."""
    blocks = {}
    for r in rows:
        blocks.setdefault(r[0], []).append(r)
    pairs = set()
    for block in blocks.values():
        if len(block) > max_block_size:
            continue
        for col in (2, 3):  # street_norm, locality
            surfaces = sorted({r[col] or "" for r in block})
            if len(surfaces) <= max_block_surfaces:
                pairs.update(itertools.combinations(surfaces, 2))
    return pairs


def _assert_sim_map_matches_oracle(spark, rows, max_block_size, max_block_surfaces):
    """``surface_sim_map`` == the oracle pairs scored by ``surface_sim`` and
    keyed by the same ``xxhash64`` expression, plus the constant empty row;
    compared as sorted row lists, so a duplicate row fails too."""
    from addressit_spark.scoring import surface_sim, surface_sim_map

    pairs = _oracle_pairs(rows, max_block_size, max_block_surfaces) | {("", "")}
    ha, hb = F.xxhash64("a"), F.xxhash64("b")
    want = spark.createDataFrame(
        [(a, b, surface_sim(a, b)) for a, b in pairs], "a string, b string, sim double"
    ).select(F.xxhash64(F.least(ha, hb), F.greatest(ha, hb)).alias("pair_key"), "sim")
    got = surface_sim_map(
        spark.createDataFrame(rows, _ADDR_SCHEMA),
        max_block_size=max_block_size,
        max_block_surfaces=max_block_surfaces,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_surface_sim_map_dense_blocks_match_oracle(spark):
    """A dense block (13 distinct street surfaces, 7 localities) and a
    second block sharing some of its surfaces: the in-place per-block cross
    at the default caps equals the combinations oracle, and a pair that
    co-occurs in both blocks is emitted once."""
    rows = [
        ("dense", "u%d" % i, "STREET %d" % (i % 13), "TOWN %d" % (i % 7),
         str(i % 3), None)
        for i in range(40)
    ] + [
        ("other", "v%d" % i, "STREET %d" % (i % 5), "TOWN %d" % (i % 2),
         "9", "U%d" % i)
        for i in range(10)
    ]
    _assert_sim_map_matches_oracle(
        spark, rows, blocking.MAX_BLOCK_SIZE, blocking.HEAVY_THRESHOLD
    )


def test_surface_sim_map_cap_boundaries_match_oracle(spark):
    """Both caps are inclusive: a block of exactly ``max_block_size`` rows is
    kept and one more row drops it; a set of exactly ``max_block_surfaces``
    distinct surfaces is crossed and one more skips it (the block's other
    set is still crossed). Every boundary block has surfaces of its own, so
    a ``<=`` turned ``<`` (or the reverse) changes the map."""
    size, surfaces = 6, 4
    rows = (
        # 5 rows, exactly 4 street surfaces: crossed
        [("surf_at", "a%d" % i, "ELM ST %d" % (i % 4), "OGDEN" if i % 2 else "OGDENN",
          "1", None) for i in range(5)]
        # 5 rows, 5 street surfaces: street set skipped, localities crossed
        + [("surf_over", "b%d" % i, "OAK AVE %d" % i, "TROY" if i % 2 else "TROYE",
            "2", None) for i in range(5)]
        # exactly 6 rows (one NULL street reads ''): kept
        + [("rows_at", "c%d" % i, "PINE RD %d" % (i % 2) if i else None,
            "ALBANY" if i % 2 else "ALBANI", "3", None) for i in range(6)]
        # 7 rows: dropped
        + [("rows_over", "d%d" % i, "BIRCH LN %d" % (i % 2),
            "SALEM" if i % 2 else "SALEMM", "4", None) for i in range(7)]
    )
    at = _oracle_pairs(rows, size, surfaces)
    # the fixture sits on both boundaries: moving either cap by one in
    # either direction changes the pair set
    for s, c in ((size - 1, surfaces), (size + 1, surfaces),
                 (size, surfaces - 1), (size, surfaces + 1)):
        assert _oracle_pairs(rows, s, c) != at, (s, c)
    _assert_sim_map_matches_oracle(spark, rows, size, surfaces)


def test_fused_degenerate_surface_block_capped_by_default(spark, monkeypatch):
    """A block under the row cap but with degenerate DISTINCT-surface count
    must not build its surface cross: score_pairs_fused caps its inline sim
    map at heavy_threshold distinct surfaces per block, and the skipped
    pairs read the conservative miss-low default (equal surfaces still 1.0)."""
    from addressit_spark.scoring import (
        W_LOCALITY, W_NUMBER, W_UNIT, score_pairs_fused, surface_sim_map,
    )

    rows = [
        # 5 distinct street surfaces in one block (> heavy_threshold=2),
        # single shared locality (1 distinct ≤ cap → locality sims survive)
        ("b1", "u%d" % i, "STREET %d" % i, "OGDEN", "7", None)
        for i in range(5)
    ]
    addrs = spark.createDataFrame(
        rows, "block_key string, uid string, street_norm string, "
              "locality string, number string, unit string"
    )
    monkeypatch.setattr(blocking, "SALT_CAP", 4)
    scored, _ = score_pairs_fused(addrs, heavy_threshold=2)
    got = {(r["uid_a"], r["uid_b"]): r["score"] for r in scored.collect()}
    assert len(got) == 10  # all pairs still generated — only sims are capped
    # street surfaces distinct + cross skipped → street term 0.0; locality
    # equal → diagonal short-circuit 1.0; number equal; unit both-null 1.0
    expect = W_LOCALITY + W_NUMBER + W_UNIT
    assert all(abs(s - expect) < 1e-12 for s in got.values())
    # the map at the default surface cap (256 ≥ 5): distinct street pairs
    # now score their true (sub-1.0) surface sims — every score strictly higher
    exact, _ = score_pairs_fused(addrs, heavy_threshold=2, sims=surface_sim_map(addrs))
    got_exact = {(r["uid_a"], r["uid_b"]): r["score"] for r in exact.collect()}
    assert got_exact.keys() == got.keys()
    assert all(got_exact[k] > got[k] for k in got)

    # a block whose LOCALITY cross is capped (4 distinct surfaces incl. '')
    # still scores the equal-empty locality pair as sim('', '') = 0.0: a
    # miss there would read 1.0 and push (u1, u2) over τ
    capped_loc = spark.createDataFrame(
        [("b2", "u1", "MAIN ST", None, "7", None),
         ("b2", "u2", "MAIN ST", None, "7", None)]
        + [("b2", "v%d" % i, "MAIN ST", loc, "8", None)
           for i, loc in enumerate(["ALPHA", "BETA", "GAMMA"])],
        addrs.schema,
    )
    scored, _ = score_pairs_fused(capped_loc, heavy_threshold=2)
    (u12,) = scored.where(F.col("uid_a") == "u1").where(F.col("uid_b") == "u2").collect()
    want = score_pair_py("MAIN ST", "MAIN ST", None, None, "7", "7", None, None)
    assert u12["score"] == want < DEFAULT_TAU


def test_memo_pairs_with_separator_bytes(spark):
    """Surfaces containing \\x01 must not alias into the wrong pair.

    Round-2 advisor finding: the memoized kernels joined pair keys with
    \\x01 and split on the FIRST occurrence, so a surface containing \\x01
    decoded into the wrong (a, b) pair. The sim map's kernel,
    ``jw_pairs_table``, must score every pair exactly as the scalar oracle.
    """
    from addressit_spark.scoring import jw_pairs_table

    a = ["A\x01B", "A", "X\x01", "", "MAIN ST"]
    b = ["C", "\x01BC", "\x01Y", "\x01", "MAIN\x01ST"]
    pairs = spark.createDataFrame(list(zip(a, b)), "a string, b string")
    got = {(r["a"], r["b"]): r["jw"] for r in jw_pairs_table(pairs).collect()}
    assert got == {(x, y): jaro_winkler(x, y) for x, y in zip(a, b)}
