"""Fellegi-Sunter weights + blocking-quality evaluation
(semlink.linkeval): exact m/u and score values on hand fixtures, and
the planted-corruption query properties at sf0.001."""
import math

from pyspark.sql import functions as F

from semlink.linkeval import (block_pairs, blocking_quality, fs_em_fit,
                              fs_em_weights, fs_estimate_weights, fs_score,
                              sorted_neighborhood_pairs)


def _pairs_fixture(spark):
    # 2 matches, 3 non-matches; one field ('fa') perfectly
    # discriminating, one ('fb') useless (always 1).
    rows = [
        (1, 2, 1, 1, 1),
        (3, 4, 1, 1, 1),
        (1, 3, 0, 1, 0),
        (1, 4, 0, 1, 0),
        (2, 4, 0, 1, 0),
    ]
    return spark.createDataFrame(
        rows, "rec_l long, rec_r long, fa long, fb long, is_match long")


def test_fs_weights_laplace_exact(spark):
    """m/u are the Laplace-smoothed conditional agreement rates —
    exact rationals checked field by field, including the degenerate
    always-agree field staying strictly inside (0, 1)."""
    w = fs_estimate_weights(_pairs_fixture(spark), ["fa", "fb"]) \
        .collect()[0]
    assert (w.nm, w.nu) == (2, 3)
    assert w.m_fa == (2 + 1) / (2 + 2)      # 0.75
    assert w.u_fa == (0 + 1) / (3 + 2)      # 0.2
    assert w.m_fb == (2 + 1) / (2 + 2)
    assert w.u_fb == (3 + 1) / (3 + 2)      # 0.8 — useless field
    assert 0.0 < w.u_fa < w.m_fa < 1.0


def test_fs_score_matches_hand_computation(spark):
    """fs6 equals the hand-computed log-likelihood sum for both an
    all-agree and an all-disagree pair (same Laplace m/u)."""
    lab = _pairs_fixture(spark)
    w = fs_estimate_weights(lab, ["fa", "fb"])
    got = {(r.rec_l, r.rec_r): r.fs6
           for r in fs_score(lab, w, ["fa", "fb"]).collect()}
    m_fa, u_fa, m_fb, u_fb = 0.75, 0.2, 0.75, 0.8
    agree = math.log(m_fa / u_fa) + math.log(m_fb / u_fb)
    dis = math.log((1 - m_fa) / (1 - u_fa)) + math.log(m_fb / u_fb)
    assert got[(1, 2)] == round(agree * 1e6)
    assert got[(1, 3)] == round(dis * 1e6)
    assert got[(1, 2)] > 0 > got[(1, 3)]


def test_blocking_quality_hand_values(spark):
    """4 records, 2 entities, one split across blocks: C(4,2)=6 total
    pairs, blocks {a: r1 r2 r3} {b: r4}, true pairs (r1,r2) found and
    (r3,r4) missed -> rr = 1 - 3/6, pc = 1/2, pq = 1/3."""
    recs = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "a"), (3, 20, "a"), (4, 20, "b")],
        "rec_id long, ent_id long, blk string")
    m = blocking_quality(recs, block_pairs(recs, "blk")).collect()[0]
    assert (m.n_recs, m.n_cand, m.n_true, m.n_found) == (4, 3, 2, 1)
    assert m.rr6 == 500_000
    assert m.pc6 == 500_000
    assert m.pq6 == round(1 / 3 * 1e6)


def _mixture_counts(p, m, u, n):
    """Exact expected pattern histogram of a K-field conditional-
    independence mixture, scaled to n pairs (rounded). EM on exact
    expected counts must recover the generating parameters."""
    from semlink.linkeval import em_patterns
    counts = {}
    for pt in em_patterns(len(m)):
        pm = p
        pu = 1.0 - p
        for k in range(len(m)):
            pm *= m[k] if pt[k] else 1.0 - m[k]
            pu *= u[k] if pt[k] else 1.0 - u[k]
        counts[pt] = round((pm + pu) * n)
    return counts


def test_em_recovers_generating_mixture():
    """fs_em_fit on the exact expected histogram of a well-separated
    THREE-field mixture converges back to the generating (p, m, u)
    within EM tolerance — K=3 is the minimum identifiable case
    (2^K - 1 >= 2K + 1), the standard Winkler-'88 sanity check."""
    p0 = 0.2
    m0, u0 = [0.95, 0.9, 0.85], [0.05, 0.1, 0.15]
    p, m, u = fs_em_fit(_mixture_counts(p0, m0, u0, 1_000_000), 3,
                        iters=200)
    assert abs(p - p0) < 0.01
    for k in range(3):
        assert abs(m[k] - m0[k]) < 0.02
        assert abs(u[k] - u0[k]) < 0.02


def test_em_deterministic_and_distributed_histogram_agrees(spark):
    """fs_em_weights (distributed pattern groupBy -> scalar EM) equals
    fs_em_fit on the hand-built histogram of the same pairs, bitwise —
    and two runs are bit-identical (pure fixed-order IEEE doubles)."""
    lab = _pairs_fixture(spark).drop("is_match")
    got = fs_em_weights(lab, ["fa", "fb"])
    counts = {(1, 1): 2, (0, 1): 3}
    want = fs_em_fit(counts, 2)
    assert got == want
    assert fs_em_fit(counts, 2) == want


def test_em_posterior_separates_planted_duplicates(spark):
    """Unsupervised g6 posterior on the planted-corruption benchmark:
    all-agree pairs sit near 1, all-disagree pairs near 0, and the
    label-free posterior orders matches above non-matches on average
    — EM never saw is_match."""
    from semlink.queries.linkeval import rl_fellegi_sunter
    df = rl_fellegi_sunter(spark, "/root/testdata/sf0.001").cache()
    agree_min = (df.filter((F.col("f_name") == 1) & (F.col("f_seg") == 1)
                           & (F.col("f_bal") == 1))
                 .agg(F.min("g6")).collect()[0][0])
    dis_max = (df.filter((F.col("f_name") == 0) & (F.col("f_seg") == 0)
                         & (F.col("f_bal") == 0))
               .agg(F.max("g6")).collect()[0][0])
    assert agree_min is not None and agree_min > 900_000
    assert dis_max is not None and dis_max < 100_000
    by = {r.is_match: r.mean6 for r in
          df.groupBy("is_match").agg(F.avg("g6").alias("mean6")).collect()}
    assert by[1] > by[0] + 500_000
    df.unpersist()


def test_fs_query_separates_planted_duplicates(spark):
    """On the planted-corruption record benchmark, every-field-agree
    implies a higher score than every-field-disagree (weight
    monotonicity), and the mean match score clears the mean non-match
    score by a wide margin."""
    from semlink.queries.linkeval import rl_fellegi_sunter
    df = rl_fellegi_sunter(spark, "/root/testdata/sf0.001").cache()
    agg = (df.groupBy("is_match")
           .agg(F.avg("fs6").alias("mean6"), F.count("*").alias("n"))
           .collect())
    by = {r.is_match: r for r in agg}
    assert by[1].n > 0 and by[0].n > by[1].n
    assert by[1].mean6 > by[0].mean6 + 5_000_000
    full_agree = df.filter((F.col("f_name") == 1) & (F.col("f_seg") == 1)
                           & (F.col("f_bal") == 1))
    full_dis = df.filter((F.col("f_name") == 0) & (F.col("f_seg") == 0)
                         & (F.col("f_bal") == 0))
    lo = full_agree.agg(F.min("fs6")).collect()[0][0]
    hi = full_dis.agg(F.max("fs6")).collect()[0][0]
    assert lo is not None and hi is not None and lo > hi
    df.unpersist()


def test_snm_pairs_hand_values(spark):
    """5 records, window 3: exactly the rank-difference-{1,2} pairs,
    each once, rec_l = lower rank; ties on the sort key break by
    rec_id (records 30/31 share key 30 -> rank order 3 then 4)."""
    recs = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (5, 30), (4, 40)],
        "rec_id long, k long")
    got = {(r.rec_l, r.rec_r) for r in
           sorted_neighborhood_pairs(recs, "k", 3).collect()}
    # rank order by (k, rec_id): 1,2,3,5,4
    assert got == {(1, 2), (1, 3), (2, 3), (2, 5), (3, 5), (3, 4), (5, 4)}


def test_snm_pairs_window_two_and_carry(spark):
    """window 2 keeps only rank-adjacent pairs; carry columns arrive
    with _l/_r suffixes."""
    recs = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
        "rec_id long, k long, v string")
    rows = sorted_neighborhood_pairs(recs, "k", 2, carry_cols=("v",)) \
        .collect()
    got = {(r.rec_l, r.rec_r, r.v_l, r.v_r) for r in rows}
    assert got == {(1, 2, "a", "b"), (2, 3, "b", "c")}


def test_snm_plan_does_not_depend_on_data(spark):
    """The per-partition rank offsets are computed in the plan, not
    collected to the driver and baked in as literals: two inputs of
    one schema but different sizes give the same formatted plan once
    expression, node and RDD ids are stripped."""
    import io as _io
    import re
    from contextlib import redirect_stdout

    def plan(n):
        recs = spark.createDataFrame(
            [(i, (i * 37) % 101) for i in range(n)], "rec_id long, k long")
        buf = _io.StringIO()
        with redirect_stdout(buf):
            sorted_neighborhood_pairs(recs, "k", 3).explain("formatted")
        return re.sub(r"#\d+L?|\(\d+\)|\[codegen id : \d+\]"
                      r"|RDD\[\d+\]|ExistingRDD\[[^\]]*\]|plan_id=\d+", "",
                      buf.getvalue())

    assert plan(20) == plan(300)


def test_blocking_quality_query_nontrivial(spark):
    """Two scheme rows. Nation blocking: all three metrics strictly
    inside (0, 1) — key corruption loses true pairs (pc < 1) while
    still pruning most of the comparison space. Sorted-neighborhood
    over the balance key: finds true pairs (pc > 0) with even stronger
    reduction (its candidate count is ~N·w), demonstrating the rr/pc
    trade between the schemes."""
    from semlink.queries.linkeval import rl_blocking_quality
    rows = {r.scheme: r for r in
            rl_blocking_quality(spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {"nation", "snm"}
    m = rows["nation"]
    assert 0 < m.pc6 < 1_000_000
    assert 900_000 < m.rr6 < 1_000_000
    assert 0 < m.pq6 < 1_000_000
    assert m.n_found < m.n_true < m.n_cand
    s = rows["snm"]
    assert s.n_true == m.n_true and s.n_recs == m.n_recs
    assert 0 < s.pc6 <= 1_000_000
    assert s.rr6 > m.rr6          # ~N·w candidates vs block quadratic
    assert 0 < s.pq6 <= 1_000_000
    assert s.n_found <= s.n_true


def test_meta_blocking_weights_exact(spark):
    """CBS / JS / ECBS and the WEP kept flag reproduce a hand-computed
    mirror on a tiny multi-scheme block collection, including block
    purging (cap 2) and a null scheme value dropping its row."""
    import itertools
    import math
    from collections import Counter

    from semlink.linkeval import meta_blocking_pairs, scheme_blocks
    rows = [(1, "AA", "x", 10), (2, "AA", "x", 11), (3, "AA", "y", 11),
            (4, "BB", "y", 20), (5, "BB", None, 20), (6, "CC", "z", 30)]
    recs = spark.createDataFrame(
        rows, "rec_id long, nat string, seg string, bal long")
    blocks = scheme_blocks(recs, {"nat": F.col("nat"),
                                  "seg": F.col("seg"),
                                  "bal": F.col("bal")})
    got = {(r.rec_l, r.rec_r): r.asDict() for r in
           meta_blocking_pairs(blocks, max_block=2).collect()}

    bk = {rid: {f"nat:{nat}", f"bal:{bal}"} | ({f"seg:{seg}"} if seg else set())
          for rid, nat, seg, bal in rows}
    cnt = Counter(k for s in bk.values() for k in s)
    bk = {r: {k for k in s if cnt[k] <= 2} for r, s in bk.items()}
    nb = len(set().union(*bk.values()))
    edges = {(a, b): len(bk[a] & bk[b])
             for a, b in itertools.combinations(sorted(bk), 2)
             if bk[a] & bk[b]}
    ne, cs = len(edges), sum(edges.values())
    assert set(got) == set(edges)
    for (a, b), c in edges.items():
        bl, br = len(bk[a]), len(bk[b])
        e = got[(a, b)]
        assert e["cbs"] == c and (e["bl_l"], e["bl_r"]) == (bl, br)
        assert e["js6"] == round(c / (bl + br - c) * 1e6)
        assert e["ecbs6"] == round(
            c * math.log(nb / bl) * math.log(nb / br) * 1e6)
        assert e["kept"] == (c * ne >= cs)


def test_meta_blocking_wep_improves_quality(spark):
    """On the planted-duplicate benchmark, WEP pruning must raise
    pairs quality versus the raw co-blocked candidate set while
    keeping completeness above half of raw — the whole point of
    meta-blocking (pruned |cand| strictly smaller, precision up)."""
    from semlink.linkeval import meta_blocking_pairs
    from semlink.queries.linkeval import _mb_blocks, _records
    recs = _records(spark, "/root/testdata/sf0.001")
    edges = meta_blocking_pairs(_mb_blocks(recs)).cache()
    try:
        raw = blocking_quality(recs, edges).collect()[0]
        wep = blocking_quality(recs, edges.filter("kept")).collect()[0]
        assert 0 < wep.n_cand < raw.n_cand
        assert wep.pq6 > raw.pq6
        assert wep.pc6 * 2 >= raw.pc6
        assert wep.n_found > 0
    finally:
        edges.unpersist()


def test_meta_blocking_kept_flag_deterministic(spark):
    """The WEP mean test is integer-exact: recomputing under a
    different shuffle width yields the identical kept edge set."""
    from semlink.linkeval import meta_blocking_pairs, scheme_blocks
    recs = spark.createDataFrame(
        [(i, i % 7, i % 3, i % 5) for i in range(200)],
        "rec_id long, a long, b long, c long")
    blocks = scheme_blocks(recs, {"a": F.col("a"), "b": F.col("b"),
                                  "c": F.col("c")})
    base = {(r.rec_l, r.rec_r, r.kept)
            for r in meta_blocking_pairs(blocks, max_block=100).collect()}
    again = {(r.rec_l, r.rec_r, r.kept)
             for r in meta_blocking_pairs(
                 blocks.repartition(3), max_block=100).collect()}
    assert base == again


# ----------------------------------------------------- merge-rematch

def _mr_fixture(spark):
    """A (base), B (ZZZ-name dup of A, same nat), C (different nat):
    C agrees with the MERGED {A,B} representative on 2 of 3 fields
    (name from A, balance from B) but with NEITHER raw record — the
    Swoosh merge-dependence case."""
    rows = [(1, "Customer#000000005", "AUTO", 0, 7),
            (2, "ZZZCustomer#000000005", "AUTO", 100, 7),
            (3, "Customer#000000005XX", "CORRUPT", 200, 9),
            (4, "Customer#000000333", "RAIL", 90000, 3)]
    return spark.createDataFrame(
        rows, "rec_id long, name string, seg string, bal_cents long,"
        " nat long")


def _mr_run(spark, recs, schemes, tmp_path, name, resume=False):
    from semlink.iterative import merge_rematch
    from semlink.queries.linkeval import _mr_match
    return merge_rematch(
        recs, schemes=schemes, match_cond=_mr_match,
        carry_cols=("name", "seg", "bal_cents"),
        shortest_cols=("name",), mode_cols=("seg", "nat"),
        max_cols=("bal_cents",),
        ckpt_dir=str(tmp_path / name), resume=resume)


def test_merge_rematch_merge_dependence(spark, tmp_path):
    """C matches the merged representative (shortest name from A, max
    balance from B) but no raw record: the iterative closure clusters
    {A, B, C} while a single pass over the SAME schemes and rule —
    blocking raw records — cannot, because C-vs-A fails on balance
    and C-vs-B fails on name. This is the property that makes
    merge-rematch an operator and not a scheme union."""
    from semlink.linkeval import block_pairs
    from semlink.queries.linkeval import _mr_match
    recs = _mr_fixture(spark)
    schemes = [lambda df: F.col("nat").cast("string"),
               lambda df: F.lit("all")]
    out = {r.rec_id: r.cluster_id
           for r in _mr_run(spark, recs, schemes, tmp_path, "mr1").collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[4] == 4
    # single-pass control: same rule over raw records in ONE block
    raw = block_pairs(recs.withColumn("_bk", F.lit("all")), "_bk",
                      carry_cols=("name", "seg", "bal_cents"))
    direct = {(r.rec_l, r.rec_r) for r in raw.filter(_mr_match(raw)).collect()}
    assert (1, 2) in direct          # A-B is a direct match
    assert (1, 3) not in direct      # C matches neither raw record
    assert (2, 3) not in direct


def test_merge_rematch_fixed_point(spark, tmp_path):
    """Re-running the final scheme a third time adds no edges and
    leaves the assignment unchanged (converged)."""
    recs = _mr_fixture(spark)
    s2 = lambda df: F.lit("all")  # noqa: E731
    schemes = [lambda df: F.col("nat").cast("string"), s2]
    two = sorted(_mr_run(spark, recs, schemes, tmp_path, "fp2").collect())
    three = sorted(_mr_run(spark, recs, schemes + [s2], tmp_path,
                           "fp3").collect())
    assert two == three


def test_merge_rematch_resume_from_committed_iteration(spark, tmp_path):
    """A run that only committed iteration 0 resumes into the full
    scheme list without recomputing it, and the result is identical
    to a fresh full run."""
    recs = _mr_fixture(spark)
    s1 = lambda df: F.col("nat").cast("string")  # noqa: E731
    s2 = lambda df: F.lit("all")                 # noqa: E731
    full = sorted(_mr_run(spark, recs, [s1, s2], tmp_path,
                          "rs_full").collect())
    _mr_run(spark, recs, [s1], tmp_path, "rs_part")      # commits iter 0
    resumed = sorted(_mr_run(spark, recs, [s1, s2], tmp_path, "rs_part",
                             resume=True).collect())
    assert resumed == full
    import os
    assert os.path.exists(
        str(tmp_path / "rs_part" / "assign_iter_1.parquet" / "_SUCCESS"))


def test_merge_rematch_fresh_run_keeps_foreign_files(spark, tmp_path):
    """A fresh run clears only the iterations an earlier run committed
    (a stale higher iteration would poison a later resume), never
    other files in the caller's checkpoint dir."""
    recs = _mr_fixture(spark)
    schemes = [lambda df: F.col("nat").cast("string"),
               lambda df: F.lit("all")]
    ckpt = tmp_path / "mr_foreign"
    (ckpt / "assign_iter_9.parquet").mkdir(parents=True)
    (ckpt / "assign_iter_9.parquet" / "_SUCCESS").write_text("")
    (ckpt / "sentinel.txt").write_text("keep")
    got = sorted(_mr_run(spark, recs, schemes, tmp_path,
                         "mr_foreign").collect())
    assert (ckpt / "sentinel.txt").read_text() == "keep"
    assert not (ckpt / "assign_iter_9.parquet").exists()
    assert got == sorted(_mr_run(spark, recs, schemes, tmp_path,
                                 "mr_clean").collect())


# -------------------------------------------------- incremental link

def test_incremental_link_best_match_and_singletons(spark):
    """Rank-1 assignment: highest agreement score wins, score ties
    break to the LOWER cluster id, blocked-but-unmatched and
    out-of-block records mint their own singleton clusters."""
    from semlink.iterative import incremental_link
    from semlink.queries.linkeval import _mr_match
    reps = spark.createDataFrame(
        [(10, "Customer#000000010", "AUTO", 1000, 1),
         (20, "Customer#000000010", "AUTO", 1090, 1),   # same score, higher id
         (30, "Customer#000000777", "RAIL", 50000, 1),
         (40, "Customer#000000040", "MAIL", 0, 2)],
        "cluster_id long, name string, seg string, bal_cents long, nat long")
    new = spark.createDataFrame(
        [(101, "Customer#000000010", "AUTO", 1040, 1),  # ties 10 vs 20 on 3
         (102, "ZZZCustomer#000000999", "FOB", 999999, 1),  # blocked, no match
         (103, "Customer#000000040", "MAIL", 10, 9)],   # wrong block
        "rec_id long, name string, seg string, bal_cents long, nat long")
    score = ((F.levenshtein("name_l", "name_r") <= 2).cast("int")
             + (F.col("seg_l") == F.col("seg_r")).cast("int")
             + (F.abs(F.col("bal_cents_l") - F.col("bal_cents_r")) <= 100)
             .cast("int")).cast("bigint")
    out = {r.rec_id: r for r in incremental_link(
        new, reps, scheme=lambda df: F.col("nat").cast("string"),
        match_cond=_mr_match, score_col=score,
        carry_cols=("name", "seg", "bal_cents")).collect()}
    assert out[101].matched and out[101].cluster_id == 10    # tie -> lower id
    assert out[101].score == 3
    assert not out[102].matched and out[102].cluster_id == 102
    assert out[102].score is None
    assert not out[103].matched and out[103].cluster_id == 103


def test_incremental_link_fixture_batch(spark):
    """The corrupted-duplicate batch against the resolved originals:
    every clean XX-duplicate (no seg/bal/nation corruption) lands on
    its OWN original with full score; nation-corrupted duplicates
    (ck % 11 == 0) never reach their own original (wrong block) —
    they mint singletons or, realistically, false-match a block
    neighbor on a partial score (< 3)."""
    from semlink.queries.linkeval import rl_incremental_link
    rows = {r.rec_id: r for r in
            rl_incremental_link(spark, "/root/testdata/sf0.001").collect()}
    assert rows      # the duplicate batch is non-empty
    clean, escaped = 0, 0
    for ck in range(150):
        if ck % 3 != 0:
            continue
        r = rows[ck * 2 + 1]
        if ck % 11 == 0:
            escaped += 1
            assert r.cluster_id != ck * 2, ck
            if r.matched:
                assert r.score < 3, ck
        elif ck % 5 != 0 and ck % 7 != 0 and ck % 2 != 0:
            clean += 1
            assert r.matched and r.cluster_id == ck * 2, ck
            assert r.score == 3
    assert clean > 0 and escaped > 0
    frac = sum(1 for r in rows.values() if r.matched) / len(rows)
    assert frac > 0.6


# ---------------------------------------------- greedy one-to-one

def test_greedy_one_to_one_descending_chain_rounds(spark):
    """A descending bipartite score chain forces one acceptance per
    round (the locally-dominant worst case): L1-R1(5) blocks
    L2-R1(4), whose removal exposes L2-R2(3), and so on — verifying
    the multi-round semantics AND that the result equals sequential
    best-first greedy."""
    from semlink.iterative import greedy_one_to_one
    pairs = spark.createDataFrame(
        [(1, 1, 5), (2, 1, 4), (2, 2, 3), (3, 2, 2), (3, 3, 1)],
        "rec_l long, rec_r long, score long")
    out = sorted((r.rec_l, r.rec_r, r.score, r.rnd)
                 for r in greedy_one_to_one(pairs).collect())
    assert out == [(1, 1, 5, 1), (2, 2, 3, 2), (3, 3, 1, 3)]


def test_greedy_one_to_one_equals_sequential_greedy(spark):
    """On md5-derived pseudo-random scores over a dense-ish bipartite
    candidate set, the distributed locally-dominant matching equals
    the sequential best-first greedy under the same total order
    (score DESC, rec_l ASC, rec_r ASC) — including tie handling,
    since md5 buckets collide at this range."""
    import hashlib
    from semlink.iterative import greedy_one_to_one
    cand = []
    for lid in range(40):
        for rid in range(40):
            h = int(hashlib.md5(f"{lid},{rid}".encode()).hexdigest()[:8], 16)
            if h % 5 < 2:                       # ~40% candidate density
                cand.append((lid, rid, h % 17))  # ties guaranteed
    taken_l, taken_r, expect = set(), set(), set()
    for lid, rid, sc in sorted(cand, key=lambda p: (-p[2], p[0], p[1])):
        if lid not in taken_l and rid not in taken_r:
            taken_l.add(lid)
            taken_r.add(rid)
            expect.add((lid, rid, sc))
    pairs = spark.createDataFrame(cand, "rec_l long, rec_r long, score long")
    got = {(r.rec_l, r.rec_r, r.score)
           for r in greedy_one_to_one(pairs).collect()}
    assert got == expect


def test_one_to_one_greedy_fixture(spark):
    """The fixture entry: output is a matching (no endpoint repeats),
    every clean duplicate still claims its own original at full
    score, and the fixture converges within the oracle's unroll
    bound (the Spark side raises past it, so a green run IS the
    bound proof)."""
    from semlink.queries.linkeval import rl_one_to_one_greedy, _O2O_ROUNDS
    rows = rl_one_to_one_greedy(spark, "/root/testdata/sf0.001").collect()
    ls = [r.rec_l for r in rows]
    rs = [r.rec_r for r in rows]
    assert len(ls) == len(set(ls)) and len(rs) == len(set(rs))
    assert max(r.rnd for r in rows) <= _O2O_ROUNDS
    by_l = {r.rec_l: r for r in rows}
    clean = 0
    for ck in range(150):
        if (ck % 3 == 0 and ck % 5 != 0 and ck % 7 != 0
                and ck % 2 != 0 and ck % 11 != 0):
            clean += 1
            r = by_l[ck * 2 + 1]
            assert r.rec_r == ck * 2 and r.score == 3, ck
    assert clean > 0


# ------------------------------------------ frequency-based weights

def test_fs_frequency_weights_hand_values(spark):
    """Exact hand-computed weights on a 4-record population: value
    frequencies {a:3, b:1}, n=4, ssq=10. Agreement on rare 'b'
    (ln(.95/(1/4))) outweighs agreement on common 'a'
    (ln(.95/(3/4))); disagreement uses the global
    u = 10/16; NULL values never agree."""
    import math
    from semlink.linkeval import fs_frequency_weights
    recs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (4, "b")], "rec_id long, v string")
    pairs = spark.createDataFrame(
        [(1, 2, "a", "a"), (3, 4, "b", "b"), (1, 4, "a", "b"),
         (2, 3, None, "a")],
        "rec_l long, rec_r long, v_l string, v_r string")
    rows = {(r.rec_l, r.rec_r): r
            for r in fs_frequency_weights(pairs, recs, "v").collect()}
    w_a = round(1e6 * math.log(0.95 / (3 / 4)))
    w_b = round(1e6 * math.log(0.95 / (1 / 4)))
    w_dis = round(1e6 * math.log((1.0 - 0.95) / (1.0 - 10 / 16)))
    assert rows[(1, 2)].w_v6 == w_a and rows[(1, 2)].fv_v == 3
    assert rows[(3, 4)].w_v6 == w_b and rows[(3, 4)].fv_v == 1
    assert w_b > w_a > 0 > w_dis
    assert rows[(1, 4)].w_v6 == w_dis and rows[(1, 4)].fv_v is None
    assert not rows[(2, 3)].agree_v and rows[(2, 3)].w_v6 == w_dis


def test_fs_frequency_query_rarity_monotonic(spark):
    """On the fixture entry: every candidate agrees on the blocked
    nation; across nations, the agreement weight strictly decreases
    as the nation frequency increases (rarity monotonicity); the
    same holds across segments, and 'CORRUPT' (held only by
    corrupted duplicates, never originals) yields NO agreeing pair
    — it surfaces solely through disagreement rows."""
    from semlink.queries.linkeval import rl_fs_frequency
    df = rl_fs_frequency(spark, "/root/testdata/sf0.001").cache()
    assert df.filter(~F.col("agree_nat")).count() == 0
    nat = {r.fv_nat: r.w_nat6 for r in
           df.select("fv_nat", "w_nat6").distinct().collect()}
    fvs = sorted(nat)
    assert len(fvs) > 3
    for lo, hi in zip(fvs, fvs[1:]):
        assert nat[lo] > nat[hi]
    seg = {r.fv_seg: r.w_seg6 for r in
           df.filter(F.col("agree_seg"))
           .select("fv_seg", "w_seg6").distinct().collect()}
    sfvs = sorted(seg)
    assert len(sfvs) > 2
    for lo, hi in zip(sfvs, sfvs[1:]):
        assert seg[lo] > seg[hi]
    assert df.filter(F.col("agree_seg")
                     & (F.col("seg_l") == "CORRUPT")).count() == 0
    assert df.filter(~F.col("agree_seg")
                     & (F.col("seg_l") == "CORRUPT")).count() > 0
    df.unpersist()


# ----------------------------------------------------------- ROC-AUC

def test_score_auc_hand_values(spark):
    """Exact midrank algebra on a hand case with ties: scores
    pos={3,2,2}, neg={2,1}: U = 1*2 (3>both) + 2*(1 + 0.5) (each 2
    beats 1, ties the neg 2) = 5 -> u2 = 10, auc = 5/6. Perfect
    separation gives exactly 1e6, a constant score exactly 500000,
    and a single-class input a NULL auc6."""
    from semlink.linkeval import score_auc
    df = spark.createDataFrame(
        [(3, 1), (2, 1), (2, 1), (2, 0), (1, 0)], "s long, is_match long")
    r = score_auc(df, "s").collect()[0]
    assert (r.p, r.n, r.u2) == (3, 2, 10)
    assert r.auc6 == (1_000_000 * 10) // (2 * 3 * 2)  # 833333
    perfect = spark.createDataFrame(
        [(9, 1), (8, 1), (2, 0)], "s long, is_match long")
    assert score_auc(perfect, "s").collect()[0].auc6 == 1_000_000
    const = spark.createDataFrame(
        [(5, 1), (5, 0), (5, 1), (5, 0)], "s long, is_match long")
    assert score_auc(const, "s").collect()[0].auc6 == 500_000
    onecls = spark.createDataFrame([(5, 1), (7, 1)], "s long, is_match long")
    assert score_auc(onecls, "s").collect()[0].auc6 is None


def test_score_auc_fixture_orders_scores(spark):
    """On the corruption fixture, the supervised FS score separates
    matches from non-matches far above chance, and AUC is invariant
    to any strictly monotone rescaling of the score (rank statistic)."""
    from semlink.linkeval import (fs_estimate_weights, fs_score,
                                  score_auc)
    from semlink.queries.linkeval import _FIELDS, _labeled_pairs
    _, lab = _labeled_pairs(spark, "/root/testdata/sf0.001")
    w = fs_estimate_weights(lab, list(_FIELDS))
    scored = fs_score(lab, w, list(_FIELDS)).cache()
    a1 = score_auc(scored, "fs6").collect()[0]
    assert a1.auc6 is not None and a1.auc6 > 900_000
    mono = scored.withColumn("s2", F.col("fs6") * 3 + 7)
    assert score_auc(mono, "s2").collect()[0].auc6 == a1.auc6
    scored.unpersist()


# ------------------------------------------------- FS thresholds

def test_fs_thresholds_hand_values(spark):
    """Hand case: scores/labels (5,M)(4,M)(4,U)(3,U)(2,M)(1,U)(1,U),
    p=3, n=4. mu=30% -> fp budget floor(.3*4)=1.2 -> cum fp from top:
    s=5:0, s=4:1, s=3:2 -> t_upper=4. lam=40% -> fn budget 1.2 ->
    cum fn from bottom: s=1:0, s=2:1, s=3:1, s=4:3 -> t_lower=3.
    Designations: link {5,4}x3 pairs fp=1; nonlink {1,1,2,3} fn=1;
    review empty here (adjacent cutoffs, n_review counts nothing
    strictly between)."""
    from semlink.linkeval import fs_thresholds
    df = spark.createDataFrame(
        [(5, 1), (4, 1), (4, 0), (3, 0), (2, 1), (1, 0), (1, 0)],
        "s long, is_match long")
    r = fs_thresholds(df, "s", mu6=300_000, lam6=400_000).collect()[0]
    assert (r.t_upper, r.t_lower) == (4, 3)
    assert (r.n_link, r.n_nonlink, r.n_review) == (3, 4, 0)
    assert (r.fp, r.fn) == (1, 1)
    assert r.mu_hat6 == (1_000_000 * 1) // 4
    assert r.lam_hat6 == (1_000_000 * 1) // 3
    # zero budgets: only the fp/fn-free prefixes qualify
    r0 = fs_thresholds(df, "s", mu6=0, lam6=0).collect()[0]
    assert (r0.t_upper, r0.t_lower) == (5, 1)
    assert (r0.fp, r0.fn) == (0, 0)


def test_fs_thresholds_link_precedence_on_crossing(spark):
    """Generous budgets that let the regions cross: LINK wins and the
    non-link region is truncated below the upper cutoff, keeping the
    three-way partition disjoint and n_review >= 0."""
    from semlink.linkeval import fs_thresholds
    df = spark.createDataFrame(
        [(5, 1), (4, 0), (3, 1), (2, 0), (1, 0)], "s long, is_match long")
    r = fs_thresholds(df, "s", mu6=900_000, lam6=900_000).collect()[0]
    assert r.t_lower >= r.t_upper          # crossing budgets
    assert r.n_link + r.n_nonlink + r.n_review == r.p + r.n
    assert r.n_review >= 0


def test_fs_thresholds_fixture_bounds_hold(spark):
    """Fixture entry: the achieved conditional error rates respect
    the requested budgets (mu_hat <= 1%, lam_hat <= 5%), the review
    band is non-negative, and the partition is exhaustive."""
    from semlink.queries.linkeval import rl_fs_thresholds
    r = rl_fs_thresholds(spark, "/root/testdata/sf0.001").collect()[0]
    assert r.mu_hat6 is not None and r.mu_hat6 <= 10_000
    assert r.lam_hat6 is not None and r.lam_hat6 <= 50_000
    assert r.n_review >= 0
    assert r.n_link + r.n_nonlink + r.n_review == r.p + r.n


def test_fs_frequency_null_values_excluded_from_totals(spark):
    """NULL field values are excluded from n and sum(f^2): with 3
    'a', 1 'b' and 6 NULLs, u('a') = 3/4 (not 3/10) and the global
    disagreement u = (9+1)/16 — a NULL-heavy sparse field must not
    absorb NULL mass as phantom agreement."""
    import math
    from semlink.linkeval import fs_frequency_weights
    recs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (4, "b")]
        + [(10 + i, None) for i in range(6)], "rec_id long, v string")
    pairs = spark.createDataFrame(
        [(1, 2, "a", "a"), (1, 4, "a", "b")],
        "rec_l long, rec_r long, v_l string, v_r string")
    rows = {(r.rec_l, r.rec_r): r
            for r in fs_frequency_weights(pairs, recs, "v").collect()}
    assert rows[(1, 2)].w_v6 == round(1e6 * math.log(0.95 / (3 / 4)))
    assert rows[(1, 4)].w_v6 == round(
        1e6 * math.log((1.0 - 0.95) / (1.0 - 10 / 16)))


# ------------------------------------------------- group linkage

def test_group_linkage_hand_values(spark):
    """Two group pairs resolved INDEPENDENTLY in one call. In
    (10, 20): greedy accepts (1, 101, 5); (2, 101, 4) is blocked on
    the taken 101 and (1, 102, 3) on the taken record 1, and no
    (2, 102) candidate exists, so exactly one match survives. In
    (10, 30) the single candidate matches. Dice and score mass are
    exact integers."""
    from semlink.iterative import group_linkage
    members = spark.createDataFrame(
        [(10, 20, 1, 101, 5), (10, 20, 1, 102, 3), (10, 20, 2, 101, 4),
         (10, 30, 9, 201, 7)],
        "grp_l long, grp_r long, rec_l long, rec_r long, score long")
    sizes = spark.createDataFrame(
        [(10, 3), (20, 2), (30, 4)], "grp_id long, n long")
    rows = {(r.grp_l, r.grp_r): r
            for r in group_linkage(members, sizes).collect()}
    r1 = rows[(10, 20)]
    assert (r1.matched, r1.score_sum) == (1, 5)
    assert r1.dice6 == (2_000_000 * 1) // (3 + 2)
    r2 = rows[(10, 30)]
    assert (r2.matched, r2.score_sum) == (1, 7)
    assert r2.dice6 == (2_000_000 * 1) // (3 + 4)


def test_group_linkage_groups_do_not_interact(spark):
    """The SAME record ids appearing in two different group pairs are
    matched independently — group-keyed windows and removals."""
    from semlink.iterative import greedy_one_to_one
    members = spark.createDataFrame(
        [(1, 2, 7, 70, 9), (3, 4, 7, 70, 1)],
        "gl long, gr long, rec_l long, rec_r long, score long")
    out = greedy_one_to_one(members, group_cols=("gl", "gr"))
    assert out.count() == 2          # both accepted despite shared ids


def test_group_linkage_fixture_properties(spark):
    """rl_group_linkage at sf0.001: matched <= min(n_l, n_r) per user
    pair (it is a matching), dice6 in [0, 1e6], score_sum between
    matched and 2*matched, and identical-user-behavior pairs rank
    above sparse ones on average (sanity, not a planted property)."""
    from semlink.queries.linkeval import rl_group_linkage
    rows = rl_group_linkage(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.matched <= min(r.n_l, r.n_r)
        assert 0 <= r.dice6 <= 1_000_000
        assert r.matched <= r.score_sum <= 2 * r.matched


# ------------------------------------------------- temporal decay

def test_time_decayed_weight_hand_values(spark):
    """At dt=0 the decayed weight equals the static weight; at one
    agreement half-life (30 days) it is half; the disagreement
    branch uses its own faster half-life (10 days). Quantized
    comparisons, IEEE mirror in pure Python."""
    import datetime
    import math
    from semlink.linkeval import time_decayed_weight
    t0 = datetime.datetime(2024, 1, 1)
    rows = [(1, t0, t0, True), (2, t0, t0 + datetime.timedelta(days=30),
             True), (3, t0, t0 + datetime.timedelta(days=10), False)]
    df = spark.createDataFrame(
        rows, "pid long, ts_l timestamp_ntz, ts_r timestamp_ntz, ag boolean")
    dt, ws, wd = time_decayed_weight(F.col("ag"), "ts_l", "ts_r")
    out = {r.pid: r for r in df.select(
        "pid", F.round(dt * 1e6).cast("bigint").alias("dt6"),
        F.round(ws * 1e6).cast("bigint").alias("ws6"),
        F.round(wd * 1e6).cast("bigint").alias("wd6")).collect()}
    w_a = math.log(0.9 / 0.3)
    w_d = math.log((1.0 - 0.9) / (1.0 - 0.3))
    assert out[1].dt6 == 0 and out[1].wd6 == out[1].ws6 == round(1e6 * w_a)
    assert out[2].ws6 == round(1e6 * w_a)
    assert out[2].wd6 == round(1e6 * (w_a * math.exp(
        -(math.log(2.0) / 30.0) * 30.0)))
    assert abs(out[2].wd6 - round(1e6 * w_a / 2)) <= 1
    assert out[3].ws6 == round(1e6 * w_d)
    assert out[3].wd6 == round(1e6 * (w_d * math.exp(
        -(math.log(2.0) / 10.0) * 10.0)))
    assert out[3].ws6 < out[3].wd6 < 0  # penalty shrinks toward 0


def test_temporal_decay_fixture_monotone(spark):
    """Fixture entry: decay never inflates evidence
    (|w_decay6| <= |w_static6| everywhere, equality only near dt=0),
    and among agreeing pairs the decayed weight is non-increasing in
    the time gap."""
    from semlink.queries.linkeval import rl_temporal_decay
    df = rl_temporal_decay(spark, "/root/testdata/sf0.001").cache()
    bad = df.filter(F.abs("w_decay6") > F.abs("w_static6")).count()
    assert bad == 0
    agree = sorted(((r.dt6, r.w_decay6) for r in
                    df.filter("f_val").select("dt6", "w_decay6")
                    .distinct().collect()))
    assert len(agree) > 50
    for (d1, w1), (d2, w2) in zip(agree, agree[1:]):
        if d1 < d2:
            assert w1 >= w2, (d1, d2)
    df.unpersist()
