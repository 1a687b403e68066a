"""Linkage-evaluation queries: Fellegi-Sunter weights and blocking
quality (semlink.linkeval) over a deterministically synthesized
record-pair benchmark.

The synthetic corpus carries no within-entity field correlation
(documents text/lang/source are independent draws), so — per the
repo's planted-derivation pattern (the varied text corpus, the
injected-duplicate unique-filter feed) — both engines derive the SAME
records-plus-corrupted-duplicates table from TPC-H ``customer`` with
pure string/arithmetic expressions: every third customer gains a
duplicate record whose name / market segment / balance / blocking key
are deterministically corrupted on coprime moduli, so each comparison
field has both agreeing and disagreeing outcomes on true matches
(m < 1) and non-matches (u > 0), and the blocking key loses a known
slice of true pairs (pairs completeness < 1)."""
from __future__ import annotations

from pyspark.sql import functions as F

from ..cluster import cluster_review, clustering_agreement, golden_records
from ..linkeval import (EM_EPS, EM_INIT, EM_ITERS, block_pairs,
                        blocking_quality, em_patterns, fs_em_fit,
                        fs_em_posterior_expr, fs_score,
                        meta_blocking_pairs, scheme_blocks,
                        sorted_neighborhood_pairs)
from . import _read, q

# Corruption moduli — shared verbatim with the oracle SQL below.
_DUP_MOD = 3        # every third customer gets a duplicate record
_NAME_MOD = 5       # heavy name corruption (lev 3 > threshold 2)
_SEG_MOD = 7        # market segment corrupted
_BAL_MOD = 2        # balance shifted by 100 cents
_NAT_MOD = 11       # blocking key (nation) corrupted -> pair escapes
_LEV_MAX = 2        # name-agreement edit-distance threshold

_RECS_SQL = f"""
  WITH base AS (
    SELECT c_custkey AS ck, c_name AS name, c_mktsegment AS seg,
           CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents,
           c_nationkey AS nat
    FROM customer),
  recs AS (
    SELECT ck * 2 AS rec_id, ck AS ent_id, name, seg, bal_cents, nat
    FROM base
    UNION ALL
    SELECT ck * 2 + 1, ck,
           CASE WHEN ck % {_NAME_MOD} = 0 THEN 'ZZZ' || name
                ELSE substr(name, 1, 16) || 'XX' END,
           CASE WHEN ck % {_SEG_MOD} = 0 THEN 'CORRUPT' ELSE seg END,
           CASE WHEN ck % {_BAL_MOD} = 0 THEN bal_cents + 100
                ELSE bal_cents END,
           CASE WHEN ck % {_NAT_MOD} = 0 THEN (nat + 1) % 25 ELSE nat END
    FROM base WHERE ck % {_DUP_MOD} = 0)
"""

_LAB_SQL = f"""
  cand AS (
    SELECT l.rec_id AS rec_l, r.rec_id AS rec_r,
           l.ent_id AS ent_l, r.ent_id AS ent_r,
           l.name AS name_l, r.name AS name_r,
           l.seg AS seg_l, r.seg AS seg_r,
           l.bal_cents AS bal_l, r.bal_cents AS bal_r
    FROM recs l JOIN recs r
      ON l.nat = r.nat AND l.rec_id < r.rec_id),
  lab AS (
    SELECT rec_l, rec_r,
           CAST(CASE WHEN levenshtein(name_l, name_r) <= {_LEV_MAX}
                     THEN 1 ELSE 0 END AS BIGINT) AS f_name,
           CAST(CASE WHEN seg_l = seg_r THEN 1 ELSE 0 END AS BIGINT)
             AS f_seg,
           CAST(CASE WHEN bal_l = bal_r THEN 1 ELSE 0 END AS BIGINT)
             AS f_bal,
           CAST(CASE WHEN ent_l = ent_r THEN 1 ELSE 0 END AS BIGINT)
             AS is_match
    FROM cand)
"""

_FIELDS = ("f_name", "f_seg", "f_bal")

_MU_SQL = """
  agg AS (
    SELECT CAST(sum(is_match) AS BIGINT) AS nm,
           CAST(sum(1 - is_match) AS BIGINT) AS nu,
           {sums}
    FROM lab),
  mu AS (
    SELECT *, {mus}
    FROM agg)
""".format(
    sums=",\n           ".join(
        f"CAST(sum({k} * is_match) AS BIGINT) AS sa_{k},\n"
        f"           CAST(sum({k} * (1 - is_match)) AS BIGINT) AS su_{k}"
        for k in _FIELDS),
    mus=",\n           ".join(
        f"CAST(sa_{k} + 1 AS DOUBLE) / CAST(nm + 2 AS DOUBLE) AS m_{k},\n"
        f"           CAST(su_{k} + 1 AS DOUBLE) / CAST(nu + 2 AS DOUBLE)"
        f" AS u_{k}"
        for k in _FIELDS))

_SCORE_TERMS = "\n               + ".join(
    f"CASE WHEN l.{k} = 1 THEN ln(m_{k} / u_{k})"
    f" ELSE ln((1 - m_{k}) / (1 - u_{k})) END"
    for k in _FIELDS)


def _records(spark, sf_dir):
    """Spark mirror of _RECS_SQL: originals + corrupted duplicates."""
    c = _read(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").alias("ck"), F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
        F.col("c_nationkey").alias("nat"))
    ck = F.col("ck")
    orig = base.select((ck * 2).alias("rec_id"), ck.alias("ent_id"),
                       "name", "seg", "bal_cents", "nat")
    dup = base.filter(ck % _DUP_MOD == 0).select(
        (ck * 2 + 1).alias("rec_id"), ck.alias("ent_id"),
        F.when(ck % _NAME_MOD == 0, F.concat(F.lit("ZZZ"), F.col("name")))
        .otherwise(F.concat(F.substring("name", 1, 16), F.lit("XX")))
        .alias("name"),
        F.when(ck % _SEG_MOD == 0, F.lit("CORRUPT")).otherwise(F.col("seg"))
        .alias("seg"),
        F.when(ck % _BAL_MOD == 0, F.col("bal_cents") + 100)
        .otherwise(F.col("bal_cents")).alias("bal_cents"),
        F.when(ck % _NAT_MOD == 0, (F.col("nat") + 1) % 25)
        .otherwise(F.col("nat")).alias("nat"))
    return orig.unionByName(dup)


def _labeled_pairs(spark, sf_dir):
    """Within-nation candidate pairs with the three binary comparison
    fields and the by-construction entity label."""
    # Spread the record table over the cluster BEFORE the quadratic
    # block join: the customer scan is a single input split at bench
    # scale, so without this every within-block pair (and its banded
    # levenshtein) is generated by 1-2 tasks (guide §2.5 input skew /
    # §6 input split size; round-6 A/B: 15.8 s -> 2.2 s for
    # rl_fellegi_sunter). Applied HERE and not in _records: the
    # per-record consumers (golden records, cluster metrics) are
    # count/rank-cheap and only pay the extra shuffle (A/B'd +0.4-0.8 s
    # each).
    recs = _records(spark, sf_dir)
    spread = recs.repartition(spark.sparkContext.defaultParallelism)
    pairs = block_pairs(spread, "nat",
                        carry_cols=("ent_id", "name", "seg", "bal_cents"))
    return recs, pairs.select(
        "rec_l", "rec_r",
        # banded levenshtein: the threshold arg bounds the DP to a
        # 2k+1 band and early-exits on length gaps (guide §1.2 item 2
        # per-task work); d <= k  <=>  levenshtein(a, b, k) >= 0
        (F.levenshtein("name_l", "name_r", _LEV_MAX) >= 0).cast("bigint")
        .alias("f_name"),
        (F.col("seg_l") == F.col("seg_r")).cast("bigint").alias("f_seg"),
        (F.col("bal_cents_l") == F.col("bal_cents_r")).cast("bigint")
        .alias("f_bal"),
        (F.col("ent_id_l") == F.col("ent_id_r")).cast("bigint")
        .alias("is_match"))


def _em_cte_sql(fields, iters, init):
    """Generate the unrolled-EM CTE chain (pv, e0 .. e{iters}) whose
    arithmetic mirrors linkeval.fs_em_fit operation for operation:
    left-associated products and sums in the canonical pattern order,
    so the final (p, m_k, u_k) are bit-identical IEEE doubles in both
    engines (only *, /, +, - — no transcendentals)."""
    pats = em_patterns(len(fields))
    bits = ["".join(str(b) for b in pt) for pt in pats]
    K = len(fields)
    p0, m0, u0 = init

    pv_cols = ",\n         ".join(
        "CAST(sum(CASE WHEN "
        + " AND ".join(f"{f} = {pt[k]}" for k, f in enumerate(fields))
        + f" THEN 1 ELSE 0 END) AS DOUBLE) AS c_{b}"
        for pt, b in zip(pats, bits))

    e0_cols = ", ".join(
        [f"CAST({p0} AS DOUBLE) AS p"]
        + [f"CAST({m0} AS DOUBLE) AS m{k + 1}" for k in range(K)]
        + [f"CAST({u0} AS DOUBLE) AS u{k + 1}" for k in range(K)])

    ctes = [f"pv AS (SELECT {pv_cols}\n  FROM lab)",
            f"e0 AS (SELECT {e0_cols})"]
    for i in range(1, iters + 1):
        na = ",\n             ".join(
            "p * " + " * ".join(
                (f"m{k + 1}" if pt[k] else f"(1 - m{k + 1})")
                for k in range(K)) + f" AS n_{b},\n             "
            + "(1 - p) * " + " * ".join(
                (f"u{k + 1}" if pt[k] else f"(1 - u{k + 1})")
                for k in range(K)) + f" AS a_{b}"
            for pt, b in zip(pats, bits))
        gs = ", ".join(f"n_{b} / (n_{b} + a_{b}) AS g_{b}" for b in bits)
        cs = ", ".join(f"c_{b}" for b in bits)
        tot = " + ".join(f"c_{b} * g_{b}" for b in bits)
        totc = " + ".join(f"c_{b}" for b in bits)
        tot1 = " + ".join(f"c_{b} * (1 - g_{b})" for b in bits)
        sums = [f"{tot} AS tot", f"{totc} AS totc", f"{tot1} AS tot1"]
        for k in range(K):
            on = [b for pt, b in zip(pats, bits) if pt[k]]
            sums.append(" + ".join(f"c_{b} * g_{b}" for b in on)
                        + f" AS sm{k + 1}")
            sums.append(" + ".join(f"c_{b} * (1 - g_{b})" for b in on)
                        + f" AS su{k + 1}")
        def clamp(x):
            return f"LEAST(GREATEST({x}, {EM_EPS}), 1 - {EM_EPS})"
        params = [f"{clamp('tot / totc')} AS p"]
        params += [f"{clamp(f'sm{k + 1} / tot')} AS m{k + 1}"
                   for k in range(K)]
        params += [f"{clamp(f'su{k + 1} / tot1')} AS u{k + 1}"
                   for k in range(K)]
        sums_sql = ",\n               ".join(sums)
        mu_cols = ", ".join([f"m{k + 1}" for k in range(K)]
                            + [f"u{k + 1}" for k in range(K)])
        ctes.append(
            f"e{i} AS (\n"
            f"    SELECT {', '.join(params)}\n"
            f"    FROM (SELECT {sums_sql}\n"
            f"          FROM (SELECT {cs}, {gs}\n"
            f"                FROM (SELECT pv.*, p, {mu_cols},\n"
            f"             {na}\n"
            f"                      FROM pv CROSS JOIN e{i - 1}))))")
    return ",\n  ".join(ctes)


def _em_posterior_sql(fields):
    """Final per-pair posterior under the e{iters} parameters — the
    same CASE-product shape as linkeval.fs_em_posterior_expr."""
    K = len(fields)
    num = "p * " + " * ".join(
        f"(CASE WHEN l.{f} = 1 THEN m{k + 1} ELSE 1 - m{k + 1} END)"
        for k, f in enumerate(fields))
    alt = "(1 - p) * " + " * ".join(
        f"(CASE WHEN l.{f} = 1 THEN u{k + 1} ELSE 1 - u{k + 1} END)"
        for k, f in enumerate(fields))
    return (f"CAST(ROUND((({num}) / (({num}) + ({alt}))) * 1000000)"
            " AS BIGINT)")


@q("rl_fellegi_sunter", f"""
  {_RECS_SQL},
  {_LAB_SQL},
  {_MU_SQL},
  {_em_cte_sql(_FIELDS, EM_ITERS, EM_INIT)}
  SELECT l.rec_l, l.rec_r, l.f_name, l.f_seg, l.f_bal, l.is_match,
         CAST(ROUND(({_SCORE_TERMS}) * 1000000) AS BIGINT) AS fs6,
         {_em_posterior_sql(_FIELDS)} AS g6
  FROM lab l CROSS JOIN mu CROSS JOIN e{EM_ITERS}
""")
def rl_fellegi_sunter(spark, sf_dir):
    """Fellegi-Sunter (1969) probabilistic linkage over the blocked
    comparison space, both estimation regimes in one hash-gated entry:
    supervised Laplace-smoothed m/u from the labeled pairs (ONE
    aggregation -> fs6 log-likelihood weight) AND unsupervised EM
    (Winkler '88) on the 2^K pattern histogram (ONE groupBy -> fixed
    12-iteration scalar EM -> g6 posterior). The oracle re-derives
    records, blocking, labels, supervised m/u, every per-pair weight,
    and the full EM trajectory as an unrolled CTE chain mirroring
    fs_em_fit's IEEE operation order."""
    _, lab = _labeled_pairs(spark, sf_dir)
    # ONE pass over the blocked pair table serves BOTH estimation
    # regimes: the (pattern, label) histogram (<= 2^(K+1) rows to the
    # driver) is the joint sufficient statistic for the supervised
    # Laplace m/u and the label-marginalized EM fit, so the only other
    # job is the final per-pair scoring. The driver-side Laplace
    # division reproduces fs_estimate_weights / the oracle's
    # CAST(..)/CAST(..) bit-for-bit (exact integers, one IEEE divide).
    # localCheckpoint (not a parquet materialization, which round 5
    # measured slower) computes the pair table once and serves both
    # the histogram action and the scoring pass from memory — the
    # blocking join + banded levenshtein no longer run twice
    # (guide §5 caching: reused AND expensive to recompute).
    lab = lab.localCheckpoint(eager=True)
    hrows = (lab.groupBy(*[F.col(f) for f in _FIELDS], "is_match")
             .agg(F.count(F.lit(1)).alias("c")).collect())
    nm = sum(r["c"] for r in hrows if r["is_match"] == 1)
    nu = sum(r["c"] for r in hrows if r["is_match"] == 0)
    wvals, wtypes = [nm, nu], ["nm long", "nu long"]
    for k in _FIELDS:
        sa = sum(r["c"] for r in hrows if r[k] == 1 and r["is_match"] == 1)
        su = sum(r["c"] for r in hrows if r[k] == 1 and r["is_match"] == 0)
        wvals += [(sa + 1) / (nm + 2), (su + 1) / (nu + 2)]
        wtypes += [f"m_{k} double", f"u_{k} double"]
    w = spark.createDataFrame([tuple(wvals)], ", ".join(wtypes))
    scored = fs_score(lab, w, _FIELDS)
    hist: dict = {}
    for r in hrows:
        pt = tuple(int(r[f]) for f in _FIELDS)
        hist[pt] = hist.get(pt, 0) + r["c"]
    p, m, u = fs_em_fit(hist, len(_FIELDS))
    return scored.withColumn(
        "g6", F.round(fs_em_posterior_expr(_FIELDS, p, m, u) * 1_000_000)
        .cast("bigint"))


_SNM_W = 4          # sorted-neighborhood window, shared with the oracle

_BQ_METRICS = """n_recs, n_cand, n_true, n_found,
         CAST(ROUND((1.0 - CAST(n_cand AS DOUBLE)
                     / CAST(n_recs * (n_recs - 1) / 2 AS DOUBLE))
                    * 1000000) AS BIGINT) AS rr6,
         CAST(ROUND(CAST(n_found AS DOUBLE)
                    / CAST(greatest(n_true, 1) AS DOUBLE) * 1000000)
              AS BIGINT) AS pc6,
         CAST(ROUND(CAST(n_found AS DOUBLE)
                    / CAST(greatest(n_cand, 1) AS DOUBLE) * 1000000)
              AS BIGINT) AS pq6"""


@q("rl_blocking_quality", f"""
  {_RECS_SQL},
  cand AS (
    SELECT l.rec_id AS rec_l, r.rec_id AS rec_r,
           l.ent_id AS ent_l, r.ent_id AS ent_r
    FROM recs l JOIN recs r
      ON l.nat = r.nat AND l.rec_id < r.rec_id),
  rnk AS (
    SELECT rec_id, ent_id,
           row_number() OVER (ORDER BY bal_cents, rec_id) AS rn
    FROM recs),
  scand AS (
    SELECT l.rec_id AS rec_l, r.rec_id AS rec_r,
           l.ent_id AS ent_l, r.ent_id AS ent_r
    FROM rnk l JOIN rnk r
      ON r.rn > l.rn AND r.rn < l.rn + {_SNM_W}),
  n AS (SELECT CAST(count(*) AS BIGINT) AS n_recs FROM recs),
  t AS (SELECT CAST(sum(c * (c - 1) / 2) AS BIGINT) AS n_true
        FROM (SELECT count(*) AS c FROM recs GROUP BY ent_id)),
  f AS (SELECT CAST(count(*) AS BIGINT) AS n_cand,
               CAST(sum(CASE WHEN ent_l = ent_r THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_found
        FROM cand),
  sf AS (SELECT CAST(count(*) AS BIGINT) AS n_cand,
                CAST(sum(CASE WHEN ent_l = ent_r THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_found
         FROM scand)
  SELECT 'nation' AS scheme, {_BQ_METRICS}
  FROM n CROSS JOIN t CROSS JOIN f
  UNION ALL
  SELECT 'snm' AS scheme, {_BQ_METRICS}
  FROM n CROSS JOIN t CROSS JOIN sf
""")
def rl_blocking_quality(spark, sf_dir):
    """Christen (2012) blocking evaluation — reduction ratio, pairs
    completeness, pairs quality — of TWO blocking schemes against the
    by-construction entity labels, one row each: the nation equi-key
    and a sorted-neighborhood pass (Hernández-Stolfo '95) over the
    balance sort key with window {w}. True-pair count comes from a
    groupBy-size aggregation, never a materialized match set; the SNM
    candidate generation is the banded-equi-join rank window (the
    balance corruption on even entities makes its completeness
    density-dependent, so the two schemes trade rr against pc)."""
    recs = _records(spark, sf_dir)
    nat = blocking_quality(recs, block_pairs(recs, "nat")) \
        .select(F.lit("nation").alias("scheme"), "*")
    snm = blocking_quality(
        recs, sorted_neighborhood_pairs(recs, "bal_cents", _SNM_W)) \
        .select(F.lit("snm").alias("scheme"), "*")
    return nat.unionByName(snm)


rl_blocking_quality.__doc__ = rl_blocking_quality.__doc__.format(w=_SNM_W)


@q("rl_cluster_review", f"""
  {_RECS_SQL},
  {_LAB_SQL},
  sp AS (SELECT rec_l, rec_r,
                CAST(f_name + f_seg + f_bal AS BIGINT) AS score
         FROM lab),
  asg AS (SELECT rec_id, ent_id AS cluster_id FROM recs),
  w AS (SELECT a.cluster_id,
               CAST(count(*) AS BIGINT) AS n_scored,
               CAST(min(s.score) AS BIGINT) AS min_score,
               CAST(sum(s.score) AS BIGINT) AS ssum
        FROM sp s
        JOIN asg a ON a.rec_id = s.rec_l
        JOIN asg b ON b.rec_id = s.rec_r
                  AND b.cluster_id = a.cluster_id
        GROUP BY 1),
  sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         FROM asg GROUP BY 1)
  SELECT z.cluster_id, z.n_members,
         CAST((z.n_members * (z.n_members - 1)) // 2 AS BIGINT)
           AS n_possible,
         CAST(coalesce(w.n_scored, 0) AS BIGINT) AS n_scored,
         w.min_score,
         CAST(ROUND(CAST(w.ssum AS DOUBLE) / coalesce(w.n_scored, 0)
                    * 1000000) AS BIGINT) AS mean_score6,
         (z.n_members > 1
          AND (coalesce(w.n_scored, 0)
                 < (z.n_members * (z.n_members - 1)) // 2
               OR coalesce(w.min_score, 1) < 2)) AS needs_review
  FROM sz z LEFT JOIN w USING (cluster_id)
""")
def rl_cluster_review(spark, sf_dir):
    """Post-resolution cluster quality review (cluster.cluster_review)
    of the by-construction entity clusters against the blocked scored
    pairs (score = number of agreeing comparison fields): clusters
    whose duplicate escaped the nation block surface as a COVERAGE
    shortfall (n_scored < C(n,2) — merged on evidence never compared
    directly), and clusters merged on weak agreement surface through
    min_score. Registry + pytest + oracle-verified on demand; demoted
    from the driver window (the 49 oracle slots are full — see
    __spark_entry__)."""
    recs, lab = _labeled_pairs(spark, sf_dir)
    sp = lab.select(
        "rec_l", "rec_r",
        (F.col("f_name") + F.col("f_seg") + F.col("f_bal"))
        .cast("bigint").alias("score"))
    assign = recs.select("rec_id", F.col("ent_id").alias("cluster_id"))
    return cluster_review(assign, sp, min_score=2)


# Merge-rematch constants — shared verbatim with the oracle.
_MR_LEV = 2          # name-agreement edit distance
_MR_BAL = 100        # balance-agreement absolute difference (cents)

# ONE SQL agreement-count expression; the match rule and the ranking
# score both derive from it so the three clauses can never
# desynchronize across entries (review r5 finding)
_MR_TERMS = f"""(CASE WHEN levenshtein(l.name, r.name) <= {_MR_LEV}
                 THEN 1 ELSE 0 END
          + CASE WHEN l.seg = r.seg THEN 1 ELSE 0 END
          + CASE WHEN abs(l.bal_cents - r.bal_cents) <= {_MR_BAL}
                 THEN 1 ELSE 0 END)"""

_MR_RULE = f"{_MR_TERMS} >= 2"

_MR_SCORE = f"CAST({_MR_TERMS} AS BIGINT)"


def _mr_score_col():
    """Spark mirror of _MR_TERMS as a BIGINT agreement count — shared
    by every entry that ranks or gates on the 2-of-3 rule."""
    return ((F.levenshtein("name_l", "name_r", _MR_LEV) >= 0).cast("int")
            + (F.col("seg_l") == F.col("seg_r")).cast("int")
            + (F.abs(F.col("bal_cents_l") - F.col("bal_cents_r"))
               <= _MR_BAL).cast("int")).cast("bigint")


def _mr_match(p):
    """2-of-3 field agreement (name lev<={lev}, segment equality,
    balance within {bal} cents) — the Spark mirror of _MR_RULE."""
    return _mr_score_col() >= 2


_mr_match.__doc__ = _mr_match.__doc__.format(lev=_MR_LEV, bal=_MR_BAL)


@q("rl_merge_rematch", f"""
  {_RECS_SQL.replace("WITH base", "WITH RECURSIVE base", 1)},
  p1 AS (
    SELECT l.rec_id AS a, r.rec_id AS b
    FROM recs l JOIN recs r
      ON l.nat = r.nat AND l.rec_id < r.rec_id
    WHERE {_MR_RULE}),
  sym1 AS (SELECT a AS s, b AS d FROM p1 UNION SELECT b, a FROM p1
           UNION SELECT a, a FROM p1 UNION SELECT b, b FROM p1),
  reach1(x, y) AS (
    SELECT s, d FROM sym1
    UNION
    SELECT r.x, s.d FROM reach1 r JOIN sym1 s ON r.y = s.s),
  lab1 AS (SELECT x AS rec_id, min(y) AS c1 FROM reach1 GROUP BY x),
  asg1 AS (SELECT r.rec_id, coalesce(l.c1, r.rec_id) AS c1
           FROM recs r LEFT JOIN lab1 l USING (rec_id)),
  m AS (SELECT a.rec_id, a.name, a.seg, a.bal_cents, s.c1
        FROM recs a JOIN asg1 s USING (rec_id)),
  rep_name AS (SELECT c1, name FROM (
    SELECT c1, name, row_number() OVER (PARTITION BY c1
        ORDER BY length(name), name, rec_id) AS rk FROM m) WHERE rk = 1),
  rep_seg AS (SELECT c1, seg FROM (
    SELECT c1, seg, row_number() OVER (PARTITION BY c1
        ORDER BY c DESC, seg) AS rk
    FROM (SELECT c1, seg, CAST(count(*) AS BIGINT) AS c
          FROM m GROUP BY c1, seg)) WHERE rk = 1),
  rep_bal AS (SELECT c1, CAST(max(bal_cents) AS BIGINT) AS bal_cents
              FROM m GROUP BY c1),
  reps AS (SELECT n.c1, n.name, s.seg, b.bal_cents
           FROM rep_name n
           JOIN rep_seg s USING (c1) JOIN rep_bal b USING (c1)),
  p2 AS (
    SELECT l.c1 AS a, r.c1 AS b
    FROM reps l JOIN reps r
      ON right(l.name, 4) = right(r.name, 4) AND l.c1 < r.c1
    WHERE {_MR_RULE}),
  sym2 AS (SELECT a AS s, b AS d FROM p2 UNION SELECT b, a FROM p2
           UNION SELECT a, a FROM p2 UNION SELECT b, b FROM p2),
  reach2(x, y) AS (
    SELECT s, d FROM sym2
    UNION
    SELECT r.x, s.d FROM reach2 r JOIN sym2 s ON r.y = s.s),
  lab2 AS (SELECT x AS c1, min(y) AS c2 FROM reach2 GROUP BY x)
  SELECT a.rec_id, CAST(coalesce(l.c2, a.c1) AS BIGINT) AS cluster_id
  FROM asg1 a LEFT JOIN lab2 l USING (c1)
""")
def rl_merge_rematch(spark, sf_dir):
    """Iterative merge-rematch ER (R-Swoosh closure, Benjelloun '09)
    on the planted-duplicate benchmark, two scheme-escalating
    iterations: (1) block raw records by nation, merge 2-of-3 field
    agreements via checkpointed CC; (2) build golden REPRESENTATIVES
    of the merged clusters (survivorship rules) and re-block them by
    the name 4-char suffix — which recovers exactly the ZZZ-prefixed
    duplicates whose nation key was also corrupted (both escape
    iteration 1; the suffix survives the prefix corruption). The
    oracle unrolls both iterations: blocking, the match rule, two
    recursive-CTE connected components, the survivor picks and the
    label composition, all hash-exact; pytest separately pins that
    iteration 2 finds pairs iteration 1 cannot, that a third pass
    adds nothing (fixed point), and that a killed run resumes from
    the committed per-iteration assignment."""
    import tempfile
    from ..iterative import merge_rematch
    recs = _records(spark, sf_dir)
    return merge_rematch(
        recs,
        schemes=[lambda df: F.col("nat").cast("string"),
                 lambda df: F.expr("right(name, 4)")],
        match_cond=_mr_match,
        carry_cols=("name", "seg", "bal_cents"),
        shortest_cols=("name",), mode_cols=("seg", "nat"),
        max_cols=("bal_cents",),
        ckpt_dir=tempfile.mkdtemp(prefix="semlink_mr_"))


@q("rl_incremental_link", f"""
  {_RECS_SQL},
  o AS (SELECT rec_id AS cluster_id, name, seg, bal_cents, nat
        FROM recs WHERE rec_id % 2 = 0),
  d AS (SELECT * FROM recs WHERE rec_id % 2 = 1),
  cand AS (
    SELECT l.rec_id, r.cluster_id, {_MR_SCORE} AS sc
    FROM d l JOIN o r ON l.nat = r.nat
    WHERE {_MR_RULE}),
  rk AS (SELECT rec_id, cluster_id, sc,
                row_number() OVER (PARTITION BY rec_id
                                   ORDER BY sc DESC, cluster_id) AS rk
         FROM cand)
  SELECT d.rec_id,
         CAST(coalesce(r.cluster_id, d.rec_id) AS BIGINT) AS cluster_id,
         r.cluster_id IS NOT NULL AS matched,
         r.sc AS score
  FROM d LEFT JOIN (SELECT * FROM rk WHERE rk = 1) r USING (rec_id)
""")
def rl_incremental_link(spark, sf_dir):
    """Incremental ER (iterative.incremental_link): the corrupted
    duplicates arrive as a NEW batch against the already-resolved
    originals (each its own cluster, representative = itself), block
    on nation, apply the 2-of-3 match rule, and rank candidates by
    (agreement score DESC, cluster id ASC) — rank 1 assigns, misses
    mint singleton clusters. Registry + pytest + oracle verified on
    demand; demoted from the full driver window (see
    __spark_entry__)."""
    from ..iterative import incremental_link
    recs = _records(spark, sf_dir)
    orig = recs.filter(F.col("rec_id") % 2 == 0)
    new = recs.filter(F.col("rec_id") % 2 == 1)
    reps = orig.select(F.col("rec_id").alias("cluster_id"),
                       "name", "seg", "bal_cents", "nat")
    return incremental_link(
        new, reps, scheme=lambda df: F.col("nat").cast("string"),
        match_cond=_mr_match, score_col=_mr_score_col(),
        carry_cols=("name", "seg", "bal_cents"))


_O2O_ROUNDS = 4   # oracle unroll bound; pytest pins convergence ≤ this


def _o2o_oracle() -> str:
    """Unrolled locally-dominant greedy matching, mirror of
    iterative.greedy_one_to_one: each round accepts pairs that are
    row_number 1 for BOTH endpoints under (score DESC, other-id ASC)
    — the total order that makes iterated local dominance equal
    sequential best-first greedy — then drops pairs touching an
    accepted endpoint. Rounds past convergence run on empty sets and
    contribute nothing, so a fixed unroll ≥ the true round count is
    exact."""
    parts = [f"""
  {_RECS_SQL},
  e0 AS (
    SELECT l.rec_id AS rec_l, r.rec_id AS rec_r, {_MR_SCORE} AS score
    FROM (SELECT * FROM recs WHERE rec_id % 2 = 1) l
    JOIN (SELECT * FROM recs WHERE rec_id % 2 = 0) r ON l.nat = r.nat
    WHERE {_MR_RULE})"""]
    for i in range(1, _O2O_ROUNDS + 1):
        p = i - 1
        parts.append(f""",
  a{i} AS (
    SELECT rec_l, rec_r, score, CAST({i} AS INTEGER) AS rnd
    FROM (SELECT *,
            row_number() OVER (PARTITION BY rec_l
                               ORDER BY score DESC, rec_r) AS rl,
            row_number() OVER (PARTITION BY rec_r
                               ORDER BY score DESC, rec_l) AS rr
          FROM e{p})
    WHERE rl = 1 AND rr = 1),
  e{i} AS (
    SELECT e.* FROM e{p} e
    WHERE e.rec_l NOT IN (SELECT rec_l FROM a{i})
      AND e.rec_r NOT IN (SELECT rec_r FROM a{i}))""")
    parts.append("\n  " + "\n  UNION ALL ".join(
        f"SELECT * FROM a{i}" for i in range(1, _O2O_ROUNDS + 1)))
    return "".join(parts)


@q("rl_one_to_one_greedy", _o2o_oracle())
def rl_one_to_one_greedy(spark, sf_dir):
    """One-to-one linkage (iterative.greedy_one_to_one): the
    duplicate batch links against the originals under nation
    blocking + the 2-of-3 rule, but each original can be claimed by
    at most ONE duplicate and vice versa — exact distributed greedy
    matching via locally-dominant pairs (Preis '99), the scalable
    stand-in for Jaro 1989's LSAP assignment step. Registry +
    pytest + oracle verified on demand; demoted from the full
    driver window (see __spark_entry__)."""
    from ..iterative import greedy_one_to_one
    recs = _records(spark, sf_dir)
    dup = recs.filter(F.col("rec_id") % 2 == 1)
    orig = recs.filter(F.col("rec_id") % 2 == 0)
    lft = dup.select("nat", F.col("rec_id").alias("rec_l"),
                     F.col("name").alias("name_l"),
                     F.col("seg").alias("seg_l"),
                     F.col("bal_cents").alias("bal_cents_l"))
    rgt = orig.select("nat", F.col("rec_id").alias("rec_r"),
                      F.col("name").alias("name_r"),
                      F.col("seg").alias("seg_r"),
                      F.col("bal_cents").alias("bal_cents_r"))
    cand = lft.join(rgt, "nat")
    cand = cand.filter(_mr_match(cand)).withColumn(
        "score", _mr_score_col())
    return greedy_one_to_one(
        cand.select("rec_l", "rec_r", "score"),
        max_rounds=_O2O_ROUNDS)


_TH_MU6 = 10_000    # FS link false-match bound (1%), scaled 1e6
_TH_LAM6 = 50_000   # FS non-link false-non-match bound (5%)


@q("rl_fs_thresholds", f"""
  {_RECS_SQL},
  {_LAB_SQL},
  {_MU_SQL},
  scored AS (
    SELECT l.is_match,
           CAST(ROUND(({_SCORE_TERMS}) * 1000000) AS BIGINT) AS fs6
    FROM lab l CROSS JOIN mu),
  hist AS (SELECT fs6, CAST(sum(is_match) AS BIGINT) AS p_s,
                  CAST(sum(1 - is_match) AS BIGINT) AS n_s
           FROM scored GROUP BY fs6),
  tot AS (SELECT CAST(sum(p_s) AS BIGINT) AS tp_all,
                 CAST(sum(n_s) AS BIGINT) AS tn_all
          FROM hist),
  c AS (SELECT *,
          CAST(sum(n_s) OVER (ORDER BY fs6 DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cfp,
          CAST(sum(p_s) OVER (ORDER BY fs6 ASC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cfn
        FROM hist CROSS JOIN tot),
  sel AS (SELECT
            min(CASE WHEN cfp * 1000000 <= {_TH_MU6} * tn_all
                THEN fs6 END) AS t_upper,
            max(CASE WHEN cfn * 1000000 <= {_TH_LAM6} * tp_all
                THEN fs6 END) AS t_lower,
            CAST(sum(p_s) AS BIGINT) AS p,
            CAST(sum(n_s) AS BIGINT) AS n
          FROM c),
  fin AS (SELECT any_value(t_upper) AS t_upper,
                 any_value(t_lower) AS t_lower,
                 any_value(p) AS p, any_value(n) AS n,
                 CAST(sum(CASE WHEN fs6 >= t_upper
                      THEN p_s + n_s ELSE 0 END) AS BIGINT) AS n_link,
                 CAST(sum(CASE WHEN fs6 <= t_lower
                           AND NOT coalesce(fs6 >= t_upper, FALSE)
                      THEN p_s + n_s ELSE 0 END) AS BIGINT) AS n_nonlink,
                 CAST(sum(CASE WHEN fs6 >= t_upper
                      THEN n_s ELSE 0 END) AS BIGINT) AS fp,
                 CAST(sum(CASE WHEN fs6 <= t_lower
                           AND NOT coalesce(fs6 >= t_upper, FALSE)
                      THEN p_s ELSE 0 END) AS BIGINT) AS fn
          FROM hist CROSS JOIN sel)
  SELECT t_upper, t_lower, p, n, n_link, n_nonlink,
         CAST(p + n - n_link - n_nonlink AS BIGINT) AS n_review, fp, fn,
         CAST(CASE WHEN n > 0
              THEN (1000000 * fp) // n END AS BIGINT) AS mu_hat6,
         CAST(CASE WHEN p > 0
              THEN (1000000 * fn) // p END AS BIGINT) AS lam_hat6
  FROM fin
""")
def rl_fs_thresholds(spark, sf_dir):
    """Fellegi-Sunter three-way decision thresholds
    (linkeval.fs_thresholds): the upper/lower score cutoffs bounding
    the FS error rates mu = P(link | non-match) at 1% and
    lam = P(non-link | match) at 5%, plus the
    link/review/non-link partition sizes and achieved rates — all
    exact BIGINT cross-multiplications over the distinct-score
    histogram. Registry + pytest + oracle verified on demand;
    demoted from the full driver window (see __spark_entry__)."""
    from ..linkeval import fs_estimate_weights, fs_score, fs_thresholds
    _, lab = _labeled_pairs(spark, sf_dir)
    w = fs_estimate_weights(lab, list(_FIELDS))
    scored = fs_score(lab, w, list(_FIELDS))
    return fs_thresholds(scored, "fs6", mu6=_TH_MU6, lam6=_TH_LAM6)


_FQ_M = "CAST(0.95 AS DOUBLE)"   # fixed m; literal CAST dodges the
#                                  DuckDB DECIMAL-literal parity trap


def _fq_field(fld: str, f_al: str, s_al: str) -> str:
    """Oracle columns for one field's frequency-based weights —
    expression text mirrors fs_frequency_weights exactly (same
    divide/log shapes, 1.0 - m as a runtime subtraction)."""
    agree = f"c.{fld}_l = c.{fld}_r"
    return f"""coalesce({agree}, FALSE) AS agree_{fld},
         CAST(CASE WHEN {agree} THEN {f_al}.fv END AS BIGINT)
           AS fv_{fld},
         CAST(round(1000000 * CASE WHEN {agree}
              THEN ln({_FQ_M} / (CAST({f_al}.fv AS DOUBLE)
                                 / CAST({s_al}.n AS DOUBLE)))
              ELSE ln((CAST(1.0 AS DOUBLE) - {_FQ_M})
                      / (CAST(1.0 AS DOUBLE)
                         - CAST({s_al}.ssq AS DOUBLE)
                           / (CAST({s_al}.n AS DOUBLE)
                              * CAST({s_al}.n AS DOUBLE)))) END)
           AS BIGINT) AS w_{fld}6"""


@q("rl_fs_frequency", f"""
  {_RECS_SQL},
  fseg AS (SELECT seg AS val, CAST(count(*) AS BIGINT) AS fv
           FROM recs WHERE seg IS NOT NULL GROUP BY seg),
  sseg AS (SELECT CAST(sum(fv) AS BIGINT) AS n,
                  CAST(sum(fv * fv) AS BIGINT) AS ssq FROM fseg),
  fnat AS (SELECT nat AS val, CAST(count(*) AS BIGINT) AS fv
           FROM recs WHERE nat IS NOT NULL GROUP BY nat),
  snat AS (SELECT CAST(sum(fv) AS BIGINT) AS n,
                  CAST(sum(fv * fv) AS BIGINT) AS ssq FROM fnat),
  cand AS (SELECT l.rec_id AS rec_l, r.rec_id AS rec_r,
                  l.seg AS seg_l, r.seg AS seg_r,
                  l.nat AS nat_l, r.nat AS nat_r
           FROM (SELECT * FROM recs WHERE rec_id % 2 = 1) l
           JOIN (SELECT * FROM recs WHERE rec_id % 2 = 0) r
             ON l.nat = r.nat)
  SELECT c.rec_l, c.rec_r, c.seg_l, c.seg_r, c.nat_l, c.nat_r,
         {_fq_field("seg", "fs", "ss")},
         {_fq_field("nat", "fn", "sn")}
  FROM cand c
  LEFT JOIN fseg fs ON fs.val = c.seg_l
  CROSS JOIN sseg ss
  LEFT JOIN fnat fn ON fn.val = c.nat_l
  CROSS JOIN snat sn
""")
def rl_fs_frequency(spark, sf_dir):
    """Frequency-based FS weights (linkeval.fs_frequency_weights,
    Winkler '89): agreement on a rare segment or nation outweighs
    agreement on a common one — u becomes value-specific f_v/n on
    agreement, field-global sum(f_v^2)/n^2 on disagreement. The
    nation-blocked candidates all agree on nat (per-value weight
    varies by nation frequency); seg mixes agree/disagree. Registry
    + pytest + oracle verified on demand; demoted from the full
    driver window (see __spark_entry__)."""
    from ..linkeval import fs_frequency_weights
    recs = _records(spark, sf_dir)
    dup = recs.filter(F.col("rec_id") % 2 == 1).select(
        F.col("rec_id").alias("rec_l"), F.col("seg").alias("seg_l"),
        F.col("nat").alias("nat_l"))
    orig = recs.filter(F.col("rec_id") % 2 == 0).select(
        F.col("rec_id").alias("rec_r"), F.col("seg").alias("seg_r"),
        F.col("nat").alias("nat_r"))
    cand = dup.join(orig, dup["nat_l"] == orig["nat_r"]).select(
        "rec_l", "rec_r", "seg_l", "seg_r", "nat_l", "nat_r")
    out = fs_frequency_weights(cand, recs, "seg")
    return fs_frequency_weights(out, recs, "nat")


# PPRL Bloom constants — shared verbatim with the oracle (semlink.pprl).
_BLOOM_M = 256
_BLOOM_K = 4
_HEXQ = "0123456789abcdef"


def _pprl_oracle() -> str:
    """DuckDB mirror of pprl.bloom_positions + dice_pairs: bigram →
    md5-nibble double hashing → DISTINCT set-bit table → pair
    intersection join → integer Dice. The nibble idiom is the same
    text as the Spark expressions; // vs div agree (all positive)."""
    def nib(p):
        return f"(instr('{_HEXQ}', substring(hx, {p}, 1)) - 1)"
    return f"""
  {_RECS_SQL},
  nm AS (SELECT rec_id, lower(name) AS nm FROM recs
         WHERE length(name) >= 2),
  big AS (SELECT rec_id, substring(nm, CAST(i AS INTEGER), 2) AS bg
          FROM (SELECT rec_id, nm,
                       unnest(generate_series(1, length(nm) - 1)) AS i
                FROM nm)),
  hh AS (SELECT rec_id,
                {nib(1)} * 16 + {nib(2)} AS h1,
                {nib(3)} * 16 + {nib(4)} AS h2
         FROM (SELECT rec_id, md5(bg) AS hx FROM big)),
  pos AS (SELECT DISTINCT rec_id,
                 CAST((h1 + j * h2) % {_BLOOM_M} AS INTEGER) AS pos
          FROM hh CROSS JOIN
               (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS j)),
  card AS (SELECT rec_id, CAST(count(*) AS BIGINT) AS card
           FROM pos GROUP BY rec_id),
  cand AS (SELECT l.rec_id AS rec_l, r.rec_id AS rec_r
           FROM (SELECT * FROM recs WHERE rec_id % 2 = 1) l
           JOIN (SELECT * FROM recs WHERE rec_id % 2 = 0) r
             ON l.nat = r.nat),
  ins AS (SELECT c.rec_l, c.rec_r, CAST(count(*) AS BIGINT) AS inter
          FROM cand c
          JOIN pos pl ON pl.rec_id = c.rec_l
          JOIN pos pr ON pr.rec_id = c.rec_r AND pr.pos = pl.pos
          GROUP BY c.rec_l, c.rec_r)
  SELECT c.rec_l, c.rec_r,
         CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
         CAST(coalesce(cl.card, 0) AS BIGINT) AS card_l,
         CAST(coalesce(cr.card, 0) AS BIGINT) AS card_r,
         CAST(CASE WHEN coalesce(cl.card, 0) + coalesce(cr.card, 0) > 0
              THEN (2 * CAST(1000000 AS BIGINT) * coalesce(i.inter, 0))
                   // (coalesce(cl.card, 0) + coalesce(cr.card, 0))
              ELSE 0 END AS BIGINT) AS dice6,
         (c.rec_l // 2) = (c.rec_r // 2) AS is_match
  FROM cand c
  LEFT JOIN ins i ON i.rec_l = c.rec_l AND i.rec_r = c.rec_r
  LEFT JOIN card cl ON cl.rec_id = c.rec_l
  LEFT JOIN card cr ON cr.rec_id = c.rec_r
"""


@q("rl_pprl_bloom", _pprl_oracle())
def rl_pprl_bloom(spark, sf_dir):
    """Privacy-preserving linkage (semlink.pprl): Bloom-encode every
    record's name (bigrams → 4 double-hashed bits of a 256-bit
    filter), then Dice-score the nation-blocked duplicate×original
    candidates on the encodings alone — no raw name comparison. The
    ZZZ-prefix corruption that fails the Levenshtein-2 gate keeps
    Dice high (bigram sets barely move), which is the PPRL recall
    argument. Registry + pytest + oracle verified on demand; demoted
    from the full driver window (see __spark_entry__)."""
    from ..pprl import bloom_positions, dice_pairs
    recs = _records(spark, sf_dir)
    pos = bloom_positions(recs, id_col="rec_id", text_col="name",
                          m=_BLOOM_M, k=_BLOOM_K)
    dup = recs.filter(F.col("rec_id") % 2 == 1) \
              .select(F.col("rec_id").alias("rec_l"), "nat")
    orig = recs.filter(F.col("rec_id") % 2 == 0) \
               .select(F.col("rec_id").alias("rec_r"), "nat")
    cand = dup.join(orig, "nat").select("rec_l", "rec_r")
    return dice_pairs(cand, pos).withColumn(
        "is_match",
        F.expr("(rec_l div 2) = (rec_r div 2)"))


# Meta-blocking scheme constants — shared verbatim with the oracle.
# Four redundancy-positive schemes with different corruption escape
# routes: nation (corrupted at ck%11), segment (ck%7, and purged at
# larger SF where its blocks exceed the cap), a balance band (shifted
# positive so integer division is floor division in BOTH engines —
# Spark div truncates toward zero, DuckDB // floors), and the name
# 4-char SUFFIX, which survives the ZZZ-prefix corruption exactly
# when the nation key may not.
_MB_CAP = 256
_MB_BAL_SHIFT = 100000
_MB_BAL_BAND = 10000


def _mb_blocks(recs):
    return scheme_blocks(recs, {
        "nat": F.col("nat"),
        "seg": F.col("seg"),
        "bal": F.expr(f"(bal_cents + {_MB_BAL_SHIFT}) div {_MB_BAL_BAND}"),
        "sfx": F.expr("right(name, 4)")})


@q("rl_meta_blocking", f"""
  {_RECS_SQL},
  blocks AS (
    SELECT rec_id, 'nat:' || CAST(nat AS VARCHAR) AS bkey FROM recs
    UNION ALL
    SELECT rec_id, 'seg:' || seg FROM recs
    UNION ALL
    SELECT rec_id, 'bal:' || CAST((bal_cents + {_MB_BAL_SHIFT})
                                  // {_MB_BAL_BAND} AS VARCHAR) FROM recs
    UNION ALL
    SELECT rec_id, 'sfx:' || right(name, 4) FROM recs),
  keptb AS (SELECT bkey FROM blocks GROUP BY bkey
            HAVING count(*) <= {_MB_CAP}),
  kb AS (SELECT b.* FROM blocks b JOIN keptb USING (bkey)),
  bl AS (SELECT rec_id, CAST(count(*) AS BIGINT) AS bl
         FROM kb GROUP BY rec_id),
  nbt AS (SELECT CAST(count(DISTINCT bkey) AS BIGINT) AS nb FROM kb),
  edges AS (SELECT l.rec_id AS rec_l, r.rec_id AS rec_r,
                   CAST(count(*) AS BIGINT) AS cbs
            FROM kb l JOIN kb r
              ON l.bkey = r.bkey AND l.rec_id < r.rec_id
            GROUP BY 1, 2),
  tot AS (SELECT CAST(count(*) AS BIGINT) AS ne,
                 CAST(sum(cbs) AS BIGINT) AS cs FROM edges)
  SELECT e.rec_l, e.rec_r, e.cbs, a.bl AS bl_l, b.bl AS bl_r,
         CAST(ROUND(CAST(e.cbs AS DOUBLE)
                    / CAST(a.bl + b.bl - e.cbs AS DOUBLE) * 1000000)
              AS BIGINT) AS js6,
         CAST(ROUND(CAST(e.cbs AS DOUBLE)
                    * ln(CAST(nb AS DOUBLE) / CAST(a.bl AS DOUBLE))
                    * ln(CAST(nb AS DOUBLE) / CAST(b.bl AS DOUBLE))
                    * 1000000) AS BIGINT) AS ecbs6,
         e.cbs * ne >= cs AS kept
  FROM edges e
  JOIN bl a ON a.rec_id = e.rec_l
  JOIN bl b ON b.rec_id = e.rec_r
  CROSS JOIN nbt CROSS JOIN tot
""")
def rl_meta_blocking(spark, sf_dir):
    """Meta-blocking (Papadakis et al., TKDE 2014) over a four-scheme
    block collection on the planted-duplicate benchmark: block
    purging at cap {cap}, per-edge CBS / Jaccard-scheme / ECBS
    weights, and the integer-exact weighted-edge-pruning kept flag
    (cbs·n_edges >= cbs_sum). The oracle re-derives the records, all
    four schemes, the purge, every weight and the pruning decision;
    true duplicates accumulate CBS across schemes with different
    corruption escape routes, so pruning raises pairs quality (pinned
    by pytest via blocking_quality)."""
    recs = _records(spark, sf_dir)
    return meta_blocking_pairs(_mb_blocks(recs), max_block=_MB_CAP)


rl_meta_blocking.__doc__ = rl_meta_blocking.__doc__.format(cap=_MB_CAP)


_C2 = "(c * (c - 1)) // 2"
_ARI_DEN = ("(CAST(a_pairs AS DOUBLE) + CAST(b_pairs AS DOUBLE))"
            " / CAST(2 AS DOUBLE) - exp_d")


@q("rl_cluster_metrics", f"""
  {_RECS_SQL},
  cells AS (
    SELECT nat, ent_id, CAST(count(*) AS BIGINT) AS c
    FROM recs GROUP BY nat, ent_id),
  pp AS (SELECT CAST(sum({_C2}) AS BIGINT) AS p_pairs FROM cells),
  ap AS (SELECT CAST(sum({_C2}) AS BIGINT) AS a_pairs
         FROM (SELECT CAST(sum(c) AS BIGINT) AS c FROM cells
               GROUP BY nat)),
  bp AS (SELECT CAST(sum({_C2}) AS BIGINT) AS b_pairs
         FROM (SELECT CAST(sum(c) AS BIGINT) AS c FROM cells
               GROUP BY ent_id)),
  nn AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM recs),
  st AS (SELECT n_items, p_pairs, a_pairs, b_pairs,
                CAST((n_items * (n_items - 1)) // 2 AS BIGINT)
                  AS tot_pairs
         FROM nn CROSS JOIN pp CROSS JOIN ap CROSS JOIN bp),
  ex AS (SELECT *,
                CAST(a_pairs AS DOUBLE) * CAST(b_pairs AS DOUBLE)
                / CAST(greatest(tot_pairs, 1) AS DOUBLE) AS exp_d,
                CAST(p_pairs AS DOUBLE)
                / CAST(greatest(a_pairs, 1) AS DOUBLE) AS ppd,
                CAST(p_pairs AS DOUBLE)
                / CAST(greatest(b_pairs, 1) AS DOUBLE) AS prd
         FROM st)
  SELECT n_items, p_pairs, a_pairs, b_pairs, tot_pairs,
         CAST(ROUND((CASE WHEN {_ARI_DEN} = 0 THEN 1.0
                     ELSE (CAST(p_pairs AS DOUBLE) - exp_d)
                          / ({_ARI_DEN}) END) * 1000000) AS BIGINT)
           AS ari6,
         CAST(ROUND(ppd * 1000000) AS BIGINT) AS pp6,
         CAST(ROUND(prd * 1000000) AS BIGINT) AS pr6,
         CAST(ROUND((CASE WHEN p_pairs = 0 THEN 0.0
                     ELSE CAST(2 AS DOUBLE) * ppd * prd / (ppd + prd)
                     END) * 1000000) AS BIGINT) AS pf16
  FROM ex
""")
def rl_cluster_metrics(spark, sf_dir):
    """Cluster-level agreement of the (corrupted) nation partition
    against the by-construction entities on the planted-duplicate
    benchmark: Hubert-Arabie Adjusted Rand Index + pairwise
    precision / recall / F1 from integer-exact pair-counting
    sufficient statistics (cluster.clustering_agreement). The oracle
    re-derives the contingency cells, all four BIGINT pair counts and
    the identical fixed-shape scalar expressions, so the rounded
    metrics are hash-exact."""
    recs = _records(spark, sf_dir)
    return clustering_agreement(recs, pred_col="nat", truth_col="ent_id")


@q("rl_golden_record", f"""
  {_RECS_SQL},
  npick AS (
    SELECT ent_id, name FROM (
      SELECT ent_id, name,
             row_number() OVER (PARTITION BY ent_id
                                ORDER BY length(name), name, rec_id)
               AS rk
      FROM recs) WHERE rk = 1),
  spick AS (
    SELECT ent_id, seg FROM (
      SELECT ent_id, seg,
             row_number() OVER (PARTITION BY ent_id
                                ORDER BY c DESC, seg) AS rk
      FROM (SELECT ent_id, seg, CAST(count(*) AS BIGINT) AS c
            FROM recs GROUP BY ent_id, seg)) WHERE rk = 1),
  gbase AS (
    SELECT ent_id, CAST(max(bal_cents) AS BIGINT) AS bal_cents,
           CAST(count(*) AS BIGINT) AS n_members
    FROM recs GROUP BY ent_id)
  SELECT b.ent_id, n.name, s.seg, b.bal_cents, b.n_members
  FROM gbase b
  JOIN npick n ON n.ent_id = b.ent_id
  JOIN spick s ON s.ent_id = b.ent_id
""")
def rl_golden_record(spark, sf_dir):
    """Survivorship: one canonical record per resolved entity on the
    planted-duplicate benchmark (cluster.golden_records) — shortest-
    then-lexicographic name (corruption lengthens or 'X'-inflates),
    mode-with-value-tie-break market segment (the 'CORRUPT' injection
    wins only where it ties and sorts first), max balance, member
    count. String/bigint output only, so the oracle — identical
    window rank-1 picks and aggregates in DuckDB — is exact with no
    float convention needed."""
    recs = _records(spark, sf_dir)
    return golden_records(recs, "ent_id", shortest_cols=("name",),
                          mode_cols=("seg",), max_cols=("bal_cents",))


_GL_ROUNDS = 4   # oracle unroll bound for the per-group matchings
_GL_BAL = 500    # member value-agreement band (cents)


def _gl_oracle() -> str:
    """Unrolled per-group-pair greedy matching + Dice rollup, mirror
    of iterative.group_linkage over the events fixture: members block
    on (event_type, props.k), score = 1 + value-band agreement, each
    (grp_l, grp_r) pair carries its own independent matching."""
    parts = [f"""
  WITH base AS (SELECT event_id, user_id, event_type,
                       CAST(round(value * 100) AS BIGINT) AS cents,
                       CAST(json_extract_string(props, '$.k') AS BIGINT)
                         AS k
                FROM events),
  m0 AS (SELECT l.user_id AS grp_l, r.user_id AS grp_r,
                l.event_id AS rec_l, r.event_id AS rec_r,
                CAST(1 + CASE WHEN abs(l.cents - r.cents) <= {_GL_BAL}
                         THEN 1 ELSE 0 END AS BIGINT) AS score
         FROM base l JOIN base r
           ON l.event_type = r.event_type AND l.k = r.k
          AND l.user_id < r.user_id)"""]
    for i in range(1, _GL_ROUNDS + 1):
        p = i - 1
        parts.append(f""",
  a{i} AS (SELECT grp_l, grp_r, rec_l, rec_r, score FROM (
            SELECT *,
              row_number() OVER (PARTITION BY grp_l, grp_r, rec_l
                                 ORDER BY score DESC, rec_r) AS rl,
              row_number() OVER (PARTITION BY grp_l, grp_r, rec_r
                                 ORDER BY score DESC, rec_l) AS rr
            FROM m{p}) WHERE rl = 1 AND rr = 1),
  m{i} AS (SELECT e.* FROM m{p} e
           WHERE NOT EXISTS (SELECT 1 FROM a{i} a
                  WHERE a.grp_l = e.grp_l AND a.grp_r = e.grp_r
                    AND a.rec_l = e.rec_l)
             AND NOT EXISTS (SELECT 1 FROM a{i} a
                  WHERE a.grp_l = e.grp_l AND a.grp_r = e.grp_r
                    AND a.rec_r = e.rec_r))""")
    union = "\n        UNION ALL ".join(
        f"SELECT * FROM a{i}" for i in range(1, _GL_ROUNDS + 1))
    parts.append(f""",
  acc AS ({union}),
  sizes AS (SELECT user_id AS gid, CAST(count(*) AS BIGINT) AS n
            FROM base GROUP BY user_id),
  gp AS (SELECT DISTINCT grp_l, grp_r FROM m0),
  agg AS (SELECT grp_l, grp_r, CAST(count(*) AS BIGINT) AS matched,
                 CAST(sum(score) AS BIGINT) AS score_sum
          FROM acc GROUP BY grp_l, grp_r)
  SELECT g.grp_l, g.grp_r,
         CAST(coalesce(a.matched, 0) AS BIGINT) AS matched,
         CAST(coalesce(a.score_sum, 0) AS BIGINT) AS score_sum,
         sl.n AS n_l, sr.n AS n_r,
         (2 * CAST(1000000 AS BIGINT) * CAST(coalesce(a.matched, 0)
             AS BIGINT)) // (sl.n + sr.n) AS dice6
  FROM gp g
  LEFT JOIN agg a ON a.grp_l = g.grp_l AND a.grp_r = g.grp_r
  JOIN sizes sl ON sl.gid = g.grp_l
  JOIN sizes sr ON sr.gid = g.grp_r""")
    return "".join(parts)


@q("rl_group_linkage", _gl_oracle())
def rl_group_linkage(spark, sf_dir):
    """Group linkage (iterative.group_linkage, On et al. ICDE '07)
    over the events fixture: users are GROUPS of events; candidate
    member pairs block on (event_type, props.k), score 1 + a
    value-band agreement, and every user pair gets its own exact
    greedy one-to-one member matching (group-keyed locally-dominant
    rounds). Group similarity = member-Dice + matched score mass.
    Registry + pytest + oracle verified on demand; demoted from the
    full driver window (see __spark_entry__)."""
    from ..iterative import group_linkage
    ev = _read(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k"))
    l = base.select(F.col("user_id").alias("grp_l"),
                    F.col("event_id").alias("rec_l"),
                    "event_type", "k", F.col("cents").alias("cents_l"))
    r = base.select(F.col("user_id").alias("grp_r"),
                    F.col("event_id").alias("rec_r"),
                    "event_type", "k", F.col("cents").alias("cents_r"))
    members = (l.join(r, ["event_type", "k"])
               .filter(F.col("grp_l") < F.col("grp_r"))
               .select("grp_l", "grp_r", "rec_l", "rec_r",
                       (F.lit(1)
                        + (F.abs(F.col("cents_l") - F.col("cents_r"))
                           <= _GL_BAL).cast("int"))
                       .cast("bigint").alias("score")))
    sizes = base.groupBy(F.col("user_id").alias("grp_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    return group_linkage(members, sizes, max_rounds=_GL_ROUNDS)


_TD_M = "CAST(0.9 AS DOUBLE)"    # demo field m (documented constant)
_TD_U = "CAST(0.3 AS DOUBLE)"    # demo field u
_TD_LAM_A = "(ln(CAST(2 AS DOUBLE)) / CAST(30 AS DOUBLE))"  # agree HL
_TD_LAM_D = "(ln(CAST(2 AS DOUBLE)) / CAST(10 AS DOUBLE))"  # disagree HL
_TD_WS = f"""CASE WHEN f_val THEN ln({_TD_M} / {_TD_U})
             ELSE ln((CAST(1.0 AS DOUBLE) - {_TD_M})
                     / (CAST(1.0 AS DOUBLE) - {_TD_U})) END"""


@q("rl_temporal_decay", f"""
  WITH base AS (SELECT event_id, user_id, event_type,
                       CAST(round(value * 100) AS BIGINT) AS cents,
                       CAST(json_extract_string(props, '$.k') AS BIGINT)
                         AS k,
                       epoch(ts) AS es
                FROM events),
  p AS (SELECT l.event_id AS evt_l, r.event_id AS evt_r,
               l.user_id = r.user_id AS same_user,
               abs(l.cents - r.cents) <= {_GL_BAL} AS f_val,
               abs(l.es - r.es) / CAST(86400 AS DOUBLE) AS dt
        FROM base l JOIN base r
          ON l.event_type = r.event_type AND l.k = r.k
         AND l.event_id < r.event_id)
  SELECT evt_l, evt_r, same_user, f_val,
         CAST(round(dt * 1000000) AS BIGINT) AS dt6,
         CAST(round(({_TD_WS}) * 1000000) AS BIGINT) AS w_static6,
         CAST(round((({_TD_WS})
              * exp(-(CASE WHEN f_val THEN {_TD_LAM_A}
                      ELSE {_TD_LAM_D} END) * dt)) * 1000000)
              AS BIGINT) AS w_decay6
  FROM p
""")
def rl_temporal_decay(spark, sf_dir):
    """Temporal decay linkage (linkeval.time_decayed_weight, Li-Dong-
    Maurino-Srivastava VLDB '11) over event pairs blocked on
    (event_type, props.k): the value-band agreement weight and the
    disagreement penalty both decay exponentially with the time gap
    between the two records — disagreement faster (half-life 10 vs
    30 days), because a mismatch across a long gap is weak evidence
    against a match. Registry + pytest + oracle verified on demand;
    demoted from the full driver window (see __spark_entry__)."""
    from ..linkeval import time_decayed_weight
    ev = _read(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", "event_type", "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k"))
    l = base.select(F.col("event_id").alias("evt_l"),
                    F.col("user_id").alias("user_l"),
                    "event_type", "k",
                    F.col("cents").alias("cents_l"),
                    F.col("ts").alias("ts_l"))
    r = base.select(F.col("event_id").alias("evt_r"),
                    F.col("user_id").alias("user_r"),
                    "event_type", "k",
                    F.col("cents").alias("cents_r"),
                    F.col("ts").alias("ts_r"))
    p = (l.join(r, ["event_type", "k"])
         .filter(F.col("evt_l") < F.col("evt_r")))
    agree = F.abs(F.col("cents_l") - F.col("cents_r")) <= _GL_BAL
    dt, ws, wd = time_decayed_weight(agree, "ts_l", "ts_r")
    r6 = lambda c: F.round(c * 1_000_000).cast("bigint")  # noqa: E731
    return p.select(
        "evt_l", "evt_r",
        (F.col("user_l") == F.col("user_r")).alias("same_user"),
        agree.alias("f_val"),
        r6(dt).alias("dt6"),
        r6(ws).alias("w_static6"),
        r6(wd).alias("w_decay6"))
