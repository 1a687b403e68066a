"""Probabilistic linkage scoring and blocking evaluation.

Two classic entity-resolution components the blocking + pairwise-
scoring spine (pairs.py) feeds into:

- **Fellegi-Sunter match weights** (Fellegi & Sunter, JASA 1969;
  Newcombe et al. 1959): per-comparison-field conditional agreement
  probabilities m_k = P(agree_k | match) and u_k = P(agree_k |
  non-match) estimated from labeled pairs, then the log-likelihood
  match weight  W = sum_k [ f_k ? ln(m_k/u_k) : ln((1-m_k)/(1-u_k)) ]
  per candidate pair. Estimation is ONE map-side-combined aggregation
  (2k+2 sums); the resulting single weight row is broadcast back onto
  the pair table, so scoring is pure JVM column arithmetic — no
  shuffle beyond the caller's pair generation, no UDF.

- **Blocking quality metrics** (Christen, "Data Matching", Springer
  2012, ch. 7): reduction ratio, pairs completeness and pairs quality
  of a candidate-pair set against entity labels. Ground-truth pair
  counts come from a groupBy-size aggregation (sum of C(n_e, 2)),
  never from materializing the true-pair set, so the evaluation
  scales to corpora where the match set itself is huge.

The reference mount is empty (SURVEY.md §0); the capability contract
is BASELINE.json's blocking + pairwise-scoring pipeline, for which
these are the standard published evaluation / scoring companions.

Laplace smoothing ((s+1)/(n+2)) keeps every m/u strictly inside
(0, 1) so the log weights are always finite, and makes the estimate
deterministic on degenerate inputs (no matches, or a field that
always agrees).
"""
from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .ops import cut


def block_pairs(recs: DataFrame, block_col: str, rec_id_col: str = "rec_id",
                carry_cols: Sequence[str] = ()) -> DataFrame:
    """All within-block record pairs (rec_l < rec_r), the comparison
    space a blocking key induces. The join is a pure equi join on the
    block key; the C(B, 2) fan-out per block is the metric's
    definition, so block sizes must be bounded by the caller (a
    low-cardinality key like nation here, or capped LSH buckets as in
    datapipe.dedup at web scale)."""
    def side(suffix):
        cols = [F.col(rec_id_col).alias(f"rec_{suffix}")]
        cols += [F.col(c).alias(f"{c}_{suffix}") for c in carry_cols]
        return recs.select(F.col(block_col).alias("_bk"), *cols)

    return (side("l").join(side("r"), "_bk")
            .filter(F.col("rec_l") < F.col("rec_r"))
            .drop("_bk"))


def sorted_neighborhood_pairs(recs: DataFrame, sort_col: str, window: int,
                              rec_id_col: str = "rec_id",
                              carry_cols: Sequence[str] = ()) -> DataFrame:
    """Sorted-neighborhood candidate pairs (Hernández & Stolfo,
    SIGMOD 1995): rank all records by (sort key, rec_id) and emit every
    pair whose ranks differ by less than ``window`` — rec_l is always
    the lower-RANK record, so each pair appears exactly once.

    Scale shape: the global rank is two-phase (range-repartition →
    local row_number + the prefix sum of per-partition counts, a
    window over one row per partition, broadcast back on the partition
    id) — only that tiny count table crosses a SinglePartition
    exchange; the rank result is invariant to where the range cuts
    land, and the plan does not depend on the data. The rank-adjacency
    predicate is then a BANDED EQUI JOIN: block = (rn-1) div window,
    the right side replicated to its own and its predecessor block,
    so each row meets at most 2·window candidates before the rank
    filter — never a post-join filter over an unbounded comparison
    space (the repo band rule)."""
    spark = recs.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    ranked, _ = cut(recs.repartitionByRange(n_parts, sort_col, rec_id_col)
                    .withColumn("_pid", F.spark_partition_id()),
                    "sorted_neighborhood_ranked")
    # per-partition rank offsets in-plan: the running sum of the
    # per-_pid counts (≤ n_parts rows on one task), broadcast back by _pid
    offs = (ranked.groupBy("_pid").agg(F.count(F.lit(1)).alias("c"))
            .select("_pid", F.coalesce(F.sum("c").over(
                Window.orderBy("_pid").rowsBetween(
                    Window.unboundedPreceding, -1)), F.lit(0))
                .cast("long").alias("_off")))
    w_local = Window.partitionBy("_pid").orderBy(sort_col, rec_id_col)
    rn = (ranked.join(F.broadcast(offs), "_pid").withColumn(
        "_rn", F.row_number().over(w_local).cast("long") + F.col("_off"))
        .withColumn("_blk", F.floor((F.col("_rn") - 1) / window)))

    left = rn.select(
        F.col("_blk").alias("_bk"), F.col(rec_id_col).alias("rec_l"),
        F.col("_rn").alias("_rn_l"),
        *[F.col(c).alias(f"{c}_l") for c in carry_cols])
    # right side joinable from its own block AND the one before it
    right = (rn.select(
        F.explode(F.array(F.col("_blk"), F.col("_blk") - 1)).alias("_bk"),
        F.col(rec_id_col).alias("rec_r"), F.col("_rn").alias("_rn_r"),
        *[F.col(c).alias(f"{c}_r") for c in carry_cols]))
    return (left.join(right, "_bk")
            .filter((F.col("_rn_r") > F.col("_rn_l"))
                    & (F.col("_rn_r") < F.col("_rn_l") + window))
            .drop("_bk", "_rn_l", "_rn_r"))


def blocking_quality(recs: DataFrame, cand: DataFrame,
                     ent_col: str = "ent_id",
                     rec_id_col: str = "rec_id") -> DataFrame:
    """One-row blocking evaluation (Christen 2012 ch. 7):

    - ``rr6``  reduction ratio   1 - |cand| / C(n_recs, 2)
    - ``pc6``  pairs completeness |cand ∩ true| / |true|
    - ``pq6``  pairs quality      |cand ∩ true| / |cand|

    ``true`` pairs are counted as sum over entities of C(n_e, 2) from
    one groupBy — the matched-pair SET is never built. |cand ∩ true|
    labels the candidate pairs through two broadcast-friendly joins on
    the record ids. Scaled-bigint fractions per the repo convention.
    """
    ids = recs.select(F.col(rec_id_col), F.col(ent_col))
    n_recs = recs.select(F.count(F.lit(1)).alias("n_recs"))
    true_cnt = (ids.groupBy(ent_col)
                .agg(F.count(F.lit(1)).alias("c"))
                .select(F.sum(F.col("c") * (F.col("c") - 1) / 2)
                        .cast("bigint").alias("n_true")))
    # LEFT joins so a candidate pair referencing a record absent from
    # recs still counts toward n_cand (its null entity label simply
    # never matches) — n_cand is |cand| exactly, per the rr definition.
    labeled = (cand
               .join(ids.select(F.col(rec_id_col).alias("rec_l"),
                                F.col(ent_col).alias("_el")), "rec_l", "left")
               .join(ids.select(F.col(rec_id_col).alias("rec_r"),
                                F.col(ent_col).alias("_er")), "rec_r", "left"))
    found = labeled.select(
        F.count(F.lit(1)).alias("n_cand"),
        F.coalesce(F.sum((F.col("_el") == F.col("_er")).cast("bigint")),
                   F.lit(0)).cast("bigint").alias("n_found"))
    row = (n_recs.crossJoin(true_cnt).crossJoin(found))
    total_pairs = (F.col("n_recs") * (F.col("n_recs") - 1) / 2)
    r6 = lambda c: F.round(c * 1_000_000).cast("bigint")  # noqa: E731
    return row.select(
        F.col("n_recs").cast("bigint").alias("n_recs"),
        F.col("n_cand").cast("bigint").alias("n_cand"),
        F.col("n_true"), F.col("n_found"),
        r6(F.lit(1.0) - F.col("n_cand").cast("double")
           / total_pairs.cast("double")).alias("rr6"),
        r6(F.col("n_found").cast("double")
           / F.greatest(F.col("n_true"), F.lit(1)).cast("double"))
        .alias("pc6"),
        r6(F.col("n_found").cast("double")
           / F.greatest(F.col("n_cand"), F.lit(1)).cast("double"))
        .alias("pq6"))


def scheme_blocks(recs: DataFrame, schemes: dict[str, Column],
                  rec_id_col: str = "rec_id") -> DataFrame:
    """Multi-scheme blocking-key assignments: one (rec_id, bkey) row
    per record per scheme, bkey = '<scheme>:<value>'. Null key values
    drop their row (a record simply doesn't enter that scheme's
    blocks). The union is column-pruned to two columns before any
    downstream shuffle."""
    parts = [recs.select(F.col(rec_id_col),
                         F.concat_ws(":", F.lit(name), col.cast("string"))
                         .alias("bkey"))
             .filter(col.isNotNull())
             for name, col in schemes.items()]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def meta_blocking_pairs(blocks: DataFrame, rec_id_col: str = "rec_id",
                        max_block: int = 256) -> DataFrame:
    """Meta-blocking (Papadakis, Koutrika, Palpanas & Nejdl, TKDE
    2014): re-model a redundancy-positive block collection as a
    weighted pair graph and prune low-evidence edges BEFORE any
    pairwise comparison runs — the standard way to cut a blocking
    scheme's candidate set at web scale without touching recall on
    strongly co-blocked duplicates.

    Stages (all relational, one pair-key shuffle after the block
    join):

    - **Block purging**: blocks larger than ``max_block`` are dropped
      (high-frequency keys carry little evidence and quadratic cost —
      same guard as the LSH bucket cap).
    - **Edge weighting**: for every co-blocked pair, CBS = number of
      shared blocks (one groupBy); JS = CBS / (|B_l| + |B_r| - CBS);
      ECBS = CBS * ln(|B|/|B_l|) * ln(|B|/|B_r|) with |B_x| the
      record's retained-block count and |B| the total retained block
      count (1-row broadcast).
    - **Weighted-edge pruning (WEP)**: keep edges whose CBS clears
      the mean edge weight. The mean test is the integer-exact cross
      product  cbs * n_edges >= cbs_sum  — both sides BIGINT — so the
      kept flag is bit-deterministic under any partitioning (an ECBS
      mean would inherit distributed float-sum order; CBS is the
      weight whose mean is exactly representable).

    Returns one row per candidate edge: (rec_l, rec_r, cbs, bl_l,
    bl_r, js6, ecbs6, kept) with the scaled-bigint float convention
    on the real-valued weights."""
    # purge via ONE window count on the join key (the LSH cap shape) and
    # cut the kept-block table once: it is consumed by FOUR subplans
    # (bl, nb, both self-join sides), each of which would otherwise
    # re-run the scheme union + purge (round-6; guide §2.4/§5)
    kept_blocks, _ = cut(blocks.withColumn(
        "_bn", F.count(F.lit(1)).over(Window.partitionBy("bkey")))
        .filter(F.col("_bn") <= max_block).drop("_bn"), "meta_blocks")
    bl = kept_blocks.groupBy(rec_id_col).agg(
        F.count(F.lit(1)).alias("_bl"))
    nb = kept_blocks.select(F.count_distinct("bkey").alias("_nb"))
    lft = kept_blocks.select("bkey", F.col(rec_id_col).alias("rec_l"))
    rgt = kept_blocks.select("bkey", F.col(rec_id_col).alias("rec_r"))
    edges = (lft.join(rgt, "bkey")
             .filter(F.col("rec_l") < F.col("rec_r"))
             .groupBy("rec_l", "rec_r")
             .agg(F.count(F.lit(1)).cast("bigint").alias("cbs")))
    tot = edges.agg(F.count(F.lit(1)).cast("bigint").alias("_ne"),
                    F.sum("cbs").cast("bigint").alias("_cs"))
    d = lambda c: c.cast("double")  # noqa: E731
    w = (edges
         .join(bl.select(F.col(rec_id_col).alias("rec_l"),
                         F.col("_bl").alias("bl_l")), "rec_l")
         .join(bl.select(F.col(rec_id_col).alias("rec_r"),
                         F.col("_bl").alias("bl_r")), "rec_r")
         .crossJoin(F.broadcast(nb))
         .crossJoin(F.broadcast(tot)))
    r6 = lambda c: F.round(c * 1_000_000).cast("bigint")  # noqa: E731
    return w.select(
        "rec_l", "rec_r", "cbs",
        F.col("bl_l").cast("bigint").alias("bl_l"),
        F.col("bl_r").cast("bigint").alias("bl_r"),
        r6(d(F.col("cbs"))
           / d(F.col("bl_l") + F.col("bl_r") - F.col("cbs"))).alias("js6"),
        r6(d(F.col("cbs"))
           * F.log(d(F.col("_nb")) / d(F.col("bl_l")))
           * F.log(d(F.col("_nb")) / d(F.col("bl_r")))).alias("ecbs6"),
        (F.col("cbs") * F.col("_ne") >= F.col("_cs")).alias("kept"))


def fs_estimate_weights(pairs: DataFrame, fields: Sequence[str],
                        label_col: str = "is_match") -> DataFrame:
    """Fellegi-Sunter m/u estimation from labeled pairs: ONE
    aggregation producing a single row with, per field k,

        m_k = (sum(f_k * y) + 1) / (n_match + 2)      (Laplace)
        u_k = (sum(f_k * (1-y)) + 1) / (n_nonmatch + 2)

    as double columns ``m_<k>`` / ``u_<k>`` plus the raw counts. The
    smoothing keeps weights finite on degenerate fields. All partial
    sums combine map-side; only one row ever moves."""
    y = F.col(label_col).cast("bigint")
    aggs = [F.sum(y).cast("bigint").alias("nm"),
            F.sum(1 - y).cast("bigint").alias("nu")]
    for k in fields:
        f = F.col(k).cast("bigint")
        aggs.append(F.sum(f * y).cast("bigint").alias(f"sa_{k}"))
        aggs.append(F.sum(f * (1 - y)).cast("bigint").alias(f"su_{k}"))
    w = pairs.agg(*aggs)
    for k in fields:
        w = w.withColumn(
            f"m_{k}", (F.col(f"sa_{k}") + 1).cast("double")
            / (F.col("nm") + 2).cast("double"))
        w = w.withColumn(
            f"u_{k}", (F.col(f"su_{k}") + 1).cast("double")
            / (F.col("nu") + 2).cast("double"))
    return w


def _fs_score_expr(fields: Sequence[str]) -> Column:
    """sum_k [ f_k ? ln(m_k/u_k) : ln((1-m_k)/(1-u_k)) ], added in
    field order so the Spark and DuckDB expression trees (and hence
    the rounded scaled-bigint hashes) coincide bit-for-bit."""
    total = None
    for k in fields:
        m, u = F.col(f"m_{k}"), F.col(f"u_{k}")
        term = F.when(F.col(k) == 1, F.log(m / u)) \
            .otherwise(F.log((F.lit(1.0) - m) / (F.lit(1.0) - u)))
        total = term if total is None else total + term
    return total


def fs_score(pairs: DataFrame, weights: DataFrame,
             fields: Sequence[str], out_col: str = "fs6") -> DataFrame:
    """Attach the scaled-bigint Fellegi-Sunter log-likelihood weight
    to every pair: broadcast the 1-row weight table (the only
    crossJoin is 1-row, the sanctioned shape) and evaluate the pure
    column expression — whole-stage-codegen friendly, no UDF."""
    scored = pairs.crossJoin(F.broadcast(weights))
    return scored.withColumn(
        out_col,
        F.round(_fs_score_expr(fields) * 1_000_000).cast("bigint")) \
        .select(*pairs.columns, out_col)


# --------------------------------------------------------------- EM (1988)
# Unsupervised m/u estimation (Winkler '88 / Dempster-Laird-Rubin EM on
# the Fellegi-Sunter two-class conditional-independence mixture). The
# sufficient statistic for binary comparison vectors is the 2^K pattern
# histogram, so estimation is ONE map-side-combined groupBy over the
# (possibly trillion-row) pair table followed by a fixed-budget scalar
# EM on <= 2^K counts — the collect is 2^K rows, bounded like the stump
# grid. The scalar loop below is written with an EXPLICIT, fixed
# pattern-order operation sequence (left-associated products and sums,
# no numpy reductions) so the DuckDB oracle's unrolled CTE chain —
# generated from the same pattern list — reproduces it bit-for-bit:
# every op is IEEE-754 double *, /, +, -, exactly specified in both
# engines.

EM_ITERS = 12                  # fixed iteration budget, shared w/ oracle
EM_INIT = (0.1, 0.8, 0.2)      # p0, m0_k, u0_k
EM_EPS = 1e-06                 # Winkler parameter clamp [eps, 1-eps]:
#                                keeps every m/u/p strictly interior so
#                                perfectly-separable histograms can't
#                                drive a later E-step into 0/0. min/max
#                                are exact on doubles, so the clamp is
#                                a bitwise no-op whenever it doesn't
#                                fire — mirrored as LEAST/GREATEST in
#                                the oracle CTEs.


def em_patterns(n_fields: int) -> list[tuple[int, ...]]:
    """All binary agreement patterns in the canonical order (first
    field = most significant bit) that both the Python loop and the
    generated oracle SQL iterate in."""
    pats = [()]
    for _ in range(n_fields):
        pats = [p + (b,) for p in pats for b in (0, 1)]
    return pats


def fs_em_fit(counts: dict[tuple[int, ...], int], n_fields: int,
              iters: int = EM_ITERS,
              init: tuple[float, float, float] = EM_INIT):
    """Fixed-budget EM on the pattern histogram. Returns (p, m, u)
    with m/u lists per field. Deterministic: pure Python IEEE doubles,
    fixed pattern-order arithmetic (see module comment). Degenerate
    inputs (all counts zero) are the caller's responsibility."""
    pats = em_patterns(n_fields)
    c = [float(counts.get(pt, 0)) for pt in pats]
    p, m, u = init[0], [init[1]] * n_fields, [init[2]] * n_fields
    for _ in range(iters):
        g = []
        for pt in pats:
            num = p
            for k in range(n_fields):
                num = num * (m[k] if pt[k] else 1.0 - m[k])
            alt = 1.0 - p
            for k in range(n_fields):
                alt = alt * (u[k] if pt[k] else 1.0 - u[k])
            g.append(num / (num + alt))
        tot = 0.0
        for i in range(len(pats)):
            tot = tot + c[i] * g[i]
        totc = 0.0
        for i in range(len(pats)):
            totc = totc + c[i]
        tot1 = 0.0
        for i in range(len(pats)):
            tot1 = tot1 + c[i] * (1.0 - g[i])
        new_m, new_u = [], []
        for k in range(n_fields):
            sm = 0.0
            for i, pt in enumerate(pats):
                if pt[k]:
                    sm = sm + c[i] * g[i]
            su = 0.0
            for i, pt in enumerate(pats):
                if pt[k]:
                    su = su + c[i] * (1.0 - g[i])
            new_m.append(min(max(sm / tot, EM_EPS), 1.0 - EM_EPS))
            new_u.append(min(max(su / tot1, EM_EPS), 1.0 - EM_EPS))
        p = min(max(tot / totc, EM_EPS), 1.0 - EM_EPS)
        m, u = new_m, new_u
    return p, m, u


def fs_em_weights(pairs: DataFrame, fields: Sequence[str],
                  iters: int = EM_ITERS):
    """Distribute the E-step's sufficient statistic (pattern
    histogram: one groupBy, <= 2^K result rows) and run the scalar EM
    on the driver. No labels consumed."""
    rows = (pairs.groupBy(*[F.col(f) for f in fields])
            .agg(F.count(F.lit(1)).alias("c")).collect())
    counts = {tuple(int(r[f]) for f in fields): r["c"] for r in rows}
    return fs_em_fit(counts, len(fields), iters)


def fs_em_posterior_expr(fields: Sequence[str], p: float,
                         m: Sequence[float], u: Sequence[float]) -> Column:
    """Per-pair posterior match probability under the fitted mixture:
    g = p·Π a_k / (p·Π a_k + (1-p)·Π b_k), a_k = m_k or 1-m_k by
    agreement — pure JVM column arithmetic over literal parameters,
    shaped identically to the oracle's final SELECT."""
    num: Column = F.lit(p)
    for k, f in enumerate(fields):
        num = num * F.when(F.col(f) == 1, F.lit(m[k])) \
            .otherwise(F.lit(1.0) - F.lit(m[k]))
    alt: Column = F.lit(1.0) - F.lit(p)
    for k, f in enumerate(fields):
        alt = alt * F.when(F.col(f) == 1, F.lit(u[k])) \
            .otherwise(F.lit(1.0) - F.lit(u[k]))
    return num / (num + alt)


# ------------------------------------------- frequency-based weights
# Winkler '89 ("Frequency-based matching in Fellegi-Sunter model of
# record linkage", ASA Proc. Survey Research Methods): agreement on a
# RARE field value is stronger evidence than agreement on a common
# one, so the agreement u-probability becomes value-specific —
# u(v) = f_v / n, the chance a random record carries v — while the
# disagreement weight keeps the field-global
# u_glob = sum_v (f_v/n)^2 (chance two random records agree at all).
# Both derive from ONE value-frequency groupBy; sum(f_v^2) stays an
# exact BIGINT, so the only IEEE operations are the final fixed-shape
# divides and logs, shared verbatim with the oracle.


def fs_frequency_weights(pairs: DataFrame, recs: DataFrame, field: str,
                         m: float = 0.95,
                         left_suffix: str = "_l",
                         right_suffix: str = "_r",
                         out_prefix: str | None = None) -> DataFrame:
    """Attach value-specific frequency-based FS weights for ``field``
    to every pair (values expected as ``{field}_l`` / ``{field}_r``):

        agree on v:  w = ln(m / (f_v / n))
        disagree:    w = ln((1-m) / (1 - sum_v f_v^2 / n^2))

    as scaled-bigint ``w_<field>6`` plus the agreement flag and the
    agreed value's count ``fv_<field>`` (NULL on disagreement). NULL
    field values never agree (SQL semantics, both engines) and are
    excluded from n and sum(f_v^2) — u is over ACTUAL values. The
    value-frequency table joins on the left value with no broadcast
    hint — its cardinality is field-dependent and AQE picks the
    strategy; the 1-row (n, sum f^2) stats table is the sanctioned
    1-row broadcast crossJoin."""
    vl, vr = f"{field}{left_suffix}", f"{field}{right_suffix}"
    pre = out_prefix or field
    # NULL field values never agree, so they belong in NEITHER the
    # value frequencies nor the n / sum(f^2) totals — otherwise a
    # sparse field's u_glob absorbs the NULL mass as phantom
    # "agreement" and every u(v) deflates (review r5 finding)
    freq = (recs.filter(F.col(field).isNotNull())
            .groupBy(F.col(field).alias("_val"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("_fv")))
    stats = freq.agg(
        F.sum("_fv").cast("bigint").alias("_n"),
        F.sum(F.col("_fv") * F.col("_fv")).cast("bigint").alias("_ssq"))
    out = (pairs.join(freq, pairs[vl] == freq["_val"], "left")
           .drop("_val")
           .crossJoin(F.broadcast(stats)))
    agree = F.col(vl) == F.col(vr)
    n_d = F.col("_n").cast("double")
    u_val = F.col("_fv").cast("double") / n_d
    u_glob = F.col("_ssq").cast("double") / (n_d * n_d)
    mlit = F.lit(float(m))
    w = F.when(agree, F.log(mlit / u_val)) \
        .otherwise(F.log((F.lit(1.0) - mlit) / (F.lit(1.0) - u_glob)))
    return out.select(
        *pairs.columns,
        F.coalesce(agree, F.lit(False)).alias(f"agree_{pre}"),
        F.when(agree, F.col("_fv")).otherwise(F.lit(None))
        .cast("bigint").alias(f"fv_{pre}"),
        F.round(w * 1_000_000).cast("bigint").alias(f"w_{pre}6"))


def score_auc(pairs: DataFrame, score_col: str,
              label_col: str = "is_match",
              scale: int = 1_000_000) -> DataFrame:
    """ROC-AUC of a linkage score against binary labels — the
    Mann-Whitney U statistic with EXACT tie handling, as one row
    (p, n, u2, auc6).

    Never ranks the pair table: the sufficient statistic is the
    per-score histogram (ONE map-side-combined groupBy), and the
    midrank algebra stays integer —

        u2 = sum_s p_s * (2 * N_below(s) + n_s)   ( = 2U )
        auc6 = floor(scale * u2 / (2 * p * n))

    where ties contribute exactly 1/2 each (the p_s*n_s term). The
    ordered-window cumulative runs over DISTINCT SCORES ONLY, so its
    single-partition sort is bounded by score cardinality, not pair
    count (same shape as the EM pattern histogram). Exact while
    scale * 2 * p * n < 2^63, i.e. p*n < ~4.6e12 at scale 1e6.
    NULL auc6 when either class is empty."""
    y = F.col(label_col).cast("bigint")
    hist = pairs.groupBy(score_col).agg(
        F.sum(y).cast("bigint").alias("p_s"),
        F.sum(1 - y).cast("bigint").alias("n_s"))
    w = Window.orderBy(score_col).rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn(
        "cn", F.coalesce(F.sum("n_s").over(w), F.lit(0)).cast("bigint"))
    agg = cum.agg(
        F.sum("p_s").cast("bigint").alias("p"),
        F.sum("n_s").cast("bigint").alias("n"),
        F.sum(F.col("p_s") * (2 * F.col("cn") + F.col("n_s")))
        .cast("bigint").alias("u2"))
    return agg.select(
        "p", "n", "u2",
        F.when((F.col("p") > 0) & (F.col("n") > 0),
               F.expr(f"({scale} * u2) div (2 * p * n)"))
        .cast("bigint").alias("auc6"))


def fs_thresholds(pairs: DataFrame, score_col: str,
                  label_col: str = "is_match",
                  mu6: int = 10_000, lam6: int = 50_000) -> DataFrame:
    """Empirical Fellegi-Sunter decision thresholds: the classic
    three-way rule designates pairs LINK above an upper cutoff,
    NON-LINK below a lower cutoff, and CLERICAL REVIEW between, with
    the cutoffs chosen to bound the two error rates (Fellegi &
    Sunter 1969 §3). The error rates condition on the TRUE class,
    exactly as the paper defines them: mu = P(link | non-match),
    lam = P(non-link | match), both scaled 1e6 here.

        t_upper = MIN score s.t. designating [score, inf) as links
                  keeps  fp * 1e6 <= mu6  * n   (n = all non-matches)
        t_lower = MAX score s.t. designating (-inf, score] as
                  non-links keeps  fn * 1e6 <= lam6 * p  (all matches)

    If generous budgets make the regions cross, LINK takes
    precedence and the non-link region is truncated below it (FS
    assumes admissible error levels where this cannot happen; the
    precedence keeps the partition well-defined regardless).

    Returns ONE row: both cutoffs, the link / review / non-link
    counts and the achieved scaled error rates fp/n and fn/p under
    the selected rule (a cutoff is NULL when no prefix satisfies its
    bound). All comparisons are exact BIGINT cross-multiplications —
    no float anywhere. Like score_auc, the scan is over the
    DISTINCT-SCORE histogram (two bounded windows), never the pair
    table."""
    y = F.col(label_col).cast("bigint")
    hist = pairs.groupBy(score_col).agg(
        F.sum(y).cast("bigint").alias("p_s"),
        F.sum(1 - y).cast("bigint").alias("n_s"))
    wd = Window.orderBy(F.desc(score_col)) \
        .rowsBetween(Window.unboundedPreceding, 0)
    wa = Window.orderBy(F.asc(score_col)) \
        .rowsBetween(Window.unboundedPreceding, 0)
    # class totals from the histogram, NOT a second pass over the
    # (possibly expensive, uncached) pair lineage (review r5 finding)
    tot = hist.agg(F.sum("p_s").cast("bigint").alias("tp_all"),
                   F.sum("n_s").cast("bigint").alias("tn_all"))
    c = (hist.crossJoin(F.broadcast(tot))
         .withColumn("cfp", F.sum("n_s").over(wd).cast("bigint"))
         .withColumn("cfn", F.sum("p_s").over(wa).cast("bigint")))
    s = F.col(score_col)
    up = F.min(F.when(
        F.col("cfp") * 1_000_000 <= F.lit(mu6) * F.col("tn_all"), s))
    lo = F.max(F.when(
        F.col("cfn") * 1_000_000 <= F.lit(lam6) * F.col("tp_all"), s))
    sel = c.agg(up.alias("t_upper"), lo.alias("t_lower"),
                F.sum("p_s").cast("bigint").alias("p"),
                F.sum("n_s").cast("bigint").alias("n"))
    # re-aggregate the designation counts under the chosen cutoffs
    # (1-row broadcast crossJoin, the sanctioned shape)
    j = hist.crossJoin(F.broadcast(sel))
    link = F.col(score_col) >= F.col("t_upper")
    non = ((F.col(score_col) <= F.col("t_lower"))
           & ~F.coalesce(link, F.lit(False)))
    out = j.agg(
        F.first("t_upper").alias("t_upper"),
        F.first("t_lower").alias("t_lower"),
        F.first("p").alias("p"), F.first("n").alias("n"),
        F.sum(F.when(link, F.col("p_s") + F.col("n_s")).otherwise(0))
        .cast("bigint").alias("n_link"),
        F.sum(F.when(non, F.col("p_s") + F.col("n_s")).otherwise(0))
        .cast("bigint").alias("n_nonlink"),
        F.sum(F.when(link, F.col("n_s")).otherwise(0))
        .cast("bigint").alias("fp"),
        F.sum(F.when(non, F.col("p_s")).otherwise(0))
        .cast("bigint").alias("fn"))
    return out.select(
        "t_upper", "t_lower", "p", "n", "n_link", "n_nonlink",
        (F.col("p") + F.col("n") - F.col("n_link") - F.col("n_nonlink"))
        .cast("bigint").alias("n_review"),
        "fp", "fn",
        F.when(F.col("n") > 0,
               F.expr("(1000000 * fp) div n")).cast("bigint")
        .alias("mu_hat6"),
        F.when(F.col("p") > 0,
               F.expr("(1000000 * fn) div p")).cast("bigint")
        .alias("lam_hat6"))


# -------------------------------------------------- temporal decay
# Li, Dong, Maurino & Srivastava ("Linking temporal records", VLDB
# 2011): evidence from a field comparison weakens with the TIME GAP
# between the two records — people move, values drift — so both the
# agreement reward and the disagreement penalty decay toward zero as
# |t_l - t_r| grows, with separate rates (disagreement decays faster:
# a name mismatch across years is weak evidence AGAINST a match).
# This is the exponential-decay instantiation over the FS weight.


def time_decayed_weight(agree, ts_l: str, ts_r: str,
                        m: float = 0.9, u: float = 0.3,
                        agree_half_life_days: float = 30.0,
                        dis_half_life_days: float = 10.0):
    """(dt_days, w_static, w_decayed) column triple for one field:

        w_static  = agree ? ln(m/u) : ln((1-m)/(1-u))
        w_decayed = w_static * exp(-ln(2)/half_life * dt_days)

    with the branch-specific half life. Timestamps convert via
    CAST(ts AS DOUBLE) — fractional epoch seconds, bit-equal to the
    oracle's epoch() (both are micros / 1e6 in IEEE doubles) — and
    every constant is built from the same literal arithmetic shapes
    the oracle spells out, so the quantized weights hash-match.
    Callers quantize: round(w * 1e6)::bigint. Parquet timestamps
    arrive as TIMESTAMP_NTZ, which Spark refuses to cast straight to
    DOUBLE — the ltz hop is exact because the session timezone is
    pinned to UTC (session.py), matching the oracle's naive epoch().
    """
    def ep(c):
        return F.col(c).cast("timestamp").cast("double")

    dt = F.abs(ep(ts_l) - ep(ts_r)) / F.lit(86400.0)
    mlit, ulit = F.lit(float(m)), F.lit(float(u))
    w_static = F.when(agree, F.log(mlit / ulit)) \
        .otherwise(F.log((F.lit(1.0) - mlit) / (F.lit(1.0) - ulit)))
    lam_a = F.log(F.lit(2.0)) / F.lit(float(agree_half_life_days))
    lam_d = F.log(F.lit(2.0)) / F.lit(float(dis_half_life_days))
    lam = F.when(agree, lam_a).otherwise(lam_d)
    return dt, w_static, w_static * F.exp(-lam * dt)
