"""Iterative merge-rematch entity resolution.

The single-pass pipeline (block → score → cluster) misses matches a
MERGED entity would expose: once a cluster's records fuse into one
golden representative, that representative can enter blocks none of
its raw members reached, and its survivor field values can clear
match thresholds raw corrupted members could not. Running
match-then-merge to a fixed point is the classic R-Swoosh recipe
(Benjelloun, Garcia-Molina et al., "Swoosh: a generic approach to
entity resolution", VLDB Journal 2009; distributed D-Swoosh); staged
re-blocking over representatives is also how large deployments
escalate schemes cheaply — iteration k runs over ONE record per
current cluster, a set that only shrinks as merging proceeds.

Scale shape per iteration (everything reuses audited primitives):

- representatives: ``cluster.golden_records`` — groupBy aggregates +
  per-cluster rank-1 windows, all keyed on the cluster id;
- candidate pairs: ``linkeval.block_pairs`` — pure equi join on the
  iteration's blocking key over the (shrinking) representative set;
- merging: the surviving pairs form a CLUSTER-level graph fed to the
  checkpointed large/small-star ``run_connected_components``; the new
  labels compose with the running assignment by one key join.

The per-iteration assignment table is checkpointed behind the same
``_SUCCESS``-gated TableIO commit as the CC supersteps, so a killed
job resumes from the last committed iteration (``resume=True``) and
replays nothing before it. An iteration contributing zero merge
edges leaves the assignment as it was; the scheme list bounds the
iteration count. A fresh run deletes only the ``assign_iter_*`` and
``cc_iter_*`` entries of the checkpoint dir, which it owns.

The reference mount is empty (SURVEY.md §0); the capability contract
is BASELINE.json's blocking + pairwise-scoring + transitive-
clustering pipeline, of which this is the published iterative
closure.
"""
from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .cluster import (fmt_cc_id, golden_records,
                      run_connected_components)
from .config import SemlinkConfig
from .io import TableIO
from .linkeval import block_pairs
from .ops import cut



def incremental_link(new_recs: DataFrame, reps: DataFrame,
                     scheme: Callable[[DataFrame], Column],
                     match_cond: Callable[[DataFrame], Column],
                     score_col: Column,
                     carry_cols: Sequence[str],
                     rec_id_col: str = "rec_id",
                     cluster_col: str = "cluster_id") -> DataFrame:
    """Incremental entity resolution: attach a NEW batch of records to
    an EXISTING resolved population without re-running the full
    pipeline — the standard production shape once the initial 10^12
    backlog is clustered (Christen 2012 ch. 9; the add-record case of
    incremental Swoosh).

    Each new record blocks against the golden REPRESENTATIVES (one
    row per existing cluster — the small side, broadcast or shuffled
    as AQE decides) under ``scheme``; candidate pairs that clear
    ``match_cond`` are ranked by (``score_col`` DESC, cluster id ASC)
    per new record — a TOTAL order, so the assignment is
    bit-deterministic — and rank 1 wins. Unmatched records mint their
    own cluster (their record id), exactly the singleton convention
    of the batch pipeline.

    Intra-batch duplicates resolve through the existing population
    (both copies hit the same representative); two new records
    matching no representative but each other stay separate until the
    next batch re-resolution — the documented incremental trade-off.

    Returns (rec_id, cluster_id, matched, score) one row per new
    record. Scale: ONE equi join on the blocking key + one window
    keyed by the new record id; nothing driver-side."""
    keyed_new = new_recs.select(
        F.col(rec_id_col), scheme(new_recs).alias("_bk"),
        *[F.col(c) for c in carry_cols])
    keyed_reps = reps.select(
        F.col(cluster_col), scheme(reps).alias("_bk"),
        *[F.col(c) for c in carry_cols])
    lft = keyed_new.select(
        "_bk", F.col(rec_id_col),
        *[F.col(c).alias(f"{c}_l") for c in carry_cols])
    rgt = keyed_reps.select(
        "_bk", F.col(cluster_col),
        *[F.col(c).alias(f"{c}_r") for c in carry_cols])
    joined = lft.join(rgt, "_bk")
    matched = (joined.filter(match_cond(joined))
               .withColumn("_sc", score_col)
               .withColumn("_rk", F.row_number().over(
                   Window.partitionBy(rec_id_col)
                   .orderBy(F.desc("_sc"), F.asc(cluster_col))))
               .filter(F.col("_rk") == 1)
               .select(F.col(rec_id_col),
                       F.col(cluster_col).alias("_assigned"),
                       F.col("_sc").alias("score")))
    return (new_recs.select(rec_id_col)
            .join(matched, rec_id_col, "left")
            .select(F.col(rec_id_col),
                    F.coalesce("_assigned", F.col(rec_id_col))
                    .alias(cluster_col),
                    F.col("_assigned").isNotNull().alias("matched"),
                    "score"))


def greedy_one_to_one(pairs: DataFrame,
                      left_col: str = "rec_l", right_col: str = "rec_r",
                      score_col: str = "score",
                      max_rounds: int = 64,
                      group_cols: Sequence[str] = ()) -> DataFrame:
    """One-to-one linkage by EXACT distributed greedy matching.

    The batch pipeline's transitive clustering and the incremental
    rank-1 assignment both allow many-to-one links; classic two-file
    record linkage (Jaro 1989's assignment step after Fellegi-Sunter
    scoring) demands each left record claim at most one right record
    and vice versa. The scalable standard is greedy matching on the
    scored candidate pairs: process pairs best-first, accept a pair
    iff neither endpoint is taken — a 1/2-approximation of the
    optimal assignment and the usual production choice over LSAP.

    Sequential greedy is inherently ordered, but under a TOTAL pair
    order — (score DESC, left id ASC, right id ASC) — the
    locally-dominant-edge formulation (Preis STACS'99; Manne &
    Bisseling '07) computes the IDENTICAL matching with no driver
    loop over pairs: per round, accept every pair that is rank 1 for
    BOTH of its endpoints under that order (the classic proof: such a
    pair can have no higher-priority competitor at either endpoint,
    so sequential greedy must take it; induction on the shrinking
    edge set gives equality), then drop all pairs touching an
    accepted endpoint. Every round accepts at least the globally
    best remaining pair, so the loop terminates; round count is the
    length of the longest strictly-descending dependency chain
    (adversarial worst case O(#pairs), measured single digits on
    realistic score distributions — same risk shape as the CC
    superstep bound, pytest-pinned).

    Scale: each round is two windows (keyed by the two endpoint
    columns) and two anti equi joins on a set that only shrinks.
    Edge lineage is truncated per round with ``ops.cut`` (within-job
    materialization; restart-safety belongs to the caller's
    checkpoint of the RESULT, as with run_connected_components), and
    the edge cut's own row count is the convergence signal.

    Returns one row per accepted pair: (*group_cols, left, right,
    score, rnd) with rnd = the 1-based round the pair became locally
    dominant.

    ``group_cols`` runs MANY independent matchings at once — one per
    distinct group-key combination (the group-linkage shape: every
    (group_l, group_r) candidate pair carries its own bipartite
    member matching). Windows partition by (group, endpoint) and
    removals join on (group, endpoint), so groups never interact;
    the round count is the max over groups and convergence stays one
    global row count.
    """
    g = [F.col(c) for c in group_cols]
    lc, rc, sc = F.col(left_col), F.col(right_col), F.col(score_col)
    edges = pairs.select(*g, lc, rc, sc)
    gl = [*group_cols, left_col]
    gr = [*group_cols, right_col]
    accepted = None
    for rnd in range(1, max_rounds + 1):
        dom = (edges.withColumn("_rl", F.row_number().over(
                   Window.partitionBy(*gl)
                   .orderBy(F.desc(score_col), F.asc(right_col))))
               .withColumn("_rr", F.row_number().over(
                   Window.partitionBy(*gr)
                   .orderBy(F.desc(score_col), F.asc(left_col))))
               .filter((F.col("_rl") == 1) & (F.col("_rr") == 1))
               .select(*g, lc, rc, sc, F.lit(rnd).alias("rnd")))
        dom, _ = cut(dom, "greedy_dominant")  # read 3× (union + antis)
        accepted = dom if accepted is None else accepted.unionByName(dom)
        edges, seen = cut(edges
                          .join(dom.select(*gl), gl, "left_anti")
                          .join(dom.select(*gr), gr, "left_anti"),
                          "greedy_edges")
        if seen["rows"] == 0:
            return accepted
    raise RuntimeError(
        f"greedy_one_to_one did not converge in {max_rounds} rounds")


# the numeric-id <-> CC-label pad convention lives in cluster.fmt_cc_id
_fmt = fmt_cc_id


def merge_rematch(recs: DataFrame,
                  schemes: Sequence[Callable[[DataFrame], Column]],
                  match_cond: Callable[[DataFrame], Column],
                  carry_cols: Sequence[str],
                  shortest_cols: tuple = (), mode_cols: tuple = (),
                  max_cols: tuple = (),
                  rec_id_col: str = "rec_id",
                  cfg: SemlinkConfig | None = None,
                  ckpt_dir: str | None = None,
                  resume: bool = False) -> DataFrame:
    """Run match-then-merge over ``schemes`` (one blocking scheme per
    iteration) and return the final (rec_id, cluster_id) assignment,
    cluster_id = min member rec_id.

    ``schemes[i]`` maps the representative table to that iteration's
    blocking-key column; ``match_cond`` sees the ``block_pairs``
    output (carry columns suffixed _l/_r) and returns the merge
    predicate. The survivor rules (shortest/mode/max) define the
    representative exactly as :func:`cluster.golden_records` — on a
    singleton cluster every rule is the identity, so iteration 0 over
    fresh ids compares the raw records themselves.
    """
    cfg = cfg or SemlinkConfig()
    ckpt = ckpt_dir or cfg.checkpoint_dir
    io = TableIO(fmt=cfg.table_format, root=ckpt)
    spark = recs.sparkSession
    if not resume and io.fmt == "parquet":
        # a fresh run drops the iterations an earlier run committed,
        # and only those: the rest of the directory is the caller's
        for pat in ("assign_iter_*", "cc_iter_*"):
            for old in glob.glob(os.path.join(glob.escape(ckpt), pat)):
                shutil.rmtree(old, ignore_errors=True)

    assign = recs.select(F.col(rec_id_col),
                         F.col(rec_id_col).alias("cluster_id"))
    for i, scheme in enumerate(schemes):
        if resume and io.exists(spark, f"assign_iter_{i}"):
            assign = io.read(spark, f"assign_iter_{i}")
            continue
        reps = golden_records(
            recs.join(assign, rec_id_col), "cluster_id",
            shortest_cols=shortest_cols, mode_cols=mode_cols,
            max_cols=max_cols, rec_id_col=rec_id_col)
        keyed = reps.withColumn("_mbk", scheme(reps))
        pairs = block_pairs(keyed, "_mbk", rec_id_col="cluster_id",
                            carry_cols=tuple(carry_cols))
        edges = (pairs.filter(match_cond(pairs))
                 .select(_fmt(F.col("rec_l")).alias("src"),
                         _fmt(F.col("rec_r")).alias("dst")))
        # an empty merge graph gets empty labels: every assignment stays
        labels = run_connected_components(
            edges, cfg, ckpt_dir=os.path.join(ckpt, f"cc_iter_{i}"))
        relabel = labels.select(
            F.col("mention_id").cast("bigint").alias("cluster_id"),
            F.col("cluster_id").cast("bigint").alias("_new"))
        assign = (assign.join(relabel, "cluster_id", "left")
                  .select(F.col(rec_id_col),
                          F.coalesce("_new", "cluster_id")
                          .alias("cluster_id")))
        # _SUCCESS-gated commit: the resume point for this iteration
        assign, _ = cut(assign, f"assign_iter_{i}", io=io)
    return assign


def group_linkage(members: DataFrame, sizes: DataFrame,
                  group_left: str = "grp_l", group_right: str = "grp_r",
                  left_col: str = "rec_l", right_col: str = "rec_r",
                  score_col: str = "score",
                  id_col: str = "grp_id", size_col: str = "n",
                  max_rounds: int = 64) -> DataFrame:
    """Group linkage (On, Koudas, Lee, Srivastava et al., ICDE 2007):
    decide whether two GROUPS of records (accounts, households,
    conversations) refer to the same entity by matching their members
    one-to-one and normalizing the matched mass by group size.

    ``members``: candidate member pairs carrying the two group keys,
    the two member record ids, and an integer score; ``sizes``:
    (grp_id, n) member counts per group. Every (group_l, group_r)
    combination gets its OWN exact greedy one-to-one matching (the
    ``group_cols`` mode of :func:`greedy_one_to_one` — windows and
    removals keyed per group pair, so matchings never interact), then

        dice6    = floor(2e6 * matched / (n_l + n_r))
        score_sum = sum of matched pair scores          (exact BIGINT)

    per group pair. Groups with candidate members but zero surviving
    matches still report a row (matched = 0). Scale: the matching
    rounds are the greedy loop's windows/anti-joins keyed by (group
    pair, endpoint); the rollup is ONE groupBy(group pair) plus two
    joins against the (small) size table."""
    matched = greedy_one_to_one(
        members, left_col=left_col, right_col=right_col,
        score_col=score_col, max_rounds=max_rounds,
        group_cols=(group_left, group_right))
    agg = (members.select(group_left, group_right).distinct()
           .join(matched.groupBy(group_left, group_right).agg(
               F.count(F.lit(1)).cast("bigint").alias("matched"),
               F.sum(score_col).cast("bigint").alias("score_sum")),
               [group_left, group_right], "left"))
    sl = sizes.select(F.col(id_col).alias(group_left),
                      F.col(size_col).cast("bigint").alias("n_l"))
    sr = sizes.select(F.col(id_col).alias(group_right),
                      F.col(size_col).cast("bigint").alias("n_r"))
    out = (agg.join(sl, group_left).join(sr, group_right)
           .select(group_left, group_right,
                   F.coalesce("matched", F.lit(0)).cast("bigint")
                   .alias("matched"),
                   F.coalesce("score_sum", F.lit(0)).cast("bigint")
                   .alias("score_sum"),
                   "n_l", "n_r"))
    return out.withColumn(
        "dice6",
        F.expr("(2 * CAST(1000000 AS BIGINT) * matched) div (n_l + n_r)"))
