"""Canopy clustering: cheap-distance overlapping pre-blocks.

McCallum, Nigam & Ungar ("Efficient clustering of high-dimensional
data sets with application to reference matching", KDD 2000): before
any expensive pairwise comparison, partition the records into
OVERLAPPING canopies using a cheap similarity and two thresholds —
pick a center from the remaining pool, everything within the loose
threshold T1 joins its canopy, everything within the tight threshold
T2 leaves the pool, repeat until the pool is empty. Expensive
comparisons then run only within canopies. Overlap is the point: a
record near two centers belongs to both, so no true match is lost to
an unlucky partition boundary (the failure mode of disjoint
blocking).

The sequential center scan is made distributed-EXACT the same way as
``iterative.greedy_one_to_one``: fix the scan order to ascending
record id, and observe that id-ordered greedy center election is the
greedy maximal independent set of the T2 graph — computable with no
driver loop over records by iterated LOCAL MINIMA (Luby-style
rounds): per round, every pool record whose id is smaller than all
its remaining T2-neighbors' ids becomes a center (isolated records
too), then centers and their T2-neighbors leave the pool. The
induction that equates this with the sequential scan is the same
locally-dominant argument, so the output is bit-identical to the
id-ordered McCallum procedure.

Scale shape: the T2 adjacency is derived once from the canonical
pair-similarity table (two selects + union — no new shuffle of the
data); each round is two pool semi joins, one groupBy-min keyed by
record id, and one anti join on a pool that only shrinks (an
``ops.cut`` per round — within-job materialization, as in the
matching loop); the pool cut's own row count is the convergence
signal, so no probe job runs. Membership at the end is ONE equi join
of the elected centers against the loose-threshold adjacency. Round
count is the greedy-MIS dependency depth — O(log n) on realistic
graphs, adversarial chains linear (same risk class as the CC superstep
bound; the round cap raises rather than returning a partial result).

The reference mount is empty (SURVEY.md §0); this is the published
blocking front-end [P McCallum-Nigam-Ungar KDD '00] for the
BASELINE.json candidate-generation stage.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ops import cut


def canopy_members(ids: DataFrame, sims: DataFrame,
                   t1: int, t2: int,
                   id_col: str = "doc_id",
                   left_col: str = "id_l", right_col: str = "id_r",
                   sim_col: str = "sim",
                   max_rounds: int = 64) -> DataFrame:
    """Canopy assignment (center_id, member_id) from a canonical
    (id_l < id_r) integer pair-similarity table. ``t2 >= t1``:
    similarity >= t2 removes a record from the center pool,
    similarity >= t1 joins it to the canopy; every center is a
    member of its own canopy, and every record lands in at least one
    canopy (pool exit implies a T2 edge, and T2 implies T1).
    Raises past ``max_rounds`` so a fixed-unroll oracle can never
    silently diverge."""
    if t2 < t1:
        raise ValueError("t2 (tight, pool removal) must be >= t1 (loose)")
    e2 = sims.filter(F.col(sim_col) >= t2)
    # checkpoint the T2 adjacency once: every round fires several
    # actions against it, and without the cut each one would re-run
    # the caller's full sims lineage (e.g. the shingle self-join)
    adj, _ = cut(e2.select(F.col(left_col).alias("src"),
                           F.col(right_col).alias("dst"))
                 .unionByName(e2.select(F.col(right_col).alias("src"),
                                        F.col(left_col).alias("dst"))),
                 "canopy_t2_adjacency")
    pool, _ = cut(ids.select(F.col(id_col).alias("v")), "canopy_pool")
    centers = None
    done = False
    for _ in range(max_rounds):
        padj = (adj.join(pool.withColumnRenamed("v", "src"), "src")
                .join(pool.withColumnRenamed("v", "dst"), "dst"))
        minn = padj.groupBy("src").agg(F.min("dst").alias("_mn"))
        elected, _ = cut(pool.join(minn.withColumnRenamed("src", "v"),
                                   "v", "left")
                         .filter(F.col("_mn").isNull()
                                 | (F.col("v") < F.col("_mn")))
                         .select("v"), "canopy_centers")
        centers = elected if centers is None \
            else centers.unionByName(elected)
        covered = (elected.unionByName(
            padj.join(elected.withColumnRenamed("v", "src"), "src")
            .select(F.col("dst").alias("v"))).distinct())
        pool, seen = cut(pool.join(covered, "v", "left_anti"),
                         "canopy_pool")
        if seen["rows"] == 0:
            done = True
            break
    if not done:
        raise RuntimeError(
            f"canopy election did not converge in {max_rounds} rounds")
    e1 = sims.filter(F.col(sim_col) >= t1)
    a1 = (e1.select(F.col(left_col).alias("src"),
                    F.col(right_col).alias("dst"))
          .unionByName(e1.select(F.col(right_col).alias("src"),
                                 F.col(left_col).alias("dst"))))
    c = centers.select(F.col("v").alias("center_id"))
    mem = (c.join(a1.withColumnRenamed("src", "center_id"), "center_id")
           .select("center_id", F.col("dst").alias("member_id")))
    return mem.unionByName(
        c.select("center_id", F.col("center_id").alias("member_id")))
