"""PageRank popularity prior over the page-link graph.

Semanticizer-family linkers rank candidate senses by popularity
signals — commonness (anchor-conditional) and global page importance
(in-degree, PageRank; Milne-Witten '08 §2 discusses link-based
popularity priors). A9 ships degree; this module adds the iterative
prior: damped PageRank (Page et al. '99) with dangling-mass
redistribution.

INTEGER-EXACT formulation (the repo's cross-engine determinism
convention, same motivation as the boosted-stumps scaled-bigint fit):
ranks are scaled bigints (1e-9 units) and every step is integer
arithmetic —

    r_0(v)  = S div N                      with S = 10^9
    contrib = r(src) div outdeg(src)       per distinct edge
    r'(v)   = (15*S) div (N*100)
            + (85 * (in_sum(v) + dangling div N)) div 100

so partial-aggregation order cannot move a bit (sums of bigints are
exact) and the DuckDB oracle — the same three iterations unrolled as
CTEs with `//` — reproduces every rank verbatim. Floor-division mass
leakage is deterministic and identical in both engines; with d = 0.85
the rank mass stays within N*2 units of S per iteration.

Scale shape: per iteration ONE equi join of ranks onto edges (both
sides partitioned by src; a hot hub fans out to its out-edges —
bounded by max out-degree, and AQE skew-join splits hot sources), one
map-side-combined groupBy(dst) and a 1-row dangling aggregate; N is
the row count the node-table cut observed, a literal in every rank
expression. K iterations = K such rounds, each ended by an
``ops.cut`` of the rank table, as cluster.py's connected components
cut each superstep.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ops import cut

SCALE9 = 1_000_000_000


def pagerank(edges: DataFrame, iters: int = 3,
             src_col: str = "src_id", dst_col: str = "dst_id") -> DataFrame:
    """Integer-exact damped PageRank; returns (id, pr9) after `iters`
    synchronous iterations over the DISTINCT edge set."""
    # every iteration's superstep cut re-evaluates its inputs: cut the
    # distinct edge set, node set and out-degree table ONCE so K
    # iterations re-read three cut tables instead of re-running the
    # upstream distinct/groupBy K times each (round-6; guide §5 caching)
    e, _ = cut(edges.select(F.col(src_col).alias("src_id"),
                            F.col(dst_col).alias("dst_id")).distinct(),
               "pagerank_edges")
    nodes, seen = cut(e.select(F.col("src_id").alias("id"))
                      .union(e.select(F.col("dst_id").alias("id")))
                      .distinct(), "pagerank_nodes")
    n = seen["rows"]
    if n == 0:
        return nodes.select("id", F.lit(0).cast("long").alias("pr9"))
    outd, _ = cut(e.groupBy("src_id").agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")), "pagerank_outdeg")
    r = nodes.select("id", F.lit(SCALE9 // n).cast("long").alias("pr9"))
    for _ in range(iters):
        contrib = (r.join(e, r["id"] == e["src_id"])
                   .join(outd, "src_id")
                   .select(F.col("dst_id").alias("id"),
                           F.expr("pr9 div outdeg").alias("c")))
        insum = contrib.groupBy("id").agg(
            F.sum("c").cast("long").alias("in_sum"))
        dang = (r.join(outd, r["id"] == outd["src_id"], "left_anti")
                .agg(F.coalesce(F.sum("pr9"), F.lit(0)).cast("long")
                     .alias("dang")))
        r = (nodes.join(insum, "id", "left")
             .na.fill(0, ["in_sum"])
             .crossJoin(dang)
             .select("id",
                     F.expr(f"{15 * SCALE9 // (n * 100)}"
                            f" + (85 * (in_sum + dang div {n})) div 100")
                     .cast("long").alias("pr9")))
        # sever lineage per superstep (the CC family's checkpoint
        # discipline): the rank table is referenced TWICE next
        # iteration (contribution join + dangling aggregate), so an
        # unbroken plan re-computes r_{k-1} 2^k times and stacks every
        # 1-row crossJoin of every past iteration into one tree
        r, _ = cut(r, "pagerank_ranks")
    return r
