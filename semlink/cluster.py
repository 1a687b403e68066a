"""Transitive clustering: iterative connected components with
checkpointed, resumable supersteps (SURVEY C1-C7).

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
and Beyond", SoCC 2014). Converges in O(log² n) rounds on adversarial
graphs, each round two shuffles (groupBy node). Node ids are mention_id
strings; ordering is Spark's UTF8 binary ordering, identical to
Python's for ASCII ids, so cluster_id = min member id is deterministic.

Superstep protocol (north rule: "checkpointed per superstep ...
resume any superstep from checkpoint"): one loop on the caller's
string ids, cutting lineage after each (large-star + small-star) round
(without a cut the plan tree grows exponentially across iterations).
Each round is one ``ops.cut``: durable runs commit it as
`<ckpt>/edges_step_<i>` (src, dst) via TableIO (parquet `_SUCCESS` /
Iceberg snapshot = atomic commit) — the whole durable layout; local
runs take the cut's ``localCheckpoint`` instead.
`run_connected_components(resume=True)` continues from the highest
committed step; a killed run produces byte-identical clusters (tested).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .config import DEFAULT, SemlinkConfig
from .io import TableIO
from .ops import cut


def _sym(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to u's min neighbor
    (including u itself). [Kiveris14, Alg. 1]"""
    nbr = _sym(edges)
    m = nbr.groupBy("src").agg(F.min("dst").alias("mn"))
    m = m.select("src", F.least("mn", F.col("src")).alias("mn"))
    return (nbr.join(m, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct())


def small_star(edges: DataFrame) -> DataFrame:
    """Orient edges high→low, then connect all small neighbors (and u)
    to the min neighbor. [Kiveris14, Alg. 2]"""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"))
    m = oriented.groupBy("src").agg(F.min("dst").alias("mn"))
    nodes = oriented.select("src", F.col("src").alias("dst2")) \
        .withColumnRenamed("dst2", "dst")
    union = oriented.union(nodes)
    return (union.join(m, "src")
            .filter(F.col("dst") != F.col("mn"))
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
            .distinct())


def _local_union_find(edges: DataFrame) -> DataFrame:
    """Exact CC labels for a BOUNDED edge set: union-find with path
    compression on the driver, labels = min member id. Identical to
    the superstep result — min-member labeling is a property of the
    components, not the algorithm; Python's str ordering equals
    Spark's UTF8 binary ordering for the ASCII ids this engine mints
    (module docstring). Only reachable through the size-gated fast
    path in run_connected_components."""
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType
    spark = edges.sparkSession
    src_t = edges.schema["src"].dataType
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in edges.select("src", "dst").collect():
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # the smaller root wins every union, so a root is its component's min.
    # Labels go to the JVM as an Arrow table (a JVM-side scan); a Python
    # list would become a Python RDD that workers re-evaluate per action
    nodes = list(parent)
    schema = StructType([StructField("mention_id", src_t),
                         StructField("cluster_id", src_t)])
    return spark.createDataFrame(
        pa.table({"mention_id": nodes,
                  "cluster_id": [find(n) for n in nodes]}), schema)


def run_connected_components(
    edges: DataFrame,
    cfg: SemlinkConfig = DEFAULT,
    ckpt_dir: str | None = None,
    resume: bool = False,
    stop_after_step: int | None = None,
) -> DataFrame:
    """edges(src,dst) → labels(mention_id, cluster_id) for all nodes
    appearing in edges. C2-C6.

    ``stop_after_step`` exists for the kill/resume test: the job stops
    right after committing that superstep's checkpoint, exactly like a
    preempted cluster job would.
    """
    spark = edges.sparkSession
    ckpt = ckpt_dir or cfg.checkpoint_dir
    io = TableIO(fmt=cfg.table_format, root=ckpt)
    # durable table commits whenever the caller relies on the resume
    # protocol; otherwise the configured cut (default: localCheckpoint,
    # which skips the per-superstep parquet write+read round trip)
    durable = (resume or stop_after_step is not None
               or cfg.cc_checkpoint == "table")
    # resume lookup first: a run with committed steps never re-reads
    # the (possibly expensive) upstream edge lineage
    start, cur = 0, None
    if resume:
        while io.exists(spark, f"edges_step_{start}"):
            start += 1      # committed supersteps
        if start:
            cur = io.read(spark, f"edges_step_{start - 1}")
            if cur.dtypes != edges.select("src", "dst").dtypes:
                raise ValueError(
                    f"checkpoint {ckpt!r} holds {cur.dtypes}, not the input "
                    "edges' types: another layout wrote it; rerun without "
                    "resume")
    elif durable and io.fmt == "parquet":
        # a fresh run drops the steps an earlier run committed (a later
        # resume would read a stale higher step), and only those: the
        # rest of the directory is the caller's
        for old in glob.glob(os.path.join(glob.escape(ckpt),
                                          "edges_step_*.parquet")):
            shutil.rmtree(old, ignore_errors=True)

    if cur is None:
        # the input cut: superstep 0 consumes its edges twice (sym →
        # groupBy + join), and an expensive upstream lineage (LSH chain,
        # scored pair table) must not be evaluated twice (guide §5).
        # A null endpoint is no edge: the loop's joins would drop it,
        # so it is dropped here for every path alike
        cur, seen = cut(
            edges.select("src", "dst")
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull()),
            "cc_input")
        # Small-graph finishing step: min-member component labels are
        # algorithm-independent, so a graph whose materialized edge set
        # is broadcast-threshold-sized gets them from a bounded driver
        # union-find instead of ~15 jobs of superstep machinery.
        # Identity with the superstep loop is pinned by tests; the row
        # count rides the cut's own action (ops.cut), no count job.
        cap = cfg.cc_local_fastpath_edges
        if not durable and cap and seen["rows"] <= cap:
            return _local_union_find(cur)

    prev_fp = None
    for i in range(start, cfg.max_cc_iterations):
        ls = large_star(cur).persist()     # small_star consumes it twice
        # atomic commit / lineage cut; the convergence fingerprint rides
        # its own action: ONE action per superstep instead of cut + agg
        cur, seen = cut(
            small_star(ls), f"edges_step_{i}",
            F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0))
            .alias("h"),
            io=io if durable else None)
        ls.unpersist()
        fp = (seen["rows"], seen["h"])
        if fp == prev_fp:
            break
        prev_fp = fp
        if stop_after_step is not None and i >= stop_after_step:
            return None  # simulated kill (checkpoint is committed)

    # converged: every node's label is its min neighbor (or itself)
    labels = _sym(cur).groupBy("src").agg(F.min("dst").alias("mn"))
    return labels.select(F.col("src").alias("mention_id"),
                         F.least("mn", F.col("src")).alias("cluster_id"))


def cluster_assignments(all_mentions: DataFrame, labels: DataFrame) -> DataFrame:
    """C6: every mention gets a cluster; edge-less mentions are
    singletons labeled by their own id."""
    return (all_mentions.select("mention_id")
            .join(labels, "mention_id", "left")
            .select("mention_id",
                    F.coalesce("cluster_id", "mention_id").alias("cluster_id")))


def pairwise_f1(assignments: DataFrame, labeled_pairs: DataFrame) -> dict:
    """C7: precision/recall/F1 of same-cluster prediction over the
    labeled pair set (BASELINE gate: F1 ≥ 0.99)."""
    a_l = assignments.select(
        F.col("mention_id").alias("left_mention_id"),
        F.col("cluster_id").alias("cl_l"))
    a_r = assignments.select(
        F.col("mention_id").alias("right_mention_id"),
        F.col("cluster_id").alias("cl_r"))
    j = (labeled_pairs
         .join(a_l, "left_mention_id", "left")
         .join(a_r, "right_mention_id", "left")
         .withColumn("pred", F.coalesce(
             (F.col("cl_l") == F.col("cl_r"))
             & F.col("cl_l").isNotNull() & F.col("cl_r").isNotNull(),
             F.lit(False))))
    agg = j.agg(
        F.sum((F.col("pred") & F.col("label")).cast("long")).alias("tp"),
        F.sum((F.col("pred") & ~F.col("label")).cast("long")).alias("fp"),
        F.sum((~F.col("pred") & F.col("label")).cast("long")).alias("fn"),
        F.count("*").alias("n")).first()
    tp, fp, fn = agg.tp or 0, agg.fp or 0, agg.fn or 0
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "n": agg.n,
            "precision": p, "recall": r, "f1": f1}


def clustering_agreement(assign: DataFrame, pred_col: str = "cluster_id",
                         truth_col: str = "ent_id") -> DataFrame:
    """Pair-counting agreement between a predicted clustering and the
    truth classes: Hubert-Arabie Adjusted Rand Index plus pairwise
    precision / recall / F1 (Christen 2012 ch. 7), one output row.

    Every cross-row aggregation is an exact BIGINT sum over the
    contingency cells — co-membership pair counts C(c, 2) computed
    with integer division — so the sufficient statistics (p_pairs =
    pairs same cluster AND same class, a_pairs = pairs same cluster,
    b_pairs = pairs same class, tot_pairs = C(n, 2)) are
    bit-deterministic regardless of partitioning or visit order.
    Doubles appear only in the final fixed-shape scalar expressions
    over those four integers, so the rounded metrics are reproducible
    bit-for-bit by any engine evaluating the same IEEE expression
    (the DuckDB oracle does exactly that). The match-pair SET is never
    materialized: cells come from one groupBy, cluster / class sizes
    from two more aggregations over the (far smaller) cell table."""
    c2 = "(c * (c - 1)) div 2"
    cells = (assign.groupBy(F.col(pred_col).alias("_p"),
                            F.col(truth_col).alias("_t"))
             .agg(F.count(F.lit(1)).alias("c")))
    p_pairs = cells.agg(
        F.sum(F.expr(c2)).cast("bigint").alias("p_pairs"))
    a_pairs = (cells.groupBy("_p").agg(F.sum("c").alias("c"))
               .agg(F.sum(F.expr(c2)).cast("bigint").alias("a_pairs")))
    b_pairs = (cells.groupBy("_t").agg(F.sum("c").alias("c"))
               .agg(F.sum(F.expr(c2)).cast("bigint").alias("b_pairs")))
    n = assign.agg(F.count(F.lit(1)).cast("bigint").alias("n_items"))
    row = (n.crossJoin(p_pairs).crossJoin(a_pairs).crossJoin(b_pairs)
           .withColumn("tot_pairs", F.expr(
               "(n_items * (n_items - 1)) div 2").cast("bigint")))
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    row = row.withColumn(
        "_exp", d("a_pairs") * d("b_pairs")
        / F.greatest(F.col("tot_pairs"), F.lit(1)).cast("double"))
    r6 = lambda c: F.round(c * 1_000_000).cast("bigint")  # noqa: E731
    ari_den = (d("a_pairs") + d("b_pairs")) / F.lit(2.0) - F.col("_exp")
    ppd = d("p_pairs") / F.greatest(F.col("a_pairs"), F.lit(1)).cast("double")
    prd = d("p_pairs") / F.greatest(F.col("b_pairs"), F.lit(1)).cast("double")
    return row.select(
        "n_items", "p_pairs", "a_pairs", "b_pairs", "tot_pairs",
        r6(F.when(ari_den == 0.0, F.lit(1.0))
           .otherwise((d("p_pairs") - F.col("_exp")) / ari_den))
        .alias("ari6"),
        r6(ppd).alias("pp6"),
        r6(prd).alias("pr6"),
        r6(F.when(F.col("p_pairs") == 0, F.lit(0.0))
           .otherwise(F.lit(2.0) * ppd * prd / (ppd + prd)))
        .alias("pf16"))


def bcubed(assign: DataFrame, pred_col: str = "cluster_id",
           truth_col: str = "ent_id") -> DataFrame:
    """B-cubed precision / recall / F1 (Bagga & Baldwin 1998): the
    per-record average of |cell| / |cluster| (precision) and
    |cell| / |class| (recall), computed as one pass over the
    contingency cells — sum of c^2 / size weighted 1/N. The per-cell
    terms are doubles, so the cross-cell SUM inherits float addition
    order; use for evaluation and tests (exact on dyadic fixtures),
    not for hash-gated oracles — clustering_agreement carries the
    integer-exact pair-counting equivalents for that."""
    cells = (assign.groupBy(F.col(pred_col).alias("_p"),
                            F.col(truth_col).alias("_t"))
             .agg(F.count(F.lit(1)).alias("c")))
    a = cells.groupBy("_p").agg(F.sum("c").alias("a"))
    b = cells.groupBy("_t").agg(F.sum("c").alias("b"))
    j = cells.join(a, "_p").join(b, "_t")
    n = assign.agg(F.count(F.lit(1)).cast("bigint").alias("n_items"))
    sums = j.agg(
        F.sum(F.col("c").cast("double") * F.col("c").cast("double")
              / F.col("a").cast("double")).alias("_sp"),
        F.sum(F.col("c").cast("double") * F.col("c").cast("double")
              / F.col("b").cast("double")).alias("_sr"))
    row = n.crossJoin(sums)
    r6 = lambda c: F.round(c * 1_000_000).cast("bigint")  # noqa: E731
    nd = F.greatest(F.col("n_items"), F.lit(1)).cast("double")
    bp = F.col("_sp") / nd
    br = F.col("_sr") / nd
    return row.select(
        "n_items", r6(bp).alias("b3p6"), r6(br).alias("b3r6"),
        r6(F.when((F.col("_sp") == 0.0) & (F.col("_sr") == 0.0), F.lit(0.0))
           .otherwise(F.lit(2.0) * bp * br / (bp + br))).alias("b3f16"))


def cluster_review(assign: DataFrame, scored_pairs: DataFrame,
                   cluster_col: str = "cluster_id",
                   id_col: str = "rec_id",
                   score_col: str = "score",
                   min_score: int = 2) -> DataFrame:
    """Post-resolution cluster QUALITY REVIEW — the audit stage that
    flags clusters a human (or a repair pass) should look at before
    the merge is trusted (Christen 2012 ch. 6-7: transitive closure
    chains records whose pairwise evidence was never checked).

    Per cluster, from one pair-side join + two keyed aggregations:

    - ``n_members`` and the implied ``n_possible`` = C(n, 2);
    - ``n_scored``: within-cluster pairs that actually appear in the
      scored pair table — a SHORTFALL means the cluster was merged
      through transitivity across blocking gaps, never compared
      directly (the classic chaining artifact);
    - ``min_score`` / ``mean_score6``: the weakest and average direct
      evidence (integer min / BIGINT sum, one IEEE divide for the
      scaled mean — bit-deterministic under any partitioning);
    - ``needs_review``: multi-member AND (coverage shortfall OR a
      pair below ``min_score``).

    Scale shape: the pair table joins the assignment twice on the
    record id (broadcast or shuffle as AQE decides), then everything
    keys on the cluster id — no window, no driver materialization."""
    a_l = assign.select(F.col(id_col).alias("rec_l"),
                        F.col(cluster_col).alias("_cl"))
    a_r = assign.select(F.col(id_col).alias("rec_r"),
                        F.col(cluster_col).alias("_cr"))
    within = (scored_pairs
              .join(a_l, "rec_l").join(a_r, "rec_r")
              .filter(F.col("_cl") == F.col("_cr"))
              .groupBy(F.col("_cl").alias(cluster_col))
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_scored"),
                   F.min(score_col).cast("bigint").alias("min_score"),
                   F.sum(score_col).cast("bigint").alias("_sum")))
    sizes = assign.groupBy(cluster_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"))
    j = sizes.join(within, cluster_col, "left")
    n_possible = F.expr("(n_members * (n_members - 1)) div 2") \
        .cast("bigint")
    ns = F.coalesce(F.col("n_scored"), F.lit(0))
    return j.select(
        cluster_col, "n_members", n_possible.alias("n_possible"),
        ns.cast("bigint").alias("n_scored"),
        "min_score",
        F.round(F.col("_sum").cast("double") / ns * 1_000_000)
        .cast("bigint").alias("mean_score6"),
        ((F.col("n_members") > 1)
         & ((ns < n_possible)
            | (F.coalesce(F.col("min_score"), F.lit(min_score - 1))
               < min_score))).alias("needs_review"))


def golden_records(recs: DataFrame, cluster_col: str,
                   shortest_cols: tuple = (), mode_cols: tuple = (),
                   max_cols: tuple = (),
                   rec_id_col: str = "rec_id") -> DataFrame:
    """Survivorship / golden-record construction — the merge stage
    that turns each resolved cluster into ONE canonical record
    (Bleiholder & Naumann, "Data Fusion", ACM CS 2008). Field rules:

    - ``shortest_cols``: shortest-then-lexicographic value (typo /
      prefix corruption lengthens strings, so the clean variant wins);
    - ``mode_cols``: most frequent value, ties broken by value order;
    - ``max_cols``: numeric max (e.g. the most recent balance);
    - plus ``n_members``, the cluster size.

    Every rule is a groupBy aggregate or a per-cluster window rank-1
    with a TOTAL order (value, then rec_id), so the merged record is
    bit-deterministic under any partitioning. All joins and windows
    key on the cluster id — the same shuffle key throughout, no
    SinglePartition exchange, no driver materialization."""
    base = recs.groupBy(cluster_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        *[F.max(c).alias(c) for c in max_cols])
    out = base
    for c in shortest_cols:
        w = Window.partitionBy(cluster_col).orderBy(
            F.length(c), F.col(c), F.col(rec_id_col))
        pick = (recs.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1).select(cluster_col, c))
        out = out.join(pick, cluster_col)
    for c in mode_cols:
        cnt = recs.groupBy(cluster_col, c).agg(
            F.count(F.lit(1)).alias("_c"))
        w = Window.partitionBy(cluster_col).orderBy(
            F.col("_c").desc(), F.col(c))
        pick = (cnt.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1).select(cluster_col, c))
        out = out.join(pick, cluster_col)
    return out.select(cluster_col, *shortest_cols, *mode_cols,
                      *max_cols, "n_members")


_PAD = 12  # zero-pad width for numeric-id <-> CC string-label round-trip


def fmt_cc_id(c):
    """Non-negative bigint id -> fixed-width string: the CC min-label
    (lexicographic) equals the numeric min after padding. ONE home
    for the convention — iterative.py and merge_center share it."""
    return F.lpad(c.cast("string"), _PAD, "0")


def _center_scan(edges: DataFrame, left_col: str, right_col: str,
                 sim_col: str, max_rounds: int, merge: bool,
                 op_name: str):
    """Shared locally-dominant best-first scan for center /
    merge-center clustering over the caller's weighted edges, cut once
    as an (l, r, s) table. Returns (state, merges): ``state`` =
    (v, c, ctr) decided nodes (None if no edge ever processed),
    ``merges`` = (c1, c2) cluster-merge edges (merge mode only, else
    None).

    Mode difference, faithful to the sequential rules: CENTER skips
    every edge touching a member, and member status is permanent, so
    those edges prune EAGERLY; MERGE-CENTER gives (member|center,
    center) edges an effect — merge the two clusters — so only
    both-member edges are provably inert and every other edge must
    wait for its own dominance slot (its effect depends on the
    states AT THAT TIME: a (member, unassigned) edge processed
    before the unassigned side becomes a center is a skip, not a
    merge — eager pruning would get that wrong)."""
    state = None  # (v, c, ctr) — decided nodes only
    merges = None  # (c1, c2) cluster merges (merge mode)
    # each edge cut's row count is the convergence signal
    e, seen = cut(edges.select(F.col(left_col).alias("l"),
                               F.col(right_col).alias("r"),
                               F.col(sim_col).alias("s")), op_name)
    done = seen["rows"] == 0
    for _ in range(max_rounds):
        if done:
            break
        sym = (e.select(F.col("l").alias("node"), "l", "r", "s")
               .unionByName(e.select(F.col("r").alias("node"),
                                     "l", "r", "s")))
        rk1 = (sym.withColumn("_rk", F.row_number().over(
            Window.partitionBy("node")
            .orderBy(F.desc("s"), F.asc("l"), F.asc("r"))))
            .filter(F.col("_rk") == 1))
        dom = (rk1.groupBy("l", "r", "s")
               .agg(F.count(F.lit(1)).alias("_c"))
               .filter(F.col("_c") == 2).drop("_c"))
        dom, _ = cut(dom, f"{op_name}_dominant")
        if state is None:
            su = dom.select("l", "r",
                            F.lit(None).cast("bigint").alias("_cu"),
                            F.lit(None).cast("boolean").alias("_ku"),
                            F.lit(None).cast("bigint").alias("_cv"),
                            F.lit(None).cast("boolean").alias("_kv"))
        else:
            su = (dom
                  .join(state.select(F.col("v").alias("l"),
                                     F.col("c").alias("_cu"),
                                     F.col("ctr").alias("_ku")),
                        "l", "left")
                  .join(state.select(F.col("v").alias("r"),
                                     F.col("c").alias("_cv"),
                                     F.col("ctr").alias("_kv")),
                        "r", "left"))
        both_new = F.col("_cu").isNull() & F.col("_cv").isNull()
        u_center = F.col("_ku").eqNullSafe(F.lit(True)) \
            & F.col("_cv").isNull()
        v_center = F.col("_kv").eqNullSafe(F.lit(True)) \
            & F.col("_cu").isNull()
        new_rows = (
            su.filter(both_new)
            .select(F.col("l").alias("v"), F.col("l").alias("c"),
                    F.lit(True).alias("ctr"))
            .unionByName(su.filter(both_new).select(
                F.col("r").alias("v"), F.col("l").alias("c"),
                F.lit(False).alias("ctr")))
            .unionByName(su.filter(u_center).select(
                F.col("r").alias("v"), F.col("_cu").alias("c"),
                F.lit(False).alias("ctr")))
            .unionByName(su.filter(v_center).select(
                F.col("l").alias("v"), F.col("_cv").alias("c"),
                F.lit(False).alias("ctr"))))
        if merge:
            # both endpoints decided, at least one a center -> the
            # two clusters merge (covers member-center and
            # center-center; member-unassigned is a skip)
            mrows = (su.filter(F.col("_cu").isNotNull()
                               & F.col("_cv").isNotNull()
                               & (F.col("_ku") | F.col("_kv"))
                               & (F.col("_cu") != F.col("_cv")))
                     .select(F.col("_cu").alias("c1"),
                             F.col("_cv").alias("c2")))
            # lazy accumulation is safe: each round's mrows reads only
            # the checkpointed dom/state, so the union lineage stays
            # shallow without a per-round materialization job
            merges = (mrows if merges is None
                      else merges.unionByName(mrows))
        state, _ = cut(new_rows if state is None
                       else state.unionByName(new_rows), f"{op_name}_state")
        pruned = (e
                  # every dominant edge reached its sequential slot
                  .join(dom.select("l", "r"), ["l", "r"], "left_anti")
                  .join(state.select(F.col("v").alias("l"),
                                     F.col("c").alias("_cu"),
                                     F.col("ctr").alias("_ku")),
                        "l", "left")
                  .join(state.select(F.col("v").alias("r"),
                                     F.col("c").alias("_cv"),
                                     F.col("ctr").alias("_kv")),
                        "r", "left"))
        if merge:
            # only both-member edges are forever inert in merge mode
            pruned = pruned.filter(
                ~(F.col("_ku").eqNullSafe(F.lit(False))
                  & F.col("_kv").eqNullSafe(F.lit(False))))
        else:
            # center mode: member endpoint or both decided -> inert
            pruned = (pruned
                      .filter(~(F.col("_cu").isNotNull()
                                & F.col("_ku").eqNullSafe(F.lit(False))))
                      .filter(~(F.col("_cv").isNotNull()
                                & F.col("_kv").eqNullSafe(F.lit(False))))
                      .filter(~(F.col("_cu").isNotNull()
                                & F.col("_cv").isNotNull())))
        e, seen = cut(pruned.select("l", "r", "s"), op_name)
        # test AFTER processing so a graph converging in exactly
        # max_rounds rounds succeeds (matches the unrolled oracle)
        done = seen["rows"] == 0
    if not done:
        raise RuntimeError(
            f"{op_name} did not converge in {max_rounds} rounds")
    return state, merges


def center_clusters(nodes: DataFrame, edges: DataFrame,
                    id_col: str = "doc_id",
                    left_col: str = "id_l", right_col: str = "id_r",
                    sim_col: str = "sim",
                    max_rounds: int = 64) -> DataFrame:
    """Center clustering over a weighted similarity graph — the
    chaining-resistant alternative to connected components
    (Hassanzadeh & Miller, "Creating probabilistic databases from
    duplicated data", VLDB Journal 2009: scan edges best-first; on an
    edge with two unassigned endpoints the canonical-left node
    becomes a CENTER and the other its member; an unassigned node
    touching a center joins it; edges touching a member do nothing).
    Unlike CC, a member never recruits further records, so a chain
    a~b~c with a!~c splits instead of collapsing — exactly the
    transitive-chaining failure cluster_review can only FLAG.

    The sequential best-first scan is distributed EXACTLY by the
    locally-dominant-edge argument a third time (after the matcher
    and canopy): under the total edge order (sim DESC, id_l ASC,
    id_r ASC), an edge that is the top remaining edge for BOTH
    endpoints can be processed immediately — every higher-priority
    incident edge is already processed or provably-forever inert —
    and node states are MONOTONE (member stays member, center stays
    center), so edges with a member endpoint or two decided
    endpoints can be pruned eagerly without changing any later
    transition. Dominant edges of one round form a matching, so the
    batch state update is conflict-free.

    Scale per round (shared _center_scan core): one symmetrized
    projection, one per-node rank window, one count-2 groupBy for
    dominance, two state joins for the transition, and the eager
    prune — all keyed by node or edge; the round's edge cut counts
    the edges left, the convergence signal. Returns (id_col, cluster,
    is_center) for every node; untouched nodes become singleton
    centers. Raises past ``max_rounds`` so the unrolled oracle can
    never silently diverge."""
    state, _ = _center_scan(edges, left_col, right_col, sim_col,
                            max_rounds, merge=False,
                            op_name="center_clusters")
    base = nodes.select(F.col(id_col))
    if state is None:
        return base.select(
            F.col(id_col), F.col(id_col).alias("cluster"),
            F.lit(True).alias("is_center"))
    st = state.select(F.col("v").alias(id_col),
                      F.col("c").alias("cluster"),
                      F.col("ctr").alias("is_center"))
    return (base.join(st, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("cluster", F.col(id_col))
                    .alias("cluster"),
                    F.coalesce("is_center", F.lit(True))
                    .alias("is_center")))


def merge_center_clusters(nodes: DataFrame, edges: DataFrame,
                          id_col: str = "doc_id",
                          left_col: str = "id_l",
                          right_col: str = "id_r",
                          sim_col: str = "sim",
                          max_rounds: int = 64,
                          cfg=None, ckpt_dir: str | None = None
                          ) -> DataFrame:
    """Merge-center clustering (Hassanzadeh-Miller VLDB J. '09):
    CENTER's scan, except an edge between a decided record and a
    CENTER of another cluster merges the two clusters instead of
    being skipped — recall between CENTER's strictness and CC's
    chaining. Crucially the merge-vs-skip decision depends on the
    states AT THE EDGE'S SEQUENTIAL SLOT (a member~unassigned edge
    is a skip even if the unassigned side later becomes a center),
    which the shared dominance loop honors by pruning only provably
    inert both-member edges and letting every other edge reach its
    own slot.

    Final labels: the cluster-level merge graph (bounded by the
    number of centers, not records) runs through the SAME
    checkpointed large/small-star run_connected_components as the
    pipeline, and members relabel through one join. Returns
    (id_col, cluster, is_center) — cluster = min merged center id;
    a merged cluster legitimately contains several scan-elected
    centers."""
    import tempfile

    from .config import SemlinkConfig
    state, merges = _center_scan(edges, left_col, right_col, sim_col,
                                 max_rounds, merge=True,
                                 op_name="merge_center_clusters")
    base = nodes.select(F.col(id_col))
    if state is None:
        return base.select(
            F.col(id_col), F.col(id_col).alias("cluster"),
            F.lit(True).alias("is_center"))
    st = state.select(F.col("v").alias(id_col),
                      F.col("c").alias("cluster"),
                      F.col("ctr").alias("is_center"))
    # an empty merge graph gets empty labels: every cluster stays
    labels = run_connected_components(
        merges.select(fmt_cc_id(F.col("c1")).alias("src"),
                      fmt_cc_id(F.col("c2")).alias("dst")),
        cfg or SemlinkConfig(),
        ckpt_dir=ckpt_dir or tempfile.mkdtemp(prefix="semlink_mc_cc_"))
    relabel = labels.select(
        F.col("mention_id").cast("bigint").alias("cluster"),
        F.col("cluster_id").cast("bigint").alias("_new"))
    st = (st.join(relabel, "cluster", "left")
          .select(F.col(id_col),
                  F.coalesce("_new", "cluster").alias("cluster"),
                  "is_center"))
    return (base.join(st, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("cluster", F.col(id_col))
                    .alias("cluster"),
                    F.coalesce("is_center", F.lit(True))
                    .alias("is_center")))
