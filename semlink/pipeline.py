"""End-to-end record-linkage pipeline + spark-submit entry point
(SURVEY §3.4).

    spark-submit --py-files semlink.zip -m semlink.pipeline \
        --transcripts <path|iceberg table> --anchors <...> \
        --page-links <...> --out <dir> [--labeled-pairs <...>] \
        [--fmt parquet|iceberg] [--ckpt <dir>]

One call runs every layer: link → score → cluster (→ eval). The layer
outputs (candidates, resolved mentions, edges, CC input, assignments)
are local cuts (``ops.cut``: eager ``localCheckpoint``, row count on an
``Observation``), so each later query plans a small ``LogicalRDD`` tree
and nothing stays in Spark's CacheManager. A local cut keeps no
lineage: a lost executor fails the op loudly instead of recomputing,
and the caller reruns it.
The only durable, resumable commits are the CC supersteps
(``edges_step_<i>``, cluster.py) under ``cc_checkpoint="table"`` or
``run_connected_components(resume=True)``.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cluster import cluster_assignments, pairwise_f1, run_connected_components
from .config import DEFAULT, SemlinkConfig
from .io import TableIO
from .linking import link_transcripts
from .ops import MetricsCollector, cut, spread
from .pairs import edges_from_scores, mention_pairs, score_pairs


def run_pipeline(
    transcripts: DataFrame,
    anchors: DataFrame,
    page_links: DataFrame,
    cfg: SemlinkConfig = DEFAULT,
    ckpt_dir: str | None = None,
    labeled_pairs: DataFrame | None = None,
    metrics: "MetricsCollector | None" = None,
) -> dict:
    """transcripts → {resolved, edges, assignments, f1?} DataFrames."""
    mc = metrics or MetricsCollector(transcripts.sparkSession)

    # The n-gram explode multiplies the input ~100×: parallelism must be
    # set BEFORE the explode, not inherited from the input file splits
    # (a few compact parquet files would otherwise serialize the whole
    # link stage onto 1-2 tasks — measured 1.2× instead of 4× scaling).
    # Keyed by the explode's window key rather than round-robin: the
    # posexplode preserves the hash partitioning, so the lead-window
    # inside explode_mentions reuses this exchange instead of
    # re-shuffling the full exploded TOKEN stream (round-6 plan
    # evidence: generate_mentions 2 Exchange -> 1; guide §2.4 — the
    # shuffle that disappears is ~token-count-sized, the one that
    # remains is the turn-count-sized input).
    transcripts = spread(transcripts, cfg.shuffle_partitions,
                         "conv_id", "turn_idx")

    # each layer's output is cut (module docstring); its row count
    # rides the cut's own action
    with mc.stage("link"):
        resolved, seen = cut(
            link_transcripts(transcripts, anchors, page_links, cfg),
            "resolved")
        mc.record("resolved_mentions", seen["rows"])

    with mc.stage("score"):
        pairs = mention_pairs(resolved, cfg)
        scored = score_pairs(pairs, cfg)
        edges, seen = cut(edges_from_scores(scored, cfg), "edges")
        mc.record("edges", seen["rows"])

    with mc.stage("cluster"):
        labels = run_connected_components(
            edges, cfg, ckpt_dir=ckpt_dir or cfg.checkpoint_dir)
        # a label is its component's min member, itself a mention that
        # labels itself: one such row per cluster
        assignments, seen = cut(
            cluster_assignments(resolved, labels), "assignments",
            F.count_if(F.col("cluster_id") == F.col("mention_id"))
            .alias("clusters"))
        mc.record("clusters", seen["clusters"])

    out = {"resolved": resolved, "edges": edges, "assignments": assignments,
           "metrics": mc}
    if labeled_pairs is not None:
        with mc.stage("eval"):
            out["f1"] = pairwise_f1(assignments, labeled_pairs)
    return out


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", required=True)
    ap.add_argument("--anchors", required=True)
    ap.add_argument("--page-links", required=True)
    ap.add_argument("--labeled-pairs")
    ap.add_argument("--out", required=True)
    ap.add_argument("--fmt", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument("--ckpt", default=None)
    args = ap.parse_args(argv)

    from .session import get_spark
    spark = get_spark("semlink-pipeline")
    rd = (lambda p: spark.read.format("iceberg").load(p)) \
        if args.fmt == "iceberg" else spark.read.parquet

    t0 = time.time()
    res = run_pipeline(
        rd(args.transcripts), rd(args.anchors), rd(args.page_links),
        ckpt_dir=args.ckpt,
        labeled_pairs=rd(args.labeled_pairs) if args.labeled_pairs else None)

    io = TableIO(fmt=args.fmt, root=args.out)
    io.write(res["resolved"], "resolved")
    io.write(res["edges"], "edges")
    io.write(res["assignments"], "clusters")
    res["metrics"].write(io)
    summary = {"wall_s": round(time.time() - t0, 2)}
    if "f1" in res:
        summary["f1"] = res["f1"]
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
