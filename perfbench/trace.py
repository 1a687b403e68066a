"""Traced run: per-layer spans with task-side numbers from the event log.

A traced run is the same for both workloads, so every per-layer metric
is measured in every traced run. It starts one session with the Spark
event log on and runs, in order:

1. the traced ``er_pipeline`` op, first in the fresh JVM like the
   one-shot untraced op, so its wall time compares with that op's
   ``op_s_p50`` (``er_pipeline.op.wall_s``);
2. an untraced ``contract_mix`` pass, the traced pass, and another
   untraced pass; the tracing overhead is the traced pass's wall minus
   the mean of the two untraced ones (``trace.overhead_s``). The JVM is
   still warming up over these passes (each is ~10% faster than the one
   before), so the untraced passes bracket the traced one.

The traced pipeline op is the untraced op itself (``run_pipeline`` and
the ``TableIO`` write), run while :func:`layer_spans` wraps the layer
functions it calls: each call runs in its own span and its result is
materialized there (eager ``localCheckpoint`` + count), so each layer's
work lands in its span and the spans follow whatever the engine
composes. The checkpoint also cuts the lineage: a later step is planned
against its own layer only, not against every earlier one, as it would
be after ``persist()``. After it, the
CC superstep loop (local cuts, union-find fast path off) runs on the
same edges, and a durable (``cc_checkpoint="table"``) CC run is killed
after superstep 0 and resumed; the labels of both must hash-equal the
pipeline's. The traced contract op wraps each registry query in a span.

Each span sets a job group ``<op>:<span>``; the event-log parser maps
groups to task metrics, so a span's task numbers are its self part
(jobs of nested spans carry the nested group). Spans are kept in
memory and written with the per-layer table when the run ends.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import importlib
import json
import os
import statistics
import time

from . import eventlog
from .harness import Session, fresh_dir
from .workloads import QUERIES, WORKLOADS

SPANS = (
    "linking.generate_mentions", "linking.candidate_join",
    "linking.largest_matching_filter", "linking.relatedness_table",
    "linking.resolve_senses",
    "pairs.mention_pairs", "pairs.score_pairs", "pairs.edges_from_scores",
    "cluster.run_connected_components", "cluster.cluster_assignments",
    "cluster.superstep_loop", "io.TableIO.write",
)
SPAN_STATS = {"wall_s": "s", "task_s": "s", "shuffle_mb": "MB",
              "spill_mb": "MB", "task_ms_max": "ms"}
PYTHON_SENT = "data sent to Python workers"


class Tracer:
    def __init__(self, sc, t0: float):
        self.sc, self.t0 = sc, t0
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "op": op,
               "parent": parent["name"] if parent else None,
               "group": f"{op}:{name}",
               "start": time.perf_counter() - self.t0}
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def wall(self, name: str) -> float:
        """Summed wall time of the spans called ``name`` (0 if none)."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def group(self, name: str) -> str | None:
        """The job group of the spans called ``name``; a name is used
        in one op only, so they all share it."""
        return next((s["group"] for s in self.spans if s["name"] == name),
                    None)


def _label_hash(df):
    from pyspark.sql import functions as F
    r = df.agg(F.count("*").alias("n"), F.expr(
        "bit_xor(xxhash64(mention_id, cluster_id))").alias("h")).first()
    return r.n, r.h


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# (module, attribute, span): the layer calls the traced er op wraps.
# run_pipeline and link_transcripts look these up as module globals, so
# the traced op runs whatever composition the engine has; a variant the
# engine takes instead (the salted join) lands in the same span.
LAYER_CALLS = (
    ("semlink.linking", "generate_mentions", "linking.generate_mentions"),
    ("semlink.linking", "candidate_join", "linking.candidate_join"),
    ("semlink.linking", "salted_candidate_join", "linking.candidate_join"),
    ("semlink.linking", "largest_matching_filter",
     "linking.largest_matching_filter"),
    ("semlink.linking", "relatedness_table", "linking.relatedness_table"),
    ("semlink.linking", "resolve_senses", "linking.resolve_senses"),
    ("semlink.pipeline", "mention_pairs", "pairs.mention_pairs"),
    ("semlink.pipeline", "score_pairs", "pairs.score_pairs"),
    ("semlink.pipeline", "edges_from_scores", "pairs.edges_from_scores"),
    ("semlink.pipeline", "run_connected_components",
     "cluster.run_connected_components"),
    ("semlink.pipeline", "cluster_assignments", "cluster.cluster_assignments"),
)


@contextlib.contextmanager
def layer_spans(tr: Tracer, op: str, counts: dict):
    """While open, each LAYER_CALLS function runs in its span and its
    result is materialized there (eager localCheckpoint + count, rows added to
    ``counts[span]``), and every ``TableIO.write`` runs in span
    ``io.TableIO.write``."""
    from semlink.io import TableIO

    def layer(orig, name):
        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tr.span(name, op):
                df = orig(*args, **kwargs).localCheckpoint(eager=True)
                counts[name] = counts.get(name, 0) + df.count()
            return df
        return traced

    def write(orig):
        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tr.span("io.TableIO.write", op):
                return orig(*args, **kwargs)
        return traced

    saved = [(TableIO, "write", TableIO.write)]
    try:
        TableIO.write = write(TableIO.write)
        for module, attr, name in LAYER_CALLS:
            m = importlib.import_module(module)
            saved.append((m, attr, getattr(m, attr)))
            setattr(m, attr, layer(getattr(m, attr), name))
        yield
    finally:
        for obj, attr, orig in saved:
            setattr(obj, attr, orig)


def traced_pipeline(tr: Tracer, wl, op: str, counts: dict) -> tuple:
    """The er_pipeline op with its layer calls in spans, then the CC
    superstep loop on the same edges, then a durable kill/resume."""
    from semlink.cluster import cluster_assignments, run_connected_components
    from semlink.io import TableIO

    spark = wl.sess.spark
    spark.catalog.clearCache()
    with tr.span("er_pipeline.op", op), layer_spans(tr, op, counts):
        res = wl.op()
    ok, note = wl.check(res)
    counts["turns"] = wl.input_sizes()["turns"]
    counts["edges"] = wl.graph["edges"]
    notes = [note]
    edges, resolved, want = res["edges"], res["resolved"], res["assignments"]

    # At this input size CC takes its driver union-find fast path; the
    # superstep loop (local cuts) that a CC change rewrites is timed
    # here on the same edges, with the fast path off.
    loop_cfg = dataclasses.replace(wl.cfg, cc_local_fastpath_edges=0)
    with tr.span("cluster.superstep_loop", op):
        loop = run_connected_components(edges, loop_cfg, ckpt_dir=fresh_dir(
            os.path.join(wl.work, f"{op}-loop"))).localCheckpoint(eager=True)
    same_loop = _label_hash(cluster_assignments(resolved, loop)) \
        == _label_hash(want)

    durable = dataclasses.replace(wl.cfg, cc_checkpoint="table")
    dckpt = fresh_dir(os.path.join(wl.work, f"{op}-durable"))
    out = fresh_dir(os.path.join(wl.work, f"{op}-resumed"))
    with tr.span("cluster.kill", op):
        run_connected_components(edges, durable, ckpt_dir=dckpt,
                                 stop_after_step=0)
    with tr.span("cluster.resume", op):
        resumed = cluster_assignments(resolved, run_connected_components(
            edges, durable, ckpt_dir=dckpt, resume=True))
        TableIO(root=out).write(resumed, "clusters_resumed")
    counts["supersteps"] = sum(
        os.path.exists(os.path.join(dckpt, d, "_SUCCESS"))
        for d in os.listdir(dckpt) if d.startswith("edges_step_")
        and d != "edges_step_init.parquet")
    counts["ckpt_bytes"] = _dir_bytes(dckpt)
    same = _label_hash(spark.read.parquet(
        os.path.join(out, "clusters_resumed.parquet"))) == _label_hash(want)
    notes += ([] if same_loop else ["superstep-loop labels differ"]) + (
        [] if same else ["resumed labels differ"])
    spark.catalog.clearCache()
    return ok and same_loop and same, "; ".join(notes)


def traced_contract(tr: Tracer, wl, op: str, counts: dict) -> tuple:
    """One contract pass, one span per registry query."""
    wl.sess.spark.catalog.clearCache()
    bad = []
    with tr.span("contract_mix.op", op):
        for name in wl.order:
            with tr.span(f"queries.{name}", op):
                n = wl.run_query(name, wl.dirs[wl.seed])
            want = wl.oracle[wl.seed][name][0]
            if n != want:
                bad.append(f"{name}: {n} rows, oracle {want}")
    return not bad, "; ".join(bad)


def run_traced(args, work: str, out_dir: str) -> tuple[dict, dict]:
    t_run = time.perf_counter()
    sess = Session(work, event_log=True)
    er = WORKLOADS["er_pipeline"](sess, os.path.join(work, "er"), args.seed)
    cm = WORKLOADS["contract_mix"](sess, os.path.join(work, "cm"), args.seed)
    for wl in (er, cm):
        os.makedirs(wl.work)
        wl.prepare()
    ops, counts = [], {}
    try:
        t0 = time.perf_counter() - t_run
        sess.start()
        tr = Tracer(sess.spark.sparkContext, t_run)
        tr.spans.append({"name": "session.get_spark", "op": "setup",
                         "parent": None, "group": None, "start": t0,
                         "end": t0 + sess.start_s})
        er.build(1)
        cm.build(1)
        ops.append(("er_pipeline", *traced_pipeline(tr, er, "er", counts)))
        untraced = [sess.run_op("untraced", cm.op, cm.check)]
        ops.append(("contract_mix", *traced_contract(tr, cm, "cm", counts)))
        untraced.append(sess.run_op("untraced_after", cm.op, cm.check))
        ops += [(n, r.ok, r.note)
                for n, r in zip(("untraced", "untraced_after"), untraced)]
        rss = sess.peak_rss_mb()
    finally:
        sess.stop()

    groups = eventlog.parse(eventlog.find_log(os.path.join(work, "eventlog")))
    untraced_s = statistics.mean(r.wall_s for r in untraced)
    layer = _layer_metrics(tr, groups, counts, untraced_s)
    os.makedirs(out_dir, exist_ok=True)
    for s in tr.spans:
        if s["group"] is not None and s["group"] in groups:
            g = groups[s["group"]]
            s["stats"] = dict(vars(g), sql=dict(g.sql))
    with open(os.path.join(out_dir, "spans.json"), "w") as fh:
        json.dump(tr.spans, fh, indent=1)
    with open(os.path.join(out_dir, "layers.tsv"), "w") as fh:
        fh.write("metric\tvalue\tunit\n")
        for k, v in layer.items():
            fh.write(f"{k}\t{v['value']}\t{v['unit']}\n")

    failed = sum(not ok for _, ok, _ in ops)
    report = {"workload": args.workload, "seed": args.seed, "trace": 1,
              "out_dir": out_dir, "untraced_pass_s": untraced_s,
              "er_graph": er.graph,
              "peak_rss_mb": rss,
              "ops": [{"op": n, "ok": ok, "note": note}
                      for n, ok, note in ops]}
    result = {"correct": failed == 0, "attempted": len(ops),
              "failed": failed, "metrics": layer}
    return report, result


def _layer_metrics(tr: Tracer, groups: dict, counts: dict,
                   untraced_s: float) -> dict:
    def m(value, unit):
        return {"value": value, "unit": unit}

    empty = eventlog.GroupStats()
    out = {}
    for name in SPANS:
        g = groups.get(tr.group(name), empty)
        vals = {"wall_s": tr.wall(name), "task_s": g.task_ms / 1000,
                "shuffle_mb": g.shuffle_write_bytes / 1e6,
                "spill_mb": g.spill_bytes / 1e6,
                "task_ms_max": g.task_ms_max}
        for stat, unit in SPAN_STATS.items():
            out[f"{name}.{stat}"] = m(vals[stat], unit)
    out["session.get_spark.wall_s"] = m(tr.wall("session.get_spark"), "s")
    out["ngrams.mentions_per_turn"] = m(
        counts["linking.generate_mentions"] / counts["turns"], "1")
    out["linking.keep_ratio"] = m(
        counts["linking.resolve_senses"] / counts["linking.candidate_join"],
        "1")
    out["pairs.edge_yield"] = m(
        counts["pairs.edges_from_scores"] / counts["pairs.score_pairs"], "1")
    score = groups.get(tr.group("pairs.score_pairs"), empty)
    out["pairs.score_pairs.python_mb_sent"] = m(
        score.sql.get(PYTHON_SENT, 0) / 1e6, "MB")
    out["cluster.edges"] = m(counts["edges"], "count")
    out["cluster.supersteps"] = m(counts["supersteps"], "count")
    out["cluster.resume.wall_s"] = m(tr.wall("cluster.resume"), "s")
    out["io.ckpt_mb_written"] = m(counts["ckpt_bytes"] / 1e6, "MB")
    for q in QUERIES:
        out[f"queries.{q}.wall_s"] = m(tr.wall(f"queries.{q}"), "s")
        out[f"queries.{q}.tasks"] = m(
            groups.get(tr.group(f"queries.{q}"), empty).tasks, "count")
    out["er_pipeline.op.wall_s"] = m(tr.wall("er_pipeline.op"), "s")
    out["trace.overhead_s"] = m(
        tr.wall("contract_mix.op") - untraced_s, "s")
    return out
