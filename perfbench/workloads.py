"""The benchmark workloads. Each drives the engine only through its
public functions and ends every op on an action that computes every
output column (a parquet write or the noop sink), never a bare
``.count()``, which Catalyst prunes (ROADMAP direction 1).

A workload object owns its inputs: ``prepare()`` makes the Python-side
inputs and oracles (before the JVM starts), ``build(i)`` writes build
``i`` of the inputs and returns its wall time, ``first_op()`` runs the
first (cold) op in the JVM and ``op()`` one warm op; ``warm_ops`` is
the least number of warm ops a run measures. ``op`` functions return
the value that ``check_first(value)`` (first op) or ``check(value)``
(warm ops) checks after the timed region; they return ``(ok, note)``.
"""

from __future__ import annotations

import hashlib
import os
import random
import time

from . import inputs
from .harness import SHUFFLE_PARTITIONS, fresh_dir

F1_GATE = 0.99
WARMUP_SEED_OFFSET = 1_000_003      # the warm-up input never equals a measured one


class ErPipeline:
    """``run_pipeline`` at default config on the replicated small fixture,
    one op per run: a one-shot job in a fresh JVM, like a
    ``spark-submit`` of ``semlink.pipeline``."""

    name = "er_pipeline"
    warm_ops = 0

    def __init__(self, sess, work: str, seed: int):
        self.sess, self.work, self.seed = sess, work, seed
        self.rows = {}
        self.paths = {}
        self.n_ops = 0
        self.cfg = None
        self.last_f1 = None
        self.graph = {}

    def prepare(self) -> None:
        self.rows = inputs.pipeline_rows(self.seed)

    def input_sizes(self) -> dict:
        return {"turns": len(self.rows["transcripts"]),
                "labeled_pairs": len(self.rows["labeled_pairs"]),
                "replicas": inputs.REPLICAS,
                "turns_per_replica": inputs.TURNS_PER_REPLICA,
                "convs": len({t[0] for t in self.rows["transcripts"]}),
                **self.graph}

    def build(self, i: int) -> float:
        out = fresh_dir(os.path.join(self.work, f"input{i}"))
        t0 = time.perf_counter()
        self.paths = inputs.build_pipeline_input(self.rows, out)
        return time.perf_counter() - t0

    def op(self):
        """One pipeline run, clusters written; returns run_pipeline's
        result."""
        from semlink.config import SemlinkConfig
        from semlink.io import TableIO
        from semlink.pipeline import run_pipeline

        spark = self.sess.spark
        self.n_ops += 1
        ckpt = fresh_dir(os.path.join(self.work, f"ckpt{self.n_ops}"))
        out = fresh_dir(os.path.join(self.work, f"out{self.n_ops}"))
        p = self.paths
        rd = spark.read.parquet
        self.cfg = SemlinkConfig(checkpoint_dir=ckpt,
                                 shuffle_partitions=SHUFFLE_PARTITIONS)
        res = run_pipeline(rd(p["transcripts"]), rd(p["anchors"]),
                           rd(p["page_links"]), self.cfg, ckpt_dir=ckpt,
                           labeled_pairs=rd(p["labeled_pairs"]))
        TableIO(root=out).write(res["assignments"], "clusters")
        return res

    def check(self, res):
        """F1 gate; also records the graph size (from the persisted
        tables) and whether CC could take its driver union-find fast
        path, which skips the superstep loop."""
        f1 = res["f1"]["f1"]
        self.last_f1 = f1
        edges = res["edges"].count()
        cap = self.cfg.cc_local_fastpath_edges
        self.graph = {"resolved_mentions": res["resolved"].count(),
                      "edges": edges, "cc_local_fastpath_edges": cap,
                      "cc_path": "union-find fast path"
                      if cap and edges <= cap else "superstep loop"}
        return f1 >= F1_GATE, f"f1={f1:.4f}"

    first_op = op
    check_first = check


# ------------------------------------------------------------ contract mix

# The record-linkage registry queries of the contract mix: the keyed
# `_spread` exchange in front of the n-gram explode, the CC union-find
# fast path, the two Arrow kernels, the multi-stage banded candidate
# join and a small windowed shuffle. rl_pprl_bloom costs more than the
# rest together and would hide them in its noise; it is left out.
QUERIES = ("rl_ngram_explode", "rl_connected_components", "rl_soft_tfidf",
           "rl_affine_gap", "rl_fellegi_sunter", "rl_gap_sessions")


def _digest(cols, rows) -> tuple[int, str]:
    """Row count + order-insensitive value hash, normalized as the
    oracle gate does (columns sorted by name, rows sorted)."""
    from tools.oracle_check import normalize_rows
    cols, rows = normalize_rows(list(cols), [tuple(r) for r in rows])
    return len(rows), hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def oracle_digests(tables_dir: str, full: bool) -> dict[str, tuple]:
    """Each query's registry DuckDB oracle over the same tables: row
    count and value hash (``full``), or the row count alone."""
    import duckdb
    from semlink.queries import REGISTRY
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for f in sorted(os.listdir(tables_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"'{os.path.join(tables_dir, f)}'")
        out = {}
        for name in QUERIES:
            sql = REGISTRY[name][1]
            if full:
                res = con.execute(sql)
                out[name] = _digest([d[0] for d in res.description],
                                    res.fetchall())
            else:
                out[name] = (con.execute(
                    f"SELECT count(*) FROM ({sql})").fetchone()[0], None)
        return out
    finally:
        con.close()


class ContractMix:
    """One op = one pass over QUERIES in seeded order, each query
    materialized with the noop sink and its row count checked. The
    first op is the same pass on the warm-up seed's tables, so no plan
    it caches can serve a measured pass, and its job and task counts
    are the baseline the warm passes must reach. Its check, after the
    timed region, collects every query on those tables and compares row
    count and value hash with the oracle."""

    name = "contract_mix"
    warm_ops = 4

    def __init__(self, sess, work: str, seed: int):
        self.sess, self.work, self.seed = sess, work, seed
        self.warm_seed = seed + WARMUP_SEED_OFFSET
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        self.dirs = {}
        self.oracle = {}
        self.n_obs = 0
        self.query_s: dict[str, list[float]] = {q: [] for q in QUERIES}

    def prepare(self) -> None:
        for s in (self.warm_seed, self.seed):
            d = inputs.build_contract_tables(
                s, os.path.join(self.work, f"oracle{s}"))
            self.oracle[s] = oracle_digests(d, full=s == self.warm_seed)

    def input_sizes(self) -> dict:
        return {"documents": inputs.N_DOCS, "part": inputs.N_PARTS,
                "customer": inputs.N_CUSTOMERS, "events": inputs.N_EVENTS,
                "queries": len(QUERIES), "order": self.order}

    def build(self, i: int) -> float:
        seed = self.warm_seed if i == 0 else self.seed
        out = fresh_dir(os.path.join(self.work, f"input{i}"))
        t0 = time.perf_counter()
        self.dirs[seed] = inputs.build_contract_tables(seed, out)
        return time.perf_counter() - t0

    def first_op(self):
        return {name: self.run_query(name, self.dirs[self.warm_seed])
                for name in self.order}

    def check_first(self, counts):
        from semlink.queries import REGISTRY
        bad = []
        for name in self.order:
            df = REGISTRY[name][0](self.sess.spark, self.dirs[self.warm_seed])
            got = _digest(df.columns, df.collect())
            want = self.oracle[self.warm_seed][name]
            if got != want or counts[name] != want[0]:
                bad.append(f"{name}: {counts[name]} rows (noop), {got[0]} "
                           f"collected, oracle {want[0]}"
                           + (", values differ" if got[0] == want[0]
                              and got[1] != want[1] else ""))
        return not bad, "; ".join(bad)

    def op(self):
        counts = {}
        for name in self.order:
            t0 = time.perf_counter()
            counts[name] = self.run_query(name, self.dirs[self.seed])
            self.query_s[name].append(time.perf_counter() - t0)
        return counts

    def check(self, counts):
        bad = [f"{name}: {n} rows, oracle {self.oracle[self.seed][name][0]}"
               for name, n in counts.items()
               if n != self.oracle[self.seed][name][0]]
        return not bad, "; ".join(bad)

    def run_query(self, name: str, sf_dir: str) -> int:
        """Materialize one query with the noop sink; return its rows."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from semlink.queries import REGISTRY
        self.n_obs += 1
        obs = Observation(f"rows_{self.n_obs}")
        df = REGISTRY[name][0](self.sess.spark, sf_dir)
        (df.observe(obs, F.count(F.lit(1)).alias("n"))
         .write.format("noop").mode("overwrite").save())
        return obs.get["n"]


WORKLOADS = {w.name: w for w in (ErPipeline, ContractMix)}
