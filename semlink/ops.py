"""Operational surfaces: the plan-shaping pair (lineage cut, narrow-input
spread), per-stage metrics and per-partition lineage (SURVEY O1-O2;
north rule "per-partition lineage and metrics tables").

:func:`cut` is the one way the engine truncates lineage: an eager
``localCheckpoint`` (or, given ``io``, a durable table commit) whose
row count and any extra aggregate ride the same action as an
``Observation``. :func:`spread` is the one way it repartitions a narrow
input. MetricsCollector gathers driver-side scalars (wall time per
stage, row counts) cheaply — small aggregations only, never a collect
of data rows. Lineage snapshots record rows-per-partition and source
files per stage so a superstep can be audited after the fact.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .io import TableIO


def cut(df: DataFrame, name: str, *aggs: Column,
        io: TableIO | None = None) -> tuple[DataFrame, dict]:
    """Materialize ``df`` and return ``(cut_df, seen)``: ``seen["rows"]``
    is its row count and each extra aggregate in ``aggs`` appears under
    its alias. The counts ride the materializing action, so no separate
    count job runs.

    Every later query over ``cut_df`` plans a leaf instead of the whole
    upstream tree, and nothing enters Spark's CacheManager. By default
    the cut is an eager ``localCheckpoint``, whose blocks live on the
    executors that computed them: a lost executor fails the query that
    reads them rather than recomputing. With ``io`` it is the table
    ``name`` written and read back, which a resumed run can restart
    from: parquet's ``_SUCCESS`` marker (Iceberg's atomic snapshot
    commit) is the gate, so a killed write leaves a step resume treats
    as absent (SURVEY C5)."""
    obs = Observation(name)
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"), *aggs)
    if io is None:
        return observed.localCheckpoint(eager=True), obs.get
    io.write(observed, name)
    return io.read(df.sparkSession, name), obs.get


def spread(df: DataFrame, n: int, *keys: str) -> DataFrame:
    """Repartition a NARROW input to ``n`` partitions — by ``keys`` if
    given, else round-robin — and return a wide one untouched.

    For compute-dense consumers (n-gram explodes, media decode,
    quadratic blocking joins) of a small scan that arrives as one or
    two splits and would otherwise run the whole expensive stage on
    that many tasks (guide §2.5 input skew / §6 input split size). An
    input with at least ``n`` partitions (the at-scale case) is never
    shrunk and never pays the exchange. Keys let a downstream window or
    aggregate keyed the same way reuse this one exchange (guide §2.4);
    adjacent repartitions collapse, so a spread over a spread costs one.

    A shuffled input counts as narrow: AQE picks its width at run time
    (a small-byte shuffle coalesces to one partition), and asking
    ``df.rdd`` would run its upstream stages to find out."""
    adaptive = (df._jdf.queryExecution().executedPlan().nodeName()
                == "AdaptiveSparkPlan")
    if not adaptive and df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *keys)


class MetricsCollector:
    def __init__(self, spark: SparkSession, run_id: str = "run"):
        self.spark = spark
        self.run_id = run_id
        self._stage_rows: list[tuple] = []   # (run, stage, wall_s)
        self._count_rows: list[tuple] = []   # (run, name, rows)
        self._lineage: list[DataFrame] = []

    @contextmanager
    def stage(self, name: str):
        t0 = time.time()
        yield
        self._stage_rows.append((self.run_id, name, time.time() - t0))

    def rows(self, name: str, df: DataFrame) -> int:
        """Count ``df`` (one job) and record it as ``name``."""
        return self.record(name, df.count())

    def record(self, name: str, n: int) -> int:
        """Record an already-known row count, e.g. one :func:`cut` saw."""
        self._count_rows.append((self.run_id, name, n))
        return n

    def lineage_snapshot(self, name: str, df: DataFrame,
                         with_files: bool = False) -> DataFrame:
        """O1: rows per partition (skew visibility) + optional input
        files, as a small DataFrame appended to the lineage table."""
        cols = [F.spark_partition_id().alias("partition_id")]
        if with_files:
            cols.append(F.input_file_name().alias("input_file"))
        snap = (df.select(*cols)
                .groupBy(*[c for c in ["partition_id", "input_file"][:1 + with_files]])
                .agg(F.count("*").alias("rows"))
                .withColumn("step", F.lit(name))
                .withColumn("run_id", F.lit(self.run_id)))
        self._lineage.append(snap)
        return snap

    def skew_report(self, df: DataFrame) -> dict:
        """O2: max/mean partition row counts — the salting feedback loop."""
        parts = (df.select(F.spark_partition_id().alias("p"))
                 .groupBy("p").agg(F.count("*").alias("rows")))
        r = parts.agg(F.max("rows").alias("mx"), F.avg("rows").alias("mean"),
                      F.count("*").alias("parts")).first()
        return {"max_partition_rows": r.mx, "mean_partition_rows": r.mean,
                "partitions": r.parts,
                "skew_ratio": (r.mx / r.mean) if r.mean else 0.0}

    def to_dataframes(self) -> dict[str, DataFrame]:
        out = {
            "metrics_stages": self.spark.createDataFrame(
                self._stage_rows or [(self.run_id, "none", 0.0)],
                "run_id string, stage string, wall_s double"),
            "metrics_counts": self.spark.createDataFrame(
                self._count_rows or [(self.run_id, "none", 0)],
                "run_id string, name string, rows long"),
        }
        if self._lineage:
            lin = self._lineage[0]
            for extra in self._lineage[1:]:
                lin = lin.unionByName(extra, allowMissingColumns=True)
            out["lineage"] = lin
        return out

    def write(self, io: TableIO) -> None:
        for name, df in self.to_dataframes().items():
            io.write(df, name)
