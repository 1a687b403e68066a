"""Table IO abstraction (SURVEY S1/S4/S5, §7.3 item 5).

The design target is Iceberg tables (`BASELINE.json` north rule); the
sandbox has no iceberg-spark-runtime jar, so ``fmt="parquet"`` is the
tested path and ``fmt="iceberg"`` is a config flip. On a real cluster:

    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.1_2.13:<ver> \
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.lake.type=hadoop \
      --conf spark.sql.catalog.lake.warehouse=<path> job.py

and pass ``TableIO(fmt="iceberg", root="lake.db")``.

Durable checkpoints (``ops.cut(..., io=...)``: clustering supersteps,
merge-rematch iterations) write-then-read-back a table through this
class — a hard lineage cut that survives the job, required for
resume-from-checkpoint (north rule).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class TableIO:
    fmt: str = "parquet"     # "parquet" | "iceberg"
    root: str = ""           # dir for parquet, catalog.namespace for iceberg

    def _loc(self, name: str) -> str:
        if self.fmt == "iceberg":
            return f"{self.root}.{name}"
        return os.path.join(self.root, f"{name}.parquet")

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        if self.fmt == "iceberg":
            return spark.read.format("iceberg").load(self._loc(name))
        return spark.read.parquet(self._loc(name))

    def write(self, df: DataFrame, name: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        if self.fmt == "iceberg":
            w.format("iceberg").saveAsTable(self._loc(name))
        else:
            w.parquet(self._loc(name))

    def exists(self, spark: SparkSession, name: str) -> bool:
        if self.fmt == "iceberg":
            return spark.catalog.tableExists(self._loc(name))
        loc = self._loc(name)
        return os.path.exists(os.path.join(loc, "_SUCCESS"))
