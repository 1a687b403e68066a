"""O1/O2: metrics + lineage surfaces."""
from pyspark.sql import functions as F

from semlink.ops import MetricsCollector, cut


def test_metrics_collector(spark):
    mc = MetricsCollector(spark, run_id="t")
    df = spark.range(1000).withColumnRenamed("id", "x")
    with mc.stage("s1"):
        n = mc.rows("xs", df)
    assert n == 1000
    mc.lineage_snapshot("s1", df)
    rep = mc.skew_report(df.repartition(4, "x"))
    assert rep["partitions"] == 4
    assert rep["max_partition_rows"] >= rep["mean_partition_rows"]
    dfs = mc.to_dataframes()
    assert {r.stage for r in dfs["metrics_stages"].collect()} == {"s1"}
    assert dfs["metrics_counts"].first().rows == 1000
    lin = dfs["lineage"].collect()
    assert sum(r.rows for r in lin) == 1000


def test_metrics_roundtrip(spark, tmp_path):
    from semlink.io import TableIO
    mc = MetricsCollector(spark, run_id="t2")
    with mc.stage("a"):
        mc.rows("n", spark.range(10))
    io = TableIO(root=str(tmp_path))
    mc.write(io)
    back = io.read(spark, "metrics_stages")
    assert back.count() == 1


def test_cut_observes_rows_and_aggregates(spark):
    df = spark.range(100).withColumn("even", F.col("id") % 2 == 0).cache()
    out, seen = cut(df.filter(F.col("id") >= 10), "t",
                    F.count_if("even").alias("evens"),
                    F.max("id").alias("top"))
    df.unpersist()
    assert seen == {"rows": 90, "evens": 45, "top": 99}
    assert out.count() == 90
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LogicalRDD")
    assert "InMemoryRelation" not in plan
