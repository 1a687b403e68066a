"""O1/O2: metrics + lineage surfaces."""
from pyspark.sql import functions as F

from semlink.ops import MetricsCollector, cut, spread


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


def test_spread_narrow_input_gets_exactly_n_partitions(spark):
    narrow = spark.range(0, 64, 1, 2)
    rr = spread(narrow, 6)
    keyed = spread(narrow, 6, "id")
    assert rr.rdd.getNumPartitions() == 6
    assert keyed.rdd.getNumPartitions() == 6
    assert "hashpartitioning(id" in \
        keyed._jdf.queryExecution().executedPlan().toString()
    assert sorted(r.id for r in keyed.collect()) == list(range(64))


def test_spread_keeps_a_wide_input(spark):
    wide = spark.range(0, 64, 1, 8)
    for keys in ((), ("id",)):
        out = spread(wide, 4, *keys)
        assert out.rdd.getNumPartitions() == 8
        assert "Exchange" not in \
            out._jdf.queryExecution().executedPlan().toString()


def test_spread_decides_without_running_a_job(spark):
    """A shuffled input's width is AQE's run-time choice: spread counts
    it as narrow instead of running its upstream stages to ask."""
    sc = spark.sparkContext
    shuffled = spark.range(64).groupBy((F.col("id") % 3).alias("k")).count()
    sc.setJobGroup("spread-decision", "spread-decision")
    try:
        out = spread(shuffled, 5)
        assert sc.statusTracker().getJobIdsForGroup("spread-decision") == []
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert out.rdd.getNumPartitions() == 5


def test_pipeline_labels_do_not_depend_on_shuffle_partitions(
        spark, fx_tiny_dfs, tmp_path):
    from semlink.config import SemlinkConfig
    from semlink.pipeline import run_pipeline
    d = fx_tiny_dfs
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    labels = {}
    try:
        for n in (4, 32):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            res = run_pipeline(d["transcripts"], d["anchors"],
                               d["page_links"],
                               SemlinkConfig(shuffle_partitions=n),
                               ckpt_dir=str(tmp_path / f"p{n}"))
            a = res["assignments"]
            labels[n] = (sorted(a.collect()), a.agg(F.expr(
                "bit_xor(xxhash64(mention_id, cluster_id))")).first()[0])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert labels[4][0]
    assert labels[4] == labels[32]
