"""The BASELINE F1 gate at `small` fixture scale (~24k turns, ~27k
labeled pairs with ≥30% hard negatives) — the headline north-rule
check, plus resolution accuracy."""
import pytest
from pyspark.sql import functions as F

from semlink.fixtures import generate, to_spark
from semlink.pipeline import run_pipeline


@pytest.fixture(scope="module")
def small_result(spark, tmp_path_factory):
    fx = generate("small")
    d = to_spark(spark, fx)
    res = run_pipeline(
        d["transcripts"], d["anchors"], d["page_links"],
        ckpt_dir=str(tmp_path_factory.mktemp("ckpt_small")),
        labeled_pairs=d["labeled_pairs"])
    return fx, d, res


def test_small_f1_gate(small_result):
    _fx, _d, res = small_result
    f1 = res["f1"]
    assert f1["n"] >= 5000
    assert f1["f1"] >= 0.99, f1


def test_small_resolution_accuracy(spark, small_result):
    fx, d, res = small_result
    j = res["resolved"].alias("r").join(d["mentions_gt"].alias("g"), "mention_id")
    n = j.count()
    bad = j.filter(F.col("r.target_id") != F.col("g.true_entity")).count()
    assert n == len(fx.mentions_gt)
    assert bad / n <= 0.005, f"{bad}/{n} misresolved"


def test_small_metrics_ride_the_cuts(small_result):
    _fx, _d, res = small_result
    got = {name: n for _run, name, n in res["metrics"]._count_rows}
    assert got == {
        "resolved_mentions": res["resolved"].count(),
        "edges": res["edges"].count(),
        "clusters": res["assignments"].select("cluster_id")
        .distinct().count()}
