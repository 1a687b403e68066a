"""C2-C7: large-star/small-star CC vs a Python union-find oracle;
checkpoint/resume byte-identity."""
import hashlib
import os
import re

import pytest
from pyspark.sql import functions as F

from semlink.cluster import (cluster_assignments, pairwise_f1,
                             run_connected_components)
from semlink.config import SemlinkConfig


def _uf_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a is None or b is None:
            continue        # a null endpoint is no edge
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _graphs():
    chain = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)]
    star = [("m000", f"m{i:03d}") for i in range(1, 30)]
    rnd = []
    for i in range(300):
        h = hashlib.md5(f"g:{i}".encode()).hexdigest()
        a, b = int(h[:6], 16) % 120, int(h[6:12], 16) % 120
        if a != b:
            rnd.append((f"r{a:03d}", f"r{b:03d}"))
    two = [("a", "b"), ("c", "d"), ("e", "f"), ("b", "c")]
    nulls = [("a", "b"), ("b", None), (None, "c"), ("c", "d"),
             (None, None), ("e", None)]
    return {"chain": chain, "star": star, "random": rnd, "mixed": two,
            "empty": [], "null_endpoint": nulls}


# the three ways run_connected_components can compute labels: the
# driver union-find fast path (default config on a small graph), the
# superstep loop with local cuts, and the loop with durable table cuts
_PATHS = {
    "fastpath": SemlinkConfig(),
    "local": SemlinkConfig(cc_local_fastpath_edges=0),
    "table": SemlinkConfig(cc_checkpoint="table"),
}


@pytest.mark.parametrize("name", list(_graphs().keys()))
def test_cc_matches_union_find(spark, tmp_path, name):
    """Every path yields the oracle's min-member labels, so the paths
    equal each other; only the table loop writes superstep tables, and
    the fast path's labels are a JVM-side scan (no Python RDD)."""
    edges = _graphs()[name]
    df = spark.createDataFrame(edges, "src string, dst string")
    want = _uf_oracle(edges)
    for path, cfg in _PATHS.items():
        ckpt = tmp_path / path
        labels = run_connected_components(df, cfg, ckpt_dir=str(ckpt))
        got = {r.mention_id: r.cluster_id for r in labels.collect()}
        assert got == want, path
        assert ckpt.is_dir() == (path == "table"), path
        if path == "fastpath":
            lineage = labels._jdf.queryExecution().toRdd().toDebugString()
            assert "PythonRDD" not in lineage, lineage


def test_cc_resume_identical(spark, tmp_path):
    edges = _graphs()["chain"] + _graphs()["random"]
    df = spark.createDataFrame(edges, "src string, dst string")
    d1, d2 = str(tmp_path / "full"), str(tmp_path / "resumed")
    cfg = SemlinkConfig()

    full = run_connected_components(df, cfg, ckpt_dir=d1)
    full_rows = sorted(map(tuple, full.collect()))

    # kill after superstep 0, then resume from checkpoint
    r = run_connected_components(df, cfg, ckpt_dir=d2, stop_after_step=0)
    assert r is None
    resumed = run_connected_components(df, cfg, ckpt_dir=d2, resume=True)
    assert sorted(map(tuple, resumed.collect())) == full_rows
    # the durable layout is the superstep edge tables and nothing else
    tables = os.listdir(d2)
    assert tables and all(
        re.fullmatch(r"edges_step_\d+\.parquet", t) for t in tables), tables


def test_cc_resume_refuses_other_id_types(spark, tmp_path):
    """A committed superstep whose ids are not the input edges' type
    (here bigint, as an id-encoding layout wrote them) must fail
    loudly instead of resuming into labels of the wrong ids."""
    from semlink.io import TableIO

    ckpt = str(tmp_path / "old")
    TableIO(root=ckpt).write(
        spark.createDataFrame([(2, 1), (3, 1)], "src bigint, dst bigint"),
        "edges_step_0")
    df = spark.createDataFrame(_graphs()["mixed"], "src string, dst string")
    with pytest.raises(ValueError, match="rerun without resume") as e:
        run_connected_components(df, SemlinkConfig(), ckpt_dir=ckpt,
                                 resume=True)
    assert ckpt in str(e.value)


def test_cc_checkpoint_mode_validated():
    with pytest.raises(ValueError, match="cc_checkpoint"):
        SemlinkConfig(cc_checkpoint="durable")


def test_singletons_and_f1(spark, tmp_path):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    mentions = spark.createDataFrame(
        [("a",), ("b",), ("z",)], "mention_id string")
    labels = run_connected_components(edges, ckpt_dir=str(tmp_path / "s"))
    assign = cluster_assignments(mentions, labels)
    got = {r.mention_id: r.cluster_id for r in assign.collect()}
    assert got == {"a": "a", "b": "a", "z": "z"}

    lp = spark.createDataFrame(
        [("a", "b", "k", True), ("a", "z", "k", True), ("b", "z", "k", False)],
        "left_mention_id string, right_mention_id string, block_key string, label boolean")
    m = pairwise_f1(assign, lp)
    assert m["tp"] == 1 and m["fn"] == 1 and m["fp"] == 0
    assert abs(m["precision"] - 1.0) < 1e-12
    assert abs(m["recall"] - 0.5) < 1e-12


def test_pairwise_f1_null_endpoints_count_as_fn(spark):
    """A labeled-true pair with EITHER endpoint missing from the
    assignments is a recall miss (fn), not silently dropped."""
    from semlink.cluster import pairwise_f1

    assignments = spark.createDataFrame(
        [("a", "c1"), ("b", "c1")], "mention_id string, cluster_id string")
    pairs = spark.createDataFrame(
        [("a", "zz_gone", "k", True), ("zz_gone2", "b", "k", True),
         ("a", "b", "k", True)],
        "left_mention_id string, right_mention_id string, "
        "block_key string, label boolean")
    m = pairwise_f1(assignments, pairs)
    assert m["fn"] == 2 and m["tp"] == 1 and m["fp"] == 0


def test_cc_path_graph_depth(spark, tmp_path):
    """Adversarial depth (VERDICT r03 next #7): a 2^12-node PATH graph —
    the worst case for star-contraction rounds — must converge to ONE
    cluster labeled by the minimum node in O(log n) supersteps, bounding
    the checkpoint-commit count the cluster stage pays per run."""
    from pyspark.sql import functions as F

    from semlink.cluster import run_connected_components
    from semlink.config import SemlinkConfig

    n = 4096
    ids = [f"n{i:05d}" for i in range(n)]
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)], "src string, dst string"
    ).repartition(8)
    ckpt = str(tmp_path / "cc_path")
    # cc_checkpoint="table": this test additionally asserts the
    # superstep-commit COUNT by listing the durable checkpoint dirs,
    # so it pins the durable protocol explicitly (the default "local"
    # mode cuts lineage via localCheckpoint and writes no dirs)
    cfg = SemlinkConfig(checkpoint_dir=ckpt, cc_checkpoint="table")
    labels = run_connected_components(edges, cfg, ckpt_dir=ckpt)
    got = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("cluster_id").alias("k"),
        F.min("cluster_id").alias("mn")).first()
    assert (got.n, got.k, got.mn) == (n, 1, ids[0])
    steps = len([d for d in os.listdir(ckpt) if d.startswith("edges_step_")])
    # large/small-star halves path depth per round: measured exactly 14
    # supersteps at 2^12 and 18 at 2^16 (≈ log2 n + 2, incl. the
    # fingerprint-equal convergence step); anything near
    # max_cc_iterations (50) means contraction broke
    assert steps <= 16, f"path graph took {steps} supersteps"


def _agreement_fixture(spark):
    # pred P1={1,2,3} P2={4,5,6}; truth T1={1,2,3,4} T2={5,6}
    rows = [(1, "P1", "T1"), (2, "P1", "T1"), (3, "P1", "T1"),
            (4, "P2", "T1"), (5, "P2", "T2"), (6, "P2", "T2")]
    return spark.createDataFrame(
        rows, "item long, cluster_id string, ent_id string")


def test_clustering_agreement_hand_values(spark):
    """Contingency {P1xT1:3, P2xT1:1, P2xT2:2}: p_pairs=4, a_pairs=6,
    b_pairs=7, tot=15 -> ARI = (4-2.8)/(6.5-2.8) = 0.324324...,
    pair precision 4/6, recall 4/7, F1 = 2P/(A+B) = 8/13."""
    from semlink.cluster import clustering_agreement
    m = clustering_agreement(_agreement_fixture(spark)).collect()[0]
    assert (m.n_items, m.p_pairs, m.a_pairs, m.b_pairs, m.tot_pairs) \
        == (6, 4, 6, 7, 15)
    assert m.ari6 == round(1.2 / 3.7 * 1e6)
    assert m.pp6 == round(4 / 6 * 1e6)
    assert m.pr6 == round(4 / 7 * 1e6)
    assert m.pf16 == round(8 / 13 * 1e6)


def test_clustering_agreement_perfect_and_degenerate(spark):
    """Identical clusterings score 1.0 on every metric; the doubly
    degenerate all-singletons case (A = B = P = 0, ARI denominator 0)
    takes the identical-clustering convention ARI = 1, F1 = 0."""
    from semlink.cluster import clustering_agreement
    perfect = spark.createDataFrame(
        [(1, "a", "a"), (2, "a", "a"), (3, "b", "b")],
        "item long, cluster_id string, ent_id string")
    m = clustering_agreement(perfect).collect()[0]
    assert (m.ari6, m.pp6, m.pr6, m.pf16) == (1_000_000,) * 4
    single = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")],
        "item long, cluster_id string, ent_id string")
    s = clustering_agreement(single).collect()[0]
    assert (s.p_pairs, s.a_pairs, s.b_pairs) == (0, 0, 0)
    assert s.ari6 == 1_000_000 and s.pf16 == 0


def test_bcubed_hand_values(spark):
    """Same fixture: B3 precision = (3*1 + 1/3 + 2*(2/3))/6 = 7/9,
    recall = (3*(3/4) + 1/4 + 2*1)/6 = 3/4, F1 = 42/55 — dyadic-free
    fractions still land exactly at 1e-6 scale."""
    from semlink.cluster import bcubed
    m = bcubed(_agreement_fixture(spark)).collect()[0]
    assert m.n_items == 6
    assert m.b3p6 == round(7 / 9 * 1e6)
    assert m.b3r6 == round(3 / 4 * 1e6)
    assert m.b3f16 == round(42 / 55 * 1e6)


def test_bcubed_perfect(spark):
    from semlink.cluster import bcubed
    perfect = spark.createDataFrame(
        [(1, "a", "a"), (2, "a", "a"), (3, "b", "b")],
        "item long, cluster_id string, ent_id string")
    m = bcubed(perfect).collect()[0]
    assert (m.b3p6, m.b3r6, m.b3f16) == (1_000_000,) * 3


def test_golden_records_hand_values(spark):
    """Cluster of 3: shortest-then-lexical name ('Ann' beats 'Anne'
    and 'Ann' == 'Ann' ties break stably), mode segment (2x'B' beats
    1x'A'), max balance; singleton cluster passes through."""
    from semlink.cluster import golden_records
    recs = spark.createDataFrame(
        [(1, 10, "Anne", "A", 500), (2, 10, "Ann", "B", 300),
         (3, 10, "Axx", "B", 700), (4, 20, "Bob", "C", 100)],
        "rec_id long, ent_id long, name string, seg string, bal long")
    rows = {r.ent_id: r for r in golden_records(
        recs, "ent_id", shortest_cols=("name",), mode_cols=("seg",),
        max_cols=("bal",)).collect()}
    g = rows[10]
    assert (g.name, g.seg, g.bal, g.n_members) == ("Ann", "B", 700, 3)
    s = rows[20]
    assert (s.name, s.seg, s.bal, s.n_members) == ("Bob", "C", 100, 1)


def test_golden_records_mode_tie_breaks_by_value(spark):
    """1-1 segment tie -> lexicographically smaller value wins."""
    from semlink.cluster import golden_records
    recs = spark.createDataFrame(
        [(1, 10, "Z"), (2, 10, "A")], "rec_id long, ent_id long, seg string")
    g = golden_records(recs, "ent_id", mode_cols=("seg",)).collect()[0]
    assert g.seg == "A" and g.n_members == 2


def test_cluster_review_exact_hand_mirror(spark):
    """Coverage shortfall, weak-evidence min, singleton exemption and
    the integer-exact mean on a planted frame."""
    from semlink.cluster import cluster_review
    assign = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10),      # triangle cluster, one pair missing
         (4, 40), (5, 40),               # pair cluster, weak score
         (6, 60),                        # singleton
         (7, 70), (8, 70)],              # pair cluster, full + strong
        "rec_id long, cluster_id long")
    pairs = spark.createDataFrame(
        [(1, 2, 3), (2, 3, 2),           # (1,3) never scored
         (4, 5, 1),                      # below min_score=2
         (7, 8, 3),
         (1, 7, 3)],                     # cross-cluster: ignored
        "rec_l long, rec_r long, score long")
    got = {r.cluster_id: r.asDict()
           for r in cluster_review(assign, pairs, min_score=2).collect()}
    t = got[10]
    assert (t["n_members"], t["n_possible"], t["n_scored"]) == (3, 3, 2)
    assert t["min_score"] == 2 and t["needs_review"]        # coverage gap
    assert t["mean_score6"] == round((3 + 2) / 2 * 1e6)
    w = got[40]
    assert w["min_score"] == 1 and w["needs_review"]        # weak evidence
    s = got[60]
    assert s["n_members"] == 1 and not s["needs_review"]
    assert s["min_score"] is None and s["mean_score6"] is None
    g = got[70]
    assert not g["needs_review"] and g["mean_score6"] == 3_000_000


def test_cluster_review_flags_blocking_escapees(spark):
    """On the planted benchmark every nation-corrupted duplicate's
    entity (ck % 11 == 0 among duplicated ck % 3 == 0) must be
    flagged: its true pair escaped the nation block, so the cluster
    was never directly compared — the coverage-shortfall signal."""
    from semlink.queries.linkeval import rl_cluster_review
    rows = {r.cluster_id: r for r in
            rl_cluster_review(spark, "/root/testdata/sf0.001").collect()}
    escaped = [ck for ck in range(1, 151)
               if ck % 3 == 0 and ck % 11 == 0]
    assert escaped
    for ck in escaped:
        assert rows[ck].needs_review, ck
        assert rows[ck].n_scored < rows[ck].n_possible, ck
    flagged = sum(1 for r in rows.values() if r.needs_review)
    assert 0 < flagged < len(rows)
