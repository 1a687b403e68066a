"""Integer-exact PageRank: driver-side mirror + structural sanity."""


def _mirror(edges, iters=3, s=1_000_000_000):
    nodes = sorted({v for e in edges for v in e})
    dedup = sorted(set(edges))
    outdeg = {}
    for a, _ in dedup:
        outdeg[a] = outdeg.get(a, 0) + 1
    n = len(nodes)
    r = {v: s // n for v in nodes}
    for _ in range(iters):
        insum = {v: 0 for v in nodes}
        for a, b in dedup:
            insum[b] += r[a] // outdeg[a]
        dang = sum(r[v] for v in nodes if v not in outdeg)
        r = {v: (15 * s) // (n * 100)
             + (85 * (insum[v] + dang // n)) // 100 for v in nodes}
    return r


def test_pagerank_matches_integer_mirror(spark):
    """pagerank() reproduces the driver-side integer recurrence
    bit-exactly on a graph with a hub, a dangling sink, a self-loop
    and duplicate edges (deduped before out-degree)."""
    from semlink.graphrank import pagerank
    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 4),
             (5, 3), (6, 3), (7, 3), (3, 8),  # 8 is dangling
             (1, 2), (1, 2)]                  # dup edges collapse
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    got = {r.id: r.pr9 for r in pagerank(df, iters=3).collect()}
    assert got == _mirror(edges)
    # the in-hub 3 outranks the leaves that only feed it
    assert got[3] > got[5] and got[3] > got[2]


def test_pagerank_uniform_on_cycle(spark):
    """On a directed cycle every node keeps the uniform rank (up to
    the deterministic floor-division residue), and total mass stays
    within the documented leak bound."""
    from semlink.graphrank import SCALE9, pagerank
    n = 6
    edges = [(i, (i + 1) % n) for i in range(n)]
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    got = {r.id: r.pr9 for r in pagerank(df, iters=3).collect()}
    assert len(set(got.values())) == 1
    total = sum(got.values())
    assert abs(total - SCALE9) <= 2 * n * 3


def test_pagerank_empty_edges(spark):
    """An empty edge set gives an empty (id, pr9) table: N = 0 comes
    from the node cut's observed count and is never divided by."""
    from semlink.graphrank import pagerank
    df = spark.createDataFrame([], "src_id long, dst_id long")
    r = pagerank(df, iters=3)
    assert r.columns == ["id", "pr9"] and r.collect() == []
    assert dict(r.dtypes)["pr9"] == "bigint"
