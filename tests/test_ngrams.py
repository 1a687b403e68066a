"""T3 n-gram explode: span correctness + DuckDB-oracle parity."""
import duckdb
import pytest

from semlink.ngrams import explode_mentions, ngram_duckdb_sql


def test_ngram_spans(spark):
    df = spark.createDataFrame(
        [("c1", 0, "alpha beta gamma"), ("c1", 1, ""), ("c2", 0, "solo")],
        "conv_id string, turn_idx int, text string")
    got = {
        (r.conv_id, r.turn_idx, r.span_start, r.span_len): r.ngram
        for r in explode_mentions(df, max_n=2).collect()
    }
    assert got == {
        ("c1", 0, 0, 1): "alpha", ("c1", 0, 1, 1): "beta", ("c1", 0, 2, 1): "gamma",
        ("c1", 0, 0, 2): "alpha beta", ("c1", 0, 1, 2): "beta gamma",
        ("c2", 0, 0, 1): "solo",
    }


def test_ngram_mention_ids(spark):
    df = spark.createDataFrame([("c1", 3, "x y")], "conv_id string, turn_idx int, text string")
    ids = {r.mention_id for r in explode_mentions(df, max_n=2).collect()}
    assert ids == {"c1:3:0:1", "c1:3:1:1", "c1:3:0:2"}


def test_ngram_duckdb_parity(spark):
    rows = [("d%d" % i, 0, t) for i, t in enumerate(
        ["one two three four", "a", "", "pad pad pad pad pad pad"])]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = sorted(
        (r.conv_id, r.span_start, r.span_len, r.ngram)
        for r in explode_mentions(df, max_n=3).collect())
    con = duckdb.connect()
    con.execute("create table docs as select * from (values %s) t(conv_id, turn_idx, text)"
                % ",".join("('%s', %d, '%s')" % r for r in rows))
    oracle = sorted(tuple(r) for r in con.execute(
        ngram_duckdb_sql("docs", "conv_id", "text", 3)).fetchall())
    assert got == oracle


# (mention_id, ngram, ngram_norm) of GATE_ROWS at max_n=2 gated on
# GATE_WORDS, by hand: "beta-gamma" normalizes to "beta gamma", so its
# first word "beta" passes; "--" normalizes to '', so the
# punctuation-led span "-- alpha" (key "alpha") is gated out
GATE_ROWS = [("c1", 0, "Alpha beta-gamma delta"),
             ("c2", 0, "-- alpha beta"),
             ("c3", 0, "Gamma! zeta")]
GATE_WORDS = ["alpha", "beta", "gamma"]
GATED = {
    ("c1:0:0:1", "Alpha", "alpha"),
    ("c1:0:0:2", "Alpha beta-gamma", "alpha beta gamma"),
    ("c1:0:1:1", "beta-gamma", "beta gamma"),
    ("c1:0:1:2", "beta-gamma delta", "beta gamma delta"),
    ("c2:0:1:1", "alpha", "alpha"),
    ("c2:0:1:2", "alpha beta", "alpha beta"),
    ("c2:0:2:1", "beta", "beta"),
    ("c3:0:0:1", "Gamma!", "gamma"),
    ("c3:0:0:2", "Gamma! zeta", "gamma zeta"),
}


def _formatted(df):
    import io as _io
    from contextlib import redirect_stdout
    buf = _io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("hof", [False, True], ids=["batch", "hof"])
def test_first_word_gate_hand_computed(spark, hof):
    """F4 first-word gate: both explodes keep exactly the spans whose
    OWN leading normalized token's first word starts an anchor — the
    batch one before n-gram assembly, the streaming (HOF) one after —
    through a broadcast semi join, never a literal IN list."""
    from semlink.ngrams import explode_mentions_hof

    explode = explode_mentions_hof if hof else explode_mentions
    t = spark.createDataFrame(GATE_ROWS,
                              "conv_id string, turn_idx int, text string")
    fw = spark.createDataFrame([(w,) for w in GATE_WORDS], "w string")
    cols = ["mention_id", "ngram", "ngram_norm"]
    m = explode(t, max_n=2, first_words=fw)
    assert {tuple(r) for r in m.select(cols).collect()} == GATED
    plan = _formatted(m)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "IN (" not in plan and "INSET" not in plan
    # the ungated explode keeps the punctuation-led span the gate drops
    ungated = {tuple(r) for r in explode(t, max_n=2).select(cols).collect()}
    assert ("c2:0:0:2", "-- alpha", "alpha") in ungated and GATED < ungated
    empty = spark.createDataFrame([], "w string")
    assert explode(t, max_n=2, first_words=empty).count() == 0


def test_anchor_first_words_runs_no_job(spark):
    """anchor_first_words is a lazy one-column DataFrame at every
    dictionary size: building it starts no Spark job."""
    from pyspark.sql import DataFrame as _DF

    from semlink.linking import anchor_first_words

    anchors = spark.createDataFrame(
        [(f"anchor{i} tail", i) for i in range(50)] + [("", 50)],
        "anchor_norm string, target_id long")
    sc = spark.sparkContext
    group = "anchor-first-words-test"
    sc.setJobGroup(group, "anchor_first_words starts no job")
    try:
        fw = anchor_first_words(anchors)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        words = {r.w for r in fw.collect()}
        # the tracker does see jobs in this group
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert isinstance(fw, _DF)
    assert words == {f"anchor{i}" for i in range(50)}
