"""T4 golden pairs — the blocking key must be byte-stable (SURVEY §7.3.3)."""
import duckdb
import pytest
from pyspark.sql import functions as F

from semlink.textnorm import NORMALIZE_DUCKDB_SQL, normalize_expr, tokenize_expr
from semlink.fixtures import _norm_py

GOLDEN = [
    ("Café-Noir", "cafe noir"),
    ("  multiple   spaces ", "multiple spaces"),
    ("UPPER lower MiXeD", "upper lower mixed"),
    ("dash-sep—em‐dash", "dash sep em dash"),
    ("punct!uation, (kept?) no.", "punctuation kept no"),
    ("ÀÁÂÃÄÅ àáâãäå", "aaaaaa aaaaaa"),
    ("Ñandú çédille Ürümqi", "nandu cedille urumqi"),
    ("mérçüry", "mercury"),
    ("a1 b2-C3", "a1 b2 c3"),
    ("", ""),
    ("!!!", ""),
]


def test_normalize_golden_spark(spark):
    df = spark.createDataFrame([(s,) for s, _ in GOLDEN], "s string")
    got = [r[0] for r in df.select(normalize_expr(F.col("s"))).collect()]
    assert got == [e for _, e in GOLDEN]


def test_normalize_matches_python_mirror(spark):
    # fixtures._norm_py computes golden blocking keys; must agree with Spark
    df = spark.createDataFrame([(s,) for s, _ in GOLDEN], "s string")
    got = [r[0] for r in df.select(normalize_expr(F.col("s"))).collect()]
    assert got == [_norm_py(s) for s, _ in GOLDEN]


def test_normalize_matches_duckdb_oracle():
    con = duckdb.connect()
    expr = NORMALIZE_DUCKDB_SQL.format(col="s")
    for s, expect in GOLDEN:
        got = con.execute(f"select {expr}", ).fetchone() if False else \
            con.execute(f"select {expr} from (select ? as s)", [s]).fetchone()[0]
        assert got == expect, (s, got, expect)


def test_tokenize_empty_and_blank(spark):
    df = spark.createDataFrame([("",), ("   ",), ("a  b",)], "s string")
    got = [r[0] for r in df.select(tokenize_expr(F.col("s"))).collect()]
    assert got == [[], [], ["a", "b"]]


def test_unicode_udf_golden_pairs(spark):
    """Full-Unicode fallback: CJK survives, emoji/punct dropped, NFKD
    folds beyond the Latin translate ranges."""
    from semlink.textnorm import normalize_unicode_udf
    from pyspark.sql import functions as F

    golden = [
        ("Café au-lait!", "cafe au lait"),
        ("東京 タワー🗼 2024", "東京 タワー 2024"),
        ("Ελληνικά: ναί", "ελληνικα ναι"),
        ("Привет, мир!", "привет мир"),
        ("don't STOP-me", "dont stop me"),
        ("  á   b̈  ", "a b"),       # combining marks folded
        ("💥💥💥", ""),
        (None, None),
    ]
    df = spark.createDataFrame([(g[0],) for g in golden], "s string")
    got = [r.n for r in
           df.select(normalize_unicode_udf(F.col("s")).alias("n")).collect()]
    assert got == [g[1] for g in golden]


def test_unicode_udf_matches_ascii_path_on_latin(spark):
    """For Latin-foldable inputs both normalizers must emit identical
    blocking keys (the flag changes physics, not semantics)."""
    from semlink.textnorm import normalize_expr, normalize_unicode_udf
    from pyspark.sql import functions as F

    samples = [
        "Hello, World!", "Ångström–Unit", "naïve  co-op", "don't",
        "A -- B --- C", "ÉCOLE élémentaire", "x" + "-" * 70 + "y",
        "tab\tand\nnewline", "123 Mixed-CASE tokens!!",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    out = df.select(
        normalize_expr(F.col("s")).alias("a"),
        normalize_unicode_udf(F.col("s")).alias("b")).collect()
    for s, r in zip(samples, out):
        assert r.a == r.b, f"{s!r}: {r.a!r} != {r.b!r}"


def test_pipeline_runs_with_unicode_flag(spark, fx_tiny_dfs):
    """cfg.unicode_normalize swaps the normalizer without changing
    fixture results (ASCII corpus → identical mentions)."""
    from semlink.config import SemlinkConfig
    from semlink.linking import generate_mentions

    a = generate_mentions(fx_tiny_dfs["transcripts"], SemlinkConfig())
    b = generate_mentions(fx_tiny_dfs["transcripts"],
                          SemlinkConfig(unicode_normalize=True))
    cols = ["mention_id", "ngram_norm"]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_unicode_streaming_path_matches_batch(spark):
    """cfg.unicode_normalize works on the streaming (HOF) mention path,
    which normalizes each turn's token array once; blocking keys match
    the batch path on a CJK corpus, ungated and gated by a first-word
    DataFrame, and the gated streaming plan crosses into Python once."""
    import io as _io
    from contextlib import redirect_stdout

    from semlink.config import SemlinkConfig
    from semlink.linking import generate_mentions

    rows = [("c1", 0, "東京 タワー は 高い 🗼"),
            ("c2", 1, "Café au-lait delicious"),
            ("c3", 2, "（ 東京 タワー")]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    fw = spark.createDataFrame([("東京",), ("cafe",)], "w string")
    cfg = SemlinkConfig(unicode_normalize=True, max_ngram_len=2)
    cols = ["mention_id", "ngram_norm"]
    for first_words in (None, fw):
        batch = generate_mentions(t, cfg, first_words=first_words)
        stream_shaped = generate_mentions(t, cfg, first_words=first_words,
                                          streaming=True)
        a = {tuple(r) for r in batch.select(cols).collect()}
        b = {tuple(r) for r in stream_shaped.select(cols).collect()}
        assert a == b and len(a) > 0
        assert any("東京" in k for _, k in a)
    # gated: the punctuation-led "（ 東京" span is dropped, its
    # successor kept
    assert ("c3:2:0:2", "東京") not in a and ("c3:2:1:1", "東京") in a
    assert {m for m, _ in a} == {"c1:0:0:1", "c1:0:0:2", "c2:1:0:1",
                                 "c2:1:0:2", "c3:2:1:1", "c3:2:1:2"}

    buf = _io.StringIO()
    with redirect_stdout(buf):
        stream_shaped.explain("formatted")
    assert buf.getvalue().count("ArrowEvalPython (") == 1


def test_unicode_tokens_udf_matches_scalar_udf(spark):
    """The array form normalizes each element exactly as the scalar
    UDF normalizes that string; null arrays stay null."""
    from pyspark.sql import functions as F

    from semlink.textnorm import (normalize_unicode_tokens_udf,
                                  normalize_unicode_udf)

    toks = [["東京", "タワー🗼", "Café", "au-lait", "!!"], [], None]
    df = spark.createDataFrame([(x,) for x in toks], "t array<string>")
    got = [r.n for r in df.select(
        normalize_unicode_tokens_udf(F.col("t")).alias("n")).collect()]
    assert got == [["東京", "タワー", "cafe", "au lait", ""], [], None]
    flat = (df.select(F.explode("t").alias("s"))
            .select("s", normalize_unicode_udf(F.col("s")).alias("n"))
            .collect())
    assert [r.n for r in flat] == got[0]


def test_soundex_expr_matches_builtin_codec(spark):
    """The shared-SQL soundex (textnorm.soundex_expr) equals Spark's
    builtin commons-codec soundex on every letter-bearing input —
    including the canonical NARA H/W-rule vectors that naive
    implementations miscode — and blocks sound-alike name variants
    together."""
    from pyspark.sql import functions as F
    from semlink.textnorm import soundex_expr
    words = ["Robert", "Rupert", "Ashcraft", "Ashcroft", "Tymczak",
             "Pfister", "Honeyman", "Smith", "Smyth", "Washington",
             "Lee", "Gutierrez", "Jackson", "  lowercase name ",
             "O'Brien", "Czarkowska", "Wheaton", "Hholmes",
             "Burroughs", "Burrows", "Ekzampul", "VanDeusen",
             "Deusen", "Knuth", "Kant", "Lloyd", "Ladd"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    rows = df.select(
        "w", soundex_expr(F.col("w")).alias("mine"),
        F.soundex(F.regexp_replace(F.upper(F.trim("w")),
                                   "[^A-Z]", "")).alias("builtin")).collect()
    for r in rows:
        assert r.mine == r.builtin, (r.w, r.mine, r.builtin)
    got = {r.w: r.mine for r in rows}
    assert got["Ashcraft"] == "A261"      # H/W rule, not naive A226
    assert got["Smith"] == got["Smyth"]
    assert got["Burroughs"] == got["Burrows"]
    # letterless inputs: NULL (engine-wide convention)
    nulls = df.sparkSession.createDataFrame(
        [("123",), ("",), (None,)], "w string")
    assert all(r.s is None for r in
               nulls.select(soundex_expr(F.col("w")).alias("s")).collect())
