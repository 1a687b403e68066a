"""Text analysis over document corpora: language-ID heuristic, quality
scoring, token counting, fingerprinting. All pure Spark SQL — these run
per-row over 100 TB, so everything stays inside whole-stage codegen
(no UDFs, no shuffles except the final stats aggregations a caller may
add).

Every function has a DuckDB-oracle twin in semlink/queries.py; float
outputs use the shared scaled-bigint convention (round(x*1e6)) so
cross-engine hashing is exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny embedded English stopword list — shared verbatim with the SQL
# oracle; a real deployment broadcasts per-language dictionaries
EN_STOPWORDS = (
    "the a of to and in is was for on with at by from it that this "
    "be are as or an not".split()
)

WORD_RE = "[A-Za-z]+|[0-9]+"

_LETTERS = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
            "abcdefghijklmnopqrstuvwxyz")


def _tokens(col: Column) -> Column:
    return F.array_remove(F.split(F.trim(col), r" +"), "")


def _collapse_runs(col: Column, ch: str) -> Column:
    """Collapse maximal runs of ``ch`` to a single occurrence,
    regex-free: 6 halving replace passes handle runs ≤ 64; rows still
    carrying a pair (a >64-char run — pathological) take the regexp
    fixpoint. Same shape as textnorm._collapse_spaces."""
    pair = ch + ch
    for _ in range(6):
        col = F.replace(col, F.lit(pair), F.lit(ch))
    return F.when(F.contains(col, F.lit(pair)),
                  F.regexp_replace(col, ch + "+", ch)).otherwise(col)


def _count_char(col: Column, ch: str) -> Column:
    return F.length(col) - F.length(F.translate(col, ch, ""))


def _frac6(num: str, den: str) -> Column:
    """round(num/max(den,1) * 1e6) as bigint — the scaled-bigint ratio
    convention shared by every oracle-gated metric in this module (one
    definition so the Spark and DuckDB expression shapes can't drift
    apart per call site)."""
    return F.round(F.col(num).cast("double")
                   / F.greatest(F.col(den), F.lit(1)) * 1_000_000)             .cast("bigint")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish word/number pieces.

    Word pieces use regexp_extract_all: it beat a regex-free
    translate-classify run counter at both local[8] and local[32]
    (5.2/4.3 s vs 8.3/5.6 s on 1M docs, BENCH/BASELINE.md §8)."""
    t = F.col(text_col)
    return df.withColumns({
        "ws_tokens": F.size(_tokens(t)).cast("bigint"),
        "word_tokens": F.size(F.regexp_extract_all(t, F.lit(WORD_RE), 0)).cast("bigint"),
        "n_chars": F.length(t).cast("bigint"),
    })


def with_stopword_ratio(df: DataFrame, text_col: str = "text") -> DataFrame:
    toks = _tokens(F.col(text_col))
    stops = F.filter(toks, lambda x: x.isin(*EN_STOPWORDS))
    return df.withColumn(
        "stop_ratio",
        F.when(F.size(toks) > 0, F.size(stops) / F.size(toks)).otherwise(F.lit(0.0)))


# Per-language stopword profiles (public-knowledge high-frequency
# function words). A token may legitimately belong to several profiles
# ("de" is French AND Spanish) — the profile table holds one row per
# (token, lang) and densities disambiguate. Shared verbatim with the
# DuckDB oracle (queries.py builds the VALUES list from this dict).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": EN_STOPWORDS,
    "de": ("der die das und ist von zu mit den im für auf des nicht "
           "ein eine als auch es an aus er sie nach wird bei einem "
           "einer dem war sind oder wie").split(),
    "fr": ("le la les de des du et est un une dans que pour sur avec "
           "ne pas au aux ce cette par plus ou mais comme il elle "
           "nous vous sont été je").split(),
    "es": ("el la los las de del y es un una en que para por con no "
           "se al lo como más pero sus ha este esta son fue muy ya "
           "entre cuando todo").split(),
}

LANG_MIN_SCORE6 = 50_000   # argmax below 5% density → 'und'


def lang_profile_table(spark) -> DataFrame:
    """(tok, lang) broadcast dimension built from LANG_STOPWORDS."""
    rows = [(tok, lang)
            for lang, words in sorted(LANG_STOPWORDS.items())
            for tok in sorted(set(words))]
    return spark.createDataFrame(rows, "tok string, lang string")


def _lang_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, lang, score6): the per-language stopword-density + CJK
    byte-excess scores shared by :func:`lang_id` and :func:`lang_mix`
    — expression shapes are load-bearing (the text_langid oracle
    re-derives them verbatim)."""
    spark = df.sparkSession
    base = df.select(F.col(id_col),
                     F.coalesce(F.col(text_col), F.lit("")).alias("_t"))
    toks = base.select(id_col, F.explode(_tokens(F.col("_t"))).alias("tok"))
    n = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    prof = lang_profile_table(spark)
    hits = (toks.join(F.broadcast(prof), "tok")
            .groupBy(id_col, "lang").agg(F.count(F.lit(1)).alias("_h")))
    stop_scores = (hits.join(n, id_col)
                   .select(F.col(id_col), "lang",
                           F.round(F.col("_h").cast("double")
                                   / F.greatest(F.col("_n"), F.lit(1))
                                   * 1_000_000).cast("bigint")
                           .alias("score6")))
    chars = F.greatest(F.length("_t"), F.lit(1))
    cjk_scores = base.select(
        F.col(id_col), F.lit("cjk").alias("lang"),
        F.round(F.least(
            F.lit(1.0),
            (F.octet_length("_t") - F.length("_t")).cast("double")
            / (F.lit(2.0) * chars)) * 1_000_000).cast("bigint")
        .alias("score6"))
    return stop_scores.unionByName(cjk_scores)


def lang_mix(df: DataFrame, id_col: str = "doc_id",
             text_col: str = "text",
             min_score6: int = LANG_MIN_SCORE6) -> DataFrame:
    """Language-MIXTURE detection (code-switching / boilerplate-mixed
    pages — a standard curation drop class): the top TWO language
    scores per document under the same profile scoring as
    :func:`lang_id`; a doc is `is_mixed` when BOTH clear the
    identification floor AND the runner-up reaches 30% of the top
    score (integer cross-multiplication) — the margin matters because
    the profiles legitimately overlap (a pure-Spanish doc lights the
    French profile at ~0.2 density; that is relatedness, not
    code-switching). Languages below the floor report 'und'. Same
    scale shape as lang_id (one extra window row, no new shuffle)."""
    scores = _lang_scores(df, id_col, text_col)
    from pyspark.sql import Window
    w = Window.partitionBy(id_col).orderBy(F.desc("score6"), F.asc("lang"))
    ranked = (scores.withColumn("_rk", F.row_number().over(w))
              .filter(F.col("_rk") <= 2))

    def side(rk, lang_out, score_out):
        r = ranked.filter(F.col("_rk") == rk)
        return r.select(
            F.col(id_col),
            F.when(F.col("score6") >= min_score6, F.col("lang"))
            .otherwise(F.lit("und")).alias(lang_out),
            F.col("score6").alias(score_out))

    out = (df.select(id_col)
           .join(side(1, "lang1", "score1_6"), id_col, "left")
           .join(side(2, "lang2", "score2_6"), id_col, "left")
           .na.fill(0, ["score1_6", "score2_6"])
           .na.fill("und", ["lang1", "lang2"]))
    return out.withColumn(
        "is_mixed",
        (F.col("lang1") != "und") & (F.col("lang2") != "und")
        & (F.col("score2_6") * 10 >= F.col("score1_6") * 3))


def lang_id(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text",
            min_score6: int = LANG_MIN_SCORE6) -> DataFrame:
    """Real language identification (VERDICT r03 next #5): per-language
    stopword-density scoring against a broadcast profile dimension,
    plus a CJK channel from UTF-8 byte-excess density — no UDFs, no
    regex, and the only shuffle is one map-side-combined
    groupBy(doc, lang).

    score(doc, lang)  = |stopword hits of lang| / |ws tokens|
    score(doc, 'cjk') = min(1, (octet_len − char_len) / (2·char_len))
      — CJK codepoints are 3 bytes in UTF-8 (2 excess bytes/char), so
      pure CJK text scores ~1 while accented Latin (2-byte chars)
      scores ≤ 0.5 and ASCII scores 0.

    Prediction = argmax over languages (ties: lang ascending); docs
    whose best score6 < ``min_score6`` come out 'und'. All ratios use
    the scaled-bigint convention; the DuckDB oracle re-derives the
    whole scoring (queries.py text_langid).

    Scale shape: explode → broadcast hash join on the ~150-row profile
    → partial-agg groupBy — the same measured-scalable shape as the
    dedup family; the CJK channel is pure codegen arithmetic on the
    base scan.
    """
    scores = _lang_scores(df, id_col, text_col)
    from pyspark.sql import Window
    w = Window.partitionBy(id_col).orderBy(F.desc("score6"), F.asc("lang"))
    top = (scores.withColumn("_rk", F.row_number().over(w))
           .filter(F.col("_rk") == 1).drop("_rk"))
    return (df.select(id_col)
            .join(top, id_col, "left")
            .select(F.col(id_col),
                    F.when(F.coalesce(F.col("score6"), F.lit(0))
                           >= min_score6, F.col("lang"))
                    .otherwise(F.lit("und")).alias("lang_pred"),
                    F.coalesce(F.col("score6"), F.lit(0))
                    .cast("bigint").alias("top_score6")))


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length saturation + alpha purity + stopword
    balance, weighted. Deterministic, unit-interval."""
    t = F.col(text_col)
    d = with_token_stats(with_stopword_ratio(df, text_col), text_col)
    # count of [A-Za-z ] chars, regex-free: translate-DELETE the keep
    # set and take the length difference (regexp_replace is the
    # measured non-scaling expression on this substrate — BENCH §2)
    alpha_chars = F.length(t) - F.length(F.translate(t, _LETTERS + " ", ""))
    alpha_ratio = F.when(F.col("n_chars") > 0,
                         alpha_chars / F.col("n_chars")).otherwise(F.lit(0.0))
    len_sat = F.least(F.col("ws_tokens") / F.lit(50.0), F.lit(1.0))
    return d.withColumn(
        "quality_score",
        F.lit(0.4) * len_sat + F.lit(0.3) * alpha_ratio
        + F.lit(0.3) * F.least(F.col("stop_ratio") * 3.0, F.lit(1.0)))


def with_fingerprints(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      shingle: int = 4) -> DataFrame:
    """Document fingerprinting: exact md5 of the normalized text plus a
    winnowing-style min-hash over token shingles (the cheap near-dup
    prefilter).

    The min-shingle runs through the lambda-free exploded shingle
    generator (dedup.shingles_exploded) + one map-side-combined
    groupBy-min — the measured-scalable shape — instead of an HOF
    ``transform`` string lambda (thread-serialized, BENCH §2; the
    exploded rewrite was 2× faster for minhash at both widths). The
    whitespace collapse in fp_exact is the regex-free bounded-replace
    fold (regexp only on pathological >64-space runs)."""
    from .dedup import shingles_exploded
    # null text coalesces to '' — the family-wide null==empty convention
    # (shingles, streaming dedup, batch exact dedup); ADVICE r04
    t = F.coalesce(F.col(text_col), F.lit(""))
    norm = _collapse_runs(F.lower(F.trim(t)), " ")
    mins = (shingles_exploded(df, id_col, text_col, shingle)
            .groupBy(id_col)
            .agg(F.min(F.md5("s")).alias("fp_min_shingle")))
    return (df.withColumn("fp_exact", F.md5(norm))
            .join(mins, id_col, "left"))


# --------------------------------------------------------------- corpus
# Gopher/C4-style corpus-quality rule family (Rae et al. '21 App. A,
# Raffel et al. '20 §2.2 — public knowledge; VERDICT r04 next #1).
# Everything below is pure explode+aggregate SQL with exact DuckDB
# oracle twins; ratios use the scaled-bigint convention.

# Gopher's "required word" list: a doc must contain >= STOP_HITS_MIN of
# these to pass the stop-word gate. Shared verbatim with the oracle.
GOPHER_STOPWORDS = "the be to of and that have with".split()
STOP_HITS_MIN = 2

# heuristic gate bounds (Gopher App. A defaults)
WORDS_MIN, WORDS_MAX = 50, 100_000
MEAN_WORD_LEN_MIN6, MEAN_WORD_LEN_MAX6 = 3_000_000, 10_000_000
SYMBOL_RATIO_MAX6 = 100_000          # (# + ellipsis) per word <= 0.1
BULLET_LINE_FRAC_MAX6 = 900_000      # <= 90% bullet-led lines
ELLIPSIS_LINE_FRAC_MAX6 = 300_000    # <= 30% ellipsis-ended lines
ALPHA_WORD_FRAC_MIN6 = 800_000       # >= 80% words contain a letter

BULLET_PREFIXES = ("- ", "* ", "•")      # '-', '*', '•'
ELLIPSIS_SUFFIXES = ("...", "…")         # '...', '…'

# repetition gate bounds (Gopher App. A defaults, scaled-bigint)
DUP_LINE_FRAC_MAX6 = 300_000         # duplicate-line fraction <= 0.30
DUP_PARA_FRAC_MAX6 = 300_000
DUP_LINE_CHAR_FRAC_MAX6 = 200_000    # by character mass <= 0.20
DUP_PARA_CHAR_FRAC_MAX6 = 200_000
TOP2GRAM_FRAC_MAX6 = 200_000         # top-n-gram character mass
TOP3GRAM_FRAC_MAX6 = 180_000
TOP4GRAM_FRAC_MAX6 = 160_000


def _dup_stats(df: DataFrame, id_col: str, text_expr: Column,
               sep: str, prefix: str) -> DataFrame:
    """Per-doc duplicate-unit stats over ``sep``-split units (lines or
    paragraphs): total units, duplicate occurrences beyond the first,
    and the character mass of each — ONE explode + two map-side-
    combined aggregations. Units are kept raw (no trim) so Spark and
    DuckDB agree byte-for-byte; empty units are dropped."""
    units = (df.select(F.col(id_col), F.explode(F.split(text_expr, sep))
                       .alias("_u"))
             .filter(F.col("_u") != ""))
    per = units.groupBy(id_col, "_u").agg(F.count(F.lit(1)).alias("_c"))
    return per.groupBy(id_col).agg(
        F.sum("_c").cast("bigint").alias(f"{prefix}_n"),
        (F.sum("_c") - F.count(F.lit(1))).cast("bigint")
        .alias(f"{prefix}_dup"),
        F.sum(F.col("_c") * F.length("_u")).cast("bigint")
        .alias(f"{prefix}_chars"),
        F.sum((F.col("_c") - 1) * F.length("_u")).cast("bigint")
        .alias(f"{prefix}_dup_chars"))


def top_ngram_char_fracs(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         ns: tuple = (2, 3, 4)) -> DataFrame:
    """Per-doc character-mass fraction of the most frequent word
    n-gram, for each n in ``ns`` (Gopher's top-n-gram repetition
    signal): frac_n = count(top gram) * token_chars(gram) /
    total_token_chars, clamped to 1 (overlapping occurrences can
    exceed the clamp), ties on the gram string ascending.

    Scale shape: ONE posexplode + window-lead chain builds all gram
    widths (the mention n-gram generator's measured shape), an inline
    struct-array explode tags each width — no HOF lambdas — then one
    combined groupBy(doc, n, gram) and a per-(doc, n) top-1 window.
    Docs with fewer than n tokens contribute frac_n = 0.
    """
    from pyspark.sql import Window
    d = df.select(F.col(id_col),
                  _tokens(F.coalesce(F.col(text_col), F.lit("")))
                  .alias("_t"))
    base = d.select(id_col,
                    F.length(F.concat_ws("", "_t")).alias("_tokchars"))
    rows = d.select(id_col, F.size("_t").alias("_n"),
                    F.posexplode("_t").alias("_pos", "_w0"))
    w = Window.partitionBy(id_col).orderBy("_pos")
    words = [F.col("_w0")]
    for j in range(1, max(ns)):
        rows = rows.withColumn(f"_w{j}", F.lead("_w0", j).over(w))
        words.append(F.col(f"_w{j}"))
    structs = [F.struct(F.lit(n).alias("n"),
                        F.concat_ws(" ", *words[:n]).alias("g"),
                        (F.col("_pos") + n <= F.col("_n")).alias("ok"))
               for n in ns]
    grams = (rows.select(id_col, F.explode(F.array(*structs)).alias("x"))
             .filter(F.col("x.ok"))
             .select(id_col, F.col("x.n").alias("n"),
                     F.col("x.g").alias("g")))
    cnt = grams.groupBy(id_col, "n", "g").agg(F.count(F.lit(1)).alias("c"))
    w2 = Window.partitionBy(id_col, "n").orderBy(F.desc("c"), F.asc("g"))
    top = (cnt.withColumn("_rk", F.row_number().over(w2))
           .filter(F.col("_rk") == 1)
           .join(base, id_col)
           .select(F.col(id_col), "n",
                   F.round(F.least(
                       F.lit(1.0),
                       (F.col("c") * (F.length("g") - (F.col("n") - 1)))
                       .cast("double")
                       / F.greatest(F.col("_tokchars"), F.lit(1)))
                       * 1_000_000).cast("bigint").alias("f6")))
    agg = top.groupBy(id_col).agg(*[
        F.max(F.when(F.col("n") == n, F.col("f6"))).alias(f"top{n}gram_frac6")
        for n in ns])
    out = df.select(id_col).join(agg, id_col, "left")
    return out.select(F.col(id_col), *[
        F.coalesce(F.col(f"top{n}gram_frac6"), F.lit(0)).cast("bigint")
        .alias(f"top{n}gram_frac6") for n in ns])


def with_repetition_stats(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Gopher-style repetition metrics, per doc: duplicate-line and
    duplicate-paragraph fractions (occurrence- and character-mass-
    based) plus top-{2,3,4}-gram character fractions. Boilerplate
    pages, bullet spam and copy-paste loops light these up; clean
    prose scores near 0 on all seven.

    Lines split on '\\n', paragraphs on '\\n\\n' (raw units, empty
    dropped). frac conventions: dup_*_frac6 = duplicate occurrences
    beyond the first / total units; dup_*_char_frac6 = the same by
    character mass."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = _dup_stats(df, id_col, t, "\n", "ln")
    paras = _dup_stats(df, id_col, t, "\n\n", "pp")
    grams = top_ngram_char_fracs(df, id_col, text_col)

    frac6 = _frac6

    out = (df.select(id_col)
           .join(lines, id_col, "left").join(paras, id_col, "left")
           .join(grams, id_col, "left"))
    zero = F.lit(0).cast("bigint")
    for c in ("ln_n", "ln_dup", "ln_chars", "ln_dup_chars",
              "pp_n", "pp_dup", "pp_chars", "pp_dup_chars"):
        out = out.withColumn(c, F.coalesce(F.col(c), zero))
    return out.select(
        F.col(id_col),
        F.col("ln_n").alias("n_lines"),
        frac6("ln_dup", "ln_n").alias("dup_line_frac6"),
        frac6("ln_dup_chars", "ln_chars").alias("dup_line_char_frac6"),
        F.col("pp_n").alias("n_paras"),
        frac6("pp_dup", "pp_n").alias("dup_para_frac6"),
        frac6("pp_dup_chars", "pp_chars").alias("dup_para_char_frac6"),
        "top2gram_frac6", "top3gram_frac6", "top4gram_frac6")


def with_heuristic_flags(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """The C4/Gopher heuristic gate battery, per doc: word-count
    bounds, mean-word-length bounds, symbol-to-word ratio, bullet- and
    ellipsis-line fractions, alphabetic-word fraction, and the
    required-stop-word gate — each emitted as its metric (scaled
    bigint) plus a 0/1 pass flag, with ``pass_all`` the conjunction.

    Scale shape: one token explode + one line explode, each folded
    into a single map-side-combined groupBy; the symbol counts are
    translate/replace length arithmetic on the base scan. No UDFs, no
    regex."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    d = df.select(F.col(id_col), t.alias("_t"))

    toks = d.select(id_col, F.explode(_tokens(F.col("_t"))).alias("_w"))
    is_alpha = (F.length(F.translate(F.col("_w"), _LETTERS, ""))
                < F.length(F.col("_w"))).cast("bigint")
    tok_agg = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.length("_w")).cast("bigint").alias("_wchars"),
        F.sum(is_alpha).cast("bigint").alias("_alpha_w"),
        F.count_distinct(
            F.when(F.col("_w").isin(*GOPHER_STOPWORDS), F.col("_w")))
        .cast("bigint").alias("stop_hits"))

    lines = (d.select(id_col, F.explode(F.split(F.col("_t"), "\n"))
                      .alias("_l"))
             .filter(F.col("_l") != ""))
    is_bullet = F.greatest(*[F.startswith(F.col("_l"), F.lit(p))
                             for p in BULLET_PREFIXES]).cast("bigint")
    is_ellip = F.greatest(*[F.endswith(F.col("_l"), F.lit(s))
                            for s in ELLIPSIS_SUFFIXES]).cast("bigint")
    line_agg = lines.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("_nl"),
        F.sum(is_bullet).cast("bigint").alias("_bl"),
        F.sum(is_ellip).cast("bigint").alias("_el"))

    # '#' count + non-overlapping '...' count + '…' count, regex-free
    sym = (_count_char(F.col("_t"), "#")
           + (F.length("_t") - F.length(F.replace(F.col("_t"), F.lit("..."),
                                                  F.lit("")))) / F.lit(3)
           + _count_char(F.col("_t"), "…")).cast("bigint")

    base = d.select(F.col(id_col), sym.alias("_sym"))
    out = (base.join(tok_agg, id_col, "left")
           .join(line_agg, id_col, "left"))
    zero = F.lit(0).cast("bigint")
    for c in ("n_words", "_wchars", "_alpha_w", "stop_hits",
              "_nl", "_bl", "_el"):
        out = out.withColumn(c, F.coalesce(F.col(c), zero))

    r6 = _frac6

    out = out.withColumns({
        "mean_word_len6": r6("_wchars", "n_words"),
        "symbol_ratio6": r6("_sym", "n_words"),
        "bullet_line_frac6": r6("_bl", "_nl"),
        "ellipsis_line_frac6": r6("_el", "_nl"),
        "alpha_word_frac6": r6("_alpha_w", "n_words"),
    })
    flags = {
        "pass_word_count": (F.col("n_words") >= WORDS_MIN)
        & (F.col("n_words") <= WORDS_MAX),
        "pass_mean_word_len": (F.col("mean_word_len6") >= MEAN_WORD_LEN_MIN6)
        & (F.col("mean_word_len6") <= MEAN_WORD_LEN_MAX6),
        "pass_symbol_ratio": F.col("symbol_ratio6") <= SYMBOL_RATIO_MAX6,
        "pass_bullet": F.col("bullet_line_frac6") <= BULLET_LINE_FRAC_MAX6,
        "pass_ellipsis": F.col("ellipsis_line_frac6")
        <= ELLIPSIS_LINE_FRAC_MAX6,
        "pass_alpha": F.col("alpha_word_frac6") >= ALPHA_WORD_FRAC_MIN6,
        "pass_stopwords": F.col("stop_hits") >= STOP_HITS_MIN,
    }
    out = out.withColumns({k: v.cast("bigint") for k, v in flags.items()})
    allpass = None
    for k in flags:
        allpass = F.col(k) if allpass is None else allpass * F.col(k)
    out = out.withColumn("pass_all", allpass.cast("bigint"))
    return out.select(
        id_col, "n_words", "mean_word_len6", "symbol_ratio6",
        "bullet_line_frac6", "ellipsis_line_frac6", "alpha_word_frac6",
        "stop_hits", *sorted(flags), "pass_all")


def corpus_filter(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """The curation VERDICT stage: compose the heuristic gate battery
    (with_heuristic_flags) with the repetition gates
    (with_repetition_stats at the Gopher App. A bounds) into one
    keep/drop decision per doc — the end-to-end shape a training-data
    pipeline actually applies, mirroring how dedup_near_dup_clusters
    composes its family. Emits both family verdicts plus ``keep``."""
    h = with_heuristic_flags(df, id_col, text_col).select(
        id_col, F.col("pass_all").alias("pass_heuristics"))
    r = with_repetition_stats(df, id_col, text_col)
    pass_rep = (
        (F.col("dup_line_frac6") <= DUP_LINE_FRAC_MAX6)
        & (F.col("dup_para_frac6") <= DUP_PARA_FRAC_MAX6)
        & (F.col("dup_line_char_frac6") <= DUP_LINE_CHAR_FRAC_MAX6)
        & (F.col("dup_para_char_frac6") <= DUP_PARA_CHAR_FRAC_MAX6)
        & (F.col("top2gram_frac6") <= TOP2GRAM_FRAC_MAX6)
        & (F.col("top3gram_frac6") <= TOP3GRAM_FRAC_MAX6)
        & (F.col("top4gram_frac6") <= TOP4GRAM_FRAC_MAX6)
    ).cast("bigint")
    rr = r.select(F.col(id_col), pass_rep.alias("pass_repetition"))
    return (h.join(rr, id_col)
            .select(F.col(id_col), "pass_heuristics", "pass_repetition",
                    (F.col("pass_heuristics") * F.col("pass_repetition"))
                    .alias("keep")))


# PII detection patterns (detection COUNTS only — no replace on the
# hot path; regexp_extract_all is the measured-scaling regex primitive
# on this host, BENCH §8). Shared verbatim with the DuckDB oracle;
# kept to the Java-regex ∩ RE2 common subset (no backrefs, no
# lookaround) so both engines match identically.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_IPV4_RE = ("\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
               "\\.[0-9]{1,3}\\b")
PII_PHONE_RE = "\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}"


def with_pii_stats(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Training-data hygiene: per-doc counts of email / IPv4 / phone
    pattern matches plus a has_pii flag (VERDICT r04 next #8). Counts
    only — masking/replacement is a downstream decision and
    regexp_replace is the measured non-scaling expression on this
    substrate (BENCH §2), while extract_all scales like ordinary
    expressions (BENCH §8)."""
    t = F.coalesce(F.col(text_col), F.lit(""))

    def n(pat):
        return F.size(F.regexp_extract_all(t, F.lit(pat), 0)).cast("bigint")

    out = df.select(F.col(id_col),
                    n(PII_EMAIL_RE).alias("email_n"),
                    n(PII_IPV4_RE).alias("ipv4_n"),
                    n(PII_PHONE_RE).alias("phone_n"))
    return out.withColumn(
        "has_pii",
        ((F.col("email_n") + F.col("ipv4_n") + F.col("phone_n")) > 0)
        .cast("bigint"))


def tfidf_top_terms(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 5) -> DataFrame:
    """Per-document top-k terms by TF-IDF — the classic corpus-keyword
    extractor a training-data pipeline runs before filtering/labeling.

    tf = term count within the doc; idf = ln(N / df_t) with df_t the
    number of docs containing the term. Ranking and the emitted score
    use the scaled-bigint convention (tfidf6) so ordering and values
    are engine-exact; ties break on term ascending.

    Scale shape: explode → groupBy(doc, term) (map-side combined) →
    groupBy(term) for document frequency (one row per (doc, term)
    entering, so count(*) IS the document frequency) → broadcast-style
    1-row N cross join (lazy, like the MW n_pages count) → per-doc
    window top-k. No collects, no skew keys beyond natural term
    frequency (the tf aggregate combines before the shuffle).
    """
    from pyspark.sql import Window
    toks = df.select(F.col(id_col),
                     F.explode(_tokens(F.col(text_col))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    nd = df.select(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (tf.join(dfq, "term")
              .crossJoin(F.broadcast(nd))
              .withColumn(
                  "tfidf6",
                  F.round(F.col("tf").cast("double")
                          * F.log(F.col("n_docs") / F.col("df_t"))
                          * 1_000_000).cast("bigint")))
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf6"), F.asc("term"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(F.col(id_col), "term",
                    F.col("tf").cast("bigint").alias("tf"),
                    F.col("df_t").cast("bigint").alias("df_t"),
                    "tfidf6", "rk"))


def with_novelty(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", n: int = 3) -> DataFrame:
    """Shingle-novelty score: the fraction of a document's DISTINCT
    n-token shingles that occur in NO other document (corpus df == 1)
    — the inverse boilerplate signal (site chrome, licence blocks and
    templated text share shingles corpus-wide and score low; unique
    prose scores high). Complements the within-doc repetition family:
    repetition measures self-similarity, novelty measures
    cross-corpus similarity.

    Scale shape: the near-dup family's exploded-shingle generator
    (one codegen explode), a map-side-combined df groupBy on the
    shingle key, one equi join back and one groupBy(id). A df==1 test
    only ever needs the count capped at 2 — at extreme scale the df
    table can be pre-capped (HAVING count <= 1 semi-join) to shrink
    the join's build side; here the plain join keeps the oracle shape
    identical.

    Output: (id, n_shingles, n_novel, novelty6) over distinct
    shingles; the family-wide null=='' convention applies (empty docs
    share the '' shingle and so score 0 whenever two exist).
    """
    from .dedup import shingles_exploded
    sh = shingles_exploded(df, id_col, text_col, n).distinct()
    dfq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
    novel = F.sum(F.when(F.col("_df") == 1, 1).otherwise(0))
    return (sh.join(dfq, "s")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
                 novel.cast("bigint").alias("n_novel"))
            .withColumn("novelty6",
                        F.round(F.col("n_novel").cast("double")
                                / F.col("n_shingles") * 1_000_000)
                        .cast("bigint")))
