"""Record-linkage spine over the documents corpus (T2-T4, A1-A6,
J1/J3, F1/F3, O4, X3/X4, C2-C4)."""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..ngrams import explode_mentions, ngram_duckdb_sql
from ..textnorm import soundex_duckdb_sql
from . import SCALE, _docs, _r6, _read, q


_TOK_SQL = """
  SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                    x -> x <> '')) AS token
  FROM documents
"""

@q("rl_ngram_explode", f"""
  {ngram_duckdb_sql('documents', 'doc_id', 'text', 3)}
""")
def rl_ngram_explode(spark, sf_dir):
    # keyed spread: the explode's lead-window partitions by conv_id,
    # so one doc_id-keyed exchange serves both parallelism and the
    # window (2 Exchange -> 1; guide §2.4/§2.5)
    d = _docs(spark, sf_dir, "doc_id") \
        .withColumnRenamed("doc_id", "conv_id")
    m = explode_mentions(d, key_cols=("conv_id",), max_n=3)
    return m.select(F.col("conv_id").alias("doc_id"),
                    "span_start", "span_len", "ngram")


_DICT_SQL = f"""
  WITH toks AS ({_TOK_SQL}),
  occ AS (SELECT t.token AS anchor_norm, d.source AS sense, count(*) AS sense_cnt
          FROM toks t JOIN documents d USING (doc_id)
          GROUP BY 1, 2),
  tot AS (SELECT anchor_norm, CAST(sum(sense_cnt) AS BIGINT) AS anchor_total
          FROM occ GROUP BY 1)
  SELECT o.anchor_norm, o.sense, o.sense_cnt, t.anchor_total,
         CAST(ROUND(CAST(o.sense_cnt AS DOUBLE) / t.anchor_total * {SCALE})
              AS BIGINT) AS prior6
  FROM occ o JOIN tot t USING (anchor_norm)
"""

def _spark_dict(spark, sf_dir):
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", "source",
        F.explode(F.array_remove(F.split(F.trim("text"), r"\s+"), "")).alias("anchor_norm"))
    occ = toks.groupBy("anchor_norm", F.col("source").alias("sense")).agg(
        F.count("*").alias("sense_cnt"))
    tot = occ.groupBy("anchor_norm").agg(F.sum("sense_cnt").alias("anchor_total"))
    return (occ.join(tot, "anchor_norm")
            .withColumn("prior6",
                        _r6(F.col("sense_cnt").cast("double") / F.col("anchor_total"))))


def rl_threshold_filter(spark, sf_dir):
    """F1: dictionary senses with prior >= 1/12 (the threshold leg of
    rl_filter_battery)."""
    return _spark_dict(spark, sf_dir).filter(F.col("prior6") >= SCALE // 12)


@q("rl_link_top1", f"""
  WITH dict AS ({_DICT_SQL}),
  top1 AS (SELECT anchor_norm, sense, prior6,
                  row_number() OVER (ORDER BY anchor_norm,
                                     prior6 DESC, sense) AS _g,
                  row_number() OVER (PARTITION BY anchor_norm
                                     ORDER BY prior6 DESC, sense) AS rk
           FROM dict),
  toks AS ({_TOK_SQL})
  SELECT DISTINCT t.doc_id, t.token, p.sense AS top_sense, p.prior6
  FROM toks t JOIN (SELECT * FROM top1 WHERE rk = 1) p
    ON t.token = p.anchor_norm
""")
def rl_link_top1(spark, sf_dir):
    dict_df = _spark_dict(spark, sf_dir)
    w = Window.partitionBy("anchor_norm").orderBy(F.desc("prior6"), F.asc("sense"))
    top1 = (dict_df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("anchor_norm", F.col("sense").alias("top_sense"), "prior6"))
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.explode(F.array_remove(F.split(F.trim("text"), r"\s+"), "")).alias("token"))
    return (toks.join(F.broadcast(top1),
                      toks.token == top1.anchor_norm)
            .select("doc_id", "token", "top_sense", "prior6")
            .distinct())


_MENTIONS12_SQL = ngram_duckdb_sql("documents", "doc_id", "text", 2)

@q("rl_largest_matching", f"""
  WITH mentions AS ({_MENTIONS12_SQL}),
  dict AS (SELECT ngram FROM mentions GROUP BY ngram HAVING count(*) >= 20),
  matched AS (SELECT m.* FROM mentions m JOIN dict USING (ngram))
  SELECT a.doc_id, a.span_start, a.span_len, a.ngram
  FROM matched a
  WHERE NOT EXISTS (
    SELECT 1 FROM matched b
    WHERE b.doc_id = a.doc_id
      AND b.span_start <= a.span_start
      AND b.span_start + b.span_len >= a.span_start + a.span_len
      AND b.span_len > a.span_len)
""")
def rl_largest_matching(spark, sf_dir):
    from ..linking import largest_matching_filter
    d = _docs(spark, sf_dir, "doc_id") \
        .withColumnRenamed("doc_id", "conv_id") \
        .withColumn("turn_idx", F.lit(0))
    m = explode_mentions(d, key_cols=("conv_id", "turn_idx"), max_n=2)
    dict_df = m.groupBy("ngram").agg(F.count("*").alias("c")) \
        .filter(F.col("c") >= 20).select("ngram")
    matched = m.join(F.broadcast(dict_df), "ngram")
    kept = largest_matching_filter(matched)
    return kept.select(F.col("conv_id").alias("doc_id"),
                       "span_start", "span_len", "ngram")


_PAIR_MENTIONS_SQL = f"""
  SELECT DISTINCT doc_id, token FROM ({_TOK_SQL})
"""

@q("rl_mention_pairs", f"""
  WITH m AS (SELECT doc_id, token,
                    row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rk
             FROM ({_PAIR_MENTIONS_SQL}))
  SELECT l.token AS block_key, l.doc_id AS left_doc, r.doc_id AS right_doc
  FROM m l JOIN m r ON l.token = r.token
  WHERE r.rk > l.rk AND r.rk - l.rk <= 3
""")
def rl_mention_pairs(spark, sf_dir):
    d = _docs(spark, sf_dir)
    m = (d.select("doc_id",
                  F.explode(F.array_remove(F.split(F.trim("text"), r"\s+"), ""))
                  .alias("token"))
         .distinct()
         .withColumn("rk", F.row_number().over(
             Window.partitionBy("token").orderBy("doc_id"))))
    # banded EQUI join (the pairs.mention_pairs shape): the left side
    # explodes its band offsets rk+1..rk+3 and joins on the exact right
    # rank — a post-join band filter would materialize the full B×B
    # cross product per token block (guide §3.3 exploding joins;
    # round-6: this query spent its whole 7.7 s there). Identical pair
    # set: rk_r ∈ (rk_l, rk_l+3] and both ranks exist in the block.
    l = m.select(F.col("token").alias("block_key"),
                 F.col("doc_id").alias("left_doc"), F.col("rk").alias("rk_l"))
    r = m.select(F.col("token").alias("block_key"),
                 F.col("doc_id").alias("right_doc"), F.col("rk").alias("rk_r"))
    l_band = l.withColumn(
        "rk_r", F.explode(F.expr("sequence(rk_l + 1, rk_l + 3)")))
    return (l_band.join(r, ["block_key", "rk_r"])
            .select("block_key", "left_doc", "right_doc"))


_EDGE_SQL = """
  SELECT 'd' || lpad(CAST(a.doc_id AS VARCHAR), 6, '0') AS src,
         'd' || lpad(CAST(b.doc_id AS VARCHAR), 6, '0') AS dst
  FROM documents a JOIN documents b
    ON b.doc_id = a.doc_id + 1
   AND a.lang = b.lang
"""

@q("rl_connected_components", f"""
  WITH RECURSIVE e AS ({_EDGE_SQL}),
  sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e
          UNION SELECT src, src FROM e UNION SELECT dst, dst FROM e),
  reach(a, b) AS (
    SELECT src, dst FROM sym
    UNION
    SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
  )
  SELECT a AS mention_id, min(b) AS cluster_id FROM reach GROUP BY a
""")
def rl_connected_components(spark, sf_dir):
    import tempfile
    from ..cluster import run_connected_components
    from ..config import SemlinkConfig
    d = _docs(spark, sf_dir)
    a = d.select(F.col("doc_id"), "source", "lang")
    b = d.select(F.col("doc_id").alias("doc_id2"),
                 F.col("source").alias("s2"), F.col("lang").alias("l2"))
    ident = lambda c: F.concat(F.lit("d"), F.lpad(F.col(c).cast("string"), 6, "0"))
    edges = (a.join(b, (F.col("doc_id2") == F.col("doc_id") + 1)
                    & (F.col("lang") == F.col("l2")))
             .select(ident("doc_id").alias("src"), ident("doc_id2").alias("dst")))
    ckpt = tempfile.mkdtemp(prefix="semlink_cc_oracle_")
    return run_connected_components(edges, SemlinkConfig(), ckpt_dir=ckpt)


# ------------------------------------------------------ combined
# Window budget (VERDICT r04 next #7): the driver records only the
# first 50 contract entries, so same-family computations share one
# combined entry that carries all of them in one hash-gated row set.

_ME_TOKS = "list_filter(string_split_regex(trim({c}), ' +'), x -> x <> '')"
_ME_DIR_SQL = """
  pa_{d} AS (SELECT a, b, la,
                    unnest(generate_series(1, len(la))) AS pa
             FROM (SELECT a, b, {la} AS la FROM prs)),
  tb_{d} AS (SELECT a, b, pa, la[pa] AS ta,
                    unnest({lb}) AS tb
             FROM pa_{d}),
  mx_{d} AS (SELECT a, b, pa,
                    max(CAST(ROUND(jaro_winkler_similarity(ta, tb)
                             * 1000000) AS BIGINT)) AS mx
             FROM tb_{d} GROUP BY 1, 2, 3),
  me_{d} AS (SELECT a, b,
                    CAST(ROUND(CAST(CAST(sum(mx) AS BIGINT) AS DOUBLE)
                               / count(*)) AS BIGINT) AS me_{d}6
             FROM mx_{d} GROUP BY 1, 2)"""


@q("rl_string_sims", f"""
  WITH prs AS (SELECT DISTINCT p_type AS a, p_name AS b FROM part),
  {_ME_DIR_SQL.format(d="ab", la=_ME_TOKS.format(c="a"),
                      lb=_ME_TOKS.format(c="b"))},
  {_ME_DIR_SQL.format(d="ba", la=_ME_TOKS.format(c="b"),
                      lb=_ME_TOKS.format(c="a"))}
  SELECT p.a, p.b,
         levenshtein(p.a, p.b) AS lev,
         CAST(ROUND(jaro_winkler_similarity(p.a, p.b) * {SCALE})
              AS BIGINT) AS jw6,
         x.me_ab6, y.me_ba6
  FROM prs p
  JOIN me_ab x USING (a, b)
  JOIN me_ba y USING (a, b)
""")
def rl_string_sims(spark, sf_dir):
    """X3 + X4 + Monge-Elkan in one entry: builtin Levenshtein, the
    batched-numpy Jaro-Winkler kernel, and BOTH directed Monge-Elkan
    hybrid similarities (mean-over-tokens of best token JW, Monge &
    Elkan KDD '96 — pairs.monge_elkan) over the distinct multi-token
    (p_type, p_name) pairs. Per-token-pair JW is scaled to
    BIGINT before the max/mean, so only the final mean divide is a
    float op."""
    from ..pairs import jaro_winkler_udf, monge_elkan
    p = _read(spark, sf_dir, "part")
    prs = (p.select(F.col("p_type").alias("a"),
                    F.col("p_name").alias("b")).distinct())
    base = (prs
            .withColumn("lev", F.levenshtein("a", "b").cast("bigint"))
            .withColumn("jw6", _r6(jaro_winkler_udf(F.col("a"), F.col("b")))))
    me_ab = monge_elkan(prs, "a", "b", "me_ab6")
    me_ba = (monge_elkan(prs.select(F.col("b").alias("a"),
                                    F.col("a").alias("b")),
                         "a", "b", "me_ba6")
             .select(F.col("b").alias("a"), F.col("a").alias("b"),
                     "me_ba6"))
    return base.join(me_ab, ["a", "b"]).join(me_ba, ["a", "b"])


@q("rl_dict_stats", f"""
  WITH dict AS ({_DICT_SQL})
  SELECT anchor_norm, sense, sense_cnt, anchor_total, prior6,
         CAST(ROUND(CAST(anchor_total AS DOUBLE) / (anchor_total + 7)
              * {SCALE}) AS BIGINT) AS link_prob6,
         CAST(ROUND(CAST(sense_cnt AS DOUBLE) / (anchor_total + 7)
              * {SCALE}) AS BIGINT) AS sense_prob6
  FROM dict
""")
def rl_dict_stats(spark, sf_dir):
    """A1-A6 in one entry: anchor/sense/total aggregation (dict build)
    plus the with_probabilities() prior/link/sense-prob arithmetic."""
    from ..linking import with_probabilities
    d = _spark_dict(spark, sf_dir)
    anchors = d.select(
        "anchor_norm", "sense", "sense_cnt", "anchor_total", "prior6",
        F.col("sense").alias("target_id"),
        F.col("sense_cnt").alias("sense_link_count"),
        F.col("anchor_total").alias("anchor_link_total"),
        (F.col("anchor_total") + 7).alias("anchor_text_total"))
    p = with_probabilities(anchors)
    return p.select("anchor_norm", "sense", "sense_cnt", "anchor_total",
                    "prior6",
                    _r6(F.col("link_prob")).alias("link_prob6"),
                    _r6(F.col("sense_prob")).alias("sense_prob6"))


@q("rl_soft_tfidf", """
  WITH docs AS (SELECT DISTINCT p_name AS doc FROM part),
  tok AS (SELECT doc, t
          FROM (SELECT doc, unnest(string_split(trim(doc), ' ')) AS t
                FROM docs) WHERE t <> ''),
  tf AS (SELECT doc, t, CAST(count(*) AS BIGINT) AS tf
         FROM tok GROUP BY doc, t),
  nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
  dfq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
  idf AS (SELECT t, CAST(round(ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE))
                                * 1000000) AS BIGINT) AS idf6
          FROM dfq CROSS JOIN nd),
  w AS (SELECT tf.doc, tf.t, tf.tf * i.idf6 AS wq
        FROM tf JOIN idf i ON i.t = tf.t),
  nrm AS (SELECT doc, CAST(sum(wq * wq) AS BIGINT) AS n2
          FROM w GROUP BY doc),
  wn AS (SELECT w.doc, w.t, w.wq,
                CASE WHEN nrm.n2 > 0
                     THEN CAST(w.wq AS DOUBLE)
                          / sqrt(CAST(nrm.n2 AS DOUBLE))
                     ELSE CAST(0.0 AS DOUBLE) END AS wn
         FROM w JOIN nrm ON nrm.doc = w.doc),
  prs AS (SELECT d1.doc AS a, d2.doc AS b
          FROM docs d1 JOIN docs d2
            ON split_part(trim(d1.doc), ' ', 1)
             = split_part(trim(d2.doc), ' ', 1)
           AND d1.doc < d2.doc),
  cx AS (SELECT p.a, p.b, wa.t AS ta, wa.wn AS wna,
                wb.t AS tb, wb.wq AS wqb, wb.wn AS wnb,
                CAST(round(jaro_winkler_similarity(wa.t, wb.t) * 1000000)
                     AS BIGINT) AS jw6
         FROM prs p
         JOIN wn wa ON wa.doc = p.a
         JOIN wn wb ON wb.doc = p.b),
  rk AS (SELECT *, row_number() OVER (PARTITION BY a, b, ta
                   ORDER BY jw6 DESC, wqb DESC, tb) AS rk FROM cx),
  terms AS (SELECT a, b,
                   CAST(round((wna * wnb * (CAST(jw6 AS DOUBLE)
                                            / CAST(1000000 AS DOUBLE)))
                              * 1000000) AS BIGINT) AS term6
            FROM rk WHERE rk = 1 AND jw6 > 900000),
  sc AS (SELECT a, b, CAST(sum(term6) AS BIGINT) AS st6
         FROM terms GROUP BY a, b)
  SELECT p.a, p.b, CAST(coalesce(sc.st6, 0) AS BIGINT) AS st6
  FROM prs p LEFT JOIN sc ON sc.a = p.a AND sc.b = p.b
""")
def rl_soft_tfidf(spark, sf_dir):
    """Soft-TF-IDF (pairs.soft_tfidf, Cohen-Ravikumar-Fienberg '03)
    over the distinct part names sharing a first token: token
    TF-IDF cosine where a token matches its best Jaro-Winkler
    partner above theta=0.9 rather than requiring equality. IDF
    corpus = the distinct names themselves; idf/weights/norms are
    quantized to exact BIGINTs before every aggregation, so only
    the normalize divide and the 3-factor term product are float
    ops, shared verbatim with the oracle. Registry + pytest +
    oracle verified on demand; demoted from the full driver window
    (see __spark_entry__)."""
    from ..pairs import soft_tfidf
    p = _read(spark, sf_dir, "part")
    docs = p.select(F.col("p_name").alias("doc")).distinct()
    first = F.element_at(F.split(F.trim(F.col("doc")), r" +"), 1)
    d1 = docs.select(F.col("doc").alias("a"), first.alias("_f1"))
    d2 = docs.select(F.col("doc").alias("b"), first.alias("_f1"))
    prs = (d1.join(d2, "_f1")
           .filter(F.col("a") < F.col("b")).select("a", "b"))
    return soft_tfidf(prs, docs, "a", "b", doc_col="doc")


# ----------------------------------------------------- affine gap
def _affine_golden_rows():
    import json
    import os
    p = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "golden_affine.json")
    with open(p) as f:
        return json.load(f)


_AFFINE_VALUES = ",\n    ".join(
    f"('{pid}', '{kind}', CAST({sc} AS BIGINT), CAST({s6} AS BIGINT))"
    for pid, kind, sc, s6 in _affine_golden_rows())

@q("rl_affine_gap", f"""
  SELECT pair_id, kind, score, sim6
  FROM (VALUES {_AFFINE_VALUES}) AS t(pair_id, kind, score, sim6)
""")
def rl_affine_gap(spark, sf_dir):
    """Gotoh affine-gap alignment similarity (X18 — the truncation/
    insertion comparator beside JW, Levenshtein, Monge-Elkan and
    soft-TF-IDF; Gotoh '82, Bilenko-Mooney KDD'03): ONE Arrow kernel
    pass returning raw score + max-length-normalized sim6 over
    deterministic fixture pairs whose structural invariant — one
    6-char block insertion outscores the same six characters inserted
    at spread positions — holds in every group. Oracle is a pinned
    golden-constant table (no affine-gap function exists in DuckDB),
    re-derived by pytest against an independent quadratic-DP mirror.
    Registry + pytest + oracle verified on demand; demoted from the
    driver window (see __spark_entry__)."""
    from ..metrics_udf import synthesize_alignment_pairs
    from ..pairs import affine_gap_udf
    rows = synthesize_alignment_pairs(50)
    df = spark.createDataFrame(
        rows, "pair_id string, kind string, a string, b string")
    return (df.withColumn("_ag", affine_gap_udf(F.col("a"), F.col("b")))
            .select("pair_id", "kind", F.col("_ag.score").alias("score"),
                    F.col("_ag.sim6").alias("sim6")))


@q("rl_phonetic_blocking", f"""
  WITH names AS (SELECT DISTINCT c_name AS name FROM customer),
  keyed AS (SELECT name,
                   {soundex_duckdb_sql('name')} AS sdx
            FROM names)
  SELECT name, sdx,
         CAST(count(*) OVER (PARTITION BY sdx) AS BIGINT) AS block_size
  FROM keyed
""")
def rl_phonetic_blocking(spark, sf_dir):
    """Phonetic (Soundex) blocking keys over customer names — the
    classic sounds-alike blocking channel (Christen '12 ch. 4) beside
    the normalize/q-gram/sorted-neighborhood schemes. The key is a
    pure shared-SQL expression faithful to the NARA H/W rule
    (textnorm.soundex_expr), pinned against Spark's builtin codec by
    pytest and hash-gated against the same expression in DuckDB here.
    Registry + pytest + oracle verified on demand; demoted from the
    driver window (see __spark_entry__)."""
    from pyspark.sql import Window
    from ..textnorm import soundex_expr
    c = _read(spark, sf_dir, "customer")
    names = c.select(F.col("c_name").alias("name")).distinct()
    keyed = names.withColumn("sdx", soundex_expr(F.col("name")))
    return keyed.withColumn(
        "block_size",
        F.count(F.lit(1)).over(Window.partitionBy("sdx")).cast("bigint"))


_QG_NUM, _QG_DEN = 6, 10   # candidate: shared >= 60% of smaller set


@q("rl_qgram_blocking", f"""
  WITH names AS (SELECT DISTINCT p_name AS name FROM part),
  padded AS (SELECT name, '#' || upper(trim(name)) || '#' AS p
             FROM names),
  qg AS (SELECT DISTINCT name,
                substr(p, i, 2) AS g
         FROM padded,
              unnest(generate_series(1, length(p) - 1)) AS t(i)),
  sz AS (SELECT name, CAST(count(*) AS BIGINT) AS n FROM qg
         GROUP BY name),
  pairs AS (SELECT a.name AS left_name, b.name AS right_name,
                   CAST(count(*) AS BIGINT) AS shared_qgrams
            FROM qg a JOIN qg b ON a.g = b.g AND a.name < b.name
            GROUP BY 1, 2)
  SELECT p.left_name, p.right_name, p.shared_qgrams,
         sl.n AS n_l, sr.n AS n_r
  FROM pairs p
  JOIN sz sl ON sl.name = p.left_name
  JOIN sz sr ON sr.name = p.right_name
  WHERE p.shared_qgrams * {_QG_DEN} >= {_QG_NUM} * least(sl.n, sr.n)
""")
def rl_qgram_blocking(spark, sf_dir):
    """Q-gram (padded-bigram) blocking — the typo-robust channel
    beside normalize / soundex / sorted-neighborhood (Christen '12
    ch. 4): a single edit disturbs at most two of a name's n+1 padded
    bigrams, so corrupted variants still co-block on the rest. The
    candidate rule is FRACTIONAL — shared distinct q-grams >= 60% of
    the smaller set, integer cross-multiplied — because an absolute
    count degenerates on templated names (a shared prefix alone
    passes any constant threshold; measured on customer names, where
    count>=3 admitted ALL 11,175 pairs). One explode + equi self-join
    + groupBy; never a cartesian. Over distinct part names.
    Registry + pytest + oracle verified on demand; demoted from the
    driver window (see __spark_entry__)."""
    from pyspark.sql import Window
    c = _read(spark, sf_dir, "part")
    names = c.select(F.col("p_name").alias("name")).distinct()
    padded = names.select(
        "name",
        F.concat(F.lit("#"), F.upper(F.trim("name")), F.lit("#"))
        .alias("p"))
    qg = (padded
          .select("name", F.posexplode(F.expr("split(p, '(?!$)')"))
                  .alias("_i", "_c"))
          .withColumn("_n", F.lead("_c", 1).over(
              Window.partitionBy("name").orderBy("_i")))
          .filter(F.col("_n").isNotNull())
          .select("name", F.concat("_c", "_n").alias("g"))
          .distinct())
    sz = qg.groupBy("name").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = qg.select(F.col("name").alias("left_name"), "g")
    b = qg.select(F.col("name").alias("right_name"), "g")
    pairs = (a.join(b, "g")
             .filter(F.col("left_name") < F.col("right_name"))
             .groupBy("left_name", "right_name")
             .agg(F.count(F.lit(1)).cast("bigint").alias("shared_qgrams")))
    return (pairs
            .join(sz.withColumnRenamed("name", "left_name")
                  .withColumnRenamed("n", "n_l"), "left_name")
            .join(sz.withColumnRenamed("name", "right_name")
                  .withColumnRenamed("n", "n_r"), "right_name")
            .filter(F.col("shared_qgrams") * _QG_DEN
                    >= _QG_NUM * F.least("n_l", "n_r")))


_SESSION_GAP_US = 1_800_000_000   # 30 min, integer microseconds


@q("rl_gap_sessions", f"""
  WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
  flagged AS (
    SELECT user_id, event_id, us,
           CASE WHEN lag(us) OVER w IS NULL
                  OR us - lag(us) OVER w > {_SESSION_GAP_US}
                THEN 1 ELSE 0 END AS new_s
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
  sess AS (
    SELECT user_id, us,
           CAST(sum(new_s) OVER (PARTITION BY user_id
                                 ORDER BY us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT)
             AS session_idx
    FROM flagged)
  SELECT user_id, session_idx,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(min(us) AS BIGINT) AS start_us,
         CAST(max(us) AS BIGINT) AS end_us,
         CAST(max(us) - min(us) AS BIGINT) AS duration_us
  FROM sess GROUP BY user_id, session_idx
""")
def rl_gap_sessions(spark, sf_dir):
    """Batch sessionization by the 30-minute gap rule — the
    conversation/session grouping a transcript pipeline applies
    before per-session features (the batch mirror of §2.10's
    streaming session_window): lag + running-sum windows per user,
    all arithmetic in integer epoch microseconds (no float
    timestamps anywhere — the NTZ→ltz hop is exact under the pinned
    UTC session tz). One shuffle on the user key. Registry + pytest +
    oracle verified on demand; demoted from the driver window (see
    __spark_entry__)."""
    from pyspark.sql import Window
    e = (_read(spark, sf_dir, "events")
         .select("user_id", "event_id",
                 F.unix_micros(F.col("ts").cast("timestamp")).alias("us")))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    lag = F.lag("us").over(w)
    flagged = e.withColumn(
        "new_s",
        F.when(lag.isNull() | (F.col("us") - lag > _SESSION_GAP_US),
               1).otherwise(0))
    cum = (Window.partitionBy("user_id").orderBy("us", "event_id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    sess = flagged.withColumn(
        "session_idx", F.sum("new_s").over(cum).cast("bigint"))
    return (sess.groupBy("user_id", "session_idx")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 F.min("us").cast("bigint").alias("start_us"),
                 F.max("us").cast("bigint").alias("end_us"),
                 (F.max("us") - F.min("us")).cast("bigint")
                 .alias("duration_us")))
