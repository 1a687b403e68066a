"""Mention-pair generation + vectorized pairwise scoring
(SURVEY J3, X1-X8, C1).

Pair generation is the record-linkage quadratic danger zone: a block
with B mentions has B(B-1)/2 pairs. We bound it with a neighbor-window
cap — each mention pairs with its next `pair_window` neighbors in
deterministic (mention_id) order within the block. A clique's pairs
are thinned to a banded chain, and the downstream connected-components
step restores full cluster membership transitively (this is WHY the
pipeline needs CC at all, and what the chain-shaped fixture components
exercise). Dropped-pair counts are surfaced via ops.metrics.

Scoring runs as ONE vectorized Arrow-batched pandas UDF over the pair
feature columns — batched Jaro-Winkler + Levenshtein (numpy kernels,
metrics_udf) combined with the commonness×senseprob features. No
per-row Python anywhere (north rule).

When the kernel runs: every same-sense pair scores at least
``SCORE_FLOOR`` (the formula's constant term) unless its score is NaN,
so a match threshold in (0, SCORE_FLOOR] — the default 0.5 is one —
decides edges from the kernel's inputs alone. ``edges_from_scores``
then never reads ``pair_score``, Catalyst prunes the UDF, and the
default pipeline starts no Python worker. ``score_pairs`` always
attaches the kernel score, so a caller that reads ``pair_score`` (or a
threshold above the floor) still runs the kernel.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StructField,
                               StructType)

from .config import DEFAULT, SemlinkConfig
from .metrics_udf import jaro_winkler_batch, levenshtein_batch

# the constant term of pair_score_udf: a same-sense pair's score is
# this plus non-negative terms, or NaN (see edges_from_scores)
SCORE_FLOOR = 0.55


@F.pandas_udf(DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(jaro_winkler_batch(a, b))


# return type built as objects, NOT a DDL string: string types are
# parsed through the active SparkContext at decoration (= import)
# time, which would make importing this module require a live session
_AG_TYPE = StructType([StructField("score", LongType()),
                       StructField("sim6", LongType())])


@F.pandas_udf(_AG_TYPE)
def affine_gap_udf(a: pd.Series, b: pd.Series) -> pd.DataFrame:
    """Gotoh affine-gap alignment (metrics_udf.affine_gap_batch): raw
    integer score + scaled-bigint max-length-normalized similarity in
    one Arrow pass."""
    from .metrics_udf import affine_gap_batch, affine_gap_sim6
    return pd.DataFrame({"score": affine_gap_batch(a, b),
                         "sim6": affine_gap_sim6(a, b)})


def monge_elkan(pairs: "DataFrame", a_col: str = "a", b_col: str = "b",
                out_col: str = "me6") -> "DataFrame":
    """Directed Monge-Elkan similarity ME(a→b) = mean over a's token
    OCCURRENCES of the best Jaro-Winkler match among b's tokens
    (Monge & Elkan, KDD 1996) — the standard hybrid token/edit
    similarity for multi-word names in record linkage.

    Returns one row per input pair: (a, b, out_col) with the
    scaled-bigint convention. Determinism: the per-token-pair JW goes
    through round(x*1e6)::bigint BEFORE any aggregation, so the
    cross-token max and the occurrence sum are exact BIGINT ops under
    any partitioning; the single mean divide is one IEEE op mirrored
    by the oracle. Shape: two sequential explodes (bounded by token
    counts, never a relational cartesian), ONE Arrow-batched JW
    kernel pass, two map-side-combined groupBys keyed on the pair."""
    toks = lambda c: F.array_remove(  # noqa: E731
        F.split(F.trim(F.col(c)), r" +"), "")
    t = (pairs.select(a_col, b_col,
                      F.posexplode(toks(a_col)).alias("_pa", "_ta"))
         .select(a_col, b_col, "_pa", "_ta",
                 F.explode(toks(b_col)).alias("_tb")))
    jw6 = F.round(jaro_winkler_udf(F.col("_ta"), F.col("_tb"))
                  * 1_000_000).cast("bigint")
    best = (t.withColumn("_jw6", jw6)
            .groupBy(a_col, b_col, "_pa")
            .agg(F.max("_jw6").alias("_mx")))
    return (best.groupBy(a_col, b_col)
            .agg(F.round(F.sum("_mx").cast("double")
                         / F.count(F.lit(1)))
                 .cast("bigint").alias(out_col)))


@F.pandas_udf(DoubleType())
def pair_score_udf(ngram_l: pd.Series, ngram_r: pd.Series,
                   same_sense: pd.Series, prior_l: pd.Series,
                   prior_r: pd.Series, sense_prob_l: pd.Series,
                   sense_prob_r: pd.Series) -> pd.Series:
    """X8: one Arrow batch in, one score vector out.

    score = 1[same resolved sense] * (SCORE_FLOOR + 0.25*JW
            + 0.10*(1 - lev/len)
            + 0.10 * sqrt(prior_l*prior_r * senseprob-lift))

    The indicator dominates (an edge requires agreeing senses); the
    string-similarity and commonness terms grade edge confidence and
    are what BENCH measures as the vectorized-kernel hot path.
    """
    import numpy as np
    # Kernel-input reduction (round 6), result bit-identical:
    # - the same-sense indicator MULTIPLIES the whole sum, so the DP
    #   kernels are only evaluated where it is nonzero (cross-sense
    #   block negatives score exactly 0.0 either way);
    # - within a block most same-sense pairs share identical surface
    #   strings, so the kernels run once per DISTINCT (l, r) string
    #   pair per batch and results scatter back (the kernels are pure
    #   functions of the strings, so gather == recompute).
    ind = same_sense.to_numpy().astype("float64")
    n = len(ind)
    jw = np.zeros(n)
    lev_sim = np.zeros(n)
    m = ind != 0.0
    if m.any():
        am = ngram_l[m].fillna("")
        bm = ngram_r[m].fillna("")
        codes, _u = pd.factorize(am.str.cat(bm, sep="\x00"))
        _ucodes, first = np.unique(codes, return_index=True)
        ua, ub = am.iloc[first], bm.iloc[first]
        jw_u = jaro_winkler_batch(ua, ub)
        lev_u = levenshtein_batch(ua, ub).astype("float64")
        max_len_u = np.maximum(
            ua.str.len().to_numpy(),
            ub.str.len().to_numpy()).clip(min=1)
        jw[m] = jw_u[codes]
        lev_sim[m] = (1.0 - lev_u / max_len_u)[codes]
    commonness = np.sqrt(
        prior_l.to_numpy() * prior_r.to_numpy()
        * np.minimum(1.0, sense_prob_l.to_numpy() + sense_prob_r.to_numpy()))
    s = ind * (SCORE_FLOOR + 0.25 * jw + 0.10 * lev_sim + 0.10 * commonness)
    return pd.Series(s)


def mention_pairs(resolved: DataFrame, cfg: SemlinkConfig = DEFAULT,
                  pair_window: int = 8,
                  include_block_negatives: bool = True) -> DataFrame:
    """J3: banded pairs, deterministic.

    Connectivity pairs are banded within the COMPOSITE blocking key
    (ngram_norm, resolved target): a same-sense clique of size B is
    thinned to a B-node chain band that CC closes transitively. Banding
    on ngram_norm alone is WRONG — in a mixed-sense block, same-sense
    neighbors can sit arbitrarily far apart in mention order and the
    chain breaks (caught by the small-scale F1 gate at band=8).

    ``include_block_negatives`` adds a thin band of cross-sense pairs
    per raw block so the scorer is exercised on hard negatives (they
    score below threshold and never become edges).

    The shuffle key is the composite block; the window sort gives every
    mention a stable rank, and the band predicate keeps only
    0 < rank_r - rank_l ≤ pair_window.
    """
    w = Window.partitionBy("ngram_norm", "target_id").orderBy("mention_id")
    base = resolved.select(
        "mention_id", "ngram_norm", "ngram", "conv_id",
        "target_id", "prior_prob", "sense_prob",
    ).withColumn("rk", F.row_number().over(w))
    if include_block_negatives:
        wb = Window.partitionBy("ngram_norm").orderBy("mention_id")
        base_b = base.withColumn("rkb", F.row_number().over(wb))

    def side(df, prefix, rank_col, join_keys):
        return df.select(
            *join_keys,
            F.col("mention_id").alias(f"{prefix}_mention_id"),
            F.col("ngram").alias(f"ngram_{prefix[0]}"),
            F.col("target_id").alias(f"target_{prefix[0]}"),
            F.col("prior_prob").alias(f"prior_{prefix[0]}"),
            F.col("sense_prob").alias(f"sense_prob_{prefix[0]}"),
            F.col(rank_col).alias(f"rk_{prefix[0]}"))

    # ALL pair joins below are pure equi joins — a band predicate as a
    # post-join filter would make Spark materialize the full B×B cross
    # product per block (measured: 3.6e9 intermediate rows for a 60k-
    # mention hot block). Instead the left side explodes its band
    # offsets (rank+1..rank+window) and joins on the exact right rank.
    keys = ["ngram_norm", "target_id"]
    l = side(base, "left", "rk", keys).withColumnRenamed("target_id", "tk")
    r = side(base, "right", "rk", keys).withColumnRenamed("target_id", "tk")

    l_band = l.withColumn(
        "rk_r", F.explode(F.expr(
            f"sequence(rk_l + 1, rk_l + {int(pair_window)})")))
    band = l_band.join(r, ["ngram_norm", "tk", "rk_r"]).drop("tk")

    # hub pairs: everyone ⋈ the rank-1 mention of the composite block —
    # keeps component diameter at 2 so CC converges in O(1) rounds
    # (a 15k-mention block as a pure band-chain needed ~11 supersteps);
    # rk_r > window+1 avoids re-emitting band pairs. 1×B per block.
    hub = (l.filter(F.col("rk_l") == 1)
           .join(r, ["ngram_norm", "tk"]).drop("tk")
           .filter(F.col("rk_r") > pair_window + 1))
    pairs = band.unionByName(hub)

    if include_block_negatives:
        lb = side(base_b.drop("rk"), "left", "rkb", ["ngram_norm"])
        rb = side(base_b.drop("rk"), "right", "rkb", ["ngram_norm"])
        lb2 = lb.withColumn(
            "rk_r", F.explode(F.expr("sequence(rk_l + 1, rk_l + 2)")))
        neg = (lb2.join(rb, ["ngram_norm", "rk_r"])
               .filter(F.col("target_l") != F.col("target_r")))
        pairs = pairs.unionByName(neg)
    # no dedup shuffle needed: band/hub/negative sets are disjoint by
    # construction and each emits an unordered pair at most once
    return pairs


def score_pairs(pairs: DataFrame, cfg: SemlinkConfig = DEFAULT) -> DataFrame:
    """X8: attach the vectorized pair score. The kernel (and its Python
    workers) runs only when a plan reads ``pair_score``: a threshold
    above ``SCORE_FLOOR`` in ``edges_from_scores``, or a caller that
    materializes the scored pairs. At the default threshold the edges
    plan prunes it."""
    return pairs.withColumn(
        "pair_score",
        pair_score_udf(
            F.lower(F.col("ngram_l")), F.lower(F.col("ngram_r")),
            (F.col("target_l") == F.col("target_r")).cast("double"),
            F.col("prior_l"), F.col("prior_r"),
            F.col("sense_prob_l"), F.col("sense_prob_r")))


def _kernel_scores_a_number() -> Column:
    """True exactly where pair_score_udf returns a number (not NaN, which
    reaches Spark as NULL) for a same-sense pair. Its JW and Levenshtein
    terms are finite and in [0, 1], so that is where the commonness
    sqrt(prior_l * prior_r * minimum(1, sense_prob_l + sense_prob_r)) is
    not NaN. Spark's least() skips NULL and orders NaN above every
    number, where numpy's minimum propagates both, so the sum is tested
    explicitly; Spark also orders NaN above 0, so isnan comes before the
    sign test."""
    sp = F.col("sense_prob_l") + F.col("sense_prob_r")
    c = F.col("prior_l") * F.col("prior_r") * F.least(F.lit(1.0), sp)
    return ((F.col("target_l") == F.col("target_r"))
            & sp.isNotNull() & ~F.isnan(sp)
            & c.isNotNull() & ~F.isnan(c) & (c >= 0))


def edges_from_scores(scored: DataFrame,
                      cfg: SemlinkConfig = DEFAULT) -> DataFrame:
    """C1: thresholded, canonical-ordered, deduped undirected edges.

    For a threshold t in (0, SCORE_FLOOR] the edge set is decided
    without the kernel: cross-sense pairs score 0.0 or NaN (never an
    edge), and a same-sense pair scores at least SCORE_FLOOR >= t
    unless its score is NaN. The predicate reads only the kernel's
    inputs, so Catalyst prunes ``pair_score`` and the plan runs no
    Python. Any other threshold compares ``pair_score`` itself."""
    t = cfg.match_threshold
    if 0 < t <= SCORE_FLOOR:
        e = scored.filter(_kernel_scores_a_number())
    else:
        e = scored.filter(F.col("pair_score") >= t)
    # mention_pairs emits unique unordered pairs, so no distinct here;
    # CC's per-round distinct() canonicalizes anyway
    return (e.select(
        F.least("left_mention_id", "right_mention_id").alias("src"),
        F.greatest("left_mention_id", "right_mention_id").alias("dst"))
        .filter(F.col("src") != F.col("dst")))


def soft_tfidf(pairs: DataFrame, corpus: DataFrame,
               a_col: str = "a", b_col: str = "b",
               doc_col: str = "doc", theta6: int = 900_000,
               out_col: str = "st6") -> DataFrame:
    """Directed soft-TF-IDF similarity (Cohen, Ravikumar & Fienberg,
    IIWeb 2003) — THE hybrid comparison for multi-word names: token
    TF-IDF cosine, but a token of ``a`` may match any token of ``b``
    whose Jaro-Winkler clears theta (CLOSE set), contributing
    V'(t,a) * V'(argmax v,b) * maxJW instead of requiring equality.

        STFIDF(a,b) = sum over t in a, maxJW(t,b) > theta of
                      V'(t,a) * V'(v*,b) * maxJW(t,b)

    IDF comes from ``corpus`` (one row per document under
    ``doc_col``); both sides of every pair must be corpus documents.

    Determinism under any partitioning, per the repo convention —
    quantize BEFORE aggregating: idf6 = round(1e6*ln(N/df)) is one
    ln per distinct token; the un-normalized weight tf*idf6 and the
    norm accumulator sum((tf*idf6)^2) stay exact BIGINTs, so the
    only float ops are the fixed-shape normalize divide
    (wq/sqrt(norm2)) and the final 3-factor term product, each
    mirrored verbatim by the oracle. The argmax v* is made TOTAL by
    ranking on (jw6 DESC, partner weight DESC, token ASC); each
    close term is re-quantized to BIGINT before the per-pair sum.

    Scale: token explodes are bounded by name lengths; JW runs as
    the ONE Arrow-batched kernel pass; every join/groupBy is keyed
    by pair or token — no cartesian beyond the per-pair token cross
    (|a|·|b| tokens, names not documents)."""
    toks = lambda c: F.array_remove(  # noqa: E731
        F.split(F.trim(F.col(c)), r" +"), "")
    dtok = corpus.select(F.col(doc_col).alias("_doc"),
                         F.explode(toks(doc_col)).alias("_t"))
    tf = dtok.groupBy("_doc", "_t").agg(
        F.count(F.lit(1)).cast("bigint").alias("_tf"))
    ndocs = corpus.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    dfq = tf.groupBy("_t").agg(
        F.count(F.lit(1)).cast("bigint").alias("_df"))
    idf = dfq.crossJoin(F.broadcast(ndocs)).select(
        "_t",
        F.round(F.log(F.col("_n").cast("double")
                      / F.col("_df").cast("double")) * 1_000_000)
        .cast("bigint").alias("_idf6"))
    w = tf.join(idf, "_t").select(
        "_doc", "_t", (F.col("_tf") * F.col("_idf6")).alias("_wq"))
    # norm via a doc-keyed window, not groupBy + self-join: the w
    # subtree would otherwise appear twice per consumer (4 corpus
    # passes in the pair plan instead of 2)
    # a doc whose every token is corpus-universal (all idf6 = 0) has
    # zero norm and no defined direction: weights 0, contributions 0
    # — never 0.0/0.0 NaN, which casts engine-dependently (review r5)
    wn = w.withColumn(
        "_n2", F.sum(F.col("_wq") * F.col("_wq"))
        .over(Window.partitionBy("_doc")).cast("bigint")).select(
        "_doc", "_t", "_wq",
        F.when(F.col("_n2") > 0,
               F.col("_wq").cast("double")
               / F.sqrt(F.col("_n2").cast("double")))
        .otherwise(F.lit(0.0)).alias("_wn"))
    ta = wn.select(F.col("_doc").alias(a_col), F.col("_t").alias("_ta"),
                   F.col("_wn").alias("_wna"))
    tb = wn.select(F.col("_doc").alias(b_col), F.col("_t").alias("_tb"),
                   F.col("_wq").alias("_wqb"), F.col("_wn").alias("_wnb"))
    cross = pairs.select(a_col, b_col).join(ta, a_col).join(tb, b_col)
    jw6 = F.round(jaro_winkler_udf(F.col("_ta"), F.col("_tb"))
                  * 1_000_000).cast("bigint")
    ranked = cross.withColumn("_jw6", jw6).withColumn(
        "_rk", F.row_number().over(
            Window.partitionBy(a_col, b_col, "_ta")
            .orderBy(F.desc("_jw6"), F.desc("_wqb"), F.asc("_tb"))))
    close = ranked.filter((F.col("_rk") == 1)
                          & (F.col("_jw6") > theta6))
    term6 = F.round(
        (F.col("_wna") * F.col("_wnb")
         * (F.col("_jw6").cast("double") / F.lit(1_000_000.0)))
        * 1_000_000).cast("bigint")
    scored = close.withColumn("_term6", term6).groupBy(a_col, b_col).agg(
        F.sum("_term6").cast("bigint").alias("_st"))
    return (pairs.join(scored, [a_col, b_col], "left")
            .withColumn(out_col,
                        F.coalesce("_st", F.lit(0)).cast("bigint"))
            .drop("_st"))
