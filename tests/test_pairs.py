"""C1/X8: the score-floor edge predicate decides exactly the edges the
pair-score kernel decides, and keeps the kernel out of the plan."""
import itertools
import math

import pytest
from pyspark.sql import functions as F

from semlink.config import SemlinkConfig
from semlink.pairs import SCORE_FLOOR, edges_from_scores, score_pairs

_SCHEMA = ("left_mention_id string, right_mention_id string, "
           "ngram_l string, ngram_r string, target_l string, "
           "target_r string, prior_l double, prior_r double, "
           "sense_prob_l double, sense_prob_r double")

_INF, _NAN = float("inf"), float("nan")
# signs, zeros of both signs, under/overflowing products, NaN and NULL
_PRIORS = [0.5, 0.0, -0.0, -0.3, None, _NAN, _INF, -_INF,
           1e-200, -1e-200, 1e200]
_SENSES = [0.3, None, _NAN, _INF, -_INF, -0.7, 2.0]


def _rows():
    rows = []

    def add(ng_l, ng_r, t_l, t_r, p_l, p_r, s_l, s_r):
        i = len(rows)
        rows.append((f"m{i:05d}a", f"m{i:05d}b", ng_l, ng_r, t_l, t_r,
                     p_l, p_r, s_l, s_r))

    for p_l, p_r, s_l, s_r in itertools.product(_PRIORS, _PRIORS,
                                                _SENSES, _SENSES):
        add("Alpha", "alpha", "t1", "t1", p_l, p_r, s_l, s_r)
    for p, s in itertools.product(_PRIORS, _SENSES):
        add("Alpha", "beta", "t1", "t2", p, 0.5, s, 0.3)   # cross-sense
        add("Alpha", "alpha", None, "t1", p, 0.5, s, 0.3)  # null target
        add("Alpha", "alpha", None, None, p, 0.5, s, 0.3)
        add(None, "alpha", "t1", "t1", p, 0.5, s, 0.3)     # null n-gram
        add(None, None, "t1", "t1", p, 0.5, s, 0.3)
    # scores exactly the floor: no shared char, zero commonness
    add("abc", "xyz", "t1", "t1", 0.0, 0.5, 0.2, 0.2)
    add("abc", "xyz", "t1", "t1", -0.0, 0.5, 0.2, 0.2)
    return rows


@pytest.fixture(scope="module")
def pairs(spark):
    return spark.createDataFrame(_rows(), _SCHEMA).cache()


def _edge_set(df):
    return {(r.src, r.dst) for r in df.collect()}


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("t", [0.3, 0.5, SCORE_FLOOR,
                               math.nextafter(SCORE_FLOOR, 2.0), 0.8, 1.0])
def test_floor_predicate_matches_kernel(pairs, t):
    """At every threshold the edges equal the kernel's score filter;
    at t <= SCORE_FLOOR the plan runs no Python at all, above it the
    plan holds exactly one kernel call."""
    scored = score_pairs(pairs)
    want = _edge_set(scored.filter(F.col("pair_score") >= t).select(
        F.least("left_mention_id", "right_mention_id").alias("src"),
        F.greatest("left_mention_id", "right_mention_id").alias("dst")))
    edges = edges_from_scores(scored, SemlinkConfig(match_threshold=t))
    got = _edge_set(edges)
    assert got == want
    assert 0 < len(got) < len(_rows())
    plan = _plan(edges)
    if t <= SCORE_FLOOR:
        assert "EvalPython" not in plan, plan
    else:
        assert plan.count("pair_score_udf(") == 1, plan


def test_floor_is_the_minimum_same_sense_score(pairs):
    """The floor-scored rows pin SCORE_FLOOR to the kernel's constant:
    they are edges at the floor and not at the next double above it."""
    scored = score_pairs(pairs).filter(F.col("ngram_l") == "abc")
    assert [r.pair_score for r in scored.collect()] == [SCORE_FLOOR] * 2
