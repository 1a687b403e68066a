"""Physical-plan audit (SURVEY §4.2 'verify, don't build').

Dumps `.explain("formatted")` for the engine's key plans and asserts
the properties the 100 TB design depends on:

- parquet scans show ReadSchema pruned to the needed columns;
- the dictionary join is a BroadcastHashJoin;
- predicate pushdown reaches the scan (PushedFilters);
- hot paths run inside WholeStageCodegen;
- the pair scorer is an ArrowEvalPython (vectorized), never BatchEvalPython;
- the default-config pipeline edges plan runs no Python at all;
- the pipeline's layer outputs are cut, not cached.

Writes PLANS.md with the formatted plans + the audit verdicts.
"""
from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import contextmanager, redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from semlink.session import get_spark  # noqa: E402


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@contextmanager
def uncut(module):
    """Swap an identity ``cut`` into ``module`` while a plan is built: a
    real cut truncates lineage to a LogicalRDD, which hides the
    operators a check asserts on. It still reports the row count a
    caller may read. A test fake, not an engine option."""
    real = module.cut
    module.cut = lambda df, name, *aggs, io=None: (df, {"rows": df.count()})
    try:
        yield
    finally:
        module.cut = real


def main():
    spark = get_spark("explain-audit", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F
    from semlink.fixtures import generate, to_spark
    from semlink.linking import (candidate_join, generate_mentions,
                                 largest_matching_filter)
    from semlink.pairs import edges_from_scores, mention_pairs, score_pairs

    sf = "/root/testdata/sf0.001"
    fx = to_spark(spark, generate("tiny"))
    tdir = "/tmp/semlink_audit"
    fx["transcripts"].write.mode("overwrite").parquet(f"{tdir}/transcripts.parquet")
    fx["anchors"].write.mode("overwrite").parquet(f"{tdir}/anchors.parquet")
    t = spark.read.parquet(f"{tdir}/transcripts.parquet")
    anchors = spark.read.parquet(f"{tdir}/anchors.parquet")

    sections = {}
    checks = []

    # 1. column pruning + pushdown on the transcript scan
    df1 = (t.filter(F.col("conv_id") == "c000001")
           .select("conv_id", "turn_idx", "text"))
    p1 = formatted(df1)
    sections["scan: filter+projection on transcripts"] = p1
    checks.append(("scan pushes conv_id filter", "PushedFilters" in p1
                   and "conv_id" in p1.split("PushedFilters")[1][:200]))
    checks.append(("scan prunes to 3 columns",
                   "ReadSchema" in p1 and "role" not in
                   p1.split("ReadSchema")[1][:300]))

    # 2. the blocking join broadcasts the dictionary
    mentions = generate_mentions(t)
    cands = candidate_join(mentions, anchors)
    p2 = formatted(cands)
    sections["blocking join (J1)"] = p2
    checks.append(("dictionary join is BroadcastHashJoin",
                   "BroadcastHashJoin" in p2))
    # Generate (explode) is not a codegen node in Spark; the check is
    # that the explode is a single JVM Generate op fed by a columnar
    # scan, with no Python evaluation anywhere on the path
    checks.append(("mention explode is JVM Generate, no Python eval",
                   "Generate" in p2 and "EvalPython" not in p2))

    # 3. largest-matching anti join
    p3 = formatted(largest_matching_filter(cands))
    sections["largest-matching (F3)"] = p3
    checks.append(("F3 anti join is hash-based (no NLJ)",
                   "BroadcastNestedLoopJoin" not in p3))

    # 4. pair scoring is Arrow-vectorized
    from semlink.linking import link_transcripts
    resolved = link_transcripts(t, anchors, fx["page_links"])
    scored = score_pairs(mention_pairs(resolved))
    p4 = formatted(scored)
    sections["pair scoring (X8)"] = p4
    checks.append(("scorer is ArrowEvalPython", "ArrowEvalPython" in p4))
    checks.append(("no row-wise BatchEvalPython anywhere",
                   "BatchEvalPython" not in p4))

    # 5. the default pipeline's edges never read pair_score (the match
    #    threshold is below the score floor), so Catalyst prunes the
    #    kernel and the whole link → score → edge plan stays in the JVM
    p5 = formatted(edges_from_scores(scored))
    sections["pipeline edges at default config (C1)"] = p5
    checks.append(("default-config pipeline edges plan has no EvalPython",
                   "EvalPython" not in p5))

    # 5b. run_pipeline cuts its layer outputs (ops.cut): a later query
    #     over the edges plans a LogicalRDD leaf, not the cached
    #     (InMemoryRelation) link → score tree
    from semlink.pipeline import run_pipeline
    res = run_pipeline(t, anchors, fx["page_links"],
                       ckpt_dir=tempfile.mkdtemp(prefix="semlink_audit_cc_"))
    lp5b = res["edges"]._jdf.queryExecution().optimizedPlan().toString()
    sections["pipeline edges after the cut (C1)"] = lp5b
    checks.append(("pipeline layer outputs are cut: the edges plan has no "
                   "InMemoryRelation and starts at a LogicalRDD",
                   "InMemoryRelation" not in lp5b
                   and lp5b.startswith("LogicalRDD")))

    # 6. relatedness self-join is capped + aggregated with partial aggs
    import semlink.linking
    from semlink.linking import relatedness_table
    # uncut: the cut of the capped inlink table would hide the
    # LeftSemi entity reduction this check asserts on
    with uncut(semlink.linking):
        p6 = formatted(relatedness_table(fx["page_links"], anchors))
    sections["MW relatedness (X6)"] = p6
    checks.append(("relatedness fan-out cap applied (LeftSemi before join)",
                   "LeftSemi" in p6))

    # 6b. sense resolution scale mode (ADVICE r03 correction): the
    # DEFAULT config (broadcast_context_tables=True) hint-broadcasts
    # the FULL, unreduced relatedness table — the fits-in-memory
    # regime, deliberately unreduced because reducing before the
    # broadcast serializes it behind the candidate set (~19 s e2e
    # measured, BENCH §4c) — and the flag must be flipped for corpora
    # whose rel table exceeds executor memory. What we audit here is
    # the scale mode (False): the plan must carry no broadcast hints
    # at all (AQE decides) AND rel must be semi-join-reduced to
    # candidate entities (two LeftSemi filters). Hints survive into
    # the optimized logical plan regardless of data size, so both
    # properties are checkable at fixture scale.
    from semlink.config import SemlinkConfig as _Cfg
    from semlink.linking import resolve_senses, candidate_join as _cj
    cands_x6 = _cj(generate_mentions(t), anchors)
    rel_x6 = relatedness_table(fx["page_links"], anchors)
    lp_nb = resolve_senses(
        cands_x6, rel_x6,
        _Cfg(broadcast_context_tables=False))._jdf \
        .queryExecution().optimizedPlan().toString()
    sections["sense resolution (X6) scale mode "
             "(broadcast_context_tables=False)"] = lp_nb
    checks.append(("X6 scale mode carries no broadcast hints",
                   "ResolvedHint" not in lp_nb
                   and "UnresolvedHint" not in lp_nb
                   and "hints=[broadcast]" not in lp_nb))
    checks.append(("X6 scale mode pre-filters rel to candidate entities",
                   lp_nb.count("LeftSemi") >= 2))

    # 7. link_transcripts' mention plan: the first-word gate is a
    #    broadcast semi join at every dictionary size, never a literal
    #    IN / InSet list
    from semlink.linking import anchor_first_words
    p7 = formatted(generate_mentions(
        t, first_words=anchor_first_words(anchors)))
    sections["first-word gate (F4)"] = p7
    checks.append(("mention gate is BroadcastHashJoin LeftSemi, "
                   "no literal IN gate",
                   "BroadcastHashJoin" in p7 and "LeftSemi" in p7
                   and "IN (" not in p7 and "INSET" not in p7))

    # 8. SNM candidate generation: the rank-window predicate runs as a
    #    banded equi join on the block key — never a cartesian /
    #    nested-loop blowup over the full comparison space
    from semlink.linkeval import sorted_neighborhood_pairs
    from semlink.queries.linkeval import _records
    recs = _records(spark, sf)
    p8 = formatted(sorted_neighborhood_pairs(recs, "bal_cents", 4))
    sections["sorted-neighborhood pairs (C8 SNM)"] = p8
    checks.append(("SNM pair join is equi on the band key, no cartesian",
                   "_bk" in p8 and "CartesianProduct" not in p8
                   and "BroadcastNestedLoopJoin" not in p8))

    # 9. pair-counting agreement: contingency-cell aggregation combines
    #    map-side (partial_count) before the key shuffle
    from semlink.cluster import clustering_agreement, golden_records
    p9 = formatted(clustering_agreement(recs, pred_col="nat",
                                        truth_col="ent_id"))
    sections["clustering agreement (C9 ARI/pair metrics)"] = p9
    checks.append(("agreement cell agg has map-side partial combine",
                   "partial_count" in p9))

    # 10. survivorship: every window / aggregate keys on the cluster id
    #     — a SinglePartition exchange would serialize the merge
    p10 = formatted(golden_records(recs, "ent_id",
                                   shortest_cols=("name",),
                                   mode_cols=("seg",),
                                   max_cols=("bal_cents",)))
    sections["golden records (C10 survivorship)"] = p10
    checks.append(("golden-record windows keyed by cluster, "
                   "no SinglePartition exchange",
                   "Window" in p10
                   and "Exchange SinglePartition" not in p10))

    # 11. exact set-similarity join: every join in the prefix-filter
    #     chain is an equi join (prefix shingle / (doc, shingle));
    #     the overlap aggregation combines map-side
    from semlink.datapipe.dedup import setsim_join_pairs
    docs = spark.read.parquet(f"{sf}/documents.parquet") \
        .select("doc_id", "text")
    p11 = formatted(setsim_join_pairs(docs, t_num=4, t_den=5))
    sections["exact set-similarity join (PPJoin prefix filter)"] = p11
    checks.append(("setsim joins are all equi (no cartesian / NLJ)",
                   "CartesianProduct" not in p11
                   and "BroadcastNestedLoopJoin" not in p11))
    checks.append(("setsim overlap agg has map-side partial combine",
                   "partial_count" in p11))

    # 12. meta-blocking: the co-block pair join is an equi join on the
    #     block key; the only non-equi joins are the sanctioned 1-row
    #     broadcasts (|B| total and the mean-weight sufficient stats)
    from semlink.linkeval import meta_blocking_pairs
    from semlink.queries.linkeval import _mb_blocks
    p12 = formatted(meta_blocking_pairs(_mb_blocks(recs)))
    sections["meta-blocking (CBS/ECBS weights + WEP)"] = p12
    checks.append(("meta-blocking pair join is equi on bkey, "
                   "no cartesian",
                   "CartesianProduct" not in p12 and "bkey" in p12))
    checks.append(("meta-blocking CBS agg has map-side partial combine",
                   "partial_count" in p12))

    # 13. Monge-Elkan: exactly ONE Arrow-batched kernel pass feeds
    #     both keyed aggregations — never a per-direction re-eval or a
    #     row-wise BatchEvalPython
    from semlink.pairs import monge_elkan
    me_in = spark.createDataFrame(
        [("alpha beta", "beta gamma")], "a string, b string")
    p13 = formatted(monge_elkan(me_in))
    sections["Monge-Elkan similarity (X11)"] = p13
    # formatted explain prints each node twice (tree + detail); the
    # tree form is "ArrowEvalPython (<id>)"
    checks.append(("Monge-Elkan runs one ArrowEvalPython, no "
                   "BatchEvalPython",
                   p13.count("ArrowEvalPython (") == 1
                   and "BatchEvalPython" not in p13))

    # 14. cluster review: aggregations key on the cluster id — no
    #     SinglePartition exchange, map-side partial combine
    from semlink.cluster import cluster_review
    cr_assign = recs.select("rec_id", F.col("ent_id").alias("cluster_id"))
    cr_pairs = recs.select(F.col("rec_id").alias("rec_l"),
                           (F.col("rec_id") + 1).alias("rec_r"),
                           F.lit(2).alias("score"))
    p14 = formatted(cluster_review(cr_assign, cr_pairs))
    sections["cluster quality review (C14)"] = p14
    checks.append(("cluster review keys on cluster id, no "
                   "SinglePartition exchange",
                   "Exchange SinglePartition" not in p14
                   and "partial_count" in p14))

    # 15. PPRL Bloom/Dice: the set-bit intersection is a hash equi
    # join keyed on (pair, pos) — never a cartesian/nested-loop over
    # pair bitmaps — and the Dice arithmetic stays JVM-side
    from semlink.queries.linkeval import (rl_incremental_link,
                                          rl_pprl_bloom)
    p15 = formatted(rl_pprl_bloom(spark, sf))
    sections["PPRL Bloom positions + Dice (X12)"] = p15
    checks.append(("pprl position joins are hash equi joins, "
                   "no cartesian / python eval",
                   "CartesianProduct" not in p15
                   and "BatchEvalPython" not in p15
                   and "ArrowEvalPython" not in p15
                   and "BroadcastNestedLoopJoin" not in p15))

    # 16. incremental link: rank-1 assignment windows key on the new
    # record id (hashpartitioning), never a SinglePartition sort;
    # blocking + fill joins are equi joins
    p16 = formatted(rl_incremental_link(spark, sf))
    sections["incremental link (C15)"] = p16
    checks.append(("incremental link windows keyed by record id, "
                   "no SinglePartition exchange",
                   "Exchange SinglePartition" not in p16
                   and "CartesianProduct" not in p16))

    # 17. soft-TF-IDF: exactly ONE Arrow kernel pass over the token
    # cross; the only nested-loop joins are the two 1-row corpus-size
    # broadcasts (one per pair side after the window-based norm)
    from semlink.queries.rl import rl_soft_tfidf
    p17 = formatted(rl_soft_tfidf(spark, sf))
    sections["soft-TF-IDF (X14)"] = p17
    import re

    def _nodes(plan, name):
        # formatted explain mentions each node in the tree AND in the
        # details section — count numbered tree nodes only
        return len(re.findall(rf"\(\d+\) {name}", plan))

    checks.append(("soft-tfidf: one Arrow kernel pass, 1-row-only "
                   "nested loops, no cartesian",
                   _nodes(p17, "ArrowEvalPython") == 1
                   and "BatchEvalPython" not in p17
                   and "CartesianProduct" not in p17
                   and _nodes(p17, "BroadcastNestedLoopJoin") <= 2))

    # 18. containment dedup: the rarest-shingle candidate join is a
    # hash equi join on the shingle key — never a cartesian — and the
    # whole verify chain stays JVM-side
    from semlink.queries.dedup import dedup_containment
    p18 = formatted(dedup_containment(spark, sf))
    sections["containment dedup"] = p18
    checks.append(("containment: equi-join candidates, JVM-only verify",
                   "CartesianProduct" not in p18
                   and "BatchEvalPython" not in p18
                   and "ArrowEvalPython" not in p18
                   and "BroadcastNestedLoopJoin" not in p18))

    # 19. bigram LM: count-table joins are equi joins; the only
    # nested-loop join is the 1-row vocabulary broadcast; no Python
    from semlink.queries.text import text_lm_perplexity
    p19 = formatted(text_lm_perplexity(spark, sf))
    sections["bigram-LM perplexity"] = p19
    checks.append(("lm perplexity: equi count joins, 1-row-only "
                   "nested loop, JVM-only",
                   "CartesianProduct" not in p19
                   and "BatchEvalPython" not in p19
                   and "ArrowEvalPython" not in p19
                   and _nodes(p19, "BroadcastNestedLoopJoin") <= 1))

    # 20. PageRank: ONE uncut iteration's plan (real runs cut lineage
    # per superstep) — every rank/edge/out-degree join
    # is an equi join; nested loops only for the 1-row N / dangling
    # broadcasts; integer expressions, no Python
    import semlink.graphrank
    from semlink.graphrank import pagerank
    from semlink.queries.rlcov import _spark_page_graph
    pl_edges, _pg = _spark_page_graph(spark, sf)
    with uncut(semlink.graphrank):
        p20 = formatted(pagerank(pl_edges, iters=1))
    sections["PageRank prior (one superstep)"] = p20
    checks.append(("pagerank: equi joins, 1-row-only nested loops, "
                   "JVM-only",
                   "CartesianProduct" not in p20
                   and "BatchEvalPython" not in p20
                   and "ArrowEvalPython" not in p20
                   and 1 <= _nodes(p20, "BroadcastNestedLoopJoin") <= 4))

    # 21. token-budget sample: the running-sum window partitions by
    # the stratum key (hashpartitioning), never a global sort
    from semlink.queries.sampling import sample_token_budget
    p21 = formatted(sample_token_budget(spark, sf))
    sections["token-budget sample"] = p21
    checks.append(("token budget: window keyed by stratum, "
                   "no SinglePartition exchange",
                   "Exchange SinglePartition" not in p21
                   and "hashpartitioning(lang" in p21))

    # 22. aHash near-pairs: the nibble-band candidate join is a hash
    # equi join (never cartesian); decode runs as MapInPandas (Arrow),
    # the hamming verify is pure JVM expression
    from semlink.queries.media import media_ahash_near_pairs
    p22 = formatted(media_ahash_near_pairs(spark, sf))
    sections["aHash near pairs (C25 scale path)"] = p22
    checks.append(("ahash near-pairs: equi band join, Arrow decode, "
                   "JVM hamming",
                   "CartesianProduct" not in p22
                   and "BatchEvalPython" not in p22
                   and "BroadcastNestedLoopJoin" not in p22
                   and _nodes(p22, "MapInPandas") >= 1))

    # 23. composed dedup verdict: every stage join is equi; no Python
    # anywhere (pure relational composition + checkpointed CC scan)
    from semlink.queries.dedup import dedup_verdict
    p23 = formatted(dedup_verdict(spark, sf))
    sections["dedup verdict (composed)"] = p23
    checks.append(("dedup verdict: equi-only joins, no python eval",
                   "CartesianProduct" not in p23
                   and "BatchEvalPython" not in p23
                   and "ArrowEvalPython" not in p23
                   and "BroadcastNestedLoopJoin" not in p23))

    # 24. PQ codes: the only nested-loop join is the bounded m·k
    # codebook broadcast; assignment window keys on (vector,
    # subspace), never SinglePartition over data; no Python
    from semlink.datapipe.simsearch import pq_codebooks, pq_codes
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cbk = pq_codebooks(emb, dim=64)
    p24 = formatted(pq_codes(emb, cbk, dim=64))
    sections["PQ codes"] = p24
    checks.append(("pq codes: bounded codebook broadcast only, "
                   "JVM-only, window keyed by (vec, subspace)",
                   "CartesianProduct" not in p24
                   and "BatchEvalPython" not in p24
                   and "ArrowEvalPython" not in p24
                   and _nodes(p24, "BroadcastNestedLoopJoin") <= 1))

    # 25. ADC search: the LUT lookup is a hash EQUI join on
    # (subspace, code) — the scan never nested-loops over queries
    from semlink.datapipe.simsearch import pq_adc_topk
    q_emb = (emb.filter(F.col("vec_id") < 25)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("q_emb")))
    p25 = formatted(pq_adc_topk(emb, q_emb, cbk, dim=64))
    sections["PQ ADC top-k"] = p25
    checks.append(("pq adc: equi LUT join, bounded broadcasts only",
                   "CartesianProduct" not in p25
                   and "BatchEvalPython" not in p25
                   and _nodes(p25, "BroadcastNestedLoopJoin") <= 2))

    out = ["# PLANS — physical plan audit\n",
           "Generated by tools/explain_audit.py. Checks:\n"]
    ok = True
    for name, passed in checks:
        ok &= passed
        out.append(f"- {'✅' if passed else '❌'} {name}")
    out.append("")
    for name, plan in sections.items():
        out.append(f"\n## {name}\n\n```\n{plan}\n```")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("\n".join(f"{'PASS' if p else 'FAIL'} {n}" for n, p in checks))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
