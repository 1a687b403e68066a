"""Spark-free pins on the driver contract and the demotion rule."""
import pathlib
import re

import __spark_entry__ as entry
from semlink.queries import REGISTRY

REPO = pathlib.Path(__file__).resolve().parent.parent

# the driver contract, in its recorded order (the driver's window
# truncates from the end, so order is part of the contract)
CONTRACT = [
    "pipeline_fixture_clusters", "pipeline_fixture_f1", "dedup_decontaminate",
    "dedup_near_dup_clusters", "rl_link_top1", "rl_connected_components",
    "rl_ngram_explode", "rl_largest_matching", "rl_mention_pairs",
    "rl_string_sims", "rl_dict_stats", "dedup_exact", "dedup_lsh_jaccard",
    "dedup_setsim_join", "dedup_simhash", "ann_brute_force_topk",
    "ann_ivf_cell_topk", "ann_kmeans_centroids", "ann_ivf_near_dup_edges",
    "ann_embed_text", "text_langid", "text_fingerprints",
    "text_tfidf_top_terms", "text_repetition", "text_heuristic_filters",
    "text_pii_stats", "text_token_quality", "text_corpus_filter",
    "media_features", "media_pixels", "media_audio", "media_jpeg",
    "rl_redirect_dictionary", "rl_relatedness_mw", "src_csv_load",
    "rl_textnorm", "rl_page_graph", "rl_filter_battery", "rl_fellegi_sunter",
    "rl_blocking_quality", "rl_merge_rematch", "rl_meta_blocking",
    "rl_cluster_metrics", "rl_golden_record", "ops_metrics", "ml_logistic_fit",
    "ml_boosted_stumps_fit", "ml_logistic_features", "sample_stratified",
    "stream_link_sessions", "ops_lineage", "stream_rolling_context",
    "stream_dedup_exact",
]


def test_contract_names_and_order():
    assert list(entry.queries()) == CONTRACT


def test_demoted_entries_are_registered():
    assert entry._DEMOTED <= set(REGISTRY)


def test_demoted_entries_are_outside_the_contract():
    assert entry._DEMOTED.isdisjoint(entry.queries())


def test_every_demoted_entry_has_a_reader():
    """A registry entry outside the contract stays only while bench,
    a tool, the benchmark or another test reads it by name."""
    files = [REPO / "bench.py", *REPO.glob("tools/*.py"),
             *REPO.glob("perfbench/*.py"),
             *(p for p in REPO.glob("tests/*.py")
               if p.name != pathlib.Path(__file__).name)]
    src = "\n".join(p.read_text() for p in files)
    unread = sorted(n for n in entry._DEMOTED
                    if not re.search(rf"\b{re.escape(n)}\b", src))
    assert unread == []
