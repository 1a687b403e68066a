"""Engine configuration (SURVEY.md S6: the reference's YAML/server config
collapses into one frozen dataclass; Spark engine knobs go through
``semlink.session``)."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class SemlinkConfig:
    """All pipeline knobs in one place.

    Mirrors the reference's per-language settings surface (max n-gram
    length, filter thresholds) plus the scale knobs the north rule
    requires (salting, checkpointing). Every field is read by the
    engine (tests/test_config.py).
    """

    # --- text / mention generation (SURVEY T1-T4) ---
    max_ngram_len: int = 3                 # reference `max_ngram_length`
    # full-Unicode blocking keys via the Arrow pandas-UDF normalizer
    # (textnorm.normalize_unicode_udf per token in batch, its array form
    # once per turn in streaming) — for CJK/non-Latin corpora; default
    # False keeps the pure-codegen ASCII path
    unicode_normalize: bool = False

    # --- candidate filters (SURVEY F1-F4) ---
    min_sense_prob: float = 0.0            # reference `filter=senseProbability>=t`
    min_link_prob: float = 0.0
    largest_matching_only: bool = True     # reference `largest_matching`
    skip_stopword_mentions: bool = False   # F4: drop bare-stopword keys

    # --- pairwise scoring (SURVEY X*, J3) ---
    # score at or above which a pair is an edge. Every same-sense pair
    # scores at least pairs.SCORE_FLOOR (0.55, the kernel's constant
    # term) unless its score is NaN, so any threshold in (0, 0.55] gives
    # the same edges and they are decided without running the Python
    # kernel; only a threshold above the floor grades pairs by score
    match_threshold: float = 0.5
    # weight of context relatedness vs prior: score = prior·(1 + W·Σ mw_rel)
    # with mw_rel the Milne-Witten log-normalized relatedness ∈ [0,1].
    # A confident context (mw_rel→1) must beat the max prior ratio the
    # dictionary exhibits (~25× in the fixtures, similar on Wikipedia
    # head anchors), so W > ratio−1; weak contexts (mw_rel ≪ 1) then
    # still defer to the prior, which is the MW disambiguation intent
    context_weight: float = 32.0
    # max entity-outlinks per source page in the relatedness self-join;
    # a source above the cap contributes >K² pair rows and ~no signal
    # (Milne-Witten's log discount); bounds the join fan-out at K·|il|
    max_source_out_degree: int = 64

    # --- skew handling (SURVEY J2) ---
    # broadcast_dictionary=True is the right call whenever the anchor
    # dictionary fits in executor memory (it does up to full-Wikipedia
    # scale, ~10 GB, with a decent cluster); set False for the
    # shuffle-join regime, where hot surface forms are salted
    broadcast_dictionary: bool = True
    salt_buckets: int = 16                 # probe-side salt fan-out for hot keys
    hot_key_min_count: int = 100_000       # probe rows above this make a key "hot"
    # hint-broadcast the (candidate-entity-reduced) relatedness table +
    # n_senses in sense resolution. True = measured default (−40 s e2e
    # at 2.9M turns); False = AQE shuffle joins, for corpora whose
    # reduced relatedness exceeds executor memory (linking.resolve_senses)
    broadcast_context_tables: bool = True

    # --- clustering (SURVEY C2-C5) ---
    max_cc_iterations: int = 50
    checkpoint_dir: str = "/tmp/semlink_ckpt"
    # How the one CC superstep loop's ``ops.cut`` commits each round:
    # "local" (the cut's localCheckpoint — the fast path; blocks are
    # executor-memory/disk and GC-managed) or "table" (``cut(...,
    # io=...)``: durable TableIO commits of `edges_step_<i>` string-id
    # edges — the resumable north-rule protocol).
    # run_connected_components FORCES "table" whenever
    # resume/stop_after_step is requested; the mode never changes the
    # labels (round-6 optimization; guide §5).
    cc_checkpoint: str = "local"
    # Small-graph finishing step: when the materialized edge set is at
    # most this many rows, labels come from a driver union-find (same
    # min-member labels, bit-identical — pinned by test) instead of
    # paying ~6 s of superstep machinery for a kilobyte graph. The
    # bound keeps driver work broadcast-threshold-sized (64k edges is
    # a few MB); 0 disables. Durable/resume runs always take the
    # superstep loop.
    cc_local_fastpath_edges: int = 65_536

    # --- IO ---
    table_format: str = "parquet"          # "iceberg" on a real cluster (io.py)
    shuffle_partitions: int = 32

    def __post_init__(self):
        if self.cc_checkpoint not in ("local", "table"):
            raise ValueError("cc_checkpoint must be 'local' or 'table', "
                             f"got {self.cc_checkpoint!r}")


DEFAULT = SemlinkConfig()
