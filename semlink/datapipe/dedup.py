"""Deduplication family (training-data pipeline core):

- exact: hash-groupBy on content digest — one shuffle on the digest,
  map-side combine, no skew (md5 keys are uniform);
- MinHash + LSH: shingle → k min-hashes → banded bucket keys →
  bucket-join for candidate pairs. The min-hash permutations are
  md5(i || shingle) — engine-portable (identical in DuckDB), seedless,
  deterministic. At 100 TB the bucket join is the only shuffle and its
  keys are uniform md5s; candidate pairs per bucket are capped;
- SimHash: bitwise majority over token hashes, Hamming-bucket pairs;
- n-gram Jaccard: exact verification for candidate pairs;
- embedding cosine near-dup: see simsearch.py.

All implemented as Spark SQL expressions (no Python UDFs): the hash
workhorse is md5(), portable across engines for oracle checking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ops import cut

# Default LSH parameterization. The capture probability of a pair with
# Jaccard similarity s under (bands b, rows-per-band r) is the S-curve
#   P(candidate) = 1 − (1 − s^r)^b
# with inflection (the effective similarity threshold) at s* ≈ (1/b)^(1/r).
# Defaults b=4, r=2 (k = b·r = 8 permutations) put s* at 0.5 — a near-dup
# setting; tighten to e.g. b=2, r=4 (s* ≈ 0.84) for strict dedup. All
# entry points take (k, bands, rows_per_band) so the curve is a config
# decision, not a code constant (tests/test_datapipe.py sweeps it).
MINHASH_K = 8          # permutations = bands * rows_per_band
LSH_BANDS = 4
LSH_ROWS_PER_BAND = 2
SIMHASH_BITS = 16


def _tokens(col: Column) -> Column:
    return F.array_remove(F.split(F.trim(col), r" +"), "")


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: digest → (keeper, dup_count).

    NULL text coalesces to '' before hashing — the family-wide null
    convention (shingles, fingerprints, and the STREAMING ingest dedup
    all treat null and empty text as the same document content), so
    batch and streaming exact dedup agree on the survivor sets."""
    return (df
            .withColumn("text_hash",
                        F.md5(F.coalesce(F.col(text_col), F.lit(""))))
            .groupBy("text_hash")
            .agg(F.min(id_col).alias("keeper_doc_id"),
                 F.count("*").alias("dup_count")))


def shingle_set(text_col: Column, n: int = 3) -> Column:
    """Distinct n-token shingles of a document, as an array column.

    HOF-lambda form — kept for oracle/SQL parity and array-shaped
    callers; the hot path is :func:`shingles_exploded` (lambda
    evaluation serializes across task threads — BENCH/BASELINE.md §2).
    """
    toks = _tokens(text_col)
    sz = F.size(toks)
    sh = F.when(
        sz >= n,
        F.transform(F.sequence(F.lit(0), sz - n),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return F.array_distinct(sh)


def shingles_exploded(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, s): every n-token shingle, one row per OCCURRENCE.

    Lambda-free: posexplode + window lead (the mention n-gram
    generator's measured-scalable shape), so shingling runs in
    whole-stage codegen instead of on the thread-serialized HOF lambda
    interpreter. Not deduped — min-hash is duplicate-insensitive;
    Jaccard callers apply .distinct().

    Parity with :func:`shingle_set`: docs with fewer than n tokens emit
    their whole-doc join; zero-token docs emit a single '' shingle.
    NULL text is coalesced to '' first so null-text docs also emit the
    '' shingle (size(NULL) is NULL in Spark 4, so without the coalesce
    neither the keep filter nor the empty-doc branch would match and
    null-text rows would vanish — shingle_set emits [''] for them).
    """
    from pyspark.sql import Window
    d = df.select(F.col(id_col),
                  _tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("_t"))
    rows = d.select(id_col, F.size("_t").alias("_n"),
                    F.posexplode("_t").alias("_pos", "_w0"))
    w = Window.partitionBy(id_col).orderBy("_pos")
    words = [F.col("_w0")]
    for j in range(1, n):
        rows = rows.withColumn(f"_w{j}", F.lead("_w0", j).over(w))
        words.append(F.col(f"_w{j}"))
    keep = ((F.col("_pos") + n <= F.col("_n"))
            | ((F.col("_n") < n) & (F.col("_pos") == 0)))
    sh = rows.filter(keep).select(
        F.col(id_col), F.concat_ws(" ", *words).alias("s"))
    empty = d.filter(F.size("_t") == 0).select(
        F.col(id_col), F.lit("").alias("s"))
    return sh.unionByName(empty)


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       k: int = MINHASH_K,
                       shingle_n: int = 3) -> DataFrame:
    """(id, mh_0..mh_{k-1}): min over shingles of md5(i:shingle).

    The per-permutation "hash" is the lexicographic min of a salted
    md5 — portable (identical in DuckDB), seedless, deterministic.

    Shingle rows come from the codegen explode, then ONE groupBy(id)
    with k partial-min aggregates — map-side combined, so the single
    shuffle moves one row per (doc, partition). Duplicate shingles
    don't need deduping first (min is duplicate-insensitive). This form
    won its A/B against a per-row array of transform lambdas at both
    local[8] and local[32] (19.1/15.2 s vs 39.0/20.9 s, BENCH/BASELINE.md
    §4c).
    """
    sh = shingles_exploded(df, id_col, text_col, shingle_n)
    return sh.groupBy(id_col).agg(
        *[F.min(F.md5(F.concat_ws(":", F.lit(str(i)), F.col("s"))))
          .alias(f"mh_{i}") for i in range(k)])


def lsh_buckets(sigs: DataFrame, id_col: str = "doc_id",
                bands: int = LSH_BANDS,
                rows_per_band: int = LSH_ROWS_PER_BAND) -> DataFrame:
    """(id, band, bucket): bucket = md5(band | mh_{b·r} | … | mh_{b·r+r−1}).
    Band b consumes signature rows [b·r, (b+1)·r) — see the S-curve note
    at the top of the module for choosing (bands, rows_per_band)."""
    rows = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + j}")
                for j in range(rows_per_band)]
        rows.append(sigs.select(
            F.col(id_col),
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", F.lit(str(b)), *cols)).alias("bucket")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def lsh_candidate_pairs(buckets: DataFrame, id_col: str = "doc_id",
                        max_bucket: int = 64) -> DataFrame:
    """Candidate pairs sharing any (band, bucket); oversized buckets
    (degenerate content) are dropped and should be counted by the
    caller's metrics — the standard LSH skew guard."""
    # bucket-size cap via ONE window count on the join key instead of
    # a groupBy + left-semi join: the capped table is produced by a
    # single (band, bucket) exchange that BOTH sides of the self-join
    # below then reuse (round-6; guide §2.4 two operations keyed the
    # same way share one exchange)
    from pyspark.sql import Window
    b = (buckets.withColumn(
            "_bn", F.count(F.lit(1)).over(Window.partitionBy("band", "bucket")))
         .filter(F.col("_bn") <= max_bucket).drop("_bn"))
    l = b.select("band", "bucket", F.col(id_col).alias("left_id"))
    r = b.select("band", "bucket", F.col(id_col).alias("right_id"))
    return (l.join(r, ["band", "bucket"])
            .filter(F.col("left_id") < F.col("right_id"))
            .select("left_id", "right_id").distinct())


def ngram_jaccard(df: DataFrame, pairs: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs (the verify step after
    LSH). Lambda-free exploded shingles (distinct per doc) + join on
    shingle, then |∩| / (|A|+|B|-|∩|)."""
    # the distinct shingle table is consumed THREE times (both sides
    # of the intersection join + the size table) and the candidate
    # pair table TWICE (intersection + final join), re-running their
    # upstream chains per consumer — cut each once (round-6; guide §5)
    pairs, _ = cut(pairs, "jaccard_pairs")
    sh, _ = cut(shingles_exploded(df, id_col, text_col, n)
                .withColumnRenamed(id_col, "_id").distinct(),
                "jaccard_shingles")
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    ex = sh
    inter = (pairs
             .join(ex.withColumnRenamed("_id", "left_id"), "left_id")
             .join(ex.withColumnRenamed("_id", "right_id")
                   .withColumnRenamed("s", "s2"), "right_id")
             .filter(F.col("s") == F.col("s2"))
             .groupBy("left_id", "right_id")
             .agg(F.count("*").alias("inter")))
    return (pairs
            .join(inter, ["left_id", "right_id"], "left")
            .fillna(0, ["inter"])
            .join(sizes.withColumnRenamed("_id", "left_id")
                  .withColumnRenamed("n_sh", "n_l"), "left_id")
            .join(sizes.withColumnRenamed("_id", "right_id")
                  .withColumnRenamed("n_sh", "n_r"), "right_id")
            .withColumn("jaccard",
                        F.col("inter") / (F.col("n_l") + F.col("n_r") - F.col("inter"))))


def setsim_join_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", shingle_n: int = 3,
                      t_num: int = 1, t_den: int = 2) -> DataFrame:
    """EXACT set-similarity self-join at Jaccard >= t_num/t_den over
    distinct token shingles — the prefix-filtering AllPairs/PPJoin
    family (Bayardo, Ma & Srikant, WWW 2007; Xiao, Wang, Lin & Yu,
    WWW 2008). Complements LSH: same candidate-then-verify shape but
    NO false negatives — every pair at or above the threshold is
    returned, so this is the scale path when the dedup policy must be
    exact rather than probabilistic.

    Filter chain (each a pure-SQL relational step, no UDFs):

    1. **Canonical order**: each document's shingles are ranked by
       global (document frequency, shingle) ascending — rarest first.
       The per-doc rank is a window keyed by the document (one
       shuffle); the frequency table is one map-side-combined groupBy.
    2. **Prefix filter**: doc x only emits its first
       ``|x| - ceil(t*|x|) + 1`` shingles; two docs with Jaccard >= t
       MUST share a prefix shingle (pigeonhole on the canonical
       order), so the candidate join is an EQUI join on the prefix
       shingle — never a cartesian. Rare-first ordering keeps prefix
       postings short.
    3. **Length filter**: J >= t implies den*min(|x|,|y|) >=
       num*max(|x|,|y|) — applied inside the join, integer-exact.
    4. **Positional filter** (PPJoin): the globally-first shared
       prefix shingle minimizes both per-doc ranks simultaneously
       (per-doc orders are restrictions of one total order), so
       overlap <= 1 + min(|x|-i, |y|-j) with (i, j) = groupBy-min
       ranks; pairs whose bound misses the required overlap
       ceil(num*(|x|+|y|)/(den+num)) are pruned before verification.
    5. **Verify**: exact overlap via fan-out join on (doc, shingle)
       equi keys, then the integer-exact threshold test
       o*(den+num) >= num*(|x|+|y|)  (equivalent to J >= t with no
       float comparison).

    All thresholds are rational (t_num/t_den) so every filter is
    BIGINT arithmetic — bit-deterministic and oracle-portable; only
    the reported ``jaccard6`` goes through the scaled-bigint float
    convention. Empty/null-text docs emit the single '' shingle (the
    family-wide null==empty convention) and dedupe among themselves.
    """
    from pyspark.sql import Window
    sh = shingles_exploded(df, id_col, text_col, shingle_n).distinct()
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
    w_pos = Window.partitionBy(id_col).orderBy("_df", "s")
    w_sz = Window.partitionBy(id_col)
    # the canonically-ordered table feeds the prefix filter (both join
    # sides) AND the verify fan-out — cut it once (round-6; guide §5)
    ordered, _ = cut(sh.join(dfreq, "s").select(
        F.col(id_col), "s",
        F.row_number().over(w_pos).cast("long").alias("pos"),
        F.count(F.lit(1)).over(w_sz).alias("sz")), "setsim_ordered")
    prefix_len = F.expr(
        f"sz - (({t_num} * sz + {t_den - 1}) div {t_den}) + 1")
    pref = ordered.filter(F.col("pos") <= prefix_len)
    lft = pref.select("s", F.col(id_col).alias("left_id"),
                      F.col("pos").alias("_pl"), F.col("sz").alias("sz_l"))
    rgt = pref.select("s", F.col(id_col).alias("right_id"),
                      F.col("pos").alias("_pr"), F.col("sz").alias("sz_r"))
    cand = (lft.join(rgt, "s")
            .filter((F.col("left_id") < F.col("right_id"))
                    & (F.lit(t_den) * F.least("sz_l", "sz_r")
                       >= F.lit(t_num) * F.greatest("sz_l", "sz_r")))
            .groupBy("left_id", "right_id", "sz_l", "sz_r")
            .agg(F.min("_pl").alias("_i"), F.min("_pr").alias("_j")))
    min_overlap = F.expr(
        f"({t_num} * (sz_l + sz_r) + {t_den + t_num - 1})"
        f" div {t_den + t_num}")
    cand = cand.filter(
        F.lit(1) + F.least(F.col("sz_l") - F.col("_i"),
                           F.col("sz_r") - F.col("_j")) >= min_overlap)
    toks = ordered.select(F.col(id_col), "s")
    ov = (cand.select("left_id", "right_id", "sz_l", "sz_r")
          .join(toks.withColumnRenamed(id_col, "left_id"), "left_id")
          .join(toks.withColumnRenamed(id_col, "right_id"), ["right_id", "s"])
          .groupBy("left_id", "right_id", "sz_l", "sz_r")
          .agg(F.count(F.lit(1)).alias("overlap")))
    return (ov.filter(F.col("overlap") * (t_den + t_num)
                      >= F.lit(t_num) * (F.col("sz_l") + F.col("sz_r")))
            .select("left_id", "right_id", "sz_l", "sz_r", "overlap",
                    F.round(F.col("overlap").cast("double")
                            / (F.col("sz_l") + F.col("sz_r")
                               - F.col("overlap")) * 1_000_000)
                    .cast("bigint").alias("jaccard6")))


def simhash(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash over distinct tokens: bit j of the signature is the sign
    of Σ_tokens (±1) where the vote is bit j of md5(token).

    Implemented as explode → 16 conditional sums → bit assembly; the
    only shuffle is the groupBy(id), map-side combined.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(_tokens(F.col(text_col)))).alias("tok"))
    h = toks.withColumn("hx", F.md5(F.col("tok")))
    # hex nibble value of char at position p (1-based)
    def nib(p):
        return F.expr(
            f"instr('0123456789abcdef', substring(hx, {p}, 1)) - 1")
    votes = h.withColumns({
        f"v{j}": F.when(
            ((F.floor(nib(j // 4 + 1) / (2 ** (j % 4)))) % 2) == 1,
            F.lit(1)).otherwise(F.lit(-1))
        for j in range(bits)
    })
    agg = votes.groupBy(id_col).agg(
        *[F.sum(f"v{j}").alias(f"s{j}") for j in range(bits)])
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") >= 0, F.lit(2 ** j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return agg.select(F.col(id_col), sig.cast("bigint").alias("simhash"))


def cross_corpus_overlap(corpus: DataFrame, benchmark: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         n: int = 3,
                         contamination_threshold: float = 0.5) -> DataFrame:
    """Benchmark DECONTAMINATION check — the training-data-pipeline op
    that keeps eval sets out of the training corpus: for every corpus
    document, the fraction of its distinct n-token shingles that occur
    anywhere in the benchmark corpus, plus a contaminated flag at
    ``contamination_threshold``.

    Scale shape: both sides shingle through the lambda-free exploded
    generator; the probe is a LEFT SEMI join on md5(shingle) — uniform
    join keys, and the benchmark side (distinct shingle hashes of an
    eval set — small by definition) broadcasts or shuffles as AQE
    decides. Output is one row per corpus doc: overlap6 uses the
    scaled-bigint convention so the oracle hash is exact.
    """
    c = (shingles_exploded(corpus, id_col, text_col, n)
         .select(F.col(id_col), F.md5("s").alias("h")).distinct())
    b = (shingles_exploded(benchmark, id_col, text_col, n)
         .select(F.md5("s").alias("h")).distinct())
    sizes = c.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (c.join(b, "h", "left_semi")
            .groupBy(id_col).agg(F.count(F.lit(1)).alias("n_overlap")))
    thr6 = int(round(contamination_threshold * 1_000_000))
    return (sizes.join(hits, id_col, "left")
            .fillna(0, ["n_overlap"])
            .withColumn("overlap6",
                        F.round(F.col("n_overlap").cast("double")
                                / F.col("n_shingles") * 1_000_000)
                        .cast("bigint"))
            .withColumn("contaminated", F.col("overlap6") >= thr6)
            .select(F.col(id_col),
                    F.col("n_shingles").cast("bigint").alias("n_shingles"),
                    F.col("n_overlap").cast("bigint").alias("n_overlap"),
                    "overlap6", "contaminated"))


def containment_dedup(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      shingle_n: int = 3) -> DataFrame:
    """EXACT substring-containment dedup: documents whose full token
    sequence appears verbatim inside another document (quotes,
    re-posts, chunk re-crawls — the curation op that drops a doc
    because a superset of it already survives).

    Containment is defined at the TOKEN level — doc A is contained in
    doc B iff A's whitespace-normalized token sequence is a contiguous
    run of B's — because character-level substring tests can cut
    mid-token ("at the house" ⊂ "cat the house") and because token
    normalization makes the test whitespace-robust. The verify test is
    then a single `instr(' '||norm_b||' ', ' '||norm_a||' ')` on the
    space-joined token strings, boundary-safe on both ends.

    Scale shape (candidate-then-verify, never all-pairs):

    1. **Exact-dup collapse first**: identical normalized texts group
       to one representative (min id), so the quadratic identical-text
       case is handled by the exact-dedup shuffle, not by pair fan-out.
    2. **Rarest-shingle blocking**: if A (>= `shingle_n` tokens) is a
       token-substring of B, EVERY n-token shingle of A — in
       particular its globally rarest — is also a shingle of B. So
       each eligible contained-side doc emits exactly ONE probe row
       (its min-(df, shingle) shingle) equi-joined against the
       distinct (doc, shingle) table. No false negatives; fan-out per
       doc is the document frequency of its rarest shingle, the
       minimum achievable for single-shingle blocking. Worst case
       (a corpus of near-permutations sharing every shingle) degrades
       toward all-pairs — that corpus is exactly the near-dup-cluster
       family's job, not containment's.
    3. **Verify + aggregate**: the instr test above, then one groupBy
       on the contained id (min container, container count).

    Docs with fewer than `shingle_n` tokens are not eligible on the
    contained side (a min-length gate every real containment-dedup
    policy carries anyway — dropping a 2-token doc as "contained" is
    noise); they still serve as containers of nothing (too short) and
    participate in exact-dup collapse. NULL text follows the
    family-wide null=='' convention.

    Output: one row per contained representative doc —
    (contained_id, container_id = min containing rep, n_containers).
    """
    from pyspark.sql import Window
    toks = _tokens(F.coalesce(F.col(text_col), F.lit("")))
    base = df.select(F.col(id_col).alias("_id"),
                     F.concat_ws(" ", toks).alias("norm"),
                     F.size(toks).alias("tc"))
    # nd feeds the shingle table, the eligibility gate and both verify
    # joins; sh feeds the frequency table, the probe AND the candidate
    # join — cut each once (round-6; guide §5)
    nd, _ = cut(base.groupBy("norm")
                .agg(F.min("_id").alias("_id"), F.min("tc").alias("tc")),
                "containment_docs")
    sh, _ = cut(shingles_exploded(nd, "_id", "norm", shingle_n).distinct(),
                "containment_shingles")
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
    eligible = nd.filter(F.col("tc") >= shingle_n)
    w = Window.partitionBy("_id").orderBy("_df", "s")
    rare = (sh.join(eligible.select("_id"), "_id", "left_semi")
            .join(dfreq, "s")
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(F.col("_id").alias("contained_id"), "s"))
    cand = (rare.join(sh.withColumnRenamed("_id", "cid"), "s")
            .filter(F.col("contained_id") != F.col("cid"))
            .select("contained_id", "cid"))
    return (cand
            .join(eligible.select(F.col("_id").alias("contained_id"),
                                  F.col("norm").alias("norm_a")),
                  "contained_id")
            .join(nd.select(F.col("_id").alias("cid"),
                            F.col("norm").alias("norm_b")), "cid")
            .filter(F.instr(F.concat(F.lit(" "), F.col("norm_b"),
                                     F.lit(" ")),
                            F.concat(F.lit(" "), F.col("norm_a"),
                                     F.lit(" "))) > 0)
            .groupBy("contained_id")
            .agg(F.min("cid").alias("container_id"),
                 F.count(F.lit(1)).alias("n_containers")))


def weighted_jaccard(df: DataFrame, pairs: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text",
                     n: int = 3) -> DataFrame:
    """MULTISET (occurrence-weighted) Jaccard for candidate pairs:
    Σ_s min(c_l, c_r) / Σ_s max(c_l, c_r) over per-document shingle
    OCCURRENCE counts — the bag-semantics verify that distinguishes "a
    phrase once" from "the same phrase fifty times" (set Jaccard
    treats a boilerplate-spam doc and a normal doc with one shared
    line identically; weighted Jaccard scores the spam pair by its
    repeated mass).

    Exact integer sufficient statistics: Σ max = w_l + w_r − Σ min
    (shingles on one side only contribute their full count to Σ max
    and 0 to Σ min), so only Σ min needs the pair join — one equi
    join on (doc, shingle) counts, the ngram_jaccard shape with a
    groupBy-count instead of distinct. Like ngram_jaccard, EVERY
    candidate pair stays in the output — a zero-overlap pair (an LSH
    band-hash collision between unrelated docs) reports wmin=0 /
    wjac6=0 rather than vanishing, so downstream threshold filters
    and candidate-coverage counts see the full set.
    """
    occ = (shingles_exploded(df, id_col, text_col, n)
           .groupBy(id_col, "s")
           .agg(F.count(F.lit(1)).alias("c")))
    tot = occ.groupBy(id_col).agg(F.sum("c").cast("bigint").alias("w"))
    lo = occ.select(F.col(id_col).alias("left_id"), "s",
                    F.col("c").alias("c_l"))
    ro = occ.select(F.col(id_col).alias("right_id"), "s",
                    F.col("c").alias("c_r"))
    overlap = (pairs.join(lo, "left_id").join(ro, ["right_id", "s"])
               .groupBy("left_id", "right_id")
               .agg(F.sum(F.least("c_l", "c_r")).cast("bigint")
                    .alias("wmin")))
    wmin = (pairs.select("left_id", "right_id")
            .join(overlap, ["left_id", "right_id"], "left")
            .na.fill(0, ["wmin"]))
    return (wmin
            .join(tot.withColumnRenamed(id_col, "left_id")
                  .withColumnRenamed("w", "w_l"), "left_id")
            .join(tot.withColumnRenamed(id_col, "right_id")
                  .withColumnRenamed("w", "w_r"), "right_id")
            .withColumn("wjac6",
                        F.round(F.col("wmin").cast("double")
                                / (F.col("w_l") + F.col("w_r")
                                   - F.col("wmin")) * 1_000_000)
                        .cast("bigint")))
