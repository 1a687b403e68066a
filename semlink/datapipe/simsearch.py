"""Similarity search over embedding columns (array<float>).

- Cosine kernel: one JVM-side HOF-fold expression (:func:`cosine_expr`).
  It won its recorded A/B (BENCH/BASELINE.md §4c, 2M 64-dim pairs,
  local[8] vs local[32]): HOF fold 8.9s→6.0s, Arrow numpy UDF
  6.6s→9.7s (anti-scales: shipping 2×dim doubles per row through
  Arrow costs more than the compute), unrolled element_at codegen
  18.7s→13.0s.
- Brute-force cosine top-k: the exactness baseline. Quadratic;
  at scale use it only within partitions/cells.
- IVF: a REAL coarse quantizer — deterministic seeds (the k lowest-id
  vectors, oracle-expressible) optionally Lloyd-refined by distributed
  k-means (``kmeans_centroids``); ``assign_cells`` probes the nprobe
  nearest centroids per vector; ``ivf_topk`` searches within cells.
  At 100 TB: centroids are a broadcast dim (k·dim doubles), assignment
  is one scan, the search shuffle is keyed by cell (co-partitionable).
- Cosine near-dup edges: threshold instead of top-k; the scale path is
  ``cosine_near_dup_edges_ivf`` (Σ|cell|² work, not N²).

All ranking uses scaled-bigint similarity + id tiebreaks so results
are deterministic and oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..ops import cut, spread


def cosine_expr(a: str, b: str) -> Column:
    """Cosine similarity as a pure SQL expression (HOF lambdas),
    JVM-side — the measured-fastest variant (module docstring) and the
    oracle-parity reference. Null or zero vectors score 0.0."""
    dot = F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.col(a), F.lit(0.0),
                            lambda acc, x: acc + x.cast("double") * x.cast("double")))
    nb = F.sqrt(F.aggregate(F.col(b), F.lit(0.0),
                            lambda acc, x: acc + x.cast("double") * x.cast("double")))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def _ranked_topk(joined: DataFrame, k: int) -> DataFrame:
    sim6 = F.round(cosine_expr("q_emb", "c_emb") * 1_000_000).cast("bigint")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim6"), F.asc("cand_id"))
    return (joined.withColumn("sim6", sim6)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "cand_id", "sim6", "rk"))


def brute_force_topk(embeddings: DataFrame, queries: DataFrame,
                     k: int = 5) -> DataFrame:
    """queries(query_id, q_emb) × embeddings(cand_id, c_emb) → top-k.

    The cross join is intentional and the caller bounds |queries|; at
    scale the candidate side is pre-filtered (IVF cell / LSH bucket).
    """
    joined = (queries.crossJoin(embeddings)
              .filter(F.col("query_id") != F.col("cand_id")))
    return _ranked_topk(joined, k)


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Cell-restricted top-k: candidates share the query's coarse cell.
    Join key = cell → candidate set shrinks by the cell count; the
    shuffle is on cell (co-partitionable)."""
    joined = (queries.join(embeddings, "cell")
              .filter(F.col("query_id") != F.col("cand_id")))
    return _ranked_topk(joined, k)


def cosine_near_dup_edges(embeddings: DataFrame, queries: DataFrame,
                          threshold: float = 0.95) -> DataFrame:
    """Near-duplicate edges by cosine ≥ threshold (feeds the same CC
    machinery as record linkage). EXACT baseline: the cross join is N²
    — fixture/verification scale only; production uses
    :func:`cosine_near_dup_edges_ivf`."""
    sim = cosine_expr("q_emb", "c_emb")
    thr6 = int(round(threshold * 1_000_000))
    return (queries.crossJoin(embeddings)
            .filter(F.col("query_id") < F.col("cand_id"))
            .withColumn("sim6",
                        F.round(sim * 1_000_000).cast("bigint"))
            # threshold on the scaled-bigint sim — a raw-double compare
            # would let last-ulp engine differences flip boundary pairs
            .filter(F.col("sim6") >= thr6)
            .select(F.col("query_id").alias("src"),
                    F.col("cand_id").alias("dst"), "sim6"))


# --------------------------------------------------------------- IVF index

def seed_centroids(embeddings: DataFrame, k: int = 8,
                   id_col: str = "vec_id",
                   emb_col: str = "embedding") -> DataFrame:
    """Deterministic coarse-quantizer seeds: the k lowest-id vectors,
    numbered 0..k-1 in id order. Oracle-expressible (ORDER BY id LIMIT k)
    and the fixed starting point for :func:`kmeans_centroids`. The
    order-by-limit is Spark's distributed TakeOrdered — no global sort."""
    w = Window.orderBy(id_col)  # k rows only — single tiny partition is fine
    return (embeddings.select(id_col, emb_col).orderBy(id_col).limit(k)
            .select((F.row_number().over(w) - 1).alias("cell"),
                    F.transform(emb_col, lambda x: x.cast("double"))
                    .alias("c_emb")))


def assign_cells(df: DataFrame, centroids: DataFrame, id_col: str,
                 nprobe: int = 1, emb_col: str = "embedding") -> DataFrame:
    """Append `cell` to df: one row per (vector, probed cell), the nprobe
    nearest centroids by cosine. centroids(cell, c_emb) is broadcast —
    one scan over df, no shuffle besides the per-id window (partitioned
    by id, never global). Deterministic: scaled-bigint sim, cell-asc tie."""
    sim6 = F.round(cosine_expr(emb_col, "c_emb") * 1_000_000).cast("bigint")
    w = Window.partitionBy(id_col).orderBy(F.desc("_csim6"), F.asc("cell"))
    out = (df.crossJoin(F.broadcast(centroids))
           .withColumn("_csim6", sim6)
           .withColumn("_crk", F.row_number().over(w))
           .filter(F.col("_crk") <= nprobe)
           .drop("c_emb", "_csim6", "_crk"))
    return out


def kmeans_centroids(embeddings: DataFrame, k: int = 8, iters: int = 4,
                     id_col: str = "vec_id",
                     emb_col: str = "embedding") -> DataFrame:
    """Distributed Lloyd refinement of :func:`seed_centroids` → the real
    IVF coarse quantizer. Assignment is a broadcast crossJoin scan; the
    centroid update is a posexplode + groupBy(cell, pos) partial-agg
    (map-side combine) — both fully distributed; only the k·dim centroid
    matrix ever reaches the driver (re-literalized each iteration as a
    hard lineage cut).

    Deterministic: elementwise means are computed over scaled-bigint
    sums (associative across partitions, unlike double sums), so the
    centroids are bit-identical run to run. Empty cells keep their
    previous centroid."""
    spark = embeddings.sparkSession
    cur = seed_centroids(embeddings, k, id_col, emb_col)
    cents = {r["cell"]: list(r["c_emb"]) for r in cur.collect()}
    # every Lloyd iteration re-reads the full vector table — spread and
    # cut it once (the scan is one input split at bench scale) instead
    # of re-running scan + projection per iteration (round-6
    # optimization; guide §5 caching)
    base, _ = cut(spread(embeddings.select(id_col, emb_col),
                         spark.sparkContext.defaultParallelism),
                  "kmeans_vectors")
    e6 = F.lit(1_000_000.0)
    for _ in range(iters):
        cent_df = spark.createDataFrame(
            sorted(cents.items()), "cell int, c_emb array<double>")
        a = assign_cells(base, cent_df,
                         id_col, nprobe=1, emb_col=emb_col)
        upd = (a.select("cell", F.posexplode(emb_col).alias("pos", "x"))
               .groupBy("cell", "pos")
               .agg(F.sum(F.round(F.col("x").cast("double") * e6)
                          .cast("bigint")).alias("s"),
                    F.count(F.lit(1)).alias("n"))
               .withColumn("m", F.col("s").cast("double") / F.col("n") / e6)
               .groupBy("cell")
               .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                    .alias("pm"))
               .select("cell", F.col("pm.m").alias("c_emb")))
        for r in upd.collect():
            cents[r["cell"]] = list(r["c_emb"])
    return spark.createDataFrame(
        sorted(cents.items()), "cell int, c_emb array<double>")


def cosine_near_dup_edges_ivf(embeddings: DataFrame, centroids: DataFrame,
                              threshold: float = 0.95, nprobe: int = 2,
                              id_col: str = "vec_id",
                              emb_col: str = "embedding") -> DataFrame:
    """Near-dup edges restricted to IVF cells — the 100 TB path. Every
    vector is indexed under its nprobe nearest cells, so a pair meets
    iff their probe sets intersect: near-identical vectors share the
    top cell by construction, and boundary pairs are caught by the
    second probe. Work is Σ_cell |cell|² instead of N²; the join
    shuffles on cell only."""
    # both sides of the cell self-join consume the assignment —
    # cut it once or the centroid crossJoin + per-id window run
    # twice. A cut, not persist: persist() pins blocks in the
    # CacheManager until an explicit unpersist, which this function
    # can't issue (it returns a lazy plan), so repeated calls in a
    # long-lived session would accumulate cached partitions (ADVICE
    # r03); a cut's blocks are GC-cleaned with the DataFrame by the
    # ContextCleaner.
    # explicit numPartitions so AQE's byte-targeted coalescing cannot
    # squash the small-byte but CPU-dense cell self-join below onto
    # 1-2 tasks (round-6 A/B: global minPartitionSize tuning was a
    # wash, an explicit keyed repartition here wins ~25%); keying by
    # cell lets both join sides reuse the one exchange. Not a spread:
    # it co-partitions the join input, whatever the input's width.
    spark = embeddings.sparkSession
    a, _ = cut(assign_cells(embeddings.select(id_col, emb_col), centroids,
                            id_col, nprobe=nprobe, emb_col=emb_col)
               .repartition(spark.sparkContext.defaultParallelism, "cell"),
               "ivf_cells")
    l = a.select(F.col(id_col).alias("query_id"),
                 F.col(emb_col).alias("q_emb"), "cell")
    r = a.select(F.col(id_col).alias("cand_id"),
                 F.col(emb_col).alias("c_emb"), "cell")
    sim = cosine_expr("q_emb", "c_emb")
    thr6 = int(round(threshold * 1_000_000))
    return (l.join(r, "cell")
            .filter(F.col("query_id") < F.col("cand_id"))
            .dropDuplicates(["query_id", "cand_id"])  # multi-probe meets
            .withColumn("sim6",
                        F.round(sim * 1_000_000).cast("bigint"))
            .filter(F.col("sim6") >= thr6)   # scaled-bigint threshold
            .select(F.col("query_id").alias("src"),
                    F.col("cand_id").alias("dst"), "sim6"))


# ------------------------------------------------- text → embedding
# VERDICT r04 next #2: the ANN family consumed an embedding column only
# fixtures provided. This closes the gap with a deterministic
# feature-hashed token projection (hashing trick, Weinberger et al.
# '09 — public knowledge): md5-bucketed signed token counts into `dim`
# dimensions, L2-normalized. Pure SQL — explode → nibble-arithmetic
# bucket/sign → ONE map-side-combined groupBy of `dim` conditional
# sums (the simhash shape) — so DuckDB re-derives the vectors exactly
# and the only shuffle is the groupBy(id).

EMBED_DIM = 32
_HEX = "0123456789abcdef"


def hashed_embedding_components(df: DataFrame, id_col: str = "doc_id",
                                text_col: str = "text",
                                dim: int = EMBED_DIM) -> DataFrame:
    """(id, v0..v_{dim-1}, ss): integer bucket votes of the feature-
    hashed projection and their squared sum. bucket = first two md5
    nibbles of the token mod dim; sign = parity of the third nibble
    (the ± channel that unbiases E[v·v'] for unrelated docs). Raw
    integers so the oracle hash and the normalize step are exact."""
    from .textstats import _tokens
    toks = df.select(
        F.col(id_col),
        F.explode(_tokens(F.coalesce(F.col(text_col), F.lit(""))))
        .alias("tok"))
    h = toks.withColumn("hx", F.md5("tok"))

    def nib(p):
        return F.expr(f"instr('{_HEX}', substring(hx, {p}, 1)) - 1")

    votes = h.select(
        F.col(id_col),
        ((nib(1) * 16 + nib(2)) % dim).alias("b"),
        F.when(nib(3) % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias("s"))
    agg = votes.groupBy(id_col).agg(
        *[F.sum(F.when(F.col("b") == j, F.col("s")).otherwise(F.lit(0)))
          .cast("bigint").alias(f"v{j}") for j in range(dim)])
    out = df.select(id_col).join(agg, id_col, "left").select(
        F.col(id_col),
        *[F.coalesce(F.col(f"v{j}"), F.lit(0)).cast("bigint").alias(f"v{j}")
          for j in range(dim)])
    ss = None
    for j in range(dim):
        t = F.col(f"v{j}") * F.col(f"v{j}")
        ss = t if ss is None else ss + t
    return out.withColumn("ss", ss.cast("bigint"))


def embed_text(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", dim: int = EMBED_DIM,
               out_col: str = "embedding") -> DataFrame:
    """array<float> L2-normalized feature-hashed embedding — the
    text-native input to the whole ANN family (brute-force top-k, IVF
    cells, near-dup edges). Zero-token docs embed as the zero vector."""
    c = hashed_embedding_components(df, id_col, text_col, dim)
    norm = F.sqrt(F.col("ss").cast("double"))
    arr = F.array(*[
        F.when(F.col("ss") > 0, F.col(f"v{j}").cast("double") / norm)
        .otherwise(F.lit(0.0)).cast("float") for j in range(dim)])
    return c.select(F.col(id_col), arr.alias(out_col))


def l2sq_expr(a: str, b: str) -> Column:
    """Squared Euclidean distance as three sequential-fold inner
    products — ip(a,a) − 2·ip(a,b) + ip(b,b) — the SAME element order
    DuckDB's list_inner_product evaluates, so scaled-bigint
    quantization is bit-stable cross-engine (the cosine_expr
    precedent)."""
    def ip(x: str, y: str) -> Column:
        return F.aggregate(
            F.zip_with(F.col(x), F.col(y),
                       lambda p, r: p.cast("double") * r.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v)
    return ip(a, a) - 2 * ip(a, b) + ip(b, b)


def _pq_subvectors(embeddings: DataFrame, dim: int, m: int,
                   id_col: str, emb_col: str) -> DataFrame:
    """(id, subspace, semb): every vector exploded into its m
    contiguous subvectors — the shared input shape of the codebook
    fit, the encoder and the ADC query side."""
    s = dim // m
    return embeddings.select(
        F.col(id_col),
        F.explode(F.expr(
            f"transform(sequence(0, {m - 1}), "
            f"j -> struct(j as subspace, "
            f"slice({emb_col}, j * {s} + 1, {s}) as semb))")).alias("b")
    ).select(id_col, F.col("b.subspace").alias("subspace"),
             F.col("b.semb").alias("semb"))


def pq_codebooks(embeddings: DataFrame, dim: int, m: int = 4, k: int = 8,
                 iters: int = 2, id_col: str = "vec_id",
                 emb_col: str = "embedding") -> DataFrame:
    """PRODUCT-QUANTIZATION codebooks (Jégou-Douze-Schmid PAMI'11):
    the embedding splits into m contiguous subvectors and each
    subspace trains its own small L2 k-means codebook — m·k centroids
    encode k^m effective cells, the standard memory-bound ANN
    compressor. Returns (subspace, cell, c_emb).

    All m subspace Lloyd chains run JOINTLY, one Spark action per
    iteration over the (id, subspace, semb) exploded table keyed by
    subspace — subspaces never interact, so the per-(subspace, cell,
    pos) scaled-bigint partial sums are bit-identical to m separate
    runs, while the driver issues 1 + iters actions instead of
    m·(1 + iters) (round-6 optimization; guide §1.2 item 1 — fewer
    passes). The exploded table is spread to cluster parallelism (the
    embeddings scan is one input split at bench scale) and cut, so
    each iteration re-reads cut subvectors instead of re-running the
    scan + explode. Only the m·k·(dim/m) centroid doubles ever reach
    the driver.

    Determinism discipline unchanged: k lowest-id seeds per subspace,
    scaled-bigint distance rank (ties cell asc), scaled-bigint mean
    update, empty cells carry over, centroids re-literalized per
    iteration (hard lineage cut)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    spark = embeddings.sparkSession
    sub, _ = cut(spread(_pq_subvectors(embeddings, dim, m, id_col, emb_col),
                        spark.sparkContext.defaultParallelism),
                 "pq_subvectors")
    ws = Window.partitionBy("subspace").orderBy(id_col)
    cur = (sub.withColumn("_rk", F.row_number().over(ws))
           .filter(F.col("_rk") <= k)
           .select("subspace", (F.col("_rk") - 1).alias("cell"),
                   F.transform("semb", lambda x: x.cast("double"))
                   .alias("c_emb")))
    cents = {(r["subspace"], r["cell"]): list(r["c_emb"])
             for r in cur.collect()}
    e6 = F.lit(1_000_000.0)
    for _ in range(iters):
        cent_df = spark.createDataFrame(
            [(sp, c, v) for (sp, c), v in sorted(cents.items())],
            "subspace int, cell int, c_emb array<double>")
        d26 = F.round(l2sq_expr("semb", "c_emb") * 1_000_000).cast("bigint")
        wr = Window.partitionBy(id_col, "subspace").orderBy(
            F.asc("_d26"), F.asc("cell"))
        a = (sub.join(F.broadcast(cent_df), "subspace")
             .withColumn("_d26", d26)
             .withColumn("_rk", F.row_number().over(wr))
             .filter(F.col("_rk") == 1))
        upd = (a.select("subspace", "cell",
                        F.posexplode("semb").alias("pos", "x"))
               .groupBy("subspace", "cell", "pos")
               .agg(F.sum(F.round(F.col("x").cast("double") * e6)
                          .cast("bigint")).alias("s"),
                    F.count(F.lit(1)).alias("n"))
               .withColumn("m", F.col("s").cast("double") / F.col("n") / e6)
               .groupBy("subspace", "cell")
               .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                    .alias("pm"))
               .select("subspace", "cell", F.col("pm.m").alias("c_emb")))
        for r in upd.collect():
            cents[(r["subspace"], r["cell"])] = list(r["c_emb"])
    return spark.createDataFrame(
        [(sp, c, v) for (sp, c), v in sorted(cents.items())],
        "subspace int, cell int, c_emb array<double>")


def pq_codes(embeddings: DataFrame, codebooks: DataFrame, dim: int,
             m: int = 4, id_col: str = "vec_id",
             emb_col: str = "embedding") -> DataFrame:
    """PQ encoding: per (vector, subspace) the nearest codebook cell
    by squared L2 (ties cell asc) plus the quantization error d2_6 —
    one broadcast crossJoin over the m·k codebook rows, one window
    keyed by (vector, subspace). Output (vec_id, subspace, code,
    d2_6); Σ d2_6 over subspaces is the vector's total reconstruction
    error (subspace squared errors are additive)."""
    sub = _pq_subvectors(embeddings, dim, m, id_col, emb_col)
    d26 = F.round(l2sq_expr("semb", "c_emb") * 1_000_000).cast("bigint")
    w = Window.partitionBy(id_col, "subspace").orderBy(
        F.asc("_d26"), F.asc("cell"))
    return (sub.join(F.broadcast(codebooks), "subspace")
            .withColumn("_d26", d26)
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(F.col(id_col), "subspace",
                    F.col("cell").cast("bigint").alias("code"),
                    F.col("_d26").alias("d2_6")))


def pq_adc_topk(embeddings: DataFrame, queries: DataFrame,
                codebooks: DataFrame, dim: int, m: int = 4,
                k: int = 5, id_col: str = "vec_id",
                emb_col: str = "embedding",
                q_id: str = "query_id", q_emb: str = "q_emb") -> DataFrame:
    """ASYMMETRIC DISTANCE COMPUTATION over PQ codes (Jégou PAMI'11
    §III): the uncompressed query builds a per-subspace lookup table
    of exact query↔centroid squared distances (|queries|·m·k rows —
    tiny), and every database vector's approximate distance is the
    INTEGER sum of its m table entries — the memory-bound search that
    never touches raw database vectors.

    Determinism: each LUT entry quantizes to a scaled bigint before
    the per-vector sum, so the approximate distances are exact
    integer arithmetic; ranks tie on cand id. Scale shape: the LUT is
    a broadcast (queries × m·k); the scan is ONE equi join of the
    code table against it plus a groupBy(query, vector) — map-side
    combined, no shuffle keyed on anything wider than the pair."""
    s = dim // m
    codes = pq_codes(embeddings, codebooks, dim=dim, m=m,
                     id_col=id_col, emb_col=emb_col)
    qsub = queries.select(
        F.col(q_id),
        F.explode(F.expr(
            f"transform(sequence(0, {m - 1}), "
            f"j -> struct(j as subspace, "
            f"slice({q_emb}, j * {s} + 1, {s}) as semb))")).alias("b")
    ).select(q_id, F.col("b.subspace").alias("subspace"),
             F.col("b.semb").alias("semb"))
    lut = (qsub.join(F.broadcast(codebooks), "subspace")
           .select(F.col(q_id), "subspace",
                   F.col("cell").cast("bigint").alias("code"),
                   F.round(l2sq_expr("semb", "c_emb") * 1_000_000)
                   .cast("bigint").alias("lut_d2_6")))
    approx = (codes.join(lut, ["subspace", "code"])
              .filter(F.col(q_id) != F.col(id_col))
              .groupBy(q_id, id_col)
              .agg(F.sum("lut_d2_6").cast("bigint").alias("ad2_6")))
    w = Window.partitionBy(q_id).orderBy(F.asc("ad2_6"), F.asc(id_col))
    return (approx.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(F.col(q_id), F.col(id_col).alias("cand_id"),
                    "ad2_6", "rk"))


def ivfpq_codes(embeddings: DataFrame, dim: int, coarse_k: int = 8,
                m: int = 4, k: int = 8, iters: int = 2,
                id_col: str = "vec_id",
                emb_col: str = "embedding") -> DataFrame:
    """IVF-PQ RESIDUAL encoding — the production ANN index shape
    (Jégou PAMI'11 §IV / the FAISS IVFPQ layout): route each vector
    to its coarse cell (the IVF family's seed centroids + cosine
    assignment, unchanged), subtract the cell centroid, and
    product-quantize the RESIDUAL — residuals are far more
    concentrated than raw vectors, so the same m·k codebook budget
    buys much lower quantization error.

    Output: (vec_id, cell, subspace, code, d2_6) — the inverted-list
    key (cell) plus the m-part residual code; Σ d2_6 is the residual
    reconstruction error. Scale shape: the coarse step is the
    existing broadcast scan; the residual is one zip_with subtract;
    codebooks/codes reuse the PQ machinery verbatim on the residual
    table."""
    spark = embeddings.sparkSession
    cents = seed_centroids(embeddings, coarse_k, id_col, emb_col)
    a = assign_cells(embeddings.select(id_col, emb_col), cents, id_col,
                     nprobe=1, emb_col=emb_col)
    # the residual table feeds the codebook fit (1 + iters actions),
    # the encoder AND the final cell join — materialize it ONCE at
    # cluster parallelism instead of re-running the coarse
    # crossJoin-assignment window for every downstream action
    # (round-6 optimization; guide §5 caching / §1.2 fewer passes)
    resid, _ = cut(spread(
        a.join(F.broadcast(cents), "cell").select(
            F.col(id_col), "cell",
            F.zip_with(emb_col, "c_emb", lambda x, c: x.cast("double") - c)
            .alias("residual")),
        spark.sparkContext.defaultParallelism), "ivfpq_residuals")
    cb = pq_codebooks(resid.select(id_col, F.col("residual")
                                   .alias(emb_col)),
                      dim=dim, m=m, k=k, iters=iters, id_col=id_col)
    codes = pq_codes(resid.select(id_col, F.col("residual")
                                  .alias(emb_col)),
                     cb, dim=dim, m=m, id_col=id_col)
    return (codes.join(resid.select(id_col, "cell"), id_col)
            .select(id_col, F.col("cell").cast("bigint").alias("cell"),
                    "subspace", "code", "d2_6"))
