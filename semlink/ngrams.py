"""N-gram mention generation (SURVEY T3) — pure SQL explode, no Python.

For each row of text we emit every word n-gram of length 1..N with its
token-span (span_start = 0-based token index, span_len = token count).
This is the reference's candidate-mention generator
(`Semanticizer.semanticize`: tokenize → n-grams ≤ max_ngram_length →
normalize → probe), recast as a single generator expression that
whole-stage codegen keeps JVM-side.

Scale note: output is ≤ N× the token count of the corpus — linear.
Column pruning means only (keys, text) are ever read. The one
first-word gate (a broadcast LEFT SEMI join against
linking.anchor_first_words, at every dictionary size) drops each
position whose leading normalized token cannot start an anchor key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textnorm import normalize_expr, tokenize_expr


def _gate(rows: DataFrame, first_words: DataFrame,
          gate_word: Column) -> DataFrame:
    """Keep the rows whose ``gate_word`` is a first word of some anchor
    key: a broadcast LEFT SEMI join against the first-word table (an
    exact JVM-side hash probe; '' never matches; duplicates in the
    table change nothing). Both explodes gate on the first WORD of the
    span's own leading normalized token — a dashed raw token
    ("Umber-Topaz") normalizes to a multi-word key."""
    fw = first_words.select(F.col(first_words.columns[0]).alias("_fw"))
    return rows.join(F.broadcast(fw), gate_word == F.col("_fw"),
                     "left_semi")


def _normalize_tokens(toks: Column) -> Column:
    return F.transform(toks, normalize_expr)


def ngram_struct_expr(tokens_col: str, max_n: int,
                      norm_tokens_col: str) -> Column:
    """Array<struct(span_start, span_len, ngram, ngram_norm, gate_w)> of
    all 1..max_n grams. Guarded for empty token arrays (sequence(0,-1)
    would descend).

    The blocking key ngram_norm is assembled by joining the
    PRE-NORMALIZED tokens of ``norm_tokens_col`` — the expensive
    normalization runs once per token instead of once per n-gram: ~6×
    less work at max_n=3. Safe because normalize is homomorphic over
    space-joined concatenation (empty normalized tokens are dropped
    before joining, matching the whole-string collapse) — pinned by
    tests/test_ngram_norm_equiv.py::test_tokenwise_norm_equivalence.
    ``gate_w`` is the first word of the span's own leading normalized
    token ('' if that token normalizes away), the value the first-word
    gate tests.
    """
    fields = (f"i AS span_start, n AS span_len, "
              f"array_join(slice({tokens_col}, i + 1, n), ' ') AS ngram, "
              f"array_join(filter(slice({norm_tokens_col}, i + 1, n),"
              f" x -> x != ''), ' ') AS ngram_norm, "
              f"split({norm_tokens_col}[i], ' ')[0] AS gate_w")
    typ = ("array<struct<span_start:int,span_len:int,ngram:string,"
           "ngram_norm:string,gate_w:string>>")

    return F.expr(
        f"""
        CASE WHEN size({tokens_col}) = 0 THEN
          CAST(array() AS {typ})
        ELSE
          flatten(transform(sequence(0, size({tokens_col}) - 1), i ->
            transform(sequence(1, least({max_n}, size({tokens_col}) - i)), n ->
              struct({fields}))))
        END
        """
    )


def explode_mentions_hof(
    df: DataFrame,
    text_col: str = "text",
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    max_n: int = 3,
    first_words: DataFrame | None = None,
    carry_cols: tuple[str, ...] = (),
    norm_tokens_fn=_normalize_tokens,
) -> DataFrame:
    """Array/higher-order-function variant of :func:`explode_mentions`.

    Same output. Used for STREAMING inputs (window functions are not
    supported on streaming DataFrames); micro-batches are small enough
    that the HOF lambda thread-contention that rules this path out for
    batch (see explode_mentions) doesn't matter.

    ``norm_tokens_fn`` maps the token array to its normalized token
    array, once per turn: the default codegen ASCII normalizer per
    element, or textnorm.normalize_unicode_tokens_udf
    (cfg.unicode_normalize) — a pandas UDF cannot run inside the HOF
    lambda, so it normalizes the whole array in one Arrow pass.

    ``first_words`` gates post-explode (a stream-static broadcast semi
    join) on each span's ``gate_w`` — the value the batch explode
    gates on, so both emit identical mention sets.

    ``carry_cols`` ride through unchanged without joining mention_id —
    the streaming path carries the event-time column this way, so the
    watermark survives the explode and no stream-stream self-join is
    ever needed.
    """
    toks = df.select(
        *key_cols, *carry_cols,
        tokenize_expr(F.col(text_col)).alias("_toks"),
    ).withColumn("_ntoks", norm_tokens_fn(F.col("_toks")))
    m = (
        toks.select(
            *key_cols, *carry_cols,
            F.explode(ngram_struct_expr("_toks", max_n, "_ntoks")).alias("g"),
        )
        .select(
            *key_cols, *carry_cols,
            F.col("g.span_start").alias("span_start"),
            F.col("g.span_len").alias("span_len"),
            F.col("g.ngram").alias("ngram"),
            F.col("g.ngram_norm").alias("ngram_norm"),
            F.col("g.gate_w").alias("_gate_w"),
        )
        .filter(F.col("ngram_norm") != "")
    )
    if first_words is not None:
        m = _gate(m, first_words, F.col("_gate_w"))
    id_parts = [F.col(c).cast("string") for c in key_cols] + [
        F.col("span_start").cast("string"),
        F.col("span_len").cast("string"),
    ]
    return (m.drop("_gate_w")
            .withColumn("mention_id", F.concat_ws(":", *id_parts)))


def explode_mentions(
    df: DataFrame,
    text_col: str = "text",
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    max_n: int = 3,
    first_words: DataFrame | None = None,
    norm_fn=normalize_expr,
) -> DataFrame:
    """transcripts → mentions(key_cols..., mention_id, span_start,
    span_len, ngram, ngram_norm).

    ``norm_fn`` selects the per-token normalizer: the default codegen
    ASCII path, or textnorm.normalize_unicode_udf for non-Latin corpora
    (cfg.unicode_normalize) — it runs once per exploded token row, so a
    pandas UDF slots in without touching the n-gram assembly.

    ``first_words`` (a one-column DataFrame, linking.anchor_first_words)
    gates token rows before n-gram assembly: a span can only match the
    dictionary if the first word of its leading normalized token starts
    some anchor key, so every other position is dropped by a broadcast
    LEFT SEMI join before any n-gram string is built. This is the
    difference between materializing ~100× the corpus in n-gram strings
    (allocation/GC-bound, does NOT scale with cores) and materializing
    only plausible candidates. ~500k first words broadcast in ~10 MB;
    a first-word table too big to broadcast needs a shuffle semi join
    instead (Spark's runtime Bloom filters,
    spark.sql.optimizer.runtime.bloomFilter.enabled, then prune the
    probe side).

    Implementation is deliberately LAMBDA-FREE: Spark evaluates
    higher-order-function lambdas (transform/filter) on a shared
    interpreted expression instance whose lambda variables are
    synchronized across task threads — measured on this workload as a
    hard serialization point (21s wall at BOTH local[8] and local[32]).
    Instead:

      posexplode(tokens)                       — scales (plain Generate)
      → normalize per ROW (plain translate chain) — scales (codegen)
      → window lead() for the following max_n-1 raw+norm tokens
        (ONE shuffle of the token stream, keyed by turn — scales)
      → optional first-word gate (broadcast semi join per row)
      → n-gram assembly via concat_ws/nullif (NULL-skipping concat
        reproduces whole-string normalization; '' norms become NULL)
      → explode of a 3-element literal struct array (no lambda).

    Measured alternative (round 2): lookahead via try_element_at on a
    RETAINED token array removes the window shuffle and is ~20% faster
    standalone — but 10-20% SLOWER end-to-end in the pipeline (the
    retained array amplifies exploded-row width through the gate and
    blocking join; BENCH/BASELINE.md §4). Window-lead is the measured
    e2e winner and stays.

    mention_id = "<key0>:<key1>:<span_start>:<span_len>" — deterministic,
    no monotonically_increasing_id (which is partition-layout dependent
    and would break resume determinism).
    """
    from pyspark.sql import Window

    rows = df.select(
        *key_cols,
        F.posexplode(tokenize_expr(F.col(text_col))).alias("pos", "tok"),
    ).withColumn("nrm", norm_fn(F.col("tok")))

    w = Window.partitionBy(*key_cols).orderBy("pos")
    for k in range(1, max_n):
        rows = rows.withColumn(f"tok{k}", F.lead("tok", k).over(w))
        rows = rows.withColumn(f"nrm{k}", F.lead("nrm", k).over(w))

    if first_words is not None:
        rows = _gate(rows, first_words, F.split(F.col("nrm"), " ").getItem(0))

    def gram(n: int):
        raw = [F.col("tok")] + [F.col(f"tok{k}") for k in range(1, n)]
        nrm = [F.col("nrm")] + [F.col(f"nrm{k}") for k in range(1, n)]
        valid = raw[-1].isNotNull() if n > 1 else F.lit(True)
        return F.struct(
            F.lit(n).alias("span_len"),
            F.when(valid, F.concat_ws(" ", *raw)).alias("ngram"),
            F.concat_ws(" ", *[F.nullif(c, F.lit("")) for c in nrm])
            .alias("ngram_norm"),
        )

    m = (rows.select(
            *key_cols, F.col("pos").alias("span_start"),
            F.explode(F.array(*[gram(n) for n in range(1, max_n + 1)]))
            .alias("g"))
         .select(*key_cols, "span_start",
                 F.col("g.span_len").alias("span_len"),
                 F.col("g.ngram").alias("ngram"),
                 F.col("g.ngram_norm").alias("ngram_norm"))
         .filter(F.col("ngram").isNotNull()
                 & (F.col("ngram_norm") != "")))
    id_parts = [F.col(c).cast("string") for c in key_cols] + [
        F.col("span_start").cast("string"),
        F.col("span_len").cast("string"),
    ]
    return m.withColumn("mention_id", F.concat_ws(":", *id_parts))


def ngram_duckdb_sql(table: str, id_cols: str, text_col: str, max_n: int) -> str:
    """DuckDB-equivalent n-gram explode (oracle for T3).

    Spans are 0-based to match explode_mentions.
    """
    return f"""
    SELECT {id_cols},
           i - 1            AS span_start,
           n                AS span_len,
           array_to_string(toks[i : i + n - 1], ' ') AS ngram
    FROM (
      SELECT {id_cols},
             list_filter(string_split_regex(trim({text_col}), '\\s+'),
                         x -> x <> '') AS toks
      FROM {table}
    ) t,
    LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) gi,
    LATERAL (SELECT unnest(generate_series(1, least({max_n}, len(toks) - i + 1))) AS n) gn
    """
