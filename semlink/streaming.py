"""Structured Streaming ingestion (SURVEY §2.10, optional extension).

The reference is a long-lived HTTP service linking one document at a
time with a rolling `context`; the Spark-idiomatic recast is a
continuous pipeline over the transcripts table:

  readStream(transcripts) → clean/explode/normalize (stateless T1-T4)
  → broadcast dictionary join (J1) → watermarked session window per
  conv_id for context accumulation → foreachBatch append of candidate
  edges. Clustering stays a periodic batch job: iterative CC is not
  expressible as an incremental streaming operator, and the north rule
  defines it as a checkpointed batch loop anyway.

Late turns beyond the watermark are dropped by Spark and surface in
the streaming progress metrics (numDroppedRows) → ops.metrics.

Tested with the in-memory `rate`/file sources; on a cluster the source
is `spark.readStream.format("iceberg")` (or Kafka upstream of it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DEFAULT, SemlinkConfig
from .linking import candidate_join, generate_mentions


def stream_candidates(transcript_stream: DataFrame, anchors: DataFrame,
                      cfg: SemlinkConfig = DEFAULT,
                      watermark: str = "10 minutes",
                      first_words: DataFrame | None = None) -> DataFrame:
    """Stateless linking over a streaming transcripts DataFrame.

    Returns a streaming DataFrame of candidate links; attach a sink:

        stream_candidates(s, anchors).writeStream
          .trigger(processingTime="30 seconds")
          .option("checkpointLocation", ckpt)
          .foreachBatch(append_edges).start()

    The event-time column rides THROUGH the mention explode
    (carry_cols), so the watermark set here propagates to every
    downstream stateful op and no stream-stream self-join is needed
    (round 1 re-joined mentions with the stream to recover ts — twice
    the source reads, and the join muddied late-row accounting).

    Mention generation is the SAME generate_mentions the batch path
    uses (streaming=True, ts carried), so cfg.unicode_normalize and the
    first-word gate behave identically in both engines: tokens are
    normalized by the same per-string function, and ``first_words``
    (linking.anchor_first_words) gates every span on the first word of
    its own leading normalized token, here as a stream-static broadcast
    semi join.
    """
    t = transcript_stream.withWatermark("ts", watermark)
    mentions = generate_mentions(t, cfg, first_words=first_words,
                                 streaming=True, carry_cols=("ts",))
    return candidate_join(mentions, anchors, cfg)


def windowed_mention_counts(transcript_stream: DataFrame, anchors: DataFrame,
                            cfg: SemlinkConfig = DEFAULT,
                            watermark: str = "10 minutes",
                            gap: str = "30 minutes") -> DataFrame:
    """Session-windowed per-conversation candidate counts — the
    streaming analogue of the reference's rolling `context` grouping."""
    # stream_candidates already set the watermark on ts; it propagates
    # through the stream-static join (Spark 4 disallows redefining it)
    cands = stream_candidates(transcript_stream, anchors, cfg, watermark)
    return (cands
            .groupBy(F.session_window("ts", gap).alias("w"), "conv_id")
            .agg(F.count("*").alias("n_candidates"),
                 F.approx_count_distinct("target_id").alias("n_entities")))


def stream_dedup_documents(doc_stream: DataFrame,
                           watermark: str = "10 minutes",
                           text_col: str = "text",
                           ts_col: str = "ts") -> DataFrame:
    """Streaming EXACT dedup at ingest — the training-data pipeline's
    duplicate suppression running continuously on the document/turn
    stream instead of as a batch pass: rows whose content digest
    (md5(text), the same key as batch dedup.exact_dedup) was already
    seen within the watermark horizon are dropped by
    ``dropDuplicatesWithinWatermark``.

    Scale shape: state is ONE digest row per distinct content hash,
    hash-partitioned by the state store, and the watermark EVICTS
    digests older than the horizon — bounded state on an unbounded
    stream (a plain dropDuplicates would grow state forever). Exact
    cross-horizon dedup remains the batch job's responsibility; this
    operator is the standard near-the-source guard that keeps
    duplicate-heavy feeds (retries, re-crawls, at-least-once sources)
    from amplifying downstream shuffle volume.

    NULL text coalesces to '' first — the same null convention as the
    batch shingle/dedup family (ADVICE r03).
    """
    d = doc_stream.withWatermark(ts_col, watermark)
    return (d.withColumn(
                "text_hash",
                F.md5(F.coalesce(F.col(text_col), F.lit(""))))
            .dropDuplicatesWithinWatermark(["text_hash"]))


def progress_metrics(query) -> dict:
    """Late-data visibility (O2 tie-in): totals from the streaming
    query's recentProgress — rows dropped by the watermark surface here
    (the docstring contract above) and flow into ops.MetricsCollector
    as plain counts."""
    n_in = 0
    dropped = 0
    for p in query.recentProgress:
        n_in += int(p.get("numInputRows", 0) or 0)
        for so in p.get("stateOperators", []) or []:
            dropped += int(so.get("numRowsDroppedByWatermark", 0) or 0)
    return {"num_input_rows": n_in, "rows_dropped_by_watermark": dropped}


def candidates_append_sink(io, table: str = "stream_candidates"):
    """The documented foreachBatch sink: append each micro-batch's
    candidate links to a TableIO table (parquet/Iceberg). Clustering
    stays a periodic batch job over the accumulated table."""
    def append(batch_df, batch_id: int):
        io.write(batch_df.withColumn(
            "_batch_id", F.lit(batch_id).cast("long")), table, mode="append")
    return append


def rolling_context(cand_stream: DataFrame,
                    max_entities: int = 16) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState): the
    reference's rolling `context` request parameter — a per-conversation
    set of recently-seen entities that future requests disambiguate
    against — kept as bounded per-key state in the streaming engine.

    State per conv_id: up to ``max_entities`` (entity, last_seen_epoch)
    pairs; on every micro-batch the group's new candidates fold in
    (vectorized pandas max-per-entity, no per-row Python), then the
    least-recently-seen entities are evicted beyond the cap
    (deterministic: oldest last_seen evicted first; on a last_seen tie
    the SMALLER entity id is evicted — larger ids sort first in the
    keep list; pinned by the tie case in
    tests/test_streaming.py::test_rolling_context_state_and_eviction).
    Emits one row per (conv_id, micro-batch) with the surviving context
    set — downstream re-scoring joins against it exactly like the batch
    path joins resolve_senses' ctx.

    At scale: state is hash-partitioned by conv_id (Spark state store),
    size-bounded per key, and the update is Arrow-batched — the same
    no-per-row-Python discipline as the pair scorer.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "conv_id string, n_ctx int, ctx_entities array<bigint>"
    state_schema = "entities array<bigint>, last_seen array<bigint>"

    def update(key, pdfs, state):
        import pandas as pd
        ents = {}
        if state.exists:
            prev_e, prev_t = state.get
            ents = dict(zip(prev_e, prev_t))
        for pdf in pdfs:
            ts_s = (pd.to_datetime(pdf["ts"]).astype("int64") // 10**9)
            seen = (pd.DataFrame({"e": pdf["target_id"].astype("int64"),
                                  "t": ts_s})
                    .groupby("e")["t"].max())
            for e, t in seen.items():        # ≤ distinct entities per batch
                ents[int(e)] = max(ents.get(int(e), 0), int(t))
        kept = sorted(ents.items(), key=lambda kv: (-kv[1], -kv[0]))
        kept = kept[:max_entities]
        state.update(([e for e, _ in kept], [t for _, t in kept]))
        yield pd.DataFrame({
            "conv_id": [key[0]],
            "n_ctx": [len(kept)],
            "ctx_entities": [sorted(e for e, _ in kept)],
        })

    return (cand_stream
            .groupBy("conv_id")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def incremental_link_batches(reps: DataFrame, scheme, match_cond,
                             score_col, carry_cols, sink,
                             rec_id_col: str = "rec_id",
                             cluster_col: str = "cluster_id"):
    """foreachBatch processor for STREAMING incremental entity
    resolution — the production ingest shape once the backlog is
    resolved: every micro-batch of newly arriving records runs the
    SAME batch operator (iterative.incremental_link) against the
    static golden representatives, and ``sink(assignments,
    batch_id)`` persists the result.

    The assignment is per-record independent (each record's rank-1
    candidate depends only on its own row and the reps table), so
    the union of micro-batch outputs is BIT-IDENTICAL to one batch
    run over all records regardless of how the source splits
    batches — the rare streaming operator with an EXACT batch/SQL
    oracle, unlike the watermark-dependent session/stateful ops.
    Intra-stream duplicates resolve through the existing population
    exactly as the batch docstring describes; records matching only
    EACH OTHER await the next periodic batch re-resolution.

    Usage::

        q = (new_stream.writeStream
             .foreachBatch(incremental_link_batches(reps, ...))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
    """
    from .iterative import incremental_link

    def process(batch_df, batch_id: int):
        out = incremental_link(
            batch_df, reps, scheme=scheme, match_cond=match_cond,
            score_col=score_col, carry_cols=carry_cols,
            rec_id_col=rec_id_col, cluster_col=cluster_col)
        sink(out, batch_id)

    return process
