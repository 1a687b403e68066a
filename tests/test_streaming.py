"""§2.10 streaming ingestion: file-source micro-batch end-to-end —
streamed candidate links must equal the batch join on the same data."""
import time

from semlink.fixtures import generate, to_spark
from semlink.linking import candidate_join, generate_mentions
from semlink.streaming import stream_candidates


def test_stream_matches_batch(spark, fx_tiny_dfs, tmp_path):
    d = fx_tiny_dfs
    src = str(tmp_path / "stream_src")
    d["transcripts"].coalesce(2).write.parquet(src)

    batch = candidate_join(
        generate_mentions(d["transcripts"]), d["anchors"])
    expected = sorted(
        (r.mention_id, r.target_id)
        for r in batch.select("mention_id", "target_id").collect())

    stream = spark.readStream.schema(
        d["transcripts"].schema).parquet(src)
    out = stream_candidates(stream, d["anchors"])
    q = (out.select("mention_id", "target_id").writeStream
         .format("memory").queryName("cands_t")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(
        (r.mention_id, r.target_id)
        for r in spark.sql("select * from cands_t").collect())
    assert got == expected


def test_windowed_mention_counts_match_batch(spark, fx_tiny_dfs, tmp_path):
    """Session-windowed per-conversation candidate counts: streaming
    (availableNow micro-batches) must equal the same session_window
    aggregation computed in batch."""
    from pyspark.sql import functions as F

    from semlink.streaming import windowed_mention_counts

    d = fx_tiny_dfs
    src = str(tmp_path / "wstream_src")
    d["transcripts"].coalesce(2).write.parquet(src)

    stream = spark.readStream.schema(d["transcripts"].schema).parquet(src)
    out = windowed_mention_counts(stream, d["anchors"], gap="30 minutes")
    q = (out.writeStream.format("memory").queryName("wcounts_t")
         .option("checkpointLocation", str(tmp_path / "wckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.conv_id, r.w.start, r.w.end, r.n_candidates, r.n_entities)
           for r in spark.sql("select * from wcounts_t").collect()}

    t = d["transcripts"]
    mentions = generate_mentions(t.select("conv_id", "turn_idx", "text"),
                                 streaming=True)
    keyed = mentions.join(t.select("conv_id", "turn_idx", "ts"),
                          ["conv_id", "turn_idx"])
    cands = candidate_join(keyed, d["anchors"])
    batch_rows = cands.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "conv_id").agg(
        F.count("*").alias("n_candidates"),
        F.approx_count_distinct("target_id").alias("n_entities")).collect()
    expected = {(r.conv_id, r.w.start, r.w.end, r.n_candidates, r.n_entities)
                for r in batch_rows}

    # append-mode semantics: a session window is emitted only once the
    # watermark (max event time − 10 min default) passes its END; the
    # tail window(s) stay in state awaiting more data. Pin exactly that.
    import datetime
    max_ts = t.agg(F.max("ts")).first()[0]
    horizon = max_ts - datetime.timedelta(minutes=10)
    emitted = {e for e in expected if e[2] <= horizon}
    held_back = expected - emitted
    assert got == emitted and len(got) > 0
    assert all(e[2] > horizon for e in held_back)


def _mini_anchors(spark):
    return spark.createDataFrame(
        [("alpha", 1, "Alpha Page", 5, 5, 6, False, False)],
        "anchor_norm string, target_id long, target_title string, "
        "sense_link_count long, anchor_link_total long, "
        "anchor_text_total long, from_title boolean, from_redirect boolean")


def test_late_rows_dropped_by_watermark_are_counted(spark, tmp_path):
    """A turn arriving behind the watermark is dropped by the stateful
    session-window operator and SURFACES in progress_metrics — the
    documented late-data contract."""
    import datetime

    from semlink.streaming import progress_metrics, windowed_mention_counts

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    src = tmp_path / "late_src"
    # Spark filters late events with the PREVIOUS batch's watermark, so
    # the drop needs three batches: f1 advances the watermark, f2 makes
    # that watermark the late-events bound, f3 carries the late row.
    import time as _time
    fresh = [("cA", i, "user", "alpha beta", "",
              t0 + datetime.timedelta(minutes=30 + i)) for i in range(3)]
    spark.createDataFrame(fresh, schema).coalesce(1) \
        .write.parquet(str(src / "f1"))
    _time.sleep(1.1)
    fresh2 = [("cA", 10, "user", "alpha beta", "",
               t0 + datetime.timedelta(minutes=34))]
    spark.createDataFrame(fresh2, schema).coalesce(1) \
        .write.parquet(str(src / "f2"))
    _time.sleep(1.1)
    late = [("cA", 99, "user", "alpha gamma", "",
             t0 - datetime.timedelta(minutes=30))]
    spark.createDataFrame(late, schema).coalesce(1) \
        .write.parquet(str(src / "f3"))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src / "*")))
    out = windowed_mention_counts(stream, _mini_anchors(spark),
                                  watermark="10 minutes", gap="5 minutes")
    q = (out.writeStream.format("memory").queryName("late_t")
         .option("checkpointLocation", str(tmp_path / "late_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    m = progress_metrics(q)
    assert m["num_input_rows"] == 5   # single source read (no self-join)
    assert m["rows_dropped_by_watermark"] >= 1


def test_foreach_batch_append_sink(spark, fx_tiny_dfs, tmp_path):
    """The documented continuous-pipeline sink: foreachBatch appends
    candidates to a TableIO table; accumulated rows equal the batch
    join."""
    from semlink.io import TableIO
    from semlink.streaming import candidates_append_sink, stream_candidates

    d = fx_tiny_dfs
    src = str(tmp_path / "fb_src")
    d["transcripts"].coalesce(2).write.parquet(src)
    io = TableIO(fmt="parquet", root=str(tmp_path / "fb_out"))

    stream = spark.readStream.schema(d["transcripts"].schema).parquet(src)
    out = stream_candidates(stream, d["anchors"])
    q = (out.select("mention_id", "target_id").writeStream
         .option("checkpointLocation", str(tmp_path / "fb_ckpt"))
         .foreachBatch(candidates_append_sink(io))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = sorted((r.mention_id, r.target_id) for r in
                 io.read(spark, "stream_candidates")
                 .select("mention_id", "target_id").collect())
    batch = candidate_join(generate_mentions(d["transcripts"]), d["anchors"])
    expected = sorted((r.mention_id, r.target_id) for r in
                      batch.select("mention_id", "target_id").collect())
    assert got == expected


def test_stream_candidates_unicode_cjk(spark, tmp_path):
    """ADVICE r02: cfg.unicode_normalize must work through
    stream_candidates (not only generate_mentions) — CJK corpora stream
    real candidates, and the first-word gate tests the unicode-
    normalized tokens so it matches CJK keys."""
    import datetime

    from semlink.config import SemlinkConfig

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows = [("cj", i, "user", "東京 タワー は 高い", "",
             t0 + datetime.timedelta(minutes=i)) for i in range(3)]
    # punctuation-led turn (ADVICE r03): the "（ 東京" span's leading
    # raw token normalizes to '' — batch drops it at the gate, so
    # streaming must too (both gate on the span's own leading
    # normalized token, not on the first word of its whole key)
    rows.append(("cj", 3, "user", "（ 東京 タワー", "",
                 t0 + datetime.timedelta(minutes=3)))
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    t = spark.createDataFrame(rows, schema)
    anchors = spark.createDataFrame(
        [("東京", 1, "東京", 5, 5, 6), ("東京 タワー", 2, "東京タワー", 3, 3, 4)],
        "anchor_norm string, target_id long, target_title string, "
        "sense_link_count long, anchor_link_total long, anchor_text_total long")
    cfg = SemlinkConfig(unicode_normalize=True, max_ngram_len=2)

    src = str(tmp_path / "cjk_src")
    t.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(t.schema).parquet(src)
    fw = spark.createDataFrame([("東京",)], "w string")
    out = stream_candidates(stream, anchors, cfg, first_words=fw)
    q = (out.select("mention_id", "target_id", "ts").writeStream
         .format("memory").queryName("cjk_t")
         .option("checkpointLocation", str(tmp_path / "cjk_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.mention_id, r.target_id)
           for r in spark.sql("select * from cjk_t").collect()}

    batch = candidate_join(
        generate_mentions(t, cfg, first_words=fw), anchors, cfg)
    expected = {(r.mention_id, r.target_id)
                for r in batch.select("mention_id", "target_id").collect()}
    assert got == expected and len(got) > 0
    assert {tid for _, tid in got} == {1, 2}


def test_rolling_context_state_and_eviction(spark, tmp_path):
    """applyInPandasWithState rolling context: per-conversation entity
    state persists ACROSS micro-batches and evicts least-recently-seen
    entities beyond the cap."""
    import datetime

    from semlink.streaming import rolling_context

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    schema = "conv_id string, target_id long, ts timestamp"
    src = tmp_path / "rc_src"
    b1 = [("cA", 1, t0), ("cA", 2, t0 + datetime.timedelta(minutes=1)),
          ("cB", 7, t0)]
    # cB batch 2: entities 8 and 9 arrive with the SAME last_seen as 7
    # → three-way tie at cap 2; the smaller id (7) must be evicted
    b2 = [("cA", 3, t0 + datetime.timedelta(minutes=2)),
          ("cB", 8, t0), ("cB", 9, t0)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "f1"))
    import time as _t
    _t.sleep(1.1)   # distinct file mtimes → deterministic batch order
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "f2"))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    out = rolling_context(stream, max_entities=2)
    q = (out.writeStream.format("memory").queryName("rc_t")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "rc_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from rc_t").collect()
    # batch 1: cA={1,2}, cB={7}; batch 2: cA folds in 3, evicts 1
    # (oldest); cB folds in {8,9} tied with 7 → smaller id 7 evicted
    ca = [r for r in rows if r.conv_id == "cA"]
    cb = [r for r in rows if r.conv_id == "cB"]
    assert sorted(tuple(r.ctx_entities) for r in ca) == [(1, 2), (2, 3)]
    assert sorted(tuple(r.ctx_entities) for r in cb) == [(7,), (8, 9)]
    assert all(r.n_ctx == len(r.ctx_entities) for r in rows)


def test_rolling_context_rocksdb_state_store(spark, tmp_path):
    """VERDICT r03 next #8: the stateful rolling-context operator must
    behave identically under the RocksDB state-store provider (the
    provider a production cluster runs for large state) with
    maxFilesPerTrigger rate limiting — same cross-batch fold and same
    eviction as the default HDFS-backed store."""
    import datetime

    from semlink.streaming import rolling_context

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    schema = "conv_id string, target_id long, ts timestamp"
    src = tmp_path / "rdb_src"
    b1 = [("cA", 1, t0), ("cA", 2, t0 + datetime.timedelta(minutes=1)),
          ("cB", 7, t0)]
    b2 = [("cA", 3, t0 + datetime.timedelta(minutes=2)),
          ("cB", 8, t0), ("cB", 9, t0)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "f1"))
    import time as _t
    _t.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "f2"))

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key,
                   "org.apache.spark.sql.execution.streaming.state."
                   "RocksDBStateStoreProvider")
    try:
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
        out = rolling_context(stream, max_entities=2)
        q = (out.writeStream.format("memory").queryName("rdb_t")
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "rdb_ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        rows = spark.sql("select * from rdb_t").collect()
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)
    ca = [r for r in rows if r.conv_id == "cA"]
    cb = [r for r in rows if r.conv_id == "cB"]
    assert sorted(tuple(r.ctx_entities) for r in ca) == [(1, 2), (2, 3)]
    assert sorted(tuple(r.ctx_entities) for r in cb) == [(7,), (8, 9)]


def test_stream_dedup_documents_bounded_state(spark, tmp_path):
    """Ingest-time exact dedup: a duplicate document arriving in a
    LATER micro-batch (within the watermark horizon) is dropped by
    state, while new content and null/empty-text conventions match the
    batch dedup family (null == '' digest)."""
    import datetime

    from semlink.streaming import stream_dedup_documents

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    schema = "doc_id long, text string, ts timestamp"
    src = tmp_path / "sd_src"
    b1 = [(1, "alpha beta", t0),
          (2, "alpha beta", t0 + datetime.timedelta(seconds=30)),  # in-batch dup
          (3, "gamma", t0 + datetime.timedelta(minutes=1)),
          (4, None, t0 + datetime.timedelta(minutes=1))]
    b2 = [(5, "alpha beta", t0 + datetime.timedelta(minutes=2)),   # cross-batch dup
          (6, "delta", t0 + datetime.timedelta(minutes=3)),
          (7, "", t0 + datetime.timedelta(minutes=3))]             # '' == null digest
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "f1"))
    import time as _t
    _t.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "f2"))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    out = stream_dedup_documents(stream, watermark="10 minutes")
    q = (out.select("doc_id").writeStream.format("memory")
         .queryName("sd_t")
         .option("checkpointLocation", str(tmp_path / "sd_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r.doc_id for r in spark.sql("select * from sd_t").collect())
    # survivors: first "alpha beta" (1), "gamma" (3), null (4);
    # dropped: 2 (in-batch dup), 5 (cross-batch dup via state),
    # 7 ('' collides with null's digest); new content 6 survives
    assert got == [1, 3, 4, 6], got


def test_stream_incremental_link_equals_batch(spark, tmp_path):
    """Streaming incremental ER over >= 2 micro-batches produces the
    BIT-IDENTICAL assignment set as one batch run over all records
    (per-record independence), and the batch split is real
    (maxFilesPerTrigger=1 over a 3-file source)."""
    from pyspark.sql import functions as F
    from semlink.iterative import incremental_link
    from semlink.queries.linkeval import (_mr_match, _mr_score_col,
                                          _records)
    from semlink.streaming import incremental_link_batches
    recs = _records(spark, "/root/testdata/sf0.001")
    orig = recs.filter(F.col("rec_id") % 2 == 0)
    new = recs.filter(F.col("rec_id") % 2 == 1)
    reps = orig.select(F.col("rec_id").alias("cluster_id"),
                       "name", "seg", "bal_cents", "nat")
    src = str(tmp_path / "src")
    new.repartition(3).write.parquet(src)
    stream = (spark.readStream.schema(new.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    seen_batches = []
    out_dir = str(tmp_path / "out")

    def sink(df, batch_id):
        seen_batches.append(batch_id)
        df.write.mode("append").parquet(out_dir)

    process = incremental_link_batches(
        reps, scheme=lambda df: F.col("nat").cast("string"),
        match_cond=_mr_match, score_col=_mr_score_col(),
        carry_cols=("name", "seg", "bal_cents"), sink=sink)
    qy = (stream.writeStream.foreachBatch(process)
          .option("checkpointLocation", str(tmp_path / "ckpt"))
          .trigger(availableNow=True).start())
    assert qy.awaitTermination(300), "streaming query timed out"
    assert len(seen_batches) >= 2          # genuinely micro-batched
    got = sorted(tuple(r) for r in spark.read.parquet(out_dir)
                 .select("rec_id", "cluster_id", "matched", "score")
                 .collect())
    want = sorted(tuple(r) for r in incremental_link(
        new, reps, scheme=lambda df: F.col("nat").cast("string"),
        match_cond=_mr_match, score_col=_mr_score_col(),
        carry_cols=("name", "seg", "bal_cents"))
        .select("rec_id", "cluster_id", "matched", "score").collect())
    assert got == want
