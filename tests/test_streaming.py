"""Streaming smoke tests: drive the file-source stream over the events
table with a memory sink (synchronous processAllAvailable)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gecko_spark.operators import mutators as M
from gecko_spark.sources.testdata import load_table
from gecko_spark.streaming import (
    mutate_stream,
    running_user_stats,
    sessionize,
    stream_events,
    windowed_event_counts,
)

SF = "/root/testdata/sf0.001"


def _run(stream_df, name, mode="append"):
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def test_dsir_serving_on_stream_matches_batch(spark, tmp_path):
    """The DSIR log-weight model is a stateless Arrow projection, so it
    serves unchanged under Structured Streaming — score a document
    stream and require bit-identical lw_micro to the batch path (the
    continuous-ingestion selection shape: fit once, score forever)."""
    from gecko_spark.operators.selection import (
        dsir_log_weights,
        fit_log_ratio_micro,
        hashed_ngram_bucket_counts,
    )

    docs = load_table(spark, SF, "documents")
    lr = fit_log_ratio_micro(
        hashed_ngram_bucket_counts(docs.filter("doc_id % 7 = 0"), n_buckets=512),
        hashed_ngram_bucket_counts(docs, n_buckets=512),
        512,
    )
    batch = {
        r["doc_id"]: r["lw_micro"]
        for r in dsir_log_weights(docs, lr).collect()
    }
    import shutil

    land = tmp_path / "docs_land"
    land.mkdir()
    shutil.copy(f"{SF}/documents.parquet", land / "part-0.parquet")
    stream = spark.readStream.schema(docs.schema).parquet(str(land))
    _run(dsir_log_weights(stream, lr), "dsir_stream")
    out = spark.sql("SELECT doc_id, lw_micro FROM dsir_stream").toPandas()
    assert len(out) == len(batch)
    for _, r in out.iterrows():
        assert batch[r["doc_id"]] == r["lw_micro"]


def test_windowed_event_counts(spark):
    events = stream_events(spark, f"{SF}/events.parquet")
    agg = windowed_event_counts(events, "1 hour", watermark="2 hours")
    _run(agg, "win_counts", mode="append")
    out = spark.sql("SELECT * FROM win_counts")
    batch_total = load_table(spark, SF, "events").count()
    # append mode only emits windows sealed by the watermark; totals must
    # never exceed the batch count and windows must be well-formed
    pdf = out.toPandas()
    assert pdf["n_events"].sum() <= batch_total
    if len(pdf):
        assert (pdf["window_end"] > pdf["window_start"]).all()


def test_windowed_counts_match_batch(spark):
    events = stream_events(spark, f"{SF}/events.parquet")
    agg = windowed_event_counts(events, "1 hour", watermark="0 seconds")
    _run(agg, "win_complete", mode="complete")
    streamed = spark.sql("SELECT sum(n_events) AS n FROM win_complete").first()["n"]
    batch = load_table(spark, SF, "events").count()
    assert streamed == batch


def test_sessionize(spark):
    events = stream_events(spark, f"{SF}/events.parquet")
    sess = sessionize(events, gap="30 minutes", watermark="0 seconds")
    _run(sess, "sessions", mode="complete")
    pdf = spark.sql("SELECT * FROM sessions").toPandas()
    assert len(pdf) > 0
    assert (pdf["session_end"] >= pdf["session_start"]).all()
    # session invariant: no user has overlapping sessions
    for _, grp in pdf.groupby("user_id"):
        g = grp.sort_values("session_start")
        assert (g["session_start"].shift(-1).dropna().values
                >= g["session_end"].iloc[:-1].values).all()


def test_running_user_stats(spark):
    events = stream_events(spark, f"{SF}/events.parquet")
    stats = running_user_stats(events, watermark="0 seconds")
    _run(stats, "user_stats", mode="update")
    # update mode may emit a row per user per batch; the LAST emission
    # per user carries the final running totals
    pdf = (
        spark.sql("SELECT * FROM user_stats")
        .toPandas()
        .groupby("user_id")
        .last()
        .reset_index()
    )
    batch = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max("value").alias("max_value"),
        )
        .toPandas()
    )
    merged = pdf.merge(batch, on="user_id", suffixes=("_s", "_b"))
    assert len(merged) == len(batch)
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (abs(merged["sum_value_s"] - merged["sum_value_b"]) < 1e-6).all()
    assert (abs(merged["max_value_s"] - merged["max_value_b"]) < 1e-9).all()


def test_mutate_stream(spark):
    events = stream_events(spark, f"{SF}/events.parquet")
    corrupted = mutate_stream(
        events, [("event_type", (0.5, M.with_missing_value("UNKNOWN")))], seed=3
    )
    _run(corrupted, "mut_stream", mode="append")
    pdf = spark.sql("SELECT * FROM mut_stream").toPandas()
    frac = (pdf["event_type"] == "UNKNOWN").mean()
    assert 0.4 < frac < 0.6


def test_dedupe_stream_drops_duplicates(spark, tmp_path):
    """Duplicate rows injected into the stream are dropped within the
    watermark horizon; the surviving set equals batch-exact dedup."""
    import shutil

    from gecko_spark.streaming import dedupe_stream

    src = tmp_path / "events_dup"
    src.mkdir()
    # file 1: the original events; file 2: an exact copy (late dupes)
    shutil.copy(f"{SF}/events.parquet", src / "part1.parquet")
    shutil.copy(f"{SF}/events.parquet", src / "part2.parquet")

    events = stream_events(spark, str(src))
    deduped = dedupe_stream(events, ["event_id"], watermark="365 days")
    _run(deduped, "dedup_stream_sink")
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_stream_sink").first()

    batch_n = load_table(spark, SF, "events").count()
    assert got["d"] == batch_n
    assert got["n"] == batch_n


def test_stream_static_enrichment_join(spark):
    """Stream-static join: the events stream enriched with a static
    dimension (broadcast per micro-batch, no stream-side state)."""
    events = stream_events(spark, f"{SF}/events.parquet")
    users = (
        load_table(spark, SF, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    enriched = events.join(F.broadcast(users), "user_id", "left")
    _run(enriched.groupBy("c_mktsegment").count(), "stream_enrich_sink", mode="complete")
    got = {r["c_mktsegment"]: r["count"] for r in spark.sql(
        "SELECT * FROM stream_enrich_sink"
    ).collect()}
    batch_total = load_table(spark, SF, "events").count()
    assert sum(got.values()) == batch_total


def test_decontaminate_stream_matches_batch(spark, tmp_path):
    """Streaming decontamination drops exactly the docs the batch
    operator drops — stream-static anti join, no state store."""
    from gecko_spark.operators.decontam import decontaminate
    from gecko_spark.streaming import decontaminate_stream

    docs_path = f"{SF}/documents.parquet"
    batch_docs = spark.read.parquet(docs_path)
    reference = batch_docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    train = batch_docs.filter(F.col("doc_id") % 7 != 0)

    expected = sorted(
        r["doc_id"]
        for r in decontaminate(train, reference, "doc_id", "text", n=5).collect()
    )

    stream = (
        spark.readStream.schema(batch_docs.schema)
        .parquet(docs_path.replace("documents.parquet", "[d]ocuments.parquet"))
        .filter(F.col("doc_id") % 7 != 0)
    )
    clean = decontaminate_stream(stream, reference, "doc_id", "text", n=5)
    _run(clean, "decontam_stream_sink")
    got = sorted(
        r["doc_id"] for r in spark.sql("SELECT doc_id FROM decontam_stream_sink").collect()
    )
    assert got == expected and len(got) > 0


def test_cm_sketch_on_stream_matches_batch(spark):
    """cm_sketch is one groupBy aggregate, so it runs unchanged on a
    stream (complete mode) and converges to the batch sketch."""
    from gecko_spark.operators.sketches import cm_sketch

    events = stream_events(spark, f"{SF}/events.parquet")
    sk = cm_sketch(events, "event_type", depth=3, width=128)
    _run(sk, "cm_stream_sink", mode="complete")
    got = (
        spark.sql("SELECT * FROM cm_stream_sink")
        .orderBy("row", "bucket")
        .toPandas()
    )
    batch = (
        cm_sketch(load_table(spark, SF, "events"), "event_type", depth=3, width=128)
        .orderBy("row", "bucket")
        .toPandas()
    )
    assert got.astype("int64").equals(batch.astype("int64"))


def test_pack_stream_offsets_continue_across_batches(spark, tmp_path):
    """Streaming packing keeps one running offset per shard: packs from
    a later micro-batch continue where the earlier batch stopped."""
    import pathlib
    import shutil

    from gecko_spark.streaming import pack_stream

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.length("text").cast("long").alias("n_tokens")
    )
    src = pathlib.Path(tmp_path) / "stream_src"
    src.mkdir()
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(src / "b1"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(src / "b2"))

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*/")
    packed = pack_stream(stream, "doc_id", "n_tokens", budget=1000, n_shards=4)
    _run(packed, "pack_stream_sink")
    got = spark.sql("SELECT * FROM pack_stream_sink").toPandas()

    assert len(got) == docs.count()  # every doc assigned exactly once
    total = docs.agg(F.sum("n_tokens")).first()[0]
    assert got["n_tokens"].sum() == total
    # per shard: max pack index consistent with the shard's total tokens
    per_shard = got.groupby("shard")["n_tokens"].sum()
    for shard, g in got.groupby("shard"):
        assert g["pack"].max() <= (per_shard[shard] - 1) // 1000
        # continuing offsets: packs cover 0..max contiguously
        assert set(g["pack"]) == set(range(g["pack"].max() + 1))


def test_pack_stream_shard_col_override_matches_batch(spark, tmp_path):
    """With a portable shard override and id-ordered micro-batches the
    stream must reproduce the batch pack_sequences assignment exactly —
    the invariant the stream_pack_parity contract grades externally."""
    import pathlib

    from gecko_spark.operators.packing import pack_sequences
    from gecko_spark.streaming import pack_stream

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.length("text").cast("long").alias("n_tokens")
    )
    shard = F.pmod(F.col("doc_id"), F.lit(4)).cast("int")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    src = pathlib.Path(tmp_path) / "stream_src2"
    src.mkdir()
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.parquet(str(src / "b1"))
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.parquet(str(src / "b2"))
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*/")
    packed = pack_stream(
        stream, "doc_id", "n_tokens", budget=1000, n_shards=4,
        shard_col=shard,
    )
    _run(packed, "pack_stream_shardcol_sink")
    got = (
        spark.sql("SELECT shard, doc_id, pack FROM pack_stream_shardcol_sink")
        .orderBy("doc_id")
        .toPandas()
    )
    want = (
        pack_sequences(docs, "doc_id", "n_tokens", budget=1000, n_shards=4,
                       shard_col=shard)
        .select("shard", "doc_id", "pack")
        .orderBy("doc_id")
        .toPandas()
    )
    assert got.astype("int64").equals(want.astype("int64"))


# ---------------------------------------------------------------------------
# checkpoint restart: kill the query with input pending, resume, and
# assert exactly-once output + restored operator state
# ---------------------------------------------------------------------------


def test_checkpoint_restart_dedup_exactly_once(spark, tmp_path):
    """Stop a watermarked-dedup query, drop a file of duplicates + new
    rows while it is down, resume from the checkpoint: every event_id
    appears EXACTLY once in the fault-tolerant sink. Duplicate rows in
    the post-restart file are only droppable if the dedup state store
    was restored from the checkpoint — a fresh query would re-emit them."""
    import pathlib

    from gecko_spark.streaming import dedupe_stream

    src = pathlib.Path(tmp_path) / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    batch = load_table(spark, SF, "events")
    schema = batch.schema

    def run_until_drained():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*/")
        q = (
            dedupe_stream(stream, ["event_id"], watermark="3650 days")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    batch.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(src / "b1"))
    run_until_drained()  # drains b1, then the query is killed
    # while down: a file holding ALL rows — b1's rows again (duplicates
    # spanning the restart) plus the odd half (new)
    batch.coalesce(1).write.parquet(str(src / "b2"))
    run_until_drained()  # resume from the same checkpoint

    got = spark.read.parquet(out)
    n_total = batch.count()
    assert got.count() == n_total
    assert got.select("event_id").distinct().count() == n_total


def test_checkpoint_restart_neardup_fingerprint_state(spark, tmp_path):
    """r11: the SimHash-fingerprint suppression state must survive a
    query restart — a post-restart file whose docs duplicate
    pre-restart CONTENT (different doc_ids, same text, hence same
    fingerprint) is only droppable if the dropDuplicates state store
    was restored from the checkpoint; a fresh query would re-emit one
    survivor per fingerprint AGAIN."""
    import pathlib

    import pandas as pd

    from gecko_spark.streaming import neardup_dedupe_stream

    src = pathlib.Path(tmp_path) / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    texts = [
        "the first boilerplate licence paragraph repeated across the crawl",
        "a second distinct document with its very own words entirely",
        "third piece of content never duplicated anywhere in the corpus",
    ]
    b1 = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": texts,
        "ts": pd.to_datetime(["2024-01-01 00:00:0%d" % i for i in range(3)]),
    })
    # after the restart: same CONTENT under new ids + one new doc
    b2 = pd.DataFrame({
        "doc_id": [11, 12, 14],
        "text": [texts[0], texts[1], "a genuinely new fourth document arriving later"],
        "ts": pd.to_datetime(["2024-01-01 00:01:0%d" % i for i in range(3)]),
    })
    schema = "doc_id long, text string, ts timestamp"

    def run_until_drained():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*/")
        q = (
            neardup_dedupe_stream(stream, watermark="3650 days")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))
    run_until_drained()
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "b2"))
    run_until_drained()  # resume from the same checkpoint

    got = spark.read.parquet(out).toPandas()
    # docs 11/12 collide with pre-restart fingerprints -> suppressed;
    # survivors are exactly the four distinct contents, original ids
    assert sorted(got["doc_id"]) == [1, 2, 3, 14]


def test_checkpoint_restart_pack_stream_offsets(spark, tmp_path):
    """pack_stream's per-shard running offset must survive a query
    restart: kill after batch 1, resume for batch 2, and compare the
    full assignment against an exact pandas replay of the
    (batch1-in-id-order, then batch2-in-id-order) packing. A reset
    state store would restart every shard's offset at 0 and diverge."""
    import pathlib

    from gecko_spark.streaming import pack_stream

    budget, n_shards = 1000, 4
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.length("text").cast("long").alias("n_tokens")
    )
    src = pathlib.Path(tmp_path) / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_until_drained():
        stream = spark.readStream.schema(docs.schema).parquet(str(src) + "/*/")
        q = (
            pack_stream(stream, "doc_id", "n_tokens", budget=budget, n_shards=n_shards)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(src / "b1"))
    run_until_drained()  # kill with the odd half still unwritten
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(src / "b2"))
    run_until_drained()  # resume

    got = (
        spark.read.parquet(out)
        .toPandas()
        .sort_values(["shard", "doc_id"])
        .reset_index(drop=True)
    )
    assert len(got) == docs.count()  # exactly once

    # exact replay: same shard hash, batch1 then batch2, id order within each
    pdf = docs.withColumn(
        "shard", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")
    ).toPandas()
    expected = {}
    for shard, g in pdf.groupby("shard"):
        seq = pd.concat(
            [
                g[g["doc_id"] % 2 == 0].sort_values("doc_id"),
                g[g["doc_id"] % 2 == 1].sort_values("doc_id"),
            ]
        )
        starts = seq["n_tokens"].cumsum() - seq["n_tokens"]
        for doc_id, pack in zip(seq["doc_id"], starts // budget):
            expected[doc_id] = (shard, int(pack))
    for row in got.itertuples():
        assert expected[row.doc_id] == (row.shard, row.pack), row.doc_id


def test_interval_join_streams_matches_batch(spark):
    """Stream-stream interval join (click → purchase by the same user
    within 6 hours) emits exactly the pairs the equivalent static join
    produces — inner joins are sealed by processAllAvailable, so the
    comparison is exact, not prefix-only."""
    from gecko_spark.streaming import interval_join_streams

    clicks = stream_events(spark, f"{SF}/events.parquet").filter(
        F.col("event_type") == "click"
    )
    purchases = stream_events(spark, f"{SF}/events.parquet").filter(
        F.col("event_type") == "purchase"
    )
    joined = interval_join_streams(
        clicks,
        purchases,
        key="user_id",
        lower="0 seconds",
        upper="6 hours",
        watermark="30 days",
    ).select("event_id", "r_event_id", "user_id")
    _run(joined, "interval_join_sink")
    got = sorted(
        (r["event_id"], r["r_event_id"], r["user_id"])
        for r in spark.sql("SELECT * FROM interval_join_sink").collect()
    )

    ev = load_table(spark, SF, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), "user_id", F.col("ts").alias("c_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    expected = sorted(
        (r["c_id"], r["p_id"], r["user_id"])
        for r in c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 6 hours")),
        ).collect()
    )
    assert got == expected and len(got) > 0


def test_checkpoint_restart_interval_join_state(spark, tmp_path):
    """The stream-stream join's buffered state must survive a restart:
    batch 1 delivers all clicks but only half the purchases, the query
    is killed, batch 2 delivers the other half. Matches that pair a
    pre-restart click with a post-restart purchase can only emit if the
    click buffer was restored from the checkpoint — and nothing may
    emit twice."""
    import pathlib

    from gecko_spark.streaming import interval_join_streams

    ev = load_table(spark, SF, "events")
    clicks_b = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    purch_b = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    csrc = pathlib.Path(tmp_path) / "clicks"
    psrc = pathlib.Path(tmp_path) / "purchases"
    csrc.mkdir()
    psrc.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_until_drained():
        c = spark.readStream.schema(clicks_b.schema).parquet(str(csrc) + "/*/")
        p = spark.readStream.schema(purch_b.schema).parquet(str(psrc) + "/*/")
        j = interval_join_streams(
            c, p, key="user_id", upper="6 hours", watermark="3650 days"
        ).select("event_id", "r_event_id", "user_id")
        q = (
            j.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    clicks_b.coalesce(1).write.parquet(str(csrc / "b1"))
    purch_b.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(psrc / "b1")
    )
    run_until_drained()
    purch_b.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(psrc / "b2")
    )
    run_until_drained()

    got = sorted(
        (r["event_id"], r["r_event_id"], r["user_id"])
        for r in spark.read.parquet(out).collect()
    )
    c = clicks_b.select(
        F.col("event_id").alias("c_id"), "user_id", F.col("ts").alias("c_ts")
    )
    p = purch_b.select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    expected = sorted(
        (r["c_id"], r["p_id"], r["user_id"])
        for r in c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 6 hours")),
        ).collect()
    )
    assert got == expected and len(got) > 0
    # cross-restart evidence: at least one emitted pair involves a
    # post-restart (odd) purchase
    assert any(p_id % 2 == 1 for _, p_id, _ in got)


def test_neardup_dedupe_stream_suppresses_fingerprint_dups(spark, tmp_path):
    """Fingerprint-identity suppression: re-ingested exact copies (and
    whitespace-identical boilerplate) drop; distinct docs survive."""
    import pathlib

    from gecko_spark.streaming import neardup_dedupe_stream

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50).select(
        "doc_id", "text", F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts")
    )
    dup_flood = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text", "ts"
    )
    src = pathlib.Path(tmp_path) / "src"
    src.mkdir()
    docs.coalesce(1).write.parquet(str(src / "b1"))
    dup_flood.coalesce(1).write.parquet(str(src / "b2"))

    stream = spark.readStream.schema(docs.schema).parquet(str(src) + "/*/")
    out = neardup_dedupe_stream(stream, watermark="3650 days")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("neardup_sink")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT doc_id, text FROM neardup_sink").collect()
    n_docs = docs.count()
    n_distinct_texts = docs.select("text").distinct().count()
    # one survivor per distinct fingerprint; the re-ingested flood is gone
    assert len(got) == n_distinct_texts <= n_docs
    assert all(r["doc_id"] < 10000 for r in got)
    texts = [r["text"] for r in got]
    assert len(set(texts)) == len(texts)


def test_heavy_hitters_stream_superset_and_bounds(spark):
    from gecko_spark.streaming import heavy_hitters_stream

    cap, shards = 3, 4
    events = stream_events(spark, f"{SF}/events.parquet")
    hh = heavy_hitters_stream(
        events, "event_type", capacity=cap, n_shards=shards, watermark="0 seconds"
    )
    _run(hh, "hh_stream", mode="update")
    # update mode re-emits each shard's summary per micro-batch; the
    # rows at each shard's max emission ordinal ARE its final summary
    pdf = spark.sql("SELECT * FROM hh_stream").toPandas()
    last = pdf[pdf["emit"] == pdf.groupby("shard")["emit"].transform("max")]

    exact = (
        load_table(spark, SF, "events")
        .groupBy(F.col("event_type").cast("string").alias("value"))
        .agg(F.count("*").alias("cnt"))
        .toPandas()
        .set_index("value")["cnt"]
    )
    n_shard = last.groupby("shard")["n_shard"].max()
    # per-shard totals sum to the corpus (sentinel-free: carried on rows)
    assert n_shard.sum() == int(exact.sum())
    for _, r in last.iterrows():
        true = int(exact[r["value"]])
        # MG estimate never overcounts; undercount ≤ n_shard/(cap+1)
        assert r["cnt"] <= true
        assert true - r["cnt"] <= n_shard[r["shard"]] / (cap + 1)
    # superset guarantee: every value heavier than its shard's MG error
    # bound survived in the summary
    got = set(last["value"])
    for v, true in exact.items():
        sh = last[last["value"] == v]["shard"]
        # value's shard: recompute via the same xxhash64 is overkill —
        # assert the global form: heavier than ANY shard's bound ⇒ present
        if true > n_shard.max() / (cap + 1):
            assert v in got, v


def test_kmv_distinct_stream_exact_below_k_and_matches_batch(spark):
    from gecko_spark.operators.sketches import kmv_distinct_estimate
    from gecko_spark.streaming import kmv_distinct_stream, kmv_estimate_from_shards

    events = stream_events(spark, f"{SF}/events.parquet")
    sk = kmv_distinct_stream(
        events, "user_id", k=1024, n_shards=4, watermark="0 seconds"
    )
    _run(sk, "kmv_stream", mode="update")
    last = (
        spark.sql("SELECT * FROM kmv_stream")
        .toPandas()
        .groupby("shard")
        .last()
        .reset_index()
    )
    est = kmv_estimate_from_shards(
        spark.createDataFrame(last), k=1024
    ).collect()[0]
    exact = load_table(spark, SF, "events").select("user_id").distinct().count()
    # below k the union of shard sketches IS the distinct hash set:
    # the "estimate" is the exact distinct count
    assert est["n_seen"] == exact
    assert est["estimate"] == float(exact)
    # and it agrees bit-for-bit with the batch sketch on the same data
    batch = kmv_distinct_estimate(
        load_table(spark, SF, "events"), "user_id", k=1024
    ).collect()[0]
    assert (est["n_seen"], est["estimate"]) == (batch["n_seen"], batch["estimate"])


def test_heavy_hitters_from_shards_confirms_lower_bound(spark):
    from gecko_spark.streaming import heavy_hitters_from_shards

    rows = [
        (0, "hot", 400, 500),
        (0, "warm", 30, 500),
        (1, "other", 60, 500),
    ]
    df = spark.createDataFrame(rows, "shard int, value string, cnt long, n_shard long")
    got = {
        r["value"]: (r["cnt_lb"], r["n_total"], r["confirmed"])
        for r in heavy_hitters_from_shards(df, 1, 10).collect()
    }
    # n_total = 500 + 500; threshold 100
    assert got == {
        "hot": (400, 1000, True),
        "warm": (30, 1000, False),
        "other": (60, 1000, False),
    }
    import pytest as _pytest

    with _pytest.raises(ValueError):
        heavy_hitters_from_shards(df, 3, 2)


def test_checkpoint_restart_heavy_hitters_state(spark, tmp_path):
    """The MG summary state must survive a query restart: process half
    the events, stop, resume from the checkpoint for the other half.
    A reset state store would restart every shard's n at zero — caught
    by the exactly-once total; the undercount and superset guarantees
    must hold across the restart exactly as in one continuous run."""
    import pathlib

    from gecko_spark.streaming import heavy_hitters_stream

    cap, shards = 3, 4
    ev = load_table(spark, SF, "events").select("ts", "event_type")
    src = pathlib.Path(tmp_path) / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_until_drained():
        stream = spark.readStream.schema(ev.schema).parquet(str(src) + "/*/")
        q = (
            heavy_hitters_stream(
                stream, "event_type", capacity=cap, n_shards=shards,
                watermark="0 seconds", output_mode="append",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    ev.filter(F.col("event_type") < "m").coalesce(1).write.parquet(str(src / "b1"))
    run_until_drained()
    ev.filter(~(F.col("event_type") < "m")).coalesce(1).write.parquet(str(src / "b2"))
    run_until_drained()  # resume from checkpoint

    pdf = spark.read.parquet(out).toPandas()
    # appended parquet rows are unordered; the emit ordinal (restored
    # from the checkpoint, so it keeps climbing across the restart)
    # recovers each shard's latest summary exactly
    # a shard fed in both halves continues its ordinal from the
    # checkpoint (state reset would restart every shard at emit=1)
    assert pdf["emit"].max() >= 2
    last = pdf[pdf["emit"] == pdf.groupby("shard")["emit"].transform("max")]
    n_by_shard = pdf.groupby("shard")["n_shard"].max()
    exact = (
        load_table(spark, SF, "events")
        .groupBy(F.col("event_type").cast("string").alias("value"))
        .agg(F.count("*").alias("cnt"))
        .toPandas()
        .set_index("value")["cnt"]
    )
    # exactly-once across the restart: shard totals sum to the corpus
    assert n_by_shard.sum() == int(exact.sum())
    for _, r in last.iterrows():
        true = int(exact[r["value"]])
        assert r["cnt"] <= true
        assert true - r["cnt"] <= n_by_shard[r["shard"]] / (cap + 1)


def test_stream_replacement_inline_global_order_with_supplied_frequencies(spark, tmp_path):
    """A stream given measured rule_frequencies applies the reference's
    dataset-GLOBAL favor-rare rule order and matches the batch output
    row-for-row, although file1's micro-batch counts invert that order;
    without them a stream cannot order the rules and the plan build
    raises ``ValueError``."""
    # file1: ab-heavy (local order bc<ab), file2: bc-heavy; global: ab=11 < bc=16
    f1 = pd.DataFrame({"id": range(0, 9), "v": ["abc"] * 4 + ["abz"] * 5})
    f2 = pd.DataFrame({"id": range(9, 21), "v": ["abc"] * 2 + ["xbc"] * 10})
    src = tmp_path / "src"
    src.mkdir()
    f1.to_parquet(src / "f1.parquet", index=False)
    f2.to_parquet(src / "f2.parquet", index=False)

    batch = spark.read.parquet(str(src))
    tbl = pd.DataFrame({"s": ["ab", "bc"], "t": ["X", "Y"]})
    auto = M.with_replacement_table(tbl, "s", "t", inline=True)
    freqs = auto.measure_rule_frequencies(batch, "v")
    assert freqs == {"ab": 11, "bc": 16}
    expected = auto.apply(batch, ["v"], 1.0, seed=5).toPandas().set_index("id")["v"]
    # global ascending order: 'ab' first -> every 'abc' row becomes 'Xc'
    assert (expected[f1[f1.v == "abc"].id] == "Xc").all()

    def stream():
        return (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    mut = M.with_replacement_table(tbl, "s", "t", inline=True, rule_frequencies=freqs)
    _run(mutate_stream(stream(), [("v", (1.0, mut))], seed=5), "repl_stream_global")
    with_freqs = spark.sql("SELECT * FROM repl_stream_global").toPandas().set_index("id")["v"]
    assert (with_freqs.sort_index() == expected.sort_index()).all()

    with pytest.raises(ValueError, match="measure_rule_frequencies"):
        mutate_stream(stream(), [("v", (1.0, auto))], seed=5)
    with pytest.raises(ValueError, match="measure_rule_frequencies"):
        auto.apply(stream(), ["v"], 1.0, seed=5)


def test_stream_phonetic_global_order_with_supplied_frequencies(spark, tmp_path):
    """Phonetic stream parity: supplied per-rule counts reproduce the
    batch global descending-frequency order on a multi-micro-batch
    stream."""
    f1 = pd.DataFrame({"id": range(0, 6), "v": ["schasx"] * 3 + ["schade"] * 3})
    f2 = pd.DataFrame({"id": range(6, 16), "v": ["rasch"] * 5 + ["phase"] * 5})
    src = tmp_path / "psrc"
    src.mkdir()
    f1.to_parquet(src / "f1.parquet", index=False)
    f2.to_parquet(src / "f2.parquet", index=False)

    batch = spark.read.parquet(str(src))
    tbl = pd.DataFrame({"s": ["sch", "as"], "t": ["sh", "az"], "f": ["^", ""]})
    auto = M.with_phonetic_replacement_table(tbl, "s", "t", "f")
    counts = auto.measure_rule_frequencies(batch, "v")
    assert counts == [6, 0, 13, 0]  # empty flag expands to ^/_/$ rules
    from gecko_spark.plans.pipeline import mutate_data_frame

    # same spec form as the stream path: mutate_data_frame forks the
    # row-hash RNG per spec entry, so batch must go through it too for
    # row-for-row parity
    expected = (
        mutate_data_frame(batch, [("v", (1.0, auto))], seed=11)
        .toPandas().set_index("id")["v"]
    )

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = mutate_stream(
        stream,
        [("v", (1.0, M.with_phonetic_replacement_table(
            tbl, "s", "t", "f", rule_frequencies=counts)))],
        seed=11,
    )
    _run(out, "phon_stream_global")
    got = spark.sql("SELECT * FROM phon_stream_global").toPandas().set_index("id")["v"]
    assert (got.sort_index() == expected.sort_index()).all()


def test_decontaminate_stream_bloom_matches_frozenset_path(spark, tmp_path):
    """bloom_bits_count ships the reference grams as a fixed-size bitset
    (driver sees bits/64 words, not gram strings). At >=16 bits/gram the
    FP rate is <0.1%, so on this reference the result is identical to
    the exact frozenset path / batch operator; an undersized bloom may
    only OVER-drop (false positives) — no contaminated doc survives
    (ADVICE r5 / VERDICT 'next' #5)."""
    from gecko_spark.operators.decontam import decontaminate
    from gecko_spark.streaming import decontaminate_stream

    docs_path = f"{SF}/documents.parquet"
    batch_docs = spark.read.parquet(docs_path)
    reference = batch_docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    train = batch_docs.filter(F.col("doc_id") % 7 != 0)

    expected = sorted(
        r["doc_id"]
        for r in decontaminate(train, reference, "doc_id", "text", n=5).collect()
    )

    def run(bits, name):
        stream = (
            spark.readStream.schema(batch_docs.schema)
            .parquet(docs_path.replace("documents.parquet", "[d]ocuments.parquet"))
            .filter(F.col("doc_id") % 7 != 0)
        )
        clean = decontaminate_stream(
            stream, reference, "doc_id", "text", n=5, bloom_bits_count=bits
        )
        _run(clean, name)
        return sorted(
            r["doc_id"] for r in spark.sql(f"SELECT doc_id FROM {name}").collect()
        )

    # generously sized: result-identical to the exact path
    got = run(1 << 21, "decontam_bloom_sink")
    assert got == expected and len(got) > 0

    # deliberately undersized: survivors must be a SUBSET of the exact
    # survivors (bloom FPs only ever drop extra clean docs)
    tiny = run(1024, "decontam_bloom_tiny_sink")
    assert set(tiny) <= set(expected)


def test_heavy_hitters_from_shards_emit_discards_evicted_values(spark):
    """With the emit ordinal present, the finalizer reduces each shard
    to its latest emission first: a value evicted by MG truncation
    (present at emit=1, absent at emit=2) must not be resurrected from
    its stale rows in an unordered sink dump (ADVICE r5)."""
    from gecko_spark.streaming import heavy_hitters_from_shards

    rows = [
        (0, "hot", 300, 400, 1),
        (0, "gone", 90, 400, 1),   # stale: evicted before emit 2
        (0, "hot", 400, 500, 2),
        (0, "new", 20, 500, 2),
        (1, "other", 60, 500, 1),
    ]
    df = spark.createDataFrame(
        rows, "shard int, value string, cnt long, n_shard long, emit long"
    )
    got = {
        r["value"]: (r["cnt_lb"], r["n_total"], r["confirmed"])
        for r in heavy_hitters_from_shards(df, 1, 10).collect()
    }
    assert got == {
        "hot": (400, 1000, True),
        "new": (20, 1000, False),
        "other": (60, 1000, False),
    }


def test_stream_regex_global_order_with_supplied_frequencies(spark, tmp_path):
    """Regex-table stream parity: supplied per-rule counts reproduce the
    batch global rule order on a multi-micro-batch stream (same contract
    as the phonetic/inline tests; regex rules have their own Arrow-count
    pre-pass, so the streaming fallback is worth pinning too)."""
    from gecko_spark.plans.pipeline import mutate_data_frame

    # both rules match the overlap rows "12-34x56/78" -> order matters
    f1 = pd.DataFrame({"id": range(0, 8), "v": ["12-34x56/78"] * 4 + ["12-34"] * 4})
    f2 = pd.DataFrame({"id": range(8, 20), "v": ["56/78"] * 10 + ["12-34x56/78"] * 2})
    src = tmp_path / "rsrc"
    src.mkdir()
    f1.to_parquet(src / "f1.parquet", index=False)
    f2.to_parquet(src / "f2.parquet", index=False)

    batch = spark.read.parquet(str(src))
    rtbl = pd.DataFrame(
        {
            "pattern": [r"(?P<a>\d{2})-(?P<b>\d{2})", r"(?P<a>\d{2})/(?P<b>\d{2})"],
            "a": ["(?P<b>)", "X"],
            "b": ["(?P<a>)", "Y"],
        }
    )
    auto = M.with_regex_replacement_table(rtbl, pattern_column="pattern")
    counts = auto.measure_rule_frequencies(batch, "v")
    assert counts == [10, 16]
    expected = (
        mutate_data_frame(batch, [("v", (1.0, auto))], seed=21)
        .toPandas().set_index("id")["v"]
    )

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = mutate_stream(
        stream,
        [("v", (1.0, M.with_regex_replacement_table(
            rtbl, pattern_column="pattern", rule_frequencies=counts)))],
        seed=21,
    )
    _run(out, "regex_stream_global")
    got = spark.sql("SELECT * FROM regex_stream_global").toPandas().set_index("id")["v"]
    assert (got.sort_index() == expected.sort_index()).all()


def test_link_stream_matches_batch_best_match(spark, tmp_path):
    """Streaming record linkage (row-local candidate-array design) must
    resolve every arriving record exactly as the batch
    linkage_join(keep='best') does — same scorer, same tie-breaks —
    including records with NO admissible candidate (null match)."""
    from gecko_spark.operators import generators as G
    from gecko_spark.operators import linkage as L
    from gecko_spark.plans.pipeline import mutate_data_frame, to_data_frame
    from gecko_spark.streaming import link_stream

    freq = pd.DataFrame({"w": [f"n{i:02d}" for i in range(40)], "n": [1] * 40})
    clean = (
        to_data_frame(
            spark,
            [("first", G.from_frequency_table(freq, "w", "n")),
             ("last", G.from_frequency_table(freq, "w", "n"))],
            3000, seed=51, keep_index=True,
        )
        .select(
            F.col("__idx__").alias("pid"),
            F.concat_ws(" ", "first", "last").alias("name"),
            F.pmod(F.col("__idx__"), F.lit(500)).alias("zip"),
        )
    )
    dirty = mutate_data_frame(
        clean,
        [("name", (0.3, M.with_delete())), ("name", (0.3, M.with_substitute()))],
        seed=52, key_columns=["pid"],
    )
    src = tmp_path / "dirty"
    src.mkdir()
    # three files -> three micro-batches
    for i in range(3):
        dirty.filter(F.col("pid") % 3 == i).toPandas().to_parquet(
            src / f"f{i}.parquet", index=False
        )

    for score, kw in [("levenshtein", {}), ("jaro_winkler", {"min_sim": 0.85})]:
        expected = L.linkage_join(
            dirty, clean, "pid", "pid", "name",
            block_a=[F.col("zip")], block_b=[F.col("zip")],
            keep="best", score=score, **kw,
        ).toPandas().set_index("id_a")

        stream = (
            spark.readStream.schema(dirty.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = link_stream(
            stream, clean, "pid", "pid", "name",
            block_stream=F.col("zip"), block_static=F.col("zip"),
            score=score, **kw,
        )
        name = f"link_stream_{score}"
        _run(out, name)
        got = spark.sql(f"SELECT * FROM {name}").toPandas().set_index("pid")

        assert len(got) == dirty.count()  # exactly-once per record
        linked = got[got["match_id"].notna()]
        assert set(linked.index) == set(expected.index)
        merged = linked.join(expected, how="inner")
        assert (merged["match_id"].astype("int64") == merged["id_b"]).all()
        score_col = "dist" if score == "levenshtein" else "sim"
        assert (abs(merged["match_score"] - merged[score_col]) < 1e-12).all()


def test_link_stream_hot_block_guard(spark, tmp_path):
    """Blocks over max_block_size are dropped before the candidate-array
    fold: records in the hot block resolve to null instead of dragging a
    degenerate array through every row."""
    from gecko_spark.streaming import link_stream

    clean = spark.createDataFrame(
        [(i, f"name{i:03d}", 0 if i < 50 else 1) for i in range(60)],
        "pid long, name string, zip int",
    )
    dirty = pd.DataFrame(
        {"pid": [0, 55], "name": ["name000", "name055"], "zip": [0, 1]}
    ).astype({"zip": "int32"})
    src = tmp_path / "hot"
    src.mkdir()
    dirty.to_parquet(src / "f.parquet", index=False)
    stream = spark.readStream.schema(
        "pid long, name string, zip int"
    ).parquet(str(src))
    out = link_stream(
        stream, clean, "pid", "pid", "name",
        block_stream=F.col("zip"), block_static=F.col("zip"),
        max_dist=0, max_block_size=20,
    )
    _run(out, "link_hot_guard")
    got = spark.sql("SELECT * FROM link_hot_guard").toPandas().set_index("pid")
    assert pd.isna(got.loc[0, "match_id"])   # zip 0 block (50 cands) dropped
    assert got.loc[55, "match_id"] == 55     # zip 1 block (10 cands) kept


def test_link_stream_preserves_clean_id_type(spark, tmp_path):
    """match_id must carry the clean table's id TYPE (ADVICE r6: a
    forced cast('long') silently nulled every string id and null cids
    then crashed the tie-break): string ids round-trip verbatim,
    null-id clean rows are skipped as candidates."""
    from gecko_spark.streaming import link_stream

    clean = spark.createDataFrame(
        [("cust-07", "alice smith", 1), (None, "alice smyth", 1),
         ("cust-03", "bob jones", 2)],
        "pid string, name string, zip int",
    )
    dirty = pd.DataFrame(
        {"rid": [1, 2], "name": ["alice smith", "bob jonez"], "zip": [1, 2]}
    ).astype({"zip": "int32"})
    src = tmp_path / "sid"
    src.mkdir()
    dirty.to_parquet(src / "f.parquet", index=False)
    stream = spark.readStream.schema("rid long, name string, zip int").parquet(
        str(src)
    )
    out = link_stream(
        stream, clean, "rid", "pid", "name",
        block_stream=F.col("zip"), block_static=F.col("zip"),
        max_dist=1,
    )
    assert out.schema["match_id"].dataType.simpleString() == "string"
    _run(out, "link_string_ids")
    got = spark.sql("SELECT * FROM link_string_ids").toPandas().set_index("rid")
    # 'alice smith' ties dist=0 vs the real row and dist=1 vs the
    # null-id row; null-id candidates are skipped, not crashed on
    assert got.loc[1, "match_id"] == "cust-07"
    assert got.loc[2, "match_id"] == "cust-03"


def test_hll_registers_stream_matches_batch_bit_for_bit(spark):
    """Register ownership is disjoint across shards, so the union of
    latest per-shard emissions rebuilds the batch register table
    EXACTLY — stream and batch HLL agree on every output column."""
    from gecko_spark.operators.sketches import hll_estimate, hll_registers
    from gecko_spark.streaming import hll_estimate_from_shards, hll_registers_stream

    events = stream_events(spark, f"{SF}/events.parquet")
    sk = hll_registers_stream(
        events, "user_id", m=64, n_shards=4, watermark="0 seconds"
    )
    _run(sk, "hll_stream", mode="update")
    last = (
        spark.sql("SELECT * FROM hll_stream")
        .toPandas()
        .groupby("shard")
        .last()
        .reset_index()
    )
    est = hll_estimate_from_shards(spark.createDataFrame(last), m=64).collect()[0]
    batch_df = load_table(spark, SF, "events")
    batch = hll_estimate(batch_df, "user_id", m=64).collect()[0]
    assert est == batch  # every column, bit-for-bit
    # and the merged register TABLE matches, not just the estimate
    stream_regs = sorted(
        (int(r), int(rho))
        for _, row in last.iterrows()
        for r, rho in zip(row["regs"], row["rhos"])
    )
    batch_regs = sorted(
        map(tuple, hll_registers(batch_df, "user_id", m=64).collect())
    )
    assert stream_regs == batch_regs


def test_checkpoint_restart_hll_register_state(spark, tmp_path):
    """The sharded HLL register maxima must survive a query restart:
    drain half the corpus, kill the query, drain the rest from the same
    checkpoint — the merged registers must equal the batch sketch over
    the WHOLE corpus bit-for-bit. A fresh (state-lost) query would
    rebuild registers from only the second half; max-idempotency makes
    any duplicate deliveries across the restart harmless."""
    import pathlib

    from gecko_spark.operators.sketches import hll_estimate
    from gecko_spark.streaming import hll_estimate_from_shards, hll_registers_stream

    src = pathlib.Path(tmp_path) / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    batch = load_table(spark, SF, "events")
    schema = batch.schema

    def run_until_drained():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*/")
        q = (
            hll_registers_stream(
                stream, "user_id", m=64, n_shards=4, watermark="3650 days",
                output_mode="append",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # first half: users 0..7 only — several registers will NOT be
    # touched by the second half, so losing state would lose them
    batch.filter(F.col("user_id") < 8).coalesce(1).write.parquet(str(src / "b1"))
    run_until_drained()
    batch.filter(F.col("user_id") >= 8).coalesce(1).write.parquet(str(src / "b2"))
    run_until_drained()

    import pandas as pd

    emitted = spark.read.parquet(out).toPandas()
    # latest emission per shard across both runs: every emission carries
    # the shard's FULL register slice, so take the one with most regs
    # broken by recency is unnecessary — register maxima only grow;
    # merge ALL emissions (max per register is idempotent)
    est = hll_estimate_from_shards(
        spark.createDataFrame(emitted), m=64
    ).collect()[0]
    whole = hll_estimate(batch, "user_id", m=64).collect()[0]
    assert est == whole
