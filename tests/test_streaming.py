"""Streaming slice: stream-vs-batch parity on the events fixture (the
reference's §2.5 semantics expressed as Structured Streaming), watermark
config, and the one-pass streaming normalizer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fireworks_spark import streaming
from fireworks_spark.tables import table


@pytest.fixture(scope="module")
def events_path(sf_dir, tmp_path_factory):
    """The file stream source reads a DIRECTORY (files arriving == stream);
    stage the fixture file into one."""
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-000.parquet")
    return str(d)


def test_tumbling_stream_equals_batch(spark, sf_dir, events_path):
    """availableNow replay of the events file through a 1-hour tumbling
    window must equal the q25 batch aggregation exactly."""
    stream = streaming.read_event_stream(spark, events_path)
    assert stream.isStreaming
    streaming.run_to_memory(
        streaming.tumbling_agg(stream), "t_tumbling", "complete"
    )
    got = {
        (r.h, r.event_type): (r.cnt, r.sum_val)
        for r in spark.table("t_tumbling").collect()
    }
    batch = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_val"),
        )
    )
    want = {
        (r.h, r.event_type): (r.cnt, r.sum_val) for r in batch.collect()
    }
    assert got == want and len(got) > 0
    # anchor against DuckDB directly so stream==batch can't pass vacuously
    # (both reading garbage): group count and total event mass must match
    # an independent engine's view of the same parquet.
    import duckdb

    n_groups, n_events = duckdb.sql(
        "SELECT count(*), sum(cnt) FROM ("
        "  SELECT date_trunc('hour', ts) h, event_type, count(*) cnt"
        f"  FROM read_parquet('{sf_dir}/events.parquet') GROUP BY 1, 2)"
    ).fetchone()
    assert len(got) == n_groups
    assert sum(c for c, _ in got.values()) == n_events


def test_session_and_sliding_run(spark, events_path):
    stream = streaming.read_event_stream(spark, events_path)
    streaming.run_to_memory(streaming.sliding_agg(stream), "t_sliding")
    streaming.run_to_memory(streaming.session_agg(stream), "t_session")
    sliding = spark.table("t_sliding")
    session = spark.table("t_session")
    assert sliding.count() > 0
    assert session.count() > 0
    # sliding 1h/15m: every event lands in 4 windows => 4x the tumbling mass
    tot_sliding = sliding.agg(F.sum("cnt")).collect()[0][0]
    tot_events = spark.table("t_tumbling").agg(F.sum("cnt")).collect()[0][0]
    assert tot_sliding == 4 * tot_events
    # sessions partition each user's events
    tot_sess = session.agg(F.sum("n_events")).collect()[0][0]
    assert tot_sess == tot_events


def test_streaming_normalizer_incremental_equals_batch(spark, sf_dir):
    """Folding the table in 3 chunks through update() must reproduce the
    batch mean/stddev (one-pass merge correctness, reference
    preprocessing.py:90-109)."""
    e = table(spark, sf_dir, "events").select("event_id", "value")
    norm = streaming.StreamingNormalizer(["value"])
    for part in range(3):
        norm.update(e.filter(F.col("event_id") % 3 == part))
    mu, sd = norm.compile()["value"]
    row = e.agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sd")
    ).collect()[0]
    assert abs(mu - row.mu) < 1e-9 * max(1, abs(row.mu))
    assert abs(sd - row.sd) < 1e-6 * max(1, abs(row.sd))
    out = norm.forward(e).collect()
    zs = [r.value_std for r in out]
    assert abs(sum(zs) / len(zs)) < 1e-6


def test_stateful_running_totals_across_microbatches(spark, sf_dir, tmp_path):
    """Split events into 3 files streamed one per trigger: the state store
    must carry totals across micro-batches, and the final update per user
    must equal the batch aggregate."""
    src = table(spark, sf_dir, "events").select("user_id", "value")
    stage = str(tmp_path / "ev3")
    src.repartition(3).write.parquet(stage)

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [StructField("user_id", LongType()), StructField("value", DoubleType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    out = streaming.stateful_running_totals(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    updates = spark.table("t_state")
    assert updates.count() > 0
    # last update per user == batch totals
    final = {
        r.user_id: (r.n, r.total)
        for r in updates.withColumn(
            "rk",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("user_id")
                .orderBy(F.desc("n"))
            ),
        )
        .filter(F.col("rk") == 1)
        .collect()
    }
    batch = {
        r.user_id: (r.n, r.total)
        for r in src.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(final) == set(batch)
    for u in batch:
        assert final[u][0] == batch[u][0]
        assert abs(final[u][1] - batch[u][1]) < 1e-6


def test_normalizer_foreach_batch_hook(spark, sf_dir, events_path):
    """foreachBatch plumbing: drive the normalizer from an actual stream."""
    norm = streaming.StreamingNormalizer(["value"])
    stream = streaming.read_event_stream(spark, events_path)
    q = (
        stream.select("value")
        .writeStream.foreachBatch(norm.foreach_batch())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    e = table(spark, sf_dir, "events")
    row = e.agg(F.avg("value").alias("mu")).collect()[0]
    assert norm.n == e.count()
    mu, _ = norm.compile()["value"]
    assert abs(mu - row.mu) < 1e-9 * max(1, abs(row.mu))


def test_dedup_stream_removes_within_watermark_dups(
    spark, sf_dir, tmp_path_factory
):
    """Two copies of the events file land as two micro-batch files; the
    deduped stream must emit each event_id exactly once (batch parity:
    countDistinct event_id)."""
    import shutil

    d = tmp_path_factory.mktemp("events_dup_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", d / "b.parquet")
    stream = streaming.read_event_stream(
        spark, str(d), max_files_per_trigger=1
    )
    deduped = streaming.dedup_stream(stream)
    streaming.run_to_memory(deduped, "dedup_stream_t", output_mode="append")
    got = spark.table("dedup_stream_t").count()
    want = table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert got == want


def test_interval_join_stream_equals_batch(spark, sf_dir, events_path):
    """Stream-stream time-bounded self-join == the equivalent batch join
    (15-minute forward window per user)."""
    stream = streaming.read_event_stream(spark, events_path)
    joined = streaming.interval_join_stream(
        stream, stream, key="user_id", upper="interval 15 minutes"
    )
    streaming.run_to_memory(joined, "ivjoin_stream_t", output_mode="append")
    got = spark.table("ivjoin_stream_t").count()

    e = table(spark, sf_dir, "events")
    l = e.select(
        F.col("user_id").alias("k"),
        F.col("event_id").alias("l_event"),
        F.col("ts").alias("l_ts"),
    )
    r = e.select(
        F.col("user_id").alias("rk"),
        F.col("event_id").alias("r_event"),
        F.col("ts").alias("r_ts"),
    )
    want = l.join(
        r,
        (F.col("k") == F.col("rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.expr("l_ts + interval 15 minutes"))
        & (F.col("l_event") != F.col("r_event")),
    ).count()
    assert got == want


def test_near_dedup_stream_drops_signature_dups(spark, tmp_path):
    """Near-dup stream: identical shingle sets (and identical short texts)
    collapse to one surviving doc inside the watermark; distinct content
    survives."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, "alpha beta gamma delta epsilon", t0),
        (2, "alpha beta gamma delta epsilon", t0),          # exact near-dup
        (3, "completely different words in this one", t0),
        (4, "hi", t0),                                      # short: exact-sig
        (5, "hi", t0),                                      # short dup
        (6, "yo", t0),                                      # short distinct
    ]
    src = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    d = str(tmp_path / "docs_stream")
    src.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(src.schema).parquet(d)
    kept = streaming.near_dedup_stream(stream, watermark="1 hour")
    streaming.run_to_memory(kept, "near_dedup_t", output_mode="append")
    out = spark.table("near_dedup_t").collect()
    texts = sorted(r["text"] for r in out)
    assert texts == sorted(
        ["alpha beta gamma delta epsilon",
         "completely different words in this one", "hi", "yo"]
    )
    # every surviving signature is unique
    sigs = [r["_sig"] for r in out]
    assert len(sigs) == len(set(sigs))


def test_maintain_rollup_table_matches_batch(spark, sf_dir, tmp_path):
    """Stream events in 3 micro-batches through foreachBatch-upsert
    maintenance: the final parquet table must equal the batch hourly
    rollup exactly (windows updated across batches converge)."""
    import duckdb

    src = table(spark, sf_dir, "events")
    stage = str(tmp_path / "ev_in")
    # time-range partitioned files: replay arrives roughly time-ordered, so
    # a finite watermark only has to cover intra-batch disorder. The
    # generous horizon also covers any file-order surprises (replaying
    # history is not live tailing — see maintain_rollup_table docstring).
    src.repartitionByRange(3, "ts").write.parquet(stage)
    out = str(tmp_path / "rollup_table")

    stream = streaming.read_event_stream(spark, stage, max_files_per_trigger=1)
    streaming.maintain_rollup_table(stream, out, watermark="3650 days")

    got = {
        (r.bucket, r.event_type): (r.cnt, r.sum_val)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.h, r.event_type): (r.cnt, r.sum_val)
        for r in (
            src.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.round(F.sum("value"), 2).alias("sum_val"),
            )
            .collect()
        )
    }
    assert got == want and len(got) > 0
    # independent engine anchor
    n_groups = duckdb.sql(
        "SELECT count(*) FROM (SELECT date_trunc('hour', ts), event_type "
        f"FROM read_parquet('{sf_dir}/events.parquet') GROUP BY 1, 2)"
    ).fetchone()[0]
    assert len(got) == n_groups


def test_read_event_stream_empty_dir_falls_back(spark, tmp_path):
    """An empty watch directory is a normal stream-start condition: the
    schema peek has no footer to read, so the declared schema must fall
    back to EVENTS_RAW_SCHEMA (or an explicit one) instead of raising."""
    from fireworks_spark.streaming import EVENTS_RAW_SCHEMA, read_event_stream

    d = tmp_path / "empty_events"
    d.mkdir()
    stream = read_event_stream(spark, str(d))
    assert stream.isStreaming
    # normalize turned the raw nanos-long ts into a timestamp
    assert dict(stream.dtypes)["ts"] == "timestamp"
    # explicit schema skips the peek entirely
    stream2 = read_event_stream(spark, str(d), schema=EVENTS_RAW_SCHEMA)
    assert stream2.isStreaming


def test_stateful_topk_transform_with_state(spark, sf_dir, tmp_path):
    """Bounded order-statistic state: per-user top-3
    maintained in a bounded value state across 3 micro-batches; the final
    update per user must equal the batch top-3."""
    src = table(spark, sf_dir, "events").select("user_id", "value")
    stage = str(tmp_path / "evtk")
    src.repartition(3).write.parquet(stage)

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    schema = StructType(
        [StructField("user_id", LongType()), StructField("value", DoubleType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    out = streaming.stateful_topk(stream, k=3)
    q = (
        out.writeStream.format("memory")
        .queryName("t_topk")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    updates = spark.table("t_topk")
    assert updates.count() > 0
    # keep each user's LAST update (largest k-th value / longest list wins
    # monotonically, so take the lexicographically-largest topk array)
    final = {}
    for r in updates.collect():
        prev = final.get(r.user_id)
        cur = list(r.topk)
        if prev is None or (len(cur), cur) >= (len(prev), prev):
            final[r.user_id] = cur
    batch = {
        r.user_id: sorted((float(v) for v in r.vals), reverse=True)[:3]
        for r in src.groupBy("user_id")
        .agg(F.collect_list("value").alias("vals"))
        .collect()
    }
    assert set(final) == set(batch)
    for u in batch:
        assert final[u] == batch[u], f"user {u}: {final[u]} != {batch[u]}"


def test_decontaminate_stream_matches_batch(spark, tmp_path):
    """Stateless stream decontamination == batch dedup.decontaminate (exact
    literal mode), checked through the real micro-batch engine."""
    import datetime as dt
    from fireworks_spark.operators import dedup

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, "a b c d e", t0),          # shares 'a b c' -> dropped
        (2, "x y z w v", t0),          # clean
        (3, "q r s t u", t0),          # clean
        (4, "zz yy a b c", t0),        # shares 'a b c' -> dropped
        (5, "hi", t0),                 # short: no shingles, never tainted
    ]
    src = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    bench = spark.createDataFrame([(100, "a b c zz yy")], "doc_id long, text string")
    d = str(tmp_path / "decon_stream")
    src.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(src.schema).parquet(d)
    kept = streaming.decontaminate_stream(stream, bench)
    streaming.run_to_memory(kept, "decon_stream_t", output_mode="append")
    got = sorted(r.doc_id for r in spark.table("decon_stream_t").collect())
    batch = sorted(
        r.doc_id for r in dedup.decontaminate(src, bench).collect()
    )
    # batch decontaminate drops shingle-less docs from consideration but
    # keeps them (anti-join keeps all non-tainted); both keep doc 5
    assert got == batch == [2, 3, 5]


def test_decontaminate_stream_bloom_mode_no_false_negatives(spark, tmp_path):
    """Force the Bloom fallback (exact_max_shingles=0): every truly
    contaminated doc is still dropped (no false negatives)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(i, f"tok{i} filler words a b c", t0) for i in range(5)] + [
        (10, "clean doc nothing shared here at all", t0)
    ]
    src = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    bench = spark.createDataFrame([(99, "filler words a b c")], "doc_id long, text string")
    d = str(tmp_path / "decon_bloom_stream")
    src.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(src.schema).parquet(d)
    kept = streaming.decontaminate_stream(stream, bench, exact_max_shingles=0)
    streaming.run_to_memory(kept, "decon_bloom_t", output_mode="append")
    got = sorted(r.doc_id for r in spark.table("decon_bloom_t").collect())
    assert got == [10]


def test_dedup_stream_against_static_corpus(spark, tmp_path):
    """Stream docs dedup against a static corpus == batch minhash_join
    anti-join, through the real micro-batch engine (2 input files)."""
    import datetime as dt
    from fireworks_spark.operators import dedup

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    corpus = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "some corpus document with its own words"),
        ],
        "doc_id long, text string",
    )
    batch1 = [
        (1, "the quick brown fox jumps over the lazy dog", t0),  # dup of 100
        (2, "a totally novel document appears right here", t0),  # clean
    ]
    batch2 = [
        (3, "the quick brown fox jumps over the lazy cat", t0),  # jac .75 < .8 -> clean
        (4, "some corpus document with its own words", t0),      # dup of 101
    ]
    src = str(tmp_path / "against_src")
    spark.createDataFrame(
        batch1, "doc_id long, text string, ts timestamp"
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        batch2, "doc_id long, text string, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)
    schema = "doc_id long, text string, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "against_out")
    streaming.dedup_stream_against(stream, corpus, out, threshold=0.8)
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == [2, 3]
    # corpus-side persisted frames were released after the run
    # (baseline-relative: other module tests may hold their own caches)


def test_dedup_stream_against_threshold_rule_matches_batch(spark, tmp_path):
    """The stream drops a doc by the batch rule, pround(jac, 3) >=
    threshold: a Jaccard-0.75 pair sits below threshold 0.7504, so the
    batch join reports no pair and the stream must keep the doc."""
    from fireworks_spark.operators import dedup

    corpus = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy cat")],
        "doc_id long, text string",
    )
    assert dedup.minhash_join(docs, corpus, threshold=0.7504).count() == 0
    src = str(tmp_path / "thr_src")
    docs.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    out = str(tmp_path / "thr_out")
    streaming.dedup_stream_against(stream, corpus, out, threshold=0.7504)
    assert [r.doc_id for r in spark.read.parquet(out).collect()] == [1]


def test_quality_gates_run_on_streams(spark, tmp_path):
    """The expression-only quality operators (gopher_stats, c4_line_filter,
    ngram_repetition) must work unchanged inside a readStream pipeline
    (spread() passes streaming frames through instead of touching .rdd),
    and the streamed results must equal the batch results row for row."""
    from fireworks_spark.operators import ranking, textstats

    rows = [
        (1, "the quick fox\nshort\nthe quick fox jumps high today"),
        (2, "dup line one two three four\ndup line one two three four"),
        (3, ""),
    ]
    src = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "qstream")
    src.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(src.schema).parquet(d)

    for name, fn in [
        ("g", textstats.gopher_stats),
        ("c", lambda df: textstats.c4_line_filter(df, min_words_per_line=3)),
        ("r", ranking.ngram_repetition),
    ]:
        out = fn(stream)
        assert out.isStreaming
        streaming.run_to_memory(out, f"qgate_{name}", output_mode="append")
        got = sorted(
            tuple(r) for r in spark.table(f"qgate_{name}").collect()
        )
        want = sorted(tuple(r) for r in fn(src).collect())
        assert got == want, name


def test_stateful_funnel_matches_batch_under_ordered_arrival(
    spark, sf_dir, tmp_path
):
    """Events split into 3 TIME-SLICED files streamed one per trigger:
    the per-key funnel state carried across micro-batches must equal the
    batch funnel reach exactly (arrival order respects event time)."""
    from fireworks_spark.operators.timeagg import funnel_counts

    steps = ["view", "click", "purchase"]
    src = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    qs = src.select(
        F.col("ts").cast("double").alias("tsd")
    ).approxQuantile("tsd", [0.33, 0.66], 0.001)
    d = str(tmp_path / "fstream")
    import os

    os.makedirs(d)
    # three sequential single-file writes -> ascending modification times,
    # so the file source replays them in event-time order
    tsd = F.col("ts").cast("double")
    slices = [
        src.filter(tsd <= qs[0]),
        src.filter((tsd > qs[0]) & (tsd <= qs[1])),
        src.filter(tsd > qs[1]),
    ]
    for i, s in enumerate(slices):
        s.coalesce(1).write.parquet(f"{d}/slice={i}")
    files = sorted(
        f"{d}/slice={i}/{n}"
        for i in range(3)
        for n in os.listdir(f"{d}/slice={i}")
        if n.endswith(".parquet")
    )
    stage = str(tmp_path / "staged")
    os.makedirs(stage)
    import shutil as sh

    for i, f in enumerate(files):
        sh.copy(f, f"{stage}/part-{i:03d}.parquet")

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(stage)
    )
    out = streaming.stateful_funnel(stream, steps)
    q = (
        out.writeStream.format("memory")
        .queryName("t_funnel")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    updates = spark.table("t_funnel")
    # reached is monotone per key: the max update IS the final state
    final = (
        updates.groupBy("user_id")
        .agg(F.max("reached").alias("reached"))
    )
    got = {
        i: final.filter(F.col("reached") >= i).count()
        for i in (1, 2, 3)
    }
    want = {
        r.step: r.users for r in funnel_counts(src, steps).collect()
    }
    assert got == want
