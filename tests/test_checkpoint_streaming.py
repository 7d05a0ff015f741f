"""Checkpoint/resume and Structured Streaming operator tests."""

import os
import shutil
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bloomine_spark.datagen import DEFAULT_TARGET, generate_rows
from bloomine_spark.sketch.hll import HyperLogLog
from bloomine_spark.sources.checkpoint import checkpointed_sketch_agg


@pytest.fixture(scope="module")
def seq_parquet(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("seqs"))
    pdf = generate_rows(np.arange(3000), seed=42)
    spark.createDataFrame(pdf).repartition(8).write.mode("overwrite").parquet(d)
    return d


def test_checkpoint_resume_skips_done_partitions(
    spark, seq_parquet, tmp_path, monkeypatch
):
    base = str(tmp_path / "ckpt")
    df = spark.read.parquet(seq_parquet)
    factory = lambda: HyperLogLog.empty(12)  # noqa: E731

    # run 1: inject a failure in one partition → job dies AFTER nothing or
    # some partitions persisted (task retries make persistence racy, so we
    # only require: run 2 completes and matches the non-checkpointed result)
    with pytest.raises(Exception):
        checkpointed_sketch_agg(
            df, "tokens", factory, base, "run1", "hll",
            fail_partitions={df.rdd.getNumPartitions() - 1},
        )

    # run 2 (resume): completes; estimate equals a fresh full aggregation
    sk, lineage = checkpointed_sketch_agg(
        df, "tokens", factory, base, "run1", "hll"
    )
    from bloomine_spark.sketch.core import sketch_agg_global

    whole = sketch_agg_global(df, "tokens", factory)
    assert sk.estimate() == whole.estimate()
    assert (sk.registers == whole.registers).all()

    # lineage carries per-partition metrics
    lin = lineage.toPandas()
    assert lin["partition_id"].nunique() == df.rdd.getNumPartitions()
    assert (lin["rows"] >= 0).all() and lin["rows"].sum() == df.count()
    assert (lin["secs"] >= 0).all()
    n_tokens = df.select(F.sum(F.size("tokens"))).head()[0]
    assert lin["n_values"].sum() == n_tokens

    # run 3 (fully resumed): no partition recomputation — lineage unchanged
    sk3, lineage3 = checkpointed_sketch_agg(
        df, "tokens", factory, base, "run1", "hll"
    )
    assert sk3.estimate() == whole.estimate()
    assert lineage3.count() == df.rdd.getNumPartitions()

    # run 4 (partly resumed): drop half the checkpointed partitions; only
    # those recompute, in a plan with ONE python map node over the scan
    from pyspark.sql.readwriter import DataFrameWriter

    from bloomine_spark.plans.audit import plan_facts

    ckpt = os.path.join(base, "run1", "hll")
    parts = sorted(f for f in os.listdir(ckpt) if f.startswith("part-"))
    for f in parts[: len(parts) // 2]:
        os.remove(os.path.join(ckpt, f))
    written = []
    write_parquet = DataFrameWriter.parquet

    def spy(self, *args, **kwargs):
        written.append(self._df)
        return write_parquet(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    sk4, lineage4 = checkpointed_sketch_agg(
        df, "tokens", factory, base, "run1", "hll"
    )
    assert (sk4.registers == whole.registers).all()
    lin4 = lineage4.toPandas()
    assert lin4["partition_id"].nunique() == df.rdd.getNumPartitions()
    assert lin4["n_values"].sum() == n_tokens
    (resumed,) = written
    text = plan_facts(resumed).text
    assert "MapInPandas" not in text
    assert text.count("MapInArrow") == 1, text


def test_checkpoint_merges_in_partition_id_order(spark, seq_parquet, tmp_path):
    """KLL merges are order-sensitive: the checkpointed composite equals
    sketch_agg_global byte for byte, fresh and after half the checkpoint
    files are lost and the run resumes."""
    from bloomine_spark.sketch.cms import CountMinSketch
    from bloomine_spark.sketch.core import CompositeSketch, sketch_agg_global
    from bloomine_spark.sketch.kll import KLL
    from bloomine_spark.sketch.theta import ThetaSketch

    factory = lambda: CompositeSketch([  # noqa: E731
        HyperLogLog.empty(12), CountMinSketch.empty(1e-3, 1e-3), KLL(k=50),
        ThetaSketch.empty(512),
    ])
    # a file open cost above maxPartitionBytes reads each of the 8 files as
    # its own partition
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(1 << 30))
    try:
        df = spark.read.parquet(seq_parquet)
        assert df.rdd.getNumPartitions() == 8
        want = sketch_agg_global(df, "tokens", factory).to_bytes()
        base = str(tmp_path / "ckpt")
        fresh, _ = checkpointed_sketch_agg(df, "tokens", factory, base, "r", "c")
        assert fresh.to_bytes() == want
        ckpt = os.path.join(base, "r", "c")
        parts = sorted(f for f in os.listdir(ckpt) if f.startswith("part-"))
        for f in parts[: len(parts) // 2]:
            os.remove(os.path.join(ckpt, f))
        resumed, _ = checkpointed_sketch_agg(df, "tokens", factory, base, "r", "c")
        assert resumed.to_bytes() == want
    finally:
        spark.conf.set(key, old)


def test_checkpoint_resumes_under_uri_base_dir(spark, seq_parquet, tmp_path):
    """A URI base dir (file:// here; hdfs:// and s3a:// take the same Hadoop
    FileSystem check) checkpoints like a plain path: the same state, and a
    rerun resumes instead of appending another copy of every partition."""
    df = spark.read.parquet(seq_parquet)
    factory = lambda: HyperLogLog.empty(12)  # noqa: E731
    plain, _ = checkpointed_sketch_agg(
        df, "tokens", factory, str(tmp_path / "plain"), "r", "hll"
    )
    ckpt = tmp_path / "uri" / "r" / "hll"
    written = []
    for _ in range(2):
        sk, lineage = checkpointed_sketch_agg(
            df, "tokens", factory, (tmp_path / "uri").as_uri(), "r", "hll"
        )
        assert sk.to_bytes() == plain.to_bytes()
        assert lineage.count() == df.rdd.getNumPartitions()
        written.append(sorted(
            f for f in os.listdir(ckpt) if f.startswith("part-")
        ))
    assert written[0] and written[1] == written[0]


def test_streaming_screen_matches_batch(spark, seq_parquet, tmp_path):
    from bloomine_spark.operators.screen import screen_hits
    from bloomine_spark.streaming.stream_ops import screen_stream

    batch_df = spark.read.parquet(seq_parquet)
    want = sorted(
        r["doc_id"] for r in screen_hits(batch_df, DEFAULT_TARGET).collect()
    )

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(seq_parquet)
    )
    scores = screen_stream(stream, DEFAULT_TARGET)
    q = (
        scores.filter(F.col("sp_pass"))
        .writeStream.format("memory")
        .queryName("stream_hits")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        r["doc_id"] for r in spark.sql("SELECT doc_id FROM stream_hits").collect()
    )
    assert got == want and len(got) > 0


def test_streaming_windowed_hits(spark, seq_parquet, tmp_path):
    """Watermarked tumbling-window hit counts on a stream equal the batch
    computation over the same data."""
    from bloomine_spark.operators.screen import screen_hits
    from bloomine_spark.streaming.stream_ops import hits_per_window_stream

    batch_df = spark.read.parquet(seq_parquet)
    # synthesize an event-time column (deterministic per doc_id)
    ts = F.timestamp_seconds(
        F.lit(1700000000) + F.pmod(F.xxhash64("doc_id"), F.lit(600))
    )
    with_ts = batch_df.withColumn("ts", ts)
    want = (
        screen_hits(with_ts, DEFAULT_TARGET)
        .groupBy(F.window("ts", "1 minute").alias("w"), "source")
        .agg(F.count("*").alias("n_hits"))
        .select(F.col("w.start").alias("window_start"), "source", "n_hits")
        .toPandas()
    )

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(seq_parquet)
        .withColumn("ts", ts)
    )
    q = (
        hits_per_window_stream(
            stream, DEFAULT_TARGET, window="1 minute", watermark="10 minutes"
        )
        .writeStream.format("memory")
        .queryName("win_hits")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "wck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM win_hits").toPandas()
    key = lambda df: sorted(  # noqa: E731
        zip(df["window_start"].astype(str), df["source"], df["n_hits"])
    )
    assert key(got) == key(want) and len(want) > 5


def test_streaming_hll_stateful(spark, seq_parquet, tmp_path):
    from bloomine_spark.streaming.stream_ops import hll_distinct_by_key_stream

    batch_df = spark.read.parquet(seq_parquet)
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 3)
        .parquet(seq_parquet)
    )
    est = hll_distinct_by_key_stream(stream, "source", "tokens")
    q = (
        est.writeStream.format("memory")
        .queryName("stream_hll")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "hck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql(
        "SELECT source, max_by(est_distinct, n_rows_seen) AS est,"
        " max(n_rows_seen) AS nr FROM stream_hll GROUP BY source"
    ).toPandas()
    assert len(out) == 10
    # final streaming state must equal the batch HLL per source
    from bloomine_spark.sketch.core import estimates_df, sketch_agg

    factory = lambda: HyperLogLog.empty(12)  # noqa: E731
    batch = estimates_df(
        sketch_agg(batch_df, ["source"], "tokens", factory),
        factory, lambda h: h.estimate(), "est",
    ).toPandas().set_index("source")["est"]
    for _, row in out.iterrows():
        assert row["est"] == pytest.approx(batch[row["source"]])
    # all rows were seen
    assert out["nr"].sum() == batch_df.count()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dedup_stream keeps the FIRST occurrence per content fingerprint;
    duplicates arriving later in the stream are dropped (bounded state via
    dropDuplicatesWithinWatermark)."""
    import datetime

    import pandas as pd

    from bloomine_spark.streaming.stream_ops import dedup_stream

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    # 6 docs, 2 distinct texts; duplicates arrive within the watermark
    for i in range(6):
        rows.append(
            {
                "doc_id": i,
                "text": "alpha beta" if i % 2 == 0 else "gamma delta",
                "ts": t0 + datetime.timedelta(seconds=i),
            }
        )
    src = str(tmp_path / "dsrc")
    spark.createDataFrame(pd.DataFrame(rows)).write.parquet(src)
    batch_schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        dedup_stream(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT text FROM dedup_out").toPandas()
    assert sorted(got["text"]) == ["alpha beta", "gamma delta"]


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """sessions_stream (native session_window, state merged across
    triggers) produces the same sessions as the batch gaps-and-islands
    events_sessionize query over the same events."""
    import __spark_entry__ as em

    from bloomine_spark.streaming.stream_ops import sessions_stream

    sf_dir = "/root/testdata/sf0.001"
    # batch oracle: (user, first-event ts, n_events, sum_value) per session
    batch = em.queries()["events_sessionize"](spark, sf_dir).toPandas()
    want = sorted(
        zip(
            batch["user_id"],
            batch["session_start"].astype(str),
            batch["n_events"],
            batch["sum_value"],
        )
    )

    # split events over several files so sessions span triggers
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "ev_src")
    ev.repartition(5).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        # files arrive in random time order, so the watermark must cover
        # the whole event-time span or out-of-order events are dropped as
        # late (that dropping is exercised separately below)
        sessions_stream(stream, gap="30 minutes", watermark="90 days")
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sess_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got_pdf = spark.sql("SELECT * FROM sess_out").toPandas()
    got = sorted(
        zip(
            got_pdf["user_id"],
            got_pdf["session_start"].astype(str),
            got_pdf["n_events"],
            got_pdf["sum_value"],
        )
    )
    assert len(want) > 20
    assert got == want


def test_streaming_sessionize_drops_late_events(spark, tmp_path):
    """An event arriving later than the watermark allows is dropped: its
    session never appears (bounded state is the point of the watermark)."""
    import datetime
    import glob
    import shutil

    import pandas as pd

    from bloomine_spark.streaming.stream_ops import sessions_stream

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def _one_file(rows, name):
        d = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(pd.DataFrame(rows)).coalesce(1).write.parquet(d)
        part = glob.glob(d + "/part-*.parquet")[0]
        shutil.copy(part, str(tmp_path / "src" / (name + ".parquet")))

    (tmp_path / "src").mkdir()
    # batch 1: two events 6 hours in -> watermark advances to 5h
    _one_file(
        [
            {"user_id": 1, "ts": t0 + datetime.timedelta(hours=6), "value": 1.0},
            {"user_id": 1, "ts": t0 + datetime.timedelta(hours=6, minutes=5),
             "value": 1.0},
        ],
        "a",
    )
    schema = spark.read.parquet(str(tmp_path / "src")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    q = (
        sessions_stream(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("late_sess")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "lck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one more on-time event — the watermark is computed from
        # the PREVIOUS batch's max event time, so this batch both runs under
        # an advanced watermark and advances it further (to 6h)
        _one_file(
            [{"user_id": 1, "ts": t0 + datetime.timedelta(hours=7),
              "value": 1.0}],
            "b",
        )
        q.processAllAvailable()
        # batch 3: an event at t0 — 6 hours behind the watermark — dropped
        _one_file([{"user_id": 1, "ts": t0, "value": 99.0}], "c")
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM late_sess").toPandas()
    assert sorted(got["sum_value"]) == [1.0, 2.0]  # the 99.0 never lands
    assert int(got["n_events"].sum()) == 3


def test_streaming_sessionize_append_mode_emits_finalized(spark, tmp_path):
    """Append mode (the production sink path) emits a session exactly once,
    only after the watermark passes its end — earlier triggers emit
    nothing for a still-open session."""
    import datetime
    import glob
    import shutil

    import pandas as pd

    from bloomine_spark.streaming.stream_ops import sessions_stream

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def _one_file(rows, name):
        d = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(pd.DataFrame(rows)).coalesce(1).write.parquet(d)
        part = glob.glob(d + "/part-*.parquet")[0]
        shutil.copy(part, str(tmp_path / "src" / (name + ".parquet")))

    (tmp_path / "src").mkdir()
    _one_file(
        [{"user_id": 1, "ts": t0, "value": 1.0},
         {"user_id": 1, "ts": t0 + datetime.timedelta(minutes=5),
          "value": 1.0}],
        "a",
    )
    schema = spark.read.parquet(str(tmp_path / "src")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    q = (
        sessions_stream(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("ap_sess")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ack"))
        .start()
    )
    try:
        q.processAllAvailable()
        # session [00:00, 00:35) is still open relative to the watermark:
        # nothing emitted yet
        assert spark.sql("SELECT * FROM ap_sess").count() == 0
        # an event far ahead pushes the watermark past the session end
        _one_file(
            [{"user_id": 1, "ts": t0 + datetime.timedelta(hours=6),
              "value": 1.0}],
            "b",
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM ap_sess").toPandas()
    # exactly the finalized first session; the 6h session is still open
    assert len(got) == 1
    assert int(got["n_events"].iloc[0]) == 2
    assert str(got["session_start"].iloc[0]) == "2024-01-01 00:00:00"


def test_streaming_hll_restart_from_checkpoint(spark, tmp_path):
    """Kill-and-resume for the stateful HLL: stop the query, add data,
    restart a NEW query from the SAME checkpointLocation — per-key state
    (the serialized sketch and row counter) must survive the restart, so
    post-restart emissions continue from the pre-restart counts instead of
    starting over. Uses foreachBatch→parquet (the memory sink refuses
    checkpoint recovery; foreachBatch is the fault-tolerant update-mode
    sink a production run would use)."""
    import glob
    import shutil

    import pandas as pd

    from bloomine_spark.streaming.stream_ops import hll_distinct_by_key_stream

    def _one_file(rows, name):
        d = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(
            pd.DataFrame(rows), "doc_id string, source string, tokens array<long>"
        ).coalesce(1).write.parquet(d)
        part = glob.glob(d + "/part-*.parquet")[0]
        shutil.copy(part, str(tmp_path / "src" / (name + ".parquet")))

    (tmp_path / "src").mkdir()
    _one_file(
        [{"doc_id": f"a{i}", "source": "sA",
          "tokens": list(range(100 * i, 100 * i + 80))} for i in range(4)],
        "a",
    )
    schema = spark.read.parquet(str(tmp_path / "src")).schema
    ck = str(tmp_path / "hllck")
    sink = str(tmp_path / "hll_out")

    def _start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "src"))
        )

        def _write(batch_df, batch_id):
            batch_df.withColumn("batch_id", F.lit(batch_id)) \
                .write.mode("append").parquet(sink)

        return (
            hll_distinct_by_key_stream(stream, "source", "tokens")
            .writeStream.foreachBatch(_write)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .start()
        )

    q = _start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    p1 = spark.read.parquet(sink).toPandas()
    assert p1["n_rows_seen"].max() == 4

    # new data while the query is DOWN: overlapping tokens for sA plus a
    # brand-new key
    _one_file(
        [{"doc_id": "a9", "source": "sA", "tokens": list(range(150, 500))},
         {"doc_id": "b0", "source": "sB", "tokens": list(range(50))}],
        "b",
    )
    q2 = _start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    out = spark.read.parquet(sink).toPandas()
    final = (
        out.sort_values("n_rows_seen").groupby("source").last()
    )
    # state survived: sA's counter CONTINUES (4 pre-restart + 1 new), and
    # its estimate covers the union of both phases' tokens
    assert int(final.loc["sA", "n_rows_seen"]) == 5
    from bloomine_spark.sketch.hll import HyperLogLog

    ref = HyperLogLog.empty(12)
    all_sa = np.concatenate(
        [np.arange(100 * i, 100 * i + 80) for i in range(4)]
        + [np.arange(150, 500)]
    )
    ref.update_values(all_sa)
    assert final.loc["sA", "est_distinct"] == pytest.approx(ref.estimate())
    assert int(final.loc["sB", "n_rows_seen"]) == 1


def test_streaming_sessionize_restart_no_double_emit(spark, tmp_path):
    """Kill-and-resume for append-mode sessionize via the (fault-tolerant)
    parquet file sink: sessions already finalized+emitted before the stop
    must NOT re-emit after restart, and a session SPANNING the restart
    must merge events from both phases into one row."""
    import datetime
    import glob
    import shutil

    import pandas as pd

    from bloomine_spark.streaming.stream_ops import sessions_stream

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def _one_file(rows, name):
        d = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(pd.DataFrame(rows)).coalesce(1).write.parquet(d)
        part = glob.glob(d + "/part-*.parquet")[0]
        shutil.copy(part, str(tmp_path / "src" / (name + ".parquet")))

    (tmp_path / "src").mkdir()
    mins = lambda m: t0 + datetime.timedelta(minutes=m)  # noqa: E731
    # file a: u1's session (2 events) + u3's session start
    _one_file(
        [{"user_id": 1, "ts": mins(0), "value": 1.0},
         {"user_id": 1, "ts": mins(5), "value": 1.0},
         {"user_id": 3, "ts": mins(20), "value": 5.0}],
        "a",
    )
    # files b/b2 advance the watermark to 01:38-1h = 00:38 — past u1's
    # session end (00:35) so u1 finalizes pre-restart, but BEFORE u3's
    # (00:50, stays open state) and before the 00:40 spanning event that
    # arrives post-restart (must not be late-dropped)
    _one_file([{"user_id": 2, "ts": mins(45), "value": 1.0}], "b")
    _one_file([{"user_id": 2, "ts": mins(98), "value": 1.0}], "b2")
    schema = spark.read.parquet(str(tmp_path / "src")).schema
    ck = str(tmp_path / "sessck")
    sink = str(tmp_path / "sess_out")

    def _start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "src"))
        )
        return (
            sessions_stream(stream, gap="30 minutes", watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .start()
        )

    q = _start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    p1 = spark.read.parquet(sink).toPandas()
    # u1's session [00:00, 00:35) finalized pre-restart; u2/u3 still open
    assert sorted(p1["user_id"]) == [1]
    assert int(p1.loc[p1["user_id"] == 1, "n_events"].iloc[0]) == 2

    # while DOWN: u3 gets a second event within the gap (session spans the
    # restart), and a far-future event to flush everything
    _one_file([{"user_id": 3, "ts": mins(40), "value": 7.0}], "c")
    _one_file([{"user_id": 2, "ts": mins(600), "value": 1.0}], "d")
    q2 = _start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    out = spark.read.parquet(sink).toPandas()
    # no double-emit: u1's session appears EXACTLY once across both phases
    assert len(out[out["user_id"] == 1]) == 1
    # u3's spanning session merged events from BOTH phases into one row
    u3 = out[out["user_id"] == 3]
    assert len(u3) == 1
    assert int(u3["n_events"].iloc[0]) == 2
    assert float(u3["sum_value"].iloc[0]) == 12.0
    assert str(u3["session_start"].iloc[0]) == "2024-01-01 00:20:00"
    # u2's two pre-restart sessions were open state at the stop; the
    # post-restart watermark sweep finalizes them (once each)
    assert len(out[out["user_id"] == 2]) == 2


def test_streaming_hll_idle_ttl_evicts_state(spark, tmp_path):
    """idle_ttl_ms bounds keyed state: a key idle past the TTL is finalized
    (one last emission) and evicted; data for it arriving later starts a
    FRESH sketch. Bounded state is what makes an unbounded key universe
    survivable on a long-running stream.

    With ProcessingTimeTimeout armed the engine keeps running empty
    micro-batches to fire timeouts, so the query never goes idle and
    ``processAllAvailable`` would block forever — the test polls the sink
    instead (that is also how a production monitor would observe it)."""
    import glob
    import shutil
    import time as _time

    import pandas as pd

    from bloomine_spark.streaming.stream_ops import hll_distinct_by_key_stream

    def _one_file(rows, name):
        d = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(
            pd.DataFrame(rows), "doc_id string, source string, tokens array<long>"
        ).coalesce(1).write.parquet(d)
        part = glob.glob(d + "/part-*.parquet")[0]
        shutil.copy(part, str(tmp_path / "src" / (name + ".parquet")))

    def _wait_for(pred, what, timeout=90):
        t0 = _time.time()
        while _time.time() - t0 < timeout:
            if pred():
                return
            _time.sleep(0.5)
        raise AssertionError(f"timed out waiting for {what}")

    (tmp_path / "src").mkdir()
    _one_file(
        [{"doc_id": "a0", "source": "sA", "tokens": list(range(100))},
         {"doc_id": "a1", "source": "sA", "tokens": list(range(50, 150))}],
        "a",
    )
    schema = spark.read.parquet(str(tmp_path / "src")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    q = (
        hll_distinct_by_key_stream(stream, "source", "tokens",
                                   idle_ttl_ms=2000)
        .writeStream.format("memory")
        .queryName("ttl_hll")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "tck"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )

    def rows():
        return spark.sql(
            "SELECT est_distinct, n_rows_seen FROM ttl_hll "
            "WHERE source = 'sA'"
        ).toPandas()

    try:
        # running state reaches both batch-a rows
        _wait_for(lambda: (rows()["n_rows_seen"] == 2).any(),
                  "sA running estimate (n=2)")
        # idle eviction: the TTL fires on an empty micro-batch and
        # RE-emits the final n=2 row (so two identical n=2 emissions)
        _wait_for(lambda: (rows()["n_rows_seen"] == 2).sum() >= 2,
                  "sA idle-eviction re-emission")
        # new data for sA AFTER eviction: state restarted from empty
        _one_file([{"doc_id": "a9", "source": "sA",
                    "tokens": list(range(30))}], "b")
        _wait_for(lambda: (rows()["n_rows_seen"] == 1).any(),
                  "fresh sA state after eviction")
    finally:
        q.stop()
    fresh = rows()
    fresh = fresh[fresh["n_rows_seen"] == 1]
    # the fresh sketch covers only the 30 post-eviction tokens, not the
    # 150 distinct tokens the evicted state had seen
    assert fresh.iloc[0]["est_distinct"] == pytest.approx(30, rel=0.2)


def test_streaming_foreachbatch_redelivery_idempotent(spark, tmp_path):
    """r4 verdict #6: foreachBatch is AT-LEAST-ONCE — after a failure
    between the user function and the checkpoint commit, the same
    micro-batch is re-delivered with the same batch_id. The package's
    idempotent writer keys the write location on batch_id, so re-running
    the batch function (simulated re-delivery) must leave the sink
    byte-identical — while a blind append sink demonstrably duplicates."""
    import glob

    from bloomine_spark.streaming.stream_ops import (
        hll_distinct_by_key_stream,
        idempotent_parquet_batch_writer,
    )

    (tmp_path / "src").mkdir()

    def _one_file(rows, name):
        d = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(
            pd.DataFrame(rows),
            "doc_id string, source string, tokens array<long>",
        ).coalesce(1).write.parquet(d)
        part = glob.glob(d + "/part-*.parquet")[0]
        shutil.copy(part, str(tmp_path / "src" / (name + ".parquet")))

    for fi in range(3):
        _one_file(
            [{"doc_id": f"d{fi}_{i}", "source": f"s{i % 2}",
              "tokens": list(range(40 * fi, 40 * fi + 30))}
             for i in range(4)],
            f"f{fi}",
        )
    schema = spark.read.parquet(str(tmp_path / "src")).schema
    sink = str(tmp_path / "out")
    writer = idempotent_parquet_batch_writer(sink)
    delivered = []

    def recording(batch_df, batch_id):
        delivered.append((batch_df.toPandas(), int(batch_id)))
        writer(batch_df, batch_id)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    q = (
        hll_distinct_by_key_stream(stream, "source", "tokens")
        .writeStream.foreachBatch(recording)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(delivered) >= 2  # several micro-batches actually ran

    def snapshot():
        return (
            spark.read.parquet(sink).toPandas()
            .sort_values(["batch_id", "source", "n_rows_seen"])
            .reset_index(drop=True)
        )

    before = snapshot()
    assert len(before) == sum(len(p) for p, _ in delivered)

    # simulate re-delivery: run the batch function AGAIN with the same
    # batch_id and the same rows
    pdf, bid = delivered[-1]
    redelivered = spark.createDataFrame(
        pdf, "source string, est_distinct double, n_rows_seen long"
    )
    writer(redelivered, bid)
    after = snapshot()
    assert after.equals(before)  # no double-write, nothing lost

    # control: the naive append sink DOES duplicate under the same retry
    naive = str(tmp_path / "naive")
    redelivered.write.mode("append").parquet(naive)
    redelivered.write.mode("append").parquet(naive)  # the retry
    assert spark.read.parquet(naive).count() == 2 * len(pdf)


def test_streaming_heavy_hitters_stateful(spark, seq_parquet, tmp_path):
    """Streaming Misra-Gries per key: the final emission's top items must
    equal the batch MG sketch built over the same data per source (state
    folds identically), with the MG bound est <= true holding against
    exact counts."""
    from bloomine_spark.streaming.stream_ops import heavy_hitters_by_key_stream

    batch_df = spark.read.parquet(seq_parquet)
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 3)
        .parquet(seq_parquet)
    )
    hh = heavy_hitters_by_key_stream(stream, "source", "tokens", m=64, k=5)
    q = (
        hh.writeStream.format("memory")
        .queryName("stream_mg")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "mgck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql(
        "SELECT * FROM stream_mg WHERE (source, n_rows_seen) IN "
        "(SELECT source, max(n_rows_seen) FROM stream_mg GROUP BY source)"
    ).toPandas()
    assert out["source"].nunique() == 10
    assert (out.groupby("source").size() == 5).all()

    # MG guarantees (the fold is NOT merge-order invariant, only bounded):
    # est <= true and true - est <= n_tokens/m for every reported item, and
    # the true #1 token per source must appear in the streamed top-5
    from pyspark.sql import functions as F2

    exact = (
        batch_df.select("source", F2.explode("tokens").alias("t"))
        .groupBy("source", "t").count().toPandas()
        .set_index(["source", "t"])["count"]
    )
    n_tokens = exact.groupby("source").sum()
    for _, row in out.iterrows():
        true = int(exact.get((row["source"], row["item"]), 0))
        assert row["est_count"] <= true, (row["source"], row["item"])
        assert true - row["est_count"] <= n_tokens[row["source"]] / 64
    top1 = exact.groupby("source").idxmax()
    for src, (_, tok) in top1.items():
        assert tok in set(out[out["source"] == src]["item"]), src


def test_streaming_curate_matches_batch(spark, tmp_path):
    """curate_stream == batch gopher_quality + exact dedup on the same
    docs: rule failures drop statelessly, duplicate texts keep only the
    first arrival, survivors keep their original schema."""
    import datetime

    import pandas as pd

    from bloomine_spark.operators.textops import gopher_quality
    from bloomine_spark.streaming.stream_ops import curate_stream

    good = "the quick brown fixture with that stream flows on " * 4
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i, text in enumerate(
        [good, "too short the with", good,                 # dup of 0
         good + "tail extra of the run", "spam " * 45]):    # no stopwords
        rows.append({"doc_id": i, "source": f"s{i % 2}", "text": text,
                     "ts": t0 + datetime.timedelta(seconds=i)})
    src = str(tmp_path / "csrc")
    spark.createDataFrame(pd.DataFrame(rows)).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        curate_stream(stream, watermark="1 hour", min_words=20)
        .writeStream.format("memory")
        .queryName("curate_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT doc_id, text FROM curate_out").toPandas()

    # both batch dropDuplicates and the stream's within-watermark dedup
    # keep an ARBITRARY row per text (file order is not doc order) —
    # compare surviving TEXT sets, and exactly-one-survivor on the
    # planted duplicate pair (0, 2)
    batch = spark.read.parquet(src)
    batch_texts = {
        r["text"]
        for r in gopher_quality(batch, min_words=20).filter("keep")
        .dropDuplicates(["text"]).collect()
    }
    assert set(got["text"]) == batch_texts
    ids = set(got["doc_id"])
    assert 1 not in ids                  # word-count kill
    assert 4 not in ids                  # stop-words kill
    assert len(ids & {0, 2}) == 1        # exactly one dup survives


def test_streaming_f2_stateful(spark, seq_parquet, tmp_path):
    """Streaming Count-Sketch F2 monitor: the final per-source estimate
    must EQUAL the batch sketch's (signed counters are order-independent
    sums, so arrival order cannot change the merged state)."""
    from bloomine_spark.sketch.countsketch import CountSketch
    from bloomine_spark.streaming.stream_ops import f2_by_key_stream

    batch_df = spark.read.parquet(seq_parquet)
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 3)
        .parquet(seq_parquet)
    )
    est = f2_by_key_stream(stream, "source", "tokens")
    q = (
        est.writeStream.format("memory")
        .queryName("stream_f2")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "f2ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql(
        "SELECT source, max_by(f2_est, n_rows_seen) AS est,"
        " max(n_rows_seen) AS nr FROM stream_f2 GROUP BY source"
    ).toPandas()
    assert len(out) == 10
    from bloomine_spark.sketch.core import estimates_df, sketch_agg

    factory = lambda: CountSketch.empty(0.02, 1e-2)  # noqa: E731
    batch = estimates_df(
        sketch_agg(batch_df, ["source"], "tokens", factory),
        factory, lambda s: s.f2_estimate(), "est",
    ).toPandas().set_index("source")["est"]
    for _, row in out.iterrows():
        assert int(row["est"]) == int(batch[row["source"]])
    assert out["nr"].sum() == batch_df.count()


def test_streaming_lsh_dedup_matches_batch(spark, tmp_path):
    """Streaming MinHash-LSH near-dup monitor: the distinct pair set
    emitted over the whole stream must EQUAL the batch
    minhash_lsh_duplicates(verify='est') pairs on the same corpus —
    same signature kernel, same banding, same estimator — including
    pairs whose two members arrive in DIFFERENT triggers (state carries
    the bucket across microbatches)."""
    from bloomine_spark.operators.dedup import minhash_lsh_duplicates
    from bloomine_spark.streaming.stream_ops import lsh_dedup_stream

    base = ("the quick brown fox jumps over a lazy dog and then runs "
            "far away past the old barn until night comes and a quiet "
            "wind settles over the distant hills near the river")
    rows = []
    for i in range(40):
        rows.append({"doc_id": i, "text": f"{base} unique tail {i} "
                     f"with words {i * 7} and {i * 13} apart"})
    # planted near-dups: copies of docs 0..7 with one word swapped
    for i in range(8):
        rows.append({"doc_id": 1000 + i,
                     "text": rows[i]["text"].replace("quick", "swift")})
    src = str(tmp_path / "lshdocs")
    spark.createDataFrame(pd.DataFrame(rows)).repartition(6).write.parquet(src)

    batch_df = spark.read.parquet(src)
    want = {
        (int(r["id_a"]), int(r["id_b"]))
        for r in minhash_lsh_duplicates(
            batch_df, num_perm=64, bands=16, threshold=0.7, verify="est"
        ).collect()
    }
    assert len(want) >= 6  # planted signal present

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    pairs = lsh_dedup_stream(
        stream, num_perm=64, bands=16, threshold=0.7
    )
    q = (
        pairs.writeStream.format("memory")
        .queryName("lsh_pairs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "lshck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT DISTINCT id_a, id_b FROM lsh_pairs"
    ).toPandas()
    got_pairs = {(int(a), int(b)) for a, b in zip(got["id_a"], got["id_b"])}
    assert got_pairs == want


def test_streaming_lsh_dedup_bucket_cap(spark, tmp_path):
    """max_bucket caps state: past the cap new members still compare
    against STORED members (pairs to the bucket head survive) but are
    not added (pairs among the overflow are the accepted loss)."""
    from bloomine_spark.streaming.stream_ops import lsh_dedup_stream

    text = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    pdf = pd.DataFrame(
        [{"doc_id": i, "text": text} for i in (1, 2, 3)]
    )
    src = str(tmp_path / "capdocs")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(src)
    )
    pairs = lsh_dedup_stream(stream, max_bucket=1, threshold=0.9)
    q = (
        pairs.writeStream.format("memory")
        .queryName("lsh_cap")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "capck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT DISTINCT id_a, id_b FROM lsh_cap").toPandas()
    got_pairs = {(int(a), int(b)) for a, b in zip(got["id_a"], got["id_b"])}
    # doc 1 fills the bucket; 2 and 3 each pair with 1 only
    assert got_pairs == {(1, 2), (1, 3)}


def test_streaming_priority_sample_matches_batch(spark, tmp_path):
    """Streaming priority-sample twin: after the stream drains, the last
    emitted sample per group is BIT-IDENTICAL to the batch
    priority_sample of the same corpus — priorities are deterministic
    md5 uniforms, and top-(k+1) state is a valid merge state (top-m of
    a union is top-m of per-part top-ms), so arrival order is
    irrelevant."""
    from bloomine_spark.sketch.priority import priority_sample
    from bloomine_spark.streaming.stream_ops import (
        priority_sample_by_key_stream,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(600),
            "source": [f"s{i % 3}" for i in range(600)],
            "wt": [(i * 17) % 101 + 1 for i in range(600)],
        }
    )
    src = str(tmp_path / "priodocs")
    spark.createDataFrame(pdf).repartition(5).write.parquet(src)
    batch_df = spark.read.parquet(src)

    want = (
        priority_sample(batch_df, 8, "wt", group_col="source", salt="st")
        .toPandas()
        .sort_values(["source", "rank"])
        .reset_index(drop=True)
    )

    final = {}

    def sink(bdf, _bid):
        for g, grp in bdf.toPandas().groupby("group"):
            final[g] = grp.sort_values("rank").reset_index(drop=True)

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    est = priority_sample_by_key_stream(
        stream, 8, "wt", key_col="doc_id", group_col="source", salt="st"
    )
    q = (
        est.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "prick"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert set(final) == {"s0", "s1", "s2"}
    for g, got in final.items():
        w = want[want["source"] == g].reset_index(drop=True)
        assert got["key"].tolist() == w["doc_id"].tolist()
        assert got["weight"].tolist() == w["weight"].tolist()
        assert got["rank"].tolist() == w["rank"].tolist()
        assert got["priority"].tolist() == pytest.approx(
            w["priority"].tolist()
        )
        assert got["est_weight"].tolist() == pytest.approx(
            w["est_weight"].tolist()
        )


def test_streaming_attribution_matches_batch(spark, tmp_path):
    """Stream-stream watermarked interval join: the candidate
    (purchase, click) pair set over the whole stream must EQUAL the
    batch interval join on the same logs — including pairs whose click
    and purchase arrive in DIFFERENT triggers (join state carries the
    click across microbatches until watermark + horizon)."""
    import datetime as dt

    from bloomine_spark.streaming.stream_ops import attribution_stream

    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    clicks = [
        {"user_id": "u1", "ts": ts(0), "value": 0.0},
        {"user_id": "u1", "ts": ts(50), "value": 0.0},
        {"user_id": "u2", "ts": ts(10), "value": 0.0},
        {"user_id": "u3", "ts": ts(500), "value": 0.0},  # after u3's buy
    ]
    purchases = [
        {"user_id": "u1", "ts": ts(60), "value": 9.5},   # both u1 clicks
        {"user_id": "u2", "ts": ts(300), "value": 3.25}, # u2 click in horizon
        {"user_id": "u3", "ts": ts(30), "value": 7.0},   # no prior click
    ]
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    spark.createDataFrame(pd.DataFrame(clicks)).repartition(3).write.parquet(cdir)
    spark.createDataFrame(pd.DataFrame(purchases)).repartition(3).write.parquet(pdir)

    cb, pb = spark.read.parquet(cdir), spark.read.parquet(pdir)
    want = {
        (r["user_id"], r["purchase_ts"], r["click_ts"])
        for r in attribution_stream(cb, pb, horizon="6 hours").collect()
    }
    # batch sanity: u1 pairs with both clicks, u2 with one, u3 with none
    assert len([p for p in want if p[0] == "u1"]) == 2
    assert len([p for p in want if p[0] == "u2"]) == 1
    assert not [p for p in want if p[0] == "u3"]

    cs = (
        spark.readStream.schema(cb.schema)
        .option("maxFilesPerTrigger", 1).parquet(cdir)
    )
    ps = (
        spark.readStream.schema(pb.schema)
        .option("maxFilesPerTrigger", 1).parquet(pdir)
    )
    # watermark longer than the fixture's whole event span: with
    # maxFilesPerTrigger=1 on TWO sources the drain order is not
    # deterministic, and a tight watermark can advance past a click
    # that a later trigger delivers — a legitimate late-drop, but this
    # test pins the JOIN contract, not late-data policy
    out = attribution_stream(cs, ps, horizon="6 hours",
                             watermark="2 days")
    q = (
        out.writeStream.format("memory")
        .queryName("attrib_pairs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "attrck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT DISTINCT user_id, purchase_ts, click_ts FROM attrib_pairs"
    ).collect()
    got_pairs = {(r["user_id"], r["purchase_ts"], r["click_ts"]) for r in got}
    assert got_pairs == want
