"""Streaming layer tests: Glue-bookmark-parity incremental ingest
(checkpointed availableNow runs process each raw file exactly once) and
the watermarked windowed-aggregation extension (streaming result ==
batch twin on a bounded source).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from healthcare_aws_data_engineering_spark.sources.tables import load_table
from healthcare_aws_data_engineering_spark.streaming.incremental import (
    incremental_fhir_ingest,
    infer_bundle_schema,
)
from healthcare_aws_data_engineering_spark.streaming.windows import (
    run_available_now_to_memory,
    windowed_event_counts,
)

from test_fhir_etl import CONDITION_SINGLE_CC, OBSERVATIONS, PATIENT, bundle


def test_incremental_ingest_bookmark_semantics(spark, tmp_path):
    """Run 1 ingests the initial drop; run 2 with new files appended
    processes ONLY the new files (no re-processing, no duplicates)."""
    raw = tmp_path / "raw"
    curated = tmp_path / "curated"
    ckpt = tmp_path / "ckpt"
    raw.mkdir()

    (raw / "drop1.json").write_text(bundle([PATIENT] + OBSERVATIONS))
    schema = infer_bundle_schema(spark, str(raw))
    incremental_fhir_ingest(spark, str(raw), str(curated), str(ckpt), schema=schema)

    obs1 = spark.read.parquet(str(curated / "observation"))
    n1 = obs1.count()
    assert n1 == len(OBSERVATIONS)
    assert spark.read.parquet(str(curated / "patient")).count() == 1

    # second drop: one new bundle with one new observation id
    new_obs = dict(OBSERVATIONS[0])
    (raw / "drop2.json").write_text(
        bundle([CONDITION_SINGLE_CC, {**new_obs, "id": "obs-new-1"}])
    )
    incremental_fhir_ingest(spark, str(raw), str(curated), str(ckpt), schema=schema)

    obs2 = spark.read.parquet(str(curated / "observation"))
    assert obs2.count() == n1 + 1  # only the new file's rows appended
    assert obs2.filter(F.col("observation_id") == "obs-new-1").count() == 1
    # drop1's observations were NOT re-ingested
    ids = [r.observation_id for r in obs2.groupBy("observation_id").count()
           .filter("count > 1").collect()]
    assert ids == []
    # condition table appeared from run 2
    assert spark.read.parquet(str(curated / "condition")).count() == 1


def test_incremental_ingest_noop_when_no_new_files(spark, tmp_path):
    raw = tmp_path / "raw"
    curated = tmp_path / "curated"
    ckpt = tmp_path / "ckpt"
    raw.mkdir()
    (raw / "a.json").write_text(bundle([PATIENT]))
    schema = infer_bundle_schema(spark, str(raw))
    incremental_fhir_ingest(spark, str(raw), str(curated), str(ckpt), schema=schema)
    n1 = spark.read.parquet(str(curated / "patient")).count()
    incremental_fhir_ingest(spark, str(raw), str(curated), str(ckpt), schema=schema)
    assert spark.read.parquet(str(curated / "patient")).count() == n1


@pytest.mark.parametrize("window", ["6 hours"])
def test_windowed_counts_stream_equals_batch(spark, tmp_path, window):
    """availableNow stream over the sf0.001 events parquet must produce
    the same finalized windows as the batch aggregation."""
    sf_dir = "/root/testdata/sf0.001"
    batch_events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # materialize with µs timestamps so the stream source sees a plain schema
    src_dir = str(tmp_path / "events_src")
    batch_events.write.parquet(src_dir)

    stream = (
        spark.readStream.schema(spark.read.parquet(src_dir).schema)
        .parquet(src_dir)
    )
    agg = windowed_event_counts(stream, window=window, watermark="1 hour")
    run_available_now_to_memory(
        agg, "win_counts", str(tmp_path / "ckpt"), output_mode="append"
    )
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }

    expected_df = windowed_event_counts(
        spark.read.parquet(src_dir), window=window, streaming=False
    )
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in expected_df.collect()
    }
    # append mode emits only windows the watermark finalized; the last
    # window(s) may be withheld — everything emitted must match batch, and
    # most windows must have been emitted.
    assert got, "stream emitted nothing"
    for k, v in got.items():
        assert expected[k][0] == v[0] and expected[k][1] == pytest.approx(v[1]), k
    assert len(got) >= len(expected) - 5 * 2  # ≤ last window per event_type withheld


def test_cli_batch_and_incremental(spark, tmp_path):
    """__main__ entry point: batch run writes all four tables; a second
    incremental run with a checkpoint only picks up new files."""
    from healthcare_aws_data_engineering_spark.__main__ import main

    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "b1.json").write_text(bundle([PATIENT] + OBSERVATIONS))

    curated_b = tmp_path / "curated_batch"
    assert main(["--raw", str(raw), "--curated", str(curated_b)]) == 0
    assert spark.read.parquet(str(curated_b / "observation")).count() == len(
        OBSERVATIONS
    )

    curated_i = tmp_path / "curated_inc"
    ckpt = tmp_path / "ckpt"
    args = ["--raw", str(raw), "--curated", str(curated_i),
            "--incremental", "--checkpoint", str(ckpt)]
    assert main(args) == 0
    n1 = spark.read.parquet(str(curated_i / "observation")).count()
    (raw / "b2.json").write_text(
        bundle([{**OBSERVATIONS[0], "id": "obs-cli-new"}])
    )
    assert main(args) == 0
    assert spark.read.parquet(str(curated_i / "observation")).count() == n1 + 1


def test_stateful_latest_equals_batch(spark, tmp_path):
    """applyInPandasWithState latest-labs: stream the events table in
    THREE micro-batches (maxFilesPerTrigger=1 over three files split by
    event_id) and assert the final per-patient state equals the batch
    max_by((ts, event_id)) pivot — cross-batch state merge, out-of-order
    arrivals, and the (ts, id) tiebreak all pinned at once."""
    from healthcare_aws_data_engineering_spark.streaming.stateful import (
        stateful_latest_labs,
    )

    analytes = ["click", "view", "purchase"]
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = tmp_path / "stream_src"
    for part in range(3):
        ev.filter(F.col("event_id") % 3 == part).write.parquet(
            str(src / f"part{part}")
        )
    schema = spark.read.parquet(str(src / "part0")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out = stateful_latest_labs(stream, analytes)
    q = (
        out.writeStream.format("memory")
        .queryName("latest_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress is None or True  # query drained

    emitted = spark.table("latest_state")
    # multiple micro-batches must actually have run (update rows per batch)
    assert emitted.count() > emitted.select("patient_id").distinct().count()
    # "state so far" = row with max (monotone) n_events per patient
    final = {
        r.patient_id: r
        for r in emitted.withColumn(
            "__rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("patient_id")
                .orderBy(F.col("n_events").desc())
            ),
        )
        .filter("__rn = 1")
        .collect()
    }

    ordk = F.struct(F.col("ts"), F.col("event_id"))
    batch = {
        r.patient_id: r
        for r in ev.groupBy(F.col("user_id").alias("patient_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            *[
                F.max_by(
                    F.when(F.col("event_type") == a, F.col("value")),
                    F.when(F.col("event_type") == a, ordk),
                ).alias(a)
                for a in analytes
            ],
        )
        .collect()
    }
    assert set(final) == set(batch)
    for pid, b in batch.items():
        f = final[pid]
        assert f.n_events == b.n_events, pid
        for a in analytes:
            assert getattr(f, a) == getattr(b, a), (pid, a)


def test_session_window_stream_equals_batch_and_sessionize(spark, tmp_path):
    """session_window on an availableNow stream == the batch session_window
    == the independent lag→flag→cumsum sessionizer (three algorithms, one
    semantics)."""
    from healthcare_aws_data_engineering_spark.streaming.windows import (
        session_window_stats,
    )

    sf_dir = "/root/testdata/sf0.001"
    batch_events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src_dir = str(tmp_path / "events_src_sess")
    batch_events.write.parquet(src_dir)

    stream = (
        spark.readStream.schema(spark.read.parquet(src_dir).schema)
        .parquet(src_dir)
    )
    agg = session_window_stats(stream, gap="30 minutes", watermark="1 hour")
    run_available_now_to_memory(
        agg, "sess_stats", str(tmp_path / "ckpt_sess"), output_mode="append"
    )
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM sess_stats").collect()
    }
    assert got, "stream emitted nothing"

    batch = session_window_stats(
        spark.read.parquet(src_dir), gap="30 minutes", streaming=False
    )
    expected = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in batch.collect()
    }
    for k, v in got.items():
        assert expected[k] == v, k
    # append mode may withhold sessions the watermark hasn't closed
    assert len(got) >= len(expected) * 0.8

    # cross-check against the independent batch sessionizer: same number
    # of sessions and same per-session event counts per user
    from healthcare_aws_data_engineering_spark.plans.pipeline_queries import (
        sessionize,
    )

    sess = sessionize(batch_events)
    lag_counts = sorted(
        (r.user_id, r.n_events) for r in sess.collect()
    )
    win_counts = sorted((u, n) for (u, _), (_, n) in expected.items())
    assert lag_counts == win_counts


def test_stream_stream_join_equals_batch(spark, tmp_path):
    """Watermarked stream-stream interval join == the identical batch join
    (inner joins emit only watermark-safe matches; everything emitted must
    be in the batch result, and coverage must be substantial)."""
    from healthcare_aws_data_engineering_spark.streaming.windows import (
        correlated_events_join,
    )

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    types = [r.event_type for r in events.select("event_type").distinct().collect()]
    t_first, t_second = sorted(types)[:2]
    src_dir = str(tmp_path / "events_src_join")
    events.write.parquet(src_dir)

    schema = spark.read.parquet(src_dir).schema

    def stream():
        return spark.readStream.schema(schema).parquet(src_dir)

    joined = correlated_events_join(
        stream().filter(F.col("event_type") == t_first),
        stream().filter(F.col("event_type") == t_second),
        max_gap_minutes=30,
        watermark="1 hour",
    )
    run_available_now_to_memory(
        joined, "ss_join", str(tmp_path / "ckpt_join"), output_mode="append"
    )
    got = {
        (r.first_id, r.second_id)
        for r in spark.sql("SELECT * FROM ss_join").collect()
    }

    batch = spark.read.parquet(src_dir)
    expected = {
        (r.first_id, r.second_id)
        for r in correlated_events_join(
            batch.filter(F.col("event_type") == t_first),
            batch.filter(F.col("event_type") == t_second),
            max_gap_minutes=30,
            streaming=False,
        ).collect()
    }
    assert got, "stream join emitted nothing"
    assert got <= expected
    assert len(got) >= len(expected) * 0.8


def test_windowed_counts_drops_late_rows(spark, tmp_path):
    """The bounded-state trade the windows.py docstring claims, pinned:
    once a window is finalized (watermark passed its end), a late row for
    it is discarded and the window is never re-emitted.

    One subtlety this test encodes deliberately: Spark filters late rows
    with the PREVIOUS micro-batch's watermark while evicting state with
    the current one (SPARK-40925, needed for chained stateful operators).
    A late row arriving in the very next batch after its window crosses
    the watermark can therefore still merge before eviction; the drop
    guarantee holds for rows arriving >=2 batches later. Hence three
    single-file micro-batches (maxFilesPerTrigger=1, mtime-ordered):

    - batch 0 fills the 10:00 window and advances max event time to
      13:00 (watermark '1 hour' -> 12:00);
    - batch 1 is a filler row at 14:00 whose end-of-batch eviction
      finalizes and emits the 10:00 window as (2, 2.0);
    - batch 2 carries the late 10:30 row (value 100, behind the 12:00
      filter watermark -> dropped, no duplicate 10:00 window) plus a
      16:00 row that pushes the watermark past 13:00 and 14:00.
    """
    import datetime as dt
    import os

    def ts(h, m=0):
        return dt.datetime(2026, 1, 1, h, m)

    src_dir = tmp_path / "late_src"
    src_dir.mkdir()
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    batches = [
        [(1, ts(10, 0), 1, "x", 1.0), (2, ts(10, 5), 1, "x", 1.0), (3, ts(13, 0), 1, "x", 1.0)],
        [(4, ts(14, 0), 1, "x", 1.0)],
        [(5, ts(10, 30), 1, "x", 100.0), (6, ts(16, 0), 1, "x", 1.0)],
    ]
    # file-source batch order follows modification time; force b0 < b1 < b2
    now = 1_700_000_000
    for i, rows in enumerate(batches):
        d = str(src_dir / f"b{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        for name in os.listdir(d):
            os.utime(os.path.join(d, name), (now + 60 * i, now + 60 * i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "*"))
    )
    agg = windowed_event_counts(stream, window="1 hour", watermark="1 hour")
    run_available_now_to_memory(
        agg, "late_win", str(tmp_path / "late_ckpt"), output_mode="append"
    )
    out = spark.sql("SELECT * FROM late_win").collect()
    rows = {r.window_start.hour: (r.n_events, r.sum_value) for r in out}
    # the 10:00 window finalized with ONLY batch-0 rows: the late 10:30
    # row (value 100) was dropped, not merged and not re-emitted
    assert rows[10] == (2, 2.0)
    assert not any(r.sum_value >= 100.0 for r in out)
    assert sum(1 for r in out if r.window_start.hour == 10) == 1
    # the 13:00 and 14:00 windows finalized once batch 2 advanced the
    # watermark to 15:00; the 16:00 window stays in state, never emitted
    assert rows[13] == (1, 1.0)
    assert rows[14] == (1, 1.0)
    assert 16 not in rows


def test_media_decode_stream_equals_batch(spark, tmp_path):
    """r8: the real-codec decode is a stateless mapInPandas projection,
    so it must run UNCHANGED on an availableNow stream of document
    files — the shape a continuously-ingesting media pipeline has (new
    parquet drops decoded incrementally, no shuffle, no state). Stream
    output must equal the batch run row-for-row."""
    from healthcare_aws_data_engineering_spark.operators import multimodal as M

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(60)
    src_dir = str(tmp_path / "docs_src")
    # two files → two availableNow micro-batches
    docs.repartition(2).write.parquet(src_dir)

    stream = (
        spark.readStream.schema(spark.read.parquet(src_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    decoded = M.decode_media_stats(M.encoded_media_from_documents(stream))
    assert decoded.isStreaming
    run_available_now_to_memory(
        decoded, "media_stream", str(tmp_path / "ckpt"), output_mode="append"
    )
    got = {
        r.media_id: (r.container, r.n_payload, r.payload_md5, r.byte_mean)
        for r in spark.sql("SELECT * FROM media_stream").collect()
    }
    expected = {
        r.media_id: (r.container, r.n_payload, r.payload_md5, r.byte_mean)
        for r in M.decode_media_stats(
            M.encoded_media_from_documents(spark.read.parquet(src_dir))
        ).collect()
    }
    assert got == expected and len(got) == 60


def test_media_entropy_stream_equals_batch(spark, tmp_path):
    """r9: the entropy/ZCR leg is the same stateless mapInPandas shape
    as the decode leg, so it too must run UNCHANGED on an availableNow
    stream and match the batch run row-for-row (including the float
    entropy — identical bytes through identical code)."""
    from healthcare_aws_data_engineering_spark.operators import multimodal as M

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(45)
    src_dir = str(tmp_path / "docs_src")
    docs.repartition(2).write.parquet(src_dir)

    stream = (
        spark.readStream.schema(spark.read.parquet(src_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    ent = M.media_entropy(M.encoded_media_from_documents(stream))
    assert ent.isStreaming
    run_available_now_to_memory(
        ent, "media_entropy_stream", str(tmp_path / "ckpt"), output_mode="append"
    )
    got = {
        r.media_id: tuple(r)[1:]
        for r in spark.sql("SELECT * FROM media_entropy_stream").collect()
    }
    expected = {
        r.media_id: tuple(r)[1:]
        for r in M.media_entropy(
            M.encoded_media_from_documents(spark.read.parquet(src_dir))
        ).collect()
    }
    assert got == expected and len(got) == 45


def test_dhash_near_dup_stream_equals_batch_and_flags_perturbed(
    spark, tmp_path
):
    """Streaming image near-dup (r11): an availableNow stream of raw
    image containers probed against a batch-built dHash index must
    (a) equal the batch run of the same function and (b) flag every
    one-byte-perturbed clone of an index image (the perturbation moves
    the hash <= 2 bits, well inside max_hamming=6 — the bound pinned by
    test_dhash_one_byte_perturbation_is_near)."""
    import datetime

    from pyspark.sql import functions as F

    from healthcare_aws_data_engineering_spark.operators import (
        multimodal as M,
    )
    from healthcare_aws_data_engineering_spark.streaming.neardup import (
        dhash_near_dup_stream,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(30)
    )
    index_media = M.encoded_media_from_documents(docs).filter(
        F.col("kind") == "image"
    )
    index_hashes = M.media_dhash(index_media).select("media_id", "dhash")

    ts0 = datetime.datetime(2025, 6, 1)
    incoming = (
        M.encoded_media_from_documents(docs, perturb=True)
        .filter(F.col("kind") == "image")
        .select(
            (F.col("media_id") + F.lit(1_000_000_000)).alias("media_id"),
            "content",
        )
        .withColumn("ts", F.lit(ts0).cast("timestamp"))
    )
    src_dir = str(tmp_path / "incoming_media")
    incoming.write.parquet(src_dir)

    stream = (
        spark.readStream.schema(spark.read.parquet(src_dir).schema)
        .parquet(src_dir)
    )
    out = dhash_near_dup_stream(stream, index_hashes)
    run_available_now_to_memory(
        out, "dhash_near_dup_hits", str(tmp_path / "ckpt_dhash")
    )
    got = {
        (r.media_id, r.index_id): r.hamming
        for r in spark.sql("SELECT * FROM dhash_near_dup_hits").collect()
    }

    expected = {
        (r.media_id, r.index_id): r.hamming
        for r in dhash_near_dup_stream(
            spark.read.parquet(src_dir), index_hashes
        ).collect()
    }
    assert got == expected
    assert got, "no matches flagged at all"
    # every perturbed clone is flagged against its source image
    for r in index_hashes.select("media_id").collect():
        key = (r.media_id + 1_000_000_000, r.media_id)
        assert key in got, key
        assert got[key] <= 2, (key, got[key])
