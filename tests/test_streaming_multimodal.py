"""Streaming/batch parity tests and multimodal plumbing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_bowl_2026_analytics_spark.pipeline.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    extract_features,
    sample_frames,
)
from big_data_bowl_2026_analytics_spark.plans import all_queries
from big_data_bowl_2026_analytics_spark.sources.readers import read_table
from big_data_bowl_2026_analytics_spark.streaming import (
    hourly_event_aggregates,
    read_events_stream,
    run_available_now,
    session_aggregates,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    # The file stream source requires a directory, not a single file.
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF}/events.parquet", d / "events.parquet")
    return str(d)


def test_streaming_hourly_matches_batch_query(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    assert stream.isStreaming
    run_available_now(hourly_event_aggregates(stream), "hourly_stream")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.table("hourly_stream").collect()
    }
    batch = all_queries()["q25_tumbling_window_hourly"].builder(spark, SF)
    want = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want


def test_streaming_sessions_match_batch_composition(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    run_available_now(session_aggregates(stream), "session_stream")
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.table("session_stream").collect()
    }
    # Batch composition (q24) must find the same sessions: same count
    # per user and same total events.
    batch = all_queries()["q24_sessionization"].builder(spark, SF)
    batch_rows = batch.collect()
    by_user_stream: dict[int, int] = {}
    for (user, _), n in got.items():
        by_user_stream[user] = by_user_stream.get(user, 0) + 1
    by_user_batch: dict[int, int] = {}
    for r in batch_rows:
        by_user_batch[r["user_id"]] = by_user_batch.get(r["user_id"], 0) + 1
    assert by_user_stream == by_user_batch
    assert sum(r["n_events"] for r in batch_rows) == sum(got.values())


def _media(spark):
    rows = [
        (1, "image", bytearray(b"\x89PNG fake image bytes"), 64, 64, None, None),
        (2, "image", bytearray(b"\x89PNG other image"), 32, 32, None, None),
        (3, "audio", bytearray(b"RIFF fake wav"), None, None, 16000, None),
        (4, "video", bytearray(b"fake mp4 bytes"), 640, 480, None, 95),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_deterministic_shape(spark):
    out = extract_features(_media(spark)).collect()
    assert len(out) == 4
    by_id = {r["media_id"]: r for r in out}
    assert by_id[1]["n_bytes"] == len(b"\x89PNG fake image bytes")
    assert len(by_id[1]["features"]) == FEATURE_DIM
    # determinism: same blob -> same features on a second run
    out2 = {r["media_id"]: r for r in extract_features(_media(spark)).collect()}
    assert out2[1]["features"] == by_id[1]["features"]
    assert out2[1]["content_sha256"] == by_id[1]["content_sha256"]
    # different blobs -> different hashes
    assert by_id[1]["content_sha256"] != by_id[2]["content_sha256"]


def test_sample_frames_expands_only_video(spark):
    out = sample_frames(_media(spark), every_n=10).collect()
    assert {r["media_id"] for r in out} == {4}
    idx = sorted(r["frame_index"] for r in out)
    assert idx == list(range(0, 95, 10))


def test_blob_metadata_query_matches_scan(spark):
    # q39 exposes the binary plumbing over documents as blobs
    q39 = all_queries()["q39_multimodal_blob_metadata"].builder(spark, SF)
    row = q39.orderBy("doc_id").first()
    doc = read_table(spark, SF, "documents").orderBy("doc_id").first()
    assert row["n_bytes"] == len(doc["text"].encode())


def test_stateful_running_profile_matches_batch(spark, events_dir):
    from big_data_bowl_2026_analytics_spark.streaming.stateful import (
        running_user_profile,
    )

    stream = read_events_stream(spark, events_dir)
    q = (
        running_user_profile(stream)
        .writeStream.format("memory")
        .queryName("profile_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last update per user is the final state
    import pandas as pd

    updates = spark.table("profile_stream").toPandas()
    final = updates.groupby("user_id").tail(1).set_index("user_id")
    batch = (
        read_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
            F.max("value").alias("max_value"),
        )
        .toPandas()
        .set_index("user_id")
    )
    assert len(final) == len(batch)
    for uid in batch.index:
        assert final.loc[uid, "n_events"] == batch.loc[uid, "n_events"]
        assert abs(final.loc[uid, "total_value"] - batch.loc[uid, "total_value"]) < 1e-6
        assert final.loc[uid, "max_value"] == batch.loc[uid, "max_value"]


def test_stream_static_join(spark, events_dir):
    """Stream-static enrichment: the streaming events join a static
    dimension map-side; the drained result equals the batch join."""
    static_dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"),
         ("purchase", "revenue"), ("signup", "growth"), ("error", "ops")],
        "event_type string, category string",
    )
    stream = read_events_stream(spark, events_dir)
    enriched = (
        stream.join(static_dim, "event_type")
        .groupBy("category")
        .count()
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("cat_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["category"]: r["count"] for r in spark.table("cat_stream").collect()}
    batch = {
        r["category"]: r["count"]
        for r in read_table(spark, SF, "events")
        .join(static_dim, "event_type")
        .groupBy("category")
        .count()
        .collect()
    }
    assert got == batch



def test_stateful_operators_prune_arrow_boundary(spark, events_dir):
    """r13 optimization (guide §4.3): every grouped-state operator
    pre-projects to exactly the columns its update function touches,
    so the wide unused `props` string never crosses the shuffle +
    Arrow boundary. Catalyst cannot prune into the pandas function,
    so a grouped-state node whose CHILD still outputs `props` means
    the pre-projection was dropped. (Assert on the state node's child
    output, not the whole plan string — the analyzed tree's leaf
    relation legitimately lists every source column.)"""
    from big_data_bowl_2026_analytics_spark.streaming.stateful import (
        heavy_hitter_summaries,
        lateness_audit_snapshots,
        page_hinkley_alarms,
        running_user_profile,
        running_value_records,
        transition_increments,
        weighted_reservoir_snapshots,
    )

    events = read_events_stream(spark, events_dir)
    assert "props" in events.columns  # the source does carry it
    for op in (
        running_user_profile,
        transition_increments,
        running_value_records,
        lateness_audit_snapshots,
        heavy_hitter_summaries,
        weighted_reservoir_snapshots,
        lambda df: page_hinkley_alarms(df, ref_mean_cents=5000),
        lambda df: __import__(
            "big_data_bowl_2026_analytics_spark.streaming.stateful",
            fromlist=["sprt_decision_stream"],
        ).sprt_decision_stream(
            df.withColumn("arm", F.lit("a")),
            c0_ppm=-100, c1_ppm=100, bound_ppm=1_000_000,
        ),
    ):
        out = op(events)
        root = out._jdf.queryExecution().analyzed()
        child = root.children().apply(0)
        cols = [
            child.output().apply(i).name()
            for i in range(child.output().size())
        ]
        assert "props" not in cols, (root.nodeName(), cols)


def test_windowed_agg_operators_prune_props_at_scan(spark, events_dir):
    """r14 (r13 verdict #9): the JVM half of the §4.3 boundary audit.
    The stateful (Python) operators need an explicit pre-projection
    (test above) because Catalyst cannot prune into a pandas function;
    the JVM windowed-agg operators rely on Catalyst pruning instead —
    this pins that the pruning actually reaches the file source: the
    EXECUTED micro-batch plan's scan ReadSchema must not carry the
    wide unused `props` string. (A streaming frame's optimizedPlan()
    is not accessible pre-execution, so each operator drains one
    availableNow batch and the last executed plan is inspected.)"""
    from big_data_bowl_2026_analytics_spark.streaming.events import (
        activity_lease_nets,
        hourly_ams_sketch,
        hourly_cms_grid,
        hourly_distinct_users_hll,
        hourly_minhash_signatures,
        hourly_value_histogram,
        rolling_distinct_users_hll,
        slo_burn_windows,
    )

    ops = {
        "hourly_agg": hourly_event_aggregates,
        "sessions": session_aggregates,
        "lease_nets": activity_lease_nets,
        "hll": hourly_distinct_users_hll,
        "cms": hourly_cms_grid,
        "slo_burn": slo_burn_windows,
        "rolling_hll": rolling_distinct_users_hll,
        "histogram": hourly_value_histogram,
        "minhash": hourly_minhash_signatures,
        "ams": hourly_ams_sketch,
    }
    for name, op in ops.items():
        out = op(read_events_stream(spark, events_dir))
        q = (
            out.writeStream.format("memory")
            .queryName(f"prune_{name}")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        plan = q._jsq.explainInternal(False)
        scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
        assert scans, (name, plan)
        for ln in scans:
            assert "props" not in ln, (name, ln)


def test_stream_merge_upsert_snapshot(spark, events_dir, tmp_path):
    """foreachBatch + merge_upsert maintains a latest-row-per-user
    snapshot equal to the batch max_by over the same data."""
    from big_data_bowl_2026_analytics_spark.sources.readers import read_table
    from big_data_bowl_2026_analytics_spark.streaming.events import (
        latest_snapshot_version,
        read_events_stream,
        read_snapshot,
        stream_merge_into_parquet,
    )

    snap = str(tmp_path / "snapshot")
    assert read_snapshot(spark, snap) is None  # explicit probe, no snapshot yet
    q = stream_merge_into_parquet(
        read_events_stream(spark, events_dir),
        snap,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    version = latest_snapshot_version(spark, snap)
    assert version is not None and version.startswith("v=")
    got = {
        (r.user_id, r.ts, r.event_type, r.value)
        for r in read_snapshot(spark, snap).collect()
    }
    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    expected = {
        tuple(r)
        for r in ev.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("ts", "event_type", "value"), F.struct("ts", "event_id")
            ).alias("_r")
        )
        .select("user_id", "_r.ts", "_r.event_type", "_r.value")
        .collect()
    }
    assert got == expected and len(got) > 0


def _bmp_bytes(pixels, top_down=False):
    """Hand-rolled uncompressed 24-bpp BMP encoder (test fixture):
    pixels is an (H, W, 3) uint8 RGB array."""
    import struct

    import numpy as np

    h, w, _ = pixels.shape
    row_bytes = (w * 3 + 3) & ~3
    body = bytearray()
    rows = pixels if top_down else pixels[::-1]
    for row in rows:
        line = bytes(row[:, ::-1].astype("uint8").tobytes())  # RGB -> BGR
        body += line + b"\x00" * (row_bytes - len(line))
    height = -h if top_down else h
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, height, 1, 24, 0, len(body), 0, 0, 0, 0)
    return bytes(header + dib + body)


def _wav_bytes(samples16, rate=8000, channels=1):
    """Hand-rolled PCM WAVE encoder (test fixture): samples16 is an
    int16 array, interleaved when channels > 1."""
    import struct

    data = samples16.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def test_decode_bmp_real_bytes():
    import numpy as np

    from big_data_bowl_2026_analytics_spark.pipeline.multimodal import decode_bmp

    # 3x2 gradient with asymmetric channels; odd width forces row padding
    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3) * 10
    for top_down in (False, True):
        out = decode_bmp(_bmp_bytes(px, top_down=top_down))
        assert out.shape == (2, 3, 3)
        assert np.array_equal(out, px)
    with pytest.raises(ValueError):
        decode_bmp(b"NOTABMP" + b"\x00" * 64)


def test_decode_wav_real_bytes():
    import numpy as np

    from big_data_bowl_2026_analytics_spark.pipeline.multimodal import decode_wav

    t = np.arange(64)
    mono = (np.sin(2 * np.pi * t / 16) * 16000).astype(np.int16)
    samples, rate = decode_wav(_wav_bytes(mono, rate=8000))
    assert rate == 8000 and len(samples) == 64
    assert np.allclose(samples, mono / 32768.0)
    # stereo downmix: L = x, R = -x -> exact zeros
    stereo = np.empty(128, dtype=np.int16)
    stereo[0::2] = mono
    stereo[1::2] = -mono
    samples2, _ = decode_wav(_wav_bytes(stereo, rate=8000, channels=2))
    assert len(samples2) == 64
    assert np.allclose(samples2, 0.0, atol=1 / 32768.0)
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00JUNK")


def test_extract_features_real_decode_end_to_end(spark):
    """Real BMP/WAV bytes through the mapInPandas stage: features are
    the decoded-intensity chunk means, not the byte-level fake."""
    import numpy as np

    # constant-intensity image: every pooled feature == value/255
    px = np.full((4, 4, 3), 200, dtype=np.uint8)
    bmp = _bmp_bytes(px)
    # constant zero signal: intensity (0+1)*127.5 -> features 0.5
    wav = _wav_bytes(np.zeros(64, dtype=np.int16), rate=16000)
    rows = [
        (1, "image", bytearray(bmp), 4, 4, None, None),
        (2, "audio", bytearray(wav), None, None, 16000, None),
    ]
    out = {
        r["media_id"]: r
        for r in extract_features(spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()
    }
    assert out[1]["n_bytes"] == len(bmp)
    assert np.allclose(out[1]["features"], 200 / 255.0, atol=1e-6)
    assert np.allclose(out[2]["features"], 127.5 / 255.0, atol=1e-6)


def _stamp_ingest_order(*paths):
    """Give time-split source files STRICTLY increasing mtimes. The
    file stream source orders pending files by modification time, so
    back-to-back writes that land in the same timestamp tick make the
    ingest order — and with it the tests' in-order-ingest contract —
    nondeterministic (observed as a rare full-suite-only flake)."""
    import os
    import time

    base = time.time() - 60
    for i, p in enumerate(paths):
        os.utime(p, (base + i, base + i))


def _drain_append(stream_df, table_name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_stream_stream_attribution_matches_batch(spark, events_dir):
    """Stream-stream interval join (purchase <- preceding clicks within
    1h per user) drains to the same pairs the batch join produces."""
    from big_data_bowl_2026_analytics_spark.streaming.events import (
        purchase_click_attribution,
    )

    stream = read_events_stream(spark, events_dir)
    _drain_append(purchase_click_attribution(stream), "attribution_stream")
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.table("attribution_stream").collect()
    }

    ev = read_table(spark, SF, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    want = {
        (r["purchase_id"], r["click_id"])
        for r in purchases.join(
            clicks,
            (F.col("pu") == F.col("cu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_stream_stream_outer_attribution_matches_batch(spark, tmp_path_factory):
    """LEFT OUTER stream-stream join: matched pairs equal the batch
    inner join exactly; unmatched purchases emit exactly one
    null-click row each, once the watermark finalizes them.

    The input is split into two time-ordered files drained with
    maxFilesPerTrigger=1 so the watermark ADVANCES between
    micro-batches — on a single-batch drain the watermark never moves
    and zero outer rows would (correctly) be emitted. Purchases inside
    the final watermark horizon are legitimately withheld, so the
    completeness assertion stops at the first batch's horizon:
    wm1 − attribution_window, with wm1 = maxts(file1) − watermark.
    """
    import os
    import time as _time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from big_data_bowl_2026_analytics_spark.streaming.events import (
        purchase_click_attribution_outer,
    )

    d = tmp_path_factory.mktemp("events_split")
    t = pq.read_table(f"{SF}/events.parquet")
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), d / "a.parquet")
    pq.write_table(t.slice(half), d / "b.parquet")
    now = _time.time()
    os.utime(d / "a.parquet", (now - 100, now - 100))
    os.utime(d / "b.parquet", (now, now))

    stream = read_events_stream(
        spark, str(d), options={"maxFilesPerTrigger": "1"}
    )
    _drain_append(
        purchase_click_attribution_outer(stream), "attribution_outer_stream"
    )
    rows = spark.table("attribution_outer_stream").collect()
    got_pairs = {
        (r["purchase_id"], r["click_id"])
        for r in rows
        if r["click_id"] is not None
    }
    got_nulls = {r["purchase_id"] for r in rows if r["click_id"] is None}

    ev = read_table(spark, SF, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.unix_micros(F.col("ts")).alias("pts_us"),
        F.col("ts").alias("pts"),
    )
    want_pairs = {
        (r["purchase_id"], r["click_id"])
        for r in purchases.join(
            clicks,
            (F.col("pu") == F.col("cu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert got_pairs == want_pairs and len(want_pairs) > 0

    matched = {p for (p, _) in want_pairs}
    purchase_ts = {
        r["purchase_id"]: r["pts_us"] for r in purchases.collect()
    }
    unmatched = set(purchase_ts) - matched

    # Exactly-once: a purchase never appears both matched and null.
    assert not (got_nulls & matched)
    # Soundness: every null row is a genuinely unmatched purchase.
    assert got_nulls <= unmatched
    # Completeness up to the first batch's watermark horizon. The
    # events.parquet ts encoding CHANGES between testdata generations
    # (NANOS vs MICROS-ntz, CLAUDE.md footgun 7) — normalize the raw
    # int64 to µs by the arrow unit, mirroring read_events_stream's
    # footer probe, so the horizon math stays integer-exact under
    # either encoding instead of inflating wm1 by 1000x.
    HOUR_US = 3_600_000_000
    raw_last = t.column("ts").slice(0, half)[-1].cast("int64").as_py()
    unit = getattr(t.column("ts").type, "unit", "ns")  # raw int64 = nanos
    wm1 = {
        "s": raw_last * 1_000_000,
        "ms": raw_last * 1_000,
        "us": raw_last,
        "ns": raw_last // 1_000,
    }[unit] - 2 * HOUR_US
    horizon = wm1 - HOUR_US - 10_000_000
    must_emit = {p for p in unmatched if purchase_ts[p] < horizon}
    assert must_emit and must_emit <= got_nulls


def test_dedup_within_watermark_drops_replayed_file(spark, tmp_path_factory):
    """Replayed input (same parquet delivered twice) dedups back to
    the original event_id set at ingest."""
    import shutil

    from big_data_bowl_2026_analytics_spark.streaming.events import (
        dedup_within_watermark,
    )

    d = tmp_path_factory.mktemp("events_replay")
    shutil.copy(f"{SF}/events.parquet", d / "a.parquet")
    shutil.copy(f"{SF}/events.parquet", d / "b.parquet")

    stream = read_events_stream(spark, str(d))
    _drain_append(dedup_within_watermark(stream), "dedup_stream")
    got = spark.table("dedup_stream")
    n_distinct = read_table(spark, SF, "events").count()
    assert got.count() == n_distinct
    assert got.select("event_id").distinct().count() == n_distinct


def test_resize_nearest_numpy_semantics():
    import numpy as np

    from big_data_bowl_2026_analytics_spark.pipeline.multimodal import (
        resize_nearest,
    )

    img = np.arange(4 * 6 * 3, dtype=np.float64).reshape(4, 6, 3)
    # downscale: INTER_NEAREST source index = floor(dst*src/out)
    small = resize_nearest(img, 2, 3)
    assert small.shape == (2, 3, 3)
    assert np.array_equal(small[0, 0], img[0, 0])
    assert np.array_equal(small[1, 2], img[2, 4])
    # upscale duplicates pixels, never interpolates
    big = resize_nearest(img, 8, 12)
    assert big.shape == (8, 12, 3)
    assert set(np.unique(big)) <= set(np.unique(img))


def test_resize_images_end_to_end(spark):
    import numpy as np

    from big_data_bowl_2026_analytics_spark.pipeline.multimodal import (
        decode_bmp,
        resize_images,
        resize_nearest,
    )

    px = (np.arange(6 * 4 * 3, dtype=np.uint8).reshape(6, 4, 3) * 3) % 251
    bmp = _bmp_bytes(px)
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(bmp)),
            (2, "image", bytearray(b"\x89PNG fake body")),  # fake-decode path
            (3, "audio", bytearray(b"RIFF0000WAVE")),  # filtered out
        ],
        "media_id long, media_type string, blob binary",
    )
    rows = {r["media_id"]: r for r in resize_images(media, 2, 2).collect()}
    assert set(rows) == {1, 2}  # images only
    want = resize_nearest(decode_bmp(bmp).astype(np.float64), 2, 2).ravel()
    assert rows[1]["height"] == 2 and rows[1]["width"] == 2
    assert np.allclose(rows[1]["pixels"], want)
    assert len(rows[2]["pixels"]) == 2 * 2 * 1  # fake decode keeps shape


def test_activity_lease_nets_stream_equals_batch(spark, events_dir):
    """The streaming per-hour boundary nets must equal the same
    aggregation computed in batch over the identical input — the
    stream-batch contract of the q231 sweep-line's incremental half."""
    import pyspark.sql.functions as F

    from big_data_bowl_2026_analytics_spark.sources.readers import read_table
    from big_data_bowl_2026_analytics_spark.streaming.events import (
        activity_lease_nets,
        read_events_stream,
        run_available_now,
    )

    sf = "/root/testdata/sf0.001"
    stream = read_events_stream(spark, events_dir)
    run_available_now(activity_lease_nets(stream), "lease_nets_stream")
    got = {
        r.hour_start: (r.net, r.n_boundaries, r.n_starts)
        for r in spark.table("lease_nets_stream").collect()
    }
    ev = read_table(spark, sf, "events", ["ts"])
    boundaries = ev.select(
        F.col("ts").alias("bt"), F.lit(1).alias("delta")
    ).unionByName(
        ev.select(
            (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("bt"),
            F.lit(-1).alias("delta"),
        )
    )
    want = {
        r.hour_start: (r.net, r.n_boundaries, r.n_starts)
        for r in boundaries.groupBy(F.window("bt", "1 hour").alias("w"))
        .agg(
            F.sum("delta").alias("net"),
            F.count(F.lit(1)).alias("n_boundaries"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias(
                "n_starts"
            ),
        )
        .select(F.col("w.start").alias("hour_start"), "net", "n_boundaries", "n_starts")
        .collect()
    }
    assert got == want


def test_hourly_distinct_users_hll_stream_equals_batch(spark, events_dir):
    """The streaming HLL estimate must equal the batch estimate on the
    identical input set — HLL registers are an order-insensitive max,
    so stream/batch agreement is exact, not approximate."""
    import pyspark.sql.functions as F

    from big_data_bowl_2026_analytics_spark.sources.readers import read_table
    from big_data_bowl_2026_analytics_spark.streaming.events import (
        hourly_distinct_users_hll,
        read_events_stream,
        run_available_now,
    )

    sf = "/root/testdata/sf0.001"
    stream = read_events_stream(spark, events_dir)
    run_available_now(hourly_distinct_users_hll(stream), "hll_users_stream")
    got = {
        r.hour_start: (r.approx_users, r.n_events)
        for r in spark.table("hll_users_stream").collect()
    }
    ev = read_table(spark, sf, "events", ["ts", "user_id"])
    want = {
        r.hour_start: (r.approx_users, r.n_events)
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(12))
            ).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("hour_start"), "approx_users", "n_events"
        )
        .collect()
    }
    assert got == want
    # sanity: estimates are within the lgK=12 error envelope of exact
    exact = {
        r.hour_start: r.u
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.countDistinct("user_id").alias("u"))
        .select(F.col("w.start").alias("hour_start"), "u")
        .collect()
    }
    for h, (est, _) in got.items():
        assert abs(est - exact[h]) <= max(3, 0.1 * exact[h])


def test_hourly_cms_grid_stream_equals_batch(spark, events_dir):
    """The stream-drained hourly CMS grid must be cell-for-cell equal
    to the batch build on the identical input — counting is
    order-insensitive, so stream/batch agreement is exact. Estimates
    off the drained grid keep the one-sided CMS error contract."""
    import pyspark.sql.functions as F

    from big_data_bowl_2026_analytics_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_estimate,
    )
    from big_data_bowl_2026_analytics_spark.sources.readers import read_table
    from big_data_bowl_2026_analytics_spark.streaming.events import (
        cms_bucket_dyn,
        hourly_cms_grid,
        read_events_stream,
        run_available_now,
    )

    sf = "/root/testdata/sf0.001"
    stream = read_events_stream(spark, events_dir)
    run_available_now(hourly_cms_grid(stream), "cms_grid_stream")
    got = {
        (r.hour_start, r.j, r.bucket): r.cell_total
        for r in spark.table("cms_grid_stream").collect()
    }
    ev = read_table(spark, sf, "events", ["ts", "user_id"])
    batch = (
        ev.select(
            "ts",
            F.col("user_id").cast("string").alias("k"),
            F.explode(
                F.array(*[F.lit(j) for j in range(CMS_DEPTH)])
            ).alias("j"),
        )
        .select(
            "ts",
            "j",
            cms_bucket_dyn("j", F.col("k"), CMS_WIDTH, CMS_DEPTH).alias(
                "bucket"
            ),
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "j", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cell_total"))
        .select(
            F.col("w.start").alias("hour_start"), "j", "bucket", "cell_total"
        )
    )
    want = {
        (r.hour_start, r.j, r.bucket): r.cell_total for r in batch.collect()
    }
    assert got == want

    # point-query contract on one drained hour: never underestimates
    hour = min(h for (h, _, _) in got)
    grid = (
        spark.table("cms_grid_stream")
        .where(F.col("hour_start") == hour)
        .select("j", "bucket", "cell_total")
    )
    truth = (
        ev.where(F.window("ts", "1 hour").start == hour)
        .groupBy(F.col("user_id").cast("string").alias("key"))
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    est = cms_estimate(truth.select("key"), grid, "key")
    joined = {r.key: r.cms_est for r in est.collect()}
    for r in truth.collect():
        assert joined[r.key] >= r.true_n


def test_stateful_transition_increments_match_batch(
    spark, tmp_path_factory
):
    """Summed streaming transition increments equal the batch
    lead()-pair counts exactly, across a multi-batch drain with the
    per-user in-order-ingest contract honored (time-split files)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from big_data_bowl_2026_analytics_spark.streaming.stateful import (
        transition_increments,
    )

    d = tmp_path_factory.mktemp("events_transition_split")
    t = pq.read_table(f"{SF}/events.parquet")
    t = t.take(
        pc.sort_indices(
            t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
        )
    )
    third = t.num_rows // 3
    pq.write_table(t.slice(0, third), d / "a.parquet")
    pq.write_table(t.slice(third, third), d / "b.parquet")
    pq.write_table(t.slice(2 * third), d / "c.parquet")
    _stamp_ingest_order(d / "a.parquet", d / "b.parquet", d / "c.parquet")

    stream = read_events_stream(
        spark, str(d), options={"maxFilesPerTrigger": "1"}
    )
    _drain_append(transition_increments(stream), "transition_stream")
    got = (
        spark.table("transition_stream")
        .groupBy("prev_type", "next_type")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    got_counts = {(r["prev_type"], r["next_type"]): r["n"] for r in got}

    from pyspark.sql import Window

    ev = read_table(spark, SF, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        ev.select(
            F.col("event_type").alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .where(F.col("next_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .count()
        .collect()
    )
    want_counts = {
        (r["prev_type"], r["next_type"]): r["count"] for r in batch
    }
    assert got_counts == want_counts and len(want_counts) > 0


def test_slo_burn_windows_stream_equals_batch(spark, events_dir):
    """The sliding-window burn counts drained availableNow must equal
    the identical sliding-window aggregation run in batch over the
    same files — exact counts, so agreement is exact. Also pins the
    sliding semantics themselves: each event lands in exactly
    window/slide = 6 windows."""
    import pyspark.sql.functions as F

    from big_data_bowl_2026_analytics_spark.sources.readers import read_table
    from big_data_bowl_2026_analytics_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        slo_burn_windows,
    )

    sf = "/root/testdata/sf0.001"
    stream = read_events_stream(spark, events_dir)
    run_available_now(slo_burn_windows(stream), "slo_burn_stream")
    got = {
        r.window_start: (r.n_events, r.n_errors)
        for r in spark.table("slo_burn_stream").collect()
    }
    ev = read_table(spark, sf, "events", ["ts", "event_type"])
    want = {
        r.window_start: (r.n_events, r.n_errors)
        for r in ev.groupBy(F.window("ts", "6 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).cast("bigint").alias("n_errors"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "n_errors")
        .collect()
    }
    assert got == want
    # sliding multiplicity: total window-event incidences = 6x events
    assert sum(n for n, _ in got.values()) == 6 * ev.count()


def test_rolling_distinct_users_hll_stream_equals_batch(spark, events_dir):
    """The sliding-window HLL windows drained availableNow must match
    the identical batch sliding-window aggregation: window set and
    n_events EXACTLY, and the sketch estimates under the q44/q147
    error-bound-boolean contract (each side within the lgK=12 envelope
    of the exact sliding distinct, and within 5% + 3 of each other).

    Registers are an order-insensitive max, so the stream/batch
    register states agree — but CLAUDE.md footgun 10 (r7 q147) showed
    Datasketches picks its ESTIMATOR from merge history (standalone →
    HIP; any union → composite), and the micro-batch state-store
    union tree differs from batch partial-aggregation merges. Exact
    estimate equality across merge trees is never a valid invariant,
    so this test pins the error-bound contract instead."""
    import pyspark.sql.functions as F

    from big_data_bowl_2026_analytics_spark.sources.readers import read_table
    from big_data_bowl_2026_analytics_spark.streaming.events import (
        read_events_stream,
        rolling_distinct_users_hll,
        run_available_now,
    )

    sf = "/root/testdata/sf0.001"
    stream = read_events_stream(spark, events_dir)
    run_available_now(
        rolling_distinct_users_hll(stream), "rolling_hll_stream"
    )
    got = {
        r.win_start: (r.approx_users, r.n_events)
        for r in spark.table("rolling_hll_stream").collect()
    }
    ev = read_table(spark, sf, "events", ["ts", "user_id"])
    agg = ev.groupBy(F.window("ts", "7 days", "1 day").alias("w")).agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(12))
        ).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    rows = agg.select(
        F.col("w.start").alias("win_start"),
        "approx_users",
        "n_events",
        "exact_users",
    ).collect()
    want = {r.win_start: (r.approx_users, r.n_events) for r in rows}
    assert set(got) == set(want)
    for k, (approx_b, n_b) in want.items():
        approx_s, n_s = got[k]
        assert n_s == n_b  # exact count: stream == batch
        # sketch estimates: error-bound booleans, never exact equality
        assert abs(approx_s - approx_b) <= max(3, 0.05 * approx_b)
    for r in rows:
        assert abs(r.approx_users - r.exact_users) <= max(
            3, 0.1 * r.exact_users
        )


def test_stateful_value_records_match_batch_prefix_max(
    spark, tmp_path_factory
):
    """The drained streaming record events equal the batch prefix-max
    window flags EXACTLY (full rows, record_idx included) — integer
    cents comparisons, multi-batch drain, per-user in-order-ingest
    contract honored via time-split files."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from big_data_bowl_2026_analytics_spark.streaming.stateful import (
        running_value_records,
    )

    d = tmp_path_factory.mktemp("events_records_split")
    t = pq.read_table(f"{SF}/events.parquet")
    t = t.take(
        pc.sort_indices(
            t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
        )
    )
    third = t.num_rows // 3
    pq.write_table(t.slice(0, third), d / "a.parquet")
    pq.write_table(t.slice(third, third), d / "b.parquet")
    pq.write_table(t.slice(2 * third), d / "c.parquet")
    _stamp_ingest_order(d / "a.parquet", d / "b.parquet", d / "c.parquet")

    stream = read_events_stream(
        spark, str(d), options={"maxFilesPerTrigger": "1"}
    )
    _drain_append(running_value_records(stream), "value_records_stream")
    got = {
        (r.user_id, r.event_id): (r.cents, r.record_idx)
        for r in spark.table("value_records_stream").collect()
    }

    from pyspark.sql import Window

    ev = read_table(spark, SF, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.round(F.col("value") * 100).cast("bigint")
    flagged = (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            cents.alias("cents"),
            F.max(cents).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ).alias("prevmax"),
        )
        .withColumn(
            "is_record",
            F.col("prevmax").isNull() | (F.col("cents") > F.col("prevmax")),
        )
        .withColumn(
            "record_idx",
            F.sum(F.col("is_record").cast("bigint")).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .where("is_record")
    )
    want = {
        (r.user_id, r.event_id): (r.cents, r.record_idx)
        for r in flagged.collect()
    }
    assert got == want and len(want) > 0


def test_stream_merge_restart_exactly_once(spark, tmp_path_factory, tmp_path):
    """The checkpoint makes the merge sink EXACTLY-ONCE across
    restarts: drain part A, then add part B and re-drain with the
    SAME checkpoint (A's files must not replay), then re-drain with
    nothing new (a no-op restart must not change the snapshot). Each
    stage's snapshot equals the batch max_by over exactly the files
    ingested so far."""
    import pyarrow.parquet as pq

    from big_data_bowl_2026_analytics_spark.streaming.events import (
        read_events_stream,
        read_snapshot,
        stream_merge_into_parquet,
    )

    src = tmp_path_factory.mktemp("events_restart")
    t = pq.read_table(f"{SF}/events.parquet")
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), src / "a.parquet")

    snap, ckpt = str(tmp_path / "snap"), str(tmp_path / "ckpt")

    def drain():
        q = stream_merge_into_parquet(
            read_events_stream(spark, str(src)), snap, ckpt
        )
        q.awaitTermination()
        return {
            (r.user_id, r.ts, r.event_type, r.value)
            for r in read_snapshot(spark, snap).collect()
        }

    def batch_expected(n_rows):
        ev = (
            spark.createDataFrame(t.slice(0, n_rows).to_pandas())
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        return {
            tuple(r)
            for r in ev.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("ts", "event_type", "value"),
                    F.struct("ts", "event_id"),
                ).alias("_r")
            )
            .select("user_id", "_r.ts", "_r.event_type", "_r.value")
            .collect()
        }

    got_a = drain()
    assert got_a == batch_expected(half) and len(got_a) > 0

    pq.write_table(t.slice(half), src / "b.parquet")
    got_ab = drain()
    assert got_ab == batch_expected(t.num_rows)

    # no-op restart: nothing new to ingest, snapshot must not change
    got_noop = drain()
    assert got_noop == got_ab


def test_half_up_cents_matches_spark_round_on_dyadic_boundaries(spark):
    """The streaming quantizer uses HALF-UP (Spark F.round's rule), not
    pandas' half-to-even: dyadic values whose *100 product is an exact
    .5 must round away from zero on both paths (ADVICE r9)."""
    import numpy as np

    from big_data_bowl_2026_analytics_spark.streaming.stateful import (
        half_up_cents,
    )

    vals = [0.125, 0.375, -0.125, -0.375, 1.005, 2.675, 0.0, 10.51, -10.51]
    got = half_up_cents(np.array(vals, dtype="float64"))
    spark_cents = (
        spark.createDataFrame([(v,) for v in vals], "value double")
        .selectExpr("cast(round(value * 100, 0) as bigint) as cents")
        .toPandas()["cents"]
        .to_numpy()
    )
    assert list(got) == list(spark_cents)
    # the boundary pandas half-to-even would flip:
    assert got[0] == 13 and got[2] == -13


def test_stateful_lateness_audit_matches_batch(spark, tmp_path_factory):
    """Final drained lateness snapshots equal q159's batch integer
    statistics EXACTLY (n, n_late, sum_late_us, max_late_us per
    event_type) across a multi-batch drain. Arrival order is
    event_id (the ingest sequence), so the in-order-ingest contract
    is honored by EVENT_ID-split files — not ts-split like the other
    stateful drains."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from big_data_bowl_2026_analytics_spark.streaming.stateful import (
        lateness_audit_snapshots,
    )

    d = tmp_path_factory.mktemp("events_lateness_split")
    t = pq.read_table(f"{SF}/events.parquet")
    t = t.take(pc.sort_indices(t, sort_keys=[("event_id", "ascending")]))
    third = t.num_rows // 3
    pq.write_table(t.slice(0, third), d / "a.parquet")
    pq.write_table(t.slice(third, third), d / "b.parquet")
    pq.write_table(t.slice(2 * third), d / "c.parquet")
    _stamp_ingest_order(d / "a.parquet", d / "b.parquet", d / "c.parquet")

    stream = read_events_stream(
        spark, str(d), options={"maxFilesPerTrigger": "1"}
    )
    q = (
        lateness_audit_snapshots(stream)
        .writeStream.format("memory")
        .queryName("lateness_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("lateness_stream").collect()
    # n is monotone per key: the max-n row is the final snapshot.
    got: dict[str, tuple] = {}
    seen: dict[str, int] = {}
    for r in rows:
        seen[r.event_type] = seen.get(r.event_type, 0) + 1
        if r.event_type not in got or r.n > got[r.event_type][0]:
            got[r.event_type] = (r.n, r.n_late, r.sum_late_us, r.max_late_us)
    # every type appears in all 3 micro-batches on this data -> the
    # drain was genuinely multi-batch, not one collapsed trigger
    assert seen and min(seen.values()) >= 2

    from pyspark.sql import Window

    ev = read_table(spark, SF, "events", ["event_type", "event_id", "ts"])
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = ev.select(
        "event_type",
        (
            F.max(F.unix_micros("ts")).over(w) - F.unix_micros("ts")
        ).alias("late_us"),
    )
    want = {
        r.event_type: (r.n, r.n_late, r.sum_late_us, r.max_late_us)
        for r in late.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("late_us") > 0).alias("n_late"),
            F.sum("late_us").alias("sum_late_us"),
            F.max("late_us").alias("max_late_us"),
        )
        .collect()
    }
    assert got == want and len(want) > 0


def test_stateful_heavy_hitter_summaries_bounds(spark, tmp_path_factory):
    """Misra-Gries drained summaries obey the merge-theorem bounds
    against exact batch counts — est <= true <= est + D for present
    keys, true <= D for absent keys, (k+1)*D <= n_seen - S — and the
    k >= |users| configuration is EXACT. No in-order-ingest contract:
    the guarantees are order-free (counting is commutative), so the
    file split here is arbitrary."""
    import pyarrow.parquet as pq

    from big_data_bowl_2026_analytics_spark.streaming.stateful import (
        heavy_hitter_summaries,
    )

    d = tmp_path_factory.mktemp("events_mg_split")
    t = pq.read_table(f"{SF}/events.parquet")
    third = t.num_rows // 3
    pq.write_table(t.slice(0, third), d / "a.parquet")
    pq.write_table(t.slice(third, third), d / "b.parquet")
    pq.write_table(t.slice(2 * third), d / "c.parquet")
    _stamp_ingest_order(d / "a.parquet", d / "b.parquet", d / "c.parquet")

    ev = read_table(spark, SF, "events", ["event_type", "user_id"])
    true_counts = {
        (r.event_type, r.user_id): r.c
        for r in ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    n_per_type: dict[str, int] = {}
    for (et, _), c in true_counts.items():
        n_per_type[et] = n_per_type.get(et, 0) + c

    for k, must_be_exact in [(16, True), (4, False)]:
        stream = read_events_stream(
            spark, str(d), options={"maxFilesPerTrigger": "1"}
        )
        name = f"mg_stream_k{k}"
        q = (
            heavy_hitter_summaries(stream, k=k)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.table(name).collect()
        # final snapshot per type = the max-n_seen batch's rows
        final_n: dict[str, int] = {}
        for r in rows:
            final_n[r.event_type] = max(
                final_n.get(r.event_type, 0), r.n_seen
            )
        summaries: dict[str, dict[int, int]] = {}
        decs: dict[str, int] = {}
        for r in rows:
            if r.n_seen == final_n[r.event_type]:
                summaries.setdefault(r.event_type, {})[r.user_id] = (
                    r.est_count
                )
                decs[r.event_type] = r.n_decremented
        assert set(summaries) == set(n_per_type)
        for et, summ in summaries.items():
            dec = decs[et]
            assert len(summ) <= k
            assert final_n[et] == n_per_type[et]
            # merge-theorem mass bound
            assert (k + 1) * dec <= n_per_type[et] - sum(summ.values())
            for uid, est in summ.items():
                true = true_counts[(et, uid)]
                assert est <= true <= est + dec
            for (et2, uid), true in true_counts.items():
                if et2 == et and uid not in summ:
                    assert true <= dec
            if must_be_exact:
                assert dec == 0 and all(
                    summ[uid] == true_counts[(et, uid)] for uid in summ
                ) and len(summ) == sum(1 for (e, _) in true_counts if e == et)
            else:
                assert dec > 0  # the approximate path actually fired


def test_hourly_value_histogram_stream_equals_batch(spark, events_dir):
    """The drained value histogram equals the batch build cell-for-cell
    (counting is order-insensitive), and a quantile read off it
    satisfies the rank/value contract: the true rank-ceil(q*n) item
    lies inside the reported bucket."""
    import math

    from big_data_bowl_2026_analytics_spark.streaming.events import (
        histogram_quantile,
        hourly_value_histogram,
        read_events_stream,
        run_available_now,
    )

    sf = "/root/testdata/sf0.001"
    stream = read_events_stream(spark, events_dir)
    run_available_now(hourly_value_histogram(stream), "value_hist_stream")
    got = {
        (r.hour_start, r.bucket_lo): r.n
        for r in spark.table("value_hist_stream").collect()
    }
    ev = read_table(spark, sf, "events", ["ts", "value"])
    cents = F.round(F.col("value") * 100).cast("bigint")
    batch = (
        ev.select(
            "ts", (cents - (cents % 100)).alias("bucket_lo")
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "bucket_lo")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.col("w.start").alias("hour_start"), "bucket_lo", "n")
    )
    want = {
        (r.hour_start, r.bucket_lo): r.n for r in batch.collect()
    }
    assert got == want and len(want) > 0

    # quantile contract per window, against the exact cents values
    q = 0.9
    est = {
        r.hour_start: (r.est_lo_cents, r.total)
        for r in histogram_quantile(
            spark.table("value_hist_stream"), q
        ).collect()
    }
    exact = {}
    for r in ev.select(
        F.window("ts", "1 hour").start.alias("h"), cents.alias("c")
    ).collect():
        exact.setdefault(r.h, []).append(r.c)
    assert set(est) == set(exact)
    for h, (lo, total) in est.items():
        vals = sorted(exact[h])
        assert total == len(vals)
        true_q = vals[math.ceil(q * len(vals)) - 1]
        assert lo <= true_q < lo + 100


def test_stateful_page_hinkley_matches_batch(spark, tmp_path_factory):
    """Final drained PH snapshots equal a batch recomputation at the
    SAME configured reference mean EXACTLY (n, max excursion, alarm
    flag, first-alarm index per event_type) across a multi-batch
    drain — pure integer-lattice state, per-type (ts, event_id)
    in-order-ingest via time-split files."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from big_data_bowl_2026_analytics_spark.streaming.stateful import (
        page_hinkley_alarms,
    )

    ref, delta, lam = 5000, 50, 200_000

    d = tmp_path_factory.mktemp("events_ph_split")
    t = pq.read_table(f"{SF}/events.parquet")
    t = t.take(
        pc.sort_indices(
            t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
        )
    )
    third = t.num_rows // 3
    pq.write_table(t.slice(0, third), d / "a.parquet")
    pq.write_table(t.slice(third, third), d / "b.parquet")
    pq.write_table(t.slice(2 * third), d / "c.parquet")
    _stamp_ingest_order(d / "a.parquet", d / "b.parquet", d / "c.parquet")

    stream = read_events_stream(
        spark, str(d), options={"maxFilesPerTrigger": "1"}
    )
    q = (
        page_hinkley_alarms(stream, ref, delta, lam)
        .writeStream.format("memory")
        .queryName("ph_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("ph_stream").collect()
    got: dict[str, tuple] = {}
    seen: dict[str, int] = {}
    for r in rows:
        seen[r.event_type] = seen.get(r.event_type, 0) + 1
        if r.event_type not in got or r.n > got[r.event_type][0]:
            got[r.event_type] = (
                r.n,
                r.max_ph_cents,
                r.alarmed,
                r.first_alarm_n,
            )
    assert seen and min(seen.values()) >= 2  # genuinely multi-batch

    from pyspark.sql import Window

    ev = read_table(spark, SF, "events", ["event_type", "ts", "event_id", "value"])
    cents = F.round(F.col("value") * 100).cast("bigint")
    order = Window.partitionBy("event_type").orderBy("ts", "event_id")
    prefix = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    walk = ev.select(
        "event_type",
        F.row_number().over(order).alias("rn"),
        F.sum(cents - F.lit(ref) - F.lit(delta)).over(prefix).alias("m"),
    )
    ph = walk.select(
        "event_type",
        "rn",
        (F.col("m") - F.min("m").over(prefix.orderBy("rn"))).alias("x"),
    )
    want = {
        r.event_type: (r.n, r.mx, r.alarmed, r.first or 0)
        for r in ph.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("x").alias("mx"),
            (F.max("x") > lam).cast("long").alias("alarmed"),
            F.min(F.when(F.col("x") > lam, F.col("rn"))).alias("first"),
        )
        .collect()
    }
    assert got == want


def test_stateful_sprt_matches_batch(spark, tmp_path_factory):
    """Final drained SPRT snapshots equal q402's batch scan at the
    same ppm constants EXACTLY (n, conversions, final LLR, decision
    point per arm) across a multi-batch drain — O(1) integer state
    (rows, successes, frozen crossing), per-arm (ts, event_id)
    in-order-ingest via time-split files."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from big_data_bowl_2026_analytics_spark.plans.queries.timeseries import (
        _SPRT_BOUND,
        _SPRT_C0,
        _SPRT_C1,
    )
    from big_data_bowl_2026_analytics_spark.plans.queries.splits import (
        _hash16,
    )
    from big_data_bowl_2026_analytics_spark.streaming.stateful import (
        sprt_decision_stream,
    )

    d = tmp_path_factory.mktemp("events_sprt_split")
    t = pq.read_table(f"{SF}/events.parquet")
    t = t.take(
        pc.sort_indices(
            t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
        )
    )
    third = t.num_rows // 3
    pq.write_table(t.slice(0, third), d / "a.parquet")
    pq.write_table(t.slice(third, third), d / "b.parquet")
    pq.write_table(t.slice(2 * third), d / "c.parquet")
    _stamp_ingest_order(d / "a.parquet", d / "b.parquet", d / "c.parquet")

    stream = read_events_stream(
        spark, str(d), options={"maxFilesPerTrigger": "1"}
    ).withColumn(
        "arm",
        F.when(_hash16("sprtarm", F.col("user_id")) < 32768, "A").otherwise(
            "B"
        ),
    )
    q = (
        sprt_decision_stream(stream, _SPRT_C0, _SPRT_C1, _SPRT_BOUND)
        .writeStream.format("memory")
        .queryName("sprt_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("sprt_stream").collect()
    got: dict[str, tuple] = {}
    seen: dict[str, int] = {}
    for r in rows:
        seen[r.arm] = seen.get(r.arm, 0) + 1
        if r.arm not in got or r.n_total > got[r.arm][0]:
            got[r.arm] = (
                r.n_total,
                r.n_conversions,
                r.llr_ppm,
                r.n_at_decision,
                r.decision,
            )
    assert seen and min(seen.values()) >= 2  # genuinely multi-batch

    # batch twin: q402's registry query at the same constants
    batch = {
        r.arm: (
            r.n_total,
            r.n_conversions,
            r.llr_final_ppm,
            r.n_at_decision or 0,
            r.decision,
        )
        for r in all_queries()["q402_sprt_sequential_ab"]
        .builder(spark, SF)
        .collect()
    }
    assert got == batch


def test_stateful_weighted_reservoir_split_invariant(
    spark, tmp_path_factory
):
    """The drained A-Res reservoir equals a pure-Python reference of
    the same scheme (identical code path: half_up_cents + md5-16bit +
    math.log), and two DIFFERENT file splits drain to the identical
    reservoir — the mergeability claim: top-k of a priority order is
    merge-closed, so there is NO in-order-ingest contract at all."""
    import hashlib
    import math

    import pyarrow.parquet as pq

    from big_data_bowl_2026_analytics_spark.streaming.stateful import (
        half_up_cents,
        weighted_reservoir_snapshots,
    )

    k = 5
    t = pq.read_table(f"{SF}/events.parquet")
    ids = t.column("event_id").to_numpy()
    types = t.column("event_type").to_pylist()
    cents = half_up_cents(
        t.column("value").to_numpy().astype("float64")
    )
    want: dict[str, list] = {}
    n_want: dict[str, int] = {}
    for et, eid, w in zip(types, ids, cents):
        n_want[et] = n_want.get(et, 0) + 1
        if w <= 0:
            continue
        u = (
            int(
                hashlib.md5(f"ares|{int(eid)}".encode()).hexdigest()[:4],
                16,
            )
            + 1
        ) / 65537.0
        want.setdefault(et, []).append(
            (int(eid), int(w), math.log(u) / int(w))
        )
    for et in want:
        want[et].sort(key=lambda it: (-it[2], it[0]))
        want[et] = want[et][:k]

    def drain(split_points, name):
        d = tmp_path_factory.mktemp(name)
        paths = []
        lo = 0
        for i, hi in enumerate([*split_points, t.num_rows]):
            p = d / f"{chr(97 + i)}.parquet"
            pq.write_table(t.slice(lo, hi - lo), p)
            paths.append(p)
            lo = hi
        _stamp_ingest_order(*paths)
        stream = read_events_stream(
            spark, str(d), options={"maxFilesPerTrigger": "1"}
        )
        q = (
            weighted_reservoir_snapshots(stream, k=k)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.table(name).collect()
        final_n = {}
        for r in rows:
            final_n[r.event_type] = max(
                final_n.get(r.event_type, 0), r.n_seen
            )
        got = {}
        for r in rows:
            if r.n_seen == final_n[r.event_type]:
                got.setdefault(r.event_type, {})[r.rank] = (
                    r.event_id,
                    r.weight,
                    r.res_key,
                )
        return final_n, got

    third = t.num_rows // 3
    n_a, got_a = drain([third, 2 * third], "ares_split_a")
    n_b, got_b = drain([t.num_rows // 7, t.num_rows // 2], "ares_split_b")

    assert n_a == n_want and n_b == n_want
    assert got_a == got_b  # split-invariance: mergeable summary
    assert set(got_a) == set(want)
    for et, expect in want.items():
        slots = got_a[et]
        assert len(slots) == len(expect)
        for rank, (eid, w, key) in enumerate(expect, start=1):
            g_eid, g_w, g_key = slots[rank]
            assert (g_eid, g_w) == (eid, w)
            assert g_key == key  # same Python code path: exact


def test_hourly_minhash_signatures_stream_equals_batch(spark, events_dir):
    """The drained window signatures are bit-equal to a batch build
    (MIN is order/partition/micro-batch invariant), and the pairwise
    agreement estimator tracks exact hour-pair user-set Jaccard on
    the fixed corpus (measured 0.018 mean abs err at 16 hashes;
    pinned at 2x slack — deterministic: the hashes and data are
    fixed)."""
    from big_data_bowl_2026_analytics_spark.streaming.events import (
        hourly_minhash_signatures,
        read_events_stream,
        run_available_now,
        signature_agreement,
    )

    n_h = 16
    stream = read_events_stream(spark, events_dir)
    run_available_now(
        hourly_minhash_signatures(stream, n_hashes=n_h), "minhash_stream"
    )
    drained = spark.table("minhash_stream")

    ev = read_table(spark, SF, "events", ["ts", "user_id"])
    aggs = [
        F.min(
            F.md5(F.concat(F.lit(f"{s}|"), F.col("user_id").cast("string")))
        ).alias(f"h{s}")
        for s in range(n_h)
    ]
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(*aggs, F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            F.col("w.start").alias("hour_start"),
            *[f"h{s}" for s in range(n_h)],
            "n_events",
        )
    )
    key = lambda r: r.hour_start
    got = {key(r): tuple(r)[1:] for r in drained.collect()}
    want = {key(r): tuple(r)[1:] for r in batch.collect()}
    assert got == want  # bit-equal signatures + counts

    # width mismatches must fail loudly, not silently rescale; the
    # default derives the width from the frame's own h{i} columns
    with pytest.raises(ValueError, match="n_hashes=8"):
        signature_agreement(drained, n_hashes=8)
    est = {
        (r.wa, r.wb): r.jaccard_est
        for r in signature_agreement(drained, n_hashes=n_h).collect()
    }
    sets: dict = {}
    for r in (
        ev.select(F.date_trunc("hour", "ts").alias("h"), "user_id")
        .distinct()
        .collect()
    ):
        sets.setdefault(r.h, set()).add(r.user_id)
    # signature_agreement keys pairs by window START; exact sets key
    # by the same truncated hour
    errs = []
    for (wa, wb), e in est.items():
        a, b = sets[wa], sets[wb]
        j = len(a & b) / len(a | b)
        errs.append(abs(e - j))
    assert len(errs) > 1000
    assert sum(errs) / len(errs) < 0.04  # 2x the measured 0.018


def test_kmv_window_summaries_stream_equals_reference(
    spark, tmp_path_factory
):
    """The drained KMV sketches equal a same-code-path pure-Python
    reference per hour (k-min of a hash set is merge-closed — no
    ingest contract), two different splits drain identically, and at
    k=8 (below the corpus' 15 distinct users) the estimator path
    fires and still matches the reference."""
    import pyarrow.parquet as pq

    from big_data_bowl_2026_analytics_spark.streaming.stateful import (
        _kmv_hash,
        kmv_window_summaries,
    )

    t = pq.read_table(f"{SF}/events.parquet")
    ev = read_table(spark, SF, "events", ["ts", "user_id"])
    hour_users: dict = {}
    for r in (
        ev.select(F.date_trunc("hour", "ts").alias("h"), "user_id")
        .distinct()
        .collect()
    ):
        hour_users.setdefault(r.h, set()).add(r.user_id)
    n_rows = {
        r.h: r.n
        for r in ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    def want_for(k):
        out = {}
        for h, users in hour_users.items():
            merged = sorted({_kmv_hash(u) for u in users})[:k]
            kth = merged[-1]
            est = (
                (k - 1) / (kth / float(1 << 60))
                if len(merged) == k and kth > 0
                else float(len(merged))
            )
            out[h] = (n_rows[h], len(merged), kth, est, merged)
        return out

    def drain(split_points, name, k):
        d = tmp_path_factory.mktemp(name)
        paths, lo = [], 0
        for i, hi in enumerate([*split_points, t.num_rows]):
            p = d / f"{chr(97 + i)}.parquet"
            pq.write_table(t.slice(lo, hi - lo), p)
            paths.append(p)
            lo = hi
        _stamp_ingest_order(*paths)
        stream = read_events_stream(
            spark, str(d), options={"maxFilesPerTrigger": "1"}
        )
        q = (
            kmv_window_summaries(stream, k=k)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.table(name).collect()
        final_n = {}
        for r in rows:
            final_n[r.hour_start] = max(
                final_n.get(r.hour_start, 0), r.n_seen
            )
        return {
            r.hour_start: (
                r.n_seen,
                r.n_kept,
                r.kth_hash,
                r.distinct_est,
                list(r.hashes),
            )
            for r in rows
            if r.n_seen == final_n[r.hour_start]
        }

    third = t.num_rows // 3
    for k in (64, 8):
        got_a = drain([third, 2 * third], f"kmv_a_k{k}", k)
        got_b = drain(
            [t.num_rows // 7, t.num_rows // 2], f"kmv_b_k{k}", k
        )
        assert got_a == got_b  # split invariance: mergeable summary
        assert got_a == want_for(k)
    # at k=8 at least one window must have exercised the full-sketch
    # estimator path (n_kept == k) on this corpus
    assert any(v[1] == 8 for v in want_for(8).values()) or max(
        len(u) for u in hour_users.values()
    ) < 8


def test_hourly_ams_sketch_stream_equals_batch(spark, events_dir):
    """The drained AMS grid is bit-equal to a batch build (a ±1 SUM
    is order/partition/micro-batch invariant, exact BIGINT), and the
    F2 / join-size readouts track the exact per-window frequency
    moments on the fixed corpus (measured 0.099 mean relative F2
    error and 0.34 mean absolute consecutive-pair inner-product
    error at 16 rows; pinned at ~2x — deterministic: hashes and data
    are fixed)."""
    from collections import Counter, defaultdict

    from big_data_bowl_2026_analytics_spark.streaming.events import (
        _ams_sign_dyn,
        ams_inner_products,
        ams_moments,
        hourly_ams_sketch,
        read_events_stream,
        run_available_now,
    )

    n_rows = 16
    stream = read_events_stream(spark, events_dir)
    run_available_now(
        hourly_ams_sketch(stream, n_rows=n_rows), "ams_stream"
    )
    drained = spark.table("ams_stream")

    ev = read_table(spark, SF, "events", ["ts", "user_id"])
    rows = ev.select(
        "ts",
        F.col("user_id").alias("k"),
        F.explode(F.array(*[F.lit(j) for j in range(n_rows)])).alias("j"),
    )
    batch = (
        rows.select(
            "ts", "j", _ams_sign_dyn("j", F.col("k"), n_rows).alias("sgn")
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "j")
        .agg(F.sum("sgn").cast("bigint").alias("s"))
        .select(F.col("w.start").alias("hour_start"), "j", "s")
    )
    got = {(r.hour_start, r.j): r.s for r in drained.collect()}
    want = {(r.hour_start, r.j): r.s for r in batch.collect()}
    assert got == want  # bit-equal grid

    freq: dict = defaultdict(Counter)
    for r in ev.select(
        F.date_trunc("hour", "ts").alias("h"), "user_id"
    ).collect():
        freq[r.h][r.user_id] += 1

    f2 = {
        r.hour_start: r.f2_est
        for r in ams_moments(drained).collect()
    }
    assert set(f2) == set(freq)
    rel = [
        abs(est - sum(c * c for c in freq[h].values()))
        / sum(c * c for c in freq[h].values())
        for h, est in f2.items()
    ]
    assert sum(rel) / len(rel) < 0.2  # 2x the measured 0.099

    ip = {
        (r.wa, r.wb): r.join_size_est
        for r in ams_inner_products(drained).collect()
    }
    hours = sorted(freq)
    errs = []
    for a, b in zip(hours, hours[1:]):
        key = (a, b) if (a, b) in ip else (b, a)
        true = sum(freq[a][u] * freq[b][u] for u in freq[a])
        errs.append(abs(ip[key] - true))
    assert len(errs) > 300
    assert sum(errs) / len(errs) < 0.7  # 2x the measured 0.34
