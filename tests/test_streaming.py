"""Streaming correctness = batch/stream agreement (SURVEY §5.2(5)):
the same window expressions must produce identical results when the events
table is replayed as a file stream.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

import pytest

from ksql_spark.registry import all_specs
from ksql_spark.streaming import jobs

from .conftest import SF_SMALL

SPECS = all_specs()


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """Replay dir: the sf0.001 events parquet copied in as two 'arriving' files
    (same file twice exercises multi-batch + dedup paths)."""
    d = tmp_path_factory.mktemp("events_stream")
    src = Path(SF_SMALL) / "events.parquet"
    shutil.copy(src, d / "part-000.parquet")
    shutil.copy(src, d / "part-001.parquet")
    return str(d)


def rows_set(rows, cols):
    return {tuple(r[c] for c in cols) for r in rows}


def test_tumbling_stream_matches_batch(spark, events_dir):
    stream = jobs.events_stream(spark, events_dir, max_files_per_trigger=1)
    jobs.run_available_now(jobs.tumbling_counts(stream), "t_tumble", "complete")
    got = spark.table("t_tumble").collect()
    batch = SPECS["stream_tumbling_window"].builder(spark, SF_SMALL).collect()
    # stream saw the file twice → every count doubles
    want = {(r["win_start"], r["win_end"], 2 * r["n_events"]) for r in batch}
    assert rows_set(got, ["win_start", "win_end", "n_events"]) == want


def test_streaming_dedup(spark, events_dir):
    stream = jobs.events_stream(spark, events_dir, max_files_per_trigger=2)
    jobs.run_available_now(jobs.dedup_stream(stream), "t_dedup", "append")
    n = spark.table("t_dedup").count()
    import pyspark.sql.functions as F

    distinct_ids = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("event_id")
        .distinct()
        .count()
    )
    assert n == distinct_ids  # duplicates from the second file dropped


def test_session_stream_matches_batch(spark, events_dir):
    stream = jobs.events_stream(spark, events_dir, max_files_per_trigger=2)
    jobs.run_available_now(jobs.session_counts(stream), "t_sess", "complete")
    got = spark.table("t_sess").collect()
    batch = SPECS["stream_session_window"].builder(spark, SF_SMALL).collect()
    cols = ["user_id", "session_start", "session_end", "n_events"]
    want = {
        (r["user_id"], r["session_start"], r["session_end"], 2 * r["n_events"])
        for r in batch
    }
    assert rows_set(got, cols) == want


def test_sliding_stream_matches_batch(spark, events_dir):
    from pyspark.sql import functions as F

    stream = jobs.events_stream(spark, events_dir, max_files_per_trigger=2)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("window.start").alias("win_start"), "n_events")
    )
    jobs.run_available_now(agg, "t_slide", "complete")
    got = spark.table("t_slide").collect()
    batch = SPECS["stream_sliding_window"].builder(spark, SF_SMALL).collect()
    want = {(r["win_start"], 2 * r["n_events"]) for r in batch}
    assert rows_set(got, ["win_start", "n_events"]) == want


def test_multimodal_resize_and_frames(spark):
    from ksql_spark.operators import multimodal

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(20)
    d = multimodal.attach_payload(docs, "text")
    resized = multimodal.resize_images(d, 32, 32).collect()
    assert len(resized) == 20 and all(r.width == 32 for r in resized)
    frames = multimodal.sample_frames(d, n_frames=3).collect()
    assert len(frames) == 60
    assert {r.frame_idx for r in frames} == {0, 1, 2}
    # determinism: same payload + index → same sha
    again = multimodal.sample_frames(d, n_frames=3).collect()
    assert sorted(map(tuple, frames)) == sorted(map(tuple, again))


def test_stateful_running_totals(spark, events_dir):
    stream = jobs.events_stream(spark, events_dir, max_files_per_trigger=2)
    jobs.run_available_now(jobs.running_user_totals(stream), "t_state", "update")
    got = {r["user_id"]: r["n_events"] for r in spark.table("t_state").collect()}
    import pyspark.sql.functions as F

    batch = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    # stream ingested the file twice
    assert got == {r["user_id"]: 2 * r["n"] for r in batch}


def test_stateful_ewma_matches_batch_fold(spark, tmp_path):
    """Cross-batch FLOAT state: the streaming EWMA (applyInPandasWithState,
    two time-split micro-batches) must finish with EXACTLY the batch entry's
    final fold per user — bitwise, because both fold the identical value
    sequence under IEEE-754 doubles."""
    import pyspark.sql.functions as F

    src = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    ts_type = dict(src.dtypes).get("ts")
    if ts_type == "bigint":
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cutoff = src.agg(F.median(us).alias("m")).collect()[0]["m"]
    d = tmp_path / "ewma_stream"
    d.mkdir()
    # two files split at the median ts, written early-first so the file
    # source admits them in event-time order (one micro-batch each)
    src.where(us <= F.lit(cutoff)).coalesce(1).write.parquet(str(d / "f1"))
    import shutil
    import time as _time

    src.where(us > F.lit(cutoff)).coalesce(1).write.parquet(str(d / "f2"))
    # flatten: the file source streams a directory of parquet FILES
    replay = tmp_path / "ewma_replay"
    replay.mkdir()
    for i, sub in enumerate(["f1", "f2"]):
        [pf] = [p for p in (d / sub).glob("*.parquet")]
        shutil.copy(pf, replay / f"part-{i:03d}.parquet")
        _time.sleep(1.1)

    stream = jobs.events_stream(spark, str(replay), max_files_per_trigger=1)
    jobs.run_available_now(jobs.running_user_ewma(stream), "t_ewma", "update")
    got = {}
    for r in spark.table("t_ewma").collect():
        # update mode emits one row per key per batch: keep the latest (max n)
        if r["user_id"] not in got or r["n"] > got[r["user_id"]][1]:
            got[r["user_id"]] = (r["decay_sum"], r["n"])

    batch = SPECS["events_ewma_smooth"].builder(spark, SF_SMALL)
    # final fold per user = the decay_sum of the user's LAST event in
    # (ts, event_id) order; recover it via the batch entry joined to events
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    last = (
        ev.groupBy("user_id")
        .agg(F.max_by("event_id", F.struct("ts", "event_id")).alias("last_ev"))
    )
    want = {
        r["user_id"]: r["decay_sum"]
        for r in batch.join(
            last,
            (batch["user_id"] == last["user_id"])
            & (batch["event_id"] == last["last_ev"]),
        ).select(batch["user_id"], "decay_sum").collect()
    }
    assert set(got) == set(want)
    for uid, expect in want.items():
        assert got[uid][0] == expect, (uid, got[uid][0], expect)  # bitwise
    spark.sql("DROP TABLE IF EXISTS t_ewma")


def test_watermark_drops_late_rows(spark, tmp_path):
    """I5: real late-data semantics. Batch 1 advances the watermark far past
    batch 2's old events; the late rows must NOT appear in append-mode output."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "late_events"
    d.mkdir()

    def write(name, ts_list):
        pdf = pd.DataFrame(
            {
                "event_id": range(len(ts_list)),
                "ts": pd.to_datetime(ts_list).astype("datetime64[ns]"),
                "user_id": [1] * len(ts_list),
                "event_type": ["view"] * len(ts_list),
                "value": [1.0] * len(ts_list),
                "props": ["{}"] * len(ts_list),
            }
        )
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), d / name)

    import time as _time

    # batch 1: events through 12:00 → watermark will advance to 11:50
    write("b1.parquet", ["2024-01-01 10:00:00", "2024-01-01 12:00:00"])
    _time.sleep(1.1)  # file-source admission orders by mod time
    # batch 2: fresh event; watermark (11:50) now governs subsequent batches
    write("b2.parquet", ["2024-01-01 12:05:00"])
    _time.sleep(1.1)
    # batch 3: one LATE event at 10:05 — far behind the watermark → dropped
    write("b3.parquet", ["2024-01-01 10:05:00", "2024-01-01 12:30:00"])

    stream = jobs.events_stream(spark, str(d), max_files_per_trigger=1)
    agg = jobs.tumbling_counts(stream, width="10 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emissions = [
        r["n_events"] for r in spark.table("t_late").collect()
        if r["win_start"].strftime("%H:%M") == "10:00"
    ]
    # the 10:00 window closed exactly once, with ONLY the on-time event —
    # the late 10:05 arrival was neither merged nor re-emitted
    assert emissions == [1], emissions


def test_snapshot_refresh_ticks(spark, tmp_path):
    """A tick swaps in a new snapshot: after the fixture changes, the pods
    view follows within a few ticks (the views are a private copy, so only
    this query's ticks can produce 5 pods)."""
    from ksql_spark.sources.fixtures import ensure_fixtures
    from ksql_spark.sources.k8s import register_k8s_views

    ensure_fixtures(tmp_path)
    q = jobs.snapshot_refresh(spark, interval="1 seconds", fixtures=str(tmp_path))

    def wait_for(pods):
        deadline = time.time() + 30
        while time.time() < deadline:
            try:
                if spark.table("pods").count() == pods:
                    return
            except Exception:
                pass
            time.sleep(0.5)
        pytest.fail(f"refresh never showed {pods} pods")

    try:
        deadline = time.time() + 30
        while q.lastProgress is None and time.time() < deadline:
            time.sleep(0.2)
        wait_for(20)
        doc = json.loads((tmp_path / "pods.json").read_text())
        doc["items"] = doc["items"][:5]
        (tmp_path / "pods.json").write_text(json.dumps(doc))
        wait_for(5)
    finally:
        q.stop()
        register_k8s_views(spark)


def _has_protobuf() -> bool:
    try:
        import google.protobuf.descriptor  # noqa: F401
        return True
    except ImportError:
        return False


def test_tws_plan_builds(spark, events_dir):
    """transformWithStateInPandas: the logical plan must build and analyze
    even where the runtime protobuf dependency is missing (decode-stub
    pattern: plumbing is real and checked, the gated part is explicit)."""
    stream = jobs.events_stream(spark, events_dir, max_files_per_trigger=2)
    df = jobs.running_user_totals_tws(stream)
    assert [f.name for f in df.schema.fields] == [
        "user_id", "n_events", "total_value"
    ]


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState state-server client needs protobuf; "
    "not present in this container (re-probed rounds 6 and 9: no "
    "google.protobuf anywhere on the box; see jobs.running_user_totals_tws)",
)
def test_stateful_running_totals_tws(spark, events_dir):
    """Same contract as test_stateful_running_totals via the Spark 4
    transformWithStateInPandas API — both stateful surfaces stay in parity."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    stream = jobs.events_stream(spark, events_dir, max_files_per_trigger=2)
    jobs.run_available_now(
        jobs.running_user_totals_tws(stream), "t_state_tws", "update"
    )
    got = {r["user_id"]: r["n_events"] for r in spark.table("t_state_tws").collect()}
    import pyspark.sql.functions as F

    batch = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert got == {r["user_id"]: 2 * r["n"] for r in batch}


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join agrees with the batch join on
    the same data (single delivery: one file, so no dedup concerns)."""
    d = tmp_path / "ss_events"
    d.mkdir()
    shutil.copy(Path(SF_SMALL) / "events.parquet", d / "part-000.parquet")
    stream = jobs.events_stream(spark, str(d), max_files_per_trigger=1)
    jobs.run_available_now(jobs.view_purchase_join(stream), "t_ssjoin", "append")
    got = {
        (r.view_id, r.buy_id) for r in spark.table("t_ssjoin").collect()
    }

    import pyspark.sql.functions as F

    from ksql_spark import tables

    ev = tables.load(spark, SF_SMALL, "events")
    views = ev.where("event_type = 'view'").selectExpr(
        "user_id", "ts as view_ts", "event_id as view_id"
    )
    buys = ev.where("event_type = 'purchase'").selectExpr(
        "user_id as buyer_id", "ts as buy_ts", "event_id as buy_id"
    )
    want = {
        (r.view_id, r.buy_id)
        for r in views.join(
            buys,
            F.expr(
                "user_id = buyer_id AND buy_ts >= view_ts "
                "AND buy_ts <= view_ts + INTERVAL 1 HOUR"
            ),
        ).collect()
    }
    assert got == want and got


def test_upsert_stream_merges_batches(spark, tmp_path):
    """Streaming CDC-upsert: two arriving files merge into a catalog table —
    the checkpointed second run processes only the new file, and replace
    semantics land the cumulative per-user totals exactly once."""
    spark.sql("DROP TABLE IF EXISTS user_totals")
    spark.sql(
        "CREATE TABLE user_totals (user_id BIGINT, n BIGINT) "
        f"USING PARQUET LOCATION '{tmp_path}/user_totals'"
    )
    try:
        d = tmp_path / "inc"
        d.mkdir()
        ckpt = str(tmp_path / "ckpt")
        shutil.copy(Path(SF_SMALL) / "events.parquet", d / "part-000.parquet")
        stream = jobs.events_stream(spark, str(d), max_files_per_trigger=1)
        import pyspark.sql.functions as F

        # cumulative per-user counts (streaming agg state carries across
        # batches via the checkpoint) -> replace-merge applies latest state
        counts = stream.groupBy("user_id").agg(F.count("*").alias("n"))
        q = jobs.upsert_stream(
            counts, "user_totals", on=["user_id"],
            assignments={"n": "src.n"}, checkpoint=ckpt,
        )
        q.awaitTermination()
        single = {
            r.user_id: r.n for r in spark.table("user_totals").collect()
        }
        shutil.copy(Path(SF_SMALL) / "events.parquet", d / "part-001.parquet")
        q2 = jobs.upsert_stream(
            counts, "user_totals", on=["user_id"],
            assignments={"n": "src.n"}, checkpoint=ckpt,
        )
        q2.awaitTermination()

        got = {r.user_id: r.n for r in spark.table("user_totals").collect()}
        batch = spark.read.parquet(f"{SF_SMALL}/events.parquet").groupBy(
            "user_id"
        ).count().collect()
        assert single == {r.user_id: r["count"] for r in batch}
        assert got == {r.user_id: 2 * r["count"] for r in batch}
    finally:
        spark.sql("DROP TABLE IF EXISTS user_totals")


def test_upsert_batch_replay_guard(spark, tmp_path):
    """A replayed batch_id (same id, second delivery — what Structured
    Streaming does for the last uncommitted batch after a restart) must not
    re-apply its merge when the ledger has its marker. Additive assignments
    make a double-apply observable."""
    spark.sql("DROP TABLE IF EXISTS replay_tgt")
    spark.sql(
        "CREATE TABLE replay_tgt (k BIGINT, n BIGINT) "
        f"USING PARQUET LOCATION '{tmp_path}/replay_tgt'"
    )
    try:
        spark.sql("INSERT INTO replay_tgt VALUES (1, 10), (2, 20)")
        apply_batch = jobs.make_upsert_batch_fn(
            "replay_tgt", on=["k"], assignments={"n": "n + src.n"},
            ledger_dir=str(tmp_path / "ledger"),
        )
        batch = spark.createDataFrame([(1, 1), (3, 3)], "k bigint, n bigint")
        apply_batch(batch, 7)
        once = {r.k: r.n for r in spark.table("replay_tgt").collect()}
        assert once == {1: 11, 2: 20, 3: 3}
        apply_batch(batch, 7)  # replay: marker present -> skipped
        assert {r.k: r.n for r in spark.table("replay_tgt").collect()} == once
        apply_batch(batch, 8)  # genuinely new batch still applies
        assert {r.k: r.n for r in spark.table("replay_tgt").collect()} == {
            1: 12, 2: 20, 3: 6
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS replay_tgt")


def test_real_image_header_decode(spark):
    """sniff_image_dims is a REAL decoder: crafted PNG/GIF/BMP/JPEG headers
    come back with their true dimensions through the full mapInPandas path."""
    import struct

    from ksql_spark.operators import multimodal

    png = (
        b"\x89PNG\r\n\x1a\n"
        + b"\x00\x00\x00\rIHDR"
        + struct.pack(">II", 640, 480)
        + b"\x08\x06\x00\x00\x00" + b"\x00" * 4
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    bmp = (
        b"BM" + b"\x00" * 16
        + struct.pack("<ii", 123, -77)  # negative height = top-down rows
        + b"\x00" * 8
    )
    jpeg = (
        b"\xff\xd8"                                   # SOI
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + struct.pack(">H", 17)          # SOF0
        + b"\x08" + struct.pack(">HH", 480, 640)       # height, width
        + b"\x03" + b"\x00" * 10
    )
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(gif)), (3, bytearray(bmp)),
         (4, bytearray(jpeg)), (5, bytearray(b"not-an-image"))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in multimodal.extract_features(df).collect()}
    assert (rows[1].width, rows[1].height) == (640, 480)
    assert (rows[2].width, rows[2].height) == (320, 200)
    assert (rows[3].width, rows[3].height) == (123, 77)
    assert (rows[4].width, rows[4].height) == (640, 480)
    assert rows[5].width is not None  # unknown container -> deterministic stub


def test_real_netpbm_decode_and_resize(spark):
    """The netpbm path is REAL pixel work end-to-end: encode → header parse
    (incl. comments) → frombuffer → nearest-neighbor resample, checked
    against hand-computed pixels, plus dims through the sniff cascade and
    a real resize through the mapInPandas path."""
    import hashlib

    import numpy as np

    from ksql_spark.operators import multimodal

    # 4x2 RGB gradient, hand-checkable
    img = np.arange(4 * 2 * 3, dtype="uint8").reshape(2, 4, 3)
    ppm = multimodal.encode_ppm(img)
    assert multimodal.sniff_image_dims(ppm) == (4, 2)
    back = multimodal.decode_netpbm(ppm)
    assert (back == img).all()
    # comment lines in the header parse too
    commented = b"P6\n# a comment\n4 2\n255\n" + img.tobytes()
    assert multimodal.sniff_image_dims(commented) == (4, 2)
    assert (multimodal.decode_netpbm(commented) == img).all()
    # P5 grayscale
    gray = np.arange(6, dtype="uint8").reshape(2, 3, 1)
    pgm = b"P5\n3 2\n255\n" + gray.tobytes()
    assert multimodal.sniff_image_dims(pgm) == (3, 2)
    assert (multimodal.decode_netpbm(pgm) == gray).all()
    # nearest-neighbor floor mapping: 4x2 -> 2x1 picks cols 0,2 of row 0
    small = multimodal.resize_nearest(img, 2, 1)
    assert (small == img[[0]][:, [0, 2]]).all()
    # truncated pixel data is an error, not silent garbage
    import pytest as _pytest

    with _pytest.raises(ValueError, match="truncated"):
        multimodal.decode_netpbm(ppm[:-1])
    # through the distributed resize path: sha must equal the local resample
    df = spark.createDataFrame(
        [(1, bytearray(ppm))], "doc_id long, payload binary"
    )
    [row] = multimodal.resize_images(df, 2, 1).collect()
    expect = hashlib.sha256(
        multimodal.resize_nearest(img, 2, 1).tobytes()
    ).hexdigest()
    assert row.resized_sha == expect
    # a payload that merely STARTS with the netpbm magic (text "P5 ...",
    # truncated PPM) falls back to the stub in fake mode, never aborts
    bad = spark.createDataFrame(
        [(2, bytearray(b"P5 is a chess engine rating")),
         (3, bytearray(ppm[:-1]))],
        "doc_id long, payload binary",
    )
    assert len(multimodal.resize_images(bad, 2, 1).collect()) == 2


def test_real_y4m_decode_and_frame_sample(spark):
    """Monochrome Y4M is REAL video decode end-to-end: encode → FRAME-walk
    decode identity, malformed-input errors, and the distributed sampler
    must sha the actual sampled frame bytes."""
    import hashlib

    import numpy as np
    import pytest as _pytest

    from ksql_spark.operators import multimodal

    vid = np.arange(5 * 2 * 3, dtype="uint8").reshape(5, 2, 3)  # 5 frames 3x2
    y4m = multimodal.encode_y4m(vid)
    assert y4m.startswith(b"YUV4MPEG2 W3 H2 ")
    back = multimodal.decode_y4m(y4m)
    assert back.shape == (5, 2, 3) and (back == vid).all()
    with _pytest.raises(ValueError, match="truncated"):
        multimodal.decode_y4m(y4m[:-1])
    with _pytest.raises(ValueError, match="Cmono"):
        multimodal.decode_y4m(y4m.replace(b"Cmono", b"C420jpeg", 1))
    df = spark.createDataFrame(
        [(7, bytearray(y4m))], "doc_id long, payload binary"
    )
    rows = sorted(
        multimodal.sample_frames(df, n_frames=2).collect(),
        key=lambda r: r.frame_idx,
    )
    # floor mapping over 5 frames with n=2 picks sources 0 and 2
    assert [r.frame_idx for r in rows] == [0, 2]
    for r in rows:
        assert r.frame_sha == hashlib.sha256(vid[r.frame_idx].tobytes()).hexdigest()
    # prefix-coincidence / corrupt payloads fall back to the stub in fake
    # mode instead of aborting the job (one bad blob must not kill a pass)
    bad = spark.createDataFrame(
        [(8, bytearray(b"YUV4MPEG2 but not really a video")),
         (9, bytearray(y4m[:-1]))],
        "doc_id long, payload binary",
    )
    fallback = multimodal.sample_frames(bad, n_frames=2).collect()
    assert len(fallback) == 4  # 2 stub rows per payload, no crash


def test_real_wav_audio_decode(spark):
    """extract_audio_meta decodes genuine WAV bytes (stdlib wave writer →
    stdlib wave reader through Arrow batches) — no stub involved."""
    import io
    import wave as wave_mod

    from ksql_spark.operators import multimodal

    def make_wav(rate: int, n: int, channels: int) -> bytes:
        buf = io.BytesIO()
        with wave_mod.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(b"\x00\x00" * n * channels)
        return buf.getvalue()

    df = spark.createDataFrame(
        [(1, bytearray(make_wav(16000, 8000, 1))),
         (2, bytearray(make_wav(44100, 44100, 2)))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in multimodal.extract_audio_meta(df).collect()}
    assert rows[1].sample_rate == 16000 and rows[1].n_samples == 8000
    assert rows[1].duration_ms == 500 and rows[1].n_channels == 1
    assert rows[2].sample_rate == 44100 and rows[2].duration_ms == 1000
    assert rows[2].n_channels == 2


def test_events_stream_empty_dir_starts_before_files(spark, tmp_path):
    """ADVICE r3: the stream must be constructible on an EMPTY replay dir
    (standard start-stream-then-feed pattern) by falling back to the driver
    nanos layout, and must then consume files fed AFTER construction."""
    d = tmp_path / "replay"
    d.mkdir()
    stream = jobs.events_stream(spark, str(d), max_files_per_trigger=4)
    agg = jobs.tumbling_counts(stream, width="10 minutes", watermark="0 seconds")
    # feed one nanos-layout file after the stream exists
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base_us = 1_700_000_000_000_000
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": [(base_us + i * 60_000_000) * 1000 for i in range(3)],  # nanos
            "user_id": [7, 7, 8],
            "event_type": ["a", "b", "a"],
            "value": [1.0, 2.0, 3.0],
            "props": ["{}", "{}", "{}"],
        }
    )
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.int64()),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema), d / "part-0.parquet")
    q = (
        agg.writeStream.format("memory")
        .queryName("empty_dir_replay")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT SUM(n_events) AS n FROM empty_dir_replay").collect()
    assert rows[0]["n"] == 3


def test_events_stream_rejects_unexpected_ts_type(spark, tmp_path):
    """ADVICE r3: a ts column that is neither int64-nanos nor a timestamp
    must fail LOUDLY at stream construction (a silent cast would misread
    int64 as epoch seconds)."""
    import pandas as pd
    import pytest

    d = tmp_path / "badts"
    d.mkdir()
    pd.DataFrame({"event_id": [1], "ts": ["2024-01-01"], "user_id": [1],
                  "event_type": ["a"], "value": [1.0], "props": ["{}"]}
                 ).to_parquet(d / "p.parquet")
    with pytest.raises(ValueError, match="expected ts"):
        jobs.events_stream(spark, str(d))


def test_windowed_topk_matches_batch(spark, events_dir):
    """Streaming windowed top-3 event types (append-mode counts ranked at
    window close in the foreachBatch sink) must equal the batch formulation
    of the identical expressions."""
    from pyspark.sql import Window as W, functions as F

    stream = jobs.events_stream(spark, events_dir, max_files_per_trigger=2)
    counts = jobs.windowed_topk_types(stream, width="10 minutes",
                                      watermark="0 seconds")
    jobs.run_topk_sink(counts, "wtopk", k=3)

    batch = spark.read.parquet(events_dir)
    ts = batch.columns and dict(batch.dtypes).get("ts")
    if ts == "bigint":
        batch = batch.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        batch = batch.withColumn("ts", F.col("ts").cast("timestamp"))
    bcounts = (
        batch.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("window.start").alias("win_start"), "event_type", "n_events")
    )
    w = W.partitionBy("win_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    # append mode only emits a window once the watermark passes its END —
    # the final (still-open) window is correctly withheld by the stream, so
    # exclude any window not strictly closed by the max event time.
    max_ts = batch.agg(F.max("ts").alias("m")).collect()[0]["m"]
    expected = (
        bcounts.where(
            F.col("win_start") + F.expr("INTERVAL 10 MINUTES") <= F.lit(max_ts)
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .collect()
    )
    got = spark.table("topk_acc_wtopk").collect()
    key = lambda r: (r["win_start"], r["rnk"])
    assert sorted(
        [(r["win_start"], r["rnk"], r["event_type"], r["n_events"]) for r in got]
    ) == sorted(
        [(r["win_start"], r["rnk"], r["event_type"], r["n_events"]) for r in expected]
    )
    spark.sql("DROP TABLE IF EXISTS topk_acc_wtopk")


def test_stateful_stream_with_rocksdb_state_store(spark, events_dir, tmp_path):
    """Large-state posture (SURVEY §2.I scale note): the same windowed agg
    must run against the RocksDB state store provider — the configuration a
    real cluster uses when streaming state outgrows the executor heap. The
    provider is set per-query via the checkpoint's conf, here session-wide
    for the duration of the test."""
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = jobs.events_stream(spark, events_dir, max_files_per_trigger=2)
        agg = jobs.tumbling_counts(stream, watermark="0 seconds")
        q = (
            agg.writeStream.format("memory")
            .queryName("rocksdb_tumble")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        total = spark.sql(
            "SELECT SUM(n_events) AS n FROM rocksdb_tumble"
        ).collect()[0]["n"]
        # events_dir fixture replays the sf0.001 events file twice
        import pyarrow.parquet as pq
        from pathlib import Path

        n_src = sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in Path(events_dir).glob("*.parquet")
        )
        assert total == n_src
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_dynamic_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """Scale gate: a fact table PARTITIONED on the join key must be pruned by
    a filtered dim at runtime (DPP) — the plan carries a dynamicpruning
    subquery on the partition column instead of scanning every partition."""
    from pyspark.sql import functions as F

    from ksql_spark.tables import load
    from .conftest import SF_DIR

    fact_dir = str(tmp_path / "orders_by_status")
    load(spark, SF_DIR, "orders").write.partitionBy("o_orderstatus").mode(
        "overwrite"
    ).parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [("F", 1.5), ("O", 1.0)], "st string, weight double"
    ).where(F.col("weight") > 1.2)
    prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    try:
        j = fact.join(dim, fact["o_orderstatus"] == dim["st"]).groupBy(
            "o_orderstatus"
        ).count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower()
        rows = {r["o_orderstatus"]: r["count"] for r in j.collect()}
        assert set(rows) == {"F"}
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", prev
        )


def test_bloom_sketch_stream_matches_batch(spark, tmp_path):
    """The stream-maintained bloom sketch (two micro-batches, bit_or merge
    per batch) must equal the single-pass batch sketch BITWISE — and a
    replayed batch must change nothing (idempotent merge)."""
    import pyspark.sql.functions as F

    from ksql_spark.operators import text
    from ksql_spark.queries.llm import bloom_sketch
    from ksql_spark.streaming import jobs

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    d = tmp_path / "docs_stream"
    d.mkdir()
    src.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(d / "f1")
    )
    src.where(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(d / "f2")
    )
    import shutil

    replay = tmp_path / "docs_replay"
    replay.mkdir()
    for i, sub in enumerate(["f1", "f2"]):
        [pf] = [p for p in (d / sub).glob("*.parquet")]
        shutil.copy(pf, replay / f"part-{i:03d}.parquet")

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(replay))
    )
    jobs.run_bloom_sink(stream, "t_bloom")
    got = {
        r["word_idx"]: r["bits"]
        for r in spark.table("bloom_acc_t_bloom").collect()
    }
    want = {
        r["word_idx"]: r["bits"]
        for r in bloom_sketch(
            src.select(
                F.explode(F.array_distinct(text.shingles("text", 5))).alias(
                    "gram"
                )
            ).distinct()
        ).collect()
    }
    assert got == want  # bitwise

    # replay the whole stream against the EXISTING accumulator from a new
    # query (fresh checkpoint => every batch redelivered): idempotent merge
    # must leave the sketch unchanged
    stream2 = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(replay))
    )
    jobs.run_bloom_sink(stream2, "t_bloom")
    got2 = {
        r["word_idx"]: r["bits"]
        for r in spark.table("bloom_acc_t_bloom").collect()
    }
    assert got2 == want

    # resume across SEPARATE invocations each seeing only part of the data:
    # run half-1 alone, then half-2 alone against the existing accumulator —
    # the union must equal the full sketch (this is the check that catches a
    # sink discarding prior state on a fresh call)
    spark.sql("DROP TABLE IF EXISTS bloom_acc_t_bloom")
    for i in range(2):
        part_dir = tmp_path / f"docs_half{i}"
        part_dir.mkdir()
        shutil.copy(replay / f"part-{i:03d}.parquet", part_dir / "f.parquet")
        jobs.run_bloom_sink(
            spark.readStream.schema(src.schema).parquet(str(part_dir)),
            "t_bloom",
        )
    got3 = {
        r["word_idx"]: r["bits"]
        for r in spark.table("bloom_acc_t_bloom").collect()
    }
    assert got3 == want
    spark.sql("DROP TABLE IF EXISTS bloom_acc_t_bloom")


def test_cms_sketch_stream_matches_batch(spark, tmp_path):
    """The stream-maintained CMS (two micro-batches, SUM merge per batch)
    must equal the single-pass batch sketch exactly for one pass of the
    stream — the frequency companion of the bloom sink agreement."""
    import pyspark.sql.functions as F

    from ksql_spark.operators import text
    from ksql_spark.queries.llm import cms_sketch
    from ksql_spark.streaming import jobs

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    d = tmp_path / "cms_stream"
    d.mkdir()
    import shutil

    for i, pred in enumerate((F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1)):
        src.where(pred).coalesce(1).write.parquet(str(d / f"f{i}"))
        [pf] = [p for p in (d / f"f{i}").glob("*.parquet")]
        shutil.copy(pf, d / f"part-{i:03d}.parquet")
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    spark.sql("DROP TABLE IF EXISTS cms_acc_t_cms")
    jobs.run_cms_sink(stream, "t_cms")
    got = {
        (r["j"], r["pos"]): r["cnt"]
        for r in spark.table("cms_acc_t_cms").collect()
    }
    want = {
        (r["j"], r["pos"]): r["cnt"]
        for r in cms_sketch(
            src.select(F.explode(text.words("text")).alias("w"))
        ).collect()
    }
    assert got == want

    # non-idempotent merge: a second invocation against the surviving
    # accumulator must REFUSE (it would double-count) unless resume=True
    stream2 = spark.readStream.schema(src.schema).parquet(str(d))
    with pytest.raises(ValueError, match="double-count"):
        jobs.run_cms_sink(stream2, "t_cms")
    spark.sql("DROP TABLE IF EXISTS cms_acc_t_cms")


def test_hll_sketch_stream_matches_batch(spark, tmp_path):
    """The stream-maintained per-type HLL (two micro-batches, register-max
    union per batch) must estimate EXACTLY what the single-pass batch
    sketch estimates, a replayed stream must leave the accumulator
    unchanged (idempotent union, like bloom, unlike CMS), and split
    invocations must resume into the same sketch."""
    import pyspark.sql.functions as F

    from ksql_spark.streaming import jobs

    src = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("event_id", "event_type", "user_id")
        .where(F.col("user_id").isNotNull())
    )
    d = tmp_path / "hll_stream"
    d.mkdir()
    import shutil

    for i, pred in enumerate((F.col("event_id") % 2 == 0, F.col("event_id") % 2 == 1)):
        src.where(pred).coalesce(1).write.parquet(str(d / f"f{i}"))
        [pf] = [p for p in (d / f"f{i}").glob("*.parquet")]
        shutil.copy(pf, d / f"part-{i:03d}.parquet")
        shutil.rmtree(d / f"f{i}")
    spark.sql("DROP TABLE IF EXISTS hll_acc_t_hll")
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    jobs.run_hll_sink(stream, "t_hll")

    def estimates(df):
        return {
            r["event_type"]: r["est"]
            for r in df.groupBy("event_type")
            .agg(
                F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
            )
            .collect()
        }

    got = estimates(spark.table("hll_acc_t_hll"))
    want = estimates(
        src.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    assert got == want  # exact estimate agreement, not approximate
    exact = {
        r["event_type"]: r["n"]
        for r in src.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for t, est in got.items():
        assert abs(est - exact[t]) / exact[t] < 0.05  # sketch accuracy

    # idempotent union: a full replay must leave the sketch SEMANTICALLY
    # unchanged — same estimate per type. (Not bitwise: below the dense-HLL
    # threshold Datasketches serializes the coupon LIST/SET in insertion
    # order, so equal sets can carry different bytes; the register-max
    # semantics, and therefore every estimate ever read, are replay-proof.)
    stream2 = spark.readStream.schema(src.schema).parquet(str(d))
    jobs.run_hll_sink(stream2, "t_hll")
    assert estimates(spark.table("hll_acc_t_hll")) == want

    # split-invocation resume: each half alone, then union must estimate
    # the same as the full pass
    spark.sql("DROP TABLE IF EXISTS hll_acc_t_hll")
    for i in range(2):
        part_dir = tmp_path / f"hll_half{i}"
        part_dir.mkdir()
        shutil.copy(d / f"part-{i:03d}.parquet", part_dir / "f.parquet")
        jobs.run_hll_sink(
            spark.readStream.schema(src.schema).parquet(str(part_dir)),
            "t_hll",
        )
    assert estimates(spark.table("hll_acc_t_hll")) == want
    spark.sql("DROP TABLE IF EXISTS hll_acc_t_hll")


def test_histogram_sketch_stream_matches_batch(spark, tmp_path):
    """The stream-maintained histogram (two micro-batches, SUM merge per
    batch, caller-pinned bounds) must equal the single-pass batch bin
    counts exactly, and a second invocation over the surviving accumulator
    must REFUSE (SUM is not idempotent — a replay would shift quantiles)."""
    import shutil

    import pyspark.sql.functions as F

    from ksql_spark.streaming import jobs

    src = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    stats = src.agg(F.min("value"), F.max("value")).first()
    mn, width = stats[0], (stats[1] - stats[0]) / 64.0
    d = tmp_path / "hist_stream"
    d.mkdir()
    for i, pred in enumerate(
        (F.col("event_id") % 2 == 0, F.col("event_id") % 2 == 1)
    ):
        src.where(pred).coalesce(1).write.parquet(str(d / f"f{i}"))
        [pf] = [p for p in (d / f"f{i}").glob("*.parquet")]
        shutil.copy(pf, d / f"part-{i:03d}.parquet")
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    spark.sql("DROP TABLE IF EXISTS hist_acc_t_hist")
    jobs.run_histogram_sink(stream, "t_hist", "value", mn, width)
    got = {
        r["bin"]: r["cnt"] for r in spark.table("hist_acc_t_hist").collect()
    }
    want = {
        r["bin"]: r["cnt"]
        for r in src.select(
            F.greatest(
                F.lit(0),
                F.least(F.lit(63), F.floor((F.col("value") - F.lit(mn)) / F.lit(width))),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == want and sum(got.values()) == src.count()

    stream2 = spark.readStream.schema(src.schema).parquet(str(d))
    with pytest.raises(ValueError, match="double-count"):
        jobs.run_histogram_sink(stream2, "t_hist", "value", mn, width)
    spark.sql("DROP TABLE IF EXISTS hist_acc_t_hist")


def test_dynamic_gap_session_stream_matches_batch(spark, events_dir):
    """I15: session_window with a PER-EVENT gap expression produces the
    same interval-union sessions under readStream as in batch (the batch
    form is oracle-pinned against the running-max-end formulation)."""
    from pyspark.sql import functions as F

    stream = jobs.events_stream(spark, events_dir, max_files_per_trigger=2)
    gap = F.expr(
        """CASE event_type WHEN 'click' THEN '10 minutes'
           WHEN 'view' THEN '20 minutes' ELSE '30 minutes' END"""
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    jobs.run_available_now(agg, "t_dynsess", "complete")
    got = spark.table("t_dynsess").collect()
    batch = SPECS["stream_session_dynamic_gap"].builder(spark, SF_SMALL).collect()
    cols = ["user_id", "session_start", "session_end", "n_events"]
    want = {
        (r["user_id"], r["session_start"], r["session_end"], 2 * r["n_events"])
        for r in batch
    }
    assert rows_set(got, cols) == want


def _batch_scd2(spark):
    """Reference SCD2 table built directly from the full batch data."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    w = Window.partitionBy("k").orderBy("valid_from")
    return (
        ev.select(
            F.col("user_id").alias("k"),
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
        )
        .groupBy("k", "valid_from")
        .agg(F.max("state").alias("state"))  # same tie rule as the sink
        .select(
            "k", "state", "valid_from",
            F.lead("valid_from").over(w).alias("valid_to"),
        )
    )


def test_scd2_stream_matches_batch(spark, events_dir, tmp_path):
    """I16: streaming SCD2 apply over two files (the second an exact
    replay) equals the one-shot batch history — dedup on (key, ts)
    absorbs the duplicate file, and per-batch rebuilds compose into the
    same final chain as one global build."""
    spark.sql("DROP TABLE IF EXISTS t_scd2")
    stream = jobs.events_stream(spark, events_dir, max_files_per_trigger=1)
    q = jobs.scd2_stream(
        stream, "t_scd2", "user_id", "event_type", "ts",
        checkpoint=str(tmp_path / "ck_scd2"),
    )
    q.awaitTermination(120)
    cols = ["k", "state", "valid_from", "valid_to"]
    got = rows_set(spark.table("t_scd2").collect(), cols)
    want = rows_set(_batch_scd2(spark).collect(), cols)
    assert got == want
    # exactly one open (current) row per key
    from pyspark.sql import functions as F

    per_key = (
        spark.table("t_scd2")
        .groupBy("k")
        .agg(F.sum(F.when(F.col("valid_to").isNull(), 1).otherwise(0)).alias("o"))
        .collect()
    )
    assert all(r["o"] == 1 for r in per_key)
    spark.sql("DROP TABLE IF EXISTS t_scd2")


def test_scd2_batch_replay_converges(spark, tmp_path):
    """I16 replay contract: applying the SAME batch twice (no ledger —
    simulating the post-commit crash window) leaves the table unchanged;
    the rebuild is a deterministic pure function of the row set."""
    from pyspark.sql import functions as F

    spark.sql("DROP TABLE IF EXISTS t_scd2r")
    batch = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .where(F.col("user_id") < 5)
    )
    apply_batch = jobs.make_scd2_batch_fn(
        "t_scd2r", "user_id", "event_type", "ts", ledger_dir=None
    )
    apply_batch(batch, 0)
    cols = ["k", "state", "valid_from", "valid_to"]
    first = rows_set(spark.table("t_scd2r").collect(), cols)
    apply_batch(batch, 0)  # replayed
    second = rows_set(spark.table("t_scd2r").collect(), cols)
    assert first == second and len(first) > 0
    spark.sql("DROP TABLE IF EXISTS t_scd2r")


def test_scd2_timestamp_tie_resolves_to_max_state(spark):
    """ADVICE r6: two change events sharing (key, ts) with different states
    must resolve deterministically (MAX(state)), and replaying with the
    rows in the opposite order must produce the identical table."""
    from pyspark.sql import functions as F

    spark.sql("DROP TABLE IF EXISTS t_scd2t")
    rows = [(1, "view", 100), (1, "purchase", 100), (1, "view", 200)]
    schema = "user_id long, event_type string, ts long"
    apply_batch = jobs.make_scd2_batch_fn(
        "t_scd2t", "user_id", "event_type", "ts", ledger_dir=None
    )
    apply_batch(spark.createDataFrame(rows, schema), 0)
    cols = ["k", "state", "valid_from", "valid_to"]
    first = rows_set(spark.table("t_scd2t").collect(), cols)
    spark.sql("DROP TABLE IF EXISTS t_scd2t")
    apply_batch2 = jobs.make_scd2_batch_fn(
        "t_scd2t", "user_id", "event_type", "ts", ledger_dir=None
    )
    apply_batch2(
        spark.createDataFrame(list(reversed(rows)), schema).repartition(3), 0
    )
    second = rows_set(spark.table("t_scd2t").collect(), cols)
    assert first == second
    states = {(r[0], r[2]): r[1] for r in first}
    assert states[(1, 100)] == "view"  # MAX("purchase","view") = "view"
    spark.sql("DROP TABLE IF EXISTS t_scd2t")


def test_upsert_batch_key_collision_deterministic(spark, tmp_path):
    """Upsert sink tie rule: a batch carrying two different payloads for the
    same merge key must resolve to the greatest payload row, independent of
    row order/partitioning (same ADVICE-r6 class as the SCD2 fix)."""
    from pyspark.sql import functions as F

    spark.sql("DROP TABLE IF EXISTS t_upsert_tie")
    schema = "k long, v string, n long"
    rows = [(1, "alpha", 10), (1, "beta", 7), (2, "x", 1)]
    for attempt, data in enumerate([rows, list(reversed(rows))]):
        spark.sql("DROP TABLE IF EXISTS t_upsert_tie")
        spark.sql(
            "CREATE TABLE t_upsert_tie (k BIGINT, v STRING, n BIGINT) "
            f"USING PARQUET LOCATION '{tmp_path}/t_upsert_tie_{attempt}'"
        )
        fn = jobs.make_upsert_batch_fn(
            "t_upsert_tie", ["k"], {"v": "src.v", "n": "src.n"},
            ledger_dir=None,
        )
        fn(spark.createDataFrame(data, schema).repartition(3), attempt)
        got = {r["k"]: (r["v"], r["n"]) for r in spark.table("t_upsert_tie").collect()}
        assert got == {1: ("beta", 7), 2: ("x", 1)}, (attempt, got)
    spark.sql("DROP TABLE IF EXISTS t_upsert_tie")


def test_upsert_batch_explicit_precedence_column(spark, tmp_path):
    """ADVICE r7: `precedence` lets the caller pick the collision winner by a
    domain column (latest event_ts wins) instead of the incidental first
    payload column. The winning row here ("alpha", ts=9) LOSES under the
    default struct-max rule (beta > alpha lexicographically) — proving the
    precedence path is actually consulted — and the result is row-order
    independent."""
    schema = "k long, v string, ts long"
    rows = [(1, "alpha", 9), (1, "beta", 7), (2, "x", 1)]
    for attempt, data in enumerate([rows, list(reversed(rows))]):
        spark.sql("DROP TABLE IF EXISTS t_upsert_prec")
        spark.sql(
            "CREATE TABLE t_upsert_prec (k BIGINT, v STRING, ts BIGINT) "
            f"USING PARQUET LOCATION '{tmp_path}/t_upsert_prec_{attempt}'"
        )
        fn = jobs.make_upsert_batch_fn(
            "t_upsert_prec", ["k"], {"v": "src.v", "ts": "src.ts"},
            ledger_dir=None, precedence=["ts"],
        )
        fn(spark.createDataFrame(data, schema).repartition(3), attempt)
        got = {r["k"]: (r["v"], r["ts"]) for r in spark.table("t_upsert_prec").collect()}
        assert got == {1: ("alpha", 9), 2: ("x", 1)}, (attempt, got)
    spark.sql("DROP TABLE IF EXISTS t_upsert_prec")
