"""Streaming tests: file-stream over the events table, windowed aggs
with watermark, stateful sessionize, and tee side-writes — all driven
with availableNow triggers so results are deterministic."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture()
def events_stream_dir(tmp_path):
    d = tmp_path / "events_in"
    d.mkdir()
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), d / "events.parquet")
    return str(d)


def test_windowed_counts_match_batch(spark, events_stream_dir, tmp_path):
    from miso_spark.sources import ParquetDirSource
    from miso_spark.streaming import stream_events, windowed_counts, run_to_memory

    stream = windowed_counts(stream_events(spark, events_stream_dir), window="1 day")
    got = run_to_memory(stream, "win_counts", mode="append")

    batch = ParquetDirSource(SF_DIR).table(spark, "events")
    expected = (
        batch.groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n", "total")
    )
    g = {(r["window_start"], r["event_type"]): (r["n"], r["total"]) for r in got.collect()}
    e = {(r["window_start"], r["event_type"]): (r["n"], r["total"]) for r in expected.collect()}
    # append mode + availableNow emits only watermark-closed windows;
    # every emitted window must match the batch result exactly
    assert g, "stream produced no closed windows"
    for k, v in g.items():
        assert e[k] == v
    # all but the final (still-open) windows should have been emitted
    assert len(g) >= len(e) - len({r["event_type"] for r in expected.collect()})


def test_sessionize_stateful(spark, tmp_path):
    import pandas as pd

    from miso_spark.streaming import sessionize, run_to_memory

    src = tmp_path / "sess_in"
    src.mkdir()
    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:10:00"),
        (1, "2024-01-01 02:00:00"),  # > 30min gap → closes session 1
        (2, "2024-01-01 01:00:00"),
    ]
    pdf = spark.createDataFrame(rows, ["user_id", "ts_s"]).withColumn(
        "ts", F.to_timestamp("ts_s")
    ).drop("ts_s")
    pdf.write.parquet(str(src / "p"))

    stream = spark.readStream.schema(pdf.schema).parquet(str(src / "p"))
    sessions = run_to_memory(sessionize(stream, gap_s=1800), "sessions", mode="append")
    rows = sessions.collect()
    # user 1's first session (2 events) is closed by the 2h gap
    closed = [(r["user_id"], r["n_events"]) for r in rows]
    assert (1, 2) in closed


def test_rollup_partials_merge_to_batch_answer(spark, tmp_path):
    """Multi-batch rollup: several partial rows per bucket land in the
    rollup table; merging them equals the batch aggregate over raw."""
    from miso_spark.streaming.rollup import maintain_rollup, query_rollup

    src = tmp_path / "ev"
    from miso_spark.sources import ParquetDirSource

    ev = ParquetDirSource(SF_DIR).table(spark, "events")
    ev.repartition(3).write.parquet(str(src / "events.parquet"))

    stream = (
        spark.readStream.schema(spark.read.parquet(str(src / "events.parquet")).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "events.parquet"))
    )
    rollup_dir = str(tmp_path / "rollup")
    q = maintain_rollup(stream, rollup_dir, str(tmp_path / "ckpt"), window="1 day")
    q.awaitTermination()

    partials = spark.read.parquet(rollup_dir)
    merged = query_rollup(spark, rollup_dir)
    # 3 micro-batches → more partial rows than final buckets
    assert partials.count() > merged.count()

    expected = {
        (r["d"], r["event_type"], r["n"], r["total"])
        for r in ev.groupBy(
            F.date_trunc("day", "ts").alias("d"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .collect()
    }
    got = {
        (r["window_start"], r["event_type"], r["n"], r["total"])
        for r in merged.collect()
    }
    assert got == expected


class _FakeGroupState:
    """The slice of GroupState that ``_sessionize_group`` touches."""

    def __init__(self, value, timed_out=False):
        self._value = value
        self.exists = value is not None
        self.hasTimedOut = timed_out
        self.removed = False
        self.updated = None

    @property
    def get(self):
        return self._value

    def remove(self):
        self.removed = True

    def update(self, v):
        self.updated = v

    def setTimeoutDuration(self, ms):
        self.rearmed = True


def test_sessionize_timeout_flushes_idle_session():
    """Processing-time timeout invocation (no new data) must emit the
    buffered session and drop the state — not silently re-arm."""
    from miso_spark.streaming.api import _sessionize_group

    st = _FakeGroupState((1_000_000, 2_000_000, 3), timed_out=True)
    out = list(_sessionize_group((42,), iter([]), st, gap_s=1800.0, use_timeout=True))
    assert st.removed and st.updated is None
    assert len(out) == 1
    row = out[0].iloc[0]
    assert (row["user_id"], row["n_events"]) == (42, 3)

    # timed-out key with no buffered session: just clean up
    st2 = _FakeGroupState(None, timed_out=True)
    out2 = list(_sessionize_group((7,), iter([]), st2, gap_s=1800.0, use_timeout=True))
    assert st2.removed and out2 == []


def test_sessionize_gap_is_unit_independent():
    """Events one hour apart are two sessions under a 30-minute gap,
    whatever the timestamp column's unit: a datetime64[us] column must
    split exactly like datetime64[ns] (an int64 cast of a [us] column
    counts microseconds, which read as nanoseconds shrinks every gap
    1000× and merges the sessions)."""
    import pandas as pd

    from miso_spark.streaming.api import _sessionize_group

    stamps = pd.Series(pd.to_datetime(["2024-01-01 00:00", "2024-01-01 01:00"]))
    for unit in ("ns", "us"):
        pdf = pd.DataFrame({"ts": stamps.astype(f"datetime64[{unit}]")})
        st = _FakeGroupState(None)
        out = list(_sessionize_group((5,), iter([pdf]), st, gap_s=1800.0))
        assert len(out) == 1, unit
        row = out[0].iloc[0]
        assert (row["session_start"], row["session_end"], row["n_events"]) == (
            stamps[0], stamps[0], 1
        ), unit
        start_us = 1_704_070_800_000_000  # 2024-01-01 01:00 UTC in µs
        assert st.updated == (start_us, start_us, 1), unit


def test_tee_stream_side_write(spark, events_stream_dir, tmp_path):
    from miso_spark.streaming import stream_events, tee_stream

    out = str(tmp_path / "tee_out")
    ckpt = str(tmp_path / "ckpt")
    q = tee_stream(stream_events(spark, events_stream_dir), out, ckpt)
    q.awaitTermination()
    teed = spark.read.parquet(out)
    orig = stream_events(spark, events_stream_dir)  # schema reference
    assert teed.count() == spark.read.parquet(events_stream_dir).count()
    assert set(teed.columns) == set(orig.columns)


def test_multimodal_plumbing(spark):
    from miso_spark.functions.multimodal import (
        extract_features,
        frame_sample,
        resize_meta,
        synthesize_media,
    )

    media = synthesize_media(spark, n=30)
    feats = extract_features(media).collect()
    assert len(feats) == 30
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[0]["n_samples"] > 0
    # determinism: same payload → same feature hash across runs
    feats2 = {r["media_id"]: r["feature_hash"] for r in extract_features(media).collect()}
    assert {k: v["feature_hash"] for k, v in by_id.items()} == feats2

    frames = frame_sample(media, every_ms=10000)
    f0 = frames.groupBy("media_id").count().collect()
    assert f0 and all(r["count"] >= 1 for r in f0)

    rm = resize_meta(media, max_side=32).collect()
    for r in rm:
        assert max(r["target_width"], r["target_height"]) <= 32
        assert r["target_width"] >= 1 and r["target_height"] >= 1


def test_multimodal_real_decode_raises(spark):
    from miso_spark.functions.multimodal import _decode_payload

    # entropy-coded formats with no pure-numpy decoder stay stubbed
    # (r14: jpeg decodes for real now — functions/jpeg.py — so only
    # mp3/mp4 remain stubbed; this pin was written before that landed)
    with pytest.raises(NotImplementedError):
        _decode_payload("mp3", b"ID3\x04...")
    # jpeg decodes for real — truncated garbage is a clear JpegError
    from miso_spark.functions.jpeg import JpegError

    with pytest.raises(JpegError):
        _decode_payload("jpeg", b"\xff\xd8\xff\xe0...")
    # png decodes for real now — a bad signature is a clear ValueError
    with pytest.raises(ValueError, match="signature"):
        _decode_payload("png", b"\x89PNGnope")


def test_multimodal_ppm_bmp_roundtrip():
    """ppm/bmp decode for REAL (pure numpy, public fixed layouts):
    encode → decode is the identity, including BMP's bottom-up BGR
    row-padded storage and PPM comment headers."""
    import numpy as np

    from miso_spark.functions.multimodal import (
        _decode_payload,
        encode_bmp,
        encode_ppm,
    )

    rng = np.random.RandomState(7)
    for w, h in [(1, 1), (5, 3), (8, 8), (13, 2)]:  # odd widths hit padding
        img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (_decode_payload("ppm", encode_ppm(img)) == img).all()
        assert (_decode_payload("bmp", encode_bmp(img)) == img).all()
    # PPM with a comment line in the header
    img = rng.randint(0, 256, size=(2, 3, 3), dtype=np.uint8)
    commented = b"P6\n# made by a test\n3 2\n255\n" + img.tobytes()
    assert (_decode_payload("ppm", commented) == img).all()
    # non-BI_RGB / non-24bpp BMPs stay stubbed
    with pytest.raises(NotImplementedError):
        bad = bytearray(encode_bmp(img))
        bad[28:30] = (32).to_bytes(2, "little")
        _decode_payload("bmp", bytes(bad))


def test_multimodal_wav_pcm_roundtrip(spark):
    """RIFF/WAVE 16-bit PCM decodes for real: encode → decode is the
    identity for mono and stereo (word-aligned chunk walk), features
    flow through the Arrow batcher, non-PCM tags stay stubbed."""
    import numpy as np

    from miso_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        _decode_payload,
        encode_wav,
        extract_features,
    )

    rng = np.random.RandomState(3)
    mono = rng.randint(-32768, 32767, size=257, dtype=np.int16)
    stereo = rng.randint(-32768, 32767, size=(100, 2), dtype=np.int16)
    assert (_decode_payload("wav", encode_wav(mono)) == mono[:, None]).all()
    assert (_decode_payload("wav", encode_wav(stereo)) == stereo).all()

    media = spark.createDataFrame(
        [
            (0, "audio", "wav", bytearray(encode_wav(mono)), (None, None, 16)),
            (1, "audio", "wav", bytearray(encode_wav(stereo)), (None, None, 6)),
        ],
        MEDIA_SCHEMA,
    )
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[0]["n_samples"] == 257 and feats[1]["n_samples"] == 200

    import pytest as _pt

    bad = bytearray(encode_wav(mono))
    bad[20:22] = (3).to_bytes(2, "little")  # IEEE float tag
    with _pt.raises(NotImplementedError):
        _decode_payload("wav", bytes(bad))


def test_multimodal_y4m_video_frames(spark):
    """YUV4MPEG2 decodes for real: C444 round-trips within BT.601
    rounding (exact for gray), C420 upsamples chroma, and
    extract_frames samples every Nth frame to PPM through Arrow."""
    import numpy as np

    from miso_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        _decode_payload,
        _decode_ppm,
        encode_y4m,
        extract_frames,
    )

    rng = np.random.RandomState(11)
    frames = rng.randint(0, 256, size=(4, 6, 8, 3), dtype=np.uint8)
    dec = _decode_payload("y4m", encode_y4m(frames))
    assert dec.shape == (4, 6, 8, 3)
    assert np.abs(dec.astype(int) - frames.astype(int)).max() <= 3
    gray = np.full((2, 4, 4, 3), 77, dtype=np.uint8)
    assert (_decode_payload("y4m", encode_y4m(gray)) == gray).all()

    # hand-built C420: one uniform frame — chroma upsampling is exact
    w, h = 4, 2
    y, u, v = 128, 110, 150
    payload = (
        b"YUV4MPEG2 W4 H2 F25:1 Ip A1:1 C420\nFRAME\n"
        + bytes([y]) * (w * h) + bytes([u]) * 2 + bytes([v]) * 2
    )
    one = _decode_payload("y4m", payload)
    assert one.shape == (1, 2, 4, 3)
    assert (one[0] == one[0, 0, 0]).all()  # uniform output frame

    media = spark.createDataFrame(
        [(0, "video", "y4m", bytearray(encode_y4m(frames)), (8, 6, 160))],
        MEDIA_SCHEMA,
    )
    out = {r["frame_idx"]: r for r in extract_frames(media, every_n=2).collect()}
    assert sorted(out) == [0, 2]
    f0 = _decode_ppm(bytes(out[0]["payload"]))
    assert f0.shape == (6, 8, 3)
    assert np.abs(f0.astype(int) - frames[0].astype(int)).max() <= 3


def test_multimodal_real_images_features_and_resize(spark):
    """End-to-end over REAL payloads: synthesize_images emits gradient
    ppm/bmp bytes; extract_features decodes them (sample count =
    w*h*3) and resize_pixels downscales aspect-preserving with a
    verifiable nearest-neighbor corner."""
    import numpy as np

    from miso_spark.functions.multimodal import (
        _decode_payload,
        extract_features,
        resize_pixels,
        synthesize_images,
    )

    media = synthesize_images(spark, n=12)
    metas = {r["media_id"]: r["meta"] for r in media.collect()}

    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert len(feats) == 12
    for mid, r in feats.items():
        w, h = metas[mid]["width"], metas[mid]["height"]
        assert r["n_samples"] == w * h * 3

    resized = {r["media_id"]: r for r in resize_pixels(media, max_side=10).collect()}
    assert len(resized) == 12
    for mid, r in resized.items():
        w, h = metas[mid]["width"], metas[mid]["height"]
        assert max(r["width"], r["height"]) <= 10
        assert r["width"] >= 1 and r["height"] >= 1
        # aspect preserved within 1px of the exact scale
        scale = min(10 / w, 10 / h, 1.0)
        assert abs(r["width"] - w * scale) <= 1
        assert abs(r["height"] - h * scale) <= 1
        out = _decode_payload("ppm", bytes(r["payload"]))
        assert out.shape == (r["height"], r["width"], 3)
        # nearest-neighbor keeps the (0,0) corner pixel exactly
        src_fmt = ["ppm", "bmp", "png"][mid % 3]
        src = _decode_payload(src_fmt, bytes(
            {m["media_id"]: m for m in media.collect()}[mid]["payload"]
        ))
        assert (out[0, 0] == src[0, 0]).all()


def test_partial_stream_applies_static_fields(spark, tmp_path):
    """ADVICE r2: run_partial_stream must apply collection static_fields
    renames like the batch path (SourceRegistry.table) — a @time query
    that works batch must work partial-stream and agree with it."""
    import json

    from miso_spark.compiler import Compiler
    from miso_spark.kql import parse_kql
    from miso_spark.sources import ParquetDirSource, SourceRegistry
    from miso_spark.streaming.partial import (
        plan_supports_partial_stream,
        run_partial_stream,
    )

    ev = ParquetDirSource(SF_DIR).table(spark, "events")
    ev.repartition(2).write.parquet(str(tmp_path / "events2.parquet"))
    reg = SourceRegistry(spark).register(
        "s",
        ParquetDirSource(str(tmp_path), static_fields={"events2": {"@time": "ts"}}),
    )
    plan = parse_kql(
        "s.events2 | where @time >= 2024-01-10 | summarize n = count() by event_type"
    )
    assert plan_supports_partial_stream(plan, reg)

    comp = Compiler(reg)
    emits = []
    run_partial_stream(comp, plan, lambda rid, rows, fin: emits.append((rid, rows, fin)))
    assert emits and emits[-1][2] is True
    final = {
        (r["event_type"], r["n"]) for r in map(json.loads, emits[-1][1])
    }
    batch = {(r["event_type"], r["n"]) for r in comp.run(plan).collect()}
    assert final == batch and final


def test_partial_stream_topn_limit_filter_union(spark, tmp_path):
    """Reference partial_stream_topn/_limit/_filter/_multi_union shapes
    (tests.rs): top-N tails fold each micro-batch into a bounded
    accumulator; post-aggregate row-local steps ride on the streaming
    aggregate; unions stream every scan."""
    import json

    from miso_spark.compiler import Compiler
    from miso_spark.kql import parse_kql
    from miso_spark.sources import ParquetDirSource, SourceRegistry
    from miso_spark.streaming.partial import (
        plan_supports_partial_stream,
        run_partial_stream,
    )

    orders = ParquetDirSource(SF_DIR).table(spark, "orders")
    orders.repartition(3).write.parquet(str(tmp_path / "o3.parquet"))
    orders.limit(500).write.parquet(str(tmp_path / "o3b.parquet"))
    reg = SourceRegistry(spark).register("s", ParquetDirSource(str(tmp_path)))
    comp = Compiler(reg)

    def drive(q):
        plan = parse_kql(q)
        assert plan_supports_partial_stream(plan, reg), q
        emits = []
        run_partial_stream(comp, plan, lambda rid, rows, fin: emits.append((rid, rows, fin)),
                           debounce_s=0)
        assert emits and emits[-1][2] is True
        partial_rounds = [e for e in emits if not e[2]]
        return partial_rounds, [json.loads(r) for r in emits[-1][1]]

    # top-N tail: final equals the batch answer, every partial is a
    # valid current-top (subset of schema, <= N rows, sorted desc)
    partials, final = drive("s.o3 | top 5 by o_totalprice desc")
    batch = comp.run(parse_kql("s.o3 | top 5 by o_totalprice desc")).collect()
    assert [r["o_orderkey"] for r in final] == [r["o_orderkey"] for r in batch]
    assert len(partials) >= 2  # 3 files -> 3 rounds
    for _, rows, _ in partials:
        vals = [json.loads(r)["o_totalprice"] for r in rows]
        assert len(vals) <= 5 and vals == sorted(vals, reverse=True)

    # topn + take tail (partial_stream_limit shape)
    _, final = drive("s.o3 | top 3 by o_totalprice desc | take 2")
    assert len(final) == 2
    assert [r["o_orderkey"] for r in final] == [r["o_orderkey"] for r in batch[:2]]

    # post-aggregate filter (partial_stream_filter shape)
    partials, final = drive("s.o3 | count | where Count > 0")
    assert final[0]["Count"] == orders.count()
    for _, rows, _ in partials:
        assert all(json.loads(r)["Count"] > 0 for r in rows)

    # multi-union of streamed scans (partial_stream_multi_union shape)
    _, final = drive("s.o3 | union (s.o3b) | count")
    assert final[0]["Count"] == orders.count() + 500


def test_dedup_stream_keeps_one_per_content(spark, tmp_path):
    """Streaming exact dedup: drained with availableNow, exactly one
    surviving doc per content hash, consistent with batch exact_dedup's
    group count."""
    from pyspark.sql import functions as F

    from miso_spark.functions.dedup import exact_dedup
    from miso_spark.sources import ParquetDirSource
    from miso_spark.streaming import run_to_memory
    from miso_spark.streaming.api import dedup_stream

    docs = ParquetDirSource(SF_DIR).table(spark, "documents")
    d = tmp_path / "docs_in"
    docs.repartition(3).write.parquet(str(d / "documents.parquet"))

    schema = spark.read.parquet(str(d / "documents.parquet")).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "documents.parquet"))
    )
    got = run_to_memory(dedup_stream(sdf), "dedup_stream_t", mode="append")
    n_groups = exact_dedup(docs).count()
    kept = got.collect()
    assert len(kept) == n_groups
    assert got.select(F.count_distinct("content_hash")).first()[0] == n_groups


def test_partial_stream_bounded_driver_rounds(spark, tmp_path):
    """VERDICT r5: aggregate partial rounds must not materialize the
    full aggregate state on the driver. With a high-cardinality group
    key and a small cap, every partial round is bounded (and counted as
    truncated), while the final answer is still exact and complete —
    the held last micro-batch state streamed in bounded chunks, with NO
    second full-plan batch execution (VERDICT r6 #5)."""
    import json

    from miso_spark.compiler import Compiler
    from miso_spark.kql import parse_kql
    from miso_spark.sources import ParquetDirSource, SourceRegistry
    from miso_spark.streaming.partial import run_partial_stream

    orders = ParquetDirSource(SF_DIR).table(spark, "orders")
    orders.repartition(3).write.parquet(str(tmp_path / "oh.parquet"))
    reg = SourceRegistry(spark).register("s", ParquetDirSource(str(tmp_path)))
    comp = Compiler(reg)
    plan = parse_kql("s.oh | summarize n = count() by o_orderkey")

    emits = []
    # the truncated final must come from the held micro-batch state,
    # never from re-running the plan as a batch query
    batch_runs = []
    orig_run = comp.run
    comp.run = lambda p: (batch_runs.append(p), orig_run(p))[1]
    try:
        stats = run_partial_stream(
            comp, plan,
            lambda rid, rows, fin: emits.append((rid, rows, fin)),
            debounce_s=0, max_rows_per_round=50,
        )
    finally:
        comp.run = orig_run
    assert batch_runs == []
    partials = [e for e in emits if not e[2]]
    finals = [e for e in emits if e[2]]
    assert partials and all(len(rows) <= 50 for _, rows, _ in partials)
    assert stats["truncated_rounds"] >= 1
    # every final chunk respects the cap; together they are the exact
    # batch answer
    assert finals and all(len(rows) <= 50 for _, rows, _ in finals)
    got = {
        (r["o_orderkey"], r["n"])
        for _, rows, _ in finals
        for r in map(json.loads, rows)
    }
    batch = {(r["o_orderkey"], r["n"]) for r in comp.run(plan).collect()}
    assert got == batch and len(got) > 50


def test_near_dedup_stream_finds_cross_batch_pairs(spark, tmp_path):
    """Streaming near-dup (minhash-LSH with per-bucket state): pairs
    are found both within a micro-batch and across batches (a new
    crawl file matching something ingested earlier), unrelated docs
    emit nothing, and estimates track true similarity."""
    from pyspark.sql import functions as F

    from miso_spark.streaming.api import near_dedup_stream, run_to_memory

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the sun sets slowly over the quiet harbor town tonight")
    variant = base.replace("harbor", "market")
    other = ("completely different text about distributed query engines "
             "compiling logical plans into physical spark operators")
    batch1 = [(1, base), (2, variant), (3, other)]
    batch2 = [(4, base)]  # exact copy of doc 1, arriving later
    d = tmp_path / "docs_stream"
    spark.createDataFrame(batch1, "doc_id long, text string").coalesce(1) \
        .write.parquet(str(d), mode="append")
    spark.createDataFrame(batch2, "doc_id long, text string").coalesce(1) \
        .write.parquet(str(d), mode="append")

    schema = spark.read.parquet(str(d)).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    got = run_to_memory(
        near_dedup_stream(sdf, threshold=0.5), "near_dup_t", mode="append"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in got.groupBy("id_a", "id_b")
        .agg(F.max("est_jaccard").alias("est_jaccard"))
        .collect()
    }
    # the exact copy estimates 1.0 against its original (cross-batch)
    assert pairs.get((1, 4)) == 1.0
    # the one-word variant matches both copies, below 1.0
    assert 0.5 <= pairs.get((1, 2), 0) < 1.0
    assert 0.5 <= pairs.get((2, 4), 0) < 1.0
    # nothing pairs with the unrelated doc
    assert not any(3 in p for p in pairs)


def test_near_dedup_stream_bucket_cap_bounds_state(spark, tmp_path):
    """max_bucket_size caps per-bucket state like the batch LSH bucket
    cap: with a cap of 1, only the first-ingested doc is remembered per
    bucket, so later arrivals match IT but not each other."""
    from miso_spark.streaming.api import near_dedup_stream, run_to_memory

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, text) for i in (1, 2, 3)]
    d = tmp_path / "docs_cap"
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1) \
        .write.parquet(str(d))
    schema = spark.read.parquet(str(d)).schema
    sdf = spark.readStream.schema(schema).parquet(str(d))
    got = run_to_memory(
        near_dedup_stream(sdf, threshold=0.9, max_bucket_size=1),
        "near_dup_cap_t", mode="append",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
    assert pairs == {(1, 2), (1, 3)}  # 2-3 never compared: bucket full


def test_near_dedup_stream_ttl_evicts_idle_buckets(spark, tmp_path):
    """ttl_s bounds state by recency: a bucket idle past the TTL drops
    its remembered signatures in a state-cleanup batch, so a duplicate
    arriving after the window no longer pairs with the original.

    ProcessingTimeTimeout makes the engine schedule cleanup
    micro-batches even with no new data ("No new data but cleaning up
    state"), so the stream never quiesces — processAllAvailable would
    hang. The test therefore polls progress counters under a fixed
    trigger interval instead.
    """
    import time

    from miso_spark.streaming.api import near_dedup_stream

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    d = tmp_path / "docs_ttl"
    d.mkdir()

    def land(doc_id: int) -> None:
        spark.createDataFrame([(doc_id, text)], "doc_id long, text string") \
            .coalesce(1).write.parquet(str(d), mode="append")

    def rows_processed(q) -> int:
        return sum(int(p["numInputRows"]) for p in q.recentProgress)

    def wait_processed(q, n: int, timeout_s: float = 60.0) -> None:
        deadline = time.monotonic() + timeout_s
        while rows_processed(q) < n:
            assert time.monotonic() < deadline, "stream made no progress"
            time.sleep(0.3)

    land(1)
    schema = spark.read.parquet(str(d)).schema
    sdf = spark.readStream.schema(schema).parquet(str(d))
    q = (
        near_dedup_stream(sdf, threshold=0.9, ttl_s=1.0)
        .writeStream.format("memory").queryName("near_dup_ttl_t")
        .outputMode("append").trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        wait_processed(q, 1)  # doc 1's buckets populated
        time.sleep(2.5)  # > TTL: cleanup batches evict the idle buckets
        land(3)  # exact copy of doc 1, after the window
        wait_processed(q, 2)
        pairs = {(r["id_a"], r["id_b"])
                 for r in spark.sql("SELECT * FROM near_dup_ttl_t").collect()}
        assert pairs == set()  # doc 1 was forgotten before doc 3 arrived
    finally:
        q.stop()

    # control: the same two files with no TTL pair up (1, 3)
    sdf2 = spark.readStream.schema(schema).parquet(str(d))
    q2 = (
        near_dedup_stream(sdf2, threshold=0.9)
        .writeStream.format("memory").queryName("near_dup_nottl_t")
        .outputMode("append").start()
    )
    try:
        q2.processAllAvailable()
        pairs = {(r["id_a"], r["id_b"])
                 for r in spark.sql("SELECT * FROM near_dup_nottl_t").collect()}
        assert pairs == {(1, 3)}
    finally:
        q2.stop()
