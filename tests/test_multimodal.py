"""Multimodal plumbing: binary columns through Arrow-batched mapInPandas —
decode/feature-extract/resize/frame-sample, with the deterministic fake
codec (real image/audio libs are absent by design)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.operators.multimodal import (
    attach_payload_metadata,
    documents_as_assets,
    extract_features,
    resize_images,
    sample_frames,
)
from hw_kafka_flink_health_spark.sources.files import load_table

SF = "/root/testdata/sf0.001"


def _assets(spark):
    return documents_as_assets(load_table(spark, SF, "documents").limit(30))


def test_metadata_is_jvm_side(spark):
    out = attach_payload_metadata(_assets(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # metadata never leaves the JVM
    rows = out.collect()
    assert all(r.byte_len > 0 and len(r.content_md5) == 32 for r in rows)


def test_extract_features_deterministic(spark):
    a = {r.asset_id: (r.feat_mean, r.feat_std, r.feat_dim) for r in extract_features(_assets(spark)).collect()}
    b = {r.asset_id: (r.feat_mean, r.feat_std, r.feat_dim) for r in extract_features(_assets(spark)).collect()}
    assert a == b
    assert all(dim == 16 for (_, _, dim) in a.values())


def test_resize_reduces_and_preserves_schema(spark):
    out = resize_images(_assets(spark), target_w=32, target_h=32)
    rows = out.collect()
    assert rows
    budget = 32 * 32 // 64
    for r in rows:
        assert len(r.payload) <= budget
        assert (r.width, r.height) == (32, 32)
    assert dict(out.dtypes)["payload"] == "binary"


def test_sample_frames_expands_video_rows(spark):
    assets = _assets(spark)
    n_videos = assets.filter(F.col("modality") == "video").count()
    frames = sample_frames(assets).collect()
    assert len(frames) == 4 * n_videos
    assert {r.frame_idx for r in frames} == {0, 1, 2, 3}
    # frames partition the payload deterministically
    by_asset = {}
    for r in frames:
        by_asset.setdefault(r.asset_id, []).append(r)
    for rs in by_asset.values():
        assert len({r.frame_idx for r in rs}) == 4


def test_raw_rgb_resize_is_real_pixel_math(spark):
    """The raw_rgb path does REAL computation: nearest-neighbor resize of
    a known gradient image must equal the numpy reference exactly, and
    the channel means must match to float precision — no fakes anywhere
    in this modality."""
    import numpy as np

    from hw_kafka_flink_health_spark.operators.multimodal import (
        decode_raw_rgb,
        encode_raw_rgb,
        resize_raw_rgb,
    )

    h, w = 16, 24
    img = np.zeros((h, w, 3), dtype=np.uint8)
    img[..., 0] = np.arange(w, dtype=np.uint8)[None, :] * 10  # R: x-gradient
    img[..., 1] = np.arange(h, dtype=np.uint8)[:, None] * 12  # G: y-gradient
    img[..., 2] = 7

    assets = spark.createDataFrame(
        [(1, bytearray(encode_raw_rgb(img)))], "asset_id long, payload binary"
    )
    got = resize_raw_rgb(assets, target_w=8, target_h=4).collect()[0]

    ys = (np.arange(4) * h // 4).astype(np.int64)
    xs = (np.arange(8) * w // 8).astype(np.int64)
    expect = img[ys][:, xs]
    back = decode_raw_rgb(bytes(got["payload"]))
    assert back.shape == (4, 8, 3)
    assert (back == expect).all()
    means = expect.reshape(-1, 3).mean(axis=0)
    assert abs(got["mean_r"] - means[0]) < 1e-9
    assert abs(got["mean_g"] - means[1]) < 1e-9
    assert abs(got["mean_b"] - means[2]) < 1e-9


def test_audio_features_pcm16_exact_on_known_signal(spark):
    """PCM16 features are real math: a pure sine at fs/100 has RMS
    1/sqrt(2) of its amplitude, ZCR ~= 2 crossings per period, and peak
    equal to the amplitude — all verified to numeric precision."""
    import numpy as np

    from hw_kafka_flink_health_spark.operators.multimodal import audio_features_pcm16

    fs, freq, amp = 8000, 80, 0.5
    t = np.arange(fs) / fs
    x = (amp * np.sin(2 * np.pi * freq * t) * 32768).astype("<i2")
    assets = spark.createDataFrame(
        [(1, bytearray(x.tobytes()))], "asset_id long, payload binary"
    )
    got = audio_features_pcm16(assets).collect()[0]
    xf = x.astype(np.float64) / 32768.0
    assert got["n_samples"] == fs
    assert abs(got["rms"] - float(np.sqrt(np.mean(xf * xf)))) < 1e-12
    # 80 Hz over 1 s -> 160 sign changes -> ZCR ~ 160/7999
    assert abs(got["zero_crossing_rate"] - 160 / (fs - 1)) < 1e-3
    assert abs(got["peak"] - np.abs(xf).max()) < 1e-12


def test_video_frame_stats_real_motion_signal(spark):
    """Raw-video stats are real math: a 3-frame clip (black, black,
    all-100s) must report zero motion on the static transition and
    exactly 100.0 mean-absolute-delta on the cut, with exact per-frame
    channel means."""
    import numpy as np

    from hw_kafka_flink_health_spark.operators.multimodal import video_frame_stats_raw

    w = h = 4
    black = np.zeros((h, w, 3), dtype=np.uint8)
    bright = np.full((h, w, 3), 100, dtype=np.uint8)
    clip = black.tobytes() + black.tobytes() + bright.tobytes()
    assets = spark.createDataFrame(
        [(7, bytearray(clip))], "asset_id long, payload binary"
    )
    rows = {
        r["frame_idx"]: r
        for r in video_frame_stats_raw(assets, frame_w=w, frame_h=h).collect()
    }
    assert set(rows) == {0, 1, 2}
    assert rows[0]["motion"] == 0.0 and rows[1]["motion"] == 0.0
    assert rows[2]["motion"] == 100.0
    assert rows[2]["mean_r"] == rows[2]["mean_g"] == rows[2]["mean_b"] == 100.0
    assert rows[0]["mean_r"] == 0.0


def test_raw_rgb_arrow_tier_parity(spark):
    """mapInArrow tier == mapInPandas tier byte-for-byte: same resized
    payload bytes, same channel means, over several images and batch
    shapes (maxRecordsPerBatch=2 forces multiple Arrow batches)."""
    import numpy as np

    from hw_kafka_flink_health_spark.operators.multimodal import (
        encode_raw_rgb,
        resize_raw_rgb,
        resize_raw_rgb_arrow,
    )

    rng = np.random.RandomState(7)
    rows = []
    for aid, (h, w) in enumerate([(16, 24), (9, 13), (32, 8), (5, 5), (40, 40)]):
        rows.append((aid, bytearray(encode_raw_rgb(rng.randint(0, 256, (h, w, 3), dtype=np.uint8)))))
    sess = spark.newSession()
    sess.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    assets = sess.createDataFrame(rows, "asset_id long, payload binary")

    a = {r["asset_id"]: r for r in resize_raw_rgb(assets, target_w=8, target_h=4).collect()}
    b = {r["asset_id"]: r for r in resize_raw_rgb_arrow(assets, target_w=8, target_h=4).collect()}
    assert set(a) == set(b) == set(range(5))
    for aid in a:
        ra, rb = a[aid], b[aid]
        assert bytes(ra["payload"]) == bytes(rb["payload"])
        assert (ra["width"], ra["height"]) == (rb["width"], rb["height"])
        for c in ("mean_r", "mean_g", "mean_b"):
            assert ra[c] == rb[c]


def test_audio_spectrum_finds_planted_tones(spark):
    """REAL FFT: a pure 440 Hz sine must come back with dominant_hz 440
    (bin-exact: 16000 Hz / 8000 samples = 2 Hz resolution), near-total
    power in that bin, and low-band energy ~0; a 100 Hz hum clip lands in
    the low band; a two-tone clip's centroid sits between its tones."""
    import numpy as np

    from hw_kafka_flink_health_spark.operators.multimodal import audio_spectrum_pcm16

    sr, n = 16000, 8000
    t = np.arange(n) / sr

    def pcm(x):
        return bytearray((np.clip(x, -1, 1) * 32767).astype("<i2").tobytes())

    a440 = 0.8 * np.sin(2 * np.pi * 440 * t)
    hum = 0.5 * np.sin(2 * np.pi * 100 * t)
    two = 0.5 * np.sin(2 * np.pi * 1000 * t) + 0.5 * np.sin(2 * np.pi * 5000 * t)
    assets = spark.createDataFrame(
        [(1, pcm(a440)), (2, pcm(hum)), (3, pcm(two))], "asset_id long, payload binary"
    )
    rows = {r["asset_id"]: r for r in audio_spectrum_pcm16(assets, sample_rate=sr).collect()}

    assert rows[1]["dominant_hz"] == 440.0
    assert rows[1]["dominant_power"] > 0.95
    assert rows[1]["band_low_frac"] < 0.01 and rows[1]["band_mid_frac"] > 0.98

    assert rows[2]["dominant_hz"] == 100.0
    assert rows[2]["band_low_frac"] > 0.98

    c = rows[3]["spectral_centroid_hz"]
    assert 2800 < c < 3200  # equal-power tones at 1k/5k -> centroid ~3k
    assert rows[3]["band_mid_frac"] > 0.45 and rows[3]["band_high_frac"] > 0.45


def test_bmp24_round_trip_and_variants():
    """Pure-Python BMP codec: encode->parse round-trips exact pixels
    (including widths that force 4-byte row padding), parses a top-down
    (negative height) file from another writer, and rejects unsupported
    variants instead of returning garbage."""
    import struct

    import pytest

    from hw_kafka_flink_health_spark.operators.multimodal import (
        encode_bmp24,
        parse_bmp24,
    )

    # w=3 -> row_raw=9 -> 3 pad bytes per row: the classic padding trap
    px = bytes(range(3 * 2 * 3))  # 3x2 RGB, distinct byte per channel
    blob = encode_bmp24(3, 2, px)
    w, h, rgb = parse_bmp24(blob)
    assert (w, h, rgb) == (3, 2, px)
    # pad bytes must not leak into the decoded pixels
    assert len(blob) == 14 + 40 + 2 * 12  # 9 raw + 3 pad per row

    # top-down variant (negative height), hand-built: parser must NOT flip
    td = bytearray(encode_bmp24(3, 2, px))
    struct.pack_into("<i", td, 22, -2)
    # encode_bmp24 wrote rows bottom-up; with height<0 a reader takes them
    # as-is, so the decoded image is the vertical mirror
    w2, h2, rgb2 = parse_bmp24(bytes(td))
    assert (w2, h2) == (3, 2)
    assert rgb2 == px[9:] + px[:9]

    with pytest.raises(ValueError):
        parse_bmp24(b"PNG....")
    bad = bytearray(encode_bmp24(2, 2, bytes(12)))
    struct.pack_into("<H", bad, 28, 8)  # 8bpp: unsupported
    with pytest.raises(ValueError):
        parse_bmp24(bytes(bad))


def test_wav_pcm16_round_trip_chunk_walk():
    """Pure-Python WAV codec: the encoder plants an odd-sized LIST chunk
    before data, so a parse that assumes the canonical 44-byte layout (or
    skips the word-align rule) fails; signed samples round-trip exactly."""
    import pytest

    from hw_kafka_flink_health_spark.operators.multimodal import (
        encode_wav_pcm16,
        parse_wav_pcm16,
    )

    samples = [0, 1, -1, 32767, -32768, 12345, -12345]
    blob = encode_wav_pcm16(samples, sample_rate=8000)
    rate, got = parse_wav_pcm16(blob)
    assert rate == 8000
    assert got.tolist() == samples
    assert b"LIST" in blob  # the chunk walker actually had work to do

    with pytest.raises(ValueError):
        parse_wav_pcm16(b"RIFXxxxxWAVE")


def test_codec_asset_pipeline_stats_match_closed_form(spark):
    """The synthesize->decode pipeline over real containers reproduces the
    closed-form integer stats the DuckDB oracle computes (the sf-agnostic
    local mirror of the multimodal_decode_features correctness row)."""
    import numpy as np

    from hw_kafka_flink_health_spark.operators.multimodal import (
        decode_codec_stats,
        synthesize_codec_assets,
    )

    docs = spark.range(20).selectExpr("id AS doc_id")
    rows = {r["asset_id"]: r for r in decode_codec_stats(synthesize_codec_assets(docs)).collect()}
    assert len(rows) == 20
    for did in range(20):
        r = rows[did]
        if did % 2 == 0:
            w, h = 8 + did % 5, 6 + did % 3
            px = (did * 31 + np.arange(w * h * 3)) % 256
            assert (r["modality"], r["width"], r["height"]) == ("image", w, h)
            assert (r["n_values"], r["sum_values"], r["extreme"]) == (
                px.size,
                int(px.sum()),
                int(px.max()),
            )
        else:
            n = 64 + did % 50
            s = (did * 7 + np.arange(n) * 13) % 2048 - 1024
            assert (r["modality"], r["width"], r["height"]) == ("audio", 0, 0)
            assert (r["n_values"], r["sum_values"], r["extreme"]) == (
                n,
                int(s.sum()),
                int(np.abs(s).max()),
            )


@pytest.mark.parametrize("grid", [2, 3, 8])
def test_tile_codec_images_matches_pixel_formula(spark, grid):
    """tile_codec_images must reproduce the synth pixel formula tiled by
    (scanline, column) for any grid — including grid > min(w, h), where
    empty tiles are OMITTED (GROUP BY semantics) and per-image counts
    still total w*h."""
    from hw_kafka_flink_health_spark.operators.multimodal import (
        synthesize_codec_assets,
        tile_codec_images,
    )

    docs = load_table(spark, SF, "documents").limit(12)
    got = {
        (r["asset_id"], r["tile_row"], r["tile_col"]): r
        for r in tile_codec_images(
            synthesize_codec_assets(docs), grid=grid
        ).collect()
    }
    assert got, "no image assets decoded"
    per_image_cnt: dict[int, int] = {}
    want: dict[tuple, tuple[int, int]] = {}
    for aid in {k[0] for k in got}:
        w, h = 8 + aid % 5, 6 + aid % 3
        for j in range(w * h):
            g = sum((aid * 31 + 3 * j + c) % 256 for c in range(3))
            key = (aid, ((j // w) * grid) // h, ((j % w) * grid) // w)
            s, n = want.get(key, (0, 0))
            want[key] = (s + g, n + 1)
    assert set(got) == set(want), "empty tiles must be omitted, none missing"
    for key, (s, n) in want.items():
        r = got[key]
        assert (r["t_sum"], r["t_cnt"]) == (s, n), (key, r)
        per_image_cnt[key[0]] = per_image_cnt.get(key[0], 0) + r["t_cnt"]
    for aid, total in per_image_cnt.items():
        assert total == (8 + aid % 5) * (6 + aid % 3)
    for r in got.values():
        assert r["t_cnt"] > 0
