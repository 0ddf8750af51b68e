"""Multimodal columns: opaque binary payloads + typed metadata.

Contract (MULTIMODAL_ASSET_SCHEMA in schemas.py): image/audio/video travel
as `binary` columns; decode / feature-extract / resize / frame-sample run
as Arrow-batched pandas functions over ``mapInPandas`` so each Python
worker sees a columnar batch, never a row at a time.

Compressed codecs need image/audio libraries the package does not depend
on, so `fake_decode` is the deterministic stand-in `extract_features`
runs (uncompressed BMP and WAV have real codecs below) — it
exercises the REAL Spark plumbing (schema, partitioning, UDF
signature, Arrow batch shape) with a fake pixel-stats computation derived
from the payload bytes.

Extension surface (SURVEY §2.C): driver-mandated multimodal columns; the reference is text/JSON-only (SURVEY §1.2).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Output schema of the feature-extraction stage.
FEATURE_SCHEMA = (
    "asset_id long, modality string, byte_len long, "
    "feat_mean double, feat_std double, feat_dim int"
)


def attach_payload_metadata(assets: DataFrame) -> DataFrame:
    """Cheap JVM-side metadata: byte length + content hash (no decode)."""
    return assets.withColumn("byte_len", F.octet_length(F.col("payload")).cast("long")).withColumn(
        "content_md5", F.md5(F.col("payload"))
    )


def fake_decode(payload: bytes) -> list[float]:
    """Deterministic stand-in for a real image/audio decoder.

    Derives a fixed-length feature vector from payload bytes — stable
    across runs/partitions so tests can assert exact values.
    """
    if payload is None:
        return []
    step = max(1, len(payload) // 16)
    return [float(payload[i]) for i in range(0, min(len(payload), 16 * step), step)][:16]


# --- Real, dependency-free container codecs (public formats: Windows
# BITMAPINFOHEADER BMP and RIFF/WAVE PCM). These make the decode stage of
# the multimodal pipeline fully real in this container: headers, row
# padding, bottom-up row order, BGR channel order, and RIFF chunk walking
# are all exercised, not faked.


def encode_bmp24(width: int, height: int, pixels: bytes) -> bytes:
    """Encode top-down row-major RGB triples (len == w*h*3) as a standard
    24-bit uncompressed BMP: BITMAPFILEHEADER + BITMAPINFOHEADER, rows
    stored bottom-up, each padded to a 4-byte boundary, channels as BGR."""
    import struct

    row_raw = width * 3
    pad = (4 - row_raw % 4) % 4
    img_size = (row_raw + pad) * height
    data_offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", data_offset + img_size, 0, 0, data_offset)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = []
    for y in range(height - 1, -1, -1):
        row = pixels[y * row_raw : (y + 1) * row_raw]
        bgr = b"".join(row[i : i + 3][::-1] for i in range(0, row_raw, 3))
        rows.append(bgr + b"\x00" * pad)
    return header + dib + b"".join(rows)


def parse_bmp24(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a 24-bit uncompressed BMP -> (width, height, top-down
    row-major RGB bytes). Handles the data-offset indirection, 4-byte row
    padding, bottom-up (h > 0) vs top-down (h < 0) storage, and the
    BGR->RGB channel flip."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload (missing 'BM' magic)")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    w = struct.unpack_from("<i", payload, 18)[0]
    h = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, compression={compression})")
    top_down, ah = h < 0, abs(h)
    row_raw = w * 3
    row_size = (row_raw + 3) // 4 * 4
    rows = []
    for i in range(ah):
        off = data_offset + i * row_size
        row = payload[off : off + row_raw]
        rows.append(b"".join(row[j : j + 3][::-1] for j in range(0, row_raw, 3)))
    if not top_down:
        rows.reverse()
    return w, ah, b"".join(rows)


def encode_wav_pcm16(samples, *, sample_rate: int = 16000) -> bytes:
    """Encode int16 samples as a standard mono RIFF/WAVE PCM16 file. A
    deliberately odd-sized LIST chunk precedes the data chunk so parsers
    must really walk (and word-align) chunks instead of assuming a fixed
    44-byte layout."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *[int(s) for s in samples])
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    junk = b"INFOcomment"  # odd length: exercises the word-align rule
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"LIST" + struct.pack("<I", len(junk)) + junk + b"\x00"
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def parse_wav_pcm16(payload: bytes):
    """Parse a RIFF/WAVE PCM16 payload -> (sample_rate, int16 numpy array).
    Walks the chunk list (skipping unknown chunks, honoring the odd-size
    word-align rule) rather than assuming the canonical 44-byte header."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_format, channels, rate, _, _, bits = struct.unpack_from("<HHIIHH", body)
            if audio_format != 1 or channels != 1 or bits != 16:
                raise ValueError(
                    f"unsupported WAV variant (fmt={audio_format}, ch={channels}, bits={bits})"
                )
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV payload missing fmt/data chunk")
    return rate, np.frombuffer(data, dtype="<i2")


def extract_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over mapInPandas.

    Per-batch (not per-row) Python: each iteration receives a columnar
    pandas batch; `fake_decode` runs once per asset; summary stats are
    vectorized. Partitioning is preserved — no shuffle is introduced.
    """
    import numpy as np

    from hw_kafka_flink_health_spark.pyship import ship_package

    ship_package(assets.sparkSession)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [fake_decode(p) for p in pdf["payload"]]
            means = [float(np.mean(f)) if f else 0.0 for f in feats]
            stds = [float(np.std(f)) if f else 0.0 for f in feats]
            dims = [len(f) for f in feats]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "byte_len": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "feat_mean": means,
                    "feat_std": stds,
                    "feat_dim": dims,
                }
            )

    return assets.mapInPandas(op, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = (
    "asset_id long, modality string, width int, height int, payload binary"
)


def resize_images(
    assets: DataFrame,
    *,
    target_w: int = 64,
    target_h: int = 64,
) -> DataFrame:
    """Resize stage: mapInPandas, one Arrow batch at a time.

    With no real codec in this environment, the resample is a
    deterministic byte-stride downsample of the payload (same shape of
    work as a real resize: decode -> resample -> re-encode). The
    Spark-side plumbing — schema, batch iteration, binary columns in
    Arrow — is the real thing.
    """
    from hw_kafka_flink_health_spark.pyship import ship_package

    ship_package(assets.sparkSession)
    n_out = target_w * target_h // 64  # fake pixel budget in bytes

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for p in pdf["payload"]:
                if p is None or len(p) == 0:
                    outs.append(b"")
                else:
                    step = max(1, len(p) // n_out)
                    outs.append(bytes(p[::step][:n_out]))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "width": target_w,
                    "height": target_h,
                    "payload": outs,
                }
            )

    return assets.mapInPandas(op, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = "asset_id long, frame_idx int, frame_payload binary"


def sample_frames(assets: DataFrame) -> DataFrame:
    """Frame-sampling stage (video modality): 1 input row -> n output rows.

    Demonstrates the expanding mapInPandas shape (a flat-map, which
    grouped-map applyInPandas can't do without a synthetic key). Frames
    are deterministic equal-stride payload slices standing in for real
    keyframe extraction.
    """
    from hw_kafka_flink_health_spark.pyship import ship_package

    ship_package(assets.sparkSession)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                if p is None or len(p) == 0:
                    continue
                chunk = max(1, len(p) // 4)
                for i in range(4):
                    ids.append(aid)
                    idxs.append(i)
                    frames.append(bytes(p[i * chunk : (i + 1) * chunk]))
            yield pd.DataFrame(
                {"asset_id": ids, "frame_idx": idxs, "frame_payload": frames}
            )

    return assets.filter(F.col("modality") == "video").mapInPandas(op, schema=FRAME_SCHEMA)


CODEC_ASSET_SCHEMA = "asset_id long, modality string, payload binary"
CODEC_STATS_SCHEMA = (
    "asset_id long, modality string, width int, height int, "
    "n_values long, sum_values long, extreme long"
)


def synthesize_codec_assets(documents: DataFrame) -> DataFrame:
    """Ingest stage: one REAL container payload per document — even
    doc_ids become 24-bit BMPs, odd doc_ids mono PCM16 WAVs. Pixel and
    sample values are deterministic integer functions of doc_id (so an
    external SQL oracle can replay the decoded statistics exactly):

      image: w = 8 + id%5, h = 6 + id%3, pixel[i] = (id*31 + i) % 256
      audio: n = 64 + id%50, sample[i] = (id*7 + i*13) % 2048 - 1024

    mapInPandas over Arrow batches; numpy generates the value arrays, the
    pure-Python codecs wrap them in real headers."""
    import numpy as np

    from hw_kafka_flink_health_spark.pyship import ship_package

    ship_package(documents.sparkSession)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                if did % 2 == 0:
                    w, h = 8 + did % 5, 6 + did % 3
                    px = ((did * 31 + np.arange(w * h * 3)) % 256).astype(np.uint8)
                    out.append((did, "image", encode_bmp24(w, h, px.tobytes())))
                else:
                    n = 64 + did % 50
                    s = (did * 7 + np.arange(n) * 13) % 2048 - 1024
                    out.append((did, "audio", encode_wav_pcm16(s)))
            yield pd.DataFrame(out, columns=["asset_id", "modality", "payload"])

    return documents.select("doc_id").mapInPandas(op, schema=CODEC_ASSET_SCHEMA)


def decode_codec_stats(assets: DataFrame) -> DataFrame:
    """Decode stage: parse each binary payload with the REAL container
    parser for its modality (BMP header/padding/row-order walk, or WAV
    RIFF chunk walk) and emit integer statistics over the decoded values
    — exact, so value-hash-oracle-able. image: n/sum/max of pixel bytes;
    audio: n/sum of samples, max(|sample|). A wrong data offset, padding
    byte leak, or chunk mis-walk shifts n_values/sum_values and fails the
    hash."""
    import numpy as np

    from hw_kafka_flink_health_spark.pyship import ship_package

    ship_package(assets.sparkSession)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for aid, mod, p in zip(pdf["asset_id"], pdf["modality"], pdf["payload"]):
                buf = bytes(p)
                if mod == "image":
                    w, h, rgb = parse_bmp24(buf)
                    px = np.frombuffer(rgb, dtype=np.uint8).astype(np.int64)
                    out.append((aid, mod, w, h, px.size, int(px.sum()), int(px.max())))
                else:
                    _, samples = parse_wav_pcm16(buf)
                    s = samples.astype(np.int64)
                    out.append(
                        (aid, mod, 0, 0, s.size, int(s.sum()), int(np.abs(s).max()))
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "asset_id",
                    "modality",
                    "width",
                    "height",
                    "n_values",
                    "sum_values",
                    "extreme",
                ],
            )

    return assets.mapInPandas(op, schema=CODEC_STATS_SCHEMA)


def documents_as_assets(documents: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as opaque payloads.

    Lets the multimodal plumbing run against the synthetic corpus (no
    binary test fixtures exist); modality is assigned round-robin.
    """
    return documents.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime_type"),
    )


# --- raw_rgb: a codec-FREE image format, so one modality's compute is
# fully real in this container (numpy only). payload = 8-byte header
# (big-endian uint32 width, height) + row-major uint8 RGB bytes.

RAW_RGB_RESIZE_SCHEMA = (
    "asset_id long, width int, height int, mean_r double, mean_g double, "
    "mean_b double, payload binary"
)


def encode_raw_rgb(arr) -> bytes:
    """(h, w, 3) uint8 array -> raw_rgb payload bytes."""
    import struct

    h, w = arr.shape[0], arr.shape[1]
    return struct.pack(">II", w, h) + arr.astype("uint8").tobytes()


def decode_raw_rgb(payload: bytes):
    """raw_rgb payload -> (h, w, 3) uint8 numpy array."""
    import struct

    import numpy as np

    w, h = struct.unpack(">II", payload[:8])
    return np.frombuffer(payload[8:8 + w * h * 3], dtype=np.uint8).reshape(h, w, 3)


def resize_raw_rgb(
    assets: DataFrame,
    *,
    target_w: int = 32,
    target_h: int = 32,
) -> DataFrame:
    """REAL image resize + channel statistics over the raw_rgb format:
    numpy nearest-neighbor via index-grid fancy indexing (the O(out_pixels)
    resample a real pipeline runs before feature extraction), per Arrow
    batch. No codec library involved — this is the proof that the
    mapInPandas multimodal path carries real pixel work end to end; the
    injectable-decoder gate remains only for COMPRESSED formats
    (jpeg/png/wav), whose codecs this container lacks."""
    import numpy as np

    from hw_kafka_flink_health_spark.pyship import ship_package

    ship_package(assets.sparkSession)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                img = decode_raw_rgb(bytes(p))
                h, w = img.shape[0], img.shape[1]
                ys = (np.arange(target_h) * h // target_h).astype(np.int64)
                xs = (np.arange(target_w) * w // target_w).astype(np.int64)
                small = img[ys][:, xs]
                means = small.reshape(-1, 3).mean(axis=0)
                out.append(
                    (
                        aid,
                        target_w,
                        target_h,
                        float(means[0]),
                        float(means[1]),
                        float(means[2]),
                        encode_raw_rgb(small),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "asset_id",
                    "width",
                    "height",
                    "mean_r",
                    "mean_g",
                    "mean_b",
                    "payload",
                ],
            )

    return assets.mapInPandas(op, schema=RAW_RGB_RESIZE_SCHEMA)


def resize_raw_rgb_arrow(
    assets: DataFrame,
    *,
    target_w: int = 32,
    target_h: int = 32,
) -> DataFrame:
    """`mapInArrow` twin of `resize_raw_rgb` — the fastest Python escape
    hatch for BINARY payloads. mapInPandas boxes every payload into a
    Python bytes object inside a pandas object column; mapInArrow hands
    the UDF the raw Arrow RecordBatch, so payload bytes stay in Arrow
    buffers (zero-copy via `memoryview`) until the pixel math needs them,
    and results are assembled straight into Arrow arrays. Same exact
    semantics — pinned byte-for-byte against the pandas tier by
    tests/test_multimodal.py::test_raw_rgb_arrow_tier_parity."""
    import numpy as np
    import pyarrow as pa

    from hw_kafka_flink_health_spark.pyship import ship_package

    ship_package(assets.sparkSession)

    def op(batches):
        for batch in batches:
            ids = batch.column("asset_id")
            payloads = batch.column("payload")
            out_ids, means, payload_out = [], [], []
            for aid, p in zip(ids, payloads):
                img = decode_raw_rgb(memoryview(p.as_buffer()))
                h, w = img.shape[0], img.shape[1]
                ys = (np.arange(target_h) * h // target_h).astype(np.int64)
                xs = (np.arange(target_w) * w // target_w).astype(np.int64)
                small = img[ys][:, xs]
                out_ids.append(aid.as_py())
                means.append(small.reshape(-1, 3).mean(axis=0))
                payload_out.append(encode_raw_rgb(small))
            n = len(out_ids)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, pa.int64()),
                    pa.array([target_w] * n, pa.int32()),
                    pa.array([target_h] * n, pa.int32()),
                    pa.array([float(m[0]) for m in means], pa.float64()),
                    pa.array([float(m[1]) for m in means], pa.float64()),
                    pa.array([float(m[2]) for m in means], pa.float64()),
                    pa.array(payload_out, pa.binary()),
                ],
                names=["asset_id", "width", "height", "mean_r", "mean_g", "mean_b", "payload"],
            )

    return assets.mapInArrow(op, schema=RAW_RGB_RESIZE_SCHEMA)


AUDIO_FEATURE_SCHEMA = (
    "asset_id long, n_samples long, rms double, zero_crossing_rate double, "
    "peak double"
)


def audio_features_pcm16(assets: DataFrame) -> DataFrame:
    """REAL audio features over raw little-endian PCM16 payloads: RMS
    level, zero-crossing rate, and normalized peak — the standard
    silence/clipping screens a speech-data pipeline runs before
    transcription. numpy over Arrow batches, codec-free (PCM needs no
    decoder), so the audio modality's compute is as real as raw_rgb's."""
    import numpy as np

    from hw_kafka_flink_health_spark.pyship import ship_package

    ship_package(assets.sparkSession)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                x = np.frombuffer(bytes(p), dtype="<i2").astype(np.float64) / 32768.0
                n = x.size
                if n == 0:
                    out.append((aid, 0, 0.0, 0.0, 0.0))
                    continue
                rms = float(np.sqrt(np.mean(x * x)))
                zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) if n > 1 else 0.0
                out.append((aid, n, rms, zcr, float(np.abs(x).max())))
            yield pd.DataFrame(
                out,
                columns=["asset_id", "n_samples", "rms", "zero_crossing_rate", "peak"],
            )

    return assets.mapInPandas(op, schema=AUDIO_FEATURE_SCHEMA)


VIDEO_FRAME_SCHEMA = (
    "asset_id long, frame_idx int, mean_r double, mean_g double, mean_b double, "
    "motion double"
)


def video_frame_stats_raw(
    assets: DataFrame,
    *,
    frame_w: int,
    frame_h: int,
) -> DataFrame:
    """REAL video analysis over raw concatenated RGB frames (payload =
    k frames of w*h*3 uint8, no container format): per-frame channel
    means plus frame-to-frame motion (mean absolute pixel delta vs the
    previous frame — the cheap scene-cut / static-clip signal a video
    curation pipeline thresholds on). One input row expands to one row
    per frame (flat-map shape); all math is numpy over Arrow batches."""
    import numpy as np

    from hw_kafka_flink_health_spark.pyship import ship_package

    ship_package(assets.sparkSession)
    fbytes = frame_w * frame_h * 3

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                buf = bytes(p)
                k = len(buf) // fbytes
                prev = None
                for i in range(k):
                    fr = np.frombuffer(
                        buf[i * fbytes : (i + 1) * fbytes], dtype=np.uint8
                    ).astype(np.float64)
                    means = fr.reshape(-1, 3).mean(axis=0)
                    motion = (
                        float(np.abs(fr - prev).mean()) if prev is not None else 0.0
                    )
                    prev = fr
                    out.append(
                        (aid, i, float(means[0]), float(means[1]), float(means[2]), motion)
                    )
            yield pd.DataFrame(
                out,
                columns=["asset_id", "frame_idx", "mean_r", "mean_g", "mean_b", "motion"],
            )

    return assets.mapInPandas(op, schema=VIDEO_FRAME_SCHEMA)


AUDIO_SPECTRUM_SCHEMA = (
    "asset_id long, n_samples long, dominant_hz double, dominant_power double, "
    "spectral_centroid_hz double, band_low_frac double, band_mid_frac double, "
    "band_high_frac double"
)


def audio_spectrum_pcm16(assets: DataFrame, *, sample_rate: int = 16000) -> DataFrame:
    """REAL spectral analysis over raw PCM16: one rFFT per clip yields the
    dominant frequency + its power share, the spectral centroid, and the
    energy split across low (<300 Hz) / mid (300-3400 Hz) / high bands —
    the screens a speech pipeline uses to drop hum, tones, and
    band-limited junk before ASR. numpy.fft over Arrow batches; per-clip
    cost is O(n log n) and clips are independent, so the stage is
    embarrassingly parallel (partition by asset)."""
    import numpy as np

    from hw_kafka_flink_health_spark.pyship import ship_package

    ship_package(assets.sparkSession)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                b = bytes(p)
                # PCM16 frames are 2 bytes; tolerate a truncated tail byte
                x = np.frombuffer(b[: len(b) // 2 * 2], dtype="<i2").astype(np.float64) / 32768.0
                n = x.size
                if n < 2:
                    out.append((aid, n, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
                    continue
                spec = np.abs(np.fft.rfft(x)) ** 2
                spec[0] = 0.0  # DC is not a "frequency"
                freqs = np.fft.rfftfreq(n, d=1.0 / sample_rate)
                total = float(spec.sum())
                if total == 0.0:
                    out.append((aid, n, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
                    continue
                k = int(spec.argmax())
                centroid = float((freqs * spec).sum() / total)
                low = float(spec[freqs < 300].sum() / total)
                mid = float(spec[(freqs >= 300) & (freqs < 3400)].sum() / total)
                high = float(spec[freqs >= 3400].sum() / total)
                out.append(
                    (aid, n, float(freqs[k]), float(spec[k] / total), centroid, low, mid, high)
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "asset_id",
                    "n_samples",
                    "dominant_hz",
                    "dominant_power",
                    "spectral_centroid_hz",
                    "band_low_frac",
                    "band_mid_frac",
                    "band_high_frac",
                ],
            )

    return assets.mapInPandas(op, schema=AUDIO_SPECTRUM_SCHEMA)


VAD_SCHEMA = (
    "asset_id long, n_frames long, n_active long, n_segments long, "
    "max_segment_frames long, total_energy long"
)


def vad_pcm16(assets: DataFrame) -> DataFrame:
    """Energy-gate VOICE ACTIVITY DETECTION over RIFF/WAVE PCM16 payloads
    — the first stage of every speech-data pipeline (silence trimming,
    speech-segment extraction before transcription). The real container
    parser walks the RIFF chunks, then numpy frames the int16 samples
    (tail partial frame dropped), computes per-frame energy Σs² as exact
    int64, gates on the threshold, and run-length-encodes the active
    frames into segments. Everything emitted is an exact integer, so the
    whole decode→frame→gate→RLE chain is value-hash-oracle-able: a DuckDB
    twin replays the deterministic sample formula independently of the
    WAV bytes, and any chunk-walk or framing bug breaks the hash."""
    import numpy as np

    from hw_kafka_flink_health_spark.pyship import ship_package

    ship_package(assets.sparkSession)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                _, s = parse_wav_pcm16(bytes(p))
                x = s.astype(np.int64)
                nf = x.size // 16
                fr = x[: nf * 16].reshape(nf, 16)
                energy = (fr * fr).sum(axis=1)
                active = energy > 5_600_000
                pad = np.concatenate(([0], active.astype(np.int64), [0]))
                d = np.diff(pad)
                starts = np.flatnonzero(d == 1)
                ends = np.flatnonzero(d == -1)
                seg_lens = ends - starts
                out.append(
                    (
                        aid,
                        int(nf),
                        int(active.sum()),
                        int(seg_lens.size),
                        int(seg_lens.max()) if seg_lens.size else 0,
                        int(energy.sum()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "asset_id",
                    "n_frames",
                    "n_active",
                    "n_segments",
                    "max_segment_frames",
                    "total_energy",
                ],
            )

    return assets.mapInPandas(op, schema=VAD_SCHEMA)


PHASH_SCHEMA = "asset_id long, w long, h long, phash long"


def phash_codec_images(assets: DataFrame) -> DataFrame:
    """Perceptual average-hash over REAL decoded BMP pixels — the image
    near-dup fingerprint (aHash family): bucket the grayscale stream
    into 16 contiguous index ranges and set bit b iff bucket
    b's mean exceeds the image mean. Every step is integer (gray =
    r+g+b per pixel; the mean comparison cross-multiplies: bsum * n_px >
    total * bcnt), so the 16-bit signature is engine-exact and a SQL
    oracle can replay it from the synth pixel formula — any BMP parse
    drift (offset, padding, BGR, bottom-up order) flips bits and fails
    the value hash, because unlike the order-free sum stats this
    fingerprint depends on pixel POSITIONS.

    One Arrow-batched `mapInPandas` pass (numpy bincount per image);
    at 100 TB hash-equal (or Hamming-banded) signatures become the
    dedup blocking key, exactly like SimHash does for text."""
    import numpy as np

    from hw_kafka_flink_health_spark.pyship import ship_package

    ship_package(assets.sparkSession)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                w, h, rgb = parse_bmp24(bytes(p))
                px = np.frombuffer(rgb, dtype=np.uint8).astype(np.int64)
                gray = px.reshape(-1, 3).sum(axis=1)
                n = int(gray.size)
                b = (np.arange(n) * 16) // n
                # same exactness guard as tile_codec (r12): bincount's
                # float64 accumulation is integer-exact only while a
                # bucket total stays < 2^53 (n < 2^42 at max gray 765)
                if n < 1 << 42:
                    bsum = np.bincount(
                        b, weights=gray, minlength=16
                    ).astype(np.int64)
                else:  # exact scatter fallback for absurd asset sizes
                    bsum = np.zeros(16, dtype=np.int64)
                    np.add.at(bsum, b, gray)
                bcnt = np.bincount(b, minlength=16).astype(np.int64)
                total = int(gray.sum())
                ph = 0
                for i in range(16):
                    if int(bsum[i]) * n > total * int(bcnt[i]):
                        ph |= 1 << i
                out.append((int(aid), int(w), int(h), ph))
            yield pd.DataFrame(out, columns=["asset_id", "w", "h", "phash"])

    return assets.filter(F.col("modality") == F.lit("image")).mapInPandas(
        op, schema=PHASH_SCHEMA
    )


TILE_SCHEMA = (
    "asset_id long, w long, h long, tile_row long, tile_col long, "
    "t_sum long, t_cnt long"
)


def tile_codec_images(assets: DataFrame, *, grid: int = 2) -> DataFrame:
    """Spatial tiling over REAL decoded BMP pixels — the patch-extraction
    plumbing every vision-transformer ingest pipeline needs (image ->
    grid x grid tiles -> per-tile statistics). Stricter than
    `phash_codec_images`'s 1-D index buckets: tiles are TWO-dimensional
    (tile_row from the pixel's scanline, tile_col from its column), so a
    bottom-up row-order or padding drift in the BMP walk swaps tile ROWS
    and fails the value hash even when every 1-D statistic survives.

    Per tile: exact integer gray sum + pixel count (gray = r+g+b). One
    Arrow-batched `mapInPandas` pass, numpy bincount on the flattened
    tile index — the per-image work never explodes into Spark rows. At
    100 TB the emitted (asset, tile) grid is the input to patch-level
    dedup / quality scoring, partitioned like any other fact."""
    import numpy as np

    from hw_kafka_flink_health_spark.pyship import ship_package

    ship_package(assets.sparkSession)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                w, h, rgb = parse_bmp24(bytes(p))
                px = np.frombuffer(rgb, dtype=np.uint8).astype(np.int64)
                gray = px.reshape(-1, 3).sum(axis=1)
                n = int(gray.size)
                idx = np.arange(n)
                tr = ((idx // w) * grid) // h
                tc = ((idx % w) * grid) // w
                flat = tr * grid + tc
                # np.bincount(weights=...) accumulates in float64: every
                # partial sum is an integer, so the result is exact while
                # the largest tile total stays < 2^53 — guaranteed up to
                # 2^42 pixels/image at max gray 765 (2^10). bincount is
                # several times faster than the unbuffered per-element
                # np.add.at scatter on this per-pixel hot path (review
                # r12), so the exact-but-slow scatter is only the
                # fallback for absurdly large stitched assets.
                if n < 1 << 42:
                    tsum = np.bincount(
                        flat, weights=gray, minlength=grid * grid
                    ).astype(np.int64)
                else:  # keep "exact integer gray sum" unconditional
                    tsum = np.zeros(grid * grid, dtype=np.int64)
                    np.add.at(tsum, flat, gray)
                tcnt = np.bincount(flat, minlength=grid * grid)
                for r in range(grid):
                    for c in range(grid):
                        k = r * grid + c
                        if int(tcnt[k]) == 0:
                            # grid > min(w, h) leaves tiles with no
                            # pixels: omit them, matching the GROUP BY
                            # semantics of any SQL replay (and keeping
                            # downstream t_sum/t_cnt divisions finite
                            # under ANSI mode — review r11)
                            continue
                        out.append(
                            (
                                int(aid),
                                int(w),
                                int(h),
                                r,
                                c,
                                int(tsum[k]),
                                int(tcnt[k]),
                            )
                        )
            yield pd.DataFrame(
                out,
                columns=[
                    "asset_id",
                    "w",
                    "h",
                    "tile_row",
                    "tile_col",
                    "t_sum",
                    "t_cnt",
                ],
            )

    return assets.filter(F.col("modality") == F.lit("image")).mapInPandas(
        op, schema=TILE_SCHEMA
    )
