"""Pure-Python image codec (operators/multimodal): header parse for all
four formats and PNG round-trip through every scanline filter — no
PIL/libav anywhere."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from mle_proj_datapipeline_spark.operators.multimodal import (
    PNG_SIG,
    parse_image_header,
    png_decode,
    png_encode,
)


def test_parse_headers_all_formats():
    png = png_encode(np.zeros((5, 9, 3), dtype=np.uint8))
    assert parse_image_header(png) == ("png", 9, 5)

    jpeg = (
        b"\xff\xd8\xff\xe0" + struct.pack(">H", 4) + b"JF"  # APP0 to skip
        + b"\xff\xc2" + struct.pack(">H", 11) + bytes([8])
        + struct.pack(">HH", 33, 44) + bytes([1, 1, 0x11, 0]) + b"\xff\xd9"
    )
    assert parse_image_header(jpeg) == ("jpeg", 44, 33)

    gif = b"GIF89a" + struct.pack("<HH", 120, 77) + b"\x00" * 8
    assert parse_image_header(gif) == ("gif", 120, 77)

    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 31, -17) + b"\x00" * 8
    assert parse_image_header(bmp) == ("bmp", 31, 17)  # negative h = top-down

    assert parse_image_header(b"not an image at all") is None
    assert parse_image_header(b"") is None


@pytest.mark.parametrize("channels", [1, 3, 4])
def test_png_roundtrip(channels):
    rng = np.random.default_rng(channels)
    arr = rng.integers(0, 256, size=(13, 7, channels), dtype=np.uint8)
    assert np.array_equal(png_decode(png_encode(arr)), arr)


def _filtered_png(arr: np.ndarray, ftype: int) -> bytes:
    """Encode ``arr`` (h, w, c) using one fixed filter type on every
    scanline — exercises the decoder's un-filter paths the filter-0
    encoder never emits."""
    h, w, c = arr.shape
    stride = w * c
    flat = arr.reshape(h, stride).astype(np.int16)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int16)
    for y in range(h):
        line = flat[y]
        out = np.empty(stride, dtype=np.int16)
        for x in range(stride):
            a = int(line[x - c]) if x >= c else 0
            up = int(prev[x])
            ul = int(prev[x - c]) if x >= c else 0
            if ftype == 1:
                pred = a
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (a + up) >> 1
            else:  # Paeth
                p = a + up - ul
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - ul)
                pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
            out[x] = (int(line[x]) - pred) & 0xFF
        raw.append(ftype)
        raw.extend(out.astype(np.uint8).tobytes())
        prev = line

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 3: 2, 4: 6}[c], 0, 0, 0)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("ftype", [1, 2, 3, 4])
def test_png_decode_all_filters(ftype):
    rng = np.random.default_rng(ftype)
    arr = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    assert np.array_equal(png_decode(_filtered_png(arr, ftype)), arr)


def test_wav_roundtrip_mono():
    from mle_proj_datapipeline_spark.operators.multimodal import parse_wav, wav_encode

    samples = np.array([0, 100, -100, 32767, -32768], dtype=np.int16)
    sr, ch, bits, got = parse_wav(wav_encode(samples, 16000))
    assert (sr, ch, bits) == (16000, 1, 16)
    assert np.array_equal(got, samples)


def test_parse_wav_rejects_non_pcm():
    from mle_proj_datapipeline_spark.operators.multimodal import parse_wav

    assert parse_wav(b"junkbytes") is None
    assert parse_wav(b"RIFF\x00\x00\x00\x00WAVE") is None


def test_audio_features_stereo_duration(spark):
    """ADVICE regression: a stereo WAV's n_samples/duration must count
    FRAMES (interleaved samples / n_channels), not raw samples."""
    import struct

    from mle_proj_datapipeline_spark.operators.multimodal import audio_features

    # Hand-build a 2-channel PCM WAV: 8 interleaved int16 samples = 4 frames.
    pcm = np.array([100, -100, 200, -200, 300, -300, 400, -400], dtype="<i2").tobytes()
    sr = 8000
    stereo = (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, sr, sr * 4, 4, 16)
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    df = spark.createDataFrame([(1, bytearray(stereo))], "doc_id long, media binary")
    [row] = audio_features(df).collect()
    assert row["n_samples"] == 4
    assert row["duration_ms"] == pytest.approx(4 * 1000.0 / sr)
    assert row["peak"] == 400


def test_png_decode_rejects_interlaced():
    """ADVICE regression: Adam7 PNGs must raise (-> NULL media), not
    silently decode garbage."""
    arr = np.zeros((4, 4, 3), dtype=np.uint8)
    good = png_encode(arr)
    # Flip the IHDR interlace byte (last byte of the 13-byte IHDR body)
    # and fix up the chunk CRC so only the interlace flag differs.
    ihdr_start = 8 + 8  # sig + len/type
    body = bytearray(good)
    body[ihdr_start + 12] = 1
    crc = zlib.crc32(b"IHDR" + bytes(body[ihdr_start : ihdr_start + 13])) & 0xFFFFFFFF
    body[ihdr_start + 13 : ihdr_start + 17] = struct.pack(">I", crc)
    with pytest.raises(ValueError, match="interlaced"):
        png_decode(bytes(body))


def test_avi_roundtrip_demux():
    from mle_proj_datapipeline_spark.operators.multimodal import (
        avi_encode,
        avi_frames,
        parse_avi_header,
    )

    frames = [png_encode(np.full((3, 5), g, dtype=np.uint8)) for g in (10, 20, 30)]
    blob = avi_encode(frames, 5, 3, fps=12)
    assert parse_avi_header(blob) == (5, 3, 3, 12)
    got = list(avi_frames(blob))
    assert got == frames
    # odd-length frame payloads must survive the word-alignment padding
    odd = [b"x" * 7, b"y" * 9]
    blob2 = avi_encode(odd, 1, 1, fps=8)
    assert list(avi_frames(blob2)) == odd


def test_sample_frames_every_n(spark):
    from mle_proj_datapipeline_spark.operators.multimodal import (
        avi_encode,
        sample_frames,
    )

    frames = [png_encode(np.full((2, 2), 50 + k, dtype=np.uint8)) for k in range(5)]
    blob = avi_encode(frames, 2, 2, fps=24)
    df = spark.createDataFrame([(7, bytearray(blob))], "doc_id long, media binary")
    rows = sorted(sample_frames(df, every_n=2).collect(), key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in rows] == [0, 2, 4]
    assert [r["mean_px"] for r in rows] == [50.0, 52.0, 54.0]
    assert all((r["width"], r["height"], r["n_frames"], r["fps"]) == (2, 2, 5, 24) for r in rows)

    # non-AVI payload -> zero rows, job survives
    bad = spark.createDataFrame([(8, bytearray(b"junk"))], "doc_id long, media binary")
    assert sample_frames(bad).count() == 0
