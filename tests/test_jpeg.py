"""JPEG codec (sources/jpeg.py): baseline round-trips across
subsampling modes, restart markers, golden-pinned committed fixtures,
corruption quarantine, honest DecodeUnavailable for unsupported modes,
and (r05) the progressive SOF2 decoder pinned bit-identical to the
baseline decode of the same pixels across spectral-selection /
successive-approximation / restart variants. The distributed-path coverage lives in
test_multimodal_streaming.py (synth_media rotates JPEG payloads
through featurize/resize).

Reference anchor: decoding a real compressed binary payload is the
reference's graft axis (pydicom/pdf2image,
extract_gcc_report_text_ou.py:46-56)."""

import hashlib
import os

import numpy as np
import pytest

from oct_report_ocr_spark.sources import multimodal as M
from oct_report_ocr_spark.sources.jpeg import (
    JpegError,
    JpegUnsupported,
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
)

FIXDIR = os.path.join(os.path.dirname(__file__), "fixtures", "multimodal")


def _ramp(h, w, seed):
    return np.frombuffer(
        bytes((seed + i) % 256 for i in range(h * w * 3)), dtype=np.uint8
    ).reshape(h, w, 3)


GOLDEN = [
    ("rgb_444_18x11.jpg", "049985250ea42f9d", 18, 11,
     0.495206972, 0.495919984, 0.491087344),
    ("rgb_420_20x14.jpg", "a8f6bb0e5d348a37", 20, 14,
     0.468179272, 0.471414566, 0.470350140),
    ("gray_12x9.jpg", "69284e4d2f4db538", 12, 9,
     0.546441540, 0.546441540, 0.546441540),
]


@pytest.mark.parametrize("name,sha,w,h,r,g,b", GOLDEN)
def test_jpeg_golden_fixtures(name, sha, w, h, r, g, b):
    raw = open(os.path.join(FIXDIR, name), "rb").read()
    assert hashlib.sha256(raw).hexdigest()[:16] == sha
    dw, dh, dr, dg, db = M.decode_image(raw)
    assert (dw, dh) == (w, h)
    assert abs(dr - r) < 1e-9 and abs(dg - g) < 1e-9 and abs(db - b) < 1e-9


@pytest.mark.parametrize("mode", ["444", "420", "gray"])
@pytest.mark.parametrize("dims", [(8, 8), (16, 24), (13, 21), (1, 1), (9, 50)])
def test_jpeg_roundtrip_tolerance(mode, dims):
    """Lossy round-trip: smooth content reconstructs within ~1.5 grey
    levels mean error; harsh mod-256 ramps (worst case for the Annex K
    tables) stay under 8. Dimensions cover non-multiple-of-8/16 edges
    (padding + crop paths)."""
    h, w = dims
    img = _ramp(h, w, seed=h * 31 + w)
    dec = decode_jpeg(encode_jpeg(img, subsampling=mode))
    assert dec.shape == (h, w, 3)
    if mode == "gray":
        ref = np.repeat(
            (0.299 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2])[
                :, :, None
            ],
            3,
            axis=2,
        )
    else:
        ref = img.astype(float)
    assert np.abs(dec.astype(float) - ref).mean() < 8.0


def test_jpeg_smooth_content_high_fidelity():
    smooth = np.tile(np.linspace(0, 255, 64, dtype=np.uint8)[None, :, None], (32, 1, 3))
    for mode in ("444", "420"):
        dec = decode_jpeg(encode_jpeg(smooth, subsampling=mode))
        assert np.abs(dec.astype(float) - smooth.astype(float)).mean() < 1.5


def test_jpeg_restart_markers_bit_identical():
    img = _ramp(40, 56, seed=9)
    base = decode_jpeg(encode_jpeg(img, "420"))
    for ri in (1, 2, 5):
        assert np.array_equal(
            decode_jpeg(encode_jpeg(img, "420", restart_interval=ri)), base
        )


def test_jpeg_corruption_quarantines():
    good = encode_jpeg(_ramp(16, 16, 3))
    with pytest.raises(JpegError, match="SOI"):
        decode_jpeg(b"\x00\x00" + good[2:])
    with pytest.raises(JpegError):
        decode_jpeg(good[:40])  # truncated mid-tables
    with pytest.raises(JpegError, match="truncated|marker|huffman"):
        decode_jpeg(good[:-30])  # entropy stream cut short
    # decode_image maps it to the shared quarantine class
    with pytest.raises(M.CorruptImage):
        M.decode_image(good[:-30])


def test_jpeg_non_baseline_raises_unavailable():
    good = encode_jpeg(_ramp(16, 16, 3))
    i = good.index(b"\xff\xc0")
    # SOF3 (lossless) stays an honest unsupported mode
    lossless = good[:i] + b"\xff\xc3" + good[i + 2 :]
    with pytest.raises(JpegUnsupported):
        decode_jpeg(lossless)
    with pytest.raises(M.DecodeUnavailable):
        M.decode_image(lossless)
    # r05: SOF2 is now DECODED; a baseline stream merely relabeled as
    # progressive carries an illegal scan header (Ss=0 with Se=63) and
    # must quarantine as corrupt rather than decode wrong
    prog = good[:i] + b"\xff\xc2" + good[i + 2 :]
    with pytest.raises(JpegError, match="DC scan must have Se=0"):
        decode_jpeg(prog)
    with pytest.raises(M.CorruptImage):
        M.decode_image(prog)


def test_jpeg_resize_path():
    b = M.make_jpeg(8, 6, seed=3)
    out = M.resize_image(b, 4, 3)
    arr = M._decode_rgb_array(b)
    rows = (np.arange(3) * 6) // 3
    cols = (np.arange(4) * 8) // 4
    assert out == M._encode_ppm(arr[rows][:, cols])


def test_jpeg_standalone_markers_in_header_skipped():
    """TEM (0x01) and stray RSTn before SOS are standalone — no length
    field. They must be skipped, not parsed as length-prefixed segments
    (which misreads rare-but-valid streams into quarantine); same for
    0xFF fill bytes between segments (ADVICE r04)."""
    img = _ramp(16, 16, 3)
    good = encode_jpeg(img)
    base = decode_jpeg(good)
    for injected in (b"\xff\x01", b"\xff\xd0", b"\xff\xd7", b"\xff\xff", b"\xff\xff\xff\x01"):
        stream = good[:2] + injected + good[2:]
        assert np.array_equal(decode_jpeg(stream), base), injected.hex()


# --- progressive (SOF2) — r05 ---------------------------------------


@pytest.mark.parametrize("mode", ["444", "420", "gray"])
@pytest.mark.parametrize("dims", [(8, 8), (16, 24), (13, 21), (1, 1), (9, 50)])
def test_progressive_decodes_bit_identical_to_baseline(mode, dims):
    """encode_jpeg_progressive shares the color path + quantization
    with encode_jpeg, so the SOF2 stream must decode to exactly the
    pixels the SOF0 stream does — a closed-form ground truth for the
    multi-scan decoder (spectral selection, successive approximation,
    EOB runs) with no external tooling."""
    h, w = dims
    img = _ramp(h, w, seed=h * 17 + w)
    base = decode_jpeg(encode_jpeg(img, subsampling=mode))
    prog = decode_jpeg(encode_jpeg_progressive(img, subsampling=mode))
    assert np.array_equal(base, prog)


def test_progressive_successive_approximation_depths():
    """Al depth 0 (no refinement scans) through 2 (two refinement
    rounds per band) all reconstruct the same coefficients."""
    img = _ramp(24, 40, seed=5)
    base = decode_jpeg(encode_jpeg(img, "420"))
    for al_dc in (0, 1, 2):
        for al_ac in (0, 1, 2):
            s = encode_jpeg_progressive(img, "420", al_dc=al_dc, al_ac=al_ac)
            assert np.array_equal(decode_jpeg(s), base), (al_dc, al_ac)


def test_progressive_restart_markers_bit_identical():
    """Per-scan restart intervals (MCU-counted in DC scans,
    block-counted in the non-interleaved AC scans) resync the bit
    reader and DC predictors without changing a pixel."""
    img = _ramp(40, 56, seed=11)
    base = decode_jpeg(encode_jpeg(img, "420"))
    for ri in (1, 3, 7):
        s = encode_jpeg_progressive(img, "420", restart_interval=ri)
        assert np.array_equal(decode_jpeg(s), base)


def test_progressive_random_content_roundtrip():
    rng = np.random.default_rng(42)
    for mode in ("444", "420", "gray"):
        img = rng.integers(0, 256, (32, 48, 3), dtype=np.uint8)
        base = decode_jpeg(encode_jpeg(img, subsampling=mode))
        prog = decode_jpeg(encode_jpeg_progressive(img, subsampling=mode))
        assert np.array_equal(base, prog)


def test_progressive_through_decode_image():
    """The Spark-side featurize path accepts SOF2 payloads now — same
    features as the baseline encoding of the same pixels."""
    img = _ramp(20, 14, seed=8)
    assert M.decode_image(encode_jpeg_progressive(img, "420")) == M.decode_image(
        encode_jpeg(img, "420")
    )


def test_progressive_corruption_quarantines():
    good = encode_jpeg_progressive(_ramp(16, 16, 3))
    with pytest.raises(JpegError):
        decode_jpeg(good[:-20])  # final scan cut short
    # missing EOI: scans parse but the frame is never committed
    with pytest.raises(JpegError):
        decode_jpeg(good[:-2])
    with pytest.raises(M.CorruptImage):
        M.decode_image(good[:-20])


def _rewrite_refinement_ac_table(stream: bytes, ta: int) -> bytes:
    """``stream`` with every AC refinement scan (Ss > 0, Ah > 0) naming
    AC table ``ta``. ``FF DA`` never occurs in entropy-coded data (a
    data ``FF`` is stuffed as ``FF 00``), so each match is an SOS."""
    out = bytearray(stream)
    pos = out.find(b"\xff\xda")
    while pos >= 0:
        ns = out[pos + 4]
        ss, ahal = out[pos + 5 + 2 * ns], out[pos + 7 + 2 * ns]
        if ss > 0 and ahal >> 4:
            out[pos + 6] = (out[pos + 6] & 0xF0) | ta  # Td/Ta of the one component
        pos = out.find(b"\xff\xda", pos + 2)
    return bytes(out)


def test_progressive_refinement_scan_missing_ac_table_quarantines():
    """A refinement AC scan naming an undefined AC table is a JpegError
    (quarantine), like a first AC scan, not a crash in the Huffman
    decoder."""
    good = M.make_jpeg_progressive(16, 16, seed=3)
    bad = _rewrite_refinement_ac_table(good, 3)  # only AC table 0 is defined
    assert bad != good
    with pytest.raises(JpegError, match="missing table"):
        decode_jpeg(bad)
    with pytest.raises(M.CorruptImage):
        M.decode_image(bad)
