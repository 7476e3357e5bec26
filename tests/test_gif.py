"""GIF codec (sources/gif.py): LOSSLESS round-trips across palette
sizes, interlace, the 4096-entry LZW dictionary reset, transparency
composition, multi-frame animation with offsets and disposal, and
corruption quarantine. GIF is lossless, so unlike JPEG every test pins
exact pixel equality — the paired encoder gives a closed-form oracle
with no external tooling.

Reference anchor: decoding a real compressed binary payload is the
reference's graft axis (pydicom/pdf2image,
extract_gcc_report_text_ou.py:46-56)."""

import struct

import numpy as np
import pytest

from oct_report_ocr_spark.sources import multimodal as M
from oct_report_ocr_spark.sources.gif import (
    GifError,
    decode_gif,
    decode_gif_frames,
    encode_gif,
    encode_gif_frames,
)


def _img(h, w, ncolors, seed):
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (ncolors, 3), dtype=np.uint8)
    return pal[rng.integers(0, ncolors, (h, w))]


@pytest.mark.parametrize("dims", [(1, 1), (5, 7), (16, 16), (33, 41)])
@pytest.mark.parametrize("ncolors", [2, 5, 17, 256])
def test_gif_roundtrip_lossless(dims, ncolors):
    h, w = dims
    img = _img(h, w, ncolors, seed=h * 7 + w + ncolors)
    assert np.array_equal(decode_gif(encode_gif(img)), img)


@pytest.mark.parametrize("dims", [(8, 8), (13, 21), (40, 56)])
def test_gif_interlace_bit_identical(dims):
    """Adam-style 4-pass interlace stores the same pixels in pass
    order; decode must restore natural order exactly."""
    h, w = dims
    img = _img(h, w, 64, seed=9)
    plain = encode_gif(img, interlace=False)
    inter = encode_gif(img, interlace=True)
    assert plain != inter  # genuinely different rasters ...
    assert np.array_equal(decode_gif(plain), decode_gif(inter))  # ... same pixels


def test_gif_lzw_dictionary_reset():
    """A 256-color noise image forces the 12-bit code ceiling and the
    clear-code dictionary reset mid-stream; decode stays lossless."""
    img = _img(120, 200, 256, seed=4)
    assert np.array_equal(decode_gif(encode_gif(img)), img)


# The decoder widens its code size when an add lands on 1 << width, also
# on reading the final data code, so the END code that follows must be
# written one bit wider. Both cases end the stream on a byte boundary,
# where zero padding bits cannot rescue a too-narrow END code.


def test_gif_end_code_width_regression():
    img = _img(1, 22, 2, 0)
    assert np.array_equal(decode_gif(encode_gif(img)), img)


def test_lzw_end_code_width_after_last_add_regression():
    from oct_report_ocr_spark.sources.gif import _lzw_decode, _lzw_encode

    # eleven single-symbol codes (no digram repeats): the tenth add lands
    # on 16 == 1 << 4, and clear + 3x3 + 8x4 + END bits end on byte 6
    indices = [0, 0, 1, 0, 2, 0, 3, 1, 1, 2, 1]
    assert list(_lzw_decode(_lzw_encode(indices, 2), 2, len(indices))) == indices


def test_gif_transparency_composites_background():
    """Transparent pixels show the logical-screen background (palette
    entry 0 — the encoder's background index)."""
    pal = np.array([[10, 20, 30], [200, 0, 0], [0, 200, 0]], dtype=np.uint8)
    img = pal[np.array([[1, 2, 1], [2, 1, 2]])]
    b = encode_gif(img, transparent_color=(200, 0, 0))
    dec = decode_gif(b)
    # palette order is np.unique's (sorted); background = entry 0
    frames, _, _ = decode_gif_frames(b)
    bg = frames[0][0, 0]  # a transparent position
    want = img.copy()
    want[(img == [200, 0, 0]).all(axis=2)] = bg
    assert np.array_equal(dec, want)


def test_gif_animation_frames_and_disposal():
    pal = np.array([[0, 0, 0], [255, 0, 0], [0, 0, 255]], dtype=np.uint8)
    f0 = pal[np.ones((6, 8), dtype=np.uint8)]          # red screen
    f1 = pal[np.full((2, 3), 2, dtype=np.uint8)]       # blue patch
    f2 = pal[np.zeros((1, 1), dtype=np.uint8)]         # black dot
    b = encode_gif_frames(
        [f0, f1, f2], offsets=[(0, 0), (2, 1), (7, 5)], size=(8, 6),
        disposals=[0, 2, 0],
    )
    frames, w, h = decode_gif_frames(b)
    assert (w, h) == (8, 6) and len(frames) == 3
    assert np.array_equal(frames[0], f0)
    assert np.array_equal(frames[1][1:3, 2:5], f1)     # patch drawn over
    assert np.array_equal(frames[1][0, :], f0[0, :])   # rest kept
    # disposal 2 after frame 1: its rectangle restored to background
    assert (frames[2][1:3, 2:5] == frames[2][1, 2]).all()
    assert not np.array_equal(frames[2][1:3, 2:5], f1)


def test_gif_87a_signature_accepted():
    img = _img(4, 4, 4, seed=1)
    b = bytearray(encode_gif(img))
    b[:6] = b"GIF87a"
    assert np.array_equal(decode_gif(bytes(b)), img)


def test_gif_corruption_quarantines():
    img = _img(8, 8, 16, seed=2)
    good = encode_gif(img)
    with pytest.raises(GifError, match="signature"):
        decode_gif(b"NOTGIF" + good[6:])
    with pytest.raises(GifError):
        decode_gif(good[:20])  # truncated in the color table / blocks
    with pytest.raises(GifError, match="trailer|truncated"):
        decode_gif(good[:-1])  # trailer byte gone
    # frame rectangle beyond the logical screen (descriptor sits right
    # after the 13-byte header + GCT; its size is 2^(packed&7+1) colors)
    bad = bytearray(good)
    i = 13 + 3 * (2 << (good[10] & 0x07))
    assert bad[i] == 0x2C
    struct.pack_into("<HH", bad, i + 1, 5, 5)  # shift frame to (5,5): 8x8 overflows
    with pytest.raises(GifError, match="exceeds logical screen"):
        decode_gif(bytes(bad))
    # LZW stream cut mid-frame
    with pytest.raises(GifError):
        decode_gif(good[:-10])
    # decode_image maps to the shared quarantine class
    with pytest.raises(M.CorruptImage):
        M.decode_image(good[:-10])


def test_gif_through_decode_image_and_resize():
    b = M.make_gif(9, 6, seed=2)
    w, h, r, g, bl = M.decode_image(b)
    arr = M._decode_rgb_array(b)
    assert (w, h) == (9, 6) and arr.shape == (6, 9, 3)
    means = arr.reshape(-1, 3).mean(axis=0) / 255.0
    assert abs(r - means[0]) < 1e-12
    # nearest-neighbor resize path re-encodes as P6 like the other kernels
    out = M.resize_image(b, 4, 3)
    rows = (np.arange(3) * 6) // 3
    cols = (np.arange(4) * 9) // 4
    assert out == M._encode_ppm(arr[rows][:, cols])


def test_gif_video_frame_sampling():
    """Animated GIF is a REAL container in the frame-sample path: every
    k-th composited frame, P6-encoded, exact pixels."""
    b = M.make_gif_video(6, 4, 7, seed=3)
    frames, w, h = decode_gif_frames(b)
    got = M.sample_frames(b, 2)
    assert [f[0] for f in got] == [0, 2, 4, 6]
    for idx, fw, fh, ppm in got:
        assert (fw, fh) == (6, 4)
        assert ppm == b"P6\n6 4\n255\n" + frames[idx].tobytes()


def test_gif_in_audio_row_quarantines():
    with pytest.raises(M.CorruptAudio, match="image payload"):
        M._wav_samples(M.make_gif(4, 4, seed=1))


# ---- property tests: the LZW kernel itself --------------------------------

from hypothesis import given, settings, strategies as st


@settings(max_examples=60, deadline=None)
@given(
    data=st.data(),
    min_code_size=st.integers(2, 8),
)
def test_lzw_roundtrip_property(data, min_code_size):
    """encode∘decode is the identity for any index stream whose symbols
    fit the root-code alphabet — including streams long enough to grow
    the code width and overflow the 4096-entry dictionary."""
    from oct_report_ocr_spark.sources.gif import _lzw_decode, _lzw_encode

    alphabet = 1 << min_code_size
    indices = data.draw(
        st.lists(st.integers(0, alphabet - 1), min_size=1, max_size=3000)
    )
    stream = _lzw_encode(indices, min_code_size)
    out = _lzw_decode(stream, min_code_size, len(indices))
    assert list(out) == indices


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    ncolors=st.integers(2, 256),
    interlace=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_gif_image_roundtrip_property(h, w, ncolors, interlace, seed):
    img = _img(h, w, ncolors, seed)
    assert np.array_equal(decode_gif(encode_gif(img, interlace=interlace)), img)
