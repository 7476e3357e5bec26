"""Cross-format confusion for the multimodal decode kernels (VERDICT
r04 item 7): a RIFF/WAVE payload landing in an image row must
quarantine as CorruptImage — never a wrong decode, never a silent
fake-feature fallback when the magic is one this container actually
recognizes. Unknown magics, RIFF containers other than WAVE, and the
image formats recognized but not decoded here (JPEG, GIF) are
DecodeUnavailable. Audio is not decoded at all: any payload in an
audio row, an image one included, takes featurize's digest fake.
"""

import os
import struct

import pytest

from oct_report_ocr_spark.sources import multimodal as M

from .conftest import FIXTURES

# minimal JPEG header: the magic is all the decoders look at
JPEG = b"\xff\xd8\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00\xff\xd9"

def _raw_wav(tag: int, bits: int, block: int, data: bytes) -> bytes:
    """A mono 8 kHz RIFF/WAVE with the given format tag."""
    fmt = struct.pack("<HHIIHH", tag, 1, 8000, 8000 * block, block, bits)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data + b"\x00" * (len(data) & 1)
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


# image formats recognized but not decoded here: a real JPEG file and a
# real 1x1 GIF89a
GIF = (
    b"GIF89a\x01\x00\x01\x00\x80\x00\x00\xff\xff\xff\x00\x00\x00"
    b"!\xf9\x04\x01\x00\x00\x00\x00,\x00\x00\x00\x00\x01\x00\x01\x00\x00"
    b"\x02\x02D\x01\x00;"
)
with open(os.path.join(FIXTURES, "multimodal", "rgb_420_20x14.jpg"), "rb") as _f:
    UNDECODED_IMAGES = {"jpeg": _f.read(), "gif": GIF}


# ---- cross-kind: recognized magic in the wrong row kind ----


def test_audio_payload_in_image_row_quarantines():
    with pytest.raises(M.CorruptImage, match="RIFF/WAVE"):
        M.decode_image(_raw_wav(0x0001, 16, 2, bytes(64)))


def test_unknown_magic_stays_decode_unavailable():
    """An unrecognized format keeps the honest DecodeUnavailable path
    (fake-feature fallback downstream) — the cross-kind check only
    fires on the RIFF/WAVE magic."""
    mp3ish = b"\xff\xfb\x90\x00" + bytes(64)  # MPEG audio frame sync
    with pytest.raises(M.DecodeUnavailable):
        M.decode_image(mp3ish)


def test_riff_avi_is_not_sniffed_as_audio():
    """RIFF is a container family; only RIFF+WAVE means audio."""
    avi = b"RIFF" + struct.pack("<I", 16) + b"AVI " + bytes(16)
    with pytest.raises(M.DecodeUnavailable):
        M.decode_image(avi)


def test_undecoded_formats_are_decode_unavailable():
    """JPEG and GIF images have no decoder here: the pure decoders raise
    DecodeUnavailable, never CorruptImage or a decode."""
    for payload in UNDECODED_IMAGES.values():
        for decode in (M.decode_image, M._decode_rgb_array, lambda b: M.sample_frames(b, 2)):
            with pytest.raises(M.DecodeUnavailable):
                decode(payload)


# ---- the distributed path: quarantine column, not exceptions ----


def test_featurize_confusion_grid_lands_in_quarantine(spark):
    """Through the real media kernel: mislabeled rows produce
    decode_error rows with the right class name; the job never fails,
    correctly-labeled neighbors in the same batch are untouched. Image
    payloads in audio rows are not decoded: they take the digest fake."""
    wav = _raw_wav(0x0001, 16, 2, bytes(64))
    rows = [
        (1, "image", wav, "decode:CorruptImage"),
        (2, "audio", M.make_png(6, 4, seed=3), None),  # no audio decode → fake
        (3, "audio", JPEG, None),  # no audio decode → fake
        (4, "image", M.make_bmp(6, 4, seed=1)[:40], "decode:CorruptImage"),
        (5, "image", M.make_png(6, 4, seed=3), None),  # control
        (7, "image", b"\xff\xfb\x90\x00" + bytes(64), None),  # unknown → fake
    ]
    df = spark.createDataFrame(
        [(i, k, bytearray(c), None) for i, k, c, _ in rows],
        schema=M.MEDIA_SCHEMA_DDL,
    )
    got = {r.media_id: r for r in M.featurize(df.repartition(2)).collect()}
    for media_id, kind, payload, want_err in rows:
        assert got[media_id].decode_error == want_err, media_id
        if kind == "audio":
            assert list(got[media_id].feature) == pytest.approx(M.fake_feature(payload))
        elif want_err is None:
            assert got[media_id].feature is not None
        else:
            assert got[media_id].feature is None


def test_undecoded_formats_through_the_stages(spark):
    """Through the stages, an undecoded format takes the fake-feature
    path in featurize (decode_error null) and quarantines as
    decode:DecodeUnavailable in resize; a JPEG or GIF magic in an audio
    row takes the fake too (audio is not decoded) and never reaches
    resize, which keeps the image rows only."""
    rows = [(f"image-{k}", "image", b) for k, b in UNDECODED_IMAGES.items()]
    rows += [(f"mislabeled-{k}", "audio", b) for k, b in UNDECODED_IMAGES.items()]
    df = spark.createDataFrame(
        [(i, k, bytearray(b), None) for i, (_, k, b) in enumerate(rows)],
        schema=M.MEDIA_SCHEMA_DDL,
    )
    feats = {r.media_id: r for r in M.featurize(df.repartition(2)).collect()}
    staged = {r.media_id: r.decode_error for r in M.resize(df.repartition(2), 4, 4).collect()}
    for i, (name, _, payload) in enumerate(rows):
        assert feats[i].decode_error is None, name
        assert list(feats[i].feature) == pytest.approx(M.fake_feature(payload)), name
        if name.startswith("mislabeled"):
            assert i not in staged, name
        else:
            assert staged[i] == "decode:DecodeUnavailable", name
