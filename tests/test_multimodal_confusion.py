"""Cross-format confusion matrix for the multimodal decode kernels
(VERDICT r04 item 7): a payload of kind X landing in a row tagged
kind Y must quarantine with the right error class — never a wrong
decode, never a silent fake-feature fallback when the magic is one
this container actually recognizes.

Grid axes: row ``kind`` (image / audio) × payload format (BMP, P6-PPM,
PNG, JPEG, GIF, RIFF/WAVE, unknown). Plus header-vs-payload confusion
inside WAV (PCM claim over float data, float claim with illegal
width, inconsistent block align), and the formats recognized but not
decoded here (JPEG, GIF, every WAVE format tag but PCM and float):
DecodeUnavailable.
"""

import os
import struct

import pytest

from oct_report_ocr_spark.sources import multimodal as M

from .conftest import FIXTURES

# minimal JPEG header: the magic is all the sniff and the decoders
# look at
JPEG = b"\xff\xd8\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00\xff\xd9"

IMAGE_PAYLOADS = {
    "bmp": lambda: M.make_bmp(6, 4, seed=1),
    "ppm": lambda: M.make_ppm(6, 4, seed=2),
    "png": lambda: M.make_png(6, 4, seed=3),
    "jpeg": lambda: JPEG,
}


def _raw_wav(tag: int, bits: int, block: int, data: bytes, ext: bytes = b"") -> bytes:
    """A mono 8 kHz RIFF/WAVE with the given format tag; ``ext`` is
    appended to the 16-byte fmt body (cbSize and what follows)."""
    fmt = struct.pack("<HHIIHH", tag, 1, 8000, 8000 * block, block, bits) + ext
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data + b"\x00" * (len(data) & 1)
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


# formats recognized but not decoded here: a real JPEG file, a real
# 1x1 GIF89a, and WAVs whose format tag is neither PCM nor float, each
# well-formed for its codec: MP3 (0x0055), G.711 a-law (0x0006) and
# μ-law (0x0007), IMA ADPCM (0x0011: 4-byte header + 8 nibble words
# per block), MS ADPCM (0x0002: 7-byte header + 7 nibble bytes per
# block) and WAVE_FORMAT_EXTENSIBLE (0xFFFE) wrapping 16-bit PCM
GIF = (
    b"GIF89a\x01\x00\x01\x00\x80\x00\x00\xff\xff\xff\x00\x00\x00"
    b"!\xf9\x04\x01\x00\x00\x00\x00,\x00\x00\x00\x00\x01\x00\x01\x00\x00"
    b"\x02\x02D\x01\x00;"
)
with open(os.path.join(FIXTURES, "multimodal", "rgb_420_20x14.jpg"), "rb") as _f:
    UNDECODED_IMAGES = {"jpeg": _f.read(), "gif": GIF}
_KSDATAFORMAT_PCM = b"\x01\x00\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
UNDECODED_AUDIO = {
    "mp3": _raw_wav(0x0055, 16, 2, bytes(64)),
    "alaw": _raw_wav(0x0006, 8, 1, bytes(range(64))),
    "mulaw": _raw_wav(0x0007, 8, 1, bytes(range(64))),
    "ima_adpcm": _raw_wav(0x0011, 4, 36, bytes(72)),
    "ms_adpcm": _raw_wav(0x0002, 4, 14, bytes(28)),
    "extensible": _raw_wav(
        0xFFFE, 16, 2, bytes(64), ext=struct.pack("<HHI", 22, 16, 0) + _KSDATAFORMAT_PCM
    ),
}


# ---- cross-kind: recognized magic in the wrong row kind ----


@pytest.mark.parametrize("fmt", sorted(IMAGE_PAYLOADS))
def test_image_payload_in_audio_row_quarantines(fmt):
    with pytest.raises(M.CorruptAudio, match="image payload"):
        M.decode_audio(IMAGE_PAYLOADS[fmt]())


def test_audio_payload_in_image_row_quarantines():
    with pytest.raises(M.CorruptImage, match="RIFF/WAVE"):
        M.decode_image(M.make_wav(50))


def test_unknown_magic_stays_decode_unavailable():
    """Unrecognized formats keep the honest DecodeUnavailable path in
    BOTH kinds (fake-feature fallback downstream) — the sniff only
    fires on magics this container can really decode."""
    mp3ish = b"\xff\xfb\x90\x00" + bytes(64)  # MPEG audio frame sync
    with pytest.raises(M.DecodeUnavailable):
        M.decode_image(mp3ish)
    with pytest.raises(M.DecodeUnavailable):
        M.decode_audio(mp3ish)


def test_riff_avi_is_not_sniffed_as_audio():
    """RIFF is a container family; only RIFF+WAVE means audio."""
    avi = b"RIFF" + struct.pack("<I", 16) + b"AVI " + bytes(16)
    with pytest.raises(M.DecodeUnavailable):
        M.decode_image(avi)


# ---- header-vs-payload confusion inside one format ----


def _patch_fmt_tag(wav: bytes, new_tag: int) -> bytes:
    i = wav.index(b"fmt ")
    return wav[: i + 8] + struct.pack("<H", new_tag) + wav[i + 10 :]


def test_wav_pcm_claim_over_float_data_follows_header():
    """fmt says PCM(1), data is IEEE float32: byte-indistinguishable
    from int32 PCM, so the decoder must follow the header claim
    deterministically (no content heuristics) — and the two readings
    must actually differ, proving the header is what's honored."""
    w = M.make_wav(64, channels=1, bits=32, fmt="float")
    as_float = M.decode_audio(w)
    as_pcm = M.decode_audio(_patch_fmt_tag(w, 1))
    assert as_float[:3] == as_pcm[:3]  # rate/channels/frames from header
    assert as_float[4] != as_pcm[4]  # rms differs: interpretation followed the claim
    assert M.decode_audio(_patch_fmt_tag(w, 1)) == as_pcm  # deterministic


def test_wav_float_claim_with_pcm_width_is_unavailable():
    """fmt says float(3) but 16-bit: no such codec — honest
    DecodeUnavailable, not a garbage decode."""
    w = M.make_wav(64, channels=1, bits=16)
    with pytest.raises(M.DecodeUnavailable, match="16-bit float"):
        M.decode_audio(_patch_fmt_tag(w, 3))


def test_wav_block_align_mismatch_quarantines():
    w = bytearray(M.make_wav(64, channels=1, bits=32, fmt="float"))
    j = bytes(w).index(b"fmt ")
    struct.pack_into("<H", w, j + 8 + 12, 7)  # block_align field
    with pytest.raises(M.CorruptAudio, match="block align"):
        M.decode_audio(bytes(w))


def test_undecoded_formats_are_decode_unavailable():
    """JPEG and GIF images and WAVs of any format tag but PCM and float
    have no decoder here: the pure decoders raise DecodeUnavailable,
    never CorruptImage / CorruptAudio or a decode."""
    for payload in UNDECODED_IMAGES.values():
        for decode in (M.decode_image, M._decode_rgb_array, lambda b: M.sample_frames(b, 2)):
            with pytest.raises(M.DecodeUnavailable):
                decode(payload)
    for payload in UNDECODED_AUDIO.values():
        for decode in (M._wav_samples, M.decode_audio, lambda b: M.audio_envelope(b, 4)):
            with pytest.raises(M.DecodeUnavailable):
                decode(payload)


# ---- the distributed path: quarantine column, not exceptions ----


def test_featurize_confusion_grid_lands_in_quarantine(spark):
    """Through the real media kernel: mislabeled rows produce
    decode_error rows with the right class name; the job never fails,
    correctly-labeled neighbors in the same batch are untouched."""
    rows = [
        (1, "image", M.make_wav(50), "decode:CorruptImage"),
        (2, "audio", M.make_png(6, 4, seed=3), "decode:CorruptAudio"),
        (3, "audio", JPEG, "decode:CorruptAudio"),
        (4, "image", M.make_bmp(6, 4, seed=1)[:40], "decode:CorruptImage"),
        (5, "image", M.make_png(6, 4, seed=3), None),  # control
        (6, "audio", M.make_wav(50), None),  # control
        (7, "image", b"\xff\xfb\x90\x00" + bytes(64), None),  # unknown → fake
    ]
    df = spark.createDataFrame(
        [(i, k, bytearray(c), None) for i, k, c, _ in rows],
        schema=M.MEDIA_SCHEMA_DDL,
    )
    got = {r.media_id: r for r in M.featurize(df.repartition(2)).collect()}
    for media_id, _, _, want_err in rows:
        assert got[media_id].decode_error == want_err, media_id
        if want_err is None:
            assert got[media_id].feature is not None
        else:
            assert got[media_id].feature is None


def test_undecoded_formats_through_the_stages(spark):
    """Through the stages, an undecoded format takes the fake-feature
    path in featurize (decode_error null) and quarantines as
    decode:DecodeUnavailable in resize / envelope; a JPEG or GIF magic
    in an audio row is still mislabeled data (CorruptAudio)."""
    rows = [(f"image-{k}", "image", b) for k, b in UNDECODED_IMAGES.items()]
    rows += [(f"audio-{k}", "audio", b) for k, b in UNDECODED_AUDIO.items()]
    rows += [(f"mislabeled-{k}", "audio", b) for k, b in UNDECODED_IMAGES.items()]
    df = spark.createDataFrame(
        [(i, k, bytearray(b), None) for i, (_, k, b) in enumerate(rows)],
        schema=M.MEDIA_SCHEMA_DDL,
    )
    feats = {r.media_id: r for r in M.featurize(df.repartition(2)).collect()}
    staged = {
        r.media_id: r.decode_error
        for stage in (M.resize(df.repartition(2), 4, 4), M.envelope(df, n_windows=4))
        for r in stage.collect()
    }
    for i, (name, _, payload) in enumerate(rows):
        if name.startswith("mislabeled"):
            assert feats[i].decode_error == "decode:CorruptAudio", name
            assert staged[i] == "decode:CorruptAudio", name
        else:
            assert feats[i].decode_error is None, name
            assert list(feats[i].feature) == pytest.approx(M.fake_feature(payload)), name
            assert staged[i] == "decode:DecodeUnavailable", name
