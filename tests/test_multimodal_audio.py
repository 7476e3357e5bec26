"""Real WAV audio decode kernel: RIFF chunk walk, PCM 8/16/24/32 +
IEEE float 32/64, exact closed-form ground truth, stdlib-wave
cross-check, quarantine on corruption, honest DecodeUnavailable on
absent codecs, and the distributed
featurize/envelope paths exercising it end-to-end.

Reference anchor: the reference's graft axis is decoding a real binary
payload into typed columns (extract_gcc_report_text_ou.py:46-56);
WAV is the audio format that IS feasible pure stdlib+numpy here —
the audio twin of the round-4 PNG/JPEG kernels."""

import io
import struct
import wave

import numpy as np
import pytest

from oct_report_ocr_spark.sources import multimodal as M


def _truth(n_frames, channels, seed, bits, fmt):
    """Independent ground truth: the make_wav ramp, quantized the way
    the encoder quantizes, normalized the way the decoder normalizes."""
    s = np.arange(n_frames)[:, None]
    c = np.arange(channels)[None, :]
    vals = ((seed + 7 * s + 3 * c) % 509 - 254) / 254.0
    if fmt == "float":
        return vals.astype(np.float32).astype(np.float64) if bits == 32 else vals
    if bits == 8:
        return (np.round(vals * 127) + 128 - 128.0) / 128.0
    lim = (1 << (bits - 1)) - 1
    return np.round(vals * lim) / float(1 << (bits - 1))


@pytest.mark.parametrize(
    "bits,fmt",
    [(8, "pcm"), (16, "pcm"), (24, "pcm"), (32, "pcm"), (32, "float"), (64, "float")],
)
@pytest.mark.parametrize("channels", [1, 2])
def test_wav_decode_exact_all_widths(bits, fmt, channels):
    """Every supported sample width decodes to the exact closed-form
    ramp — frame count, channel split and normalization all pinned."""
    raw = M.make_wav(50, rate=22050, channels=channels, seed=9, bits=bits, fmt=fmt)
    rate, ch, samples = M._wav_samples(raw)
    assert (rate, ch) == (22050, channels)
    assert samples.shape == (50, channels)
    assert np.allclose(samples, _truth(50, channels, 9, bits, fmt), atol=1e-12)


@pytest.mark.parametrize("bits", [8, 16, 32])
def test_wav_stdlib_wave_cross_check(bits):
    """Engine-independent oracle: the stdlib wave module parses the same
    payload; raw frames reinterpreted with numpy must equal the kernel's
    pre-normalization integers exactly."""
    raw = M.make_wav(40, rate=8000, channels=2, seed=7, bits=bits, fmt="pcm")
    with wave.open(io.BytesIO(raw)) as w:
        assert (w.getframerate(), w.getnchannels(), w.getsampwidth()) == (8000, 2, bits // 8)
        frames = w.readframes(w.getnframes())
        assert w.getnframes() == 40
    if bits == 8:
        ref = (np.frombuffer(frames, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        dt = np.int16 if bits == 16 else np.int32
        ref = np.frombuffer(frames, dtype=np.dtype(dt).newbyteorder("<")).astype(
            np.float64
        ) / float(1 << (bits - 1))
    _, _, samples = M._wav_samples(raw)
    assert (samples.reshape(-1) == ref).all()


def test_wav_chunk_walk_skips_unknown_chunks():
    """A LIST/INFO chunk before fmt and an odd-sized junk chunk between
    fmt and data must be skipped (with word-alignment padding honored),
    decoding identically to the minimal layout."""
    raw = M.make_wav(21, seed=3)
    body = raw[12:]
    fmt_size = struct.unpack_from("<I", body, 4)[0]
    fmt_chunk = body[: 8 + fmt_size]
    data_chunk = body[8 + fmt_size :]
    listc = b"LIST" + struct.pack("<I", 10) + b"INFOjunk01"
    junk = b"jnk " + struct.pack("<I", 5) + b"abcde" + b"\x00"  # odd size → pad byte
    spliced = listc + fmt_chunk + junk + data_chunk
    rebuilt = b"RIFF" + struct.pack("<I", 4 + len(spliced)) + b"WAVE" + spliced
    r1, c1, s1 = M._wav_samples(raw)
    r2, c2, s2 = M._wav_samples(rebuilt)
    assert (r1, c1) == (r2, c2) and (s1 == s2).all()


def test_wav_corruption_matrix():
    """Claims-WAVE-but-malformed → CorruptAudio; not-WAVE-at-all or a
    codec this container genuinely lacks → DecodeUnavailable."""
    good = M.make_wav(16, seed=1)
    # truncated data chunk body
    with pytest.raises(M.CorruptAudio):
        M._wav_samples(good[:-8])
    # missing data chunk entirely
    with pytest.raises(M.CorruptAudio):
        M._wav_samples(good[:36])
    # zero channels
    bad = bytearray(good)
    struct.pack_into("<H", bad, 12 + 8 + 2, 0)
    with pytest.raises(M.CorruptAudio):
        M._wav_samples(bytes(bad))
    # block align disagreeing with channels*bits
    bad = bytearray(good)
    struct.pack_into("<H", bad, 12 + 8 + 12, 7)
    with pytest.raises(M.CorruptAudio):
        M._wav_samples(bytes(bad))
    # data size not a whole number of frames
    fmt_size = struct.unpack_from("<I", good, 16)[0]
    data_off = 12 + 8 + fmt_size
    bad = bytearray(good[: len(good) - 1])
    struct.pack_into("<I", bad, 4, len(bad) - 8)
    struct.pack_into("<I", bad, data_off + 4, struct.unpack_from("<I", good, data_off + 4)[0] - 1)
    with pytest.raises(M.CorruptAudio):
        M._wav_samples(bytes(bad))
    # a PCM stream relabeled MS-ADPCM (0x0002): a codec not decoded here
    bad = bytearray(good)
    struct.pack_into("<H", bad, 12 + 8, 0x0002)
    with pytest.raises(M.DecodeUnavailable):
        M._wav_samples(bytes(bad))
    # a genuinely absent codec (0x0055 = MP3-in-WAV): honest stub
    bad = bytearray(good)
    struct.pack_into("<H", bad, 12 + 8, 0x0055)
    with pytest.raises(M.DecodeUnavailable):
        M._wav_samples(bytes(bad))
    # not a WAV at all (MP3 magic): absent codec
    with pytest.raises(M.DecodeUnavailable):
        M._wav_samples(b"ID3\x04\x00\x00\x00\x00\x00\x00" + b"\x00" * 32)
    # RIFF but a different form (WebP): absent codec
    with pytest.raises(M.DecodeUnavailable):
        M._wav_samples(b"RIFF\x10\x00\x00\x00WEBPVP8 " + b"\x00" * 16)


def test_decode_audio_stats_exact():
    """rms/peak/zcr of a known stereo ramp match an independent numpy
    computation; duration is frames/rate exactly."""
    raw = M.make_wav(200, rate=16000, channels=2, seed=11, bits=16)
    truth = _truth(200, 2, 11, 16, "pcm")
    rate, ch, n, dur, rms, peak, zcr = M.decode_audio(raw)
    assert (rate, ch, n) == (16000, 2, 200)
    assert dur == 200 / 16000
    assert abs(rms - float(np.sqrt(np.mean(truth**2)))) < 1e-12
    assert abs(peak - float(np.max(np.abs(truth)))) < 1e-12
    mono = truth.mean(axis=1)
    want_zcr = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
    assert abs(zcr - want_zcr) < 1e-12
    feat = M.audio_feature(raw)
    assert len(feat) == 8 and feat[0] == 16000.0 and feat[7] == 0.0


def test_audio_envelope_exact():
    """Per-window RMS envelope equals a per-window recomputation from
    the decoded samples, including the ragged last window."""
    raw = M.make_wav(103, rate=8000, channels=2, seed=5, bits=24)
    rate, ch, n, env = M.audio_envelope(raw, n_windows=8)
    assert (rate, ch, n, len(env)) == (8000, 2, 103, 8)
    _, _, samples = M._wav_samples(raw)
    mono = samples.mean(axis=1)
    for k in range(8):
        lo, hi = (k * 103) // 8, ((k + 1) * 103) // 8
        assert abs(env[k] - float(np.sqrt(np.mean(mono[lo:hi] ** 2)))) < 1e-12


def test_wav_real_decode_in_distributed_path(spark):
    """synth_media's every-5th audio rows carry real WAVs (rotating
    PCM widths and float); through the media kernel they must produce
    REAL features (sample-rate prefix),
    corrupt WAVs must quarantine as CorruptAudio, and opaque audio
    bytes must keep the digest fake."""
    media = M.synth_media(spark, n=128)
    out = {r.media_id: r for r in M.featurize(media.repartition(8)).collect()}
    real = corrupt = fake = 0
    for i in range(128):
        if not (i % 16) or i % 3 != 1:
            continue
        r = out[i]
        if i % 13 == 0:
            assert r.decode_error == "decode:CorruptAudio", r
            corrupt += 1
        elif i % 5 == 0:
            assert r.decode_error is None
            bits, fmt = M.SYNTH_WAV_FORMATS[(i // 15) % len(M.SYNTH_WAV_FORMATS)]
            want = M.audio_feature(
                M.make_wav(32 + i * 3, rate=8000 + 100 * i, channels=1 + i % 2,
                           seed=i, bits=bits, fmt=fmt)
            )
            assert r.feature[0] == float(8000 + 100 * i)
            assert all(abs(a - b) < 1e-4 for a, b in zip(r.feature, want))
            real += 1
        else:
            assert r.decode_error is None
            assert all(0.0 <= x <= 1.0 for x in r.feature)  # digest fake
            fake += 1
    assert real >= 7 and corrupt >= 1 and fake >= 3


def test_envelope_distributed_with_quarantine(spark):
    """The envelope stage mirrors resize: only audio rows appear, real
    WAVs get exact envelopes, corrupt WAVs quarantine, opaque bytes
    are honest DecodeUnavailable."""
    media = M.synth_media(spark, n=128)
    out = {r.media_id: r for r in M.envelope(media.repartition(8), n_windows=6).collect()}
    assert all(i % 3 == 1 for i in out)
    real = corrupt = 0
    for i, r in out.items():
        if not (i % 16):
            assert r.decode_error == "empty"
        elif i % 13 == 0:
            assert r.decode_error == "decode:CorruptAudio"
            corrupt += 1
        elif i % 5 == 0:
            assert r.decode_error is None
            bits, fmt = M.SYNTH_WAV_FORMATS[(i // 15) % len(M.SYNTH_WAV_FORMATS)]
            rate, ch, n, env = M.audio_envelope(
                M.make_wav(32 + i * 3, rate=8000 + 100 * i, channels=1 + i % 2,
                           seed=i, bits=bits, fmt=fmt),
                n_windows=6,
            )
            assert (r.sample_rate, r.channels, r.n_frames) == (rate, ch, n)
            assert r.duration_s == n / rate
            assert all(abs(a - b) < 1e-6 for a, b in zip(r.envelope, env))
            real += 1
        else:
            assert r.decode_error == "decode:DecodeUnavailable"
    assert real >= 3 and corrupt >= 1
