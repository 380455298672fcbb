"""Audio/video payload plumbing: container round-trip, real numpy feature
math (FFT peak, RMS), frame sampling + shot boundaries, and the Spark
mapInArrow extractor over the planted AV corpus."""

import numpy as np

from marginaliasearch_spark.functions.avcodec import (
    audio_features,
    decode_audio,
    encode_audio,
    encode_video,
    iter_video_frames,
    sample_frames,
    shot_boundaries,
)


def test_audio_roundtrip_and_fft_peak():
    sr = 8000
    t = np.arange(sr) / sr
    wave = 0.5 * np.sin(2 * np.pi * 1000.0 * t)  # exactly on bin 128 @ window 1024
    data = encode_audio(wave, sr)
    got, got_sr = decode_audio(data)
    assert got_sr == sr and len(got) == sr
    assert np.abs(got - wave).max() < 1e-3  # int16 quantization only
    f = audio_features(got, sr, window=1024)
    assert f["n_windows"] == 7
    assert abs(f["peak_hz"] - 1000.0) < 1e-9
    assert abs(f["rms"] - 0.5 / np.sqrt(2)) < 1e-3


def test_video_sampling_and_shot_cut():
    a = np.full((16, 16, 3), 40, dtype=np.uint8)
    b = np.full((16, 16, 3), 215, dtype=np.uint8)
    yy, xx = np.mgrid[0:16, 0:16]
    a[..., 0] = (xx * 12).astype(np.uint8)
    b[..., 0] = 255 - a[..., 0]
    data = encode_video([a] * 4 + [b] * 3, fps=4, fmt="png")
    frames = list(iter_video_frames(data))
    assert len(frames) == 7
    assert np.array_equal(frames[0], frames[3])
    assert len(sample_frames(data, 2)) == 4  # indices 0,2,4,6
    assert shot_boundaries(data, every_k=1) == [4]


def test_spark_extractor_matches_planted_truth(spark):
    from marginaliasearch_spark.plans.av_pipeline import extract_av_features
    from marginaliasearch_spark.sources.corpus import generate_av_corpus

    pdf = generate_av_corpus(42, 24)
    clips = spark.createDataFrame(pdf)
    feats = {r["clip_id"]: r for r in extract_av_features(clips).collect()}
    assert len(feats) == 24
    for i in range(24):
        r = feats[f"clip-{i:08d}"]
        assert r["decode_ok"] == 1
        if i % 2 == 0:  # audio
            expect_mhz = (500 + (i // 2 % 8) * 250) * 1000
            assert r["peak_mhz"] == expect_mhz, (i, r["peak_mhz"])
            assert r["n_windows"] == 7
        else:  # video
            n = 6 + (i % 5)
            assert r["n_frames"] == n
            assert r["n_sampled_k2"] == (n + 1) // 2
            assert r["cut_idx"] == n // 2
