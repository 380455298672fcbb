"""Audio/video feature extraction over binary payload columns.

mapInArrow batches over opaque `bytes` columns with typed
metadata — the multimodal plumbing the task brief calls for, with the
container format stubbed (functions/avcodec.py documents the boundary)
and the batch shapes, schemas and numpy math real:

- audio → decode, windowed RMS + dominant-frequency (rFFT);
- video → frame-sample every k-th frame, per-frame phash, shot-boundary
  detection by phash hamming jump.

Scale shape: one narrow mapInArrow pass, no shuffle; payload bytes never
leave the executor that scanned them.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

AV_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("decode_ok", T.IntegerType()),
        T.StructField("peak_mhz", T.LongType()),      # audio: dominant freq (mHz)
        T.StructField("n_windows", T.IntegerType()),  # audio: analysis windows
        T.StructField("n_frames", T.IntegerType()),   # video: total frames
        T.StructField("n_sampled_k2", T.IntegerType()),  # video: frames at k=2
        T.StructField("cut_idx", T.IntegerType()),    # video: first shot cut (-1: none)
        T.StructField("codec", T.StringType()),       # which decoder handled the row
    ]
)
AV_FEATURES_ARROW = to_arrow_schema(AV_FEATURES_SCHEMA)


def extract_av_features(clips: DataFrame, window: int = 1024) -> DataFrame:
    """One vectorized pass per Arrow batch; bytes stay executor-local."""

    def extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..functions.avcodec import (
            audio_backend_of,
            audio_features,
            decode_audio,
            iter_video_frames,
            video_backend_of,
            video_meta,
        )
        from ..functions.imagecodec import hamming64, phash64

        for batch in batches:
            rows = []
            for rec in batch.to_pylist():
                out = {
                    "clip_id": rec["clip_id"], "kind": rec["kind"],
                    "decode_ok": 0, "peak_mhz": 0, "n_windows": 0,
                    "n_frames": 0, "n_sampled_k2": 0, "cut_idx": -1,
                    "codec": "none",
                }
                try:
                    data = bytes(rec["bytes"])
                    out["codec"] = (
                        audio_backend_of(data)
                        if rec["kind"] == "audio"
                        else video_backend_of(data)
                    )
                    if rec["kind"] == "audio":
                        wave, sr = decode_audio(data)
                        f = audio_features(wave, sr, window=window)
                        out.update(
                            decode_ok=1,
                            peak_mhz=int(round(f["peak_hz"] * 1000)),
                            n_windows=int(f["n_windows"]),
                        )
                    else:
                        _, n_frames = video_meta(data)
                        # single decode pass: sampling count and the
                        # shot-boundary phash walk share the same frames
                        cut_idx, prev = -1, None
                        n_sampled = 0
                        for fi, frame in enumerate(iter_video_frames(data)):
                            if fi % 2 == 0:
                                n_sampled += 1
                            h = phash64(frame)
                            if (
                                cut_idx < 0
                                and prev is not None
                                and hamming64(h, prev) >= 16
                            ):
                                cut_idx = fi
                            prev = h
                        out.update(
                            decode_ok=1,
                            n_frames=int(n_frames),
                            n_sampled_k2=n_sampled,
                            cut_idx=cut_idx,
                        )
                except Exception:  # noqa: BLE001 — corrupt payloads flagged, not fatal
                    pass
                rows.append(out)
            yield pa.RecordBatch.from_pylist(rows, schema=AV_FEATURES_ARROW)

    return clips.mapInArrow(extract, AV_FEATURES_SCHEMA)
