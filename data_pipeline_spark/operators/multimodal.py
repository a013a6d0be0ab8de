"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side design is real and tested — schema, partitioning, UDF
signature, batch shapes; the actual media decoding is STUBBED behind
``decoder=`` hooks because no image/audio libraries exist in this
container (a deterministic fake decoder stands in; swapping in PIL/ffmpeg
is a one-line change at the call site). This is the driver-mandated
multimodal operator family — the reference's nearest analog is the
Wikimedia image enrichment join (sources/lux/final/mapper.py:63-159 in
/root/reference), which likewise treats media as opaque references plus
metadata.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id string, kind string, content binary, "
    "mime string, width int, height int, duration_ms int"
)

FEATURE_SCHEMA = (
    "media_id string, kind string, mime string, "
    "n_bytes bigint, sha256 string, feat array<float>"
)


def fake_decode(content: bytes, mime: str) -> dict:
    """Deterministic stand-in for a real decoder: derives pseudo-features
    from the bytes themselves so tests are reproducible. Replace with a
    PIL/torchvision/ffmpeg call in production."""
    import hashlib

    digest = hashlib.sha256(content or b"").digest()
    return {
        "sha256": digest.hex(),
        # 8 floats in [0,1) from the digest — the "embedding"
        "feat": [b / 255.0 for b in digest[:8]],
    }


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes, str], dict] = fake_decode,
    batch_hint: int | None = None,
) -> DataFrame:
    """media(MEDIA_SCHEMA) -> features(FEATURE_SCHEMA).

    mapInPandas streams Arrow record batches; binary payloads never
    round-trip through Python row objects. At 100TB: repartition upstream
    so one task holds O(maxPartitionBytes) of media, and keep the decoder
    pure (no network) so retries are safe."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            feats = [decoder(c, m) for c, m in zip(pdf["content"], pdf["mime"])]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "mime": pdf["mime"],
                    "n_bytes": [len(c or b"") for c in pdf["content"]],
                    "sha256": [f["sha256"] for f in feats],
                    "feat": [f["feat"] for f in feats],
                }
            )

    # ship ONLY the columns the decoder touches across the Arrow
    # boundary (guide §4.1: Spark cannot see inside the function, so an
    # unprojected mapInPandas reads and transfers width/height/
    # duration_ms for nothing — and defeats column pruning at the scan)
    return media.select("media_id", "kind", "mime", "content").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


FRAME_SCHEMA = (
    "media_id string, frame_ms int, frame_idx int, n_bytes int, frame_sha string"
)


def fake_frame_decode(content: bytes, frame_idx: int, frame_bytes: int = 64) -> bytes:
    """Deterministic frame stand-in: frame k is the k-th fixed-size byte
    slice of the payload (a real implementation seeks/decodes with ffmpeg;
    the slice keeps the plumbing testable and engine-checkable)."""
    start = frame_idx * frame_bytes
    return (content or b"")[start : start + frame_bytes]


def extract_frames(
    media: DataFrame,
    every_ms: int,
    frame_bytes: int = 64,
    decoder: Callable[[bytes, int, int], bytes] = fake_frame_decode,
) -> DataFrame:
    """Video rows -> one row per sampled frame: the EXTRACTION half of
    frame sampling (sample_frames is the schedule-only half).

    This exercises the 1->N fan-out batch shape inside ``mapInPandas``
    (one input row yields ceil(duration/every_ms) output rows in the same
    Arrow batch) that single-row feature extraction never touches — the
    shape a real video pipeline needs.  Frames are hashed so results are
    engine-checkable; payload columns would be added the same way."""
    import hashlib

    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in
                                    ("media_id", "frame_ms", "frame_idx", "n_bytes", "frame_sha")}
            for mid, content, dur in zip(pdf["media_id"], pdf["content"], pdf["duration_ms"]):
                dur = int(dur) if dur is not None and not pd.isna(dur) else 0
                n_frames = 0 if dur <= 0 else (dur - 1) // every_ms + 1
                for k in range(n_frames):
                    frame = decoder(content, k, frame_bytes)
                    out["media_id"].append(mid)
                    out["frame_ms"].append(k * every_ms)
                    out["frame_idx"].append(k)
                    out["n_bytes"].append(len(frame))
                    out["frame_sha"].append(hashlib.sha256(frame).hexdigest())
            yield pd.DataFrame(out)

    # same column-pruning rule as extract_features: the frame slicer
    # reads media_id/content/duration_ms only
    return (
        media.filter(F.col("kind") == "video")
        .select("media_id", "content", "duration_ms")
        .mapInPandas(run, schema=FRAME_SCHEMA)
    )


def sample_frames(media: DataFrame, every_ms: int) -> DataFrame:
    """Frame-sampling plan for video rows: emits one row per planned frame
    timestamp (the scheduling half of frame extraction — decode is stubbed).
    Timestamps are computed JVM-side with sequence()."""
    return (
        media.filter(F.col("kind") == "video")
        .withColumn(
            "frame_ms",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.coalesce(F.col("duration_ms"), F.lit(0)) - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ),
        )
        .select("media_id", "frame_ms", "mime")
    )
