"""Image payload operators over the images table [BASELINE.json
input_hint: (image_id, bytes, w, h, fmt, caption, phash); north_rule
PSNR>=40dB + caption equality invariants].

Design rules for 100 TB of binary payload:

- **bytes never enter a shuffle.** Every byte-touching op is a
  map-only ``mapInPandas`` stage (decode, hash, resize) producing slim
  (image_id, result) rows; anything that must join does so on ids and
  re-attaches payloads late.
- **Arrow batches are size-bounded** (session sets
  ``arrow.maxRecordsPerBatch`` small) so a batch of 64x64 RGB rows stays
  well under executor memory.
- **fmt='raw'** is fully implemented (uncompressed RGB). Codec formats
  (jpeg/png/webp) are STUBBED: the container has no PIL/cv2, so
  ``decode`` raises NotImplementedError for them behind an import-try —
  the Spark-side plumbing (schema, batching, signatures) is identical
  and tested via fmt='raw'.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import fixtures, geometry


def decode(buf: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """bytes → (h, w, 3) uint8. Only 'raw' decodes in this container."""
    if fmt == "raw":
        return np.frombuffer(buf, dtype=np.uint8).reshape(h, w, 3)
    try:  # pragma: no cover - codec libs absent in this environment
        from PIL import Image  # noqa: F401
        import io

        return np.asarray(Image.open(io.BytesIO(buf)).convert("RGB"))
    except ImportError as e:
        raise NotImplementedError(
            f"fmt={fmt!r} needs an image codec (PIL/cv2) not present in this "
            "environment; plumbing is identical to fmt='raw'"
        ) from e


def resize_nearest(px: np.ndarray, w2: int, h2: int) -> np.ndarray:
    """Nearest-neighbor resize — pure numpy indexing, no codec needed."""
    h, w = px.shape[:2]
    rows = (np.arange(h2) * h // h2).astype(np.int64)
    cols = (np.arange(w2) * w // w2).astype(np.int64)
    return px[rows][:, cols]


def quantize(px: np.ndarray, keep_bits: int = 6) -> np.ndarray:
    """The stand-in 'lossy codec': drop (8-keep_bits) LSBs per channel.
    keep_bits=6 stays above the 40 dB PSNR gate."""
    mask = (0xFF << (8 - keep_bits)) & 0xFF
    return (px & mask).astype(np.uint8)


# ------------------------------------------------------------ map stages ---


def verify_invariants(images: DataFrame, passthrough: list[str] | None = None) -> DataFrame:
    """Per-row invariant check [north_rule]: recomputed phash equals the
    stored phash; decoded pixels round-trip the lossy stand-in at
    PSNR>=40dB; caption is byte-equal to the deterministic expected
    caption. Map-only; returns slim (image_id, phash_ok, psnr_db,
    caption_ok [, passthrough...]).

    ``passthrough`` carries slim columns (e.g. lon/lat) through the map
    stage so downstream spatial ops need NO re-join back to the payload
    table — one pass over bytes, zero shuffles of anything image-sized.
    """
    passthrough = passthrough or []
    base = ["image_id", "phash_ok", "psnr_db", "caption_ok"]

    def run(it):
        for pdf in it:
            out = []
            for img_id, buf, w, h, fmt, caption, phash in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"],
                pdf["fmt"], pdf["caption"], pdf["phash"],
            ):
                px = decode(buf, w, h, fmt)
                ph = int(fixtures.ahash64(px, w, h))
                p = geometry.psnr(px, quantize(px))
                i = int(img_id[3:])
                out.append((
                    img_id,
                    ph == int(phash),
                    float(min(p, 1e6)),
                    caption == fixtures.make_caption(i),
                ))
            res = pd.DataFrame(out, columns=base)
            for c in passthrough:
                res[c] = pdf[c].to_numpy()
            yield res

    extra = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in images.schema.fields
        if f.name in passthrough
    )
    return images.mapInPandas(
        run,
        schema="image_id string, phash_ok boolean, psnr_db double, caption_ok boolean" + extra,
    )


def thumbnails(images: DataFrame, size: int = 8) -> DataFrame:
    """Map-only thumbnail stage: (image_id, thumb binary, tw, th)."""

    def run(it):
        for pdf in it:
            out = []
            for img_id, buf, w, h, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                px = decode(buf, w, h, fmt)
                t = resize_nearest(px, size, size)
                out.append({"image_id": img_id, "thumb": t.tobytes(), "tw": size, "th": size})
            yield pd.DataFrame(out, columns=["image_id", "thumb", "tw", "th"])

    return images.mapInPandas(run, schema="image_id string, thumb binary, tw int, th int")


def frame_sample(videos: DataFrame, every_k: int = 2) -> DataFrame:
    """Video frame sampling [task brief: multimodal frame-sample]: the
    payload is a raw concatenated-RGB container (n_frames · w·h·3
    bytes — the deterministic fake; real codecs are stubbed exactly like
    :func:`decode`). One ``mapInPandas`` pass emits a row per SAMPLED
    frame (every_k-th, frame 0 always) with per-frame channel means and
    the frame aHash — bytes are consumed in the map stage and never
    shuffle; downstream joins carry only (video_id, frame_idx, stats).

    Input: (video_id, bytes, w, h, fmt). Output: (video_id, frame_idx,
    mean_r, mean_g, mean_b, frame_phash)."""

    def run(it):
        for pdf in it:
            out = []
            for _, r in pdf.iterrows():
                if r["fmt"] != "raw":
                    raise NotImplementedError(
                        "video codecs absent in this environment; raw container only"
                    )
                w, h = int(r["w"]), int(r["h"])
                fsz = w * h * 3
                buf = r["bytes"]
                n_frames = len(buf) // fsz
                for fi in range(0, n_frames, every_k):
                    px = np.frombuffer(
                        buf[fi * fsz : (fi + 1) * fsz], dtype=np.uint8
                    ).reshape(h, w, 3)
                    means = px.reshape(-1, 3).mean(axis=0)
                    out.append(
                        {
                            "video_id": r["video_id"],
                            "frame_idx": fi,
                            "mean_r": float(means[0]),
                            "mean_g": float(means[1]),
                            "mean_b": float(means[2]),
                            "frame_phash": int(fixtures.ahash64(px, w, h)),
                        }
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "video_id", "frame_idx", "mean_r", "mean_g", "mean_b", "frame_phash",
                ],
            )

    return videos.mapInPandas(
        run,
        schema=(
            "video_id string, frame_idx int, mean_r double, mean_g double,"
            " mean_b double, frame_phash long"
        ),
    )


def audio_features(audios: DataFrame, frame: int = 1024) -> DataFrame:
    """Audio feature extraction [task brief: multimodal audio]: payload
    = raw little-endian PCM16 (the deterministic fake container; real
    codecs stubbed like :func:`decode`). One ``mapInPandas`` pass emits
    per-window RMS and zero-crossing counts — ``frame`` is a power of
    two so mean-square division is exact and the IEEE sqrt is
    correctly-rounded, making the features golden-hashable.

    Input: (audio_id, bytes, fmt). Output: (audio_id, window_idx, rms,
    zero_crossings)."""

    def run(it):
        for pdf in it:
            out = []
            for _, r in pdf.iterrows():
                if r["fmt"] != "pcm16":
                    raise NotImplementedError(
                        "audio codecs absent in this environment; pcm16 only"
                    )
                samples = np.frombuffer(r["bytes"], dtype="<i2")
                n_win = len(samples) // frame
                for wi in range(n_win):
                    w = samples[wi * frame : (wi + 1) * frame].astype(np.int64)
                    rms = float(np.sqrt(float((w * w).sum()) / frame))
                    zc = int(((w[:-1] < 0) != (w[1:] < 0)).sum())
                    out.append(
                        {
                            "audio_id": r["audio_id"],
                            "window_idx": wi,
                            "rms": rms,
                            "zero_crossings": zc,
                        }
                    )
            yield pd.DataFrame(
                out, columns=["audio_id", "window_idx", "rms", "zero_crossings"]
            )

    return audios.mapInPandas(
        run,
        schema="audio_id string, window_idx int, rms double, zero_crossings long",
    )


def phash_hamming_buckets(images: DataFrame, prefix_bits: int = 16) -> DataFrame:
    """Near-dup candidate blocking on the phash prefix — the image
    analog of MinHash-LSH banding: identical high bits → same bucket →
    bucket-local Hamming compare. Pure column bit math (no UDF)."""
    shift = 64 - prefix_bits
    return images.withColumn(
        "phash_bucket", F.shiftrightunsigned(F.col("phash"), shift)
    )


def phash_near_dup_pairs(images: DataFrame, prefix_bits: int = 16, max_hamming: int = 8) -> DataFrame:
    """Bucketed self-join + popcount Hamming distance — near-duplicate
    image pairs. The join shuffles only (id, phash) — never bytes."""
    slim = phash_hamming_buckets(
        images.select("image_id", "phash"), prefix_bits
    )
    a = slim.select(
        F.col("image_id").alias("id_a"), F.col("phash").alias("ph_a"), "phash_bucket"
    )
    b = slim.select(
        F.col("image_id").alias("id_b"), F.col("phash").alias("ph_b"), "phash_bucket"
    )
    pairs = a.join(b, "phash_bucket").filter(F.col("id_a") < F.col("id_b"))
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return pairs.withColumn("hamming", ham).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")
