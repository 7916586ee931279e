"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

The container has no image/audio codec libraries, so the *library* decode
step is stubbed (``CODECS_AVAILABLE`` gate / deterministic fake) while
the Spark plumbing — schema, Arrow batch shape, ``mapInPandas``
signature, partition-size control — is real and tested.  On a real
cluster you swap ``_fake_decode`` for the codec call; nothing else
changes.  Two codec families ARE real from-scratch implementations:
baseline-sequential JPEG (``kernels.jpegcodec``, round 4, the PDF
/DCTDecode path) and reversible JPEG2000 (``kernels.jp2codec``, round
5, the PDF /JPXDecode path — the reference's primary codec); this gate
now covers only the remaining families (JBIG2/video/audio and the
non-reversible JP2 profiles).

``media_features``: (media_ref) -> decode -> per-image features
(w, h, mode, mean/std intensity, edge density via the Sauvola ink ratio).
The raster never leaves the executor: features only.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd

from ..corpus.rasters import page_spec, render_raster
from ..kernels.grayconvert import rgb_to_gray
from ..kernels.sauvola import threshold_image
from ..pyworker import python_task

__all__ = ["CODECS_AVAILABLE", "decode_image", "media_features",
           "resize_media", "sample_frames", "FEATURES_SCHEMA_DDL",
           "RESIZE_SCHEMA_DDL", "FRAMES_SCHEMA_DDL"]

# Real codecs (PIL/ffmpeg/...) are not shipped in this environment.
CODECS_AVAILABLE = False

FEATURES_SCHEMA_DDL = ("media_ref string, width int, height int, "
                       "mode string, bitonal boolean, mean_intensity double, "
                       "std_intensity double, ink_ratio double")


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an encoded image payload.  Baseline JPEG decodes natively
    (``kernels.jpegcodec``, round 4), reversible JPEG2000 — JP2 file
    or raw J2K codestream — natively (``kernels.jp2codec``, round 5),
    and JBIG2 bitonal masks — standalone .jb2 files or PDF-embedded
    streams — natively (``kernels.jbig2codec``, round 6; returned as
    0/255 uint8 grayscale, 1=black per the /JBIG2Decode contract); the
    remaining formats (PNG/video/audio) stay gated until codec
    libraries are available — the pipeline path uses the deterministic
    synthetic decode (``corpus.rasters``) instead."""
    if payload[:2] == b"\xff\xd8":
        from ..kernels.jpegcodec import decode_baseline

        return decode_baseline(payload)
    if (payload[:8] == b"\x00\x00\x00\x0CjP  "
            or payload[:2] == b"\xff\x4f"):
        from ..kernels.jp2codec import decode_jp2

        return decode_jp2(payload)
    from ..kernels.jbig2codec import FILE_MAGIC
    if (payload[:8] == FILE_MAGIC
            or (len(payload) > 11 and payload[:4] == b"\x00\x00\x00\x00"
                and (payload[4] & 0x3F) == 48)):
        # standalone .jb2, or an embedded stream's leading page-info
        # segment (segment number 0, type 48 — what jbig2enc -p and
        # encode_jbig2 emit)
        from ..kernels.jbig2codec import decode_jbig2

        bits = decode_jbig2(payload)
        return np.where(bits != 0, 0, 255).astype(np.uint8)
    if not CODECS_AVAILABLE:
        raise NotImplementedError(
            "non-JPEG/JP2 image codecs are not available in this "
            "environment; media_ref-seeded synthetic decode is used "
            "instead")
    raise AssertionError("unreachable")


def _media_refs(documents_df):
    """documents (doc_id, spans) -> one ``media_ref`` row per media
    span."""
    from pyspark.sql import functions as F

    return (documents_df
            .select(F.explode("spans").alias("s"))
            .where(F.col("s.kind") == "media")
            .select(F.col("s.media_ref").alias("media_ref")))


@python_task
def _features_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        recs = []
        for ref in pdf["media_ref"].values:
            spec = page_spec(ref)
            raster = render_raster(spec)
            gray = rgb_to_gray(raster) if raster.ndim == 3 else raster
            ink = threshold_image(gray, spec["dpi"])
            recs.append((ref, spec["w"], spec["h"], spec["mode"],
                         bool(spec["bitonal"]),
                         round(float(gray.mean()), 4),
                         round(float(gray.std()), 4),
                         round(float(ink.mean()), 4)))
        yield pd.DataFrame(recs, columns=[
            "media_ref", "width", "height", "mode", "bitonal",
            "mean_intensity", "std_intensity", "ink_ratio"])


def media_features(documents_df):
    """documents (doc_id, spans) -> per-media-span feature rows."""
    return _media_refs(documents_df).mapInPandas(
        _features_batches, schema=FEATURES_SCHEMA_DDL)


RESIZE_SCHEMA_DDL = ("media_ref string, src_w int, src_h int, dst_w int, "
                     "dst_h int, too_small boolean, content_sha string")


def resize_media(documents_df, factor: float = 2.0):
    """Batch image resize plumbing: decode (synthetic, codec swap
    point) -> exact integer box-mean downsample (``kernels/pages``) ->
    content hash of the resized raster.  Rasters stay executor-local;
    only refs + hashes cross stage boundaries."""
    import hashlib

    from ..kernels.pages import downsample_box

    @python_task
    def _resize(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for ref in pdf["media_ref"].values:
                spec = page_spec(ref)
                raster = render_raster(spec)
                out, too_small = downsample_box(raster, factor)
                sha = hashlib.sha1(
                    np.ascontiguousarray(out).tobytes()).hexdigest()[:12]
                recs.append((ref, raster.shape[1], raster.shape[0],
                             out.shape[1], out.shape[0], too_small, sha))
            yield pd.DataFrame(recs, columns=[
                "media_ref", "src_w", "src_h", "dst_w", "dst_h",
                "too_small", "content_sha"])

    return _media_refs(documents_df).mapInPandas(
        _resize, schema=RESIZE_SCHEMA_DDL)


FRAMES_SCHEMA_DDL = ("media_ref string, frame_idx int, ts_ms int, "
                     "mean_intensity double, is_keyframe boolean")


def sample_frames(documents_df, every_n: int = 5, fps: float = 10.0):
    """Video frame-sampling plumbing: a media payload is treated as a
    frame sequence (frame count seeded from the ref; the decode is the
    deterministic fake standing in for an ffmpeg-style codec), and every
    ``every_n``-th frame is materialized with its timestamp + features.
    1->N flat map, one Arrow batch per input batch — the real-codec swap
    changes only the decode call."""
    from ..corpus.rasters import ref_seed

    @python_task
    def _frames(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for ref in pdf["media_ref"].values:
                rng = np.random.default_rng(ref_seed(ref) ^ 0xF4A3E)
                n_frames = int(rng.integers(8, 64))
                base = render_raster(page_spec(ref))
                gray = rgb_to_gray(base) if base.ndim == 3 else base
                g0 = float(gray.mean())
                for idx in range(0, n_frames, every_n):
                    # fake per-frame decode: deterministic brightness walk
                    mean = round(g0 + 3.0 * np.sin(idx / 4.0), 4)
                    recs.append((ref, idx, int(idx * 1000 / fps),
                                 mean, idx == 0))
            yield pd.DataFrame(recs, columns=[
                "media_ref", "frame_idx", "ts_ms", "mean_intensity",
                "is_keyframe"])

    return _media_refs(documents_df).mapInPandas(
        _frames, schema=FRAMES_SCHEMA_DDL)
