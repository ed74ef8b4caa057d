"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``.

The Spark-side machinery (schemas, batching, partition sizing, UDF
signatures) is real and tested. Container-formats decoding is split in
two tiers:

- **Header decoding is REAL**: :func:`image_dimensions` parses PNG IHDR,
  JPEG SOF0/SOF2 (walking APPn/quantization segments), and GIF logical
  screen descriptors with pure Python over the first KB of bytes — no
  media library needed; :func:`encode_image_header` is the independent
  writer used to build test/fixture bytes.
- **PNG pixel decoding is REAL** (round 9; interlace + palette round
  11): :func:`decode_png` is a stdlib-only decoder — zlib-inflated
  IDAT, per-scanline unfilter of all five PNG filter types
  (None/Sub/Up/Average/Paeth) for 8-bit gray, RGB, RGBA and PLTE
  palette images, in both sequential and Adam7 interlaced storage
  (each pass an independently-filtered sub-image scattered at its
  offsets/strides) — and :func:`encode_png` is the independent
  spec-packed writer (forward filtering, shares no code with the
  decoder) used for fixtures. :func:`image_pixel_stats`,
  :func:`extract_features` and :func:`resize_images` compute real pixel
  statistics / histogram features / nearest-neighbor resizes on PNG
  payloads.
- **GIF pixel decoding is REAL** (round 10): :func:`decode_gif` is a
  stdlib-only decoder — container walk (extensions skipped, global or
  local color table) plus a full variable-width LZW decompressor
  (:func:`_gif_lzw_decode`: 12-bit cap, deferred clear) — and
  :func:`encode_gif` / :func:`_gif_lzw_encode` are the independent
  spec-packed writers used for fixtures. Interlaced GIFs are a
  documented descope (pixel sums are permutation-invariant, so the
  moment oracles could never catch a row-reorder bug).
  :func:`decode_image` dispatches PNG/GIF by magic bytes for
  :func:`image_pixel_stats`, :func:`extract_features` and
  :func:`resize_images`.
- **AVI video frame decoding is REAL** (round 10; Motion JPEG round
  11): :func:`decode_avi_frames` walks the RIFF container (avih
  geometry and rate, per-stream strf codec gating). BI_RGB 24bpp
  frames are byte slicing (movi DIB frames — bottom-up BGR rows,
  4-byte stride); 'MJPG' frames are complete JPEGs handed to
  :func:`decode_jpeg`, so Motion JPEG — baseline or progressive frames
  — decodes to real pixels too. :func:`encode_avi` /
  :func:`encode_avi_mjpeg` are the independent writers.
  :func:`sample_frames` decodes real AVIs at the stream's own frame
  rate (PNG frames out) and :func:`video_frame_stats` reduces exact
  per-video moments inside the decode task.
- **PCM WAV audio decoding is REAL** (round 10): :func:`decode_wav`
  walks RIFF/WAVE (PCM format tag, 8/16-bit, any channel count) to raw
  integer sample arrays; :func:`encode_wav` is the independent writer;
  :func:`audio_sample_stats` reduces exact amplitude moments, peak and
  zero-crossing counts per clip.
- **IMA ADPCM decoding is REAL** (round 12, closing the compressed-audio
  descope): :func:`decode_wav` also handles format tag 0x11 (DVI/IMA
  ADPCM, mono) — the 4-bit nibble -> step-table predictor recurrence is
  exactly integer, so decoded samples are bit-reproducible and
  SQL-replayable the same way the JPEG IDCT is. :func:`encode_wav_adpcm`
  is the independent quantizing encoder; :func:`pack_wav_adpcm` packs a
  raw nibble stream (the oracle-fixture path). Perceptual codecs
  (MP3/AAC) remain the documented descope: their float filterbanks are
  not exactly replayable.
- **Baseline JPEG pixel decoding is REAL** (round 11): :func:`decode_jpeg`
  is a stdlib+numpy decoder for baseline sequential SOF0 — canonical
  Huffman entropy decode (spec F.2.2.3 tables), DC-prediction + AC
  run-length with ZRL/EOB, de-zigzag, dequantize, float64 IDCT with
  floor(x+0.5) rounding, JFIF YCbCr->RGB on integer samples, restart
  intervals, and 1x/2x sampling factors (4:4:4, 4:2:2 and the dominant
  real-world 4:2:0 layout, nearest-neighbor chroma upsample) — and
  :func:`encode_jpeg` is the independent writer (its own zigzag
  derivation and encode-direction canonical code assignment) that turns
  QUANTIZED coefficient blocks into complete JPEGs, which is what makes
  decodes exactly replayable by a SQL oracle. Progressive (SOF2)
  streams decode for REAL too, for 1x1-sampled frames: spectral
  selection, successive approximation (DC and AC first + refinement
  scans, EOB-run batching with buffered correction bits — the G.1.2.x
  algorithm), accumulated across scans and reconstructed with the same
  rounding contract; :func:`encode_jpeg_progressive` is the matching
  independent writer. Lossless/arithmetic/hierarchical modes,
  3x/4x-sampled frames and subsampled progressive are documented
  descopes that decode to None (quarantine).
- **Inter-frame video codecs and compressed audio stay stubbed**
  (H.26x, MP3/AAC): they need toolchains not present in this
  environment.
  ``extract_features(hash_fallback=True)`` substitutes a documented
  content-hash pseudo-feature for undecodable payloads so mixed corpora
  can still run the plumbing; ``sample_frames(deterministic_fake=True)``
  remains the stand-in for compressed video.

Scale notes: binary payloads never pass through Python row-at-a-time —
``mapInPandas`` streams Arrow record batches; ``spark.sql.execution.arrow.
maxRecordsPerBatch`` bounds batch memory; repartition before decode so one
task's batch of blobs fits the executor (e.g. 64 MB blobs -> small
``maxRecordsPerBatch``).
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pramen_spark.session import local_frame

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),  # image | audio | video
        T.StructField("mime_type", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("feature_dim", T.IntegerType(), True),
        T.StructField("content_sha256", T.StringType(), True),
    ]
)


def _hash_fallback_feature(content: bytes, dim: int) -> np.ndarray:
    """Documented stand-in feature for formats whose pixel codecs are not
    in this environment (progressive/subsampled JPEG, WebP, ...): a
    deterministic unit vector seeded by the content hash, so mixed-format
    corpora can run the full distributed plumbing with PNG/GIF/baseline-
    JPEG payloads getting REAL features and the rest a stable
    placeholder."""
    digest = hashlib.sha256(content or b"").digest()
    seed = int.from_bytes(digest[:8], "big") % (2**32)
    rng = np.random.RandomState(seed)
    v = rng.normal(size=dim).astype(np.float32)
    return v / np.linalg.norm(v)


def _png_histogram_feature(px: np.ndarray, dim: int) -> np.ndarray:
    """REAL pixel feature: L2-normalized brightness histogram. Per pixel,
    brightness = r+g+b (gray counts ×3) in [0, 765]; binned into ``dim``
    equal-width buckets. Deterministic, rotation-invariant-ish, and
    cheap — the classic pre-embedding dedup/curation signal."""
    p = px.astype(np.int32)
    if p.shape[2] == 1:
        luma = p[:, :, 0] * 3
    else:
        luma = p[:, :, 0] + p[:, :, 1] + p[:, :, 2]
    bins = np.clip((luma.ravel() * dim) // 766, 0, dim - 1)
    hist = np.bincount(bins, minlength=dim).astype(np.float32)
    norm = float(np.linalg.norm(hist))
    return hist / norm if norm > 0 else hist


def extract_features(
    df: DataFrame,
    dim: int = 64,
    hash_fallback: bool = False,
    batch_size_hint: Optional[int] = None,
) -> DataFrame:
    """Binary content -> feature vectors via Arrow-batched mapInPandas.

    PNG, GIF and baseline-JPEG payloads are decoded for REAL
    (:func:`decode_image`) and produce a brightness-histogram feature;
    other formats use the documented content-hash stand-in when
    ``hash_fallback=True`` and raise ``NotImplementedError`` otherwise
    (progressive/subsampled JPEG and anything beyond need codecs not in
    this environment)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for c in pdf["content"]:
                content = c if c is not None else b""
                px = decode_image(content)
                if px is not None:
                    feats.append(_png_histogram_feature(px, dim).tolist())
                elif hash_fallback:
                    feats.append(_hash_fallback_feature(content, dim).tolist())
                else:
                    raise NotImplementedError(
                        "pixel decode for this format (progressive/"
                        "subsampled JPEG, non-PNG/GIF/baseline-JPEG) needs "
                        "codecs not present in this environment; pass "
                        "hash_fallback=True to give such payloads a "
                        "deterministic placeholder feature."
                    )
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "feature": feats,
                    "feature_dim": dim,
                    "content_sha256": [
                        hashlib.sha256(c if c is not None else b"").hexdigest()
                        for c in pdf["content"]
                    ],
                }
            )
            yield out

    if batch_size_hint:
        # Size tasks so one task holds ~batch_size_hint blobs. count()
        # column-prunes to a scan-only aggregate on a plain source, but it
        # DOES execute any upstream joins/filters a second time — callers
        # with an expensive upstream plan should persist it first (or
        # repartition themselves and skip the hint). Avoids touching .rdd
        # (which would break AQE pipelining) and the degenerate
        # 1-blob-per-task / all-blobs-in-one-task shapes for huge payloads.
        n_rows = df.count()
        target = max(1, -(-n_rows // batch_size_hint))  # ceil division
        df = df.repartition(target)
    return df.mapInPandas(run, FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """REAL nearest-neighbor resize for PNG/GIF payloads: decode
    (:func:`decode_image`), resample via index mapping
    ``src = floor(dst * src_extent / dst_extent)``, re-encode as PNG
    (filter 0 — the output of a resize is usually consumed immediately,
    so spend no cycles on filter search; GIF inputs come OUT as PNG, the
    palette does not survive a resample).

    Undecodable payloads yield a NULL content row (quarantine
    downstream) rather than failing the task — at 100 TB some blobs are
    always in a format the CPU tier can't decode. Pure map, no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_content = []
            for c in pdf["content"]:
                px = decode_image(c)
                if px is None:
                    out_content.append(None)
                    continue
                h, w, _ = px.shape
                ys = (np.arange(height) * h) // height
                xs = (np.arange(width) * w) // width
                out_content.append(
                    encode_png(px[ys][:, xs], filter_for_row=lambda y: 0)
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "content": out_content,
                    "width": width,
                    "height": height,
                }
            )

    return df.mapInPandas(run, RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ]
)


def decode_avi_frames(content: Optional[bytes]):
    """Decode an uncompressed 24-bit BI_RGB or Motion-JPEG AVI to a
    list of (H, W, 3) uint8 RGB frames plus the microseconds-per-frame
    rate: ``(frames, us_per_frame)``, or None when the payload is not
    such an AVI (wrong magic, unsupported codec, depth != 24, or
    corrupt chunk walk).

    Pure stdlib RIFF walk: the ``hdrl`` list's ``avih`` gives frame
    geometry/rate and ``strf``'s BITMAPINFOHEADER gates the codec. For
    BI_RGB 24bpp every ``00db``/``00dc`` chunk in the ``movi`` list is
    one DIB frame — bottom-up rows, BGR byte order, stride padded to 4
    bytes — so frame extraction is byte slicing. For 'MJPG'
    (round 11) every frame chunk is a complete JPEG handed to
    :func:`decode_jpeg` (baseline incl. subsampled, or progressive), so
    Motion JPEG decodes for REAL; inter-frame codecs (H.26x etc.)
    return None — quarantine downstream."""
    b = content or b""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    width = height = None
    us_per_frame = None
    bit_count = compression = None
    # Streams are declared by strh order; strf chunks and movi data
    # chunks must be scoped to the 'vids' stream — an AVI usually also
    # carries an audio strl whose strf (WAVEFORMATEX) would otherwise
    # overwrite the video's BITMAPINFOHEADER fields, and whose data
    # chunks ('01wb') must not be mistaken for frames.
    strh_count = 0
    vids_index = None
    frames_raw: list = []

    def walk(start: int, limit: int) -> bool:
        nonlocal width, height, us_per_frame, bit_count, compression
        nonlocal strh_count, vids_index
        pos = start
        while pos + 8 <= limit:
            fourcc = b[pos : pos + 4]
            size = int.from_bytes(b[pos + 4 : pos + 8], "little")
            data_start = pos + 8
            if data_start + size > limit:
                return False
            if fourcc == b"LIST":
                if not walk(data_start + 4, data_start + size):
                    return False
            elif fourcc == b"avih" and size >= 40:
                us_per_frame = int.from_bytes(b[data_start : data_start + 4], "little")
                width = int.from_bytes(b[data_start + 32 : data_start + 36], "little")
                height = int.from_bytes(b[data_start + 36 : data_start + 40], "little")
            elif fourcc == b"strh" and size >= 4:
                if b[data_start : data_start + 4] == b"vids" and vids_index is None:
                    vids_index = strh_count
                strh_count += 1
            elif fourcc == b"strf" and size >= 20:
                # only the strf that belongs to the vids strl (the one
                # right after its strh, i.e. while it is the last stream
                # declared) carries the BITMAPINFOHEADER we gate on
                if vids_index is not None and vids_index == strh_count - 1:
                    if bit_count is None:
                        bit_count = int.from_bytes(
                            b[data_start + 14 : data_start + 16], "little"
                        )
                        compression = int.from_bytes(
                            b[data_start + 16 : data_start + 20], "little"
                        )
            elif fourcc[2:4] in (b"db", b"dc"):
                if (
                    vids_index is not None
                    and fourcc[:2] == b"%02d" % vids_index
                ):
                    frames_raw.append(b[data_start : data_start + size])
            pos = data_start + size + (size & 1)  # chunks pad to even
        return True

    if not walk(12, len(b)):
        return None
    if not width or not height:
        return None
    if compression == int.from_bytes(b"MJPG", "little"):
        # Motion JPEG (round 11): every frame chunk is a complete JPEG
        # — the real baseline/progressive decoder does the work, so the
        # 'compressed video' descope narrows to inter-frame codecs
        out = []
        for raw in frames_raw:
            px = decode_jpeg(bytes(raw))
            if px is None or px.shape[:2] != (height, width):
                return None  # undecodable / header-mismatched frame
            if px.shape[2] == 1:
                px = np.repeat(px, 3, axis=2)
            out.append(px)
        return out, (us_per_frame or 0)
    if bit_count != 24 or compression != 0:
        return None
    stride = (3 * width + 3) & ~3
    out = []
    for raw in frames_raw:
        if len(raw) < stride * height:
            return None
        a = np.frombuffer(raw[: stride * height], dtype=np.uint8).reshape(
            height, stride
        )[:, : 3 * width].reshape(height, width, 3)
        out.append(a[::-1, :, ::-1])  # bottom-up rows, BGR -> RGB
    return out, (us_per_frame or 0)


def encode_avi(frames, us_per_frame: int = 40000) -> bytes:
    """Independent uncompressed-AVI writer for fixtures (spec-packed,
    shares no logic with :func:`decode_avi_frames`): a list of (H, W, 3)
    uint8 RGB frames -> a complete RIFF/AVI with ``hdrl`` (avih + one
    'vids' strl with a BI_RGB 24bpp BITMAPINFOHEADER) and a ``movi``
    list of ``00db`` DIB frames (bottom-up BGR rows, 4-byte stride)."""
    fs = [np.asarray(f, dtype=np.uint8) for f in frames]
    if not fs:
        raise ValueError("frames must be non-empty")
    h, w, _ = fs[0].shape
    stride = (3 * w + 3) & ~3

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        return fourcc + len(data).to_bytes(4, "little") + data + (
            b"\x00" if len(data) & 1 else b""
        )

    def lst(kind: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", kind + data)

    def dib(f: np.ndarray) -> bytes:
        row = np.zeros((h, stride), dtype=np.uint8)
        row[:, : 3 * w] = f[::-1, :, ::-1].reshape(h, 3 * w)  # RGB -> bottom-up BGR
        return row.tobytes()

    avih = struct.pack(
        "<14I", us_per_frame, 0, 0, 0, len(fs), 0, 1, 0, w, h, 0, 0, 0, 0
    )
    strh = (
        b"vids"
        + b"DIB "
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1,
                      (1000000 // us_per_frame if us_per_frame else 0) or 1, 0,
                      len(fs), 0, 0, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00db", dib(f)) for f in fs))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def encode_avi_mjpeg(
    jpeg_frames, width: int, height: int, us_per_frame: int = 40000
) -> bytes:
    """Independent Motion-JPEG AVI writer for fixtures: a list of
    complete JPEG byte strings (each ``width`` x ``height``, e.g. from
    :func:`encode_jpeg`) -> a RIFF/AVI whose vids strf declares
    biCompression 'MJPG' and whose ``00dc`` movi chunks carry the JPEGs
    verbatim. Same spec-packed structure as :func:`encode_avi`, no
    logic shared with the decoder."""
    if not jpeg_frames:
        raise ValueError("frames must be non-empty")
    rate = 1000000 // us_per_frame if us_per_frame else 1

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        return fourcc + len(data).to_bytes(4, "little") + data + (
            b"\x00" if len(data) & 1 else b""
        )

    def lst(kind: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", kind + data)

    avih = struct.pack(
        "<14I", us_per_frame, 0, 0, 0, len(jpeg_frames), 0, 1, 0,
        width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, rate or 1, 0,
                      len(jpeg_frames), 0, 0, 0)
        + struct.pack("<4H", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24,
        int.from_bytes(b"MJPG", "little"),
        max(len(f) for f in jpeg_frames), 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", bytes(f)) for f in jpeg_frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def sample_frames(
    df: DataFrame, every_n_ms: int = 1000, deterministic_fake: bool = False
) -> DataFrame:
    """Video frame sampling: one output row per sampled frame — a
    flatMap-shaped mapInPandas. Uncompressed-AVI AND Motion-JPEG AVI
    payloads decode for REAL (:func:`decode_avi_frames`): the stream's
    own frame rate picks the frame nearest each ``every_n_ms`` tick and
    the sampled frames come out PNG-encoded (ready for the image
    operators). Other formats need ``deterministic_fake=True``
    (documented stand-in: content-hash pseudo-frames sized by
    ``duration_ms``) or raise ``NotImplementedError`` — inter-frame
    video codecs are not in this environment."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for _, row in pdf.iterrows():
                content = row["content"] or b""
                decoded = decode_avi_frames(bytes(content))
                if decoded is not None and not decoded[0]:
                    # structurally valid AVI with an empty movi list:
                    # nothing to sample — emit zero rows (quarantine),
                    # never fail the task
                    continue
                if decoded is not None:
                    fs, uspf = decoded
                    uspf = uspf or 40000
                    duration_ms = len(fs) * uspf / 1000.0
                    n_samples = max(1, int(duration_ms // every_n_ms))
                    for k in range(n_samples):
                        fi = min(
                            int(k * every_n_ms * 1000 / uspf), len(fs) - 1
                        )
                        ids.append(row["media_id"])
                        idxs.append(k)
                        frames.append(
                            encode_png(fs[fi], filter_for_row=lambda y: 0)
                        )
                    continue
                if not deterministic_fake:
                    raise NotImplementedError(
                        "compressed video decode is not available in this "
                        "environment; only uncompressed BI_RGB AVI decodes for "
                        "real — pass deterministic_fake=True for other formats."
                    )
                duration = int(row.get("duration_ms") or 0)
                n_frames = max(1, duration // every_n_ms)
                for i in range(n_frames):
                    ids.append(row["media_id"])
                    idxs.append(i)
                    frames.append(
                        hashlib.sha256(content + i.to_bytes(4, "big")).digest()
                    )
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame": frames})

    return df.mapInPandas(run, FRAME_SCHEMA)


VIDEO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("n_pixels", T.LongType(), True),
        T.StructField("sum_r", T.LongType(), True),
        T.StructField("sum_g", T.LongType(), True),
        T.StructField("sum_b", T.LongType(), True),
        T.StructField("sum_luma3", T.LongType(), True),
        T.StructField("sum_luma3_sq", T.LongType(), True),
    ]
)


def video_frame_stats(
    df: DataFrame, content_col: str = "content", id_col: str = "media_id"
) -> DataFrame:
    """REAL per-video pixel statistics over uncompressed-AVI payloads:
    exact integer channel/brightness moments across ALL frames, decoded
    by :func:`decode_avi_frames` inside Arrow-batched ``mapInPandas`` —
    the video twin of :func:`image_pixel_stats`. Undecodable payloads
    yield NULL stats (quarantine downstream, never fail the task).

    Scale: pure map, no shuffle — frames aggregate inside the task, so
    only one moments row per video leaves the decode stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                decoded = decode_avi_frames(
                    bytes(content) if content is not None else None
                )
                if decoded is None or not decoded[0]:
                    rows.append((int(mid),) + (None,) * 9)
                    continue
                fs, _ = decoded
                h, w, _c = fs[0].shape
                p = np.stack(fs).astype(np.int64)  # (F, H, W, 3)
                r, g, bl = p[..., 0], p[..., 1], p[..., 2]
                luma3 = r + g + bl
                rows.append(
                    (
                        int(mid),
                        w,
                        h,
                        len(fs),
                        len(fs) * w * h,
                        int(r.sum()),
                        int(g.sum()),
                        int(bl.sum()),
                        int(luma3.sum()),
                        int((luma3 * luma3).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "width",
                    "height",
                    "n_frames",
                    "n_pixels",
                    "sum_r",
                    "sum_g",
                    "sum_b",
                    "sum_luma3",
                    "sum_luma3_sq",
                ],
            ).astype(
                {
                    "width": "Int32",
                    "height": "Int32",
                    "n_frames": "Int32",
                    "n_pixels": "Int64",
                    "sum_r": "Int64",
                    "sum_g": "Int64",
                    "sum_b": "Int64",
                    "sum_luma3": "Int64",
                    "sum_luma3_sq": "Int64",
                }
            )

    return df.mapInPandas(run, VIDEO_STATS_SCHEMA)


DIMENSIONS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("image_format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# SOF markers that carry frame dimensions: baseline/extended/progressive/
# lossless and their differential + arithmetic variants — everything in
# 0xC0-0xCF except DHT (C4), JPG (C8), DAC (CC)
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def parse_image_header(content: Optional[bytes]):
    """(format, width, height) from the first bytes of a PNG/JPEG/GIF
    payload; (None, None, None) when the magic is unrecognized or the
    header is truncated/corrupt. Pure Python, needs only ~the first KB —
    the cheap metadata pass a 100 TB multimodal pipeline runs BEFORE
    deciding what to ship to GPU decoders."""
    b = content or b""
    if b.startswith(_PNG_SIG) and len(b) >= 24 and b[12:16] == b"IHDR":
        return (
            "png",
            int.from_bytes(b[16:20], "big"),
            int.from_bytes(b[20:24], "big"),
        )
    if b.startswith(b"\xff\xd8"):
        # walk segments: each is FF <marker> <len_hi> <len_lo> <payload>
        p = 2
        n = len(b)
        while p + 4 <= n:
            if b[p] != 0xFF:
                return (None, None, None)  # desynchronized stream
            marker = b[p + 1]
            if marker == 0xD9 or marker == 0xDA:  # EOI / start of scan
                break
            seg_len = int.from_bytes(b[p + 2 : p + 4], "big")
            if seg_len < 2:
                return (None, None, None)
            if marker in _JPEG_SOF:
                if p + 9 > n:
                    return (None, None, None)
                height = int.from_bytes(b[p + 5 : p + 7], "big")
                width = int.from_bytes(b[p + 7 : p + 9], "big")
                return ("jpeg", width, height)
            p += 2 + seg_len
        return (None, None, None)
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        return (
            "gif",
            int.from_bytes(b[6:8], "little"),
            int.from_bytes(b[8:10], "little"),
        )
    return (None, None, None)


def encode_image_header(fmt: str, width: int, height: int) -> bytes:
    """Independent writer for minimal-but-well-formed image headers (the
    fixture side of the parse round-trip — struct-packed from the format
    specs, sharing no code with :func:`parse_image_header`): a PNG
    signature + CRC'd IHDR chunk, a JPEG SOI + APP0(JFIF) + SOF0 prefix
    (the APP0 forces the parser to actually walk segments), or a GIF89a
    logical screen descriptor."""
    import struct
    import zlib

    if fmt == "png":
        ihdr = struct.pack(">II5B", width, height, 8, 2, 0, 0, 0)
        chunk = b"IHDR" + ihdr
        return (
            _PNG_SIG
            + struct.pack(">I", len(ihdr))
            + chunk
            + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
        )
    if fmt == "jpeg":
        app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
        sof0 = struct.pack(">BHHB", 8, height, width, 3) + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
        return (
            b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
            + b"\xff\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
        )
    if fmt == "gif":
        return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00\x00\x00"
    raise ValueError(f"unknown image format: {fmt!r}")


# ---------------------------------------------------------------------------
# Real PNG pixel codec (stdlib only — zlib + struct + numpy).
#
# Scope: 8-bit grayscale (color type 0), RGB (2), palette (3, PLTE
# lookup) and RGBA (6), both storage layouts (sequential and Adam7
# interlaced) — the shapes a curation pipeline actually materializes as
# intermediate tensors plus the palette/interlace variants found in web
# crawls. Reference behavior parity: the reference treats media as
# opaque payloads handed to external toolchains; here the decode itself
# is in-engine so pixel-level curation metrics stay distributed.
# ---------------------------------------------------------------------------

_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 6: 4}

# Adam7: per pass (x0, y0, dx, dy); each pass is an independently
# filtered sub-image, scattered into the frame at those offsets/strides
_PNG_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def decode_png(content: Optional[bytes]) -> Optional[np.ndarray]:
    """Decode an 8-bit gray/RGB/palette/RGBA PNG — sequential or Adam7
    interlaced — to a (H, W, C) uint8 array (palette images come out as
    RGB), or None when the payload is not such a PNG (wrong magic,
    unsupported bit depth, or corrupt stream).

    Pure stdlib: walks chunks, zlib-inflates the concatenated IDAT
    stream, then unfilters each scanline (PNG filters 0-4) — per
    interlace PASS for Adam7, each pass an independently filtered
    sub-image scattered into the frame at its (offset, stride). The two
    sequential filters (Average, Paeth) run a per-byte Python loop —
    bounded by row width; None/Up are vectorized and Sub uses the
    cumsum-mod-256 identity, so typical streams stay numpy-speed."""
    b = content or b""
    if not b.startswith(_PNG_SIG):
        return None
    pos, n = 8, len(b)
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    plte = None
    try:
        while pos + 8 <= n:
            clen = int.from_bytes(b[pos : pos + 4], "big")
            ctype = b[pos + 4 : pos + 8]
            data = b[pos + 8 : pos + 8 + clen]
            if len(data) < clen:
                return None
            if ctype == b"IHDR":
                width, height = struct.unpack(">II", data[:8])
                bit_depth, color_type = data[8], data[9]
                interlace = data[12]
            elif ctype == b"PLTE":
                if clen % 3 or clen == 0:
                    return None
                plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                break
            pos += 12 + clen  # len + type + data + crc
        if (
            width is None
            or bit_depth != 8
            or color_type not in _PNG_CHANNELS
            or interlace not in (0, 1)
            or not idat
            or (color_type == 3 and plte is None)
        ):
            return None
        ch = _PNG_CHANNELS[color_type]
        # expected inflated size follows from the header alone — compute
        # it BEFORE decompressing or allocating, so a crafted header
        # (2^30 x 2^30 dims) or a zlib bomb quarantines as None instead
        # of raising MemoryError inside a Spark task
        if interlace == 0:
            expected = height * (width * ch + 1)
            passes = None
        else:
            passes = []
            expected = 0
            for x0, y0, dx, dy in _PNG_ADAM7:
                pw = -(-(width - x0) // dx) if width > x0 else 0
                ph = -(-(height - y0) // dy) if height > y0 else 0
                if pw and ph:
                    passes.append((x0, y0, dx, dy, pw, ph))
                    expected += ph * (pw * ch + 1)
        if expected > (1 << 31):
            return None  # >2 GiB of samples is not a curation thumbnail
        # max_length = expected + 1: a valid stream inflates to exactly
        # `expected`; anything longer (a bomb) yields expected + 1 and
        # is rejected without materializing the excess
        raw = zlib.decompressobj().decompress(bytes(idat), expected + 1)
        if len(raw) != expected:
            return None  # stream inflates to the wrong size
    except (zlib.error, struct.error):
        return None
    if interlace == 0:
        out = _png_unfilter(raw, height, width, ch)
    else:
        out = np.zeros((height, width * ch), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy, pw, ph in passes:
            block_len = ph * (pw * ch + 1)
            sub = _png_unfilter(raw[off : off + block_len], ph, pw, ch)
            if sub is None:
                return None
            off += block_len
            frame = out.reshape(height, width, ch)
            frame[y0::dy, x0::dx] = sub.reshape(ph, pw, ch)
    if out is None:
        return None
    px = out.reshape(height, width, ch)
    if color_type == 3:
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= plte.shape[0]:
            return None
        px = plte[idx]
    return px


def _png_unfilter(raw: bytes, height: int, width: int, ch: int):
    """Inverse the per-scanline PNG filters over one (sub-)image block:
    height rows of (filter byte + width*ch sample bytes). Returns
    (height, width*ch) uint8 or None on a length/filter mismatch."""
    stride = width * ch
    if len(raw) != height * (stride + 1):
        return None
    out = np.zeros((height, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        ftype = row[0]
        filt = np.frombuffer(row, dtype=np.uint8, offset=1).astype(np.int32)
        if ftype == 0:
            recon = filt
        elif ftype == 2:  # Up
            recon = (filt + prior) % 256
        elif ftype == 1:  # Sub: cumsum along each channel offset, mod 256
            recon = filt.copy()
            for c in range(ch):
                recon[c::ch] = np.cumsum(filt[c::ch].astype(np.int64)) % 256
        elif ftype == 3:  # Average — sequential in x (plain lists: ~20x
            # faster than per-element numpy indexing in the hot loop)
            fl = row[1:]
            pr = prior.tolist()
            rl = [0] * stride
            for x in range(stride):
                a = rl[x - ch] if x >= ch else 0
                rl[x] = (fl[x] + ((a + pr[x]) >> 1)) & 0xFF
            recon = np.array(rl, dtype=np.int32)
        elif ftype == 4:  # Paeth — sequential in x
            fl = row[1:]
            pr = prior.tolist()
            rl = [0] * stride
            for x in range(stride):
                a = rl[x - ch] if x >= ch else 0
                b_ = pr[x]
                c_ = pr[x - ch] if x >= ch else 0
                p = a + b_ - c_
                pa = p - a if p >= a else a - p
                pb = p - b_ if p >= b_ else b_ - p
                pc = p - c_ if p >= c_ else c_ - p
                pred = a if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c_)
                rl[x] = (fl[x] + pred) & 0xFF
            recon = np.array(rl, dtype=np.int32)
        else:
            return None
        out[y] = recon.astype(np.uint8)
        prior = recon
    return out


def encode_png(
    pixels: np.ndarray,
    filter_for_row=None,
    interlace: bool = False,
    palette: Optional[np.ndarray] = None,
) -> bytes:
    """Independent PNG writer for fixtures (spec-packed, shares no logic
    with :func:`decode_png` — forward filtering here, inverse filtering
    there, so a round-trip proves both). ``pixels`` is (H, W) gray or
    (H, W, C) with C in {1, 3, 4} — or, with ``palette`` given as an
    (N, 3) table, (H, W) palette indices written as color type 3 + PLTE.
    ``filter_for_row(y) -> 0..4`` picks the per-scanline filter (default
    cycles y % 5 to exercise all five; under interlace ``y`` is the
    running scanline counter across passes). ``interlace=True`` writes
    the Adam7 layout: the 7 passes as independently-filtered sub-images
    in pass order, descriptor flag set."""
    px = np.asarray(pixels, dtype=np.uint8)
    if palette is not None:
        pal = np.asarray(palette, dtype=np.uint8)
        if px.ndim != 2 or pal.ndim != 2 or pal.shape[1] != 3:
            raise ValueError("palette mode wants (H, W) indices + (N, 3)")
        if int(px.max(initial=0)) >= pal.shape[0]:
            raise ValueError("palette index out of range")
        px = px[:, :, None]
        color_type = 3
    else:
        if px.ndim == 2:
            px = px[:, :, None]
        color_type = {1: 0, 3: 2, 4: 6}[px.shape[2]]
    h, w, ch = px.shape
    if filter_for_row is None:
        filter_for_row = lambda y: y % 5  # noqa: E731

    def filter_block(block: np.ndarray, y_base: int) -> bytes:
        """Forward-filter one (sub-)image: rows are independent of any
        other block (each Adam7 pass restarts its prior row at zero)."""
        bh, bw = block.shape[0], block.shape[1]
        flat = block.reshape(bh, bw * ch).astype(np.int16)
        lines = bytearray()
        prior = np.zeros(bw * ch, dtype=np.int16)
        for y in range(bh):
            raw = flat[y]
            left = np.concatenate([np.zeros(ch, dtype=np.int16), raw[:-ch]])
            up_left = np.concatenate(
                [np.zeros(ch, dtype=np.int16), prior[:-ch]]
            )
            f = int(filter_for_row(y_base + y))
            if f == 0:
                filt = raw
            elif f == 1:
                filt = raw - left
            elif f == 2:
                filt = raw - prior
            elif f == 3:
                filt = raw - ((left + prior) >> 1)
            elif f == 4:
                p = left + prior - up_left
                pa, pb, pc = (
                    np.abs(p - left),
                    np.abs(p - prior),
                    np.abs(p - up_left),
                )
                pred = np.where(
                    (pa <= pb) & (pa <= pc),
                    left,
                    np.where(pb <= pc, prior, up_left),
                )
                filt = raw - pred
            else:
                raise ValueError(f"bad PNG filter type {f}")
            lines.append(f)
            lines += (filt % 256).astype(np.uint8).tobytes()
            prior = raw
        return bytes(lines)

    if not interlace:
        lines = filter_block(px, 0)
    else:
        parts = []
        y_base = 0
        for x0, y0, dx, dy in _PNG_ADAM7:
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            parts.append(filter_block(sub, y_base))
            y_base += sub.shape[0]
        lines = b"".join(parts)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", w, h, 8, color_type, 0, 0, 1 if interlace else 0
    )
    out = _PNG_SIG + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", pal.tobytes())
    return out + chunk(b"IDAT", zlib.compress(bytes(lines), 6)) + chunk(b"IEND", b"")


def _gif_lzw_decode(data: bytes, min_code_size: int):
    """GIF-variant LZW decompress to a list of palette indices, or None
    on a corrupt stream. Variable-width codes read LSB-first; the code
    width grows when the next free code stops fitting, caps at 12 bits
    (then defers until a clear code), exactly the GIF89a appendix-F
    scheme."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    roots = [(i,) for i in range(clear)] + [(), ()]
    table = list(roots)
    next_code = clear + 2
    out: list = []
    prev = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = list(roots)
                next_code = clear + 2
                code_size = min_code_size + 1
                prev = None
                continue
            if code == end:
                return out
            if prev is None:
                if code >= clear:
                    return None  # first code after clear must be a root
                entry = table[code]
            elif code < next_code:
                entry = table[code]
            elif code == next_code:
                entry = prev + (prev[0],)  # the KwKwK case
            else:
                return None
            out.extend(entry)
            if prev is not None and next_code < 4096:
                table.append(prev + (entry[0],))
                next_code += 1
                # the next readable code can be next_code itself — grow
                # the width as soon as that stops fitting
                if next_code == (1 << code_size) and code_size < 12:
                    code_size += 1
            prev = entry
    return None  # ran out of bytes before the end code


def _gif_interlace_order(h: int) -> list:
    """GIF89a appendix-E 4-pass interlace row sequence for an h-row
    image: rows 0,8,16,… then 4,12,… then 2,6,10,… then 1,3,5,…
    Stream row j holds natural row order[j]."""
    return (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )


def decode_gif(content: Optional[bytes]):
    """Decode the first frame of a GIF87a/89a to an (H, W, 3) uint8 RGB
    array via the global or local color table, or None when the payload
    is not such a GIF (wrong magic, missing color table, or corrupt LZW
    stream).

    Pure stdlib: walks the logical screen descriptor, skips extension
    blocks (sub-block chains), concatenates the image data sub-blocks
    and LZW-decompresses them (:func:`_gif_lzw_decode`). Interlaced
    frames (descriptor flag 0x40) are de-interlaced via the 4-pass row
    sequence (:func:`_gif_interlace_order`); the order-sensitive
    adjacent-row-delta statistic in :func:`image_pixel_stats` pins the
    reorder in the oracle — pixel SUMS alone are permutation-invariant
    and could never catch a row-reorder bug."""
    b = content or b""
    if b[:6] not in (b"GIF87a", b"GIF89a") or len(b) < 13:
        return None
    flags = b[10]
    pos = 13
    gct = None
    try:
        if flags & 0x80:
            n = 2 << (flags & 0x07)
            if len(b) < pos + 3 * n:
                return None
            gct = np.frombuffer(b[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        while pos < len(b):
            block = b[pos]
            if block == 0x21:  # extension: label byte + sub-block chain
                pos += 2
                while pos < len(b) and b[pos] != 0:
                    pos += 1 + b[pos]
                pos += 1
                continue
            if block != 0x2C:  # trailer (0x3B) or junk before any image
                return None
            _, _, w, h, iflags = struct.unpack("<HHHHB", b[pos + 1 : pos + 10])
            pos += 10
            table = gct
            if iflags & 0x80:  # local color table wins
                n = 2 << (iflags & 0x07)
                if len(b) < pos + 3 * n:
                    return None
                table = np.frombuffer(
                    b[pos : pos + 3 * n], dtype=np.uint8
                ).reshape(n, 3)
                pos += 3 * n
            if table is None or w == 0 or h == 0:
                return None
            mcs = b[pos]
            pos += 1
            if not 2 <= mcs <= 8:
                return None
            data = bytearray()
            while pos < len(b) and b[pos] != 0:
                ln = b[pos]
                if len(b) < pos + 1 + ln:
                    return None
                data += b[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            idx = _gif_lzw_decode(bytes(data), mcs)
            if idx is None or len(idx) < w * h:
                return None
            a = np.asarray(idx[: w * h], dtype=np.int32).reshape(h, w)
            if int(a.max()) >= len(table):
                return None
            if iflags & 0x40:  # 4-pass interlace: stream row j is
                nat = np.empty_like(a)  # natural row order[j]
                nat[np.asarray(_gif_interlace_order(h))] = a
                a = nat
            return table[a]
    except (struct.error, IndexError):
        return None
    return None


def _gif_lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF-variant LZW compress (independent of the decoder — dict-based
    longest-match here, sequence table there, so a round-trip proves
    both). Emits an initial clear code, grows the code width when the
    next free code stops fitting, and emits clear + resets when the
    table hits 4096 entries."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    table = {(i,): i for i in range(clear)}
    next_code = clear + 2
    bits = bytearray()
    acc = nbits = 0

    def emit(code: int, cs: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += cs
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear, code_size)
    w: tuple = ()
    for k in indices:
        k = int(k)
        wk = w + (k,)
        if wk in table:
            w = wk
            continue
        emit(table[w], code_size)
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            # decoder adds its twin entry one code LATER, so its next
            # free code trails by one: bump on > where it bumps on ==
            if next_code > (1 << code_size) and code_size < 12:
                code_size += 1
        else:
            emit(clear, code_size)
            table = {(i,): i for i in range(clear)}
            next_code = clear + 2
            code_size = min_code_size + 1
        w = (k,)
    if w:
        emit(table[w], code_size)
        # the decoder adds one final table entry when it reads that
        # flushed code (its table trails the encoder's by one until
        # then) — if that add lands exactly on 1 << code_size the
        # decoder widens before reading the END code, so widen here
        # too or the end code is emitted one bit short and misread
        if next_code < 4096 and next_code == (1 << code_size) and code_size < 12:
            code_size += 1
    emit(end, code_size)
    if nbits:
        bits.append(acc & 0xFF)
    return bytes(bits)


def encode_gif(
    indices: np.ndarray, palette: np.ndarray, interlace: bool = False
) -> bytes:
    """Independent GIF89a writer for fixtures (spec-packed, shares no
    logic with :func:`decode_gif`): (H, W) palette indices + (N, 3)
    power-of-two palette -> a complete single-frame GIF with a global
    color table, a graphic-control extension (so the decoder's
    extension-skipping path is always exercised) and 255-byte LZW data
    sub-blocks. With ``interlace=True`` the rows are written in the
    4-pass GIF89a interlace sequence and the descriptor flag set."""
    idx = np.asarray(indices, dtype=np.uint8)
    h, w = idx.shape
    pal = np.asarray(palette, dtype=np.uint8)
    n = pal.shape[0]
    s = int(n).bit_length() - 2  # n == 2 ** (s + 1)
    if n < 2 or (1 << (s + 1)) != n:
        raise ValueError("palette size must be a power of two >= 2")
    header = (
        b"GIF89a"
        + struct.pack("<HH", w, h)
        + bytes([0x80 | 0x70 | s, 0, 0])
        + pal.tobytes()
    )
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    desc = (
        b"\x2c"
        + struct.pack("<HHHH", 0, 0, w, h)
        + bytes([0x40 if interlace else 0x00])
    )
    mcs = max(2, s + 1)
    if interlace:
        idx = idx[np.asarray(_gif_interlace_order(h))]
    lzw = _gif_lzw_encode(idx.reshape(-1).tolist(), mcs)
    blocks = b"".join(
        bytes([len(lzw[i : i + 255])]) + lzw[i : i + 255]
        for i in range(0, len(lzw), 255)
    )
    return header + gce + desc + bytes([mcs]) + blocks + b"\x00\x3b"


# ---------------------------------------------------------------------------
# Real baseline JPEG codec (round 11) — stdlib + numpy only, closing the
# last media-pixel descope. Scope: baseline sequential DCT (SOF0), 8-bit
# precision, 1-component grayscale or 3-component YCbCr with 1x1 sampling
# (4:4:4), restart intervals (DRI + RSTn), arbitrary DHT/DQT tables read
# from the stream. Progressive (SOF2) and subsampled (4:2:0/4:2:2) scans
# return None (quarantine), documented descopes.
#
# Reference parity: the reference treats media as opaque payloads handed
# to external toolchains (pramen-py handles tables, not blobs); the
# in-engine decode keeps pixel-level curation metrics distributed, same
# rationale as decode_png / decode_gif above.
#
# Determinism contract (what the SQL oracle relies on): sample =
# clamp(floor(idct + 128 + 0.5)) per component — floor(x+0.5) rounding,
# NOT banker's — then for color R/G/B = clamp(floor(Y + c·(C-128) + 0.5))
# with the JFIF constants 1.402 / 0.344136 / 0.714136 / 1.772. Fixtures
# keep every pre-round value away from .5 boundaries (pytest-swept), so
# numpy and DuckDB doubles round identically.
# ---------------------------------------------------------------------------


def _jpeg_zigzag_order() -> list:
    """Decoder-side zigzag table: scan position k -> natural index i*8+j
    (i = vertical frequency), derived by the spec's diagonal walk."""
    order, i, j = [], 0, 0
    for _ in range(64):
        order.append(i * 8 + j)
        if (i + j) % 2 == 0:  # moving up-right
            if j == 7:
                i += 1
            elif i == 0:
                j += 1
            else:
                i -= 1
                j += 1
        else:  # moving down-left
            if i == 7:
                j += 1
            elif j == 0:
                i += 1
            else:
                i += 1
                j -= 1
    return order


_JPEG_ZIGZAG = _jpeg_zigzag_order()


def _jpeg_idct_basis() -> np.ndarray:
    """B[i, y] = alpha(i)/2 * cos((2y+1) i pi / 16); the 2-D IDCT of a
    dequantized block F is then B.T @ F @ B (rows = y, cols = x)."""
    b = np.zeros((8, 8))
    for i in range(8):
        a = (1.0 / np.sqrt(2.0) if i == 0 else 1.0) / 2.0
        for y in range(8):
            b[i, y] = a * np.cos((2 * y + 1) * i * np.pi / 16.0)
    return b


_JPEG_IDCT_B = _jpeg_idct_basis()


class _JpegBitReader:
    """MSB-first bit reader over one unstuffed entropy chunk; raises
    ValueError past the end (truncated stream -> decode_jpeg -> None)."""

    __slots__ = ("d", "i", "acc", "nbits")

    def __init__(self, data: bytes):
        self.d = data
        self.i = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.i >= len(self.d):
                raise ValueError("jpeg entropy data truncated")
            self.acc = (self.acc << 8) | self.d[self.i]
            self.i += 1
            self.nbits += 8
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def peek8(self):
        """Next 8 bits WITHOUT consuming, plus how many of them are
        real: at end of stream the low positions pad with zeros and
        ``avail`` < 8 tells the caller the padding boundary. Never
        raises — truncation surfaces on the consuming read instead."""
        while self.nbits < 8 and self.i < len(self.d):
            self.acc = (self.acc << 8) | self.d[self.i]
            self.i += 1
            self.nbits += 8
        if self.nbits >= 8:
            return (self.acc >> (self.nbits - 8)) & 0xFF, 8
        return (self.acc << (8 - self.nbits)) & 0xFF, self.nbits


def _jpeg_decode_tables(bits: list, vals: bytes):
    """Spec F.2.2.3 decode tables from a DHT payload: per code length
    1..16, (mincode, maxcode, valptr) for the canonical code walk, plus
    a 256-entry first-level LUT mapping every 8-bit prefix whose
    leading code is <= 8 bits long to (symbol, code length) — the
    classic fast path (F.2.2.3 leaves the lookup strategy open; this is
    the one libjpeg uses). Codes longer than 8 bits leave None and fall
    back to the canonical walk. Profiling round 12: the per-bit walk
    was ~55% of baseline decode time; short codes dominate real streams
    because canonical tables put frequent symbols first."""
    mincode, maxcode, valptr = [0] * 17, [-1] * 17, [0] * 17
    lut = [None] * 256
    code, k = 0, 0
    for ln in range(1, 17):
        if bits[ln - 1]:
            valptr[ln] = k
            mincode[ln] = code
            if ln <= 8:
                for _ in range(bits[ln - 1]):
                    base = code << (8 - ln)
                    entry = (vals[k], ln)
                    for fill in range(1 << (8 - ln)):
                        lut[base + fill] = entry
                    code += 1
                    k += 1
            else:
                code += bits[ln - 1]
                k += bits[ln - 1]
            maxcode[ln] = code - 1
        code <<= 1
    return mincode, maxcode, valptr, vals, lut


def _jpeg_huff_decode(reader: _JpegBitReader, table) -> int:
    mincode, maxcode, valptr, vals, lut = table
    b8, avail = reader.peek8()
    ent = lut[b8]
    if ent is not None and ent[1] <= avail:
        reader.nbits -= ent[1]  # consume: peek8 ensured acc holds them
        return ent[0]
    # long code (or stream tail shorter than the code): canonical walk
    code = reader.read(1)
    ln = 1
    while maxcode[ln] < 0 or code > maxcode[ln]:
        ln += 1
        if ln > 16:
            raise ValueError("jpeg huffman code overruns 16 bits")
        code = (code << 1) | reader.read(1)
    return vals[valptr[ln] + code - mincode[ln]]


def _jpeg_extend(v: int, t: int) -> int:
    """F.2.2.1 EXTEND: map t received bits back to a signed value."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _jpeg_split_entropy(data: bytes, pos: int):
    """Slice the entropy-coded segment starting at ``pos`` into restart
    chunks: 0xFF00 byte stuffing removed, FFD0-FFD7 restart markers split
    chunks, any other marker ends the scan. Returns (chunks, end) where
    ``end`` is the offset of the terminating marker (progressive streams
    continue parsing the next scan from there)."""
    chunks, cur, i, n = [], bytearray(), pos, len(data)
    while i < n:
        b = data[i]
        if b == 0xFF:
            nxt = data[i + 1] if i + 1 < n else 0xD9
            if nxt == 0x00:
                cur.append(0xFF)
                i += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                chunks.append(bytes(cur))
                cur = bytearray()
                i += 2
                continue
            break  # EOI or the next real marker
        cur.append(b)
        i += 1
    chunks.append(bytes(cur))
    return chunks, i


def _jpeg_decode_block(reader, dc_tab, ac_tab, pred: int):
    """One 8x8 block: DC diff + AC run-length, de-zigzagged to natural
    order. Returns (coef int32 (8,8), new DC predictor)."""
    coef = np.zeros(64, dtype=np.int32)
    t = _jpeg_huff_decode(reader, dc_tab)
    if t > 11:
        raise ValueError("jpeg DC category out of range")
    diff = _jpeg_extend(reader.read(t), t) if t else 0
    pred += diff
    coef[0] = pred
    k = 1
    while k < 64:
        rs = _jpeg_huff_decode(reader, ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("jpeg AC run overruns the block")
        coef[_JPEG_ZIGZAG[k]] = _jpeg_extend(reader.read(s), s)
        k += 1
    return coef.reshape(8, 8), pred


def _jpeg_prog_ac_first(reader, ac_tab, row, ss, se, al, eobrun):
    """Progressive AC first scan (Ah=0) for one block: spectral band
    ss..se at point transform al, with end-of-band run batching (EOBn).
    ``row`` is the block's 64-entry zigzag-order coefficient view."""
    if eobrun > 0:
        return eobrun - 1  # this block is inside an end-of-band run
    k = ss
    while k <= se:
        rs = _jpeg_huff_decode(reader, ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r < 15:  # EOBn: run of (1<<r) + ext end-of-band blocks
                return (1 << r) + (reader.read(r) if r else 0) - 1
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("jpeg progressive AC run overruns the band")
        row[k] = _jpeg_extend(reader.read(s), s) << al
        k += 1
    return 0


def _jpeg_prog_ac_refine(reader, ac_tab, row, ss, se, al, eobrun):
    """Progressive AC refinement scan (Ah=al+1) for one block: newly
    significant coefficients arrive as (run, 1) + sign; already-coded
    coefficients absorb correction bits as the runs pass over them;
    EOBn runs consume correction bits for every remaining nonzero
    coefficient of each covered block (G.1.2.3 / the libjpeg refine
    algorithm)."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _jpeg_huff_decode(reader, ac_tab)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r < 15:
                    eobrun = (1 << r) + (reader.read(r) if r else 0)
                    break
                # r == 15: ZRL — pass over 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("jpeg refinement magnitude must be 1")
                val = p1 if reader.read(1) else -p1
            while k <= se:
                c = int(row[k])
                if c != 0:
                    # history coefficient: correction bit
                    if reader.read(1) and (c & p1) == 0:
                        row[k] = c + (p1 if c > 0 else -p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val:
                if k > se:  # newly-significant coefficient past the band
                    raise ValueError("jpeg refinement run overruns the band")
                row[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:  # trailing correction bits inside the EOB run
            c = int(row[k])
            if c != 0:
                if reader.read(1) and (c & p1) == 0:
                    row[k] = c + (p1 if c > 0 else -p1)
            k += 1
        eobrun -= 1
    return eobrun


def _jpeg_prog_scan(b, pos, scan_comps, ss, se, ah, al, coefs, mx, my, ri):
    """Decode one progressive scan (1x1-sampled frames only — the MCU
    grid equals every component's block grid). ``scan_comps`` is a list
    of (ci, dc_tab, ac_tab); DC scans may interleave several components,
    AC scans carry exactly one. Mutates ``coefs[ci]`` ((my, mx, 64)
    int32, zigzag order) and returns the stream offset after the scan's
    entropy data."""
    chunks, end = _jpeg_split_entropy(b, pos)
    reader = _JpegBitReader(chunks[0])
    chunk_i = 0
    preds = [0] * len(scan_comps)
    eobrun = 0
    if ss == 0:  # DC scan, possibly interleaved
        if se != 0:
            raise ValueError("jpeg DC scan must have Se=0")
        for mcu in range(mx * my):
            if ri and mcu and mcu % ri == 0:
                chunk_i += 1
                if chunk_i >= len(chunks):
                    raise ValueError("jpeg missing restart chunk")
                reader = _JpegBitReader(chunks[chunk_i])
                preds = [0] * len(scan_comps)
            yb, xb = divmod(mcu, mx)
            for si, (ci, dc_tab, _) in enumerate(scan_comps):
                if ah == 0:
                    t = _jpeg_huff_decode(reader, dc_tab)
                    if t > 11:
                        raise ValueError("jpeg DC category out of range")
                    preds[si] += _jpeg_extend(reader.read(t), t) if t else 0
                    coefs[ci][yb, xb, 0] = preds[si] << al
                else:  # refinement: one bit per block
                    coefs[ci][yb, xb, 0] = int(coefs[ci][yb, xb, 0]) | (
                        reader.read(1) << al
                    )
    else:  # AC scan: single component over its block grid
        if len(scan_comps) != 1 or se > 63 or ss > se:
            raise ValueError("jpeg AC scan shape invalid")
        ci, _, ac_tab = scan_comps[0]
        fn = _jpeg_prog_ac_first if ah == 0 else _jpeg_prog_ac_refine
        for blk in range(mx * my):
            if ri and blk and blk % ri == 0:
                chunk_i += 1
                if chunk_i >= len(chunks):
                    raise ValueError("jpeg missing restart chunk")
                reader = _JpegBitReader(chunks[chunk_i])
                eobrun = 0
            yb, xb = divmod(blk, mx)
            eobrun = fn(reader, ac_tab, coefs[ci][yb, xb], ss, se, al, eobrun)
    return end


def _jpeg_idct_block(coef_nat, q) -> np.ndarray:
    """THE decoder rounding contract, in one place for both storage
    modes: sample = clamp(floor(idct(coef*q) + 128 + 0.5)) — floor(x+.5)
    rounding, not banker's, so DuckDB doubles round identically.

    Accepts a single (8, 8) block OR a (..., 8, 8) stack: broadcast
    matmul performs the identical per-block dgemm (verified raw-float
    bit-identical over 20k random blocks in round 12), so batching is
    purely a Python-overhead optimization — one BLAS call per plane
    instead of one Python call per block (~20% of decode time)."""
    f = _JPEG_IDCT_B.T @ (coef_nat.astype(np.float64) * q) @ _JPEG_IDCT_B
    return np.clip(np.floor(f + 128.0 + 0.5), 0, 255).astype(np.uint8)


def _jpeg_blocks_to_plane(px: np.ndarray) -> np.ndarray:
    """(my, mx, 8, 8) decoded block stack -> (my*8, mx*8) plane."""
    my, mx = px.shape[:2]
    return px.transpose(0, 2, 1, 3).reshape(my * 8, mx * 8)


def _jpeg_finish(planes):
    """Gray/YCbCr finish shared by the baseline and progressive paths:
    integer component samples -> (H, W, 1) gray or JFIF-converted
    (H, W, 3) RGB with the same floor(x+0.5) contract."""
    if len(planes) == 1:
        return planes[0][:, :, None]
    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=2,
    )
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)


def _jpeg_prog_reconstruct(comps, coefs, width: int, height: int, qt):
    """Turn accumulated progressive coefficients into pixels: de-zigzag,
    dequantize, IDCT per block, then the shared gray/YCbCr finish.
    1x1 sampling only, so no upsample is needed."""
    mx, my = -(-width // 8), -(-height // 8)
    planes = []
    for ci, comp in enumerate(comps):
        if comp["tq"] not in qt:
            raise ValueError("jpeg progressive frame missing quant table")
        q = qt[comp["tq"]]
        nat = np.zeros((my, mx, 64), dtype=np.int32)
        nat[..., _JPEG_ZIGZAG] = coefs[ci]  # vectorized de-zigzag
        px = _jpeg_idct_block(nat.reshape(my, mx, 8, 8), q)
        planes.append(_jpeg_blocks_to_plane(px)[:height, :width])
    return _jpeg_finish(planes)


def decode_jpeg(content: Optional[bytes]):
    """Decode a baseline sequential (SOF0) or progressive (SOF2) JPEG —
    8-bit, grayscale or YCbCr (1x/2x sampling factors for baseline;
    progressive is supported for 1x1-sampled frames), optional restart
    intervals — to (H, W, 1) or (H, W, 3) uint8, or None for anything
    outside that scope (lossless/arithmetic/hierarchical, 3x+ sampling,
    subsampled progressive, 16-bit quant tables, truncated/corrupt
    streams) — quarantine semantics, never fail the task.

    Full entropy pipeline: DHT canonical Huffman decode (F.2.2.3),
    DC-predictor diff + AC run-length with ZRL/EOB, progressive
    spectral-selection + successive-approximation scan accumulation
    (EOB-run batching, refinement correction bits), de-zigzag,
    dequantize, float64 8x8 IDCT, floor(x+0.5) rounding, and the JFIF
    YCbCr->RGB conversion on integer samples."""
    b = content or b""
    if not b.startswith(b"\xff\xd8"):
        return None
    try:
        qt: dict = {}
        huff: dict = {}  # (tc, th) -> decode table
        frame = None
        ri = 0
        progressive = False
        coefs = None  # progressive: per-component (my, mx, 64) zigzag
        scans_done = 0
        p = 2
        n = len(b)
        while p + 2 <= n:
            if b[p] != 0xFF:
                return None
            m = b[p + 1]
            if m == 0xFF:  # fill byte (B.1.1.2): FF padding before markers
                p += 1
                continue
            if m == 0xD9:  # EOI: progressive streams reconstruct here
                if progressive and scans_done:
                    return _jpeg_prog_reconstruct(
                        frame[2], coefs, frame[0], frame[1], qt
                    )
                return None
            if p + 4 > n:
                return None
            seg_len = int.from_bytes(b[p + 2 : p + 4], "big")
            if seg_len < 2 or p + 2 + seg_len > n:
                return None
            seg = b[p + 4 : p + 2 + seg_len]
            if m == 0xDB:  # DQT, possibly several tables per segment
                q = 0
                while q < len(seg):
                    pq, tq = seg[q] >> 4, seg[q] & 0x0F
                    if pq != 0 or q + 65 > len(seg):
                        return None  # 16-bit tables out of scope
                    tbl = np.zeros(64, dtype=np.int64)
                    tbl[_JPEG_ZIGZAG] = np.frombuffer(
                        seg[q + 1 : q + 65], dtype=np.uint8
                    )
                    qt[tq] = tbl.reshape(8, 8)
                    q += 65
            elif m == 0xC4:  # DHT, possibly several tables per segment
                q = 0
                while q + 17 <= len(seg):
                    tc, th = seg[q] >> 4, seg[q] & 0x0F
                    bits = list(seg[q + 1 : q + 17])
                    nv = sum(bits)
                    vals = seg[q + 17 : q + 17 + nv]
                    if len(vals) < nv:
                        return None
                    huff[(tc, th)] = _jpeg_decode_tables(bits, vals)
                    q += 17 + nv
            elif m == 0xC0 or m == 0xC2:  # baseline / progressive SOF
                prec = seg[0]
                height = int.from_bytes(seg[1:3], "big")
                width = int.from_bytes(seg[3:5], "big")
                nc = seg[5]
                if prec != 8 or nc not in (1, 3) or not width or not height:
                    return None
                # header-declared output bound (mirrors decode_png): a
                # ~30-byte crafted SOF claiming 65535x65535x3 would
                # demand ~50 GB of planes/coefficients — quarantine
                # BEFORE any allocation. (width+15)/(height+15) covers
                # the worst-case MCU padding of the baseline planes.
                # Samples materialize as int32 stacks (4 bytes each), so
                # cap at 2^28 samples = ~1 GiB per frame — beyond any
                # curation-tier image (2^28/3 ≈ an 89-megapixel RGB) and
                # low enough that a crafted header cannot swap-thrash a
                # host where the allocation would have succeeded.
                if (width + 15) * (height + 15) * nc > (1 << 28):
                    return None
                comps = []
                for c in range(nc):
                    cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                    hs, vs = hv >> 4, hv & 0x0F
                    if hs not in (1, 2) or vs not in (1, 2):
                        return None  # 3x/4x sampling out of scope
                    if nc == 1:
                        hs = vs = 1  # single-component scans are 1x1
                    if m == 0xC2 and (hs, vs) != (1, 1):
                        return None  # subsampled progressive descope
                    comps.append({"id": cid, "tq": tq, "h": hs, "v": vs})
                frame = (width, height, comps)
                if m == 0xC2:
                    progressive = True
                    mx0, my0 = -(-width // 8), -(-height // 8)
                    coefs = [
                        np.zeros((my0, mx0, 64), dtype=np.int32)
                        for _ in comps
                    ]
            elif m in _JPEG_SOF:
                return None  # lossless / arithmetic / differential
            elif m == 0xDD:  # DRI
                ri = int.from_bytes(seg[:2], "big")
            elif m == 0xDA and progressive:  # one scan of many
                width, height, comps = frame
                ns = seg[0]
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0x0F
                ids = {comp["id"]: ci for ci, comp in enumerate(comps)}
                scan_comps = []
                for c in range(ns):
                    cs, tt = seg[1 + 2 * c : 3 + 2 * c]
                    if cs not in ids:
                        return None
                    td, ta = tt >> 4, tt & 0x0F
                    dc_tab = huff.get((0, td)) if ss == 0 else None
                    ac_tab = huff.get((1, ta)) if se > 0 else None
                    if ss == 0 and ah == 0 and dc_tab is None:
                        return None
                    if se > 0 and ac_tab is None:
                        return None
                    scan_comps.append((ids[cs], dc_tab, ac_tab))
                mx0, my0 = -(-width // 8), -(-height // 8)
                p = _jpeg_prog_scan(
                    b, p + 2 + seg_len, scan_comps, ss, se, ah, al,
                    coefs, mx0, my0, ri,
                )
                scans_done += 1
                continue
            elif m == 0xDA:  # baseline SOS: decode the scan and return
                if frame is None:
                    return None
                width, height, comps = frame
                ns = seg[0]
                if ns != len(comps):
                    return None  # non-interleaved multi-scan descope
                sel = {}
                for c in range(ns):
                    cs, tt = seg[1 + 2 * c : 3 + 2 * c]
                    sel[cs] = (tt >> 4, tt & 0x0F)
                if seg[1 + 2 * ns] != 0 or seg[2 + 2 * ns] != 63:
                    return None  # not a full baseline spectral scan
                if seg[3 + 2 * ns] != 0:
                    return None  # baseline requires Ah = Al = 0 (B.2.3)
                for comp in comps:
                    if comp["id"] not in sel or comp["tq"] not in qt:
                        return None
                    td, ta = sel[comp["id"]]
                    if (0, td) not in huff or (1, ta) not in huff:
                        return None
                    comp["dc"] = huff[(0, td)]
                    comp["ac"] = huff[(1, ta)]
                    comp["q"] = qt[comp["tq"]]
                chunks, _ = _jpeg_split_entropy(b, p + 2 + seg_len)
                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                mx = -(-width // (8 * hmax))
                my = -(-height // (8 * vmax))
                # entropy decode fills coefficient stacks; the IDCT runs
                # once per component as a batched BLAS call afterwards
                blocks = [
                    np.zeros(
                        (my * c["v"], mx * c["h"], 8, 8), dtype=np.int32
                    )
                    for c in comps
                ]
                preds = [0] * len(comps)
                reader = _JpegBitReader(chunks[0])
                chunk_i = 0
                for mcu in range(mx * my):
                    if ri and mcu and mcu % ri == 0:
                        chunk_i += 1
                        if chunk_i >= len(chunks):
                            return None
                        reader = _JpegBitReader(chunks[chunk_i])
                        preds = [0] * len(comps)
                    ym, xm = divmod(mcu, mx)
                    for ci, comp in enumerate(comps):
                        # hi*vi data units per MCU, raster order (B.2.3)
                        for by in range(comp["v"]):
                            for bx in range(comp["h"]):
                                coef, preds[ci] = _jpeg_decode_block(
                                    reader, comp["dc"], comp["ac"], preds[ci]
                                )
                                blocks[ci][
                                    ym * comp["v"] + by, xm * comp["h"] + bx
                                ] = coef
                planes = [
                    _jpeg_blocks_to_plane(
                        _jpeg_idct_block(blocks[ci], comp["q"])
                    )
                    for ci, comp in enumerate(comps)
                ]
                # nearest-neighbor chroma upsample to frame resolution
                # (index replication: full[y,x] = plane[y*v//vmax, x*h//hmax])
                up = []
                for ci, comp in enumerate(comps):
                    ys = (np.arange(height) * comp["v"]) // vmax
                    xs = (np.arange(width) * comp["h"]) // hmax
                    up.append(planes[ci][ys][:, xs])
                return _jpeg_finish(up)
            p += 2 + seg_len
        return None
    except (ValueError, IndexError, MemoryError):
        # MemoryError is a backstop behind the SOF size guard above: the
        # decoder's contract is quarantine-to-None, never fail the task
        return None


# --- independent JPEG writer (fixture side; shares no logic with the
# decoder: its own zigzag derivation, canonical-code assignment in the
# encode direction, and forward run-length construction) ----------------

# encoder-side zigzag: rank natural positions by (anti-diagonal, then
# i ascending on odd diagonals / descending on even) — an independent
# derivation of the same spec constant
_JPEG_ENC_ZIGZAG = sorted(
    range(64),
    key=lambda t: (
        t // 8 + t % 8,
        (t // 8) if (t // 8 + t % 8) % 2 else -(t // 8),
    ),
)
_JPEG_ENC_ZIGZAG_NP = np.array(_JPEG_ENC_ZIGZAG)  # fancy-index form

# canonical Huffman length specs: any prefix-valid table works (the DHT
# segment carries it to the decoder); these mix short and long codes so
# the variable-length walk is genuinely exercised. DC tables follow the
# spec Annex shapes; AC tables are custom with EOB/ZRL/small-run symbols
# short and the long tail at 10 bits (Kraft sums 0.47-0.66, so the
# all-ones padding code can never decode as a symbol).
_JPEG_ENC_DC_LUMA = [
    (2, [0]),
    (3, [1, 2, 3, 4, 5]),
    (4, [6]),
    (5, [7]),
    (6, [8]),
    (7, [9]),
    (8, [10]),
    (9, [11]),
]
_JPEG_ENC_DC_CHROMA = [(2, [0, 1, 2])] + [
    (ln, [ln]) for ln in range(3, 12)
]
_JPEG_AC_SYMBOLS = (
    [0x00, 0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    # EOBn symbols (r<<4, r=1..14): end-of-band run lengths for
    # progressive scans; never emitted in baseline streams but carried
    # in the table so one table spec serves both modes
    + [r << 4 for r in range(1, 15)]
)


def _jpeg_ac_spec(short: list) -> list:
    """AC length spec: the given short assignments plus every remaining
    valid AC symbol at 10 bits."""
    used = {sym for _, syms in short for sym in syms}
    tail = sorted(s for s in _JPEG_AC_SYMBOLS if s not in used)
    return short + [(10, tail)]


_JPEG_ENC_AC_LUMA = _jpeg_ac_spec(
    [
        (2, [0x00]),
        (4, [0x01, 0x02]),
        (5, [0x03, 0x11]),
        (6, [0x04, 0x21]),
        (7, [0x12, 0x31, 0x41]),
        (8, [0x05, 0x22, 0x51, 0xF0]),
    ]
)
_JPEG_ENC_AC_CHROMA = _jpeg_ac_spec(
    [
        (3, [0x00]),
        (4, [0x01]),
        (5, [0x02, 0x11]),
        (6, [0x03, 0x21]),
        (7, [0x04, 0x12, 0x31]),
        (8, [0x05, 0x22, 0x41, 0xF0]),
    ]
)


def _jpeg_enc_huff(spec: list):
    """Canonical code assignment in the ENCODE direction: walk lengths
    ascending, hand out consecutive codes, shift left at each length
    boundary. Returns ({symbol: (code, length)}, DHT payload tail)."""
    codes = {}
    code, prev = 0, 0
    bits = [0] * 16
    vals = []
    for ln, syms in sorted(spec):
        code <<= ln - prev
        prev = ln
        bits[ln - 1] += len(syms)
        for sym in syms:
            codes[sym] = (code, ln)
            vals.append(sym)
            code += 1
    return codes, bytes(bits) + bytes(vals)


def _jpeg_seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _jpeg_writer_prologue(
    qts, ncomp: int, sof_marker: int, width: int, height: int, sampling
):
    """Shared writer prologue for both storage modes: SOI + JFIF APP0 +
    DQTs (zigzag order) + SOF + DHTs. Returns (bytearray, per-component
    (dc_codes, ac_codes) list)."""
    out = bytearray(b"\xff\xd8")
    out += _jpeg_seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    for tq, q in enumerate(qts):
        flat = q.reshape(-1)
        out += _jpeg_seg(
            0xDB, bytes([tq]) + bytes(int(flat[t]) for t in _JPEG_ENC_ZIGZAG)
        )
    sof = struct.pack(">BHHB", 8, height, width, ncomp)
    for c in range(ncomp):
        hs, vs = sampling[c]
        sof += bytes([c + 1, (hs << 4) | vs, 0 if c == 0 else 1])
    out += _jpeg_seg(sof_marker, sof)
    dc_l, dht_dc_l = _jpeg_enc_huff(_JPEG_ENC_DC_LUMA)
    ac_l, dht_ac_l = _jpeg_enc_huff(_JPEG_ENC_AC_LUMA)
    out += _jpeg_seg(0xC4, bytes([0x00]) + dht_dc_l)
    out += _jpeg_seg(0xC4, bytes([0x10]) + dht_ac_l)
    tables = [(dc_l, ac_l)]
    if ncomp == 3:
        dc_c, dht_dc_c = _jpeg_enc_huff(_JPEG_ENC_DC_CHROMA)
        ac_c, dht_ac_c = _jpeg_enc_huff(_JPEG_ENC_AC_CHROMA)
        out += _jpeg_seg(0xC4, bytes([0x01]) + dht_dc_c)
        out += _jpeg_seg(0xC4, bytes([0x11]) + dht_ac_c)
        tables += [(dc_c, ac_c), (dc_c, ac_c)]
    return out, tables


def _jpeg_validate_levels(levels, qtables, shapes):
    """Shared writer validation: component count, per-component block
    grids, quant-table count and value range. Returns (lv, qts)."""
    ncomp = len(levels)
    if ncomp not in (1, 3):
        raise ValueError("levels must hold 1 or 3 component block arrays")
    if len(qtables) != (1 if ncomp == 1 else 2):
        raise ValueError("qtables must hold 1 (gray) or 2 (color) tables")
    lv = [np.asarray(a, dtype=np.int64) for a in levels]
    for a, shape in zip(lv, shapes):
        if a.shape != shape:
            raise ValueError(f"component blocks must be {shape}")
    qts = [np.asarray(q, dtype=np.int64) for q in qtables]
    for q in qts:
        if q.shape != (8, 8) or q.min() < 1 or q.max() > 255:
            raise ValueError("quant tables must be 8x8 with values 1..255")
    return lv, qts


class _JpegBitWriter:
    """MSB-first bit packer with 0xFF00 byte stuffing; flush pads the
    final byte with 1-bits (stuffed too if it lands on 0xFF)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, nbits: int):
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            self.put((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _jpeg_enc_block(bw, block, zz_codes, pred: int) -> int:
    """Forward entropy coding of one natural-order level block: DC diff
    category + ACs as (run, size) with ZRL/EOB. zz_codes = (dc, ac)."""
    dc_codes, ac_codes = zz_codes
    flat = block.reshape(-1)
    # fancy-index + tolist instead of 64 scalar int() pulls (same
    # values; ~27% of encode time in the per-element form)
    zz = flat[_JPEG_ENC_ZIGZAG_NP].tolist()

    def put_coded(codes, sym, v, s):
        c, ln = codes[sym]
        bw.put(c, ln)
        if s:
            bw.put(v if v > 0 else v + (1 << s) - 1, s)

    diff = zz[0] - pred
    s = abs(diff).bit_length()
    if s > 11:
        raise ValueError("DC level out of range for baseline JPEG")
    put_coded(dc_codes, s, diff, s)
    run = 0
    for v in zz[1:]:
        if v == 0:
            run += 1
            continue
        while run >= 16:
            put_coded(ac_codes, 0xF0, 0, 0)
            run -= 16
        s = abs(v).bit_length()
        if s > 10:
            raise ValueError("AC level out of range for baseline JPEG")
        put_coded(ac_codes, (run << 4) | s, v, s)
        run = 0
    if run:
        put_coded(ac_codes, 0x00, 0, 0)
    return zz[0]


def encode_jpeg(
    levels,
    width: int,
    height: int,
    qtables,
    restart_interval: int = 0,
    sampling=None,
) -> bytes:
    """Independent baseline-JPEG writer for fixtures: QUANTIZED
    coefficient blocks in (natural order) -> a complete SOF0 JPEG.

    ``levels``: list of 1 (grayscale) or 3 (YCbCr) arrays shaped
    (mcus_y * v_i, mcus_x * h_i, 8, 8) of integer levels; ``qtables``:
    1 or 2 natural-order 8x8 tables (luma, chroma), values 1..255;
    ``sampling``: per-component (h, v) factors — None means all (1,1)
    (4:4:4); [(2,2),(1,1),(1,1)] writes 4:2:0. Defining the file by its
    LEVELS (not source pixels) is what makes the decode exactly
    replayable: decoded sample = floor(idct(level*q)+128.5). With
    ``restart_interval`` > 0 a DRI segment and FFD0-7 markers are
    emitted every that many MCUs (predictors reset, bits padded)."""
    ncomp = len(levels)
    sampling = list(sampling) if sampling else [(1, 1)] * ncomp
    if len(sampling) != ncomp or any(
        hs not in (1, 2) or vs not in (1, 2) for hs, vs in sampling
    ):
        raise ValueError("sampling must give (h, v) in {1,2} per component")
    if ncomp == 1 and sampling != [(1, 1)]:
        raise ValueError("grayscale must be 1x1 sampled")
    hmax = max(hs for hs, _ in sampling)
    vmax = max(vs for _, vs in sampling)
    mx, my = -(-width // (8 * hmax)), -(-height // (8 * vmax))
    lv, qts = _jpeg_validate_levels(
        levels, qtables,
        [(my * vs, mx * hs, 8, 8) for hs, vs in sampling],
    )
    out, tables = _jpeg_writer_prologue(qts, ncomp, 0xC0, width, height, sampling)
    if restart_interval:
        out += _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for c in range(ncomp):
        sos += bytes([c + 1, 0x00 if c == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += _jpeg_seg(0xDA, sos)
    bw = _JpegBitWriter()
    preds = [0] * ncomp
    rst = 0
    for mcu in range(mx * my):
        if restart_interval and mcu and mcu % restart_interval == 0:
            bw.flush()
            out += bw.out
            out += bytes([0xFF, 0xD0 + rst % 8])
            rst += 1
            bw = _JpegBitWriter()
            preds = [0] * ncomp
        ym, xm = divmod(mcu, mx)
        for ci in range(ncomp):
            hs, vs = sampling[ci]
            for by in range(vs):
                for bx in range(hs):
                    preds[ci] = _jpeg_enc_block(
                        bw,
                        lv[ci][ym * vs + by, xm * hs + bx],
                        tables[ci],
                        preds[ci],
                    )
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_progressive(
    levels, width: int, height: int, qtables, al: int = 1
) -> bytes:
    """Independent progressive (SOF2) writer for fixtures: the same
    QUANTIZED coefficient blocks :func:`encode_jpeg` takes, stored as a
    spectral-selection + successive-approximation scan script —

    1. DC first scan, interleaved over all components, point transform
       ``al``; then ``al`` DC refinement scans (one raw bit per block).
    2. Per component: AC first scans for bands 1-5 and 6-63 at ``al``,
       then ``al`` refinement passes over both bands (newly-significant
       coefficients as (run, 1) + sign, correction bits for history
       coefficients, EOB-run batching with buffered correction bits —
       the G.1.2.x algorithm).

    1x1 sampling only (the progressive scope of :func:`decode_jpeg`);
    pixels decode IDENTICALLY to the baseline encoding of the same
    levels, which is why the SQL oracle needs no storage-mode term."""
    ncomp = len(levels)
    if not 1 <= al <= 10:
        raise ValueError("al must be in 1..10")
    mx, my = -(-width // 8), -(-height // 8)
    lv, qts = _jpeg_validate_levels(
        levels, qtables, [(my, mx, 8, 8)] * ncomp
    )
    # zigzag views: zz[ci][blk][k] for k in 0..63
    zz = [
        a.reshape(my * mx, 64)[:, _JPEG_ENC_ZIGZAG] for a in lv
    ]
    out, tables = _jpeg_writer_prologue(
        qts, ncomp, 0xC2, width, height, [(1, 1)] * ncomp
    )
    dc_tabs = [t[0] for t in tables]
    ac_tabs = [t[1] for t in tables]
    tids = [(0, 0)] + [(1, 1)] * (ncomp - 1)

    def sos_header(cids, ss, se, ah, a_l) -> bytes:
        hdr = bytes([len(cids)])
        for ci in cids:
            td, ta = tids[ci]
            hdr += bytes([ci + 1, (td << 4) | ta])
        return _jpeg_seg(0xDA, hdr + bytes([ss, se, (ah << 4) | a_l]))

    def put_coded(bw, codes, sym, v, s):
        c, ln = codes[sym]
        bw.put(c, ln)
        if s:
            bw.put(v if v > 0 else v + (1 << s) - 1, s)

    # --- scan 1: DC first, interleaved, point transform al ---
    out += sos_header(list(range(ncomp)), 0, 0, 0, al)
    bw = _JpegBitWriter()
    preds = [0] * ncomp
    for blk in range(my * mx):
        for ci in range(ncomp):
            v = int(zz[ci][blk][0]) >> al
            diff = v - preds[ci]
            preds[ci] = v
            s = abs(diff).bit_length()
            if s > 11:
                raise ValueError("DC level out of range")
            put_coded(bw, dc_tabs[ci], s, diff, s)
    bw.flush()
    out += bw.out

    # --- DC refinement scans: one raw bit per block, al-1 .. 0 ---
    for lvl in range(al - 1, -1, -1):
        out += sos_header(list(range(ncomp)), 0, 0, lvl + 1, lvl)
        bw = _JpegBitWriter()
        for blk in range(my * mx):
            for ci in range(ncomp):
                bw.put((int(zz[ci][blk][0]) >> lvl) & 1, 1)
        bw.flush()
        out += bw.out

    bands = [(1, 5), (6, 63)]

    def ac_first(bw, codes, blocks, ss, se, a_l):
        eobrun = 0

        def flush():
            nonlocal eobrun
            if not eobrun:
                return
            r = eobrun.bit_length() - 1
            put_coded(bw, codes, r << 4, 0, 0)
            if r:
                bw.put(eobrun - (1 << r), r)
            eobrun = 0

        for row in blocks:
            vals = [
                (int(v) >> a_l) if v >= 0 else -((-int(v)) >> a_l)
                for v in row[ss : se + 1]
            ]
            if not any(vals):
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush()
                continue
            flush()
            run = 0
            last_nz = max(i for i, v in enumerate(vals) if v)
            for v in vals[: last_nz + 1]:
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    put_coded(bw, codes, 0xF0, 0, 0)
                    run -= 16
                s = abs(v).bit_length()
                if s > 10:
                    raise ValueError("AC level out of range")
                put_coded(bw, codes, (run << 4) | s, v, s)
                run = 0
            if last_nz < se - ss:  # trailing zeros open a new EOB run
                eobrun = 1
        flush()

    def ac_refine(bw, codes, blocks, ss, se, lvl):
        eobrun = 0
        ebits: list = []

        def flush():
            nonlocal eobrun, ebits
            if eobrun:
                r = eobrun.bit_length() - 1
                put_coded(bw, codes, r << 4, 0, 0)
                if r:
                    bw.put(eobrun - (1 << r), r)
                eobrun = 0
            for bit in ebits:
                bw.put(bit, 1)
            ebits = []

        for row in blocks:
            mags = [abs(int(v)) >> lvl for v in row[ss : se + 1]]
            new_idx = [i for i, a in enumerate(mags) if a == 1]
            if not new_idx:
                eobrun += 1
                ebits += [a & 1 for a in mags if a > 1]
                if eobrun == 0x7FFF or len(ebits) >= 930:
                    flush()
                continue
            flush()
            run = 0
            pend: list = []
            ke = new_idx[-1]
            for i in range(ke + 1):
                a = mags[i]
                if a == 0:
                    run += 1
                    continue
                while run > 15:
                    put_coded(bw, codes, 0xF0, 0, 0)
                    run -= 16
                    for bit in pend:
                        bw.put(bit, 1)
                    pend = []
                if a > 1:  # history coefficient: buffer correction bit
                    pend.append(a & 1)
                    continue
                put_coded(bw, codes, (run << 4) | 1, 0, 0)
                bw.put(1 if row[ss + i] > 0 else 0, 1)
                for bit in pend:
                    bw.put(bit, 1)
                pend = []
                run = 0
            tail = [a & 1 for a in mags[ke + 1 :] if a > 1]
            if ke < se - ss:
                eobrun = 1
                ebits = tail
        flush()

    for lvl in [al] + list(range(al - 1, -1, -1)):
        first = lvl == al
        for ci in range(ncomp):
            for ss, se in bands:
                out += sos_header(
                    [ci], ss, se, 0 if first else lvl + 1, lvl
                )
                bw = _JpegBitWriter()
                if first:
                    ac_first(bw, ac_tabs[ci], zz[ci], ss, se, lvl)
                else:
                    ac_refine(bw, ac_tabs[ci], zz[ci], ss, se, lvl)
                bw.flush()
                out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def jpeg_reference_pixels(levels, qtables, width: int, height: int, sampling=None):
    """Independent numpy reference for what :func:`decode_jpeg` must
    return for a file written by :func:`encode_jpeg` — computed straight
    from the levels with an einsum-form IDCT (no shared basis matrix, no
    entropy coding), used by pytest to pin the full codec round trip."""
    cos = np.cos(
        (2 * np.arange(8)[:, None] + 1) * np.arange(8)[None, :] * np.pi / 16.0
    )  # [y, i]
    alpha = np.array([1.0 / np.sqrt(2.0)] + [1.0] * 7)
    ncomp = len(levels)
    sampling = list(sampling) if sampling else [(1, 1)] * ncomp
    hmax = max(hs for hs, _ in sampling)
    vmax = max(vs for _, vs in sampling)
    mx, my = -(-width // (8 * hmax)), -(-height // (8 * vmax))
    planes = []
    for ci in range(ncomp):
        hs, vs = sampling[ci]
        q = np.asarray(qtables[0 if ci == 0 else 1], dtype=np.float64)
        plane = np.zeros((my * vs * 8, mx * hs * 8))
        for yb in range(my * vs):
            for xb in range(mx * hs):
                fq = np.asarray(levels[ci][yb, xb], dtype=np.float64) * q
                f = 0.25 * np.einsum(
                    "ij,i,j,yi,xj->yx", fq, alpha, alpha, cos, cos
                )
                plane[yb * 8 : yb * 8 + 8, xb * 8 : xb * 8 + 8] = f
        samples = np.clip(np.floor(plane + 128.5), 0, 255)
        ys = (np.arange(height) * vs) // vmax
        xs = (np.arange(width) * hs) // hmax
        planes.append(samples[ys][:, xs])
    if ncomp == 1:
        return planes[0][:, :, None].astype(np.uint8)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=2,
    )
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)


def decode_image(content: Optional[bytes]):
    """Dispatch the real pixel decoders by magic bytes: PNG
    (:func:`decode_png`), GIF (:func:`decode_gif`) and baseline JPEG
    (:func:`decode_jpeg`) return (H, W, C) uint8; everything else —
    including the documented JPEG descopes (progressive, subsampled) —
    returns None."""
    b = content or b""
    if b.startswith(_PNG_SIG):
        return decode_png(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(b)
    if b.startswith(b"\xff\xd8"):
        return decode_jpeg(b)
    return None


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_pixels", T.LongType(), True),
        T.StructField("sum_r", T.LongType(), True),
        T.StructField("sum_g", T.LongType(), True),
        T.StructField("sum_b", T.LongType(), True),
        T.StructField("sum_luma3", T.LongType(), True),
        T.StructField("sum_luma3_sq", T.LongType(), True),
        # order-sensitive: sum over y>=1, x of |luma3[y,x]-luma3[y-1,x]|
        # — pixel sums are permutation-invariant, this is the statistic
        # that breaks if rows come back reordered (e.g. a de-interlace
        # bug); 0 for single-row images
        T.StructField("sum_row_delta", T.LongType(), True),
    ]
)


def image_pixel_stats(
    df: DataFrame, content_col: str = "content", id_col: str = "media_id"
) -> DataFrame:
    """REAL pixel statistics over PNG/GIF payloads: per image, exact
    integer channel sums plus the (r+g+b) sum and sum-of-squares
    (brightness moments with denominator 3n), decoded by
    :func:`decode_image` inside Arrow-batched ``mapInPandas``. Gray
    images count their single channel as all three; undecodable payloads
    yield NULL stats (quarantine downstream, never fail the task).

    Integer sums travel; means/stds are derived by the caller — exact
    aggregation, engine-portable rounding, no float accumulation order
    dependence. Scale: pure map, no shuffle; this is the CPU-tier pixel
    pass a 100 TB pipeline runs to gate what reaches GPU decoders."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                px = decode_image(content)
                if px is None:
                    rows.append((int(mid),) + (None,) * 9)
                    continue
                h, w, ch = px.shape
                p = px.astype(np.int64)
                if ch == 1:
                    r = g = b = p[:, :, 0]
                else:
                    r, g, b = p[:, :, 0], p[:, :, 1], p[:, :, 2]
                luma3 = r + g + b
                rows.append(
                    (
                        int(mid),
                        w,
                        h,
                        w * h,
                        int(r.sum()),
                        int(g.sum()),
                        int(b.sum()),
                        int(luma3.sum()),
                        int((luma3 * luma3).sum()),
                        int(np.abs(np.diff(luma3, axis=0)).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "width",
                    "height",
                    "n_pixels",
                    "sum_r",
                    "sum_g",
                    "sum_b",
                    "sum_luma3",
                    "sum_luma3_sq",
                    "sum_row_delta",
                ],
            ).astype(
                {
                    "width": "Int32",
                    "height": "Int32",
                    "n_pixels": "Int64",
                    "sum_r": "Int64",
                    "sum_g": "Int64",
                    "sum_b": "Int64",
                    "sum_luma3": "Int64",
                    "sum_luma3_sq": "Int64",
                    "sum_row_delta": "Int64",
                }
            )

    return df.mapInPandas(run, PIXEL_STATS_SCHEMA)


def image_dimensions(
    df: DataFrame, content_col: str = "content", id_col: str = "media_id"
) -> DataFrame:
    """REAL header decode over a binary column: (id, image_format, width,
    height) via Arrow-batched ``mapInPandas`` — blobs stream through in
    record batches, never row-at-a-time Python. Unrecognized/corrupt
    payloads yield NULL columns rather than failing the task (at 100 TB
    some blobs are always mangled; route NULLs to quarantine downstream).

    Scale: this is a pure map — no shuffle; bound task memory for huge
    blobs with ``spark.sql.execution.arrow.maxRecordsPerBatch`` exactly
    as :func:`extract_features` documents."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [parse_image_header(c) for c in pdf[content_col]]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "image_format": pd.array([p[0] for p in parsed], dtype="string"),
                    "width": pd.array([p[1] for p in parsed], dtype="Int32"),
                    "height": pd.array([p[2] for p in parsed], dtype="Int32"),
                }
            )

    return df.mapInPandas(run, DIMENSIONS_SCHEMA)


def make_fake_media_df(spark, n: int = 16, media_type: str = "image") -> DataFrame:
    """Deterministic synthetic media table for plumbing tests."""
    rows = [
        (
            i,
            hashlib.sha256(f"media-{i}".encode()).digest() * 4,
            media_type,
            f"{media_type}/fake",
            64,
            48,
            5000 if media_type == "video" else None,
        )
        for i in range(n)
    ]
    return local_frame(spark, rows, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Audio: real PCM WAV decode (round 10) — the third media family after
# PNG/GIF pixels and AVI frames, same stdlib RIFF-walk discipline.
# ---------------------------------------------------------------------------


# IMA/DVI ADPCM (WAV format tag 0x11) constants — the public step and
# index-adjust tables from the IMA ADPCM reference algorithm (the same
# tables every implementation ships; cf. reference repo's data-format
# breadth in pramen/extras sources, which stops at uncompressed formats).
_ADPCM_STEP = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_ADPCM_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]  # for nibble & 7


def _adpcm_step_nibble(nib: int, pred: int, idx: int):
    """One step of the IMA ADPCM decoder recurrence: 4-bit code ->
    (new predictor, new step index). Exactly integer — bit 3 is sign,
    bits 2..0 select step fractions (step>>3 base, + step, step>>1,
    step>>2) — so the whole stream is SQL-replayable."""
    step = _ADPCM_STEP[idx]
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    if nib & 8:
        diff = -diff
    pred = min(32767, max(-32768, pred + diff))
    idx = min(88, max(0, idx + _ADPCM_INDEX[nib & 7]))
    return pred, idx


def _adpcm_decode(data: bytes, block_align: int, channels: int):
    """Decode an IMA ADPCM ``data`` chunk to an (n_frames, channels)
    int32 array, or None on a corrupt stream (truncated block header,
    step index out of the 0..88 table). Standard block layout: one
    4-byte header per channel (int16 LE predictor — emitted verbatim as
    the channel's first sample of the block — then the uint8 step index
    and a reserved byte), then the body in 4-byte words (8 nibbles, low
    nibble first) alternating channels: ch0 word, ch1 word, ... The
    final block may be short (data chunk ends early); its available
    nibbles still decode, and a ragged channel tail trims to the
    shortest channel.

    The recurrence is inherently sequential, so this is a Python loop
    over nibbles — fine for curation-tier clips (10^2..10^5 samples);
    the per-clip work is bounded by the payload, and the loop runs
    inside the Arrow-batched decode task like every other codec here."""
    chans = [[] for _ in range(channels)]
    preds = [0] * channels
    idxs = [0] * channels
    for off in range(0, len(data), block_align):
        blk = data[off : off + block_align]
        if len(blk) < 4 * channels:
            return None  # block headers cannot be truncated
        for c in range(channels):
            preds[c] = int.from_bytes(
                blk[4 * c : 4 * c + 2], "little", signed=True
            )
            idxs[c] = blk[4 * c + 2]
            if idxs[c] > 88:
                return None
            chans[c].append(preds[c])
        body = blk[4 * channels :]
        for w in range(0, len(body), 4):
            c = (w // 4) % channels
            for byte in body[w : w + 4]:
                for nib in (byte & 0x0F, byte >> 4):
                    preds[c], idxs[c] = _adpcm_step_nibble(
                        nib, preds[c], idxs[c]
                    )
                    chans[c].append(preds[c])
    n = min(len(ch) for ch in chans)
    out = np.empty((n, channels), dtype=np.int32)
    for c in range(channels):
        out[:, c] = chans[c][:n]
    return out


def decode_wav(content: Optional[bytes]):
    """Decode a PCM or IMA-ADPCM WAV (RIFF/WAVE) to ``(samples,
    sample_rate)`` where ``samples`` is an (n_frames, n_channels) int32
    numpy array of the raw integer sample values, or None when the
    payload is out of scope (wrong magic, unsupported format tag, or
    corrupt chunk walk).

    Pure stdlib RIFF walk. Format tag 1 (integer PCM, 8/16-bit, any
    channel count): the ``data`` chunk is raw little-endian interleaved
    frames — decode is byte slicing (8-bit unsigned offset-128, 16-bit
    signed). Format tag 0x11 (DVI/IMA ADPCM, mono or stereo, 4-bit): the
    exact integer predictor recurrence of :func:`_adpcm_decode`, with
    stereo's word-interleaved channel nibbles de-interleaved per block.
    Float and perceptual codecs (mp3/aac-in-wav) return None: quarantine
    downstream."""
    b = content or b""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    fmt_tag = channels = sample_rate = bits = block_align = None
    fact_frames = None
    data = None
    pos = 12
    while pos + 8 <= len(b):
        fourcc = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        start = pos + 8
        if start + size > len(b):
            return None
        # first-wins for both fmt and data: trailing junk chunks must
        # not overwrite the gate a valid header already passed (nor
        # sneak a float stream past it with a crafted second fmt)
        if fourcc == b"fmt " and size >= 16 and fmt_tag is None:
            fmt_tag = int.from_bytes(b[start : start + 2], "little")
            channels = int.from_bytes(b[start + 2 : start + 4], "little")
            sample_rate = int.from_bytes(b[start + 4 : start + 8], "little")
            block_align = int.from_bytes(b[start + 12 : start + 14], "little")
            bits = int.from_bytes(b[start + 14 : start + 16], "little")
        elif fourcc == b"fact" and size >= 4 and fact_frames is None:
            # spec-required for compressed formats: the true per-channel
            # frame count (the data chunk may carry block tail padding)
            fact_frames = int.from_bytes(b[start : start + 4], "little")
        elif fourcc == b"data" and data is None:
            data = b[start : start + size]
        pos = start + size + (size & 1)  # chunks pad to even
    if data is None or not channels:
        return None
    if fmt_tag == 0x11:  # DVI/IMA ADPCM
        if (
            bits != 4
            or channels not in (1, 2)
            or not block_align
            or block_align < 4 * channels + 1
        ):
            return None
        samples = _adpcm_decode(data, block_align, channels)
        if samples is None:
            return None
        if fact_frames is not None and fact_frames < samples.shape[0]:
            # trim encoder word/byte padding to the true length
            samples = samples[:fact_frames]
        return samples, (sample_rate or 0)
    if fmt_tag != 1 or bits not in (8, 16):
        return None
    width = bits // 8
    n_frames = len(data) // (width * channels)
    if n_frames == 0:
        return np.zeros((0, channels), dtype=np.int32), (sample_rate or 0)
    raw = data[: n_frames * width * channels]
    if bits == 16:
        a = np.frombuffer(raw, dtype="<i2").astype(np.int32)
    else:
        a = np.frombuffer(raw, dtype=np.uint8).astype(np.int32) - 128
    return a.reshape(n_frames, channels), (sample_rate or 0)


def encode_wav(
    samples: np.ndarray, sample_rate: int = 16000, bits: int = 16
) -> bytes:
    """Independent PCM WAV writer for fixtures (spec-packed, shares no
    logic with :func:`decode_wav`): (n_frames, n_channels) integer
    samples -> a complete RIFF/WAVE with a 16-byte PCM ``fmt `` chunk
    and a raw interleaved ``data`` chunk."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    n_frames, channels = s.shape
    width = bits // 8
    if bits == 16:
        payload = s.astype("<i2").tobytes()
    elif bits == 8:
        payload = (s.astype(np.int32) + 128).astype(np.uint8).tobytes()
    else:
        raise ValueError("bits must be 8 or 16")
    block_align = width * channels
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align,
        block_align, bits,
    )

    def chunk(fourcc: bytes, d: bytes) -> bytes:
        return fourcc + len(d).to_bytes(4, "little") + d + (
            b"\x00" if len(d) & 1 else b""
        )

    body = b"WAVE" + chunk(b"fmt ", fmt) + chunk(b"data", payload)
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def _wav_chunk(fourcc: bytes, d: bytes) -> bytes:
    return fourcc + len(d).to_bytes(4, "little") + d + (
        b"\x00" if len(d) & 1 else b""
    )


def _adpcm_wav_wrap(
    data: bytes,
    sample_rate: int,
    block_align: int,
    n_samples: int,
    channels: int = 1,
) -> bytes:
    """RIFF/WAVE wrapper for an IMA ADPCM ``data`` chunk: 20-byte fmt
    (tag 0x11, 4 bits, cbSize=2 with wSamplesPerBlock) + the
    spec-required ``fact`` chunk carrying the per-channel frame count."""
    samples_per_block = (block_align - 4 * channels) * 2 // channels + 1
    avg_bytes = (sample_rate * block_align) // max(1, samples_per_block)
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, channels, sample_rate, avg_bytes, block_align, 4,
        2, samples_per_block,
    )
    body = (
        b"WAVE"
        + _wav_chunk(b"fmt ", fmt)
        + _wav_chunk(b"fact", n_samples.to_bytes(4, "little"))
        + _wav_chunk(b"data", data)
    )
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def pack_wav_adpcm(
    nibbles,
    predictor: int,
    step_index: int,
    sample_rate: int = 16000,
) -> bytes:
    """Pack a RAW 4-bit code stream into a single-block mono IMA ADPCM
    WAV — the oracle-fixture writer: given a deterministic nibble
    formula, the decoded output is exactly the predictor recurrence
    seeded at (predictor, step_index), which DuckDB replays as a
    recursive CTE (the ``audio_sample_stats_adpcm`` oracle). Single
    block BY DESIGN: a block header re-states the running predictor as
    a fresh verbatim sample, which would interleave header samples into
    the recurrence; one block keeps the SQL replay a single seeded scan.
    Odd nibble counts are rejected (a trailing half-byte would decode
    as a phantom 0-code sample)."""
    nibbles = list(nibbles)
    if len(nibbles) % 2:
        raise ValueError("nibble count must be even (2 codes per byte)")
    if not -32768 <= predictor <= 32767 or not 0 <= step_index <= 88:
        raise ValueError("seed state out of range")
    data = bytearray(struct.pack("<hBB", predictor, step_index, 0))
    for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
        if not 0 <= lo <= 15 or not 0 <= hi <= 15:
            raise ValueError("nibbles must be 4-bit codes")
        data.append(lo | (hi << 4))
    block_align = len(data)
    return _adpcm_wav_wrap(
        bytes(data), sample_rate, block_align, len(nibbles) + 1
    )


def _adpcm_encode_channel(targets, pred: int, idx: int):
    """Error-feedback nibble search for one channel's run of samples:
    pick each 4-bit code by greedy magnitude fitting against the current
    step, then advance through the DECODER recurrence so encoder and
    decoder states stay in lockstep. Returns (nibbles, final index)."""
    nibs = []
    for target in targets:
        step = _ADPCM_STEP[idx]
        diff = int(target) - pred
        nib = 0
        if diff < 0:
            nib = 8
            diff = -diff
        if diff >= step:
            nib |= 4
            diff -= step
        if diff >= step >> 1:
            nib |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            nib |= 1
        pred, idx = _adpcm_step_nibble(nib, pred, idx)
        nibs.append(nib)
    return nibs, idx


def encode_wav_adpcm(
    samples: np.ndarray, sample_rate: int = 16000, block_align: int = 256
) -> bytes:
    """Independent quantizing IMA ADPCM encoder for round-trip tests
    (shares only the published constant tables with the decoder; the
    encode direction — error-feedback nibble search — is its own
    logic): mono or stereo int16-range samples -> multi-block
    format-0x11 RIFF/WAVE. Standard block layout: each block stores
    each channel's first input sample verbatim in a per-channel header
    (the decoder emits it as that channel's first output sample of the
    block) and nibble-encodes the following samples in 4-byte words
    alternating channels; step indices carry across blocks. The final
    block may be short; tail nibbles pad with code 0 to the word
    boundary (decoders emit a few low-magnitude phantom samples, the
    standard behavior — round-trip tests compare the input-length
    prefix)."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if ch not in (1, 2):
        raise ValueError("channels must be 1 or 2")
    if (block_align - 4 * ch) <= 0 or (block_align - 4 * ch) % (4 * ch):
        raise ValueError(
            "block_align must leave whole 4-byte words per channel"
        )
    s = s.astype(np.int64)
    if n == 0:
        return _adpcm_wav_wrap(b"", sample_rate, block_align, 0, ch)
    if s.min() < -32768 or s.max() > 32767:
        raise ValueError("samples must be int16-range")
    spb = (block_align - 4 * ch) * 2 // ch + 1
    idxs = [0] * ch
    data = bytearray()
    word_pad = 8 if ch > 1 else 2  # stereo interleaves whole words
    for b0 in range(0, n, spb):
        blk = s[b0 : b0 + spb]
        for c in range(ch):
            data += struct.pack("<hBB", int(blk[0, c]), idxs[c], 0)
        nibs = []
        for c in range(ch):
            cn, idxs[c] = _adpcm_encode_channel(
                blk[1:, c], int(blk[0, c]), idxs[c]
            )
            while len(cn) % word_pad:
                cn.append(0)  # pad tail to the channel word boundary
            nibs.append(cn)
        words = len(nibs[0]) // word_pad
        for w in range(words):
            for c in range(ch):
                chunk = nibs[c][w * word_pad : (w + 1) * word_pad]
                for lo, hi in zip(chunk[0::2], chunk[1::2]):
                    data.append(lo | (hi << 4))
    return _adpcm_wav_wrap(bytes(data), sample_rate, block_align, n, ch)


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("sum_amp", T.LongType(), True),
        T.StructField("sum_amp_sq", T.LongType(), True),
        T.StructField("peak_amp", T.IntegerType(), True),
        T.StructField("zero_crossings", T.LongType(), True),
    ]
)


def audio_sample_stats(
    df: DataFrame, content_col: str = "content", id_col: str = "media_id"
) -> DataFrame:
    """REAL per-clip audio statistics over PCM WAV payloads: exact
    integer moments of the channel-0 waveform — amplitude sum and
    sum-of-squares (RMS energy numerator), absolute peak, and the
    sign-change (zero-crossing) count, the classic cheap speech/music/
    noise discriminators — decoded by :func:`decode_wav` inside
    Arrow-batched ``mapInPandas``. Undecodable payloads yield NULL
    stats (quarantine downstream, never fail the task).

    Zero-crossing convention: count of adjacent sample pairs whose
    signs differ with sign(0) = +1 (i.e. ``(s < 0) != (s_next < 0)``),
    replayable exactly in SQL. Scale: pure map, no shuffle — one
    moments row per clip leaves the decode task."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                decoded = decode_wav(
                    bytes(content) if content is not None else None
                )
                if decoded is None or decoded[0].shape[0] == 0:
                    rows.append((int(mid),) + (None,) * 7)
                    continue
                samples, rate = decoded
                ch0 = samples[:, 0].astype(np.int64)
                neg = ch0 < 0
                rows.append(
                    (
                        int(mid),
                        int(rate),
                        samples.shape[1],
                        samples.shape[0],
                        int(ch0.sum()),
                        int((ch0 * ch0).sum()),
                        int(np.abs(ch0).max()),
                        int((neg[1:] != neg[:-1]).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "sample_rate",
                    "n_channels",
                    "n_frames",
                    "sum_amp",
                    "sum_amp_sq",
                    "peak_amp",
                    "zero_crossings",
                ],
            ).astype(
                {
                    "sample_rate": "Int32",
                    "n_channels": "Int32",
                    "n_frames": "Int64",
                    "sum_amp": "Int64",
                    "sum_amp_sq": "Int64",
                    "peak_amp": "Int32",
                    "zero_crossings": "Int64",
                }
            )

    return df.mapInPandas(run, AUDIO_STATS_SCHEMA)
