"""Multimodal column plumbing: binary payloads + typed metadata.

The reference's media kernel is pHash over decoded images
(/root/reference/scanner/hashFile.py:95-106) with a mime dispatcher
(/root/reference/scanner/fileHasher.py:406-455). At 100 TB the pattern is:
media as opaque `binary` columns with typed metadata, decode / feature /
resize / frame-sample as Arrow-batched `mapInPandas` stages so each executor
processes whole record batches without per-row Python.

decode_media decodes ALL THREE media types for real, even without codec
libraries installed: images via built-in dependency-free
PPM/PGM/BMP parsers (tried first, so features are bit-stable across
environments) with a PIL fallback for compressed formats (PNG/JPEG/WebP/...);
audio via a built-in RIFF WAVE PCM parser with RMS energy-envelope features
in the same FEATURE_DIM space; video via a built-in RIFF AVI
uncompressed-DIB parser (frame-sampled temporal aHash mean-pool) with an
optional pyav fallback for codec-compressed containers. All three are
golden-tested; undecodable payloads quarantine (null features), never abort
the job.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("url", StringType()),
        StructField("media_type", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("url", StringType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("features", ArrayType(FloatType())),
    ]
)

FEATURE_DIM = 64


def _try_pil_decode(raw: bytes) -> np.ndarray | None:
    """PIL pathway (PNG/JPEG/WebP/...): grayscale float array, or None if PIL
    is absent or can't parse the payload."""
    try:
        from io import BytesIO

        from PIL import Image
    except ImportError:
        return None
    try:
        with Image.open(BytesIO(raw)) as im:
            return np.asarray(im.convert("L"), dtype=np.float64)
    except Exception:
        return None


def _parse_ppm(raw: bytes) -> np.ndarray | None:
    """Dependency-free decoder for binary PPM/PGM (P6/P5) — real image
    formats, so the 'real' branch is exercisable even where PIL isn't
    installed. Returns grayscale float64 HxW or None."""
    if raw[:2] not in (b"P6", b"P5"):
        return None
    # header: magic, width, height, maxval — whitespace/comment separated
    toks: list[bytes] = []
    i = 2
    while len(toks) < 3 and i < len(raw):
        while i < len(raw) and raw[i : i + 1].isspace():
            i += 1
        if raw[i : i + 1] == b"#":
            while i < len(raw) and raw[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(raw) and not raw[j : j + 1].isspace():
            j += 1
        toks.append(raw[i:j])
        i = j
    i += 1  # single whitespace after maxval
    try:
        w, h, maxval = int(toks[0]), int(toks[1]), int(toks[2])
    except (ValueError, IndexError):
        return None
    if maxval <= 0 or maxval > 255 or w <= 0 or h <= 0:
        return None
    ch = 3 if raw[:2] == b"P6" else 1
    if len(raw) - i < w * h * ch:
        # truncated payload: frombuffer with count= would raise, aborting the
        # job — quarantine instead (ADVICE r3: header-declared size can lie)
        return None
    px = np.frombuffer(raw, dtype=np.uint8, count=w * h * ch, offset=i)
    if ch == 3:
        rgb = px.reshape(h, w, 3).astype(np.float64)
        # ITU-R 601 luma — same weights PIL's convert("L") uses
        return rgb[:, :, 0] * 0.299 + rgb[:, :, 1] * 0.587 + rgb[:, :, 2] * 0.114
    return px.reshape(h, w).astype(np.float64)


def _parse_bmp(raw: bytes) -> np.ndarray | None:
    """Dependency-free decoder for uncompressed 24-bit BMP. Grayscale or None."""
    if raw[:2] != b"BM" or len(raw) < 54:
        return None
    data_off = int.from_bytes(raw[10:14], "little")
    hdr_size = int.from_bytes(raw[14:18], "little")
    if hdr_size < 40:
        return None
    w = int.from_bytes(raw[18:22], "little", signed=True)
    h = int.from_bytes(raw[22:26], "little", signed=True)
    bpp = int.from_bytes(raw[28:30], "little")
    comp = int.from_bytes(raw[30:34], "little")
    if bpp != 24 or comp != 0 or w <= 0 or h == 0:
        return None
    flip = h > 0  # positive height = bottom-up row order
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    if len(raw) < data_off + stride * h:
        return None
    rows = np.frombuffer(raw, dtype=np.uint8, count=stride * h, offset=data_off)
    bgr = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3).astype(np.float64)
    if flip:
        bgr = bgr[::-1]
    return bgr[:, :, 2] * 0.299 + bgr[:, :, 1] * 0.587 + bgr[:, :, 0] * 0.114


def _parse_wav_pcm(raw: bytes) -> tuple[np.ndarray, int] | None:
    """Dependency-free decoder for RIFF WAVE PCM (8/16-bit, any channel
    count): returns (mono float64 samples in [-1, 1], sample_rate) or None.
    The audio analog of the PPM/BMP parsers — real format, no codec lib."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE" or len(raw) < 44:
        return None
    i, n = 12, len(raw)
    fmt = None
    while i + 8 <= n:
        cid = raw[i : i + 4]
        csz = int.from_bytes(raw[i + 4 : i + 8], "little")
        body = raw[i + 8 : i + 8 + csz]
        if cid == b"fmt " and len(body) >= 16:
            audio_fmt = int.from_bytes(body[0:2], "little")
            n_ch = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if audio_fmt != 1 or n_ch < 1 or rate <= 0 or bits not in (8, 16):
                return None  # non-PCM (compressed) wav: not this parser's job
            fmt = (n_ch, rate, bits)
        elif cid == b"data" and fmt is not None:
            n_ch, rate, bits = fmt
            if bits == 16:
                usable = len(body) - (len(body) % (2 * n_ch))
                if usable <= 0:
                    return None
                x = np.frombuffer(body, dtype="<i2", count=usable // 2)
                x = x.astype(np.float64) / 32768.0
            else:
                usable = len(body) - (len(body) % n_ch)
                if usable <= 0:
                    return None
                x = np.frombuffer(body, dtype=np.uint8, count=usable)
                x = (x.astype(np.float64) - 128.0) / 128.0
            mono = x.reshape(-1, n_ch).mean(axis=1)
            return mono, rate
        i += 8 + csz + (csz & 1)  # chunks are word-aligned
    return None


def _energy_features(mono: np.ndarray, grid: int = FEATURE_DIM) -> list[float] | None:
    """RMS energy envelope over `grid` equal time bins, centered and
    unit-normalized — the audio analog of the aHash mean-pool (same feature
    dimension, so the downstream cosine-LSH/ANN operators apply unchanged)."""
    if len(mono) < grid:
        return None  # shorter than the pooling grid: quarantine, like images
    bins = np.array_split(mono.astype(np.float64) ** 2, grid)
    pooled = np.sqrt(np.array([b.mean() for b in bins]))
    v = pooled - pooled.mean()
    nrm = np.linalg.norm(v)
    v = v / nrm if nrm > 0 else v
    return [float(x) for x in v.astype(np.float32)]


def _temporal_ahash(frames: list[np.ndarray]) -> list[float] | None:
    """Temporal mean-pool of per-frame aHash features: sample up to 8 frames
    evenly, aHash each, mean across time, unit-normalize. Shared by the
    built-in AVI parser and the pyav branch so a given gray-frame sequence
    yields identical features regardless of which decoder produced it."""
    if not frames:
        return None
    idx = np.linspace(0, len(frames) - 1, min(8, len(frames))).astype(int)
    grid = int(FEATURE_DIM**0.5)
    feats = []
    for i in idx:
        g = frames[i].astype(np.float64)
        if g.shape[0] < grid or g.shape[1] < grid:
            continue
        feats.append(_ahash_features(g, grid=grid))
    if not feats:
        return None
    v = np.mean(np.array(feats, dtype=np.float64), axis=0)
    nrm = np.linalg.norm(v)
    v = v / nrm if nrm > 0 else v
    return [float(x) for x in v.astype(np.float32)]


def _parse_avi_dib(raw: bytes) -> tuple[list[np.ndarray], int, int] | None:
    """Dependency-free decoder for RIFF AVI with uncompressed DIB video frames
    (BI_RGB 24-bit '##db' chunks) — the video analog of the WAV PCM parser:
    a real container format that needs no codec library. Returns
    (gray float64 frames, width, height) or None.

    Walks the RIFF chunk tree (LIST chunks recurse), takes the video stream's
    BITMAPINFOHEADER from 'strf', and decodes each '##db' frame exactly like
    BMP pixel data: bottom-up BGR24 rows, stride padded to 4 bytes, ITU-R 601
    luma. Compressed streams ('##dc' with a fourcc codec) return None — the
    pyav branch's job."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"AVI " or len(raw) < 12:
        return None
    bmp: tuple[int, int] | None = None  # (w, h) once a usable strf is seen
    frame_bodies: list[bytes] = []
    in_vids = False
    stack: list[tuple[int, int]] = [(12, len(raw))]  # (cursor, end) per level
    while stack:
        i, end = stack.pop()
        while i + 8 <= end:
            cid = raw[i : i + 4]
            csz = int.from_bytes(raw[i + 4 : i + 8], "little")
            body_start = i + 8
            body_end = min(body_start + csz, end)
            nxt = body_start + csz + (csz & 1)  # chunks are word-aligned
            if cid == b"LIST":
                stack.append((nxt, end))  # resume siblings after the list
                stack.append((body_start + 4, body_end))  # descend past list type
                break
            if cid == b"strh" and csz >= 4:
                in_vids = raw[body_start : body_start + 4] == b"vids"
            elif cid == b"strf" and in_vids and csz >= 40:
                b = raw[body_start:body_end]
                w = int.from_bytes(b[4:8], "little", signed=True)
                h = int.from_bytes(b[8:12], "little", signed=True)
                bpp = int.from_bytes(b[14:16], "little")
                comp = int.from_bytes(b[16:20], "little")
                if bpp != 24 or comp != 0 or w <= 0 or h <= 0:
                    return None  # compressed / exotic depth: not this parser's job
                bmp = (w, h)
            elif len(cid) == 4 and cid[:2].isdigit() and cid[2:4] == b"db":
                if body_end - body_start == csz:  # skip truncated tail chunks
                    frame_bodies.append(raw[body_start:body_end])
            i = nxt
    if bmp is None or not frame_bodies:
        return None
    w, h = bmp
    stride = (w * 3 + 3) & ~3
    frames: list[np.ndarray] = []
    for body in frame_bodies:
        if len(body) < stride * h:
            continue  # truncated frame: drop it, keep the rest (quarantine-safe)
        rows = np.frombuffer(body, dtype=np.uint8, count=stride * h)
        bgr = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3).astype(np.float64)
        bgr = bgr[::-1]  # DIB rows are bottom-up
        frames.append(
            bgr[:, :, 2] * 0.299 + bgr[:, :, 1] * 0.587 + bgr[:, :, 0] * 0.114
        )
    if not frames:
        return None
    return frames, w, h


def _builtin_video(raw: bytes) -> tuple[int, int, int, list[float]] | None:
    """Built-in video pathway (_parse_avi_dib frames -> _temporal_ahash).
    Returns (width, height, n_frames, features) or None."""
    parsed = _parse_avi_dib(raw)
    if parsed is None:
        return None
    frames, w, h = parsed
    fv = _temporal_ahash(frames)
    if fv is None:
        return None
    return w, h, len(frames), fv


def _try_pyav_video(raw: bytes) -> tuple[int, int, int, list[float]] | None:
    """Optional pyav pathway for compressed video: decode the first video
    stream to gray frames, then the shared _temporal_ahash pool. Returns
    (width, height, n_frames, features) or None when pyav is absent or
    cannot parse the payload — same quarantine contract as images."""
    try:
        import av  # not installed in codec-free containers
    except ImportError:
        return None
    try:
        from io import BytesIO

        with av.open(BytesIO(raw)) as container:
            stream = container.streams.video[0]
            frames = [f.to_ndarray(format="gray") for f in container.decode(stream)]
        fv = _temporal_ahash(frames)
        if fv is None:
            return None
        h, w = frames[0].shape[:2]
        return int(w), int(h), len(frames), fv
    except Exception:
        return None


def _riff_chunk(cid: bytes, body: bytes) -> bytes:
    pad = b"\0" if len(body) % 2 else b""
    return cid + len(body).to_bytes(4, "little") + body + pad


def _encode_pgm(gray: np.ndarray) -> bytes:
    """Luma array -> binary PGM (P5) — the grayscale twin of _parse_ppm."""
    h, w = gray.shape
    px = np.clip(np.round(gray), 0, 255).astype(np.uint8)
    return f"P5\n{w} {h}\n255\n".encode() + px.tobytes()


def _encode_wav_pcm16(mono: np.ndarray, rate: int) -> bytes:
    """[-1, 1] mono samples -> RIFF WAVE PCM16 — inverse of _parse_wav_pcm."""
    x = np.clip(np.round(mono * 32767.0), -32768, 32767).astype("<i2")
    data = x.tobytes()
    return (
        b"RIFF" + (36 + len(data)).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + rate.to_bytes(4, "little") + (rate * 2).to_bytes(4, "little")
        + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
        + b"data" + len(data).to_bytes(4, "little") + data
    )


def _encode_avi_dib(frames_gray: list[np.ndarray]) -> bytes:
    """Luma frames -> RIFF AVI with uncompressed 24-bit DIB frames (luma
    replicated to BGR) — inverse of _parse_avi_dib."""
    h, w = frames_gray[0].shape
    stride = (w * 3 + 3) & ~3
    avih = b"\0" * 32 + w.to_bytes(4, "little") + h.to_bytes(4, "little") + b"\0" * 16
    strh = b"vids" + b"DIB " + b"\0" * 48
    strf = (
        (40).to_bytes(4, "little") + w.to_bytes(4, "little") + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + b"\0" * 20
    )
    hdrl = _riff_chunk(
        b"LIST",
        b"hdrl" + _riff_chunk(b"avih", avih)
        + _riff_chunk(b"LIST", b"strl" + _riff_chunk(b"strh", strh)
                      + _riff_chunk(b"strf", strf)),
    )
    chunks = []
    for g in frames_gray:
        px = np.clip(np.round(g), 0, 255).astype(np.uint8)
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = np.repeat(px[::-1].reshape(h, w, 1), 3, axis=2).reshape(
            h, w * 3
        )  # bottom-up DIB row order
        chunks.append(_riff_chunk(b"00db", rows.tobytes()))
    movi = _riff_chunk(b"LIST", b"movi" + b"".join(chunks))
    inner = b"AVI " + hdrl + movi
    return b"RIFF" + len(inner).to_bytes(4, "little") + inner


def _resize_gray(gray: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resample — deterministic, dependency-free."""
    h, w = gray.shape
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return gray[np.ix_(ys, xs)]


def _ahash_features(gray: np.ndarray, grid: int = 8) -> list[float]:
    """aHash-style features: mean-pool to grid x grid, center, unit-normalize —
    the pHash kernel shape (/root/reference/scanner/hashFile.py:95-106) kept
    continuous (the LSH layer downstream does the binarization)."""
    pooled = np.array(
        [
            [c.mean() for c in np.array_split(r, grid, axis=1)]
            for r in np.array_split(gray, grid, axis=0)
        ],
        dtype=np.float64,
    ).ravel()
    v = pooled - pooled.mean()
    n = np.linalg.norm(v)
    v = v / n if n > 0 else v
    return [float(x) for x in v.astype(np.float32)]


def _real_decode_batch(payloads: pd.Series, media_types: pd.Series) -> pd.DataFrame:
    """Real decode with per-row quarantine (undecodable payloads yield null
    dims/features, never a job abort — the scanner's per-file IOError
    discipline, /root/reference/scanner/fileHasher.py:406-430):

    * image — built-in PPM/PGM/BMP parsers first (bit-stable across
      environments), PIL fallback for compressed formats (PNG/JPEG/...);
    * audio — built-in RIFF WAVE PCM parser (_parse_wav_pcm) + RMS energy
      envelope features in the same FEATURE_DIM space; compressed audio
      quarantines (a soundfile/torchaudio branch would plug in beside the
      parser, same contract);
    * video — built-in RIFF AVI uncompressed-DIB parser (_parse_avi_dib)
      first, then the optional pyav branch for codec-compressed containers;
      both feed the shared frame-sampled temporal aHash mean-pool
      (_temporal_ahash). Unparseable video quarantines — same contract as
      audio (a compressed payload without pyav yields null features).
    """
    n = len(payloads)
    width = np.zeros(n, dtype=np.int32)
    height = np.zeros(n, dtype=np.int32)
    frames = np.ones(n, dtype=np.int32)
    feats: list[list[float] | None] = []
    for i, (raw, mt) in enumerate(zip(payloads, media_types)):
        if raw is None:
            feats.append(None)
            continue
        if mt == "audio":
            parsed = _parse_wav_pcm(bytes(raw))
            fv = _energy_features(parsed[0]) if parsed is not None else None
            if fv is None:
                feats.append(None)
                continue
            frames[i] = min(len(parsed[0]), np.iinfo(np.int32).max)
            feats.append(fv)
            continue
        if mt == "video":
            raw_b = bytes(raw)
            # Built-in AVI-DIB parser FIRST (bit-stable across environments,
            # same ordering rationale as the image parsers), pyav fallback
            # for codec-compressed containers, quarantine otherwise — the
            # same contract as audio (no raise; compressed video without
            # pyav yields null features, never a job abort).
            out = _builtin_video(raw_b)
            if out is None:
                out = _try_pyav_video(raw_b)
            if out is None:
                feats.append(None)
                continue
            width[i], height[i], frames[i], fv = out
            feats.append(fv)
            continue
        if mt != "image":
            # unknown/null media_type: quarantine, never abort — a single
            # mislabeled row must not poison a batch job, and under
            # stream_media a raise would fail the query on every restart
            # (the file-source log re-reads the same poison file forever)
            feats.append(None)
            continue
        raw = bytes(raw)
        # Built-in parsers FIRST: they use unrounded float luma, while PIL's
        # convert("L") rounds to uint8 — trying them first means a given
        # PPM/PGM/BMP payload yields identical features with or without PIL
        # installed (signature stability across heterogeneous executors).
        gray = _parse_ppm(raw)
        if gray is None:
            gray = _parse_bmp(raw)
        if gray is None:
            gray = _try_pil_decode(raw)
        if gray is None or gray.size == 0:
            feats.append(None)
            continue
        height[i], width[i] = gray.shape
        grid = int(FEATURE_DIM**0.5)
        if gray.shape[0] < grid or gray.shape[1] < grid:
            # smaller than the pooling grid (1x1 tracking pixels and friends):
            # array_split would yield empty chunks whose mean is NaN, poisoning
            # the downstream cosine-LSH — quarantine the features, keep dims
            feats.append(None)
            continue
        feats.append(_ahash_features(gray, grid=grid))
    return pd.DataFrame(
        {
            "n_bytes": payloads.map(lambda b: 0 if b is None else len(b)).astype(
                "int32"
            ),
            "width": width,
            "height": height,
            "n_frames": frames,
            "features": feats,
        }
    )


def decode_media(media: DataFrame) -> DataFrame:
    """media(MEDIA_SCHEMA) -> DECODED_SCHEMA via Arrow-batched mapInPandas.

    mapInPandas (not a scalar UDF) because decode is multi-column-in,
    multi-column-out and benefits from whole-batch vectorization — the H4
    dispatcher shape (/root/reference/scanner/hashFile.py:135-164).
    """
    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = _real_decode_batch(pdf["payload"], pdf["media_type"])
            yield pd.concat(
                [pdf[["media_id", "url", "media_type"]].reset_index(drop=True), out],
                axis=1,
            )

    return media.mapInPandas(_decode, schema=DECODED_SCHEMA)


def resize_media(
    media: DataFrame, out_w: int = 64, out_h: int = 64, out_rate: int = 8000
) -> DataFrame:
    """MEDIA_SCHEMA -> MEDIA_SCHEMA with payloads re-encoded at the target
    geometry: image/video luma-space nearest-neighbor resize (re-encoded as
    PGM / AVI-DIB), audio nearest-sample resample to out_rate (re-encoded as
    WAV PCM16). The output is again a media frame, so stages compose —
    synthesize -> resize -> decode -> features runs as one pipeline with no
    schema adapters (the normalize-before-feature step of a media dedup
    pipeline). Per-row quarantine: an unparseable payload yields a null
    payload (decode_media then yields null features), never a job abort.
    Codec-compressed inputs quarantine here too — a pyav-backed branch
    would plug in beside the built-in parsers, same contract."""

    def _resize_one(mt: str, raw) -> bytes | None:
        if raw is None:
            return None
        raw = bytes(raw)
        if mt == "image":
            gray = _parse_ppm(raw)
            if gray is None:
                gray = _parse_bmp(raw)
            if gray is None:
                gray = _try_pil_decode(raw)
            if gray is None or gray.size == 0:
                return None
            return _encode_pgm(_resize_gray(gray, out_w, out_h))
        if mt == "audio":
            parsed = _parse_wav_pcm(raw)
            if parsed is None:
                return None
            mono, rate = parsed
            n_out = max(1, round(len(mono) * out_rate / rate))
            idx = (np.arange(n_out) * len(mono)) // n_out
            return _encode_wav_pcm16(mono[idx], out_rate)
        if mt == "video":
            parsed = _parse_avi_dib(raw)
            if parsed is None:
                return None
            frames, _, _ = parsed
            return _encode_avi_dib([_resize_gray(g, out_w, out_h) for g in frames])
        return None  # unknown/null media_type: quarantine (see decode)

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out["payload"] = [
                _resize_one(mt, raw)
                for mt, raw in zip(pdf["media_type"], pdf["payload"])
            ]
            yield out

    return media.mapInPandas(_resize, schema=MEDIA_SCHEMA)


def frame_sample(decoded: DataFrame, every_n: int = 30, max_frames: int = 16) -> DataFrame:
    """Explode sampled frame indices per video row — pure column ops (JVM-side)."""
    idx = F.slice(
        F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n)), 1, max_frames
    )
    return (
        decoded.filter(F.col("media_type") == "video")
        .withColumn("frame_idx", F.explode(idx))
        .select("media_id", "url", "frame_idx")
    )


def media_near_dup_pairs(
    decoded: DataFrame, hamming_radius: int = 8, n_bands: int = 16
) -> DataFrame:
    """Near-dup media via hyperplane LSH over decoded features — the pHash
    radius-match analog (/root/reference/dbPhashApi.py:175-192) for media."""
    from ..operators.ann import hyperplane_signed
    from ..operators.banded_join import banded_self_join

    # features that are null or not FEATURE_DIM long never sign
    sigged = hyperplane_signed(decoded, "features", FEATURE_DIM, "media_id")
    return banded_self_join(sigged, "media_id", "sig", hamming_radius, n_bands=n_bands)


def media_near_dup_pairs_ivf(
    decoded: DataFrame,
    threshold: float = 0.98,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """(id_lo, id_hi, cosine): near-dup media routed through the IVF-flat
    candidate generator instead of hyperplane LSH — the same decoded-feature
    vectors, the second ANN scale path on the second modality. The two routes
    are interchangeable on this query shape (pytest pins IVF == LSH == the
    planted pair set); at 10^12 rows pick by corpus geometry — IVF when
    features cluster (cells prune hard), LSH when they are near-uniform.

    Exactness under the hash gate is a margin argument, same discipline as
    the LSH twin (plans/queries.q_media_near_dup_pairs): planted duplicates
    reuse payloads byte-for-byte, so their int-scaled feature vectors are
    IDENTICAL — quantized to the same rank-1 cell (same-cell pairs are never
    missed by ivf_near_pairs) with exact cosine 1.0 — while the measured max
    NON-planted candidate cosine on the synth corpus is 0.603 (sf0.01) /
    0.675 (sf0.1, distinct-seeds-give-distinct-features invariant). The 0.98
    threshold sits >0.30 above every impostor and 0.02 below every dup."""
    from ..operators.ivf import ivf_near_pairs

    feats = decoded.filter(F.col("features").isNotNull()).select(
        "media_id", "features"
    )
    return ivf_near_pairs(
        feats,
        threshold,
        id_col="media_id",
        vec_col="features",
        n_cells=n_cells,
        nprobe=nprobe,
    )
