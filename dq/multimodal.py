"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schema (dq.schema.MEDIA_ASSETS),
deterministic synthesis, Arrow-batched ``mapInPandas`` operators with
explicit output schemas, partition-preserving shapes.

Decode is REAL for PNG / BMP / GIF / baseline JPEG / WAV via dq.codecs +
dq.jpeg (pure numpy + stdlib — pixel unfiltering, BGR/padding layout,
variable-width LZW, Huffman+DCT, PCM frames; roundtrip-pytested against
the encoders): ``fake=False`` decodes those payloads and computes features
over the actual pixels/samples. Genuinely library-scale codecs (opus, av1,
arithmetic-coded JPEG) raise NotImplementedError — an honest
boundary, not a stub over everything. ``fake=True`` remains the
hash-derived stand-in so pipelines over undecodable corpora stay testable
end-to-end.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from dq.io import local_frame
from dq.schema import MEDIA_ASSETS

FEATURE_DIM = 16

_FEATURES_SCHEMA = (
    "asset_id long, media_type string, n_bytes long, sha256 string, "
    "feature array<float>"
)
_FRAMES_SCHEMA = "asset_id long, frame_index int, frame_sha256 string"


def png_header(width: int, height: int) -> bytes:
    """A REAL, spec-valid PNG signature + IHDR chunk (magic, length, type,
    dims, bit depth 8 / RGBA, correct CRC32) — enough for any header
    sniffer to identify the file and read its geometry. The pixel data that
    would follow is whatever the caller appends (decode stays out of scope;
    header parsing does not)."""
    import struct
    import zlib

    ihdr = struct.pack(">II5B", width, height, 8, 6, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )


def synth_media(spark: SparkSession, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake assets. Image payloads carry a REAL PNG header
    (valid magic + IHDR matching the declared width/height) so the header
    sniffer has something true to parse; audio/video payloads are opaque
    seeded bytes (opus/av1 carry no parser here — the unverifiable case)."""
    rng = np.random.RandomState(seed)
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        payload = rng.bytes(128 + int(rng.randint(0, 512)))
        if kind == "image":
            payload = png_header(640, 480) + payload
        rows.append(
            (
                i,
                f"https://media.example.com/{kind}/{i}",
                kind,
                bytearray(payload),
                640 if kind == "image" else None,
                480 if kind == "image" else None,
                int(rng.randint(1000, 60000)) if kind != "image" else None,
                {"image": "png", "audio": "opus", "video": "av1"}[kind],
            )
        )
    return local_frame(spark, rows, MEDIA_ASSETS)


def synth_media_decodable(spark: SparkSession, n: int = 48, seed: int = 7) -> DataFrame:
    """Deterministic assets whose payloads are REAL decodable media built by
    the dq.codecs encoders: PNG images (cycling through all five scanline
    filters, so the corpus exercises every unfilter path), 24-bit BMP
    images, PCM-16 WAV audio (mono/stereo alternating), palette GIFs
    (real LZW), JPEGs (alternating 4:4:4 / 4:2:0 sampling, every other
    one progressive SOF2 — lossy, but byte-deterministic, so decoded
    features are stable), and animated GIFs as VIDEO assets (multi-frame,
    real frame sampling). The
    real-decode tier (``fake=False``) runs end-to-end over this corpus; the
    opaque corpus from :func:`synth_media` remains the undecodable/mislabel
    case. Kind order keeps asset 0 a PNG (pytest oracle anchor).
    """
    from dq import codecs

    rows = []
    for i in range(n):
        rng = np.random.RandomState(seed * 1_000_003 + i)
        kind = ("png", "bmp", "wav", "gif", "jpeg", "gifanim")[i % 6]
        if kind == "wav":
            ch = 1 + (i // 3) % 2
            rate = 8000 + 400 * (i % 5)
            samples = rng.randint(-12000, 12000, size=(160 + 16 * (i % 7), ch))
            payload = codecs.encode_wav(samples.astype(np.int16), rate)
            dur_ms = int(1000 * samples.shape[0] / rate)
            rows.append(
                (i, f"https://media.example.com/audio/{i}", "audio",
                 bytearray(payload), None, None, dur_ms, "wav")
            )
            continue
        w, h = 16 + i % 9, 12 + i % 7
        grad = (
            np.arange(h)[:, None, None] * 7 + np.arange(w)[None, :, None] * 3
        ) % 256
        arr = ((grad + rng.randint(0, 64, size=(h, w, 3))) % 256).astype(np.uint8)
        if kind == "png":
            payload = codecs.encode_png(arr, filter_type=i % 5)
        elif kind == "bmp":
            payload = codecs.encode_bmp(arr)
        elif kind == "gif":
            n_colors = 16 + 8 * (i % 4)
            palette = (
                np.arange(n_colors)[:, None] * np.array([11, 5, 3])[None, :] % 256
            ).astype(np.uint8)
            indices = ((grad[:, :, 0] + rng.randint(0, 8, size=(h, w))) % n_colors
                       ).astype(np.uint8)
            payload = codecs.encode_gif(indices, palette)
        elif kind == "jpeg":
            payload = codecs.encode_jpeg(
                arr, quality=85 + 5 * (i % 3),
                subsampling="420" if i % 2 else "444",
                progressive=bool((i // 6) % 2),
            )
        else:  # gifanim: a real multi-frame video asset
            n_colors = 32
            palette = (
                np.arange(n_colors)[:, None] * np.array([13, 7, 5])[None, :] % 256
            ).astype(np.uint8)
            n_frames = 3 + i % 3
            frames = [
                ((grad[:, :, 0] + 5 * f + rng.randint(0, 6, size=(h, w)))
                 % n_colors).astype(np.uint8)
                for f in range(n_frames)
            ]
            delay_cs = 4 + i % 5
            payload = codecs.encode_gif_anim(frames, palette, delay_cs=delay_cs)
            rows.append(
                (i, f"https://media.example.com/video/{i}", "video",
                 bytearray(payload), w, h, n_frames * delay_cs * 10, "gif")
            )
            continue
        rows.append(
            (i, f"https://media.example.com/image/{i}", "image",
             bytearray(payload), w, h, None, kind)
        )
    return local_frame(spark, rows, MEDIA_ASSETS)


def image_feature(arr: np.ndarray) -> list[float]:
    """REAL image feature: 4x4 grid of grayscale cell means over the decoded
    pixels, centered + unit-normed (same normalization as _fake_feature so
    downstream cosine machinery treats both tiers identically)."""
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 3:
        a = a.mean(axis=2)
    h, w = a.shape
    g = 4
    assert g * g == FEATURE_DIM
    v = np.zeros(FEATURE_DIM, dtype=np.float64)
    for i in range(g):
        r0 = min((i * h) // g, h - 1)
        r1 = max((((i + 1) * h) // g), r0 + 1)
        for j in range(g):
            c0 = min((j * w) // g, w - 1)
            c1 = max((((j + 1) * w) // g), c0 + 1)
            v[i * g + j] = a[r0:r1, c0:c1].mean()
    return _center_norm(v)


def audio_feature(samples: np.ndarray) -> list[float]:
    """REAL audio feature: RMS envelope over FEATURE_DIM equal segments of
    the mono mix, centered + unit-normed."""
    s = np.asarray(samples, dtype=np.float64)
    if s.ndim == 2:
        s = s.mean(axis=1)
    n = len(s)
    if n == 0:
        return [0.0] * FEATURE_DIM
    v = np.zeros(FEATURE_DIM, dtype=np.float64)
    for i in range(FEATURE_DIM):
        a0 = min((i * n) // FEATURE_DIM, n - 1)
        a1 = max(((i + 1) * n) // FEATURE_DIM, a0 + 1)
        v[i] = np.sqrt(np.mean(s[a0:a1] ** 2))
    return _center_norm(v)


def _center_norm(v: np.ndarray) -> list[float]:
    v = v.astype(np.float32)
    v = v - v.mean()
    n = float(np.linalg.norm(v))
    return (v / n if n else v).tolist()


def _decode_real(content: bytes, media_type: str) -> list[float]:
    """REAL decode -> feature: PNG/BMP/GIF/JPEG pixels or WAV samples via
    dq.codecs (dispatch on the container MAGIC, not the declared codec —
    mislabeled uploads must not pick the wrong parser). Corrupt supported
    containers raise codecs.MediaDecodeError; library-scale codecs raise
    NotImplementedError (opus, av1, arithmetic JPEG)."""
    from dq import codecs

    b = bytes(content or b"")
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        _, frames = codecs.decode_wav(b)
        return audio_feature(frames)
    try:
        return image_feature(codecs.decode_image(b))
    except NotImplementedError:
        raise NotImplementedError(
            "no pure-numpy decoder for this payload: PNG/BMP/GIF/baseline-"
            "JPEG/WAV decode for real (dq.codecs); opus/av1 need codec "
            "libraries absent from this container — pass fake=True for "
            "the deterministic stand-in"
        ) from None


def _fake_feature(content: bytes) -> list[float]:
    """Deterministic unit-norm feature from the payload digest."""
    digest = hashlib.sha256(content).digest()
    v = np.frombuffer(digest[:FEATURE_DIM * 2], dtype=np.uint8)[:FEATURE_DIM]
    return _center_norm(v.astype(np.float64))


def extract_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """mapInPandas operator: binary -> (digest, feature vector).

    Batch shape: iterator of Arrow record batches; per-batch vectorized
    digesting; output schema fixed so downstream plans are stable.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # content is nullable (MEDIA_ASSETS): a NULL payload must yield
            # a zero-byte row, not a task-killing TypeError in the worker
            content = pdf["content"].map(lambda b: b if b is not None else b"")
            feats = [
                _fake_feature(c) if fake else _decode_real(c, m)
                for c, m in zip(content, pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": content.map(len).astype("int64"),
                    "sha256": content.map(lambda b: hashlib.sha256(b).hexdigest()),
                    "feature": feats,
                }
            )

    return df.mapInPandas(op, schema=_FEATURES_SCHEMA)


def sample_frames(df: DataFrame, every_n_bytes: int = 64, fake: bool = False) -> DataFrame:
    """mapInPandas operator: video frame sampling (1 row per frame — an
    exploding operator, so its output schema carries the frame index).

    ``fake=False`` decodes animated GIFs for REAL (dq.codecs multi-frame
    LZW + GCE compositing: offsets, transparency, disposal) and digests
    each composited frame's PIXELS; containers needing demuxers absent
    from this box (opus/av1) raise NotImplementedError. The fake path
    samples the raw payload every ``every_n_bytes`` so pipelines over
    undecodable corpora stay testable."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_idx, out_sha = [], [], []
            for aid, content, mtype in zip(pdf["asset_id"], pdf["content"], pdf["media_type"]):
                if mtype != "video" or content is None:
                    continue
                if not fake:
                    b = bytes(content)
                    if b[:6] in (b"GIF87a", b"GIF89a"):
                        from dq import codecs

                        for k, frame in enumerate(codecs.decode_gif_frames(b)):
                            out_ids.append(aid)
                            out_idx.append(k)
                            out_sha.append(
                                hashlib.sha256(frame.tobytes()).hexdigest()
                            )
                        continue
                    _decode_real(content, mtype)  # honest boundary: raises
                for k, off in enumerate(range(0, len(content), every_n_bytes)):
                    chunk = bytes(content[off : off + every_n_bytes])
                    out_ids.append(aid)
                    out_idx.append(k)
                    out_sha.append(hashlib.sha256(chunk).hexdigest())
            yield pd.DataFrame(
                {"asset_id": pd.Series(out_ids, dtype="int64"),
                 "frame_index": pd.Series(out_idx, dtype="int32"),
                 "frame_sha256": pd.Series(out_sha, dtype="object")}
            )

    return df.mapInPandas(op, schema=_FRAMES_SCHEMA)


# ---- REAL header sniffing (no codec libraries) ------------------------------

# JPEG start-of-frame markers that carry geometry (baseline, progressive,
# lossless, arithmetic variants)
_SOF_MARKERS = frozenset(
    {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
)
_CODEC_ALIASES = {"jpg": "jpeg"}


def sniff_header_one(content: bytes | None) -> dict:
    """Parse container magic + header fields from raw bytes — PNG (IHDR
    dims), JPEG (SOF dims), GIF (logical screen dims), RIFF/WAVE (fmt chunk
    channels + sample rate). Pure function: this IS the pandas-UDF body and
    the test oracle (CLAUDE.md invariant). Unknown/truncated containers
    return all-None. No codec library involved — this is byte-layout
    parsing, fully real in this container (unlike pixel/sample decode,
    which stays stubbed in _decode_real)."""
    out: dict = {
        "sniffed_format": None,
        "width": None,
        "height": None,
        "sample_rate_hz": None,
        "channels": None,
    }
    if not content:
        return out
    b = bytes(content)
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24 and b[12:16] == b"IHDR":
        out["sniffed_format"] = "png"
        out["width"] = int.from_bytes(b[16:20], "big")
        out["height"] = int.from_bytes(b[20:24], "big")
    elif b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        out["sniffed_format"] = "gif"
        out["width"] = int.from_bytes(b[6:8], "little")
        out["height"] = int.from_bytes(b[8:10], "little")
    elif b[:2] == b"BM" and len(b) >= 26:
        out["sniffed_format"] = "bmp"
        out["width"] = int.from_bytes(b[18:22], "little", signed=True)
        # negative height = top-down DIB; geometry is the magnitude
        out["height"] = abs(int.from_bytes(b[22:26], "little", signed=True))
    elif b[:2] == b"\xff\xd8":
        out["sniffed_format"] = "jpeg"
        i = 2  # walk the segment chain to the first start-of-frame
        while i + 9 <= len(b) and b[i] == 0xFF:
            marker = b[i + 1]
            if marker in _SOF_MARKERS:
                out["height"] = int.from_bytes(b[i + 5 : i + 7], "big")
                out["width"] = int.from_bytes(b[i + 7 : i + 9], "big")
                break
            if marker == 0xFF:  # fill byte
                i += 1
            elif 0xD0 <= marker <= 0xD9 or marker == 0x01:  # no payload
                i += 2
            else:
                i += 2 + int.from_bytes(b[i + 2 : i + 4], "big")
    elif b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        out["sniffed_format"] = "wav"
        i = 12  # chunk walk to 'fmt '
        while i + 8 <= len(b):
            size = int.from_bytes(b[i + 4 : i + 8], "little")
            if b[i : i + 4] == b"fmt " and i + 16 <= len(b):
                out["channels"] = int.from_bytes(b[i + 10 : i + 12], "little")
                out["sample_rate_hz"] = int.from_bytes(b[i + 12 : i + 16], "little")
                break
            i += 8 + size + (size & 1)  # chunks are word-aligned
    return out


_SNIFF_SCHEMA = (
    "asset_id long, media_type string, declared_codec string, "
    "sniffed_format string, width int, height int, sample_rate_hz int, "
    "channels int, n_bytes long, format_ok boolean"
)


def sniff_headers(df: DataFrame) -> DataFrame:
    """mapInPandas operator over :func:`sniff_header_one`: per-asset
    container identification + geometry/audio params from the binary
    payload, plus ``format_ok`` — the DQ verdict that the DECLARED codec
    matches what the bytes actually are (mislabeled uploads, truncated
    files, content-type lies). ``format_ok`` is NULL when the sniffer has
    no parser for the container (opus/av1 here): unverifiable, not wrong —
    keep this query rows-only, never oracled (CLAUDE.md three-valued-
    boolean trap applies to oracle twins only)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = [sniff_header_one(c) for c in pdf["content"]]
            declared = [
                _CODEC_ALIASES.get(c, c) if c is not None else None
                for c in pdf["codec"]
            ]
            sniffed = [r["sniffed_format"] for r in recs]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "declared_codec": pd.Series(declared, dtype="object"),
                    "sniffed_format": pd.Series(sniffed, dtype="object"),
                    "width": pd.array([r["width"] for r in recs], dtype="Int32"),
                    "height": pd.array([r["height"] for r in recs], dtype="Int32"),
                    "sample_rate_hz": pd.array(
                        [r["sample_rate_hz"] for r in recs], dtype="Int32"
                    ),
                    "channels": pd.array(
                        [r["channels"] for r in recs], dtype="Int32"
                    ),
                    "n_bytes": pdf["content"]
                    .map(lambda b: len(b) if b is not None else 0)
                    .astype("int64"),
                    "format_ok": pd.array(
                        [
                            (s == d) if s is not None else None
                            for s, d in zip(sniffed, declared)
                        ],
                        dtype="boolean",
                    ),
                }
            )

    return df.mapInPandas(op, schema=_SNIFF_SCHEMA)


_RESIZE_SCHEMA = (
    "asset_id long, width int, height int, out_width int, out_height int, "
    "resized_sha256 string"
)


def resize_images(df: DataFrame, max_side: int = 256, fake: bool = False) -> DataFrame:
    """mapInPandas operator: image 'resize' plumbing (the third leg of the
    decode / feature-extract / resize / frame-sample family).

    ``fake=False`` decodes PNG/BMP/GIF/JPEG pixels for REAL (dq.codecs), resamples
    with the deterministic nearest-neighbor floor map, re-encodes the
    result as PNG and digests those bytes; width/height then come from the
    DECODED array (truth), not the declared columns. The geometry contract
    holds on both paths: output dims preserve aspect ratio with the long
    side clamped to ``max_side`` (integer floor, never upscaled). The fake
    'resized payload' is a deterministic digest of (payload, out_w, out_h)
    so downstream dedup over resized assets is exercisable on undecodable
    corpora. Non-image rows are dropped (filtering operator — the output
    schema carries no media_type)."""

    def _out_dims(w: int, h: int) -> tuple[int, int]:
        long_side = max(w, h)
        if long_side <= max_side:
            return w, h
        if w >= h:
            return max_side, max(1, (h * max_side) // w)
        return max(1, (w * max_side) // h), max_side

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("asset_id", "width", "height", "out_width", "out_height",
                     "resized_sha256")}
            for aid, content, mtype, w, h in zip(
                pdf["asset_id"], pdf["content"], pdf["media_type"],
                pdf["width"], pdf["height"],
            ):
                if mtype != "image" or content is None or pd.isna(w) or pd.isna(h):
                    continue
                if fake:
                    ow, oh = _out_dims(int(w), int(h))
                    digest = hashlib.sha256(
                        bytes(content) + ow.to_bytes(4, "big") + oh.to_bytes(4, "big")
                    ).hexdigest()
                else:
                    from dq import codecs

                    arr = codecs.decode_image(bytes(content))
                    h, w = arr.shape[0], arr.shape[1]  # decoded truth
                    ow, oh = _out_dims(int(w), int(h))
                    resized = codecs.resize_nearest(arr, ow, oh)
                    digest = hashlib.sha256(codecs.encode_png(resized)).hexdigest()
                rows["asset_id"].append(aid)
                rows["width"].append(int(w))
                rows["height"].append(int(h))
                rows["out_width"].append(ow)
                rows["out_height"].append(oh)
                rows["resized_sha256"].append(digest)
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(rows["asset_id"], dtype="int64"),
                    "width": pd.Series(rows["width"], dtype="int32"),
                    "height": pd.Series(rows["height"], dtype="int32"),
                    "out_width": pd.Series(rows["out_width"], dtype="int32"),
                    "out_height": pd.Series(rows["out_height"], dtype="int32"),
                    "resized_sha256": pd.Series(rows["resized_sha256"], dtype="object"),
                }
            )

    return df.mapInPandas(op, schema=_RESIZE_SCHEMA)
