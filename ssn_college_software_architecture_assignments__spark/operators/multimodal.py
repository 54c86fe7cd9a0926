"""Multimodal column handling (SURVEY.md §2.10 X5).

Binary payloads (image/audio/video) travel the pipeline as opaque
``binary`` columns wrapped with typed metadata; decode / feature-extract
steps are Arrow-batched ``mapInPandas`` operators.

Codec posture (round 5): the generic decode (x5b) and resize (x5d)
kernels are REAL format-dispatching kernels — they sniff the payload
magic and genuinely decode P6 PPM (Netpbm) and RIFF/WAV PCM with the
parsers in this module, or any PIL-supported format when PIL is
importable at runtime (import-guarded; absent in this container).
Payloads in no recognized format fall back to a deterministic,
SQL-expressible fake, which is what keeps the fixture-driven oracles
exact (fixture payloads are text bytes, not media). Only the compressed
video path (x5c) remains a declared stub — there is no codec-free
container for it; x5h demuxes a real concatenated-PPM container as its
real twin.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..registry import register
from .dedup import bucket_pairs

try:  # optional real-codec path: present in production images, not here
    from PIL import Image as _PILImage  # type: ignore
except ImportError:  # deterministic fallback keeps oracles exact
    _PILImage = None

# X5a — binary payload + metadata struct, full oracle ---------------------------

_X5_ORACLE = """
SELECT doc_id,
       base64(encode(text))                       AS payload_b64,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       'text/plain'                               AS mime_type,
       md5(text)                                  AS checksum
FROM documents
"""


@register("x5_multimodal_payload", oracle=_X5_ORACLE, tags=("X5",))
def x5_multimodal_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Carry content as binary + typed metadata (mime, size, checksum)
    through the pipeline. Fixtures have no real media, so text bytes stand
    in for the payload; the column plumbing is identical for image/audio."""
    docs = Catalog(spark, sf_dir).documents
    payload = F.encode("text", "UTF-8")
    # Spark's base64 emits RFC-2045 line breaks every 76 chars; strip to
    # the canonical unchunked form (what DuckDB/python produce).
    b64 = F.regexp_replace(F.base64(payload), "[\\r\\n]", "")
    return docs.select(
        "doc_id",
        b64.alias("payload_b64"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.lit("text/plain").alias("mime_type"),
        F.md5("text").alias("checksum"),
    )


# X5b — decode / feature-extract kernel over mapInPandas -------------------------

DECODE_SCHEMA = (
    "doc_id long, n_bytes long, width int, height int, channels int, "
    "decode_status string"
)


def _sniff_decode(buf: bytes):
    """Try every REAL decode path for one payload; return
    (width, height, channels, status) or None when no real path applies
    (unknown format, parse failure, codec lib absent)."""
    if buf.startswith(b"P6"):
        try:
            parts = buf.split(b"\n", 3)
            w, h = (int(t) for t in parts[1].split())
            if int(parts[2]) == 255 and len(parts[3]) == w * h * 3:
                return w, h, 3, "ok:ppm"
        except (ValueError, IndexError):
            pass
        return None
    if buf[:4] == b"RIFF" and buf[8:12] == b"WAVE":
        # audio through the image-shaped schema: width = sample count,
        # height = 1 (one "scanline" of samples), channels = PCM channels
        import struct

        try:
            pos, fmt, data = 12, None, None
            while pos + 8 <= len(buf):
                cid = buf[pos : pos + 4]
                (clen,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
                chunk = buf[pos + 8 : pos + 8 + clen]
                if len(chunk) != clen:
                    return None
                if cid == b"fmt ":
                    fmt = struct.unpack("<HHIIHH", chunk[:16])
                elif cid == b"data":
                    data = chunk
                pos += 8 + clen + (clen & 1)
            if fmt is None or data is None or fmt[0] != 1:
                return None
            channels, bits = fmt[1], fmt[5]
            n = len(data) // (bits // 8) // channels
            return n, 1, channels, "ok:wav"
        except (struct.error, ZeroDivisionError):
            return None
    if _PILImage is not None:
        import io

        try:
            with _PILImage.open(io.BytesIO(buf)) as img:
                return img.width, img.height, len(img.getbands()), "ok:pil"
        except Exception:
            return None
    return None


def decode_media_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched GENERIC media decode: sniff each payload's magic and
    really decode it — P6 PPM and RIFF/WAV via the parsers in this module,
    anything PIL understands when PIL is importable (import-guarded).
    Unrecognized payloads degrade to the deterministic fake
    ((len % 640, len % 480, 3), status "stubbed") so a mixed corpus never
    kills the batch and fixture oracles stay exact. The iterator shape
    (pandas batches in/out) is the production decoder shape."""
    for pdf in batches:
        widths, heights, channels_col, statuses = [], [], [], []
        n_bytes = pdf["payload"].map(len).astype("int64")
        for payload in pdf["payload"]:
            real = _sniff_decode(bytes(payload))
            if real is not None:
                w, h, c, status = real
            else:
                n = len(payload)
                w, h, c, status = n % 640, n % 480, 3, "stubbed"
            widths.append(w)
            heights.append(h)
            channels_col.append(c)
            statuses.append(status)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n_bytes,
                "width": pd.array(widths, dtype="int32"),
                "height": pd.array(heights, dtype="int32"),
                "channels": pd.array(channels_col, dtype="int32"),
                "decode_status": statuses,
            }
        )


_X5B_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT)       AS n_bytes,
       CAST(octet_length(encode(text)) % 640 AS INT)    AS width,
       CAST(octet_length(encode(text)) % 480 AS INT)    AS height,
       CAST(3 AS INT)                                   AS channels,
       'stubbed'                                        AS decode_status
FROM documents
"""


@register("x5b_multimodal_decode", oracle=_X5B_ORACLE, tags=("X5",))
def x5b_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary decode via mapInPandas: Arrow batches cross the JVM/Python
    boundary once per batch (not per row). The kernel really decodes
    recognized formats (PPM/WAV here, PIL formats when importable — see
    :func:`_sniff_decode`); the fixture's text payloads take the
    deterministic SQL-expressible fallback, so the Arrow plumbing (batch
    shape, schema, types) is oracle-checked end-to-end while the real
    paths are value-checked in tests/test_multimodal.py."""
    docs = Catalog(spark, sf_dir).documents
    with_payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return with_payload.mapInPandas(decode_media_batch, DECODE_SCHEMA).orderBy(
        "doc_id"
    )


# X5d — resize: fixed-target thumbnail kernel ------------------------------------

RESIZE_SCHEMA = (
    "doc_id long, src_bytes long, target_w int, target_h int, "
    "thumb_bytes binary, resize_status string"
)

_TARGET_W, _TARGET_H = 224, 224


def _try_real_resize(buf: bytes):
    """Real resample to (_TARGET_W, _TARGET_H) for recognized image
    payloads; returns (thumb_bytes, status) or None. P6 PPM goes through
    the same floor-mapping nearest-neighbor indexing as x5g (the
    arithmetic PIL's NEAREST performs) and the thumbnail is re-encoded as
    a valid P6; PIL formats resize through PIL when it is importable."""
    if buf.startswith(b"P6"):
        import numpy as np

        try:
            parts = buf.split(b"\n", 3)
            w, h = (int(t) for t in parts[1].split())
            if int(parts[2]) != 255 or len(parts[3]) != w * h * 3:
                return None
            img = np.frombuffer(parts[3], dtype=np.uint8).reshape(h, w, 3)
            rows = (np.arange(_TARGET_H) * h) // _TARGET_H
            cols = (np.arange(_TARGET_W) * w) // _TARGET_W
            resized = img[rows][:, cols]
            header = f"P6\n{_TARGET_W} {_TARGET_H}\n255\n".encode("ascii")
            return header + resized.tobytes(), "ok:ppm"
        except (ValueError, IndexError):
            return None
    if _PILImage is not None:
        import io

        try:
            with _PILImage.open(io.BytesIO(buf)) as img:
                thumb = img.resize((_TARGET_W, _TARGET_H), _PILImage.NEAREST)
                out = io.BytesIO()
                thumb.save(out, format="PNG")
                return out.getvalue(), "ok:pil"
        except Exception:
            return None
    return None


def resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched resize kernel (image -> fixed WxH thumbnail). P6 PPM
    payloads are REALLY resampled (nearest-neighbor, re-encoded as P6);
    PIL-supported formats resize through PIL when it is importable
    (import-guarded, absent here). Unrecognized payloads keep the
    deterministic fallback — the payload strided down to ``target_w``
    bytes — so mixed corpora survive and fixture oracles stay exact. The
    fixed-size output contract (bounded bytes per row regardless of input
    size) is what makes the op safe at 100 TB."""
    for pdf in batches:
        thumbs, statuses = [], []
        for payload in pdf["payload"]:
            buf = bytes(payload)
            real = _try_real_resize(buf)
            if real is not None:
                thumb, status = real
            else:
                stride = max(len(buf) // _TARGET_W, 1)
                thumb, status = bytes(buf[::stride][:_TARGET_W]), "stubbed"
            thumbs.append(thumb)
            statuses.append(status)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "src_bytes": pdf["payload"].map(len).astype("int64"),
                "target_w": _TARGET_W,
                "target_h": _TARGET_H,
                "thumb_bytes": thumbs,
                "resize_status": statuses,
            }
        )


_X5D_ORACLE = """
-- ASCII-verified fixture: char positions == byte positions, so the
-- kernel's strided byte slice payload[::stride][:224] is reproduced by
-- picking characters at 0, stride, 2*stride, ... and re-encoding.
WITH d AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         GREATEST(octet_length(encode(text)) // 224, 1) AS stride
  FROM documents
)
SELECT doc_id,
       CAST(n AS BIGINT) AS src_bytes,
       CAST(224 AS INT)  AS target_w,
       CAST(224 AS INT)  AS target_h,
       upper(hex(encode(array_to_string(
         list_transform(
           range(LEAST((n + stride - 1) // stride, 224)),
           i -> substring(text, CAST(i * stride AS BIGINT) + 1, 1)
         ), '')))) AS thumb_hex,
       'stubbed' AS resize_status
FROM d
"""


@register("x5d_resize", oracle=_X5D_ORACLE, tags=("X5",))
def x5d_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize via mapInPandas: every payload maps to one fixed-size
    thumbnail row — output size is bounded per row regardless of input
    size, which is what makes the op safe at 100 TB (no row can blow the
    batch). The kernel really resamples recognized image payloads (see
    :func:`_try_real_resize`); the fixture's text payloads take the
    deterministic strided fallback, and the checked projection carries
    the thumbnail as hex so the whole kernel is oracle-checked
    end-to-end."""
    docs = Catalog(spark, sf_dir).documents
    with_payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    resized = with_payload.mapInPandas(resize_batch, RESIZE_SCHEMA)
    return resized.select(
        "doc_id",
        "src_bytes",
        "target_w",
        "target_h",
        F.upper(F.hex("thumb_bytes")).alias("thumb_hex"),
        "resize_status",
    ).orderBy("doc_id")


# X5c — frame sampling: one input row -> N frame rows ----------------------------

FRAME_SCHEMA = (
    "doc_id long, frame_idx int, frame_ts_ms long, frame_bytes binary, "
    "sample_status string"
)


def _try_demux_frames(buf: bytes):
    """Real container demux for recognized payloads: a concatenated-PPM
    "video" (back-to-back P6 images, the x5h container) is walked frame
    by frame — header-parsed for each frame's byte extent — and every
    frame yields (frame_idx, frame_ts_ms, frame_bytes, status) with a
    BOUNDED raster prefix as the frame payload (fixed bytes per frame
    regardless of frame size, the 100 TB-safe output contract). Returns
    None for unrecognized payloads — including TEXT that merely starts
    with "P6" but never parses as a complete frame — so only genuine PPM
    containers commit to the demux path; everything else takes the
    deterministic SQL-expressible fallback (keeps x5c's oracle
    data-independent)."""
    if not buf.startswith(b"P6"):
        return None
    frames = []
    try:
        for idx, _w, _h, raster in _walk_ppm_frames(buf):
            frames.append((idx, idx * 1000, raster[:16], "ok:ppm"))
    except ValueError as exc:
        if not frames:
            # Frame 0 never parsed: not a PPM container at all (e.g. text
            # that happens to begin with "P6") — decline the demux path.
            return None
        # the walk's yielded count == the failing frame's index
        frames.append((len(frames), len(frames) * 1000, b"", f"error: {exc}"))
    return frames


def sample_frames_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched frame sampler (video -> evenly spaced frames) with
    format dispatch: recognized concatenated-PPM containers are REALLY
    demuxed (:func:`_try_demux_frames` — the container-walk an ffmpeg
    sampler performs, minus only the codec), while unrecognized payloads
    take the deterministic fallback (payload length decides the frame
    count, each "frame" a byte slice) so mixed corpora survive and the
    fixture oracle stays exact. Row explosion (1 video -> N frames)
    inside the kernel is the genuine shape either way."""
    for pdf in batches:
        out_rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            buf = bytes(payload)
            demuxed = _try_demux_frames(buf)
            if demuxed is not None:
                for idx, ts_ms, frame_bytes, status in demuxed:
                    out_rows.append(
                        {
                            "doc_id": doc_id,
                            "frame_idx": idx,
                            "frame_ts_ms": ts_ms,
                            "frame_bytes": frame_bytes,
                            "sample_status": status,
                        }
                    )
                continue
            n_frames = (len(buf) % 4) + 1  # fallback: length-keyed "duration"
            for i in range(n_frames):
                start = (i * len(buf)) // max(n_frames, 1)
                out_rows.append(
                    {
                        "doc_id": doc_id,
                        "frame_idx": i,
                        "frame_ts_ms": i * 1000,
                        "frame_bytes": buf[start : start + 16],
                        "sample_status": "stubbed",
                    }
                )
        yield pd.DataFrame(
            out_rows,
            columns=[
                "doc_id", "frame_idx", "frame_ts_ms", "frame_bytes", "sample_status",
            ],
        )


_X5C_ORACLE = """
-- DuckDB lacks BLOB substring; fixture text is verified pure ASCII
-- (octet_length == length for every row), so character slicing on the
-- VARCHAR followed by encode() is byte-identical to the kernel's slice.
WITH d AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         octet_length(encode(text)) % 4 + 1 AS n_frames
  FROM documents
)
SELECT doc_id,
       CAST(i AS INT)           AS frame_idx,
       CAST(i * 1000 AS BIGINT) AS frame_ts_ms,
       upper(hex(encode(substring(text, CAST((i * n) // n_frames AS BIGINT) + 1, 16)))) AS frame_hex,
       'stubbed'                AS sample_status
FROM d, LATERAL (SELECT unnest(range(n_frames)) AS i) gen
"""


@register("x5c_frame_sample", oracle=_X5C_ORACLE, tags=("X5",))
def x5c_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling via mapInPandas: each binary payload row fans out to
    N frame rows inside the Arrow kernel (the UDTF shape for media). The
    kernel really demuxes recognized concatenated-PPM containers (see
    :func:`_try_demux_frames`; real-path value checks live in
    tests/test_multimodal.py); the fixture's text payloads take the
    deterministic SQL-expressible fallback (length-keyed frame count,
    contiguous byte slices), so the fan-out plumbing is oracle-checked
    end-to-end."""
    docs = Catalog(spark, sf_dir).documents
    with_payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    frames = with_payload.mapInPandas(sample_frames_batch, FRAME_SCHEMA)
    # Binary columns normalize differently across comparator backends
    # (bytes vs bytearray), so the checked projection carries the frame
    # payload as hex — the kernel output itself stays binary.
    return frames.select(
        "doc_id",
        "frame_idx",
        "frame_ts_ms",
        F.upper(F.hex("frame_bytes")).alias("frame_hex"),
        "sample_status",
    ).orderBy("doc_id", "frame_idx")


# X5e — REAL image decode: PPM (P6) encoder + decoder over mapInPandas ----------
#
# The other X5 kernels stub their codecs (PIL/ffmpeg absent). PPM needs no
# codec: the format is an ASCII header + raw RGB bytes (public Netpbm spec),
# so this pair is a GENUINE encode->decode round trip through the same
# Arrow-batched plumbing a JPEG pipeline would use — not a stub.

PPM_DECODE_SCHEMA = (
    "doc_id long, width int, height int, channels int, n_pixel_bytes long, "
    "mean_pixel double, decode_status string"
)


def _ppm_bytes(doc_id: int) -> bytes:
    """Deterministic P6 image for a doc: dims and pixels derive from
    doc_id only, so an SQL oracle can predict every decode output."""
    w = 4 + doc_id % 13
    h = 4 + doc_id % 7
    n = w * h * 3
    header = f"P6\n{w} {h}\n255\n".encode("ascii")
    pixels = bytes((doc_id * 31 + i) % 256 for i in range(n))
    return header + pixels


def encode_ppm_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": pdf["doc_id"].map(_ppm_bytes),
            }
        )


def _check_ppm_maxval(token: bytes) -> None:
    """THE maxval law, one site for BOTH header parsers
    (_parse_ppm_raster and _walk_ppm_frames): after stripping ASCII
    whitespace the token must be a pure digit run equal to 255.
    Whitespace padding is tolerated (the r15 unification's intent);
    signs (b'+255'), inner whitespace, and non-digit bytes are
    malformed headers — and every failure raises the SAME descriptive
    ValueError, so error classification stays uniform across parsers
    instead of leaking int()'s generic message."""
    tok = token.strip()
    if not tok.isdigit() or int(tok) != 255:
        raise ValueError("unsupported maxval")


def _parse_ppm_raster(buf: bytes):
    """THE single P6 parse used by every PPM kernel (decode, resize,
    channel stats): validate magic + maxval, extract dims, return
    (w, h, raster) with the raster as a flat uint8 array whose length is
    verified against the header. Raises ValueError on any malformation —
    callers turn that into their error row."""
    import numpy as np

    if not buf.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    # header = magic, whitespace-separated width/height, maxval
    parts = buf.split(b"\n", 3)
    if len(parts) < 4:
        # keep the ValueError contract: a truncated header would
        # otherwise surface as IndexError and escape callers' handlers
        raise ValueError("truncated header")
    w, h = (int(t) for t in parts[1].split())
    _check_ppm_maxval(parts[2])
    raster = np.frombuffer(parts[3], dtype=np.uint8)
    if raster.size != w * h * 3:
        # distinguish short from oversized: trailing bytes usually mean a
        # concatenated-frames payload fed to a single-image kernel
        kind = "truncated" if raster.size < w * h * 3 else "oversized"
        raise ValueError(f"{kind} raster: {raster.size} bytes != {w * h * 3}")
    return w, h, raster


def decode_ppm_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """A real PPM (P6) parser: reads the Netpbm header, slices the raw
    RGB plane, reduces it with numpy. This is the actual shape of a
    production decode kernel — header parse, dimension extraction,
    vectorized pixel math — with no library beyond numpy."""
    for pdf in batches:
        out = {
            "doc_id": [], "width": [], "height": [], "channels": [],
            "n_pixel_bytes": [], "mean_pixel": [], "decode_status": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            buf = bytes(payload)
            try:
                w, h, raster = _parse_ppm_raster(buf)
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(3)
                out["n_pixel_bytes"].append(raster.size)
                out["mean_pixel"].append(round(float(raster.mean()), 4))
                out["decode_status"].append("ok")
            except ValueError as exc:
                out["width"].append(0)
                out["height"].append(0)
                out["channels"].append(0)
                out["n_pixel_bytes"].append(0)
                out["mean_pixel"].append(0.0)
                out["decode_status"].append(f"error: {exc}")
            out["doc_id"].append(doc_id)
        yield pd.DataFrame(out)


_X5E_ORACLE = """
WITH dims AS (
  SELECT doc_id,
         4 + doc_id % 13 AS width,
         4 + doc_id % 7  AS height
  FROM documents
)
SELECT d.doc_id,
       CAST(d.width AS INT)            AS width,
       CAST(d.height AS INT)           AS height,
       3                               AS channels,
       CAST(d.width * d.height * 3 AS BIGINT) AS n_pixel_bytes,
       round(avg((d.doc_id * 31 + g.i) % 256), 4) AS mean_pixel,
       'ok'                            AS decode_status
FROM dims d, LATERAL (SELECT unnest(range(d.width * d.height * 3)) AS i) g
GROUP BY d.doc_id, d.width, d.height
"""


@register("x5e_ppm_decode", oracle=_X5E_ORACLE, tags=("X5",))
def x5e_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode, no stub: every document becomes a deterministic
    P6 PPM image (Arrow-batched encode kernel), then a genuine Netpbm
    parser decodes it back (header parse + numpy pixel reduction) in a
    second mapInPandas stage. Both kernels are the exact plumbing a
    JPEG/PNG pipeline drops into — iterator of pandas batches, binary
    payload column, typed output schema — proving the X5 path end-to-end
    with bytes that are images, not stand-ins. The oracle predicts every
    decode output (dims, byte counts, mean pixel) arithmetically from
    doc_id."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id")
    payloads = docs.mapInPandas(encode_ppm_batch, "doc_id long, payload binary")
    return payloads.mapInPandas(decode_ppm_batch, PPM_DECODE_SCHEMA)


# X5g — REAL image resize: nearest-neighbor resample of decoded PPMs -----------
#
# x5d's resample is a declared stub (its "thumbnail" is a byte stride,
# the shape a JPEG path would use without PIL). This variant is the real
# operation: decode the P6 raster (same parser as x5e), resample it to a
# fixed target with floor-mapping nearest-neighbor indexing — one numpy
# fancy-index per image, exactly the arithmetic PIL's NEAREST performs —
# and reduce the resized pixels. Every output is predicted arithmetically
# by the oracle from doc_id, so the resample itself is value-checked.

PPM_RESIZE_SCHEMA = (
    "doc_id long, src_w int, src_h int, target_w int, target_h int, "
    "mean_pixel double, sum_pixel long, resize_status string"
)

_RESIZE_W, _RESIZE_H = 8, 6


def resize_ppm_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Real nearest-neighbor resize: raster[(ty*h)//Th, (tx*w)//Tw] via
    numpy index arrays — vectorized, bounded output per row."""
    import numpy as np

    for pdf in batches:
        out = {
            "doc_id": [], "src_w": [], "src_h": [], "target_w": [],
            "target_h": [], "mean_pixel": [], "sum_pixel": [],
            "resize_status": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            buf = bytes(payload)
            try:
                w, h, raster = _parse_ppm_raster(buf)
                img = raster.reshape(h, w, 3)
                rows = (np.arange(_RESIZE_H) * h) // _RESIZE_H
                cols = (np.arange(_RESIZE_W) * w) // _RESIZE_W
                resized = img[rows][:, cols].astype(np.int64)
                out["src_w"].append(w)
                out["src_h"].append(h)
                out["target_w"].append(_RESIZE_W)
                out["target_h"].append(_RESIZE_H)
                out["mean_pixel"].append(round(float(resized.mean()), 4))
                out["sum_pixel"].append(int(resized.sum()))
                out["resize_status"].append("ok")
            except ValueError as exc:
                out["src_w"].append(0)
                out["src_h"].append(0)
                out["target_w"].append(_RESIZE_W)
                out["target_h"].append(_RESIZE_H)
                out["mean_pixel"].append(0.0)
                out["sum_pixel"].append(0)
                out["resize_status"].append(f"error: {exc}")
            out["doc_id"].append(doc_id)
        yield pd.DataFrame(out)


_X5G_ORACLE = """
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 7 AS h
  FROM documents
),
px AS (
  SELECT d.doc_id, d.w, d.h,
         (d.doc_id * 31
          + (((ty.i * d.h) // 6) * d.w + ((tx.i * d.w) // 8)) * 3
          + c.i) % 256 AS v
  FROM dims d,
       LATERAL (SELECT unnest(range(6)) AS i) ty,
       LATERAL (SELECT unnest(range(8)) AS i) tx,
       LATERAL (SELECT unnest(range(3)) AS i) c
)
SELECT doc_id,
       CAST(max(w) AS INT)   AS src_w,
       CAST(max(h) AS INT)   AS src_h,
       CAST(8 AS INT)        AS target_w,
       CAST(6 AS INT)        AS target_h,
       round(avg(v), 4)      AS mean_pixel,
       CAST(sum(v) AS BIGINT) AS sum_pixel,
       'ok'                  AS resize_status
FROM px
GROUP BY doc_id
"""


@register("x5g_ppm_resize", oracle=_X5G_ORACLE, tags=("X5",))
def x5g_ppm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize, no stub: deterministic P6 images (x5e's encode
    kernel) are decoded and nearest-neighbor-resampled to 8x6 inside one
    Arrow-batched kernel; the oracle predicts the resized pixel sums and
    means arithmetically from doc_id, so the resample arithmetic itself —
    not just the plumbing — is value-checked. Pixel(y,x,c) of the source
    is (doc_id*31 + (y*w+x)*3 + c) % 256; the target pixel maps from
    ((ty*h)//6, (tx*w)//8)."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id")
    payloads = docs.mapInPandas(encode_ppm_batch, "doc_id long, payload binary")
    return payloads.mapInPandas(resize_ppm_batch, PPM_RESIZE_SCHEMA)


# X5h — REAL frame sampling: demux of a concatenated-PPM container --------------
#
# x5c's sampler is a declared stub (byte slices standing in for frames,
# the shape an mp4 path would use without ffmpeg). This variant performs
# the real operation on a codec-free container: a "video" is N P6 images
# concatenated back-to-back, and the kernel genuinely DEMUXES it — walks
# the buffer, parses each frame's header to find its extent, decodes the
# sampled frames, reduces their pixels. Same Arrow fan-out shape
# (1 container row -> N frame rows); every output arithmetic-predicted.

PPM_VIDEO_SCHEMA = (
    "doc_id long, frame_idx int, width int, height int, "
    "mean_pixel double, sample_status string"
)


def _ppm_video_bytes(doc_id: int) -> bytes:
    """Deterministic multi-frame container: 2 + doc_id % 4 frames, frame
    f's image seeded with doc_id + f (dims AND pixels derive from the
    seed, so an SQL oracle predicts every sampled frame's reduction)."""
    n_frames = 2 + doc_id % 4
    return b"".join(_ppm_bytes(doc_id + f) for f in range(n_frames))


def encode_ppm_video_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": pdf["doc_id"].map(_ppm_video_bytes),
            }
        )


def _walk_ppm_frames(buf: bytes):
    """THE container demux walk (P6 magic check, 3-newline header scan,
    maxval check, byte-extent bound check), shared by the x5h frame
    sampler, the x5r video-dedup kernel, the x5c demux dispatch, and
    the x5k scene-change pass so a container/header-format fix can
    never diverge them. Yields (idx, w, h, raster_bytes) for EVERY
    frame — sampling policy and error posture stay per-caller. Raises
    ValueError at the first malformed frame; the number of tuples
    already yielded equals the failing frame's index."""
    pos, idx = 0, 0
    while pos < len(buf):
        if buf[pos : pos + 2] != b"P6":
            raise ValueError(f"bad frame magic at {pos}")
        # header: "P6\n{w} {h}\n255\n"
        nl1 = buf.index(b"\n", pos)
        nl2 = buf.index(b"\n", nl1 + 1)
        nl3 = buf.index(b"\n", nl2 + 1)
        w, h = (int(t) for t in buf[nl1 + 1 : nl2].split())
        # same maxval law as _parse_ppm_raster: one shared site, so
        # tokens like b' 255' stay one contract across both parsers
        _check_ppm_maxval(buf[nl2 + 1 : nl3])
        frame_end = nl3 + 1 + w * h * 3
        if frame_end > len(buf):
            raise ValueError("truncated frame")
        yield idx, w, h, buf[nl3 + 1 : frame_end]
        pos, idx = frame_end, idx + 1


def sample_ppm_frames_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Real demux + sample: walk the container, header-parse each frame
    to find its byte extent, decode every 2nd frame, reduce with numpy."""
    import numpy as np

    for pdf in batches:
        out = {
            "doc_id": [], "frame_idx": [], "width": [], "height": [],
            "mean_pixel": [], "sample_status": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n_parsed = 0
            try:
                for idx, w, h, raster_bytes in _walk_ppm_frames(
                    bytes(payload)
                ):
                    n_parsed = idx + 1
                    if idx % 2 == 0:  # sample every 2nd frame
                        raster = np.frombuffer(raster_bytes, dtype=np.uint8)
                        out["doc_id"].append(doc_id)
                        out["frame_idx"].append(idx)
                        out["width"].append(w)
                        out["height"].append(h)
                        out["mean_pixel"].append(round(float(raster.mean()), 4))
                        out["sample_status"].append("ok")
            except ValueError as exc:
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(n_parsed)  # the failing frame's idx
                out["width"].append(0)
                out["height"].append(0)
                out["mean_pixel"].append(0.0)
                out["sample_status"].append(f"error: {exc}")
        yield pd.DataFrame(out)


_X5H_ORACLE = """
WITH frames AS (
  SELECT d.doc_id, f.i AS frame_idx,
         4 + (d.doc_id + f.i) % 13 AS w,
         4 + (d.doc_id + f.i) % 7  AS h
  FROM documents d,
       LATERAL (SELECT unnest(range(2 + d.doc_id % 4)) AS i) f
  WHERE f.i % 2 = 0
)
SELECT fr.doc_id,
       CAST(fr.frame_idx AS INT) AS frame_idx,
       CAST(fr.w AS INT)         AS width,
       CAST(fr.h AS INT)         AS height,
       round(avg(((fr.doc_id + fr.frame_idx) * 31 + g.i) % 256), 4) AS mean_pixel,
       'ok'                      AS sample_status
FROM frames fr,
     LATERAL (SELECT unnest(range(fr.w * fr.h * 3)) AS i) g
GROUP BY fr.doc_id, fr.frame_idx, fr.w, fr.h
"""


@register("x5h_ppm_frame_sample", oracle=_X5H_ORACLE, tags=("X5",))
def x5h_ppm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling, no stub: each document becomes a multi-frame
    concatenated-PPM container; the kernel demuxes it by parsing each
    frame header for its byte extent, decodes every 2nd frame, and
    reduces its pixels — the container-walk + selective-decode dataflow
    of an ffmpeg sampler, minus only the codec. The oracle predicts every
    sampled frame's dims and mean pixel arithmetically from
    (doc_id, frame_idx)."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id")
    payloads = docs.mapInPandas(
        encode_ppm_video_batch, "doc_id long, payload binary"
    )
    return payloads.mapInPandas(sample_ppm_frames_batch, PPM_VIDEO_SCHEMA)


# X5f — REAL audio decode: WAV (RIFF/PCM) encoder + decoder ---------------------
#
# Like PPM (x5e), canonical WAV needs no codec library: a RIFF header plus
# raw little-endian PCM samples (public Microsoft/IBM RIFF spec). The
# encode->decode round trip below is therefore a GENUINE audio decode —
# chunk walk, format parse, vectorized sample math — through the same
# Arrow-batched plumbing an MP3/FLAC pipeline would use.

WAV_DECODE_SCHEMA = (
    "doc_id long, sample_rate int, channels int, bits_per_sample int, "
    "n_samples long, duration_ms double, mean_amp double, decode_status string"
)

_WAV_RATE = 8000


def _pack_wav(samples: list[int]) -> bytes:
    """THE mono 16-bit PCM RIFF/WAV container packer shared by every
    deterministic WAV generator (x5f/x5i, x5l silence, x5n groups) — a
    header change lands in one place or the generators diverge."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, _WAV_RATE, _WAV_RATE * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _wav_bytes(doc_id: int) -> bytes:
    """Deterministic mono 16-bit PCM WAV whose sample values derive from
    doc_id only, so an SQL oracle can predict every decode output."""
    n = 160 + doc_id % 41
    return _pack_wav([((doc_id * 17 + i * 7) % 4096) - 2048 for i in range(n)])


def encode_wav_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": pdf["doc_id"].map(_wav_bytes),
            }
        )


def _parse_wav_pcm(buf: bytes):
    """RIFF/WAV chunk walk shared by the decode and profile kernels:
    validates the container, finds ``fmt ``/``data``, returns
    (rate, channels, bits, samples int16 ndarray). Raises ValueError on
    any malformation — callers map that to an error row."""
    import struct

    import numpy as np

    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        (clen,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        chunk = buf[pos + 8 : pos + 8 + clen]
        if len(chunk) != clen:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            if clen < 16:
                # struct.unpack on a short buffer raises struct.error,
                # which is NOT a ValueError — it would escape callers'
                # error-row handling and kill the task
                raise ValueError(f"fmt chunk too short ({clen} bytes)")
            fmt = struct.unpack("<HHIIHH", chunk[:16])
        elif cid == b"data":
            data = chunk
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, channels, rate, _, _, bits = fmt
    if audio_fmt != 1 or bits != 16:
        raise ValueError("unsupported encoding")
    if channels < 1 or rate < 1:
        # a zero here would turn into ZeroDivisionError (n // channels,
        # duration / rate) in callers, killing the task instead of
        # yielding an error row — reject it as the malformation it is
        raise ValueError("invalid fmt chunk: zero channels or sample rate")
    return rate, channels, bits, np.frombuffer(data, dtype="<i2")


def decode_wav_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """A real RIFF/WAV parser: validates the RIFF container, walks the
    chunk list to find ``fmt `` and ``data``, decodes the PCM plane with
    numpy. No library beyond numpy + struct."""
    for pdf in batches:
        out = {k: [] for k in (
            "doc_id", "sample_rate", "channels", "bits_per_sample",
            "n_samples", "duration_ms", "mean_amp", "decode_status",
        )}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            buf = bytes(payload)
            try:
                rate, channels, bits, samples = _parse_wav_pcm(buf)
                n = samples.size // channels
                out["sample_rate"].append(rate)
                out["channels"].append(channels)
                out["bits_per_sample"].append(bits)
                out["n_samples"].append(n)
                out["duration_ms"].append(n * 1000.0 / rate)
                # exact: |sample| < 2^11, n <= 201 -> the integer sum fits
                # float64 exactly, so sum/n is bit-identical to the oracle's
                # avg() without any rounding step (no round-tie risk).
                out["mean_amp"].append(float(samples.mean()))
                out["decode_status"].append("ok")
            except ValueError as exc:
                for k, v in (("sample_rate", 0), ("channels", 0),
                             ("bits_per_sample", 0), ("n_samples", 0),
                             ("duration_ms", 0.0), ("mean_amp", 0.0),
                             ("decode_status", f"error: {exc}")):
                    out[k].append(v)
            out["doc_id"].append(doc_id)
        yield pd.DataFrame(out)


_X5F_ORACLE = """
WITH dims AS (
  SELECT doc_id, 160 + doc_id % 41 AS n FROM documents
)
SELECT d.doc_id,
       CAST(8000 AS INT)  AS sample_rate,
       CAST(1 AS INT)     AS channels,
       CAST(16 AS INT)    AS bits_per_sample,
       CAST(d.n AS BIGINT) AS n_samples,
       d.n * 1000.0 / 8000 AS duration_ms,
       avg((d.doc_id * 17 + g.i * 7) % 4096 - 2048) AS mean_amp,
       'ok' AS decode_status
FROM dims d, LATERAL (SELECT unnest(range(d.n)) AS i) g
GROUP BY d.doc_id, d.n
"""


@register("x5f_wav_decode", oracle=_X5F_ORACLE, tags=("X5",))
def x5f_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, no stub: every document becomes a deterministic
    mono 16-bit PCM WAV (Arrow-batched encode kernel), then a genuine
    RIFF chunk-walking parser decodes it back in a second mapInPandas
    stage — format validation, chunk traversal, numpy PCM reduction.
    Together with x5e (PPM images) this proves the X5 decode path on two
    true media containers; only lossy codecs (JPEG/MP3) remain stubbed
    for lack of libraries. The oracle predicts every output (rate, sample
    count, duration, mean amplitude) arithmetically from doc_id."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id")
    payloads = docs.mapInPandas(encode_wav_batch, "doc_id long, payload binary")
    return payloads.mapInPandas(decode_wav_batch, WAV_DECODE_SCHEMA)


# X5i — audio feature extraction: windowed RMS + zero-crossing profile ---------
#
# The per-window energy/zero-crossing profile is the first feature pass
# of any audio curation pipeline (silence trimming, speech/noise
# screening). Windows are 80 samples (10 ms at 8 kHz); RMS and crossing
# counts are integer-exact up to the final sqrt (|s| < 2^11, <= 80
# samples per window — sums fit float64 exactly), so the SQL oracle
# reproduces every value from the closed-form sample formula.

AUDIO_PROFILE_SCHEMA = (
    "doc_id long, window_idx int, win_n long, rms double, "
    "zero_crossings long, profile_status string"
)

_AUDIO_WIN = 80


def audio_rms_profile_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Arrow-batched window profiler over real WAV payloads: parse via
    the shared RIFF walk, then vectorized per-window RMS and strict
    sign-change counts (numpy int64 — int16 squares would overflow)."""
    import numpy as np

    for pdf in batches:
        out = {k: [] for k in (
            "doc_id", "window_idx", "win_n", "rms",
            "zero_crossings", "profile_status",
        )}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            try:
                _, channels, _, samples = _parse_wav_pcm(bytes(payload))
                v = samples.astype(np.int64)[:: channels]  # first channel
                # whole-array numpy, no per-window Python loop: pad the
                # tail window with zeros (zeros add nothing to a square
                # sum and cannot create a strict sign change), reshape
                # to (n_windows, 80), reduce along axis 1.
                n_win = -(-v.size // _AUDIO_WIN) if v.size else 0
                if n_win == 0:
                    # structurally valid WAV with an empty data chunk:
                    # keep the one-visible-row-per-payload contract the
                    # error path and the other X5 kernels hold
                    out["doc_id"].append(doc_id)
                    out["window_idx"].append(-1)
                    out["win_n"].append(0)
                    out["rms"].append(0.0)
                    out["zero_crossings"].append(0)
                    out["profile_status"].append("empty")
                    continue
                win_n = np.full(n_win, _AUDIO_WIN, dtype=np.int64)
                win_n[-1] = v.size - (n_win - 1) * _AUDIO_WIN
                padded = np.zeros(n_win * _AUDIO_WIN, dtype=np.int64)
                padded[: v.size] = v
                w = padded.reshape(n_win, _AUDIO_WIN)
                rms = np.round(
                    np.sqrt((w * w).sum(axis=1) / win_n.astype(np.float64)), 4
                )
                zc = (w[:, :-1] * w[:, 1:] < 0).sum(axis=1)
                out["doc_id"].extend([doc_id] * n_win)
                out["window_idx"].extend(range(n_win))
                out["win_n"].extend(int(x) for x in win_n)
                out["rms"].extend(float(x) for x in rms)
                out["zero_crossings"].extend(int(x) for x in zc)
                out["profile_status"].extend(["ok"] * n_win)
            except ValueError as exc:
                out["doc_id"].append(doc_id)
                out["window_idx"].append(-1)
                out["win_n"].append(0)
                out["rms"].append(0.0)
                out["zero_crossings"].append(0)
                out["profile_status"].append(f"error: {exc}")
        yield pd.DataFrame(out)


_X5I_ORACLE = """
WITH dims AS (
  SELECT doc_id, 160 + doc_id % 41 AS n FROM documents
),
s AS (
  SELECT d.doc_id, g.i,
         (d.doc_id * 17 + g.i * 7) % 4096 - 2048 AS v
  FROM dims d, LATERAL (SELECT unnest(range(d.n)) AS i) g
),
s2 AS (
  SELECT doc_id, i, v, i // 80 AS w,
         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
  FROM s
)
SELECT doc_id,
       CAST(w AS INT)                                   AS window_idx,
       count(*)                                         AS win_n,
       round(sqrt(avg(CAST(v AS DOUBLE) * v)), 4)       AS rms,
       CAST(coalesce(sum(CASE WHEN i % 80 <> 0 AND pv * v < 0
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS zero_crossings,
       'ok'                                             AS profile_status
FROM s2
GROUP BY doc_id, w
ORDER BY doc_id, window_idx
"""


@register("x5i_audio_rms_profile", oracle=_X5I_ORACLE, tags=("X5",))
def x5i_audio_rms_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio energy profile over REAL WAV payloads: encode
    (deterministic PCM), then one mapInPandas pass that parses the RIFF
    container and emits per-10ms-window RMS + zero-crossing counts.
    Same Arrow plumbing an MFCC/VAD pipeline would use; binary payloads
    never leave executors, output is windows-per-doc (bounded rows, tiny
    columns). The oracle recomputes every window from the closed-form
    sample values, pairing adjacent samples with lag() for crossings."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id")
    payloads = docs.mapInPandas(encode_wav_batch, "doc_id long, payload binary")
    return payloads.mapInPandas(audio_rms_profile_batch, AUDIO_PROFILE_SCHEMA)


# X5j — per-channel image statistics over real PPM payloads -------------------
#
# The normalization-stats pass a vision pipeline runs before training:
# per-channel mean and range over the decoded raster (the numbers that
# become a dataset's channel-mean/std normalization constants, and the
# outlier signal for dead/saturated-channel detection). Same real-decode
# posture as x5e/x5g: deterministic P6 payloads, the shared
# _parse_ppm_raster, numpy per-channel reduction — the exact kernel a
# JPEG corpus would run with a codec swapped in.

IMG_CHANNEL_SCHEMA = (
    "doc_id long, channel int, n_values long, mean_val double, "
    "min_val int, max_val int, stat_status string"
)


def channel_stats_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-channel stats: reshape the interleaved RGB raster to
    (pixels, 3) and reduce each column — vectorized, three tiny output
    rows per image regardless of its size (the 100 TB-safe contract).
    A malformed payload yields ONE visible error row (channel -1) —
    the decode/resize kernels' convention; silently dropping the doc
    would make an oracle mismatch undiagnosable."""
    for pdf in batches:
        out = {
            "doc_id": [], "channel": [], "n_values": [], "mean_val": [],
            "min_val": [], "max_val": [], "stat_status": [],
        }

        def emit(doc_id, channel, n, mean, lo, hi, status):
            out["doc_id"].append(doc_id)
            out["channel"].append(channel)
            out["n_values"].append(n)
            out["mean_val"].append(mean)
            out["min_val"].append(lo)
            out["max_val"].append(hi)
            out["stat_status"].append(status)

        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            buf = bytes(payload)
            try:
                w, h, raster = _parse_ppm_raster(buf)
            except ValueError as exc:
                emit(doc_id, -1, 0, 0.0, 0, 0, f"error: {exc}")
                continue
            px = raster.reshape(-1, 3)
            for c in range(3):
                ch = px[:, c]
                emit(
                    doc_id, c, int(ch.size), round(float(ch.mean()), 4),
                    int(ch.min()), int(ch.max()), "ok",
                )
        yield pd.DataFrame(out)


_X5J_ORACLE = """
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 7 AS h
  FROM documents
),
px AS (
  SELECT d.doc_id, c.i AS channel,
         (d.doc_id * 31 + p.i * 3 + c.i) % 256 AS v
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w * d.h)) AS i) p,
       LATERAL (SELECT unnest(range(3)) AS i) c
)
SELECT doc_id,
       CAST(channel AS INT)      AS channel,
       CAST(count(*) AS BIGINT)  AS n_values,
       round(avg(v), 4)          AS mean_val,
       CAST(min(v) AS INT)       AS min_val,
       CAST(max(v) AS INT)       AS max_val,
       'ok'                      AS stat_status
FROM px
GROUP BY doc_id, channel
"""


@register("x5j_image_channel_stats", oracle=_X5J_ORACLE, tags=("X5",))
def x5j_image_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel normalization statistics over REAL decoded images:
    deterministic P6 payloads (x5e's encode kernel), the shared P6
    parser, then a per-channel numpy reduction inside one mapInPandas
    stage — three rows per image. Binary payloads never leave the
    executors; the oracle predicts every channel's count/mean/extremes
    arithmetically from doc_id (channel c samples the pixel stream at
    stride 3 offset c)."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id")
    payloads = docs.mapInPandas(encode_ppm_batch, "doc_id long, payload binary")
    return payloads.mapInPandas(channel_stats_batch, IMG_CHANNEL_SCHEMA)


# X5k — scene-change profile over the PPM video container ---------------------
#
# The keyframe/cut-detection pass a video curation pipeline runs first:
# demux the container, normalize every frame to a common raster (the
# x5g 8x6 nearest-neighbor law — consecutive frames may differ in
# dims), and score each frame by mean absolute pixel difference against
# its predecessor. High-diff frames are cuts/keyframes; near-zero runs
# are static content a sampler can drop. Payloads, the container walk
# (_walk_ppm_frames — THE shared demux site), and the resample law all
# reuse the module's single-site pieces.

SCENE_SCHEMA = (
    "doc_id long, frame_idx int, mean_abs_diff double, scene_status string"
)

_X5K_ORACLE = """
WITH frames AS (
  SELECT d.doc_id, f.i AS frame_idx,
         4 + (d.doc_id + f.i) % 13 AS w,
         4 + (d.doc_id + f.i) % 7  AS h
  FROM documents d,
       LATERAL (SELECT unnest(range(2 + d.doc_id % 4)) AS i) f
),
px AS (
  SELECT fr.doc_id, fr.frame_idx, ty.i AS ty, tx.i AS tx, c.i AS c,
         ((fr.doc_id + fr.frame_idx) * 31
          + (((ty.i * fr.h) // 6) * fr.w + ((tx.i * fr.w) // 8)) * 3
          + c.i) % 256 AS v
  FROM frames fr,
       LATERAL (SELECT unnest(range(6)) AS i) ty,
       LATERAL (SELECT unnest(range(8)) AS i) tx,
       LATERAL (SELECT unnest(range(3)) AS i) c
)
SELECT a.doc_id,
       CAST(a.frame_idx AS INT)        AS frame_idx,
       round(avg(abs(a.v - b.v)), 4)   AS mean_abs_diff,
       'ok'                            AS scene_status
FROM px a JOIN px b
  ON a.doc_id = b.doc_id AND b.frame_idx = a.frame_idx - 1
 AND a.ty = b.ty AND a.tx = b.tx AND a.c = b.c
GROUP BY a.doc_id, a.frame_idx
ORDER BY a.doc_id, frame_idx
"""


def scene_change_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Walk the concatenated-PPM container, resample every frame to the
    8x6 target with the x5g floor-mapping law, and emit one row per
    consecutive-frame pair with the mean absolute difference. Output is
    frames-per-doc rows with tiny columns regardless of frame size —
    the bounded-output contract all X5 kernels keep — and a malformed
    payload yields ONE visible frame_idx=-1 error row (the module's
    error-row convention), never a batch-killing exception."""
    import numpy as np

    for pdf in batches:
        out = {
            "doc_id": [], "frame_idx": [], "mean_abs_diff": [],
            "scene_status": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            buf = bytes(payload)
            try:
                resized = []
                for _idx, w, h, raster_bytes in _walk_ppm_frames(buf):
                    img = np.frombuffer(raster_bytes, dtype=np.uint8).reshape(
                        h, w, 3
                    )
                    rows = (np.arange(6) * h) // 6
                    cols = (np.arange(8) * w) // 8
                    resized.append(img[rows][:, cols].astype(np.int64))
            except ValueError as exc:
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(-1)
                out["mean_abs_diff"].append(0.0)
                out["scene_status"].append(f"error: {exc}")
                continue
            for f in range(1, len(resized)):
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(f)
                out["mean_abs_diff"].append(
                    round(float(np.abs(resized[f] - resized[f - 1]).mean()), 4)
                )
                out["scene_status"].append("ok")
        yield pd.DataFrame(out)


@register("x5k_scene_change", oracle=_X5K_ORACLE, tags=("X5",))
def x5k_scene_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame scene-change scores over REAL demuxed PPM video
    payloads: one Arrow-batched mapInPandas pass demuxes, resamples
    each frame to the common 8x6 raster (frames differ in dims by
    construction), and scores consecutive-frame mean absolute
    difference. The oracle predicts every score arithmetically from
    doc_id via the same floor-mapping resample law x5g pins."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id")
    payloads = docs.mapInPandas(
        encode_ppm_video_batch, "doc_id long, payload binary"
    )
    return payloads.mapInPandas(scene_change_batch, SCENE_SCHEMA)


# X5l — silence trimming over real WAV payloads -------------------------------
#
# The first edit an audio-curation pipeline makes: find how much leading
# and trailing silence a clip carries and how much signal survives the
# trim. Payloads here plant deterministic silence — lead = doc_id % 4
# and trail = doc_id % 3 whole 80-sample windows of zeros around the
# x5i-style signal span of n = 160 + doc_id % 41 samples — so the
# closed-form law is exact: because the lead span is window-aligned and
# total length is lead*80 + n + trail*80, the clip profiles to
# lead + ceil(n/80) + trail windows of which exactly the first `lead`
# and last `trail` are all-zero (the last signal window absorbs any
# partial trailing zeros and stays active). That invariant requires a
# signal sample to NEVER be zero — the x5i formula ((...) % 4096) -
# 2048 CAN hit zero, and a doc_id whose final 1-sample signal window
# lands on it (first such: 47520, reachable at sf1 via the stress
# corpus's offset doc_ids) would profile that window silent and break
# the law — so the signal range here is [1, 4095]. The Spark side
# proves the whole kernel chain — WAV byte encode, RIFF parse,
# windowed RMS, per-doc aggregation — against that law; the oracle
# derives it from doc_id arithmetic alone.

def _wav_bytes_with_silence(doc_id: int) -> bytes:
    lead = (doc_id % 4) * _AUDIO_WIN
    trail = (doc_id % 3) * _AUDIO_WIN
    n = 160 + doc_id % 41
    return _pack_wav(
        [0] * lead
        + [1 + ((doc_id * 17 + i * 7) % 4095) for i in range(n)]
        + [0] * trail
    )


def encode_wav_silence_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": pdf["doc_id"].map(_wav_bytes_with_silence),
            }
        )


_X5L_ORACLE = """
WITH law AS (
  SELECT doc_id,
         doc_id % 4                                        AS lead,
         doc_id % 3                                        AS trail,
         CAST(ceil((160 + doc_id % 41) / 80.0) AS BIGINT)  AS active
  FROM documents
)
SELECT doc_id,
       lead + active + trail                   AS n_windows,
       lead                                    AS lead_trim,
       trail                                   AS trail_trim,
       active                                  AS kept_windows,
       round(active * 80 / 8000.0, 4)          AS kept_sec
FROM law
ORDER BY doc_id
"""


@register("x5l_audio_silence_trim", oracle=_X5L_ORACLE, tags=("X5",))
def x5l_audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip silence-trim report from the REAL kernel chain: encode
    the silence-planted WAV, parse and window-profile it (the shared
    x5i RMS kernel), then aggregate per doc — window count, all-zero
    lead/trail window runs (rms == 0 is exact for all-zero int windows;
    no float threshold involved), surviving windows and seconds.

    Scale shape: two Arrow-batched map-only kernels then one hash-agg
    keyed by doc_id; profile rows are bounded per clip and payload
    bytes never leave the executors."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id")
    payloads = docs.mapInPandas(
        encode_wav_silence_batch, "doc_id long, payload binary"
    )
    prof = payloads.mapInPandas(audio_rms_profile_batch, AUDIO_PROFILE_SCHEMA)
    active_idx = F.when(F.col("rms") > 0.0, F.col("window_idx"))
    return (
        prof.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.min(active_idx).alias("_first"),
            F.max(active_idx).alias("_last"),
        )
        .select(
            "doc_id",
            "n_windows",
            F.coalesce(F.col("_first"), F.col("n_windows")).cast("long").alias("lead_trim"),
            (
                F.col("n_windows")
                - 1
                - F.coalesce(F.col("_last"), F.lit(-1))
            ).cast("long").alias("trail_trim"),
            F.coalesce(
                F.col("_last") - F.col("_first") + 1, F.lit(0)
            ).cast("long").alias("kept_windows"),
            F.round(
                F.coalesce(F.col("_last") - F.col("_first") + 1, F.lit(0))
                * _AUDIO_WIN
                / float(_WAV_RATE),
                4,
            ).alias("kept_sec"),
        )
        .orderBy("doc_id")
    )


# X5m — perceptual-hash image dedup (dHash) -----------------------------------
#
# The bridge between the multimodal and dedup families: byte-exact
# image dedup (x1-style checksums) misses re-encoded/resampled copies,
# so image pipelines dedup on a PERCEPTUAL hash. dHash here: decode,
# collapse to sum-gray (r+g+b — integer-exact, no luma rounding),
# nearest-neighbor resample to 9x8 (the x5g floor-mapping arithmetic),
# then one bit per adjacent-horizontal comparison (gray[y,x] >
# gray[y,x+1]) -> a 64-bit hash serialized as 16 hex chars (8 row
# bytes — avoids int64 sign issues entirely). Images sharing a dhash
# group into near-duplicate clusters. The oracle re-derives every bit
# arithmetically from the deterministic payload generator, so the
# whole chain — encode, parse, gray, resample, compare, serialize,
# group — is value-checked.
#
# Scale shape: one Arrow map pass per image (bounded 16-char output per
# payload, bytes never leave executors) + one uniform-key hash-agg on
# the dhash. Clustering is EXACT hash equality — no pairwise stage at
# all, which is what makes perceptual-hash dedup the cheap first pass
# before any embedding-based image similarity.

_DHASH_W, _DHASH_H = 9, 8

DHASH_SCHEMA = "doc_id long, dhash string, hash_status string"


def _dhash_hex_from_raster(w: int, h: int, raster) -> str:
    """THE dHash math (sum-gray, 9x8 floor resample, adjacent-horizontal
    comparison bits, 16 hex chars) shared by the x5m image kernel and
    the x5r per-frame video kernel — one site, so the clip-level and
    image-level hashes can never diverge."""
    import numpy as np

    gray = raster.reshape(h, w, 3).astype(np.int64).sum(axis=2)
    sy = (np.arange(_DHASH_H) * h) // _DHASH_H
    sx = (np.arange(_DHASH_W) * w) // _DHASH_W
    g = gray[sy][:, sx]                    # 8 x 9
    bits = (g[:, :-1] > g[:, 1:]).astype(np.int64)  # 8 x 8
    row_bytes = (bits << np.arange(8)).sum(axis=1)
    return "".join(f"{b:02x}" for b in row_bytes)


def dhash_ppm_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {"doc_id": [], "dhash": [], "hash_status": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            try:
                # all hash math runs BEFORE the first append so a
                # ValueError from either step lands in the except branch
                # with zero partial appends (column lists stay aligned)
                w, h, raster = _parse_ppm_raster(bytes(payload))
                dhash = _dhash_hex_from_raster(w, h, raster)
                out["doc_id"].append(doc_id)
                out["dhash"].append(dhash)
                out["hash_status"].append("ok")
            except ValueError as exc:
                out["doc_id"].append(doc_id)
                out["dhash"].append(None)
                out["hash_status"].append(f"error: {exc}")
        yield pd.DataFrame(out)


def _x5m_gray_sql(c: int) -> str:
    return (
        f"(d.doc_id * 31 + (((ty.i * d.h) // {_DHASH_H}) * d.w"
        f" + ((tx.i * d.w) // {_DHASH_W})) * 3 + {c}) % 256"
    )


_X5M_ORACLE = f"""
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 7 AS h FROM documents
),
g AS (
  SELECT d.doc_id, ty.i AS y, tx.i AS x,
         {_x5m_gray_sql(0)} + {_x5m_gray_sql(1)} + {_x5m_gray_sql(2)} AS gray
  FROM dims d,
       LATERAL (SELECT unnest(range({_DHASH_H})) AS i) ty,
       LATERAL (SELECT unnest(range({_DHASH_W})) AS i) tx
),
bits AS (
  SELECT a.doc_id, a.y, a.x,
         CASE WHEN a.gray > b.gray THEN 1 ELSE 0 END AS bit
  FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
  WHERE a.x < {_DHASH_W - 1}
),
rowbytes AS (
  SELECT doc_id, y, sum(bit * (1 << x)) AS byte
  FROM bits GROUP BY doc_id, y
),
hashes AS (
  SELECT doc_id,
         string_agg(lpad(lower(hex(byte)), 2, '0'), '' ORDER BY y) AS dhash
  FROM rowbytes GROUP BY doc_id
)
SELECT dhash,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id
FROM hashes
GROUP BY dhash
ORDER BY dhash
"""


@register("x5m_image_phash_dedup", oracle=_X5M_ORACLE, tags=("X5", "X2"))
def x5m_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image clusters by dHash over real decoded PPM
    payloads: per distinct hash, the cluster size and its representative
    (lowest doc_id — the keeper a dedup pass retains)."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id")
    payloads = docs.mapInPandas(encode_ppm_batch, "doc_id long, payload binary")
    hashed = payloads.mapInPandas(dhash_ppm_batch, DHASH_SCHEMA)
    return (
        hashed.filter(F.col("hash_status") == "ok")
        .groupBy("dhash")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("dhash")
    )


# X5m2 — Hamming-ball image near-dedup (banded multi-index) --------------------
#
# x5m clusters by EXACT dhash equality, which misses the near-misses a
# real image pipeline must catch: brightness jitter, mild crops, or
# re-encodes flip a few dhash bits, so perceptual dedup matches within
# Hamming distance <= d. The scale idiom is multi-index hashing — the
# same banding trick the text LSH family uses (dedup.py x2b2): split
# the 64-bit dhash into 4 x 16-bit bands; by pigeonhole, two hashes
# within distance <= 3 share at least one identical band, so
# dedup.bucket_pairs on the band key finds every candidate and
# ``bit_count(xor)`` verifies the exact distance — every step
# integer-exact, hence fully oracle-checkable (unlike MinHash's
# probabilistic recall).
#
# The corpus plants TRUE near-duplicates at the IMAGE level: for every
# doc whose 9x8 resample is collision-free (h >= 8 so the 8 sampled
# rows are distinct source rows, w >= 9 so the 9 sampled columns are
# distinct source columns), a variant image perturbs channel 0 of the
# single source pixel sampled by grid cell (doc_id % 8, doc_id % 9).
# That changes exactly one resampled gray value, which feeds exactly
# two adjacent-comparison bits — so hamming(base, variant) <= 2 is a
# THEOREM (pytest-pinned), and d = 2 makes every planted variant either
# collapse into its base's exact cluster or surface as an output pair.
#
# Scale shape: exact-duplicate collapse FIRST (5000 images -> ~500
# distinct hashes here; at corpus scale this is the x5m hash-agg), then
# bucket_pairs runs over DISTINCT hashes only, under its group bound;
# no all-pairs stage exists (plan-gated). NB the formulaic fixture
# images make hashes far denser than natural photos (largest band
# bucket 855 at sf0.1); on real corpora 16-bit bands over 2^64-spread
# hashes prune to near-singleton buckets.

_X5M2_OFFSET = 1_000_000_000  # variant img_id = doc_id + offset
_X5M2_DELTA = 128             # channel-0 perturbation, mod 256
_X5M2_MAX_DIST = 2            # the planted-variant displacement bound
_X5M2_BANDS = 4               # 4 x 16-bit bands over the 64-bit dhash


def _x5m2_variant_bytes(doc_id: int) -> bytes:
    """The planted near-duplicate: the base PPM with channel 0 of ONE
    sampled source pixel shifted by +128 (mod 256). Only called for
    docs where the dHash resample is collision-free, so the shift moves
    exactly one grid gray value = at most two hash bits."""
    w = 4 + doc_id % 13
    h = 4 + doc_id % 7
    header_len = len(f"P6\n{w} {h}\n255\n")
    py0, px0 = doc_id % _DHASH_H, doc_id % _DHASH_W
    sy0, sx0 = (py0 * h) // _DHASH_H, (px0 * w) // _DHASH_W
    buf = bytearray(_ppm_bytes(doc_id))
    at = header_len + (sy0 * w + sx0) * 3
    buf[at] = (buf[at] + _X5M2_DELTA) % 256
    return bytes(buf)


def _x5m2_variant_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"] + _X5M2_OFFSET,
                "payload": pdf["doc_id"].map(_x5m2_variant_bytes),
            }
        )


def _x5m2_gray_sql(c: int) -> str:
    """Channel-c gray contribution for the x5m2 corpus: the x5m formula
    parametrized by src_doc, with the variant rows' channel-0
    perturbation applied exactly where the sampled source pixel is the
    planted one (mirrors _x5m2_variant_bytes byte-for-byte)."""
    base = (
        f"(d.src_doc * 31 + (((ty.i * d.h) // {_DHASH_H}) * d.w"
        f" + ((tx.i * d.w) // {_DHASH_W})) * 3 + {c}) % 256"
    )
    if c != 0:
        return base
    cond = (
        f"d.pert = 1"
        f" AND ((ty.i * d.h) // {_DHASH_H})"
        f" = (((d.src_doc % {_DHASH_H}) * d.h) // {_DHASH_H})"
        f" AND ((tx.i * d.w) // {_DHASH_W})"
        f" = (((d.src_doc % {_DHASH_W}) * d.w) // {_DHASH_W})"
    )
    return (
        f"((({base}) + CASE WHEN {cond} THEN {_X5M2_DELTA} ELSE 0 END) % 256)"
    )


# THE per-image dHash derivation as SQL CTE text (g -> bits -> rowbytes
# -> hb), over any upstream `dims(img_id, src_doc, pert, w, h)` relation
# — the oracle-side twin of _dhash_hex_from_raster, shared verbatim by
# the x5m2 image oracle and the x5r per-frame video oracle so the two
# can never hash differently. hb yields the 16-hex dhash plus its
# 4 x 16-bit band values (band i = row bytes 2i, 2i+1, big-endian).
_PPM_HASH_CTES = f"""g AS (
  SELECT d.img_id, ty.i AS y, tx.i AS x,
         {_x5m2_gray_sql(0)} + {_x5m2_gray_sql(1)} + {_x5m2_gray_sql(2)} AS gray
  FROM dims d,
       LATERAL (SELECT unnest(range({_DHASH_H})) AS i) ty,
       LATERAL (SELECT unnest(range({_DHASH_W})) AS i) tx
),
bits AS (
  SELECT a.img_id, a.y, a.x,
         CASE WHEN a.gray > b.gray THEN 1 ELSE 0 END AS bit
  FROM g a JOIN g b ON a.img_id = b.img_id AND a.y = b.y AND b.x = a.x + 1
  WHERE a.x < {_DHASH_W - 1}
),
rowbytes AS (
  SELECT img_id, y, sum(bit * (1 << x)) AS byte
  FROM bits GROUP BY img_id, y
),
hb AS (
  SELECT img_id,
         string_agg(lpad(lower(hex(byte)), 2, '0'), '' ORDER BY y) AS dhash,
         CAST(sum(CASE WHEN y // 2 = 0
                  THEN byte * CASE WHEN y % 2 = 0 THEN 256 ELSE 1 END
                  ELSE 0 END) AS BIGINT) AS b0,
         CAST(sum(CASE WHEN y // 2 = 1
                  THEN byte * CASE WHEN y % 2 = 0 THEN 256 ELSE 1 END
                  ELSE 0 END) AS BIGINT) AS b1,
         CAST(sum(CASE WHEN y // 2 = 2
                  THEN byte * CASE WHEN y % 2 = 0 THEN 256 ELSE 1 END
                  ELSE 0 END) AS BIGINT) AS b2,
         CAST(sum(CASE WHEN y // 2 = 3
                  THEN byte * CASE WHEN y % 2 = 0 THEN 256 ELSE 1 END
                  ELSE 0 END) AS BIGINT) AS b3
  FROM rowbytes GROUP BY img_id
)"""

_X5M2_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id AS img_id, doc_id AS src_doc, 0 AS pert FROM documents
  UNION ALL
  SELECT doc_id + {_X5M2_OFFSET} AS img_id, doc_id AS src_doc, 1 AS pert
  FROM documents
  WHERE doc_id % 7 >= 4 AND doc_id % 13 >= 5
),
dims AS (
  SELECT img_id, src_doc, pert,
         4 + src_doc % 13 AS w, 4 + src_doc % 7 AS h
  FROM corpus
),
{_PPM_HASH_CTES},
dh AS (
  SELECT dhash,
         CAST(count(*) AS BIGINT) AS n_images,
         CAST(min(img_id) AS BIGINT) AS rep_id,
         min(b0) AS b0, min(b1) AS b1, min(b2) AS b2, min(b3) AS b3
  FROM hb GROUP BY dhash
),
bands AS (
  SELECT dhash, n_images, rep_id, b0, b1, b2, b3, u.i AS band_idx,
         CASE u.i WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END
           AS band_val
  FROM dh, LATERAL (SELECT unnest(range({_X5M2_BANDS})) AS i) u
),
cand AS (
  SELECT DISTINCT
         a.dhash AS a_hash, b.dhash AS b_hash,
         a.n_images AS a_images, b.n_images AS b_images,
         a.rep_id AS a_rep, b.rep_id AS b_rep,
         bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
       + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS hd
  FROM bands a
  JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.dhash < b.dhash
)
SELECT a_hash, b_hash,
       CAST(hd AS BIGINT) AS hamming_dist,
       a_images, b_images, a_rep, b_rep
FROM cand
WHERE hd <= {_X5M2_MAX_DIST}
ORDER BY a_hash, b_hash
"""


@register("x5m2_hamming_near_dedup", oracle=_X5M2_ORACLE, tags=("X5", "X2"))
def x5m2_hamming_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-ball near-duplicate image pairs over real decoded PPM
    payloads + planted one-pixel-perturbed variants: collapse exact
    dhash duplicates, band the 64-bit hash into 4 x 16-bit pieces,
    pair by (band_idx, band_val) bucket — pigeonhole-complete for
    distance <= 3 — and keep the verified pairs within distance
    _X5M2_MAX_DIST (= 2, the planted-variant displacement bound)."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id")
    bases = docs.mapInPandas(encode_ppm_batch, "doc_id long, payload binary")
    eligible = docs.filter(
        ((F.col("doc_id") % 7) >= 4) & ((F.col("doc_id") % 13) >= 5)
    )
    variants = eligible.mapInPandas(
        _x5m2_variant_batch, "doc_id long, payload binary"
    )
    hashed = (
        bases.unionByName(variants)
        .mapInPandas(dhash_ppm_batch, DHASH_SCHEMA)
        .filter(F.col("hash_status") == "ok")
    )
    # exact-duplicate collapse FIRST: near-matching runs over distinct
    # hashes only (the x5m clusters ride along as n_images)
    dh = hashed.groupBy("dhash").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.min("doc_id").alias("rep_id"),
        *[
            F.conv(F.substring("dhash", 1 + 4 * i, 4), 16, 10)
            .cast("long")
            .alias(f"b{i}")
            for i in range(_X5M2_BANDS)
        ],
    )
    bands = dh.select(
        "dhash",
        "n_images",
        "rep_id",
        *[f"b{i}" for i in range(_X5M2_BANDS)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.col(f"b{i}").alias("band_val"),
                    )
                    for i in range(_X5M2_BANDS)
                ]
            )
        ).alias("band"),
    ).select(
        "dhash",
        "n_images",
        "rep_id",
        *[f"b{i}" for i in range(_X5M2_BANDS)],
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_val").alias("band_val"),
    )
    def hd(a: str, b: str) -> str:
        return " + ".join(
            f"CAST(bit_count({a}.b{i} ^ {b}.b{i}) AS BIGINT)"
            for i in range(_X5M2_BANDS)
        )

    pairs = bucket_pairs(
        bands,
        "dhash",
        ["band_idx", "band_val"],
        "x5m2",
        payload=("n_images", "rep_id", *[f"b{i}" for i in range(_X5M2_BANDS)]),
        fields=lambda a, b: f"""
            'a_images', {a}.n_images, 'b_images', {b}.n_images,
            'a_rep', {a}.rep_id, 'b_rep', {b}.rep_id,
            'hamming_dist', {hd(a, b)}""",
        # filter BEFORE the dedup: a pair within the ball matches on >= 2
        # bands, but band collisions at distance 3..64 would otherwise
        # ride the dedup exchange only to be discarded — in-ball pairs
        # only keeps that shuffle minimal at scale
        where=F.col("hamming_dist") <= _X5M2_MAX_DIST,
    )
    return pairs.select(
        F.col("id_a").alias("a_hash"),
        F.col("id_b").alias("b_hash"),
        "hamming_dist", "a_images", "b_images", "a_rep", "b_rep",
    ).orderBy("a_hash", "b_hash")


# X5n — gain-invariant audio fingerprint dedup --------------------------------
#
# x5m's audio twin: re-encoded or re-mastered copies of a clip differ
# byte-wise but share their ENERGY SHAPE, so audio pipelines dedup on a
# fingerprint built from it. Fingerprint here: per-80-sample window
# energies, one bit per adjacent comparison (E_w > E_{w+1}), packed to
# hex. A uniform gain scales every energy by gain^2 and flips no
# comparison — so the planted corpus (groups of 5 clips sharing a seed,
# each at gain 1..5) clusters by group, which the pytest pins along
# with the gain-invariance law itself. Amplitudes stay < 200*5 so no
# int16 clipping can break the scaling argument. The oracle re-derives
# every bit from the seed arithmetic alone (gain provably cancels, so
# it never appears in the SQL).
#
# Scale shape: one Arrow map pass per clip (bounded hex output), one
# uniform-key hash-agg on the fingerprint — exact equality clustering,
# no pairwise stage (the x5m posture, for audio).

_X5N_WIN = 80


def _wav_base_vals(seed: int) -> list[int]:
    """THE gain-1 sample sequence of a clip group — single site shared
    by the corpus generator and the x5n2 near-dup plant so the two can
    never desynchronize."""
    n = 2400 + seed % 801
    return [((seed * 17 + i * 7) % 400) - 200 for i in range(n)]


def _wav_bytes_grouped(doc_id: int) -> bytes:
    """Deterministic WAV where doc groups of 5 share a seed and differ
    only by an integer gain — byte-distinct, fingerprint-identical."""
    seed = (doc_id // 5) * 5
    gain = 1 + doc_id % 5
    return _pack_wav([v * gain for v in _wav_base_vals(seed)])


def encode_wav_grouped_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": pdf["doc_id"].map(_wav_bytes_grouped),
            }
        )


AUDIO_FP_SCHEMA = "doc_id long, fingerprint string, fp_status string"


def audio_fingerprint_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        out = {"doc_id": [], "fingerprint": [], "fp_status": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            try:
                _, channels, _, samples = _parse_wav_pcm(bytes(payload))
                v = samples.astype(np.int64)[:: channels]
                n_win = v.size // _X5N_WIN  # full windows only
                if n_win < 2:
                    raise ValueError("too short to fingerprint")
                w = v[: n_win * _X5N_WIN].reshape(n_win, _X5N_WIN)
                e = (w * w).sum(axis=1)
                bits = (e[:-1] > e[1:]).astype(np.int64)
                nbytes = -(-bits.size // 8)
                padded = np.zeros(nbytes * 8, dtype=np.int64)
                padded[: bits.size] = bits
                packed = (padded.reshape(-1, 8) << np.arange(8)).sum(axis=1)
                out["doc_id"].append(doc_id)
                out["fingerprint"].append(
                    "".join(f"{b:02x}" for b in packed)
                )
                out["fp_status"].append("ok")
            except ValueError as exc:
                out["doc_id"].append(doc_id)
                out["fingerprint"].append(None)
                out["fp_status"].append(f"error: {exc}")
        yield pd.DataFrame(out)


_X5N_ORACLE = f"""
WITH dims AS (
  SELECT doc_id, (doc_id // 5) * 5 AS seed,
         2400 + ((doc_id // 5) * 5) % 801 AS n
  FROM documents
),
s AS (
  SELECT d.doc_id, g.i // {_X5N_WIN} AS w,
         ((d.seed * 17 + g.i * 7) % 400) - 200 AS v
  FROM dims d, LATERAL (SELECT unnest(range((d.n // {_X5N_WIN}) * {_X5N_WIN})) AS i) g
),
e AS (
  SELECT doc_id, w, sum(CAST(v AS BIGINT) * v) AS energy
  FROM s GROUP BY doc_id, w
),
bits AS (
  SELECT a.doc_id, a.w AS j,
         CASE WHEN a.energy > b.energy THEN 1 ELSE 0 END AS bit
  FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.w = a.w + 1
),
bytes AS (
  SELECT doc_id, j // 8 AS byte_idx,
         sum(bit * (1 << (j % 8))) AS byte
  FROM bits GROUP BY doc_id, j // 8
),
fps AS (
  SELECT doc_id,
         string_agg(lpad(lower(hex(byte)), 2, '0'), '' ORDER BY byte_idx)
           AS fingerprint
  FROM bytes GROUP BY doc_id
)
SELECT fingerprint,
       CAST(count(*) AS BIGINT)     AS n_clips,
       CAST(min(doc_id) AS BIGINT)  AS min_doc_id
FROM fps
GROUP BY fingerprint
ORDER BY fingerprint
"""


@register("x5n_audio_fingerprint_dedup", oracle=_X5N_ORACLE, tags=("X5", "X2"))
def x5n_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate audio clusters by energy-shape fingerprint over
    real WAV payloads (groups of 5 gain-variants planted per seed):
    per distinct fingerprint, the cluster size and its keeper."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id")
    payloads = docs.mapInPandas(
        encode_wav_grouped_batch, "doc_id long, payload binary"
    )
    fps = payloads.mapInPandas(audio_fingerprint_batch, AUDIO_FP_SCHEMA)
    return (
        fps.filter(F.col("fp_status") == "ok")
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("fingerprint")
    )


# X5o — ViT-style patch grid extraction (image -> patch token rows) ------------
#
# The preprocessing step every vision-transformer training pipeline runs:
# tile each image into non-overlapping PxP patches (incomplete edge
# rows/columns cropped, exactly as ViT's patchify does) and emit one row
# per patch with its per-channel means — the patch-token table a
# downstream embedder consumes. Runs on the x5e PPM kernel, so every
# output value is arithmetically predictable from doc_id: pixel (x, y,
# c) of doc d is (d*31 + ((y*w + x)*3 + c)) % 256, and a patch mean
# averages 4 such values per channel (means of 4 integers are exact
# quarters — no float ambiguity at round(4)).
#
# Scale shape: encode and patchify are BOTH map-only Arrow stages
# (payloads never shuffle, never reach the driver); the output fans out
# ~(w/2)*(h/2) bounded rows per image. The numpy patch reduction is the
# production idiom: reshape (h, w, 3) -> (H2, 2, W2, 2, 3), mean over
# the in-patch axes — one vectorized pass, no Python pixel loops.

_X5O_P = 2  # patch edge; fixture images are 4..16 x 4..10

PATCH_SCHEMA = (
    "doc_id long, patch_row int, patch_col int, "
    "mean_r double, mean_g double, mean_b double, decode_status string"
)


def patchify_ppm_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    p = _X5O_P
    for pdf in batches:
        rows = {k: [] for k in (
            "doc_id", "patch_row", "patch_col", "mean_r", "mean_g", "mean_b",
            "decode_status",
        )}

        def emit(doc_id, pr, pc, r, g, b, status):
            rows["doc_id"].append(doc_id)
            rows["patch_row"].append(pr)
            rows["patch_col"].append(pc)
            rows["mean_r"].append(r)
            rows["mean_g"].append(g)
            rows["mean_b"].append(b)
            rows["decode_status"].append(status)

        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            try:
                w, h, raster = _parse_ppm_raster(bytes(payload))
            except ValueError as exc:
                # a malformed payload emits ONE labeled sentinel row (the
                # x5p decode_status contract) instead of silently vanishing:
                # a decode regression shows up as attributable error rows,
                # not an opaque row-count mismatch against the oracle
                emit(doc_id, -1, -1, 0.0, 0.0, 0.0, f"error: {exc}")
                continue
            h2, w2 = h // p, w // p
            if h2 == 0 or w2 == 0:
                continue  # smaller than one patch: crops to nothing (defined)
            img = raster.reshape(h, w, 3)[: h2 * p, : w2 * p, :]
            means = img.reshape(h2, p, w2, p, 3).mean(axis=(1, 3))
            for pr in range(h2):
                for pc in range(w2):
                    emit(
                        doc_id, pr, pc,
                        round(float(means[pr, pc, 0]), 4),
                        round(float(means[pr, pc, 1]), 4),
                        round(float(means[pr, pc, 2]), 4),
                        "ok",
                    )
        yield pd.DataFrame(rows)


_X5O_ORACLE = f"""
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 7 AS h FROM documents
),
grid AS (
  SELECT doc_id, w, pr.i AS patch_row, pc.i AS patch_col
  FROM dims,
       LATERAL (SELECT unnest(range(h // {_X5O_P})) AS i) pr,
       LATERAL (SELECT unnest(range(w // {_X5O_P})) AS i) pc
)
SELECT doc_id,
       CAST(patch_row AS INT) AS patch_row,
       CAST(patch_col AS INT) AS patch_col,
       round(list_aggregate(list_transform(range({_X5O_P * _X5O_P}),
         k -> CAST((doc_id * 31 + (((patch_row * {_X5O_P} + k // {_X5O_P}) * w
                + patch_col * {_X5O_P} + k % {_X5O_P}) * 3 + 0)) % 256 AS DOUBLE)),
         'avg'), 4) AS mean_r,
       round(list_aggregate(list_transform(range({_X5O_P * _X5O_P}),
         k -> CAST((doc_id * 31 + (((patch_row * {_X5O_P} + k // {_X5O_P}) * w
                + patch_col * {_X5O_P} + k % {_X5O_P}) * 3 + 1)) % 256 AS DOUBLE)),
         'avg'), 4) AS mean_g,
       round(list_aggregate(list_transform(range({_X5O_P * _X5O_P}),
         k -> CAST((doc_id * 31 + (((patch_row * {_X5O_P} + k // {_X5O_P}) * w
                + patch_col * {_X5O_P} + k % {_X5O_P}) * 3 + 2)) % 256 AS DOUBLE)),
         'avg'), 4) AS mean_b,
       'ok' AS decode_status
FROM grid
ORDER BY doc_id, patch_row, patch_col
"""


@register("x5o_image_patchify", oracle=_X5O_ORACLE, tags=("X5",))
def x5o_image_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per 2x2 image patch with per-channel means — the ViT
    patchify stage over the x5e PPM kernel (incomplete edges cropped,
    as ViT does). Every patch mean is oracle-predicted from the pixel
    formula; the kernel computes them with the single vectorized numpy
    reshape/mean a production patchifier uses. Malformed payloads emit
    a labeled decode_status sentinel row (patch_row = -1) rather than
    vanishing, so a decode regression is attributable — the oracle
    predicts every fixture image decodes, hence 'ok' everywhere."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id")
    payloads = docs.mapInPandas(encode_ppm_batch, "doc_id long, payload binary")
    return payloads.mapInPandas(patchify_ppm_batch, PATCH_SCHEMA)


# X5p — audio downsampling (decimate-by-2 with anti-alias averaging) -----------
#
# The resample step audio-training pipelines run before feature
# extraction (48k -> 16k etc.), at the codec-free kernel scale this
# fixture supports: halve the rate by averaging non-overlapping sample
# pairs (the simplest anti-aliasing FIR, box filter of width 2), odd
# tail sample dropped. The averaged value floors (floor((a+b)/2.0)) —
# floor of an exact small-integer double is bit-identical in numpy,
# Spark and DuckDB, unlike integer division whose negative-operand
# semantics differ between engines (Spark DIV truncates toward zero,
# Python // floors). Output pins the decimated signal exactly: the
# integer sample sum (order-free, exact) plus its RMS (sum of < 2^53
# integer squares is exact in double regardless of order).
#
# Scale shape: map-only Arrow pass over payloads (never shuffled, never
# on the driver); output is one stats row per clip.

DECIMATE_SCHEMA = (
    "doc_id long, n_samples_in long, n_samples_out long, "
    "out_sum long, out_rms double, decode_status string"
)


def decimate_wav_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        out = {k: [] for k in (
            "doc_id", "n_samples_in", "n_samples_out", "out_sum",
            "out_rms", "decode_status",
        )}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            try:
                _rate, _ch, _bits, samples = _parse_wav_pcm(bytes(payload))
                s = samples.astype(np.int64)
                k = s.size // 2
                dec = np.floor((s[0 : 2 * k : 2] + s[1 : 2 * k : 2]) / 2.0).astype(
                    np.int64
                )
                out["n_samples_in"].append(int(s.size))
                out["n_samples_out"].append(int(k))
                out["out_sum"].append(int(dec.sum()))
                out["out_rms"].append(
                    round(float(np.sqrt((dec.astype(np.float64) ** 2).mean())), 4)
                    if k
                    else 0.0
                )
                out["decode_status"].append("ok")
            except ValueError as exc:
                out["n_samples_in"].append(0)
                out["n_samples_out"].append(0)
                out["out_sum"].append(0)
                out["out_rms"].append(0.0)
                out["decode_status"].append(f"error: {exc}")
            out["doc_id"].append(doc_id)
        yield pd.DataFrame(out)


_X5P_ORACLE = """
WITH dims AS (
  SELECT doc_id, 160 + doc_id % 41 AS n FROM documents
),
pairs AS (
  SELECT d.doc_id, d.n,
         CAST(floor((((d.doc_id * 17 + (2 * g.i) * 7) % 4096 - 2048)
                   + ((d.doc_id * 17 + (2 * g.i + 1) * 7) % 4096 - 2048)) / 2.0)
              AS BIGINT) AS m
  FROM dims d, LATERAL (SELECT unnest(range(d.n // 2)) AS i) g
)
SELECT doc_id,
       CAST(max(n) AS BIGINT)           AS n_samples_in,
       CAST(count(*) AS BIGINT)         AS n_samples_out,
       CAST(sum(m) AS BIGINT)           AS out_sum,
       round(sqrt(avg(CAST(m AS DOUBLE) * m)), 4) AS out_rms,
       'ok'                             AS decode_status
FROM pairs
GROUP BY doc_id
ORDER BY doc_id
"""


@register("x5p_audio_decimate", oracle=_X5P_ORACLE, tags=("X5",))
def x5p_audio_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimate-by-2 resampling of the x5f WAV clips: pairwise box-filter
    averages (floored), odd tails dropped; every output is arithmetically
    predicted by the oracle (exact integer sum + exact-double RMS)."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id")
    payloads = docs.mapInPandas(encode_wav_batch, "doc_id long, payload binary")
    return payloads.mapInPandas(decimate_wav_batch, DECIMATE_SCHEMA).orderBy(
        "doc_id"
    )


# X5q — per-channel intensity histogram + entropy ------------------------------
#
# The image-statistics pass a multimodal curation pipeline runs right
# after decode (exposure/contrast screens, near-constant-image drops):
# per (image, channel), a 4-bin intensity histogram and its Shannon
# entropy. Runs over the x5e PPM kernel as a real Arrow decode pass
# (payloads never leave executors, one row per channel out); every bin
# count is oracle-predicted from the deterministic pixel formula, the
# x5o pattern. Malformed payloads emit the labeled decode_status
# sentinel row (channel = -1), the x5p/x5o contract. Entropy folds the
# ascending-bin -p*ln(p) terms in the same order in both engines.

_X5Q_BINS = 4  # intensity quartiles: value >> 6

_X5Q_SCHEMA = (
    "doc_id long, channel int, bin0 long, bin1 long, bin2 long, bin3 long, "
    "entropy double, decode_status string"
)


def histogram_ppm_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow pass: P6 payload -> per-channel 4-bin histogram + entropy."""
    import math

    import numpy as np

    for pdf in batches:
        rows = {k: [] for k in (
            "doc_id", "channel", "bin0", "bin1", "bin2", "bin3",
            "entropy", "decode_status",
        )}

        def emit(doc_id, ch, bins, ent, status):
            rows["doc_id"].append(doc_id)
            rows["channel"].append(ch)
            for b in range(_X5Q_BINS):
                rows[f"bin{b}"].append(int(bins[b]))
            rows["entropy"].append(ent)
            rows["decode_status"].append(status)

        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            try:
                w, h, raster = _parse_ppm_raster(bytes(payload))
            except ValueError as exc:
                emit(doc_id, -1, [0] * _X5Q_BINS, 0.0, f"error: {exc}")
                continue
            img = raster.reshape(h * w, 3)
            n = float(h * w)
            for ch in range(3):
                bins = np.bincount(img[:, ch] >> 6, minlength=_X5Q_BINS)
                ent = 0.0
                for c in bins:  # ascending-bin order, matching the oracle
                    if c:
                        p = c / n
                        ent += -p * math.log(p)
                emit(doc_id, ch, bins, round(ent, 4), "ok")
        yield pd.DataFrame(rows)


_X5Q_ORACLE = f"""
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 7 AS h FROM documents
),
ch AS (
  SELECT doc_id, w * h AS n, c.i AS channel
  FROM dims, LATERAL (SELECT unnest(range(3)) AS i) c
),
hist AS (
  SELECT doc_id, channel, n,
         list_transform(range({_X5Q_BINS}),
           b -> len(list_filter(range(n),
             p -> ((doc_id * 31 + (p * 3 + channel)) % 256) // 64 = b))) AS bins
  FROM ch
)
SELECT doc_id,
       CAST(channel AS INT) AS channel,
       CAST(bins[1] AS BIGINT) AS bin0,
       CAST(bins[2] AS BIGINT) AS bin1,
       CAST(bins[3] AS BIGINT) AS bin2,
       CAST(bins[4] AS BIGINT) AS bin3,
       round(list_aggregate(list_transform(list_filter(bins, x -> x > 0),
         x -> -(x / CAST(n AS DOUBLE)) * ln(x / CAST(n AS DOUBLE))), 'sum'), 4)
         AS entropy,
       'ok' AS decode_status
FROM hist
ORDER BY doc_id, channel
"""


@register("x5q_image_histogram", oracle=_X5Q_ORACLE, tags=("X5",))
def x5q_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (image, channel): 4-bin intensity histogram and Shannon
    entropy over the PPM kernel — the post-decode exposure/contrast
    screen, every count oracle-predicted from the pixel formula."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id")
    payloads = docs.mapInPandas(encode_ppm_batch, "doc_id long, payload binary")
    return payloads.mapInPandas(histogram_ppm_batch, _X5Q_SCHEMA)


# X5n2 — Hamming-ball audio near-dedup (banded multi-index, variable length) ---
#
# x5m2's audio twin, closing the same gap for x5n that x5m2 closed for
# x5m: exact fingerprint equality misses re-masters that flip a couple
# of energy comparisons (a remixed bar, a fade tweak), so audio
# near-dedup matches within Hamming distance <= d over the energy-shape
# fingerprint. x5n fingerprints are VARIABLE length (n//80 windows ->
# 29..39 comparison bits -> 4..5 bytes), so the multi-index bands are
# the fingerprint's BYTES and the byte length is part of the band
# key — clips with different window counts are different-duration
# content and are never near-duplicates by construction. Pigeonhole:
# 4 (resp. 5) byte-bands make the band pairs complete for distance <= 3
# (resp. <= 4); d = 2 sits strictly inside both.
#
# True positives planted at the AUDIO level: for each gain-1 group
# representative (doc_id % 5 == 0), a variant clip doubles the samples
# of ONE deterministic window k — only e_k changes (windows are
# disjoint), which feeds exactly the two adjacent comparisons (k-1, k),
# so hamming(base, variant) <= 2 is a THEOREM (pytest-pinned; no
# clipping: amplitudes stay <= 400 << 32767). d = 2 therefore catches
# every plant that does not collapse into its base's exact cluster.
#
# Scale shape: exact-duplicate collapse FIRST (the x5n hash-agg — the
# 5 gain-variants per seed collapse before any pairing), then
# bucket_pairs runs over distinct fingerprints only; hamming is an
# integer fold over the zipped byte arrays (exact under any order). No
# all-pairs stage (plan-gated).

_X5N2_OFFSET = 1_000_000_000
_X5N2_MAX_DIST = 2


def _x5n2_variant_bytes(doc_id: int) -> bytes:
    """The planted near-duplicate: the gain-1 base clip with one
    deterministic window's samples doubled (energy x4) — at most the
    two comparisons reading that window flip."""
    seed = (doc_id // 5) * 5  # callers pass doc_id % 5 == 0 -> gain 1
    vals = _wav_base_vals(seed)
    n_win = len(vals) // _X5N_WIN
    k = seed % (n_win - 1)
    for i in range(k * _X5N_WIN, (k + 1) * _X5N_WIN):
        vals[i] *= 2
    return _pack_wav(vals)


def _x5n2_variant_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"] + _X5N2_OFFSET,
                "payload": pdf["doc_id"].map(_x5n2_variant_bytes),
            }
        )


_X5N2_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id AS clip_id, (doc_id // 5) * 5 AS seed, 1 + doc_id % 5 AS gain,
         0 AS pert
  FROM documents
  UNION ALL
  SELECT doc_id + {_X5N2_OFFSET}, doc_id, 1, 1
  FROM documents WHERE doc_id % 5 = 0
),
dims AS (
  SELECT clip_id, seed, gain, pert,
         2400 + seed % 801 AS n,
         (2400 + seed % 801) // {_X5N_WIN} AS n_win
  FROM corpus
),
s AS (
  SELECT d.clip_id, g.i // {_X5N_WIN} AS w,
         (((d.seed * 17 + g.i * 7) % 400) - 200) * d.gain
         * (CASE WHEN d.pert = 1
                  AND g.i // {_X5N_WIN} = d.seed % (d.n_win - 1)
             THEN 2 ELSE 1 END) AS v
  FROM dims d,
       LATERAL (SELECT unnest(range((d.n // {_X5N_WIN}) * {_X5N_WIN})) AS i) g
),
e AS (
  SELECT clip_id, w, sum(CAST(v AS BIGINT) * v) AS energy
  FROM s GROUP BY clip_id, w
),
bits AS (
  SELECT a.clip_id, a.w AS j,
         CASE WHEN a.energy > b.energy THEN 1 ELSE 0 END AS bit
  FROM e a JOIN e b ON a.clip_id = b.clip_id AND b.w = a.w + 1
),
bytes AS (
  SELECT clip_id, j // 8 AS byte_idx,
         CAST(sum(bit * (1 << (j % 8))) AS BIGINT) AS byte
  FROM bits GROUP BY clip_id, j // 8
),
fps AS (
  SELECT clip_id,
         string_agg(lpad(lower(hex(byte)), 2, '0'), '' ORDER BY byte_idx)
           AS fingerprint,
         list(byte ORDER BY byte_idx) AS fp_bytes
  FROM bytes GROUP BY clip_id
),
dfp AS (
  SELECT fingerprint,
         CAST(count(*) AS BIGINT) AS n_clips,
         CAST(min(clip_id) AS BIGINT) AS rep_id,
         min(fp_bytes) AS fp_bytes,
         CAST(len(min(fp_bytes)) AS INT) AS fp_len
  FROM fps GROUP BY fingerprint
),
bands AS (
  SELECT fingerprint, n_clips, rep_id, fp_bytes, fp_len,
         u.i AS band_idx, fp_bytes[u.i + 1] AS band_val
  FROM dfp, LATERAL (SELECT unnest(range(fp_len)) AS i) u
),
cand AS (
  SELECT DISTINCT
         a.fingerprint AS a_fp, b.fingerprint AS b_fp,
         a.n_clips AS a_clips, b.n_clips AS b_clips,
         a.rep_id AS a_rep, b.rep_id AS b_rep,
         list_aggregate(
           list_transform(list_zip(a.fp_bytes, b.fp_bytes),
                          p -> bit_count(xor(p[1], p[2]))), 'sum') AS hd
  FROM bands a
  JOIN bands b
    ON a.fp_len = b.fp_len AND a.band_idx = b.band_idx
   AND a.band_val = b.band_val AND a.fingerprint < b.fingerprint
)
SELECT a_fp, b_fp, CAST(hd AS BIGINT) AS hamming_dist,
       a_clips, b_clips, a_rep, b_rep
FROM cand
WHERE hd <= {_X5N2_MAX_DIST}
ORDER BY a_fp, b_fp
"""


@register(
    "x5n2_hamming_audio_near_dedup", oracle=_X5N2_ORACLE, tags=("X5", "X2")
)
def x5n2_hamming_audio_near_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hamming-ball near-duplicate audio pairs over real WAV payloads +
    planted one-window-doubled variants: collapse exact fingerprints,
    band by byte with the byte length in the join key, verify with an
    integer bit_count fold; keep pairs within distance 2."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id")
    base = docs.mapInPandas(
        encode_wav_grouped_batch, "doc_id long, payload binary"
    )
    reps = docs.filter(F.col("doc_id") % 5 == 0)
    variants = reps.mapInPandas(
        _x5n2_variant_batch, "doc_id long, payload binary"
    )
    fps = (
        base.unionByName(variants)
        .mapInPandas(audio_fingerprint_batch, AUDIO_FP_SCHEMA)
        .filter(F.col("fp_status") == "ok")
    )
    dfp = (
        fps.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.min("doc_id").alias("rep_id"),
        )
        .select(
            "fingerprint",
            "n_clips",
            "rep_id",
            (F.length("fingerprint") / 2).cast("int").alias("fp_len"),
            F.expr(
                "transform(sequence(1, length(fingerprint) div 2),"
                " i -> CAST(conv(substring(fingerprint, 2*i - 1, 2), 16, 10)"
                " AS BIGINT))"
            ).alias("fp_bytes"),
        )
    )
    bands = dfp.select(
        "fingerprint",
        "n_clips",
        "rep_id",
        "fp_bytes",
        "fp_len",
        F.posexplode("fp_bytes").alias("band_idx0", "band_val"),
    )
    pairs = bucket_pairs(
        bands,
        "fingerprint",
        ["fp_len", "band_idx0", "band_val"],
        "x5n2",
        payload=("n_clips", "rep_id", "fp_bytes"),
        fields=lambda a, b: f"""
            'a_clips', {a}.n_clips, 'b_clips', {b}.n_clips,
            'a_rep', {a}.rep_id, 'b_rep', {b}.rep_id,
            'hamming_dist', aggregate(zip_with({a}.fp_bytes, {b}.fp_bytes,
                                (x, y) -> CAST(bit_count(x ^ y) AS BIGINT)),
                            CAST(0 AS BIGINT), (acc, v) -> acc + v)""",
        # filter before the dedup (same rationale as x5m2): the dedup
        # exchange carries only in-ball pairs
        where=F.col("hamming_dist") <= _X5N2_MAX_DIST,
    )
    return pairs.select(
        F.col("id_a").alias("a_fp"),
        F.col("id_b").alias("b_fp"),
        "hamming_dist", "a_clips", "b_clips", "a_rep", "b_rep",
    ).orderBy("a_fp", "b_fp")


# X5r — video near-dedup: Hamming over per-frame dHashes -----------------------
#
# The clip-level composition the x5 family builds toward: re-encoded
# copies of a video differ byte-wise but their SAMPLED FRAMES stay
# perceptually close, so video dedup fingerprints each sampled frame
# (x5h's demux walk -> x5m's dHash, both composed verbatim) and calls
# two clips near-duplicates when every frame position matches within
# Hamming distance <= d. The corpus plants true re-encodes: for each
# doc's multi-frame container, a variant clip re-encodes every frame
# through the x5m2 one-pixel perturbation wherever that frame's image
# is collision-free (the x5m2 eligibility law, per frame seed), so
# per-position hamming(base, variant) <= 2 is the SAME theorem x5m2
# pins, applied frame-wise — and a variant whose sampled frames all
# escape perturbation collapses into its base's exact-fingerprint
# cluster instead (both outcomes pytest-pinned).
#
# Scale shape: demux + per-frame hashing is one Arrow map pass per clip
# (bytes never leave the kernel); exact-fingerprint collapse FIRST
# (the x5m2 posture), then dedup.bucket_pairs runs over DISTINCT clip
# fingerprints keyed (n_sampled, frame pos, band_idx, band_val) — by
# pigeonhole a frame pair within d <= 3 shares a band, so ANY matching
# position surfaces the candidate; the verify zips the two distinct
# fingerprints' frame dhashes and demands EVERY position within
# _X5R_MAX_DIST. No all-pairs stage exists (plan-gated).

_X5R_OFFSET = _X5M2_OFFSET
_X5R_MAX_DIST = _X5M2_MAX_DIST

X5R_FRAME_SCHEMA = "clip_id long, n_sampled int, pos int, dhash string"


def _x5r_variant_video_bytes(doc_id: int) -> bytes:
    """The planted re-encoded clip: every frame whose image seed is
    x5m2-eligible (collision-free resample: seed % 7 >= 4 AND
    seed % 13 >= 5) is replaced by its one-pixel perturbed variant;
    ineligible frames pass through byte-identical."""
    n_frames = 2 + doc_id % 4
    out = []
    for f in range(n_frames):
        s = doc_id + f
        if s % 7 >= 4 and s % 13 >= 5:
            out.append(_x5m2_variant_bytes(s))
        else:
            out.append(_ppm_bytes(s))
    return b"".join(out)


def _x5r_clip_frame_hash_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Demux each clip container (the shared _walk_ppm_frames site —
    the same walk x5h samples with), dHash every 2nd
    frame (the shared _dhash_hex_from_raster site), for the base AND
    the planted variant clip. The containers are generated in-process
    and deterministic, so a malformed frame is a can't-happen bug —
    raising loudly is the correct posture, not an error row."""
    import numpy as np

    for pdf in batches:
        out = {"clip_id": [], "n_sampled": [], "pos": [], "dhash": []}
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            for clip_id, buf in (
                (d, _ppm_video_bytes(d)),
                (d + _X5R_OFFSET, _x5r_variant_video_bytes(d)),
            ):
                hashes = []
                for idx, w, h, raster_bytes in _walk_ppm_frames(buf):
                    if idx % 2 == 0:
                        raster = np.frombuffer(raster_bytes, dtype=np.uint8)
                        hashes.append(_dhash_hex_from_raster(w, h, raster))
                for p, hx in enumerate(hashes):
                    out["clip_id"].append(clip_id)
                    out["n_sampled"].append(len(hashes))
                    out["pos"].append(p)
                    out["dhash"].append(hx)
        yield pd.DataFrame(out)


_X5R_ORACLE = f"""
WITH clips AS (
  SELECT doc_id AS clip_id, doc_id AS src_doc, 0 AS pert_clip
  FROM documents WHERE doc_id % 4 >= 1 AND doc_id < 500
  UNION ALL
  SELECT doc_id + {_X5R_OFFSET} AS clip_id, doc_id AS src_doc, 1 AS pert_clip
  FROM documents WHERE doc_id % 4 >= 1 AND doc_id < 500
),
frames AS (
  SELECT c.clip_id, c.src_doc + f.i AS seed, f.i // 2 AS pos, c.pert_clip
  FROM clips c,
       LATERAL (SELECT unnest(range(2 + c.src_doc % 4)) AS i) f
  WHERE f.i % 2 = 0
),
dims AS (
  SELECT clip_id * 8 + pos AS img_id,
         seed AS src_doc,
         CASE WHEN pert_clip = 1 AND seed % 7 >= 4 AND seed % 13 >= 5
              THEN 1 ELSE 0 END AS pert,
         4 + seed % 13 AS w, 4 + seed % 7 AS h
  FROM frames
),
{_PPM_HASH_CTES},
fr AS (
  SELECT img_id // 8 AS clip_id, img_id % 8 AS pos, dhash, b0, b1, b2, b3
  FROM hb
),
nf AS (
  SELECT clip_id, CAST(count(*) AS BIGINT) AS n_sampled FROM fr GROUP BY 1
),
fp AS (
  SELECT f.clip_id, n.n_sampled,
         string_agg(f.dhash, '|' ORDER BY f.pos) AS fp
  FROM fr f JOIN nf n USING (clip_id)
  GROUP BY f.clip_id, n.n_sampled
),
grp AS (
  SELECT n_sampled, fp,
         CAST(count(*) AS BIGINT) AS n_clips,
         CAST(min(clip_id) AS BIGINT) AS rep_id
  FROM fp GROUP BY 1, 2
),
pp AS (
  SELECT g.fp, g.n_sampled, f.pos, f.b0, f.b1, f.b2, f.b3
  FROM grp g JOIN fr f ON f.clip_id = g.rep_id
),
bands AS (
  SELECT pp.fp, pp.n_sampled, pp.pos, u.i AS band_idx,
         CASE u.i WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END
           AS band_val
  FROM pp, LATERAL (SELECT unnest(range({_X5M2_BANDS})) AS i) u
),
cand AS (
  SELECT DISTINCT a.fp AS a_fp, b.fp AS b_fp, a.n_sampled AS n_sampled
  FROM bands a
  JOIN bands b
    ON a.n_sampled = b.n_sampled AND a.pos = b.pos
   AND a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.fp < b.fp
),
perpos AS (
  SELECT c.a_fp, c.b_fp, c.n_sampled, pa.pos,
         bit_count(xor(pa.b0, pb.b0)) + bit_count(xor(pa.b1, pb.b1))
       + bit_count(xor(pa.b2, pb.b2)) + bit_count(xor(pa.b3, pb.b3)) AS hd
  FROM cand c
  JOIN pp pa ON pa.fp = c.a_fp AND pa.n_sampled = c.n_sampled
  JOIN pp pb ON pb.fp = c.b_fp AND pb.n_sampled = c.n_sampled
            AND pb.pos = pa.pos
),
agg AS (
  SELECT a_fp, b_fp, n_sampled,
         CAST(max(hd) AS BIGINT) AS max_frame_hd,
         sum(CASE WHEN hd <= {_X5R_MAX_DIST} THEN 1 ELSE 0 END) AS n_within,
         count(*) AS n_pos
  FROM perpos GROUP BY 1, 2, 3
)
SELECT agg.a_fp, agg.b_fp,
       CAST(agg.n_sampled AS BIGINT) AS n_frames,
       agg.max_frame_hd,
       ga.n_clips AS a_clips, ga.rep_id AS a_rep,
       gb.n_clips AS b_clips, gb.rep_id AS b_rep
FROM agg
JOIN grp ga ON ga.fp = agg.a_fp AND ga.n_sampled = agg.n_sampled
JOIN grp gb ON gb.fp = agg.b_fp AND gb.n_sampled = agg.n_sampled
WHERE agg.n_within = agg.n_pos
ORDER BY agg.a_fp, agg.b_fp
"""


@register("x5r_video_near_dedup", oracle=_X5R_ORACLE, tags=("X5", "X2"))
def x5r_video_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip-level video near-duplicate pairs: demux each (base +
    planted re-encoded) clip, dHash every 2nd frame, collapse exact
    clip fingerprints, pair them by bucket per (n_sampled, frame pos,
    band) over distinct fingerprints, and keep pairs where EVERY frame
    position is within Hamming distance _X5R_MAX_DIST (= 2, the
    per-frame x5m2 displacement theorem). Restricted to genuinely multi-frame clips
    (doc_id % 4 >= 1 -> >= 3 frames -> >= 2 sampled positions): a
    single-sampled-frame "clip" degenerates to x5m2's image matching
    and its band buckets pair-explode on this formulaic fixture — and
    to the x2g doc slice (doc_id < 500: the whole corpus at sf0.01)
    so the DuckDB twin's 72-cell lateral stays cheap; the Spark side's
    shape is the 100 TB one."""
    docs = (
        Catalog(spark, sf_dir)
        .documents.filter((F.col("doc_id") % 4 >= 1) & (F.col("doc_id") < 500))
        .select("doc_id")
    )
    rows = docs.mapInPandas(_x5r_clip_frame_hash_batch, X5R_FRAME_SCHEMA)
    fp = rows.groupBy("clip_id", "n_sampled").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "dhash"))),
                lambda s: s["dhash"],
            ),
            "|",
        ).alias("fp")
    )
    grp = fp.groupBy("n_sampled", "fp").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.min("clip_id").alias("rep_id"),
    )
    # a fingerprint spells out its frames' dhashes in position order, so
    # the per-position bands come from it, and so does the verify
    band_vals = [
        F.conv(F.substring("dhash", 1 + 4 * i, 4), 16, 10).cast("long")
        for i in range(_X5M2_BANDS)
    ]
    bands = grp.select(
        "fp",
        "n_sampled",
        "n_clips",
        "rep_id",
        F.posexplode(F.split("fp", "[|]")).alias("pos", "dhash"),
    ).select(
        "fp", "n_sampled", "n_clips", "rep_id", "pos",
        F.posexplode(F.array(*band_vals)).alias("band_idx", "band_val"),
    )

    pairs = bucket_pairs(
        bands,
        "fp",
        ["n_sampled", "pos", "band_idx", "band_val"],
        "x5r",
        payload=("n_sampled", "n_clips", "rep_id"),
    )
    frame_hd = " + ".join(
        f"CAST(bit_count(CAST(conv(substring(x, {1 + 4 * i}, 4), 16, 10) AS BIGINT)"
        f" ^ CAST(conv(substring(y, {1 + 4 * i}, 4), 16, 10) AS BIGINT)) AS BIGINT)"
        for i in range(_X5M2_BANDS)
    )
    max_hd = F.expr(
        "array_max(zip_with(split(id_a, '[|]'), split(id_b, '[|]'),"
        f" (x, y) -> {frame_hd}))"
    )
    return pairs.select(
        F.col("id_a").alias("a_fp"),
        F.col("id_b").alias("b_fp"),
        F.col("n_sampled_a").cast("long").alias("n_frames"),
        max_hd.alias("max_frame_hd"),
        F.col("n_clips_a").alias("a_clips"),
        F.col("rep_id_a").alias("a_rep"),
        F.col("n_clips_b").alias("b_clips"),
        F.col("rep_id_b").alias("b_rep"),
    ).filter(F.col("max_frame_hd") <= _X5R_MAX_DIST).orderBy("a_fp", "b_fp")


# X5s — keyframe selection over the x5k scene-change profile -------------------
#
# The pass AFTER cut detection in a video curation pipeline: from each
# clip's per-frame scene-change scores, keep the top-K highest-change
# frames as the clip's representative keyframes (what a captioning or
# embedding stage actually consumes — you never embed every frame of
# 100 TB of video). Composes the registered x5k operator verbatim: the
# scores this ranks are the SAME rounded values both engines already
# agree on (x5k is full-oracle), so ranking them adds a window, not new
# float arithmetic — ties break on the earlier frame, the conventional
# "first cut wins" rule.
#
# Scale shape: x5k's one demux+score mapInPandas pass, then a
# clip-partitioned rank window (bounded rows per clip: frames-1) and a
# clip-keyed count agg. The window input is frames-per-clip rows, never
# pixels; no join touches anything corpus-sized.

_X5S_TOPK = 2

_X5S_ORACLE = f"""
WITH k AS ({_X5K_ORACLE}),
n AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored_frames
  FROM k WHERE scene_status = 'ok' GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, frame_idx, mean_abs_diff,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY mean_abs_diff DESC, frame_idx
         ) AS rnk
  FROM k WHERE scene_status = 'ok'
)
SELECT r.doc_id, CAST(r.rnk AS INT) AS rnk, r.frame_idx, r.mean_abs_diff,
       n.n_scored_frames
FROM ranked r JOIN n USING (doc_id)
WHERE r.rnk <= {_X5S_TOPK}
ORDER BY r.doc_id, r.rnk
"""


@register("x5s_keyframe_select", oracle=_X5S_ORACLE, tags=("X5",))
def x5s_keyframe_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K keyframes per clip: rank each clip's x5k scene-change
    scores descending (earlier frame wins ties) and keep the K
    highest-change frames plus the clip's scored-frame count. The
    scores pass through x5k untouched — no new float arithmetic — so
    the oracle is x5k's own CTE plus the identical rank window."""
    from pyspark.sql import Window as W

    scored = x5k_scene_change(spark, sf_dir).filter(
        F.col("scene_status") == "ok"
    )
    n = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored_frames")
    )
    w = W.partitionBy("doc_id").orderBy(
        F.col("mean_abs_diff").desc(), "frame_idx"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _X5S_TOPK)
        .join(n, "doc_id")
        .select(
            "doc_id",
            F.col("rnk").cast("int").alias("rnk"),
            "frame_idx",
            "mean_abs_diff",
            "n_scored_frames",
        )
        .orderBy("doc_id", "rnk")
    )


# X5t — audio gain normalization plan over the x5i energy profile --------------
#
# The loudness-leveling pass an audio curation pipeline runs before
# training: from each clip's windowed RMS profile, derive the gain that
# brings its PEAK window to the target level, capped at a maximum boost
# so near-silent clips aren't amplified into noise. Composes the
# registered x5i operator verbatim: every rms this reads is the same
# rounded value both engines already agree on, so the plan adds
# aggregates and ONE double division (floored to integer micro-units,
# the repo's cross-engine law) — no new float accumulates across rows.
#
# Scale shape: x5i's one encode+profile mapInPandas pass, then a
# doc-keyed hash-agg (map-combined) and a width-1 projection. No
# windows, no joins; the gain table is clips-sized, never samples-sized.

_X5T_TARGET_RMS = "1000.0"  # PCM-unit peak-window target level
_X5T_MAX_GAIN_MICRO = 20_000_000  # cap: never boost more than 20x

# single-site gain law, shared verbatim by both engines
_X5T_GAIN = (
    f"CAST(floor(1000000 * {_X5T_TARGET_RMS} / peak_rms) AS BIGINT)"
)

_X5T_ORACLE = f"""
WITH p AS ({_X5I_ORACLE}),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT)  AS n_windows,
         max(rms)                  AS peak_rms,
         CAST(sum(CASE WHEN rms < 100.0 THEN 1 ELSE 0 END) AS BIGINT)
                                   AS quiet_windows
  FROM p WHERE profile_status = 'ok'
  GROUP BY doc_id
)
SELECT doc_id, n_windows, peak_rms, quiet_windows,
       CAST(least({_X5T_GAIN}, {_X5T_MAX_GAIN_MICRO}) AS BIGINT)
         AS gain_micro,
       ({_X5T_GAIN} > {_X5T_MAX_GAIN_MICRO}) AS limited
FROM agg
WHERE peak_rms > 0
ORDER BY doc_id
"""


@register("x5t_audio_gain_normalize", oracle=_X5T_ORACLE, tags=("X5",))
def x5t_audio_gain_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip gain normalization plan: the micro-unit gain that lifts
    the clip's peak x5i RMS window to the target level, capped at the
    maximum boost (near-silent clips flag `limited` instead of blowing
    up). The gain law is ONE shared f-string evaluated by both engines
    over rms values x5i already pins, so the match is bitwise."""
    prof = x5i_audio_rms_profile(spark, sf_dir).filter(
        F.col("profile_status") == "ok"
    )
    agg = prof.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.max("rms").alias("peak_rms"),
        F.sum((F.col("rms") < 100.0).cast("int"))
        .cast("long")
        .alias("quiet_windows"),
    )
    return (
        agg.filter(F.col("peak_rms") > 0)
        .select(
            "doc_id",
            "n_windows",
            "peak_rms",
            "quiet_windows",
            F.least(
                F.expr(_X5T_GAIN), F.lit(_X5T_MAX_GAIN_MICRO)
            )
            .cast("long")
            .alias("gain_micro"),
            (F.expr(_X5T_GAIN) > _X5T_MAX_GAIN_MICRO).alias("limited"),
        )
        .orderBy("doc_id")
    )


# X5u — shot segmentation over the x5k scene-change profile --------------------
#
# The step after scene-change SCORING: split each clip into SHOTS. A
# frame opens a new shot when its x5k mean-abs-diff exceeds 1.1x the
# clip's own mean — a data-derived threshold, decided by pure BIGINT
# cross-multiplication over the 4dp-integerized scores (DEN * n * d4 >
# NUM * sum_d4; no float ever crosses the comparison), so the cut roster
# is bitwise cross-engine. Shot ids are the w15 gaps-and-islands idiom:
# a running sum of cut flags over the frame order (frame 0, which x5k
# never scores, anchors shot 0 with a planted zero row). Composes the
# registered x5k operator verbatim — scores both engines already agree
# on — so segmentation adds one clip-partitioned window and one
# (clip, shot) aggregate, never a second demux.
#
# Scale shape: x5k's bounded-output contract (frames-per-clip rows, no
# pixels) feeds a window partitioned by clip — bounded state — and the
# final hash-agg shuffles one row per (clip, shot). At 100 TB of video
# the only heavy pass remains x5k's single demux.

_X5U_NUM = 11   # cut iff d4 > (NUM/DEN) x clip mean: 1.1x
_X5U_DEN = 10

# single-site cut law, interpolated into BOTH engines (columns d4 = the
# integerized score, s = clip sum, c = clip count)
_X5U_CUT_CASE = (
    f"CASE WHEN {_X5U_DEN} * c * d4 > {_X5U_NUM} * s THEN 1 ELSE 0 END"
)

_X5U_ORACLE = f"""
WITH k AS ({_X5K_ORACLE}),
i4 AS (
  SELECT doc_id, frame_idx,
         CAST(round(mean_abs_diff * 10000) AS BIGINT) AS d4
  FROM k WHERE scene_status = 'ok'
),
tot AS (
  SELECT doc_id, CAST(sum(d4) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS c
  FROM i4 GROUP BY doc_id
),
cuts AS (
  SELECT i4.doc_id, i4.frame_idx, {_X5U_CUT_CASE} AS cut
  FROM i4 JOIN tot USING (doc_id)
),
roster AS (
  SELECT DISTINCT doc_id, 0 AS frame_idx, 0 AS cut FROM i4
  UNION ALL
  SELECT doc_id, frame_idx, cut FROM cuts
),
shots AS (
  SELECT doc_id, frame_idx,
         sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS shot_id
  FROM roster
)
SELECT doc_id,
       CAST(shot_id AS BIGINT)    AS shot_id,
       CAST(min(frame_idx) AS INT) AS start_frame,
       CAST(max(frame_idx) AS INT) AS end_frame,
       CAST(count(*) AS BIGINT)   AS n_frames
FROM shots
GROUP BY doc_id, shot_id
ORDER BY doc_id, shot_id
"""


@register("x5u_shot_segmentation", oracle=_X5U_ORACLE, tags=("X5",))
def x5u_shot_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each clip into shots: a frame opens a new shot when its
    x5k scene-change score exceeds 1.1x the clip mean (BIGINT
    cross-multiplied over 4dp-integerized scores — the cut roster is
    exact in both engines), shot ids by running cut-flag sum over the
    frame order, one output row per (clip, shot) with its frame span.
    Composes the registered x5k scores verbatim.

    Coverage contract (since r16, closing an r15 advisory): the
    planted shot-0 anchor row exists only for clips with at least one
    ok-scored x5k frame — non-video docs and all-error clips emit NO
    shots rather than a phantom 1-frame shot. Frames whose x5k row is
    not 'ok' are absent from shot spans: n_frames counts scored frames
    only, and a start..end span may straddle unscored frame indices."""
    from pyspark.sql import Window as W

    k = x5k_scene_change(spark, sf_dir).filter(
        F.col("scene_status") == "ok"
    )
    i4 = k.select(
        "doc_id", "frame_idx",
        F.expr("CAST(round(mean_abs_diff * 10000) AS BIGINT)").alias("d4"),
    )
    tot = i4.groupBy("doc_id").agg(
        F.sum("d4").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    cuts = i4.join(tot, "doc_id").select(
        "doc_id", "frame_idx", F.expr(_X5U_CUT_CASE).alias("cut")
    )
    roster = i4.select("doc_id").distinct().select(
        "doc_id", F.lit(0).alias("frame_idx"), F.lit(0).alias("cut")
    ).unionByName(cuts)
    w = W.partitionBy("doc_id").orderBy("frame_idx")
    shots = roster.withColumn("shot_id", F.sum("cut").over(w))
    return (
        shots.groupBy("doc_id", "shot_id")
        .agg(
            F.min("frame_idx").cast("int").alias("start_frame"),
            F.max("frame_idx").cast("int").alias("end_frame"),
            F.count(F.lit(1)).cast("long").alias("n_frames"),
        )
        .select(
            "doc_id", F.col("shot_id").cast("long").alias("shot_id"),
            "start_frame", "end_frame", "n_frames",
        )
        .orderBy("doc_id", "shot_id")
    )
