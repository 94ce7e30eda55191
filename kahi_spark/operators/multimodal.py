"""Multimodal columns: image/audio/video as opaque ``binary`` with
typed metadata, decoded by a container-header parse.

``decode_image_batch`` reads each payload's container header in a
pure-Python ``mapInPandas`` pass (no codec libraries):

* PNG  — IHDR width/height
* BMP  — BITMAPINFOHEADER width/|height| (top-down BMPs store it negative)
* GIF  — logical screen width/height
* WAV  — (sample_rate, n_channels) from the ``fmt `` chunk
* MP4  — track width/height from the ``moov/trak/tkhd`` box walk

and emits (n_bytes, width, height, crc32 checksum) per asset; an
unknown or truncated container keeps its byte count with NULL dims.
``make_real_assets``/``expected_real_assets`` build deterministic
payloads with genuine headers and their construction-time ground
truth (the ``multimodal_decode`` query and its oracle).

Scale notes: binary payloads make rows wide — ``mapInPandas`` with a
bounded ``spark.sql.execution.arrow.maxRecordsPerBatch`` keeps Arrow
batches in memory; repartition by asset_id before heavy decode so
tasks are balanced by payload count, not by file layout.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),  # opaque bytes
        T.StructField("mime", T.StringType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("checksum", T.LongType(), True),
    ]
)


def _parse_header(payload: bytes | None) -> tuple[int | None, int | None, int | None]:
    """Real container-header parse, pure Python (no external libs).

    Returns (n_bytes, width, height):
    * PNG  — IHDR width/height, big-endian at offsets 16/20
    * BMP  — BITMAPINFOHEADER width/|height|, little-endian at 18/22
      (a negative height marks a top-down row order, not a size)
    * GIF  — logical screen width/height, little-endian at 6/8
    * WAV  — (sample_rate, n_channels) as the dimensional analogue
    * MP4  — tkhd track width/height (``_mp4_dims``)
    * unknown or truncated container → (n_bytes, NULL, NULL)
    """
    if payload is None:
        return None, None, None
    b = bytes(payload)
    n = len(b)
    if b[:8] == b"\x89PNG\r\n\x1a\n" and n >= 24:
        # require IHDR actually at offset 8 (spec-mandated first
        # chunk; non-standard layouts like Apple CgBI would otherwise
        # read garbage dims)
        if b[12:16] != b"IHDR":
            return n, None, None
        return n, int.from_bytes(b[16:20], "big"), int.from_bytes(b[20:24], "big")
    if b[:2] == b"BM" and n >= 26:
        return (
            n,
            int.from_bytes(b[18:22], "little"),
            abs(int.from_bytes(b[22:26], "little", signed=True)),
        )
    if b[:4] == b"GIF8" and n >= 10:
        return n, int.from_bytes(b[6:8], "little"), int.from_bytes(b[8:10], "little")
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE" and n >= 28:
        # walk RIFF chunks to the actual 'fmt ' chunk instead of
        # assuming it sits at offset 12 — real-world WAVs often lead
        # with JUNK/LIST/bext padding chunks
        pos = 12
        while pos + 8 <= n:
            cid = b[pos : pos + 4]
            csz = int.from_bytes(b[pos + 4 : pos + 8], "little")
            if cid == b"fmt " and pos + 16 <= n:
                channels = int.from_bytes(b[pos + 10 : pos + 12], "little")
                sample_rate = int.from_bytes(b[pos + 12 : pos + 16], "little")
                return n, sample_rate, channels
            pos += 8 + csz + (csz & 1)  # chunks are word-aligned
        return n, None, None
    if n >= 12 and b[4:8] == b"ftyp":  # ISO BMFF (MP4/MOV)
        w, h = _mp4_dims(b)
        return n, w, h
    return n, None, None


def _bmff_find(
    b: bytes, start: int, end: int, path: list[bytes]
) -> tuple[int, int] | None:
    """ISO-BMFF box walk along ``path``. Handles the spec's size
    conventions (aborting on these missed ``moov`` in real files where
    ``mdat`` precedes it): size==1 → 64-bit largesize follows the type
    (standard for >4 GiB or streaming-written files); size==0 → box
    runs to the end of the enclosing span (legal for the last
    top-level box)."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(b[pos : pos + 4], "big")
        typ = b[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                return None
            size = int.from_bytes(b[pos + 8 : pos + 16], "big")
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr:
            return None
        if typ == path[0]:
            inner = (pos + hdr, min(pos + size, end))
            if len(path) == 1:
                return inner
            hit = _bmff_find(b, inner[0], inner[1], path[1:])
            if hit:
                return hit
        pos += size
    return None


def _mp4_dims(b: bytes) -> tuple[int | None, int | None]:
    """Real ISO-BMFF box walk: ``moov`` → ``trak`` → ``tkhd``; track
    width/height are the last 8 bytes of the tkhd payload as 16.16
    fixed-point (same position for tkhd v0 and v1). Pure Python —
    the container-level analogue of the RIFF chunk walk."""
    span = _bmff_find(b, 0, len(b), [b"moov", b"trak", b"tkhd"])
    if span is None or span[1] - span[0] < 84:
        return None, None
    _, e = span
    return (
        int.from_bytes(b[e - 8 : e - 4], "big") >> 16,
        int.from_bytes(b[e - 4 : e], "big") >> 16,
    )


def decode_image_batch(df: DataFrame) -> DataFrame:
    """payload → (n_bytes, width, height, checksum) via mapInPandas.

    Arrow-batched; one Python worker pass over each partition, parsing
    each payload's container header (``_parse_header`` —
    PNG/BMP/GIF/WAV/MP4)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nb, ws, hs, cks = [], [], [], []
            for payload in pdf["payload"]:
                n, w, h = _parse_header(payload)
                nb.append(n)
                ws.append(w)
                hs.append(h)
                cks.append(
                    None if payload is None else zlib.crc32(bytes(payload)) & 0x7FFFFFFF
                )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pd.array(nb, dtype="Int32"),
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "checksum": pd.array(cks, dtype="Int64"),
                }
            )

    return df.mapInPandas(decode, schema=FEATURE_SCHEMA)


def _png_bytes(w: int, h: int) -> bytes:
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + b"\x08\x02\x00\x00\x00"
    return (
        b"\x89PNG\r\n\x1a\n"
        + len(ihdr).to_bytes(4, "big")
        + b"IHDR"
        + ihdr
        + zlib.crc32(b"IHDR" + ihdr).to_bytes(4, "big")
    )


def _bmp_bytes(w: int, h: int) -> bytes:
    info = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + bytes(24)
    )
    header = b"BM" + (14 + len(info)).to_bytes(4, "little") + bytes(4) + (54).to_bytes(4, "little")
    return header + info


def _gif_bytes(w: int, h: int) -> bytes:
    return b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little") + bytes(4)


def _wav_bytes(sample_rate: int, channels: int, samples: list[int] | None = None) -> bytes:
    fmt = (
        (1).to_bytes(2, "little")
        + channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * channels * 2).to_bytes(4, "little")
        + (channels * 2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    body = b"WAVEfmt " + len(fmt).to_bytes(4, "little") + fmt
    if samples:
        pcm = b"".join(s.to_bytes(2, "little", signed=True) for s in samples)
        body += b"data" + len(pcm).to_bytes(4, "little") + pcm
    return b"RIFF" + (4 + len(body)).to_bytes(4, "little") + body


def _box(typ: bytes, payload: bytes) -> bytes:
    return (8 + len(payload)).to_bytes(4, "big") + typ + payload


def _tkhd_bytes(w: int, h: int, duration: int) -> bytes:
    """tkhd v0 payload: unity matrix, 16.16 fixed-point track dims."""
    tkhd = bytes(4)  # version 0 + flags
    tkhd += bytes(8)  # ctime, mtime
    tkhd += (1).to_bytes(4, "big") + bytes(4) + duration.to_bytes(4, "big")
    tkhd += bytes(8)  # reserved
    tkhd += bytes(8)  # layer, alt_group, volume, reserved
    tkhd += b"".join(
        x.to_bytes(4, "big")
        for x in (0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
    )
    tkhd += (w << 16).to_bytes(4, "big") + (h << 16).to_bytes(4, "big")
    return tkhd


def _mp4_bytes(w: int, h: int, duration: int = 1000, n_frames: int = 0) -> bytes:
    """Minimal valid ISO-BMFF: ftyp + moov/trak/tkhd (v0, unity
    matrix, 16.16 fixed-point track dims); ``n_frames > 0`` adds a
    real mdia/minf/stbl/stts chain declaring that many samples."""
    trak_payload = _box(b"tkhd", _tkhd_bytes(w, h, duration))
    if n_frames > 0:
        # one stts entry: n_frames samples at a uniform delta
        stts = bytes(4) + (1).to_bytes(4, "big")
        stts += n_frames.to_bytes(4, "big") + (512).to_bytes(4, "big")
        trak_payload += _box(
            b"mdia", _box(b"minf", _box(b"stbl", _box(b"stts", stts)))
        )
    moov = _box(b"moov", _box(b"trak", trak_payload))
    ftyp = _box(b"ftyp", b"isom" + bytes(4) + b"isomiso2")
    return ftyp + moov


def _real_asset_rows(n: int, n_video: int) -> list[tuple]:
    """(asset_id, kind, payload, mime, expected_w, expected_h):
    construction-time ground truth — the dims fed INTO each builder
    (NOT re-parsed from the bytes), so an oracle built from these
    rows is independent of the decode path it checks."""
    rows = []
    for i in range(n + n_video):
        w, h = 16 + (i * 13) % 640, 16 + (i * 7) % 480
        if i >= n:  # appended MP4 videos (ids stay stable for tests)
            payload = _mp4_bytes(w, h, n_frames=24 + (i - n) * 5)
            rows.append((i, "video", payload, "video/mp4", w, h))
            continue
        fmt = i % 4
        if fmt == 0:
            rows.append((i, "image", _png_bytes(w, h), "image/png", w, h))
        elif fmt == 1:
            rows.append((i, "image", _bmp_bytes(w, h), "image/bmp", w, h))
        elif fmt == 2:
            wg, hg = w % 4096, h % 4096
            rows.append((i, "image", _gif_bytes(wg, hg), "image/gif", wg, hg))
        else:
            pcm = [((i * 31 + j * 17) % 1000) - 500 for j in range(24 + i % 8)]
            sr, ch = 8000 + 100 * i, 1 + i % 2
            rows.append((i, "audio", _wav_bytes(sr, ch, samples=pcm), "audio/wav", sr, ch))
    return rows


def make_real_assets(spark, n: int = 60, n_video: int = 0) -> DataFrame:
    """Deterministic asset table with GENUINE container payloads
    (valid PNG/BMP/GIF headers, WAV RIFF chunks, MP4 moov/trak/tkhd
    boxes), so the real-codec decode path is exercised on real bytes.
    ``n_video`` MP4 assets are appended AFTER the n image/audio ids."""
    rows = [
        (i, kind, payload, mime, {"fmt": mime})
        for i, kind, payload, mime, _w, _h in _real_asset_rows(n, n_video)
    ]
    return spark.createDataFrame(rows, ASSET_SCHEMA)


def expected_real_assets(n: int = 60, n_video: int = 0) -> pd.DataFrame:
    """Generator-side ground truth for ``make_real_assets``: what a
    correct decode must return, known at construction (dims fed into
    the builders, byte length, crc32). Pure Python — no Spark — so an
    oracle fixture can be written before any engine runs."""
    recs = [
        {
            "asset_id": i,
            "kind": kind,
            "n_bytes": len(payload),
            "width": w,
            "height": h,
            "checksum": zlib.crc32(payload) & 0x7FFFFFFF,
        }
        for i, kind, payload, _mime, w, h in _real_asset_rows(n, n_video)
    ]
    out = pd.DataFrame(recs)
    out["asset_id"] = out["asset_id"].astype("int64")
    out["kind"] = out["kind"].astype(str)
    for c in ("n_bytes", "width", "height"):
        out[c] = out[c].astype("Int32")
    out["checksum"] = out["checksum"].astype("Int64")
    return out
