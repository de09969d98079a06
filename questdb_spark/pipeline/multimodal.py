"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed with Arrow-batched ``mapInPandas``.

Round 6: the decode is REAL for the three container formats whose
dimensions live in fixed or scannable header fields — PNG (IHDR at byte
16/20, big-endian u32), GIF (logical screen descriptor at bytes 6-9,
little-endian u16) and JPEG (marker scan to the first SOF frame header).
Pixel decode (PIL/libjpeg) is still absent from this container, so
``synthesize_media`` manufactures byte-exact headers around the document
text as the "encoded body"; the parser then recovers the dimensions from
the bytes alone.  Unknown payloads fall back to the round-4 additive
checksum stub.

Reference spec: questdb has no image type — this operator family is the
LLM-training-pipeline extension the brief mandates (multimodal binary
columns with typed metadata, Arrow-batched decode, no driver collect).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODE_SCHEMA = (
    "doc_id long, format string, width int, height int, n_bytes int, "
    "checksum bigint"
)

# Deterministic per-doc dimensions used by the synthesizer; the DuckDB
# oracle recomputes these arithmetically, so a header-build or parse bug
# on either side breaks the value hash.
_W_MOD, _H_MOD = 625, 465


def _dims(doc_id: int) -> tuple[int, int]:
    return 16 + (doc_id * 7) % _W_MOD, 16 + (doc_id * 13) % _H_MOD


def _png(w: int, h: int, body: bytes) -> bytes:
    # 8-byte signature + IHDR chunk (len=13, type, 13-byte payload, CRC).
    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + ihdr
        + b"\x00\x00\x00\x00"  # CRC not validated by the dimension parser
        + body
    )


def _jpeg(w: int, h: int, body: bytes) -> bytes:
    # SOI, then a variable-length COM segment holding the body BEFORE the
    # SOF0 frame header — forces the parser to do a real marker scan with
    # segment-length skipping rather than a fixed-offset read.
    com = b"\xff\xfe" + struct.pack(">H", len(body) + 2) + body
    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(
        ">HH", h, w
    ) + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    return b"\xff\xd8" + com + sof0
    # n_bytes = 2 (SOI) + 4 + len(body) (COM) + 19 (SOF0) = 25 + len(body)


def _gif(w: int, h: int, body: bytes) -> bytes:
    # GIF89a signature + logical screen descriptor (w/h little-endian u16)
    # + body + trailer.  n_bytes = 13 + len(body) + 1.
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00" + body + b"\x3b"


def synthesize_media(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Wrap each document's text bytes in a byte-exact image container.

    doc_id % 4 selects the format: 0→PNG, 1→JPEG, 2→GIF, 3→raw bytes (no
    header — exercises the unknown-format fallback).  Real pipelines would
    read BinaryType payloads straight from parquet; the synthesizer exists
    so the parser can be oracle-verified without image files on disk.
    """
    src = df.select(F.col("doc_id"), F.col(text_col).alias("_t"))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        builders = (_png, _jpeg, _gif)
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["_t"]):
                body = text.encode("utf-8")
                k = doc_id % 4
                if k == 3:
                    out.append(body)
                else:
                    w, h = _dims(doc_id)
                    out.append(builders[k](w, h, body))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": out})

    return src.mapInPandas(build, schema="doc_id long, payload binary")


# -- decode ----------------------------------------------------------------

_HEAD = 32  # bytes needed for every fixed-offset field we read


def _scan_jpeg_sof(buf: bytes) -> tuple[int, int]:
    """Walk JPEG segments from SOI to the first SOF frame header; return
    (width, height) or (-1, -1). Real marker scan: honors each segment's
    big-endian length field, skips non-SOF markers (incl. the COM/APPn
    family), stops at SOS/EOI."""
    i = 2
    n = len(buf)
    while i + 4 <= n:
        if buf[i] != 0xFF:
            return -1, -1
        marker = buf[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker in (0xD9, 0xDA):  # EOI / SOS: no SOF seen
            return -1, -1
        seg_len = (buf[i + 2] << 8) | buf[i + 3]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 > n:
                return -1, -1
            h = (buf[i + 5] << 8) | buf[i + 6]
            w = (buf[i + 7] << 8) | buf[i + 8]
            return w, h
        i += 2 + seg_len
    return -1, -1


def decode_image(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Parse format + dimensions from binary payloads via mapInPandas.

    Vectorized where the format allows it: the first ``_HEAD`` bytes of
    every payload in the Arrow batch are packed into one uint8 matrix
    (single C-level concat), and PNG/GIF magic detection plus their
    fixed-offset big/little-endian dimension fields are pure numpy over
    that matrix.  Only JPEG needs a per-row scan (variable-length segments
    before SOF), and only on rows whose magic says JPEG.  Unknown formats
    fall back to the additive-checksum stub (width/height null).
    """
    src = df.select(F.col(id_col).alias("doc_id"), "payload")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            m = len(payloads)
            if m == 0:
                continue
            n_bytes = payloads.str.len().to_numpy(dtype=np.int64)
            # one contiguous head matrix: vectorized magic + field reads
            head = np.frombuffer(
                b"".join(bytes(p[:_HEAD]).ljust(_HEAD, b"\0") for p in payloads),
                dtype=np.uint8,
            ).reshape(m, _HEAD)
            h64 = head.astype(np.int64)

            is_png = (
                (h64[:, 0] == 0x89)
                & (h64[:, 1] == 0x50)
                & (h64[:, 2] == 0x4E)
                & (h64[:, 3] == 0x47)
                & (n_bytes >= 24)
            )
            is_gif = (
                (h64[:, 0] == 0x47)
                & (h64[:, 1] == 0x49)
                & (h64[:, 2] == 0x46)
                & (h64[:, 3] == 0x38)
                & (n_bytes >= 10)
            )
            is_jpg = (h64[:, 0] == 0xFF) & (h64[:, 1] == 0xD8) & (h64[:, 2] == 0xFF)

            width = np.full(m, -1, dtype=np.int64)
            height = np.full(m, -1, dtype=np.int64)
            # PNG: IHDR width/height, big-endian u32 at offsets 16/20
            png_w = (h64[:, 16] << 24) | (h64[:, 17] << 16) | (h64[:, 18] << 8) | h64[:, 19]
            png_h = (h64[:, 20] << 24) | (h64[:, 21] << 16) | (h64[:, 22] << 8) | h64[:, 23]
            width[is_png] = png_w[is_png]
            height[is_png] = png_h[is_png]
            # GIF: logical screen w/h, little-endian u16 at offsets 6/8
            gif_w = h64[:, 6] | (h64[:, 7] << 8)
            gif_h = h64[:, 8] | (h64[:, 9] << 8)
            width[is_gif] = gif_w[is_gif]
            height[is_gif] = gif_h[is_gif]
            # JPEG: per-row SOF scan, only on the JPEG subset
            for j in np.flatnonzero(is_jpg):
                w, h = _scan_jpeg_sof(bytes(payloads.iloc[j]))
                width[j], height[j] = w, h

            fmt = np.where(
                is_png, "png", np.where(is_jpg, "jpeg", np.where(is_gif, "gif", "unknown"))
            )
            known = is_png | is_gif | (is_jpg & (width >= 0))
            # fallback stub for unknown payloads: additive byte checksum
            checksum = np.full(m, -1, dtype=np.int64)
            for j in np.flatnonzero(~known):
                checksum[j] = (
                    int(np.frombuffer(bytes(payloads.iloc[j]), dtype=np.uint8).sum())
                    % 1_000_003
                )

            known_s = pd.Series(known)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "format": fmt,
                    "width": pd.Series(width, dtype="Int64").where(known_s).astype("Int32"),
                    "height": pd.Series(height, dtype="Int64").where(known_s).astype("Int32"),
                    "n_bytes": n_bytes.astype("int32"),
                    "checksum": pd.Series(checksum, dtype="Int64").where(~known_s),
                }
            )

    return src.mapInPandas(decode, schema=DECODE_SCHEMA)


# -- video containers: frame sampling (r9) -----------------------------------
#
# The brief's frame-sample op: video = an opaque binary container of
# frames. No codec exists in this container, so the synthesizer builds a
# deterministic frame container (magic + frame count + length-prefixed
# PNG frames — each frame a REAL parseable PNG); the sampler explodes
# every k-th frame into its own row via mapInPandas. The plumbing —
# schema, 1→N batch explosion, Arrow round trip, downstream decode — is
# the real thing; only pixel decode is absent.

VIDEO_MAGIC = b"QV01"


def _frame_dims(doc_id: int, frame_idx: int) -> tuple[int, int]:
    return _dims(doc_id * 31 + frame_idx)


def synthesize_video(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Wrap each document in a frame container: ``2 + doc_id % 4`` PNG
    frames, frame i sized ``_dims(doc_id*31 + i)``, body = the text."""
    src = df.select(F.col("doc_id"), F.col(text_col).alias("_t"))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["_t"]):
                body = text.encode("utf-8")
                n = 2 + doc_id % 4
                buf = [VIDEO_MAGIC, struct.pack(">I", n)]
                for i in range(n):
                    w, h = _frame_dims(doc_id, i)
                    frame = _png(w, h, body)
                    buf.append(struct.pack(">I", len(frame)))
                    buf.append(frame)
                out.append(b"".join(buf))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": out})

    return src.mapInPandas(build, schema="doc_id long, payload binary")


def sample_frames(df: DataFrame, every: int = 2) -> DataFrame:
    """Explode each video container into every ``every``-th frame:
    (doc_id, n_frames, frame_idx, frame).  One output row per sampled
    frame — the 1→N mapInPandas batch-shape change a real frame sampler
    performs, with no driver involvement."""
    src = df.select("doc_id", "payload")

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ns, idxs, frames = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                if buf[:4] != VIDEO_MAGIC:
                    continue  # not a video container
                if len(buf) < 8:
                    continue  # truncated before the frame count
                n = struct.unpack(">I", buf[4:8])[0]
                pos = 8
                for i in range(n):
                    # bounds-check the declared prefixes (r10 advice: a
                    # truncated/corrupt container must skip the row, not
                    # raise struct.error and fail the whole job)
                    if pos + 4 > len(buf):
                        break
                    ln = struct.unpack(">I", buf[pos : pos + 4])[0]
                    if ln > len(buf) - pos - 4:
                        break  # length prefix runs past the buffer
                    frame = buf[pos + 4 : pos + 4 + ln]
                    pos += 4 + ln
                    if i % every == 0:
                        ids.append(doc_id)
                        ns.append(n)
                        idxs.append(i)
                        frames.append(frame)
            yield pd.DataFrame(
                {"doc_id": ids, "n_frames": ns, "frame_idx": idxs, "frame": frames}
            )

    return src.mapInPandas(
        sample, schema="doc_id long, n_frames int, frame_idx int, frame binary"
    )


RASTER_MAGIC = b"QR01"


def synthesize_raster(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Wrap each document id in an UNCOMPRESSED grayscale raster (r10 —
    BMP-style rows without the BMP bookkeeping): ``QR01 | w u32 | h u32 |
    w*h pixel bytes`` row-major, pixel(i) = (doc_id + i*31) % 251.  The
    pixel formula is arithmetic on purpose: a SQL oracle can recompute
    the RESIZED pixel bytes exactly, so the resample below is verified
    pixel-true, not just header-true.  Dims are small (w 8-31, h 8-23):
    the verification target is the resample math, not byte volume."""
    src = df.select(F.col(id_col).alias("doc_id"))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                w = 8 + (int(doc_id) * 7) % 24
                h = 8 + (int(doc_id) * 13) % 16
                px = (int(doc_id) + np.arange(w * h, dtype=np.int64) * 31) % 251
                out.append(
                    RASTER_MAGIC
                    + struct.pack(">II", w, h)
                    + px.astype(np.uint8).tobytes()
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": out})

    return src.mapInPandas(build, schema="doc_id long, payload binary")


def raster_stats(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Parse QR01 rasters: (doc_id, width, height, n_bytes, checksum) with
    checksum = sum over pixels of value * (index+1) — position-sensitive,
    so any resample that permutes or miscomputes a single byte changes it."""
    cols = [c for c in df.columns if c != payload_col]

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, nb, cks = [], [], [], []
            for payload in pdf[payload_col]:
                buf = bytes(payload)
                if buf[:4] != RASTER_MAGIC or len(buf) < 12:
                    ws.append(None); hs.append(None); nb.append(len(buf)); cks.append(None)
                    continue
                w, h = struct.unpack(">II", buf[4:12])
                px = np.frombuffer(buf[12 : 12 + w * h], dtype=np.uint8).astype(np.int64)
                ws.append(w); hs.append(h); nb.append(len(buf))
                cks.append(int((px * (np.arange(px.size) + 1)).sum()))
            out = pdf[cols].copy()
            out["width"], out["height"] = ws, hs
            out["n_bytes"], out["checksum"] = nb, cks
            yield out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        if f.name != payload_col
    ) + ", width int, height int, n_bytes int, checksum bigint"
    return df.mapInPandas(stats, schema=schema)


DHASH_GRID_W = 9  # 9 columns -> 8 adjacent comparisons per row
DHASH_GRID_H = 8  # x 8 rows = 64 difference bits


def raster_dhash(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Perceptual difference-hash (dHash) over DECODED QR01 raster bytes —
    the dedup x multimodal bridge (r13): the standard image near-dup
    fingerprint (resize to a tiny grid, hash the sign of adjacent-pixel
    differences; brightness/scale-invariant by construction).  The pixel
    matrix is sampled on a 9x8 nearest-neighbor grid (``src = i * dim //
    grid`` — the `resize_image` resample convention), then
    ``bit(r, c) = 1 iff grid[r, c] < grid[r, c+1]``; the 64 bits pack
    into two BIGINT halves (rows 0-3 -> ``dhash_hi``, rows 4-7 ->
    ``dhash_lo``, weight ``2^(row*8 + col)`` within each half — the
    simhash hi/lo packing convention, clear of the int64 sign bit).
    Non-raster payloads hash to NULL.  Map-only Arrow kernel; the
    downstream dedup is one groupBy on the 16-byte hash."""
    cols = [c for c in df.columns if c != payload_col]
    w_bits = 1 << (
        np.arange(4, dtype=np.int64)[:, None] * 8
        + np.arange(8, dtype=np.int64)[None, :]
    )

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            his, los = [], []
            for payload in pdf[payload_col]:
                buf = bytes(payload)
                if buf[:4] != RASTER_MAGIC or len(buf) < 12:
                    his.append(None)
                    los.append(None)
                    continue
                w, h = struct.unpack(">II", buf[4:12])
                arr = (
                    np.frombuffer(buf[12 : 12 + w * h], dtype=np.uint8)
                    .reshape(h, w)
                    .astype(np.int64)
                )
                rs = (np.arange(DHASH_GRID_H) * h) // DHASH_GRID_H
                cs = (np.arange(DHASH_GRID_W) * w) // DHASH_GRID_W
                g = arr[rs][:, cs]
                bits = (g[:, :-1] < g[:, 1:]).astype(np.int64)  # 8 x 8
                his.append(int((bits[:4] * w_bits).sum()))
                los.append(int((bits[4:] * w_bits).sum()))
            out = pdf[cols].copy()
            out["dhash_hi"], out["dhash_lo"] = his, los
            yield out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != payload_col
    ) + ", dhash_hi bigint, dhash_lo bigint"
    return df.mapInPandas(hashes, schema=schema)


def dhash_hamming_pairs(
    hashed: DataFrame, id_col: str = "doc_id", max_hamming: int = 6
) -> DataFrame:
    """Perceptual NEAR-dup image pairs by banded Hamming distance over
    dHash fingerprints (r13) — the LSH discipline applied to images: the
    64-bit hash splits into 4x16-bit bands, candidate pairs collide on at
    least one band, and only candidates pay the exact popcount filter
    ``bit_count(hi_a XOR hi_b) + bit_count(lo_a XOR lo_b) <=
    max_hamming``.  Pigeonhole guarantees full recall for distance <= 3
    (four bands, so <=3 flipped bits leave one band clean); beyond that,
    banding is the standard recall/cost trade — the same contract as
    MinHash-LSH banding.  Never all-pairs: cost is bounded by band-bucket
    collision counts (a production corpus adds the hot-bucket guard, the
    `_drop_hot_shingles` discipline).  Input is `raster_dhash` output;
    returns (img_a, img_b, hamming) with img_a < img_b."""
    bands = None
    for i, (col, sh) in enumerate(
        [("dhash_hi", 0), ("dhash_hi", 16), ("dhash_lo", 0), ("dhash_lo", 16)]
    ):
        part = hashed.select(
            F.col(id_col).alias("img"),
            F.lit(i).alias("band"),
            F.shiftright(F.col(col), sh).bitwiseAND(F.lit(65535)).alias("key"),
        )
        bands = part if bands is None else bands.unionByName(part)
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.img") < F.col("b.img")),
        )
        .select(F.col("a.img").alias("img_a"), F.col("b.img").alias("img_b"))
        .distinct()
    )
    ha = hashed.select(
        F.col(id_col).alias("img_a"),
        F.col("dhash_hi").alias("__hi_a"),
        F.col("dhash_lo").alias("__lo_a"),
    )
    hb = hashed.select(
        F.col(id_col).alias("img_b"),
        F.col("dhash_hi").alias("__hi_b"),
        F.col("dhash_lo").alias("__lo_b"),
    )
    ham = (
        F.bit_count(F.col("__hi_a").bitwiseXOR(F.col("__hi_b")))
        + F.bit_count(F.col("__lo_a").bitwiseXOR(F.col("__lo_b")))
    ).cast("bigint")
    return (
        cand.join(ha, "img_a")
        .join(hb, "img_b")
        .select("img_a", "img_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


AUDIO_MAGIC = b"QA01"


def synthesize_audio(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Wrap each document id in a synthetic signed-8-bit PCM container
    (r10 — the audio leg of the multimodal family): ``QA01 | sample_rate
    u32 | n_samples u32 | n_samples x i8``.  Sample formula
    s(i) = ((doc_id + i*37) % 199) - 99 is arithmetic on purpose so a SQL
    oracle can recompute the windowed features exactly (same verification
    pattern as the QR01 raster)."""
    src = df.select(F.col(id_col).alias("doc_id"))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                rate = 8000 + (i % 3) * 4000
                n = 256 + (i % 7) * 64
                smp = ((i + np.arange(n, dtype=np.int64) * 37) % 199) - 99
                out.append(
                    AUDIO_MAGIC
                    + struct.pack(">II", rate, n)
                    + smp.astype(np.int8).tobytes()
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": out})

    return src.mapInPandas(build, schema="doc_id long, payload binary")


def audio_features(
    df: DataFrame, payload_col: str = "payload", frame: int = 128
) -> DataFrame:
    """Windowed DSP features per PCM frame — REAL (if simple) signal math,
    vectorized in numpy over the Arrow batch, one output row per frame:
    energy = sum(s^2), zero_crossings = count of strict sign flips between
    adjacent in-frame samples, peak = max(|s|).  All integer-exact, so the
    oracle comparison is bit-stable.  Trailing partial frames are dropped
    (frames = n_samples // frame), matching real frame-hop pipelines."""
    cols = [c for c in df.columns if c != payload_col]

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {c: [] for c in cols}
            fi, rates, ns, en, zc, pk = [], [], [], [], [], []
            for idx in range(len(pdf)):
                buf = bytes(pdf[payload_col].iloc[idx])
                if buf[:4] != AUDIO_MAGIC or len(buf) < 12:
                    continue  # not audio / truncated: skip the row
                rate, n = struct.unpack(">II", buf[4:12])
                if len(buf) - 12 < n:
                    continue  # declared length past the buffer
                nf = n // frame
                if nf == 0:
                    continue
                a = (
                    np.frombuffer(buf[12 : 12 + nf * frame], dtype=np.int8)
                    .astype(np.int64)
                    .reshape(nf, frame)
                )
                for c in cols:
                    rows[c].extend([pdf[c].iloc[idx]] * nf)
                fi.extend(range(nf))
                rates.extend([rate] * nf)
                ns.extend([n] * nf)
                en.extend((a * a).sum(axis=1).tolist())
                zc.extend(((a[:, :-1] * a[:, 1:]) < 0).sum(axis=1).tolist())
                pk.extend(np.abs(a).max(axis=1).tolist())
            out = pd.DataFrame({c: rows[c] for c in cols})
            out["frame_idx"], out["sample_rate"], out["n_samples"] = fi, rates, ns
            out["energy"], out["zero_crossings"], out["peak"] = en, zc, pk
            yield out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        if f.name != payload_col
    ) + (", frame_idx int, sample_rate int, n_samples int, "
         "energy bigint, zero_crossings int, peak int")
    return df.mapInPandas(feats, schema=schema)


def resize_image(
    df: DataFrame, num: int = 1, den: int = 2, payload_col: str = "frame"
) -> DataFrame:
    """Resize PNG payloads by num/den: the HEADER is genuinely rewritten
    (new dimensions, floor-scaled, min 1) with the IHDR CRC recomputed
    (zlib.crc32 over chunk type + data — r10 advice: the rewritten header
    must stay a VALID PNG chunk for real decoders, not only the in-repo
    CRC-ignoring parser), so a downstream `decode_image` reads the resized
    geometry from the bytes — the pixel resample itself is the STUBBED
    step (no image libs in this container; the body is carried through
    unchanged, documented)."""
    import zlib

    cols = [c for c in df.columns if c != payload_col]

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for payload in pdf[payload_col]:
                buf = bytes(payload)
                if buf[:4] == RASTER_MAGIC and len(buf) >= 12:
                    # uncompressed raster: REAL nearest-neighbor resample
                    # (r10) — pixel bytes, not just the header
                    w, h = struct.unpack(">II", buf[4:12])
                    nw, nh = max(1, w * num // den), max(1, h * num // den)
                    arr = np.frombuffer(
                        buf[12 : 12 + w * h], dtype=np.uint8
                    ).reshape(h, w)
                    ys = np.arange(nh) * den // num
                    xs = np.arange(nw) * den // num
                    res = arr[np.minimum(ys, h - 1)][:, np.minimum(xs, w - 1)]
                    out.append(
                        RASTER_MAGIC + struct.pack(">II", nw, nh) + res.tobytes()
                    )
                    continue
                if buf[:4] != b"\x89PNG" or len(buf) < 33:
                    out.append(buf)  # non-PNG passes through
                    continue
                w, h = struct.unpack(">II", buf[16:24])
                nw, nh = max(1, w * num // den), max(1, h * num // den)
                ihdr_data = struct.pack(">II", nw, nh) + buf[24:29]
                crc = zlib.crc32(b"IHDR" + ihdr_data) & 0xFFFFFFFF
                out.append(
                    buf[:16] + ihdr_data + struct.pack(">I", crc) + buf[33:]
                )
            pdf = pdf.copy()
            pdf[payload_col] = out
            yield pdf

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    return df.mapInPandas(resize, schema=schema)


def frame_features(
    df: DataFrame, payload_col: str = "frame", bins: int = 16
) -> DataFrame:
    """Byte-histogram feature vector per payload — a REAL (if simple)
    content feature: the 256 byte values fold into ``bins`` equal-width
    bins, L1-normalized. Vectorized: one np.bincount per row over the
    Arrow batch; no Python in the per-byte path."""
    cols = [c for c in df.columns if c != payload_col]

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        width = 256 // bins
        for pdf in batches:
            vecs = []
            for payload in pdf[payload_col]:
                a = np.frombuffer(bytes(payload), dtype=np.uint8)
                hist = np.bincount(a // width, minlength=bins)[:bins]
                tot = hist.sum()
                vecs.append((hist / (tot if tot else 1)).astype(np.float64).tolist())
            out = pdf[cols].copy()
            out["features"] = vecs
            yield out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        if f.name != payload_col
    ) + ", features array<double>"
    return df.mapInPandas(feats, schema=schema)
