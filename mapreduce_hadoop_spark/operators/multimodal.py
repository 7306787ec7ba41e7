"""Multimodal (binary) column operators.

Pattern for image/audio/video at 100 TB: the payload is an opaque `binary`
column with typed metadata beside it; decode / feature-extraction runs as
Arrow-batched Python (``mapInPandas``), everything else (filtering, joins,
grouping, metadata math) stays JVM-side.

The bundled testdata has no real media. ``media_table`` exposes
`documents.text` as a binary column for the JVM-side metadata query;
every other query runs ONE Python pass per document (``_per_doc``): it
synthesizes spec-valid media bytes from doc_id, decodes them and returns
the features, so payloads never cross the JVM/Python boundary and the
oracle predicts the decoded result from doc_id alone. The per-payload
feature functions (``_resize_features``, ``_wav_features``,
``_avi_features``) take bytes and return a feature tuple. Codecs are
stdlib+numpy only:

- container headers (``_parse_image_header``: PNG IHDR / JPEG SOFn / GIF
  logical screen);
- 8-bit grayscale PNG (``_png_decode_gray``: zlib inflate + the full
  None/Sub/Up/Average/Paeth unfilter);
- 8-bit palette GIF (``_gif_decode_gray``: sub-block reassembly +
  dictionary LZW + palette lookup);
- baseline-sequential JPEG, grayscale or YCbCr at 4:2:0 / 4:2:2 / 4:4:4
  (``_jpeg_encode`` / ``_jpeg_decode``: canonical Huffman from DHT,
  DPCM/run-length entropy coding, DRI/RSTn restarts, dequantize +
  inverse DCT);
- RIFF/WAVE PCM (``_wav_decode``) and RIFF/AVI uncompressed 8-bit DIB
  (``_avi_decode``).

Out-of-profile payloads (progressive JPEG, colour PNG, interlaced GIF,
compressed video) need a codec library, absent in this container — every
decoder returns None for them, the feature functions an all-None tuple,
and the queries emit NULLs, never a throw.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from functools import lru_cache as _lru_cache
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_hadoop_spark.sources.tables import load_table, load_table_widened


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mime, payload binary) — synthetic media derived from text."""
    docs = load_table(spark, sf_dir, "documents")
    mime = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image/png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
    )
    return docs.select(
        "doc_id", mime.alias("mime"), F.encode(F.col("text"), "utf-8").alias("payload")
    )


def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side metadata over the binary column: length, digest, b64 prefix."""
    media = media_table(spark, sf_dir)
    return media.select(
        "doc_id",
        "mime",
        F.octet_length("payload").alias("n_bytes"),
        F.sha2("payload", 256).alias("sha256"),
        F.substring(F.base64("payload"), 1, 16).alias("b64_prefix"),
    )


MEDIA_METADATA_ORACLE = """
SELECT
    doc_id,
    CASE WHEN doc_id % 3 = 0 THEN 'image/png'
         WHEN doc_id % 3 = 1 THEN 'audio/wav'
         ELSE 'video/mp4' END AS mime,
    octet_length(encode(text)) AS n_bytes,
    sha256(text) AS sha256,
    substr(to_base64(encode(text)), 1, 16) AS b64_prefix
FROM documents
"""


def _per_doc(
    spark: SparkSession, sf_dir: str, row: "Callable[[int], tuple]", schema: str
) -> DataFrame:
    """One ``row(doc_id)`` per document, computed in one Arrow-batched
    ``mapInPandas`` over the doc_id column.

    A narrow doc_id scan is widened to the session's parallelism BEFORE
    the Python stage (``load_table_widened``): codec work costs
    milliseconds per row, so parallelism must follow cores, not parquet
    split count — and the exchange moves only 8-byte doc_ids, three
    orders of magnitude cheaper than the per-row Python it unlocks.
    (Without it, a single ~150 MB parquet file caps a pixel pipeline at 2
    threads.) Payloads built by ``row`` live and die inside the batch;
    they never cross a shuffle. A ``None`` in a ``row`` tuple becomes SQL
    NULL in its declared column."""
    docs = load_table_widened(spark, sf_dir, "documents").select("doc_id")
    columns = [field.split()[0] for field in schema.split(",")]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame([row(int(d)) for d in pdf["doc_id"]], columns=columns)

    return docs.mapInPandas(batches, schema=schema)


def _doc_dims(d: int) -> "tuple[int, int]":
    """(width, height) of document ``d``'s synthesized image; the oracles
    spell the same law as ``(doc_id % 64) + 16`` / ``((doc_id // 64) %
    64) + 16``."""
    return (d % 64) + 16, (d // 64) % 64 + 16


# JPEG "start of frame" markers carrying dimensions: SOF0-SOF15 minus the
# non-frame DHT/JPG/DAC markers (0xC4/0xC8/0xCC).
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _parse_image_header(payload: bytes) -> "tuple[int, int] | None":
    """(width, height) from a real image container header, stdlib-only.

    Supports PNG (IHDR), JPEG (first SOFn segment), and GIF (logical
    screen descriptor). Returns None for anything else — including the
    truncated/garbage bytes a 100 TB crawl inevitably contains, which a
    decode stage must tolerate, never throw on.
    """
    # PNG: 8-byte signature, then the IHDR chunk (len + 'IHDR' + w + h, BE).
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 24:
        if payload[12:16] == b"IHDR":
            w = int.from_bytes(payload[16:20], "big")
            h = int.from_bytes(payload[20:24], "big")
            return (w, h) if w > 0 and h > 0 else None
        return None
    # JPEG: walk marker segments until the first SOFn (precision byte,
    # then height and width, big-endian).
    if payload[:2] == b"\xff\xd8":
        i, n = 2, len(payload)
        while i + 3 < n:
            if payload[i] != 0xFF:
                return None
            marker = payload[i + 1]
            if marker == 0xFF:  # fill bytes before a marker
                i += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers: no length field
                continue
            seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
            if seg_len < 2:
                return None
            if marker in _JPEG_SOF:
                if i + 9 > n:
                    return None
                h = int.from_bytes(payload[i + 5 : i + 7], "big")
                w = int.from_bytes(payload[i + 7 : i + 9], "big")
                return (w, h) if w > 0 and h > 0 else None
            i += 2 + seg_len
        return None
    # GIF: 6-byte version, then the logical screen w/h, little-endian.
    if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
        w = int.from_bytes(payload[6:8], "little")
        h = int.from_bytes(payload[8:10], "little")
        return (w, h) if w > 0 and h > 0 else None
    return None


# --- PNG / GIF: synthesize valid image bytes, decode them back --------------


def _png_file(width: int, height: int, raw: bytes) -> bytes:
    """A complete 8-bit grayscale PNG (signature, IHDR, one zlib-9 IDAT
    over the filtered scanlines ``raw``, IEND, real CRCs), stdlib only."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )


def _png_bytes(width: int, height: int) -> bytes:
    """A complete, spec-valid PNG of the given dimensions — 8-bit
    grayscale, all-zero pixels. Any compliant decoder (PIL included)
    opens it; ~80 bytes."""
    return _png_file(width, height, b"\x00" * ((width + 1) * height))


def _png_bytes_patterned(width: int, height: int, seed: int) -> bytes:
    """A spec-valid 8-bit grayscale PNG whose pixel (x, y) value is
    ``(3*x + 7*y + seed) % 256``, with scanline filters cycling through all
    five PNG filter types (None/Sub/Up/Average/Paeth by row index) so a
    decoder must implement the complete unfilter suite to reproduce the
    pattern. The inverse lives in ``_png_decode_gray``."""
    import numpy as np

    # Filtering references RAW (reconstructed) neighbors, which the encoder
    # knows up front — so every filter type vectorizes row-wise in numpy.
    xs = np.arange(width, dtype=np.int64)
    px = (3 * xs[None, :] + 7 * np.arange(height, dtype=np.int64)[:, None] + seed) % 256
    raw = bytearray()
    zero = np.zeros(width, dtype=np.int64)
    for y in range(height):
        row = px[y]
        left = np.concatenate(([0], row[:-1]))
        up = px[y - 1] if y else zero
        ul = np.concatenate(([0], up[:-1])) if y else zero
        ft = y % 5
        if ft == 0:
            v = row
        elif ft == 1:
            v = row - left
        elif ft == 2:
            v = row - up
        elif ft == 3:
            v = row - (left + up) // 2
        else:
            p = left + up - ul
            pa_, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
            pred = np.where(
                (pa_ <= pb) & (pa_ <= pc), left, np.where(pb <= pc, up, ul)
            )
            v = row - pred
        raw.append(ft)
        raw += (v % 256).astype(np.uint8).tobytes()
    # The Paeth branch mirrors the spec's scalar predictor tie-break for
    # tie-break (<= ordering) — the decoder's scalar paeth() is the
    # reference; round-trip equality is asserted in tests.
    return _png_file(width, height, bytes(raw))


def _png_decode_gray(payload: bytes) -> "object | None":
    """REAL pixel decode for 8-bit non-interlaced grayscale PNG, stdlib
    only: chunk walk -> concatenated-IDAT zlib inflate -> full scanline
    unfilter (None/Sub/Up/Average/Paeth). Returns the pixel rows as an
    (h, w) uint8 numpy array, or None
    for anything that is not a well-formed PNG of that profile (other
    color types / bit depths / interlacing need a codec library; a decode
    stage over crawl data must tolerate them, never throw)."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    width = height = None
    idat = bytearray()
    i, n = 8, len(payload)
    while i + 8 <= n:
        (length,) = struct.unpack(">I", payload[i : i + 4])
        tag = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + length]
        if len(data) < length:
            return None
        if tag == b"IHDR":
            if length != 13:
                return None
            width, height, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or ctype != 0 or comp != 0 or filt != 0 or interlace != 0:
                return None
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        i += 12 + length  # len + tag + data + crc
    if not width or not height or not idat:
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    if len(raw) != height * (width + 1):
        return None

    import numpy as np

    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, width + 1)
    if int(arr[:, 0].max(initial=0)) > 4:
        return None
    # Unfilter per row: None/Up/Sub are whole-row numpy ops (copy, wrapped
    # add, wrapped prefix-sum); Average and Paeth reference the
    # RECONSTRUCTED left pixel, a genuine loop-carried dependency, and
    # stay scalar — on the patterned corpus that is 2 rows in 5.
    rows = np.zeros((height, width), dtype=np.uint8)
    prev = np.zeros(width, dtype=np.uint8)
    for y in range(height):
        ft = int(arr[y, 0])
        line = arr[y, 1:]
        if ft == 0:
            row = line.copy()
        elif ft == 1:
            row = np.add.accumulate(line, dtype=np.uint8)
        elif ft == 2:
            row = line + prev  # uint8 arithmetic wraps mod 256
        elif ft == 3:
            lp, pp, ro, left = line.tolist(), prev.tolist(), [], 0
            for x in range(width):
                left = (lp[x] + ((left + pp[x]) >> 1)) & 0xFF
                ro.append(left)
            row = np.asarray(ro, dtype=np.uint8)
        else:
            lp, pp, ro = line.tolist(), prev.tolist(), []
            left = ul = 0
            for x in range(width):
                up = pp[x]
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                left = (lp[x] + pred) & 0xFF
                ro.append(left)
                ul = up
            row = np.asarray(ro, dtype=np.uint8)
        rows[y] = row
        prev = row
    return rows


def _nn_resize(rows, out_w: int, out_h: int):
    """Nearest-neighbor resample with pure floor index mapping
    (src = (dst * src_extent) // dst_extent) — integer-exact, so an oracle
    can predict every output pixel. Accepts any 2-D array-like; returns an
    (out_h, out_w) uint8 numpy array via one fancy-index gather."""
    import numpy as np

    a = np.asarray(rows, dtype=np.uint8)
    h, w = a.shape
    return a[
        np.ix_(
            (np.arange(out_h, dtype=np.int64) * h) // out_h,
            (np.arange(out_w, dtype=np.int64) * w) // out_w,
        )
    ]


def _gif_bytes(width: int, height: int) -> bytes:
    """A complete, spec-valid GIF89a (logical screen, 2-color table, one
    1-bit LZW-coded frame, trailer) of the given dimensions, stdlib only."""
    import struct

    header = b"GIF89a" + struct.pack("<HH", width, height) + b"\x80\x00\x00"
    palette = b"\x00\x00\x00\xff\xff\xff"
    descriptor = b"," + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    # Minimal LZW stream: min code size 2, one clear code + EOI.
    image = b"\x02\x02\x44\x01\x00"
    return header + palette + descriptor + image + b";"


def _lzw_encode(indices: "bytes", min_code_size: int) -> bytes:
    """GIF-variant LZW: variable-width codes (LSB-first bit packing),
    CLEAR emitted up front and on dictionary overflow at 4096, EOI last.
    Real dictionary compression — the decoder's growth path is exercised,
    not the 'uncompressed GIF' literal-code shortcut.

    The dictionary is keyed on (prefix CODE, next byte) integer pairs —
    O(1) hashing per input byte — and the LSB-first bit packing is one
    vectorized numpy pass over the collected (code, width) stream; golden
    stream hashes are pinned in tests/test_multimodal.py."""
    clear = 1 << min_code_size
    eoi = clear + 1
    codes: list[int] = []
    widths: list[int] = []
    table: dict[tuple[int, int], int] = {}
    next_code = eoi + 1
    width = min_code_size + 1
    codes.append(clear)
    widths.append(width)
    run = -1  # current prefix CODE; roots are their own codes
    get = table.get
    for b in indices:
        if run < 0:
            run = b
            continue
        nxt = get((run, b))
        if nxt is not None:
            run = nxt
            continue
        codes.append(run)
        widths.append(width)
        table[(run, b)] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        elif next_code >= 4096:
            codes.append(clear)
            widths.append(width)
            table.clear()
            next_code = eoi + 1
            width = min_code_size + 1
        run = b
    if run >= 0:
        codes.append(run)
        widths.append(width)
    codes.append(eoi)
    widths.append(width)
    return _pack_codes_lsb(codes, widths)


def _pack_codes_lsb(codes: "list[int]", widths: "list[int]") -> bytes:
    """LSB-first variable-width bit packing, vectorized: scatter each
    code's bits to its cumulative offset, packbits(little). Zero-pads the
    final partial byte exactly like the scalar accumulator did."""
    import numpy as np

    c = np.asarray(codes, dtype=np.uint32)
    w = np.asarray(widths, dtype=np.int64)
    total = int(w.sum())
    offs = np.zeros(len(c), dtype=np.int64)
    np.cumsum(w[:-1], out=offs[1:])
    # Per-code local bit index 0..width-1 (ragged arange).
    local = np.arange(total, dtype=np.int64) - np.repeat(offs, w)
    bits = (np.repeat(c, w) >> local.astype(np.uint32)) & 1
    buf = np.zeros(((total + 7) // 8) * 8, dtype=np.uint8)
    buf[: total] = bits.astype(np.uint8)
    return np.packbits(buf, bitorder="little").tobytes()


def _lzw_decode(data: bytes, min_code_size: int) -> "bytearray | None":
    """Inverse of ``_lzw_encode``: LSB-first variable-width code reader,
    CLEAR/EOI handling, dictionary growth with the KwKwK special case.

    Tolerate-don't-throw: ``min_code_size`` outside the GIF-legal [2, 8]
    returns None (a hostile value would size a 2^mcs root table), and
    the dictionary FREEZES at the spec's 4096-entry ceiling — further
    codes keep decoding against the frozen table until a CLEAR, and a
    code that would index past it is corrupt (None), so malicious
    streams cannot grow it without bound.

    Code extraction is numpy-segmented: the stream is unpacked to a bit
    array once, and all codes sharing a width (the run until the
    dictionary crosses 2^width, known in advance from the table size) are
    gathered in one reshape-dot — the dictionary bookkeeping stays a
    per-code Python loop, but the per-code bit arithmetic is gone."""
    if not 2 <= min_code_size <= 8:
        return None
    import numpy as np

    clear = 1 << min_code_size
    eoi = clear + 1
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8), bitorder="little")
    total = bits.size
    pos = 0
    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: "bytes | None" = None

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    reset()
    while True:
        avail = (total - pos) // width
        if avail <= 0:
            return None  # ran out of bits before EOI
        if len(table) >= 4096:
            k = avail  # frozen: no appends until CLEAR, width stays put
        else:
            # Codes until the next width bump: each processed code appends
            # one entry except the first after a reset (prev is None); the
            # code whose append reaches 2^width is the last at this width.
            k = (1 << width) - len(table) + (1 if prev is None else 0)
            k = min(max(k, 1), avail)
        seg = (
            bits[pos : pos + k * width]
            .reshape(k, width)
            .dot(1 << np.arange(width, dtype=np.int64))
        )
        resegment = False
        for code in seg.tolist():
            pos += width
            if code == clear:
                reset()
                resegment = True
                break
            if code == eoi:
                return out
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None and len(table) < 4096:
                entry = prev + prev[:1]  # KwKwK
            else:
                return None  # corrupt stream
            out += entry
            if prev is not None and len(table) < 4096:
                table.append(prev + entry[:1])
            prev = entry
        if resegment:
            continue
        if len(table) >= (1 << width) and width < 12:
            width += 1


def _gif_bytes_patterned(width: int, height: int, seed: int) -> bytes:
    """A spec-valid GIF89a whose pixel (x, y) is the SAME pattern as the
    patterned PNG — ``(3*x + 7*y + seed) % 256`` — as an index into a
    256-entry grayscale palette (palette[i] = (i, i, i)), coded with the
    real dictionary LZW above and chopped into <=255-byte sub-blocks.
    Stdlib only; the inverse lives in ``_gif_decode_gray``."""
    import struct

    import numpy as np

    # 0xF7: global color table present, 8 bits/pixel, 256 entries.
    header = b"GIF89a" + struct.pack("<HH", width, height) + b"\xf7\x00\x00"
    palette = bytes(v for i in range(256) for v in (i, i, i))
    descriptor = b"," + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    xs = np.arange(width, dtype=np.int64)
    px = (3 * xs[None, :] + 7 * np.arange(height, dtype=np.int64)[:, None] + seed) % 256
    lzw = _lzw_encode(px.astype(np.uint8).tobytes(), 8)
    blocks = b"".join(
        bytes([len(lzw[i : i + 255])]) + lzw[i : i + 255]
        for i in range(0, len(lzw), 255)
    )
    return header + palette + descriptor + b"\x08" + blocks + b"\x00;"


def _gif_decode_gray(payload: bytes) -> "object | None":
    """REAL pixel decode for non-interlaced 8-bit GIF with a 256-entry
    grayscale global color table: header walk -> sub-block reassembly ->
    LZW decode -> palette lookup (gray = red channel). Returns pixel rows
    as an (h, w) uint8 numpy array, or None for anything outside that
    profile (local color tables, interlacing, animation frames need a
    codec library; the crawl contract is tolerate-don't-throw).

    A truncated global color table, zero image
    dimensions, a GIF-illegal LZW min-code-size (outside [2, 8] — checked
    in ``_lzw_decode``), and palette indices past the declared table size
    all return None instead of raising."""
    import struct

    if len(payload) < 13 or payload[:6] not in (b"GIF89a", b"GIF87a"):
        return None
    _, _, flags, _, _ = struct.unpack("<HHBBB", payload[6:13])
    if not flags & 0x80:
        return None
    gct_size = 2 << (flags & 0x07)
    pos = 13
    palette = payload[pos : pos + 3 * gct_size]
    if len(palette) < 3 * gct_size:
        return None  # truncated color table
    pos += 3 * gct_size
    # Skip extension blocks to the first image descriptor.
    while pos < len(payload) and payload[pos] == 0x21:
        pos += 2
        while pos < len(payload) and payload[pos] != 0:
            pos += 1 + payload[pos]
        pos += 1
    if pos + 10 > len(payload) or payload[pos] != 0x2C:
        return None
    left, top, w, h, iflags = struct.unpack("<HHHHB", payload[pos + 1 : pos + 10])
    pos += 10
    if iflags & 0xC0:  # local color table or interlaced
        return None
    if w == 0 or h == 0:
        return None  # degenerate frame: nothing a resize stage could use
    if pos >= len(payload):
        return None
    min_code_size = payload[pos]
    pos += 1
    lzw = bytearray()
    while pos < len(payload) and payload[pos] != 0:
        n = payload[pos]
        lzw += payload[pos + 1 : pos + 1 + n]
        pos += 1 + n
    idx = _lzw_decode(bytes(lzw), min_code_size)
    if idx is None or len(idx) != w * h:
        return None
    import numpy as np

    ia = np.frombuffer(bytes(idx), dtype=np.uint8)
    if gct_size < 256 and int(ia.max(initial=0)) >= gct_size:
        return None  # index past the declared color table: corrupt
    pal = np.frombuffer(palette, dtype=np.uint8)[::3]  # gray == red channel
    return pal[ia].reshape(h, w)


# --- Baseline-sequential JPEG (ITU-T T.81 SOF0): grayscale or YCbCr --------
#
# Both halves are first-principles from the public spec: 8x8 forward /
# inverse DCT-II (one numpy einsum over all blocks), quantization tables
# with q[0][0] = 8 so a BLOCK-CONSTANT plane round-trips bit-exactly
# (DC = v - 128 survives round(F/q) with zero AC energy, which is what
# makes a closed-form DuckDB oracle possible for a lossy codec — see
# MEDIA_REAL_JPEG_ORACLE), canonical Huffman tables shipped in DHT (the
# decoder builds whatever DHT declares), DPCM DC, EOB/ZRL AC run-lengths,
# 0xFF00 byte stuffing and DRI/RSTn restart intervals. A frame is one
# grayscale component, or Y/Cb/Cr with Y at (h, v) sampling 2x2, 2x1 or
# 1x1 and chroma at 1x1: interleaved MCUs of 8h x 8v pixels (h*v Y
# blocks + one Cb + one Cr). Table id 0 is luma, id 1 chroma — distinct
# quantization AND Huffman specs, so the component -> table-id wiring is
# exercised end-to-end. Progressive SOF2, 12-bit precision, other
# component counts or samplings, and corrupt streams return None.

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# (BITS, HUFFVAL) per table id. DC: 12 category symbols, all 5 bits for
# luma, 6 for chroma. AC: EOB + 160 (run, size) + ZRL, all 9 bits for
# luma, 10 for chroma. Canonical (codes are consecutive integers), and no
# code is the all-ones pattern of its length, as T.81 requires.
_JPEG_AC_SYMBOLS = (
    [0x00] + [(r << 4) | s for r in range(16) for s in range(1, 11)] + [0xF0]
)
_JPEG_DC_SPECS = (
    ([0, 0, 0, 0, 12] + [0] * 11, list(range(12))),
    ([0, 0, 0, 0, 0, 12] + [0] * 10, list(range(12))),
)
_JPEG_AC_SPECS = (
    ([0] * 8 + [162] + [0] * 7, _JPEG_AC_SYMBOLS),
    ([0] * 9 + [162] + [0] * 6, _JPEG_AC_SYMBOLS),
)

# Y (h, v) sampling factors with chroma at 1x1 -> the layout label.
# MCU = 8h x 8v pixels; chroma plane dims = (ceil(H/v), ceil(W/h)).
_JPEG_SAMPLINGS = {(2, 2): "420", (2, 1): "422", (1, 1): "444"}


def _jpeg_canonical_codes(bits, vals) -> "dict[tuple[int, int], int]":
    """{(length, code): symbol} per the T.81 Annex C code construction —
    the decode map of a DHT table; the encoder inverts it. A symbol
    listed twice simply owns two codes."""
    out: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


@_lru_cache(maxsize=None)
def _jpeg_encoder_codes(tid: int) -> "tuple[dict, dict]":
    """(DC, AC) symbol -> (code, length) maps of Huffman table ``tid``:
    its DHT decode maps inverted, built once per worker. Read-only by
    contract — ``_JpegScanWriter`` only looks codes up."""
    return tuple(
        {
            sym: (code, length)
            for (length, code), sym in _jpeg_canonical_codes(*specs[tid]).items()
        }
        for specs in (_JPEG_DC_SPECS, _JPEG_AC_SPECS)
    )


@_lru_cache(maxsize=None)
def _jpeg_dct_matrix():
    """Cached and WRITE-PROTECTED. The recompute itself measured ~nil
    (kernel profile 0.304 -> 0.302 s for 80 docs), so the cache is not a
    perf claim — the point is ``setflags(write=False)``: these tables are
    now shared across every block of every doc in a worker, and a single
    in-place mutation anywhere would silently corrupt all later docs'
    bit-pinned output. Read-only turns that class of bug into an
    immediate ValueError. Float bits identical either way."""
    import numpy as np

    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    a = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    a[0] /= np.sqrt(2.0)
    a.setflags(write=False)
    return a


@_lru_cache(maxsize=None)
def _jpeg_qtable(tid: int = 0):
    """Quantization table ``tid`` (0 luma, 1 chroma): q = 8 + slope*(u+v)
    with slope 4 / 6, natural order, cached and write-protected like the
    DCT matrix. q[0][0] = 8 in both — the block-constant exactness
    anchor."""
    import numpy as np

    u = np.arange(8).reshape(8, 1)
    v = np.arange(8).reshape(1, 8)
    q = (8 + (4, 6)[tid] * (u + v)).astype(np.int64)
    q.setflags(write=False)
    return q


def _pack_codes_msb(codes: "list[int]", widths: "list[int]") -> bytes:
    """MSB-first bit packing (the JPEG bit order), 1-padded to the byte
    boundary as T.81 requires, 0xFF00-stuffed."""
    import numpy as np

    c = np.asarray(codes, dtype=np.uint32)
    w = np.asarray(widths, dtype=np.int64)
    total = int(w.sum())
    offs = np.zeros(len(c), dtype=np.int64)
    np.cumsum(w[:-1], out=offs[1:])
    local = np.arange(total, dtype=np.int64) - np.repeat(offs, w)
    bits = (np.repeat(c, w) >> (np.repeat(w, w) - 1 - local).astype(np.uint32)) & 1
    buf = np.ones(((total + 7) // 8) * 8, dtype=np.uint8)  # pad bits are 1s
    buf[:total] = bits.astype(np.uint8)
    packed = np.packbits(buf)  # MSB-first
    # Byte stuffing: every 0xFF in the entropy stream is followed by 0x00.
    stuff_at = np.flatnonzero(packed == 0xFF)
    if stuff_at.size:
        packed = np.insert(packed, stuff_at + 1, 0)
    return packed.tobytes()


def _jpeg_quantized_blocks(plane, q, mult: "tuple[int, int]"):
    """(h, w) uint8 plane -> (bh, bw, 8, 8) int64 quantized DCT blocks,
    edge-padded to a multiple of ``mult`` = (8v, 8h) rows x columns for a
    component at (h, v) sampling: 8 for a 1x1 component, the whole MCU
    (16x16 for 4:2:0, 8 rows x 16 columns for 4:2:2) for a subsampled
    frame's luma plane."""
    import numpy as np

    mh, mw = mult
    a = np.asarray(plane, dtype=np.uint8)
    h, w = a.shape
    ph, pw = -(-h // mh) * mh, -(-w // mw) * mw
    padded = np.pad(a, ((0, ph - h), (0, pw - w)), mode="edge")
    blocks = (
        padded.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3).astype(np.float64)
        - 128.0
    )
    m = _jpeg_dct_matrix()
    # F = M @ block @ M.T for every block: F[u,v] = sum_xy M[u,x] b[x,y] M[v,y]
    coeffs = np.einsum("ux,bcxy,vy->bcuv", m, blocks, m)
    return np.round(coeffs / q).astype(np.int64)


class _JpegScanWriter:
    """Entropy-coded-segment builder for ``_jpeg_encode``: DPCM DC +
    run-length AC per block, any (dc, ac) canonical table pair per call."""

    def __init__(self) -> None:
        self.codes: list[int] = []
        self.widths: list[int] = []
        self._zz = None
        self._chunks: "list[bytes]" = []
        self._rst = 0

    def restart(self) -> None:
        """Byte-align the entropy stream (1-padded, T.81 B.2.1.2) and
        emit the next RSTn marker; the CALLER resets its DC predictors.
        Markers cycle D0..D7 — the modulo-8 sequence a decoder uses to
        detect dropped segments."""
        self._chunks.append(_pack_codes_msb(self.codes, self.widths))
        self._chunks.append(bytes([0xFF, 0xD0 + self._rst]))
        self._rst = (self._rst + 1) % 8
        self.codes, self.widths = [], []

    def _put(self, code_len: "tuple[int, int]") -> None:
        self.codes.append(code_len[0])
        self.widths.append(code_len[1])

    def _put_amp(self, v: int) -> None:
        size = abs(int(v)).bit_length()
        if size:
            amp = v if v > 0 else v + (1 << size) - 1
            self.codes.append(amp)
            self.widths.append(size)

    def block(self, coeff_block, prev_dc: int, dc_codes: dict, ac_codes: dict) -> int:
        """Encode one quantized 8x8 block; returns its DC (the next
        prev_dc for this block's component)."""
        import numpy as np

        if self._zz is None:
            self._zz = np.asarray(_JPEG_ZIGZAG)
        raw = coeff_block.reshape(64)
        diff = int(raw[0]) - prev_dc
        size = abs(diff).bit_length()
        self._put(dc_codes[size])
        if size:
            self._put_amp(diff)
        # DC-only fast path (content-checked, bit-identical): an all-zero
        # AC set emits exactly one EOB under the generic run-length walk
        # below, and raw[0] IS the zig-zag DC. Block-constant patterned
        # payloads — every block of every plane — take this branch, which
        # was ~46% of the whole encode (the 63-coefficient Python walk
        # per block); richer AC content (the round-trip unit fixtures)
        # still exercises the generic walk.
        if not raw[1:].any():
            self._put(ac_codes[0x00])  # EOB
            return int(raw[0])
        flat = raw[self._zz]
        run = 0
        for k in range(1, 64):
            v = int(flat[k])
            if v == 0:
                run += 1
                continue
            while run >= 16:
                self._put(ac_codes[0xF0])  # ZRL: sixteen zeros
                run -= 16
            size = abs(v).bit_length()
            self._put(ac_codes[(run << 4) | size])
            self._put_amp(v)
            run = 0
        if run:
            self._put(ac_codes[0x00])  # EOB
        return int(flat[0])

    def tobytes(self) -> bytes:
        return b"".join(self._chunks) + _pack_codes_msb(self.codes, self.widths)


def _jpeg_encode(
    planes, samp: "tuple[int, int]" = (1, 1), restart_interval: int = 0
) -> bytes:
    """Spec-valid baseline JPEG bytes. ``planes`` is either ``(gray,)``,
    one (H, W) uint8 plane at ``samp`` (1, 1), or ``(y, cb, cr)`` with
    ``y`` (H, W) and ``cb``/``cr`` (ceil(H/v), ceil(W/h)) uint8 — the
    subsampled planes a real encoder codes — at Y sampling ``samp`` =
    (h, v), a key of ``_JPEG_SAMPLINGS``. A grayscale frame carries only
    the luma DQT/DHT. ``restart_interval`` > 0 emits DRI + RSTn every
    that many MCUs, resetting every DPCM predictor — the camera-typical
    stream shape."""
    import struct

    import numpy as np

    n = len(planes)
    if samp not in _JPEG_SAMPLINGS or n not in (1, 3) or (n == 1 and samp != (1, 1)):
        raise ValueError(f"unsupported layout: {n} planes at sampling {samp}")
    height, width = np.shape(planes[0])
    # (component id, h, v, table id): Y carries the frame sampling.
    comps = [(1, *samp, 0), (2, 1, 1, 1), (3, 1, 1, 1)][:n]
    tables = (0,) if n == 1 else (0, 1)
    coeffs = [
        _jpeg_quantized_blocks(p, _jpeg_qtable(t), mult=(8 * v, 8 * h))
        for p, (_, h, v, t) in zip(planes, comps)
    ]
    # The Y grid is padded to whole MCUs; chroma blocks are 1:1 with MCUs.
    mcu_h, mcu_w = coeffs[0].shape[0] // samp[1], coeffs[0].shape[1] // samp[0]
    for c, (_, h, v, _) in zip(coeffs, comps):
        if c.shape[:2] != (v * mcu_h, h * mcu_w):
            raise ValueError("plane shapes disagree with the MCU grid")
    scan = [
        (c, h, v, *_jpeg_encoder_codes(t)) for c, (_, h, v, t) in zip(coeffs, comps)
    ]
    writer = _JpegScanWriter()
    pdc = [0] * n  # per-component DPCM predictors
    mcu = 0
    for my in range(mcu_h):
        for mx in range(mcu_w):
            if restart_interval and mcu and mcu % restart_interval == 0:
                writer.restart()
                pdc = [0] * n
            mcu += 1
            for ci, (c, h, v, dc_codes, ac_codes) in enumerate(scan):
                for dy in range(v):  # a component's blocks in raster order
                    for dx in range(h):
                        pdc[ci] = writer.block(
                            c[v * my + dy, h * mx + dx], pdc[ci], dc_codes, ac_codes
                        )
    zz = np.asarray(_JPEG_ZIGZAG)
    segs = [b"\xff\xd8"]
    for t in tables:
        qz = bytes(_jpeg_qtable(t).reshape(64)[zz].tolist())
        segs.append(b"\xff\xdb" + struct.pack(">HB", 67, t) + qz)
    segs.append(
        b"\xff\xc0"
        + struct.pack(">HBHHB", 8 + 3 * n, 8, height, width, n)
        + b"".join(bytes([cid, (h << 4) | v, t]) for cid, h, v, t in comps)
    )
    for t in tables:
        for cls, specs in ((0, _JPEG_DC_SPECS), (1, _JPEG_AC_SPECS)):
            bits, vals = specs[t]
            payload = bytes(bits) + bytes(vals)
            segs.append(
                b"\xff\xc4"
                + struct.pack(">HB", 3 + len(payload), (cls << 4) | t)
                + payload
            )
    if restart_interval:
        segs.append(b"\xff\xdd" + struct.pack(">HH", 4, restart_interval))
    segs.append(
        b"\xff\xda"
        + struct.pack(">HB", 6 + 2 * n, n)
        + b"".join(bytes([cid, (t << 4) | t]) for cid, _, _, t in comps)
        + b"\x00\x3f\x00"
    )
    segs.append(writer.tobytes())
    segs.append(b"\xff\xd9")
    return b"".join(segs)


def _jpeg_walk(payload: bytes):
    """Baseline marker walk for ``_jpeg_decode``: DQT (8-bit only), DHT
    (any canonical tables the file declares), DRI, the SOF0 frame header,
    and the SOS scan header. Returns ``(qtables, dc_tabs, ac_tabs,
    sof_data, sos_data, scan_start, ri)`` with sof_data/sos_data the RAW
    segment payloads (the decoder validates the component layout) and
    ``ri`` the restart interval in MCUs (0 = none), or None for anything
    outside baseline sequential (progressive SOF2 and friends, 16-bit DQT,
    corrupt segment structure)."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        return None
    n = len(payload)
    qtables: dict[int, "object"] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    sof = sos = scan_start = None
    ri = 0
    i = 2
    while i + 4 <= n:
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        if marker == 0xFF:
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9:
            break
        seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
        if seg_len < 2 or i + 2 + seg_len > n:
            return None
        data = payload[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:
            j = 0
            while j < len(data):
                if data[j] >> 4 != 0:  # 16-bit table: out of profile
                    return None
                if j + 65 > len(data):
                    return None
                qtables[data[j] & 15] = np.frombuffer(
                    data[j + 1 : j + 65], dtype=np.uint8
                ).astype(np.int64)
                j += 65
        elif marker == 0xC4:
            j = 0
            while j + 17 <= len(data):
                tc, th = data[j] >> 4, data[j] & 15
                bits = list(data[j + 1 : j + 17])
                cnt = sum(bits)
                vals = data[j + 17 : j + 17 + cnt]
                if len(vals) < cnt or tc > 1:
                    return None
                (dc_tabs if tc == 0 else ac_tabs)[th] = _jpeg_canonical_codes(bits, vals)
                j += 17 + cnt
        elif marker in _JPEG_SOF:
            if marker != 0xC0 or len(data) < 6 or len(data) < 6 + 3 * data[5]:
                return None  # baseline sequential only
            sof = data
        elif marker == 0xDD:
            if len(data) != 2:
                return None
            ri = int.from_bytes(data, "big")
        elif marker == 0xDA:
            if len(data) < 1 or len(data) < 4 + 2 * (data[0] - 1):
                return None
            sos = data
            scan_start = i + 2 + seg_len
            break
        i += 2 + seg_len
    if sof is None or sos is None:
        return None
    return qtables, dc_tabs, ac_tabs, sof, sos, scan_start, ri


class _JpegBitReader:
    """Entropy-segment bit cursor: canonical-Huffman code reads and T.81
    amplitude (SSSS-extended) reads."""

    def __init__(self, bits: "list[int]") -> None:
        self.bl = bits
        self.total = len(bits)
        self.pos = 0

    def read_code(self, tab: dict) -> "int | None":
        code = 0
        for length in range(1, 17):
            if self.pos >= self.total:
                return None
            code = (code << 1) | self.bl[self.pos]
            self.pos += 1
            sym = tab.get((length, code))
            if sym is not None:
                return sym
        return None

    def read_amp(self, size: int) -> "int | None":
        if size == 0:
            return 0
        if self.pos + size > self.total:
            return None
        v = 0
        for b in self.bl[self.pos : self.pos + size]:
            v = (v << 1) | b
        self.pos += size
        if v < 1 << (size - 1):
            v -= (1 << size) - 1
        return v


def _jpeg_entropy_segments(payload: bytes, start: int) -> "list[list[int]] | None":
    """Entropy-coded data -> one bit list PER RESTART SEGMENT. Each
    segment ends at an RSTn marker (whose modulo-8 index must follow the
    D0..D7 cycle — an out-of-sequence marker means a dropped segment and
    fails the stream) or at the first other non-stuffed marker; 0xFF00
    unstuffed per segment. A stream with no restarts returns exactly one
    segment."""
    import numpy as np

    n = len(payload)
    segs: "list[list[int]]" = []
    expect = 0
    seg_start = j = start
    end = n
    while j + 1 < n:
        if payload[j] != 0xFF:
            j += 1
            continue
        nxt = payload[j + 1]
        if nxt == 0x00:
            j += 2
            continue
        if 0xD0 <= nxt <= 0xD7:
            if nxt - 0xD0 != expect:
                return None  # out-of-sequence restart marker
            raw = payload[seg_start:j].replace(b"\xff\x00", b"\xff")
            segs.append(np.unpackbits(np.frombuffer(raw, dtype=np.uint8)).tolist())
            expect = (expect + 1) % 8
            j += 2
            seg_start = j
            continue
        end = j
        break
    raw = payload[seg_start:end].replace(b"\xff\x00", b"\xff")
    segs.append(np.unpackbits(np.frombuffer(raw, dtype=np.uint8)).tolist())
    return segs


def _jpeg_read_block(rd: _JpegBitReader, dc_tab: dict, ac_tab: dict, blk, prev_dc: int) -> "int | None":
    """Huffman + DPCM DC + run-length AC for one block into ``blk`` (a
    64-wide zigzag int64 view); returns the block's DC, or None on any
    stream error."""
    s = rd.read_code(dc_tab)
    if s is None or s > 11:
        return None
    d = rd.read_amp(s)
    if d is None:
        return None
    dc = prev_dc + d
    blk[0] = dc
    k = 1
    while k < 64:
        sym = rd.read_code(ac_tab)
        if sym is None:
            return None
        if sym == 0x00:
            break  # EOB
        if sym == 0xF0:
            k += 16  # ZRL: sixteen zeros
            continue
        k += sym >> 4
        size = sym & 15
        if k >= 64 or size == 0:
            return None
        v = rd.read_amp(size)
        if v is None:
            return None
        blk[k] = v
        k += 1
    return dc


def _jpeg_idct_plane(zzvec, qtab):
    """(bh, bw, 64) zigzag coefficients + zigzag qtable -> (bh*8, bw*8)
    uint8 plane: dequantize, unzigzag, one inverse-DCT einsum over all
    blocks, level shift, round-half-even, clamp."""
    import numpy as np

    zzvec = zzvec * qtab  # DQT ships in zigzag order: dequantize there
    nat = np.empty_like(zzvec)
    nat[:, :, _JPEG_ZIGZAG] = zzvec
    m = _jpeg_dct_matrix()
    bh, bw = zzvec.shape[:2]
    f = nat.reshape(bh, bw, 8, 8).astype(np.float64)
    recon = np.einsum("ux,bcuv,vy->bcxy", m, f, m) + 128.0
    px = np.clip(np.round(recon), 0, 255).astype(np.uint8)
    return px.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)


def _jpeg_decode(payload: bytes) -> "tuple | None":
    """REAL pixel decode for baseline-sequential 8-bit JPEG (SOF0): marker
    walk -> DQT/DHT -> per-restart-segment 0xFF00 unstuffing -> one
    interleaved-MCU loop of Huffman + per-component DPCM DC + run-length
    AC -> per-plane dequantize + inverse DCT -> nearest-neighbor chroma
    upsample, crop. Restart segments must match the declared DRI interval
    exactly and follow the D0..D7 cycle; every DC predictor resets per
    segment. Returns the full-resolution uint8 planes — ``(gray,)`` for
    one component, ``(y, cb, cr)`` for three — or None for anything
    outside the profile (progressive SOF2, 12-bit precision, other
    component counts or samplings, corrupt streams): the same
    tolerate-don't-throw contract as the PNG and GIF paths."""
    import numpy as np

    walked = _jpeg_walk(payload)
    if walked is None:
        return None
    qtables, dc_tabs, ac_tabs, sof, sos, start, ri = walked
    n = sof[5]
    height = int.from_bytes(sof[1:3], "big")
    width = int.from_bytes(sof[3:5], "big")
    if sof[0] != 8 or n not in (1, 3) or width == 0 or height == 0:
        return None
    # Colour needs the complete 10-byte scan header; a gray one is read
    # only up to its table byte (3n + 1 bytes covers both).
    if sos[0] != n or len(sos) < 3 * n + 1:
        return None
    frame = {sof[6 + 3 * c]: sof[7 + 3 * c : 9 + 3 * c] for c in range(n)}
    order = []  # (h, v, qtable, dc_tab, ac_tab) per component, scan order
    for c in range(n):
        # A one-component scan can only code the frame's one component.
        comp = frame.get(sos[1 + 2 * c]) if n > 1 else sof[7:9]
        if comp is None:
            return None
        (samp, qid), tabs = comp, sos[2 + 2 * c]
        dc_id, ac_id = tabs >> 4, tabs & 15
        if qid not in qtables or dc_id not in dc_tabs or ac_id not in ac_tabs:
            return None
        order.append((samp >> 4, samp & 15, qtables[qid], dc_tabs[dc_id], ac_tabs[ac_id]))
    sh, sv = order[0][:2]
    if (sh, sv) not in _JPEG_SAMPLINGS or (n == 1 and (sh, sv) != (1, 1)):
        return None  # gray is 1x1; Y is 2x2, 2x1 or 1x1
    if any(o[:2] != (1, 1) for o in order[1:]):
        return None  # chroma always 1x1
    segs = _jpeg_entropy_segments(payload, start)
    if segs is None:
        return None
    mh, mw = -(-height // (8 * sv)), -(-width // (8 * sh))
    if len(segs) != (1 if ri == 0 else -(-(mh * mw) // ri)):
        return None
    zz = [np.zeros((v * mh, h * mw, 64), dtype=np.int64) for h, v, *_ in order]
    rd = _JpegBitReader(segs[0])
    seg_i = mcu = 0
    pdc = [0] * n
    for my in range(mh):
        for mx in range(mw):
            if ri and mcu and mcu % ri == 0:
                seg_i += 1
                rd = _JpegBitReader(segs[seg_i])
                pdc = [0] * n  # T.81: ALL predictors reset per restart
            mcu += 1
            for ci, (h, v, _, dc_tab, ac_tab) in enumerate(order):
                for dy in range(v):
                    for dx in range(h):
                        pdc[ci] = _jpeg_read_block(
                            rd, dc_tab, ac_tab, zz[ci][v * my + dy, h * mx + dx], pdc[ci]
                        )
                        if pdc[ci] is None:
                            return None
    planes = []
    for (h, v, q, _, _), z in zip(order, zz):
        p = _jpeg_idct_plane(z, q)
        if (h, v) != (sh, sv):  # subsampled chroma: crop, then upsample
            p = p[: -(-height // sv), : -(-width // sh)]
            p = np.repeat(np.repeat(p, sv, axis=0), sh, axis=1)
        planes.append(p[:height, :width])
    return tuple(planes)


def _jpeg_pattern_planes(width: int, height: int, seed: int, samp: "tuple[int, int]"):
    """(y, cb, cr) uint8 planes, each constant per MCU (8h x 8v pixels at
    Y sampling ``samp`` = (h, v)), cb/cr at their subsampled size:
    Y(x, y) = (3*(x//(8h)) + 7*(y//(8v)) + seed) % 256,
    Cb = (11*mx + 5*my + 2*seed) % 256, Cr = (13*mx + 3*my + 3*seed) % 256.
    Every 8x8 block of every plane is constant, so the lossy DCT round-trip
    is bit-exact (both qtables anchor q[0][0] = 8) — what lets the DuckDB
    oracles predict decoded pixels in closed form. Richer AC/chroma
    content is exercised by the round-trip unit tests."""
    import numpy as np

    sh, sv = samp
    pw, ph = 8 * sh, 8 * sv  # MCU pixel dims
    mw, mh = -(-width // pw), -(-height // ph)
    mx = np.arange(mw, dtype=np.int64)[None, :]
    my = np.arange(mh, dtype=np.int64)[:, None]
    yv = (3 * mx + 7 * my + seed) % 256
    cbv = (11 * mx + 5 * my + 2 * seed) % 256
    crv = (13 * mx + 3 * my + 3 * seed) % 256
    y = np.repeat(np.repeat(yv, ph, axis=0), pw, axis=1)[:height, :width]
    ch, cw = -(-height // sv), -(-width // sh)
    cb = np.repeat(np.repeat(cbv, 8, axis=0), 8, axis=1)[:ch, :cw]
    cr = np.repeat(np.repeat(crv, 8, axis=0), 8, axis=1)[:ch, :cw]
    return y.astype(np.uint8), cb.astype(np.uint8), cr.astype(np.uint8)


def _jpeg_bytes_patterned(width: int, height: int, seed: int) -> bytes:
    """A spec-valid grayscale baseline JPEG: the 1x1 Y plane of
    ``_jpeg_pattern_planes``, pixel (x, y) = (3*(x//8) + 7*(y//8) + seed)
    % 256."""
    return _jpeg_encode(_jpeg_pattern_planes(width, height, seed, (1, 1))[:1])


def _jpeg_color_bytes_patterned(
    width: int, height: int, seed: int, samp: "tuple[int, int]" = (2, 2)
) -> bytes:
    """A spec-valid YCbCr baseline JPEG of ``_jpeg_pattern_planes`` at any
    of the three supported samplings."""
    return _jpeg_encode(_jpeg_pattern_planes(width, height, seed, samp), samp)


def _ycbcr_to_rgb(y, cb, cr):
    """JFIF YCbCr -> RGB, floor(x + 0.5) rounding (NOT numpy's
    round-half-even) so a DuckDB oracle can replicate every ulp: both
    engines evaluate the identical left-associated double expression and
    the identical floor."""
    import numpy as np

    yf = np.asarray(y, dtype=np.float64)
    cbf = np.asarray(cb, dtype=np.float64) - 128.0
    crf = np.asarray(cr, dtype=np.float64) - 128.0
    r = np.floor(yf + 1.402 * crf + 0.5)
    g = np.floor(yf - 0.344136 * cbf - 0.714136 * crf + 0.5)
    b = np.floor(yf + 1.772 * cbf + 0.5)
    clip = lambda p: np.clip(p, 0, 255).astype(np.int64)  # noqa: E731
    return clip(r), clip(g), clip(b)


def media_real_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container bytes, decoded for REAL: a spec-valid PNG (even
    doc_id) or GIF89a (odd doc_id) sized by ``_doc_dims``, then width x
    height parsed back out of the actual bytes with the stdlib header
    parser, both in the one Arrow-batched pass of ``_per_doc``. The
    oracle predicts the dimensions from doc_id alone and agrees only if
    encoder and parser are both correct. Byte-level encoder integrity
    (lengths, CRCs, and that a strict third-party decoder accepts the
    files) is pinned in tests/test_multimodal.py, where zlib is available
    to check."""

    def row(d: int) -> tuple:
        w, h = _doc_dims(d)
        payload = _png_bytes(w, h) if d % 2 == 0 else _gif_bytes(w, h)
        dims = _parse_image_header(payload) or (None, None)
        return (d, "image/png" if d % 2 == 0 else "image/gif", *dims)

    return _per_doc(
        spark, sf_dir, row, "doc_id bigint, mime string, width int, height int"
    )


MEDIA_REAL_ROUNDTRIP_ORACLE = """
SELECT
    doc_id,
    CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/gif' END AS mime,
    CAST((doc_id % 64) + 16 AS INT) AS width,
    CAST(((doc_id // 64) % 64) + 16 AS INT) AS height
FROM documents
"""


RESIZE_BOX = 32  # aspect-fit target box (stand-in for a thumbnail pipeline)


_RESIZE_SCHEMA = (
    "doc_id bigint, mime string, width int, height int, out_w int,"
    " out_h int, px_sum bigint"
)


def _resize_features(payload: bytes) -> tuple:
    """(width, height, out_w, out_h, px_sum) of one image payload: REAL
    pixel-level decode dispatched on magic bytes — 8-bit grayscale PNG
    (stdlib inflate + full scanline unfilter None/Sub/Up/Average/Paeth),
    8-bit palette GIF (sub-block reassembly + dictionary LZW + palette
    lookup), or grayscale baseline JPEG (Huffman + dequantize + inverse
    DCT) — then a nearest-neighbor aspect-fit into a RESIZE_BOX square;
    ``px_sum`` is the sum of resampled pixel values, the verifiable
    fingerprint of the pixel path. Payloads outside those profiles (video,
    colour JPEG, progressive variants — still codec-library territory)
    yield an all-None tuple, the tolerate-don't-throw crawl contract."""
    if payload[:6] in (b"GIF89a", b"GIF87a"):
        px = _gif_decode_gray(payload)
    elif payload[:2] == b"\xff\xd8":
        planes = _jpeg_decode(payload)
        px = planes[0] if planes is not None and len(planes) == 1 else None
    else:
        px = _png_decode_gray(payload)
    if px is None:
        return (None,) * 5
    h, w = px.shape
    scale = min(RESIZE_BOX / w, RESIZE_BOX / h)
    ow, oh = int(w * scale), int(h * scale)
    return w, h, ow, oh, int(_nn_resize(px, ow, oh).sum(dtype="int64"))


def media_real_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel path, end-to-end and driver-verifiable: synthesize a
    patterned image per document, sized by ``_doc_dims`` with pixel
    (x, y) = (3x + 7y + doc_id) % 256 — PNG (scanline filters cycling
    through all five types) for even doc_id, GIF89a (real dictionary-LZW
    stream over a grayscale palette) for odd — then ``_resize_features``:
    magic-byte dispatch into stdlib inflate + full unfilter, or sub-block
    reassembly + LZW decode + palette lookup, then nearest-neighbor
    resample. The oracle predicts the resampled pixel SUM in closed form
    from doc_id alone, so the hash only matches if both encoders, both
    decode paths, and the floor-index resampling are all correct at the
    pixel level.

    100 TB shape: one map-only Arrow stage over a narrow doc_id scan;
    payloads never leave the Python worker or cross a shuffle.
    """

    def row(d: int) -> tuple:
        w, h = _doc_dims(d)
        if d % 2 == 0:
            return d, "image/png", *_resize_features(_png_bytes_patterned(w, h, d))
        return d, "image/gif", *_resize_features(_gif_bytes_patterned(w, h, d))

    return _per_doc(spark, sf_dir, row, _RESIZE_SCHEMA)


# Closed-form pixel-sum prediction for media_real_resize: the resampled
# pixel at (i, j) is pattern((j*w)//ow, (i*h)//oh), so the sum is exactly
# computable from doc_id — any defect in PNG filtering/inflate/unfilter,
# GIF LZW coding, or index mapping changes px_sum. The pattern (and thus
# this oracle) is format-independent; only the mime label differs.
MEDIA_REAL_RESIZE_ORACLE = f"""
WITH d AS (
    SELECT doc_id,
           (doc_id % 64) + 16 AS w,
           ((doc_id // 64) % 64) + 16 AS h
    FROM documents
),
s AS (
    SELECT doc_id, w, h,
           CAST(trunc(w * least({RESIZE_BOX}.0 / w, {RESIZE_BOX}.0 / h)) AS INT) AS ow,
           CAST(trunc(h * least({RESIZE_BOX}.0 / w, {RESIZE_BOX}.0 / h)) AS INT) AS oh
    FROM d
),
g AS (SELECT doc_id, w, h, ow, oh,
             unnest(generate_series(0, oh - 1)) AS i
      FROM s),
g2 AS (SELECT doc_id, w, h, ow, oh, i,
              unnest(generate_series(0, ow - 1)) AS j
       FROM g)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/gif' END AS mime,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       ow AS out_w,
       oh AS out_h,
       CAST(sum((3 * ((j * w) // ow) + 7 * ((i * h) // oh) + doc_id) % 256)
            AS BIGINT) AS px_sum
FROM g2
GROUP BY doc_id, w, h, ow, oh
"""


def media_real_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline-JPEG twin of ``media_real_resize``: synthesize a real
    grayscale SOF0 stream per document, sized by ``_doc_dims``, with the
    block-constant pattern (3*(x//8) + 7*(y//8) + doc_id) % 256, then the
    REAL decode path (marker walk, canonical Huffman from DHT, DPCM DC,
    dequantize, inverse DCT) + nearest-neighbor resample
    (``_resize_features``). The oracle predicts the resampled pixel sum in
    closed form from doc_id alone — possible for a lossy codec only
    because the pattern is constant per 8x8 block, which the DCT
    round-trip preserves exactly (see ``_jpeg_pattern_planes``)."""
    return _per_doc(
        spark,
        sf_dir,
        lambda d: (
            d,
            "image/jpeg",
            *_resize_features(_jpeg_bytes_patterned(*_doc_dims(d), d)),
        ),
        _RESIZE_SCHEMA,
    )


# Resampled source pixel (i, j) -> ((j*w)//ow, (i*h)//oh); the pattern
# depends only on that pixel's 8x8 block coordinates.
MEDIA_REAL_JPEG_ORACLE = f"""
WITH d AS (
    SELECT doc_id,
           (doc_id % 64) + 16 AS w,
           ((doc_id // 64) % 64) + 16 AS h
    FROM documents
),
s AS (
    SELECT doc_id, w, h,
           CAST(trunc(w * least({RESIZE_BOX}.0 / w, {RESIZE_BOX}.0 / h)) AS INT) AS ow,
           CAST(trunc(h * least({RESIZE_BOX}.0 / w, {RESIZE_BOX}.0 / h)) AS INT) AS oh
    FROM d
),
g AS (SELECT doc_id, w, h, ow, oh,
             unnest(generate_series(0, oh - 1)) AS i
      FROM s),
g2 AS (SELECT doc_id, w, h, ow, oh, i,
              unnest(generate_series(0, ow - 1)) AS j
       FROM g)
SELECT doc_id,
       'image/jpeg' AS mime,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       ow AS out_w,
       oh AS out_h,
       CAST(sum((3 * (((j * w) // ow) // 8) + 7 * (((i * h) // oh) // 8) + doc_id) % 256)
            AS BIGINT) AS px_sum
FROM g2
GROUP BY doc_id, w, h, ow, oh
"""


def media_real_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YCbCr colour twin of ``media_real_jpeg``, covering ALL THREE common
    baseline chroma layouts (doc_id % 3 cycles 4:2:0 / 4:2:2 / 4:4:4, so
    every driver run hash-verifies every MCU geometry): synthesize a
    spec-valid three-component SOF0 stream per document (interleaved
    MCUs, distinct luma/chroma quantization AND Huffman tables), then the
    REAL decode path (``_jpeg_decode``: marker walk, per-component
    sampling factors and table wiring, per-component DPCM, dequantize +
    inverse DCT per plane, nearest-neighbor chroma upsample) and the JFIF
    YCbCr -> RGB conversion, reporting per-channel pixel sums. The oracle
    predicts all three sums in closed form from doc_id alone — possible
    for a lossy SUBSAMPLED codec only because Y/Cb/Cr are each constant
    per MCU (see ``_jpeg_pattern_planes``) and the RGB rounding is
    floor(x + 0.5) in IDENTICAL left-associated double arithmetic on both
    engines (``_ycbcr_to_rgb``).

    Encode -> decode -> convert runs in the one Arrow-batched pass of
    ``_per_doc``; payloads live and die inside each batch. Richer
    AC/chroma content is pinned by the round-trip unit tests in
    tests/test_multimodal.py, where the decoder is checked against the
    encoder's reference reconstruction.
    """
    import numpy as np

    samps = ((2, 2), (2, 1), (1, 1))  # doc_id % 3 -> 420 / 422 / 444

    def row(d: int) -> tuple:
        w, h = _doc_dims(d)
        samp = samps[d % 3]
        decoded = _jpeg_decode(_jpeg_color_bytes_patterned(w, h, d, samp))
        sums = (
            (None, None, None)
            if decoded is None
            else tuple(int(np.sum(c)) for c in _ycbcr_to_rgb(*decoded))
        )
        return (d, "image/jpeg", _JPEG_SAMPLINGS[samp], w, h, *sums)

    return _per_doc(
        spark,
        sf_dir,
        row,
        "doc_id bigint, mime string, samp string, width int, height int,"
        " r_sum bigint, g_sum bigint, b_sum bigint",
    )


# Per-MCU closed form: each MCU (mx, my) — 8h x 8v pixels, with (h, v)
# cycling 4:2:0 / 4:2:2 / 4:4:4 by doc_id % 3 — carries one (Y, Cb, Cr)
# triple -> one RGB triple; the sum weights it by the MCU's un-cropped
# pixel count. The floor/LEAST/GREATEST arithmetic mirrors _ycbcr_to_rgb
# term for term (identical left-associated doubles on both engines).
MEDIA_REAL_JPEG_COLOR_ORACLE = """
WITH d AS (
    SELECT doc_id,
           (doc_id % 64) + 16 AS w,
           ((doc_id // 64) % 64) + 16 AS h,
           CASE doc_id % 3 WHEN 0 THEN '420' WHEN 1 THEN '422'
                ELSE '444' END AS samp,
           CASE doc_id % 3 WHEN 2 THEN 8 ELSE 16 END AS mcw,
           CASE doc_id % 3 WHEN 0 THEN 16 ELSE 8 END AS mch
    FROM documents
),
g AS (SELECT doc_id, w, h, samp, mcw, mch,
             unnest(generate_series(0, (h + mch - 1) // mch - 1)) AS my
      FROM d),
g2 AS (SELECT doc_id, w, h, samp, mcw, mch, my,
              unnest(generate_series(0, (w + mcw - 1) // mcw - 1)) AS mx
       FROM g),
m AS (
    SELECT doc_id, w, h, samp,
           LEAST(mcw, w - mcw * mx) * LEAST(mch, h - mch * my) AS cnt,
           (3 * mx + 7 * my + doc_id) % 256 AS y,
           (11 * mx + 5 * my + 2 * doc_id) % 256 AS cb,
           (13 * mx + 3 * my + 3 * doc_id) % 256 AS cr
    FROM g2
)
SELECT doc_id,
       'image/jpeg' AS mime,
       samp,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(sum(cnt * LEAST(GREATEST(FLOOR(y + 1.402 * (cr - 128) + 0.5), 0), 255))
            AS BIGINT) AS r_sum,
       CAST(sum(cnt * LEAST(GREATEST(
                FLOOR(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5),
                0), 255))
            AS BIGINT) AS g_sum,
       CAST(sum(cnt * LEAST(GREATEST(FLOOR(y + 1.772 * (cb - 128) + 0.5), 0), 255))
            AS BIGINT) AS b_sum
FROM m
GROUP BY doc_id, w, h, samp
"""


# --- real audio: RIFF/WAVE PCM decode + resample + window features ----------

WAV_TARGET_SR = 4000        # resample target (feature-extraction rate)
_WAV_RATES = (8000, 12000, 16000, 20000)


def _wav_bytes_patterned(doc_id: int) -> bytes:
    """A spec-valid RIFF/WAVE PCM file per document: mono, 8-bit unsigned
    (even doc_id, sample i = (5i + doc_id) % 256) or 16-bit signed LE (odd
    doc_id, sample i = (7i + doc_id) % 65536 - 32768), sample rate cycling
    8/12/16/20 kHz by doc_id % 4, 256..767 samples. Every fifth document
    carries an odd-length junk LIST chunk (with its spec pad byte) before
    `data`, so a decoder must genuinely walk and skip chunks."""
    import struct

    import numpy as np

    d = int(doc_id)
    sr = _WAV_RATES[d % 4]
    n = 256 + d % 512
    if d % 2 == 0:
        samples = ((5 * np.arange(n, dtype=np.int64) + d) % 256).astype(np.uint8)
        bits = 8
    else:
        samples = (
            (7 * np.arange(n, dtype=np.int64) + d) % 65536 - 32768
        ).astype("<i2")
        bits = 16
    data = samples.tobytes()
    block = bits // 8
    fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * block, block, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if d % 5 == 0:
        junk = b"INFOabc"  # 7 bytes: odd size forces the RIFF pad byte
        chunks += b"LIST" + struct.pack("<I", len(junk)) + junk + b"\x00"
    chunks += b"data" + struct.pack("<I", len(data)) + data
    if len(data) % 2 == 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _wav_decode(payload: bytes) -> "tuple[int, object] | None":
    """REAL RIFF/WAVE parser: magic check, chunk walk with word-alignment
    padding, fmt validation (PCM, mono, 8/16-bit), sample decode to int64
    (8-bit kept raw 0..255, 16-bit signed). Returns (sample_rate, samples)
    or None on anything malformed — tolerate, never throw."""
    import struct

    import numpy as np

    if not isinstance(payload, (bytes, bytearray)) or len(payload) < 12:
        return None
    if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos = 12
    fmt = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (csz,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + csz]
        if len(body) < csz:
            return None  # truncated chunk
        if cid == b"fmt ":
            if csz < 16:
                return None
            audio_format, channels, sr, _byte_rate, _block, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if audio_format != 1 or channels != 1 or bits not in (8, 16) or sr == 0:
                return None
            fmt = (sr, bits)
        elif cid == b"data":
            if fmt is None:
                return None  # data before fmt: reject
            sr, bits = fmt
            if bits == 8:
                samples = np.frombuffer(body, dtype=np.uint8).astype(np.int64)
            else:
                if csz % 2 == 1:
                    return None
                samples = np.frombuffer(body, dtype="<i2").astype(np.int64)
            return sr, samples
        # unknown chunk: skip (word-aligned)
        pos += 8 + csz + (csz & 1)
    return None  # no data chunk


def _wav_features(payload: bytes) -> tuple:
    """(sr, n_samples, out_n, samp_sum, samp_sq_sum) of one WAV payload:
    REAL WAV parse, nearest-neighbor resample to WAV_TARGET_SR (out[j] =
    in[(j*n)//out_n] — the same floor-index mapping the image resampler
    uses), integer sum/sq-sum of the resampled signal (the
    exactly-checkable stand-ins for energy/loudness features). A
    malformed payload yields an all-None tuple; a signal too short to
    resample keeps its rate and length and NULLs the rest."""
    import numpy as np

    decoded = _wav_decode(payload)
    if decoded is None:
        return (None,) * 5
    sr, samples = decoded
    n = len(samples)
    out_n = (n * WAV_TARGET_SR) // sr
    if out_n < 1:
        return sr, n, None, None, None
    rs = samples[(np.arange(out_n, dtype=np.int64) * n) // out_n]
    return sr, n, out_n, int(rs.sum()), int((rs * rs).sum())


def media_real_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio twin of ``media_real_resize``: synthesize a real RIFF/WAVE
    stream per document, then the REAL decode path (magic check, chunk
    walk with pad bytes, PCM fmt validation, 8/16-bit sample decode) +
    floor-index resample + integer energy features (``_wav_features``).
    The oracle predicts sum and sum-of-squares of the resampled signal in
    closed form from doc_id alone, so the hash only matches if header
    parse, chunk skipping, sample decode, and index mapping are all
    byte-correct.

    100 TB shape: one map-only Arrow stage over a narrow doc_id scan;
    payloads never cross a shuffle."""
    return _per_doc(
        spark,
        sf_dir,
        lambda d: (d, "audio/wav", *_wav_features(_wav_bytes_patterned(d))),
        "doc_id bigint, mime string, sr int, n_samples int, out_n int, "
        "samp_sum bigint, samp_sq_sum bigint",
    )


MEDIA_REAL_WAV_ORACLE = f"""
WITH d AS (
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 12000
                           WHEN 2 THEN 16000 ELSE 20000 END AS sr,
           256 + doc_id % 512 AS n
    FROM documents
),
s AS (SELECT doc_id, sr, n, (n * {WAV_TARGET_SR}) // sr AS out_n FROM d),
g AS (SELECT doc_id, sr, n, out_n,
             unnest(generate_series(0, out_n - 1)) AS j
      FROM s),
v AS (SELECT doc_id, sr, n, out_n,
             CASE WHEN doc_id % 2 = 0
                  THEN (5 * ((j * n) // out_n) + doc_id) % 256
                  ELSE (7 * ((j * n) // out_n) + doc_id) % 65536 - 32768
             END AS sv
      FROM g)
SELECT doc_id,
       'audio/wav' AS mime,
       CAST(sr AS INT) AS sr,
       CAST(n AS INT) AS n_samples,
       CAST(out_n AS INT) AS out_n,
       CAST(sum(sv) AS BIGINT) AS samp_sum,
       CAST(sum(sv * sv) AS BIGINT) AS samp_sq_sum
FROM v
GROUP BY doc_id, sr, n, out_n
"""


# --- real video: RIFF/AVI container parse + frame sample + features ----------
#
# Video twin of the real WAV path (reference has no video surface; this is
# the training-pipeline extension): one spec-valid uncompressed 8-bit-DIB
# AVI per document, then a REAL container parse — RIFF walk, hdrl/avih
# header, strl stream enumeration (vids + a to-be-skipped audio stream),
# BITMAPINFOHEADER + 256-entry RGBQUAD palette, movi sub-chunk walk with
# word-alignment pads, idx1 frame-count cross-check — and bottom-up
# stride-padded DIB row decode through the (non-identity) palette. The
# closed-form oracle predicts quadrant/full pixel sums from doc_id, so the
# hash only matches if chunk skipping, stride handling, row orientation,
# AND the palette lookup are all byte-correct (a full-frame sum alone
# would be orientation-blind; the top-left-quadrant sum is not).

AVI_SAMPLE_FRAMES = 4       # frames sampled per video (floor-index mapping)
_AVI_PAL_MULT = 37          # palette r = (index * 37) % 256 — a bijection,
#                             so a decoder that skips the palette is caught


def _avi_bytes_patterned(doc_id: int) -> bytes:
    """A spec-valid RIFF/AVI file per document: one 'vids' stream of
    3..8 uncompressed 8-bit palettized DIB frames (w 6..14, h 5..11 —
    stride padding exercised whenever w % 4 != 0), pixel index
    (doc_id + 11*frame + 7*y + 5*x) % 256 stored BOTTOM-UP, palette
    r=g=b=(i*37)%256. Every 5th document carries an odd-length JUNK chunk
    before movi (pad byte), every 7th an audio '01wb' sub-chunk inside
    movi that a frame walker must skip; idx1 indexes the frames."""
    import struct

    d = int(doc_id)
    w = 6 + d % 9
    h = 5 + d % 7
    nf = 3 + d % 6
    stride = (w + 3) & ~3

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(four: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", four + body)

    frames = []
    for f in range(nf):
        rows = bytearray()
        for r in range(h):  # bottom-up storage
            y = h - 1 - r
            rows += bytes((d + 11 * f + 7 * y + 5 * x) % 256 for x in range(w))
            rows += b"\x00" * (stride - w)
        frames.append(bytes(rows))

    avih = struct.pack("<10I", 40000, 0, 0, 0, nf, 0, 1, 0, w, h) + b"\x00" * 16
    strh = (
        b"vids"
        + b"\x00" * 4
        + struct.pack("<IHHIIIIIIIi", 0, 0, 0, 0, 1, 25, 0, nf, 0, 0, -1)
        + struct.pack("<4H", 0, 0, w, h)
    )
    bmih = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, 0, stride * h, 0, 0, 256, 0
    )
    palette = b"".join(
        struct.pack("<4B", (i * _AVI_PAL_MULT) % 256, (i * _AVI_PAL_MULT) % 256,
                    (i * _AVI_PAL_MULT) % 256, 0)
        for i in range(256)
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", bmih + palette)),
    )

    movi_body = b""
    idx_entries = []
    for f, fr in enumerate(frames):
        # idx1 offsets count from the 'movi' fourcc at offset 0.
        idx_entries.append((b"00db", 0x10, 4 + len(movi_body), len(fr)))
        movi_body += chunk(b"00db", fr)
        if f == 0 and d % 7 == 0:
            movi_body += chunk(b"01wb", b"\x80" * 5)  # odd-size audio: pad byte
    movi = lst(b"movi", movi_body)
    idx1 = chunk(
        b"idx1",
        b"".join(
            cid + struct.pack("<III", flags, off, sz)
            for cid, flags, off, sz in idx_entries
        ),
    )

    body = b"AVI " + hdrl
    if d % 5 == 0:
        body += chunk(b"JUNK", b"notaframe" * 3)  # 27 bytes: odd, forces pad
    body += movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _avi_decode(payload: bytes) -> "tuple[int, int, list] | None":
    """REAL RIFF/AVI parser: magic check, top-level chunk walk with pad
    bytes, hdrl -> avih dims + strl stream scan ('vids' required,
    biBitCount==8, BI_RGB, 256-entry palette read), movi walk collecting
    stream-00 'db'/'dc' frames (skipping other streams' chunks), idx1
    frame-count cross-check, bottom-up stride-padded row decode THROUGH
    the palette. Returns (w, h, [numpy (h, w) int64 top-down frames]) or
    None on anything malformed — tolerate, never throw."""
    import struct

    import numpy as np

    if not isinstance(payload, (bytes, bytearray)) or len(payload) < 12:
        return None
    if payload[0:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None

    dims = None          # (w, h, declared_frames) from avih
    vids_fmt = None      # (w, h, palette) from the vids strl
    frames_raw: list = []
    idx_frames = 0

    def walk_list(body: bytes, handler) -> bool:
        pos = 0
        while pos + 8 <= len(body):
            cid = body[pos : pos + 4]
            (csz,) = struct.unpack_from("<I", body, pos + 4)
            cbody = body[pos + 8 : pos + 8 + csz]
            if len(cbody) < csz:
                return False  # truncated chunk
            if not handler(cid, cbody):
                return False
            pos += 8 + csz + (csz & 1)
        return True

    def on_strl(cid: bytes, cbody: bytes, state: dict) -> bool:
        if cid == b"strh":
            if len(cbody) < 4:
                return False
            state["type"] = cbody[0:4]
        elif cid == b"strf" and state.get("type") == b"vids":
            nonlocal vids_fmt
            if len(cbody) < 40:
                return False
            (bisize, bw, bh, planes, bits, comp, _szimg, _xp, _yp, clrused,
             _clrimp) = struct.unpack_from("<IiiHHIIiiII", cbody, 0)
            if bisize < 40 or planes != 1 or bits != 8 or comp != 0:
                return False
            n_pal = clrused if clrused else 256
            if n_pal != 256 or len(cbody) < 40 + 256 * 4:
                return False
            pal = np.frombuffer(cbody, dtype=np.uint8, count=256 * 4, offset=40)
            # RGBQUAD little-endian byte order is (b, g, r, reserved); a
            # grayscale palette must agree across channels.
            b, g, r = pal[0::4], pal[1::4], pal[2::4]
            if not (np.array_equal(b, g) and np.array_equal(g, r)):
                return False
            vids_fmt = (bw, bh, r.astype(np.int64))
        return True

    def on_hdrl(cid: bytes, cbody: bytes) -> bool:
        nonlocal dims
        if cid == b"avih":
            if len(cbody) < 56:
                return False
            vals = struct.unpack_from("<10I", cbody, 0)
            dims = (vals[8], vals[9], vals[4])  # dwWidth, dwHeight, dwTotalFrames
        elif cid == b"LIST" and cbody[0:4] == b"strl":
            state: dict = {}
            return walk_list(cbody[4:], lambda c, b: on_strl(c, b, state))
        return True

    def on_movi(cid: bytes, cbody: bytes) -> bool:
        if cid[0:2] == b"00" and cid[2:4] in (b"db", b"dc"):
            frames_raw.append(cbody)
        return True  # other streams' chunks: skip

    def on_top(cid: bytes, cbody: bytes) -> bool:
        nonlocal idx_frames
        if cid == b"LIST":
            kind = cbody[0:4]
            if kind == b"hdrl":
                return walk_list(cbody[4:], on_hdrl)
            if kind == b"movi":
                return walk_list(cbody[4:], on_movi)
        elif cid == b"idx1":
            if len(cbody) % 16 != 0:
                return False
            for off in range(0, len(cbody), 16):
                e = cbody[off : off + 4]
                if e[0:2] == b"00" and e[2:4] in (b"db", b"dc"):
                    idx_frames += 1
        return True  # JUNK and friends: skip

    if not walk_list(payload[12:], on_top):
        return None
    if dims is None or vids_fmt is None or not frames_raw:
        return None
    w, h, declared = dims
    bw, bh, pal = vids_fmt
    if w != bw or h != bh or w < 1 or h < 1:
        return None
    if declared != len(frames_raw) or idx_frames != len(frames_raw):
        return None  # header/index/stream disagreement
    stride = (w + 3) & ~3
    frames = []
    for fr in frames_raw:
        if len(fr) != stride * h:
            return None
        arr = np.frombuffer(fr, dtype=np.uint8).reshape(h, stride)[:, :w]
        frames.append(pal[arr[::-1, :]])  # bottom-up -> top-down, palettized
    return int(w), int(h), frames


def _avi_features(payload: bytes) -> tuple:
    """(width, height, n_frames, sampled_n, f_sum, q_sum) of one AVI
    payload: REAL AVI parse, floor-index sampling of AVI_SAMPLE_FRAMES
    frames (frame j -> (j * n_frames) // AVI_SAMPLE_FRAMES — the
    WAV/image resampler's mapping), then integer full-frame and
    top-left-quadrant pixel sums over the sampled frames. The quadrant sum
    is what makes row ORIENTATION observable (a full-frame sum is
    permutation-invariant; bottom-up confusion shifts which rows land in
    the quadrant). A malformed payload yields an all-None tuple."""
    decoded = _avi_decode(payload)
    if decoded is None:
        return (None,) * 6
    w, h, frames = decoded
    nf = len(frames)
    sampled = [frames[(j * nf) // AVI_SAMPLE_FRAMES] for j in range(AVI_SAMPLE_FRAMES)]
    f_sum = sum(int(fr.sum()) for fr in sampled)
    q_sum = sum(int(fr[: h // 2, : w // 2].sum()) for fr in sampled)
    return w, h, nf, AVI_SAMPLE_FRAMES, f_sum, q_sum


def media_real_avi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video twin of ``media_real_wav``: synthesize a real RIFF/AVI
    container per document, then the REAL parse path (chunk walk, header/
    stream/palette validation, movi frame collection with foreign-stream
    skipping, idx1 cross-check) + frame sampling + integer pixel features
    (``_avi_features``). The oracle predicts full-frame and quadrant sums
    in closed form from doc_id alone, so the hash only matches if
    container walk, stride handling, bottom-up orientation, and palette
    lookup are all byte-correct.

    100 TB shape: one map-only Arrow stage over a narrow doc_id scan;
    payloads never cross a shuffle."""
    return _per_doc(
        spark,
        sf_dir,
        lambda d: (d, "video/avi", *_avi_features(_avi_bytes_patterned(d))),
        "doc_id bigint, mime string, width int, height int, n_frames int, "
        "sampled_n int, f_sum bigint, q_sum bigint",
    )


MEDIA_REAL_AVI_ORACLE = f"""
WITH d AS (
    SELECT doc_id,
           6 + doc_id % 9 AS w,
           5 + doc_id % 7 AS h,
           3 + doc_id % 6 AS nf
    FROM documents
),
j AS (SELECT doc_id, w, h, nf,
             unnest(generate_series(0, {AVI_SAMPLE_FRAMES - 1})) AS js
      FROM d),
f AS (SELECT doc_id, w, h, nf, (js * nf) // {AVI_SAMPLE_FRAMES} AS fr FROM j),
y AS (SELECT doc_id, w, h, nf, fr, unnest(generate_series(0, h - 1)) AS yy FROM f),
p AS (SELECT doc_id, w, h, nf, fr, yy,
             unnest(generate_series(0, w - 1)) AS xx
      FROM y),
v AS (SELECT doc_id, w, h, nf, yy, xx,
             ({_AVI_PAL_MULT} * ((doc_id + 11 * fr + 7 * yy + 5 * xx) % 256)) % 256 AS px
      FROM p)
SELECT doc_id,
       'video/avi' AS mime,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(nf AS INT) AS n_frames,
       {AVI_SAMPLE_FRAMES} AS sampled_n,
       CAST(sum(px) AS BIGINT) AS f_sum,
       CAST(sum(CASE WHEN yy < h // 2 AND xx < w // 2 THEN px ELSE 0 END) AS BIGINT) AS q_sum
FROM v
GROUP BY doc_id, w, h, nf
"""
