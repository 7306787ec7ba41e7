"""Multimodal binary plumbing: mapInPandas shapes + real header decode."""

from __future__ import annotations

import pytest

from mapreduce_hadoop_spark.operators.multimodal import (
    _gif_bytes,
    _nn_resize,
    _parse_image_header,
    _png_bytes_patterned,
    _png_decode_gray,
    _resize_features,
    media_table,
)

# Real container headers, byte-for-byte per spec (width x height noted).
PNG_640x480 = (
    b"\x89PNG\r\n\x1a\n"  # signature
    + (13).to_bytes(4, "big")  # IHDR chunk length
    + b"IHDR"
    + (640).to_bytes(4, "big")
    + (480).to_bytes(4, "big")
    + b"\x08\x02\x00\x00\x00"  # bit depth, color type, c/f/i methods
    + b"\x00\x00\x00\x00"  # (unchecked) CRC
)
JPEG_320x240 = (
    b"\xff\xd8"  # SOI
    + b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + bytes(9)  # APP0
    + b"\xff\xc0"  # SOF0 (baseline)
    + (17).to_bytes(2, "big")  # segment length
    + b"\x08"  # precision
    + (240).to_bytes(2, "big")  # height
    + (320).to_bytes(2, "big")  # width
    + bytes(10)  # component specs
)
GIF_99x12 = b"GIF89a" + (99).to_bytes(2, "little") + (12).to_bytes(2, "little")


def test_parse_image_header_real_formats():
    assert _parse_image_header(PNG_640x480) == (640, 480)
    assert _parse_image_header(JPEG_320x240) == (320, 240)
    assert _parse_image_header(GIF_99x12) == (99, 12)
    # Garbage / truncated / non-image payloads yield None, never raise.
    assert _parse_image_header(b"") is None
    assert _parse_image_header(b"plain text bytes") is None
    assert _parse_image_header(PNG_640x480[:15]) is None
    assert _parse_image_header(b"\xff\xd8\xff\xe0\x00") is None
    assert _parse_image_header(b"RIFF....WAVE") is None


def test_media_table_binary_column(spark, sf_dir):
    m = media_table(spark, sf_dir)
    assert dict(m.dtypes)["payload"] == "binary"
    r = m.first()
    assert isinstance(r["payload"], (bytes, bytearray))
    assert r["mime"] in ("image/png", "audio/wav", "video/mp4")


def test_png_gif_encoders_emit_valid_files():
    """The in-plan encoders must produce spec-valid files, not just
    parseable headers: PNG chunk CRCs verify, the IDAT inflates to exactly
    h filtered rows of w zero pixels, and the GIF structure walks clean to
    its trailer."""
    import struct
    import zlib

    from mapreduce_hadoop_spark.operators.multimodal import (
        _gif_bytes,
        _png_bytes,
    )

    png = _png_bytes(33, 21)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    pos, chunks = 8, {}
    while pos < len(png):
        (n,) = struct.unpack(">I", png[pos : pos + 4])
        tag = png[pos + 4 : pos + 8]
        data = png[pos + 8 : pos + 8 + n]
        (crc,) = struct.unpack(">I", png[pos + 8 + n : pos + 12 + n])
        assert crc == zlib.crc32(tag + data) & 0xFFFFFFFF, tag
        chunks[tag] = data
        pos += 12 + n
    assert pos == len(png)
    assert struct.unpack(">II", chunks[b"IHDR"][:8]) == (33, 21)
    assert zlib.decompress(chunks[b"IDAT"]) == (b"\x00" * 34) * 21
    assert chunks[b"IEND"] == b""

    gif = _gif_bytes(99, 12)
    assert gif[:6] == b"GIF89a"
    assert struct.unpack("<HH", gif[6:10]) == (99, 12)
    assert gif[10] & 0x80  # global color table flag
    assert gif[13:19] == b"\x00\x00\x00\xff\xff\xff"  # 2-color table
    assert gif[19:20] == b","  # image descriptor
    assert struct.unpack("<HHHH", gif[20:28]) == (0, 0, 99, 12)
    assert gif[-1:] == b";"


def test_media_real_roundtrip_decodes_generated_bytes(spark, sf_dir):
    from mapreduce_hadoop_spark.operators.multimodal import media_real_roundtrip

    got = media_real_roundtrip(spark, sf_dir).toPandas()
    assert len(got) > 0
    for _, r in got.head(20).iterrows():
        d = int(r["doc_id"])
        assert r["width"] == (d % 64) + 16
        assert r["height"] == (d // 64) % 64 + 16
        assert r["mime"] == ("image/png" if d % 2 == 0 else "image/gif")


def test_png_pixel_decode_every_filter_type():
    """The patterned encoder cycles filters None/Sub/Up/Average/Paeth by
    row; decode must reproduce the exact pattern, so every unfilter branch
    is exercised (heights >= 5 cover all five)."""
    for seed, (w, h) in [(0, (23, 17)), (7, (16, 5)), (901, (79, 31))]:
        px = _png_decode_gray(_png_bytes_patterned(w, h, seed))
        assert px.tolist() == [
            [(3 * x + 7 * y + seed) % 256 for x in range(w)] for y in range(h)
        ]


def test_png_pixel_decode_tolerates_non_png():
    assert _png_decode_gray(b"not a png") is None
    assert _png_decode_gray(_gif_bytes(4, 4)) is None  # header-only format
    # truncated PNG: valid signature, garbage after
    assert _png_decode_gray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 10) is None


def test_lzw_roundtrip_including_dictionary_overflow():
    """GIF-variant LZW: variable-width codes, KwKwK, and the 4096-entry
    overflow CLEAR/reset path (forced by incompressible input)."""
    import numpy as np

    from mapreduce_hadoop_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    rng = np.random.default_rng(11)
    cases = [
        b"",
        b"\x00",
        b"aaaaaaaaaaaaaaaa",  # KwKwK territory
        bytes(range(256)) * 50,
        rng.integers(0, 256, 30_000, dtype=np.uint8).tobytes(),  # overflow
    ]
    for data in cases:
        enc = _lzw_encode(data, 8)
        dec = _lzw_decode(enc, 8)
        assert dec is not None and bytes(dec) == data, len(data)
    # The random case must actually have exercised the overflow reset:
    # > 3838 emitted codes guarantee the dictionary hit 4096.
    assert len(_lzw_encode(cases[-1], 8)) * 8 // 12 > 3838


def test_gif_pixel_decode_matches_pattern():
    """The patterned GIF encoder/decoder pair reproduces the exact pixel
    pattern through a real dictionary-LZW stream and palette lookup."""
    from mapreduce_hadoop_spark.operators.multimodal import (
        _gif_bytes_patterned,
        _gif_decode_gray,
    )

    for seed, (w, h) in [(1, (23, 17)), (7, (16, 5)), (901, (79, 79))]:
        px = _gif_decode_gray(_gif_bytes_patterned(w, h, seed))
        assert px.tolist() == [
            [(3 * x + 7 * y + seed) % 256 for x in range(w)] for y in range(h)
        ]


def test_gif_pixel_decode_tolerates_out_of_profile():
    from mapreduce_hadoop_spark.operators.multimodal import (
        _gif_bytes_patterned,
        _gif_decode_gray,
    )

    assert _gif_decode_gray(b"not a gif") is None
    assert _gif_decode_gray(b"GIF89a" + b"\x00" * 4) is None  # truncated
    # No global color table (flags byte 0x00) -> out of profile.
    assert _gif_decode_gray(b"GIF89a" + bytes(2) + bytes(2) + b"\x00\x00\x00;") is None
    # Truncated LZW stream (sub-blocks cut before EOI) -> None, not junk.
    g = bytearray(_gif_bytes_patterned(20, 20, 3))
    assert _gif_decode_gray(bytes(g[: len(g) // 2])) is None


def test_nn_resize_floor_index_mapping():
    assert _nn_resize([[1, 2], [3, 4]], 4, 4).tolist() == [
        [1, 1, 2, 2],
        [1, 1, 2, 2],
        [3, 3, 4, 4],
        [3, 3, 4, 4],
    ]
    # downscale picks the floor-mapped source pixel
    src = [[y * 10 + x for x in range(4)] for y in range(4)]
    assert _nn_resize(src, 2, 2).tolist() == [[0, 2], [20, 22]]


def test_resize_media_real_path_resamples_pixels(sf_dir):
    """``_resize_features`` must produce the pixel sums the oracles'
    closed form predicts, through every decode path the resize queries
    take: PNG and GIF (pixel (3x + 7y + d) % 256) and grayscale JPEG
    (block-constant (3*(x//8) + 7*(y//8) + d) % 256), over the first 8
    documents of the test table."""
    import pyarrow.parquet as pq

    from mapreduce_hadoop_spark.operators.multimodal import (
        RESIZE_BOX,
        _doc_dims,
        _gif_bytes_patterned,
        _jpeg_bytes_patterned,
    )

    docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])
    doc_ids = docs.column("doc_id").to_pylist()[:8]
    assert len(doc_ids) == 8
    for d in doc_ids:
        w, h = _doc_dims(d)
        scale = min(RESIZE_BOX / w, RESIZE_BOX / h)
        ow, oh = int(w * scale), int(h * scale)
        src = [((j * w) // ow, (i * h) // oh) for i in range(oh) for j in range(ow)]
        fine = sum((3 * x + 7 * y + d) % 256 for x, y in src)
        block = sum((3 * (x // 8) + 7 * (y // 8) + d) % 256 for x, y in src)
        for payload, px_sum in (
            (_png_bytes_patterned(w, h, d), fine),
            (_gif_bytes_patterned(w, h, d), fine),
            (_jpeg_bytes_patterned(w, h, d), block),
        ):
            assert _resize_features(payload) == (w, h, ow, oh, px_sum), (d, payload[:6])


def test_resize_media_real_path_nulls_undecodable():
    """Each per-payload feature function answers a payload it cannot
    decode with an all-None tuple, never an exception: text bytes (the
    text-derived media) everywhere, a colour JPEG for the resize path (no
    single grayscale plane to resize), truncated files for WAV and AVI."""
    from mapreduce_hadoop_spark.operators.multimodal import (
        _avi_bytes_patterned,
        _avi_features,
        _jpeg_color_bytes_patterned,
        _wav_bytes_patterned,
        _wav_features,
    )

    text = "the quick brown fox jumps over the lazy dog".encode()
    color = _jpeg_color_bytes_patterned(24, 16, 7)
    wav, avi = _wav_bytes_patterned(7), _avi_bytes_patterned(7)
    cases = [
        (_resize_features, text, 5),
        (_resize_features, color, 5),
        (_wav_features, text, 5),
        (_wav_features, wav[: len(wav) // 2], 5),
        (_avi_features, text, 6),
        (_avi_features, avi[: len(avi) // 2], 6),
    ]
    for fn, payload, width in cases:
        assert fn(payload) == (None,) * width, (fn.__name__, payload[:8])


def test_per_doc_none_features_become_sql_nulls(spark, sf_dir):
    """``_per_doc`` builds each batch from plain tuples, so a ``None``
    feature must arrive as SQL NULL in its declared int/bigint column —
    in a batch that mixes None with values and in an all-None column —
    and a value must keep its declared type, never widened."""
    from pyspark.sql.types import IntegerType, LongType

    from mapreduce_hadoop_spark.operators.multimodal import _per_doc

    undecodable = _resize_features(b"not an image")

    def row(d: int) -> tuple:
        if d % 2:
            return (d, *undecodable)
        return (d, d % 64 + 16, 7, 32, 20, 123_456_789_012, None)

    df = _per_doc(
        spark,
        sf_dir,
        row,
        "doc_id bigint, width int, height int, out_w int, out_h int,"
        " px_sum bigint, spare bigint",
    )
    types = {f.name: type(f.dataType) for f in df.schema.fields}
    assert types == {
        "doc_id": LongType, "width": IntegerType, "height": IntegerType,
        "out_w": IntegerType, "out_h": IntegerType, "px_sum": LongType,
        "spare": LongType,
    }
    got = df.collect()
    assert {r["doc_id"] % 2 for r in got} == {0, 1}
    for r in got:
        assert r["spare"] is None
        if r["doc_id"] % 2:
            assert (r["width"], r["height"], r["out_w"], r["out_h"], r["px_sum"]) == (
                None, None, None, None, None
            )
        else:
            assert (r["width"], r["height"], r["out_w"], r["out_h"], r["px_sum"]) == (
                r["doc_id"] % 64 + 16, 7, 32, 20, 123_456_789_012
            )


def test_lzw_and_container_golden_streams_pinned():
    """Bit-identity pins for the LZW, PNG, GIF and JPEG encoders: the
    LZW/PNG/GIF hashes were captured from the scalar implementation before
    it was vectorized, the JPEG hashes from the separate grayscale and
    colour encoders before they were folded into ``_jpeg_encode``. If an
    'optimization' ever changes one output byte, this fails before any
    registered query's output can drift."""
    import hashlib

    import numpy as np

    from mapreduce_hadoop_spark.operators.multimodal import (
        _gif_bytes_patterned,
        _jpeg_bytes_patterned,
        _jpeg_color_bytes_patterned,
        _jpeg_encode,
        _lzw_encode,
        _png_bytes_patterned,
    )

    rng = np.random.default_rng(11)
    lzw_cases = [
        (b"", "ca175b7b97e4180f"),
        (b"\x00", "1429eeb1fc89869d"),
        (b"aaaaaaaaaaaaaaaa", "967f1962306b4ad9"),
        (bytes(range(256)) * 50, "025a134ce4d8a324"),
        (rng.integers(0, 256, 30_000, dtype=np.uint8).tobytes(), "2124d195683fb81b"),
    ]
    for data, h in lzw_cases:
        assert hashlib.sha256(_lzw_encode(data, 8)).hexdigest()[:16] == h
    for mcs, h in [(2, "78a7fbe3d2e80484"), (4, "67ed7bf1c650cd65"), (7, "763f085335831124")]:
        data = bytes(v % (1 << mcs) for v in rng.integers(0, 256, 5000, dtype=np.uint8))
        assert hashlib.sha256(_lzw_encode(data, mcs)).hexdigest()[:16] == h
    containers = [
        (1, (23, 17), "1d8e6390b93a03fb", "be6e5fc75220b904", "3b3c4c28a71b1598"),
        (8, (64, 40), "68741400e9afb6f4", "2511dab5f70f4d30", "d293afeb67285579"),
        (901, (79, 79), "d6d2111a0f955022", "f3fda74f79fd110c", "95426e2031b7765d"),
    ]
    for seed, (w, h), hp, hg, hj in containers:
        assert hashlib.sha256(_png_bytes_patterned(w, h, seed)).hexdigest()[:16] == hp
        assert hashlib.sha256(_gif_bytes_patterned(w, h, seed)).hexdigest()[:16] == hg
        assert hashlib.sha256(_jpeg_bytes_patterned(w, h, seed)).hexdigest()[:16] == hj
    for samp, h in [
        ((2, 2), "1a683df8fb30cd7e"),
        ((2, 1), "43c2ceb77a22f9a7"),
        ((1, 1), "52598d07f9d8d913"),
    ]:
        b = _jpeg_color_bytes_patterned(79, 33, 123, samp)
        assert hashlib.sha256(b).hexdigest()[:16] == h
    # Rich (AC-heavy) planes with restart intervals.
    jrng = np.random.default_rng(41)
    src = jrng.integers(0, 256, (24, 40), dtype=np.uint8)
    b = _jpeg_encode((src,), restart_interval=3)
    assert hashlib.sha256(b).hexdigest()[:16] == "7a83de1a96f25f85"
    y = jrng.integers(0, 256, (24, 40), dtype=np.uint8)
    cb = jrng.integers(0, 256, (12, 20), dtype=np.uint8)
    cr = jrng.integers(0, 256, (12, 20), dtype=np.uint8)
    b = _jpeg_encode((y, cb, cr), (2, 2), restart_interval=2)
    assert hashlib.sha256(b).hexdigest()[:16] == "2422949284faa3f2"


def test_gif_decode_hardened_against_malformed_payloads():
    """Round-10 hardening fixtures: every out-of-spec shape returns None
    (tolerate-don't-throw), never raises, never grows unbounded state."""
    import struct

    from mapreduce_hadoop_spark.operators.multimodal import (
        _gif_bytes_patterned,
        _gif_decode_gray,
        _lzw_decode,
        _lzw_encode,
    )

    # GIF-illegal LZW min code size: [2, 8] is the legal range.
    for bad_mcs in (0, 1, 9, 12, 255):
        assert _lzw_decode(b"\x04\x02", bad_mcs) is None
    # Same via the container: patch the mcs byte of a valid patterned GIF
    # (13 header + 768 palette + 10 descriptor = offset 791).
    g = bytearray(_gif_bytes_patterned(20, 20, 3))
    assert _gif_decode_gray(bytes(g)) is not None  # sanity: valid as-is
    for bad_mcs in (0, 1, 9, 255):
        g[791] = bad_mcs
        assert _gif_decode_gray(bytes(g)) is None
    # Truncated global color table: header promises 256 entries, payload ends.
    assert _gif_decode_gray(bytes(g[:100])) is None
    # Zero-dimension frame.
    z = b"GIF89a" + struct.pack("<HH", 4, 4) + b"\x80\x00\x00" + b"\x00" * 6
    z += b"," + struct.pack("<HHHH", 0, 0, 0, 4) + b"\x00" + b"\x02\x01\x44\x00;"
    assert _gif_decode_gray(z) is None
    # Palette index past the declared table: 4-entry table (flags 0x81)
    # with an 8-bit LZW stream emitting index 200.
    s = b"GIF89a" + struct.pack("<HH", 10, 1) + b"\x81\x00\x00" + bytes(12)
    s += b"," + struct.pack("<HHHH", 0, 0, 10, 1) + b"\x00" + b"\x08"
    lzw = _lzw_encode(bytes([200] * 10), 8)
    s += bytes([len(lzw)]) + lzw + b"\x00;"
    assert _gif_decode_gray(s) is None


def test_lzw_decode_dictionary_freezes_at_4096():
    """A stream that never CLEARs past the 4096-entry ceiling must keep
    decoding against the frozen table (spec behavior) — and a code that
    would index past the frozen table is corrupt (None), where the old
    decoder grew the table without bound."""
    from mapreduce_hadoop_spark.operators.multimodal import (
        _lzw_decode,
        _pack_codes_lsb,
    )

    def emit_stream(n_codes: int, tail: "list[int]") -> bytes:
        # Re-derive the decoder's width schedule while always emitting
        # root code 0 (clear=4, eoi=5 at mcs=2; table starts at len 6).
        codes, widths = [], []
        table_len, width, prev = 6, 3, False
        for _ in range(n_codes):
            codes.append(0)
            widths.append(width)
            if prev and table_len < 4096:
                table_len += 1
            prev = True
            if table_len >= (1 << width) and width < 12:
                width += 1
        for c in tail:
            codes.append(c)
            widths.append(width)
        return _pack_codes_lsb(codes, widths)

    n = 4200  # table would reach 6 + 4199 = 4205 entries unfrozen
    out = _lzw_decode(emit_stream(n, [5]), 2)  # 5 = EOI
    assert out is not None and bytes(out) == b"\x00" * n
    # Code 4095 is the last frozen entry: valid. Code referencing beyond
    # a NOT-yet-full table is corrupt.
    assert _lzw_decode(emit_stream(n, [4095, 5]), 2) is not None
    # 2500 zero-codes: width has reached 12 (table 2506 entries, not yet
    # frozen) so a 4000 code packs at full width and indexes past the
    # table -> corrupt.
    assert _lzw_decode(emit_stream(2500, [4000, 5]), 2) is None


def test_gif_decode_never_raises_on_random_bytes():
    import numpy as np

    from mapreduce_hadoop_spark.operators.multimodal import _gif_decode_gray

    rng = np.random.default_rng(7)
    for size in (0, 1, 12, 13, 200, 4096):
        for _ in range(8):
            payload = b"GIF89a" + rng.integers(0, 256, size, dtype=np.uint8).tobytes()
            _gif_decode_gray(payload)  # any return is fine; raising is not


def test_jpeg_block_constant_roundtrip_is_exact():
    """The oracle contract: a block-constant image survives the lossy DCT
    round-trip bit-exactly (only DC energy; q[0][0] = 8 divides it out)."""
    import numpy as np

    from mapreduce_hadoop_spark.operators.multimodal import (
        _jpeg_bytes_patterned,
        _jpeg_decode,
        _parse_image_header,
    )

    for seed, (w, h) in [(1, (23, 17)), (8, (64, 40)), (901, (79, 79))]:
        b = _jpeg_bytes_patterned(w, h, seed)
        assert _parse_image_header(b) == (w, h)  # SOFn header agrees
        planes = _jpeg_decode(b)
        assert planes is not None and len(planes) == 1
        (px,) = planes
        exp = (
            3 * (np.arange(w)[None, :] // 8)
            + 7 * (np.arange(h)[:, None] // 8)
            + seed
        ) % 256
        assert px is not None and np.array_equal(px, exp.astype(np.uint8))


def test_jpeg_rich_content_matches_reference_reconstruction():
    """Full AC path (runs, ZRL, EOB, DPCM) against an independent numpy
    reference: decode(encode(x)) must equal quantize->dequantize->IDCT
    computed directly — pinning the decoder's arithmetic exactly, not
    just 'close to the source'."""
    import numpy as np

    from mapreduce_hadoop_spark.operators.multimodal import (
        _jpeg_dct_matrix,
        _jpeg_decode,
        _jpeg_encode,
        _jpeg_qtable,
    )

    rng = np.random.default_rng(3)
    m = _jpeg_dct_matrix()
    q = _jpeg_qtable()
    for w, h in [(24, 16), (33, 9), (8, 8), (79, 31)]:
        src = rng.integers(0, 256, (h, w), dtype=np.uint8)
        planes = _jpeg_decode(_jpeg_encode((src,)))
        assert planes is not None and len(planes) == 1
        (dec,) = planes
        assert dec.shape == (h, w)
        ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
        padded = np.pad(src, ((0, ph - h), (0, pw - w)), mode="edge")
        blocks = (
            padded.reshape(ph // 8, 8, pw // 8, 8)
            .transpose(0, 2, 1, 3)
            .astype(np.float64)
            - 128.0
        )
        f = np.round(np.einsum("ux,bcxy,vy->bcuv", m, blocks, m) / q) * q
        recon = np.einsum("ux,bcuv,vy->bcxy", m, f, m) + 128.0
        ref = (
            np.clip(np.round(recon), 0, 255)
            .astype(np.uint8)
            .transpose(0, 2, 1, 3)
            .reshape(ph, pw)[:h, :w]
        )
        assert np.array_equal(dec, ref)
        # Lossy but bounded on random noise (worst case for a DCT codec).
        assert np.abs(dec.astype(int) - src.astype(int)).max() <= 64


def test_jpeg_decode_tolerates_out_of_profile():
    import numpy as np

    from mapreduce_hadoop_spark.operators.multimodal import (
        _jpeg_bytes_patterned,
        _jpeg_decode,
    )

    assert _jpeg_decode(b"not a jpeg") is None
    assert _jpeg_decode(b"\xff\xd8\xff\xd9") is None  # no frame
    b = bytearray(_jpeg_bytes_patterned(24, 16, 5))
    assert _jpeg_decode(bytes(b)) is not None  # sanity
    assert _jpeg_decode(bytes(b[: len(b) // 2])) is None  # truncated
    # Progressive frame marker (SOF2) is out of profile.
    p = bytes(b).replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert _jpeg_decode(p) is None
    # Restart intervals are in profile: a declared DRI that implies the
    # stream's actual segment layout decodes (here ri=8 over 6 MCUs ->
    # one segment, exactly what the stream has)...
    i = bytes(b).index(b"\xff\xda")
    with_dri = bytes(b[:i]) + b"\xff\xdd\x00\x04\x00\x08" + bytes(b[i:])
    assert np.array_equal(_jpeg_decode(with_dri)[0], _jpeg_decode(bytes(b))[0])
    # ...but a DRI whose implied segment count disagrees with the stream
    # (ri=2 over 6 MCUs demands 3 segments; the stream has no RSTn) fails.
    bad_dri = bytes(b[:i]) + b"\xff\xdd\x00\x04\x00\x02" + bytes(b[i:])
    assert _jpeg_decode(bad_dri) is None
    # Random bytes after SOI never raise.
    rng = np.random.default_rng(9)
    for size in (0, 2, 64, 1024):
        for _ in range(8):
            _jpeg_decode(b"\xff\xd8" + rng.integers(0, 256, size, dtype=np.uint8).tobytes())


def test_jpeg_color_pattern_roundtrip_exact():
    """MCU-constant Y/Cb/Cr planes must survive the full pipeline
    (encode -> interleaved-MCU decode -> chroma upsample) bit-exactly at
    ALL THREE samplings — the property MEDIA_REAL_JPEG_COLOR_ORACLE's
    closed form rests on."""
    import numpy as np

    from mapreduce_hadoop_spark.operators.multimodal import (
        _JPEG_SAMPLINGS,
        _jpeg_color_bytes_patterned,
        _jpeg_decode,
    )

    for samp in _JPEG_SAMPLINGS:
        pw, ph = 8 * samp[0], 8 * samp[1]
        for w, h, seed in ((16, 16, 0), (20, 18, 5), (79, 33, 123), (17, 17, 255)):
            out = _jpeg_decode(_jpeg_color_bytes_patterned(w, h, seed, samp))
            assert out is not None, (w, h, seed, samp)
            y, cb, cr = out
            assert y.shape == cb.shape == cr.shape == (h, w)
            mx, my = np.meshgrid(np.arange(w) // pw, np.arange(h) // ph)
            assert np.array_equal(
                y, ((3 * mx + 7 * my + seed) % 256).astype(np.uint8)
            ), samp
            assert np.array_equal(
                cb, ((11 * mx + 5 * my + 2 * seed) % 256).astype(np.uint8)
            ), samp
            assert np.array_equal(
                cr, ((13 * mx + 3 * my + 3 * seed) % 256).astype(np.uint8)
            ), samp


def test_jpeg_color_rich_roundtrip_matches_reference():
    """Random (worst-case) planes at all three samplings: the decoder
    must reproduce the encoder's quantized reconstruction EXACTLY per
    component — same dequantize + IDCT arithmetic, per-component tables
    honored — and the chroma planes must be the (h, v) nearest upsample
    of that reconstruction."""
    import numpy as np

    from mapreduce_hadoop_spark.operators.multimodal import (
        _JPEG_SAMPLINGS,
        _jpeg_dct_matrix,
        _jpeg_decode,
        _jpeg_encode,
        _jpeg_qtable,
    )

    m = _jpeg_dct_matrix()

    def ref_plane(src, q, mult):
        mh, mw = mult
        h, w = src.shape
        ph, pw = -(-h // mh) * mh, -(-w // mw) * mw
        padded = np.pad(src, ((0, ph - h), (0, pw - w)), mode="edge")
        blocks = (
            padded.reshape(ph // 8, 8, pw // 8, 8)
            .transpose(0, 2, 1, 3)
            .astype(np.float64)
            - 128.0
        )
        f = np.round(np.einsum("ux,bcxy,vy->bcuv", m, blocks, m) / q) * q
        recon = np.einsum("ux,bcuv,vy->bcxy", m, f, m) + 128.0
        return (
            np.clip(np.round(recon), 0, 255)
            .astype(np.uint8)
            .transpose(0, 2, 1, 3)
            .reshape(ph, pw)
        )

    rng = np.random.default_rng(11)
    for samp in _JPEG_SAMPLINGS:
        sh, sv = samp
        for h, w in ((16, 16), (37, 51), (24, 40)):
            ch, cw = -(-h // sv), -(-w // sh)
            ysrc = rng.integers(0, 256, (h, w), dtype=np.uint8)
            cbsrc = rng.integers(0, 256, (ch, cw), dtype=np.uint8)
            crsrc = rng.integers(0, 256, (ch, cw), dtype=np.uint8)
            out = _jpeg_decode(_jpeg_encode((ysrc, cbsrc, crsrc), samp))
            assert out is not None, samp
            y, cb, cr = out
            assert np.array_equal(
                y, ref_plane(ysrc, _jpeg_qtable(), (8 * sv, 8 * sh))[:h, :w]
            ), samp
            for got, src in ((cb, cbsrc), (cr, crsrc)):
                ref = ref_plane(src, _jpeg_qtable(1), (8, 8))[:ch, :cw]
                up = np.repeat(np.repeat(ref, sv, axis=0), sh, axis=1)[:h, :w]
                assert np.array_equal(got, up), samp


def test_jpeg_color_profile_gates():
    """Colour streams decode to 3 planes and grayscale streams to 1;
    exotic samplings are rejected; truncation and junk never raise (the
    crawl contract)."""
    import numpy as np

    from mapreduce_hadoop_spark.operators.multimodal import (
        _jpeg_bytes_patterned,
        _jpeg_color_bytes_patterned,
        _jpeg_decode,
    )

    color = _jpeg_color_bytes_patterned(24, 16, 7)
    gray = _jpeg_bytes_patterned(24, 16, 7)
    assert len(_jpeg_decode(color)) == 3  # three components
    assert len(_jpeg_decode(gray)) == 1  # one component
    assert _jpeg_decode(color[: len(color) // 2]) is None
    # Progressive marker out of profile for colour streams too.
    assert _jpeg_decode(color.replace(b"\xff\xc0", b"\xff\xc2", 1)) is None
    # Exotic sampling (4:1:1, Y byte 0x41) is out of profile: patch the
    # SOF Y sampling byte in place.
    i = color.index(b"\xff\xc0")
    y_samp = i + 2 + 2 + 6 + 1  # marker + len + prec/h/w/nf + comp id
    assert color[y_samp] == 0x22
    bad = color[:y_samp] + b"\x41" + color[y_samp + 1 :]
    assert _jpeg_decode(bad) is None
    rng = np.random.default_rng(13)
    for size in (0, 2, 64, 1024):
        _jpeg_decode(
            b"\xff\xd8" + rng.integers(0, 256, size, dtype=np.uint8).tobytes()
        )


def test_ycbcr_to_rgb_rounding_matches_duckdb():
    """floor(x + 0.5) on identical left-associated doubles: the numpy
    conversion and the oracle SQL must agree on every (y, cb, cr) —
    sampled densely across the cube, incl. clamp edges."""
    import duckdb
    import numpy as np

    from mapreduce_hadoop_spark.operators.multimodal import _ycbcr_to_rgb

    vals = np.arange(0, 256, 17)
    y, cb, cr = np.meshgrid(vals, vals, vals)
    r, g, b = _ycbcr_to_rgb(y, cb, cr)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (y INT, cb INT, cr INT)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?)",
        [tuple(map(int, v)) for v in zip(y.ravel(), cb.ravel(), cr.ravel())],
    )
    exp = con.execute(
        """
        SELECT LEAST(GREATEST(FLOOR(y + 1.402 * (cr - 128) + 0.5), 0), 255),
               LEAST(GREATEST(FLOOR(y - 0.344136 * (cb - 128)
                                      - 0.714136 * (cr - 128) + 0.5), 0), 255),
               LEAST(GREATEST(FLOOR(y + 1.772 * (cb - 128) + 0.5), 0), 255)
        FROM t
        """
    ).fetchnumpy()
    assert np.array_equal(r.ravel(), exp[next(iter(exp))].astype(np.int64))
    cols = list(exp)
    assert np.array_equal(g.ravel(), exp[cols[1]].astype(np.int64))
    assert np.array_equal(b.ravel(), exp[cols[2]].astype(np.int64))


def test_jpeg_restart_markers_roundtrip_gray_and_color():
    """DRI/RSTn: encoding with a restart interval must decode
    to EXACTLY the pixels of the restart-free encoding of the same plane
    (same quantized coefficients, predictors reset per segment), for
    both the grayscale and the interleaved color paths, at interval
    sizes that land mid-row, at row boundaries, and beyond the image."""
    import numpy as np

    from mapreduce_hadoop_spark.operators.multimodal import (
        _jpeg_decode,
        _jpeg_encode,
    )

    rng = np.random.default_rng(31)
    src = rng.integers(0, 256, (24, 40), dtype=np.uint8)  # 3x5 = 15 MCUs
    ref = _jpeg_decode(_jpeg_encode((src,)))
    assert ref is not None
    for ri in (1, 3, 5, 7, 15, 99):
        out = _jpeg_decode(_jpeg_encode((src,), restart_interval=ri))
        assert out is not None and np.array_equal(out, ref), ri

    y = rng.integers(0, 256, (24, 40), dtype=np.uint8)
    cb = rng.integers(0, 256, (12, 20), dtype=np.uint8)
    cr = rng.integers(0, 256, (12, 20), dtype=np.uint8)
    ref_c = _jpeg_decode(_jpeg_encode((y, cb, cr), (2, 2)))
    assert ref_c is not None
    for ri in (1, 2, 4, 6):  # 2x3 = 6 MCUs at 4:2:0
        out_c = _jpeg_decode(
            _jpeg_encode((y, cb, cr), (2, 2), restart_interval=ri)
        )
        assert out_c is not None, ri
        assert all(np.array_equal(a, b) for a, b in zip(out_c, ref_c)), ri

    # More than 8 restarts exercises the D0..D7 marker cycle wrap.
    big = rng.integers(0, 256, (8, 8 * 20), dtype=np.uint8)  # 20 MCUs
    wrapped = _jpeg_encode((big,), restart_interval=1)
    assert wrapped.count(b"\xff\xd0") >= 2  # the cycle wrapped past D7
    assert np.array_equal(
        _jpeg_decode(wrapped), _jpeg_decode(_jpeg_encode((big,)))
    )


def test_jpeg_restart_marker_sequence_validated():
    """An out-of-sequence RSTn marker (a dropped segment, per T.81's
    modulo-8 detection scheme) must fail the stream, and restart markers
    WITHOUT a DRI declaration stay out of profile."""
    import numpy as np

    from mapreduce_hadoop_spark.operators.multimodal import (
        _jpeg_decode,
        _jpeg_encode,
    )

    rng = np.random.default_rng(32)
    src = rng.integers(0, 256, (16, 32), dtype=np.uint8)
    b = _jpeg_encode((src,), restart_interval=2)
    assert _jpeg_decode(b) is not None
    # Corrupt the first RST0 into RST1: out of sequence -> None.
    i = b.index(b"\xff\xd0")
    assert _jpeg_decode(b[:i] + b"\xff\xd1" + b[i + 2 :]) is None
    # Strip the DRI segment but keep the RSTn markers: segment count
    # disagrees with the (absent) declaration -> None.
    j = b.index(b"\xff\xdd")
    assert _jpeg_decode(b[:j] + b[j + 6 :]) is None
