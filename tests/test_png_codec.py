"""Stdlib PNG codec + real decode path (r3 verdict ask #7)."""

from __future__ import annotations

import struct
import zlib

import pytest

from streaminglens_spark.functions.png import (
    _chunk,
    _SIG,
    decode_gray_png,
    encode_gray_png,
)


def test_round_trip():
    w, h = 13, 7
    pix = bytes((i * 37 + 11) % 256 for i in range(w * h))
    data = encode_gray_png(w, h, pix)
    assert data[:8] == _SIG
    assert decode_gray_png(data) == (w, h, pix)


def test_decoder_handles_all_filter_types():
    """The decoder must undo Sub/Up/Average/Paeth, not only the encoder's
    filter 0: build a PNG whose scanlines use one of each filter type,
    with the filtered bytes computed forward from known pixels."""
    w = 6
    pix_rows = [
        bytes([10, 20, 30, 40, 50, 60]),
        bytes([15, 25, 35, 45, 55, 65]),
        bytes([200, 100, 0, 255, 128, 64]),
        bytes([1, 2, 3, 4, 5, 6]),
        bytes([250, 251, 252, 253, 254, 255]),
    ]
    filters = [0, 1, 2, 3, 4]  # None, Sub, Up, Average, Paeth

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    prev = bytes(w)
    for row, f in zip(pix_rows, filters):
        raw.append(f)
        for x in range(w):
            a = row[x - 1] if x else 0
            b = prev[x]
            c = prev[x - 1] if x else 0
            if f == 0:
                enc = row[x]
            elif f == 1:
                enc = (row[x] - a) & 0xFF
            elif f == 2:
                enc = (row[x] - b) & 0xFF
            elif f == 3:
                enc = (row[x] - ((a + b) >> 1)) & 0xFF
            else:
                enc = (row[x] - paeth(a, b, c)) & 0xFF
            raw.append(enc)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, len(pix_rows), 8, 0, 0, 0, 0)
    data = (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    got_w, got_h, got = decode_gray_png(data)
    assert (got_w, got_h) == (w, len(pix_rows))
    assert got == b"".join(pix_rows)


def test_decoder_rejects_garbage():
    with pytest.raises(ValueError, match="signature"):
        decode_gray_png(b"not a png at all")
    good = encode_gray_png(2, 2, bytes(4))
    bad_crc = good[:40] + bytes([good[40] ^ 0xFF]) + good[41:]
    with pytest.raises(ValueError):
        decode_gray_png(bad_crc)


def test_decode_image_strict_real_png(spark):
    """attach_png_blob -> decode_image(strict=True): real decode, IHDR
    dims, exact tiled-pixel mean."""
    from streaminglens_spark.functions.multimodal import (
        attach_png_blob,
        decode_image,
    )

    docs = spark.createDataFrame(
        [(3, "abcd"), (65, "zz")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in decode_image(attach_png_blob(docs), strict=True).collect()
    }
    # doc 3: 4x4 canvas tiling "abcd" -> every row is abcd; mean = mean(abcd)
    r = rows[3]
    assert (r["width"], r["height"]) == (4, 4)
    assert r["decoder"] == "png-zlib"
    assert r["mean_byte"] == sum(b"abcd") / 4
    # doc 65: 2x18 canvas of "zz" tiled -> all 'z'
    r = rows[65]
    assert (r["width"], r["height"]) == (2, 18)
    assert r["mean_byte"] == float(ord("z"))


def test_decode_image_strict_raises_on_non_png(spark):
    """strict mode must fail the job on an undecodable payload, not fake."""
    from streaminglens_spark.functions.multimodal import attach_blob, decode_image

    docs = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    with pytest.raises(Exception, match="no real decoder"):
        decode_image(attach_blob(docs), strict=True).collect()


def test_q_decode_image_oracle_sf0001(spark, duck):
    """The driver-surface query vs its codec-free DuckDB oracle at
    sf0.001: encode+decode round trip must reproduce the formula's pixel
    stats bit-exactly."""
    from streaminglens_spark import registry
    from streaminglens_spark.oracle.compare import compare
    from tests.conftest import SF_DIR

    res = compare(
        registry.q_decode_image(spark, SF_DIR),
        duck,
        registry.ORACLES["q_decode_image"],
    )
    assert res["ok"], res
