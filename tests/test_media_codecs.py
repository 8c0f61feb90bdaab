"""Dependency-free PNG codec: pure round-trips over every filter and color
type, the error ladder, palette and low-bit-depth decoding, and bit-exact
interop with Java ImageIO through Spark's image source."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from wotan_spark.codecs.png import decode_png, encode_png, parse_png


# ---------------------------------------------------------------------------
# PNG pure round-trips
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_roundtrip_every_filter_and_color_type(filter_type, channels):
    rng = np.random.default_rng([7, filter_type, channels])
    h, w = 11, 13
    px = rng.integers(0, 256, (h, w * channels), dtype=np.uint8)
    payload = encode_png(px, channels=channels, filter_type=filter_type)
    got, gw, gh, gc = parse_png(payload)
    assert (gw, gh, gc) == (w, h, channels)
    np.testing.assert_array_equal(got, px)
    np.testing.assert_array_equal(decode_png(payload), px.reshape(-1))


def test_png_gradient_compresses_under_sub_filter():
    """Sanity that the filters do what filters are for: a horizontal
    gradient under Sub encodes near-constant residuals and beats None."""
    px = np.tile(np.arange(200, dtype=np.uint8), (32, 1))
    none_size = len(encode_png(px, filter_type=0))
    sub_size = len(encode_png(px, filter_type=1))
    assert sub_size < none_size


def test_png_single_column_image():
    """stride == bpp edge: the left/upleft lanes are all-zero."""
    px = np.arange(9, dtype=np.uint8).reshape(9, 1)
    for ft in range(5):
        got, w, h, c = parse_png(encode_png(px, filter_type=ft))
        assert (w, h, c) == (1, 9, 1)
        np.testing.assert_array_equal(got, px)


def test_png_rejects_bad_inputs():
    with pytest.raises(ValueError, match="signature"):
        parse_png(b"notapng")
    px = np.zeros((4, 4), dtype=np.uint8)
    good = encode_png(px)
    # strip IEND (12 bytes) and cut into IDAT's crc+data so the declared
    # chunk length exceeds the available bytes
    with pytest.raises(ValueError, match="truncated"):
        parse_png(good[:-17])
    with pytest.raises(ValueError, match="missing IEND"):
        parse_png(good[:-12])
    # 16-bit depth: patch IHDR (depth is byte 24: sig 8 + len 4 + type 4
    # + w 4 + h 4) and re-CRC
    ihdr = bytearray(good[16:16 + 13])
    ihdr[8] = 16
    crc = struct.pack(">I", zlib.crc32(b"IHDR" + bytes(ihdr)))
    bad = good[:16] + bytes(ihdr) + crc + good[33:]
    with pytest.raises(ValueError, match="bit depth"):
        parse_png(bad)
    # palette color type is SUPPORTED since round 5e — but a palette
    # image without a PLTE chunk is structurally invalid
    ihdr = bytearray(good[16:16 + 13])
    ihdr[9] = 3
    crc = struct.pack(">I", zlib.crc32(b"IHDR" + bytes(ihdr)))
    bad = good[:16] + bytes(ihdr) + crc + good[33:]
    with pytest.raises(ValueError, match="PLTE"):
        parse_png(bad)
    with pytest.raises(ValueError, match="channels"):
        encode_png(px, channels=5)



def test_encode_png_accepts_flat_array():
    import numpy as np

    from wotan_spark.codecs.png import decode_png, encode_png

    flat = np.arange(32, dtype=np.uint8)
    out = decode_png(encode_png(flat))
    assert (out == flat).all()




def test_png_decoder_interop_vs_spark_image_source(spark, tmp_path):
    """INDEPENDENT-decoder cross-validation for PNG: bit-EXACT agreement
    with Java ImageIO (via Spark's image source) on real-world system
    PNGs we did not produce — RGBA icons and 1-channel masks covering
    the filter mix real encoders emit.  PNG is lossless, so the bar is
    maxdiff == 0, not a tolerance."""
    import glob
    import os
    import shutil
    from wotan_spark.codecs.png import parse_png

    candidates = [p for pat in
                  ("/usr/share/doc/python3/_static/*.png",
                   "/usr/share/doc/libxslt1-dev/html/html/*.png")
                  for p in glob.glob(pat)]
    usable = []
    for p in candidates:
        try:
            parse_png(open(p, "rb").read())
            usable.append(p)
        except ValueError:
            pass            # palette / low-bit-depth: documented loud skip
    if len(usable) < 3:
        pytest.skip("no suitable system PNGs present")
    d = tmp_path / "pngs"
    os.makedirs(d)
    for p in usable:
        shutil.copy(p, d)
    rows = (spark.read.format("image").load(str(d))
            .select("image.origin", "image.width", "image.height",
                    "image.nChannels", "image.data").collect())
    checked = 0
    for r in rows:
        path = r.origin.replace("file:", "")
        ours, w, h, c = parse_png(open(path, "rb").read())
        assert (w, h) == (r.width, r.height), path
        ref = np.frombuffer(bytes(r.data), np.uint8) \
            .reshape(r.height, r.width, r.nChannels)
        if r.nChannels == 4 and c == 4:
            ref_cmp = ref[:, :, [2, 1, 0, 3]]          # BGRA -> RGBA
        elif r.nChannels == 1 and c == 1:
            ref_cmp = ref
        else:
            continue        # ImageIO channel-promoted; skip that file
        np.testing.assert_array_equal(
            ours.reshape(h, w, c), ref_cmp.reshape(h, w, c), err_msg=path)
        checked += 1
    assert checked >= 3, "expected several comparable PNGs"


def _mk_png(width, height, depth, color, plte=b"", trns=b"",
            pixel_bytes=b""):
    """Hand-build a minimal PNG: one IDAT, filter 0 on every row."""
    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))
    ihdr = struct.pack(">IIBBBBB", width, height, depth, color, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte:
        out += chunk(b"PLTE", plte)
    if trns:
        out += chunk(b"tRNS", trns)
    row_bytes = (width * depth + 7) // 8
    raw = b"".join(b"\x00" + pixel_bytes[y * row_bytes:(y + 1) * row_bytes]
                   for y in range(height))
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def test_png_palette_and_low_bit_depths():
    """Round-5e decoder extension: 1/2/4-bit grayscale scale to full
    8-bit range exactly; palette images expand through PLTE (RGB) and
    PLTE+tRNS (RGBA); out-of-range palette indexes raise."""
    # 1-bit grayscale, 10px wide: bits 1010101010 + row padding
    pat = np.array([1, 0, 1, 0, 1, 0, 1, 0, 1, 0], dtype=np.uint8)
    packed = np.packbits(pat).tobytes()
    px, w, h, c = parse_png(_mk_png(10, 1, 1, 0, pixel_bytes=packed))
    assert (w, h, c) == (10, 1, 1)
    np.testing.assert_array_equal(px.reshape(-1), pat * 255)
    # 2-bit grayscale: values 0..3 -> 0, 85, 170, 255
    packed = np.packbits(
        np.unpackbits(np.arange(4, dtype=np.uint8)[:, None], axis=1,
                      count=8)[:, 6:].reshape(-1)).tobytes()
    px, w, h, c = parse_png(_mk_png(4, 1, 2, 0, pixel_bytes=packed))
    np.testing.assert_array_equal(px.reshape(-1), [0, 85, 170, 255])
    # 8-bit palette + tRNS -> RGBA
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    png = _mk_png(3, 1, 8, 3, plte=plte, trns=bytes([128]),
                  pixel_bytes=bytes([0, 1, 2]))
    px, w, h, c = parse_png(png)
    assert c == 4
    np.testing.assert_array_equal(
        px.reshape(3, 4),
        [[255, 0, 0, 128], [0, 255, 0, 255], [0, 0, 255, 255]])
    # 4-bit palette, no tRNS -> RGB
    png = _mk_png(2, 1, 4, 3, plte=plte, pixel_bytes=bytes([0x12]))
    px, w, h, c = parse_png(png)
    assert c == 3
    np.testing.assert_array_equal(px.reshape(2, 3),
                                  [[0, 255, 0], [0, 0, 255]])
    # palette index beyond PLTE raises
    with pytest.raises(ValueError, match="palette index"):
        parse_png(_mk_png(1, 1, 8, 3, plte=plte, pixel_bytes=bytes([9])))


def test_png_palette_interop_vs_spark_image_source(spark, tmp_path):
    """The gitweb PNGs (8-bit palette logo, 2-bit palette favicon) decode
    bit-exactly vs Java ImageIO — real palette files we did not make."""
    import os
    import shutil
    from wotan_spark.codecs.png import parse_png as _pp

    srcs = [p for p in ("/usr/share/gitweb/static/git-logo.png",
                        "/usr/share/gitweb/static/git-favicon.png")
            if os.path.exists(p)]
    if not srcs:
        pytest.skip("gitweb PNGs not present")
    d = tmp_path / "p"
    os.makedirs(d)
    for p in srcs:
        shutil.copy(p, d)
    rows = (spark.read.format("image").load(str(d))
            .select("image.origin", "image.width", "image.height",
                    "image.nChannels", "image.data").collect())
    for r in rows:
        path = r.origin.replace("file:", "")
        ours, w, h, c = _pp(open(path, "rb").read())
        assert (w, h, c) == (r.width, r.height, r.nChannels), path
        ref = np.frombuffer(bytes(r.data), np.uint8) \
            .reshape(r.height, r.width, r.nChannels)[:, :, ::-1]  # BGR
        np.testing.assert_array_equal(ours.reshape(h, w, c), ref,
                                      err_msg=path)
