"""Tests for the pure-numpy baseline JPEG codec (functions/jpeg.py)."""

from __future__ import annotations

import numpy as np
import pytest

from go_web_mapreduce_spark.functions.jpeg import (
    _M,
    _Z,
    decode_jpeg as decode_jpeg_gray,
    encode_jpeg_color,
    encode_jpeg_gray,
)


def _reference_pipeline(px: np.ndarray, quant: int) -> np.ndarray:
    """Independent model of what a correct baseline codec must produce:
    round(idct(dequant(quant(fdct(x−128)))))+128 per 8×8 block. Exercises
    none of the entropy layer, so agreement with decode(encode(x)) pins the
    Huffman/bitstream/zigzag/stuffing code exactly."""
    out = np.empty_like(px)
    h, w = px.shape
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            b = px[by : by + 8, bx : bx + 8].astype(np.float64) - 128.0
            coef = _M @ b @ _M.T
            zz = np.round(coef.reshape(64)[_Z] / quant)
            flat = np.zeros(64)
            flat[_Z] = zz * quant
            rec = _M.T @ flat.reshape(8, 8) @ _M
            out[by : by + 8, bx : bx + 8] = np.clip(
                np.round(rec + 128.0), 0, 255
            ).astype(np.uint8)
    return out


def test_block_constant_round_trip_is_exact():
    rng = np.random.default_rng(7)
    vals = rng.integers(0, 256, size=(3, 4))
    px = np.kron(vals, np.ones((8, 8), dtype=int)).astype(np.uint8)
    data = encode_jpeg_gray(px)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    assert np.array_equal(decode_jpeg_gray(data), px)


@pytest.mark.parametrize("quant", [1, 2, 8])
def test_arbitrary_content_matches_reference_pipeline(quant):
    rng = np.random.default_rng(13)
    px = rng.integers(0, 256, size=(24, 16)).astype(np.uint8)
    got = decode_jpeg_gray(encode_jpeg_gray(px, quant=quant))
    assert np.array_equal(got, _reference_pipeline(px, quant))


def test_gradient_exercises_ac_run_lengths():
    # horizontal ramp: long zero runs between AC coefficients → ZRL/EOB paths
    px = np.tile(np.arange(64, dtype=np.uint8) * 4, (16, 1))
    got = decode_jpeg_gray(encode_jpeg_gray(px, quant=2))
    assert np.array_equal(got, _reference_pipeline(px, 2))


def test_byte_stuffing_round_trips():
    # all-white blocks drive DC diffs that emit 0xFF bytes in the stream;
    # a stuffing bug would corrupt every following block
    px = np.full((16, 16), 255, dtype=np.uint8)
    assert np.array_equal(decode_jpeg_gray(encode_jpeg_gray(px)), px)


def test_decoder_rejects_garbage_and_wrong_shapes():
    with pytest.raises(ValueError):
        decode_jpeg_gray(b"\x89PNG\r\n\x1a\nnot a jpeg")
    with pytest.raises(ValueError):
        encode_jpeg_gray(np.zeros((10, 16), dtype=np.uint8))  # not /8


def test_decoder_is_general_over_quant_tables():
    # same content, two quant tables → different streams, both decode to
    # their own reference output (decoder parses DQT, does not assume 1s)
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(8, 8)).astype(np.uint8)
    d1 = decode_jpeg_gray(encode_jpeg_gray(px, quant=1))
    d4 = decode_jpeg_gray(encode_jpeg_gray(px, quant=4))
    assert np.array_equal(d1, _reference_pipeline(px, 1))
    assert np.array_equal(d4, _reference_pipeline(px, 4))


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        bh=st.integers(1, 3),
        bw=st.integers(1, 3),
        quant=st.integers(1, 16),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_property_round_trip_matches_reference(bh, bw, quant, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(bh * 8, bw * 8)).astype(np.uint8)
        got = decode_jpeg_gray(encode_jpeg_gray(px, quant=quant))
        assert np.array_equal(got, _reference_pipeline(px, quant))

except ImportError:  # pragma: no cover — hypothesis is expected present
    pass


def test_color_gray_content_roundtrip_exact():
    """A 3-component 4:4:4 color JPEG with R=G=B block-constant content
    must round-trip exactly: Y = v, Cb = Cr = centered 0, one integral
    DCT coefficient per block per component."""
    import numpy as np

    from go_web_mapreduce_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
    )

    ones = np.ones((8, 8), np.int64)
    vals = np.array([[65, 200], [7, 129]])
    px = np.kron(vals, ones).astype(np.uint8)
    px3 = np.stack([px, px, px], axis=-1)
    back = decode_jpeg(encode_jpeg_color(px3))
    assert back.shape == (16, 16, 3)
    assert np.array_equal(back, px3)


def test_color_arbitrary_content_bounded_error():
    """Real color content at quant=1: the only loss is coefficient
    rounding + the color transform — reconstruction stays within a few
    counts per channel."""
    import numpy as np

    from go_web_mapreduce_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
    )

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (24, 32, 3)).astype(np.uint8)
    back = decode_jpeg(encode_jpeg_color(px))
    err = np.abs(back.astype(int) - px.astype(int)).max()
    assert err <= 4


def test_color_uses_separate_chroma_quant():
    """chroma_quant coarser than luma must degrade chroma only: gray
    content (zero chroma energy) still round-trips exactly."""
    import numpy as np

    from go_web_mapreduce_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
    )

    ones = np.ones((8, 8), np.int64)
    px = np.kron(np.array([[50, 220], [140, 90]]), ones).astype(np.uint8)
    px3 = np.stack([px, px, px], axis=-1)
    back = decode_jpeg(encode_jpeg_color(px3, quant=1, chroma_quant=8))
    assert np.array_equal(back, px3)


def test_decoder_refuses_unsupported_sampling():
    """A 4:2:2 SOF0 must be refused, not mis-decoded (4:2:0 decodes)."""
    import numpy as np
    import pytest

    from go_web_mapreduce_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
    )

    ones = np.ones((8, 8), np.int64)
    px = np.kron(np.array([[50, 220], [140, 90]]), ones).astype(np.uint8)
    data = bytearray(encode_jpeg_color(np.stack([px, px, px], -1)))
    sof = data.find(b"\xff\xc0")
    assert sof > 0
    data[sof + 2 + 2 + 6 + 1] = 0x21  # Y sampling 2x1 -> 4:2:2
    with pytest.raises(ValueError, match="subsampling"):
        decode_jpeg(bytes(data))


def test_420_gray_content_roundtrip_exact():
    """4:2:0 with R=G=B content: constant chroma makes the 2x2 box average
    lossless, so even the subsampled variant round-trips exactly."""
    import numpy as np

    from go_web_mapreduce_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
    )

    ones = np.ones((8, 8), np.int64)
    px = np.kron(np.array([[65, 200], [7, 129]]), ones).astype(np.uint8)
    px3 = np.stack([px, px, px], axis=-1)
    back = decode_jpeg(encode_jpeg_color(px3, subsample=True))
    assert np.array_equal(back, px3)


def test_420_smooth_color_bounded_error():
    import numpy as np

    from go_web_mapreduce_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
    )

    grad = np.linspace(0, 255, 32 * 48).reshape(32, 48)
    px = np.stack([grad, grad[::-1], np.full_like(grad, 100)], -1).astype(
        np.uint8
    )
    back = decode_jpeg(encode_jpeg_color(px, subsample=True))
    assert np.abs(back.astype(int) - px.astype(int)).max() <= 8


# quant tables must fit 8-bit DQT entries: a value >255 would wrap via
# astype(uint8) and emit a file whose stored tables disagree with those
# applied


def test_jpeg_gray_quant_range_validated():
    px = np.zeros((8, 8), np.uint8)
    with pytest.raises(ValueError, match="quant"):
        encode_jpeg_gray(px, quant=256)
    with pytest.raises(ValueError, match="quant"):
        encode_jpeg_gray(px, quant=0)
    encode_jpeg_gray(px, quant=255)  # boundary is legal


def test_jpeg_color_quant_range_validated():
    px = np.zeros((8, 8, 3), np.uint8)
    with pytest.raises(ValueError, match="quant"):
        encode_jpeg_color(px, quant=300)
    with pytest.raises(ValueError, match="quant"):
        encode_jpeg_color(px, quant=2, chroma_quant=256)
    encode_jpeg_color(px, quant=255, chroma_quant=255)
