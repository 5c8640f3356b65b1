"""Multimodal columns: opaque binary payloads with typed metadata.

Pattern for a 100 TB training-data pipeline: media (image/audio/video) lives
as an opaque ``binary`` column plus a typed metadata struct; decode /
feature-extract / resize / frame-sample run as Arrow-batched Pandas
iterators (``mapInPandas``) so bytes move in columnar batches and never
row-at-a-time.

Every query of the family runs on three kernels:

- :func:`synthesized` is the one synthesis pass: the ASCII documents fanned
  out and encoded per document by a small encoder (image, WAV, JPEG,
  video) into ``(doc_id, payload, mime, source)``;
- :func:`per_payload` is the one decode pass: each ``(mime, payload)``
  decoded through :func:`decode_payload` and reduced to value rows (one
  per payload, or one per kept frame) emitted beside key columns;
- :func:`hash_census` is the one pinned ``(h, source)`` census tail of the
  perceptual-hash queries (image aHash, audio fingerprint).

Decode is REAL for every format expressible without codec libraries:
``decode_bmp`` (24-bit BMP, pure struct/numpy header parse + de-pad + BGR
flip), ``decode_png`` (non-interlaced 8-bit RGB/RGBA: zlib inflate +
per-scanline unfilter of all five PNG filter types), ``decode_wav``
(PCM via stdlib ``wave``), GIF (genuine variable-width LZW,
functions/gif.py), and baseline JPEG — grayscale, 3-component 4:4:4
color, AND 4:2:0 chroma-subsampled color (pure-numpy Huffman + DCT +
T.871 color transform, functions/jpeg.py) — exercised end-to-end by ``q_multimodal_decode`` /
``q_multimodal_audio`` / ``q_multimodal_jpeg``, which synthesize genuine
BMP/PNG/GIF/WAV/JPEG files and hash-verify the decoded pixel/sample sums
against first-principles oracles. Only formats that genuinely require
external libraries (MP3/MP4, progressive JPEG — no PIL/ffmpeg in the
container) remain stubbed:
``decode_payload`` raises rather than faking it. ``extract_features``
computes REAL pixel/sample statistics for every decodable mime and falls
back to a deterministic md5-derived stand-in only for undecodable
payloads. Swapping in PIL/librosa is a one-entry change to ``DECODERS``.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_web_mapreduce_spark.functions.numeric import dsum
from go_web_mapreduce_spark.registry import query
from go_web_mapreduce_spark.sources.sinks import pin
from go_web_mapreduce_spark.sources.tables import fan_out, load_table

FEATURE_DIM = 8

# oracle-side twin of ascii_documents — keep the predicates in lockstep
_ASCII_DOCS_SQL = (
    "length(text) > 0 AND octet_length(encode(text)) = length(text)"
)

VIDEO_FRAMES = 4  # frames per synthesized AVI clip (4 blocks of text bytes each)
FRAME_SAMPLE_EVERY = 2  # q_multimodal_frames keeps frames 0, 2, ...


def as_media_table(docs: DataFrame) -> DataFrame:
    """Wrap the documents table as a media table: payload = utf-8 bytes of
    the text (standing in for image/audio bytes), typed metadata columns."""
    payload = F.encode("text", "utf-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.octet_length("text").alias("n_bytes"),
        "source",
    )


def encode_bmp(pixels) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a standard 24-bit uncompressed
    BMP (BITMAPINFOHEADER, bottom-up rows, 4-byte row padding). Pure
    struct/numpy — no codec library."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    row_bytes = w * 3
    pad = (4 - row_bytes % 4) % 4
    img_size = (row_bytes + pad) * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    body = bytearray()
    bgr = px[:, :, ::-1]  # BMP stores BGR
    for row in bgr[::-1]:  # bottom-up
        body += row.tobytes() + b"\x00" * pad
    return header + info + bytes(body)


def decode_bmp(data: bytes):
    """Decode a 24-bit uncompressed BMP into an (h, w, 3) uint8 RGB array.
    Pure struct/numpy: header parse, row de-padding, BGR→RGB, bottom-up
    flip. Raises ValueError on anything but the uncompressed 24-bit form."""
    import struct

    import numpy as np

    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", data, 10)[0]
    w, h = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"only 24-bit uncompressed BMP supported (bpp={bpp})")
    row_bytes = w * 3
    pad = (4 - row_bytes % 4) % 4
    rows = []
    for r in range(abs(h)):
        start = offset + r * (row_bytes + pad)
        rows.append(np.frombuffer(data, np.uint8, row_bytes, start).reshape(w, 3))
    px = np.stack(rows)
    if h > 0:  # bottom-up storage
        px = px[::-1]
    return px[:, :, ::-1].copy()  # BGR → RGB


def decode_wav(data: bytes):
    """Decode a PCM WAV payload into an (n_samples, n_channels) int16 array
    via the stdlib ``wave`` module + numpy — no codec library."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(data)) as wf:
        if wf.getsampwidth() != 2:
            raise ValueError("only 16-bit PCM WAV supported")
        frames = wf.readframes(wf.getnframes())
        return np.frombuffer(frames, np.int16).reshape(-1, wf.getnchannels())


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a, b, c):
    """Vectorized Paeth predictor (PNG filter type 4): per element pick the
    neighbor (left, up, upper-left) closest to left + up - upper_left."""
    import numpy as np

    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(pixels, vary_filters: bool = True) -> bytes:
    """Encode an (h, w, 3|4) uint8 array as a standard non-interlaced 8-bit
    PNG using only stdlib ``zlib`` + numpy: IHDR/IDAT/IEND chunks with
    CRC-32, per-scanline filtering. With ``vary_filters`` the filter type
    cycles 0→4 by row so a decoder must implement every filter (None, Sub,
    Up, Average, Paeth) to round-trip — that is deliberate: the synthetic
    corpus then exercises the whole unfilter matrix, not just type 0."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, ch = px.shape
    color_type = {3: 2, 4: 6}[ch]

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    flat = px.reshape(h, w * ch).astype(np.int32)
    zeros = np.zeros(ch, dtype=np.int32)
    prev = np.zeros(w * ch, dtype=np.int32)
    raw = bytearray()
    for r in range(h):
        cur = flat[r]
        ftype = r % 5 if vary_filters else 0
        left = np.concatenate([zeros, cur[:-ch]]) if w * ch > ch else zeros[: w * ch]
        ul = np.concatenate([zeros, prev[:-ch]]) if w * ch > ch else zeros[: w * ch]
        if ftype == 0:
            filtered = cur
        elif ftype == 1:  # Sub
            filtered = cur - left
        elif ftype == 2:  # Up
            filtered = cur - prev
        elif ftype == 3:  # Average
            filtered = cur - (left + prev) // 2
        else:  # Paeth
            filtered = cur - _paeth(left, prev, ul)
        raw += bytes([ftype]) + (filtered % 256).astype(np.uint8).tobytes()
        prev = cur
    idat = zlib.compress(bytes(raw), 6)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def decode_png(data: bytes):
    """Decode a non-interlaced 8-bit RGB/RGBA PNG into an (h, w, ch) uint8
    array with only stdlib ``zlib`` + numpy: chunk walk, IDAT concat +
    inflate, then per-scanline unfiltering of all five filter types (0–4).
    Sub/Average/Paeth carry a left-neighbor dependence, so those lines
    unfilter pixel-sequentially; Up is a vectorized add. Raises ValueError
    on interlaced, paletted, or non-8-bit images."""
    import struct
    import zlib

    import numpy as np

    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack_from(">I", data, pos), data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, bit_depth, color_type, _comp, _filt, interlace = ihdr
    if bit_depth != 8 or color_type not in (2, 6) or interlace != 0:
        raise ValueError(
            "only non-interlaced 8-bit RGB/RGBA PNG supported "
            f"(bit_depth={bit_depth}, color_type={color_type}, interlace={interlace})"
        )
    ch = 3 if color_type == 2 else 4
    stride = w * ch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (stride + 1) * h:
        raise ValueError("PNG scanline data has unexpected length")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(h):
        off = r * (stride + 1)
        ftype = raw[off]
        line = np.frombuffer(raw, np.uint8, stride, off + 1).astype(np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) % 256
        elif ftype == 1:  # Sub: recon[i] = raw[i] + recon[i-ch] — a
            # per-channel-lane prefix sum, exact under mod-256 (mod
            # distributes over addition), so it vectorizes fully
            cur = (np.cumsum(line.reshape(-1, ch), axis=0) % 256).reshape(
                stride
            )
        elif ftype in (3, 4):  # Average / Paeth: nonlinear left-dependence
            cur = line.copy()
            for i in range(stride):
                left = cur[i - ch] if i >= ch else 0
                if ftype == 3:
                    cur[i] = (cur[i] + (left + prev[i]) // 2) % 256
                else:
                    up = prev[i]
                    ul = prev[i - ch] if i >= ch else 0
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                    cur[i] = (cur[i] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[r] = cur.astype(np.uint8)
        prev = cur
    return out.reshape(h, w, ch)


# mime → pure-python/numpy decoder; the remaining compressed codecs stay
# stubbed because the container genuinely has no PIL/ffmpeg — but PNG needs
# only stdlib zlib and baseline-grayscale JPEG needs only numpy (Huffman +
# DCT in functions/jpeg.py), so both decode for real
from go_web_mapreduce_spark.functions.gif import (  # noqa: E402
    decode_gif,
    encode_gif,
)
from go_web_mapreduce_spark.functions.jpeg import (  # noqa: E402
    decode_jpeg,
    encode_jpeg_color,
    encode_jpeg_gray,
)

def _decode_avi_stacked(data: bytes):
    """AVI-MJPEG → (n_frames, h, w) array (all frames share dimensions by
    construction here, so the stack is well-formed)."""
    import numpy as np

    from go_web_mapreduce_spark.functions.avi import decode_avi_mjpeg

    return np.stack(decode_avi_mjpeg(data))


DECODERS = {
    "image/bmp": decode_bmp,
    "image/png": decode_png,
    "image/gif": decode_gif,
    "image/jpeg": decode_jpeg,
    "audio/wav": decode_wav,
    "audio/x-wav": decode_wav,
    "video/x-msvideo": _decode_avi_stacked,
    "video/avi": _decode_avi_stacked,
}


def decode_payload(mime: str, payload: bytes):
    """Decode one payload into a pixel/sample array. BMP, PNG, GIF (real
    LZW), PCM WAV, and baseline grayscale JPEG decode for real (stdlib +
    numpy only); the remaining codecs raise — the container has no
    PIL/librosa/ffmpeg, and silently faking an MP3 decode would be worse
    than refusing."""
    dec = DECODERS.get(mime)
    if dec is None:
        raise NotImplementedError(
            f"decode for {mime!r} requires codec libraries (PIL/librosa/"
            "ffmpeg) not present in this container; natively decodable "
            f"formats: {sorted(DECODERS)}"
        )
    return dec(payload)


def media_features(arr) -> list[float]:
    """Real per-payload feature vector (FEATURE_DIM floats) from a decoded
    pixel/sample array: [mean, std, min, max, p25, p50, p75, n_values].
    Deterministic float64 order statistics — the fixed-width summary a
    learned encoder would replace."""
    import numpy as np

    v = np.asarray(arr, dtype=np.float64).ravel()
    return [
        float(v.mean()),
        float(v.std()),
        float(v.min()),
        float(v.max()),
        float(np.percentile(v, 25)),
        float(np.percentile(v, 50)),
        float(np.percentile(v, 75)),
        float(v.size),
    ]


def ascii_documents(docs: DataFrame) -> DataFrame:
    """Non-empty all-ASCII documents — the invariant the synthesis oracles
    rely on (per-character ``ascii(substr(...))`` == the utf-8 byte), now
    ENFORCED in the plan rather than assumed of the corpus: char length ==
    byte length ⟺ every char is single-byte ASCII. The DuckDB oracles carry
    the identical predicate (see _ASCII_DOCS_SQL)."""
    return docs.filter(
        (F.length("text") > 0) & (F.octet_length("text") == F.length("text"))
    )


def synthesized(docs: DataFrame, encode) -> DataFrame:
    """The one synthesis pass: the ASCII documents (:func:`ascii_documents`)
    fanned out over the cluster, each encoded by ``encode(doc_id,
    utf8_bytes) -> (payload, mime)`` inside one Arrow-batched
    ``mapInPandas``. Emits ``(doc_id, payload, mime, source)``."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            enc = [
                encode(doc_id, text.encode("utf-8"))
                for doc_id, text in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [payload for payload, _ in enc],
                    "mime": [mime for _, mime in enc],
                    "source": pdf["source"],
                }
            )

    return fan_out(
        ascii_documents(docs).select("doc_id", "text", "source")
    ).mapInPandas(
        run, "doc_id bigint, payload binary, mime string, source string"
    )


def per_payload(
    media: DataFrame, keys: tuple[str, ...], fn, schema: str
) -> DataFrame:
    """The one decode pass over a media table, Arrow-batched.

    ``fn(mime, payload_bytes)`` returns the value rows of one payload, a
    list of tuples laid out as the DDL ``schema``: one row for a 1→1
    reduction, one per kept frame for a 1→N step. Each row is emitted
    after its payload's ``keys`` columns, so the output is ``keys`` then
    ``schema``, and a 1→N fan-out stays inside the batch."""
    key_ddl = ", ".join(
        f"{k} {media.schema[k].dataType.simpleString()}" for k in keys
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            at, rows = [], []
            for i, (mime, payload) in enumerate(zip(pdf["mime"], pdf["payload"])):
                for row in fn(mime, bytes(payload)):
                    at.append(i)
                    rows.append(row)
            if rows:
                # integer column labels: Spark assigns them by position
                yield pd.concat(
                    [
                        pdf.iloc[at, : len(keys)].reset_index(drop=True),
                        pd.DataFrame(rows),
                    ],
                    axis=1,
                    ignore_index=True,
                )

    return media.select(*keys, "mime", "payload").mapInPandas(
        run, f"{key_ddl}, {schema}"
    )


def hash_census(hashed: DataFrame, n: str, distinct: str, shared: str) -> DataFrame:
    """The ``(h, source)`` census of a perceptual-hash table: per source,
    the items (``n``), their distinct hashes (``distinct``), the
    within-source duplicates (``n_dup_within``) and the items whose hash
    recurs in ≥2 sources (``shared``).

    The census is collapsed to ``(h, source)`` first, one map-side-combined
    shuffle over the single decode pass, and every downstream aggregate
    works on that distinct-hash-sized table. It is read twice (census and
    spread), so it is pinned: the decode lineage below runs once per item
    (plan-gated in test_plans)."""
    hs = pin(hashed.groupBy("h", "source").agg(F.count(F.lit(1)).alias("c")))
    spread = hs.groupBy("h").agg(F.count(F.lit(1)).alias("ns"))
    return (
        hs.join(spread, "h")
        .groupBy("source")
        .agg(
            F.sum("c").alias(n),
            F.count(F.lit(1)).alias(distinct),
            (F.sum("c") - F.count(F.lit(1))).alias("n_dup_within"),
            F.sum(F.when(F.col("ns") >= 2, F.col("c")).otherwise(0)).alias(shared),
        )
    )


def extract_features(
    media: DataFrame, dim: int = FEATURE_DIM, double: bool = False
) -> DataFrame:
    """Per-payload feature vector, one :func:`per_payload` pass.

    For decodable mimes (BMP/PNG/WAV — see DECODERS) the features are REAL
    content statistics of the decoded pixel/sample array
    (:func:`media_features`); undecodable payloads fall back to the
    deterministic md5-derived stand-in so the pipeline never fakes a
    decode. ``double=True`` widens the feature column to ``array<double>``
    so exact-integer components (min/max/count) survive for hash-checked
    oracles; the default float32 matches the embeddings-table convention.
    """

    def features(mime: str, raw: bytes) -> list:
        digest = hashlib.md5(raw).hexdigest()
        dec = DECODERS.get(mime)
        if dec is not None:
            feats = media_features(dec(raw))[:dim]
        else:
            feats = [int(digest[4 * i : 4 * i + 4], 16) / 65535.0 for i in range(dim)]
        return [(len(raw), digest, feats)]

    element = "double" if double else "float"
    return per_payload(
        media,
        ("doc_id", "source"),
        features,
        f"n_bytes bigint, digest string, features array<{element}>",
    ).select("doc_id", "n_bytes", "digest", "features", "source")


@query(
    "q_multimodal_meta",
    oracle="""
    SELECT source, count(*) AS n_docs,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           count(DISTINCT md5(text)) AS n_unique_payloads
    FROM documents GROUP BY source
    """,
    description="binary-column metadata rollup: payload bytes + digest "
    "dedup per source (extension mandate: multimodal columns)",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = as_media_table(load_table(spark, sf_dir, "documents"))
    # md5 of the utf-8 payload == md5 of the text in both engines
    return media.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.countDistinct(F.md5("payload")).alias("n_unique_payloads"),
    )


@query(
    "q_multimodal_features",
    # the stand-in features are md5-derived, so the pipeline is
    # SQL-expressible: f0 = int(md5[:4 hex], 16) / 65535.0. The checked
    # aggregate recomputes f0 in float64 from the digest — float32 array
    # cells don't round-trip to decimal identically across engines (their
    # float→decimal casts disagree in the 8th digit), so the array itself
    # is pinned feature-vs-digest-consistent in tests instead
    oracle="""
    SELECT source, count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_unique,
           CAST(CAST(sum(CAST(('0x' || substr(md5(text), 1, 4))::BIGINT / 65535.0
                         AS DECIMAL(18,8))) AS STRING) AS DOUBLE) AS sum_f0
    FROM documents GROUP BY source
    """,
    description="mapInPandas feature extraction over undecodable binary "
    "payloads (text/plain → md5-derived stand-in features, themselves "
    "hash-verifiable; decodable mimes get REAL content statistics — see "
    "q_multimodal_features_real)",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = as_media_table(load_table(spark, sf_dir, "documents"))
    feats = extract_features(media)
    f0 = F.conv(F.substring("digest", 1, 4), 16, 10).cast("bigint") / F.lit(65535.0)
    return feats.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("digest").alias("n_unique"),
        dsum(f0, scale=8).alias("sum_f0"),
    )


@query(
    "q_multimodal_frames",
    # sampled frames k ∈ {0, 2, ...}: frame k's blocks tile text bytes
    # 4k..4k+3, 64 pixels each — the same first-principles arithmetic as
    # the video oracle, restricted to the kept frames (index list derived
    # from VIDEO_FRAMES / FRAME_SAMPLE_EVERY so the constants can't drift)
    oracle=f"""
    WITH b AS (
      SELECT source, octet_length(encode(text)) AS len, text
      FROM documents
      WHERE {_ASCII_DOCS_SQL}
    )
    SELECT source,
           CAST(count(*) * {-(-VIDEO_FRAMES // FRAME_SAMPLE_EVERY)} AS BIGINT)
             AS n_sampled,
           CAST(sum(64 * list_sum(list_transform(
                [{", ".join(str(4 * k + j)
                            for k in range(0, VIDEO_FRAMES, FRAME_SAMPLE_EVERY)
                            for j in range(4))}],
                i -> ascii(substr(text, (i % len) + 1, 1))))) AS BIGINT)
             AS pixel_sum
    FROM b GROUP BY source
    """,
    description="REAL 1→N frame sampling: the AVI-MJPEG clips demuxed by "
    "the genuine RIFF walk (functions/avi.py), every 2nd frame kept and "
    "JPEG-decoded — the keyframe-extraction pass of a video pipeline; "
    "per-source sampled-frame counts and pixel sums hash-verified "
    "(extension mandate: multimodal)",
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling is no longer a byte-slice stand-in: each document's
    genuine AVI clip is demuxed with the real container walk, every 2nd
    frame is decoded by the real JPEG codec, and the sampled frames'
    exact pixel sums aggregate per source. The 1→N fan-out (one clip row
    → one row per kept frame) happens inside the Arrow batch."""

    def kept_frames(mime: str, raw: bytes) -> list:
        frames = decode_payload(mime, raw).astype("int64")
        return [
            (k, int(frames[k].sum()))
            for k in range(0, len(frames), FRAME_SAMPLE_EVERY)
        ]

    media = synthesize_video_table(load_table(spark, sf_dir, "documents"))
    sampled = per_payload(
        media, ("source",), kept_frames, "frame_no int, px_sum bigint"
    )
    return sampled.groupBy("source").agg(
        F.count("*").alias("n_sampled"),
        F.sum("px_sum").alias("pixel_sum"),
    )


@query(
    "q_multimodal_resize",
    # thumb pixel (y, x, ch) = floor-average of the 2×2 source pixels
    # (2y+dy, 2x+dx, ch); source pixel p = text byte ((row·16+col)·3+ch)
    # mod len (the decode oracle's tiling). i < 192 enumerates the thumb's
    # values: y = i//24, x = (i%24)//3, ch = i%3.
    oracle=f"""
    WITH b AS (
      SELECT source, octet_length(encode(text)) AS len, text
      FROM documents
      WHERE length(text) > 0 AND octet_length(encode(text)) = length(text)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_thumbs,
           CAST(count(*) * 192 AS BIGINT) AS total_thumb_bytes,
           CAST(sum(list_sum(list_transform(range(0, 192), i ->
               ( ascii(substr(text, ((((2*(i//24))*16 + 2*((i%24)//3))*3 + i%3) % len) + 1, 1))
               + ascii(substr(text, ((((2*(i//24))*16 + 2*((i%24)//3) + 1)*3 + i%3) % len) + 1, 1))
               + ascii(substr(text, ((((2*(i//24) + 1)*16 + 2*((i%24)//3))*3 + i%3) % len) + 1, 1))
               + ascii(substr(text, ((((2*(i//24) + 1)*16 + 2*((i%24)//3) + 1)*3 + i%3) % len) + 1, 1))
               ) // 4))) AS BIGINT) AS thumb_sum
    FROM b GROUP BY source
    """,
    description="REAL 1→1 resize: the mixed BMP/PNG/GIF corpus decoded by "
    "the genuine codecs, 2×2 box-downsampled 16×16→8×8 (floor average "
    "per channel) inside the Arrow batch, per-source thumbnail pixel "
    "sums hash-verified against a first-principles oracle — the "
    "thumbnail pass of a vision-data pipeline (extension mandate: "
    "multimodal resize)",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize is no longer a digest stand-in: every payload is a genuine
    image file (three formats), decoded for real, and the thumbnail is an
    exact integer box average — so a decode bug, an off-by-one in the
    window grid, or a rounding-mode drift all hash-mismatch."""

    def thumbnail(mime: str, raw: bytes) -> list:
        px = decode_payload(mime, raw).astype("int64")
        thumb = (
            px[0::2, 0::2] + px[0::2, 1::2]
            + px[1::2, 0::2] + px[1::2, 1::2]
        ) // 4
        return [(int(thumb.size), int(thumb.sum()))]

    media = synthesize_image_table(load_table(spark, sf_dir, "documents"))
    thumbs = per_payload(media, ("source",), thumbnail, "nb bigint, s bigint")
    return thumbs.groupBy("source").agg(
        F.count("*").alias("n_thumbs"),
        F.sum("nb").alias("total_thumb_bytes"),
        F.sum("s").alias("thumb_sum"),
    )


# ---------------------------------------------------------------------------
# q_multimodal_decode — REAL encode→decode round trip over binary payloads
# ---------------------------------------------------------------------------

IMG_W = IMG_H = 16  # synthesized image dimensions (768 pixel bytes)


def _tiled(raw: bytes, n: int) -> bytes:
    """``raw`` repeated to exactly ``n`` bytes: byte i is ``raw[i % len]``,
    the tiling every synthesis oracle restates over the text."""
    return (raw * -(-n // len(raw)))[:n]


_IMAGE_CODECS = (
    (encode_bmp, "image/bmp"),
    (encode_png, "image/png"),
    (encode_gif, "image/gif"),
)


def _encode_image(doc_id: int, raw: bytes) -> tuple[bytes, str]:
    import numpy as np

    px = np.frombuffer(_tiled(raw, IMG_W * IMG_H * 3), np.uint8).reshape(
        IMG_H, IMG_W, 3
    )
    encode, mime = _IMAGE_CODECS[doc_id % 3]
    return encode(px), mime


def synthesize_image_table(docs: DataFrame) -> DataFrame:
    """Build a genuine mixed-format media table: each document's utf-8 bytes
    tiled into a 16×16 RGB pixel block and encoded as a REAL image file —
    24-bit BMP (headers, padding, bottom-up rows) for doc_id % 3 == 0, PNG
    (zlib IDAT, cycling scanline filters 0–4) for % 3 == 1, GIF87a (palette
    + genuine variable-width LZW) for % 3 == 2. Every payload is a valid
    file any image reader opens, and all three formats decode to the
    identical pixel array, so one first-principles oracle covers them all.
    (A 16×16 tile has ≤256 distinct colors by pigeonhole, so the GIF
    palette constraint always holds.)"""
    return synthesized(docs, _encode_image)


@query(
    "q_multimodal_decode",
    # the decoded pixels are the document's utf-8 bytes tiled to 768, so the
    # exact pixel sum is expressible over text: full_tiles * byte_sum +
    # prefix_sum(remainder). The ASCII invariant (ascii() == the utf-8 byte)
    # is ENFORCED by the same predicate in both engines, not assumed.
    oracle=f"""
    WITH b AS (
      SELECT source,
             octet_length(encode(text)) AS len,
             list_sum(list_transform(range(1, octet_length(encode(text)) + 1),
                                     i -> ascii(substr(text, i, 1)))) AS s_all,
             list_sum(list_transform(range(1, ({IMG_W * IMG_H * 3} % octet_length(encode(text))) + 1),
                                     i -> ascii(substr(text, i, 1)))) AS s_prefix
      FROM documents
      WHERE {_ASCII_DOCS_SQL}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(count(*) * {IMG_W * IMG_H} AS BIGINT) AS n_pixels,
           CAST(sum(({IMG_W * IMG_H * 3} // len) * s_all
                    + coalesce(s_prefix, 0)) AS BIGINT) AS pixel_sum
    FROM b GROUP BY source
    """,
    description="REAL media decode over a mixed-format corpus: documents "
    "rendered as valid 24-bit BMP files (headers, padding, BGR, bottom-up "
    "rows), real PNGs (zlib IDAT, scanline filters 0-4), AND real GIFs "
    "(palette + genuine variable-width LZW, functions/gif.py) then decoded "
    "back with the pure-stdlib parsers; per-source exact pixel sums prove "
    "all three round trips bit-for-bit (MP3/MP4 remain stubbed — no "
    "PIL/ffmpeg in the container; grayscale baseline JPEG decodes in "
    "q_multimodal_jpeg)",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode is no longer a stub for stdlib-expressible formats: the query
    synthesizes genuine BMP files (doc_id % 3 == 0), PNG files (% 3 == 1,
    cycling all five scanline filter types), and GIF files (% 3 == 2,
    genuine LZW) and runs them through the real parsers inside an
    Arrow-batched mapInPandas — bytes in, pixel arrays out, exact integer
    statistics aggregated per source. The oracle
    recomputes the pixel sums from first principles (tiled utf-8 bytes), so
    a single header-offset, padding, or unfilter bug in either codec would
    hash-mismatch."""

    def pixels(mime: str, raw: bytes) -> list:
        px = decode_payload(mime, raw)
        return [(int(px.shape[0] * px.shape[1]), int(px.astype("int64").sum()))]

    media = synthesize_image_table(load_table(spark, sf_dir, "documents"))
    decoded = per_payload(media, ("source",), pixels, "n_px bigint, px_sum bigint")
    return decoded.groupBy("source").agg(
        F.count("*").alias("n_images"),
        F.sum("n_px").alias("n_pixels"),
        F.sum("px_sum").alias("pixel_sum"),
    )


@query(
    "q_multimodal_features_real",
    # features come from REAL decoded pixels, so they are recomputable over
    # text from first principles: mean = pixel_sum/768 (the decode oracle's
    # sum), min/max = order statistics over the bytes that appear in the
    # tile (the first min(len, 768) characters — at least one full copy of
    # the text lands in the tile whenever len <= 768). min/max/count are
    # exact integers; the mean goes through the same DECIMAL(18,8) rounding
    # both engines apply identically to the same float64.
    oracle=f"""
    WITH b AS (
      SELECT source,
             octet_length(encode(text)) AS len,
             list_sum(list_transform(range(1, octet_length(encode(text)) + 1),
                                     i -> ascii(substr(text, i, 1)))) AS s_all,
             list_sum(list_transform(range(1, ({IMG_W * IMG_H * 3} % octet_length(encode(text))) + 1),
                                     i -> ascii(substr(text, i, 1)))) AS s_prefix,
             list_min(list_transform(range(1, least(octet_length(encode(text)), {IMG_W * IMG_H * 3}) + 1),
                                     i -> ascii(substr(text, i, 1)))) AS mn,
             list_max(list_transform(range(1, least(octet_length(encode(text)), {IMG_W * IMG_H * 3}) + 1),
                                     i -> ascii(substr(text, i, 1)))) AS mx
      FROM documents
      WHERE {_ASCII_DOCS_SQL}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(mn) AS BIGINT) AS sum_min,
           CAST(sum(mx) AS BIGINT) AS sum_max,
           CAST(CAST(sum(CAST(
             (({IMG_W * IMG_H * 3} // len) * s_all + coalesce(s_prefix, 0))
             / {IMG_W * IMG_H * 3}.0 AS DECIMAL(18,8))) AS STRING) AS DOUBLE) AS sum_mean
    FROM b GROUP BY source
    """,
    description="REAL feature extraction: the mixed BMP/PNG corpus decoded "
    "to pixels and summarized as content statistics (mean/std/min/max/"
    "quartiles/count) via Arrow-batched mapInPandas — the features path no "
    "longer consumes an md5 stand-in for decodable formats; per-source "
    "sums of mean/min/max hash-verified against a first-principles oracle",
)
def q_multimodal_features_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthesize_image_table(load_table(spark, sf_dir, "documents"))
    feats = extract_features(media, double=True)
    return feats.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("features")[2].cast("bigint")).alias("sum_min"),
        F.sum(F.col("features")[3].cast("bigint")).alias("sum_max"),
        dsum(F.col("features")[0], scale=8).alias("sum_mean"),
    )


# ---------------------------------------------------------------------------
# q_multimodal_audio — REAL WAV encode→decode round trip
# ---------------------------------------------------------------------------

AUDIO_BYTES = 768  # payload bytes per synthesized clip → 384 mono samples


def _encode_wav(doc_id: int, raw: bytes) -> tuple[bytes, str]:
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(16000)
        wf.writeframes(_tiled(raw, AUDIO_BYTES))
    return buf.getvalue(), "audio/wav"


def synthesize_wav_table(docs: DataFrame) -> DataFrame:
    """Each document's utf-8 bytes tiled into AUDIO_BYTES of 16-bit PCM and
    wrapped in a genuine RIFF/WAV container via the stdlib ``wave`` writer —
    valid files any audio tool opens."""
    return synthesized(docs, _encode_wav)


@query(
    "q_multimodal_audio",
    # decoded samples are little-endian int16 views of the tiled utf-8
    # bytes: sample_i = b(2i) + 256*b(2i+1), minus 65536 when >= 32768.
    # The ASCII filter (enforced identically in both engines) guarantees
    # every byte < 128, so no sample wraps negative and the oracle
    # recomputes the exact sum from character codes
    oracle=f"""
    WITH t AS (
      SELECT source,
             list_transform(range(1, {AUDIO_BYTES} + 1),
                            i -> ascii(substr(text,
                                              ((i - 1) % octet_length(encode(text))) + 1,
                                              1))) AS b
      FROM documents
      WHERE {_ASCII_DOCS_SQL}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_clips,
           CAST(count(*) * {AUDIO_BYTES // 2} AS BIGINT) AS n_samples,
           CAST(sum(list_sum(list_transform(range(1, {AUDIO_BYTES // 2} + 1),
                                            i -> b[2*i - 1] + 256 * b[2*i])))
                AS BIGINT) AS sample_sum
    FROM t GROUP BY source
    """,
    description="REAL audio decode: documents rendered as genuine PCM WAV "
    "files then decoded back with the stdlib-wave parser inside Arrow-"
    "batched mapInPandas; per-source exact sample sums hash-verified "
    "against a first-principles oracle",
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio sibling of q_multimodal_decode: valid WAV containers in,
    int16 sample arrays out, exact integer statistics aggregated per
    source. A header-length or endianness bug would hash-mismatch."""

    def samples(mime: str, raw: bytes) -> list:
        s = decode_payload(mime, raw)
        return [(int(s.shape[0]), int(s.astype("int64").sum()))]

    media = synthesize_wav_table(load_table(spark, sf_dir, "documents"))
    decoded = per_payload(
        media, ("source",), samples, "n_samples bigint, s_sum bigint"
    )
    return decoded.groupBy("source").agg(
        F.count("*").alias("n_clips"),
        F.sum("n_samples").alias("n_samples"),
        F.sum("s_sum").alias("sample_sum"),
    )


# ---------------------------------------------------------------------------
# q_multimodal_jpeg — REAL baseline-JPEG encode→decode round trip
# ---------------------------------------------------------------------------

JPEG_GRID = 2  # 2×2 grid of 8×8 blocks → 16×16 grayscale
JPEG_BLOCKS = JPEG_GRID * JPEG_GRID


def _blocks(vals: bytes):
    """A 16×16 grayscale image of JPEG_BLOCKS constant 8×8 blocks, block k
    (row-major on the grid) holding byte k of ``vals``."""
    import numpy as np

    grid = np.frombuffer(vals, np.uint8).reshape(JPEG_GRID, JPEG_GRID)
    return grid.repeat(8, axis=0).repeat(8, axis=1)


def _encode_jpeg(doc_id: int, raw: bytes) -> tuple[bytes, str]:
    import numpy as np

    px = _blocks(_tiled(raw, JPEG_BLOCKS))
    if doc_id % 3 == 0:
        return encode_jpeg_gray(px), "image/jpeg"
    rgb = np.stack([px, px, px], axis=-1)
    return encode_jpeg_color(rgb, subsample=bool(doc_id % 3 == 2)), "image/jpeg"


def synthesize_jpeg_table(docs: DataFrame) -> DataFrame:
    """Each document becomes a genuine baseline JFIF JPEG: a 16×16 image
    of four 8×8 blocks, block k holding the constant value of the
    document's k-th byte (tiled). doc_id % 3 == 0 encodes as
    single-component grayscale; % 3 == 1 as a REAL 3-component 4:4:4
    color JPEG (interleaved YCbCr MCUs, dual quant tables); % 3 == 2 as
    4:2:0 CHROMA-SUBSAMPLED color (four Y blocks + box-averaged Cb/Cr per
    MCU — the camera-JPEG layout). R=G=B content keeps every variant
    exact: Y = v, both chroma planes are constant 0 centered (so even the
    2×2 box average is lossless), and each block has a single integral
    DCT coefficient — the oracle predicts the decoded pixels from first
    principles."""
    return synthesized(docs, _encode_jpeg)


@query(
    "q_multimodal_jpeg",
    # each decoded image is 4 blocks of 64 pixels, block k = byte[k mod len]
    # of the document, so the per-image value sum is 64 · Σ_{k<4}
    # ascii(char[k mod len]) — times 3 for the color variants (4:4:4 for
    # doc_id % 3 == 1, 4:2:0 for % 3 == 2), whose REAL color JPEGs decode
    # to (16,16,3) with R=G=B. The ASCII predicate is enforced identically
    # in both engines.
    oracle=f"""
    WITH b AS (
      SELECT source, octet_length(encode(text)) AS len, text,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS nch
      FROM documents
      WHERE {_ASCII_DOCS_SQL}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(sum(nch) * {JPEG_BLOCKS * 64} AS BIGINT) AS n_pixels,
           CAST(sum(nch * 64 * (
               ascii(substr(text, (0 % len) + 1, 1))
             + ascii(substr(text, (1 % len) + 1, 1))
             + ascii(substr(text, (2 % len) + 1, 1))
             + ascii(substr(text, (3 % len) + 1, 1))
           )) AS BIGINT) AS pixel_sum
    FROM b GROUP BY source
    """,
    description="REAL JPEG decode with zero codec libraries: documents "
    "rendered as genuine baseline JFIF JPEGs — grayscale, 3-component "
    "4:4:4 COLOR, and 4:2:0 CHROMA-SUBSAMPLED color (four Y blocks + "
    "box-averaged chroma per MCU, T.871 transform) — then decoded back by "
    "the pure-numpy baseline decoder in functions/jpeg.py; block-constant "
    "content + unit quant table make both round trips numerically exact, "
    "so per-source pixel sums hash-verify against a first-principles "
    "oracle",
)
def q_multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JPEG sibling of q_multimodal_decode: a Huffman-table, bitstream,
    zigzag, dequantize, IDCT, MCU-interleave, or color-transform bug
    anywhere in functions/jpeg.py would hash-mismatch the per-source
    pixel sums."""

    def values(mime: str, raw: bytes) -> list:
        px = decode_payload(mime, raw)
        return [(int(px.size), int(px.astype("int64").sum()))]

    media = synthesize_jpeg_table(load_table(spark, sf_dir, "documents"))
    decoded = per_payload(media, ("source",), values, "n_px bigint, px_sum bigint")
    return decoded.groupBy("source").agg(
        F.count("*").alias("n_images"),
        F.sum("n_px").alias("n_pixels"),
        F.sum("px_sum").alias("pixel_sum"),
    )


# ---------------------------------------------------------------------------
# q_multimodal_video — REAL video decode: AVI container, MJPEG frames
# ---------------------------------------------------------------------------

def _encode_video(doc_id: int, raw: bytes) -> tuple[bytes, str]:
    from go_web_mapreduce_spark.functions.avi import encode_avi_mjpeg

    clip = _tiled(raw, JPEG_BLOCKS * VIDEO_FRAMES)
    frames = [
        _blocks(clip[JPEG_BLOCKS * k : JPEG_BLOCKS * (k + 1)])
        for k in range(VIDEO_FRAMES)
    ]
    return encode_avi_mjpeg(frames), "video/x-msvideo"


def synthesize_video_table(docs: DataFrame) -> DataFrame:
    """Each document becomes a genuine AVI-MJPEG video: VIDEO_FRAMES
    frames of 16×16 grayscale, frame k's four 8×8 blocks holding the
    document's bytes 4k..4k+3 (tiled) — so the whole clip walks the first
    16 bytes of the text. Every payload is a valid AVI any player with an
    MJPEG decoder opens."""
    return synthesized(docs, _encode_video)


@query(
    "q_multimodal_video",
    # the clip's 16 blocks tile bytes 0..15 of the text, 64 pixels each
    oracle=f"""
    WITH b AS (
      SELECT source, octet_length(encode(text)) AS len, text
      FROM documents
      WHERE {_ASCII_DOCS_SQL}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_videos,
           CAST(count(*) * {VIDEO_FRAMES} AS BIGINT) AS n_frames,
           CAST(sum(64 * list_sum(list_transform(range(0, {4 * VIDEO_FRAMES}),
                i -> ascii(substr(text, (i % len) + 1, 1))))) AS BIGINT)
             AS pixel_sum
    FROM b GROUP BY source
    """,
    description="REAL video decode with zero codec libraries: documents "
    "rendered as genuine AVI-MJPEG clips (RIFF hdrl/movi/idx1 tree, one "
    "complete baseline JPEG per 00dc frame chunk) then demuxed and "
    "frame-decoded by the pure-stdlib container walk in functions/avi.py "
    "+ the numpy JPEG decoder; per-source frame counts and pixel sums "
    "hash-verify against a first-principles oracle (H.264/MP4 refuse "
    "honestly — those genuinely need ffmpeg)",
)
def q_multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video modality's real path: container demux + per-frame codec,
    the same two layers ffmpeg would provide, for the one layout where
    both are stdlib-expressible. A RIFF-walk, frame-count, JPEG, or
    index bug would hash-mismatch the per-source sums."""

    def clip(mime: str, raw: bytes) -> list:
        frames = decode_payload(mime, raw)
        return [(len(frames), int(frames.astype("int64").sum()))]

    media = synthesize_video_table(load_table(spark, sf_dir, "documents"))
    decoded = per_payload(media, ("source",), clip, "n_frames bigint, px_sum bigint")
    return decoded.groupBy("source").agg(
        F.count("*").alias("n_videos"),
        F.sum("n_frames").alias("n_frames"),
        F.sum("px_sum").alias("pixel_sum"),
    )


@query(
    "q_audio_spectrum",
    # Parseval's theorem makes real spectral analysis exactly checkable:
    # Σ|x|² = (1/N)Σ|X_k|², and the time-domain energy is pure integer
    # arithmetic over the tiled text bytes (sample_i = b(2i) + 256·b(2i+1))
    # — so the oracle recomputes the energy exactly and asserts the FFT
    # side agreed (all_parseval TRUE; float drift is ~1e-12 relative
    # against a 1e-6 gate)
    oracle=f"""
    WITH t AS (
      SELECT source,
             list_transform(range(1, {AUDIO_BYTES} + 1),
                            i -> ascii(substr(text,
                                              ((i - 1) % octet_length(encode(text))) + 1,
                                              1))) AS b
      FROM documents
      WHERE {_ASCII_DOCS_SQL}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_clips,
           CAST(sum(list_sum(list_transform(range(1, {AUDIO_BYTES // 2} + 1),
                i -> (b[2*i - 1] + 256 * b[2*i]) * (b[2*i - 1] + 256 * b[2*i]))))
                AS BIGINT) AS energy_sum,
           TRUE AS all_parseval
    FROM t GROUP BY source
    """,
    description="REAL spectral analysis: the PCM WAV corpus decoded and "
    "run through a genuine numpy FFT per clip; per-source exact "
    "time-domain energy hash-verifies against the byte-level oracle, and "
    "Parseval's theorem (Σ|x|² = Σ|X_k|²/N) is asserted in-plan for "
    "every clip — the spectral-feature pass of an audio pipeline with "
    "the one spectral statistic that admits an exact cross-engine check",
)
def q_audio_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FFT output is engine-local floating point, so most spectral
    features can't hash across engines — but total spectral energy equals
    time-domain energy exactly (Parseval), and THAT is integer-exact from
    the synthesis bytes. The query therefore proves the FFT genuinely ran
    and was consistent (per-clip 1e-6 relative gate, observed drift
    ~1e-12) while hashing the exact energies."""

    def parseval(mime: str, raw: bytes) -> list:
        import numpy as np

        x = decode_payload(mime, raw).astype(np.float64).ravel()
        td = float(np.sum(x * x))
        fd = float(np.sum(np.abs(np.fft.fft(x)) ** 2) / len(x))
        return [(int(round(td)), abs(fd - td) <= 1e-6 * max(td, 1.0))]

    media = synthesize_wav_table(load_table(spark, sf_dir, "documents"))
    decoded = per_payload(
        media, ("source",), parseval, "energy bigint, ok boolean"
    )
    return decoded.groupBy("source").agg(
        F.count("*").alias("n_clips"),
        F.sum("energy").alias("energy_sum"),
        F.bool_and("ok").alias("all_parseval"),
    )


# ---------------------------------------------------------------------------
# q_media_pipeline — end-to-end multimodal curation funnel
# ---------------------------------------------------------------------------


@query(
    "q_media_pipeline",
    # content identity is the DECODED pixel block = the text tiled to 768
    # bytes, so two docs collide exactly when their tilings agree (e.g.
    # "ab" and "abab") — the oracle groups by the materialized tile and
    # recomputes keeper pixel sums from it
    oracle=f"""
    WITH b AS (
      SELECT doc_id, source, text, octet_length(encode(text)) AS len
      FROM documents
      WHERE {_ASCII_DOCS_SQL}
    ),
    t AS (
      SELECT doc_id, source,
             substring(repeat(text, CAST(ceil({IMG_W * IMG_H * 3}.0 / len)
                                         AS INT)),
                       1, {IMG_W * IMG_H * 3}) AS tile
      FROM b
    ),
    k AS (
      SELECT source, tile,
             CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY tile)
                  THEN 1 ELSE 0 END AS keep
      FROM t
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_media,
           CAST(sum(keep) AS BIGINT) AS n_unique,
           CAST(sum(CASE WHEN keep = 1 THEN list_sum(list_transform(
                    range(1, {IMG_W * IMG_H * 3} + 1),
                    i -> ascii(substr(tile, i, 1)))) ELSE 0 END) AS BIGINT)
             AS keeper_pixel_sum
    FROM k GROUP BY source
    """,
    description="end-to-end multimodal curation: the mixed BMP/PNG/GIF "
    "corpus decoded by the REAL codecs, deduplicated on the md5 of the "
    "DECODED pixel bytes (a decode bug changes group identity, not just "
    "sums), canonical keeper per content (min doc_id), per-source keeper "
    "pixel sums — the media sibling of q_corpus_pipeline, hash-verified "
    "as one plan",
)
def q_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → content-dedup → keeper stats in one plan: content
    identity is computed from the decoded pixels (not the source file —
    the same image encoded as BMP vs PNG deduplicates), the keeper
    window shuffles once on the content hash, and the aggregate is
    per-source states. At 100 TB the content hash is the media dedup
    key (exact dedup of re-encoded copies); near-dup goes through the
    embedding/LSH family."""
    from pyspark.sql import Window

    def content(mime: str, raw: bytes) -> list:
        import numpy as np

        px = decode_payload(mime, raw)
        flat = np.ascontiguousarray(px, dtype=np.uint8).tobytes()
        return [(hashlib.md5(flat).hexdigest(), int(px.astype(np.int64).sum()))]

    media = synthesize_image_table(load_table(spark, sf_dir, "documents"))
    decoded = per_payload(
        media, ("doc_id", "source"), content, "h string, s bigint"
    )
    w = Window.partitionBy("h")
    staged = decoded.withColumn(
        "keep", (F.col("doc_id") == F.min("doc_id").over(w)).cast("int")
    )
    return staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("keep").alias("n_unique"),
        F.sum(F.col("keep") * F.col("s")).alias("keeper_pixel_sum"),
    )


# ---------------------------------------------------------------------------
# q_image_dedup_phash — perceptual-hash (aHash) image dedup over real decodes
# ---------------------------------------------------------------------------

PHASH_GRID = 8  # sampled grid: PHASH_GRID² pixels → that many hash bits

# g(j) for grid cell j (row j//8, col j%8): the pixel sampled at
# (2·row, 2·col), channels summed — byte index 96·row + 6·col + k in the
# tiled document bytes (pixel (r, c) channel k lives at (r·16 + c)·3 + k)
_PHASH_G_SQL = (
    "list_transform(range(0, {n}), j -> "
    "  ascii(substr(text, ((96*(j//{g}) + 6*(j%{g})) % len) + 1, 1))"
    "+ ascii(substr(text, ((96*(j//{g}) + 6*(j%{g}) + 1) % len) + 1, 1))"
    "+ ascii(substr(text, ((96*(j//{g}) + 6*(j%{g}) + 2) % len) + 1, 1)))"
).format(n=PHASH_GRID * PHASH_GRID, g=PHASH_GRID)


@query(
    "q_image_dedup_phash",
    oracle=f"""
    WITH gl AS (
      SELECT doc_id, source, {_PHASH_G_SQL} AS gs
      FROM (SELECT doc_id, source, text, octet_length(encode(text)) AS len
            FROM documents WHERE {_ASCII_DOCS_SQL})
    ), hashed AS (
      SELECT doc_id, source,
             array_to_string(list_transform(gs, g ->
               CASE WHEN {PHASH_GRID * PHASH_GRID} * g >= list_sum(gs)
                    THEN '1' ELSE '0' END), '') AS h
      FROM gl
    ), spread AS (
      SELECT h, count(DISTINCT source) AS ns FROM hashed GROUP BY h
    )
    SELECT i.source,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(count(DISTINCT i.h) AS BIGINT) AS distinct_hashes,
           CAST(count(*) - count(DISTINCT i.h) AS BIGINT) AS n_dup_within,
           CAST(sum(CASE WHEN s.ns >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_hash
    FROM hashed i JOIN spread s ON s.h = i.h
    GROUP BY i.source
    """,
    description=f"perceptual-hash image dedup (average hash, the "
    "block-mean flavor of Zauner 2010's pHash family) over REAL decoded "
    "pixels: every synthesized BMP/PNG/GIF is decoded by the from-scratch "
    f"codecs, a {PHASH_GRID}×{PHASH_GRID} grid is sampled at stride 2, "
    "grayscale = R+G+B (exact integers), and bit j = (64·g_j >= Σg) — "
    "identical images hash equal regardless of container format, which "
    "is precisely what byte-level exact dedup (q_dedup_exact) cannot do "
    "for media. Per-source census: images, distinct perceptual hashes, "
    "within-source duplicates, and images whose hash recurs in ≥2 "
    "sources. The oracle recomputes every bit from first principles over "
    "the tiled document bytes, so a single decoder or sampling offset "
    "bug hash-mismatches. Plan: decode + hash are one Arrow-batched "
    "mapInPandas over the fanned-out corpus scan (no shuffle), then one "
    "hash-keyed groupBy (map-side combined) and one source-keyed rollup; "
    "hash keys are 64-bit-equivalent strings, so the shuffle carries "
    "(hash, source) pairs — linear in the image count at any scale",
)
def q_image_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection joins the dedup family's multimodal corner:
    aHash collapses re-encodes of the same pixels (BMP vs PNG vs GIF here;
    JPEG re-compression in the wild would flip only sub-threshold bits).
    Reference parity: none — extension mandate (multimodal pipeline ops)."""

    def ahash(mime: str, raw: bytes) -> list:
        px = decode_payload(mime, raw).astype("int64")
        g = px[::2, ::2][:PHASH_GRID, :PHASH_GRID].sum(axis=2)
        bits = PHASH_GRID * PHASH_GRID * g >= g.sum()
        return [("".join("1" if b else "0" for b in bits.ravel()),)]

    media = synthesize_image_table(load_table(spark, sf_dir, "documents"))
    hashed = per_payload(media, ("doc_id", "source"), ahash, "h string")
    return hash_census(hashed, "n_images", "distinct_hashes", "n_shared_hash")


# ---------------------------------------------------------------------------
# q_audio_fingerprint — energy-contour perceptual hash dedup over real WAVs
# ---------------------------------------------------------------------------

FP_WIN = 32  # samples per energy window
FP_WINDOWS = AUDIO_BYTES // 2 // FP_WIN  # 384 samples → 12 windows → 11 bits

# sample i (1-based) of the tiled clip, as the audio oracle states it:
# little-endian int16 = byte(2i-1) + 256·byte(2i); ASCII filter ⇒ positive
_FP_B_SQL = (
    f"list_transform(range(1, {AUDIO_BYTES} + 1), "
    "i -> ascii(substr(text, ((i - 1) % len) + 1, 1)))"
)


@query(
    "q_audio_fingerprint",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_FP_B_SQL} AS b
      FROM (SELECT doc_id, source, text, octet_length(encode(text)) AS len
            FROM documents WHERE {_ASCII_DOCS_SQL})
    ), e AS (
      SELECT doc_id, source,
             list_transform(range(1, {FP_WINDOWS} + 1), w ->
               list_sum(list_transform(range(1, {FP_WIN} + 1), j ->
                 CAST(b[2*((w-1)*{FP_WIN} + j) - 1]
                      + 256 * b[2*((w-1)*{FP_WIN} + j)] AS BIGINT)
               * (b[2*((w-1)*{FP_WIN} + j) - 1]
                      + 256 * b[2*((w-1)*{FP_WIN} + j)])))) AS en
      FROM t
    ), hashed AS (
      SELECT doc_id, source,
             array_to_string(list_transform(range(1, {FP_WINDOWS}), k ->
               CASE WHEN en[k + 1] > en[k] THEN '1' ELSE '0' END), '') AS h
      FROM e
    ), spread AS (
      SELECT h, count(DISTINCT source) AS ns FROM hashed GROUP BY h
    )
    SELECT i.source,
           CAST(count(*) AS BIGINT) AS n_clips,
           CAST(count(DISTINCT i.h) AS BIGINT) AS distinct_fps,
           CAST(count(*) - count(DISTINCT i.h) AS BIGINT) AS n_dup_within,
           CAST(sum(CASE WHEN s.ns >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_fp
    FROM hashed i JOIN spread s ON s.h = i.h
    GROUP BY i.source
    """,
    description="audio near-dup detection via an energy-contour "
    "fingerprint (the monotone core of Haitsma–Kalker 2002's robust "
    f"audio hash): every synthesized WAV is REALLY decoded, its "
    f"{FP_WINDOWS * FP_WIN} int16 samples split into {FP_WINDOWS} "
    f"windows of {FP_WIN}, per-window energy = exact integer Σs², and "
    "fingerprint bit k = (E(k+1) > E(k)) — the up/down shape of the "
    "loudness curve, invariant to the container and (in the wild) to "
    "re-encoding noise that preserves the contour. Per-source census: "
    "clips, distinct fingerprints, within-source dups, clips whose "
    "contour recurs in ≥2 sources — the audio sibling of "
    "q_image_dedup_phash, verified bit-for-bit against a first-"
    "principles byte-arithmetic oracle",
)
def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same 100 TB plan as the image phash: decode + window energies +
    fingerprint are ONE Arrow-batched mapInPandas over the fanned-out
    corpus scan (no shuffle carries audio bytes), then one map-side-
    combined (fingerprint, source) groupBy; everything downstream is
    distinct-fingerprint-sized. Energies are exact int64 (samples ≤
    32639, so Σ of 32 squares ≤ 3.5·10¹⁰ — no float enters the hash).
    Reference parity: none — extension mandate (multimodal pipeline)."""

    def contour(mime: str, raw: bytes) -> list:
        s = decode_payload(mime, raw).astype("int64")
        en = (s * s).reshape(FP_WINDOWS, FP_WIN).sum(axis=1)
        rises = (en[k + 1] > en[k] for k in range(FP_WINDOWS - 1))
        return [("".join("1" if r else "0" for r in rises),)]

    media = synthesize_wav_table(load_table(spark, sf_dir, "documents"))
    hashed = per_payload(media, ("doc_id", "source"), contour, "h string")
    return hash_census(hashed, "n_clips", "distinct_fps", "n_shared_fp")


# ---------------------------------------------------------------------------
# q_video_scene_cut — temporal analysis on the real AVI decode path
# ---------------------------------------------------------------------------

# a transition is a cut when the mean abs pixel diff between consecutive
# frames is >= 8 (16x16 frames -> integer threshold 8 * 256 on the sum)
SCENE_CUT_SUM = 8 * 16 * 16


@query(
    "q_video_scene_cut",
    # frame k tiles text bytes 4k..4k+3 into four 64-px blocks, so the
    # frame-to-frame abs-diff sum is 64 * sum_j |b(4(k+1)+j) - b(4k+j)|
    # — recomputed from the text bytes directly (first principles)
    oracle=f"""
    WITH b AS (
      SELECT source, text, octet_length(encode(text)) AS len
      FROM documents
      WHERE {{ascii_docs}}
    ),
    d AS (
      SELECT source,
             list_transform(range(0, {VIDEO_FRAMES - 1}), k ->
               64 * list_sum(list_transform(range(0, 4), j ->
                 abs(ascii(substr(text, ((4 * (k + 1) + j) % len) + 1, 1))
                   - ascii(substr(text, ((4 * k + j) % len) + 1, 1)))))
             ) AS diffs
      FROM b
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_videos,
           CAST(count(*) * {VIDEO_FRAMES - 1} AS BIGINT) AS n_transitions,
           CAST(sum(len(list_filter(diffs, x -> x >= {SCENE_CUT_SUM})))
                AS BIGINT) AS n_cuts,
           CAST(sum(list_sum(diffs)) AS BIGINT) AS diff_sum,
           CAST(max(list_max(diffs)) AS BIGINT) AS max_diff
    FROM d GROUP BY source
    """.replace("{ascii_docs}", _ASCII_DOCS_SQL),
    description="video temporal analysis on the REAL decode path: each "
    "AVI-MJPEG clip demuxed and frame-decoded (functions/avi.py + the "
    "numpy JPEG decoder), consecutive frames differenced, and a scene "
    "cut declared when the mean abs pixel change is >= 8 — the standard "
    "shot-boundary primitive behind frame sampling for video training "
    "data (sample one frame per shot, not per second). Per-source cut "
    "counts and exact integer diff sums hash-verify against a "
    "first-principles byte oracle",
)
def q_video_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + temporal diff in ONE Arrow pass per clip: the clip decodes
    to one (frames, h, w) stack and consecutive frames are differenced. The
    aggregation is map-side partial per source. This is the temporal
    sibling of q_image_dedup_phash's spatial hashing: shot boundaries
    partition a clip into near-duplicate-free segments, which is what a
    frame-sampling curation pipeline keys on. Same honest refusal
    boundary as q_multimodal_video: MJPEG-in-AVI decodes for real here,
    H.264/MP4 need ffmpeg and raise NotImplementedError upstream."""

    def transitions(mime: str, raw: bytes) -> list:
        import numpy as np

        frames = decode_payload(mime, raw).astype(np.int64)
        diffs = np.abs(np.diff(frames, axis=0)).sum(axis=(1, 2))
        return [
            (
                len(diffs),
                int((diffs >= SCENE_CUT_SUM).sum()),
                int(diffs.sum()),
                int(diffs.max(initial=0)),
            )
        ]

    media = synthesize_video_table(load_table(spark, sf_dir, "documents"))
    scored = per_payload(
        media,
        ("source",),
        transitions,
        "n_trans bigint, n_cuts bigint, d_sum bigint, d_max bigint",
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_videos"),
        F.sum("n_trans").alias("n_transitions"),
        F.sum("n_cuts").alias("n_cuts"),
        F.sum("d_sum").alias("diff_sum"),
        F.max("d_max").alias("max_diff"),
    )
