"""Multimodal column handling — image/audio/video as opaque binary.

Design (the part that matters at 100 TB):
- media travels as a ``binary`` payload column + typed metadata struct;
  Parquet stores it page-compressed, scans prune it unless selected.
- decode/feature-extract runs as Arrow-batched ``mapInPandas`` so bytes
  cross the JVM<->Python boundary once per batch, never per row; batch
  size is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
  (set low for large payloads — keep batches ~tens of MB).
- partitioning: payload tables repartition by a content-hash bucket so
  decode work balances even when payload sizes are skewed.

Codecs: PIL/librosa/ffmpeg are NOT in this container, but uncompressed
BMP and PPM are parseable with the stdlib alone — so the DEFAULT
('real') decoder genuinely decodes those formats end-to-end (see
``decode_bmp`` / ``decode_ppm`` / ``sniff_decode``). Formats that need
external codecs still raise NotImplementedError; the decoder registry
lets deployments plug them in.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import spread

#: Output schema of the image-decode stage.
IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha1", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
    ]
)

#: Decoder registry: name -> bytes -> (width, height, channels).
_DECODERS: dict[str, Callable[[bytes], tuple[int, int, int]]] = {}


def register_decoder(name: str, fn: Callable[[bytes], tuple[int, int, int]]) -> None:
    _DECODERS[name] = fn


def _resolve_decoder(decoder: str) -> Callable[[bytes], tuple[int, int, int]]:
    """Resolve on the DRIVER, at plan-build time: executors re-import this
    module with an empty registry, so the callable must travel inside the
    mapInPandas closure (cloudpickle), not be looked up worker-side."""
    if decoder in _DECODERS:
        return _DECODERS[decoder]
    raise NotImplementedError(
        f"decoder '{decoder}' not registered; install a codec and call "
        "register_decoder(), or register a fake for tests"
    )


# -- pure-stdlib codecs (the formats decodable without external deps) -------


def decode_bmp(raw: bytes) -> tuple[int, int, int]:
    """Uncompressed-BMP header parse (BITMAPINFOHEADER): width/height are
    int32 LE at offsets 18/22, bits-per-pixel uint16 LE at 28. Height can
    be negative (top-down rows) — dimension is its magnitude."""
    import struct

    if raw[:2] != b"BM":
        raise ValueError("not a BMP payload")
    width = struct.unpack_from("<i", raw, 18)[0]
    height = struct.unpack_from("<i", raw, 22)[0]
    bpp = struct.unpack_from("<H", raw, 28)[0]
    return width, abs(height), max(1, bpp // 8)


def decode_ppm(raw: bytes) -> tuple[int, int, int]:
    """Netpbm P6 (RGB) / P5 (gray) header parse."""
    parts = raw.split(maxsplit=3)
    magic, width, height = parts[0], int(parts[1]), int(parts[2])
    if magic not in (b"P6", b"P5"):
        raise ValueError("not a P5/P6 netpbm payload")
    return width, height, 3 if magic == b"P6" else 1


def sniff_decode(raw: bytes) -> tuple[int, int, int]:
    """Default decoder: dispatch on magic bytes to the stdlib-decodable
    formats; anything else needs an externally registered codec."""
    if raw[:2] == b"BM":
        return decode_bmp(raw)
    if raw[:2] in (b"P6", b"P5"):
        return decode_ppm(raw)
    raise NotImplementedError(
        "only BMP/PPM are decodable without external codecs; "
        "register_decoder() a real one (PIL/opencv) for this format"
    )


_DECODERS.update({"bmp": decode_bmp, "ppm": decode_ppm, "real": sniff_decode})


def media_table(docs: DataFrame) -> DataFrame:
    """Synthesize a media table from documents: utf-8 payload bytes +
    typed metadata — the schema shape a real ingest would produce.

    r15: ``spread()`` re-parallelizes an under-split source (the sf
    testdata arrives as ONE row group, so every downstream Python
    decode stage otherwise ran in a single task — the module docstring
    promised payload repartitioning but no generator did it); a no-op
    on already-parallel inputs."""
    return spread(docs).select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("image/png").alias("mime"),
            F.octet_length("text").alias("declared_bytes"),
        ).alias("meta"),
    )


def _le_hex(col, nbytes: int):
    """Little-endian hex of an integer column, ``nbytes`` wide — byte
    pairs of the zero-padded big-endian hex, reversed. Pure codegen."""
    digits = nbytes * 2
    hx = F.lpad(F.hex(col.cast("bigint")), digits, "0")
    return F.concat(*[F.substring(hx, digits - 2 * i - 1, 2) for i in range(nbytes)])


def synthetic_bmp_table(docs: DataFrame) -> DataFrame:
    """REAL 24-bit BMP payloads built entirely JVM-side: the 54-byte
    BITMAPFILEHEADER+BITMAPINFOHEADER is assembled as a hex string
    (little-endian fields via ``_le_hex``) and ``unhex``-ed together with
    zeroed, 4-byte-row-padded pixel data. Dimensions derive from source
    columns (width = n_chars%31+1, height = doc_id%17+1) so an oracle can
    predict them — while the decode stage downstream parses genuine BMP
    bytes, not a fake."""
    dims = (
        spread(docs)  # single-row-group sources: parallelize the codegen
        .select(
            F.col("doc_id").alias("media_id"),
            (F.col("n_chars") % 31 + 1).cast("long").alias("w"),
            (F.col("doc_id") % 17 + 1).cast("long").alias("h"),
        )
        .withColumn("row_size", F.expr("((w * 3 + 3) div 4) * 4"))
        .withColumn("data_size", F.expr("row_size * h"))
    )
    header_hex = F.concat(
        F.lit("424D"),                        # 'BM'
        _le_hex(F.col("data_size") + 54, 4),  # file size
        F.lit("00000000"),                    # reserved
        F.lit("36000000"),                    # pixel data offset = 54
        F.lit("28000000"),                    # BITMAPINFOHEADER size = 40
        _le_hex(F.col("w"), 4),
        _le_hex(F.col("h"), 4),
        F.lit("0100"),                        # planes = 1
        F.lit("1800"),                        # bpp = 24
        F.lit("00000000"),                    # compression = BI_RGB
        _le_hex(F.col("data_size"), 4),
        F.lit("00" * 16),                     # ppm/palette fields
    )
    return dims.select(
        "media_id",
        F.unhex(
            F.concat(header_hex, F.expr("repeat('00', CAST(data_size AS INT))"))
        ).alias("payload"),
        F.struct(
            F.lit("image/bmp").alias("mime"),
            (F.col("data_size") + 54).alias("declared_bytes"),
        ).alias("meta"),
    )


def decode_images(media: DataFrame, decoder: str = "real") -> DataFrame:
    """Arrow-batched decode: mapInPandas over (media_id, payload)."""
    decode = _resolve_decoder(decoder)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload)
                w, h, c = decode(raw)
                out.append(
                    (
                        int(media_id),
                        len(raw),
                        hashlib.sha1(raw).hexdigest(),
                        w,
                        h,
                        c,
                    )
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in IMAGE_META_SCHEMA.fields]
            )

    return (
        media.select("media_id", "payload")
        # a NULL payload (missing/corrupt blob) has nothing to decode;
        # dropping it JVM-side keeps bytes(None) out of the batch loop
        .where(F.col("payload").isNotNull())
        .mapInPandas(batches, schema=IMAGE_META_SCHEMA)
    )


def payload_stats(media_source_docs: DataFrame, chunk_bytes: int = 256) -> DataFrame:
    """Pure-expression payload metadata (no Python): byte length, content
    hash, chunk count — the part of the multimodal path that stays in
    codegen and is oracle-checkable."""
    nbytes = F.octet_length("text").cast("bigint")
    return media_source_docs.select(
        F.col("doc_id").alias("media_id"),
        nbytes.alias("n_bytes"),
        F.md5("text").alias("content_md5"),
        F.expr(f"(octet_length(text) + {chunk_bytes - 1}) div {chunk_bytes}").alias(
            "n_chunks"
        ),
    )


# -- PNG: the second compressed format decodable with the stdlib alone ------
#
# A PNG is chunks (length, type, data, crc32) around a zlib-compressed
# stream of filtered scanlines; inflating (zlib) and inverting the five
# scanline filters (None/Sub/Up/Average/Paeth, RFC 2083 §6) is pure
# stdlib work — no PIL needed. Supported: 8-bit, color types 0 (gray) and
# 2 (RGB), non-interlaced. Adam7 and exotic depths raise.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunks(raw: bytes):
    if raw[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    while pos + 8 <= len(raw):
        import struct

        (length,) = struct.unpack_from(">I", raw, pos)
        ctype = raw[pos + 4 : pos + 8]
        data = raw[pos + 8 : pos + 8 + length]
        yield ctype, data
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IEND":
            break


def _png_unfilter(ft: int, row: bytearray, prev: bytes, bpp: int) -> None:
    """Invert one scanline filter in place (RFC 2083 §6.2-6.6)."""
    n = len(row)
    if ft == 0:
        return
    if ft == 1:  # Sub
        for i in range(bpp, n):
            row[i] = (row[i] + row[i - bpp]) & 0xFF
    elif ft == 2:  # Up
        for i in range(n):
            row[i] = (row[i] + prev[i]) & 0xFF
    elif ft == 3:  # Average
        for i in range(n):
            a = row[i - bpp] if i >= bpp else 0
            row[i] = (row[i] + ((a + prev[i]) >> 1)) & 0xFF
    elif ft == 4:  # Paeth
        for i in range(n):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            row[i] = (row[i] + pred) & 0xFF
    else:
        raise ValueError(f"bad PNG filter type {ft}")


def decode_png_pixels(raw: bytes) -> tuple[int, int, int, bytes]:
    """Full stdlib PNG decode: IHDR parse, zlib inflate of concatenated
    IDATs, per-scanline unfilter. Returns (width, height, channels,
    packed pixel bytes row-major)."""
    import struct
    import zlib

    width = height = None
    channels = bit_depth = interlace = None
    idat = bytearray()
    for ctype, data in _png_chunks(raw):
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
            if channels is None:
                raise NotImplementedError(f"PNG color type {color_type}")
        elif ctype == b"IDAT":
            idat.extend(data)
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8:
        raise NotImplementedError(f"PNG bit depth {bit_depth} (only 8 supported)")
    if interlace:
        raise NotImplementedError("Adam7-interlaced PNG not supported")
    stream = zlib.decompress(bytes(idat))
    bpp = channels
    stride = width * channels
    if len(stream) != (stride + 1) * height:
        raise ValueError("PNG pixel stream length mismatch")
    out = bytearray()
    prev = bytes(stride)
    for y in range(height):
        off = y * (stride + 1)
        ft = stream[off]
        row = bytearray(stream[off + 1 : off + 1 + stride])
        _png_unfilter(ft, row, prev, bpp)
        out.extend(row)
        prev = bytes(row)
    return width, height, channels, bytes(out)


def decode_png(raw: bytes) -> tuple[int, int, int]:
    """Registered decoder face of ``decode_png_pixels`` (dims/channels).
    Runs the FULL decode (inflate + unfilter), not just the header read,
    so a corrupt stream fails here rather than downstream."""
    w, h, c, _ = decode_png_pixels(raw)
    return w, h, c


_DECODERS["png"] = decode_png


def _sniff_decode_with_png(raw: bytes) -> tuple[int, int, int]:
    if raw[:8] == _PNG_SIG:
        return decode_png(raw)
    return sniff_decode(raw)


_DECODERS["real"] = _sniff_decode_with_png


def _png_filter_row(ft: int, row: bytes, prev: bytes, bpp: int) -> bytes:
    """Apply (forward) one scanline filter — the encoder-side inverse of
    ``_png_unfilter``, used by the synthetic generator so every filter
    type 0-4 appears in test payloads."""
    n = len(row)
    out = bytearray(n)
    for i in range(n):
        a = row[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ft == 0:
            pred = 0
        elif ft == 1:
            pred = a
        elif ft == 2:
            pred = b
        elif ft == 3:
            pred = (a + b) >> 1
        else:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        out[i] = (row[i] - pred) & 0xFF
    return bytes(out)


def encode_png_rgb(media_id: int, width: int, height: int) -> bytes:
    """Deterministic 8-bit RGB PNG: every pixel of row y has value
    (media_id + y) % 256, and the scanline filter type cycles y % 5 so
    all five filters are exercised. Pure stdlib (zlib + struct)."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    stride = width * 3
    stream = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = bytes([(media_id + y) % 256]) * stride
        ft = y % 5
        stream.append(ft)
        stream.extend(_png_filter_row(ft, row, prev, 3))
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(stream)))
        + chunk(b"IEND", b"")
    )


def synthetic_png_table(docs: DataFrame) -> DataFrame:
    """REAL PNG payloads with oracle-predictable content: dimensions and
    pixel values derive from (doc_id, n_chars) — width = n_chars%31+1,
    height = doc_id%17+1, row y constant at (doc_id+y)%256 — so a SQL
    oracle can compute the exact expected pixel sum while the decode
    stage downstream inflates and unfilters genuine PNG bytes. Encoding
    needs zlib, so this generator (unlike the BMP one) is an Arrow-
    batched Python stage, not pure codegen."""
    META = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                (
                    int(doc_id),
                    encode_png_rgb(
                        int(doc_id), int(n_chars) % 31 + 1, int(doc_id) % 17 + 1
                    ),
                )
                for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"])
            ]
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return (
        spread(docs.select("doc_id", "n_chars"))
        # geometry derives from n_chars; a NULL there generates nothing
        .where(F.col("n_chars").isNotNull())
        .mapInPandas(batches, schema=META)
    )


#: Output schema of the PNG pixel-stats stage.
PNG_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("pixel_sum", T.LongType()),
    ]
)


def png_pixel_stats(media: DataFrame) -> DataFrame:
    """Decode PNG payloads end-to-end and emit per-image pixel sums —
    evidence the inflate+unfilter path reconstructed every byte (a wrong
    filter inversion shifts the sum). Arrow-batched mapInPandas, same
    plumbing contract as decode_images."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, c, px = decode_png_pixels(bytes(payload))
                rows.append((int(media_id), w, h, c, sum(px)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in PNG_STATS_SCHEMA.fields]
            )

    return (
        media.select("media_id", "payload")
        # a NULL payload (missing/corrupt blob) has nothing to decode;
        # dropping it JVM-side keeps bytes(None) out of the batch loop
        .where(F.col("payload").isNotNull())
        .mapInPandas(batches, schema=PNG_STATS_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Audio: real RIFF/WAVE PCM-16 codec, pure stdlib (struct only).
# ---------------------------------------------------------------------------


def encode_wav_pcm16(media_id: int, n_samples: int, sample_rate: int) -> bytes:
    """Deterministic mono 16-bit PCM WAV: sample i is
    ((media_id*31 + i*17) % 4001) - 2000 — pure integer arithmetic a SQL
    oracle can replay. Emits a genuine RIFF container (fmt + data
    chunks) that any standards-conforming WAV reader accepts."""
    import struct

    samples = [
        ((media_id * 31 + i * 17) % 4001) - 2000 for i in range(n_samples)
    ]
    data = struct.pack(f"<{n_samples}h", *samples)
    byte_rate = sample_rate * 2
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, byte_rate, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_samples(raw: bytes) -> tuple[int, tuple]:
    """Parse a RIFF/WAVE container; return (sample_rate, samples).
    Walks the chunk list generically (tolerates extra chunks, honors
    word alignment); raises ValueError on a non-RIFF payload and
    NotImplementedError on compressed / non-16-bit / multi-channel
    variants — the same clean-failure contract as the image
    decoders."""
    import struct

    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(raw):
        cid = raw[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", raw, pos + 4)
        body = raw[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if audio_format != 1:
        raise NotImplementedError(f"compressed WAV (format {audio_format})")
    if n_channels != 1 or bits != 16:
        raise NotImplementedError(f"{n_channels}ch/{bits}bit WAV unsupported")
    n = len(data) // 2
    return sample_rate, struct.unpack(f"<{n}h", data[: n * 2])


def decode_wav(raw: bytes) -> tuple[int, int, int, int]:
    """Stats face of ``decode_wav_samples``: (sample_rate, n_samples,
    peak_abs, abs_sum)."""
    sample_rate, samples = decode_wav_samples(raw)
    abs_vals = [abs(s) for s in samples]
    return sample_rate, len(samples), max(abs_vals, default=0), sum(abs_vals)


def synthetic_wav_table(docs: DataFrame) -> DataFrame:
    """REAL WAV payloads with oracle-predictable content: length and
    rate derive from (doc_id, n_chars) — n_samples = n_chars%50+10,
    sample_rate = 8000 + (doc_id%3)*4000 — so a SQL oracle can replay
    the exact sample stream while the decode stage downstream parses
    genuine RIFF bytes. Arrow-batched like the PNG generator."""
    META = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                (
                    int(doc_id),
                    encode_wav_pcm16(
                        int(doc_id),
                        int(n_chars) % 50 + 10,
                        8000 + (int(doc_id) % 3) * 4000,
                    ),
                )
                for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"])
            ]
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return (
        # NO spread() here — measured negative (r15): PCM struct-pack
        # is cheap per row, and the 32-way Python fan-out (worker
        # startup + per-task Arrow setup + the repartition) costs more
        # than it saves on the wav family (audio_frames 0.5 -> 2.4 s
        # min, first runs 12-28 s under concurrent worker imports).
        # The png/bmp/video generators keep spread(): their zlib /
        # hex-codegen per-row work amortizes it (2x measured wins).
        docs.select("doc_id", "n_chars")
        .where(F.col("n_chars").isNotNull())
        .mapInPandas(batches, schema=META)
    )


#: Output schema of the WAV feature-extraction stage.
WAV_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("peak_abs", T.LongType()),
        T.StructField("abs_sum", T.LongType()),
    ]
)


def wav_stats(media: DataFrame) -> DataFrame:
    """Decode WAV payloads end-to-end and emit integer amplitude
    features (peak, L1 energy, duration) — the audio analogue of
    ``png_pixel_stats``; same Arrow-batched plumbing contract."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                rate, n, peak, s = decode_wav(bytes(payload))
                rows.append(
                    (int(media_id), rate, n, n * 1000 // rate, peak, s)
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in WAV_STATS_SCHEMA.fields]
            )

    return (
        media.select("media_id", "payload")
        # a NULL payload (missing/corrupt blob) has nothing to decode;
        # dropping it JVM-side keeps bytes(None) out of the batch loop
        .where(F.col("payload").isNotNull())
        .mapInPandas(batches, schema=WAV_STATS_SCHEMA)
    )


def synthetic_video_table(docs: DataFrame) -> DataFrame:
    """Raw-video container payloads built ENTIRELY JVM-side (pure
    codegen, like the BMP path): a 12-byte header — magic 'SVID',
    u32-LE n_frames, u16-LE width, u16-LE height — followed by
    n_frames contiguous 8-bit grayscale frames. Geometry and pixels
    derive from source columns (n_frames = doc_id%5+2,
    w = n_chars%16+2, h = doc_id%8+2, pixel(f,y,x) =
    (doc_id + 3f + 5y + 7x) % 256), so a SQL oracle can compute exact
    per-frame statistics while the decode stage downstream parses
    genuine container bytes. The pixel stream is assembled as one
    transform over a pixel-index sequence emitting 2-char hex per
    byte — whole-stage-codegen, no Python in the generator."""
    dims = spread(docs).select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 5 + 2).cast("long").alias("n_frames"),
        (F.col("n_chars") % 16 + 2).cast("long").alias("w"),
        (F.col("doc_id") % 8 + 2).cast("long").alias("h"),
    )
    header_hex = F.concat(
        F.lit("53564944"),  # 'SVID'
        _le_hex(F.col("n_frames"), 4),
        _le_hex(F.col("w"), 2),
        _le_hex(F.col("h"), 2),
    )
    pix_hex = F.expr(
        "array_join(transform(sequence(0, CAST(n_frames * h * w - 1 AS INT)), "
        "i -> lpad(hex((media_id + 3 * (i div (h * w)) "
        "+ 5 * ((i % (h * w)) div w) + 7 * (i % w)) % 256), 2, '0')), '')"
    )
    return dims.select(
        "media_id",
        F.unhex(F.concat(header_hex, pix_hex)).alias("payload"),
        F.struct(
            F.lit("video/x-svid").alias("mime"),
            (F.col("n_frames") * F.col("h") * F.col("w") + 12).alias(
                "declared_bytes"
            ),
        ).alias("meta"),
    )


#: Output schema of the frame-sampling stage.
VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("pixel_sum", T.LongType()),
    ]
)


def sample_video_frames(media: DataFrame, stride: int = 2) -> DataFrame:
    """FRAME SAMPLING over opaque video payloads — the training-data
    shape for video corpora: parse the container header, seek straight
    to every ``stride``-th frame (0, stride, 2*stride, ...) WITHOUT
    touching the bytes of skipped frames, and emit per-sampled-frame
    integer stats. Arrow-batched ``mapInPandas``; per-row state is one
    frame's bytes.

    The byte parsing (struct.unpack of the SVID header, offset
    arithmetic into the frame array) is real; a non-SVID payload
    raises ValueError rather than guessing. Real-codec formats (H.264
    etc.) would slot in behind the same schema/partitioning with a
    lazy-imported decoder — the plumbing, not the codec, is what this
    engine owns."""
    import struct

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k.name: [] for k in VIDEO_FRAME_SCHEMA.fields}
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                buf = bytes(payload)
                if buf[:4] != b"SVID":
                    raise ValueError(
                        f"media_id={media_id}: not an SVID payload"
                    )
                n_frames, w, h = struct.unpack_from("<IHH", buf, 4)
                fsz = w * h
                for f in range(0, n_frames, stride):
                    frame = buf[12 + f * fsz : 12 + (f + 1) * fsz]
                    out["media_id"].append(int(media_id))
                    out["frame_idx"].append(f)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["pixel_sum"].append(sum(frame))
            yield pd.DataFrame(out)

    return (
        media.select("media_id", "payload")
        # a NULL payload (missing/corrupt blob) has nothing to decode;
        # dropping it JVM-side keeps bytes(None) out of the batch loop
        .where(F.col("payload").isNotNull())
        .mapInPandas(batches, schema=VIDEO_FRAME_SCHEMA)
    )


#: Output schema of the image feature-extraction stage.
IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("mean_e2", T.LongType()),
        T.StructField("hist_q1", T.LongType()),
        T.StructField("hist_q2", T.LongType()),
        T.StructField("hist_q3", T.LongType()),
        T.StructField("hist_q4", T.LongType()),
    ]
)


def image_features(media: DataFrame) -> DataFrame:
    """FEATURE EXTRACTION over decoded images — the fourth multimodal
    verb alongside decode / resize / frame-sample: per-image integer
    brightness mean (e2, floor) and a 4-bin intensity histogram
    (64-wide bins), computed from the REAL PNG decode (inflate + five
    unfilters) with numpy inside one Arrow batch. Every output is an
    integer derived from exact pixel bytes, so the oracle replays the
    generator formula closed-form — a wrong unfilter or a biased bin
    boundary shifts the counts."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in IMAGE_FEATURE_SCHEMA.fields}
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, c, pix = decode_png_pixels(bytes(payload))
                arr = np.frombuffer(pix, dtype=np.uint8)
                out["media_id"].append(int(media_id))
                out["width"].append(w)
                out["height"].append(h)
                out["mean_e2"].append(int(100 * int(arr.sum()) // arr.size))
                hist = np.bincount(arr >> 6, minlength=4)
                for q in range(4):
                    out[f"hist_q{q + 1}"].append(int(hist[q]))
            yield pd.DataFrame(out)

    return (
        media.select("media_id", "payload")
        # a NULL payload (missing/corrupt blob) has nothing to decode;
        # dropping it JVM-side keeps bytes(None) out of the batch loop
        .where(F.col("payload").isNotNull())
        .mapInPandas(batches, schema=IMAGE_FEATURE_SCHEMA)
    )


#: Output schema of the audio frame-feature stage.
AUDIO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("mean_abs", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def audio_frame_features(media: DataFrame, frame_size: int = 16) -> DataFrame:
    """FRAME-LEVEL audio feature extraction over decoded PCM — the
    audio analogue of image_features / sample_video_frames: split each
    clip into fixed-size frames and emit per-frame integer mean
    absolute amplitude (floor) and the zero-crossing count (sign flips
    between consecutive samples WITHIN the frame, sign(s) := s >= 0) —
    the two classic cheap features voice-activity detectors run on.
    Arrow-batched; integer-exact, so the oracle replays the generator's
    sample formula per frame."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in AUDIO_FRAME_SCHEMA.fields}
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                _, samples = decode_wav_samples(bytes(payload))
                for f0 in range(0, len(samples), frame_size):
                    fr = samples[f0 : f0 + frame_size]
                    zc = sum(
                        1
                        for a, b in zip(fr, fr[1:])
                        if (a >= 0) != (b >= 0)
                    )
                    out["media_id"].append(int(media_id))
                    out["frame_idx"].append(f0 // frame_size)
                    out["n_samples"].append(len(fr))
                    out["mean_abs"].append(
                        sum(abs(s) for s in fr) // len(fr)
                    )
                    out["zero_crossings"].append(zc)
            yield pd.DataFrame(out)

    return (
        media.select("media_id", "payload")
        # a NULL payload (missing/corrupt blob) has nothing to decode;
        # dropping it JVM-side keeps bytes(None) out of the batch loop
        .where(F.col("payload").isNotNull())
        .mapInPandas(batches, schema=AUDIO_FRAME_SCHEMA)
    )


#: Output schema of the image downsample stage.
IMAGE_DOWNSAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("out_width", T.LongType()),
        T.StructField("out_height", T.LongType()),
        T.StructField("down_pixel_sum", T.LongType()),
        T.StructField("down_mean_e2", T.LongType()),
    ]
)


def image_downsample(media: DataFrame, stride: int = 2) -> DataFrame:
    """RESIZE over decoded images: nearest-neighbor ``stride``x
    downsample (keep pixel (stride*i, stride*j)) — the thumbnail /
    vision-model-input preprocessing verb, run on the REAL PNG decode
    (inflate + unfilters) with a numpy strided view inside one Arrow
    batch — no per-pixel Python, no copy until the sum.

    Integer contract: emits the downsampled dimensions, exact pixel sum
    and floor mean (e2). The synthetic generator makes rows constant at
    (doc_id + y) % 256, so the oracle replays which rows survive the
    stride closed-form — an off-by-one in the stride arithmetic shifts
    every surviving row and goes red.
    """
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in IMAGE_DOWNSAMPLE_SCHEMA.fields}
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, c, pix = decode_png_pixels(bytes(payload))
                arr = np.frombuffer(pix, dtype=np.uint8).reshape(h, w, c)
                small = arr[::stride, ::stride, :]
                s = int(small.astype(np.int64).sum())
                out["media_id"].append(int(media_id))
                out["out_width"].append(small.shape[1])
                out["out_height"].append(small.shape[0])
                out["down_pixel_sum"].append(s)
                out["down_mean_e2"].append(100 * s // small.size)
            yield pd.DataFrame(out)

    return (
        media.select("media_id", "payload")
        # a NULL payload (missing/corrupt blob) has nothing to decode;
        # dropping it JVM-side keeps bytes(None) out of the batch loop
        .where(F.col("payload").isNotNull())
        .mapInPandas(batches, schema=IMAGE_DOWNSAMPLE_SCHEMA)
    )
