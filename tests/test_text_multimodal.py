"""Text-analysis and multimodal plumbing tests."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from data_lake_for_citi_bike_trip_spark.operators import multimodal
from data_lake_for_citi_bike_trip_spark.operators import text as text_ops
from data_lake_for_citi_bike_trip_spark.sources.registry import load_table


def test_language_id_schema_and_scores(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = text_ops.language_id(docs)
    row = out.first()
    assert row.pred_lang in {"en", "de", "fr", "es", "und"}
    assert 0.0 <= row.score_en <= 1.0


def test_quality_score_bounded(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = text_ops.quality_score(docs)
    assert out.where((F.col("quality") < 0) | (F.col("quality") > 1)).count() == 0
    # n_tokens should roughly track the generator's n_chars metadata
    joined = out.join(docs, "doc_id")
    assert joined.where(F.col("n_chars_measured") != F.col("n_chars")).count() == 0


def test_fingerprint_stable_under_token_shuffle(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en", "s", 22),
         (2, "delta gamma beta alpha", "en", "s", 22)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.doc_id: r for r in text_ops.fingerprint(docs).collect()}
    # bag fingerprint ignores order; shingle fingerprint does not
    assert out[1].bag_fp == out[2].bag_fp
    assert out[1].min_shingle_fp != out[2].min_shingle_fp


def test_decode_images_with_fake_codec(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = multimodal.media_table(docs)

    def fake_decode(payload: bytes):
        return (len(payload) % 640, len(payload) % 480, 3)

    multimodal.register_decoder("fake", fake_decode)
    out = multimodal.decode_images(media, decoder="fake").collect()
    assert len(out) == 20
    src = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    for r in out:
        raw = src[r.media_id].encode()
        assert r.n_bytes == len(raw)
        assert r.sha1 == hashlib.sha1(raw).hexdigest()
        assert (r.width, r.height, r.n_channels) == (len(raw) % 640, len(raw) % 480, 3)


def test_decode_images_unregistered_raises(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(1)
    media = multimodal.media_table(docs)
    with pytest.raises(Exception, match="not registered"):
        multimodal.decode_images(media, decoder="nope").collect()
    # 'real' IS registered, but text payloads are not a decodable format
    with pytest.raises(Exception, match="BMP/PPM"):
        multimodal.decode_images(media, decoder="real").collect()


def test_real_bmp_decode_end_to_end(spark, sf_dir):
    """No fakes: Spark assembles genuine BMP bytes, the default decoder
    parses them in the Arrow path, dims match the construction formulas."""
    docs = load_table(spark, sf_dir, "documents").limit(25)
    media = multimodal.synthetic_bmp_table(docs)
    # payloads are real BMPs: magic bytes + python-side header parse agree
    sample = media.limit(3).collect()
    for r in sample:
        raw = bytes(r.payload)
        assert raw[:2] == b"BM"
        w, h, c = multimodal.decode_bmp(raw)
        assert len(raw) == 54 + ((w * 3 + 3) // 4) * 4 * h and c == 3
    out = {r.media_id: r for r in multimodal.decode_images(media).collect()}
    src = {r.doc_id: r.n_chars for r in docs.select("doc_id", "n_chars").collect()}
    assert len(out) == 25
    for media_id, r in out.items():
        assert r.width == src[media_id] % 31 + 1
        assert r.height == media_id % 17 + 1
        assert r.n_channels == 3


def test_decode_ppm_header():
    assert multimodal.decode_ppm(b"P6\n12 7\n255\n" + b"\x00" * (12 * 7 * 3)) == (12, 7, 3)
    assert multimodal.decode_ppm(b"P5\n4 2\n255\n" + b"\x00" * 8) == (4, 2, 1)
    with pytest.raises(ValueError):
        multimodal.decode_ppm(b"P3\n1 1\n255\n0 0 0")


def test_chunk_documents_overlap_and_coverage(spark):
    from data_lake_for_citi_bike_trip_spark.operators import corpus

    text = " ".join(f"w{i}" for i in range(150))  # 150 tokens
    docs = spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    chunks = corpus.chunk_documents(docs, chunk_tokens=64, stride=48).collect()
    starts = sorted(r.chunk_start for r in chunks)
    assert starts == [0, 48, 96]  # ceil((150-64)/48)+1 = 3 windows
    by_start = {r.chunk_start: r for r in chunks}
    assert by_start[0].chunk_tokens == 64
    assert by_start[96].chunk_tokens == 54  # tail clamps to doc end
    # overlap: last 16 tokens of window 0 == first 16 of window 48
    w0 = by_start[0].chunk_text.split()
    w48 = by_start[48].chunk_text.split()
    assert w0[48:] == w48[:16]
    # short doc -> exactly one chunk
    tiny = spark.createDataFrame(
        [(2, "a b c", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = corpus.chunk_documents(tiny).collect()
    assert len(out) == 1 and out[0].chunk_tokens == 3


def test_png_codec_roundtrip_and_failure_modes():
    from data_lake_for_citi_bike_trip_spark.operators import multimodal as M
    import pytest as _pytest
    import struct, zlib

    raw = M.encode_png_rgb(42, 13, 11)
    w, h, c, px = M.decode_png_pixels(raw)
    assert (w, h, c) == (13, 11, 3)
    assert sum(px) == sum(((42 + y) % 256) * 13 * 3 for y in range(11))
    # rows 0..10 cycle filters 0-4 twice; each reconstructed row is constant
    for y in range(h):
        rowvals = set(px[y * 39 : (y + 1) * 39])
        assert rowvals == {(42 + y) % 256}, (y, rowvals)

    # sniff dispatch: PNG signature routes to the PNG decoder
    assert M._sniff_decode_with_png(raw) == (13, 11, 3)

    # truncated zlib stream must fail loudly, not return header dims
    broken = raw[: raw.index(b"IDAT") + 8] + b"\x00" * 4
    with _pytest.raises(Exception):
        M.decode_png_pixels(broken)

    # interlaced PNGs are explicitly unsupported
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 1)
    chunk = struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + struct.pack(
        ">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
    )
    with _pytest.raises(NotImplementedError, match="interlaced"):
        M.decode_png_pixels(M._PNG_SIG + chunk)

    with _pytest.raises(ValueError, match="not a PNG"):
        M.decode_png_pixels(b"BMnotapng")


def test_bpe_pair_stats_counts_word_weighted_pairs(spark):
    from data_lake_for_citi_bike_trip_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "aba aba ab"), (2, "ba!aba")],
        "doc_id bigint, text string",
    )
    got = {
        r.pair: r.pair_count
        for r in text_ops.bpe_pair_stats(docs, k=10).collect()
    }
    # words: aba x3, ab x1, ba x1 -> pairs: ab: 3(aba)+1(ab)=4, ba: 3(aba)+1(ba)=4
    assert got == {"ab": 4, "ba": 4}


def test_wav_codec_roundtrip_and_failure_modes():
    import struct

    import pytest as _pytest

    from data_lake_for_citi_bike_trip_spark.operators import multimodal as M

    raw = M.encode_wav_pcm16(7, 25, 8000)
    rate, n, peak, s = M.decode_wav(raw)
    samples = [((7 * 31 + i * 17) % 4001) - 2000 for i in range(25)]
    assert (rate, n) == (8000, 25)
    assert peak == max(abs(v) for v in samples)
    assert s == sum(abs(v) for v in samples)

    # extra chunk before data (odd length -> word alignment) is tolerated
    chunks = raw[12:]
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    padded = (
        b"RIFF"
        + struct.pack("<I", 4 + len(extra) + len(chunks))
        + b"WAVE"
        + extra
        + chunks
    )
    assert M.decode_wav(padded) == (rate, n, peak, s)

    with _pytest.raises(ValueError, match="not a RIFF"):
        M.decode_wav(b"OggS12345678")
    # non-PCM format code -> clean NotImplementedError
    mutated = bytearray(raw)
    mutated[20] = 3  # audio_format field
    with _pytest.raises(NotImplementedError, match="compressed"):
        M.decode_wav(bytes(mutated))
    # stereo -> unsupported
    mutated = bytearray(raw)
    mutated[22] = 2  # n_channels field
    with _pytest.raises(NotImplementedError, match="2ch"):
        M.decode_wav(bytes(mutated))


def test_video_frame_sampling_stride_and_bytes(spark, sf_dir):
    """The sampler must emit exactly the strided frame indices with
    sums matching a pure-Python replay of the generator formula, and
    reject non-SVID payloads."""
    import pytest as _pytest

    from data_lake_for_citi_bike_trip_spark.operators import multimodal
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = multimodal.synthetic_video_table(docs)
    got = {
        (r.media_id, r.frame_idx): (r.width, r.height, r.pixel_sum)
        for r in multimodal.sample_video_frames(media, stride=2).collect()
    }
    for d in docs.select("doc_id", "n_chars").collect():
        nf, w, h = d.doc_id % 5 + 2, d.n_chars % 16 + 2, d.doc_id % 8 + 2
        for f in range(0, nf, 2):
            s = sum(
                (d.doc_id + 3 * f + 5 * y + 7 * x) % 256
                for y in range(h)
                for x in range(w)
            )
            assert got.pop((d.doc_id, f)) == (w, h, s), (d.doc_id, f)
    assert not got, f"unexpected frames: {sorted(got)[:5]}"

    bad = spark.createDataFrame(
        [(1, bytearray(b"NOPE" + b"\x00" * 20))], "media_id bigint, payload binary"
    )
    with _pytest.raises(Exception, match="SVID"):
        multimodal.sample_video_frames(bad).collect()


def test_image_downsample_strides_and_sums(spark):
    """A 3x5 image (odd dims) keeps rows {0,2} and cols {0,2,4}: out
    2x3. Encode a real PNG via the generator's encoder and check the
    decode->stride->sum path against a direct per-pixel computation."""
    import numpy as np

    from data_lake_for_citi_bike_trip_spark.operators import multimodal as mm

    doc_id, w, h = 7, 5, 3
    payload = mm.encode_png_rgb(doc_id, w, h)
    df = spark.createDataFrame(
        [(doc_id, bytearray(payload))], "media_id bigint, payload binary"
    )
    r = mm.image_downsample(df).first()
    rows = [(doc_id + y) % 256 for y in (0, 2)]  # surviving rows
    expect = sum(v * 3 * 3 for v in rows)  # 3 surviving cols x 3 channels
    assert (r.out_width, r.out_height) == (3, 2)
    assert r.down_pixel_sum == expect
    assert r.down_mean_e2 == 100 * expect // (3 * 2 * 3)


def test_readability_lix_hand_computed(spark):
    """'The cat sat. It ran.' -> 5 words, 2 sentences, 0 long words:
    lix_e2 = 500//2 = 250; long words push the second term."""
    from data_lake_for_citi_bike_trip_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "The cat sat. It ran.", "a"),
         (2, "Extraordinary considerations dominate. Yes.", "b")],
        "doc_id long, text string, source string",
    )
    got = {r.source: (r.n_docs, r.mean_lix_e2)
           for r in text_ops.readability_lix(docs).collect()}
    assert got["a"] == (1, 250)
    # doc 2: words [extraordinary, considerations, dominate, yes] = 4,
    # long (>6) = 3, sentences 2 -> 400//2 + 30000//4 = 200 + 7500
    assert got["b"] == (1, 7700)


def test_zipf_slope_exact_power_law(spark):
    """Counts 8,4,2,1 at ranks 1..4: log2 points are exactly
    (0,3),(1,2),(1.584,1),(2,0) in millibits -> slope ~ -1.5 e3."""
    from data_lake_for_citi_bike_trip_spark.operators import text as text_ops

    words = (["aa"] * 8) + (["bb"] * 4) + (["cc"] * 2) + ["dd"]
    docs = spark.createDataFrame(
        [(1, " ".join(words), "s")], "doc_id long, text string, source string"
    )
    r = text_ops.zipf_slope(docs).collect()[0]
    assert r.n_terms == 4
    # perfect halving is slope -3/2 on the log-log grid of ranks 1,2,4
    # with rank 3 off-line; regression lands near -1500
    assert -1600 <= r.slope_e3 <= -1400


def test_langid_confusion_margins_and_f1(spark):
    """Hand-built predictions: labeled en,en,de with preds en,de,de ->
    en: tp=1 fp=0 fn=1; de: tp=1 fp=1 fn=0; F1 from bp integers."""
    from data_lake_for_citi_bike_trip_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "the cat and the dog of a house", "en"),
         (2, "der hund und die katze ist ein tier nicht mit", "en"),
         (3, "der die das und ist ein nicht mit", "de")],
        "doc_id long, text string, lang string",
    )
    got = {r.cls: r for r in text_ops.langid_confusion(docs).collect()}
    en, de = got["en"], got["de"]
    assert (en.tp, en.fp, en.fn) == (1, 0, 1)
    assert (de.tp, de.fp, de.fn) == (1, 1, 0)
    assert en.prec_bp == 10000 and en.rec_bp == 5000 and en.f1_bp == 6666
    assert de.prec_bp == 5000 and de.rec_bp == 10000


def test_langid_kappa_perfect_agreement(spark):
    """All predictions correct across two classes -> kappa_e6 exactly
    1e6 (n*sum_tp - S == n^2 - S)."""
    from data_lake_for_citi_bike_trip_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "the cat and the dog of a house is that", "en"),
         (2, "der die das und ist ein nicht mit", "de")],
        "doc_id long, text string, lang string",
    )
    r = text_ops.langid_kappa(docs).collect()[0]
    assert r.n_docs == 2 and r.n_agree == 2
    assert r.kappa_e6 == 1_000_000


def test_doc_keywords_tfidf_ranking(spark):
    """A term unique to half the docs outranks a corpus-wide term;
    df=1 terms are excluded by min_df."""
    from data_lake_for_citi_bike_trip_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "zebra zebra common common common rare", "s"),
         (2, "zebra common", "s"),
         (3, "common common", "s"),
         (4, "common", "s")],
        "doc_id long, text string, source string",
    )
    rows = text_ops.doc_keywords(docs).collect()
    got = {(r.doc_id, r.rk): r.term for r in rows}
    # 'rare' has df=1 -> excluded; 'common' df=4 -> idf 0 -> excluded
    # (score_mb > 0 filter); zebra df=2 of 4 docs -> idf 1000 mb
    assert got[(1, 1)] == "zebra"
    assert got[(2, 1)] == "zebra"
    assert (3, 1) not in got  # doc 3 has only zero-idf terms
