"""Pins for the text-analysis additions: winnowing fingerprints vs a
pure-Python reference, the shared-substring guarantee, BPE-ish token
estimates, and the multimodal resize/frame stubs."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_app_spark.functions import text as T
from kafka_streams_app_spark.operators import multimodal

P = (1 << 31) - 1


def winnow_reference(tok_hashes: list[int], k: int = 5, window: int = 4) -> set[int]:
    """Straight-from-the-paper Python implementation (Schleimer et al.):
    rolling base-31 gram hashes, per-window minimum, distinct."""
    n_grams = len(tok_hashes) - (k - 1)
    if n_grams < window:
        return set()
    grams = []
    for i in range(n_grams):
        acc = 0
        for h in tok_hashes[i:i + k]:
            acc = (acc * 31 + h) % P
        grams.append(acc)
    return {min(grams[i:i + window]) for i in range(n_grams - (window - 1))}


def test_winnowing_matches_python_reference(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again today"),
         (2, "short text only"),
         (3, "a b c d e f g h")],
        "doc_id long, text string",
    )
    hashed = docs.select(
        "doc_id", T.token_hashes(T.tokens("text")).alias("_h")
    )
    out = hashed.select(
        "doc_id", "_h", T.winnowing_of_hashes(F.col("_h")).alias("fp")
    ).collect()
    for r in out:
        assert set(r["fp"]) == winnow_reference(list(r["_h"])), r["doc_id"]


def test_winnowing_shared_run_guarantee(spark):
    """Two docs sharing a run of >= k + window - 1 = 8 tokens must share
    at least one fingerprint; fully-disjoint docs share none."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [(1, "intro words here " + shared + " trailing piece"),
         (2, shared + " completely different ending material now"),
         (3, "nothing in common with either document at all whatsoever")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: set(r["fp"])
        for r in docs.select(
            "doc_id",
            T.winnowing_of_hashes(T.token_hashes(T.tokens("text"))).alias("fp"),
        ).collect()
    }
    assert rows[1] & rows[2]
    assert not (rows[1] & rows[3])


def test_bpe_token_estimate(spark):
    df = spark.createDataFrame(
        [("Hello world, it's 2024!",)], "text string"
    )
    n = df.select(T.bpe_token_estimate("text").alias("n")).collect()[0]["n"]
    # pieces: [Hello][ world][,][ it]['s][ 2024][!]
    assert n == 7


def test_resize_stub_shapes(spark):
    docs = spark.createDataFrame([(1, "x" * 100)], "doc_id long, text string")
    media = multimodal.text_as_media(docs, "doc_id", "text")
    small = multimodal.resize_stub(media, 8, 8).collect()[0]
    assert len(small["payload"]) == 64 and small["meta_json"] == '{"resized": [8, 8]}'
    big = multimodal.resize_stub(media, 16, 16).collect()[0]
    assert len(big["payload"]) == 256  # padded up
    assert big["payload"][:100] == b"x" * 100


def test_sample_frames_stub_fanout(spark):
    docs = spark.createDataFrame([(1, "a" * 2600)], "doc_id long, text string")
    media = multimodal.text_as_media(docs, "doc_id", "text")
    frames = multimodal.sample_frames_stub(media, frame_bytes=256, every_n=2).collect()
    # 10 chunks of 256 bytes, sampled every 2nd -> indices 0,2,4,6,8
    assert [f["frame_idx"] for f in sorted(frames, key=lambda r: r["frame_idx"])] == [
        0, 2, 4, 6, 8,
    ]
    assert all(len(f["frame"]) == 256 for f in frames)


def test_resize_stub_pads_short_payloads(spark):
    """Payloads shorter than the target are zero-padded to exactly
    width*height bytes (the branch the contract entry's truncate-only
    configuration never hits)."""
    from kafka_streams_app_spark.operators.multimodal import resize_stub, text_as_media

    docs = spark.createDataFrame([(1, "ab"), (2, "x" * 100)], "doc_id long, text string")
    out = {
        r["media_id"]: r["payload"]
        for r in resize_stub(text_as_media(docs, "doc_id", "text"), 4, 4).collect()
    }
    assert out[1] == b"ab" + b"\x00" * 14
    assert out[2] == b"x" * 16


# --- real BMP codec ---------------------------------------------------------


def test_bmp_roundtrip_identity():
    """encode -> decode recovers exact pixels for every synthetic
    (width, height) shape, including odd widths whose rows need 4-byte
    stride padding (w=5 -> 15-byte rows padded to 16)."""
    for mid in range(0, 40):  # covers all 20 (w, h) combinations twice
        w, h, rows = multimodal.synth_bmp_pixels(mid)
        payload = multimodal.bmp_encode(w, h, rows)
        assert payload[:2] == b"BM"
        dw, dh, drows = multimodal.bmp_decode(payload)
        assert (dw, dh) == (w, h)
        assert drows == rows


def test_bmp_decode_top_down_variant():
    """Negative biHeight (top-down storage) is part of the BMP spec;
    the decoder must yield the same visual rows for both storages."""
    import struct

    w, h, rows = multimodal.synth_bmp_pixels(7)
    bottom_up = multimodal.bmp_encode(w, h, rows)
    # rewrite as top-down: negate height, reverse stored row order
    row_size = (3 * w + 3) & ~3
    off = 54
    stored = [bottom_up[off + i * row_size:off + (i + 1) * row_size] for i in range(h)]
    top_down = bytearray(bottom_up[:off]) + b"".join(reversed(stored))
    struct.pack_into("<i", top_down, 22, -h)
    dw, dh, drows = multimodal.bmp_decode(bytes(top_down))
    assert (dw, dh) == (w, h)
    assert drows == rows


def test_bmp_decode_rejects_non_bmp():
    import pytest

    with pytest.raises(ValueError):
        multimodal.bmp_decode(b"not a bitmap at all, just bytes" + b"\x00" * 40)
    with pytest.raises(ValueError):  # truncated pixel array
        w, h, rows = multimodal.synth_bmp_pixels(3)
        multimodal.bmp_decode(multimodal.bmp_encode(w, h, rows)[:-4])


def test_bmp_features_spark(spark):
    """End-to-end through the Arrow mapInPandas pipeline: means and the
    orientation-sensitive r00 match a direct Python computation."""
    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    media = multimodal.synth_bmp_media(docs, "doc_id")
    got = {r["media_id"]: r for r in multimodal.bmp_features(media).collect()}
    import math

    for mid in range(12):
        w, h, rows = multimodal.synth_bmp_pixels(mid)
        r = got[mid]
        assert (r["width"], r["height"]) == (w, h)
        assert r["r00"] == rows[0][0][0] == mid % 256
        mean_r = math.floor(
            sum(px[0] for row in rows for px in row) / (w * h) * 1e6 + 0.5
        ) / 1e6
        assert r["mean_r"] == mean_r


def test_winnowing_count_udf_equals_column_form(spark, sf_dir):
    """The size of the Arrow-batched fingerprint set must equal
    size(winnowing_of_hashes(token_hashes(tokens, md5))) row-for-row."""
    from kafka_streams_app_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    col_form = (
        docs.select("doc_id", T.tokens("text").alias("_t"))
        .select("doc_id", T.token_hashes(F.col("_t"), hash_fn="md5").alias("_h"))
        .select(
            "doc_id",
            F.size(T.winnowing_of_hashes(F.col("_h"))).alias("n"),
        )
    )
    udf_form = docs.select(
        "doc_id", F.size(T.winnowing_fps_udf()(F.col("text"))).alias("n")
    )
    a = {r["doc_id"]: r["n"] for r in col_form.collect()}
    b = {r["doc_id"]: r["n"] for r in udf_form.collect()}
    assert a == b


def test_null_text_is_skipped_not_crashed():
    """A null text cell must behave like the pure-Column forms (null
    propagates, row filtered), not raise inside the Arrow batch: a
    single null doc previously failed whole queries (ADVICE r5)."""
    from kafka_streams_app_spark.functions.text import (
        shingle_list,
        winnowing_fps_md5,
    )

    assert shingle_list(None, 3) == []
    assert shingle_list(float("nan"), 3) == []  # pandas null form
    assert winnowing_fps_md5(None) == []


def test_null_text_through_shingles_udf(spark):
    from kafka_streams_app_spark.functions.text import shingles_udf

    df = spark.createDataFrame(
        [("a", "one two three four"), ("b", None)], "doc_id string, text string"
    )
    rows = {r["doc_id"]: r["sh"] for r in
            df.select("doc_id", shingles_udf(3)(F.col("text")).alias("sh"))
            .collect()}
    assert rows["b"] == [] and len(rows["a"]) == 2


# --- real PNG codec ---------------------------------------------------------


def test_png_roundtrip_identity_all_filters():
    """encode -> decode recovers exact pixels for every synthetic
    shape; the encoder cycles filter types y % 5, so heights >= 5
    exercise Paeth/Average/Up/Sub/None reconstruction in one image."""
    for mid in range(0, 40):
        w, h, rows = multimodal.synth_bmp_pixels(mid)
        payload = multimodal.png_encode(w, h, rows)
        assert payload[:8] == b"\x89PNG\r\n\x1a\n"
        dw, dh, drows = multimodal.png_decode(payload)
        assert (dw, dh) == (w, h)
        assert drows == rows


def test_png_decode_multi_idat_and_forced_filters():
    """IDAT may be split arbitrarily (spec: concatenation is the zlib
    stream); also force each single filter type over a tall image so
    every reconstruction path is pinned in isolation."""
    import struct
    import zlib

    w, h, rows = multimodal.synth_bmp_pixels(21)
    payload = multimodal.png_encode(w, h, rows)
    # split the IDAT chunk into two
    pos = 8
    parts = {}
    order = []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4:pos + 8]
        parts[tag] = payload[pos + 8:pos + 8 + length]
        order.append(tag)
        pos += 12 + length
        if tag == b"IEND":
            break
    idat = parts[b"IDAT"]
    half = len(idat) // 2

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    split = (payload[:8] + chunk(b"IHDR", parts[b"IHDR"])
             + chunk(b"IDAT", idat[:half]) + chunk(b"IDAT", idat[half:])
             + chunk(b"IEND", b""))
    assert multimodal.png_decode(split) == (w, h, rows)

    # forced single-filter streams
    for ft in range(5):
        raw = bytearray()
        prev = bytes(3 * w)
        for rowpix in rows:
            cur = bytes(c for px in rowpix for c in px)
            raw.append(ft)
            raw += multimodal._png_filter(ft, cur, prev, 3)
            prev = cur
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        forced = (payload[:8] + chunk(b"IHDR", ihdr)
                  + chunk(b"IDAT", zlib.compress(bytes(raw)))
                  + chunk(b"IEND", b""))
        assert multimodal.png_decode(forced) == (w, h, rows)


def test_png_decode_rejects_corruption():
    import pytest

    w, h, rows = multimodal.synth_bmp_pixels(5)
    payload = bytearray(multimodal.png_encode(w, h, rows))
    with pytest.raises(ValueError, match="signature"):
        multimodal.png_decode(b"GIF89a" + bytes(payload))
    # flip one pixel byte inside IDAT -> CRC must catch it
    corrupted = bytearray(payload)
    corrupted[45] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        multimodal.png_decode(bytes(corrupted))
    with pytest.raises(ValueError, match="truncated|IHDR"):
        multimodal.png_decode(bytes(payload[:20]))


def test_png_features_spark_matches_bmp_features(spark):
    """Same closed-form pixels behind both real codecs: the PNG
    pipeline's features must equal the BMP pipeline's row for row."""
    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    png = sorted(
        tuple(r)
        for r in multimodal.png_features(
            multimodal.synth_png_media(docs, "doc_id")
        ).collect()
    )
    bmp = sorted(
        tuple(r)
        for r in multimodal.bmp_features(
            multimodal.synth_bmp_media(docs, "doc_id")
        ).collect()
    )
    assert png == bmp and len(png) == 12


# --- real WAV codec ---------------------------------------------------------


def test_wav_roundtrip_identity():
    """encode -> decode recovers exact samples/rate/channels for every
    synthetic shape (mono and stereo; int16 data is always word-sized,
    so the odd-chunk pad path is pinned by the splice test below)."""
    for mid in range(0, 40):
        rate, ch, samples = multimodal.synth_wav_samples(mid)
        payload = multimodal.wav_encode(rate, ch, samples)
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        assert multimodal.wav_decode(payload) == (rate, ch, samples)


def test_wav_decode_skips_unknown_chunks():
    """A spec-correct reader skips chunks it does not know (LIST/INFO
    etc.) with word-aligned advancement — including an ODD-length one
    whose pad byte must not desync the walk."""
    import struct

    rate, ch, samples = multimodal.synth_wav_samples(3)
    payload = multimodal.wav_encode(rate, ch, samples)
    # splice an odd-length junk chunk between WAVE and fmt
    junk = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad
    spliced = payload[:12] + junk + payload[12:]
    spliced = spliced[:4] + struct.pack(
        "<I", len(spliced) - 8) + spliced[8:]
    assert multimodal.wav_decode(spliced) == (rate, ch, samples)


def test_wav_decode_rejects_corruption():
    import pytest

    rate, ch, samples = multimodal.synth_wav_samples(5)
    payload = multimodal.wav_encode(rate, ch, samples)
    with pytest.raises(ValueError, match="RIFF"):
        multimodal.wav_decode(b"OggS" + payload[4:])
    with pytest.raises(ValueError, match="truncated"):
        multimodal.wav_decode(payload[:-3])
    # compressed fmt tag rejected
    import struct as _s
    mangled = bytearray(payload)
    _s.pack_into("<H", mangled, 20, 85)  # fmt tag -> MP3
    with pytest.raises(ValueError, match="PCM"):
        multimodal.wav_decode(bytes(mangled))


def test_wav_features_spark(spark):
    """End-to-end through the Arrow pipeline: exact-integer features
    match a direct Python recomputation."""
    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    got = {
        r["media_id"]: (r["sample_rate"], r["channels"], r["n_frames"],
                        r["s0"], r["sum_samples"])
        for r in multimodal.wav_features(
            multimodal.synth_wav_media(docs, "doc_id")
        ).collect()
    }
    for i in range(10):
        rate, ch, samples = multimodal.synth_wav_samples(i)
        assert got[i] == (rate, ch, len(samples) // ch,
                          samples[0], sum(samples))


# --- real GIF codec ---------------------------------------------------------


def test_gif_roundtrip_both_storage_orders():
    """encode -> decode recovers exact RGB rows for every synthetic
    shape, sequential AND 4-pass interlaced storage."""
    for mid in range(0, 40):
        w, h = 4 + mid % 5, 3 + mid % 4
        pal = multimodal._gif_palette(mid)
        idx_rows = [
            [(mid + 3 * x + 7 * y) % 16 for x in range(w)] for y in range(h)
        ]
        expect = [[pal[i] for i in r] for r in idx_rows]
        for inter in (False, True):
            p = multimodal.gif_encode(w, h, pal, idx_rows, interlace=inter)
            assert p[:6] == b"GIF89a"
            assert multimodal.gif_decode(p) == (w, h, expect), (mid, inter)


def test_gif_lzw_width_transitions_reset_and_kwkwk():
    """The LZW paths a real decoder must get right: dynamic code-width
    growth (the decoder's table runs one entry behind the encoder's —
    the boundary off-by-one this test exists to pin), the mid-stream
    CLEAR reset when the table hits 4096, and the KwKwK case."""
    import random

    rnd = random.Random(11)
    for _ in range(10):
        idx = [rnd.randrange(16) for _ in range(rnd.randrange(1, 20000))]
        enc = multimodal._lzw_encode(idx, 4)
        assert list(multimodal._lzw_decode(enc, 4)) == idx
    repetitive = [1, 2, 3, 4] * 6000          # drives table past 4096
    assert list(multimodal._lzw_decode(
        multimodal._lzw_encode(repetitive, 4), 4)) == repetitive
    runs = [5] * 50                            # KwKwK
    assert list(multimodal._lzw_decode(
        multimodal._lzw_encode(runs, 4), 4)) == runs


def test_gif_decode_skips_extensions_and_rejects_corruption():
    import struct

    import pytest

    mid = 9
    w, h = 4 + mid % 5, 3 + mid % 4
    pal = multimodal._gif_palette(mid)
    idx_rows = [
        [(mid + 3 * x + 7 * y) % 16 for x in range(w)] for y in range(h)
    ]
    expect = [[pal[i] for i in r] for r in idx_rows]
    p = multimodal.gif_encode(w, h, pal, idx_rows)
    # splice a Graphic Control Extension before the image descriptor
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    table_end = 13 + 3 * 16
    spliced = p[:table_end] + gce + p[table_end:]
    assert multimodal.gif_decode(spliced) == (w, h, expect)

    with pytest.raises(ValueError, match="magic"):
        multimodal.gif_decode(b"PNG!" + p[4:])
    with pytest.raises(ValueError, match="truncated|EOI"):
        multimodal.gif_decode(p[:-6])
    # pixel count mismatch: lie about the image height
    mangled = bytearray(p)
    struct.pack_into("<H", mangled, table_end + 7, h + 1)
    with pytest.raises(ValueError):
        multimodal.gif_decode(bytes(mangled))


def test_gif_features_spark_matches_reference(spark):
    """End-to-end through the Arrow pipeline (half the corpus
    interlaced): features equal a direct Python recomputation."""
    import math

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    got = {
        r["media_id"]: tuple(r)[1:]
        for r in multimodal.gif_features(
            multimodal.synth_gif_media(docs, "doc_id")
        ).collect()
    }
    for mid in range(12):
        w, h = 4 + mid % 5, 3 + mid % 4
        pal = multimodal._gif_palette(mid)
        px = [
            pal[(mid + 3 * x + 7 * y) % 16]
            for y in range(h) for x in range(w)
        ]
        n = w * h
        means = tuple(
            math.floor(sum(p[c] for p in px) / n * 1e6 + 0.5) / 1e6
            for c in range(3)
        )
        assert got[mid] == (w, h, px[0][0]) + means


def test_jpeg_spectral_roundtrip_bit_exact():
    """Baseline JPEG on the spectral synth images: the lossy pipeline
    (FDCT -> flat quant -> Annex K Huffman -> decode) is BIT-EXACT
    because every block has exactly two integer DCT coefficients —
    including non-8-multiple dims (edge-MCU crop)."""
    from kafka_streams_app_spark.operators.multimodal import (
        jpeg_decode,
        jpeg_encode_gray,
        synth_jpeg_pixels,
    )

    for mid in range(20):
        w, h, rows = synth_jpeg_pixels(mid)
        dw, dh, got = jpeg_decode(jpeg_encode_gray(w, h, rows))
        assert (dw, dh) == (w, h)
        assert got == [r[:w] for r in rows[:h]]
        if mid % 5:
            assert w % 8 != 0  # crop genuinely exercised


def test_jpeg_general_pixels_within_quant_error():
    """Arbitrary (non-spectral) pixels: the codec is genuinely lossy
    but with the flat quant table every coefficient error is <= 0.5,
    so reconstruction stays within a small bound — and the entropy
    stream exercises dense AC runs (not just ZRL/EOB)."""
    from kafka_streams_app_spark.operators.multimodal import (
        jpeg_decode,
        jpeg_encode_gray,
    )

    w = h = 16
    rows = [
        [(31 * x + 57 * y + x * y) % 256 for x in range(w)]
        for y in range(h)
    ]
    dw, dh, got = jpeg_decode(jpeg_encode_gray(w, h, rows))
    assert (dw, dh) == (w, h)
    worst = max(
        abs(got[y][x] - rows[y][x]) for y in range(h) for x in range(w)
    )
    assert worst <= 4, worst


def test_jpeg_entropy_stream_byte_stuffing():
    """An 0xFF entropy byte must be stuffed with 0x00 on encode and
    silently unstuffed on decode. The spectral synth family hits the
    stuffing path on nearly every id (292/300 measured), so assert the
    stuffed bytes are PRESENT in the scan sections and that decode on
    those payloads is still bit-exact (covered by the roundtrip pin);
    a stray bare 0xFF mid-stream must raise instead."""
    import pytest

    from kafka_streams_app_spark.operators.multimodal import (
        jpeg_decode,
        jpeg_encode_gray,
        synth_jpeg_pixels,
    )

    stuffed = 0
    first = None
    for mid in range(20):
        w, h, rows = synth_jpeg_pixels(mid)
        payload = jpeg_encode_gray(w, h, rows)
        scan_at = payload.find(b"\xff\xda") + 14
        n = payload[scan_at:-2].count(b"\xff\x00")
        stuffed += n
        if n and first is None:
            first = (payload, scan_at)
    assert stuffed > 0
    # corrupt the first stuffed pair into a bare marker: must raise
    payload, scan_at = first
    idx = payload.index(b"\xff\x00", scan_at)
    bad = payload[:idx + 1] + b"\xc4" + payload[idx + 2:]
    with pytest.raises(ValueError, match="marker inside entropy"):
        jpeg_decode(bad)


def test_jpeg_decode_rejects_malformed():
    """Structural guards: missing SOI, progressive SOF2, restart
    intervals, and a truncated Huffman stream all raise."""
    import pytest

    from kafka_streams_app_spark.operators.multimodal import (
        jpeg_decode,
        jpeg_encode_gray,
        synth_jpeg_pixels,
    )

    w, h, rows = synth_jpeg_pixels(3)
    payload = jpeg_encode_gray(w, h, rows)
    with pytest.raises(ValueError, match="SOI"):
        jpeg_decode(b"\x00\x00" + payload[2:])
    # flip SOF0 -> SOF2 (progressive)
    sof = payload.find(b"\xff\xc0")
    with pytest.raises(ValueError, match="baseline"):
        jpeg_decode(payload[:sof + 1] + b"\xc2" + payload[sof + 2:])
    # every malformed shape must surface as ValueError (r14 ADVICE:
    # the png/gif error contract — no IndexError/KeyError escapes,
    # no walking past the end)
    with pytest.raises(ValueError):
        jpeg_decode(payload[:len(payload) // 2])  # cut mid-entropy
    sos = payload.find(b"\xff\xda")
    with pytest.raises(ValueError, match="truncated"):
        jpeg_decode(payload[:sos])  # no SOS: must not loop past end
    with pytest.raises(ValueError, match="truncated"):
        jpeg_decode(payload[:sos + 3])  # cut mid-segment-header
    # strip both DHT segments: SOS then references missing tables
    out = bytearray()
    pos = 0
    while pos < len(payload):
        if payload[pos] == 0xFF and payload[pos + 1] == 0xC4:
            ln = int.from_bytes(payload[pos + 2:pos + 4], "big")
            pos += 2 + ln
            continue
        out.append(payload[pos])
        pos += 1
    with pytest.raises(ValueError, match="missing DHT"):
        jpeg_decode(bytes(out))
    # EOI immediately after SOI: EOI before SOS
    with pytest.raises(ValueError, match="EOI before SOS"):
        jpeg_decode(b"\xff\xd8\xff\xd9")
    # segment length pointing past the end of the payload
    dqt = payload.find(b"\xff\xdb")
    with pytest.raises(ValueError, match="truncated segment"):
        jpeg_decode(
            payload[:dqt + 2] + b"\xff\xff" + payload[dqt + 4:]
        )


def test_jpeg_features_spark_matches_oracle_formula(spark):
    """jpeg_features through the Arrow mapInPandas flow equals the
    closed-form pixel recomputation (the DuckDB oracle's formula) on a
    documents slice."""
    import math

    from kafka_streams_app_spark.operators import multimodal
    from kafka_streams_app_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(60)
    media = multimodal.synth_jpeg_media(docs, "doc_id")
    got = {
        r["media_id"]: (r["width"], r["height"], r["p00"], r["mean_p"])
        for r in multimodal.jpeg_features(media).collect()
    }
    assert len(got) == 60
    sgn = [1, -1, -1, 1]
    for mid, (w, h, p00, mean_p) in got.items():
        ew = 8 * (2 + mid % 3) - mid % 5
        eh = 8 * (1 + mid % 2) - mid % 3
        assert (w, h) == (ew, eh)
        assert p00 == 64 + mid % 128 + mid % 32 - 16
        s = sum(
            64 + (mid + 5 * (x // 8) + 9 * (y // 8)) % 128
            + ((mid + 3 * (x // 8) + 7 * (y // 8)) % 32 - 16)
            * sgn[x % 8 % 4] * sgn[y % 8 % 4]
            for x in range(ew) for y in range(eh)
        )
        assert mean_p == math.floor(s / (ew * eh) * 1e6 + 0.5) / 1e6


def test_png_palette_roundtrip_and_corruption():
    """Color-type-3 PNG: depth-8 and depth-4 (nibble-packed, odd
    widths exercise the pad byte) round-trip exactly through the
    shared png_decode; a missing PLTE and an out-of-range index both
    raise."""
    import pytest

    from kafka_streams_app_spark.operators.multimodal import (
        png_decode,
        png_encode_palette,
        synth_png_pal_pixels,
    )

    for mid in range(12):
        w, h, pal, rows, depth = synth_png_pal_pixels(mid)
        payload = png_encode_palette(w, h, pal, rows, depth=depth)
        dw, dh, got = png_decode(payload)
        assert (dw, dh) == (w, h)
        assert got == [[pal[ci] for ci in row] for row in rows]
    # odd-width depth-4 image hits the padded last nibble
    assert any(
        synth_png_pal_pixels(m)[0] % 2 == 1 and synth_png_pal_pixels(m)[4] == 4
        for m in range(12)
    )
    # missing PLTE: strip the chunk (12-byte header + 48 palette bytes)
    w, h, pal, rows, _ = synth_png_pal_pixels(3)
    payload = png_encode_palette(w, h, pal, rows, depth=4)
    at = payload.find(b"PLTE") - 4
    end = at + 12 + 48
    with pytest.raises(ValueError, match="PLTE"):
        png_decode(payload[:at] + payload[end:])
    # index outside a SHORT palette
    short = png_encode_palette(w, h, pal[:8], rows, depth=4)
    with pytest.raises(ValueError, match="outside PLTE"):
        png_decode(short)


def test_wav_autocorr_features_exact(spark):
    """wav_autocorr_features equals a direct Python recomputation of
    the exact-int energy / lag-1 / lag-4 sums over the decoded PCM."""
    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    media = multimodal.synth_wav_media(docs, "doc_id")
    got = {
        r["media_id"]: (r["n_samples"], r["energy"], r["ac1"], r["ac4"])
        for r in multimodal.wav_autocorr_features(media).collect()
    }
    for mid in range(10):
        _, _, s = multimodal.synth_wav_samples(mid)
        n = len(s)
        want = (
            n,
            sum(x * x for x in s),
            sum(s[i] * s[i + 1] for i in range(n - 1)),
            sum(s[i] * s[i + 4] for i in range(n - 4)),
        )
        assert got[mid] == want, mid


def test_gif_anim_roundtrip_and_frame_sampler(spark):
    """Animated GIF (r14 real-video path): every frame round-trips
    exactly through gif_decode_frames (GCE + NETSCAPE extensions
    skipped, odd frames interlaced), max_frames stops early,
    gif_decode still returns frame 0, and the Spark frame sampler
    equals a direct Python recomputation of every 2nd frame's means."""
    import math

    from kafka_streams_app_spark.operators.multimodal import (
        gif_decode,
        gif_decode_frames,
        gif_encode_anim,
        sample_frame_features,
        synth_gif_anim_frames,
        synth_video_media,
    )

    for mid in (0, 1, 5, 7):
        w, h, pal, frames = synth_gif_anim_frames(mid)
        payload = gif_encode_anim(w, h, pal, frames)
        dw, dh, got = gif_decode_frames(payload)
        assert (dw, dh, len(got)) == (w, h, len(frames))
        for f, idx_rows in enumerate(frames):
            assert got[f] == [[pal[ci] for ci in row] for row in idx_rows], f
        assert gif_decode(payload) == (w, h, got[0])
        assert gif_decode_frames(payload, max_frames=2)[2] == got[:2]

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    media = synth_video_media(docs, "doc_id")
    out = {
        (r["media_id"], r["frame_idx"]): (r["mean_r"], r["mean_g"], r["mean_b"])
        for r in sample_frame_features(media, every_n=2).collect()
    }
    for mid in range(8):
        w, h, pal, frames = synth_gif_anim_frames(mid)
        for f in range(0, len(frames), 2):
            sums = [0, 0, 0]
            for row in frames[f]:
                for ci in row:
                    for c in range(3):
                        sums[c] += pal[ci][c]
            want = tuple(
                math.floor(s / (w * h) * 1e6 + 0.5) / 1e6 for s in sums
            )
            assert out[(mid, f)] == want, (mid, f)
        # frames beyond the sample stride are absent
        assert (mid, 1) not in out


def test_jpeg_color_roundtrip_bit_exact():
    """4:2:0 YCbCr baseline JPEG (r14 verdict ask #6): interleaved
    MCUs (4 Y + Cb + Cr), per-component DC prediction, separate
    luma/chroma quant tables, chroma replication upsample, BT.601
    inverse — bit-exact on the spectral synth planes, including
    non-16-multiple dims (edge-MCU crop) and two-MCU-row ids
    (vertical stacking)."""
    import math

    from kafka_streams_app_spark.operators.multimodal import (
        jpeg_decode_color,
        jpeg_encode_color,
        synth_jpeg_color_pixels,
    )

    crop_seen = stack_seen = False
    for mid in range(20):
        w, h, yr, cb, cr = synth_jpeg_color_pixels(mid)
        dw, dh, rows = jpeg_decode_color(
            jpeg_encode_color(w, h, yr, cb, cr, "420")
        )
        assert (dw, dh) == (w, h)
        crop_seen = crop_seen or (w % 16 != 0)
        stack_seen = stack_seen or (h > 16)
        for y in range(h):
            for x in range(w):
                lum = yr[y][x]
                cbv = cb[y // 2][x // 2] - 128
                crv = cr[y // 2][x // 2] - 128
                want = (
                    min(255, max(0, math.floor(lum + 1.402 * crv + 0.5))),
                    min(255, max(0, math.floor(
                        lum - 0.344136 * cbv - 0.714136 * crv + 0.5))),
                    min(255, max(0, math.floor(lum + 1.772 * cbv + 0.5))),
                )
                assert rows[y][x] == want, (mid, x, y)
    assert crop_seen and stack_seen


def test_jpeg_color_444_matches_replicated_420():
    """4:4:4 sampling (all 1x1) decodes through the same MCU walk; a
    444 encode of the replication-upsampled chroma reproduces the 420
    pixels exactly."""
    from kafka_streams_app_spark.operators.multimodal import (
        jpeg_decode_color,
        jpeg_encode_color,
        synth_jpeg_color_pixels,
    )

    w, h, yr, cb, cr = synth_jpeg_color_pixels(4)
    fw, fh = len(yr[0]), len(yr)
    cbf = [[cb[y // 2][x // 2] for x in range(fw)] for y in range(fh)]
    crf = [[cr[y // 2][x // 2] for x in range(fw)] for y in range(fh)]
    _, _, r444 = jpeg_decode_color(
        jpeg_encode_color(w, h, yr, cbf, crf, "444")
    )
    _, _, r420 = jpeg_decode_color(
        jpeg_encode_color(w, h, yr, cb, cr, "420")
    )
    assert r444 == r420


def test_jpeg_color_rejects_malformed():
    """Color-path error contract: wrong component count per decoder,
    unsupported sampling, and a 2-component SOF0 all raise
    ValueError."""
    import pytest

    from kafka_streams_app_spark.operators.multimodal import (
        jpeg_decode,
        jpeg_decode_color,
        jpeg_encode_color,
        jpeg_encode_gray,
        synth_jpeg_color_pixels,
        synth_jpeg_pixels,
    )

    w, h, yr, cb, cr = synth_jpeg_color_pixels(1)
    color = jpeg_encode_color(w, h, yr, cb, cr, "420")
    gray = jpeg_encode_gray(*synth_jpeg_pixels(1))
    with pytest.raises(ValueError, match="grayscale"):
        jpeg_decode(color)
    with pytest.raises(ValueError, match="3-component"):
        jpeg_decode_color(gray)
    # patch Y sampling 2x2 -> 2x1 (4:2:2): parse ok, decode refuses
    sof = color.find(b"\xff\xc0")
    y_samp = sof + 4 + 6 + 1  # marker+len+prec/h/w/nc + cid
    assert color[y_samp] == 0x22
    with pytest.raises(ValueError, match="sampling"):
        jpeg_decode_color(
            color[:y_samp] + b"\x21" + color[y_samp + 1:]
        )
    # 2-component SOF0: neither decoder's format
    with pytest.raises(ValueError, match="components"):
        nc_at = sof + 4 + 5
        assert color[nc_at] == 3
        jpeg_decode_color(
            color[:nc_at] + b"\x02" + color[nc_at + 1:sof + 4 + 6 + 6]
            + color[sof + 4 + 6 + 9:]
        )


def test_jpeg_color_features_spark_matches_oracle_formula(spark):
    """jpeg_color_features through the Arrow mapInPandas flow equals
    the closed-form YCbCr->RGB recomputation (the DuckDB oracle's
    formula) on a documents slice."""
    import math

    from kafka_streams_app_spark.operators import multimodal
    from kafka_streams_app_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(40)
    media = multimodal.synth_jpeg_color_media(docs, "doc_id")
    got = {
        r["media_id"]: tuple(r)[1:]
        for r in multimodal.jpeg_color_features(media).collect()
    }
    assert len(got) == 40
    sgn = [1, -1, -1, 1]
    for mid, (w, h, r00, g00, b00, mr, mg, mb) in got.items():
        ew = 16 * (1 + mid % 2) - mid % 7
        eh = 16 * (2 if mid % 3 == 0 else 1) - mid % 5
        assert (w, h) == (ew, eh)
        sr = sg = sb = 0
        for y in range(eh):
            for x in range(ew):
                yv = (48 + (mid + 5 * (x // 8) + 9 * (y // 8)) % 128
                      + ((mid + 3 * (x // 8) + 7 * (y // 8)) % 32 - 16)
                      * sgn[x % 8 % 4] * sgn[y % 8 % 4])
                cbv = (96 + (mid + 7 * (x // 16) + 3 * (y // 16)) % 64
                       + ((mid + 5 * (x // 16) + (y // 16)) % 16 - 8)
                       * sgn[(x // 2) % 8 % 4] * sgn[(y // 2) % 8 % 4]
                       - 128)
                crv = (80 + (2 * mid + 3 * (x // 16) + 5 * (y // 16)) % 96
                       + ((mid + (x // 16) + 7 * (y // 16)) % 16 - 8)
                       * sgn[(x // 2) % 8 % 4] * sgn[(y // 2) % 8 % 4]
                       - 128)
                r = min(255, max(0, math.floor(yv + 1.402 * crv + 0.5)))
                g = min(255, max(0, math.floor(
                    yv - 0.344136 * cbv - 0.714136 * crv + 0.5)))
                b = min(255, max(0, math.floor(yv + 1.772 * cbv + 0.5)))
                if x == 0 and y == 0:
                    assert (r00, g00, b00) == (r, g, b), mid
                sr += r
                sg += g
                sb += b
        n = ew * eh
        assert mr == math.floor(sr / n * 1e6 + 0.5) / 1e6
        assert mg == math.floor(sg / n * 1e6 + 0.5) / 1e6
        assert mb == math.floor(sb / n * 1e6 + 0.5) / 1e6


def test_jpeg_color_general_pixels_within_quant_error():
    """Arbitrary (non-spectral) YCbCr planes: the 4:2:0 codec is
    genuinely lossy, but with flat quant tables every coefficient
    error is <= 0.5 per plane, so each decoded channel stays within a
    small bound of the closed-form conversion of the ORIGINAL planes —
    and the entropy stream exercises dense AC runs across all three
    components' interleaved blocks."""
    import math

    from kafka_streams_app_spark.operators.multimodal import (
        jpeg_decode_color,
        jpeg_encode_color,
    )

    w = h = 32
    yr = [[(31 * x + 57 * y + x * y) % 200 + 28 for x in range(w)]
          for y in range(h)]
    cb = [[(13 * x + 7 * y) % 100 + 78 for x in range(w // 2)]
          for y in range(h // 2)]
    cr = [[(11 * x + 23 * y) % 120 + 68 for x in range(w // 2)]
          for y in range(h // 2)]
    dw, dh, rows = jpeg_decode_color(jpeg_encode_color(w, h, yr, cb, cr))
    assert (dw, dh) == (w, h)
    worst = 0
    for y in range(h):
        for x in range(w):
            lum = yr[y][x]
            cbv = cb[y // 2][x // 2] - 128
            crv = cr[y // 2][x // 2] - 128
            want = (
                min(255, max(0, math.floor(lum + 1.402 * crv + 0.5))),
                min(255, max(0, math.floor(
                    lum - 0.344136 * cbv - 0.714136 * crv + 0.5))),
                min(255, max(0, math.floor(lum + 1.772 * cbv + 0.5))),
            )
            worst = max(worst, max(
                abs(a - b) for a, b in zip(rows[y][x], want)
            ))
    # plane error <= ~4 (gray's measured bound) propagates through the
    # conversion with coefficients summing < 2.2 -> channel bound ~12
    assert worst <= 12, worst


# --- format-sniffing auto dispatch (extract_features_auto) -----------------


def test_sniff_format_routes_every_magic():
    cases = {
        "bmp": multimodal.bmp_encode(*multimodal.synth_bmp_pixels(3)),
        "png": multimodal.png_encode(*multimodal.synth_bmp_pixels(3)),
        "gif": multimodal.gif_encode(
            3, 2, multimodal._gif_palette(3),
            [[0, 1, 2], [3, 4, 5]], interlace=False,
        ),
        "wav": multimodal.wav_encode(*multimodal.synth_wav_samples(3)),
        "jpeg": multimodal.jpeg_encode_gray(*multimodal.synth_jpeg_pixels(3)),
        "raw": b"just some text bytes",
    }
    for fmt, payload in cases.items():
        assert multimodal.sniff_format(payload) == fmt
    assert multimodal.sniff_format(b"ab") == "raw"      # too short for a magic
    assert multimodal.sniff_format(None) == "raw"


def test_auto_features_matches_direct_decoders():
    """Each dispatch branch's stats equal a recomputation from the
    direct per-format decoder (same ids the mixed corpus would route)."""
    for mid in range(14):
        cls = mid % 7
        if cls == 0:
            payload = multimodal.bmp_encode(*multimodal.synth_bmp_pixels(mid))
            w, h, rows = multimodal.bmp_decode(payload)
            want = ("bmp", w, h,
                    sum(p[0] for r in rows for p in r),
                    sum(p[1] for r in rows for p in r),
                    sum(p[2] for r in rows for p in r))
        elif cls == 1:
            payload = multimodal.png_encode(*multimodal.synth_bmp_pixels(mid))
            w, h, rows = multimodal.png_decode(payload)
            want = ("png", w, h,
                    sum(p[0] for r in rows for p in r),
                    sum(p[1] for r in rows for p in r),
                    sum(p[2] for r in rows for p in r))
        elif cls == 2:
            w, h = 4 + mid % 5, 3 + mid % 4
            idx = [[(mid + 3 * x + 7 * y) % multimodal._GIF_NC
                    for x in range(w)] for y in range(h)]
            payload = multimodal.gif_encode(
                w, h, multimodal._gif_palette(mid), idx,
                interlace=bool(mid % 2))
            _, _, rows = multimodal.gif_decode(payload)
            want = ("gif", w, h,
                    sum(p[0] for r in rows for p in r),
                    sum(p[1] for r in rows for p in r),
                    sum(p[2] for r in rows for p in r))
        elif cls == 3:
            payload = multimodal.wav_encode(*multimodal.synth_wav_samples(mid))
            _, ch, samples = multimodal.wav_decode(payload)
            want = ("wav", ch, len(samples) // ch,
                    sum(samples), sum(s * s for s in samples), 0)
        elif cls == 4:
            payload = multimodal.jpeg_encode_gray(
                *multimodal.synth_jpeg_pixels(mid))
            w, h, px = multimodal.jpeg_decode(payload)
            want = ("jpeg", w, h, sum(map(sum, px)), 0, 0)
        elif cls == 5:
            w0, h0, yr, cb, cr = multimodal.synth_jpeg_color_pixels(mid)
            payload = multimodal.jpeg_encode_color(w0, h0, yr, cb, cr, "420")
            w, h, rows = multimodal.jpeg_decode_color(payload)
            want = ("jpeg_color", w, h,
                    sum(p[0] for r in rows for p in r),
                    sum(p[1] for r in rows for p in r),
                    sum(p[2] for r in rows for p in r))
        else:
            payload = f"raw:{mid}".encode()
            want = ("raw", 0, 0, sum(payload), 0, 0)
        assert multimodal._auto_features_one(payload) == want, mid


def test_auto_features_quarantines_corrupt_payloads():
    """Recognized magic + malformed body lands in the corrupt bucket
    WITH the sniffed container as provenance (a quarantine a human can
    triage without re-sniffing) — never an exception, never a silent
    fall-through to the stand-in."""
    corrupt = [
        (b"\x89PNG\r\n\x1a\n" + b"garbage-after-signature", "png"),
        (b"BM" + b"\x00" * 60, "bmp"),              # bad BMP header fields
        (b"GIF89a" + b"\x01\x00\x01\x00", "gif"),   # truncated GIF
        (b"RIFF\x08\x00\x00\x00WAVE", "wav"),       # WAV with no fmt/data
        (b"\xff\xd8\xff\xe0\x00\x02", "jpeg"),      # JPEG SOI then truncation
    ]
    for payload, container in corrupt:
        assert multimodal._auto_features_one(payload) == \
            (f"corrupt:{container}", 0, 0, 0, 0, 0), payload[:8]


def test_auto_features_on_error_contract(caplog):
    """The rolling on_late lesson applied to decode: quarantine must be
    VISIBLE (one WARNING per batch naming count + ids) and 'fail' must
    raise with the media_id — silent degradation is never an option."""
    import logging

    import pandas as pd
    import pytest

    good = multimodal.bmp_encode(*multimodal.synth_bmp_pixels(1))
    bad = b"BM" + b"\x00" * 60
    pdf = pd.DataFrame({"media_id": [1, 2], "payload": [good, bad]})
    logger = "kafka_streams_app_spark.operators.multimodal"
    with caplog.at_level(logging.WARNING, logger=logger):
        out = multimodal._auto_features_batch(pdf, "quarantine")
        assert list(out["fmt"]) == ["bmp", "corrupt:bmp"]
        assert len(caplog.records) == 1
        assert "media_id [2]" in caplog.records[0].getMessage()
        # clean batch: no warning
        clean = pd.DataFrame({"media_id": [1], "payload": [good]})
        multimodal._auto_features_batch(clean, "quarantine")
        assert len(caplog.records) == 1
    with pytest.raises(ValueError, match="media_id=2"):
        multimodal._auto_features_batch(pdf, "fail")
    with pytest.raises(ValueError, match="quarantine|fail"):
        multimodal.extract_features_auto(None, on_error="explode")


def test_extract_features_auto_mixed_corpus(spark):
    """End-to-end through Spark: the mixed synth corpus routes each id
    class to its real decoder; fmt labels and exact stats match the
    driver-side recomputation."""
    docs = spark.createDataFrame([(i,) for i in range(14)], "doc_id long")
    media = multimodal.synth_mixed_media(docs, "doc_id")
    got = {r["media_id"]: r for r in
           multimodal.extract_features_auto(media).collect()}
    assert len(got) == 14
    expect_fmt = ["bmp", "png", "gif", "wav", "jpeg", "jpeg_color", "raw"]
    for mid in range(14):
        row = got[mid]
        assert row["fmt"] == expect_fmt[mid % 7], mid
        if row["fmt"] == "raw":
            assert (row["width"], row["height"]) == (0, 0)
            assert row["s0"] == sum(f"raw:{mid}".encode())
    # spot-check one exact image branch against the closed form
    r3 = got[0]
    w, h, rows = multimodal.synth_bmp_pixels(0)
    assert (r3["width"], r3["height"]) == (w, h)
    assert r3["s0"] == sum(p[0] for r in rows for p in r)


def test_decoder_error_contract_non_valueerror_escapes():
    """Crash escapes found by adversarial review: exceptions that are
    NOT ValueError subclasses used to leak through the decoders'
    documented error contract (and therefore through the dispatch
    quarantine) — zlib.error from a CRC-valid PNG with a corrupt
    deflate stream, struct.error from a GIF truncated at the image
    descriptor, and an allocation stall from a corrupt LZW min-code
    size. All three must now raise ValueError and quarantine."""
    import struct
    import zlib

    import pytest

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", 4, 3, 8, 2, 0, 0, 0)
    bad_png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", b"notdeflate") + chunk(b"IEND", b""))
    no_idat_png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                   + chunk(b"IEND", b""))
    bad_gif_desc = b"GIF89a" + b"\x00" * 7 + b"\x2c"
    # valid screen descriptor + global table, then mcs byte 0xFF
    gtab = bytes(range(6))  # 2-entry table
    bad_gif_mcs = (b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0x80, 0, 0)
                   + gtab + b"\x2c" + struct.pack("<HHHHB", 0, 0, 1, 1, 0)
                   + b"\xff" + b"\x01\x00" + b"\x00" + b"\x3b")
    for payload in (bad_png, no_idat_png, bad_gif_desc, bad_gif_mcs):
        with pytest.raises(ValueError):
            (multimodal.png_decode if payload[:4] == b"\x89PNG"
             else multimodal.gif_decode)(payload)
        fmt = multimodal._auto_features_one(payload)[0]
        assert fmt.startswith("corrupt:"), payload[:8]


def test_auto_features_mutation_fuzz_no_escapes():
    """Seeded mutation fuzz: byte-flips and truncations of VALID
    payloads from all six codec paths reach far deeper decoder states
    than random bytes; every mutant must still yield a well-formed
    dispatch tuple (decode, quarantine, or stand-in — never an
    exception). The one-off 14,400-mutation sweep that found nothing
    after the r15 escape fixes, kept at 1,800 mutations in-suite."""
    import random

    rng = random.Random(42)
    valid = []
    for cls in range(6):
        mid = cls
        if cls == 0:
            valid.append(multimodal.bmp_encode(*multimodal.synth_bmp_pixels(mid)))
        elif cls == 1:
            valid.append(multimodal.png_encode(*multimodal.synth_bmp_pixels(mid)))
        elif cls == 2:
            w, h = 4 + mid % 5, 3 + mid % 4
            rows = [[(mid + 3 * x + 7 * y) % multimodal._GIF_NC
                     for x in range(w)] for y in range(h)]
            valid.append(multimodal.gif_encode(
                w, h, multimodal._gif_palette(mid), rows,
                interlace=bool(mid % 2)))
        elif cls == 3:
            valid.append(multimodal.wav_encode(*multimodal.synth_wav_samples(mid)))
        elif cls == 4:
            valid.append(multimodal.jpeg_encode_gray(*multimodal.synth_jpeg_pixels(mid)))
        else:
            w, h, yr, cb, cr = multimodal.synth_jpeg_color_pixels(mid)
            valid.append(multimodal.jpeg_encode_color(w, h, yr, cb, cr, "420"))
    for base in valid:
        for _ in range(300):
            b = bytearray(base)
            mode = rng.random()
            if mode < 0.4:
                for _ in range(rng.randint(1, 4)):
                    b[rng.randrange(len(b))] = rng.randrange(256)
            elif mode < 0.7:
                b = b[:rng.randrange(1, len(b))]
            else:
                b[rng.randrange(len(b))] = rng.randrange(256)
                b = b[:rng.randrange(4, len(b) + 1)]
            out = multimodal._auto_features_one(bytes(b))
            assert isinstance(out, tuple) and len(out) == 6
