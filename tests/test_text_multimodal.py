"""Text analytics + multimodal plumbing tests."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from changesetmd_spark import synth
from changesetmd_spark.operators import multimodal, text


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "the cat and the dog of a house",
                    "der hund und die katze ist nicht hier",
                    "el perro y la casa que una vez",
                    "xyzzy plugh qwert",
                ],
            }
        )
    )
    out = {r.doc_id: r.lang for r in df.select("doc_id", F.expr(text.lang_id("text")).alias("lang")).collect()}
    assert out == {1: "en", 2: "de", 3: "es", 4: "und"}


def test_fingerprint_properties(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"t": ["a b c", "a b c", "a  b   c", "c b a", ""]})
    ).select(F.expr(text.fingerprint("t")).alias("fp"))
    fps = [r.fp for r in df.collect()]
    assert fps[0] == fps[1] == fps[2]  # whitespace-insensitive, stable
    assert fps[0] != fps[3]  # order-sensitive (rolling)
    assert fps[4] == 0  # empty doc


def test_text_functions_match_their_duckdb_twins_on_edge_strings(spark):
    """Each Spark text function gives its DuckDB ``*_SQL`` twin's value
    on doubled, leading, trailing and whitespace-only spacing, the
    empty string, non-ASCII letters and digits, and punctuation."""
    import duckdb

    strings = ["the cat  hat ", "", "  ", "straße 旧市街 0", "Hello, world! It's 3 o'clock."]
    pdf = pd.DataFrame({"i": range(len(strings)), "t": strings})
    feats = {n: f"CAST({e} AS BIGINT)" for n, e in text.quality_features("t").items()}
    feats_sql = {n: f"CAST({e} AS BIGINT)" for n, e in text.QUALITY_FEATURES_SQL("t").items()}
    spark_cols = {
        "toks": text.tokens("t"),
        "fp": text.fingerprint("t"),
        "lang": text.lang_id("t"),
        "bpe": text.bpe_tokens("t"),
        **feats,
    }
    duck_cols = {
        "toks": text.TOKENS_SQL("t"),
        "fp": text.FINGERPRINT_SQL("t"),
        "lang": text.LANG_ID_SQL("t"),
        "bpe": text.BPE_TOKENS_SQL("t"),
        **feats_sql,
    }
    names = list(spark_cols)
    got = spark.createDataFrame(pdf).selectExpr(
        "i", *[f"{spark_cols[n]} AS {n}" for n in names]
    ).orderBy("i").collect()
    con = duckdb.connect()
    con.register("docs", pdf)
    want = con.execute(
        f"SELECT i, {', '.join(f'{duck_cols[n]} AS {n}' for n in names)} FROM docs ORDER BY i"
    ).fetchall()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert [r.toks for r in got][3] == ["straße", "旧市街", "0"]
    assert any(r.fp for r in got) and any(r.punct_ratio_q for r in got)


def test_token_and_quality_features(spark):
    df = spark.createDataFrame(pd.DataFrame({"t": ["the cat, the hat!  "]}))
    feats = text.quality_features("t")
    row = df.selectExpr(*[f"{e} AS {n}" for n, e in feats.items()]).collect()[0]
    assert row.n_tokens == 4
    assert row.punct_ratio_q > 0
    assert row.stop_ratio_q == 5000  # 2 of 4 tokens are 'the'


def test_fake_codec_roundtrip_lossless_and_psnr(spark):
    """input_hint invariant: payload survives the pipeline; decoded
    pixels equal for lossless, PSNR ≥ 40 dB for lossy."""
    images = synth.images(spark, 64, width=16, height=16)
    rows = images.select("image_id", "bytes", "fmt", "phash").collect()
    for r in rows:
        fmt, w, h, px = multimodal.decode_blob(bytes(r.bytes))
        assert (w, h) == (16, 16)
        src = synth.pixels_for_phash(np.array([r.phash]), 16, 16)[0]
        if fmt == "fraw":
            assert (px == src).all()
            assert multimodal.psnr_db(px, src) == 999.0
        else:
            p = multimodal.psnr_db(px, src)
            assert p >= 40.0, f"lossy PSNR {p} < 40dB"


def test_decode_stats_matches_closed_form(spark):
    images = synth.images(spark, 50, width=8, height=8)
    stats = {r.image_id: r for r in multimodal.decode_stats(images).collect()}
    src = {r.image_id: r.phash for r in images.select("image_id", "phash").collect()}
    for iid, ph in src.items():
        px = synth.pixels_for_phash(np.array([ph]), 8, 8)[0]
        if stats[iid].fmt == "fjpg":
            px = px & 0xFC
        assert stats[iid].pixel_sum == int(px.astype(np.int64).sum())


def test_resize_shape_and_determinism(spark):
    images = synth.images(spark, 10, width=16, height=16)
    small = multimodal.resize(images, 4, 4)
    rows = small.collect()
    for r in rows:
        fmt, w, h, px = multimodal.decode_blob(bytes(r.bytes))
        assert (w, h) == (4, 4)
        assert len(px) == 4 * 4 * 3
    again = {r.image_id: bytes(r.bytes) for r in multimodal.resize(images, 4, 4).collect()}
    assert {r.image_id: bytes(r.bytes) for r in rows} == again


def test_feature_embed_closed_form_and_determinism(spark):
    """The embedding is the exact ±1 projection of the decoded pixels:
    verify against a numpy recomputation from phash, and identical
    payloads → identical embeddings."""
    images = synth.images(spark, 40, width=8, height=8)
    emb = {r.image_id: np.array(r.embedding) for r in multimodal.feature_embed(images).collect()}
    meta = {r.image_id: (r.phash, r.fmt) for r in images.select("image_id", "phash", "fmt").collect()}
    M = multimodal._embed_matrix()
    for iid, (ph, fmt) in meta.items():
        px = synth.pixels_for_phash(np.array([ph]), 8, 8)[0]
        if fmt == "fjpg":
            px = px & 0xFC
        want = (
            px.astype(np.int64) @ M[np.arange(px.shape[0]) % multimodal.EMBED_FOLD]
        ) / multimodal.EMBED_SCALE
        assert (emb[iid] == want).all()
        assert emb[iid].shape == (multimodal.EMBED_DIM,)


def test_decode_embed_ann_end_to_end(spark):
    """decode → embed → ANN as one pipeline: byte-identical duplicate
    images land as exact embedding near-dups; ANN top-1 finds each
    planted duplicate."""
    from changesetmd_spark.operators import similarity

    base = synth.images(spark, 60, width=8, height=8).select("image_id", "bytes", "phash")
    # plant 3 byte-identical duplicates under new ids
    dups = (
        base.filter(F.col("phash") % 3 == 0).limit(3)
        .select(F.concat(F.lit("dup_"), "image_id").alias("image_id"), "bytes", "phash")
    )
    images = base.unionByName(dups)
    # stable integer ids for the ANN operator (hash of image_id)
    emb = multimodal.feature_embed(images).select(
        F.conv(F.substring(F.md5("image_id"), 1, 8), 16, 10).cast("long").alias("vec_id"),
        "image_id",
        "embedding",
    )
    dup_ids = {
        (r.image_id, r.vec_id)
        for r in emb.filter(F.col("image_id").startswith("dup_")).collect()
    }
    assert len(dup_ids) == 3
    orig_of = {
        r.vec_id: r.image_id for r in emb.collect()
    }
    queries = emb.filter(F.col("image_id").startswith("dup_")).drop("image_id")
    out = similarity.ann_lsh_topk(queries, emb.drop("image_id"), k=1).collect()
    assert len(out) == 3
    for r in out:
        dup_name = [n for n, v in dup_ids if v == r.query_id][0]
        # top-1 neighbor is the byte-identical original (cos == 1.0)
        assert orig_of[r.neighbor_id] == dup_name.removeprefix("dup_")
        assert r.cos_sim_q == 1_000_000


def test_audio_stats_closed_form(spark):
    """Audio column family: encode deterministic PCM blobs, decode via
    the Arrow op, verify every stat against the closed-form numpy
    recomputation from phash."""
    import pandas as pd

    n_samp, sr = 480, 16000
    ph = np.arange(1, 41, dtype=np.uint64) * np.uint64(2654435761)
    blobs = synth.encode_audio(ph, n_samp, sr)
    df = spark.createDataFrame(
        pd.DataFrame({"audio_id": [f"au{i}" for i in range(40)], "bytes": blobs})
    )
    got = {r.audio_id: r for r in multimodal.audio_stats(df).collect()}
    pcm = synth.samples_for_phash(ph, n_samp).astype(np.int64)
    for i in range(40):
        r = got[f"au{i}"]
        s = pcm[i]
        assert r.sample_rate == sr and r.n_samples == n_samp
        assert r.duration_ms == n_samp * 1000 // sr
        assert r.energy == int((s * s).sum())
        assert r.peak == int(np.abs(s).max())
        sign = s >= 0
        assert r.zero_crossings == int((sign[1:] != sign[:-1]).sum())


def _make_bmp(rgb_rows: list[list[tuple[int, int, int]]], top_down: bool = False) -> bytes:
    """Hand-assemble a REAL uncompressed 24-bit BMP (BITMAPINFOHEADER):
    4-byte-aligned rows, BGR order, bottom-up unless top_down."""
    h, w = len(rgb_rows), len(rgb_rows[0])
    stride = (w * 3 + 3) & ~3
    rows = rgb_rows if top_down else rgb_rows[::-1]
    body = b"".join(
        b"".join(bytes([b_, g, r]) for (r, g, b_) in row) + b"\x00" * (stride - w * 3)
        for row in rows
    )
    info = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + (-h if top_down else h).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")      # planes
        + (24).to_bytes(2, "little")     # bpp
        + (0).to_bytes(4, "little")      # BI_RGB
        + len(body).to_bytes(4, "little")
        + b"\x00" * 16                   # resolution / palette fields
    )
    file_hdr = b"BM" + (54 + len(body)).to_bytes(4, "little") + b"\x00" * 4 + (54).to_bytes(4, "little")
    return file_hdr + info + body


def _make_wav(ch0: list[int], ch1: list[int] | None = None, sr: int = 8000) -> bytes:
    """Hand-assemble a REAL RIFF/WAVE 16-bit PCM container (stereo if
    ch1 given); channel 0 is the engine's mono contract."""
    chans = [ch0] if ch1 is None else [ch0, ch1]
    n_ch = len(chans)
    data = b"".join(
        b"".join(int(c[i]).to_bytes(2, "little", signed=True) for c in chans)
        for i in range(len(ch0))
    )
    fmt = (
        (1).to_bytes(2, "little") + n_ch.to_bytes(2, "little")
        + sr.to_bytes(4, "little") + (sr * n_ch * 2).to_bytes(4, "little")
        + (n_ch * 2).to_bytes(2, "little") + (16).to_bytes(2, "little")
    )
    chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


BMP_ROWS = [
    [(255, 0, 0), (0, 255, 0)],
    [(0, 0, 255), (10, 20, 30)],
]
BMP_FLAT = [255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30]


def test_real_bmp_decodes_through_registry():
    """A genuine foreign container (not the fake codec, not a mock)
    through decode_blob's BMP branch: hand-built uncompressed 24-bit
    BMP, both bottom-up and top-down row orders, exact RGB out."""
    for td in (False, True):
        fmt, w, h, px = multimodal.decode_blob(_make_bmp(BMP_ROWS, top_down=td))
        assert (fmt, w, h) == ("bmp", 2, 2)
        assert px.tolist() == BMP_FLAT
    # an unsupported BMP variant fails as a BMP decode error, not as
    # an unknown container
    bad = bytearray(_make_bmp(BMP_ROWS))
    bad[28] = 32  # bpp=32
    with pytest.raises(ValueError, match="unsupported BMP"):
        multimodal.decode_blob(bytes(bad))


def test_real_wav_decodes_through_registry():
    ch0, ch1 = [100, -200, 300], [1, 2, 3]
    sr, n, mono = multimodal.decode_audio_blob(_make_wav(ch0, ch1, sr=8000))
    assert (sr, n) == (8000, 3)
    assert mono.tolist() == ch0  # channel 0 = the mono contract
    # RIFF chunk walk must skip unknown + ODD-SIZED chunks (word
    # alignment pad) that precede fmt/data
    blob = _make_wav(ch0, ch1, sr=8000)
    junk = b"LIST" + (3).to_bytes(4, "little") + b"abc" + b"\x00"  # padded odd chunk
    patched = blob[:12] + junk + blob[12:]
    patched = patched[:4] + (len(patched) - 8).to_bytes(4, "little") + patched[8:]
    sr2, n2, mono2 = multimodal.decode_audio_blob(patched)
    assert (sr2, n2, mono2.tolist()) == (8000, 3, ch0)
    # mono container round-trips too
    sr2, n2, mono2 = multimodal.decode_audio_blob(_make_wav([7, -7], sr=44100))
    assert (sr2, n2, mono2.tolist()) == (44100, 2, [7, -7])
    with pytest.raises(ValueError, match="unsupported WAV"):
        # 8-bit PCM: claimed by sniff, rejected by decode
        blob = bytearray(_make_wav(ch0))
        blob[34] = 8  # bits-per-sample field inside fmt chunk
        multimodal.decode_audio_blob(bytes(blob))


def test_real_format_blobs_through_spark_operators(spark):
    """Mixed fake-codec + REAL-format rows through the mapInPandas
    operators: each row decodes by its magic bytes, rows of one shape
    stack into one matrix — same output contract for every format."""
    import pandas as pd

    bmp = _make_bmp(BMP_ROWS)
    fkim = synth.encode_image(
        np.array([12345], dtype=np.uint64), 2, 2, np.array([0], dtype=np.int64)
    )[0]
    images = spark.createDataFrame(
        pd.DataFrame({"image_id": ["real_bmp", "fk"], "bytes": [bmp, fkim]})
    )
    stats = {r.image_id: r for r in multimodal.decode_stats(images).collect()}
    assert (stats["real_bmp"].fmt, stats["real_bmp"].w, stats["real_bmp"].h) == ("bmp", 2, 2)
    assert stats["real_bmp"].pixel_sum == sum(BMP_FLAT)
    assert stats["real_bmp"].pixel_min == 0 and stats["real_bmp"].pixel_max == 255
    assert stats["fk"].fmt == "fraw"  # fake path untouched

    emb = {r.image_id: np.array(r.embedding) for r in multimodal.feature_embed(images).collect()}
    M = multimodal._embed_matrix()
    px = np.array(BMP_FLAT, dtype=np.float64)
    want = (px @ M[np.arange(len(px)) % multimodal.EMBED_FOLD]) / multimodal.EMBED_SCALE
    assert np.array_equal(emb["real_bmp"], want)

    wav = _make_wav([100, -200, 300], [1, 2, 3], sr=8000)
    fkau = synth.encode_audio(np.array([7], dtype=np.uint64), 16, 16000)[0]
    audio = spark.createDataFrame(
        pd.DataFrame({"audio_id": ["real_wav", "fk"], "bytes": [wav, fkau]})
    )
    astats = {r.audio_id: r for r in multimodal.audio_stats(audio).collect()}
    r = astats["real_wav"]
    assert (r.sample_rate, r.n_samples) == (8000, 3)
    assert r.energy == 100 * 100 + 200 * 200 + 300 * 300
    assert r.peak == 300 and r.zero_crossings == 2
    assert astats["fk"].sample_rate == 16000  # fake path untouched


def test_audio_rejects_unknown_codec():
    # RIFF without the WAVE form type is not a WAV
    with pytest.raises(ValueError, match="unknown audio container.*FKAU or RIFF/WAVE"):
        multimodal.decode_audio_blob(b"RIFF" + b"\x00" * 20)


def test_decode_rejects_unknown_codec():
    with pytest.raises(ValueError, match="unknown image container.*FKIM or 24-bit BMP"):
        multimodal.decode_blob(b"\x89PNG\r\n\x1a\n" + b"\x00" * 20)


def test_truncated_payloads_fail_naming_the_row(spark):
    """A payload shorter than its header declares fails the job with
    the row's key, instead of giving stats over the bytes that are
    left (a 2x2 FKIM image cut to 7 payload bytes, an FKAU clip of 16
    samples cut by 6 bytes)."""
    from pyspark.errors import PythonException

    fkim = synth.encode_image(
        np.array([12345], dtype=np.uint64), 2, 2, np.array([0], dtype=np.int64)
    )[0]
    images = spark.createDataFrame(
        pd.DataFrame({"image_id": ["ok", "cut"], "bytes": [fkim, fkim[: multimodal.HEADER_LEN + 7]]})
    )
    with pytest.raises(PythonException, match="cut: FKIM 2x2 payload of 7 bytes is not whole frames"):
        multimodal.decode_stats(images).collect()
    fkau = synth.encode_audio(np.array([7], dtype=np.uint64), 16, 16000)[0]
    audio = spark.createDataFrame(
        pd.DataFrame({"audio_id": ["ok", "cut"], "bytes": [fkau, fkau[:-6]]})
    )
    with pytest.raises(PythonException, match="cut: FKAU payload of 26 bytes .* is not 16 16-bit samples"):
        multimodal.audio_stats(audio).collect()


def test_frame_sample_video_payloads(spark):
    """Multi-frame payloads: sample every 2nd frame, each emitted as a
    valid lossless single-frame blob with the right pixels."""
    import pandas as pd

    # build 4-frame 'videos' (4·(4·4·3) pixel bytes) from the pixel rule
    ph = np.array([11, 22, 33], dtype=np.uint64)
    px = synth.pixels_for_phash(ph, 4, 16)  # 4*16*3 = 192 = 4 frames of 4x4x3
    header = bytes(synth.MAGIC) + bytes([0]) + (4).to_bytes(2, "big") + (4).to_bytes(2, "big")
    vids = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [f"vid{i}" for i in range(3)],
                "bytes": [header + row.tobytes() for row in px],
            }
        )
    )
    out = multimodal.frame_sample(vids, every_nth=2).collect()
    assert len(out) == 3 * 2  # frames 0 and 2 of each video
    for r in out:
        fmt, w, h, pxr = multimodal.decode_blob(bytes(r.bytes))
        assert (w, h) == (4, 4) and len(pxr) == 48
        src = synth.pixels_for_phash(np.array([ph[int(r.image_id[3:])]]), 4, 16)[0]
        fi = r.frame_idx
        assert (pxr == src[fi * 48:(fi + 1) * 48]).all()


def test_wav_zero_sample_rate_rejected():
    """r6 ADVICE fix: a malformed WAV declaring sample_rate=0 must be
    rejected by _wav_decode (one bad row), not crash the whole batch
    with ZeroDivisionError later in audio_stats."""
    import pytest

    blob = bytearray(_make_wav([5, -5, 9], sr=8000))
    # fmt chunk starts at byte 12 (RIFF hdr) + 8 (chunk hdr); the
    # sample-rate field sits 4 bytes into the fmt body
    blob[24:28] = (0).to_bytes(4, "little")
    with pytest.raises(ValueError, match="sr=0"):
        multimodal.decode_audio_blob(bytes(blob))
