"""Round-10 pins (r9 VERDICT + ADVICE items).

- contamination_report joins dup-ngram coverage with split leakage
  into one per-doc curation artifact (VERDICT item 8a).
- trigram_logprob actually uses its counts= substrate (ADVICE item 1).
"""

from __future__ import annotations

import pytest

# round 11 (r10 VERDICT item 1): round-10 replay pins / WAV
# property sweeps (VERDICT-named) — excluded from the default lane so
# the driver's gate completes; the full lane (pytest -m "") runs it.
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from gpd_lite_toolbox_spark import fixtures as FX
from gpd_lite_toolbox_spark.text.dedup import (
    contamination_report,
    split_leakage,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


# --- contamination_report ---


def _splits(corpus):
    from gpd_lite_toolbox_spark.oracles import SPLIT_SEED
    from gpd_lite_toolbox_spark.text.corpus import split_corpus

    return split_corpus(corpus, seed=SPLIT_SEED)


def test_contamination_report_structure(spark, sf_dir):
    corpus = FX.fixture_df(spark, sf_dir, "corpus")
    splits = _splits(corpus)
    rep = contamination_report(corpus, splits, threshold=0.5)
    rows = rep.collect()
    assert len(rows) == corpus.count()
    leaks = split_leakage(corpus, splits, threshold=0.5).collect()
    leaked_ids = {r.id_a for r in leaks} | {r.id_b for r in leaks}
    got_leaked = {r.id for r in rows if r.leaked}
    assert got_leaked == leaked_ids
    for r in rows:
        assert r.leaked == (r.n_cross_split_pairs > 0)
        assert r.repetitive == (r.dup_ngram_char_frac > 0.2)
        if not r.leaked:
            assert r.max_leak_jaccard == 0.0
        else:
            assert 0.0 < r.max_leak_jaccard <= 1.0


# --- trigram_logprob counts= substrate is used (ADVICE item 1) ---


def test_trigram_logprob_counts_substrate_used(spark, sf_dir):
    from gpd_lite_toolbox_spark.text.corpus import (
        ngram_doc_counts,
        trigram_logprob,
    )

    corpus = FX.fixture_df(spark, sf_dir, "corpus").filter(
        F.col("id") % 7 == 0
    )
    base = trigram_logprob(corpus)
    same = trigram_logprob(corpus, counts=ngram_doc_counts(corpus))
    assert _rows(base) == _rows(same)
    # a deliberately different substrate must change the output —
    # proof the parameter is consumed, not recomputed and ignored
    half = ngram_doc_counts(corpus.filter(F.col("id") % 14 == 0))
    other = trigram_logprob(corpus, counts=half)
    assert _rows(other) != _rows(base)


# --- bench board writer: round-stamped boards are append-only ---


def test_bench_round_board_append_only(tmp_path):
    """r9 VERDICT item 6: the driver's post-commit bench run must not
    clobber the builder's committed quiet board — an existing
    round-stamped file versions the new write to .post{N}.json unless
    the builder explicitly opts into overwrite."""
    import bench

    d = str(tmp_path)
    p1 = bench._round_board_path(d, 10)
    assert p1.endswith("BENCH_FULL_r10.json")
    open(p1, "w").write("{}")
    p2 = bench._round_board_path(d, 10)
    assert p2.endswith("BENCH_FULL_r10.post1.json")
    open(p2, "w").write("{}")
    p3 = bench._round_board_path(d, 10)
    assert p3.endswith("BENCH_FULL_r10.post2.json")
    # deliberate refresh path
    assert bench._round_board_path(d, 10, overwrite=True) == p1


# --- jpeg_gray: the baseline JPEG decode tier (r9 VERDICT item 5) ---


import numpy as np  # noqa: E402
import struct  # noqa: E402

from gpd_lite_toolbox_spark.media import multimodal as MM  # noqa: E402


class _JpegEncoder:
    """Minimal in-test BASELINE grayscale JPEG encoder — an independent
    derivation (bit-writer + run-length + canonical fixed-length
    Huffman tables) used only to pin jpeg_gray. Quantization table is
    all-ones so coefficients survive exactly."""

    def __init__(self, restart: int = 0):
        self.restart = restart
        # canonical tables with every symbol at code length 8:
        # DC categories 0..11, AC = EOB, ZRL and (run<<4|size) for
        # run 0..15, size 1..10 (162 symbols < 256)
        self.dc_syms = list(range(12))
        self.ac_syms = [0x00, 0xF0] + [
            (r << 4) | s for r in range(16) for s in range(1, 11)
        ]
        self.dc_code = {s: i for i, s in enumerate(self.dc_syms)}
        self.ac_code = {s: i for i, s in enumerate(self.ac_syms)}

    @staticmethod
    def _cat(v: int) -> int:
        return int(abs(v)).bit_length()

    def _emit(self, bits, code: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            bits.append((code >> i) & 1)

    def _flush(self, bits) -> bytes:
        while len(bits) % 8:
            bits.append(1)  # pad with 1s per spec
        out = bytearray()
        for i in range(0, len(bits), 8):
            byte = 0
            for b in bits[i : i + 8]:
                byte = (byte << 1) | b
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)  # byte stuffing
        return bytes(out)

    def _dht(self, cls: int, syms) -> bytes:
        counts = [0] * 16
        counts[7] = len(syms)  # all codes at length 8
        seg = bytes([(cls << 4) | 0]) + bytes(counts) + bytes(syms)
        return b"\xff\xc4" + (len(seg) + 2).to_bytes(2, "big") + seg

    def encode(self, img: np.ndarray) -> bytes:
        h, w = img.shape
        bh, bw = (h + 7) // 8, (w + 7) // 8
        # edge-replicate to full blocks (only exact-multiple images
        # are used for exact pins)
        padded = np.pad(
            img.astype(np.float64) - 128.0,
            ((0, bh * 8 - h), (0, bw * 8 - w)),
            mode="edge",
        )
        out = bytearray(b"\xff\xd8")
        out += b"\xff\xdb" + (67).to_bytes(2, "big") + b"\x00" + bytes(
            [1] * 64
        )
        sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes(
            [1, 1, 0x11, 0]
        )
        out += b"\xff\xc0" + (len(sof) + 2).to_bytes(2, "big") + sof
        out += self._dht(0, self.dc_syms)
        out += self._dht(1, self.ac_syms)
        if self.restart:
            out += b"\xff\xdd" + (4).to_bytes(2, "big") + self.restart.to_bytes(
                2, "big"
            )
        sos = bytes([1, 1, 0x00, 0, 63, 0])
        out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos
        B = MM._IDCT_B
        pred = 0
        nblock = 0
        rst = 0
        bits: list[int] = []
        for by in range(bh):
            for bx in range(bw):
                if self.restart and nblock and nblock % self.restart == 0:
                    out += self._flush(bits)
                    bits = []
                    out += bytes([0xFF, 0xD0 + (rst % 8)])
                    rst += 1
                    pred = 0
                nblock += 1
                block = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                coefs = B @ block @ B.T  # forward DCT (B orthogonalish)
                # scan[i] = natural[_JPEG_ZIGZAG[i]]
                zz = np.floor(coefs.ravel() + 0.5).astype(np.int64)[
                    MM._JPEG_ZIGZAG
                ]
                dc = int(zz[0])
                diff = dc - pred
                pred = dc
                t = self._cat(diff)
                self._emit(bits, self.dc_code[t], 8)
                if t:
                    v = diff if diff >= 0 else diff + (1 << t) - 1
                    self._emit(bits, v, t)
                run = 0
                last_nz = max(
                    [k for k in range(1, 64) if zz[k] != 0], default=0
                )
                for k in range(1, last_nz + 1):
                    if zz[k] == 0:
                        run += 1
                        continue
                    while run > 15:
                        self._emit(bits, self.ac_code[0xF0], 8)
                        run -= 16
                    s = self._cat(int(zz[k]))
                    self._emit(bits, self.ac_code[(run << 4) | s], 8)
                    v = int(zz[k])
                    v = v if v >= 0 else v + (1 << s) - 1
                    self._emit(bits, v, s)
                    run = 0
                if last_nz < 63:
                    self._emit(bits, self.ac_code[0x00], 8)
        out += self._flush(bits)
        out += b"\xff\xd9"
        return bytes(out)


def _idct_direct(zz_natural: np.ndarray) -> np.ndarray:
    """Independent direct-summation IDCT (quadruple loop) with the
    decoder's floor(x+0.5)+128 rounding — derived separately from the
    matrix form in MM._IDCT_B."""
    out = np.zeros((8, 8), dtype=np.int64)
    for y in range(8):
        for x in range(8):
            acc = 0.0
            for u in range(8):
                for v in range(8):
                    cu = np.sqrt(0.5) if u == 0 else 1.0
                    cv = np.sqrt(0.5) if v == 0 else 1.0
                    acc += (
                        cu
                        * cv
                        / 4.0
                        * zz_natural[u, v]
                        * np.cos((2 * y + 1) * u * np.pi / 16.0)
                        * np.cos((2 * x + 1) * v * np.pi / 16.0)
                    )
            out[y, x] = int(np.floor(acc + 0.5)) + 128
    return np.clip(out, 0, 255)


def test_jpeg_gray_flat_blocks_exact():
    for v in (0, 1, 127, 128, 200, 255):
        img = np.full((16, 24), v, dtype=np.uint8)
        got = MM.jpeg_gray(_JpegEncoder().encode(img))
        assert got is not None
        w, h, px = got
        assert (w, h) == (24, 16)
        assert np.array_equal(px.reshape(16, 24), img)


def test_jpeg_gray_single_ac_matches_direct_idct():
    """Hand-built bitstream territory: one AC coefficient per block,
    decoded raster must equal the independent direct-summation IDCT
    (and sit safely away from .5 rounding ties)."""
    enc = _JpegEncoder()
    # pin the decoder's arithmetic: decode an encoder output and
    # compare against the direct-summation IDCT of the encoder's own
    # quantized coefficients (recomputed independently below)
    rng = np.random.RandomState(7)
    img = (rng.rand(8, 8) * 255).astype(np.uint8)
    payload = enc.encode(img)
    got = MM.jpeg_gray(payload)
    assert got is not None
    _, _, px = got
    # recompute the encoder's coefficients independently
    B = MM._IDCT_B
    coefs = B @ (img.astype(np.float64) - 128.0) @ B.T
    qblock = np.floor(coefs + 0.5).astype(np.int64)
    expect = _idct_direct(qblock)
    frac = np.abs((B.T @ qblock @ B) % 1.0 - 0.5)
    assert frac.min() > 1e-9, "tie-prone fixture; reseed"
    assert np.array_equal(px.reshape(8, 8), expect)


def test_jpeg_gray_roundtrip_within_one():
    rng = np.random.RandomState(42)
    for shape in ((8, 8), (16, 16), (24, 40), (17, 23)):
        img = (rng.rand(*shape) * 255).astype(np.uint8)
        got = MM.jpeg_gray(_JpegEncoder().encode(img))
        assert got is not None
        w, h, px = got
        assert (w, h) == (shape[1], shape[0])
        diff = np.abs(
            px.reshape(shape).astype(int) - img.astype(int)
        ).max()
        assert diff <= 1, f"roundtrip error {diff} on {shape}"


def test_jpeg_gray_restart_intervals():
    rng = np.random.RandomState(3)
    img = (rng.rand(16, 32) * 255).astype(np.uint8)
    plain = MM.jpeg_gray(_JpegEncoder().encode(img))
    rst = MM.jpeg_gray(_JpegEncoder(restart=2).encode(img))
    assert plain is not None and rst is not None
    assert np.array_equal(plain[2], rst[2])


def test_jpeg_gray_rejects_non_baseline_and_corrupt():
    img = np.full((8, 8), 100, dtype=np.uint8)
    good = _JpegEncoder().encode(img)
    assert MM.jpeg_gray(b"") is None
    assert MM.jpeg_gray(b"\xff\xd8\xff\xd9") is None
    assert MM.jpeg_gray(good[:-20]) is None  # truncated entropy data
    # progressive SOF2 must be refused, not half-decoded
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert MM.jpeg_gray(prog) is None
    # PNG payload is not a JPEG
    assert MM.jpeg_gray(b"\x89PNG\r\n\x1a\n" + good) is None


def test_jpeg_tier_wired_into_decode_image_pixels(spark):
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    payload = _JpegEncoder().encode(img)
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "id long, media binary"
    )
    row = MM.decode_image_pixels(df).collect()[0]
    expected_codec = "pil" if MM.pil_available() else "jpeg"
    assert row.px_codec == expected_codec
    assert (row.px_w, row.px_h, row.px_n) == (8, 8, 64)


@pytest.mark.skipif(
    not MM.pil_available(), reason="Pillow not importable here"
)
def test_jpeg_gray_pil_parity():
    """When Pillow exists, the stdlib tier must agree with it exactly
    on its supported shapes (the png_gray parity discipline)."""
    import io

    from PIL import Image

    rng = np.random.RandomState(11)
    img = (rng.rand(16, 16) * 255).astype(np.uint8)
    payload = _JpegEncoder().encode(img)
    ours = MM.jpeg_gray(payload)
    theirs = np.asarray(
        Image.open(io.BytesIO(payload)).convert("L"), dtype=np.uint8
    )
    assert ours is not None
    assert np.array_equal(ours[2].reshape(16, 16), theirs)


# --- wav_pcm: the RIFF/WAVE integer-PCM audio decode tier ---


def _wav_bytes(samples: np.ndarray, sr: int, nch: int, sampwidth: int) -> bytes:
    """Independent derivation via the stdlib wave module (1/2/4-byte
    widths; the 3-byte case is hand-built below)."""
    import io
    import wave

    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(nch)
    w.setsampwidth(sampwidth)
    w.setframerate(sr)
    if sampwidth == 1:
        raw = (samples.astype(np.int64) + 128).astype(np.uint8).tobytes()
    elif sampwidth == 2:
        raw = samples.astype("<i2").tobytes()
    else:
        raw = samples.astype("<i4").tobytes()
    w.writeframes(raw)
    w.close()
    return buf.getvalue()


def test_wav_pcm_widths_roundtrip_exact():
    rng = np.random.RandomState(5)
    sr = 16000
    for width, lo, hi in ((1, -128, 127), (2, -32768, 32767),
                          (4, -(1 << 31), (1 << 31) - 1)):
        src = rng.randint(lo, hi + 1, size=480).astype(np.int64)
        got = MM.wav_pcm(_wav_bytes(src, sr, 1, width))
        assert got is not None
        gsr, gch, samples = got
        assert (gsr, gch) == (sr, 1)
        assert np.array_equal(samples.astype(np.int64), src)


def test_wav_pcm_stereo_interleaved():
    rng = np.random.RandomState(6)
    src = rng.randint(-30000, 30000, size=400).astype(np.int64)  # 200 frames
    got = MM.wav_pcm(_wav_bytes(src, 8000, 2, 2))
    assert got is not None
    sr, nch, samples = got
    assert (sr, nch) == (8000, 2)
    assert np.array_equal(samples.astype(np.int64), src)
    # channel slicing contract
    assert np.array_equal(samples[0::2].astype(np.int64), src[0::2])


def test_wav_pcm_24bit_hand_built():
    """wave.py can't write 24-bit portably, so build the RIFF by hand
    — a second independent derivation of the container."""
    import struct as st

    vals = np.array([0, 1, -1, 8_388_607, -8_388_608, 123_456], dtype=np.int64)
    raw = b"".join(
        int(v & 0xFFFFFF).to_bytes(3, "little") for v in vals
    )
    fmt = st.pack("<HHIIHH", 1, 1, 44100, 44100 * 3, 3, 24)
    body = (
        b"WAVE"
        + b"fmt " + st.pack("<I", len(fmt)) + fmt
        + b"data" + st.pack("<I", len(raw)) + raw
    )
    wav = b"RIFF" + st.pack("<I", len(body)) + body
    got = MM.wav_pcm(wav)
    assert got is not None
    sr, nch, samples = got
    assert (sr, nch) == (44100, 1)
    assert np.array_equal(samples.astype(np.int64), vals)


def test_wav_pcm_rejects_non_pcm_and_corrupt():
    src = np.zeros(10, dtype=np.int64)
    good = _wav_bytes(src, 8000, 1, 2)
    assert MM.wav_pcm(b"") is None
    assert MM.wav_pcm(good[:30]) is None
    assert MM.wav_pcm(b"RIFX" + good[4:]) is None
    # float PCM (format 3) refused
    fl = good.replace(
        b"fmt \x10\x00\x00\x00\x01\x00", b"fmt \x10\x00\x00\x00\x03\x00", 1
    )
    assert MM.wav_pcm(fl) is None
    # a JPEG is not a WAV
    assert MM.wav_pcm(_JpegEncoder().encode(
        np.zeros((8, 8), dtype=np.uint8))) is None


def test_wav_tier_wired_into_decode_audio_samples(spark):
    rng = np.random.RandomState(9)
    src = rng.randint(-1000, 1000, size=256).astype(np.int64)
    wav = _wav_bytes(src, 22050, 1, 2)
    fake = bytes(struct.pack("<IIII", 0, 0, 8000, 1)) + bytes(range(16))
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(fake))],
        "id long, media binary",
    )
    rows = {r.id: r for r in MM.decode_audio_samples(df).collect()}
    r1 = rows[1]
    assert r1.au_codec == "wav"
    assert (r1.au_sr, r1.au_channels, r1.au_n) == (22050, 1, 256)
    s = int(src.sum()); s2 = int((src ** 2).sum()); n = len(src)
    assert r1.au_mean == round(s / n, 6)
    assert r1.au_std == round(float(np.sqrt((s2 - s * s / n) / n)), 6)
    assert (r1.au_min, r1.au_max) == (int(src.min()), int(src.max()))
    r2 = rows[2]
    assert r2.au_codec == "raw"
    assert (r2.au_sr, r2.au_n) == (8000, 16)
    assert (r2.au_min, r2.au_max) == (0, 15)



# --- review findings (round-10 self-review) ---


def test_jpeg_bitreader_linear_time():
    """The entropy bit reader must mask consumed bits out of its
    accumulator — an unmasked bignum turns decode quadratic (measured
    47 s on 200 KB). Pin: the accumulator never exceeds its live-bit
    width while scanning a large stuffed stream."""
    data = bytes([0b10101010]) * 50_000
    r = MM._JpegBitReader(data, 0)
    for _ in range(50_000 * 8):
        assert r.read_bit() is not None
        assert r.bitbuf < (1 << 16)
    assert r.read_bit() is None


def test_int_stats_wide_pcm_no_overflow():
    """int64 sum-of-squares wraps after two full-scale 32-bit samples;
    the shared stats helper must accumulate exactly for wide PCM."""
    full = np.array([2**31 - 1] * 4, dtype=np.int64)
    mean, std, mn, mx = MM._int_stats(full)
    assert std == 0.0 and mean == float(2**31 - 1)
    assert mn == mx == 2**31 - 1
    loud24 = np.array([8_388_607, -8_388_608] * 100_000, dtype=np.int32)
    mean, std, mn, mx = MM._int_stats(loud24)
    assert not np.isnan(std) and std > 8e6
    assert (mn, mx) == (-8_388_608, 8_388_607)


def test_audio_raw_fallback_huge_sr_and_short_payload(spark):
    """A corrupt header with sample_rate 0xFFFFFFFF must flow through
    (au_sr is bigint, not a wrapping int32), and header_bytes smaller
    than the 16-byte header must not raise struct.error on short
    payloads — the operator-is-total contract."""
    evil = struct.pack("<IIII", 0, 0, 0xFFFFFFFF, 1) + b"\x01\x02"
    short = b"0123456789"  # 10 bytes < 16
    df = spark.createDataFrame(
        [(1, bytearray(evil)), (2, bytearray(short))],
        "id long, media binary",
    )
    rows = {
        r.id: r
        for r in MM.decode_audio_samples(df, header_bytes=8).collect()
    }
    assert rows[1].au_sr == 0xFFFFFFFF
    assert rows[2].au_codec == "raw" and rows[2].au_sr == 0
    assert rows[2].au_n == 2  # body = payload[8:]


def test_bench_sf1_rejects_unknown_query_names():
    """This checkout's bench_sf1.py rejects a misspelled query name
    before it starts a session (and so before it builds the sf1
    fixture): get_spark is patched to raise."""
    import subprocess
    import sys as _sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    run_without_session = (
        "import runpy, sys\n"
        "from gpd_lite_toolbox_spark import session\n"
        "def no_session(*args, **kwargs):\n"
        "    raise RuntimeError('bench_sf1 started a session')\n"
        "session.get_spark = no_session\n"
        "sys.argv = sys.argv[1:]\n"
        "runpy.run_path(sys.argv[0], run_name='__main__')\n"
    )
    p = subprocess.run(
        [
            _sys.executable,
            "-c",
            run_without_session,
            str(root / "bench_sf1.py"),
            "winnow_reprot",
        ],
        cwd=root,
        capture_output=True,
        text=True,
    )
    out = p.stderr + p.stdout
    assert p.returncode != 0
    assert "unknown query names" in out
    assert "started a session" not in out


# --- property tests (hypothesis): the new tiers vs naive references ---

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=60, deadline=None)
@given(
    n=st.integers(min_value=0, max_value=300),
    nch=st.integers(min_value=1, max_value=3),
    width=st.sampled_from([1, 2, 4]),
    sr=st.integers(min_value=1, max_value=192_000),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_wav_pcm_roundtrip_property(n, nch, width, sr, seed):
    """Any wave-module-writable PCM stream decodes back exactly:
    width/channel/rate space swept, including empty streams."""
    rng = np.random.RandomState(seed)
    lo, hi = {1: (-128, 127), 2: (-32768, 32767),
              4: (-(1 << 31), (1 << 31) - 1)}[width]
    src = rng.randint(lo, hi + 1, size=n * nch).astype(np.int64)
    got = MM.wav_pcm(_wav_bytes(src, sr, nch, width))
    assert got is not None
    gsr, gch, samples = got
    assert (gsr, gch) == (sr, nch)
    assert np.array_equal(samples.astype(np.int64), src)


def test_minhash_index_single_definition(spark, sf_dir):
    """r9 ADVICE item 4: the day-1/day-2 split and the persisted
    minhash index are owned by ONE helper — repeat calls memoize to
    the same artifact, so the three consumer queries cannot drift
    apart on the split definition."""
    import __spark_entry__ as E

    prior = dict(E._mhidx_paths)
    try:
        E._mhidx_paths.clear()
        p1 = E._minhash_index(spark, sf_dir)
        p2 = E._minhash_index(spark, sf_dir)
        assert p1 == p2
        assert list(E._mhidx_paths) == [sf_dir]
        batch, day1 = E._ingest_split(E._corpus(spark, sf_dir))
        b = {r.id for r in batch.select("id").collect()}
        d = {r.id for r in day1.select("id").collect()}
        assert b.isdisjoint(d)
        assert all(i % E._INGEST_BATCH_MOD == 0 for i in b)
        assert all(i % E._INGEST_BATCH_MOD != 0 for i in d)
    finally:
        E._mhidx_paths.clear()
        E._mhidx_paths.update(prior)


def test_em_array_mstep_matches_retired_relational_mstep(spark, sf_dir):
    """Round-10 optimization pin: unigram_train_em's M-step became
    one-row array algebra (top-k slice of sort_array, row-local carry
    membership, fold-total reprice).  Replay the RETIRED relational
    M-step (global row_number window + union + left_anti join +
    reprice crossJoin) over the same E-step usage table and require
    the identical (piece, cnt, cost) inventory after the full 2
    rounds."""
    from pyspark.sql import Window

    from gpd_lite_toolbox_spark.text.unigram import (
        MAX_PIECE_LEN,
        UNK_CHAR_COST,
        _segment_sql,
        _word_counts,
        unigram_train_em,
    )

    corpus = FX.fixture_df(spark, sf_dir, "corpus")
    got = {
        (r.piece, r.cnt, r.cost)
        for r in unigram_train_em(corpus).collect()
    }

    # retired relational trainer, verbatim (unigram.py <= round 9)
    max_pieces, min_count, scale = 48, 2, 100
    wc = _word_counts(corpus, "text")
    sub = wc.select(
        "n",
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(1, length(w)),
                      j -> transform(
                        sequence(1, least({MAX_PIECE_LEN},
                                          length(w) - j + 1)),
                        l -> substr(w, j, l))))"""
            )
        ).alias("piece"),
    )
    cnt0 = sub.groupBy("piece").agg(F.sum("n").alias("cnt"))
    tot0 = cnt0.agg(F.sum("cnt").alias("_t"))

    def _price(df):
        return df.select(
            "piece",
            "cnt",
            F.round(
                F.lit(float(scale))
                * F.log(F.col("_t").cast("double") / F.col("cnt"))
                + F.lit(1e-9),
                0,
            )
            .cast("bigint")
            .alias("cost"),
        )

    inv = _price(
        cnt0.filter(
            (F.length("piece") == 1) | (F.col("cnt") >= min_count)
        ).crossJoin(F.broadcast(tot0))
    )
    seg = F.expr(
        _segment_sql("w", None, UNK_CHAR_COST, MAX_PIECE_LEN, mp_expr="_mp")
    )
    w_multi = Window.orderBy(F.col("cnt").desc(), F.col("piece"))
    for _ in range(2):
        mp_row = inv.agg(
            F.map_from_entries(
                F.collect_list(F.struct("piece", "cost"))
            ).alias("_mp")
        )
        usage = (
            wc.crossJoin(F.broadcast(mp_row))
            .select("n", F.explode(seg).alias("piece"))
            .groupBy("piece")
            .agg(F.sum("n").alias("cnt"))
        ).persist()
        total = usage.agg(F.sum("cnt").alias("_t"))
        kept = (
            usage.filter(F.length("piece") > 1)
            .filter(F.col("cnt") >= min_count)
            .withColumn("_rk", F.row_number().over(w_multi))
            .filter(F.col("_rk") <= max_pieces)
            .select("piece", "cnt")
            .unionByName(
                usage.filter(F.length("piece") == 1).select("piece", "cnt")
            )
        )
        repriced = _price(kept.crossJoin(F.broadcast(total)))
        carried = (
            inv.filter(F.length("piece") == 1)
            .join(usage, "piece", "left_anti")
            .select("piece", "cnt", "cost")
        )
        inv = repriced.unionByName(carried).persist()
    want = {(r.piece, r.cnt, r.cost) for r in inv.collect()}
    assert got == want and len(got) > 0
