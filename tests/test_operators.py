"""LLM-data operator tests over the driver's documents/embeddings tables."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dask_histogram_spark.operators import (
    brute_force_topk,
    dedup_exact,
    embedding_norms,
    exact_dup_stats,
    fingerprint,
    ivf_topk,
    language_id,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_candidates,
    simhash_signatures,
    text_stats,
    token_counts,
)
from dask_histogram_spark.session import load_tables

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tables(spark):
    return load_tables(spark, SF_DIR, names=("documents", "embeddings", "events"))


@pytest.fixture(scope="module")
def docs_with_dups(spark, tables):
    """documents unioned with a shifted copy of itself -> every doc has
    exactly one exact duplicate."""
    d = tables["documents"]
    n = d.count()
    dup = d.withColumn("doc_id", F.col("doc_id") + F.lit(n))
    return d.unionByName(dup), n


def test_dedup_exact(spark, docs_with_dups):
    df, n = docs_with_dups
    out = dedup_exact(df).collect()
    assert len(out) == n
    assert all(r.n_copies == 2 for r in out)
    # min-id winner: all survivors from the original half
    assert all(r.doc_id < n for r in out)


def test_exact_dup_stats(spark, docs_with_dups):
    df, n = docs_with_dups
    row = exact_dup_stats(df).collect()[0]
    assert row.n_distinct == n
    assert row.n_dup_groups == n
    assert row.n_removable == n


def test_minhash_identical_docs_always_candidates(spark, docs_with_dups):
    df, n = docs_with_dups
    cands = minhash_lsh_candidates(df, num_perm=32, bands=8).collect()
    got = {(r.id_a, r.id_b) for r in cands}
    # identical texts share every band -> must all be candidate pairs
    for i in range(n):
        assert (i, i + n) in got
    full_band = {p for p in cands if p.n_bands == 8}
    assert len(full_band) >= n


def test_minhash_signature_properties(spark, tables):
    d = tables["documents"]
    sigs = minhash_signatures(d, num_perm=16).collect()
    assert all(len(r.sig) == 16 for r in sigs)
    # deterministic across runs
    sigs2 = minhash_signatures(d, num_perm=16).collect()
    assert {r.doc_id: r.sig for r in sigs} == {r.doc_id: r.sig for r in sigs2}


def test_minhash_arrow_column_identical(spark, tables):
    """The Arrow (numpy) permutation-min fold must be bit-identical to
    the pure-Column HOF fold for BOTH hash functions, including the
    short/empty/non-ASCII text edge cases (uint32 wrap arithmetic and
    the ascii('') == 0 rule are replicated exactly)."""
    import random

    from dask_histogram_spark.operators.dedup import _FOLD_BLOCK
    from dask_histogram_spark.operators.dedup import minhash_signatures as ms

    d = tables["documents"]
    edge = spark.createDataFrame(
        [(100001, ""), (100002, "abc"), (100003, "résumé ünïcode")],
        "doc_id long, text string",
    )
    # one Arrow batch spanning several fold blocks, with one document
    # longer than a whole block (blocks split only at doc boundaries)
    rng = random.Random(5)
    lens = [9_000] * 6 + [_FOLD_BLOCK + 5_000] + [3_000] * 4
    blocks = spark.createDataFrame(
        [(200000 + i, "".join(rng.choices("abcdefghij klmnop", k=n)))
         for i, n in enumerate(lens)],
        "doc_id long, text string",
    ).coalesce(1)
    for corpus in (d.select("doc_id", "text").unionByName(edge), blocks):
        for hf in ("fnv1a32", "xxhash64"):
            arrow = {r.doc_id: list(r.sig)
                     for r in ms(corpus, num_perm=16, hash_fn=hf,
                                 method="arrow").collect()}
            column = {r.doc_id: list(r.sig)
                      for r in ms(corpus, num_perm=16, hash_fn=hf,
                                  method="column").collect()}
            assert arrow == column


def test_fnv_batch_kernel_matches_per_doc():
    """The batched shingle kernel (one encode + k slice-shifted fold
    passes over the whole Arrow batch, boundary windows gathered out)
    must reproduce the per-document kernels bit-for-bit — values AND
    window order — for both hash widths, across the short/empty/
    unicode/astral-plane edge cases (utf-32 code points, uintN wrap)."""
    import numpy as np

    from dask_histogram_spark.operators.dedup import (
        _fnv1a32_shingles_np,
        _fnv1a64_shingles_np,
        _fnv_shingles_flat,
    )

    texts = [
        "", "a", "abcd", "abcde", "abcdef",   # around the k=5 boundary
        "the quick brown fox jumps over the lazy dog",
        "héllo wörld ünïcode ✓ é",
        "𝄞 astral 𝄞 plane",                   # non-BMP code points
        "\n\t  whitespace\r\n", "same same same same",
        "x" * 200,
    ]
    for k in (2, 5, 8):
        for bits, per_doc in ((32, _fnv1a32_shingles_np),
                              (64, _fnv1a64_shingles_np)):
            H, lens = _fnv_shingles_flat(texts, k, bits)
            offs = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=offs[1:])
            for i, t in enumerate(texts):
                ref = per_doc(t, k)
                seg = H[offs[i]:offs[i] + lens[i]]
                assert len(seg) == len(ref), (k, bits, i)
                assert (seg.astype(np.uint64)
                        == ref.astype(np.uint64)).all(), (k, bits, i)


def test_band_explode_sql_matches_column_form(spark, docs_with_dups):
    """_band_explode's one-call F.expr SQL must emit the same rows and
    schema as the Column-builder form it replaced (round 15 — the SQL
    exists only to cut ~100 py4j round-trips per plan build), on BOTH
    hash paths (raw fnv1a32 value strings and xxhash64 bucket keys)."""
    from dask_histogram_spark.operators.dedup import (
        _band_explode,
        minhash_signatures,
    )

    df, _ = docs_with_dups
    for hash_fn in ("fnv1a32", "xxhash64"):
        sigs = minhash_signatures(df, "text", "doc_id", 32, 5, 17, hash_fn)
        r = 4

        def key(b):
            joined = F.concat_ws(",", *[
                F.col("sig")[b * r + j].cast("string") for j in range(r)])
            return joined if hash_fn == "fnv1a32" else F.xxhash64(joined)

        ref = sigs.select(
            F.col("doc_id"),
            F.explode(F.array(*[
                F.struct(F.lit(b).alias("band"), key(b).alias("bucket"))
                for b in range(8)])).alias("bb"),
        ).select("doc_id", "bb.band", "bb.bucket")
        got = _band_explode(sigs, "doc_id", 32, 8, hash_fn)
        assert got.schema == ref.schema, hash_fn
        assert (got.orderBy("doc_id", "band").collect()
                == ref.orderBy("doc_id", "band").collect()), hash_fn


def test_minhash_lsh_stats_matches_candidates(spark, docs_with_dups):
    """The single-shuffle stats operator must agree with the join-based
    candidate operator it profiles: n_pairs_capped == the distinct pair
    count under the same max_bucket cap, sum_bands == the sum of
    n_bands over the UNCAPPED candidate set, and the bucket statistics
    match a direct groupBy over the band-bucket membership."""
    from dask_histogram_spark.operators import (
        minhash_banded,
        minhash_lsh_stats,
    )

    df, n = docs_with_dups
    row = minhash_lsh_stats(df, num_perm=32, bands=8, max_bucket=8).collect()[0]
    capped = minhash_lsh_candidates(df, num_perm=32, bands=8, max_bucket=8)
    n_capped = capped.count()
    uncapped = minhash_lsh_candidates(df, num_perm=32, bands=8)
    sum_bands = uncapped.agg(F.sum("n_bands")).collect()[0][0]
    sizes = (minhash_banded(df, num_perm=32, bands=8)
             .groupBy("band", "bucket").agg(F.count("doc_id").alias("n"))
             .agg(F.count(F.lit(1)).alias("n_buckets"),
                  F.max("n").alias("max_bucket_size"),
                  F.sum((F.col("n") > 8).cast("long"))
                  .alias("n_capped_buckets"))
             .collect()[0])
    assert row.n_pairs_capped == n_capped
    assert row.sum_bands == sum_bands
    assert row.n_buckets == sizes.n_buckets
    assert row.max_bucket_size == sizes.max_bucket_size >= 2
    assert row.n_capped_buckets == sizes.n_capped_buckets


def test_ngram_jaccard_exact_dups_score_one(spark, docs_with_dups):
    df, n = docs_with_dups
    pairs = ngram_jaccard_pairs(df, k=8, threshold=0.99).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    for i in range(n):
        assert got.get((i, i + n)) == pytest.approx(1.0)


def test_simhash_dups_distance_zero(spark, docs_with_dups):
    df, n = docs_with_dups
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(df).collect()}
    for i in range(n):
        assert sigs[i] == sigs[i + n]
    cands = simhash_candidates(df, max_hamming=0).collect()
    got = {(r.id_a, r.id_b) for r in cands}
    for i in range(n):
        assert (i, i + n) in got


def test_brute_force_topk_matches_numpy(spark, tables):
    emb = tables["embeddings"]
    queries = emb.where(F.col("vec_id") < 3)
    out = brute_force_topk(emb, queries, k=5).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    ids = sorted(vecs)
    M = np.stack([vecs[i] for i in ids])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    for q in range(3):
        sims = Mn @ Mn[ids.index(q)]
        order = [
            ids[j]
            for j in sorted(
                range(len(ids)),
                key=lambda j: (-round(sims[j], 6), ids[j]),
            )
            if ids[j] != q
        ][:5]
        got = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)
               if r.query_id == q]
        assert got == order


def test_ivf_topk_recall(spark, tables):
    emb = tables["embeddings"]
    queries = emb.where(F.col("vec_id") < 3)
    rng = np.random.default_rng(0)
    vecs = np.stack([np.array(r.embedding) for r in emb.collect()])
    centroids = vecs[rng.choice(len(vecs), size=4, replace=False)]
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = ivf_topk(emb, queries, centroids, k=5, nprobe=2).collect()
    # sanity: right shape, sane scores; recall>0 vs exact
    by_q_exact = {q: {r.neighbor_id for r in exact if r.query_id == q} for q in range(3)}
    by_q_approx = {q: {r.neighbor_id for r in approx if r.query_id == q} for q in range(3)}
    for q in range(3):
        assert len(by_q_approx[q]) <= 5
        assert len(by_q_exact[q] & by_q_approx[q]) >= 1


def test_embedding_norms(spark, tables):
    emb = tables["embeddings"]
    out = embedding_norms(emb).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    for r in out[:10]:
        assert r.dim == 64
        assert r.l2_norm == pytest.approx(np.linalg.norm(vecs[r.vec_id]), abs=1e-5)


def test_token_counts_and_stats(spark, tables):
    d = tables["documents"]
    tc = {r.doc_id: r for r in token_counts(d).collect()}
    raw = {r.doc_id: r.text for r in d.collect()}
    for i, text in list(raw.items())[:10]:
        assert tc[i].n_tokens == len(text.split())
        assert tc[i].n_chars == len(text)
    st = text_stats(d).collect()
    for r in st:
        assert 0 <= r.stopword_ratio <= 1
        assert 0 <= r.punct_ratio <= 1
    # ratio direction (regression: these were inverted once): a known
    # string decomposes exactly
    spark2 = d.sparkSession
    probe = spark2.createDataFrame([(1, "AB12. xyz")], "doc_id LONG, text STRING")
    r = text_stats(probe).collect()[0]
    assert r.digit_ratio == pytest.approx(2 / 9)
    assert r.upper_ratio == pytest.approx(2 / 9)
    assert r.punct_ratio == pytest.approx(1 / 9)
    assert r.non_ascii_ratio == 0.0


def test_quality_score_gates(spark, tables):
    from dask_histogram_spark.operators import quality_score

    d = tables["documents"]
    rows = quality_score(d).collect()
    assert len(rows) == d.count()
    for r in rows:
        assert 0 <= r.quality_score <= 5
        assert r.keep == int(r.quality_score >= 4)
    # a degenerate doc scores low on length/token gates
    probe = spark.createDataFrame([(1, "hi")], "doc_id LONG, text STRING")
    r = quality_score(probe).collect()[0]
    assert r.quality_score <= 3 and r.keep == 0


def test_language_id_deterministic(spark, tables):
    d = tables["documents"]
    out1 = {r.doc_id: r.pred_lang for r in language_id(d).collect()}
    out2 = {r.doc_id: r.pred_lang for r in language_id(d).collect()}
    assert out1 == out2
    assert set(out1.values()) <= {"en", "de", "fr", "es", "unknown"}


def test_fingerprint_order_insensitive(spark, tables):
    d = tables["documents"]
    fp = {r.doc_id: r.fingerprint for r in fingerprint(d).collect()}
    # shuffled-token copy has the same fingerprint (sorted-token hash)
    shuffled = d.select(
        "doc_id",
        F.concat_ws(" ", F.reverse(F.split(F.col("text"), r"\s+"))).alias("text"),
    )
    fp2 = {r.doc_id: r.fingerprint for r in fingerprint(shuffled).collect()}
    assert fp == fp2


def test_multimodal_plumbing(spark, tables):
    from dask_histogram_spark.operators.multimodal import (
        attach_fake_media,
        decode_image_features,
        sample_audio_frames,
    )

    d = tables["documents"].limit(20)
    m = attach_fake_media(d)
    feats = decode_image_features(m).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r.feat) == 12
        assert 0 <= r.mean_r <= 255
    frames = sample_audio_frames(m.limit(5)).collect()
    assert {r.doc_id for r in frames} == {r.doc_id for r in m.limit(5).collect()}
    assert all(0 <= r.rms <= 1 for r in frames)


def test_multimodal_decoder_seam_contract(spark, tables):
    """Round-8 VERDICT #6: a user-supplied decoder callable slots into
    the decode operators UNCHANGED — same output schema, same batch
    plumbing, decoder ships in the closure; only pixel/sample values
    change.  This pins the swap-in contract a real-deployment decoder
    relies on."""
    from dask_histogram_spark.operators.multimodal import (
        attach_fake_media,
        decode_image_features,
        sample_audio_frames,
    )

    # closures, not module-level functions: cloudpickle ships them by
    # VALUE, exactly how a user-supplied wrapper reaches executors
    def _const_image_decoder(payload, width, height):
        import numpy as np

        v = payload[0] % 200
        return np.full((height, width, 3), v, dtype=np.uint8)

    def _const_wave_decoder(payload):
        import numpy as np

        return np.full(16000, 0.5, dtype=np.float32)

    m = attach_fake_media(tables["documents"].limit(10))
    stub = decode_image_features(m)
    custom = decode_image_features(m, decoder=_const_image_decoder)
    # identical schema, identical row set, identical meta passthrough
    assert custom.schema == stub.schema
    rows = {r.doc_id: r for r in custom.collect()}
    meta = {r.doc_id: r.media_meta for r in m.collect()}
    payloads = {r.doc_id: bytes(r.media) for r in m.collect()}
    assert set(rows) == set(meta)
    for did, r in rows.items():
        assert (r.width, r.height) == (meta[did]["width"],
                                       meta[did]["height"])
        v = float(payloads[did][0] % 200)
        # constant image -> every channel mean and feature == v exactly
        assert r.mean_r == r.mean_g == r.mean_b == v
        assert len(r.feat) == 12 and all(f == v for f in r.feat)

    aud = sample_audio_frames(m.limit(3), decoder=_const_wave_decoder)
    arows = aud.collect()
    # constant 0.5 wave -> rms exactly 0.5; 4 frames per 16k clip at
    # the default frame_len=400 / hop=4000
    assert all(r.rms == 0.5 for r in arows)
    assert len(arows) == 3 * 4


def test_wav_decoder_real_codec(spark, tables):
    """wav_decoder is a REAL codec through the seam (round-12 VERDICT
    #7): RIFF/WAVE PCM bytes — encoded by the stdlib ``wave`` writer,
    the authoritative encoder, so the check is not self-referential —
    decode back to the exact int16 waveform, and running the Spark
    frame sampler with decoder=wav_decoder over a binary WAV column
    yields RMS values equal to numpy computed directly from the PCM."""
    import io
    import wave as wavelib

    from dask_histogram_spark.operators.multimodal import (
        sample_audio_frames,
        wav_decoder,
    )

    def make_wav(seed: int, n: int = 16000, nch: int = 1) -> tuple:
        rng = np.random.default_rng(seed)
        pcm = rng.integers(-32768, 32767, size=n * nch,
                           dtype=np.int16)
        buf = io.BytesIO()
        with wavelib.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(2)
            w.setframerate(16000)
            w.writeframes(pcm.tobytes())
        return buf.getvalue(), pcm

    # exact unit decode: mono int16 round-trip
    payload, pcm = make_wav(1)
    got = wav_decoder(payload)
    np.testing.assert_array_equal(got, pcm.astype(np.float32) / 32768.0)
    # stereo averages to mono
    payload2, pcm2 = make_wav(2, n=800, nch=2)
    got2 = wav_decoder(payload2)
    want2 = (pcm2.reshape(-1, 2).astype(np.float64) / 32768.0).mean(
        axis=1).astype(np.float32)
    np.testing.assert_allclose(got2, want2, rtol=0, atol=1e-7)
    # 24-bit PCM (no 3-byte numpy dtype — the sign-extension path),
    # again via the authoritative stdlib encoder
    rng = np.random.default_rng(3)
    vals = rng.integers(-(2**23), 2**23 - 1, size=1000, dtype=np.int32)
    raw24 = b"".join(int(v).to_bytes(3, "little", signed=True)
                     for v in vals)
    buf = io.BytesIO()
    with wavelib.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(3)
        w.setframerate(16000)
        w.writeframes(raw24)
    got3 = wav_decoder(buf.getvalue())
    np.testing.assert_array_equal(
        got3, (vals.astype(np.float64) / 8388608.0).astype(np.float32))

    # end-to-end through the Spark seam: real WAV bytes in a binary
    # column, frame RMS == numpy ground truth per (clip, frame)
    clips = [(i, *make_wav(100 + i)) for i in range(6)]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b, _ in clips],
        "doc_id long, media binary")
    rows = sample_audio_frames(df, decoder=wav_decoder).collect()
    truth = {}
    for i, _, pcm in clips:
        w = pcm.astype(np.float32) / 32768.0
        starts = np.arange(0, len(w) - 400, 4000)
        frames = w[starts[:, None] + np.arange(400)]
        for j, r in enumerate(
                np.sqrt((frames.astype(np.float64) ** 2).mean(axis=1))):
            truth[(i, j)] = r
    assert len(rows) == len(truth) == 6 * 4
    for r in rows:
        assert r.rms == pytest.approx(truth[(r.doc_id, r.frame_idx)],
                                      rel=0, abs=1e-12)


def _png_chunk(typ: bytes, body: bytes) -> bytes:
    """Spell out one PNG chunk from the public W3C spec (length +
    type + body + CRC32 of type||body) — written here independently
    of png_encoder so the golden fixtures do not share code with the
    implementation under test."""
    import struct
    import zlib

    return (struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF))


def _png_bytes(w, h, depth, ctype, scanlines: bytes,
               plte: bytes | None = None) -> bytes:
    import struct
    import zlib

    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0))
    if plte is not None:
        out += _png_chunk(b"PLTE", plte)
    return out + _png_chunk(b"IDAT", zlib.compress(scanlines)) \
        + _png_chunk(b"IEND", b"")


def test_png_decoder_golden_fixtures(spark):
    """png_decoder against HAND-BUILT spec-literal fixtures: every
    byte below is written out from the public W3C PNG spec (chunk
    layout, filter semantics) with pixels small enough to verify by
    eye — the decoder's authority, since the container has no image
    codec and stdlib no image encoder (the WAV precedent used the
    stdlib wave writer; PNG substitutes hand-derived bytes + the
    independent numpy re-encoder round-trip in the next test)."""
    from dask_histogram_spark.operators.multimodal import png_decoder

    # 2x2 RGB, filter 0 on both rows: red green / blue white
    scan = (b"\x00" + bytes([255, 0, 0, 0, 255, 0])
            + b"\x00" + bytes([0, 0, 255, 255, 255, 255]))
    got = png_decoder(_png_bytes(2, 2, 8, 2, scan))
    want = np.array([[[255, 0, 0], [0, 255, 0]],
                     [[0, 0, 255], [255, 255, 255]]], np.uint8)
    np.testing.assert_array_equal(got, want)

    # 1x1 grayscale value 7 -> replicated to RGB
    got = png_decoder(_png_bytes(1, 1, 8, 0, b"\x00\x07"))
    np.testing.assert_array_equal(got, np.full((1, 1, 3), 7, np.uint8))

    # 2x2 palette: indices [[0,1],[2,3]] into a 4-entry PLTE
    plte = bytes([10, 20, 30,  40, 50, 60,  70, 80, 90,  1, 2, 3])
    scan = b"\x00\x00\x01" + b"\x00\x02\x03"
    got = png_decoder(_png_bytes(2, 2, 8, 3, scan, plte=plte))
    want = np.array([[[10, 20, 30], [40, 50, 60]],
                     [[70, 80, 90], [1, 2, 3]]], np.uint8)
    np.testing.assert_array_equal(got, want)

    # 3x1-wide filter arithmetic by hand:
    #   row0 Sub(1):  raw 5, 3, 250 -> rec 5, 8, (258&255)=2
    #   row1 Up(2):   raw 10, 20, 30 -> rec 15, 28, 32
    #   row2 Avg(3):  raw 4, 6, 8 -> rec 4+((0+15)>>1)=11,
    #                 6+((11+28)>>1)=25, 8+((25+32)>>1)=36
    #   row3 Paeth(4): raw 1, 1, 1; a=left b=up c=up-left
    #     x0: a=0 b=11 c=0  -> p=11 pb=0 -> pred=11 -> 12
    #     x1: a=12 b=25 c=11 -> p=26 pa=14 pb=1 pc=15 -> pred=25 -> 26
    #     x2: a=26 b=36 c=25 -> p=37 pa=11 pb=1 pc=12 -> pred=36 -> 37
    scan = (b"\x01" + bytes([5, 3, 250]) + b"\x02" + bytes([10, 20, 30])
            + b"\x03" + bytes([4, 6, 8]) + b"\x04" + bytes([1, 1, 1]))
    got = png_decoder(_png_bytes(3, 4, 8, 0, scan))
    want_gray = np.array([[5, 8, 2], [15, 28, 32],
                          [11, 25, 36], [12, 26, 37]], np.uint8)
    np.testing.assert_array_equal(got, np.repeat(
        want_gray[:, :, None], 3, axis=2))

    # gray+alpha and RGBA drop alpha
    scan = b"\x00" + bytes([9, 255, 200, 0])  # 2x1 gray+alpha
    got = png_decoder(_png_bytes(2, 1, 8, 4, scan))
    np.testing.assert_array_equal(
        got, np.array([[[9, 9, 9], [200, 200, 200]]], np.uint8))
    scan = b"\x00" + bytes([1, 2, 3, 4])  # 1x1 RGBA
    got = png_decoder(_png_bytes(1, 1, 8, 6, scan))
    np.testing.assert_array_equal(got, np.array([[[1, 2, 3]]], np.uint8))

    # multiple IDAT chunks concatenate into one zlib stream
    import struct
    import zlib
    comp = zlib.compress(b"\x00" + bytes([99, 98, 97]))
    png = (b"\x89PNG\r\n\x1a\n"
           + _png_chunk(b"IHDR",
                        struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
           + _png_chunk(b"IDAT", comp[:3]) + _png_chunk(b"IDAT", comp[3:])
           + _png_chunk(b"IEND", b""))
    np.testing.assert_array_equal(
        png_decoder(png), np.array([[[99, 98, 97]]], np.uint8))


def test_png_decoder_fails_loud(spark):
    """Corrupt/unsupported PNGs must raise named errors, never return
    a garbage image (a silent mis-decode poisons every downstream
    feature of a 100 TB decode stage)."""
    import struct
    import zlib

    from dask_histogram_spark.operators.multimodal import (
        png_decoder, png_encoder)

    blob = png_encoder(np.zeros((2, 2, 3), np.uint8))
    with pytest.raises(ValueError, match="signature"):
        png_decoder(b"GIF89a")
    bad = bytearray(blob)
    bad[-6] ^= 0xFF  # flip a byte inside IEND's CRC
    with pytest.raises(ValueError, match="CRC"):
        png_decoder(bytes(bad))
    with pytest.raises(ValueError, match="IHDR width"):
        png_decoder(blob, width=3, height=2)
    with pytest.raises(ValueError, match="IHDR height"):
        png_decoder(blob, width=2, height=3)
    # interlace flag / 16-bit depth: explicit NotImplementedError
    ihdr16 = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
    png16 = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr16)
             + _png_chunk(b"IDAT", b"x\x9c\x03\x00\x00\x00\x00\x01")
             + _png_chunk(b"IEND", b""))
    with pytest.raises(NotImplementedError, match="bit depth"):
        png_decoder(png16)
    ihdr_i = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 1)
    png_i = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr_i)
             + _png_chunk(b"IEND", b""))
    with pytest.raises(NotImplementedError, match="Adam7"):
        png_decoder(png_i)
    # truncated IDAT stream (length mismatch after inflate)
    short = _png_bytes(2, 2, 8, 2, b"\x00" + bytes(6))  # one row only
    with pytest.raises(ValueError, match="IDAT stream"):
        png_decoder(short)
    # encoder-side fail-loud: palette (type 3) would need a PLTE
    # chunk the encoder never emits — silent success would ship an
    # invalid file (round-14 review)
    with pytest.raises(ValueError, match="palette"):
        png_encoder(np.zeros((2, 2), np.uint8), color_type=3)
    # the documented contract must not leak third-party exception
    # types (round-14 ADVICE): no/empty IDAT -> ValueError (was
    # zlib.error), corrupt zlib stream -> ValueError, out-of-range
    # palette index -> ValueError (was numpy IndexError)
    ihdr_g = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
    no_idat = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr_g)
               + _png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="no IDAT"):
        png_decoder(no_idat)
    garbage = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr_g)
               + _png_chunk(b"IDAT", b"\x00not-zlib\xff")
               + _png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="corrupt IDAT"):
        png_decoder(garbage)
    ihdr_p = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)
    # palette of ONE entry; the single pixel indexes entry 2
    pal_png = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr_p)
               + _png_chunk(b"PLTE", bytes((1, 2, 3)))
               + _png_chunk(b"IDAT", zlib.compress(b"\x00\x02"))
               + _png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="palette index"):
        png_decoder(pal_png)


def test_png_roundtrip_all_filters(spark):
    """Encoder->decoder round-trip over every color type x filter
    type: the encoder is an independent FORWARD implementation of the
    spec's filter math (subtract predictions) while the decoder
    inverts them, so agreement on random images pins both — plus the
    vectorized Sub/Up unfilter paths against the looped Avg/Paeth."""
    from dask_histogram_spark.operators.multimodal import (
        png_decoder, png_encoder)

    rng = np.random.default_rng(42)
    for ch, want_rgb in [
        (1, lambda a: np.repeat(a, 3, axis=2)),
        (2, lambda a: np.repeat(a[:, :, :1], 3, axis=2)),
        (3, lambda a: a),
        (4, lambda a: a[:, :, :3]),
    ]:
        for ft in range(5):
            img = rng.integers(0, 256, size=(11, 23, ch), dtype=np.uint8)
            got = png_decoder(png_encoder(img, filter_type=ft))
            np.testing.assert_array_equal(got, want_rgb(img),
                                          err_msg=f"ch={ch} ft={ft}")
    # the engine-leg shape: closed-form fake image, vectorized filters
    from dask_histogram_spark.operators.multimodal import _fake_decode_rgb
    img = _fake_decode_rgb(b"0123456789abcdef", 512, 384)
    for ft in (0, 1, 2):
        np.testing.assert_array_equal(
            png_decoder(png_encoder(img, filter_type=ft, level=1)), img)


def test_png_through_spark_seam(spark, tables):
    """End-to-end through the REAL-DECODER SEAM: encode the arithmetic
    fake image to real PNG bytes per doc (encode_fake_png_media),
    decode with png_seam_decoder inside mapInPandas — features must
    equal the stub path's bit-for-bit (same closed-form image on both
    sides, so any codec defect surfaces as a feature diff)."""
    from dask_histogram_spark.operators.multimodal import (
        attach_fake_media,
        decode_image_features,
        encode_fake_png_media,
        png_seam_decoder,
    )

    d = tables["documents"].select("doc_id").where("doc_id < 12")
    media = attach_fake_media(d)
    stub = decode_image_features(media).collect()
    png = decode_image_features(encode_fake_png_media(media),
                                decoder=png_seam_decoder).collect()
    srows = {r.doc_id: r for r in stub}
    prows = {r.doc_id: r for r in png}
    assert set(srows) == set(prows) and len(srows) == 12
    for did, s in srows.items():
        p = prows[did]
        assert (s.width, s.height) == (p.width, p.height)
        assert (s.mean_r, s.mean_g, s.mean_b) == (p.mean_r, p.mean_g,
                                                  p.mean_b)
        assert s.feat == p.feat
    # format metadata flipped to image/png by the encoder
    fmts = (encode_fake_png_media(media)
            .select("media_meta.format").distinct().collect())
    assert [r["format"] for r in fmts] == ["image/png"]


def test_windowed_histogram_batch(spark, tables):
    from dask_histogram_spark.spec import HistogramSpec, Regular
    from dask_histogram_spark.streaming import windowed_histogram

    ev = tables["events"]
    spec = HistogramSpec(axes=(Regular(10, 0, 100),))
    out = windowed_histogram(ev, "ts", ["value"], spec, window="1 day")
    rows = out.collect()
    assert rows
    total = sum(r.value for r in rows)
    assert total == ev.count()


def test_embedding_near_dup(spark, tables):
    from dask_histogram_spark.operators import embedding_near_dup_pairs

    emb = tables["embeddings"]
    exact = {(r.id_a, r.id_b): r.cos_sim
             for r in embedding_near_dup_pairs(emb, threshold=0.3, exact=True).collect()}
    lsh = {(r.id_a, r.id_b): r.cos_sim
           for r in embedding_near_dup_pairs(emb, threshold=0.3, planes=8).collect()}
    # LSH candidates are a subset of the exact result, with equal scores
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]
        assert v >= 0.3
    # identical vectors always collide: duplicate the table
    from pyspark.sql import functions as F

    dup = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + 100000))
    n = emb.count()
    pairs = {(r.id_a, r.id_b)
             for r in embedding_near_dup_pairs(dup, threshold=0.999).collect()}
    assert all((i, i + 100000) in pairs for i in range(n))


def test_auto_hyperplane_params_theory():
    """(planes, repetitions) sizing: planes tracks log2(n/occupancy)
    within clamps, and the returned pair meets the recall target under
    the exact hyperplane collision model 1-(1-p^planes)^reps whenever
    repetitions came back unclamped."""
    from math import acos, pi

    from dask_histogram_spark.operators import auto_hyperplane_params

    import pytest

    last_planes = 0
    for n in (100, 10_000, 1_000_000, 10_000_000_000):
        planes, reps = auto_hyperplane_params(n)
        assert 8 <= planes <= 28 and 1 <= reps <= 16
        assert planes >= last_planes  # monotone in corpus size
        last_planes = planes
        # every returned pair meets the recall bound — infeasible
        # combinations raise rather than silently clamp
        p = 1.0 - acos(0.99) / pi
        assert 1.0 - (1.0 - p ** planes) ** reps >= 0.98
    # expected mean occupancy stays at/below target (up to clamping)
    planes, _ = auto_hyperplane_params(2_000_000, target_occupancy=32)
    assert 2_000_000 / 2 ** planes <= 32
    # a looser design cosine needs fewer repetitions, never more
    _, r_tight = auto_hyperplane_params(1_000_000, design_cos=0.99)
    _, r_loose = auto_hyperplane_params(1_000_000, design_cos=0.999)
    assert r_loose <= r_tight
    # a loose design cosine on a huge corpus cannot hold the target
    # within the table budget: must raise with the levers named, like
    # auto_minhash_params (silently clamping would deliver ~68%
    # recall against the 98% target at this point)
    with pytest.raises(ValueError, match="max_repetitions"):
        auto_hyperplane_params(1_000_000_000, design_cos=0.95)


def test_auto_ivf_params_cost_balance():
    """C = sqrt(n * nprobe) balances centroid-scan vs bucket-probe
    work: the returned C is within one rounding step of the
    unconstrained optimum whenever unclamped, and nprobe passes
    through untouched (it is the caller's recall knob — IVF has no
    closed-form recall model)."""
    from math import sqrt

    from dask_histogram_spark.operators import auto_ivf_params

    for n in (1_000, 100_000, 1_000_000):
        c, np_ = auto_ivf_params(n)
        assert np_ == 8
        if 16 < c < 4096:
            opt = sqrt(n * 8)
            # per-query cost C + nprobe*n/C within 1% of the optimum
            assert c + 8 * n / c <= 1.01 * (opt + 8 * n / opt)
    assert auto_ivf_params(10)[0] == 16        # floor clamp
    assert auto_ivf_params(10**10)[0] == 4096  # ceiling clamp
    assert auto_ivf_params(100_000, nprobe=2) == (447, 2)


def test_resolve_hyperplane_sentinel(spark, tables):
    """repetitions=None derives under auto and falls back to 1 under
    fixed planes; an EXPLICIT 1 survives auto mode (the storage-bound
    single-table request must stay expressible)."""
    from dask_histogram_spark.operators.similarity import (
        _resolve_hyperplane_params, auto_hyperplane_params)

    emb = tables["embeddings"]
    n = emb.count()
    auto_planes, auto_reps = auto_hyperplane_params(n, design_cos=0.99)
    assert _resolve_hyperplane_params(emb, "auto", None, 0.99) == (
        auto_planes, auto_reps)
    assert _resolve_hyperplane_params(emb, "auto", 1, 0.99) == (
        auto_planes, 1)
    assert _resolve_hyperplane_params(emb, 16, None, 0.99) == (16, 1)
    assert _resolve_hyperplane_params(emb, 16, 3, 0.99) == (16, 3)


def test_embedding_near_dup_auto_planes(spark, tables):
    """planes='auto' derives (planes, repetitions) from the corpus and
    still finds every identical-vector pair (cos=1 collides in every
    table); scores match the fixed-plane operator exactly (the same
    exact-cosine verify runs on candidates either way)."""
    from pyspark.sql import functions as F

    from dask_histogram_spark.operators import embedding_near_dup_pairs

    emb = tables["embeddings"]
    n = emb.count()
    dup = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + 100000))
    pairs = {(r.id_a, r.id_b): r.cos_sim
             for r in embedding_near_dup_pairs(
                 dup, threshold=0.999, planes="auto").collect()}
    assert all((i, i + 100000) in pairs for i in range(n))
    exact = {(r.id_a, r.id_b): r.cos_sim
             for r in embedding_near_dup_pairs(
                 dup, threshold=0.999, exact=True).collect()}
    assert set(pairs) <= set(exact)
    assert all(exact[k] == v for k, v in pairs.items())


def test_shuffle_scratch_preflight_raises_over_budget(spark):
    """check_shuffle_scratch raises the actionable error when the
    modeled exchange exceeds the free scratch volume, and no-ops when
    the budget is unknown (cluster mode contract)."""
    import pytest
    from unittest.mock import patch

    from dask_histogram_spark.operators import sizing

    with patch.object(sizing, "scratch_budget", return_value=10 * 2**30):
        # 10 GiB free, 20 GiB exchange (x2 safety = 40 GiB) -> raise
        with pytest.raises(RuntimeError) as e:
            sizing.check_shuffle_scratch(
                spark, 20 * 2**30, what="a test shuffle",
                remedies=("do the thing",))
        msg = str(e.value)
        assert "a test shuffle" in msg and "do the thing" in msg
        assert "GiB" in msg
        # under budget -> silent
        sizing.check_shuffle_scratch(spark, 2 * 2**30, what="small")
    # unknown budget (None, cluster mode) -> no-op; a KNOWN-zero
    # budget (volume full) must raise, not pass as unknown
    with patch.object(sizing, "scratch_budget", return_value=None):
        sizing.check_shuffle_scratch(spark, 10**15, what="unknown budget")
    with patch.object(sizing, "scratch_budget", return_value=0):
        with pytest.raises(RuntimeError):
            sizing.check_shuffle_scratch(spark, 1, what="full volume")


def test_embedding_near_dup_scratch_preflight(spark, tables):
    """The in-query band self-join fails FAST with the remedy list
    (explicit repetitions=, the persisted signature table) when the
    modeled exchange cannot fit the scratch volume — instead of dying
    at disk-full mid-join (round-11 10M ladder)."""
    import pytest
    from unittest.mock import patch

    from dask_histogram_spark.operators import embedding_near_dup_pairs
    from dask_histogram_spark.operators import sizing

    emb = tables["embeddings"]
    with patch.object(sizing, "scratch_budget", return_value=1024):
        with pytest.raises(RuntimeError) as e:
            embedding_near_dup_pairs(emb, threshold=0.3, planes=8)
        msg = str(e.value)
        assert "repetitions=" in msg
        assert "write_embedding_signature_table" in msg
        assert "band self-join" in msg
        # the exact (oracle) path never launches the band join and
        # must stay preflight-free
        embedding_near_dup_pairs(emb.limit(5), threshold=0.3, exact=True)
        # empty input short-circuits before the preflight probe
        empty = emb.where("vec_id < 0")
        assert embedding_near_dup_pairs(empty, threshold=0.3,
                                        planes=8).count() == 0
        # a NULL first vector must NOT bypass the guard: the dim probe
        # reads the first NON-null vector (round-12 review)
        base = emb.select("vec_id", "embedding")
        nullfirst = (base.limit(3).select(
            (F.col("vec_id") - 10).alias("vec_id"),
            F.lit(None).cast(base.schema["embedding"].dataType)
            .alias("embedding")).unionByName(base))
        with pytest.raises(RuntimeError, match="band self-join"):
            embedding_near_dup_pairs(nullfirst, threshold=0.3, planes=8)
    # unknown budget (cluster contract) + explicit planes: no eager
    # full-scan count() may run at build time (the one-row first()
    # dim probe inside the banded kernel is pre-existing and bounded)
    with patch.object(sizing, "scratch_budget", return_value=None), \
            patch.object(type(emb), "count",
                         side_effect=AssertionError("eager count")):
        embedding_near_dup_pairs(emb, threshold=0.3, planes=8)
    # the persisted writer's bucketing shuffle carries the same band
    # rows once — same fail-fast, and the existing table's sidecar
    # must survive the refused rebuild
    from dask_histogram_spark.operators import (
        write_embedding_signature_table,
    )

    with patch.object(sizing, "scratch_budget", return_value=1024):
        with pytest.raises(RuntimeError, match="pre-band repartition"):
            write_embedding_signature_table(
                emb, "preflight_refused_tbl", planes=8)
    # the refusal happened BEFORE the sidecar drop: no half-built
    # table may exist
    assert not spark.catalog.tableExists("preflight_refused_tbl__params")


def test_near_dup_preflight_counts_nonnull_and_models_writer_repartition(
        spark, tables):
    """Two round-12 ADVICE closes pinned in one place: (a) the in-query
    preflight's row count EXCLUDES null vectors (the banded join
    excludes them, so an overwhelmingly-null corpus must not be
    spuriously refused near the budget line), and (b) the writer's
    estimate includes the pre-band repartition exchange — n x (reps+1)
    rows, not n x reps — so a near-limit build can't pass preflight
    then die when both shuffles' files coexist."""
    import pytest
    from unittest.mock import patch

    from dask_histogram_spark.operators import (
        embedding_near_dup_pairs, sizing,
        write_embedding_signature_table)
    from dask_histogram_spark.operators.similarity import (
        _BAND_ROW_OVERHEAD_BYTES)

    from pyspark.sql import types as T

    emb = tables["embeddings"].select("vec_id", "embedding")
    n = emb.count()
    dim = len(emb.first()["embedding"])
    elem = emb.schema["embedding"].dataType.elementType
    elem_bytes = 4 if isinstance(elem, T.FloatType) else 8
    row_bytes = elem_bytes * dim + _BAND_ROW_OVERHEAD_BYTES

    # (a) pad the corpus with 100x null vectors; budget sized so the
    # non-null exchange fits (2*n*1*row < budget/2) but the padded
    # total-count estimate would NOT (2*101n*row > budget/2)
    nulls = (spark.range(100 * n)
             .select((F.col("id") + 10_000_000).alias("vec_id"),
                     F.lit(None).cast(emb.schema["embedding"].dataType)
                     .alias("embedding")))
    padded = emb.unionByName(nulls)
    budget = int(2 * 2 * n * row_bytes * 1.5)  # fits non-null, not 101x
    with patch.object(sizing, "scratch_budget", return_value=budget):
        embedding_near_dup_pairs(padded, threshold=0.999, planes=8,
                                 repetitions=1).count()  # must not raise

    # (b) writer model is n x (reps+1): a budget that admits n x reps
    # but not n x (reps+1) (with the 2x sort-spill safety) must refuse
    reps = 2
    budget = int(2 * n * (reps + 0.5) * row_bytes)
    with patch.object(sizing, "scratch_budget", return_value=budget):
        with pytest.raises(RuntimeError, match="pre-band repartition"):
            write_embedding_signature_table(
                emb, "preflight_repart_tbl", planes=8, repetitions=reps)
    assert not spark.catalog.tableExists("preflight_repart_tbl__params")


def test_calibrate_nprobe_differential(spark, tmp_path):
    """calibrate_nprobe codifies the round-12 ladder protocol as an
    engine lever (round-12 VERDICT #3): on a clustered
    mixture-of-Gaussians corpus it must (a) report a recall that
    EQUALS an independent brute-force-vs-ivf computation at the
    returned rung, (b) return the identical (nprobe, recall) through
    the inline and persisted-index paths, and (c) terminate at
    nprobe=C with the honest number when the target is unreachable."""
    import numpy as np

    from dask_histogram_spark.operators import (
        brute_force_topk, build_ivf_index, calibrate_nprobe,
        fit_centroids, ivf_topk)

    rng = np.random.default_rng(7)
    G, dim, per = 8, 16, 250
    centers = rng.normal(size=(G, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    corpus = np.repeat(centers, per, axis=0) + 0.15 * rng.normal(
        size=(G * per, dim))
    rows = [(int(i), [float(x) for x in corpus[i]])
            for i in range(len(corpus))]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qn = rng.normal(size=(40, dim)) * 0.15 + centers[
        rng.integers(0, G, size=40)]
    qs = spark.createDataFrame(
        [(int(100_000 + i), [float(x) for x in qn[i]])
         for i in range(len(qn))],
        "vec_id long, embedding array<double>")

    cents = fit_centroids(vecs, n_centroids=32, sample_fraction=1.0,
                          seed=3)
    k, target = 10, 0.95
    np_got, recall = calibrate_nprobe(
        vecs, qs, cents, k=k, target_recall=target, max_queries=40,
        seed=5)
    assert recall >= target
    assert 1 <= np_got <= 32

    # (a) independent recall computation at the returned rung
    truth = set(map(tuple, brute_force_topk(vecs, qs, k=k)
                    .select("query_id", "neighbor_id").collect()))
    got = set(map(tuple, ivf_topk(vecs, qs, cents, k=k, nprobe=np_got)
                  .select("query_id", "neighbor_id").collect()))
    assert len(truth & got) / len(truth) == pytest.approx(recall)
    # the sweep's doubling rung below must MISS the target (else the
    # helper should have returned it) — guards against off-by-one
    if np_got > 1:
        below = set(map(tuple,
                        ivf_topk(vecs, qs, cents, k=k,
                                 nprobe=np_got // 2)
                        .select("query_id", "neighbor_id").collect()))
        assert len(truth & below) / len(truth) < target

    # (b) persisted-index path returns the identical calibration
    path = str(tmp_path / "calib_ivf")
    build_ivf_index(vecs, cents, path)
    np_idx, recall_idx = calibrate_nprobe(
        vecs, qs, index_path=path, k=k, target_recall=target,
        max_queries=40, seed=5)
    assert (np_idx, recall_idx) == (np_got, pytest.approx(recall))

    # (c) unreachable target terminates at C with the honest recall
    np_cap, recall_cap = calibrate_nprobe(
        vecs, qs, cents, k=k, target_recall=1.01, max_queries=40,
        seed=5)
    assert np_cap == 32 and recall_cap <= 1.0

    # exactly one of centroids/index_path
    with pytest.raises(ValueError, match="exactly one"):
        calibrate_nprobe(vecs, qs, cents, index_path=path)
    with pytest.raises(ValueError, match="exactly one"):
        calibrate_nprobe(vecs, qs)


def test_text_band_shuffle_scratch_preflight(spark, tables):
    """The text-side LSH band shuffles fail FAST with the remedy list
    when the modeled exchange cannot fit the scratch volume — the
    minhash twins of the embedding guard (round-12 VERDICT #2):
    minhash_lsh_candidates' band exchange and write_signature_table's
    bucketed build, which at 1-10 B docs exchange multi-TB of band
    rows."""
    import pytest
    from unittest.mock import patch

    from dask_histogram_spark.operators import (
        minhash_lsh_candidates, sizing, write_signature_table)

    docs = tables["documents"].select("doc_id", "text")
    with patch.object(sizing, "scratch_budget", return_value=1024):
        with pytest.raises(RuntimeError) as e:
            minhash_lsh_candidates(docs, num_perm=16, bands=4)
        msg = str(e.value)
        assert "band shuffle" in msg
        assert "max_bucket" in msg and "bands=" in msg
        assert "write_signature_table" in msg
        # empty/all-null text short-circuits: no shuffle will launch,
        # so the guard must not refuse
        empty = docs.where("doc_id < 0")
        minhash_lsh_candidates(empty, num_perm=16, bands=4)
        allnull = docs.select("doc_id",
                              F.lit(None).cast("string").alias("text"))
        minhash_lsh_candidates(allnull, num_perm=16, bands=4)
        # the writer refuses BEFORE the sidecar drop: an existing
        # table must survive an over-budget rebuild attempt
        with pytest.raises(RuntimeError, match="pre-fold repartition"):
            write_signature_table(docs, "txt_preflight_refused_tbl",
                                  num_perm=16, bands=4)
    assert not spark.catalog.tableExists("txt_preflight_refused_tbl__params")
    # unknown budget (cluster contract): zero eager jobs at
    # plan-construction time for the default call — neither the probe
    # agg nor any cache materialization may run.  Patch the concrete
    # DataFrame class (the public one is an ABC its instances do not
    # dispatch through) and also compare Spark's job IDs.
    # Clear the probe memo first: a memo HIT would skip the patched
    # first()/count() and mask a wrongly-invoked probe.
    sizing.clear_probe_memo()
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    with patch.object(sizing, "scratch_budget", return_value=None), \
            patch.object(type(docs), "first",
                         side_effect=AssertionError("eager first")), \
            patch.object(type(docs), "count",
                         side_effect=AssertionError("eager count")):
        minhash_lsh_candidates(docs, num_perm=16, bands=4)
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_text_preflight_counts_utf8_octets(spark):
    """The text-shuffle model must size text in UTF-8 OCTETS, not
    characters (round-13 review): a CJK corpus is ~3 bytes/char, and a
    char-based estimate would silently pass a shuffle that dies at
    disk-full.  Budget sits between the (wrong) char-model and the
    (correct) byte-model estimates — the guard must refuse."""
    import pytest
    from unittest.mock import patch

    from dask_histogram_spark.operators import (
        minhash_lsh_candidates, sizing)
    from dask_histogram_spark.operators.dedup import (
        _TEXT_ROW_OVERHEAD_BYTES)

    n, chars = 500, 500
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("あ" * chars).alias("text"))  # 3 bytes/char in UTF-8
    band_row = 8 + 12 + _TEXT_ROW_OVERHEAD_BYTES  # xxhash64 bucket
    # pre-fold spread + ONE band exchange of n x bands rows
    fixed = n * _TEXT_ROW_OVERHEAD_BYTES + n * 4 * band_row
    est_chars = n * chars + fixed        # the pre-fix (wrong) model
    est_bytes = n * chars * 3 + fixed    # correct octet model
    budget = int(2 * (est_chars + est_bytes) / 2)  # between the two x2
    with patch.object(sizing, "scratch_budget", return_value=budget):
        with pytest.raises(RuntimeError, match="band shuffle"):
            minhash_lsh_candidates(docs, num_perm=16, bands=4)


def test_incremental_batch_side_scratch_preflight(spark, tables,
                                                  tmp_path):
    """The incremental readers' BATCH sides are the last band shuffles
    to get the guard (the seen tables are bucketed and never exchange,
    but a nightly batch can itself be huge): both readers must refuse
    an over-budget batch with the shard-the-batch remedy, and still
    run clean under a real budget."""
    import pytest
    from unittest.mock import patch

    from dask_histogram_spark.operators import (
        dedup_incremental_lsh,
        embedding_dedup_incremental,
        sizing,
        write_embedding_signature_table,
        write_signature_table,
    )

    docs = tables["documents"].select("doc_id", "text")
    emb = tables["embeddings"].select("vec_id", "embedding")
    # build the seen tables OUTSIDE the tiny-budget patch
    write_signature_table(docs, "inc_guard_txt", num_perm=16, bands=4,
                          path=str(tmp_path / "t1"))
    write_embedding_signature_table(emb, "inc_guard_emb", planes=8,
                                    path=str(tmp_path / "t2"))
    with patch.object(sizing, "scratch_budget", return_value=1024):
        with pytest.raises(RuntimeError, match="batch band shuffle"):
            dedup_incremental_lsh(docs, "inc_guard_txt")
        with pytest.raises(RuntimeError, match="batch band shuffle"):
            embedding_dedup_incremental(emb, "inc_guard_emb")
    # real budget: both run end-to-end (every doc/vec is its own seen
    # twin -> n_matched_seen >= 1 everywhere)
    assert (dedup_incremental_lsh(docs, "inc_guard_txt")
            .where("n_matched_seen >= 1").count() == docs.count())
    assert (embedding_dedup_incremental(emb, "inc_guard_emb",
                                        threshold=0.999)
            .where("n_matched_seen >= 1").count() == emb.count())


def test_guard_probes_memoized_per_input(spark, tables, tmp_path):
    """Round-13 VERDICT #4: guard probes re-execute their (possibly
    uncached) upstream once per guarded CALL, compounding in chained
    pipelines — they must memoize per (session, semantic plan, probe
    kind) so one distinct input is probed at most once per session.
    PROBE_COMPUTE_COUNT counts memo MISSES (actual probe jobs)."""
    from dask_histogram_spark.operators import (
        embedding_near_dup_pairs,
        minhash_lsh_candidates,
        sizing,
        write_embedding_signature_table,
    )
    from dask_histogram_spark.operators.spans import estimate_windows

    sizing.clear_probe_memo()
    docs = tables["documents"].select("doc_id", "text")
    emb = tables["embeddings"].select("vec_id", "embedding")

    base = sizing.PROBE_COMPUTE_COUNT
    minhash_lsh_candidates(docs, num_perm=16, bands=4).count()
    assert sizing.PROBE_COMPUTE_COUNT == base + 1
    # same input, different banding params: the text probe's stats
    # (row count, byte total) are param-independent -> memo hit
    minhash_lsh_candidates(docs, num_perm=32, bands=8).count()
    assert sizing.PROBE_COMPUTE_COUNT == base + 1
    # a semantically DIFFERENT input must probe fresh
    minhash_lsh_candidates(docs.where("doc_id < 100"), num_perm=16,
                           bands=4).count()
    assert sizing.PROBE_COMPUTE_COUNT == base + 2

    # embedding family: near-dup, table build, and incremental gate
    # over one corpus share ONE probe (the helper returns the same
    # (n, n_all, dim) triple to all three guards)
    base = sizing.PROBE_COMPUTE_COUNT
    embedding_near_dup_pairs(emb, threshold=0.999, planes=8,
                             repetitions=1).count()
    assert sizing.PROBE_COMPUTE_COUNT == base + 1
    write_embedding_signature_table(emb, "memo_probe_tbl", planes=8,
                                    repetitions=1,
                                    path=str(tmp_path / "t"))
    assert sizing.PROBE_COMPUTE_COUNT == base + 1

    # spans estimator: same (input, granularity, n) memoizes; a new
    # granularity is a different probe kind and runs fresh
    base = sizing.PROBE_COMPUTE_COUNT
    a = estimate_windows(docs, n=6)
    b = estimate_windows(docs, n=6)
    assert a == b and sizing.PROBE_COMPUTE_COUNT == base + 1
    estimate_windows(docs, n=6, granularity="line")
    assert sizing.PROBE_COMPUTE_COUNT == base + 2

    # rebuilding the SAME plan from scratch still hits (semanticHash
    # normalizes expression ids across re-built plans)
    docs2 = tables["documents"].select("doc_id", "text")
    base = sizing.PROBE_COMPUTE_COUNT
    estimate_windows(docs2, n=6)
    assert sizing.PROBE_COMPUTE_COUNT == base
    sizing.clear_probe_memo()


def test_embedding_null_rows_never_cross_the_band_exchange(spark, tables,
                                                           tmp_path):
    """Round-14: null vectors are filtered BEFORE the writer's and the
    incremental reader's pre-band repartition (they band to nothing,
    so exchanging their ~40 B of framing was pure waste — round-13
    ADVICE modeled that cost, round-14 removes it).  Pins: (a) a
    mostly-null corpus passes at a budget sized for the NON-null
    exchange only — a plan that still shuffled nulls would need the
    extra framing headroom; (b) the output contract keeps null rows
    at n_matched_seen=0; (c) an ALL-null batch runs at a 1 KiB budget
    (zero band shuffle launches — the n_batch=0 preflight skip is
    safe because nothing crosses)."""
    import pytest
    from unittest.mock import patch

    from dask_histogram_spark.operators import (
        embedding_dedup_incremental, sizing,
        write_embedding_signature_table)
    from dask_histogram_spark.operators.similarity import (
        _BAND_ROW_OVERHEAD_BYTES)
    from pyspark.sql import types as T

    emb = tables["embeddings"].select("vec_id", "embedding")
    n = emb.count()
    dim = len(emb.first()["embedding"])
    elem = emb.schema["embedding"].dataType.elementType
    elem_bytes = 4 if isinstance(elem, T.FloatType) else 8
    row_bytes = elem_bytes * dim + _BAND_ROW_OVERHEAD_BYTES
    nn = 200_000  # null pad: framing would dominate IF it crossed
    nulls = (spark.range(nn)
             .select((F.col("id") + 10_000_000).alias("vec_id"),
                     F.lit(None).cast(emb.schema["embedding"].dataType)
                     .alias("embedding")))
    padded = emb.unionByName(nulls)

    # (a) writer: budget = non-null model + slack, FAR below what the
    # null framing would add (nn * 40 B ~ 8 MB vs the ~0.3 MB model)
    reps = 1
    budget = int(2 * n * (reps + 1) * row_bytes * 1.5)
    sizing.clear_probe_memo()
    with patch.object(sizing, "scratch_budget", return_value=budget):
        write_embedding_signature_table(
            padded, "null_skip_tbl", planes=8, repetitions=reps,
            path=str(tmp_path / "t"))  # must NOT raise
    # (b) incremental over the padded batch at the same tight budget:
    # runs, and every null row comes back n_matched_seen=0
    rows_per_vec = 1 * (1 + 0) + 1
    budget = int(2 * n * rows_per_vec * row_bytes * 1.5)
    with patch.object(sizing, "scratch_budget", return_value=budget):
        out = embedding_dedup_incremental(padded, "null_skip_tbl",
                                          threshold=0.999)
        got = {r.vec_id: r.n_matched_seen for r in out.collect()}
    assert len(got) == n + nn
    assert all(got[10_000_000 + i] == 0 for i in range(0, nn, 50_000))
    assert sum(1 for v in got.values() if v >= 1) == n  # self-twins
    # (c) all-null batch: zero band shuffle, passes a 1 KiB budget
    with patch.object(sizing, "scratch_budget", return_value=1024):
        out = embedding_dedup_incremental(nulls, "null_skip_tbl")
        assert out.where("n_matched_seen != 0").count() == 0
        assert out.count() == nn


def test_text_preflight_exact_fallback_catches_heavy_tail(spark):
    """Round-13 ADVICE: a 2% sample of a mid-size corpus (a few hundred
    sampled rows) can miss a rare giant document entirely and pass an
    over-budget band shuffle.  The exact-agg fallback now covers all
    corpora whose sample lands under _PROBE_EXACT_FALLBACK_ROWS (5000
    sampled rows ~ 250k docs), so the one 10 MB document in 20k
    ten-byte docs is ALWAYS counted and the guard must refuse a budget
    only the giant-blind estimate would fit."""
    import pytest
    from unittest.mock import patch

    from dask_histogram_spark.operators import (
        minhash_lsh_candidates, sizing)
    from dask_histogram_spark.operators.dedup import (
        _TEXT_ROW_OVERHEAD_BYTES)

    n, giant = 20_000, 10_000_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 0, F.expr(f"repeat('x', {giant})"))
        .otherwise(F.lit("abcdefghij")).alias("text"))
    band_row = 8 + 12 + _TEXT_ROW_OVERHEAD_BYTES  # xxhash64 bucket
    # pre-fold spread + ONE band exchange of n x bands rows
    fixed = n * _TEXT_ROW_OVERHEAD_BYTES + n * 4 * band_row
    est_blind = n * 10 + fixed          # sample that missed the giant
    est_exact = giant + n * 10 + fixed  # what the exact agg sees
    budget = int(2 * (est_blind + est_exact) / 2)  # between the two x2
    with patch.object(sizing, "scratch_budget", return_value=budget):
        with pytest.raises(RuntimeError, match="band shuffle"):
            minhash_lsh_candidates(docs, num_perm=16, bands=4)


def test_scratch_budget_honors_spark_local_dirs(spark, tmp_path):
    """SPARK_LOCAL_DIRS overrides spark.local.dir in Spark's own
    local-dir resolution — the preflight must probe the same volume
    Spark will actually spill to (round-12 ADVICE)."""
    import os
    from unittest.mock import patch

    from dask_histogram_spark.operators.sizing import scratch_budget

    with patch.dict(os.environ,
                    {"SPARK_LOCAL_DIRS": f"{tmp_path},/nonexistent"}):
        got = scratch_budget(spark)
    import shutil

    want = shutil.disk_usage(str(tmp_path)).free
    # same volume (free space may drift a little between the probes)
    assert got is not None and abs(got - want) < 256 * 2**20


def test_ngram_jaccard_max_df_stopword_cut(spark, tables):
    """max_df drops ubiquitous shingles; identical docs still score 1.0
    over the pruned shingle universe."""
    from pyspark.sql import functions as F

    d = tables["documents"]
    n = d.count()
    dup = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + n))
    pairs = ngram_jaccard_pairs(dup, k=8, threshold=0.99, max_df=0.5).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    hits = sum(1 for i in range(n) if got.get((i, i + n)) == pytest.approx(1.0))
    # identical pairs survive the cut (a doc could lose ALL its shingles
    # if every one is ubiquitous; with max_df=0.5 that is rare)
    assert hits >= n * 0.9


def test_ngram_jaccard_strategies_agree(spark, tables):
    """The distributed index join and the broadcast bincount path are
    the same operator: identical (id_a, id_b, jaccard) sets, with and
    without the max_df cut."""
    d = tables["documents"]
    for max_df in (None, 0.5):
        got = {}
        for strat in ("index", "bincount"):
            rows = ngram_jaccard_pairs(
                d, k=8, threshold=0.2, max_df=max_df, strategy=strat
            ).collect()
            got[strat] = {(r.id_a, r.id_b): r.jaccard for r in rows}
        assert got["index"] == got["bincount"]


def test_prepare_training_corpus(spark, docs_with_dups):
    from dask_histogram_spark.operators.pipeline import (
        corpus_stats,
        prepare_training_corpus,
    )

    df, n = docs_with_dups
    kept = prepare_training_corpus(df.select("doc_id", "text"))
    rows = kept.collect()
    # dedup stage: no doc kept twice, winners are min-ids
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids))
    assert all(i < n for i in ids)
    # gates hold for every kept doc
    for r in rows:
        assert r.n_chars >= 80 and r.n_tokens >= 10 and r.digit_ratio <= 0.3
    # synthetic docs are digit-free text >= 10 tokens: most survive
    assert len(rows) > n * 0.8
    stats = corpus_stats(kept).collect()[0]
    assert stats.n_docs == len(rows)
    assert stats.total_tokens == sum(r.n_tokens for r in rows)


def test_word_ngram_jaccard(spark, docs_with_dups):
    from dask_histogram_spark.operators import word_ngram_jaccard_pairs

    df, n = docs_with_dups
    pairs = word_ngram_jaccard_pairs(df, n=3, threshold=0.99).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    for i in range(0, n, 50):
        assert got.get((i, i + n)) == pytest.approx(1.0)


def test_fit_centroids_and_ivf(spark, tables):
    from dask_histogram_spark.operators import brute_force_topk, fit_centroids, ivf_topk

    emb = tables["embeddings"]
    C = fit_centroids(emb, n_centroids=8, sample_fraction=1.0, seed=11)
    assert C.shape == (8, 64)
    np.testing.assert_allclose(np.linalg.norm(C, axis=1), 1.0, rtol=1e-9)
    # deterministic
    C2 = fit_centroids(emb, n_centroids=8, sample_fraction=1.0, seed=11)
    np.testing.assert_array_equal(C, C2)
    queries = emb.where(F.col("vec_id") < 3)
    approx = ivf_topk(emb, queries, C, k=5, nprobe=3).collect()
    exact = brute_force_topk(emb, queries, k=5).collect()
    for q in range(3):
        a = {r.neighbor_id for r in approx if r.query_id == q}
        e = {r.neighbor_id for r in exact if r.query_id == q}
        assert len(a & e) >= 2  # decent recall with fitted centroids

    with pytest.raises(ValueError, match="sample"):
        fit_centroids(emb, n_centroids=1000, sample_fraction=0.5)


def test_fingerprint_fnv_matches_duckdb_unicode(spark):
    """The portable FNV fold hashes CODE POINTS, and both engines'
    ascii()/substr() agree on them — so the oracle parity holds beyond
    plain ASCII."""
    import duckdb

    from dask_histogram_spark.queries import ORACLES

    rows = [(0, "héllo wörld"), (1, "日本語 テスト 日本語"), (2, ""),
            (3, "mixed ascii és 漢字")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r.doc_id: r.fingerprint
           for r in fingerprint(df, hash_fn="fnv1a32").collect()}
    con = duckdb.connect()
    import pandas as pd

    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    # the fingerprint columns live on the merged text_language_id row
    exp = {int(r[0]): int(r[1]) for r in con.sql(
        f"SELECT doc_id, fingerprint FROM ({ORACLES['text_language_id']})"
    ).fetchall()}
    assert got == exp


def test_hash_split_deterministic_and_partition_invariant(spark, tables):
    from dask_histogram_spark.operators import hash_split

    docs = tables["documents"]
    ratios = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = hash_split(docs, ratios).select("doc_id", "split").toPandas()
    # repartitioning must not move any document between splits
    b = (
        hash_split(docs.repartition(17), ratios)
        .select("doc_id", "split")
        .toPandas()
    )
    am = dict(zip(a.doc_id, a.split))
    bm = dict(zip(b.doc_id, b.split))
    assert am == bm
    # every split non-empty and fractions in the right ballpark
    frac = a.split.value_counts(normalize=True)
    assert set(frac.index) == {"train", "val", "test"}
    assert abs(frac["train"] - 0.8) < 0.1
    with pytest.raises(ValueError, match="sum"):
        hash_split(docs, {"train": 0.5})


def test_hash_split_plan_is_narrow(spark, tables):
    from dask_histogram_spark.operators import hash_split

    plan = (
        hash_split(tables["documents"], {"train": 0.9, "val": 0.1})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # zero-shuffle narrow map


def test_normalize_text(spark):
    from pyspark.sql import SparkSession

    from dask_histogram_spark.operators import normalize_text

    s = SparkSession.getActiveSession()
    df = s.createDataFrame(
        [(1, "  Hello\t\tWorld \n x  "), (2, "ABC"), (3, "")],
        "doc_id LONG, text STRING",
    )
    got = {r.doc_id: r.norm_text for r in normalize_text(df).collect()}
    assert got == {1: "hello world x", 2: "abc", 3: ""}


def test_dedup_clusters_matches_union_find(spark):
    """Differential: iterative min-label propagation == driver-side
    union-find on a random graph (chains, cliques, singleton edges)."""
    import random

    from pyspark.sql import SparkSession

    from dask_histogram_spark.operators import (
        dedup_clusters,
        release_clusters_checkpoint,
    )

    rng = random.Random(13)
    edges = set()
    # a long chain (worst diameter), a clique, and random sprinkle
    edges |= {(i, i + 1) for i in range(100, 112)}
    edges |= {(a, b) for a in range(200, 206) for b in range(a + 1, 206)}
    while len(edges) < 60:
        a, b = rng.randrange(0, 50), rng.randrange(0, 50)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    s = SparkSession.getActiveSession()
    pairs = s.createDataFrame(sorted(edges), "id_a LONG, id_b LONG")
    clusters = dedup_clusters(pairs, max_iter=40)
    got = {r.doc_id: r.cluster_id for r in clusters.collect()}
    release_clusters_checkpoint(clusters)
    # the distributed loop (forced by small_graph_edges=0) must agree
    # with the small-graph numpy plan bit-for-bit
    dist = dedup_clusters(pairs, max_iter=40, small_graph_edges=0)
    got_dist = {r.doc_id: r.cluster_id for r in dist.collect()}
    release_clusters_checkpoint(dist)
    assert got_dist == got
    # empty edge list: both paths return an empty (doc_id, cluster_id)
    empty = s.createDataFrame([], "id_a long, id_b long")
    assert dedup_clusters(empty).collect() == []
    assert dedup_clusters(empty, small_graph_edges=0).collect() == []

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    comp: dict = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    exp = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            exp[n] = m
    assert got == exp


def test_pack_sequences_quota_semantics(spark):
    """seq_id = floor(exclusive running sum / budget) in id order, per
    group — replayed in pandas."""
    import pandas as pd
    from pyspark.sql import SparkSession

    from dask_histogram_spark.operators import pack_sequences

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({
        "doc_id": np.arange(300),
        "n_tokens": rng.integers(10, 400, 300),
        "grp": rng.choice(["a", "b"], 300),
    })
    s = SparkSession.getActiveSession()
    got = (
        pack_sequences(s.createDataFrame(pdf), 1000, tokens_col="n_tokens",
                       group_col="grp")
        .select("doc_id", "seq_id").toPandas()
        .set_index("doc_id").seq_id.to_dict()
    )
    for g, sub in pdf.sort_values("doc_id").groupby("grp"):
        run = 0
        for _, row in sub.iterrows():
            assert got[row.doc_id] == run // 1000, row
            run += row.n_tokens
    # every sequence's token total stays under budget + max doc size
    pdf["seq"] = pdf.doc_id.map(got)
    for (_, _), sub in pdf.groupby(["grp", "seq"]):
        assert sub.n_tokens.sum() < 1000 + 400


def test_token_vocabulary_matches_counter(spark, tables):
    import collections

    from dask_histogram_spark.operators import token_vocabulary

    docs = tables["documents"].toPandas()
    c = collections.Counter()
    for t in docs.text:
        c.update(w for w in t.strip().lower().split() if w)
    got = token_vocabulary(tables["documents"], min_count=1).toPandas()
    exp = dict(c)
    assert dict(zip(got.token, got["count"])) == exp


def test_token_vocabulary_widened_path_matches_default(spark, tables):
    """The over-session-width safety plan (two-phase Arrow partial
    counts + widened (token, partial_count) exchange) must reproduce
    the default explode->groupBy result exactly — including the
    min_count filter and top_k rank ordering."""
    from unittest.mock import patch

    from dask_histogram_spark.operators import token_vocabulary
    from dask_histogram_spark.operators import sizing

    d = tables["documents"]
    base = token_vocabulary(d, min_count=2, top_k=50).toPandas()
    # force the widened branch regardless of the local heap: sized
    # width = 10x the session setting
    wide = 10 * sizing.current_shuffle_partitions(spark)
    with patch.object(sizing, "agg_partitions", return_value=wide):
        got = token_vocabulary(d, min_count=2, top_k=50,
                               est_types=10**12).toPandas()
    assert got.sort_values("rank").reset_index(drop=True).equals(
        base.sort_values("rank").reset_index(drop=True))


def test_redact_pii_cross_engine_on_real_pii(spark):
    """The corpus has no PII, so the oracle row alone can't prove the
    patterns fire — check real emails/IPs/phones redact identically in
    Spark and DuckDB (dialect-shared regex subset)."""
    import duckdb
    from pyspark.sql import SparkSession

    from dask_histogram_spark.operators import redact_pii
    from dask_histogram_spark.operators.text import redact_pii_sql

    rows = [
        (1, "contact jane.doe+x@corp.example.org today"),
        (2, "server at 10.0.255.3 answered"),
        (3, "call +1 (555) 123-4567 or 555 867 5309 now"),
        (4, "no pii here at all"),
        (5, "a@b.io and 192.168.0.1 and +44 20 7946 0958"),
    ]
    s = SparkSession.getActiveSession()
    df = s.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r.doc_id: r.redacted_text for r in redact_pii(df).collect()}
    assert "<EMAIL>" in got[1] and "@" not in got[1]
    assert got[2] == "server at <IP> answered"
    assert got[3].count("<PHONE>") == 2
    assert got[4] == rows[3][1]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    oracle = dict(con.execute(
        f"SELECT doc_id, {redact_pii_sql()} FROM t").fetchall())
    assert got == oracle


def test_repetition_stats_known_values(spark):
    from pyspark.sql import SparkSession

    from dask_histogram_spark.operators import repetition_stats

    s = SparkSession.getActiveSession()
    df = s.createDataFrame(
        [(1, "a b a b a b"),       # 2-grams: ab ba ab ba ab -> 2/5 distinct
         (2, "x y z w")],          # all 2-grams distinct
        "doc_id LONG, text STRING",
    )
    got = {r.doc_id: (r.dup_2gram_ratio, r.dup_3gram_ratio,
                      r.top_2gram_ratio)
           for r in repetition_stats(df).collect()}
    assert got[1][0] == pytest.approx(1 - 2 / 5)
    assert got[2][0] == 0.0
    assert got[2][1] == 0.0
    # top-2-gram concentration: 'a b' occurs 3x of 5 grams; all
    # distinct in doc 2 -> 1/3
    assert got[1][2] == pytest.approx(3 / 5)
    assert got[2][2] == pytest.approx(round(1 / 3, 6))


def test_minhash_max_bucket_cap(spark):
    """Degenerate mega-buckets are dropped before the self-join: a
    boilerplate text repeated 40x stops generating its 780 pairs, while
    ordinary duplicate pairs (2-member buckets) all survive."""
    import random

    from pyspark.sql import SparkSession

    rng = random.Random(99)

    def rand_text(i):
        return " ".join(
            "".join(rng.choice("abcdefghijklmnop") for _ in range(6))
            for _ in range(30)
        )

    rows = []
    for i in range(30):           # 30 distinct texts, two copies each
        t = rand_text(i)
        rows.append((i, t))
        rows.append((i + 1000, t))
    boiler = rand_text(-1)
    for j in range(40):           # one boilerplate text, 40 copies
        rows.append((5000 + j, boiler))
    s_ = SparkSession.getActiveSession()
    df = s_.createDataFrame(rows, "doc_id LONG, text STRING")

    full = {(r.id_a, r.id_b)
            for r in minhash_lsh_candidates(df, num_perm=32, bands=8).collect()}
    capped = {(r.id_a, r.id_b)
              for r in minhash_lsh_candidates(df, num_perm=32, bands=8,
                                              max_bucket=10).collect()}
    assert capped <= full
    dup_pairs = {(i, i + 1000) for i in range(30)}
    boiler_pairs = {(a, b) for a in range(5000, 5040)
                    for b in range(a + 1, 5040)}
    assert dup_pairs <= capped                  # small buckets untouched
    assert not (boiler_pairs & capped)          # mega-bucket dropped
    assert boiler_pairs <= full                 # ...but present uncapped


def _minhash_semijoin_cases(spark, tables):
    """The dup corpus plus 40 copies of one boilerplate text (an 80-doc
    bucket in every band, so a cap of 20 bites), a DuckDB connection
    over the same docs, and per (max_bucket, min_sig_matches) the
    DuckDB semi-join + self-join plan that minhash_lsh_candidates must
    reproduce: uncapped is the registry's _MINHASH_CAND_SQL; capped
    semi-joins the band rows to the buckets with HAVING COUNT(*) <= 20
    before the self-join, and gated adds the dedup_pipeline oracle's
    >= 10 of 32 agreement gate."""
    import duckdb

    from dask_histogram_spark.queries import (
        _DUP_SQL, _MH_HS, _MH_SIG, _MINHASH_CAND_SQL, _minhash_band_sql)

    boiler = " ".join(f"boilerplate{i} footer" for i in range(30))
    d = tables["documents"].select("doc_id", "text").unionByName(
        spark.range(40).select((F.col("id") + 90000).alias("doc_id"),
                               F.lit(boiler).alias("text")))
    corpus = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 100000))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT doc_id, text FROM read_parquet("
        f"'{SF_DIR}/documents.parquet') UNION ALL SELECT "
        f"CAST(90000 + i AS BIGINT), '{boiler}' FROM range(40) t(i)")
    capped = (
        f"WITH h AS (SELECT doc_id, {_MH_HS} AS hs FROM {_DUP_SQL}), "
        f"s AS (SELECT doc_id, {_MH_SIG} AS sig FROM h), "
        f"b AS ({_minhash_band_sql(bands=8, r=4)}), "
        "ok AS (SELECT band, bucket FROM b GROUP BY band, bucket "
        "HAVING COUNT(*) <= 20), "
        "bc AS (SELECT b.* FROM b JOIN ok USING (band, bucket)), "
        "p AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b, "
        "COUNT(*) AS n_bands FROM bc a JOIN bc b2 ON a.band = b2.band "
        "AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id GROUP BY 1, 2) ")
    gated = (
        "SELECT * FROM (SELECT p.*, len(list_filter(range(1, 33), "
        "i -> sa.sig[i] = sb.sig[i])) AS sig_matches FROM p "
        "JOIN s sa ON sa.doc_id = p.id_a JOIN s sb ON sb.doc_id = p.id_b) "
        "WHERE sig_matches >= 10")
    cases = {(None, None): _MINHASH_CAND_SQL,
             (20, None): capped + "SELECT * FROM p",
             (20, 10): capped + gated}
    return corpus, con, cases


def _minhash_candidates(corpus, mb, ms):
    return minhash_lsh_candidates(corpus, num_perm=32, bands=8,
                                  hash_fn="fnv1a32", max_bucket=mb,
                                  min_sig_matches=ms)


def test_minhash_fused_matches_semijoin(spark, tables):
    """The one-shuffle candidate plan (bucket collect_list +
    combination explode) returns exactly the rows (id_a, id_b, n_bands)
    of the semi-join + self-join plan, run in DuckDB, both uncapped and
    under a cap of 20 that drops the 80-doc boilerplate bucket."""
    corpus, con, cases = _minhash_semijoin_cases(spark, tables)
    got = {}
    for mb in (None, 20):
        cands = _minhash_candidates(corpus, mb, None)
        assert cands.columns == ["id_a", "id_b", "n_bands"]
        got[mb] = sorted(tuple(r) for r in cands.collect())
        assert got[mb] == sorted(con.execute(cases[mb, None]).fetchall()), mb
    # non-degenerate: the cap drops the boilerplate bucket's C(80, 2) pairs
    assert 0 < len(got[20]) < len(got[None])


def test_single_pass_gated_candidates_match_semijoin(spark, tables):
    """The gated plan is single-pass (signature carried in the band
    rows, window-count cap before the bucket arrays, agreement gate
    inside the combination explode): its full rows, n_bands and
    sig_matches included, equal the DuckDB semi-join + self-join plan
    with the >= 10 of 32 gate under a cap of 20, and its plan holds no
    join and no cached signature projection."""
    corpus, con, cases = _minhash_semijoin_cases(spark, tables)
    cands = _minhash_candidates(corpus, 20, 10)
    assert cands.columns == ["id_a", "id_b", "n_bands", "sig_matches"]
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:1200]
    assert "InMemoryRelation" not in plan, plan[:1200]
    got = sorted(tuple(r) for r in cands.collect())
    assert got == sorted(con.execute(cases[20, 10]).fetchall())
    # non-degenerate: the gate drops some capped pairs, not all
    assert 0 < len(got) < len(con.execute(cases[20, None]).fetchall())


def test_near_dup_sig_arrow_matches_column(spark, tables):
    """The Arrow hyperplane-signature kernel must give the exact rows
    of the Column fold path (same buckets -> same candidates -> same
    pairs; the kernel adds terms in the fold's sequential order so
    signs agree bit-for-bit)."""
    from dask_histogram_spark.operators import embedding_near_dup_pairs

    emb = tables["embeddings"]
    a = {(r.id_a, r.id_b, r.cos_sim) for r in embedding_near_dup_pairs(
        emb, threshold=0.3, planes=8, method="arrow").collect()}
    b = {(r.id_a, r.id_b, r.cos_sim) for r in embedding_near_dup_pairs(
        emb, threshold=0.3, planes=8, method="column").collect()}
    assert a == b and a


def test_brute_force_topk_arrow_matches_column(spark, tables):
    """The BLAS mapInPandas scoring path returns exactly the rows of
    the pure-Column fold path."""
    emb = tables["embeddings"]
    q = emb.where(F.col("vec_id") < 8)
    a = brute_force_topk(emb, q, k=5).toPandas()
    b = brute_force_topk(emb, q, k=5, method="arrow").toPandas()
    key = ["query_id", "rank"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert a[["query_id", "neighbor_id", "rank"]].equals(
        b[["query_id", "neighbor_id", "rank"]])
    np.testing.assert_allclose(a.cos_sim, b.cos_sim, atol=1e-6)
    with pytest.raises(ValueError, match="method"):
        brute_force_topk(emb, q, k=5, method="nope")


def test_quantized_cosine_close_to_exact(spark, tables):
    """int8 quantization preserves cosine to ~1e-2 and the quantized
    cosine expression matches a numpy replay."""
    from dask_histogram_spark.operators import (
        quantize_embeddings, quantized_cosine_expr,
    )
    from dask_histogram_spark.operators.similarity import cosine_expr

    emb = tables["embeddings"]
    q = quantize_embeddings(emb)
    a = q.alias("a"); b = q.alias("b")
    joined = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .where(F.col("b.vec_id") < 20)
        .select(
            F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib"),
            quantized_cosine_expr(F.col("a.qvec"), F.col("a.scale"),
                                  F.col("b.qvec"), F.col("b.scale"))
            .alias("qcos"),
        )
    )
    e = emb.alias("x").join(emb.alias("y"),
                            F.col("x.vec_id") < F.col("y.vec_id")) \
        .where(F.col("y.vec_id") < 20) \
        .select(F.col("x.vec_id").alias("ia"), F.col("y.vec_id").alias("ib"),
                cosine_expr(F.col("x.embedding"), F.col("y.embedding"))
                .alias("cos"))
    m = joined.join(e, ["ia", "ib"]).toPandas()
    assert len(m) > 100
    np.testing.assert_allclose(m.qcos, m.cos, atol=2e-2)


def test_jaccard_verify_pairs_matches_full_join(spark, docs_with_dups):
    """verify(candidates) computes the SAME jaccard as the full
    similarity join, restricted to the candidate set."""
    from dask_histogram_spark.operators import (
        jaccard_verify_pairs,
        minhash_lsh_candidates,
    )

    df, n = docs_with_dups
    cands = minhash_lsh_candidates(df, num_perm=32, bands=8)
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_verify_pairs(cands, df, k=8, threshold=0.5).collect()
    }
    # every exact-dup pair collides in all bands and verifies at 1.0
    for i in range(0, n, 37):
        assert got.get((i, i + n)) == pytest.approx(1.0)
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, k=8, threshold=0.5).collect()
    }
    # verified values agree exactly (same definition, same rounding)
    for pair, j in got.items():
        assert full[pair] == j


def test_verify_eager_persist_modes_identical(spark, docs_with_dups):
    """eager_persist=True / False / "auto" are pure execution-strategy
    choices (serial cache materialization vs a bounded race on the
    first action vs the probe-gated pick) — all three must return the
    identical verified pair set (round-15 #26)."""
    from dask_histogram_spark.operators import (
        jaccard_verify_pairs,
        minhash_lsh_candidates,
        release_candidates_cache,
    )

    df, _ = docs_with_dups
    cands = minhash_lsh_candidates(df, num_perm=32,
                                   bands=8).localCheckpoint()
    outs = []
    for mode in (True, False, "auto"):
        v = jaccard_verify_pairs(cands, df, k=8, threshold=0.5,
                                 persist=True, broadcast_pairs=True,
                                 eager_persist=mode)
        outs.append(sorted(map(tuple, v.collect())))
        release_candidates_cache(v)
    assert outs[0] == outs[1] == outs[2]
    assert outs[0], "degenerate test: no verified pairs"


def test_release_candidates_cache(spark, docs_with_dups):
    """Candidates cache nothing: no release handle on the result and
    no persistent RDD after they are built and collected.  The one
    handle left is jaccard_verify_pairs(persist=True)'s shingle cache,
    which release_candidates_cache unpersists, idempotently."""
    from dask_histogram_spark.operators import (
        jaccard_verify_pairs,
        minhash_lsh_candidates,
        release_candidates_cache,
    )

    df, _ = docs_with_dups
    sc = spark.sparkContext._jsc.sc()
    base = sc.getPersistentRDDs().size()
    cands = minhash_lsh_candidates(df, num_perm=32, bands=8)
    assert getattr(cands, "_dhs_persisted", None) is None
    assert cands.collect()
    assert sc.getPersistentRDDs().size() <= base

    verified = jaccard_verify_pairs(cands, df, k=8, threshold=0.5,
                                    persist=True)
    verified.count()
    cached = verified._dhs_persisted
    assert cached is not None and cached.storageLevel.useMemory
    release_candidates_cache(verified)
    assert verified._dhs_persisted is None
    assert not cached.storageLevel.useMemory
    release_candidates_cache(verified)  # idempotent no-op


def test_fit_centroids_sample_cap(spark, tables):
    """The driver transfer is bounded by max_sample_rows (absolute),
    not by fraction * table size."""
    from dask_histogram_spark.operators import fit_centroids

    emb = tables["embeddings"]
    C1 = fit_centroids(emb, n_centroids=4, sample_fraction=1.0, seed=5,
                       max_sample_rows=100)
    C2 = fit_centroids(emb, n_centroids=4, sample_fraction=1.0, seed=5,
                       max_sample_rows=100)
    np.testing.assert_array_equal(C1, C2)
    assert C1.shape == (4, 64)
    # cap below n_centroids -> the bounded sample is genuinely enforced
    with pytest.raises(ValueError, match="sample"):
        fit_centroids(emb, n_centroids=64, sample_fraction=1.0,
                      max_sample_rows=10)
    # "auto" sizes the fraction as min(1, 4*cap/n) — byte-identical to
    # passing that fraction explicitly (same seed, same sample)
    n = emb.count()
    C3 = fit_centroids(emb, n_centroids=4, sample_fraction="auto",
                       seed=5, max_sample_rows=100)
    C4 = fit_centroids(emb, n_centroids=4,
                       sample_fraction=min(1.0, 4.0 * 100 / n),
                       seed=5, max_sample_rows=100)
    np.testing.assert_array_equal(C3, C4)


def test_pack_sequences_warns_without_group(spark):
    import warnings

    from dask_histogram_spark.operators import pack_sequences

    df = (spark.range(10).withColumnRenamed("id", "doc_id")
          .withColumn("n_tokens", F.lit(100)))
    with pytest.warns(UserWarning, match="SINGLE task"):
        pack_sequences(df, 512)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        pack_sequences(df, 512, group_col="doc_id")  # no warning


def test_multimodal_numpy_twin(spark, tables):
    """Differential gate for the multimodal kernels: the deterministic
    fake decoders are recomputed IN-PROCESS from the same payload bytes
    and compared element-wise against the Spark output."""
    import hashlib

    from dask_histogram_spark.operators.multimodal import (
        _fake_decode_rgb,
        _fake_waveform,
        attach_fake_media,
        decode_image_features,
        sample_audio_frames,
    )

    d = tables["documents"].select("doc_id").limit(8)
    feats = decode_image_features(attach_fake_media(d)).collect()
    assert len(feats) == 8
    for r in feats:
        payload = hashlib.sha256(str(r.doc_id).encode()).hexdigest().encode()
        w, h = (r.doc_id % 8) * 64 + 64, (r.doc_id % 6) * 64 + 64
        assert (r.width, r.height) == (w, h)
        img = _fake_decode_rgb(payload, w, h)
        assert r.mean_r == pytest.approx(img[..., 0].mean(), rel=1e-12)
        assert r.mean_g == pytest.approx(img[..., 1].mean(), rel=1e-12)
        assert r.mean_b == pytest.approx(img[..., 2].mean(), rel=1e-12)
        ys = (np.arange(32) * (h - 1)) // 31
        xs = (np.arange(32) * (w - 1)) // 31
        quad = img[np.ix_(ys, xs)].reshape(2, 16, 2, 16, 3).mean(axis=(1, 3))
        np.testing.assert_array_equal(
            np.asarray(r.feat, dtype=np.float32),
            quad.astype(np.float32).ravel(),
        )
    frames = sample_audio_frames(attach_fake_media(d)).collect()
    by_id: dict = {}
    for r in frames:
        by_id.setdefault(r.doc_id, {})[r.frame_idx] = r.rms
    assert len(by_id) == 8
    for did, fr in by_id.items():
        payload = hashlib.sha256(str(did).encode()).hexdigest().encode()
        wave = _fake_waveform(payload)
        starts = np.arange(0, len(wave) - 400, 4000)
        exp = np.sqrt(
            (wave[starts[:, None] + np.arange(400)].astype(np.float64) ** 2)
            .mean(axis=1)
        )
        assert len(fr) == len(starts)
        for j, e in enumerate(exp):
            assert fr[j] == pytest.approx(e, rel=1e-12)


def test_hash_split_negative_ids_cross_engine(spark):
    """DuckDB's sign-preserving % is wrapped to match Spark's pmod, so
    negative ids split identically in both engines."""
    import duckdb

    from dask_histogram_spark.operators import hash_split
    from dask_histogram_spark.operators.pipeline import hash_split_sql

    ids = list(range(-50, 50))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    ratios = {"train": 0.8, "val": 0.2}
    got = {r.doc_id: r.split for r in hash_split(df, ratios).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i})" for i in ids) + ") v(doc_id)"
    )
    exp = dict(con.execute(
        f"SELECT doc_id, {hash_split_sql(ratios)} FROM t"
    ).fetchall())
    assert got == exp
    # negative ids equidistribute rather than all landing in split 0
    assert {got[i] for i in range(-50, 0)} == {"train", "val"}


def test_registry_paths_leave_no_cached_blocks(spark):
    """The registry wrappers own the persisted-projection lifetime:
    after materializing minhash_lsh_stats and dedup_pipeline, no cached
    RDD blocks remain except the pipeline result's own localCheckpoint
    (it IS the returned data; superseded per-round checkpoints and the
    banded projection must all be gone)."""
    import gc
    import time

    from dask_histogram_spark.queries import QUERIES

    from dask_histogram_spark.operators import release_clusters_checkpoint

    sc = spark.sparkContext._jsc.sc()
    # settle the async ContextCleaner first: blocks leaked by EARLIER
    # tests are reclaimed when their Python handles are gc'd, and a
    # reclaim landing mid-test would make `base` stale
    gc.collect()
    def settle_to(limit, timeout=10.0):
        # async ContextCleaner/unpersist: poll until the block count
        # drains to the limit.  A REAL leak never drains, so the
        # assert still fails — this only absorbs reclaim timing (the
        # two-sample stability probe raced under host contention)
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if sc.getPersistentRDDs().size() <= limit:
                return
            time.sleep(0.25)

    settle_to(0, timeout=5.0)
    # if stale blocks remain past the drain attempt, wait for the
    # count to hold still over a full second before trusting it as
    # `base` — a base captured MID-drain would let later drains mask
    # a genuine leak under the <= asserts
    prev = -1
    for _ in range(40):
        cur = sc.getPersistentRDDs().size()
        if cur == 0 or cur == prev:
            break
        prev = cur
        time.sleep(1.0)
    base = sc.getPersistentRDDs().size()
    QUERIES["minhash_lsh_stats"](spark, SF_DIR).collect()
    settle_to(base)
    assert sc.getPersistentRDDs().size() <= base
    clusters = QUERIES["dedup_pipeline"](spark, SF_DIR)
    clusters.collect()
    settle_to(base + 1)
    assert sc.getPersistentRDDs().size() <= base + 1
    # the one surviving block is the result's own final-labels
    # checkpoint; its release handle drains it back to base
    release_clusters_checkpoint(clusters)
    settle_to(base)
    assert sc.getPersistentRDDs().size() <= base


def test_sig_agreement_gate_keeps_all_verified_winners(spark, tables):
    """The dedup_pipeline's two-tier verify gate (>= 10/32 signature
    components agree) must be a pure precision lever on real data: the
    exact-verified pair set from gated candidates equals the one from
    ungated candidates (the gate only discards pairs the 0.5-jaccard
    verifier would reject anyway)."""
    from dask_histogram_spark.operators import (
        jaccard_verify_pairs,
        minhash_lsh_candidates,
    )

    d = tables["documents"].select("doc_id", "text")
    corpus = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 100000))
    kw = dict(num_perm=32, bands=8, hash_fn="fnv1a32", max_bucket=20)
    ungated = minhash_lsh_candidates(corpus, **kw)
    gated = minhash_lsh_candidates(corpus, min_sig_matches=10, **kw)
    assert "sig_matches" in gated.columns
    v_all = {(r.id_a, r.id_b) for r in
             jaccard_verify_pairs(ungated, corpus, k=8, threshold=0.5).collect()}
    v_gated = {(r.id_a, r.id_b) for r in
               jaccard_verify_pairs(gated, corpus, k=8, threshold=0.5).collect()}
    assert v_all  # the dup corpus must actually produce winners
    assert v_gated == v_all


def test_verify_pairs_intersects_hashed_longs(spark, tables):
    """jaccard_verify_pairs must ship 8-byte hashed shingles through
    the pair joins by default (the round-3 plan shuffled raw k-char
    string arrays once per pair): arrow default = FNV-64 numpy kernel,
    column method = xxhash64 Column chain, raw = neither."""
    from dask_histogram_spark.operators import jaccard_verify_pairs

    d = tables["documents"].select("doc_id", "text").limit(50)
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    plan = (jaccard_verify_pairs(pairs, d)
            ._jdf.queryExecution().executedPlan().toString())
    assert "ArrowEvalPython" in plan, plan[:800]
    col = (jaccard_verify_pairs(pairs, d, method="column")
           ._jdf.queryExecution().executedPlan().toString())
    assert "xxhash64" in col, col[:800]
    raw = (jaccard_verify_pairs(pairs, d, hashed=False)
           ._jdf.queryExecution().executedPlan().toString())
    assert "xxhash64" not in raw and "ArrowEvalPython" not in raw, raw[:800]


def test_verify_pairs_arrow_matches_column(spark, tables):
    """Arrow FNV-64 shingling == the Column xxhash64 path on the real
    dup corpus (hash is join-internal; intersection counts agree)."""
    from dask_histogram_spark.operators import (
        jaccard_verify_pairs, minhash_lsh_candidates)

    d = tables["documents"].select("doc_id", "text")
    corpus = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 100000))
    cands = minhash_lsh_candidates(corpus, num_perm=32, bands=8,
                                   hash_fn="fnv1a32",
                                   max_bucket=20).localCheckpoint()
    a = {(r.id_a, r.id_b, r.jaccard) for r in jaccard_verify_pairs(
        cands, corpus, k=8, threshold=0.5, method="arrow").collect()}
    b = {(r.id_a, r.id_b, r.jaccard) for r in jaccard_verify_pairs(
        cands, corpus, k=8, threshold=0.5, method="column").collect()}
    assert a == b and a


def test_dedup_clusters_long_chain_converges_fast(spark):
    """Pointer doubling makes convergence O(log diameter): a 300-node
    path graph (diameter 299 — min-label propagation alone would blow
    the 25-round cap) must cluster to a single component."""
    from dask_histogram_spark.operators import (
        dedup_clusters,
        release_clusters_checkpoint,
    )

    n = 300
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    # force the distributed loop — the doubling bound is what's under test
    labels = dedup_clusters(pairs, small_graph_edges=0)
    rows = labels.collect()
    release_clusters_checkpoint(labels)
    assert len(rows) == n
    assert {r.cluster_id for r in rows} == {0}


def test_dedup_incremental_chained_equals_global(spark, tables):
    """Chaining incremental runs must reproduce a single global
    dedup_exact: winners(run1) + incremental(run2 vs run1) ==
    winners(global union), by (min-id, content) pairs."""
    from dask_histogram_spark.operators import dedup_exact, dedup_incremental

    d = tables["documents"].select("doc_id", "text")
    run1 = d
    run2 = d.select((F.col("doc_id") + 100000).alias("doc_id"), "text") \
        .unionByName(
            d.select((F.col("doc_id") + 200000).alias("doc_id"),
                     F.concat(F.col("text"), F.lit(" v2")).alias("text")))
    w1 = {r.doc_id for r in dedup_exact(run1).collect()}
    w2 = {r.doc_id for r in dedup_incremental(run2, run1).collect()}
    glob = {r.doc_id for r in
            dedup_exact(run1.unionByName(run2)).collect()}
    assert w1 | w2 == glob
    assert w1.isdisjoint(w2)
    # the exact re-crawls (ids +100000) never survive
    assert all(i >= 200000 for i in w2)


def test_hash_sample_deterministic_and_partition_invariant(spark):
    """hash_sample membership is a pure function of (id, seed): same
    ids at any partitioning; different seeds give a different subset;
    rate lands near the requested fraction."""
    from dask_histogram_spark.operators import hash_sample

    df = spark.createDataFrame([(i,) for i in range(4000)], "doc_id long")
    s1 = {r.doc_id for r in hash_sample(df, 0.25, seed=7).collect()}
    s2 = {r.doc_id for r in
          hash_sample(df.repartition(13), 0.25, seed=7).collect()}
    assert s1 == s2
    assert 0.2 < len(s1) / 4000 < 0.3
    other = {r.doc_id for r in hash_sample(df, 0.25, seed=8).collect()}
    assert other != s1  # seeds decorrelate


def test_hash_sample_seed_independence(spark):
    """Distribution check, not just determinism (the round-6 MinHash
    lesson): equal-rate samples at different seeds must intersect like
    independent draws (p^2), not like the disjoint/nested translates
    the single-round affine hash produced (seeds 7 vs 11 overlapped
    exactly 0% before the second hash round)."""
    from dask_histogram_spark.operators import hash_sample

    df = spark.createDataFrame([(i,) for i in range(20000)],
                               "doc_id long")
    sets = {s: {r.doc_id for r in hash_sample(df, 0.25, seed=s).collect()}
            for s in (7, 11, 12345, 1 << 40)}
    seeds = list(sets)
    for i in range(len(seeds)):
        for j in range(i + 1, len(seeds)):
            ol = len(sets[seeds[i]] & sets[seeds[j]]) / 20000
            assert 0.04 < ol < 0.09, (seeds[i], seeds[j], ol)


def test_hash_sample_negative_ids_cross_engine(spark):
    """The seed-xor + fold must select identical ids in Spark and
    DuckDB for negative ids too (sign-extension and % semantics differ
    between the engines; the SQL twin wraps them)."""
    import duckdb

    from dask_histogram_spark.operators import hash_sample
    from dask_histogram_spark.operators.pipeline import hash_sample_sql

    ids = list(range(-200, 200))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = sorted(r.doc_id for r in hash_sample(df, 0.3, seed=11).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i})" for i in ids) + ") v(doc_id)"
    )
    exp = sorted(r[0] for r in con.execute(
        f"SELECT doc_id FROM t WHERE {hash_sample_sql(0.3, seed=11)}"
    ).fetchall())
    assert got == exp
    assert any(i < 0 for i in got)  # negatives actually participate


def test_stratified_sample_per_group_and_cross_engine(spark):
    """stratified_sample == hash_sample restricted per group (same
    hash, same seed), membership is partition-invariant, unlisted
    groups fall back to default_rate, and the SQL twin selects the
    identical ids in DuckDB."""
    import duckdb

    from dask_histogram_spark.operators import hash_sample, stratified_sample
    from dask_histogram_spark.operators.pipeline import stratified_sample_sql

    rows = [(i, ["en", "de", "xx"][i % 3]) for i in range(-300, 300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {"en": 0.6, "de": 0.2}
    got = {r.doc_id for r in
           stratified_sample(df, rates, "lang", seed=5,
                             default_rate=0.05).collect()}
    assert got == {r.doc_id for r in
                   stratified_sample(df.repartition(7), rates, "lang",
                                     seed=5, default_rate=0.05).collect()}
    for lang, rate in [("en", 0.6), ("de", 0.2), ("xx", 0.05)]:
        sub = df.where(F.col("lang") == lang)
        exp_g = {r.doc_id for r in hash_sample(sub, rate, seed=5).collect()}
        assert {i for i in got
                if dict(rows)[i] == lang} == exp_g, lang
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{g}')" for i, g in rows) + ") v(doc_id, lang)"
    )
    exp = {r[0] for r in con.execute(
        "SELECT doc_id FROM t WHERE " + stratified_sample_sql(
            rates, "lang", seed=5, default_rate=0.05)
    ).fetchall()}
    assert got == exp


def test_contamination_check_counts(spark):
    """Known-overlap corpus: per-doc hit counts, ratio and flag match
    hand-computed values; benchmark docs never appear in the output."""
    from dask_histogram_spark.operators import contamination_check

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over a sleeping cat"),   # shares grams
         (2, "entirely different text with no overlap at all"),
         (3, "the quick brown fox jumps over the lazy dog")],    # exact copy
        "doc_id long, text string")
    got = {r.doc_id: r for r in
           contamination_check(train, bench, n=3, threshold=0.5).collect()}
    assert set(got) == {1, 2, 3}
    # doc 3 is a verbatim copy: every gram hits
    assert got[3].n_hits == got[3].n_grams and got[3].contaminated == 1
    assert got[2].n_hits == 0 and got[2].contaminated == 0
    # doc 1 shares exactly the 3-grams of the common prefix
    # "the quick brown fox jumps over": 4 of its 7 grams
    assert got[1].n_grams == 7 and got[1].n_hits == 4
    assert got[1].contaminated == (1 if 4 / 7 >= 0.5 else 0)


def test_null_text_propagates_consistently(spark):
    """NULL text rows: every Arrow kernel agrees with its Column twin —
    NULL in, NULL out (with language_id's 'unknown' fallback), and a
    null doc can never pair in similarity joins."""
    from dask_histogram_spark.operators import (
        contamination_check, fingerprint, ngram_jaccard_pairs,
        simhash_signatures, text_profile)

    df = spark.createDataFrame(
        [(1, "hello world hello"), (2, None), (3, "")],
        "doc_id long, text string")
    for method in ("arrow", "column"):
        fp = {r.doc_id: r.fingerprint for r in fingerprint(
            df, hash_fn="fnv1a32", method=method).collect()}
        assert fp[2] is None and fp[3] is not None, method
    prof = {r.doc_id: r for r in text_profile(df).collect()}
    assert prof[2].pred_lang == "unknown" and prof[2].s_en is None
    assert prof[2].fingerprint is None
    # simhash 64-bit fold: null signature like the 32-bit Column path
    s64 = {r.doc_id: r.simhash for r in simhash_signatures(df).collect()}
    s32 = {r.doc_id: r.simhash
           for r in simhash_signatures(df, hash_fn="fnv1a32").collect()}
    assert s64[2] is None and s32[2] is None
    # jaccard strategies: the null doc pairs with nothing; the empty
    # doc still self-pairs across strategies
    for strat in ("bincount", "index"):
        got = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(
            df.unionByName(df.withColumn("doc_id", F.col("doc_id") + 10)),
            k=3, threshold=0.9, strategy=strat).collect()}
        assert (2, 12) not in got and (1, 11) in got and (3, 13) in got, strat
    # minhash: null docs are excluded (a constant-hash null shingle
    # would otherwise collide them all into one LSH bucket)
    from dask_histogram_spark.operators import minhash_signatures

    sigs = {r.doc_id for r in minhash_signatures(df, num_perm=8).collect()}
    assert sigs == {1, 3}
    # contamination: null train doc -> NULL counts in both methods
    bench = spark.createDataFrame([(9, "hello world")],
                                  "doc_id long, text string")
    for method in ("arrow", "column"):
        got = {r.doc_id: r for r in contamination_check(
            df, bench, n=2, method=method).collect()}
        assert got[2].n_grams is None and got[2].contaminated is None, method
        assert got[1].n_hits == 1, method


def test_text_profile_matches_single_feature_ops(spark, tables):
    """The one-pass text_profile kernel == language_id JOIN
    fingerprint(fnv1a32, Column path) on real data + edge rows."""
    import pandas as pd

    from dask_histogram_spark.operators import (
        fingerprint, language_id, text_profile)

    rows = [(100, "  the of la le und "), (101, ""), (102, "héllo 日本語"),
            (103, "el la der the de un")]
    edge = spark.createDataFrame(rows, "doc_id long, text string")
    for df in (tables["documents"].select("doc_id", "text"), edge):
        a = (text_profile(df).toPandas()
             .sort_values("doc_id").reset_index(drop=True))
        b = (language_id(df)
             .join(fingerprint(df, hash_fn="fnv1a32", method="column"),
                   "doc_id")
             .toPandas().sort_values("doc_id").reset_index(drop=True))
        pd.testing.assert_frame_equal(a, b[a.columns], check_dtype=False)


def test_fingerprint_arrow_matches_column(spark, tables):
    """The Arrow fingerprint kernel == the pure-Column fnv1a32 fold on
    real data plus whitespace/unicode edge rows."""
    rows = [(100, "  leading spaces"), (101, "\ttab nbsp mix"),
            (102, ""), (103, "héllo wörld 日本語")]
    edge = spark.createDataFrame(rows, "doc_id long, text string")
    for df in (tables["documents"].select("doc_id", "text"), edge):
        a = {r.doc_id: r.fingerprint for r in
             fingerprint(df, hash_fn="fnv1a32", method="arrow").collect()}
        b = {r.doc_id: r.fingerprint for r in
             fingerprint(df, hash_fn="fnv1a32", method="column").collect()}
        assert a == b


def test_contamination_check_arrow_matches_column(spark, tables):
    """The one-kernel Arrow path (batch-vectorized token hashing +
    rolling gram combine) returns exactly
    the rows of the Column/xxhash64 reference path on real data PLUS
    whitespace edge rows (trailing newline, NBSP, tabs — where Python
    .strip()/Unicode \\s would diverge from Spark trim/Java \\s)."""
    from dask_histogram_spark.operators import contamination_check

    d = tables["documents"].select("doc_id", "text")
    edge = spark.createDataFrame(
        [(900001, "hello world foo\n"), (900002, "a b c d"),
         (900003, "\ttab lead x y"), (900004, "  space lead z w ")],
        "doc_id long, text string")
    d = d.unionByName(edge)
    train = d.where(F.pmod(F.col("doc_id"), F.lit(97)) != 0)
    bench = d.where(F.pmod(F.col("doc_id"), F.lit(97)) == 0)
    import pandas as pd

    a = (contamination_check(train, bench, method="arrow")
         .toPandas().sort_values("doc_id").reset_index(drop=True))
    b = (contamination_check(train, bench, method="column")
         .toPandas().sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)


def test_contamination_near_dup_flags_and_gate(spark):
    """NEAR-dup contamination: an exact copy and a lightly-edited copy
    of a benchmark doc both flag at the J>=0.5 gate; fresh and NULL
    docs report 0; a perfect-agreement gate (min_sig_matches =
    num_perm) keeps the exact copy and drops the edited one; the
    count is DISTINCT benchmark matches."""
    from dask_histogram_spark.operators import contamination_near_dup

    body = ("benchmark question stem with a long shared body of words "
            "that gives plenty of shingles to agree on across the "
            "minhash permutations of this test corpus")
    bench = spark.createDataFrame(
        [(100, body), (101, body + " duplicated eval entry")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, body),                                   # exact leak
         (2, body + " with a trailing paraphrase"),   # near-dup leak
         (3, "entirely fresh training text qzx vbn mlk jhg fds apw "
             "nothing shared with the benchmark at all"),
         (4, None)],
        "doc_id long, text string")
    got = {r.doc_id: r for r in
           contamination_near_dup(train, bench, num_perm=32,
                                  bands=8).collect()}
    assert set(got) == {1, 2, 3, 4}
    # doc 1 matches BOTH bench docs (101 is itself a near-dup of 100):
    # distinct-count semantics
    assert got[1].n_matched_bench == 2 and got[1].contaminated == 1
    assert got[2].n_matched_bench >= 1 and got[2].contaminated == 1
    assert got[3].n_matched_bench == 0 and got[3].contaminated == 0
    assert got[4].n_matched_bench == 0 and got[4].contaminated == 0

    strict = {r.doc_id: r.n_matched_bench for r in
              contamination_near_dup(train, bench, num_perm=32, bands=8,
                                     min_sig_matches=32).collect()}
    assert strict[1] >= 1      # verbatim copy agrees on all 32
    assert strict[2] == 0      # edited copy cannot


def test_contamination_near_dup_bench_bucket_cap(spark):
    """max_bench_bucket drops benchmark band buckets above the cap
    BEFORE the broadcast: with a degenerate benchmark of identical
    docs (every band bucket holds all of them), a cap below the
    benchmark size disables matching entirely."""
    from dask_histogram_spark.operators import contamination_near_dup

    body = ("shared degenerate eval template body with enough words "
            "to shingle across every permutation of the signature")
    bench = spark.createDataFrame(
        [(100 + i, body) for i in range(8)], "doc_id long, text string")
    train = spark.createDataFrame([(1, body)], "doc_id long, text string")
    full = contamination_near_dup(train, bench).collect()[0]
    assert full.n_matched_bench == 8
    capped = contamination_near_dup(train, bench,
                                    max_bench_bucket=4).collect()[0]
    assert capped.n_matched_bench == 0 and capped.contaminated == 0


def test_sorted_member_count_matches_isin():
    """`_sorted_member_count` (searchsorted against the sorted-unique
    benchmark array) must agree with np.isin on every shape: hits,
    misses, duplicates in h, first/last element of b, empty h, empty
    b.  np.isin re-sorts b per call (626x slower at sf1 bench sizes)
    but is the semantic reference."""
    import numpy as np

    from dask_histogram_spark.operators.pipeline import _sorted_member_count

    rng = np.random.default_rng(7)
    b = np.unique(rng.integers(-1000, 1000, 500))
    cases = [
        rng.integers(-1000, 1000, 52),
        np.array([b[0], b[-1], b[0], 2000, -2000]),
        b[:10].copy(),
        np.zeros(0, dtype=np.int64),
    ]
    for h in cases:
        assert _sorted_member_count(h, b) == int(np.isin(h, b).sum())
    assert _sorted_member_count(cases[0], np.zeros(0, dtype=np.int64)) == 0


def test_contamination_check_train_side_is_narrow(spark, tables):
    """The training side must be a single pass: no Exchange anywhere in
    the plan (benchmark grams are a broadcast numpy array, not a join
    side)."""
    from dask_histogram_spark.operators import contamination_check

    d = tables["documents"].select("doc_id", "text")
    train = d.where(F.pmod(F.col("doc_id"), F.lit(97)) != 0)
    bench = d.where(F.pmod(F.col("doc_id"), F.lit(97)) == 0)
    plan = (contamination_check(train, bench)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan, plan[:1200]


def test_dedup_incremental_shuffles_hash_not_text(spark, tables):
    """The cross-run anti-join must exchange 8-byte content hashes,
    never document text."""
    from dask_histogram_spark.operators import dedup_incremental

    d = tables["documents"].select("doc_id", "text")
    plan = (dedup_incremental(d, d)
            ._jdf.queryExecution().executedPlan().toString())
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line
    assert "xxhash64" in plan


def test_empty_inputs_return_typed_empty_results(spark):
    """Empty tables: every similarity/dedup/pipeline entry point
    returns an empty, correctly-typed result instead of raising."""
    from dask_histogram_spark.operators import (
        brute_force_topk, contamination_check, dedup_exact,
        embedding_near_dup_pairs, minhash_lsh_candidates,
        ngram_jaccard_pairs, stratified_sample)

    empty = spark.createDataFrame([], "doc_id long, text string")
    eemb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int")
    docs = spark.createDataFrame([(1, "hello world")],
                                 "doc_id long, text string")
    assert minhash_lsh_candidates(empty, num_perm=8, bands=4,
                                  max_bucket=5).count() == 0
    assert ngram_jaccard_pairs(empty, k=3, threshold=0.5).count() == 0
    assert dedup_exact(empty).count() == 0
    assert contamination_check(empty, docs).count() == 0
    assert contamination_check(docs, empty).count() == 1  # 0 hits
    assert stratified_sample(empty, {"en": 0.5}, "text").count() == 0
    nd = embedding_near_dup_pairs(eemb, threshold=0.5, planes=4)
    assert nd.count() == 0
    assert [f.name for f in nd.schema.fields] == ["id_a", "id_b", "cos_sim"]
    assert brute_force_topk(eemb, eemb, k=3).count() == 0


def test_bpe_like_token_count_cross_engine(spark):
    """BPE-style pre-tokenizer match counts agree with DuckDB's RE2 on
    punctuation/digit/space-heavy edge strings (the pattern is
    deliberately lookahead-free so both engines run it)."""
    import duckdb

    texts = ["Hello, world! It's 2026.", "", "   ", "a1b2 c3",
             "don't-stop 12.5%", "multi  space\ttab",
             "def f(x): return x+1  # code!"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r.doc_id: r.bpe_like_tokens
           for r in token_counts(df).collect()}
    con = duckdb.connect()
    for i, t in enumerate(texts):
        exp = con.execute(
            "SELECT len(regexp_extract_all(?,"
            " ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))", [t]
        ).fetchone()[0]
        assert got[i] == exp, (i, t)
    assert got[0] == 9  # Hello|,| world|!| It|'|s| 2026|.


def test_near_dup_band_repetition_recall(spark):
    """LSH band repetition (the production recall lever): repetitions
    r unions r independent signature tables in one pass — candidates
    are a superset of the single-table run and recall of planted
    near-dups rises toward 1 (deterministic for fixed seeds)."""
    from dask_histogram_spark.operators import embedding_near_dup_pairs

    rng = np.random.default_rng(5)
    base = rng.standard_normal((400, 32))
    rows = [(i, base[i].astype(float).tolist()) for i in range(400)]
    rows += [(1000 + i,
              (base[i] + rng.standard_normal(32) * 0.01)
              .astype(float).tolist())
             for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planted = {(i, 1000 + i) for i in range(400)}

    def found(r):
        return {(x.id_a, x.id_b) for x in embedding_near_dup_pairs(
            df, threshold=0.99, planes=16, repetitions=r).collect()}

    r1, r5 = found(1), found(5)
    assert r1 <= r5                       # rep 0 shares the seed
    assert len(r1 & planted) == 378       # pinned: single-table misses
    assert r5 & planted == planted        # 5 repetitions: full recall
    assert not (r5 - planted)             # no false positives at 0.99


def test_near_dup_null_first_row_and_ragged(spark):
    """A NULL embedding in the FIRST row (dim probe) and wrong-length
    vectors must not break the LSH path; null/ragged docs are excluded
    and can never pair (their cosine would be NULL anyway)."""
    from dask_histogram_spark.operators import embedding_near_dup_pairs

    rows = [(0, None), (1, [1.0, 0.0, 0.0]), (2, [1.0, 0.001, 0.0]),
            (3, [0.5, 0.5]), (4, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for r in (1, 3):
        got = {(x.id_a, x.id_b) for x in embedding_near_dup_pairs(
            df, threshold=0.99, planes=8, repetitions=r).collect()}
        assert got == {(1, 2)}, r
    # all-null table: typed empty result, no crash
    allnull = spark.createDataFrame([(0, None), (1, None)],
                                    "vec_id long, embedding array<float>")
    assert embedding_near_dup_pairs(allnull, planes=4).count() == 0


def test_ivf_indexed_matches_inline(spark, tables, tmp_path):
    """build_ivf_index + ivf_topk_indexed return exactly the inline
    ivf_topk rows, and the indexed scan is partition-pruned to the
    probed cid buckets."""
    from dask_histogram_spark.operators import (
        build_ivf_index, ivf_topk_indexed)

    emb = tables["embeddings"]
    queries = emb.where(F.col("vec_id") < 3)
    rng = np.random.default_rng(0)
    vecs = np.stack([np.array(r.embedding) for r in emb.collect()])
    centroids = vecs[rng.choice(len(vecs), size=8, replace=False)]
    path = str(tmp_path / "ivf_index")
    build_ivf_index(emb, centroids, path)

    inline = ivf_topk(emb, queries, centroids, k=5, nprobe=2)
    # stored-centroid default path (no centroids argument)
    indexed = ivf_topk_indexed(path, queries, k=5, nprobe=2)
    assert sorted(map(tuple, indexed.collect()), key=lambda t: (t[0], t[3])) \
        == sorted(map(tuple, inline.collect()), key=lambda t: (t[0], t[3]))
    # partition pruning: the probed cid set reaches the scan
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan, plan[:1500]
    import re as _re

    m = _re.search(r"PartitionFilters: \[[^\]]*cid[^\]]*\]", plan)
    assert m, plan[:1500]


def test_ivf_sql_exprs_match_column_forms(spark):
    """The one-SQL-string IVF expression builders (round-15 plan-build
    optimization: 1,861 -> ~500 py4j round-trips per search build)
    return exactly the Column-form rows — including the degenerate
    vectors (zero, null, short, NaN) whose -2.0/NULL rules the SQL
    must spell identically (0.0D double literals, nullif, coalesce)."""
    from dask_histogram_spark.operators.similarity import (
        _assign_cid, _assign_cid_column, _centroid_literal,
        _cosine_sql, _probe_queries, _probe_queries_column, _q,
        cosine_expr)

    rng = np.random.default_rng(7)
    C = rng.normal(size=(4, 8))
    C[2] = 0.0  # zero centroid -> NULL denominator -> coalesce(-2.0)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(40)]
    rows += [(100, [0.0] * 8), (101, None), (102, [1.0] * 3),
             (103, [float("nan")] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def canon(d):
        return sorted(repr(r) for r in d.collect())

    a_sql = _assign_cid(df, C, "vec_id", "embedding")
    a_col = _assign_cid_column(df, _centroid_literal(C), "vec_id",
                               "embedding")
    assert a_sql.schema == a_col.schema
    assert canon(a_sql) == canon(a_col)

    p_sql = _probe_queries(df, C, 2, "vec_id", "embedding")
    p_col = _probe_queries_column(df, _centroid_literal(C), 2, "vec_id",
                                  "embedding")
    assert p_sql.schema == p_col.schema
    assert canon(p_sql) == canon(p_col)

    # the scoring projection's SQL cosine == the Column cosine_expr
    scored_base = (a_col.join(F.broadcast(p_col), on="cid")
                   .where(F.col("query_id") != F.col("vec_id")))
    s_sql = scored_base.select(
        "query_id", F.col("vec_id").alias("neighbor_id"),
        F.expr(f"round({_cosine_sql('__qv', _q('embedding'))}, 6)")
        .alias("cos_sim"))
    s_col = scored_base.select(
        "query_id", F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_expr(F.col("__qv"), F.col("embedding")), 6)
        .alias("cos_sim"))
    assert s_sql.schema == s_col.schema
    assert canon(s_sql) == canon(s_col)


def test_ivf_arrow_centroid_kernel_matches_column(spark, tables,
                                                  tmp_path, monkeypatch):
    """The Arrow assignment/probe kernels (the C x dim plan-size fix —
    the unrolled centroid literal's analysis+codegen wall scales with
    the centroid count, measured 13/24/96 s at C=64/256/1024 on a
    FIXED 100k corpus) must reproduce the Column path exactly:
    same cid per vector (argmax ties to the smallest cid), same
    probe sets, same top-k rows — including the degenerate rules
    (zero / short / null vectors -> cid 0)."""
    import dask_histogram_spark.operators.similarity as sim
    from dask_histogram_spark.operators import (
        build_ivf_index, ivf_topk_indexed)

    emb = tables["embeddings"]
    dim = len(emb.select("embedding").first()[0])
    degen = spark.createDataFrame(
        [(900001, [0.0] * dim), (900002, [0.5] * (dim - 1)),
         (900003, None)],
        "vec_id long, embedding array<float>")
    corpus = emb.select("vec_id", "embedding").unionByName(degen)
    queries = emb.where(F.col("vec_id") < 4)
    rng = np.random.default_rng(3)
    vecs = np.stack([np.array(r.embedding) for r in emb.collect()])
    centroids = vecs[rng.choice(len(vecs), size=8, replace=False)]

    def run(tag):
        path = str(tmp_path / f"ivf_{tag}")
        build_ivf_index(corpus, centroids, path)
        rows = ivf_topk_indexed(path, queries, k=5, nprobe=3).collect()
        cids = {r.vec_id: r.cid for r in
                spark.read.parquet(path).select("vec_id", "cid").collect()}
        return sorted(map(tuple, rows)), cids

    col_rows, col_cids = run("column")
    monkeypatch.setattr(sim, "_CENTROID_LITERAL_MAX", 0)
    arw_rows, arw_cids = run("arrow")
    assert arw_cids == col_cids
    assert arw_rows == col_rows
    # degenerate vectors land in cid 0 on both paths
    assert col_cids[900001] == col_cids[900002] == col_cids[900003] == 0


def test_near_dup_null_element_vector(spark):
    """A vector with a NULL ELEMENT (size matches dim, so it survives
    the dimension filter) must not crash the Arrow signature kernel:
    null elements coerce to NaN, every plane dot goes NaN, and the
    signature is the same all-'0' string the Column fold emits — both
    methods return identical pairs, and the null-element vector can
    never pass the cosine threshold (its cosine is NULL)."""
    from dask_histogram_spark.operators import embedding_near_dup_pairs

    rows = [(0, [1.0, None, 0.0]), (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.001, 0.0]), (3, [None, None, None])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for method in ("arrow", "column"):
        got = {(x.id_a, x.id_b) for x in embedding_near_dup_pairs(
            df, threshold=0.99, planes=8, method=method).collect()}
        assert got == {(1, 2)}, method


def test_multiprobe_banding_flips_lowest_margin_bit(spark):
    """Multi-probe band rows: per (vector, rep) the base signature
    plus `probes` variants, each differing in EXACTLY one bit — the
    t-th lowest-|dot| bit per numpy's stable argsort — identically in
    the Arrow kernel and the Column twin, including the null-element
    vector whose margins are all NaN/NULL (flip tie-breaks to bit 0)."""
    import numpy as np

    from dask_histogram_spark.operators.similarity import (
        _hyperplane_banded)

    planes, dim, seed = 6, 4, 23
    rng = np.random.default_rng(7)
    vecs = [rng.standard_normal(dim).tolist() for _ in range(5)]
    # 9: NULL element; 8: true float NaN element — indistinguishable
    # after the Arrow kernel's coercion, and _sign_bit pins the Column
    # twin to the same all-'0' convention (bare SQL NaN >= 0 is TRUE)
    rows = ([(i, v) for i, v in enumerate(vecs)]
            + [(9, [1.0, None, 0.0, 2.0]),
               (8, [1.0, float("nan"), 0.0, 2.0])])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {}
    for method in ("arrow", "column"):
        banded, _ = _hyperplane_banded(df, "embedding", "vec_id",
                                       planes, seed, 2, method, probes=2)
        got[method] = sorted(
            (r["vec_id"], r["__rep"], r["__probe"], r["__sig"])
            for r in banded.collect())
    assert got["arrow"] == got["column"]
    by_key = {}
    for vid, rep, probe, sig in got["arrow"]:
        by_key.setdefault((vid, rep), {})[probe] = sig
    H0 = np.random.default_rng(seed).standard_normal((planes, dim))
    for (vid, rep), sigs in by_key.items():
        assert set(sigs) == {0, 1, 2}
        base = sigs[0]
        for t in (1, 2):
            diff = [p for p in range(planes) if sigs[t][p] != base[p]]
            assert len(diff) == 1, (vid, rep, t)
        # independent numpy twin of the flip ranking (rep 0 only)
        if rep == 0 and vid < len(vecs):
            dots = H0 @ np.asarray(vecs[vid], dtype=np.float64)
            order = np.argsort(np.abs(dots), kind="stable")
            exp_base = "".join("1" if d >= 0 else "0" for d in dots)
            assert base == exp_base
            for t in (1, 2):
                flip = [p for p in range(planes)
                        if sigs[t][p] != base[p]][0]
                assert flip == order[t - 1], (vid, t)
    # null-element and NaN-element vectors: all-'0' base (margins all
    # NaN/NULL), flips tie-break to bits 0 then 1
    for vid in (8, 9):
        assert by_key[(vid, 0)][0] == "0" * planes
        assert {p for t in (1, 2)
                for p in range(planes)
                if by_key[(vid, 0)][t][p] != by_key[(vid, 0)][0][p]
                } == {0, 1}


def test_multiprobe_recovers_single_bit_miss(spark, tmp_path):
    """The recall mechanism end-to-end: construct a near-duplicate
    pair that disagrees in EXACTLY the query's minimum-margin bit
    (solve v = H^-1 @ dots for pinned dot targets), persist the seen
    vector, and check the probed batch finds it where the unprobed
    one cannot; counts are duplicate-free (superset property on the
    exact re-ingest)."""
    import numpy as np

    from dask_histogram_spark.operators import (
        embedding_dedup_incremental, write_embedding_signature_table)

    planes = dim = 4
    seed = 23
    H = np.random.default_rng(seed).standard_normal((planes, dim))
    Hinv = np.linalg.inv(H)
    v_seen = Hinv @ np.array([2.0, 2.0, 2.0, 0.02])
    v_new = Hinv @ np.array([2.0, 2.0, 2.0, -0.02])   # crosses plane 3 only
    cos = float(v_seen @ v_new /
                (np.linalg.norm(v_seen) * np.linalg.norm(v_new)))
    assert cos > 0.99
    seen = spark.createDataFrame(
        [(0, v_seen.tolist()), (1, (v_seen * -1.0).tolist())],
        "vec_id long, embedding array<float>")
    write_embedding_signature_table(
        seen, "mp_sigs", planes=planes, seed=seed, repetitions=1,
        n_buckets=4, path=str(tmp_path / "mp"))
    try:
        new = spark.createDataFrame(
            [(100, v_new.tolist()), (101, v_seen.tolist())],
            "vec_id long, embedding array<float>")
        base = {r.vec_id: r.n_matched_seen for r in
                embedding_dedup_incremental(
                    new, "mp_sigs", threshold=0.99).collect()}
        probed = {r.vec_id: r.n_matched_seen for r in
                  embedding_dedup_incremental(
                      new, "mp_sigs", threshold=0.99, probes=1).collect()}
        assert base[100] == 0 and probed[100] == 1   # recovered miss
        assert base[101] == 1 and probed[101] == 1   # no double-count
        # base_counts=True fuses both gates into ONE banded join
        # (round-15): n_matched_seen must equal the probes=1 call's
        # count and n_matched_seen_base the probes=0 call's — pinned
        # on the discriminating pair above, where the two differ
        fused = {r.vec_id: (r.n_matched_seen, r.n_matched_seen_base)
                 for r in embedding_dedup_incremental(
                     new, "mp_sigs", threshold=0.99, probes=1,
                     base_counts=True).collect()}
        assert fused == {vid: (probed[vid], base[vid])
                         for vid in (100, 101)}
        with pytest.raises(ValueError, match="requires probes"):
            embedding_dedup_incremental(new, "mp_sigs",
                                        base_counts=True)
    finally:
        spark.sql("DROP TABLE IF EXISTS mp_sigs")
        spark.sql("DROP TABLE IF EXISTS mp_sigs__params")


def test_contamination_near_dup_empty_inputs(spark):
    """Empty benchmark -> every train doc reports 0 / clean; empty
    train -> empty output; probed incremental on an empty batch stays
    empty (the empty-input convention of the other gate operators)."""
    from dask_histogram_spark.operators import contamination_near_dup

    schema = "doc_id long, text string"
    train = spark.createDataFrame(
        [(1, "some training document body with words")], schema)
    empty = spark.createDataFrame([], schema)
    got = contamination_near_dup(train, empty).collect()
    assert [(r.doc_id, r.n_matched_bench, r.contaminated)
            for r in got] == [(1, 0, 0)]
    assert contamination_near_dup(empty, train).collect() == []


def test_minhash_lsh_stats_string_ids(spark):
    """minhash_lsh_stats with a STRING id column: the capped-bucket
    empty-array fallback must carry the id column's actual type (a
    hardcoded long struct fails analysis), and the row matches the
    long-id run on the same texts.  Also pins the exact row when every
    bucket is capped and when there is no bucket at all."""
    from dask_histogram_spark.operators import minhash_lsh_stats

    texts = [f"doc body number {i % 4} repeated words here" for i in range(24)]
    longs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    strs = spark.createDataFrame(
        [(f"d{i:04d}", t) for i, t in enumerate(texts)],
        "doc_id string, text string")
    # max_bucket=2 caps every bucket, so no bucket emits a pair
    for df in (longs, strs):
        assert tuple(minhash_lsh_stats(df, max_bucket=2).collect()[0]) == (
            0, 2508, 39, 24, 39)
    # no bucket at all: empty input, and text that is entirely NULL
    nulls = spark.createDataFrame([(i, None) for i in range(5)],
                                  "doc_id long, text string")
    for df in (longs.limit(0), nulls):
        assert tuple(minhash_lsh_stats(df).collect()[0]) == (
            0, None, 0, None, None)


def test_stratified_sample_sql_quoted_group(spark):
    """A group value containing a single quote must survive the SQL
    twin: the literal is emitted single-quoted with '' escaping (a
    Python repr would switch to double quotes, which DuckDB parses as
    an identifier)."""
    import duckdb

    from dask_histogram_spark.operators import stratified_sample
    from dask_histogram_spark.operators.pipeline import stratified_sample_sql

    rows = [(i, "o'neill" if i % 2 else "plain") for i in range(-50, 50)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {"o'neill": 0.7, "plain": 0.2}
    got = {r.doc_id for r in
           stratified_sample(df, rates, "lang", seed=3).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{g.replace(chr(39), chr(39) * 2)}')"
                    for i, g in rows) + ") v(doc_id, lang)")
    exp = {r[0] for r in con.execute(
        "SELECT doc_id FROM t WHERE "
        + stratified_sample_sql(rates, "lang", seed=3)).fetchall()}
    assert got == exp and got


def test_build_ivf_index_rebuild_static_under_dynamic_mode(spark, tables,
                                                           tmp_path):
    """Rebuilding an IVF index with a DIFFERENT centroid set must fully
    replace the old partition layout even when the session default is
    partitionOverwriteMode=dynamic — stale cid directories from the old
    assignment would otherwise be scored against the new sidecar's
    centroids."""
    from dask_histogram_spark.operators import (
        build_ivf_index, load_ivf_centroids)

    emb = tables["embeddings"]
    vecs = np.stack([np.array(r.embedding) for r in emb.collect()])
    path = str(tmp_path / "ivf_rebuild")
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        build_ivf_index(emb, vecs[:8], path)
        assert {r.cid for r in
                spark.read.parquet(path).select("cid").distinct().collect()
                } == set(range(8))
        build_ivf_index(emb, vecs[:2], path)  # rebuild: fewer centroids
        cids = {r.cid for r in
                spark.read.parquet(path).select("cid").distinct().collect()}
        assert cids == {0, 1}, f"stale partitions survived: {cids}"
        assert load_ivf_centroids(spark, path).shape[0] == 2
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)


def test_minhash_agreement_tracks_true_jaccard(spark):
    """Regression for the round-6 permutation fix: the minhash
    component-agreement rate is an unbiased estimate of shingle
    jaccard, so clearly-dissimilar documents must NOT collide.  (The
    old M61 small-multiplier hash wrapped its modulus at most twice —
    piecewise order-preserving — and docs at true jaccard 0.03 agreed
    on 32/32 components whenever they shared one globally-low-hash
    shingle.)"""
    from dask_histogram_spark.operators import minhash_signatures

    rows = [(i, " ".join(f"w{(i * 97 + j * 13) % 5000}" for j in range(16)))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r.doc_id: list(r.sig)
            for r in minhash_signatures(df, num_perm=32).collect()}

    def shingles(t):
        return {t[i:i + 5] for i in range(max(len(t) - 4, 1))}

    texts = dict(rows)
    for i in range(0, 60, 7):
        for j in range(i + 1, 60, 11):
            si, sj = shingles(texts[i]), shingles(texts[j])
            true_j = len(si & sj) / len(si | sj)
            agree = sum(a == b for a, b in zip(sigs[i], sigs[j])) / 32
            # binomial(32, J): allow a wide band, but a dissimilar pair
            # must never look like a near-dup
            if true_j < 0.2:
                assert agree < 0.5, (i, j, true_j, agree)
    # and an identical pair must agree fully
    dup = spark.createDataFrame(
        [(1000, texts[0])], "doc_id long, text string")
    sd = minhash_signatures(df.limit(1).unionByName(dup),
                            num_perm=32).collect()
    assert list(sd[0].sig) == list(sd[1].sig)


def test_ivf_quantized_index(spark, tables, tmp_path):
    """build_ivf_index(quantize=True) stores 1-byte components; the
    search detects the layout from the schema, keeps partition pruning,
    and returns near-identical neighbors (int8 reconstruction error
    <0.5%/component — rank swaps only among near-ties)."""
    import os

    from dask_histogram_spark.operators import (
        build_ivf_index, ivf_topk_indexed)

    emb = tables["embeddings"]
    queries = emb.where(F.col("vec_id") < 3)
    vecs = np.stack([np.array(r.embedding) for r in emb.collect()])
    centroids = vecs[np.random.default_rng(0).choice(
        len(vecs), size=8, replace=False)]
    fpath = str(tmp_path / "ivf_f")
    qpath = str(tmp_path / "ivf_q")
    build_ivf_index(emb, centroids, fpath)
    build_ivf_index(emb, centroids, qpath, quantize=True)

    def disk_bytes(p):
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(p) for f in fs
                   if not r.endswith("_centroids"))

    assert disk_bytes(qpath) < 0.7 * disk_bytes(fpath)
    fl = ivf_topk_indexed(fpath, queries, k=5, nprobe=2)
    qz = ivf_topk_indexed(qpath, queries, k=5, nprobe=2)
    plan = qz._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan, plan[:1200]
    f_sets = {}
    for r in fl.collect():
        f_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    q_sets = {}
    for r in qz.collect():
        q_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(f_sets) == set(q_sets)
    overlap = sum(len(f_sets[q] & q_sets[q]) for q in f_sets)
    total = sum(len(f_sets[q]) for q in f_sets)
    assert overlap / total >= 0.8, (overlap, total)
    # NULL-element parity: a vector with a null component is unscorable
    # (NULL cosine) in the float layout; the quantized layout must not
    # resurrect it by quantizing the null to 0
    tiny = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]),
         (2, [0.8, None, 0.0]), (3, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>")
    tcent = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
    tq = tiny.where(F.col("vec_id") == 0)
    fp2, qp2 = str(tmp_path / "tf2"), str(tmp_path / "tq2")
    build_ivf_index(tiny, tcent, fp2)
    build_ivf_index(tiny, tcent, qp2, quantize=True)
    rf = {(r.query_id, r.neighbor_id)
          for r in ivf_topk_indexed(fp2, tq, k=3, nprobe=1).collect()
          if r.cos_sim is not None}
    rq = {(r.query_id, r.neighbor_id)
          for r in ivf_topk_indexed(qp2, tq, k=3, nprobe=1).collect()
          if r.cos_sim is not None}
    assert rf == rq and (0, 2) not in rq, (rf, rq)


def test_signature_table_formula_mismatch_fails_loudly(spark, tmp_path):
    """A persisted signature table written under a DIFFERENT permutation
    formula must fail the name-based read with a clear error — matching
    params with drifted formula arithmetic would otherwise silently
    report every document as fresh."""
    from dask_histogram_spark.operators import (
        dedup_incremental_lsh, write_signature_table)

    seen = spark.createDataFrame(
        [(i, f"document body number {i} with words") for i in range(20)],
        "doc_id long, text string")
    write_signature_table(seen, "sig_formula_t", num_perm=16, bands=4,
                          n_buckets=4, path=str(tmp_path / "t"))
    try:
        # simulate a table from an older engine revision: same params,
        # different formula tag
        spark.createDataFrame(
            [("minhash-m61-legacy", 16, 4, 5, 17, "xxhash64")],
            "formula string, num_perm int, bands int, shingle_k int, "
            "seed int, hash_fn string",
        ).write.mode("overwrite").option(
            "path", str(tmp_path / "t__params")
        ).saveAsTable("sig_formula_t__params")
        new = spark.createDataFrame([(100, "document body number 3 "
                                      "with words")],
                                    "doc_id long, text string")
        with pytest.raises(ValueError, match="permutation formula"):
            dedup_incremental_lsh(new, "sig_formula_t")
    finally:
        spark.sql("DROP TABLE IF EXISTS sig_formula_t")
        spark.sql("DROP TABLE IF EXISTS sig_formula_t__params")


def test_simhash_dissimilar_docs_not_candidates(spark):
    """Distribution check for the OTHER banded hash family (the
    round-6 minhash lesson applied to simhash): random dissimilar
    documents must produce ~no pigeonhole-band candidates — a 16-bit
    chunk of two independent 64-bit simhashes collides w.p. 2^-16, so
    a flood here would mean the signature is degenerate, not the
    corpus similar."""
    from dask_histogram_spark.operators import simhash_candidates

    # per-doc disjoint vocabularies: signatures are then independent
    # 64-bit draws, and P(hamming <= 3) ~ 2.4e-15 per pair.  (A first
    # draft used tok_{(131 i + 17 j) mod 9973}, under which docs 76
    # apart share 19 of 20 tokens — simhash correctly flagged those;
    # the corpus, not the hash, was similar.)
    rows = [(i, " ".join(f"t{i}x{j}" for j in range(20)))
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cands = simhash_candidates(df, max_hamming=3).count()
    assert cands == 0, cands


def test_dedup_incremental_lsh_empty_inputs(spark, tmp_path):
    """Typed-empty conventions for the cross-run near-dup gate: an
    empty new batch yields an empty (typed) result; an all-null-text
    batch reports every doc as fresh (no signature, no match)."""
    from dask_histogram_spark.operators import (
        dedup_incremental_lsh, write_signature_table)

    seen = spark.createDataFrame(
        [(i, f"seen document {i} body text") for i in range(10)],
        "doc_id long, text string")
    write_signature_table(seen, "sig_empty_t", num_perm=16, bands=4,
                          n_buckets=4, path=str(tmp_path / "t"))
    try:
        empty = spark.createDataFrame([], "doc_id long, text string")
        out = dedup_incremental_lsh(empty, "sig_empty_t")
        assert out.columns == ["doc_id", "n_matched_seen"]
        assert out.count() == 0
        nulls = spark.createDataFrame(
            [(1, None), (2, None)], "doc_id long, text string")
        got = {r.doc_id: r.n_matched_seen
               for r in dedup_incremental_lsh(nulls, "sig_empty_t").collect()}
        assert got == {1: 0, 2: 0}
    finally:
        spark.sql("DROP TABLE IF EXISTS sig_empty_t")
        spark.sql("DROP TABLE IF EXISTS sig_empty_t__params")


def test_agreement_gate_binomial_quantiles():
    """The gate is the exact binomial quantile: a true pair at the
    target jaccard passes with >= 1 - miss_rate, and gate+1 would
    not.  Cross-checked against an independent survival-function
    implementation (math.comb), including the registry's published
    24/32 (J>=0.9) and 10/32 (J>=0.5) operating points."""
    from math import comb

    from dask_histogram_spark.operators import agreement_gate

    def surv(n, p, g):
        return sum(comb(n, k) * p**k * (1 - p) ** (n - k)
                   for k in range(g, n + 1))

    for num_perm in (16, 32, 64):
        for j in (0.5, 0.7, 0.9):
            for miss in (1e-2, 1e-3):
                g = agreement_gate(num_perm, j, miss)
                assert surv(num_perm, j, g) >= 1 - miss
                if g < num_perm:
                    assert surv(num_perm, j, g + 1) < 1 - miss
    # the registry's operating points are these quantiles
    assert agreement_gate(32, 0.9, 3.3e-3) == 24
    assert agreement_gate(32, 0.5, 1.1e-2) == 10
    # and the DEFAULT miss budget lands exactly on them — the gate a
    # user gets from dedup_incremental_lsh / the streaming probe with
    # no arguments is the one BASELINE.md measures (24/32 and 10/32),
    # not an undocumented neighbor
    assert agreement_gate(32, 0.9) == 24
    assert agreement_gate(32, 0.5) == 10
    # degenerate corners: gate never exceeds num_perm, never negative
    assert agreement_gate(8, 1.0) == 8
    assert agreement_gate(8, 0.0) == 0


def test_auto_minhash_params_scurve():
    """(num_perm, bands) selection satisfies both S-curve constraints
    for every feasible return, resolves the defaults to the flagship
    (32, 8), and raises with guidance when the FP budget makes the
    problem infeasible."""
    import pytest

    from dask_histogram_spark.operators import auto_minhash_params

    assert auto_minhash_params() == (32, 8)
    for kwargs in (dict(), dict(target_jaccard=0.95),
                   dict(miss_rate=1e-3, max_fp_rate=0.2),
                   dict(target_jaccard=0.8, max_fp_rate=0.3)):
        num_perm, bands = auto_minhash_params(**kwargs)
        r = num_perm // bands
        tj = kwargs.get("target_jaccard", 0.9)
        miss = kwargs.get("miss_rate", 1e-2)
        fpb = kwargs.get("max_fp_rate", 0.1)
        assert 1 - (1 - tj ** r) ** bands >= 1 - miss
        assert 1 - (1 - 0.3 ** r) ** bands <= fpb
    # catch-everything at J=0.8 with a tight candidate-FP budget has
    # no solution in the menu — must say so loudly, with the lever
    with pytest.raises(ValueError, match="max_fp_rate"):
        auto_minhash_params(target_jaccard=0.8, max_fp_rate=0.05)


def test_signature_table_empty_sidecar_fails_loudly(spark, tmp_path):
    """A sidecar table that EXISTS but is empty (a write interrupted
    between the CREATE and the row commit) must raise the same loud
    rebuild guidance as a formula mismatch — not a bare IndexError."""
    from dask_histogram_spark.operators import (
        dedup_incremental_lsh, write_signature_table)

    seen = spark.createDataFrame(
        [(i, f"seen document {i} body text") for i in range(10)],
        "doc_id long, text string")
    write_signature_table(seen, "sig_emptyside_t", num_perm=16, bands=4,
                          n_buckets=4, path=str(tmp_path / "t"))
    try:
        spark.createDataFrame(
            [],
            "formula string, num_perm int, bands int, shingle_k int, "
            "seed int, hash_fn string",
        ).write.mode("overwrite").option(
            "path", str(tmp_path / "t__params2")
        ).saveAsTable("sig_emptyside_t__params")
        new = spark.createDataFrame(
            [(100, "seen document 3 body text")], "doc_id long, text string")
        with pytest.raises(ValueError, match="EMPTY __params"):
            dedup_incremental_lsh(new, "sig_emptyside_t")
    finally:
        spark.sql("DROP TABLE IF EXISTS sig_emptyside_t")
        spark.sql("DROP TABLE IF EXISTS sig_emptyside_t__params")


def test_signature_table_cap_stats_recorded(spark, tmp_path):
    """write_signature_table(max_bucket=...) drops mega-buckets by
    design — the __params sidecar must SAY how much it dropped
    (n_capped_buckets / max_bucket_size / n_dropped_rows), and record
    NULLs when uncapped."""
    from dask_histogram_spark.operators import write_signature_table

    # 30 exact copies of one document -> every band bucket it lands in
    # holds 30 rows; 5 singletons stay under any cap
    rows = [(i, "the same exact template document body") for i in range(30)]
    rows += [(100 + i, f"unique document number {i} text") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    try:
        write_signature_table(df, "sig_capstats_t", num_perm=16, bands=4,
                              max_bucket=10, n_buckets=4,
                              path=str(tmp_path / "t"))
        p = spark.table("sig_capstats_t__params").collect()[0]
        # the 30-copy template fills all 4 of its band buckets past the cap
        assert p.n_capped_buckets == 4, p
        assert p.max_bucket_size == 30, p
        assert p.n_dropped_rows == 120, p
        # dropped rows really are absent from the written projection
        n = spark.table("sig_capstats_t").count()
        assert n == 5 * 4, n
        # uncapped write records NULLs (no stats pass ran)
        write_signature_table(df, "sig_capstats_u", num_perm=16, bands=4,
                              n_buckets=4, path=str(tmp_path / "u"))
        pu = spark.table("sig_capstats_u__params").collect()[0]
        assert pu.n_capped_buckets is None
        assert pu.max_bucket_size is None
        assert pu.n_dropped_rows is None
    finally:
        for t in ("sig_capstats_t", "sig_capstats_u"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}__params")


def test_embedding_signature_table_cap_stats_recorded(spark, tmp_path):
    """The embedding twin's sidecar records the same write-time cap
    accounting."""
    from dask_histogram_spark.operators import (
        write_embedding_signature_table)

    # 20 identical vectors share every (rep, sig) bucket; 3 distinct
    # vectors land wherever their signs fall
    rows = [(i, [1.0, 2.0, -1.0, 0.5]) for i in range(20)]
    rows += [(100, [-1.0, 0.1, 2.0, -3.0]), (101, [0.2, -2.0, 1.0, 1.0]),
             (102, [3.0, 3.0, -0.5, -0.25])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    try:
        write_embedding_signature_table(
            df, "emb_capstats_t", planes=6, repetitions=2, max_bucket=10,
            n_buckets=4, path=str(tmp_path / "t"))
        p = spark.table("emb_capstats_t__params").collect()[0]
        # the 20-copy vector overfills its bucket in BOTH repetitions
        assert p.n_capped_buckets >= 2, p
        assert p.max_bucket_size >= 20, p
        assert p.n_dropped_rows >= 40, p
        # survivors: every row of a <=10-deep bucket
        assert spark.table("emb_capstats_t").count() <= 3 * 2 + 4
    finally:
        spark.sql("DROP TABLE IF EXISTS emb_capstats_t")
        spark.sql("DROP TABLE IF EXISTS emb_capstats_t__params")


def test_lm_score_matches_python_reference(spark):
    """lm_score pinned against an independent add-1 bigram model;
    the integer micro-quantization must match term-for-term."""
    import math
    import re as _re
    from collections import Counter

    from dask_histogram_spark.operators import lm_score

    docs = {0: "the cat sat on the mat", 1: "the cat sat",
            2: "zz qq xx", 3: "one", 4: None, 5: ""}
    df = spark.createDataFrame([(i, t) for i, t in docs.items()],
                               "doc_id long, text string")
    rows = {r["doc_id"]: r for r in lm_score(df).collect()}

    ws = _re.compile(r"\s+", _re.ASCII)
    tok = {i: ws.split(t.lower().strip(" "))
           for i, t in docs.items() if t is not None}
    c1 = Counter(w for ts in tok.values() for w in ts)
    c2 = Counter(p for ts in tok.values() for p in zip(ts, ts[1:]))
    v = len(c1)
    for i, ts in tok.items():
        bgs = list(zip(ts, ts[1:]))
        lpm = sum(math.floor(
            math.log10((c2[p] + 1) / (c1[p[0]] + v)) * 1e6)
            for p in bgs)
        assert rows[i]["n_bigrams"] == len(bgs), i
        assert rows[i]["lp_micro"] == (lpm if bgs else 0), i
        assert rows[i]["n_unseen_bigrams"] == 0, i
        if bgs:
            assert rows[i]["avg_lp10"] == lpm / (len(bgs) * 1e6)
        else:
            assert rows[i]["avg_lp10"] is None
    assert rows[4]["n_bigrams"] is None       # NULL text: NULL stats
    # typicality ordering: in-distribution doc beats the gibberish doc
    assert rows[0]["avg_lp10"] > rows[2]["avg_lp10"]


def test_lm_score_ref_corpus_and_min_count(spark):
    """Scoring against a separate reference: unseen transitions are
    counted and floored to the smoothing floor; min_count pruning
    demotes tail bigrams to unseen without changing V."""
    from dask_histogram_spark.operators import lm_score

    ref = spark.createDataFrame(
        [(0, "a b a b a b"), (1, "a b c")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "a b"), (11, "c a"), (12, "q z")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in lm_score(new, ref_df=ref).collect()}
    assert rows[10]["n_unseen_bigrams"] == 0     # 'a b' well attested
    assert rows[11]["n_unseen_bigrams"] == 1     # 'c a' never seen
    assert rows[12]["n_unseen_bigrams"] == 1     # OOV entirely
    assert rows[10]["avg_lp10"] > rows[12]["avg_lp10"]
    # min_count=2 prunes the singleton bigrams ('b c', 'c'-anything)
    pruned = {r["doc_id"]: r for r in lm_score(
        new, ref_df=ref, min_count=2).collect()}
    assert pruned[10]["n_unseen_bigrams"] == 0   # 'a b' count 3 kept
    # 'c a' stays unseen; the pruned model must score it no higher
    assert pruned[11]["n_unseen_bigrams"] == 1
    assert pruned[11]["lp_micro"] <= rows[11]["lp_micro"]


def test_lm_score_est_bigrams_sizes_model_shuffle(spark):
    """est_bigrams (round-10): an estimate implying more than the
    session's shuffle partitions of ~8M groups repartitions the
    reference bigram stream on (a, b) at the computed width —
    the span operators' est_windows pattern on the LM model
    aggregate — without changing any result."""
    from dask_histogram_spark.operators import lm_score
    from dask_histogram_spark.operators.spans import (
        _TARGET_GROUPS_PER_TASK,
        _gram_parts_for_memory,
    )

    df = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the cat sat"),
         (2, "one"), (3, None)],
        "doc_id long, text string")
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    est = (cur + 11) * _TARGET_GROUPS_PER_TASK
    want = max(cur + 11, _gram_parts_for_memory(spark, est))
    sized = lm_score(df, est_bigrams=est)
    plan = sized._jdf.queryExecution().sparkPlan().toString()
    # anchor to the repartition node's own key list, not a bare
    # ", {want})" substring that any parenthesized number could
    # false-match (round-10 ADVICE) — the spans twin anchors
    # hashpartitioning(h#... the same way
    import re as _re

    pat = rf"hashpartitioning\(a#\d+[^,)]*, b#\d+[^,)]*, {want}\)"
    assert _re.search(pat, plan), plan[:1500]
    base = {r["doc_id"]: (r["n_bigrams"], r["lp_micro"], r["avg_lp10"])
            for r in lm_score(df).collect()}
    got = {r["doc_id"]: (r["n_bigrams"], r["lp_micro"], r["avg_lp10"])
           for r in sized.collect()}
    assert got == base
    # small estimate: default sizing — no user repartition node (the
    # REPARTITION_BY_NUM shuffle origin is what .repartition(n, cols)
    # stamps; ENSURE_REQUIREMENTS exchanges from the aggregate itself
    # are expected and must not trip this)
    small = lm_score(df, est_bigrams=10)
    assert "REPARTITION_BY_NUM" not in \
        small._jdf.queryExecution().sparkPlan().toString()


def test_lm_score_hashed_model_matches_strings(spark):
    """hashed_model=True (the 100M-scale shuffle posture: 64-bit
    token hashes as model/join keys) must be bit-equal to the
    string-keyed model wherever hash collisions cannot occur — i.e.
    everywhere below ~1e9 bigram types.  Covers self, ref-corpus and
    pruned configurations on real testdata."""
    from dask_histogram_spark.operators import lm_score
    from dask_histogram_spark.session import load_tables

    d = load_tables(spark, "/root/testdata/sf0.001",
                    names=("documents",))["documents"] \
        .select("doc_id", "text")
    ref = d.where(F.col("doc_id") % 2 == 0)
    cols = ("n_bigrams", "n_unseen_bigrams", "lp_micro", "avg_lp10")
    for kw in ({}, {"min_count": 2},
               {"ref_df": ref, "min_count": 2}):
        a = {r["doc_id"]: tuple(r[c] for c in cols)
             for r in lm_score(d, **kw).collect()}
        b = {r["doc_id"]: tuple(r[c] for c in cols)
             for r in lm_score(d, hashed_model=True, **kw).collect()}
        assert a == b, kw


def test_local_relation_matches_create(spark):
    """local_relation (the Arrow-landed LocalRelation used for the
    broadcast-probe and locally-landed relations) must reproduce
    spark.createDataFrame exactly: same schema, same values — including
    NaN/±Inf/-0.0/1e±300 doubles, null elements/arrays, empty arrays,
    quotes/backslashes/newlines in strings, maps, structs, decimals and
    timestamps — and its physical plan must actually BE a
    LocalTableScan at every size (the whole point: zero-job broadcast
    builds and driver-local collects)."""
    import datetime
    import decimal
    import math

    import pyarrow as pa
    from pyspark.sql import types as T

    from dask_histogram_spark.operators.localrel import local_relation

    def local_scan(df):
        return "LocalTableScan" in \
            df._jdf.queryExecution().executedPlan().toString()

    def collect_jobs(df):
        # new job IDs, not a count delta: the tracker keeps a bounded
        # window of jobs, so a count can stay flat while a job runs
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup(None))
        rows = df.collect()
        return rows, len(set(tracker.getJobIdsForGroup(None)) - before)

    schema = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("v", T.ArrayType(T.DoubleType())),
        T.StructField("w", T.ArrayType(T.IntegerType())),
        T.StructField("st", T.StructType([
            T.StructField("x", T.IntegerType()),
            T.StructField("y", T.StringType())])),
        T.StructField("dec", T.DecimalType(12, 3)),
        T.StructField("ts", T.TimestampType()),
    ])
    ts = datetime.datetime(2021, 3, 4, 5, 6, 7, 123456)
    rows = [
        (1, "plain", True, 1.5, [1.0, -0.0, 1e300], [1, 2], (1, "a"),
         decimal.Decimal("123456789.125"), ts),
        (2, "qu'ote\\back\nline", False, float("nan"), [None, 2.5], [],
         (None, None), decimal.Decimal("-0.001"), None),
        (3, None, None, float("inf"), None, [None], None, None,
         datetime.datetime(1970, 1, 1)),
        (-4, "", True, float("-inf"), [1e-300], None, (-4, ""),
         decimal.Decimal("0.000"), ts),
        (5, "x", False, -0.0, [float("nan"), float("inf")], [0],
         (5, "x"), None, None),
    ]
    lr = local_relation(spark, rows, schema)
    cr = spark.createDataFrame(rows, schema)
    assert local_scan(lr)
    assert lr.schema == cr.schema == schema

    def norm(df):
        out = []
        for r in sorted(df.collect(), key=lambda r: r["i"]):
            vals = []
            for x in r:
                if isinstance(x, float):
                    # NaN compares unequal to itself; -0.0 == 0.0 — pin both
                    vals.append(("nan" if math.isnan(x)
                                 else (x, math.copysign(1.0, x))))
                elif isinstance(x, list):
                    vals.append(tuple(
                        "nan" if isinstance(e, float) and math.isnan(e)
                        else ((e, math.copysign(1.0, e))
                              if isinstance(e, float) else e)
                        for e in x))
                else:
                    vals.append(x)
            out.append(tuple(vals))
        return out

    assert norm(lr) == norm(cr)
    # non-nullable fields keep their non-nullability
    nn = T.StructType([T.StructField("k", T.LongType(), False),
                       T.StructField("s", T.StringType(), True)])
    lr2 = local_relation(spark, [(1, "a"), (2, None)], nn)
    assert lr2.schema == nn
    assert local_scan(lr2)
    # maps and containsNull=False arrays land as exact-schema scans too
    st = T.StructType([T.StructField(
        "m", T.MapType(T.StringType(), T.LongType()))])
    m = local_relation(spark, [({"a": 1},), (None,)], st)
    assert m.schema == st and local_scan(m)
    assert [r["m"] for r in m.collect()] == [{"a": 1}, None]
    nc = T.StructType([T.StructField(
        "v", T.ArrayType(T.DoubleType(), containsNull=False))])
    c = local_relation(spark, [([1.0],)], nc)
    assert c.schema == nc and local_scan(c)
    assert c.collect()[0]["v"] == [1.0]
    # empty input, from rows and from a DDL schema
    e = local_relation(spark, [], schema)
    assert e.schema == schema and local_scan(e) and e.collect() == []
    e2 = local_relation(spark, [], "a long, b string")
    assert e2.columns == ["a", "b"] and local_scan(e2)
    # a pyarrow.Table is taken as is and cast to the schema
    tbl = pa.table({"k": pa.array([3, 4], pa.int32()), "s": ["p", None]})
    t = local_relation(spark, tbl, nn)
    assert t.schema == nn and local_scan(t)
    assert [tuple(r) for r in t.collect()] == [(3, "p"), (4, None)]
    # one row and 7,500 rows (above the old 4096-row literal cap) both
    # plan as LocalTableScans and collect without starting a job
    one = local_relation(spark, [(7, "z")], nn)
    big = local_relation(spark, [(i, str(i)) for i in range(7500)], nn)
    assert local_scan(one) and local_scan(big)
    got, jobs = collect_jobs(one)
    assert [tuple(r) for r in got] == [(7, "z")] and jobs == 0
    got, jobs = collect_jobs(big)
    assert len(got) == 7500 and got[-1]["s"] == "7499" and jobs == 0
