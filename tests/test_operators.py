"""Operator-level tests: text analysis, dedup, similarity, multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_stream_spark.operators import corpus as cp
from etl_stream_spark.operators import dedup as dd
from etl_stream_spark.operators import multimodal as mm
from etl_stream_spark.operators import similarity as sim
from etl_stream_spark.operators import text_analysis as ta
from tests.conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


DOCS = [
    (1, "The quick brown fox jumps over the lazy dog", "a"),
    (2, "the quick brown fox jumps over the lazy dog!", "a"),  # near-exact dup of 1
    (3, "The quick brown fox jumps over a sleepy dog today", "a"),  # near dup
    (4, "completely different content about spark engines", "b"),
    (5, "short doc", "b"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, source string")


class TestTextAnalysis:
    def test_tokens_and_fingerprint_normalization(self, docs):
        out = docs.select("doc_id", ta.fingerprint("text").alias("fp")).collect()
        fps = {r.doc_id: r.fp for r in out}
        # case/punctuation-insensitive: doc1 and doc2 share a fingerprint
        assert fps[1] == fps[2]
        assert fps[1] != fps[3]

    def test_token_stats(self, docs):
        rows = {r.doc_id: r for r in ta.with_token_stats(docs).collect()}
        assert rows[1].n_tokens == 9
        assert rows[1].n_uniq_tokens == 8  # 'the' twice
        assert rows[5].n_tokens == 2

    def test_quality(self, docs):
        rows = {r.doc_id: r for r in ta.with_quality_score(docs).collect()}
        assert rows[1].quality_keep is True
        assert rows[5].quality_keep is False  # < 5 tokens
        assert 0 < rows[1].stopword_ratio < 1

    def test_langid_picks_en_for_english(self, docs):
        rows = {r.doc_id: r for r in ta.with_language_id(docs).collect()}
        assert rows[1].predicted_lang == "en"  # 'the'×2 + 'a'... markers hit


class TestDedup:
    def test_exact(self, docs):
        out = dd.exact_duplicates(docs).collect()
        groups = {r.fingerprint: r for r in out}
        assert len(groups) == 4  # docs 1+2 merged
        dup = [g for g in groups.values() if g.n_copies == 2]
        assert len(dup) == 1 and dup[0].rep_doc_id == 1

    def test_minhash_identical_docs_identical_signatures(self, docs):
        sig = {r.doc_id: tuple(r)[1:] for r in dd.minhash_signatures(docs).collect()}
        assert sig[1] == sig[2]
        assert sig[1] != sig[4]

    def test_lsh_pairs_find_near_dups(self, docs):
        pairs = {(r.id_a, r.id_b): r.est_jaccard for r in dd.minhash_lsh_pairs(docs).collect()}
        assert pairs.get((1, 2)) == 1.0  # identical after normalization
        assert (1, 4) not in pairs  # unrelated docs shouldn't collide fully

    def test_ngram_jaccard_blocked(self, docs):
        pairs = {
            (r.id_a, r.id_b): r.jaccard
            for r in dd.ngram_jaccard_pairs(docs, block_col="source", threshold=0.1).collect()
        }
        assert pairs[(1, 2)] == 1.0
        # doc 3 shares shingles with 1 but less than identity
        assert 0.1 <= pairs[(1, 3)] < 1.0
        # cross-block pairs are never considered
        assert all(a in (1, 2, 3) and b in (1, 2, 3) or a in (4, 5) for a, b in pairs)

    def test_simhash_hamming(self, spark, docs):
        fp = {r.doc_id: r.simhash for r in dd.simhash_fingerprints(docs).collect()}
        assert fp[1] == fp[2]
        ham = spark.createDataFrame(
            [(fp[1], fp[3]), (fp[1], fp[4])], "a long, b long"
        ).select(dd.hamming_distance(F.col("a"), F.col("b")).alias("h")).collect()
        near, far = ham[0].h, ham[1].h
        assert near < far  # near-dup closer than unrelated


VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),  # close to 0
    (2, [0.0, 1.0, 0.0, 0.0]),
    (3, [0.0, 0.0, 1.0, 0.0]),
    (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


class TestSimilarity:
    def test_brute_force_topk(self, vecs):
        out = sim.brute_force_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=2)
        rows = sorted((r.rank, r.neighbor_id, r.cos_sim) for r in out.collect())
        assert rows[0][1] == 1  # nearest is the 0.9/0.1 vector
        assert rows[0][2] > 0.99
        assert len(rows) == 2

    def test_ann_recall_vs_bruteforce(self, spark, vecs):
        """LSH-ANN with enough bands should find the exact top-1."""
        exact = sim.brute_force_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=1).collect()
        approx = sim.ann_lsh_topk(
            vecs, vecs.filter(F.col("vec_id") == 0), k=1, num_bits=2, num_bands=4, dims=4
        ).collect()
        assert approx and approx[0].neighbor_id == exact[0].neighbor_id

    def test_quantized_cosine_bounds(self, vecs):
        out = sim.brute_force_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=4).collect()
        sims = {r.neighbor_id: r.cos_sim for r in out}
        assert sims[4] == -1.0  # opposite vector
        assert abs(sims[2]) < 1e-9  # orthogonal


class TestMultimodal:
    def test_media_plumbing_roundtrip(self, docs):
        media = mm.to_media_column(docs)
        feats = mm.extract_features(media)
        rows = {r.doc_id: r for r in feats.collect()}
        assert len(rows) == 5
        r = rows[1]
        assert r.n_bytes == len(DOCS[0][1].encode())
        assert 64 <= r.width < 128 and 64 <= r.height < 128
        assert r.n_channels == 3
        # deterministic: same payload → same fake dimensions
        again = {x.doc_id: x for x in mm.extract_features(media).collect()}
        assert again[1].width == r.width and again[1].height == r.height

    def test_resize_targets_and_scales(self, docs):
        media = mm.to_media_column(docs)
        out = {r.doc_id: r for r in mm.resize_media(media, 224, 112).collect()}
        feats = {r.doc_id: r for r in mm.extract_features(media).collect()}
        assert all(r.width == 224 and r.height == 112 for r in out.values())
        r, f = out[1], feats[1]
        assert abs(r.scale_x - round(224 / f.width, 6)) < 1e-9
        assert abs(r.scale_y - round(112 / f.height, 6)) < 1e-9
        # non-PPM payload passes through (stub) — no resampled statistic
        assert r.content_md5 == f.content_md5
        assert r.pixel_sum is None

    def test_ppm_nearest_resample_kernel(self):
        """Hand-checked NN resample: a 2×1 image upscaled to 4×2 must
        replicate each source pixel per the floor index map, and the
        output is itself a valid P6 container."""
        src = b"P6\n2 1\n255\n" + bytes([10, 11, 12, 200, 201, 202])
        payload, psum = mm.resample_ppm_nearest(src, 4, 2)
        decoded = mm.decode_ppm(payload)
        assert decoded["width"] == 4 and decoded["height"] == 2
        # sx map for w=2,tw=4: [0,0,1,1]; sy map for h=1,th=2: [0,0]
        want = 2 * (2 * (10 + 11 + 12) + 2 * (200 + 201 + 202))
        assert psum == want == decoded["pixel_sum"]
        assert mm.resample_ppm_nearest(b"not a ppm", 4, 2) is None

    def test_ppm_resize_real_resample_roundtrip(self, docs):
        """resize_media emits a RESAMPLED container: decoding the output
        payload must show the target dims and a pixel_sum equal to an
        independent numpy nearest-neighbor of the source spec."""
        import hashlib

        import numpy as np

        media = mm.encode_ppm(docs)
        out = {r.doc_id: r for r in mm.resize_media(media, 16, 12).collect()}
        for doc_id, text, _src in DOCS:
            d = hashlib.md5(text.encode()).digest()
            w, h, seed = 8 + d[0] % 32, 8 + d[1] % 32, d[2]
            img = ((seed + np.arange(w * h * 3)) % 256).reshape(h, w, 3)
            sy = (np.arange(12) * h) // 12
            sx = (np.arange(16) * w) // 16
            want = int(img[sy][:, sx].sum())
            r = out[doc_id]
            assert r.pixel_sum == want
            redecoded = mm.decode_ppm(bytes(r.payload))
            assert redecoded == {
                "width": 16,
                "height": 12,
                "n_channels": 3,
                "pixel_sum": want,
            }

    def test_ppm_real_decode_roundtrip(self, docs):
        """encode_ppm renders a real P6 container; extract_features must
        get dims from the HEADER and pixel_sum from the RASTER — checked
        against an independent pure-python render of the same spec."""
        import hashlib

        import numpy as np

        media = mm.encode_ppm(docs)
        feats = {r.doc_id: r for r in mm.extract_features(media).collect()}
        for doc_id, text, _src in DOCS:
            d = hashlib.md5(text.encode()).digest()
            w, h, seed = 8 + d[0] % 32, 8 + d[1] % 32, d[2]
            r = feats[doc_id]
            assert (r.width, r.height, r.n_channels) == (w, h, 3)
            expected = int(((seed + np.arange(w * h * 3)) % 256).sum())
            assert r.pixel_sum == expected
            assert r.n_bytes == 9 + len(str(w)) + len(str(h)) + w * h * 3

    def test_ppm_decoder_rejects_malformed(self):
        assert mm.decode_ppm(b"P5\n2 2\n255\n" + b"\x00" * 4) is None
        assert mm.decode_ppm(b"not an image") is None
        assert mm.decode_ppm(b"P6\n2 2\n255\n" + b"\x00" * 11) is None
        ok = mm.decode_ppm(b"P6\n# c\n2 2\n255\n" + b"\x01" * 12)
        assert ok == {"width": 2, "height": 2, "n_channels": 3, "pixel_sum": 12}

    def test_zero_dimension_containers_fall_to_stub_everywhere(self):
        """A 0×0 P6 payload with an empty raster must be rejected by the
        shared parser (not just the resample kernel): decode_media then
        serves the stub's non-zero dimensions, so resize_media's
        scale_x/scale_y division can never hit zero."""
        zero = b"P6\n0 0\n255\n"
        assert mm.decode_ppm(zero) is None
        assert mm.resample_ppm_nearest(zero, 4, 4) is None
        meta = mm.decode_media(zero)  # stub path
        assert meta["width"] > 0 and meta["height"] > 0

    def test_y4m_rejects_nonpositive_header_params(self):
        """A negative W/H makes frame_size negative so the FRAME walk's
        pos never advances (executor-hanging infinite loop); a negative
        F breaks the seek arithmetic. All must parse as None."""
        body = b"FRAME\n" + b"\x00" * 6
        assert mm.decode_y4m(b"YUV4MPEG2 W-6 H1 F1:1 Cmono\n" + body) is None
        assert mm.decode_y4m(b"YUV4MPEG2 W6 H-1 F1:1 Cmono\n" + body) is None
        assert mm.decode_y4m(b"YUV4MPEG2 W0 H1 F1:1 Cmono\n" + body) is None
        assert mm.decode_y4m(b"YUV4MPEG2 W2 H3 F-2:1 Cmono\n" + body) is None
        assert mm.decode_y4m(b"YUV4MPEG2 W2 H3 F2:-1 Cmono\n" + body) is None
        assert mm.decode_y4m(b"YUV4MPEG2 W2 H3 F0:1 Cmono\n" + body) is None

    def test_y4m_parser_and_frame_seek(self, spark):
        """Hand-built 3-frame mono Y4M: the parser must recover the
        header params and frame offsets, and the 1-per-second sampler
        at 2 fps must read frames 0 and 2 (ts 0 ms and 1000 ms) with
        their exact plane sums."""
        w, h = 2, 2
        frames = [bytes([i * 10 + j for j in range(w * h)]) for i in range(3)]
        payload = b"YUV4MPEG2 W2 H2 F2:1 Ip A1:1 Cmono\n" + b"".join(
            b"FRAME\n" + f for f in frames
        )
        meta = mm.decode_y4m(payload)
        assert meta["width"] == 2 and meta["height"] == 2
        assert meta["fps_num"] == 2 and meta["n_frames"] == 3
        # malformed / out-of-scope containers are rejected, not guessed
        assert mm.decode_y4m(b"YUV4MPEG2 W2 H2 F2:1\n" + b"FRAME\n" + b"\0" * 6) is None
        assert mm.decode_y4m(payload[:-2]) is None  # truncated last frame
        assert mm.decode_y4m(b"not video") is None

        media = spark.createDataFrame(
            [(1, payload, "video", len(payload), "x")],
            "doc_id long, payload binary, modality string, n_bytes long, content_md5 string",
        )
        rows = {
            (r.frame_idx, r.frame_ts_ms): r.luma_sum
            for r in mm.sample_frames_y4m(media, every_ms=1000).collect()
        }
        # 2 fps → second 0 reads frame 0, second 1 reads frame 2
        assert rows == {
            (0, 0): sum(frames[0]),
            (2, 1000): sum(frames[2]),
        }

    def test_y4m_encode_decode_roundtrip(self, docs):
        """encode_y4m renders a real container; the sampler's sums must
        match an independent numpy render of the same spec."""
        import hashlib

        import numpy as np

        media = mm.encode_y4m(docs)
        out = mm.sample_frames_y4m(media, every_ms=1000).collect()
        got = {(r.doc_id, r.frame_idx): r.luma_sum for r in out}
        want = {}
        for doc_id, text, _src in DOCS:
            d = hashlib.md5(text.encode()).digest()
            w, h = 4 + d[0] % 8, 4 + d[1] % 8
            nf, fps, seed = 2 + d[2] % 6, 1 + d[3] % 3, d[4]
            luma = (seed + np.arange(nf * w * h)) % 256
            k = 0
            while k * fps < nf:
                idx = k * fps
                want[(doc_id, idx)] = int(luma[idx * w * h : (idx + 1) * w * h].sum())
                k += 1
        assert got == want and len(got) > 0

    def test_wav_real_decode_roundtrip(self, docs):
        """encode_wav renders a real RIFF container; the chunk-walking
        decoder must recover rate/count from fmt/data chunks and the
        exact sample sum from the PCM plane."""
        import hashlib

        import numpy as np

        media = mm.encode_wav(docs)
        feats = {r.doc_id: r for r in mm.extract_audio_features(media).collect()}
        for doc_id, text, _src in DOCS:
            d = hashlib.md5(text.encode()).digest()
            n, s0 = 256 + d[0] * 4, d[1] * 16
            r = feats[doc_id]
            assert (r.sample_rate, r.n_samples, r.n_channels) == (16000, n, 1)
            expected = int((((s0 + np.arange(n)) % 4096) - 2048).sum())
            assert r.sample_sum == expected
            assert r.duration_ms == n * 1000 // 16000
            assert r.n_bytes == 44 + 2 * n

    def test_wav_decoder_walks_chunks_and_rejects_malformed(self):
        import struct

        import numpy as np

        samples = np.array([100, -100, 2047], dtype="<i2")
        data = samples.tobytes()
        base = (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
            + b"data" + struct.pack("<I", len(data)) + data
        )
        got = mm.decode_wav(base)
        assert got["sample_sum"] == 2047 and got["n_samples"] == 3
        assert got["sample_rate"] == 8000
        # an odd-sized LIST chunk (word-aligned pad) before data
        extra = b"LIST" + struct.pack("<I", 5) + b"INFOX" + b"\x00"
        assert mm.decode_wav(base[:12] + extra + base[12:]) == got
        assert mm.decode_wav(b"RIFFxxxxWAVE") is None  # no chunks
        assert mm.decode_wav(base[:40]) is None  # truncated data chunk
        stereo = base.replace(
            struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16),
            struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16),
        )
        assert mm.decode_wav(stereo) is None  # only mono in scope

    def test_stub_fallback_for_undecodable_payloads(self, docs):
        media = mm.to_media_column(docs)  # raw utf-8 text, not a container
        feats = mm.extract_features(media)
        rows = {r.doc_id: r for r in feats.collect()}
        assert all(r.pixel_sum is None for r in rows.values())
        assert all(64 <= r.width < 128 for r in rows.values())

    def test_frame_sampling_fans_out(self, docs):
        media = mm.to_media_column(docs, modality="video")
        frames = mm.sample_frames(media).collect()
        per_doc = {}
        for r in frames:
            per_doc.setdefault(r.doc_id, []).append(r)
        assert set(per_doc) == {1, 2, 3, 4, 5}
        for doc_id, rows in per_doc.items():
            rows.sort(key=lambda r: r.frame_idx)
            assert 1 <= len(rows) <= 4
            assert [r.frame_idx for r in rows] == list(range(len(rows)))
            assert all(r.frame_ts_ms == r.frame_idx * 1000 for r in rows)
            assert len({r.frame_md5 for r in rows}) == len(rows)  # content-addressed


class TestDuplicateClusters:
    def test_chain_and_singleton(self, spark):
        """Chain 1-2, 2-3, plus pair 10-11 and singleton 99: components
        {1,2,3}→1, {10,11}→10, {99}→99."""
        from etl_stream_spark.operators.dedup import duplicate_clusters

        vertices = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], "doc_id long")
        pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
        got = {r["doc_id"]: r["cluster_id"] for r in duplicate_clusters(vertices, pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}

    def test_long_path_converges(self, spark):
        """A 12-node path needs pointer jumping to converge within the
        iteration budget; all nodes label to the minimum."""
        from etl_stream_spark.operators.dedup import duplicate_clusters

        n = 12
        vertices = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
        got = {r["doc_id"]: r["cluster_id"] for r in duplicate_clusters(vertices, pairs).collect()}
        assert got == {i: 0 for i in range(n)}

    def test_cc_round_plan_is_severed(self, spark):
        """One pointer-jumping round's executed plan must not re-derive
        the neighbor-min join+aggregate per self-join side: with the
        ``stepped`` sever the only unsevered operators are the
        pointer-jump self-join over the checkpointed frame (≤2 Exchange,
        ≤1 SortMergeJoin, 0 HashAggregate). A lost lazy checkpoint
        multiplies all three (measured 9/5/4 on this toy frame in this
        test's context; 7/3/4 in the sf-data plan dumps of the r8
        fork-recompute fix — AQE/stat differences move the exact
        counts, the sever collapses both to 2/1/0)."""
        from etl_stream_spark.operators.dedup import _cc_round

        e = spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
        ).localCheckpoint(eager=False)
        labels = spark.createDataFrame(
            [(1, 1), (2, 2), (3, 3)], "id long, comp long"
        ).localCheckpoint(eager=False)
        plan = (
            _cc_round(e, labels, sever_result=False)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # shipped shape: 2 / 1 / 0; the unsevered fork re-derives the
        # neighbor-min subtree per self-join side: 9 / 5 / 4
        assert plan.count("HashAggregate") == 0, plan
        assert plan.count("Exchange") <= 2, plan
        assert plan.count("SortMergeJoin") <= 1, plan


class TestIvf:
    def test_full_probe_equals_bruteforce(self, spark):
        """With nprobe >= |cells| IVF degenerates to exact search."""
        from etl_stream_spark.operators import similarity as sim
        from etl_stream_spark.session import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        queries = emb.filter("vec_id < 3")
        n_cells = emb.select("label").distinct().count()
        exact = {
            (r["query_id"], r["rank"]): r["neighbor_id"]
            for r in sim.brute_force_topk(emb, queries, k=3).collect()
        }
        ivf = {
            (r["query_id"], r["rank"]): r["neighbor_id"]
            for r in sim.ivf_topk(emb, queries, k=3, nprobe=n_cells).collect()
        }
        assert ivf == exact

    def test_narrow_probe_subsets_candidates(self, spark):
        from etl_stream_spark.operators import similarity as sim
        from etl_stream_spark.session import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        queries = emb.filter("vec_id < 3")
        got = sim.ivf_topk(emb, queries, k=3, nprobe=1).collect()
        assert len(got) == 9  # 3 queries × 3 ranks
        assert all(r["neighbor_id"] != r["query_id"] for r in got)


class TestRollingFingerprint:
    def test_order_sensitive_and_stable(self, spark):
        from etl_stream_spark.operators.text_analysis import rolling_fingerprint
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma"), (4, "")],
            "id long, text string",
        )
        got = {r["id"]: r["fp"] for r in df.select("id", rolling_fingerprint("text").alias("fp")).collect()}
        assert got[1] == got[3]          # identical docs → identical hash
        assert got[1] != got[2]          # reordered tokens → different hash
        assert got[4] == 0               # empty doc
        assert all(0 <= v < 2_147_483_647 for v in got.values())


class TestRepetition:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            [(i + 1, t) for i, t in enumerate(rows)], ["doc_id", "text"]
        )

    def test_max_token_run(self, spark):
        df = self._df(
            spark,
            [
                "a b b b c",          # run of 3
                "x y z",              # all distinct -> 1
                "",                   # empty -> 0
                "w w w w w w w w",    # run of 8
            ],
        )
        rows = {r.doc_id: r for r in ta.with_repetition_stats(df).collect()}
        assert rows[1].max_token_run == 3
        assert rows[2].max_token_run == 1
        assert rows[3].max_token_run == 0
        assert rows[4].max_token_run == 8
        assert rows[4].repetition_keep is False  # run >= 8

    def test_top_gram_fractions(self, spark):
        # "a b a b a b": bigrams = [a b, b a, a b, b a, a b] -> top 3/5
        df = self._df(spark, ["a b a b a b", "one two three four"])
        rows = {r.doc_id: r for r in ta.with_repetition_stats(df).collect()}
        assert rows[1].top_bigram_frac == 0.6
        assert rows[1].repetition_keep is False
        assert rows[2].top_bigram_frac == 0.333333  # 3 distinct bigrams of 3
        assert rows[2].top_trigram_frac == 0.5

    def test_short_docs_no_grams(self, spark):
        df = self._df(spark, ["solo", "two words"])
        rows = {r.doc_id: r for r in ta.with_repetition_stats(df).collect()}
        assert rows[1].top_bigram_frac == 0.0
        assert rows[1].top_trigram_frac == 0.0
        assert rows[2].top_bigram_frac == 1.0  # exactly one bigram
        assert rows[2].top_trigram_frac == 0.0


class TestRedaction:
    def test_patterns_and_replacement(self, spark):
        df = spark.createDataFrame(
            [
                (1, "mail me at jane.doe+x@example.co.uk or visit https://a.io/p?q=1 now"),
                (2, "call 5551234567 ref 1234 and 987 short"),
                (3, "clean text with no pii at all"),
            ],
            ["doc_id", "text"],
        )
        rows = {r.doc_id: r for r in ta.with_redaction(df).collect()}
        assert (rows[1].n_email, rows[1].n_url) == (1, 1)
        assert rows[2].n_digits == 2  # 5551234567 and 1234; 987 too short
        assert (rows[3].n_email, rows[3].n_url, rows[3].n_digits) == (0, 0, 0)

        red = df.select("doc_id", ta.redact("text").alias("r")).collect()
        by_id = {r.doc_id: r.r for r in red}
        assert by_id[1] == "mail me at <EMAIL> or visit <URL> now"
        assert by_id[2] == "call <NUM> ref <NUM> and 987 short"
        assert by_id[3] == "clean text with no pii at all"

    def test_url_wins_over_email_inside_url(self, spark):
        df = spark.createDataFrame(
            [(1, "see https://x.com/a@b.com/path end")], ["doc_id", "text"]
        )
        r = df.select(ta.redact("text").alias("r")).collect()[0].r
        assert r == "see <URL> end"


class TestChunking:
    def test_windows_and_tail(self, spark):
        text_40 = " ".join(f"t{i}" for i in range(40))
        df = spark.createDataFrame(
            [(1, text_40), (2, "a b c"), (3, "")], ["doc_id", "text"]
        )
        out = cp.chunk_documents(df).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r)
        # 40 tokens, stride 16 -> starts 1,17,33: lengths 32,24,8
        c1 = sorted(by_doc[1], key=lambda r: r.chunk_index)
        assert [(r.start_token, r.chunk_tokens) for r in c1] == [
            (1, 32), (17, 24), (33, 8),
        ]
        assert c1[0].chunk_index == 0
        # 3 tokens -> one short chunk
        assert [(r.start_token, r.chunk_tokens) for r in by_doc[2]] == [(1, 3)]
        # empty doc -> no chunks
        assert 3 not in by_doc
        # fingerprints are distinct across overlapping windows
        assert len({r.chunk_fp for r in c1}) == 3


class TestMaxRunProperty:
    def test_fold_matches_python_reference(self, spark):
        import hashlib
        import itertools
        import random

        # 5-token alphabet: verify the 16-bit md5 prefixes are collision
        # free so the packed fold is *exact* on these inputs.
        alphabet = ["aa", "bb", "cc", "dd", "ee"]
        prefixes = {t: hashlib.md5(t.encode()).hexdigest()[:4] for t in alphabet}
        assert len(set(prefixes.values())) == len(alphabet)

        def ref_max_run(toks):
            return max(
                (len(list(g)) for _, g in itertools.groupby(toks)), default=0
            )

        rng = random.Random(42)
        docs = []
        for i in range(60):
            n = rng.randint(0, 30)
            # bias toward runs: repeat the previous token half the time
            toks = []
            for _ in range(n):
                if toks and rng.random() < 0.5:
                    toks.append(toks[-1])
                else:
                    toks.append(rng.choice(alphabet))
            docs.append((i, " ".join(toks), ref_max_run(toks)))

        df = spark.createDataFrame(
            [(i, t) for i, t, _ in docs], ["doc_id", "text"]
        )
        got = {
            r.doc_id: r.max_token_run
            for r in ta.with_repetition_stats(df).collect()
        }
        for i, _, expect in docs:
            assert got[i] == expect, f"doc {i}: {got[i]} != {expect}"


class TestPandasBruteForce:
    def test_bit_identical_to_jvm_path(self, spark, vecs):
        queries = vecs.filter(F.col("vec_id").isin(0, 2))
        jvm = {
            (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
            for r in sim.brute_force_topk(vecs, queries, k=3).collect()
        }
        pnd = {
            (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
            for r in sim.brute_force_topk_pandas(vecs, queries, k=3).collect()
        }
        assert jvm == pnd

    def test_against_sf_data(self, spark):
        from etl_stream_spark.session import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        queries = emb.limit(3)
        jvm = {
            (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
            for r in sim.brute_force_topk(emb, queries, k=5).collect()
        }
        pnd = {
            (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
            for r in sim.brute_force_topk_pandas(emb, queries, k=5).collect()
        }
        assert jvm == pnd


class TestPrefixFilterPairs:
    def test_matches_brute_force_at_multiple_thresholds(self, spark):
        # planted near-dups + unrelated docs; the prefix-filter join
        # must equal brute-force all-pairs exactly (no false negatives
        # is the operator's contract)
        rows = [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),  # near 1
            (3, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 1
            (4, "one two three four five six seven eight"),
            (5, "one two three four five six seven nine"),  # near 4
            (6, "completely different words appear in this document here"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sets_ = {
            r.doc_id: set(r.sh)
            for r in docs.select(
                "doc_id", dd.shingles("text").alias("sh")
            ).collect()
        }

        def brute(th):
            out = set()
            ids = sorted(sets_)
            for i, a in enumerate(ids):
                for b in ids[i + 1 :]:
                    j = len(sets_[a] & sets_[b]) / len(sets_[a] | sets_[b])
                    if round(j, 6) >= th:
                        out.add((a, b, round(j, 6)))
            return out

        for th in (0.3, 0.5, 0.99):
            got = {
                (r.id_a, r.id_b, r.jaccard)
                for r in dd.prefix_filter_pairs(docs, threshold=th).collect()
            }
            assert got == brute(th), th
        # sanity: the exact-dup pair is present with jaccard 1.0
        got05 = {
            (r.id_a, r.id_b): r.jaccard
            for r in dd.prefix_filter_pairs(docs, threshold=0.5).collect()
        }
        assert got05[(1, 3)] == 1.0


class TestPartialTopk:
    def test_equals_window_plan(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from etl_stream_spark.operators.topk import partial_topk

        rows = [(f"g{i % 4}", i, float((i * 37) % 100)) for i in range(400)]
        df = spark.createDataFrame(rows, "g string, id long, v double").repartition(13)
        got = {
            (r.g, r.id, r.v, r.rank)
            for r in partial_topk(df, ["g"], "v", "id", k=7).collect()
        }
        w = Window.partitionBy("g").orderBy(F.col("v").desc(), F.col("id").asc())
        want = {
            (r.g, r.id, r.v, r.rank)
            for r in df.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 7)
            .collect()
        }
        assert got == want and len(got) == 28

    def test_ascending_and_small_groups(self, spark):
        from etl_stream_spark.operators.topk import partial_topk

        df = spark.createDataFrame(
            [("a", 1, 5.0), ("a", 2, 3.0), ("b", 3, 9.0)], "g string, id long, v double"
        ).repartition(5)
        got = sorted(
            (r.g, r.id, r.rank)
            for r in partial_topk(df, ["g"], "v", "id", k=10, ascending=True).collect()
        )
        # k exceeds group sizes: every row survives, ranked ascending by v
        assert got == [("a", 1, 2), ("a", 2, 1), ("b", 3, 1)]

    def test_null_group_and_null_order_values(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from etl_stream_spark.operators.topk import partial_topk

        rows = [
            (None, 1, 5.0), (None, 2, 9.0), (None, 3, 1.0),
            ("a", 4, None), ("a", 5, 2.0), ("a", 6, 7.0),
        ]
        df = spark.createDataFrame(rows, "g string, id long, v double").repartition(3)
        for asc in (True, False):
            got = {
                (r.g, r.id, r.rank)
                for r in partial_topk(df, ["g"], "v", "id", k=2, ascending=asc).collect()
            }
            order = F.col("v").asc() if asc else F.col("v").desc()
            w = Window.partitionBy("g").orderBy(order, F.col("id").asc())
            want = {
                (r.g, r.id, r.rank)
                for r in df.withColumn("rank", F.row_number().over(w).cast("long"))
                .filter(F.col("rank") <= 2)
                .collect()
            }
            assert got == want, asc

    def test_order_col_shared_with_group_or_tie_col(self, spark):
        """Degenerate-but-valid shapes: an integral order_col that is
        ALSO a group column (top-k per value) or the tie column must
        survive the nullable-int split projection — the pandas stage
        groups and tie-breaks by name."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from etl_stream_spark.operators.topk import partial_topk

        rows = [("a", 1, 5), ("a", 2, 5), ("a", 3, 7), ("b", 4, 5), ("b", 5, 9)]
        df = spark.createDataFrame(rows, "g string, id long, v long").repartition(3)

        # order_col in group_cols: top-1 per (g, v) group ordered by v
        got = {
            (r.g, r.id, r.v, r.rank)
            for r in partial_topk(df, ["g", "v"], "v", "id", k=1).collect()
        }
        w = Window.partitionBy("g", "v").orderBy(F.col("v").desc(), F.col("id").asc())
        want = {
            (r.g, r.id, r.v, r.rank)
            for r in df.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 1)
            .collect()
        }
        assert got == want

        # order_col == tie_col: ordering and tie-break on the same column
        got2 = {
            (r.g, r.id, r.v, r.rank)
            for r in partial_topk(df, ["g"], "v", "v", k=2).collect()
        }
        w2 = Window.partitionBy("g").orderBy(F.col("v").desc(), F.col("v").asc())
        want2 = {
            (r.g, r.id, r.v, r.rank)
            for r in df.withColumn("rank", F.row_number().over(w2).cast("long"))
            .filter(F.col("rank") <= 2)
            .collect()
        }
        assert {(g, v, rk) for (g, _i, v, rk) in got2} == {
            (g, v, rk) for (g, _i, v, rk) in want2
        }

    def test_nullable_bigint_order_keeps_exactness_above_2p53(self, spark):
        """A NULL in an integral order column must not degrade the
        column to float64 at the Arrow boundary: values above 2^53
        (adjacent under float64 rounding) stay distinct, and the
        emitted values are bit-exact."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from etl_stream_spark.operators.topk import partial_topk

        base = 2**53  # 2^53 and 2^53+1 collide as float64
        rows = [
            ("a", 1, base),
            ("a", 2, base + 1),
            ("a", 3, None),
            ("a", 4, base - 1),
            ("b", 5, None),
            ("b", 6, -base - 1),
        ]
        df = spark.createDataFrame(rows, "g string, id long, v long").repartition(3)
        for asc in (True, False):
            got = {
                (r.g, r.id, r.v, r.rank)
                for r in partial_topk(df, ["g"], "v", "id", k=2, ascending=asc).collect()
            }
            order = F.col("v").asc() if asc else F.col("v").desc()
            w = Window.partitionBy("g").orderBy(order, F.col("id").asc())
            want = {
                (r.g, r.id, r.v, r.rank)
                for r in df.withColumn("rank", F.row_number().over(w).cast("long"))
                .filter(F.col("rank") <= 2)
                .collect()
            }
            assert got == want, asc
            # exactness of the emitted values, not just the selection
            assert {v for _g, _i, v, _r in got} <= {
                base, base + 1, base - 1, -base - 1, None
            }


class TestBucketChecksums:
    def _orders(self, spark, rows):
        return spark.createDataFrame(rows, "k long, status string, cents long")

    def _sums(self, spark, df):
        from etl_stream_spark.operators.checksum import bucket_checksums, row_fingerprint

        fp = row_fingerprint([F.col("k"), F.col("status"), F.col("cents")])
        return {
            (r.bucket, r.n_rows, r.xor_fp)
            for r in bucket_checksums(df, "k", fp, buckets=4).collect()
        }

    def test_equal_tables_equal_checksums_any_partitioning(self, spark):
        rows = [(i, "OK" if i % 3 else "LATE", i * 100 + 7) for i in range(200)]
        a = self._orders(spark, rows).repartition(7)
        b = self._orders(spark, list(reversed(rows))).repartition(2)
        assert self._sums(spark, a) == self._sums(spark, b)

    def test_single_row_divergence_localizes_to_one_bucket(self, spark):
        rows = [(i, "OK", i * 100) for i in range(200)]
        mutated = [(k, s, c + 1 if k == 57 else c) for k, s, c in rows]
        a = self._sums(spark, self._orders(spark, rows))
        b = self._sums(spark, self._orders(spark, mutated))
        diff = a.symmetric_difference(b)
        assert len({bucket for bucket, _, _ in diff}) == 1
        # counts agree everywhere (same rows, different content)
        assert {(bk, n) for bk, n, _ in a} == {(bk, n) for bk, n, _ in b}

    def test_duplicate_row_pair_cancels_in_xor_but_not_count(self, spark):
        # XOR's known blind spot: an even number of identical rows
        # cancels — which is exactly why the count travels with it.
        rows = [(1, "OK", 100)]
        a = self._sums(spark, self._orders(spark, rows))
        b = self._sums(spark, self._orders(spark, rows * 3))
        (xa,) = {x for _, _, x in a}
        (xb,) = {x for _, _, x in b}
        assert xa == xb  # 3 copies XOR to one copy...
        assert a != b  # ...but n_rows 1 vs 3 still flags the bucket


class TestFuzzyBlockMatches:
    def test_corruption_past_block_always_resolves(self, spark):
        from etl_stream_spark.operators.dedup import fuzzy_block_matches

        names = [
            (1, "goldenrod lavender spring"),
            (2, "midnight chocolate lace"),
            (3, "goldenrod lavished spring"),  # same block as 1
        ]
        records = spark.createDataFrame(
            [(i, n) for i, n in names], "match_id long, name string"
        )
        # delete char 8 from each name: block (first 5 chars) survives
        probes = spark.createDataFrame(
            [(i, n[:7] + n[8:]) for i, n in names], "probe_id long, name string"
        )
        out = fuzzy_block_matches(records, probes, block_len=5, max_distance=2)
        got = {(r.probe_id, r.match_id, r.distance) for r in out.collect()}
        # every probe finds its own source at distance 1
        assert all((i, i, 1) in got for i, _ in names)
        # nothing crosses blocks
        assert not any(p == 2 and m != 2 for p, m, _ in got)

    def test_distance_cap_filters(self, spark):
        from etl_stream_spark.operators.dedup import fuzzy_block_matches

        records = spark.createDataFrame(
            [(1, "alpha beta gamma")], "match_id long, name string"
        )
        probes = spark.createDataFrame(
            [(9, "alphaXYZW gamma")], "probe_id long, name string"
        )
        out = fuzzy_block_matches(records, probes, block_len=5, max_distance=2)
        assert out.count() == 0


class TestDecoderFuzz:
    """Container parsers are exposed to arbitrary payload bytes: they
    must parse or return None — never raise, never loop."""

    def test_ppm_decoder_total_on_arbitrary_bytes(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=300, deadline=None)
        @given(st.binary(max_size=200))
        def fuzz(payload):
            assert mm.decode_ppm(payload) is None or isinstance(
                mm.decode_ppm(payload), dict
            )
            # prefix-corrupted real containers too
            assert mm.decode_ppm(b"P6" + payload) is None or True

        fuzz()

    def test_wav_decoder_total_on_arbitrary_bytes(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=300, deadline=None)
        @given(st.binary(max_size=200))
        def fuzz(payload):
            out = mm.decode_wav(b"RIFF" + payload)
            assert out is None or isinstance(out, dict)
            assert mm.decode_wav(payload) is None or isinstance(
                mm.decode_wav(payload), dict
            )

        fuzz()

    def test_truncated_real_containers_reject_cleanly(self):
        import hashlib

        import numpy as np

        d = hashlib.md5(b"x").digest()
        w, h, seed = 8 + d[0] % 32, 8 + d[1] % 32, d[2]
        px = ((seed + np.arange(w * h * 3)) % 256).astype(np.uint8)
        ppm = f"P6\n{w} {h}\n255\n".encode() + px.tobytes()
        assert mm.decode_ppm(ppm) is not None
        for cut in (1, 5, len(ppm) // 2, len(ppm) - 1):
            assert mm.decode_ppm(ppm[:cut]) is None


class TestLshPlan:
    def test_plan_meets_recall_at_threshold(self):
        from etl_stream_spark.operators.dedup import lsh_plan

        for thr, rec in [(0.5, 0.9), (0.8, 0.95), (0.9, 0.99)]:
            n, r = lsh_plan(thr, rec)
            b = n // r
            assert 1.0 - (1.0 - thr**r) ** b >= rec
            assert n % r == 0

    def test_higher_recall_never_needs_fewer_hashes(self):
        from etl_stream_spark.operators.dedup import lsh_plan

        n_low, _ = lsh_plan(0.7, 0.9)
        n_high, _ = lsh_plan(0.7, 0.999)
        assert n_high >= n_low

    def test_default_catalog_config_recall_documented(self):
        """The catalog's 8-hash/2-row default catches >=97% of pairs at
        0.8 Jaccard — the number the entries' docstrings rely on."""
        assert 1.0 - (1.0 - 0.8**2) ** 4 >= 0.97

    def test_invalid_inputs_raise(self):
        import pytest as _pytest

        from etl_stream_spark.operators.dedup import lsh_plan

        with _pytest.raises(ValueError):
            lsh_plan(0.0)
        with _pytest.raises(ValueError):
            lsh_plan(0.5, 1.0)
        with _pytest.raises(ValueError):
            # recall 0.999 at 0.1 Jaccard is unreachable with 4 hashes
            lsh_plan(0.1, 0.999, max_hashes=4)


class TestTokenizeOnceEquivalence:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        from etl_stream_spark.session import load_table

        return load_table(spark, SF_SMOKE, "documents")

    def test_language_scores_equal_per_marker_sums(self, spark, docs):
        """One isin filter per language ≡ the sum of per-marker counts
        (markers are distinct strings, so a token matches at most one) —
        the algebraic fact the 25→5-scan rewrite rests on."""
        from etl_stream_spark.operators import text_analysis as ta

        langs = sorted(ta.LANG_MARKERS)
        lid = ta.with_language_id(docs).select(
            "doc_id", *[f"score_{l}" for l in langs]
        )
        brute = docs.withColumn("_t", ta.tokens("text"))
        for lang in langs:
            score = None
            for w in ta.LANG_MARKERS[lang]:
                c = ta._count_token(F.col("_t"), w)
                score = c if score is None else score + c
            brute = brute.withColumn(f"b_{lang}", score.cast("long"))
        joined = lid.join(brute.select("doc_id", *[f"b_{l}" for l in langs]), "doc_id")
        mismatched = joined.filter(
            " or ".join(f"score_{l} <> b_{l}" for l in langs)
        ).count()
        assert mismatched == 0

    def test_toks_col_reuse_paths_identical(self, spark, docs):
        """Each helper's toks_col fast path must return exactly the
        default path's frame (the funnel rides all three at once)."""
        from etl_stream_spark.operators import text_analysis as ta

        bound = docs.withColumn("_toks", ta.tokens("text"))

        q_cols = ["doc_id", "n_tokens", "stopword_ratio", "punct_ratio", "quality_keep"]
        assert _rows(ta.with_quality_score(docs).select(*q_cols)) == _rows(
            ta.with_quality_score(bound, toks_col="_toks").select(*q_cols)
        )

        l_cols = ["doc_id", "predicted_lang"] + [
            f"score_{l}" for l in sorted(ta.LANG_MARKERS)
        ]
        assert _rows(ta.with_language_id(docs).select(*l_cols)) == _rows(
            ta.with_language_id(bound, toks_col="_toks").select(*l_cols)
        )

        r_cols = [
            "doc_id",
            "n_tokens",
            "top_bigram_frac",
            "top_trigram_frac",
            "max_token_run",
            "repetition_keep",
        ]
        assert _rows(ta.with_repetition_stats(docs).select(*r_cols)) == _rows(
            ta.with_repetition_stats(bound, toks_col="_toks").select(*r_cols)
        )

    def test_toks_col_survives_the_helper_chain(self, spark, docs):
        """The funnel chains all three helpers on one bound column; no
        helper may drop or clobber a caller-owned toks_col."""
        from etl_stream_spark.operators import text_analysis as ta

        chained = ta.with_repetition_stats(
            ta.with_quality_score(
                ta.with_language_id(
                    docs.withColumn("_toks", ta.tokens("text")), toks_col="_toks"
                ),
                toks_col="_toks",
            ).drop("n_tokens"),
            toks_col="_toks",
        )
        assert "_toks" in chained.columns
        # and the chain's flags equal the independently computed ones
        solo = ta.with_repetition_stats(docs).select("doc_id", "repetition_keep")
        assert _rows(chained.select("doc_id", "repetition_keep")) == _rows(solo)
