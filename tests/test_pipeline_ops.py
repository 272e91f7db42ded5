"""Training-pipeline operator tests: dedup, similarity, text stats,
multimodal plumbing, streaming, driver entry smoke."""

from __future__ import annotations

import glob

import numpy as np
import pytest
from pyspark.sql import functions as F

from mojap_arrow_pd_parser_spark.operators import dedup, multimodal, similarity

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat today"),  # near dup
    (4, "completely different content about spark engines and columns"),
    (5, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


class TestDedup:
    def test_exact(self, docs):
        groups = dedup.exact_dup_groups(docs, "text", "doc_id").collect()
        assert len(groups) == 1
        assert groups[0].ids == [1, 2]
        kept = dedup.dedup_exact(docs, "text", "doc_id")
        assert sorted(r.doc_id for r in kept.collect()) == [1, 3, 4, 5]

    def test_jaccard(self, docs):
        pairs = {
            (r.id_a, r.id_b): r.n_inter / r.n_union
            for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
        }
        assert pairs[(1, 2)] == 1.0
        assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0
        assert (1, 4) not in pairs

    def test_minhash_lsh_finds_dups(self, docs):
        cands = {
            (r.id_a, r.id_b)
            for r in dedup.minhash_lsh_candidates(docs, n_hashes=8, bands=4).collect()
        }
        assert (1, 2) in cands  # exact dups always collide
        assert (1, 4) not in cands and (2, 4) not in cands

    def test_simhash_similarity(self, docs):
        sh = {r.id: r.simhash for r in dedup.simhash64(docs).collect()}
        def ham(a, b):
            return bin((a ^ b) & (2**64 - 1)).count("1")
        assert ham(sh[1], sh[2]) == 0
        assert ham(sh[1], sh[3]) < ham(sh[1], sh[4])

    def test_simhash_bits_portable(self, docs):
        sh = {r.id: r.simhash_bits for r in dedup.simhash_bits(docs).collect()}
        assert all(len(v) == 64 and set(v) <= {"0", "1"} for v in sh.values())
        assert sh[1] == sh[2]  # identical docs -> identical signature
        def ham(a, b):
            return sum(x != y for x, y in zip(a, b))
        assert ham(sh[1], sh[3]) < ham(sh[1], sh[4])

    def test_minhash_md5_mode_matches_xxhash_behavior(self, docs):
        for mode in ("md5", "xxhash64"):
            cands = {
                (r.id_a, r.id_b)
                for r in dedup.minhash_lsh_candidates(
                    docs, n_hashes=8, bands=4, base_hash=mode
                ).collect()
            }
            assert (1, 2) in cands and (1, 4) not in cands, mode

    def test_jaccard_hot_shingle_cap(self, spark):
        # every doc shares ONE corpus-wide trigram; the df cap removes it
        # from the self-join so candidate volume stays bounded
        rows = [(i, f"common hot shingle unique{i} tail{i} end{i}") for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        uncapped = dedup.ngram_jaccard_pairs(df, threshold=0.01, max_shingle_df=None)
        assert uncapped.count() == 30 * 29 // 2  # quadratic in the hot df
        capped = dedup.ngram_jaccard_pairs(df, threshold=0.01, max_shingle_df=5)
        assert capped.count() == 0


class TestWinnowing:
    def test_shared_substring_shares_fingerprint(self, spark):
        """Winnowing guarantee: any common substring of length >=
        w+k-1 (= 8 at k=5,w=4) yields at least one shared fingerprint;
        disjoint docs share none (w.h.p.)."""
        from mojap_arrow_pd_parser_spark.operators.textstats import (
            winnow_fingerprints,
        )

        common = "the same long plagiarised sentence appears here"
        rows = [
            (1, f"prefix one {common} suffix alpha"),
            (2, f"other beginning {common} different end"),
            (3, "entirely unrelated content zqx jvw kpt mbn"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        fps = winnow_fingerprints(df, k=5, w=4).collect()
        by_id = {}
        for r in fps:
            by_id.setdefault(r.id, set()).add(r.fp)
        assert by_id[1] & by_id[2]  # the shared run fingerprints overlap
        assert not (by_id[1] & by_id[3])

    def test_deterministic_and_distinct(self, spark):
        from mojap_arrow_pd_parser_spark.operators.textstats import (
            winnow_fingerprints,
        )

        df = spark.createDataFrame([(1, "abcabcabcabcabc")], "doc_id long, text string")
        a = sorted((r.id, r.fp) for r in winnow_fingerprints(df).collect())
        b = sorted((r.id, r.fp) for r in winnow_fingerprints(df).collect())
        assert a == b and len(a) == len(set(a))


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rng = np.random.Generator(np.random.Philox(key=[7, 0]))
        rows = [(i, rng.standard_normal(16).astype(float).tolist()) for i in range(200)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_topk_matches_numpy(self, emb):
        q = [1.0] + [0.0] * 15
        got = {r.vec_id for r in similarity.cosine_topk(emb, q, k=5).collect()}
        pdf = emb.toPandas()
        mat = np.vstack(pdf.embedding.to_numpy()).astype(np.float64)
        cos = (mat @ np.array(q)) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
        expect = set(pdf.vec_id.to_numpy()[np.argsort(-cos)][:5].tolist())
        assert got == expect

    def test_lsh_neardup_pairs_matches_exact_within_buckets(self, spark):
        """Scale path for embedding near-dups: LSH-bucketed pairs are a
        subset of the exact O(N^2) pairs with decent recall on planted
        twins."""
        rng = np.random.Generator(np.random.Philox(key=[21, 0]))
        rows, vid = [], 0
        for _ in range(60):
            b = rng.standard_normal(16)
            for _ in range(2):  # twin pairs
                v = b + 0.02 * rng.standard_normal(16)
                rows.append((vid, (v / np.linalg.norm(v)).astype(np.float32).tolist()))
                vid += 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        exact = {
            (r.id_a, r.id_b)
            for r in similarity.pairwise_neardups(df, threshold=0.95).collect()
        }
        lsh = {
            (r.id_a, r.id_b)
            for r in similarity.lsh_neardup_pairs(
                df, dim=16, threshold=0.95, n_planes=4
            ).collect()
        }
        assert lsh <= exact  # no false pairs (exact re-check in-bucket)
        assert len(lsh & exact) / max(1, len(exact)) >= 0.7  # recall

    def test_lsh_hot_bucket_cap_bounds_candidates(self, spark):
        """A degenerate bucket (all vectors identical direction) gives
        size^2 candidates; max_bucket_size re-splits it so each sub
        bucket is bounded, with only within-sub pairs surviving."""
        rng = np.random.Generator(np.random.Philox(key=[33, 0]))
        base = rng.standard_normal(16)
        rows = []
        for i in range(120):  # all near-identical -> one hot bucket
            v = base + 0.001 * rng.standard_normal(16)
            rows.append((i, (v / np.linalg.norm(v)).astype(np.float32).tolist()))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        full = similarity.lsh_neardup_pairs(
            df, dim=16, threshold=0.99, n_planes=4
        ).count()
        assert full == 120 * 119 // 2  # uncapped: the quadratic blow-up
        capped_df = similarity.lsh_neardup_pairs(
            df, dim=16, threshold=0.99, n_planes=4, max_bucket_size=20
        )
        capped = capped_df.count()
        # ceil(120/20)=6 sub-buckets of ~20 -> ~6*C(20,2)=1140 pairs
        assert 0 < capped < full / 3
        # capped pairs are a SUBSET of real pairs (re-split never invents)
        pairs = {(r.id_a, r.id_b) for r in capped_df.collect()}
        assert all(a < b for a, b in pairs)

    def test_ivf_assign_broadcast_matches_expression(self, spark):
        """k=256, dim=64: the broadcast-UDF assignment matches the JVM
        expression path row-for-row and keeps the plan size FLAT (no
        centroid literals in the plan)."""
        rng = np.random.Generator(np.random.Philox(key=[55, 0]))
        cent = rng.standard_normal((256, 64))
        rows = [
            (i, rng.standard_normal(64).astype(np.float32).tolist())
            for i in range(300)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        udf_df = similarity.ivf_assign(df, cent)  # k>32 -> broadcast path
        got = {r.vec_id: r.list_id for r in udf_df.collect()}
        # numpy oracle with the exact same argmin/tie rule
        pdf = df.toPandas()
        mat = np.vstack(pdf.embedding.to_numpy()).astype(np.float64)
        d = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        expect = dict(zip(pdf.vec_id.tolist(), np.argmin(d, axis=1).tolist()))
        assert got == expect
        # expression path agrees on a small-k slice of the same centroids
        small = cent[:8]
        expr = {
            r.vec_id: r.list_id
            for r in similarity.ivf_assign(df, small, max_expr_k=32).collect()
        }
        udf = {
            r.vec_id: r.list_id
            for r in similarity.ivf_assign(df, small, max_expr_k=0).collect()
        }
        assert expr == udf
        # plan stays flat: no centroid literal leaks into the query plan
        plan = udf_df._jdf.queryExecution().toString()
        marker = f"{cent[0][0]:.6f}"[:8]
        assert marker not in plan
        assert len(plan) < 20_000

    def test_ivf_search_recall(self, spark, emb):
        """IVF: coarse k-means quantizer + nprobe lists + exact rerank;
        candidates shrink (pruned scan) while recall stays usable, and
        nprobe=k degenerates to exact brute force."""
        q = [0.25] * 16
        exact = {r.vec_id for r in similarity.cosine_topk(emb, q, k=10).collect()}
        cents = similarity.ivf_fit_centroids(emb, k=8, seed=7)
        assert cents.shape == (8, 16)
        full = {
            r.vec_id
            for r in similarity.ivf_search(emb, cents, q, k=10, nprobe=8).collect()
        }
        assert full == exact  # all lists probed == brute force
        probed = {
            r.vec_id
            for r in similarity.ivf_search(emb, cents, q, k=10, nprobe=3).collect()
        }
        assert len(probed & exact) / 10 >= 0.5
        # assignment is a total partition of the ids
        assigned = similarity.ivf_assign(emb, cents)
        assert assigned.count() == emb.count()
        assert assigned.filter(F.col("list_id").isNull()).count() == 0

    def test_multiprobe_recall_at_16_planes(self, spark):
        # planted near-dup clusters (LSH's actual workload): recall>=0.9
        # at n_planes=16 needs multiprobe — single-bucket recall dies
        rng = np.random.Generator(np.random.Philox(key=[11, 0]))
        rows, vid = [], 1
        bases = rng.standard_normal((50, 32))
        for b in bases:
            for _ in range(5):
                v = b + 0.05 * rng.standard_normal(32)
                rows.append((vid, (v / np.linalg.norm(v)).astype(np.float32).tolist()))
                vid += 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = bases[0] + 0.05 * rng.standard_normal(32)
        q = (q / np.linalg.norm(q)).tolist()
        exact = {r.vec_id for r in similarity.cosine_topk(df, q, k=5).collect()}
        ann = {
            r.vec_id
            for r in similarity.ann_search(df, q, k=5, n_planes=16, n_probes=32).collect()
        }
        assert len(ann & exact) / len(exact) >= 0.9

    def test_directed_probes_deterministic(self):
        planes = similarity._hyperplanes(8, 16, 7).astype(np.float64)
        q = np.arange(16, dtype=np.float64) / 16.0
        qb = int(((planes @ q) > 0).astype(np.int64) @ (1 << np.arange(8)))
        p1 = similarity.directed_probes(q, planes, qb, 10)
        p2 = similarity.directed_probes(q, planes, qb, 10)
        assert p1 == p2 and p1[0] == qb and len(set(p1)) == 10

    def test_ann_recall(self, emb):
        q = [0.5] * 16
        exact = {r.vec_id for r in similarity.cosine_topk(emb, q, k=10).collect()}
        ann = {r.vec_id for r in similarity.ann_search(emb, q, k=10, n_planes=2).collect()}
        # 2 planes -> 4 buckets (~50 vectors each); recall should be solid
        assert len(ann & exact) >= 5

    def test_bucket_determinism(self, emb):
        b1 = {r.vec_id: r.bucket for r in similarity.rp_lsh_buckets(emb, 16, 8).collect()}
        b2 = {r.vec_id: r.bucket for r in similarity.rp_lsh_buckets(emb, 16, 8).collect()}
        assert b1 == b2


class TestMultimodal:
    def test_resize_plumbing(self, spark):
        """Resize path: image-only filter, bounded batches, exact thumb
        byte size, deterministic across runs; fake=False raises."""
        import pytest as _pytest

        media = multimodal.synthetic_media_table(spark, n_rows=30)
        n_images = media.filter("modality = 'image'").count()
        out = multimodal.resize_images(media, out_w=8, out_h=8)
        rows = out.collect()
        assert len(rows) == n_images > 0
        assert all(len(r.thumb) == 8 * 8 * 3 for r in rows)
        again = {r.media_id: r.thumb for r in multimodal.resize_images(
            media, out_w=8, out_h=8).collect()}
        assert all(again[r.media_id] == r.thumb for r in rows)
        with _pytest.raises(Exception, match="NotImplementedError|imaging"):
            multimodal.resize_images(media, fake=False).collect()

    def test_feature_plumbing(self, spark):
        media = multimodal.synthetic_media_table(spark, n_rows=30)
        feats = multimodal.extract_features(media)
        rows = feats.collect()
        assert len(rows) == 30
        assert all(len(r.feature) == multimodal.FEATURE_DIM for r in rows)
        # deterministic: same payload digest -> same features
        again = {r.media_id: r.feature for r in multimodal.extract_features(media).collect()}
        assert again[rows[0].media_id] == rows[0].feature

    def test_real_decode_stubbed(self):
        """Non-BMP image codecs, non-WAV audio, and video stay gated;
        a RIFF container that isn't valid PCM WAV fails loudly in the
        REAL decoder (ValueError), not silently."""
        with pytest.raises(NotImplementedError, match="media libraries"):
            multimodal.decode_payload(b"xx", "image", fake=False)
        with pytest.raises(NotImplementedError, match="media libraries"):
            multimodal.decode_payload(b"ID3\x03mp3junk", "audio", fake=False)
        with pytest.raises(NotImplementedError, match="media libraries"):
            multimodal.decode_payload(b"\x00\x00mp4junk", "video", fake=False)
        with pytest.raises(ValueError, match="fmt/data"):
            multimodal.decode_payload(b"RIFF\x04\x00\x00\x00WAVE", "audio",
                                      fake=False)

    def test_wav_codec_roundtrip(self):
        """encode_wav -> decode_wav is sample-identical for int16 and
        uint8 PCM, mono and stereo, odd byte counts (2-byte chunk
        padding), and tolerates extra chunks between fmt and data."""
        import struct as _struct

        import numpy as np

        rng = np.random.Generator(np.random.Philox(key=[11, 0]))
        cases = [
            (rng.integers(-32768, 32767, (161,), dtype=np.int16), 8000),
            (rng.integers(-32768, 32767, (240, 2), dtype=np.int16), 16000),
            (rng.integers(0, 256, (99,), dtype=np.uint8), 22050),  # odd bytes
            (rng.integers(0, 256, (50, 2), dtype=np.uint8), 44100),
        ]
        for samples, rate in cases:
            data = multimodal.encode_wav(samples, rate)
            back, back_rate = multimodal.decode_wav(data)
            want = samples[:, None] if samples.ndim == 1 else samples
            assert back_rate == rate
            assert back.dtype == samples.dtype
            assert (back == want).all()
        # extra chunk between fmt and data is skipped, not fatal
        samples, rate = cases[0]
        data = multimodal.encode_wav(samples, rate)
        fmt_end = 12 + 8 + 16
        extra = _struct.pack("<4sI", b"LIST", 5) + b"INFOx" + b"\x00"  # padded
        spliced = bytearray(data[:fmt_end] + extra + data[fmt_end:])
        _struct.pack_into("<I", spliced, 4, len(spliced) - 8)
        back, back_rate = multimodal.decode_wav(bytes(spliced))
        assert back_rate == rate and (back[:, 0] == samples).all()
        # malformed inputs fail loudly
        with pytest.raises(ValueError, match="truncated"):
            multimodal.decode_wav(data[:-10])
        float_fmt = bytearray(data)
        _struct.pack_into("<H", float_fmt, 20, 3)  # IEEE-float format tag
        with pytest.raises(ValueError, match="integer PCM"):
            multimodal.decode_wav(bytes(float_fmt))

    def test_real_audio_features(self, spark):
        """REAL PCM frames end-to-end (no libraries): WAV datagen ->
        fake=False feature extraction through the distributed
        mapInPandas path; features reflect the actual waveform."""
        import numpy as np

        media = multimodal.synthetic_media_table(
            spark, n_rows=30, real_audio=True
        )
        auds = media.filter("modality = 'audio'")
        rows = {
            r.media_id: r
            for r in multimodal.extract_features(auds, fake=False).collect()
        }
        assert len(rows) == auds.count() > 0
        local = {r.media_id: r.payload for r in auds.collect()}
        saw_pcm8 = saw_pcm16 = False
        for mid, r in rows.items():
            samples, rate = multimodal.decode_wav(local[mid])
            saw_pcm8 |= samples.dtype == np.uint8
            saw_pcm16 |= samples.dtype == np.int16
            expect = multimodal.audio_features(samples, rate)
            assert np.allclose(np.array(r.feature), expect)
            # features are real: a 0.5-amplitude sine has RMS ~0.35
            assert 0.2 < r.feature[2] < 0.5
            # and near-zero mean (no DC offset in the fixture)
            assert abs(r.feature[0]) < 0.05
        assert saw_pcm8 and saw_pcm16  # datagen exercised both widths

    def test_real_mixed_modality_features(self, spark):
        """One fake=False pass over a MIXED real-BMP + real-WAV table:
        the same mapInPandas job dispatches per-row on modality."""
        media = multimodal.synthetic_media_table(
            spark, n_rows=24, real_images=True, real_audio=True
        )
        both = media.filter("modality IN ('image', 'audio')")
        feats = multimodal.extract_features(both, fake=False)
        rows = feats.collect()
        assert len(rows) == both.count() > 0
        assert all(len(r.feature) == multimodal.FEATURE_DIM for r in rows)

    def test_bmp_codec_roundtrip(self):
        """encode_bmp -> decode_bmp is pixel-identical, padding and
        all (odd widths exercise the 4-byte row padding)."""
        import numpy as np

        rng = np.random.Generator(np.random.Philox(key=[7, 0]))
        for h, w in [(1, 1), (3, 5), (16, 16), (11, 7), (2, 31)]:
            px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            data = multimodal.encode_bmp(px)
            assert data[:2] == b"BM"
            back = multimodal.decode_bmp(data)
            assert back.shape == (h, w, 3)
            assert (back == px).all()
        # top-down BMP (negative height) decodes too
        px = rng.integers(0, 256, (4, 6, 3), dtype=np.uint8)
        data = bytearray(multimodal.encode_bmp(px[::-1]))
        import struct as _struct

        _struct.pack_into("<i", data, 22, -4)
        assert (multimodal.decode_bmp(bytes(data)) == px).all()

    def test_real_image_features_and_resize(self, spark):
        """REAL pixels end-to-end (no libraries): BMP datagen ->
        fake=False feature extraction + resize through the distributed
        mapInPandas path; features reflect actual image content and
        the resize is the exact nearest-neighbor local result."""
        import numpy as np

        media = multimodal.synthetic_media_table(
            spark, n_rows=30, real_images=True
        )
        imgs = media.filter("modality = 'image'")
        rows = {
            r.media_id: r
            for r in multimodal.extract_features(imgs, fake=False).collect()
        }
        assert len(rows) == imgs.count() > 0
        local = {r.media_id: r.payload for r in imgs.collect()}
        for mid, r in rows.items():
            px = multimodal.decode_bmp(local[mid])
            expect = multimodal.image_features(px)
            assert np.allclose(np.array(r.feature), expect)
            # features are real: mean-channel head matches the pixels
            assert abs(r.feature[0] - px[..., 0].mean() / 255.0) < 1e-6
        thumbs = {
            r.media_id: r.thumb
            for r in multimodal.resize_images(
                imgs, out_w=8, out_h=8, fake=False
            ).collect()
        }
        for mid, t in thumbs.items():
            px = multimodal.decode_bmp(local[mid])
            expect = multimodal.resize_pixels(px, 8, 8)
            assert t == expect.tobytes()
            assert len(t) == 8 * 8 * 3

    def test_resize_pixels_identity_and_downscale(self):
        import numpy as np

        px = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
        assert (multimodal.resize_pixels(px, 6, 4) == px).all()
        half = multimodal.resize_pixels(px, 3, 2)
        assert half.shape == (2, 3, 3)
        assert (half == px[::2][:, ::2]).all()

    def test_frame_sample_plan(self, spark):
        media = multimodal.synthetic_media_table(spark, n_rows=9)
        plan = multimodal.frame_sample_plan(media, every_ms=60_000)
        assert plan.filter(F.col("frame_ts_ms") % 60_000 != 0).count() == 0

    def test_avi_codec_roundtrip(self):
        """encode_avi -> decode_avi is pixel- and fps-identical across
        frame counts / odd geometries (4-byte DIB row padding), and
        malformed or compressed payloads fail loudly."""
        import struct as _struct

        import numpy as np

        rng = np.random.Generator(np.random.Philox(key=[13, 0]))
        for shape, fps in [
            ((6, 9, 13, 3), 10), ((1, 16, 16, 3), 24), ((4, 7, 5, 3), 15),
        ]:
            frames = rng.integers(0, 256, shape, dtype=np.uint8)
            data = multimodal.encode_avi(frames, fps)
            back, back_fps = multimodal.decode_avi(data)
            assert back.shape == frames.shape
            assert (back == frames).all()
            assert back_fps == fps
        with pytest.raises(ValueError, match="truncated"):
            multimodal.decode_avi(data[:-20])
        compressed = bytearray(data)
        # flip strf biCompression (header layout fixed by encode_avi:
        # RIFF(12) + LIST/hdrl(12) + avih(8+56) + LIST/strl(12) +
        # strh(8+56) + strf hdr(8) + 16 bytes into BITMAPINFOHEADER
        off = 12 + 12 + 64 + 12 + 64 + 8 + 16
        _struct.pack_into("<I", compressed, off, 1)  # BI_RLE8
        with pytest.raises(ValueError, match="uncompressed"):
            multimodal.decode_avi(bytes(compressed))

    def test_real_video_features_and_frames(self, spark):
        """REAL AVI frames end-to-end (no libraries): AVI datagen ->
        fake=False feature extraction AND frame sampling through the
        distributed mapInPandas paths; features reflect the actual
        frames and sampled frames are pixel-exact."""
        import numpy as np

        media = multimodal.synthetic_media_table(
            spark, n_rows=18, real_video=True
        )
        vids = media.filter("modality = 'video'")
        rows = {
            r.media_id: r
            for r in multimodal.extract_features(vids, fake=False).collect()
        }
        assert len(rows) == vids.count() > 0
        local = {r.media_id: r.payload for r in vids.collect()}
        for mid, r in rows.items():
            frames, fps = multimodal.decode_avi(local[mid])
            expect = multimodal.video_features(frames, fps)
            assert np.allclose(np.array(r.feature), expect)
            # the moving-gradient fixture has real motion energy
            assert r.feature[11] > 0.01
        # sampled frames are the exact decoded frames at each ts
        sampled = multimodal.sample_frames(
            vids, every_ms=100, fake=False
        ).collect()
        assert len(sampled) > len(rows)  # multiple frames per video
        for s in sampled[:12]:
            frames, fps = multimodal.decode_avi(local[s.media_id])
            idx = min(len(frames) - 1, int(s.frame_ts_ms * fps / 1000))
            got = np.frombuffer(s.frame, dtype=np.uint8).reshape(
                s.frame_h, s.frame_w, 3
            )
            assert (got == frames[idx]).all()
        # fake frame sampling still emits the plan's timestamps
        fake_frames = multimodal.sample_frames(
            media, every_ms=60_000, fake=True
        )
        assert fake_frames.filter(
            F.col("frame_ts_ms") % 60_000 != 0
        ).count() == 0

    def test_real_three_modality_features(self, spark):
        """One fake=False pass over a table where ALL THREE modalities
        are real library-free payloads: the same mapInPandas job
        dispatches per-row (BMP pixels / WAV samples / AVI frames)."""
        media = multimodal.synthetic_media_table(
            spark, n_rows=24, real_images=True, real_audio=True,
            real_video=True,
        )
        feats = multimodal.extract_features(media, fake=False)
        rows = feats.collect()
        assert len(rows) == media.count() == 24
        assert all(len(r.feature) == multimodal.FEATURE_DIM for r in rows)


class TestStreaming:
    def test_stream_encode_drains_and_verifies(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        from mojap_arrow_pd_parser_spark.operators.decode import verify_roundtrip
        from mojap_arrow_pd_parser_spark.streaming.pipeline import stream_encode

        src_dir = str(tmp_path / "src")
        out = str(tmp_path / "enc")
        ckpt = str(tmp_path / "ckpt")
        src = tokens_table(spark, 1500, seed=5, avg_len=32)
        src.write.mode("overwrite").parquet(src_dir)
        q = stream_encode(spark, src_dir, out, ckpt, n_chunks=4)
        q.awaitTermination(120)
        stored = spark.read.parquet(src_dir)
        assert verify_roundtrip(spark, stored, out)["mismatches"] == 0

    def test_stream_decode_matches_batch(self, spark, tmp_path):
        """Streaming consumer of the encoded table: per-batch codec
        decode into an epoch-partitioned parquet sink == batch decode."""
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table
        from mojap_arrow_pd_parser_spark.streaming.pipeline import stream_decode

        out = str(tmp_path / "enc")
        sink = str(tmp_path / "decoded")
        src = tokens_table(spark, 1200, seed=9, avg_len=32)
        encode_table(spark, src, out, key="doc_id", n_chunks=6)
        q = stream_decode(spark, out, sink, str(tmp_path / "ckpt2"),
                          max_files_per_trigger=2)
        q.awaitTermination(120)
        got = spark.read.option("recursiveFileLookup", "false").parquet(sink)
        assert got.count() == 1200
        j = src.alias("o").join(got.alias("d"), "doc_id")
        ok = (
            F.col("o.tokens").eqNullSafe(F.col("d.tokens"))
            & F.col("o.n_tok").eqNullSafe(F.col("d.n_tok"))
            & F.col("o.source").eqNullSafe(F.col("d.source"))
        )
        assert j.filter(~ok).count() == 0

    def test_windowed_counts_stream_matches_batch(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.streaming.pipeline import (
            windowed_event_counts_batch,
            windowed_event_counts_stream,
        )

        import shutil

        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        # FileStreamSource needs a directory of files
        src_dir = tmp_path / "events_src"
        src_dir.mkdir()
        shutil.copy("/root/testdata/sf0.001/events.parquet", src_dir / "part-0.parquet")
        q = windowed_event_counts_stream(
            spark, str(src_dir), events.schema, "1 hour", "2 hours"
        )
        q.awaitTermination(120)
        # watermark append-mode emits closed windows; compare counts subset
        streamed = spark.sql(
            "SELECT window.start AS window_start, event_type, n FROM windowed_event_counts"
        )
        batch = windowed_event_counts_batch(events, "1 hour")
        b = {(r.window_start, r.event_type): r.n for r in batch.collect()}
        for r in streamed.collect():
            assert b.get((r.window_start, r.event_type)) == r.n


class TestStatefulStreaming:
    def test_sessionize_matches_batch(self, spark, tmp_path):
        """applyInPandasWithState sessions == batch gaps-and-islands
        sessions (modulo each user's final still-open session, which
        only a timeout would close)."""
        import shutil

        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from mojap_arrow_pd_parser_spark.streaming.stateful import (
            streaming_sessionize,
        )

        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        src_dir = tmp_path / "ev_src"
        src_dir.mkdir()
        shutil.copy(
            "/root/testdata/sf0.001/events.parquet", src_dir / "part-0.parquet"
        )
        q = streaming_sessionize(
            spark, str(src_dir), events.schema, str(tmp_path / "ckpt"),
            queryName="sessions_t",
        )
        q.awaitTermination(180)
        streamed = {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.sql("SELECT * FROM sessions_t").collect()
        }
        # batch truth: gaps-and-islands, drop each user's last session
        ts = F.col("ts").cast("timestamp")
        w = Window.partitionBy("user_id").orderBy(ts)
        gap = F.unix_micros(ts) - F.unix_micros(F.lag(ts).over(w))
        sess = (
            events.withColumn(
                "sid",
                F.sum(
                    F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
                ).over(w),
            )
            .groupBy("user_id", "sid")
            .agg(
                F.min(ts).alias("session_start"),
                F.max(ts).alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
            )
        )
        last_sid = sess.groupBy("user_id").agg(F.max("sid").alias("max_sid"))
        closed = sess.join(last_sid, "user_id").filter(
            F.col("sid") < F.col("max_sid")
        )
        expected = {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in closed.collect()
        }
        assert len(streamed) > 50
        assert streamed == expected


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert all(r.status == "ok" for r in rows)
    assert all(r.rt_mismatches == 0 for r in rows)


class TestRepetitionSignals:
    def _docs(self, spark):
        return spark.createDataFrame(
            [
                # "a a a b" -> top word 'a' (3 chars of 5); trigrams:
                # "a a a", "a a b" -> 2 total, 2 distinct
                (1, "a a a b"),
                # all-duplicate trigrams: "x y x y x y" -> grams
                # [x y x, y x y, x y x, y x y] -> 4 total, 2 distinct
                (2, "x y x y x y"),
                # short doc (< n words): one truncated gram
                (3, "solo"),
            ],
            "doc_id long, text string",
        )

    def test_signals_by_hand(self, spark):
        from mojap_arrow_pd_parser_spark.operators.textstats import (
            repetition_signals,
        )

        out = {
            r.id: r
            for r in repetition_signals(self._docs(spark), ngram_n=3).collect()
        }
        r1 = out[1]
        assert (r1.n_words, r1.top_word, r1.top_word_chars) == (4, "a", 3)
        assert (r1.total_word_chars, r1.n_grams, r1.n_distinct_grams) == (4, 2, 2)
        r2 = out[2]
        assert (r2.n_grams, r2.n_distinct_grams) == (4, 2)
        r3 = out[3]
        assert (r3.n_words, r3.top_word, r3.n_grams) == (1, "solo", 1)

    def test_top_word_tiebreak_asc(self, spark):
        from mojap_arrow_pd_parser_spark.operators.textstats import (
            repetition_signals,
        )

        df = spark.createDataFrame(
            [(1, "bb aa bb aa")], "doc_id long, text string"
        )
        r = repetition_signals(df).collect()[0]
        assert r.top_word == "aa"  # count tie (2-2) -> lexicographic


class TestOovRate:
    def test_oov_counts(self, spark):
        from mojap_arrow_pd_parser_spark.operators.packing import (
            oov_against_vocab, token_vocab,
        )

        df = spark.createDataFrame(
            [("d1", [1, 1, 2, 9]), ("d2", [9, 9]), ("d3", [1, 2])],
            "doc_id string, tokens array<int>",
        )
        # top-2 vocab by count desc, token asc: 9 (n=3), 1 (n=3) -> tie
        # broken ascending -> vocab = {1, 9}; 2 is OOV
        vocab = token_vocab(df, k=2)
        assert {r.token for r in vocab.collect()} == {1, 9}
        out = {r.id: (r.n_tok, r.n_oov) for r in oov_against_vocab(df, vocab).collect()}
        assert out == {"d1": (4, 1), "d2": (2, 0), "d3": (2, 1)}


class TestStratifiedSample:
    def test_exact_n_per_stratum_and_nesting(self, spark):
        from mojap_arrow_pd_parser_spark.operators.sampling import (
            stratified_sample,
        )

        rows = [(i, "s%d" % (i % 3)) for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        s5 = stratified_sample(df, "source", 5).collect()
        per = {}
        for r in s5:
            per.setdefault(r.source, set()).add((r.sample_rank, r.doc_id))
        assert all(len(v) == 5 for v in per.values())
        # deterministic + nested: the 3-sample is a prefix of the 5-sample
        s3 = stratified_sample(df, "source", 3).collect()
        got3 = {(r.source, r.sample_rank, r.doc_id) for r in s3}
        assert got3 == {
            (src, rk, did) for src, v in per.items() for rk, did in v if rk <= 3
        }

    def test_small_stratum_returns_all(self, spark):
        from mojap_arrow_pd_parser_spark.operators.sampling import (
            stratified_sample,
        )

        df = spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "doc_id long, source string"
        )
        out = stratified_sample(df, "source", 5).collect()
        assert len(out) == 3

    def test_hash_sample_disjoint_and_deterministic(self, spark):
        from mojap_arrow_pd_parser_spark.operators.sampling import hash_sample

        df = spark.createDataFrame(
            [(i,) for i in range(2000)], "doc_id long"
        )
        a = {r.doc_id for r in hash_sample(df, 0.2).collect()}
        b = {r.doc_id for r in hash_sample(df, 0.2).collect()}
        assert a == b  # pure function of id
        assert 250 < len(a) < 550  # ~400 expected


class TestConnectedComponentsOps:
    def test_labels_are_component_min(self, spark):
        from mojap_arrow_pd_parser_spark.operators.dedup import (
            connected_components,
        )

        # two components: {1,2,3} (chain) and {10, 11}
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        )
        got = {r.id: r.comp for r in connected_components(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_canonicalize_keeps_min_and_unpaired(self, spark):
        from mojap_arrow_pd_parser_spark.operators.dedup import (
            canonicalize_duplicates, connected_components,
        )

        docs = spark.createDataFrame(
            [(i, f"t{i}") for i in (1, 2, 3, 10, 11, 99)],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        )
        labels = connected_components(pairs)
        kept = {r.doc_id for r in canonicalize_duplicates(docs, labels).collect()}
        assert kept == {1, 10, 99}  # component minima + the unpaired doc

    def test_warns_when_max_iters_exhausted(self, spark):
        """A chain deeper than max_iters leaves labels != component
        minima — the convergence failure must be LOUD, because
        canonicalize_duplicates would silently keep extra docs."""
        import warnings

        from mojap_arrow_pd_parser_spark.operators.dedup import (
            connected_components,
        )

        # a 12-node path graph needs ~diameter rounds to converge
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(12)], "id_a long, id_b long"
        )
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            connected_components(pairs, max_iters=1).collect()
        assert any(
            issubclass(x.category, RuntimeWarning)
            and "did not converge" in str(x.message)
            for x in w
        )
        # converged runs stay silent
        with warnings.catch_warnings(record=True) as w2:
            warnings.simplefilter("always")
            connected_components(pairs, max_iters=20).collect()
        assert not [x for x in w2 if "did not converge" in str(x.message)]

    def test_edge_cache_released(self, spark):
        """The per-call edges cache must not leak cached partitions
        across repeated calls (q28 + q46 run in one session)."""
        from mojap_arrow_pd_parser_spark.operators.dedup import (
            connected_components,
        )

        spark.catalog.clearCache()
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "id_a long, id_b long"
        )
        connected_components(pairs).collect()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


class TestPiiRedaction:
    def test_counts_and_replacement(self, spark):
        from mojap_arrow_pd_parser_spark.operators.textstats import redact_pii

        df = spark.createDataFrame(
            [
                (1, "mail a.b-c@x.co.uk and 10.0.0.1 then call +123 456-7890"),
                (2, "no pii here"),
                (3, "two mails p@q.io r@s.ai and ip 1.2.3.4 ip 5.6.7.8"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in redact_pii(df).collect()}
        assert (out[1].n_email, out[1].n_ipv4, out[1].n_phone) == (1, 1, 1)
        assert out[1].redacted == "mail <EMAIL> and <IP> then call <PHONE>"
        assert (out[2].n_email, out[2].n_ipv4, out[2].n_phone) == (0, 0, 0)
        assert out[2].redacted == "no pii here"
        assert (out[3].n_email, out[3].n_ipv4) == (2, 2)
        assert "<EMAIL>" in out[3].redacted and "<IP>" in out[3].redacted
        assert "@" not in out[3].redacted


class TestDuplicatedPassages:
    """Exact substring-level dedup (Lee et al. 2022 semantics): hand-
    computed span coverage, island merging at the n-gap boundary,
    scope modes, and the strip materialization."""

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_shared_run_spans_exact(self, spark):
        # d1/d2 share exactly the 6-token run "c d e f g h"
        df = self._df(spark, [
            (1, "a1 b1 c d e f g h i1 j1"),
            (2, "x1 y1 z1 c d e f g h w1"),
        ])
        spans = {
            (r.id): (r.span_start, r.span_end, r.span_tokens)
            for r in dedup.duplicated_passage_spans(df, n=3).collect()
        }
        assert spans[1] == (2, 7, 6)
        assert spans[2] == (3, 8, 6)
        stats = {
            r.id: (r.n_spans, r.dup_tokens, r.n_tokens)
            for r in dedup.duplicated_passage_stats(df, n=3).collect()
        }
        assert stats[1] == (1, 6, 10) and stats[2] == (1, 6, 10)

    def test_min_tokens_filters_after_merge(self, spark):
        df = self._df(spark, [
            (1, "a1 b1 c d e f g h i1 j1"),
            (2, "x1 y1 z1 c d e f g h w1"),
        ])
        stats = {
            r.id: (r.n_spans, r.dup_tokens)
            for r in dedup.duplicated_passage_stats(df, n=3, min_tokens=7).collect()
        }
        assert stats[1] == (0, 0) and stats[2] == (0, 0)

    def test_islands_split_beyond_n_gap(self, spark):
        # two shared 4-token runs separated by 4 unique tokens: the
        # middle is NOT covered, so two disjoint spans per doc
        df = self._df(spark, [
            (1, "c d e f q1 q2 q3 q4 m n o p"),
            (2, "c d e f r1 r2 r3 r4 m n o p"),
        ])
        spans = sorted(
            (r.id, r.span_start, r.span_end)
            for r in dedup.duplicated_passage_spans(df, n=3).collect()
        )
        assert spans == [(1, 0, 3), (1, 8, 11), (2, 0, 3), (2, 8, 11)]

    def test_islands_merge_at_n_gap(self, spark):
        # duplicated shingles at positions 0 and 3 (gap == n): their
        # token coverage [0,2] and [3,5] is adjacent -> one span
        df = self._df(spark, [
            (1, "c d e f g h"),
            (2, "c d e z f g h"),
        ])
        spans = [
            (r.span_start, r.span_end, r.span_tokens)
            for r in dedup.duplicated_passage_spans(df, n=3).collect()
            if r.id == 1
        ]
        assert spans == [(0, 5, 6)]

    def test_scope_corpus_catches_self_repeats(self, spark):
        df = self._df(spark, [(1, "c d e f q1 q2 c d e f")])
        cross = dedup.duplicated_passage_stats(df, n=3).collect()
        assert (cross[0].n_spans, cross[0].dup_tokens) == (0, 0)
        corpus = dedup.duplicated_passage_stats(df, n=3, scope="corpus").collect()
        assert (corpus[0].n_spans, corpus[0].dup_tokens) == (2, 8)

    def test_scope_validation(self, spark):
        df = self._df(spark, [(1, "a b c")])
        with pytest.raises(ValueError, match="scope"):
            dedup.duplicated_passage_spans(df, scope="bogus")

    def test_strip_removes_covered_tokens_only(self, spark):
        df = self._df(spark, [
            (1, "a1 b1 c d e f g h i1 j1"),
            (2, "x1 y1 z1 c d e f g h w1"),
            (3, "untouched  Solo   document"),
        ])
        out = {r.doc_id: r.text for r in
               dedup.strip_duplicated_passages(df, n=3).collect()}
        assert out[1] == "a1 b1 i1 j1"
        assert out[2] == "x1 y1 z1 w1"
        # pass-through docs come back normalized (lowered, collapsed)
        assert out[3] == "untouched solo document"

    def test_positioned_shingles_match_word_shingles(self, spark):
        df = self._df(spark, [(1, "the quick  Brown fox")])
        pos = dedup.positioned_shingles(df, "text", "doc_id", n=2).collect()
        assert {(r.pos, r.shingle) for r in pos} == {
            (0, "the quick"), (1, "quick brown"), (2, "brown fox"),
        }
        flat = {r.shingle for r in
                dedup.word_shingles(df, "text", "doc_id", n=2).collect()}
        assert {r.shingle for r in pos} == flat


class TestProductQuantization:
    """PQ embedding codec: fit determinism, code shape, reconstruction
    distortion vs the no-op bound, ADC search recall on clustered
    vectors, UDF==expression path parity."""

    @pytest.fixture(scope="class")
    def emb(self, spark):
        from mojap_arrow_pd_parser_spark import datagen
        return datagen.clustered_embeddings(
            spark, 400, dim=32, k=8, seed=11, noise=0.05
        ).cache()

    @pytest.fixture(scope="class")
    def books(self, emb):
        return similarity.pq_fit(emb, m=4, k=16, sample_rows=400)

    def test_fit_shape_and_determinism(self, emb, books):
        assert books.shape == (4, 16, 8)
        again = similarity.pq_fit(emb, m=4, k=16, sample_rows=400)
        assert np.array_equal(books, again)

    def test_fit_rejects_bad_m(self, emb):
        with pytest.raises(ValueError, match="not divisible"):
            similarity.pq_fit(emb, m=5, k=16, sample_rows=400)

    def test_encode_codes_shape_and_range(self, emb, books):
        codes = similarity.pq_encode(emb, books).collect()
        assert len(codes) == 400
        for r in codes:
            assert len(r.codes) == 4
            assert all(0 <= c < 16 for c in r.codes)

    def test_reconstruct_beats_zero_vector(self, emb, books):
        # quantization distortion must be far below the signal energy
        codes = similarity.pq_encode(emb, books)
        rec = {r.vec_id: np.array(r.vec) for r in
               similarity.pq_reconstruct(codes, books).collect()}
        orig = {r.vec_id: np.array(r.embedding, dtype=np.float64)
                for r in emb.collect()}
        err = np.mean([((rec[i] - orig[i]) ** 2).sum() for i in orig])
        sig = np.mean([(orig[i] ** 2).sum() for i in orig])
        assert err < 0.25 * sig

    def test_adc_shortlist_and_rerank_recover_exact_topk(self, spark, emb, books):
        # ADC approximates L2; codes can't rank vectors closer together
        # than the codeword spacing, so the contract is: the exact
        # top-10 lands inside a 5x ADC shortlist, and the exact re-rank
        # over that shortlist returns the true top-10 exactly.
        rows = emb.collect()
        q = np.array(next(r.embedding for r in rows if r.vec_id == 0))
        rest = [(r.vec_id, np.array(r.embedding)) for r in rows if r.vec_id != 0]
        d2 = sorted(rest, key=lambda t: (((t[1] - q) ** 2).sum(), t[0]))
        exact = [vid for vid, _ in d2[:10]]
        others = emb.filter(F.col("vec_id") != 0)
        codes = similarity.pq_encode(others, books)
        short = {r.vec_id for r in
                 similarity.pq_search(codes, books, list(q), topk=50).collect()}
        assert len(set(exact) & short) >= 9  # shortlist recall
        reranked = [r.vec_id for r in similarity.pq_shortlist_rerank(
            others, codes, books, list(q), k=10, shortlist=50).collect()]
        assert set(reranked) == set(exact)

    def test_adc_topk_stays_in_query_cluster(self, emb, books):
        # coarse correctness: even unreranked ADC never leaves the
        # query's mixture component (cross-cluster distances dwarf
        # quantization error)
        rows = emb.collect()
        qrow = next(r for r in rows if r.vec_id == 0)
        cluster_of = {r.vec_id: r.cluster for r in rows}
        codes = similarity.pq_encode(emb.filter(F.col("vec_id") != 0), books)
        top = similarity.pq_search(codes, books, list(qrow.embedding), topk=10)
        assert all(cluster_of[r.vec_id] == qrow.cluster for r in top.collect())

    def test_udf_and_expr_paths_agree(self, emb, books):
        q = [0.1] * 32
        codes = similarity.pq_encode(emb, books).cache()
        udf = {(r.vec_id, r.ad2) for r in
               similarity.pq_search(codes, books, q, topk=10).collect()}
        expr = {(r.vec_id, r.ad2) for r in
                similarity.pq_search(codes, books, q, topk=10, use_udf=False).collect()}
        assert udf == expr

    def test_l2_topk_matches_numpy_exact(self, emb):
        rows = emb.collect()
        q = np.array(next(r.embedding for r in rows if r.vec_id == 0),
                     dtype=np.float64)
        exact = sorted(
            ((round(((np.array(r.embedding, dtype=np.float64) - q) ** 2)
                    .sum(), 5), r.vec_id) for r in rows)
        )[:10]
        got = [(r.d2, r.vec_id) for r in
               similarity.l2_topk(emb, list(q), k=10).collect()]
        assert got == exact


class TestIvfPq:
    """IVF-PQ residual quantization: fit determinism, encode parity
    with a from-scratch numpy model, the residual-distortion win over
    plain PQ, per-list ADC correctness, and end-to-end recall."""

    @pytest.fixture(scope="class")
    def emb(self, spark):
        from mojap_arrow_pd_parser_spark import datagen
        return datagen.clustered_embeddings(
            spark, 400, dim=32, k=8, seed=11, noise=0.05
        ).cache()

    @pytest.fixture(scope="class")
    def cents(self, emb):
        return similarity.ivf_fit_centroids(
            emb.drop("cluster"), k=8, seed=7
        )

    @pytest.fixture(scope="class")
    def books(self, emb, cents):
        return similarity.ivfpq_fit(emb, cents, m=4, k=16, sample_rows=400)

    def test_fit_deterministic(self, emb, cents, books):
        assert books.shape == (4, 16, 8)
        again = similarity.ivfpq_fit(emb, cents, m=4, k=16, sample_rows=400)
        assert np.array_equal(books, again)

    def test_encode_matches_numpy_model(self, emb, cents, books):
        got = {r.vec_id: (r.list_id, list(r.codes)) for r in
               similarity.ivfpq_encode(emb, cents, books).collect()}
        rows = emb.collect()
        cc = (cents * cents).sum(axis=1)
        for r in rows:
            v = np.array(r.embedding, dtype=np.float64)
            lid = int(np.argmin(cc - 2.0 * (cents @ v)))
            res = (v - cents[lid]).reshape(4, 8)
            codes = [int(np.argmin(((books[s] - res[s]) ** 2).sum(axis=1)))
                     for s in range(4)]
            assert got[r.vec_id] == (lid, codes), r.vec_id

    def test_residual_distortion_beats_plain_pq(self, emb, cents, books):
        # same (m, k) budget: quantizing residuals must reconstruct
        # strictly better than quantizing raw vectors
        plain_books = similarity.pq_fit(emb, m=4, k=16, sample_rows=400)
        rows = emb.collect()
        plain_err = res_err = 0.0
        cc = (cents * cents).sum(axis=1)
        for r in rows:
            v = np.array(r.embedding, dtype=np.float64)
            sub = v.reshape(4, 8)
            rec_p = np.vstack([
                plain_books[s][np.argmin(((plain_books[s] - sub[s]) ** 2).sum(axis=1))]
                for s in range(4)
            ]).ravel()
            plain_err += ((rec_p - v) ** 2).sum()
            lid = int(np.argmin(cc - 2.0 * (cents @ v)))
            res = (v - cents[lid]).reshape(4, 8)
            rec_r = cents[lid] + np.vstack([
                books[s][np.argmin(((books[s] - res[s]) ** 2).sum(axis=1))]
                for s in range(4)
            ]).ravel()
            res_err += ((rec_r - v) ** 2).sum()
        assert res_err < 0.8 * plain_err

    def test_per_list_adc_matches_numpy(self, emb, cents, books):
        rows = emb.collect()
        q = np.array(next(r.embedding for r in rows if r.vec_id == 0),
                     dtype=np.float64)
        codes = similarity.ivfpq_encode(
            emb.filter(F.col("vec_id") != 0), cents, books
        ).cache()
        got = {r.vec_id: r.ad2 for r in similarity.ivfpq_search(
            codes, cents, books, list(q), topk=400, nprobe=8).collect()}
        # nprobe=8 == all lists -> every row present, ad2 == numpy ADC
        assert len(got) == 399
        code_rows = {r.vec_id: (r.list_id, list(r.codes))
                     for r in codes.collect()}
        for vid, (lid, cs) in code_rows.items():
            qr = (q - cents[lid]).reshape(4, 8)
            want = round(sum(
                ((books[s, cs[s]] - qr[s]) ** 2).sum() for s in range(4)
            ), 5)
            assert abs(got[vid] - want) < 1e-9, vid

    def test_rerank_recovers_exact_topk(self, emb, cents, books):
        rows = emb.collect()
        q = list(next(r.embedding for r in rows if r.vec_id == 0))
        others = emb.filter(F.col("vec_id") != 0)
        truth = [r.vec_id for r in similarity.l2_topk(others, q, k=10).collect()]
        codes = similarity.ivfpq_encode(others, cents, books)
        got = [r.vec_id for r in similarity.ivfpq_shortlist_rerank(
            others, codes, cents, books, q, k=10, nprobe=2, shortlist=50
        ).collect()]
        assert set(got) == set(truth)

    def test_codes_roundtrip_through_chunk_engine(self, spark, emb, cents, books):
        # the storage claim: PQ codes are an ordinary engine column —
        # (id, list_id, codes array<smallint>) encodes through the chunk
        # codec and comes back bit-identical
        import shutil
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table
        from mojap_arrow_pd_parser_spark.operators.decode import verify_roundtrip
        codes = similarity.ivfpq_encode(emb, cents, books)
        out = "/tmp/test_pq_codes_enc"
        shutil.rmtree(out, ignore_errors=True)
        encode_table(spark, codes, out, key="vec_id", n_chunks=4)
        assert verify_roundtrip(spark, codes, out)["mismatches"] == 0


class TestScalarQuantization:
    """int8 SQ codec: fit/encode parity with a numpy model, the
    per-dim error bound, constant-dim exactness, near-exact topk, and
    the zero-Python-plan claim."""

    @pytest.fixture(scope="class")
    def emb(self, spark):
        from mojap_arrow_pd_parser_spark import datagen
        return datagen.clustered_embeddings(
            spark, 300, dim=16, k=4, seed=13, noise=0.05
        ).drop("cluster").cache()

    @pytest.fixture(scope="class")
    def fitted(self, emb):
        return similarity.sq_fit(emb)

    def test_fit_matches_numpy(self, emb, fitted):
        mins, scales = fitted
        mat = np.array([r.embedding for r in emb.collect()], dtype=np.float64)
        assert np.allclose(mins, mat.min(axis=0), atol=1e-12)
        assert np.allclose(scales, (mat.max(axis=0) - mat.min(axis=0)) / 255.0,
                           atol=1e-12)

    def test_encode_matches_numpy_and_range(self, emb, fitted):
        mins, scales = fitted
        got = {r.vec_id: list(r.codes) for r in
               similarity.sq_encode(emb, mins, scales).collect()}
        for r in emb.collect():
            v = np.array(r.embedding, dtype=np.float64)
            want = np.clip(np.floor((v - mins) / scales + 0.5), 0, 255)
            assert got[r.vec_id] == [int(x) for x in want], r.vec_id
            assert all(0 <= c <= 255 for c in got[r.vec_id])

    def test_dequantize_error_bound_and_constant_dim(self, spark):
        # a constant dimension (scale 0) must come back EXACT
        df = spark.createDataFrame(
            [(1, [0.0, 7.5, 1.0]), (2, [10.0, 7.5, 2.0]), (3, [5.0, 7.5, 3.0])],
            "vec_id long, embedding array<double>",
        )
        mins, scales = similarity.sq_fit(df)
        assert scales[1] == 0.0
        codes = similarity.sq_encode(df, mins, scales)
        deq = {r.vec_id: np.array(r.vec) for r in
               similarity.sq_dequantize(codes, mins, scales).collect()}
        orig = {r.vec_id: np.array(r.embedding) for r in df.collect()}
        for vid in orig:
            err = np.abs(deq[vid] - orig[vid])
            assert err[1] == 0.0  # constant dim exact
            assert (err <= scales / 2 + 1e-12).all(), vid

    def test_topk_matches_numpy_model_and_exact(self, emb, fitted):
        mins, scales = fitted
        rows = emb.collect()
        q = np.array(rows[0].embedding, dtype=np.float64)
        others = emb.filter(F.col("vec_id") != rows[0].vec_id)
        codes = similarity.sq_encode(others, mins, scales)
        got = [(r.vec_id, r.ad2) for r in
               similarity.sq_topk(codes, mins, scales, list(q), k=10).collect()]
        # numpy replica of the quantized pipeline
        approx = []
        for r in rows:
            if r.vec_id == rows[0].vec_id:
                continue
            v = np.array(r.embedding, dtype=np.float64)
            c = np.clip(np.floor(np.divide(v - mins, scales,
                        out=np.zeros_like(v), where=scales != 0) + 0.5), 0, 255)
            c = np.where(scales == 0, 0, c)
            deq = mins + c * scales
            approx.append((round(((deq - q) ** 2).sum(), 5), r.vec_id))
        want = [(vid, d) for d, vid in sorted(approx)[:10]]
        assert got == want
        # fine int8 grid => quantized ordering recovers the exact top-k
        truth = [r.vec_id for r in
                 similarity.l2_topk(others, list(q), k=10).collect()]
        assert set(x[0] for x in got) == set(truth)

    def test_plan_has_no_python_eval(self, emb, fitted):
        mins, scales = fitted
        codes = similarity.sq_encode(emb, mins, scales)
        plan = codes._jdf.queryExecution().executedPlan().toString()
        topk = similarity.sq_topk(codes, mins, scales, [0.1] * 16, k=5)
        plan2 = topk._jdf.queryExecution().executedPlan().toString()
        for p in (plan, plan2):
            assert "EvalPython" not in p and "MapInPandas" not in p


class TestNewOpPlanShapes:
    """Plan audits for the round-6 operators: the shapes that matter
    at 100 TB, asserted on the executed plan."""

    def test_pq_rerank_broadcasts_shortlist(self, spark):
        from mojap_arrow_pd_parser_spark import datagen
        emb = datagen.clustered_embeddings(spark, 300, dim=32, k=4, seed=3)
        books = similarity.pq_fit(emb, m=4, k=16, sample_rows=300)
        codes = similarity.pq_encode(emb, books)
        plan = similarity.pq_shortlist_rerank(
            emb, codes, books, [0.1] * 32, k=5, shortlist=20
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_passage_dedup_has_no_cartesian(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "x b c d e y")],
            "doc_id long, text string",
        )
        spans = dedup.duplicated_passage_spans(df, n=3)
        plan = spans._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the dup dictionary joins back as an equi-join on shingle
        assert "hashjoin" in plan.lower() or "sortmergejoin" in plan.lower()


class TestMixtureResample:
    """Data-recipe resampling: exact integer rates, fractional rates
    land near the target, epoch numbering, drop/pass-through/default
    semantics, determinism, validation."""

    def _df(self, spark, n=200):
        return spark.createDataFrame(
            [(i, ["a", "b", "c", "d"][i % 4]) for i in range(n)],
            "doc_id long, source string",
        )

    def test_integer_rates_exact(self, spark):
        from mojap_arrow_pd_parser_spark.operators.sampling import mixture_resample
        out = mixture_resample(
            self._df(spark), {"a": 2.0, "b": 0.0, "c": 3.0}
        ).groupBy("source").count().collect()
        got = {r.source: r["count"] for r in out}
        # 50 rows/source: a x2, b dropped, c x3, d default x1
        assert got == {"a": 100, "c": 150, "d": 50}

    def test_epochs_number_every_copy(self, spark):
        from mojap_arrow_pd_parser_spark.operators.sampling import mixture_resample
        rows = mixture_resample(
            self._df(spark, 8), {"a": 3.0}
        ).filter("source = 'a'").collect()
        by_id = {}
        for r in rows:
            by_id.setdefault(r.doc_id, []).append(r.epoch)
        assert all(sorted(v) == [1, 2, 3] for v in by_id.values())

    def test_fractional_rate_near_target_and_nested(self, spark):
        from mojap_arrow_pd_parser_spark.operators.sampling import mixture_resample
        df = self._df(spark, 2000)
        out = mixture_resample(df, {"a": 2.5}).filter("source = 'a'")
        n = out.count()
        assert abs(n - 500 * 2.5) < 500 * 0.2  # binomial tolerance
        # rows with a 3rd epoch are exactly the fractional winners;
        # every id still has epochs 1 and 2
        per_id = out.groupBy("doc_id").count().collect()
        assert all(r["count"] in (2, 3) for r in per_id)

    def test_deterministic_and_portable_hash(self, spark):
        from mojap_arrow_pd_parser_spark.operators.sampling import mixture_resample
        import hashlib
        df = self._df(spark, 100)
        a = sorted((r.doc_id, r.epoch) for r in
                   mixture_resample(df, {"a": 1.5, "b": 0.5}).collect())
        b = sorted((r.doc_id, r.epoch) for r in
                   mixture_resample(df, {"a": 1.5, "b": 0.5}).collect())
        assert a == b
        # the fractional draw is the documented md5-prefix bucket
        got3 = {t[0] for t in a if t[1] == 2 and t[0] % 4 == 0}
        want3 = {
            i for i in range(0, 100, 4)
            if int(hashlib.md5(str(i).encode()).hexdigest()[:7], 16)
               % 1_000_000 < 500_000
        }
        assert got3 == want3

    def test_negative_rate_raises(self, spark):
        from mojap_arrow_pd_parser_spark.operators.sampling import mixture_resample
        with pytest.raises(ValueError, match=">= 0"):
            mixture_resample(self._df(spark), {"a": -1.0})

    def test_plan_is_narrow(self, spark):
        from mojap_arrow_pd_parser_spark.operators.sampling import mixture_resample
        plan = mixture_resample(
            self._df(spark), {"a": 2.5}
        )._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # zero shuffle
        assert "EvalPython" not in plan


class TestEncodeAppend:
    """Generation-namespaced appends: the incremental-ingest action and
    the multi-epoch streaming fix (epochs used to vanish into gen-0's
    resume filter — every row of a multi-batch drain after batch 0 was
    silently dropped)."""

    def _tbl(self, spark, n, seed, prefix=""):
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        t = tokens_table(spark, n, seed=seed)
        if prefix:
            t = t.selectExpr(
                f"concat('{prefix}', doc_id) as doc_id",
                "tokens", "n_tok", "source",
            )
        return t

    def test_append_adds_rows_not_resumes(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import (
            encode_append, encode_table,
        )
        from mojap_arrow_pd_parser_spark.operators.decode import (
            decode_table, verify_roundtrip,
        )
        out = str(tmp_path / "enc")
        a = self._tbl(spark, 600, 1)
        b = self._tbl(spark, 400, 2, prefix="B")
        encode_table(spark, a, out, key="doc_id", n_chunks=4)
        encode_append(spark, b, out, generation=1)
        assert decode_table(spark, out).count() == 1000
        assert verify_roundtrip(spark, a.unionAll(b), out)["mismatches"] == 0

    def test_append_rerun_same_generation_is_idempotent(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import (
            encode_append, encode_table,
        )
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table
        out = str(tmp_path / "enc")
        encode_table(spark, self._tbl(spark, 300, 3), out, n_chunks=4)
        b = self._tbl(spark, 200, 4, prefix="B")
        encode_append(spark, b, out, generation=7)
        encode_append(spark, b, out, generation=7)  # crash-retry replay
        assert decode_table(spark, out).count() == 500

    def test_append_validation(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import (
            encode_append, encode_table,
        )
        out = str(tmp_path / "enc")
        t = self._tbl(spark, 100, 5)
        with pytest.raises(FileNotFoundError, match="plan.json"):
            encode_append(spark, t, out, generation=1)
        encode_table(spark, t, out, n_chunks=2)
        with pytest.raises(ValueError, match="generation"):
            encode_append(spark, t, out, generation=0)
        with pytest.raises(ValueError, match="schema"):
            encode_append(spark, t.drop("source"), out, generation=1)

    def test_append_then_compact_gc_keeps_union(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import (
            compact_chunks, encode_append, encode_table, gc_superseded,
        )
        from mojap_arrow_pd_parser_spark.operators.decode import verify_roundtrip
        out = str(tmp_path / "enc")
        a = self._tbl(spark, 500, 6)
        b = self._tbl(spark, 300, 7, prefix="B")
        encode_table(spark, a, out, n_chunks=8)
        encode_append(spark, b, out, generation=1)
        compact_chunks(spark, out, min_rows=200, gc=True)
        gc_superseded(out)
        assert verify_roundtrip(spark, a.unionAll(b), out)["mismatches"] == 0

    def test_multi_epoch_stream_loses_nothing(self, spark, tmp_path):
        # THE regression: >1 micro-batch drains used to drop every
        # row after batch 0 (resume saw its buckets as done)
        from mojap_arrow_pd_parser_spark.operators.decode import verify_roundtrip
        from mojap_arrow_pd_parser_spark.streaming.pipeline import stream_encode
        src_dir = str(tmp_path / "src")
        out = str(tmp_path / "enc")
        src = self._tbl(spark, 900, 8)
        src.repartition(6).write.mode("overwrite").parquet(src_dir)
        q = stream_encode(
            spark, src_dir, out, str(tmp_path / "ckpt"),
            n_chunks=3, max_files_per_trigger=2,  # forces >= 3 epochs
        )
        q.awaitTermination(120)
        stored = spark.read.parquet(src_dir)
        assert verify_roundtrip(spark, stored, out)["mismatches"] == 0


class TestDeleteRows:
    """Copy-on-write row-level delete: exactness vs a filtered source,
    zone-map targeting (untouched chunks not rewritten), NULL-BETWEEN
    semantics, rewrite-zone id allocation, interplay with append/GC."""

    def _encode(self, spark, tmp_path, n=600, n_chunks=6):
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table
        out = str(tmp_path / "enc")
        src = tokens_table(spark, n, seed=31)
        encode_table(spark, src, out, n_chunks=n_chunks)
        return src, out

    def test_delete_matches_filtered_source(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import delete_rows
        from mojap_arrow_pd_parser_spark.operators.decode import (
            decode_table, verify_roundtrip,
        )
        src, out = self._encode(spark, tmp_path)
        lo, hi = 100, 300
        delete_rows(spark, out, ("n_tok", lo, hi), gc=True)
        want = src.filter(~F.col("n_tok").between(lo, hi))
        assert decode_table(spark, out).count() == want.count()
        assert verify_roundtrip(spark, want, out)["mismatches"] == 0

    def test_nonmatching_delete_rewrites_nothing(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import (
            delete_rows, live_chunks, scan_done_chunks,
        )
        _src, out = self._encode(spark, tmp_path)
        before = set(live_chunks(scan_done_chunks(out)))
        delete_rows(spark, out, ("n_tok", 10**9, 2 * 10**9))
        after = set(live_chunks(scan_done_chunks(out)))
        assert after == before  # zone maps pruned every chunk

    def test_null_rows_survive(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import (
            delete_rows, encode_table,
        )
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table
        out = str(tmp_path / "enc")
        df = spark.createDataFrame(
            [("a", 1), ("b", 5), ("c", None), ("d", 9)],
            "doc_id string, v int",
        )
        encode_table(spark, df, out, n_chunks=2)
        delete_rows(spark, out, ("v", 0, 6))
        left = {r.doc_id for r in decode_table(spark, out).collect()}
        assert left == {"c", "d"}  # NULL never matches BETWEEN

    def test_rewrite_ids_live_in_rewrite_zone(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import (
            GENERATION_STRIDE, delete_rows, live_chunks, scan_done_chunks,
        )
        _src, out = self._encode(spark, tmp_path)
        delete_rows(spark, out, ("n_tok", 0, 10**9))
        new = [c for c in live_chunks(scan_done_chunks(out))
               if c >= GENERATION_STRIDE // 2]
        assert new  # every rewritten chunk allocated in the zone

    def test_delete_then_append_then_compact(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        from mojap_arrow_pd_parser_spark.operators.encode import (
            compact_chunks, delete_rows, encode_append,
        )
        from mojap_arrow_pd_parser_spark.operators.decode import verify_roundtrip
        src, out = self._encode(spark, tmp_path)
        delete_rows(spark, out, ("n_tok", 100, 300), gc=True)
        b = tokens_table(spark, 200, seed=32).selectExpr(
            "concat('B', doc_id) as doc_id", "tokens", "n_tok", "source")
        encode_append(spark, b, out, generation=1)
        compact_chunks(spark, out, min_rows=100, gc=True)
        want = src.filter(~F.col("n_tok").between(100, 300)).unionAll(b)
        assert verify_roundtrip(spark, want, out)["mismatches"] == 0


class TestUpsertRows:
    """MERGE by plan key: replaced keys carry the NEW payloads, new
    keys insert, untouched rows survive byte-identical, retry of the
    same generation converges, and non-candidates are never rewritten."""

    def _setup(self, spark, tmp_path, n=400):
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table
        out = str(tmp_path / "enc")
        src = tokens_table(spark, n, seed=51)
        encode_table(spark, src, out, n_chunks=4)
        return src, out

    def _batch(self, spark, src, n_update=50, n_insert=30):
        # updates: existing keys with REWRITTEN token payloads;
        # inserts: brand-new keys
        upd = (
            src.orderBy("doc_id").limit(n_update)
            .withColumn(
                "tokens",
                F.transform("tokens", lambda x: F.pmod(x, F.lit(997)).cast("int")),
            )
        )
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        ins = tokens_table(spark, n_insert, seed=52).selectExpr(
            "concat('NEW', doc_id) as doc_id", "tokens", "n_tok", "source")
        return upd.unionAll(ins)

    def test_upsert_semantics_exact(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import upsert_rows
        from mojap_arrow_pd_parser_spark.operators.decode import verify_roundtrip
        src, out = self._setup(spark, tmp_path)
        batch = self._batch(spark, src)
        upsert_rows(spark, batch, out, generation=1, gc=True)
        want = src.join(batch.select("doc_id"), "doc_id", "left_anti").unionAll(batch)
        assert verify_roundtrip(spark, want, out)["mismatches"] == 0

    def test_upsert_retry_converges(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import upsert_rows
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table
        src, out = self._setup(spark, tmp_path)
        batch = self._batch(spark, src)
        upsert_rows(spark, batch, out, generation=1)
        upsert_rows(spark, batch, out, generation=1)  # crash-retry replay
        assert decode_table(spark, out).count() == 400 + 30

    def test_pure_insert_rewrites_nothing(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import (
            live_chunks, scan_done_chunks, upsert_rows,
        )
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        src, out = self._setup(spark, tmp_path)
        before = set(live_chunks(scan_done_chunks(out)))
        # 'zzz' prefix sorts past every existing key -> zone prune
        ins = tokens_table(spark, 20, seed=53).selectExpr(
            "concat('zzz', doc_id) as doc_id", "tokens", "n_tok", "source")
        upsert_rows(spark, ins, out, generation=1)
        after = set(live_chunks(scan_done_chunks(out)))
        assert before <= after and len(after) > len(before)
        assert before == {c for c in after if c < 10**6 // 2}

    @pytest.mark.parametrize("mode", ["partition_salt", "file_aligned"])
    def test_upsert_non_range_plans(self, spark, tmp_path, mode):
        # plans without a key->bucket grid pair every batch key by the
        # typed interval join; the insert lands in fresh chunks
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        from mojap_arrow_pd_parser_spark.operators.decode import load_plan, verify_roundtrip
        from mojap_arrow_pd_parser_spark.operators.encode import (
            encode_files, encode_table, upsert_rows,
        )
        out = str(tmp_path / "enc")
        src = tokens_table(spark, 400, seed=51)
        if mode == "partition_salt":
            encode_table(spark, src, out, n_chunks=4, partition_col="source")
        else:
            src_dir = str(tmp_path / "src_parquet")
            src.repartition(3).write.parquet(src_dir)
            src = spark.read.parquet(src_dir)
            encode_files(spark, src_dir, out, key="doc_id")
        assert load_plan(out)["mode"] == mode
        batch = self._batch(spark, src)
        upsert_rows(spark, batch, out, generation=1, gc=True)
        want = src.join(batch.select("doc_id"), "doc_id", "left_anti").unionAll(batch)
        assert verify_roundtrip(spark, want, out)["mismatches"] == 0

    def test_stream_upsert_multi_epoch(self, spark, tmp_path):
        # CDC feed drained in >1 micro-batch: each key appears once in
        # the feed, so the converged table is order-independent
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table
        from mojap_arrow_pd_parser_spark.operators.decode import verify_roundtrip
        from mojap_arrow_pd_parser_spark.streaming.pipeline import stream_upsert

        out = str(tmp_path / "enc")
        feed_dir = str(tmp_path / "feed")
        base = tokens_table(spark, 300, seed=71)
        encode_table(spark, base, out, n_chunks=4)
        upd = (
            base.orderBy("doc_id").limit(80)
            .withColumn(
                "tokens",
                F.transform("tokens", lambda x: F.pmod(x, F.lit(997)).cast("int")),
            )
            .withColumn("n_tok", F.size("tokens"))
        )
        ins = tokens_table(spark, 40, seed=72).selectExpr(
            "concat('NEW', doc_id) as doc_id", "tokens", "n_tok", "source")
        feed = upd.unionAll(ins)
        feed.repartition(6).write.mode("overwrite").parquet(feed_dir)
        q = stream_upsert(
            spark, feed_dir, out, str(tmp_path / "ckpt"),
            max_files_per_trigger=2,  # forces >= 3 epochs
        )
        q.awaitTermination(180)
        want = base.join(feed.select("doc_id"), "doc_id", "left_anti").unionAll(feed)
        assert verify_roundtrip(spark, want, out)["mismatches"] == 0


class TestSchemaEvolution:
    """Additive schema evolution on append: old chunks decode the new
    column as typed nulls, validation rejects non-additive changes."""

    def _base(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table
        out = str(tmp_path / "enc")
        src = tokens_table(spark, 300, seed=81)
        encode_table(spark, src, out, n_chunks=4)
        return src, out

    def test_added_column_null_fills_old_generations(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        from mojap_arrow_pd_parser_spark.operators.encode import encode_append
        from mojap_arrow_pd_parser_spark.operators.decode import (
            decode_table, verify_roundtrip,
        )
        src, out = self._base(spark, tmp_path)
        b = tokens_table(spark, 150, seed=82).selectExpr(
            "concat('B', doc_id) as doc_id", "tokens", "n_tok", "source",
            "CAST(n_tok * 2 AS DOUBLE) as quality",
        )
        encode_append(spark, b, out, generation=1, allow_schema_evolution=True)
        dec = decode_table(spark, out)
        assert "quality" in dec.columns
        assert dec.count() == 450
        assert dec.filter(F.col("quality").isNull()).count() == 300
        want = src.withColumn("quality", F.lit(None).cast("double")).unionAll(b)
        assert verify_roundtrip(spark, want, out)["mismatches"] == 0

    def test_rejects_non_additive_changes(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import encode_append
        src, out = self._base(spark, tmp_path)
        with pytest.raises(ValueError, match="missing from the appended"):
            encode_append(spark, src.drop("source"), out, generation=1,
                          allow_schema_evolution=True)
        with pytest.raises(ValueError, match="cannot change types"):
            encode_append(
                spark, src.withColumn("n_tok", F.col("n_tok").cast("long")),
                out, generation=1, allow_schema_evolution=True)
        with pytest.raises(ValueError, match="differs from the table schema"):
            encode_append(spark, src.withColumn("x", F.lit(1)), out, generation=1)

    def test_where_filter_on_added_column(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        from mojap_arrow_pd_parser_spark.operators.encode import encode_append
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table
        _src, out = self._base(spark, tmp_path)
        b = tokens_table(spark, 100, seed=83).selectExpr(
            "concat('B', doc_id) as doc_id", "tokens", "n_tok", "source",
            "CAST(n_tok AS DOUBLE) as quality",
        )
        encode_append(spark, b, out, generation=1, allow_schema_evolution=True)
        lo = float(b.agg(F.min("quality")).first()[0])
        got = decode_table(spark, out, where=("quality", lo, lo)).count()
        want = b.filter(F.col("quality") == lo).count()
        assert got == want  # old-generation nulls never match BETWEEN


class TestRound7Fixes:
    """Round-7 verdict/advice closures: stream-into-existing-table
    epoch-0 collision, DELETE on a schema-evolved column, rewrite-id
    zone exhaustion guard."""

    def test_stream_into_preencoded_table_loses_nothing(self, spark, tmp_path):
        # the q57 bug class, streaming flavor: epoch 0 used to land in
        # generation 0 — if out_dir already held a batch-encoded table,
        # epoch 0's resume saw the base table's buckets as its own done
        # work and silently dropped the whole epoch
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        from mojap_arrow_pd_parser_spark.operators.decode import verify_roundtrip
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table
        from mojap_arrow_pd_parser_spark.streaming.pipeline import stream_encode

        out = str(tmp_path / "enc")
        src_dir = str(tmp_path / "src")
        base = tokens_table(spark, 400, seed=201)
        encode_table(spark, base, out, key="doc_id", n_chunks=3)
        feed = tokens_table(spark, 300, seed=202).selectExpr(
            "concat('S', doc_id) as doc_id", "tokens", "n_tok", "source")
        feed.repartition(4).write.mode("overwrite").parquet(src_dir)
        q = stream_encode(
            spark, src_dir, out, str(tmp_path / "ckpt"),
            n_chunks=3, max_files_per_trigger=2,  # >= 2 epochs
        )
        q.awaitTermination(120)
        want = base.unionAll(spark.read.parquet(src_dir))
        assert verify_roundtrip(spark, want, out)["mismatches"] == 0

    def test_delete_on_added_column_skips_preevolution_chunks(self, spark, tmp_path):
        # ADVICE r6 medium: the where column added by schema evolution
        # is absent from pre-evolution chunks; their rows are NULL for
        # it and must simply survive — not crash the rewrite task
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        from mojap_arrow_pd_parser_spark.operators.decode import (
            decode_table, verify_roundtrip,
        )
        from mojap_arrow_pd_parser_spark.operators.encode import (
            delete_rows, encode_append, encode_table,
        )

        out = str(tmp_path / "enc")
        base = tokens_table(spark, 300, seed=203)
        encode_table(spark, base, out, n_chunks=3)
        b = tokens_table(spark, 150, seed=204).selectExpr(
            "concat('B', doc_id) as doc_id", "tokens", "n_tok", "source",
            "CAST(n_tok AS DOUBLE) as quality",
        )
        encode_append(spark, b, out, generation=1, allow_schema_evolution=True)
        lo = float(b.agg(F.min("quality")).first()[0])
        hi = float(b.agg(F.expr("percentile(quality, 0.5)")).first()[0])
        delete_rows(spark, out, ("quality", lo, hi), gc=True)
        want = base.withColumn("quality", F.lit(None).cast("double")).unionAll(
            b.filter(~F.col("quality").between(lo, hi))
        )
        assert decode_table(spark, out).count() == want.count()
        assert verify_roundtrip(spark, want, out)["mismatches"] == 0

    def test_rewrite_zone_exhaustion_raises(self):
        from mojap_arrow_pd_parser_spark.operators.encode import (
            GENERATION_STRIDE, _next_rewrite_id,
        )
        zone = GENERATION_STRIDE // 2
        assert _next_rewrite_id({0, 1}) == zone
        assert _next_rewrite_id({0, zone, zone + 1}) == zone + 2
        with pytest.raises(RuntimeError, match="exhausted"):
            _next_rewrite_id({0, GENERATION_STRIDE - 1})
        # a fresh generation above `top` opens a fresh zone
        top2 = 2 * GENERATION_STRIDE
        assert _next_rewrite_id({0, GENERATION_STRIDE - 1, top2}) == top2 + zone


class TestUpsertTypedKeys:
    """ADVICE r6 high + verdict r6 #2: upsert key matching runs in the
    key's NATIVE type (double '1.0' vs Arrow '1' and timestamp
    second-vs-microsecond renderings used to never match, silently
    duplicating every updated key), and candidate pairing is
    O(K - matching chunks) via the plan grid, never keys x chunks."""

    def test_double_keyed_upsert_replaces_not_duplicates(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table
        from mojap_arrow_pd_parser_spark.operators.encode import (
            encode_table, upsert_rows,
        )
        out = str(tmp_path / "enc")
        # whole-number doubles: Spark renders '1.0', Arrow casts to '1'
        src = spark.range(200).select(
            F.col("id").cast("double").alias("k"),
            (F.col("id") * 10).cast("int").alias("v"),
        )
        encode_table(spark, src, out, key="k", n_chunks=4)
        batch = spark.range(50).select(
            F.col("id").cast("double").alias("k"),
            F.lit(-1).cast("int").alias("v"),
        )
        upsert_rows(spark, batch, out, generation=1, gc=True)
        dec = decode_table(spark, out)
        assert dec.count() == 200  # updated keys replaced, NOT duplicated
        assert dec.filter(F.col("v") == -1).count() == 50
        assert dec.groupBy("k").count().filter("count > 1").count() == 0

    def test_timestamp_keyed_upsert_replaces_not_duplicates(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table
        from mojap_arrow_pd_parser_spark.operators.encode import (
            encode_table, upsert_rows,
        )
        out = str(tmp_path / "enc")
        # whole-second timestamps: Spark renders '... 12:00:00', Arrow
        # '... 12:00:00.000000'
        src = spark.range(120).select(
            F.expr(
                "timestamp'2024-01-01 12:00:00' + make_interval(0,0,0,0,0,0,id)"
            ).alias("k"),
            F.col("id").cast("int").alias("v"),
        )
        encode_table(spark, src, out, key="k", n_chunks=3)
        batch = spark.range(30).select(
            F.expr(
                "timestamp'2024-01-01 12:00:00' + make_interval(0,0,0,0,0,0,id)"
            ).alias("k"),
            F.lit(-7).cast("int").alias("v"),
        )
        upsert_rows(spark, batch, out, generation=1, gc=True)
        dec = decode_table(spark, out)
        assert dec.count() == 120
        assert dec.filter(F.col("v") == -7).count() == 30
        assert dec.groupBy("k").count().filter("count > 1").count() == 0

    def test_key_type_mismatch_raises(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import (
            encode_table, upsert_rows,
        )
        out = str(tmp_path / "enc")
        src = spark.range(50).select(
            F.col("id").cast("int").alias("k"), F.lit(1).alias("v")
        )
        encode_table(spark, src, out, key="k", n_chunks=2)
        bad = spark.range(5).select(
            F.col("id").cast("double").alias("k"), F.lit(2).alias("v")
        )
        with pytest.raises(ValueError, match="plan key"):
            upsert_rows(spark, bad, out, generation=1)

    def test_pair_count_is_grid_bounded_not_k_times_c(self, spark, tmp_path):
        # verdict r6 #2 'done' criterion: on an int-keyed table the
        # (key, candidate-chunk) pair count is O(K - matching chunks)
        from mojap_arrow_pd_parser_spark.operators.encode import (
            _next_rewrite_id, _upsert_candidate_pairs, encode_table,
            live_chunks, scan_done_chunks,
        )
        from mojap_arrow_pd_parser_spark.sources import fsio
        import json as _json

        out = str(tmp_path / "enc")
        src = spark.range(800).select(
            F.col("id").cast("int").alias("k"), F.lit(1).alias("v")
        )
        encode_table(spark, src, out, key="k", n_chunks=8)
        plan = _json.loads(open(f"{out}/plan.json").read())
        done = scan_done_chunks(out)
        live = live_chunks(done)
        assert len(live) >= 6  # genuinely multi-chunk
        batch = spark.range(10).select(F.col("id").cast("int").alias("k"))
        base = _next_rewrite_id(done)
        new_ids = {cid: base + i for i, cid in enumerate(sorted(live))}
        live_idx = spark.createDataFrame(
            [
                (int(cid), m["file"], m.get("key_min", ""),
                 m.get("key_max", ""), int(new_ids[cid]))
                for cid, m in live.items()
            ],
            "chunk_id long, file string, key_min string, key_max string, "
            "new_id long",
        )
        pairs = _upsert_candidate_pairs(spark, batch, "k", "int", plan, live_idx)
        n_pairs = pairs.count()
        # keys 0..9 live in ONE grid chunk -> exactly K pairs, and the
        # plan contains no nested-loop/cartesian join for the grid path
        assert n_pairs == 10, n_pairs
        assert pairs.select("old_id").distinct().count() == 1
        explained = pairs._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in explained

    def test_upsert_string_keys_still_exact_after_rewrite_zone(self, spark, tmp_path):
        # a delete first (creates rewrite-zone chunks), then an upsert:
        # both grid and interval paths must contribute candidates
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        from mojap_arrow_pd_parser_spark.operators.decode import verify_roundtrip
        from mojap_arrow_pd_parser_spark.operators.encode import (
            delete_rows, encode_table, upsert_rows,
        )
        out = str(tmp_path / "enc")
        src = tokens_table(spark, 400, seed=211)
        encode_table(spark, src, out, n_chunks=4)
        delete_rows(spark, out, ("n_tok", 100, 200), gc=True)
        kept = src.filter(~F.col("n_tok").between(100, 200))
        upd = (
            kept.orderBy("doc_id").limit(40)
            .withColumn(
                "tokens",
                F.transform("tokens", lambda x: F.pmod(x, F.lit(991)).cast("int")),
            )
            .withColumn("n_tok", F.size("tokens"))
        )
        upsert_rows(spark, upd, out, generation=1, gc=True)
        want = kept.join(upd.select("doc_id"), "doc_id", "left_anti").unionAll(upd)
        assert verify_roundtrip(spark, want, out)["mismatches"] == 0


class TestUpsertSnapshot:
    """Verdict r6 #8: upsert is ONE atomic snapshot — staged sidecars
    + a single commit marker. A reader at any point sees either the
    old or the new table, never the mixed (deletes-before-inserts or
    inserts-before-deletes) state."""

    def _digest(self, spark, out):
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table
        rows = decode_table(spark, out).select("doc_id", "n_tok").collect()
        return sorted((r.doc_id, r.n_tok) for r in rows)

    def _setup(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table
        out = str(tmp_path / "enc")
        src = tokens_table(spark, 300, seed=221)
        encode_table(spark, src, out, n_chunks=4)
        batch = (
            src.orderBy("doc_id").limit(50)
            .withColumn("tokens", F.slice("tokens", 1, 3))
            .withColumn("n_tok", F.size("tokens"))
        )
        return src, batch, out

    @staticmethod
    def _staged(out):
        """(rewrite, insert) sidecar counts staged under generation 1."""
        from mojap_arrow_pd_parser_spark.operators.encode import GENERATION_STRIDE
        from mojap_arrow_pd_parser_spark.sources import fsio
        staged = [fsio.read_json(f) for f in glob.glob(f"{out}/_staging/g1/*.json")]
        rewrites = sum(1 for m in staged if m.get("replaces"))
        inserts = sum(
            1 for m in staged
            if not m.get("replaces") and m["chunk_id"] >= GENERATION_STRIDE
        )
        return rewrites, inserts

    def test_reader_between_phases_sees_old_snapshot(
        self, spark, tmp_path, monkeypatch
    ):
        from mojap_arrow_pd_parser_spark.operators import encode as em
        src, batch, out = self._setup(spark, tmp_path)
        before = self._digest(spark, out)
        seen = {}
        # observe at the commit-marker write: both rewrites and inserts
        # are staged by then (one action runs them together)
        real_write = em.fsio.write_json_atomic

        def spy_write(path, obj):
            if "_commits/" in path and "precommit" not in seen:
                seen["staged"] = self._staged(out)
                seen["precommit"] = self._digest(spark, out)
            return real_write(path, obj)

        monkeypatch.setattr(em.fsio, "write_json_atomic", spy_write)
        em.upsert_rows(spark, batch, out, generation=1)
        monkeypatch.undo()
        after = self._digest(spark, out)
        want = sorted(
            [(r.doc_id, r.n_tok) for r in
             src.join(batch.select("doc_id"), "doc_id", "left_anti")
             .select("doc_id", "n_tok").collect()]
            + [(r.doc_id, r.n_tok) for r in batch.select("doc_id", "n_tok").collect()]
        )
        rewrites, inserts = seen["staged"]
        assert rewrites > 0 and inserts > 0  # everything staged...
        assert seen["precommit"] == before   # ...and invisible
        assert after == want                 # one flip at the commit

    def test_crash_before_commit_leaves_old_snapshot_then_retry_converges(
        self, spark, tmp_path, monkeypatch
    ):
        from mojap_arrow_pd_parser_spark.operators import encode as em
        from mojap_arrow_pd_parser_spark.operators.decode import verify_roundtrip
        src, batch, out = self._setup(spark, tmp_path)
        before = self._digest(spark, out)
        seen = {}
        real_write = em.fsio.write_json_atomic

        def crash_write(path, obj):
            if "_commits/" in path:
                seen["staged"] = self._staged(out)
                raise RuntimeError("simulated crash before commit")
            return real_write(path, obj)

        monkeypatch.setattr(em.fsio, "write_json_atomic", crash_write)
        with pytest.raises(RuntimeError, match="simulated crash"):
            em.upsert_rows(spark, batch, out, generation=1)
        monkeypatch.undo()
        rewrites, inserts = seen["staged"]
        assert rewrites > 0 and inserts > 0  # crashed with everything staged
        # uncommitted: reader still sees the OLD table exactly
        assert self._digest(spark, out) == before
        # retry converges to the merged table
        em.upsert_rows(spark, batch, out, generation=1, gc=True)
        want = src.join(batch.select("doc_id"), "doc_id", "left_anti").unionAll(batch)
        assert verify_roundtrip(spark, want, out)["mismatches"] == 0

    def test_committed_replay_is_noop(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators import encode as em
        from mojap_arrow_pd_parser_spark.operators.decode import verify_roundtrip
        src, batch, out = self._setup(spark, tmp_path)
        em.upsert_rows(spark, batch, out, generation=1)
        after = self._digest(spark, out)
        em.upsert_rows(spark, batch, out, generation=1)  # full replay
        assert self._digest(spark, out) == after
        want = src.join(batch.select("doc_id"), "doc_id", "left_anti").unionAll(batch)
        assert verify_roundtrip(spark, want, out)["mismatches"] == 0
        # staging folded away, no markers left behind
        import os
        assert not os.path.exists(f"{out}/_staging") or not any(
            os.scandir(f"{out}/_staging")
        )
        assert not any(
            f.endswith(".json") for f in os.listdir(f"{out}/_commits")
        )


class TestQuantizerSampleDebias:
    """Verdict r6 #6: pq_fit/ivfpq_fit train on a HASH-ORDERED sample.
    On a source-sorted corpus the old lowest-id sample saw only the
    first shard of the distribution; the hash-order sample keeps
    determinism (pure function of the id set) and kills the bias."""

    def _sorted_corpus(self, spark):
        # ids < 200 are cluster A (+5 on axis 0), ids >= 200 cluster B
        # (-5 on axis 0): a lowest-id half-sample sees ONLY cluster A
        import numpy as np
        rng = np.random.RandomState(7)
        rows = []
        for i in range(400):
            base = np.zeros(16)
            base[0] = 5.0 if i < 200 else -5.0
            v = base + rng.normal(0, 0.05, 16)
            rows.append((i, [float(x) for x in v]))
        return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>"), rows

    @staticmethod
    def _distortion(books, mat):
        import numpy as np
        from mojap_arrow_pd_parser_spark.operators.similarity import _pq_split
        subs = _pq_split(mat, books.shape[0])
        tot = 0.0
        for s in range(books.shape[0]):
            d2 = ((subs[:, s, :, None] - books[s].T[None, :, :]) ** 2).sum(axis=1)
            tot += d2.min(axis=1).sum()
        return tot / mat.shape[0]

    def test_sorted_corpus_trains_unbiased_codebooks(self, spark):
        import numpy as np
        from mojap_arrow_pd_parser_spark.operators import similarity as sim
        df, rows = self._sorted_corpus(spark)
        full = np.array([r[1] for r in rows], dtype=np.float64)
        # the OLD biased scheme: lowest-id half = cluster A only
        biased = sim._lloyd_codebooks(full[:200], m=4, k=4, iters=15, seed=42)
        books = sim.pq_fit(df, m=4, k=4, sample_rows=200, seed=42)
        d_new = self._distortion(books, full)
        d_old = self._distortion(biased, full)
        assert d_new < 0.5 * d_old, (d_new, d_old)

    def test_hash_order_sample_is_partitioning_invariant(self, spark):
        import numpy as np
        from mojap_arrow_pd_parser_spark.operators import similarity as sim
        df, _ = self._sorted_corpus(spark)
        b1 = sim.pq_fit(df, m=4, k=4, sample_rows=150, seed=42)
        b2 = sim.pq_fit(df.repartition(7), m=4, k=4, sample_rows=150, seed=42)
        b3 = sim.pq_fit(df.orderBy(F.desc("vec_id")), m=4, k=4,
                        sample_rows=150, seed=42)
        assert np.array_equal(b1, b2) and np.array_equal(b1, b3)
