"""E1-E6 behavioral harnesses that the DuckDB oracle can't express:
LSH recall vs the exact paths, decode-stub determinism, hash invariances."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opcua_ingestion_engine_spark.session import local_frame

from tests.conftest import SF_SMOKE

pytestmark = pytest.mark.usefixtures("executed_plans")


@pytest.fixture(scope="module")
def docs(spark):
    from opcua_ingestion_engine_spark import catalog as C

    return C.load_table(spark, SF_SMOKE, "documents")


@pytest.fixture(scope="module")
def mutated_corpus(spark, docs):
    """Corpus + known near-duplicates: for every 10th document, a copy with
    the last ~10% of words dropped (jaccard >> 0.5 vs its source)."""
    base = docs.select("doc_id", "text", "lang")
    ws = F.split("text", " ")
    truncated = F.concat_ws(
        " ", F.slice(ws, 1, F.greatest((F.size(ws) * 9) / F.lit(10), F.lit(3)).cast("int"))
    )
    mutants = (
        base.filter(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            truncated.alias("text"),
            "lang",
        )
    )
    return base.unionByName(mutants)


def test_minhash_lsh_vs_exact_jaccard(spark, mutated_corpus):
    """LSH output must be a subset of the exact pairs (verification stage
    guarantees precision 1.0) with recall >= 0.9 at the 16x4 geometry."""
    from opcua_ingestion_engine_spark.operators import dedup as D

    # unblocked ground truth: the corpus plants near-dups ACROSS languages,
    # which the lang-blocked oracle path deliberately trades away
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in D.jaccard_pairs(mutated_corpus, block_col=None, threshold=0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_neardup_pairs(mutated_corpus, threshold=0.5).collect()
    }
    assert exact, "mutation harness produced no near-dup pairs"
    assert lsh <= exact, f"false positives: {sorted(lsh - exact)[:5]}"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall:.2f} below 0.9 ({len(lsh)}/{len(exact)})"


def test_jaccard_doc_freq_cap_keeps_planted_mutants(spark, mutated_corpus):
    """The max_doc_freq posting cap (extreme-scale skew guard) only
    undercounts intersections: no pair may appear that the exact path
    lacks, and the planted near-dups (whose shingles are rare) survive."""
    from opcua_ingestion_engine_spark.operators import dedup as D

    exact = {
        (r["doc_a"], r["doc_b"])
        for r in D.jaccard_pairs(mutated_corpus, block_col=None, threshold=0.5).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in D.jaccard_pairs(
            mutated_corpus, block_col=None, threshold=0.5, max_doc_freq=50
        ).collect()
    }
    assert capped <= exact
    planted_exact = {p for p in exact if p[1] >= 1_000_000}
    planted_capped = {p for p in capped if p[1] >= 1_000_000}
    assert len(planted_capped) >= int(len(planted_exact) * 0.9)


def test_minhash_detects_planted_mutants(spark, mutated_corpus):
    from opcua_ingestion_engine_spark.operators import dedup as D

    pairs = D.minhash_neardup_pairs(mutated_corpus, threshold=0.5).collect()
    planted = {(r["doc_a"], r["doc_b"]) for r in pairs if r["doc_b"] >= 1_000_000}
    n_mutants = mutated_corpus.filter(F.col("doc_id") >= 1_000_000).count()
    # near-every mutant should pair with its source document
    assert len(planted) >= int(n_mutants * 0.9)


def test_exact_dedup_removes_planted_copies(spark, docs):
    from opcua_ingestion_engine_spark.operators import dedup as D

    copies = docs.select((F.col("doc_id") + 500_000).alias("doc_id"), "text", "lang", "source", "n_chars")
    doubled = docs.unionByName(copies)
    out = D.exact_dedup(doubled)
    assert out.count() == docs.count()
    # representative is the ORIGINAL (lower) id, and every group has 2 copies
    assert out.filter(F.col("doc_id") >= 500_000).count() == 0
    assert out.filter(F.col("n_copies") != 2).count() == 0


def test_simhash_invariances(spark, docs):
    from opcua_ingestion_engine_spark.operators import dedup as D

    sample = docs.limit(20)
    h1 = {r["doc_id"]: r["simhash"] for r in D.simhash64(sample).collect()}
    h2 = {r["doc_id"]: r["simhash"] for r in D.simhash64(sample).collect()}
    assert h1 == h2  # deterministic
    assert len(set(h1.values())) > 1  # not degenerate


def test_ann_lsh_recall_vs_brute_force(spark):
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S

    emb = C.load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(emb, q, k=5).collect()
    }
    lsh = {
        (r["query_id"], r["neighbor_id"])
        for r in S.lsh_bucket_topk(emb, q, k=5).collect()
    }
    assert len(brute) == 50
    recall = len(brute & lsh) / len(brute)
    assert recall >= 0.6, f"ANN recall {recall:.2f} below 0.6"


def test_ann_ivf_recall_vs_brute_force(spark):
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S

    emb = C.load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(emb, q, k=5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(emb, q, k=5).collect()
    }
    assert len(brute) == 50
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.6, f"IVF recall {recall:.2f} below 0.6"
    # determinism: a second run (fresh training pass) yields identical results
    ivf2 = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(emb, q, k=5).collect()
    }
    assert ivf == ivf2


def test_ann_pq_recall_vs_brute_force(spark):
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S

    emb = C.load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(emb, q, k=5).collect()
    }
    pq = {
        (r["query_id"], r["neighbor_id"])
        for r in S.pq_topk(emb, q, k=5).collect()
    }
    assert len(brute) == 50
    recall = len(brute & pq) / len(brute)
    assert recall >= 0.6, f"PQ recall {recall:.2f} below 0.6"
    # determinism: fresh training pass, identical result
    pq2 = {
        (r["query_id"], r["neighbor_id"])
        for r in S.pq_topk(emb, q, k=5).collect()
    }
    assert pq == pq2


def test_ann_ivfpq_recall_vs_brute_force(spark):
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S

    emb = C.load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(emb, q, k=5).collect()
    }
    ivfpq = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivfpq_topk(emb, q, k=5).collect()
    }
    assert len(brute) == 50
    recall = len(brute & ivfpq) / len(brute)
    assert recall >= 0.6, f"IVF-PQ recall {recall:.2f} below 0.6"
    ivfpq2 = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivfpq_topk(emb, q, k=5).collect()
    }
    assert ivfpq == ivfpq2


def test_quantizer_training_sampled_default_and_distributed_fallback(spark):
    """Training cost must be corpus-size-independent by default: the
    sampled driver-side path (a) collects AT MOST train_sample vectors,
    (b) is deterministic across rebuilds, and (c) the distributed
    full-corpus fallback (train_sample=None) still trains a working
    quantizer — recall vs brute force holds on both paths."""
    import numpy as np

    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S

    emb = C.load_table(spark, SF_SMOKE, "embeddings")

    # (a) the sample honors its budget and keeps the seed prefix rule
    sample = S._hash_sample(emb, 64, "vec_id", "embedding")
    assert sample.shape[0] == 64
    seeds = S._hash_sample(emb, 16, "vec_id", "embedding")
    assert np.array_equal(sample[:16], seeds)

    # (b) rebuild determinism of the sampled trainers
    c1 = S._centroid_matrix(emb, 16, 2, "vec_id", "embedding")
    c2 = S._centroid_matrix(emb, 16, 2, "vec_id", "embedding")
    assert np.array_equal(c1, c2)
    b1 = S._pq_codebooks(emb, m=8, ksub=32, lloyd_iters=2,
                         id_col="vec_id", vec_col="embedding")
    assert b1.shape == (8, 32, 8)

    # (c) the distributed fallback still converges to a usable quantizer
    q = emb.filter(F.col("vec_id") < 5)
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(emb, q, k=5).collect()
    }
    dist = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(emb, q, k=5, nprobe=8,
                            train_sample=None).collect()
    }
    assert len(brute & dist) / len(brute) >= 0.6


def test_pq_encode_roundtrip_error_bounded(spark):
    """Quantization sanity: reconstructing a vector from its sub-codes
    recovers most of its norm (codebooks trained on the same corpus)."""
    import numpy as np

    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S

    emb = C.load_table(spark, SF_SMOKE, "embeddings").limit(200)
    books = S._pq_codebooks(emb, m=8, ksub=32, lloyd_iters=3,
                            id_col="vec_id", vec_col="embedding")
    assert books.shape == (8, 32, 8)
    codes = {r["neighbor_id"]: r["codes"]
             for r in S.pq_encode(emb, books).collect()}
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    errs = []
    for vid, v in vecs.items():
        u = v / np.linalg.norm(v)
        recon = np.concatenate([books[s, c] for s, c in enumerate(codes[vid])])
        errs.append(np.linalg.norm(u - recon))
    # unit vectors: quantization must capture a meaningful share of the
    # energy (fixture embeddings are near-isotropic, so the bound is loose)
    assert sum(errs) / len(errs) < 0.85, sum(errs) / len(errs)


def test_multimodal_decode_stub(spark, docs):
    from opcua_ingestion_engine_spark.operators import multimodal as M

    sample = docs.limit(10)
    feats = {r["doc_id"]: r for r in M.multimodal_features(sample).collect()}
    for r in sample.collect():
        f = feats[r["doc_id"]]
        raw = r["text"].encode("utf-8")
        assert f["n_bytes"] == len(raw)
        assert f["byte_sum"] == sum(raw)
        assert f["width"] == (r["doc_id"] * 7) % 640 + 16
        assert f["fmt"] == "fake8"

    # formats with no in-container codec stay behind the guard (JPEG
    # left this set in round 11 — operators/jpeg.py — so point the pin
    # at a still-uncovered format, and check jpeg now FAILS LOUDLY on
    # a truncated stream instead of hiding behind the guard)
    with pytest.raises(NotImplementedError):
        M.decode_image(b"RIFF....WEBP", "webp")
    with pytest.raises(ValueError):
        M.decode_image(b"\xff\xd8\xff\xe0\x00\x02", "jpeg")


def test_png_roundtrip_all_filters_and_color_types():
    import numpy as np

    from opcua_ingestion_engine_spark.operators import multimodal as M

    rnd = np.random.RandomState(7)
    shapes = [(5, 3), (4, 7, 3), (6, 2, 4), (1, 1), (3, 1, 3)]
    for shape in shapes:
        px = rnd.randint(0, 256, size=shape).astype(np.uint8)
        for ft in range(5):
            data = M.encode_png(px, filter_type=ft)
            out, w, h, ch = M._decode_png(data)
            assert (w, h) == (shape[1], shape[0])
            assert ch == (1 if len(shape) == 2 else shape[2])
            assert (out.reshape(px.shape) == px).all(), (shape, ft)


def test_png_decode_hand_computed_paeth():
    """Independent check that unfiltering follows the spec (not just the
    encoder's inverse): a 2x2 gray image filtered with Paeth, filtered
    bytes derived by hand from the RFC 2083 predictor definition."""
    import struct
    import zlib

    from opcua_ingestion_engine_spark.operators import multimodal as M

    # target pixels: [[10, 20], [30, 55]]
    # row 0 (prior=0): a=left, b=0, c=0 -> predictor = left
    #   byte0: pred 0 -> filt 10;  byte1: pred a=10 -> filt 10
    # row 1: byte0: a=0 b=10 c=0 -> p=10 pa=10 pb=0 -> pred b=10 -> filt 20
    #        byte1: a=30 b=20 c=10 -> p=40 pa=10 pb=20 pc=30 -> pred a=30
    #        -> filt 55-30=25
    raw = bytes([4, 10, 10, 4, 20, 25])
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    data = (
        b"\x89PNG\r\n\x1a\n"
        + M._png_chunk(b"IHDR", ihdr)
        + M._png_chunk(b"IDAT", zlib.compress(raw))
        + M._png_chunk(b"IEND", b"")
    )
    out, w, h, ch = M._decode_png(data)
    assert (w, h, ch) == (2, 2, 1)
    assert out.tolist() == [[10, 20], [30, 55]]


def test_png_decode_rejects_corruption():
    import numpy as np

    from opcua_ingestion_engine_spark.operators import multimodal as M

    good = M.encode_png(np.zeros((2, 2), dtype=np.uint8))
    with pytest.raises(ValueError, match="signature"):
        M._decode_png(b"JUNK" + good[4:])
    corrupt = bytearray(good)
    corrupt[20] ^= 0xFF  # flip a byte inside IHDR body -> CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        M._decode_png(bytes(corrupt))


def test_multimodal_mixed_corpus_decodes_real_png(spark, docs):
    import numpy as np

    from opcua_ingestion_engine_spark.operators import multimodal as M

    sample = docs.limit(30)
    feats = {
        r["doc_id"]: r
        for r in M.multimodal_features(sample, png_every=7).collect()
    }
    saw_png = saw_fake = 0
    for r in sample.collect():
        did, f = r["doc_id"], feats[r["doc_id"]]
        if did % 7 == 0:
            saw_png += 1
            px = M._png_pixels_for(did)
            h, w = px.shape[:2]
            assert f["fmt"] == "png"
            # dimensions come from IHDR, not the meta column
            assert (f["width"], f["height"]) == (w, h)
            assert f["byte_sum"] == int(px.sum(dtype=np.int64))
            assert abs(f["px_mean"] - px.mean()) < 1e-9
            # n_bytes is the ENCODED size: decode really ran on real bytes
            assert f["n_bytes"] != px.size
        else:
            saw_fake += 1
            raw = r["text"].encode("utf-8")
            assert f["fmt"] == "fake8"
            assert (f["n_bytes"], f["byte_sum"]) == (len(raw), sum(raw))
    assert saw_png >= 2 and saw_fake >= 2


def test_wav_roundtrip_and_features(spark, docs):
    import numpy as np

    from opcua_ingestion_engine_spark.operators import multimodal as M

    # roundtrip: encode -> decode preserves the signal's features exactly
    sig = (np.sin(np.arange(500) / 7.0) * 12000).astype(np.int16)
    feats = M.decode_audio(M.encode_wav(sig, 22050), "wav")
    assert feats["sample_rate"] == 22050
    assert feats["n_samples"] == 500 and feats["n_channels"] == 1
    assert abs(feats["duration_s"] - 500 / 22050) < 1e-12
    assert abs(feats["rms"] - np.sqrt(np.mean(sig.astype(np.float64) ** 2))) < 1e-9
    assert feats["peak"] == int(np.abs(sig.astype(np.int32)).max())

    # compressed audio stays behind the guard
    with pytest.raises(NotImplementedError):
        M.decode_audio(b"ID3\x04...", "mp3")

    # end-to-end over the documents table: features numpy-exact per doc
    sample = docs.limit(25)
    rows = {r["doc_id"]: r for r in M.audio_features(sample, wav_every=5).collect()}
    checked = 0
    for r in sample.collect():
        did = r["doc_id"]
        if did % 5 != 0:
            assert did not in rows
            continue
        samples, rate = M._wav_samples_for(did)
        got = rows[did]
        assert got["sample_rate"] == rate
        assert got["n_samples"] == len(samples)
        exp_rms = float(np.sqrt(np.mean(samples.astype(np.float64) ** 2)))
        assert abs(got["rms"] - exp_rms) < 1e-9
        assert got["peak"] == int(np.abs(samples.astype(np.int32)).max())
        checked += 1
    assert checked >= 2


def test_multimodal_resize_and_frame_sample(spark, docs):
    import numpy as np

    from opcua_ingestion_engine_spark.operators import multimodal as M

    sample = docs.limit(5)
    mm = M.attach_payload(sample)
    resized = {r["doc_id"]: r for r in M.resize_payload(mm, 32, 16).collect()}
    for r in sample.collect():
        raw = r["text"].encode("utf-8")
        out = resized[r["doc_id"]]
        assert len(out["payload"]) == 32 * 16 * 3
        assert out["meta"]["width"] == 32 and out["meta"]["height"] == 16
        expect = np.resize(np.frombuffer(raw, dtype=np.uint8), 32 * 16 * 3).tobytes()
        assert bytes(out["payload"]) == expect

    frames = M.sample_frames(sample, frame_size=64, stride=2).collect()
    by_doc = {}
    for fr in frames:
        by_doc.setdefault(fr["doc_id"], []).append(fr)
    for r in sample.collect():
        raw = r["text"].encode("utf-8")
        got = sorted(by_doc[r["doc_id"]], key=lambda fr: fr["frame_idx"])
        n_frames = -(-len(raw) // 64)
        assert [fr["frame_idx"] for fr in got] == list(range(0, n_frames, 2))
        for fr in got:
            assert bytes(fr["frame"]) == raw[fr["frame_idx"] * 64 : (fr["frame_idx"] + 1) * 64]


def test_timeseries_similarity_symmetric_ranks(spark):
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S

    ev = C.load_table(spark, SF_SMOKE, "events")
    out = S.timeseries_similarity_topk(ev, k=3, max_users=20).collect()
    assert out
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_a"], []).append(r)
    for rows in by_user.values():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(ranks) + 1))
        dists = [r["dist"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert dists == sorted(dists)


def test_lsh_candidates_match_selfjoin_reference(spark, mutated_corpus):
    """The single-consumption groupBy/collect_list candidate generator must
    produce EXACTLY the pair set of the textbook band self-join it
    replaced (same signatures, same band geometry)."""
    from pyspark.sql import functions as F

    from opcua_ingestion_engine_spark.operators import dedup as D
    from opcua_ingestion_engine_spark.operators.text import word_ngrams

    sh = mutated_corpus.select(
        "doc_id", F.array_distinct(word_ngrams(F.col("text"), 3)).alias("shingles")
    )
    sig = D.minhash_signatures(sh, 48).localCheckpoint(eager=True)
    bands, rpb = 16, 3
    got = {
        (r["doc_a"], r["doc_b"])
        for r in D.lsh_candidate_pairs(sig, bands, rpb).collect()
    }
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.hash(*[
                        F.col("signature").getItem(b * rpb + r) for r in range(rpb)
                    ]).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    left = banded.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    right = banded.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    want = {
        (r["doc_a"], r["doc_b"])
        for r in left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .collect()
    }
    assert got == want and want


def test_banded_buckets_bit_identical_to_column_form(spark):
    """The single-SQL-string banding expression (round-13 driver-latency
    fix) must emit byte-identical (doc_id, band, bucket) rows to the
    per-band Column construction it replaced — committed streaming index
    state depends on the bucket values never drifting — and the
    signature-length guard must still fail loudly, not emit the
    constant-seed all-NULL bucket."""
    from pyspark.sql import functions as F

    from opcua_ingestion_engine_spark.operators import dedup as D

    rows = [(i, [(i * 2654435761 + j * 97) % ((1 << 31) - 1) for j in range(96)])
            for i in range(200)]
    sig = local_frame(spark, rows, "doc_id int, signature array<bigint>")
    bands, rpb = 32, 3
    new = D.banded_buckets(sig, bands, rpb)
    old = sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.hash(*[
                        F.col("signature").getItem(b * rpb + r)
                        for r in range(rpb)
                    ]).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    assert new.schema == old.schema
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0

    short = local_frame(spark,
        [(1, [1, 2, 3])], "doc_id int, signature array<bigint>"
    )
    with pytest.raises(Exception, match="signature too short"):
        D.banded_buckets(short, bands, rpb).collect()


def test_simhash_banded_search_is_exact(spark, mutated_corpus):
    """The 4x16-bit banded hamming search must return EXACTLY the pairs a
    brute-force hamming <= 3 scan finds (pigeonhole guarantee), with the
    planted exact duplicates (hamming 0) among them when any exist."""
    from pyspark.sql import functions as F

    from opcua_ingestion_engine_spark.operators import dedup as D

    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in D.simhash_neardup_pairs(mutated_corpus, max_hamming=3).collect()
    }
    sh = D.simhash64(mutated_corpus)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= 3)
    )
    want = {
        (r["doc_a"], r["doc_b"], r["hamming"]) for r in brute.collect()
    }
    assert got == want
    assert want, "corpus should contain at least one simhash near-dup pair"


def test_embedding_lsh_neardup_recall(spark):
    """LSH embedding near-dup: precision 1.0 by construction (exact cosine
    verify); recall >= 0.8 vs the exact capped pair set at the 16x4 table
    geometry."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S
    from pyspark.sql import functions as F
    from tests.conftest import SF_CORRECT

    emb = C.load_table(spark, SF_CORRECT, "embeddings").filter(
        F.col("vec_id") < 500
    )
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in S.embedding_neardup_pairs(emb, threshold=0.45).collect()
    }
    got = {
        (r["vec_a"], r["vec_b"])
        for r in S.embedding_neardup_lsh(emb, threshold=0.45).collect()
    }
    assert exact, "fixture should contain cosine>=0.45 pairs"
    assert got <= exact, got - exact  # precision 1.0
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, (recall, len(exact))


def test_dtw_rerank_properties(spark):
    """DTW rerank: ranks are 1..k per user; the distance is symmetric
    (pair (a,b) and (b,a) agree when both survive); identical profiles
    would give DTW 0 (pinned via a constructed pair)."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S
    from tests.conftest import SF_SMOKE

    ev = C.load_table(spark, SF_SMOKE, "events")
    out = S.dtw_rerank_topk(ev, k=3, max_users=30).collect()
    assert out
    by_user: dict = {}
    dist = {}
    for r in out:
        by_user.setdefault(r["user_a"], []).append(r["nn_rank"])
        dist[(r["user_a"], r["user_b"])] = r["dtw_dist"]
    for u, ranks in by_user.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    for (a, b), d in dist.items():
        if (b, a) in dist:
            assert abs(d - dist[(b, a)]) < 1e-9
    # identical profiles -> DTW exactly 0 (self-consistency of the kernel)
    dup = ev.filter(F.col("user_id") == 0)
    both = dup.union(dup.withColumn("user_id", F.lit(1)))
    pair = S.dtw_rerank_topk(both, k=1, max_users=2).collect()
    assert any(r["dtw_dist"] == 0.0 for r in pair)


def test_ivfpq_persisted_index_matches_inplan(spark, tmp_path):
    """The deployed IVF-PQ shape: build the index once on disk
    (cell-clustered codes parquet + config-sized quantizer tensors),
    serve searches from it. Deterministic training means the persisted
    index returns exactly the in-plan result, and the search plan's scan
    side must read codes — never the embedding column."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S

    emb = C.load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "ivfpq_index")
    S.ivfpq_write_index(emb, idx)

    from_index = S.ivfpq_topk_from_index(spark, idx, emb, q, k=5)
    inplan = S.ivfpq_topk(emb, q, k=5)
    assert {tuple(r) for r in from_index.collect()} == {
        tuple(r) for r in inplan.collect()
    }

    # the codes scan reads 3 small columns, not vectors: every scan of the
    # index directory must project codes, and no scan of it may read an
    # embedding-typed column. Asserted over the ADC candidate stage's own
    # plan — the full search checkpoints the candidate set before the
    # rerank (one materialization for its two consumers), which truncates
    # the visible lineage above it.
    import numpy as np

    cent = np.load(idx + "/cent.npy")
    books = np.load(idx + "/books.npy")
    codes = spark.read.parquet(idx + "/codes")
    cand = S.ivfpq_adc_candidates(codes, cent, books, q, k=5)
    plan = cand._jdf.queryExecution().explainString(
        cand._sc._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )
    idx_scan_schemas = [
        l for l in plan.splitlines()
        if "ReadSchema" in l and "codes" in l
    ]
    assert idx_scan_schemas, plan
    assert all("embedding" not in l for l in idx_scan_schemas)
    # and the post-checkpoint serve plan must not re-scan the index dir
    # with an embedding-typed column either (vacuously true when the
    # codes scan sits behind the checkpoint)
    full_plan = from_index._jdf.queryExecution().explainString(
        from_index._sc._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )
    assert all(
        "embedding" not in l
        for l in full_plan.splitlines()
        if "ReadSchema" in l and "codes" in l
    )

    # empty corpus refuses to build (an empty index is a config error)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="empty corpus"):
        S.ivfpq_write_index(emb.limit(0), str(tmp_path / "nope"))


def test_image_phash_neardup_planted_cases(spark):
    """Perceptual-hash image dedup must catch what byte-exact dedup
    cannot: (a) the SAME pixels re-encoded with a different PNG scanline
    filter (different bytes, identical image -> hamming 0) and (b) a
    single-pixel perturbation (hamming <= 3); while (c) a structurally
    different image never pairs. Images built with strongly separated
    halves so grid bits sit far from the threshold."""
    import numpy as np

    from opcua_ingestion_engine_spark.operators import multimodal as M
    from opcua_ingestion_engine_spark.operators.dedup import (
        hamming_neardup_pairs,
    )

    a = np.zeros((32, 32), dtype=np.uint8)
    a[:, 16:] = 255  # left black / right white
    a_perturbed = a.copy()
    a_perturbed[0, 0] = 10  # still far below the grid mean
    b = np.zeros((32, 32), dtype=np.uint8)
    b[16:, :] = 255  # top black / bottom white — different structure

    black = np.zeros((32, 32), dtype=np.uint8)
    white = np.full((32, 32), 255, dtype=np.uint8)

    rows = [
        (1, bytearray(M.encode_png(a, filter_type=0))),
        (2, bytearray(M.encode_png(a, filter_type=4))),  # re-encoded
        (3, bytearray(M.encode_png(a_perturbed, filter_type=1))),
        (4, bytearray(M.encode_png(b, filter_type=0))),
        (5, bytearray(M.encode_png(black))),  # flat: aHash blind spot
        (6, bytearray(M.encode_png(white))),
    ]
    mm = (
        local_frame(spark, rows, "doc_id long, payload binary")
        .select(
            "doc_id",
            "payload",
            F.struct(
                F.lit(32).alias("width"),
                F.lit(32).alias("height"),
                F.lit(1).alias("channels"),
                F.lit("png").alias("fmt"),
            ).alias("meta"),
        )
    )
    hashes = {r["doc_id"]: r["phash"] for r in M.image_ahash(mm).collect()}
    assert hashes[1] == hashes[2]  # re-encode: identical fingerprint
    assert bin(hashes[1] ^ hashes[3]).count("1") <= 3

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in hamming_neardup_pairs(
            M.image_ahash(mm), "phash", same_key="fmt"
        ).collect()
    }
    assert {(1, 2), (1, 3), (2, 3)} <= pairs
    assert not any(4 in p for p in pairs)
    # flat images must NOT collide at hash 0: black pairs neither white
    # nor the structured images (the salted flat-level fingerprint)
    assert not any(5 in p or 6 in p for p in pairs)
    # ...but two encodings of the SAME flat image still pair
    assert hashes[5] != hashes[6] and hashes[5] != 0

    # the registered mixed-corpus query runs end-to-end; same_key="fmt"
    # makes same-format pairing structural, not a fixture accident
    docs = local_frame(spark,
        [(i, "word word word") for i in range(20)], "doc_id long, text string"
    )
    out = M.image_neardup_pairs(docs, png_every=7)
    assert out.columns == ["doc_a", "doc_b", "hamming"]
    for r in out.collect():
        # cross-format pairs are structurally impossible
        assert (r["doc_a"] % 7 == 0) == (r["doc_b"] % 7 == 0)


def test_y4m_codec_roundtrip_and_features(spark):
    """Y4M video path: (1) encode->decode roundtrip is pixel-exact for
    the luma plane; (2) stream features match hand computation; (3) a
    static clip scores motion 0 while a moving one scores > 0; (4) bad
    magic / truncation / unsupported chroma fail loudly."""
    import numpy as np
    import pytest as _pytest

    from opcua_ingestion_engine_spark.operators import multimodal as M

    clip = M._y4m_frames_for(9)
    payload = M.encode_y4m(clip, fps_num=25)
    frames, w, h, fps = M.decode_y4m(payload)
    assert (frames == clip).all()
    assert (w, h, fps) == (clip.shape[2], clip.shape[1], 25.0)

    feats = M.decode_video(payload, M.Y4M_FORMAT)
    assert feats["n_frames"] == clip.shape[0]
    assert feats["duration_s"] == clip.shape[0] / 25.0
    assert feats["luma_mean"] == float(clip.mean())
    expect_motion = float(np.abs(np.diff(clip.astype(np.int16), axis=0)).mean())
    assert feats["motion"] == expect_motion and expect_motion > 0.0

    static = np.full((4, 16, 16), 77, dtype=np.uint8)
    assert M.decode_video(M.encode_y4m(static), M.Y4M_FORMAT)["motion"] == 0.0

    with _pytest.raises(ValueError, match="bad magic"):
        M.decode_y4m(b"nope" + payload)
    with _pytest.raises(ValueError, match="truncated"):
        M.decode_y4m(payload[:-5])
    with _pytest.raises(NotImplementedError, match="C420"):
        M.decode_y4m(payload.replace(b" C420\n", b" C444\n"))
    with _pytest.raises(NotImplementedError, match="codec"):
        M.decode_video(payload, "mp4")
    with _pytest.raises(ValueError, match="even"):
        M.encode_y4m(np.zeros((1, 15, 16), dtype=np.uint8))


def test_video_frame_sampling_bridges_into_image_path(spark):
    """The video->image bridge: sampled frames are honest PNGs whose
    decoded pixels equal the clip's luma planes at the sampled indices,
    and per-frame perceptual hashes equal the hash of the standalone
    image — so frames join the image near-dup search unchanged."""
    import numpy as np

    from opcua_ingestion_engine_spark.operators import multimodal as M

    docs = local_frame(spark,
        [(i, "t") for i in range(20)], "doc_id long, text string"
    )
    frames = M.sample_video_frames(docs, y4m_every=9, stride=2).collect()
    assert {r["doc_id"] for r in frames} == {0, 9, 18}
    for r in frames:
        clip = M._y4m_frames_for(r["doc_id"])
        px, w, h, ch = M._decode_png(bytes(r["frame_png"]))
        assert ch == 1 and (px.reshape(h, w) == clip[r["frame_idx"]]).all()

    hashed = {
        (r["doc_id"], r["frame_idx"]): r["phash"]
        for r in M.frame_ahash(
            M.sample_video_frames(docs, y4m_every=9, stride=2)
        ).collect()
    }
    for (did, idx), ph in hashed.items():
        clip = M._y4m_frames_for(did)
        assert ph == M._ahash64(clip[idx].astype(np.float64))


def test_clip_neardup_from_shared_frames(spark):
    """Clip-level video dedup: clips sharing >= min_shared frame
    fingerprints pair (re-posted footage), clips sharing fewer don't,
    and max_freq drops non-discriminative frames shared by many clips."""
    import numpy as np

    from opcua_ingestion_engine_spark.operators import multimodal as M

    def split_frame(col, row):
        """Structurally distinct pattern per (col, row): white right-of-col
        AND below-row — aHash grids differ for distinct inputs (verified
        below), unlike gradient variants which alias under the 8x8 grid."""
        g = np.zeros((16, 16), dtype=np.uint8)
        g[row:, col:] = 255
        return g

    seeds = [(2, 0), (6, 2), (10, 4), (14, 6), (4, 10), (8, 12), (12, 8),
             (2, 14)]
    A, B, C, D, E_, X1, X2, X3 = (split_frame(c, r) for c, r in seeds)
    hs = [M._ahash64(f.astype(np.float64)) for f in (A, B, C, D, E_, X1, X2, X3)]
    assert len(set(hs)) == len(hs), "fixture frames must hash distinctly"

    # clip 1 and 2 share frames A,B; clip 3 shares only A; clip 4 disjoint
    rows = []
    for did, clip in ((1, [A, B, C]), (2, [A, B, D]), (3, [A, D, E_]),
                      (4, [X1, X2, X3])):
        for i, frame in enumerate(clip):
            rows.append((did, i, bytearray(M.encode_png(frame))))
    frames = local_frame(spark,
        rows, "doc_id long, frame_idx int, frame_png binary"
    )
    hashed = M.frame_ahash(frames)

    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in M.clip_pairs_by_shared_frames(hashed, min_shared=2).collect()
    }
    assert got == {(1, 2): 2, (2, 3): 2}  # (1,3) share only A; 4 disjoint

    # frame A is shared by clips 1,2,3 — max_freq=2 drops it, so only
    # the B (1,2) and D (2,3) overlaps remain and no pair reaches 2
    strict = M.clip_pairs_by_shared_frames(
        hashed, min_shared=2, max_freq=2
    ).collect()
    assert strict == []


def test_audio_energy_hash_invariances(spark):
    """Audio fingerprint: (1) amplitude scaling leaves the hash unchanged
    (volume-normalized re-encode collides with its source); (2) distinct
    energy envelopes hash differently and never pair; (3) flat signals
    take the salted level fingerprint, so silence does not collide with
    a constant tone; (4) the planted scaled copy pairs at hamming 0
    through the full operator path."""
    import numpy as np

    from opcua_ingestion_engine_spark.operators import multimodal as M
    from opcua_ingestion_engine_spark.operators.dedup import (
        hamming_neardup_pairs,
    )

    t = np.arange(4000)
    burst = np.where((t // 500) % 2 == 0, 8000, 500).astype(np.int16)
    h_burst = M.audio_energy_hash64(burst)
    h_scaled = M.audio_energy_hash64((burst * 0.25).astype(np.int16))
    assert h_burst == h_scaled  # amplitude-invariant

    ramp = (t * 2).astype(np.int16)  # rising envelope — different shape
    assert M.audio_energy_hash64(ramp) != h_burst
    assert bin(M.audio_energy_hash64(ramp) ^ h_burst).count("1") > 3

    silence = np.zeros(4000, dtype=np.int16)
    tone = np.full(4000, 5000, dtype=np.int16)
    assert M.audio_energy_hash64(silence) != M.audio_energy_hash64(tone)
    assert M.audio_energy_hash64(np.array([], dtype=np.int16)) == 0

    # operator path: clips 0,5,10,15 from the deterministic generator;
    # with identical generator params, ids 5 and 15 differ in length —
    # plant an exact scaled copy instead via a two-row frame
    rows = [
        (1, bytearray(M.encode_wav(burst, 8000))),
        (2, bytearray(M.encode_wav((burst * 0.5).astype(np.int16), 8000))),
        (3, bytearray(M.encode_wav(ramp, 8000))),
    ]
    wav = local_frame(spark, rows, "doc_id long, payload binary")

    import io
    import wave

    def decode(p):
        with wave.open(io.BytesIO(bytes(p)), "rb") as wv:
            return np.frombuffer(wv.readframes(wv.getnframes()), np.int16)

    hashes = wav.collect()
    hs = {
        r["doc_id"]: M.audio_energy_hash64(decode(r["payload"]))
        for r in hashes
    }
    hdf = local_frame(spark,
        [(k, v) for k, v in hs.items()], "doc_id long, phash long"
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in hamming_neardup_pairs(hdf, "phash").collect()
    }
    assert (1, 2) in pairs and not any(3 in p for p in pairs)


def test_jaccard_prefix_filter_is_lossless(spark):
    """prefix_filter=True (AllPairs/PPJoin pruning + array verify) must
    produce EXACTLY the default posting-count join's pairs — the pruning
    is a plan change, never a result change."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import dedup as D

    docs = C.load_table(spark, "/root/testdata/sf0.001", "documents")
    for thr in (0.2, 0.5):
        base = {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 12))
            for r in D.jaccard_pairs(docs, threshold=thr).collect()
        }
        pref = {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 12))
            for r in D.jaccard_pairs(
                docs, threshold=thr, prefix_filter=True
            ).collect()
        }
        assert base == pref and len(base) > 0, (thr, len(base), len(pref))


def test_curation_minhash_mode_matches_exact_on_planted(spark):
    """The 100 TB curation mode (MinHash-banded candidates + exact verify)
    must keep/drop the same documents as the exact mode on a corpus whose
    near-dups are comfortably above threshold (band recall ~1 there);
    both modes share every other stage."""
    from opcua_ingestion_engine_spark.operators.curate import (
        curate_corpus, curate_corpus_clustered,
    )

    base = ("the quick brown fox jumps over the lazy dog and runs far away "
            "into the deep green forest tonight while stars shine bright "
            "above the quiet sleeping town")
    mut = base.replace("quiet", "noisy")  # ~1 of 28 tokens -> jaccard ~0.9
    other = ("completely different content about solar panel telemetry "
             "ingestion with device heartbeats and subscription queues "
             "reporting measurements every five seconds for all devices")
    rows = [
        (1, base, "en"), (2, base, "en"),     # exact dup of 1
        (3, mut, "en"),                       # near dup of 1
        (4, other, "en"), (5, other + " extra trailing tokens", "en"),
    ]
    docs = local_frame(spark, rows, "doc_id long, text string, lang string")

    for fn in (curate_corpus, curate_corpus_clustered):
        exact = {r["doc_id"] for r in fn(docs).collect()}
        mh = {r["doc_id"] for r in fn(docs, candidates="minhash").collect()}
        assert exact == mh, (fn.__name__, exact, mh)
        assert 1 in exact and 2 not in exact and 3 not in exact


def test_ivfpq_index_served_recall_and_rebuild_identity(spark):
    """The persisted-index IVF-PQ query (bench headline row) must hold
    recall@5 >= 0.9 vs exact brute force at its pinned serving geometry
    (nprobe=14/16 cells, rerank=200 per slot = up to 1000 exact-reranked
    candidates — measured 0.98 at
    sf0.01 / 0.94 at sf0.1), and a rebuilt index must serve identical
    results (training is deterministic)."""
    import shutil

    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark import plans
    from opcua_ingestion_engine_spark.operators import similarity as S
    from opcua_ingestion_engine_spark.plans.llm_ops import ivfpq_index_path

    sf = "/root/testdata/sf0.01"
    shutil.rmtree(ivfpq_index_path(sf), ignore_errors=True)  # force build
    fn = plans.QUERIES["q_e3_ivfpq_from_index"].fn
    first = {(r["query_id"], r["neighbor_id"], r["nn_rank"])
             for r in fn(spark, sf).collect()}
    # second call serves from the already-persisted index
    second = {(r["query_id"], r["neighbor_id"], r["nn_rank"])
              for r in fn(spark, sf).collect()}
    assert first == second and len(first) == 50

    emb = C.load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    brute = {(r["query_id"], r["neighbor_id"])
             for r in S.brute_force_topk(emb, q, k=5).collect()}
    got = {(a, b) for a, b, _ in first}
    recall = len(brute & got) / len(brute)
    assert recall >= 0.9, f"index-served recall {recall:.2f} below 0.9"


def test_repeated_spans_finds_exactly_the_planted_boilerplate(spark):
    """Span-level dedup: three distinct docs sharing a 20-token license
    header must each report EXACTLY the header span [0, 20) — windows
    straddling into the unique tails are not corpus-repeated, short docs
    produce no windows, and a fully unique doc reports nothing."""
    from opcua_ingestion_engine_spark.operators import dedup as D

    header = " ".join(f"lic{i}" for i in range(20))
    rows = [
        (1, header + " " + " ".join(f"a{i}" for i in range(30))),
        (2, header + " " + " ".join(f"b{i}" for i in range(30))),
        (3, header + " " + " ".join(f"c{i}" for i in range(30))),
        (4, " ".join(f"u{i}" for i in range(40))),   # unique: no spans
        (5, "too short"),                            # < k tokens: no windows
    ]
    docs = local_frame(spark, rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in D.repeated_spans(docs, k=15, min_repeats=2).collect()
    )
    assert got == [(1, 0, 20), (2, 0, 20), (3, 0, 20)], got

    # raising min_repeats above the plant count silences the report
    assert D.repeated_spans(docs, k=15, min_repeats=4).count() == 0


def test_trim_repeated_spans_removes_only_the_boilerplate(spark):
    """The apply step must excise exactly the planted header tokens and
    leave unique docs byte-identical with n_tokens_removed=0."""
    from opcua_ingestion_engine_spark.operators import dedup as D

    header = " ".join(f"lic{i}" for i in range(20))
    tail = {d: " ".join(f"{d}x{i}" for i in range(30)) for d in (1, 2, 3)}
    rows = [(d, header + " " + tail[d]) for d in (1, 2, 3)]
    rows.append((4, " ".join(f"u{i}" for i in range(40))))
    docs = local_frame(spark, rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"])
        for r in D.trim_repeated_spans(docs, k=15, min_repeats=2).collect()
    }
    for d in (1, 2, 3):
        assert got[d] == (tail[d], 20), got[d]
    assert got[4][1] == 0 and got[4][0].startswith("u0 u1")


def test_incremental_spans_equal_batch_under_any_batching(spark):
    """The maintained window index must report EXACTLY the batch span
    answer regardless of how documents are batched (window counts are
    additive) — including dups split across batches, which a per-batch
    recompute would miss entirely."""
    from opcua_ingestion_engine_spark.operators import dedup as D
    from opcua_ingestion_engine_spark.streaming.spans import (
        IncrementalSpanDedupSink,
    )

    header = " ".join(f"lic{i}" for i in range(20))
    rows = [(d, header + " " + " ".join(f"{d}t{i}" for i in range(25)))
            for d in range(1, 7)]
    rows.append((7, " ".join(f"u{i}" for i in range(40))))
    docs = local_frame(spark, rows, "doc_id long, text string")
    expect = sorted(map(tuple, D.repeated_spans(docs, k=15).collect()))
    assert len(expect) == 6  # every header doc reports its span

    for n_waves, keyer in ((2, lambda d: d % 2), (3, lambda d: d % 3)):
        sink = IncrementalSpanDedupSink(k=15)
        import pyspark.sql.functions as F_

        for w in range(n_waves):
            sink.process_batch(
                docs.filter(F_.col("doc_id") % n_waves == w), w
            )
        got = sorted(map(tuple, sink.result().collect()))
        assert got == expect, (n_waves, got[:3])


def test_incremental_spans_redelivery_is_idempotent(spark):
    """Window counts are additive, so a redelivered micro-batch must be
    dropped by the seen-doc guard — without it, a doc repeated by
    at-least-once delivery would fake corpus-level repetition."""
    from opcua_ingestion_engine_spark.streaming.spans import (
        IncrementalSpanDedupSink,
    )

    solo = (1, " ".join(f"only{i}" for i in range(30)))
    docs = local_frame(spark, [solo], "doc_id long, text string")
    sink = IncrementalSpanDedupSink(k=15)
    sink.process_batch(docs, 0)
    sink.process_batch(docs, 0)  # same-batch_id retry: batch-id guard
    # SOURCE-level redelivery arrives under a NEW batch_id — only the
    # seen-doc_id anti-join can catch this one (deleting that join must
    # fail this assert, not just the same-id case above)
    sink.process_batch(docs, 1)
    assert sink.result().count() == 0


def test_incremental_spans_failed_attempt_leaves_state_untouched(spark, monkeypatch):
    """Commit atomicity under a REAL mid-batch failure: if a Spark job of
    the attempt raises, NO sink state may have changed (same batch_id
    retry must then ingest the batch normally) — mutating the seen-guard
    before the jobs would permanently drop the batch's docs."""
    from opcua_ingestion_engine_spark.operators import dedup as D
    from opcua_ingestion_engine_spark.streaming import spans as SP

    header = " ".join(f"lic{i}" for i in range(20))
    docs = local_frame(spark,
        [(d, header + " " + " ".join(f"{d}t{i}" for i in range(25)))
         for d in (1, 2)],
        "doc_id long, text string",
    )
    sink = SP.IncrementalSpanDedupSink(k=15)

    # patch the CONCRETE DataFrame class (Spark 4's classic subclass
    # overrides the pyspark.sql.dataframe base the instances never call)
    df_cls = type(docs)
    real_ckpt = df_cls.localCheckpoint
    boom = {"armed": True}

    def failing_ckpt(self, eager=True):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected executor loss")
        return real_ckpt(self, eager)

    monkeypatch.setattr(df_cls, "localCheckpoint", failing_ckpt)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected"):
        sink.process_batch(docs, 7)
    # nothing committed: no postings, no counts, no seen ids, id not done
    assert sink._postings == [] and sink._counts is None
    assert sink._seen is None and 7 not in sink._done_batch_ids

    # foreachBatch retries the SAME batch_id: must ingest normally now
    sink.process_batch(docs, 7)
    expect = sorted(map(tuple, D.repeated_spans(docs, k=15).collect()))
    assert sorted(map(tuple, sink.result().collect())) == expect and expect


def test_incremental_spans_batch_id_retry_and_postings_compaction(spark):
    """(1) A foreachBatch retry (same batch_id) after the batch fully
    committed is a no-op; (2) a retry after a FAILED attempt still
    ingests the batch (state mutates only after every job succeeds);
    (3) compaction keeps the postings list bounded without changing the
    report."""
    from opcua_ingestion_engine_spark.operators import dedup as D
    from opcua_ingestion_engine_spark.streaming.spans import (
        IncrementalSpanDedupSink,
    )

    header = " ".join(f"lic{i}" for i in range(20))
    rows = [(d, header + " " + " ".join(f"{d}t{i}" for i in range(25)))
            for d in range(1, 5)]
    docs = local_frame(spark, rows, "doc_id long, text string")
    expect = sorted(map(tuple, D.repeated_spans(docs, k=15).collect()))

    sink = IncrementalSpanDedupSink(k=15)
    for w in range(4):
        b = docs.filter(f"doc_id = {w + 1}")
        sink.process_batch(b, w)
        sink.process_batch(b, w)  # committed-batch retry: no-op
    assert sink.batches_seen == 4
    # LSM binary counter: 4 batches collapse to ONE level-2 tier
    assert [lvl for lvl, _ in sink._postings] == [2], sink._postings
    assert sorted(map(tuple, sink.result().collect())) == expect

    # failed-attempt retry: simulate by delivering a NEW batch_id whose
    # docs were never committed (the guard keys on batch_id + seen ids
    # derived only from committed windows)
    extra = local_frame(spark,
        [(9, header + " " + " ".join(f"9t{i}" for i in range(25)))],
        "doc_id long, text string",
    )
    sink.process_batch(extra, 99)
    all_docs = docs.unionByName(extra)
    expect_all = sorted(map(tuple, D.repeated_spans(all_docs, k=15).collect()))
    assert sorted(map(tuple, sink.result().collect())) == expect_all


def test_incremental_spans_within_batch_duplicates_collapse(spark):
    """Two copies of a UNIQUE doc inside one micro-batch (producer retry)
    must not fake corpus repetition — in-batch doc_id dedup runs before
    windowing."""
    from opcua_ingestion_engine_spark.streaming.spans import (
        IncrementalSpanDedupSink,
    )

    solo = (1, " ".join(f"only{i}" for i in range(30)))
    docs = local_frame(spark, [solo, solo], "doc_id long, text string")
    sink = IncrementalSpanDedupSink(k=15)
    sink.process_batch(docs, 0)
    assert sink.result().count() == 0


def test_incremental_sink_trim_equals_batch_trim(spark):
    """trim-on-read from the maintained index must equal the one-shot
    batch trim once the sink has ingested the same corpus."""
    from opcua_ingestion_engine_spark.operators import dedup as D
    from opcua_ingestion_engine_spark.streaming.spans import (
        IncrementalSpanDedupSink,
    )

    header = " ".join(f"lic{i}" for i in range(20))
    rows = [(d, header + " " + " ".join(f"{d}t{i}" for i in range(25)))
            for d in range(1, 6)]
    rows.append((6, " ".join(f"u{i}" for i in range(40))))
    docs = local_frame(spark, rows, "doc_id long, text string")
    expect = sorted(map(tuple, D.trim_repeated_spans(docs, k=15).collect()))

    sink = IncrementalSpanDedupSink(k=15)
    for w in range(3):
        sink.process_batch(docs.filter(F.col("doc_id") % 3 == w), w)
    got = sorted(map(tuple, sink.trim(docs).collect()))
    assert got == expect
    # the unique doc survives untouched; all header docs lost 20 tokens
    removed = {d: n for d, _t, n in got}
    assert removed == {1: 20, 2: 20, 3: 20, 4: 20, 5: 20, 6: 0}, removed


def test_filtered_topk_filters_before_search(spark):
    """E3 filtered search: candidates are restricted to the query's
    filter value BEFORE scoring (a post-filter of unfiltered top-k
    would under-fill k); NULL filter values match nothing on either
    side; result ordering is deterministic."""
    from opcua_ingestion_engine_spark.operators import similarity as S

    # label 1: query 1 plus neighbors 11..16 at decreasing similarity;
    # label 2: vectors 21..26 NEARER to query 1 than its own-label pool —
    # a post-filter top-5 would be dominated by label 2 and then lose
    # them all, returning < 5 own-label rows
    def v(x, y):
        import math

        n = math.hypot(x, y)
        return [x / n, y / n]

    rows = [(1, v(1.0, 0.0), 1)]
    rows += [(10 + i, v(1.0, 0.4 + 0.1 * i), 1) for i in range(1, 7)]
    rows += [(20 + i, v(1.0, 0.001 * i), 2) for i in range(1, 7)]
    rows += [(99, v(0.5, 0.5), None)]  # NULL label: never a candidate
    emb = local_frame(spark,
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = S.filtered_topk(
        emb, emb.filter(F.col("vec_id") == 1), k=5
    ).collect()
    assert len(out) == 5
    assert [r["neighbor_id"] for r in out] == [11, 12, 13, 14, 15]
    assert all(r["query_id"] == 1 for r in out)

    # NULL-labeled query: matches nothing, contributes no rows
    out2 = S.filtered_topk(emb, emb.filter(F.col("vec_id") == 99), k=5)
    assert out2.count() == 0


def test_filtered_ivfpq_same_label_and_recall(spark):
    """Filtered IVF-PQ from a label-carrying index: (1) every result
    shares its query's label (pre-filter semantics at the index layer);
    (2) recall@5 >= 0.9 vs the exact filtered search at the serving
    geometry; (3) serving a filter from an index built WITHOUT the
    carried column refuses loudly."""
    import tempfile

    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S
    from tests.conftest import SF_CORRECT

    emb = C.load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    with tempfile.TemporaryDirectory() as d:
        S.ivfpq_write_index(
            emb, d, n_cells=16, m=8, ksub=32, train_sample=32768,
            carry_cols=["label"],
        )
        got = S.ivfpq_topk_from_index(
            spark, d, emb, queries, k=5, nprobe=14, rerank=200,
            filter_col="label",
        )
        # (1) same-label invariant, checked relationally
        lab = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("n_label"),
        )
        qlab = emb.select(
            F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
        )
        viol = (
            got.join(lab, "neighbor_id").join(qlab, "query_id")
            .filter(F.col("n_label") != F.col("q_label"))
        )
        assert viol.count() == 0
        # (2) recall vs exact filtered top-5
        want = {
            (r["query_id"], r["neighbor_id"])
            for r in S.filtered_topk(emb, queries, k=5).collect()
        }
        have = {
            (r["query_id"], r["neighbor_id"]) for r in got.collect()
        }
        assert want, "exact filtered search returned nothing"
        recall = len(want & have) / len(want)
        assert recall >= 0.9, recall

    # (3) unfiltered index cannot serve a filtered search
    with tempfile.TemporaryDirectory() as d2:
        S.ivfpq_write_index(
            emb, d2, n_cells=16, m=8, ksub=32, train_sample=32768
        )
        with pytest.raises(ValueError, match="carried"):
            S.ivfpq_topk_from_index(
                spark, d2, emb, queries, k=5, filter_col="label"
            )


def test_quality_rep_keeps_cleanest_cluster_member(spark):
    """Quality-representative curation: a near-dup cluster keeps its
    highest-stopword-share member even when that is NOT the min doc_id;
    ties fall back to min id (= the clustered mode's answer)."""
    from opcua_ingestion_engine_spark.operators.curate import (
        curate_corpus_clustered,
        curate_corpus_quality_rep,
    )

    # base doc: prose-y, passes the quality gates; near-dup pair where
    # the HIGHER id has more stopwords (higher quality signal)
    low_q = ("the code " + " ".join(f"tok{i}" for i in range(30))
             + " is of the and")
    hi_q = ("the code " + " ".join(f"tok{i}" for i in range(30))
            + " is of the and the for with")
    other = "the quick brown fox " + " ".join(f"w{i}" for i in range(30))
    docs = local_frame(spark,
        [(1, low_q, "en"), (2, hi_q, "en"), (9, other, "en")],
        "doc_id long, text string, lang string",
    )
    kept_q = {r["doc_id"] for r in curate_corpus_quality_rep(docs).collect()}
    kept_c = {r["doc_id"] for r in curate_corpus_clustered(docs).collect()}
    assert kept_c == {1, 9}  # min-id rule keeps doc 1
    assert kept_q == {2, 9}  # quality rule keeps the cleaner doc 2

    # exact duplicates (identical text, equal quality) tie -> min id
    docs2 = local_frame(spark,
        [(5, low_q, "en"), (6, low_q, "en"), (9, other, "en")],
        "doc_id long, text string, lang string",
    )
    kept2 = {r["doc_id"] for r in curate_corpus_quality_rep(docs2).collect()}
    assert kept2 == {5, 9}


def test_cross_corpus_neardup_exact_equals_minhash_and_decontaminates(spark):
    """Cross-corpus dedup: (1) exact and minhash modes find the same
    planted cross-corpus near-dups (the 32x3 geometry detects jaccard
    ~0.8 with P ~ 1-1e-10); (2) NO within-corpus pairs are ever
    emitted; (3) decontaminate() drops exactly the hit docs; (4)
    max_bucket caps the in-bucket cross product but keeps planted
    pairs in small buckets."""
    from opcua_ingestion_engine_spark.operators import dedup as D

    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" for i in range(38)) + " xx yy"  # ~0.9 jaccard
    other = " ".join(f"u{i}" for i in range(40))
    # corpus A: the near-dup + noise; corpus B: the benchmark original +
    # noise; A also contains an exact pair WITHIN A (must NOT pair)
    a_rows = [(1, near), (2, other), (3, other)]  # 2,3 identical in A
    b_rows = [(10, base), (11, " ".join(f"v{i}" for i in range(40)))]
    A = local_frame(spark, a_rows, "doc_id long, text string")
    B = local_frame(spark, b_rows, "doc_id long, text string")

    exact = {
        (r["doc_a"], r["doc_b"])
        for r in D.cross_corpus_neardup_pairs(
            A, B, threshold=0.5, candidates="exact"
        ).collect()
    }
    mh = {
        (r["doc_a"], r["doc_b"])
        for r in D.cross_corpus_neardup_pairs(
            A, B, threshold=0.5, candidates="minhash"
        ).collect()
    }
    assert exact == {(1, 10)}  # only the cross pair; (2,3) never emitted
    assert mh == exact

    kept = {r["doc_id"] for r in D.decontaminate(A, B).collect()}
    assert kept == {2, 3}

    # max_bucket=1: every bucket holding >1 doc on a side is skipped —
    # the planted pair sits in singleton buckets, so it survives
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in D.cross_corpus_neardup_pairs(
            A, B, threshold=0.5, candidates="minhash", max_bucket=1
        ).collect()
    }
    assert capped == {(1, 10)}

    with pytest.raises(ValueError, match="candidates"):
        D.cross_corpus_neardup_pairs(A, B, candidates="nope")


def test_semantic_dedup_exact_mode_and_keep_rules(spark):
    """SemDeDup: n_cells=1 pair generation equals the exact all-pairs
    form; min_id keeps the component label; centroid_far keeps the
    member with the LOWEST centroid cosine; singletons always survive."""
    import numpy as np
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S
    from tests.conftest import SF_CORRECT

    emb = C.load_table(spark, SF_CORRECT, "embeddings").filter(
        F.col("vec_id") < 400
    )
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in S.embedding_neardup_pairs(
            emb, threshold=0.45, max_vecs=400
        ).collect()
    }
    assert exact, "fixture should contain cosine>=0.45 pairs"
    one_cell = {
        (r["vec_a"], r["vec_b"])
        for r in S.semantic_dedup_pairs(emb, eps=0.45, n_cells=1).collect()
    }
    assert one_cell == exact

    # constructed component: ids 0,1,2 mutually >= eps on a base→ortho
    # arc; id 3 sits at the far end of the arc (90°, a singleton). The
    # keep rule measures cosine to the member's CELL centroid (with
    # n_cells=1: the global mean, pulled toward ortho by id 3), so the
    # component member at t=0 — id 2 here — is the farthest-from-
    # centroid member: centroid_far keeps 2 where min_id keeps 0.
    rng = np.random.RandomState(7)
    base = rng.randn(8)
    base /= np.linalg.norm(base)
    ortho = rng.randn(8)
    ortho -= ortho @ base * base
    ortho /= np.linalg.norm(ortho)

    def mix(t):
        v = np.cos(t) * base + np.sin(t) * ortho
        return [float(x) for x in v]

    rows = [
        (0, mix(0.40)),
        (1, mix(0.05)),
        (2, mix(0.00)),   # farthest from the ortho-pulled global centroid
        (3, [float(x) for x in ortho]),  # ~90 degrees away: singleton
    ]
    tiny = local_frame(spark,
        rows, "vec_id long, embedding array<float>"
    )
    kept_min = sorted(
        r["vec_id"]
        for r in S.semantic_dedup(
            tiny, eps=0.8, n_cells=1, keep="min_id", train_sample=None
        ).collect()
    )
    assert kept_min == [0, 3]
    kept_far = sorted(
        r["vec_id"]
        for r in S.semantic_dedup(
            tiny, eps=0.8, n_cells=1, keep="centroid_far", train_sample=None
        ).collect()
    )
    assert kept_far == [2, 3]
    with pytest.raises(ValueError, match="keep rule"):
        S.semantic_dedup(tiny, keep="first")


def test_semantic_dedup_clustered_recall_on_planted_dups(spark):
    """The 100 TB mode (n_cells > 1): true semantic duplicates (cosine
    ~0.99) land in the same k-means cell, so clustered candidate
    generation finds them — precision 1.0 by construction (exact cosine
    verify), recall >= 0.9 on planted high-cosine pairs, and the cell
    cap degrades gracefully instead of erroring."""
    import numpy as np
    from opcua_ingestion_engine_spark.operators import similarity as S

    rng = np.random.RandomState(42)
    rows = []
    planted = set()
    vid = 0
    for g in range(12):
        b = rng.randn(16)
        b /= np.linalg.norm(b)
        rows.append((vid, [float(x) for x in b]))
        dup = b + rng.randn(16) * 0.02
        dup /= np.linalg.norm(dup)
        rows.append((vid + 1, [float(x) for x in dup]))
        planted.add((vid, vid + 1))
        vid += 2
    for _ in range(60):  # filler vectors, no planted partner
        v = rng.randn(16)
        v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    emb = local_frame(spark, rows, "vec_id long, embedding array<float>")

    exact = {
        (r["vec_a"], r["vec_b"])
        for r in S.semantic_dedup_pairs(
            emb, eps=0.95, n_cells=1, train_sample=None
        ).collect()
    }
    assert planted <= exact
    got = {
        (r["vec_a"], r["vec_b"])
        for r in S.semantic_dedup_pairs(
            emb, eps=0.95, n_cells=6, train_sample=None
        ).collect()
    }
    assert got <= exact  # precision 1.0
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, (recall, len(planted))

    # cap guard: max_cell truncates a cell instead of blowing up
    capped = S.semantic_dedup_pairs(
        emb, eps=0.95, n_cells=1, max_cell=10, train_sample=None
    )
    assert {
        (r["vec_a"], r["vec_b"]) for r in capped.collect()
    } <= exact


def test_semantic_dedup_truncation_surfaced_and_auto_cells(spark):
    """The max_cell quadratic-corner cap is never silent: a planted
    oversized cell is counted in LAST_SEMDEDUP_TRUNCATION (cells + total
    dropped members) and logged; an un-truncated run resets the counts
    to zero; n_cells=None auto-sizes from the corpus count."""
    import logging

    import numpy as np
    from opcua_ingestion_engine_spark.operators import similarity as S

    # 30 near-identical vectors -> one cell; max_cell=10 must clip 20
    rng = np.random.RandomState(3)
    base = rng.randn(8)
    base /= np.linalg.norm(base)
    rows = [
        (i, [float(x) for x in (base + rng.randn(8) * 1e-3)])
        for i in range(30)
    ]
    emb = local_frame(spark, rows, "vec_id long, embedding array<float>")

    logger = logging.getLogger(
        "opcua_ingestion_engine_spark.operators.similarity"
    )
    records = []
    h = logging.Handler()
    h.emit = records.append
    logger.addHandler(h)
    per_call = {}
    try:
        pairs = S.semantic_dedup_pairs(
            emb, eps=0.9, n_cells=1, max_cell=10, train_sample=None,
            audit=per_call,
        )
        n_pairs = pairs.count()
    finally:
        logger.removeHandler(h)
    assert S.LAST_SEMDEDUP_TRUNCATION == {
        "cells_truncated": 1,
        "members_dropped": 20,
    }
    # the per-call audit dict is the race-free channel (concurrent runs
    # on one driver overwrite the module-level last-call diagnostic)
    assert per_call == {"cells_truncated": 1, "members_dropped": 20}
    assert any("truncated 1 cell" in r.getMessage() for r in records)
    # the clip keeps the 10 smallest ids: C(10,2) candidate pairs max
    assert 0 < n_pairs <= 45

    # un-truncated run resets the audit
    S.semantic_dedup_pairs(
        emb, eps=0.9, n_cells=1, max_cell=4000, train_sample=None
    ).count()
    assert S.LAST_SEMDEDUP_TRUNCATION == {
        "cells_truncated": 0,
        "members_dropped": 0,
    }

    # n_cells=None derives from the corpus count: 30 // 512 -> 1 cell
    # here, and the paper's proportionality at larger corpus sizes
    assert S._auto_n_cells(emb, S.SEMDEDUP_TARGET_CELL_SIZE) == 1
    assert S._auto_n_cells(emb, 10) == 3
    kept = S.semantic_dedup(
        emb, eps=0.9, n_cells=None, keep="min_id", train_sample=None
    )
    assert kept.count() >= 1  # auto-sized path runs end-to-end


def test_zero_norm_vectors_never_nan(spark):
    """Zero-vector convention: an all-zeros embedding stays all-zeros
    under both normalization paths (JVM unit_vector and numpy
    _unit_rows), scores cosine 0 to everything — ranking below every
    real match deterministically — and never emits NaN, on either the
    query or the corpus side."""
    import math

    import numpy as np
    from opcua_ingestion_engine_spark.operators import similarity as S

    assert not np.isnan(
        S._unit_rows(np.array([[0.0, 0.0], [3.0, 4.0]]))
    ).any()

    rng = np.random.RandomState(11)
    rows = []
    for i in range(20):
        v = rng.randn(8)
        rows.append((i, "a", [float(x) for x in v]))
    rows.append((90, "a", [0.0] * 8))  # zero CORPUS vector
    emb = local_frame(spark,
        rows, "vec_id long, label string, embedding array<float>"
    )

    # JVM-side unit_vector: zero stays zero, no NaN
    uv = emb.filter(F.col("vec_id") == 90).select(
        S.unit_vector(F.col("embedding")).alias("u")
    ).collect()[0]["u"]
    assert uv == [0.0] * 8

    # corpus-side zero: full top-k, no NaN ranks, zero vector ranks LAST
    queries = emb.filter(F.col("vec_id") == 0)
    got = S.brute_force_topk(emb, queries, k=20).collect()
    assert len(got) == 20
    # the zero vector's cosine is exactly 0 -> it cannot outrank any
    # neighbor with positive cosine; find its rank and check every
    # higher rank has a real vector
    zrank = next(r["rank"] for r in got if r["neighbor_id"] == 90)
    assert zrank > 10  # ~half the random vectors have cos > 0

    # query-side zero: deterministic ranks, no NaN (all sims are 0.0,
    # ties break on neighbor_id ascending)
    zq = emb.filter(F.col("vec_id") == 90)
    gotq = S.brute_force_topk(emb, zq, k=5).collect()
    assert [r["neighbor_id"] for r in sorted(gotq, key=lambda r: r["rank"])] == [
        0, 1, 2, 3, 4
    ]

    # filtered path: same guarantees through the label-bucketed kernel
    gotf = S.filtered_topk(emb, zq, k=5).collect()
    assert [r["neighbor_id"] for r in sorted(gotf, key=lambda r: r["rank"])] == [
        0, 1, 2, 3, 4
    ]

    # quantizer training with a zero vector present: no NaN centroids
    cent = S._centroid_matrix(
        emb, n_cells=4, lloyd_iters=4, id_col="vec_id",
        vec_col="embedding", train_sample=None,
    )
    assert not np.isnan(cent).any()
    assert not math.isnan(
        float(
            S.semantic_dedup_pairs(
                emb, eps=0.99, n_cells=1, train_sample=None
            ).count()
        )
    )


def test_pca_reduce_semantics_and_ann_recall(spark):
    """PCA over embeddings: components are orthonormal and
    deterministic (sign-fixed), projection equals (x - mean) @ V.T
    exactly, k == dim reconstructs every vector, and brute-force top-5
    neighbors in PCA(16) space keep >= 0.6 recall vs full-dim top-5 on
    the fixture corpus (the PCA-then-index sanity bound)."""
    import numpy as np
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S
    from tests.conftest import SF_CORRECT

    emb = C.load_table(spark, SF_CORRECT, "embeddings").filter(
        F.col("vec_id") < 300
    )
    rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    dim = len(next(iter(rows.values())))

    mean, comps = S.pca_train(emb, k=16, train_sample=None)
    assert comps.shape == (16, dim)
    assert np.allclose(comps @ comps.T, np.eye(16), atol=1e-9)
    # deterministic across retrains
    mean2, comps2 = S.pca_train(emb, k=16, train_sample=None)
    assert np.array_equal(mean, mean2) and np.array_equal(comps, comps2)
    # sign convention: each component's largest-|coord| entry positive
    for c in comps:
        assert c[int(np.argmax(np.abs(c)))] > 0

    proj = {r["vec_id"]: np.array(r["embedding"])
            for r in S.pca_project(emb, mean, comps).collect()}
    for vid, v in list(rows.items())[:20]:
        assert np.allclose(proj[vid], (v - mean) @ comps.T, atol=1e-9)

    # k == dim: projection is an isometry up to the mean shift —
    # reconstruct exactly
    meanf, compsf = S.pca_train(emb, k=dim, train_sample=None)
    projf = {r["vec_id"]: np.array(r["embedding"])
             for r in S.pca_project(emb, meanf, compsf).collect()}
    for vid, v in list(rows.items())[:10]:
        assert np.allclose(projf[vid] @ compsf + meanf, v, atol=1e-8)

    # ANN recall in reduced space — on a PLANTED low-rank corpus
    # (rank-8 signal in 64 dims + small noise), the shape PCA is FOR;
    # the fixture embeddings are near-isotropic, where NO 16-dim linear
    # map can preserve neighborhoods and recall legitimately collapses
    rng = np.random.RandomState(5)
    basis = np.linalg.qr(rng.randn(64, 8))[0].T            # (8, 64)
    low = rng.randn(400, 8) @ basis + rng.randn(400, 64) * 0.01
    planted = local_frame(spark,
        [(i, [float(x) for x in low[i]]) for i in range(400)],
        "vec_id long, embedding array<float>",
    )
    qp = planted.filter(F.col("vec_id") < 10)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(planted, qp, k=5).collect()
    }
    red = S.pca_reduce(planted, k=8, train_sample=None)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(
            red, red.filter(F.col("vec_id") < 10), k=5
        ).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"PCA(8) recall on rank-8 corpus {recall}"

    with pytest.raises(ValueError, match="k must be"):
        S.pca_train(emb, k=dim + 1, train_sample=None)


def test_random_projection_jl_properties(spark):
    """The JL guarantee, tested as stated (pairwise similarity
    preserved within ~1/sqrt(k) distortion — NOT generic top-5 recall
    on isotropic data, whose neighbor gaps are far inside the
    distortion band for any 64->24 map): planted near-duplicate pairs
    (cos ~ 0.99) remain mutual top-1 after projection, and the
    reduced-space cosine correlates strongly with the full-space
    cosine; matrix reproducible from the seed (rerun identical),
    different seeds differ, projection is the exact matmul."""
    import numpy as np
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S
    from tests.conftest import SF_CORRECT

    emb = C.load_table(spark, SF_CORRECT, "embeddings").filter(
        F.col("vec_id") < 300
    )

    # planted near-duplicates on an isotropic background
    rng = np.random.RandomState(13)
    base = rng.randn(200, 64)
    rows = [(i, [float(x) for x in base[i]]) for i in range(200)]
    for j in range(5):  # ids 1000+j duplicate ids j with tiny noise
        rows.append(
            (1000 + j,
             [float(x) for x in (base[j] + rng.randn(64) * 0.02)])
        )
    planted = local_frame(spark,
        rows, "vec_id long, embedding array<float>"
    )
    red = S.random_project(planted, k=24, seed=7)
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in S.brute_force_topk(
            red, red.filter(F.col("vec_id") >= 1000), k=1
        ).collect()
    }
    hits = sum(1 for j in range(5) if top1.get(1000 + j) == j)
    assert hits >= 4, f"planted near-dup pairs lost under JL: {top1}"

    # cosine correlation full vs reduced on sampled pairs
    full = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.filter(F.col("vec_id") < 60).collect()}
    redf = {r["vec_id"]: np.array(r["embedding"])
            for r in S.random_project(emb, k=24, seed=7)
            .filter(F.col("vec_id") < 60).collect()}
    cos = lambda a, b: float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    ids = sorted(full)
    fc = [cos(full[a], full[b]) for i, a in enumerate(ids)
          for b in ids[i + 1:i + 4]]
    rc = [cos(redf[a], redf[b]) for i, a in enumerate(ids)
          for b in ids[i + 1:i + 4]]
    corr = float(np.corrcoef(fc, rc)[0, 1])
    # theory for isotropic 64-dim data at k=24: cosine spread ~1/sqrt(64),
    # JL noise ~1/sqrt(24) -> expected corr ~ 0.52; measured 0.567 with
    # this seed (deterministic). 0.45 is the regression floor.
    assert corr >= 0.45, f"JL cosine correlation {corr}"

    # deterministic from the seed; different seed -> different map
    a = {r["vec_id"]: tuple(r["embedding"])
         for r in S.random_project(emb, k=24, seed=7).collect()}
    b = {r["vec_id"]: tuple(r["embedding"])
         for r in S.random_project(emb, k=24, seed=7).collect()}
    c = {r["vec_id"]: tuple(r["embedding"])
         for r in S.random_project(emb, k=24, seed=8).collect()}
    assert a == b and a != c

    # exact matmul semantics
    rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.filter(F.col("vec_id") < 5).collect()}
    dim = len(next(iter(rows.values())))
    mat = np.random.RandomState(7).randn(dim, 24) / np.sqrt(24)
    for vid, v in rows.items():
        assert np.allclose(a[vid], v @ mat, atol=1e-9)

    with pytest.raises(ValueError, match="k must be"):
        S.random_project(emb, k=0)


def test_semdedup_truncation_sentinel_when_unobserved(spark):
    """When the truncation aggregate is skipped (no audit dict AND
    WARNING logging disabled), the module-level last-call diagnostic
    must rebind to an explicit unknown — not silently retain a previous
    call's counts (ADVICE r8)."""
    import logging

    import numpy as np
    from opcua_ingestion_engine_spark.operators import similarity as S

    rng = np.random.RandomState(7)
    base = rng.randn(8)
    base /= np.linalg.norm(base)
    rows = [
        (i, [float(x) for x in (base + rng.randn(8) * 1e-3)])
        for i in range(20)
    ]
    emb = local_frame(spark, rows, "vec_id long, embedding array<float>")

    # observed run plants real counts in the global
    S.semantic_dedup_pairs(
        emb, eps=0.9, n_cells=1, max_cell=5, train_sample=None, audit={}
    ).count()
    assert S.LAST_SEMDEDUP_TRUNCATION["cells_truncated"] == 1

    logger = logging.getLogger(
        "opcua_ingestion_engine_spark.operators.similarity"
    )
    prev = logger.level
    logger.setLevel(logging.ERROR)
    try:
        S.semantic_dedup_pairs(
            emb, eps=0.9, n_cells=1, max_cell=5, train_sample=None
        ).count()
    finally:
        logger.setLevel(prev)
    assert S.LAST_SEMDEDUP_TRUNCATION == {
        "cells_truncated": None,
        "members_dropped": None,
    }
