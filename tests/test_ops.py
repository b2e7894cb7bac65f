"""Training-data pipeline ops: dedup, similarity, analysis, multimodal."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from codeindex_spark.corpus import CorpusSpec, spark_documents


@pytest.fixture(scope="module")
def docs(spark):
    # synthetic corpus with a known exact-dup cluster (dup_every=23)
    sdf = spark_documents(spark, CorpusSpec(n_docs=100, dup_every=23), partitions=4)
    return sdf.select(
        F.monotonically_increasing_id().alias("mono"),
        F.col("content").alias("text"),
        "repo",
        "path",
    ).withColumn("doc_id", F.xxhash64("path")).cache()


def test_exact_duplicates(spark, docs):
    from codeindex_spark.ops.dedup import exact_duplicates

    groups = exact_duplicates(docs).filter(F.col("n_docs") > 1).collect()
    # docs 0,23,46,69,92 share content -> one cluster of 5
    assert any(g["n_docs"] == 5 for g in groups)
    for g in groups:
        assert g["keep_doc_id"] == min(g["doc_ids"])


def test_shingles_and_jaccard(spark):
    from codeindex_spark.ops.dedup import ngram_jaccard_pairs, shingles

    pdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "a b c d e f",
                    "a b c d e g",  # shares 3 of 4+... near-dup of 1
                    "x y z w v u",  # disjoint
                ],
            }
        )
    )
    sh = shingles(pdf, n=3).collect()
    assert ("a b c") in [r["shingle"] for r in sh if r["doc_id"] == 1]
    assert len([r for r in sh if r["doc_id"] == 1]) == 4  # 6 tokens -> 4 shingles
    pairs = ngram_jaccard_pairs(pdf, n=3, threshold=0.3).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p["doc_a"], p["doc_b"]) == (1, 2)
    # inter = {a b c, b c d, c d e} = 3; union = 4+4-3 = 5
    assert p["jaccard"] == pytest.approx(3 / 5)


def test_minhash_lsh_finds_exact_dups(spark, docs):
    from codeindex_spark.ops.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs, n=3, num_hashes=8, band_size=2)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    # exact dups share all shingles -> identical signatures -> all pairs
    dup_ids = sorted(
        r["doc_id"]
        for r in docs.filter(F.col("path").rlike("_(0|23|46|69|92)\\.")).collect()
    )
    for i, a in enumerate(dup_ids):
        for b in dup_ids[i + 1 :]:
            assert (min(a, b), max(a, b)) in got


def test_simhash_identical_for_dups(spark, docs):
    from codeindex_spark.ops.dedup import simhash64, simhash_near_pairs

    sim = simhash64(docs)
    rows = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    dup_ids = [
        r["doc_id"]
        for r in docs.filter(F.col("path").rlike("_(0|23)\\.")).collect()
    ]
    assert rows[dup_ids[0]] == rows[dup_ids[1]]
    near = {
        (r["doc_a"], r["doc_b"]) for r in simhash_near_pairs(sim).collect()
    }
    a, b = sorted(dup_ids)[:2]
    assert (a, b) in near


def test_simhash_near_pairs_hot_bucket_cap(spark):
    """A 1k-identical-simhash flood must emit bounded pairs under the
    cap (the uncapped join materializes m^2/2 ~ 500k rows — the
    duplicate-flood trap BENCH/scaling_ops.json measured on minhash),
    while distinct small clusters still pair."""
    from codeindex_spark.ops.dedup import simhash_near_pairs

    flood = [(i, 0xDEADBEEFCAFE) for i in range(1000)]
    # small genuine cluster: same hash, below cap
    cluster = [(2000, 0x0123456789AB), (2001, 0x0123456789AB)]
    sim = spark.createDataFrame(
        flood + cluster, "doc_id long, simhash long"
    )
    pairs = simhash_near_pairs(sim, hot_bucket_cap=100)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert got == {(2000, 2001)}  # flood bands dropped wholesale
    # uncapped default still pairs everything (semantics unchanged)
    few = spark.createDataFrame(
        flood[:3] + cluster, "doc_id long, simhash long"
    )
    got_all = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_pairs(few).collect()
    }
    assert (0, 1) in got_all and (2000, 2001) in got_all


def test_brute_force_cosine(spark):
    from codeindex_spark.ops.similarity import brute_force_cosine_topk

    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    top = brute_force_cosine_topk(vecs, [1.0, 0.0, 0.0], k=3, exclude_id=0).collect()
    assert [r["vec_id"] for r in top] == [1, 2, 3]
    assert top[0]["cosine"] == pytest.approx(0.9 / np.sqrt(0.82), rel=1e-6)


def test_batch_cosine_topk(spark):
    from codeindex_spark.ops.similarity import batch_cosine_topk

    rng = np.random.default_rng(7)
    mat = rng.standard_normal((50, 8)).astype(np.float32)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(100, [float(x) for x in mat[3]]), (101, [float(x) for x in mat[7]])],
        "q_id long, q_vec array<float>",
    )
    out = batch_cosine_topk(vecs, queries, k=1).collect()
    best = {r["q_id"]: r["vec_id"] for r in out}
    assert best == {100: 3, 101: 7}  # nearest to itself


def test_lsh_ann_recall(spark):
    from codeindex_spark.ops.similarity import brute_force_cosine_topk, lsh_ann_topk

    rng = np.random.default_rng(11)
    mat = rng.standard_normal((200, 16))
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    q = [float(x) for x in mat[0]]
    exact = [r["vec_id"] for r in brute_force_cosine_topk(vecs, q, k=5).collect()]
    approx = [
        r["vec_id"]
        for r in lsh_ann_topk(vecs, q, dim=16, k=5, n_bits=4).collect()
    ]
    # the query point itself must be found; decent overlap expected
    assert exact[0] == 0 and approx[0] == 0
    assert len(set(exact) & set(approx)) >= 2


def test_embedding_near_dup_pairs(spark):
    """Pairs == numpy recompute: same seeded buckets, exact cosine,
    threshold filter — and bucket restriction only ever removes
    pairs, never invents them."""
    from codeindex_spark.ops.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(21)
    base = rng.standard_normal((30, 16))
    # 30 base vectors + 30 jittered near-dups
    mat = np.concatenate([base, base + 0.05 * rng.standard_normal((30, 16))])
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in mat[i].astype(np.float32)]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 6)
        for r in embedding_near_dup_pairs(
            vecs, dim=16, threshold=0.9, n_bits=4
        ).collect()
    }
    # numpy oracle: same hyperplanes/buckets over the float32 values
    m = mat.astype(np.float32).astype(np.float64)
    planes = np.random.default_rng(42).standard_normal((4, 16))
    buckets = (((m @ planes.T) > 0) * (1 << np.arange(4))).sum(axis=1)
    exp = {}
    for a in range(60):
        for b in range(a + 1, 60):
            if buckets[a] != buckets[b]:
                continue
            c = m[a] @ m[b] / (np.linalg.norm(m[a]) * np.linalg.norm(m[b]))
            if c >= 0.9:
                exp[(a, b)] = round(float(c), 6)
    assert got == exp and len(exp) > 0


def test_token_stats_and_quality(spark):
    from codeindex_spark.ops.analysis import quality_score, token_stats

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b b c", "x"]})
    )
    st = {r["doc_id"]: r for r in token_stats(df).collect()}
    assert st[1]["n_tokens"] == 4 and st[1]["n_distinct"] == 3
    assert st[1]["distinct_ratio"] == pytest.approx(0.75)
    q = {r["doc_id"]: r["quality"] for r in quality_score(df).collect()}
    assert q[1] == pytest.approx((4 / 64) * 0.75)
    assert q[2] == pytest.approx(1 / 64)


def test_language_id(spark):
    from codeindex_spark.ops.analysis import language_id

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "the cat is in the hat and it is fine",
                    "der hund ist mit der katze und das ist gut",
                    "这是一个例句 我知道了",
                    "zzz qqq www",
                ],
            }
        )
    )
    out = {r["doc_id"]: r["lang_pred"] for r in language_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "zh"
    assert out[4] == "unknown"


def test_multimodal_plumbing(spark):
    from codeindex_spark.ops.multimodal import (
        decode_image,
        extract_image_features,
        resize_image_meta,
        sample_frames,
        synth_media,
    )

    media = synth_media(spark, n=6, kind="image")
    feats = extract_image_features(media, fake=True).collect()
    assert len(feats) == 6
    for r in feats:
        assert len(r["feature"]) == 8
        assert abs(sum(r["feature"]) - 1.0) < 1e-5
    # deterministic: same payload -> same feature
    again = extract_image_features(media, fake=True).collect()
    assert {r["media_id"]: list(r["feature"]) for r in feats} == {
        r["media_id"]: list(r["feature"]) for r in again
    }
    with pytest.raises(NotImplementedError):
        decode_image(b"xx", 2, 2, 3, fake=False)
    rs = resize_image_meta(media, max_side=16).first()
    assert rs["target_width"] == 16 and rs["target_height"] == 12
    audio = synth_media(spark, n=2, kind="audio")
    frames = sample_frames(audio, every_ms=250)
    assert frames.count() == 2 * 4  # 1000ms / 250ms


def test_multimodal_histogram_counts(spark):
    import hashlib

    from codeindex_spark.ops.multimodal import (
        image_histogram_counts,
        synth_media,
    )

    media = synth_media(spark, n=4, kind="image")
    out = {r["media_id"]: r for r in image_histogram_counts(media).collect()}
    assert len(out) == 4
    for i, r in out.items():
        counts = [r[f"b{j}"] for j in range(8)]
        assert sum(counts) == 24 * 32 * 3  # every pixel lands in a bin
        assert r["n_bytes"] == 256
        # independent recompute: same seeded payload -> same histogram
        payload = hashlib.sha256(f"media{i}".encode()).digest() * 8
        seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "big")
        img = np.random.default_rng(seed).integers(
            0, 256, size=(24, 32, 3), dtype=np.uint8
        )
        hist, _ = np.histogram(img, bins=8, range=(0, 256))
        assert counts == [int(x) for x in hist]


def test_ppm_codec_roundtrip_and_errors():
    from codeindex_spark.ops.multimodal import (
        _decode_ppm,
        decode_image,
        encode_ppm,
    )

    img = np.random.default_rng(3).integers(
        0, 256, size=(5, 7, 3), dtype=np.uint8
    )
    assert (_decode_ppm(encode_ppm(img)) == img).all()
    # header comments are legal PPM
    with_comment = b"P6\n# a comment\n7 5\n255\n" + img.tobytes()
    assert (_decode_ppm(with_comment) == img).all()
    # real path through decode_image validates meta against container
    assert (decode_image(encode_ppm(img), 7, 5, 3, fake=False) == img).all()
    with pytest.raises(ValueError, match="mismatch"):
        decode_image(encode_ppm(img), 5, 7, 3, fake=False)
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG....", 7, 5, 3, fake=False)
    with pytest.raises(ValueError, match="truncated"):
        _decode_ppm(b"P6\n7 5\n255\n" + img.tobytes()[:-1])


def test_wav_codec_roundtrip_and_errors():
    from codeindex_spark.ops.multimodal import (
        _decode_wav,
        decode_audio,
        encode_wav_pcm,
    )

    pcm = np.random.default_rng(4).integers(
        -32768, 32768, size=321, dtype=np.int16
    )
    wav = encode_wav_pcm(pcm, 8000)
    got, sr = _decode_wav(wav)
    assert sr == 8000 and (got == pcm).all()
    assert (decode_audio(wav, 8000, None, fake=False) == pcm).all()
    with pytest.raises(ValueError, match="mismatch"):
        decode_audio(wav, 16000, None, fake=False)
    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x04junk", 8000, None, fake=False)
    # stereo input keeps channel 0
    import io
    import wave as wave_mod

    stereo = np.column_stack([pcm, -pcm]).ravel().astype(np.int16)
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(stereo.tobytes())
    got2, _ = _decode_wav(buf.getvalue())
    assert (got2 == pcm).all()


def test_multimodal_real_decode_pipeline(spark):
    """synth_media(real=True) payloads are genuine PPM/WAV bytes; the
    fake=False kernels must decode them and match an independent
    recompute of the same seeded content (codec-free oracle)."""
    import hashlib

    from codeindex_spark.ops.multimodal import (
        audio_window_features,
        image_histogram_counts,
        synth_media,
    )

    media = synth_media(spark, n=4, kind="image", real=True)
    out = {
        r["media_id"]: r
        for r in image_histogram_counts(media, fake=False).collect()
    }
    ppm_bytes = len(b"P6\n32 24\n255\n") + 24 * 32 * 3
    for i, r in out.items():
        seed = int.from_bytes(
            hashlib.sha256(f"media{i}".encode()).digest()[:8], "big"
        )
        img = np.random.default_rng(seed).integers(
            0, 256, size=(24, 32, 3), dtype=np.uint8
        )
        hist, _ = np.histogram(img, bins=8, range=(0, 256))
        assert [r[f"b{j}"] for j in range(8)] == [int(x) for x in hist]
        assert r["n_bytes"] == ppm_bytes

    audio = synth_media(spark, n=3, kind="audio", real=True)
    rows = audio_window_features(audio, window_ms=250, fake=False).collect()
    got = {(r["media_id"], r["window_id"]): r for r in rows}
    assert len(got) == 3 * 4
    for i in range(3):
        seed = int.from_bytes(
            hashlib.sha256(f"media{i}".encode()).digest()[:8], "big"
        )
        pcm = np.random.default_rng(seed).integers(
            -32768, 32768, size=16000, dtype=np.int16
        )
        for w, start in enumerate(range(0, 16000, 4000)):
            seg = pcm[start : start + 4000]
            r = got[(i, w)]
            assert r["sumsq"] == int((seg.astype(np.int64) ** 2).sum())
            assert r["zero_crossings"] == int(
                ((seg[:-1] < 0) != (seg[1:] < 0)).sum()
            )


def test_ivf_ann(spark, tmp_path):
    from codeindex_spark.ops.similarity import (
        brute_force_cosine_topk,
        ivf_assign,
        ivf_build,
        ivf_search,
        ivf_train_centroids,
    )

    rng = np.random.default_rng(5)
    # three well-separated clusters so IVF recall is deterministic
    centers = rng.standard_normal((3, 12)) * 5
    pts = np.concatenate(
        [centers[i] + 0.1 * rng.standard_normal((40, 12)) for i in range(3)]
    )
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    cents = ivf_train_centroids(vecs, dim=12, n_centroids=3, sample=120)
    assert cents.shape == (3, 12)
    assign = ivf_assign(vecs, cents).toPandas()
    # points of one true cluster land in one IVF cell
    by_cluster = assign.assign(true=assign["vec_id"] // 40).groupby("true")[
        "centroid"
    ].nunique()
    assert (by_cluster == 1).all()
    q = [float(x) for x in pts[0]]
    exact = [r["vec_id"] for r in brute_force_cosine_topk(vecs, q, k=5).collect()]
    # path-backed index: build once, search prunes partitions
    idx = ivf_build(
        vecs, dim=12, n_centroids=3, path=str(tmp_path / "ivf")
    )
    res = ivf_search(idx, q, k=5, n_probe=1)
    approx = [r["vec_id"] for r in res.collect()]
    assert approx == exact  # query cluster fully inside the probed cell
    # the probe must be a partition-pruned scan of the cell table —
    # no full-corpus re-assignment (VERDICT r1 #2): the parquet scan
    # carries a PartitionFilters entry on centroid and reads exactly
    # one of the three cell partitions.
    plan = res._jdf.queryExecution().executedPlan().toString()
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*centroid[^\]]*)\]", plan)
    assert m, plan[:2000]
    assert "mapInPandas" not in plan.lower()  # no re-assignment kernel
    # second query reuses the same index — no rebuild, still exact
    q2 = [float(x) for x in pts[80]]
    exact2 = [
        r["vec_id"] for r in brute_force_cosine_topk(vecs, q2, k=5).collect()
    ]
    approx2 = [
        r["vec_id"] for r in ivf_search(idx, q2, k=5, n_probe=1).collect()
    ]
    assert approx2 == exact2


def _pairs_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "doc_a long, doc_b long"
    )


def test_duplicate_components_chain_and_islands(spark):
    from codeindex_spark.ops.dedup import duplicate_components

    # chain 1-2-3-4-5 (exercises pointer jumping past one hop),
    # island {10,11}, island {20,21,22} sharing only a hub
    pairs = _pairs_df(
        spark,
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (20, 22)],
    )
    got = {
        r["doc_id"]: r["component"]
        for r in duplicate_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_duplicate_components_matches_bruteforce(spark):
    import random

    from codeindex_spark.ops.dedup import duplicate_components

    rng = random.Random(7)
    nodes = list(range(200))
    pairs = [
        (min(a, b), max(a, b))
        for a, b in (
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
        )
        if a != b
    ]
    # brute force union-find
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for a, b in pairs:
        for n in (a, b):
            expected[n] = find(n)
    got = {
        r["doc_id"]: r["component"]
        for r in duplicate_components(_pairs_df(spark, pairs)).collect()
    }
    assert got == expected


def test_dedup_keep_list(spark):
    from codeindex_spark.ops.dedup import dedup_keep_list

    docs = spark.createDataFrame(
        [(i,) for i in range(8)], "doc_id long"
    )
    pairs = _pairs_df(spark, [(1, 3), (3, 5), (6, 7)])
    rows = {r["doc_id"]: r for r in dedup_keep_list(docs, pairs).collect()}
    assert len(rows) == 8
    # singletons keep themselves
    for i in (0, 2, 4):
        assert rows[i]["component"] == i and rows[i]["keep"]
    assert [rows[i]["component"] for i in (1, 3, 5)] == [1, 1, 1]
    assert rows[1]["keep"] and not rows[3]["keep"] and not rows[5]["keep"]
    assert rows[6]["keep"] and not rows[7]["keep"]
    # exactly one keeper per component
    from collections import Counter

    keepers = Counter(
        r["component"] for r in rows.values() if r["keep"]
    )
    assert all(v == 1 for v in keepers.values())


def test_rrf_fuse(spark):
    from codeindex_spark.ops.hybrid import hybrid_search, rrf_fuse

    lex = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 3.0)], "doc_id long, score double"
    )
    sem = spark.createDataFrame(
        [(2, 0.9), (4, 0.8), (1, 0.7)], "doc_id long, score double"
    )
    rows = {r["doc_id"]: r for r in hybrid_search(lex, sem, k=10).collect()}
    # doc1: lex rank 1, sem rank 3; doc2: lex 2, sem 1; doc3: lex 3; doc4: sem 2
    assert rows[1]["rrf_score"] == pytest.approx(1 / 61 + 1 / 63)
    assert rows[2]["rrf_score"] == pytest.approx(1 / 62 + 1 / 61)
    assert rows[3]["rrf_score"] == pytest.approx(1 / 63)
    assert rows[4]["rrf_score"] == pytest.approx(1 / 62)
    assert rows[1]["n_sources"] == 2 and rows[3]["n_sources"] == 1
    # doc2 (ranks 2+1) outranks doc1 (ranks 1+3): 1/62+1/61 > 1/61+1/63
    ordered = [r["doc_id"] for r in hybrid_search(lex, sem, k=10).collect()]
    assert ordered == [2, 1, 4, 3]

    # k truncation and single-source fusion
    assert rrf_fuse({"only": lex}, k=2).count() == 2
    with pytest.raises(ValueError):
        rrf_fuse({})


def test_contamination_overlaps(spark):
    from codeindex_spark.ops.dedup import contamination_overlaps

    train = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),        # contains bench 10's 5-grams
            (2, "x y z w v u t s"),        # clean
            (3, "q q a b c d e q"),        # one shared 5-gram (a b c d e)
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(10, "a b c d e f g")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in contamination_overlaps(train, bench, n=5).collect()
    }
    # doc1 shares 'a b c d e', 'b c d e f', 'c d e f g' = 3 shingles
    assert rows[1]["n_shared_ngrams"] == 3
    assert rows[1]["n_bench_docs"] == 1 and rows[1]["min_bench_id"] == 10
    assert rows[3]["n_shared_ngrams"] == 1
    assert 2 not in rows


def test_repetition_stats(spark):
    from codeindex_spark.ops.analysis import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "aa bb\ncc dd\naa bb\naa bb"),  # line 'aa bb' x3
            (2, "x y x y x y"),                  # heavy 2-gram repeats
            (3, "unique words only here"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    # doc1: 4 lines, 'aa bb' count 3 -> dup lines (3-1)=2 of 4
    assert rows[1]["dup_line_frac"] == pytest.approx(2 / 4)
    # dup chars: 2 extra occurrences x 5 chars / total line chars 20
    assert rows[1]["dup_line_char_frac"] == pytest.approx(10 / 20)
    # doc2: len 11; 2-grams: 'x y' x3 (cov 9), 'y x' x2 (cov 6)
    assert rows[2]["top2gram_char_frac"] == pytest.approx(9 / 11)
    # 3-grams: 'x y x' x2 cov 10, 'y x y' x2 cov 10 -> lex-min 'x y x'
    assert rows[2]["top3gram_char_frac"] == pytest.approx(10 / 11)
    assert rows[3]["dup_line_frac"] == 0.0
    # doc3 'unique words' cov 12 of 22 chars
    assert rows[3]["top2gram_char_frac"] == pytest.approx(12 / 22)
    assert rows[4]["dup_line_frac"] == 0.0
    assert rows[4]["top2gram_char_frac"] == 0.0


def test_minhash_lsh_recall_vs_exact_jaccard(spark):
    """S-curve sanity: with 8 hashes / band_size 2, pairs at jaccard
    >= 0.8 collide with probability ~0.99 — on this fixed corpus
    (deterministic md5 hashes) EVERY high-jaccard pair must be an
    LSH candidate, and candidates are a superset sanity-checked
    against the exact pair list."""
    from codeindex_spark.ops.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    words = base.split()
    docs = []
    for i in range(20):
        # pair (2i, 2i+1): near-identical (one word appended)
        t = " ".join(words[(i % 5):] + words[: (i % 5)]) + f" tail{i}"
        docs.append((2 * i, t))
        docs.append((2 * i + 1, t + " extra"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.8).collect()
    }
    assert exact, "fixture produced no high-jaccard pairs — dead test"
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(df, n=3, num_hashes=8, band_size=2).collect()
    }
    missed = exact - cand
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"


def test_minhash_collapse_exact_and_bucket_cap(spark):
    from codeindex_spark.ops.dedup import minhash_lsh_pairs

    # 4 copies of A, 1 near-dup A', 1 unrelated B
    a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = [(i, a) for i in range(4)] + [
        (10, a + " tail"),
        (20, "z1 z2 z3 z4 z5 z6 z7 z8"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    full = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(df).collect()
    }
    # all 6 intra-cluster pairs plus (i,10) near-dup pairs
    assert {(i, j) for i in range(4) for j in range(i + 1, 4)} <= full
    collapsed = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(df, collapse_exact=True).collect()
    }
    # representatives only: no pair between two copies of A
    assert not any(a_ < 4 and b_ < 4 for a_, b_ in collapsed)
    # the near-dup link survives via the representative (0, 10)
    assert (0, 10) in collapsed
    # a cap below the A-cluster size suppresses its intra pairs
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(df, hot_bucket_cap=3).collect()
    }
    assert not {(i, j) for i in range(4) for j in range(i + 1, 4)} & capped


def test_near_dedup_keep_list(spark):
    from codeindex_spark.ops.dedup import near_dedup_keep_list

    a = "q w e r t y u i o p a s"
    docs = [
        (0, a), (5, a), (9, a),        # exact cluster {0,5,9}
        (3, a + " zz"),                # near-dup of the a-cluster
        (7, "m n b v c x z l k j h g"),  # unrelated
        (8, "m n b v c x z l k j h g"),  # exact dup of 7
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in near_dedup_keep_list(df).collect()}
    assert len(rows) == 6
    # {0,5,9,3} merge (exact + near): canonical 0
    assert [rows[i]["component"] for i in (0, 5, 9, 3)] == [0, 0, 0, 0]
    # {7,8}: canonical 7
    assert rows[7]["component"] == 7 and rows[8]["component"] == 7
    keepers = [d for d, r in rows.items() if r["keep"]]
    assert sorted(keepers) == [0, 7]


def test_duplicate_components_string_ids(spark):
    """String doc ids must min-propagate across multi-hop chains.
    Regression: a decimal-cast convergence probe NULLed string ids,
    summed 0 every round, and declared fixpoint after one round —
    silently splitting deep chains into several components."""
    from codeindex_spark.ops.dedup import duplicate_components

    pairs = spark.createDataFrame(
        [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(9)]
        + [("x1", "x2")],
        "doc_a string, doc_b string",
    )
    got = {
        r["doc_id"]: r["component"]
        for r in duplicate_components(pairs).collect()
    }
    assert got == {
        **{f"d{i:02d}": "d00" for i in range(10)},
        "x1": "x1",
        "x2": "x1",
    }


def test_duplicate_components_raises_on_non_convergence(spark):
    from codeindex_spark.ops.dedup import duplicate_components

    # a 40-node chain cannot converge in one round even with jumping
    pairs = _pairs_df(spark, [(i, i + 1) for i in range(40)])
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_components(pairs, max_iter=1)


def test_ivf_add_incremental(spark, tmp_path):
    from codeindex_spark.ops.similarity import (
        brute_force_cosine_topk,
        ivf_add,
        ivf_build,
        ivf_search,
    )

    rng = np.random.default_rng(31)
    mat = rng.standard_normal((50, 8))
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    idx = ivf_build(
        vecs, dim=8, n_centroids=4, path=str(tmp_path / "ivf")
    )
    new = rng.standard_normal((10, 8))
    new_vecs = spark.createDataFrame(
        [(100 + i, [float(x) for x in new[i]]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    idx2 = ivf_add(idx, new_vecs)
    assert idx2.cells.count() == 60
    # a new vector queried by itself must be its own nearest neighbor
    q = [float(x) for x in new[3]]
    top = ivf_search(idx2, q, k=1, n_probe=4).collect()
    assert top[0]["vec_id"] == 103
    # full-probe search == brute force over the union
    exact = [
        r["vec_id"]
        for r in brute_force_cosine_topk(
            vecs.unionByName(new_vecs), q, k=5
        ).collect()
    ]
    got = [r["vec_id"] for r in ivf_search(idx2, q, k=5, n_probe=4).collect()]
    assert got == exact


def test_ivf_add_atomic_exactly_once(spark, tmp_path):
    """A killed add (staging written, publish rename never reached)
    must be invisible to readers, and a re-run with the same batch_id
    must yield exactly-once rows — including when the batch was
    already published before the crash."""
    import os

    from codeindex_spark.ops.similarity import (
        _ivf_cells_root,
        ivf_add,
        ivf_build,
    )

    rng = np.random.default_rng(8)
    mat = rng.standard_normal((30, 8))
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "ivf")
    idx = ivf_build(vecs, dim=8, n_centroids=2, path=path)
    new = rng.standard_normal((5, 8))
    new_vecs = spark.createDataFrame(
        [(100 + i, [float(x) for x in new[i]]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    # simulate a crash mid-write: staging exists, rename never ran
    staging = os.path.join(path, "_staging", "b1")
    new_vecs.limit(2).withColumn("centroid", F.lit(0)).write.partitionBy(
        "centroid"
    ).parquet(staging)
    assert idx.cells.count() == 30  # partial staging is invisible
    # retry with the same batch_id: stages into its OWN attempt dir
    # (concurrent retries can never clobber each other), publishes once
    idx2 = ivf_add(idx, new_vecs, batch_id="b1")
    assert idx2.cells.count() == 35
    # the crashed attempt's orphan staging dir stays invisible
    assert os.path.exists(staging)
    # re-running the SAME batch (crash after publish) adds nothing
    idx3 = ivf_add(idx2, new_vecs, batch_id="b1")
    assert idx3.cells.count() == 35
    assert sorted(os.listdir(_ivf_cells_root(path))) == [
        "batch=b1", "batch=base",
    ]


def test_audio_window_features(spark):
    import hashlib as _h

    from codeindex_spark.ops.multimodal import (
        audio_window_features,
        decode_audio,
        synth_media,
    )

    media = synth_media(spark, n=4, kind="audio")
    rows = audio_window_features(media, window_ms=250).collect()
    # 1000 ms / 250 ms = 4 windows per clip
    assert len(rows) == 16
    by_key = {(r["media_id"], r["window_id"]): r for r in rows}
    # cross-check one window against a local numpy recompute
    payload = _h.sha256(b"media0").digest() * 8
    pcm = decode_audio(payload, 16000, 1000, fake=True)
    seg = pcm[:4000]
    r = by_key[(0, 0)]
    assert r["n_samples"] == 4000
    assert r["sumsq"] == int((seg.astype(np.int64) ** 2).sum())
    assert r["zero_crossings"] == int(((seg[:-1] < 0) != (seg[1:] < 0)).sum())
    with pytest.raises(NotImplementedError):
        decode_audio(b"x", 16000, 1000, fake=False)


def test_ivf_add_in_memory_and_custom_id_col(spark):
    from codeindex_spark.ops.similarity import ivf_add, ivf_build, ivf_search

    rng = np.random.default_rng(37)
    mat = rng.standard_normal((30, 8))
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(30)],
        "item_id long, embedding array<float>",
    )
    idx = ivf_build(vecs, dim=8, n_centroids=4, id_col="item_id")
    new = rng.standard_normal((5, 8))
    new_vecs = spark.createDataFrame(
        [(100 + i, [float(x) for x in new[i]]) for i in range(5)],
        "item_id long, embedding array<float>",
    )
    idx2 = ivf_add(idx, new_vecs)  # in-memory branch
    assert idx2.cells.count() == 35
    assert "item_id" in idx2.cells.columns
    q = [float(x) for x in new[2]]
    # brute_force_cosine_topk normalizes the output id column to
    # vec_id regardless of the index's id_col (its documented shape)
    top = ivf_search(idx2, q, k=1, n_probe=4).collect()
    assert top[0]["vec_id"] == 102


def test_corpus_profile(spark):
    import numpy as np

    from codeindex_spark.ops.analysis import corpus_profile

    docs = [
        ("en", "a b c"),
        ("en", "a a b b c d e"),
        ("en", "x"),
        ("en", "a b c d e f g h i j"),
        ("zh", "p q"),
        ("zh", ""),
    ]
    df = spark.createDataFrame(
        [(i, l, t) for i, (l, t) in enumerate(docs)],
        "doc_id long, lang string, text string",
    )
    out = {r["lang"]: r for r in corpus_profile(df).collect()}
    en_counts = [3, 7, 1, 10]
    assert out["en"]["n_docs"] == 4
    assert out["en"]["total_tokens"] == sum(en_counts)
    assert out["en"]["avg_tokens"] == pytest.approx(
        round(sum(en_counts) / 4, 6)
    )
    assert out["en"]["total_chars"] == sum(len(t) for l, t in docs if l == "en")
    # exact percentile == numpy linear (type-7) interpolation
    for q, col in ((0.25, "q25"), (0.5, "q50"), (0.75, "q75"), (0.95, "q95")):
        assert out["en"][col] == pytest.approx(
            round(float(np.percentile(en_counts, q * 100)), 6)
        ), col
    assert out["en"]["vocab_size"] == 11  # a..j plus x
    assert out["zh"]["n_docs"] == 2
    assert out["zh"]["total_tokens"] == 2
    assert out["zh"]["vocab_size"] == 2
    # the 100 TB path returns the same shape with sane values
    approx = {
        r["lang"]: r for r in corpus_profile(df, exact=False).collect()
    }
    assert approx["en"]["n_docs"] == 4
    assert 1.0 <= approx["en"]["q50"] <= 10.0


def test_pq_encode_matches_numpy_and_recall(spark):
    """Codes == numpy replay (same expanded-form argmin); ADC scores
    == table-lookup replay; end-to-end recall against brute force."""
    from codeindex_spark.ops.similarity import (
        brute_force_cosine_topk,
        pq_adc_topk,
        pq_ann_topk,
        pq_encode,
        pq_train_codebooks,
    )

    rng = np.random.default_rng(17)
    mat32 = rng.standard_normal((160, 16)).astype(np.float32)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in mat32[i]]) for i in range(160)],
        "vec_id long, embedding array<float>",
    )
    books = pq_train_codebooks(vecs, dim=16, m=4, n_codes=8, sample=160)
    assert books.shape == (4, 8, 4)
    got = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(vecs, books).collect()
    }
    # numpy replay with the same expanded form
    m64 = mat32.astype(np.float64)
    m64 = m64 / np.maximum(np.linalg.norm(m64, axis=1, keepdims=True), 1e-12)
    sq = (books**2).sum(axis=2)
    for i in range(160):
        want = [
            int((-2.0 * (m64[i, j * 4 : (j + 1) * 4] @ books[j].T) + sq[j]).argmin())
            for j in range(4)
        ]
        assert got[i] == want, i
    # ADC replay on a few ids
    q = [float(x) for x in mat32[3]]
    qn = np.asarray(q, dtype=np.float64)
    qn = qn / np.linalg.norm(qn)
    table = np.stack([books[j] @ qn[j * 4 : (j + 1) * 4] for j in range(4)])
    adc = {
        r["vec_id"]: r["adc_score"]
        for r in pq_adc_topk(pq_encode(vecs, books), books, q, k=20).collect()
    }
    for vid, s in adc.items():
        want = sum(table[j, got[vid][j]] for j in range(4))
        assert s == pytest.approx(want, rel=1e-12)
    # recall: query point found, decent top-5 overlap with exact
    exact = [r["vec_id"] for r in brute_force_cosine_topk(vecs, q, k=5).collect()]
    approx = [
        r["vec_id"]
        for r in pq_ann_topk(vecs, q, dim=16, k=5, m=4, n_codes=8).collect()
    ]
    assert exact[0] == 3 and approx[0] == 3
    assert len(set(exact) & set(approx)) >= 3


def test_pq_validation(spark):
    from codeindex_spark.ops.similarity import pq_train_codebooks

    vecs = spark.createDataFrame(
        [(0, [0.0] * 10)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError):
        pq_train_codebooks(vecs, dim=10, m=3)
    with pytest.raises(ValueError):
        pq_train_codebooks(vecs, dim=10, m=2, n_codes=0)


def test_pq_corpus_smaller_than_codebook(spark):
    """n_codes clamps to the corpus size instead of crashing in
    rng.choice; the tiny codebook still round-trips a search."""
    from codeindex_spark.ops.similarity import pq_ann_topk, pq_train_codebooks

    rows = [(i, [float(i == j) for j in range(8)]) for i in range(5)]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    books = pq_train_codebooks(vecs, dim=8, m=2, n_codes=16, sample=64)
    assert books.shape == (2, 5, 4)
    got = pq_ann_topk(
        vecs, [1.0] + [0.0] * 7, dim=8, k=3, m=2, n_codes=16
    ).collect()
    assert len(got) == 3 and got[0]["vec_id"] == 0
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        pq_train_codebooks(empty, dim=8, m=2)


def test_ivf_pq_recall_and_probe_restriction(spark, tmp_path):
    """IVF+PQ finds the query's neighborhood, and its candidates are
    provably restricted to the probed cells (never the full corpus)."""
    from codeindex_spark.ops.similarity import (
        brute_force_cosine_topk,
        ivf_build,
        ivf_pq_topk,
        pq_encode,
        pq_train_codebooks,
    )

    rng = np.random.default_rng(29)
    centers = rng.standard_normal((3, 16)) * 5
    pts = np.concatenate(
        [centers[i] + 0.1 * rng.standard_normal((50, 16)) for i in range(3)]
    ).astype(np.float32)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(150)],
        "vec_id long, embedding array<float>",
    )
    idx = ivf_build(vecs, dim=16, n_centroids=3, path=str(tmp_path / "ipq"))
    books = pq_train_codebooks(vecs, dim=16, m=4, n_codes=8, sample=150)
    codes = pq_encode(vecs, books)
    q = [float(x) for x in pts[10]]
    got = [
        r["vec_id"]
        # refine=10 -> 50 ADC candidates: inside one tight cluster the
        # codes collapse to near-ties, so the refine pool must cover
        # the cluster for the exact re-rank to see the true top-k
        for r in ivf_pq_topk(
            vecs, q, dim=16, k=5, n_probe=1, m=4, n_codes=8, refine=10,
            index=idx, codebooks=books, codes=codes,
        ).collect()
    ]
    exact = [r["vec_id"] for r in brute_force_cosine_topk(vecs, q, k=5).collect()]
    assert got[0] == 10
    assert len(set(got) & set(exact)) >= 3
    # probe restriction: with 1 probe, every hit is in the query's
    # own (well-separated) cluster 0..49
    assert all(v < 50 for v in got)


def test_ivf_pq_residual_encoding(spark, tmp_path):
    """FAISS-style residual IVF-PQ: residual ADC must approximate the
    true cosine strictly better than plain PQ when the coarse
    quantizer explains the cluster structure, and the by_residual
    search must return the query's true neighborhood."""
    from codeindex_spark.ops.similarity import (
        brute_force_cosine_topk,
        ivf_build,
        ivf_pq_residuals,
        ivf_pq_topk,
        pq_adc_topk,
        pq_encode,
        pq_train_codebooks,
    )

    # 16 clusters but only 4 codes per subspace: plain PQ cannot
    # memorize the cluster positions in its codebook, while the
    # coarse quantizer explains them exactly — the regime residual
    # encoding exists for
    rng = np.random.default_rng(31)
    n_clusters, per = 16, 12
    centers = rng.standard_normal((n_clusters, 16)) * 5
    pts = np.concatenate(
        [
            centers[i] + 0.1 * rng.standard_normal((per, 16))
            for i in range(n_clusters)
        ]
    ).astype(np.float32)
    n = n_clusters * per
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    idx = ivf_build(
        vecs, dim=16, n_centroids=n_clusters, path=str(tmp_path / "rpq")
    )
    q = [float(x) for x in pts[3]]

    # search path: residual IVF-PQ finds the neighborhood
    got = [
        r["vec_id"]
        for r in ivf_pq_topk(
            vecs, q, dim=16, k=5, n_probe=2, m=4, n_codes=4, refine=10,
            index=idx, by_residual=True,
        ).collect()
    ]
    exact = [
        r["vec_id"] for r in brute_force_cosine_topk(vecs, q, k=5).collect()
    ]
    assert got[0] == 3
    assert len(set(got) & set(exact)) >= 3

    # approximation quality: mean |ADC - true cosine| over the
    # query's cluster is strictly smaller with residual codes
    matn = pts.astype(np.float64)
    matn = matn / np.linalg.norm(matn, axis=1, keepdims=True)
    qn = np.asarray(q) / np.linalg.norm(q)
    true = {i: float(matn[i] @ qn) for i in range(per)}

    plain_books = pq_train_codebooks(vecs, dim=16, m=4, n_codes=4, sample=n)
    plain = {
        r["vec_id"]: r["adc_score"]
        for r in pq_adc_topk(
            pq_encode(vecs, plain_books), plain_books, q, k=n
        ).collect()
        if r["vec_id"] < per
    }
    res = ivf_pq_residuals(idx)
    res_books = pq_train_codebooks(
        res, dim=16, m=4, n_codes=4, sample=n,
        vec_col="residual", normalize=False,
    )
    res_codes = pq_encode(
        res, res_books, vec_col="residual", normalize=False
    ).join(idx.cells.select("vec_id", "centroid"), "vec_id")
    qc = (idx.centroids @ qn).tolist()
    from pyspark.sql import functions as F

    res_scored = {
        r["vec_id"]: r["adc_score"]
        for r in pq_adc_topk(
            res_codes.withColumn(
                "_qc",
                F.element_at(
                    F.array(*[F.lit(float(x)) for x in qc]),
                    F.col("centroid") + 1,
                ),
            ),
            res_books,
            q,
            k=n,
            offset_col="_qc",
        ).collect()
        if r["vec_id"] < per
    }
    err_plain = np.mean([abs(plain[i] - true[i]) for i in plain])
    err_res = np.mean([abs(res_scored[i] - true[i]) for i in res_scored])
    assert err_res < err_plain


def test_top_terms_per_doc(spark):
    """Hand-computed smooth tf-idf (sklearn convention) with
    deterministic term tie-breaks."""
    import math

    from codeindex_spark.ops.analysis import top_terms_per_doc

    docs = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"),
         (3, "cherry cherry cherry")],
        "doc_id long, text string",
    )
    rows = top_terms_per_doc(docs, k=2).collect()
    got = {(r["doc_id"], r["rank"]): (r["term"], r["tf"], r["score"]) for r in rows}
    idf_apple = math.log(4 / 2) + 1    # df=1
    idf_shared = math.log(4 / 3) + 1   # df=2
    assert got[(1, 1)] == ("apple", 2, round(2 * idf_apple, 6))
    assert got[(1, 2)] == ("banana", 1, round(idf_shared, 6))
    # doc 2: banana and cherry tie on score -> term ascending
    assert got[(2, 1)][0] == "banana" and got[(2, 2)][0] == "cherry"
    assert got[(3, 1)] == ("cherry", 3, round(3 * idf_shared, 6))
    # min_df prunes the df=1 term entirely
    pruned = {
        r["term"]
        for r in top_terms_per_doc(docs, k=2, min_df=2).collect()
    }
    assert "apple" not in pruned


def test_histogram(spark):
    from codeindex_spark.ops.analysis import histogram

    df = spark.createDataFrame(
        [(x,) for x in [0.0, 1.0, 2.5, 5.0, 9.9, 10.0, None]],
        "v double",
    )
    got = {r["bin"]: r for r in histogram(df, "v", bins=4, lo=0.0, hi=10.0).collect()}
    # width 2.5: [0,2.5)->{0,1}, [2.5,5)->{2.5}, [5,7.5)->{5}, [7.5,10]->{9.9,10}
    assert {b: got[b]["n"] for b in got} == {0: 2, 1: 1, 2: 1, 3: 2}
    assert got[0]["lo_edge"] == 0.0 and got[0]["hi_edge"] == 2.5
    assert got[3]["hi_edge"] == 10.0
    # explicit sub-range: out-of-range rows drop
    clipped = histogram(df, "v", bins=2, lo=1.0, hi=9.0).collect()
    assert sum(r["n"] for r in clipped) == 3  # 1.0, 2.5, 5.0
    # DERIVED range: min/max of the data, every non-NULL row binned
    derived = histogram(df, "v", bins=2).collect()
    assert sum(r["n"] for r in derived) == 6
    assert min(r["lo_edge"] for r in derived) == 0.0
    assert max(r["hi_edge"] for r in derived) == 10.0
    # degenerate range (constant column / explicit hi == lo): one bin
    const = spark.createDataFrame([(7.0,), (7.0,), (None,)], "v double")
    one = histogram(const, "v", bins=5).collect()
    assert len(one) == 1 and one[0]["n"] == 2
    assert one[0]["lo_edge"] == one[0]["hi_edge"] == 7.0
    # empty / all-NULL under derived bounds: clear error
    with pytest.raises(ValueError, match="no non-NULL"):
        histogram(
            spark.createDataFrame([(None,)], "v double"), "v"
        ).collect()
    with pytest.raises(ValueError):
        histogram(df, "v", bins=0)
    with pytest.raises(ValueError):
        histogram(df, "v", lo=9.0, hi=5.0)


def test_histogram_invariants_random(spark):
    """Seeded random values: bin counts partition the in-range rows,
    every edge pair is consistent with bin*width, and no bin index
    escapes [0, bins)."""
    import random

    rng = random.Random(13)
    vals = [rng.uniform(-5, 15) for _ in range(500)]
    from codeindex_spark.ops.analysis import histogram

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    bins, lo, hi = 7, 0.0, 10.0
    rows = histogram(df, "v", bins=bins, lo=lo, hi=hi).collect()
    width = (hi - lo) / bins
    assert sum(r["n"] for r in rows) == sum(1 for v in vals if lo <= v <= hi)
    for r in rows:
        assert 0 <= r["bin"] < bins
        assert r["lo_edge"] == round(lo + r["bin"] * width, 6)
        assert r["hi_edge"] == round(lo + (r["bin"] + 1) * width, 6)
    # python recount per bin
    import collections

    exp = collections.Counter(
        min(int((v - lo) // width), bins - 1)
        for v in vals
        if lo <= v <= hi
    )
    assert {r["bin"]: r["n"] for r in rows} == dict(exp)


def test_histogram_grouped(spark):
    from codeindex_spark.ops.analysis import histogram

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 6.0), ("b", 6.0), ("b", 9.0)],
        "g string, v double",
    )
    rows = histogram(
        df, "v", bins=2, lo=0.0, hi=10.0, group_col="g"
    ).collect()
    got = {(r["g"], r["bin"]): r["n"] for r in rows}
    assert got == {("a", 0): 1, ("a", 1): 1, ("b", 1): 2}
    # shared edges across groups
    assert {r["hi_edge"] for r in rows if r["bin"] == 1} == {10.0}
    with pytest.raises(ValueError, match="explicit lo/hi"):
        histogram(df, "v", group_col="g")


def test_train_sample_uses_explicit_id_col(spark):
    """Training samplers key the deterministic sample on id_col, not
    columns[0]: an embedding-first frame must yield the same
    codebooks/centroids as the id-first frame, and a missing id_col
    must raise instead of silently sampling by the array column."""
    import numpy as np
    import pytest

    from codeindex_spark.ops.similarity import (
        ivf_train_centroids,
        pq_train_codebooks,
    )

    rng = np.random.default_rng(11)
    pts = rng.standard_normal((60, 8))
    rows = [(i, [float(x) for x in pts[i]]) for i in range(60)]
    id_first = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    vec_first = spark.createDataFrame(
        [(v, i) for i, v in rows], "embedding array<float>, vec_id long"
    )
    b1 = pq_train_codebooks(id_first, dim=8, m=2, n_codes=4, sample=30)
    b2 = pq_train_codebooks(vec_first, dim=8, m=2, n_codes=4, sample=30)
    assert np.allclose(b1, b2)
    c1 = ivf_train_centroids(id_first, dim=8, n_centroids=3, sample=30)
    c2 = ivf_train_centroids(vec_first, dim=8, n_centroids=3, sample=30)
    assert np.allclose(c1, c2)
    with pytest.raises(ValueError, match="id_col"):
        pq_train_codebooks(
            id_first.withColumnRenamed("vec_id", "other"), dim=8, m=2
        )
    with pytest.raises(ValueError, match="id_col"):
        ivf_train_centroids(
            id_first.withColumnRenamed("vec_id", "other"), dim=8
        )


def test_jaccard_releases_disk_cache(spark):
    """ngram_jaccard_pairs persists the shingle set DISK_ONLY
    internally; the cache must be released before return, not leak
    per call (same class as the spans leak)."""
    from codeindex_spark.ops.dedup import ngram_jaccard_pairs

    def disk_only_ids():
        ids = set()
        for rid, jrdd in spark.sparkContext._jsc.getPersistentRDDs().items():
            sl = jrdd.rdd().getStorageLevel()
            if sl.useDisk() and not sl.useMemory():
                ids.add(rid)
        return ids

    before = disk_only_ids()
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f h"), (3, "x y z w v u t")],
        "doc_id long, text string",
    )
    ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()
    assert disk_only_ids() - before == set()


# ---------------------------------------------------------------- semdedup


def _semdedup_fixture(n=150, dim=16, seed=7):
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n, dim))
    # rows [n-20, n) are tiny perturbations of rows [0, 20)
    base[n - 20 :] = base[:20] + 0.001 * rng.standard_normal((20, dim))
    return base


def _semdedup_replay(mat, ids, threshold, n_centroids, sample, iters, seed):
    """Independent numpy reimplementation of the documented semantics:
    seeded-sample k-means -> nearest-centroid assignment -> per
    cluster, centroid-sim-asc/id-asc order, dup when an earlier item
    is >= threshold, dup_of = the most-similar earlier item."""
    matn = mat / np.maximum(
        np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
    )
    order = np.argsort(ids)
    train = matn[order][:sample]
    rng = np.random.default_rng(seed)
    cents = train[rng.choice(len(train), size=n_centroids, replace=False)]
    for _ in range(iters):
        a = (train @ cents.T).argmax(axis=1)
        for c in range(n_centroids):
            ms = train[a == c]
            if len(ms):
                v = ms.mean(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)
    cell = (matn @ cents.T).argmax(axis=1)
    out = {}
    for c in range(n_centroids):
        mask = cell == c
        cids, cmat = ids[mask], matn[mask]
        cs = (cmat * cents[c]).sum(axis=1)
        o = np.lexsort((cids, cs))
        cids, cmat, cs = cids[o], cmat[o], cs[o]
        for i in range(len(cids)):
            sims = cmat[:i] @ cmat[i]
            j = int(sims.argmax()) if i else -1
            dup = i > 0 and sims[j] >= threshold
            out[int(cids[i])] = (
                c,
                float(cs[i]),
                not dup,
                int(cids[j]) if dup else None,
            )
    return out


def test_semdedup_matches_replay(spark):
    """Full-output equality with an independent numpy replay on data
    containing injected near-duplicates."""
    from codeindex_spark.ops.similarity import semdedup

    base = _semdedup_fixture()
    ids = np.arange(len(base), dtype=np.int64)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in base[i]]) for i in ids],
        "vec_id long, embedding array<double>",
    ).repartition(5)
    got = semdedup(
        df, dim=16, threshold=0.95, n_centroids=4, sample=150
    ).toPandas()
    exp = _semdedup_replay(base, ids, 0.95, 4, 150, 10, 42)
    assert len(got) == len(base)
    for r in got.itertuples():
        c, cs, kept, dup_of = exp[int(r.vec_id)]
        assert int(r.cluster) == c, r
        assert abs(float(r.cent_sim) - cs) < 1e-12, r
        assert bool(r.kept) == kept, r
        assert (None if pd.isna(r.dup_of) else int(r.dup_of)) == dup_of, r
    # the 20 injected pairs each lost exactly one member
    g = got.set_index("vec_id")
    for i in range(20):
        assert bool(g.loc[i, "kept"]) != bool(g.loc[130 + i, "kept"]), i


def test_semdedup_identical_vectors_id_tiebreak(spark):
    """Byte-identical vectors have equal cent_sim: the keeper is the
    SMALLEST id (lexsort tie-break), every other copy points at it."""
    from codeindex_spark.ops.similarity import semdedup

    v = [1.0] + [0.0] * 7
    w = [0.0, 1.0] + [0.0] * 6
    rows = [(10, v), (3, v), (7, v), (1, w)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = (
        semdedup(df, dim=8, threshold=0.99, n_centroids=2, sample=4)
        .toPandas()
        .set_index("vec_id")
    )
    assert bool(out.loc[3, "kept"]) and bool(out.loc[1, "kept"])
    assert not out.loc[7, "kept"] and int(out.loc[7, "dup_of"]) == 3
    assert not out.loc[10, "kept"] and int(out.loc[10, "dup_of"]) == 3


def test_semdedup_max_cluster_cap(spark):
    """Members past the cap (in keeper order) pass through kept=true —
    bounded work, conservative keep."""
    from codeindex_spark.ops.similarity import semdedup

    v = [1.0] + [0.0] * 7
    rows = [(i, v) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup(
        df, dim=8, threshold=0.99, n_centroids=1, sample=6, max_cluster=4
    ).toPandas()
    kept = set(out[out.kept]["vec_id"])
    # ids 0..3 dedup to {0}; ids 4,5 are overflow, kept unexamined
    assert kept == {0, 4, 5}


def test_semdedup_threshold_validation(spark):
    from codeindex_spark.ops.similarity import semdedup

    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="threshold"):
        semdedup(df, dim=2, threshold=0.0)


def test_gopher_quality_flags(spark):
    """Each Gopher rule (Rae 2021 Table A1) trips on a purpose-built
    doc; a long clean doc passes all."""
    from codeindex_spark.ops.analysis import gopher_quality_flags

    clean = " ".join(
        ["the quick brown fox jumps over the lazy dog with grace"] * 6
    )  # 66 words, mean len ~4, stopwords the/with
    rows = [
        (0, clean),
        (1, "too short to pass"),                       # word count
        (2, " ".join(["a"] * 60)),                      # mean word len < 3
        (3, " ".join(["###"] * 30 + ["the with stop words fine"] * 9)),  # symbols
        (4, "\n".join(["• bullet line the with"] * 10 + ["plain line"] * 2)
            + " " + " ".join(["pad"] * 50)),            # bullets
        (5, "\n".join(["ends in dots the with..."] * 10 + ["plain"] * 10)
            + " " + " ".join(["pad"] * 40)),            # ellipses
        (6, " ".join(["1234"] * 55 + ["the with"] * 3)),  # alpha frac
        (7, " ".join(["alpha words only here fine"] * 12)),  # stopwords < 2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        gopher_quality_flags(df).toPandas().set_index("doc_id").sort_index()
    )
    assert bool(out.loc[0, "gopher_pass"]), out.loc[0].to_dict()
    assert not out.loc[1, "ok_word_count"]
    assert not out.loc[2, "ok_mean_word_len"]
    assert not out.loc[3, "ok_symbol_ratio"]
    assert not out.loc[4, "ok_bullets"]
    assert not out.loc[5, "ok_ellipses"]
    assert not out.loc[6, "ok_alpha_words"]
    assert not out.loc[7, "ok_stopwords"]
    for d in range(1, 8):
        assert not out.loc[d, "gopher_pass"], d
    # metrics sanity on the clean doc
    assert out.loc[0, "n_words"] == 66
    assert abs(out.loc[0, "alpha_word_frac"] - 1.0) < 1e-9
    assert out.loc[0, "stopword_hits"] >= 2


def test_gopher_boundaries_and_null_text(spark):
    """Exactly 10% bullet lines PASSES (the rule admits the boundary;
    deriving the threshold as 1.0 - 0.9 would reject it by 1 ulp),
    and NULL text gets concrete zero metrics, never NULL flags."""
    from codeindex_spark.ops.analysis import gopher_quality_flags

    clean = " ".join(["the fine words with grace here"] * 10)
    ten_lines = "\n".join(["- bullet " + clean] + [clean] * 9)
    df = spark.createDataFrame(
        [(0, ten_lines), (1, None)], "doc_id long, text string"
    )
    out = gopher_quality_flags(df).toPandas().set_index("doc_id")
    assert abs(out.loc[0, "bullet_line_frac"] - 0.1) < 1e-12
    assert bool(out.loc[0, "ok_bullets"])
    assert out.loc[1, "n_words"] == 0
    assert out.loc[1, "mean_word_len"] == 0.0
    assert not out.loc[1, "gopher_pass"]
    assert out.loc[1].notna().all()


def test_c4_clean(spark):
    """C4 line/doc rules (Raffel 2020 §2.2): line retention by
    terminal punctuation / word count / javascript; doc discard by
    sentence count, lorem ipsum, and braces."""
    from codeindex_spark.ops.analysis import c4_clean

    good = "\n".join(
        ["This is a fine sentence."] * 3
        + ["Is this a question? Yes it is!"]
        + ["Quoted ending works fine.”"]
    )
    rows = [
        (0, good),                                    # keeps everything
        (1, "no terminal punctuation here\nshort."),  # lines dropped
        (2, good + "\nEnable javascript to view."),   # js line dropped
        (3, good + "\nlorem ipsum dolor sit amet."),  # doc discarded
        (4, good + "\nvar x = { a: 1 };"),            # brace discard
        (5, "One sentence only."),                    # < 5 sentences
        (6, None),                                    # NULL text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = c4_clean(df).toPandas().set_index("doc_id").sort_index()
    assert bool(out.loc[0, "c4_keep"]) and out.loc[0, "n_kept_lines"] == 5
    assert out.loc[0, "n_sentences"] == 6
    assert out.loc[1, "n_kept_lines"] == 0 and not out.loc[1, "c4_keep"]
    # the javascript LINE drops but the doc survives
    assert bool(out.loc[2, "c4_keep"])
    assert "javascript" not in out.loc[2, "text_clean"]
    assert not out.loc[3, "c4_keep"] and bool(out.loc[3, "has_lorem_ipsum"])
    assert not out.loc[4, "c4_keep"] and bool(out.loc[4, "has_brace"])
    assert not out.loc[5, "c4_keep"] and out.loc[5, "n_sentences"] == 1
    assert out.loc[6, "n_lines"] == 0 and not out.loc[6, "c4_keep"]
    assert out.loc[6].notna().all()


def test_bloom_contamination_matches_exact(spark):
    """bloom_contamination_overlaps is exact: bloom prefilter + exact
    re-verify must reproduce contamination_overlaps bit-for-bit."""
    from codeindex_spark.ops.dedup import (
        bloom_contamination_overlaps,
        contamination_overlaps,
    )

    rows = []
    for i in range(40):
        words = [f"w{(i * 7 + j) % 23}" for j in range(12)]
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = docs.filter("doc_id % 13 = 0").selectExpr(
        "doc_id + 1000 as doc_id", "text"
    )
    exact = {
        r["doc_id"]: (r["n_shared_ngrams"], r["n_bench_docs"], r["min_bench_id"])
        for r in contamination_overlaps(docs, bench, n=4).collect()
    }
    got = {
        r["doc_id"]: (r["n_shared_ngrams"], r["n_bench_docs"], r["min_bench_id"])
        for r in bloom_contamination_overlaps(docs, bench, n=4).collect()
    }
    assert exact == got
    assert len(exact) > 0


def test_bloom_contamination_empty_bench(spark):
    from codeindex_spark.ops.dedup import bloom_contamination_overlaps

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i j")], "doc_id long, text string"
    )
    bench = docs.limit(0)
    out = bloom_contamination_overlaps(docs, bench, n=3)
    assert out.count() == 0
    assert out.columns == [
        "doc_id", "n_shared_ngrams", "n_bench_docs", "min_bench_id",
    ]


def test_bloom_contamination_cap_guard(spark):
    import pytest as _pytest

    from codeindex_spark.ops.dedup import bloom_contamination_overlaps

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="max_bench_shingles"):
        bloom_contamination_overlaps(docs, docs, n=3, max_bench_shingles=2)


def test_group_quantiles_matches_duckdb(spark):
    """Seeded random grouped values incl. heavy ties and NULLs: the
    distributed value-count/running-sum path must equal DuckDB's
    quantile_disc (percentile_disc lower semantics) exactly."""
    import random

    import duckdb

    from codeindex_spark.ops.analysis import group_quantiles

    rng = random.Random(29)
    rows = [
        (g, float(rng.choice([1, 2, 2, 3, 5, 8, 13, 21, 34])))
        for g in "abc"
        for _ in range(rng.randint(5, 80))
    ] + [("a", None), ("c", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    qs = (0.1, 0.25, 0.5, 0.75, 0.9, 1.0)
    got = {
        r["g"]: [r[f"q{int(round(q * 100))}"] for q in qs]
        for r in group_quantiles(df, "g", "v", qs).collect()
    }
    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame(rows, columns=["g", "v"]))
    sel = ", ".join(
        f"quantile_disc(v, {q})::DOUBLE AS q{int(round(q * 100))}" for q in qs
    )
    exp = {
        r[0]: list(r[1:])
        for r in con.execute(f"SELECT g, {sel} FROM t GROUP BY g").fetchall()
    }
    assert got == exp


def test_group_quantiles_edges(spark):
    from codeindex_spark.ops.analysis import group_quantiles

    df = spark.createDataFrame(
        [("x", 10.0), ("x", 20.0), ("y", 7.0), ("y", None)],
        "g string, v double",
    )
    out = {r["g"]: r for r in group_quantiles(df, "g", "v", (0.5, 1.0)).collect()}
    # n=2: ceil(.5*2)=1 -> 10; ceil(1*2)=2 -> 20
    assert out["x"]["q50"] == 10.0 and out["x"]["q100"] == 20.0
    # single non-NULL value: every quantile is it
    assert out["y"]["q50"] == 7.0 and out["y"]["q100"] == 7.0
    with pytest.raises(ValueError):
        group_quantiles(df, "g", "v", ())
    with pytest.raises(ValueError):
        group_quantiles(df, "g", "v", (0.0,))
    with pytest.raises(ValueError):
        group_quantiles(df, "g", "v", (1.5,))


def test_group_quantiles_null_group_numeric(spark):
    """A NULL group key is a group on the numeric path too, as on the
    string path and in SQL GROUP BY."""
    from codeindex_spark.ops.analysis import group_quantiles

    rows = [("a", 1.0), ("a", 3.0), (None, 2.0), (None, 4.0), (None, 6.0)]
    num = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: (r["q50"], r["q100"])
           for r in group_quantiles(num, "g", "v", (0.5, 1.0)).collect()}
    assert out == {"a": (1.0, 3.0), None: (4.0, 6.0)}
    txt = spark.createDataFrame(
        [(g, str(int(v))) for g, v in rows], "g string, v string"
    )
    assert {r["g"]: (r["q50"], r["q100"])
            for r in group_quantiles(txt, "g", "v", (0.5, 1.0)).collect()
            } == {"a": ("1", "3"), None: ("4", "6")}


def test_group_quantiles_degenerate_range(spark):
    """A group whose range is so narrow that the bucket width
    underflows to 0 keeps every value (one bucket)."""
    from codeindex_spark.ops.analysis import group_quantiles

    tiny = 5e-324  # smallest subnormal: (hi - lo) / 4096 == 0.0
    assert tiny / 4096 == 0.0
    df = spark.createDataFrame(
        [("t", 0.0), ("t", tiny), ("t", tiny), ("u", 1.0)],
        "g string, v double",
    )
    out = {r["g"]: (r["q25"], r["q50"], r["q100"])
           for r in group_quantiles(df, "g", "v", (0.25, 0.5, 1.0)).collect()}
    assert out == {"t": (0.0, tiny, tiny), "u": (1.0, 1.0, 1.0)}


def test_tfidf_cosine_pairs_matches_replay(spark):
    """Bit-exact-to-1e-9 pure-Python replay of the documented scheme
    (tf * ln(N/df), L2 norm, pair dot), including the min_df /
    max_df_frac pruning."""
    import math
    from collections import Counter

    from codeindex_spark.ops.dedup import tfidf_cosine_pairs

    docs = {
        1: "apple banana apple cherry",
        2: "apple banana apple cherry date",
        3: "zebra yak xylo walrus",
        4: "zebra yak xylo walrus zebra",
        5: "apple zebra mixed bag here",
        6: "totally different words only once",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in tfidf_cosine_pairs(
            df, min_df=1, max_df_frac=1.0, threshold=0.1
        ).collect()
    }
    # replay
    n = len(docs)
    tfs = {d: Counter(t.split()) for d, t in docs.items()}
    dfreq = Counter(w for c in tfs.values() for w in c)
    w = {
        d: {
            t: tf * math.log(n / dfreq[t])
            for t, tf in c.items()
            if dfreq[t] <= n  # max_df_frac=1.0 keeps all
        }
        for d, c in tfs.items()
    }
    nrm = {d: math.sqrt(sum(x * x for x in ws.values())) for d, ws in w.items()}
    exp = {}
    ids = sorted(docs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            dot = sum(w[a][t] * w[b].get(t, 0.0) for t in w[a])
            if nrm[a] > 0 and nrm[b] > 0:
                cos = dot / (nrm[a] * nrm[b])
                if cos >= 0.1:
                    exp[(a, b)] = cos
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert got[k] == pytest.approx(v, rel=1e-9), k
    # the two near-copy pairs rank above every cross pair
    top2 = sorted(got, key=got.get, reverse=True)[:2]
    assert set(top2) == {(1, 2), (3, 4)}


def test_tfidf_cosine_pairs_stopword_prune(spark):
    """A term in more than max_df_frac of docs must contribute
    nothing: two docs sharing ONLY the stopword form no pair."""
    from codeindex_spark.ops.dedup import tfidf_cosine_pairs

    rows = [(i, "the unique%d word%d" % (i, i)) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_cosine_pairs(df, max_df_frac=0.5, threshold=0.01).collect()
    assert out == []  # 'the' pruned; everything else is a hapax


def test_tfidf_cosine_pairs_partition_invariance(spark):
    from codeindex_spark.ops.dedup import tfidf_cosine_pairs

    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(12)))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(
        (r["doc_a"], r["doc_b"], round(r["cosine"], 9))
        for r in tfidf_cosine_pairs(df, threshold=0.3).collect()
    )
    b = sorted(
        (r["doc_a"], r["doc_b"], round(r["cosine"], 9))
        for r in tfidf_cosine_pairs(df.repartition(11), threshold=0.3).collect()
    )
    assert a == b and a


# ---------- margin-based cross-corpus alignment (r5) ----------


def _rand_vectors(spark, n, dim, seed, start_id=0):
    import numpy as np

    rng = np.random.RandomState(seed)
    rows = [
        (int(start_id + i), [float(x) for x in rng.randn(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cross_knn_exact_vs_replay(spark):
    """Grid-blocked distributed kNN == single-matrix numpy replay,
    including the (cosine DESC, id ASC) tie-break, on every grid."""
    import numpy as np

    left = _rand_vectors(spark, 40, 16, seed=1)
    right = _rand_vectors(spark, 55, 16, seed=2, start_id=100)
    lp, rp = left.toPandas(), right.toPandas()
    lm = np.stack([np.asarray(v, np.float64) for v in lp.embedding])
    rm = np.stack([np.asarray(v, np.float64) for v in rp.embedding])
    lm /= np.linalg.norm(lm, axis=1, keepdims=True)
    rm /= np.linalg.norm(rm, axis=1, keepdims=True)
    S = lm @ rm.T
    rid = rp.vec_id.to_numpy()
    expect = set()
    for i in range(S.shape[0]):
        order = np.lexsort((rid, -S[i]))[:3]
        for j in order:
            expect.add((int(lp.vec_id[i]), int(rid[j])))
    from codeindex_spark.ops.similarity import cross_knn

    for grid in [(1, 1), (3, 2), (8, 8)]:
        got = cross_knn(left, right, k=3, grid=grid).collect()
        assert len(got) == 40 * 3
        assert {(r.src_id, r.dst_id) for r in got} == expect, grid


def test_margin_align_hubness_and_replay(spark):
    """margin_knn_align == the Artetxe & Schwenk ratio-margin replay;
    a hub vector (uniformly close to everything) must rank BELOW a
    mutually-specific pair on margin even when its raw cosine wins."""
    import numpy as np

    rng = np.random.RandomState(7)
    dim = 12
    # specific pair: near-duplicate vectors, unique direction
    u = rng.randn(dim)
    # hub: the mean direction of the right corpus — high cosine to many
    base = rng.randn(6, dim) + 3.0 * np.ones(dim)
    rows_l = [(0, [float(x) for x in u]), (1, [float(x) for x in np.ones(dim)])]
    rows_r = [(100, [float(x) for x in (u + 0.01 * rng.randn(dim))])] + [
        (101 + i, [float(x) for x in base[i]]) for i in range(6)
    ]
    left = spark.createDataFrame(rows_l, "vec_id long, embedding array<float>")
    right = spark.createDataFrame(rows_r, "vec_id long, embedding array<float>")
    from codeindex_spark.ops.similarity import margin_knn_align

    out = {
        (r.src_id, r.dst_id): r
        for r in margin_knn_align(
            left, right, k=3, threshold=0.0, grid=(2, 2)
        ).collect()
    }
    spec = out[(0, 100)]
    hub_margins = [v.margin for kk, v in out.items() if kk[0] == 1]
    assert spec.margin > max(hub_margins)
    # full replay
    lp = left.toPandas().sort_values("vec_id")
    rp = right.toPandas().sort_values("vec_id")
    lm = np.stack([np.asarray(v, np.float64) for v in lp.embedding])
    rm = np.stack([np.asarray(v, np.float64) for v in rp.embedding])
    lm /= np.linalg.norm(lm, axis=1, keepdims=True)
    rm /= np.linalg.norm(rm, axis=1, keepdims=True)
    S = lm @ rm.T
    rid, lid = rp.vec_id.to_numpy(), lp.vec_id.to_numpy()
    k = 3
    ma = {
        int(lid[i]): np.sort(S[i])[::-1][:k].mean() for i in range(len(lid))
    }
    mb = {
        int(rid[j]): np.sort(S[:, j])[::-1][:k].mean()
        for j in range(len(rid))
    }
    for (a, b), r in out.items():
        i = int(np.flatnonzero(lid == a)[0])
        j = int(np.flatnonzero(rid == b)[0])
        m = S[i, j] / (ma[a] / 2 + mb[b] / 2)
        assert abs(r.margin - m) < 1e-10, (a, b)


def test_margin_align_threshold_and_schema(spark):
    left = _rand_vectors(spark, 30, 8, seed=3)
    right = _rand_vectors(spark, 30, 8, seed=4, start_id=500)
    from codeindex_spark.ops.similarity import margin_knn_align

    all_pairs = margin_knn_align(left, right, k=4, threshold=0.0)
    kept = margin_knn_align(left, right, k=4, threshold=1.05)
    ap = {(r.src_id, r.dst_id): r.margin for r in all_pairs.collect()}
    kp = {(r.src_id, r.dst_id) for r in kept.collect()}
    assert kp == {p for p, m in ap.items() if m >= 1.05}
    assert all_pairs.columns == ["src_id", "dst_id", "cosine", "margin"]


def test_cross_knn_auto_grid(spark):
    """grid="auto" must produce the same exact result as an explicit
    grid and derive block counts from rows_per_block."""
    from codeindex_spark.ops.similarity import _auto_grid, cross_knn

    left = _rand_vectors(spark, 25, 8, seed=11)
    right = _rand_vectors(spark, 60, 8, seed=12, start_id=300)
    assert _auto_grid(left, right, rows_per_block=20) == (2, 3)
    a = {(r.src_id, r.dst_id) for r in cross_knn(left, right, k=3).collect()}
    b = {
        (r.src_id, r.dst_id)
        for r in cross_knn(
            left, right, k=3, grid="auto", rows_per_block=20
        ).collect()
    }
    assert a == b and len(a) == 25 * 3


def test_ivf_cross_knn_full_probe_equals_exact(spark):
    """n_probe == n_centroids visits every cell: ivf_cross_knn must
    reproduce cross_knn exactly (pairs AND cosines)."""
    import numpy as np

    from codeindex_spark.ops.similarity import (
        cross_knn,
        ivf_build,
        ivf_cross_knn,
    )

    left = _rand_vectors(spark, 30, 12, seed=21)
    right = _rand_vectors(spark, 45, 12, seed=22, start_id=200)
    exact = {
        (r.src_id, r.dst_id): r.cosine
        for r in cross_knn(left, right, k=3).collect()
    }
    idx = ivf_build(right, dim=12, n_centroids=4, seed=5)
    approx = {
        (r.src_id, r.dst_id): r.cosine
        for r in ivf_cross_knn(left, idx, k=3, n_probe=4).collect()
    }
    assert set(approx) == set(exact)
    for p, c in approx.items():
        assert abs(c - exact[p]) < 1e-12


def test_ivf_cross_knn_clustered_recall(spark):
    """On well-separated clusters a single probe already recovers the
    true neighbors — the cell join prunes without losing recall."""
    import numpy as np

    from codeindex_spark.ops.similarity import (
        cross_knn,
        ivf_build,
        ivf_cross_knn,
    )

    rng = np.random.RandomState(31)
    centers = rng.randn(3, 16) * 10
    def clustered(n, start):
        rows = []
        for i in range(n):
            c = centers[i % 3] + 0.1 * rng.randn(16)
            rows.append((start + i, [float(x) for x in c]))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    left = clustered(30, 0)
    right = clustered(60, 1000)
    exact = {
        (r.src_id, r.dst_id) for r in cross_knn(left, right, k=3).collect()
    }
    idx = ivf_build(right, dim=16, n_centroids=3, seed=7)
    approx = {
        (r.src_id, r.dst_id)
        for r in ivf_cross_knn(left, idx, k=3, n_probe=1).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.95, recall


def test_margin_align_ivf_method(spark):
    """method='ivf' at full probes == method='exact' pair-for-pair."""
    from codeindex_spark.ops.similarity import margin_knn_align

    left = _rand_vectors(spark, 25, 10, seed=41)
    right = _rand_vectors(spark, 35, 10, seed=42, start_id=700)
    ex = {
        (r.src_id, r.dst_id): r.margin
        for r in margin_knn_align(
            left, right, k=3, threshold=0.0
        ).collect()
    }
    iv = {
        (r.src_id, r.dst_id): r.margin
        for r in margin_knn_align(
            left, right, k=3, threshold=0.0, method="ivf",
            n_centroids=4, n_probe=4,
        ).collect()
    }
    assert set(iv) == set(ex)
    for p, m in iv.items():
        assert abs(m - ex[p]) < 1e-10
    import pytest as _pt

    with _pt.raises(ValueError, match="unknown method"):
        margin_knn_align(left, right, method="hnsw").collect()
