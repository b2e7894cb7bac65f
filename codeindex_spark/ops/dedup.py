"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame programs (shuffle-conscious, no
driver-side loops) over a corpus with (id_col, text_col):

- exact_duplicates      — hash groupBy (one shuffle on the hash)
- shingles              — word n-gram shingling (posexplode, JVM-side)
- ngram_jaccard_pairs   — exact Jaccard over shingle sets via a
                          shingle-inverted-index self-join
- minhash_lsh_pairs     — MinHash signatures + banded LSH: candidate
                          pairs share >=1 band bucket. Hashes are
                          md5-string minima so any engine (DuckDB
                          oracle included) reproduces them exactly.
- simhash64             — 64-bit SimHash fingerprints + near-dup pairs
                          within Hamming distance via band rotation

Scale notes: shingle joins are the classic quadratic trap — both
jaccard and LSH paths group by shingle/bucket first, and very hot
shingles (df > hot_cap) are dropped like stopwords before the
self-join (standard practice; bounded reducer fan-out). MinHash-LSH
is the 100 TB path: signature size is constant per doc, band buckets
shard naturally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from codeindex_spark.util import ensure_parallelism


def exact_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sample_cap: int = 1000,
) -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_docs, doc_ids,
    keep_doc_id). n_docs/keep_doc_id are exact; doc_ids is a bounded
    SAMPLE (first sample_cap ids ascending) — an unbounded
    collect_list would put 10^8 ids in one reducer row for a
    boilerplate file duplicated corpus-wide. The cap is applied
    BEFORE collection (row_number over the hash partition), so the
    agg buffer is bounded too — a post-hoc slice would still
    materialize the full group on one reducer. The window sort
    reuses the hash partitioning, so the groupBy adds no exchange;
    a mega-hot group spills in the external sort instead of OOMing
    an agg buffer."""
    hashed = df.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("text_hash")
    )
    rn = F.row_number().over(
        Window.partitionBy("text_hash").orderBy("doc_id")
    )
    return (
        hashed.withColumn("_rn", rn)
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rn") <= sample_cap, F.col("doc_id"))
                )
            ).alias("doc_ids"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per doc: (doc_id, shingle), distinct per
    doc by default.

    Tokenization = whitespace split (shingling operates on normalized
    text; callers lowercase/normalize upstream). JVM-side only: the
    shingle ARRAY is built per row with the collapse-safe zip_with
    chain (ops/_text.gram_array), then ONE explode emits bare
    (doc_id, shingle) rows. The r5 shape posexploded the token array
    and re-read it per position, so every exploded row carried the
    doc's full token array through the Generate — O(tokens^2) bytes
    per doc on long documents; this shape is O(tokens · n).

    ``distinct=False`` skips the dedup SHUFFLE of every shingle row —
    pass it whenever the consumer is itself distinct-insensitive
    (min/countDistinct aggregates, semi-join probes)."""
    from codeindex_spark.ops._text import gram_array

    # raw split (no trim/empty-filter): the shingle strings are the
    # oracle contract — empty edge tokens survive exactly as before
    toks = F.split(F.col(text_col), " +")
    df = ensure_parallelism(df)  # explode-heavy: never run on 1 split
    out = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(gram_array(toks, n)).alias("shingle"),
    )
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    hot_cap: int = 10000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold:
    (doc_a, doc_b, jaccard). Inverted-index self-join on shingle."""
    from pyspark import StorageLevel

    # reused 3x (sizes, hot, the self-joined cool) so persisting is
    # right — but DISK_ONLY, not cache(): at corpus scale the shingle
    # set dwarfs executor memory and MEMORY_AND_DISK eviction churn
    # costs more than a straight disk read
    sh = shingles(df, id_col, text_col, n).persist(StorageLevel.DISK_ONLY)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    hot = sh.groupBy("shingle").count().filter(F.col("count") > hot_cap)
    cool = sh.join(hot.select("shingle"), "shingle", "left_anti")
    pairs = (
        cool.alias("a")
        .join(cool.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    out = (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    # the result (pairs >= threshold) is tiny against the shingle
    # set; eager-localCheckpoint it so the corpus-sized disk cache is
    # released NOW instead of leaking for the session lifetime (same
    # discipline as spans.duplicate_span_stats)
    out = out.localCheckpoint(eager=True)
    sh.unpersist()
    return out


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_df_frac: float = 0.5,
    threshold: float = 0.5,
    hot_cap: int = 10000,
) -> DataFrame:
    """Sparse lexical near-dup: TF-IDF cosine similarity pairs >=
    ``threshold`` — (doc_a, doc_b, cosine). The bag-of-words
    complement to embedding_neardup (dense) and ngram_jaccard_pairs
    (set-based): weighs REPEATED rare terms, which Jaccard's set
    semantics ignore.

    Weights: raw tf * ln(N/df) per (doc, term), L2-normalized per
    doc — SMART 'ntc' (natural tf, not the 1+ln(tf)-damped 'ltc';
    Salton & Buckley 1988). Docs whose every term got pruned (zero
    norm) pair with nothing.

    Scale shape, same defenses as the Jaccard op: the pair generator
    is an inverted-index self-join on the term, and THREE independent
    caps bound it — ``max_df_frac`` drops corpus-stopwords up front
    (a term in half the corpus generates N²/8 pairs and near-zero
    idf: quadratic cost, no signal), ``min_df`` drops hapaxes that
    cannot form pairs, and ``hot_cap`` hard-bounds any surviving
    term's postings. The dot-product aggregation is
    map-side-combinable (sum of per-term products keyed on the
    pair); norms join in from a per-doc aggregate. Deterministic:
    pure arithmetic, no sampling.
    """
    if not 0.0 < max_df_frac <= 1.0:
        raise ValueError("max_df_frac must be in (0, 1]")
    from pyspark import StorageLevel

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(
                F.split(F.col(text_col), r"\s+"), lambda w: w != ""
            )
        ).alias("term"),
    )
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
        .persist(StorageLevel.DISK_ONLY)
    )
    n_docs = df.select(F.countDistinct(id_col)).first()[0]
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    kept_terms = dfreq.filter(
        (F.col("df") >= min_df)
        & (F.col("df") <= int(max_df_frac * n_docs))
        & (F.col("df") <= hot_cap)
    ).withColumn("idf", F.log(F.lit(float(n_docs)) / F.col("df")))
    w = tf.join(kept_terms.select("term", "idf"), "term").select(
        "doc_id", "term", (F.col("tf") * F.col("idf")).alias("w")
    ).persist(StorageLevel.DISK_ONLY)
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    dots = (
        w.alias("a")
        .join(w.alias("b"), "term")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    out = (
        dots.join(
            norms.select(
                F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na")
            ),
            "doc_a",
        )
        .join(
            norms.select(
                F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb")
            ),
            "doc_b",
        )
        .withColumn("cosine", F.col("dot") / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )
    # thresholded pairs are tiny vs the weight table: eager-checkpoint
    # and release the disk caches now (jaccard/spans discipline)
    out = out.localCheckpoint(eager=True)
    w.unpersist()
    tf.unpersist()
    return out


# Universal-hash family for MinHash permutations: h_i(x) = (A_i*x + B_i)
# mod P over the 32-bit shingle fingerprint x = first 8 md5 hex digits.
# One md5 per shingle row instead of num_hashes of them, and the mins
# aggregate 8-byte longs instead of 32-char strings. A_i < 2^31 keeps
# A_i*x < 2^63 (no int64 overflow in Spark OR DuckDB); P is the
# largest prime < 2^32. Constants are fixed (seeded once, hardcoded)
# so any engine reproduces the signatures exactly.
MINHASH_P = 4294967291
MINHASH_AB = (
    (1664525, 1013904223),
    (22695477, 1),
    (1103515245, 12345),
    (134775813, 1),
    (214013, 2531011),
    (1140671485, 12820163),
    (16807, 0),
    (48271, 0),
)


def _minhash_wide(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
) -> DataFrame:
    """One row per doc with num_hashes minhash columns m0..m{H-1}:
    m_i = min over shingles of (A_i*fp32(shingle) + B_i) mod P.

    The shingle list and its 32-bit fingerprints are built per-row
    with JVM higher-order functions (transform / filter — ONE md5
    per shingle, no toks-array duplication per exploded row), then
    exploded to bare (doc_id, long) rows for a map-side-combined
    groupBy: each partition pre-reduces to num_hashes longs per doc
    before the shuffle, so shuffle volume is O(n_docs), not
    O(n_shingles). No distinct() — the min over the raw
    (duplicate-bearing) shingle list equals the min over the
    distinct set. Docs with fewer than n tokens have no shingles
    and are dropped (same as the inverted-list formulation).

    (A zero-shuffle all-HOF variant — 8 array_min(transform(..))
    over a fingerprint-array column — measured 5x SLOWER: projection
    collapse inlines the array expression into every array_min and
    Spark does not common-subexpression-eliminate through lambda
    functions, so the md5 pass ran 8x.)"""
    if num_hashes > len(MINHASH_AB):
        raise ValueError(f"num_hashes > {len(MINHASH_AB)} not supported")
    toks = F.split(F.col(text_col), " +")
    with_toks = df.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
    sh_arr = F.filter(
        F.transform(
            F.col("_toks"),
            lambda w, i: F.when(
                i + n <= F.size(F.col("_toks")),
                F.concat_ws(
                    " ",
                    *[F.element_at(F.col("_toks"), i + j + 1) for j in range(n)],
                ),
            ),
        ),
        lambda s: s.isNotNull(),
    )
    xs = F.transform(
        sh_arr, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    )
    ex = ensure_parallelism(with_toks).select(
        "doc_id", F.explode(xs).alias("x")
    )
    return ex.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MINHASH_P)).alias(
                f"m{i}"
            )
            for i, (a, b) in enumerate(MINHASH_AB[:num_hashes])
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    collapse_exact: bool = False,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing at least one LSH band
    bucket: (doc_a, doc_b). bands = num_hashes/band_size; the standard
    S-curve trades precision vs recall via (num_hashes, band_size).
    Band keys come straight from the wide signature row (array_sort
    within the band == the former per-band sort_array(collect_list)),
    so there is exactly one shuffle before the bucket self-join.

    Duplicate-heavy corpora are the scale trap: m byte-identical
    copies of one file share every signature and materialize
    m(m-1)/2 candidate pairs — measured on a 200k-doc corpus with an
    ~8.7k-doc exact-dup cluster, the pair shuffle (1.8x10^8 rows)
    went disk-bound and erased 2->8-thread scaling entirely. Two
    mitigations, both OFF by default (output-compatible):

    - ``collapse_exact=True`` runs LSH over ONE representative (min
      doc_id) per distinct text and emits pairs between
      representatives only — the standard pipeline order (exact
      dedup first, near-dup over uniques); compose with
      exact_duplicates / duplicate_components to recover the
      within-cluster pairs, which need no LSH to find.
    - ``hot_bucket_cap`` drops band buckets with more members than
      the cap (bounded recall loss, like ngram_jaccard_pairs'
      hot-shingle cap) — the backstop for NEAR-identical floods
      that survive exact collapse.
    """
    src = df
    if collapse_exact:
        src = (
            df.select(
                F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
            )
            .groupBy(F.md5(F.col(text_col)).alias("__h"))
            .agg(
                F.min(id_col).alias(id_col),
                F.first(text_col).alias(text_col),
            )
            .drop("__h")
        )
    wide = _minhash_wide(src, id_col, text_col, n, num_hashes)
    n_bands = num_hashes // band_size
    bands = wide.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            F.array_sort(
                                F.array(
                                    *[
                                        F.col(f"m{b * band_size + j}")
                                        for j in range(band_size)
                                    ]
                                )
                            ),
                        ).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.band_key")
    if hot_bucket_cap is not None:
        hot = (
            bands.groupBy("band", "band_key")
            .count()
            .filter(F.col("count") > hot_bucket_cap)
            .select("band", "band_key")
        )
        bands = bands.join(hot, ["band", "band_key"], "left_anti")
    return (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def contamination_overlaps(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Test-set decontamination: training docs sharing at least one
    word n-gram with any benchmark doc — the standard 13-gram
    collision rule of LLM training pipelines (GPT-3 appendix C /
    PaLM / Llama decontamination). Returns (doc_id,
    n_shared_ngrams, n_bench_docs, min_bench_id) per contaminated
    training doc.

    Scale shape: the benchmark side is tiny relative to a 100 TB
    corpus (benchmarks are MBs), so its shingle set is broadcast —
    the corpus-side scan is embarrassingly parallel with NO shuffle
    of corpus shingles; the only aggregation is per contaminated
    doc (a vanishing fraction). countDistinct is exact and bounded:
    a doc has at most len(doc) shingles, a benchmark at most
    len(bench) — no unbounded state.
    """
    # corpus side: NO distinct — the aggregates below are
    # countDistinct/min, so pre-dedup would add the exact
    # O(corpus-shingles) shuffle this op exists to avoid. Bench side
    # stays distinct (tiny, and it shrinks the broadcast).
    tr = shingles(train, id_col, text_col, n, distinct=False)
    be = shingles(bench, bench_id_col, text_col, n).withColumnRenamed(
        "doc_id", "bench_id"
    )
    return (
        tr.join(F.broadcast(be), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_ngrams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
            F.min("bench_id").alias("min_bench_id"),
        )
    )


def _bloom_build(h1, h2, m_bits: int, k: int):
    """Set Kirsch-Mitzenmacher double-hash bits for (h1, h2) uint64
    arrays into a fresh numpy byte array of m_bits/8 bytes."""
    import numpy as np

    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    m = np.uint64(m_bits)
    for i in range(k):
        pos = (h1 + np.uint64(i) * h2) % m
        np.bitwise_or.at(bits, pos >> np.uint64(3),
                         np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
    return bits


def bloom_contamination_overlaps(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    n: int = 13,
    bits_per_item: int = 10,
    num_hashes: int = 7,
    max_bench_shingles: int = 20_000_000,
) -> DataFrame:
    """Decontamination via a broadcast Bloom filter — the scale path
    of :func:`contamination_overlaps` for LARGE benchmark suites.
    Result is EXACT and identical to contamination_overlaps: the
    Bloom test is only a prefilter, and every bloom-positive shingle
    is re-verified against the exact benchmark shingle table before
    aggregation, so false positives never reach the output.

    Why: broadcasting the raw shingle strings of a full eval suite
    (10^7-10^8 13-grams, ~100 chars each) costs GBs per executor; a
    Bloom at 10 bits/item + 7 hashes (~0.8 % fpp) costs ~12 MB per
    10^7 items — constant-size state on every executor regardless of
    shingle length. The corpus side stays shuffle-free: shingling,
    hashing (JVM xxhash64 twice — same expressions on both sides, so
    build and probe agree bit-for-bit) and the membership test
    (vectorized numpy over Arrow batches) are all map-only; only the
    bloom-positive sliver (true hits + ~1 % fp) joins the exact
    benchmark table, and that join is broadcast.

    Scale shape: one driver collect bounded by ``max_bench_shingles``
    (guarded — 16 bytes/item on the driver), zero corpus shuffle
    before the final per-contaminated-doc aggregation."""
    import numpy as np

    h1c = F.xxhash64(F.col("shingle"))
    h2c = F.xxhash64(F.lit("bloom-h2"), F.col("shingle"))
    be = shingles(bench, bench_id_col, text_col, n).withColumnRenamed(
        "doc_id", "bench_id"
    )
    bench_keys = (
        be.select("shingle").distinct()
        .select(h1c.alias("h1"), h2c.alias("h2"))
    )
    n_items = bench_keys.count()
    if n_items > max_bench_shingles:
        raise ValueError(
            f"benchmark shingle set ({n_items}) exceeds "
            f"max_bench_shingles ({max_bench_shingles}); raise the cap "
            "or shard the benchmark"
        )
    if n_items == 0:
        return contamination_overlaps(
            train.limit(0), bench, id_col, text_col, bench_id_col, n
        )
    m_bits = 8
    while m_bits < bits_per_item * n_items:
        m_bits *= 2
    pdf = bench_keys.toPandas()
    bits = _bloom_build(
        pdf["h1"].to_numpy().view(np.uint64),
        pdf["h2"].to_numpy().view(np.uint64),
        m_bits,
        num_hashes,
    )
    sc = train.sparkSession.sparkContext
    bc = sc.broadcast(bits.tobytes())
    k = num_hashes

    tr = shingles(train, id_col, text_col, n, distinct=False)
    id_type = tr.schema["doc_id"].dataType.simpleString()
    probe = tr.select("doc_id", "shingle", h1c.alias("h1"), h2c.alias("h2"))

    def _member(batches):
        arr = np.frombuffer(bc.value, dtype=np.uint8)
        m = np.uint64(m_bits)
        for b in batches:
            if len(b) == 0:
                continue
            h1 = b["h1"].to_numpy().view(np.uint64)
            h2 = b["h2"].to_numpy().view(np.uint64)
            mask = np.ones(len(b), dtype=bool)
            for i in range(k):
                pos = (h1 + np.uint64(i) * h2) % m
                byte = arr[(pos >> np.uint64(3)).astype(np.int64)]
                mask &= ((byte >> (pos & np.uint64(7)).astype(np.uint8))
                         & np.uint8(1)).astype(bool)
            if mask.any():
                yield b.loc[mask, ["doc_id", "shingle"]]

    hits = probe.mapInPandas(
        _member, schema=f"doc_id {id_type}, shingle string"
    )
    # exact re-verify: kill bloom false positives. Benchmark side is
    # driver-bounded by construction, so broadcast is safe.
    return (
        hits.join(F.broadcast(be), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_ngrams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
            F.min("bench_id").alias("min_bench_id"),
        )
    )


def duplicate_components(
    pairs: DataFrame,
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup candidate pairs:
    (doc_id, component) where component = MIN doc_id reachable in the
    undirected pair graph — the canonical-representative convention
    of dedup pipelines (pairs alone cannot drive deletion; components
    can: keep component, drop the rest).

    Distributed min-label propagation with POINTER JUMPING: each
    round first lowers every node's label to the min across its
    neighbors' labels (one join + agg), then short-circuits chains by
    replacing each label with its label's label (label-table
    self-join). Pointer jumping doubles the propagation horizon per
    round, so convergence is O(log diameter) rounds, not
    O(diameter) — a 10^6-long template chain converges in ~20
    rounds instead of 10^6. Each round is a constant number of
    keyed shuffles; the label table is (doc_id, long), tiny relative
    to the corpus. The driver loop carries only a changed-count.

    Checkpointing: every round re-derives from the previous label
    DataFrame; localCheckpoint() truncates the lineage so the plan
    does not grow exponentially across iterations.
    """
    fwd = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    edges = (
        fwd.union(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        # materialize ONCE: every round re-reads edges, and without
        # this each round would re-execute the full upstream pairs
        # lineage (for LSH pairs: the whole shingle/signature/band
        # pipeline per iteration)
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("comp", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iter):
        # neighbor min: comp'(v) = min(comp(v), min over (u,v) of comp(u))
        nbr_min = (
            edges.join(
                labels.withColumnRenamed("doc_id", "src"), "src"
            )
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # prev_comp rides along so convergence is an exact per-row
        # comparison — type-agnostic (string ids min-propagate fine,
        # but cast to decimal would NULL them and a sum-based probe
        # would silently report fixpoint after one round)
        stepped = (
            labels.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    "comp", F.coalesce("nbr_comp", "comp")
                ).alias("comp"),
                F.col("comp").alias("prev_comp"),
            )
        )
        # pointer jump: comp''(v) = comp'(comp'(v))
        jumped = (
            stepped.alias("a")
            .join(
                stepped.select(
                    F.col("doc_id").alias("comp"),
                    F.col("comp").alias("comp2"),
                ).alias("b"),
                "comp",
                "left",
            )
            .select(
                "doc_id",
                F.coalesce("comp2", "comp").alias("comp"),
                "prev_comp",
            )
            # lazy: the changed-count collect right below materializes
            # the checkpoint, so each round costs ONE job instead of
            # an eager checkpoint job plus the collect
            .localCheckpoint(eager=False)
        )
        changed = jumped.agg(
            F.count(
                F.when(~F.col("comp").eqNullSafe(F.col("prev_comp")), 1)
            ).alias("c")
        ).collect()[0]["c"]
        labels = jumped.select("doc_id", "comp")
        if changed == 0:
            break
    else:
        # silent non-convergence would hand back labels that split
        # one real component into several — duplicates would survive
        # any keep-list built on them
        raise RuntimeError(
            f"duplicate_components did not converge in {max_iter} "
            "rounds; with pointer jumping this needs a component "
            f"diameter > 2^{max_iter} — raise max_iter"
        )
    return labels.select("doc_id", F.col("comp").alias("component"))


def dedup_keep_list(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Per-doc dedup verdict from candidate pairs: (doc_id,
    component, keep). keep = the doc is its component's canonical
    representative (min doc_id) — docs in no pair are their own
    singleton component and are kept. Broadcast-friendly only when
    the duped subset is small; the join is keyed, never cartesian."""
    comp = duplicate_components(pairs, max_iter=max_iter)
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("component"))
    )


def near_dedup_keep_list(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    hot_bucket_cap: int | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """The full production dedup verdict, one operator: (doc_id,
    component, keep) where component is the canonical (min) doc_id
    of the doc's merged exact+near duplicate cluster and exactly one
    doc per cluster has keep.

    Pipeline order is the scale lesson from BENCH/scaling_ops.json:
    exact texts collapse FIRST (m byte-identical copies would
    otherwise materialize m^2/2 LSH pairs), MinHash-LSH runs over
    the distinct-text representatives only, connected components
    merge the near-dup graph, and every doc inherits its exact
    representative's component. LSH costs O(distinct texts).

    The collapse result (one row per distinct text) is
    localCheckpointed so its groupBy shuffle runs ONCE even though
    three downstream consumers read it (pair generation, the rep
    set, the final doc->rep mapping); the md5 corpus SCAN still runs
    at the final action — a scan per action is inherent without
    caching the whole corpus."""
    base = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    hashed = base.select("doc_id", F.md5("text").alias("h"), "text")
    ex = (
        hashed.groupBy("h")
        .agg(F.min("doc_id").alias("rep"), F.first("text").alias("text"))
        .localCheckpoint(eager=True)
    )
    doc_rep = hashed.select("doc_id", "h").join(
        ex.select("h", "rep"), "h"
    ).select("doc_id", "rep")
    reps = ex.select(F.col("rep").alias("doc_id"), "text")
    pairs = minhash_lsh_pairs(
        reps,
        n=n,
        num_hashes=num_hashes,
        band_size=band_size,
        hot_bucket_cap=hot_bucket_cap,
    )
    comp = duplicate_components(pairs, max_iter=max_iter)
    rep_comp = (
        doc_rep.select("rep")
        .distinct()
        .join(comp.withColumnRenamed("doc_id", "rep"), "rep", "left")
        .select(
            "rep", F.coalesce("component", F.col("rep")).alias("component")
        )
    )
    return (
        doc_rep.join(rep_comp, "rep")
        .select("doc_id", "component")
        .withColumn("keep", F.col("doc_id") == F.col("component"))
    )


def simhash64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash over words: (doc_id, simhash).

    Bit b of the fingerprint = sign of Σ_w tf(w) * (bit b of
    hash64(w) ? +1 : -1). hash64(w) = first 16 hex chars of md5(w)
    split into two 32-bit halves — md5 is engine-portable, so a
    DuckDB oracle reproduces the fingerprints bit-exactly (xxhash64
    was Spark-only). Vectorized via explode + bit ops + sum — all
    JVM-side expressions.
    """
    words = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " +")).alias("w"),
    ).filter(F.col("w") != "")
    md5h = F.md5("w")
    wh = words.select(
        "doc_id",
        F.conv(F.substring(md5h, 1, 8), 16, 10).cast("long").alias("hhi"),
        F.conv(F.substring(md5h, 9, 8), 16, 10).cast("long").alias("hlo"),
    )
    per_bit = wh.select(
        "doc_id",
        *[
            (
                (
                    F.shiftright(
                        F.col("hlo" if i < 32 else "hhi"), i % 32
                    ).bitwiseAND(F.lit(1))
                    * 2
                    - 1
                )
            ).alias(f"b{i}")
            for i in range(64)
        ],
    )
    sums = per_bit.groupBy("doc_id").agg(
        *[F.sum(f"b{i}").alias(f"s{i}") for i in range(64)]
    )
    # assemble: Σ (s_i > 0) << i  — use sum of products to avoid 64-way concat
    expr = None
    for i in range(64):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << i).cast("long") if i < 63 else F.when(
            F.col("s63") > 0, F.lit(-(1 << 63)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        expr = term if expr is None else expr + term
    return sums.select("doc_id", expr.alias("simhash"))


def simhash_near_pairs(
    sim: DataFrame,
    bits_per_band: int = 16,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup candidates: equal 16-bit band in the simhash (hamming
    distance <= 3 guaranteed recall by pigeonhole over 4 bands).

    hot_bucket_cap bounds the quadratic self-join: a flood of
    templated/near-empty docs collapses into a handful of band keys
    and materializes m^2/2 pairs (the exact disk-bound failure
    BENCH/scaling_ops.json measured on the minhash path); bands with
    more than cap members are dropped wholesale — collapse exact
    duplicates first so a hot band means genuinely templated text."""
    n_bands = 64 // bits_per_band
    mask = (1 << bits_per_band) - 1
    banded = sim.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bnd).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), bnd * bits_per_band)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for bnd in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    if hot_bucket_cap is not None:
        hot = (
            banded.groupBy("band", "key")
            .count()
            .filter(F.col("count") > hot_bucket_cap)
            .select("band", "key")
        )
        banded = banded.join(hot, ["band", "key"], "left_anti")
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
