"""End-to-end index build: docID determinism, posting correctness vs a
brute-force pandas recomputation, resume semantics."""

from __future__ import annotations

import glob
import json
import os
import shutil

import numpy as np
import pandas as pd
import pytest

from codeindex_spark.corpus import CorpusSpec, generate_documents, spark_documents
from codeindex_spark.index import encoding
from codeindex_spark.index.build import IndexParams
from codeindex_spark.index.docids import assign_doc_ids_pandas
from codeindex_spark.index.segments import IndexBuilder, IndexReader
from codeindex_spark.tokenizer import tokenize, tokenize_lower

SPEC = CorpusSpec(n_docs=120)
PARAMS = IndexParams(num_buckets=16, block_size=32)


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index"))
    docs = spark_documents(spark, SPEC, partitions=4)
    builder = IndexBuilder(spark, d, PARAMS, n_groups=4)
    builder.build(docs, resume=False)
    return d


@pytest.fixture(scope="module")
def reader(spark, index_dir):
    return IndexReader(spark, index_dir)


def oracle_docs() -> pd.DataFrame:
    df = generate_documents(SPEC)
    return assign_doc_ids_pandas(df, PARAMS.num_buckets, PARAMS.block_size)


def test_doc_ids_match_oracle(reader):
    got = (
        reader.docs.select("doc_id", "repo", "path", "commit")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    exp = oracle_docs()[["doc_id", "repo", "path", "commit"]]
    pd.testing.assert_frame_equal(got, exp.reset_index(drop=True))


def test_block_alignment(reader):
    """No posting block spans a bucket boundary: every doc in a block
    belongs to one bucket (offsets are block-padded)."""
    docs = reader.docs.select("doc_id", "bucket").toPandas()
    docs["block"] = docs["doc_id"] // PARAMS.block_size
    per_block = docs.groupby("block")["bucket"].nunique()
    assert (per_block == 1).all()


def test_postings_match_bruteforce(reader):
    """Decode every content-field posting block and compare (term ->
    sorted (doc_id, tf)) against a pure-pandas recomputation."""
    exp_docs = oracle_docs()
    # brute force: term -> {doc_id: (tf, positions)}
    exp: dict[str, dict[int, tuple[int, list[int]]]] = {}
    dls = {}
    for row in exp_docs.itertuples():
        toks = tokenize_lower(row.content)
        dls[row.doc_id] = len(toks)
        seen: dict[str, list[int]] = {}
        for i, t in enumerate(toks):
            seen.setdefault(t, []).append(i)
        for t, pos in seen.items():
            exp.setdefault(t, {})[row.doc_id] = (len(pos), pos)

    got_rows = reader.postings.filter("field = 'content'").toPandas()
    got: dict[str, dict[int, tuple[int, list[int]]]] = {}
    for r in got_rows.itertuples():
        doc_ids = encoding.decode_block_docs(
            bytes(r.docs_delta), r.block_id, PARAMS.block_size
        )
        tfs = encoding.varint_decode(bytes(r.tfs)).astype(int)
        blk_dls = encoding.varint_decode(bytes(r.dls)).astype(int)
        counts, flat = encoding.decode_positions(
            bytes(r.pos_counts), bytes(r.pos_deltas)
        )
        offs = np.concatenate(([0], np.cumsum(counts)[:-1]))
        for i, d in enumerate(doc_ids):
            pos = flat[offs[i] : offs[i] + counts[i]].tolist()
            got.setdefault(r.term, {})[int(d)] = (int(tfs[i]), pos)
            assert blk_dls[i] == dls[int(d)], (r.term, d)

    assert set(got) == set(exp)
    for t in exp:
        assert got[t] == exp[t], f"term {t!r} postings mismatch"


def test_cased_field_present(reader):
    cased = reader.postings.filter(
        "field = 'content_cs' and term = 'ABCD'"
    ).count()
    lower = reader.postings.filter(
        "field = 'content' and term = 'abcd'"
    ).count()
    assert cased > 0 and lower > 0
    # lowercase field has no cased terms
    assert (
        reader.postings.filter("field = 'content' and term = 'ABCD'").count() == 0
    )


def test_stats_and_term_dict(reader):
    n_docs, avgdl = reader.field_stats("content")
    assert n_docs == SPEC.n_docs
    exp_docs = oracle_docs()
    exp_avgdl = np.mean([len(tokenize(c)) for c in exp_docs["content"]])
    assert avgdl == pytest.approx(exp_avgdl)
    # df of a hot term == number of docs containing it
    td = (
        reader.term_dict.filter("field = 'content' and term = 'get'")
        .collect()
    )
    exp_df = sum("get" in tokenize_lower(c) for c in exp_docs["content"])
    assert td[0]["df"] == exp_df


def test_hints(reader):
    hints = {r["word"] for r in reader.hints.collect()}
    assert "LucenePool" in hints or "TempIndexDir" in hints
    assert all(4 <= len(w) <= 199 for w in hints)


def test_resume_skips_committed_and_is_identical(spark, tmp_path):
    d = str(tmp_path / "idx")
    docs = spark_documents(spark, SPEC, partitions=4)
    b1 = IndexBuilder(spark, d, PARAMS, n_groups=4)
    offsets = b1.plan(docs)
    # simulate a crash: only groups 0 and 1 committed
    b1.build_group(docs, offsets, 0)
    b1.build_group(docs, offsets, 1)
    assert b1.committed_groups() == {0, 1}
    manifest_before = json.load(open(b1.paths.group_manifest(0)))

    # restart: resume build completes remaining groups only
    b2 = IndexBuilder(spark, d, PARAMS, n_groups=4)
    recs = b2.build(docs, resume=True)
    assert {r["group"] for r in recs} == {2, 3}
    manifest_after = json.load(open(b2.paths.group_manifest(0)))
    assert manifest_before == manifest_after  # untouched, not rebuilt

    # the resumed index equals a from-scratch build, posting by posting
    d2 = str(tmp_path / "idx2")
    b3 = IndexBuilder(spark, d2, PARAMS, n_groups=4)
    b3.build(docs, resume=False)

    def posting_set(idx_dir):
        r = IndexReader(spark, idx_dir)
        rows = r.postings.toPandas()
        return {
            (x.field, x.term, x.block_id): (
                x.n,
                bytes(x.docs_delta),
                bytes(x.tfs),
                bytes(x.pos_deltas),
            )
            for x in rows.itertuples()
        }

    assert posting_set(d) == posting_set(d2)


def test_step_sizes_do_not_change_the_index(spark, tmp_path, monkeypatch):
    """The plan-sized build (one task per step at this size) and the
    build with every step at its cap (several splits, sampled range
    exchanges over cached blocks) write the same index."""
    from codeindex_spark.index import segments

    docs = spark_documents(spark, SPEC, partitions=4)

    def build(name):
        d = str(tmp_path / name)
        IndexBuilder(spark, d, PARAMS, n_groups=2).build(docs, resume=False)
        r = IndexReader(spark, d)
        posting_cols = [c for c in r.postings.columns if c != "group"]
        return d, tuple(
            sorted(
                tuple(bytes(v) if isinstance(v, bytearray) else v for v in row)
                for row in frame.collect()
            )
            for frame in (
                r.postings.select(*posting_cols),
                r.term_dict,
                r.hints,
            )
        )

    sized_dir, sized = build("sized")
    monkeypatch.setattr(segments, "TOKENS_PER_TASK", 1)
    capped_dir, capped = build("capped")
    assert sized == capped

    def n_files(d):
        return len(glob.glob(os.path.join(d, "postings", "*", "*", "*.parquet")))

    assert n_files(sized_dir) < n_files(capped_dir)


def test_manifest_metrics(index_dir):
    files = sorted(glob.glob(os.path.join(index_dir, "manifest", "group_*.json")))
    assert len(files) == 4
    total = 0
    for f in files:
        rec = json.load(open(f))
        assert rec["status"] == "committed"
        assert rec["files_per_sec"] > 0
        assert "sha_checksum" in rec
        total += rec["n_files"]
    assert total == SPEC.n_docs


def test_jvm_token_count_parity(spark):
    # the planning scan counts tokens with JVM regexp_count; it must be
    # bit-equal to the Python tokenizer counts that produce per-doc dl
    # (otherwise avgdl drifts and BM25 scores diverge from the oracle)
    from pyspark.sql import functions as F

    from codeindex_spark.index.build import _tok_count_cols
    from codeindex_spark.tokenizer import CAMEL_RE, TOKEN_RE

    adversarial = [
        "", None, "　 full-width", "这是一个例句,我知道了", "a_b.c(d);",
        "HTTPServer2Response getValue X", "\t\r\n", "__init__", "a" * 300,
        "emoji \U0001F600\U0001F600 mix", "tab\tsep",
        'quote"back\\slash', "caret^tilde~ $dollar `tick`",
    ]
    from codeindex_spark.index.build import prepare_docs

    docs = prepare_docs(spark_documents(spark, CorpusSpec(n_docs=300, n_repos=8)))
    extra = spark.createDataFrame(
        [(t, f"f{i}.py", f"src/f{i}.py") for i, t in enumerate(adversarial)],
        "content string, file_name string, path string",
    )
    base = docs.select("content", "file_name", "path").unionByName(extra)
    got = _tok_count_cols(base).toPandas()
    assert (
        got["_tc_content"]
        == got["content"].fillna("").str.count(TOKEN_RE)
    ).all()
    assert (
        got["_tc_content_camel"]
        == got["content"].fillna("").str.count(CAMEL_RE)
    ).all()
    assert (
        got["_tc_file_path"]
        == got["path"].fillna("").str.lower().str.count(TOKEN_RE)
    ).all()
    assert (
        got["_tc_file_name"]
        == got["file_name"].fillna("").str.lower().str.count(TOKEN_RE)
    ).all()
    # content_trigram counts via the same lookahead regex on both
    # sides ('.' excludes \n in Python AND Java — newline-bearing
    # content must agree, which length-2 would get wrong)
    from codeindex_spark.index.build import TRIGRAM_RE

    assert (
        got["_tc_content_trigram"]
        == got["content"].fillna("").str.lower().str.count(TRIGRAM_RE)
    ).all()


def test_content_trigram_count_newlines(spark):
    # "ab\ncd\nef": no 3-char run without a newline -> 0 trigrams;
    # "abc\ndefg" -> "abc", "def", "efg" = 3
    from codeindex_spark.index.build import _tok_count_cols

    df = spark.createDataFrame(
        [("ab\ncd\nef", "x", "x"), ("abc\ndefg", "x", "x")],
        "content string, file_name string, path string",
    )
    got = {
        r["content"]: r["_tc_content_trigram"]
        for r in _tok_count_cols(df).collect()
    }
    assert got["ab\ncd\nef"] == 0
    assert got["abc\ndefg"] == 3


def test_hot_term_skew_structurally_bounded(spark, tmp_path):
    """A stopword-grade term (present in EVERY doc) must fan out
    across (term, block_id) posting groups instead of hot-keying one
    reducer: no posting row may cover more than block_size docs, and
    the hot term spans ~n_docs/block_size blocks. This is the
    north_star's 'salt-repartitions skewed hot terms' requirement —
    met structurally by keying the shuffle on (field, term,
    block_id)."""
    from pyspark.sql import functions as F

    n_docs, bsz = 600, 32
    docs = spark.range(n_docs).selectExpr(
        "concat('r', cast(id % 4 as string)) as repo",
        "concat('d', cast(id as string), '.txt') as path",
        "'c0' as commit",
        "'en' as lang",
        "concat('hotword filler', cast(id as string)) as content",
    )
    d = str(tmp_path / "skewidx")
    IndexBuilder(
        spark,
        d,
        IndexParams(num_buckets=8, block_size=bsz, fields=("content",)),
        n_groups=1,
    ).build(docs, resume=False)
    reader = IndexReader(spark, d)
    rows = (
        reader.postings.filter(
            (F.col("field") == "content") & (F.col("term") == "hotword")
        )
        .select("block_id", "n")
        .collect()
    )
    assert rows, "hot term missing from postings"
    # every posting group is bounded by block_size
    assert max(r["n"] for r in rows) <= bsz
    # the hot term fans out over all doc blocks (docID space is
    # block-aligned per bucket, so >= ceil(n_docs/bsz) blocks)
    assert len(rows) >= n_docs // bsz
    # decoded docs per block stay within the block's doc range
    total = sum(r["n"] for r in rows)
    assert total == n_docs


def test_num_buckets_scale_adaptive(spark, tmp_path):
    """IndexParams() defers num_buckets to build time: the builder
    resolves it from cluster parallelism (4x, floor 64, multiple of
    n_groups), an EXISTING index pins it (resume on a differently
    sized cluster must not re-derive — docIDs depend on it), and
    unresolved params refuse to serialize."""
    from codeindex_spark.index.build import default_num_buckets

    par = spark.sparkContext.defaultParallelism
    b = IndexBuilder(spark, str(tmp_path / "i"), IndexParams(), n_groups=4)
    want = max(64, 4 * par)
    want += (-want) % 4
    assert b.params.num_buckets == want == default_num_buckets(spark, 4)
    assert b.params.num_buckets % 4 == 0

    # adoption: a pinned params.json wins over the adaptive default
    d2 = tmp_path / "i2"
    os.makedirs(d2)
    pinned = IndexParams(num_buckets=24, block_size=32).to_dict()
    json.dump(pinned, open(d2 / "params.json", "w"))
    b2 = IndexBuilder(spark, str(d2), IndexParams(), n_groups=4)
    assert b2.params.num_buckets == 24

    with pytest.raises(ValueError, match="unresolved"):
        IndexParams().to_dict()


def test_incremental_num_buckets_adopts_base(spark, tmp_path):
    """IncrementalIndex resolves the adaptive default once, preferring
    the base segment's pinned value so every delta segment inherits a
    consistent bucket count."""
    from codeindex_spark.index.build import default_num_buckets
    from codeindex_spark.streaming.maintain import IncrementalIndex

    root = tmp_path / "inc"
    inc = IncrementalIndex(spark, str(root), n_groups=1)
    assert inc.params.num_buckets == default_num_buckets(spark, 1)

    root2 = tmp_path / "inc2"
    os.makedirs(root2 / "base")
    pinned = IndexParams(num_buckets=8, block_size=32).to_dict()
    json.dump(pinned, open(root2 / "base" / "params.json", "w"))
    inc2 = IncrementalIndex(spark, str(root2), n_groups=1)
    assert inc2.params.num_buckets == 8
