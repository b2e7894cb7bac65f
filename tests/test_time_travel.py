"""Snapshot time travel over the incremental index: reader(as_of=k)
reproduces the exact query results the engine returned right after
the k-th apply — scores included — after later applies land."""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from codeindex_spark.corpus import CorpusSpec, generate_documents
from codeindex_spark.index.build import IndexParams
from codeindex_spark.query.planner import SearchEngine
from codeindex_spark.streaming.maintain import IncrementalIndex, _merged_term_dict
from codeindex_spark.tokenizer import tokenize

PARAMS = IndexParams(num_buckets=8, block_size=32)
QUERY = "def"  # common token present across the synthetic corpus


def _results(eng, query):
    return sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search(query, k=50).collect()
    )


@pytest.fixture(scope="module")
def tt(spark, tmp_path_factory):
    v1 = generate_documents(CorpusSpec(n_docs=30))
    root = str(tmp_path_factory.mktemp("ttidx"))
    inc = IncrementalIndex(spark, root, PARAMS, n_groups=1)
    inc.build_base(spark.createDataFrame(v1))
    snap0 = {
        "q": _results(SearchEngine(inc.reader()), QUERY),
        "live": inc.live_docs().count(),
    }

    # apply 1: replace doc 2 (new commit) + add a brand-new doc
    v2 = v1.copy()
    v2.loc[2, "content"] = "replacement snapshotterm content here"
    v2.loc[2, "commit"] = "cnewcommit0tt"
    v2 = pd.concat(
        [
            v2,
            pd.DataFrame(
                [
                    {
                        "repo": "repo997",
                        "path": "src/new/Travel_997.py",
                        "commit": "ctravel000001",
                        "lang": "python",
                        "content": "snapshotterm appears again here",
                    }
                ]
            ),
        ],
        ignore_index=True,
    )
    inc.apply_snapshot(spark.createDataFrame(v2))
    eng1 = SearchEngine(inc.reader())
    snap1 = {
        "q": _results(eng1, QUERY),
        "new": _results(eng1, "snapshotterm"),
        "live": inc.live_docs().count(),
    }

    # apply 2: delete one original path
    v3 = v2.drop(index=5).reset_index(drop=True)
    inc.apply_snapshot(spark.createDataFrame(v3))
    return inc, snap0, snap1


def test_epoch_records(tt):
    inc, _s0, _s1 = tt
    assert inc.n_applies() == 2
    segs = inc.segments()
    assert [s["epoch"] for s in segs] == [0, 1]
    tomb = inc.spark.read.parquet(inc._tomb_dir)
    assert set(r["epoch"] for r in tomb.select("epoch").collect()) == {1, 2}


def test_as_of_zero_is_base(tt, spark):
    inc, snap0, _ = tt
    eng = SearchEngine(inc.reader(as_of=0))
    assert _results(eng, QUERY) == snap0["q"]
    assert inc.live_docs(as_of=0).count() == snap0["live"]
    # the later-added term does not exist at epoch 0
    assert eng.search("snapshotterm", k=10).count() == 0


def test_as_of_one_reproduces_pre_delete_state(tt):
    inc, _snap0, snap1 = tt
    eng = SearchEngine(inc.reader(as_of=1))
    assert _results(eng, QUERY) == snap1["q"]
    assert _results(eng, "snapshotterm") == snap1["new"]
    assert inc.live_docs(as_of=1).count() == snap1["live"]


def test_as_of_latest_equals_default(tt):
    inc, _s0, _s1 = tt
    latest = _results(SearchEngine(inc.reader()), QUERY)
    assert _results(SearchEngine(inc.reader(as_of=2)), QUERY) == latest
    # beyond-latest epochs clamp to everything (prefix filter)
    assert _results(SearchEngine(inc.reader(as_of=99)), QUERY) == latest


def test_as_of_validation(tt):
    inc, _s0, _s1 = tt
    with pytest.raises(ValueError):
        inc.live_docs(as_of=-1)


def test_as_of_lookup_sums_segment_dfs(tt, spark):
    """An ``as_of`` reader's driver-side dictionary lookup sums each
    pinned segment's df: it equals the Spark merge of those
    dictionaries, for terms in one segment or in several, and has no
    entry for an absent term."""
    inc, _s0, _s1 = tt
    rdr = inc.reader(as_of=1)
    merged = (
        _merged_term_dict(spark, rdr._segs)
        .filter(F.col("field") == "content")
        .orderBy(F.desc("df"), "term")
        .limit(20)
        .collect()
    )
    # the most common terms, and every term of the delta segment
    delta = pd.read_parquet(
        os.path.join(rdr._segs[1]["dir"], "term_dict.parquet", "field=content")
    )
    sample = {r["term"] for r in merged} | set(delta["term"])
    want = {
        ("content", r["term"]): r["df"]
        for r in _merged_term_dict(spark, rdr._segs)
        .filter((F.col("field") == "content") & F.col("term").isin(sorted(sample)))
        .collect()
    }
    assert ("content", "snapshotterm") in want
    # some sampled terms are in both segments, so their df are sums
    base = pd.read_parquet(
        os.path.join(rdr._segs[0]["dir"], "term_dict.parquet", "field=content")
    )
    assert set(delta["term"]) & set(base["term"])
    got = rdr.term_dfs({"content": sample | {"zzznotaterm"}})
    assert got == want


def test_live_doc_counts_per_epoch(tt):
    inc, snap0, snap1 = tt
    n0 = inc.live_docs(as_of=0).count()
    n1 = inc.live_docs(as_of=1).count()
    n2 = inc.live_docs(as_of=2).count()
    assert (n0, n1) == (snap0["live"], snap1["live"])
    assert n1 == n0 + 1  # replacement stays 1:1, one brand-new doc
    assert n2 == n1 - 1  # one delete


def test_count_respects_tombstones(tt):
    """engine.count must route a lone Term through the match stream
    (not the dictionary df) when the reader carries tombstones: the
    stacked reader's summed df counts replaced/deleted versions, so
    the short circuit would overcount. Pin count == search row count
    at every epoch."""
    inc, _s0, _s1 = tt
    from codeindex_spark.query.ast import Term

    for epoch in (0, 1, 2):
        eng = SearchEngine(inc.reader(as_of=epoch))
        n = eng.count(Term(QUERY))
        assert n == eng.search(QUERY, k=10_000).count()


STALE_QUERY = "get"


@pytest.fixture
def one_apply(spark, tmp_path):
    """A fresh index after one delete-only apply (epoch 1), plus the
    snapshot it was applied from."""
    v1 = generate_documents(CorpusSpec(n_docs=20))
    inc = IncrementalIndex(spark, str(tmp_path / "stale"), PARAMS, n_groups=1)
    inc.build_base(spark.createDataFrame(v1))
    v2 = v1.drop(index=3).reset_index(drop=True)
    inc.apply_snapshot(spark.createDataFrame(v2))
    return inc, v2


def test_latest_reader_after_apply_raises(one_apply, spark):
    """A latest-view reader is a point-in-time view: reused after an
    apply it fails loudly instead of mixing old dictionary stats with
    new postings."""
    inc, v2 = one_apply
    rdr = inc.reader()
    eng = SearchEngine(rdr)
    assert eng.search(STALE_QUERY, k=5).count() > 0
    inc.apply_snapshot(spark.createDataFrame(v2.drop(index=0)))
    with pytest.raises(ValueError, match=r"epoch 1.*epoch 2.*inc\.reader\(\)"):
        eng.search(STALE_QUERY, k=5)
    with pytest.raises(ValueError, match="reopen"):
        rdr.docs
    assert SearchEngine(inc.reader()).search(STALE_QUERY, k=5).count() > 0


def test_stale_reader_raises_on_dead_set(one_apply, spark):
    """The dead docIDs are held like every frame: read once, and a
    stale reader raises on them as on any other access."""
    inc, v2 = one_apply
    rdr = inc.reader()
    dead = rdr.dead_doc_ids
    assert len(dead) == 1 and rdr.dead_doc_ids is dead
    inc.apply_snapshot(spark.createDataFrame(v2.drop(index=0)))
    with pytest.raises(ValueError, match="reopen"):
        rdr.dead_doc_ids
    assert len(inc.reader().dead_doc_ids) == 2


def test_as_of_reader_survives_later_apply(one_apply, spark):
    inc, v2 = one_apply
    eng = SearchEngine(inc.reader(as_of=1))
    before = _results(eng, STALE_QUERY)
    inc.apply_snapshot(spark.createDataFrame(v2.drop(index=0)))
    assert _results(eng, STALE_QUERY) == before
    assert _results(SearchEngine(inc.reader(as_of=1)), STALE_QUERY) == before


def test_as_of_reader_after_compact_raises(one_apply):
    inc, _v2 = one_apply
    rdr = inc.reader(as_of=1)
    assert _results(SearchEngine(rdr), STALE_QUERY)
    inc.compact()
    with pytest.raises(ValueError, match="generation"):
        SearchEngine(rdr).search(STALE_QUERY, k=5)


def test_logs_without_epoch_stay_visible_at_every_epoch(spark, tmp_path):
    """Tombstones written before epochs existed have no ``epoch``
    column. Opened with the declared schema, it reads as NULL, and such
    rows stay visible at every epoch, as they were when the files were
    read with an inferred schema: live_docs(), reader() and
    reader(as_of=k) serve the same docs, and the hints of epoch k drop
    the words whose every doc there is tombstoned."""
    v1 = generate_documents(CorpusSpec(n_docs=30))
    inc = IncrementalIndex(spark, str(tmp_path / "legacy"), PARAMS, n_groups=1)
    inc.build_base(spark.createDataFrame(v1))
    v2 = v1.copy()
    v2.loc[2, "content"] = "replacement legacyterm content here"
    v2.loc[2, "commit"] = "clegacy000001"
    inc.apply_snapshot(spark.createDataFrame(v2))
    inc.apply_snapshot(spark.createDataFrame(v2.drop(index=5)))

    def keys(docs):
        return {r["doc_key"] for r in docs.select("doc_key").collect()}

    def hints(rdr):
        return {r["word"] for r in rdr.hints.collect()}

    latest_docs, latest_hints = keys(inc.live_docs()), hints(inc.reader())
    # rewrite the tombstones in the pre-epoch layout
    legacy = pd.read_parquet(inc._tomb_dir).drop(columns="epoch")
    shutil.rmtree(inc._tomb_dir)
    os.makedirs(inc._tomb_dir)
    legacy.to_parquet(os.path.join(inc._tomb_dir, "part-00000.parquet"), index=False)
    assert "epoch" not in spark.read.parquet(inc._tomb_dir).columns
    tomb = set(legacy["doc_key"])
    assert len(tomb) == 2

    assert keys(inc.live_docs()) == latest_docs
    assert hints(inc.reader()) == latest_hints
    for k in (0, 1, 2):
        rdr = inc.reader(as_of=k)
        want_docs = keys(inc.all_docs(as_of=k)) - tomb
        assert keys(inc.live_docs(as_of=k)) == want_docs
        assert keys(rdr.docs) == want_docs
        td = (
            rdr.term_dict.filter(F.col("field") == "content_cs")
            .select("term", "df")
            .toPandas()
        )
        # per word, the docs of epoch k that a tombstone hides
        dead = (
            inc.all_docs(as_of=k)
            .filter(F.col("doc_key").isin(sorted(tomb)))
            .select("content")
            .toPandas()
        )
        assert len(dead), k
        removed = Counter(w for c in dead["content"] for w in set(tokenize(c)))
        want_hints = {
            t
            for t, df in zip(td["term"], td["df"])
            if 4 <= len(t) <= 199 and df > removed.get(t, 0)
        }
        assert hints(rdr) == want_hints, k
