"""Incremental maintenance: event compaction (ST3), reconcile (ST6),
delta-segment upserts + tombstones (ST5), compaction equivalence, and
the Structured Streaming wrapper (ST1/ST2)."""

from __future__ import annotations

import datetime as dt
import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from codeindex_spark.corpus import CorpusSpec, generate_documents
from codeindex_spark.index.build import IndexParams
from codeindex_spark.index.segments import IndexReader
from codeindex_spark.query import ast
from codeindex_spark.query.planner import SearchEngine
from codeindex_spark.streaming.maintain import (
    EVENT_SCHEMA,
    IncrementalIndex,
    compact_events,
    maintain_stream,
    reconcile,
)
from codeindex_spark.tokenizer import tokenize

PARAMS = IndexParams(num_buckets=8, block_size=32)


def _ts(s: int):
    return dt.datetime(2024, 1, 1, 0, 0, s)


def _events(spark, rows):
    return spark.createDataFrame(
        [(p, o, c, _ts(s)) for p, o, c, s in rows], schema=EVENT_SCHEMA
    )


def test_compact_delete_create_becomes_changed(spark):
    ev = _events(spark, [("/a", None, "Deleted", 1), ("/a", None, "Created", 2)])
    out = compact_events(ev).collect()
    assert len(out) == 1
    assert out[0]["change_type"] == "Changed"


def test_compact_rename_back_becomes_changed(spark):
    # FileChangesPreProcessing.RemoveTemplateChanges: Renamed(A->B)
    # then Renamed(B->A) -> exactly ONE Changed event for the ORIGINAL
    # path A; the rename chain crosses path keys, so this pins the
    # cross-path linking (the old per-path collapse could never fire).
    ev = _events(
        spark,
        [("/b", "/a", "Renamed", 1), ("/a", "/b", "Renamed", 2)],
    )
    out = compact_events(ev).collect()
    assert len(out) == 1
    assert out[0]["change_type"] == "Changed"
    assert out[0]["path"] == "/a"
    assert out[0]["old_path"] is None


def test_compact_rename_chain_cross_path(spark):
    # reference links on later.path == earlier.old_path, NOT strict
    # inversion: Renamed(A->B) then Renamed(C->A) also collapses to
    # Changed(A) with the C->A event removed
    ev = _events(
        spark,
        [("/b", "/a", "Renamed", 1), ("/a", "/c", "Renamed", 2)],
    )
    out = compact_events(ev).collect()
    assert len(out) == 1
    assert out[0]["change_type"] == "Changed"
    assert out[0]["path"] == "/a"


def test_compact_duplicates_keep_last(spark):
    dup = _events(
        spark, [("/x", None, "Changed", 5), ("/x", None, "Changed", 6)]
    )
    out = compact_events(dup).collect()
    assert len(out) == 1 and out[0]["ts"].second == 6
    # duplicate renames (same path AND old_path) dedup too
    ev = _events(
        spark,
        [("/a", "/b", "Renamed", 3), ("/a", "/b", "Renamed", 4)],
    )
    assert compact_events(ev).count() == 1


def _reference_preprocess(rows: list[dict]) -> list[dict]:
    """Direct simulation of FileChangesPreProcessing.PreProcessingChanges
    (three passes over the ordered in-memory queue) — the oracle the
    distributed compact_events must reproduce."""
    evs = [dict(r) for r in rows]
    # pass 1: RemoveTemplateChanges
    marked: set[int] = set()
    for i, ch in enumerate(evs):
        if ch["change_type"] != "Renamed":
            continue
        for j in range(i + 1, len(evs)):
            u = evs[j]
            if u["change_type"] == "Renamed" and u["path"] == ch["old_path"]:
                marked.add(j)
                ch["change_type"] = "Changed"
                ch["path"] = ch["old_path"]
                ch["old_path"] = None
                break
    evs = [e for i, e in enumerate(evs) if i not in marked]
    # pass 2: RemoveTemplateDeletedChanges
    marked = set()
    for i, ch in enumerate(evs):
        if ch["change_type"] != "Deleted":
            continue
        for j in range(i + 1, len(evs)):
            u = evs[j]
            if u["change_type"] == "Created" and u["path"] == ch["path"]:
                marked.add(i)
                u["change_type"] = "Changed"
                break
    evs = [e for i, e in enumerate(evs) if i not in marked]
    # pass 3: RemoveDuplicatedChanges (keep last)
    marked = set()
    for i, ch in enumerate(evs):
        for j in range(i + 1, len(evs)):
            u = evs[j]
            if (
                u["change_type"] == ch["change_type"]
                and u["path"] == ch["path"]
                and u["old_path"] == ch["old_path"]
            ):
                marked.add(i)
                break
    return [e for i, e in enumerate(evs) if i not in marked]


def test_compact_events_matches_reference_simulation(spark):
    """Randomized sequences: the distributed compaction equals the
    reference's sequential three-pass queue algorithm (as multisets —
    output order across paths is unspecified)."""
    import random

    rnd = random.Random(1234)
    paths = ["/a", "/b", "/c", "/d"]
    for trial in range(12):
        rows = []
        for s in range(rnd.randint(1, 14)):
            ct = rnd.choice(["Created", "Changed", "Deleted", "Renamed"])
            p = rnd.choice(paths)
            if ct == "Renamed":
                op = rnd.choice([x for x in paths if x != p])
            else:
                op = None
            rows.append(
                {"path": p, "old_path": op, "change_type": ct, "ts": s}
            )
        exp = {
            (e["path"], e["old_path"], e["change_type"], e["ts"])
            for e in _reference_preprocess(rows)
        }
        ev = _events(
            spark,
            [(r["path"], r["old_path"], r["change_type"], r["ts"]) for r in rows],
        )
        got = {
            (r["path"], r["old_path"], r["change_type"], r["ts"].second)
            for r in compact_events(ev).collect()
        }
        assert got == exp, f"trial {trial}: {rows}\n got={got}\n exp={exp}"


def test_compact_delete_create_with_intervening_event(spark):
    # reference pass 2 scans FORWARD, not just adjacent: Deleted(1),
    # Changed(2), Created(3) -> Deleted dropped, Created -> Changed,
    # then duplicate-Changed keeps the last -> single Changed @3
    ev = _events(
        spark,
        [
            ("/a", None, "Deleted", 1),
            ("/a", None, "Changed", 2),
            ("/a", None, "Created", 3),
        ],
    )
    out = compact_events(ev).collect()
    assert len(out) == 1
    assert out[0]["change_type"] == "Changed"
    assert out[0]["ts"].second == 3


def test_reconcile_classification(spark):
    v1 = generate_documents(CorpusSpec(n_docs=20))
    v2 = v1.copy()
    # update doc 3 (new content + commit), delete doc 5, add one
    v2.loc[3, "content"] = "brand new content"
    v2.loc[3, "commit"] = "cnewcommit001"
    v2 = v2.drop(index=5)
    v2 = pd.concat(
        [
            v2,
            pd.DataFrame(
                [
                    {
                        "repo": "repo999",
                        "path": "src/new/Added_999.py",
                        "commit": "cadded0000001",
                        "lang": "python",
                        "content": "fresh addition",
                    }
                ]
            ),
        ],
        ignore_index=True,
    )
    from codeindex_spark.index.build import prepare_docs

    indexed = prepare_docs(spark.createDataFrame(v1)).select(
        "repo", "path", "doc_key", "content_sha256"
    )
    rec = reconcile(indexed, spark.createDataFrame(v2))
    counts = {r["action"]: r["count"] for r in rec.groupBy("action").count().collect()}
    assert counts == {"unchanged": 18, "update": 1, "delete": 1, "add": 1}


@pytest.fixture(scope="module")
def versions():
    v1 = generate_documents(CorpusSpec(n_docs=40))
    v2 = v1.copy()
    v2.loc[2, "content"] = "replacement uniquenewterm content here"
    v2.loc[2, "commit"] = "cnewcommit002"
    deleted_path = v2.loc[7, "path"]
    v2 = v2.drop(index=7).reset_index(drop=True)
    v2 = pd.concat(
        [
            v2,
            pd.DataFrame(
                [
                    {
                        "repo": "repo998",
                        "path": "src/new/Fresh_998.py",
                        "commit": "cfresh0000001",
                        "lang": "python",
                        "content": "addeddocterm appears exactly here",
                    }
                ]
            ),
        ],
        ignore_index=True,
    )
    return v1, v2, deleted_path


@pytest.fixture(scope="module")
def inc_index(spark, tmp_path_factory, versions):
    v1, v2, _ = versions
    root = str(tmp_path_factory.mktemp("incidx"))
    inc = IncrementalIndex(spark, root, PARAMS, n_groups=1)
    inc.build_base(spark.createDataFrame(v1))
    counts = inc.apply_snapshot(spark.createDataFrame(v2))
    assert counts.get("add") == 1
    assert counts.get("update") == 1
    assert counts.get("delete") == 1
    return inc


def test_update_without_new_commit_raises(spark, tmp_path):
    """An update keeps its doc_key when its commit is unchanged, so
    the tombstone would also hide the new version: refused."""
    v1 = generate_documents(CorpusSpec(n_docs=5))
    inc = IncrementalIndex(spark, str(tmp_path / "stale_commit"), PARAMS)
    inc.build_base(spark.createDataFrame(v1))
    v2 = v1.copy()
    v2.loc[1, "content"] = "changed content, same commit"
    with pytest.raises(ValueError, match="updates must carry a new commit"):
        inc.apply_snapshot(spark.createDataFrame(v2))
    assert inc.n_applies() == 0
    # refused before any write: no tombstone, no delta segment
    assert not os.path.exists(inc._tomb_dir)
    assert not os.path.exists(os.path.join(inc.root, "deltas"))


def test_incremental_search_semantics(spark, inc_index, versions):
    _, _, deleted_path = versions
    eng = SearchEngine(inc_index.reader())
    # new content findable
    hits = eng.search("uniquenewterm", k=10).count()
    assert hits == 1
    assert eng.search("addeddocterm", k=10).count() == 1
    # deleted doc is gone from live docs
    assert inc_index.live_docs().filter(F.col("path") == deleted_path).count() == 0
    # replaced doc's OLD content must not match anymore: the old row is
    # tombstoned, so no live doc matches its previous sha
    old_key_hits = (
        eng.search("uniquenewterm", k=10, with_docs=True).collect()
    )
    assert len(old_key_hits) == 1


def test_incremental_segments_and_tombstones(inc_index):
    segs = inc_index.segments()
    assert len(segs) == 2
    assert segs[1]["name"].startswith("d")
    # delta docID space stacks above base
    assert segs[1]["end_doc"] > segs[0]["end_doc"]
    tomb = inc_index.spark.read.parquet(inc_index._tomb_dir)
    assert tomb.count() == 2  # update + delete


def test_compact_equals_fresh_build(spark, inc_index, versions, tmp_path):
    _, v2, _ = versions
    inc_index.compact()
    assert len(inc_index.segments()) == 1
    fresh_dir = str(tmp_path / "fresh")
    from codeindex_spark.index.segments import IndexBuilder

    IndexBuilder(spark, fresh_dir, PARAMS, n_groups=1).build(
        spark.createDataFrame(v2), resume=False
    )

    def posting_map(postings_df):
        rows = postings_df.toPandas()
        return {
            (r.field, r.term, r.block_id): (
                r.n,
                bytes(r.docs_delta),
                bytes(r.tfs),
                bytes(r.pos_deltas),
            )
            for r in rows.itertuples()
        }

    got = posting_map(inc_index.reader().postings)
    exp = posting_map(IndexReader(spark, fresh_dir).postings)
    assert got == exp
    # searches equal too
    eng_inc = SearchEngine(inc_index.reader())
    eng_fresh = SearchEngine(IndexReader(spark, fresh_dir))
    a = [(r["doc_id"], r["score"]) for r in eng_inc.search("get", k=20).collect()]
    b = [(r["doc_id"], r["score"]) for r in eng_fresh.search("get", k=20).collect()]
    assert a == b


def test_wand_admissible_on_stacked_segments(spark, tmp_path):
    """Stacked segments encode block-max bounds under their OWN avgdl,
    while queries score with the MERGED avgdl; appending much longer
    docs raises the merged avgdl, so base-segment bounds must be
    scaled up (max(1, merged/segment)) or WAND prunes true top-k
    blocks. Pinned by wand == exact on such an index."""
    cols = ["repo", "path", "commit", "lang", "content"]
    # base: short docs containing the query term
    v1 = pd.DataFrame(
        [
            ("r", f"s{i}.py", "c0000000000001", "python",
             "needle " + " ".join(f"w{i}x{j}" for j in range(3)))
            for i in range(30)
        ],
        columns=cols,
    )
    inc = IncrementalIndex(spark, str(tmp_path / "wandidx"), PARAMS)
    inc.build_base(spark.createDataFrame(v1))
    # delta: many much longer docs (some with the term) -> merged
    # avgdl far above the base segment's
    v2 = pd.concat(
        [
            v1,
            pd.DataFrame(
                [
                    ("r", f"l{i}.py", "c0000000000001", "python",
                     ("needle " if i % 4 == 0 else "")
                     + " ".join(f"pad{i}y{j}" for j in range(120)))
                    for i in range(40)
                ],
                columns=cols,
            ),
        ],
        ignore_index=True,
    )
    inc.apply_snapshot(spark.createDataFrame(v2))
    eng = SearchEngine(inc.reader())
    for k in (2, 5, 10):
        wand = [
            (r["doc_id"], r["score"])
            for r in eng.search_wand("needle", k=k)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        ]
        exact = [
            (r["doc_id"], r["score"])
            for r in eng.search("needle", k=k).collect()
        ]
        assert wand == exact, k


@pytest.fixture(scope="module")
def two_applies(spark, tmp_path_factory, versions):
    """Apply 1 replaces doc 2, apply 2 deletes doc 7: ``as_of=1`` sees
    the replaced version dead and doc 7 live, the latest reader sees
    both dead."""
    v1 = versions[0]
    inc = IncrementalIndex(
        spark, str(tmp_path_factory.mktemp("liveidx")), PARAMS, n_groups=1
    )
    inc.build_base(spark.createDataFrame(v1))
    v2 = v1.copy()
    v2.loc[2, "content"] = "replacement livecheckterm content here"
    v2.loc[2, "commit"] = "clivecheck002"
    inc.apply_snapshot(spark.createDataFrame(v2))
    inc.apply_snapshot(spark.createDataFrame(v2.drop(index=7)))
    return inc, v1


class _Unmasked:
    """A reader with its dead docIDs hidden: every posting scores."""

    dead_doc_ids = None

    def __init__(self, inner):
        self._inner = inner

    def __getattr__(self, name):
        return getattr(self._inner, name)


@pytest.mark.parametrize("as_of", [None, 1])
def test_dead_docs_never_return(two_applies, as_of):
    """Replaced and deleted docs drop in the block kernel, on every
    scored surface (search, score_many, count, search_wand,
    facet_counts) and for a latest and an ``as_of`` reader: each
    returns the unmasked scoring of the same reader restricted to its
    live docs."""
    inc, v1 = two_applies
    rdr = inc.reader(as_of=as_of)
    eng, unmasked = SearchEngine(rdr), SearchEngine(_Unmasked(rdr))
    live = {r["doc_id"] for r in rdr.docs.select("doc_id").collect()}
    every = {r["doc_id"] for r in rdr.all_docs.select("doc_id").collect()}
    dead = set(rdr.dead_doc_ids.tolist())
    assert dead == every - live and len(dead) == (1 if as_of == 1 else 2)
    terms = sorted(
        set(tokenize(v1.loc[2, "content"].lower()))
        | set(tokenize(v1.loc[7, "content"].lower()))
    )[:12]
    q = ast.Or(tuple(ast.Term(t, "content") for t in terms))
    one = ast.Term(terms[0], "content")

    def ranked(frame):
        return [(r["doc_id"], r["score"]) for r in frame.collect()]

    want = [r for r in ranked(unmasked.search(q, k=1000)) if r[0] in live]
    assert dead & {d for d, _ in ranked(unmasked.search(q, k=1000))}
    assert ranked(eng.search(q, k=1000)) == want
    assert ranked(eng.search_wand(q, k=5)) == want[:5]
    assert eng.count(q) == len(want)
    n_one = sum(1 for d, _ in ranked(unmasked.score(one)) if d in live)
    assert eng.count(one) == n_one
    many = eng.score_many({"a": q, "b": one}).collect()
    assert {r["doc_id"] for r in many if r["query"] == "a"} == {d for d, _ in want}
    assert not dead & {r["doc_id"] for r in many}
    facets = eng.facet_counts(q, by=("repo",)).collect()
    assert sum(r["n_docs"] for r in facets) == len(want)


def test_hint_word_removed_with_last_doc(spark, tmp_path):
    """Reference deletes a hint word when the last doc containing it
    goes away (CodeIndexBuilder.cs:369-375,446-452) — WITHOUT waiting
    for a compact()."""
    cols = ["repo", "path", "commit", "lang", "content"]
    v1 = pd.DataFrame(
        [
            ("r", "a.py", "c0000000000001", "python", "wombatish shared content"),
            ("r", "b.py", "c0000000000001", "python", "shared content here"),
        ],
        columns=cols,
    )
    inc = IncrementalIndex(spark, str(tmp_path / "hintidx"), PARAMS)
    inc.build_base(spark.createDataFrame(v1))
    words0 = {r["word"] for r in inc.reader().hints.collect()}
    assert {"wombatish", "shared", "content"} <= words0
    inc.apply_snapshot(spark.createDataFrame(v1[v1.path != "a.py"]))
    assert len(inc.segments()) == 1  # delete only — no new segment
    words1 = {r["word"] for r in inc.reader().hints.collect()}
    assert "wombatish" not in words1  # last doc gone -> hint gone
    assert "shared" in words1  # still one live doc
    eng = SearchEngine(inc.reader())
    assert eng.hints("womb").count() == 0
    # an update that re-adds the word brings the hint back
    v3 = pd.DataFrame(
        [("r", "b.py", "c0000000000002", "python", "shared wombatish back")],
        columns=cols,
    )
    inc.apply_snapshot(spark.createDataFrame(v3))
    words2 = {r["word"] for r in inc.reader().hints.collect()}
    assert "wombatish" in words2
    assert "content" not in words2  # no live doc has it anymore


def _assert_scores_equal(eng_m, eng_f, queries):
    """Every query matches the same paths with the same scores."""
    for q in queries:
        got = {
            r["path"]: r["score"]
            for r in eng_m.search(q, k=200, with_docs=True).collect()
        }
        exp = {
            r["path"]: r["score"]
            for r in eng_f.search(q, k=200, with_docs=True).collect()
        }
        assert got.keys() == exp.keys(), q
        for p in exp:
            assert got[p] == pytest.approx(exp[p], rel=1e-12), (q, p)


def _fresh_engine(spark, index_dir, pdf):
    from codeindex_spark.index.segments import IndexBuilder

    IndexBuilder(spark, index_dir, PARAMS, n_groups=1).build(
        spark.createDataFrame(pdf), resume=False
    )
    return SearchEngine(IndexReader(spark, index_dir))


def test_merge_compact_equals_fresh_scores(spark, tmp_path, versions):
    """Postings-level compaction (decode-filter-reencode, NO
    re-tokenization) produces exactly the scores of a fresh build per
    document: live doc_ids keep their holes, but BM25 stats, df/cf,
    and block-max metadata are recomputed from live docs only. The
    merged segment is a finalized index that passes CheckIndex."""
    from codeindex_spark.index.check import check_index

    v1, v2, deleted_path = versions
    root = str(tmp_path / "mc")
    inc = IncrementalIndex(spark, root, PARAMS, n_groups=1)
    inc.build_base(spark.createDataFrame(v1))
    inc.apply_snapshot(spark.createDataFrame(v2))
    inc.merge_compact()
    assert len(inc.segments()) == 1
    assert not os.path.exists(inc._tomb_dir)
    merged = IndexReader(spark, inc.segments()[0]["dir"])
    assert os.path.exists(merged.paths.finalized_marker)
    checks = check_index(merged).collect()
    assert checks and all(r["n_violations"] == 0 for r in checks), checks

    eng_m = SearchEngine(inc.reader())
    eng_f = _fresh_engine(spark, str(tmp_path / "mc_fresh"), v2)
    _assert_scores_equal(
        eng_m, eng_f, ("get", "string OR return NOT get", "uniquenewterm")
    )
    # deleted doc is gone; hints match the fresh build's
    assert eng_m.search("get", k=500, with_docs=True).filter(
        F.col("path") == deleted_path
    ).count() == 0
    hints_m = {r["word"] for r in inc.reader().hints.collect()}
    hints_f = {r["word"] for r in eng_f.reader.hints.collect()}
    assert hints_m == hints_f
    # WAND still admissible on the merged index (recomputed block-max)
    wq = "string OR return"
    wand = [
        (r["doc_id"], r["score"])
        for r in eng_m.search_wand(wq, k=20)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .collect()
    ]
    exact = [
        (r["doc_id"], r["score"]) for r in eng_m.search(wq, k=20).collect()
    ]
    assert wand == exact


def test_merge_compact_twice_keeps_only_live_segment(spark, tmp_path, versions):
    """A second merge_compact reads the first one's output: it must
    write a new segment dir rather than overwrite its own source, and
    leave only the live segment on disk. compact() afterwards removes
    the merged base too."""
    v1, v2, _ = versions
    v3 = v2.drop(index=3).reset_index(drop=True)
    v3.loc[5, "content"] = "second round secondroundterm content"
    v3.loc[5, "commit"] = "csecondround05"
    root = str(tmp_path / "mc2")
    inc = IncrementalIndex(spark, root, PARAMS, n_groups=1)
    inc.build_base(spark.createDataFrame(v1))
    inc.apply_snapshot(spark.createDataFrame(v2))
    inc.merge_compact()
    inc.apply_snapshot(spark.createDataFrame(v3))
    inc.merge_compact()
    segs = inc.segments()
    assert len(segs) == 1
    seg_name = os.path.basename(segs[0]["dir"])
    assert sorted(os.listdir(root)) == ["_segments.json", seg_name, "merged"]
    _assert_scores_equal(
        SearchEngine(inc.reader()),
        _fresh_engine(spark, str(tmp_path / "mc2_fresh"), v3),
        ("get", "string OR return NOT get", "uniquenewterm", "secondroundterm"),
    )
    inc.compact()
    seg_name = os.path.basename(inc.segments()[0]["dir"])
    assert sorted(os.listdir(root)) == ["_segments.json", seg_name, "merged"]


def test_reopen_after_merge_compact_keeps_pinned_params(
    spark, tmp_path, versions
):
    """merge_compact replaces root/base, so a reopen takes the pinned
    bucket count and codec from the first listed segment: the next
    apply then builds a delta the stacked reader decodes like the
    merged base."""
    v1, v2, _ = versions
    root = str(tmp_path / "mcpin")
    pinned = IndexParams(num_buckets=12, block_size=32, codec="forpack")
    inc = IncrementalIndex(spark, root, pinned, n_groups=1)
    inc.build_base(spark.createDataFrame(v1))
    inc.merge_compact()
    reopened = IncrementalIndex(
        spark, root, IndexParams(block_size=32), n_groups=1
    )
    assert reopened.params.num_buckets == 12
    assert reopened.params.codec == "forpack"
    reopened.apply_snapshot(spark.createDataFrame(v2))
    hits = SearchEngine(reopened.reader()).search("uniquenewterm", k=10).collect()
    assert len(hits) == 1 and hits[0]["score"] > 0


def test_declared_schemas_match_written_tables(spark, tmp_path, versions):
    """The engine opens its tables with declared schemas
    (``TABLE_SCHEMAS``), under which a renamed or missing column reads
    as NULL: every table a build, an apply, merge_indexes,
    merge_compact and compact write must infer to exactly that
    schema."""
    from codeindex_spark.index.merge import merge_indexes
    from codeindex_spark.index.segments import TABLE_SCHEMAS, IndexPaths

    v1, v2, _ = versions
    v3 = v2.drop(index=0).reset_index(drop=True)
    v3.loc[4, "content"] = "second apply content"
    v3.loc[4, "commit"] = "cschemadrift3"
    inc = IncrementalIndex(spark, str(tmp_path / "drift"), PARAMS, n_groups=1)
    inc.build_base(spark.createDataFrame(v1))
    inc.apply_snapshot(spark.createDataFrame(v2))
    inc.apply_snapshot(spark.createDataFrame(v3))

    def check(table, path):
        got = spark.read.parquet(path).schema
        assert got == TABLE_SCHEMAS[table], (path, got.simpleString())

    def check_index(index_dir):
        paths = IndexPaths(index_dir)
        for table in ("docs", "postings", "term_dict"):
            check(table, getattr(paths, table))

    segs = inc.segments()
    assert len(segs) == 3
    for seg in segs:
        check_index(seg["dir"])
    check("tombstones", inc._tomb_dir)
    check("term_dict", os.path.join(inc.root, "merged", "term_dict.parquet"))
    merged_dir = str(tmp_path / "drift_merged")
    merge_indexes(spark, [seg["dir"] for seg in segs], merged_dir)
    check_index(merged_dir)
    inc.merge_compact()
    check_index(inc.segments()[0]["dir"])
    inc.compact()
    check_index(inc.segments()[0]["dir"])
    check("term_dict", os.path.join(inc.root, "merged", "term_dict.parquet"))


def _index_state(inc):
    """What a latest reader serves, plus the tombstone log: live docs,
    top-k, hints, log rows."""
    rdr = inc.reader()
    eng = SearchEngine(rdr)
    return {
        "live": sorted(
            tuple(r) for r in rdr.docs.select("doc_id", "path", "commit").collect()
        ),
        "topk": [
            (r["doc_id"], round(r["score"], 9))
            for r in eng.search("get OR uniquenewterm", k=20).collect()
        ],
        "hints": sorted(r["word"] for r in rdr.hints.collect()),
        "tombstones": _log_rows(inc, inc._tomb_dir, "doc_key", "epoch"),
    }


def _hint_words(contents) -> set[str]:
    """The hint words (cased tokens of length 4..199) of ``contents``."""
    return {
        w for c in contents for w in tokenize(c) if 4 <= len(w) <= 199
    }


def _log_rows(inc, path, *cols):
    rows = inc.spark.read.parquet(path).select(*cols).collect()
    return sorted(tuple(r) for r in rows)


def test_apply_crash_before_commit_then_retry(
    spark, tmp_path, versions, monkeypatch
):
    """A crash between the tombstone append and the _segments.json
    write (here: the delta build raises) leaves the tombstones visible
    to a latest reader, without the new versions: its hints are the
    live docs' words. The pre-apply epoch still reads the old state.
    A retried apply_snapshot then ends exactly where an uncrashed
    apply does, hints included (removed docs counted once)."""
    from codeindex_spark.index.segments import IndexBuilder

    v1, v2, deleted_path = versions
    updated_path = v1.loc[2, "path"]

    def base(name):
        inc = IncrementalIndex(spark, str(tmp_path / name), PARAMS, n_groups=1)
        inc.build_base(spark.createDataFrame(v1))
        return inc

    ref = base("uncrashed")
    ref.apply_snapshot(spark.createDataFrame(v2))
    inc = base("crashed")

    def crash(self, docs_raw, resume=True):
        raise RuntimeError("injected crash in the delta build")

    with monkeypatch.context() as m:
        m.setattr(IndexBuilder, "build", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            inc.apply_snapshot(spark.createDataFrame(v2))

    # the crash window: nothing committed, the tombstones appended
    assert inc.n_applies() == 0 and len(inc.segments()) == 1
    assert os.path.exists(inc._tomb_dir)
    gone = {updated_path, deleted_path}
    live = {r["path"] for r in inc.reader().docs.select("path").collect()}
    assert live == set(v1["path"]) - gone
    assert {r["word"] for r in inc.reader().hints.collect()} == _hint_words(
        v1[~v1["path"].isin(gone)]["content"]
    )
    eng = SearchEngine(inc.reader())
    assert eng.search("uniquenewterm", k=10).count() == 0
    assert eng.search("addeddocterm", k=10).count() == 0
    assert inc.live_docs(as_of=0).count() == len(v1)

    counts = inc.apply_snapshot(spark.createDataFrame(v2))
    # the old version of the update is already tombstoned, so the new
    # one reconciles as an add; the delete was already applied
    assert counts.get("add") == 2
    assert "update" not in counts and "delete" not in counts
    assert inc.n_applies() == 1
    assert _index_state(inc) == _index_state(ref)


def test_apply_changes_tombstones_each_key_once(spark, tmp_path, versions):
    """apply_changes deduplicates its keys and skips already
    tombstoned ones: the log records no key twice, and a doc's words
    count it as removed once."""
    v1, v2, _ = versions
    inc = IncrementalIndex(spark, str(tmp_path / "idem"), PARAMS, n_groups=1)
    inc.build_base(spark.createDataFrame(v1))
    inc.apply_snapshot(spark.createDataFrame(v2))
    before = _index_state(inc)
    dead = spark.createDataFrame(
        [(k,) for k, _epoch in before["tombstones"]] * 2, ["doc_key"]
    )
    no_docs = spark.createDataFrame(v1).limit(0)
    inc.apply_changes(no_docs, dead)
    assert inc.n_applies() == 2
    assert _index_state(inc) == before

    # one live key, given twice next to the tombstoned ones: recorded once
    live_key = inc.live_docs().filter(F.col("path") == v1.loc[0, "path"])
    live_key = live_key.select("doc_key").collect()[0]["doc_key"]
    twice = spark.createDataFrame([(live_key,)] * 2, ["doc_key"])
    removed_before = _removed_counts(inc)
    inc.apply_changes(no_docs, dead.unionByName(twice))
    after = _index_state(inc)
    assert after["tombstones"] == sorted(before["tombstones"] + [(live_key, 3)])
    removed_after = _removed_counts(inc)
    grown = {
        w: n - removed_before[w]
        for w, n in removed_after.items()
        if n != removed_before[w]
    }
    # the one doc, counted once: exactly its words, each by 1
    assert grown and set(grown.values()) == {1}
    assert set(grown) == {
        w for w in tokenize(v1.loc[0, "content"]) if w in removed_after
    }


def _removed_counts(inc) -> dict:
    """word -> tombstoned docs holding it, as a latest reader counts."""
    rows = inc.reader().inc_term_counts().collect()
    return {r["word"]: r["removed"] for r in rows}


def test_maintain_stream(spark, tmp_path):
    v1 = generate_documents(CorpusSpec(n_docs=20))
    root = str(tmp_path / "stream_idx")
    inc = IncrementalIndex(spark, root, PARAMS, n_groups=1)
    inc.build_base(spark.createDataFrame(v1))

    upserts_dir = str(tmp_path / "upserts")
    os.makedirs(upserts_dir)
    events = [
        {
            "repo": "repo001",
            "path": "src/live/Streamed_1.py",
            "commit": "cstream000001",
            "lang": "python",
            "content": "streamedterm lives here",
            "change_type": "Created",
        },
        {
            "repo": v1.loc[4, "repo"],
            "path": v1.loc[4, "path"],
            "commit": None,
            "lang": None,
            "content": None,
            "change_type": "Deleted",
        },
    ]
    with open(os.path.join(upserts_dir, "batch1.json"), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")

    maintain_stream(
        spark, upserts_dir, inc, str(tmp_path / "ckpt"), once=True
    )
    eng = SearchEngine(inc.reader())
    assert eng.search("streamedterm", k=5).count() == 1
    assert (
        inc.live_docs().filter(F.col("path") == v1.loc[4, "path"]).count() == 0
    )


def test_debounced_latest_events(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState +
    EventTimeTimeout): a path emits its LATEST event only after
    gap_seconds of event-time silence — the reference watcher's
    quiet-period timer (IndexMaintainer.cs:84-134). Three
    micro-batches: burst on /a, watermark advance, timeout fire."""
    from codeindex_spark.streaming.debounce import stream_debounced_events

    events_dir = tmp_path / "ev"
    events_dir.mkdir()
    files = [
        [  # burst on /a within the 5s gap — no emission yet
            {"path": "/a", "old_path": None, "change_type": "Created",
             "ts": "2024-01-01T00:00:00.000Z"},
            {"path": "/a", "old_path": None, "change_type": "Changed",
             "ts": "2024-01-01T00:00:02.000Z"},
        ],
        [  # far-future event advances the watermark past /a's deadline
            {"path": "/z", "old_path": None, "change_type": "Changed",
             "ts": "2024-01-01T00:00:30.000Z"},
        ],
        [  # next batch processes the expired timer
            {"path": "/z2", "old_path": None, "change_type": "Created",
             "ts": "2024-01-01T00:00:31.000Z"},
        ],
    ]
    import time as _time

    for i, rows in enumerate(files):
        with open(events_dir / f"b{i}.json", "w") as f:
            for e in rows:
                f.write(json.dumps(e) + "\n")
        _time.sleep(1.1)  # distinct mtimes order the micro-batches

    got = stream_debounced_events(
        spark, str(events_dir), str(tmp_path / "ckpt_db"), gap_seconds=5.0
    ).collect()
    rows = {(r["path"], r["change_type"], r["ts"].second) for r in got}
    # /a emitted exactly once, with the LATEST of its burst
    assert ("/a", "Changed", 2) in rows
    assert len([r for r in got if r["path"] == "/a"]) == 1
    assert ("/a", "Created", 0) not in rows
    # /z and /z2 never went quiet past the watermark -> still pending
    assert not any(r["path"] in ("/z", "/z2") for r in got)


def test_watermarked_windowed_counts(spark, tmp_path):
    """ST2/A4: watermark + tumbling windows over a file-source stream.
    Finalized windows equal the batch group-by; an event arriving
    after its window's state was evicted (watermark passed) is
    dropped. NOTE: Spark evicts window state at batch END, so the
    drop engages for rows arriving >= 2 batches after the watermark
    passed the window — hence three micro-batches here."""
    import time as _time

    from codeindex_spark.streaming.windows import (
        EVENT_ROW_SCHEMA,
        windowed_event_counts,
    )

    events_dir = tmp_path / "events"
    events_dir.mkdir()

    def ev(eid, hour, minute, etype, value):
        return {
            "event_id": eid,
            "ts": f"2024-01-01T{hour:02d}:{minute:02d}:00.000Z",
            "user_id": eid % 3,
            "event_type": etype,
            "value": value,
        }

    files = [
        [  # establishes windows 0..3 and watermark 02:45 after commit
            ev(1, 0, 5, "click", 1.0),
            ev(2, 0, 20, "click", 2.0),
            ev(3, 1, 10, "view", 3.0),
            ev(4, 2, 30, "click", 4.0),
            ev(5, 3, 45, "view", 5.0),
        ],
        [ev(7, 5, 0, "view", 6.0)],  # advances watermark; hour-0 evicted
        [ev(6, 0, 40, "click", 100.0)],  # very late -> dropped
    ]
    for i, rows in enumerate(files):
        with open(events_dir / f"batch{i}.json", "w") as f:
            for e in rows:
                f.write(json.dumps(e) + "\n")
        _time.sleep(1.1)  # distinct mtimes order the micro-batches

    stream = (
        spark.readStream.schema(EVENT_ROW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(events_dir))
    )
    out = windowed_event_counts(stream, window="1 hour", watermark="1 hour")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        s.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for s in p.get("stateOperators", [])
    )
    assert dropped == 1  # the late hour-0 event
    got = {
        (r["window_start"].hour, r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.table("win_test").collect()
    }
    assert got[(0, "click")] == (2, 3.0)  # late row excluded
    assert got[(1, "view")] == (1, 3.0)
    assert got[(2, "click")] == (1, 4.0)

    # batch mode (watermark no-op) equals plain SQL group-by on ALL rows
    batch_df = spark.createDataFrame(
        [e for rows in files for e in rows]
    ).withColumn("ts", F.to_timestamp("ts"))
    full = {
        (r["window_start"].hour, r["event_type"]): (r["n"], r["sum_value"])
        for r in windowed_event_counts(batch_df).collect()
    }
    assert full[(0, "click")] == (3, 103.0)  # batch keeps the late row


def test_streaming_exact_dedup(spark, tmp_path):
    """First-seen-wins across micro-batches: one file per trigger, so
    batch 2/3 duplicates are dropped by STATE, not by batch-local
    grouping; within-batch ties resolve to the min doc_id."""
    import json as _json

    from codeindex_spark.streaming.dedup import stream_deduped_docs

    docs_dir = tmp_path / "docstream"
    docs_dir.mkdir()
    batches = [
        [(1, "alpha"), (2, "beta")],
        [(3, "alpha"), (8, "gamma"), (4, "gamma")],  # within-batch dup
        [(5, "beta"), (6, "alpha"), (7, "delta")],
    ]
    import os as _os
    import time as _time

    base = _time.time() - 100
    for i, batch in enumerate(batches):
        p = docs_dir / f"b{i}.json"
        with open(p, "w") as f:
            for doc_id, text in batch:
                f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        # FileStreamSource orders by modification time; same-second
        # mtimes make trigger order (and thus first-seen) ambiguous
        _os.utime(p, (base + 10 * i, base + 10 * i))
    out = stream_deduped_docs(
        spark,
        str(docs_dir),
        str(tmp_path / "ckpt"),
        query_name="dedup_test",
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 4, 7}
    assert rows[4]["text"] == "gamma"  # min doc_id won within batch 2
    import hashlib as _h

    assert rows[1]["text_hash"] == _h.md5(b"alpha").hexdigest()


def test_streaming_dedup_registry_equals_batch(spark, tmp_path):
    """The order-insensitive registry stream: final (text_hash,
    n_docs, keep_doc_id) is BIT-equal to batch exact_duplicates over
    the same rows, with duplicate groups split ACROSS micro-batches
    (one file per trigger) so the min/count merges in keyed state —
    not batch-local grouping — produce the totals. Also pins the
    delta-emission contract: a trigger emits only touched hashes."""
    import json as _json
    import os as _os
    import time as _time

    from codeindex_spark.ops.dedup import exact_duplicates
    from codeindex_spark.streaming.dedup import (
        stream_dedup_registry,
        streaming_dedup_registry,
    )

    docs_dir = tmp_path / "regstream"
    docs_dir.mkdir()
    # 'alpha' spans all 3 batches (keeper arrives LAST — the arrival-
    # order trap the registry must not fall into); 'gamma' duplicates
    # within one batch; 'delta'/'beta' are singletons in different
    # batches
    batches = [
        [(5, "alpha"), (2, "beta")],
        [(3, "alpha"), (8, "gamma"), (4, "gamma")],
        [(1, "alpha"), (7, "delta")],
    ]
    base = _time.time() - 100
    for i, batch in enumerate(batches):
        p = docs_dir / f"b{i}.json"
        with open(p, "w") as f:
            for doc_id, text in batch:
                f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        _os.utime(p, (base + 10 * i, base + 10 * i))
    out = stream_dedup_registry(
        spark,
        str(docs_dir),
        str(tmp_path / "reg_ckpt"),
        n_buckets=4,
        query_name="dedup_registry_test",
    )
    got = {
        r["text_hash"]: (r["n_docs"], r["keep_doc_id"]) for r in out.collect()
    }
    batch_df = spark.createDataFrame(
        [(d, t) for rows in batches for d, t in rows], "doc_id long, text string"
    )
    want = {
        r["text_hash"]: (r["n_docs"], r["keep_doc_id"])
        for r in exact_duplicates(batch_df).collect()
    }
    assert got == want
    import hashlib as _h

    assert got[_h.md5(b"alpha").hexdigest()] == (3, 1)  # last batch won
    assert got[_h.md5(b"gamma").hexdigest()] == (2, 4)
    # delta emission: the append-sink history holds one row per
    # (trigger, touched hash), never a full-state snapshot — 'delta'
    # (touched once) appears exactly once across the whole history
    hist = spark.table("dedup_registry_test")
    per_hash = {
        r["text_hash"]: r["n"]
        for r in hist.groupBy("text_hash").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    assert per_hash[_h.md5(b"delta").hexdigest()] == 1
    assert per_hash[_h.md5(b"alpha").hexdigest()] == 3
    with pytest.raises(ValueError):
        streaming_dedup_registry(batch_df, n_buckets=0)


def test_compact_events_repo_root_move_scale(spark):
    """A repo-root move (12k renames in one batch) compacts with the
    join-based pass 1 — the old driver pull hard-failed above 10k.
    No rename links exist here (all old paths are under src/), so
    every rename must survive unchanged."""
    from pyspark.sql import functions as F

    n = 12_000
    ev = spark.range(n).select(
        F.concat(F.lit("dst/f"), F.col("id")).alias("path"),
        F.concat(F.lit("src/f"), F.col("id")).alias("old_path"),
        F.lit("Renamed").alias("change_type"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
    )
    out = compact_events(ev)
    assert out.count() == n
    assert out.filter(F.col("change_type") != "Renamed").count() == 0


def test_compact_events_rename_edge_cases(spark):
    # A->B then C->A: ch(A->B) matches u(C->A) -> one Changed(/a),
    # the C->A rename is consumed (reference RemoveTemplateChanges)
    ev = _events(
        spark,
        [("/b", "/a", "Renamed", 1), ("/a", "/c", "Renamed", 2)],
    )
    out = sorted(
        (r["change_type"], r["path"], r["old_path"])
        for r in compact_events(ev).collect()
    )
    assert out == [("Changed", "/a", None)]
    # two chs matching the SAME u: both convert, u drops once
    ev2 = _events(
        spark,
        [
            ("/b", "/a", "Renamed", 1),
            ("/c", "/a", "Renamed", 2),
            ("/a", "/x", "Renamed", 3),
        ],
    )
    out2 = sorted(
        (r["change_type"], r["path"], r["old_path"])
        for r in compact_events(ev2).collect()
    )
    # both A-old renames convert to Changed(/a); pass 3 keeps one
    assert out2 == [("Changed", "/a", None)]
    # degenerate duplicated self-rename A->A: first copy matches the
    # second in the reference loop -> one Changed(/a)
    ev3 = _events(
        spark,
        [("/a", "/a", "Renamed", 1), ("/a", "/a", "Renamed", 1)],
    )
    out3 = [
        (r["change_type"], r["path"], r["old_path"])
        for r in compact_events(ev3).collect()
    ]
    assert out3 == [("Changed", "/a", None)]
    # self-rename group matched from OUTSIDE chain-drops every copy:
    # the reference loop's head drop cascades (copy_i drops copy_i+1)
    # — only the external matcher's Changed survives, with ITS ts
    ev4 = _events(
        spark,
        [
            ("/b", "/a", "Renamed", 1),
            ("/a", "/a", "Renamed", 2),
            ("/a", "/a", "Renamed", 2),
        ],
    )
    out4 = [
        (r["change_type"], r["path"], r["old_path"], r["ts"])
        for r in compact_events(ev4).collect()
    ]
    assert out4 == [("Changed", "/a", None, _ts(1))]


def test_session_window_stream_matches_batch_sessionizer(spark, tmp_path):
    """Native session_window over a file-source stream produces the
    same (user, n_events, sum_value) sessions as the batch lag-based
    sessionizer (ops/sessions.py) on the same events — the two
    implementations of one semantic. Gap boundaries in the data stay
    strictly inside/outside the gap so the half-open-window edge
    cannot differ."""
    import time as _time

    from codeindex_spark.ops.sessions import session_stats
    from codeindex_spark.streaming.windows import stream_session_counts

    events_dir = tmp_path / "sess_events"
    events_dir.mkdir()

    def ev(eid, hour, minute, uid, value):
        return {
            "event_id": eid,
            "ts": f"2024-01-01T{hour:02d}:{minute:02d}:00.000Z",
            "user_id": uid,
            "event_type": "click",
            "value": value,
        }

    rows = [
        # user 1: two sessions (45-min gap > 30-min session gap)
        ev(1, 0, 0, 1, 1.0),
        ev(2, 0, 10, 1, 2.0),
        ev(3, 0, 55, 1, 4.0),
        ev(4, 1, 5, 1, 8.0),
        # user 2: one session
        ev(5, 0, 7, 2, 16.0),
        ev(6, 0, 20, 2, 32.0),
    ]
    # append mode emits a session only after the watermark passes
    # its end: a far-future advancer event (user 99, excluded from
    # the batch comparison) closes all real sessions
    advancer = ev(99, 6, 0, 99, 0.0)
    batches = [rows[:4], rows[4:], [advancer]]
    for i, rs in enumerate(batches):
        with open(events_dir / f"b{i}.json", "w") as f:
            for e in rs:
                f.write(json.dumps(e) + "\n")
        _time.sleep(1.1)

    got = {
        (r["user_id"], r["n_events"], r["sum_value"])
        for r in stream_session_counts(
            spark,
            str(events_dir),
            str(tmp_path / "sess_ckpt"),
            gap="30 minutes",
            watermark="1 minute",
            query_name="sess_test",
        ).collect()
        if r["user_id"] != 99
    }
    batch_events = spark.createDataFrame(
        [
            (e["event_id"], e["ts"].replace("Z", ""), e["user_id"],
             e["event_type"], e["value"])
            for e in rows
        ],
        "event_id long, ts string, user_id long, event_type string, "
        "value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    exp = {
        (r["user_id"], r["n_events"], r["sum_value"])
        for r in session_stats(
            batch_events, gap_seconds=1800, type_col=None
        ).collect()
    }
    assert got == exp and len(got) == 3


def test_exact_live_sums_engages_for_default_fields():
    """The merge_compact stats fast path must engage for
    default-field indexes: reconstruction is restricted to the sum
    columns the fields consume, so the absent content_trigram row
    can no longer produce a phantom negative that forces the
    re-tokenize fallback."""
    import pandas as pd

    from codeindex_spark.index.build import ALL_FIELDS, CONTENT_FIELDS
    from codeindex_spark.streaming.maintain import _exact_live_sums

    needed = tuple(
        dict.fromkeys(
            "content" if f in CONTENT_FIELDS else f for f in ALL_FIELDS
        )
    )
    assert "content_trigram" not in needed
    seg_stats = pd.DataFrame(
        {
            "field": ["content", "content_cs", "file_name", "file_path",
                       "content_camel", "path_trigram"],
            "n_docs": [10] * 6,
            "avgdl": [5.0] * 6,
            "total_dl": [50, 50, 20, 30, 12, 40],
        }
    )
    dead = {"n_docs": 2, "sum_content": 9, "sum_file_name": 4,
            "sum_file_path": 6, "sum_content_camel": 2,
            "sum_path_trigram": 8}
    sums = _exact_live_sums(seg_stats, dead, needed)
    assert sums == {
        "n_docs": 8, "sum_content": 41, "sum_file_name": 16,
        "sum_file_path": 24, "sum_content_camel": 10,
        "sum_path_trigram": 32,
    }
    # negative reconstruction -> None (fallback)
    assert _exact_live_sums(seg_stats, {**dead, "sum_content": 51},
                            needed) is None
    # pre-total_dl stats shape -> None
    assert _exact_live_sums(seg_stats.drop(columns=["total_dl"]),
                            dead, needed) is None


def test_merge_compact_fast_path_tokenizes_only_dead_docs(
    spark, tmp_path, versions, monkeypatch
):
    """Engagement proof: with the fast path live, merge_compact calls
    the token-count scan exactly once (dead docs), never over the
    live corpus."""
    from codeindex_spark.index import build as build_mod

    v1, v2, _ = versions
    root = str(tmp_path / "mcfast")
    inc = IncrementalIndex(spark, root, PARAMS, n_groups=1)
    inc.build_base(spark.createDataFrame(v1))
    inc.apply_snapshot(spark.createDataFrame(v2))

    calls = []
    orig = build_mod._tok_count_cols

    def spy(docs):
        calls.append(docs)
        return orig(docs)

    monkeypatch.setattr(build_mod, "_tok_count_cols", spy)
    inc.merge_compact()
    assert len(calls) == 1, f"expected 1 token-count scan, got {len(calls)}"
