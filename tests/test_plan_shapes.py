"""Physical-plan regression tests: the scale properties PLANS.md
documents must hold in the executed plans, not just prose — a
refactor that silently drops parquet pushdown or partition pruning
passes every value-correctness test while becoming a corpus scan at
100 TB. These assertions are the safety net."""

from __future__ import annotations

import itertools
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from codeindex_spark.corpus import CorpusSpec, generate_documents, spark_documents
from codeindex_spark.index.build import IndexParams
from codeindex_spark.index.segments import IndexBuilder, IndexReader
from codeindex_spark.query import ast
from codeindex_spark.query import planner
from codeindex_spark.query.planner import (
    ENTRIES_PER_TASK,
    Filters,
    SearchEngine,
    stream_task_count,
)
from codeindex_spark.streaming.maintain import IncrementalIndex

PARAMS = IndexParams(num_buckets=16, block_size=32)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("planidx"))
    docs = spark_documents(spark, CorpusSpec(n_docs=100), partitions=4)
    IndexBuilder(spark, d, PARAMS, n_groups=1).build(docs, resume=False)
    return SearchEngine(IndexReader(spark, d))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df):
    """Executed physical plan after ``collect()``, unwrapped from the
    adaptive plan and its result stage."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    if plan.nodeName() == "ResultQueryStage":
        plan = plan.plan()
    return plan


_GROUPS = itertools.count()


def _jobs_in(spark, fn) -> list[int]:
    """Spark job ids launched while ``fn()`` runs (a job group of its
    own: the status tracker keeps a group's jobs across calls)."""
    sc = spark.sparkContext
    group = f"plan-shapes-job-count-{next(_GROUPS)}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _sql_plans_in(spark, fn) -> list[str]:
    """Physical-plan descriptions of the SQL executions ``fn()`` runs
    (read from the SQL status store, which is kept with the UI off)."""
    store = spark._jsparkSession.sharedState().statusStore()
    before = {e.executionId() for e in _scala(store.executionsList())}
    fn()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return [
        e.physicalPlanDescription()
        for e in _scala(store.executionsList())
        if e.executionId() not in before
    ]


def _scala(seq) -> list:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _sampling_jobs(spark, job_ids) -> list[int]:
    """The range-exchange bound-sampling jobs among ``job_ids``: the
    job's result stage writes neither shuffle nor files, and its last
    RDD belongs to an Exchange (RangePartitioner sampling the
    exchange's input). Shuffle-map jobs write shuffle bytes, writes
    write files, collects end outside an Exchange."""
    store = spark.sparkContext._jsc.sc().statusStore()

    def last_scope(stage_id) -> str:
        best, scope = -1, ""
        todo = [store.operationGraphForStage(stage_id).rootCluster()]
        while todo:
            cluster = todo.pop()
            for node in _scala(cluster.childNodes()):
                if node.id() > best:
                    best, scope = node.id(), cluster.name()
            todo.extend(_scala(cluster.childClusters()))
        return scope

    out = []
    for j in job_ids:
        stage = max(_scala(store.job(j).stageIds()))
        data = store.lastStageAttempt(stage)
        if (
            data.shuffleWriteBytes() == 0
            and data.outputBytes() == 0
            and last_scope(stage) == "Exchange"
        ):
            out.append(j)
    return out


def test_term_query_pushes_field_and_term_to_scan(engine):
    plan = _plan(engine.score(ast.Term("get", "content")))
    # field is a partition dir: must prune, not filter post-scan
    assert "field#" in plan and "content" in plan
    assert "PartitionFilters" in plan
    # term must reach the parquet reader (row-group min/max pruning)
    assert "PushedFilters" in plan
    assert "term" in plan.split("PushedFilters", 1)[1][:200]


def test_boolean_query_single_posting_scan(engine):
    plan = _plan(engine.score(ast.parse_query("get AND string")))
    # both terms share ONE postings scan (In(term, [...])), not one
    # scan per leaf
    n_posting_scans = plan.count("postings")
    assert n_posting_scans >= 1
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "get" in pushed and "string" in pushed


def test_dictionary_lookup_is_filtered_scan(engine):
    td = engine.reader.term_dict.filter(
        (F.col("field") == "content") & (F.col("term") == "get")
    )
    plan = _plan(td)
    assert "PushedFilters" in plan


def test_metadata_filter_is_catalyst_predicate(engine):
    from codeindex_spark.query.planner import Filters

    allowed = Filters(lang="python").apply(engine.reader.docs)
    plan = _plan(allowed.select("doc_id"))
    # lang filter reaches the docs scan; doc_id+lang is all it reads
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:200]
    assert "lang" in pushed
    read = plan.split("ReadSchema", 1)[1][:200]
    assert "content" not in read  # column pruning: no content bytes


def test_suggest_pushes_field_and_length_window(engine):
    plan = _plan(engine.suggest("stirng", k=5))
    # field partition-pruned; length window + levenshtein evaluated
    # on the pruned slice, never a full dictionary pass elsewhere
    assert "PartitionFilters" in plan
    assert "levenshtein" in plan
    # top-k is a TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_search_with_docs_ends_in_take_ordered(engine):
    """The <= k top rows joined to doc metadata end in one
    TakeOrderedAndProject: no range-partitioned re-sort exchange."""
    plan = _final_plan(
        engine.search(ast.parse_query("get OR string"), k=5, with_docs=True)
    )
    assert plan.nodeName() == "TakeOrderedAndProject"
    assert "rangepartitioning" not in plan.toString()


def test_reader_opens_each_frame_once(engine):
    rdr = engine.reader
    for name in ("docs", "postings", "term_dict"):
        assert getattr(rdr, name) is getattr(rdr, name), name


def test_warm_search_plans_without_jobs(spark, engine):
    """With the frames open and the term's df in the dictionary
    cache, planning a search launches no Spark job."""
    q = ast.Term("get", "content")
    engine.search(q, k=5, with_docs=True).collect()
    assert _jobs_in(spark, lambda: engine.search(q, k=5, with_docs=True)) == []


@pytest.fixture(scope="module")
def stacked_engine(spark, tmp_path_factory):
    """SearchEngine over an IncrementalIndex with one applied snapshot
    (an update and a delete, so the reader carries tombstones)."""
    v1 = generate_documents(CorpusSpec(n_docs=60))
    v2 = v1.drop(index=5).reset_index(drop=True)
    v2.loc[3, "content"] = "get replacement content here"
    v2.loc[3, "commit"] = "cplanshapes01"
    inc = IncrementalIndex(
        spark, str(tmp_path_factory.mktemp("planinc")), PARAMS, n_groups=1
    )
    inc.build_base(spark.createDataFrame(v1))
    inc.apply_snapshot(spark.createDataFrame(v2))
    return SearchEngine(inc.reader())


def test_stacked_reader_opens_each_frame_once(stacked_engine):
    rdr = stacked_engine.reader
    assert rdr.dead_doc_ids is not None  # tombstones present
    for name in ("docs", "all_docs", "postings", "term_dict", "dead_doc_ids"):
        assert getattr(rdr, name) is getattr(rdr, name), name


def test_stacked_warm_search_plans_without_jobs(spark, stacked_engine):
    """The stacked reader holds its frames too: once warm, planning a
    with-docs search of a dictionary-cached term launches no Spark
    job (no per-access re-read of segment docs, postings, tombstones
    or the merged dictionary)."""
    q = ast.Term("get", "content")
    first = stacked_engine.search(q, k=5, with_docs=True).collect()
    assert first
    jobs = _jobs_in(
        spark, lambda: stacked_engine.search(q, k=5, with_docs=True)
    )
    assert jobs == []


def test_stacked_filtered_search_joins_live_set_once(stacked_engine):
    """The stacked reader's dead docs drop in the block kernel, so a
    scored search joins no tombstones: the unfiltered plan holds no
    semi- or anti-join, and the filter is the one semi-join a filtered
    search adds."""
    q = ast.parse_query("get OR string")

    def joins(frame):
        plan = _final_plan(frame).toString()
        return plan.count("LeftSemi"), plan.count("LeftAnti")

    assert joins(stacked_engine.search(q, k=5)) == (0, 0)
    filtered = stacked_engine.search(q, k=5, filters=Filters(lang="python"))
    assert joins(filtered) == (1, 0)


def test_stacked_exact_search_runs_two_jobs(spark, stacked_engine):
    """Once the reader holds its dead docIDs, an unfiltered exact-term
    with-docs search on the stacked reader collects in at most two
    jobs, like one index's (test_uncached_exact_search_runs_two_jobs):
    no tombstone anti-join and no literal list of docIDs in the plan."""
    assert stacked_engine.reader.dead_doc_ids is not None
    frame = stacked_engine.search(
        ast.parse_query("get OR string"), k=5, with_docs=True
    )
    assert len(_jobs_in(spark, frame.collect)) <= 2
    plan = _final_plan(frame).toString()
    assert "LeftAnti" not in plan
    assert not re.search(r"(In|InSet)\(doc_id,|doc_id#\d+L? (INSET|IN)\b", plan)


def test_stacked_more_like_this_uses_wand(stacked_engine, monkeypatch):
    """On a reader with dead docs, more_like_this runs block-max WAND
    (θ comes from live docs only) and returns what its plain-search
    path returns; an empty Filters() takes the plain path."""
    eng = stacked_engine
    calls = []
    wand = eng.search_wand
    monkeypatch.setattr(
        eng, "search_wand", lambda *a, **kw: calls.append(a) or wand(*a, **kw)
    )
    keys = [r["doc_key"] for r in eng.reader.docs.orderBy("doc_id").limit(4).collect()]
    for key in keys:
        opts = dict(k=5, min_term_freq=1, min_doc_freq=1)
        got = eng.more_like_this(key, **opts).collect()
        n_wand = len(calls)
        plain = eng.more_like_this(key, filters=Filters(), **opts).collect()
        assert len(calls) == n_wand
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in plain], key
        assert [r["score"] for r in got] == pytest.approx(
            [r["score"] for r in plain], rel=1e-9
        )
    assert len(calls) == len(keys)


def test_unknown_term_search_collects_without_job(spark, engine):
    """A search with no dictionary match scores an empty frame the
    optimizer folds away: its with-docs collect runs no Spark job."""
    frame = engine.search(ast.Term("zzzznotaterm", "content"), k=5, with_docs=True)
    assert _jobs_in(spark, frame.collect) == []
    assert frame.collect() == []


def test_block_stream_reads_only_kernel_columns(engine):
    """The block stream reads the columns its kernel decodes: a term
    query's scan holds no position stream and no column the kernel
    never reads; a phrase query's scan adds the positions."""

    def read_schema(query) -> str:
        plan = _final_plan(engine.search(query, k=5)).toString()
        return re.search(r"ReadSchema: (struct<[^\n]*)", plan).group(1)

    term = read_schema(ast.Term("get", "content"))
    assert "pos_" not in term, term
    for col in ("cf", "block_max_tfnorm"):
        assert f"{col}:" not in term, term
    assert "pos_counts" in read_schema(ast.Phrase(("get", "string"), "content"))


def test_warm_term_count_launches_no_job(spark, engine):
    """A lone Term's count answers from the cached dictionary df:
    once warm, it launches no Spark job."""
    q = ast.Term("get", "content")
    n = engine.count(q)
    assert n > 0
    jobs = _jobs_in(spark, lambda: engine.count(q))
    assert jobs == []
    assert engine.count(q) == n


def test_uncached_exact_search_runs_two_jobs(spark, engine):
    """An exact-term search with an empty dictionary cache plans with
    no Spark job (the dictionary is read on the driver) and collects
    in at most two: the top-k stage and the docs join. The one-task
    block stream needs no exchange."""
    eng = SearchEngine(engine.reader)
    q = ast.parse_query("get OR string")
    frames = []
    plan_jobs = _jobs_in(
        spark, lambda: frames.append(eng.search(q, k=5, with_docs=True))
    )
    assert plan_jobs == []
    assert len(_jobs_in(spark, frames[0].collect)) <= 2
    assert frames[0].collect() == engine.search(q, k=5, with_docs=True).collect()


@pytest.mark.parametrize("surface", ["search", "score_many", "search_wand", "count"])
def test_scored_plans_hold_no_mapping_rows(spark, engine, surface):
    """The mapping rows (leaf_id, slot, idf) merge onto the postings
    inside the block kernel: no executed plan of a scored surface
    carries them as a local table or joins them in Spark."""
    q = ast.parse_query("get OR string")
    run = {
        "search": lambda: engine.search(q, k=5, with_docs=True).collect(),
        "score_many": lambda: engine.score_many(
            {"a": q, "b": '"get string"'}
        ).collect(),
        "search_wand": lambda: engine.search_wand(q, k=5).collect(),
        "count": lambda: engine.count(q),
    }[surface]
    plans = _sql_plans_in(spark, run)
    assert plans
    for plan in plans:
        assert "leaf_id" not in plan, plan


def test_small_query_streams_without_exchange(engine):
    """A query whose summed df fits one task reads its candidates
    through coalesce(1): no hash exchange on block_id."""
    plan = _final_plan(engine.search(ast.parse_query("get OR string"), k=5))
    assert "hashpartitioning(block_id" not in plan.toString()


def test_stream_task_count_follows_entries():
    assert stream_task_count(ENTRIES_PER_TASK, 8) == 1
    assert stream_task_count(ENTRIES_PER_TASK + 1, 8) == 2
    assert stream_task_count(3 * ENTRIES_PER_TASK, 8) == 3
    assert stream_task_count(100 * ENTRIES_PER_TASK, 8) == 8


def test_multi_task_stream_scores_like_one_task(engine, monkeypatch):
    """A stream sized to several tasks repartitions on block_id and
    scores the same rows as the one-task stream."""
    queries = ["get OR string", '"get string"', "(get OR return) AND string"]
    want = [engine.search(q, k=20).collect() for q in queries]
    monkeypatch.setattr(planner, "ENTRIES_PER_TASK", 1)
    for q, rows in zip(queries, want):
        frame = engine.search(q, k=20)
        assert frame.collect() == rows, q
        assert "hashpartitioning(block_id" in _final_plan(frame).toString()


def test_phrase_wildcard_slot_reuses_expansion(spark, engine):
    """A wildcard phrase slot expands through the expansion cache:
    the repeated phrase reuses the entry and plans without a job."""
    q = ast.Phrase(("get", "stri*"), "content")
    first = engine.search(q, k=5).collect()
    key = ("content", "w", "stri*")
    entry = engine._expand_cache[key]
    assert entry
    jobs = _jobs_in(spark, lambda: engine.search(q, k=5))
    assert jobs == []
    assert engine._expand_cache[key] is entry
    assert engine.search(q, k=5).collect() == first


def test_small_build_takes_no_range_sample(spark, tmp_path):
    """A 40-doc build sizes every step to one task from its plan: the
    posting and dictionary range exchanges have one partition, so
    Spark takes no bound sample, and the build's job count is pinned
    (23 before: the range exchanges sampled, the tokenize input was
    round-robined, and each read-back table ran a footer-inference
    job; 15 while finalize still wrote a hints table)."""
    docs = spark_documents(spark, CorpusSpec(n_docs=40), partitions=4)
    builder = IndexBuilder(spark, str(tmp_path / "small"), PARAMS, n_groups=1)
    jobs = _jobs_in(spark, lambda: builder.build(docs, resume=False))
    assert _sampling_jobs(spark, jobs) == []
    assert len(jobs) == 14


def test_apply_jobs_do_not_grow_with_segments(spark, tmp_path):
    """A snapshot apply costs the same jobs at any segment count: the
    3rd apply (3 segments stacked) launches no more than the 1st. A
    delete before the 1st apply gives every apply tombstones to read
    (the first tombstones add one broadcast to the live-docs
    anti-join, whatever the segment count). The 1st apply's count is
    pinned: 27 while the reconcile counts ran as their own aggregate,
    the removed hint words were tokenized at apply time and finalize
    wrote a hints table."""
    cols = ["repo", "path", "commit", "lang", "content"]
    cur = generate_documents(CorpusSpec(n_docs=40))[cols]
    inc = IncrementalIndex(spark, str(tmp_path / "inc"), PARAMS, n_groups=1)
    inc.build_base(spark.createDataFrame(cur))
    first = inc.live_docs().filter(F.col("path") == cur["path"].iloc[0])
    inc.apply_changes(
        spark.createDataFrame(cur).limit(0), first.select("doc_key")
    )
    cur = cur.iloc[1:].reset_index(drop=True)
    n_jobs = []
    for step in (1, 2, 3):
        nxt = cur.iloc[:-1].copy()  # delete the last doc
        nxt.loc[step, "content"] = f"get updated content step{step}"
        nxt.loc[step, "commit"] = f"cstep{step:09d}"
        added = pd.DataFrame(
            [("repo_new", f"src/Added{step}.py", "cadd00000001", "python",
              f"get added content step{step}")],
            columns=cols,
        )
        nxt = pd.concat([nxt, added], ignore_index=True)
        snap = spark.createDataFrame(nxt)
        counts = {}
        n_jobs.append(
            len(_jobs_in(spark, lambda: counts.update(inc.apply_snapshot(snap))))
        )
        assert (counts["add"], counts["update"], counts["delete"]) == (1, 1, 1)
        cur = nxt
    assert len(inc.segments()) == 4
    assert n_jobs[0] == 21, n_jobs
    assert n_jobs[2] <= n_jobs[0], n_jobs


def test_facets_single_group_shuffle(engine):
    plan = _plan(engine.facet_counts("get"))
    # ONE aggregate pair over the unpivoted rows: partial+final =
    # exactly 2 HashAggregate operators for the facet count itself
    # (the score side has its own); and no Cartesian anywhere
    assert "CartesianProduct" not in plan
    assert plan.count("Expand") <= 1  # unpivot lowers to one Expand


def test_mixture_exact_shuffles_on_group_only(spark):
    from codeindex_spark.ops.mixing import mixture_sample

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "zh", "t") for i in range(40)],
        "doc_id long, lang string, text string",
    )
    plan = _plan(mixture_sample(docs, {"en": 0.5, "zh": 0.5}))
    # the window rank partitions by the group column
    assert "hashpartitioning(lang" in plan


def test_mixture_approx_is_shuffle_free(spark):
    from codeindex_spark.ops.mixing import mixture_sample

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "zh", "t") for i in range(40)],
        "doc_id long, lang string, text string",
    )
    plan = _plan(mixture_sample(docs, {"en": 0.5, "zh": 0.5}, exact=False))
    assert "Exchange" not in plan  # pure map-side filter


def test_assign_shards_is_map_side(spark):
    from codeindex_spark.ops.mixing import assign_shards

    docs = spark.createDataFrame(
        [(i, "t") for i in range(10)], "doc_id long, text string"
    )
    assert "Exchange" not in _plan(assign_shards(docs, 8))


def test_suggest_ngram_index_prunes_dictionary(engine):
    """With the bigram sidecar built, suggest() candidates come from
    the typo's grams (In-filter pushed to the sidecar scan); the
    vocabulary-wide term_dict never appears in the plan."""
    engine.build_suggest_index()
    try:
        plan = _plan(engine.suggest("stirng", k=5))
        assert "suggest_ngrams" in plan
        assert "gram" in plan.split("PushedFilters", 1)[1][:300]
        assert "term_dict" not in plan
        assert "TakeOrderedAndProject" in plan
    finally:
        engine._suggest_idx = None
