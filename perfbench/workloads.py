"""The two workloads, their correctness checks and their metrics.

``search``: one closed-loop client sends a seeded query stream to a
single-segment index built in set-up. ``ingest``: an incremental index
takes snapshot diffs, each followed by a fixed set of searches on the
stacked reader, and ends with one ``merge_compact``.

Only public calls of ``codeindex_spark`` are made: ``IndexBuilder``,
``IndexReader``, ``ast.parse_query``, ``SearchEngine.search`` and
``IncrementalIndex``. Oracle and check time is outside every timing.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd

import gen
from spans import Tracer, union_seconds

from codeindex_spark.index.segments import IndexBuilder, IndexReader
from codeindex_spark.query import ast
from codeindex_spark.query.oracle import OracleIndex
from codeindex_spark.query.planner import Filters, SearchEngine
from codeindex_spark.streaming.maintain import IncrementalIndex

K = 10
SCORE_RTOL = 1e-9
BUILD_GROUPS = 4  # the CLI's default


@dataclass
class Sizes:
    search_docs: int = 1500
    ingest_docs: int = 500
    churn: float = 0.015


@dataclass
class Result:
    """What one run measured. ``named`` holds the workload's own metrics
    under the names of METRICS.md, ``layers`` the per-layer ones."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    setup_s: float = 0.0
    build_s: float = 0.0
    build_rows: int = 0
    index_bytes: int = 0
    input_bytes: int = 0
    search_ms: list[float] = field(default_factory=list)
    write_s: list[float] = field(default_factory=list)
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.problems.append(what)


# ---------------------------------------------------------------- helpers


def hook_layers(tracer: Tracer) -> None:
    """Open a span around each public step of ``IndexBuilder`` (traced
    runs only). ``build`` runs ``build_group`` on a thread pool; the
    span opens on the worker thread, so its job group is set there."""
    for meth in ("build", "plan", "write_docs", "build_group", "finalize"):
        orig = getattr(IndexBuilder, meth)

        def wrapped(self, *a, _orig=orig, _name=f"segments.{meth}", **kw):
            with tracer.span(_name):
                return _orig(self, *a, **kw)

        setattr(IndexBuilder, meth, wrapped)


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def content_bytes(pdf: pd.DataFrame) -> int:
    return int(sum(len(c.encode("utf-8")) for c in pdf["content"]))


def check_build(spark, res: Result, index_dir: str, corpus_path: str,
                n_rows: int, label: str) -> None:
    """Manifests sum to the corpus rows, and the XOR of the group
    checksums equals bit_xor(xxhash64(sha256(content))) of the input."""
    recs = [json.load(open(p))
            for p in glob.glob(os.path.join(index_dir, "manifest", "group_*.json"))]
    n_files = sum(int(r["n_files"]) for r in recs)
    got = 0
    for r in recs:
        got ^= int(r["sha_checksum"])
    want = spark.read.parquet(corpus_path).selectExpr(
        "bit_xor(xxhash64(sha2(content, 256))) AS x").collect()[0]["x"]
    res.check(n_files == n_rows and got == int(want),
              f"{label}: n_files {n_files} vs {n_rows}, checksum {got} vs {want}")


def ranked_equal(got: list[tuple[int, float]],
                 want: list[tuple[int, float]]) -> bool:
    """Top-k docIDs and scores equal at rel 1e-9. Docs whose scores tie
    (within the tolerance) may come in any order inside their run; the
    run cut by k only needs the right score."""
    if len(got) != len(want):
        return False
    for (_, gs), (_, ws) in zip(got, want):
        if not math.isclose(gs, ws, rel_tol=SCORE_RTOL, abs_tol=1e-12):
            return False
    i = 0
    while i < len(want):
        j = i
        while j + 1 < len(want) and math.isclose(
                want[j + 1][1], want[i][1], rel_tol=SCORE_RTOL, abs_tol=1e-12):
            j += 1
        g = {d for d, _ in got[i:j + 1]}
        w = {d for d, _ in want[i:j + 1]}
        if g != w and j + 1 < len(want):
            return False
        i = j + 1
    return True


def median(xs: list[float]) -> float:
    """Median, or 0.0 when every operation failed."""
    return statistics.median(xs) if xs else 0.0


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least 10 samples beyond it."""
    return max(0, int(math.floor(100 * (n - 10) / n))) if n > 10 else 0


def percentile(xs: list[float], p: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(p / 100 * len(s)) - 1))]


def run_query(tracer: Tracer, eng: SearchEngine, q: dict, qid: int,
              prefix: str = "search") -> tuple[float, list]:
    """Parse, then time ``search()`` plus ``collect()``. Returns the
    latency in ms and the collected rows."""
    with tracer.span(f"{prefix}.parse", qid):
        node = ast.parse_query(q["text"])
    filters = (Filters(repo=q["repo"], lang=q["lang"])
               if q["repo"] or q["lang"] else None)
    t0 = time.perf_counter()
    with tracer.span(f"{prefix}.plan", qid):
        frame = eng.search(node, k=K, filters=filters, with_docs=True)
    with tracer.span(f"{prefix}.exec", qid):
        rows = frame.collect()
    return (time.perf_counter() - t0) * 1e3, rows


def oracle_filter(q: dict):
    if q["lang"]:
        return lambda d: d["lang"] == q["lang"]
    if q["repo"]:
        return lambda d: d["repo"] == q["repo"]
    return None


# ---------------------------------------------------------------- search


def run_search(spark, tracer: Tracer, work: str, seed: int, seconds: float,
               t_start: float, sizes: Sizes = Sizes(), tamper=None) -> Result:
    res = Result()
    corpus = gen.corpus(seed, sizes.search_docs)
    corpus_path = os.path.join(work, "corpus.parquet")
    corpus.to_parquet(corpus_path, index=False)
    index_dir = os.path.join(work, "index")
    with tracer.span("index.build") as sp:
        IndexBuilder(spark, index_dir, n_groups=BUILD_GROUPS).build(
            spark.read.parquet(corpus_path), resume=False)
    res.build_s, res.build_rows = sp.wall, len(corpus)
    res.write_s.append(sp.wall)
    eng = SearchEngine(IndexReader(spark, index_dir))
    # the loop's latency keeps falling while the JVM compiles the query
    # path; six queries take it to the flat part
    warmup = ("hot", "selective", "bool", "prefix", "phrase", "fuzzy")
    for i, q in enumerate(gen.queries(seed, warmup, "warmup")):
        run_query(tracer, eng, q, -1 - i, prefix="warmup")
    res.setup_s = time.monotonic() - t_start

    # far more queries than one run sends at the default size
    stream = gen.queries(seed, gen.SEARCH_CYCLE * 20, "search")
    done = []
    with tracer.span("loop"):
        t_loop = time.perf_counter()
        for qid, q in enumerate(stream):
            if done and time.perf_counter() - t_loop >= seconds:
                break
            res.attempted += 1
            try:
                ms, rows = run_query(tracer, eng, q, qid)
            except Exception as e:  # a failed op is counted, the run goes on
                res.check(False, f"query {q['text']!r}: {type(e).__name__}: {e}")
                continue
            res.search_ms.append(ms)
            done.append((qid, q, [(r["doc_id"], r["score"]) for r in rows]))

    # ---- checks (untimed)
    res.attempted += 1
    check_build(spark, res, index_dir, corpus_path, len(corpus), "build")
    params = IndexReader(spark, index_dir).params
    oracle = OracleIndex.build(corpus, num_buckets=params.num_buckets,
                               block_size=params.block_size, k1=params.k1,
                               b=params.b, fields=("content",))
    for n, (qid, q, got) in enumerate(done):
        if tamper is not None and n == 0:
            got = tamper(got)
        want = oracle.search(ast.parse_query(q["text"]), k=K,
                             doc_filter=oracle_filter(q))
        res.check(ranked_equal(got, want),
                  f"query {q['text']!r}: got {got[:3]} want {want[:3]}")

    res.input_bytes = content_bytes(corpus)
    res.index_bytes = dir_bytes(index_dir)
    if tracer.enabled:
        res.layers.update(index_layers([index_dir]))
    return res


def index_layers(seg_dirs: list[str]) -> dict[str, float]:
    out = {"index.docs_bytes": 0, "index.postings_bytes": 0,
           "index.term_dict_bytes": 0}
    for d in seg_dirs:
        out["index.docs_bytes"] += dir_bytes(os.path.join(d, "docs"))
        out["index.postings_bytes"] += dir_bytes(os.path.join(d, "postings"))
        out["index.term_dict_bytes"] += dir_bytes(os.path.join(d, "term_dict.parquet"))
    return out


# ---------------------------------------------------------------- ingest


# One cycle (an apply of ~8-10 s and the searches) outlasts a 10 s
# loop, so a run makes one: its searches are one of each shape, the
# same mix every run.
QUERIES_PER_APPLY = len(gen.QUERY_SHAPES)


def run_ingest(spark, tracer: Tracer, work: str, seed: int, seconds: float,
               t_start: float, sizes: Sizes = Sizes(), tamper=None) -> Result:
    res = Result()
    cur = gen.corpus(seed, sizes.ingest_docs)
    base_path = os.path.join(work, "base.parquet")
    cur.to_parquet(base_path, index=False)
    root = os.path.join(work, "inc")
    inc = IncrementalIndex(spark, root)
    with tracer.span("index.build") as sp:
        inc.build_base(spark.read.parquet(base_path))
    res.build_s, res.build_rows = sp.wall, len(cur)
    res.input_bytes = content_bytes(cur)
    res.index_bytes = dir_bytes(os.path.join(root, "base"))
    if tracer.enabled:
        res.layers.update(index_layers([os.path.join(root, "base")]))
    state = {"cur": cur, "qid": 0, "marker": None, "updated": set()}

    def cycle(step: int) -> bool:
        """One apply, then untimed checks of the applied state, then
        QUERIES_PER_APPLY searches on the stacked reader (shapes rotate
        over the stream). Returns False when the apply failed."""
        with tracer.span("gen.snapshot"):
            snap, info = gen.snapshot_diff(seed, state["cur"], step, sizes.churn)
            snap_path = os.path.join(work, f"snap{step}.parquet")
            snap.to_parquet(snap_path, index=False)
        res.attempted += 1
        try:
            with tracer.span("maintain.apply", step) as sp:
                counts = inc.apply_snapshot(spark.read.parquet(snap_path))
        except Exception as e:
            res.check(False, f"apply {step}: {type(e).__name__}: {e}")
            return False
        res.write_s.append(sp.wall)
        res.check(
            (counts.get("update", 0), counts.get("delete", 0), counts.get("add", 0))
            == (len(info["updated"]), len(info["deleted"]), len(info["added"])),
            f"apply {step}: counts {counts}")
        live = set(snap[["repo", "path", "commit"]].itertuples(index=False, name=None))
        eng = SearchEngine(inc.reader())
        # the checks run first: they are the new reader's first reads,
        # which are slower than the rest, so the timed searches do not
        # take that transient
        state["marker"], state["updated"] = info["marker"], {
            (r.repo, r.path, r.commit) for r in snap.itertuples()
            if r.path in info["updated"]}
        state["cur"] = snap
        with tracer.span("check"):
            res.check(inc.live_docs().count() == len(snap),
                      f"apply {step}: live count != {len(snap)}")
            check_marker(res, eng, state["marker"], state["updated"],
                         f"apply {step}")
        shapes = [gen.QUERY_SHAPES[(state["qid"] + i) % len(gen.QUERY_SHAPES)]
                  for i in range(QUERIES_PER_APPLY)]
        for q in gen.queries(seed, shapes, f"ingest{step}"):
            qid = state["qid"]
            state["qid"] += 1
            res.attempted += 1
            try:
                ms, rows = run_query(tracer, eng, q, qid, prefix="maintain.search")
            except Exception as e:
                res.check(False, f"query {q['text']!r}: {type(e).__name__}: {e}")
                continue
            res.search_ms.append(ms)
            got = [(r["repo"], r["path"], r["commit"]) for r in rows]
            if tamper is not None and got:
                got = tamper(got)
            stale = [g for g in got if g not in live]
            res.check(not stale, f"query {q['text']!r} returned dead docs {stale[:3]}")
        return True

    # warm-up: two untimed queries on the base, so the timed ones do not
    # pay for the first use of the query path in this JVM. No apply is
    # run untimed: the base build already ran the builder steps of an
    # apply's delta build, and a second apply does not fit a run.
    eng = SearchEngine(inc.reader())
    for i, q in enumerate(gen.queries(seed, ("fuzzy", "filtered"), "warmup")):
        run_query(tracer, eng, q, -1 - i, prefix="warmup")
    res.setup_s = time.monotonic() - t_start
    res.attempted += 1
    check_build(spark, res, os.path.join(root, "base"), base_path, sizes.ingest_docs,
                "base build")
    step = 0
    with tracer.span("loop"):
        t_loop = time.perf_counter()
        while step == 0 or time.perf_counter() - t_loop < seconds:
            step += 1
            if not cycle(step):
                break
    segments = len(inc.segments())

    res.attempted += 1
    try:
        with tracer.span("maintain.compact") as compact:
            inc.merge_compact()
    except Exception as e:
        res.check(False, f"merge_compact: {type(e).__name__}: {e}")
    else:
        res.check(inc.live_docs().count() == len(state["cur"]), "compact: live count")
        check_marker(res, SearchEngine(inc.reader()), state["marker"],
                     state["updated"], "compact")
    res.named["ingest_apply_p50_s"] = (median(res.write_s), "s")
    res.named["ingest_compact_s"] = (compact.wall, "s")
    if tracer.enabled:
        res.layers["maintain.segments"] = segments
    return res


def check_marker(res: Result, eng: SearchEngine, marker: str,
                 updated: set, label: str) -> None:
    """The token added by the last updates finds exactly the new
    versions of the updated docs."""
    rows = eng.search(ast.parse_query(marker), k=len(updated) + 5,
                      with_docs=True).collect()
    got = {(r["repo"], r["path"], r["commit"]) for r in rows}
    res.check(got == updated, f"{label}: marker {marker} found {len(got)} of {len(updated)}")


# ---------------------------------------------------------------- layers


def layer_metrics(tracer: Tracer, st: dict[int, dict], res: Result,
                  workload: str) -> dict[str, float]:
    """Per-layer numbers from the spans and stage metrics of a traced
    run. Build-layer figures are means per ``IndexBuilder.build`` call
    (set-up builds included); query-layer figures are per query."""
    builds = [s for s in tracer.spans if s.name == "segments.build"]
    nb = max(1, len(builds))
    out: dict[str, float] = {}

    def direct(name):
        return [s for s in tracer.spans if s.name == name
                and s.parent is not None
                and tracer.spans[s.parent].name == "segments.build"]

    def sums(spans):
        tot = tracer.totals(spans, st)
        return {k: v / nb for k, v in tot.items()}

    plan = sums(direct("segments.plan"))
    out.update({"segments.plan.wall_s": plan["wall_s"],
                "segments.plan.busy_s": plan["busy_ms"] / 1e3,
                "segments.plan.input_bytes": plan["input_bytes"],
                "segments.plan.jobs": plan["jobs"]})
    wd = sums(direct("segments.write_docs"))
    out.update({"segments.write_docs.wall_s": wd["wall_s"],
                "segments.write_docs.busy_s": wd["busy_ms"] / 1e3,
                "segments.write_docs.shuffle_write_bytes": wd["shuffle_write_bytes"],
                "segments.write_docs.output_bytes": wd["output_bytes"]})
    groups = direct("segments.build_group")
    bg = sums(groups)
    group_wall = sum(union_seconds([(g.start, g.end) for g in groups
                                    if g.parent == b.id]) for b in builds)
    out.update({"segments.build_group.wall_s": group_wall / nb,
                "segments.build_group.busy_s": bg["busy_ms"] / 1e3,
                "segments.build_group.cpu_s": bg["cpu_ns"] / 1e9,
                "segments.build_group.jobs": bg["jobs"],
                "segments.build_group.stages": bg["stages"],
                "segments.build_group.shuffle_write_bytes": bg["shuffle_write_bytes"],
                "segments.build_group.shuffle_read_bytes": bg["shuffle_read_bytes"],
                "segments.build_group.spill_bytes": bg["spill_bytes"],
                "segments.build_group.output_bytes": bg["output_bytes"]})
    fin = sums(direct("segments.finalize"))
    out.update({"segments.finalize.wall_s": fin["wall_s"],
                "segments.finalize.busy_s": fin["busy_ms"] / 1e3,
                "segments.finalize.jobs": fin["jobs"],
                "segments.finalize.output_bytes": fin["output_bytes"]})
    residual = 0.0
    for b in builds:
        kids = [(s.start, s.end) for s in tracer.spans if s.parent == b.id]
        residual += b.wall - union_seconds(kids)
    out["build.residual_s"] = residual / nb

    loop = [s for s in tracer.spans if s.name == "loop"]
    out["loop.residual_s"] = sum(
        lp.wall - union_seconds([(s.start, s.end) for s in tracer.spans
                                 if s.parent == lp.id]) for lp in loop)

    # query layers: the timed queries of the loop, keyed by qid
    prefix = "search" if workload == "search" else "maintain.search"
    by_q: dict[int, dict] = {}
    for s in tracer.spans:
        if s.qid is not None and s.qid >= 0 and s.name.startswith(prefix + "."):
            by_q.setdefault(s.qid, {})[s.name[len(prefix) + 1:]] = s
    qs = [v for v in by_q.values() if {"parse", "plan", "exec"} <= v.keys()]
    order = gen.SEARCH_CYCLE if workload == "search" else gen.QUERY_SHAPES
    shapes = {qid: order[qid % len(order)] for qid in by_q}

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def one(s):
        return tracer.totals([s], st)

    plan_t = [one(v["plan"]) for v in qs]
    exec_t = [one(v["exec"]) for v in qs]
    out.update({
        "ast.parse.ms": median([v["parse"].wall * 1e3 for v in qs]),
        "planner.plan.ms": median([v["plan"].wall * 1e3 for v in qs]),
        "planner.plan.jobs_per_query": mean([t["jobs"] for t in plan_t]),
        "planner.dict_hit_ratio": mean([t["jobs"] == 0 for t in plan_t]),
        "planner.exec.ms": median([v["exec"].wall * 1e3 for v in qs]),
        "planner.exec.jobs_per_query": mean([t["jobs"] for t in exec_t]),
        "planner.exec.busy_ms_per_query": mean([t["busy_ms"] for t in exec_t]),
        "planner.exec.input_bytes_per_query": mean([t["input_bytes"] for t in exec_t]),
        "planner.exec.shuffle_bytes_per_query": mean(
            [t["shuffle_read_bytes"] + t["shuffle_write_bytes"] for t in exec_t]),
    })
    for shape in gen.QUERY_SHAPES:
        sel = [(qid, v) for qid, v in by_q.items()
               if shapes[qid] == shape and {"plan", "exec"} <= v.keys()]
        out[f"planner.jobs_per_query.{shape}"] = mean(
            [one(v["plan"])["jobs"] + one(v["exec"])["jobs"] for _, v in sel])
        out[f"planner.ms.{shape}"] = median(
            [(v["plan"].wall + v["exec"].wall) * 1e3 for _, v in sel])

    applies = [s for s in tracer.spans if s.name == "maintain.apply"]
    ap = [one(s) for s in applies]
    compacts = [s for s in tracer.spans if s.name == "maintain.compact"]
    cp = tracer.totals(compacts, st)
    out.update({
        "maintain.apply.wall_s": median([s.wall for s in applies]),
        "maintain.apply.busy_s": mean([t["busy_ms"] / 1e3 for t in ap]),
        "maintain.apply.jobs": mean([t["jobs"] for t in ap]),
        "maintain.apply.output_bytes": mean([t["output_bytes"] for t in ap]),
        "maintain.segments": res.layers.get("maintain.segments", 0),
        "maintain.compact.wall_s": cp["wall_s"],
        "maintain.compact.busy_s": cp["busy_ms"] / 1e3,
        "maintain.compact.output_bytes": cp["output_bytes"],
        "maintain.search.plan.ms": (out["planner.plan.ms"] if workload == "ingest" else 0.0),
        "maintain.search.exec.ms": (out["planner.exec.ms"] if workload == "ingest" else 0.0),
    })
    for k in ("index.docs_bytes", "index.postings_bytes", "index.term_dict_bytes"):
        out[k] = res.layers.get(k, 0)
    out["trace.bookkeeping_ms_per_span"] = (
        tracer.bookkeeping_s * 1e3 / max(1, len(tracer.spans)))
    out["trace.search_p50_ms"] = median(res.search_ms)
    return out
