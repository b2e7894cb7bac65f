"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Entries map to SURVEY.md §2 operators:
  q01..q21  — index-query operators (Q1-Q10, K1/K2, P1/P2, S1, T3/T5,
              batch multi-query, path-trigram substring, content
              trigram substring + regex)
  a1        — aggregation operators (A1/A2 corpus stats, term dict)
  pv_*      — presentation (V1 highlight, V2 matched lines)
  dd_*      — dedup ops (exact, jaccard, minhash-LSH, simhash,
              embedding near-dup)
  ann_*     — similarity search (brute-force / LSH / materialized-IVF)
  tx_*      — text analysis (quality, fingerprint, BPE-ish counts,
              language ID, PII/URL scrubbing)
  px_*      — pipeline prep (token-window chunking, deterministic
              hash sampling)
  st_*      — streaming-maintenance analogs on the events table
  rel_*     — relational shapes (agg / broadcast join / window rank)

The fulltext entries run the REAL engine end-to-end: build the
compressed inverted index over sf_dir's documents table (cached under
/tmp per sf_dir), then plan+execute through the block kernel. The
oracle SQL reproduces BM25 (same float op order) / boolean / phrase /
expansion semantics in DuckDB.
"""

from __future__ import annotations

import functools
import hashlib
import os
import sys
import zipfile
from collections.abc import Callable

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_ENGINES: dict[str, object] = {}


# the sources that decide what an engine index holds on disk
_WRITER_SOURCES = (
    "index/build.py",
    "index/segments.py",
    "index/encoding.py",
    "index/docids.py",
    "index/merge.py",
    "streaming/maintain.py",
    "tokenizer.py",
)


@functools.cache
def _writer_digest() -> str:
    h = hashlib.sha256()
    for rel in _WRITER_SOURCES:
        h.update(rel.encode())
        with open(os.path.join(REPO_ROOT, "codeindex_spark", rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _index_cache_dir(key: str, sf_dir: str, prefix: str = "") -> str:
    """Cache dir of the engine index ``key`` built over ``sf_dir``,
    keyed by a digest of the index writer sources: an index written
    by other writer code is rebuilt rather than served."""
    tag = hashlib.sha256(key.encode()).hexdigest()[:12]
    name = os.path.basename(os.path.abspath(sf_dir))
    return f"/tmp/codeindex_entry/{prefix}{name}_{tag}_{_writer_digest()}"


def _ensure_pkg(spark: SparkSession) -> None:
    """Ship the package to Python workers (the local analog of
    spark-submit --py-files) for sessions we didn't create. The zip
    name embeds a content hash of the sources so edited code is never
    masked by a stale zip from an earlier run (addPyFile caches by
    filename per JVM)."""
    pkg_dir = os.path.join(REPO_ROOT, "codeindex_spark")
    entries = []
    h = hashlib.sha256()
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                entries.append((full, os.path.relpath(full, REPO_ROOT)))
    for full, rel in sorted(entries, key=lambda e: e[1]):
        h.update(rel.encode())
        with open(full, "rb") as fh:
            h.update(fh.read())
    pkg_zip = f"/tmp/codeindex_spark_pkg_{h.hexdigest()[:16]}.zip"
    if not os.path.exists(pkg_zip):
        with zipfile.ZipFile(pkg_zip + ".tmp", "w") as zf:
            for full, rel in sorted(entries, key=lambda e: e[1]):
                zf.write(full, rel)
        os.replace(pkg_zip + ".tmp", pkg_zip)
    try:
        spark.sparkContext.addPyFile(pkg_zip)
    except Exception:
        pass  # already registered


def _load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def _as_corpus(docs: DataFrame) -> DataFrame:
    """Map the driver documents table (doc_id, text, lang, source,
    n_chars) onto the engine input shape (repo, path, commit, lang,
    content) — BASELINE.json input_hint. Original doc_id is recoverable
    from path.

    content applies a deterministic casing rule — words of length >= 6
    uppercased — so the case-sensitive twin field (content_cs,
    reference CodeIndexBuilder.cs:481-484) is actually exercised by
    the all-lowercase sf corpora. The case-insensitive content field
    lowercases, so every other query sees identical tokens."""
    toks = F.split(F.col("text"), " ")
    cased = F.array_join(
        F.transform(
            toks,
            lambda w: F.when(F.length(w) >= 6, F.upper(w)).otherwise(w),
        ),
        " ",
    )
    return docs.select(
        F.col("source").alias("repo"),
        F.concat(F.col("source"), F.lit("/"), F.col("doc_id").cast("string"), F.lit(".txt")).alias("path"),
        F.lit("c000000000000").alias("commit"),
        F.col("lang"),
        cased.alias("content"),
    )


def _engine(spark: SparkSession, sf_dir: str):
    """Build (once per sf_dir, resumable) and open the fulltext index."""
    key = os.path.abspath(sf_dir)
    if key in _ENGINES:
        return _ENGINES[key]
    _ensure_pkg(spark)
    from codeindex_spark.index.build import (
        CONTENT_TRIGRAM_FIELDS,
        IndexParams,
    )
    from codeindex_spark.index.segments import IndexBuilder, IndexReader
    from codeindex_spark.query.planner import SearchEngine

    idx_dir = _index_cache_dir(key, sf_dir)
    params = IndexParams(
        num_buckets=16, block_size=128, fields=CONTENT_TRIGRAM_FIELDS
    )
    builder = IndexBuilder(spark, idx_dir, params, n_groups=1)
    corpus = _as_corpus(_load(spark, sf_dir, "documents"))
    try:
        builder.build(corpus, resume=True)
    except ValueError:
        # stale cache built with older index params — rebuild fresh
        builder.build(corpus, resume=False)
    eng = SearchEngine(IndexReader(spark, idx_dir))
    _ENGINES[key] = eng
    return eng


def _engine_forpack(spark: SparkSession, sf_dir: str):
    """Like _engine but with IndexParams.codec="forpack" (FOR
    bit-packed posting streams — the Lucene block-postings analog).
    Separate cache dir: the codec is pinned per index."""
    key = os.path.abspath(sf_dir) + "#forpack"
    if key in _ENGINES:
        return _ENGINES[key]
    _ensure_pkg(spark)
    from codeindex_spark.index.build import (
        CONTENT_TRIGRAM_FIELDS,
        IndexParams,
    )
    from codeindex_spark.index.segments import IndexBuilder, IndexReader
    from codeindex_spark.query.planner import SearchEngine

    idx_dir = _index_cache_dir(key, sf_dir)
    params = IndexParams(
        num_buckets=16,
        block_size=128,
        fields=CONTENT_TRIGRAM_FIELDS,
        codec="forpack",
    )
    builder = IndexBuilder(spark, idx_dir, params, n_groups=1)
    corpus = _as_corpus(_load(spark, sf_dir, "documents"))
    try:
        builder.build(corpus, resume=True)
    except ValueError:
        builder.build(corpus, resume=False)
    eng = SearchEngine(IndexReader(spark, idx_dir))
    _ENGINES[key] = eng
    return eng


def _engine_merged(spark: SparkSession, sf_dir: str):
    """Two shard indexes built independently over a disjoint doc_id
    split of the corpus, combined by index/merge.py — the
    IndexWriter.addIndexes analog (public Lucene.NET API the
    reference inherits; the distributed-build pattern at scale:
    shard the corpus, build each shard as its own job, merge without
    re-tokenizing). Scores over the merged index are exactly the
    single-build scores: stats merge by exact integer sums (same
    avgdl float op), dictionary df/cf by sums over doc-disjoint
    sources, and block-max tfnorms are rescaled under the merged
    avgdl — so the q01 oracle applies verbatim."""
    key = os.path.abspath(sf_dir) + "#merged"
    if key in _ENGINES:
        return _ENGINES[key]
    _ensure_pkg(spark)
    from codeindex_spark.index.build import (
        CONTENT_TRIGRAM_FIELDS,
        IndexParams,
    )
    from codeindex_spark.index.merge import merge_indexes
    from codeindex_spark.index.segments import IndexBuilder, IndexReader
    from codeindex_spark.query.planner import SearchEngine

    base = _index_cache_dir(key, sf_dir)
    merged_dir = os.path.join(base, "m")
    if not os.path.exists(
        os.path.join(merged_dir, "manifest", "_finalized.json")
    ):
        params = IndexParams(
            num_buckets=16, block_size=128, fields=CONTENT_TRIGRAM_FIELDS
        )
        docs = _load(spark, sf_dir, "documents")
        # deliberately unequal shards (1/3 vs 2/3) so the docID spans
        # and block-aligned offsets differ between sources
        for name, shard in (
            ("a", docs.filter(F.col("doc_id") % 3 == 0)),
            ("b", docs.filter(F.col("doc_id") % 3 != 0)),
        ):
            b = IndexBuilder(
                spark, os.path.join(base, name), params, n_groups=1
            )
            try:
                b.build(_as_corpus(shard), resume=True)
            except ValueError:
                b.build(_as_corpus(shard), resume=False)
        merge_indexes(
            spark,
            [os.path.join(base, "a"), os.path.join(base, "b")],
            merged_dir,
        )
    eng = SearchEngine(IndexReader(spark, merged_dir))
    _ENGINES[key] = eng
    return eng


def _orig_ids(eng, result: DataFrame, extra=()) -> DataFrame:
    """Map engine doc_ids back to the driver's documents.doc_id."""
    docs = eng.reader.docs.select(
        "doc_id",
        F.regexp_extract("path", r"/(\d+)\.txt$", 1).cast("long").alias("orig_id"),
    )
    cols = [F.col("orig_id").alias("doc_id"), *extra]
    return result.join(docs, "doc_id").select(*cols)


# oracle tokenization CTE (documents.text is strictly [a-z ]+ at every
# sf — verified — so whitespace split == the engine tokenizer there)
_TOK = """
tok AS (
  SELECT d.doc_id, t.term, t.pos
  FROM documents d, LATERAL (
    SELECT unnest(string_split(d.text, ' ')) AS term,
           generate_subscripts(string_split(d.text, ' '), 1) AS pos
  ) t
  WHERE t.term <> ''
)
"""

# Generic per-(doc, term) BM25 contribution CTE — the scaffold behind
# the score-verified oracles for boolean/phrase/wildcard/fuzzy shapes.
# Scoring contract (codeindex_spark/query/oracle.py:11-17):
#   leaf   = Σ over expansions of idf*tfnorm
#   AND    = docs in all children, score = Σ child scores
#   OR     = union, score = Σ child scores
#   NOT    = positive docs minus negative docs (scores unchanged)
#   phrase = adjacency gate; score = Σ slot-expansion terms present
# Float op order matches the engine exactly (see memory: DuckDB
# DECIMAL literals; (1.2::DOUBLE + 1.0::DOUBLE) mirrors Python).
_CONTRIB_BODY = """,
dl AS (SELECT doc_id, count(*) AS dl FROM {src} GROUP BY doc_id),
nn AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
ad AS (SELECT sum(dl)::DOUBLE / (SELECT n_docs FROM nn) AS avgdl FROM dl),
tfa AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
        FROM {src} GROUP BY doc_id, term),
dfa AS (SELECT term, count(*)::DOUBLE AS df FROM tfa GROUP BY term),
contrib AS (
  SELECT tfa.doc_id, tfa.term,
         ln(1.0::DOUBLE + ((SELECT n_docs FROM nn) - dfa.df + 0.5::DOUBLE)
                          / (dfa.df + 0.5::DOUBLE))
         * (tfa.tf * (1.2::DOUBLE + 1.0::DOUBLE)
            / (tfa.tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
               + 0.75::DOUBLE * dl.dl / (SELECT avgdl FROM ad)))) AS c
  FROM tfa JOIN dfa USING (term) JOIN dl USING (doc_id))
"""

_CONTRIB = _TOK + _CONTRIB_BODY.format(src="tok")

# the cased twin field: the same casing rule _as_corpus applies
_TOK_CS = (
    _TOK
    + """,
tokcs AS (
  SELECT doc_id,
         CASE WHEN length(term) >= 6 THEN upper(term) ELSE term END AS term,
         pos
  FROM tok)"""
)

_CONTRIB_CS = _TOK_CS + _CONTRIB_BODY.format(src="tokcs")

# BM25 scaffold with float op order matching the engine exactly
_BM25 = (
    _TOK
    + """,
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
nn AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
ad AS (SELECT sum(dl)::DOUBLE / (SELECT n_docs FROM nn) AS avgdl FROM dl),
tf AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM tok WHERE term = '{term}' GROUP BY doc_id),
dfq AS (SELECT count(*)::DOUBLE AS df FROM tf)
SELECT tf.doc_id,
       round(
         ln(1.0::DOUBLE + ((SELECT n_docs FROM nn) - (SELECT df FROM dfq) + 0.5::DOUBLE)
                          / ((SELECT df FROM dfq) + 0.5::DOUBLE))
         * (tf.tf * (1.2::DOUBLE + 1.0::DOUBLE)
            / (tf.tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
               + 0.75::DOUBLE * dl.dl / (SELECT avgdl FROM ad)))),
       6) AS score
FROM tf JOIN dl USING (doc_id)
ORDER BY score DESC, doc_id
LIMIT {k}
"""
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the inverted index over sf0.001 documents and
    run a BM25 top-10 keyword query through the full engine path."""
    eng = _engine(spark, "/root/testdata/sf0.001")
    return _bm25_topk_orig(eng, "spark", 10)


def _bm25_topk_orig(eng, query: str, k: int) -> DataFrame:
    """Top-k with the oracle-aligned tie-break: round(score, 6) desc,
    ORIGINAL doc_id asc — ties at the k boundary resolve identically
    in Spark and DuckDB."""
    scored = eng.score(query)
    out = _orig_ids(eng, scored, extra=[F.round("score", 6).alias("score")])
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


# ---------------------------------------------------------------- queries


def _q_bm25_topk(spark, sf_dir):
    return _bm25_topk_orig(_engine(spark, sf_dir), "spark", 10)


def _SCORE():
    # built lazily: constructing a Column at module import time
    # requires an active SparkContext, and the driver may import this
    # module before it creates its session
    return (F.round("score", 6).alias("score"),)


def _q_bool_and(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return _orig_ids(eng, eng.score("merge AND batch"), extra=_SCORE())


def _q_bool_or_not(spark, sf_dir):
    # parses as: sort OR (merge NOT spark)
    eng = _engine(spark, sf_dir)
    return _orig_ids(eng, eng.score("sort OR merge NOT spark"), extra=_SCORE())


def _q_phrase(spark, sf_dir):
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    return _orig_ids(
        eng, eng.score(ast.parse_phrase_query("fast sort")), extra=_SCORE()
    )


def _q_forpack_phrase(spark, sf_dir):
    """FOR bit-packed posting codec (IndexParams.codec="forpack",
    encoding.py forpack_*): the q04 phrase query over an index whose
    posting byte streams are FOR bit-packed instead of LEB128 varint.
    Phrase scoring decodes every stream family (docs/tfs/dls/
    pos_counts/pos_deltas) through the forpack path, so a green row
    proves the codec is invisible to results — same oracle as q04."""
    from codeindex_spark.query import ast

    eng = _engine_forpack(spark, sf_dir)
    return _orig_ids(
        eng, eng.score(ast.parse_phrase_query("fast sort")), extra=_SCORE()
    )


def _q_phrase_wildcard(spark, sf_dir):
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    return _orig_ids(
        eng, eng.score(ast.parse_phrase_query("fast s*")), extra=_SCORE()
    )


def _q_phrase_slop(spark, sf_dir):
    # '"fast sort"~2': Lucene SloppyPhraseScorer semantics (the
    # classic-QueryParser proximity surface, QueryGenerator.cs:217) —
    # normalized span |(p_sort - 1) - p_fast| <= 2, so out-of-order
    # occurrences match once slop covers the reorder cost
    eng = _engine(spark, sf_dir)
    return _orig_ids(eng, eng.score('"fast sort"~2'), extra=_SCORE())


def _q_phrase_slop_reordered(spark, sf_dir):
    # '"sort fast"~2': the REVERSED phrase — matches adjacent
    # "fast sort" text because a swap of two terms costs 2 slop
    # (PhraseQuery.setSlop's documented edit distance). Pins the r4
    # out-of-order semantics through the driver.
    eng = _engine(spark, sf_dir)
    return _orig_ids(eng, eng.score('"sort fast"~2'), extra=_SCORE())


def _q_phrase_slop_inorder(spark, sf_dir):
    # Phrase(in_order=True): the SpanNear(inOrder=true) variant kept
    # available on the AST (not reachable from parser syntax)
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    return _orig_ids(
        eng,
        eng.score(ast.Phrase(("fast", "sort"), slop=2, in_order=True)),
        extra=_SCORE(),
    )


def _q_boosted_or(spark, sf_dir):
    # 'fast^2 OR sort': clause boost scales the leaf contribution;
    # factor 2 is a power of two so rounding commutes and the DuckDB
    # oracle (2*c) is bit-exact against the engine (idf*2)*tfnorm
    eng = _engine(spark, sf_dir)
    return _orig_ids(eng, eng.score("fast^2 OR sort"), extra=_SCORE())


def _q_bool_clauses(spark, sf_dir):
    # Lucene classic +/- clauses (QueryParserBase MUST/SHOULD/
    # MUST_NOT, reachable via QueryGenerator.cs:217-222): docs MUST
    # contain 'merge', MUST NOT contain 'spark'; 'batch' only adds
    # its BM25 contribution where it happens to match
    eng = _engine(spark, sf_dir)
    return _orig_ids(eng, eng.score("+merge batch -spark"), extra=_SCORE())


def _q_synonym_blend(spark, sf_dir):
    # Lucene SynonymQuery (lucene/core SynonymQuery.java public
    # semantics): the group scores as ONE pseudo-term — member term
    # frequencies SUM per doc BEFORE BM25 saturation, blended docFreq
    # = MAX over members. Observably different from 'fast OR sort'
    # (which saturates each term separately, then sums). Built
    # programmatically: Lucene emits these from analyzer synonym
    # graphs, not parser syntax.
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    node = ast.Synonyms(("fast", "sort"))
    return _orig_ids(eng, eng.score(node), extra=_SCORE())


def _q_span_first(spark, sf_dir):
    # Lucene SpanFirstQuery (lucene SpanFirstQuery.java public
    # semantics): match 'sort' only at 0-based token position < 30
    # (span end <= 30); freq = the restricted occurrence count, idf
    # from the term's FULL docFreq (SpanWeight term statistics).
    # Programmatic node — Lucene span queries have no parser syntax.
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    return _orig_ids(eng, eng.score(ast.SpanFirst("sort", 30)), extra=_SCORE())


def _q_span_first_or(spark, sf_dir):
    # SpanFirstQuery over a SpanOr inner span (r5 nested span
    # composition, SpanFirstQuery.java + SpanOrQuery.java public
    # semantics): either member binds a restricted position; freq =
    # the union count of 0-based positions < 25, saturated once;
    # idf = SUM of the present members' FULL-df idfs (SpanWeight
    # gathers every term's statistics; BM25 sums idfExplain terms).
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    node = ast.SpanFirst(("fast", "slow"), 25)
    return _orig_ids(eng, eng.score(node), extra=_SCORE())


def _q_span_not_or(spark, sf_dir):
    # SpanNotQuery with SpanOr clauses on BOTH sides (r5): an
    # include occurrence of 'sort' or 'merge' at position p survives
    # iff neither 'fast' nor 'slow' occurs in [p-1, p+2]; freq = the
    # surviving union count saturated once; idf = SUM of the include
    # members' FULL-df idfs (exclude gates, never contributes
    # statistics).
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    node = ast.SpanNot(("sort", "merge"), ("fast", "slow"), pre=1, post=2)
    return _orig_ids(eng, eng.score(node), extra=_SCORE())


def _q_dismax(spark, sf_dir):
    # Lucene DisjunctionMaxQuery (DisjunctionMaxQuery.java public
    # semantics): score = max child + tie_breaker * (sum of the other
    # matching children) over the union — the "best field wins"
    # query. Programmatic node; no classic-parser syntax.
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    node = ast.DisMax((ast.Term("fast"), ast.Term("sort")), tie_breaker=0.3)
    return _orig_ids(eng, eng.score(node), extra=_SCORE())


def _q_constant_score(spark, sf_dir):
    # Lucene ConstantScoreQuery: every doc matching the child scores
    # exactly the boost (the query-as-filter wrapper / CONSTANT_SCORE
    # multi-term rewrite). Programmatic node.
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    node = ast.ConstantScore(
        ast.Or((ast.Term("fast"), ast.Term("sort"))), boost=2.5
    )
    return _orig_ids(eng, eng.score(node), extra=_SCORE())


def _q_span_or(spark, sf_dir):
    # Lucene SpanOrQuery (SpanOrQuery.java + SpanWeight public
    # semantics): union of single-term spans — freq = summed member
    # tf (two terms never share a position), idf = SUM of the
    # members' idfs (BM25Similarity over multiple TermStatistics),
    # observably different from both OR and SynonymQuery. Two members
    # keep the idf sum order-independent (IEEE + is commutative).
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    return _orig_ids(
        eng, eng.score(ast.SpanOr(("fast", "sort"))), extra=_SCORE()
    )


def _q_min_should_match(spark, sf_dir):
    # Lucene BooleanQuery.Builder.setMinimumNumberShouldMatch(2)
    # (public semantics, MinShouldMatchSumScorer): match docs holding
    # >= 2 of the three SHOULD terms; score = sum of the MATCHING
    # clause contributions (a filter, never a re-score). Programmatic
    # — the classic parser has no syntax for msm.
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    node = ast.Bool(
        should=(ast.Term("fast"), ast.Term("sort"), ast.Term("merge")),
        min_should_match=2,
    )
    return _orig_ids(eng, eng.score(node), extra=_SCORE())


def _q_span_not(spark, sf_dir):
    # Lucene SpanNotQuery (SpanNotQuery.java public semantics):
    # occurrences of 'sort' with no 'merge' within a [-2, +2] token
    # window; freq = surviving count, idf = the include term's FULL
    # docFreq (SpanWeight term statistics). Programmatic span node.
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    node = ast.SpanNot("sort", "merge", pre=2, post=2)
    return _orig_ids(eng, eng.score(node), extra=_SCORE())


def _q_wildcard(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return _orig_ids(eng, eng.score("sc*"), extra=_SCORE())


def _q_term_regexp(spark, sf_dir):
    # '/(qu|s).*t/': classic-parser forward-slash regexp — anchored
    # full match expanded against the dictionary (Lucene RegexpQuery
    # semantics), per-term BM25 contributions summed
    eng = _engine(spark, sf_dir)
    return _orig_ids(eng, eng.score("/(qu|s).*t/"), extra=_SCORE())


def _q_regexp_extended(spark, sf_dir):
    # Lucene RegexpQuery EXTENDED operators — '&' intersection, '~'
    # complement, '@' any-string (RegExp.java optional syntax; the
    # reference's classic parser exposes RegexpQuery wholesale,
    # QueryGenerator.cs:217-222). '(s|t)@&~(@(ing|ed))' = terms that
    # start with s or t AND do not end in ing/ed. No Java-regex
    # spelling exists for & and ~: the pattern compiles to a DFA
    # (query/luceneregex.py — Thompson NFA, subset determinization,
    # complement via accept-flip on the completed DFA) and the term
    # dictionary is verified by a vectorized Arrow kernel on the
    # executors, pruned by the DFA's forced literal prefix.
    eng = _engine(spark, sf_dir)
    return _orig_ids(
        eng, eng.score("/(s|t)@&~(@(ing|ed))/"), extra=_SCORE()
    )


def _q_bool_filter(spark, sf_dir):
    # Lucene BooleanClause.Occur.FILTER (BooleanQuery.java): filter
    # clauses gate the match exactly like MUST but contribute ZERO
    # score — the query-as-filter clause IndexSearcher never scores.
    # Docs containing BOTH 'table' and 'sort' match; the optional
    # SHOULD 'spark' adds its BM25 contribution where present, so
    # filter-only matches legitimately score 0.0 (Lucene behaviour).
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    node = ast.Bool(
        should=(ast.Term("spark"),),
        filter=(ast.Term("table"), ast.Term("sort")),
    )
    return _orig_ids(eng, eng.score(node), extra=_SCORE())


def _q_check_index(spark, sf_dir):
    # CheckIndex analog (index/check.py): verify every posting-stream
    # and dictionary invariant of the standard entry index — decoded
    # docIDs sorted and in-block, stream lengths exact for both
    # codecs, tf>=1, row cf == sum(tf), block_max_tfnorm bit-equal to
    # the recomputed max (an understated max silently breaks WAND),
    # positions consistent with tf (or absent on positionless
    # fields), and term_dict df/cf == posting aggregates. The oracle
    # is the full (check x field) grid at zero violations — n_checked
    # is index-geometry-dependent (blocks), so the entry projects it
    # away and pytest (test_check_index.py) pins that each check
    # actually exercises work and detects seeded corruption.
    eng = _engine(spark, sf_dir)
    from codeindex_spark.index.check import check_index

    return check_index(eng.reader).select(
        "check", "field", F.col("n_violations").cast("long").alias(
            "n_violations"
        )
    )


def _q_merged_search(spark, sf_dir):
    # addIndexes analog (index/merge.py): the corpus is split 1/3 vs
    # 2/3 on doc_id, each shard indexed as its own job, the two
    # indexes merged WITHOUT re-tokenizing (block-aligned docID
    # shift + exact stats/df merge + block-max rescale under merged
    # avgdl), and BM25 top-10 served from the merged index. The
    # oracle is q01's verbatim — merged-index scores must equal
    # single-build scores bit-for-bit after round(,6), and the
    # tie-break is on ORIGINAL doc_id, which survives the merge.
    return _bm25_topk_orig(_engine_merged(spark, sf_dir), "spark", 10)


def _q_search_after(spark, sf_dir):
    # IndexSearcher.searchAfter deep paging: page 1 = top-10, page 2
    # = the next 8 strictly after page 1's last (score, doc_id)
    # anchor. The entry returns page1 UNION page2 and the oracle is
    # the flat top-18 — equality proves the pagination contract (no
    # duplicate, no gap, exact anchor semantics) against an
    # independent ranking. Only the 10-row page-1 anchor fetch
    # touches the driver. 18 because the sets can only agree when no
    # score tie straddles the LAST collected rank (internal vs
    # original doc_id tie order — the same boundary exposure every
    # top-k entry accepts): verified tie-free for "spark" at rank
    # 18/19 at all three SFs, while 20/21 ties at sf0.1.
    eng = _engine(spark, sf_dir)
    p1 = eng.search("spark", k=10)
    anchor = p1.collect()[-1]
    p2 = eng.search_after(
        "spark", after=(anchor["score"], anchor["doc_id"]), k=8
    )
    both = p1.select("doc_id", "score").unionByName(
        p2.select("doc_id", "score")
    )
    return _orig_ids(eng, both, extra=_SCORE())


def _q_count(spark, sf_dir):
    # IndexSearcher.count() surface (TotalHitCountCollector; the
    # reference surfaces TotalHits through CodeIndexSearcher): total
    # hit counts without any top-k collection. The lone Term takes
    # the dictionary-df short circuit (one point lookup, zero posting
    # decode — the reader here has no tombstones); the other shapes
    # count the match stream (one decode pass, no sort, no driver
    # materialization of matches).
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    rows = [
        ("term_merge", eng.count(ast.Term("merge"))),
        ("bool_and", eng.count("merge AND batch")),
        ("bool_or_not", eng.count("sort OR merge NOT spark")),
        (
            "phrase_fast_sort",
            eng.count(ast.parse_phrase_query("fast sort")),
        ),
    ]
    return spark.createDataFrame(rows, "q string, n_hits long")


def _q_collapse_lang(spark, sf_dir):
    # Lucene field-collapse / grouping (grouping module TopGroups;
    # CollapsingTopDocsCollector for one-per-group): best 2 hits per
    # lang for 'merge OR sort', global top-12 by (score desc, path
    # asc). The tie field is the stored path (unique per doc) so
    # ranking is reproducible across rebuilds; orig doc_id is
    # recovered from it. Collapse runs as per-partition partial
    # top-n (map-side combine) + a bounded row_number window — never
    # a full-match-set shuffle into #langs tasks.
    eng = _engine(spark, sf_dir)
    out = eng.search_collapse("merge OR sort", "lang", k=12, per_group=2)
    return out.select(
        F.regexp_extract("path", r"/(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        "lang",
        F.round("score", 6).alias("score"),
    )


def _q_sort_fields(spark, sf_dir):
    # Lucene Sort / SortField (IndexSearcher.search(query, n, sort);
    # TopFieldCollector): the query defines the match set, stored
    # fields define the order — (lang asc, path desc), top-15.
    # Lowers to TakeOrderedAndProject: per-partition bounded heap,
    # no global sort. path is doc-unique so the trailing internal
    # docID tie-break is never reached and the oracle replays the
    # ordering exactly.
    eng = _engine(spark, sf_dir)
    out = eng.search_sorted(
        "merge AND batch", [("lang", "asc"), ("path", "desc")], k=15
    )
    return out.select(
        F.regexp_extract("path", r"/(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        "lang",
        F.round("score", 6).alias("score"),
    )


def _q_top_terms(spark, sf_dir):
    # Lucene HighFreqTerms (misc module; Luke's "top terms"): the 25
    # highest-df terms of the content field with (df, cf), answered
    # straight from the term dictionary parquet — field directory
    # pruned, zero posting decode.
    eng = _engine(spark, sf_dir)
    return eng.top_terms("content", n=25).select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.col("cf").cast("long").alias("cf"),
    )


def _q_parent_join(spark, sf_dir):
    # ToParentBlockJoinQuery ScoreMode semantics (Lucene join
    # module): the query matches child docs (files), results are
    # parents (repos) scored by aggregating their matching children
    # — ScoreMode.Total here, with the child count alongside. All 20
    # repos returned (k = #parents) so no tie can straddle the cut.
    eng = _engine(spark, sf_dir)
    out = eng.join_to_parent("merge OR sort", "repo", score_mode="total", k=50)
    return out.select(
        "repo",
        F.round("score", 6).alias("score"),
        F.col("n_children").cast("long").alias("n_children"),
    )


def _q_grouped_repo(spark, sf_dir):
    # Lucene grouping module TopGroups (two-pass: FirstPass selects
    # the top-5 groups by best score, SecondPass the top-2 docs each):
    # unlike q50's flat collapse, each row carries the group's rank,
    # its TOTAL hit count (totalGroupedHitCount) and best score. Pass
    # 1 is a map-side-combinable agg + bounded heap; pass 2 broadcast
    # semi-joins the tiny group list back into the match stream.
    eng = _engine(spark, sf_dir)
    out = eng.search_groups("merge OR sort", "repo", n_groups=5, per_group=2)
    return out.select(
        "repo",
        F.col("group_rank").cast("int").alias("group_rank"),
        F.col("group_hits").cast("long").alias("group_hits"),
        F.round("group_score", 6).alias("group_score"),
        F.regexp_extract("path", r"/(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("doc_rank").cast("int").alias("doc_rank"),
    )


def _q_facet_drill(spark, sf_dir):
    # Lucene taxonomy facets with drill-down (facets module;
    # DrillDownQuery + Facets.getTopChildren): level-0 children of
    # the matching docs' paths (the sources), then drill into src3/
    # and count its leaf children (top-5). Split/element_at are JVM
    # expressions; each level is one map-side-combinable groupBy over
    # the child fan-out, never the match set.
    eng = _engine(spark, sf_dir)
    top = eng.facet_path_counts("merge OR sort").withColumn(
        "under", F.lit("")
    )
    drill = eng.facet_path_counts(
        "merge OR sort", under="src3", top_values=5
    ).withColumn("under", F.lit("src3"))
    return top.unionByName(drill).select(
        "under", "child", F.col("n_docs").cast("long").alias("n_docs")
    )


def _q_join_query(spark, sf_dir):
    # Lucene join module JoinUtil.createJoinQuery (query-time join,
    # distinct from q53's block join): run the from-query, aggregate
    # its scores per repo (ScoreMode.Max), return ALL docs of the
    # joined repos — including docs that do not match the from-query
    # — each scored with its repo's aggregate. The from-side agg is
    # map-side combinable at join-key cardinality and broadcasts to
    # the to-side scan; no doc-level shuffle. k = top-40 by (score
    # desc, path asc), tie-free because path is doc-unique.
    eng = _engine(spark, sf_dir)
    out = eng.join_from_query(
        "merge AND batch", "repo", score_mode="max", k=40
    )
    return out.select(
        F.regexp_extract("path", r"/(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("repo"),
        F.round("score", 6).alias("score"),
    )


def _q_best_fragments(spark, sf_dir):
    # Lucene Highlighter getBestFragments (SimpleFragmenter +
    # QueryTermScorer): best 2 sixteen-token windows per matching doc
    # ranked by matched-term count. k covers the whole match set so
    # no top-k tie can straddle a cut; the oracle replays window
    # arithmetic from token positions. Fragment text is exercised by
    # pytest (the sf corpus's content is deterministically re-cased,
    # so the hash compares the position/count contract instead).
    from codeindex_spark.query.present import best_fragments

    eng = _engine(spark, sf_dir)
    out = best_fragments(
        eng, "merge AND batch", k=1_000_000,
        fragment_tokens=16, n_fragments=2,
    )
    return _orig_ids(
        eng,
        out,
        extra=[
            F.col("frag_idx").cast("long").alias("frag_idx"),
            F.col("n_hits").cast("long").alias("n_hits"),
        ],
    )


def _q_mlt_text(spark, sf_dir):
    # MoreLikeThis.like(Reader): similarity query from ARBITRARY text
    # (no stored source doc, so nothing is excluded). The literal's
    # term freqs (merge 3, batch 2, sort 2; fast/table/scan fall
    # below minTermFreq=2) are what the oracle's VALUES list pins.
    eng = _engine(spark, sf_dir)
    text = "merge batch merge sort fast table scan merge batch sort"
    return _orig_ids(eng, eng.more_like_text(text, k=10), extra=_SCORE())


def _q_percolate_indexed(spark, sf_dir):
    # The percolator's SCALE path: an index-of-queries join
    # (presearcher anchors ⋈ doc vocabularies) instead of a broadcast
    # registry — same six query shapes and the same oracle as
    # pc_percolate, proving the two routes agree through the driver
    # harness. ph is passed as its string form ('"fast sort"'): the
    # distributed variant is strings-only.
    from codeindex_spark.query.percolate import percolate_indexed

    qdf = spark.createDataFrame(
        [
            ("t", "merge"),
            ("a", "merge AND batch"),
            ("on", "sort OR merge NOT spark"),
            ("ph", '"fast sort"'),
            ("w", "sc*"),
            ("fz", "spak~1"),
        ],
        "query_id string, query string",
    )
    docs = _load(spark, sf_dir, "documents")
    return percolate_indexed(docs, qdf, id_col="doc_id", text_col="text")


def _q_index_stats(spark, sf_dir):
    # CollectionStatistics / Terms surface (Terms.getDocCount,
    # getSumDocFreq, getSumTotalTermFreq; Luke's overview tab):
    # content-field stats from the build-time sidecar + ONE
    # dictionary groupBy — postings never touched.
    eng = _engine(spark, sf_dir)
    out = eng.index_stats(["content"])
    return out.select(
        "field",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round("avgdl", 6).alias("avgdl"),
        F.col("n_terms").cast("long").alias("n_terms"),
        F.col("sum_df").cast("long").alias("sum_df"),
        F.col("sum_cf").cast("long").alias("sum_cf"),
    )


def _q_percolate(spark, sf_dir):
    # Percolation — reverse search (Lucene Monitor / Luwak;
    # Elasticsearch percolate): 6 registered query shapes matched
    # against every document in one stateless mapInPandas pass.
    # Matching is document-centric and corpus-stat-free, so the
    # per-Arrow-batch in-memory index (Monitor's MemoryIndex-per-
    # batch pattern) is exact; a presearcher term filter skips
    # queries whose required terms miss the batch vocabulary.
    from codeindex_spark.query import ast as qast
    from codeindex_spark.query.percolate import percolate

    registry = {
        "t": "merge",
        "a": "merge AND batch",
        "on": "sort OR merge NOT spark",
        "ph": qast.parse_phrase_query("fast sort"),
        "w": "sc*",
        "fz": "spak~1",
    }
    docs = _load(spark, sf_dir, "documents")
    return percolate(docs, registry, id_col="doc_id", text_col="text")


def _q_span_near_or(spark, sf_dir):
    # nested span composition — Lucene SpanNearQuery over a SpanOr
    # clause (SpanNearQuery.java; clause trees are how Lucene users
    # compose spans programmatically): (fast|slow) immediately
    # followed by 'sort'. The SpanOr clause becomes a tuple slot in
    # the phrase kernel: any member may bind the slot's position;
    # score = sum of each member term's idf*tfnorm contribution in
    # the matched doc (per-term statistics, the span-family
    # contract). Also gives synonym-in-phrase for free.
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    node = ast.SpanNear(
        [ast.SpanOr(("fast", "slow")), "sort"], slop=0, in_order=True
    )
    return _orig_ids(eng, eng.score(node), extra=_SCORE())


def _q_term_range(spark, sf_dir):
    # '[query TO sort}': classic-parser term range, mixed inclusivity
    # (includes 'query', excludes 'sort') — expands against the
    # dictionary slice and sums per-term BM25 like any multi-term leaf
    eng = _engine(spark, sf_dir)
    return _orig_ids(eng, eng.score("[query TO sort}"), extra=_SCORE())


def _q_fuzzy(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return _orig_ids(eng, eng.score("spak~1"), extra=_SCORE())


def _q_case_sensitive(spark, sf_dir):
    """Case-sensitive term query on the content_cs twin field
    (reference: CodeIndexBuilder.cs:481-484 ContentCaseSensitive,
    IndexMaintainerWrapper.cs:38-45 parser wrapper). The corpus
    casing rule uppercases words of length >= 6, so 'STREAM' exists
    only in the cased field."""
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    return _orig_ids(
        eng, eng.score(ast.Term("STREAM", "content_cs")), extra=_SCORE()
    )


def _q_cs_negative(spark, sf_dir):
    """The lowercase variant must NOT match case-sensitively — pins
    that the cs field preserves case instead of lowercasing."""
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    return _orig_ids(
        eng, eng.score(ast.Term("stream", "content_cs")), extra=_SCORE()
    )


def _q_batch_search(spark, sf_dir):
    """Batch multi-query execution: three query shapes share ONE
    posting scan + shuffle + kernel job (search_many). Results are
    per-query identical to the solo paths."""
    eng = _engine(spark, sf_dir)
    batch = {
        "and": "merge AND batch",
        "or": "sort OR merge NOT spark",
        "wild": "sc*",
    }
    res = eng.search_many(batch, k=10**6)
    docs = eng.reader.docs.select(
        "doc_id",
        F.regexp_extract("path", r"/(\d+)\.txt$", 1)
        .cast("long")
        .alias("orig_id"),
    )
    return res.join(docs, "doc_id").select(
        "query",
        F.col("orig_id").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def _q_path_substring(spark, sf_dir):
    """Substring path search via the path_trigram n-gram field
    (north_star 'path n-grams'): trigram posting intersection prunes
    candidates, exact contains() verifies."""
    eng = _engine(spark, sf_dir)
    res = eng.search_path_substring("c3/1")
    return res.select(
        F.regexp_extract("path", r"/(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id")
    )


def _q_term_dict(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return eng.reader.term_dict.filter(F.col("field") == "content").select(
        "term", F.col("df").cast("long").alias("df"), F.col("cf").cast("long").alias("cf")
    )


def _q_hints(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return eng.hints("sc", limit=20)


def _q_field_filtered(spark, sf_dir):
    from codeindex_spark.query.planner import Filters

    eng = _engine(spark, sf_dir)
    scored = eng.score("spark")
    allowed = Filters(lang="en").apply(eng.reader.docs).select("doc_id")
    return _orig_ids(
        eng, scored.join(allowed, "doc_id", "left_semi"), extra=_SCORE()
    )


def _q_path_term(spark, sf_dir):
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    return _orig_ids(eng, eng.score(ast.Term("src3", "file_path")), extra=_SCORE())


def _q_content_substring(spark, sf_dir):
    """Substring CONTENT search via the opt-in content_trigram field
    (Cox trigram index / Zoekt, public design): rarest-trigram posting
    intersection prunes candidates; exact contains() verifies. The
    needle crosses a word boundary, so no token query could express
    it."""
    eng = _engine(spark, sf_dir)
    res = eng.search_content_substring("ge sor", with_counts=True)
    return res.select(
        F.regexp_extract("path", r"/(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        "n_matches",
    )


def _q_content_regex(spark, sf_dir):
    """Regex content search with required-literal trigram prefilter
    (swtch.com/~rsc/regexp/regexp4.html): literals 'merge ' / ' sort'
    are extracted from the pattern, their rarest trigrams prune
    candidates, rlike verifies. Case-insensitive so the cased content
    field matches the lowercase sf text."""
    eng = _engine(spark, sf_dir)
    res = eng.search_content_regex(
        r"merge [a-z]+ sort", case_sensitive=False
    )
    return res.select(
        F.regexp_extract("path", r"/(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id")
    )


def _q_substring_batch(spark, sf_dir):
    """Batch multi-needle substring sweep: one dictionary job + one
    posting/kernel job + one pushdown verify scan for all needles."""
    eng = _engine(spark, sf_dir)
    res = eng.search_content_substring_many(
        {"a": "ge sor", "b": "rt mer", "c": "w fast"}
    )
    return res.select(
        "needle",
        F.regexp_extract("path", r"/(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
    )


def _q_regex_batch(spark, sf_dir):
    """Batch regex sweep: one dictionary job + one posting/kernel job
    + one pushdown verify for all patterns (Java/RE2-portable
    patterns, no lookaround)."""
    eng = _engine(spark, sf_dir)
    res = eng.search_content_regex_many(
        {
            "a": r"merge [a-z]+ sort",
            "b": r"fast (sort|merge)",
            "c": r"batch [a-z]+ [a-z]+ index",
        },
        case_sensitive=False,
    )
    return res.select(
        "pattern",
        F.regexp_extract("path", r"/(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
    )


def _q_grep_lines(spark, sf_dir):
    """Matched-line display for substring search (grep shape): JVM
    array transform/filter/slice over trigram-pruned candidates —
    sf docs are single-line, so each hit yields line 1."""
    from codeindex_spark.query.present import grep_matched_lines

    eng = _engine(spark, sf_dir)
    return grep_matched_lines(eng, "ge sor").select(
        F.regexp_extract("path", r"/(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("line_number").cast("long").alias("line_number"),
        "line_text",
    )


def _q_filename_term(spark, sf_dir):
    """Tokenized file-name field search (reference FileName TextField,
    IndexBuilderHelper.cs:25). Engine names tokenize to exactly
    (digits, '.', 'txt') so dl == avgdl and score == idf."""
    from codeindex_spark.query import ast

    eng = _engine(spark, sf_dir)
    return _orig_ids(eng, eng.score(ast.Term("txt", "file_name")), extra=_SCORE())


def _q_term_interval(spark, sf_dir):
    """Lucene RegexpQuery numeric interval (RegExp.java INTERVAL
    syntax, r4): /<10-25>/ on the file_name field. Engine file names
    are '<doc_id>.txt', so the interval's dictionary expansion hits
    exactly the digit tokens 10..25 (df=1 each, dl == avgdl, so score
    == idf — same closed form as q18)."""
    from codeindex_spark.query import ast as qast

    eng = _engine(spark, sf_dir)
    return _orig_ids(
        eng, eng.score(qast.Regexp("<10-25>", "file_name")), extra=_SCORE()
    )


def _q_pk_lookup(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    row = _load(spark, sf_dir, "documents").filter(F.col("doc_id") == 42).first()
    pk = hashlib.sha256(
        f"{row['source']}\x1f{row['source']}/42.txt\x1fc000000000000".encode()
    ).hexdigest()
    return _orig_ids(
        eng, eng.lookup_pk(pk).select("doc_id", "lang"), extra=[F.col("lang")]
    )


def _q_scan_filter_project(spark, sf_dir):
    return (
        _load(spark, sf_dir, "documents")
        .filter((F.col("lang") == "en") & (F.col("n_chars") > 300))
        .select("doc_id", "n_chars")
    )


def _q_doc_len(spark, sf_dir):
    from codeindex_spark.ops.analysis import token_stats

    return token_stats(_load(spark, sf_dir, "documents")).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens")
    )


def _q_dedup_exact(spark, sf_dir):
    from codeindex_spark.ops.dedup import exact_duplicates

    return exact_duplicates(_load(spark, sf_dir, "documents")).select(
        "text_hash", F.col("n_docs").cast("long").alias("n_docs"), "keep_doc_id"
    )


def _q_dedup_jaccard(spark, sf_dir):
    from codeindex_spark.ops.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _load(spark, sf_dir, "documents"), n=3, threshold=0.1
    ).select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def _q_dedup_minhash(spark, sf_dir):
    from codeindex_spark.ops.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _load(spark, sf_dir, "documents"), n=3, num_hashes=8, band_size=2
    )


def _q_dedup_components(spark, sf_dir):
    from codeindex_spark.ops.dedup import (
        duplicate_components,
        minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(
        _load(spark, sf_dir, "documents"), n=3, num_hashes=8, band_size=2
    )
    return duplicate_components(pairs)


def _q_near_dedup_keep(spark, sf_dir):
    """Full dedup verdict: exact collapse -> LSH over representatives
    -> components -> one keeper per merged cluster. keep is cast to
    int for engine-portable hashing."""
    from codeindex_spark.ops.dedup import near_dedup_keep_list

    return near_dedup_keep_list(_load(spark, sf_dir, "documents")).select(
        "doc_id", "component", F.col("keep").cast("int").alias("keep")
    )


def _q_contamination(spark, sf_dir):
    """Decontamination sweep: every 97th doc plays the benchmark;
    5-gram collisions flag contaminated training docs (13 is the
    production default; 5 exercises the op on the short sf texts)."""
    from codeindex_spark.ops.dedup import contamination_overlaps

    docs = _load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return contamination_overlaps(docs, bench, n=5)


def _q_dedup_simhash(spark, sf_dir):
    from codeindex_spark.ops.dedup import simhash64

    return simhash64(_load(spark, sf_dir, "documents"))


def _q_hybrid_rrf(spark, sf_dir):
    """BM25 top-50 for 'spark' fused with cosine top-50 around the
    vec_id-0 embedding by reciprocal-rank fusion (rrf_k=60), top 10.
    vec_id is 1:1 with documents.doc_id at every sf dir."""
    from codeindex_spark.ops.hybrid import hybrid_search
    from codeindex_spark.ops.similarity import brute_force_cosine_topk

    eng = _engine(spark, sf_dir)
    lex = _bm25_topk_orig(eng, "spark", 50)
    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    sem = brute_force_cosine_topk(emb, list(qvec), k=50).select(
        F.col("vec_id").alias("doc_id"), F.col("cosine").alias("score")
    )
    # fuse the WHOLE candidate union (<= 100 docs), then round BEFORE
    # the final rank — the oracle's ORDER BY resolves the rounded
    # alias, so ranking unrounded scores could flip near-tie order
    # and top-10 membership at the boundary (same convention as
    # _bm25_topk_orig)
    fused = hybrid_search(lex, sem, rrf_k=60, k=100)
    return (
        fused.select(
            "doc_id", F.round("rrf_score", 6).alias("rrf_score"), "n_sources"
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(10)
    )


def _q_ann_cosine(spark, sf_dir):
    from codeindex_spark.ops.similarity import brute_force_cosine_topk

    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return brute_force_cosine_topk(
        emb, list(qvec), k=10, exclude_id=0
    ).select("vec_id")


def _q_margin_align(spark, sf_dir):
    """Margin-based cross-corpus alignment mining (Artetxe & Schwenk
    arXiv:1811.01136, the CCMatrix/LASER criterion; ops/similarity.py
    margin_knn_align): labels <5 vs >=5 as the two corpora, forward
    4-NN candidates scored by the ratio margin (cos over the mean of
    both endpoints' kNN cosines), threshold 1.02 (nearest margin sits
    1.5e-4 away at sf0.01 — safe against float-order divergence).
    Margin + cosine rounded to 5 dp for the value hash."""
    from codeindex_spark.ops.similarity import margin_knn_align

    emb = _load(spark, sf_dir, "embeddings")
    out = margin_knn_align(
        emb.filter(F.col("label") < 5),
        emb.filter(F.col("label") >= 5),
        k=4,
        threshold=1.02,
    )
    return out.select(
        "src_id",
        "dst_id",
        F.round("cosine", 5).alias("cosine"),
        F.round("margin", 5).alias("margin"),
    )


def _dd_semdedup_input(spark, sf_dir):
    """Embeddings plus deterministic exact-copy twins (every vec_id %
    10 == 0 duplicated at id + 1,000,000): the synthetic embeddings
    have no natural near-duplicates (max pairwise cosine 0.60), so
    the twins give the dedup a real removal set while staying exactly
    derivable by the numpy-replay oracle."""
    emb = _load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    return emb.unionByName(twins)


def _q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means clusters + within-cluster
    cosine >= 0.95 dedup, keeper = lowest centroid-similarity (id asc
    tie-break — exact twins tie on cent_sim, so the original id wins).
    Returns the full per-vector verdict (cluster, kept, dup_of);
    oracle is an independent numpy replay of the documented
    semantics inlined as VALUES."""
    from codeindex_spark.ops.similarity import semdedup

    out = semdedup(
        _dd_semdedup_input(spark, sf_dir),
        dim=64,
        threshold=0.95,
        n_centroids=8,
        sample=256,
    )
    return out.select(
        "vec_id",
        F.col("cluster").cast("long").alias("cluster"),
        "kept",
        "dup_of",
    )


def _q_nb_classifier(spark, sf_dir):
    """Model-based quality/domain filter (fastText-family linear
    classifier, here the closed-form NB log-count-ratio member —
    Wang & Manning 2012; the filtering role per CCNet / GPT-3 App. A
    / FineWeb-Edu): train on the doc_id %% 4 != 0 split with
    lang='en' as the target class, score the held-out quarter. The
    oracle replays the whole thing — featurization, counts, folded
    NB identity — in SQL. `kept` compares the ROUNDED score so the
    boolean can never disagree when the rounded scores agree."""
    from codeindex_spark.ops.classify import nb_score, nb_train

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    train = docs.filter(F.col("doc_id") % 4 != 0).withColumn(
        "is_en", F.col("lang") == "en"
    )
    model = nb_train(train, "is_en", num_buckets=512, alpha=1.0)
    out = nb_score(docs.filter(F.col("doc_id") % 4 == 0), model)
    r = F.round("nb_logodds", 6)
    return out.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        r.alias("nb_logodds"),
        (r >= 0).alias("kept"),
    )


def _cluster_assigned(spark, sf_dir):
    """Shared input for the cluster-curation entries: seeded spherical
    k-means (the IVF coarse quantizer, same 8/256/42 knobs as
    dd_semdedup) + deterministic per-row-reduction assignment."""
    from codeindex_spark.ops.cluster import cluster_assign
    from codeindex_spark.ops.similarity import ivf_train_centroids

    emb = _load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf_train_centroids(emb, dim=64, n_centroids=8, sample=256)
    return cluster_assign(emb, cents)


def _q_cluster_sample(spark, sf_dir):
    """Cluster-balanced sampling (D4-style diversification,
    arXiv:2308.12284): up to 5 vectors per k-means cluster by
    ascending md5 rank. Oracle replays training + assignment in
    numpy (VALUES) and the md5 rank windowing in SQL."""
    from codeindex_spark.ops.cluster import cluster_balanced_sample

    out = cluster_balanced_sample(_cluster_assigned(spark, sf_dir), 5, seed="cl")
    return out.select(
        "vec_id", F.col("cluster").cast("long").alias("cluster")
    )


def _q_cluster_profile(spark, sf_dir):
    """Per-cluster curation profile (n, min/max centroid cosine —
    the order-independent aggregates; mean is summation-order-
    dependent and deliberately not hash-compared)."""
    from codeindex_spark.ops.cluster import cluster_profile

    out = cluster_profile(_cluster_assigned(spark, sf_dir))
    return out.select(
        F.col("cluster").cast("long").alias("cluster"),
        F.col("n").cast("long").alias("n"),
        F.round("min_sim", 6).alias("min_sim"),
        F.round("max_sim", 6).alias("max_sim"),
    )


def _q_ann_lsh(spark, sf_dir):
    from codeindex_spark.ops.similarity import lsh_ann_topk

    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return lsh_ann_topk(
        emb.filter(F.col("vec_id") != 0), list(qvec), dim=64, k=5, n_bits=6
    ).select("vec_id")


def _q_ann_ivf(spark, sf_dir):
    """Build the IVF index ONCE (cell table written partitioned by
    centroid), then search — the probe is a partition-pruned scan,
    never a full-corpus re-assignment."""
    from codeindex_spark.ops.similarity import ivf_build, ivf_search

    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    idx = ivf_build(
        emb.filter(F.col("vec_id") != 0), dim=64, n_centroids=8,
        path=f"/tmp/codeindex_ivf_{tag}",
    )
    return ivf_search(idx, list(qvec), k=5, n_probe=3).select("vec_id")


def _q_ann_pq(spark, sf_dir):
    """PQ ANN (Jégou 2011): seeded per-subspace codebooks, Arrow
    encode to 8 codes/vector, ADC table-lookup top-20, exact cosine
    re-rank to top-5. The oracle replays train/encode/ADC in numpy
    and ranks the candidates by exact cosine in SQL."""
    from codeindex_spark.ops.similarity import pq_ann_topk

    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return pq_ann_topk(
        emb.filter(F.col("vec_id") != 0),
        list(qvec),
        dim=64,
        k=5,
        m=8,
        n_codes=16,
        refine=4,
    ).select("vec_id")


def _q_ann_ivfpq(spark, sf_dir):
    """IVF+PQ composition (FAISS IndexIVFPQ shape): probe 3 of 8
    cells, ADC-rank only their members, exact-cosine re-rank top 20
    to 5. Oracle replays both prune levers in numpy."""
    from codeindex_spark.ops.similarity import ivf_pq_topk

    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return ivf_pq_topk(
        emb.filter(F.col("vec_id") != 0),
        list(qvec),
        dim=64,
        k=5,
        n_centroids=8,
        n_probe=3,
        m=8,
        n_codes=16,
        refine=4,
    ).select("vec_id")


def _q_ann_ivfpq_res(spark, sf_dir):
    """Residual IVF+PQ (FAISS IndexIVFPQ by_residual default): PQ
    trains on and encodes x − c_cell; scoring = ⟨q,c_cell⟩ offset +
    one global ADC table. Oracle replays coarse k-means, residual
    codebooks, codes, and offset scoring in numpy."""
    from codeindex_spark.ops.similarity import ivf_pq_topk

    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return ivf_pq_topk(
        emb.filter(F.col("vec_id") != 0),
        list(qvec),
        dim=64,
        k=5,
        n_centroids=8,
        n_probe=3,
        m=8,
        n_codes=16,
        refine=4,
        by_residual=True,
    ).select("vec_id")


def _q_preview_highlight(spark, sf_dir):
    """V1 HTML highlight (CodeIndexSearcher.cs:50-103): top-10 BM25
    docs with matched tokens span-wrapped in the (cased) content."""
    from codeindex_spark.query.present import search_with_preview

    eng = _engine(spark, sf_dir)
    top = _bm25_topk_orig(eng, "spark", 10)
    pv = search_with_preview(eng, "spark", k=100000)
    pv = _orig_ids(eng, pv, extra=[F.col("preview_html")])
    return top.join(pv, "doc_id").select("doc_id", "score", "preview_html")


def _q_matched_lines(spark, sf_dir):
    """V2 matched-line extraction (CodeIndexSearcher.cs:148-229):
    (trimmed line, 1-based line number) for lines containing a
    matched token, over the top-10 docs."""
    from codeindex_spark.query.present import search_with_matched_lines

    eng = _engine(spark, sf_dir)
    top = _bm25_topk_orig(eng, "spark", 10)
    ml = search_with_matched_lines(eng, "spark", k=100000, max_lines=10**7)
    ml = _orig_ids(
        eng,
        ml,
        extra=[
            F.col("line_text"),
            F.col("line_number").cast("long").alias("line_number"),
        ],
    )
    return top.join(ml, "doc_id").select(
        "doc_id", "score", "line_text", "line_number"
    )


def _q_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs restricted to LSH bucket mates
    (the bounded 100-TB shape; exact cosine re-rank inside buckets)."""
    from codeindex_spark.ops.similarity import embedding_near_dup_pairs

    emb = _load(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, dim=64, threshold=0.3, n_bits=6
    ).select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def _q_langid(spark, sf_dir):
    from codeindex_spark.ops.analysis import language_id

    return language_id(_load(spark, sf_dir, "documents")).select(
        "doc_id", "lang_pred", F.round("lang_conf", 6).alias("lang_conf")
    )


def _q_quality(spark, sf_dir):
    from codeindex_spark.ops.analysis import quality_score

    return quality_score(_load(spark, sf_dir, "documents")).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("distinct_ratio", 6).alias("distinct_ratio"),
        F.round("quality", 6).alias("quality"),
    )


def _q_pipeline(spark, sf_dir):
    """End-to-end training-data prep over the corpus: quality gate
    (>= 0.3) -> exact-dedup keep (min doc_id per md5) ->
    deterministic 50% hash sample -> overlapping token chunks.
    Composes into ONE declarative plan; Catalyst executes it as a
    single job."""
    from codeindex_spark.ops.analysis import quality_score
    from codeindex_spark.ops.dedup import exact_duplicates
    from codeindex_spark.ops.pipeline import chunk_documents, sample_by_hash

    docs = _load(spark, sf_dir, "documents")
    ok = quality_score(docs).filter(F.col("quality") >= 0.3).select("doc_id")
    qd = docs.join(ok, "doc_id")
    keep = exact_duplicates(qd).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    kept = qd.join(keep, "doc_id")
    samp = sample_by_hash(kept, 0.5, seed="7")
    return chunk_documents(samp, chunk_tokens=32, stride=24)


def _q_sample_stratified(spark, sf_dir):
    """Domain-mixing sample: per-lang rates (en 50%, others 12.5%),
    deterministic md5-threshold per stratum."""
    from codeindex_spark.ops.pipeline import sample_by_hash_stratified

    return sample_by_hash_stratified(
        _load(spark, sf_dir, "documents"),
        {"en": 0.5, "de": 0.125},
        key_col="lang",
        seed="9",
        default_rate=0.25,
    ).select("doc_id", "lang")


def _q_pack(spark, sf_dir):
    """Sequence packing of the 32/24-token chunk stream into
    256-token training bins (16 deterministic buckets)."""
    from codeindex_spark.ops.pipeline import chunk_documents, pack_chunks

    chunks = chunk_documents(
        _load(spark, sf_dir, "documents"), chunk_tokens=32, stride=24
    )
    return pack_chunks(
        chunks, budget_tokens=256, num_buckets=16
    )


def _q_repetition(spark, sf_dir):
    from codeindex_spark.ops.analysis import repetition_stats

    return repetition_stats(_load(spark, sf_dir, "documents")).select(
        "doc_id",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        F.round("top2gram_char_frac", 6).alias("top2gram_char_frac"),
        F.round("top3gram_char_frac", 6).alias("top3gram_char_frac"),
    )


def _q_scrub(spark, sf_dir):
    """PII/URL scrubbing over a deterministically augmented corpus:
    the sf text is pure [a-z ] so both engines append the same
    synthetic URL/email/IP entities, then redact + count them. The
    patterns are Java-regex/RE2 portable (no lookaround/backrefs)."""
    from codeindex_spark.ops.pipeline import scrub_text

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" visit http://ex.com/"),
            F.col("doc_id").cast("string"),
            F.lit(" mail "),
            F.col("source"),
            F.lit("@ex.org ip 10.0.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
        ).alias("text"),
    )
    return scrub_text(docs).select(
        "doc_id",
        "text_clean",
        F.col("n_urls").cast("long").alias("n_urls"),
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_ips").cast("long").alias("n_ips"),
    )


def _q_chunk(spark, sf_dir):
    """Token-window chunking (chunk 16, stride 12 -> 4-token overlap)
    — the embedding/training-window preprocessing op."""
    from codeindex_spark.ops.pipeline import chunk_documents

    return chunk_documents(
        _load(spark, sf_dir, "documents"), chunk_tokens=16, stride=12
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        "chunk_text",
    )


def _q_chunk_dedup(spark, sf_dir):
    """Composed pipeline: chunk -> exact-dedup the chunks. Dedup of
    training windows (not whole docs) is what a real pipeline runs —
    boilerplate repeats at window granularity. Chunk key packs
    (doc_id, chunk_id); md5 grouping is engine-portable."""
    from codeindex_spark.ops.dedup import exact_duplicates
    from codeindex_spark.ops.pipeline import chunk_documents

    chunks = chunk_documents(
        _load(spark, sf_dir, "documents"), chunk_tokens=16, stride=12
    ).select(
        (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("chunk_key"),
        "chunk_text",
    )
    dups = exact_duplicates(chunks, id_col="chunk_key", text_col="chunk_text")
    return (
        dups.filter(F.col("n_docs") > 1)
        .select(
            F.col("text_hash").alias("chunk_hash"),
            F.col("n_docs").cast("long").alias("n_chunks"),
            F.col("keep_doc_id").cast("long").alias("keep_chunk_key"),
        )
    )


def _q_sample(spark, sf_dir):
    """Deterministic hash sampling at rate 0.25, seed '42' — stable
    across engines/re-runs/partitionings, unlike df.sample()."""
    from codeindex_spark.ops.pipeline import sample_by_hash

    return sample_by_hash(
        _load(spark, sf_dir, "documents"), 0.25, seed="42"
    ).select("doc_id")


def _q_fingerprint(spark, sf_dir):
    from codeindex_spark.ops.analysis import fingerprint

    return fingerprint(_load(spark, sf_dir, "documents"))


def _q_bpe_count(spark, sf_dir):
    from codeindex_spark.ops.analysis import token_count_bpe_ish

    return token_count_bpe_ish(_load(spark, sf_dir, "documents")).select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_bpe_est").cast("long").alias("n_bpe_est"),
    )


def _q_para_dedup(spark, sf_dir):
    """CCNet-style corpus-level paragraph dedup (beyond-reference).
    The sf text is one line, so both sides first synthesize
    deterministic pseudo-paragraphs (8-word windows joined by \\n),
    then dedup: first corpus-wide occurrence of each paragraph wins,
    docs reassemble from survivors in original order."""
    from codeindex_spark.ops.pipeline import paragraph_dedup

    docs = _load(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " +"), lambda w: w != "")
    aug = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.size(toks), F.lit(8)),
                lambda i: F.array_join(F.slice(toks, i, 8), " "),
            ),
            "\n",
        ).alias("text"),
    )
    out = paragraph_dedup(aug)
    return out.select(
        "doc_id",
        "text",
        F.col("n_paras").cast("long").alias("n_paras"),
        F.col("n_kept").cast("long").alias("n_kept"),
    )


def _q_line_dedup(spark, sf_dir):
    """RefinedWeb-style repeated-line removal (beyond-reference):
    same pseudo-line synthesis as px_para_dedup, but a line occurring
    MORE than once corpus-wide is removed from EVERY doc (vs
    first-occurrence-wins)."""
    from codeindex_spark.ops.pipeline import line_frequency_filter

    docs = _load(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " +"), lambda w: w != "")
    aug = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.size(toks), F.lit(8)),
                lambda i: F.array_join(F.slice(toks, i, 8), " "),
            ),
            "\n",
        ).alias("text"),
    )
    out = line_frequency_filter(aug, max_occurrences=1)
    return out.select(
        "doc_id",
        "text",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_kept").cast("long").alias("n_kept"),
    )


def _q_bloom_contamination(spark, sf_dir):
    """Bloom-prefiltered decontamination (beyond-reference scale path
    for 10^8-shingle benchmark suites): result must be EXACTLY
    contamination_overlaps — the bloom is a prefilter, bloom-positive
    shingles are re-verified against the exact benchmark table."""
    from codeindex_spark.ops.dedup import bloom_contamination_overlaps

    docs = _load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return bloom_contamination_overlaps(docs, bench, n=5)


def _q_normalize(spark, sf_dir):
    """Unicode normalization + invisible-char scrub (beyond-reference
    cleaning step): the sf text is plain ASCII, so both sides append
    a deterministic combining sequence (e + U+0301 -> composes to \u00e9
    under NFC) plus three strip-list invisibles (zero-width space,
    soft hyphen, CR) and the op must compose the accent and remove
    exactly the three invisibles."""
    from codeindex_spark.ops.pipeline import normalize_text

    docs = _load(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            # ' cafe' + combining acute + ZWSP + soft hyphen + CR,
            # spelled as escapes so no editor can mangle invisibles
            F.lit(" cafe\u0301\u200b\u00ad\r"),
        ).alias("text"),
    )
    return normalize_text(aug)


def _q_value_hist(spark, sf_dir):
    """Fixed-width histogram of events.value (beyond-reference
    analytics): 20 bins over [0, 500], closed top edge, only
    non-empty bins — one bounded groupBy, at most 20 rows cross the
    exchange."""
    from codeindex_spark.ops.analysis import histogram

    return histogram(
        _load(spark, sf_dir, "events"), "value", bins=20, lo=0.0, hi=500.0
    )


def _q_sessions(spark, sf_dir):
    """Gap-based sessionization rollup (beyond-reference, batch
    analog of the streaming debounce window): 8-hour gap sessions per
    user over the events table, with per-session event counts, span,
    type cardinality, and value sum."""
    from codeindex_spark.ops.sessions import session_stats

    out = session_stats(
        _load(spark, sf_dir, "events"), gap_seconds=28800
    )
    return out.select(
        "user_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        F.col("n_events").cast("long").alias("n_events"),
        "start_us",
        "end_us",
        F.col("n_types").cast("long").alias("n_types"),
        "sum_value",
        "duration_secs",
    )


def _q_kmv_stream(spark, sf_dir):
    """Streaming KMV twin, driver-pinned: documents.text replayed
    through a file-source readStream -> hash-bucketed stateful
    bottom-k (applyInPandasWithState) -> merged (n_min,
    est_distinct). The sketch is deterministic (md5, no RNG) and KMV
    composes exactly across buckets, so the SQL oracle replays the
    SAME sketch — bit equality, not an error bound."""
    import hashlib
    import uuid

    from codeindex_spark.streaming.sketch import stream_kmv_distinct

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    base = f"/tmp/codeindex_entry/stream_kmv_{tag}"
    docs_dir = os.path.join(base, "docs")
    if not os.path.exists(os.path.join(docs_dir, "_SUCCESS")):
        (
            _load(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .repartition(4)
            .write.mode("overwrite")
            .json(docs_dir)
        )
    out = stream_kmv_distinct(
        spark,
        docs_dir,
        os.path.join(base, f"ckpt_{uuid.uuid4().hex}"),
        col="text",
        k=256,
        n_buckets=8,
        query_name=f"kmv_{tag}_{uuid.uuid4().hex[:8]}",
    )
    return out.select(
        F.col("n_min").cast("long").alias("n_min"),
        F.round("est_distinct", 4).alias("est_distinct"),
    )


def _q_dedup_registry_stream(spark, sf_dir):
    """Streaming exact-dedup registry, driver-pinned: documents
    replayed through a file-source readStream (one file per trigger)
    -> hash-bucketed keyed state holding (min doc_id, count) per
    content hash (applyInPandasWithState) -> final max-seq snapshot
    per hash. min/count merges are order-insensitive, so the final
    registry is BIT-equal to the batch exact-dedup op no matter how
    the micro-batches were ordered — the oracle is dd_exact's SQL
    verbatim. The first-seen-emission variant (streaming/dedup.py
    streaming_exact_dedup) stays pytest-pinned because its output is
    inherently arrival-order-dependent."""
    import hashlib
    import uuid

    from codeindex_spark.streaming.dedup import stream_dedup_registry

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    base = f"/tmp/codeindex_entry/stream_dedup_{tag}"
    docs_dir = os.path.join(base, "docs")
    if not os.path.exists(os.path.join(docs_dir, "_SUCCESS")):
        (
            _load(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .repartition(4)
            .write.mode("overwrite")
            .json(docs_dir)
        )
    out = stream_dedup_registry(
        spark,
        docs_dir,
        os.path.join(base, f"ckpt_{uuid.uuid4().hex}"),
        n_buckets=8,
        query_name=f"dedupreg_{tag}_{uuid.uuid4().hex[:8]}",
    )
    return out.select(
        "text_hash",
        F.col("n_docs").cast("long").alias("n_docs"),
        "keep_doc_id",
    )


def _q_sessions_stream(spark, sf_dir):
    """Native Structured Streaming session windows (ST2's gap-session
    twin, r4): the events table replayed through a file-source
    readStream -> session_window(8h) -> availableNow memory sink in
    complete mode, normalized to the exact columns the batch
    lag-sessionizer oracle computes — the driver-pinned proof that
    the STREAMING implementation of sessionization agrees with the
    batch one (VERDICT r3 #8). session_window merges events exactly
    gap apart (probed: [start, end] overlap on the boundary), the
    same strict-gap rule as ops/sessions.py, so one oracle serves
    both."""
    import hashlib
    import uuid

    from codeindex_spark.streaming.windows import stream_session_counts

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    base = f"/tmp/codeindex_entry/stream_sessions_{tag}"
    events_dir = os.path.join(base, "events")
    if not os.path.exists(os.path.join(events_dir, "_SUCCESS")):
        (
            _load(spark, sf_dir, "events")
            # parquet ts is TIMESTAMP_NTZ; cast to TZ timestamp so the
            # writer applies timestampFormat (UTC session = identity),
            # and write 6 fractional digits — the default JSON format
            # truncates to milliseconds and the replayed sessions
            # would drift from the parquet-fed oracle by sub-ms
            .select(
                "event_id",
                F.col("ts").cast("timestamp").alias("ts"),
                "user_id",
                "event_type",
                "value",
            )
            .write.mode("overwrite")
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
            .json(events_dir)
        )
    out = stream_session_counts(
        spark,
        events_dir,
        os.path.join(base, f"ckpt_{uuid.uuid4().hex}"),
        gap="8 hours",
        watermark="1 minute",
        query_name=f"sessions_{tag}",
        output_mode="complete",
    )
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias(
            "start_us"
        ),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias(
            "end_us"
        ),
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 4).alias("sum_value"),
    )


def _q_gopher(spark, sf_dir):
    """Gopher quality-filter rules (Rae et al. 2021 Table A1, r4):
    per-doc metrics + per-rule booleans + the conjunction, default
    thresholds — single-pass JVM expressions."""
    from codeindex_spark.ops.analysis import gopher_quality_flags

    out = gopher_quality_flags(_load(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        "mean_word_len",
        "symbol_ratio",
        "bullet_line_frac",
        "ellipsis_line_frac",
        "alpha_word_frac",
        F.col("stopword_hits").cast("long").alias("stopword_hits"),
        "ok_word_count",
        "ok_mean_word_len",
        "ok_symbol_ratio",
        "ok_bullets",
        "ok_ellipses",
        "ok_alpha_words",
        "ok_stopwords",
        "gopher_pass",
    )


def _q_c4(spark, sf_dir):
    """C4 cleaning rules (Raffel 2020 §2.2, r4) over a deterministic
    multi-line derivation of the documents table (sf text has no
    punctuation, so lines/sentences are synthesized: doc_id%8+1
    copies of the first 40 chars as '.'-terminated lines, plus a
    javascript line every 11th doc, lorem ipsum every 13th, a brace
    line every 17th — all replicated exactly in the SQL oracle)."""
    from codeindex_spark.ops.analysis import c4_clean

    d = _load(spark, sf_dir, "documents")
    base = F.concat(F.substring("text", 1, 40), F.lit("."))
    n = (F.col("doc_id") % 8 + 1).cast("int")
    txt = F.array_join(F.array_repeat(base, n), "\n")
    txt = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(txt, F.lit("\nplease enable javascript to view this.")),
    ).otherwise(txt)
    txt = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(txt, F.lit("\nLorem Ipsum dolor sit amet.")),
    ).otherwise(txt)
    txt = F.when(
        F.col("doc_id") % 17 == 0,
        F.concat(txt, F.lit("\nsome code with a { brace inside.")),
    ).otherwise(txt)
    out = c4_clean(d.select("doc_id", txt.alias("text")))
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_kept_lines").cast("long").alias("n_kept_lines"),
        F.col("n_sentences").cast("long").alias("n_sentences"),
        "has_lorem_ipsum",
        "has_brace",
        "text_clean",
        "c4_keep",
    )


# Deterministic URL derivation for the web ops entries (the sf
# documents table has no URL column). This exact SQL string runs on
# BOTH sides — F.expr here, inlined in the DuckDB oracle — so the
# inputs are identical by construction and only the normalization
# logic is independently implemented. Residue classes are chosen so
# distinct doc_ids collide after normalization: the %3 www / %6
# fragment / %2 trailing-slash / %8==0 default-port variants all
# normalize away, and the %7==0 tracking query normalizes onto the
# %7==1 clean query.
_URL_DERIVE_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END"
    " || CASE WHEN doc_id % 9 = 0 THEN 'ads.' ELSE '' END"
    " || 'site' || CAST(doc_id % 4 AS STRING) || '.example.org'"
    " || CASE WHEN doc_id % 8 = 0 THEN ':443'"
    "        WHEN doc_id % 8 = 1 THEN ':8080' ELSE '' END"
    " || '/docs/page' || CAST(doc_id % 5 AS STRING)"
    " || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN"
    "          '?utm_source=feed&id=' || CAST(doc_id % 3 AS STRING)"
    "          || '&utm_campaign=x'"
    "        WHEN doc_id % 7 = 1 THEN '?id=' || CAST(doc_id % 3 AS STRING)"
    "        ELSE '' END"
    " || CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END"
)


def _url_corpus(spark, sf_dir):
    from codeindex_spark.util import ensure_parallelism

    d = _load(spark, sf_dir, "documents")
    # fan out the doc rows BEFORE the URL-derive + normalize regex
    # chain: the documents parquet is one row group, so the scan
    # packs into 1-2 splits and would serialize every regex pass
    # applied on top of this projection
    return ensure_parallelism(d.select("doc_id", "n_chars"), factor=1).select(
        "doc_id", "n_chars", F.expr(_URL_DERIVE_SQL).alias("url")
    )


# deterministic synthetic HTML wrapped around each document's text —
# one SQL expression both engines evaluate (Spark F.expr / DuckDB
# verbatim): script+style+comment blocks to drop, block tags that
# become newlines, inline tags that become spaces, and all six
# entities incl. the &amp;amp; double-escape trap. chr(10) instead of
# '\n' because DuckDB does not interpret backslash escapes in plain
# string literals while Spark SQL does.
from codeindex_spark.ops.web import (  # noqa: E402 — shared patterns
    _HTML_ANCHOR_RE as _W_ANCHOR_RE,
    _HTML_ANY_TAG_RE as _W_ANY_RE,
    _HTML_BLOCK_TAG_RE as _W_BLOCK_RE,
    _HTML_COMMENT_RE as _W_COMMENT_RE,
    _HTML_DROP_BLOCK_RE as _W_DROP_RE,
)

_HTML_DERIVE_SQL = (
    "'<html><head><title>t</title>"
    "<script type=\"x\">var a = 1 < 2 && b;</script>"
    "<style>.c{color:red}</style></head>"
    "<body><!-- hidden ' || CAST(doc_id % 7 AS STRING) || ' -->"
    "<h1>H &amp;amp; L</h1><p id=\"p' || CAST(doc_id % 5 AS STRING)"
    " || '\">' || replace(text, ' ', '</p><p>') || '</p>"
    "<div>&lt;tail&gt;&nbsp;&#39;q&quot; x=' || CAST(doc_id % 3 AS"
    " STRING) || '</div><span>inline</span></body></html>'"
)


def _q_html_extract(spark, sf_dir):
    """HTML -> visible-text extraction (every web pipeline's step 1;
    CCNet/C4/RefinedWeb all consume extracted text): drop script/
    style/noscript/template elements + comments, block tags become
    newlines, inline tags spaces, six-entity decode with &amp; last,
    whitespace collapse. Pure JVM regexp chain (ops/web.py
    extract_html_text); the oracle replays every step in DuckDB with
    the identical RE2-safe patterns."""
    from codeindex_spark.ops.web import extract_html_text

    d = _load(spark, sf_dir, "documents")
    h = d.select("doc_id", F.expr(_HTML_DERIVE_SQL).alias("html"))
    return extract_html_text(h).select(
        "doc_id", "text_extracted", "n_html_chars"
    )


# deterministic synthetic link-bearing HTML: five links per doc in
# every href style (double-quoted absolute w/ fragment, bare
# relative, single-quoted mailto, quoted fragment-only, bare
# protocol-relative) plus a no-href named anchor the extractor must
# skip; anchors carry inner tags + an entity ('' escapes a literal
# single quote in both engines' SQL literals)
_HTML_LINKS_DERIVE_SQL = (
    "'<p>See <a href=\"https://Site' || CAST(doc_id % 97 AS STRING)"
    " || '.Example.COM:443/p/' || CAST(doc_id % 13 AS STRING) ||"
    " '?utm_source=z&x=1#f\">Link <b>' || CAST(doc_id % 5 AS STRING)"
    " || '</b></a> and <a class=nav href=/rel/' || CAST(doc_id % 7"
    " AS STRING) || '>rel &amp; more</a>, <A HREF=''mailto:a@b.c''>"
    "mail</A><a name=x>no href</a><a href=\"#top\"> top  note </a>"
    "<a href=//cdn.example.net/lib' || CAST(doc_id % 3 AS STRING) ||"
    " '.js>cdn</a></p>'"
)

# shared DuckDB replay of the extract_links chain (hrefs/anchors via
# the SAME RE2-safe pattern, groups 1/2; quote strip, inner-tag ->
# space, six-entity decode with &amp; LAST, whitespace collapse,
# kind classification), ending in lnk(doc_id, link_idx, href,
# anchor_text, link_kind) — consumed by the px_extract_links /
# px_anchor_stats oracles
_LINKS_ORACLE_CTE = f"""h AS (SELECT doc_id,
                       {_HTML_LINKS_DERIVE_SQL} AS html
                       FROM documents),
            x AS (SELECT doc_id,
                    regexp_extract_all(html,
                      '{_W_ANCHOR_RE.replace(chr(39), chr(39) * 2)}',
                      1) AS hrefs,
                    regexp_extract_all(html,
                      '{_W_ANCHOR_RE.replace(chr(39), chr(39) * 2)}',
                      2) AS anchors FROM h),
            e AS (SELECT doc_id, unnest(range(1, len(hrefs) + 1)) AS i,
                         hrefs, anchors FROM x),
            c AS (SELECT doc_id, i::BIGINT AS link_idx,
                    trim(regexp_replace(hrefs[i],
                      '^["'']|["'']$', '', 'g')) AS href,
                    regexp_replace(anchors[i],
                      '(?s)<[^>]*>', ' ', 'g') AS a FROM e),
            d AS (SELECT doc_id, link_idx, href,
              replace(replace(replace(replace(replace(replace(a,
                '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&') AS a
              FROM c),
            lnk AS (SELECT doc_id, link_idx, href,
                   trim(regexp_replace(a, '[ \t\n\r\x0B\f]+', ' ',
                        'g')) AS anchor_text,
                   CASE WHEN regexp_matches(href,
                          '^(?i)(javascript|mailto|tel|data):')
                        THEN 'special'
                        WHEN regexp_matches(href,
                          '^[A-Za-z][A-Za-z0-9+.-]*://')
                        THEN 'absolute'
                        WHEN href LIKE '//%' THEN 'protocol_relative'
                        WHEN href LIKE '#%' THEN 'fragment'
                        ELSE 'relative' END AS link_kind
              FROM d)"""


def _q_extract_links(spark, sf_dir):
    """HTML -> link table (the web-graph source step: link graphs,
    anchor-text corpora, crawl frontiers): one row per <a href=...>,
    quote-stripped href, tag-stripped entity-decoded anchor text,
    and a kind classification (special/absolute/protocol_relative/
    fragment/relative). ops/web.py extract_links — two JVM regexp
    passes + posexplode, zero shuffle; the oracle replays the SAME
    RE2-safe pattern via regexp_extract_all groups 1 and 2."""
    from codeindex_spark.ops.web import extract_links

    d = _load(spark, sf_dir, "documents")
    h = d.select("doc_id", F.expr(_HTML_LINKS_DERIVE_SQL).alias("html"))
    return extract_links(h)


def _q_anchor_stats(spark, sf_dir):
    """Inbound anchor-text rollup per link target (Brin & Page 1998
    §2.2: anchor text describes the TARGET page — the per-target
    aggregate every web ranker consumes): top-2 anchors by (count
    DESC, text ASC) plus per-target link/doc totals over the
    extract_links table. ops/web.py anchor_stats — two target-keyed
    map-side-combinable shuffles, the row_number window runs after
    the per-anchor pre-agg so hot targets cost their DISTINCT
    anchors, never raw inbound count."""
    from codeindex_spark.ops.web import anchor_stats, extract_links

    d = _load(spark, sf_dir, "documents")
    h = d.select("doc_id", F.expr(_HTML_LINKS_DERIVE_SQL).alias("html"))
    return anchor_stats(extract_links(h), k=2)


def _q_link_pagerank(spark, sf_dir):
    """Domain-authority PageRank over the extracted web graph:
    extract_links -> link_graph (absolute links only, dst domain via
    the normalize_urls case/www/port rules, distinct edges) with a
    deterministic per-doc source domain, then 5 power iterations on
    the DIRECTED graph — the site nodes have no out-links, so this
    also exercises uniform dangling-mass redistribution. Top-100 by
    6-dp-rounded pr with node tie-break (round BEFORE the cut per
    the oracle recipe)."""
    from pyspark.sql import Window

    from codeindex_spark.ops.graph import pagerank
    from codeindex_spark.ops.web import extract_links, link_graph

    d = _load(spark, sf_dir, "documents")
    h = d.select("doc_id", F.expr(_HTML_LINKS_DERIVE_SQL).alias("html"))
    links = extract_links(h).withColumn(
        "src_domain",
        F.concat(F.lit("src"), (F.col("doc_id") % 53).cast("string")),
    )
    edges = link_graph(links, src_col="src_domain")
    pr = pagerank(edges, damping=_PR_DAMPING, iters=_LPR_ITERS)
    top = (
        pr.withColumn("pr", F.round("pr", 6))
        .orderBy(F.desc("pr"), F.asc("node"))
        .limit(_PR_TOPK)
    )
    w = Window.orderBy(F.desc("pr"), F.asc("node"))
    return top.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select("node", "pr", "rank")


def _q_url_dedup(spark, sf_dir):
    """URL canonicalization + first-occurrence URL dedup (RefinedWeb
    arXiv:2306.01116 §3.1; beyond-reference web surface): the full
    documented rule set (fragment/case/www/default-port/tracking-
    param/trailing-slash) then min-doc_id-wins per canonical URL.
    Oracle replays every rule independently in DuckDB SQL."""
    from codeindex_spark.ops.web import normalize_urls, url_dedup_keep

    out = url_dedup_keep(normalize_urls(_url_corpus(spark, sf_dir)))
    return out.select("doc_id", "url", "url_norm", "domain", "url_kept")


def _q_domain_filter(spark, sf_dir):
    """Domain-blocklist filter with subdomain semantics (blocking
    site1.example.org also blocks ads.site1.example.org, but NOT
    site1.example.org.evil.net): bounded suffix explode + broadcast
    semi-join + anti-join. Oracle is an EXISTS over equals-or-
    dot-suffix predicates."""
    from codeindex_spark.ops.web import domain_blocklist_filter, normalize_urls

    d = normalize_urls(_url_corpus(spark, sf_dir))
    bl = spark.createDataFrame(
        [("site1.example.org",), ("ads.site2.example.org",)],
        ["blocked_domain"],
    )
    return domain_blocklist_filter(d, bl).select("doc_id", "domain")


def _q_domain_stats(spark, sf_dir):
    """Per-domain corpus volume (docs + chars) over canonicalized
    hosts — the dashboard aggregate behind blocklist curation."""
    from codeindex_spark.ops.web import domain_stats, normalize_urls

    d = normalize_urls(_url_corpus(spark, sf_dir))
    out = domain_stats(d, chars_col="n_chars")
    return out.select(
        "domain",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


def _q_heavy_hitters(spark, sf_dir):
    """Exact bigram heavy hitters (freq >= ceil(0.0012 * total
    bigrams)) via per-partition Misra-Gries candidates + exact
    recovery — never a full-vocabulary shuffle (ops/sketch.py)."""
    from codeindex_spark.ops.sketch import heavy_hitters

    return heavy_hitters(
        _load(spark, sf_dir, "documents"), phi=0.0012, n=2
    ).select("gram", "freq")


def _q_keywords(spark, sf_dir):
    """TF-IDF keyword extraction (beyond-reference, the corpus-side
    sibling of more-like-this term selection): top-5 smooth-tf-idf
    terms per doc, deterministic term tie-break."""
    from codeindex_spark.ops.analysis import top_terms_per_doc

    out = top_terms_per_doc(_load(spark, sf_dir, "documents"), k=5)
    return out.select(
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("tf"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def _q_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity split (beyond-reference,
    Wenzek et al. 2020 §4.4): train the stupid-backoff LM on the
    documents table, score it, bucket by exact score terciles
    (rounded to 6 dp on both sides so the boundary comparison is
    engine-reproducible)."""
    from codeindex_spark.ops.lm import lm_train, perplexity_buckets

    docs = _load(spark, sf_dir, "documents")
    model = lm_train(docs, n=3, min_count=2)
    return perplexity_buckets(
        docs, model, n=3, exact=True, broadcast_model=True
    )


def _q_span_stats(spark, sf_dir):
    """Exact substring dedup accounting (beyond-reference, Lee et
    al. 2022 ExactSubstr semantics over 8-token windows): per doc,
    how many windows are duplicated elsewhere in the corpus (minus
    the canonical first occurrence) and what fraction of its tokens
    those duplicated spans cover."""
    from codeindex_spark.ops.spans import duplicate_span_stats

    return duplicate_span_stats(_load(spark, sf_dir, "documents"), window=8)


def _q_span_scrub(spark, sf_dir):
    """Span-scrubbed corpus: every token inside a non-canonical
    duplicated 8-token window removed, survivors rejoined in order;
    fully-boilerplate docs come back empty rather than vanish."""
    from codeindex_spark.ops.spans import remove_duplicate_spans

    return remove_duplicate_spans(_load(spark, sf_dir, "documents"), window=8)


def _q_lm_score(spark, sf_dir):
    """Stupid-backoff trigram LM quality score (beyond-reference,
    CCNet-style perplexity filter): train on the documents table,
    score the same table; min_count=2 prunes rare higher-order grams
    so the backoff path is exercised. The oracle replays the exact
    count-ratio model and per-position backoff in SQL."""
    from codeindex_spark.ops.lm import lm_score, lm_train

    docs = _load(spark, sf_dir, "documents")
    model = lm_train(docs, n=3, min_count=2)
    out = lm_score(docs, model, n=3, broadcast_model=True)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("avg_log10_p", 6).alias("lm_logp"),
    )


def _q_mixture(spark, sf_dir):
    """Domain-mixture export (beyond-reference): exact per-group
    takes realizing 40/30/30 en/zh/de at the largest feasible total;
    membership = lowest md5(seed:id) per group, RNG-free."""
    from codeindex_spark.ops.mixing import mixture_sample

    docs = _load(spark, sf_dir, "documents")
    out = mixture_sample(docs, {"en": 0.4, "zh": 0.3, "de": 0.3})
    return out.select("doc_id", "lang").orderBy("doc_id")


def _q_shards(spark, sf_dir):
    """Deterministic shard assignment: hash-uniform shard in [0,8),
    reported as per-shard counts."""
    from codeindex_spark.ops.mixing import assign_shards

    docs = _load(spark, sf_dir, "documents")
    return (
        assign_shards(docs, 8)
        .groupBy("shard")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("shard")
    )


def _q_facets(spark, sf_dir):
    """Facet counts over the 'spark' match set by repo and lang — the
    code-search sidebar breakdown. One query evaluation, unpivoted
    single-shuffle group count."""
    return _engine(spark, sf_dir).facet_counts("spark", by=("repo", "lang"))


def _q_suggest(spark, sf_dir):
    """Did-you-mean for the typo 'custmer' — Lucene SpellChecker analog
    (plain Levenshtein ranking distance asc, df desc, term asc),
    through the character-bigram candidate index (r4): 'custmer' has 6
    distinct bigrams, so the >= |S_t| - 2*max_edits = 2 shared-gram
    bound prunes and candidates are looked up by the typo's grams,
    never a dictionary sweep."""
    eng = _engine(spark, sf_dir)
    eng.build_suggest_index()
    return eng.suggest("custmer", k=5)


def _q_profile(spark, sf_dir):
    """Per-language corpus profile (beyond-reference pipeline
    monitoring): volumes, exact token-count quantiles (type-7
    interpolation — quantile_cont parity), vocabulary size."""
    from codeindex_spark.ops.analysis import corpus_profile

    docs = _load(spark, sf_dir, "documents")
    return corpus_profile(docs).orderBy("lang")


def _q_mlt(spark, sf_dir):
    """More-like-this (Lucene queries MoreLikeThis semantics): source
    doc = original id 3; tf·idf-ranked source terms (tf>=2, df>=5, top
    25) OR-queried with BM25, source excluded, top 10. The oracle
    replays term selection and the summed-contribution scoring in
    SQL."""
    eng = _engine(spark, sf_dir)
    key = (
        eng.reader.docs.filter(F.col("path").rlike(r"/3\.txt$"))
        .select("doc_key")
        .collect()[0]["doc_key"]
    )
    # 64-superset, then re-rank on (rounded score, ORIGINAL doc_id) so
    # k-boundary ties resolve identically to the DuckDB oracle
    res = eng.more_like_this(key, k=64)
    out = _orig_ids(eng, res, extra=_SCORE())
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


def _q_dsir(spark, sf_dir):
    """DSIR data selection (beyond-reference, Xie et al. 2023):
    hashed-bigram importance weights of every document against the
    lang='zh' slice as the target distribution, then Gumbel-top-40
    resampling with the md5-seeded (RNG-free) noise. The oracle
    replays bucket hashing, the smoothed log-ratio model, and the
    Gumbel key in SQL."""
    from codeindex_spark.ops.dsir import dsir_log_weights, dsir_resample

    docs = _load(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "zh")
    w = dsir_log_weights(docs, target, n=2, num_buckets=512)
    picked = dsir_resample(w, 40, seed="dsir")
    return picked.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.round("log_weight", 6).alias("log_weight"),
    ).orderBy("doc_id")


def _q_pricing_summary(spark, sf_dir):
    # TPC-H Q1-style aggregation (scan -> filter -> grouped agg)
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").cast("long").alias("n_rows"),
        )
    )


def _q_order_join(spark, sf_dir):
    # broadcast-joined dimension (customer) + agg per market segment
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
    )


def _q_window_rank(spark, sf_dir):
    # analytic window: top-3 orders by price per market segment
    from pyspark.sql import Window

    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "c_mktsegment",
            F.col("rnk").cast("long").alias("rnk"),
            "o_orderkey",
            F.round("o_totalprice", 4).alias("o_totalprice"),
        )
    )


def _q_asof(spark, sf_dir):
    # as-of join: each purchase picks the user's most recent click
    # within 1 day (ops/timeseries.py — union+window single-shuffle
    # plan; the oracle is an independent LATERAL top-1 formulation)
    from codeindex_spark.ops.timeseries import asof_join

    ev = _load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id", "value"
    )
    j = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        right_cols=["value"],
        tolerance_seconds=86400.0,
    )
    return j.select(
        F.col("event_id").alias("p_event"),
        "user_id",
        F.col("ts_us").alias("p_ts_us"),
        F.coalesce(F.col("event_id_r"), F.lit(-1)).cast("long").alias("c_event"),
        F.coalesce(F.col("ts_r_us"), F.lit(-1)).cast("long").alias("c_ts_us"),
        F.coalesce(F.col("asof_lag_us"), F.lit(-1)).cast("long").alias("lag_us"),
        F.round(F.coalesce(F.col("value_r"), F.lit(-1.0)), 6).alias("c_value"),
    )


def _q_rollup(spark, sf_dir):
    # multi-level aggregation (GROUP BY ROLLUP): per (status,
    # priority), per status, and grand total in one Expand pass
    o = _load(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


def _q_cube(spark, sf_dir):
    # full grouping-set lattice (GROUP BY CUBE): per (status,
    # priority), per status, per priority, and grand total — one
    # Expand pass, 4 grouping sets, no re-scan per level
    o = _load(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "n_orders",
            "avg_price",
        )
    )


def _q_quantiles(spark, sf_dir):
    # exact per-group quantiles, distinct-value-bounded shuffle
    # (quantile_disc / percentile_disc lower semantics — see
    # ops/analysis.py group_quantiles)
    from codeindex_spark.ops.analysis import group_quantiles

    li = _load(spark, sf_dir, "lineitem")
    qv = group_quantiles(
        li, "l_returnflag", "l_extendedprice", (0.25, 0.5, 0.75, 0.9)
    )
    return qv.select(
        "l_returnflag",
        *[
            F.round(F.col(c).cast("double"), 4).alias(c)
            for c in ("q25", "q50", "q75", "q90")
        ],
    )


def _q_tfidf_pairs(spark, sf_dir):
    # sparse lexical near-dup: TF-IDF cosine pairs (SMART ltc
    # weights, Salton & Buckley 1988) over a deterministic 10% doc
    # slice; max_df_frac prunes corpus-stopwords before the
    # inverted-index self-join (quadratic cost, near-zero idf)
    from codeindex_spark.ops.dedup import tfidf_cosine_pairs

    d = _load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    out = tfidf_cosine_pairs(
        d, min_df=2, max_df_frac=0.5, threshold=0.9
    )
    return out.select(
        "doc_a", "doc_b", F.round("cosine", 6).alias("cosine")
    )


def _q_explain(spark, sf_dir):
    # Lucene IndexSearcher.explain()'s role: per-(doc, leaf) score
    # breakdown + assembled total for 'fast AND sort' — one batched
    # score_many job (shared dictionary lookup, one posting scan)
    eng = _engine(spark, sf_dir)
    ex = eng.explain("fast AND sort")
    return _orig_ids(
        eng,
        ex,
        extra=(
            F.col("leaf"),
            F.round("contribution", 6).alias("contribution"),
            F.round("total", 6).alias("total"),
        ),
    )


def _q_salted_agg(spark, sf_dir):
    # hot-key-proof two-phase aggregation (ops/skew.py): phase 1
    # groups by (key, salt) so no reducer owns a whole hot key,
    # phase 2 recombines <= n_salts partials per key — result rows
    # identical to the plain GROUP BY (the oracle)
    from codeindex_spark.ops.skew import salted_agg

    li = _load(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        n_salts=16,
        salt_on="l_orderkey",
        sums={"sum_qty": "l_quantity", "sum_price": "l_extendedprice"},
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        F.round("sum_qty", 4).alias("sum_qty"),
        F.round("sum_price", 4).alias("sum_price"),
    )


def _q_salted_join(spark, sf_dir):
    # skew-proof fact-dim join: fact rows salt into 16 buckets, the
    # dim side replicates per salt, join key = (key, salt) — the
    # multiset equals the plain join, verified through a revenue
    # rollup against the plain SQL join
    from codeindex_spark.ops.skew import salted_join

    li = _load(spark, sf_dir, "lineitem")
    pt = _load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_type"
    )
    j = salted_join(li, pt, "l_partkey", n_salts=16, salt_on="l_orderkey")
    return j.groupBy("p_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
    )


def _q_kmv_distinct(spark, sf_dir):
    # KMV bottom-k distinct sketch (Bar-Yossef 2002 / Beyer 2007):
    # distinct l_partkey per l_returnflag, k=256 — deterministic
    # (md5, no RNG) so the DuckDB oracle replays it EXACTLY, unlike
    # HLL whose registers are implementation-defined
    from codeindex_spark.ops.sketch import kmv_distinct

    li = _load(spark, sf_dir, "lineitem")
    out = kmv_distinct(li, "l_partkey", k=256, group_col="l_returnflag")
    return out.select(
        "l_returnflag",
        F.col("n_min").cast("long").alias("n_min"),
        F.round("est_distinct", 4).alias("est_distinct"),
    )


def _q_pmi(spark, sf_dir):
    from codeindex_spark.ops.analysis import pmi_bigrams

    docs = _load(spark, sf_dir, "documents")
    return pmi_bigrams(docs, min_count=5, top_k=50).withColumn(
        "rank", F.col("rank").cast("long")
    )


def _q_entropy(spark, sf_dir):
    from codeindex_spark.ops.analysis import token_entropy

    docs = _load(spark, sf_dir, "documents")
    return token_entropy(docs)


_TT_REPL_TEXT = "spark snapshot spark update"


def _tt_index(spark, sf_dir):
    """Incremental index with two applied epochs for snapshot time
    travel: epoch 1 replaces every doc_id %% 7 == 0 with a fixed
    snapshot text (new commit), epoch 2 deletes every live doc at a
    doc_id %% 5 == 0 path. Cached under /tmp per sf_dir."""
    key = os.path.abspath(sf_dir) + ":tt"
    if key in _ENGINES:
        return _ENGINES[key]
    _ensure_pkg(spark)
    import shutil

    from codeindex_spark.index.build import IndexParams
    from codeindex_spark.streaming.maintain import IncrementalIndex

    root = _index_cache_dir(key, sf_dir, prefix="tt_")
    params = IndexParams(num_buckets=16, block_size=128)
    inc = IncrementalIndex(spark, root, params, n_groups=1)
    if inc.n_applies() != 2 or len(inc.segments()) != 2:
        shutil.rmtree(root, ignore_errors=True)
        inc = IncrementalIndex(spark, root, params, n_groups=1)
        docs = _load(spark, sf_dir, "documents")
        corpus = _as_corpus(docs)
        inc.build_base(corpus)
        # epoch 1: upsert (same repo/path, new commit => new doc_key)
        repl = _as_corpus(
            docs.filter(F.col("doc_id") % 7 == 0).withColumn(
                "text", F.lit(_TT_REPL_TEXT)
            )
        ).withColumn("commit", F.lit("c000000000002"))
        old = (
            inc.live_docs()
            .join(repl.select("repo", "path"), ["repo", "path"], "left_semi")
            .select("doc_key")
        )
        inc.apply_changes(repl, old)
        # epoch 2: delete whatever version is live at %5 paths
        del_paths = _as_corpus(
            docs.filter(F.col("doc_id") % 5 == 0)
        ).select("repo", "path")
        dead = (
            inc.live_docs()
            .join(del_paths, ["repo", "path"], "left_semi")
            .select("doc_key")
        )
        inc.apply_changes(corpus.limit(0), dead)
    _ENGINES[key] = inc
    return inc


def _q_time_travel(spark, sf_dir):
    # query the index AS OF epoch 1 (after the upserts, before the
    # deletes) — Lucene semantics: tombstoned old versions still
    # count in df/avgdl/n_docs until a merge, so the oracle's stats
    # corpus is ALL versions indexed by epoch 1 while matches come
    # from live docs only
    from codeindex_spark.query.planner import SearchEngine

    inc = _tt_index(spark, sf_dir)
    eng = SearchEngine(inc.reader(as_of=1))
    return _bm25_topk_orig(eng, "spark", 20)


_PR_DAMPING = 0.85
_PR_ITERS = 10
_PR_TOPK = 100
_LPR_ITERS = 5  # gr_link_pagerank (directed link graph)


def _q_pagerank(spark, sf_dir):
    # PageRank over the symmetrized order--part bipartite graph
    # (distinct lineitem pairs); top-100 by 6-dp-rounded score with
    # node tie-break (rounding BEFORE the cut per the oracle recipe)
    from pyspark.sql import Window

    from codeindex_spark.ops.graph import pagerank

    li = _load(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.concat(F.lit("o:"), F.col("l_orderkey")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("dst"),
    ).distinct()
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank(edges, damping=_PR_DAMPING, iters=_PR_ITERS)
    top = (
        pr.withColumn("pr", F.round("pr", 6))
        .orderBy(F.desc("pr"), F.asc("node"))
        .limit(_PR_TOPK)
    )
    w = Window.orderBy(F.desc("pr"), F.asc("node"))
    return top.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select("node", "pr", "rank")


_PPR_SEEDS = ("p:1", "p:2", "p:3")


def _q_ppr(spark, sf_dir):
    # personalized PageRank (Haveliwala 2002 / random walk with
    # restart): teleport + dangling mass restart at the seed parts;
    # same symmetrized bipartite graph, top-100 by 6-dp-rounded pr
    # with node tie-break (rounding BEFORE the cut)
    from pyspark.sql import Window

    from codeindex_spark.ops.graph import pagerank

    li = _load(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.concat(F.lit("o:"), F.col("l_orderkey")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("dst"),
    ).distinct()
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank(
        edges, damping=_PR_DAMPING, iters=_PR_ITERS, seeds=list(_PPR_SEEDS)
    )
    top = (
        pr.withColumn("pr", F.round("pr", 6))
        .orderBy(F.desc("pr"), F.asc("node"))
        .limit(_PR_TOPK)
    )
    w = Window.orderBy(F.desc("pr"), F.asc("node"))
    return top.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select("node", "pr", "rank")


_HITS_ITERS = 6
_HITS_TOPK = 100


def _q_hits(spark, sf_dir):
    # HITS hubs & authorities (Kleinberg 1999) over the DIRECTED
    # order->part bipartite graph (distinct lineitem pairs): orders
    # are pure hubs, parts pure authorities. Top-100 by 6-dp-rounded
    # auth with node tie-break (rounding BEFORE the cut, same oracle
    # recipe as gr_pagerank).
    from pyspark.sql import Window

    from codeindex_spark.ops.graph import hits

    li = _load(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("o:"), F.col("l_orderkey")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("dst"),
    ).distinct()
    hv = hits(edges, iters=_HITS_ITERS)
    top = (
        hv.withColumn("hub", F.round("hub", 6))
        .withColumn("auth", F.round("auth", 6))
        .orderBy(F.desc("auth"), F.asc("node"))
        .limit(_HITS_TOPK)
    )
    w = Window.orderBy(F.desc("auth"), F.asc("node"))
    return top.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select("node", "hub", "auth", "rank")


def _q_triangles(spark, sf_dir):
    # per-node triangle counts over the part co-purchase graph (parts
    # sharing an order); degree-oriented wedge join (ops/graph.py) so
    # hub parts never explode — oracle replays the same orientation
    # as a 3-way self-join in SQL
    from codeindex_spark.ops.graph import triangle_counts

    li = _load(spark, sf_dir, "lineitem")
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .distinct()
    )
    return triangle_counts(edges).select(
        F.col("node").cast("long").alias("node"), "triangles"
    )


def _q_interval_join(spark, sf_dir):
    # interval overlap join: purchase windows [ts, ts+2h] x click
    # windows [ts, ts+30min] per user — grid-bucketed equi-join with
    # canonical-bucket emit-once (ops/timeseries.py); the oracle is
    # the plain inequality join DuckDB runs as IEJoin
    from codeindex_spark.ops.timeseries import interval_join

    ev = _load(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event"),
        "user_id",
        "s",
        (F.col("s") + F.lit(7_200_000_000)).alias("e"),
    )
    clicks = base.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event"),
        "user_id",
        "s",
        (F.col("s") + F.lit(1_800_000_000)).alias("e"),
    )
    j = interval_join(
        purchases, clicks, ["user_id"], "s", "e", "s", "e",
        bucket_seconds=3600.0,
    )
    return j.select(
        "p_event",
        "c_event",
        "user_id",
        F.col("overlap_us").cast("long").alias("overlap_us"),
    )


def _ppr_values_sql() -> str:
    """Independent pure-Python replay of the documented personalized
    PageRank semantics (uniform init, teleport vector uniform over
    the seed set, dangling mass restarting at the seeds) over the
    same distinct symmetrized bipartite edges."""
    import pandas as pd

    li = pd.read_parquet(
        os.path.join(_oracle_sf_dir(), "lineitem.parquet")
    )[["l_orderkey", "l_partkey"]].drop_duplicates()
    fwd = [
        (f"o:{o}", f"p:{p}")
        for o, p in zip(li["l_orderkey"], li["l_partkey"])
    ]
    edges = fwd + [(d, s) for s, d in fwd]
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    nset = set(nodes)
    seeds = [s for s in sorted(set(_PPR_SEEDS)) if s in nset]
    t = {
        v: (1.0 / len(seeds) if v in set(seeds) else 0.0) for v in nodes
    }
    n = len(nodes)
    deg: dict[str, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    d = _PR_DAMPING
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(_PR_ITERS):
        contrib = {v: 0.0 for v in nodes}
        for s, tgt in edges:
            contrib[tgt] += pr[s] / deg[s]
        total = sum(contrib[v] for v in nodes)
        pr = {
            v: (1.0 - d) * t[v]
            + d * (contrib[v] + (1.0 - total) * t[v])
            for v in nodes
        }
    ranked = sorted(
        ((round(p, 6), v) for v, p in pr.items()),
        key=lambda x: (-x[0], x[1]),
    )[:_PR_TOPK]
    rows = ",".join(
        f"('{v}',{p!r},{i + 1})" for i, (p, v) in enumerate(ranked)
    )
    return (
        "SELECT node, pr::DOUBLE AS pr, rank::BIGINT AS rank FROM "
        "(VALUES " + rows + ') AS t(node, pr, "rank")'
    )


def _hits_values_sql() -> str:
    """Independent pure-Python replay of the documented HITS
    semantics (uniform hub init, a = Aᵀh then h = Aa per iteration,
    L1 normalization of each vector, the loop-final coupled pair)
    over the same distinct DIRECTED order->part edges."""
    import pandas as pd

    li = pd.read_parquet(
        os.path.join(_oracle_sf_dir(), "lineitem.parquet")
    )[["l_orderkey", "l_partkey"]].drop_duplicates()
    edges = [
        (f"o:{o}", f"p:{p}")
        for o, p in zip(li["l_orderkey"], li["l_partkey"])
    ]
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    h = {v: 1.0 / n for v in nodes}
    a = {v: 0.0 for v in nodes}
    for _ in range(_HITS_ITERS):
        a = {v: 0.0 for v in nodes}
        for s, d in edges:
            a[d] += h[s]
        ta = sum(a.values())
        a = {v: (x / ta if ta > 0 else 0.0) for v, x in a.items()}
        h = {v: 0.0 for v in nodes}
        for s, d in edges:
            h[s] += a[d]
        th = sum(h.values())
        h = {v: (x / th if th > 0 else 0.0) for v, x in h.items()}
    ranked = sorted(
        ((round(a[v], 6), round(h[v], 6), v) for v in nodes),
        key=lambda t: (-t[0], t[2]),
    )[:_HITS_TOPK]
    rows = ",".join(
        f"('{v}',{hb!r},{au!r},{i + 1})"
        for i, (au, hb, v) in enumerate(ranked)
    )
    return (
        "SELECT node, hub::DOUBLE AS hub, auth::DOUBLE AS auth, "
        'rank::BIGINT AS rank FROM (VALUES ' + rows
        + ') AS t(node, hub, auth, "rank")'
    )


def _pagerank_values_sql() -> str:
    """Independent pure-Python replay of the documented PageRank
    semantics (uniform init, teleport (1-d)/N, dangling mass = 1 - Σ
    emitted, identical update expression) over the same distinct
    symmetrized bipartite edges."""
    import pandas as pd

    li = pd.read_parquet(
        os.path.join(_oracle_sf_dir(), "lineitem.parquet")
    )[["l_orderkey", "l_partkey"]].drop_duplicates()
    fwd = [
        (f"o:{o}", f"p:{p}")
        for o, p in zip(li["l_orderkey"], li["l_partkey"])
    ]
    edges = fwd + [(d, s) for s, d in fwd]
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    deg: dict[str, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    d = _PR_DAMPING
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(_PR_ITERS):
        contrib = {v: 0.0 for v in nodes}
        for s, t in edges:
            contrib[t] += pr[s] / deg[s]
        total = sum(contrib[v] for v in nodes)
        pr = {
            v: (1.0 - d) / n + d * (contrib[v] + (1.0 - total) / n)
            for v in nodes
        }
    ranked = sorted(
        ((round(p, 6), v) for v, p in pr.items()),
        key=lambda t: (-t[0], t[1]),
    )[:_PR_TOPK]
    rows = ",".join(
        f"('{v}',{p!r},{i + 1})" for i, (p, v) in enumerate(ranked)
    )
    return (
        "SELECT node, pr::DOUBLE AS pr, rank::BIGINT AS rank FROM "
        "(VALUES " + rows + ') AS t(node, pr, "rank")'
    )


def _link_pagerank_values_sql() -> str:
    """Independent pure-Python replay of the gr_link_pagerank entry:
    the absolute link of doc i resolves to site{i%97}.example.com
    (per _HTML_LINKS_DERIVE_SQL plus the normalize_urls lowercase/
    www/default-port rules), the source domain is src{i%53}, edges
    are DISTINCT and DIRECTED (site nodes dangling), then the same
    documented PageRank update as _pagerank_values_sql for
    _LPR_ITERS iterations; round to 6 dp BEFORE the top-k cut."""
    import pandas as pd

    ids = pd.read_parquet(
        os.path.join(_oracle_sf_dir(), "documents.parquet"),
        columns=["doc_id"],
    )["doc_id"]
    edges = sorted(
        {
            (f"src{int(i) % 53}", f"site{int(i) % 97}.example.com")
            for i in ids
        }
    )
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    n = len(nodes)
    deg: dict[str, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    d = _PR_DAMPING
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(_LPR_ITERS):
        contrib = {v: 0.0 for v in nodes}
        for s, t in edges:
            contrib[t] += pr[s] / deg[s]
        total = sum(contrib[v] for v in nodes)
        pr = {
            v: (1.0 - d) / n + d * (contrib[v] + (1.0 - total) / n)
            for v in nodes
        }
    ranked = sorted(
        ((round(p, 6), v) for v, p in pr.items()),
        key=lambda t: (-t[0], t[1]),
    )[:_PR_TOPK]
    rows = ",".join(
        f"('{v}',{p!r},{i + 1})" for i, (p, v) in enumerate(ranked)
    )
    return (
        "SELECT node, pr::DOUBLE AS pr, rank::BIGINT AS rank FROM "
        "(VALUES " + rows + ') AS t(node, pr, "rank")'
    )


_BPE_MERGES = 30
_BPE_MAX_WORDS = 5000


def _q_bpe_merges(spark, sf_dir):
    from codeindex_spark.ops.bpe import bpe_merges_df, bpe_train

    docs = _load(spark, sf_dir, "documents")
    merges = bpe_train(
        docs, n_merges=_BPE_MERGES, max_words=_BPE_MAX_WORDS
    )
    return bpe_merges_df(spark, merges)


def _q_bpe_tokens(spark, sf_dir):
    from codeindex_spark.ops.bpe import bpe_token_counts, bpe_train

    docs = _load(spark, sf_dir, "documents")
    merges = bpe_train(
        docs, n_merges=_BPE_MERGES, max_words=_BPE_MAX_WORDS
    )
    return bpe_token_counts(docs, merges)


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _q_pivot(spark, sf_dir):
    # wide per-user activity matrix: groupBy().pivot() with an
    # EXPLICIT value list (no distinct-values pre-job; at 100 TB the
    # pivot stays one partial-agg pass with 2·|types| agg slots)
    ev = _load(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 6).alias("v"),
        )
    )
    cols = [F.col("user_id")]
    for t in _EVENT_TYPES:
        cols.append(F.coalesce(F.col(f"{t}_n"), F.lit(0)).alias(f"{t}_n"))
        cols.append(
            F.round(F.coalesce(F.col(f"{t}_v"), F.lit(0.0)), 6).alias(f"{t}_v")
        )
    return piv.select(*cols)


def _q_event_compaction(spark, sf_dir):
    ev = _load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", "ts").alias("last_type"),
        F.round(F.max_by("value", "ts"), 6).alias("last_value"),
        F.count("*").cast("long").alias("n_events"),
    )


def _q_sliding_window(spark, sf_dir):
    # overlapping event-time windows (size 2h, slide 1h): Spark's
    # F.window expands each event into exactly size/slide = 2 rows
    # map-side (one Expand, epoch-aligned starts) feeding ONE
    # partial-agg groupBy — never a self-join of shifted copies
    ev = _load(spark, sf_dir, "events")
    w = F.window("ts", "2 hours", "1 hour")
    return (
        ev.groupBy("event_type", w.alias("win"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "event_type",
            F.col("win.start").alias("win_start"),
            "n",
            "sum_value",
        )
    )


def _q_event_window(spark, sf_dir):
    ev = _load(spark, sf_dir, "events")
    return ev.groupBy(
        F.col("event_type"), F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


def _mm_media(spark, sf_dir):
    """Deterministic media table derived from `documents`: every doc
    gets a media row; doc_id % 3 == 0 rows are videos (duration only),
    the rest images (dims only). Pure expressions — the oracle can
    recompute the same metadata in SQL."""
    d = _load(spark, sf_dir, "documents")
    is_video = F.col("doc_id") % 3 == 0
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.when(is_video, F.lit("video")).otherwise(F.lit("image")).alias("kind"),
        F.struct(
            F.when(~is_video, (F.lit(8) + (F.col("doc_id") % 9) * 4))
            .cast("int")
            .alias("width"),
            F.when(~is_video, (F.lit(6) + (F.col("doc_id") % 7) * 6))
            .cast("int")
            .alias("height"),
            F.when(~is_video, F.lit(3)).cast("int").alias("channels"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.when(is_video, (F.lit(200) + (F.col("doc_id") % 12) * 125))
            .cast("int")
            .alias("duration_ms"),
        ).alias("meta"),
    )


def _q_mm_resize_plan(spark, sf_dir):
    from codeindex_spark.ops.multimodal import resize_image_meta

    media = _mm_media(spark, sf_dir).filter(F.col("kind") == "image")
    return resize_image_meta(media, max_side=16).select(
        "media_id",
        "kind",
        F.col("target_width").cast("long").alias("target_width"),
        F.col("target_height").cast("long").alias("target_height"),
    )


def _q_mm_frame_sample(spark, sf_dir):
    from codeindex_spark.ops.multimodal import sample_frames

    media = _mm_media(spark, sf_dir).filter(F.col("kind") == "video")
    out = sample_frames(media, every_ms=250)
    return out.select(
        "media_id", F.col("frame_ms").cast("long").alias("frame_ms")
    )


def _q_mm_feature_hist(spark, sf_dir):
    from codeindex_spark.ops.multimodal import (
        image_histogram_counts,
        synth_media,
    )

    # payloads are REAL encoded PPM (P6) bytes of seeded pixels — the
    # sf tables carry no binary column; the genuine decode+histogram
    # kernel (fake=False) is the thing under test
    return image_histogram_counts(
        synth_media(spark, n=16, kind="image", real=True), fake=False
    )


def _q_mm_audio_windows(spark, sf_dir):
    from codeindex_spark.ops.multimodal import (
        audio_window_features,
        synth_media,
    )

    # payloads are REAL 16-bit PCM WAV bytes of seeded samples,
    # decoded by the genuine (fake=False) stdlib-wave path
    return audio_window_features(
        synth_media(spark, n=16, kind="audio", real=True),
        window_ms=250,
        fake=False,
    )


def _mm_audio_values(n: int = 16) -> str:
    """Windowed audio metrics recomputed independently with plain
    numpy+hashlib (the same media_id-seeded samples synth_media
    encodes into real WAV payloads — this recompute never touches the
    codec, so it cross-checks encode->decode->window end to end) —
    emitted as a VALUES literal for DuckDB."""
    import hashlib

    import numpy as np

    rows = []
    for i in range(n):
        seed = int.from_bytes(
            hashlib.sha256(f"media{i}".encode()).digest()[:8], "big"
        )
        rng = np.random.default_rng(seed)
        pcm = rng.integers(-32768, 32768, size=16000, dtype=np.int16)
        for w, start in enumerate(range(0, 16000, 4000)):
            seg = pcm[start : start + 4000]
            sumsq = int((seg.astype(np.int64) ** 2).sum())
            zc = int(((seg[:-1] < 0) != (seg[1:] < 0)).sum())
            rows.append(f"({i},{w},{len(seg)},{sumsq},{zc})")
    return ",".join(rows)


def _mm_hist_values(n: int = 16) -> str:
    """The real-decode histogram recomputed independently with plain
    numpy+hashlib (the same media_id-seeded pixels synth_media
    encodes into real P6 PPM payloads — this recompute never touches
    the codec, so it cross-checks encode->decode->histogram end to
    end; n_bytes is the PPM size computed arithmetically:
    len("P6\\n32 24\\n255\\n") + 24*32*3) — emitted as a VALUES
    literal for DuckDB."""
    import hashlib

    import numpy as np

    ppm_bytes = len(b"P6\n32 24\n255\n") + 24 * 32 * 3
    rows = []
    for i in range(n):
        seed = int.from_bytes(
            hashlib.sha256(f"media{i}".encode()).digest()[:8], "big"
        )
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=(24, 32, 3), dtype=np.uint8)
        hist, _ = np.histogram(img, bins=8, range=(0, 256))
        rows.append(
            f"({i},{','.join(str(int(x)) for x in hist)},{ppm_bytes})"
        )
    return ",".join(rows)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Declaration order matters: the driver's CORRECTNESS artifact
    # caps at the FIRST 50 entries. The window policy (explicit per
    # VERDICT r4 task 8) is encoded in the section comments below:
    # (1) entries never yet externally checked lead (40 in r5), (2) a
    # fixed set of PINNED core sentinels (10 in r5 — the floor; no
    # further head insertions without widening the window) appears in
    # EVERY window so core regressions stay externally visible, (3) the
    # slots rotate through the least-recently-checked entries.
    # Everything below the cap was checked in the most recent rounds
    # and stays covered locally by tools/check_entry.py.
    return {
        # --- WINDOW (first 50 = the driver's CORRECTNESS cap) ---
        # r6 rotation per the window policy (VERDICT r5 task 1):
        # (1) the four entries never yet externally checked lead
        # (added after r5's driver window was cut; judge-green via
        # tools/check_entry.py only),
        "q55_grouping": _q_grouped_repo,
        "q56_facet_drill": _q_facet_drill,
        "q57_join_query": _q_join_query,
        "pc_percolate_idx": _q_percolate_indexed,
        # (2) the 36 least-recently-checked entries (last green
        # r01-r03) rotate in,
        "st_event_compaction": _q_event_compaction,
        "st_event_window": _q_event_window,
        "rel_pricing_summary": _q_pricing_summary,
        "rel_order_join": _q_order_join,
        "rel_window_rank": _q_window_rank,
        "px_pack": _q_pack,
        "px_sample_strat": _q_sample_stratified,
        "tx_fingerprint": _q_fingerprint,
        "tx_bpe_count": _q_bpe_count,
        "tx_scrub": _q_scrub,
        "px_chunk": _q_chunk,
        "px_chunk_dedup": _q_chunk_dedup,
        "px_sample": _q_sample,
        "q23_phrase_slop": _q_phrase_slop,
        "dd_exact": _q_dedup_exact,
        "dd_minhash_lsh": _q_dedup_minhash,
        "ann_cosine_topk": _q_ann_cosine,
        "q19_content_substring": _q_content_substring,
        "dd_keep": _q_near_dedup_keep,
        "hy_rrf": _q_hybrid_rrf,
        "ann_ivfpq_res_topk": _q_ann_ivfpq_res,
        "px_pipeline": _q_pipeline,
        "pv_highlight": _q_preview_highlight,
        "tx_langid": _q_langid,
        "q20_content_regex": _q_content_regex,
        "q05_phrase_wildcard": _q_phrase_wildcard,
        "q24_boosted_or": _q_boosted_or,
        "q25_term_range": _q_term_range,
        "q27_term_regexp": _q_term_regexp,
        "q26_bool_clauses": _q_bool_clauses,
        "q08_term_dict": _q_term_dict,
        "q10_field_filtered": _q_field_filtered,
        "q11_path_term": _q_path_term,
        "q13_scan_filter_project": _q_scan_filter_project,
        "q15_cs_negative": _q_cs_negative,
        "q17_path_substring": _q_path_substring,
        # (3) PINNED core sentinels — in EVERY window so core
        # regressions stay externally visible (r4 task 8):
        "q01_bm25_topk": _q_bm25_topk,
        "q02_bool_and": _q_bool_and,
        "q03_bool_or_not": _q_bool_or_not,
        "q04_phrase": _q_phrase,
        "q06_wildcard": _q_wildcard,
        "q07_fuzzy": _q_fuzzy,
        "q09_hints": _q_hints,
        "q12_pk_lookup": _q_pk_lookup,
        "q14_case_sensitive": _q_case_sensitive,
        "q16_batch_search": _q_batch_search,
        # --- below the cap: checked green in r04/r05; covered
        # locally by tools/check_entry.py ---
        "pc_percolate": _q_percolate,
        "q53_parent_join": _q_parent_join,
        "ix_stats": _q_index_stats,
        "q54_mlt_text": _q_mlt_text,
        "pv_fragments": _q_best_fragments,
        "q50_collapse_lang": _q_collapse_lang,
        "q51_sort_fields": _q_sort_fields,
        "q52_top_terms": _q_top_terms,
        "st_dedup_registry": _q_dedup_registry_stream,
        "q42_regexp_extended": _q_regexp_extended,
        "q43_span_near_or": _q_span_near_or,
        "q44_bool_filter": _q_bool_filter,
        "q45_forpack_phrase": _q_forpack_phrase,
        "q46_count": _q_count,
        "ix_check": _q_check_index,
        "ix_merge": _q_merged_search,
        "q47_search_after": _q_search_after,
        "q48_span_first_or": _q_span_first_or,
        "q49_span_not_or": _q_span_not_or,
        "ann_margin_align": _q_margin_align,
        "px_html_extract": _q_html_extract,
        "px_extract_links": _q_extract_links,
        "px_anchor_stats": _q_anchor_stats,
        "gr_link_pagerank": _q_link_pagerank,
        "mm_resize_plan": _q_mm_resize_plan,
        "mm_frame_sample": _q_mm_frame_sample,
        "mm_feature_hist": _q_mm_feature_hist,
        "mm_audio_windows": _q_mm_audio_windows,
        "px_dsir": _q_dsir,
        "px_mixture": _q_mixture,
        "px_shards": _q_shards,
        "q28_facets": _q_facets,
        "q29_suggest": _q_suggest,
        "q30_more_like_this": _q_mlt,
        "rel_value_hist": _q_value_hist,
        "tx_c4": _q_c4,
        "tx_normalize": _q_normalize,
        "tx_profile": _q_profile,
        "dd_span_scrub": _q_span_scrub,
        "tx_domain_stats": _q_domain_stats,
        "q38_min_should_match": _q_min_should_match,
        "q39_span_not": _q_span_not,
        "rel_cube": _q_cube,
        "rel_quantiles": _q_quantiles,
        "gr_hits": _q_hits,
        "rel_kmv_distinct": _q_kmv_distinct,
        "gr_ppr": _q_ppr,
        "rel_sliding_window": _q_sliding_window,
        "q40_span_or": _q_span_or,
        "st_kmv_stream": _q_kmv_stream,
        "rel_salted_agg": _q_salted_agg,
        "rel_salted_join": _q_salted_join,
        "q41_explain": _q_explain,
        "dd_tfidf_pairs": _q_tfidf_pairs,
        "q34_synonym_blend": _q_synonym_blend,
        "q35_span_first": _q_span_first,
        "q36_dismax": _q_dismax,
        "q37_constant_score": _q_constant_score,
        "tx_heavy_hitters": _q_heavy_hitters,
        "px_line_dedup": _q_line_dedup,
        "dd_bloom_contamination": _q_bloom_contamination,
        "rel_asof": _q_asof,
        "rel_rollup": _q_rollup,
        "tx_pmi": _q_pmi,
        "tx_entropy": _q_entropy,
        "rel_pivot": _q_pivot,
        "tx_bpe_merges": _q_bpe_merges,
        "tx_bpe_tokens": _q_bpe_tokens,
        "gr_pagerank": _q_pagerank,
        "gr_triangles": _q_triangles,
        "rel_interval_join": _q_interval_join,
        "st_time_travel": _q_time_travel,
        "px_url_dedup": _q_url_dedup,
        "px_domain_filter": _q_domain_filter,
        "px_cluster_sample": _q_cluster_sample,
        "px_cluster_profile": _q_cluster_profile,
        "tx_nb_classifier": _q_nb_classifier,
        "q31_phrase_slop_reordered": _q_phrase_slop_reordered,
        "q32_phrase_slop_inorder": _q_phrase_slop_inorder,
        "tx_lm_score": _q_lm_score,
        "px_para_dedup": _q_para_dedup,
        "dd_span_stats": _q_span_stats,
        "tx_ppl_buckets": _q_ppl_buckets,
        "tx_keywords": _q_keywords,
        "rel_sessions": _q_sessions,
        "rel_sessions_stream": _q_sessions_stream,
        "dd_semdedup": _q_semdedup,
        "q33_term_interval": _q_term_interval,
        "tx_gopher": _q_gopher,
        "q18_filename_term": _q_filename_term,
        "q21_substring_batch": _q_substring_batch,
        "q22_regex_batch": _q_regex_batch,
        "a1_doc_len": _q_doc_len,
        "dd_jaccard": _q_dedup_jaccard,
        "dd_components": _q_dedup_components,
        "dd_contamination": _q_contamination,
        "dd_simhash": _q_dedup_simhash,
        "dd_embed_neardup": _q_embed_neardup,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_ivf_topk": _q_ann_ivf,
        "ann_pq_topk": _q_ann_pq,
        "ann_ivfpq_topk": _q_ann_ivfpq,
        "pv_matched_lines": _q_matched_lines,
        "pv_grep_lines": _q_grep_lines,
        "tx_quality": _q_quality,
        "tx_repetition": _q_repetition,
    }


# The driver's oracle comparison runs at sf0.01 (override with
# SPARK_GRAFT_ORACLE_SF_DIR, read at call time); the seeded
# candidate-set oracles below read the same parquet with pandas+numpy
# (no engine code) to freeze bucket/cell membership, and let DuckDB do
# the exact cosine ranking over that literal id set.
def _oracle_sf_dir() -> str:
    return os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )


def _bpe_oracle_word_freqs():
    import collections

    import pandas as pd

    docs = pd.read_parquet(
        os.path.join(_oracle_sf_dir(), "documents.parquet")
    )
    cnt: collections.Counter = collections.Counter()
    for t in docs["text"]:
        if isinstance(t, str):
            for w in t.split():
                cnt[w] += 1
    items = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    return items[:_BPE_MAX_WORDS], docs


def _bpe_oracle_merges():
    """Independent replay of the documented BPE training semantics
    (ops/bpe.py module docstring) over the oracle parquet: pair
    counts from a Counter per pass, best = (count desc, pair asc),
    all non-overlapping occurrences fused left-to-right."""
    import collections

    items, docs = _bpe_oracle_word_freqs()
    vocab = collections.Counter()
    for w, f in items:
        vocab[tuple(w) + ("</w>",)] += f
    merges = []
    for _ in range(_BPE_MERGES):
        pc: collections.Counter = collections.Counter()
        for sym, f in vocab.items():
            for i in range(len(sym) - 1):
                pc[(sym[i], sym[i + 1])] += f
        if not pc:
            break
        best = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        (l, r), c = best
        merges.append((l, r, c))
        nv: collections.Counter = collections.Counter()
        for sym, f in vocab.items():
            nv[tuple(_bpe_oracle_fuse(list(sym), l, r))] += f
        vocab = nv
    return merges, docs


def _bpe_oracle_fuse(sym, l, r):
    out, i = [], 0
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return out


def _bpe_merges_values_sql() -> str:
    merges, _docs = _bpe_oracle_merges()
    rows = ",".join(
        f"({i + 1},'{l}','{r}','{l + r}',{c})"
        for i, (l, r, c) in enumerate(merges)
    )
    return (
        "SELECT * FROM (VALUES "
        + rows
        + ') AS t("rank", "left", "right", merged, pair_count)'
    )


def _bpe_tokens_values_sql() -> str:
    """Per-doc learned-BPE token counts: merges applied exhaustively
    in learned order (equivalent to lowest-rank-present because a
    merge can never recreate an earlier-rank adjacency — fusing two
    symbols yields a NEW symbol, so destroyed pairs stay destroyed)."""
    merges, docs = _bpe_oracle_merges()
    seg_len: dict[str, int] = {}

    def n_sub(word: str) -> int:
        if word not in seg_len:
            sym = list(word) + ["</w>"]
            for l, r, _c in merges:
                while any(
                    sym[i] == l and sym[i + 1] == r
                    for i in range(len(sym) - 1)
                ):
                    sym = _bpe_oracle_fuse(sym, l, r)
            seg_len[word] = len(sym)
        return seg_len[word]

    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        words = text.split() if isinstance(text, str) else []
        rows.append(
            f"({int(doc_id)},{len(words)},"
            f"{sum(n_sub(w) for w in words)})"
        )
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(doc_id, n_words, n_bpe_tokens)"
    )


def _oracle_embedding_matrix():
    import numpy as np
    import pandas as pd

    emb = pd.read_parquet(
        os.path.join(_oracle_sf_dir(), "embeddings.parquet")
    ).sort_values("vec_id")
    ids = emb["vec_id"].to_numpy()
    mat = np.stack(
        [np.asarray(v, dtype=np.float64) for v in emb["embedding"]]
    )
    return ids, mat


def _semdedup_values_sql(
    threshold: float = 0.95,
    n_centroids: int = 8,
    sample: int = 256,
    iters: int = 10,
    seed: int = 42,
) -> str:
    """dd_semdedup oracle: independent numpy replay of the documented
    SemDeDup semantics (seeded-sample spherical k-means -> nearest
    centroid -> per cluster, cent-sim-asc/id-asc order, duplicate when
    an earlier member has cosine >= threshold, dup_of = the most
    similar earlier member) over the parquet embeddings plus the same
    exact-copy twins the entry injects, inlined as a VALUES table."""
    import numpy as np

    ids, mat = _oracle_embedding_matrix()
    twin = ids % 10 == 0
    ids = np.concatenate([ids, ids[twin] + 1_000_000])
    mat = np.vstack([mat, mat[twin]])
    matn = mat / np.maximum(
        np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
    )
    train = matn[np.argsort(ids)][:sample]
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
    rows = []
    for c in range(n_centroids):
        mask = cell == c
        cids, cmat = ids[mask], matn[mask]
        # per-row reduction, same as the op kernel (gemv rounds
        # position-dependently and would flip exact-copy tie-breaks)
        cs = (cmat * cents[c]).sum(axis=1)
        o = np.lexsort((cids, cs))
        cids, cmat = cids[o], cmat[o]
        for i in range(len(cids)):
            sims = cmat[:i] @ cmat[i]
            j = int(sims.argmax()) if i else -1
            dup = i > 0 and float(sims[j]) >= threshold
            rows.append(
                (
                    int(cids[i]),
                    c,
                    "FALSE" if dup else "TRUE",
                    str(int(cids[j])) if dup else "NULL",
                )
            )
    vals = ",".join(
        f"({v},{c},{k},{d})" for v, c, k, d in sorted(rows)
    )
    return (
        f"SELECT vec_id::BIGINT AS vec_id, cluster::BIGINT AS cluster, "
        f"kept::BOOLEAN AS kept, dup_of::BIGINT AS dup_of "
        f"FROM (VALUES {vals}) AS t(vec_id, cluster, kept, dup_of)"
    )


def _cluster_assign_values(
    n_centroids: int = 8, sample: int = 256, iters: int = 10, seed: int = 42
) -> str:
    """VALUES literal (vec_id, cluster, cent_sim) replaying the
    cluster-curation assignment: gemm k-means training identical to
    ivf_train_centroids over the id-sorted sample, then PER-ROW-
    REDUCTION similarities identical to ops/cluster.py:cluster_assign
    (gemm would round position-dependently and could flip near-tie
    assignments between the batch-wise kernel and this full-matrix
    replay). cent_sim is emitted at full repr precision; rounding
    happens in SQL on both sides."""
    import numpy as np

    ids, mat = _oracle_embedding_matrix()
    matn = mat / np.maximum(
        np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
    )
    train = matn[np.argsort(ids)][:sample]
    rng = np.random.default_rng(seed)
    cents = train[rng.choice(len(train), size=n_centroids, replace=False)]
    for _ in range(iters):
        a = (train @ cents.T).argmax(axis=1)
        for c in range(n_centroids):
            ms = train[a == c]
            if len(ms):
                v = ms.mean(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)
    sims = np.stack([(matn * c).sum(axis=1) for c in cents], axis=1)
    best = sims.argmax(axis=1)
    return ",".join(
        f"({int(i)},{int(c)},{float(s)!r})"
        for i, c, s in zip(ids, best, sims[np.arange(len(ids)), best])
    )


def _pq_candidate_ids(
    m: int = 8,
    n_codes: int = 16,
    k: int = 5,
    refine: int = 4,
    seed: int = 43,
    sample: int = 2048,
    iters: int = 10,
) -> str:
    """ADC top-(k*refine) candidates for ann_pq_topk: the same seeded
    per-subspace k-means + expanded-form encode + table-lookup scores
    rerun in plain numpy from parquet (ties: score desc, id asc)."""
    import numpy as np

    ids, mat = _oracle_embedding_matrix()
    q = mat[ids == 0][0].astype(np.float64)
    keep = ids != 0
    ids, mat = ids[keep], mat[keep]

    def norm(x):
        n = np.linalg.norm(x, axis=-1, keepdims=True)
        return x / np.maximum(n, 1e-12)

    matn = norm(mat.astype(np.float64))
    train = matn[:sample]
    d = matn.shape[1] // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, n_codes, d))
    for j in range(m):
        sub = train[:, j * d : (j + 1) * d]
        cb = sub[rng.choice(len(sub), size=n_codes, replace=False)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(n_codes):
                members = sub[assign == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        books[j] = cb
    sq = (books**2).sum(axis=2)
    codes = np.empty((len(matn), m), dtype=np.int64)
    for j in range(m):
        sub = matn[:, j * d : (j + 1) * d]
        codes[:, j] = (-2.0 * (sub @ books[j].T) + sq[j][None, :]).argmin(
            axis=1
        )
    qn = q / max(np.linalg.norm(q), 1e-12)
    table = np.stack([books[j] @ qn[j * d : (j + 1) * d] for j in range(m)])
    scores = table[np.arange(m)[None, :], codes].sum(axis=1)
    order = np.lexsort((ids, -scores))[: k * refine]
    return ",".join(str(int(i)) for i in ids[order])


def _ivfpq_candidate_ids(
    n_centroids: int = 8,
    n_probe: int = 3,
    m: int = 8,
    n_codes: int = 16,
    k: int = 5,
    refine: int = 4,
    ivf_seed: int = 42,
    pq_seed: int = 43,
    sample: int = 2048,
    iters: int = 10,
) -> str:
    """ann_ivfpq_topk candidates: probed-cell membership (the shared
    _coarse_replay k-means) intersected with the ADC top-k·refine
    (the _pq_candidate_ids pipeline restricted to those members)."""
    import numpy as np

    ids, matn, qn, cents, cell = _coarse_replay(
        n_centroids, ivf_seed, sample, iters
    )
    train = matn[:sample]
    probe = set(np.argsort(-(cents @ qn))[:n_probe].tolist())
    member = np.isin(cell, list(probe))
    # PQ replay (codebooks trained on the full sample, like the op)
    d = matn.shape[1] // m
    rng = np.random.default_rng(pq_seed)
    books = np.empty((m, n_codes, d))
    for j in range(m):
        sub = train[:, j * d : (j + 1) * d]
        cb = sub[rng.choice(len(sub), size=n_codes, replace=False)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for c in range(n_codes):
                ms = sub[a == c]
                if len(ms):
                    cb[c] = ms.mean(axis=0)
        books[j] = cb
    sq = (books**2).sum(axis=2)
    sub_ids, sub_mat = ids[member], matn[member]
    codes = np.empty((len(sub_mat), m), dtype=np.int64)
    for j in range(m):
        s = sub_mat[:, j * d : (j + 1) * d]
        codes[:, j] = (-2.0 * (s @ books[j].T) + sq[j][None, :]).argmin(
            axis=1
        )
    table = np.stack([books[j] @ qn[j * d : (j + 1) * d] for j in range(m)])
    scores = table[np.arange(m)[None, :], codes].sum(axis=1)
    order = np.lexsort((sub_ids, -scores))[: k * refine]
    return ",".join(str(int(i)) for i in sub_ids[order])


def _lsh_candidate_ids(n_bits: int = 6, seed: int = 42) -> str:
    """Probed-bucket membership for ann_lsh_topk, recomputed with the
    same seeded hyperplanes directly from parquet (independent of the
    Spark engine): sign pattern of n_bits random projections, query
    bucket + all 1-bit-flip neighbors."""
    import numpy as np

    ids, mat = _oracle_embedding_matrix()
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bits, mat.shape[1]))
    weights = 1 << np.arange(n_bits)
    buckets = (((mat @ planes.T) > 0) * weights).sum(axis=1)
    q = mat[ids == 0][0]
    qb = int(((q @ planes.T > 0) * weights).sum())
    probes = {qb} | {qb ^ (1 << i) for i in range(n_bits)}
    cand = sorted(
        int(i) for i, b in zip(ids, buckets) if int(b) in probes and i != 0
    )
    return ",".join(map(str, cand))


def _coarse_replay(
    n_centroids: int = 8, seed: int = 42, sample: int = 2048,
    iters: int = 10,
):
    """The engine's ivf_build coarse k-means rerun in plain numpy —
    the ONE replay every IVF-family oracle shares (ann_ivf_topk,
    ann_ivfpq_topk, ann_ivfpq_res_topk), so an ivf_build change can
    never leave one oracle silently diverged while another passes.
    Returns (ids, matn, qn, cents, cell): query-excluded ids, the
    L2-normalized matrix, the normalized query, centroids, and the
    per-vector cell assignment."""
    import numpy as np

    ids, mat = _oracle_embedding_matrix()
    q = mat[ids == 0][0].astype(np.float64)
    keep = ids != 0
    ids, mat = ids[keep], mat[keep]
    matn = mat.astype(np.float64)
    matn = matn / np.maximum(
        np.linalg.norm(matn, axis=1, keepdims=True), 1e-12
    )
    qn = q / max(np.linalg.norm(q), 1e-12)
    train = matn[:sample]
    rng = np.random.default_rng(seed)
    cents = train[rng.choice(len(train), size=n_centroids, replace=False)]
    for _ in range(iters):
        assign = (train @ cents.T).argmax(axis=1)
        for c in range(n_centroids):
            members = train[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)
    cell = (matn @ cents.T).argmax(axis=1)
    return ids, matn, qn, cents, cell


def _ivf_candidate_ids(
    n_centroids: int = 8,
    n_probe: int = 3,
    seed: int = 42,
    sample: int = 2048,
    iters: int = 10,
) -> str:
    """Probed-cell membership for ann_ivf_topk: the shared coarse
    replay, then every member of the ``n_probe`` nearest cells."""
    import numpy as np

    ids, _matn, qn, cents, cell = _coarse_replay(
        n_centroids, seed, sample, iters
    )
    probe = set(np.argsort(-(cents @ qn))[:n_probe].tolist())
    cand = sorted(int(i) for i, c in zip(ids, cell) if int(c) in probe)
    return ",".join(map(str, cand))


def _lsh_bucket_values(n_bits: int = 6, seed: int = 42) -> str:
    """(vec_id, bucket) VALUES rows for the full embedding table —
    the same seeded hyperplanes recomputed from parquet; DuckDB does
    the exact cosine + threshold over the bucket-mate pairs."""
    import numpy as np

    ids, mat = _oracle_embedding_matrix()
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bits, mat.shape[1]))
    weights = 1 << np.arange(n_bits)
    buckets = (((mat @ planes.T) > 0) * weights).sum(axis=1)
    return ",".join(f"({int(i)},{int(b)})" for i, b in zip(ids, buckets))


def _langid_oracle_sql() -> str:
    """Stopword-overlap language ID as SQL: distinct-token overlap
    per language, argmax with first-in-sorted-order tie-break (the
    kernel's np.argmax), confidence = best/total."""
    from codeindex_spark.ops.analysis import STOPWORDS

    langs = sorted(STOPWORDS)
    score_cols = ",\n                   ".join(
        "count(DISTINCT CASE WHEN term IN ("
        + ", ".join(repr(w) for w in sorted(STOPWORDS[lg]))
        + f") THEN term END) AS s_{lg}"
        for lg in langs
    )
    total = " + ".join(f"s_{lg}" for lg in langs)
    pred = f"CASE WHEN {total} = 0 THEN 'unknown'"
    for i, lg in enumerate(langs):
        rest = [f"s_{lg} >= s_{o}" for o in langs[i + 1 :]]
        if rest:
            pred += f" WHEN {' AND '.join(rest)} THEN '{lg}'"
        else:
            pred += f" ELSE '{lg}' END"
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    return f"""WITH {_TOK},
            dt AS (SELECT DISTINCT doc_id, term FROM tok),
            sc AS (SELECT d.doc_id,
                   {score_cols}
                   FROM documents d LEFT JOIN dt USING (doc_id)
                   GROUP BY d.doc_id)
            SELECT doc_id, {pred} AS lang_pred,
                   CASE WHEN {total} = 0 THEN 0.0::DOUBLE
                        ELSE round({best}::DOUBLE / ({total}), 6)
                   END AS lang_conf
            FROM sc"""


def _simhash_oracle_sql() -> str:
    """Bit-exact SQL for simhash64: per-word 64-bit hash from md5 hex
    halves (engine-portable), ±1 per bit summed per doc, sign bits
    reassembled into a signed 64-bit fingerprint."""
    sums = []
    for i in range(64):
        col = "hlo" if i < 32 else "hhi"
        sums.append(
            f"sum(CASE WHEN (({col} >> {i % 32}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) AS s{i}"
        )
    terms = [
        f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(63)
    ]
    terms.append(
        "(CASE WHEN s63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END)"
    )
    return f"""
        WITH w AS (
          SELECT doc_id, unnest(string_split_regex(text, ' +')) AS w
          FROM documents),
        h AS (
          SELECT doc_id,
                 ('0x' || substr(md5(w), 1, 8))::BIGINT AS hhi,
                 ('0x' || substr(md5(w), 9, 8))::BIGINT AS hlo
          FROM w WHERE w <> ''),
        s AS (SELECT doc_id, {", ".join(sums)} FROM h GROUP BY doc_id)
        SELECT doc_id, ({" + ".join(terms)})::BIGINT AS simhash FROM s"""


# MinHash universal-hash constants — mirrored from ops/dedup.py so the
# DuckDB oracle reproduces the signatures bit-exactly.
def _minhash_consts():
    from codeindex_spark.ops.dedup import MINHASH_AB, MINHASH_P

    a = "[" + ",".join(str(x) for x, _ in MINHASH_AB) + "]"
    b = "[" + ",".join(str(x) for _, x in MINHASH_AB) + "]"
    return MINHASH_P, a, b


_MINHASH_P, _MINHASH_A, _MINHASH_B = _minhash_consts()

# shared CTE chain: tok -> word-3-gram shingles -> 32-bit md5
# fingerprints -> 8 universal-hash minima -> 2-wide LSH bands ->
# candidate pairs (mh_pairs). Used by dd_minhash_lsh and as the edge
# set of dd_components.
_MINHASH_PAIR_CTES = f"""sh AS (
              SELECT DISTINCT a.doc_id,
                     a.term || ' ' || b.term || ' ' || c.term AS shingle
              FROM tok a JOIN tok b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
                         JOIN tok c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
            fp AS (
              SELECT doc_id,
                     ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS x
              FROM sh),
            sig AS (
              SELECT doc_id, s.seed,
                     min((s.a * x + s.b) % {_MINHASH_P}) AS minhash
              FROM fp, (SELECT unnest(range(8)) AS seed,
                               unnest({_MINHASH_A}) AS a,
                               unnest({_MINHASH_B}) AS b) s
              GROUP BY doc_id, s.seed),
            bands AS (
              SELECT doc_id, seed // 2 AS band,
                     string_agg(minhash::VARCHAR, '|' ORDER BY minhash)
                       AS band_key
              FROM sig GROUP BY doc_id, seed // 2),
            mh_pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id)"""


def _ivfpq_res_candidate_ids(
    n_centroids: int = 8,
    n_probe: int = 3,
    m: int = 8,
    n_codes: int = 16,
    k: int = 5,
    refine: int = 4,
    ivf_seed: int = 42,
    pq_seed: int = 43,
    sample: int = 2048,
    iters: int = 10,
) -> str:
    """ann_ivfpq_res_topk candidates: the shared _coarse_replay, then
    PQ trained on RESIDUALS x − c_cell (no renormalization), codes
    over residuals, and ADC scoring with the per-cell ⟨q,c⟩ offset —
    ivf_pq_topk(by_residual=True) verbatim."""
    import numpy as np

    ids, matn, qn, cents, cell = _coarse_replay(
        n_centroids, ivf_seed, sample, iters
    )
    res = matn - cents[cell]
    # residual PQ replay: trained on the id-sorted residual sample,
    # NOT renormalized
    d = matn.shape[1] // m
    rng = np.random.default_rng(pq_seed)
    rtrain = res[:sample]
    books = np.empty((m, n_codes, d))
    for j in range(m):
        sub = rtrain[:, j * d : (j + 1) * d]
        cb = sub[rng.choice(len(sub), size=n_codes, replace=False)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for c in range(n_codes):
                ms = sub[a == c]
                if len(ms):
                    cb[c] = ms.mean(axis=0)
        books[j] = cb
    sq = (books**2).sum(axis=2)
    probe = set(np.argsort(-(cents @ qn))[:n_probe].tolist())
    member = np.isin(cell, list(probe))
    sub_ids, sub_res, sub_cell = ids[member], res[member], cell[member]
    codes = np.empty((len(sub_res), m), dtype=np.int64)
    for j in range(m):
        s = sub_res[:, j * d : (j + 1) * d]
        codes[:, j] = (-2.0 * (s @ books[j].T) + sq[j][None, :]).argmin(
            axis=1
        )
    table = np.stack([books[j] @ qn[j * d : (j + 1) * d] for j in range(m)])
    qc = cents @ qn
    scores = qc[sub_cell] + table[np.arange(m)[None, :], codes].sum(axis=1)
    order = np.lexsort((sub_ids, -scores))[: k * refine]
    return ",".join(str(int(i)) for i in sub_ids[order])


# stupid-backoff LM scoring CTE chain (train + per-position
# backoff replayed in SQL), shared by tx_lm_score and
# tx_ppl_buckets; ends at sc = (doc_id, lp) per token position
_LM_SC = """toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)), ' +'),
                                 w -> w <> '') AS t
              FROM documents),
            toks2 AS (
              SELECT doc_id, t, len(t) AS nt FROM toks WHERE len(t) > 0),
            pos AS (
              SELECT doc_id, t, nt, u.i
              FROM toks2, UNNEST(range(1, nt + 1)) u(i)),
            g AS (
              SELECT k.ord AS ord,
                     array_to_string(list_slice(t, i, i + k.ord - 1), ' ') AS gram
              FROM pos, (VALUES (1), (2), (3)) k(ord)
              WHERE i + k.ord - 1 <= nt),
            counts AS (
              SELECT ord, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
            scal AS (
              SELECT sum(cnt)::DOUBLE AS total, count(*)::DOUBLE AS v
              FROM counts WHERE ord = 1),
            model AS (
              SELECT 0 AS ord, '' AS gram, 1.0::DOUBLE / (total + v) AS p
              FROM scal
              UNION ALL
              SELECT 1, gram, (cnt + 1.0::DOUBLE) / (total + v)
              FROM counts, scal WHERE ord = 1
              UNION ALL
              SELECT c.ord, c.gram, c.cnt::DOUBLE / x.cnt::DOUBLE
              FROM counts c JOIN counts x
                ON x.ord = c.ord - 1
               AND x.gram = array_to_string(
                     list_slice(string_split(c.gram, ' '), 1, c.ord - 1), ' ')
              WHERE c.ord >= 2 AND c.cnt >= 2),
            keyed AS (
              SELECT doc_id, i,
                     t[i] AS g1,
                     CASE WHEN i >= 2
                          THEN array_to_string(list_slice(t, i - 1, i), ' ')
                     END AS g2,
                     CASE WHEN i >= 3
                          THEN array_to_string(list_slice(t, i - 2, i), ' ')
                     END AS g3
              FROM pos),
            jo AS (
              SELECT k.doc_id,
                     1 + (k.g2 IS NOT NULL)::INT + (k.g3 IS NOT NULL)::INT AS avail,
                     m1.p AS p1, m2.p AS p2, m3.p AS p3, o.p AS poov
              FROM keyed k
              LEFT JOIN model m1 ON m1.ord = 1 AND m1.gram = k.g1
              LEFT JOIN model m2 ON m2.ord = 2 AND m2.gram = k.g2
              LEFT JOIN model m3 ON m3.ord = 3 AND m3.gram = k.g3
              CROSS JOIN (SELECT p FROM model WHERE ord = 0) o),
            sc AS (
              SELECT doc_id,
                     log10(COALESCE(
                       p3 * power(0.4::DOUBLE, (avail - 3)::DOUBLE),
                       p2 * power(0.4::DOUBLE, (avail - 2)::DOUBLE),
                       p1 * power(0.4::DOUBLE, (avail - 1)::DOUBLE),
                       poov * power(0.4::DOUBLE, (avail - 1)::DOUBLE))) AS lp
              FROM jo)"""


# Independent DuckDB replay of ops/web.py's documented normalization
# rules over the shared _URL_DERIVE_SQL input. Ends in relation
# `urls(doc_id, url, url_norm, domain)`.
_URL_ORACLE_CTE = f"""
    d AS (SELECT doc_id, n_chars, {_URL_DERIVE_SQL} AS url FROM documents),
    nf AS (SELECT *, regexp_replace(url, '#.*$', '') AS no_frag FROM d),
    pp AS (SELECT *,
      lower(regexp_extract(no_frag,
        '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      regexp_extract(no_frag,
        '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) AS authority,
      regexp_extract(no_frag,
        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1) AS pathq
      FROM nf),
    hh AS (SELECT *,
      regexp_replace(lower(regexp_replace(authority, ':[0-9]+$', '')),
        '^www\\.', '') AS host,
      regexp_extract(authority, ':([0-9]+)$', 1) AS port
      FROM pp),
    qq AS (SELECT *,
      regexp_extract(pathq, '^([^?]*)', 1) AS path,
      regexp_extract(pathq, '\\?(.*)$', 1) AS query
      FROM hh),
    nn AS (SELECT *,
      CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                OR (scheme = 'https' AND port = '443')
           THEN '' ELSE ':' || port END AS port_norm,
      CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
           ELSE regexp_replace(path, '/+$', '') END AS path_norm,
      -- DuckDB array_to_string([]) is NULL where Spark array_join
      -- yields '' — coalesce to keep the empty-query branch aligned
      coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'),
        x -> x <> '' AND NOT regexp_matches(x,
          '^(utm_[a-z0-9_]*|gclid|fbclid|msclkid|mc_eid|igshid|ref|ref_src)(=|$)'
        ))), '&'), '') AS qs
      FROM qq),
    urls AS (SELECT doc_id, n_chars, url,
      CASE WHEN scheme IN ('http', 'https') AND host <> ''
           THEN scheme || '://' || host || port_norm || path_norm
                || CASE WHEN qs = '' THEN '' ELSE '?' || qs END
      END AS url_norm,
      CASE WHEN scheme IN ('http', 'https') AND host <> ''
           THEN host END AS domain
      FROM nn)"""


def oracle_sql() -> dict[str, str]:
    qdocs = lambda term: (
        f"SELECT DISTINCT doc_id FROM tok WHERE term = '{term}'"
    )
    return _alias_oracles({
        # repeated-line removal: over-threshold lines removed from
        # EVERY doc (RefinedWeb semantics, vs para_dedup first-wins)
        "px_line_dedup": """WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(text, ' +'),
                                 w -> w <> '') AS t
              FROM documents),
            p AS (
              SELECT doc_id, (u.i - 1) // 8 AS idx,
                     array_to_string(list_slice(t, u.i, u.i + 7), ' ') AS line
              FROM toks, UNNEST(range(1, len(t) + 1, 8)) u(i)
              WHERE len(t) > 0),
            pnz AS (
              SELECT doc_id, idx, line,
                     md5(lower(trim(regexp_replace(line, '\\s+', ' ', 'g')))) AS h
              FROM p WHERE trim(line) <> ''),
            hot AS (SELECT h FROM pnz GROUP BY h HAVING count(*) > 1),
            kept AS (SELECT doc_id, idx, line FROM pnz
                     WHERE h NOT IN (SELECT h FROM hot)),
            n AS (
              SELECT doc_id, count(*)::BIGINT AS n_lines
              FROM pnz GROUP BY doc_id),
            k AS (
              SELECT doc_id,
                     string_agg(line, chr(10) ORDER BY idx) AS text,
                     count(*)::BIGINT AS n_kept
              FROM kept GROUP BY doc_id)
            SELECT doc_id, k.text, n.n_lines, k.n_kept
            FROM n JOIN k USING (doc_id)""",
        # bloom decontamination is EXACT by construction (prefilter +
        # exact re-verify), so the oracle is the plain exact overlap
        "dd_bloom_contamination": """WITH sha AS (
              SELECT d.doc_id,
                     array_to_string(
                       list_slice(string_split(d.text, ' '), i.i, i.i + 4),
                       ' ') AS shingle
              FROM documents d, LATERAL (
                SELECT unnest(range(1,
                         len(string_split(d.text, ' ')) - 3)) AS i) i),
            tr AS (SELECT DISTINCT doc_id, shingle FROM sha),
            be AS (SELECT DISTINCT doc_id AS bench_id, shingle
                   FROM sha WHERE doc_id % 97 = 0)
            SELECT doc_id,
                   count(DISTINCT shingle) AS n_shared_ngrams,
                   count(DISTINCT bench_id) AS n_bench_docs,
                   min(bench_id) AS min_bench_id
            FROM tr JOIN be USING (shingle)
            GROUP BY doc_id""",
        "rel_asof": """
            WITH l AS (
              SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
              FROM events WHERE event_type = 'purchase'),
            r AS (
              SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
              FROM events WHERE event_type = 'click')
            SELECT l.event_id AS p_event, l.user_id, l.ts_us AS p_ts_us,
                   coalesce(m.event_id, -1)::BIGINT AS c_event,
                   coalesce(m.ts_us, -1)::BIGINT AS c_ts_us,
                   coalesce(l.ts_us - m.ts_us, -1)::BIGINT AS lag_us,
                   round(coalesce(m.value, -1.0::DOUBLE), 6) AS c_value
            FROM l LEFT JOIN LATERAL (
              SELECT r.event_id, r.ts_us, r.value FROM r
              WHERE r.user_id = l.user_id AND r.ts_us <= l.ts_us
                AND l.ts_us - r.ts_us <= 86400000000
              ORDER BY r.ts_us DESC, r.event_id ASC LIMIT 1) m ON true""",
        "rel_cube": """
            SELECT coalesce(o_orderstatus, '(all)') AS status,
                   coalesce(o_orderpriority, '(all)') AS priority,
                   count(*)::BIGINT AS n_orders,
                   round(avg(o_totalprice), 4) AS avg_price
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
        # quantile_disc = percentile_disc lower semantics: smallest
        # value with cumulative count >= ceil(q*n) — the engine's
        # group_quantiles implements exactly this rank convention
        "rel_quantiles": """
            SELECT l_returnflag,
                   round(quantile_disc(l_extendedprice, 0.25)::DOUBLE, 4)
                     AS q25,
                   round(quantile_disc(l_extendedprice, 0.50)::DOUBLE, 4)
                     AS q50,
                   round(quantile_disc(l_extendedprice, 0.75)::DOUBLE, 4)
                     AS q75,
                   round(quantile_disc(l_extendedprice, 0.90)::DOUBLE, 4)
                     AS q90
            FROM lineitem GROUP BY l_returnflag""",
        # TF-IDF cosine replay: tf * ln(N/df) weights, L2 norms, pair
        # dot via term self-join; df <= floor(0.5N) == df <= 0.5N for
        # integer df; threshold filters the UNROUNDED cosine like the
        # engine, rounding applies only to the output column
        "dd_tfidf_pairs": """
            WITH d AS (SELECT doc_id, text FROM documents
                       WHERE doc_id % 10 = 0),
            tok AS (SELECT doc_id, t.term FROM d, LATERAL (
                      SELECT unnest(string_split(text, ' ')) AS term) t
                    WHERE t.term <> ''),
            tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
                   FROM tok GROUP BY doc_id, term),
            nn AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM d),
            dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf
                    GROUP BY term),
            kept AS (SELECT term,
                            ln((SELECT n FROM nn) / df::DOUBLE) AS idf
                     FROM dfq
                     WHERE df >= 2
                       AND df::DOUBLE <= (SELECT n FROM nn) * 0.5::DOUBLE
                       AND df <= 10000),
            w AS (SELECT tf.doc_id, tf.term, tf.tf * kept.idf AS w
                  FROM tf JOIN kept USING (term)),
            nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w
                    GROUP BY doc_id),
            dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            sum(a.w * b.w) AS dot
                     FROM w a JOIN w b USING (term)
                     WHERE a.doc_id < b.doc_id
                     GROUP BY a.doc_id, b.doc_id)
            SELECT doc_a, doc_b,
                   round(dot / (na.nrm * nb.nrm), 6) AS cosine
            FROM dots
            JOIN nrm na ON dots.doc_a = na.doc_id
            JOIN nrm nb ON dots.doc_b = nb.doc_id
            WHERE dot / (na.nrm * nb.nrm) >= 0.9""",
        # explain breakdown: per-leaf contribution rows + the summed
        # total on docs matching BOTH terms (AND semantics)
        "q41_explain": f"""WITH {_CONTRIB},
            m AS (SELECT a.doc_id, a.c AS c_fast, b.c AS c_sort
                  FROM contrib a JOIN contrib b USING (doc_id)
                  WHERE a.term = 'fast' AND b.term = 'sort')
            SELECT doc_id, 'content:fast' AS leaf,
                   round(c_fast, 6) AS contribution,
                   round(c_fast + c_sort, 6) AS total FROM m
            UNION ALL
            SELECT doc_id, 'content:sort' AS leaf,
                   round(c_sort, 6) AS contribution,
                   round(c_fast + c_sort, 6) AS total FROM m""",
        # salted ops: the oracle is simply the UNSALTED spelling —
        # salting must be plan-only, never result-visible
        "rel_salted_agg": """
            SELECT l_returnflag, l_linestatus,
                   count(*)::BIGINT AS n,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_price
            FROM lineitem GROUP BY l_returnflag, l_linestatus""",
        "rel_salted_join": """
            SELECT p_type, count(*)::BIGINT AS n,
                   round(sum(l_extendedprice * (1 - l_discount)), 4)
                     AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_type""",
        # KMV sketch replay: bottom-256 distinct 13-hex-char md5
        # prefixes per group; below k the count is exact, else the
        # (k-1)/h_(k) estimator with h in (0,1) via exact /2^52 —
        # deterministic, so value-hash equality holds
        "rel_kmv_distinct": """
            WITH hx AS (
              SELECT DISTINCT l_returnflag AS g,
                     substr(md5(l_partkey::VARCHAR), 1, 13) AS h
              FROM lineitem WHERE l_partkey IS NOT NULL),
            rk AS (
              SELECT g, h,
                     row_number() OVER (PARTITION BY g ORDER BY h) AS rn,
                     count(*) OVER (PARTITION BY g) AS nd
              FROM hx)
            SELECT g AS l_returnflag,
                   least(nd, 256)::BIGINT AS n_min,
                   round(CASE WHEN nd < 256 THEN nd::DOUBLE
                         ELSE 255.0::DOUBLE /
                              (('0x' || h)::BIGINT
                               / 4503599627370496.0::DOUBLE) END,
                         4) AS est_distinct
            FROM rk
            WHERE rn = CASE WHEN nd < 256 THEN nd ELSE 256 END""",
        "rel_rollup": """
            SELECT coalesce(o_orderstatus, '(all)') AS status,
                   coalesce(o_orderpriority, '(all)') AS priority,
                   count(*)::BIGINT AS n_orders,
                   round(sum(o_totalprice), 4) AS total_price
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
        "tx_pmi": """
            WITH t AS (
              SELECT list_filter(string_split_regex(trim(text), ' +'),
                                 w -> w <> '') AS toks
              FROM documents),
            u AS (
              SELECT w, count(*)::BIGINT AS c
              FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
            n1 AS (SELECT sum(c)::BIGINT AS n1 FROM u),
            p AS (
              SELECT toks[i] AS w1, toks[i + 1] AS w2
              FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t)),
            b AS (
              SELECT w1, w2, count(*)::BIGINT AS c12
              FROM p GROUP BY w1, w2),
            n2 AS (SELECT sum(c12)::BIGINT AS n2 FROM b),
            s AS (
              SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
                     round(ln(c12::DOUBLE * n1.n1::DOUBLE * n1.n1::DOUBLE
                              / (n2.n2::DOUBLE * u1.c::DOUBLE
                                 * u2.c::DOUBLE)), 6) AS pmi
              FROM b
              JOIN u u1 ON b.w1 = u1.w
              JOIN u u2 ON b.w2 = u2.w
              CROSS JOIN n1 CROSS JOIN n2
              WHERE c12 >= 5)
            SELECT w1, w2, c12, c1, c2, pmi,
                   row_number() OVER (ORDER BY pmi DESC, w1, w2)::BIGINT
                     AS rank
            FROM s
            QUALIFY rank <= 50""",
        "tx_bpe_merges": _bpe_merges_values_sql(),
        "tx_bpe_tokens": _bpe_tokens_values_sql(),
        "gr_pagerank": _pagerank_values_sql(),
        "gr_hits": _hits_values_sql(),
        "gr_ppr": _ppr_values_sql(),
        # same degree orientation as ops/graph.py triangle_counts:
        # rank(x) = (deg(x), x), every edge low->high, triangle =
        # apex wedge (rank(v1) < rank(v2)) closed by oriented (v1,v2)
        "gr_triangles": """
            WITH e AS (
              SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey),
            deg AS (
              SELECT node, count(*)::BIGINT AS d
              FROM (SELECT x AS node FROM e
                    UNION ALL SELECT y AS node FROM e)
              GROUP BY node),
            o AS (
              SELECT CASE WHEN dx.d < dy.d
                            OR (dx.d = dy.d AND e.x < e.y)
                          THEN e.x ELSE e.y END AS u,
                     CASE WHEN dx.d < dy.d
                            OR (dx.d = dy.d AND e.x < e.y)
                          THEN e.y ELSE e.x END AS v
              FROM e
              JOIN deg dx ON dx.node = e.x
              JOIN deg dy ON dy.node = e.y),
            tri AS (
              SELECT e1.u AS a, e1.v AS b, e2.v AS c
              FROM o e1
              JOIN o e2 ON e1.u = e2.u
              JOIN deg d1 ON d1.node = e1.v
              JOIN deg d2 ON d2.node = e2.v
              JOIN o e3 ON e3.u = e1.v AND e3.v = e2.v
              WHERE d1.d < d2.d OR (d1.d = d2.d AND e1.v < e2.v))
            SELECT node::BIGINT AS node, count(*)::BIGINT AS triangles
            FROM (SELECT a AS node FROM tri
                  UNION ALL SELECT b AS node FROM tri
                  UNION ALL SELECT c AS node FROM tri)
            GROUP BY node""",
        "rel_interval_join": """
            WITH l AS (
              SELECT event_id AS p_event, user_id,
                     epoch_us(ts) AS s,
                     epoch_us(ts) + 7200000000 AS e
              FROM events WHERE event_type = 'purchase'),
            r AS (
              SELECT event_id AS c_event, user_id,
                     epoch_us(ts) AS s,
                     epoch_us(ts) + 1800000000 AS e
              FROM events WHERE event_type = 'click')
            SELECT l.p_event, r.c_event, l.user_id,
                   (least(l.e, r.e)
                    - greatest(l.s, r.s))::BIGINT AS overlap_us
            FROM l JOIN r
              ON l.user_id = r.user_id
             AND l.s <= r.e AND r.s <= l.e""",
        # Lucene-exact snapshot read at epoch 1: stats (n_docs, avgdl,
        # df) cover EVERY version indexed by then — tombstoned old
        # versions still count until a merge — while matches come from
        # live (doc, version) rows only. Same float op order as _BM25.
        "st_time_travel": f"""
            WITH repl AS (
              SELECT doc_id, '{_TT_REPL_TEXT}' AS text
              FROM documents WHERE doc_id % 7 = 0),
            call AS (
              SELECT doc_id, 0 AS ver, text FROM documents
              UNION ALL SELECT doc_id, 1 AS ver, text FROM repl),
            cliv AS (
              SELECT doc_id, 0 AS ver FROM documents WHERE doc_id % 7 <> 0
              UNION ALL SELECT doc_id, 1 AS ver FROM repl),
            tok AS (
              SELECT c.doc_id, c.ver, t.term
              FROM call c, LATERAL (
                SELECT unnest(string_split(c.text, ' ')) AS term) t
              WHERE t.term <> ''),
            dl AS (SELECT doc_id, ver, count(*) AS dl
                   FROM tok GROUP BY doc_id, ver),
            nn AS (SELECT count(*)::DOUBLE AS n_docs FROM call),
            ad AS (SELECT sum(dl)::DOUBLE / (SELECT n_docs FROM nn)
                     AS avgdl FROM dl),
            tf AS (SELECT doc_id, ver, count(*)::DOUBLE AS tf FROM tok
                   WHERE term = 'spark' GROUP BY doc_id, ver),
            dfq AS (SELECT count(*)::DOUBLE AS df FROM tf)
            SELECT tf.doc_id,
                   round(
                     ln(1.0::DOUBLE + ((SELECT n_docs FROM nn)
                          - (SELECT df FROM dfq) + 0.5::DOUBLE)
                        / ((SELECT df FROM dfq) + 0.5::DOUBLE))
                     * (tf.tf * (1.2::DOUBLE + 1.0::DOUBLE)
                        / (tf.tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                           + 0.75::DOUBLE * dl.dl
                             / (SELECT avgdl FROM ad)))),
                   6) AS score
            FROM tf JOIN dl USING (doc_id, ver) JOIN cliv USING (doc_id, ver)
            ORDER BY score DESC, doc_id
            LIMIT 20""",
        "rel_pivot": """
            SELECT user_id,
                   count(*) FILTER (WHERE event_type = 'click')::BIGINT AS click_n,
                   round(coalesce(sum(value) FILTER (WHERE event_type = 'click'), 0.0::DOUBLE), 6) AS click_v,
                   count(*) FILTER (WHERE event_type = 'error')::BIGINT AS error_n,
                   round(coalesce(sum(value) FILTER (WHERE event_type = 'error'), 0.0::DOUBLE), 6) AS error_v,
                   count(*) FILTER (WHERE event_type = 'purchase')::BIGINT AS purchase_n,
                   round(coalesce(sum(value) FILTER (WHERE event_type = 'purchase'), 0.0::DOUBLE), 6) AS purchase_v,
                   count(*) FILTER (WHERE event_type = 'signup')::BIGINT AS signup_n,
                   round(coalesce(sum(value) FILTER (WHERE event_type = 'signup'), 0.0::DOUBLE), 6) AS signup_v,
                   count(*) FILTER (WHERE event_type = 'view')::BIGINT AS view_n,
                   round(coalesce(sum(value) FILTER (WHERE event_type = 'view'), 0.0::DOUBLE), 6) AS view_v
            FROM events GROUP BY user_id""",
        "tx_entropy": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), ' +'),
                                 w -> w <> '') AS toks
              FROM documents),
            tf AS (
              SELECT doc_id, w, count(*)::BIGINT AS c
              FROM (SELECT doc_id, unnest(toks) AS w FROM t)
              GROUP BY doc_id, w),
            pd AS (
              SELECT doc_id, sum(c)::BIGINT AS n_tokens,
                     count(*)::BIGINT AS n_types,
                     sum(c::DOUBLE * ln(c::DOUBLE)) AS clnc
              FROM tf GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(pd.n_tokens, 0)::BIGINT AS n_tokens,
                   coalesce(pd.n_types, 0)::BIGINT AS n_types,
                   round(CASE WHEN pd.n_tokens > 0
                              THEN pd.n_types::DOUBLE / pd.n_tokens::DOUBLE
                              ELSE 0.0::DOUBLE END, 6) AS ttr,
                   round(CASE WHEN pd.n_tokens > 0
                              THEN ln(pd.n_tokens::DOUBLE)
                                   - pd.clnc / pd.n_tokens::DOUBLE
                              ELSE 0.0::DOUBLE END, 6) AS entropy
            FROM documents d LEFT JOIN pd USING (doc_id)""",
        "px_url_dedup": f"""WITH {_URL_ORACLE_CTE}
            SELECT doc_id, url, url_norm, domain,
              (url_norm IS NULL OR doc_id = min(doc_id)
                 OVER (PARTITION BY url_norm)) AS url_kept
            FROM urls""",
        "px_domain_filter": f"""WITH {_URL_ORACLE_CTE}
            SELECT doc_id, domain FROM urls u
            WHERE domain IS NULL OR NOT EXISTS (
              SELECT 1 FROM (VALUES ('site1.example.org'),
                                    ('ads.site2.example.org')) b(bd)
              WHERE u.domain = b.bd OR u.domain LIKE '%.' || b.bd)""",
        "tx_domain_stats": f"""WITH {_URL_ORACLE_CTE}
            SELECT domain, count(doc_id)::BIGINT AS n_docs,
                   sum(n_chars)::BIGINT AS n_chars
            FROM urls WHERE domain IS NOT NULL GROUP BY domain""",
        # HTML extraction: the oracle replays the engine's exact
        # RE2-safe pattern chain step by step (drop blocks ->
        # comments -> block tags to newline -> any tag to space ->
        # entity decode with &amp; LAST -> whitespace collapse);
        # chr(10)/chr(39) instead of escapes (DuckDB literals do not
        # process backslashes)
        "px_html_extract": f"""
            WITH h AS (SELECT doc_id, {_HTML_DERIVE_SQL} AS html
                       FROM documents),
            s1 AS (SELECT doc_id, html, regexp_replace(html,
                     '{_W_DROP_RE}', ' ', 'g') AS t FROM h),
            s2 AS (SELECT doc_id, html, regexp_replace(t,
                     '{_W_COMMENT_RE}', ' ', 'g') AS t FROM s1),
            s3 AS (SELECT doc_id, html, regexp_replace(t,
                     '{_W_BLOCK_RE}', chr(10), 'g') AS t FROM s2),
            s4 AS (SELECT doc_id, html, regexp_replace(t,
                     '{_W_ANY_RE}', ' ', 'g') AS t FROM s3),
            e AS (SELECT doc_id, html,
              replace(replace(replace(replace(replace(replace(t,
                '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&') AS t
              FROM s4),
            w1 AS (SELECT doc_id, html, regexp_replace(t,
                     '[ \t\x0B\f\r]+', ' ', 'g') AS t FROM e),
            w2 AS (SELECT doc_id, html, regexp_replace(t,
                     ' ?\n[ \n]*', chr(10), 'g') AS t FROM w1)
            SELECT doc_id,
                   regexp_replace(t, '^[\n ]+|[\n ]+$', '', 'g')
                     AS text_extracted,
                   length(html)::BIGINT AS n_html_chars FROM w2""",
        # link extraction: the SAME anchor pattern, groups 1 (href)
        # and 2 (anchor body) via regexp_extract_all, zipped by
        # ordinal; then the engine's exact cleaning chain (quote
        # strip, tag strip, entity decode with &amp; last, whitespace
        # collapse) and the first-match-wins kind CASE — all inside
        # the shared _LINKS_ORACLE_CTE ending in lnk(...)
        "px_extract_links": f"""
            WITH {_LINKS_ORACLE_CTE}
            SELECT doc_id, link_idx, href, anchor_text, link_kind
            FROM lnk""",
        # anchor_stats replay over the same lnk table (k=2): count
        # per (target, anchor), rank by count DESC then anchor ASC,
        # target totals joined back — mirrors ops/web.py anchor_stats
        "px_anchor_stats": f"""
            WITH {_LINKS_ORACLE_CTE},
            pa AS (SELECT href, anchor_text,
                          count(*)::BIGINT AS n_anchor
                   FROM lnk GROUP BY href, anchor_text),
            r AS (SELECT href, anchor_text, n_anchor,
                         row_number() OVER (PARTITION BY href
                           ORDER BY n_anchor DESC, anchor_text ASC
                         )::BIGINT AS rank
                  FROM pa),
            t AS (SELECT href, count(*)::BIGINT AS n_links,
                         count(DISTINCT doc_id)::BIGINT AS n_docs
                  FROM lnk GROUP BY href)
            SELECT r.href, r.rank, r.anchor_text, r.n_anchor,
                   t.n_links, t.n_docs
            FROM r JOIN t USING (href) WHERE r.rank <= 2""",
        "gr_link_pagerank": _link_pagerank_values_sql(),
        "px_cluster_sample": f"""
            WITH a(vec_id, cluster, cent_sim) AS
              (SELECT * FROM (VALUES {_cluster_assign_values()})),
            r AS (SELECT vec_id, cluster, row_number() OVER (
                PARTITION BY cluster
                ORDER BY md5('cl:' || CAST(vec_id AS STRING)) ASC,
                         vec_id ASC) AS rn
              FROM a)
            SELECT vec_id::BIGINT AS vec_id, cluster::BIGINT AS cluster
            FROM r WHERE rn <= 5""",
        "px_cluster_profile": f"""
            WITH a(vec_id, cluster, cent_sim) AS
              (SELECT * FROM (VALUES {_cluster_assign_values()}))
            SELECT cluster::BIGINT AS cluster, count(*)::BIGINT AS n,
                   round(min(cent_sim), 6) AS min_sim,
                   round(max(cent_sim), 6) AS max_sim
            FROM a GROUP BY cluster""",
        "tx_nb_classifier": """WITH
            lab AS (
              SELECT doc_id, text, (lang = 'en') AS pos
              FROM documents WHERE doc_id % 4 <> 0),
            ltoks AS (
              SELECT pos,
                     list_filter(regexp_split_to_array(lower(trim(text)), ' +'),
                                 w -> w <> '') AS t
              FROM lab),
            lt2 AS (SELECT pos, t, len(t) AS nt FROM ltoks WHERE len(t) > 0),
            g AS (
              SELECT pos,
                     ('0x' || substr(md5(array_to_string(
                          list_slice(t, u.i, u.i + k.ord - 1), ' ')), 1, 8)
                     )::BIGINT % 512 AS bucket
              FROM lt2, UNNEST(range(1, nt + 1)) u(i),
                   (VALUES (1), (2)) k(ord)
              WHERE u.i + k.ord - 1 <= nt),
            cnt AS (
              SELECT bucket,
                     sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS cp,
                     sum(CASE WHEN pos THEN 0 ELSE 1 END)::BIGINT AS cn
              FROM g GROUP BY 1),
            w AS (SELECT bucket,
                         ln((cp::DOUBLE + 1.0::DOUBLE)
                            / (cn::DOUBLE + 1.0::DOUBLE)) AS lr
                  FROM cnt),
            consts AS (
              SELECT ln(((SELECT sum(cn) FROM cnt)::DOUBLE + 512.0::DOUBLE)
                        / ((SELECT sum(cp) FROM cnt)::DOUBLE + 512.0::DOUBLE))
                       AS c,
                     ln((SELECT count(*) FROM lab WHERE pos)::DOUBLE
                        / (SELECT count(*) FROM lab WHERE NOT pos)::DOUBLE)
                       AS prior),
            held AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
            htoks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)), ' +'),
                                 w -> w <> '') AS t
              FROM held),
            ht2 AS (SELECT doc_id, t, len(t) AS nt
                    FROM htoks WHERE len(t) > 0),
            hg AS (
              SELECT doc_id,
                     ('0x' || substr(md5(array_to_string(
                          list_slice(t, u.i, u.i + k.ord - 1), ' ')), 1, 8)
                     )::BIGINT % 512 AS bucket
              FROM ht2, UNNEST(range(1, nt + 1)) u(i),
                   (VALUES (1), (2)) k(ord)
              WHERE u.i + k.ord - 1 <= nt),
            sc AS (
              SELECT hg.doc_id, count(*)::BIGINT AS n_grams,
                     sum(coalesce(w.lr, 0.0::DOUBLE)) AS s
              FROM hg LEFT JOIN w USING (bucket) GROUP BY 1),
            fin AS (
              SELECT held.doc_id,
                     coalesce(sc.n_grams, 0)::BIGINT AS n_grams,
                     round(consts.prior
                           + coalesce(sc.n_grams, 0)::DOUBLE * consts.c
                           + coalesce(sc.s, 0.0::DOUBLE), 6) AS nb_logodds
              FROM held LEFT JOIN sc USING (doc_id), consts)
            SELECT doc_id, n_grams, nb_logodds,
                   (nb_logodds >= 0) AS kept
            FROM fin""",
        "q01_bm25_topk": "WITH " + _BM25.format(term="spark", k=10),
        # addIndexes merge: the merged index must score EXACTLY like
        # the single-build index, so the oracle is q01's verbatim
        "ix_merge": "WITH " + _BM25.format(term="spark", k=10),
        # searchAfter paging: page1(10) UNION page2(8) must equal the
        # flat top-18 — no duplicate, no gap across the anchor (18:
        # tie-free final boundary at all three SFs)
        "q47_search_after": "WITH " + _BM25.format(term="spark", k=18),
        # SpanFirst over SpanOr: union tf restricted to pos <= 25
        # (1-based == engine 0-based < 25), saturated once, Σ-idf
        "q48_span_first_or": f"""WITH {_TOK},
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            nn AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
            ad AS (SELECT sum(dl)::DOUBLE / (SELECT n_docs FROM nn) AS avgdl
                   FROM dl),
            tf AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM tok
                   WHERE term IN ('fast', 'slow') AND pos <= 25
                   GROUP BY doc_id),
            dfm AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
                    FROM tok WHERE term IN ('fast', 'slow') GROUP BY term),
            idfs AS (SELECT sum(
                       ln(1.0::DOUBLE + ((SELECT n_docs FROM nn)
                            - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
                     ) AS idf FROM dfm)
            SELECT tf.doc_id,
                   round(
                     (SELECT idf FROM idfs)
                     * (tf.tf * (1.2::DOUBLE + 1.0::DOUBLE)
                        / (tf.tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                           + 0.75::DOUBLE * dl.dl / (SELECT avgdl FROM ad)))),
                   6) AS score
            FROM tf JOIN dl USING (doc_id)""",
        # SpanNot with SpanOr on both sides: include union position p
        # survives iff no exclude-member position in [p-1, p+2];
        # surviving union count saturated once, Σ include-idf only
        "q49_span_not_or": f"""WITH {_TOK},
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            nn AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
            ad AS (SELECT sum(dl)::DOUBLE / (SELECT n_docs FROM nn) AS avgdl
                   FROM dl),
            tf AS (SELECT a.doc_id, count(*)::DOUBLE AS tf FROM tok a
                   WHERE a.term IN ('sort', 'merge') AND NOT EXISTS (
                     SELECT 1 FROM tok b
                     WHERE b.doc_id = a.doc_id
                       AND b.term IN ('fast', 'slow')
                       AND b.pos BETWEEN a.pos - 1 AND a.pos + 2)
                   GROUP BY a.doc_id),
            dfm AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
                    FROM tok WHERE term IN ('sort', 'merge') GROUP BY term),
            idfs AS (SELECT sum(
                       ln(1.0::DOUBLE + ((SELECT n_docs FROM nn)
                            - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
                     ) AS idf FROM dfm)
            SELECT tf.doc_id,
                   round(
                     (SELECT idf FROM idfs)
                     * (tf.tf * (1.2::DOUBLE + 1.0::DOUBLE)
                        / (tf.tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                           + 0.75::DOUBLE * dl.dl / (SELECT avgdl FROM ad)))),
                   6) AS score
            FROM tf JOIN dl USING (doc_id)""",
        # exact bigram heavy hitters: brute-force count + the same
        # max(1, ceil(phi*total)) threshold the engine computes
        "tx_heavy_hitters": f"""WITH {_TOK},
            bg AS (SELECT a.doc_id, a.term || ' ' || b.term AS gram
                   FROM tok a JOIN tok b
                   ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
            t AS (SELECT gram, count(*)::BIGINT AS freq FROM bg
                  GROUP BY gram),
            n AS (SELECT sum(freq)::DOUBLE AS total FROM t)
            SELECT gram, freq FROM t
            WHERE freq >= greatest(
              1, ceil(0.0012::DOUBLE * (SELECT total FROM n)))""",
        # DisjunctionMaxQuery: max + tie*(sum - max) over the union,
        # same float op order as the kernel
        "q36_dismax": f"""WITH {_CONTRIB},
            u AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot
                  FROM contrib WHERE term IN ('fast', 'sort')
                  GROUP BY doc_id)
            SELECT doc_id, round(mx + 0.3::DOUBLE * (tot - mx), 6) AS score
            FROM u""",
        # ConstantScoreQuery: matching set of the child, constant score
        "q37_constant_score": f"""WITH {_TOK}
            SELECT DISTINCT doc_id, 2.5::DOUBLE AS score FROM tok
            WHERE term IN ('fast', 'sort')""",
        # SpanFirstQuery: tf = occurrences at 1-based pos <= 30
        # (engine's 0-based pos < 30), idf from the FULL docFreq —
        # note dfq counts the term ANYWHERE, tf only the early window
        # SpanOr blend: tf = summed member tf (one count over the
        # member set), idf = SUM of per-term idfs — then the ordinary
        # BM25 expression with the engine's float op order. Two-term
        # sum: IEEE addition is commutative, so dfm row order is moot
        "q40_span_or": f"""WITH {_TOK},
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            nn AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
            ad AS (SELECT sum(dl)::DOUBLE / (SELECT n_docs FROM nn) AS avgdl
                   FROM dl),
            tf AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM tok
                   WHERE term IN ('fast', 'sort') GROUP BY doc_id),
            dfm AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
                    FROM tok WHERE term IN ('fast', 'sort') GROUP BY term),
            idfs AS (SELECT sum(
                       ln(1.0::DOUBLE + ((SELECT n_docs FROM nn)
                            - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
                     ) AS idf FROM dfm)
            SELECT tf.doc_id,
                   round(
                     (SELECT idf FROM idfs)
                     * (tf.tf * (1.2::DOUBLE + 1.0::DOUBLE)
                        / (tf.tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                           + 0.75::DOUBLE * dl.dl / (SELECT avgdl FROM ad)))),
                   6) AS score
            FROM tf JOIN dl USING (doc_id)""",
        # minimumNumberShouldMatch(2): contrib has one row per
        # (doc, matched term), so count(*) = number of matching
        # SHOULD clauses; msm filters, the score stays the plain sum
        "q38_min_should_match": f"""WITH {_CONTRIB},
            sel AS (SELECT doc_id, sum(c) AS s, count(*) AS nm
                    FROM contrib
                    WHERE term IN ('fast', 'sort', 'merge')
                    GROUP BY doc_id)
            SELECT doc_id, round(s, 6) AS score FROM sel
            WHERE nm >= 2""",
        # SpanNotQuery: an include position survives iff no exclude
        # position within [p-2, p+2] (window logic is base-invariant,
        # so the 1-based tok.pos replay matches the engine's 0-based
        # positions); tf = surviving count, idf from FULL include df
        "q39_span_not": f"""WITH {_TOK},
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            nn AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
            ad AS (SELECT sum(dl)::DOUBLE / (SELECT n_docs FROM nn) AS avgdl
                   FROM dl),
            tf AS (SELECT a.doc_id, count(*)::DOUBLE AS tf FROM tok a
                   WHERE a.term = 'sort' AND NOT EXISTS (
                     SELECT 1 FROM tok b
                     WHERE b.doc_id = a.doc_id AND b.term = 'merge'
                       AND b.pos BETWEEN a.pos - 2 AND a.pos + 2)
                   GROUP BY a.doc_id),
            dfq AS (SELECT count(DISTINCT doc_id)::DOUBLE AS df FROM tok
                    WHERE term = 'sort')
            SELECT tf.doc_id,
                   round(
                     ln(1.0::DOUBLE + ((SELECT n_docs FROM nn)
                          - (SELECT df FROM dfq) + 0.5::DOUBLE)
                        / ((SELECT df FROM dfq) + 0.5::DOUBLE))
                     * (tf.tf * (1.2::DOUBLE + 1.0::DOUBLE)
                        / (tf.tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                           + 0.75::DOUBLE * dl.dl / (SELECT avgdl FROM ad)))),
                   6) AS score
            FROM tf JOIN dl USING (doc_id)""",
        "q35_span_first": f"""WITH {_TOK},
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            nn AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
            ad AS (SELECT sum(dl)::DOUBLE / (SELECT n_docs FROM nn) AS avgdl
                   FROM dl),
            tf AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM tok
                   WHERE term = 'sort' AND pos <= 30 GROUP BY doc_id),
            dfq AS (SELECT count(DISTINCT doc_id)::DOUBLE AS df FROM tok
                    WHERE term = 'sort')
            SELECT tf.doc_id,
                   round(
                     ln(1.0::DOUBLE + ((SELECT n_docs FROM nn)
                          - (SELECT df FROM dfq) + 0.5::DOUBLE)
                        / ((SELECT df FROM dfq) + 0.5::DOUBLE))
                     * (tf.tf * (1.2::DOUBLE + 1.0::DOUBLE)
                        / (tf.tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                           + 0.75::DOUBLE * dl.dl / (SELECT avgdl FROM ad)))),
                   6) AS score
            FROM tf JOIN dl USING (doc_id)""",
        # SynonymQuery blend: tf = summed member tf per doc (one
        # count over the member set), df = MAX member docFreq; then
        # the ordinary BM25 expression with the engine's float op
        # order (idf first, saturation on the summed tf)
        "q34_synonym_blend": f"""WITH {_TOK},
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            nn AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
            ad AS (SELECT sum(dl)::DOUBLE / (SELECT n_docs FROM nn) AS avgdl
                   FROM dl),
            tf AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM tok
                   WHERE term IN ('fast', 'sort') GROUP BY doc_id),
            dfm AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
                    FROM tok WHERE term IN ('fast', 'sort') GROUP BY term),
            dfq AS (SELECT max(df) AS df FROM dfm)
            SELECT tf.doc_id,
                   round(
                     ln(1.0::DOUBLE + ((SELECT n_docs FROM nn)
                          - (SELECT df FROM dfq) + 0.5::DOUBLE)
                        / ((SELECT df FROM dfq) + 0.5::DOUBLE))
                     * (tf.tf * (1.2::DOUBLE + 1.0::DOUBLE)
                        / (tf.tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                           + 0.75::DOUBLE * dl.dl / (SELECT avgdl FROM ad)))),
                   6) AS score
            FROM tf JOIN dl USING (doc_id)""",
        "q02_bool_and": f"""WITH {_CONTRIB}
            SELECT doc_id, round(sum(c), 6) AS score FROM contrib
            WHERE term IN ('merge', 'batch')
            GROUP BY doc_id HAVING count(DISTINCT term) = 2""",
        "q03_bool_or_not": f"""WITH {_CONTRIB},
            u AS (
              SELECT doc_id, c FROM contrib WHERE term = 'sort'
              UNION ALL
              SELECT doc_id, c FROM contrib
              WHERE term = 'merge' AND doc_id NOT IN
                (SELECT doc_id FROM contrib WHERE term = 'spark'))
            SELECT doc_id, round(sum(c), 6) AS score
            FROM u GROUP BY doc_id""",
        "q04_phrase": f"""WITH {_CONTRIB},
            pm AS (
              SELECT DISTINCT a.doc_id FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
              WHERE a.term = 'fast' AND b.term = 'sort')
            SELECT doc_id, round(sum(c), 6) AS score
            FROM contrib JOIN pm USING (doc_id)
            WHERE term IN ('fast', 'sort') GROUP BY doc_id""",
        # forpack codec must be invisible to results: oracle is q04's
        # verbatim (same query, differently-encoded index)
        "q45_forpack_phrase": f"""WITH {_CONTRIB},
            pm AS (
              SELECT DISTINCT a.doc_id FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
              WHERE a.term = 'fast' AND b.term = 'sort')
            SELECT doc_id, round(sum(c), 6) AS score
            FROM contrib JOIN pm USING (doc_id)
            WHERE term IN ('fast', 'sort') GROUP BY doc_id""",
        # sloppy phrase: in-order, gap = b.pos - a.pos - 1 <= 2; score
        # = sum of both terms' contributions in matched docs (same
        # convention as the exact phrase — no Lucene 1/(1+d) weight)
        # sloppy phrase, Lucene semantics: slots fast=0 / sort=1, a
        # match is |(p_sort - 1) - p_fast| <= 2, i.e. p_sort within
        # [p_fast - 1, p_fast + 3] (out-of-order allowed: a swap
        # costs 2 of the slop budget)
        "q23_phrase_slop": f"""WITH {_CONTRIB},
            pm AS (
              SELECT DISTINCT a.doc_id FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id
               AND b.pos >= a.pos - 1 AND b.pos <= a.pos + 3
              WHERE a.term = 'fast' AND b.term = 'sort')
            SELECT doc_id, round(sum(c), 6) AS score
            FROM contrib JOIN pm USING (doc_id)
            WHERE term IN ('fast', 'sort') GROUP BY doc_id""",
        # the reversed phrase: slots sort=0 / fast=1, band
        # p_fast within [p_sort - 1, p_sort + 3] — adjacent
        # "fast sort" text (p_fast = p_sort - 1) is inside it
        "q31_phrase_slop_reordered": f"""WITH {_CONTRIB},
            pm AS (
              SELECT DISTINCT a.doc_id FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id
               AND b.pos >= a.pos - 1 AND b.pos <= a.pos + 3
              WHERE a.term = 'sort' AND b.term = 'fast')
            SELECT doc_id, round(sum(c), 6) AS score
            FROM contrib JOIN pm USING (doc_id)
            WHERE term IN ('fast', 'sort') GROUP BY doc_id""",
        # in_order=True variant: strictly increasing positions with
        # at most 2 skipped between first and last
        "q32_phrase_slop_inorder": f"""WITH {_CONTRIB},
            pm AS (
              SELECT DISTINCT a.doc_id FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id
               AND b.pos > a.pos AND b.pos <= a.pos + 3
              WHERE a.term = 'fast' AND b.term = 'sort')
            SELECT doc_id, round(sum(c), 6) AS score
            FROM contrib JOIN pm USING (doc_id)
            WHERE term IN ('fast', 'sort') GROUP BY doc_id""",
        # clause boost: term^2 doubles that leaf's contribution (the
        # engine bakes the factor into the row idf; x2 is exact in
        # binary floating point so the comparison is bit-stable)
        "q24_boosted_or": f"""WITH {_CONTRIB}
            SELECT doc_id,
                   round(sum(CASE WHEN term = 'fast'
                             THEN 2.0::DOUBLE * c ELSE c END), 6) AS score
            FROM contrib WHERE term IN ('fast', 'sort')
            GROUP BY doc_id""",
        # term range [query TO sort}: lexicographic dictionary slice,
        # lo inclusive / hi exclusive, per-term contributions summed.
        # The slice is capped at the engine's MAX_EXPANSIONS=1024
        # dictionary terms (planner.py Range expansion orders by term
        # and limits) so the oracle stays exact at any scale factor
        "q25_term_range": f"""WITH {_CONTRIB},
            rng AS (SELECT DISTINCT term FROM contrib
                    WHERE term >= 'query' AND term < 'sort'
                    ORDER BY term LIMIT 1024)
            SELECT doc_id, round(sum(c), 6) AS score FROM contrib
            WHERE term IN (SELECT term FROM rng) GROUP BY doc_id""",
        # +merge batch -spark: MUST merge (defines the doc set),
        # SHOULD batch (adds its contribution only where present),
        # MUST_NOT spark (filters). coalesce(+0.0) is exact in
        # doubles, so the must-only docs hash identically
        "q26_bool_clauses": f"""WITH {_CONTRIB},
            m AS (SELECT doc_id, c FROM contrib WHERE term = 'merge'),
            b AS (SELECT doc_id, c FROM contrib WHERE term = 'batch')
            SELECT m.doc_id,
                   round(m.c + coalesce(b.c, 0.0::DOUBLE), 6) AS score
            FROM m LEFT JOIN b USING (doc_id)
            WHERE m.doc_id NOT IN
              (SELECT doc_id FROM contrib WHERE term = 'spark')""",
        # phrase-with-wildcard score: every slot-expansion term present
        # in a matched doc contributes, adjacent or not (oracle.py:199-204)
        "q05_phrase_wildcard": f"""WITH {_CONTRIB},
            pm AS (
              SELECT DISTINCT a.doc_id FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
              WHERE a.term = 'fast' AND b.term LIKE 's%')
            SELECT doc_id, round(sum(c), 6) AS score
            FROM contrib JOIN pm USING (doc_id)
            WHERE term = 'fast' OR term LIKE 's%' GROUP BY doc_id""",
        "q06_wildcard": f"""WITH {_CONTRIB}
            SELECT doc_id, round(sum(c), 6) AS score FROM contrib
            WHERE term LIKE 'sc%' GROUP BY doc_id""",
        # forward-slash term regexp: anchored full match over the
        # dictionary, capped at the engine's 1024-term expansion
        # (mirrors the range-slice cap; the pattern keeps to the
        # Java-regex/RE2 common subset so both engines agree)
        "q27_term_regexp": f"""WITH {_CONTRIB},
            rx AS (SELECT DISTINCT term FROM contrib
                   WHERE regexp_full_match(term, '(qu|s).*t')
                   ORDER BY term LIMIT 1024)
            SELECT doc_id, round(sum(c), 6) AS score FROM contrib
            WHERE term IN (SELECT term FROM rx) GROUP BY doc_id""",
        # extended RegexpQuery operators replay as boolean regex
        # algebra: intersection = AND of full matches, complement =
        # NOT, '@' = '.*' — exactly the automaton semantics for this
        # pattern (engine side compiles the real Lucene syntax)
        "q42_regexp_extended": f"""WITH {_CONTRIB},
            rx AS (SELECT DISTINCT term FROM contrib
                   WHERE regexp_full_match(term, '(s|t).*')
                     AND NOT regexp_full_match(term, '.*(ing|ed)')
                   ORDER BY term LIMIT 1024)
            SELECT doc_id, round(sum(c), 6) AS score FROM contrib
            WHERE term IN (SELECT term FROM rx) GROUP BY doc_id""",
        # FILTER occur: the match set is the intersection of the
        # filter terms' doc sets (never scored); the optional SHOULD
        # adds its contribution where present, else the doc scores 0
        "q44_bool_filter": f"""WITH {_CONTRIB},
            fl AS (SELECT doc_id FROM contrib WHERE term = 'table'
                   INTERSECT
                   SELECT doc_id FROM contrib WHERE term = 'sort'),
            sp AS (SELECT doc_id, c FROM contrib WHERE term = 'spark')
            SELECT f.doc_id,
                   round(coalesce(sum(sp.c), 0.0::DOUBLE), 6) AS score
            FROM fl f LEFT JOIN sp USING (doc_id)
            GROUP BY f.doc_id""",
        # CheckIndex: the verifier must find ZERO violations on the
        # freshly built standard index for every (check, field) cell;
        # the grid itself is deterministic (8 posting checks + 3
        # dictionary checks x the 7 configured fields)
        "ix_check": """
            WITH checks(c) AS (VALUES ('stream_len'), ('docs_sorted'),
              ('docs_in_block'), ('tf_positive'), ('cf_agree'),
              ('block_max'), ('tf_pos_agree'), ('pos_sorted'),
              ('dict_df'), ('dict_cf'), ('dict_terms')),
            fields(f) AS (VALUES ('content'), ('content_cs'),
              ('file_name'), ('file_path'), ('content_camel'),
              ('path_trigram'), ('content_trigram'))
            SELECT c AS "check", f AS field, 0::BIGINT AS n_violations
            FROM checks CROSS JOIN fields""",
        # IndexSearcher.count(): total hits per query shape — the
        # oracle counts the same match sets the scoring oracles
        # (q01/q02/q03/q04) gate on, without scores
        "q46_count": f"""WITH {_TOK}
            SELECT 'term_merge' AS q,
                   count(DISTINCT doc_id)::BIGINT AS n_hits
            FROM tok WHERE term = 'merge'
            UNION ALL
            SELECT 'bool_and', count(*)::BIGINT FROM (
              SELECT doc_id FROM tok WHERE term IN ('merge', 'batch')
              GROUP BY doc_id HAVING count(DISTINCT term) = 2)
            UNION ALL
            SELECT 'bool_or_not', count(*)::BIGINT FROM (
              SELECT DISTINCT doc_id FROM tok WHERE term = 'sort'
              UNION
              SELECT DISTINCT doc_id FROM tok WHERE term = 'merge'
                AND doc_id NOT IN
                  (SELECT doc_id FROM tok WHERE term = 'spark'))
            UNION ALL
            SELECT 'phrase_fast_sort', count(*)::BIGINT FROM (
              SELECT DISTINCT a.doc_id FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
              WHERE a.term = 'fast' AND b.term = 'sort')""",
        # best-fragment selection: window arithmetic replayed from
        # token positions over the AND match set (no top-k cut)
        "pv_fragments": f"""WITH {_TOK},
            m AS (SELECT doc_id FROM tok WHERE term IN ('merge', 'batch')
                  GROUP BY doc_id HAVING count(DISTINCT term) = 2),
            fr AS (SELECT t.doc_id, (t.pos - 1) // 16 AS frag_idx,
                          count(*)::BIGINT AS n_hits
                   FROM tok t JOIN m USING (doc_id)
                   WHERE t.term IN ('merge', 'batch')
                   GROUP BY t.doc_id, frag_idx),
            rk AS (SELECT *, row_number() OVER (
                     PARTITION BY doc_id
                     ORDER BY n_hits DESC, frag_idx) AS rn
                   FROM fr)
            SELECT doc_id, frag_idx::BIGINT AS frag_idx, n_hits
            FROM rk WHERE rn <= 2""",
        # MoreLikeThis.like(Reader): the literal text's tf table (the
        # >= minTermFreq=2 slice) as a VALUES list; term selection,
        # scoring and the top-10 replay q30's oracle without the
        # source-doc exclusion
        "q54_mlt_text": f"""WITH {_CONTRIB},
            srctf AS (SELECT * FROM (VALUES
                ('merge', 3.0::DOUBLE), ('batch', 2.0::DOUBLE),
                ('sort', 2.0::DOUBLE)) v(term, tf)),
            mlt AS (
              SELECT s.term,
                     s.tf * ln(1.0::DOUBLE
                         + ((SELECT n_docs FROM nn) - d.df + 0.5::DOUBLE)
                           / (d.df + 0.5::DOUBLE)) AS tscore
              FROM srctf s JOIN dfa d USING (term)
              WHERE d.df >= 5.0::DOUBLE),
            chosen AS (
              SELECT term FROM mlt ORDER BY tscore DESC, term ASC LIMIT 25),
            sc AS (
              SELECT doc_id, round(sum(c), 6) AS score
              FROM contrib JOIN chosen USING (term) GROUP BY doc_id)
            SELECT doc_id, score FROM sc
            ORDER BY score DESC, doc_id LIMIT 10""",
        # index overview stats: n_docs/avgdl from the build sidecar,
        # dictionary aggregates replayed from the token stream
        "ix_stats": f"""WITH {_TOK},
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id)
            SELECT 'content' AS field,
                   (SELECT count(*) FROM documents)::BIGINT AS n_docs,
                   round((SELECT sum(dl) FROM dl)::DOUBLE
                         / (SELECT count(*) FROM documents), 6) AS avgdl,
                   count(DISTINCT term)::BIGINT AS n_terms,
                   (SELECT count(*) FROM
                      (SELECT DISTINCT doc_id, term FROM tok))::BIGINT
                     AS sum_df,
                   count(*)::BIGINT AS sum_cf
            FROM tok""",
        # block-join-to-parent: child (file) match scores aggregate
        # to parents (repos) under ScoreMode.Total; repo is the
        # documents.source column on the engine side
        "q53_parent_join": f"""WITH {_CONTRIB},
            u AS (SELECT doc_id, sum(c) AS s FROM contrib
                  WHERE term IN ('merge', 'sort') GROUP BY doc_id)
            SELECT d.source AS repo, round(sum(u.s), 6) AS score,
                   count(*)::BIGINT AS n_children
            FROM u JOIN documents d USING (doc_id)
            GROUP BY d.source""",
        # percolation: 6 registered query shapes -> (doc, query)
        # match pairs; each shape's match set replays in SQL exactly
        # as its forward-search twin does (q01/q02/q03/q04/q06/q07)
        "pc_percolate": f"""WITH {_TOK}
            SELECT 't' AS query_id, doc_id FROM
              (SELECT DISTINCT doc_id FROM tok WHERE term = 'merge')
            UNION ALL
            SELECT 'a', doc_id FROM
              (SELECT doc_id FROM tok WHERE term IN ('merge', 'batch')
               GROUP BY doc_id HAVING count(DISTINCT term) = 2)
            UNION ALL
            SELECT 'on', doc_id FROM
              (SELECT DISTINCT doc_id FROM tok WHERE term = 'sort'
               UNION
               SELECT DISTINCT doc_id FROM tok WHERE term = 'merge'
                 AND doc_id NOT IN
                   (SELECT doc_id FROM tok WHERE term = 'spark'))
            UNION ALL
            SELECT 'ph', doc_id FROM
              (SELECT DISTINCT a.doc_id FROM tok a JOIN tok b
                 ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
               WHERE a.term = 'fast' AND b.term = 'sort')
            UNION ALL
            SELECT 'w', doc_id FROM
              (SELECT DISTINCT doc_id FROM tok WHERE term LIKE 'sc%')
            UNION ALL
            SELECT 'fz', doc_id FROM
              (SELECT DISTINCT doc_id FROM tok
               WHERE damerau_levenshtein(term, 'spak') <= 1
                 AND abs(length(term) - 4) <= 1)""",
        # field collapse: best per_group=2 hits per lang for the OR
        # match set, global top-12 by (score desc, path asc); path is
        # reconstructed exactly as _as_corpus builds it so both sides
        # order on the same doc-unique string
        "q50_collapse_lang": f"""WITH {_CONTRIB},
            u AS (SELECT doc_id, sum(c) AS score FROM contrib
                  WHERE term IN ('merge', 'sort') GROUP BY doc_id),
            j AS (SELECT u.doc_id, d.lang, u.score,
                         d.source || '/' || u.doc_id || '.txt' AS path
                  FROM u JOIN documents d USING (doc_id)),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY lang ORDER BY score DESC, path) AS rn
                  FROM j)
            SELECT doc_id, lang, round(score, 6) AS score
            FROM r WHERE rn <= 2
            ORDER BY score DESC, path LIMIT 12""",
        # grouping module TopGroups: top-5 groups by best score (tie:
        # repo asc), top-2 docs each by (score desc, path asc), with
        # the group's TOTAL hit count and rank on every row
        "q55_grouping": f"""WITH {_CONTRIB},
            u AS (SELECT doc_id, sum(c) AS score FROM contrib
                  WHERE term IN ('merge', 'sort') GROUP BY doc_id),
            j AS (SELECT u.doc_id, d.source AS repo, u.score,
                         d.source || '/' || u.doc_id || '.txt' AS path
                  FROM u JOIN documents d USING (doc_id)),
            g AS (SELECT repo, count(*)::BIGINT AS group_hits,
                         max(score) AS group_score
                  FROM j GROUP BY repo),
            t AS (SELECT *, row_number() OVER (
                    ORDER BY group_score DESC, repo)::INT AS group_rank
                  FROM g),
            r AS (SELECT j.repo, t.group_rank, t.group_hits,
                         t.group_score, j.doc_id, j.score, j.path,
                         row_number() OVER (PARTITION BY j.repo
                           ORDER BY j.score DESC, j.path)::INT AS doc_rank
                  FROM j JOIN t USING (repo) WHERE t.group_rank <= 5)
            SELECT repo, group_rank, group_hits,
                   round(group_score, 6) AS group_score, doc_id,
                   round(score, 6) AS score, doc_rank
            FROM r WHERE doc_rank <= 2""",
        # taxonomy facet drill-down: level-0 child counts (sources),
        # then the top-5 children under src3/ (leaves, n_docs=1, tie
        # child asc — lexicographic on the leaf string)
        "q56_facet_drill": f"""WITH {_CONTRIB},
            u AS (SELECT DISTINCT doc_id FROM contrib
                  WHERE term IN ('merge', 'sort')),
            j AS (SELECT u.doc_id, d.source,
                         CAST(u.doc_id AS VARCHAR) || '.txt' AS leaf
                  FROM u JOIN documents d USING (doc_id))
            SELECT '' AS under, source AS child,
                   count(*)::BIGINT AS n_docs
            FROM j GROUP BY source
            UNION ALL
            SELECT * FROM (
              SELECT 'src3' AS under, leaf AS child, 1::BIGINT AS n_docs
              FROM j WHERE source = 'src3'
              ORDER BY leaf LIMIT 5)""",
        # JoinUtil query-time join: from-query 'merge AND batch'
        # scores aggregated per repo (max), then ALL docs of the
        # joined repos returned with the repo aggregate; top-40 by
        # (score desc, path asc) — path doc-unique so tie-free
        "q57_join_query": f"""WITH {_CONTRIB},
            m AS (SELECT doc_id, sum(c) AS score FROM contrib
                  WHERE term IN ('merge', 'batch') GROUP BY doc_id
                  HAVING count(DISTINCT term) = 2),
            v AS (SELECT d.source AS repo, max(m.score) AS score
                  FROM m JOIN documents d USING (doc_id)
                  GROUP BY d.source),
            j AS (SELECT d.doc_id, v.repo, v.score,
                         d.source || '/' || d.doc_id || '.txt' AS path
                  FROM documents d JOIN v ON d.source = v.repo)
            SELECT doc_id, repo, round(score, 6) AS score FROM (
              -- inner cut orders by FULL-precision score (an outer
              -- ORDER BY score would bind to the rounded alias and
              -- could cut a different top-40 than the engine)
              SELECT * FROM j ORDER BY score DESC, path LIMIT 40)""",
        # Sort/SortField: AND match set ordered by stored fields
        # (lang asc, path desc), not relevance; score still reported
        "q51_sort_fields": f"""WITH {_CONTRIB},
            m AS (SELECT doc_id, sum(c) AS score FROM contrib
                  WHERE term IN ('merge', 'batch') GROUP BY doc_id
                  HAVING count(DISTINCT term) = 2),
            j AS (SELECT m.doc_id, d.lang, m.score,
                         d.source || '/' || m.doc_id || '.txt' AS path
                  FROM m JOIN documents d USING (doc_id))
            SELECT doc_id, lang, round(score, 6) AS score
            FROM j ORDER BY lang ASC, path DESC LIMIT 15""",
        # HighFreqTerms: top-25 dictionary terms by df (tie: term
        # asc); df = docs containing, cf = total occurrences
        "q52_top_terms": f"""WITH {_TOK}
            SELECT term, count(DISTINCT doc_id)::BIGINT AS df,
                   count(*)::BIGINT AS cf
            FROM tok GROUP BY term
            ORDER BY df DESC, term LIMIT 25""",
        # SpanNear over a SpanOr clause: adjacency where slot 0 is
        # bound by EITHER member; score = sum of all member + term
        # contributions in matched docs (same convention as q04)
        "q43_span_near_or": f"""WITH {_CONTRIB},
            pm AS (
              SELECT DISTINCT a.doc_id FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
              WHERE a.term IN ('fast', 'slow') AND b.term = 'sort')
            SELECT doc_id, round(sum(c), 6) AS score
            FROM contrib JOIN pm USING (doc_id)
            WHERE term IN ('fast', 'slow', 'sort') GROUP BY doc_id""",
        # damerau: Lucene FuzzyQuery counts transpositions as 1 edit
        "q07_fuzzy": f"""WITH {_CONTRIB}
            SELECT doc_id, round(sum(c), 6) AS score FROM contrib
            WHERE damerau_levenshtein(term, 'spak') <= 1
              AND abs(length(term) - 4) <= 1
            GROUP BY doc_id""",
        "q08_term_dict": f"""WITH {_TOK}
            SELECT term, count(DISTINCT doc_id)::BIGINT AS df,
                   count(*)::BIGINT AS cf
            FROM tok GROUP BY term""",
        "q09_hints": f"""WITH {_TOK}
            SELECT DISTINCT term AS word FROM tok
            WHERE length(term) BETWEEN 4 AND 199 AND term LIKE 'sc%'
            ORDER BY word LIMIT 20""",
        "q10_field_filtered": f"""WITH {_CONTRIB}
            SELECT t.doc_id, round(sum(t.c), 6) AS score
            FROM contrib t JOIN documents d USING (doc_id)
            WHERE t.term = 'spark' AND d.lang = 'en'
            GROUP BY t.doc_id""",
        # file_path-field BM25: every engine path tokenizes to exactly
        # 5 tokens (source, /, id, ., txt) so dl == avgdl and
        # tfnorm == 1.0 exactly; score == idf of the source token
        "q11_path_term": """
            WITH m AS (SELECT doc_id FROM documents WHERE source = 'src3'),
            st AS (SELECT count(*)::DOUBLE AS df FROM m),
            nn AS (SELECT count(*)::DOUBLE AS n FROM documents)
            SELECT doc_id,
                   round(ln(1.0::DOUBLE +
                     ((SELECT n FROM nn) - (SELECT df FROM st) + 0.5::DOUBLE)
                     / ((SELECT df FROM st) + 0.5::DOUBLE)), 6) AS score
            FROM m""",
        "q12_pk_lookup": "SELECT doc_id, lang FROM documents WHERE doc_id = 42",
        "q13_scan_filter_project": """
            SELECT doc_id, n_chars FROM documents
            WHERE lang = 'en' AND n_chars > 300""",
        "q14_case_sensitive": f"""WITH {_CONTRIB_CS}
            SELECT doc_id, round(sum(c), 6) AS score FROM contrib
            WHERE term = 'STREAM' GROUP BY doc_id""",
        "q15_cs_negative": """
            SELECT CAST(1 AS BIGINT) AS doc_id, 1.0::DOUBLE AS score
            WHERE false""",
        "q17_path_substring": """
            SELECT doc_id FROM documents
            WHERE contains(lower(source || '/' || CAST(doc_id AS VARCHAR)
                           || '.txt'), 'c3/1')""",
        "q19_content_substring": """
            SELECT doc_id,
                   ((length(text) - length(replace(text, 'ge sor', '')))
                    // 6)::BIGINT AS n_matches
            FROM documents WHERE contains(text, 'ge sor')""",
        "q20_content_regex": """
            SELECT doc_id FROM documents
            WHERE regexp_matches(text, 'merge [a-z]+ sort')""",
        "q21_substring_batch": """
            SELECT 'a' AS needle, doc_id FROM documents
            WHERE contains(text, 'ge sor')
            UNION ALL
            SELECT 'b', doc_id FROM documents WHERE contains(text, 'rt mer')
            UNION ALL
            SELECT 'c', doc_id FROM documents WHERE contains(text, 'w fast')""",
        "q22_regex_batch": """
            SELECT 'a' AS pattern, doc_id FROM documents
            WHERE regexp_matches(text, 'merge [a-z]+ sort')
            UNION ALL
            SELECT 'b', doc_id FROM documents
            WHERE regexp_matches(text, 'fast (sort|merge)')
            UNION ALL
            SELECT 'c', doc_id FROM documents
            WHERE regexp_matches(text, 'batch [a-z]+ [a-z]+ index')""",
        "q33_term_interval": """
            WITH nn AS (SELECT count(*)::DOUBLE AS n FROM documents)
            SELECT doc_id,
                   round(ln(1.0::DOUBLE +
                     ((SELECT n FROM nn) - 1.0::DOUBLE + 0.5::DOUBLE)
                     / (1.0::DOUBLE + 0.5::DOUBLE)), 6) AS score
            FROM documents WHERE doc_id BETWEEN 10 AND 25""",
        "q18_filename_term": """
            WITH st AS (SELECT count(*)::DOUBLE AS df FROM documents),
            nn AS (SELECT count(*)::DOUBLE AS n FROM documents)
            SELECT doc_id,
                   round(ln(1.0::DOUBLE +
                     ((SELECT n FROM nn) - (SELECT df FROM st) + 0.5::DOUBLE)
                     / ((SELECT df FROM st) + 0.5::DOUBLE)), 6) AS score
            FROM documents""",
        "q16_batch_search": f"""WITH {_CONTRIB},
            and_q AS (
              SELECT 'and' AS query, doc_id, round(sum(c), 6) AS score
              FROM contrib WHERE term IN ('merge', 'batch')
              GROUP BY doc_id HAVING count(DISTINCT term) = 2),
            or_u AS (
              SELECT doc_id, c FROM contrib WHERE term = 'sort'
              UNION ALL
              SELECT doc_id, c FROM contrib
              WHERE term = 'merge' AND doc_id NOT IN
                (SELECT doc_id FROM contrib WHERE term = 'spark')),
            or_q AS (
              SELECT 'or' AS query, doc_id, round(sum(c), 6) AS score
              FROM or_u GROUP BY doc_id),
            wild_q AS (
              SELECT 'wild' AS query, doc_id, round(sum(c), 6) AS score
              FROM contrib WHERE term LIKE 'sc%' GROUP BY doc_id)
            SELECT * FROM and_q
            UNION ALL SELECT * FROM or_q
            UNION ALL SELECT * FROM wild_q""",
        "a1_doc_len": f"""WITH {_TOK}
            SELECT doc_id, count(*)::BIGINT AS n_tokens FROM tok GROUP BY doc_id""",
        "dd_exact": """
            SELECT md5(text) AS text_hash, count(*)::BIGINT AS n_docs,
                   min(doc_id) AS keep_doc_id
            FROM documents GROUP BY md5(text)""",
        "dd_jaccard": f"""WITH {_TOK},
            sh AS (
              SELECT DISTINCT a.doc_id,
                     a.term || ' ' || b.term || ' ' || c.term AS shingle
              FROM tok a JOIN tok b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
                         JOIN tok c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
            sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            pairs AS (
              SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
              FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
              GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
            FROM pairs
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
            WHERE inter / (sa.sz + sb.sz - inter) >= 0.1""",
        "dd_minhash_lsh": f"""WITH {_TOK},
            {_MINHASH_PAIR_CTES}
            SELECT doc_a, doc_b FROM mh_pairs""",
        # 5-gram decontamination: list_slice window == the engine's
        # word shingles on the single-spaced sf text
        "dd_contamination": """WITH sha AS (
              SELECT d.doc_id,
                     array_to_string(
                       list_slice(string_split(d.text, ' '), i.i, i.i + 4),
                       ' ') AS shingle
              FROM documents d, LATERAL (
                SELECT unnest(range(1,
                         len(string_split(d.text, ' ')) - 3)) AS i) i),
            tr AS (SELECT DISTINCT doc_id, shingle FROM sha),
            be AS (SELECT DISTINCT doc_id AS bench_id, shingle
                   FROM sha WHERE doc_id % 97 = 0)
            SELECT doc_id,
                   count(DISTINCT shingle) AS n_shared_ngrams,
                   count(DISTINCT bench_id) AS n_bench_docs,
                   min(bench_id) AS min_bench_id
            FROM tr JOIN be USING (shingle)
            GROUP BY doc_id""",
        # full dedup verdict: exact md5 collapse, LSH pairs restricted
        # to representatives (signatures are identical within an exact
        # cluster, so endpoint restriction == running LSH over reps),
        # recursive components, every doc inherits its rep's component
        "dd_keep": f"""WITH RECURSIVE {_TOK},
            {_MINHASH_PAIR_CTES},
            reps AS (SELECT md5(text) AS h, min(doc_id) AS rep
                     FROM documents GROUP BY md5(text)),
            rp AS (SELECT p.doc_a, p.doc_b FROM mh_pairs p
                   JOIN reps ra ON ra.rep = p.doc_a
                   JOIN reps rb ON rb.rep = p.doc_b),
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM rp
                      UNION
                      SELECT doc_b AS src, doc_a AS dst FROM rp),
            walk(doc_id, lab) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.dst, w.lab FROM walk w
              JOIN edges e ON e.src = w.doc_id),
            comp AS (SELECT doc_id AS rep, min(lab) AS component
                     FROM walk GROUP BY doc_id),
            dr AS (SELECT d.doc_id, r.rep FROM documents d
                   JOIN reps r ON md5(d.text) = r.h)
            SELECT dr.doc_id,
                   coalesce(comp.component, dr.rep) AS component,
                   (dr.doc_id = coalesce(comp.component, dr.rep))::INTEGER
                     AS keep
            FROM dr LEFT JOIN comp ON comp.rep = dr.rep""",
        # connected components over the minhash pair graph: DuckDB's
        # recursive CTE reproduces min-reachable-label semantics (the
        # walk closure accumulates every label reachable from each
        # node; min over the closure = component id)
        "dd_components": f"""WITH RECURSIVE {_TOK},
            {_MINHASH_PAIR_CTES},
            edges AS (
              SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
              UNION
              SELECT doc_b AS src, doc_a AS dst FROM mh_pairs),
            walk(doc_id, lab) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.dst, w.lab FROM walk w
              JOIN edges e ON e.src = w.doc_id)
            SELECT doc_id, min(lab) AS component
            FROM walk GROUP BY doc_id""",
        # ratio margin over forward 4-NN candidates: full cross-cosine
        # (list_cosine_similarity), row_number kNN with the engine's
        # (cosine DESC, id ASC) tie-break, per-endpoint kNN means
        "ann_margin_align": """
            WITH a AS (SELECT vec_id, embedding::DOUBLE[] AS e
                       FROM embeddings WHERE label < 5),
            b AS (SELECT vec_id, embedding::DOUBLE[] AS e
                  FROM embeddings WHERE label >= 5),
            xc AS (SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
                          list_cosine_similarity(a.e, b.e) AS c
                   FROM a, b),
            fwd AS (SELECT *, row_number() OVER (
                      PARTITION BY src_id ORDER BY c DESC, dst_id) AS rk
                    FROM xc),
            fk AS (SELECT * FROM fwd WHERE rk <= 4),
            ms AS (SELECT src_id, avg(c) AS mean_src FROM fk
                   GROUP BY src_id),
            bwd AS (SELECT *, row_number() OVER (
                      PARTITION BY dst_id ORDER BY c DESC, src_id) AS rk
                    FROM xc),
            md AS (SELECT dst_id, avg(c) AS mean_dst
                   FROM bwd WHERE rk <= 4 GROUP BY dst_id)
            SELECT src_id, dst_id, round(c, 5) AS cosine,
                   round(c / (mean_src / 2 + mean_dst / 2), 5) AS margin
            FROM fk JOIN ms USING (src_id) JOIN md USING (dst_id)
            WHERE c / (mean_src / 2 + mean_dst / 2) >= 1.02""",
        "ann_cosine_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings
                       WHERE vec_id = 0)
            SELECT vec_id FROM embeddings
            WHERE vec_id <> 0
            ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                                            (SELECT e FROM q)) DESC,
                     vec_id
            LIMIT 10""",
        # RRF fusion of the BM25 lexical top-50 with the cosine
        # semantic top-50; ranks (not scores) cross the fusion
        # boundary, so the only portability requirements are the
        # already-oracled BM25 rounding and cosine ORDERING
        "hy_rrf": f"""WITH
            lex AS (WITH {_BM25.format(term="spark", k=50)}),
            lexr AS (SELECT doc_id,
                            row_number() OVER (ORDER BY score DESC, doc_id)
                              AS r
                     FROM lex),
            sem AS (SELECT vec_id AS doc_id,
                           row_number() OVER (
                             ORDER BY list_cosine_similarity(
                               embedding::DOUBLE[],
                               (SELECT embedding::DOUBLE[] FROM embeddings
                                WHERE vec_id = 0)) DESC, vec_id) AS r
                    FROM embeddings
                    QUALIFY r <= 50),
            unioned AS (SELECT doc_id, r FROM lexr
                        UNION ALL
                        SELECT doc_id, r FROM sem)
            SELECT doc_id,
                   round(sum((1.0::DOUBLE) / (60.0::DOUBLE + r)), 6)
                     AS rrf_score,
                   count(*) AS n_sources
            FROM unioned GROUP BY doc_id
            ORDER BY rrf_score DESC, doc_id LIMIT 10""",
        "dd_semdedup": _semdedup_values_sql(),
        "dd_embed_neardup": f"""
            WITH bk(vec_id, bucket) AS (VALUES {_lsh_bucket_values()}),
            p AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM bk a JOIN bk b
                ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
            sim AS (
              SELECT DISTINCT id_a, id_b,
                     list_cosine_similarity(ea.embedding::DOUBLE[],
                                            eb.embedding::DOUBLE[]) AS cos
              FROM p JOIN embeddings ea ON ea.vec_id = id_a
                     JOIN embeddings eb ON eb.vec_id = id_b)
            SELECT id_a, id_b, round(cos, 6) AS cosine
            FROM sim WHERE cos >= 0.3""",
        "tx_langid": _langid_oracle_sql(),
        "dd_simhash": _simhash_oracle_sql(),
        "ann_lsh_topk": f"""
            WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings
                       WHERE vec_id = 0)
            SELECT vec_id FROM embeddings
            WHERE vec_id IN ({_lsh_candidate_ids()})
            ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                                            (SELECT e FROM q)) DESC,
                     vec_id
            LIMIT 5""",
        "ann_ivf_topk": f"""
            WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings
                       WHERE vec_id = 0)
            SELECT vec_id FROM embeddings
            WHERE vec_id IN ({_ivf_candidate_ids()})
            ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                                            (SELECT e FROM q)) DESC,
                     vec_id
            LIMIT 5""",
        "ann_pq_topk": f"""
            WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings
                       WHERE vec_id = 0)
            SELECT vec_id FROM embeddings
            WHERE vec_id IN ({_pq_candidate_ids()})
            ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                                            (SELECT e FROM q)) DESC,
                     vec_id
            LIMIT 5""",
        "ann_ivfpq_topk": f"""
            WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings
                       WHERE vec_id = 0)
            SELECT vec_id FROM embeddings
            WHERE vec_id IN ({_ivfpq_candidate_ids()})
            ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                                            (SELECT e FROM q)) DESC,
                     vec_id
            LIMIT 5""",
        "ann_ivfpq_res_topk": f"""
            WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings
                       WHERE vec_id = 0)
            SELECT vec_id FROM embeddings
            WHERE vec_id IN ({_ivfpq_res_candidate_ids()})
            ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                                            (SELECT e FROM q)) DESC,
                     vec_id
            LIMIT 5""",
        "pv_highlight": f"""WITH {_CONTRIB},
            topd AS (
              SELECT doc_id, round(sum(c), 6) AS score FROM contrib
              WHERE term = 'spark' GROUP BY doc_id
              ORDER BY score DESC, doc_id LIMIT 10),
            cased AS (
              SELECT doc_id, array_to_string(list_transform(
                string_split(text, ' '),
                w -> CASE WHEN length(w) >= 6 THEN upper(w) ELSE w END
              ), ' ') AS ct FROM documents)
            SELECT t.doc_id, t.score,
                   regexp_replace(ct, '\\b(spark)\\b',
                     '<span class=''highlight''>\\1</span>', 'g')
                     AS preview_html
            FROM topd t JOIN cased USING (doc_id)""",
        "pv_matched_lines": f"""WITH {_CONTRIB},
            topd AS (
              SELECT doc_id, round(sum(c), 6) AS score FROM contrib
              WHERE term = 'spark' GROUP BY doc_id
              ORDER BY score DESC, doc_id LIMIT 10),
            cased AS (
              SELECT doc_id, array_to_string(list_transform(
                string_split(text, ' '),
                w -> CASE WHEN length(w) >= 6 THEN upper(w) ELSE w END
              ), ' ') AS ct FROM documents)
            SELECT t.doc_id, t.score, trim(ct) AS line_text,
                   1::BIGINT AS line_number
            FROM topd t JOIN cased USING (doc_id)""",
        "pv_grep_lines": """WITH cased AS (
              SELECT doc_id, array_to_string(list_transform(
                string_split(text, ' '),
                w -> CASE WHEN length(w) >= 6 THEN upper(w) ELSE w END
              ), ' ') AS ct FROM documents)
            SELECT doc_id, 1::BIGINT AS line_number,
                   trim(ct) AS line_text
            FROM cased
            WHERE contains(lower(ct), 'ge sor')""",
        # Gopher repetition signals: raw \\n / single-space splits on
        # both sides; top n-gram = max coverage (count*len), lex-min
        # tie-break; denominators are line-chars resp. len(text)
        "tx_repetition": """WITH ln AS (
              SELECT doc_id, unnest(string_split(text, chr(10))) AS line
              FROM documents),
            lc AS (SELECT doc_id, line, count(*) AS c
                   FROM ln GROUP BY doc_id, line),
            la AS (SELECT doc_id,
                     sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END)::DOUBLE
                       / sum(c) AS dlf,
                     CASE WHEN sum(c * length(line)) = 0 THEN 0.0::DOUBLE
                          ELSE sum(CASE WHEN c > 1
                                        THEN (c - 1) * length(line)
                                        ELSE 0 END)::DOUBLE
                               / sum(c * length(line)) END AS dlcf
                   FROM lc GROUP BY doc_id),
            w AS (SELECT doc_id, string_split(text, ' ') AS l,
                         length(text) AS nc
                  FROM documents),
            g2 AS (SELECT doc_id,
                          array_to_string(list_slice(l, i.i, i.i + 1), ' ')
                            AS g, nc
                   FROM w, LATERAL (
                     SELECT unnest(range(1, len(l))) AS i) i),
            c2 AS (SELECT doc_id, g, nc, count(*) AS c
                   FROM g2 GROUP BY doc_id, g, nc),
            b2 AS (SELECT doc_id, (c * length(g))::DOUBLE / nc AS f,
                          row_number() OVER (PARTITION BY doc_id
                            ORDER BY c * length(g) DESC, g) AS rn
                   FROM c2),
            g3 AS (SELECT doc_id,
                          array_to_string(list_slice(l, i.i, i.i + 2), ' ')
                            AS g, nc
                   FROM w, LATERAL (
                     SELECT unnest(range(1, len(l) - 1)) AS i) i),
            c3 AS (SELECT doc_id, g, nc, count(*) AS c
                   FROM g3 GROUP BY doc_id, g, nc),
            b3 AS (SELECT doc_id, (c * length(g))::DOUBLE / nc AS f,
                          row_number() OVER (PARTITION BY doc_id
                            ORDER BY c * length(g) DESC, g) AS rn
                   FROM c3)
            SELECT d.doc_id,
                   round(la.dlf, 6) AS dup_line_frac,
                   round(la.dlcf, 6) AS dup_line_char_frac,
                   round(coalesce(b2.f, 0.0), 6) AS top2gram_char_frac,
                   round(coalesce(b3.f, 0.0), 6) AS top3gram_char_frac
            FROM documents d
            JOIN la USING (doc_id)
            LEFT JOIN (SELECT doc_id, f FROM b2 WHERE rn = 1) b2
              USING (doc_id)
            LEFT JOIN (SELECT doc_id, f FROM b3 WHERE rn = 1) b3
              USING (doc_id)""",
        "tx_quality": f"""WITH {_TOK},
            st AS (
              SELECT doc_id, count(*) AS n_tokens,
                     count(DISTINCT term) AS n_distinct
              FROM tok GROUP BY doc_id)
            SELECT doc_id, n_tokens::BIGINT AS n_tokens,
                   round(n_distinct / n_tokens, 6) AS distinct_ratio,
                   round(least(n_tokens / 64.0::DOUBLE, 1.0::DOUBLE)
                         * (n_distinct / n_tokens), 6) AS quality
            FROM st""",
        "tx_fingerprint": """
            SELECT doc_id,
                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
            FROM documents""",
        "tx_bpe_count": f"""WITH {_TOK},
            pt AS (
              SELECT doc_id, count(*) AS n_words,
                     sum(CASE WHEN length(term) > 4
                              THEN (length(term) - 1) // 4 ELSE 0 END) AS extra
              FROM tok GROUP BY doc_id)
            SELECT doc_id, n_words::BIGINT AS n_words,
                   (n_words + extra)::BIGINT AS n_bpe_est
            FROM pt""",
        "px_para_dedup": """WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(text, ' +'),
                                 w -> w <> '') AS t
              FROM documents),
            p AS (
              SELECT doc_id, (u.i - 1) // 8 AS idx,
                     array_to_string(list_slice(t, u.i, u.i + 7), ' ') AS para
              FROM toks, UNNEST(range(1, len(t) + 1, 8)) u(i)
              WHERE len(t) > 0),
            pnz AS (
              SELECT doc_id, idx, para,
                     md5(lower(trim(regexp_replace(para, '\\s+', ' ', 'g')))) AS h
              FROM p WHERE trim(para) <> ''),
            kept AS (
              SELECT doc_id, idx, para FROM pnz
              QUALIFY row_number()
                OVER (PARTITION BY h ORDER BY doc_id, idx) = 1),
            n AS (
              SELECT doc_id, count(*)::BIGINT AS n_paras
              FROM pnz GROUP BY doc_id),
            k AS (
              SELECT doc_id,
                     string_agg(para, chr(10) ORDER BY idx) AS text,
                     count(*)::BIGINT AS n_kept
              FROM kept GROUP BY doc_id)
            SELECT doc_id, k.text, n.n_paras, k.n_kept
            FROM n JOIN k USING (doc_id)""",
        # exact substring span dedup (8-token windows): a window is
        # duplicated when its gram occurs anywhere else corpus-wide;
        # the min-(doc,start) occurrence is canonical, the rest are
        # counted/covered
        "dd_span_stats": """WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(text), ' +'),
                                 w -> w <> '') AS t
              FROM documents),
            base AS (SELECT doc_id, t, len(t) AS n FROM toks),
            w AS (
              SELECT doc_id, u.s,
                     array_to_string(list_slice(t, u.s, u.s + 7), ' ') AS g
              FROM base, UNNEST(range(1, n - 8 + 2)) u(s)
              WHERE n >= 8),
            r AS (SELECT doc_id, s,
                         row_number()
                           OVER (PARTITION BY g ORDER BY doc_id, s) AS rn,
                         count(*) OVER (PARTITION BY g) AS c
                  FROM w),
            nc AS (SELECT doc_id, s FROM r WHERE c > 1 AND rn > 1),
            cov AS (SELECT DISTINCT doc_id, u.p
                    FROM nc, UNNEST(range(s, s + 8)) u(p)),
            ndup AS (SELECT doc_id, count(*)::BIGINT AS nd
                     FROM nc GROUP BY doc_id),
            ncov AS (SELECT doc_id, count(*)::BIGINT AS covered
                     FROM cov GROUP BY doc_id)
            SELECT b.doc_id, b.n::BIGINT AS n_tokens,
                   greatest(b.n - 8 + 1, 0)::BIGINT AS n_windows,
                   coalesce(ndup.nd, 0)::BIGINT AS n_dup_windows,
                   CASE WHEN b.n > 0 THEN
                     round(coalesce(ncov.covered, 0)::DOUBLE
                           / b.n::DOUBLE, 6)
                   ELSE 0.0::DOUBLE END AS dup_token_fraction
            FROM base b LEFT JOIN ndup USING (doc_id)
                 LEFT JOIN ncov USING (doc_id)""",
        # span scrub: tokens covered by any non-canonical duplicated
        # window drop; survivors rejoin in original order
        "dd_span_scrub": """WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(text), ' +'),
                                 w -> w <> '') AS t
              FROM documents),
            base AS (SELECT doc_id, t, len(t) AS n FROM toks),
            w AS (
              SELECT doc_id, u.s,
                     array_to_string(list_slice(t, u.s, u.s + 7), ' ') AS g
              FROM base, UNNEST(range(1, n - 8 + 2)) u(s)
              WHERE n >= 8),
            r AS (SELECT doc_id, s,
                         row_number()
                           OVER (PARTITION BY g ORDER BY doc_id, s) AS rn,
                         count(*) OVER (PARTITION BY g) AS c
                  FROM w),
            nc AS (SELECT doc_id, s FROM r WHERE c > 1 AND rn > 1),
            cov AS (SELECT DISTINCT doc_id, u.p
                    FROM nc, UNNEST(range(s, s + 8)) u(p)),
            pos AS (SELECT doc_id, u.p, t[u.p] AS tok
                    FROM base, UNNEST(range(1, n + 1)) u(p)),
            kept AS (SELECT doc_id, p, tok FROM pos
                     WHERE NOT EXISTS (
                       SELECT 1 FROM cov
                       WHERE cov.doc_id = pos.doc_id AND cov.p = pos.p)),
            k AS (SELECT doc_id,
                         string_agg(tok, ' ' ORDER BY p) AS text,
                         count(*)::BIGINT AS nk
                  FROM kept GROUP BY doc_id)
            SELECT b.doc_id, coalesce(k.text, '') AS text,
                   b.n::BIGINT AS n_tokens,
                   coalesce(k.nk, 0)::BIGINT AS n_kept_tokens
            FROM base b LEFT JOIN k USING (doc_id)""",
        # mixture export: scarcest group binds the feasible total,
        # floor(total*prop) takes, lowest-md5 membership per group
        "px_mixture": """WITH n AS (
              SELECT lang AS g, count(*)::DOUBLE AS n
              FROM documents GROUP BY lang),
            p AS (SELECT * FROM (VALUES
                  ('en', 0.4::DOUBLE), ('zh', 0.3::DOUBLE),
                  ('de', 0.3::DOUBLE)) t(g, prop)),
            feas AS (SELECT min(n.n / p.prop) AS total
                     FROM n JOIN p USING (g)),
            takes AS (SELECT p.g,
                             floor((SELECT total FROM feas) * p.prop)::BIGINT
                               AS take
                      FROM p),
            ranked AS (
              SELECT doc_id, lang,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)),
                                doc_id) AS rn
              FROM documents WHERE lang IN ('en', 'zh', 'de'))
            SELECT r.doc_id, r.lang
            FROM ranked r JOIN takes t ON t.g = r.lang
            WHERE r.rn <= t.take ORDER BY r.doc_id""",
        # hash-uniform deterministic shards, reported as counts
        "px_shards": """SELECT
              (('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
                               1, 8))::BIGINT % 8)::INTEGER AS shard,
              count(*)::BIGINT AS n_docs
            FROM documents GROUP BY 1 ORDER BY 1""",
        # facet counts over the docs matching term 'spark'
        "q28_facets": f"""WITH {_TOK},
            m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark')
            SELECT facet, value, n_docs FROM (
              SELECT 'repo' AS facet, d.source AS value,
                     count(*)::BIGINT AS n_docs
              FROM documents d JOIN m USING (doc_id) GROUP BY d.source
              UNION ALL
              SELECT 'lang' AS facet, d.lang AS value,
                     count(*)::BIGINT AS n_docs
              FROM documents d JOIN m USING (doc_id) GROUP BY d.lang)
            ORDER BY facet, value""",
        # did-you-mean: plain-Levenshtein dictionary neighbours of the
        # typo, ranked distance asc / df desc / term asc
        "q29_suggest": f"""WITH {_TOK},
            tfa AS (SELECT doc_id, term FROM tok GROUP BY doc_id, term),
            dfa AS (SELECT term, count(*)::BIGINT AS df FROM tfa
                    GROUP BY term)
            SELECT term, df,
                   levenshtein(term, 'custmer')::BIGINT AS distance
            FROM dfa WHERE levenshtein(term, 'custmer') <= 2
            ORDER BY distance, df DESC, term LIMIT 5""",
        # corpus profile: exact type-7 quantiles == quantile_cont
        "tx_profile": """WITH toks AS (
              SELECT doc_id, lang, length(text) AS n_chars,
                     list_filter(regexp_split_to_array(trim(text), ' +'),
                                 w -> w <> '') AS t
              FROM documents),
            c AS (SELECT lang, n_chars, len(t) AS n_tokens FROM toks),
            vol AS (
              SELECT lang, count(*)::BIGINT AS n_docs,
                     sum(n_tokens)::BIGINT AS total_tokens,
                     round(avg(n_tokens), 6) AS avg_tokens,
                     sum(n_chars)::BIGINT AS total_chars,
                     round(quantile_cont(n_tokens, 0.25), 6) AS q25,
                     round(quantile_cont(n_tokens, 0.50), 6) AS q50,
                     round(quantile_cont(n_tokens, 0.75), 6) AS q75,
                     round(quantile_cont(n_tokens, 0.95), 6) AS q95
              FROM c GROUP BY lang),
            v AS (
              SELECT lang, count(DISTINCT tok)::BIGINT AS vocab_size
              FROM (SELECT lang, unnest(t) AS tok FROM toks)
              GROUP BY lang)
            SELECT vol.lang, n_docs, total_tokens, avg_tokens,
                   total_chars, q25, q50, q75, q95,
                   coalesce(v.vocab_size, 0) AS vocab_size
            FROM vol LEFT JOIN v USING (lang) ORDER BY lang""",
        # MoreLikeThis: tf·idf term selection over source doc 3
        # (tf>=2, df>=5, top 25 by score desc / term asc), summed
        # BM25 contributions over the chosen terms, source excluded
        "q30_more_like_this": f"""WITH {_CONTRIB},
            srctf AS (
              SELECT term, tf FROM tfa
              WHERE doc_id = 3 AND tf >= 2.0::DOUBLE),
            mlt AS (
              SELECT s.term,
                     s.tf * ln(1.0::DOUBLE
                         + ((SELECT n_docs FROM nn) - d.df + 0.5::DOUBLE)
                           / (d.df + 0.5::DOUBLE)) AS tscore
              FROM srctf s JOIN dfa d USING (term)
              WHERE d.df >= 5.0::DOUBLE),
            chosen AS (
              SELECT term FROM mlt ORDER BY tscore DESC, term ASC LIMIT 25),
            sc AS (
              SELECT doc_id, round(sum(c), 6) AS score
              FROM contrib JOIN chosen USING (term)
              WHERE doc_id <> 3 GROUP BY doc_id)
            SELECT doc_id, score FROM sc
            ORDER BY score DESC, doc_id LIMIT 10""",
        # DSIR: hashed 1+2-gram buckets (first-8-hex md5 mod 512),
        # add-1 smoothed target/raw log ratios, per-doc summed weight,
        # Gumbel-top-40 with the md5-seeded uniform draw.
        "px_dsir": """WITH toks AS (
              SELECT doc_id, lang,
                     list_filter(regexp_split_to_array(lower(trim(text)), ' +'),
                                 w -> w <> '') AS t
              FROM documents),
            toks2 AS (
              SELECT doc_id, lang, t, len(t) AS nt
              FROM toks WHERE len(t) > 0),
            g AS (
              SELECT doc_id, lang,
                     ('0x' || substr(md5(array_to_string(
                          list_slice(t, u.i, u.i + k.ord - 1), ' ')), 1, 8)
                     )::BIGINT % 512 AS bucket
              FROM toks2, UNNEST(range(1, nt + 1)) u(i),
                   (VALUES (1), (2)) k(ord)
              WHERE u.i + k.ord - 1 <= nt),
            cr AS (SELECT bucket, count(*) AS cnt_raw FROM g GROUP BY 1),
            ct AS (SELECT bucket, count(*) AS cnt_target
                   FROM g WHERE lang = 'zh' GROUP BY 1),
            tot AS (
              SELECT (SELECT sum(cnt_raw) FROM cr)::DOUBLE AS tr,
                     (SELECT coalesce(sum(cnt_target), 0) FROM ct)::DOUBLE AS tt),
            ratio AS (
              SELECT cr.bucket,
                     ln((coalesce(ct.cnt_target, 0)::DOUBLE + 1.0::DOUBLE)
                        / (tt + 512.0::DOUBLE))
                   - ln((cr.cnt_raw::DOUBLE + 1.0::DOUBLE)
                        / (tr + 512.0::DOUBLE)) AS log_ratio
              FROM cr LEFT JOIN ct USING (bucket), tot),
            w AS (
              SELECT g.doc_id, count(*)::BIGINT AS n_grams,
                     sum(r.log_ratio) AS log_weight
              FROM g JOIN ratio r USING (bucket) GROUP BY 1),
            keyed AS (
              SELECT doc_id, n_grams, log_weight,
                     log_weight - ln(-ln(
                       (('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)),
                                        1, 8))::BIGINT::DOUBLE + 0.5::DOUBLE)
                       / 4294967296.0::DOUBLE)) AS gkey
              FROM w),
            picked AS (
              SELECT doc_id, n_grams, log_weight FROM keyed
              ORDER BY gkey DESC, doc_id ASC LIMIT 40)
            SELECT doc_id, n_grams, round(log_weight, 6) AS log_weight
            FROM picked ORDER BY doc_id""",
        "tx_lm_score": f"""WITH {_LM_SC}
            SELECT doc_id, count(*)::BIGINT AS n_tokens,
                   round(avg(lp), 6) AS lm_logp
            FROM sc GROUP BY doc_id""",
        # NFC composes e+U+0301 -> é; the three appended invisibles
        # (U+200B, U+00AD, CR) are on the explicit strip list
        "tx_normalize": """WITH aug AS (
              SELECT doc_id,
                     text || ' cafe' || chr(769) || chr(8203)
                          || chr(173) || chr(13) AS t
              FROM documents)
            SELECT doc_id,
                   replace(replace(replace(nfc_normalize(t),
                     chr(8203), ''), chr(173), ''), chr(13), '')
                     AS text_norm,
                   3::BIGINT AS n_stripped
            FROM aug""",
        # fixed-width value histogram: floor((v-lo)/width) clamped so
        # v == hi lands in the last bin; identical double arithmetic
        "rel_value_hist": """WITH b AS (
              SELECT least(floor((value - 0.0::DOUBLE)
                                 / (500.0::DOUBLE / 20)), 19)::BIGINT
                       AS bin
              FROM events
              WHERE value IS NOT NULL
                AND value >= 0.0 AND value <= 500.0)
            SELECT bin,
                   round(0.0::DOUBLE + bin * (500.0::DOUBLE / 20), 6)
                     AS lo_edge,
                   round(0.0::DOUBLE + (bin + 1) * (500.0::DOUBLE / 20), 6)
                     AS hi_edge,
                   count(*)::BIGINT AS n
            FROM b GROUP BY bin""",
        # 8h-gap sessionization: lag/running-sum session index
        # (ties break on event_id), micros-integer timestamps, value
        # sum rounded to 4 (the rel_* double-agg convention)
        "rel_sessions": """WITH e AS (
              SELECT user_id, event_id, epoch_us(ts) AS us,
                     event_type, value
              FROM events),
            s AS (
              SELECT *,
                     CASE WHEN lag(us) OVER w IS NULL
                            OR us - lag(us) OVER w > 28800000000
                          THEN 1 ELSE 0 END AS new_s
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
            x AS (
              SELECT *,
                     sum(new_s) OVER (
                       PARTITION BY user_id ORDER BY us, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_idx
              FROM s)
            SELECT user_id, session_idx::BIGINT AS session_idx,
                   count(*)::BIGINT AS n_events,
                   min(us)::BIGINT AS start_us,
                   max(us)::BIGINT AS end_us,
                   count(DISTINCT event_type)::BIGINT AS n_types,
                   round(sum(value), 4) AS sum_value,
                   round((max(us) - min(us))::DOUBLE
                         / 1000000.0::DOUBLE, 6) AS duration_secs
            FROM x GROUP BY user_id, session_idx""",
        # streaming session_window twin: same strict-gap sessions as
        # rel_sessions; session_window reports end = last event + gap
        "rel_sessions_stream": """WITH e AS (
              SELECT user_id, event_id, epoch_us(ts) AS us, value
              FROM events),
            s AS (
              SELECT *,
                     CASE WHEN lag(us) OVER w IS NULL
                            OR us - lag(us) OVER w > 28800000000
                          THEN 1 ELSE 0 END AS new_s
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
            x AS (
              SELECT *,
                     sum(new_s) OVER (
                       PARTITION BY user_id ORDER BY us, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_idx
              FROM s)
            SELECT user_id,
                   min(us)::BIGINT AS start_us,
                   (max(us) + 28800000000)::BIGINT AS end_us,
                   count(*)::BIGINT AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM x GROUP BY user_id, session_idx""",
        # Gopher rules (Rae 2021): same rounded metrics and thresholds
        "tx_gopher": """WITH base AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            w -> w <> '') AS w,
                list_filter(string_split(text, chr(10)),
                            l -> trim(l) <> '') AS l,
                len(regexp_extract_all(text, '#')) +
                len(regexp_extract_all(text, '\\.\\.\\.')) +
                len(regexp_extract_all(text, chr(8230))) AS n_sym
              FROM documents),
            m AS (
              SELECT doc_id,
                len(w)::BIGINT AS n_words,
                round(coalesce(list_sum(list_transform(w, x -> length(x))),
                               0)
                      / greatest(len(w), 1), 6) AS mean_word_len,
                round(n_sym::DOUBLE / greatest(len(w), 1), 6)
                  AS symbol_ratio,
                round(len(list_filter(l, x -> regexp_matches(trim(x),
                        '^[\u2022\u2023\u25b6\\-\\*]')))::DOUBLE
                      / greatest(len(l), 1), 6) AS bullet_line_frac,
                round(len(list_filter(l, x -> regexp_matches(trim(x),
                        '(\\.\\.\\.|' || chr(8230) || ')$')))::DOUBLE
                      / greatest(len(l), 1), 6) AS ellipsis_line_frac,
                round(len(list_filter(w, x -> regexp_matches(x,
                        '[a-zA-Z]')))::DOUBLE
                      / greatest(len(w), 1), 6) AS alpha_word_frac,
                len(list_intersect(
                      list_distinct(list_transform(w, x -> lower(x))),
                      ['the','be','to','of','and','that','have','with']
                    ))::BIGINT AS stopword_hits
              FROM base)
            SELECT *,
              (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
              (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                AS ok_mean_word_len,
              (symbol_ratio <= 0.1) AS ok_symbol_ratio,
              (bullet_line_frac <= 0.1) AS ok_bullets,
              (ellipsis_line_frac <= 0.3) AS ok_ellipses,
              (alpha_word_frac >= 0.8) AS ok_alpha_words,
              (stopword_hits >= 2) AS ok_stopwords,
              ((n_words >= 50 AND n_words <= 100000)
               AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
               AND symbol_ratio <= 0.1 AND bullet_line_frac <= 0.1
               AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
               AND stopword_hits >= 2) AS gopher_pass
            FROM m""",
        # C4 rules over the same deterministic multi-line derivation
        "tx_c4": """WITH t AS (
              SELECT doc_id,
                rtrim(repeat(substr(text, 1, 40) || '.' || chr(10),
                             (doc_id % 8 + 1)::INT), chr(10))
                || CASE WHEN doc_id % 11 = 0 THEN chr(10) ||
                     'please enable javascript to view this.'
                   ELSE '' END
                || CASE WHEN doc_id % 13 = 0 THEN chr(10) ||
                     'Lorem Ipsum dolor sit amet.' ELSE '' END
                || CASE WHEN doc_id % 17 = 0 THEN chr(10) ||
                     'some code with a { brace inside.' ELSE '' END
                AS text
              FROM documents),
            base AS (
              SELECT doc_id, text,
                list_filter(string_split(text, chr(10)),
                            l -> trim(l) <> '') AS lines
              FROM t),
            k AS (
              SELECT doc_id, text, lines,
                list_filter(lines, l ->
                  regexp_matches(trim(l),
                    '(\\.|!|\\?|[.!?]["\u201d''\u2019])\\s*$')
                  AND len(list_filter(
                        regexp_split_to_array(trim(l), '\\s+'),
                        w -> w <> '')) >= 3
                  AND NOT regexp_matches(lower(l),
                        '\\bjavascript\\b')) AS kept
              FROM base),
            m AS (
              SELECT doc_id,
                len(lines)::BIGINT AS n_lines,
                len(kept)::BIGINT AS n_kept_lines,
                list_aggregate(list_prepend('',
                  list_transform(kept, x -> trim(x))), 'string_agg',
                  chr(10))[2:] AS text_clean,
                contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
                contains(text, '{') AS has_brace
              FROM k)
            SELECT doc_id, n_lines, n_kept_lines,
              len(regexp_extract_all(text_clean, '[.!?]'))::BIGINT
                AS n_sentences,
              has_lorem_ipsum, has_brace, text_clean,
              (len(regexp_extract_all(text_clean, '[.!?]')) >= 5
               AND NOT has_lorem_ipsum AND NOT has_brace) AS c4_keep
            FROM m""",
        # smooth tf-idf keywords: idf = ln((N+1)/(df+1)) + 1, score =
        # tf * idf rounded to 6, per-doc top-5 with term tie-break
        "tx_keywords": """WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), ' +'),
                       w -> w <> '')) AS term
              FROM documents),
            tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                   FROM toks GROUP BY 1, 2),
            dfq AS (SELECT term, count(*)::DOUBLE AS dfc
                    FROM tf GROUP BY 1),
            n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS nd
                  FROM documents),
            s AS (
              SELECT tf.doc_id, tf.term, tf.tf,
                     round(tf.tf * (ln((n.nd + 1.0::DOUBLE)
                                       / (dfq.dfc + 1.0::DOUBLE))
                                    + 1.0::DOUBLE), 6) AS score
              FROM tf JOIN dfq USING (term), n),
            r AS (
              SELECT doc_id, term, tf, score,
                     row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY score DESC, term) AS rnk
              FROM s)
            SELECT doc_id, term, tf, score, rnk AS "rank"
            FROM r WHERE rnk <= 5""",
        # CCNet terciles over the rounded LM score: quantile_cont ==
        # Spark percentile (type-7); thresholds rounded to 6 dp on
        # both sides before the boundary comparison
        "tx_ppl_buckets": f"""WITH {_LM_SC},
            scored AS (
              SELECT doc_id, count(*)::BIGINT AS n_tokens,
                     round(avg(lp), 6) AS avg_log10_p
              FROM sc GROUP BY doc_id),
            q AS (
              SELECT round(quantile_cont(avg_log10_p, 1.0/3.0), 6) AS qlo,
                     round(quantile_cont(avg_log10_p, 2.0/3.0), 6) AS qhi
              FROM scored)
            SELECT s.doc_id, s.n_tokens, s.avg_log10_p,
                   CASE WHEN s.avg_log10_p < q.qlo THEN 'tail'
                        WHEN s.avg_log10_p < q.qhi THEN 'middle'
                        ELSE 'head' END AS bucket
            FROM scored s, q""",
        "tx_scrub": """WITH aug AS (
              SELECT doc_id,
                     text || ' visit http://ex.com/' || CAST(doc_id AS VARCHAR)
                          || ' mail ' || source || '@ex.org ip 10.0.0.'
                          || CAST(doc_id % 256 AS VARCHAR) AS t0
              FROM documents),
            s1 AS (SELECT doc_id, t0,
                          regexp_replace(t0, 'https?://[^\\s]+', '<URL>', 'g') AS t1
                   FROM aug),
            s2 AS (SELECT *,
                          regexp_replace(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t2
                   FROM s1)
            SELECT doc_id,
                   regexp_replace(t2, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS text_clean,
                   len(regexp_extract_all(t0, 'https?://[^\\s]+'))::BIGINT AS n_urls,
                   len(regexp_extract_all(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
                   len(regexp_extract_all(t2, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::BIGINT AS n_ips
            FROM s2""",
        "px_chunk": """WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), ' +'),
                                 w -> w <> '') AS toks
              FROM documents),
            s AS (
              SELECT doc_id, toks, len(toks) AS n,
                     unnest(range(0, greatest(len(toks), 1), 12)) AS start
              FROM t)
            SELECT doc_id,
                   (start // 12)::BIGINT AS chunk_id,
                   len(list_slice(toks, start + 1, start + 16))::BIGINT AS n_chunk_tokens,
                   array_to_string(list_slice(toks, start + 1, start + 16), ' ') AS chunk_text
            FROM s WHERE start < n AND n > 0""",
        "px_chunk_dedup": """WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), ' +'),
                                 w -> w <> '') AS toks
              FROM documents),
            s AS (
              SELECT doc_id, toks, len(toks) AS n,
                     unnest(range(0, greatest(len(toks), 1), 12)) AS start
              FROM t),
            ch AS (
              SELECT doc_id * 1000 + (start // 12) AS chunk_key,
                     array_to_string(
                       list_slice(toks, start + 1, start + 16), ' '
                     ) AS chunk_text
              FROM s WHERE start < n AND n > 0)
            SELECT md5(chunk_text) AS chunk_hash,
                   count(*)::BIGINT AS n_chunks,
                   min(chunk_key)::BIGINT AS keep_chunk_key
            FROM ch GROUP BY md5(chunk_text) HAVING count(*) > 1""",
        "px_sample": """
            SELECT doc_id FROM documents
            WHERE substring(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < '40000000'""",
        # per-stratum md5 thresholds: en 0.5 -> 80000000,
        # de 0.125 -> 20000000, default 0.25 -> 40000000
        "px_sample_strat": """
            SELECT doc_id, lang FROM documents
            WHERE substring(md5('9:' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < CASE lang WHEN 'en' THEN '80000000'
                              WHEN 'de' THEN '20000000'
                              ELSE '40000000' END""",
        # sequence packing: same chunk CTE as px_chunk (32/24), then a
        # bucketed window cumsum quantizes the token stream into
        # 256-token packs
        "px_pack": """WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), ' +'),
                                 w -> w <> '') AS toks
              FROM documents),
            s AS (
              SELECT doc_id, toks, len(toks) AS n,
                     unnest(range(0, greatest(len(toks), 1), 24)) AS start
              FROM t),
            ch AS (
              SELECT doc_id, (start // 24)::BIGINT AS chunk_id,
                     len(list_slice(toks, start + 1, start + 32))::BIGINT
                       AS n_chunk_tokens
              FROM s WHERE start < n AND n > 0),
            cum AS (
              SELECT doc_id, chunk_id,
                     (doc_id % 16)::INTEGER AS bucket,
                     coalesce(sum(n_chunk_tokens) OVER (
                       PARTITION BY doc_id % 16
                       ORDER BY doc_id, chunk_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS before
              FROM ch)
            SELECT doc_id, chunk_id, bucket,
                   (before // 256)::BIGINT AS pack_id,
                   (before % 256)::BIGINT AS pack_offset
            FROM cum""",
        # composed prep pipeline: quality gate -> md5 dedup keep ->
        # 50% hash sample -> 32/24 token chunks (each stage's SQL is
        # the already-oracled recipe of its standalone entry)
        "px_pipeline": f"""WITH {_TOK},
            st AS (
              SELECT doc_id, count(*) AS n_tokens,
                     count(DISTINCT term) AS n_distinct
              FROM tok GROUP BY doc_id),
            ql AS (
              SELECT doc_id FROM st
              WHERE least(n_tokens / 64.0::DOUBLE, 1.0::DOUBLE)
                    * (n_distinct / n_tokens) >= 0.3::DOUBLE),
            keep AS (
              SELECT min(d.doc_id) AS doc_id
              FROM documents d JOIN ql USING (doc_id)
              GROUP BY md5(d.text)),
            samp AS (
              SELECT doc_id FROM keep
              WHERE substring(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 8)
                    < '80000000'),
            t AS (
              SELECT d.doc_id,
                     list_filter(string_split_regex(trim(d.text), ' +'),
                                 w -> w <> '') AS toks
              FROM documents d JOIN samp USING (doc_id)),
            s AS (
              SELECT doc_id, toks, len(toks) AS n,
                     unnest(range(0, greatest(len(toks), 1), 24)) AS start
              FROM t)
            SELECT doc_id, (start // 24)::BIGINT AS chunk_id,
                   len(list_slice(toks, start + 1, start + 32))::BIGINT
                     AS n_chunk_tokens,
                   array_to_string(list_slice(toks, start + 1, start + 32),
                                   ' ') AS chunk_text
            FROM s WHERE start < n AND n > 0""",
        "rel_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   count(*)::BIGINT AS n_rows
            FROM lineitem
            WHERE l_shipdate <= '1998-09-02'
            GROUP BY l_returnflag, l_linestatus""",
        "rel_order_join": """
            SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
                   round(sum(o_totalprice), 4) AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment""",
        "rel_window_rank": """
            SELECT c_mktsegment, rnk::BIGINT AS rnk, o_orderkey,
                   round(o_totalprice, 4) AS o_totalprice
            FROM (
              SELECT c_mktsegment, o_orderkey, o_totalprice,
                     row_number() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY o_totalprice DESC, o_orderkey
                     ) AS rnk
              FROM orders JOIN customer ON o_custkey = c_custkey)
            WHERE rnk <= 3""",
        "mm_resize_plan": """
            WITH m AS (
              SELECT doc_id AS media_id, 'image' AS kind,
                     (8 + (doc_id % 9) * 4) AS w,
                     (6 + (doc_id % 7) * 6) AS h
              FROM documents WHERE doc_id % 3 <> 0),
            s AS (SELECT media_id, kind, w, h,
                         least(16 / greatest(w, h), 1.0) AS scale
                  FROM m)
            SELECT media_id, kind,
                   CAST(round(w * scale) AS BIGINT) AS target_width,
                   CAST(round(h * scale) AS BIGINT) AS target_height
            FROM s""",
        "mm_frame_sample": """
            WITH v AS (
              SELECT doc_id AS media_id,
                     (200 + (doc_id % 12) * 125) AS dur
              FROM documents WHERE doc_id % 3 = 0)
            SELECT media_id,
                   unnest(range(0, dur, 250))::BIGINT AS frame_ms
            FROM v""",
        "mm_feature_hist": f"""
            SELECT * FROM (VALUES {_mm_hist_values()})
            AS t(media_id, b0, b1, b2, b3, b4, b5, b6, b7, n_bytes)""",
        "mm_audio_windows": f"""
            SELECT * FROM (VALUES {_mm_audio_values()})
            AS t(media_id, window_id, n_samples, sumsq, zero_crossings)""",
        "st_event_compaction": """
            SELECT user_id, arg_max(event_type, ts) AS last_type,
                   round(arg_max(value, ts), 6) AS last_value,
                   count(*)::BIGINT AS n_events
            FROM events GROUP BY user_id""",
        # streaming dedup registry: per-hash (min doc_id, count)
        # state merges are order-insensitive, so the stream's final
        # snapshot equals the batch exact-dedup groups — dd_exact's
        # oracle verbatim, modulo the null-text coalesce the stream
        # applies (documents.text has no NULLs in the testdata, and
        # the coalesce makes the SQL robust if that ever changes)
        "st_dedup_registry": """
            SELECT md5(coalesce(text, '')) AS text_hash,
                   count(*)::BIGINT AS n_docs,
                   min(doc_id) AS keep_doc_id
            FROM documents GROUP BY 1""",
        # streaming KMV: the stream's bucketed bottom-k merge equals
        # the single-pass sketch exactly (KMV composes), so the
        # oracle is the same deterministic replay as rel_kmv_distinct
        # but over documents.text, ungrouped
        "st_kmv_stream": """
            WITH hx AS (
              SELECT DISTINCT substr(md5(text), 1, 13) AS h
              FROM documents WHERE text IS NOT NULL),
            rk AS (
              SELECT h, row_number() OVER (ORDER BY h) AS rn,
                     count(*) OVER () AS nd
              FROM hx)
            SELECT least(nd, 256)::BIGINT AS n_min,
                   round(CASE WHEN nd < 256 THEN nd::DOUBLE
                         ELSE 255.0::DOUBLE /
                              (('0x' || h)::BIGINT
                               / 4503599627370496.0::DOUBLE) END,
                         4) AS est_distinct
            FROM rk
            WHERE rn = CASE WHEN nd < 256 THEN nd ELSE 256 END""",
        # sliding windows: every event lands in exactly size/slide=2
        # epoch-aligned windows (k=0: floor(t/1h); k=1: one slide
        # earlier — t-s in [1h,2h) < size, so no extra predicate)
        "rel_sliding_window": """
            SELECT event_type,
                   make_timestamp(ws) AS win_start,
                   count(*)::BIGINT AS n,
                   round(sum(value), 6) AS sum_value
            FROM (
              SELECT event_type, value,
                     ((epoch_us(ts) // 3600000000) - k) * 3600000000 AS ws
              FROM events, unnest([0, 1]) AS u(k))
            GROUP BY event_type, ws""",
        "st_event_window": """
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   count(*)::BIGINT AS n, round(sum(value), 6) AS sum_value
            FROM events GROUP BY 1, 2""",
    })


def _alias_oracles(d: dict[str, str]) -> dict[str, str]:
    # the query-index scale path answers the SAME contract as the
    # broadcast percolator: one shared oracle text
    d["pc_percolate_idx"] = d["pc_percolate"]
    return d
