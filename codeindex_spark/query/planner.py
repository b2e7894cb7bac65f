"""Query planner + executor: AST -> DataFrame plan over posting blocks.

Every scored surface (score, score_many, search*, count, WAND) runs
one pipeline (the "joins" of an IR engine, SURVEY.md §2.4):

1. Plan rows — a pure leaf walk assigns leaf ids and lists each
   leaf's dictionary wants (no Spark); the exact terms of every query
   in the call resolve in ONE cached lookup that the reader runs on
   the driver (its dictionary as a pyarrow dataset, field-directory
   and row-group pruned: no Spark job). Wildcard/regexp/fuzzy/range
   leaves expand against the Spark term dictionary. Prefix patterns
   become a *range* predicate on the term-sorted dictionary parquet
   (row-group pruning); fuzzy uses a length window + JVM-side
   levenshtein. Expansions are capped at 1024 terms (Lucene's
   maxClauseCount) deterministically (term asc). The result is
   (field, term, leaf_id, slot, idf, df) mapping rows.
2. Candidate scan — postings filtered to the rows' (field, term)
   set: directory pruning on field, min/max row-group pruning on
   term. The rows do not enter Spark.
3. Block stream — a sort on block_id and ONE mapInPandas pass that
   carries a block's rows across Arrow batches and merges each posting
   row with its mapping rows (leaf_id, slot, idf) from the kernel's
   closure: all query terms share doc-aligned blocks (block_id =
   doc_id // BLOCK_SIZE), so boolean intersection / union / difference
   and phrase adjacency are numpy set ops *within one block*, with no
   doc-level shuffle — the distributed analog of Lucene's skip-list
   merge. The task count comes from the rows' summed df (the entries
   the kernel decodes): one task reads through coalesce(1), with no
   exchange; more hash-partition on block_id. Pure disjunctions take
   a fully vectorized kernel; other trees the per-block tree kernel.
4. Collector — metadata filters (repo/lang/ext/path) are DataFrame
   predicates on the docs table, semi-joined with scored docs (BM25
   statistics stay corpus-global, like Lucene filter clauses); top-k
   is orderBy(score desc, doc_id asc).limit(k) — Catalyst
   TakeOrderedAndProject (per-partition heap + driver merge). With
   doc metadata, the <= k top rows join the docs table and the plan
   again ends in TakeOrderedAndProject, not a range-partitioned
   re-sort.

Scoring: BM25 (k1/b from index params),
idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (Lucene BM25Similarity form),
score(q,d) = Σ_leaf idf_t * tfnorm_t(d). Multi-term leaves (wildcard /
fuzzy expansions) sum over matched expansions. Phrase scores sum the
per-slot contributions of matched docs. Tie-break: (score desc,
doc_id asc) — deterministic because docIDs are (see index/docids.py).
"""

from __future__ import annotations

import functools
import math
import os
import re
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from codeindex_spark.index import encoding
from codeindex_spark.index.segments import IndexReader
from codeindex_spark.query import ast
from codeindex_spark.query.luceneregex import (
    compile_lucene_regexp,
    uses_extended_ops,
)

MAX_EXPANSIONS = 1024  # Lucene BooleanQuery.maxClauseCount parity

# Mapping-row slot kinds. A phrase row carries its slot index (>= 0);
# every other row carries one of these negative kinds, which tells the
# tree kernel how to evaluate it.
SLOT_TERM = -1  # term / expansion row: contributions sum per doc
SLOT_SYNONYM = -2  # blended member row: tf sums, saturates once
SLOT_SPAN_FIRST = -3  # member row: positions < end count
SLOT_SPAN_NOT_INC = -4  # include member row
SLOT_SPAN_NOT_EXC = -5  # exclude member row, idf 0 (a gate only)
SLOT_SPAN_OR = -6  # plan-time only: its rows go out as SLOT_SYNONYM

SCORE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

MULTI_SCORE_SCHEMA = T.StructType(
    [
        T.StructField("query", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


@dataclass(frozen=True)
class Filters:
    """Metadata predicates (reference: extension/path include-exclude,
    FilesFetcher.cs:22-26 and QueryGenerator field clauses)."""

    repo: str | None = None
    lang: str | None = None
    file_ext: str | None = None
    path_prefix: str | None = None

    def apply(self, docs: DataFrame) -> DataFrame:
        out = docs
        if self.repo is not None:
            out = out.filter(F.col("repo") == self.repo)
        if self.lang is not None:
            out = out.filter(F.col("lang") == self.lang)
        if self.file_ext is not None:
            out = out.filter(F.col("file_ext") == self.file_ext.lower())
        if self.path_prefix is not None:
            out = out.filter(F.col("path").startswith(self.path_prefix))
        return out

    @property
    def empty(self) -> bool:
        return all(
            v is None
            for v in (self.repo, self.lang, self.file_ext, self.path_prefix)
        )


def wildcard_to_regex(pattern: str) -> str:
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def literal_prefix(pattern: str) -> str:
    for i, ch in enumerate(pattern):
        if ch in "*?":
            return pattern[:i]
    return pattern


def regex_literal_prefix(pattern: str) -> str:
    """Leading run of literal chars in a regex, for pruning the
    sorted-dictionary scan before the anchored rlike verifies.
    Conservative: stops at the first metacharacter or backslash
    (escapes can be multi-char — \\x41 etc., the required_literals
    lesson); a quantifier right after the run makes the last literal
    optional/repeated, so it drops out. Never affects correctness —
    only how much of the dictionary the rlike has to look at."""
    if "|" in pattern:
        # a top-level alternation's other branch need not share the
        # literal run ('abc|x' matches 'x'); telling top-level from
        # grouped '|' needs a real parse, so any '|' disables the
        # prune — the anchored rlike alone stays correct
        return ""
    meta = set(".^$*+?{}[]()\\")
    out: list[str] = []
    for ch in pattern:
        if ch in meta:
            if ch in "*+?{" and out:
                out.pop()
            break
        out.append(ch)
    return "".join(out)


def _dfa_filter_kernel(matcher):
    """mapInPandas kernel: keep dictionary rows whose term the
    compiled Lucene-regexp DFA accepts. The matcher (a few-KB numpy
    table) ships in the closure; match_many evaluates the whole
    Arrow batch in lockstep — no per-row Python."""

    def fn(batches):
        for pdf in batches:
            if len(pdf):
                keep = matcher.match_many(pdf["term"].tolist())
                pdf = pdf[keep]
            yield pdf

    return fn


def idf_bm25(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def damerau_distance(a: str, b: str, cap: int) -> int:
    """Unrestricted Damerau-Levenshtein (Lowrance-Wagner) distance —
    Lucene FuzzyQuery counts a transposition as ONE edit
    (transpositions=true default; QueryGenerator.cs inherits it), so
    plain levenshtein under-matches e.g. 'spakr'~1 vs 'spark'. The
    unrestricted variant matches DuckDB's damerau_levenshtein, so the
    driver oracle reproduces expansions exactly."""
    if abs(len(a) - len(b)) > cap:
        return cap + 1
    la, lb = len(a), len(b)
    inf = la + lb
    h = [[inf] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        h[i + 1][1] = i
    for j in range(lb + 1):
        h[1][j + 1] = j
    da: dict[str, int] = {}
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            i1 = da.get(b[j - 1], 0)
            j1 = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            h[i + 1][j + 1] = min(
                h[i][j] + cost,
                h[i + 1][j] + 1,
                h[i][j + 1] + 1,
                h[i1][j1] + (i - i1 - 1) + 1 + (j - j1 - 1),
            )
        da[a[i - 1]] = i
    return h[la + 1][lb + 1]


def required_literals(pattern: str) -> list[str]:
    """Literal substrings every match of a regex must contain — the
    prefilter extraction of trigram-indexed regex search (public
    design: swtch.com/~rsc/regexp/regexp4.html).

    Conservative and SOUND, not complete: only top-level concatenation
    runs of plain characters count. Any top-level alternation drops
    everything (``a|b`` requires neither); ``x?``/``x*``/``x{..}``
    make x optional, ending the run WITHOUT x; ``x+`` requires x but
    ends the run after it (``ab+c`` need not contain "abc");
    groups and character classes are skipped wholesale; ``. ^ $`` and
    class/anchor escapes end the run. Multi-char escape bodies are
    decoded to their literal char (``\\x41bc`` requires "Abc", never
    the bogus "41bc") and ``\\Q...\\E`` regions contribute their
    quoted text (a trailing quantifier binds the last quoted char
    only); undecodable bodies (``\\N{..}``, malformed hex/octal) bail
    to []. Over-restricting would drop matches, so
    anything unclear contributes nothing.

    Verification runs the pattern under JAVA regex (rlike), so the
    skipper honors Java syntax where it differs from Python: character
    classes nest (``[a-z&&[^bc]]``) and are skipped with bracket
    depth. A malformed pattern (unterminated group/class, trailing
    backslash) returns [] — the engine surfaces the real syntax error
    at rlike time; guessing literals from garbage risks a false
    absence proof."""
    runs: list[str] = []
    cur: list[str] = []

    def flush():
        if cur:
            runs.append("".join(cur))
            cur.clear()

    n = len(pattern)

    def skip_class(j: int) -> int:
        """j at '['; return index past the matching ']' honoring Java
        nested classes, or -1 if unterminated."""
        depth = 0
        while j < n:
            ch = pattern[j]
            if ch == "\\":
                j += 2
                continue
            if ch == "[":
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    return j + 1
            j += 1
        return -1

    i = 0
    while i < n:
        c = pattern[i]
        if c == "|":  # top-level alternation: nothing is required
            return []
        if c == "(":  # skip the whole group (nested, escape-aware)
            flush()
            depth, i = 1, i + 1
            while i < n and depth:
                if pattern[i] == "\\":
                    i += 2
                    continue
                if pattern[i] == "[":  # class inside group: nested
                    i = skip_class(i)
                    if i < 0:
                        return []  # malformed: no literal is safe
                    continue
                depth += {"(": 1, ")": -1}.get(pattern[i], 0)
                i += 1
            if depth:
                return []  # unterminated group
            # quantifier after the group keeps it non-required anyway
            continue
        if c == "[":  # character class: no single required char
            flush()
            i = skip_class(i)
            if i < 0:
                return []
            continue
        if c == "\\":  # escape — Java semantics (verification is rlike)
            nxt = pattern[i + 1] if i + 1 < n else ""
            if not nxt:
                return []  # trailing backslash: malformed
            if nxt == "Q":
                # \Q...\E quoted region: contents are literal chars. A
                # quantifier right after \E binds to the LAST quoted
                # char only, so that char leaves the required run.
                end = pattern.find("\\E", i + 2)
                if end == -1:
                    quoted, i = pattern[i + 2 :], n
                else:
                    quoted, i = pattern[i + 2 : end], end + 2
                after = pattern[i] if i < n else ""
                if quoted and after and after in "*?{":
                    cur.extend(quoted[:-1])
                    flush()
                    if after in "*?":
                        i += 1  # '{..}' body is skipped by the main loop
                    continue
                if quoted and after == "+":
                    cur.extend(quoted)
                    flush()
                    i += 1
                    continue
                cur.extend(quoted)  # run may continue past \E
                continue
            decoded: str | None = None
            i2 = i + 2
            if nxt == "x":  # \xhh or \x{h..h}
                if pattern[i + 2 : i + 3] == "{":
                    end = pattern.find("}", i + 3)
                    if end == -1:
                        return []
                    body, i2 = pattern[i + 3 : end], end + 1
                else:
                    body, i2 = pattern[i + 2 : i + 4], i + 4
                    if len(body) != 2:
                        return []
                try:
                    cp = int(body, 16)
                except ValueError:
                    return []
                if not body or cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
                    return []
                decoded = chr(cp)
            elif nxt == "u":  # \uhhhh
                body, i2 = pattern[i + 2 : i + 6], i + 6
                if len(body) != 4:
                    return []
                try:
                    cp = int(body, 16)
                except ValueError:
                    return []
                if 0xD800 <= cp <= 0xDFFF:
                    return []  # surrogate half: pairing rules, bail
                decoded = chr(cp)
            elif nxt == "0":  # \0n \0nn \0mnn octal (m in 0-3)
                j = i + 2
                digs = ""
                while j < n and pattern[j] in "01234567" and len(digs) < 3:
                    digs += pattern[j]
                    j += 1
                if len(digs) == 3 and digs[0] not in "0123":
                    digs = digs[:2]
                    j -= 1
                if not digs:
                    return []  # Java requires >=1 octal digit
                decoded = chr(int(digs, 8))
                i2 = j
            elif nxt == "c":  # \cX control escape
                if i + 2 >= n:
                    return []
                decoded = chr(ord(pattern[i + 2]) ^ 64)
                i2 = i + 3
            elif nxt == "N":  # \N{NAME}: names aren't decoded here
                return []
            if decoded is not None:
                after = pattern[i2] if i2 < n else ""
                if after and after in "*?{":
                    flush()
                    i = i2 + (1 if after in "*?" else 0)
                    continue
                if after == "+":
                    cur.append(decoded)
                    flush()
                    i = i2 + 1
                    continue
                cur.append(decoded)
                i = i2
                continue
            # \d \w \b... are classes/anchors; single-char literal
            # escapes (\. \\) are skipped too (sound either way)
            flush()
            i += 2
            continue
        if c in ".^$":
            flush()
            i += 1
            continue
        if c == "{":  # {m,n} quantifier body: skip it wholesale
            flush()
            while i < n and pattern[i] != "}":
                i += 1
            i += 1
            continue
        if c in "*?+}":  # stray quantifier (e.g. after a group)
            flush()
            i += 1
            continue
        nxt = pattern[i + 1] if i + 1 < n else ""
        if nxt and nxt in "*?{":  # c is optional: run ends, c excluded
            flush()
            i += 2 if nxt in "*?" else 1
            continue
        if nxt == "+":  # c required once, but the run can't extend
            cur.append(c)
            flush()
            i += 2
            continue
        cur.append(c)
        i += 1
    flush()
    return runs


# Driver-side dictionary cache bounds. Lucene keeps the term dictionary
# in memory; the distributed analog is a bounded per-engine LRU of hot
# (field, term) -> df entries and hot pattern expansions — repeat
# queries skip the dictionary job entirely (one Spark job per search
# instead of two). Entries are tiny ((str, str) -> int); 256k entries
# is a few tens of MB. An engine is constructed per index state
# (readers are point-in-time views; a stacked MultiReader raises once
# its index changes), so staleness is structural, not timed.
DICT_CACHE_CAP = 262_144
EXPAND_CACHE_CAP = 512
_MISS = object()  # sentinel: distinguishes "not cached" from "df is None"


def _partial_topn_fn(gf: str, tf: str, pg: int):
    """Arrow partial top-n combine shared by search_many,
    search_collapse and search_groups: per partition, keep at most
    ``pg`` rows per ``gf`` value ordered (score desc, ``tf`` asc) —
    the map-side combine of grouped top-n, holding <= groups-in-
    partition x pg rows. Null group keys are preserved (dropna=False)
    so a nullable stored column loses no docs at the combine; callers
    that must exclude null groups filter before mapping."""

    def partial_topn(batches):
        acc = None
        for b in batches:
            cur = b if acc is None else pd.concat((acc, b))
            cur = cur.sort_values(
                ["score", tf], ascending=[False, True], kind="mergesort"
            )
            acc = cur.groupby(gf, sort=False, dropna=False).head(pg)
        if acc is not None and len(acc):
            yield acc

    return partial_topn


def _as_root(query: ast.Node | str, case_sensitive: bool) -> ast.Node:
    """Parse a query string; an already-built AST passes through."""
    if isinstance(query, str):
        return ast.parse_query(query, case_sensitive)
    return query


def _dict_slice(td: DataFrame, limit: int = MAX_EXPANSIONS) -> list:
    """The first ``limit`` (term, df) rows of a dictionary slice in
    term order — the deterministic expansion cap."""
    return td.select("term", "df").orderBy("term").limit(limit).collect()


def _page_after(scored: DataFrame, after: tuple[float, int]) -> DataFrame:
    """Rows strictly after the (score, doc_id) anchor in (score desc,
    doc_id asc) order — two scalar literals in a JVM predicate."""
    a_score, a_doc = float(after[0]), int(after[1])
    return scored.filter(
        (F.col("score") < F.lit(a_score))
        | (
            (F.col("score") == F.lit(a_score))
            & (F.col("doc_id") > F.lit(a_doc))
        )
    )


ENTRIES_PER_TASK = 1_000_000
"""Block-stream work target per task, in posting entries (the mapping
rows' summed df: each mapping row decodes its term's blocks). On one
core of the 4-core host, merge + decode + score runs at ~4.9M
entries/s for a 31-term disjunction (116k entries), ~3.7M for a
boolean tree and ~0.9-1.1M for phrases (positions decoded). 1M
entries is ~0.2-1 s of kernel time, above the ~100 ms surcharge of a
Python task plus the hash exchange a second task needs; every query of
a 1500-doc index (hot terms ~1.4k entries each) streams in one task."""


def stream_task_count(entries: int, cap: int) -> int:
    """Tasks of a block stream that decodes ``entries`` posting
    entries: one per ``ENTRIES_PER_TASK``, at least 1, at most ``cap``
    (the shuffle partitions)."""
    return max(1, min(int(cap), -(-int(entries) // ENTRIES_PER_TASK)))


def _idf_sum_col(rows: list[dict], occurrences: Counter):
    """Σ idf of the mapping rows of each (field, term), each row counted
    as often as its leaf occurs in the query (``occurrences``: leaf_id
    -> count), as a literal column: a CASE on field over per-field
    literal maps of term."""
    sums: dict[str, dict[str, float]] = {}
    for r in rows:
        by_term = sums.setdefault(r["field"], {})
        by_term[r["term"]] = (
            by_term.get(r["term"], 0.0) + r["idf"] * occurrences[r["leaf_id"]]
        )
    col = None
    for fld, by_term in sorted(sums.items()):
        lookup = F.create_map(
            *[x for t, v in sorted(by_term.items()) for x in (F.lit(t), F.lit(v))]
        )[F.col("term")]
        is_fld = F.col("field") == fld
        col = F.when(is_fld, lookup) if col is None else col.when(is_fld, lookup)
    return col


def _no_rows(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """An empty ``schema`` frame the optimizer folds to an empty local
    relation: a query over it runs no Spark job."""
    return (
        spark.range(1)
        .select(*[F.lit(0).cast(f.dataType).alias(f.name) for f in schema])
        .filter(F.lit(False))
    )


# the posting columns a block kernel reads; only kernels that decode
# positions read POSITION_COLUMNS too
KERNEL_COLUMNS = ("field", "term", "block_id", "n", "docs_delta", "tfs", "dls")
POSITION_COLUMNS = ("pos_counts", "pos_deltas")


def _needs_positions(leaves) -> bool:
    """Whether the block kernel of a query with these leaves decodes
    positions."""
    return any(
        isinstance(leaf, (ast.Phrase, ast.SpanFirst, ast.SpanNot))
        for leaf in leaves
    )


def _drop_dead(scored: pd.DataFrame, dead: np.ndarray) -> pd.DataFrame:
    """Kernel output rows whose doc_id is not in the sorted ``dead``
    docIDs."""
    ids = scored["doc_id"].to_numpy()
    at = np.searchsorted(dead, ids).clip(max=len(dead) - 1)
    return scored[dead[at] != ids]


def _score_blocks(
    candidates: DataFrame,
    rows: list[dict],
    kernel,
    need_pos: bool,
    dead: np.ndarray | None,
    schema: T.StructType = SCORE_SCHEMA,
) -> DataFrame:
    """The block stream every scored surface ends in: candidates,
    projected to the columns the kernel reads (``need_pos`` adds the
    positions), sort on block_id within partitions, and ONE
    mapInPandas pass runs ``kernel`` over whole block runs — the rows
    of the last block in an Arrow batch carry into the next batch, so
    no block is ever split across kernel calls (one pass instead of a
    grouped map per block). Before the kernel, each posting row fans
    out to its mapping ``rows`` (leaf_id, slot, idf[, qid]), merged in
    pandas from the closure: no mapping frame, no Spark join.
    ``kernel`` maps a block-sorted body to ``schema`` rows.

    The live check is here, once for every scored surface: output rows
    of a docID in the reader's sorted ``dead`` set are dropped
    (Lucene's liveDocs check in the scorer). The set ships in the
    closure, so the plan does not grow with it.

    The stream runs ``stream_task_count`` tasks, sized from the rows'
    summed df: one task reads the candidates through ``coalesce(1)``
    (no exchange), more repartition on block_id."""
    mapping = pd.DataFrame(rows).drop(columns="df")

    def attach(body: pd.DataFrame) -> pd.DataFrame:
        # the stable sort keeps each block's rows one run
        return body.merge(mapping, on=["field", "term"]).sort_values(
            "block_id", kind="stable", ignore_index=True
        )

    def score(body: pd.DataFrame) -> pd.DataFrame:
        out = kernel(attach(body))
        return out if dead is None else _drop_dead(out, dead)

    def stream(batches):
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            bids = pdf["block_id"].to_numpy()
            in_last = bids == bids[-1]
            carry = pdf[in_last]
            body = pdf[~in_last]
            if len(body):
                yield score(body)
        if carry is not None and len(carry):
            yield score(carry)

    spark = candidates.sparkSession
    n = stream_task_count(
        sum(r["df"] for r in rows),
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    cols = KERNEL_COLUMNS + (POSITION_COLUMNS if need_pos else ())
    candidates = candidates.select(*cols)
    if n == 1:
        parts = candidates.coalesce(1)
    else:
        parts = candidates.repartition(n, "block_id")
    return parts.sortWithinPartitions("block_id").mapInPandas(stream, schema=schema)


class SearchEngine:
    def __init__(self, reader: IndexReader):
        self.reader = reader
        self.params = reader.params
        self._dict_cache: dict[tuple[str, str], int | None] = {}
        self._expand_cache: dict[tuple, list] = {}

    def invalidate_caches(self) -> None:
        self._dict_cache.clear()
        self._expand_cache.clear()

    # Lucene join/score-mode table shared by join_to_parent and
    # join_from_query (ToParentBlockJoinQuery.ScoreMode / JoinUtil):
    # None scores every joined row 0.0
    _SCORE_MODES = {
        "max": F.max,
        "total": F.sum,
        "avg": F.avg,
        "min": F.min,
        "none": None,
    }

    @classmethod
    def _score_agg(cls, score_mode: str):
        """Aggregation Column for a ScoreMode name (raises on an
        unknown mode)."""
        if score_mode not in cls._SCORE_MODES:
            raise ValueError(
                "score_mode must be one of "
                f"{sorted(cls._SCORE_MODES)}: {score_mode!r}"
            )
        fn = cls._SCORE_MODES[score_mode]
        return (F.lit(0.0) if fn is None else fn("score")).alias("score")

    def _cache_put(self, cache: dict, cap: int, key, value) -> None:
        if len(cache) >= cap:  # drop the oldest half (insertion order)
            for k in list(cache)[: cap // 2]:
                del cache[k]
        cache[key] = value

    # ---------- leaf expansion ----------

    def _expand(self, field: str, leaf: ast.Node) -> list[tuple[str, int]]:
        """Resolve a multi-term leaf (Wildcard / Regexp / Fuzzy /
        Range) to [(term, df)] against the term dictionary."""
        if isinstance(leaf, ast.Wildcard):
            ck = (field, "w", leaf.pattern)
        elif isinstance(leaf, ast.Regexp):
            ck = (field, "x", leaf.pattern)
        elif isinstance(leaf, ast.Fuzzy):
            ck = (field, "f", leaf.term, leaf.max_edits)
        elif isinstance(leaf, ast.Range):
            ck = (field, "r", leaf.lo, leaf.hi, leaf.lo_inc, leaf.hi_inc)
        else:
            raise TypeError(leaf)
        if ck in self._expand_cache:
            return self._expand_cache[ck]
        td = self.reader.term_dict.filter(F.col("field") == field)
        if isinstance(leaf, ast.Wildcard):
            prefix = literal_prefix(leaf.pattern)
            cond = F.lit(True)
            if prefix:
                # range predicate on the sorted dictionary — row-group
                # pruned via parquet min/max stats
                cond = F.col("term").startswith(prefix)
            if leaf.pattern != prefix + "*":  # more than a plain prefix
                rx = wildcard_to_regex(leaf.pattern)
                cond = cond & F.col("term").rlike(rx)
            rows = _dict_slice(td.filter(cond))
        elif isinstance(leaf, ast.Regexp) and uses_extended_ops(
            leaf.pattern
        ):
            # Lucene RegexpQuery extended operators (~ complement,
            # & intersection, @ anystring, # empty, "quoted") have no
            # Java-regex spelling — the pattern compiles to a DFA
            # (luceneregex.py, Lucene automaton semantics incl. <m-n>
            # intervals) and the dictionary slice is verified by a
            # vectorized Arrow kernel on the EXECUTORS: the forced
            # literal prefix prunes the parquet scan exactly like the
            # rlike path, then mapInPandas gathers the few-KB DFA
            # table through each batch in lockstep — the vocabulary
            # never collects to the driver unfiltered.
            matcher = compile_lucene_regexp(leaf.pattern)
            if matcher.matches_nothing:
                rows = []
            else:
                cand = td
                pfx = matcher.literal_prefix()
                if pfx:
                    cand = cand.filter(F.col("term").startswith(pfx))
                rows = _dict_slice(
                    cand.select("term", "df").mapInPandas(
                        _dfa_filter_kernel(matcher),
                        schema="term string, df long",
                    )
                )
        elif isinstance(leaf, ast.Regexp):
            # anchored full match over the dictionary (Lucene
            # RegexpQuery semantics); a leading literal run prunes
            # the sorted dictionary scan via startswith before the
            # rlike verifies. Lucene's <m-n> numeric-interval operator
            # (RegExp.java INTERVAL) is rewritten to a plain-regex
            # group first — the one RegexpQuery extra that composes
            # with Java-regex syntax. The parser validated with Python
            # re, which accepts some Java-invalid syntax ('a{,3}',
            # '(?P<x>..)') — compile with the JVM here so those fail
            # as a clear driver-side error, not an executor crash
            pattern = ast.expand_lucene_intervals(leaf.pattern)
            try:
                self.reader.spark._jvm.java.util.regex.Pattern.compile(
                    pattern
                )
            except Exception as e:
                raise ValueError(
                    f"regexp {leaf.pattern!r} is not valid Java regex "
                    "(Spark rlike executes java.util.regex): "
                    f"{getattr(e, 'java_exception', e)}"
                ) from e
            cond = F.col("term").rlike("^(?:" + pattern + ")$")
            pfx = regex_literal_prefix(pattern)
            if pfx:
                cond = F.col("term").startswith(pfx) & cond
            rows = _dict_slice(td.filter(cond))
        elif isinstance(leaf, ast.Range):
            # pure range predicate on the sorted dictionary — parquet
            # min/max row-group pruning applies, same as a wildcard's
            # literal-prefix slice but with both bounds pushed down
            cond = F.lit(True)
            if leaf.lo is not None:
                c = F.col("term") >= leaf.lo if leaf.lo_inc else F.col("term") > leaf.lo
                cond = cond & c
            if leaf.hi is not None:
                c = F.col("term") <= leaf.hi if leaf.hi_inc else F.col("term") < leaf.hi
                cond = cond & c
            rows = _dict_slice(td.filter(cond))
        else:  # Fuzzy
            q = leaf.term
            k = leaf.max_edits
            # coarse JVM prefilter: length window ±k and plain
            # levenshtein <= 2k (any OSA edit sequence of length k is
            # a levenshtein sequence of length <= 2k, a transposition
            # being two substitutions) — the exact transposition-aware
            # distance refines the small collected candidate set
            cand = _dict_slice(
                td.filter(
                    (F.length("term") >= len(q) - k)
                    & (F.length("term") <= len(q) + k)
                ).filter(F.levenshtein(F.col("term"), F.lit(q)) <= 2 * k),
                4 * MAX_EXPANSIONS,
            )
            rows = [
                r for r in cand if damerau_distance(r["term"], q, k) <= k
            ][:MAX_EXPANSIONS]
        out = [(r["term"], r["df"]) for r in rows]
        self._cache_put(self._expand_cache, EXPAND_CACHE_CAP, ck, out)
        return out

    # ---------- planning ----------

    def _lookup_exact_df(
        self, exact_terms: dict[str, set[str]]
    ) -> dict[tuple[str, str], int]:
        """df of a (field -> terms) want-set, read on the driver
        through the reader's dictionary dataset (no Spark job); cached
        (field, term) hits — including negative ones — skip the read."""
        exact_df: dict[tuple[str, str], int] = {}
        if not exact_terms:
            return exact_df
        missing: dict[str, set[str]] = {}
        for fld, ts in exact_terms.items():
            for t in ts:
                hit = self._dict_cache.get((fld, t), _MISS)
                if hit is _MISS:
                    missing.setdefault(fld, set()).add(t)
                elif hit is not None:
                    exact_df[(fld, t)] = hit
        if not missing:
            return exact_df
        exact_df.update(self.reader.term_dfs(missing))
        for fld, ts in missing.items():
            for t in ts:  # cache absent terms as None (negative hit)
                self._cache_put(
                    self._dict_cache,
                    DICT_CACHE_CAP,
                    (fld, t),
                    exact_df.get((fld, t)),
                )
        return exact_df

    def _walk_leaves(self, root: ast.Node):
        """Pure leaf walk of one query tree (no Spark). Returns
        (leaf_ids, wants, exact_terms): identical leaves share a leaf
        id (same semantics); each want is (leaf, leaf_id, slot, spec)
        with ``spec`` an exact term, a tuple of blended-group member
        terms, or a multi-term node that expands against the
        dictionary; ``exact_terms`` maps field -> the exact terms the
        wants need looked up."""
        leaf_ids: dict[ast.Node, int] = {}
        wants: list[tuple[ast.Node, int, int, object]] = []
        exact_terms: dict[str, set[str]] = {}

        def want(leaf, slot, spec):
            wants.append((leaf, leaf_ids[leaf], slot, spec))
            if isinstance(spec, (str, tuple)):
                terms = (spec,) if isinstance(spec, str) else spec
                exact_terms.setdefault(leaf.field, set()).update(terms)

        for leaf in ast.collect_leaves(root):
            if leaf in leaf_ids:
                continue
            leaf_ids[leaf] = len(leaf_ids)
            fld = leaf.field
            if isinstance(
                leaf, (ast.Phrase, ast.SpanFirst, ast.SpanNot)
            ) and fld in getattr(
                self.params, "positionless", ()
            ):
                raise ValueError(
                    f"field {fld!r} is indexed without positions; "
                    "positional queries are not supported on it"
                )
            # exactness is a PARSER decision carried explicitly: a
            # Term may contain literal '*'/'?' chars (backslash
            # escaping, foo\*bar) and must stay an exact lookup —
            # re-detecting wildcards from the string here would
            # expand what the parser declared literal
            if isinstance(leaf, ast.Phrase):
                for slot_idx, slot in enumerate(leaf.slots):
                    if isinstance(slot, tuple):
                        # SpanOr clause inside a SpanNear: one exact
                        # want per member, all sharing the slot index
                        # — the kernel merges them like wildcard
                        # expansions of the same slot
                        for member in slot:
                            want(leaf, slot_idx, member)
                    elif "*" in slot or "?" in slot:
                        want(leaf, slot_idx, ast.Wildcard(slot, fld))
                    else:
                        want(leaf, slot_idx, slot)
            elif isinstance(leaf, ast.Term):
                want(leaf, SLOT_TERM, leaf.term)
            elif isinstance(leaf, ast.Synonyms):
                # one want for the whole group: blending needs every
                # member's df at once
                if not leaf.terms:
                    raise ValueError("Synonyms needs at least one term")
                want(leaf, SLOT_SYNONYM, tuple(leaf.terms))
            elif isinstance(leaf, ast.SpanOr):
                # one want for the whole group: the blended idf needs
                # every member's df at once (Σ idf, unlike Synonyms'
                # max-df); tf still merges in-kernel via the same
                # summed-tf path as Synonyms
                if not leaf.terms:
                    raise ValueError("SpanOr needs at least one term")
                want(leaf, SLOT_SPAN_OR, tuple(leaf.terms))
            elif isinstance(leaf, ast.SpanFirst):
                # member rows (one per present member; a plain-string
                # term is the one-member degenerate): the kernel
                # unions member positions per doc, counts only
                # positions < end and saturates ONCE; every row
                # carries the group's blended idf = Σ member FULL-df
                # idfs (the SpanOr statistics convention)
                if leaf.end < 1:
                    raise ValueError("SpanFirst end must be >= 1")
                members = ast.span_member_terms(leaf.term)
                if not members:
                    raise ValueError("SpanFirst needs at least one term")
                want(leaf, SLOT_SPAN_FIRST, members)
            elif isinstance(leaf, ast.SpanNot):
                # include / exclude member rows; the kernel unions
                # each side's member positions per doc and counts
                # include positions with no exclude position in
                # [p-pre, p+post]. Include rows carry the blended
                # Σ include-idf; exclude rows' idf is zeroed so the
                # WAND block bound (Σ idf*block_max) stays tight.
                if leaf.pre < 0 or leaf.post < 0:
                    raise ValueError("SpanNot pre/post must be >= 0")
                inc = ast.span_member_terms(leaf.include)
                exc = ast.span_member_terms(leaf.exclude)
                if not inc or not exc:
                    raise ValueError(
                        "SpanNot include/exclude need at least one term"
                    )
                want(leaf, SLOT_SPAN_NOT_INC, inc)
                want(leaf, SLOT_SPAN_NOT_EXC, exc)
            else:
                want(leaf, SLOT_TERM, leaf)
        return leaf_ids, wants, exact_terms

    def _mapping_rows(
        self, wants: list, exact_df: dict[tuple[str, str], int]
    ) -> list[dict]:
        """Turn a walk's wants into (field, term, leaf_id, slot, idf,
        df) mapping rows: exact terms take their df from ``exact_df``,
        multi-term nodes expand against the dictionary (cached)."""
        rows: list[dict] = []
        for leaf, lid, slot, spec in wants:
            fld = leaf.field
            # leaf boost (term^2 / "a b"^2) is baked into the row idf:
            # every scoring path — disjunctive kernel, tree kernel,
            # phrase slots, and the WAND block upper bound
            # (idf * block_max) — multiplies this column, so the boost
            # scales scores AND keeps the pruning bound sound.
            boost = float(getattr(leaf, "boost", 1.0))
            n_docs, _ = self.reader.field_stats(fld)
            if isinstance(spec, tuple):
                # blended-group rows (one posting row per present
                # member, all carrying the same blended idf; tf merges
                # in-kernel): Synonyms = SynonymQuery, docFreq = MAX
                # over present members -> one idf; SpanOr and
                # SpanFirst / SpanNot-include members, idf = SUM of
                # the present members' idfs (BM25Similarity over
                # multiple TermStatistics sums idfExplain terms);
                # SpanNot-exclude members, idf 0 (gate only, WAND
                # bound stays tight)
                present = [
                    (t, exact_df[(fld, t)])
                    for t in spec
                    if (fld, t) in exact_df
                ]
                if not present:
                    continue
                if slot == SLOT_SYNONYM:
                    idf = idf_bm25(n_docs, max(d for _, d in present)) * boost
                elif slot == SLOT_SPAN_NOT_EXC:
                    idf = 0.0
                else:
                    idf = sum(idf_bm25(n_docs, d) for _, d in present) * boost
                slot = SLOT_SYNONYM if slot == SLOT_SPAN_OR else slot
                term_idfs = [(t, d, idf) for t, d in present]
            else:
                if isinstance(spec, str):
                    df = exact_df.get((fld, spec))
                    found = [] if df is None else [(spec, df)]
                else:
                    found = self._expand(fld, spec)
                term_idfs = [
                    (t, df, idf_bm25(n_docs, df) * boost) for t, df in found
                ]
            for term, df, idf in term_idfs:
                rows.append(
                    {
                        "field": fld,
                        "term": term,
                        "leaf_id": lid,
                        "slot": slot,
                        "idf": idf,
                        "df": df,
                    }
                )
        return rows

    def _plan(
        self, roots: dict[str, ast.Node]
    ) -> dict[str, tuple[dict[ast.Node, int], list[dict]]]:
        """The plan step of every scored surface: walk each root's
        leaves, resolve the union of their exact terms in ONE
        dictionary lookup (cached), then build each root's mapping
        rows. Returns {name: (leaf_ids, rows)} for the roots with at
        least one row."""
        walks = {name: self._walk_leaves(root) for name, root in roots.items()}
        exact_terms: dict[str, set[str]] = {}
        for _, _, ex in walks.values():
            for fld, ts in ex.items():
                exact_terms.setdefault(fld, set()).update(ts)
        exact_df = self._lookup_exact_df(exact_terms)
        out = {}
        for name, (leaf_ids, wants, _) in walks.items():
            rows = self._mapping_rows(wants, exact_df)
            if rows:
                out[name] = (leaf_ids, rows)
        return out

    # ---------- execution ----------

    def _candidate_postings(self, rows: list[dict]) -> DataFrame:
        """Mapping rows -> candidate postings: the (field, term) isin
        predicate reaches the postings scan (field directory pruning,
        term row-group pruning). The rows themselves join in the
        block stream (``_score_blocks``), not in Spark."""
        cond = None
        for f in sorted({r["field"] for r in rows}):
            ts = sorted({r["term"] for r in rows if r["field"] == f})
            c = (F.col("field") == f) & F.col("term").isin(ts)
            cond = c if cond is None else (cond | c)
        return self.reader.postings.filter(cond)

    def _kernel(self, root: ast.Node, leaf_ids: dict, rows: list[dict]):
        """Block kernel of one query. Pure disjunctions (keyword,
        wildcard, fuzzy, OR-of-those — the hot path) take the fully
        vectorized kernel: every posting row in the batch decodes in
        ONE pass and scores aggregate with unique+bincount. Identical
        leaves share a leaf_id, but a clause written twice scores
        twice (Lucene duplicate-clause semantics), so each leaf is
        weighted by its occurrence count in the tree. Boolean/phrase
        trees evaluate per block run in the tree kernel."""
        fields = sorted({r["field"] for r in rows})
        avgdl = {f: self.reader.field_stats(f)[1] for f in fields}
        k1, b, bsz = self.params.k1, self.params.b, self.params.block_size
        codec = self.params.codec
        if _is_pure_disjunction(root):
            mult = Counter(leaf_ids[leaf] for leaf in ast.collect_leaves(root))
            return _make_disjunctive_batch_kernel(
                avgdl, k1, b, bsz, mult, codec
            )
        return _make_tree_batch_kernel(
            root, leaf_ids, avgdl, k1, b, bsz, codec
        )

    def _candidates(self, root: ast.Node):
        """Candidate postings of one query, its mapping rows and its
        block stream (a slice of the candidates -> its live (doc_id,
        score) rows), or (None, None, None) when no leaf resolves to a
        dictionary term."""
        planned = self._plan({"": root}).get("")
        if planned is None:
            return None, None, None
        leaf_ids, rows = planned
        kernel = self._kernel(root, leaf_ids, rows)
        need_pos = _needs_positions(leaf_ids)
        dead = self.reader.dead_doc_ids
        return (
            self._candidate_postings(rows),
            rows,
            lambda cands: _score_blocks(cands, rows, kernel, need_pos, dead),
        )

    def score(self, query: ast.Node | str, case_sensitive: bool = False) -> DataFrame:
        """Evaluate to a (doc_id, score) DataFrame of matching live
        docs."""
        candidates, _, stream = self._candidates(_as_root(query, case_sensitive))
        if candidates is None:
            return _no_rows(self.reader.spark, SCORE_SCHEMA)
        return stream(candidates)

    def explain(
        self, query: ast.Node | str, case_sensitive: bool = False
    ) -> DataFrame:
        """Lucene-style score breakdown (the role of
        Explanation.java / IndexSearcher.explain): one row per
        (matching doc, leaf) with that leaf's contribution, plus the
        assembled query total — the "why did this doc score X"
        debugging surface. Columns: (doc_id, leaf, contribution,
        total). For sum-combined trees (term / AND / OR / Bool /
        boosts) the contributions of a doc's rows sum exactly to its
        total; DisMax and ConstantScore totals follow their own
        documented rules, Bool FILTER-clause leaves show their raw
        leaf score while contributing nothing to the total (Lucene
        prints them as non-scoring matches), and the rows remain the
        raw leaf scores. Leaves a doc does not match contribute no
        row (Lucene prints them as noMatch explanations).

        One batched job: every distinct leaf evaluates as its own
        query through score_many — shared dictionary lookup, ONE
        posting scan for total + all leaves — then two joins pivot
        the batch into the breakdown."""
        root = _as_root(query, case_sensitive)
        leaves: list = []
        for leaf in ast.collect_leaves(root):
            if leaf not in leaves:
                leaves.append(leaf)
        batch: dict = {"__total__": root}
        labels = []
        for i, leaf in enumerate(leaves):
            batch[f"__leaf_{i}__"] = leaf
            labels.append((f"__leaf_{i}__", _leaf_label(leaf)))
        scored = self.score_many(batch, case_sensitive)
        spark = self.reader.spark
        lab = spark.createDataFrame(
            pd.DataFrame(labels, columns=["query", "leaf"])
        )
        totals = scored.filter(F.col("query") == "__total__").select(
            "doc_id", F.col("score").alias("total")
        )
        parts = scored.filter(F.col("query") != "__total__").join(
            F.broadcast(lab), "query"
        )
        return parts.join(totals, "doc_id").select(
            "doc_id",
            "leaf",
            F.col("score").alias("contribution"),
            "total",
        )

    def score_many(
        self,
        queries: dict[str, ast.Node | str],
        case_sensitive: bool = False,
    ) -> DataFrame:
        """Batch evaluation: (query, doc_id, score) for EVERY query in
        ONE posting scan + shuffle + kernel pass.

        Per-query execution pays the fixed Spark job cost (scan +
        shuffle + Python stage launch) once per query; a search tier
        serving many concurrent queries over a 1000-executor index
        should amortize it. The plan step resolves every query's
        exact terms in one dictionary lookup, the per-query mapping
        rows are tagged with the query name, the posting filter is
        the union of every query's terms, and the block kernel
        dispatches each query's slice of the decoded batch to that
        query's own kernel — semantics identical to score()."""
        roots = {
            q: _as_root(query, case_sensitive) for q, query in queries.items()
        }
        planned = self._plan(roots)
        if not planned:
            return _no_rows(self.reader.spark, MULTI_SCORE_SCHEMA)
        kernels = {
            q: self._kernel(roots[q], leaf_ids, rows)
            for q, (leaf_ids, rows) in planned.items()
        }
        rows = [{**r, "qid": q} for q, (_, qrows) in planned.items() for r in qrows]
        candidates = self._candidate_postings(rows)

        def combined(body: pd.DataFrame) -> pd.DataFrame:
            outs = []
            for qid, sub in body.groupby("qid", sort=False):
                out = kernels[qid](sub)
                if len(out):
                    out.insert(0, "query", qid)
                    outs.append(out)
            if not outs:
                return pd.DataFrame(
                    {
                        "query": pd.Series(dtype=object),
                        "doc_id": pd.Series(dtype="int64"),
                        "score": pd.Series(dtype="float64"),
                    }
                )
            return pd.concat(outs, ignore_index=True)

        need_pos = any(_needs_positions(ids) for ids, _ in planned.values())
        return _score_blocks(
            candidates,
            rows,
            combined,
            need_pos,
            self.reader.dead_doc_ids,
            MULTI_SCORE_SCHEMA,
        )

    def search_many(
        self,
        queries: dict[str, ast.Node | str],
        k: int = 100,
        case_sensitive: bool = False,
    ) -> DataFrame:
        """Batch top-k: (query, doc_id, score) with per-query rank
        (score desc, doc_id asc) <= k — one job for the whole batch.

        Top-k is two-phase: a per-PARTITION partial top-k per query
        (narrow pass, no shuffle) bounds the input of the final
        per-query window to n_partitions * k rows — a bare
        Window.partitionBy(query) would funnel every match of a
        stop-word-grade query into one reducer."""
        scored = self.score_many(queries, case_sensitive)
        pruned = scored.mapInPandas(
            _partial_topn_fn("query", "doc_id", k), schema=MULTI_SCORE_SCHEMA
        )
        w = Window.partitionBy("query").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            pruned.withColumn("_rnk", F.row_number().over(w))
            .filter(F.col("_rnk") <= k)
            .drop("_rnk")
        )

    def search_wand(
        self,
        query: ast.Node | str,
        k: int = 100,
        case_sensitive: bool = False,
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """Block-max WAND top-k: prune posting blocks by score upper
        bound BEFORE decoding (the Lucene impacts/BlockMaxWAND analog,
        distributed).

        ``after`` pages like search_after under the same pruning:
        the anchor predicate filters each scored stream, so θ is the
        k-th best ELIGIBLE doc — deeper pages raise no extra decode
        cost (θ only drops as far as the page's true cutoff, and
        UB < θ still can never evict an eligible doc).

        Correctness: for any doc d in block B,
        score(d) <= UB(B) = Σ_leaf-rows idf * block_max_tfnorm, because
        every evaluation mode (term/AND/OR/phrase) sums at most every
        leaf contribution and phrase adjacency only removes docs (a
        clause written n times contributes n times, so its rows count
        n times in the sum). So
        dropping blocks with UB(B) < θ (θ = k-th score of a seed set)
        can never evict a true top-k doc. Synonym groups stay sound
        too: BM25's tf-saturation is concave with TF(0)=0, hence
        subadditive, so idf·TF(Σtf) <= Σ idf·TF(tf_t) <= the summed
        per-row bound (synonym rows carry the blended idf).

        Phases (3 small jobs instead of decoding every block):
          1. block metadata agg (no decode) -> per-block UB;
          2. seed: decode only the top-ceil(4k/block) blocks by UB,
             exact-score them, θ = k-th best;
          3. decode blocks with UB >= θ, exact top-k.
        """
        root = _as_root(query, case_sensitive)
        candidates, rows, stream = self._candidates(root)
        spark = self.reader.spark
        if candidates is None:
            return _no_rows(spark, SCORE_SCHEMA)

        def top(cands: DataFrame) -> list:
            """Exact top-k live rows of a candidate slice (after the
            page anchor, when paging): θ is set by live docs only."""
            scored = stream(cands)
            if after is not None:
                scored = _page_after(scored, after)
            top_k = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            return top_k.collect()

        if _contains_constant_score(root):
            # a ConstantScore boost is not bounded by the BM25 block
            # maxima, so block pruning is unsound — score exactly
            return spark.createDataFrame(top(candidates), schema=SCORE_SCHEMA)
        # Cache ONLY the per-block metadata aggregate (one small row
        # per block) — never the candidate posting rows themselves: a
        # stop-word-grade term's postings are enormous at scale, while
        # re-scanning them for phases 2-3 is cheap (parquet row-group
        # pruning on term pushes the filter to the scan).
        bsz = self.params.block_size
        # _ub_scale (stacked incremental readers) corrects block-max
        # bounds encoded under a segment avgdl smaller than the merged
        # one; plain readers have no such column (factor 1)
        scale = (
            F.col("_ub_scale")
            if "_ub_scale" in candidates.columns
            else F.lit(1.0)
        )
        # a posting row stands for each of its mapping rows, so its
        # bound is its block max times the Σ idf of those rows
        leaf_ids = self._walk_leaves(root)[0]
        occurrences = Counter(leaf_ids[leaf] for leaf in ast.collect_leaves(root))
        meta = candidates.groupBy("block_id").agg(
            F.sum(
                _idf_sum_col(rows, occurrences)
                * F.col("block_max_tfnorm")
                * scale
            ).alias("ub")
        ).cache()
        try:
            n_seed = max(1, -(-4 * k // bsz))
            seed_ids = [
                r["block_id"]
                for r in meta.orderBy(F.desc("ub")).limit(n_seed).collect()
            ]
            seed_scored = top(
                candidates.filter(F.col("block_id").isin(seed_ids))
            )
            if len(seed_scored) < k:
                # not enough docs to establish θ — fall back to exact
                best = top(candidates)
            else:
                theta = seed_scored[-1]["score"]
                keep = meta.filter(F.col("ub") >= theta).select("block_id")
                best = top(
                    candidates.join(F.broadcast(keep), "block_id", "left_semi")
                )
            # materialized (<= k rows) so the cache can be released
            return spark.createDataFrame(best, schema=SCORE_SCHEMA)
        finally:
            meta.unpersist(blocking=False)

    def _filtered(self, scored: DataFrame, filters: Filters | None) -> DataFrame:
        """Scored rows whose doc passes ``filters``: one semi-join with
        the filtered docs. The scored docIDs are live (the block kernel
        dropped the dead ones), so the docs need no tombstone join."""
        if filters is not None and not filters.empty:
            allowed = filters.apply(self.reader.all_docs).select("doc_id")
            return scored.join(allowed, "doc_id", "left_semi")
        return scored

    def _filtered_scores(
        self,
        query: ast.Node | str,
        filters: Filters | None,
        case_sensitive: bool,
    ) -> DataFrame:
        return self._filtered(self.score(query, case_sensitive), filters)

    @functools.cached_property
    def _doc_meta(self) -> DataFrame:
        """The docs-metadata projection a with-docs top-k joins (its
        docIDs are live, so all docs serve)."""
        return self.reader.all_docs.select(
            "doc_id", "repo", "path", "commit", "lang", "file_name", "file_ext"
        )

    def _collect_top(self, scored: DataFrame, k: int, with_docs: bool):
        top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        if with_docs:
            # the join on unique doc_id keeps the <= k top rows, so
            # ordering again with the same limit ends the plan in a
            # TakeOrderedAndProject instead of a range-partitioned sort
            top = (
                top.join(self._doc_meta, "doc_id")
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
            )
        return top

    def search(
        self,
        query: ast.Node | str,
        k: int = 100,
        filters: Filters | None = None,
        case_sensitive: bool = False,
        with_docs: bool = False,
    ) -> DataFrame:
        """Top-k BM25 search. Returns (doc_id, score [, doc metadata])
        ordered by (score desc, doc_id asc)."""
        scored = self._filtered_scores(query, filters, case_sensitive)
        return self._collect_top(scored, k, with_docs)

    def search_after(
        self,
        query: ast.Node | str,
        after: tuple[float, int],
        k: int = 100,
        filters: Filters | None = None,
        case_sensitive: bool = False,
        with_docs: bool = False,
    ) -> DataFrame:
        """Deep paging — the IndexSearcher.searchAfter(ScoreDoc)
        surface: the next ``k`` results STRICTLY after the
        ``(score, doc_id)`` anchor in (score desc, doc_id asc) order.
        The anchor is the last row of the previous page, passed back
        verbatim (scores are deterministic doubles, so the equality
        arm of the predicate is exact — same contract as Lucene,
        which compares the ScoreDoc's float score bitwise).

        Page N costs ONE scoring job, identical in shape to page 1:
        the anchor is two scalar literals folded into a JVM predicate
        on the scored stream, so nothing about earlier pages is
        re-collected, shipped, or skipped row-by-row — the collection
        cutoff moves, the scan does not grow with page depth. With a
        filter whose matches are sparse this beats the
        collect-k*N-and-slice idiom by exactly the pages you skip.
        """
        scored = self._filtered_scores(query, filters, case_sensitive)
        return self._collect_top(_page_after(scored, after), k, with_docs)

    def count(
        self,
        query: ast.Node | str,
        filters: Filters | None = None,
        case_sensitive: bool = False,
    ) -> int:
        """Total hit count without top-k collection — the
        IndexSearcher.count() surface (Lucene's
        TotalHitCountCollector; the reference reports
        TopDocs.TotalHits through CodeIndexSearcher, which this also
        serves without materializing any top list).

        Short circuits, mirroring Lucene's public count() behavior:
        - a lone TermQuery with no dead docs and no filters answers
          straight from the term dictionary's df — zero posting
          decode, one cached dictionary point lookup (Lucene reads
          TermStates.docFreq when liveDocs is null);
        - everything else counts the match stream: one posting decode
          pass, an AQE-sized count aggregate, no sort and no driver
          materialization of matches.
        """
        root = _as_root(query, case_sensitive)
        if isinstance(root, ast.Term) and self.reader.dead_doc_ids is None and (
            filters is None or filters.empty
        ):
            # boost never changes the match set, so any boost value
            # still short-circuits; df in a plain reader counts each
            # doc once (segments are doc-disjoint after merge)
            key = (root.field, root.term)
            return self._lookup_exact_df({key[0]: {key[1]}}).get(key, 0)
        candidates, _, stream = self._candidates(root)
        if candidates is None:
            return 0
        return self._filtered(stream(candidates), filters).count()

    def search_collapse(
        self,
        query: ast.Node | str,
        group_field: str,
        k: int = 100,
        per_group: int = 1,
        filters: Filters | None = None,
        case_sensitive: bool = False,
        tie_field: str = "path",
    ) -> DataFrame:
        """Collapsed top-k — Lucene's field-collapse / grouping
        surface (grouping module TopGroups; one-per-group is
        CollapsingTopDocsCollector): at most ``per_group`` hits per
        value of ``group_field`` (a stored doc column: repo / lang /
        file_ext), globally ordered by (score desc, ``tie_field``
        asc) and capped at ``k``. The tie-break is a stored field
        (default ``path``, unique per doc) so the ordering is
        deterministic and reproducible across index rebuilds, whose
        internal docIDs may differ.

        Scale shape: the match stream joins the 3-column stored-field
        projection, then reduces in TWO phases so a low-cardinality
        group (lang has dozens of values at web scale) never funnels
        the whole match set through one task: (1) per-partition
        partial top-n — an Arrow pass holding at most
        groups-in-partition x per_group rows, the map-side combine of
        top-n; (2) a row_number window over the surviving slice,
        bounded by #partitions x groups x per_group rows. The final
        global order is TakeOrderedAndProject.
        """
        scored = self._filtered_scores(query, filters, case_sensitive)
        cols = ["doc_id", group_field]
        if tie_field not in cols:
            cols.append(tie_field)
        joined = scored.join(self.reader.docs.select(*cols), "doc_id")
        gf, tf, pg = group_field, tie_field, int(per_group)
        part = joined.mapInPandas(_partial_topn_fn(gf, tf, pg), joined.schema)
        w = Window.partitionBy(gf).orderBy(F.desc("score"), F.asc(tf))
        best = (
            part.withColumn("_grp_rank", F.row_number().over(w))
            .filter(F.col("_grp_rank") <= pg)
            .drop("_grp_rank")
        )
        return best.orderBy(F.desc("score"), F.asc(tf)).limit(k)

    def search_groups(
        self,
        query: ast.Node | str,
        group_field: str,
        n_groups: int = 10,
        per_group: int = 3,
        filters: Filters | None = None,
        case_sensitive: bool = False,
        tie_field: str = "path",
    ) -> DataFrame:
        """Two-pass grouped search — the Lucene grouping module's
        TopGroups shape (FirstPassGroupingCollector selects the top
        ``n_groups`` groups, SecondPassGroupingCollector collects the
        top ``per_group`` docs inside each). Unlike
        :meth:`search_collapse` (a flat, globally-ordered hit list),
        the result is group-structured: one row per kept (group, doc)
        with the group's rank, its TOTAL hit count
        (TopGroups.totalGroupedHitCount per group), and its best
        score. Groups are ordered (best score desc, group value asc)
        — Lucene's default groupSort=Sort.RELEVANCE with a
        deterministic tie — and docs inside a group by (score desc,
        ``tie_field`` asc). Result columns, in order: the match
        columns (doc_id, score), ``group_field``, ``tie_field``,
        group_hits, group_score, group_rank, doc_rank. Docs whose
        ``group_field`` is NULL are excluded (a null group would
        otherwise claim a slot; coalesce upstream to group them
        explicitly).

        Scale shape: two passes, like Lucene's two collectors — the
        match stream is evaluated once per pass. Pass 1 is a
        map-side-combinable groupBy (count/max partials — one row per
        (task, group) before the shuffle) capped by a bounded
        top-``n_groups`` heap and collected to the driver (a
        <= n_groups-row metadata slice, the same convention as the
        dictionary-expansion collects); ranks are assigned there, so
        no single-partition window exists anywhere in the plan. Pass
        2 broadcast-joins that literal group list back into the match
        stream and reduces per-partition first (the same Arrow
        partial top-n as search_collapse, holding at most
        groups-in-partition x per_group rows) so a hot group never
        funnels its full match set through one window task.
        """
        scored = self._filtered_scores(query, filters, case_sensitive)
        gf, tf, pg = group_field, tie_field, int(per_group)
        cols = ["doc_id", gf]
        if tf not in cols:
            cols.append(tf)
        joined = scored.join(
            self.reader.docs.select(*cols), "doc_id"
        ).filter(F.col(gf).isNotNull())

        # pass 1: group heads — algebraic aggregates + bounded heap,
        # materialized eagerly as a <= n_groups-row driver slice
        heads = (
            joined.groupBy(gf)
            .agg(
                F.count("*").cast("long").alias("group_hits"),
                F.max("score").alias("group_score"),
            )
            .orderBy(F.desc("group_score"), F.asc(gf))
            .limit(int(n_groups))
        )
        head_rows = heads.collect()
        spark = joined.sparkSession
        top_schema = T.StructType(
            heads.schema.fields
            + [T.StructField("group_rank", T.IntegerType(), False)]
        )
        top = spark.createDataFrame(
            [
                (r[gf], r["group_hits"], r["group_score"], i + 1)
                for i, r in enumerate(head_rows)
            ],
            top_schema,
        )

        # pass 2: top docs within the selected groups only
        sel = joined.join(F.broadcast(top), gf)
        part = sel.mapInPandas(_partial_topn_fn(gf, tf, pg), sel.schema)
        w = Window.partitionBy(gf).orderBy(F.desc("score"), F.asc(tf))
        docs = part.withColumn("doc_rank", F.row_number().over(w)).filter(
            F.col("doc_rank") <= pg
        )
        return docs.orderBy("group_rank", "doc_rank")

    def search_sorted(
        self,
        query: ast.Node | str,
        sort: list[tuple[str, str]],
        k: int = 100,
        filters: Filters | None = None,
        case_sensitive: bool = False,
        with_score: bool = True,
    ) -> DataFrame:
        """Field-sorted top-k — the Lucene Sort / SortField surface
        (IndexSearcher.search(query, n, sort); TopFieldCollector):
        the query defines the MATCH SET, the ordering comes from
        stored doc columns instead of relevance. ``sort`` is a list
        of (field, "asc"|"desc") pairs; "score" is accepted as a
        field name for mixed relevance+field sorts. A trailing
        doc-unique tie-break (doc_id asc) is always appended, like
        Lucene's implicit docID tie.

        Scale shape: matches semi-join the stored projection, then
        orderBy(...).limit(k) lowers to TakeOrderedAndProject — a
        per-partition bounded heap plus a driver merge of k-row
        slices; no global sort materializes.
        """
        scored = self._filtered_scores(query, filters, case_sensitive)
        fields = [f for f, _ in sort if f != "score"]
        meta = self.reader.docs.select("doc_id", *dict.fromkeys(fields))
        joined = scored.join(meta, "doc_id")
        order = [
            F.asc(f) if d.lower() == "asc" else F.desc(f) for f, d in sort
        ]
        out = joined.orderBy(*order, F.asc("doc_id")).limit(k)
        return out if with_score else out.drop("score")

    def join_to_parent(
        self,
        query: ast.Node | str,
        parent_field: str,
        score_mode: str = "max",
        k: int = 100,
        filters: Filters | None = None,
        case_sensitive: bool = False,
    ) -> DataFrame:
        """Child-hits-to-parent score aggregation — the semantics of
        Lucene's ToParentBlockJoinQuery ScoreMode (join module,
        ToParentBlockJoinQuery.java: Max / Total / Avg / Min / None):
        the query matches CHILD docs (files), results are PARENTS
        (values of a stored field: repo, directory, lang) scored by
        aggregating their matching children. Returns (parent_field,
        score, n_children) ordered (score desc, parent asc), cap k.
        Lucene requires parent/child in one index block; with a
        columnar docs table the parent key is just a stored field,
        so the join is a groupBy — no block layout needed.

        Scale shape: every ScoreMode is an algebraic aggregate
        (max/sum/min/count; avg = sum/count partials), so the groupBy
        is map-side combinable — partials shrink to one row per
        (task, parent) before the shuffle; the final order is
        TakeOrderedAndProject.
        """
        score_col = self._score_agg(score_mode)
        scored = self._filtered_scores(query, filters, case_sensitive)
        joined = scored.join(
            self.reader.docs.select("doc_id", parent_field), "doc_id"
        )
        out = joined.groupBy(parent_field).agg(
            score_col, F.count("*").alias("n_children")
        )
        return out.orderBy(
            F.desc("score"), F.asc(parent_field)
        ).limit(k)

    def join_from_query(
        self,
        from_query: ast.Node | str,
        from_field: str,
        to_field: str | None = None,
        score_mode: str = "max",
        k: int = 100,
        filters: Filters | None = None,
        case_sensitive: bool = False,
        tie_field: str = "path",
    ) -> DataFrame:
        """Query-time join — Lucene's join module JoinUtil.
        createJoinQuery(fromField, toField, fromQuery, ScoreMode):
        run ``from_query``, collect the distinct ``from_field``
        values of its matching docs with a per-value aggregated score
        (Max / Total / Avg / Min; None scores every joined doc 0),
        then return the docs whose ``to_field`` (defaults to
        ``from_field``) carries one of those values — each scored
        with its value's aggregate. The code-search reading: "every
        file in a repo that contains a file matching X". Unlike
        :meth:`join_to_parent` (which RETURNS the parent values),
        this returns DOCS on the to-side, including ones that do not
        match ``from_query`` themselves. Output: doc_id, to_field,
        tie_field, score, ordered (score desc, ``tie_field`` asc),
        cap k.

        Scale shape: the from-side aggregate is algebraic
        (map-side-combinable partials, one row per (task, value)
        before its shuffle) and its result has join-key cardinality —
        repo/lang/ext scale, not match scale — so it BROADCASTS to
        the to-side docs scan; no doc-level shuffle exists anywhere
        and the final order is TakeOrderedAndProject. Null
        from-values are dropped (a null key can never equi-join).
        ``filters`` restricts BOTH sides: the from-query match set
        AND the returned to-side docs (Filters(lang="py") means "py
        files in repos containing a py match").
        """
        self._score_agg(score_mode)  # validate mode before any work
        to_field = from_field if to_field is None else to_field
        scored = self._filtered_scores(
            from_query, filters, case_sensitive
        )
        vals = (
            scored.join(
                self.reader.docs.select("doc_id", from_field), "doc_id"
            )
            .filter(F.col(from_field).isNotNull())
            .groupBy(F.col(from_field).alias("_join_val"))
            .agg(self._score_agg(score_mode))
        )
        cols = ["doc_id", to_field]
        if tie_field not in cols:
            cols.append(tie_field)
        docs = self.reader.docs
        if filters is not None and not filters.empty:
            docs = filters.apply(docs)  # filter BEFORE the column prune
        to_docs = docs.select(*cols)
        out = to_docs.join(
            F.broadcast(vals),
            F.col(to_field) == F.col("_join_val"),
        ).drop("_join_val")
        return out.orderBy(F.desc("score"), F.asc(tie_field)).limit(k)

    def top_terms(self, field: str = "content", n: int = 100) -> DataFrame:
        """Highest-document-frequency dictionary slice — Lucene's
        HighFreqTerms utility (misc module; Luke's "top terms" tab):
        (term, df, cf) for the ``n`` most frequent terms of a field,
        ordered by (df desc, term asc). Answers straight from the
        term dictionary parquet — field directory pruned, no posting
        decode; at corpus scale this is a top-k over the dictionary,
        not the postings.
        """
        return (
            self.reader.term_dict.filter(F.col("field") == field)
            .select("term", "df", "cf")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(int(n))
        )

    def index_stats(self, fields: list[str] | None = None) -> DataFrame:
        """Per-field index statistics — the Lucene CollectionStatistics
        / Terms surface (Terms.getDocCount, getSumDocFreq,
        getSumTotalTermFreq; Luke's overview tab): (field, n_docs,
        avgdl, n_terms, sum_df, sum_cf) ordered by field. n_docs and
        avgdl come from the stats sidecar written at build time; the
        dictionary aggregates are ONE map-side-combinable groupBy over
        the term-dict parquet (field directory pruned when ``fields``
        narrows it) — postings are never touched.
        """
        td = self.reader.term_dict
        if fields:
            td = td.filter(F.col("field").isin(list(fields)))
        agg = td.groupBy("field").agg(
            F.count("*").alias("n_terms"),
            F.sum("df").alias("sum_df"),
            F.sum("cf").alias("sum_cf"),
        )
        stats = self.reader.stats
        sdf = self.reader.spark.createDataFrame(
            stats[["field", "n_docs", "avgdl"]]
        )
        return sdf.join(agg, "field").orderBy("field")

    # AND only the rarest trigrams of a needle (Zoekt / Cox codesearch
    # practice): every additional gram shrinks the candidate set less
    # but costs a full posting-list scan; hot grams ("ing", "er ")
    # cost the most and prune the least. 8 is Zoekt's default ballpark.
    MAX_PRUNE_GRAMS = 8

    @staticmethod
    def _segment_grams(s: str) -> set[str]:
        """Trigrams of the \\n-split segments of a lowercased needle.
        The tokenizer never emits a trigram spanning a newline, so a
        \\n-bearing gram is ALWAYS absent from the dictionary and its
        absence proves nothing; segment grams remain required."""
        return {
            seg[i : i + 3]
            for seg in s.split("\n")
            for i in range(len(seg) - 2)
        }

    def _rarest_gram_node(
        self, field: str, grams: set, dfs: dict
    ) -> "ast.Node | None":
        """AND node over the MAX_PRUNE_GRAMS rarest grams (df asc,
        term-asc tie-break for determinism), or None when some gram is
        absent from the dictionary — proof no doc contains the needle."""
        if any((field, g) not in dfs for g in grams):
            return None
        rare = sorted(grams, key=lambda g: (dfs[(field, g)], g))[
            : self.MAX_PRUNE_GRAMS
        ]
        if len(rare) == 1:
            return ast.Term(rare[0], field)
        return ast.And(tuple(ast.Term(g, field) for g in rare))

    def _trigram_candidates(self, field: str, s: str):
        """Candidate doc_ids whose `field` contains every trigram of
        lowercased needle `s`.

        Returns a (doc_id) DataFrame, or None when the dictionary
        PROVES no doc can contain s (some trigram absent — resolved by
        one cached dictionary lookup, no posting scan at all), or the
        string 'scan' when s is too short to form a trigram.

        Only the MAX_PRUNE_GRAMS rarest grams (by df, term-asc
        tie-break for determinism) are intersected; the verify step
        keeps results exact regardless.

        Grams come from _segment_grams (\\n-split segments), keeping
        the absence proof sound for cross-line needles."""
        grams = self._segment_grams(s)
        if not grams:
            return "scan"
        dfs = self._lookup_exact_df({field: grams})
        node = self._rarest_gram_node(field, grams, dfs)
        if node is None:
            return None
        return self.score(node).select("doc_id")

    # bounded-collect candidate pushdown: up to this many candidate
    # doc_ids are collected to the driver and re-applied to the docs
    # scan, so verification reads candidate neighborhoods, not the
    # corpus. A lazy semi-join would be "distributed" but forces a
    # full docs scan with the verify predicate evaluated on every row
    # — O(corpus) IO at 10^12 files. 8k longs is a trivial driver
    # list; larger candidate sets (un-selective needles) fall back to
    # the semi-join, which is then genuinely the right plan.
    CANDIDATE_PUSHDOWN_CAP = 8192
    # ...but only the first ISIN_PUSHDOWN_CAP ids become a literal
    # doc_id IN (...) predicate: Catalyst's cost of analyzing /
    # optimizing an In over thousands of literals is LINEAR in the
    # list (measured ~0.7 ms/literal — 2 s of pure driver time at
    # 2,700 ids, 10x the scan itself). Beyond the cap the ids ship as
    # a broadcast-hash semi-join (local relation, no literal tree)
    # plus a between(min,max) range predicate on the scan, which is
    # what parquet row-group pruning reduces a big In to anyway
    # (spark.sql.parquet.pushdown.inFilterThreshold).
    ISIN_PUSHDOWN_CAP = 128

    def _filter_by_ids(self, docs: DataFrame, ids: list) -> DataFrame:
        if not ids:
            return docs.filter(F.lit(False))
        if len(ids) <= self.ISIN_PUSHDOWN_CAP:
            return docs.filter(F.col("doc_id").isin(ids))
        idf = self.reader.spark.createDataFrame(
            [(int(i),) for i in ids], "doc_id long"
        )
        pruned = docs.filter(F.col("doc_id").between(min(ids), max(ids)))
        return pruned.join(F.broadcast(idf), "doc_id", "left_semi")

    def _apply_candidates(self, docs: DataFrame, cand: DataFrame) -> DataFrame:
        ids = [
            r["doc_id"]
            for r in cand.limit(self.CANDIDATE_PUSHDOWN_CAP + 1).collect()
        ]
        if len(ids) <= self.CANDIDATE_PUSHDOWN_CAP:
            return self._filter_by_ids(docs, ids)
        return docs.join(cand, "doc_id", "left_semi")

    def _substring_search(
        self, field: str, verify_col, substr: str,
        filters: "Filters | None" = None, with_counts: bool = False,
        case_sensitive: bool = False,
    ) -> DataFrame:
        # trigram prefilter is ALWAYS on the lowered needle (the index
        # lowercases); for case-sensitive verify that stays sound —
        # lit ⊆ content ⇒ lower(lit) ⊆ lower(content)
        s = substr.lower()
        docs = self.reader.docs
        cand = self._trigram_candidates(field, s)
        if cand is None:
            docs = docs.filter(F.lit(False))
        elif not isinstance(cand, str):
            docs = self._apply_candidates(docs, cand)
        if filters is not None and not filters.empty:
            # metadata predicates stack ON the candidate-pruned scan:
            # plain Catalyst filters, evaluated before the contains()
            docs = filters.apply(docs)
        t = verify_col if case_sensitive else F.lower(verify_col)
        needle = substr if case_sensitive else s
        out = docs.filter(t.contains(needle))
        if not with_counts:
            return out
        # occurrence count via literal replace (portable to any
        # engine, no regex escaping concerns):
        # (len(t) - len(replace(t, s, ''))) / len(s)
        n = (
            (
                F.length(t)
                - F.length(F.replace(t, F.lit(needle), F.lit("")))
            )
            / F.lit(len(needle))
        ).cast("long")
        return out.withColumn("n_matches", n).orderBy(
            F.desc("n_matches"), F.asc("doc_id")
        )

    def search_path_substring(
        self, substr: str, filters: "Filters | None" = None
    ) -> DataFrame:
        """Substring path search via the path n-gram field (north_star
        'path n-grams'): AND the substring's rarest char trigrams
        against path_trigram postings — the intersection prunes to a
        small candidate set read from term-pruned parquet — then
        verify candidates exactly with contains() on the stored path.
        A plain contains() would scan every doc row at 10^12 files;
        this touches only the rarest trigram postings plus the
        candidate doc rows. Substrings shorter than 3 chars fall back
        to the doc scan (no trigram can represent them); a substring
        with any trigram absent from the dictionary short-circuits to
        empty without any scan."""
        return self._substring_search(
            "path_trigram", F.col("path"), substr, filters
        )

    def search_content_substring(
        self, substr: str, filters: "Filters | None" = None,
        with_counts: bool = False, case_sensitive: bool = False,
    ) -> DataFrame:
        """Substring CONTENT search via the opt-in content_trigram
        field — the public code-search scale design (Cox's codesearch
        trigram index / Zoekt): intersect the needle's rarest trigram
        postings to a candidate doc set, then verify only candidates
        with contains() on stored content. Case-insensitive (the
        trigram field lowercases; verification lowercases to match).
        Exact substring semantics at a bounded cost: rarest-gram
        posting scans + candidate doc rows, never a corpus scan —
        unless the needle is shorter than one trigram."""
        if "content_trigram" not in tuple(self.params.fields):
            raise ValueError(
                "index was built without the content_trigram field "
                "(opt in via IndexParams(fields=CONTENT_TRIGRAM_FIELDS))"
            )
        return self._substring_search(
            "content_trigram", F.col("content"), substr, filters,
            with_counts, case_sensitive,
        )

    def search_content_substring_many(
        self,
        needles: "dict[str, str] | list[str]",
        filters: "Filters | None" = None,
    ) -> DataFrame:
        """Batch substring search: (needle, doc_id, repo, path) for
        every doc containing each needle — the pattern-list corpus
        sweep of a training pipeline (secret scans, license strings,
        contamination probes).

        Cost is amortized across the batch: ONE dictionary lookup for
        the union of all needles' trigrams (cached), ONE posting scan
        + block kernel job for every needle's rarest-gram AND (via
        score_many), ONE candidate-pushdown verify scan for the union
        of candidate ids. Needles with an unindexed trigram are
        dropped as provably absent without any scan; needles shorter
        than one trigram fall back to a scan verify."""
        if "content_trigram" not in tuple(self.params.fields):
            raise ValueError(
                "index was built without the content_trigram field "
                "(opt in via IndexParams(fields=CONTENT_TRIGRAM_FIELDS))"
            )
        if not isinstance(needles, dict):
            needles = {n: n for n in needles}
        per: dict[str, tuple[str, set]] = {}
        all_grams: set[str] = set()
        for name, s0 in needles.items():
            s = s0.lower()
            grams = self._segment_grams(s)
            per[name] = (s, grams)
            all_grams |= grams
        dfs = self._lookup_exact_df({"content_trigram": all_grams})
        qmap: dict[str, ast.Node] = {}
        scanning: dict[str, str] = {}
        for name, (s, grams) in per.items():
            if not grams:
                scanning[name] = s
                continue
            node = self._rarest_gram_node("content_trigram", grams, dfs)
            if node is not None:  # None: provably absent, drop needle
                qmap[name] = node
        docs = self.reader.docs
        if filters is not None and not filters.empty:
            docs = filters.apply(docs)
        verify = lambda c: F.lower(F.col("content")).contains(c)
        return self._batched_prefiltered_verify(
            qmap,
            scanning,
            {name: s for name, (s, _) in per.items()},
            docs,
            "needle",
            verify,
            verify,
        )

    def _batched_prefiltered_verify(
        self,
        qmap: "dict[str, ast.Node]",
        scanning: "dict[str, str]",
        payload: "dict[str, str]",
        docs: DataFrame,
        name_col: str,
        row_verify,
        scan_verify,
    ) -> DataFrame:
        """Shared tail of the batched substring/regex sweeps:
        candidate (query, doc_id) pairs from ONE score_many job,
        bounded driver collect + candidate pushdown (or lazy
        semi-join above the cap), per-row payload verify, plus scan
        branches for unprefilterable queries, unioned.

        ``row_verify(payload_col)`` / ``scan_verify(payload_str)``
        build the verify predicate for candidate rows / scan
        branches; ``payload[name]`` is the per-query verify operand
        (lowered needle, flagged regex)."""
        parts: list[DataFrame] = []
        if qmap:
            # collect (query, doc_id) pairs ONCE (bounded) so the
            # score_many posting-scan+kernel job runs exactly once —
            # a lazy reuse would re-execute it when the returned plan
            # evaluates. Within the cap the pairs become a local
            # relation (broadcast join) + pushdown on docs; above it,
            # fall back to the lazy semi-join shape (recompute is
            # then the lesser cost).
            cand = self.score_many(qmap).select("query", "doc_id")
            cap = self.CANDIDATE_PUSHDOWN_CAP
            pairs = cand.limit(cap + 1).collect()
            if len(pairs) <= cap:
                if not pairs:
                    cand = None
                else:
                    cand = self.reader.spark.createDataFrame(
                        [(r["query"], r["doc_id"]) for r in pairs],
                        "query string, doc_id long",
                    )
                    docs_pruned = self._filter_by_ids(
                        docs, sorted({r["doc_id"] for r in pairs})
                    )
            else:
                docs_pruned = docs.join(
                    cand.select("doc_id").distinct(), "doc_id", "left_semi"
                )
            if cand is not None:
                payload_map = F.create_map(
                    *[
                        x
                        for name in sorted(qmap)
                        for x in (F.lit(name), F.lit(payload[name]))
                    ]
                )
                parts.append(
                    cand.join(docs_pruned, "doc_id")
                    .withColumn("_p", payload_map[F.col("query")])
                    .filter(row_verify(F.col("_p")))
                    .select(
                        F.col("query").alias(name_col),
                        "doc_id",
                        "repo",
                        "path",
                    )
                )
        for name, s in scanning.items():
            parts.append(
                docs.filter(scan_verify(s)).select(
                    F.lit(name).alias(name_col), "doc_id", "repo", "path"
                )
            )
        if not parts:
            return docs.filter(F.lit(False)).select(
                F.lit("").alias(name_col), "doc_id", "repo", "path"
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(name_col, "doc_id", "repo", "path")

    def search_content_regex_many(
        self,
        patterns: "dict[str, str] | list[str]",
        case_sensitive: bool = True,
        filters: "Filters | None" = None,
        scan_fallback: bool = True,
    ) -> DataFrame:
        """Batch regex sweep: (pattern, doc_id, repo, path) for every
        doc matching each pattern — the secret-/license-/PII-pattern
        corpus scan of a training pipeline, amortized like
        search_content_substring_many: ONE dictionary lookup for the
        union of every pattern's required-literal trigrams, ONE
        posting scan + kernel job (score_many) for all prefilterable
        patterns, ONE pruned verify scan for the union of candidate
        ids. A pattern with an unindexed required trigram is provably
        absent and dropped without any scan; patterns with no
        required literal >= 3 chars fall back to a scan branch
        (scan_fallback=False raises instead, naming them).

        Verification evaluates each candidate row against ITS OWN
        pattern via a per-row regex column — patterns vary per row,
        so per-row compilation is inherent to the batched shape;
        candidate sets are trigram-pruned small."""
        if not isinstance(patterns, dict):
            patterns = {p: p for p in patterns}
        have_field = "content_trigram" in tuple(self.params.fields)
        flag = "" if case_sensitive else "(?i)"
        per: dict[str, tuple[str, set]] = {}
        all_grams: set[str] = set()
        for name, pat in patterns.items():
            lits = [
                seg.lower()
                for lit in required_literals(pat)
                for seg in lit.split("\n")
                if len(seg) >= 3
            ]
            grams = (
                {g for s in lits for g in self._segment_grams(s)}
                if have_field
                else set()
            )
            per[name] = (flag + pat, grams)
            all_grams |= grams
        unfilterable = [n for n, (_, g) in per.items() if not g]
        if unfilterable and not scan_fallback:
            # same contract as search_content_regex: scan_fallback
            # gates BOTH the no-literal case and the missing-field
            # case; with it on, unprefilterable patterns degrade to
            # scan branches instead of raising
            raise ValueError(
                "cannot prefilter ("
                + (
                    "no required literal >= 3 chars"
                    if have_field
                    else "index was built without the content_trigram "
                    "field"
                )
                + f"), refusing full scan: {sorted(unfilterable)}"
            )
        dfs = (
            self._lookup_exact_df({"content_trigram": all_grams})
            if all_grams
            else {}
        )
        qmap: dict[str, ast.Node] = {}
        scanning: dict[str, str] = {}
        for name, (rx, grams) in per.items():
            if not grams:
                scanning[name] = rx
                continue
            node = self._rarest_gram_node("content_trigram", grams, dfs)
            if node is not None:  # None: provably absent, drop pattern
                qmap[name] = node
        docs = self.reader.docs
        if filters is not None and not filters.empty:
            docs = filters.apply(docs)
        return self._batched_prefiltered_verify(
            qmap,
            scanning,
            {name: rx for name, (rx, _) in per.items()},
            docs,
            "pattern",
            lambda c: F.regexp_like(F.col("content"), c),
            lambda rx: F.col("content").rlike(rx),
        )

    def search_content_regex(
        self, pattern: str, case_sensitive: bool = True,
        scan_fallback: bool = True, filters: "Filters | None" = None,
        line_anchors: bool = False,
    ) -> DataFrame:
        """Regex content search with trigram prefilter (public design:
        swtch.com/~rsc/regexp/regexp4.html). Required literal runs are
        extracted from the pattern; their trigrams prune candidates
        exactly like substring search (lowercased grams are sound for
        cased literals: lit ⊆ content ⇒ lower(lit) ⊆ lower(content)).
        Candidates are verified with rlike(pattern) — Java regex,
        partial match. When the pattern can't be prefiltered (no
        required literal ≥ 3 chars, OR the index lacks the
        content_trigram field), scan_fallback=True degrades to a full
        doc scan and False raises."""
        # split literals on \n for the same reason _segment_grams
        # does: no indexed trigram ever spans a newline
        lits = [
            seg.lower()
            for lit in required_literals(pattern)
            for seg in lit.split("\n")
            if len(seg) >= 3
        ]
        docs = self.reader.docs
        if filters is not None and not filters.empty:
            docs = filters.apply(docs)
        # line_anchors: verify under (?m) so ^/$ match at line
        # boundaries — required by grep-style per-line display, where
        # the doc filter must be a SUPERSET of any-line-matches (a
        # start-of-content-only '^' would drop docs whose match sits
        # on a later line)
        rx = (
            ("(?m)" if line_anchors else "")
            + ("" if case_sensitive else "(?i)")
            + pattern
        )
        have_field = "content_trigram" in tuple(self.params.fields)
        if not lits or not have_field:
            if not scan_fallback:
                raise ValueError(
                    "cannot prefilter: "
                    + (
                        "pattern has no required literal >= 3 chars"
                        if have_field
                        else "index was built without the "
                        "content_trigram field (opt in via "
                        "IndexParams(fields=CONTENT_TRIGRAM_FIELDS))"
                    )
                    + "; refusing full scan (scan_fallback=False)"
                )
            return docs.filter(F.col("content").rlike(rx))
        grams = {g for s in lits for g in self._segment_grams(s)}
        dfs = self._lookup_exact_df({"content_trigram": grams})
        node = self._rarest_gram_node("content_trigram", grams, dfs)
        if node is None:
            # some required trigram absent => no doc can match
            return docs.filter(F.lit(False))
        cand = self.score(node).select("doc_id")
        return self._apply_candidates(docs, cand).filter(
            F.col("content").rlike(rx)
        )

    # ---------- point ops (Q7/Q8/K2) ----------

    def lookup_pk(self, doc_key: str) -> DataFrame:
        """CodePK short-circuit (QueryGenerator.cs:56-59)."""
        return self.reader.docs.filter(F.col("doc_key") == doc_key)

    def facet_counts(
        self,
        query: ast.Node | str,
        by: tuple[str, ...] = ("repo", "lang"),
        filters: "Filters | None" = None,
        case_sensitive: bool = False,
        top_values: int | None = None,
    ) -> DataFrame:
        """Facet counts over the matching doc set — the code-search
        sidebar (GitHub / Zoekt-style result breakdown): one (facet,
        value, n_docs) row per facet value per requested metadata
        column.

        Scale shape: the query evaluates ONCE; the docs scan is
        column-pruned to (doc_id, *by) and semi-joined with the
        matches; `unpivot` stacks the facet columns so ONE map-side
        combinable groupBy produces every facet — not one scan+shuffle
        per facet column."""
        matched = self.score(query, case_sensitive).select("doc_id")
        docs = self.reader.docs
        if filters is not None and not filters.empty:
            docs = filters.apply(docs)
        j = (
            docs.select("doc_id", *[F.col(c).cast("string").alias(c) for c in by])
            .join(matched, "doc_id", "left_semi")
            .unpivot("doc_id", list(by), "facet", "value")
        )
        counts = j.groupBy("facet", "value").agg(
            F.count("*").alias("n_docs")
        )
        if top_values is not None:
            # high-cardinality facet columns (e.g. file_ext over a web
            # crawl) return only the top-N values per facet, the
            # Lucene faceting contract — rank over the already-small
            # aggregate, not the match set
            w = Window.partitionBy("facet").orderBy(
                F.desc("n_docs"), F.asc("value")
            )
            counts = (
                counts.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= top_values)
                .drop("_rk")
            )
        return counts.orderBy("facet", "value")

    def facet_path_counts(
        self,
        query: ast.Node | str,
        under: str = "",
        field: str = "path",
        sep: str = "/",
        top_values: int | None = None,
        filters: "Filters | None" = None,
        case_sensitive: bool = False,
    ) -> DataFrame:
        """Hierarchical facet counts with drill-down — the Lucene
        facets module's taxonomy facets (FacetsConfig hierarchical
        dims; DrillDownQuery narrows to a path prefix and counts the
        next level): for the docs matching ``query`` whose ``field``
        starts with the ``under`` prefix (component-wise, not
        substring), count matches per IMMEDIATE CHILD component.
        ``under=""`` counts the top level (repos / top directories);
        ``under="src3"`` counts the children of src3/. Docs with no
        component below the prefix (files sitting AT the prefix
        level) are not counted, matching the taxonomy contract that
        a child label must exist. Returns (child, n_docs) ordered
        (n_docs desc, child asc), capped at ``top_values`` like
        Facets.getTopChildren(n, dim, path...).

        Scale shape: the query evaluates once; the docs scan is
        column-pruned to (doc_id, field) and semi-joined with the
        matches; split / element-equality / element_at are all JVM
        expressions inside whole-stage codegen, the prefix filter
        prunes BEFORE the shuffle, and the per-child count is a
        map-side combinable groupBy whose key space is the child
        fan-out, not the match set. The top-children cap is a
        bounded heap (TakeOrderedAndProject) over that small
        aggregate."""
        matched = self.score(query, case_sensitive).select("doc_id")
        docs = self.reader.docs
        if filters is not None and not filters.empty:
            docs = filters.apply(docs)
        prefix = [p for p in under.split(sep) if p != ""] if under else []
        d = len(prefix)
        # \Q...\E: Java-regex-quote the separator so sep="." or "+"
        # splits literally
        parts = F.split(F.col(field), "\\Q" + sep + "\\E")
        j = (
            docs.select("doc_id", parts.alias("_parts"))
            .join(matched, "doc_id", "left_semi")
            .filter(F.size("_parts") > d)
        )
        for i, comp in enumerate(prefix):
            j = j.filter(F.element_at("_parts", i + 1) == comp)
        out = (
            j.select(F.element_at("_parts", d + 1).alias("child"))
            .groupBy("child")
            .agg(F.count("*").cast("long").alias("n_docs"))
            .orderBy(F.desc("n_docs"), F.asc("child"))
        )
        return out.limit(int(top_values)) if top_values is not None else out

    # character-bigram candidate index for suggest(): q=2 because the
    # lossless pruning bound |S_t \ S_u| <= q*d needs q small to bite
    # on real identifier lengths (q=3, d=2 destroys up to 6 grams —
    # useless under len 9; q=2 prunes from len 6)
    SUGGEST_GRAM = 2

    def build_suggest_index(self, path: str | None = None) -> None:
        """Materialize the SpellChecker-style character-bigram sidecar
        (gram, term, df) per field — Lucene's suggest module looks
        spelling candidates up in an n-gram index instead of sweeping
        the dictionary (lucene/suggest SpellChecker.java, public
        design). Written once next to the index (or at ``path``),
        range-partitioned and sorted by (field, gram) so each
        suggest() probe prunes to the row groups holding its few
        query grams. Idempotent: an existing sidecar is reused."""
        spark = self.reader.spark
        if path is None:
            paths = getattr(self.reader, "paths", None)
            if paths is None:
                raise ValueError(
                    "reader has no index dir; pass an explicit path"
                )
            path = os.path.join(paths.root, "suggest_ngrams")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            q = self.SUGGEST_GRAM
            grams = self.reader.term_dict.select(
                "field",
                "term",
                "df",
                F.explode(
                    F.array_distinct(
                        F.expr(
                            f"transform(sequence(1, greatest(length(term)"
                            f" - {q - 1}, 1)), i -> substring(term, i, {q}))"
                        )
                    )
                ).alias("gram"),
            )
            par = max(spark.sparkContext.defaultParallelism, 4)
            (
                grams.repartitionByRange(par, "field", "gram")
                .sortWithinPartitions("field", "gram")
                .write.mode("overwrite")
                .partitionBy("field")
                .parquet(path)
            )
        self._suggest_idx = spark.read.parquet(path)

    def suggest(
        self,
        term: str,
        k: int = 5,
        field: str = "content",
        max_edits: int = 2,
    ) -> DataFrame:
        """Did-you-mean — Lucene suggest-module SpellChecker analog
        (plain Levenshtein, its default StringDistance; the engine's
        FUZZY QUERY matching stays Damerau like Lucene FuzzyQuery):
        dictionary terms within ``max_edits`` edits of ``term``,
        ranked (distance asc, df desc, term asc).

        Scale shape: with the bigram sidecar built
        (``build_suggest_index``), candidates come from the grams of
        ``term`` alone — a term within d edits must share at least
        |S_t| - 2d of t's distinct bigrams (each edit destroys at
        most q=2 gram positions, and shifts never change a gram's
        content), so the semi-join on ≥-threshold shared grams is
        LOSSLESS and the scan touches only the probe grams' row
        groups, never the vocabulary. Falls back to the
        length-windowed dictionary slice when the sidecar is absent
        or the bound can't prune (very short terms) — distance + rank
        stay JVM expressions either way; results are identical."""
        t = term if field == "content_cs" else term.lower()
        qg = self.SUGGEST_GRAM
        tg = sorted(
            {t[i : i + qg] for i in range(max(len(t) - qg + 1, 1))}
        ) if t else []
        thresh = len(tg) - qg * max_edits
        idx = getattr(self, "_suggest_idx", None)
        if idx is not None and thresh >= 1:
            cand = (
                idx.filter(
                    (F.col("field") == field) & F.col("gram").isin(tg)
                )
                .groupBy("term")
                .agg(F.first("df").alias("df"), F.count("*").alias("_sh"))
                .filter(F.col("_sh") >= thresh)
            )
        else:
            cand = self.reader.term_dict.filter(F.col("field") == field)
        return (
            cand.filter(
                (F.length("term") >= len(t) - max_edits)
                & (F.length("term") <= len(t) + max_edits)
            )
            .filter(F.levenshtein(F.col("term"), F.lit(t)) <= max_edits)
            .select(
                "term",
                "df",
                F.levenshtein(F.col("term"), F.lit(t))
                .cast("long")
                .alias("distance"),
            )
            .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
            .limit(k)
        )

    def more_like_this(
        self,
        doc_key: str,
        k: int = 10,
        field: str = "content",
        max_query_terms: int = 25,
        min_term_freq: int = 2,
        min_doc_freq: int = 5,
        max_num_tokens_parsed: int = 5000,
        filters: "Filters | None" = None,
    ) -> DataFrame:
        """Find documents similar to a stored one — Lucene
        MoreLikeThis semantics (lucene/queries MoreLikeThis.java,
        public API; defaults mirror maxQueryTerms=25 / minTermFreq=2 /
        minDocFreq=5): re-analyze the source doc's stored content,
        rank its terms by tf·idf, OR-query the top ``max_query_terms``
        with BM25, drop the source doc. Returns (doc_id, score)
        ordered (score desc, doc_id asc).

        Scale shape: the source doc is ONE stored row (pk-pruned
        collect); term stats come from one bounded dictionary slice
        (isin under 128 terms, broadcast semi-join + between range
        above); the query itself is the engine's normal bounded
        OR-of-terms plan — no corpus scan anywhere before the posting
        kernel."""
        from codeindex_spark.tokenizer import tokenize, tokenize_lower

        src = (
            self.reader.docs.filter(F.col("doc_key") == doc_key)
            .select("doc_id", "content")
            .collect()
        )
        if not src:
            return _no_rows(self.reader.spark, SCORE_SCHEMA)
        src_id = src[0]["doc_id"]
        toks = (
            tokenize(src[0]["content"] or "")
            if field == "content_cs"
            else tokenize_lower(src[0]["content"] or "")
        )
        return self._mlt_from_tokens(
            toks,
            src_id,
            k,
            field,
            max_query_terms,
            min_term_freq,
            min_doc_freq,
            max_num_tokens_parsed,
            filters,
        )

    def more_like_text(
        self,
        text: str,
        k: int = 10,
        field: str = "content",
        max_query_terms: int = 25,
        min_term_freq: int = 2,
        min_doc_freq: int = 5,
        max_num_tokens_parsed: int = 5000,
        filters: "Filters | None" = None,
    ) -> DataFrame:
        """Find documents similar to ARBITRARY text — the
        MoreLikeThis.like(Reader) overload (lucene/queries
        MoreLikeThis.java: like() accepts Readers, not just stored
        docIDs): analyze the given text, rank its terms by tf·idf
        against the index's dictionary stats, OR-query the top
        ``max_query_terms``. No source doc exists, so nothing is
        excluded from the results. Same bounded-driver scale shape as
        more_like_this: the text's term table is clipped at
        ``max_num_tokens_parsed``, the dictionary slice is
        isin/range-pruned, and the query runs block-max WAND when no
        filters apply."""
        from codeindex_spark.tokenizer import tokenize, tokenize_lower

        toks = (
            tokenize(text or "")
            if field == "content_cs"
            else tokenize_lower(text or "")
        )
        return self._mlt_from_tokens(
            toks,
            None,
            k,
            field,
            max_query_terms,
            min_term_freq,
            min_doc_freq,
            max_num_tokens_parsed,
            filters,
        )

    def _mlt_from_tokens(
        self,
        toks: list,
        exclude_id: int | None,
        k: int,
        field: str,
        max_query_terms: int,
        min_term_freq: int,
        min_doc_freq: int,
        max_num_tokens_parsed: int,
        filters: "Filters | None",
    ) -> DataFrame:
        # Lucene MLT maxNumTokensParsed: bound the driver-side term
        # table by the doc PREFIX, so a pathological multi-MB source
        # doc can't explode the tf map or the dictionary slice
        toks = toks[:max_num_tokens_parsed]
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        terms = sorted(t for t, n in tf.items() if n >= min_term_freq)
        if not terms:
            return _no_rows(self.reader.spark, SCORE_SCHEMA)
        td = self.reader.term_dict.filter(F.col("field") == field)
        if len(terms) <= self.ISIN_PUSHDOWN_CAP:
            td = td.filter(F.col("term").isin(terms))
        else:
            tdf = self.reader.spark.createDataFrame(
                [(t,) for t in terms], "term string"
            )
            td = td.filter(
                F.col("term").between(terms[0], terms[-1])
            ).join(F.broadcast(tdf), "term", "left_semi")
        n_docs, _ = self.reader.field_stats(field)
        ranked = []  # (tf*idf, term) over terms past the df floor
        for r in td.select("term", "df").collect():
            df = int(r["df"])
            if df < min_doc_freq:
                continue
            ranked.append((tf[r["term"]] * idf_bm25(n_docs, df), r["term"]))
        ranked.sort(key=lambda p: (-p[0], p[1]))
        chosen = [t for _, t in ranked[:max_query_terms]]
        if not chosen:
            return _no_rows(self.reader.spark, SCORE_SCHEMA)
        node: ast.Node = (
            ast.Term(chosen[0], field)
            if len(chosen) == 1
            else ast.Or(tuple(ast.Term(t, field) for t in chosen))
        )
        # a 25-term OR is exactly the block-max WAND case: prune
        # posting blocks by upper bound before decoding. Dead docs
        # drop in the kernel, so WAND's θ counts live docs only; fall
        # back to the plain path when metadata filters apply (they
        # drop rows AFTER scoring, which would starve a pre-limited
        # WAND result).
        extra = 1 if exclude_id is not None else 0
        if filters is None:
            top = self.search_wand(node, k=k + extra)
        else:
            top = self.search(node, k=k + extra, filters=filters)
        if exclude_id is not None:
            top = top.filter(F.col("doc_id") != exclude_id)
        return top.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def hints(self, prefix: str, case_sensitive: bool = False, limit: int = 20) -> DataFrame:
        """Autocomplete: term-or-prefix on the hint words, limit 20
        (CodeIndexSearcher.GetHints, CodeIndexSearcher.cs:105-131)."""
        h = self.reader.hints
        col = "word" if case_sensitive else "word_lower"
        needle = prefix if case_sensitive else prefix.lower()
        return (
            h.filter(F.col(col).startswith(needle))
            .select("word")
            .distinct()
            .orderBy("word")
            .limit(limit)
        )




def _leaf_label(leaf) -> str:
    """Stable human-readable leaf identity for explain() rows."""
    f = leaf.field
    if isinstance(leaf, ast.Term):
        return f"{f}:{leaf.term}"
    if isinstance(leaf, ast.Wildcard):
        return f"{f}:{leaf.pattern} (wildcard)"
    if isinstance(leaf, ast.Regexp):
        return f"{f}:/{leaf.pattern}/ (regexp)"
    if isinstance(leaf, ast.Fuzzy):
        return f"{f}:{leaf.term}~{leaf.max_edits} (fuzzy)"
    if isinstance(leaf, ast.Range):
        return f"{f}:[{leaf.lo}..{leaf.hi}] (range)"
    if isinstance(leaf, ast.Phrase):
        shown = " ".join(
            "(" + "|".join(s) + ")" if isinstance(s, tuple) else s
            for s in leaf.slots
        )
        return f'{f}:"{shown}"~{leaf.slop} (phrase)'
    if isinstance(leaf, ast.Synonyms):
        return f"{f}:syn({'|'.join(leaf.terms)})"
    if isinstance(leaf, ast.SpanOr):
        return f"{f}:spanOr({'|'.join(leaf.terms)})"
    if isinstance(leaf, ast.SpanFirst):
        t = "|".join(ast.span_member_terms(leaf.term))
        return f"{f}:spanFirst({t},{leaf.end})"
    if isinstance(leaf, ast.SpanNot):
        i = "|".join(ast.span_member_terms(leaf.include))
        e = "|".join(ast.span_member_terms(leaf.exclude))
        return f"{f}:spanNot({i}!{e})"
    return repr(leaf)  # pragma: no cover — every leaf type is above


def _contains_constant_score(node) -> bool:
    """True when the tree holds a ConstantScore wrapper anywhere: its
    boost is not bounded by the BM25 block maxima, so block-max
    pruning is unsound for it."""
    if isinstance(node, ast.ConstantScore):
        return True
    if isinstance(node, (ast.And, ast.Or, ast.DisMax)):
        return any(_contains_constant_score(c) for c in node.children)
    if isinstance(node, ast.Not):
        return _contains_constant_score(node.positive) or _contains_constant_score(
            node.negative
        )
    if isinstance(node, ast.Bool):
        return any(
            _contains_constant_score(c)
            for c in node.must + node.should + node.must_not + node.filter
        )
    return False


def _is_pure_disjunction(node) -> bool:
    """True when the tree is only Or / Term / Wildcard / Fuzzy — the
    semantics reduce to 'sum every matched leaf contribution per doc',
    which vectorizes across ALL posting rows with no per-block logic."""
    if isinstance(
        node, (ast.Term, ast.Wildcard, ast.Regexp, ast.Fuzzy, ast.Range)
    ):
        return True
    if isinstance(node, ast.Or):
        return all(_is_pure_disjunction(c) for c in node.children)
    return False


def _decode_body(
    body: pd.DataFrame, avgdl, k1, b, block_size, need_pos, codec="varint"
):
    """Batch-predecode every posting row of an Arrow body in a handful
    of vectorized passes. Returns per-ENTRY arrays plus per-row entry
    offsets; positions are decoded only when a phrase needs them."""
    counts = body["n"].to_numpy(dtype=np.int64)
    block_ids = body["block_id"].to_numpy(dtype=np.int64)
    docs = encoding.decode_rows_docs(
        [bytes(x) for x in body["docs_delta"]],
        counts,
        block_ids,
        block_size,
        codec,
    )
    tfs = encoding.decode_rows_values(
        [bytes(x) for x in body["tfs"]], counts, codec
    ).astype(np.float64)
    dls = encoding.decode_rows_values(
        [bytes(x) for x in body["dls"]], counts, codec
    ).astype(np.float64)
    avgdl_e = np.repeat(body["field"].map(avgdl).to_numpy(dtype=np.float64), counts)
    idf_e = np.repeat(body["idf"].to_numpy(dtype=np.float64), counts)
    # norms split out (same float op order as the fused expression):
    # synonym leaves re-saturate on the SUMMED tf, so they need the
    # raw tf and norm, not the per-term contrib
    norms = k1 * (1.0 - b + b * dls / avgdl_e)
    contrib = idf_e * (tfs * (k1 + 1.0) / (tfs + norms))
    entry_ends = np.cumsum(counts)
    entry_starts = entry_ends - counts
    out = {
        "counts": counts,
        "block_ids": block_ids,
        "docs": docs,
        "contrib": contrib,
        "tfs": tfs,
        "norms": norms,
        "entry_starts": entry_starts,
        "entry_ends": entry_ends,
    }
    if need_pos:
        pcounts = encoding.decode_rows_values(
            [bytes(x) for x in body["pos_counts"]], counts, codec
        ).astype(np.int64)
        pdeltas = encoding.decode_rows_pos_deltas(
            [bytes(x) for x in body["pos_deltas"]], pcounts, counts, codec
        )
        if pdeltas.size:
            pos_cs = np.cumsum(pdeltas, dtype=np.uint64)
            p_entry_starts = np.concatenate(([0], np.cumsum(pcounts)[:-1]))
            bases = np.zeros(pcounts.size, dtype=np.uint64)
            nz = pcounts > 0
            nz_starts = p_entry_starts[nz]
            bases[nz] = np.where(nz_starts > 0, pos_cs[nz_starts - 1], np.uint64(0))
            pos_all = (pos_cs - np.repeat(bases, pcounts)).astype(np.int64)
        else:
            pos_all = np.empty(0, dtype=np.int64)
        out["pcounts"] = pcounts
        out["p_cum"] = np.concatenate(([0], np.cumsum(pcounts)))
        out["pos_all"] = pos_all
    return out


def _make_disjunctive_batch_kernel(
    avgdl, k1, b, block_size, multiplicity, codec="varint"
):
    """Vectorized scorer for pure-disjunctive queries: one varint pass
    over every buffer in the Arrow batch, one unique+bincount to merge
    per-doc contributions. No per-block Python at all. ``multiplicity``
    weights leaves that occur multiple times in the OR tree."""
    mult = dict(multiplicity)

    def kernel(body: pd.DataFrame) -> pd.DataFrame:
        dec = _decode_body(
            body, avgdl, k1, b, block_size, need_pos=False, codec=codec
        )
        mult_row = body["leaf_id"].map(lambda l: float(mult.get(l, 1))).to_numpy()
        contrib = dec["contrib"] * np.repeat(mult_row, dec["counts"])
        u_docs, inv = np.unique(dec["docs"], return_inverse=True)
        scores = np.bincount(inv, weights=contrib)
        return pd.DataFrame({"doc_id": u_docs, "score": scores})

    return kernel


_EMPTY_D = np.empty(0, dtype=np.int64)
_EMPTY_S = np.empty(0, dtype=np.float64)


def _merge_span_entries(parts):
    """Union the member (docs, pcounts, flat_positions[, norms])
    entries of one span group within a block run. Docs ascend within
    each entry and positions ascend within each doc; distinct terms
    never share a position, so the union is a (doc, position)
    lexsort with no dedup pass. Returns (docs, pcounts, flat,
    norms_or_None) in the same doc-ascending / position-ascending
    layout the single-member path already produces."""
    if len(parts) == 1:
        p = parts[0]
        return p[0], p[1], p[2], (p[3] if len(p) > 3 else None)
    doc_rep = np.concatenate([np.repeat(p[0], p[1]) for p in parts])
    pos_cat = np.concatenate([p[2] for p in parts])
    order = np.lexsort((pos_cat, doc_rep))
    di, pci = np.unique(doc_rep[order], return_counts=True)
    flat = pos_cat[order]
    normi = None
    if len(parts[0]) > 3:
        # same doc -> same dl -> same norm, whichever member row
        cat_d = np.concatenate([p[0] for p in parts])
        cat_n = np.concatenate([p[3] for p in parts])
        normi = np.empty(di.size, dtype=np.float64)
        normi[np.searchsorted(di, cat_d)] = cat_n
    return di, pci, flat, normi


def _make_tree_batch_kernel(
    root, leaf_ids, avgdl, k1, b, block_size, codec="varint"
):
    """Boolean/phrase evaluation over a block-sorted Arrow body.

    All varint decoding and BM25 math happens in batch passes
    (_decode_body); the per-block loop only slices array views and
    runs numpy set ops — no bytes, no pandas, no decode inside it.
    """
    id_of = dict(leaf_ids)
    phrase_nslots = {
        lid: len(node.slots)
        for node, lid in leaf_ids.items()
        if isinstance(node, ast.Phrase)
    }
    phrase_slops = {
        lid: int(getattr(node, "slop", 0))
        for node, lid in leaf_ids.items()
        if isinstance(node, ast.Phrase)
    }
    phrase_inorder = {
        lid: bool(getattr(node, "in_order", False))
        for node, lid in leaf_ids.items()
        if isinstance(node, ast.Phrase)
    }
    # sloppy matches need a distinct-positions check only when two
    # slots could claim the same position: a repeated literal term,
    # or any wildcard slot (whose expansions may overlap another
    # slot's term) — conservative, and cheap to decide once here
    # multi-term slots (tuple = SpanOr clause) are conservative like
    # wildcard slots: their members may overlap another slot's term,
    # so sloppy matches get the distinct-positions verification
    phrase_distinct = {
        lid: (
            len(set(node.slots)) < len(node.slots)
            or any(
                not isinstance(s, str) or "*" in s or "?" in s
                for s in node.slots
            )
        )
        for node, lid in leaf_ids.items()
        if isinstance(node, ast.Phrase)
    }
    spanfirst_end = {
        lid: int(node.end)
        for node, lid in leaf_ids.items()
        if isinstance(node, ast.SpanFirst)
    }
    spannot_pp = {
        lid: (int(node.pre), int(node.post))
        for node, lid in leaf_ids.items()
        if isinstance(node, ast.SpanNot)
    }
    need_pos = _needs_positions(leaf_ids)

    def eval_node(node, leaf_data):
        if isinstance(
            node,
            (ast.Term, ast.Wildcard, ast.Regexp, ast.Fuzzy, ast.Range,
             ast.Phrase, ast.Synonyms, ast.SpanOr, ast.SpanFirst,
             ast.SpanNot),
        ):
            return leaf_data.get(id_of[node], (_EMPTY_D, _EMPTY_S))
        if isinstance(node, ast.And):
            docs, scores = eval_node(node.children[0], leaf_data)
            for child in node.children[1:]:
                d2, s2 = eval_node(child, leaf_data)
                docs, i1, i2 = np.intersect1d(
                    docs, d2, assume_unique=True, return_indices=True
                )
                scores = scores[i1] + s2[i2]
            return docs, scores
        if isinstance(node, ast.Or):
            alld, alls = [], []
            for child in node.children:
                d, s = eval_node(child, leaf_data)
                alld.append(d)
                alls.append(s)
            cat_d = np.concatenate(alld) if alld else _EMPTY_D
            cat_s = np.concatenate(alls) if alls else _EMPTY_S
            if cat_d.size == 0:
                return _EMPTY_D, _EMPTY_S
            docs, inv = np.unique(cat_d, return_inverse=True)
            return docs, np.bincount(inv, weights=cat_s)
        if isinstance(node, ast.DisMax):
            # DisjunctionMaxQuery: max child + tie * (sum - max) over
            # the union — child contributions are positive, so the
            # -inf fill never leaks into a matched doc's max
            alld, alls = [], []
            for child in node.children:
                d, s = eval_node(child, leaf_data)
                alld.append(d)
                alls.append(s)
            cat_d = np.concatenate(alld) if alld else _EMPTY_D
            cat_s = np.concatenate(alls) if alls else _EMPTY_S
            if cat_d.size == 0:
                return _EMPTY_D, _EMPTY_S
            docs, inv = np.unique(cat_d, return_inverse=True)
            total = np.bincount(inv, weights=cat_s)
            mx = np.full(docs.size, -np.inf)
            np.maximum.at(mx, inv, cat_s)
            return docs, mx + node.tie_breaker * (total - mx)
        if isinstance(node, ast.ConstantScore):
            d, _ = eval_node(node.child, leaf_data)
            return d, np.full(d.size, float(node.boost))
        if isinstance(node, ast.Not):
            dp, sp = eval_node(node.positive, leaf_data)
            dn, _ = eval_node(node.negative, leaf_data)
            keep = ~np.isin(dp, dn, assume_unique=True)
            return dp[keep], sp[keep]
        if isinstance(node, ast.Bool):
            # Lucene MUST/SHOULD/MUST_NOT: the parser only emits the
            # irreducible shapes — (a) must+should mixed: intersect
            # musts, then ADD each should's score where it matches
            # (never filtering unless min_should_match demands it);
            # (b) no positives: match nothing. min_should_match > 0
            # gates the match on >= n SHOULD hits (MinShouldMatchSum-
            # Scorer semantics); scores stay the plain matching sum.
            msm = max(0, int(getattr(node, "min_should_match", 0)))
            flt = tuple(getattr(node, "filter", ()))
            if not node.must and not node.should and not flt:
                return _EMPTY_D, _EMPTY_S
            if msm > len(node.should):
                return _EMPTY_D, _EMPTY_S  # Lucene: unsatisfiable
            if node.must or flt:
                # FILTER clauses (BooleanClause.Occur.FILTER) gate the
                # match exactly like MUST but contribute zero score —
                # intersect on docs, drop their score vector
                docs, scores = None, None
                for child in node.must:
                    d2, s2 = eval_node(child, leaf_data)
                    if docs is None:
                        docs, scores = d2, s2
                    else:
                        docs, i1, i2 = np.intersect1d(
                            docs, d2, assume_unique=True,
                            return_indices=True,
                        )
                        scores = scores[i1] + s2[i2]
                for child in flt:
                    d2, _ = eval_node(child, leaf_data)
                    if docs is None:
                        docs = d2
                        scores = np.zeros(d2.size, dtype=np.float64)
                    else:
                        docs, i1, _ = np.intersect1d(
                            docs, d2, assume_unique=True,
                            return_indices=True,
                        )
                        scores = scores[i1]
                nmatch = np.zeros(docs.size, dtype=np.int64)
                for child in node.should:
                    d2, s2 = eval_node(child, leaf_data)
                    _, i1, i2 = np.intersect1d(
                        docs, d2, assume_unique=True, return_indices=True
                    )
                    scores = scores.copy()
                    scores[i1] += s2[i2]
                    nmatch[i1] += 1
                if msm:
                    keep = nmatch >= msm
                    docs, scores = docs[keep], scores[keep]
            elif msm <= 1:
                # pure-should default is already "at least one match"
                docs, scores = eval_node(ast.Or(node.should), leaf_data)
            else:
                alld, alls = [], []
                for child in node.should:
                    d, s = eval_node(child, leaf_data)
                    alld.append(d)
                    alls.append(s)
                cat_d = np.concatenate(alld) if alld else _EMPTY_D
                cat_s = np.concatenate(alls) if alls else _EMPTY_S
                if cat_d.size == 0:
                    return _EMPTY_D, _EMPTY_S
                docs, inv = np.unique(cat_d, return_inverse=True)
                scores = np.bincount(inv, weights=cat_s)
                keep = np.bincount(inv) >= msm
                docs, scores = docs[keep], scores[keep]
            for child in node.must_not:
                dn, _ = eval_node(child, leaf_data)
                keep = ~np.isin(docs, dn, assume_unique=True)
                docs, scores = docs[keep], scores[keep]
            return docs, scores
        raise TypeError(node)

    def kernel(body: pd.DataFrame) -> pd.DataFrame:
        dec = _decode_body(body, avgdl, k1, b, block_size, need_pos, codec)
        bids = dec["block_ids"]
        leaf_r = body["leaf_id"].to_numpy(dtype=np.int64)
        slot_r = body["slot"].to_numpy(dtype=np.int64)
        idf_r = body["idf"].to_numpy(dtype=np.float64)
        es_r, ee_r = dec["entry_starts"], dec["entry_ends"]
        docs_all, contrib_all = dec["docs"], dec["contrib"]
        run_starts = np.flatnonzero(
            np.concatenate(([True], bids[1:] != bids[:-1]))
        )
        run_ends = np.concatenate((run_starts[1:], [len(body)]))
        out_d, out_s = [], []
        for rs, re_ in zip(run_starts, run_ends):
            simple: dict[int, list] = {}
            phrase: dict[int, list] = {}
            syn: dict[int, list] = {}
            sfirst: dict[int, list] = {}
            snot_inc: dict[int, list] = {}
            snot_exc: dict[int, list] = {}
            for row in range(rs, re_):
                es, ee = es_r[row], ee_r[row]
                docs = docs_all[es:ee]
                contrib = contrib_all[es:ee]
                if slot_r[row] == SLOT_SYNONYM:
                    # synonym member row: keep raw tf + norm so the
                    # group saturates ONCE on the summed tf
                    syn.setdefault(leaf_r[row], []).append(
                        (
                            docs,
                            dec["tfs"][es:ee],
                            dec["norms"][es:ee],
                            idf_r[row],
                        )
                    )
                elif slot_r[row] == SLOT_SPAN_FIRST:
                    # span-first member row: positions + norms + the
                    # group's blended idf; members union after the
                    # loop so the restricted tf saturates ONCE
                    sfirst.setdefault(leaf_r[row], []).append(
                        (
                            docs,
                            dec["pcounts"][es:ee],
                            dec["pos_all"][dec["p_cum"][es] : dec["p_cum"][ee]],
                            dec["norms"][es:ee],
                            idf_r[row],
                        )
                    )
                elif slot_r[row] == SLOT_SPAN_NOT_INC:
                    # span-not include member row: positions + norms
                    # + blended idf, unioned and resolved against the
                    # exclude union after the loop
                    snot_inc.setdefault(leaf_r[row], []).append(
                        (
                            docs,
                            dec["pcounts"][es:ee],
                            dec["pos_all"][dec["p_cum"][es] : dec["p_cum"][ee]],
                            dec["norms"][es:ee],
                            idf_r[row],
                        )
                    )
                elif slot_r[row] == SLOT_SPAN_NOT_EXC:
                    snot_exc.setdefault(leaf_r[row], []).append(
                        (
                            docs,
                            dec["pcounts"][es:ee],
                            dec["pos_all"][dec["p_cum"][es] : dec["p_cum"][ee]],
                        )
                    )
                elif slot_r[row] == SLOT_TERM:
                    simple.setdefault(leaf_r[row], []).append((docs, contrib))
                else:
                    pc = dec["pcounts"][es:ee]
                    flat = dec["pos_all"][dec["p_cum"][es] : dec["p_cum"][ee]]
                    phrase.setdefault(leaf_r[row], []).append(
                        (slot_r[row], docs, contrib, pc, flat)
                    )
            leaf_data: dict[int, tuple[np.ndarray, np.ndarray]] = {}
            for lid, parts in simple.items():
                if len(parts) == 1:
                    leaf_data[lid] = parts[0]
                else:
                    cat_d = np.concatenate([p[0] for p in parts])
                    cat_s = np.concatenate([p[1] for p in parts])
                    docs, inv = np.unique(cat_d, return_inverse=True)
                    leaf_data[lid] = (docs, np.bincount(inv, weights=cat_s))
            for lid, parts in syn.items():
                cat_d = np.concatenate([p[0] for p in parts])
                cat_tf = np.concatenate([p[1] for p in parts])
                cat_n = np.concatenate([p[2] for p in parts])
                docs, inv = np.unique(cat_d, return_inverse=True)
                tf = np.bincount(inv, weights=cat_tf)
                norm = np.zeros(docs.size)
                norm[inv] = cat_n  # same doc -> same dl -> same norm
                idf = parts[0][3]  # blended idf, identical on all rows
                leaf_data[lid] = (
                    docs, idf * (tf * (k1 + 1.0) / (tf + norm))
                )
            for lid, parts in sfirst.items():
                # SpanFirst: union the member positions (SpanOr
                # inner; one member = the plain single-term span),
                # count only positions < end, saturate once on the
                # restricted tf under the blended Σ-idf
                di, pci, flat, normi = _merge_span_entries(
                    [p[:4] for p in parts]
                )
                end = spanfirst_end[lid]
                hit = np.concatenate(
                    ([0], np.cumsum((flat < end).astype(np.int64)))
                )
                ends = np.cumsum(pci)
                tf = (hit[ends] - hit[ends - pci]).astype(np.float64)
                keep = tf > 0
                if keep.any():
                    idf = parts[0][4]
                    tfk = tf[keep]
                    leaf_data[lid] = (
                        di[keep],
                        idf * (tfk * (k1 + 1.0) / (tfk + normi[keep])),
                    )
                # no-hit groups add nothing: leaf_data.get() already
                # defaults the leaf to empty
            for lid, parts in snot_inc.items():
                # SpanNot: include position p survives iff no exclude
                # position in [p-pre, p+post]. Both sides are member
                # unions (SpanOr clauses; one member = the r4
                # single-term shape). Fully vectorized via a
                # combined (doc_rank, position) key: docs and positions
                # are ascending within a posting row, so one global
                # searchsorted pair bounds each forbidden window.
                di, pci, flati, normi = _merge_span_entries(
                    [p[:4] for p in parts]
                )
                idf = parts[0][4]
                pre, post = spannot_pp[lid]
                exc_parts = snot_exc.get(lid)
                if not exc_parts:
                    tf = pci.astype(np.float64)
                else:
                    de, pce, flate, _ = _merge_span_entries(exc_parts)
                    rank = np.searchsorted(de, di)
                    safe = np.minimum(rank, de.size - 1)
                    has_exc = (rank < de.size) & (de[safe] == di)
                    doc_idx = np.repeat(np.arange(di.size), pci)
                    base = np.int64(1) << np.int64(32)
                    key_e = (
                        np.repeat(np.arange(de.size), pce) * base + flate
                    )
                    r_pp = rank[doc_idx]
                    lo = np.searchsorted(
                        key_e, r_pp * base + np.maximum(flati - pre, 0)
                    )
                    hi = np.searchsorted(
                        key_e, r_pp * base + flati + post, side="right"
                    )
                    survive = (~has_exc[doc_idx]) | (lo == hi)
                    tf = np.bincount(
                        doc_idx,
                        weights=survive.astype(np.float64),
                        minlength=di.size,
                    )
                keep = tf > 0
                if keep.any():
                    tfk = tf[keep]
                    leaf_data[lid] = (
                        di[keep],
                        idf * (tfk * (k1 + 1.0) / (tfk + normi[keep])),
                    )
            for lid, parts in phrase.items():
                leaf_data[lid] = _eval_phrase(
                    parts,
                    phrase_nslots[lid],
                    phrase_slops[lid],
                    in_order=phrase_inorder[lid],
                    needs_distinct=phrase_distinct[lid],
                )
            d, sc = eval_node(root, leaf_data)
            if d.size:
                out_d.append(d)
                out_s.append(sc)
        if not out_d:
            return pd.DataFrame(
                {
                    "doc_id": pd.Series(dtype="int64"),
                    "score": pd.Series(dtype="float64"),
                }
            )
        return pd.DataFrame(
            {"doc_id": np.concatenate(out_d), "score": np.concatenate(out_s)}
        )

    return kernel


def _sdr(avails: list) -> bool:
    """System of distinct representatives over tiny slot→positions
    availability lists (augmenting-path bipartite matching). Used by
    the sloppy-phrase safe path when slots can share positions
    (repeated literal terms, wildcard slots whose expansions may
    overlap) — n_slots and window sizes are both small."""
    match: dict = {}

    def try_assign(s, seen):
        for p in avails[s]:
            if p in seen:
                continue
            seen.add(p)
            if p not in match or try_assign(match[p], seen):
                match[p] = s
                return True
        return False

    return all(try_assign(s, set()) for s in range(len(avails)))


def _eval_phrase(parts, n_slots, slop=0, in_order=False,
                 needs_distinct=False):
    """Positional phrase match within one block: exact-order adjacency
    when slop=0 (SpanNear distance 0, in-order —
    QueryGenerator.cs:177-192 semantics); Lucene SloppyPhraseScorer
    semantics for "a b"~N (an assignment of slots to DISTINCT
    positions with normalized span max(pos-slot) - min(pos-slot)
    <= slop, so out-of-order matches once slop covers the reorder
    cost — a swap costs 2); or, with ``in_order``, the
    SpanNear(inOrder=true) variant (nondecreasing chain, at most
    ``slop`` total skipped positions).

    parts: [(slot, docs, contrib, pcounts_per_entry, pos_flat)] —
    possibly several expansions per slot, positions pre-decoded.
    n_slots is the TRUE phrase length from the AST. Returns
    (docs, scores); score = Σ_slot (per-doc slot contribution).

    Positions are normalized to q = pos - slot, so an exact match is
    "all slots share one q" (straight k-way intersection), an
    in-order sloppy match is "a nondecreasing q-chain with span <=
    slop" (vectorized best-chain-start DP: prefix max + binary search
    per slot), and a Lucene sloppy match is "a q-window of width <=
    slop covering every slot" (vectorized: per candidate window
    start, one searchsorted per slot for its next occurrence). When
    slots can share positions (``needs_distinct``: repeated terms or
    wildcard slots) each candidate window is verified by a distinct-
    representatives matching, with early exit per doc.
    """
    slot_pairs: list = [None] * n_slots
    slot_scores: list = [None] * n_slots
    SHIFT_BITS = np.int64(32)
    SHIFT = np.int64(1) << SHIFT_BITS
    MASK = SHIFT - np.int64(1)
    unordered = slop > 0 and not in_order
    # unordered q is shifted by n-1 so early positions of late slots
    # (the out-of-order case the in-order paths prune) stay >= 0 and
    # pack cleanly into the low 32 bits
    qoff = np.int64(n_slots - 1) if unordered else np.int64(0)

    by_slot: dict[int, list] = {}
    for slot, docs, contrib, pc, flat in parts:
        by_slot.setdefault(int(slot), []).append((docs, contrib, pc, flat))
    # All parts belong to ONE posting block, so doc_ids span < block_size.
    # Pack (doc_id - base) * 2^32 + q: block-local offsets keep the
    # key far below int64 even when global doc_ids exceed 2^31 (the
    # 10^12-doc target), where packing the global doc_id would overflow.
    firsts = [
        int(docs[0])
        for chunks in by_slot.values()
        for docs, _, _, _ in chunks
        if docs.size
    ]
    if not firsts:
        return _EMPTY_D, _EMPTY_S
    base = np.int64(min(firsts))
    for s in range(n_slots):
        if s not in by_slot:
            return _EMPTY_D, _EMPTY_S
        pair_chunks, d_chunks, s_chunks = [], [], []
        for docs, contrib, pc, flat in by_slot[s]:
            doc_rep = np.repeat(docs - base, pc)
            q = flat - np.int64(s) + qoff
            if unordered:
                pair_chunks.append(doc_rep * SHIFT + q)
            else:
                keep = q >= 0  # pos < slot can never complete a chain
                pair_chunks.append(doc_rep[keep] * SHIFT + q[keep])
            d_chunks.append(docs)
            s_chunks.append(contrib)
        slot_pairs[s] = np.unique(np.concatenate(pair_chunks))
        cat_d = np.concatenate(d_chunks)
        cat_s = np.concatenate(s_chunks)
        ud, inv = np.unique(cat_d, return_inverse=True)
        slot_scores[s] = (ud, np.bincount(inv, weights=cat_s))

    if unordered:
        # candidate window starts: every occurrence key (the minimal
        # chosen q of a valid window is itself an occurrence). For
        # each, the window is valid iff every slot's NEXT occurrence
        # >= lo is within lo+slop — one searchsorted per slot; a
        # different doc in the high bits overshoots slop for free.
        all_keys = np.unique(np.concatenate(slot_pairs))
        if all_keys.size == 0:
            return _EMPTY_D, _EMPTY_S
        far = np.int64(1) << np.int64(62)
        maxreq = np.full(all_keys.size, -far)
        for s in range(n_slots):
            sk = slot_pairs[s]
            idx = np.searchsorted(sk, all_keys, side="left")
            has = idx < sk.size
            nxt = np.where(has, sk[np.minimum(idx, sk.size - 1)], far)
            maxreq = np.maximum(maxreq, nxt)
        pass_keys = all_keys[maxreq - all_keys <= slop]
        if pass_keys.size == 0:
            return _EMPTY_D, _EMPTY_S
        if not needs_distinct:
            # distinct slots carry distinct terms, and one position
            # holds one term — coverage IS a valid assignment
            matched = np.unique(pass_keys >> SHIFT_BITS) + base
        else:
            docs_rel = pass_keys >> SHIFT_BITS
            starts = np.flatnonzero(
                np.concatenate(([True], docs_rel[1:] != docs_rel[:-1]))
            )
            ends = np.concatenate((starts[1:], [pass_keys.size]))
            hit = []
            for a, b in zip(starts, ends):
                drel = np.int64(docs_rel[a])
                for key in pass_keys[a:b]:
                    lo = np.int64(key) & MASK
                    avails, feasible = [], True
                    for s in range(n_slots):
                        sk = slot_pairs[s]
                        lft = np.searchsorted(sk, drel * SHIFT + lo)
                        rgt = np.searchsorted(
                            sk, drel * SHIFT + lo + np.int64(slop),
                            side="right",
                        )
                        pos = (sk[lft:rgt] & MASK) + np.int64(s) - qoff
                        if pos.size == 0:
                            feasible = False
                            break
                        avails.append([int(p) for p in pos])
                    if feasible and _sdr(avails):
                        hit.append(int(drel))
                        break
            if not hit:
                return _EMPTY_D, _EMPTY_S
            matched = np.array(sorted(hit), dtype=np.int64) + base
    elif slop <= 0:
        valid = slot_pairs[0]
        for s in range(1, n_slots):
            valid = np.intersect1d(valid, slot_pairs[s], assume_unique=True)
        if valid.size == 0:
            return _EMPTY_D, _EMPTY_S
        matched = np.unique(valid >> SHIFT_BITS) + base
    else:
        # cur: packed (doc, q) chain ends for slot s; best[i]: the
        # maximal chain start q (minimal span) over chains ending at
        # cur[i]. Transition: for each next-slot (doc, q'), the best
        # predecessor is the max `best` among same-doc entries with
        # q <= q' — a prefix max over the sorted packed array (doc in
        # the high bits makes the running max reset per doc for free)
        # found by one searchsorted.
        cur = slot_pairs[0]
        best = cur & MASK
        for s in range(1, n_slots):
            nxt = slot_pairs[s]
            if cur.size == 0 or nxt.size == 0:
                return _EMPTY_D, _EMPTY_S
            run_max = np.maximum.accumulate(
                ((cur >> SHIFT_BITS) << SHIFT_BITS) + best
            )
            idx = np.searchsorted(cur, nxt, side="right") - 1
            ok = idx >= 0
            cand = run_max[np.maximum(idx, 0)]
            ok &= (cand >> SHIFT_BITS) == (nxt >> SHIFT_BITS)
            start = cand & MASK
            ok &= (nxt & MASK) - start <= slop  # span can only grow
            cur = nxt[ok]
            best = start[ok]
        if cur.size == 0:
            return _EMPTY_D, _EMPTY_S
        matched = np.unique(cur >> SHIFT_BITS) + base
    total = np.zeros(matched.size, dtype=np.float64)
    for ud, sc in slot_scores:
        idx = np.searchsorted(ud, matched)
        idx = np.clip(idx, 0, max(ud.size - 1, 0))
        mask = ud[idx] == matched
        total = total + np.where(mask, sc[idx], 0.0)
    return matched, total
