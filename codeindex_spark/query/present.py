"""Presentation operators (SURVEY.md §2.11 V1-V3): HTML highlight and
matched-line extraction over top-k results only.

Reference behavior:
- V1 GenerateHtmlPreviewText (/root/reference/src/CodeIndex.Search/
  CodeIndexSearcher.cs:50-103): HTML-encode, wrap matched terms in
  <span class='highlight'>..</span>, guard very large content with
  "Content is too long to highlight" (MaxContentHighlightLength
  3,000,000 — /root/reference/src/CodeIndex.IndexBuilder/Constants.cs:15).
- V2 GeneratePreviewTextWithLineNumber (CodeIndexSearcher.cs:148-229):
  split into lines, trim, keep lines containing a matched term, emit
  (line_text, 1-based line_number), cap at max_results.

Matching is token-exact (the reference re-analyzes content with the
same analyzer): a term matches only whole tokens, so 'get' does not
highlight inside 'together'. Kernels run on <= k rows (Arrow batch),
never on the corpus.
"""

from __future__ import annotations

import html

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from codeindex_spark.query import ast
from codeindex_spark.query.planner import SearchEngine, _as_root
from codeindex_spark.tokenizer import TOKEN_RE

MAX_CONTENT_HIGHLIGHT_LENGTH = 3_000_000
TOO_LONG_MESSAGE = "Content is too long to highlight"
HIGHLIGHT_PRE = "<span class='highlight'>"
HIGHLIGHT_POST = "</span>"


def matched_content_terms(
    engine: SearchEngine, query: ast.Node | str, case_sensitive: bool = False
) -> tuple[set[str], bool]:
    """Concrete content-field terms the query matches (wildcard/fuzzy
    expanded against the dictionary). Returns (terms, cased?)."""
    planned = engine._plan({"": _as_root(query, case_sensitive)})
    fld = "content_cs" if case_sensitive else "content"
    terms = {
        r["term"]
        for _, rows in planned.values()
        for r in rows
        if r["field"] == fld
    }
    return terms, case_sensitive


def _token_match(token: str, terms: set[str], cased: bool) -> bool:
    return (token if cased else token.lower()) in terms


def highlight_html(text: str, terms: set[str], cased: bool = False) -> str:
    """HTML-encoded text with matched tokens span-wrapped (V1)."""
    if len(text) > MAX_CONTENT_HIGHLIGHT_LENGTH:
        return TOO_LONG_MESSAGE
    out = []
    last = 0
    for m in TOKEN_RE.finditer(text):
        if _token_match(m.group(), terms, cased):
            out.append(html.escape(text[last : m.start()]))
            out.append(HIGHLIGHT_PRE + html.escape(m.group()) + HIGHLIGHT_POST)
            last = m.end()
    out.append(html.escape(text[last:]))
    return "".join(out)


def matched_lines(
    text: str, terms: set[str], cased: bool = False, max_results: int = 100
) -> list[tuple[str, int]]:
    """(trimmed_line, 1-based line_number) for lines containing a
    matched token (V2)."""
    out = []
    for i, line in enumerate(text.split("\n"), start=1):
        stripped = line.strip()
        if not stripped:
            continue
        if any(_token_match(t, terms, cased) for t in TOKEN_RE.findall(stripped)):
            out.append((stripped, i))
            if len(out) >= max_results:
                break
    return out


PREVIEW_SCHEMA_FIELDS = [
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
]


def search_with_preview(
    engine: SearchEngine,
    query: ast.Node | str,
    k: int = 100,
    case_sensitive: bool = False,
    fragment_lines: int = 3,
) -> DataFrame:
    """V3 search-by-file shape: top-k + HTML preview of the first
    ``fragment_lines`` matching lines (reference defaults to 3 best
    fragments)."""
    terms, cased = matched_content_terms(engine, query, case_sensitive)
    top = engine.search(query, k=k, case_sensitive=case_sensitive)
    docs = engine.reader.docs.select("doc_id", "repo", "path", "content")
    joined = top.join(docs, "doc_id")
    schema = T.StructType(
        PREVIEW_SCHEMA_FIELDS + [T.StructField("preview_html", T.StringType(), False)]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            previews = []
            for content in pdf["content"]:
                lines = matched_lines(content, terms, cased, fragment_lines)
                previews.append(
                    "\n".join(highlight_html(ln, terms, cased) for ln, _ in lines)
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "score": pdf["score"],
                    "repo": pdf["repo"],
                    "path": pdf["path"],
                    "preview_html": previews,
                }
            )

    return (
        joined.mapInPandas(kernel, schema=schema)
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def best_fragments(
    engine: SearchEngine,
    query: ast.Node | str,
    k: int = 100,
    case_sensitive: bool = False,
    fragment_tokens: int = 20,
    n_fragments: int = 2,
) -> DataFrame:
    """Best-fragment selection — the Lucene Highlighter
    getBestFragments surface (lucene/highlighter Highlighter.java
    with SimpleFragmenter + QueryTermScorer): each top-k doc splits
    into fixed ``fragment_tokens``-token windows, a window scores by
    its matched-term occurrence count, and the best ``n_fragments``
    windows per doc come back as (doc_id, score, frag_idx, n_hits,
    fragment) — fragment is the window's tokens rejoined. Windows
    with zero hits never rank (Lucene skips fragments the scorer
    leaves at 0). Order: (score desc, doc_id asc, n_hits desc,
    frag_idx asc).

    Scale shape: the kernel runs on <= k joined rows (one Arrow pass;
    per-row work is one tokenize + one windowed count), never the
    corpus — same contract as the other presentation ops."""
    from codeindex_spark.tokenizer import tokenize

    terms, cased = matched_content_terms(engine, query, case_sensitive)
    top = engine.search(query, k=k, case_sensitive=case_sensitive)
    docs = engine.reader.docs.select("doc_id", "content")
    joined = top.join(docs, "doc_id")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("score", T.DoubleType(), False),
            T.StructField("frag_idx", T.LongType(), False),
            T.StructField("n_hits", T.LongType(), False),
            T.StructField("fragment", T.StringType(), False),
        ]
    )
    ft, nf = int(fragment_tokens), int(n_fragments)

    def kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id, score, content in zip(
                pdf["doc_id"], pdf["score"], pdf["content"]
            ):
                toks = tokenize(content or "")
                hits = [
                    1 if _token_match(t, terms, cased) else 0 for t in toks
                ]
                frags = []
                for i0 in range(0, len(toks), ft):
                    n = sum(hits[i0 : i0 + ft])
                    if n:
                        frags.append((i0 // ft, n))
                frags.sort(key=lambda f: (-f[1], f[0]))
                for fi, n in frags[:nf]:
                    rows.append(
                        (
                            doc_id,
                            score,
                            fi,
                            n,
                            " ".join(toks[fi * ft : (fi + 1) * ft]),
                        )
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "doc_id", "score", "frag_idx", "n_hits", "fragment",
                    ],
                )

    return joined.mapInPandas(kernel, schema=schema).orderBy(
        F.desc("score"), F.asc("doc_id"), F.desc("n_hits"), F.asc("frag_idx")
    )


def search_with_matched_lines(
    engine: SearchEngine,
    query: ast.Node | str,
    k: int = 100,
    max_lines: int = 100,
    case_sensitive: bool = False,
) -> DataFrame:
    """V3 search-by-line shape: (doc_id, score, repo, path, line_text,
    line_number) — content itself omitted (the reference blanks it to
    shrink responses, SearchService.cs:105,119)."""
    terms, cased = matched_content_terms(engine, query, case_sensitive)
    top = engine.search(query, k=k, case_sensitive=case_sensitive)
    docs = engine.reader.docs.select("doc_id", "repo", "path", "content")
    joined = top.join(docs, "doc_id")
    schema = T.StructType(
        PREVIEW_SCHEMA_FIELDS
        + [
            T.StructField("line_text", T.StringType(), False),
            T.StructField("line_number", T.IntegerType(), False),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {c: [] for c in ("doc_id", "score", "repo", "path", "line_text", "line_number")}
            for r in pdf.itertuples():
                for line, no in matched_lines(r.content, terms, cased, max_lines):
                    rows["doc_id"].append(r.doc_id)
                    rows["score"].append(r.score)
                    rows["repo"].append(r.repo)
                    rows["path"].append(r.path)
                    rows["line_text"].append(line)
                    rows["line_number"].append(no)
            yield pd.DataFrame(rows)

    return (
        joined.mapInPandas(kernel, schema=schema)
        .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("line_number"))
        .limit(max_lines)
    )


def grep_matched_lines(
    engine: SearchEngine,
    pattern: str,
    regex: bool = False,
    case_sensitive: bool = False,
    filters=None,
    max_lines_per_doc: int = 100,
    scan_fallback: bool = True,
) -> DataFrame:
    """Matched lines for substring/regex content search — the grep
    display shape: (doc_id, repo, path, line_number, line_text).

    Candidates come from the trigram index (search_content_substring /
    search_content_regex — never a corpus scan); line extraction is
    pure JVM array algebra: transform (attach 1-based line numbers) ->
    filter (line matches) -> slice (per-doc cap is STRUCTURAL, no
    window/shuffle) -> posexplode. A needle spanning a line break
    matches the doc but no single line, like grep.
    """
    if regex:
        # line_anchors=True: doc verification runs under (?m) so ^/$
        # anchored patterns keep docs whose match is on a later line
        hits = engine.search_content_regex(
            pattern, case_sensitive=case_sensitive, filters=filters,
            scan_fallback=scan_fallback, line_anchors=True,
        )
        rx = pattern if case_sensitive else f"(?i){pattern}"
        line_pred = lambda st: st["t"].rlike(rx)  # noqa: E731
    elif case_sensitive:
        hits = engine.search_content_substring(
            pattern, filters=filters, case_sensitive=True
        )
        line_pred = lambda st: st["t"].contains(pattern)  # noqa: E731
    else:
        s = pattern.lower()
        hits = engine.search_content_substring(pattern, filters=filters)
        line_pred = lambda st: F.lower(st["t"]).contains(s)  # noqa: E731
    numbered = F.transform(
        F.split(F.col("content"), "\n"),
        lambda l, i: F.struct(
            (i + F.lit(1)).alias("n"), l.alias("t")
        ),
    )
    capped = F.slice(F.filter(numbered, line_pred), 1, max_lines_per_doc)
    return (
        hits.select(
            "doc_id", "repo", "path", F.explode(capped).alias("m")
        )
        .select(
            "doc_id",
            "repo",
            "path",
            F.col("m.n").alias("line_number"),
            F.trim(F.col("m.t")).alias("line_text"),
        )
        .orderBy("doc_id", "line_number")
    )
