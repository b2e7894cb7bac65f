"""Rank-identity harness: the Spark engine's top-k (docIDs AND BM25
scores) must match the pure-Python oracle on the reference query set
(FIXTURES.md §3, mirroring QueryGeneratorTest/CodeIndexSearcherTest
coverage). Scores compared at rel tol 1e-9.
"""

from __future__ import annotations

import pandas as pd
import pytest

from codeindex_spark.corpus import CorpusSpec, generate_documents, spark_documents
from codeindex_spark.index.build import IndexParams
from codeindex_spark.index.segments import IndexBuilder, IndexReader
from codeindex_spark.query import ast
from codeindex_spark.query.oracle import OracleIndex
from codeindex_spark.query.planner import Filters, SearchEngine

SPEC = CorpusSpec(n_docs=150)
PARAMS = IndexParams(num_buckets=16, block_size=32)
K = 50


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("qidx"))
    docs = spark_documents(spark, SPEC, partitions=4)
    IndexBuilder(spark, d, PARAMS, n_groups=2).build(docs, resume=False)
    return SearchEngine(IndexReader(spark, d))


@pytest.fixture(scope="module")
def oracle():
    return OracleIndex.build(
        generate_documents(SPEC),
        num_buckets=PARAMS.num_buckets,
        block_size=PARAMS.block_size,
        k1=PARAMS.k1,
        b=PARAMS.b,
    )


def assert_rank_identical(engine_df, oracle_ranked, k=K):
    got = [(r["doc_id"], r["score"]) for r in engine_df.collect()]
    exp = oracle_ranked[:k]
    assert [d for d, _ in got] == [d for d, _ in exp], (
        f"docID sequence mismatch:\n got={got[:10]}\n exp={exp[:10]}"
    )
    for (gd, gs), (ed, es) in zip(got, exp):
        assert gs == pytest.approx(es, rel=1e-9), (gd, gs, es)


QUERIES = {
    "q01_keyword_hot": "get",
    "q02_keyword_camel": "SaveResultsAndClearLucenePool",
    "q03_bool_and": "index AND writer",
    "q04_bool_or_not": "string OR return NOT get",
    "q07_wildcard_prefix": "stri*",
    "q08_fuzzy": "strng~2",
    # transposed adjacent chars = ONE edit (Damerau, the Lucene
    # FuzzyQuery default) — plain levenshtein would need two
    "q08b_fuzzy_transposition": "stirng~1",
    # forward-slash term regexp (classic-parser RegexpQuery):
    # anchored full match over the dictionary, scored like any
    # multi-term expansion
    "q_term_regexp": "/st.*/",
    "q_term_regexp_alt": "/(get|s[te]t?ring)/",
    "q_term_regexp_bool": "index AND /writ.*/",
}


def test_search_many_equals_per_query(engine, oracle):
    """Batch multi-query execution (one posting scan + shuffle +
    kernel job for the whole set) is score- and rank-identical to
    running each query alone."""
    batch = {
        "kw": "get",
        "band": "index AND writer",
        "bor": "string OR return NOT get",
        "wild": "stri*",
        "fz": "strng~2",
        "ph": ast.parse_phrase_query("add documents"),
        # blended and span leaves: the batch plan step must resolve
        # every member term a per-query plan resolves
        "syn": ast.Synonyms(("get", "string", "return")),
        "sor": ast.SpanOr(("add", "remove", "writer")),
        "sfirst": ast.SpanFirst(ast.SpanOr(("get", "index")), end=3),
        "snot": ast.SpanNot("get", "string", pre=2, post=2),
        "snear": ast.SpanNear(
            [ast.SpanOr(("add", "remove")), "documents"], slop=1
        ),
    }
    got = engine.search_many(batch, k=K).collect()
    by_q: dict[str, list] = {}
    for r in sorted(got, key=lambda r: (r["query"], -r["score"], r["doc_id"])):
        by_q.setdefault(r["query"], []).append((r["doc_id"], r["score"]))
    for name, q in batch.items():
        solo = [
            (r["doc_id"], r["score"]) for r in engine.search(q, k=K).collect()
        ]
        assert solo, name  # every entry must exercise its leaf kind
        assert by_q.get(name, []) == solo, name


def test_path_substring_via_trigrams(engine, oracle):
    """Substring path search through the path_trigram n-gram field
    equals brute-force contains() on every doc — including the
    below-trigram-length fallback."""
    docs = oracle.docs
    sub = docs["path"].iloc[5][4:9]
    got = sorted(
        r["doc_id"] for r in engine.search_path_substring(sub).collect()
    )
    exp = sorted(
        docs[
            docs["path"].str.lower().str.contains(sub.lower(), regex=False)
        ]["doc_id"]
    )
    assert got == exp and got
    short = sub[:2]
    got2 = sorted(
        r["doc_id"] for r in engine.search_path_substring(short).collect()
    )
    exp2 = sorted(
        docs[
            docs["path"].str.lower().str.contains(short.lower(), regex=False)
        ]["doc_id"]
    )
    assert got2 == exp2


def test_fuzzy_transposition_single_edit(engine, oracle):
    """'stirng'~1 must expand to 'string' (transposition = 1 edit);
    under plain levenshtein the distance is 2 and nothing matches."""
    hits = engine.search("stirng~1", k=K).count()
    assert hits > 0
    exact = engine.search("string", k=K).count()
    assert hits == exact  # only expansion within 1 DL edit is 'string'


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_reference_queries(engine, oracle, name):
    q = QUERIES[name]
    assert_rank_identical(engine.search(q, k=K), oracle.search(q, k=K))


def test_q05_phrase(engine, oracle):
    q = ast.parse_phrase_query("add documents")
    assert_rank_identical(engine.search(q, k=K), oracle.search(q, k=K))
    # sanity: phrase is stricter than AND of its terms
    n_phrase = engine.search(q, k=K).count()
    n_and = engine.search("add AND documents", k=K).count()
    assert 0 < n_phrase <= n_and


def test_q06_phrase_wildcard(engine, oracle):
    q = ast.parse_phrase_query("index_wri* batch")
    # '_' splits: phrase slots are tokens — use a token-level phrase
    q2 = ast.parse_phrase_query("writer batch*")
    for node in (q, q2):
        assert_rank_identical(engine.search(node, k=K), oracle.search(node, k=K))


def test_q09_case_sensitive(engine, oracle):
    got_cs = engine.search("ABCD", k=K, case_sensitive=True)
    assert_rank_identical(got_cs, oracle.search("ABCD", k=K, case_sensitive=True))
    # case-insensitive finds at least as many docs (abcd + Abcd + ABCD)
    n_ci = engine.score("abcd").count()
    n_cs = engine.score(ast.Term("ABCD", "content_cs")).count()
    assert n_ci >= n_cs > 0


def test_q10_field_filtered(engine, oracle):
    f = Filters(lang="python", path_prefix="src/")
    got = engine.search("get", k=K, filters=f)

    def doc_filter(docs: pd.DataFrame):
        return (docs["lang"] == "python") & docs["path"].str.startswith("src/")

    exp = oracle.search("get", k=K, doc_filter=doc_filter)
    assert_rank_identical(got, exp)
    assert 0 < len(exp)


def test_q11_filename_field(engine, oracle):
    # tokenized filename search (reference FileName TextField)
    docs = oracle.docs
    sample = docs["file_name"].iloc[0]
    tok = sample.split("_")[0].lower()
    q = ast.Term(tok, "file_name")
    assert_rank_identical(engine.search(q, k=K), oracle.search(q, k=K))


def test_q12_pk_lookup(engine, oracle):
    row = oracle.docs.iloc[7]
    import hashlib

    pk = hashlib.sha256(
        f"{row['repo']}\x1f{row['path']}\x1f{row['commit']}".encode()
    ).hexdigest()
    got = engine.lookup_pk(pk).collect()
    assert len(got) == 1
    assert got[0]["path"] == row["path"]
    assert engine.lookup_pk("no-such-key").count() == 0


def test_q13_hints(engine, oracle):
    got = [r["word"] for r in engine.hints("Luce").collect()]
    exp = oracle.hints("Luce")
    assert got == exp
    assert 0 < len(got) <= 20
    # case-insensitive prefix
    got_ci = [r["word"] for r in engine.hints("luce").collect()]
    assert got_ci == oracle.hints("luce")


def test_empty_result_query(engine):
    assert engine.search("zzzznotaterm", k=K).count() == 0


def test_or_scores_sum(engine, oracle):
    q = "index OR index"
    assert_rank_identical(engine.search(q, k=K), oracle.search(q, k=K))


WAND_QUERIES = [
    "get",
    "index AND writer",
    "string OR return NOT get",
    "stri*",
]


@pytest.mark.parametrize("q", WAND_QUERIES)
def test_wand_equals_exact(engine, oracle, q):
    """Block-max WAND pruning must be invisible in results: identical
    docIDs and scores vs both the exact path and the oracle."""
    exact = [(r["doc_id"], r["score"]) for r in engine.search(q, k=10).collect()]
    wand = [
        (r["doc_id"], r["score"]) for r in engine.search_wand(q, k=10).collect()
    ]
    assert [d for d, _ in wand] == [d for d, _ in exact]
    for (dw, sw), (de, se) in zip(wand, exact):
        assert sw == pytest.approx(se, rel=1e-12)
    oracle_top = oracle.search(q, k=10)
    assert [d for d, _ in wand] == [d for d, _ in oracle_top]


@pytest.mark.parametrize("q", ["get OR get", "(index AND index) AND writer"])
def test_wand_repeated_clause_equals_exact(engine, q):
    """A clause written twice scores twice, so the block bound counts
    its rows twice: pruning stays invisible (it returned no rows when
    the bound counted them once)."""
    exact = [(r["doc_id"], r["score"]) for r in engine.search(q, k=10).collect()]
    wand = [
        (r["doc_id"], r["score"]) for r in engine.search_wand(q, k=10).collect()
    ]
    assert exact
    assert [d for d, _ in wand] == [d for d, _ in exact]
    for (_, sw), (_, se) in zip(wand, exact):
        assert sw == pytest.approx(se, rel=1e-12)


def test_wand_phrase_conservative(engine, oracle):
    q = ast.parse_phrase_query("add documents")
    wand = [(r["doc_id"], r["score"]) for r in engine.search_wand(q, k=10).collect()]
    assert wand == [
        (d, pytest.approx(s, rel=1e-9)) for d, s in oracle.search(q, k=10)
    ] or [d for d, _ in wand] == [d for d, _ in oracle.search(q, k=10)]


def test_wand_fewer_than_k_results(engine):
    # seed can't establish θ -> exact fallback, still correct
    got = engine.search_wand("saveresultsandclearlucenepool", k=100).collect()
    exact = engine.search("saveresultsandclearlucenepool", k=100).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in exact
    ]


def test_special_char_term(engine, oracle):
    # '_' and ';' are single-char tokens in the reference analyzer;
    # querying them is legal (they index like any term)
    for tok in ("_", ";"):
        q = ast.Term(tok, "content")
        assert_rank_identical(engine.search(q, k=K), oracle.search(q, k=K))
        assert oracle.search(q, k=K), f"fixture should contain {tok!r}"


def test_cjk_run_term(engine, oracle):
    q = ast.Term("这是一个例句", "content")
    assert_rank_identical(engine.search(q, k=K), oracle.search(q, k=K))
    assert oracle.search(q, k=K)


def test_repo_and_ext_filters(engine, oracle):
    f = Filters(repo="repo001", file_ext="py")
    got = engine.search("get", k=K, filters=f)

    def doc_filter(docs: pd.DataFrame):
        return (docs["repo"] == "repo001") & docs["path"].str.endswith(".py")

    exp = oracle.search("get", k=K, doc_filter=doc_filter)
    assert_rank_identical(got, exp)


def test_nested_boolean_grouping(engine, oracle):
    q = "(index OR writer) AND (get NOT string)"
    assert_rank_identical(engine.search(q, k=K), oracle.search(q, k=K))


def test_phrase_three_slots(engine, oracle):
    # corpus method-call lines: Identifier . Identifier ( — 3+ tokens
    q = ast.Phrase(("lucenepool", ".", "saveresultsandclearlucenepool"))
    got = engine.search(q, k=K)
    exp = oracle.search(q, k=K)
    assert_rank_identical(got, exp)


def test_camel_field(engine, oracle):
    # camel subtoken search finds whole CamelCase identifiers
    q = ast.Term("lucene", "content_camel")
    assert_rank_identical(engine.search(q, k=K), oracle.search(q, k=K))
    assert oracle.search(q, k=K), "camel fixture must match"
    # parser alias
    q2 = ast.parse_query("camel:Lucene")
    assert q2 == ast.Term("lucene", "content_camel")


def test_camel_positionless_phrase_rejected(engine):
    q = ast.Phrase(("lucene", "pool"), "content_camel")
    with pytest.raises(ValueError, match="without positions"):
        engine.search(q, k=5)


def test_dict_cache_repeat_query_identical(engine, oracle):
    # first search populates the cache; the repeat must hit it (no
    # dictionary job) and return identical ranked output
    q = ast.parse_query("get AND string")
    first = [(r["doc_id"], r["score"]) for r in engine.search(q, k=K).collect()]
    assert ("content", "get") in engine._dict_cache
    assert ("content", "string") in engine._dict_cache
    before = dict(engine._dict_cache)
    again = [(r["doc_id"], r["score"]) for r in engine.search(q, k=K).collect()]
    assert first == again
    assert engine._dict_cache == before  # pure cache hit, nothing re-fetched


def test_dict_cache_negative_hit(engine):
    q = ast.Term("zzzznotaterm", "content")
    assert engine.search(q, k=5).count() == 0
    assert engine._dict_cache.get(("content", "zzzznotaterm"), "x") is None
    assert engine.search(q, k=5).count() == 0  # negative hit, still empty


def test_dict_cache_invalidate(engine):
    engine.invalidate_caches()
    assert engine._dict_cache == {} and engine._expand_cache == {}


def test_expand_cache_wildcard(engine, oracle):
    q = ast.Wildcard("stri*", "content")
    r1 = [(r["doc_id"], r["score"]) for r in engine.search(q, k=K).collect()]
    assert ("content", "w", "stri*") in engine._expand_cache
    r2 = [(r["doc_id"], r["score"]) for r in engine.search(q, k=K).collect()]
    assert r1 == r2


def test_random_boolean_trees_rank_identical(engine, oracle):
    """Seeded random query trees (AND/OR/NOT, nesting, wildcard and
    fuzzy leaves) — the engine must stay rank-identical to the pure
    oracle off the hand-picked fixture shapes too."""
    import random

    rng = random.Random(20260817)
    words = [
        "get", "string", "return", "index", "writer",
        "add", "documents", "pool", "results", "clear",
    ]

    def leaf():
        w = rng.choice(words)
        r = rng.random()
        if r < 0.15 and len(w) > 4:
            return w[:4] + "*"
        if r < 0.25:
            return w + "~1"
        return w

    def tree(depth):
        if depth == 0 or rng.random() < 0.3:
            return leaf()
        op = rng.choice(["AND", "OR", "NOT"])
        return f"({tree(depth - 1)} {op} {tree(depth - 1)})"

    for _ in range(12):
        q = tree(2)
        assert_rank_identical(engine.search(q, k=K), oracle.search(q, k=K))


def test_phrase_slop_rank_identity(engine, oracle):
    """Sloppy phrase (in-order, total gap <= N) is rank- and
    score-identical between the Spark positional kernel and the pure
    oracle DP, and monotone: slop 0 matches are a subset of slop 2,
    which is a subset of the AND of the terms."""
    for q in ('"add documents"~1', '"index writer"~2', '"get string"~3'):
        assert_rank_identical(
            engine.search(q, k=K), oracle.search(ast.parse_query(q), k=K)
        )
    # k large enough to be un-truncated: subset relations hold on the
    # FULL match sets, not on a top-k that tighter queries fill with
    # different tails
    big = 10_000
    exact = engine.search(ast.parse_phrase_query("add documents"), k=big)
    sloppy = engine.search('"add documents"~2', k=big)
    both = engine.search("add AND documents", k=big)
    d0 = {r["doc_id"] for r in exact.collect()}
    d2 = {r["doc_id"] for r in sloppy.collect()}
    dand = {r["doc_id"] for r in both.collect()}
    assert d0 <= d2 <= dand and d0


def test_boost_rank_identity(engine, oracle):
    """Boosted clauses scale scores identically in engine and oracle,
    through every kernel path (disjunctive fast path is disabled for
    boosted trees only when structure requires it — scores must agree
    regardless)."""
    for q in (
        "get^2 OR string",
        "index^0.5 AND writer",
        '"add documents"^2',
        "stri*^3",
        "(index writer)^2 OR get",
    ):
        assert_rank_identical(
            engine.search(q, k=K), oracle.search(ast.parse_query(q), k=K)
        )
    # boost factor 2 exactly doubles a single-term score
    base = {r["doc_id"]: r["score"] for r in engine.search("get", k=K).collect()}
    boosted = {
        r["doc_id"]: r["score"] for r in engine.search("get^2", k=K).collect()
    }
    assert set(base) == set(boosted)
    for d, s in base.items():
        assert boosted[d] == pytest.approx(2 * s, rel=1e-12)


def test_phrase_slop_with_wildcard_slots(engine, oracle):
    """Slop and wildcard-in-phrase compose: each slot expands via the
    dictionary, then the sloppy chain DP runs over the union of
    expansions — engine and oracle must agree rank- and score-wise."""
    for q in ('"add doc*"~2', '"ind* writer"~1'):
        assert_rank_identical(
            engine.search(q, k=K), oracle.search(ast.parse_query(q), k=K)
        )


def test_escaped_wildcard_term_is_exact(engine, oracle):
    """foo\\*bar parses to a literal Term containing '*'; the planner
    must do an exact dictionary lookup (no token contains '*', so
    zero hits) — NOT re-detect the string as a wildcard pattern and
    expand it to match fooXbar docs."""
    q = ast.parse_query(r"stri\*ng")
    assert q == ast.Term("stri*ng", "content")
    assert engine.search(q, k=K).count() == 0
    assert oracle.search(q, k=K) == []
    # the unescaped sibling IS a wildcard and matches
    assert engine.search("stri*ng", k=K).count() > 0


def test_range_rank_identity(engine, oracle):
    """Term ranges expand against the dictionary slice and score like
    any other multi-term leaf — engine and oracle must agree on docs
    AND scores for inclusive/exclusive/open/cased variants."""
    for q in (
        "[batch TO commit]",
        "{add TO content}",
        "[size TO *]",
        "[* TO batch]",
        "file_name:[a TO z]",
        "foo OR [index TO merge]^2",
        "[batch TO commit] AND size",
    ):
        node = ast.parse_query(q)
        assert_rank_identical(engine.search(node, k=K), oracle.search(node, k=K))


def test_range_matches_expected_terms(engine, oracle):
    # the oracle's range expansion agrees with a brute-force slice of
    # its own dictionary (guards both sides against off-by-one
    # inclusivity bugs agreeing with each other)
    terms = set(oracle.postings["content"])
    node = ast.parse_query("{batch TO size}")
    expanded = set(oracle._expand("content", node))
    brute = {t for t in terms if "batch" < t < "size"}
    assert expanded == brute and expanded  # non-empty


def test_bool_clause_rank_identity(engine, oracle):
    """Lucene +/- clause semantics: MUST filters and scores, SHOULD
    only adds score where it matches, MUST_NOT filters. Engine and
    pure oracle must agree on docIDs and scores through the Bool
    kernel path."""
    for q in (
        "+index writer",
        "+index -writer get",
        "+get +string return",
        "index -writer",
        "+stri* get",
        "+index writer~1 -pool",
    ):
        assert_rank_identical(engine.search(q, k=K), oracle.search(q, k=K))


def test_bool_must_should_semantics(engine):
    """The matching set of '+a b' equals the set of 'a'; scores are
    >= the pure-must scores (should only adds)."""
    big = 10_000
    must_only = {
        r["doc_id"]: r["score"]
        for r in engine.search("index", k=big).collect()
    }
    mixed = {
        r["doc_id"]: r["score"]
        for r in engine.search("+index writer", k=big).collect()
    }
    assert set(mixed) == set(must_only)
    assert all(mixed[d] >= must_only[d] - 1e-12 for d in mixed)
    # and strictly greater exactly where the should clause matches
    wr = {r["doc_id"] for r in engine.search("writer", k=big).collect()}
    for d in mixed:
        if d in wr:
            assert mixed[d] > must_only[d]
        else:
            assert mixed[d] == pytest.approx(must_only[d], rel=1e-9)


def test_pure_negative_matches_nothing(engine, oracle):
    assert engine.search("-index", k=K).count() == 0
    assert oracle.search("-index", k=K) == []
    assert engine.search("-index -writer", k=K).count() == 0


def test_random_signed_clause_lists_rank_identical(engine, oracle):
    """Seeded random +/- clause lists over term/wildcard/fuzzy leaves
    stay rank-identical between engine and oracle."""
    import random

    rng = random.Random(20260818)
    words = [
        "get", "string", "return", "index", "writer",
        "add", "documents", "pool", "results", "clear",
    ]

    def leaf():
        w = rng.choice(words)
        r = rng.random()
        if r < 0.15 and len(w) > 4:
            return w[:4] + "*"
        if r < 0.25:
            return w + "~1"
        return w

    for _ in range(12):
        n = rng.randint(2, 5)
        signs = [rng.choice(["+", "-", ""]) for _ in range(n)]
        if all(s == "-" for s in signs):
            signs[0] = "+"
        q = " ".join(f"{s}{leaf()}" for s in signs)
        assert_rank_identical(engine.search(q, k=K), oracle.search(q, k=K))


def test_q_regexp_interval(engine, oracle):
    """Lucene RegexpQuery <m-n> numeric interval (RegExp.java INTERVAL
    syntax, rewritten to plain regex identically in engine and
    oracle). File names end _N.ext, so file_name holds each doc's
    index as a digit token."""
    q = ast.Regexp("<5-25>", "file_name")
    assert_rank_identical(engine.search(q, k=K), oracle.search(q, k=K))
    assert engine.search(q, k=K).count() == 21
    # same-length bounds pin the digit count (Lucene fixed-digits
    # rule): <05-25> matches only the 2-digit tokens 10..25
    q2 = ast.Regexp("<05-25>", "file_name")
    assert_rank_identical(engine.search(q2, k=K), oracle.search(q2, k=K))
    assert engine.search(q2, k=K).count() == 16
    # composes with surrounding Java-regex syntax, and parses from
    # the classic-parser string form
    q3 = ast.Regexp("(?:<5-9>|checkpoint.*)", "file_name")
    assert_rank_identical(engine.search(q3, k=K), oracle.search(q3, k=K))
    parsed = ast.parse_query("/<5-25>/")
    assert isinstance(parsed, ast.Regexp) and parsed.pattern == "<5-25>"


def test_q_regexp_extended_ops(engine, oracle):
    """Lucene RegexpQuery extended operators (~ & @): the engine's
    compiled-DFA path (planner._expand -> luceneregex) vs the
    oracle's end-position-set interpreter, scored end to end. The
    engine's dictionary expansion and the oracle's must agree on the
    SAME terms, so docIDs AND BM25 scores are rank-identical."""
    for q in [
        "/(s|t)@&~(@(ing|ed))/",  # starts s/t, not ending ing/ed
        "/s@&~(sort|stream)/",  # s-prefix minus two exact terms
        "/~(the)&[a-z]{3}/",  # 3-letter lowercase words except 'the'
        "/ind@x|@ing/",  # union of anystring forms
    ]:
        assert_rank_identical(engine.search(q, k=K), oracle.search(q, k=K))
    # boolean composition around an extended leaf
    q = "index AND /s@&~(@ing)/"
    assert_rank_identical(engine.search(q, k=K), oracle.search(q, k=K))


def test_q_bool_filter_clause(engine, oracle):
    """BooleanClause.Occur.FILTER: gates the match like MUST,
    contributes zero score; filter-only queries match with score 0;
    composes with must / should / must_not / min_should_match."""
    cases = [
        ast.Bool(should=(ast.Term("index"),), filter=(ast.Term("writer"),)),
        ast.Bool(filter=(ast.Term("index"), ast.Term("writer"))),
        ast.Bool(
            must=(ast.Term("index"),),
            filter=(ast.Term("writer"),),
            must_not=(ast.Term("batch"),),
        ),
        ast.Bool(
            should=(ast.Term("string"), ast.Term("return")),
            filter=(ast.Term("index"),),
            min_should_match=2,
        ),
    ]
    nonempty = 0
    for q in cases:
        got = engine.search(q, k=K)
        assert_rank_identical(got, oracle.search(q, k=K))
        nonempty += int(got.count() > 0)
    assert nonempty >= 3

    # filter vs must: same match set, different scores (filter never
    # scores); and the filter-only query scores exactly 0.0
    f = ast.Bool(should=(ast.Term("index"),), filter=(ast.Term("writer"),))
    m = ast.Bool(must=(ast.Term("writer"),), should=(ast.Term("index"),))
    df_f = {r["doc_id"]: r["score"] for r in engine.search(f, k=500).collect()}
    df_m = {r["doc_id"]: r["score"] for r in engine.search(m, k=500).collect()}
    assert set(df_f) == set(df_m)
    assert any(df_f[d] != df_m[d] for d in df_f)  # writer's score gone
    only = engine.search(ast.Bool(filter=(ast.Term("index"),)), k=500)
    assert {r["score"] for r in only.collect()} == {0.0}

    # apply_boost must preserve filter and min_should_match
    b = ast.apply_boost(cases[3], 2.0)
    assert b.min_should_match == 2 and len(b.filter) == 1


def test_q_span_near_nested(engine, oracle):
    """SpanNear over SpanOr clauses (nested span composition —
    SpanNearQuery.java over SpanOrQuery clauses): a tuple slot binds
    any of its member terms. Exercises exact adjacency, in-order
    slop, unordered slop, and overlapping member sets (which force
    the distinct-positions verification)."""
    cases = [
        ast.SpanNear(
            [ast.SpanOr(("add", "remove")), "documents"],
            slop=0,
            in_order=True,
        ),
        ast.SpanNear([("add", "get"), "documents"], slop=2, in_order=True),
        ast.SpanNear(
            ["index", ("writer", "reader"), "batch"],
            slop=3,
            in_order=False,
        ),
        ast.SpanNear(
            [("index", "string"), ("writer", "return")],
            slop=1,
            in_order=False,
        ),
        # overlapping member sets: 'documents' may bind either slot,
        # so matches must place the two slots on DISTINCT positions
        ast.SpanNear(
            [("add", "documents"), ("documents", "index")],
            slop=2,
            in_order=False,
        ),
    ]
    nonempty = 0
    for q in cases:
        got = engine.search(q, k=K)
        assert_rank_identical(got, oracle.search(q, k=K))
        nonempty += int(got.count() > 0)
    assert nonempty >= 4  # the comparisons must not be vacuous

    # single-member SpanOr degenerates to the plain term slot
    a = ast.SpanNear([ast.SpanOr(("add",)), "documents"], slop=0,
                     in_order=True)
    b = ast.parse_phrase_query("add documents")
    ga = [(r["doc_id"], r["score"]) for r in engine.search(a, k=K).collect()]
    gb = [(r["doc_id"], r["score"]) for r in engine.search(b, k=K).collect()]
    assert ga == gb

    # validation: mixed fields and degenerate clause lists refuse
    with pytest.raises(ValueError):
        ast.SpanNear([ast.SpanOr(("a",), field="file_name"), "b"])
    with pytest.raises(ValueError):
        ast.SpanNear(["only_one"])
    with pytest.raises(ValueError):
        ast.SpanNear([(), "b"])


def test_count_total_hits(engine, oracle):
    """IndexSearcher.count analog: engine.count == the oracle's full
    match-set size, on both the dictionary-df short circuit (lone
    Term, no tombstones/filters) and the match-stream fallback
    (bool/phrase/wildcard and filtered counts)."""
    # dictionary short circuit — and it must agree with the stream
    # path (count of score() rows) on the same query
    t = ast.Term("get")
    exp_get = len(oracle.eval(t))
    assert engine.count(t) == exp_get > 0
    assert engine.score(t).count() == exp_get
    # boost never changes the match set
    assert engine.count(ast.Term("get", boost=7.0)) == exp_get

    # match-stream fallback across query shapes
    for q in [
        "index AND writer",
        "string OR return NOT get",
        '"index writer"~2',
        "stri*",
    ]:
        assert engine.count(q) == len(oracle.eval(ast.parse_query(q, False)))

    # no-match and empty-expansion edges
    assert engine.count("zzznope_not_a_term") == 0

    # filters restrict the count like they restrict search
    f = Filters(lang="python", path_prefix="src/")
    docs = pd.DataFrame(generate_documents(SPEC))
    allowed = set(
        docs.loc[
            (docs["lang"] == "python") & docs["path"].str.startswith("src/"),
        ].index
    )
    # oracle doc ids are positional build order — recompute via the
    # oracle's own filtered search at k = corpus size
    exp_filtered = len(
        oracle.search(
            "get",
            k=SPEC.n_docs,
            doc_filter=lambda d: (d["lang"] == "python")
            & d["path"].str.startswith("src/"),
        )
    )
    assert engine.count("get", filters=f) == exp_filtered < exp_get


def test_search_after_paging(engine):
    """IndexSearcher.searchAfter contract: walking pages through the
    (score, doc_id) anchor concatenates to EXACTLY the flat top-k —
    no duplicate, no gap — including page boundaries that land inside
    equal-score tie groups (the strict equality arm of the anchor
    predicate); past-the-end anchors return empty pages."""
    q = "get"
    total = engine.count(q)
    assert total >= 30, "fixture must have a deep 'get' ranking"
    full = [
        (r["doc_id"], r["score"])
        for r in engine.search(q, k=total).collect()
    ]
    assert len(full) == total

    walked, anchor = [], None
    for _ in range(3):
        page = (
            engine.search(q, k=10)
            if anchor is None
            else engine.search_after(q, anchor, k=10)
        )
        rows = [(r["doc_id"], r["score"]) for r in page.collect()]
        assert len(rows) == 10
        walked += rows
        anchor = (rows[-1][1], rows[-1][0])
    assert walked == full[:30]

    # anchor inside a tie group: re-page from rank 15 regardless of
    # whether 15/16 tie — the strict (==score, >doc_id) arm must
    # resume mid-group without skipping or repeating
    a = (full[14][1], full[14][0])
    nxt = [
        (r["doc_id"], r["score"])
        for r in engine.search_after(q, a, k=5).collect()
    ]
    assert nxt == full[15:20]

    # past the end: empty page, not an error
    last = (full[-1][1], full[-1][0])
    assert engine.search_after(q, last, k=10).count() == 0

    # filters compose: page 2 under a filter equals slice of the
    # filtered flat ranking
    f = Filters(lang="python")
    ffull = [
        (r["doc_id"], r["score"])
        for r in engine.search(q, k=total, filters=f).collect()
    ]
    if len(ffull) > 8:
        fa = (ffull[7][1], ffull[7][0])
        fpage = [
            (r["doc_id"], r["score"])
            for r in engine.search_after(q, fa, k=6, filters=f).collect()
        ]
        assert fpage == ffull[8:14]


def test_wand_search_after_equals_exact(engine):
    """Deep paging under block-max pruning: search_wand(after=...)
    must return exactly the exact-path search_after page — pruning
    with θ drawn from the anchor-filtered seed is invisible in
    results — across page depths, including the last partial page."""
    q = "get"
    total = engine.count(q)
    assert total >= 25
    full = [
        (r["doc_id"], r["score"])
        for r in engine.search(q, k=total).collect()
    ]
    for start in (10, 20, total - 5):
        anchor = (full[start - 1][1], full[start - 1][0])
        exact = [
            (r["doc_id"], r["score"])
            for r in engine.search_after(q, anchor, k=10).collect()
        ]
        wand = [
            (r["doc_id"], r["score"])
            for r in engine.search_wand(q, k=10, after=anchor).collect()
        ]
        assert [d for d, _ in wand] == [d for d, _ in exact], start
        for (_, sw), (_, se) in zip(wand, exact):
            assert sw == pytest.approx(se, rel=1e-12)
    # past the end
    last = (full[-1][1], full[-1][0])
    assert engine.search_wand(q, k=10, after=last).count() == 0
